package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One closed-loop client runs a fixed mix of oracle-checked faces, one
  * per operator family, pass after pass. Every execution's output is
  * written for the DuckDB comparison. */
final class BatchMix(a: Main.Args) extends Workload {
  val shufflePartitions: Int = a.cpus

  /** face -> family; per family the face with the largest sf0.1 time in
    * BENCH_r20.json (see README.md). */
  val faces: Seq[(String, String)] = Seq(
    "q45_sql_tpch5" -> "relational", "q19_geo_assign" -> "geo", "q20_envelope" -> "geo",
    "q80_funnel" -> "windows", "q87_fuzzy_join" -> "dedup", "q112_semdedup_hier" -> "similarity",
    "q128_compacted_dashboard" -> "sketches", "q109_pagerank_stable" -> "graph",
    "q101_tfidf_retrieval" -> "text", "q118_bpe_encode" -> "training_data",
    "q144_snap_cdf_pre" -> "snap_read")
  private val families = faces.map(_._2).distinct
  private val data = Paths.get(a.work, "data").toString
  /** q109 reads a graph that does not depend on the seed (gen.GRAPH_SEED):
    * it refuses some generated graphs, and a failure must count alike in
    * every run. */
  private def dataOf(face: String): String =
    if (face == "q109_pagerank_stable") Paths.get(a.work, "graph").toString else data
  private val out = Paths.get(a.work, "bm")
  private lazy val builders = SparkEntry.queries

  /** The faces whose first call builds the table lifecycle they read. */
  private val lifecycleFaces = Set("q128_compacted_dashboard", "q144_snap_cdf_pre")

  /** One pass over `names`; returns (face, seconds) and its wall span.
    * Set-up's pass ("warm") is not counted among the operations. */
  private def pass(spark: SparkSession, res: Result, id: String,
                   names: Seq[String] = faces.map(_._1)): (Seq[(String, Double)], Long, Long) = {
    val sc = spark.sparkContext
    val p0 = System.currentTimeMillis()
    val times = names.map { name =>
      sc.setLocalProperty(SparkWork.OpKey, s"face:$id:$name")
      val t0 = System.nanoTime()
      val ok = try {
        builders(name)(spark, dataOf(name)).write.parquet(out.resolve(id).resolve(name).toString); true
      } catch { case e: Exception =>
        System.err.println(s"face $name failed in pass $id: $e"); false }
      sc.setLocalProperty(SparkWork.OpKey, null)
      if (id != "warm") res.op(ok, "face")
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"pass $id: $name%s $secs%.3f s")
      name -> secs
    }
    res.count("pass", 1)
    (times, p0, System.currentTimeMillis())
  }

  def prepare(spark: SparkSession, res: Result): Unit = {
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"), Json(faces.map { case (n, _) =>
      n -> Map("sql" -> SparkEntry.oracleSql(n), "data" -> dataOf(n)) }.toMap))
    // set-up builds the snap and published tables the lifecycle faces read
    pass(spark, res, "warm", faces.map(_._1).filter(lifecycleFaces))
  }

  /** The first pass of a JVM runs most faces cold, so a traced run
    * spends it as warm-up; traced, untraced, traced follow, which gives
    * both kinds the same mean position. */
  override def tracedRounds: Seq[Boolean] = Seq(false, true, false, true)

  def round(spark: SparkSession, res: Result, r: Int, traced: Boolean): Unit = {
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    res.startTiming()
    val tEnd = System.currentTimeMillis() + a.seconds * 1000L
    val passes = mutable.ArrayBuffer.empty[(Seq[(String, Double)], Long, Long)]
    var i = 0
    while (passes.isEmpty || (!traced && System.currentTimeMillis() < tEnd)) {
      passes += pass(spark, res, s"r${r}p$i"); i += 1
    }
    val p = s"r$r."
    val walls = passes.map { case (_, p0, p1) => (p1 - p0) / 1000.0 }.toSeq
    val faceTimes = passes.flatMap(_._1).map(_._2 * 1000.0).toSeq
    val perFace = passes.flatMap(_._1).groupBy(_._1).map { case (_, ts) => Stats.median(ts.map(_._2 * 1000.0).toSeq) }
    res.put(p + "batch.pass_s", Stats.median(walls))
    res.put(p + "batch.query_geomean_ms", Stats.geomean(perFace.toSeq))
    res.put(p + "batch.faces_per_s", faceTimes.size / walls.sum)
    if (!(a.trace && r == 0)) res.mainTime(r, traced, Stats.median(walls))
    res.info(s"r$r.passes", Json(passes.indices.map(j => s"r${r}p$j")))

    tracer.foreach { t =>
      t.detach()
      val (times, p0, p1) = passes.head
      families.foreach { f =>
        res.put(p + s"batch.${f}_s", times.filter(x => faces.toMap.apply(x._1) == f).map(_._2).sum)
      }
      val works = faces.map { case (n, _) => t.work.get(s"face:r${r}p0:$n") }
      faces.zip(works).foreach { case ((n, _), w) =>
        res.repeat(r, s"$n.jobs", w.jobs); res.repeat(r, s"$n.stages", w.stages)
        res.repeat(r, s"$n.tasks", w.tasks)
      }
      val ph = t.phases(spark).within(p0, p1)
      def sum(f: Work => Long) = works.map(f).sum.toDouble
      Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
        "analysis_ms" -> ph.map(_.analysisMs).sum.toDouble,
        "optimization_ms" -> ph.map(_.optimizationMs).sum.toDouble,
        "planning_ms" -> ph.map(_.planningMs).sum.toDouble,
        "executor_run_ms" -> sum(_.runMs), "executor_cpu_ms" -> sum(_.cpuNs) / 1e6,
        "gc_ms" -> sum(_.gcMs), "shuffle_read_bytes" -> sum(_.shuffleRead),
        "shuffle_write_bytes" -> sum(_.shuffleWrite), "spill_bytes" -> sum(_.spill),
        "input_bytes" -> sum(_.inputBytes), "files_read" -> ph.map(_.filesRead).sum.toDouble)
        .foreach { case (k, v) => res.put(p + s"batch.$k", v) }
    }
  }
}
