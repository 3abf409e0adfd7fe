package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Snap
import graft.streaming.SnapFollow

/** One closed-loop writer commits seeded `Snap.merge` deltas to a snap
  * table while `SnapFollow.follow` tails its changelog into a second
  * table, on a session of its own. */
final class SnapUpsert(a: Main.Args) extends Workload {
  val shufflePartitions: Int = a.cpus

  private val dir = Paths.get(a.work, "snap")
  private val meta = new ObjectMapper().readTree(dir.resolve("snap_upsert.json").toFile)
  private val nDeltas = meta.get("deltas").asInt
  private val warmup = meta.get("warmup").asInt
  private val roundLen = meta.get("round").asInt
  private val buckets = meta.get("buckets").asInt
  private val deltaRows = meta.get("delta_rows").asLong
  private val kinds = meta.get("kinds").elements.asScala.map(_.asText).toIndexedSeq
  private val progress = new Progress
  private var follower: SparkSession = _

  private def delta(k: Int): String = dir.resolve("deltas").resolve(f"d$k%05d.parquet").toString

  def prepare(spark: SparkSession, res: Result): Unit = {
    follower = spark.newSession()
    follower.streams.addListener(progress)
  }

  /** dst version -> (manifest landing time, source version applied). */
  private def landed(spark: SparkSession, dst: HPath): Seq[(Int, Long, Long)] =
    Files.list(Paths.get(dst.toUri)).iterator.asScala
      .map(_.getFileName.toString).filter(_.matches("manifest-v\\d+")).toSeq
      .map { name =>
        val v = name.stripPrefix("manifest-v").toInt
        (v, Files.getLastModifiedTime(Paths.get(dst.toUri).resolve(name)).toMillis,
          Snap.atVersion(spark, dst, v).applied)
      }.sortBy(_._1)

  def round(spark: SparkSession, res: Result, r: Int, traced: Boolean): Unit = {
    val base = Paths.get(a.work, s"su$r")
    val (src, dst) = (new HPath(base.resolve("src").toUri), new HPath(base.resolve("dst").toUri))
    val sc = spark.sparkContext
    Snap.create(spark, src, spark.read.parquet(dir.resolve("base.parquet").toString),
      Seq("o_orderkey"), "o_orderkey", buckets, layout = "range", tag = "perfbench")
    val baseVersion = Snap.head(spark, src).get.version
    Main.mark("source table created")
    val fq = SnapFollow.follow(follower, src.toString, dst.toString,
      base.resolve("ck_follow").toString, trigger = Trigger.ProcessingTime(100L))
    Main.mark("follower started")
    (0 until warmup).foreach(k => Snap.merge(spark, src, spark.read.parquet(delta(k))))
    Main.mark("warm-up commits done")
    val tracer = if (traced) Some(new Tracer(spark, Seq(follower))) else None
    tracer.foreach(_.attach())

    res.startTiming()
    val tEnd = System.currentTimeMillis() + a.seconds * 1000L
    val commits = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]   // delta, version, t0, t1
    var k = warmup
    // whole rounds of the delta pattern until the time is up
    while (k + roundLen <= nDeltas && ((k - warmup) % roundLen != 0 || System.currentTimeMillis() < tEnd)) {
      val d = spark.read.parquet(delta(k))
      sc.setLocalProperty(SparkWork.OpKey, s"commit:$k")
      val t0 = System.currentTimeMillis()
      val v = try Snap.merge(spark, src, d) catch { case e: Exception =>
        System.err.println(s"commit of delta $k failed: $e"); -1 }
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(SparkWork.OpKey, null)
      res.op(v == baseVersion + k + 1, "commit")
      System.err.println(s"commit $k (${kinds(k)}): ${t1 - t0} ms")
      commits += ((k, v, t0, t1))
      k += 1
    }
    val head = Snap.head(spark, src).get.version
    val deadline = System.currentTimeMillis() + 60000L
    def cursorNow = Snap.head(follower, dst).map(_.applied).getOrElse(-1L)
    while (cursorNow < head && fq.isActive && System.currentTimeMillis() < deadline) Thread.sleep(20L)
    val cursor = cursorNow
    fq.stop()
    org.apache.spark.GraftBenchBus.drain(sc)

    val dstLanded = landed(spark, dst)
    val follow = commits.filter(_._2 > 0).map { case (_, v, _, t1) =>
      dstLanded.find(_._3 >= v).map(_._2 - t1)
    }
    follow.foreach(l => res.op(l.isDefined, "follow.version"))
    val walls = commits.map { case (_, _, t0, t1) => (t1 - t0).toDouble }.toSeq
    val p = s"r$r."
    res.put(p + "snap.commit_p50_ms", Stats.median(walls))
    res.put(p + "snap.commit_p90_ms", Stats.pct(walls, 0.9))
    res.put(p + "snap.follow_lag_p50_ms", Stats.median(follow.flatten.map(_.toDouble).toSeq))
    res.put(p + "snap.delta_rows_per_s", deltaRows * walls.size / (walls.sum / 1000.0))
    res.mainTime(r, traced, Stats.median(walls) / 1000.0)

    // what the checks fold against: the head, two earlier versions, and
    // the follower's destination; the traced rounds repeat round 0's
    // operations and are not checked again
    if (r == 0) dump(spark, res, base, src, dst, baseVersion, head, warmup + commits.size, cursor)
    tracer.foreach { t =>
      t.detach()
      layers(spark, res, r, t, commits.toSeq, src, dst, fq.id, dstLanded)
    }
  }

  private def dump(spark: SparkSession, res: Result, base: java.nio.file.Path, src: HPath, dst: HPath,
                   baseVersion: Int, head: Int, commits: Int, cursor: Long): Unit = {
    val out = base.resolve("check")
    val sampled = Seq(head / 3, (2 * head) / 3).map(math.max(_, baseVersion)).distinct
    Snap.read(spark, src).write.parquet(out.resolve("head").toString)
    sampled.foreach(v => Snap.read(spark, src, Some(v)).write.parquet(out.resolve(s"v$v").toString))
    Snap.read(spark, dst).write.parquet(out.resolve("follow").toString)
    res.info("r0.check", Json(Map("dir" -> out.toString, "base_version" -> baseVersion,
      "head_version" -> head, "commits" -> commits, "follow_cursor" -> cursor, "sampled" -> sampled)))
  }

  private def layers(spark: SparkSession, res: Result, r: Int, t: Tracer,
                     commits: Seq[(Int, Int, Long, Long)], src: HPath, dst: HPath,
                     followId: java.util.UUID, dstLanded: Seq[(Int, Long, Long)]): Unit = {
    val p = s"r$r."
    val per = commits.map { case (k, _, t0, t1) =>
      val w = t.work.get(s"commit:$k")
      val ph = t.phases(spark).within(t0, t1)
      res.repeat(r, s"commit$k.jobs", w.jobs)
      res.repeat(r, s"commit$k.stages", w.stages)
      res.repeat(r, s"commit$k.tasks", w.tasks)
      val jobMs = Spans.covered(w.jobSpans.toSeq, t0, t1).toDouble
      Map("jobs" -> w.jobs.toDouble, "stages" -> w.stages.toDouble, "tasks" -> w.tasks.toDouble,
        "analysis_ms" -> ph.map(_.analysisMs).sum.toDouble,
        "optimization_ms" -> ph.map(_.optimizationMs).sum.toDouble,
        "planning_ms" -> ph.map(_.planningMs).sum.toDouble,
        "job_ms" -> jobMs, "driver_only_ms" -> ((t1 - t0) - jobMs),
        "executor_run_ms" -> w.runMs.toDouble, "executor_cpu_ms" -> w.cpuNs / 1e6,
        "gc_ms" -> w.gcMs.toDouble, "shuffle_bytes" -> w.shuffleWrite.toDouble,
        "bytes_written" -> w.outputBytes.toDouble,
        "files_written" -> ph.map(_.filesWritten).sum.toDouble)
    }
    per.headOption.foreach(_.keys.foreach { k =>
      res.put(p + s"snap.${k}_per_commit", Stats.median(per.map(_(k))))
    })
    res.put(p + "snap.head_ms", Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime(); Snap.head(spark, src); (System.nanoTime() - t0) / 1e6 }))
    val head = Snap.head(spark, src).get
    res.put(p + "snap.table_files", (head.files.size + head.deltas.size).toDouble)
    res.put(p + "snap.manifest_bytes",
      Files.size(Paths.get(src.toUri).resolve(f"manifest-v${head.version}%08d")).toDouble)

    val polls = progress.of(followId).filter(_.durationMs.containsKey("addBatch"))
      .filter(b => t.work.get(s"stream:$followId:${b.batchId}").jobs > 0)
    val applied = dstLanded.map(_._3)
    res.put(p + "follow.batches", polls.size.toDouble)
    res.put(p + "follow.versions_per_batch",
      Stats.median(applied.zip(applied.drop(1)).map { case (x, y) => (y - x).toDouble }))
    res.put(p + "follow.add_batch_ms", Stats.median(polls.map(Progress.dur(_, "addBatch").toDouble)))
    res.put(p + "follow.jobs_per_batch",
      Stats.median(polls.map(b => t.work.get(s"stream:$followId:${b.batchId}").jobs.toDouble)))
    res.put(p + "follow.changes_ms", Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Snap.changes(spark, src, head.version - 1, head.version).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    }))
  }
}
