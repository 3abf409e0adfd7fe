package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.Session
import graft.operators.Geo
import graft.streaming.{Ingest, Monitor, Tws}

/** The reference's own job: one file source read by two queries, the
  * region envelope into the Kafka-wire sink and the 30 s per-region
  * monitor on the RocksDB store. A staged backlog drains first (a
  * restart from checkpoint), then pre-built files are released on a
  * fixed schedule (open loop). */
final class RegionLive(a: Main.Args) extends Workload {
  val shufflePartitions: Int = Tws.regionStateParallelism(Geo.usaCatalog.size)
  override def session(b: SparkSession.Builder): SparkSession.Builder = Session.withRocksDBStateStore(b)

  private val progress = new Progress
  private val meta = new ObjectMapper().readTree(Paths.get(a.work, "region", "region_live.json").toFile)
  private val backlog = meta.get("backlog").asInt
  private val live = meta.get("live").asInt
  private val intervalMs = meta.get("release_interval_ms").asLong
  private val files = meta.get("files").elements.asScala
    .map(f => (f.get("name").asText, f.get("events").asLong)).toIndexedSeq
  private val cum = files.scanLeft(0L)(_ + _._2)
  private val filesDir = Paths.get(a.work, "region", "files")
  private val warmFiles = 1

  def prepare(spark: SparkSession, res: Result): Unit = {
    spark.streams.addListener(progress)
    // warm-up: both queries read one file in a scratch directory
    val base = Paths.get(a.work, "warm")
    val src = base.resolve("src")
    Files.createDirectories(src)
    (0 until warmFiles).foreach(k => Files.copy(filesDir.resolve(files(k)._1), src.resolve(files(k)._1)))
    val qs = start(spark, base, new ConcurrentLinkedQueue[String], new ConcurrentLinkedQueue[Double])
    while (qs.exists(q => progress.rowsSeen(q.id) < cum(warmFiles) && q.isActive)) Thread.sleep(10L)
    qs.foreach(_.stop())
    Main.mark("streams warmed")
  }

  /** Starts the wire sink and the monitor over `base/src`; returns both. */
  private def start(spark: SparkSession, base: java.nio.file.Path, monRows: ConcurrentLinkedQueue[String],
                    collectMs: ConcurrentLinkedQueue[Double]): Seq[StreamingQuery] = {
    val src = base.resolve("src").toString
    spark.conf.set("spark.sql.streaming.checkpointLocation", base.resolve("ck_mon").toString)
    val wire = Ingest.kafkaWireSink(Ingest.envelope(spark, Ingest.eventsFileStream(spark, src)),
      base.resolve("sink").toString, base.resolve("ck_wire").toString, Trigger.ProcessingTime(0L))
    val mon = Monitor.monitorQuery(spark, Ingest.eventsFileStream(spark, src), (df, id) => {
      val c0 = System.nanoTime()
      df.collect().foreach { row =>
        monRows.add(Json(Map("batch" -> id, "region" -> row.getString(0),
          "w_start_ms" -> (if (row.isNullAt(1)) null else row.getTimestamp(1).getTime),
          "n" -> row.getLong(2), "stalled" -> row.getBoolean(3))))
      }
      collectMs.add((System.nanoTime() - c0) / 1e6)
    })
    Seq(wire, mon)
  }

  /** file name -> id of the micro-batch that read it. The file source's
    * log names each file's source offset; the query's offset log names
    * the source offset each batch ended at (a no-data batch repeats it). */
  private def fileBatches(ckpt: java.nio.file.Path): Map[String, Long] = {
    def entries(dir: java.nio.file.Path): Seq[(String, Seq[String])] =
      if (!Files.exists(dir)) Seq.empty
      else Files.list(dir).iterator.asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq
        .map(n => n -> Files.readAllLines(dir.resolve(n)).asScala.toSeq)
    val filePat = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r
    val fileOffset = entries(ckpt.resolve("sources").resolve("0")).flatMap(_._2)
      .flatMap(l => filePat.findFirstMatchIn(l)).map(m => m.group(1).split('/').last -> m.group(2).toLong)
    val offsetPat = "\"logOffset\":(\\d+)".r
    val batchOffset = entries(ckpt.resolve("offsets")).filter(_._1.forall(_.isDigit))
      .flatMap { case (n, ls) => ls.flatMap(l => offsetPat.findFirstMatchIn(l)).headOption
        .map(m => n.toLong -> m.group(1).toLong) }.sortBy(_._1)
    fileOffset.flatMap { case (f, o) => batchOffset.find(_._2 >= o).map(b => f -> b._1) }.toMap
  }

  /** The progress record of each batch that ran. */
  private def ran(q: StreamingQuery): Map[Long, StreamingQueryProgress] =
    progress.of(q.id).filter(_.durationMs.containsKey("addBatch"))
      .groupBy(_.batchId).map { case (b, ps) => b -> ps.maxBy(Progress.dur(_, "triggerExecution")) }

  def round(spark: SparkSession, res: Result, r: Int, traced: Boolean): Unit = {
    val base = Paths.get(a.work, s"rl$r")
    val (src, stage, sink) = (base.resolve("src"), base.resolve("stage"), base.resolve("sink"))
    val (ckWire, ckMon) = (base.resolve("ck_wire"), base.resolve("ck_mon"))
    Seq(src, stage).foreach(Files.createDirectories(_))
    val mtime0 = System.currentTimeMillis() - 3600000L
    files.zipWithIndex.foreach { case ((name, _), k) =>
      val to = (if (k < backlog) src else stage).resolve(name)
      Files.copy(filesDir.resolve(name), to)
      Files.setLastModifiedTime(to, FileTime.fromMillis(mtime0 + 10L * k))
    }
    val monRows = new ConcurrentLinkedQueue[String]
    val collectMs = new ConcurrentLinkedQueue[Double]
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())

    res.startTiming()
    val t0 = System.currentTimeMillis()
    val queries = start(spark, base, monRows, collectMs)
    val Seq(wire, mon) = queries
    def consumed(q: StreamingQuery): Int = cum.lastIndexWhere(_ <= progress.rowsSeen(q.id))
    def waitFor(rows: Long, deadline: Long): Unit =
      while (queries.exists(q => progress.rowsSeen(q.id) < rows && q.isActive) &&
             System.currentTimeMillis() < deadline) Thread.sleep(2L)

    waitFor(cum(backlog), t0 + 90000L)
    val liveStart = System.currentTimeMillis() + 100L
    val sched = (0 until live).map(k => liveStart + k * intervalMs)
    var lateMax = 0L; var backlogMax = 0
    sched.zipWithIndex.foreach { case (s, k) =>
      Fs.sleepUntil(s)
      val name = files(backlog + k)._1
      Files.move(stage.resolve(name), src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      lateMax = math.max(lateMax, System.currentTimeMillis() - s)
      backlogMax = math.max(backlogMax, backlog + k + 1 - consumed(wire))
    }
    waitFor(cum.last, sched.last + 60000L)
    queries.foreach(_.stop())
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

    val wireBatch = fileBatches(ckWire)
    val monRoot = Files.list(ckMon).iterator.asScala.toSeq.head
    val monBatch = fileBatches(monRoot)
    val (wireRan, monRan) = (ran(wire), ran(mon))
    def endOf(ran: Map[Long, StreamingQueryProgress], fb: Map[String, Long], k: Int): Option[Long] =
      fb.get(files(k)._1).flatMap(ran.get).map(Progress.endMs)
    files.indices.foreach { k =>
      res.op(endOf(wireRan, wireBatch, k).isDefined, "file.wire")
      res.op(endOf(monRan, monBatch, k).isDefined, "file.monitor")
    }
    res.count("batch.wire", wireRan.size.toLong)
    res.count("batch.monitor", monRan.size.toLong)

    val catchEnd = Seq(endOf(wireRan, wireBatch, backlog - 1), endOf(monRan, monBatch, backlog - 1)).flatten
    val catchS = if (catchEnd.size == 2) (catchEnd.max - t0) / 1000.0 else Double.NaN
    def lags(ran: Map[Long, StreamingQueryProgress], fb: Map[String, Long]) =
      sched.indices.flatMap(k => endOf(ran, fb, backlog + k).map(e => (e - sched(k)).toDouble))
    val (wl, ml) = (lags(wireRan, wireBatch), lags(monRan, monBatch))
    val p = s"r$r."
    res.put(p + "ingest.catchup_events_per_s", cum(backlog) / catchS)
    res.put(p + "ingest.lag_p50_ms", Stats.median(wl))
    res.put(p + "ingest.lag_p90_ms", Stats.pct(wl, 0.9))
    res.put(p + "monitor.lag_p50_ms", Stats.median(ml))
    res.put(p + "gen.late_ms_max", lateMax.toDouble)
    res.put(p + "gen.backlog_files_max", backlogMax.toDouble)
    res.put(p + "monitor.rows_dropped_by_watermark",
      monRan.values.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble)
    res.mainTime(r, traced, catchS)

    val dumps = base.resolve("check")
    Files.createDirectories(dumps)
    Files.write(dumps.resolve("monitor_rows.jsonl"), monRows.asScala.toSeq.asJava)
    Files.writeString(dumps.resolve("monitor_files.json"),
      Json(monBatch.map { case (f, b) => f -> b }))
    res.info(s"r$r.sink", sink.toString)
    res.info(s"r$r.check", dumps.toString)

    tracer.foreach { t =>
      t.detach()
      layers(spark, res, r, t, wire, mon, wireRan, monRan, wireBatch, monBatch, sink.toString,
        collectMs.asScala.toSeq)
    }
  }

  private def layers(spark: SparkSession, res: Result, r: Int, t: Tracer,
                     wire: StreamingQuery, mon: StreamingQuery,
                     wireRan: Map[Long, StreamingQueryProgress], monRan: Map[Long, StreamingQueryProgress],
                     wireBatch: Map[String, Long], monBatch: Map[String, Long],
                     sink: String, collectMs: Seq[Double]): Unit = {
    val p = s"r$r."
    val wData = wireRan.values.filter(_.numInputRows > 0).toSeq
    val mData = monRan.values.filter(_.numInputRows > 0).toSeq
    def med(ps: Seq[StreamingQueryProgress], k: String) = Stats.median(ps.map(Progress.dur(_, k).toDouble))
    def work(q: StreamingQuery, b: Long) = t.work.get(s"stream:${q.id}:$b")
    res.put(p + "ingest.batches", wireRan.size.toDouble)
    res.put(p + "ingest.rows_in", wireRan.values.map(_.numInputRows).sum.toDouble)
    res.put(p + "ingest.rows_out", spark.read.parquet(sink).count().toDouble)
    Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch", "queryPlanning" -> "planning",
      "addBatch" -> "add_batch", "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
      .foreach { case (k, n) => res.put(p + s"ingest.${n}_ms", med(wData, k)) }
    val (bytes, nFiles) = Fs.sizeAndCount(sink, rel => rel.startsWith("_spark_metadata") || rel.endsWith(".crc"))
    res.put(p + "ingest.sink_files", nFiles.toDouble)
    res.put(p + "ingest.sink_bytes", bytes.toDouble)
    res.put(p + "ingest.jobs_per_batch", Stats.median(wData.map(b => work(wire, b.batchId).jobs.toDouble)))
    res.put(p + "ingest.tasks_per_batch", Stats.median(wData.map(b => work(wire, b.batchId).tasks.toDouble)))
    res.put(p + "ingest.executor_cpu_ms", Stats.median(wData.map(b => work(wire, b.batchId).cpuNs / 1e6)))
    Seq("addBatch" -> "add_batch", "queryPlanning" -> "planning", "walCommit" -> "wal_commit",
      "commitOffsets" -> "commit_offsets")
      .foreach { case (k, n) => res.put(p + s"monitor.${n}_ms", med(mData, k)) }
    val st = mData.sortBy(_.batchId).flatMap(_.stateOperators.headOption)
    res.put(p + "monitor.state_commit_ms", Stats.median(st.map(_.commitTimeMs.toDouble)))
    res.put(p + "monitor.state_rows", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
    res.put(p + "monitor.state_bytes", st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
    res.put(p + "monitor.state_stores", st.lastOption.map(_.numStateStoreInstances.toDouble).getOrElse(0.0))
    res.put(p + "monitor.shuffle_write_bytes",
      Stats.median(mData.map(b => work(mon, b.batchId).shuffleWrite.toDouble)))
    res.put(p + "monitor.collect_ms", Stats.median(collectMs))
    // one key per input file, so both traced rounds name the same batch
    files.indices.foreach { k =>
      Seq("wire" -> (wire, wireBatch), "monitor" -> (mon, monBatch)).foreach { case (n, (q, fb)) =>
        fb.get(files(k)._1).foreach { b =>
          val w = work(q, b)
          res.repeat(r, s"$n.file$k.jobs", w.jobs)
          res.repeat(r, s"$n.file$k.stages", w.stages)
          res.repeat(r, s"$n.file$k.tasks", w.tasks)
        }
      }
    }
  }

  override def finish(spark: SparkSession, res: Result): Unit = if (a.trace) {
    // the Geo layer alone: region assignment and the envelope as one
    // batch call over the run's whole input
    val events = spark.read.parquet(filesDir.toString)
    val n = events.count()
    val ns = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      Ingest.envelope(spark, events).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0).toDouble
    }
    res.put("geo.assign_ns_per_event", Stats.median(ns) / n)
  }
}
