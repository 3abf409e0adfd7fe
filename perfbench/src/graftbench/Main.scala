package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Session

/** One workload run in its own JVM. Reads the inputs `gen.py` staged
  * under `--work`, measures, dumps what the checks need, and writes one
  * JSON result to `--out`. run.py drives it; see README.md.
  *
  * Untraced (`--trace 0`): one round, no listeners but the streaming
  * progress one. Traced (`--trace 1`): the workload's `tracedRounds` of
  * the same operations; the first traced round gives the per-layer
  * metrics, the second is compared with it count for count, and the
  * untraced ones price the tracing. */
object Main {
  final case class Args(workload: String, seconds: Int, trace: Boolean,
                        work: String, cpus: Int, out: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toInt, m("trace") == "1", m("work"), m("cpus").toInt, m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl: Workload = a.workload match {
      case "region_live" => new RegionLive(a)
      case "snap_upsert" => new SnapUpsert(a)
      case "batch_mix" => new BatchMix(a)
      case other => sys.error(s"unknown workload $other")
    }
    val spark = wl.session(Session.builderFromEnv(a.cpus, wl.shufflePartitions)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Main.mark("session ready")
    val res = new Result
    try {
      wl.prepare(spark, res)
      val traced = if (a.trace) wl.tracedRounds else Seq(false)
      traced.zipWithIndex.foreach { case (t, r) => wl.round(spark, res, r, t) }
      wl.finish(spark, res)
    } finally spark.stop()
    res.put("peak_rss_mb", peakRssMb())
    res.info("spark_version", spark.version)
    res.info("java_version", System.getProperty("java.version"))
    Files.writeString(Paths.get(a.out), res.json)
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Notes on stderr how far into the JVM's life a step ended. */
  def mark(what: String): Unit =
    System.err.println(f"[${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s] $what")

  /** The JVM's high-water resident set, from the kernel's own account. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** A workload: set-up, rounds, and the dumps its checks read. */
trait Workload {
  def shufflePartitions: Int
  /** Rounds of a traced run, true for traced. Untraced, traced, traced,
    * untraced: the JVM still warms up round by round, and this order
    * gives both kinds the same mean position, so the difference prices
    * the tracing; the two traced rounds are compared count for count. */
  def tracedRounds: Seq[Boolean] = Seq(false, true, true, false)
  def session(b: SparkSession.Builder): SparkSession.Builder = b
  def prepare(spark: SparkSession, res: Result): Unit
  def round(spark: SparkSession, res: Result, r: Int, traced: Boolean): Unit
  def finish(spark: SparkSession, res: Result): Unit = ()
}

/** What a run reports back to run.py. */
final class Result {
  private val values = mutable.LinkedHashMap.empty[String, Any]
  private val infos = mutable.LinkedHashMap.empty[String, Any]
  private val counts = mutable.LinkedHashMap.empty[String, Long]
  private val repeats = mutable.LinkedHashMap.empty[String, Seq[Long]]
  private val mainTimes = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
  var firstOpMs: Long = -1L
  var attempted = 0L
  var failed = 0L

  def startTiming(): Unit = if (firstOpMs < 0) firstOpMs = System.currentTimeMillis()
  def put(k: String, v: Double): Unit = values(k) = v
  def info(k: String, v: Any): Unit = infos(k) = v
  def count(k: String, n: Long): Unit = counts(k) = counts.getOrElse(k, 0L) + n
  def op(ok: Boolean, kind: String): Unit = {
    attempted += 1; count(s"$kind.attempted", 1)
    if (!ok) { failed += 1; count(s"$kind.failed", 1) }
  }
  /** A Spark-work count of one operation in one traced round, for the
    * repeat comparison. */
  def repeat(round: Int, key: String, n: Long): Unit =
    repeats(s"$round|$key") = repeats.getOrElse(s"$round|$key", Seq.empty) :+ n
  /** The time of a round's main loop, for the tracing overhead. */
  def mainTime(round: Int, traced: Boolean, seconds: Double): Unit =
    mainTimes += ((round, traced, seconds))

  def json: String = Json(Map(
    "first_op_ms" -> firstOpMs, "attempted" -> attempted, "failed" -> failed,
    "values" -> values.toMap, "info" -> infos.toMap, "ops" -> counts.toMap,
    "repeats" -> repeats.map { case (k, v) => k -> v }.toMap,
    "main_times" -> mainTimes.map { case (r, t, s) => Map("round" -> r, "traced" -> t, "s" -> s) }.toSeq))
}

/** JSON text through Jackson, which the Spark distribution ships with
  * its Scala module. A NaN or infinite double is written as null. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(finite(v))

  private def finite(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k.toString -> finite(x) }
    case s: Iterable[_] => s.map(finite)
    case other => other
  }
}

object Stats {
  /** Percentile by linear interpolation between closest ranks. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = (s.size - 1) * p
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Fs {
  def sizeAndCount(dir: String, skip: String => Boolean): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try {
      var bytes = 0L; var n = 0L
      s.filter(Files.isRegularFile(_)).forEach { f =>
        val rel = p.relativize(f).toString
        if (!skip(rel)) { bytes += Files.size(f); n += 1 }
      }
      (bytes, n)
    } finally s.close()
  }
  def sleepUntil(ms: Long): Unit = {
    var now = System.currentTimeMillis()
    while (now < ms) { Thread.sleep(math.min(ms - now, 50L)); now = System.currentTimeMillis() }
  }
}
