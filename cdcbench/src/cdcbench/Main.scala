package cdcbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one timed window.
  *
  * Set-up is the session start, the bootstrap load and a discarded
  * warm-up; then the timed window runs. With `--trace 1`
  * the same loop runs with spans, the job listener and the stage replays,
  * and the per-layer metrics are reported instead of the end-to-end ones.
  */
object Main {

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, result: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("work"), m("result"))
  }

  def loadavg(): String =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    catch { case _: Exception => "n/a" }

  def session(work: String, slots: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$slots]")
      .appName("cdcbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.default.parallelism", slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    // Half the cores as task slots: the driver's planning and commit
    // threads, JIT and GC need the rest. On 4 cores, local[4] ran the same
    // loop 20-40% slower with twice the run-to-run spread.
    val slots = (nproc / 2).max(1)
    val load0 = loadavg()
    val t0 = System.nanoTime()
    val spark = session(args.work, slots)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tap = new JobTap
    if (args.trace) spark.sparkContext.addSparkListener(tap)
    val tracer = new Tracer(args.trace, Some(spark.sparkContext))
    val out = new Run(spark, args, slots, tracer, tap).execute(sessionS)
    val report = out("report").asInstanceOf[Map[String, Any]] ++ Map(
      "nproc" -> nproc, "slots" -> slots, "loadavg_start" -> load0, "loadavg_end" -> loadavg())
    val res = out + ("report" -> report)
    spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(args.result),
      Json.value(res).getBytes("UTF-8"))
  }
}

/** Latency samples and their summary: median and tail (see
  * [[Stats.tailPercentile]]). */
final class Samples {
  val xs = mutable.ArrayBuffer.empty[Double]
  def +=(x: Double): Unit = xs += x
  def n: Int = xs.size
  def p50: Double = Stats.quantile(xs.toSeq, 0.5)
  def tailPct: Int = Stats.tailPercentile(n)
  def tail: Double = Stats.tail(xs.toSeq)
}

object Stats {
  def quantile(v: Seq[Double], q: Double): Double = {
    if (v.isEmpty) return Double.NaN
    val s = v.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(v: Seq[Double]): Double = quantile(v, 0.5)

  /** The tail: the highest whole percentile with at least 10 of the n
    * samples above it. Below 20 samples that percentile would fall under
    * the median, so the tail is the maximum (100) instead. */
  def tailPercentile(n: Int): Int =
    if (n < 20) 100 else ((n - 10) * 100) / n

  def tail(v: Seq[Double]): Double = {
    if (v.isEmpty) return Double.NaN
    val s = v.sorted
    val p = tailPercentile(s.size)
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1)
    s(rank - 1)
  }
}
