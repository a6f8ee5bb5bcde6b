package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import graft.Graft
import org.apache.spark.sql.SparkSession

/** Command-line options of one run. `work` is the run's private scratch
  * directory and `data` the generated batch tables. */
final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, data: String, cores: Int)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), need("data"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }
}

/** What a workload hands back: how many operations it attempted and how
  * many failed a check, the end-to-end metrics, the per-layer metrics,
  * and human-readable lines printed ahead of the result. */
final case class Result(attempted: Long, failed: Long,
    e2e: Map[String, Double], layer: Map[String, Double], notes: Seq[String])

object Harness {

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** A session the way a user gets one, `Graft.session` + `Graft.open`,
    * with a first query run on it. */
  def open(o: Opts, tracer: Tracer, request: String): SparkSession = {
    val spark = Graft.session(cores = o.cores)
    spark.sparkContext.setLogLevel("WARN")
    tracer.span("Graft.open", request) {
      Graft.open(spark, o.data)
      spark.sql("SELECT count(*) FROM events_v").collect()
    }
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Open a session three times, stopping the first two; returns the last
    * with the median set-up time. `first` runs untimed on the first
    * session before it is stopped. */
  def setup(o: Opts, tracer: Tracer,
      first: SparkSession => Unit = _ => ()): (SparkSession, Double) = {
    val timed = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val spark = open(o, tracer, s"setup$i")
      val t = secondsSince(t0)
      if (i == 1) first(spark)
      if (i < 3) stop(spark)
      spark -> t
    }
    val times = timed.map(_._2)
    println(times.map(t => f"$t%.2f").mkString("  setup s: ", " ", ""))
    (timed.last._1, Stats.median(times))
  }

  /** Live heap in MB: heap occupancy right after a full collection. The
    * first collection lets Spark's context cleaner drop blocks of RDDs and
    * broadcasts nothing references any more; the second frees them. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** CPU time this JVM has used on all its threads, in seconds. Time the
    * host withholds from the VM (steal) is not in it, wall time is. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** A seeded permutation of `xs`. */
  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)

  /** The run's raw figures as one JSON object; `run.py` picks the metrics
    * BENCHMARK.json names out of it. */
  def json(r: Result): String = {
    def num(v: Double) =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    def obj(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""e2e": ${obj(r.e2e)}, "layer": ${obj(r.layer)}}"""
  }
}
