package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Library facade — the one-stop entry point for a user switching from the
  * reference pipeline.
  *
  * {{{
  * val spark = Graft.session()                  // tuned session
  * Graft.open(spark, "/data/sf")                // views + functions
  * spark.sql("SELECT * FROM events_v LIMIT 5")  // SQL surface
  * Graft.query("q_r1_pricing_summary")(spark, "/data/sf")  // named queries
  * }}}
  *
  * Three query surfaces, matching the reference's (SURVEY §3):
  *  1. the DataFrame operators under `graft.operators.*`,
  *  2. `spark.sql` over the views registered here (+ `vector_dot`),
  *  3. the streaming dataflow in `graft.streaming.StreamingJobs`.
  */
object Graft {

  /** The one session factory: every graft main and the test suite build
    * their session here (only `Smoke` stays bare, as the driver's
    * unconfigured-session check). AQE on, UTC, shuffle parallelism = cores
    * (not the 200 default — at cluster scale set this to 2–3× total
    * executor cores instead); harness-only confs go through `extraConf`. */
  def session(appName: String = "graft", cores: Int =
      Runtime.getRuntime.availableProcessors.min(32),
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Small-shuffle parallelism floor (round-11 Bench/Verify, promoted
      // to the production facade in round-12 per VERDICT r11 #1): AQE's
      // parallelism-first coalescing bottoms out at minPartitionSize
      // (default 1m), which serializes byte-small but CPU-dense stages
      // (measured 3× on q_x12's candidate-verify shuffle). 64k only
      // affects shuffles far below the advisory partition size, so
      // cluster-scale plans with ≫1 MB partitions are untouched.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION", "64k"))
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    b.getOrCreate()
  }

  /** Register the table views (`events_v`, `lineitem_v`, …), the
    * `vector_dot` codegen function, and the streaming state-store config —
    * after this the full SQL surface works on a bare session. */
  def open(spark: SparkSession, dir: String): Unit = {
    operators.SqlSurface.createViews(spark, dir)
    functions.VectorExpressions.ensureRegistered(spark)
    functions.HashExpressions.ensureRegistered(spark)
    streaming.StreamingJobs.configureStateStore(spark)
  }

  /** Named query lookup (driver-contract names, e.g. "q_a1_window_agg_5m"). */
  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries(name)

  /** All query names, sorted — the implemented-operator inventory. */
  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted
}
