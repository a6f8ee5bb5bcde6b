package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Named batch queries at sf0.1 through the noop sink, a cold pass (empty
  * artifact root) then warm passes: the dedup family (Dedup, Similarity
  * and Curation modules) and the SQL surface's scalar panels. */
object Batch {

  /** query -> module. Each has a DuckDB oracle. The set fits a run: the
    * family's full 85 queries take minutes per pass on 4 cores. The x6w
    * window publishes its suffix ranks (ArtifactStore), so the cold pass
    * pays their build and the warm pass reads them back.
    * q_sql_scalar_panels registers the views (`SqlSurface.createViews`)
    * and runs the five scalar panels as one `spark.sql` statement. */
  val Queries: Seq[(String, String)] = Seq(
    "q_x1_dedup_exact" -> "dedup",
    "q_x6w_suffix_window" -> "dedup",
    "q_c24_cross_source_dups" -> "curation",
    "q_y3_embed_neardup" -> "similarity",
    "q_sql_scalar_panels" -> "sqlsurface")

  /** Planning time of every query the session finishes, summed. */
  final class Planning extends QueryExecutionListener {
    val ms = new AtomicLong()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      ms.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Query `q`'s answer written as parquet under `results/<label>/`, with
    * its oracle SQL beside it, for `run.py`'s DuckDB check. */
  private def writeResult(spark: SparkSession, o: Opts, q: String, label: String): Unit = {
    val dir = o.work.resolve("results").resolve(label)
    SparkEntry.queries(q)(spark, o.data).write.parquet(dir.resolve(q).toString)
    Files.write(dir.resolve(s"$q.sql"), SparkEntry.oracleSql(q).getBytes("UTF-8"))
  }

  private def noop(spark: SparkSession, o: Opts, q: String): Unit =
    SparkEntry.queries(q)(spark, o.data).write.mode("overwrite").format("noop").save()

  def run(o: Opts, tracer: Tracer): Result = {
    val artifactRoot = Paths.get(sys.env("GRAFT_ARTIFACT_DIR"))
    def artifactFiles = if (!Files.isDirectory(artifactRoot)) Seq.empty
      else Files.walk(artifactRoot).iterator.asScala.toSeq.filter(_ != artifactRoot)
    // Untimed, on the first set-up's session: the cold answers for the
    // oracle check (every query on the empty artifact root), then one more
    // pass that warms the JVM (JIT, generated-code caches), so the timed
    // cold pass measures an empty artifact root and a new session, not a
    // cold JVM. The timed passes then start over on a new session and an
    // emptied root. Every query clears the session's cache after it, here
    // as in the timed passes.
    val (spark, setupS) = Harness.setup(o, tracer, first = { s =>
      for (cold <- Seq(true, false); (q, _) <- Queries) {
        if (cold) writeResult(s, o, q, "cold") else noop(s, o, q)
        s.catalog.clearCache()
      }
      artifactFiles.sortBy(-_.getNameCount).foreach(Files.delete)
    })
    val exec = new ExecStats
    spark.sparkContext.addSparkListener(exec)
    val planning = new Planning
    if (o.trace) spark.listenerManager.register(planning)

    final case class Timed(pass: Int, cold: Boolean, query: String, s: Double,
        error: Option[String], planMs: Long)
    val timed = Seq.newBuilder[Timed]
    final case class Pass(wallS: Double, cpuS: Double)
    def runPass(pass: Int, cold: Boolean): Pass = {
      val t0 = System.nanoTime()
      val cpu0 = Harness.cpuSeconds()
      spark.sparkContext.setLocalProperty(ExecStats.PassKey,
        if (cold) "cold" else if (pass == 1) "warm-up" else "warm")
      val order = Harness.shuffled(Queries.map(_._1), o.seed * 1009 + pass)
      order.foreach { q =>
        val p0 = planning.ms.get
        val t = System.nanoTime()
        val err = try {
          tracer.span(s"query:$q", s"pass$pass") {
            if (pass == 1) writeResult(spark, o, q, "warm") else noop(spark, o, q)
          }
          None
        } catch { case e: Exception => Some(e.toString) }
        spark.catalog.clearCache()
        timed += Timed(pass, cold, q, Harness.secondsSince(t), err,
          planning.ms.get - p0)
      }
      spark.sparkContext.setLocalProperty(ExecStats.PassKey, null)
      Pass(Harness.secondsSince(t0), Harness.cpuSeconds() - cpu0)
    }

    val execAtStart = exec.snapshot()
    val begin = System.nanoTime()
    // One cold pass on the empty artifact root; one warm pass left out of
    // the figures, which writes the warm answers (the first warm pass of a
    // session ran 10-30 % slower than the next ones); then a fixed number
    // of warm passes, one per 3 s of the run and at least three, so every
    // run's median is taken over the same passes.
    val cold = runPass(0, cold = true)
    runPass(1, cold = false)
    val measured = (2 to 1 + (o.seconds / 3).max(3)).map(runPass(_, cold = false))
    val wall = Harness.secondsSince(begin)
    val coldS = cold.wallS
    val warmS = Stats.median(measured.map(_.wallS))
    val warmCpuS = Stats.median(measured.map(_.cpuS))
    val runs = timed.result()
    val errors = runs.count(_.error.isDefined)

    val artifactDirs = artifactFiles.count(_.getParent == artifactRoot)
    val artifactBytes = artifactFiles.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
    val heapMb = Harness.liveHeapMb()
    // stopping the context drains its listener bus: every task has been
    // counted in `exec` from here on
    Harness.stop(spark)

    val warm = runs.filter(_.pass > 1)
    val nWarm = measured.size.toDouble
    // queries per second of task time in the warm passes: the work the
    // engine spends on a query, where `latency_ms` is the wall time
    val perTaskS = warm.size / (exec.taskMsOf("warm") / 1000.0).max(1e-3)
    def moduleWall(m: String) = warm.filter(r => Queries.toMap.apply(r.query) == m).map(_.s).sum / nWarm
    val warmSpans = tracer.all.filter(s => s.name.startsWith("query:") &&
      warm.exists(r => s.request == s"pass${r.pass}"))
    val execLayer = if (!o.trace) Map.empty[String, Double] else {
      val groups = warmSpans.map(s => exec.group(s.id))
      Map("batch.shuffle_bytes" -> groups.map(_.shuffleWriteBytes.get).sum / nWarm,
        "batch.tasks" -> groups.map(_.tasks.get).sum / nWarm) ++
        exec.layer(execAtStart, wall * 1000, o.cores)
    }
    val planMs = warm.map(_.planMs).sum / nWarm
    val e2e = Map("setup_s" -> setupS, "latency_ms" -> warmS * 1000,
      "tail_ms" -> coldS * 1000, "cpu_s" -> warmCpuS, "heap_live_mb" -> heapMb)
    val layer = Map(
      "batch.cold_s" -> coldS, "batch.warm_s" -> warmS,
      "batch.failed_frac" -> errors.toDouble / runs.size,
      "batch.queries_per_task_s" -> perTaskS,
      "batch.planning_ms" -> planMs,
      "batch.exec_ms" -> (warmS * 1000 - planMs),
      "dedup.wall_s" -> moduleWall("dedup"),
      "similarity.wall_s" -> moduleWall("similarity"),
      "curation.wall_s" -> moduleWall("curation"),
      "sqlsurface.wall_s" -> moduleWall("sqlsurface"),
      "artifact.builds" -> artifactDirs.toDouble,
      "artifact.bytes" -> artifactBytes.toDouble) ++ execLayer
    val perQuery = Queries.map { case (q, _) =>
      def med(rs: Seq[Timed]) = Stats.median(rs.filter(_.query == q).map(_.s))
      f"$q cold ${med(runs.filter(_.cold))}%.2f s, warm ${med(warm)}%.2f s"
    }
    val notes = runs.filter(_.error.isDefined).map(r => s"${r.query} failed: ${r.error.get}") ++
      perQuery ++
      Seq(f"batch_cold_s $coldS%.3f s", f"batch_warm_s $warmS%.3f s",
        f"batch_queries_per_task_s $perTaskS%.3f",
        (cold +: measured).map(p => f"${p.wallS}%.2f/${p.cpuS}%.2f")
          .mkString("cold and measured warm passes (wall/cpu s): ", " ", ""),
        s"batch_failed_frac $errors/${runs.size} (oracle check follows)")
    Result(runs.size.toLong, errors.toLong, e2e, layer, notes)
  }
}
