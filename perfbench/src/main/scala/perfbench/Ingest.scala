package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.Synthetic
import graft.operators.CdcParser
import graft.streaming.StreamingJobs
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

/** Every progress event of every streaming query on the session: the
  * engine's own per-trigger report. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq
}

/** The CDC pipeline under paced load: `fanOut` (K1 raw / K2 window agg /
  * K3 alerts), `detectAnomaliesStream` and `minuteRollupStream`, three
  * queries on one session, each reading the generator's directory. */
object Ingest {
  /** fanOut's default trigger; the other two queries use the same. */
  val TriggerMs = 3000L
  /** The reference pipeline's end-to-end latency objective. */
  val SloMs = 5000.0
  val BaseRate = 200
  /** Unmeasured lead-in at the base rate, after the priming file: three
    * triggers, so the first triggers' slowdown, and any shift of the
    * trigger grid it causes, stays out of the measurement. */
  val WarmMs = 9000L
  val Queries = Seq("fanout", "detector", "rollup")

  /** cdc_ingest's measured steps: three fifths of the run at the base rate
    * (at least 1000 events, enough for a p99), then a geometric ladder of
    * 4x steps. */
  def ladder(seconds: Int): Seq[Step] = {
    val ms = seconds * 1000L
    Seq(Step(BaseRate, ms * 3 / 5), Step(BaseRate * 4, ms / 5), Step(BaseRate * 16, ms / 5))
  }

  private def warmParse(spark: SparkSession): Unit = {
    import spark.implicits._
    val lines = Synthetic.trades(50, 1L).map(t => Synthetic.envelopeJson(t))
    CdcParser.parse(lines.toDF("json"), col("json")).collect()
  }

  /** file name -> micro-batch id, from a file source's checkpoint log. */
  private def batchOfFile(ckpt: Path): Map[String, Long] = {
    val log = ckpt.resolve("sources").resolve("0")
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    Files.list(log).iterator.asScala.toSeq
      .filter(p => !p.getFileName.toString.startsWith("."))
      .flatMap(p => Files.readAllLines(p).asScala)
      .flatMap(l => entry.findFirstMatchIn(l))
      .map(m => m.group(1).split('/').last -> m.group(2).toLong).toMap
  }

  def run(o: Opts, tracer: Tracer): Result = {
    val (spark, setupS) = Harness.setup(o, tracer)
    warmParse(spark)
    val exec = if (o.trace) Some(new ExecStats) else None
    exec.foreach(spark.sparkContext.addSparkListener)
    val progress = new ProgressLog
    spark.streams.addListener(progress)

    val in = Files.createDirectories(o.work.resolve("in"))
    val stage = Files.createDirectories(o.work.resolve("stage"))
    val out = o.work.resolve("out").toString
    def ckpt(q: String) = o.work.resolve("ckpt").resolve(q)

    val alerts = new ConcurrentLinkedQueue[Row]()
    val rollup = new ConcurrentLinkedQueue[(Long, Row)]()
    def collectInto(f: (Long, Row) => Unit)(df: DataFrame, id: Long): Unit =
      df.collect().foreach(f(id, _))
    val trigger = Trigger.ProcessingTime(TriggerMs)
    val queries: Map[String, StreamingQuery] = Map(
      "fanout" -> tracer.span("StreamingJobs.fanOut", "start") {
        StreamingJobs.fanOut(spark, in.toString, out, ckpt("fanout").toString)
      },
      "detector" -> tracer.span("StreamingJobs.detectAnomaliesStream", "start") {
        StreamingJobs.detectAnomaliesStream(tracer.span("StreamingJobs.readCdcStream",
          "start")(StreamingJobs.readCdcStream(spark, in.toString))).toDF()
          .writeStream.queryName("detector").trigger(trigger)
          .option("checkpointLocation", ckpt("detector").toString)
          .foreachBatch(collectInto((_, r) => alerts.add(r)) _).start()
      },
      "rollup" -> tracer.span("StreamingJobs.minuteRollupStream", "start") {
        StreamingJobs.minuteRollupStream(tracer.span("StreamingJobs.readCdcStream",
          "start")(StreamingJobs.readCdcStream(spark, in.toString)))
          .writeStream.queryName("rollup").outputMode("update").trigger(trigger)
          .option("checkpointLocation", ckpt("rollup").toString)
          .foreachBatch(collectInto((id, r) => rollup.add(id -> r)) _).start()
      })
    def read(q: String) = progress.of(queries(q).id).map(_.numInputRows).sum

    // Prime: one small file through all three queries before the clock
    // starts, so query start-up and first-batch code generation stay out
    // of the measurement. Its rows are checked like all others.
    val prime = CdcPlan.plan(o.seed + 1, Seq(Step(BaseRate, CdcPlan.FileMs)),
      System.currentTimeMillis())
    new CdcGenerator(prime, in, stage, "prime").run()
    val primeBy = System.currentTimeMillis() + 60000
    while (Queries.exists(read(_) == 0) && System.currentTimeMillis() < primeBy &&
      queries.values.forall(_.isActive)) Thread.sleep(20)

    val measured = ladder(o.seconds)
    val steps = Step(BaseRate, WarmMs) +: measured
    // Start on the trigger grid (ProcessingTime fires on multiples of the
    // interval): files then land 250 ms before a trigger, every run alike.
    val now = System.currentTimeMillis() + 500
    val t0 = now - now % TriggerMs + TriggerMs + 250
    val plan = CdcPlan.plan(o.seed, steps, t0, firstId = prime.lines.size + 1)
    val gen = new CdcGenerator(plan, in, stage)
    val measureStart = t0 + WarmMs
    val measureEnd = plan.fileDue.last
    gen.start()

    while (System.currentTimeMillis() < measureStart) Thread.sleep(20)
    val execAtStart = exec.map(_.snapshot())
    val cpuAtStart = Harness.cpuSeconds()
    while (System.currentTimeMillis() < measureEnd) Thread.sleep(20)
    gen.join()

    // Drain: wait until every query has read every line, then stop.
    val lines = (prime.lines.size + plan.lines.size).toLong
    val drainBy = System.currentTimeMillis() + 60000
    while (Queries.exists(read(_) < lines) && System.currentTimeMillis() < drainBy &&
      queries.values.forall(_.isActive)) Thread.sleep(100)
    val cpuS = Harness.cpuSeconds() - cpuAtStart
    // live heap once the queries have stopped, so no micro-batch is in
    // flight; their state stores stay loaded until maintenance unloads them
    queries.values.foreach(_.stop())
    val heapMb = Harness.liveHeapMb()
    val streamErrors = queries.collect { case (q, s) if s.exception.isDefined =>
      s"$q failed: ${s.exception.get.getMessage.linesIterator.next()}"
    }

    // --- latency per line, from the checkpoint logs and progress events
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def startMs(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli
    // the triggers of query q that read data
    def batches(q: String) = progress.of(queries(q).id).filter(_.numInputRows > 0)
    val commitAt: Map[String, Map[Long, Long]] = Queries.map { q =>
      q -> batches(q).map(p =>
        p.batchId -> (startMs(p) + dur(p, "triggerExecution").toLong)).toMap
    }.toMap
    val batchOf = Queries.map(q => q -> batchOfFile(ckpt(q))).toMap
    val fileDone: Array[Option[Long]] = plan.fileDue.indices.map { k =>
      val name = CdcGenerator.fileName("part", k)
      val perQuery = Queries.map(q => batchOf(q).get(name).flatMap(commitAt(q).get))
      if (perQuery.forall(_.isDefined)) Some(perQuery.flatten.max) else None
    }.toArray
    val events = prime.lines ++ plan.lines
    val timed = plan.lines
    def latencies(step: Int) = timed.filter(_.step == step)
      .flatMap(p => fileDone(p.file).map(_ - p.schedMs).map(_.toDouble))
    val stepFigures = measured.indices.map { i =>
      val lat = latencies(i + 1)
      val lastFile = timed.filter(_.step == i + 1).map(_.file).max
      val lastOk = fileDone(lastFile).exists(d =>
        timed.filter(_.file == lastFile).forall(d - _.schedMs < SloMs))
      val complete = lat.size == timed.count(_.step == i + 1)
      val p99 = if (lat.isEmpty) Double.NaN else Stats.percentile(lat.toArray.sorted, 0.99)
      (measured(i), lat, p99 < SloMs && lastOk && complete)
    }
    val base = stepFigures.head._2
    // Capacity: rows consumed per second of trigger time over the timed
    // region, summed over the three queries. Unlike the delivered rate,
    // which follows the offered schedule while the pipeline keeps up, it
    // moves with what a trigger costs.
    val timedPs = Queries.flatMap(batches).filter(startMs(_) >= measureStart)
    val capacity = timedPs.map(_.numInputRows).sum /
      (timedPs.map(dur(_, "triggerExecution")).sum / 1000).max(1e-3)
    val e2eTail = Stats.tail(base)
    val maxRate = stepFigures.filter(_._3).map(_._1.rate).maxOption.getOrElse(0).toDouble

    // --- output checks
    val rawDir = s"$out/raw"
    val rawRows =
      if (Files.exists(java.nio.file.Paths.get(rawDir)))
        spark.read.parquet(rawDir).collect().toSeq else Seq.empty
    val rawBad = Checks.multisetDiff(events.map(Checks.rawKey), rawRows.map(Checks.rawKey))
    val emitted = rollup.asScala.toSeq.groupBy(_._2.getTimestamp(0).getTime).map {
      case (m, rs) =>
        val r = rs.maxBy(_._1)._2
        m -> Checks.Minute(r.getDouble(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }
    val expectedMinutes = Checks.expectedRollup(events)
    val badMinutes = Checks.rollupMismatches(expectedMinutes, emitted)
    val rollupBad = badMinutes.toSeq.map(m => expectedMinutes.get(m).map(_.cnt)
      .getOrElse(emitted(m).cnt)).sum
    val alertBad = Checks.multisetDiff(Checks.expectedAlerts(events),
      alerts.asScala.map(Checks.alertKey))
    val ingestFailed = (rawBad + rollupBad + alertBad).toLong.min(events.size.toLong)

    // --- per-layer figures
    val window = (p: StreamingQueryProgress) => startMs(p) >= measureStart
    val triggerLayer = Queries.flatMap { q =>
      val ps = progress.of(queries(q).id).filter(window)
      val trig = ps.map(dur(_, "triggerExecution"))
      Seq(s"$q.triggers" -> ps.count(_.numInputRows > 0).toDouble,
        s"$q.trigger_ms_p50" -> Stats.pOrZero(trig, 0.5),
        s"$q.trigger_ms_p99" -> Stats.pOrZero(trig, 0.99),
        s"$q.planning_ms_p50" -> Stats.pOrZero(ps.map(dur(_, "queryPlanning")), 0.5),
        s"$q.add_batch_ms_p50" -> Stats.pOrZero(ps.map(dur(_, "addBatch")), 0.5),
        s"$q.commit_ms_p50" -> Stats.pOrZero(ps.map(dur(_, "commitOffsets")), 0.5),
        s"$q.busy_share" -> trig.sum / (measureEnd - measureStart))
    }
    val stateLayer = Seq("detector", "rollup").flatMap { q =>
      val ps = progress.of(queries(q).id).filter(window).filter(_.stateOperators.nonEmpty)
      val last = ps.lastOption.map(_.stateOperators.head)
      Seq(s"$q.state_rows" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        s"$q.state_bytes" -> last.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
        s"$q.state_commit_ms_p50" ->
          Stats.pOrZero(ps.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble), 0.5))
    }
    val allPs = Queries.flatMap(q => progress.of(queries(q).id)).filter(window)
    val rowsInFile = plan.rowsInFile
    val backlog = Queries.flatMap { q =>
      batches(q).map { p =>
        val at = startMs(p)
        gen.publishedAt.indices.filter { k =>
          gen.publishedAt(k) >= 0 && gen.publishedAt(k) <= at &&
            batchOf(q).get(CdcGenerator.fileName("part", k)).forall(_ >= p.batchId)
        }.map(rowsInFile(_)).sum.toDouble
      }
    }
    val parseLayer =
      if (!o.trace) Map.empty[String, Double]
      else tracer.span("CdcParser.parse", "layer") {
        import spark.implicits._
        val text = spark.read.text(in.toString).as[String].collect().toSeq
        val df = text.toDF("json").cache()
        df.count()
        val t = System.nanoTime()
        val kept = CdcParser.parse(df, col("json")).count()
        val s = Harness.secondsSince(t)
        df.unpersist()
        Map("parse.rows_per_s" -> text.size / s, "parse.keep_ratio" -> kept.toDouble / text.size)
      }
    val execLayer = exec.zip(execAtStart).map { case (x, from) =>
      x.layer(from, (measureEnd - measureStart).toDouble, o.cores)
    }.getOrElse(Map.empty)
    Queries.foreach(q => batches(q).foreach { p =>
      tracer.record(s"trigger:$q", startMs(p).toDouble, startMs(p) + dur(p, "triggerExecution"),
        s"$q-${p.batchId}")
    })

    val e2e = Map("setup_s" -> setupS, "latency_ms" -> Stats.median(base),
      "tail_ms" -> e2eTail.value, "cpu_s" -> cpuS, "heap_live_mb" -> heapMb)
    val layer = Map(
      "gen.rows" -> lines.toDouble,
      "gen.lag_p99_ms" -> Stats.pOrZero(gen.lagMs, 0.99),
      "source.backlog_rows_max" -> backlog.maxOption.getOrElse(0.0),
      "source.latest_offset_ms_p50" -> Stats.pOrZero(allPs.map(dur(_, "latestOffset")), 0.5),
      "source.get_batch_ms_p50" -> Stats.pOrZero(allPs.map(dur(_, "getBatch")), 0.5),
      "ingest.e2e_p50_ms" -> Stats.median(base),
      "ingest.e2e_tail_ms" -> e2eTail.value,
      "ingest.max_rate_rows_per_s" -> maxRate,
      "ingest.capacity_rows_per_s" -> capacity,
      "ingest.failed_frac" -> ingestFailed.toDouble / events.size) ++
      triggerLayer ++ stateLayer ++ parseLayer ++ execLayer

    val notes = streamErrors.toSeq ++ gen.failure.map(e => s"generator failed: $e") ++
      stepFigures.map { case (st, lat, ok) =>
        val t = if (lat.isEmpty) "no events committed" else {
          val tl = Stats.tail(lat)
          f"p50 ${Stats.median(lat)}%.0f ms, ${tl.label} ${tl.value}%.0f ms (n=${tl.n})"
        }
        s"step ${st.rate} rows/s for ${st.ms} ms: $t, ${if (ok) "held" else "not held"}"
      } ++ Seq(
      f"ingest_e2e_p50_ms ${Stats.median(base)}%.1f ms",
      f"ingest_e2e_${e2eTail.label}_ms ${e2eTail.value}%.1f ms (n=${e2eTail.n})",
      f"ingest_max_rate_rows_per_s ${maxRate}%.0f rows/s",
      f"ingest_capacity_rows_per_s $capacity%.0f rows/s",
      f"cpu_s $cpuS%.2f s",
      s"ingest_failed_frac $ingestFailed/${events.size} " +
        s"(raw $rawBad, rollup minutes ${badMinutes.size}, alerts $alertBad)",
      f"gen.lag_p99_ms ${Stats.pOrZero(gen.lagMs, 0.99)}%.0f ms") ++
      Queries.map { q =>
        s"$q triggers (start+duration/rows): " + batches(q).filter(window).map { p =>
          f"${(startMs(p) - t0) / 1000.0}%.1f+${dur(p, "triggerExecution") / 1000}%.1fs/${p.numInputRows}"
        }.mkString(" ")
      }
    val failed = ingestFailed + streamErrors.size + gen.failure.size
    Result(events.size.toLong, failed, e2e, layer, notes)
  }
}
