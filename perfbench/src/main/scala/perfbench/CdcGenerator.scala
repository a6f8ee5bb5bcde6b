package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

import graft.Synthetic

/** One offered rate, held for `ms` milliseconds. */
final case class Step(rate: Int, ms: Long)

/** One generated CDC line, an insert (`op` "c"). `schedMs` is the time
  * the line is due to be sent; it is also the line's `source.ts_ms`. */
final case class Planned(schedMs: Long, file: Int, step: Int,
    trade: Synthetic.Trade, latencyMs: Long, line: String)

/** The load plan: every line of every file, and each file's due time. A
  * pure function of the seed, the steps and the start time, so the offered
  * load never depends on how fast the pipeline consumes it. */
final case class CdcPlan(lines: IndexedSeq[Planned], fileDue: Array[Long]) {
  def rowsInFile: Array[Int] = {
    val n = new Array[Int](fileDue.length)
    lines.foreach(p => n(p.file) += 1)
    n
  }
}

/** The reference's traffic: its producer subscribes to five KRW markets
  * and writes each trade once (`INSERT IGNORE` on the trade's unique id
  * drops WebSocket redeliveries before the binlog), so the CDC stream is
  * well-formed inserts only. Market weights, prices and volumes are this
  * benchmark's own choices; perfbench/README.md lists them. */
object CdcPlan {
  /** Files are cut every half second: at most 6 files per 3 s trigger,
    * below `readCdcStream`'s default cap of 8 files per micro-batch. */
  val FileMs = 500L

  val Markets: IndexedSeq[String] = Synthetic.markets.toIndexedSeq
  /** Zipf (exponent 1) over the markets in `Synthetic.markets` order, so
    * KRW-BTC and KRW-ETH are the hottest: 44 %, 22 %, 15 %, 11 %, 9 %. */
  private val cumWeights: Array[Double] = {
    val w = Markets.indices.map(i => 1.0 / (i + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  /** Trades are numbered from `firstId` on. */
  def plan(seed: Long, steps: Seq[Step], startMs: Long, firstId: Long = 1): CdcPlan = {
    val rnd = new java.util.Random(seed)
    val basePrice = Markets.map(_ => 50 + rnd.nextDouble() * 150).toArray
    val totalMs = steps.map(_.ms).sum
    val nFiles = (totalMs / FileMs).toInt
    val out = IndexedSeq.newBuilder[Planned]
    var tradeId = firstId - 1
    var stepStart = startMs
    steps.zipWithIndex.foreach { case (st, si) =>
      val n = (st.rate.toLong * st.ms / 1000).toInt
      (0 until n).foreach { i =>
        val sched = stepStart + i.toLong * st.ms / n
        val file = ((sched - startMs) / FileMs).toInt
        val m = java.util.Arrays.binarySearch(cumWeights, rnd.nextDouble())
        val mi = if (m >= 0) m else (-m - 1).min(Markets.size - 1)
        // mostly small moves, now and then a jump past the spike rules
        val move = if (rnd.nextDouble() < 0.05) 0.04 else 0.005
        basePrice(mi) *= 1 + move * rnd.nextGaussian()
        tradeId += 1
        val trade = Synthetic.Trade(tradeId, Markets(mi),
          math.rint(basePrice(mi) * 100) / 100,
          math.rint(rnd.nextDouble() * 100),
          if (rnd.nextBoolean()) "BID" else "ASK", sched)
        val latency = 2L + rnd.nextInt(14) // the reference's 2-15 ms CDC leg
        out += Planned(sched, file, si, trade, latency,
          Synthetic.envelopeJson(trade, "c", latency))
      }
      stepStart += st.ms
    }
    CdcPlan(out.result(),
      Array.tabulate(nFiles)(k => startMs + (k + 1) * FileMs))
  }
}

/** Open-loop writer: one thread publishes file k at `fileDue(k)`, however
  * far behind the consumer is. Each file is written whole to a staging
  * directory and renamed into the watched directory in one atomic move. */
final class CdcGenerator(plan: CdcPlan, dir: Path, stage: Path,
    prefix: String = "part") extends Thread("cdc-generator") {
  setDaemon(true)
  val publishedAt: Array[Long] = Array.fill(plan.fileDue.length)(-1L)
  private val byFile: Array[String] = {
    val sb = Array.fill(plan.fileDue.length)(new java.lang.StringBuilder)
    plan.lines.foreach(p => sb(p.file).append(p.line).append('\n'))
    sb.map(_.toString)
  }
  @volatile var failure: Option[Throwable] = None

  override def run(): Unit =
    try plan.fileDue.indices.foreach { k =>
      val wait = plan.fileDue(k) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val name = CdcGenerator.fileName(prefix, k)
      val tmp = stage.resolve(name)
      Files.write(tmp, byFile(k).getBytes(UTF_8))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      publishedAt(k) = System.currentTimeMillis()
    } catch { case e: Throwable => failure = Some(e) }

  /** Publication lateness per file, ms. */
  def lagMs: Seq[Double] = plan.fileDue.indices.collect {
    case k if publishedAt(k) >= 0 => (publishedAt(k) - plan.fileDue(k)).toDouble
  }
}

object CdcGenerator {
  def fileName(prefix: String, k: Int): String = f"$prefix-$k%05d.json"
}
