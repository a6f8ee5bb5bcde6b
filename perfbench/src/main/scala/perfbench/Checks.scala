package perfbench

import scala.collection.mutable

import graft.model.DetectorState
import graft.operators.AnomalyDetection
import org.apache.spark.sql.Row

/** Output checks. Each returns the number of rows (or answers) that do not
  * match; nothing is dropped silently. They run after the timed region. */
object Checks {

  /** Rows missing from `actual` plus rows `actual` holds more often than
    * `expected` (duplicates and strays). */
  def multisetDiff[K](expected: Iterable[K], actual: Iterable[K]): Int = {
    val counts = mutable.HashMap.empty[K, Int]
    expected.foreach(k => counts(k) = counts.getOrElse(k, 0) + 1)
    actual.foreach(k => counts(k) = counts.getOrElse(k, 0) - 1)
    counts.valuesIterator.map(math.abs).sum
  }

  /** The K1 raw-sink row a generated line must produce:
    * (op, trade_id, market, price, volume, source_ts, cdc_ts). */
  type RawKey = (String, Long, String, Double, Double, Long, Long)

  def rawKey(p: Planned): RawKey = ("c", p.trade.trade_id, p.trade.market,
    p.trade.price, p.trade.volume, p.schedMs, p.schedMs + p.latencyMs)

  def rawKey(r: Row): RawKey = (r.getAs[String]("op"), r.getAs[Long]("trade_id"),
    r.getAs[String]("market"), r.getAs[Double]("trade_price"),
    r.getAs[Double]("trade_volume"), r.getAs[Long]("source_ts"),
    r.getAs[Long]("cdc_ts"))

  /** One per-minute latency rollup row. */
  final case class Minute(avg: Double, max: Long, min: Long, cnt: Long)

  /** Batch recompute of the per-minute rollup over the generated lines. */
  def expectedRollup(lines: Iterable[Planned]): Map[Long, Minute] =
    lines.groupBy(p => p.schedMs - Math.floorMod(p.schedMs, 60000L))
      .map { case (m, ps) =>
        val lat = ps.map(_.latencyMs)
        m -> Minute(lat.sum.toDouble / lat.size, lat.max, lat.min, lat.size.toLong)
      }

  /** Minutes whose emitted row differs from the recompute, is missing, or
    * was never generated. */
  def rollupMismatches(expected: Map[Long, Minute],
      emitted: Map[Long, Minute]): Set[Long] =
    (expected.keySet ++ emitted.keySet).filter(m => expected.get(m) != emitted.get(m))

  /** An alert, compared without the engine's internal market key. */
  type AlertKey = (String, Long, Long, String, Double)

  /** `AnomalyDetection.step` folded per market over the generated inserts
    * in (ts, id) order. The key only has to carry the market's threshold
    * tier (key % 3: BTC 0, ETH 1, others 2), as the engine's key does. */
  def expectedAlerts(lines: Iterable[Planned]): Seq[AlertKey] =
    lines.groupBy(_.trade.market).toSeq.flatMap { case (market, ps) =>
      val tier = if (market.contains("BTC")) 0L
        else if (market.contains("ETH")) 1L else 2L
      val key = CdcPlan.Markets.indexOf(market) * 3L + tier
      var st = DetectorState.empty
      ps.toSeq.sortBy(p => (p.schedMs, p.trade.trade_id)).flatMap { p =>
        val t = p.trade
        val (alerts, next) = AnomalyDetection.step(st, AnomalyDetection.Ev(
          key, t.trade_id, p.schedMs, t.price, t.volume.toLong,
          t.price * t.volume))
        st = next
        alerts.map(a => (a.alert_type, a.trade_id, a.detected_at, a.message, a.amount))
      }
    }

  def alertKey(r: Row): AlertKey = (r.getAs[String]("alert_type"),
    r.getAs[Long]("trade_id"), r.getAs[Long]("detected_at"),
    r.getAs[String]("message"), r.getAs[Double]("amount"))
}
