package perfbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {

  private def planAt(start: Long) =
    CdcPlan.plan(7L, Seq(Step(200, 1000), Step(800, 500)), start)

  test("tail: highest percentile with at least ten samples beyond it, with n") {
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tail(xs) == Stats.Tail(0.99, 990.0, 1000))
    assert(Stats.tail(xs.take(999)).q == 0.95) // p99 has only 9 beyond
    assert(Stats.tail(xs.take(100)) == Stats.Tail(0.9, 90.0, 100))
    assert(Stats.tail(xs.take(20)).q == 0.5)
    assert(Stats.tail(xs.take(5)) == Stats.Tail(0.5, 3.0, 5)) // too few: median
    assert(Stats.tail(xs).label == "p99" && Stats.tail(xs.take(999)).label == "p95")
  }

  test("generator: the schedule is a function of seed, steps and start only") {
    val a = planAt(1000000L)
    assert(a.lines == planAt(1000000L).lines)
    assert(a.fileDue.sameElements((1 to 3).map(1000000L + _ * CdcPlan.FileMs)))
    assert(a.lines.map(_.schedMs).forall(t => t >= 1000000L && t < a.fileDue.last))
    assert(a.lines.forall(p => p.schedMs < a.fileDue(p.file)))
    assert(a.lines.count(_.step == 1) == 400) // 800 rows/s for 0.5 s
    assert(a.lines.map(_.trade.trade_id) == (1 to a.lines.size))
    assert(CdcPlan.plan(7L, Seq(Step(200, 500)), 0L, firstId = 501).lines.head.trade.trade_id == 501)
  }

  test("generator: publication does not slow when the consumer does") {
    def publish(slowConsumer: Boolean): (Seq[Double], Seq[String]) = {
      val root = Files.createTempDirectory("gen")
      val (in, stage) = (root.resolve("in"), root.resolve("stage"))
      Files.createDirectories(in); Files.createDirectories(stage)
      val plan = planAt(System.currentTimeMillis() + 200)
      val gen = new CdcGenerator(plan, in, stage)
      @volatile var stop = false
      val consumer = new Thread(() => while (!stop) {
        Files.list(in).iterator.asScala.foreach(f => Files.readAllBytes(f))
        Thread.sleep(if (slowConsumer) 700 else 1)
      })
      consumer.start(); gen.start(); gen.join(); stop = true; consumer.join()
      val files = Files.list(in).iterator.asScala.toSeq.sortBy(_.toString)
        .map(f => new String(Files.readAllBytes(f), "UTF-8"))
      Files.walk(root).sorted(java.util.Comparator.reverseOrder()).iterator.asScala
        .foreach(Files.delete)
      (gen.lagMs, files.map(_.linesIterator.map(_.length).mkString(",")))
    }
    val (fastLag, fastFiles) = publish(slowConsumer = false)
    val (slowLag, slowFiles) = publish(slowConsumer = true)
    assert(fastLag.size == 3 && slowLag.size == 3)
    assert(slowLag.forall(_ < 200), s"lag with a slow consumer: $slowLag")
    assert(fastLag.forall(_ < 200), s"lag with a fast consumer: $fastLag")
    assert(fastFiles == slowFiles)
  }

  private val lines = planAt(1000000L).lines
  private def plantedMissing[T](xs: Seq[T]) = xs.patch(xs.size / 2, Nil, 1)
  private def plantedDuplicate[T](xs: Seq[T]) = xs :+ xs(xs.size / 2)

  test("K1 raw-sink check catches a missing and a duplicate row") {
    val keys = lines.map(Checks.rawKey)
    assert(Checks.multisetDiff(keys, keys.reverse) == 0)
    assert(Checks.multisetDiff(keys, plantedMissing(keys)) == 1)
    assert(Checks.multisetDiff(keys, plantedDuplicate(keys)) == 1)
  }

  test("rollup check catches a missing and a duplicate row") {
    val expected = Checks.expectedRollup(lines)
    assert(Checks.rollupMismatches(expected, expected).isEmpty)
    assert(Checks.rollupMismatches(expected,
      Checks.expectedRollup(plantedMissing(lines))).size == 1)
    assert(Checks.rollupMismatches(expected,
      Checks.expectedRollup(plantedDuplicate(lines))).size == 1)
  }

  test("detector check catches a missing and a duplicate alert") {
    val alerts = Checks.expectedAlerts(lines)
    assert(alerts.nonEmpty)
    assert(Checks.multisetDiff(alerts, plantedMissing(alerts)) == 1)
    assert(Checks.multisetDiff(alerts, plantedDuplicate(alerts)) == 1)
  }
}
