package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. Times are epoch milliseconds; `parent` is 0 for a
  * root span; spans of one request share `request`. */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, request: String)

/** In-memory span recorder, written out once when the run ends. When
  * disabled every call is a plain pass-through, so the untraced run pays
  * nothing for it. Spans opened on a thread nest under the span already
  * open on that thread, and tag the Spark jobs they start with their id
  * as job group, which is how [[ExecStats]] attributes jobs to spans.
  * `sc` is resolved at each span, so a tracer can outlive a session. */
final class Tracer(val enabled: Boolean, sc: => SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  private def nowMs: Double = System.currentTimeMillis().toDouble

  def span[T](name: String, request: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val start = nowMs
      open.set(id :: stack)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      try body
      finally {
        spans.add(Span(id, name, start, nowMs, stack.headOption.getOrElse(0L),
          request))
        open.set(stack)
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Record a span measured elsewhere (a streaming trigger). */
  def record(name: String, start: Double, end: Double, request: String): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), name, start, end, 0L, request))

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = all.sortBy(_.start).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start":${s.start}%.0f,""" +
        f""""end":${s.end}%.0f,"parent":${s.parent},"request":"${s.request}"}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark execution counters, summed over every task and job the session
  * runs, per job group (= per span), and task time per value of the
  * [[ExecStats.PassKey]] local property. */
final class ExecStats extends SparkListener {
  final class Sums {
    val jobs = new AtomicLong()
    val tasks = new AtomicLong()
    val taskMs = new AtomicLong()
    val schedDelayMs = new AtomicLong()
    val shuffleWriteBytes = new AtomicLong()
    val spillBytes = new AtomicLong()
    val gcMs = new AtomicLong()
  }
  val total = new Sums
  private val byGroup =
    new java.util.concurrent.ConcurrentHashMap[String, Sums]()
  private val stageGroup =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val stagePass =
    new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val passTaskMs =
    new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  /** Task time of the jobs started under pass `p`, ms. */
  def taskMsOf(p: String): Long = Option(passTaskMs.get(p)).map(_.get).getOrElse(0L)

  def group(id: Long): Sums = byGroup.computeIfAbsent(id.toString, _ => new Sums)

  def snapshot(): Array[Long] = {
    val t = total
    Array(t.jobs, t.tasks, t.taskMs, t.schedDelayMs, t.shuffleWriteBytes,
      t.spillBytes, t.gcMs).map(_.get)
  }

  /** The execution layer's figures since `from` (a [[snapshot]]), over a
    * window of `wallMs` on `cores` cores. */
  def layer(from: Array[Long], wallMs: Double, cores: Int): Map[String, Double] = {
    val d = snapshot().zip(from).map { case (a, b) => (a - b).toDouble }
    Map("exec.jobs" -> d(0), "exec.tasks" -> d(1), "exec.task_ms" -> d(2),
      "exec.core_util" -> d(2) / (wallMs * cores),
      "exec.scheduler_delay_ms" -> d(3), "exec.shuffle_write_bytes" -> d(4),
      "exec.spill_bytes" -> d(5), "exec.gc_ms" -> d(6))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.incrementAndGet()
    Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
      byGroup.computeIfAbsent(g, _ => new Sums).jobs.incrementAndGet()
      e.stageIds.foreach(stageGroup.put(_, g))
    }
    Option(e.properties).flatMap(p => Option(p.getProperty(ExecStats.PassKey)))
      .foreach(p => e.stageIds.foreach(stagePass.put(_, p)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val sums = total +: Option(stageGroup.get(e.stageId)).toSeq
        .map(g => byGroup.computeIfAbsent(g, _ => new Sums))
      val info = e.taskInfo
      val delay = (info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime).max(0L)
      sums.foreach { s =>
        s.tasks.incrementAndGet()
        s.taskMs.addAndGet(m.executorRunTime)
        s.schedDelayMs.addAndGet(delay)
        s.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        s.gcMs.addAndGet(m.jvmGCTime)
      }
      Option(stagePass.get(e.stageId)).foreach(p =>
        passTaskMs.computeIfAbsent(p, _ => new AtomicLong).addAndGet(m.executorRunTime))
    }
  }
}

object ExecStats {
  /** Local property naming the pass a thread's jobs belong to. */
  val PassKey = "perfbench.pass"
}
