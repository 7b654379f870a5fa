package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded by the benchmark's own code around each call
  * into a layer (driver thread only). Disabled, `span` is a plain call,
  * so untraced runs pay nothing. Spans are written out once, at the end.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                        endNs: Long, run: String) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private var enabled = false
  private var runId = ""
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def start(run: String, on: Boolean): Unit = {
    enabled = on; runId = run; spans.clear(); stack = Nil; nextId = 0
  }

  /** Runs `body` with span recording off, keeping what was recorded. */
  def paused[T](body: => T): T = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime(), runId)
        stack = stack.tail
      }
    }

  /** Durations of the spans called `name` that started at or after
    * `sinceNs`, in seconds.
    */
  def walls(name: String, sinceNs: Long): Seq[Double] =
    spans.iterator.filter(s => s.name == name && s.startNs >= sinceNs).map(_.seconds).toSeq

  /** Span duration minus the part of its interval its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(k => (k.startNs, k.endNs)).toSeq.sortBy(_._1)
    var covered = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    kids.foreach { case (lo, hi) =>
      if (lo > curHi) { covered += curHi - curLo; curLo = lo; curHi = hi }
      else curHi = math.max(curHi, hi)
    }
    covered += curHi - curLo
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Total and self seconds per span name. */
  def summary: Map[String, (Int, Double, Double)] =
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size, ss.map(_.seconds).sum, ss.map(selfSeconds).sum)
    }

  def json: String = {
    val t0 = spans.headOption.map(_ => spans.map(_.startNs).min).getOrElse(0L)
    spans.sortBy(_.id).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> (s.startNs - t0) / 1000, "end_us" -> (s.endNs - t0) / 1000,
        "run" -> s.run)
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object TaskTally {
  final case class Task(durationMs: Long, recordsRead: Long, shuffleWriteBytes: Long,
                        shuffleWriteNs: Long, shuffleReadBytes: Long,
                        fetchWaitMs: Long, spillBytes: Long)
}

/** Task metrics tallied through Spark's public listener API while attached. */
final class TaskTally extends SparkListener {
  import TaskTally.Task

  private val tasks = ArrayBuffer.empty[Task]
  @volatile private var openJobs = 0
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openJobs += 1; lastEventNs = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs -= 1; lastEventNs = System.nanoTime()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.taskInfo.duration, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Waits until every started job has ended and the bus has been quiet
    * for 50 ms. An action posts all of its events before it returns, so
    * this only waits for delivery.
    */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() < deadline &&
           (openJobs > 0 || System.nanoTime() - lastEventNs < 50000000L))
      Thread.sleep(10)
  }

  def drain(): Seq[Task] = synchronized {
    val out = tasks.toList
    tasks.clear()
    out
  }
}
