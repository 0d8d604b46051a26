package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span per call into a layer's public function, named
  * `<layer>.<call>`. Jobs started inside a span carry its index as a
  * local property; a [[SparkListener]] attributes their stages and
  * tasks back to it. With `enabled = false` no listener is registered
  * and [[span]] only runs its body, so the untraced run pays nothing.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private final class Call(val name: String, val startMs: Long) {
    var wallS = 0.0
    var endMs = 0L
    var jobs = 0
    var tasks = 0
    var taskS = 0.0
    var shuffleWrite = 0L
    var spill = 0L
    val stageWindows = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val calls = mutable.ArrayBuffer.empty[Call]
  private val stageCall = mutable.HashMap.empty[Int, Call]
  private var active = true

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val idx = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      idx.map(_.toInt).filter(_ < calls.length).foreach { i =>
        val c = calls(i)
        c.jobs += 1
        e.stageIds.foreach(stageCall(_) = c)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val s = e.stageInfo
        for (c <- stageCall.get(s.stageId); t0 <- s.submissionTime; t1 <- s.completionTime)
          c.stageWindows += ((t0, t1))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (c <- stageCall.get(e.stageId); m <- Option(e.taskMetrics)) {
        c.tasks += 1
        c.taskS += m.executorRunTime / 1e3
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Record spans only while `on` (warm-up runs with it off). */
  def recording(on: Boolean): Unit = active = on

  /** Run `body` as one span; returns its result and wall seconds. */
  def span[T](name: String)(body: => T): (T, Double) = {
    if (!enabled || !active) {
      val t0 = System.nanoTime()
      val r = body
      return (r, (System.nanoTime() - t0) / 1e9)
    }
    val call = synchronized {
      val c = new Call(name, System.currentTimeMillis())
      calls += c
      sc.setLocalProperty(Key, (calls.length - 1).toString)
      c
    }
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val wall = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(Key, null)
      synchronized { call.wallS = wall; call.endMs = System.currentTimeMillis() }
    }
  }

  /** Per-span aggregates over every recorded call, after the listener
    * bus has delivered all events. Times are seconds per call; counts
    * and bytes are per call too.
    */
  def summary(nproc: Int): Map[String, SpanStats] = {
    if (!enabled) return Map.empty
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    synchronized {
      calls.groupBy(_.name).map { case (name, cs) =>
        val n = cs.length.toDouble
        val wall = cs.map(_.wallS).sum
        val task = cs.map(_.taskS).sum
        val gap = cs.map(c => math.max(0.0, c.wallS - covered(c) / 1e3)).sum
        name -> SpanStats(
          calls = cs.length,
          wallS = wall / n,
          jobs = cs.map(_.jobs).sum / n,
          tasks = cs.map(_.tasks).sum / n,
          taskS = task / n,
          coreUtil = if (wall > 0) task / (wall * nproc) else 0.0,
          shuffleWriteBytes = cs.map(_.shuffleWrite).sum / n,
          spillBytes = cs.map(_.spill).sum / n,
          driverGapS = gap / n,
          totalWallS = wall)
      }
    }
  }

  /** Milliseconds of the call's window covered by its stages' spans. */
  private def covered(c: Call): Long = {
    val ws = c.stageWindows
      .map { case (a, b) => (math.max(a, c.startMs), math.min(b, c.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    ws.foreach { case (a, b) =>
      if (a > curB) { total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    total + (curB - curA)
  }
}

object Tracer {
  private val Key = "perfbench.span"

  final case class SpanStats(calls: Int, wallS: Double, jobs: Double, tasks: Double,
                             taskS: Double, coreUtil: Double, shuffleWriteBytes: Double,
                             spillBytes: Double, driverGapS: Double, totalWallS: Double)
}
