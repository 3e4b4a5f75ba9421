package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task and job totals of one span in one traced rep. */
final class SpanStats {
  var wallS = 0.0
  var jobs = 0
  val jobWallS = mutable.ArrayBuffer.empty[Double]
  var tasks = 0L
  var failedTasks = 0L
  var runS = 0.0
  var cpuS = 0.0
  var gcS = 0.0
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var outputB = 0L

  def add(o: SpanStats): Unit = {
    wallS += o.wallS; jobs += o.jobs
    jobWallS ++= o.jobWallS; tasks += o.tasks; failedTasks += o.failedTasks
    runS += o.runS; cpuS += o.cpuS; gcS += o.gcS
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    spillB += o.spillB; outputB += o.outputB
  }
}

/** Span recorder for traced reps.
  *
  * `span(name) { … }` times its body in the calling thread and tags
  * every Spark job the body runs with the span name as job group. As a
  * `SparkListener` the tracer then files each job (start/end time) and
  * each finished task (run time, CPU, GC, shuffle, spill, output bytes)
  * under the span of the job that owns the task's stage. Jobs run
  * outside any span carry no group and are ignored.
  *
  * Register with `sc.addSparkListener` for the traced reps only; read
  * `stats()` after the last span, which drains the listener bus first.
  */
final class Tracer(sc: SparkContext) extends SparkListener {

  private val spans = mutable.LinkedHashMap.empty[String, SpanStats]
  private val jobSpan = mutable.Map.empty[Int, (String, Long)]
  private val stageSpan = mutable.Map.empty[Int, String]

  private def statsOf(name: String): SpanStats =
    spans.getOrElseUpdate(name, new SpanStats)

  def span[T](name: String)(body: => T): T = {
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      synchronized(statsOf(name).wallS += dt)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
      .foreach { g =>
        jobSpan(e.jobId) = (g, e.time)
        // a stage shared by several jobs runs its tasks once, in the
        // first job that submits it
        e.stageIds.foreach(s => if (!stageSpan.contains(s)) stageSpan(s) = g)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (g, t0) =>
      val s = statsOf(g)
      s.jobs += 1
      s.jobWallS += (e.time - t0) / 1e3
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { g =>
      val s = statsOf(g)
      s.tasks += 1
      if (e.taskInfo != null && !e.taskInfo.successful) s.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runS += m.executorRunTime / 1e3
        s.cpuS += m.executorCpuTime / 1e9
        s.gcS += m.jvmGCTime / 1e3
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.diskBytesSpilled
        s.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Per-span totals, after every event posted so far was delivered. */
  def stats(): Map[String, SpanStats] = {
    org.apache.spark.graftbench.ListenerBusDrain(sc)
    synchronized(spans.toMap)
  }
}

object Tracer {
  /** Local property `SparkContext.setJobGroup` sets (private in Spark). */
  val JobGroupKey = "spark.jobGroup.id"
}
