package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One call into a layer of the program, recorded from the benchmark's
  * side of the call. `pass` is the pass index, or -1 for set-up and the
  * probe round. The counters are filled by [[SpanListener]]. */
final class Span(val id: Int, val layer: String, val name: String,
                 val parent: Int, val pass: Int, val start: Long) {
  var end: Long = start
  var planNs: Long = 0L
  var jobs = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  def wallNs: Long = end - start
}

/** Spans kept in memory for the whole run. Jobs a span issues carry the
  * span's job group, set on the calling thread; Spark copies it to the
  * threads that run a query's sub-jobs. */
object Trace {
  @volatile var enabled = false
  var pass = -1
  val spans = ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private val GroupPrefix = "perfbench-"

  def byGroup(group: String): Option[Span] =
    if (group == null || !group.startsWith(GroupPrefix)) None
    else group.stripPrefix(GroupPrefix).toIntOption.flatMap(i => spans.synchronized(spans.lift(i)))

  def span[T](sc: SparkContext, layer: String, name: String)(body: Span => T): T = {
    if (!enabled) return body(null)
    val s = spans.synchronized {
      val s = new Span(spans.size, layer, name, open.headOption.map(_.id).getOrElse(-1),
        pass, System.nanoTime())
      spans += s
      s
    }
    open = s :: open
    sc.setJobGroup(GroupPrefix + s.id, s"$layer:$name", interruptOnCancel = false)
    try body(s)
    finally {
      s.end = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, s"${p.layer}:${p.name}", false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** In a traced call, forces physical planning before execution and
    * books its time on the span, so `plan_s` and execution are told apart. */
  def plan(s: Span, df: DataFrame): DataFrame = {
    if (s != null) {
      val t0 = System.nanoTime()
      df.queryExecution.executedPlan
      s.planNs += System.nanoTime() - t0
    }
    df
  }

  /** Self time: the span's wall time minus what its child spans cover. */
  def selfNs(s: Span): Long =
    s.wallNs - spans.iterator.filter(_.parent == s.id).map(_.wallNs).sum
}

/** Sums task metrics per span. Registered only for traced passes. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile var lastJobEnd = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Trace.byGroup(group).foreach { s =>
      s.synchronized { s.jobs += 1 }
      e.stageIds.foreach(stageSpan.put(_, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    if (s != null) s.synchronized {
      s.tasks += 1
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lastJobEnd = e.jobId

  /** Listener events arrive asynchronously and in order: once a marker
    * job's end is seen, every earlier task's metrics have been counted. */
  def drain(sc: SparkContext): Unit = {
    sc.clearJobGroup()
    sc.setJobGroup("perfbench:drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    val marker = sc.statusTracker.getJobIdsForGroup("perfbench:drain").max
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (lastJobEnd < marker && System.nanoTime() < deadline) Thread.sleep(10)
  }
}
