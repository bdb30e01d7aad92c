package graftbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** One interval around a call into a layer. `phase` is "op" for the root
  * of one benchmark operation, "build" for the time inside a layer call
  * (the eager actions it runs while building its result) and "exec" for
  * forcing the DataFrame the call returned. Spans of one operation share
  * `opId`; `parent` is the enclosing span's id, -1 at the root. */
final case class Span(id: Int, name: String, phase: String, parent: Int,
                      opId: Int, startNs: Long, endNs: Long)

/** Spark activity attributed to one span through its job group. */
final class Activity {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var taskNs = 0L
  var cpuNs = 0L
  var gcNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** `graft.*` accumulator updates, summed over the span's tasks. */
  val acc = mutable.Map.empty[String, Long]

  def add(o: Activity): Unit = {
    jobs += o.jobs; stages += o.stages; singleTaskStages += o.singleTaskStages
    taskNs += o.taskNs; cpuNs += o.cpuNs; gcNs += o.gcNs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; inputBytes += o.inputBytes
    o.acc.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0L) + v }
  }
}

/** Wraps the benchmark's calls into the program's layers. The untraced
  * form only runs the body, so timed runs carry no instrumentation. */
trait Calls {
  def op[T](opId: Int, name: String)(body: => T): T
  def call[T](name: String, phase: String)(body: => T): T
  def build[T](name: String)(body: => T): T = call(name, "build")(body)
  def exec[T](name: String)(body: => T): T = call(name, "exec")(body)
}

object Untraced extends Calls {
  def op[T](opId: Int, name: String)(body: => T): T = body
  def call[T](name: String, phase: String)(body: => T): T = body
}

/** Records spans in memory and attributes Spark jobs, stages, task time,
  * GC, shuffle bytes, spill, input bytes and `graft.*` accumulator updates
  * to the innermost open span: each span runs under its own Spark job
  * group, and a listener maps job -> stage -> task back to that group. */
final class Tracer(sc: SparkContext) extends SparkListener with Calls {
  private val GroupPrefix = "perfbench-span-"
  private val JobGroupKey = "spark.jobGroup.id"

  private val stageSpan = mutable.Map.empty[Int, Int]      // guarded by this
  private val activity = mutable.Map.empty[Int, Activity]  // guarded by this
  private val done = mutable.ArrayBuffer.empty[Span]       // driver thread only
  private val open = mutable.Stack.empty[(Int, String, String)]  // id, name, phase
  private var nextId = 0
  private var currentOp = -1

  def spans: Seq[Span] = done.toSeq

  def op[T](opId: Int, name: String)(body: => T): T = {
    currentOp = opId
    try call(name, "op")(body) finally currentOp = -1
  }

  def call[T](name: String, phase: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open.push((id, name, phase))
    sc.setJobGroup(GroupPrefix + id, s"$name.$phase", interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, name, phase, parent, currentOp, t0, System.nanoTime())
      open.pop()
      open.headOption match {
        case Some((pid, pname, pphase)) =>
          sc.setJobGroup(GroupPrefix + pid, s"$pname.$pphase", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Activity per span id, once every event posted so far is handled. */
  def activityBySpan(): Map[Int, Activity] = {
    PerfbenchBridge.drain(sc)
    synchronized(activity.toMap)
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty(JobGroupKey)))
      .filter(_.startsWith(GroupPrefix))
      .map(_.stripPrefix(GroupPrefix).toInt)

  private def act(span: Int): Activity = activity.getOrElseUpdate(span, new Activity)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      act(s).jobs += 1
      e.stageInfos.foreach(si => if (!stageSpan.contains(si.stageId)) stageSpan(si.stageId) = s)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach { s =>
      val a = act(s)
      a.stages += 1
      if (e.stageInfo.numTasks == 1) a.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val a = act(s)
      val m = e.taskMetrics
      if (m != null) {
        a.taskNs += m.executorRunTime * 1000000L
        a.cpuNs += m.executorCpuTime
        a.gcNs += m.jvmGCTime * 1000000L
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
      if (e.taskInfo != null) e.taskInfo.accumulables.foreach { ai =>
        (ai.name, ai.update) match {
          case (Some(n), Some(v: java.lang.Long)) if n.startsWith("graft.") =>
            a.acc(n) = a.acc.getOrElse(n, 0L) + v
          case _ =>
        }
      }
    }
  }
}
