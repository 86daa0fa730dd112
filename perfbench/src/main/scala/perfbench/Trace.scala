package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a layer call made by the benchmark. Times are
  * `System.nanoTime` values. The root span of an op has parent -1. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing for it. One client thread calls it. */
final class Tracer(val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0
  private var op = ""

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** The root span of one op; every span opened inside carries `opId`. */
  def op[T](opId: String)(body: => T): T = {
    op = opId
    span("op")(body)
  }

  def spans: Seq[Span] = done.toSeq
}

object SelfTime {

  /** Total length of the union of `[start, end)` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of each span: its duration minus the part of it that its
    * child spans cover. Over one op's tree the self times sum to the root
    * span's duration when children nest inside their parent. */
  def apply(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> (s.dur - covered)
    }.toMap
  }
}

/** What the Spark engine did during one op, from its own listeners.
  * Times from Spark events are epoch milliseconds. */
final class EngineStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskBusyMs = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val taskMsByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  /** max/median task time of the stage where that ratio is largest,
    * over stages with at least two tasks; 1 when there is none. */
  def worstStageSkew: Double = {
    val ratios = taskMsByStage.values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      ts.max / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** The benchmark's SparkListener + QueryExecutionListener pair, registered
  * only in the traced run. Events accumulate into the current op's
  * [[EngineStats]]; the client drains the listener bus after each op
  * before taking them. */
final class EngineProbe extends SparkListener with QueryExecutionListener {
  private var cur = new EngineStats

  def take(): EngineStats = synchronized {
    val s = cur
    cur = new EngineStats
    s
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { cur.jobs += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val ms = i.finishTime - i.launchTime
    cur.tasks += 1
    cur.taskBusyMs += ms
    cur.taskIntervals += ((i.launchTime, i.finishTime))
    cur.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += ms
    val m = e.taskMetrics
    if (m != null) {
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      cur.spill += m.diskBytesSpilled
      cur.inputBytes += m.inputMetrics.bytesRead
      cur.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      val ms = p.durationMs
      name match {
        case "analysis" => cur.analysisMs += ms
        case "optimization" => cur.optimizationMs += ms
        case "planning" => cur.planningMs += ms
        case _ =>
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}
