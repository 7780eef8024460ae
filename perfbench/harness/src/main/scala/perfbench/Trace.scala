package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into graft, recorded from the benchmark's side. */
final case class Span(
    id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Int)

/** Spans around every call the harness makes into graft. With tracing off
  * nothing is recorded and `span` only runs its body. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += null
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, t0, System.nanoTime(), parent, op)
        open = open.tail
      }
    }
}

/** Per-operation execution counters, keyed by the job group the harness
  * sets around each operation, plus the planning phases and plan shape of
  * every query execution that completes while the operation runs. */
final class ExecStats extends SparkListener with QueryExecutionListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskBusyMs = 0L
    var scanBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var spill = 0L; var peakExecMem = 0L
    var queries = 0L; var analysisMs = 0L; var optimizationMs = 0L
    var planningMs = 0L; var exchanges = 0L; var nonCodegenOps = 0L
    var scannedRoots = Set.empty[String]
  }
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  @volatile var current: String = null

  def counters(group: String): Counters = synchronized {
    byGroup.getOrElseUpdate(group, new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).orNull
    if (g != null) {
      counters(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(counters(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = counters(g)
      c.tasks += 1
      c.taskBusyMs += m.executorRunTime
      c.scanBytes += m.inputMetrics.bytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.diskBytesSpilled
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(
      funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val g = current
    if (g != null) synchronized {
      val c = counters(g)
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      c.queries += 1
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      val plan = qe.executedPlan
      c.exchanges += ExecStats.count(plan) {
        case _: Exchange | _: ReusedExchangeExec => true
        case _ => false
      }
      c.nonCodegenOps += ExecStats.nonCodegen(plan, inCodegen = false)
      c.scannedRoots ++= ExecStats.scanRoots(qe)
    }
  }

  override def onFailure(
      funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object ExecStats {
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case other => other.children
  }

  def count(p: SparkPlan)(f: SparkPlan => Boolean): Int =
    (if (f(p)) 1 else 0) + children(p).map(count(_)(f)).sum

  /** Physical operators that run outside whole-stage codegen, not counting
    * the adaptive-execution and exchange wrappers every plan has. */
  def nonCodegen(p: SparkPlan, inCodegen: Boolean): Int = p match {
    case w: WholeStageCodegenExec => nonCodegen(w.child, inCodegen = true)
    case i: InputAdapter => nonCodegen(i.child, inCodegen = false)
    case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: Exchange |
        _: ReusedExchangeExec | _: AQEShuffleReadExec =>
      children(p).map(nonCodegen(_, inCodegen)).sum
    case other =>
      (if (inCodegen) 0 else 1) +
        other.children.map(nonCodegen(_, inCodegen)).sum
  }

  /** Root paths of the file relations an execution read. */
  def scanRoots(qe: QueryExecution): Set[String] =
    qe.optimizedPlan.collectLeaves().flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }.toSet
}
