package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import graft.plans.TopKPerGroupExec

/** One timed interval around a call into a layer. `op` is the cycle,
  * request or job that caused it; `parent` is the enclosing span (-1 for
  * the op's root span).
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory when `on`; otherwise `apply` only runs the
  * body, so untraced runs pay nothing. While a span is open, the Spark
  * jobs it starts carry `op <op> span <id> <name>` as their description
  * and the span name as their call site (the stage name), also when an
  * operator submits them from a pooled thread that captured the caller's
  * local properties.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  var op: Int = -1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, open.headOption.fold(-1)(_.id), op, name,
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      label(Some(s))
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        label(open.headOption)
      }
    }

  private def label(s: Option[Span]): Unit = s match {
    case Some(x) =>
      sc.setJobDescription(s"op ${x.op} span ${x.id} ${x.name}")
      sc.setCallSite(x.name)
    case None =>
      sc.setJobDescription(null)
      sc.clearCallSite()
  }

  /** Self time per span: its duration minus the union of its children. */
  def selfSeconds: Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = Intervals.union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).toSeq)
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

object Intervals {
  /** Total length covered by possibly overlapping [start, end) intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

final case class JobRec(id: Int, desc: String, stageIds: Seq[Int]) {
  /** (op, span) parsed from the description the tracer set, if any. */
  def owner: Option[(Int, Int)] = desc.split(' ') match {
    case Array("op", o, "span", s, _*) => Some((o.toInt, s.toInt))
    case _ => None
  }
}

final case class StageRec(id: Int, submitMs: Long, doneMs: Long, tasks: Int,
    runMs: Long, shuffleWrite: Long, spill: Long, inputBytes: Long, outputBytes: Long)

/** One finished SQL execution: when its planning ended (what ties it to
  * the op that ran it), planning seconds from `QueryExecution.tracker`,
  * and the SQL metrics of the final adaptive plan, summed per operator
  * kind as `<Operator>.<metric>`.
  */
final case class ExecRec(plannedMs: Long, planningS: Double,
    metrics: Map[String, Long])

/** Spark listener and query-execution listener for the traced run: jobs,
  * stages with their task counts, shuffle, spill and IO bytes and
  * intervals, and the per-operator SQL metrics of every action's plan.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val execs = new ConcurrentLinkedQueue[ExecRec]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val desc = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs.add(JobRec(j.jobId, desc, j.stageIds))
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    stages.add(StageRec(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val planned = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.endTimeMs).max
    val planningS = phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
    val sums = mutable.Map.empty[String, Long].withDefaultValue(0L)
    Collector.walk(qe.executedPlan) { p =>
      val kind = p.getClass.getSimpleName.stripSuffix("Exec")
      if (Collector.Kept.exists(kind.contains)) {
        sums(s"$kind.count") += 1
        p.metrics.foreach { case (k, m) => sums(s"$kind.$k") += m.value }
      }
      p match {
        // TopKPerGroup keeps no metrics of its own: the rows entering the
        // partial (per-partition) heaps are its child's output
        case t: TopKPerGroupExec if t.partial =>
          Collector.rowsOut(t.child).foreach(n => sums("TopKPerGroup.rowsIn") += n)
        case _ => ()
      }
    }
    execs.add(ExecRec(planned, planningS, sums.toMap))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Collector {
  /** Operator kinds whose SQL metrics are recorded. */
  val Kept = Seq("Scan", "Exchange", "Sort", "Aggregate", "TopKPerGroup")

  /** Visit every operator of the final plan, descending into adaptive
    * query stages and subqueries; a reused exchange is counted once, at
    * its original.
    */
  def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
    case q: QueryStageExec => walk(q.plan)(f)
    case _: ReusedExchangeExec => ()
    case _ =>
      f(p)
      p.children.foreach(walk(_)(f))
      p.subqueries.foreach(walk(_)(f))
  }

  /** Output rows of `p`, looking through wrappers (codegen stage, input
    * adapter) that keep no row count of their own.
    */
  def rowsOut(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)
      .orElse(if (p.children.size == 1) rowsOut(p.children.head) else None)

  def asSeq[T](q: ConcurrentLinkedQueue[T]): Seq[T] = q.asScala.toSeq
}
