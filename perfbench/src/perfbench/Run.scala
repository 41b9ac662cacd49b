package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.perfbenchshim.Drain
import org.apache.spark.sql.SparkSession

final case class OpRec(id: Int, kind: String, startMs: Long, endMs: Long, seconds: Double)

/** Bookkeeping of one benchmark run: the timed closed loop, its op
  * latencies and failures, the set-up time, and in the traced run the
  * spans, listener records and the per-layer metrics derived from them.
  */
final class Run(val spark: SparkSession, val traced: Boolean, val cores: Int) {
  val sc = spark.sparkContext
  val tr = new Tracer(sc, traced)
  val collector: Option[Collector] =
    if (traced) Some(new Collector) else None
  collector.foreach { c =>
    sc.addSparkListener(c)
    spark.listenerManager.register(c)
  }

  val latencies = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  var setupS = 0.0
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Per-op layer observations the workload records in the traced run
    * (bucket counts of a read, buckets a commit rewrote, ...).
    */
  val observed = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var windowS = 0.0
  var checkS = 0.0
  var rssPeakMb = 0.0
  private var timing = false
  private var nextOp = 0
  private var gc0 = 0L

  /** Run one op of the closed loop. Inside the timed window its latency,
    * success and (traced) its spans count; outside it (warm-up) a failure
    * aborts the run.
    */
  def op(kind: String)(body: => Unit): Unit = {
    nextOp += 1
    tr.op = nextOp
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val err = try { tr(kind)(body); None } catch { case NonFatal(e) => Some(e) }
    val dt = (System.nanoTime() - t0) / 1e9
    if (!timing) err.foreach(e => throw e)
    else {
      attempted += 1
      ops += OpRec(nextOp, kind, ms0, System.currentTimeMillis(), dt)
      err match {
        case Some(e) => failures += s"$kind op $nextOp: $e"
        case None => latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
      }
    }
  }

  /** The wall time of one closed-loop cycle (a commit and the reads after
    * it), recorded inside the timed window only.
    */
  def cycle(seconds: Double): Unit =
    if (timing) latencies.getOrElseUpdate("cycle", mutable.ArrayBuffer.empty) += seconds

  def observe(name: String, v: Double): Unit =
    if (timing && traced) observed.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def isTiming: Boolean = timing

  /** Time the set-up: table build and warm-up ops. */
  def setup(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setupS = (System.nanoTime() - t0) / 1e9
  }

  /** Time the post-window output checks that run in the JVM. */
  def check(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    checkS = (System.nanoTime() - t0) / 1e9
  }

  /** The timed window: run `step` until `seconds` have passed. */
  def window(seconds: Double)(step: => Unit): Unit = {
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heap.foreach(_.resetPeakUsage())
    gc0 = gcMillis
    timing = true
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    while (System.nanoTime() < end) step
    windowS = (System.nanoTime() - t0) / 1e9
    timing = false
    rssPeakMb = Run.vmHwmMb
    if (traced) {
      layers("jvm.gc_s") = (gcMillis - gc0) / 1e3
      layers("jvm.heap_peak_mb") = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
    }
  }

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The per-layer metrics of the traced run, from the spans of the timed
    * ops, the jobs and stages they started and the SQL executions planned
    * inside them.
    */
  def deriveLayers(): Unit = collector.foreach { c =>
    Drain(sc)
    val opIds = ops.map(_.id).toSet
    val spans = tr.spans.filter(s => opIds(s.op)).toSeq
    val byName = spans.groupBy(_.name)
    val jobs = Collector.asSeq(c.jobs).filter(_.owner.exists(o => opIds(o._1)))
    val stageById = Collector.asSeq(c.stages).map(s => s.id -> s).toMap
    val spanOfJob = jobs.flatMap(j => j.owner.map(o => j -> o._2))
    def stagesOf(js: Seq[JobRec]) = js.flatMap(_.stageIds).distinct.flatMap(stageById.get)
    def jobsUnder(name: String) = {
      val ids = byName.getOrElse(name, Nil).map(_.id).toSet
      spanOfJob.collect { case (j, s) if ids(s) => j }
    }
    // per op that entered the layer: seconds, jobs, and stage sums
    def perOp(name: String, v: Double) = {
      val n = byName.getOrElse(name, Nil).map(_.op).distinct.size
      if (n == 0) 0.0 else v / n
    }
    def secondsIn(name: String) = perOp(name, byName.getOrElse(name, Nil).map(_.seconds).sum)
    def jobsIn(name: String) = perOp(name, jobsUnder(name).size.toDouble)
    def mean(name: String) = observed.get(name).filter(_.nonEmpty).fold(0.0)(xs => xs.sum / xs.size)

    layers("pipeline.transform_s") = secondsIn("pipeline.transform")
    layers("pipeline.jobs") = jobsIn("pipeline.transform")
    layers("tx.commit_s") = secondsIn("tx.commit")
    layers("tx.commit_jobs") = jobsIn("tx.commit")
    layers("tx.bytes_written_per_commit") =
      perOp("tx.commit", stagesOf(jobsUnder("tx.commit")).map(_.outputBytes).sum.toDouble)
    layers("tx.buckets_rewritten_per_commit") = mean("tx.buckets_rewritten")
    layers("mv.follow_s") = secondsIn("mv.follow")
    layers("mv.follow_jobs") = jobsIn("mv.follow")
    layers("tx.read_s") = secondsIn("tx.read")
    layers("tx.buckets_read_ratio") = mean("tx.buckets_read_ratio")
    layers("tx.scan_bytes_per_read") =
      perOp("tx.read", stagesOf(jobsUnder("tx.read")).map(_.inputBytes).sum.toDouble)
    layers("cache.get_s") = secondsIn("cache.get")
    layers("dashboard.query_s") = secondsIn("dashboard.query")
    layers("textdedup.cc_s") = secondsIn("textdedup.cc")
    layers("textdedup.cc_jobs") = jobsIn("textdedup.cc")
    layers("textdedup.prefix_join_s") = secondsIn("textdedup.prefix_join")
    layers("pq.train_s") = secondsIn("pq.train")
    layers("pq.adc_topk_s") = secondsIn("pq.adc_topk")

    val execs = Collector.asSeq(c.execs)
    val topk = execs.filter(e => ops.exists(o => e.plannedMs >= o.startMs && e.plannedMs <= o.endMs))
      .map(_.metrics.getOrElse("TopKPerGroup.rowsIn", 0L)).sum
    layers("plans.topk_rows_in") = perOp("pq.adc_topk", topk.toDouble)
    layers("plans.topk_rows_out") = mean("plans.topk_rows_out")

    // Spark-level view per op: every timed op, whatever its kind
    val records = ops.map { o =>
      val js = jobs.filter(_.owner.exists(_._1 == o.id))
      val st = stagesOf(js)
      val ex = execs.filter(e => e.plannedMs >= o.startMs && e.plannedMs <= o.endMs)
      val busy = Intervals.union(st.map(s =>
        (math.max(s.submitMs, o.startMs), math.min(s.doneMs, o.endMs))))
      OpStats(o, js.size, st, ex, math.max(0.0, o.seconds - busy / 1e3))
    }
    val n = math.max(1, records.size).toDouble
    val allStages = records.flatMap(_.stages)
    layers("spark.jobs_per_op") = records.map(_.jobs).sum / n
    layers("spark.stages_per_op") = allStages.size / n
    layers("spark.tasks_per_stage") =
      if (allStages.isEmpty) 0.0 else allStages.map(_.tasks).sum.toDouble / allStages.size
    layers("spark.planning_s") = records.flatMap(_.execs).map(_.planningS).sum / n
    layers("spark.driver_gap_s") = records.map(_.gapS).sum / n
    layers("spark.shuffle_bytes_per_op") = allStages.map(_.shuffleWrite).sum / n
    layers("spark.spill_bytes") = allStages.map(_.spill).sum / n
    layers("spark.executor_busy_ratio") =
      allStages.map(_.runMs).sum / 1e3 / (cores * math.max(windowS, 1e-9))
    opStats = records.toSeq
  }

  var opStats: Seq[OpStats] = Nil
}

final case class OpStats(op: OpRec, jobs: Int, stages: Seq[StageRec],
    execs: Seq[ExecRec], gapS: Double)

object Run {
  /** Peak resident set of this process (VmHWM), in MB. */
  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
