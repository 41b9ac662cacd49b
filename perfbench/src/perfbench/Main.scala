package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.SessionTuning

/** The benchmark's JVM program, started by `perfbench/run.py`:
  *
  *   perfbench.Main <workload> <warmups> <seconds> <trace 0|1> <inDir> <outDir> <cores>
  *
  * Builds the session the way `graft.Bench` does, runs the set-up (the
  * cold first op, then `warmups` warm-up cycles or jobs), the
  * timed closed loop with one client, and the checks that need the
  * engine, then writes
  * `<outDir>/result.json` (and, traced, the span and op JSONL files
  * under `<outDir>/trace`).
  */
object Main {

  /** The `graft.Bench` session: `SessionTuning.tuned` plus the same confs. */
  def session(cores: Int): SparkSession = {
    val spark = SessionTuning.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, warmupsS, secondsS, traceS, in, out, coresS) = args
    val (warmups, seconds, traced, cores) =
      (warmupsS.toInt, secondsS.toDouble, traceS == "1", coresS.toInt)
    val spark = session(cores)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val r = new Run(spark, traced, cores)

    workload match {
      case "ingest_serve" =>
        val w = new IngestServe(r, in, out)
        r.setup(w.setup(warmups))
        w.timed(seconds)
        r.deriveLayers()
        r.check(w.check())
      case "curation_batch" =>
        val w = new CurationBatch(r, in, out)
        r.setup(w.setup(warmups))
        w.timed(seconds)
        r.deriveLayers()
        r.check(w.check())
        if (traced) {
          w.traceExtras()
          val jobs = r.latencies.getOrElse("job", Nil).sorted
          spark.stop()
          // the same job on one core, in a fresh local[1] session
          val one = new CurationBatch(new Run(session(1), false, 1), in, out)
          val t1 = one.timeOneJob()
          if (jobs.nonEmpty) r.layers("spark.parallel_speedup") = t1 / jobs(jobs.size / 2)
        }
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (traced) writeTrace(r, s"$out/trace")
    writeJson(s"$out/result.json", Map(
      "session_s" -> sessionS,
      "setup_s" -> r.setupS,
      "window_s" -> r.windowS,
      "check_s" -> r.checkS,
      "latencies" -> r.latencies.map { case (k, v) => k -> v.toSeq }.toMap,
      "attempted" -> r.attempted,
      "failures" -> r.failures.toSeq,
      "rss_peak_mb" -> r.rssPeakMb,
      "facts" -> r.facts.toMap,
      "layers" -> r.layers.toMap))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Spans (with self time) and per-op listener and SQL-metric records. */
  private def writeTrace(r: Run, dir: String): Unit = {
    val self = r.tr.selfSeconds
    writeLines(s"$dir/spans.jsonl", r.tr.spans.toSeq.map(s => json(Map(
      "span" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
      "self_seconds" -> self(s.id)))))
    writeLines(s"$dir/ops.jsonl", r.opStats.map(o => json(Map(
      "op" -> o.op.id, "kind" -> o.op.kind, "seconds" -> o.op.seconds,
      "jobs" -> o.jobs, "stages" -> o.stages.size,
      "tasks" -> o.stages.map(_.tasks).sum,
      "shuffle_write_bytes" -> o.stages.map(_.shuffleWrite).sum,
      "spill_bytes" -> o.stages.map(_.spill).sum,
      "input_bytes" -> o.stages.map(_.inputBytes).sum,
      "output_bytes" -> o.stages.map(_.outputBytes).sum,
      "planning_s" -> o.execs.map(_.planningS).sum,
      "driver_gap_s" -> o.gapS,
      "sql_metrics" -> o.execs.flatMap(_.metrics).groupMapReduce(_._1)(_._2)(_ + _)))))
  }

  def writeJson(path: String, v: Any): Unit = writeLines(path, Seq(json(v)))

  private def writeLines(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long | _: Boolean) => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }
}
