package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Mv, Resample, Reshape}
import graft.pipeline.Pipeline
import graft.sources.{Tx, VersionedCache}
import graft.sources.tx.TxScan

/** A response kept for the post-window check: the request, the table
  * version it was served at, and the rows it returned.
  */
final case class Sample(req: JsonNode, version: Long, rows: Seq[Row])

/** Row-set comparison for the response checks: rows are sorted, doubles
  * compared to a relative 1e-9 (an average summed in another partition
  * order may differ in the last bits), everything else exactly.
  */
object Compare {
  private def key(r: Row) = r.toSeq.map(v => if (v == null) "" else v.toString).mkString("\u0001")

  def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a.size == b.size && a.sortBy(key).zip(b.sortBy(key)).forall { case (x, y) =>
      x.length == y.length && x.toSeq.zip(y.toSeq).forall {
        case (p: Double, q: Double) =>
          (p.isNaN && q.isNaN) || p == q ||
            math.abs(p - q) <= 1e-9 * math.max(math.abs(p), math.abs(q))
        case (p, q) => p == q
      }
    }
}

/** The scheduled ETL job with its dashboard: each cycle commits one landing
  * batch (transform → keyed merge → rollup follow), then serves a few reads
  * of the mix: cached charts, rollup reads, hash-pruned `_id` point
  * lookups, zone-map range reads and time-travel reads of older versions.
  */
final class IngestServe(r: Run, in: String, out: String) {
  private val spark = r.spark
  private val batches = Inputs.files(s"$in/batches")
  private val root = Inputs.json(s"$in/requests.json")
  private val reqs = root.get("requests")
  private val readsPerCommit = root.get("reads_per_commit").asInt
  private val gen = s"$out/tables/gen"
  private val rollup = s"$out/tables/rollup"
  private val cache = new VersionedCache(() => Tx.read(spark, gen), () => Tx.latest(gen).get.version)
  private var nextBatch = 0
  private var cacheGets = 0
  private val versions = mutable.ArrayBuffer.empty[Long]
  private val committed = mutable.ArrayBuffer.empty[String]
  private val samples = mutable.ArrayBuffer.empty[Sample]

  private def follow(): Long = Mv.followChanges(spark, gen, rollup, Seq("bucket_h"),
    adds = Seq("n_rows" -> lit(1L), "sum_gen" -> col("gen")), support = "n_rows",
    project = df => df
      .withColumn("bucket_h", date_trunc("hour", col("DATETIME")).cast("timestamp_ntz"))
      .withColumn("gen", col("GENERATION").cast("long"))
      .select("bucket_h", "gen", "_change"),
    nBuckets = 8)

  /** Hand one landing file over: its rows are visible in the table and in
    * the rollup when this returns. Buckets are hashed on `_id` and carry
    * DATETIME zone maps, the reference table's layout.
    */
  private def commit(file: String): Unit = {
    val res = r.tr("pipeline.transform")(Pipeline.transform(Inputs.landing(spark, file)))
    val before = if (r.traced) Tx.latest(gen) else None
    versions += r.tr("tx.commit")(Tx.commitMerge(spark, gen, res.clean, Seq("_id"),
      nBuckets = 16, statsCols = Seq("DATETIME")))
    res.release()
    if (r.traced) {
      val after = Tx.latest(gen).get.dirs
      val old = before.fold(Map.empty[Int, String])(_.dirs)
      r.observe("tx.buckets_rewritten", after.count { case (b, d) => !old.get(b).contains(d) })
    }
    r.tr("mv.follow")(follow())
    committed += file.stripPrefix(s"$in/")
  }

  private def dateRange(req: JsonNode) =
    col("DATETIME").between(lit(req.get("start").asText).cast("timestamp"),
      lit(req.get("end").asText).cast("timestamp"))

  /** The chart: resample then date-filter, then wide → long. */
  private def chart(table: DataFrame, req: JsonNode): DataFrame =
    Reshape.unpivot(
      Resample.resampleThenFilter(table, "DATETIME", req.get("every").asText,
        req.get("start").asText, req.get("end").asText),
      Seq("DATETIME"), req.get("cols").elements().asScala.map(_.asText).toSeq)

  private def scan(tag: String, version: Option[Long]) = {
    val rd = spark.read.format("graft-tx").option("scanTag", tag)
    version.fold(rd)(v => rd.option("version", v)).load(gen)
  }

  private def pointFilter(req: JsonNode) =
    col("_id").isin(req.get("ids").elements().asScala.map(_.asLong).toSeq: _*)

  private def travelFrame(t: DataFrame, req: JsonNode) =
    Resample.downsample(t.filter(dateRange(req)), "DATETIME", "1d")

  private def rollupFrame(t: DataFrame, req: JsonNode) =
    t.filter(col("bucket_h").between(
      lit(req.get("start").asText).cast("timestamp_ntz"),
      lit(req.get("end").asText).cast("timestamp_ntz")))
      .select("bucket_h", "n_rows", "sum_gen")

  /** The hourly rollup recomputed from the table itself. */
  private def rollupOf(t: DataFrame) =
    t.groupBy(date_trunc("hour", col("DATETIME")).cast("timestamp_ntz").as("bucket_h"))
      .agg(count(lit(1)).as("n_rows"), sum(col("GENERATION").cast("long")).as("sum_gen"))

  private def read(i: Int): Unit = {
    val req = reqs.get(i % reqs.size)
    val kind = req.get("kind").asText
    val tag = s"read$i"
    var version = versions.last
    var rows: Seq[Row] = Nil
    r.op("read") {
      rows = kind match {
        case "dash" =>
          if (r.isTiming) cacheGets += 1
          val table = r.tr("cache.get")(cache.get())
          r.tr("dashboard.query")(chart(table, req).collect().toSeq)
        case "rollup" =>
          r.tr("tx.read")(rollupFrame(Tx.read(spark, rollup), req).collect().toSeq)
        case "point" =>
          r.tr("tx.read")(scan(tag, None).filter(pointFilter(req)).collect().toSeq)
        case "range" =>
          r.tr("tx.read")(scan(tag, None).filter(dateRange(req)).collect().toSeq)
        case "travel" =>
          version = versions(math.max(0, versions.size - 1 - req.get("back").asInt))
          r.tr("tx.read")(travelFrame(scan(tag, Some(version)), req).collect().toSeq)
      }
    }
    if (kind != "dash")
      r.observe("tx.buckets_read_ratio", TxScan.lastPlanned(tag).fold(1.0) {
        case (kept, total) => kept.toDouble / math.max(1, total) })
    if (r.isTiming) samples += Sample(req, version, rows)
  }

  private def cycle(): Unit = {
    val t0 = System.nanoTime()
    val b = nextBatch
    nextBatch += 1
    r.op("commit")(commit(batches(b % batches.size)))
    (0 until readsPerCommit).foreach(k => read(b * readsPerCommit + k))
    r.cycle((System.nanoTime() - t0) / 1e9)
  }

  /** The initial load, then `warmups` full cycles. */
  def setup(warmups: Int): Unit = {
    def secs(body: => Unit) = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    r.facts("setup_ops_s") = secs(commit(s"$in/history.parquet")) +: (0 until warmups).map(_ => secs(cycle()))
  }

  def timed(seconds: Double): Unit = {
    val loads0 = cache.loads
    r.window(seconds)(cycle())
    r.facts("rows_per_batch") = root.get("rows_per_batch").asInt
    r.layers("cache.hit_ratio") =
      if (cacheGets == 0) 0.0 else 1.0 - (cache.loads - loads0).toDouble / cacheGets
  }

  /** Every response of the timed window against a recomputation at the
    * same version with no VersionedCache and no pruning (`Tx.read` lists
    * every bucket of the snapshot, read once per version; a rollup read is
    * recomputed from the table), then the final table and rollup for the
    * oracle.
    */
  def check(): Unit = {
    if (samples.isEmpty) r.failures += "no read completed in the timed window, so none was checked"
    samples.groupBy(_.version).foreach { case (v, group) =>
      val base = Tx.read(spark, gen, v).persist()
      group.foreach { s =>
        val expect = (s.req.get("kind").asText match {
          case "dash" => chart(base, s.req)
          case "rollup" => rollupFrame(rollupOf(base), s.req)
          case "point" => base.filter(pointFilter(s.req))
          case "range" => base.filter(dateRange(s.req))
          case "travel" => travelFrame(base, s.req)
        }).collect().toSeq
        if (!Compare.same(s.rows, expect))
          r.failures += s"read at v$v differs from its recomputation: ${s.req}"
      }
      base.unpersist()
    }
    r.facts("checked_reads") = samples.size
    Tx.read(spark, gen).coalesce(1).write.parquet(s"$out/check/table")
    Tx.read(spark, rollup).coalesce(1).write.parquet(s"$out/check/rollup")
    Main.writeJson(s"$out/check/committed.json", committed.toSeq)
  }
}
