package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.Text
import graft.operators.{Pq, Similarity, TextDedup}

/** One result set of a curation job, with the schema it was produced under. */
final case class Result(schema: StructType, rows: Seq[Row])

/** The LLM-data batch job over a seeded corpus: near-dup clusters (q73
  * composition), Jaccard prefix-join pairs (q176) and IVF-PQ top-k (q143)
  * plus a multi-probe top-k through TopKPerGroup (q145 shape).
  */
final class CurationBatch(r: Run, in: String, out: String) {
  private val Dim = 64
  private val K = 10
  private var reference: Option[Seq[Result]] = None
  private var lastCodebooks: DataFrame = _

  private def spark = r.spark
  private def docs = spark.read.parquet(s"$in/corpus/documents.parquet").select("doc_id", "text")
  private def emb = spark.read.parquet(s"$in/corpus/embeddings.parquet")
  private val probeIds: Seq[Long] =
    Inputs.json(s"$in/probes.json").get("probes").elements().asScala.map(_.asLong).toSeq

  /** The planted copies q73/q176 add on top of the corpus. */
  private def augmented = {
    val d = docs
    d.unionByName(d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), expr("substring(text, 15)").as("text")))
      .unionByName(d.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
  }

  private def shingled =
    augmented.withColumn("toks", Text.tokens(col("text")))
      .withColumn("shingles", TextDedup.shingles(col("toks"), 3))
      .withColumn("shash", TextDedup.shingleHashes("toks", 3))

  private def ivf(e: DataFrame) = {
    val centroids = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_emb"))
    val assigned = r.tr("similarity.ivf_assign")(Similarity.ivfAssign(
      e.select("vec_id", "embedding"), "vec_id", "embedding", centroids))
    val probeBuckets = e.filter(col("vec_id") === 0)
      .crossJoin(broadcast(centroids))
      .withColumn("__dist", Similarity.l2sq(col("embedding"), col("centroid_emb")))
      .orderBy(col("__dist").asc, col("centroid_id").asc)
      .limit(4)
      .select(col("centroid_id").as("probe_bucket"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(probeBuckets), col("centroid_id") === col("probe_bucket"))
      .select("vec_id", "embedding")
  }

  private def probesSv(e: DataFrame) =
    Pq.subVectorsFp(e.filter(col("vec_id").isin(probeIds: _*)), "vec_id", "embedding", 4, Dim)
      .select(col("vec_id").as("probe_id"), col("sub"), col("v"))

  private def result(df: DataFrame) = Result(df.schema, df.collect().toSeq)

  /** One curation job; returns its four result sets. */
  private def job(): Seq[Result] = {
    val sh = shingled
    val pairs = r.tr("textdedup.lsh")(
      TextDedup.minhashLshPairs(sh, "doc_id", "shash", k = 8, bandRows = 2, threshold = 0.5))
    val clusters = r.tr("textdedup.cc")(result(
      TextDedup.connectedComponents(pairs, "doc_a", "doc_b").orderBy("doc_id")))
    val prefix = r.tr("textdedup.prefix_join")(result(
      TextDedup.prefixFilterJaccardPairs(sh, "doc_id", "shash", tNum = 7, tDen = 10)
        .orderBy("doc_a", "doc_b")))
    val e = emb
    val pruned = ivf(e)
    val cb = r.tr("pq.train")(Pq.localized(Pq.trainCodebooks(e, "vec_id", "embedding", 4, Dim, 8, 1)))
    lastCodebooks = cb
    val codes = r.tr("pq.encode")(Pq.encode(pruned, "vec_id", "embedding", cb, 4, Dim))
    val probeSv = Pq.subVectorsFp(e.filter(col("vec_id") === 0), "vec_id", "embedding", 4, Dim)
      .select("sub", "v")
    val top = r.tr("pq.adc_topk")(result(Pq.adcTopK(codes, "vec_id", cb, probeSv, K)))
    val allCodes = r.tr("pq.encode")(Pq.encode(e, "vec_id", "embedding", cb, 4, Dim))
    val multi = r.tr("pq.adc_topk")(result(
      Pq.adcTopKPerProbe(allCodes, "vec_id", cb, probesSv(e), K)
        .orderBy("probe_id", "adc_d", "vec_id")))
    r.observe("plans.topk_rows_out", multi.rows.size)
    Seq(clusters, prefix, top, multi)
  }

  private def runJob(): Unit = {
    var got: Seq[Result] = Nil
    r.op("job") { got = job() }
    if (got.nonEmpty) reference match {
      case None => reference = Some(got)
      case Some(ref) =>
        if (got.map(_.rows) != ref.map(_.rows)) r.failures += "job output differs from the first job's"
    }
  }

  /** The cold first job, whose results are the reference, then `warmups`
    * more.
    */
  def setup(warmups: Int): Unit = r.facts("setup_ops_s") = (0 to warmups).map { _ =>
    val t0 = System.nanoTime()
    runJob()
    (System.nanoTime() - t0) / 1e9
  }

  def timed(seconds: Double): Unit = r.window(seconds)(runJob())

  /** The first job's results go to the DuckDB oracle (q73, q176, q143);
    * the TopKPerGroup multi-probe results are checked per probe against
    * the global-sort top-k of that probe alone.
    */
  def check(): Unit = {
    val ref = reference.get
    Seq("q73_dedup_clusters", "q176_prefix_join", "q143_ivfpq_topk").zipWithIndex.foreach {
      case (q, i) => spark.createDataFrame(ref(i).rows.asJava, ref(i).schema).coalesce(1)
        .write.parquet(s"$out/check/$q")
    }
    val oracle = graft.SparkEntry.oracleSql
    Main.writeJson(s"$out/check/oracle_sql.json",
      Seq("q73_dedup_clusters", "q176_prefix_join", "q143_ivfpq_topk").map(q => q -> oracle(q)).toMap)
    val e = emb
    val allCodes = Pq.encode(e, "vec_id", "embedding", lastCodebooks, 4, Dim)
    val sv = probesSv(e)
    new scala.util.Random(probeIds.sum).shuffle(probeIds).take(3).foreach { p =>
      val single = Pq.adcTopK(allCodes.filter(col("vec_id") =!= p), "vec_id", lastCodebooks,
        sv.filter(col("probe_id") === p).select("sub", "v"), K)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
      val multi = ref(3).rows.filter(_.getAs[Long]("probe_id") == p)
        .map(x => (x.getAs[Long]("vec_id"), x.getAs[Long]("adc_d")))
      if (single != multi)
        r.failures += s"TopKPerGroup top-$K of probe $p differs from its single-probe top-k"
    }
  }

  /** Traced run only: layer figures that need their own actions, taken
    * after the window so the timed chain keeps its materialisation points.
    */
  def traceExtras(): Unit = {
    val sh = shingled
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      TextDedup.minhashLshPairs(sh, "doc_id", "shash", k = 8, bandRows = 2, threshold = 0.5)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    val lsh = times(1)
    r.layers("textdedup.lsh_s") = lsh
    r.layers("textdedup.cc_s") = math.max(0.0, r.layers("textdedup.cc_s") - lsh)
    val pairs = TextDedup.minhashLshPairs(sh, "doc_id", "shash", 8, 2, 0.5).count()
    val cands = TextDedup.minhashLshCandidates(sh, "doc_id", "shash", 8, 2).count()
    r.layers("textdedup.pair_yield") = if (cands == 0) 0.0 else pairs.toDouble / cands
    val e = emb
    r.layers("similarity.ivf_scan_ratio") =
      ivf(e).count().toDouble / e.filter(col("vec_id") =!= 0).count()
  }

  /** Seconds of one warm job in this session (for the parallel speed-up). */
  def timeOneJob(): Double = {
    job()
    val t0 = System.nanoTime()
    job()
    (System.nanoTime() - t0) / 1e9
  }
}
