package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Knn, MinhashStore}

/** The append / probe / compact loop of the two persisted similarity
  * stores: a MinHash fingerprint store fed by `ingest` batches and an IVF
  * vector store fed by `appendIvfIndex` batches, with lookups between
  * batches, then deletes and compaction, then more lookups. Runs once in
  * gate_mix's traced run, on a generated corpus. */
object StoreChurn {
  /** lookups of each kind before the deletes and again after compaction */
  val Lookups = 2
  val ProbeDocs = 8
  val SearchQueries = 4

  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var queries: DataFrame = _
  private var nDocs = 0L
  private var nVecs = 0L
  private var nQueries = 0
  private var deletedDocs: Seq[Long] = Nil
  private var deletedVecs: Seq[Long] = Nil

  def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    docs = spark.read.parquet(s"${ctx.inputs}/corpus/docs.parquet").persist(StorageLevel.MEMORY_ONLY)
    vecs = spark.read.parquet(s"${ctx.inputs}/corpus/vecs.parquet").persist(StorageLevel.MEMORY_ONLY)
    queries = spark.read.parquet(s"${ctx.inputs}/corpus/queries.parquet").persist(StorageLevel.MEMORY_ONLY)
    nDocs = docs.count(); nVecs = vecs.count(); nQueries = queries.count().toInt
    val rng = new scala.util.Random(ctx.seed)
    // a few ids of the initial store halves, tombstoned before compaction
    deletedDocs = rng.shuffle((0L until nDocs / 2).toList).take((nDocs / 40).toInt).sorted
    deletedVecs = rng.shuffle((0L until nVecs / 2).toList).take((nVecs / 40).toInt).sorted
    // warm-up: one call of each store operation on a small slice
    val (mh, ivf) = (ctx.path("mh_warm"), ctx.path("ivf_warm"))
    MinhashStore.write(slice(docs, 0, 200), "id", "text", mh)
    MinhashStore.ingest(slice(docs, 200, 300), "id", "text", mh).unpersist(false)
    MinhashStore.probe(spark, mh, slice(docs, 300, 310), "id", "text").collect()
    Knn.writeIvfIndex(slice(vecs, 0, 200), "id", "vec", ivf)
    Knn.appendIvfIndex(slice(vecs, 200, 300), "id", "vec", ivf)
    Knn.searchIvf(spark, ivf, queries.limit(4), "qid", "vec", k = 10).collect()
    ctx.release()
    Files.delete(mh); Files.delete(ivf)
  }

  private def slice(df: DataFrame, lo: Long, hi: Long) = df.where(col("id") >= lo && col("id") < hi)

  /** One churn cycle: build both stores from the first half of the
    * inputs, ingest / append the second half as one batch, look up,
    * delete a few stored ids, compact, look up again. Keeps the facts the
    * checks compare against the generator's truth. */
  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (mh, ivf) = (ctx.path("mh_store"), ctx.path("ivf_store"))
    val rng = new scala.util.Random(ctx.seed * 31 + 7)
    val (d0, v0) = (nDocs / 2, nVecs / 2)
    ctx.timed("mh_write_s")(MinhashStore.write(slice(docs, 0, d0), "id", "text", mh))
    ctx.timed("ivf_write_s")(Knn.writeIvfIndex(slice(vecs, 0, v0), "id", "vec", ivf))
    val probePairs = scala.collection.mutable.ArrayBuffer.empty[List[Any]]
    val searchHits = scala.collection.mutable.ArrayBuffer.empty[List[Any]]
    def lookups(afterDelete: Boolean): Unit = (0 until Lookups).foreach { _ =>
      val ids = Seq.fill(ProbeDocs)(rng.nextLong(nDocs))
      val pairs = ctx.timed("mh_probe_s")(MinhashStore.probe(spark, mh,
        docs.where(col("id").isin(ids: _*)), "id", "text").collect())
      pairs.foreach(r => probePairs += List(r.getLong(0), r.getLong(1), afterDelete))
      val qs = Seq.fill(SearchQueries)(1000000L + rng.nextInt(nQueries))
      val hits = ctx.timed("ivf_search_s")(Knn.searchIvf(spark, ivf,
        queries.where(col("qid").isin(qs: _*)), "qid", "vec", k = 10).collect())
      hits.foreach(r => searchHits += List(r.getLong(0), r.getLong(1), afterDelete))
      ctx.release()
    }
    val survivors = ctx.timed("mh_ingest_s") {
      val s = MinhashStore.ingest(slice(docs, d0, nDocs), "id", "text", mh)
      try s.select("id").as[Long].collect().toList finally s.unpersist(false)
    }
    ctx.timed("ivf_append_s")(Knn.appendIvfIndex(slice(vecs, v0, nVecs), "id", "vec", ivf))
    ctx.release()
    lookups(afterDelete = false)
    def parquetFiles(dir: String) = Files.walk(dir).filter(_.getName.endsWith(".parquet"))
    ctx.facts("mh_store_files_before") = parquetFiles(mh).size
    ctx.facts("ivf_store_files_before") = parquetFiles(s"$ivf/cells").size
    ctx.timed("mh_delete_s")(MinhashStore.delete(deletedDocs.toDF("id"), "id", mh))
    ctx.timed("ivf_delete_s")(Knn.deleteFromIvfIndex(deletedVecs.toDF("id"), "id", ivf))
    val mhManifest = ctx.timed("mh_compact_s")(MinhashStore.compactStore(spark, mh).collect())
    val cells = Files.list(s"$ivf/cells").map(_.getName).filter(_.startsWith("cell="))
      .map(_.stripPrefix("cell=").toLong)
    ctx.timed("ivf_compact_s")(Knn.compactIvfStore(spark, ivf, extraCells = cells).collect())
    ctx.release()
    lookups(afterDelete = true)

    ctx.facts ++= Seq(
      "mh_store_files_after" -> parquetFiles(mh).size,
      "ivf_store_files_after" -> parquetFiles(s"$ivf/cells").size,
      "store_bytes" -> (parquetFiles(mh) ++ parquetFiles(ivf)).map(_.length).sum,
      "survivors" -> survivors,
      "batch_docs" -> (nDocs - d0), "batch_vecs" -> (nVecs - v0),
      "initial_docs" -> d0, "initial_vecs" -> v0,
      "deleted_docs" -> deletedDocs, "deleted_vecs" -> deletedVecs,
      "mh_live_sigs" -> mhManifest.find(_.getString(0) == "sigs").map(_.getLong(1)).getOrElse(-1L),
      "ivf_live_rows" -> spark.read.parquet(s"$ivf/cells").count(),
      "probe_pairs" -> probePairs.toList, "search_hits" -> searchHits.toList)
    // recall@10 of the final IVF store against exact search over its live rows
    def pairs(df: DataFrame) = df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = pairs(Knn.searchIvf(spark, ivf, queries, "qid", "vec", k = 10))
    val exact = pairs(Knn.bruteForce(spark.read.parquet(s"$ivf/cells").select("id", "vec"),
      "id", "vec", queries, "qid", "vec", 10))
    ctx.facts("ivf_recall_at_10") = (approx intersect exact).size.toDouble / exact.size
    ctx.release()
  }

  def decompose(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val d0 = nDocs / 2
    val batch = slice(docs, d0, nDocs)
    batch.createOrReplaceTempView("perfbench_batch")
    tr.span("functions.minhash_sig")(ctx.noop(spark.sql(
      "SELECT id, minhash_sig(word_shingles(text, 3), 64) AS sig FROM perfbench_batch")))
    val mh = ctx.path("mh_layers")
    Files.delete(mh)
    MinhashStore.write(slice(docs, 0, d0), "id", "text", mh)
    tr.span("operators.mh_probe")(MinhashStore.probe(spark, mh, batch, "id", "text").collect())
    tr.span("operators.mh_within_batch_pairs")(ctx.noop(Dedup.minhashLshPairs(batch, "id", "text")))
    ctx.release()
    tr.span("operators.mh_append")(MinhashStore.append(batch, "id", "text", mh))
    Files.delete(mh)
    ctx.layers ++= Seq(
      "functions.minhash_sig_s" -> tr.total("functions.minhash_sig"),
      "operators.mh_ingest_s" -> ctx.samples("mh_ingest_s").head,
      "operators.mh_probe_s" -> tr.total("operators.mh_probe"),
      "operators.mh_within_batch_pairs_s" -> tr.total("operators.mh_within_batch_pairs"),
      "operators.mh_append_s" -> tr.total("operators.mh_append"),
      "operators.ivf_append_s" -> Stats.median(ctx.samples("ivf_append_s").toSeq),
      "operators.ivf_search_s" -> Stats.median(ctx.samples("ivf_search_s").toSeq),
      "operators.mh_compact_s" -> Stats.median(ctx.samples("mh_compact_s").toSeq),
      "operators.ivf_compact_s" -> Stats.median(ctx.samples("ivf_compact_s").toSeq))
  }
}
