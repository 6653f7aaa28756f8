package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Tombstones

/** Persisted EMBEDDING store — [[MinhashStore]]'s twin at the semantic
  * layer: fingerprint the corpus once as a cell-partitioned IVF index,
  * then near-dedup every arriving batch against the full history with
  * a partition-pruned probe — incremental SemDeDup as a running
  * service. Surface-text dedup misses paraphrases and translations;
  * this catches anything whose EMBEDDING collides, at the cost of
  * IVF's nprobe recall (a dup landing in an unprobed cell escapes —
  * raise nprobe or run the MinhashStore twin alongside for the
  * exact-surface tier).
  *
  * The store IS a [[Knn.writeIvfIndex]] store, and its lifecycle is
  * Knn's IVF lifecycle: build with [[Knn.writeIvfIndex]], backfill with
  * [[Knn.appendIvfIndex]], tombstone with [[Knn.deleteFromIvfIndex]]
  * (probes stop reporting the ids immediately), reclaim bytes with
  * [[Knn.compactIvfStore]] / [[Knn.maintainIvfStore]]. This object adds
  * only the dedup surface — [[probe]], [[ingest]], [[ingestStream]] —
  * and [[drift]], which measures centroid staleness: appends assign
  * against frozen centroids, so rising drift is the signal to schedule
  * the periodic full rebuild on the accumulated corpus, the standard
  * IVF maintenance trade.
  */
object EmbeddingStore {

  /** Semantic near-dup hits between batch docs and store docs:
    * (id_new, id_store, sim >= tau). k=1 suffices for detection — the
    * TOP neighbor beats every other, so "best >= tau" is exactly
    * "any >= tau". The probe reads ~nprobe/c of the store
    * (partition-pruned; plan-asserted in Knn's specs). [[Knn.searchIvf]]
    * drops the store's tombstoned ids from the cells scan BEFORE top-k
    * ranking — post-ranking masking would let a deleted doc eat the one
    * rank slot and hide a live dup. */
  def probe(spark: SparkSession, path: String,
            batch: DataFrame, idCol: String, vecCol: String,
            tau: Double = 0.95, nprobe: Int = 4): DataFrame =
    Knn.searchIvf(spark, path, batch, idCol, vecCol, k = 1, nprobe)
      .where(col("sim") >= tau)
      .select(col("query_id").as("id_new"),
        col("neighbor_id").as("id_store"), col("sim"))

  /** Centroid-drift metric — the rebuild scheduler's input. One row:
    * (n_vectors, mean_drift_micro, max_cell_drift_micro) where a
    * vector's drift is its angular distance to its own cell's centroid,
    * 1 − cos(vec, centroid), in exact integer micro-units (per-row
    * round at 1e-6, then exact integer sums — the q63/q94 cross-engine
    * replay trick, so the metric is bit-stable across engines and
    * runs). Appends assign against FROZEN centroids, so as the data
    * distribution shifts this number rises monotonically in
    * expectation; compare against the post-build baseline and trigger
    * a [[Knn.writeIvfIndex]] rebuild past a ratio threshold
    * (FAISS-style IVF maintenance, made measurable). Cost: one scan of
    * `cells/` joined to the broadcast metadata-scale centroids — no
    * shuffle beyond the 1-row aggregate. Tombstoned rows are excluded
    * (they will leave at the next compaction and should not hold the
    * metric hostage). */
  def drift(spark: SparkSession, path: String): DataFrame = {
    val centroids = broadcast(
      spark.read.parquet(s"$path/centroids")
        .select(col("cell"), col("cvec")))
    val cells = spark.read.parquet(s"$path/cells")
    val live = Tombstones.Default.read(spark, path).fold(cells)(t =>
      cells.join(broadcast(t), cells("id") === t("id"), "left_anti"))
    val microDist = round(
      (lit(1.0) - graft.functions.Vectors.cosine(col("vec"), col("cvec"))) * 1e6)
      .cast("long")
    live.join(centroids, Seq("cell"))
      .select(microDist.as("d"), col("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("n"), sum(col("d")).as("s"))
      // integer FLOOR division (DIV) throughout: double-divide-then-cast
      // truncates in Spark but banker's-rounds in DuckDB — DIV is the
      // one mean both engines compute bit-identically on BIGINTs
      .agg(sum(col("n")).as("n_vectors"),
        expr("sum(s) DIV sum(n)").as("mean_drift_micro"),
        max(expr("s DIV n")).as("max_cell_drift_micro"))
  }

  /** One-call incremental ingest: drop batch docs with a semantic
    * near-dup in the history (or a smaller-id near-dup within the
    * batch itself — brute-force within the increment-scale batch by
    * default; pass planes/dim for LSH-bucketed within-batch pairs on
    * big backfills), append the survivors' vectors, return the
    * surviving rows. `survivorSink` runs BEFORE the append —
    * [[MinhashStore.ingest]]'s retry-safety ordering: a crash between
    * the writes re-emits rows (dedupable by id) instead of silently
    * dropping a batch whose fingerprints landed first. */
  def ingest(batch: DataFrame, idCol: String, vecCol: String, path: String,
             tau: Double = 0.95, nprobe: Int = 4,
             planes: Int = 0, dim: Int = 0, seed: Long = 7L,
             survivorSink: Option[DataFrame => Unit] = None): DataFrame = {
    val spark = batch.sparkSession
    val hits = probe(spark, path, batch, idCol, vecCol, tau, nprobe)
    val pairsWithin = Dedup.embeddingPairs(batch, idCol, vecCol, tau,
      planes = planes, dim = dim, seed = seed)
    val survivors = batch
      .join(hits.select(col("id_new").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .join(pairsWithin.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    survivors.count()
    survivorSink.foreach(_(survivors))
    Knn.appendIvfIndex(survivors, idCol, vecCol, path)
    survivors
  }

  /** Streaming semantic dedup: every micro-batch probed against the
    * store, survivors land in `outDir` and their vectors in the store
    * — the store directory as restart-safe cross-batch state (the
    * unbounded, queryable-at-rest complement of
    * StreamDedup.nearDedupStreamEmbedding's watermark-bounded state
    * store). Survivor-first write order as in [[ingest]]. */
  def ingestStream(stream: DataFrame, idCol: String, vecCol: String,
                   path: String, outDir: String, checkpoint: String,
                   tau: Double = 0.95, nprobe: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val survivors = ingest(batch, idCol, vecCol, path, tau, nprobe,
          survivorSink = Some(df => df.write.mode("append").parquet(outDir)))
        survivors.unpersist(false)
        ()
      }
      .start()
}
