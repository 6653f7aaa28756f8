package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.{Component, Maintenance, Tombstones}

/** Persisted MinHash fingerprint store — the dedup analog of the
  * persisted IVF index ([[Knn.writeIvfIndex]]): fingerprint the corpus
  * ONCE, keep signatures and banded LSH keys on disk, and near-dedup
  * every arriving batch against the full history with a probe that
  * never recomputes or reshuffles the store. At 100 TB this is the
  * only viable dedup posture — re-running [[Dedup.minhashLshPairs]]
  * over (corpus + batch) per increment re-pays the corpus scan and the
  * full band shuffle every time, while the store amortizes both to
  * build time (ref behavior this extends: the reference dedups within
  * one dataset per run; incremental arrival is the 100 TB reality).
  *
  * Layout under `path`:
  *   - `params/`        one row: (shingle_n, bands, rows_per_band,
  *                      portable_hash) — the store is self-describing,
  *                      append/probe read these (mirrors centroids
  *                      living beside the IVF cells).
  *   - `sigs/`          (id, sig) MinHash signatures (~0.5 KB/doc).
  *   - `bands/`         (bucket, id) partitioned by band — keys only.
  *   - `bucket_counts/` (band, bucket, n) per write batch; probe-time
  *                      hot-bucket totals come from summing these, so
  *                      the guard needs NO store re-scan.
  *
  * Probe plan shape (the load-bearing property, spec-asserted): the
  * batch's banded keys are BROADCAST into one pass over `bands/` and
  * the shortlisted candidates are broadcast into one pass over
  * `sigs/` — the store contributes two scans and zero exchanges; only
  * batch-scale and candidate-scale rows ever shuffle.
  *
  * Same semantics as [[Dedup.minhashLshPairsAcross]] (batch = left,
  * store = right), including the hot-bucket cap over the COMBINED
  * store+batch bucket size — a bucket viral on either side explodes
  * the cross product.
  */
object MinhashStore {

  private case class Params(shingleN: Int, bands: Int, rowsPerBand: Int,
                            portableHash: Boolean) {
    def k: Int = bands * rowsPerBand
  }

  private def readParams(spark: SparkSession, path: String): Params = {
    val r = spark.read.parquet(s"$path/params").collect()(0)
    Params(r.getAs[Int]("shingle_n"), r.getAs[Int]("bands"),
      r.getAs[Int]("rows_per_band"), r.getAs[Boolean]("portable_hash"))
  }

  /** Build the store from an initial corpus (overwrites `path`). */
  def write(df: DataFrame, idCol: String, textCol: String, path: String,
            shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
            portableHash: Boolean = false): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    Seq((shingleN, bands, rowsPerBand, portableHash))
      .toDF("shingle_n", "bands", "rows_per_band", "portable_hash")
      .write.mode("overwrite").parquet(s"$path/params")
    writeBatch(df, idCol, textCol, path,
      Params(shingleN, bands, rowsPerBand, portableHash), overwrite = true)
  }

  /** Append a batch's fingerprints (same params as the build — read
    * from the store, not re-specified). Typically called after [[probe]]
    * has dropped the batch's duplicates, so the store stays the
    * canonical survivor set. */
  def append(batch: DataFrame, idCol: String, textCol: String,
             path: String): Unit =
    writeBatch(batch, idCol, textCol, path,
      readParams(batch.sparkSession, path), overwrite = false)

  private def writeBatch(df: DataFrame, idCol: String, textCol: String,
                         path: String, p: Params, overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    val signed = Dedup.minhashSigned(df, idCol, textCol, p.shingleN, p.k, p.portableHash)
    // cache the band explosion: it feeds both the bands write and the
    // counts write (keys-only rows, bands× the doc count)
    val banded = Dedup.minhashBanded(signed, p.bands, p.rowsPerBand, p.portableHash)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // sigs vs (bands -> counts) are independent chains over the two
    // cached frames — overlap them (guide §2.6; counts stays behind
    // bands so the banded cache materializes once).
    //
    // Write-side file sizing (round 16, guide §6): the signature stage
    // is now widened to core count when the input scans narrow
    // (Width.widenIfNarrow), so writing the cached frames AT that
    // width would emit width×(bands present per task) band files and
    // width sig files PER BATCH — measured at sf0.1: q82 +109% /
    // q97 +63% wall from file-commit and re-open overhead alone. The
    // bands write repartitions onto the band key (one shuffle partition
    // per band → one file per band per batch, the same discipline
    // compactStore already uses — maintainStore's maxAppendShards
    // trigger stays meaningful), and the sigs write goes through an
    // AQE-sized REBALANCE (tiny batch → one file; a corpus-scale batch
    // coalesces to advisory-sized files, never to one). Both exchanges
    // carry keys-only rows AFTER the cache, so the widened compute
    // stage is untouched.
    graft.plans.DriverPool.awaitAll(df.sparkSession, Seq(
      () => signed.hint("rebalance").write.mode(mode).parquet(s"$path/sigs"),
      () => {
        banded.repartition(col("band"))
          .write.mode(mode).partitionBy("band").parquet(s"$path/bands")
        banded.groupBy("band", "bucket").agg(count(lit(1)).as("n"))
          .write.mode(mode).parquet(s"$path/bucket_counts")
      }))
    banded.unpersist(false)
    signed.unpersist(false)
  }

  /** Tombstone `ids` (one column, same type as the store's id): probes
    * stop reporting them immediately; their bytes are reclaimed at the
    * next [[compactStore]]. Deletion is append-only metadata — no store
    * rewrite happens here, so it is safe to call per-batch (GDPR-style
    * takedowns, retraction feeds). The tombstone set must stay
    * broadcast-scale between compactions (it rides into the probe as a
    * broadcast anti-join); compaction zeroes it. The table is
    * [[graft.store.Tombstones.Default]]. */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    Tombstones.Default.add(ids, col(idCol), path)

  /** Threshold-driven store maintenance (round 15 —
    * [[graft.operators.Knn.maintainIvfStore]]'s fingerprint-store
    * twin, completing the policy matrix): compact when the distinct
    * tombstone-table count (orphans included — they ride every probe's
    * anti-join regardless) exceeds `maxTombstoneFrac` of stored
    * signatures, or when the bands table has accreted more than
    * `maxAppendShards` files (each [[append]]/[[ingest]] batch lands
    * its own shard files AND one more `bucket_counts` shard — the
    * hot-bucket scan pays one per append until compaction; 0
    * disables). Returns Some([[compactStore]] manifest) when
    * maintenance ran, None when within budget. */
  def maintainStore(spark: SparkSession, path: String,
                    maxTombstoneFrac: Double = 0.1,
                    maxAppendShards: Int = 0): Option[DataFrame] =
    Maintenance.run(maxTombstoneFrac,
      rows = spark.read.parquet(s"$path/sigs").select("id").count(),
      tombstones = Tombstones.Default.count(spark, path),
      overBudget = maxAppendShards > 0 &&
        Component.fileStats(spark, path, "bands")
          .agg(sum("n_files")).head().getLong(0) > maxAppendShards
    )(compactStore(spark, path))

  /** Rewrite the store minus tombstones and collapse the per-append
    * `bucket_counts` shards into one exact recount, through
    * [[graft.store.Component.replace]] (run it in a maintenance
    * window). Returns a manifest:
    * (component, rows) for sigs/bands plus the applied tombstone count.
    *
    * Compaction restores the two properties appends and deletes erode:
    * probe-time hot-bucket totals stop over-counting deleted docs (the
    * pre-compact cap is conservative — counts still include tombstoned
    * rows), and the counts scan stops paying one shard per append. */
  def compactStore(spark: SparkSession, path: String): DataFrame = {
    val tomb = Tombstones.Default.read(spark, path)
    val nTomb = tomb.map(_.count()).getOrElse(0L)
    // no broadcast hint here: the probe-path anti-join broadcasts
    // because its candidate frame is batch-scale, but a compaction may
    // carry an arbitrarily large tombstone backlog — let AQE pick
    // broadcast vs shuffle from the actual size
    def minus(df: DataFrame): DataFrame = tomb.fold(df)(t =>
      df.join(t, df("id") === t("id"), "left_anti"))
    Component.replace(spark, path, "sigs", "bands", "bucket_counts") { tmp =>
      minus(spark.read.parquet(s"$path/sigs")).write.parquet(s"$tmp/sigs")
      // one shuffle partition per band → one file per band: compaction
      // coalesces the per-append shard accretion ([[maintainStore]]'s
      // maxAppendShards trigger relies on this resetting the count)
      minus(spark.read.parquet(s"$path/bands"))
        .repartition(col("band"))
        .write.partitionBy("band").parquet(s"$tmp/bands")
      // recount from the compacted bands already on disk — one shard,
      // exact, tombstone-free
      spark.read.parquet(s"$tmp/bands")
        .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
        .write.parquet(s"$tmp/bucket_counts")
    }
    Tombstones.Default.clear(spark, path)
    Component.manifest(spark, Component.rows(spark, path, "sigs"),
      Component.rows(spark, path, "bands"), "tombstones_applied" -> nTomb)
  }

  /** Near-dup pairs between `batch` docs and store docs:
    * (id_new, id_store, est_jaccard >= tau). The batch is assumed
    * increment-scale (broadcastable bands/candidates); the store is
    * unbounded. Tombstoned store docs never surface as pairs (their
    * band keys still count toward the hot-bucket totals until
    * [[compactStore]] — a conservative cap, never a wrong pair). */
  def probe(spark: SparkSession, path: String,
            batch: DataFrame, idCol: String, textCol: String,
            tau: Double = 0.7, maxBucket: Int = 1000): DataFrame = {
    val (verified, signed, banded) =
      probePlanned(spark, path, batch, idCol, textCol, tau, maxBucket)
    Dedup.materializeAndRelease(verified, signed, banded)
  }

  /** The probe plan before materialization (plus the two batch-side
    * caches to release) — split out so the plan-shape spec can assert
    * on the real physical plan rather than a cache-substituted one. */
  private[graft] def probePlanned(spark: SparkSession, path: String,
                                  batch: DataFrame, idCol: String, textCol: String,
                                  tau: Double, maxBucket: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val p = readParams(spark, path)
    val signed = Dedup.minhashSigned(batch, idCol, textCol, p.shingleN, p.k, p.portableHash)
    val banded = Dedup.minhashBanded(signed, p.bands, p.rowsPerBand, p.portableHash)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hot-bucket totals = store counts (prebuilt, summed across appends)
    // + batch counts. The store counts table is corpus-keyed, so it is
    // first semi-filtered down to the batch's buckets (broadcast) —
    // buckets the batch never touches can't produce pairs.
    val batchCounts = banded.groupBy("band", "bucket").agg(count(lit(1)).as("bn"))
    val storeCounts = spark.read.parquet(s"$path/bucket_counts")
      .join(broadcast(batchCounts.select("band", "bucket")),
        Seq("band", "bucket"), "left_semi")
      .groupBy("band", "bucket").agg(sum("n").as("sn"))
    val hot = batchCounts
      .join(storeCounts, Seq("band", "bucket"), "left")
      .where(coalesce(col("sn"), lit(0L)) + col("bn") > maxBucket)
      .select("band", "bucket")
    val capped = banded.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      .select(col("band"), col("bucket"), col("id").as("id_new"))
    // ONE pass over the store's banded keys: batch keys broadcast in.
    // Store rows in hot buckets drop out automatically (capped excludes
    // those buckets, so the join produces nothing for them).
    val candRaw = spark.read.parquet(s"$path/bands")
      .join(broadcast(capped), Seq("band", "bucket"))
      .where(col("id") =!= col("id_new"))
      .select(col("id_new"), col("id").as("id_store")).distinct()
    // Tombstoned docs drop out of the candidate set here (broadcast
    // anti-join over the small candidate frame) — deleted history can
    // never re-surface as a pair even before compaction reclaims it.
    val cand = Tombstones.Default.read(spark, path).fold(candRaw)(t =>
      candRaw.join(broadcast(t), candRaw("id_store") === t("id"), "left_anti"))
    // ONE pass over the store's signatures: candidates broadcast in,
    // then the (small) matched set joins the batch signatures.
    val verified = spark.read.parquet(s"$path/sigs")
      .select(col("id").as("id_store"), col("sig").as("sig_store"))
      .join(broadcast(cand), Seq("id_store"))
      .join(broadcast(signed.select(col("id").as("id_new"), col("sig").as("sig_new"))),
        Seq("id_new"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_new"), col("sig_store"),
          (x, y) => (x === y).cast("int")), v => v === 1)).cast("double")
          / lit(p.k).cast("double"))
      .where(col("est_jaccard") >= tau)
      .select(col("id_new"), col("id_store"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
    (verified, signed, banded)
  }

  /** Streaming incremental dedup: every micro-batch is probed against
    * the store and only the survivors' rows land in `outDir` (and
    * their fingerprints in the store) — the fingerprint store as a
    * running service. The store DIRECTORY is the cross-batch state:
    * the stream holds no in-memory dedup state, restarts resume from
    * disk under the checkpoint contract, and a doc that duplicates
    * anything ingested in ANY earlier batch is dropped. Pair with
    * [[graft.sources.Jsonl.readStream]] for landed-shard corpora.
    * (The transformWithState twins in StreamDedup keep state in the
    * state store instead — bounded by watermark; this keeps it
    * unbounded and queryable at rest.)
    *
    * Failure semantics: foreachBatch is at-least-once, and the two
    * writes (survivor rows, then fingerprints) are not atomic
    * together. `ingest` writes SURVIVORS FIRST: a crash between the
    * writes means a retried batch re-emits rows whose fingerprints
    * were never recorded (duplicate OUTPUT rows, dedupable by id
    * downstream). The opposite order would be silent DATA LOSS — the
    * retry would find the failed attempt's own fingerprints in the
    * store and drop every doc of the batch. */
  def ingestStream(stream: DataFrame, idCol: String, textCol: String,
                   path: String, outDir: String, checkpoint: String,
                   tau: Double = 0.7, maxBucket: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val survivors = ingest(batch, idCol, textCol, path, tau, maxBucket,
          survivorSink = Some(df => df.write.mode("append").parquet(outDir)))
        survivors.unpersist(false)
        ()
      }
      .start()

  /** One-call incremental ingest: probe the batch against the store,
    * keep only docs with no near-dup in the history (nor a smaller-id
    * near-dup within the batch itself — via [[Dedup.minhashLshPairs]]
    * on the batch alone; dropping every pair's id_b assumes the usual
    * shallow dup clusters — for strict component semantics run
    * [[Dedup.canonicalizeCc]] on the pairs instead), append the
    * survivors' fingerprints, and return the surviving batch rows.
    * `survivorSink`, when given, runs BEFORE the fingerprint append —
    * see [[ingestStream]]'s failure-semantics note for why that order
    * is load-bearing. */
  def ingest(batch: DataFrame, idCol: String, textCol: String, path: String,
             tau: Double = 0.7, maxBucket: Int = 1000,
             survivorSink: Option[DataFrame => Unit] = None): DataFrame = {
    val spark = batch.sparkSession
    val p = readParams(spark, path)
    val probed = probe(spark, path, batch, idCol, textCol, tau, maxBucket)
    val pairsWithin = Dedup.minhashLshPairs(batch, idCol, textCol,
      p.shingleN, p.bands, p.rowsPerBand, tau, maxBucket, p.portableHash)
    val survivors = batch
      .join(probed.select(col("id_new").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .join(pairsWithin.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    survivors.count()
    survivorSink.foreach(_(survivors))
    append(survivors, idCol, textCol, path)
    probed.unpersist(false)
    pairsWithin.unpersist(false)
    survivors
  }
}
