package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Component

/** Persisted incremental connected-components store — the IDENTITY
  * member of the mergeable-store family (HLL = distinct, CMS =
  * frequency, Hist = distribution, Minhash = near-dup fingerprints):
  * entity-resolution clusters maintained across edge-batch arrivals
  * (new linkage pairs, new duplicate evidence) without recomputing
  * components over the full edge history.
  *
  * The store keeps a spanning-FOREST snapshot, not the edge log: a
  * component's (id → rep) star rows are connectivity-equivalent to
  * every edge that produced it, so folding a new batch runs the star
  * algorithm over |V| forest rows + |batch| new edges — the full edge
  * history (potentially edges ≫ V: every pair of a hot entity) is
  * never replayed. This is the classic union-find-as-dataframe shape
  * and the reason the store survives 100 TB of accumulated evidence.
  *
  * Layout under `path`:
  *  - `forest/`  — (id, rep) star snapshot (one shard after write/
  *    compact; appends do NOT touch it).
  *  - `pending/` — raw (id_a, id_b) edge shards appended since the
  *    last fold; append is a batch-scale write, no global work.
  *
  * [[components]] answers from forest ∪ pending (one star-algorithm
  * run over forest rows + pending backlog — exact at every point);
  * [[compactStore]] folds pending into a fresh one-shard forest so
  * reads stop paying the backlog. Appends are visible immediately;
  * compaction is a maintenance-window rewrite through
  * [[graft.store.Component.replace]].
  */
object CcStore {

  /** Build the store from an initial edge set (overwrites `path`). */
  def write(edges: DataFrame, path: String): Unit = {
    val labels = Dedup.canonicalizeCc(
      edges.select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b")))
    labels.write.mode("overwrite").parquet(s"$path/forest")
    graft.plans.Blocks.free(labels)
    Component.delete(edges.sparkSession, s"$path/pending")
  }

  /** Append an edge batch: a batch-scale parquet write, no global
    * recompute — the fold happens lazily at [[components]] /
    * [[compactStore]]. Self-loops are dropped; the batch may mention
    * ids the store has never seen (new singletons-with-evidence). */
  def append(edges: DataFrame, path: String): Unit =
    edges.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b"))
      .where(col("id_a") =!= col("id_b"))
      .write.mode("append").parquet(s"$path/pending")

  /** Current exact components: (id, rep = component min), one row per
    * id that has ever appeared in an edge. Cost: one star-algorithm
    * run over |V| forest rows + the pending backlog — independent of
    * the historical edge count. */
  def components(spark: SparkSession, path: String): DataFrame = {
    val forest = spark.read.parquet(s"$path/forest")
      .select(col("id").as("id_a"), col("rep").as("id_b"))
    val all = Component.readIfExists(spark, s"$path/pending")
      .fold(forest)(forest.unionByName(_))
    // star rows include rep self-rows only implicitly (rep appears as
    // id_b); canonicalizeCc emits every endpoint, so reps re-surface.
    // Roots of singleton-free components are fine; ids that were only
    // ever self-looped never entered the store by contract.
    Dedup.canonicalizeCc(all.where(col("id_a") =!= col("id_b")))
  }

  /** Streaming edge ingest — the stream twin of [[append]]: each
    * micro-batch's (id_a, id_b) pairs land in the pending log, and
    * every `compactEvery` batches the backlog folds into the forest
    * so [[components]] reads stay bounded by |V| + recent backlog
    * (the CmsStore in-stream-compaction pattern). The store must be
    * [[write]]-initialized (possibly from an empty edge frame).
    *
    * Failure semantics: foreachBatch is at-least-once, and a replayed
    * batch re-appends its edges — which is HARMLESS here: connected
    * components are idempotent under edge duplication (the star
    * algorithm distincts its input), so no batchId bookkeeping is
    * needed for correctness; duplicates cost pending bytes until the
    * next compaction reclaims them. */
  def ingestStream(edges: DataFrame, path: String, checkpoint: String,
                   compactEvery: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        append(batch, path)
        if (compactEvery > 0 && id > 0 && id % compactEvery == 0)
          compactStore(batch.sparkSession, path)
        ()
      }
      .start()

  /** Fold the pending backlog into a fresh one-shard forest snapshot
    * and clear it. Returns a manifest (component, rows). */
  def compactStore(spark: SparkSession, path: String): DataFrame = {
    val folded = components(spark, path)
    Component.replace(spark, path, "forest") { tmp =>
      folded.coalesce(1).write.parquet(s"$tmp/forest")
    }
    graft.plans.Blocks.free(folded)
    Component.delete(spark, s"$path/pending")
    Component.manifest(spark, Component.rows(spark, path, "forest"),
      "pending" -> 0L)
  }
}
