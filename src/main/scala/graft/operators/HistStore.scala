package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted fixed-bin histogram shards — the third member of the
  * mergeable-sketch store family: [[HllStore]] answers DISTINCT,
  * [[CmsStore]] answers FREQUENCY, this answers DISTRIBUTION
  * (quantiles, drift baselines — the reference histogram a
  * [[graft.streaming.StreamMonitor]] compares against). Bin counts
  * are linear, so shards merge by cell-wise ADDITION and every
  * merge/compaction sequence yields exactly the histogram of the
  * concatenated batches — no approximation drift, unlike t-digest
  * style sketches whose merge is order-sensitive.
  *
  * Bins are FIXED-WIDTH integer cells over [`lo`, `lo + bins·width`),
  * per `keyCol` stratum; out-of-range values clamp to the edge bins
  * (bin 0 / bins−1), so the store never drops rows and the clamp rule
  * is a pure integer expression any engine replays. Quantiles are
  * answered by the deterministic lower-edge rule: value(q) = the left
  * edge of the first bin whose cumulative count reaches
  * ceil(q·n) — an exact integer computation, SQL-replayable (q173).
  *
  * 100 TB posture: a shard costs one (key, bin) keys-only shuffle
  * bounded by strata·bins regardless of corpus size; the corpus is
  * never re-read after ingest; compaction bounds the backlog at
  * strata·bins rows. Layout: `path/params` (lo, width, bins),
  * `path/cells` (key, bin, n) across shard files — a
  * [[graft.store.ShardedSketch]] merged by sum.
  */
object HistStore {

  private val sketch = graft.store.ShardedSketch("cells",
    Seq("key", "bin"), "n", sum)

  private def readParams(spark: SparkSession, path: String): (Long, Long, Int) = {
    val r = sketch.params(spark, path)
    (r.getAs[Long]("lo"), r.getAs[Long]("width"), r.getAs[Int]("bins"))
  }

  /** The clamp-to-edge binning rule (replayed verbatim in the q173
    * oracle): least(greatest((v − lo) div width, 0), bins−1). The
    * truncate-vs-floor divide difference on negative (v − lo) is
    * absorbed by the greatest(…, 0) clamp. */
  private[graft] def shard(df: DataFrame, keyCol: String, valueCol: String,
                           lo: Long, width: Long, bins: Int): DataFrame =
    df.select(col(keyCol).as("key"),
        least(greatest(expr(s"(CAST($valueCol AS BIGINT) - ${lo}L) div ${width}L"),
          lit(0L)), lit(bins - 1L)).as("bin"))
      .groupBy("key", "bin").agg(count(lit(1)).as("n"))

  /** Create the store from the first batch (overwrites `path`). */
  def write(df: DataFrame, keyCol: String, valueCol: String, path: String,
            lo: Long, width: Long, bins: Int): Unit = {
    require(width > 0 && bins > 0, "need positive bin width and count")
    import df.sparkSession.implicits._
    sketch.create(Seq((lo, width, bins)).toDF("lo", "width", "bins"),
      shard(df, keyCol, valueCol, lo, width, bins), path)
  }

  /** Ingest another batch as a new shard (append-only cell rows, zero
    * coordination between writers). */
  def append(df: DataFrame, keyCol: String, valueCol: String,
             path: String): Unit = {
    val (lo, width, bins) = readParams(df.sparkSession, path)
    sketch.append(shard(df, keyCol, valueCol, lo, width, bins), path)
  }

  /** Merged cell table (cell-wise sum across all shards) — exactly the
    * histogram of the concatenated batches. */
  def cells(spark: SparkSession, path: String): DataFrame =
    sketch.merged(spark, path)

  /** Per-key quantile read over the merged shards: for each q (in
    * MICROS — 500000 = median), the left edge of the first bin whose
    * cumulative count reaches ceil(q·n / 1e6), clamped into [1, n].
    * Exact integer arithmetic end to end. Output: (key, q_micro, n,
    * bin, value_edge), ordered downstream by the caller. */
  def quantiles(spark: SparkSession, path: String,
                qMicros: Seq[Long]): DataFrame = {
    val (lo, width, _) = readParams(spark, path)
    quantilesFromCells(cells(spark, path), lo, width, qMicros)
  }

  /** [[quantiles]] over an arbitrary merged (key, bin, n) cell frame —
    * the layout-free core, shared with the streaming histogram store
    * ([[graft.streaming.StreamMonitor.histStream]]'s shard cells adapt
    * straight into it). */
  def quantilesFromCells(cellsDf: DataFrame, lo: Long, width: Long,
                         qMicros: Seq[Long]): DataFrame = {
    require(qMicros.nonEmpty && qMicros.forall(q => q >= 0 && q <= 1000000L))
    val spark = cellsDf.sparkSession
    import spark.implicits._
    val qs = qMicros.toDF("q_micro")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy("bin")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = cellsDf
      .withColumn("cum", sum("n").over(w))
      .select("key", "bin", "cum") // per-cell n would collide with tot's
    val tot = cum.groupBy("key").agg(max("cum").as("n"))
    // rank = clamp(ceil(q·n/1e6), 1, n); ceil-divide of a NON-NEGATIVE
    // numerator as (a + b−1) div b — truncating (Spark div) and
    // flooring (DuckDB //) integer division agree on non-negatives,
    // so the idiom is engine-portable where -(-a div b) is not.
    // q_micro·n runs through DECIMAL(38,0) (the ksFromCounts rule):
    // at 1e6 micros a long product overflows past n ≈ 9.2e12 rows —
    // reachable under the store's 100 TB posture. div returns BIGINT.
    cum.join(tot, Seq("key"))
      .crossJoin(broadcast(qs))
      .withColumn("rank",
        least(greatest(expr(
          "(CAST(q_micro AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))" +
            " + 999999) div 1000000"), lit(1L)), col("n")))
      .where(col("cum") >= col("rank"))
      .groupBy("key", "q_micro", "n")
      .agg(min("bin").as("bin"))
      .withColumn("value_edge", lit(lo) + col("bin") * lit(width))
  }

  /** Histogram selectivity estimate — the query-planner read: how
    * many rows per key fall in [`loQ`, `hiQ`) WITHOUT scanning rows?
    * Bins fully inside count whole; the edge bins contribute the
    * standard uniform-within-bin interpolation, in PURE INTEGER
    * micro arithmetic — contribution = (n · overlap) div width with
    * overlap = max(0, min(hiQ, binHi) − max(loQ, binLo)) — so the
    * estimate replays bit-for-bit on any engine (no float density
    * ever). Caveat (standard, documented): the store clamps
    * out-of-range values into edge bins, so estimates touching bin 0
    * or bins−1 include that clamped mass. Companion of
    * [[graft.operators.TextAnalytics.cmsJoinSize]] on the
    * planner-statistics shelf. Output: (key, n_total, est). */
  def estimateRange(spark: SparkSession, path: String,
                    loQ: Long, hiQ: Long): DataFrame = {
    val (lo, width, _) = readParams(spark, path)
    estimateFromCells(cells(spark, path), lo, width, loQ, hiQ)
  }

  /** [[estimateRange]] over an arbitrary merged (key, bin, n) cell
    * frame — the layout-free core ([[quantilesFromCells]]'s sibling). */
  def estimateFromCells(cellsDf: DataFrame, lo: Long, width: Long,
                        loQ: Long, hiQ: Long): DataFrame = {
    require(loQ < hiQ, s"need loQ < hiQ, got [$loQ, $hiQ)")
    val binLo = lit(lo) + col("bin") * lit(width)
    val overlap = greatest(
      least(lit(hiQ), binLo + lit(width)) - greatest(lit(loQ), binLo),
      lit(0L))
    cellsDf
      .withColumn("__ov", overlap)
      .groupBy("key")
      .agg(sum("n").as("n_total"),
        sum(expr(s"(n * __ov) div ${width}L")).as("est"))
  }

  /** Rewrite the shard backlog as one merged shard (reads unchanged —
    * addition is associative). Returns (component, rows) — the
    * [[graft.store.ShardedSketch]] swap. */
  def compactStore(spark: SparkSession, path: String): DataFrame =
    sketch.compact(spark, path)
}
