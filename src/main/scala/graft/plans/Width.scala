package graft.plans

import org.apache.spark.sql.DataFrame

/** Stage width sized from input bytes: one task per MiB of input, the
  * same bytes-per-task reasoning as `maxPartitionBytes`, read from
  * Catalyst's plan-stats estimate (`optimizedPlan.stats.sizeInBytes`,
  * an upper bound). [[widenIfNarrow]] widens heavy stages that scan
  * narrower than that; [[narrowIfSmall]] runs stages whose whole input
  * is under one MiB as a single task.
  */
object Width {

  private val BytesPerTask = 1L << 20

  /** Guarded scan-width repartition for per-row-HEAVY narrow stages
    * (round 16; guide §2.5/§6). A compact columnar corpus slice scans
    * in 1-2 input splits under maxPartitionBytes, and a narrow stage
    * doing heavy per-row work right after the scan (shingling, k-hash
    * minhash signatures) then runs at scan width no matter how many
    * cores exist — measured on the 10x derived corpus (SCALING_r16):
    * q112/q118 held 8-vs-32-core ratios ≈ 1.0 while ~30 cores idled.
    * Widen ONLY when the scan is narrower than the core budget: a
    * production-scale input (splits ≥ cores — a 100 TB corpus scans in
    * ~10⁶ splits) passes through untouched, so this never coalesces
    * and adds no exchange at scale, while at narrow-input scale the
    * one small exchange (bytes bounded by the narrow input itself)
    * buys full-width heavy stages. Round-robin with an explicit count:
    * deterministic under retries (sortBeforeRepartition) and not
    * coalesced by AQE (user-specified repartition). Call on
    * SCAN-ROOTED frames only — `.rdd` on a plan that already contains
    * an Exchange would materialize that stage under AQE.
    *
    * The width is BYTES-FLOORED, not a blind defaultParallelism: at
    * dispatch-floor scale a 32-task job costs ~0.3-0.5 s of pure task
    * scheduling, and multi-job store gates pay that on every cache
    * materialization (measured: q82 +80% at sf0.1 with unconditional
    * full width). One partition per MiB of scan input (plan-stats
    * upper bound), capped at the core count, keeps tiny frames at
    * proportionally small widths while anything work-scale gets the
    * full budget — the same bytes-per-task reasoning as
    * maxPartitionBytes, tightened ~128x because these stages do
    * orders-of-magnitude more per-byte work than a scan. */
  private[graft] def widenIfNarrow(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = (bytes / BytesPerTask).min(BigInt(cores)).toInt
    if (target > 1 && df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  /** `df` as ONE partition when its estimated size is under one MiB,
    * else `df` unchanged. A single-partition child already satisfies
    * the clustered and ordered distributions that an aggregate, a
    * window or a sort asks for, so a sub-MiB aggregation plans no
    * exchange and runs as one task in one job, instead of a map stage,
    * a shuffle and the extra jobs AQE submits per stage. A frame with
    * no size estimate (an RDD-backed frame reports the session's
    * default size, far above the floor) keeps its plan, and so does
    * anything work-scale. */
  private[graft] def narrowIfSmall(df: DataFrame): DataFrame =
    if (isSmall(df)) df.coalesce(1) else df

  /** Whether `df`'s estimated size is under one MiB, the floor of
    * [[narrowIfSmall]]. */
  private[graft] def isSmall(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.stats.sizeInBytes < BytesPerTask
}
