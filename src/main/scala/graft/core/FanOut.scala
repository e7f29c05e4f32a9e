package graft.core

import org.apache.spark.sql.DataFrame

/** Scale-adaptive parallelism floor for compute-heavy map stages
  * (optimization guide §2.5 "input skew": one huge unsplittable file —
  * or here, a single-row-group parquet file — leaves a stage on one
  * task; "repartition immediately after the read").
  *
  * The gate-scale base tables ship as ONE single-row-group parquet
  * file each, so a scan stage cannot split below one task no matter
  * what `maxPartitionBytes`/`minPartitionNum` say (byte-range splits
  * of a single row group collapse to the range holding the row-group
  * start). Any operator that does heavy per-row/per-pair work inside
  * the scan stage — brute-force vector scoring against a broadcast
  * side, Morton-code clustering, shingling — therefore runs
  * single-threaded while every other core idles.
  *
  * [[fanOut]] raises the partition count toward a BYTES-DERIVED
  * target, never above the session default parallelism and never
  * shrinking an already-parallel input: at 100 TB the input arrives
  * in thousands of scan partitions and this is a no-op (no shuffle is
  * ever added to an already-parallel input — a blanket
  * `repartition(cores)` would instead SHRINK a large scan); locally
  * it costs one round-robin shuffle of the narrow input rows and buys
  * a multi-core compute stage. Round-robin repartition is
  * deterministic (sort-before-repartition, SPARK-23207) and row
  * placement never affects any declared result (all downstream
  * operators here are order-insensitive aggregations/joins or
  * explicitly ordered windows).
  *
  * Why bytes-derived and not a flat `defaultParallelism` (the round-15
  * form): on sub-MB gate inputs a 32-task exchange costs more than it
  * buys — the round-15 driver's scaling pass showed several fanned
  * queries FASTER at 8 cores than 32 (q127 0.49, q41 0.66, q60 0.74
  * ratios), pure fan-width overhead. The target
  * clamp(bytes / 8 MB, 4, defaultParallelism) keeps the 100 TB
  * behavior identical (any input ≥ 32 MB·cores/4 still hits the
  * parallelism cap; unknown-size plans conservatively fan wide) while
  * sizing tiny-input exchanges to the work they carry. 8 MB/task is
  * deliberately below the guide §2.2 shuffle guidance — these are
  * CPU-bound hash/score maps, not shuffle reducers. */
object FanOut {

  /** Conservative per-task input for compute-heavy fanned maps. */
  private val BytesPerTask = 8L << 20

  /** Plans whose size estimate is unavailable report defaults near
    * Long.MaxValue — treat anything implausibly large as unknown. */
  private val UnknownBytes = BigInt(1L << 50)

  private def target(df: DataFrame): Int =
    targetFor(df.sparkSession.sparkContext.defaultParallelism,
      df.queryExecution.optimizedPlan.stats.sizeInBytes)

  /** clamp(ceil(bytes / 8 MB), 4, par), where the floor of 4 never
    * exceeds `par` (a `local[2]` session fans to 2, not 4). */
  private[core] def targetFor(par: Int, bytes: BigInt): Int =
    if (bytes <= 0 || bytes >= UnknownBytes) par
    else {
      val byBytes = ((bytes + BytesPerTask - 1) / BytesPerTask).toLong
      math.min(par.toLong, math.max(4L, byBytes)).toInt
    }

  def fanOut(df: DataFrame): DataFrame = {
    // toRdd is the already-planned physical RDD (cached on the
    // QueryExecution) — reading its partition count runs no job
    val have = df.queryExecution.toRdd.getNumPartitions
    val t = target(df)
    if (have < t) df.repartition(t) else df
  }

  /** [[fanOut]] at FULL parallelism, for pair-scoring maps whose
    * per-row work scales with a corpus-sized broadcast side (the kNN-
    * graph BNLJ: every streamed row scores against every broadcast
    * row, so bytes underestimate the work by a factor of |corpus| and
    * the bytes-derived target throttles a genuinely compute-bound
    * stage — measured: q165 1.18→1.73 s when the wide scoring dropped
    * from 32 to 4 tasks). Same no-op-at-scale guarantee: an already-
    * parallel input is never repartitioned. */
  def fanOutWide(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val have = df.queryExecution.toRdd.getNumPartitions
    if (have < par) df.repartition(par) else df
  }

  /** [[fanOut]] for inputs consumed by SEVERAL passes (write-side
    * clustering: quantile scan, range sampling, shuffle map): when the
    * input is below the parallelism floor, additionally materialize it
    * (eager localCheckpoint) so every pass reads multi-core in-memory
    * blocks instead of re-running the single-task scan per pass. At
    * scale this is a pass-through — a parallel input is never
    * repartitioned, and NEVER materialized (checkpointing a 100 TB
    * scan would be fatal; re-scanning is the right trade there — the
    * gate is the same partitions-below-target probe as [[fanOut]]).
    * Blocks free via the ContextCleaner when the caller's frames drop;
    * never a cross-run cache (the builder runs inside the timed
    * region). */
  def fanOutPinned(df: DataFrame): DataFrame = {
    val have = df.queryExecution.toRdd.getNumPartitions
    val t = target(df)
    if (have < t) df.repartition(t).localCheckpoint(true) else df
  }

  /** Byte-sized output partitioning for a frame about to be COMMITTED
    * as table files (guide §6 small-files: "coalesce on write — AQE's
    * partition coalescing, coalesce(n), or a REBALANCE hint before the
    * write"). A fanned compute stage would otherwise stage one file
    * per task — tiny files whose count tracks the core count (the
    * round-15 q290 measurement: staged-file multiplication made the
    * fanned postings map a net 2× LOSS). RebalancePartitions is the
    * AQE-sized exchange: post-shuffle partitions coalesce/split toward
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` from ACTUAL map
    * output bytes, so the same call writes one file at gate scale and
    * ~64 MB files at 100 TB — scale-adaptive by construction, never a
    * constant tuned for either. */
  def rebalance(df: DataFrame): DataFrame = df.hint("rebalance")
}
