package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Input-layout guard for row-multiplying hot projections (optimization
  * guide §2.5 "input skew": one huge unsplittable file — fix at the
  * source or repartition immediately after the read).
  *
  * A small parquet relation arrives as ONE scan partition (a single
  * sub-split-size file is never divided), so the expensive per-row stage
  * fed by it — per-position gram hashing, minhash/simhash signatures,
  * LSH banding — runs on a single core no matter how many the session
  * has. When the upstream relation has fewer partitions than the hot
  * stage wants, hash-repartition it on the caller's unique id column
  * (deterministic, uniform — never a rand() key, guide §2.5) so the hot
  * stage runs wide.
  *
  * Sizing: the target partition count derives from the OPTIMIZER'S SIZE
  * ESTIMATE of the input (≈ file bytes for a parquet scan), at
  * `bytesPerTask` input bytes per task — NOT a flat "one partition per
  * core": the hot stages expand their input 10-400× (every char
  * position becomes a gram row), and measured on the bench corpus a
  * 32-way spread of a ~600 KB input loses to ~10-way because per-task
  * fixed costs (codegen warmup, scheduling) exceed the ~20 ms of real
  * work per task. 64 KB of input text per task ≈ 6-25 MB of post-explode
  * rows per task — ordinary task sizing (guide §2.2) expressed against
  * the pre-explode proxy. Override per session with
  * `spark.graft.spread.bytesPerTask`.
  *
  * Scale honesty: the guard moves only the narrow pre-explode rows —
  * ~1/expansion of the hot stage's output — and ONLY when the input
  * layout has fewer partitions than the data-derived target. At
  * warehouse scale input splits already exceed both the core count and
  * the target, so the condition is false and no shuffle is added; the
  * cap is the session's defaultParallelism, never a constant tuned to
  * this box.
  */
private[graft] object Par {

  def spread(df: DataFrame, idCol: String): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val key = "spark.graft.spread.bytesPerTask"
    val bytesPerTask = df.sparkSession.conf.getOption(key)
      .fold(64L * 1024)(v => v.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"$key must be a positive long, got '$v'")))
    // size from the LEAF relations (actual file bytes for a parquet
    // scan), not the projected plan: intermediate Project/Filter stats
    // re-estimate strings at a 20-byte default, 15× under this corpus's
    // real rows, and the resulting 3-way spread left the hot stage 3×
    // slower than the input-bytes target (measured). Unknown-size leaves
    // report defaultSizeInBytes (huge) — degrading to the core-count
    // cap, the right fallback for unknown inputs.
    val est = df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    val target = est
      .min(BigInt(sc.defaultParallelism) * bytesPerTask)
      .max(BigInt(bytesPerTask)) / bytesPerTask
    // getNumPartitions plans the physical scan (no job is run); a
    // degenerate layout is visible there as fewer partitions than target
    if (df.rdd.getNumPartitions >= target.toInt) df
    else df.repartition(target.toInt, col(idCol))
  }
}
