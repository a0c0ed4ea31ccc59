package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism staging for expensive map-side kernels.
  *
  * A small table stored as ONE parquet file (one row group) scans as
  * ONE task no matter how many cores the session has — file splits
  * cannot cross row-group boundaries — so a costly per-row kernel
  * (codec encode/decode, MinHash, shingle hashing, n-gram tokenize)
  * chained onto such a scan runs serially while the rest of the
  * cluster idles. That is the "one huge unsplittable file" input-skew
  * case of the optimization guide (§2.5): fix by repartitioning
  * immediately after the read.
  *
  * [[apply]] is deliberately CONDITIONAL, not a constant repartition:
  * it adds the exchange only when the frame's own parallelism is
  * below the session's default parallelism. At production scale the
  * scan already carries ≥ cores partitions, the condition is false,
  * and NO shuffle is added — so this never re-shuffles data that is
  * already wide enough, and the bytes it does shuffle locally are the
  * pre-kernel projection (ids + text), never the kernel's (much
  * larger) output. The partitioner hashes the caller's own key column
  * — deterministic under task retry, unlike round-robin over a
  * non-deterministic input (guide §2.5's SPARK-38388 caveat) — and
  * the explicit partition count keeps AQE from re-coalescing the
  * spread back down.
  *
  * Streaming frames pass through untouched: their parallelism is the
  * source's micro-batch layout, and `.rdd` cannot be asked of them.
  *
  * CALLER CONTRACT: pass only SCAN-ROOTED frames (scan + projections/
  * filters, no exchange upstream). The parallelism probe plans the
  * frame's physical form to count partitions; on a shuffle-derived
  * frame that finalizes the adaptive plan — materializing every
  * upstream query stage eagerly, and the consumer then re-runs them
  * (measured: pipe_index 2.2 s → 7 s when this was briefly called on
  * the excised-corpus frame). Scan-rooted frames plan without running
  * anything.
  */
object Spread {
  def apply(df: DataFrame, key: Column): DataFrame = {
    if (df.isStreaming) return df
    // loud guard on the caller contract above (r21 ADVICE #2): probing
    // a shuffle-derived frame finalizes its adaptive plan eagerly and
    // the consumer re-runs every upstream stage — a silent 3× regression
    // when it happened (pipe_index 2.2 → 7.0 s). Fail at build time
    // instead: a scan-rooted frame contains none of these operators.
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.analyzed.foreach {
      case p @ (_: Aggregate | _: Join | _: Window | _: Sort |
                _: RepartitionOperation | _: GlobalLimit | _: Distinct |
                _: Deduplicate) =>
        throw new IllegalArgumentException(
          s"Spread requires a scan-rooted frame (no exchange upstream); " +
            s"found ${p.nodeName} — spreading here would finalize the " +
            "adaptive plan and re-run the upstream pipeline")
      case _ =>
    }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, key)
  }
}
