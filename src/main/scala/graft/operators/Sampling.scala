package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling/splitting for training-data pipelines.
  *
  * All three operators key on a cryptographic hash of a STABLE id
  * (md5 of the decimal doc_id string) rather than an RNG: the sample is
  * reproducible across runs, engines, partitionings and cluster sizes —
  * the property "take 1% of 100 TB, same 1% every time" actually
  * requires. RNG-based `df.sample` can't promise that across engines
  * (and reshuffles change its output); hash-sampling is also exactly
  * what makes the oracle checkable — DuckDB computes the identical md5.
  *
  * Scale: hash + compare are map-side, so sampling/splitting never
  * shuffles; the stratified variant shuffles once on the stratum key
  * and ranks inside each stratum (WindowGroupLimit prunes to the quota
  * per stratum).
  */
object Sampling {

  /** Hex-prefix hash bucket in [0, 4096): first 3 md5 nibbles.
    * THE batch/history split rule — shared by every incremental
    * operator (dedup, spans, DSIR, IVF lifecycle/append) and their
    * spec gates, so a prefix-width change cannot desynchronize them
    * (review r13: the expression had been copy-pasted 8×). The SQL
    * oracles mirror it textually; those stay lockstep by the shared
    * CTE discipline in SparkEntry. */
  private[graft] def hashBucket(idCol: org.apache.spark.sql.Column) =
    conv(substring(md5(idCol.cast("string")), 1, 3), 16, 10).cast("long")

  /** The split points of the 4,096 hash buckets, read by every Scala
    * operator and interpolated into every oracle: buckets below
    * `HistoryBelow` are the history an incremental operator has already
    * seen (the rest are the new batch); below `TrainBelow` is the train
    * split; from `HeldOutFrom` up is held out (the test split, the DSIR
    * target and the contamination benchmark). */
  private[graft] final val HistoryBelow = 3277L
  private[graft] final val TrainBelow = 3686L
  private[graft] final val HeldOutFrom = 3891L

  /** Consistent ~1/16 sample: md5(doc_id) prefix below the threshold.
    * Changing the rate only grows/shrinks the same sample (nested
    * samples — a 1% sample is a subset of a 10% sample). */
  def consistentSample(s: SparkSession, dir: String,
                       bucketsOf4096: Int = 256): DataFrame = {
    import s.implicits._
    Tables.documents(s, dir)
      .select($"doc_id", $"lang", hashBucket($"doc_id").as("h"))
      .filter($"h" < bucketsOf4096)
      .select($"doc_id", $"lang", $"h".as("hash_bucket"))
      .orderBy($"doc_id")
  }

  /** Deterministic train/val/test split (~90/5/5 by hash bucket) —
    * stable across runs and engines, disjoint and exhaustive. */
  def trainValTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h = hashBucket($"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id",
        when(h < TrainBelow, "train").when(h < HeldOutFrom, "val").otherwise("test")
          .as("split"))
      .orderBy($"doc_id")
  }

  /** Stratified sampling: up to `perStratum` docs per language, chosen
    * by md5 rank within the stratum (deterministic; no RNG). The ranked
    * window compiles to WindowGroupLimit — each stratum's non-quota
    * rows are pruned before the final shuffle. */
  def stratifiedSample(s: SparkSession, dir: String,
                       perStratum: Int = 20): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang").orderBy(md5($"doc_id".cast("string")), $"doc_id")
    Tables.documents(s, dir)
      .select($"doc_id", $"lang")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= perStratum)
      .orderBy($"lang", $"rk")
  }
}
