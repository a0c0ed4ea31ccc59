package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface beyond the reference's two formats (whole text
  * files in, tab-separated text out — worker.go:126,225-239): the
  * formats a Spark-native engine gets declaratively, wrapped with the
  * options that matter for correctness and scale.
  *
  * Scale notes: every reader here is splittable (parquet/orc row
  * groups, line-oriented csv/json) except multiline json/csv — avoid
  * those at 100 TB. Writers partition output one file per task;
  * `partitionByCols` adds hive-style directory partitioning so
  * downstream reads prune entire directories.
  */
object Sources {

  def readParquet(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** Parquet read across files whose schemas EVOLVED (columns added
    * over time — the normal life of a 100 TB landing zone): mergeSchema
    * reconciles per-file footers into the union schema; files missing a
    * column surface nulls. Off by default in Spark because footer
    * merging costs a pass over file metadata — turn it on explicitly at
    * ingest boundaries, not globally. */
  def readParquetEvolving(s: SparkSession, path: String): DataFrame =
    s.read.option("mergeSchema", "true").parquet(path)

  def readCsv(s: SparkSession, path: String, schema: StructType,
              header: Boolean = true, sep: String = ","): DataFrame =
    s.read.schema(schema) // explicit schema: inference is a full extra pass
      .option("header", header).option("sep", sep)
      .csv(path)

  def readJsonLines(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path) // JSON-lines: splittable; no multiline

  /** JSON-lines ingest that SURVIVES malformed rows — the 100 TB
    * landing-zone contract: one corrupt line in a billion must not
    * kill the job (FAILFAST) or silently vanish (the DROPMALFORMED
    * trap). PERMISSIVE parses what it can, nulls what it can't, and
    * quarantines each bad line's raw text in `corruptCol` so the
    * pipeline can count/route rejects from the same pass (see
    * `observe`). The corrupt column must be part of the read schema —
    * Spark only populates it when asked for. */
  def readJsonLinesTolerant(s: SparkSession, path: String, schema: StructType,
                            corruptCol: String = "_corrupt_record"): DataFrame =
    s.read
      .schema(schema.add(corruptCol, org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .json(path)

  def readOrc(s: SparkSession, path: String): DataFrame =
    s.read.orc(path)

  def write(df: DataFrame, path: String, format: String,
            partitionByCols: Seq[String] = Nil,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w = df.write.mode(mode).format(format)
    (if (partitionByCols.nonEmpty) w.partitionBy(partitionByCols: _*) else w)
      .save(path)
  }

  /** Size-controlled parquet write — the knobs that matter at 100 TB:
    * `maxRecordsPerFile` caps file size without a repartition (each
    * task rolls to a new file at the cap — no shuffle, unlike
    * `repartition(n)` sizing), and the codec trades CPU for I/O (zstd
    * for cold data, snappy/lz4 for hot). Small-file explosions and
    * GB-scale single files are both scan-killers; this pins neither
    * happens. */
  def writeSized(df: DataFrame, path: String, maxRecordsPerFile: Long,
                 codec: String = "zstd",
                 mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression", codec)
      .parquet(path)

  /** Range-sorted layout: repartitionByRange + sortWithinPartitions on
    * the filter column before writing. Each parquet row group then
    * covers a narrow, disjoint value range, so min/max footer stats let
    * a filtered scan SKIP almost every row group — at 100 TB this is
    * the difference between scanning a shard and scanning the lake.
    * (`SourcesSpec` measures the effect via scan-node metrics: same
    * filter, sorted vs unsorted layout.) */
  def writeRangeSorted(df: DataFrame, path: String, col: String,
                       partitions: Int): Unit =
    df.repartitionByRange(partitions, df(col))
      .sortWithinPartitions(col)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Z-ordered layout: rows sorted by the Morton interleave of two
    * columns' 16-bit min/max-scaled bucket ids, so footer stats skip
    * row groups under a range filter on EITHER column — one clustered
    * layout serving two filter dimensions (`writeRangeSorted` serves
    * one). The min/max pass is a map-side partial agg collecting two
    * rows' worth of scalars; uniform-ish key spaces (TPC-H-style ids)
    * bucket well by linear scaling — heavily skewed columns would want
    * quantile boundaries instead (the production upgrade, same layout
    * machinery). The Z column is computed, used for clustering, and
    * dropped — readers see the original schema. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    partitions: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit, least, max, min}
    val bounds = df.agg(
      min(col(colA)).cast("long"), max(col(colA)).cast("long"),
      min(col(colB)).cast("long"), max(col(colB)).cast("long"))
      .head()
    // Empty input (or all-null cluster columns): min/max are NULL and
    // unboxing would NPE opaquely. There is no layout to cluster —
    // write the (empty) frame as-is and return.
    if (bounds.anyNull) {
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val Array(loA, hiA, loB, hiB) =
      bounds.toSeq.map(_.asInstanceOf[Long]).toArray
    def bucket(c: String, lo: Long, hi: Long) = {
      val span = math.max(1L, hi - lo)
      // 16-bit bucket id; least() guards v == hi landing in bucket
      // 65536. (v-lo)*65536 overflows long only for spans ≥ 2^47 —
      // ANSI mode (Spark 4 default) fails loudly there rather than
      // wrapping to a corrupt layout silently.
      least(((col(c).cast("long") - lit(lo)) * lit(65536L) / lit(span + 1)),
        lit(65535L))
    }
    df.withColumn("_graft_z", graft.functions.ZOrder.zvalue(
        bucket(colA, loA, hiA).cast("long"), bucket(colB, loB, hiB).cast("long")))
      .repartitionByRange(partitions, col("_graft_z"))
      .sortWithinPartitions("_graft_z")
      .drop("_graft_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Bucketed managed table: rows are hash-partitioned into
    * `numBuckets` files per partition by `bucketCols` and sorted
    * within buckets. Two tables bucketed the same way join WITHOUT any
    * exchange — at 100 TB this converts the fact-fact shuffle
    * (SCALING.md) into a storage-time cost paid once. Requires
    * saveAsTable (bucket metadata lives in the catalog). */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .format("parquet")
      .saveAsTable(table)
  }
}
