package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Columnar parquet scans replace the reference's whole-file text reads
  * (`/root/reference/distributed/worker.go:126-129`, operator O1 in
  * SURVEY.md §2). Filters/projections applied by callers reach the scan
  * via Catalyst pushdown — verified in specs via `.explain` PushedFilters.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  /** `events.parquet` carries INT64 TIMESTAMP(NANOS), which Spark's
    * parquet reader rejects. The session is built with
    * `spark.sql.legacy.parquet.nanosAsLong` (GraftSession.sqlConf) so the
    * read sees a long column; truncate it to microseconds — the same
    * truncation DuckDB applies when it loads nanos into its micro-precision
    * TIMESTAMP, so both engines see identical `ts` values. The loader
    * itself is side-effect free. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = apply(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
