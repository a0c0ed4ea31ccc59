package graft

import org.apache.spark.sql.functions._

/** Skew handling evidence: AQE's runtime skew-join split activates on a
  * planted hot key once thresholds are scaled to the fixture, and the
  * explicit salted aggregation spreads a hot key deterministically.
  * (At 100 TB the default 256 MB thresholds do this unprompted —
  * SCALING.md.) */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("AQE splits a skewed join partition at runtime") {
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"),
      "spark.sql.adaptive.coalescePartitions.enabled" ->
        spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // 100k rows on ONE key vs uniform keys: classic hot-key join
      val hot = spark.range(100000).select(lit(7L).as("k"), $"id".as("payload"))
        .union(spark.range(2000).select(($"id" % 100).as("k"), $"id".as("payload")))
      val dim = spark.range(100).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = hot.join(dim, "k")
      // execute THIS QueryExecution (a sink write would plan a fresh one)
      val n = joined.collect().length
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("isFinalPlan=true"), p)
      assert(p.contains("skew=true"), s"AQE did not mark the skew split:\n$p")
      assert(n == 102000)
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("Spread rejects a dropDuplicates frame: Deduplicate is shuffle-derived") {
    val df = spark.range(100).selectExpr("id % 7 AS k", "id").dropDuplicates("k")
    val e = intercept[IllegalArgumentException](graft.operators.Spread(df, col("k")))
    assert(e.getMessage.contains("Deduplicate"), e.getMessage)
  }

  test("salted aggregation equals plain aggregation (hot-key safe)") {
    val salted = operators.Skew.saltedWordCount(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = operators.WordCount.wordCount(Tables.documents(spark, sfDir))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }
}
