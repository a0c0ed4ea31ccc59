package graft

import graft.functions.HashFunctions
import graft.operators.WordCount
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CLI-parity entry point: the reference's whole job
  * (`main.go -coordinator -input a.txt,b.txt -reduce 5` plus a worker
  * pool) as one spark-submit-able main.
  *
  * Usage: WordCountMain <comma-separated input files> <outDir> [nReduce]
  *
  * Output layout mirrors the reference's `mr-out-<bucket>` contract
  * (worker.go:224-239): one `bucket=<b>/part-<b>-*` file per bucket
  * (b zero-padded to five digits), written by reduce task b, of
  * `word<TAB>count` lines in ascending byte order of the word, where b
  * is the reference's own routing fnv1a32(word) & 0x7fffffff % nReduce
  * — a user can diff our output file-by-file against the Go engine's.
  *
  * The plan has the reference's shape: one map→reduce barrier. Each
  * map task counts its words in the tokenizer
  * ([[WordCount.counts]]) and routes each `(word, cnt)` row to its
  * bucket (worker.go:152-174); `repartitionById` makes reduce
  * partition b hold bucket b, and that partitioning already satisfies
  * the `(bucket, word)` grouping, so the job has one shuffle. Reduce
  * task b sums, sorts by word and writes bucket b (worker.go:216-239);
  * sorting by `(bucket, word)` meets the partitioned write's own
  * ordering, so Spark adds no sort of its own. */
object WordCountMain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: WordCountMain <inputs> <outDir> [nReduce]")
    val inputs = args(0).split(",").toSeq
    val outDir = args(1)
    val nReduce = args.lift(2).map(_.toInt).getOrElse(5)
    // reuse a live session (tests / notebooks) and leave it running;
    // stop only a session this main itself created
    val preexisting = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val spark = GraftSession.build(
      sys.env.getOrElse("SPARK_MASTER", s"local[${GraftSession.threads}]"),
      math.max(nReduce, 8), "graft-wordcount")
    WordCount.counts(spark.read.text(inputs: _*), "value")
      .withColumn("bucket", HashFunctions.referencePartition(col("word"), nReduce))
      .repartitionById(nReduce, col("bucket"))
      .groupBy("bucket", "word").agg(sum("cnt").as("cnt"))
      .sortWithinPartitions("bucket", "word")
      .select(concat_ws("\t", col("word"), col("cnt")).as("value"), col("bucket"))
      .write.mode("overwrite")
      .partitionBy("bucket")
      .text(outDir)
    println(s"wordcount: inputs=${inputs.size} nReduce=$nReduce out=$outDir")
    if (!preexisting) spark.stop()
  }
}
