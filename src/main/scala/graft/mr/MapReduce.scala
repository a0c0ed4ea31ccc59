package graft.mr

import graft.functions.Tokenize.isSpace
import graft.functions.WordTokens.isCut
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator

/** Typed pluggable map/reduce surface — the Spark-native replacement for
  * the reference's two UDF interfaces
  * (`/root/reference/map_reduce/types.go:8-14`):
  *
  *   Map(filename, contents) -> []KeyValue      becomes  Mapper.map -> Iterator
  *   Reduce(key, values) -> string              becomes  a typed Reducer fold
  *
  * Key design departure from the reference: its Reducer receives ALL
  * values of a key materialized as a slice (`worker.go:211-214,233-238`)
  * — O(group size) memory, no combiner, every pair shuffled
  * (`worker.go:152-159`). Here the reducer is an associative fold
  * (`zero`/`add`/`merge`), lifted to a Spark [[Aggregator]] so Catalyst
  * plans partial aggregation before the shuffle and merges partial
  * buffers after — the map-side combine the reference lacks. At 100 TB
  * the shuffle carries one buffer per (key × partition) instead of one
  * record per input pair.
  */
trait Mapper extends Serializable {
  /** One input document (name, contents) to zero or more key/value pairs. */
  def map(name: String, contents: String): Iterator[(String, String)]
}

/** Associative per-key fold. `finish(zero)` on an empty group must match
  * the reference's empty-input contract (returns "0",
  * `wordcount.go:27-29`) for the counting reducer. */
trait Reducer[B] extends Serializable {
  def zero: B
  def add(buf: B, value: String): B
  def merge(a: B, b: B): B
  def finish(buf: B): String
}

/** The reference's built-in app, reimplemented on the typed surface.
  * Tokenization semantics pinned by `wordcount.go:15`
  * (fields + trim runs of `.,!?"':;()` + lowercase + drop empty), as
  * one index scan over the document: tokens split on Java `\s`
  * (`[ \t\n\x0B\f\r]`), trim is per char, and lowercasing uses
  * `Locale.ROOT` — the JVM default locale would turn `I` into `ı`
  * under `tr`, unlike the SQL path and Go's `strings.ToLower`. */
object WordCountMapper extends Mapper {
  def map(name: String, contents: String): Iterator[(String, String)] =
    new Iterator[(String, String)] {
      private var i = 0
      private var word = advance()

      /** The next non-empty trimmed, lowercased token, or null. */
      private def advance(): String = {
        val n = contents.length
        while (i < n) {
          while (i < n && isSpace(contents.charAt(i))) i += 1
          var s = i
          while (i < n && !isSpace(contents.charAt(i))) i += 1
          var e = i
          while (s < e && isCut(contents.charAt(s))) s += 1
          while (e > s && isCut(contents.charAt(e - 1))) e -= 1
          if (e > s) return contents.substring(s, e).toLowerCase(java.util.Locale.ROOT)
        }
        null
      }

      def hasNext: Boolean = word != null
      def next(): (String, String) = {
        if (word == null) throw new NoSuchElementException
        val w = word
        word = advance()
        (w, "1")
      }
    }
}

/** Counting reducer: values are ignored, the count is emitted —
  * exactly `wordcount.go:26-32` (len(values); "0" when empty). */
object WordCountReducer extends Reducer[Long] {
  def zero: Long = 0L
  def add(buf: Long, value: String): Long = buf + 1L
  def merge(a: Long, b: Long): Long = a + b
  def finish(buf: Long): String = buf.toString
}

object MapReduce {

  /** Lift a [[Reducer]] into a Spark Aggregator over (key, value) pairs.
    * Kryo-encodes the buffer so any B works; counting reducers get
    * partial aggregation + shuffle of one buffer per key per partition. */
  private def toAggregator[B: scala.reflect.ClassTag](
      r: Reducer[B]): Aggregator[(String, String), B, String] =
    new Aggregator[(String, String), B, String] {
      def zero: B = r.zero
      def reduce(b: B, kv: (String, String)): B = r.add(b, kv._2)
      def merge(a: B, b: B): B = r.merge(a, b)
      def finish(b: B): String = r.finish(b)
      def bufferEncoder: Encoder[B] = {
        // Kryo can't encode primitives; route common buffer types to
        // their native (columnar, codegen-friendly) encoders.
        val ct = implicitly[scala.reflect.ClassTag[B]]
        val enc = ct.runtimeClass match {
          case java.lang.Long.TYPE    => Encoders.scalaLong
          case java.lang.Double.TYPE  => Encoders.scalaDouble
          case java.lang.Integer.TYPE => Encoders.scalaInt
          case c if c == classOf[String] => Encoders.STRING
          case _ => Encoders.kryo(ct)
        }
        enc.asInstanceOf[Encoder[B]]
      }
      def outputEncoder: Encoder[String] = Encoders.STRING
    }

  /** Run a full map/reduce job over (name, contents) documents.
    * Output schema: (key string, value string), sorted by key — the
    * reference's `mr-out-*` contract (`worker.go:216-239`). */
  def run[B: scala.reflect.ClassTag](
      spark: SparkSession, docs: Dataset[(String, String)],
      mapper: Mapper, reducer: Reducer[B]): DataFrame = {
    import spark.implicits._
    docs.flatMap { case (name, contents) => mapper.map(name, contents) }
      .groupByKey(_._1)
      .agg(toAggregator(reducer).toColumn.name("value"))
      .toDF("key", "value")
      .orderBy("key")
  }

  /** Text-file front door matching the reference CLI (`main.go:25,130`):
    * each file becomes one (path, contents) document, then map/reduce.
    * At scale prefer line-oriented `spark.read.text` — wholeTextFiles is
    * only for exact whole-file Map semantics parity. It asks for
    * `defaultParallelism` splits: its own default,
    * `min(defaultParallelism, 2)`, caps the map stage at 2 tasks. */
  def runOnFiles[B: scala.reflect.ClassTag](
      spark: SparkSession, paths: Seq[String],
      mapper: Mapper, reducer: Reducer[B]): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val docs = sc.wholeTextFiles(paths.mkString(","), sc.defaultParallelism).toDS()
    run(spark, docs, mapper, reducer)
  }
}
