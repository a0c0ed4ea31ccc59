package perfbench

import graft.SparkEntry
import graft.mr.Mapper
import graft.operators.{Dedup, Relational}
import graft.sources.{Robots, Warc}
import graft.streaming.StreamingOps
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}
import scala.jdk.CollectionConverters._

/** The registry workload: a fixed subset of `SparkEntry.queries`, at least
  * one query of every module group, each run through the noop sink over
  * TESTDATA.md's sf0.001 tables (vendored under perfbench/data), with
  * graft.Bench's staging and per-repetition hooks. Results are checked
  * against the per-query hashes of the manifest next to the tables. */
object Registry {
  /** Module groups, by query-name prefix (q1..q25 are "q"). */
  val families: Seq[String] = Seq("wc", "q", "dd", "ann", "tx", "mm", "src", "ev", "pipe", "snk")

  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (p.matches("q[0-9]+")) "q" else p
  }

  /** Every 24th query of each module group, in name order. */
  val subset: Seq[String] = SparkEntry.queries.keys.toSeq.groupBy(family).toSeq
    .flatMap { case (_, qs) => qs.sorted.grouped(24).map(_.head) }.sorted

  /** Bench's honest-accounting hooks, run before every timed run. */
  private val preRun: Map[String, () => Unit] = Map(
    "dd_clusters" -> (() => Dedup.clearLabelCache()),
    "snk_stream_wet" -> (() => StreamingOps.clearWetExportCache()),
    "src_stream_fetch" -> (() => StreamingOps.clearFetchStreamCache()),
    "src_stream_fetch_gc" -> (() => StreamingOps.clearFetchGcCache()))

  private def run(spark: SparkSession, name: String)(body: => Unit): Unit = {
    preRun.get(name).foreach(_.apply())
    if (name == "q24_bloom_prune") Relational.withBloomPruneConfs(spark)(body) else body
  }

  /** Of the lakes, indexes and streams Bench stages as warm-up, those the
    * subset's queries read: the event and document streams, the raw WARC
    * lake and the robots lake. Queries stage what they need on first use,
    * so a changed subset stays correct; only its set-up time moves. */
  private def stage(spark: SparkSession, dir: String): Unit = {
    StreamingOps.preStage(spark, dir, plain = true, dedup = false, docs = true, probes = false)
    Warc.rawLakeDir(spark, dir)
    Robots.robotsLakeDir(spark, dir)
  }

  /** Order-independent hash of a result: the sum of a per-row hash of
    * the row's JSON rendering, and the row count. */
  def resultHash(df: DataFrame): String = {
    val r = df.select(xxhash64(to_json(struct(col("*")))).cast("decimal(38,0)").as("h"))
      .agg(sum("h"), count(lit(1))).head()
    s"${r.get(0)}/${r.getLong(1)}"
  }

  private def hash(spark: SparkSession, dir: String, name: String): Either[String, String] =
    try { var h = ""; run(spark, name) { h = resultHash(SparkEntry.queries(name)(spark, dir)) }; Right(h) }
    catch { case e: Throwable => Left(s"failed: ${e.getClass.getSimpleName}") }

  /** The manifest's `hashes` and `unhashed` objects (query -> hash or reason). */
  private def readManifest(path: Path): (Map[String, String], Map[String, String]) = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    def obj(k: String) = root.path(k).properties().iterator().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    (obj("hashes"), obj("unhashed"))
  }

  final class Workload(tables: Path, manifest: Path) extends Main.Workload {
    private[perfbench] var dir: String = _
    private var bytes = 0L
    private var unhashed = Map.empty[String, String]
    /** A copy of the tables in the run's own directory: staging and the
      * queries never touch the checkout's files. */
    def prepare(d: Path): Unit = {
      Files.createDirectories(d)
      val files = Files.list(tables).iterator.asScala.filter(_.toString.endsWith(".parquet")).toSeq
      files.foreach(f => Files.copy(f, d.resolve(f.getFileName.toString)))
      bytes = files.map(Files.size).sum
      dir = d.toString
    }
    override def shufflePartitions(threads: Int): Int = threads
    /** Bench's warm-up query and staging. */
    override def stage(spark: SparkSession): Unit = {
      SparkEntry.queries("q1_pricing")(spark, dir).write.format("noop").mode("overwrite").save()
      Registry.stage(spark, dir)
    }
    val units: Seq[String] = subset
    def warmUpPasses = 0
    def minPasses = 2
    def inputBytes: Long = bytes
    def run(spark: SparkSession, unit: String, out: Path, mapper: Mapper): Unit =
      Registry.run(spark, unit) {
        SparkEntry.queries(unit)(spark, dir).write.format("noop").mode("overwrite").save()
      }
    def check(unit: String, out: Path): Option[String] = None
    /** Each query's result hash against the manifest. This pass also warms
      * every query up before the timed passes. */
    override def verify(spark: SparkSession): Seq[(String, Option[String])] = {
      val (want, skip) = readManifest(manifest)
      unhashed = skip.filter(q => units.contains(q._1))
      units.filterNot(skip.contains).map { q =>
        q -> (hash(spark, dir, q) match {
          case Left(err) => Some(err)
          case Right(h) if !want.get(q).contains(h) => Some(s"result hash $h, manifest ${want.getOrElse(q, "none")}")
          case _ => None
        })
      }
    }
    def scanOnly(spark: SparkSession): Unit =
      Files.list(Paths.get(dir)).iterator.asScala.toSeq.sorted.foreach { t =>
        spark.read.parquet(t.toString).write.format("noop").mode("overwrite").save()
      }
    def slice(spark: SparkSession): String =
      spark.read.parquet(s"$dir/documents.parquet").select("text").collect().map(_.getString(0)).mkString("\n")
    def info: Map[String, Any] = Map(
      "seed" -> "not used: the registry reads the fixed seed-42 sf0.001 tables",
      "unhashed" -> unhashed)
  }

  /** Counts the DAGScheduler's "Broadcasting large task binary" warnings. */
  final class LargeBinaryCounter extends AbstractAppender(
      "perfbench-large-task-binary", null, null, true, Property.EMPTY_ARRAY) {
    private val n = new AtomicLong
    private def dag = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler").asInstanceOf[CoreLogger]
    override def append(e: LogEvent): Unit =
      if (e.getMessage.getFormattedMessage.contains("Broadcasting large task binary")) n.incrementAndGet()
    def attach(): Unit = { if (!isStarted) start(); dag.addAppender(this) }
    def detach(): Unit = dag.removeAppender(this)
    /** The count since the last call. */
    def take(): Long = n.getAndSet(0)
  }

  /** Manifest capture, a maintenance tool (perfbench/run.py
    * --capture-manifest): hashes every registry query over a copy of the
    * tables. */
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val threads = m("threads").toInt
    val w = new Workload(Paths.get(m("tables")), Paths.get(m("out")))
    w.prepare(Paths.get(m("work")))
    val spark = graft.GraftSession.build(s"local[$threads]", w.shufflePartitions(threads), "perfbench-registry")
    val hashes = SparkEntry.queries.keys.toSeq.sorted.map(n => n -> hash(spark, w.dir, n))
    Files.writeString(Paths.get(m("out")), Json(Map(
      "hashes" -> hashes.collect { case (k, Right(h)) => k -> h }.toMap,
      "failed" -> hashes.collect { case (k, Left(e)) => k -> e }.toMap)))
    spark.stop()
  }
}
