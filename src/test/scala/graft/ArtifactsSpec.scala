package graft

import graft.operators.Similarity
import graft.streaming.StreamingOps
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Lifetime rules of [[Artifacts]]: eviction forgets an entry but never
  * breaks a plan built before it, and a context's staged dirs go only
  * with its root — when the context stops, or at JVM exit. */
class ArtifactsSpec extends SparkSpec {
  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a plan built before a broadcast-cache eviction still runs and equals a fresh run") {
    // registry PQ defaults (m16×k256) ride the codebook broadcast
    val pq = Similarity.pqTopK(spark, sfDir)
    // eviction unpersists; a destroyed broadcast would fail this plan
    Similarity.pqBooksBcastCache.forget()
    val pqAfter = sorted(pq)
    assert(pqAfter.nonEmpty)
    assert(pqAfter == sorted(Similarity.pqTopK(spark, sfDir)))
  }

  test("clearWetExportCache re-streams snk_stream_wet into a new dir; the old dir stays until the session stops") {
    val run = SparkEntry.queries("snk_stream_wet")
    val first = sorted(run(spark, sfDir))
    val d1 = StreamingOps.wetExportDirs.get(spark, sfDir).get
    StreamingOps.clearWetExportCache()
    assert(StreamingOps.wetExportDirs.get(spark, sfDir).isEmpty)
    val second = sorted(run(spark, sfDir))
    val d2 = StreamingOps.wetExportDirs.get(spark, sfDir).get
    assert(d2 != d1, "the cleared memo must stream into a fresh dir")
    assert(second == first && first.nonEmpty)
    val root = Artifacts.root(spark)
    assert(Paths.get(d1).startsWith(root) && Paths.get(d2).startsWith(root))
    assert(Files.isDirectory(Paths.get(d1)), "eviction must not delete a dir a lazy plan may still scan")
    // every run through SparkEntry.run streams afresh, with no explicit clear
    val viaRun = (1 to 2).map { _ =>
      val rows = SparkEntry.run(spark, "snk_stream_wet", sfDir)(sorted)
      (rows, StreamingOps.wetExportDirs.get(spark, sfDir).get)
    }
    assert(viaRun.map(_._2).distinct.size == 2 && !viaRun.map(_._2).contains(d2),
      s"each SparkEntry.run must stream into its own dir: ${viaRun.map(_._2)}")
    assert(viaRun.forall(_._1 == first))
  }

  test("stopping a context deletes its artifact root; JVM exit deletes a running context's") {
    val tmp = tempDir("artifacts-child")
    def child(mode: String) = childJvm("graft.ArtifactsChild", "ARTIFACTS", tmp, mode)
    val stopped = child("stop")
    assert(stopped("staged") == "true" && stopped("afterStop") == "false", stopped)
    val exited = child("exit")
    assert(exited("staged") == "true", exited)
    assert(!Files.exists(Paths.get(exited("root"))), "JVM exit must delete the root")
    val left = Files.list(Paths.get(tmp)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-")).toSeq
    assert(left.isEmpty, s"leaked artifact roots: $left")
  }
}

/** Child JVM for the lifetime spec: stages one dir, reports whether it
  * exists, then stops the context (`stop`) or exits with it running
  * (`exit`). */
object ArtifactsChild {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[1]", 1, "graft-artifacts-child")
    val dir = new Artifacts.Dirs[String]("graft-child")
      .stage(spark, "k")(out => spark.range(3).write.mode("overwrite").parquet(out))
    val root = Artifacts.root(spark)
    println(s"ARTIFACTS root=$root")
    println(s"ARTIFACTS staged=${Files.isDirectory(Paths.get(dir)) && Paths.get(dir).startsWith(root)}")
    if (args.headOption.contains("stop")) {
      spark.stop()
      println(s"ARTIFACTS afterStop=${Files.exists(root)}")
    }
    System.out.flush()
    sys.exit(0)
  }
}
