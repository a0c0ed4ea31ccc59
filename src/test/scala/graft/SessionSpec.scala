package graft

import scala.jdk.CollectionConverters._

/** Pins the reference's fault-tolerance envelope as Spark config
  * (SURVEY.md §5's promised smoke test).
  *
  * The reference hand-builds its envelope in
  * `/root/reference/distributed/task.go:11-14`: 10 s task timeout with
  * maxAttempts = 3, and speculative re-execution when a task runs longer
  * than 1.5× the mean of completed tasks. In the Spark engine that whole
  * layer is configuration; this spec asserts the session factory actually
  * sets it, so the envelope is a tested contract rather than a paper claim.
  */
object SessionSpec {
  val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
}

class SessionSpec extends SparkSpec {

  test("session pins the reference's speculation policy (task.go:13-14)") {
    assert(spark.conf.get("spark.speculation") == "true")
    assert(spark.conf.get("spark.speculation.multiplier").toDouble == 1.5)
    assert(spark.conf.get("spark.speculation.quantile").toDouble > 0.0)
  }

  test("session pins retry budget >= reference maxAttempts (task.go:11-12)") {
    assert(spark.conf.get("spark.task.maxFailures").toInt >= 3)
    // plain local[N] masters IGNORE spark.task.maxFailures (hardcoded 1
    // in SparkContext.createTaskScheduler); the factory must rewrite to
    // the local[N,F] form so retries are genuinely in force locally
    assert(spark.sparkContext.master.matches("local\\[[0-9*]+,[0-9]+\\]"),
      spark.sparkContext.master)
    assert(GraftSession.withLocalRetries("local[32]") == "local[32,3]")
    assert(GraftSession.withLocalRetries("local[*]") == "local[*,3]")
    assert(GraftSession.withLocalRetries("yarn") == "yarn")
    assert(GraftSession.withLocalRetries("local[4,2]") == "local[4,2]")
  }

  test("a failing task is actually retried up to the budget in local runs") {
    // proves the envelope is live, not just conf strings: a task that
    // fails twice then succeeds must complete under maxFailures=3.
    // (JVM-static counter: local-mode executors share the test JVM.)
    SessionSpec.attempts.set(0)
    val out = spark.sparkContext.parallelize(Seq(1), 1).map { x =>
      if (SessionSpec.attempts.incrementAndGet() < 3)
        throw new RuntimeException("planted failure")
      x * 10
    }.collect()
    assert(out.toSeq == Seq(10))
    assert(SessionSpec.attempts.get() == 3)
  }

  test("session sets semantic confs once at build; loaders are side-effect free") {
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // events loads without the loader touching session conf
    val before = spark.conf.getAll.filter(_._1.startsWith("spark.sql.legacy"))
    val ev = Tables.events(spark, sfDir)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val after = spark.conf.getAll.filter(_._1.startsWith("spark.sql.legacy"))
    assert(before == after)
  }

  test("withConfs restores set and unset keys, also when the body throws") {
    val unsetKey = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    val setKey = "spark.sql.shuffle.partitions"
    assert(!spark.conf.getAll.contains(unsetKey))
    val before = spark.conf.getAll
    val inside = GraftSession.withConfs(spark, unsetKey -> "0", setKey -> "3") {
      (spark.conf.get(unsetKey), spark.conf.get(setKey))
    }
    assert(inside == ("0", "3"))
    assert(spark.conf.getAll == before, "a previously unset key must be unset again")
    intercept[IllegalStateException] {
      GraftSession.withConfs(spark, unsetKey -> "0", setKey -> "3") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getAll == before, "confs must be restored when the body throws")
  }

  test("a failed stream leaves no temporary checkpoint dir behind") {
    // child JVM with its own java.io.tmpdir: the shared test JVM's
    // tmpdir holds other specs' streams
    val r = childJvm("graft.FailedStreamChild", "STREAM", tempDir("stream-child"))
    assert(r("failed") == "true", r)
    assert(r("during").toInt >= 1, s"the stream must checkpoint under java.io.tmpdir: $r")
    assert(r("left") == "0", s"temporary checkpoint dirs left after stop(): $r")
  }
}

/** Child JVM for the failed-stream spec: runs a foreachBatch stream
  * whose batch throws, then stops the session and reports how many
  * `temporary-*` checkpoint dirs java.io.tmpdir holds during the batch
  * and after `stop()`. */
object FailedStreamChild {
  def main(args: Array[String]): Unit = {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    def checkpoints(): Int = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator().asScala.count(_.getFileName.toString.startsWith("temporary-"))
      finally ls.close()
    }
    val spark = GraftSession.build("local[1]", 1, "graft-stream-child")
    val in = tmp.resolve("in").toString
    spark.range(3).write.parquet(in)
    @volatile var during = -1
    val q = spark.readStream.schema(spark.read.parquet(in).schema).parquet(in)
      .writeStream.foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
        during = checkpoints()
        throw new IllegalStateException("planted batch failure")
      }.start()
    val failed = try { q.awaitTermination(); false } catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException => true
    }
    spark.stop()
    println(s"STREAM failed=$failed")
    println(s"STREAM during=$during")
    println(s"STREAM left=${checkpoints()}")
    System.out.flush()
    sys.exit(0)
  }
}
