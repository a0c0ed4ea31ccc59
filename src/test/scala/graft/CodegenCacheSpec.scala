package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** A generated class compiles once per JVM: `GraftSession` sizes Spark's
  * codegen cache to the registry's working set, and streams share it with
  * batch queries. The cache is sized from a static conf when
  * CodeGenerator first loads, once per JVM, so the check runs in a child
  * JVM whose first session is a `GraftSession`. */
class CodegenCacheSpec extends SparkSpec {

  test("a generated class compiles once per JVM: 150 distinct plans later, nothing recompiles") {
    val r = childJvm("graft.CodegenCacheChild", "CODEGEN", tempDir("codegen-child"), sfDir)
      .map { case (k, v) => k -> v.toLong }
    // each plan compiled its own class: more than the default cache holds
    assert(r("distinct") >= 150, r)
    assert(r("firstRerun") == 0, s"the first plan recompiled after 150 others: $r")
    assert(r("streamFirst") > 0, r)
    assert(r("streamRerun") == 0, s"a stream's second run recompiled: $r")
  }
}

/** Child JVM for the codegen-cache spec: prints how many classes each
  * step compiled, as `CODEGEN <step>=<count>` lines. */
object CodegenCacheChild {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build("local[2]", 2, "graft-codegen-child")
    def compiled(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def compiles(body: => Unit): Long = { val c = compiled(); body; compiled() - c }
    // an int literal is inlined into the generated source: one class per i
    def plan(i: Int): Unit = spark.range(8).selectExpr(s"id * $i + $i as x").filter(s"x % 7 <> $i")
      .write.format("noop").mode("overwrite").save()
    println(s"CODEGEN distinct=${compiles((1 to 150).foreach(plan))}")
    println(s"CODEGEN firstRerun=${compiles(plan(1))}")
    def stream(): Unit = SparkEntry.run(spark, "ev_stream_tumbling", args(0))(
      _.write.format("noop").mode("overwrite").save())
    println(s"CODEGEN streamFirst=${compiles(stream())}")
    println(s"CODEGEN streamRerun=${compiles(stream())}")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }
}
