package graft

import graft.functions.HashFunctions
import org.apache.spark.sql.functions.{col, element_at, expr, typedLit}

/** FNV-1a pinned against published test vectors (public-domain FNV
  * reference constants) — guarantees bit-parity with the reference's
  * partitioner (`/root/reference/distributed/worker.go:170-174`,
  * Go fnv.New32a). Exercises BOTH the interpreted eval path and the
  * generated-code path. */
class HashSpec extends SparkSpec {
  import spark.implicits._

  val vectors32: Seq[(String, Int)] = Seq(
    "" -> 0x811c9dc5,
    "a" -> 0xe40c292c,
    "foobar" -> 0xbf9cf968)

  val vectors64: Seq[(String, Long)] = Seq(
    "" -> 0xcbf29ce484222325L,
    "a" -> 0xaf63dc4c8601ec8cL,
    "foobar" -> 0x85944171f73967e8L)

  /** `values` as a one-column frame whose projections reach generated
    * code: rows are picked from the literal by a `spark.range` index,
    * so the optimizer cannot fold them into a local relation and
    * evaluate the kernels interpreted. */
  private def codegenRows[T: scala.reflect.runtime.universe.TypeTag](values: Seq[T],
                                                                     name: String) =
    spark.range(values.length)
      .select(element_at(typedLit(values), ($"id" + 1).cast("int")).as(name))

  test("fnv1a32 matches published vectors (scala kernel)") {
    vectors32.foreach { case (s, h) =>
      val b = s.getBytes("UTF-8")
      assert(HashFunctions.fnv1a32Bytes(b, 0, b.length) == h, s)
    }
  }

  test("fnv1a64 matches published vectors (scala kernel)") {
    vectors64.foreach { case (s, h) =>
      val b = s.getBytes("UTF-8")
      assert(HashFunctions.fnv1a64Bytes(b, 0, b.length) == h, s)
    }
  }

  test("fnv expressions agree with kernel through codegen") {
    GraftExtensions.register(spark)
    val words = vectors32.map(_._1) ++ Seq("hello", "Spark", "züricher")
    val rows = withConf("spark.sql.codegen.fallback", "false") {
      codegenRows(words, "s").select(col("s"),
        HashFunctions.fnv1a32(col("s")).as("h32"),
        expr("graft_fnv1a64(s)").as("h64")).collect()
    }
    assert(rows.length == words.length)
    rows.foreach { r =>
      val b = r.getString(0).getBytes("UTF-8")
      assert(r.getInt(1) == HashFunctions.fnv1a32Bytes(b, 0, b.length))
      assert(r.getLong(2) == HashFunctions.fnv1a64Bytes(b, 0, b.length))
    }
  }

  test("zvalue matches morton goldens and the scala kernel through codegen") {
    import graft.functions.ZOrder
    GraftExtensions.register(spark)
    // hand-computed morton vectors: a on even bits, b on odd
    assert(ZOrder.interleave(0L, 0L) == 0L)
    assert(ZOrder.interleave(1L, 0L) == 1L)
    assert(ZOrder.interleave(0L, 1L) == 2L)
    assert(ZOrder.interleave(1L, 1L) == 3L)
    assert(ZOrder.interleave(0xffffffffL, 0L) == 0x5555555555555555L)
    assert(ZOrder.interleave(0L, 0xffffffffL) == 0xaaaaaaaaaaaaaaaaL)
    assert(ZOrder.interleave(0b101L, 0b011L) == 0b011011L) // a=5,b=3 → 27
    // monotone in each argument when the other is fixed (what makes a
    // range filter map to bounded z ranges). SIGNED monotonicity holds
    // only below 2^31 (the kernel doc's contract — above that the
    // interleave sets the sign bit and only unsigned order survives;
    // 16-bit bucket ids stay far inside the safe range)
    val samples = Seq(0L, 1L, 2L, 100L, 65535L, 65536L, 0x7fffffffL)
    samples.sliding(2).foreach { case Seq(x, y) =>
      assert(ZOrder.interleave(x, 7L) < ZOrder.interleave(y, 7L))
      assert(ZOrder.interleave(7L, x) < ZOrder.interleave(7L, y))
    }
    val full = Seq(0L, 1L, 2L, 100L, 65535L, 65536L, 0xffffffffL)
    // codegen path agrees with the scala kernel (full 32-bit domain)
    val pairs = for (a <- full; b <- full) yield Seq(a, b)
    val rows = withConf("spark.sql.codegen.fallback", "false") {
      codegenRows(pairs, "p")
        .select($"p"(0).as("a"), $"p"(1).as("b"))
        .select($"a", $"b", expr("graft_zvalue(a, b)").as("z")).collect()
    }
    assert(rows.length == pairs.length)
    rows.foreach { r =>
      assert(r.getLong(2) == ZOrder.interleave(r.getLong(0), r.getLong(1)))
    }
  }

  test("two zvalue kernels share a codegen scope without colliding") {
    import graft.functions.ZOrder
    // Regression: doGenCode once hardcoded its temp names, so two
    // ZValue expressions over NON-nullable inputs (nullSafeCodeGen
    // emits resultCode unbraced then) declared duplicate locals and
    // failed janino — silently dropping the plan out of whole-stage
    // codegen. fallback=false turns that silent degradation into a
    // test failure.
    GraftExtensions.register(spark)
    withConf("spark.sql.codegen.fallback", "false") {
      // spark.range, not Seq.toDF: ConvertToLocalRelation folds a
      // literal frame in the optimizer (interpreted eval — the test
      // would never reach codegen). id=0 → (1,2), id=1 → (5,3);
      // arithmetic over range keeps both columns non-nullable.
      val df = spark.range(2).select(
        (col("id") * 4L + 1L).as("a"), (col("id") + 2L).as("b"))
      val rows = df.select(
        expr("graft_zvalue(a, b)").as("z1"),
        expr("graft_zvalue(b, a)").as("z2")).collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((ZOrder.interleave(1L, 2L), ZOrder.interleave(2L, 1L)),
            (ZOrder.interleave(5L, 3L), ZOrder.interleave(3L, 5L))))
    }
  }

  test("kernels propagate null inputs as null") {
    GraftExtensions.register(spark)
    val df = Seq(Some("text"), None).toDF("s")
    val r = df.select(
      HashFunctions.fnv1a32(col("s")).as("a"),
      expr("graft_fnv1a64(s)").as("b"),
      graft.functions.SketchFunctions.simhash64(col("s")).as("c"),
      graft.functions.SketchFunctions.minhash(col("s"), 5, 4).as("d"))
      .collect()
    assert(r.forall(row => (0 to 3).forall(i => !row.isNullAt(i)) || row.anyNull))
    val nullRow = r.find(_.anyNull).get
    (0 to 3).foreach(i => assert(nullRow.isNullAt(i), s"col $i"))
  }

  test("cosine kernel: self-similarity is exactly 1 within fp tolerance") {
    GraftExtensions.register(spark)
    val sim = spark.sql(
      "SELECT graft_cosine(array(1.0d, 2.0d, 3.0d), array(1.0d, 2.0d, 3.0d))")
      .collect().head.getDouble(0)
    assert(math.abs(sim - 1.0) < 1e-12)
  }

  test("wc_partitions buckets match driver-side FNV routing for every corpus word") {
    // the registry's rows-only query (`wc_partitions`) gated end-to-end:
    // each word's bucket must equal the reference contract
    // (fnv1a32(word) & 0x7fffffff) % nReduce — worker.go:154,170-174 —
    // recomputed here against the pinned-vector FNV kernel. Counts are
    // already oracle-checked via wc_wordcount (same tokenization).
    val rows = graft.operators.Skew.wordCountWithPartition(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (word, bucket) = (r.getString(0), r.getLong(2))
      val b = word.getBytes("UTF-8")
      val expected = ((HashFunctions.fnv1a32Bytes(b, 0, b.length) & 0x7fffffff) % 5).toLong
      assert(bucket == expected, s"word '$word': bucket $bucket != $expected")
    }
  }

  test("referencePartition reproduces ihash routing: non-negative, < nReduce, deterministic") {
    val words = Seq("the", "quick", "brown", "fox", "hello", "world")
    val df = words.toDF("w")
      .select(col("w"), HashFunctions.referencePartition(col("w"), 5).as("p"))
    val got = df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    words.foreach { w =>
      val b = w.getBytes("UTF-8")
      val expected = (HashFunctions.fnv1a32Bytes(b, 0, b.length) & 0x7fffffff) % 5
      assert(got(w) == expected, w)
      assert(got(w) >= 0 && got(w) < 5)
    }
  }
}
