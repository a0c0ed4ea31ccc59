package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import org.apache.spark.sql.functions.{element_at, typedLit}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side exact cosine for the golden comparison. */
  private def cos(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    dot / (na * nb)
  }

  /** Runs `body` over `books` shipped as the PQ kernels' codebook
    * broadcast, destroyed afterwards. */
  private def withBooks[A](books: Seq[Seq[Seq[Double]]])(
      body: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]] => A): A = {
    val bc = spark.sparkContext.broadcast(books.map(_.map(_.toArray).toArray).toArray)
    try body(bc) finally bc.destroy()
  }

  test("brute-force top-k matches driver-side exact computation") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = Similarity.bruteForceTopK(spark, sfDir, numQueries = 3, topK = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    got.groupBy(_._1).foreach { case (q, rows) =>
      val expected = emb.toSeq.filter(_._1 != q)
        .map { case (id, e) =>
          (id, BigDecimal(cos(emb(q), e)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (id, c) => (-c, id) }.take(4)
      val gotQ = rows.sortBy(_._4).map(r => (r._2, r._3)).toSeq
      assert(gotQ == expected, s"query $q")
    }
  }

  test("lsh bucket ids are deterministic and bounded") {
    val df = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    val bucket = element_at(VectorFunctions.signLsh($"embedding", 64, 4, tables = 1), 1)
    val buckets = df.select(bucket.as("b")).collect().map(_.getLong(0))
    assert(buckets.forall(b => b >= 0 && b < 16))
    val again = df.select(bucket.as("b")).collect().map(_.getLong(0))
    assert(buckets.toSeq == again.toSeq)
  }

  test("ivf top-k: scores are true cosines, ranks dense per query") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = Similarity.ivfTopK(spark, sfDir, numQueries = 5, topK = 3).collect()
    assert(got.nonEmpty)
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getLong(3)).sorted.toSeq == (1L to rows.length))
    }
    got.foreach { r =>
      val (q, id, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val expected = BigDecimal(cos(emb(q), emb(id)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(sim - expected) < 1e-9, s"($q,$id)")
    }
  }

  test("VectorSum aggregate: element-wise sums match driver-side math, partial/final merge included") {
    val df = Seq(
      (0L, Seq(1.0, 2.0, 3.0)), (0L, Seq(10.0, 20.0, 30.0)),
      (1L, Seq(0.5, 0.5, 0.5))).toDF("g", "v").repartition(3)
    val got = df.groupBy($"g")
      .agg(graft.functions.VectorAgg.vectorSum($"v").as("s"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(0L) == Seq(11.0, 22.0, 33.0))
    assert(got(1L) == Seq(0.5, 0.5, 0.5))
  }

  test("kmeans: centroids converge to planted cluster means") {
    // two tight planted clusters around (1,0) and (0,1)
    val rows = (0 until 10).map(i => (i.toLong, Seq(1.0, 0.001 * i))) ++
      (10 until 20).map(i => (i.toLong, Seq(0.001 * (i - 10), 1.0)))
    val emb = rows.toDF("vec_id", "embedding")
    val (ids, vecs) = Similarity.kmeansCentroids(spark, emb, 2, 5)
    assert(ids == Seq(0L, 1L))
    // each learned centroid should be dominated by one axis
    val dominantAxes = vecs.map(v => v.indexOf(v.max)).toSet
    assert(dominantAxes == Set(0, 1), vecs.toString)
  }

  test("trained artifacts memoize per (corpus plan, hyperparams)") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    // same key → the SAME object (cache hit, no retraining jobs);
    // different hyperparams → a fresh training
    val a = Similarity.kmeansCentroids(spark, emb, 8, 2)
    val b = Similarity.kmeansCentroids(spark, emb, 8, 2)
    assert(a._2 eq b._2, "second identical call must hit the cache")
    val c = Similarity.kmeansCentroids(spark, emb, 8, 3)
    assert(!(c._2 eq a._2) && c._2 != a._2,
      "different iters must retrain, not alias the cached artifact")
    val p1 = Similarity.pqTrain(spark, emb, m = 8, ksub = 16, sampleN = 256, iters = 2)
    val p2 = Similarity.pqTrain(spark, emb, m = 8, ksub = 16, sampleN = 256, iters = 2)
    assert(p1 eq p2, "identical PQ training must hit the cache")
  }

  test("PqEncode kernel ≡ driver-side nearest-centroid assignment per subspace") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    // small codebooks keep the driver-side reconstruction readable;
    // the kernel contract (per-subspace L2 argmin, low-index ties) is
    // config-independent
    val books = Similarity.pqTrain(spark, emb, m = 8, ksub = 16, sampleN = 64)
    val got = withBooks(books)(bc => emb.select($"vec_id",
      VectorFunctions.pqEncodeBcast($"embedding", bc).as("code"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val dsub = books.head.head.length
    vecs.foreach { case (id, v) =>
      val expected = books.indices.map { mi =>
        val sub = v.slice(mi * dsub, (mi + 1) * dsub)
        books(mi).zipWithIndex.minBy { case (c, j) =>
          (sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum, j)
        }._2.toByte
      }
      assert(got(id).toSeq == expected, s"vec $id")
    }
  }

  test("broadcast-wired PQ kernels enforce the literal kernel's codebook contract (ksub = 257 fails loudly)") {
    // a 257th centroid's index does not fit the code byte: both
    // kernels must refuse it, or the nearest-centroid index 256
    // silently wraps to code 0
    val books = Seq.fill(2)(Seq.tabulate(257)(j => Seq(j.toDouble, 1.0)))
    val bc = spark.sparkContext.broadcast(books.map(_.map(_.toArray).toArray).toArray)
    val v = Seq(Tuple1(Seq(256.0, 1.0, 256.0, 1.0))).toDF("v")
    import graft.functions.VectorFunctions
    val enc = intercept[IllegalArgumentException](
      v.select(VectorFunctions.pqEncodeBcast($"v", bc)).collect())
    assert(enc.getMessage.contains("ksub must fit one byte"), enc.getMessage)
    val sim = intercept[IllegalArgumentException](
      v.select(VectorFunctions.cosinePqAsymBcast($"v", typedLit(Array[Byte](0, 0)), bc)).collect())
    assert(sim.getMessage.contains("ksub must fit one byte"), sim.getMessage)
    val empty = spark.sparkContext.broadcast(Array.empty[Array[Array[Double]]])
    intercept[IllegalArgumentException](VectorFunctions.pqEncodeBcast($"v", empty))
    intercept[IllegalArgumentException](
      VectorFunctions.cosinePqAsymBcast($"v", typedLit(Array[Byte](0, 0)), empty))
    bc.destroy()
    empty.destroy()
  }

  test("registry PQ queries ride the broadcast-wired kernels (no codebook plan literals)") {
    // ann_pq_topk / ann_ivf_pq must plan the bcast expressions: as
    // literals the m16×k256 codebooks re-ship ~128 KB of doubles with
    // every task — the r22 optimization this pin guards
    val pq = Similarity.pqTopK(spark, sfDir).queryExecution.executedPlan.toString
    assert(pq.contains("graft_pq_encode_bcast") && pq.contains("graft_cosine_pq_bcast"),
      pq.take(500))
    val ivfPq = Similarity.ivfPqTopK(spark, sfDir).queryExecution.executedPlan.toString
    assert(ivfPq.contains("graft_pq_encode_bcast") && ivfPq.contains("graft_cosine_pq_bcast"),
      ivfPq.take(500))
  }

  test("CosinePqAsym kernel ≡ driver-side decode-and-cosine reconstruction") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    val books = Similarity.pqTrain(spark, emb, m = 8, ksub = 16, sampleN = 64)
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val dsub = books.head.head.length
    val q = vecs(0L)
    val got = withBooks(books)(bc => emb.select($"vec_id",
      VectorFunctions.cosinePqAsymBcast(
        typedLit(q), VectorFunctions.pqEncodeBcast($"embedding", bc), bc).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
    vecs.foreach { case (id, v) =>
      // driver-side: encode, decode to the centroid reconstruction,
      // then exact cosine(query, reconstruction) — the ADC identity
      val recon = books.indices.flatMap { mi =>
        val sub = v.slice(mi * dsub, (mi + 1) * dsub)
        books(mi).minBy(c => sub.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      assert(math.abs(got(id) - cos(q, recon)) < 1e-9, s"vec $id")
    }
  }

  test("PQ kernels reject malformed inputs loudly (dim and code-length contracts)") {
    val books: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)), Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
    // dim 3 != 2 subspaces × dsub 2 → the task must fail, not truncate
    withBooks(books) { bc =>
      val bad = Seq((1L, Seq(0.1, 0.2, 0.3))).toDF("vec_id", "embedding")
      val e = intercept[Exception] {
        bad.select(VectorFunctions.pqEncodeBcast($"embedding", bc)).collect()
      }
      assert(e.getMessage != null)
      val badQ = intercept[Exception] {
        Seq((1L, Seq(0.1, 0.2, 0.3, 0.4))).toDF("vec_id", "embedding")
          .select(VectorFunctions.cosinePqAsymBcast(
            typedLit(Seq(0.1, 0.2, 0.3)),
            VectorFunctions.pqEncodeBcast($"embedding", bc), bc)).collect()
      }
      assert(badQ.getMessage != null)
    }
  }

  test("lsh top-k candidates are true cosine scores (subset of brute force domain)") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as e")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val got = Similarity.lshTopK(spark, sfDir, numQueries = 5, topK = 3).collect()
    got.foreach { r =>
      val (q, id, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val expected = BigDecimal(cos(emb(q), emb(id)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(sim - expected) < 1e-9, s"($q,$id)")
    }
  }

  test("graft_dot / graft_cosine: generated code ≡ interpreted eval ≡ the Scala kernel, fused with their input") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.execution.{ProjectExec, RangeExec}
    import org.apache.spark.sql.functions.{array, expr, lit, sin, slice}
    GraftExtensions.register(spark)
    // spark.range, not Seq.toDF: a literal frame folds to a local
    // relation in the optimizer and never reaches codegen. Lengths 1-4
    // against 2-4 make most pairs unequal.
    val elems = (1 to 4).map(i => sin($"id" * i) + i)
    val vecs = spark.range(24).select(
      slice(array(elems: _*), lit(1), ($"id" % 4 + 1).cast("int")).as("a"),
      slice(array(elems.reverse: _*), lit(1), ($"id" % 3 + 2).cast("int")).as("b"))
    // the rows, and whether the kernels' projection shares a codegen
    // stage with the range scan feeding it
    def run(): (Seq[(Seq[Double], Seq[Double], Double, Double)], Boolean) = {
      val q = vecs.select($"a", $"b", expr("graft_dot(a, b)"), expr("graft_cosine(a, b)"))
      val rows = q.collect().toSeq.map(r =>
        (r.getSeq[Double](0), r.getSeq[Double](1), r.getDouble(2), r.getDouble(3)))
      val stages = codegenStages(q.queryExecution.executedPlan)
      val kernelStage = stages.collectFirst {
        case (p: ProjectExec, id) if p.projectList.exists(_.toString.contains("graft_dot")) => id
      }
      (rows, kernelStage.exists(id => stages.exists {
        case (_: RangeExec, i) => i == id
        case _                 => false
      }))
    }
    // generated code (a compile error fails instead of falling back),
    // then the interpreted eval: without whole-stage codegen a project
    // still compiles its expressions unless the factory mode forbids it
    val (generated, genFused) = withConf("spark.sql.codegen.fallback", "false")(run())
    assert(genFused, "graft_dot/graft_cosine must run inside the scan's codegen stage")
    val (interpreted, intFused) = withConf("spark.sql.codegen.wholeStage", "false")(
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(run()))
    assert(!intFused)
    assert(generated == interpreted)
    assert(generated.exists { case (a, b, _, _) => a.length != b.length })
    generated.foreach { case (a, b, dot, cos) =>
      val (ad, bd) = (ArrayData.toArrayData(a.toArray), ArrayData.toArrayData(b.toArray))
      assert(dot == VectorFunctions.dot(ad, bd), s"dot $a · $b")
      assert(cos == VectorFunctions.cosine(ad, bd), s"cosine $a · $b")
    }
  }
}
