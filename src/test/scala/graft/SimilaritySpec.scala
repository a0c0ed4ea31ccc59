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

  test("broadcast-centroid kernel ≡ literal-centroid kernel") {
    import graft.functions.VectorFunctions
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    val rows = emb.filter($"vec_id" < 16).orderBy($"vec_id").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val cvecs = rows.map(_.getSeq[Double](1)).toSeq
    val bc = spark.sparkContext.broadcast(
      (cids.toArray, cvecs.map(_.toArray).toArray))
    val both = emb.select($"vec_id",
        VectorFunctions.nearestCentroids($"embedding", cids, cvecs, 4).as("lit"),
        VectorFunctions.nearestCentroidsBcast($"embedding", bc, 4).as("bcast"))
      .collect()
    both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"vec ${r.getLong(0)}"))
  }

  test("broadcast-wired IVF ≡ literal IVF, and its plan carries no centroid literals") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    val rows = emb.filter($"vec_id" < 16).orderBy($"vec_id").collect()
    val cids = rows.map(_.getLong(0)).toSeq
    val cvecs = rows.map(_.getSeq[Double](1)).toSeq
    val lit = Similarity.ivfWithCentroids(spark, emb, cids, cvecs,
      numQueries = 10, topK = 5, bcastThreshold = Int.MaxValue)
    val bc = Similarity.ivfWithCentroids(spark, emb, cids, cvecs,
      numQueries = 10, topK = 5, bcastThreshold = 1)
    assert(bc.collect().toSeq == lit.collect().toSeq)
    val litPlan = lit.queryExecution.executedPlan.toString
    val bcPlan = bc.queryExecution.executedPlan.toString
    assert(bcPlan.contains("graft_nearest_centroids_bcast"), bcPlan.take(500))
    // the literal path serializes 16×64 doubles into every task's plan
    // (visible as a megastring here); the broadcast path must not —
    // that is the point of the wiring at 10⁴⁺ lists
    assert(bcPlan.length * 4 < litPlan.length,
      s"bcast plan ${bcPlan.length} chars vs literal ${litPlan.length}")
  }

  test("PqEncode kernel ≡ driver-side nearest-centroid assignment per subspace") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    // small codebooks keep the driver-side reconstruction readable;
    // the kernel contract (per-subspace L2 argmin, low-index ties) is
    // config-independent
    val books = Similarity.pqTrain(spark, emb, m = 8, ksub = 16, sampleN = 64)
    val got = emb.select($"vec_id",
      graft.functions.VectorFunctions.pqEncode($"embedding", books).as("code"))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
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

  test("broadcast-wired PQ ≡ literal PQ, and its plan carries no codebook literals") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    val books = Similarity.pqTrain(spark, emb, m = 8, ksub = 16, sampleN = 64)
    val bc = spark.sparkContext.broadcast(books.map(_.map(_.toArray).toArray).toArray)
    val q = emb.filter($"vec_id" === 0L).select($"embedding").head().getSeq[Double](0)
    def scored(enc: org.apache.spark.sql.Column,
               sim: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      emb.select($"vec_id", enc.as("code")).select($"vec_id", sim($"code").as("sim"))
    val lit = scored(graft.functions.VectorFunctions.pqEncode($"embedding", books),
      c => graft.functions.VectorFunctions.cosinePqAsym(typedLit(q), c, books))
    val bcd = scored(graft.functions.VectorFunctions.pqEncodeBcast($"embedding", bc),
      c => graft.functions.VectorFunctions.cosinePqAsymBcast(typedLit(q), c, bc))
    // bit-identical: the two variants share ONE eval loop (PqKernel) —
    // serialization strategy must never drift the arithmetic
    assert(bcd.collect().toSeq == lit.collect().toSeq)
    val litPlan = lit.queryExecution.executedPlan.toString
    val bcPlan = bcd.queryExecution.executedPlan.toString
    assert(bcPlan.contains("graft_pq_encode_bcast") &&
      bcPlan.contains("graft_cosine_pq_bcast"), bcPlan.take(500))
    // the literal path serializes m×ksub×dsub doubles into every task's
    // plan; the broadcast path must not — that is the point of the
    // wiring (the registry defaults put ~128 KB of doubles per
    // expression occurrence)
    assert(bcPlan.length * 4 < litPlan.length,
      s"bcast plan ${bcPlan.length} chars vs literal ${litPlan.length}")
  }

  test("broadcast-wired PQ kernels enforce the literal kernel's codebook contract (ksub = 257 fails loudly)") {
    // a 257th centroid's index does not fit the code byte: the literal
    // PqEncode has always refused it, and the broadcast twins must too,
    // or the nearest-centroid index 256 silently wraps to code 0
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
    intercept[IllegalArgumentException](VectorFunctions.pqEncode($"v", books))
    val empty = spark.sparkContext.broadcast(Array.empty[Array[Array[Double]]])
    intercept[IllegalArgumentException](VectorFunctions.pqEncodeBcast($"v", empty))
    intercept[IllegalArgumentException](
      VectorFunctions.cosinePqAsymBcast($"v", typedLit(Array[Byte](0, 0)), empty))
    bc.destroy()
    empty.destroy()
  }

  test("registry PQ queries ride the broadcast-wired kernels (no codebook plan literals)") {
    // the registry defaults (m16×k256 = 4096 centroids) sit far above
    // the broadcast threshold, so ann_pq_topk / ann_ivf_pq must plan
    // the bcast expressions — the r22 optimization this pin guards
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
    val got = emb.select($"vec_id",
      graft.functions.VectorFunctions.cosinePqAsym(
        typedLit(q),
        graft.functions.VectorFunctions.pqEncode($"embedding", books),
        books).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
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

  test("ResidualVec kernel ≡ driver-side subtraction; CosinePqResidual ≡ centroid-plus-decode cosine") {
    val emb = Tables.embeddings(spark, sfDir)
      .selectExpr("vec_id", "cast(embedding as array<double>) as embedding")
    val vecs = emb.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val (_, cvecs) = Similarity.kmeansCentroids(spark, emb, 4, 2)
    val books = Similarity.pqTrainResidual(spark, emb, cvecs, m = 8, ksub = 16, sampleN = 64)
    val dsub = books.head.head.length
    // fixed assignment column keeps the pin independent of the
    // assignment kernel (tested elsewhere): cid = vec_id % 4
    val withCid = emb.select($"vec_id", $"embedding",
      ($"vec_id" % 4).cast("long").as("cid"))
    val gotRes = withCid.select($"vec_id",
      graft.functions.VectorFunctions.residualVec($"embedding", $"cid", cvecs).as("r"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vecs.foreach { case (id, v) =>
      val c = cvecs((id % 4).toInt)
      val expected = v.zip(c).map { case (x, y) => x - y }
      assert(gotRes(id) == expected, s"residual vec $id")
    }
    val q = vecs(0L)
    val gotSim = withCid.select($"vec_id", $"cid",
      graft.functions.VectorFunctions.cosinePqResidual(typedLit(q), $"cid",
        graft.functions.VectorFunctions.pqEncode(
          graft.functions.VectorFunctions.residualVec($"embedding", $"cid", cvecs),
          books),
        cvecs, books).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    vecs.foreach { case (id, v) =>
      val c = cvecs((id % 4).toInt)
      val resid = v.zip(c).map { case (x, y) => x - y }
      // driver-side: encode the residual, decode to its centroid
      // reconstruction, add the coarse centroid back, exact cosine
      val recon = books.indices.flatMap { mi =>
        val sub = resid.slice(mi * dsub, (mi + 1) * dsub)
        books(mi).minBy(cw => sub.zip(cw).map { case (x, y) => (x - y) * (x - y) }.sum)
      }
      val full = recon.zip(c).map { case (r, y) => r + y }
      assert(math.abs(gotSim(id) - cos(q, full)) < 1e-9, s"vec $id")
    }
  }

  test("PQ kernels reject malformed inputs loudly (dim and code-length contracts)") {
    val books: Seq[Seq[Seq[Double]]] =
      Seq(Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)), Seq(Seq(0.0, 0.0), Seq(1.0, 1.0)))
    // dim 3 != 2 subspaces × dsub 2 → the task must fail, not truncate
    val bad = Seq((1L, Seq(0.1, 0.2, 0.3))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      bad.select(graft.functions.VectorFunctions.pqEncode($"embedding", books)).collect()
    }
    assert(e.getMessage != null)
    val badQ = intercept[Exception] {
      Seq((1L, Seq(0.1, 0.2, 0.3, 0.4))).toDF("vec_id", "embedding")
        .select(graft.functions.VectorFunctions.cosinePqAsym(
          typedLit(Seq(0.1, 0.2, 0.3)),
          graft.functions.VectorFunctions.pqEncode($"embedding", books),
          books)).collect()
    }
    assert(badQ.getMessage != null)
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
}
