package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Vector kernels for embedding similarity.
  *
  * The `zip_with` + `aggregate` formulation of a dot product is
  * interpreted: one boxed lambda call per element per pair. Inside a
  * bucketed pair join (125k pairs × 64 dims) that's 8M boxed calls —
  * measured as the dominant cost of the near-dup query. These kernels
  * loop over the unboxed ArrayData directly. Accumulation order is
  * left-to-right, identical to `aggregate`'s fold, so results are
  * bit-equal with the HOF formulation and the DuckDB oracle.
  */
object VectorFunctions {
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def signLsh(v: Column, dim: Int, bits: Int, tables: Int): Column =
    ColumnBridge.column(SignLshBuckets(ColumnBridge.expression(v), dim, bits, tables))

  def nearestCentroids(v: Column, ids: Seq[Long], vecs: Seq[Seq[Double]], k: Int): Column =
    ColumnBridge.column(NearestCentroids(ColumnBridge.expression(v), ids, vecs, k))

  def quantizeSq8(v: Column, los: Seq[Double], his: Seq[Double]): Column =
    ColumnBridge.column(QuantizeSq8(ColumnBridge.expression(v), los, his))

  def cosineSq8Asym(q: Column, code: Column,
                    los: Seq[Double], his: Seq[Double]): Column =
    ColumnBridge.column(CosineSq8Asym(
      ColumnBridge.expression(q), ColumnBridge.expression(code), los, his))

  def pqEncodeBcast(v: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]]): Column =
    ColumnBridge.column(PqEncodeBcast(ColumnBridge.expression(v), bc))

  def cosinePqAsymBcast(q: Column, code: Column,
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]]): Column =
    ColumnBridge.column(CosinePqAsymBcast(
      ColumnBridge.expression(q), ColumnBridge.expression(code), bc))

  /** The dot product kernel behind [[DotProduct]]'s eval and generated
    * code: Σaᵢbᵢ over the shorter array's length. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** The cosine kernel behind [[CosineSim]]'s eval and generated code:
    * Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²), one fused pass over the shorter array's
    * length. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
}

/** The `k` nearest centroid ids by cosine similarity (ties broken by
  * smaller id), computed map-side against driver-collected centroids —
  * the IVF assignment/probe step.
  *
  * Why an expression and not a join: the round-1 formulation
  * (cross-join 16 broadcast centroids then `Window.partitionBy(vec_id)`
  * argmax) shuffled the ENTIRE corpus — embeddings included — keyed by
  * vec_id just to take a per-row argmax over 16 candidates. At 100 TB
  * that is a full-corpus exchange for a map-side decision. Centroid sets
  * are small by construction (they live on the driver in any k-means
  * pipeline), so they belong in the expression, and assignment becomes
  * embarrassingly parallel with zero Exchange (asserted in PlanSpec).
  * Cosine math matches [[CosineSim]] exactly (same accumulation order).
  *
  * Sizing note: expression-embedded centroids serialize with the plan —
  * fine for nLists ≤ a few hundred (≤ ~1 MB at dim 64). Every IVF path
  * trains `Similarity.NLists` = 16 lists (8 KB of doubles at dim 64), so
  * the table always rides as plan literals. A 10⁴-list IVF would want
  * the table shipped as a TorrentBroadcast instead, as the PQ codebooks
  * are ([[PqEncodeBcast]]).
  */
case class NearestCentroids(child: Expression, ids: Seq[Long],
                            vecs: Seq[Seq[Double]], k: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  require(ids.length == vecs.length && k > 0)
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)
  override def prettyName: String = "graft_nearest_centroids"

  @transient private lazy val cvecs: Array[Array[Double]] = vecs.map(_.toArray).toArray
  @transient private lazy val cids: Array[Long] = ids.toArray

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val nc = cvecs.length
    val sims = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      val cv = cvecs(c)
      val n = math.min(a.numElements(), cv.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a.getDouble(i); val y = cv(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      sims(c) = dot / (math.sqrt(na) * math.sqrt(nb))
      c += 1
    }
    val kk = math.min(k, nc)
    val chosen = new Array[Long](kk)
    val used = new Array[Boolean](nc)
    var r = 0
    while (r < kk) {
      var best = -1
      c = 0
      while (c < nc) {
        if (!used(c) && (best < 0 || sims(c) > sims(best) ||
            (sims(c) == sims(best) && cids(c) < cids(best)))) best = c
        c += 1
      }
      used(best) = true
      chosen(r) = cids(best)
      r += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(chosen)
  }
  override protected def withNewChildInternal(c: Expression): NearestCentroids =
    copy(child = c)
}

/** Sign-LSH bucket ids for `tables` independent hash tables in one
  * pass: bucket bit b of table t is the sign of the dot product with a
  * deterministic pseudo-random hyperplane. The Column-expression
  * formulation of this (tables × bits × dim literal terms) produced a
  * ~4096-node tree whose codegen/compile dominated the query; here the
  * planes are precomputed once per executor and the eval is a tight
  * triple loop. */
case class SignLshBuckets(child: Expression, dim: Int, bits: Int, tables: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)
  override def prettyName: String = "graft_sign_lsh"

  @transient private lazy val planes: Array[Array[Double]] = {
    def mix(x: Long): Long = {
      var h = x * -7046029254386353131L
      h = java.lang.Long.rotateLeft(h, 31) * -4417276706812531889L
      h ^= h >>> 33; h *= -49064778989728563L; h ^= h >>> 29
      h
    }
    Array.tabulate(tables * bits) { tb =>
      val t = tb / bits; val b = tb % bits
      Array.tabulate(dim) { d =>
        java.lang.Long.hashCode(
          mix(t * 7919L * dim * bits + b * 1009 + d)) / Int.MaxValue.toDouble
      }
    }
  }

  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val plane = planes(t * bits + b)
        var proj = 0.0
        var d = 0
        while (d < n) { proj += arr.getDouble(d) * plane(d); d += 1 }
        if (proj > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): SignLshBuckets =
    copy(child = c)
}

/** Both vector pair kernels implement `doGenCode`, so a pair join's
  * score projection stays INSIDE whole-stage codegen — the
  * CodegenFallback boundary would otherwise materialize an InternalRow
  * and box through `eval` for every candidate pair, the hottest loop
  * of the ANN/near-dup queries. Generated code calls the same static
  * kernel eval runs ([[VectorFunctions.dot]]); parity is pinned in
  * SimilaritySpec's driver-side goldens and the ann_brute_topk
  * oracle. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    VectorFunctions.dot(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorFunctions.dot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** cos(a,b) through [[VectorFunctions.cosine]], in eval and in
  * generated code alike. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"
  override protected def nullSafeEval(l: Any, r: Any): Any =
    VectorFunctions.cosine(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorFunctions.cosine($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

/** Scalar (SQ8) vector quantization — the memory-bounded ANN scale
  * path (FAISS SQ8): each dimension is linearly mapped to one byte
  * using corpus-level per-dimension [lo, hi] bounds, cutting the
  * resident corpus 8× vs array<double> (64 bytes vs 512 at dim 64).
  * Values outside the trained bounds clamp. Bounds ride as literals —
  * 2×dim doubles, far under the ~128 KB PQ codebook table that rides a
  * broadcast ([[PqEncodeBcast]]). */
case class QuantizeSq8(child: Expression, los: Seq[Double], his: Seq[Double])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  require(los.length == his.length)
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "graft_quantize_sq8"

  @transient private lazy val lo = los.toArray
  @transient private lazy val span = los.indices.map(d =>
    math.max(his(d) - los(d), java.lang.Double.MIN_NORMAL)).toArray

  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), lo.length)
    val out = new Array[Byte](n)
    var d = 0
    while (d < n) {
      val q = math.rint((a.getDouble(d) - lo(d)) / span(d) * 255.0)
      out(d) = math.max(0.0, math.min(255.0, q)).toInt.toByte
      d += 1
    }
    out
  }
  override protected def withNewChildInternal(c: Expression): QuantizeSq8 =
    copy(child = c)
}

/** Asymmetric SQ8 cosine (FAISS ADC): the float query against a
  * quantized corpus code — dequantize-on-the-fly inside one unboxed
  * loop, so the corpus stays at 1 byte/dim in memory and only the
  * handful of query vectors are ever exact. */
case class CosineSq8Asym(left: Expression, right: Expression,
                         los: Seq[Double], his: Seq[Double])
    extends BinaryExpression with CodegenFallback {
  require(los.length == his.length)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sq8"

  @transient private lazy val lo = los.toArray
  @transient private lazy val step = los.indices.map(d =>
    math.max(his(d) - los(d), java.lang.Double.MIN_NORMAL) / 255.0).toArray

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val q = l.asInstanceOf[ArrayData]
    val code = r.asInstanceOf[Array[Byte]]
    val n = math.min(q.numElements(), math.min(code.length, lo.length))
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var d = 0
    while (d < n) {
      val x = q.getDouble(d)
      val y = lo(d) + (code(d) & 0xff) * step(d)
      dot += x * y; na += x * x; nb += y * y
      d += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSq8Asym =
    copy(left = l, right = r)
}

/** Eval loops and the codebook contract of the two PQ expressions. */
private[functions] object PqKernel {
  /** The codebook contract every PQ expression checks at plan build:
    * at least one non-empty subspace, and ksub ≤ 256 so a code fits one
    * byte (a 257th centroid would silently wrap to code 0). */
  def requireBooks(ksubs: Seq[Int]): Unit = {
    require(ksubs.nonEmpty && ksubs.forall(_ > 0))
    require(ksubs.forall(_ <= 256), "ksub must fit one byte")
  }

  def encode(a: ArrayData, books: Array[Array[Array[Double]]],
             dsub: Int): Array[Byte] = {
    val nDims = a.numElements()
    // strict dim contract (mirrors pqTrain's dim % m == 0 check): a
    // short vector must fail the task loudly, not silently truncate
    // the dot product while the norm lookup still adds full centroids
    require(nDims == books.length * dsub,
      s"graft_pq_encode: vector dim $nDims != ${books.length}×$dsub")
    val out = new Array[Byte](books.length)
    var m = 0
    while (m < books.length) {
      val base = m * dsub
      var best = 0
      var bestD = Double.MaxValue
      val cents = books(m)
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        var d2 = 0.0
        var t = 0
        while (t < dsub) {
          val diff = a.getDouble(base + t) - c(t)
          d2 += diff * diff
          t += 1
        }
        if (d2 < bestD) { bestD = d2; best = j }
        j += 1
      }
      out(m) = best.toByte
      m += 1
    }
    out
  }

  def norm2Of(books: Array[Array[Array[Double]]]): Array[Array[Double]] =
    books.map(_.map(c => c.map(x => x * x).sum))

  def cosineAsym(q: ArrayData, code: Array[Byte],
                 books: Array[Array[Array[Double]]],
                 norm2: Array[Array[Double]], dsub: Int): Double = {
    val nDims = q.numElements()
    // strict contracts: truncating either side would silently skew
    // scores (partial dot against a full-norm lookup) — fail loudly
    require(nDims == books.length * dsub,
      s"graft_cosine_pq: query dim $nDims != ${books.length}×$dsub")
    require(code.length == books.length,
      s"graft_cosine_pq: code has ${code.length} bytes, expected ${books.length}")
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var mi = 0
    while (mi < books.length) {
      val j = code(mi) & 0xff
      val c = books(mi)(j)
      nb += norm2(mi)(j)
      val base = mi * dsub
      var t = 0
      while (t < dsub) {
        val x = q.getDouble(base + t)
        dot += x * c(t)
        na += x * x
        t += 1
      }
      mi += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }
}

/** Product-quantization encode (Jégou et al. 2011, "Product
  * Quantization for Nearest Neighbor Search"): the vector is split
  * into M contiguous subspaces, one codebook each; each subvector is
  * replaced by the index of its nearest (L2) centroid in that
  * subspace's codebook. Output is M bytes — at dim 64 / M 8 that is a
  * 64× smaller resident corpus than array<double> (8 bytes vs 512),
  * the difference between an in-memory index and none at 100 TB of
  * embeddings. `bc.value(m)(j)` is centroid j of subspace m; ksub ≤
  * 256 so a code fits one byte. Ties break toward the lower centroid
  * index (deterministic).
  *
  * The codebook table rides a TorrentBroadcast instead of plan
  * literals: the m16×k256 default is ~128 KB of doubles, which as
  * literals was re-copied through every plan transform,
  * re-canonicalized and re-shipped with every task on every plan
  * build — measured as ~0.5-0.7 s of per-repetition driver gap on
  * ann_pq_topk/ann_ivf_pq. */
case class PqEncodeBcast(child: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with CodegenFallback {
  PqKernel.requireBooks(bc.value.map(_.length).toSeq)
  override def dataType: DataType = org.apache.spark.sql.types.BinaryType
  override def prettyName: String = "graft_pq_encode_bcast"

  @transient private lazy val books: Array[Array[Array[Double]]] = bc.value
  @transient private lazy val dsub = books(0)(0).length

  override protected def nullSafeEval(v: Any): Any =
    PqKernel.encode(v.asInstanceOf[ArrayData], books, dsub)
  override protected def withNewChildInternal(c: Expression): PqEncodeBcast =
    copy(child = c)
}

/** Asymmetric PQ cosine (the ADC of Jégou et al. 2011, on the cosine
  * metric): the float query against an M-byte PQ code. The dot product
  * decomposes across subspaces — Σ_m q_m · c_{m,code[m]} — and the
  * reconstructed corpus norm is a table lookup (per-centroid squared
  * norms precomputed once per executor), so scoring touches only the
  * M code bytes plus the query floats. Queries stay exact; only the
  * corpus is quantized. Codebooks arrive via TorrentBroadcast, as for
  * [[PqEncodeBcast]]. */
case class CosinePqAsymBcast(left: Expression, right: Expression,
    bc: org.apache.spark.broadcast.Broadcast[Array[Array[Array[Double]]]])
    extends BinaryExpression with CodegenFallback {
  PqKernel.requireBooks(bc.value.map(_.length).toSeq)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_pq_bcast"

  @transient private lazy val books: Array[Array[Array[Double]]] = bc.value
  @transient private lazy val dsub = books(0)(0).length
  @transient private lazy val norm2: Array[Array[Double]] =
    PqKernel.norm2Of(books)

  override protected def nullSafeEval(l: Any, r: Any): Any =
    PqKernel.cosineAsym(l.asInstanceOf[ArrayData], r.asInstanceOf[Array[Byte]],
      books, norm2, dsub)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosinePqAsymBcast =
    copy(left = l, right = r)
}
