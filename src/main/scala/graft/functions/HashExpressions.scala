package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst hash expressions.
  *
  * The reference routes every pair to a reducer partition with FNV-1a
  * 32 (`/root/reference/distributed/worker.go:170-174`:
  * `fnv.New32a()` then `& 0x7fffffff % nReduce`). [[Fnv1a32]] is the
  * bit-exact Spark twin (so a user can reproduce the reference's
  * partition assignment), and [[Fnv1a64]] is the 64-bit variant
  * (SQL `graft_fnv1a64`; the dedup kernels hash shingles with the same
  * [[HashFunctions.fnv1a64Bytes]]). Both implement `doGenCode` as a
  * static call of the kernel eval runs, so they stay inside whole-stage
  * codegen — no UDF boxing in the scan→project hot path.
  */
object HashFunctions {
  /** FNV-1a 64 over UTF-8 bytes — public-domain constants. */
  def fnv1a64Bytes(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** FNV-1a 32 over UTF-8 bytes — matches Go `fnv.New32a().Sum32()`. */
  def fnv1a32Bytes(bytes: Array[Byte], from: Int, until: Int): Int = {
    var h = 0x811c9dc5
    var i = from
    while (i < until) {
      h ^= (bytes(i) & 0xff)
      h *= 0x01000193
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — used to derive per-seed hash families for
    * MinHash (h_j(x) = mix(x + golden·j)). */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def fnv1a32(c: Column): Column = ColumnBridge.column(Fnv1a32(ColumnBridge.expression(c)))

  /** The reference's partition routing: fnv1a32(key) & 0x7fffffff % n
    * (worker.go:154,170-174). */
  def referencePartition(c: Column, nReduce: Int): Column = {
    import org.apache.spark.sql.functions.pmod
    import org.apache.spark.sql.functions.lit
    pmod(fnv1a32(c).bitwiseAND(0x7fffffff), lit(nReduce))
  }
}

case class Fnv1a64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_fnv1a64"
  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].getBytes
    HashFunctions.fnv1a64Bytes(s, 0, s.length)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("graftFnvB")
      s"""
         |byte[] $b = $c.getBytes();
         |${ev.value} = graft.functions.HashFunctions.fnv1a64Bytes($b, 0, $b.length);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Fnv1a64 = copy(child = c)
}

case class Fnv1a32(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_fnv1a32"
  override protected def nullSafeEval(v: Any): Any = {
    val s = v.asInstanceOf[UTF8String].getBytes
    HashFunctions.fnv1a32Bytes(s, 0, s.length)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val b = ctx.freshName("graftFnvB")
      s"""
         |byte[] $b = $c.getBytes();
         |${ev.value} = graft.functions.HashFunctions.fnv1a32Bytes($b, 0, $b.length);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Fnv1a32 = copy(child = c)
}
