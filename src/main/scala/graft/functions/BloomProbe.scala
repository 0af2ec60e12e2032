package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_bloom_probe`: membership of a key in a packed Bloom filter —
  * true iff all `hashes` positions of the key are set in the filter's
  * words. Position j of a key is `((h·a_j + b_j) mod P) mod bits`, with h
  * the key's 28-bit md5 fold and (a_j, b_j) the shared affine mixes, the
  * hash family of [[graft.operators.Sketches.bloomBuild]]; so the answer
  * equals [[graft.operators.Sketches.bloomMightContain]]'s bit for bit.
  * One digest and `hashes` word lookups per row: no explode, no join, no
  * state, so it runs unchanged on a stream.
  *
  * The words ship once per executor as a [[Shipped]] broadcast, not as
  * an array literal in every task. Null keys give null. The caller
  * ([[graft.operators.Sketches.mightContainInline]]) checks that
  * `words` holds exactly `(bits + 63) / 64` longs. */
case class BloomProbe(child: Expression, words: Shipped[Array[Long]],
    bits: Int, hashes: Int) extends UnaryExpression {

  @transient private lazy val (mixA, mixB) = {
    val c = TextKernels.mixConsts(hashes)
    (c.map(_._1).toArray, c.map(_._2).toArray)
  }
  @transient private lazy val w: Array[Long] = words.value

  /** Kernel entry used by both eval paths. */
  def probe(key: Array[Byte]): Boolean = {
    val h = TextKernels.md5Fold28(key)
    var j = 0
    while (j < mixA.length) {
      val p = ((h * mixA(j) + mixB(j)) % TextKernels.P) % bits
      if ((w((p >>> 6).toInt) & (1L << (p & 63))) == 0L) return false
      j += 1
    }
    true
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_probe requires a string or binary key, got $other")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_probe"

  override protected def nullSafeEval(input: Any): Any = input match {
    case s: UTF8String => probe(s.getBytes)
    case b: Array[Byte] => probe(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("bloomProbe", this, classOf[BloomProbe].getName)
    val bytes = if (child.dataType == StringType) (c: String) => s"$c.getBytes()"
      else (c: String) => c
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $selfRef.probe(${bytes(c)});")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbe =
    copy(child = newChild)
}

object BloomProbe {
  def apply(key: Column, words: Shipped[Array[Long]], bits: Int, hashes: Int): Column =
    Shipped.column(BloomProbe(Shipped.expression(key), words, bits, hashes))
}
