package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** `graft_hash_dot`: Σ w[h mod |w|] over a token-hash
  * array — the zero-join inference sum behind
  * [[graft.operators.QualityModel.scoreInline]] (per-token weight
  * lookup into a dense model vector that ships once per executor as a
  * [[Shipped]] broadcast, not as a plan literal; dividing by |hs|
  * outside this kernel turns it into the normalized bag-of-words
  * score).
  *
  * Codegen'd replacement for the interpreted
  * `aggregate(hs, 0.0, (acc, h) -> acc + coalesce(w_map[h % B], 0.0))`
  * fold: the same left-to-right order over the same elements, with a
  * dense double[] (absent buckets = 0.0) instead of a sparse map
  * literal — bit-identical result (adding 0.0 and skipping are the
  * same under round-to-nearest since no partial sum is −0.0: weights
  * come from BigDecimal rounding, which never yields −0.0). Negative
  * remainders (impossible for the md5-fold hashes, which are
  * non-negative) skip, matching the sparse map's missing-key → 0. */
case class HashBucketDot(child: Expression, weights: Shipped[Array[Double]])
  extends UnaryExpression {

  // The weight vector, read by both eval paths. An EMPTY one returns
  // 0.0 (the sparse map's every-key-missing behavior) instead of a
  // modulo-by-zero crash.
  @transient lazy val wArr: Array[Double] = weights.value

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_hash_dot"

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_hash_dot expects array<bigint>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    if (wArr.length == 0) return 0.0
    var s = 0.0
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val idx = arr.getLong(i) % wArr.length
        if (idx >= 0) s += wArr(idx.toInt)
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("hashDot", this, classOf[HashBucketDot].getName)
    nullSafeCodeGen(ctx, ev, c => {
      val arr = ctx.freshName("arr")
      val w = ctx.freshName("w")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val idx = ctx.freshName("idx")
      val s = ctx.freshName("s")
      s"""
        |org.apache.spark.sql.catalyst.util.ArrayData $arr = $c;
        |double[] $w = $selfRef.wArr();
        |double $s = 0.0;
        |int $n = $arr.numElements();
        |for (int $i = 0; $w.length > 0 && $i < $n; $i++) {
        |  if (!$arr.isNullAt($i)) {
        |    long $idx = $arr.getLong($i) % (long) $w.length;
        |    if ($idx >= 0) $s += $w[(int) $idx];
        |  }
        |}
        |${ev.value} = $s;
      """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): HashBucketDot =
    copy(child = newChild)
}

object HashBucketDot {
  /** Column surface: ships `weights` once as a [[Shipped]] broadcast. */
  def apply(hs: Column, weights: Array[Double]): Column =
    Shipped.column(HashBucketDot(Shipped.expression(hs),
      Shipped.doubles(weights, "weights")))
}
