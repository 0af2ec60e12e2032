package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Row-local indexed-window coverage: the word positions of `text`
  * covered by any stride-1 `n`-word window whose md5 digest is in a
  * key bank — the STATELESS form of the incremental substring purge's
  * semi join, built for the streaming gate (StreamOps.windowPurgeGate)
  * where a per-doc aggregation after a stream-static join would need
  * unbounded state. One kernel pass per document (digests via
  * [[TextKernels.shingleMd5Bins]] — byte-identical keys to the batch
  * [[graft.operators.TextDedup.windowHashIndex]]), membership against a
  * HashSet of 16-byte digests, coverage merged in a boolean run over
  * the word count.
  *
  * The key bank ships once per executor as a [[Shipped]] broadcast of
  * [[WindowKeys]], whose HashSet each executor builds once; the bank
  * still lives in executor memory, so this serves BOUNDED window sets:
  * curated boilerplate banks, a domain's license paragraphs, the hot
  * slice of a corpus index. Corpus-scale indexes stay on the batch path
  * (purgeAgainstIndex's bucketed semi join); the gate's caller enforces
  * the bound at collect time. */
object IndexedWindowKernels {
  def coveredPositions(text: UTF8String, n: Int,
      idx: java.util.HashSet[java.nio.ByteBuffer]): ArrayData = {
    val digests = TextKernels.shingleMd5Bins(text, n)
    val m = digests.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val nWords = m + n - 1
    val covered = new Array[Boolean](nWords)
    var i = 0
    var any = false
    while (i < m) {
      if (idx.contains(java.nio.ByteBuffer.wrap(digests.getBinary(i)))) {
        any = true
        var j = i
        val end = i + n
        while (j < end) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    if (!any) return new GenericArrayData(Array.empty[Any])
    var c = 0
    i = 0
    while (i < nWords) { if (covered(i)) c += 1; i += 1 }
    val out = new Array[Any](c)
    var p = 0
    i = 0
    while (i < nWords) { if (covered(i)) { out(p) = i; p += 1 }; i += 1 }
    new GenericArrayData(out)
  }
}

/** A bank of binary window keys, the payload of
  * [[IndexedCoveredPositions]]. The keys are sorted on the driver so
  * that banks with the same keys in any order have the same digest; the
  * HashSet the kernel probes is built lazily on the broadcast value, so
  * once per executor. */
final class WindowKeys private (val keys: Array[Array[Byte]]) extends Serializable {
  @transient lazy val set: java.util.HashSet[java.nio.ByteBuffer] = {
    val s = new java.util.HashSet[java.nio.ByteBuffer](keys.length * 2)
    keys.foreach(k => s.add(java.nio.ByteBuffer.wrap(k)))
    s
  }
}

object WindowKeys {
  /** Sorts `keys` (unsigned lexicographic) and broadcasts them. */
  def ship(keys: Seq[Array[Byte]]): Shipped[WindowKeys] = {
    val sorted = keys.toArray
    java.util.Arrays.sort(sorted, new java.util.Comparator[Array[Byte]] {
      def compare(x: Array[Byte], y: Array[Byte]): Int =
        java.util.Arrays.compareUnsigned(x, y)
    })
    Shipped(new WindowKeys(sorted), s"windowKeys[${sorted.length}]") { md =>
      sorted.foreach { k =>
        md.update(java.nio.ByteBuffer.allocate(4).putInt(k.length).array())
        md.update(k)
      }
    }
  }
}

/** `graft_indexed_positions`: sorted distinct word positions of `text`
  * covered by an indexed `n`-word window (see
  * [[IndexedWindowKernels.coveredPositions]]) of a shipped
  * [[WindowKeys]] bank. Built through [[IndexedCoveredPositions.apply]]
  * only: a bank is a broadcast, never a SQL literal. */
case class IndexedCoveredPositions(child: Expression, n: Int,
    keys: Shipped[WindowKeys]) extends UnaryExpression {

  require(n >= 1, s"graft_indexed_positions: n must be >= 1, got $n")

  @transient private lazy val jset: java.util.HashSet[java.nio.ByteBuffer] =
    keys.value.set

  /** Kernel entry used by both eval paths. */
  def covered(text: UTF8String): ArrayData =
    IndexedWindowKernels.coveredPositions(text, n, jset)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_indexed_positions requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_indexed_positions"

  override protected def nullSafeEval(input: Any): Any =
    covered(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("indexedWindowExpr", this,
      classOf[IndexedCoveredPositions].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $selfRef.covered($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): IndexedCoveredPositions = copy(child = newChild)
}

object IndexedCoveredPositions {
  /** Column surface over a bank shipped with [[WindowKeys.ship]]. */
  def apply(text: Column, n: Int, keys: Shipped[WindowKeys]): Column =
    Shipped.column(IndexedCoveredPositions(Shipped.expression(text), n, keys))
}
