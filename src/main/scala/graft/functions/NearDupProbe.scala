package graft.functions

import org.apache.spark.sql.{Column, Row}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** A near-dup index held in executor memory, the payload of
  * [[NearDupProbe]]: the rows of [[graft.streaming.StreamOps.nearDupIndex]]
  * — (band, sig, corpus_id, corpus_hs) — with each distinct hash set
  * stored once. Entry `e` is one index row: `bands(e)`, `sigs(e)`,
  * `ids(e)` and `slots(e)`, the slot of its hash set. `sets(s)` is slot
  * `s`'s hash set sorted and distinct for the intersection, beside
  * `setSizes(s)`, its size as given (`size(corpus_hs)` of the join
  * form). The (band, sig) → entries map is built lazily on the
  * broadcast value, so once per executor. */
final class BandBank private (val bands: Array[Int], val sigs: Array[String],
    val ids: Array[Any], val slots: Array[Int], val sets: Array[Array[Long]],
    val setSizes: Array[Int]) extends Serializable {
  def size: Int = bands.length

  @transient lazy val lookup: java.util.HashMap[String, Array[Int]] = {
    val m = new java.util.HashMap[String, Array[Int]]()
    bands.indices.groupBy(e => BandBank.key(bands(e), sigs(e)))
      .foreach { case (k, es) => m.put(k, es.sorted.toArray) }
    m
  }
}

object BandBank {
  private[functions] def key(band: Int, sig: String): String = s"$band:$sig"

  /** Ships an index collected as one row per distinct hash set:
    * (corpus_hs: array<bigint>, rows: array<struct<band: int, sig:
    * string, corpus_id: `idType`>>), each struct an index row holding
    * that set. Null hash elements are left out of the stored set (a
    * probed document's set has none) and counted in its size.
    *
    * The digest, which decides equality of the holders, is fed a typed,
    * length-prefixed encoding: each set's size and longs, then each
    * row's band, sig bytes, corpus_id as its Catalyst `UnsafeRow` bytes
    * and slot, so distinct banks never print the same bytes. */
  def ship(docs: Seq[Row], idType: DataType): Shipped[BandBank] = {
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val given = docs.map(_.getSeq[Any](0))
    val rows = docs.zipWithIndex.flatMap { case (d, s) =>
      d.getSeq[Row](1).map(r => (r.getInt(0), r.getString(1), toCatalyst(r.get(2)), s))
    }
    val bank = new BandBank(rows.map(_._1).toArray, rows.map(_._2).toArray,
      rows.map(_._3).toArray, rows.map(_._4).toArray,
      given.map(hs => hs.collect { case h: Long => h }.distinct.sorted.toArray).toArray,
      given.map(_.size).toArray)
    Shipped(bank, s"bandBank[${bank.size}]") { md =>
      val out = new java.io.DataOutputStream(new java.security.DigestOutputStream(
        java.io.OutputStream.nullOutputStream(), md))
      def bytes(b: Array[Byte]): Unit = { out.writeInt(b.length); out.write(b) }
      val idBytes = UnsafeProjection.create(Array(idType))
      bytes(idType.json.getBytes(UTF_8))
      out.writeInt(bank.sets.length)
      bank.sets.indices.foreach { s =>
        out.writeInt(bank.setSizes(s))
        out.writeInt(bank.sets(s).length)
        bank.sets(s).foreach(out.writeLong)
      }
      out.writeInt(bank.size)
      (0 until bank.size).foreach { e =>
        out.writeInt(bank.bands(e))
        bytes(bank.sigs(e).getBytes(UTF_8))
        bytes(idBytes(InternalRow(bank.ids(e))).getBytes)
        out.writeInt(bank.slots(e))
      }
      out.flush()
    }
  }
}

/** `graft_near_dup_probe`: the verified near-dup matches of one document
  * against a [[BandBank]] — for each of the `numHashes / bandRows` bands
  * of the document's MinHash signature, every bank row with the same
  * (band, sig) whose exact shingle Jaccard with the document is at least
  * `threshold`, as (corpus_id, jaccard) structs. This is row for row the
  * band join of [[graft.streaming.StreamOps.streamingNearDupVerified]]
  * before its `doc_id != corpus_id` filter: one element per shared band,
  * the same signature strings and the same Jaccard double
  * ([[MinHashBands]]). One digest pass per
  * document ([[TextKernels.shingleMinHashSet]]); documents with fewer
  * than `shingleLen` words, and null text, give no match (the join
  * form's word-count filter). */
case class NearDupProbe(child: Expression, bank: Shipped[BandBank],
    idType: DataType, shingleLen: Int, numHashes: Int, bandRows: Int,
    threshold: Double) extends UnaryExpression {

  require(shingleLen >= 1 && bandRows >= 1 && numHashes >= bandRows,
    s"graft_near_dup_probe: needs shingleLen >= 1 and numHashes >= bandRows >= 1, " +
      s"got ($shingleLen, $numHashes, $bandRows)")

  @transient private lazy val (mixA, mixB) = {
    val c = TextKernels.mixConsts(numHashes)
    (c.map(_._1).toArray, c.map(_._2).toArray)
  }
  @transient private lazy val b: BandBank = bank.value

  private val empty = new GenericArrayData(Array.empty[Any])

  /** Kernel entry used by both eval paths. */
  def probe(text: UTF8String): ArrayData = {
    val digest = TextKernels.shingleMinHashSet(text, shingleLen, mixA, mixB)
    val mins = digest.getArray(0)
    if (mins.numElements() == 0 || b.size == 0) return empty
    val hs = digest.getArray(1).toLongArray()
    java.util.Arrays.sort(hs)
    val out = new java.util.ArrayList[InternalRow]()
    var band = 0
    while (band < numHashes / bandRows) {
      val es = b.lookup.get(BandBank.key(band, MinHashBands.sig(mins, band, bandRows)))
      if (es != null) es.foreach { e =>
        val s = b.slots(e)
        val j = MinHashBands.jaccard(intersectSize(hs, b.sets(s)), hs.length, b.setSizes(s))
        if (j >= threshold) out.add(InternalRow(b.ids(e), j))
      }
      band += 1
    }
    if (out.isEmpty) empty else new GenericArrayData(out.toArray)
  }

  /** |x ∩ y| of two sorted distinct arrays. */
  private def intersectSize(x: Array[Long], y: Array[Long]): Int = {
    var i = 0; var k = 0; var n = 0
    while (i < x.length && k < y.length) {
      if (x(i) < y(k)) i += 1
      else if (x(i) > y(k)) k += 1
      else { n += 1; i += 1; k += 1 }
    }
    n
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_near_dup_probe requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("corpus_id", idType, nullable = false),
    StructField("jaccard", DoubleType, nullable = false))), containsNull = false)
  override def prettyName: String = "graft_near_dup_probe"

  override protected def nullSafeEval(input: Any): Any =
    probe(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val selfRef = ctx.addReferenceObj("nearDupProbe", this, classOf[NearDupProbe].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $selfRef.probe($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearDupProbe =
    copy(child = newChild)
}

object NearDupProbe {
  def apply(text: Column, bank: Shipped[BandBank], idType: DataType,
      shingleLen: Int, numHashes: Int, bandRows: Int, threshold: Double): Column =
    Shipped.column(NearDupProbe(Shipped.expression(text), bank, idType,
      shingleLen, numHashes, bandRows, threshold))
}
