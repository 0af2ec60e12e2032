package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.concat_ws

/** The MinHash band-signature encoding and the verify Jaccard shared by
  * the LSH near-dup paths: the batch band signatures
  * ([[graft.operators.TextDedup.bandSignaturesFromHashes]],
  * [[graft.operators.TextDedup.bandSignaturesProjected]]), the stored
  * near-dup index and its join probe
  * ([[graft.streaming.StreamOps.nearDupIndex]],
  * [[graft.streaming.StreamOps.streamingNearDupVerified]]) and the
  * front door's row-local probe ([[NearDupProbe]]). An index written by
  * one path is probed by another, so each form is defined once, here:
  * as a Column for the SQL paths and as a value for the kernel
  * (TextKernelsSpec pins the two equal). */
object MinHashBands {
  /** The shingle / hash / band shape of the stored near-dup index: the
    * defaults of [[graft.streaming.StreamOps.nearDupIndex]] and its
    * probes, and the shape [[graft.streaming.StreamOps.ingestFrontDoorV2]]
    * probes the index with. */
  val ShingleLen = 3
  val NumHashes = 16
  val BandRows = 4

  /** Band `band`'s signature: the comma-joined decimal minima
    * `band * r until (band + 1) * r`, `min(i)` reading minimum `i`. */
  def sig(min: Int => Column, band: Int, r: Int): Column =
    concat_ws(",", (band * r until (band + 1) * r).map(i => min(i).cast("string")): _*)

  /** [[sig]] over a kernel's minima array. */
  def sig(mins: ArrayData, band: Int, r: Int): String = {
    val sb = new java.lang.StringBuilder
    var i = band * r
    while (i < (band + 1) * r) {
      if (i > band * r) sb.append(',')
      sb.append(mins.getLong(i))
      i += 1
    }
    sb.toString
  }

  /** Exact Jaccard from the two set sizes and the intersection size:
    * |A ∩ B| / (|A| + |B| − |A ∩ B|). */
  def jaccard(ni: Column, a: Column, b: Column): Column = ni / (a + b - ni)

  /** [[jaccard]] over sizes in hand. */
  def jaccard(ni: Int, a: Int, b: Int): Double = ni.toDouble / (a + b - ni).toDouble
}
