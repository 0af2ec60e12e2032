package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** A read-only payload built on the driver and shipped to the executors
  * once, as a broadcast variable, held by a kernel expression as one of
  * its parameters.
  *
  * A payload carried as an expression literal or a plain constructor
  * field is serialized into the task binary of every stage whose plan
  * holds the expression — including stages that never evaluate it — and
  * printed into every explain string. A broadcast block is fetched and
  * deserialized once per executor and then served from its cache; the
  * task carries only the handle. Lookup structures derived from a
  * payload (a hash set, a band map) live in `@transient lazy` fields of
  * the payload object, so each executor builds them once.
  *
  * Value semantics, which Catalyst needs from an expression parameter
  * (canonicalization, common-subexpression reuse): equality is by
  * CONTENT, the SHA-256 digest of the payload's defining bytes, and
  * `hashCode`/`toString` are O(1), so no payload reaches a plan string.
  * Holders of equal payloads compare equal even when they wrap
  * different broadcasts, which is harmless: either serves the same
  * bytes. */
final class Shipped[T] private (bc: Broadcast[T], val digest: String,
    label: String) extends Serializable {
  def value: T = bc.value
  override def equals(o: Any): Boolean = o match {
    case s: Shipped[_] => s.digest == digest
    case _ => false
  }
  override def hashCode: Int = digest.hashCode
  override def toString: String = s"$label@${digest.take(16)}"
}

object Shipped {
  /** Broadcasts `payload` on the active session. `feed` writes the bytes
    * that define the payload's content into its digest; `label` names
    * the payload kind in plan strings and is part of the digest. */
  def apply[T: ClassTag](payload: T, label: String)(
      feed: MessageDigest => Unit): Shipped[T] = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(label.getBytes(UTF_8))
    feed(md)
    val digest = md.digest().map(b => f"${b & 0xff}%02x").mkString
    new Shipped(SparkSession.active.sparkContext.broadcast(payload), digest, label)
  }

  def longs(words: Array[Long], label: String): Shipped[Array[Long]] =
    apply(words, label) { md =>
      val buf = java.nio.ByteBuffer.allocate(8 * words.length)
      words.foreach(buf.putLong)
      md.update(buf.array())
    }

  def doubles(ws: Array[Double], label: String): Shipped[Array[Double]] =
    apply(ws, label) { md =>
      val buf = java.nio.ByteBuffer.allocate(8 * ws.length)
      ws.foreach(w => buf.putLong(java.lang.Double.doubleToLongBits(w)))
      md.update(buf.array())
    }

  /** A Column over a kernel expression built directly (not through a
    * registered SQL function), so a parameter that is not a literal —
    * a [[Shipped]] holder — reaches the expression as is. */
  private[graft] def column(e: Expression): Column =
    org.apache.spark.sql.graftcolumns.ExpressionColumns.column(e)

  /** The (unresolved) expression of `c`, to nest it under a kernel built
    * with [[column]]. */
  private[graft] def expression(c: Column): Expression =
    org.apache.spark.sql.graftcolumns.ExpressionColumns.expression(c)
}
