package graft.functions

import org.apache.spark.sql.{Encoder, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAF surface (SURVEY.md §2.3 "UDF/UDAF" item b): one-pass bit-width
  * histogram of a long column — bucket i counts values needing exactly i
  * bits unsigned (BitPack.bitsNeeded; negatives land in bucket 64). The
  * codec selector's width statistics as a single typed aggregation:
  * `ds.select(BitWidthHistogram.toColumn)` yields the 65-bucket array with
  * Catalyst handling partial/final merge (map-side combine) — equivalent to
  * the relational `groupBy(bits_needed(col))` form q_bitwidth_hist uses,
  * but one row out and no shuffle of per-width groups. */
object BitWidthHistogram extends Aggregator[Long, Array[Long], Array[Long]] {
  override def zero: Array[Long] = new Array[Long](65)

  override def reduce(b: Array[Long], v: Long): Array[Long] = {
    val bucket = if (v < 0) 64 else graft.core.BitPack.bitsNeeded(v)
    b(bucket) += 1
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(r: Array[Long]): Array[Long] = r
  // primitive-array ExpressionEncoders: buffers travel as UnsafeArrayData,
  // not java/kryo-serialized blobs
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  /** the typed column: `events.select(BitWidthHistogram.histogram(col))` */
  def histogram: TypedColumn[Long, Array[Long]] = toColumn
}
