package graft.plans

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Kmv
import graft.functions._

/** The manifest statistics rule stated as one Catalyst aggregation over
  * block rows: the `blob_*` SQL functions per block, grouped by (part,
  * column), with `input_file_name()` collecting each part's files when
  * `withFiles` is set (`enc` must then be one parquet relation). The
  * library folds the same statistics in plain Scala as the writers write
  * ([[Manifest.Stats]]); this independent formulation is the oracle the
  * differential spec holds that fold to, schema included. A null blob (a
  * file written before ALTER TABLE ADD COLUMNS added the column) is a
  * block of `__cnt` nulls with no bytes and no distinct value. */
object MetadataOracle {

  /** union-merge of KMV sketches; poison absorbs, so one unenumerable
    * block makes the group's NDV unknown */
  private object KmvMerge extends Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    override def zero: Array[Byte] = Kmv.empty
    override def reduce(b: Array[Byte], v: Array[Byte]): Array[Byte] = Kmv.merge(b, v)
    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = Kmv.merge(a, b)
    // the output encoder is non-nullable: poison leaves as the 1-byte marker
    override def finish(r: Array[Byte]): Array[Byte] = if (r == null) Kmv.poison else r
    override def bufferEncoder: Encoder[Array[Byte]] = ExpressionEncoder[Array[Byte]]()
    override def outputEncoder: Encoder[Array[Byte]] = ExpressionEncoder[Array[Byte]]()
    def of(c: Column): Column = udaf(this, ExpressionEncoder[Array[Byte]]()).apply(c)
  }

  def metadata(enc: DataFrame, sourceSchema: StructType, withFiles: Boolean): DataFrame = {
    val plans = EncodePipeline.plan(sourceSchema)
    val nullRange = lit(null).cast("struct<lo:bigint,hi:bigint>")
    val nullRangeS = lit(null).cast("struct<lo:binary,hi:binary>")
    val nullStats = lit(null).cast("struct<min:bigint,max:bigint,sum:bigint,cnt:bigint>")
    val perCol = plans.map { p =>
      val absent = col("e_" + p.name).isNull
      struct(lit(p.name).as("column"), col("e_" + p.name).as("blob"),
        coalesce(col("r_" + p.name), lit(0L)).as("raw"),
        (if (p.kind == 'l') blob_range(col("e_" + p.name)) else nullRange).as("rng"),
        (if (p.kind != 'l') blob_range_str(col("e_" + p.name)) else nullRangeS).as("rng_s"),
        (if (p.kind == 'l') blob_stats(col("e_" + p.name)) else nullStats).as("st"),
        coalesce(blob_null_count(col("e_" + p.name)), col("__cnt").cast(LongType)).as("nulls"),
        // null = unknowable, coalesced to explicit poison so the merge
        // tells it from an Aggregator-skipped row
        when(absent, lit(Kmv.empty))
          .otherwise(coalesce(blob_ndv_sketch(col("e_" + p.name)), lit(Kmv.poison))).as("ndv"))
    }
    // a null block hi means unbounded above and must dominate the part max
    val hiUnbounded = max(when(col("c.rng_s").isNotNull && col("c.rng_s.hi").isNull, 1).otherwise(0)) === 1
    val lead =
      if (withFiles) Seq(col("__part"), col("__cnt"), input_file_name().as("__ifile"))
      else Seq(col("__part"), col("__cnt"))
    val fileAgg =
      if (withFiles) Seq(sort_array(collect_set(col("__ifile"))).as("data_files"))
      else Nil
    val aggs = Seq(
        sum(col("__cnt")).as("rows"),
        count(lit(1)).as("blocks"),
        sum(col("c.raw")).as("raw_bytes"),
        sum(coalesce(octet_length(col("c.blob")), lit(0))).as("encoded_bytes"),
        sort_array(collect_set(blob_codec(col("c.blob")))).as("codecs"),
        min(col("c.rng.lo")).as("value_lo"),
        max(col("c.rng.hi")).as("value_hi"),
        min(col("c.st.min")).as("value_min"),
        max(col("c.st.max")).as("value_max"),
        // unknown when a block's own sum overflowed; try_sum nulls out an
        // overflowing total
        when(max((col("c.st").isNotNull && col("c.st.sum").isNull).cast("int")) === 1,
          lit(null).cast(LongType))
          .otherwise(try_sum(col("c.st.sum"))).as("value_sum"),
        sum(col("c.st.cnt")).as("value_count"),
        min(col("c.rng_s.lo")).as("str_lo"),
        when(hiUnbounded, lit(null).cast(BinaryType)).otherwise(max(col("c.rng_s.hi"))).as("str_hi"),
        sum(col("c.nulls")).as("null_value_count"),
        KmvMerge.of(col("c.ndv")).as("ndv_sketch_raw")
        ) ++ fileAgg
    enc.select(lead :+ explode(array(perCol: _*)).as("c"): _*)
      .groupBy(col("__part"), col("c.column"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("ndv_sketch",
        when(octet_length(col("ndv_sketch_raw")) <= 1, lit(null).cast(BinaryType))
          .otherwise(col("ndv_sketch_raw")))
      .drop("ndv_sketch_raw")
  }
}
