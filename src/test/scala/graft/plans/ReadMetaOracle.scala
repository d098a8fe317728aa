package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The generation-resolution rule stated as Spark SQL over a raw manifest
  * DataFrame (a groupBy for each part's replacing floor, joined back, and
  * semi/anti joins against publish markers). The library resolves in plain
  * Scala ([[Manifest.view]]); this independent formulation is the oracle
  * the differential spec holds it to. `branch` = (name, creation base). */
object ReadMetaOracle {
  def resolve(m: DataFrame, upTo: Option[Int], branch: Option[(String, Int)]): DataFrame = {
    if (!m.columns.contains("gen")) return m
    val withGen = m.withColumn("gen", coalesce(col("gen"), lit(0)))
      .withColumn("__add",
        if (m.columns.contains("additive")) coalesce(col("additive"), lit(false))
        else lit(false))
    val visible1 = upTo.map(g => withGen.filter(col("gen") <= g)).getOrElse(withGen)
    val visible0 =
      if (!m.columns.contains("ref")) visible1
      else {
        val hasPub = m.columns.contains("publish_to")
        val mainRows = visible1.filter(col("ref").isNull)
        val bRows = visible1.filter(col("ref").isNotNull &&
          (if (hasPub) col("publish_to").isNull else lit(true)))
        if (!hasPub && branch.isEmpty) mainRows
        else {
          val pubs =
            if (!hasPub) bRows.limit(0).select(col("ref").as("__pref"),
              lit(-1).as("__pfrom"), lit(-1).as("__pto"))
            else visible1.filter(col("publish_to").isNotNull)
              .select(col("ref").as("__pref"),
                coalesce(col("publish_from"), lit(-1)).as("__pfrom"),
                col("publish_to").as("__pto")).distinct()
          val cond = col("ref") === col("__pref") &&
            col("gen") > col("__pfrom") && col("gen") <= col("__pto")
          val published = bRows.join(broadcast(pubs), cond, "left_semi")
          val ownUnpublished = branch.map { case (b, base) =>
            bRows.filter(col("ref") === b && col("gen") > base)
              .join(broadcast(pubs), cond, "left_anti")
          }
          (Seq(published) ++ ownUnpublished).foldLeft(mainRows)(_ union _)
        }
      }
    val floor = visible0.filter(!col("__add"))
      .groupBy(col("__part")).agg(max(col("gen")).as("__floor"))
    visible0.join(broadcast(floor), Seq("__part"), "left")
      .filter(col("gen") >= coalesce(col("__floor"), lit(0)) &&
              (col("__add") || col("gen") === coalesce(col("__floor"), lit(0))))
      .drop("__add", "__floor")
  }
}
