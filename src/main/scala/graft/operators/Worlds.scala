package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * World composition + the mutation plane.
 *
 * The reference hosts a base world plus mutable overlays whose queries merge
 * base and delta iterators with last-writer-wins dedup by feature id
 * (src/diagonal.works/b6/ingest/mutable.go:663-730, b6/merged.go:31-81), and a
 * transactional change batch (ingest/change.go:12-184) with add-tag and
 * other ops (api/functions/change.go).
 *
 * Spark-first: a world is a feature DataFrame; an overlay is a second one with
 * higher precedence; merge = unionByName + row_number over (id) ordered by
 * source precedence desc. Changes are column transforms producing a new
 * overlay — applied transactionally by the snapshot layer (Snapshots.commit).
 */
object Worlds {

  /** Merge base ⊕ overlay with last-writer-wins by `idCols`. */
  def overlay(base: DataFrame, delta: DataFrame, idCols: Seq[String]): DataFrame = {
    val tagged = base.withColumn("__prec", lit(0))
      .unionByName(delta.withColumn("__prec", lit(1)))
    val w = Window.partitionBy(idCols.map(col): _*).orderBy(col("__prec").desc)
    tagged.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "__prec")
  }

  /** add-tag (api/functions/change.go:20-42): upsert one key in the tags map. */
  def addTag(features: DataFrame, key: String, value: Column): DataFrame =
    features.withColumn("tags",
      map_concat(map_filter(col("tags"), (k, _) => k =!= key), map(lit(key), value)))
}
