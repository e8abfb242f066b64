package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.CellExprs

/**
 * The persisted feature index — the analogue of the reference's compact world
 * build (src/diagonal.works/b6/ingest/compact/build.go:1107-1161): features
 * are written cell-bucketed (directory partition = coarse ancestor cell) and
 * sorted by (cell, id) within files.
 *
 * Why this layout at 100 TB:
 *  - spatial queries carry a covering -> the coarse-cell partition column
 *    prunes directories BEFORE any file is opened (Catalyst partition pruning);
 *  - within a file, rows sorted by fine cell mean parquet row-group min/max
 *    stats prune pages for cell-range predicates;
 *  - a spatial join keyed on cells arrives pre-clustered, so the exchange
 *    shuffles far less than a random layout would.
 */
object FeatureIndex {

  /** Write `features` (must carry a `cell16` column) bucketed at `bucketLevel`. */
  def build(features: DataFrame, path: String, bucketLevel: Int = 4): Unit = {
    CellExprs.install(features.sparkSession)
    features
      .withColumn("cell_bucket", CellExprs.cell_parent_at(col("cell16"), lit(bucketLevel)))
      .repartition(col("cell_bucket"))
      .sortWithinPartitions(col("cell16"))
      .write.partitionBy("cell_bucket").mode("overwrite").parquet(path)
  }

  /**
   * Index tokens per feature — the reference's token scheme made visible
   * (debug-tokens, api/functions/debug.go:14-19; token generation
   * ingest/tokens.go:9-28): `*`, `s2:<cell>` for each covering cell,
   * `a2:<ancestor>` for every ancestor of each covering cell, `#k=v` for
   * searchable tags, `@k` for key-indexed tags.
   */
  def tokens(features: DataFrame): DataFrame = {
    CellExprs.install(features.sparkSession)
    val spark = features.sparkSession
    val s2 = features.select(col("id"),
      explode(col("covering")).as("c"))
      .select(col("id"), concat(lit("s2:"), col("c")).as("token"))
    val a2 = features.select(col("id"), explode(col("covering")).as("c"))
      .select(col("id"), explode(CellExprs.cell_ancestors(col("c"))).as("a"))
      .select(col("id"), concat(lit("a2:"), col("a")).as("token"))
      .distinct()
    val tags = features.select(col("id"), explode(map_entries(col("tags"))).as("kv"))
      .select(col("id"),
        when(col("kv.key").startsWith("#"), concat(col("kv.key"), lit("="), col("kv.value")))
          .when(col("kv.key").startsWith("@"), col("kv.key"))
          .otherwise(lit(null)).as("token"))
      .where(col("token").isNotNull)
    val all = features.select(col("id"), lit("*").as("token"))
    all.unionByName(s2).unionByName(a2).unionByName(tags)
  }

  /** debug-all-query (api/functions/debug.go:22-24): the raw posting list of
    * one token — every feature id the token indexes, in id order. */
  def debugAllQuery(features: DataFrame, token: String): DataFrame =
    tokens(features).where(col("token") === token)
      .select("id").orderBy(col("id.ftype"), col("id.ns"), col("id.value"))

  /** count-tag-value (api/functions/features.go:177-189): the 1-row
    * ((key,value) -> 1) collection for one feature's tag. */
  def countTagValue(features: DataFrame, ftype: String, ns: String, value: Long,
                    key: String): DataFrame =
    features.where(col("id.ftype") === ftype && col("id.ns") === ns &&
        col("id.value") === value && col("tags").getItem(key).isNotNull)
      .select(lit(key).as("key"), col("tags").getItem(key).as("value"), lit(1L).as("n"))
}
