package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * GB Open UPRN ingest (src/diagonal.works/b6/ingest/gb/uprn/source.go):
 * CSV rows (UPRN, LATITUDE, LONGITUDE — header-addressed) become
 * `#place=uprn` point features under ordnancesurvey.co.uk/uprn
 * (b6/world.go:358), optionally cropped to a bounding box like the CLI's
 * --bounding-box filter.
 *
 * ClusterSource (source.go:160-205): one point per fine cell with the member
 * count as `uprn_cluster:size`, under diagonal.works/ns/uprn-cluster
 * (world.go:355). The reference clusters at S2 level 25 (~30 cm edges); the
 * engine's cell64 level 25 (~1 m) plays the same role. In Spark the whole
 * cluster pass is one groupBy(cell) — no driver-side map.
 */
object GbUprn {

  val Namespace = "ordnancesurvey.co.uk/uprn"
  val ClusterNamespace = "diagonal.works/ns/uprn-cluster"
  val ClusterLevel = 25

  def features(spark: SparkSession, csvPath: String,
               crop: Option[(Double, Double, Double, Double)] = None): DataFrame = {
    graft.functions.CellExprs.install(spark)
    val wkbPoint = udf((lat: Double, lng: Double) =>
      graft.core.GeoOps.toWkb(graft.core.GeoOps.point(lat, lng)))
    val base = spark.read.option("header", "true").csv(csvPath)
      .select(col("UPRN").try_cast("long").as("value"),
        col("LATITUDE").try_cast("double").as("lat"),
        col("LONGITUDE").try_cast("double").as("lng"))
      .where(col("value").isNotNull && col("lat").isNotNull && col("lng").isNotNull)
    val cropped = crop match {
      case Some((latLo, lngLo, latHi, lngHi)) =>
        base.where(col("lat") >= latLo && col("lat") <= latHi &&
          col("lng") >= lngLo && col("lng") <= lngHi)
      case None => base
    }
    cropped
      .select(struct(lit("point").as("ftype"), lit(Namespace).as("ns"), col("value")).as("id"),
        map(lit("#place"), lit("uprn")).as("tags"), col("lat"), col("lng"))
      .withColumn("geom", wkbPoint(col("lat"), col("lng")))
      .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      .withColumn("covering", graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
  }

  /** uprn_cluster features: one point per occupied fine cell, sized. */
  def clusters(spark: SparkSession, csvPath: String): DataFrame = {
    graft.functions.CellExprs.install(spark)
    import graft.functions.CellExprs._
    val wkbPoint = udf((lat: Double, lng: Double) =>
      graft.core.GeoOps.toWkb(graft.core.GeoOps.point(lat, lng)))
    features(spark, csvPath)
      .withColumn("__c", cell_of(col("lat"), col("lng"), lit(ClusterLevel)))
      .groupBy("__c").agg(count(lit(1)).as("n"))
      .select(
        struct(lit("point").as("ftype"), lit(ClusterNamespace).as("ns"),
          col("__c").as("value")).as("id"),
        map(lit("#place"), lit("uprn_cluster"),
          lit("uprn_cluster:size"), col("n").cast("string")).as("tags"),
        cell_center_lat(col("__c")).as("lat"),
        cell_center_lng(col("__c")).as("lng"))
      .withColumn("geom", wkbPoint(col("lat"), col("lng")))
      .withColumn("cell16", cell_of(col("lat"), col("lng"), lit(16)))
      .withColumn("covering", graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
  }
}
