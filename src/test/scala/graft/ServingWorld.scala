package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.Changes
import graft.render.Renderers.{World, WorldRegistry}

/** Worlds for the server specs. `sf` is `SparkEntry.features` over the sf
  * tables — the table graftbench's serving world starts from — plus a point
  * `geom` for the tile renderer, so specs over it need no reference fixture. */
object ServingWorld {

  def sf(spark: SparkSession, dir: String): DataFrame = {
    val pointWkb = udf((lat: Double, lng: Double) =>
      graft.core.GeoOps.toWkb(graft.core.GeoOps.point(lat, lng)))
    SparkEntry.features(spark, dir).withColumn("geom", pointWkb(col("lat"), col("lng")))
  }

  /** `features` plus `polygons` (poly_id, geom, covering) as area features
    * tagged `tags`, shaped like the benchmark's serving world: centroid
    * lat/lng and cell16, polygon geom and covering. */
  def withAreas(features: DataFrame, polygons: DataFrame, tags: Map[String, String]): DataFrame = {
    val centroid = udf((wkb: Array[Byte]) => {
      val c = graft.core.GeoOps.fromWkb(wkb).getCentroid; (c.getY, c.getX)
    })
    val areas = polygons.withColumn("c", centroid(col("geom"))).select(
      struct(lit("area").as("ftype"), lit("graft/test").as("ns"), col("poly_id").as("value")).as("id"),
      typedLit(tags).as("tags"), col("c._1").as("lat"), col("c._2").as("lng"),
      graft.functions.CellExprs.cell_of(col("c._1"), col("c._2"), lit(16)).as("cell16"),
      col("geom"), col("covering"))
    features.unionByName(areas, allowMissingColumns = true)
  }

  /** A registry whose base world is `features` with no refs and no items. */
  def registry(spark: SparkSession, features: DataFrame): WorldRegistry = {
    import spark.implicits._
    val refs = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(
      "from_type string, from_id long, to_type string, to_id long, role string, pos int"))
    new WorldRegistry(spark, World(features, refs, Seq.empty[Changes.ItemAdd].toDF()))
  }

  /** POST (or GET when `body` is None) to the loopback server: (status, body). */
  def http(port: Int, path: String, body: Option[Array[Byte]] = None,
           contentType: String = "application/json"): (Int, Array[Byte]) = {
    val conn = new java.net.URL(s"http://127.0.0.1:$port$path")
      .openConnection().asInstanceOf[java.net.HttpURLConnection]
    body.foreach { b =>
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", contentType)
      conn.getOutputStream.write(b)
    }
    val status = conn.getResponseCode
    val in = if (status >= 400) conn.getErrorStream else conn.getInputStream
    (status, if (in == null) Array.emptyByteArray else in.readAllBytes())
  }
}
