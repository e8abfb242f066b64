package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Terrain ingest — the b6-ingest-terrain analogue
 * (src/diagonal.works/b6/cmd/b6-ingest-terrain: OS Terrain 50 DEM -> spot
 * heights feeding the elevation field, plus incline annotation of paths).
 * The reference reads the grids through GDAL; OS Terrain 50 distributes as
 * ESRI ASCII grids (.asc), a public plain-text format this reader parses
 * directly: a 5/6-line header (ncols nrows xllcorner yllcorner cellsize
 * [NODATA_value]) then row-major values, north row first. Cell-center
 * eastings/northings transform to WGS84 through the pure-Scala EPSG:27700
 * pipeline.
 *
 * The spots feed `operators.Elevation` (IDW field, ≙ b6/elevation.go:18-64)
 * and `climbForEdges` reproduces the terrain CLI's incline annotation: per
 * edge, the positive elevation gain between the fields at its endpoints —
 * the `climb` column b6's Naismith rule prices at 6 s/m (graph.go:161).
 */
object Terrain {

  /** Parse an ESRI ASCII grid into (easting, northing, elevation) spot
    * heights at cell centers; NODATA cells drop. */
  def readAsciiGrid(path: String): Seq[(Double, Double, Double)] = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path))
    var ncols = 0; var nrows = 0
    var xll = 0.0; var yll = 0.0; var cell = 0.0
    var nodata = -9999.0
    var i = 0
    var headerDone = false
    val out = Seq.newBuilder[(Double, Double, Double)]
    var row = 0
    while (i < lines.size) {
      val l = lines.get(i).trim
      if (l.nonEmpty) {
        val parts = l.split("\\s+")
        if (!headerDone && parts.length == 2 && !parts(0).head.isDigit && parts(0).head != '-') {
          parts(0).toLowerCase match {
            case "ncols" => ncols = parts(1).toInt
            case "nrows" => nrows = parts(1).toInt
            case "xllcorner" => xll = parts(1).toDouble
            case "yllcorner" => yll = parts(1).toDouble
            case "cellsize" => cell = parts(1).toDouble
            case "nodata_value" => nodata = parts(1).toDouble
            case _ =>
          }
        } else {
          headerDone = true
          var c = 0
          while (c < parts.length) {
            val v = parts(c).toDouble
            if (v != nodata) {
              // row 0 is the NORTH edge per spec
              val e = xll + (c + 0.5) * cell
              val n = yll + (nrows - row - 0.5) * cell
              out += ((e, n, v))
            }
            c += 1
          }
          row += 1
        }
      }
      i += 1
    }
    out.result()
  }

  /** Spot heights as a (slat, slng, elevation) DataFrame in WGS84, from a
    * grid in British National Grid eastings/northings. */
  def spots(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    readAsciiGrid(path).map { case (e, n, v) =>
      val (lat, lng) = GbCodePoint.wgs84FromGrid(e, n)
      (lat, lng, v)
    }.toDF("slat", "slng", "elevation")
  }

  /**
   * Incline annotation: per edge, the positive elevation gain from src to dst
   * via the IDW elevation field at the node positions — adds a `climb`
   * column (0 when either endpoint has no terrain within `radiusMeters`).
   */
  def climbForEdges(edges: DataFrame, nodes: DataFrame, spotsDf: DataFrame,
                    radiusMeters: Double): DataFrame = {
    graft.functions.CellExprs.install(edges.sparkSession)
    val e = graft.operators.Elevation.elevationAt(
      nodes.select(col("node_id").as("qid"), col("lat"), col("lng")), spotsDf, radiusMeters)
    edges
      .join(e.select(col("qid").as("src"), col("elevation").as("__esrc")), Seq("src"), "left")
      .join(e.select(col("qid").as("dst"), col("elevation").as("__edst")), Seq("dst"), "left")
      .withColumn("climb",
        greatest(coalesce(col("__edst") - col("__esrc"), lit(0.0)), lit(0.0)))
      .drop("__esrc", "__edst")
  }
}
