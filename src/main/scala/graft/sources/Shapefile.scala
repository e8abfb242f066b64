package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, LinearRing}
import graft.core.GeoOps

/**
 * ESRI Shapefile + dBase ingest — the engine's b6-ingest-gdal analogue
 * (src/diagonal.works/b6/cmd/b6-ingest-gdal, ingest/gdal/source.go), written
 * from the public ESRI shapefile and dBase III specifications instead of
 * linking GDAL. Supports the shapes the reference's tests exercise: Point(1),
 * PolyLine(3), Polygon(5) with multiple rings (CW exteriors, CCW holes per
 * spec), attribute copy (copy-tags / copy-all-fields), added literal tags,
 * and the UK ONS id strategy (FeatureIDFromUKONSCode, b6/ids.go:62-83:
 * letter<<40 | (year-1900)<<32 | 8-digit number, namespace
 * statistics.gov.uk/datasets/regions).
 *
 * Coordinates in British National Grid (detected from the sibling .prj)
 * transform through the pure-Scala EPSG:27700 -> WGS84 pipeline
 * (GbCodePoint.wgs84FromGrid).
 *
 * Scale note: one shapefile parses on the driver (boundary datasets are
 * thousands of polygons — feature-table-sized, like the reference's
 * in-memory source); a directory of shapefiles parallelizes one file per
 * task, the same shape as the PBF blob split.
 */
object Shapefile {

  val OnsNamespace = "statistics.gov.uk/datasets/regions"

  /** FeatureIDFromUKONSCode (b6/ids.go:71-83); -1 when malformed. */
  def onsId(code: String, year: Int): Long = {
    if (code.length != 9) return -1L
    val n = try code.substring(1).toLong catch { case _: NumberFormatException => return -1L }
    (code.charAt(0).toLong << 40) | ((year - 1900).toLong << 32) | n
  }

  def onsCodeFromId(value: Long): (String, Int) = {
    val year = ((value >> 32) & 0xff).toInt + 1900
    val letter = ((value >> 40) & 0xff).toChar
    (f"$letter${value & 0xffffffffL}%08d", year)
  }

  case class ShapeRecord(geom: Geometry, attrs: Map[String, String])

  private def leInt(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) | ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def beInt(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) | ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  private def leShort(b: Array[Byte], o: Int): Int = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def leDouble(b: Array[Byte], o: Int): Double = {
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (b(o + i) & 0xffL); i -= 1 }
    java.lang.Double.longBitsToDouble(v)
  }

  /** Parse .shp geometries (spec: 100-byte header, BE record framing,
    * LE content). Null shapes are skipped with a placeholder to keep record
    * alignment with the .dbf. */
  def readShp(path: String): Seq[Option[Geometry]] = {
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    require(beInt(b, 0) == 9994, "not a shapefile")
    val out = Seq.newBuilder[Option[Geometry]]
    var pos = 100
    while (pos + 8 <= b.length) {
      val contentWords = beInt(b, pos + 4)
      val c = pos + 8
      val shapeType = leInt(b, c)
      shapeType match {
        case 0 => out += None
        case 1 => // Point
          out += Some(GeoOps.factory.createPoint(new Coordinate(leDouble(b, c + 4), leDouble(b, c + 12))))
        case 3 | 5 => // PolyLine | Polygon: bbox, numParts, numPoints, parts, points
          val numParts = leInt(b, c + 36)
          val numPoints = leInt(b, c + 40)
          val partsOff = c + 44
          val pointsOff = partsOff + 4 * numParts
          val parts = Array.tabulate(numParts)(i => leInt(b, partsOff + 4 * i))
          def ring(i: Int): Array[Coordinate] = {
            val start = parts(i)
            val end = if (i + 1 < numParts) parts(i + 1) else numPoints
            Array.tabulate(end - start) { j =>
              new Coordinate(leDouble(b, pointsOff + 16 * (start + j)),
                leDouble(b, pointsOff + 16 * (start + j) + 8))
            }
          }
          if (shapeType == 3) {
            val lines = (0 until numParts).map(i => GeoOps.factory.createLineString(ring(i)))
            out += Some(if (lines.length == 1) lines.head
              else GeoOps.factory.createMultiLineString(lines.toArray))
          } else {
            // spec: CW rings are exteriors, CCW rings are holes
            val rings = (0 until numParts).map(ring)
            val (holes, shells) = rings.partition(r =>
              org.locationtech.jts.algorithm.Orientation.isCCW(r))
            val shellsJts = (if (shells.nonEmpty) shells else holes /* degenerate */)
              .map(r => GeoOps.factory.createLinearRing(r))
            val holesJts = if (shells.nonEmpty) holes.map(r => GeoOps.factory.createLinearRing(r)) else Seq.empty
            val polys = shellsJts.map { shell =>
              val shellPoly = GeoOps.factory.createPolygon(shell)
              val mine = holesJts.filter(h =>
                shellPoly.getEnvelopeInternal.contains(h.getEnvelopeInternal) &&
                  shellPoly.contains(GeoOps.factory.createPoint(h.getCoordinateN(0))))
              GeoOps.factory.createPolygon(shell, mine.toArray)
            }
            out += Some(if (polys.length == 1) polys.head
              else GeoOps.factory.createMultiPolygon(polys.toArray))
          }
        case other => out += None // unsupported shape type: keep alignment
      }
      pos = c + contentWords * 2
    }
    out.result()
  }

  /** Parse .dbf attributes (dBase III: LE counts, 32-byte field descriptors,
    * fixed-width character records). */
  def readDbf(path: String): Seq[Map[String, String]] = {
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val nRecords = leInt(b, 4)
    val headerSize = leShort(b, 8)
    val recordSize = leShort(b, 10)
    val fields = Seq.newBuilder[(String, Int)]
    var pos = 32
    while ((b(pos) & 0xff) != 0x0d) {
      val nameEnd = (pos until pos + 11).find(i => b(i) == 0).getOrElse(pos + 11)
      val name = new String(b, pos, nameEnd - pos, "ISO-8859-1")
      val len = b(pos + 16) & 0xff
      fields += ((name, len))
      pos += 32
    }
    val fs = fields.result()
    (0 until nRecords).map { r =>
      val base = headerSize + r * recordSize + 1 // +1 skips the deletion flag
      var off = base
      fs.map { case (name, len) =>
        val v = new String(b, off, len, "ISO-8859-1").trim
        off += len
        name -> v
      }.toMap
    }
  }

  /** Does the sibling .prj declare British National Grid? */
  def isBritishNationalGrid(shpPath: String): Boolean = {
    val prj = java.nio.file.Paths.get(shpPath.stripSuffix(".shp") + ".prj")
    java.nio.file.Files.exists(prj) &&
      java.nio.file.Files.readString(prj).contains("British_National_Grid")
  }

  /** Parse records with attributes, transforming BNG -> WGS84 when the .prj
    * says so. */
  def read(shpPath: String): Seq[ShapeRecord] = {
    val geoms = readShp(shpPath)
    val attrs = readDbf(shpPath.stripSuffix(".shp") + ".dbf")
    val bng = isBritishNationalGrid(shpPath)
    geoms.zip(attrs).collect { case (Some(g), a) =>
      val t = if (!bng) g else {
        val g2 = g.copy()
        g2.apply(new org.locationtech.jts.geom.CoordinateFilter {
          override def filter(c: Coordinate): Unit = {
            val (lat, lng) = GbCodePoint.wgs84FromGrid(c.x, c.y)
            c.x = lng; c.y = lat
          }
        })
        g2.geometryChanged()
        g2
      }
      ShapeRecord(t, a)
    }
  }

  /**
   * World-shaped feature rows from a shapefile (≙ ingest/gdal/source.go):
   * `copyTags` maps dBase fields to tag keys; `addTags` are literal tags;
   * feature ids are the UK ONS ids of the 2011 codes in the `idField` field.
   */
  def features(spark: SparkSession, shpPath: String, idField: String,
               copyTags: Map[String, String] = Map.empty,
               addTags: Map[String, String] = Map.empty,
               copyAllFields: Boolean = false): DataFrame = {
    graft.functions.CellExprs.install(spark)
    import spark.implicits._
    val rows = read(shpPath).map { r =>
      val copied = copyTags.map { case (field, key) => key -> r.attrs.getOrElse(field, "") }
      val all = if (copyAllFields)
        r.attrs.filterNot { case (k, _) => copyTags.contains(k) } else Map.empty[String, String]
      val tags = all ++ copied ++ addTags
      val value = onsId(r.attrs.getOrElse(idField, ""), 2011)
      val ftype = r.geom.getGeometryType match {
        case "Point" => "point"
        case "LineString" | "MultiLineString" => "path"
        case _ => "area"
      }
      val c = if (ftype == "point") r.geom.getCoordinate else r.geom.getCentroid.getCoordinate
      (ftype, OnsNamespace, value, tags, c.y, c.x, GeoOps.toWkb(r.geom))
    }
    rows.toDF("ftype", "ns", "value", "tags", "lat", "lng", "geom")
      .select(struct(col("ftype"), col("ns"), col("value")).as("id"),
        col("tags"), col("lat"), col("lng"), col("geom"))
      .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      .withColumn("covering", graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
  }
}
