package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.locationtech.jts.geom.{Coordinate, Geometry}
import graft.core.GeoOps
import graft.functions.CellExprs
import graft.operators.Changes
import graft.render.Renderers.{World, WorldRegistry}

/** Inputs the benchmark generates from its seed, and the independent checks
  * it runs on the program's outputs. */
object Inputs {

  /** Centre of the hot point cluster of the sf points (`Fixtures.points`). */
  val HotLat = 51.53535
  val HotLng = -0.12575

  /**
   * The serving world's fleet of `n` pentagons shaped like
   * `Fixtures.benchPolygons` (radius 0.15–1.25 km), the same for every seed:
   * evenly spaced radii at fixed random places, and one pentagon over the
   * hot point cluster.
   */
  def fleet(n: Int = 200): Vector[(Long, Geometry)] = {
    val rnd = new scala.util.Random(20240917L)
    val radii = rnd.shuffle((1 until n).map(i => 0.15 + 1.1 * i / (n - 1)).toVector)
    def pentagon(cLat: Double, cLng: Double, rKm: Double): Geometry = {
      val rLat = rKm / 111.19
      val rLng = rLat / math.cos(math.toRadians(cLat))
      val a0 = rnd.nextDouble() * 2 * math.Pi / 5
      val ring = (0 to 5).map { k =>
        val a = a0 + 2 * math.Pi * (k % 5) / 5
        new Coordinate(cLng + rLng * math.cos(a), cLat + rLat * math.sin(a))
      }
      GeoOps.factory.createPolygon(ring.toArray)
    }
    // the pentagon over the hot cluster: radius 0.6 km, centre jittered by at
    // most 0.2 km, so the inscribed circle (0.49 km) always holds the cluster
    val hot = pentagon(HotLat + (rnd.nextDouble() - 0.5) * 0.4 / 111.19,
      HotLng + (rnd.nextDouble() - 0.5) * 0.4 / 69.2, 0.6)
    val rest = radii.map { r =>
      var g: Geometry = null
      while (g == null) {
        val cLat = 51.472 + rnd.nextDouble() * 0.139
        val cLng = -0.192 + rnd.nextDouble() * 0.110
        val dKm = GeoOps.haversineMeters(cLat, cLng, HotLat, HotLng) / 1000
        if (dKm > r + 0.1) g = pentagon(cLat, cLng, r)
      }
      g
    }
    (hot +: rest).zipWithIndex.map { case (g, i) => (1000L + i, g) }
  }

  def fleetDf(spark: SparkSession, fleet: Seq[(Long, Geometry)]): DataFrame = {
    CellExprs.install(spark)
    import spark.implicits._
    fleet.map { case (id, g) => (id, "bench", GeoOps.toWkb(g)) }.toDF("poly_id", "tag", "geom")
      .withColumn("covering", CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
  }

  // ---- the serving world -----------------------------------------------------

  val Amenities: Vector[String] = Vector("bench", "cafe", "fountain", "restaurant", "school")

  /** `SparkEntry.features` over the sf tables (points, with a point `geom`)
    * plus the fleet as area features carrying geom, covering and cell16. */
  def world(spark: SparkSession, sfDir: String, fleet: Seq[(Long, Geometry)]): DataFrame = {
    val pointWkb = udf((lat: Double, lng: Double) => GeoOps.toWkb(GeoOps.point(lat, lng)))
    val points = graft.SparkEntry.features(spark, sfDir)
      .select(col("id"), col("tags"), col("lat"), col("lng"), col("cell16"),
        pointWkb(col("lat"), col("lng")).as("geom"),
        lit(null).cast(ArrayType(LongType, containsNull = false)).as("covering"))
    val areas = fleetDf(spark, fleet)
      .withColumn("c", udf((wkb: Array[Byte]) => {
        val c = GeoOps.fromWkb(wkb).getCentroid; (c.getY, c.getX)
      }).apply(col("geom")))
      .select(
        struct(lit("area").as("ftype"), lit("graft/bench").as("ns"), col("poly_id").as("value")).as("id"),
        map(lit("#landuse"), lit("bench")).as("tags"),
        col("c._1").as("lat"), col("c._2").as("lng"),
        CellExprs.cell_of(col("c._1"), col("c._2"), lit(16)).as("cell16"),
        col("geom"), col("covering"))
    points.unionByName(areas)
  }

  def registry(spark: SparkSession, features: DataFrame): WorldRegistry = {
    import spark.implicits._
    val refs = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(
        "from_type string, from_id long, to_type string, to_id long, role string, pos int"))
    new WorldRegistry(spark, World(features, refs, Seq.empty[Changes.ItemAdd].toDF()))
  }

  /** The world's points, on the driver, for the brute-force checks. */
  case class Pt(ftype: String, id: Long, lat: Double, lng: Double, amenity: String)

  def points(world: DataFrame): Vector[Pt] =
    world.where(col("covering").isNull)
      .select(col("id.ftype"), col("id.value"), col("lat"), col("lng"),
        col("tags").getItem("#amenity"))
      .collect().map(r => Pt(r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getString(4))).toVector

  // ---- output checks -----------------------------------------------------------

  /** Doubles print to 9 significant digits and maps sort by key before
    * hashing, so the hash ignores row order, last-bit float noise and map
    * entry order. */
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case StructType(fs) =>
      if (fs.isEmpty) c else struct(fs.map(f => norm(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case _ => c
  }

  /** Row count and an order-insensitive content hash of a frame's rows. */
  def contentHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = df.select(xxhash64(cols.toSeq: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(pmod(col("h"), lit(2147483647L))), lit(0L)))
      .head()
    (h.getLong(0), f"${h.getLong(1)}%016x-${h.getLong(2)}%x")
  }

  /** Number of features over all layers of an MVT tile (protobuf walk). */
  def mvtFeatures(bytes: Array[Byte]): Int = {
    def varint(b: Array[Byte], p0: Int): (Long, Int) = {
      var p = p0; var shift = 0; var v = 0L; var more = true
      while (more) { val x = b(p); v |= (x & 0x7fL) << shift; shift += 7; p += 1; more = (x & 0x80) != 0 }
      (v, p)
    }
    def fields(b: Array[Byte], from: Int, until: Int): Seq[(Int, Int, Int)] = {
      val out = Seq.newBuilder[(Int, Int, Int)]
      var p = from
      while (p < until) {
        val (key, p1) = varint(b, p)
        (key & 7).toInt match {
          case 0 => p = varint(b, p1)._2
          case 1 => p = p1 + 8
          case 5 => p = p1 + 4
          case 2 =>
            val (len, p2) = varint(b, p1)
            out += (((key >>> 3).toInt, p2, p2 + len.toInt)); p = p2 + len.toInt
          case w => throw new IllegalArgumentException(s"bad wire type $w")
        }
      }
      out.result()
    }
    fields(bytes, 0, bytes.length).filter(_._1 == 3).map { case (_, s, e) =>
      fields(bytes, s, e).count(_._1 == 2)
    }.sum
  }

  /** Number of top-level objects in a JSON array of row objects. */
  def jsonRows(json: String): Int = {
    var depth = 0; var rows = 0; var inStr = false; var i = 0
    while (i < json.length) {
      val c = json(i)
      if (inStr) { if (c == '\\') i += 1 else if (c == '"') inStr = false }
      else c match {
        case '"' => inStr = true
        case '{' => if (depth == 1) rows += 1; depth += 1
        case '[' => depth += 1
        case '}' | ']' => depth -= 1
        case _ =>
      }
      i += 1
    }
    rows
  }
}
