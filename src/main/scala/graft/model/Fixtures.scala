package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Cells, GeoOps}
import graft.functions.CellExprs

/**
 * Deterministic fixtures derived from the driver-generated testdata.
 *
 * The spatial-point side ("images" in the north rule) is derived from the
 * `events` parquet table by pure IEEE arithmetic, expressed as a SINGLE SQL
 * string that both Spark (`expr(...)`) and the DuckDB oracle evaluate — only
 * +,-,*,CASE and % over exact integers are used, so the derived doubles are
 * bit-identical across engines and the driver's hash compare is exact.
 *
 * ~30% of points collapse into one hot micro-cluster (deliberate skew, for
 * salting / AQE skew handling — mirrors hot-cell skew at 10^12-image scale).
 *
 * The polygon-feature side mirrors the reference's area features
 * (src/diagonal.works/b6/world.go:1070-1075): convex polygons are emitted both
 * as JTS/WKB rows (engine side) and as half-plane inequality SQL (oracle side).
 */
object Fixtures {

  // ---- points (the image+caption table's spatial columns) -------------------

  val latSql: String =
    "(CASE WHEN event_id % 10 < 3 THEN 51.5353 + CAST(event_id % 97 AS DOUBLE) * 0.0000011 " +
      "ELSE 51.46 + CAST(event_id % 2000 AS DOUBLE) * 0.0000517 + CAST(user_id % 193 AS DOUBLE) * 0.000311 END)"
  val lngSql: String =
    "(CASE WHEN event_id % 10 < 3 THEN -0.1258 + CAST(event_id % 89 AS DOUBLE) * 0.0000013 " +
      "ELSE -0.21 + CAST(event_id % 1777 AS DOUBLE) * 0.0000523 + CAST(user_id % 211 AS DOUBLE) * 0.000307 END)"

  /** DuckDB-side view of the derived points. */
  val pointsOracleSql: String =
    s"SELECT event_id AS point_id, $latSql AS lat, $lngSql AS lng, event_type FROM events"

  /** Spark-side derived points: (point_id, lat, lng, event_type, cell16). */
  def points(spark: SparkSession, dir: String): DataFrame =
    pointCols(Tables.read(spark, s"$dir/events.parquet"))

  /** The same derivation over ANY events-shaped frame — batch or STREAMING
    * (the lat/lng/cell16 columns are per-row arithmetic, so the plan is
    * streaming-compatible as-is). */
  def pointCols(events: DataFrame): DataFrame = {
    CellExprs.install(events.sparkSession)
    events
      .select(
        col("event_id").as("point_id"),
        expr(latSql).as("lat"),
        expr(lngSql).as("lng"),
        col("event_type"))
      .withColumn("cell16", CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
  }

  // ---- polygon features ------------------------------------------------------

  /** (lng, lat) vertex rings, counter-clockwise, convex. Inside the point bbox
    * lat [51.46, 51.63] x lng [-0.21, -0.052]; poly 1 contains the hot cluster. */
  val convexPolygons: Seq[(Long, String, Seq[(Double, Double)])] = Seq(
    // big polygon over the hot cluster (skew stress)
    (1L, "park", Seq((-0.1300, 51.5300), (-0.1200, 51.5290), (-0.1150, 51.5360), (-0.1240, 51.5410), (-0.1320, 51.5370))),
    // mid-size squares over the diffuse region
    (2L, "building", Seq((-0.1900, 51.4700), (-0.1700, 51.4700), (-0.1700, 51.4900), (-0.1900, 51.4900))),
    (3L, "park", Seq((-0.1100, 51.5500), (-0.0800, 51.5500), (-0.0800, 51.5900), (-0.1100, 51.5900))),
    (4L, "pitch", Seq((-0.2050, 51.6000), (-0.1750, 51.5950), (-0.1700, 51.6150), (-0.2000, 51.6200))),
    // tiny polygon (few / zero matches)
    (5L, "building", Seq((-0.0600, 51.4650), (-0.0580, 51.4650), (-0.0580, 51.4670), (-0.0600, 51.4670))),
    // huge polygon spanning many cells (covering stress)
    (6L, "park", Seq((-0.2100, 51.4600), (-0.0530, 51.4620), (-0.0550, 51.6250), (-0.2080, 51.6230))),
  )

  /** Concave polygon + multipolygon — exercised by ScalaTest (JTS brute-force
    * oracle), not by the SQL oracle. */
  val concaveWkts: Seq[(Long, String)] = Seq(
    (101L, "POLYGON ((-0.18 51.50, -0.10 51.50, -0.10 51.56, -0.14 51.52, -0.18 51.56, -0.18 51.50))"),
    (102L, "MULTIPOLYGON (((-0.09 51.47, -0.07 51.47, -0.07 51.49, -0.09 51.49, -0.09 51.47)), " +
      "((-0.20 51.57, -0.18 51.57, -0.18 51.59, -0.20 51.59, -0.20 51.57)))"),
  )

  private def ringToWkt(ring: Seq[(Double, Double)]): String = {
    val closed = ring :+ ring.head
    closed.map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")
  }

  /** Engine-side polygon feature table: (poly_id, tag, geom wkb, covering). */
  def polygons(spark: SparkSession, includeConcave: Boolean = false): DataFrame = {
    CellExprs.install(spark)
    val rows = convexPolygons.map { case (id, tag, ring) => (id, tag, ringToWkt(ring)) } ++
      (if (includeConcave) concaveWkts.map { case (id, w) => (id, "concave", w) } else Nil)
    val data = rows.map { case (id, tag, wkt) =>
      val g = GeoOps.fromWkt(wkt)
      (id, tag, GeoOps.toWkb(g))
    }
    import spark.implicits._
    data.toDF("poly_id", "tag", "geom")
      .withColumn("covering", CellExprs.cell_covering(col("geom"), lit(16), lit(5)))
  }

  /** Oracle-side: point-in-polygon via half-plane inequalities over the SAME
    * literal vertices (boundary-inclusive, like JTS `covers`). `p` is the
    * points relation alias providing lat/lng columns. */
  def pipOracleSql: String = {
    val pts = pointsOracleSql
    val perPoly = convexPolygons.map { case (id, _, ring) =>
      val edges = ring.indices.map { i =>
        val (x1, y1) = ring(i)
        val (x2, y2) = ring((i + 1) % ring.size)
        s"(($x2 - $x1) * (p.lat - $y1) - ($y2 - $y1) * (p.lng - $x1)) >= 0"
      }
      s"SELECT p.point_id, CAST($id AS BIGINT) AS poly_id FROM pts p WHERE ${edges.mkString(" AND ")}"
    }
    s"WITH pts AS ($pts) ${perPoly.mkString(" UNION ALL ")} ORDER BY point_id, poly_id"
  }

  /**
   * Oracle-side geometry-intersection join (sj_intersection): axis-aligned
   * boxes (p.lng±0.002, p.lat±0.002) around every 100th point vs the
   * convex fixture polygons, decided by the SEPARATING-AXIS test — two convex
   * shapes intersect iff no box axis separates them AND no polygon edge has
   * all four box corners strictly outside its half-plane. Pure +,-,*
   * comparisons over the same IEEE doubles the engine's JTS refine sees
   * (boundary-touching counts as intersecting on both sides).
   */
  /** Literal double rendered so DuckDB evaluates it as IEEE DOUBLE, not
    * exact DECIMAL (whose exact intermediates can differ from the engine's
    * double arithmetic by an ulp). */
  private def dbl(v: Double): String = s"CAST($v AS DOUBLE)"

  /** Round-trip-SAFE double literal: scientific notation parses as DOUBLE
    * directly in DuckDB. A plain 17-digit decimal string (Double.toString)
    * parses as DECIMAL first, and DECIMAL->DOUBLE conversion is not
    * correctly rounded — measured 1-ulp drift on e.g.
    * -0.0026832815729997475. 17 fractional digits guarantee the exact
    * original bits back. */
  def dblE(v: Double): String =
    String.format(java.util.Locale.ROOT, "%1.17e", Double.box(v))

  def boxIntersectOracleSql: String = {
    val pts = pointsOracleSql
    val corners = Seq(("-", "-"), ("+", "-"), ("+", "+"), ("-", "+"))
    val (dLa, dLo) = (dbl(0.002), dbl(0.002))
    val perPoly = convexPolygons.map { case (id, _, ring) =>
      val xs = ring.map(_._1); val ys = ring.map(_._2)
      val (minX, maxX) = (dbl(xs.min), dbl(xs.max))
      val (minY, maxY) = (dbl(ys.min), dbl(ys.max))
      val notSep = s"NOT ($maxX < p.lng - $dLo OR $minX > p.lng + $dLo OR " +
        s"$maxY < p.lat - $dLa OR $minY > p.lat + $dLa)"
      val edgeConds = ring.indices.map { i =>
        val (x1, y1) = ring(i)
        val (x2, y2) = ring((i + 1) % ring.size)
        // CCW ring: interior has cross >= 0; the edge separates iff ALL
        // corners have cross < 0 — i.e. intersection needs >= 1 corner inside
        corners.map { case (sx, sy) =>
          s"((${dbl(x2)} - ${dbl(x1)}) * ((p.lat $sy $dLa) - ${dbl(y1)}) - " +
            s"(${dbl(y2)} - ${dbl(y1)}) * ((p.lng $sx $dLo) - ${dbl(x1)})) >= 0"
        }.mkString("(", " OR ", ")")
      }
      s"SELECT p.point_id, CAST($id AS BIGINT) AS poly_id FROM pts p " +
        s"WHERE p.point_id % 100 = 0 AND $notSep AND ${edgeConds.mkString(" AND ")}"
    }
    s"WITH pts AS ($pts) ${perPoly.mkString(" UNION ALL ")} ORDER BY point_id, poly_id"
  }

  // ---- shoelace oracle (geo_scalar) -------------------------------------------

  /** Left-associated literal sum — parses to the same fold order as the
    * engine's sequential while-loop accumulation. */
  private def sumSql(terms: Seq[String]): String = terms.mkString("(", " + ", ")")

  private def shoelaceTerms(ring: Seq[(Double, Double)]): (Seq[String], Seq[String], Seq[String]) = {
    val closed = ring :+ ring.head
    val t = closed.sliding(2).toSeq.map { case Seq((x1, y1), (x2, y2)) =>
      val cr = s"((${dbl(x1)} * ${dbl(y2)}) - (${dbl(x2)} * ${dbl(y1)}))"
      (cr, s"((${dbl(x1)} + ${dbl(x2)}) * $cr)", s"((${dbl(y1)} + ${dbl(y2)}) * $cr)")
    }
    (t.map(_._1), t.map(_._2), t.map(_._3))
  }

  /** Driver-side shoelace over the literal ring (same fold order). */
  def shoelaceOf(ring: Seq[(Double, Double)]): (Double, Double, Double) = {
    val closed = ring :+ ring.head
    var s = 0.0; var cx = 0.0; var cy = 0.0
    closed.sliding(2).foreach { case Seq((x1, y1), (x2, y2)) =>
      val cr = x1 * y2 - x2 * y1
      s += cr; cx += (x1 + x2) * cr; cy += (y1 + y2) * cr
    }
    (s, cx, cy)
  }

  /** Per-polygon m²-per-deg² factors (driver trig, literal in BOTH engines —
    * latRef is the polygon's shoelace centroid latitude). */
  def shoelaceFactors: Seq[(Long, Double)] = convexPolygons.map { case (id, _, ring) =>
    val (s, _, cy) = shoelaceOf(ring)
    (id, graft.functions.GeoFunctions.metersPerDeg2(cy / (3.0 * s)))
  }

  /** Spark-side factor lookup as a shared CASE literal. */
  def shoelaceFactorCaseSql: String =
    shoelaceFactors.map { case (id, k) => s"WHEN $id THEN CAST($k AS DOUBLE)" }
      .mkString("CASE poly_id ", " ", " END")

  /** DuckDB-side geo_scalar oracle: literal shoelace sums per polygon. */
  def geoScalarOracleSql: String = {
    val perPoly = convexPolygons.map { case (id, _, ring) =>
      val (sT, cxT, cyT) = shoelaceTerms(ring)
      val k = shoelaceFactors.find(_._1 == id).get._2
      s"SELECT CAST($id AS BIGINT) AS poly_id, " +
        s"((${sumSql(sT)} * 0.5) * CAST($k AS DOUBLE)) AS area_m2, " +
        s"(${sumSql(cyT)} / (3.0 * ${sumSql(sT)})) AS c_lat, " +
        s"(${sumSql(cxT)} / (3.0 * ${sumSql(sT)})) AS c_lng"
    }
    s"${perPoly.mkString(" UNION ALL ")} ORDER BY poly_id"
  }

  /**
   * Inline 64-bit arithmetic fragments for DuckDB hash-replay oracles (the
   * driver runs each oracle as ONE standalone statement — no macros): mod-2^64
   * multiply without INT128 overflow (split at 2^32), full-width xor via the
   * signed-BIGINT bridge, and splitmix64 staged across CTE columns so the
   * inline expansion stays constant-size per stage.
   */
  object U64Sql {
    val M = "18446744073709551616"
    def u2s(h: String): String =
      s"CAST(CASE WHEN ($h) >= 9223372036854775808 THEN ($h) - $M ELSE ($h) END AS BIGINT)"
    def s2u(h: String): String =
      s"CAST(CASE WHEN ($h) < 0 THEN CAST(($h) AS HUGEINT) + $M ELSE CAST(($h) AS HUGEINT) END AS HUGEINT)"
    def x64(a: String, b: String): String = s2u(s"xor(${u2s(a)}, ${u2s(b)})")
    /** a*b mod 2^64: al*b + ((ah*(b mod 2^32)) mod 2^32)<<32, all < 2^127. */
    def m64(a: String, b: String): String =
      s"((($a) % 4294967296) * ($b) + (((($a) // 4294967296) * (($b) % 4294967296)) % 4294967296) * 4294967296) % $M"
    /** FNV-1a step inside a list_reduce lambda (h: HUGEINT acc, b: byte). */
    val fnv1aStep: String =
      m64("h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))", "1099511628211")
    /** splitmix64 over column `z` of CTE `src` (carrying `keys`), as 4 chained
      * CTE stages named `<src>_s1.._s3` and a final select aliased `h`. */
    def sm64Ctes(src: String, keys: Seq[String]): (String, String) = {
      val ks = keys.mkString(", ")
      val pre = if (ks.isEmpty) "" else ks + ", "
      val ctes =
        s"""${src}_s1 AS (SELECT $pre((z + 11400714819323198485) % $M) AS z FROM $src),
           |${src}_s2 AS (SELECT $pre${m64(x64("z", "(z // 1073741824)"), "13787848793156543929")} AS z FROM ${src}_s1),
           |${src}_s3 AS (SELECT $pre${m64(x64("z", "(z // 134217728)"), "10723151780598845931")} AS z FROM ${src}_s2),
           |${src}_h AS (SELECT $pre${x64("z", "(z // 2147483648)")} AS h FROM ${src}_s3)""".stripMargin
      (ctes, s"${src}_h")
    }
  }

  /** td_simhash oracle: FNV-1a per token (byte replay) -> splitmix64 ->
    * 64 bit-votes -> signature, all in exact integer arithmetic. */
  def simhashOracleSql: String = {
    import U64Sql._
    val (smCtes, smOut) = sm64Ctes("fnv", Seq("doc_id"))
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |fnv AS (
       |  SELECT doc_id, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |                 [CAST(ord(c) AS HUGEINT) for c in string_split(tok, '')]),
       |    (h, b) -> $fnv1aStep) AS z
       |  FROM toks),
       |$smCtes,
       |votes AS (
       |  SELECT doc_id, b.b AS bit,
       |    sum(CASE WHEN (h // CAST(power(2, b.b) AS HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS v
       |  FROM $smOut CROSS JOIN (SELECT unnest(range(64)) AS b) b
       |  GROUP BY 1, 2)
       |SELECT doc_id,
       |  ${u2s("CAST(sum(CASE WHEN v > 0 THEN CAST(power(2, bit) AS HUGEINT) ELSE 0 END) AS HUGEINT)")} AS simhash
       |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** ann_lsh oracle: the FULL algorithm replayed — deterministic Rademacher
    * planes from splitmix64 (Ann.planes), signed projections via sequential
    * list_dot_product, bucket equi-join per table, exact cosine rank. No
    * recall caveat: the oracle computes the same buckets the engine does. */
  def annLshOracleSql(tables: Int, bits: Int, dim: Int, k: Int, nQueries: Int): String = {
    import U64Sql._
    val (smCtes, smOut) = sm64Ctes("seed", Seq("p", "d"))
    s"""WITH pd AS (
       |  SELECT pp.p, dd.d
       |  FROM (SELECT unnest(range(${tables * bits})) AS p) pp,
       |       (SELECT unnest(range($dim)) AS d) dd),
       |seed AS (SELECT p, d, CAST(p * 1000003 + d AS HUGEINT) AS z FROM pd),
       |$smCtes,
       |pl AS (
       |  SELECT p, list(CASE WHEN h % 2 = 1 THEN 1.0 ELSE -1.0 END ORDER BY d) AS plane
       |  FROM $smOut GROUP BY p),
       |bkt AS (
       |  SELECT e.vec_id, p.p // $bits AS t,
       |    sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) > 0
       |        THEN CAST(power(2, p.p % $bits) AS BIGINT) ELSE 0 END) AS bucket
       |  FROM embeddings e CROSS JOIN pl p GROUP BY 1, 2),
       |cand AS (
       |  SELECT DISTINCT qb.vec_id AS qid, db.vec_id AS neighbor_id
       |  FROM bkt qb JOIN bkt db ON qb.t = db.t AND qb.bucket = db.bucket
       |  WHERE qb.vec_id < $nQueries AND db.vec_id <> qb.vec_id),
       |scored AS (
       |  SELECT c.qid, c.neighbor_id,
       |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])) /
       |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
       |     sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])))) AS cosine
       |  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
       |  JOIN embeddings qe ON qe.vec_id = c.qid)
       |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank, neighbor_id
       |FROM scored QUALIFY rank <= $k ORDER BY qid, rank""".stripMargin
  }

  /**
   * td_minhash_pairs oracle: the ENTIRE banded-minhash pipeline replayed in
   * SQL — FNV-1a per shingle (byte replay), 32 splitmix64-mixed min-hashes
   * (signed-min like the JVM), 8 band hashes as 4 UNROLLED splitmix64 chain
   * hops (rowsPerBand is fixed, so the fold becomes staged CTE columns),
   * bucket self-join, exact shingle-set Jaccard verify. No recall caveat:
   * the oracle computes the same buckets the engine does. Valid while no
   * gate bucket exceeds the star cap (fixture buckets are tiny).
   */
  def minhashLshOracleSql: String = {
    import U64Sql._
    val (k, numHashes, rowsPerBand, threshold) = (3, 32, 4, 0.4)
    val (seedCtes, seedOut) = sm64Ctes("seed0", Seq("i"))
    val (xCtes, xOut) = sm64Ctes("xin", Seq("doc_id", "i"))
    val hops = (0 until rowsPerBand).flatMap { r =>
      val src = s"hop$r"
      val prev = if (r == 0) "piv" else s"hop${r - 1}_sig"
      val inp = s"$src AS (SELECT doc_id, band_id, v0, v1, v2, v3, " +
        s"${s2u(s"xor(${u2s("hs")}, v$r)")} AS z FROM $prev)"
      val (ctes, out) = sm64Ctes(src, Seq("doc_id", "band_id", "v0", "v1", "v2", "v3"))
      val conv = s"${src}_sig AS (SELECT doc_id, band_id, v0, v1, v2, v3, ${u2s("h")} AS hs FROM $out)"
      Seq(inp, ctes, conv)
    }
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+${k - 1}], ' ') for i in range(1, greatest(len(t) - ${k - 2}, 1))]) AS s FROM toks),
       |shx AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |base AS (SELECT doc_id, list_reduce(
       |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |                 [CAST(ord(c) AS HUGEINT) for c in string_split(shingle, '')]),
       |    (h, b) -> $fnv1aStep) AS bh FROM shx),
       |seed0 AS (SELECT i, CAST(1000003 * (i + 1) AS HUGEINT) AS z FROM (SELECT unnest(range($numHashes)) AS i)),
       |$seedCtes,
       |xin AS (SELECT b.doc_id, s.i, ${x64("b.bh", "s.h")} AS z FROM base b CROSS JOIN $seedOut s),
       |$xCtes,
       |sig AS (SELECT doc_id, i, min(${u2s("h")}) AS sv FROM $xOut GROUP BY 1, 2),
       |piv AS (SELECT doc_id, i // $rowsPerBand AS band_id,
       |    max(CASE WHEN i % $rowsPerBand = 0 THEN sv END) AS v0,
       |    max(CASE WHEN i % $rowsPerBand = 1 THEN sv END) AS v1,
       |    max(CASE WHEN i % $rowsPerBand = 2 THEN sv END) AS v2,
       |    max(CASE WHEN i % $rowsPerBand = 3 THEN sv END) AS v3,
       |    xor(CAST(-3750763034362895579 AS BIGINT), i // $rowsPerBand) AS hs
       |  FROM sig GROUP BY doc_id, i // $rowsPerBand),
       |${hops.map(_ + ",").mkString("\n")}
       |banded AS (SELECT doc_id, band_id, hs FROM hop${rowsPerBand - 1}_sig),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b ON a.band_id = b.band_id AND a.hs = b.hs
       |  WHERE a.doc_id < b.doc_id)
       |SELECT c.id_a, c.id_b,
       |  CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) AS jaccard
       |FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
       |WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  // ---- kNN sites -------------------------------------------------------------

  val knnSites: Seq[(Long, Double, Double)] = Seq(
    (1L, 51.5355123, -0.1256311),  // in the hot cluster
    (2L, 51.4801234, -0.1901222),
    (3L, 51.5701567, -0.0950789),
    (4L, 51.6101890, -0.1850456),
    (5L, 51.4651201, -0.0601934),
  )

  def sites(spark: SparkSession): DataFrame = {
    import spark.implicits._
    knnSites.toDF("site_id", "site_lat", "site_lng")
  }

  /** Typed to BIGINT/DOUBLE explicitly — DuckDB VALUES default to INT/DECIMAL,
    * which would break schema/hash comparison against the Spark output. */
  def sitesValuesSql: String =
    knnSites.map { case (id, la, ln) =>
      s"(CAST($id AS BIGINT), CAST($la AS DOUBLE), CAST($ln AS DOUBLE))" }
      .mkString("(VALUES ", ", ", ") AS s(site_id, site_lat, site_lng)")

  /** Shared haversine SQL (b6 earth radius 6371010 m — units/units.go:7). Both
    * engines provide radians/sin/cos/asin/sqrt/least with <=1ulp differences. */
  def haversineSql(lat1: String, lng1: String, lat2: String, lng2: String): String =
    s"(2.0 * 6371010.0 * asin(least(1.0, sqrt(" +
      s"sin(radians(($lat2) - ($lat1)) / 2) * sin(radians(($lat2) - ($lat1)) / 2) + " +
      s"cos(radians($lat1)) * cos(radians($lat2)) * " +
      s"sin(radians(($lng2) - ($lng1)) / 2) * sin(radians(($lng2) - ($lng1)) / 2)))))"

  // ---- rectangles (cap/range fixtures) ----------------------------------------

  val rects: Seq[(Long, Double, Double, Double, Double)] = Seq(
    // (rect_id, latLo, latHi, lngLo, lngHi)
    (1L, 51.530, 51.540, -0.130, -0.120),
    (2L, 51.470, 51.510, -0.200, -0.150),
    (3L, 51.600, 51.625, -0.210, -0.160),
  )

  def rectsDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    rects.toDF("rect_id", "lat_lo", "lat_hi", "lng_lo", "lng_hi")
  }

  def rectsValuesSql: String =
    rects.map { case (id, a, b, c, d) =>
      s"(CAST($id AS BIGINT), CAST($a AS DOUBLE), CAST($b AS DOUBLE), CAST($c AS DOUBLE), CAST($d AS DOUBLE))" }
      .mkString("(VALUES ", ", ", ") AS r(rect_id, lat_lo, lat_hi, lng_lo, lng_hi)")

  // ---- the images table (north-rule input_hint schema) ------------------------

  /** splitmix64 — the seeded hash behind phash and pixel noise. */
  def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private val widths = Array(64, 128, 256)
  private val heights = Array(64, 96, 256)
  private val fmts = Array("ppm", "png")
  private val words = Array("granary", "square", "camden", "market", "canal",
    "fountain", "bridge", "bike", "park", "building")

  /** Deterministic RGB pixels for image i: gradient + phash-seeded noise. */
  def pixels(i: Long, w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    val ph = splitmix64(i)
    var y = 0
    var idx = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val noise = splitmix64(ph ^ (y.toLong * w + x))
        out(idx) = ((x * 255 / math.max(1, w - 1)) ^ (noise & 0x0f)).toByte
        out(idx + 1) = ((y * 255 / math.max(1, h - 1)) ^ ((noise >>> 8) & 0x0f)).toByte
        out(idx + 2) = (((x + y) * 255 / math.max(1, w + h - 2)) ^ ((noise >>> 16) & 0x0f)).toByte
        idx += 3
        x += 1
      }
      y += 1
    }
    out
  }

  // ImageIO's default stream cache spools every encode/decode through a TEMP
  // FILE — with 32 decode tasks that is 32-way /tmp contention and couples
  // image throughput to disk state (the r2 driver bench saw mm_decode swing
  // 10.5 -> 26.5 s). In-memory streams remove the filesystem from the path.
  javax.imageio.ImageIO.setUseCache(false)

  /** Encode pixels: PPM (P6) exactly; PNG via ImageIO (lossless). The PNG
    * path writes straight into the BufferedImage's backing byte raster
    * (TYPE_3BYTE_BGR) — per-pixel setRGB goes through the color model and was
    * the encode hot spot. */
  def encode(pix: Array[Byte], w: Int, h: Int, fmt: String): Array[Byte] = fmt match {
    case "ppm" =>
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val out = new Array[Byte](header.length + pix.length)
      System.arraycopy(header, 0, out, 0, header.length)
      System.arraycopy(pix, 0, out, header.length, pix.length)
      out
    case "png" =>
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val raster = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData // B,G,R order
      var i = 0
      while (i < pix.length) {
        raster(i) = pix(i + 2); raster(i + 1) = pix(i + 1); raster(i + 2) = pix(i)
        i += 3
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
  }

  /** Decode back to raw RGB (the "decode-once" step of the pipeline). Reads
    * the decoded raster buffer directly when it is 3-byte BGR (the common
    * case for our PNGs); falls back to getRGB otherwise. */
  def decode(bytes: Array[Byte], fmt: String): (Int, Int, Array[Byte]) = fmt match {
    case "ppm" =>
      val s = new String(bytes, 0, math.min(bytes.length, 32), "US-ASCII")
      val parts = s.split("\\s+")
      val w = parts(1).toInt; val h = parts(2).toInt
      val headerLen = bytes.indexOf('\n'.toByte,
        bytes.indexOf('\n'.toByte, bytes.indexOf('\n'.toByte) + 1) + 1) + 1
      (w, h, java.util.Arrays.copyOfRange(bytes, headerLen, headerLen + w * h * 3))
    case "png" =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      val w = img.getWidth; val h = img.getHeight
      val out = new Array[Byte](w * h * 3)
      img.getRaster.getDataBuffer match {
        case db: java.awt.image.DataBufferByte
            if img.getType == java.awt.image.BufferedImage.TYPE_3BYTE_BGR &&
              db.getData.length == w * h * 3 =>
          val raster = db.getData
          var i = 0
          while (i < out.length) {
            out(i) = raster(i + 2); out(i + 1) = raster(i + 1); out(i + 2) = raster(i)
            i += 3
          }
        case _ =>
          var y = 0; var idx = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              out(idx) = ((rgb >> 16) & 0xff).toByte
              out(idx + 1) = ((rgb >> 8) & 0xff).toByte
              out(idx + 2) = (rgb & 0xff).toByte
              idx += 3; x += 1
            }
            y += 1
          }
      }
      (w, h, out)
  }

  def caption(i: Long): String = {
    val a = words((splitmix64(i * 31 + 1) % words.length).toInt.abs)
    val b = words((splitmix64(i * 31 + 2) % words.length).toInt.abs)
    s"caption $i $a $b"
  }

  case class ImageRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                      fmt: String, caption: String, phash: Long)

  def imageRow(i: Long): ImageRow = {
    val w = widths((i % widths.length).toInt)
    val h = heights((i % heights.length).toInt)
    val fmt = fmts((i % fmts.length).toInt)
    ImageRow(f"img-$i%012d", encode(pixels(i, w, h), w, h, fmt), w, h, fmt,
      caption(i), splitmix64(i))
  }

  /**
   * The north-rule input table, generated distributed (one task per range
   * partition, no driver materialisation): columns exactly per input_hint —
   * (image_id, bytes, w, h, fmt, caption, phash) — plus derived lat/lng/cell16
   * (phash-seeded cluster mixture with a hot cell, like the points above).
   */
  /**
   * Metadata-only variant for spatial-throughput benchmarks: same schema minus
   * `bytes` (at 10^12 scale the engine's columnar scan prunes `bytes` for
   * join/tile stages anyway — this generator stands in for that pruned scan).
   */
  def imagesMeta(spark: SparkSession, n: Long, partitions: Int): DataFrame = {
    CellExprs.install(spark)
    spark.range(0, n, 1, partitions)
      .select(
        format_string("img-%012d", col("id")).as("image_id"),
        (col("id") % 3).cast("int").as("w_idx"),
        col("id").as("i"))
      .withColumn("phash", expr(
        // splitmix64 in SQL arithmetic would need unsigned ops; a xxhash64 of
        // the index is an equivalent deterministic 64-bit mix here
        "xxhash64(i)"))
      .withColumn("caption", concat(lit("caption "), col("i")))
      .withColumn("lat", expr(
        "CASE WHEN pmod(phash, 10) < 3 THEN 51.5353 + CAST(pmod(phash, 97) AS DOUBLE) * 0.0000011 " +
          "ELSE 51.46 + CAST(pmod(phash, 20000) AS DOUBLE) * 0.00000817 END"))
      .withColumn("lng", expr(
        "CASE WHEN pmod(phash, 10) < 3 THEN -0.1258 + CAST(pmod(phash, 89) AS DOUBLE) * 0.0000013 " +
          "ELSE -0.21 + CAST(pmod(phash, 17770) AS DOUBLE) * 0.00000823 END"))
      .withColumn("cell16", CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      .drop("i", "w_idx")
  }

  def images(spark: SparkSession, n: Long): DataFrame = {
    CellExprs.install(spark)
    import spark.implicits._
    val ds = spark.range(0, n, 1, 32).map(i => imageRow(i))
    // Persist the synthetic table: in production the input_hint images table
    // is a STORED table (parquet/Iceberg), so pixel-generation cost is a
    // fixture artifact — caching makes every consumer (decode, thumbs,
    // pipeline stages) measure the operator against a materialized input,
    // the same shape as reading the real table warm.
    ds.toDF().persist()
      .withColumn("lat", expr(
        "CASE WHEN pmod(phash, 10) < 3 THEN 51.5353 + CAST(pmod(phash, 97) AS DOUBLE) * 0.0000011 " +
          "ELSE 51.46 + CAST(pmod(phash, 20000) AS DOUBLE) * 0.00000817 END"))
      .withColumn("lng", expr(
        "CASE WHEN pmod(phash, 10) < 3 THEN -0.1258 + CAST(pmod(phash, 89) AS DOUBLE) * 0.0000013 " +
          "ELSE -0.21 + CAST(pmod(phash, 17770) AS DOUBLE) * 0.00000823 END"))
      .withColumn("cell16", CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
  }
}
