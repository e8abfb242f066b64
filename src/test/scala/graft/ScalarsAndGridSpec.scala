package graft

import graft.core.{Cells, GeoOps}
import graft.functions.CellExprs
import org.apache.spark.sql.functions._

class ScalarsAndGridSpec extends SparkSuite {
  import spark.implicits._

  test("b6 scalar semantics: int/int = int (truncating), float promotes (math.go:16)") {
    val world = spark.emptyDataFrame
    assert(graft.shell.Shell.run(world, "divide 7 2") == 3L, "7 div 2 = 3, not 3.5")
    assert(graft.shell.Shell.run(world, "divide 7.0 2") == 3.5)
    assert(graft.shell.Shell.run(world, "add 7 2") == 9L)
    assert(graft.shell.Shell.run(world, "divide-int 7 2") == 3L)
    assert(graft.shell.Shell.run(world, "clamp 7 0 5") == 5L)
    assert(graft.shell.Shell.run(world, "to-str 7") == "7")
  }

  test("cell_grid: single-level sorted grid intersecting the geometry (s2.go:30-44)") {
    CellExprs.install(spark)
    val poly = GeoOps.toWkb(GeoOps.fromWkt(
      "POLYGON ((-0.13 51.53, -0.11 51.53, -0.11 51.55, -0.13 51.55, -0.13 51.53))"))
    val cells = Seq(Tuple1(poly)).toDF("geom")
      .select(call_function("cell_grid", col("geom"), lit(12))).as[Seq[Long]].head()
    assert(cells.nonEmpty)
    assert(cells == cells.sorted)
    cells.foreach(c => assert(Cells.level(c) == 12))
    // every grid cell really intersects the polygon's bbox
    cells.foreach { c =>
      assert(Cells.lngLo(c) <= -0.11 && Cells.lngHi(c) >= -0.13)
      assert(Cells.latLo(c) <= 51.55 && Cells.latHi(c) >= 51.53)
    }
  }

  test("cell_polygon round-trips the cell bounds (s2.go:66-74)") {
    CellExprs.install(spark)
    val cell = Cells.cellOf(51.5353, -0.1258, 14)
    val wkb = Seq(Tuple1(cell)).toDF("c")
      .select(call_function("cell_polygon", col("c"))).as[Array[Byte]].head()
    val g = GeoOps.fromWkb(wkb)
    val env = g.getEnvelopeInternal
    assert(math.abs(env.getMinX - Cells.lngLo(cell)) < 1e-12)
    assert(math.abs(env.getMaxY - Cells.latHi(cell)) < 1e-12)
    assert(g.getGeometryType == "Polygon")
  }

  test("tile cover follows the cell union, not the envelope (tiles.go:296-343)") {
    // an L-shape spanning ~0.1 deg: the empty corner's tiles must be absent
    val l = GeoOps.toWkb(GeoOps.fromWkt(
      "POLYGON ((-0.20 51.50, -0.06 51.50, -0.06 51.52, -0.18 51.52, -0.18 51.60, -0.20 51.60, -0.20 51.50))"))
    val tiles = GeoOps.tileCoverWkb(l, 14).toSet
    // the empty corner: around (-0.07, 51.59) — far inside the bbox, outside the L
    val cornerTile = GeoOps.tileId(14, GeoOps.tileX(-0.07, 14), GeoOps.tileY(51.59, 14))
    assert(!tiles.contains(cornerTile), "bbox corner outside the L must not be covered")
    // but the arms are covered
    val armTile = GeoOps.tileId(14, GeoOps.tileX(-0.19, 14), GeoOps.tileY(51.59, 14))
    val armTile2 = GeoOps.tileId(14, GeoOps.tileX(-0.07, 14), GeoOps.tileY(51.51, 14))
    assert(tiles.contains(armTile) && tiles.contains(armTile2))
  }

  test("ngram-Jaccard prefix filter is exact: sub-threshold hot pairs absent, all-hot duplicates kept") {
    // 40 docs share a ubiquitous 5-token prefix: every hot pair shares 3 of
    // 11 union shingles (0.27 < 0.4) and must stay absent. Docs 300/301 are
    // IDENTICAL boilerplate whose shingles are ALL ubiquitous — the old
    // df-cap silently missed them (the ADVICE recall hole); prefix
    // filtering must find (300,301) at J=1 and every (hot,300/301) pair at
    // J = 3/7 >= 0.4.
    val common = "the quick brown fox jumps"
    val docs = (0 until 40).map(i => (i.toLong, s"$common unique$i tail$i words$i here$i")) ++
      Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"),
        (101L, "alpha beta gamma delta epsilon zeta eta iota"),
        (300L, common), (301L, common))
    val df = docs.toDF("doc_id", "text")
    val pairs = graft.operators.TextOps.ngramJaccardJoin(df, "doc_id", "text", k = 3, threshold = 0.4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for (i <- 0 until 40; r <- Seq(300L, 301L)) yield (i.toLong, r)).toSet +
      ((300L, 301L)) + ((100L, 101L))
    assert(pairs == expected, s"got ${pairs.size} pairs, expected ${expected.size}")
  }

  test("cell_center round-trips into the owning cell") {
    CellExprs.install(spark)
    val df = Seq((51.5353, -0.1258)).toDF("lat", "lng")
      .withColumn("c", CellExprs.cell_of(col("lat"), col("lng"), lit(14)))
      .withColumn("clat", CellExprs.cell_center_lat(col("c")))
      .withColumn("clng", CellExprs.cell_center_lng(col("c")))
      .withColumn("c2", CellExprs.cell_of(col("clat"), col("clng"), lit(14)))
    val r = df.head()
    assert(r.getAs[Long]("c") == r.getAs[Long]("c2"))
  }
}
