package graft

import graft.core.GeoOps
import graft.model.Fixtures
import graft.query._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

class QuerySpec extends SparkSuite {

  lazy val feats = SparkEntry.features(spark, sf001)

  test("Tagged/Keyed/Typed/And/Or compile to the same rows as direct filters") {
    val tagged = QueryPlanner.find(feats, Tagged("#amenity", "cafe")).count()
    val direct = feats.where(col("tags").getItem("#amenity") === "cafe").count()
    assert(tagged == direct && tagged > 0)

    val combo = QueryPlanner.find(feats,
      And(Seq(TypedQ("point", All), Or(Seq(Tagged("#amenity", "cafe"), Keyed("@name")))))).count()
    val comboDirect = feats.where(col("id.ftype") === "point" &&
      (col("tags").getItem("#amenity") === "cafe" || col("tags").getItem("@name").isNotNull)).count()
    assert(combo == comboDirect)
  }

  test("IntersectsGeom pre-prune never drops true matches (vs brute force)") {
    import spark.implicits._
    val wkt = Fixtures.concaveWkts.head._2
    val g = GeoOps.fromWkt(wkt)
    val got = QueryPlanner.find(feats, IntersectsGeom(GeoOps.toWkb(g)))
      .select("point_id").as[Long].collect().toSet
    val expected = Fixtures.points(spark, sf001).select("point_id", "lat", "lng")
      .as[(Long, Double, Double)].collect()
      .collect { case (pid, lat, lng) if g.covers(GeoOps.point(lat, lng)) => pid }.toSet
    assert(got == expected)
  }

  test("cap_within and cell_in_ranges select the same rows as haversine_m and per-level isin (random caps and covers)") {
    import spark.implicits._
    import graft.core.Cells
    import graft.functions.CellExprs
    val pts = feats.select("point_id", "lat", "lng", "cell16").cache()
    def ids(p: Column): Set[Long] = pts.where(p).select("point_id").as[Long].collect().toSet
    val rnd = new scala.util.Random(4242L)
    val near = pts.select("lat", "lng").as[(Double, Double)].collect()
    var nonEmpty = 0
    for (_ <- 1 to 25) {
      // centres jittered around points, some far enough out to miss them all
      val (pLat, pLng) = near(rnd.nextInt(near.length))
      val (lat, lng) = (pLat + (rnd.nextDouble() - 0.5) * 0.04, pLng + (rnd.nextDouble() - 0.5) * 0.04)
      val r = 100.0 + rnd.nextDouble() * 4000.0
      val capNew = ids(CellExprs.cap_within(col("lat"), col("lng"), lat, lng, r))
      val capOld = ids(CellExprs.haversine_m(col("lat"), col("lng"), lit(lat), lit(lng)) < lit(r))
      assert(capNew == capOld, s"cap ($lat, $lng, $r)")
      if (capNew.nonEmpty) nonEmpty += 1
      // the cap's own covering, plus random cells of mixed levels around the
      // centre (a cell and its ancestor may both be present)
      val cover = GeoOps.covering(graft.functions.GeoFunctions.capPolygon(lat, lng, r), 16, 8) ++
        Seq.fill(3)(Cells.cellOf(lat + (rnd.nextDouble() - 0.5) * 0.05,
          lng + (rnd.nextDouble() - 0.5) * 0.05, 6 + rnd.nextInt(11)))
      val isinOld = cover.groupBy(c => Cells.level(c)).toSeq.map { case (l, cs) =>
        CellExprs.cell_parent_at(col("cell16"), lit(l)).isin(cs.toSeq: _*)
      }.reduce(_ || _)
      val rangesNew = CellExprs.cell_in_ranges(col("cell16"),
        cover.toSeq.map(c => Cells.descendantRange(c, 16)))
      assert(ids(rangesNew) == ids(isinOld), s"cover ${cover.mkString(",")}")
    }
    assert(nonEmpty >= 10, s"only $nonEmpty non-empty caps")
    pts.unpersist()
  }

  test("entry returns rows and all queries are non-empty at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key exists in queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
