package graft

import graft.core.GeoOps
import graft.model.Fixtures
import graft.operators.SpatialJoins
import org.apache.spark.sql.functions._

/** Spatial joins vs brute-force JTS / haversine oracles — the analogue of the
  * reference's covering/intersection golden tests (b6/spatial_test.go:1-60,
  * ingest/spatial_test.go). */
class SpatialJoinsSpec extends SparkSuite {

  lazy val pts: Seq[(Long, Double, Double)] = {
    import spark.implicits._
    Fixtures.points(spark, sf001).select("point_id", "lat", "lng")
      .as[(Long, Double, Double)].collect().toSeq
  }

  test("pointInPolygonJoin matches brute-force JTS covers (incl. concave + multipolygon)") {
    val polys = Fixtures.polygons(spark, includeConcave = true)
    val got = SpatialJoins.pointInPolygonJoin(Fixtures.points(spark, sf001), polys)
      .select("point_id", "poly_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val polyGeoms = Fixtures.convexPolygons.map { case (id, _, ring) =>
      val closed = ring :+ ring.head
      (id, GeoOps.fromWkt(closed.map { case (x, y) => s"$x $y" }
        .mkString("POLYGON ((", ", ", "))")))
    } ++ Fixtures.concaveWkts.map { case (id, w) => (id, GeoOps.fromWkt(w)) }
    val expected = (for {
      (pid, lat, lng) <- pts
      (polyId, g) <- polyGeoms
      if g.covers(GeoOps.point(lat, lng))
    } yield (pid, polyId)).toSet

    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("pointInPolygonJoin's guarded collect is 1 job on a 1-partition build side, 2 on 5 partitions") {
    // limit(N + 1).collect() plans as CollectLimit, which scans 1 partition,
    // then up to 4x as many (Spark's executeTake scale-up): one job per round
    val points = Fixtures.points(spark, sf001)
    val polys = Fixtures.polygons(spark, includeConcave = true)
    // polygon rows over n partitions, scanned without a shuffle
    def over(n: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(polys.collect().toSeq, n), polys.schema)
    val (_, narrow) = JobCount(spark)(SpatialJoins.pointInPolygonJoin(points, over(1)))
    assert(narrow == 1)
    val (wide, jobs) = JobCount(spark)(SpatialJoins.pointInPolygonJoin(points, over(5)))
    assert(jobs == 2)
    assert(wide.count() == SpatialJoins.pointInPolygonJoin(points, polys).count())
  }

  /** Seeded random areas over lat [51.40, 51.60] x lng [-0.20, 0.00]:
    * star-shaped polygons, some with a hole, two-part multipolygons with
    * holes, and slivers. Every other area has its vertices snapped to level
    * 16 cell corners, so its vertex points also lie on cell boundaries;
    * invalid shapes (a snap can fold a ring) are dropped. */
  private def randomAreas(rnd: scala.util.Random): Seq[(Long, String)] = {
    def snap(lat: Double, lng: Double) = {
      val c = graft.core.Cells.cellOf(lat, lng, 16)
      (graft.core.Cells.latLo(c), graft.core.Cells.lngLo(c))
    }
    def ring(pts: Seq[(Double, Double)]) = (pts :+ pts.head).map { case (la, ln) => s"$ln $la" }
      .mkString("(", ", ", ")")
    // a star-shaped ring around (la, ln): sorted angles, radii in [r/2, r]
    def star(la: Double, ln: Double, r: Double, n: Int, snapped: Boolean) = {
      val angles = Seq.fill(n)(rnd.nextDouble() * 2 * math.Pi).sorted
      val pts = angles.map { a =>
        val rr = r * (0.5 + 0.5 * rnd.nextDouble())
        (la + rr * math.sin(a), ln + rr * math.cos(a))
      }
      (if (snapped) pts.map { case (a, b) => snap(a, b) } else pts).distinct
    }
    // a square hole inside the star's inner radius r/2
    def hole(la: Double, ln: Double, r: Double) = {
      val h = r * 0.2
      Seq((la - h, ln - h), (la - h, ln + h), (la + h, ln + h), (la + h, ln - h))
    }
    def polygon(la: Double, ln: Double, r: Double, snapped: Boolean) = {
      val shell = star(la, ln, r, 5 + rnd.nextInt(8), snapped)
      if (rnd.nextBoolean()) s"(${ring(shell)}, ${ring(hole(la, ln, r))})" else s"(${ring(shell)})"
    }
    (0 until 30).map { i =>
      val la = 51.42 + rnd.nextDouble() * 0.16
      val ln = -0.18 + rnd.nextDouble() * 0.16
      val snapped = i % 2 == 0
      val r = (if (snapped) 0.008 else 0.002) + rnd.nextDouble() * 0.01
      val wkt = i % 3 match {
        case 0 => s"POLYGON ${polygon(la, ln, r, snapped)}"
        case 1 => // two parts 3r apart, so they never touch
          s"MULTIPOLYGON (${polygon(la, ln, r, snapped)}, ${polygon(la, ln + 3 * r, r, snapped)})"
        case _ => // a sliver: a long triangle a few metres wide
          val w = 1e-5 * (1 + rnd.nextInt(5))
          s"POLYGON (${ring(Seq((la, ln), (la + w, ln + r * 2), (la - w, ln + r * 4)))})"
      }
      (1000L + i, wkt)
    }.filter { case (_, wkt) => scala.util.Try(GeoOps.fromWkt(wkt).isValid).getOrElse(false) }
  }

  /** Random points, the areas' vertices, points along their edges and
    * points on cell boundaries at the covering levels. */
  private def randomPoints(rnd: scala.util.Random, areas: Seq[org.locationtech.jts.geom.Geometry]) = {
    val uniform = Seq.fill(1500)((51.40 + rnd.nextDouble() * 0.2, -0.20 + rnd.nextDouble() * 0.2))
    val vertices = areas.flatMap(_.getCoordinates.toSeq).map(c => (c.y, c.x))
    val edges = areas.flatMap { g =>
      val cs = g.getCoordinates
      (1 until cs.length).map { i =>
        val t = if (rnd.nextBoolean()) 0.5 else rnd.nextDouble()
        (cs(i - 1).y + t * (cs(i).y - cs(i - 1).y), cs(i - 1).x + t * (cs(i).x - cs(i - 1).x))
      }
    }
    val cellEdges = uniform.take(600).zipWithIndex.map { case ((la, ln), i) =>
      val c = graft.core.Cells.cellOf(la, ln, 10 + i % 7)
      i % 3 match {
        case 0 => (graft.core.Cells.latLo(c), ln)
        case 1 => (la, graft.core.Cells.lngLo(c))
        case _ => (graft.core.Cells.latLo(c), graft.core.Cells.lngLo(c))
      }
    }
    (uniform ++ vertices ++ edges ++ cellEdges).zipWithIndex.map { case ((la, ln), i) => (i.toLong, la, ln) }
  }

  test("the area index join equals brute-force JTS covers and the hinted cell join (random holes, multipolygons, slivers)") {
    import spark.implicits._
    Seq(7L, 19L, 42L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val areas = randomAreas(rnd)
      val geoms = areas.map { case (id, wkt) => id -> GeoOps.fromWkt(wkt) }
      val pointRows = randomPoints(rnd, geoms.map(_._2))
      val points = pointRows.toDF("point_id", "lat", "lng")
        .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      val polygons = geoms.map { case (id, g) => (id, GeoOps.toWkb(g)) }.toDF("poly_id", "geom")
        .withColumn("covering", graft.functions.CellExprs.cell_covering(col("geom"), lit(16), lit(8)))
      val indexed = SpatialJoins.pointInPolygonJoin(points, polygons)
      val hinted = SpatialJoins.pointInPolygonJoin(points, polygons.hint("merge"))
      def nodes(df: org.apache.spark.sql.DataFrame) = (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }).collect { case p => p.nodeName }
      assert(!nodes(indexed).exists(n => n.contains("Join") || n.contains("Exchange")), nodes(indexed))
      assert(nodes(hinted).exists(_.contains("Join")), nodes(hinted))
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.select("point_id", "poly_id").as[(Long, Long)].collect().sorted.toSeq
      val expected = (for {
        (pid, la, ln) <- pointRows
        (id, g) <- geoms
        if g.covers(GeoOps.point(la, ln))
      } yield (pid, id)).sorted
      val got = pairs(indexed)
      assert(got == expected,
        s"seed $seed: missing=${expected.diff(got).take(5)} extra=${got.diff(expected).take(5)}")
      assert(pairs(hinted) == got, s"seed $seed")
      assert(indexed.schema.map(f => (f.name, f.dataType)) == hinted.schema.map(f => (f.name, f.dataType)))
      assert(indexed.columns.toSeq == points.columns.toSeq ++ polygons.columns)
    }
  }

  test("knnJoin is exact vs brute-force haversine top-k") {
    val got = SpatialJoins.knnJoin(Fixtures.points(spark, sf001), Fixtures.sites(spark), 3)
      .select("site_id", "rank", "point_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

    val expected = Fixtures.knnSites.flatMap { case (sid, slat, slng) =>
      pts.map { case (pid, lat, lng) =>
        (pid, GeoOps.haversineMeters(lat, lng, slat, slng))
      }.sortBy { case (pid, d) => (d, pid) }.take(3).zipWithIndex
        .map { case ((pid, _), i) => (sid, i + 1, pid) }
    }.toSet
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("knnJoin ring loop scans the probe side once per ring (localCheckpoint, no recompute)") {
    import spark.implicits._
    // sparse far-apart points force >= 3 ring doublings before the k-th
    // neighbor guarantee holds; an accumulator counts probe-row evaluations
    val acc = spark.sparkContext.longAccumulator("probe-scans")
    val sparse = (0 until 400).map { i =>
      (i.toLong, 51.0 + (i % 20) * 0.04, -1.0 + (i / 20) * 0.04)
    }
    val counted = udf { (pid: Long) => acc.add(1); true }
    val points = sparse.toDF("point_id", "lat", "lng")
      .withColumn("cell16", graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
      .where(counted(col("point_id")))
    val sites = Seq((1L, 51.4, -0.6), (2L, 51.02, -0.98)).toDF("site_id", "site_lat", "site_lng")
    // level 14: ~1.2 km cells vs ~4.4 km point spacing -> the k=3 guarantee
    // needs ring >= ~8, i.e. >= 4 doublings
    val got = SpatialJoins.knnJoin(points, sites, 3, level = 14)
      .select("site_id", "rank", "point_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expected = Seq((1L, 51.4, -0.6), (2L, 51.02, -0.98)).flatMap { case (sid, slat, slng) =>
      sparse.map { case (pid, lat, lng) =>
        (pid, GeoOps.haversineMeters(lat, lng, slat, slng))
      }.sortBy { case (pid, d) => (d, pid) }.take(3).zipWithIndex
        .map { case ((pid, _), i) => (sid, i + 1, pid) }
    }.toSet
    assert(got == expected)
    // each ring evaluates every probe row once for its annulus join; rings
    // double 1,2,4,... <= 1024 -> at most 11 scans. WITHOUT the checkpoint the
    // r-th ring re-ran rings 1..r-1 too (quadratic: 60+ scans of 400 rows).
    val scans = acc.value / 400
    assert(scans <= 14, s"probe side scanned $scans times — ring lineage is re-executing")
  }

  test("knnJoinDistributed matches the driver-mode loop exactly on the fixture") {
    val driver = SpatialJoins.knnJoin(Fixtures.points(spark, sf001), Fixtures.sites(spark), 3)
      .select("site_id", "rank", "point_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val dist = SpatialJoins.knnJoinDistributed(
        Fixtures.points(spark, sf001), Fixtures.sites(spark), 3)
      .select("site_id", "rank", "point_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(dist == driver, s"missing=${(driver -- dist).take(5)} extra=${(dist -- driver).take(5)}")
  }

  test("knnJoin auto-selects the distributed active set at 1e5 sites (no driver-resident rows)") {
    import graft.functions.CellExprs._
    // 100k sites on a lattice inside a 10k-point grid: the active-site set
    // would be ~100k Rows on the driver heap in the old mode; the distributed
    // loop keeps it a checkpointed DataFrame and the only driver values are
    // per-ring counts. k=1 at level 15 settles nearly everything ring 1.
    val nSide = 100 // points: 100x100 at 0.005 deg
    val pts0 = spark.range(nSide.toLong * nSide)
      .withColumn("point_id", col("id"))
      .withColumn("lat", lit(50.0) + (col("id") % nSide).cast("double") * lit(0.005))
      .withColumn("lng", lit(0.0) + floor(col("id") / nSide).cast("double") * lit(0.005))
      .withColumn("cell16", cell_of(col("lat"), col("lng"), lit(16)))
      .drop("id")
    val sSide = 317 // sites: 317*317 > 1e5, trimmed to exactly 1e5
    val sites0 = spark.range(100000L)
      .withColumn("site_id", col("id"))
      .withColumn("site_lat", lit(50.005) + (col("id") % sSide).cast("double") * lit(0.0015))
      .withColumn("site_lng", lit(0.005) + floor(col("id") / sSide).cast("double") * lit(0.0015))
      .drop("id")
    val got = SpatialJoins.knnJoin(pts0, sites0, k = 1, level = 15)
    // every site settles with exactly one row
    assert(got.count() == 100000L)
    // sampled exactness vs brute-force haversine over all 10k points
    val sampleIds = Seq(0L, 316L, 12345L, 50000L, 77777L, 99999L)
    val gotSample = got.where(col("site_id").isin(sampleIds: _*))
      .select("site_id", "point_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val allPts = (0 until nSide * nSide).map { i =>
      (i.toLong, 50.0 + (i % nSide) * 0.005, 0.0 + (i / nSide) * 0.005)
    }
    sampleIds.foreach { sid =>
      val slat = 50.005 + (sid % sSide) * 0.0015
      val slng = 0.005 + (sid / sSide) * 0.0015
      val best = allPts.map { case (pid, la, ln) =>
        (pid, GeoOps.haversineMeters(la, ln, slat, slng))
      }.minBy { case (pid, d) => (d, pid) }._1
      assert(gotSample(sid) == best, s"site $sid: got ${gotSample(sid)} expected $best")
    }
  }

  test("withinCap matches brute force") {
    val got = SpatialJoins.withinCap(Fixtures.points(spark, sf001), 51.5353, -0.1258, 1500.0)
      .select("point_id").collect().map(_.getLong(0)).toSet
    val expected = pts.collect {
      case (pid, lat, lng) if GeoOps.haversineMeters(lat, lng, 51.5353, -0.1258) < 1500.0 => pid
    }.toSet
    assert(got == expected)
  }

  test("tileAssignment matches scalar tile math") {
    val got = SpatialJoins.tileAssignment(Fixtures.points(spark, sf001), 14)
      .select("point_id", "tile_xx", "tile_yy").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val expected = pts.map { case (pid, lat, lng) =>
      (pid, GeoOps.tileX(lng, 14), GeoOps.tileY(lat, 14))
    }.toSet
    assert(got == expected)
  }

  test("tileCoverJoin covers every polygon's sampled interior points' tiles") {
    val covered = SpatialJoins.tileCoverJoin(Fixtures.polygons(spark), 14)
      .select("poly_id", "tile").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    Fixtures.convexPolygons.foreach { case (id, _, ring) =>
      val cx = ring.map(_._1).sum / ring.size
      val cy = ring.map(_._2).sum / ring.size
      val tid = GeoOps.tileId(14, GeoOps.tileX(cx, 14), GeoOps.tileY(cy, 14))
      assert(covered.contains((id, tid)), s"poly $id centroid tile missing")
    }
  }

  test("intersectionJoin finds overlapping polygons exactly") {
    val polys = Fixtures.polygons(spark, includeConcave = true)
    val a = polys.select(col("poly_id").as("id_a"), col("geom").as("ga"))
    val b = polys.select(col("poly_id").as("id_b"), col("geom").as("gb"))
    val got = SpatialJoins.intersectionJoin(a, b, "ga", "gb", level = 10)
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val geoms = (Fixtures.convexPolygons.map { case (id, _, ring) =>
      val closed = ring :+ ring.head
      (id, GeoOps.fromWkt(closed.map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")))
    } ++ Fixtures.concaveWkts.map { case (id, w) => (id, GeoOps.fromWkt(w)) })
    val expected = (for {
      (ia, ga) <- geoms; (ib, gb) <- geoms
      if ia < ib && ga.intersects(gb)
    } yield (ia, ib)).toSet
    assert(got == expected, s"got=$got expected=$expected")
  }
}
