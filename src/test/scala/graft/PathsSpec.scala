package graft

import graft.core.GeoOps
import graft.operators.{Graph, Paths}
import graft.streaming.Streaming
import org.apache.spark.sql.functions._

class PathsSpec extends SparkSuite {
  import spark.implicits._

  /** Backtrace one route from the parent-pointer table (driver-side walk over
    * the collected per-origin parents — routes are short). */
  private def backtrace(parents: Map[Long, Long], origin: Long, target: Long): Seq[Long] = {
    val out = Seq.newBuilder[Long]
    var cur = target
    var guard = 0
    while (cur != origin && guard < 100000) {
      out += cur
      cur = parents.getOrElse(cur, origin)
      guard += 1
    }
    out += origin
    out.result().reverse
  }

  test("points explodes vertices in order") {
    val wkb = GeoOps.toWkb(GeoOps.fromWkt("LINESTRING (-0.12 51.5, -0.11 51.51, -0.10 51.52)"))
    val df = Seq((1L, wkb)).toDF("fid", "geom")
    val got = Paths.points(df).select("vertex_idx", "vlat", "vlng").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq((0, 51.5, -0.12), (1, 51.51, -0.11), (2, 51.52, -0.10)))
  }

  test("samplePointsAlongPaths dedups across paths") {
    val w1 = GeoOps.toWkb(GeoOps.fromWkt("LINESTRING (-0.12 51.5, -0.12 51.51)"))
    val df = Seq((1L, w1), (2L, w1)).toDF("fid", "geom") // identical paths
    val n1 = Paths.samplePointsAlongPaths(df.limit(1), 200.0).count()
    val n2 = Paths.samplePointsAlongPaths(df, 200.0).count()
    assert(n1 == n2, "identical paths must dedup to the same sample set")
  }

  test("joinPaths concatenates with endpoint-aware reversal") {
    val a = GeoOps.toWkb(GeoOps.fromWkt("LINESTRING (0 0, 1 1)"))
    val b = GeoOps.toWkb(GeoOps.fromWkt("LINESTRING (2 2, 1 1)")) // shares endpoint reversed
    val joined = GeoOps.fromWkb(Paths.joinPaths(a, b)).getCoordinates
    assert(joined.length == 3)
    assert(joined(0).x == 0 && joined(1).x == 1 && joined(2).x == 2)
  }

  test("accessible-routes: parent pointers reconstruct a valid shortest route") {
    val (_, edges) = Graph.syntheticGrid(spark, 10)
    val parentsDf = Graph.reachableWithParents(edges, Seq(0L).toDF("origin"), 2000.0)
    val rows = parentsDf.select("node", "dist_m", "parent").collect()
      .map(r => (r.getLong(0), r.getDouble(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    val dist = rows.map(r => r._1 -> r._2).toMap
    val parents = rows.collect { case (n, _, p) if p >= 0 => n -> p }.toMap
    // pick the farthest reached node; walking parents must reach the origin
    // with strictly decreasing distance
    val far = rows.maxBy(_._2)._1
    val route = backtrace(parents, 0L, far)
    assert(route.head == 0L && route.last == far)
    route.sliding(2).foreach { case Seq(a, b) =>
      assert(dist(a) < dist(b), s"distance must increase along the route at $a->$b")
    }
  }

  test("snapAreaEdges moves vertices onto nearby paths, leaves far vertices") {
    val area = GeoOps.toWkb(GeoOps.fromWkt(
      "POLYGON ((-0.1300 51.5300, -0.1200 51.5300, -0.1200 51.5400, -0.1300 51.5400, -0.1300 51.5300))"))
    // a path running just east of the polygon's east edge (~22m away)
    val path = GeoOps.toWkb(GeoOps.fromWkt("LINESTRING (-0.11968 51.5250, -0.11968 51.5450)"))
    val areas = Seq((1L, area)).toDF("poly_id", "geom")
    val paths = Seq(Tuple1(path)).toDF("geom")
    val out = Paths.snapAreaEdges(areas, paths, 50.0).collect()
    assert(out.length == 1)
    val snapped = GeoOps.fromWkb(out(0).getAs[Array[Byte]]("geom")).getCoordinates
    // east-edge vertices snapped onto the path longitude; west vertices unchanged
    assert(snapped.count(c => math.abs(c.x - (-0.11968)) < 1e-9) >= 2, snapped.mkString(";"))
    assert(snapped.count(c => math.abs(c.x - (-0.1300)) < 1e-9) >= 2)
  }

  test("stateful sessionization equals the batch window plan") {
    val ev = spark.read.parquet(s"$sf001/events.parquet")
    val batch = Streaming.sessionize(ev)
      .select(col("user_id"), col("session_idx"), col("n_events"),
        unix_micros(col("t_start").cast("timestamp")).as("s"),
        unix_micros(col("t_end").cast("timestamp")).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // the stateful fold over the collected events: per user, in time order, a new
    // session after a gap of more than 30 minutes
    val gap = 30L * 60000000L
    val stateful = ev.select(col("user_id"), unix_micros(col("ts").cast("timestamp")))
      .as[(Long, Long)].collect().groupBy(_._1).toSeq.flatMap { case (user, evs) =>
        val ts = evs.map(_._2).sorted
        val starts = 0 +: (1 until ts.length).filter(i => ts(i) - ts(i - 1) > gap)
        starts.indices.map { k =>
          val end = if (k + 1 < starts.length) starts(k + 1) else ts.length
          (user, k.toLong, (end - starts(k)).toLong, ts(starts(k)), ts(end - 1))
        }
      }.toSet
    assert(stateful == batch && batch.nonEmpty)
  }
}
