package graft

import graft.sources.Gtfs
import org.apache.spark.sql.functions._

/** GTFS ingest vs the reference's own manchester goldens
  * (ingest/gtfs/gtfs_test.go:24-69). */
class GtfsSpec extends SparkSuite {
  import spark.implicits._

  lazy val dir = RefData("gtfs-manchester")

  test("GTFS STOP golden: Parsonage (1800NB04091) at 53.48348,-2.24705 (gtfs_test.go:31-34)") {
    val s = Gtfs.stops(spark, dir).where(col("stop_id") === "1800NB04091")
      .select("lat", "lng").as[(Double, Double)].collect()
    assert(s.length == 1)
    assert(math.abs(s(0)._1 - 53.48348) < 1e-6 && math.abs(s(0)._2 - -2.24705) < 1e-6)
  }

  test("GTFS CONNECTION golden: Victoria Stn Approach -> Parsonage peak 180 / off-peak 120 (gtfs_test.go:46-69)") {
    val c = Gtfs.connections(spark, dir)
      .where(col("from_stop") === "1800NB04431" && col("to_stop") === "1800NB04091")
      .select(col("peak_s").cast("long"), col("offpeak_s").cast("long"))
      .as[(Long, Long)].collect()
    assert(c.length == 1, s"expected one connection, got ${c.length}")
    assert(c(0) == ((180L, 120L)), s"got ${c(0)}")
  }

  test("transit edges are directed and reachable through the network") {
    val edges = Gtfs.transitEdges(spark, dir, peakTraffic = false)
    assert(edges.count() > 0)
    val stops = Gtfs.stops(spark, dir)
    val victoria = stops.where(col("stop_id") === "1800NB04431")
      .select("node_id").as[Long].head()
    val d = graft.operators.Graph.reachable(edges, Seq(victoria).toDF("origin"), 3600.0)
    // off-peak Victoria -> Parsonage = 120s, within the hour budget
    val parsonage = stops.where(col("stop_id") === "1800NB04091")
      .select("node_id").as[Long].head()
    val reached = d.select("node", "dist_m").as[(Long, Double)].collect().toMap
    assert(reached.contains(parsonage) && reached(parsonage) == 120.0)
    assert(reached.size > 2, "the search continues through downstream stops")
  }
}
