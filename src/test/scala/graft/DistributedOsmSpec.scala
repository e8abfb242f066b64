package graft

import graft.sources.OsmWorld
import org.apache.spark.sql.functions._

/** The distributed (blob-parallel decode + join assembly) ingest must produce
  * EXACTLY the rows of the driver-side parse — same ids, tags, coordinates and
  * geometry bytes (reference: block-parallel PBF decode, osm/pbf.go:123-160). */
class DistributedOsmSpec extends SparkSuite {

  lazy val pbf = RefData("granary-square.osm.pbf")

  private def keyed(df: org.apache.spark.sql.DataFrame) =
    df.select(
      concat_ws("/", col("id.ftype"), col("id.ns"), col("id.value")).as("k"),
      col("tags"), col("lat"), col("lng"), col("geom"))

  test("featuresDistributed is row-identical to the driver parse (granary)") {
    val a = keyed(OsmWorld.features(spark, pbf)).collect()
      .map(r => r.getString(0) -> (r.getAs[Map[String, String]](1), r.getDouble(2),
        r.getDouble(3), r.getAs[Array[Byte]](4).toSeq)).toMap
    val b = keyed(OsmWorld.featuresDistributed(spark, pbf)).collect()
      .map(r => r.getString(0) -> (r.getAs[Map[String, String]](1), r.getDouble(2),
        r.getDouble(3), r.getAs[Array[Byte]](4).toSeq)).toMap
    assert(a.keySet == b.keySet,
      s"missing=${(a.keySet -- b.keySet).take(5)} extra=${(b.keySet -- a.keySet).take(5)}")
    a.foreach { case (k, v) =>
      assert(b(k) == v, s"row $k differs: driver=${v._2},${v._3} dist=${b(k)._2},${b(k)._3}")
    }
  }

  test("camden type counts match via the distributed path") {
    val camden = RefData("camden.osm.pbf")
    val a = OsmWorld.features(spark, camden)
      .groupBy(col("id.ftype")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = OsmWorld.featuresDistributed(spark, camden)
      .groupBy(col("id.ftype")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b, s"driver=$a distributed=$b")
  }
}
