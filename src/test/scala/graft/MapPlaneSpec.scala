package graft

import graft.operators.Aggs
import org.apache.spark.sql.functions._

/** The map-plane scalar idioms (SURVEY §2.B projections): pair/first/second,
  * tag/value/int-value/float-value, get-string/int/float, count-keys,
  * count-valid-ids, apply-to-point/path/area, matches — each a thin Column
  * mapping (api/functions/map.go:140-152, features.go:108-174, :212-219,
  * geojson.go:159-213, math.go:125-140). */
class MapPlaneSpec extends SparkSuite {
  import spark.implicits._

  test("pair/first/second are struct construction and field access (map.go:140-152)") {
    val df = Seq(("k1", 7L)).toDF("k", "v")
      .withColumn("pair", struct(col("k").as("first"), col("v").as("second")))
    val r = df.select(col("pair.first"), col("pair.second")).head()
    assert(r.getString(0) == "k1" && r.getLong(1) == 7L)
  }

  test("tag construct + value/int-value/float-value casts (features.go:108-127)") {
    val df = Seq(("height", "12.5")).toDF("k", "v")
      .withColumn("tag", named_struct(lit("key"), col("k"), lit("value"), col("v")))
    // ANSI mode: int-value of a non-int string is null via try_cast (b6's
    // get-int returns invalid there, features.go:152-160)
    val r = df.select(col("tag.value"), col("tag.value").cast("double"),
      col("tag.value").try_cast("int")).head()
    assert(r.getString(0) == "12.5" && r.getDouble(1) == 12.5 && r.isNullAt(2))
  }

  test("get-string/int/float read tags with cast-on-read (features.go:131-174)") {
    val df = Seq(Map("height" -> "3", "name" -> "x")).toDF("tags")
    val r = df.select(
      col("tags").getItem("name"),
      col("tags").getItem("height").cast("long"),
      col("tags").getItem("height").cast("double"),
      col("tags").getItem("missing")).head()
    assert(r.getString(0) == "x" && r.getLong(1) == 3L && r.getDouble(2) == 3.0 && r.isNullAt(3))
  }

  test("count-keys and count-valid-ids (collections.go:329-352, math.go:125-140)") {
    val df = Seq(("a", 1L), ("a", -1L), ("b", 2L)).toDF("key", "id")
    val ck = Aggs.countValues(df, "key").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ck == Map("a" -> 2L, "b" -> 1L))
    val validIds = df.where(col("id") >= 0).count()
    assert(validIds == 2)
  }

  test("apply-to-point/path/area gates a transform by geometry type (geojson.go:159-213)") {
    val types = Seq("point", "path", "area")
    val world = types.zipWithIndex.map { case (t, i) => (t, i.toLong, Map("name" -> s"n-$t")) }
      .toDF("ftype", "value", "tags")
      .select(struct(col("ftype"), lit("graft/test").as("ns"), col("value")).as("id"), col("tags"))
    for (t <- types) {
      val out = graft.shell.Shell.runDf(world, s"""find (all) | apply-to-$t {f -> get-string f "name"}""")
        .select("id.ftype", "value").collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
      assert(out == types.map(u => u -> Option.when(u == t)(s"n-$u")).toMap, s"apply-to-$t: $out")
    }
  }

  test("matches: a Query as a boolean column over features (features.go:202-207)") {
    import graft.query._
    val df = Seq(Map("#amenity" -> "cafe"), Map("#shop" -> "bakery"))
      .toDF("tags")
    // a missing tag makes the raw predicate null; `matches` is the
    // three-valued predicate collapsed to boolean (b6 Matches returns false)
    val got = df.select(coalesce(Tagged("#amenity", "cafe").toColumn, lit(false)))
      .as[Boolean].collect().toSeq
    assert(got == Seq(true, false))
  }
}
