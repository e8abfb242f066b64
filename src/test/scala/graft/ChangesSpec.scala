package graft

import graft.operators.{Changes, Materialise, Relations}
import org.apache.spark.sql.functions._

/** Mutation-plane tail: add-relation/collection/expression, merge-changes,
  * changelog file round-trip (change.go:95-255), and the materialise plane
  * (materialise.go:37-176, features.go:522-537). */
class ChangesSpec extends SparkSuite {
  import spark.implicits._

  def world0 = Seq(
    ("point", "test/ns", 1L, Map("#amenity" -> "cafe", "name" -> "A"), 51.5, -0.1),
    ("point", "test/ns", 2L, Map("#amenity" -> "pub"), 51.6, -0.2),
  ).toDF("ftype", "ns", "value", "tags", "lat", "lng")
    .select(struct(col("ftype"), col("ns"), col("value")).as("id"),
      col("tags"), col("lat"), col("lng"))
    .withColumn("geom", lit(null).cast("binary"))
    .withColumn("cell16", lit(0L))
    .withColumn("covering", lit(null).cast("array<long>"))

  def refs0 = Seq.empty[(String, Long, String, Long, String, Int)]
    .toDF("from_type", "from_id", "to_type", "to_id", "role", "pos")

  test("add-relation: relation feature row + ordered members in the refs table") {
    val change = Changes.addRelation("test/rel", 9L, Map("#route" -> "bus"),
      Seq(("path", 100L, "forwards"), ("path", 101L, "backwards")))
    val (world, refs, _) = Changes.apply(spark, world0, refs0, change)
    val rel = world.where(col("id.ftype") === "relation").collect()
    assert(rel.length == 1 && rel(0).getAs[Map[String, String]]("tags")("#route") == "bus")
    val ms = Relations.members(refs, 9L).select("to_id", "role")
      .as[(Long, String)].collect().toSeq
    assert(ms == Seq((100L, "forwards"), (101L, "backwards")))
  }

  test("add-collection: collection feature + positioned items") {
    val change = Changes.addCollection("test/col", 5L, Map("@k" -> "v"),
      Seq(("a", "1"), ("b", "2")))
    val (world, _, items) = Changes.apply(spark, world0, refs0, change)
    assert(world.where(col("id.ftype") === "collection").count() == 1)
    assert(items.orderBy("pos").select("key", "item").as[(String, String)].collect().toSeq ==
      Seq(("a", "1"), ("b", "2")))
  }

  test("merge-changes + tag edits apply all at once, last-writer-wins by key") {
    val c = Changes.merge(Seq(
      Changes.tagChange("point", "test/ns", 1L, "#amenity", Some("restaurant")),
      Changes.tagChange("point", "test/ns", 2L, "name", Some("B")),
      Changes.tagChange("point", "test/ns", 1L, "name", None), // remove
    ))
    val (world, _, _) = Changes.apply(spark, world0, refs0, c)
    val tags = world.select(col("id.value"), col("tags")).collect()
      .map(r => r.getLong(0) -> r.getAs[Map[String, String]](1)).toMap
    assert(tags(1L) == Map("#amenity" -> "restaurant"))
    assert(tags(2L) == Map("#amenity" -> "pub", "name" -> "B"))
  }

  test("changes-to-file / changes-from-file round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("changes").toString
    val c = Changes.merge(Seq(
      Changes.addRelation("test/rel", 9L, Map("#route" -> "bus"), Seq(("path", 100L, "r"))),
      Changes.addCollection("test/col", 5L, Map.empty, Seq(("k", "v"))),
      Changes.addExpression("test/expr", 3L, Map.empty, "plan_x"),
      Changes.tagChange("point", "test/ns", 1L, "name", None),
    ))
    Changes.toFile(spark, c, dir)
    val back = Changes.fromFile(spark, dir)
    assert(back.adds.toSet == c.adds.toSet)
    assert(back.members.toSet == c.members.toSet)
    assert(back.items.toSet == c.items.toSet)
    assert(back.tagEdits.toSet == c.tagEdits.toSet)
  }

  test("materialise commits once and resumes from its snapshot") {
    val root = java.nio.file.Files.createTempDirectory("mat").toString
    var runs = 0
    def plan = { runs += 1; spark.range(3).toDF("n") }
    val out = Materialise.materialise(spark, root, "plan_x")(plan)
    assert(out.count() == 3 && runs == 1)
    // second materialise resumes from the snapshot, body not re-run
    Materialise.materialise(spark, root, "plan_x")(plan)
    assert(runs == 1)
  }

  test("materialise-map fans out per key; list-feature prunes to one partition") {
    val root = java.nio.file.Files.createTempDirectory("matmap").toString
    val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val out = Materialise.materialiseMap(spark, root, "by_k", "k")(df)
    assert(out.count() == 3)
    val one = Materialise.listFeature(spark, root, "by_k", "k", "a")
    assert(one.select("v").as[Int].collect().toSet == Set(1, 2))
    // partition pruning: the scan carries a partition filter on k
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("= a)"), plan)
  }
}
