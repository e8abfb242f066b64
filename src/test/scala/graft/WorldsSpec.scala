package graft

import graft.operators.Worlds
import graft.checkpoint.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class WorldsSpec extends SparkSuite {
  import spark.implicits._

  /** Merge many worlds, first wins on id collisions (b6 MergeFeatures order). */
  private def merge(worlds: Seq[DataFrame], idCols: Seq[String]): DataFrame = {
    val tagged = worlds.zipWithIndex.map { case (wdf, i) =>
      wdf.withColumn("__prec", lit(i))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy(idCols.map(col): _*).orderBy(col("__prec").asc)
    tagged.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "__prec")
  }

  test("overlay is last-writer-wins by id") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val delta = Seq((2L, "B"), (3L, "C")).toDF("id", "v")
    val got = Worlds.overlay(base, delta, Seq("id")).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "C")))
  }

  test("merge is first-wins across many worlds (b6 MergeFeatures order)") {
    val w1 = Seq((1L, "w1")).toDF("id", "v")
    val w2 = Seq((1L, "w2"), (2L, "w2")).toDF("id", "v")
    val got = merge(Seq(w1, w2), Seq("id")).as[(Long, String)].collect().toSet
    assert(got == Set((1L, "w1"), (2L, "w2")))
  }

  test("addTag upserts into the open tags map") {
    val f = Seq((1L, Map("#a" -> "x", "@n" -> "y"))).toDF("id", "tags")
    val added = Worlds.addTag(f, "#a", lit("z"))
    assert(added.select(col("tags")).as[Map[String, String]].head() ==
      Map("#a" -> "z", "@n" -> "y"))
  }

  test("snapshot commit + resume: stage skips recompute after a commit") {
    val root = java.nio.file.Files.createTempDirectory("snaps").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val s1 = Snapshots.commit(df, root, "features", Seq("events.parquet"))
    assert(s1.id == 0 && s1.rows == 2 && s1.files >= 1 && s1.bytes > 0)
    assert(Snapshots.latest(root).get.id == 0)
    assert(Snapshots.read(root, 0).lineage == Seq("events.parquet"))
    // resume: the stage body must NOT run again
    var ran = false
    val back = Snapshots.stage(spark, root, "features", Nil) { ran = true; df }
    assert(!ran && back.count() == 2)
    // a second commit becomes the new latest, atomically
    val s2 = Snapshots.commit(df.limit(1), root, "features", Seq("snap-0"))
    assert(s2.id == 1 && Snapshots.latest(root).get.rows == 1)
  }

  test("snapshot resume is per-table: earlier stages skip even after later commits") {
    val root = java.nio.file.Files.createTempDirectory("snaps2").toString
    val a = Seq((1L, "a")).toDF("id", "v")
    val b = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    var ranA = 0; var ranB = 0
    Snapshots.stage(spark, root, "stage_a", Nil) { ranA += 1; a }
    Snapshots.stage(spark, root, "stage_b", Seq("stage_a")) { ranB += 1; b }
    // resume the whole pipeline: NEITHER stage re-runs, no duplicate snapshots
    val backA = Snapshots.stage(spark, root, "stage_a", Nil) { ranA += 1; a }
    val backB = Snapshots.stage(spark, root, "stage_b", Seq("stage_a")) { ranB += 1; b }
    assert(ranA == 1 && ranB == 1)
    assert(backA.count() == 1 && backB.count() == 2)
    assert(Snapshots.latest(root).get.id == 1, "no duplicate snapshots appended on resume")
  }
}
