package graft

import graft.checkpoint.Snapshots
import graft.model.Fixtures
import graft.operators.SpatialJoins
import org.apache.spark.sql.functions._

/** The staged flagship pipeline vs the north rule's resumability contract:
  * every stage commits a snapshot (rows / bytes / per-partition lineage) and
  * a re-entered run resumes from the last commit instead of recomputing. */
class PipelineSpec extends SparkSuite {

  private val n = 20000L

  test("first run computes all stages and records per-stage metrics + lineage") {
    val root = java.nio.file.Files.createTempDirectory("graft-pipe").toString
    val reports = Pipeline.run(spark, root, n, partitions = 8)
    assert(reports.map(_.table) == Seq("decode", "images", "pip", "tiles"))
    // the decode stage records the per-row invariant results
    val decodeSnap = Snapshots.latestFor(root, "decode").get
    val dec = spark.read.parquet(decodeSnap.dataPath)
    assert(dec.where(col("psnr_ok") && col("decoded_ok")).count() == dec.count(),
      "every decoded image must meet the PSNR >= 40 dB / decoded_ok invariant")
    assert(reports.forall(r => !r.reused && r.rows > 0 && r.bytes > 0 && r.files > 0))
    assert(reports.find(_.table == "pip").get.lineage == Seq("images"))
    assert(reports.find(_.table == "decode").get.lineage == Seq("fixtures:images"))
    assert(reports.find(_.table == "tiles").get.lineage == Seq("pip"))

    // a second entry RESUMES every stage: bodies don't re-run, rows identical
    val again = Pipeline.run(spark, root, n, partitions = 8)
    assert(again.forall(_.reused))
    assert(again.map(r => r.table -> r.rows).toMap == reports.map(r => r.table -> r.rows).toMap)
  }

  test("a run killed between stages resumes from the last commit (work lost <= one stage)") {
    val root = java.nio.file.Files.createTempDirectory("graft-pipe-kill").toString
    // simulate a run that committed stage 1 then died: only `images` exists
    Snapshots.stage(spark, root, "images", Seq("fixtures:imagesMeta")) {
      Fixtures.imagesMeta(spark, n, 8)
    }
    val reports = Pipeline.run(spark, root, n, partitions = 8)
    assert(reports.find(_.table == "images").get.reused, "stage 1 must be skipped")
    assert(!reports.find(_.table == "pip").get.reused && !reports.find(_.table == "tiles").get.reused)

    // resumed output equals the direct (unstaged) computation
    val tilesSnap = Snapshots.latestFor(root, "tiles").get
    val resumed = spark.read.parquet(tilesSnap.dataPath)
      .select("tile_xx", "tile_yy", "poly_id", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val direct = {
      val images = Fixtures.imagesMeta(spark, n, 8)
      val pip = SpatialJoins.pointInPolygonJoin(images, Fixtures.polygons(spark))
      SpatialJoins.tileAssignment(pip, 14)
        .groupBy(col("tile_xx"), col("tile_yy"), col("poly_id"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    }
    assert(resumed == direct, s"resumed=${resumed.size} direct=${direct.size}")
  }

  test("corpus pipeline: dedup -> split -> pack commits, resumes, and stays consistent") {
    val root = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val docs = (0L until 300L).map { i =>
      // 60 duplicate texts planted: ids 200..259 repeat texts 0..59
      val tid = if (i >= 200 && i < 260) i - 200 else i
      (i, s"tok${tid % 7} doc $tid body " + ("x " * (tid % 5).toInt).trim)
    }.toSeq
    import spark.implicits._
    val df = docs.toDF("doc_id", "text").repartition(6)
    val reports = Pipeline.runCorpus(spark, root, df)
    assert(reports.map(_.table) == Seq("corpus_clean", "corpus_split", "corpus_pack"))
    assert(reports.forall(r => !r.reused && r.rows > 0))
    // clean keeps exactly one row per distinct text
    val distinctTexts = docs.map(_._2).distinct.size
    assert(reports.find(_.table == "corpus_clean").get.rows == distinctTexts)
    // splits partition the clean set
    val splitSnap = Snapshots.latestFor(root, "corpus_split").get
    val split = spark.read.parquet(splitSnap.dataPath)
    assert(split.count() == distinctTexts &&
      split.select("split").distinct().collect().map(_.getString(0)).toSet
        .subsetOf(Set("train", "val", "test")))
    // the pack plan covers exactly the train split, contiguously
    val packSnap = Snapshots.latestFor(root, "corpus_pack").get
    val pack = spark.read.parquet(packSnap.dataPath)
    val trainN = split.where(col("split") === "train").count()
    assert(pack.count() == trainN)
    assert(reports.find(_.table == "corpus_pack").get.lineage == Seq("corpus_split"))
    // re-entry resumes all three stages with identical rows
    val again = Pipeline.runCorpus(spark, root, df)
    assert(again.forall(_.reused) &&
      again.map(r => r.table -> r.rows) == reports.map(r => r.table -> r.rows))
  }
}
