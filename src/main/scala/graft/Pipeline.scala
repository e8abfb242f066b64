package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.Snapshots
import graft.model.{Fixtures, Tables}
import graft.operators.SpatialJoins

/**
 * The flagship job as a RESUMABLE staged pipeline — the north rule's
 * "every stage resumable from snapshot checkpoints with per-partition
 * lineage and row-count/byte metrics", concretely:
 *
 *   stage `images`  — image-table scan + cell index (the ingest surface)
 *   stage `pip`     — point-in-polygon covering join against the feature side
 *   stage `tiles`   — zoom-14 tile assignment + per-(tile, polygon) counts
 *
 * Each stage commits through [[Snapshots]]: data lands in an immutable
 * directory, the manifest records rows / bytes / per-partition file sizes /
 * upstream lineage, and the atomic manifest rename is the commit point. A
 * killed run re-entered with the same root SKIPS every committed stage and
 * reads its output back — `Snapshots.stage` is the resume path, so the work
 * lost is bounded by one stage, never the pipeline.
 *
 * args: root [nRows]. Prints one line per stage: reused or computed + metrics.
 */
object Pipeline {

  case class StageReport(table: String, reused: Boolean, rows: Long,
                         bytes: Long, files: Int, lineage: Seq[String])

  private def stagedRunner(spark: SparkSession, root: String,
      reports: scala.collection.mutable.Builder[StageReport, Seq[StageReport]])(
      table: String, lineage: Seq[String])(body: => DataFrame): DataFrame = {
    val before = Snapshots.latestFor(root, table)
    val out = Snapshots.stage(spark, root, table, lineage)(body)
    val snap = Snapshots.latestFor(root, table).get
    reports += StageReport(table, before.isDefined, snap.rows, snap.bytes,
      snap.files, snap.lineage)
    out
  }

  /** Run (or resume) the staged flagship; returns per-stage reports. */
  def run(spark: SparkSession, root: String, nRows: Long,
          partitions: Int = 32): Seq[StageReport] = {
    val reports = Seq.newBuilder[StageReport]
    def staged(table: String, lineage: Seq[String])(body: => DataFrame): DataFrame =
      stagedRunner(spark, root, reports)(table, lineage)(body)

    // decode stage: the north rule's per-row invariant (each image decoded
    // ONCE; PSNR >= 40 dB for lossy, caption byte-equality) recorded as a
    // committed table — the payload-bearing slice of the run (decode cost
    // scales with bytes, so it samples; the metadata stages run at nRows)
    staged("decode", Seq("fixtures:images")) {
      graft.operators.ImageOps.decodeFeatures(
        Fixtures.images(spark, math.min(nRows, 5000L))).toDF()
        .select(col("image_id"), col("w"), col("h"), col("fmt"),
          (col("psnr_db") >= 40.0).as("psnr_ok"), col("caption"), col("decoded_ok"))
    }
    val images = staged("images", Seq("fixtures:imagesMeta")) {
      Fixtures.imagesMeta(spark, nRows, partitions)
    }
    val polygons = Fixtures.polygons(spark) // feature side: index-build artifact
    val pip = staged("pip", Seq("images")) {
      SpatialJoins.pointInPolygonJoin(images, polygons)
        .select(col("image_id"), col("poly_id"), col("lat"), col("lng"), col("cell16"))
    }
    staged("tiles", Seq("pip")) {
      SpatialJoins.tileAssignment(pip, 14)
        .groupBy(col("tile_xx"), col("tile_yy"), col("poly_id"))
        .agg(count(lit(1)).as("n"))
    }
    reports.result()
  }

  /**
   * The training-corpus preparation flow under the SAME resumability
   * contract — the north rule's checkpoint/lineage discipline applied to the
   * pipeline-operator plane:
   *
   *   stage `corpus_clean` — exact-dedup keepers (one row per distinct text)
   *   stage `corpus_split` — deterministic 80/10/10 train/val/test
   *   stage `corpus_pack`  — 256-token packing plan over the train split
   *
   * Each stage's snapshot lineage names its upstream table, so a resumed run
   * skips committed stages and the chunk plan is traceable back through the
   * split to the dedup decision that admitted each document.
   */
  def runCorpus(spark: SparkSession, root: String,
                documents: DataFrame): Seq[StageReport] = {
    import graft.operators.TextOps
    val reports = Seq.newBuilder[StageReport]
    def staged(table: String, lineage: Seq[String])(body: => DataFrame): DataFrame =
      stagedRunner(spark, root, reports)(table, lineage)(body)
    val clean = staged("corpus_clean", Seq("documents")) {
      val keep = TextOps.dedupExact(documents, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      documents.join(keep, "doc_id")
    }
    val split = staged("corpus_split", Seq("corpus_clean")) {
      TextOps.hashSplit(clean, "doc_id",
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
        .select(col("doc_id"), col("text"), col("split"))
    }
    staged("corpus_pack", Seq("corpus_split")) {
      TextOps.packPlan(
        TextOps.tokenCount(split.where(col("split") === "train"), "text"),
        "doc_id", "n_tokens", 256)
    }
    reports.result()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("corpus")) {
      val root = args.lift(1).getOrElse("/tmp/graft-corpus-pipeline")
      val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.01")
      val spark = LocalSpark("graft-corpus-pipeline")
      val docs = Tables.read(spark, s"$sfDir/documents.parquet")
      runCorpus(spark, root, docs).foreach { r =>
        println(s"[pipeline] ${r.table}: ${if (r.reused) "RESUMED" else "computed"} " +
          s"rows=${r.rows} bytes=${r.bytes} files=${r.files} lineage=${r.lineage.mkString(",")}")
      }
      spark.stop()
      return
    }
    val root = args.headOption.getOrElse("/tmp/graft-pipeline")
    val n = args.lift(1).map(_.toLong).getOrElse(1000000L)
    val spark = LocalSpark("graft-pipeline")
    run(spark, root, n).foreach { r =>
      println(s"[pipeline] ${r.table}: ${if (r.reused) "RESUMED" else "computed"} " +
        s"rows=${r.rows} bytes=${r.bytes} files=${r.files} lineage=${r.lineage.mkString(",")}")
    }
    spark.stop()
  }
}
