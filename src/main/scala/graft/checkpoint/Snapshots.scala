package graft.checkpoint

import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/**
 * Snapshot-checkpointed table commits — the resumability layer of the north
 * rule ("every stage resumable from snapshot checkpoints with per-partition
 * lineage and row-count/byte metrics").
 *
 * No Iceberg runtime jar ships in this environment, so this is an honest
 * Iceberg-LIKE layer over Parquet: each commit writes data to an immutable
 * `data/<snapshotId>/` directory, counts its rows, files and bytes, writes a
 * manifest JSON, and atomically renames
 * `_snapshots/<n>.json.tmp` -> `.json` (the commit point, mirroring the
 * reference's canary-overlay transactional apply,
 * src/diagonal.works/b6/ingest/change.go:158-184).
 *
 * Resume: `latest()` returns the last committed snapshot; a stage whose
 * snapshot exists is skipped and its output read back — so a killed pipeline
 * restarts from the last commit, not from zero.
 */
object Snapshots {

  case class Snapshot(id: Long, table: String, dataPath: String, rows: Long,
                      bytes: Long, files: Int, lineage: Seq[String])

  private def snapsDir(root: String): Path = Paths.get(root, "_snapshots")

  /** Committed snapshot ids, oldest first (stream closed eagerly — repeated
    * commits must not leak file descriptors). */
  private def committedIds(root: String): Seq[Long] = {
    val dir = snapsDir(root)
    if (!Files.exists(dir)) return Nil
    val stream = Files.list(dir)
    try {
      stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json").toLong).toSeq.sorted
    } finally stream.close()
  }

  def latest(root: String): Option[Snapshot] =
    committedIds(root).lastOption.map(id => read(root, id))

  /** Newest committed snapshot for a given table — the resume lookup: in a
    * multi-stage pipeline an earlier stage's snapshot is found even when later
    * stages have committed on top of it. */
  def latestFor(root: String, table: String): Option[Snapshot] =
    committedIds(root).reverseIterator.map(id => read(root, id))
      .find(_.table == table)

  def read(root: String, id: Long): Snapshot = {
    val json = Files.readString(snapsDir(root).resolve(s"$id.json"))
    def field(k: String): String = {
      val m = ("\"" + k + "\"\\s*:\\s*(\"[^\"]*\"|[0-9]+)").r.findFirstMatchIn(json)
      m.map(_.group(1).stripPrefix("\"").stripSuffix("\"")).getOrElse("")
    }
    val lineage = "\"lineage\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(json)
      .map(_.group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    Snapshot(field("id").toLong, field("table"), field("dataPath"),
      field("rows").toLong, field("bytes").toLong, field("files").toInt, lineage)
  }

  /**
   * Commit `df` as the next snapshot of `root`. Returns the snapshot. The data
   * write and metric collection happen BEFORE the manifest rename; a crash at
   * any earlier point leaves the previous snapshot intact and the orphan data
   * directory ignorable.
   */
  def commit(df: DataFrame, root: String, table: String,
             lineage: Seq[String]): Snapshot = {
    val id = latest(root).map(_.id + 1).getOrElse(0L)
    val dataPath = Paths.get(root, "data", id.toString).toString
    df.write.mode("overwrite").parquet(dataPath)
    commitExisting(df.sparkSession, root, table, dataPath, lineage)
  }

  /** Commit a manifest over data ALREADY written to `dataPath` (used by
    * partitioned writes like materialise-map, where the layout is chosen by
    * the writer). Same atomic-rename commit point as `commit`. */
  def commitExisting(spark: SparkSession, root: String, table: String,
                     dataPath: String, lineage: Seq[String]): Snapshot = {
    val id = latest(root).map(_.id + 1).getOrElse(0L)
    val dataDir = Paths.get(dataPath)
    val files = {
      val stream = Files.walk(dataDir)
      try stream.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      finally stream.close()
    }
    val bytes = files.map(Files.size).sum
    val rows = spark.read.parquet(dataPath).count()
    val snap = Snapshot(id, table, dataPath, rows, bytes, files.size, lineage)
    Files.createDirectories(snapsDir(root))
    val manifest =
      s"""{"id":$id,"table":"$table","dataPath":"$dataPath","rows":$rows,
         |"bytes":$bytes,"files":${files.size},
         |"lineage":[${lineage.map(l => "\"" + l + "\"").mkString(",")}]}""".stripMargin
    val tmp = snapsDir(root).resolve(s"$id.json.tmp")
    Files.writeString(tmp, manifest)
    Files.move(tmp, snapsDir(root).resolve(s"$id.json"), StandardCopyOption.ATOMIC_MOVE)
    snap
  }

  /** Run `stage` unless its output snapshot already exists (resume path):
    * ANY committed snapshot of `table` is reused, so resuming a multi-stage
    * pipeline skips every stage that already committed instead of re-running
    * and re-appending the earlier ones. */
  def stage(spark: SparkSession, root: String, table: String,
            lineage: Seq[String])(body: => DataFrame): DataFrame = {
    latestFor(root, table) match {
      case Some(s) =>
        spark.read.parquet(s.dataPath)
      case None =>
        val snap = commit(body, root, table, lineage)
        spark.read.parquet(snap.dataPath)
    }
  }
}
