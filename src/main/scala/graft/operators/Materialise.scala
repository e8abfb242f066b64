package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.checkpoint.Snapshots

/**
 * materialise / materialise-map / list-feature — storing a computed
 * collection under the name of the expression that defines it
 * (src/diagonal.works/b6/api/functions/materialise.go:37-176,
 * api/functions/features.go:522-528).
 *
 * Spark mapping (SURVEY §1.6): a CollectionFeature is a committed snapshot
 * table, and the body is the collection an expression feature's stored
 * `expression` tag evaluates to (the shell does that evaluation).
 * materialise-map's per-feature fan-out becomes a `partitionBy(key)` write —
 * each key's rows land in their own directory, so `listFeature(key)` reads
 * one partition with partition pruning, not a scan.
 */
object Materialise {

  /**
   * materialise (materialise.go:37-80): evaluate `body` once and commit the
   * result as the snapshot table `name`; a later call reads it back.
   */
  def materialise(spark: SparkSession, root: String, name: String)(body: => DataFrame): DataFrame =
    Snapshots.stage(spark, root, name, Seq(s"expression:$name"))(body)

  /**
   * materialise-map (materialise.go:83-152): evaluate a keyed plan and
   * persist PER KEY — one partition directory per key value.
   */
  def materialiseMap(spark: SparkSession, root: String, name: String,
                     keyCol: String)(body: => DataFrame): DataFrame = {
    val existing = Snapshots.latestFor(root, name)
    if (existing.isDefined) return spark.read.parquet(existing.get.dataPath)
    val df = body
    val id = Snapshots.latest(root).map(_.id + 1).getOrElse(0L)
    val dataPath = java.nio.file.Paths.get(root, "data", id.toString).toString
    df.write.mode("overwrite").partitionBy(keyCol).parquet(dataPath)
    // commit through the snapshot manifest (atomic rename = the commit point)
    Snapshots.commitExisting(spark, root, name, dataPath, Seq(s"map:$keyCol"))
    spark.read.parquet(dataPath)
  }

  /** list-feature (features.go:522-528): read one materialised key back —
    * partition pruning makes this a single-directory read. */
  def listFeature(spark: SparkSession, root: String, name: String,
                  keyCol: String, key: String): DataFrame =
    spark.read.parquet(Snapshots.latestFor(root, name).get.dataPath)
      .where(col(keyCol) === key)
}
