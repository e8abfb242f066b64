package graft.model

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * The one reader of the sf parquet tables. `spark.read.parquet(path)` runs a
 * schema-inference Spark job on every call (70-115 ms warm on 4 cores, against
 * 14-20 ms for a read with the schema given), so this infers a file's schema
 * once per session and reads it with that schema afterwards. The schema is
 * keyed by the path, its length and its modification time: a rewritten file
 * is inferred again.
 */
object Tables {

  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[(String, Long, Long), StructType]]()

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** `spark.read.parquet(path).schema`, inferred once per session and file version. */
  def schema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    // a directory's own length is 0: key it by the bytes it holds
    val length = if (st.isDirectory) fs.getContentSummary(p).getLength else st.getLen
    val perSession = schemas.synchronized(
      schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap()))
    perSession.computeIfAbsent((st.getPath.toString, length, st.getModificationTime),
      _ => spark.read.parquet(path).schema)
  }
}
