package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → sorted parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Exits non-zero,
  * naming each failure, when any query or the dynamic oracle set fails. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSpark("graft-verify")
    val failures = try dump(spark, sfDir, outDir, SparkEntry.queries,
      SparkEntry.oracleSql, SparkEntry.oracleSqlDynamic) finally spark.stop()
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} failed: ${failures.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }

  /** One partition sorted by every orderable column in schema order, so a
    * query's dump holds its rows in one order whatever order they come in,
    * with no range-sampling job. `repartition(1)`, not `coalesce(1)`: a
    * coalesce would run the query's last stage as one task. */
  private def sorted(df: DataFrame): DataFrame =
    df.repartition(1).sortWithinPartitions(df.schema.fields.collect {
      case f if RowOrdering.isOrderable(f.dataType) => df.col(s"`${f.name}`")
    }.toSeq: _*)

  /** Writes each query's result to `outDir/<name>` and the static plus
    * dynamic oracle SQL to `outDir/oracle_sql.json`. A failing query is
    * logged and skipped, and failing dynamic oracles leave the static ones;
    * returns each failure as (query name or "oracleSqlDynamic", error). */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           queries: Map[String, (SparkSession, String) => DataFrame],
           oracleSql: Map[String, String],
           oracleSqlDynamic: (SparkSession, String) => Map[String, String]): Seq[(String, Throwable)] = {
    new java.io.File(outDir).mkdirs()
    val failures = Seq.newBuilder[(String, Throwable)]
    def failed(name: String, e: Throwable): Unit = {
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      failures += name -> e
    }
    queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        sorted(fn(spark, sfDir)).write.mode("overwrite").parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable => failed(name, e) }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // static oracles + the data-dependent ones (driver-computed literals,
    // e.g. the trained-IVF codebook) built against the SAME sfDir
    val dynamic = try oracleSqlDynamic(spark, sfDir) catch {
      case e: Throwable => failed("oracleSqlDynamic", e); Map.empty[String, String]
    }
    val json = (oracleSql ++ dynamic)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failures.result()
  }
}
