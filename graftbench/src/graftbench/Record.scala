package graftbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Records the inventory's expected outputs: prints one
  * `name<TAB>rows<TAB>hash` line per query, dumps each output as parquet under
  * `dumpDir/<name>`, and writes the queries' DuckDB oracles to
  * `dumpDir/oracle_sql.json` for graftbench/record.py to cross-check.
  * args: sfDir dumpDir nproc */
object Record {
  def main(argv: Array[String]): Unit = {
    val Array(sf, dump, nproc) = argv
    val spark = SparkSession.builder().master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$dump/spark-local")
      .config("spark.sql.warehouse.dir", s"$dump/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Inventory.Queries.foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      val (rows, h) = Inputs.contentHash(df)
      println(s"$q\t$rows\t$h")
      SparkEntry.queries(q)(spark, sf).coalesce(1).write.mode("overwrite").parquet(s"$dump/$q")
    }
    val oracles = (SparkEntry.oracleSql ++ SparkEntry.oracleSqlDynamic(spark, sf))
      .filter { case (k, _) => Inventory.Queries.contains(k) }
    val json = oracles.map { case (k, v) => s""""${Json.esc(k)}": "${Json.esc(v.replace("\t", " "))}"""" }
      .mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dump, "oracle_sql.json"), json)
    spark.stop()
  }
}
