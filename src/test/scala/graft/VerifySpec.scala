package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Verify.dump reports failures instead of swallowing them, and still
  * writes everything that succeeded. */
class VerifySpec extends SparkSuite {
  test("dump returns the query and the dynamic oracles that threw, and writes the rest") {
    val out = Files.createTempDirectory("graft-verify").toString
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok" -> ((s, _) => s.range(3).toDF("id")),
      "broken" -> ((_, _) => throw new IllegalStateException("broken query")))
    val failures = Verify.dump(spark, sf001, out, queries, Map("ok" -> "SELECT 1"),
      (_, _) => throw new IllegalStateException("broken oracle"))
    assert(failures.map { case (name, e) => name -> e.getMessage } ==
      Seq("broken" -> "broken query", "oracleSqlDynamic" -> "broken oracle"))
    assert(spark.read.parquet(s"$out/ok").count() == 3)
    assert(!Files.exists(Paths.get(out, "broken")))
    assert(Files.readString(Paths.get(out, "oracle_sql.json")) == """{"ok": "SELECT 1"}""")
  }
}
