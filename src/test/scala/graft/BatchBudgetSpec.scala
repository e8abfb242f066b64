package graft

import graft.model.{Fixtures, Tables}

/** Spark jobs per batch query and per sf table read, counted with
  * [[JobCount]] over sf0.001 at the test session's parallelism. */
class BatchBudgetSpec extends SparkSuite {
  import spark.implicits._

  /** Jobs a warm build-and-run of `name` starts: built and run once first
    * (the table schemas are then known), then counted over the second build
    * and its no-op write, as one benchmark pass runs it. */
  private def warmJobs(name: String): Int = {
    def run(): Unit = SparkEntry.queries(name)(spark, sf001).write.format("noop").mode("overwrite").save()
    run()
    JobCount(spark)(run())._2
  }

  test("batch budget: reading the same sf table a second time starts no Spark job") {
    Fixtures.points(spark, sf001)
    val (points, jobs) = JobCount(spark)(Fixtures.points(spark, sf001))
    assert(jobs == 0, s"$jobs jobs")
    assert(points.columns.toSeq == Seq("point_id", "lat", "lng", "event_type", "cell16"))
  }

  test("batch budget: gr_od_hist built and run starts at most 6 Spark jobs") {
    val jobs = warmJobs("gr_od_hist")
    assert(jobs <= 6, s"$jobs jobs")
  }

  test("batch budget: sl_polygon built and run starts at most 3 Spark jobs") {
    val jobs = warmJobs("sl_polygon")
    assert(jobs <= 3, s"$jobs jobs")
  }

  test("batch budget: ag_percentiles built and run starts at most 5 Spark jobs") {
    val jobs = warmJobs("ag_percentiles")
    assert(jobs <= 5, s"$jobs jobs")
  }

  test("batch budget: sj_pip built and run starts at most 6 Spark jobs") {
    val jobs = warmJobs("sj_pip")
    assert(jobs <= 6, s"$jobs jobs")
  }

  test("Tables.schema is spark.read.parquet's schema, inferred again for a rewritten file") {
    Seq("events", "lineitem", "documents").foreach { t =>
      val path = s"$sf001/$t.parquet"
      assert(Tables.schema(spark, path) == spark.read.parquet(path).schema, t)
      assert(Tables.read(spark, path).collect().toSet == spark.read.parquet(path).collect().toSet, t)
    }
    val path = java.nio.file.Files.createTempDirectory("tables").resolve("t.parquet").toString
    Seq((1L, "a")).toDF("id", "name").write.parquet(path)
    assert(Tables.schema(spark, path) == spark.read.parquet(path).schema)
    Seq((2.5, 7, true)).toDF("x", "n", "ok").write.mode("overwrite").parquet(path)
    val rewritten = spark.read.parquet(path).schema
    assert(rewritten.fieldNames.toSeq == Seq("x", "n", "ok"))
    assert(Tables.schema(spark, path) == rewritten)
    assert(Tables.read(spark, path).as[(Double, Int, Boolean)].collect().toSeq == Seq((2.5, 7, true)))
  }
}
