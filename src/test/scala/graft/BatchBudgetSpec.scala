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

  /** The most jobs a warm build-and-run of each `SparkEntry` query may
    * start at sf0.001 (204 in all): a query that gains one fails by name. */
  private val WarmJobs: Map[String, Int] = Map(
    "ag_count_valid_keys" -> 3, "ag_count_values" -> 2, "ag_hist_categorical" -> 2,
    "ag_hist_uniform" -> 2, "ag_percentiles" -> 3, "ag_sum_by_key" -> 2, "ag_take" -> 1,
    "ag_time_window" -> 2, "ag_top" -> 1, "ann_ivf" -> 6, "ann_ivf_trained" -> 4, "ann_lsh" -> 3,
    "ann_neardup" -> 5, "ann_pq" -> 4, "ann_topk" -> 3, "co_flatten" -> 2, "co_join_missing" -> 2,
    "co_map_filter" -> 1, "el_idw" -> 3, "geo_hull" -> 2, "geo_scalar" -> 1, "gr_closest" -> 2,
    "gr_connect" -> 6, "gr_degree" -> 2, "gr_filter_acc" -> 3, "gr_od_hist" -> 4, "gr_paths" -> 3,
    "gr_reachable" -> 2, "gr_routes" -> 2, "mm_aspect_buckets" -> 1, "mm_bucket_batches" -> 3,
    "mm_caption_conflicts" -> 3, "mm_decode" -> 1, "mm_filter" -> 1, "mm_frames" -> 1,
    "mm_phash_neardup" -> 3, "mm_thumbs" -> 1, "pt_points" -> 1, "qa_and_or" -> 1,
    "qa_intersects_cap" -> 1, "qa_intersects_geom" -> 1, "qa_keyed" -> 1, "qa_keyrange" -> 1,
    "qa_tagged" -> 1, "qa_token_prefix" -> 1, "qa_typed" -> 1, "rd_assign" -> 2, "rd_basemap" -> 2,
    "rd_mvt" -> 2, "rd_mvt_cmds" -> 1, "rel_members" -> 3, "sh_pipeline" -> 1, "sj_cap_agg" -> 2,
    "sj_intersection" -> 3, "sj_knn" -> 17, "sj_pip" -> 4, "sj_pip_rect" -> 2, "sj_tile" -> 2,
    "sj_tile_fid" -> 1, "sl_polygon" -> 1, "sl_rays" -> 1, "sl_sightline" -> 4, "st_sessions" -> 2,
    "td_decontaminate" -> 7, "td_dedup_clusters" -> 8, "td_dedup_exact" -> 2,
    "td_fingerprint" -> 1, "td_lang_id" -> 1, "td_minhash_pairs" -> 5, "td_mixture" -> 6,
    "td_ngram_jaccard" -> 4, "td_pack" -> 3, "td_pii" -> 1, "td_quality" -> 1,
    "td_repetition" -> 1, "td_sample_stratified" -> 3, "td_simhash" -> 1, "td_split" -> 2,
    "td_token_count" -> 1, "w_add_tag" -> 1, "w_change_tags" -> 3, "w_overlay" -> 2
  )

  test("batch budget: the job table names every SparkEntry query") {
    assert(WarmJobs.keySet == SparkEntry.queries.keySet)
  }

  WarmJobs.toSeq.sorted.foreach { case (q, n) =>
    test(s"batch budget: $q runs at most $n Spark job${if (n == 1) "" else "s"} warm") {
      val jobs = warmJobs(q)
      assert(jobs <= n, s"$jobs jobs")
    }
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
