package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.GeoOps
import graft.functions.CellExprs
import graft.model.{Fixtures, Tables}
import graft.operators.{Aggs, Ann, ImageOps, SpatialJoins, TextOps}
import graft.query._

/**
 * Driver contract: one `queries` entry per implemented operator from
 * SURVEY.md §2, with DuckDB-runnable oracle SQL wherever the semantics are
 * SQL-expressible (spatial joins included — convex containment compiles to
 * half-plane arithmetic, tiles to Mercator arithmetic, kNN to a window over
 * haversine). Derived columns are computed by pure IEEE arithmetic shared
 * verbatim between Spark and DuckDB so value hashes match exactly.
 */
object SparkEntry {

  // ---- shared input views ----------------------------------------------------

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.read(spark, s"$dir/$name.parquet")

  /** b6-style features table derived deterministically from events:
    * id struct, open tags map, point geometry (lat/lng/cell16). */
  def features(spark: SparkSession, dir: String): DataFrame = {
    CellExprs.install(spark)
    Fixtures.points(spark, dir)
      .withColumn("id", struct(
        expr("CASE point_id % 3 WHEN 0 THEN 'point' WHEN 1 THEN 'path' ELSE 'area' END").as("ftype"),
        lit("graft/events").as("ns"),
        col("point_id").as("value")))
      .withColumn("tags", map(
        lit("#amenity"), expr(
          "CASE event_type WHEN 'click' THEN 'cafe' WHEN 'view' THEN 'bench' " +
            "WHEN 'purchase' THEN 'restaurant' WHEN 'signup' THEN 'school' ELSE 'fountain' END"),
        lit("@name"), expr("CASE WHEN point_id % 5 = 0 THEN concat('site-', point_id) ELSE NULL END")))
  }

  /** Oracle-side amenity derivation (same CASE, over raw events). */
  private val amenitySql =
    "(CASE event_type WHEN 'click' THEN 'cafe' WHEN 'view' THEN 'bench' " +
      "WHEN 'purchase' THEN 'restaurant' WHEN 'signup' THEN 'school' ELSE 'fountain' END)"

  private val ptsCte = s"WITH pts AS (${Fixtures.pointsOracleSql})"

  /** Flagship query on sf0.001: the point-in-polygon spatial join. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    SpatialJoins.pointInPolygonJoin(
      Fixtures.points(spark, dir), Fixtures.polygons(spark))
      .select("point_id", "poly_id")
  }

  // ---- the operator inventory --------------------------------------------------

  /** Each query's result is a row multiset: no root sort, since nothing reads
    * the order (`Verify.dump` orders what it writes). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- query algebra (SURVEY §2.A) --
    "qa_tagged" -> ((s, d) => QueryPlanner.find(features(s, d), Tagged("#amenity", "cafe"))
      .select(col("point_id"), col("lat"), col("lng"))),
    "qa_keyed" -> ((s, d) => QueryPlanner.find(features(s, d), Keyed("@name"))
      .select(col("point_id"), col("tags").getItem("@name").as("name"))),
    "qa_typed" -> ((s, d) => QueryPlanner.find(features(s, d), TypedQ("point", Keyed("#amenity")))
      .select(col("point_id"))),
    "qa_and_or" -> ((s, d) => QueryPlanner.find(features(s, d),
      Or(Seq(And(Seq(Tagged("#amenity", "cafe"), Keyed("@name"))), Tagged("#amenity", "fountain"))))
      .select(col("point_id"))),
    "qa_token_prefix" -> ((s, d) => QueryPlanner.find(features(s, d), TokenPrefix("@name", "site-1"))
      .select(col("point_id"))),
    "qa_keyrange" -> ((s, d) => QueryPlanner.find(features(s, d),
      And(Seq(KeyRange(1000, 2000), Tagged("#amenity", "restaurant"))))
      .select(col("point_id"))),
    "qa_intersects_cap" -> ((s, d) => QueryPlanner.find(features(s, d),
      IntersectsCap(51.5353, -0.1258, 900.0))
      .select(col("point_id"))),
    "qa_intersects_geom" -> ((s, d) => {
      val wkb = GeoOps.toWkb(GeoOps.fromWkt(
        "POLYGON ((-0.13 51.53, -0.12 51.529, -0.115 51.536, -0.124 51.541, -0.132 51.537, -0.13 51.53))"))
      QueryPlanner.find(features(s, d), IntersectsGeom(wkb))
        .select(col("point_id"))
    }),

    // -- spatial joins (SURVEY §2.B joins + §7.6) --
    "sj_pip" -> ((s, d) => SpatialJoins.pointInPolygonJoin(
      Fixtures.points(s, d), Fixtures.polygons(s))
      .select(col("point_id"), col("poly_id"))),
    "sj_pip_rect" -> ((s, d) => {
      val p = Fixtures.points(s, d)
      p.join(broadcast(Fixtures.rectsDf(s)),
        col("lat") >= col("lat_lo") && col("lat") < col("lat_hi") &&
          col("lng") >= col("lng_lo") && col("lng") < col("lng_hi"))
        .select(col("point_id"), col("rect_id"))
    }),
    // level 14 (~1.2 km cells): the old default level 10 (~19.6 km cells) made
    // every site's ring-1 disk cover the whole fixture region (~500k candidate
    // rows through the per-site window); at 14 the disks stay local (~8x fewer
    // candidates) and ring 1 still settles k=3 at this density. Results are
    // level-invariant (ring guarantee exact at any level; oracle-gated).
    "sj_knn" -> ((s, d) => SpatialJoins.knnJoin(Fixtures.points(s, d), Fixtures.sites(s), 3, level = 14)
      .select(col("site_id"), col("rank").cast("long").as("rank"), col("point_id"))),
    "sj_tile" -> ((s, d) => SpatialJoins.tileAssignment(Fixtures.points(s, d), 14)
      .groupBy(col("tile_xx").as("tx"), col("tile_yy").as("ty"))
      .agg(count(lit(1)).as("n"))),
    "sj_cap_agg" -> ((s, d) => SpatialJoins.withinCap(Fixtures.points(s, d), 51.5353, -0.1258, 1500.0)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))),
    "sj_intersection" -> ((s, d) => {
      // geometry-intersection join: a box around every 100th point vs the
      // fixture polygons (IntersectsMultiPolygon semantics, spatial.go:609-711).
      // Box corners are the raw IEEE lat/lng ± 0.002 doubles — the DuckDB
      // oracle's separating-axis test computes the identical corner values.
      graft.functions.GeoFunctions.install(s)
      val boxWkb = udf { (lat: Double, lng: Double) =>
        GeoOps.toWkb(graft.functions.GeoFunctions.rectanglePolygon(
          lat - 0.002, lng - 0.002, lat + 0.002, lng + 0.002))
      }
      val boxes = Fixtures.points(s, d).where(col("point_id") % 100 === 0)
        .select(col("point_id"), boxWkb(col("lat"), col("lng")).as("geom"))
      SpatialJoins.intersectionJoin(boxes,
          Fixtures.polygons(s).select(col("poly_id"), col("geom").as("pgeom")),
          leftGeom = "geom", rightGeom = "pgeom")
        .select(col("point_id"), col("poly_id"))
    }),

    // -- aggregations (SURVEY §2.B aggregations) --
    "ag_count_values" -> ((s, d) => Aggs.countValues(t(s, d, "events"), "event_type")),
    "ag_sum_by_key" -> ((s, d) => Aggs.sumByKey(t(s, d, "lineitem"), "l_returnflag", "l_quantity")),
    "ag_top" -> ((s, d) => Aggs.top(t(s, d, "orders"), "o_totalprice", 10, "o_orderkey")
      .select("o_orderkey", "o_totalprice")),
    "ag_take" -> ((s, d) => Aggs.take(t(s, d, "orders"), 20, "o_orderkey")
      .select("o_orderkey", "o_orderstatus")),
    "ag_percentiles" -> ((s, d) => Aggs.percentiles(t(s, d, "lineitem"), "l_quantity")
      .select(col("l_quantity"), col("percentile")).distinct()),
    "ag_hist_uniform" -> ((s, d) => Aggs.histogramUniform(t(s, d, "lineitem"), "l_quantity")
      .select(col("bucket").cast("long").as("bucket"), col("lo"), col("hi"), col("n"))),
    "ag_hist_categorical" -> ((s, d) => Aggs.histogramCategorical(t(s, d, "documents"), "source")),
    "ag_count_valid_keys" -> ((s, d) => {
      val c = t(s, d, "customer"); val o = t(s, d, "orders")
      Aggs.countValidKeys(
        c.join(o, col("c_custkey") === col("o_custkey"), "left"),
        "c_custkey", col("o_orderstatus") === "O")
    }),

    // -- collection ops (SURVEY §2.B set ops / projections) --
    "co_join_missing" -> ((s, d) => {
      val o = t(s, d, "orders")
      val base = o.where(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), lit("base").as("src"))
      val joined = o.where(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"), lit("joined").as("src"))
      Aggs.joinMissing(base, joined, "o_orderkey")
    }),
    "co_flatten" -> ((s, d) => Aggs.flatten(
      t(s, d, "documents").select(col("doc_id"), split(col("text"), " ").as("words")),
      "words", "word")
      .groupBy("word").agg(count(lit(1)).as("n"))),

    // -- training-data text ops --
    "td_token_count" -> ((s, d) => TextOps.tokenCount(t(s, d, "documents"), "text")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))),
    "td_lang_id" -> ((s, d) => TextOps.langId(t(s, d, "documents"), "text")
      .select("doc_id", "lang_pred")),
    "td_quality" -> ((s, d) => TextOps.quality(t(s, d, "documents"), "text")
      .select("doc_id", "quality")),
    "td_repetition" -> ((s, d) => TextOps.repetitionSignals(t(s, d, "documents"), "text")
      .select("doc_id", "n_words", "dup_word_frac", "top_bigram", "top_bigram_frac")),
    "td_pii" -> ((s, d) => {
      // deterministic PII injection (the fixture corpus has none), then the
      // C4/Dolma-style scrub: every doc gets one email; %3==0 docs a second
      // email; %2==0 docs a phone. Counts, scrubbed length and md5 oracled.
      val injected = t(s, d, "documents").withColumn("txt",
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"), lit("@ex"),
          (col("doc_id") % 7).cast("string"), lit(".com"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" cc admin"), col("doc_id").cast("string"), lit("@corp.org")))
            .otherwise(lit("")),
          when(col("doc_id") % 2 === 0,
            concat(lit(" call +1-555-"),
              lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          lit(" now")))
      TextOps.piiScrub(injected, "txt")
        .select(col("doc_id"), col("n_emails"), col("n_phones"),
          length(col("scrubbed")).cast("long").as("n_chars_scrubbed"),
          md5(col("scrubbed").cast("binary")).as("scrub_md5"))
    }),
    "td_dedup_exact" -> ((s, d) => TextOps.dedupExact(t(s, d, "documents"), "doc_id", "text")),
    "td_fingerprint" -> ((s, d) => TextOps.fingerprint(t(s, d, "documents"), "text")
      .select("doc_id", "fingerprint")),
    "td_minhash_pairs" -> ((s, d) => TextOps.dedupMinhashLsh(
      t(s, d, "documents"), "doc_id", "text", threshold = 0.4)),
    "td_simhash" -> ((s, d) => TextOps.simhash(t(s, d, "documents"), "doc_id", "text")),
    "td_ngram_jaccard" -> ((s, d) => TextOps.ngramJaccardJoin(
      t(s, d, "documents"), "doc_id", "text", k = 5, threshold = 0.2)),

    "td_split" -> ((s, d) =>
      // deterministic 80/10/10 train/val/test assignment (scan-side map, no
      // shuffle until this gate aggregation) — checksummed per split
      TextOps.hashSplit(t(s, d, "documents"), "doc_id",
          Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars").cast("long")).as("sum_chars"),
          sum(col("doc_id")).as("id_checksum"))),
    "td_sample_stratified" -> ((s, d) =>
      // deterministic k-per-language sample via the salted two-stage rank
      TextOps.stratifiedSample(t(s, d, "documents"), "lang", "doc_id", 5)
        .select(col("lang"), col("rank"), col("doc_id"))),
    "td_decontaminate" -> ((s, d) => {
      // benchmark = every 11th doc; corpus = the rest, reported per-doc with
      // its distinct-8-gram count and how many appear in the benchmark
      val docs = t(s, d, "documents")
      TextOps.contaminationScreen(docs.where(col("doc_id") % 11 =!= 0),
          docs.where(col("doc_id") % 11 === 0), "doc_id", "text", 8)
    }),
    "td_pack" -> ((s, d) =>
      // GPT-style packing plan: distributed prefix sum (range partition +
      // broadcast offsets), 256-token chunks
      TextOps.packPlan(TextOps.tokenCount(t(s, d, "documents"), "text"),
          "doc_id", "n_tokens", 256)),
    "td_mixture" -> ((s, d) =>
      // domain-mixture resampling: 50/30/20 target over three sources, the
      // feasible total and per-source quotas derived from the data
      TextOps.mixturePlan(t(s, d, "documents"), "doc_id", "source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("source"), col("rank"), col("doc_id"))),

    "td_dedup_clusters" -> ((s, d) => {
      // duplicate-CLUSTER assignment: connected components over the EXACT
      // n-gram Jaccard pair graph (pointer-doubling label propagation) —
      // every doc labeled with the min id of its near-dup cluster
      val docs = t(s, d, "documents")
      val pairs = TextOps.ngramJaccardJoin(docs, "doc_id", "text", k = 5, threshold = 0.2)
      TextOps.dedupClusters(pairs, docs.select("doc_id"))
    }),

    // -- image curation gate (LAION/DataComp-style min-dim/aspect/caption) --
    "mm_filter" -> ((s, d) => {
      // input_hint-shaped metadata derived deterministically from documents:
      // w/h from integer mixes, caption from text (every 11th truncated so
      // the caption rule fires too). All-integer gate, replayed in DuckDB.
      val meta = t(s, d, "documents").select(
        col("doc_id").as("image_id"),
        (lit(16) + (col("doc_id") * 7919) % 4096).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 104729) % 4096).cast("int").as("h"),
        when(col("doc_id") % 11 === 0, lit("tiny cap")).otherwise(col("text")).as("caption"))
      ImageOps.curationFilter(meta)
        .select(col("image_id"), col("w"), col("h"), col("drop_reason"))
    }),

    // -- SDXL-style aspect-ratio bucket assignment (nearest in log-aspect) --
    "mm_aspect_buckets" -> ((s, d) => {
      // same input_hint-shaped w/h metadata as mm_filter; the nearest-bucket
      // decision chain is exact integer arithmetic (r^2 vs b_i*b_{i+1}
      // cross-multiplied), so DuckDB replays the assignment bit-for-bit
      val meta = t(s, d, "documents").select(
        col("doc_id").as("image_id"),
        (lit(16) + (col("doc_id") * 7919) % 4096).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 104729) % 4096).cast("int").as("h"))
      ImageOps.aspectBuckets(meta)
        .select(col("image_id"), col("w"), col("h"), col("bucket_id"),
          col("bucket_w"), col("bucket_h"))
    }),

    // -- per-bucket training batch assignment (distributed two-stage rank) --
    "mm_bucket_batches" -> ((s, d) => {
      // deterministic within-bucket epoch shuffle (splitmix64 order) cut
      // into 32-row batches, trailing partial batch NULL (drop_last); the
      // oracle replays the rank as a window over the sign-bridged hash
      val meta = t(s, d, "documents").select(
        col("doc_id").as("image_id"),
        (lit(16) + (col("doc_id") * 7919) % 4096).cast("int").as("w"),
        (lit(16) + (col("doc_id") * 104729) % 4096).cast("int").as("h"))
      ImageOps.bucketBatches(meta, batchSize = 32)
    }),

    // -- image near-dup by perceptual hash (input_hint phash:int64 column) --
    "mm_phash_neardup" -> ((s, d) => {
      // deterministic splitmix64 phashes + injected Hamming-2 clones; the
      // oracle replays the mix, the banding and the popcount verify exactly
      val sm = udf((i: Long) => Fixtures.splitmix64(i))
      val base = t(s, d, "events")
        .select(col("event_id").as("image_id"), sm(col("event_id")).as("phash"))
      val clones = base.where(col("image_id") % 101 === 0)
        .select((col("image_id") + 10000000L).as("image_id"),
          col("phash").bitwiseXOR(lit(3L)).as("phash"))
      ImageOps.phashNearDupPairs(base.unionByName(clones))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    // -- cross-modal QA: caption conflicts among image near-duplicates --
    "mm_caption_conflicts" -> ((s, d) => {
      // image+caption rows (input_hint shape): clones keep the source
      // caption except every second clone, which is relabeled — the
      // mislabeled-duplicate defect the report must surface
      val sm = udf((i: Long) => Fixtures.splitmix64(i))
      val base = t(s, d, "events").select(col("event_id").as("image_id"),
        sm(col("event_id")).as("phash"),
        concat(lit("cap-"), (col("event_id") % 7).cast("string")).as("caption"))
      val clones = t(s, d, "events").where(col("event_id") % 101 === 0)
        .select((col("event_id") + 10000000L).as("image_id"),
          sm(col("event_id")).bitwiseXOR(lit(3L)).as("phash"),
          when(col("event_id") % 202 === 0, lit("cap-x"))
            .otherwise(concat(lit("cap-"), (col("event_id") % 7).cast("string"))).as("caption"))
      ImageOps.captionConflicts(base.unionByName(clones))
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"), col("caption_match"))
    }),

    // -- similarity search --
    "ann_topk" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.cosineTopK(e, q, 5)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("neighbor_id"))
    }),
    "ann_lsh" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.cosineLsh(e, q, 5)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("neighbor_id"))
    }),

    "ann_ivf" -> ((s, d) => {
      // IVF mechanics under a deterministic data-derived codebook (the first
      // 16 vectors): assignment, nProbe probing, list equi-join, exact rank —
      // all replayable in SQL straight off the embeddings view. REAL k-means
      // training (trainIvfCentroids) is covered by AnnSpec recall tests.
      val e = t(s, d, "embeddings")
      val cents = e.where(col("vec_id") < 16).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.cosineIvf(e, q, 5, cents, nProbe = 4)
        .select("qid", "rank", "neighbor_id")
    }),

    "ann_ivf_trained" -> ((s, d) => {
      // the TRAINED path: centroids from deterministic Lloyd's k-means over
      // the driver-side sample (build artifact, like an index). The oracle
      // (oracleSqlDynamic) embeds these centroids as driver-computed DOUBLE
      // literals — the geo_scalar trick — so search replays bit-exactly.
      val e = t(s, d, "embeddings")
      val cents = trainedIvfCentroids(s, d)
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.cosineIvf(e, q, 5, cents, nProbe = 3)
        .select("qid", "rank", "neighbor_id")
    }),

    "ann_pq" -> ((s, d) => {
      // product-quantized ANN by asymmetric distance: codes-only storage,
      // ADC scoring; codebooks are deterministic build artifacts embedded in
      // the oracle as literals (oracleSqlDynamic), every fold order-matched
      val e = t(s, d, "embeddings")
      val cbs = trainedPqCodebooks(s, d)
      val q = e.where(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Ann.cosinePq(e, q, 5, cbs)
    }),

    "ann_neardup" -> ((s, d) => {
      val e = t(s, d, "embeddings")
      val dupes = e.where(col("vec_id") < 10)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.0001f)).as("embedding"), col("label"))
      // bits/tables sized to the 0.99 threshold: 12-bit signatures make each
      // table ~16x more selective than the 8-bit default (candidate volume,
      // not stage latency, dominates this query), while 4 independent tables
      // keep the theoretical miss bound for a cos=0.99 pair at
      // (1-(1-0.0255/pi)^12)^4 ~ 7e-5 — and the injected near-parallel dupes
      // collide in every table
      graft.operators.Ann.cosineNearDupPairs(e.unionByName(dupes), 0.99,
          bits = 12, tables = 4)
        .select("id_a", "id_b")
    }),

    // -- graph reachability (SURVEY §2.B graph operators) --
    // all gr_* run on the seeded 12x12 street grid whose edges are ALSO
    // embedded verbatim in the DuckDB oracles (same driver-computed doubles),
    // so shortest-path sums are bit-identical across engines.
    "gr_reachable" -> ((s, d) => {
      import s.implicits._
      val (_, edges) = graft.operators.Graph.syntheticGrid(s, gridN)
      val origins = Seq(0L, 71L, 143L).toDF("origin")
      graft.operators.Graph.reachable(edges, origins, 1200.0)
        .select(col("origin"), col("node"), round(col("dist_m"), 3).as("dist_m"))
    }),
    "gr_closest" -> ((s, d) => {
      import s.implicits._
      val (_, edges) = graft.operators.Graph.syntheticGrid(s, gridN)
      val origins = Seq(0L, 71L, 143L).toDF("origin")
      val targets = Seq(27L, 60L, 105L).toDF("target")
      graft.operators.Graph.closest(edges, origins, targets, 1200.0)
        .select(col("origin"), col("node"), round(col("dist_m"), 3).as("dist_m"))
    }),
    "gr_paths" -> ((s, d) => {
      import s.implicits._
      val (_, edges) = graft.operators.Graph.syntheticGrid(s, gridN)
      graft.operators.Graph.pathsToReach(edges, Seq(0L).toDF("origin"), 900.0)
    }),
    "gr_filter_acc" -> ((s, d) => {
      import s.implicits._
      val (nodes, edges) = graft.operators.Graph.syntheticGrid(s, gridN)
      val od = graft.operators.Graph.reachable(
        edges, Seq(0L, 143L).toDF("origin"), 700.0).select("origin", "node")
      val survivors = nodes.where(col("node_id") >= 100).select("node_id")
      graft.operators.Graph.filterAccessible(od, survivors)
    }),

    "gr_od_hist" -> ((s, d) => {
      import s.implicits._
      val (nodes, edges) = graft.operators.Graph.syntheticGrid(s, gridN)
      val od = graft.operators.Graph.reachable(
        edges, Seq(0L, 71L, 143L).toDF("origin"), 700.0).select("origin", "node")
      val survivors = nodes.where(col("node_id") >= 100).select("node_id")
      Aggs.odHistogram(graft.operators.Graph.filterAccessible(od, survivors))
    }),

    "gr_connect" -> ((s, d) => {
      // connect-to-network-all: every 50th point projects onto the street
      // grid via an exact kNN(k=1) access edge within 800 m
      // (api/functions/graph.go:547-586)
      val (nodes, edges) = graft.operators.Graph.syntheticGrid(s, gridN)
      val feats = Fixtures.points(s, d).where(col("point_id") % 50 === 0)
        .select((col("point_id") + 100000L).as("fid"), col("lat"), col("lng"))
      graft.operators.Graph.connectToNetwork(feats, nodes, edges, 800.0)
        .select("src", "dst")
    }),

    "gr_degree" -> ((s, d) => {
      // degree (features.go:212-219): segments meeting at each node
      val (_, edges) = graft.operators.Graph.syntheticGrid(s, gridN)
      edges.groupBy(col("src").as("node_id")).agg(count(lit(1)).as("degree"))
    }),

    // -- relations / reference joins (world.go:1313-1319, features.go:362-406) --
    "rel_members" -> ((s, d) => {
      // deterministic synthetic membership: every point belongs to relation
      // (point_id % 50) at position (point_id div 50)
      val refs = Fixtures.points(s, d).select(
        lit("relation").as("from_type"),
        (col("point_id") % 50).as("from_id"),
        lit("point").as("to_type"),
        col("point_id").as("to_id"),
        concat(lit("role-"), (col("point_id") % 3).cast("string")).as("role"),
        expr("point_id div 50").as("pos"))
      graft.operators.Relations.members(refs, 7L)
        .select("from_id", "pos", "to_id", "role")
    }),

    // -- mutation plane: transactional tag-edit change (change.go:20-67, :186-199) --
    "w_change_tags" -> ((s, d) => {
      val world = features(s, d)
        .select(col("id"), col("tags"), col("lat"), col("lng"))
        .withColumn("geom", lit(null).cast("binary"))
        .withColumn("cell16", lit(0L))
        .withColumn("covering", lit(null).cast("array<long>"))
      val refs = s.createDataFrame(
        s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "from_type string, from_id long, to_type string, to_id long, role string, pos int"))
      val change = graft.operators.Changes.merge(Seq(
        graft.operators.Changes.tagChange("point", "graft/events", 0L, "#amenity", Some("edited")),
        graft.operators.Changes.tagChange("path", "graft/events", 1L, "@name", None),
        graft.operators.Changes.addRelation("graft/rel", 7L, Map("#route" -> "bus"),
          Seq(("point", 0L, "stop")))))
      val (edited, _, _) = graft.operators.Changes.apply(s, world, refs, change)
      edited.where(col("id.value") <= 2L || col("id.ftype") === "relation")
        .select(col("id.ftype").as("ftype"), col("id.value").as("value"),
          col("tags").getItem("#amenity").as("amenity"),
          col("tags").getItem("@name").as("name"),
          col("tags").getItem("#route").as("route"))
    }),

    // -- basemap renderer (renderer.go:171-233) + sightlines: rows-only --
    "rd_basemap" -> ((s, d) => {
      val feats = Fixtures.polygons(s)
        .select(struct(lit("area").as("ftype"), lit("graft/fixture").as("ns"),
          col("poly_id").as("value")).as("id"),
          map(concat(lit("#"), col("tag")), lit("park")).as("tags"), col("geom"))
      graft.render.RenderRules.basemapTiles(feats, 14)
        .select(col("z"), col("x"), col("y"), length(col("mvt")).as("n_bytes"))
    }),
    "rd_assign" -> ((s, d) => {
      // the tile-ASSIGNMENT half of the basemap pipeline, fully oracled
      // (Mercator cover tiles.go:259-343 + zoom gate renderer.go:117-127 +
      // first-match layer renderer.go:253-263): at z13 the #amenity (min 12)
      // and #highway=primary (min 8) rules are active; #highway=footway
      // (min 14) and #place=city (max 12) are not. Byte-level encode stays
      // covered by RenderSpec/RenderRulesSpec.
      val tags = when(col("point_id") % 4 === 0, map(lit("#amenity"), lit("cafe")))
        .when(col("point_id") % 4 === 1, map(lit("#highway"), lit("footway")))
        .when(col("point_id") % 4 === 2, map(lit("#highway"), lit("primary")))
        .otherwise(map(lit("#place"), lit("city")))
      val world = Fixtures.points(s, d).withColumn("tags", tags)
      val in = world.where(graft.render.RenderRules.zoomPredicate(13, col("tags")))
        .withColumn("layer", graft.render.RenderRules.layerColumn(col("tags")))
      SpatialJoins.tileAssignment(in, 13)
        .groupBy(col("tile_xx").as("tx"), col("tile_yy").as("ty"), col("layer"))
        .agg(count(lit(1)).as("n"))
    }),
    "sl_rays" -> ((s, d) => {
      // per-ray occlusion parameters in degree space over the literal
      // fixture edges — the sightline sweep's segment-intersection core,
      // rational arithmetic only (Sightline.rayOcclusions scaladoc)
      graft.operators.Sightline.rayOcclusions(sightlineOrigins(s, d),
          graft.operators.Sightline.rationalDirections, sightlineEdges)
        .select(col("origin_id"), col("ray_idx").cast("long").as("ray_idx"), col("occlusion"))
    }),
    "sl_sightline" -> ((s, d) => {
      val origins = Fixtures.points(s, d).where(col("point_id") % 5000 === 0)
        .select(col("point_id").as("origin_id"), col("lat"), col("lng"))
      graft.operators.Sightline.sightlines(origins, Fixtures.polygons(s), 400.0, rays = 64)
        .toDF().select(col("origin_id"), round(col("area_m2"), 0).as("area_m2"))
    }),
    "sl_polygon" -> ((s, d) => {
      // the visibility-POLYGON half of sightline (renderer.go sightline UI /
      // functions.go sightline), as pure +,-,*,/ arithmetic: vertex_i =
      // origin + occlusion_i * dir_i over the rational ray fan, then the
      // shoelace sum folded in ray order (the oracle mirrors the fold with
      // list_reduce(list(trm ORDER BY ray_idx))). Together with sl_rays this
      // oracles the whole sightline computation except the trig angle grid.
      graft.operators.Sightline.fanArea(sightlineOrigins(s, d),
          graft.operators.Sightline.rationalDirections, sightlineEdges)
    }),

    // -- map/filter plane (map.go:12-67, collections.go:215-274) --
    "co_map_filter" -> ((s, d) => Fixtures.points(s, d)
      .withColumn("score", col("lat") * 2.0 + col("lng"))
      .where(col("score") > 102.9)
      .select(col("point_id"), col("score"))),

    // -- convex hull / reachable-area (geometry.go:207-232, graph.go:503-519) --
    "geo_hull" -> ((s, d) => {
      import s.implicits._
      val inCap = graft.operators.SpatialJoins.withinCap(
        Fixtures.points(s, d), 51.5353, -0.1258, 2000.0)
      val pts = inCap.select("lat", "lng").as[(Double, Double)]
      // partial hulls per partition (exact monotone chain, Dataset API),
      // merged on the driver (tiny). The chain's BigDecimal orientation
      // predicate makes hull(hull(A) ++ hull(B)) == hull(A ++ B) EXACTLY, so
      // the result is partitioning-invariant — JTS's double-precision hull
      // measurably drops strict vertices with cross products ~1e-23 (the
      // JTS op itself stays on the convex-hull operator surface,
      // GeoFunctionsSpec). A collinear point dropped by a partial chain is a
      // convex combination of two partition-mates, hence never extreme
      // globally — strict partial hulls lose no global vertex.
      val partial = pts.mapPartitions { it =>
        GeoOps.convexHullChain(it.map { case (la, lo) => (lo, la) }.toSeq).iterator
      }.collect()
      // canonical CCW vertex rows + the ascending-fold shoelace area (deg^2):
      // the DuckDB oracle holds vertices from the same exact chain run over
      // the UNPARTITIONED capped set as driver literals (oracleSqlDynamic)
      // and replays the identical area fold — hull vertex set AND arithmetic
      // both gate-checked. (Metric area stays covered by GeoFunctionsSpec;
      // trig must not cross the engine boundary.)
      val verts = GeoOps.canonicalRing(GeoOps.convexHullChain(partial.toSeq).toIndexedSeq)
      val area = GeoOps.shoelaceAscending(verts)
      verts.zipWithIndex.map { case ((x, y), i) =>
        (i.toLong, x, y, verts.length.toLong, area)
      }.toDF("vertex_idx", "vlng", "vlat", "n_vertices", "area_deg2")
    }),

    // -- vector-tile feature ids (FNV-1, api/tiles.go:10-32) --
    "sj_tile_fid" -> ((s, d) => {
      val fid = udf((pid: Long) =>
        graft.functions.TileIds.tileFeatureId(0L, "graft/events", pid))
      Fixtures.points(s, d).select(col("point_id"), fid(col("point_id")).as("fid"))
    }),

    // -- world overlay + mutation plane --
    "w_overlay" -> ((s, d) => {
      val f = features(s, d).select(col("point_id"),
        col("tags").getItem("#amenity").as("amenity"))
      val delta = f.where(col("point_id") % 7 === 0)
        .withColumn("amenity", lit("modified"))
      graft.operators.Worlds.overlay(f, delta, Seq("point_id"))
    }),
    "w_add_tag" -> ((s, d) => {
      val f = graft.operators.Worlds.addTag(features(s, d), "#status",
        concat(lit("st-"), col("point_id") % 4))
      QueryPlanner.find(f, Keyed("#status"))
        .select(col("point_id"), col("tags").getItem("#status").as("status"))
    }),

    // -- geometry scalar functions: degree-space shoelace area/centroid over
    //    the WKB geometry column; the metric scale is a driver-computed
    //    literal so NO trig crosses the engine boundary and the DuckDB
    //    oracle replays the identical IEEE fold bit-exactly. (The
    //    latitude-scaled JTS areaM2/convex-hull-centroid path stays covered
    //    by GeoFunctionsSpec.) --
    "geo_scalar" -> ((s, d) => {
      import graft.functions.GeoFunctions._
      Fixtures.polygons(s)
        .select(col("poly_id"),
          (shoelace_area_deg2(col("geom")) * expr(Fixtures.shoelaceFactorCaseSql)).as("area_m2"),
          shoelace_centroid_lat(col("geom")).as("c_lat"),
          shoelace_centroid_lng(col("geom")).as("c_lng"))
    }),

    // -- event-time windowed aggregation (streaming-equivalent batch plan) --
    "ag_time_window" -> ((s, d) => graft.streaming.Streaming.windowedEventCounts(
      t(s, d, "events"))),

    // -- sessionization (stateful-streaming plane; batch-equivalent plan) --
    "st_sessions" -> ((s, d) => graft.streaming.Streaming.sessionize(t(s, d, "events"))),

    // -- vertex plane: points / sample-points --
    "pt_points" -> ((s, d) => graft.operators.Paths.points(Fixtures.polygons(s))
      .select(col("poly_id"), col("vertex_idx").cast("long").as("vertex_idx"),
        col("vlat"), col("vlng"))),
    "gr_routes" -> ((s, d) => {
      import s.implicits._
      val (_, edges) = graft.operators.Graph.syntheticGrid(s, gridN)
      graft.operators.Graph.reachableWithParents(edges, Seq(0L, 71L).toDF("origin"), 900.0)
        .select(col("origin"), col("node"), round(col("dist_m"), 3).as("dist_m"), col("parent"))
    }),

    // -- vector-tile rendering (MVT encode per tile, SURVEY §2.C) --
    "rd_mvt" -> ((s, d) => {
      val feats = Fixtures.polygons(s)
        .select(col("poly_id").as("fid"), col("tag").as("layer"), col("geom"),
          map(lit("name"), concat(lit("poly-"), col("poly_id"))).as("tags"))
      graft.render.Mvt.renderTiles(feats, 14)
        .select(col("z"), col("x"), col("y"), length(col("mvt")).as("n_bytes"))
    }),
    "rd_mvt_cmds" -> ((s, d) => {
      // the encoder's per-(feature, tile) COMMAND STREAM fully oracled
      // (renderer/encoder.go:16-60): Mercator projection onto the 4096 tile
      // grid, MoveTo/LineTo/ClosePath word layout, zigzag deltas — emitted as
      // word count + an order-weighted integer checksum that DuckDB replays
      // from the literal fixture rings. Tiles here are the bbox cover of each
      // geometry (tiles.go:259-294 on the envelope) so the tile set is
      // SQL-replayable; renderTiles' cell-union cover + byte-level framing
      // stay covered by rd_mvt rows + RenderSpec's wire-level decode.
      val z = 14
      val covers = udf { (wkb: Array[Byte]) =>
        val env = GeoOps.fromWkb(wkb).getEnvelopeInternal
        GeoOps.tileCoverBBox(env.getMinY, env.getMinX, env.getMaxY, env.getMaxX, z)
      }
      val cmdStat = udf { (wkb: Array[Byte], tile: Long) =>
        val (gtype, cmds) = graft.render.Mvt.geometryCommands(
          GeoOps.fromWkb(wkb), GeoOps.tileIdZ(tile), GeoOps.tileIdX(tile), GeoOps.tileIdY(tile))
        val checksum = cmds.iterator.zipWithIndex
          .map { case (c, i) => (i + 1).toLong * c }.sum
        (gtype.toLong, cmds.length.toLong, checksum)
      }
      Fixtures.polygons(s)
        .withColumn("tile", explode(covers(col("geom"))))
        .withColumn("st", cmdStat(col("geom"), col("tile")))
        .select(col("poly_id").as("fid"),
          shiftrightunsigned(col("tile"), 29).bitwiseAND(lit((1L << 29) - 1)).as("tx"),
          col("tile").bitwiseAND(lit((1L << 29) - 1)).as("ty"),
          col("st._1").as("gtype"), col("st._2").as("n_cmds"), col("st._3").as("cmd_sum"))
    }),

    // -- elevation field (IDW via cell index, SURVEY §2.D) --
    "el_idw" -> ((s, d) => {
      import s.implicits._
      val spots = Seq(
        (51.470, -0.190, 12.0), (51.480, -0.170, 18.0), (51.500, -0.150, 25.0),
        (51.520, -0.130, 31.0), (51.535, -0.125, 22.0), (51.550, -0.110, 15.0),
        (51.570, -0.095, 40.0), (51.600, -0.180, 8.0), (51.615, -0.160, 11.0),
      ).toDF("slat", "slng", "elevation")
      val queries = Fixtures.points(s, d).where(col("point_id") % 100 === 0)
        .select(col("point_id").as("qid"), col("lat"), col("lng"))
      graft.operators.Elevation.elevationAt(queries, spots, 3000.0)
        .select(col("qid"), round(col("elevation"), 6).as("elevation"))
    }),

    // -- shell expression language end-to-end (api/shell.y, shell.go:612-824):
    //    parse -> simplify -> compile onto the Query ADT + Column lambdas --
    "sh_pipeline" -> ((s, d) => graft.shell.Shell.runDf(features(s, d),
      "find [#amenity=cafe & @name] | map {f -> get f \"@name\"}")
      .select(col("point_id"), col("value").as("name"))),

    // -- multimodal video: every-3rd-frame sampling; the frame METADATA
    //    (idx/timestamp/dims) is pure arithmetic over the deterministic
    //    container params, so the fan-out is fully oracled (pixel bytes are
    //    pinned by MultimodalSpec against the per-frame generator) --
    "mm_frames" -> ((s, d) => graft.operators.Multimodal
      .sampleFrames(graft.operators.Multimodal.videos(s, 200L), everyNth = 3).toDF()
      .select(col("video_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("t_seconds"), col("w").cast("long").as("w"), col("h").cast("long").as("h"))),

    // -- multimodal (images decoded once; plumbing real, payload synthetic) --
    "mm_decode" -> ((s, d) => {
      val n = if (d.contains("0.001")) 200L else if (d.contains("0.01")) 1000L else 5000L
      ImageOps.decodeFeatures(Fixtures.images(s, n)).toDF()
        .select(col("image_id"), col("w"), col("h"), col("fmt"),
          col("psnr_db") >= 40.0 as "psnr_ok", col("decoded_ok"))
    }),

    // thumbnails: decode-once -> aspect-preserving integer downscale -> PPM
    // re-encode; dims + exact container byte length replay in the oracle
    // (oracleSqlDynamic), pixels in ImageSpec
    "mm_thumbs" -> ((s, d) => {
      val n = if (d.contains("0.001")) 200L else if (d.contains("0.01")) 1000L else 5000L
      ImageOps.thumbnails(Fixtures.images(s, n)).toDF()
        .select(col("image_id"), col("tw"), col("th"),
          length(col("thumb")).cast("int").as("thumb_len"))
    }),
  )

  // ---- DuckDB oracles ----------------------------------------------------------

  private def hav(lat2: String, lng2: String) =
    Fixtures.haversineSql("p.lat", "p.lng", lat2, lng2)

  /** Shared street-grid size for the gr_* queries and their oracles. */
  private val gridN = 12

  /** Every 5000th point as a sightline origin (origin_id, px = lng, py = lat). */
  private def sightlineOrigins(s: SparkSession, d: String): DataFrame =
    Fixtures.points(s, d).where(col("point_id") % 5000 === 0)
      .select(col("point_id").as("origin_id"), col("lng").as("px"), col("lat").as("py"))

  /** Closed-ring edges of the convex fixture polygons — the sl_rays occluder
    * segments, shared verbatim with the oracle's VALUES literals. */
  private lazy val sightlineEdges: Seq[(Double, Double, Double, Double)] =
    Fixtures.convexPolygons.flatMap { case (_, _, ring) =>
      (ring :+ ring.head).sliding(2).collect {
        case Seq((x1, y1), (x2, y2)) => (x1, y1, x2, y2)
      }
    }

  /** Fixture polygon rings in the encoder's vertex order — exterior oriented
    * CW-in-lon/lat (Mvt.geometryCommands' normalisation), closing duplicate
    * dropped — as (poly_id, vertex_idx, lng, lat) VALUES literals for the
    * rd_mvt_cmds oracle. */
  private lazy val mvtRingVals: String = Fixtures.convexPolygons.flatMap { case (id, _, ring) =>
    val closed = (ring :+ ring.head)
      .map { case (x, y) => new org.locationtech.jts.geom.Coordinate(x, y) }.toArray
    val oriented =
      if (!org.locationtech.jts.algorithm.Orientation.isCCW(closed)) closed else closed.reverse
    oriented.dropRight(1).zipWithIndex.map { case (c, i) =>
      s"($id, $i, ${Fixtures.dblE(c.x)}, ${Fixtures.dblE(c.y)})"
    }
  }.mkString(", ")

  /** The grid's (undirected) edges as a DuckDB VALUES CTE — the SAME
    * driver-computed doubles the Spark grid uses, so path sums (pure `+`)
    * are bit-identical across engines. */
  private lazy val gridEdgesCte: String = {
    val (_, e) = graft.operators.Graph.syntheticGridRows(gridN)
    val both = e ++ e.map(x => (x._2, x._1, x._3))
    val values = both.map { case (s, d, c) => s"($s,$d,$c)" }.mkString(", ")
    s"e AS (SELECT CAST(c0 AS BIGINT) AS src, CAST(c1 AS BIGINT) AS dst, " +
      s"CAST(c2 AS DOUBLE) AS cost_m FROM (VALUES $values) t(c0, c1, c2))"
  }

  /** Budget-bounded shortest-path distances as a recursive CTE: enumerate all
    * walks with cost < budget (positive edge costs terminate the recursion),
    * then min per (origin, node) — Dijkstra's fixpoint, declaratively. */
  private def walkCtes(origins: Seq[Long], budget: Double): String = {
    val ovals = origins.map(o => s"($o)").mkString(", ")
    s"""o AS (SELECT CAST(c0 AS BIGINT) AS origin FROM (VALUES $ovals) t(c0)),
       |walk(origin, node, dist) AS (
       |  SELECT origin, origin, CAST(0.0 AS DOUBLE) FROM o
       |  UNION ALL
       |  SELECT w.origin, e.dst, w.dist + e.cost_m FROM walk w JOIN e ON w.node = e.src
       |  WHERE w.dist + e.cost_m < $budget),
       |d AS (SELECT origin, node, min(dist) AS dist_m FROM walk GROUP BY 1, 2)""".stripMargin
  }

  /** Parent pointers: the smallest tight predecessor per reached node — the
    * engine's deterministic tiebreak (Graph.dijkstra). */
  private val parCte: String =
    """par AS (SELECT d.origin, d.node, min(e.src) AS parent
      |  FROM d JOIN e ON e.dst = d.node
      |  JOIN d dp ON dp.origin = d.origin AND dp.node = e.src
      |    AND dp.dist_m + e.cost_m = d.dist_m
      |  WHERE d.node <> d.origin GROUP BY 1, 2)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "qa_tagged" ->
      s"$ptsCte SELECT point_id, lat, lng FROM pts p WHERE p.event_type = 'click' ORDER BY point_id",
    "qa_keyed" ->
      s"SELECT event_id AS point_id, concat('site-', CAST(event_id AS VARCHAR)) AS name FROM events WHERE event_id % 5 = 0 ORDER BY point_id",
    "qa_typed" ->
      s"SELECT event_id AS point_id FROM events WHERE event_id % 3 = 0 ORDER BY point_id",
    "qa_and_or" ->
      s"SELECT event_id AS point_id FROM events WHERE (($amenitySql = 'cafe' AND event_id % 5 = 0) OR $amenitySql = 'fountain') ORDER BY point_id",
    "qa_token_prefix" ->
      s"SELECT event_id AS point_id FROM events WHERE event_id % 5 = 0 AND concat('site-', CAST(event_id AS VARCHAR)) LIKE 'site-1%' ORDER BY point_id",
    "qa_keyrange" ->
      s"SELECT event_id AS point_id FROM events WHERE event_id >= 1000 AND event_id < 2000 AND $amenitySql = 'restaurant' ORDER BY point_id",
    "qa_intersects_cap" ->
      s"$ptsCte SELECT point_id FROM pts p WHERE ${hav("51.5353", "-0.1258")} < 900.0 ORDER BY point_id",
    "qa_intersects_geom" -> {
      val ring = Fixtures.convexPolygons.head._3
      val edges = ring.indices.map { i =>
        val (x1, y1) = ring(i); val (x2, y2) = ring((i + 1) % ring.size)
        s"(($x2 - $x1) * (p.lat - $y1) - ($y2 - $y1) * (p.lng - $x1)) >= 0"
      }
      s"$ptsCte SELECT point_id FROM pts p WHERE ${edges.mkString(" AND ")} ORDER BY point_id"
    },

    "sj_pip" -> Fixtures.pipOracleSql,
    "sj_pip_rect" ->
      (s"$ptsCte SELECT point_id, rect_id FROM pts p JOIN ${Fixtures.rectsValuesSql} ON " +
        "p.lat >= r.lat_lo AND p.lat < r.lat_hi AND p.lng >= r.lng_lo AND p.lng < r.lng_hi " +
        "ORDER BY point_id, rect_id"),
    "sj_knn" ->
      s"""$ptsCte, scored AS (
         |  SELECT s.site_id, p.point_id,
         |    ${Fixtures.haversineSql("p.lat", "p.lng", "s.site_lat", "s.site_lng")} AS dist
         |  FROM pts p CROSS JOIN ${Fixtures.sitesValuesSql})
         |SELECT site_id, CAST(row_number() OVER (PARTITION BY site_id ORDER BY dist, point_id) AS BIGINT) AS rank, point_id
         |FROM scored QUALIFY rank <= 3 ORDER BY site_id, rank""".stripMargin,
    "sj_tile" ->
      s"""$ptsCte SELECT
         |  CAST(floor((p.lng + 180.0) / 360.0 * 16384.0) AS BIGINT) AS tx,
         |  CAST(floor((1.0 - ln(tan(radians(p.lat)) + sqrt(tan(radians(p.lat)) * tan(radians(p.lat)) + 1.0)) / pi()) / 2.0 * 16384.0) AS BIGINT) AS ty,
         |  count(*) AS n
         |FROM pts p GROUP BY 1, 2 ORDER BY tx, ty""".stripMargin,
    "sj_cap_agg" ->
      s"$ptsCte SELECT p.event_type, count(*) AS n FROM pts p WHERE ${hav("51.5353", "-0.1258")} < 1500.0 GROUP BY 1 ORDER BY event_type",

    "ag_count_values" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1 ORDER BY event_type",
    "ag_sum_by_key" ->
      "SELECT l_returnflag, CAST(sum(l_quantity) AS DOUBLE) AS sum_value FROM lineitem GROUP BY 1 ORDER BY l_returnflag",
    "ag_top" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
    "ag_take" ->
      "SELECT o_orderkey, o_orderstatus FROM orders ORDER BY o_orderkey LIMIT 20",
    "ag_percentiles" ->
      """SELECT DISTINCT l_quantity,
        | CAST(rank() OVER (ORDER BY l_quantity) - 1 AS DOUBLE) / CAST(count(*) OVER () AS DOUBLE) AS percentile
        |FROM lineitem ORDER BY l_quantity""".stripMargin,
    "ag_hist_uniform" ->
      """WITH vals AS (SELECT l_quantity AS v, count(*) AS c FROM lineitem GROUP BY 1),
        |ranked AS (SELECT v, c, row_number() OVER (ORDER BY v) - 1 AS r, count(*) OVER () AS d FROM vals),
        |edges AS (SELECT *, (d // 6) AS e1,
        |  (d // 6) + ((d - (d // 6)) // 5) AS e2 FROM ranked),
        |edges2 AS (SELECT *, e2 + ((d - e2) // 4) AS e3 FROM edges),
        |edges3 AS (SELECT *, e3 + ((d - e3) // 3) AS e4 FROM edges2),
        |edges4 AS (SELECT *, e4 + ((d - e4) // 2) AS e5 FROM edges3),
        |bucketed AS (SELECT v, c,
        |  CAST(CASE WHEN d <= 6 THEN r
        |       WHEN r < e1 THEN 0 WHEN r < e2 THEN 1 WHEN r < e3 THEN 2
        |       WHEN r < e4 THEN 3 WHEN r < e5 THEN 4 ELSE 5 END AS BIGINT) AS bucket
        |  FROM edges4)
        |SELECT bucket, min(v) AS lo, max(v) AS hi, CAST(sum(c) AS BIGINT) AS n
        |FROM bucketed GROUP BY bucket ORDER BY bucket""".stripMargin,
    "ag_hist_categorical" ->
      """WITH counts AS (SELECT source AS v, count(*) AS c FROM documents GROUP BY 1),
        |ranked AS (SELECT v, c, row_number() OVER (ORDER BY c DESC, v) - 1 AS r, count(*) OVER () AS d FROM counts)
        |SELECT CASE WHEN d <= 6 OR r < 5 THEN v ELSE 'other' END AS bucket, CAST(sum(c) AS BIGINT) AS n
        |FROM ranked GROUP BY 1 ORDER BY bucket""".stripMargin,
    "ag_count_valid_keys" ->
      """SELECT c_custkey, CAST(coalesce(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_valid
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "co_join_missing" ->
      """WITH base AS (SELECT o_orderkey, 'base' AS src FROM orders WHERE o_orderstatus = 'O'),
        |joined AS (SELECT o_orderkey, 'joined' AS src FROM orders WHERE o_totalprice > 400000.0)
        |SELECT * FROM base
        |UNION ALL SELECT * FROM joined WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)
        |ORDER BY o_orderkey, src""".stripMargin,
    "co_flatten" ->
      """SELECT word, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY word""".stripMargin,

    "td_token_count" ->
      s"SELECT doc_id, CAST(${TextOps.tokenCountSql("text")} AS BIGINT) AS n_tokens FROM documents ORDER BY doc_id",
    "td_lang_id" ->
      s"SELECT doc_id, ${TextOps.langIdSql("text")} AS lang_pred FROM documents ORDER BY doc_id",
    "td_quality" ->
      s"SELECT doc_id, ${TextOps.qualitySql("text")} AS quality FROM documents ORDER BY doc_id",
    // image curation gate: all-integer rules (aspect via multiplication,
    // not division) + the shared token-count fragment — first-match reason.
    "mm_filter" ->
      (s"""WITH m AS (
        |  SELECT doc_id AS image_id,
        |         CAST(16 + (doc_id * 7919) % 4096 AS INT) AS w,
        |         CAST(16 + (doc_id * 104729) % 4096 AS INT) AS h,
        |         CASE WHEN doc_id % 11 = 0 THEN 'tiny cap' ELSE text END AS caption
        |  FROM documents)
        |SELECT image_id, w, h,
        |       CASE WHEN w < 256 OR h < 256 THEN 'small'
        |            WHEN greatest(w, h) > 3 * least(w, h) THEN 'aspect'
        |            WHEN ${TextOps.tokenCountSql("caption")} < 5 THEN 'caption'
        |            END AS drop_reason
        |FROM m ORDER BY image_id""".stripMargin),
    // aspect-ratio bucketing: the nearest-bucket CASE chain and the
    // id->dims lookups are generated ONCE and shared verbatim — both engines
    // run the identical integer decision tree.
    "mm_aspect_buckets" ->
      (s"""WITH m AS (
        |  SELECT doc_id AS image_id,
        |         CAST(16 + (doc_id * 7919) % 4096 AS INT) AS w,
        |         CAST(16 + (doc_id * 104729) % 4096 AS INT) AS h
        |  FROM documents),
        |a AS (
        |  SELECT image_id, w, h,
        |         ${ImageOps.aspectBucketCaseSql(ImageOps.DefaultAspectBuckets)} AS bucket_id
        |  FROM m)
        |SELECT image_id, w, h, bucket_id,
        |       ${ImageOps.bucketDimCaseSql(ImageOps.DefaultAspectBuckets, "bucket_id", _._1)} AS bucket_w,
        |       ${ImageOps.bucketDimCaseSql(ImageOps.DefaultAspectBuckets, "bucket_id", _._2)} AS bucket_h
        |FROM a ORDER BY image_id""".stripMargin),
    // per-bucket batch assignment: bucket CASE chain shared verbatim; the
    // within-bucket order is the sign-bridged splitmix64 rank (the
    // td_sample_stratified replay), batch cut by integral division.
    "mm_bucket_batches" -> {
      import Fixtures.U64Sql._
      val (smCtes, smOut) = sm64Ctes("src", Seq("image_id", "bucket_id"))
      s"""WITH m AS (
        |  SELECT doc_id AS image_id,
        |         CAST(16 + (doc_id * 7919) % 4096 AS INT) AS w,
        |         CAST(16 + (doc_id * 104729) % 4096 AS INT) AS h
        |  FROM documents),
        |a AS (
        |  SELECT image_id,
        |         ${ImageOps.aspectBucketCaseSql(ImageOps.DefaultAspectBuckets)} AS bucket_id
        |  FROM m),
        |src AS (SELECT image_id, bucket_id, CAST(image_id AS HUGEINT) AS z FROM a),
        |$smCtes,
        |sgn AS (SELECT image_id, bucket_id, ${u2s("h")} AS hs FROM $smOut),
        |r AS (
        |  SELECT image_id, bucket_id,
        |         CAST(row_number() OVER (PARTITION BY bucket_id ORDER BY hs, image_id) AS BIGINT) - 1 AS bk_rank,
        |         count(*) OVER (PARTITION BY bucket_id) AS nb
        |  FROM sgn)
        |SELECT image_id, bucket_id, bk_rank,
        |       CASE WHEN bk_rank < (nb // 32) * 32 THEN bk_rank // 32 END AS batch_id
        |FROM r ORDER BY image_id""".stripMargin
    },
    // PII scrub: injected emails/phones (CASE-varied), Java-regex/RE2-common
    // pattern syntax; counts + scrubbed length + scrubbed md5 replayed.
    "td_pii" ->
      (s"""WITH d AS (
        |  SELECT doc_id, text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex' ||
        |         CAST(doc_id % 7 AS VARCHAR) || '.com' ||
        |         CASE WHEN doc_id % 3 = 0
        |              THEN ' cc admin' || CAST(doc_id AS VARCHAR) || '@corp.org'
        |              ELSE '' END ||
        |         CASE WHEN doc_id % 2 = 0
        |              THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |              ELSE '' END || ' now' AS txt
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(txt, '${TextOps.EmailPattern}')) AS n_emails,
        |    len(regexp_extract_all(txt, '${TextOps.PhonePattern}')) AS n_phones,
        |    regexp_replace(regexp_replace(txt, '${TextOps.EmailPattern}', '<EMAIL>', 'g'),
        |                   '${TextOps.PhonePattern}', '<PHONE>', 'g') AS scrubbed
        |  FROM d)
        |SELECT doc_id, CAST(n_emails AS BIGINT) AS n_emails,
        |       CAST(n_phones AS BIGINT) AS n_phones,
        |       length(scrubbed) AS n_chars_scrubbed, md5(scrubbed) AS scrub_md5
        |FROM s ORDER BY doc_id""".stripMargin),
    // Gopher repetition signals: exact integer counts per doc, two final
    // double divisions; tie rule (count DESC, bigram ASC) mirrored in the
    // Spark-side HashMap scan (TextOps.repetitionSignals).
    "td_repetition" ->
      """WITH w AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos,
        |         unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |stats AS (
        |  SELECT doc_id, any_value(n_chars) AS n_chars, count(*) AS n_words,
        |         count(DISTINCT word) AS n_distinct
        |  FROM w GROUP BY doc_id),
        |bg AS (
        |  SELECT doc_id,
        |         word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
        |  FROM w),
        |bgc AS (
        |  SELECT doc_id, bigram, count(*) AS c FROM bg
        |  WHERE bigram IS NOT NULL GROUP BY doc_id, bigram),
        |top AS (
        |  SELECT doc_id, bigram, c,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram ASC) AS rn
        |  FROM bgc)
        |SELECT s.doc_id, CAST(s.n_words AS BIGINT) AS n_words,
        |       CAST(s.n_words - s.n_distinct AS DOUBLE) / CAST(s.n_words AS DOUBLE) AS dup_word_frac,
        |       t.bigram AS top_bigram,
        |       CAST(t.c * length(t.bigram) AS DOUBLE) / CAST(s.n_chars AS DOUBLE) AS top_bigram_frac
        |FROM stats s LEFT JOIN top t ON s.doc_id = t.doc_id AND t.rn = 1
        |ORDER BY s.doc_id""".stripMargin,
    "td_dedup_exact" ->
      "SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dupes FROM documents GROUP BY 1 ORDER BY content_hash",
    "w_overlay" ->
      s"SELECT event_id AS point_id, CASE WHEN event_id % 7 = 0 THEN 'modified' ELSE $amenitySql END AS amenity FROM events ORDER BY point_id",
    "w_add_tag" ->
      "SELECT event_id AS point_id, concat('st-', CAST(event_id % 4 AS VARCHAR)) AS status FROM events ORDER BY point_id",
    "st_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts)) > 1800000000
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |assigned AS (
        |  SELECT user_id, ts,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS BIGINT) AS session_idx
        |  FROM marked)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts) AS t_start, max(ts) AS t_end
        |FROM assigned GROUP BY 1, 2 ORDER BY user_id, session_idx""".stripMargin,
    "ag_time_window" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, event_type,
        | count(*) AS n, min(value) AS min_v, max(value) AS max_v
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    "co_map_filter" ->
      s"$ptsCte SELECT point_id, p.lat * 2.0 + p.lng AS score FROM pts p WHERE p.lat * 2.0 + p.lng > 102.9 ORDER BY point_id",
    "el_idw" -> {
      val spots = Seq(
        (51.470, -0.190, 12.0), (51.480, -0.170, 18.0), (51.500, -0.150, 25.0),
        (51.520, -0.130, 31.0), (51.535, -0.125, 22.0), (51.550, -0.110, 15.0),
        (51.570, -0.095, 40.0), (51.600, -0.180, 8.0), (51.615, -0.160, 11.0))
        .map { case (a, b, c) => s"(CAST($a AS DOUBLE), CAST($b AS DOUBLE), CAST($c AS DOUBLE))" }
        .mkString("(VALUES ", ", ", ") AS sp(slat, slng, elevation)")
      val d = Fixtures.haversineSql("p.lat", "p.lng", "sp.slat", "sp.slng")
      s"""$ptsCte SELECT p.point_id AS qid,
         | round(sum((1.0 / greatest($d, 0.001)) * sp.elevation) / sum(1.0 / greatest($d, 0.001)), 6) AS elevation
         |FROM pts p CROSS JOIN $spots
         |WHERE p.point_id % 100 = 0 AND $d < 3000.0
         |GROUP BY 1 ORDER BY qid""".stripMargin
    },
    "w_change_tags" ->
      s"""SELECT CASE event_id % 3 WHEN 0 THEN 'point' WHEN 1 THEN 'path' ELSE 'area' END AS ftype,
         |  event_id AS value,
         |  CASE WHEN event_id = 0 THEN 'edited' ELSE $amenitySql END AS amenity,
         |  CASE WHEN event_id % 5 = 0 AND event_id <> 1 THEN concat('site-', CAST(event_id AS VARCHAR)) ELSE NULL END AS name,
         |  CAST(NULL AS VARCHAR) AS route
         |FROM events WHERE event_id <= 2
         |UNION ALL SELECT 'relation', CAST(7 AS BIGINT), NULL, NULL, 'bus'
         |ORDER BY ftype, value""".stripMargin,

    "rel_members" ->
      """SELECT CAST(event_id % 50 AS BIGINT) AS from_id, event_id // 50 AS pos,
        |  event_id AS to_id, concat('role-', CAST(event_id % 3 AS VARCHAR)) AS role
        |FROM events WHERE event_id % 50 = 7 ORDER BY pos""".stripMargin,

    // -- graph plane: recursive-CTE shortest paths over the literal grid --
    "gr_reachable" ->
      s"""WITH RECURSIVE $gridEdgesCte, ${walkCtes(Seq(0L, 71L, 143L), 1200.0)}
         |SELECT origin, node, round(dist_m, 3) AS dist_m FROM d
         |ORDER BY origin, node""".stripMargin,
    "gr_routes" ->
      s"""WITH RECURSIVE $gridEdgesCte, ${walkCtes(Seq(0L, 71L), 900.0)}, $parCte
         |SELECT d.origin, d.node, round(d.dist_m, 3) AS dist_m, par.parent
         |FROM d LEFT JOIN par ON par.origin = d.origin AND par.node = d.node
         |ORDER BY d.origin, d.node""".stripMargin,
    "gr_closest" ->
      s"""WITH RECURSIVE $gridEdgesCte, ${walkCtes(Seq(0L, 71L, 143L), 1200.0)}
         |SELECT origin, node, round(dist_m, 3) AS dist_m FROM (
         |  SELECT d.origin, d.node, d.dist_m,
         |    row_number() OVER (PARTITION BY d.origin ORDER BY d.dist_m, d.node) AS rn
         |  FROM d WHERE d.node IN (27, 60, 105))
         |WHERE rn = 1 ORDER BY origin""".stripMargin,
    "gr_paths" ->
      s"""WITH RECURSIVE $gridEdgesCte, ${walkCtes(Seq(0L), 900.0)}, $parCte,
         |chain(dest, node) AS (
         |  SELECT node, node FROM d WHERE node <> origin
         |  UNION ALL
         |  SELECT c.dest, p.parent FROM chain c JOIN par p ON p.node = c.node)
         |SELECT p.parent AS src, c.node AS dst, CAST(count(*) AS BIGINT) AS n_paths
         |FROM chain c JOIN par p ON p.node = c.node
         |GROUP BY 1, 2 ORDER BY src, dst""".stripMargin,
    "gr_filter_acc" ->
      s"""WITH RECURSIVE $gridEdgesCte, ${walkCtes(Seq(0L, 143L), 700.0)},
         |kept AS (SELECT origin, node FROM d WHERE node >= 100)
         |SELECT origin, node FROM kept
         |UNION ALL
         |SELECT origin, CAST(-1 AS BIGINT) AS node FROM (SELECT DISTINCT origin FROM d)
         |WHERE origin NOT IN (SELECT DISTINCT origin FROM kept)
         |ORDER BY origin, node""".stripMargin,
    "gr_od_hist" ->
      s"""WITH RECURSIVE $gridEdgesCte, ${walkCtes(Seq(0L, 71L, 143L), 700.0)},
         |kept AS (SELECT origin, node FROM d WHERE node >= 100),
         |fa AS (SELECT origin, node FROM kept
         |  UNION ALL
         |  SELECT origin, CAST(-1 AS BIGINT) FROM (SELECT DISTINCT origin FROM d)
         |  WHERE origin NOT IN (SELECT DISTINCT origin FROM kept)),
         |per_origin AS (
         |  SELECT origin, CAST(sum(CASE WHEN node <> -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
         |  FROM fa GROUP BY origin)
         |SELECT n_valid, count(*) AS n_origins FROM per_origin
         |GROUP BY n_valid ORDER BY n_valid""".stripMargin,

    "gr_degree" ->
      s"""WITH $gridEdgesCte
         |SELECT src AS node_id, count(*) AS degree FROM e
         |GROUP BY 1 ORDER BY node_id""".stripMargin,

    // -- connect-to-network: nearest-grid-node argmin over the shared
    //    haversine, both directions of each access edge + the grid --
    "gr_connect" -> {
      val nodeVals = graft.operators.Graph.syntheticGridRows(gridN)._1
        .map { case (id, la, lo) => s"($id, CAST($la AS DOUBLE), CAST($lo AS DOUBLE))" }
        .mkString(", ")
      val d = Fixtures.haversineSql("p.lat", "p.lng", "n.nlat", "n.nlng")
      s"""WITH pts AS (${Fixtures.pointsOracleSql}), $gridEdgesCte,
         |nodes AS (SELECT CAST(c0 AS BIGINT) AS node_id, c1 AS nlat, c2 AS nlng
         |  FROM (VALUES $nodeVals) t(c0, c1, c2)),
         |near AS (
         |  SELECT p.point_id + 100000 AS fid, n.node_id, $d AS dist,
         |    row_number() OVER (PARTITION BY p.point_id ORDER BY $d, n.node_id) AS rn
         |  FROM pts p CROSS JOIN nodes n WHERE p.point_id % 50 = 0),
         |acc AS (SELECT fid, node_id FROM near WHERE rn = 1 AND dist <= 800.0)
         |SELECT src, dst FROM (
         |  SELECT src, dst FROM e
         |  UNION ALL SELECT fid AS src, node_id AS dst FROM acc
         |  UNION ALL SELECT node_id AS src, fid AS dst FROM acc)
         |ORDER BY src, dst""".stripMargin
    },

    // -- vertex plane: literal polygon rings (closed, like JTS coordinates) --
    "pt_points" -> {
      val rows = Fixtures.convexPolygons.flatMap { case (id, _, ring) =>
        (ring :+ ring.head).zipWithIndex.map { case ((x, y), i) => s"($id,$i,$y,$x)" }
      }
      s"""SELECT CAST(c0 AS BIGINT) AS poly_id, CAST(c1 AS BIGINT) AS vertex_idx,
         |  CAST(c2 AS DOUBLE) AS vlat, CAST(c3 AS DOUBLE) AS vlng
         |FROM (VALUES ${rows.mkString(", ")}) t(c0, c1, c2, c3)
         |ORDER BY poly_id, vertex_idx""".stripMargin
    },

    // -- FNV-1 tile feature ids, replayed byte-by-byte in SQL (HUGEINT mul,
    //    xor on the low byte) — bit-exact vs the Catalyst expression --
    "sj_tile_fid" ->
      """WITH RECURSIVE fnv(point_id, i, h) AS (
        |  SELECT event_id, 0, CAST(14695981039346656037 AS HUGEINT) FROM events
        |  UNION ALL
        |  SELECT point_id, i + 1,
        |    ((h * 1099511628211) % 18446744073709551616)
        |      - (((h * 1099511628211) % 18446744073709551616) % 256)
        |      + xor(CAST(((h * 1099511628211) % 18446744073709551616) % 256 AS BIGINT),
        |            CASE
        |              WHEN i < 8 THEN 0
        |              WHEN i < 20 THEN ord(substr('graft/events', i - 7, 1))
        |              ELSE CAST((point_id // CAST(power(2, 8 * (i - 20)) AS BIGINT)) % 256 AS BIGINT)
        |            END)
        |  FROM fnv WHERE i < 28)
        |SELECT point_id,
        |  CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS fid
        |FROM fnv WHERE i = 28 ORDER BY point_id""".stripMargin,

    // -- exact cosine top-k: DuckDB list_dot_product is a sequential double
    //    accumulation, bit-identical to Spark's aggregate(zip_with(...)) --
    "ann_topk" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |scored AS (
        |  SELECT q.qid, e.vec_id AS neighbor_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])) /
        |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(CAST(q.qvec AS DOUBLE[]), CAST(q.qvec AS DOUBLE[])))) AS cosine
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
        |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank, neighbor_id
        |FROM scored QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,

    // -- embedding near-dup pairs vs full brute force: SRP-LSH recall is < 1
    //    in general (the exact refine fixes precision only), so this gate is
    //    valid because the FIXTURE derandomizes it: the only pairs >= 0.99
    //    are the injected x1.0001 clones, whose angle is at float-rounding
    //    scale (~1e-8 rad) — with the deterministic splitmix64 planes every
    //    clone pair lands in identical buckets (AnnSpec asserts the brute
    //    set == clone set on this data, so the equality is reproducible,
    //    not probabilistic) --
    "ann_neardup" ->
      """WITH all_vecs AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(embedding, x -> x * CAST(1.0001 AS FLOAT))
        |  FROM embeddings WHERE vec_id < 10)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM all_vecs a JOIN all_vecs b ON a.vec_id < b.vec_id
        |WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) /
        |  (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[]))) *
        |   sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))) >= 0.99
        |ORDER BY id_a, id_b""".stripMargin,

    // -- shell pipeline: the same derivation as qa_* through the parser --
    "sh_pipeline" ->
      s"""SELECT event_id AS point_id, concat('site-', CAST(event_id AS VARCHAR)) AS name
         |FROM events WHERE $amenitySql = 'cafe' AND event_id % 5 = 0
         |ORDER BY point_id""".stripMargin,

    // -- geometry-intersection join: separating-axis test over the convex
    //    fixture polygons (pure +,-,* comparisons, like sj_pip) --
    "sj_intersection" -> Fixtures.boxIntersectOracleSql,

    // -- shoelace area/centroid replayed with literal left-associated sums
    //    (identical IEEE fold order) + the driver-computed metric factor --
    "geo_scalar" -> Fixtures.geoScalarOracleSql,

    // -- FNV-1a byte replay via list_reduce (HUGEINT multiply mod 2^64, xor
    //    on the low byte — the same trick as the sj_tile_fid FNV-1 CTE) --
    "td_fingerprint" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN hh >= 9223372036854775808 THEN hh - 18446744073709551616 ELSE hh END AS BIGINT) AS fingerprint
        |FROM (
        |  SELECT doc_id, list_reduce(
        |    list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |                 [CAST(ord(c) AS HUGEINT) for c in string_split(text, '')]),
        |    (h, b) -> ((h - (h % 256) + xor(CAST(h % 256 AS BIGINT), CAST(b AS BIGINT))) * 1099511628211) % 18446744073709551616
        |  ) AS hh FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // -- deterministic split + stratified sample: the splitmix64 mix replayed
    //    unsigned in HUGEINT (sm64Ctes), bucket = h mod 10000 (unsigned
    //    remainder on both sides), sample order = signed h with the
    //    td_fingerprint sign bridge --
    "td_split" -> {
      import Fixtures.U64Sql._
      val (smCtes, smOut) = sm64Ctes("src", Seq("doc_id", "n_chars"))
      s"""WITH src AS (SELECT doc_id, n_chars, CAST(doc_id AS HUGEINT) AS z FROM documents),
         |$smCtes,
         |b AS (SELECT doc_id, n_chars, h % 10000 AS bucket FROM $smOut),
         |a AS (SELECT CASE WHEN bucket < 8000 THEN 'train' WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split, doc_id, n_chars FROM b)
         |SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars, CAST(sum(doc_id) AS BIGINT) AS id_checksum
         |FROM a GROUP BY split ORDER BY split""".stripMargin
    },
    "td_sample_stratified" -> {
      import Fixtures.U64Sql._
      val (smCtes, smOut) = sm64Ctes("src", Seq("doc_id", "lang"))
      s"""WITH src AS (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS z FROM documents),
         |$smCtes,
         |sgn AS (SELECT doc_id, lang,
         |  CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS hs FROM $smOut)
         |SELECT lang, CAST(row_number() OVER (PARTITION BY lang ORDER BY hs, doc_id) AS BIGINT) AS rank, doc_id
         |FROM sgn QUALIFY rank <= 5 ORDER BY lang, rank""".stripMargin
    },

    // -- mixture plan: feasible total T = min(n_s / w_s) and quotas
    //    floor(T * w_s) in shared long/double IEEE arithmetic (weights as
    //    scientific literals -> DOUBLE, never DECIMAL), selection replayed
    //    by the sign-bridged splitmix64 rank --
    "td_mixture" -> {
      import Fixtures.U64Sql._
      val (smCtes, smOut) = sm64Ctes("src", Seq("doc_id", "source"))
      s"""WITH w(source, wt) AS (VALUES ('src0', 5e-1), ('src1', 3e-1), ('src2', 2e-1)),
         |cnt AS (SELECT source, count(*) AS n FROM documents JOIN w USING (source) GROUP BY source),
         |tt AS (SELECT min(n / wt) AS t FROM cnt JOIN w USING (source)),
         |k AS (SELECT w.source, CAST(floor(tt.t * w.wt) AS BIGINT) AS kq FROM w, tt),
         |src AS (SELECT doc_id, source, CAST(doc_id AS HUGEINT) AS z FROM documents JOIN w USING (source)),
         |$smCtes,
         |sgn AS (SELECT doc_id, source,
         |  CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616 ELSE h END AS BIGINT) AS hs FROM $smOut),
         |r AS (SELECT source, doc_id, CAST(row_number() OVER (PARTITION BY source ORDER BY hs, doc_id) AS BIGINT) AS rank FROM sgn)
         |SELECT r.source, r.rank, r.doc_id FROM r JOIN k ON r.source = k.source AND r.rank <= k.kq
         |ORDER BY r.source, r.rank""".stripMargin
    },

    // -- packing plan: the distributed prefix sum replayed as ONE ordered
    //    window cumsum; chunk spans by integral division --
    "td_pack" ->
      s"""WITH n AS (SELECT doc_id, CAST(${TextOps.tokenCountSql("text")} AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT) AS cum_before
         |  FROM n)
         |SELECT doc_id, n_tokens, cum_before,
         |  cum_before // 256 AS chunk_first,
         |  CASE WHEN n_tokens > 0 THEN (cum_before + n_tokens - 1) // 256 ELSE cum_before // 256 END AS chunk_last
         |FROM c ORDER BY doc_id""".stripMargin,

    // -- contamination screen: the same distinct-8-gram construction as the
    //    jaccard oracle, benchmark split by doc_id mod, zero-filled left join --
    "td_decontaminate" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+7], ' ') for i in range(1, greatest(len(t) - 6, 1))]) AS gs FROM toks),
        |bsh AS (SELECT DISTINCT unnest(gs) AS g FROM sh WHERE doc_id % 11 = 0),
        |ex AS (SELECT doc_id, unnest(gs) AS g FROM sh WHERE doc_id % 11 <> 0),
        |hits AS (SELECT ex.doc_id, count(*) AS c FROM ex JOIN bsh USING (g) GROUP BY ex.doc_id)
        |SELECT s.doc_id, CAST(len(s.gs) AS BIGINT) AS n_grams,
        |  CAST(coalesce(hits.c, 0) AS BIGINT) AS n_contaminated
        |FROM sh s LEFT JOIN hits ON s.doc_id = hits.doc_id
        |WHERE s.doc_id % 11 <> 0 ORDER BY s.doc_id""".stripMargin,

    // -- exact n-gram Jaccard, brute-forced over all pairs: valid as a FULL
    //    oracle because prefix filtering (TextOps.ngramJaccardJoin) has no
    //    recall hole — the output IS every pair with J >= t. Jaccard is a
    //    division of identical ints on both sides, so hashes match. --
    "td_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, greatest(len(t) - 3, 1))]) AS s FROM toks)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.s, b.s)) >= 1
        |  AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin,

    // -- dedup clusters: transitive closure over the exact n-gram Jaccard
    //    pair graph as a deduplicated recursive CTE (min reachable id) --
    "td_dedup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, list_distinct([array_to_string(t[i:i+4], ' ') for i in range(1, greatest(len(t) - 3, 1))]) AS s FROM toks),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE len(list_intersect(a.s, b.s)) >= 1
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.2),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
        |walk(src, n) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT w.src, e.v FROM walk w JOIN edges e ON e.u = w.n)
        |SELECT src AS doc_id, min(n) AS cluster FROM walk GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // -- phash near-dup pairs: splitmix64 replay + 16-bit band join + exact
    //    popcount (the same U64 staging the simhash/minhash oracles use) --
    "mm_phash_neardup" -> {
      import Fixtures.U64Sql._
      val (smCtes, smOut) = sm64Ctes("seedp", Seq("id"))
      s"""WITH seedp AS (SELECT event_id AS id, CAST(event_id AS HUGEINT) AS z FROM events),
         |$smCtes,
         |allv AS (
         |  SELECT id, h FROM $smOut
         |  UNION ALL
         |  SELECT id + 10000000 AS id, ${x64("h", "3")} AS h FROM $smOut WHERE id % 101 = 0),
         |banded AS (
         |  SELECT id, b.b AS bb,
         |    CAST((h // CAST(power(2, b.b * 16) AS HUGEINT)) % 65536 AS BIGINT) AS bk
         |  FROM allv CROSS JOIN (SELECT unnest(range(4)) AS b) b),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, c.id AS id_b
         |  FROM banded a JOIN banded c ON a.bb = c.bb AND a.bk = c.bk AND a.id < c.id),
         |verified AS (
         |  SELECT cand.id_a, cand.id_b,
         |    bit_count(xor(${u2s("va.h")}, ${u2s("vb.h")})) AS hamming
         |  FROM cand JOIN allv va ON va.id = cand.id_a JOIN allv vb ON vb.id = cand.id_b)
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming FROM verified
         |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
    },

    // -- caption conflicts: the phash band join + string-equality flag --
    "mm_caption_conflicts" -> {
      import Fixtures.U64Sql._
      val (smCtes, smOut) = sm64Ctes("seedp", Seq("id"))
      s"""WITH seedp AS (SELECT event_id AS id, CAST(event_id AS HUGEINT) AS z FROM events),
         |$smCtes,
         |allv AS (
         |  SELECT id, h, concat('cap-', CAST(id % 7 AS VARCHAR)) AS caption FROM $smOut
         |  UNION ALL
         |  SELECT id + 10000000 AS id, ${x64("h", "3")} AS h,
         |    CASE WHEN id % 202 = 0 THEN 'cap-x'
         |         ELSE concat('cap-', CAST(id % 7 AS VARCHAR)) END AS caption
         |  FROM $smOut WHERE id % 101 = 0),
         |banded AS (
         |  SELECT id, b.b AS bb,
         |    CAST((h // CAST(power(2, b.b * 16) AS HUGEINT)) % 65536 AS BIGINT) AS bk
         |  FROM allv CROSS JOIN (SELECT unnest(range(4)) AS b) b),
         |cand AS (
         |  SELECT DISTINCT a.id AS id_a, c.id AS id_b
         |  FROM banded a JOIN banded c ON a.bb = c.bb AND a.bk = c.bk AND a.id < c.id),
         |verified AS (
         |  SELECT cand.id_a, cand.id_b,
         |    bit_count(xor(${u2s("va.h")}, ${u2s("vb.h")})) AS hamming,
         |    va.caption = vb.caption AS caption_match
         |  FROM cand JOIN allv va ON va.id = cand.id_a JOIN allv vb ON vb.id = cand.id_b)
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming, caption_match
         |FROM verified WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin
    },

    // -- simhash replayed exactly: FNV-1a byte chain + splitmix64 (staged
    //    64-bit arithmetic, Fixtures.U64Sql) + bit votes --
    "td_simhash" -> Fixtures.simhashOracleSql,

    // -- SRP-LSH replayed exactly: the deterministic splitmix64 planes are
    //    reconstructed in SQL, so the oracle computes the same buckets and
    //    candidate set as the engine — no recall caveat --
    "ann_lsh" -> Fixtures.annLshOracleSql(tables = 16, bits = 5, dim = 64,
      k = 5, nQueries = 5),

    // -- IVF search replayed exactly: the codebook is a deterministic view
    //    of the data (vec_id < 16), so assignment/probing/candidate rank are
    //    plain SQL over the same sequential-double cosine --
    "ann_ivf" ->
      """WITH cents AS (
        |  SELECT vec_id AS list, CAST(embedding AS DOUBLE[]) AS c
        |  FROM embeddings WHERE vec_id < 16),
        |cosines AS (
        |  SELECT e.vec_id, ct.list,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]), ct.c) /
        |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(ct.c, ct.c))) AS cos
        |  FROM embeddings e CROSS JOIN cents ct),
        |assign AS (
        |  SELECT vec_id, list FROM (
        |    SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, list) AS rn
        |    FROM cosines) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS qid, list FROM (
        |    SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, list) AS rn
        |    FROM cosines WHERE vec_id < 5) WHERE rn <= 4),
        |cand AS (
        |  SELECT DISTINCT p.qid, a.vec_id AS neighbor_id
        |  FROM probes p JOIN assign a ON a.list = p.list
        |  WHERE a.vec_id <> p.qid),
        |scored AS (
        |  SELECT c.qid, c.neighbor_id,
        |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])) /
        |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |     sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])))) AS cosine
        |  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
        |  JOIN embeddings qe ON qe.vec_id = c.qid)
        |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank, neighbor_id
        |FROM scored QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,

    // -- video frame-sampling fan-out from the deterministic container
    //    params (t = idx/fps in IEEE doubles both sides) --
    "mm_frames" ->
      """WITH v AS (
        |  SELECT printf('vid-%08d', i) AS video_id,
        |    32 + (i % 3) * 16 AS w, 32 + (i % 2) * 16 AS h, 8 + (i % 5) AS n_frames
        |  FROM (SELECT unnest(range(200)) AS i)),
        |f AS (SELECT video_id, unnest(range(0, n_frames, 3)) AS frame_idx, w, h FROM v)
        |SELECT video_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(frame_idx AS DOUBLE) / 10.0 AS t_seconds,
        |  CAST(w AS BIGINT) AS w, CAST(h AS BIGINT) AS h
        |FROM f ORDER BY video_id, frame_idx""".stripMargin,

    // -- banded minhash replayed exactly (Fixtures.minhashLshOracleSql) --
    "td_minhash_pairs" -> Fixtures.minhashLshOracleSql,

    // -- basemap tile assignment: Mercator floor + rule gate + layer CASE --
    "rd_assign" ->
      s"""$ptsCte SELECT
         |  CAST(floor((p.lng + 180.0) / 360.0 * 8192.0) AS BIGINT) AS tx,
         |  CAST(floor((1.0 - ln(tan(radians(p.lat)) + sqrt(tan(radians(p.lat)) * tan(radians(p.lat)) + 1.0)) / pi()) / 2.0 * 8192.0) AS BIGINT) AS ty,
         |  CASE WHEN p.point_id % 4 = 0 THEN 'amenity' ELSE 'road' END AS layer,
         |  count(*) AS n
         |FROM pts p WHERE p.point_id % 4 IN (0, 2)
         |GROUP BY 1, 2, 3 ORDER BY tx, ty, layer""".stripMargin,

    // -- MVT command stream: Mercator-to-4096-grid projection, zigzag deltas
    //    and the MoveTo/LineTo/ClosePath word layout replayed over the
    //    literal fixture rings; checksum is the order-weighted word sum --
    "rd_mvt_cmds" -> {
      def zz(e: String) = s"(CASE WHEN ($e) >= 0 THEN 2 * ($e) ELSE -2 * ($e) - 1 END)"
      def wyTile(latE: String) = // GeoOps.tileY's asinh form (bbox cover)
        s"(1.0 - ln(tan(radians($latE)) + sqrt(tan(radians($latE)) * tan(radians($latE)) + 1.0)) / pi()) / 2.0"
      def wyMvt(latE: String) = // Mvt.worldY's 1/cos form (pixel coords)
        s"(1.0 - ln(tan(radians($latE)) + 1.0 / cos(radians($latE))) / pi()) / 2.0"
      s"""WITH ring AS (SELECT CAST(c0 AS BIGINT) AS pid, CAST(c1 AS BIGINT) AS i, c2 AS x, c3 AS y
         |  FROM (VALUES $mvtRingVals) t(c0, c1, c2, c3)),
         |bbox0 AS (SELECT pid, min(x) AS lngLo, max(x) AS lngHi, min(y) AS latLo, max(y) AS latHi,
         |  count(*) AS nv FROM ring GROUP BY pid),
         |bbox AS (SELECT pid, nv,
         |  CAST(floor((lngLo + 180.0) / 360.0 * 16384.0) AS BIGINT) AS x0,
         |  CAST(floor((lngHi + 180.0) / 360.0 * 16384.0) AS BIGINT) AS x1,
         |  CAST(floor(${wyTile("latHi")} * 16384.0) AS BIGINT) AS y0,
         |  CAST(floor(${wyTile("latLo")} * 16384.0) AS BIGINT) AS y1
         |  FROM bbox0),
         |txs AS (SELECT pid, unnest(range(x0, x1 + 1)) AS tx FROM bbox),
         |tys AS (SELECT pid, unnest(range(y0, y1 + 1)) AS ty FROM bbox),
         |tiles AS (SELECT t.pid, t.tx, y.ty FROM txs t JOIN tys y ON y.pid = t.pid),
         |pc AS (SELECT tl.pid, tl.tx, tl.ty, r.i,
         |  CAST(floor(((r.x + 180.0) / 360.0 * 16384.0 - tl.tx) * 4096.0 + 0.5) AS BIGINT) AS px,
         |  CAST(floor((${wyMvt("r.y")} * 16384.0 - tl.ty) * 4096.0 + 0.5) AS BIGINT) AS py
         |  FROM tiles tl JOIN ring r ON r.pid = tl.pid),
         |dc AS (SELECT pid, tx, ty, i, px, py,
         |  lag(px) OVER (PARTITION BY pid, tx, ty ORDER BY i) AS qx,
         |  lag(py) OVER (PARTITION BY pid, tx, ty ORDER BY i) AS qy FROM pc),
         |trm AS (SELECT pid, tx, ty,
         |  CASE WHEN i = 0 THEN 2 * ${zz("px")} + 3 * ${zz("py")}
         |       ELSE (3 + 2 * i) * ${zz("px - qx")} + (4 + 2 * i) * ${zz("py - qy")} END AS t
         |  FROM dc),
         |agg AS (SELECT pid, tx, ty, CAST(sum(t) AS BIGINT) AS vsum FROM trm GROUP BY 1, 2, 3)
         |SELECT a.pid AS fid, a.tx, a.ty, CAST(3 AS BIGINT) AS gtype,
         |  CAST(2 * b.nv + 3 AS BIGINT) AS n_cmds,
         |  CAST(a.vsum + 9 + 4 * (2 + 8 * (b.nv - 1)) + 15 * (2 * b.nv + 3) AS BIGINT) AS cmd_sum
         |FROM agg a JOIN bbox b ON b.pid = a.pid
         |ORDER BY fid, tx, ty""".stripMargin
    },

    // -- sightline ray cast: the 2x2 segment-intersection solve over literal
    //    rational directions and fixture edges, +,-,*,/ only --
    "sl_rays" -> {
      import Fixtures.dblE
      val dirVals = graft.operators.Sightline.rationalDirections
        .map { case (i, ex, ey) => s"($i, ${dblE(ex)}, ${dblE(ey)})" }
        .mkString(", ")
      val edgeVals = sightlineEdges
        .map { case (ax, ay, bx, by) =>
          s"(${dblE(ax)}, ${dblE(ay)}, ${dblE(bx)}, ${dblE(by)})" }
        .mkString(", ")
      val denomS = "nullif(d.ex * (e.by - e.ay) - d.ey * (e.bx - e.ax), 0.0)"
      val tS = s"(((e.ax - p.lng) * (e.by - e.ay) - (e.ay - p.lat) * (e.bx - e.ax)) / $denomS)"
      val uS = s"(((e.ax - p.lng) * d.ey - (e.ay - p.lat) * d.ex) / $denomS)"
      s"""$ptsCte,
         |dirs AS (SELECT CAST(c0 AS BIGINT) AS ray_idx, c1 AS ex, c2 AS ey
         |  FROM (VALUES $dirVals) t(c0, c1, c2)),
         |edges AS (SELECT c0 AS ax, c1 AS ay, c2 AS bx, c3 AS by
         |  FROM (VALUES $edgeVals) t(c0, c1, c2, c3)),
         |cast0 AS (
         |  SELECT p.point_id AS origin_id, d.ray_idx,
         |    CASE WHEN $tS > 0.0 AND $tS <= 1.0
         |      AND $uS >= 0.0 AND $uS <= 1.0 THEN $tS END AS t
         |  FROM pts p CROSS JOIN dirs d CROSS JOIN edges e
         |  WHERE p.point_id % 5000 = 0)
         |SELECT origin_id, ray_idx, coalesce(min(t), CAST(1.0 AS DOUBLE)) AS occlusion
         |FROM cast0 GROUP BY 1, 2 ORDER BY origin_id, ray_idx""".stripMargin
    },

    // -- visibility-polygon shoelace over the rational ray fan: the sl_rays
    //    occlusion core + vertex assembly + an ORDERED fold of the shoelace
    //    terms (list_reduce == Spark's aggregate over the ray_idx-sorted
    //    collect_list; see CLAUDE.md on cross-engine double sums) --
    "sl_polygon" -> {
      import Fixtures.dblE
      val dirVals = graft.operators.Sightline.rationalDirections
        .map { case (i, ex, ey) => s"($i, ${dblE(ex)}, ${dblE(ey)})" }
        .mkString(", ")
      val edgeVals = sightlineEdges
        .map { case (ax, ay, bx, by) =>
          s"(${dblE(ax)}, ${dblE(ay)}, ${dblE(bx)}, ${dblE(by)})" }
        .mkString(", ")
      val denomS = "nullif(d.ex * (e.by - e.ay) - d.ey * (e.bx - e.ax), 0.0)"
      val tS = s"(((e.ax - p.lng) * (e.by - e.ay) - (e.ay - p.lat) * (e.bx - e.ax)) / $denomS)"
      val uS = s"(((e.ax - p.lng) * d.ey - (e.ay - p.lat) * d.ex) / $denomS)"
      s"""$ptsCte,
         |dirs AS (SELECT CAST(c0 AS BIGINT) AS ray_idx, c1 AS ex, c2 AS ey
         |  FROM (VALUES $dirVals) t(c0, c1, c2)),
         |edges AS (SELECT c0 AS ax, c1 AS ay, c2 AS bx, c3 AS by
         |  FROM (VALUES $edgeVals) t(c0, c1, c2, c3)),
         |cast0 AS (
         |  SELECT p.point_id AS origin_id, d.ray_idx,
         |    CASE WHEN $tS > 0.0 AND $tS <= 1.0
         |      AND $uS >= 0.0 AND $uS <= 1.0 THEN $tS END AS t
         |  FROM pts p CROSS JOIN dirs d CROSS JOIN edges e
         |  WHERE p.point_id % 5000 = 0),
         |occ AS (SELECT origin_id, ray_idx, coalesce(min(t), CAST(1.0 AS DOUBLE)) AS occlusion
         |  FROM cast0 GROUP BY 1, 2),
         |v AS (SELECT o.origin_id, o.ray_idx,
         |    p.lng + o.occlusion * d.ex AS vx, p.lat + o.occlusion * d.ey AS vy
         |  FROM occ o JOIN pts p ON p.point_id = o.origin_id
         |  JOIN dirs d ON d.ray_idx = o.ray_idx),
         |trm AS (SELECT a.origin_id, a.ray_idx, a.vx * b.vy - b.vx * a.vy AS trm
         |  FROM v a JOIN v b ON b.origin_id = a.origin_id AND b.ray_idx = (a.ray_idx + 1) % 16)
         |SELECT origin_id, list_reduce(list(trm ORDER BY ray_idx), (x, y) -> x + y) * ${dblE(0.5)} AS area_deg2
         |FROM trm GROUP BY origin_id ORDER BY origin_id""".stripMargin
    },

    // geo_hull / mm_decode: oracled via oracleSqlDynamic (driver-literal hull
    // vertices + generator-formula decode metadata).
    // rd_mvt / rd_basemap / sl_sightline: rows-only (protobuf tile bytes /
    // the trig-angle visibility polygon are not SQL) — exactness covered by
    // the ScalaTest wire-level and golden oracles, and their SQL-expressible
    // halves are oracled separately: rd_assign (tile assignment + rule gate +
    // layer pick), rd_mvt_cmds (the full encoder command stream), sl_rays
    // (the per-ray occlusion core) and sl_polygon (polygon assembly +
    // ordered shoelace fold).
  )

  /** Shared trained-IVF codebook for the ann_ivf_trained query and its
    * oracle: deterministic Lloyd's over the first 256 vectors (ordered by
    * vec_id), 8 lists, 3 iterations. */
  private def trainedIvfCentroids(s: SparkSession, d: String): Array[Array[Double]] =
    Ann.trainIvfCentroids(t(s, d, "embeddings"), nLists = 8, iters = 3, sampleN = 256)

  /** Shared PQ codebooks for ann_pq and its oracle: 8 subspaces x 16
    * centroids, deterministic Lloyd's over the first 256 vectors. */
  private def trainedPqCodebooks(s: SparkSession, d: String): Array[Array[Array[Double]]] =
    Ann.trainPqCodebooks(t(s, d, "embeddings"))

  /**
   * Oracles whose SQL embeds DRIVER-COMPUTED literals derived from the data
   * at `sfDir` (the geo_scalar trick, but data-dependent): built by Verify —
   * which has the session and the scale factor in hand — and dumped into the
   * same oracle_sql.json the driver replays in DuckDB. Double literals use
   * java.lang.Double.toString (shortest round-trip form), so DuckDB parses
   * back the identical IEEE bits.
   */
  def oracleSqlDynamic(spark: SparkSession, sfDir: String): Map[String, String] = {
    // geo_hull: hull vertices recomputed by the JTS-independent monotone
    // chain (GeoOps.convexHullChain) over the capped point set, embedded as
    // literals; DuckDB recomputes n_vertices and replays the ascending
    // shoelace fold itself — vertex set AND arithmetic both checked.
    val cappedLngLat = graft.operators.SpatialJoins.withinCap(
        Fixtures.points(spark, sfDir), 51.5353, -0.1258, 2000.0)
      .select("lng", "lat").collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    val hullVerts = graft.core.GeoOps.canonicalRing(
      graft.core.GeoOps.convexHullChain(cappedLngLat))
    val hullVals = hullVerts.zipWithIndex.map { case ((x, y), i) =>
      s"($i, ${Fixtures.dblE(x)}, ${Fixtures.dblE(y)})"
    }.mkString(", ")
    val geoHullSql =
      s"""WITH v AS (SELECT CAST(c0 AS BIGINT) AS i, c1 AS x, c2 AS y
         |  FROM (VALUES $hullVals) t(c0, c1, c2)),
         |trm AS (SELECT i,
         |  x * coalesce(lead(y) OVER (ORDER BY i), (SELECT y FROM v WHERE i = 0))
         |  - coalesce(lead(x) OVER (ORDER BY i), (SELECT x FROM v WHERE i = 0)) * y AS t
         |  FROM v)
         |SELECT v.i AS vertex_idx, v.x AS vlng, v.y AS vlat,
         |  (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_vertices,
         |  (SELECT list_reduce(list(t ORDER BY i), (a, b) -> a + b) FROM trm) * 5e-1 AS area_deg2
         |FROM v ORDER BY vertex_idx""".stripMargin
    val cents = trainedIvfCentroids(spark, sfDir)
    val centValues = cents.zipWithIndex.map { case (c, l) =>
      s"($l, CAST(${c.map(Fixtures.dblE).mkString("[", ", ", "]")} AS DOUBLE[]))"
    }.mkString(", ")
    val cbs = trainedPqCodebooks(spark, sfDir)
    val cbValues = (for {
      s <- cbs.indices; j <- cbs(s).indices
    } yield s"($s, $j, CAST(${cbs(s)(j).map(Fixtures.dblE).mkString("[", ", ", "]")} AS DOUBLE[]))")
      .mkString(", ")
    // mm_decode: the decoded dims/format must equal the generator's intended
    // params and every row must decode cleanly at >= 40 dB — the oracle
    // predicts all of it from the deterministic container formula (the
    // mm_frames pattern), so a decode regression (wrong dims, failed parse,
    // lossy corruption) fails the gate. Pixel bytes stay spec-covered
    // (ImageSpec PSNR + byte equality).
    val mmDecodeN =
      if (sfDir.contains("0.001")) 200L else if (sfDir.contains("0.01")) 1000L else 5000L
    val mmDecodeSql =
      s"""SELECT printf('img-%012d', i) AS image_id,
         |  CAST([64,128,256][CAST(i % 3 AS INT) + 1] AS INT) AS w,
         |  CAST([64,96,256][CAST(i % 3 AS INT) + 1] AS INT) AS h,
         |  ['ppm','png'][CAST(i % 2 AS INT) + 1] AS fmt,
         |  true AS psnr_ok, true AS decoded_ok
         |FROM (SELECT unnest(range($mmDecodeN)) AS i) ORDER BY image_id""".stripMargin
    // mm_thumbs: aspect-preserving integer downscale to maxDim=64 + PPM (P6)
    // re-encode — target dims AND the exact container byte length are pure
    // formula (header "P6\n{tw} {th}\n255\n" + tw*th*3), so the oracle
    // replays both; thumbnail pixel bytes stay spec-covered (ImageSpec
    // nearest-neighbor replay).
    val mmThumbsSql =
      s"""SELECT image_id, tw, th,
         |  CAST(9 + length(CAST(tw AS VARCHAR)) + length(CAST(th AS VARCHAR))
         |    + tw * th * 3 AS INT) AS thumb_len
         |FROM (
         |  SELECT printf('img-%012d', i) AS image_id,
         |    CAST([64, 64, 64][CAST(i % 3 AS INT) + 1] AS INT) AS tw,
         |    CAST([64, 48, 64][CAST(i % 3 AS INT) + 1] AS INT) AS th
         |  FROM (SELECT unnest(range($mmDecodeN)) AS i))
         |ORDER BY image_id""".stripMargin
    Map(
      "geo_hull" -> geoHullSql,
      "mm_decode" -> mmDecodeSql,
      "mm_thumbs" -> mmThumbsSql,
      // PQ/ADC replay: assignment argmax + ascending-subspace list_reduce
      // folds mirror the engine's sequential-double accumulation exactly
      "ann_pq" ->
        s"""WITH cb AS (
           |  SELECT CAST(c0 AS BIGINT) AS s, CAST(c1 AS BIGINT) AS code, c2 AS c,
           |    list_dot_product(c2, c2) AS cc
           |  FROM (VALUES $cbValues) t(c0, c1, c2)),
           |assign AS (
           |  SELECT vec_id, s, code FROM (
           |    SELECT e.vec_id, cb.s, cb.code,
           |      row_number() OVER (PARTITION BY e.vec_id, cb.s ORDER BY
           |        (list_dot_product(CAST(e.embedding[cb.s * 8 + 1 : cb.s * 8 + 8] AS DOUBLE[]), cb.c)
           |         - 0.5e0 * cb.cc) DESC, cb.code) AS rn
           |    FROM embeddings e CROSS JOIN cb) WHERE rn = 1),
           |parts AS (
           |  SELECT q.vec_id AS qid, a.vec_id AS nid, a.s,
           |    list_dot_product(CAST(q.embedding[a.s * 8 + 1 : a.s * 8 + 8] AS DOUBLE[]), cb.c) AS dnum,
           |    cb.cc AS crr
           |  FROM assign a
           |  JOIN cb ON cb.s = a.s AND cb.code = a.code
           |  CROSS JOIN (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5) q
           |  WHERE a.vec_id <> q.vec_id),
           |folded AS (
           |  SELECT qid, nid,
           |    list_reduce(list(dnum ORDER BY s), (a, b) -> a + b) AS num,
           |    list_reduce(list(crr ORDER BY s), (a, b) -> a + b) AS rr
           |  FROM parts GROUP BY 1, 2),
           |scored AS (
           |  SELECT f.qid, f.nid AS neighbor_id,
           |    f.num / (sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[]))) * sqrt(f.rr)) AS adc
           |  FROM folded f JOIN embeddings qe ON qe.vec_id = f.qid)
           |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY adc DESC, neighbor_id) AS BIGINT) AS rank, neighbor_id
           |FROM scored QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin,
      "ann_ivf_trained" ->
        s"""WITH cents AS (
           |  SELECT CAST(c0 AS BIGINT) AS list, c1 AS c
           |  FROM (VALUES $centValues) t(c0, c1)),
           |cosines AS (
           |  SELECT e.vec_id, ct.list,
           |    list_dot_product(CAST(e.embedding AS DOUBLE[]), ct.c) /
           |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           |     sqrt(list_dot_product(ct.c, ct.c))) AS cos
           |  FROM embeddings e CROSS JOIN cents ct),
           |assign AS (
           |  SELECT vec_id, list FROM (
           |    SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, list) AS rn
           |    FROM cosines) WHERE rn = 1),
           |probes AS (
           |  SELECT vec_id AS qid, list FROM (
           |    SELECT vec_id, list, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, list) AS rn
           |    FROM cosines WHERE vec_id < 5) WHERE rn <= 3),
           |cand AS (
           |  SELECT DISTINCT p.qid, a.vec_id AS neighbor_id
           |  FROM probes p JOIN assign a ON a.list = p.list
           |  WHERE a.vec_id <> p.qid),
           |scored AS (
           |  SELECT c.qid, c.neighbor_id,
           |    list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])) /
           |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
           |     sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])))) AS cosine
           |  FROM cand c JOIN embeddings e ON e.vec_id = c.neighbor_id
           |  JOIN embeddings qe ON qe.vec_id = c.qid)
           |SELECT qid, CAST(row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank, neighbor_id
           |FROM scored QUALIFY rank <= 5 ORDER BY qid, rank""".stripMargin)
  }
}
