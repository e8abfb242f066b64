package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

class TextOpsSpec extends SparkSuite {
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old canal bridge"),
    (2L, "the quick brown fox jumps over the lazy dog near the old canal bridge today"), // near-dup of 1
    (3L, "a completely different document about spark joins and shuffles and skew"),
    (4L, "le chat et le chien et le poisson dans le jardin"),
    (5L, "der hund und der vogel und der fisch im garten"),
    (6L, "the quick brown fox jumps over the lazy dog near the old canal bridge"), // exact dup of 1
  ).toDF("doc_id", "text")

  test("dedupExact groups identical content, keeps min id") {
    val got = TextOps.dedupExact(docs, "doc_id", "text")
      .select("keep_id", "n_dupes").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash LSH finds the near-dup and exact-dup pairs, not unrelated docs") {
    val pairs = TextOps.dedupMinhashLsh(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 6L)), "exact dup must be found")
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 6L)), "near dup must be found")
    assert(!pairs.exists(p => Set(p._1, p._2).intersect(Set(3L, 4L, 5L)).nonEmpty),
      "unrelated docs must not pair")
  }

  test("minhash LSH degenerate bucket (identical docs + boilerplate cluster) stays star-bounded") {
    // 800 byte-identical docs all but guarantee one band bucket of 800 —
    // pairwise would be ~320k candidates in ONE task; the star bound emits
    // n-1 pairs through the min-id representative, all verifying at J=1.
    // A small honest near-dup pair in a normal-size bucket is unaffected.
    val boiler = (0 until 800).map(i =>
      (i.toLong, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"))
    val real = Seq(
      (9000L, "completely original text about spark catalyst expression codegen"),
      (9001L, "completely original text about spark catalyst expression codegen too"))
    val df = (boiler ++ real).toDF("doc_id", "text")
    val pairs = TextOps.dedupMinhashLsh(df, "doc_id", "text", threshold = 0.5,
      maxBucketSize = 64)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val star = (1L until 800L).map(i => (0L, i)).toSet
    assert(star.subsetOf(pairs), s"star pairs missing: got ${pairs.size}")
    assert(pairs.contains((9000L, 9001L)), "normal near-dup must still be found pairwise")
    // bounded: nothing beyond star + the honest pair (no quadratic blow-up)
    assert(pairs == star + ((9000L, 9001L)), s"unexpected extras: ${(pairs -- star - ((9000L, 9001L))).take(5)}")
  }

  test("star degradation is not silent: observe() metrics count degraded buckets + forgone pairs") {
    // 5k byte-identical docs: every band bucket is degenerate. Output stays
    // star-bounded (n-1 pairs) AND the observe() metrics report exactly how
    // many buckets degraded and how many pairwise candidates the stars
    // forwent — a dedup report can no longer read as exhaustive when it isn't.
    val n = 5000
    val df = (0 until n).map(i =>
      (i.toLong, "same boilerplate text repeated in every document body verbatim"))
      .toDF("doc_id", "text")
    val projected = TextOps.dedupMinhashLsh(df, "doc_id", "text",
      threshold = 0.5, maxBucketSize = 64).select("id_a", "id_b")
    // NB collect on `projected` ITSELF: observed metrics attach to the
    // QueryExecution the action ran on, not to derived Datasets
    val got = projected.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (1L until n).map(i => (0L, i)).toSet, s"star output not bounded: ${got.size}")
    val (buckets, forgone) = projected.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(TextOps.BucketStarMetricPrefix) =>
        (row.getAs[Long]("degraded_buckets"), row.getAs[Long]("forgone_pairs"))
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    // 8 bands, each one degenerate 5000-doc bucket forgoing (n-1)(n-2)/2
    // pairwise candidates beyond its star's n-1
    assert(buckets == 8, s"degraded_buckets=$buckets")
    assert(forgone == 8L * (n - 1).toLong * (n - 2).toLong / 2, s"forgone_pairs=$forgone")
  }

  test("minhash jaccard estimate equals exact shingle jaccard on verification") {
    val pairs = TextOps.dedupMinhashLsh(docs, "doc_id", "text", threshold = 0.0)
      .where(col("id_a") === 1L && col("id_b") === 6L).collect()
    assert(pairs.length == 1 && pairs(0).getDouble(2) == 1.0)
  }

  test("simhash: identical docs have hamming 0, near-dups small, unrelated large") {
    val sig = TextOps.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sig(1L) == sig(6L))
    val hammingNear = java.lang.Long.bitCount(sig(1L) ^ sig(2L))
    val hammingFar = java.lang.Long.bitCount(sig(1L) ^ sig(3L))
    assert(hammingNear < hammingFar, s"near=$hammingNear far=$hammingFar")
  }

  test("ngramJaccardJoin returns exact jaccard") {
    val got = TextOps.ngramJaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 6L)) && got.contains((1L, 2L)))
    assert(!got.contains((1L, 3L)))
  }

  test("dedupClusters labels connected components with the min member id (incl. chains)") {
    import spark.implicits._
    // a star (1-2, 1-3), a CHAIN (10-11, 11-12, 12-13) — exercises the
    // pointer-doubling hop — and isolated vertices
    val pairs = Seq((1L, 2L), (1L, 3L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("id_a", "id_b")
    val vertices = (Seq(1L, 2L, 3L, 10L, 11L, 12L, 13L) ++ Seq(99L)).toDF("doc_id")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 99L -> 99L)
    // auto mode (driver union-find at this size)
    val got = TextOps.dedupClusters(pairs, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
    // distributed pointer-doubling mode, forced
    val gotDist = TextOps.dedupClustersWithRounds(pairs, vertices)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist == expected)
  }

  test("dedupClusters distributed mode converges in O(log n) rounds on a 10k path graph") {
    import spark.implicits._
    // worst case for label propagation: ten 1000-node CHAINS with scrambled
    // ids (splitmix64 ranks), so the min label must traverse the full
    // diameter — pointer doubling must close each chain in ~log2(1000)
    // rounds, not ~1000
    val perm = (0L until 10000L).sortBy(i => graft.model.Fixtures.splitmix64(i))
    val chains = perm.grouped(1000).toSeq
    val pairs = chains.flatMap(c => c.sliding(2).map(p => (p(0), p(1))).toSeq)
      .toDF("id_a", "id_b")
    val vertices = (0L until 10000L).toDF("doc_id")
    val (labDf, rounds) = TextOps.dedupClustersWithRounds(pairs, vertices)
    val got = labDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = chains.flatMap(c => { val m = c.min; c.map(_ -> m) }).toMap
    assert(got == expected)
    // 2^rounds >= diameter plus init + confirmation slack; without the
    // label-of-label hop this would be ~1000 rounds
    assert(rounds <= 16, s"pointer doubling took $rounds rounds for diameter 1000")
  }

  test("dedupClusters driver mode sizes and reads the pair graph in one guarded collect") {
    val pairs = Seq((1L, 2L), (1L, 3L), (10L, 11L), (11L, 12L), (12L, 13L))
      .toDF("id_a", "id_b")
    val vertices = (Seq(1L, 2L, 3L, 10L, 11L, 12L, 13L) ++ Seq(99L)).toDF("doc_id")
    val (labels, jobs) = JobCount(spark)(TextOps.dedupClusters(pairs, vertices))
    // the distinct's shuffle-map job and the guarded collect; a separate
    // limit(n + 1).count() size probe ahead of the collect would add two more
    assert(jobs == 2, s"dedupClusters started $jobs jobs while it built")
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L, 99L -> 99L))
  }

  test("dedupClusters over ngram pairs equals driver union-find") {
    import spark.implicits._
    val pairs = TextOps.ngramJaccardJoin(docs, "doc_id", "text", k = 3, threshold = 0.5)
    val got = TextOps.dedupClusters(pairs, docs.select("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver union-find oracle
    val parent = scala.collection.mutable.Map((1L to 6L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.select("id_a", "id_b").as[(Long, Long)].collect().foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (1L to 6L).map(i => i -> find(i)).toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("hammingPairs64 finds exactly the pairs within Hamming 3 (brute force)") {
    import spark.implicits._
    val sigs = (0L until 300L).map(i => (i, graft.model.Fixtures.splitmix64(i))) ++
      Seq((1000L, graft.model.Fixtures.splitmix64(7L) ^ 3L), // Hamming 2 from id 7
          (1001L, graft.model.Fixtures.splitmix64(7L) ^ 0x8000000000000001L)) // Hamming 2, high bit
    val df = sigs.toDF("id", "sig")
    val got = TextOps.hammingPairs64(df, "id", "sig")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    assert(got == expected, s"got=$got expected=$expected")
    assert(expected.contains((7L, 1000L)) && expected.contains((7L, 1001L)))
  }

  test("fingerprint is order-sensitive and deterministic") {
    val fp = TextOps.fingerprint(
      Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text"), "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(fp(1L) == fp(3L) && fp(1L) != fp(2L))
  }

  test("langId picks the language with the strongest stopword score") {
    val got = TextOps.langId(docs, "text").select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(4L) == "fr" && got(5L) == "de")
  }

  test("tokenCount counts single-spaced tokens") {
    val got = TextOps.tokenCount(Seq((1L, "a b c"), (2L, "")).toDF("doc_id", "text"), "text")
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(got == Map(1L -> 3, 2L -> 0))
  }

  test("hashSplit: deterministic, partition-invariant, matches the driver mix, ~80/10/10") {
    val n = 5000L
    val ids = spark.range(n).select(col("id").as("doc_id"))
    val weights = Seq("train" -> 8000, "val" -> 1000, "test" -> 1000)
    def splitOf(id: Long): String = {
      val b = java.lang.Long.remainderUnsigned(graft.model.Fixtures.splitmix64(id), 10000L)
      if (b < 8000) "train" else if (b < 9000) "val" else "test"
    }
    val got = TextOps.hashSplit(ids, "doc_id", weights)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert((0L until n).forall(i => got(i) == splitOf(i)), "split must equal the driver-side mix")
    // stable under repartitioning (the 100 TB invariant: assignment is a
    // pure function of the id, never of physical layout)
    val re = TextOps.hashSplit(ids.repartition(17), "doc_id", weights)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == got)
    val frac = got.values.groupBy(identity).view.mapValues(_.size / n.toDouble).toMap
    assert(math.abs(frac("train") - 0.8) < 0.02 && math.abs(frac("val") - 0.1) < 0.01 &&
      math.abs(frac("test") - 0.1) < 0.01, s"fractions off: $frac")
  }

  test("packPlan: distributed prefix sum equals the sequential pack, any partitioning") {
    val rows = (0L until 1000L).map(i => (i, (graft.model.Fixtures.splitmix64(i) % 97 + 97) % 97))
    def expected: Map[Long, (Long, Long, Long)] = {
      var cum = 0L
      rows.sortBy(_._1).map { case (id, n) =>
        val first = cum / 64
        val last = if (n > 0) (cum + n - 1) / 64 else first
        val r = id -> (cum, first, last); cum += n; r
      }.toMap
    }
    for (parts <- Seq(1, 7, 64)) {
      val df = rows.toDF("doc_id", "n_tokens").repartition(parts)
      val got = TextOps.packPlan(df, "doc_id", "n_tokens", 64)
        .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      assert(got == expected, s"mismatch at input partitions=$parts")
    }
  }

  test("mixturePlan: feasible total, exact per-source quotas, deterministic picks") {
    // skewed sources: a=100, b=30, c=10 rows; weights 0.5/0.3/0.2
    // T = min(100/0.5, 30/0.3, 10/0.2) = 50 -> quotas 25/15/10
    val rows = (0L until 100L).map(i => (i, "a")) ++
      (100L until 130L).map(i => (i, "b")) ++ (130L until 140L).map(i => (i, "c")) ++
      (140L until 150L).map(i => (i, "ignored"))
    val df = rows.toDF("doc_id", "source").repartition(9)
    val got = TextOps.mixturePlan(df, "doc_id", "source",
        Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2))
      .select("source", "rank", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val quotas = Map("a" -> 25, "b" -> 15, "c" -> 10)
    val exp = rows.filter(r => quotas.contains(r._2)).groupBy(_._2).flatMap {
      case (s, rs) => rs.map(_._1)
        .sortBy(id => (graft.model.Fixtures.splitmix64(id), id)).take(quotas(s))
        .zipWithIndex.map { case (id, i) => (s, (i + 1).toLong, id) }
    }.toSet
    assert(got == exp)
    assert(got.count(_._1 == "a") == 25 && got.count(_._1 == "b") == 15 &&
      got.count(_._1 == "c") == 10 && !got.exists(_._1 == "ignored"))
  }

  test("plan shapes: hashSplit is scan-side (no Exchange); packPlan cumsum adds no Exchange") {
    val ids = spark.range(1000).select(col("id").as("doc_id"), (col("id") % 7).as("n_tokens"))
    val split = TextOps.hashSplit(ids.select("doc_id"), "doc_id",
      Seq("train" -> 9000, "test" -> 1000))
    split.count()
    val splitPlan = split.queryExecution.executedPlan.toString
    assert(!splitPlan.contains("Exchange"),
      s"hashSplit must be a pure scan-side map:\n${splitPlan.take(800)}")
    val pack = TextOps.packPlan(ids, "doc_id", "n_tokens", 64)
    pack.count()
    // everything above the persisted range-partitioned relation must be
    // shuffle-free: the cumsum is sortWithinPartitions + mapPartitions, NOT
    // a Window.partitionBy(pid) (which would re-Exchange the whole table)
    val packPlanStr = pack.queryExecution.executedPlan.toString
    val aboveCache = packPlanStr.split("InMemoryTableScan").head
    assert(aboveCache.contains("MapPartitions"), packPlanStr.take(1200))
    assert(!aboveCache.contains("Exchange"),
      s"packPlan above the cached range partition must not shuffle:\n${packPlanStr.take(1200)}")
  }

  test("contaminationScreen counts benchmark k-grams per corpus doc, zero-filled") {
    def grams(s: String, k: Int): Set[String] =
      s.split(" ").sliding(k).filter(_.length == k).map(_.mkString(" ")).toSet
    val bench = docs.where(col("doc_id") === 1L)
    val corpus = docs.where(col("doc_id") =!= 1L)
    val got = TextOps.contaminationScreen(corpus, bench, "doc_id", "text", 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bg = grams(docs.where(col("doc_id") === 1L).head.getString(1), 8)
    val exp = docs.where(col("doc_id") =!= 1L).collect().map { r =>
      val g = grams(r.getString(1), 8)
      r.getLong(0) -> (g.size.toLong, g.count(bg.contains).toLong)
    }.toMap
    assert(got == exp)
    // the exact dup is fully contaminated; unrelated docs report zero
    assert(got(6L)._1 == got(6L)._2 && got(6L)._2 > 0)
    assert(got(3L)._2 == 0L && got(4L)._2 == 0L)
  }

  test("stratifiedSample: exact per-stratum k by the hash order, prefix-extensible") {
    val rows = (0L until 400L).map(i => (i, s"s${i % 3}"))
    val df = rows.toDF("doc_id", "lang").repartition(13)
    def expected(k: Int): Set[(String, Long, Long)] = rows.groupBy(_._2).toSeq.flatMap {
      case (lang, rs) => rs.map(_._1)
        .sortBy(id => (graft.model.Fixtures.splitmix64(id), id)).take(k)
        .zipWithIndex.map { case (id, i) => (lang, (i + 1).toLong, id) }
    }.toSet
    val got = TextOps.stratifiedSample(df, "lang", "doc_id", 7)
      .select("lang", "rank", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected(7))
    // k'=3 sample is a prefix of the k=7 sample (reproducible sampling)
    val got3 = TextOps.stratifiedSample(df, "lang", "doc_id", 3)
      .select("lang", "rank", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got3 == expected(3) && got3.subsetOf(got))
  }

  test("piiScrub: counts and redacts emails/phones; Java-regex result matches RE2 semantics") {
    val cases = Seq(
      (1L, "write to alice.smith@example.com or bob@sub.domain.org today"),
      (2L, "call +1-555-0142 or 020-7946-0958 now"),
      (3L, "mixed a@b.io and +44-20-7946-0958 and c.d%e@f-g.co.uk end"),
      (4L, "no pii here at all"),
    ).toDF("doc_id", "text")
    val got = TextOps.piiScrub(cases, "text")
      .select("doc_id", "n_emails", "n_phones", "scrubbed")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(1L) == ((2L, 0L, "write to <EMAIL> or <EMAIL> today")))
    assert(got(2L) == ((0L, 2L, "call <PHONE> or <PHONE> now")))
    assert(got(3L) == ((2L, 1L, "mixed <EMAIL> and <PHONE> and <EMAIL> end")))
    assert(got(4L) == ((0L, 0L, "no pii here at all")))
    // RE2 (DuckDB) replays the same counts and scrubbed strings — the gate's
    // td_pii oracle asserts this bit-exactly on the injected corpus; here we
    // assert the patterns avoid Java-only syntax (no backrefs/lookaround).
    assert(!TextOps.EmailPattern.matches(".*\\(\\?[=<!].*") &&
      !TextOps.PhonePattern.contains("(?"))
  }

  test("repetitionSignals: exact fractions vs a brute-force oracle, tie rule, degenerate docs") {
    // brute force: group words / bigrams in plain Scala collections
    def brute(text: String): (Long, Double, Option[String], Option[Double]) = {
      val ws = text.split(" ", -1)
      val dup = (ws.length - ws.distinct.length).toDouble / ws.length
      val bgs = ws.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      if (bgs.isEmpty) (ws.length.toLong, dup, None, None)
      else {
        val counts = bgs.groupBy(identity).view.mapValues(_.size).toSeq
        val (b, c) = counts.minBy { case (bg, n) => (-n, bg) }
        (ws.length.toLong, dup, Some(b), Some(c.toDouble * b.length / text.length))
      }
    }
    val cases = Seq(
      (1L, "a a a a b"),                        // heavy repetition
      (2L, "x y x y x y z"),                    // bigram tie candidates: "x y" 3, "y x" 2
      (3L, "b a b a a b a b"),                  // ties: "a b" 3 vs "b a" 3 -> "a b" wins (asc)
      (4L, "single"),                           // one word: NULL bigram
      (5L, "unique words only here now"),       // dup frac 0
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(cases, "text")
      .select("doc_id", "n_words", "dup_word_frac", "top_bigram", "top_bigram_frac")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2),
         Option(r.getString(3)), if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    for ((id, text) <- Seq((1L, "a a a a b"), (2L, "x y x y x y z"),
        (3L, "b a b a a b a b"), (4L, "single"), (5L, "unique words only here now")))
      assert(got(id) == brute(text), s"doc $id")
    assert(got(3L)._3.contains("a b"), "tie must resolve to the lexicographically smaller bigram")
    // and on the real fixture table: every row equals brute force
    val docsGot = TextOps.repetitionSignals(docs, "text")
      .select("doc_id", "text", "n_words", "dup_word_frac", "top_bigram", "top_bigram_frac")
      .collect()
    docsGot.foreach { r =>
      val exp = brute(r.getString(1))
      val act = (r.getLong(2), r.getDouble(3), Option(r.getString(4)),
        if (r.isNullAt(5)) None else Some(r.getDouble(5)))
      assert(act == exp, s"doc ${r.getLong(0)}")
    }
  }
}
