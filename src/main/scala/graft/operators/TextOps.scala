package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis + deduplication operators for a training-data pipeline over a
 * `documents(doc_id, text, ...)` table, built from built-in functions (no
 * Scala UDFs). Scalar fragments (length/replace arithmetic) are whole-stage
 * codegen'd; the higher-order functions (transform/aggregate/zip_with behind
 * shingling/minhash/simhash) are evaluated per-row by Catalyst's interpreter
 * — NOT codegen'd — but remain scan-side and shuffle-free: the only shuffles
 * are the band/bucket joins, so the plan scales linearly with a higher
 * constant factor on the minhash map side.
 *
 * The shared SQL fragments (occurrence counts via length-difference) are pure
 * string arithmetic, so the DuckDB oracle computes bit-identical values.
 */
object TextOps {

  /** #occurrences of literal `pat` in `col` — shared Spark/DuckDB fragment. */
  def occSql(c: String, pat: String): String = {
    val q = pat.replace("'", "''")
    s"CAST((length($c) - length(replace($c, '$q', ''))) / ${pat.length} AS BIGINT)"
  }

  /** whitespace token count for single-spaced text — shared fragment. */
  def tokenCountSql(c: String): String =
    s"(CASE WHEN length($c) = 0 THEN 0 ELSE (length($c) - length(replace($c, ' ', ''))) + 1 END)"

  /** language-ID n-gram/stopword heuristic — shared fragment (returns a score
    * per language and an argmax CASE). Deterministic, arithmetic-only. */
  def langIdSql(c: String): String = {
    val en = s"(${occSql(c, " the ")} * 3 + ${occSql(c, " a ")} * 2)"
    val es = s"(${occSql(c, " el ")} * 3 + ${occSql(c, " la ")} * 2)"
    val fr = s"(${occSql(c, " le ")} * 3 + ${occSql(c, " et ")} * 2)"
    val de = s"(${occSql(c, " der ")} * 3 + ${occSql(c, " und ")} * 2)"
    s"""(CASE
       | WHEN $en >= $es AND $en >= $fr AND $en >= $de AND $en > 0 THEN 'en'
       | WHEN $es >= $fr AND $es >= $de AND $es > 0 THEN 'es'
       | WHEN $fr >= $de AND $fr > 0 THEN 'fr'
       | WHEN $de > 0 THEN 'de'
       | ELSE 'unknown' END)""".stripMargin.replace("\n", " ")
  }

  /** quality score: length/punctuation/stopword ratios — shared fragment.
    * Returns a double in [0, ~3]; arithmetic-only so oracle-exact. */
  def qualitySql(c: String): String = {
    val toks = tokenCountSql(c)
    val stop = s"(${occSql(c, " the ")} + ${occSql(c, " a ")} + ${occSql(c, " and ")})"
    val punct = s"(${occSql(c, ".")} + ${occSql(c, ",")} + ${occSql(c, "!")})"
    s"""(CASE WHEN length($c) = 0 THEN 0.0 ELSE
       | least(1.0, CAST(length($c) AS DOUBLE) / 500.0)
       | + least(1.0, CAST($stop AS DOUBLE) * 10.0 / CAST($toks AS DOUBLE))
       | + (1.0 - least(1.0, CAST($punct AS DOUBLE) * 5.0 / CAST($toks AS DOUBLE)))
       | END)""".stripMargin.replace("\n", " ")
  }

  /** Gopher-style intra-document repetition signals (Rae et al. 2021,
    * "Scaling Language Models: Gopher", table A1 repetition filters — the
    * quality plane's sibling to [[quality]]): the duplicate-word fraction
    * and the character fraction claimed by the most frequent word bigram.
    * All counting is exact integers in one tight JVM pass per document
    * (a single HashMap scan — zero shuffle, embarrassingly parallel at
    * corpus scale; the interpreted-HOF alternative is the O(len^2)
    * shingling trap recorded in CLAUDE.md). Only the two final divisions
    * are doubles, so a DuckDB oracle replays the result bit-exactly
    * (unnest + group by with the same tie rule: highest count, then
    * lexicographically smallest bigram). Documents with fewer than two
    * words report a NULL bigram and NULL bigram fraction. */
  def repetitionSignals(df: DataFrame, textCol: String): DataFrame = {
    val rep = udf((text: String) => {
      val ws = text.split(" ", -1)
      val distinct = new scala.collection.mutable.HashSet[String]
      val bg = new scala.collection.mutable.HashMap[String, Int]
      var i = 0
      while (i < ws.length) {
        distinct.add(ws(i))
        if (i + 1 < ws.length) {
          val b = ws(i) + " " + ws(i + 1)
          bg.update(b, bg.getOrElse(b, 0) + 1)
        }
        i += 1
      }
      var bestB: String = null
      var bestC = 0
      bg.foreach { case (b, c) =>
        if (c > bestC || (c == bestC && b < bestB)) { bestB = b; bestC = c }
      }
      (ws.length, distinct.size, bestB, bestC)
    })
    df.withColumn("_rep", rep(col(textCol)))
      .withColumn("n_words", col("_rep._1").cast("long"))
      .withColumn("dup_word_frac",
        (col("n_words") - col("_rep._2").cast("long")).cast("double") /
          col("n_words").cast("double"))
      .withColumn("top_bigram", col("_rep._3"))
      .withColumn("top_bigram_frac",
        when(col("_rep._4") > 0,
          (col("_rep._4").cast("long") * length(col("top_bigram"))).cast("double") /
            length(col(textCol)).cast("double")))
      .drop("_rep")
  }

  /** PII scrubbing (the C4/Dolma-style redaction stage of a training-data
    * pipeline): counts and redacts email addresses and phone-shaped digit
    * runs with <EMAIL>/<PHONE> tokens. The patterns are restricted to
    * syntax with identical semantics in Java regex and RE2 (character
    * classes + counted repetition — no backrefs, no lookaround), so a
    * DuckDB oracle replays counts, scrubbed lengths and the scrubbed md5
    * bit-exactly. Per-row codegen'd regexp expressions — zero shuffle,
    * scan-side at corpus scale. */
  val EmailPattern: String = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val PhonePattern: String = "\\+?[0-9][0-9-]{5,}[0-9]"

  def piiScrub(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailPattern)).cast("long"))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhonePattern)).cast("long"))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col(textCol), EmailPattern, "<EMAIL>"),
          PhonePattern, "<PHONE>"))

  def tokenCount(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens", expr(tokenCountSql(textCol)))

  def langId(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("lang_pred", expr(langIdSql(textCol)))

  def quality(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("quality", expr(qualitySql(textCol)))

  /** Rolling document fingerprint: FNV-1a over the UTF-8 byte stream —
    * order-sensitive, one multiply+xor per byte in a tight JVM loop
    * (graft.functions.TileIds.fnv1a, the reference's encoding.HashString,
    * encoding/strings.go:16-24). The chain is byte-replayable in ANSI SQL
    * (HUGEINT multiply mod 2^64, xor on the low byte), so the gate compares
    * it bit-exactly against a DuckDB oracle — the xxhash64 chain it replaces
    * was not SQL-expressible. */
  def fingerprint(df: DataFrame, textCol: String): DataFrame = {
    val fp = udf((text: String) => graft.functions.TileIds.fnv1a(text))
    df.withColumn("fingerprint", fp(col(textCol)))
  }

  // ---- deduplication ---------------------------------------------------------

  /** Exact dedup: keep the smallest id per identical content (hash-groupBy). */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dupes"))

  /** Word k-shingles of the text (ordered n-grams as strings). */
  def shingles(textCol: Column, k: Int): Column = {
    val toks = split(textCol, " ")
    array_distinct(filter(
      transform(toks, (_, i) =>
        when(i <= size(toks) - k,
          array_join(slice(toks, i + 1, lit(k)), " "))),
      x => x.isNotNull))
  }

  /**
   * MinHash core: ONE 64-bit base hash per shingle (FNV-1a), then per seed a
   * cheap avalanche mix (splitmix64) — O(|shingles| · (bytes + numHashes))
   * per row in tight JVM loops. Round 1 computed numHashes full string hashes
   * per shingle through the interpreted expression evaluator; that was the
   * dominant cost of the LSH map side (32 s for 500 docs).
   */
  private[graft] def minhashSig(shingles: Seq[String], numHashes: Int): Array[Long] = {
    val base = new Array[Long](shingles.length)
    var j = 0
    shingles.foreach { s => base(j) = graft.functions.TileIds.fnv1a(s); j += 1 }
    Array.tabulate(numHashes) { i =>
      val seed = graft.model.Fixtures.splitmix64(1000003L * (i + 1))
      var m = Long.MaxValue
      var t = 0
      while (t < base.length) {
        val x = graft.model.Fixtures.splitmix64(base(t) ^ seed)
        if (x < m) m = x
        t += 1
      }
      m
    }
  }

  /** Prefix of the observe()-metric names emitted by [[bucketCandidates]]. */
  val BucketStarMetricPrefix = "bucket_stars"
  private val bucketMetricSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /**
   * Within-bucket candidate pairs with a hot-bucket bound: buckets up to
   * `maxBucketSize` emit the full pairwise set; DEGENERATE buckets (beyond
   * the cap — e.g. thousands of empty/boilerplate docs hashing identically)
   * emit a representative STAR instead — every member paired with the
   * bucket's min id — so the fan-out is n-1, not n². True duplicate clusters
   * stay connected through the representative (every member verifies against
   * it), while the quadratic blow-up of one degenerate task is avoided.
   * `banded` must have (__id, keyCols..., extra non-key columns allowed).
   *
   * RECALL CONTRACT of the star degradation: inside a degenerate bucket,
   * only (representative, member) pairs are emitted — two members that are
   * each near the representative but share NO other (small) bucket surface
   * only transitively through it, and the pair output does not express that
   * edge. The degradation is therefore NOT silent: every call observe()s
   * `bucket_stars_<n>` metrics — `degraded_buckets` (how many buckets were
   * starred) and `forgone_pairs` (how many within-bucket candidate pairs the
   * stars did not enumerate, (n-1)(n-2)/2 per bucket) — readable after any
   * action from the exact DataFrame's `queryExecution.observedMetrics`, so a
   * dedup report can state exactly how much pairwise coverage was traded for
   * boundedness.
   */
  private[graft] def bucketCandidates(banded: DataFrame, keyCols: Seq[String],
                                      maxBucketSize: Int): DataFrame =
    bucketCandidatesCarrying(banded, keyCols, maxBucketSize, Nil)

  /**
   * [[bucketCandidates]] that additionally CARRIES per-member payload columns
   * through the single shuffle and emits them per endpoint (`<p>_a`/`<p>_b`),
   * so callers with byte-sized payloads (a 64-bit signature, a short caption)
   * skip both re-attach joins AND the two extra input derivations they imply.
   * Use the plain ids-only variant when payloads are heavy (shingle sets,
   * embedding vectors): carrying those would multiply the band shuffle by the
   * payload width (guide §2.3 — shuffle keys and metadata, not payloads).
   */
  private[graft] def bucketCandidatesCarrying(banded: DataFrame, keyCols: Seq[String],
                                              maxBucketSize: Int,
                                              payloadCols: Seq[String],
                                              keep: Option[(Array[Any], Array[Any]) => Boolean] = None): DataFrame = {
    // ONE shuffle of (id, key [, payload]) rows, one ordered pass (guide
    // §2.4): hash-repartition on the bucket key, sort within partitions on
    // (key..., __id), then a single mapPartitions walks each bucket in id
    // order and emits the pairwise set (buckets <= maxBucketSize) or a
    // representative star (degenerate buckets) STREAMING — the buffer never
    // holds more than maxBucketSize+1 members, so one 10^9-member degenerate
    // bucket costs O(cap) memory, not the whole bucket (the previous
    // window-count + self-join shape shuffled the banded table three times
    // and buffered whole buckets in the window sort; plan-probed at 3
    // Exchanges + a checkpoint job vs 1 Exchange now).
    // Degradation metrics stay observe()d: star mode emits one in-band marker
    // row (id_a = id_b = rep, __bn = bucket size) per degraded bucket, the
    // CollectMetrics node aggregates markers BEFORE they are filtered out —
    // same degraded_buckets / forgone_pairs values as the old reps aggregate.
    // `keep` is the caller's exact per-pair verification predicate over the
    // two payload arrays (e.g. popcount(sig_a ^ sig_b) <= 3),
    // applied INSIDE the pair loop: with 16-bit bands the pre-verify
    // candidate volume is ~n²/65536 per band (measured ~10M rows at sf0.1,
    // of which ~37k survive), so verifying before the row even materializes
    // removes ~99.6% of the dedup shuffle and the row-encoder work.
    // Set-equivalent to filtering after: the predicate is a deterministic
    // per-pair function of carried payloads. Star MARKER rows are never
    // filtered (metrics must see every degraded bucket).
    val spark = banded.sparkSession
    val np = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val cap = maxBucketSize
    val nKeys = keyCols.length
    val nPay = payloadCols.length
    val keepFn = keep.orNull
    val parted = banded
      .select((col("__id") +: keyCols.map(col)) ++ payloadCols.map(col): _*)
      .repartition(np, keyCols.map(col): _*)
      .sortWithinPartitions((keyCols.map(col) :+ col("__id")): _*)
    val paySchema = payloadCols.map(p => parted.schema(parted.schema.fieldIndex(p)))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("id_b",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("__bn",
        org.apache.spark.sql.types.LongType, nullable = false)) ++
      paySchema.map(f => f.copy(name = s"${f.name}_a")) ++
      paySchema.map(f => f.copy(name = s"${f.name}_b")))
    val pairRows = parted.mapPartitions { it =>
      // a member is its id and its payload values
      def member(r: org.apache.spark.sql.Row): (Long, Array[Any]) =
        (r.getLong(0), Array.tabulate[Any](nPay)(i => r.get(1 + nKeys + i)))
      def mk(a: (Long, Array[Any]), b: (Long, Array[Any]), bn: Long): org.apache.spark.sql.Row = {
        val vals = new Array[Any](3 + 2 * nPay)
        vals(0) = a._1; vals(1) = b._1; vals(2) = bn
        System.arraycopy(a._2, 0, vals, 3, nPay)
        System.arraycopy(b._2, 0, vals, 3 + nPay, nPay)
        new org.apache.spark.sql.catalyst.expressions.GenericRow(vals)
      }
      // a pair is kept when its ids differ (callers never repeat an id within
      // a bucket, but be safe) and the caller's predicate holds
      def kept(a: (Long, Array[Any]), b: (Long, Array[Any])): Boolean =
        a._1 != b._1 && (keepFn == null || keepFn(a._2, b._2))
      Sorted.runs(it)(r => Seq.tabulate(nKeys)(i => r.get(1 + i))).flatMap { case (_, rows) =>
        val members = rows.map(member)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Any])]
        while (buf.length <= cap && members.hasNext) buf += members.next()
        if (buf.length <= cap) {
          // the pairwise set, i < j over the ascending ids
          for {
            i <- buf.indices.iterator
            j <- (i + 1 until buf.length).iterator
            if kept(buf(i), buf(j))
          } yield mk(buf(i), buf(j), 0L)
        } else {
          // a star: every other member streams out as (rep, member), then
          // one marker row (id_a = id_b = rep, __bn = bucket size), built
          // only once the tail is read (`++` takes its operand by name)
          val rep = buf.head
          var n = 1L
          (buf.iterator.drop(1) ++ members).flatMap { m =>
            n += 1
            if (kept(rep, m)) Iterator.single(mk(rep, m, 0L)) else Iterator.empty
          } ++ Iterator.single(mk(rep, rep, n))
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    pairRows
      .observe(s"${BucketStarMetricPrefix}_${bucketMetricSeq.getAndIncrement()}",
        coalesce(sum(when(col("__bn") > 0, 1L)), lit(0L)).as("degraded_buckets"),
        coalesce(sum(when(col("__bn") > 0,
          (col("__bn") - 1) * (col("__bn") - 2) / 2)), lit(0.0))
          .cast("long").as("forgone_pairs"))
      .where(col("__bn") === 0).drop("__bn")
      .dropDuplicates("id_a", "id_b")
  }

  /**
   * MinHash-LSH near-duplicate pairs over 3-shingles: band the 32-hash
   * signature (8 bands x 4 rows), bucket-join on (band, bandHash), verify
   * candidates with exact shingle-set Jaccard >= threshold. Shuffle only on band hashes; candidate
   * verification stays pairwise within buckets, with oversized buckets
   * degraded to representative stars (`bucketCandidates`). Returns
   * (id_a, id_b, jaccard) with id_a < id_b.
   */
  def dedupMinhashLsh(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, maxBucketSize: Int = 1024): DataFrame = {
    val (k, numHashes, bands) = (3, 32, 8)
    val rowsPerBand = numHashes / bands
    // Shingle sets are computed ONCE and persisted: the banded self-join would
    // otherwise recompute the (expensive) shingling per branch, and carrying
    // wide arrays through the band shuffle would dominate the exchange. The
    // join moves only (id, band_hash); shingles re-attach by id afterwards.
    val withSh = df.select(col(idCol).as("__id"), shingles(col(textCol), k).as("__sh"))
      .persist()
    val bandHashes = udf { (sh: Seq[String]) =>
      val sig = minhashSig(sh, numHashes)
      Array.tabulate(bands) { b =>
        var h = graft.functions.TileIds.OffsetBasis ^ b.toLong
        var r = 0
        while (r < rowsPerBand) {
          h = graft.model.Fixtures.splitmix64(h ^ sig(b * rowsPerBand + r))
          r += 1
        }
        h
      }
    }
    val banded = withSh
      .select(col("__id"), posexplode(bandHashes(col("__sh"))).as(Seq("band_id", "band_hash")))
    val candidates = bucketCandidates(banded, Seq("band_id", "band_hash"), maxBucketSize)
    val verified = candidates
      .join(withSh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(withSh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
    verified
  }

  /** SimHash (64-bit): per token-hash bit, +1/-1 vote; signature bit b set when
    * the vote sum is positive. Hamming-adjacent docs are near-dups.
    * One FNV-1a hash + avalanche per token, 64 vote updates in a tight loop —
    * the interpreted HOF formulation (64-element array rebuild per token) was
    * 6 s for 500 docs. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sig = udf { (text: String) =>
      val votes = new Array[Int](64)
      var start = 0
      val n = text.length
      while (start <= n) {
        var end = text.indexOf(' ', start)
        if (end < 0) end = n
        val h = graft.model.Fixtures.splitmix64(
          graft.functions.TileIds.fnv1a(text.substring(start, end)))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        start = end + 1
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    df.withColumn("simhash", sig(col(textCol))).select(col(idCol), col("simhash"))
  }

  /**
   * 64-bit Hamming near-dup pairs over ANY signature column (simhash,
   * image perceptual hash, audio fingerprint): band into 4 x 16-bit sub-keys
   * — any pair within Hamming distance <= 3 shares at least one band
   * (pigeonhole) — bucket-join on (band, key) with the hot-bucket star bound,
   * verify exact popcount. Shuffle moves only (id, band key); signatures
   * re-attach by id for the verify.
   */
  def hammingPairs64(sig: DataFrame, idCol: String, sigCol: String,
                     carry: Seq[String] = Nil): DataFrame = {
    // The 8-byte signature (and any small carry columns: a caption, a label)
    // CARRY through the band shuffle and come back per endpoint directly from
    // the bucket pass — the input is scanned exactly ONCE and there are no
    // re-attach joins (the previous shape derived the input three times and
    // paid two joins; guide §8's rule applies in reverse: when the payload is
    // a few bytes, carrying it beats re-attaching it).
    // the signature projection is persisted: signature derivation is the
    // expensive upstream (simhash/phash UDFs over text/pixels) and the
    // operator's consumers re-run actions over this lineage (cluster loops,
    // reports) — the cached (id, sig [, carry]) table is the "index build"
    // artifact they share
    val s = sig.select(col(idCol).as("__id") +: col(sigCol).as("__sig") +:
        carry.map(col): _*)
      .persist()
    // literal 4-element array (whole-stage codegen) — transform(sequence(...))
    // is an interpreted higher-order function on the hot scan (the CLAUDE.md
    // HOF trap; measured 0.36 s -> 0.19 s for the banding pass at sf0.1)
    val banded = s.select(col("__id") +: explode(array(
      (0 until 4).map(b => struct(lit(b).as("b"),
        call_function("shiftrightunsigned", col("__sig"), lit(b * 16))
          .bitwiseAND(lit(0xffffL)).as("k"))): _*)).as("band") +:
        col("__sig") +: carry.map(col): _*)
      .select(col("__id") +: col("band.b").as("__bb") +: col("band.k").as("__bk") +:
        col("__sig") +: carry.map(col): _*)
    // the exact popcount verify runs INSIDE the pair loop (keep): candidates
    // that fail Hamming never materialize as rows, so the dedup shuffle sees
    // only true near-dup pairs (~0.4% of candidates at sf0.1)
    val keep = (a: Array[Any], b: Array[Any]) =>
      java.lang.Long.bitCount(a(0).asInstanceOf[Long] ^ b(0).asInstanceOf[Long]) <= 3
    bucketCandidatesCarrying(banded, Seq("__bb", "__bk"), 1024,
        "__sig" +: carry, keep = Some(keep))
      .withColumn("hamming", bit_count(col("__sig_a").bitwiseXOR(col("__sig_b"))))
      .where(col("hamming") <= 3)
      .select(col("id_a") +: col("id_b") +: col("hamming") +:
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
  }

  /** Pair-graph edge count up to which [[dedupClusters]] runs on the driver. */
  private val DriverMaxEdges = 2000000

  /**
   * Duplicate-CLUSTER assignment from a near-dup pair list: connected
   * components of the pair graph as (id, cluster = min reachable id) — the
   * step a dedup pipeline runs after pair generation to pick one keeper per
   * cluster. Label propagation with pointer-doubling: each round a node
   * takes the min of (its label, its neighbors' labels, its label's label) —
   * the label-of-label hop halves chain lengths, so convergence is
   * O(log diameter) rounds of ids-only shuffles (the LSH pair graphs here
   * are star-dominated: 2-3 rounds), each round one localCheckpoint'd table
   * and ONE action for the convergence test. Pairs are (id_a, id_b),
   * vertices (doc_id).
   */
  def dedupClusters(pairs: DataFrame, vertices: DataFrame): DataFrame = {
    // Dual-mode, like SpatialJoins.knnJoin: the pair list is ids-only and a
    // dedup graph touches a small fraction of the corpus, so up to
    // DriverMaxEdges (~2M edges = tens of MB of longs) a driver-side
    // union-find with min-id representatives replaces O(log diameter) rounds
    // of distributed joins. ONE guarded collect of DriverMaxEdges + 1 edges
    // decides the mode AND is the union-find input; the labels then reach
    // the vertices as broadcast sorted id and label arrays behind a lookup
    // UDF (a broadcast LocalRelation would be one more job). Above it, the
    // pointer-doubling label-propagation loop runs fully distributed.
    val spark = pairs.sparkSession
    import spark.implicits._
    val sym0 = pairs.select(col("id_a"), col("id_b"))
      .distinct().localCheckpoint(eager = false)
    val edges = sym0.as[(Long, Long)].limit(DriverMaxEdges + 1).collect()
    if (edges.length <= DriverMaxEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edges.foreach { case (u, v) =>
        val ru = find(u); val rv = find(v)
        if (ru != rv) { // min id becomes the root => cluster = min reachable id
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
      }
      val ids = edges.flatMap { case (u, v) => Array(u, v) }.distinct.sorted
      val labels = spark.sparkContext.broadcast((ids, ids.map(find)))
      val cluster = udf { (id: Long) =>
        val (ks, vs) = labels.value
        val i = java.util.Arrays.binarySearch(ks, id)
        if (i >= 0) vs(i) else id
      }
      vertices.select(col("doc_id"), cluster(col("doc_id")).as("cluster"))
    } else dedupClustersWithRounds(sym0, vertices)._1
  }

  /** The distributed pointer-doubling mode of [[dedupClusters]], plus the
    * number of label-propagation rounds run — exposed so the chain-diameter
    * property spec can assert O(log n) convergence on path graphs. */
  def dedupClustersWithRounds(pairs: DataFrame, vertices: DataFrame): (DataFrame, Int) = {
    val sym = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
      .distinct().localCheckpoint(eager = false)
    // only PAIR ENDPOINTS enter the iteration — an isolated vertex is its own
    // cluster by definition and joins back in one pass at the end. Dedup
    // graphs touch a small fraction of the corpus, so the loop's tables are
    // |endpoints|-sized, not |corpus|-sized. Round 1 is FUSED into the init:
    // label = min(id, neighbors) is one groupBy over sym (the label-of-label
    // hop is a no-op while labels == ids), saving a full round of joins.
    var lab = sym.groupBy(col("u")).agg(min(col("v")).as("__mn"))
      .select(col("u").as("id"), least(col("u"), col("__mn")).as("label"))
      .localCheckpoint(eager = false)
    // per-node labels are non-increasing (min over a monotone set), so the
    // label SUM strictly decreases while anything moves — the convergence
    // test is ONE aggregate on the new table (exact decimal: long sums of
    // 64-bit ids overflow at scale), no join against the previous round
    var prevSum: java.math.BigDecimal =
      lab.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
    var rounds = 1
    var converged = prevSum == null // empty pair graph: nothing to propagate
    while (!converged) {
      // Three contribution streams per round (hook + compress label
      // propagation — the two-phase CC shape of Kiveris et al.'s
      // large-star/small-star, recast as min-label updates):
      //   neighbors — x learns its neighbors' labels (the correctness
      //     anchor: at any fixpoint, adjacent nodes share a label);
      //   HOOK — the ROOT of u (u's current label) learns v's label.
      //     Without it, pointer jumping stalls on chains: labels point at
      //     self-labeled local minima and propagation degrades to one hop
      //     per round (diameter rounds on a path — measured before this
      //     step existed). Hooking merges adjacent label regions each
      //     round, halving the region count;
      //   compress — x takes its label's label (pointer doubling).
      val edgeLab = sym.join(lab.withColumnRenamed("id", "v"), "v")
      val viaNeighbors = edgeLab.select(col("u").as("id"), col("label"))
      val viaHook = edgeLab.withColumnRenamed("label", "lv")
        .join(lab.withColumnRenamed("id", "u"), "u")
        .select(col("label").as("id"), col("lv").as("label"))
      val viaParent = lab.join(
        lab.select(col("id").as("label"), col("label").as("label2")), "label")
        .select(col("id"), col("label2").as("label"))
      val next = lab.unionByName(viaNeighbors).unionByName(viaHook)
        .unionByName(viaParent)
        .groupBy("id").agg(min(col("label")).as("label"))
        .localCheckpoint(eager = false)
      // THE per-round action: materializes `next` and reads the label sum
      val sum0 = next.agg(sum(col("label").cast("decimal(38,0)"))).head.getDecimal(0)
      converged = prevSum.compareTo(sum0) == 0
      prevSum = sum0
      lab = next
      rounds += 1
    }
    (vertices.select(col("doc_id"))
      .join(lab.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster")), rounds)
  }

  /** EXACT n-gram Jaccard similarity join: every pair with Jaccard >=
    * `threshold` over k-shingle sets is returned — no recall hole.
    *
    * Candidate generation uses PREFIX FILTERING (the AllPairs/ppjoin bound):
    * each document's shingles are sorted by a global (document-frequency asc,
    * hash) order and only the first |S| - ceil(t·|S|) + 1 postings are
    * indexed. If J(A,B) >= t, the globally-smallest shared shingle provably
    * sits inside BOTH prefixes (its position in A is at most
    * |A| - |A∩B| + 1 <= |A| - ceil(t·|A|) + 1), so the prefix-posting
    * equi-join finds every qualifying pair. Unlike a df-cap, ubiquitous
    * shingles are never dropped outright — identical boilerplate documents
    * (all-hot shingle sets) still pair up because hot shingles remain in the
    * prefix of exactly the documents that own nothing rarer; the df-ascending
    * order merely minimises how many postings a hot shingle contributes. */
  def ngramJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                       k: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // inverted index moves only (shingle-hash, id); shingle sets re-attach by
    // id for the exact verify (same shuffle discipline as dedupMinhashLsh)
    val withSh = df.select(col(idCol).as("__id"), shingles(col(textCol), k).as("__sh"))
      .persist()
    // shingle-set size rides along from the (already-distinct) array — no
    // per-document count window needed; it feeds both the prefix bound and
    // the size filter below
    val inverted0 = withSh
      .select(col("__id"), size(col("__sh")).as("__sz"), explode(col("__sh")).as("s"))
      .select(col("__id"), col("__sz"), xxhash64(col("s")).as("sh"))
    // global document frequency per shingle (one partial-agg shuffle) joins
    // back onto the postings; the per-document window is bounded by the
    // document's own shingle count, never by corpus hot-keys
    val dfCounts = inverted0.groupBy("sh").agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy("__id").orderBy(col("__df"), col("sh"))
    val prefix = inverted0.join(dfCounts, "sh")
      .withColumn("__pos", row_number().over(wDoc))
      .where(col("__pos") <= col("__sz") - ceil(col("__sz") * threshold) + 1)
      .select("__id", "sh", "__sz")
      // the self-join below reads `prefix` twice; without the persist the
      // whole posting pipeline (explode + df-count shuffle join + window)
      // recomputes per branch (plan-probed in the r6 baseline). Postings are
      // (id, hash, size) — ids-only, MEMORY_AND_DISK.
      .persist()
    // size filter (AllPairs length bound): J(A,B) >= t requires
    // t * max(|A|,|B|) <= min(|A|,|B|); the +1 slack keeps borderline pairs
    // whose real t*max == min from being lost to double rounding — the exact
    // verify below remains the gate
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.__id") < col("b.__id") &&
          greatest(col("a.__sz"), col("b.__sz")) * lit(threshold) <=
            least(col("a.__sz"), col("b.__sz")) + lit(1.0))
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // |A ∪ B| = |A| + |B| - |A ∩ B| (shingle arrays are distinct), so one
    // array_intersect pass replaces intersect + union; the integer division
    // operands — and the double quotient — are identical
    candidates
      .join(withSh.select(col("__id").as("id_a"), col("__sh").as("sh_a")), "id_a")
      .join(withSh.select(col("__id").as("id_b"), col("__sh").as("sh_b")), "id_b")
      .withColumn("__int", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("id_a"), col("id_b"),
        (col("__int").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("__int")).cast("double")).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** splitmix64 of a long column. A (tiny) Scala UDF rather than column
    * arithmetic because ANSI mode forbids the wrapping 64-bit multiplies;
    * scan-side scalar, no shuffle. The same mix is replayed unsigned in
    * DuckDB by Fixtures.U64Sql.sm64Ctes. */
  private val sm64Udf = udf((id: Long) => graft.model.Fixtures.splitmix64(id))

  /**
   * Deterministic train/val/test assignment — the split primitive of a
   * training-data pipeline (the reference has no equivalent; cf. its
   * deterministic FNV-based id hashing, src/diagonal.works/b6/ingest/
   * compact/encoding.go, for the hash-don't-sample discipline). `weights`
   * are (name, basis points) summing to 10000; a row lands in the split
   * whose cumulative bucket range contains splitmix64(id) mod 10000
   * (UNSIGNED remainder, so the DuckDB HUGEINT replay is bit-identical).
   *
   * Scale shape: a pure scan-side map — no shuffle, no state, stable under
   * repartitioning, append-only ingest, and re-runs; at 10^12 rows the
   * assignment is embarrassingly parallel and the split of a row never
   * changes as the corpus grows (unlike sampling by fraction-of-partition).
   */
  def hashSplit(df: DataFrame, idCol: String,
                weights: Seq[(String, Int)]): DataFrame = {
    require(weights.map(_._2).sum == 10000, "weights must sum to 10000 bp")
    val bucket = udf((id: Long) =>
      java.lang.Long.remainderUnsigned(graft.model.Fixtures.splitmix64(id), 10000L))
    val cum = weights.scanLeft(0)(_ + _._2).tail
    val cases = weights.zip(cum).map { case ((name, _), hi) => (name, hi) }
    val expr = cases.init.foldRight(lit(cases.last._1)) { case ((name, hi), els) =>
      when(col("__bucket") < hi, name).otherwise(els)
    }
    df.withColumn("__bucket", bucket(col(idCol)))
      .withColumn("split", expr)
      .drop("__bucket")
  }

  /**
   * Sequence-packing plan (GPT-style): documents are logically concatenated
   * in ascending `idCol` order and cut into fixed `chunkTokens` windows; each
   * document is assigned its global token offset and the [first, last] chunk
   * it lands in. The global running sum is [[Sorted.runningTotals]]'s
   * distributed prefix sum over the range-partitioned ids, never a global
   * single-task window, so the plan is the same shape at 10^12 documents.
   * Pure integer arithmetic: the oracle replays it as one
   * SUM() OVER (ORDER BY id).
   */
  def packPlan(df: DataFrame, idCol: String, tokenCol: String,
               chunkTokens: Int): DataFrame = {
    val tokens = df.select(col(idCol), col(tokenCol).cast("long").as("__n"))
    Sorted.runningTotals(tokens, Nil, Seq(col(idCol)), Seq("__n" -> col("__n")))
      .withColumnRenamed("__n_before", "cum_before")
      // integral `div`, not floor(x / c): double division loses exactness
      // past 2^53 total tokens (~10^15 — a real corpus size)
      .withColumn("chunk_first", call_function("div", col("cum_before"), lit(chunkTokens.toLong)))
      .withColumn("chunk_last",
        when(col("__n") > 0,
          call_function("div", col("cum_before") + col("__n") - 1, lit(chunkTokens.toLong)))
          .otherwise(col("chunk_first")))
      .select(col(idCol), col("__n").as("n_tokens"), col("cum_before"),
        col("chunk_first"), col("chunk_last"))
  }

  /**
   * Train-test contamination screen ("decontamination"): per corpus document,
   * how many of its distinct word k-grams appear in a benchmark/eval corpus —
   * the pre-training hygiene step that keeps eval data out of the training
   * set. Zero-count docs are kept (the output is a per-doc report, not a
   * filter; `where n_contaminated = 0` is the clean view).
   *
   * Scale shape: the benchmark side is small by contract (benchmarks are
   * MBs; the corpus is the 100 TB side) — its distinct k-grams broadcast, so
   * the corpus side is one scan-side explode + broadcast semi-join and the
   * only corpus-wide shuffle is the per-doc count partial-agg. At corpus
   * scale join on a 64-bit k-gram hash (xxhash64) instead of the string; the
   * gate query joins the strings so the DuckDB replay is byte-identical.
   */
  def contaminationScreen(corpus: DataFrame, bench: DataFrame,
                          idCol: String, textCol: String, k: Int): DataFrame = {
    // tight-loop shingling, not the `shingles` HOF: Catalyst interprets the
    // per-position slice/array_join chain (O(len^2) chars per doc — measured
    // 8 s for the 5k-doc gate vs ~1 s here), and the JVM loop builds each
    // k-gram once. split limit -1 matches Spark SQL / DuckDB string_split
    // (trailing empties kept). Distinct set per doc, insertion order.
    val sh = udf { (text: String) =>
      val toks = text.split(" ", -1)
      if (toks.length < k) Array.empty[String]
      else {
        val seen = new java.util.LinkedHashSet[String]()
        var i = 0
        while (i + k <= toks.length) {
          val sb = new StringBuilder(toks(i))
          var j = 1
          while (j < k) { sb.append(' ').append(toks(i + j)); j += 1 }
          seen.add(sb.toString); i += 1
        }
        seen.toArray(Array.empty[String])
      }
    }
    val bg = bench.select(explode(sh(col(textCol))).as("__g")).distinct()
    val cg = corpus.select(col(idCol), sh(col(textCol)).as("__gs"))
      .persist()
    val hits = cg.select(col(idCol), explode(col("__gs")).as("__g"))
      .join(broadcast(bg), "__g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__c"))
    cg.select(col(idCol), size(col("__gs")).cast("long").as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .withColumn("n_contaminated", coalesce(col("__c"), lit(0L)))
      .drop("__c")
  }

  /**
   * Deterministic per-stratum k-sample: within each stratum keep the k rows
   * with the smallest (signed splitmix64(id), id) — a fixed pseudo-random
   * order, so the sample is reproducible, stable under repartitioning, and
   * extensible (k'=2k keeps the k-sample as a prefix). Two-stage rank with
   * the salted pre-cap (same discipline as Renderers.renderCapped): stage 1
   * ranks (stratum, salt) groups so a dominant stratum — at corpus scale one
   * language can be half the table — never funnels through one reducer;
   * only the <= salts*k survivors meet in the exact per-stratum rank.
   */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       k: Int): DataFrame =
    twoStageStrataRank(df, strataCol, idCol, lit(k))

  /** The shared salted two-stage per-stratum rank: stage 1 caps (stratum,
    * salt) groups (a dominant stratum never funnels through one reducer),
    * stage 2 ranks the <= salts*k survivors exactly. kCol may be per-row
    * (per-stratum quotas joined on). */
  private def twoStageStrataRank(df: DataFrame, strataCol: String,
                                 idCol: String, kCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val salts = df.sparkSession.sessionState.conf.numShufflePartitions
    val hashed = df.withColumn("__hs", sm64Udf(col(idCol)))
      .withColumn("__salt", pmod(hash(col(idCol)), lit(salts)))
    val wLocal = Window.partitionBy(col(strataCol), col("__salt"))
      .orderBy(col("__hs"), col(idCol))
    val wGlobal = Window.partitionBy(col(strataCol))
      .orderBy(col("__hs"), col(idCol))
    hashed
      .withColumn("__r0", row_number().over(wLocal)).where(col("__r0") <= kCol)
      .withColumn("rank", row_number().over(wGlobal).cast("long"))
      .where(col("rank") <= kCol)
      .drop("__hs", "__salt", "__r0")
  }

  /** Per-stratum quota sample: each stratum keeps its own ks(stratum)
    * smallest-hash rows; strata absent from ks are dropped. Quotas are
    * driver-small by contract (one entry per source/domain) and broadcast. */
  def sampleByStrataCounts(df: DataFrame, strataCol: String, idCol: String,
                           ks: Map[String, Long]): DataFrame = {
    val ksDf = df.sparkSession.createDataFrame(ks.toSeq).toDF(strataCol, "__k")
    twoStageStrataRank(df.join(broadcast(ksDf), strataCol), strataCol, idCol,
      col("__k")).drop("__k")
  }

  /**
   * Domain-mixture resampling plan: given target mixture weights per source
   * (summing to 1 over the sources to keep), pick the LARGEST feasible total
   * T = min_s(n_s / w_s) — no source can be oversampled without replacement —
   * and keep exactly floor(T * w_s) rows per source, chosen deterministically
   * by the stratified hash order. The per-source counts are one partial-agg
   * shuffle + an O(#sources) collect; selection is sampleByStrataCounts.
   * All arithmetic is shared-IEEE (long/double divide, min, floor), so the
   * DuckDB oracle replays T and every quota bit-exactly.
   */
  def mixturePlan(df: DataFrame, idCol: String, srcCol: String,
                  weights: Map[String, Double]): DataFrame = {
    val counts = df.groupBy(srcCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val feasible = weights.collect {
      case (s, w) if w > 0 && counts.contains(s) => counts(s) / w
    }
    require(feasible.nonEmpty, "no weighted source present in the data")
    val t = feasible.min
    val ks = weights.collect {
      case (s, w) if w > 0 && counts.contains(s) => s -> math.floor(t * w).toLong
    }
    sampleByStrataCounts(df, srcCol, idCol, ks)
  }
}
