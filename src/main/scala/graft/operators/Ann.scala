package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Brute-force cosine top-k is the exactness baseline; the LSH variant
 * (signed-random-projection buckets) is the 10^12-scale path: bucket join
 * instead of cross join, with the same scoring on the reduced candidate set.
 * Dot products use zip_with/aggregate (codegen'd) in double precision.
 */
object Ann {

  /** Prefix of the candidate-set observe() metrics the ANN paths emit. */
  val CandidateMetricPrefix = "ann_candidates"
  private val annMetricSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Attach a candidate-set size metric: approximate paths (LSH / IVF) have
    * recall < 1 by construction, and the candidate count per run is the
    * no-silent-caps evidence of HOW approximate — readable after any action
    * from the exact DataFrame's `queryExecution.observedMetrics`. */
  private def observed(cand: DataFrame): DataFrame =
    cand.observe(s"${CandidateMetricPrefix}_${annMetricSeq.getAndIncrement()}",
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("candidates"))

  /** Ensure the scoring side has at least the session's parallelism: a small
    * single-file vector table scans as ONE task, serializing every cosine in
    * the query onto one core (plan-probed: ann_lsh spent 1.26 s in a 1-task
    * stage). At corpus scale the scan already has plenty of splits and this
    * is a no-op — the condition keeps the extra exchange off the 10^12-row
    * path (guide §2.2: partition count adapts to input, not a constant).
    * Size gate: the repartition only pays when each resulting partition
    * carries enough scoring work to beat the exchange's fixed cost — require
    * >=256 KB/partition by the optimizer's size estimate, otherwise a single
    * scan task finishes faster than the shuffle sets up (measured: a 780 KB
    * vector table repartitioned 1->32 cost ann_topk +0.4 s for nothing).
    * The gate reads the optimizer's `sizeInBytes`: compressed on-disk bytes
    * for a parquet leaf, `Long.MaxValue` when the size is unknown. So a
    * well-compressed vector table just under the threshold keeps one
    * scoring task even though scoring cost tracks decoded rows x dims, and
    * an unknown size always passes this half of the gate. */
  private def parallelized(df: DataFrame): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    // the partition test first: at scale it fails and the stats go unread
    if (df.rdd.getNumPartitions * 2 < parts &&
      df.queryExecution.optimizedPlan.stats.sizeInBytes >= parts.toLong * 256L * 1024L)
      df.repartition(parts) else df
  }

  /** Exact cosine as ONE tight-loop UDF (the aggregate(zip_with(..)) HOF
    * formulation is interpreted per element by Catalyst; one JVM loop per
    * pair scales better on wide embeddings). Accumulation order (ascending
    * components, s / (sqrt(na) * sqrt(nb))) is IDENTICAL to the sequential
    * HOF fold and to DuckDB's list_dot_product, so every oracle stays
    * bit-exact. */
  private val cosineUdf = udf { (a: Seq[Float], b: Seq[Float]) =>
    var s = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      s += x * y; na += x * x; nb += y * y
      i += 1
    }
    s / (math.sqrt(na) * math.sqrt(nb))
  }

  private def cosineOf(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    cosineUdf(a, b)

  /**
   * Exact top-k cosine neighbors for each query vector.
   * data: (id, vec), queries: (qid, qvec). Broadcast the (small) query side;
   * the scan over `data` is a single no-shuffle map, then a per-query top-k.
   */
  def cosineTopK(data: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = parallelized(data).join(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cosine",
        cosineOf(col("embedding"), col("qvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /** Deterministic Rademacher (+1/-1) hyperplanes, PRECOMPUTED once per
    * operator call or task — one multiply-add per (table × bit × dim)
    * component in tight JVM loops, instead of a hash call per component per
    * row (the round-1 plan cost ~10^5 xxhash64 calls per 768-dim row). */
  private[graft] def planes(tables: Int, bits: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(tables * bits) { p =>
      Array.tabulate(dim) { d =>
        if ((graft.model.Fixtures.splitmix64(p.toLong * 1000003L + d) & 1L) == 1L) 1.0f else -1.0f
      }
    }

  /**
   * Embedding-cosine near-duplicate PAIRS: self-join on SRP buckets, exact
   * cosine refine at `threshold` — the embedding-space member of the dedup
   * family (exact / minhash / simhash / ngram live in TextOps). Bucket
   * equi-join, never a cross join; pairs emit once (id_a < id_b).
   */
  def cosineNearDupPairs(data: DataFrame, threshold: Double, bits: Int = 8,
                         tables: Int = 8, maxBucketSize: Int = 1024): DataFrame = {
    // the planes are a pure function of the vector length, so each task
    // builds them from the first vector it reads (and again only if a later
    // vector's length differs) — no driver-side dim probe, no broadcast. One
    // immutable (dim, planes) pair, so a reader never sees a mismatched half.
    var cached: (Int, Array[Array[Float]]) = (-1, null)
    val buckets = udf { (vec: Seq[Float]) =>
      // unbox ONCE: Seq[Float].apply boxes per access, and each element is
      // read `tables*bits` times below (measured 0.42 s -> ~0.05 s on the
      // 2000x64 fixture when this conversion was added)
      val v = vec.toArray
      val c = cached
      val pl = if (c._1 == v.length) c._2 else {
        val fresh = planes(tables, bits, v.length)
        cached = (v.length, fresh)
        fresh
      }
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var b = 0L; var p = 0
        while (p < bits) {
          val plane = pl(t * bits + p)
          var s = 0.0; var i = 0
          val n = math.min(v.length, plane.length)
          while (i < n) { s += v(i).toDouble * plane(i); i += 1 }
          if (s > 0) b |= (1L << p)
          p += 1
        }
        out(t) = b; t += 1
      }
      out
    }
    val base = data.select(col("vec_id").as("__id"), col("embedding").as("__v"))
      .persist()
    val d = base
      .withColumn("__bs", buckets(col("__v")))
      .select(col("__id"), posexplode(col("__bs")).as(Seq("__t", "__bucket")))
    // ids-only bucket join with the hot-bucket star bound (same discipline as
    // TextOps.bucketCandidates); vectors re-attach by id for the exact refine
    val cand = graft.operators.TextOps.bucketCandidates(d, Seq("__t", "__bucket"), maxBucketSize)
    cand
      .join(base.select(col("__id").as("id_a"), col("__v").as("va")), "id_a")
      .join(base.select(col("__id").as("id_b"), col("__v").as("vb")), "id_b")
      .withColumn("cosine",
        cosineOf(col("va"), col("vb")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /**
   * IVF coarse quantizer: deterministic Lloyd's k-means over a driver-side
   * sample (ordered by id, so training is reproducible — the centroids are
   * BUILD ARTIFACTS, like an index, and double as literals in the DuckDB
   * oracle). At 10^12 scale the sample stays driver-sized while assignment
   * and search are fully distributed.
   */
  def trainIvfCentroids(data: DataFrame, nLists: Int, iters: Int = 5,
                        sampleN: Int = 4096): Array[Array[Double]] = {
    val sample = data.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.nonEmpty, "empty training sample")
    val dim = sample.head.length
    // init: evenly strided sample vectors
    var centroids = Array.tabulate(nLists)(i => sample((i * sample.length / nLists) % sample.length).clone())
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      s / (math.sqrt(na) * math.sqrt(nb))
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nLists)(new Array[Double](dim))
      val counts = new Array[Int](nLists)
      sample.foreach { v =>
        var best = 0; var bestC = Double.NegativeInfinity
        var l = 0
        while (l < nLists) {
          val c = cosine(v, centroids(l))
          if (c > bestC) { bestC = c; best = l }
          l += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = Array.tabulate(nLists) { l =>
        if (counts(l) == 0) centroids(l)
        else Array.tabulate(dim)(i => sums(l)(i) / counts(l))
      }
      it += 1
    }
    centroids
  }

  /**
   * IVF-bucketed approximate NN (the inverted-file scale path next to
   * `cosineLsh`): every vector joins the list of its nearest centroid (one
   * scan, broadcast centroids); a query probes its `nProbe` nearest lists,
   * candidates meet by LIST equi-join — never a cross join — and rank by
   * exact cosine. Assignment argmax is deterministic (cosine desc, list id),
   * and every arithmetic step is a sequential double accumulation, so the
   * whole search replays bit-exactly in SQL with the centroids as literals.
   */
  def cosineIvf(data: DataFrame, queries: DataFrame, k: Int,
                centroids: Array[Array[Double]], nProbe: Int): DataFrame = {
    val spark = data.sparkSession
    val bc = spark.sparkContext.broadcast(centroids)
    val assign = udf { (vec: Seq[Float]) =>
      val vv = vec.toArray // unbox once; read |centroids| times below
      val cs = bc.value
      var best = 0; var bestC = Double.NegativeInfinity
      var l = 0
      while (l < cs.length) {
        val c = cs(l)
        var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val n = math.min(vv.length, c.length)
        while (i < n) {
          val v = vv(i).toDouble
          s += v * c(i); na += v * v; nb += c(i) * c(i); i += 1
        }
        val cos = s / (math.sqrt(na) * math.sqrt(nb))
        if (cos > bestC) { bestC = cos; best = l }
        l += 1
      }
      best
    }
    val probe = udf { (vec: Seq[Float]) =>
      val vv = vec.toArray
      val cs = bc.value
      val scored = Array.tabulate(cs.length) { l =>
        val c = cs(l)
        var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        val n = math.min(vv.length, c.length)
        while (i < n) {
          val v = vv(i).toDouble
          s += v * c(i); na += v * v; nb += c(i) * c(i); i += 1
        }
        (s / (math.sqrt(na) * math.sqrt(nb)), l)
      }
      scored.sortBy { case (c, l) => (-c, l) }.take(nProbe).map(_._2)
    }
    val d = parallelized(data).withColumn("__list", assign(col("embedding")))
    val q = queries.withColumn("__list", explode(probe(col("qvec"))))
    // no pair-dedup needed: each data vector is assigned to exactly ONE
    // list, so a (data, query) pair can meet on at most one probed list —
    // the join output is already distinct and a dedup would only add a
    // full-width shuffle
    val cand = observed(d.join(broadcast(q), Seq("__list"))
      .where(col("vec_id") =!= col("qid")))
      .withColumn("cosine",
        cosineOf(col("embedding"), col("qvec")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }

  /**
   * Product-quantization codebooks — the MEMORY-bounded 10^12-scale ANN
   * path (Jegou/Douze/Schmid, "Product Quantization for Nearest Neighbor
   * Search", TPAMI 2011 — public paper): the vector splits into `m`
   * subspaces, each quantized against its own `k`-centroid codebook, so a
   * d-float vector stores as m small codes. Training is deterministic
   * Lloyd's (`iters` rounds) per subspace over a driver-side sample of the
   * first `sampleN` vectors by id, with the
   * L2 argmin expressed as argmax(dot(v,c) - 0.5*dot(c,c)) — pure
   * sequential-double arithmetic, so codebooks double as DuckDB literals.
   * Returns [m][k][d/m].
   */
  def trainPqCodebooks(data: DataFrame): Array[Array[Array[Double]]] = {
    val (m, k, iters, sampleN) = (8, 16, 3, 256)
    val sample = data.orderBy(col("vec_id")).limit(sampleN)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(_.toDouble))
    require(sample.nonEmpty && sample.head.length % m == 0,
      s"dim ${sample.headOption.map(_.length)} must divide into $m subspaces")
    val sub = sample.head.length / m
    Array.tabulate(m) { s =>
      val slices = sample.map(v => java.util.Arrays.copyOfRange(v, s * sub, (s + 1) * sub))
      var cents = Array.tabulate(k)(j => slices((j * slices.length / k) % slices.length).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](sub))
        val counts = new Array[Int](k)
        slices.foreach { v =>
          val j = pqAssignOne(v, cents)
          counts(j) += 1
          var i = 0
          while (i < sub) { sums(j)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(k)(j =>
          if (counts(j) == 0) cents(j)
          else Array.tabulate(sub)(i => sums(j)(i) / counts(j)))
        it += 1
      }
      cents
    }
  }

  /** argmax_j (dot(v, c_j) - 0.5*dot(c_j, c_j)) — the L2 argmin for fixed
    * |v|, first max wins (smallest code on ties), sequential arithmetic. */
  private def pqAssignOne(v: Array[Double], cents: Array[Array[Double]]): Int = {
    var best = 0; var bestS = Double.NegativeInfinity
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var d = 0.0; var cc = 0.0; var i = 0
      while (i < c.length) { d += v(i) * c(i); cc += c(i) * c(i); i += 1 }
      val s = d - 0.5 * cc
      if (s > bestS) { bestS = s; best = j }
      j += 1
    }
    best
  }

  /** PQ-encode every vector: (id, codes[m]). Codes-only storage downstream —
    * the shuffle and state cost per vector drops from d floats to m bytes. */
  def pqEncode(data: DataFrame, codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val bc = data.sparkSession.sparkContext.broadcast(codebooks)
    val sub = codebooks.head.head.length
    val enc = udf { (vec: Seq[Float]) =>
      val vv = vec.toArray // unbox once for the per-subspace slices
      val cb = bc.value
      Array.tabulate(cb.length) { s =>
        val v = new Array[Double](sub)
        var i = 0
        while (i < sub) { v(i) = vv(s * sub + i).toDouble; i += 1 }
        pqAssignOne(v, cb(s))
      }
    }
    data.select(col("vec_id"), enc(col("embedding")).as("codes"))
  }

  /**
   * PQ approximate top-k by asymmetric distance computation: the query stays
   * exact, each data vector is its reconstruction from codes; cosine(q, r) =
   * (sum_s dot(q_s, c_codes[s])) / (|q| * sqrt(sum_s |c_codes[s]|^2)), all
   * sums folded in ascending-subspace order (sequential doubles — the oracle
   * replays them with list(x ORDER BY s) + list_reduce). Returns
   * (qid, rank, neighbor_id) ranked by ADC score desc, id.
   */
  def cosinePq(data: DataFrame, queries: DataFrame, k: Int,
               codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val spark = data.sparkSession
    val bc = spark.sparkContext.broadcast(codebooks)
    val sub = codebooks.head.head.length
    val codes = pqEncode(parallelized(data), codebooks)
    val score = udf { (qvec: Seq[Float], cds: Seq[Int]) =>
      val qv = qvec.toArray // unbox once; read twice per element below
      val cb = bc.value
      // per-subspace partial dots folded in ascending-s order — the same
      // associativity as the oracle's list_reduce over list(x ORDER BY s)
      var num = 0.0; var rr = 0.0
      var s = 0
      while (s < cb.length) {
        val c = cb(s)(cds(s))
        var ds = 0.0; var cs = 0.0
        var i = 0
        while (i < sub) {
          ds += qv(s * sub + i).toDouble * c(i)
          cs += c(i) * c(i)
          i += 1
        }
        num += ds; rr += cs
        s += 1
      }
      var qq = 0.0
      var i = 0
      while (i < qv.length) { qq += qv(i).toDouble * qv(i); i += 1 }
      num / (math.sqrt(qq) * math.sqrt(rr))
    }
    val cand = codes.join(broadcast(queries))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("adc", score(col("qvec"), col("codes")))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("vec_id").as("neighbor_id"))
  }

  /**
   * LSH-bucketed approximate NN: join on a 5-bit signed-random-projection
   * bucket over 16 independent hash tables, then exact cosine within buckets.
   * Recall < 1 by construction; tested against the brute-force baseline.
   * Scale shape: the shuffle key is (table, bucket) — candidates meet by
   * bucket equi-join, never a cross join; the plane matrix is broadcast.
   */
  def cosineLsh(data: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val spark = data.sparkSession
    val (bits, tables) = (5, 16)
    // The query side is broadcast-sized by contract (the previous plan
    // already broadcast it twice); collecting it lets the WHOLE candidate
    // generation + exact scoring run as ONE scan-side pass over the data:
    // each data row computes its SRP buckets, probes the driver-built
    // bucket -> query index (deduping across tables with a flag array), and
    // scores the matching queries in the same JVM loop — no bucket
    // self-join, no pair dedup Exchange, no re-attach joins (the previous
    // plan paid three broadcast builds and a dedup shuffle per call). The
    // big side still never shuffles; the only Exchange left is the per-query
    // top-k window. The planes take their dim from those collected query
    // vectors, which share the data's embedding length.
    val qRows = queries.select(col("qid").cast("long"), col("qvec")).collect()
    val qIds = qRows.map(_.getLong(0))
    val qVecs = qRows.map(_.getSeq[Float](1).toArray)
    val pl = planes(tables, bits, qVecs.headOption.fold(0)(_.length))
    def bucketsOf(v: Array[Float]): Array[Long] = {
      val out = new Array[Long](tables)
      var t = 0
      while (t < tables) {
        var b = 0L; var p = 0
        while (p < bits) {
          val plane = pl(t * bits + p)
          var s = 0.0; var i = 0
          val n = math.min(v.length, plane.length)
          while (i < n) { s += v(i).toDouble * plane(i); i += 1 }
          if (s > 0) b |= (1L << p)
          p += 1
        }
        out(t) = b; t += 1
      }
      out
    }
    // per-table bucket -> query ordinals (driver arithmetic identical to the
    // executor loop, so the bucket keys match bit-for-bit)
    val qIndex: Array[Map[Long, Array[Int]]] = Array.tabulate(tables) { t =>
      qVecs.indices.groupBy(qi => bucketsOf(qVecs(qi))(t))
        .map { case (b, is) => b -> is.toArray }
    }
    val qb = spark.sparkContext.broadcast((qIds, qVecs, qIndex))
    val scoreMatches = udf { (id: Long, vec: Seq[Float]) =>
      val (ids, vecs, index) = qb.value
      val v = vec.toArray
      val bs = bucketsOf(v)
      val seen = new Array[Boolean](ids.length)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      var t = 0
      while (t < tables) {
        index(t).get(bs(t)).foreach { qis =>
          var j = 0
          while (j < qis.length) {
            val qi = qis(j)
            if (!seen(qi) && ids(qi) != id) {
              seen(qi) = true
              val q = vecs(qi)
              var s = 0.0; var na = 0.0; var nb = 0.0; var i = 0
              val n = math.min(v.length, q.length)
              while (i < n) {
                val x = v(i).toDouble; val y = q(i).toDouble
                s += x * y; na += x * x; nb += y * y
                i += 1
              }
              out += ((ids(qi), s / (math.sqrt(na) * math.sqrt(nb))))
            }
            j += 1
          }
        }
        t += 1
      }
      out
    }
    val cand = observed(parallelized(data)
      .select(col("vec_id"), explode(scoreMatches(col("vec_id").cast("long"), col("embedding"))).as("__m"))
      .select(col("__m._1").as("qid"), col("vec_id"), col("__m._2").as("cosine")))
    val w = Window.partitionBy(col("qid")).orderBy(col("cosine").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id").as("neighbor_id"), col("cosine"))
  }
}
