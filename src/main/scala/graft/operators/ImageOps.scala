package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.model.Fixtures

/**
 * Multimodal (image) column plumbing: the binary `bytes` column is decoded
 * exactly once per row inside one mapPartitions pass (decode-once discipline
 * from the north rule), producing typed metadata + features; caption passes
 * through untouched (byte-equality invariant).
 *
 * Codecs: PPM and PNG decode for real (pure JVM); other formats would be
 * stubbed behind the same interface. PSNR is computed against the
 * deterministic reference pixels for the row (lossless codecs -> capped 99 dB).
 */
object ImageOps {

  case class ImageFeatures(
      image_id: String, w: Int, h: Int, fmt: String, caption: String,
      phash: Long, psnr_db: Double, mean_r: Double, mean_g: Double, mean_b: Double,
      decoded_ok: Boolean)

  /**
   * Cross-modal consistency QA over an image+caption table (the input_hint
   * row shape): among image NEAR-DUPLICATE pairs (phash Hamming <= 3),
   * flag pairs whose captions disagree — near-identical images
   * carrying different labels are the classic mislabeled-duplicate defect a
   * training pipeline must surface before dedup keeps an arbitrary one.
   * Returns (id_a, id_b, hamming, caption_match); downstream filters
   * `!caption_match` for the conflict report. Same banded join as
   * phashNearDupPairs — captions re-attach by id.
   */
  def captionConflicts(images: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    // captions ride the banded join's own two re-attach joins (carry cols) —
    // one persisted projection, no extra joins against the input
    TextOps.hammingPairs64(
        images.select(col("image_id"), col("phash"), col("caption")),
        "image_id", "phash", carry = Seq("caption"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        (col("caption_a") === col("caption_b")).as("caption_match"))
  }

  /** LAION/DataComp-style image-curation gate over the input_hint row shape
    * (w:int, h:int, caption:string): first-match drop reason, NULL = keep.
    * Rules: minimum dimension (`minDim`), aspect ratio at most 3, at least 5
    * caption tokens. The aspect test stays in INTEGER arithmetic
    * (greatest(w,h) > 3 * least(w,h)) so a DuckDB oracle replays the
    * gate bit-exactly; token counting reuses the shared engine-portable
    * fragment ([[TextOps.tokenCountSql]]). Pure per-row expressions — the
    * gate rides the parquet scan at corpus scale (no shuffle, fully
    * codegen'd). */
  def curationFilter(images: DataFrame, minDim: Int = 256): DataFrame = {
    import org.apache.spark.sql.functions._
    images.withColumn("drop_reason",
      when(col("w") < minDim || col("h") < minDim, "small")
        .when(greatest(col("w"), col("h")) >
          lit(3) * least(col("w"), col("h")), "aspect")
        .when(expr(TextOps.tokenCountSql("caption")) < 5, "caption")
        .otherwise(lit(null).cast("string")))
  }

  /** The canonical SDXL/NovelAI-style ~1 Mpx aspect-ratio bucket ladder
    * (portrait -> square -> landscape). Any list of distinct-ratio (bw, bh)
    * pairs works; this is the published default shape. */
  val DefaultAspectBuckets: Seq[(Int, Int)] = Seq(
    (512, 2048), (640, 1536), (768, 1344), (832, 1216), (896, 1152),
    (1024, 1024),
    (1152, 896), (1216, 832), (1344, 768), (1536, 640), (2048, 512))

  /** Buckets sorted ascending by aspect ratio bw/bh — compared EXACTLY by
    * cross-multiplication (bw1*bh2 < bw2*bh1), never by double division. */
  def ratioSorted(buckets: Seq[(Int, Int)]): Seq[(Int, Int)] = {
    val s = buckets.sortWith { case ((aw, ah), (bw, bh)) =>
      aw.toLong * bh < bw.toLong * ah }
    s.sliding(2).foreach {
      case Seq((aw, ah), (bw, bh)) =>
        require(aw.toLong * bh != bw.toLong * ah,
          s"duplicate aspect ratio in bucket list: ($aw,$ah) vs ($bw,$bh)")
      case _ =>
    }
    s
  }

  /** Shared Spark/DuckDB CASE fragment assigning the NEAREST-in-log-aspect
    * bucket index (0-based, over [[ratioSorted]] order) to a (w, h) row —
    * entirely in 64-bit INTEGER arithmetic, so both engines replay it
    * bit-exactly.
    *
    * Nearest in log space means minimizing |log(w/h) - log(bw/bh)|; the
    * decision boundary between adjacent sorted buckets i, i+1 is the
    * geometric mean of their ratios, and
    *   r < sqrt(b_i * b_{i+1})  <=>  r^2 < b_i * b_{i+1}
    *   <=>  w^2 * (bh_i * bh_{i+1}) < h^2 * (bw_i * bw_{i+1})
    * — integer products only (w,h <= ~2^13, bucket dims <= 2^11: the chain
    * peaks around 2^50, well inside BIGINT; the leading CAST promotes the
    * whole left-associated product past INT overflow under ANSI mode).
    * Tie rule: a row exactly ON a geometric midpoint takes the HIGHER
    * (wider-aspect) bucket — the strict `<` falls through the WHEN.
    */
  def aspectBucketCaseSql(buckets: Seq[(Int, Int)]): String = {
    val bs = ratioSorted(buckets)
    if (bs.size == 1) return "CAST(0 AS INT)"
    val whens = bs.sliding(2).zipWithIndex.collect {
      case (Seq((bw1, bh1), (bw2, bh2)), i) =>
        val bhp = bh1.toLong * bh2
        val bwp = bw1.toLong * bw2
        s"WHEN CAST(w AS BIGINT) * w * $bhp < " +
          s"CAST(h AS BIGINT) * h * $bwp THEN $i"
    }.mkString(" ")
    s"CAST(CASE $whens ELSE ${bs.size - 1} END AS INT)"
  }

  /** Companion CASE fragment resolving a bucket index back to one of its
    * target dimensions (shared verbatim by the oracle side). */
  def bucketDimCaseSql(buckets: Seq[(Int, Int)], idxCol: String,
                       dim: ((Int, Int)) => Int): String = {
    val bs = ratioSorted(buckets)
    val whens = bs.zipWithIndex
      .map { case (b, i) => s"WHEN $i THEN ${dim(b)}" }.mkString(" ")
    s"CAST(CASE $idxCol $whens END AS INT)"
  }

  /** SDXL-style aspect-ratio bucketing for image training batches: each row
    * is assigned the bucket (target resize dims) whose aspect ratio is
    * nearest in log space — the standard way a diffusion/VLM trainer groups
    * a 10^12-image corpus into same-shaped batches without destructive
    * square-cropping. Adds `bucket_id`, `bucket_w`, `bucket_h`.
    *
    * Scale posture: pure per-row integer CASE chains over the metadata
    * columns — fully codegen'd, zero shuffle, rides the parquet scan (w/h
    * pruned columns only); the downstream per-bucket grouping is the
    * consumer's one shuffle. (Training-pipeline extension beyond the
    * reference surface, same family as [[curationFilter]].)
    */
  def aspectBuckets(images: DataFrame,
                    buckets: Seq[(Int, Int)] = DefaultAspectBuckets): DataFrame = {
    import org.apache.spark.sql.functions._
    images
      .withColumn("bucket_id", expr(aspectBucketCaseSql(buckets)))
      .withColumn("bucket_w", expr(bucketDimCaseSql(buckets, "bucket_id", _._1)))
      .withColumn("bucket_h", expr(bucketDimCaseSql(buckets, "bucket_id", _._2)))
  }

  /** SDXL-style per-bucket training BATCH assignment, composing
    * [[aspectBuckets]] with a deterministic within-bucket shuffle: rows are
    * ordered inside their aspect bucket by splitmix64(id) (the corpus-wide
    * deterministic "epoch shuffle"), ranked 0.., and cut into fixed
    * `batchSize` batches; the trailing partial batch per bucket gets a NULL
    * batch_id (drop_last semantics). Returns (id, bucket_id, bk_rank,
    * batch_id).
    *
    * Scale shape: the per-bucket dense rank is [[Sorted.runningTotals]]
    * restarting per bucket, not a Window over 11 bucket keys (which would
    * funnel 10^12 rows through |buckets| tasks): the range partition on
    * (bucket, hash, id) spreads each bucket over many partitions. ONE
    * shuffle total. Requires a non-negative 64-bit unique id column.
    */
  def bucketBatches(images: DataFrame, batchSize: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(batchSize > 0, "batchSize must be positive")
    val sm = udf((id: Long) => graft.model.Fixtures.splitmix64(id))
    val idCol = "image_id"
    val assigned = aspectBuckets(images)
      .select(col(idCol).cast("long").as(idCol), col("bucket_id"),
        sm(col(idCol).cast("long")).as("__hs"))
    val bs = lit(batchSize.toLong)
    Sorted.runningTotals(assigned, Seq("bucket_id"), Seq(col("__hs"), col(idCol)), Seq("n" -> lit(1L)))
      // ids are non-null by contract; the coalesce keeps the column non-null
      .select(coalesce(col(idCol), lit(0L)).as(idCol), col("bucket_id"), col("n_before").as("bk_rank"),
        // drop_last: ranks past the last full batch get no batch
        when(col("n_before") < call_function("div", col("n_total"), bs) * bs,
          call_function("div", col("n_before"), bs)).as("batch_id"))
  }

  /** Image near-duplicate PAIRS by perceptual hash: 4x16-bit banded Hamming
    * join over the `phash` column (TextOps.hammingPairs64) — the image-space
    * member of the dedup family next to text simhash. Recall is exact to
    * Hamming <= 3 by the pigeonhole band guarantee; no decode needed, the
    * signature column IS the input (input_hint schema carries phash:int64).
    */
  def phashNearDupPairs(images: DataFrame): DataFrame =
    TextOps.hammingPairs64(images, "image_id", "phash")

  def psnr(ref: Array[Byte], got: Array[Byte]): Double = {
    if (ref.length != got.length || ref.length == 0) return 0.0
    var se = 0.0
    var i = 0
    while (i < ref.length) {
      val d = (ref(i) & 0xff) - (got(i) & 0xff)
      se += d.toDouble * d.toDouble
      i += 1
    }
    if (se == 0.0) 99.0
    else 10.0 * math.log10(255.0 * 255.0 * ref.length / se)
  }

  /** Nearest-neighbor resize on a raw RGB buffer (pure JVM, deterministic). */
  def resize(pix: Array[Byte], w: Int, h: Int, nw: Int, nh: Int): Array[Byte] = {
    val out = new Array[Byte](nw * nh * 3)
    var y = 0
    while (y < nh) {
      val sy = y * h / nh
      var x = 0
      while (x < nw) {
        val sx = x * w / nw
        val si = (sy * w + sx) * 3; val di = (y * nw + x) * 3
        out(di) = pix(si); out(di + 1) = pix(si + 1); out(di + 2) = pix(si + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  case class Thumb(image_id: String, caption: String, w: Int, h: Int,
                   tw: Int, th: Int, thumb: Array[Byte])

  /**
   * Distributed thumbnailing over the images table (input_hint schema):
   * decode once, nearest-neighbor downscale so the longer side is 64 px
   * (aspect preserved, integer arithmetic, never upscaled), re-encode as PPM
   * (P6). One mapPartitions pass — source bytes never leave the task; only
   * the (much smaller) thumbnail bytes flow on. The training-pipeline
   * preprocessing step next to decodeFeatures; caption passes through
   * untouched (the per-row invariant).
   */
  def thumbnails(images: DataFrame): Dataset[Thumb] = {
    val spark = images.sparkSession
    val maxDim = 64
    import spark.implicits._
    images.select("image_id", "bytes", "fmt", "caption")
      .as[(String, Array[Byte], String, String)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, fmt, cap) =>
          val (dw, dh, pix) = Fixtures.decode(bytes, fmt)
          val m = math.max(dw, dh)
          val (tw, th) =
            if (m <= maxDim) (dw, dh)
            else (math.max(1, dw * maxDim / m), math.max(1, dh * maxDim / m))
          Thumb(id, cap, dw, dh, tw, th,
            Fixtures.encode(resize(pix, dw, dh, tw, th), tw, th, "ppm"))
        }
      }
  }

  /**
   * Decode-once feature extraction over the images table
   * (image_id, bytes, w, h, fmt, caption, phash). One mapPartitions pass;
   * bytes never leave the task, only compact features shuffle afterwards.
   */
  def decodeFeatures(images: DataFrame): Dataset[ImageFeatures] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .as[(String, Array[Byte], Int, Int, String, String, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, bytes, w, h, fmt, cap, phash) =>
          try {
            val (dw, dh, pix) = Fixtures.decode(bytes, fmt)
            // reference pixels for this row are regenerated deterministically
            val i = id.stripPrefix("img-").toLong
            val ref = Fixtures.pixels(i, dw, dh)
            var r = 0L; var g = 0L; var b = 0L
            var j = 0
            while (j < pix.length) {
              r += pix(j) & 0xff; g += pix(j + 1) & 0xff; b += pix(j + 2) & 0xff
              j += 3
            }
            val n = math.max(1, pix.length / 3).toDouble
            ImageFeatures(id, dw, dh, fmt, cap, phash, psnr(ref, pix),
              r / n, g / n, b / n, decoded_ok = dw == w && dh == h)
          } catch {
            case _: Throwable =>
              ImageFeatures(id, w, h, fmt, cap, phash, 0.0, 0, 0, 0, decoded_ok = false)
          }
        }
      }
  }
}
