package graft

import graft.model.Fixtures
import graft.operators.ImageOps
import org.apache.spark.sql.functions._

/** North-rule row invariants: decode-once, PSNR>=40dB, caption byte-equality. */
class ImageSpec extends SparkSuite {

  test("ppm and png encode/decode round-trip losslessly") {
    Seq("ppm", "png").foreach { fmt =>
      val pix = Fixtures.pixels(7L, 64, 96)
      val enc = Fixtures.encode(pix, 64, 96, fmt)
      val (w, h, dec) = Fixtures.decode(enc, fmt)
      assert(w == 64 && h == 96)
      assert(java.util.Arrays.equals(pix, dec), s"$fmt round trip must be exact")
      assert(ImageOps.psnr(pix, dec) == 99.0)
    }
  }

  test("decodeFeatures: every row decodes once with PSNR>=40 and caption preserved") {
    val images = Fixtures.images(spark, 300)
    val feats = ImageOps.decodeFeatures(images).toDF()
    val bad = feats.where(col("psnr_db") < 40.0 || !col("decoded_ok")).count()
    assert(bad == 0, s"$bad rows failed the PSNR/decode invariant")
    // caption byte-equality vs the source table
    val mismatch = feats.select(col("image_id"), col("caption").as("c2"))
      .join(images.select(col("image_id"), col("caption").as("c1")), "image_id")
      .where(col("c1") =!= col("c2")).count()
    assert(mismatch == 0)
    assert(feats.count() == 300)
  }

  test("thumbnails: aspect-preserved dims, exact nearest-neighbor pixel replay, caption intact") {
    val images = Fixtures.images(spark, 90)
    val thumbs = ImageOps.thumbnails(images).collect()
    assert(thumbs.length == 90)
    thumbs.foreach { t =>
      // generator dims cycle (64,64) (128,96) (256,256) -> thumbs all tw=64
      val i = t.image_id.stripPrefix("img-").toLong
      val (ew, eh) = (i % 3) match {
        case 0 => (64, 64); case 1 => (64, 48); case _ => (64, 64)
      }
      assert(t.tw == ew && t.th == eh, s"${t.image_id}: ${t.tw}x${t.th}")
      // the thumbnail PPM decodes to exactly the driver-side resize of the
      // deterministic source pixels — distributed == local, byte for byte
      val (dw, dh, pix) = Fixtures.decode(t.thumb, "ppm")
      assert(dw == ew && dh == eh)
      val expected = ImageOps.resize(Fixtures.pixels(i, t.w, t.h), t.w, t.h, ew, eh)
      assert(java.util.Arrays.equals(pix, expected), s"${t.image_id} pixel drift")
      assert(t.caption == Fixtures.caption(i)) // caption byte-equality
    }
    // an already-small image is never upscaled
    val small = ImageOps.resize(Fixtures.pixels(1L, 32, 16), 32, 16, 32, 16)
    assert(small.length == 32 * 16 * 3)
  }

  test("resize produces expected dimensions deterministically") {
    val pix = Fixtures.pixels(3L, 64, 64)
    val r1 = ImageOps.resize(pix, 64, 64, 16, 16)
    val r2 = ImageOps.resize(pix, 64, 64, 16, 16)
    assert(r1.length == 16 * 16 * 3)
    assert(java.util.Arrays.equals(r1, r2))
  }

  test("captionConflicts flags near-identical images with disagreeing captions") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = (0L until 200L).map(i =>
      (i, Fixtures.splitmix64(i), s"cap-${i % 5}")).toDF("image_id", "phash", "caption")
    // clone of 7 with the SAME caption, clone of 10 RELABELED
    val clones = Seq(
      (10007L, Fixtures.splitmix64(7L) ^ 1L, "cap-2"),   // 7 % 5 = 2 -> match
      (10010L, Fixtures.splitmix64(10L) ^ 1L, "cap-x"))  // conflict
      .toDF("image_id", "phash", "caption")
    val got = ImageOps.captionConflicts(base.unionByName(clones))
      .select("id_a", "id_b", "caption_match").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    assert(got((7L, 10007L)) === true)
    assert(got((10L, 10010L)) === false, "relabeled near-dup must flag as conflict")
  }

  test("curationFilter: first-match drop reason per LAION-style rule set") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      ("keep", 512, 512, "a fine picture of a canal bridge"),
      ("small-w", 100, 512, "a fine picture of a canal bridge"),
      ("small-h", 512, 255, "a fine picture of a canal bridge"),
      ("aspect", 2048, 512, "a fine picture of a canal bridge"),     // 4:1 > 3:1
      ("aspect-edge-keep", 1536, 512, "a fine picture of a bridge"), // exactly 3:1 keeps
      ("caption", 512, 512, "too short"),
      ("small-wins", 100, 512, "too short"),                         // small before caption
      ("tokens-edge-keep", 512, 512, "one two three four five"),     // exactly 5 keeps
    ).toDF("image_id", "w", "h", "caption")
    val got = graft.operators.ImageOps.curationFilter(rows)
      .select("image_id", "drop_reason").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("keep").isEmpty && got("aspect-edge-keep").isEmpty && got("tokens-edge-keep").isEmpty)
    assert(got("small-w").contains("small") && got("small-h").contains("small"))
    assert(got("aspect").contains("aspect"))
    assert(got("caption").contains("caption"))
    assert(got("small-wins").contains("small"), "rule order must be small > aspect > caption")
    // plan shape: the gate is pure per-row expressions — no Exchange
    val plan = graft.operators.ImageOps.curationFilter(rows)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"curation gate must not shuffle:\n$plan")
  }

  // independent oracle for the bucket CASE chain: dist(r, b) = max(r/b, b/r)
  // held as a BigInt rational (p, q); argmin scanned ascending with ties ->
  // later index (mirrors the chain's strict-< fall-through)
  private def bruteBucket(w: Int, h: Int, bs: Seq[(Int, Int)]): Int = {
    def dist(bw: Int, bh: Int): (BigInt, BigInt) = {
      val x = BigInt(w) * bh; val y = BigInt(h) * bw
      if (x >= y) (x, y) else (y, x)
    }
    var best = 0; var bd = dist(bs.head._1, bs.head._2)
    for (i <- 1 until bs.size) {
      val d = dist(bs(i)._1, bs(i)._2)
      if (!(bd._1 * d._2 < d._1 * bd._2)) { best = i; bd = d } // d <= bd
    }
    best
  }

  test("aspectBuckets: nearest-in-log-aspect assignment matches an exact rational brute force") {
    import spark.implicits._
    val sorted = ImageOps.ratioSorted(ImageOps.DefaultAspectBuckets)
    val sweep = for { w <- 1 to 64; h <- 1 to 64 } yield (w, h)
    val got = ImageOps.aspectBuckets(
        sweep.toDF("w", "h"), ImageOps.DefaultAspectBuckets)
      .select("w", "h", "bucket_id", "bucket_w", "bucket_h")
      .collect().map(r => ((r.getInt(0), r.getInt(1)),
        (r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    sweep.foreach { case (w, h) =>
      val want = bruteBucket(w, h, sorted)
      val (id, bw, bh) = got((w, h))
      assert(id == want && (bw, bh) == sorted(want),
        s"($w,$h): got bucket $id=($bw,$bh), brute force says $want=${sorted(want)}")
    }
    // a row exactly on the geometric midpoint takes the HIGHER bucket:
    // buckets 1:2 and 2:1 have midpoint ratio 1 (product = 1), so any square
    // image ties and must land in the later (2:1) bucket
    val tie = ImageOps.aspectBuckets(
        Seq((5, 5)).toDF("w", "h"), Seq((1, 2), (2, 1)))
      .select("bucket_id", "bucket_w", "bucket_h").head()
    assert((tie.getInt(0), tie.getInt(1), tie.getInt(2)) == ((1, 2, 1)))
    // bucket-list order must not matter (ratioSorted canonicalizes)
    val shuffled = scala.util.Random.shuffle(ImageOps.DefaultAspectBuckets.toList)
    val got2 = ImageOps.aspectBuckets(Seq((640, 4096)).toDF("w", "h"), shuffled)
      .select("bucket_w", "bucket_h").head()
    assert((got2.getInt(0), got2.getInt(1)) == ((512, 2048)))
    // plan shape: assignment is pure per-row integer CASE chains — no Exchange
    val plan = ImageOps.aspectBuckets(sweep.toDF("w", "h"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucket assignment must not shuffle:\n$plan")
  }

  test("aspectBucketCaseSql property: random bucket ladders match the exact rational brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260818L)
    val sweep = for { w <- 1 to 32; h <- 1 to 32 } yield (w, h)
    val sweepDf = sweep.toDF("w", "h")
    var trials = 0
    while (trials < 20) {
      val nb = 2 + rnd.nextInt(9)
      val cand = Seq.fill(nb * 3)((1 + rnd.nextInt(2048), 1 + rnd.nextInt(2048)))
      // keep only distinct ratios (exact cross-multiplied comparison)
      val buckets = cand.foldLeft(Vector.empty[(Int, Int)]) { (acc, b) =>
        if (acc.exists(a => a._1.toLong * b._2 == b._1.toLong * a._2)) acc
        else acc :+ b
      }.take(nb)
      if (buckets.size >= 2) {
        trials += 1
        val sorted = ImageOps.ratioSorted(buckets)
        val got = ImageOps.aspectBuckets(sweepDf, buckets)
          .select("w", "h", "bucket_id").collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> r.getInt(2)).toMap
        sweep.foreach { case (w, h) =>
          val want = bruteBucket(w, h, sorted)
          assert(got((w, h)) == want,
            s"ladder $sorted, ($w,$h): chain says ${got((w, h))}, brute force $want")
        }
      }
    }
  }

  test("bucketBatches: distributed per-bucket rank equals the sequential assignment, any partitioning") {
    import spark.implicits._
    val B = 16
    val rows = (0L until 1000L).map { i =>
      (i, (16 + (i * 7919) % 4096).toInt, (16 + (i * 104729) % 4096).toInt) }
    // sequential oracle: bucket from the (already brute-forced) assignment
    // op; within each bucket sort by (signed splitmix64(id), id), rank 0..,
    // cut into B-row batches, trailing partial -> null
    val bucketOf = ImageOps.aspectBuckets(rows.toDF("image_id", "w", "h"))
      .select("image_id", "bucket_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected: Map[Long, (Int, Long, Option[Long])] =
      bucketOf.groupBy(_._2).flatMap { case (b, m) =>
        val order = m.keys.toSeq.sortBy(id => (Fixtures.splitmix64(id), id))
        val nFull = (order.size / B) * B
        order.zipWithIndex.map { case (id, r) =>
          id -> ((b, r.toLong, if (r < nFull) Some(r.toLong / B) else None))
        }
      }
    for (parts <- Seq(1, 7, 64)) {
      val got = ImageOps.bucketBatches(
          rows.toDF("image_id", "w", "h").repartition(parts), batchSize = B)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      assert(got == expected, s"mismatch at input partitions=$parts")
    }
    // plan shape: above the persisted range partition there must be no
    // further Exchange — the per-bucket rank is NOT a Window over |buckets|
    // keys (the 11-task funnel) but sortWithinPartitions + mapPartitions
    val bb = ImageOps.bucketBatches(rows.toDF("image_id", "w", "h"), batchSize = B)
    bb.count()
    val planStr = bb.queryExecution.executedPlan.toString
    val aboveCache = planStr.split("InMemoryTableScan").head
    assert(aboveCache.contains("MapPartitions"), planStr.take(1200))
    assert(!aboveCache.contains("Exchange"),
      s"bucketBatches above the cached range partition must not shuffle:\n${planStr.take(1200)}")
  }

  test("images generator is deterministic (same seed, same bytes)") {
    val a = Fixtures.imageRow(42L)
    val b = Fixtures.imageRow(42L)
    assert(a.image_id == b.image_id && java.util.Arrays.equals(a.bytes, b.bytes))
    assert(a.phash == Fixtures.splitmix64(42L))
  }
}
