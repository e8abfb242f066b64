package graft

import graft.operators.Aggs
import org.apache.spark.sql.functions._

/** Aggregation semantics cloned from the reference:
  * histogram rules api/histogram.go:245-300, percentile ties math.go:85-115. */
class AggsSpec extends SparkSuite {
  import spark.implicits._

  test("histogramUniform: >6 distinct values use greedy equi-count distinct bucketing") {
    // 1..50 like l_quantity: expected bounds [1,9)[9,17)[17,25)[25,33)[33,42)[42,inf)
    val df = (1 to 50).flatMap(v => Seq.fill(v % 3 + 1)(v.toDouble)).toDF("v")
    val got = Aggs.histogramUniform(df, "v").orderBy("bucket")
      .select("bucket", "lo", "hi").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got.map(_._1).toSeq == (0L to 5L))
    assert(got.map(_._2).toSeq == Seq(1.0, 9.0, 17.0, 25.0, 33.0, 42.0))
    // element counts preserved
    val total = Aggs.histogramUniform(df, "v").agg(sum("n")).collect()(0).getLong(0)
    assert(total == df.count())
  }

  test("histogramUniform: <=6 distinct values get one bucket per value") {
    val df = Seq(1.0, 1.0, 2.0, 5.0, 5.0, 5.0).toDF("v")
    val got = Aggs.histogramUniform(df, "v").orderBy("bucket")
      .select("bucket", "lo", "n").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(got.toSeq == Seq((0L, 1.0, 2L), (1L, 2.0, 1L), (2L, 5.0, 3L)))
  }

  test("histogramCategorical: top-5 + other when >6 distinct") {
    val df = (Seq.fill(10)("a") ++ Seq.fill(9)("b") ++ Seq.fill(8)("c") ++
      Seq.fill(7)("d") ++ Seq.fill(6)("e") ++ Seq.fill(5)("f") ++ Seq.fill(4)("g")).toDF("v")
    val got = Aggs.histogramCategorical(df, "v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 10L, "b" -> 9L, "c" -> 8L, "d" -> 7L, "e" -> 6L, "other" -> 9L))
  }

  test("percentiles: ties share the first index (rank-1)/n") {
    val df = Seq(1.0, 2.0, 2.0, 3.0).toDF("v")
    val got = Aggs.percentiles(df, "v").select("v", "percentile").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got == Set((1.0, 0.0), (2.0, 0.25), (3.0, 0.75)))
  }

  test("joinMissing adds only rows whose key is absent from base") {
    val base = Seq((1L, "b"), (2L, "b")).toDF("k", "src")
    val joined = Seq((2L, "j"), (3L, "j")).toDF("k", "src")
    val got = Aggs.joinMissing(base, joined, "k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "b"), (2L, "b"), (3L, "j")))
  }

  test("countValidKeys preserves zero-count keys") {
    val df = Seq((1L, true), (1L, false), (2L, false)).toDF("k", "valid")
    val got = Aggs.countValidKeys(df, "k", col("valid")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 0L))
  }

  test("percentiles keeps null-value rows (null-safe join), percentile 0 like nulls-first ranking") {
    val df = Seq[(Long, Option[Double])]((1L, Some(3.0)), (2L, None), (3L, Some(1.0)),
      (4L, None), (5L, Some(3.0))).toDF("id", "v")
    val got = Aggs.percentiles(df, "v").select("id", "percentile").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 5, s"null rows dropped: $got")
    // nulls rank first (0/5), then 1.0 at 2/5, then 3.0 at 3/5
    assert(got(2L) == 0.0 && got(4L) == 0.0)
    assert(got(3L) == 0.4 && got(1L) == 0.6 && got(5L) == 0.6)
  }

  test("ranking plans have no single-task sort: 100k distinct values, no SinglePartition exchange") {
    val df = spark.range(100000).selectExpr("CAST(id AS DOUBLE) AS v",
      "id % 7 AS junk").toDF()
    val hist = Aggs.histogramUniform(df, "v").orderBy("bucket")
    val rows = hist.collect() // execute FIRST so the final adaptive plan is inspected
    val plan = hist.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global-window funnel found in plan:\n${plan.take(2000)}")
    // 100k distinct values is wider than the driver-side small path: the
    // distinct set is range-partitioned on the value
    assert("rangepartitioning\\(v#".r.findFirstIn(plan).isDefined,
      s"no range exchange on the value in plan:\n${plan.take(2000)}")
    assert(rows.length == 6)
    assert(rows.map(_.getAs[Number]("n").longValue()).sum == 100000L)
    // greedy closed form: e1 = 100000/6 = 16666 -> first bucket [0, 16666)
    assert(rows(0).getAs[Double]("lo") == 0.0 && rows(0).getAs[Double]("hi") == 16665.0)
    assert(rows(1).getAs[Double]("lo") == 16666.0)
    val pct = Aggs.percentiles(df, "v")
    assert(pct.count() == 100000L)
    assert(!pct.queryExecution.executedPlan.toString.contains("SinglePartition"))
  }

  test("histogram-with-id: collection-feature change carries bucket label tags; items stay distributed") {
    val df = (1 to 100).map(i => (i.toLong, i.toDouble)).toDF("k", "v")
    val (change, items) = Aggs.histogramChange(df, "v", "k", "graft/ui", 42L, swatch = true)
    val add = change.adds.head
    assert(add.ftype == "collection" && add.value == 42L)
    assert(add.tags("b6") == "histogram" && add.tags("b6:histogram") == "swatch")
    assert((0 to 5).forall(i => add.tags.contains(s"bucket:$i")))
    // membership must agree with histogramUniform's bucket ranges
    val ranges = Aggs.histogramUniform(df, "v").orderBy("bucket").collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getDouble(1), r.getDouble(2)))
    val got = items.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ranges.foreach { case (b, lo, hi) =>
      assert(got(lo.toLong) == b && got(hi.toLong) == b, s"bucket $b [$lo,$hi]")
    }
  }

  test("histogram labels follow the reference formatLabel rules") {
    assert(Aggs.formatLabel(1.0, Some(2.0)) == "1")      // int, u == l+1
    assert(Aggs.formatLabel(1.0, Some(9.0)) == "1-9")
    assert(Aggs.formatLabel(42.0, None) == "42-")        // open bucket
    assert(Aggs.formatLabel(0.125, Some(0.5)) == "0.125-0.500")
  }

  test("top is TakeOrdered with deterministic tiebreak") {
    val df = Seq((1L, 5.0), (2L, 5.0), (3L, 1.0)).toDF("k", "v")
    val got = Aggs.top(df, "v", 2, "k").select("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L))
  }

  test("percentiles twice over one input pins its internal caches on the first call only") {
    // wider than the small path, so both calls take the range plan
    val df = spark.range(Aggs.SmallDistinct + 1).selectExpr("CAST(id AS DOUBLE) + 0.5 AS v")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val first = Aggs.percentiles(df, "v").collect().toSet
    val afterFirst = sc.getPersistentRDDs.size
    // the session cache matches the second call's plans to the first call's
    // entries, so persisting them again pins nothing new
    val second = Aggs.percentiles(df, "v").collect().toSet
    assert(afterFirst > before)
    assert(sc.getPersistentRDDs.size == afterFirst)
    assert(second == first)
  }

  test("percentiles over few distinct values pins nothing") {
    val df = Seq(10.5, 11.5, 11.5, 12.5, 14.5).toDF("v")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val got = Aggs.percentiles(df, "v").collect().map(r => r.getDouble(0) -> r.getDouble(1)).toSet
    assert(sc.getPersistentRDDs.size == before)
    assert(got == Set(10.5 -> 0.0, 11.5 -> 0.2, 12.5 -> 0.6, 14.5 -> 0.8))
  }

  // ---- the small-distinct path against the wide path and a brute force ------

  /** Seeded inputs drawn from a pool with nulls, NaN, -0.0 and 0.0 (one
    * group in Spark), and ties; plus one distinct value and an empty input. */
  private val numericInputs: Seq[(String, Seq[Option[Double]])] = {
    val pool = Seq(None, Some(Double.NaN), Some(-0.0), Some(0.0), Some(-3.5), Some(1.25),
      Some(2.0), Some(7.0), Some(7.5), Some(1e9), Some(-1e-9))
    val seeded = Seq(3L, 17L, 2026L).map { seed =>
      val rnd = new scala.util.Random(seed)
      val pick = rnd.shuffle(pool).take(3 + rnd.nextInt(pool.length - 2))
      s"seed $seed" -> Seq.fill(20 + rnd.nextInt(60))(pick(rnd.nextInt(pick.length)))
    }
    seeded ++ Seq("one distinct value" -> Seq.fill(9)(Some(4.0)), "empty" -> Nil)
  }

  private def numericDf(xs: Seq[Option[Double]]) =
    xs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v").repartition(3)

  /** Spark's order over the values: nulls first, NaN above every number,
    * -0.0 equal to 0.0. */
  private def cmp(a: Option[Double], b: Option[Double]): Int = (a, b) match {
    case (None, None) => 0
    case (None, _) => -1
    case (_, None) => 1
    case (Some(x), Some(y)) =>
      if (x.isNaN || y.isNaN) java.lang.Boolean.compare(x.isNaN, y.isNaN)
      else java.lang.Double.compare(x + 0.0, y + 0.0)
  }

  /** Distinct values in order, each with its row count, -0.0 shown as 0.0. */
  private def bruteCounts(xs: Seq[Option[Double]]): Seq[(Option[Double], Long)] =
    xs.foldLeft(Vector.empty[(Option[Double], Long)]) { (acc, v) =>
      acc.indexWhere(p => cmp(p._1, v) == 0) match {
        case -1 => acc :+ (v.map(_ + 0.0) -> 1L)
        case i => acc.updated(i, acc(i)._1 -> (acc(i)._2 + 1))
      }
    }.sortWith((a, b) => cmp(a._1, b._1) < 0)

  /** `body`'s result, asserting it persisted nothing: the small path ran
    * (the wide path persists its ranked distinct set). */
  private def pinsNothing[A](body: => A): A = {
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = body
    assert(spark.sparkContext.getPersistentRDDs.size == before, "the wide path ran")
    out
  }

  /** A double by its bits, so NaN equals NaN and -0.0 differs from 0.0. */
  private def bits(v: Any): Option[Long] = Option(v).map(x => java.lang.Double.doubleToLongBits(x.asInstanceOf[Double]))

  test("percentiles: the small path equals the wide path and a brute force on seeded inputs") {
    numericInputs.foreach { case (name, xs) =>
      val df = numericDf(xs)
      def rows(out: org.apache.spark.sql.DataFrame) = out.select("id", "percentile").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
      val small = pinsNothing(rows(Aggs.percentiles(df, "v")))
      val brute = xs.zipWithIndex.map { case (v, i) =>
        i.toLong -> xs.count(w => cmp(w, v) < 0).toDouble / xs.length
      }
      assert(small == brute, name)
      assert(small == rows(Aggs.percentilesWide(df, "v")), name)
      assert(Aggs.percentiles(df, "v").schema == Aggs.percentilesWide(df, "v").schema, name)
    }
  }

  test("histogramUniform: the small path equals the wide path and a brute force on seeded inputs") {
    numericInputs.foreach { case (name, xs) =>
      val df = numericDf(xs)
      def rows(out: org.apache.spark.sql.DataFrame) = out.orderBy("bucket").collect()
        .map(r => (r.getLong(0), bits(r.get(1)), bits(r.get(2)), r.getLong(3))).toSeq
      // the reference's greedy loop: each bucket takes remaining/(6 - built)
      // distinct values, the last takes the rest
      val counts = bruteCounts(xs)
      val d = counts.length
      val sizes = if (d <= 6) Seq.fill(d)(1) else (0 until 6).foldLeft(Vector.empty[Int]) { (b, i) =>
        val remaining = d - b.sum
        b :+ (if (i == 5) remaining else remaining / (6 - i))
      }
      val brute = sizes.indices.map { i =>
        val members = counts.slice(sizes.take(i).sum, sizes.take(i + 1).sum)
        val vs = members.flatMap(_._1)
        (i.toLong, vs.headOption.map(java.lang.Double.doubleToLongBits),
          vs.lastOption.map(java.lang.Double.doubleToLongBits), members.map(_._2).sum)
      }
      val (small, schema) = pinsNothing { val h = Aggs.histogramUniform(df, "v"); (rows(h), h.schema) }
      val wide = Aggs.histogramUniformWide(df, "v")
      assert(small == brute, name)
      assert(small == rows(wide), name)
      assert(schema == wide.schema, name)
    }
  }

  test("histogramCategorical: the small path equals the wide path and a brute force on seeded inputs") {
    val pool = Seq(None, Some("other"), Some("a"), Some("b"), Some("B"), Some("é"), Some("zz"),
      Some("m"), Some("q"), Some(""))
    val seeded = Seq(5L, 23L, 99L).map { seed =>
      val rnd = new scala.util.Random(seed)
      val pick = rnd.shuffle(pool).take(3 + rnd.nextInt(pool.length - 2))
      s"seed $seed" -> Seq.fill(20 + rnd.nextInt(60))(pick(rnd.nextInt(pick.length)))
    }
    (seeded ++ Seq("one distinct value" -> Seq.fill(4)(Some("x")), "empty" -> Nil)).foreach { case (name, xs) =>
      val df = xs.toDF("v").repartition(3)
      def rows(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
      // count desc, then value ascending with null first
      val ranked = xs.groupBy(identity).map { case (v, vs) => v -> vs.length.toLong }.toSeq
        .sortBy { case (v, c) => (-c, v.isDefined, v.getOrElse("")) }
      val brute = ranked.zipWithIndex
        .map { case ((v, c), r) => (if (ranked.length <= 6 || r < 5) v else Some("other")) -> c }
        .groupBy(_._1).map { case (b, cs) => b -> cs.map(_._2).sum }
      val (small, schema) = pinsNothing { val h = Aggs.histogramCategorical(df, "v"); (rows(h), h.schema) }
      val wide = Aggs.histogramCategoricalWide(df, "v")
      assert(small == brute, name)
      assert(small == rows(wide), name)
      assert(schema == wide.schema, name)
    }
  }
}
