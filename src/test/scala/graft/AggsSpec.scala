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
    val df = Seq(10.5, 11.5, 11.5, 12.5, 14.5).toDF("v")
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
}
