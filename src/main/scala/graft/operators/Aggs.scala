package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Dataflow aggregations with the reference's exact semantics
 * (src/diagonal.works/b6/api/functions/collections.go, math.go, api/histogram.go).
 * All are plain declarative Dataset ops — partial aggregation, AQE and
 * whole-stage codegen apply untouched.
 */
object Aggs {

  /** count-values (collections.go:303-326) and count-keys (:329-352):
    * value -> occurrence count `n`. Up to [[SmallDistinct]] distinct values
    * of a [[keyedOnDriver]] type the counts come from [[smallCounts]] (one
    * Spark job) as a local relation, so collecting them runs no job; wider
    * inputs and other types group by the value. */
  def countValues(df: DataFrame, valueCol: String): DataFrame = {
    val value = df.select(col(valueCol)).schema.head
    smallCounts(df, col(valueCol)) match {
      case Some(counts) =>
        df.sparkSession.createDataFrame(
          java.util.Arrays.asList(counts.map { case (v, c) => Row(v, c) }: _*),
          StructType(Seq(value, StructField("n", LongType, nullable = false))))
      case None => df.groupBy(col(valueCol)).agg(count(lit(1)).as("n"))
    }
  }

  /** sum-by-key (collections.go:278-300). */
  def sumByKey(df: DataFrame, keyCol: String, valueCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(sum(col(valueCol)).as("sum_value"))

  /** count-valid-keys (collections.go:356-387): per key, count of valid values —
    * zero-preserving (keys with no valid value still appear with 0). */
  def countValidKeys(df: DataFrame, keyCol: String, validCol: Column): DataFrame =
    df.groupBy(col(keyCol))
      .agg(sum(when(validCol, 1L).otherwise(0L)).as("n_valid"))

  /** top (collections.go:125-213): n largest by value; deterministic tiebreak
    * on the key column. Spark plans this as TakeOrderedAndProject (no full sort). */
  def top(df: DataFrame, valueCol: String, n: Int, tieBreak: String): DataFrame =
    df.orderBy(col(valueCol).desc, col(tieBreak)).limit(n)

  /** take (collections.go:71-122): first n in key order. */
  def take(df: DataFrame, n: Int, orderCol: String): DataFrame =
    df.orderBy(col(orderCol)).limit(n)

  /** Distinct values up to which the ranking operators rank on the driver.
    * Below 100,000, so a 100k-distinct input still takes the range plan. */
  private[graft] final val SmallDistinct = 10000

  /** value -> occurrence count as (v, c): the input of every ranking. */
  private def valueCounts(df: DataFrame, value: Column): DataFrame =
    df.groupBy(value.as("v")).agg(count(lit(1)).as("c"))

  /**
   * The (v, c) counts of `value` over `df`, v ascending (nulls first, as
   * Spark sorts), when `value` takes at most [[SmallDistinct]] distinct
   * values of a [[keyedOnDriver]] type; else None. One guarded pass that is
   * one Spark job with no exchange: each partition counts its values into a
   * hash map keyed like Spark's grouping and stops reading once it holds
   * more than N keys, and the driver merges the maps as tasks finish. A
   * `limit(N + 1).collect()` over a groupBy would run two jobs under AQE
   * (the aggregation's exchange, then the collect). The small path then
   * needs no persist, no range sampling, no offsets job and no broadcast
   * of a driver-local relation.
   */
  private def smallCounts(df: DataFrame, value: Column): Option[Array[(Any, Long)]] = {
    val values = df.select(value)
    val dt = values.schema.head.dataType
    if (!keyedOnDriver(dt)) return None
    type Counts = java.util.HashMap[Any, java.lang.Long]
    def add(m: Counts, k: Any, c: Long): Unit = m.merge(k, c, (a, b) => a + b)
    values.rdd.mapPartitions { rows =>
      val m = new Counts()
      while (rows.hasNext && m.size <= SmallDistinct) add(m, groupKey(rows.next().get(0)), 1L)
      Iterator.single(Option.when(m.size <= SmallDistinct)(m))
    }.fold(Some(new Counts())) {
      case (Some(x), Some(y)) =>
        y.forEach((k, c) => add(x, k, c))
        Option.when(x.size <= SmallDistinct)(x)
      case _ => None
    }.map { m =>
      val out = new Array[(Any, Long)](m.size)
      var i = 0
      m.forEach { (k, c) => out(i) = (k, c.longValue); i += 1 }
      out.sortBy(_._1)(ascending(dt))
    }
  }

  /** Value types whose collected values compare equal exactly when Spark's
    * grouping puts them in one group (once [[groupKey]] folds the float
    * zeros), and sort as Spark sorts them under [[ascending]]. */
  private def keyedOnDriver(dt: DataType): Boolean = dt match {
    case _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** The grouping key of a collected value: -0.0 folds into 0.0 (boxed
    * doubles already compare every NaN equal). */
  private def groupKey(v: Any): Any = v match {
    case d: Double if d == 0.0 => 0.0
    case f: Float if f == 0.0f => 0.0f
    case other => other
  }

  /** Spark's ascending order over collected [[keyedOnDriver]] values: nulls
    * first, strings by their UTF-8 bytes, the rest by their own compareTo
    * (which puts NaN above every double, as Spark does). */
  private def ascending(dt: DataType): Ordering[Any] = {
    val values: Ordering[Any] = dt match {
      case _: StringType => Ordering.by((s: Any) => UTF8String.fromString(s.asInstanceOf[String]))
      case _ => (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
    }
    (a, b) => if (a == null) (if (b == null) 0 else -1) else if (b == null) 1 else values.compare(a, b)
  }

  /**
   * Global rank/cumulative-count over the distinct (v, c) pairs WITHOUT a
   * single-task sort, for the wide path of the ranking operators (more than
   * [[SmallDistinct]] distinct values): [[Sorted.runningTotals]] with the
   * weights 1 and c. At 10M+ distinct values a `Window.orderBy` plan would
   * funnel every distinct value through ONE task; this plan's widest single
   * task holds one range partition.
   *
   * `counts` must have columns (v, c); `order` is the total sort order over
   * `v`-rows (e.g. `col("v")` ascending, or `(c desc, v)` for categorical
   * histograms). Returns (v, c, r, cum_before, d, total): r = 0-based global
   * rank, cum_before = total c over strictly-earlier rows, d = distinct
   * count, total = sum of c.
   */
  private def rankedCounts(counts: DataFrame, order: Seq[Column]): DataFrame =
    // persist the aggregated distinct set BEFORE the range partition:
    // repartitionByRange runs a hidden SAMPLING job over its input, which
    // otherwise re-executes the input aggregation a second time — with the
    // cache the sampling pass fills it and the range exchange reads back the
    // distinct set, one full input scan total.
    Sorted.runningTotals(counts.persist(), Nil, order, Seq("r" -> lit(1L), "c" -> col("c")))
      .select(col("v"), col("c"), col("r_before").as("r"), col("c_before").as("cum_before"),
        col("r_total").as("d"), col("c_total").as("total"))

  /**
   * percentiles (math.go:85-115): sort ascending; each value maps to
   * firstIndexOfThatValue / n — ties share the first index. Null values rank
   * first (percentile 0) and keep their rows.
   *
   * Up to [[SmallDistinct]] distinct values the ranks are computed on the
   * driver from [[smallCounts]] and reach each row through a hash lookup
   * keyed like the aggregation's grouping (-0.0 is 0.0, every NaN one key);
   * wider inputs take [[percentilesWide]].
   */
  def percentiles(df: DataFrame, valueCol: String): DataFrame =
    smallCounts(df, col(valueCol)) match {
      case Some(counts) =>
        val total = counts.map(_._2).sum.toDouble
        val pct = new java.util.HashMap[Any, java.lang.Double](counts.length * 2)
        var cum = 0L
        counts.foreach { case (v, c) => pct.put(v, cum.toDouble / total); cum += c }
        val lookup = udf(new UDF1[Any, java.lang.Double] {
          def call(v: Any): java.lang.Double = pct.get(groupKey(v))
        }, DoubleType)
        df.withColumn("percentile", lookup(col(valueCol)))
      case None => percentilesWide(df, valueCol)
    }

  /** [[percentiles]] over `rankedCounts` (range-partitioned, per-partition
    * offsets; no unpartitioned window anywhere). The per-row result comes
    * back via a NULL-SAFE equi-join on the value (`<=>`), so rows with a
    * null value keep their (first-ranked, percentile 0) row. */
  private[graft] def percentilesWide(df: DataFrame, valueCol: String): DataFrame = {
    val ranked = rankedCounts(valueCounts(df, col(valueCol)), Seq(col("v")))
      .select(col("v").as("__v"),
        (col("cum_before").cast("double") / col("total").cast("double")).as("percentile"))
    df.join(ranked, col(valueCol) <=> col("__v")).drop("__v")
  }

  /** 0-based bucket of the distinct value ranked `r` of `d`: one per value
    * when d <= 6, else the greedy closed form e1 = d/6,
    * e_{i+1} = e_i + (d - e_i)/(6-i) (integer division). */
  private def uniformBucket(r: Long, d: Long): Long = {
    if (d <= 6) r
    else {
      val e1 = d / 6; val e2 = e1 + (d - e1) / 5; val e3 = e2 + (d - e2) / 4
      val e4 = e3 + (d - e3) / 3; val e5 = e4 + (d - e4) / 2
      if (r < e1) 0 else if (r < e2) 1 else if (r < e3) 2
      else if (r < e4) 3 else if (r < e5) 4 else 5
    }
  }

  /**
   * histogram, numeric case (api/histogram.go:245-300 `uniform`):
   * distinct values sorted ascending; if <= 6 distinct, one bucket per value;
   * else greedily: bucket_size = remaining / (6 - bucketsSoFar) DISTINCT values
   * per bucket, half-open [lo, hi), last bucket open-ended. Returns
   * (bucket, lo, hi, n) with element counts per bucket; lo and hi ignore
   * nulls, which rank first and count in bucket 0.
   *
   * Up to [[SmallDistinct]] distinct values the <= 6 buckets are folded on
   * the driver from [[smallCounts]]; wider inputs take
   * [[histogramUniformWide]].
   */
  def histogramUniform(df: DataFrame, valueCol: String): DataFrame =
    smallCounts(df, col(valueCol)) match {
      case Some(counts) =>
        val d = counts.length.toLong
        val out = counts.zipWithIndex.groupBy { case (_, r) => uniformBucket(r, d) }
          .toSeq.sortBy(_._1).map { case (bucket, members) =>
            val vs = members.map(_._1._1).filter(_ != null)
            Row(bucket, vs.headOption.orNull, vs.lastOption.orNull, members.map(_._1._2).sum)
          }
        val vType = df.select(col(valueCol)).schema.head.dataType
        df.sparkSession.createDataFrame(java.util.Arrays.asList(out: _*), StructType(Seq(
          StructField("bucket", LongType, nullable = false), StructField("lo", vType),
          StructField("hi", vType), StructField("n", LongType))))
      case None => histogramUniformWide(df, valueCol)
    }

  /** [[histogramUniform]] fully distributed over the (v, c) counts: the
    * distinct set is ranked by `rankedCounts`, bucketed by [[uniformBucket]],
    * then element counts roll up — no driver-side value list. */
  private[graft] def histogramUniformWide(df: DataFrame, valueCol: String): DataFrame = {
    val bucket = udf((r: Long, d: Long) => uniformBucket(r, d))
    rankedCounts(valueCounts(df, col(valueCol)), Seq(col("v")))
      .groupBy(bucket(col("r"), col("d")).as("bucket"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"), sum(col("c")).as("n"))
  }

  /** Bucket label per the reference's formatLabel (api/histogram.go:209-226):
    * ints where upper == lower+1 collapse to "lower"; floats format %.3g;
    * the open last bucket renders "lower-". */
  def formatLabel(lower: Double, upper: Option[Double]): String = {
    def fmt(v: Double): String =
      if (v == v.floor && math.abs(v) < 1e15) v.toLong.toString
      else formatG3(v)
    upper match {
      case Some(u) if lower == lower.floor && u == u.floor && u == lower + 1 => fmt(lower)
      case Some(u) => s"${fmt(lower)}-${fmt(u)}"
      case None => s"${fmt(lower)}-"
    }
  }

  /** %.3g formatting (3 significant digits, like the reference's
    * formatLabelValue — histogram.go:221-226). */
  private def formatG3(v: Double): String = f"$v%.3g"

  /**
   * histogram, categorical case (api/histogram.go:245-262): order values by
   * count descending; top 5 keep their own bucket, the rest collapse into
   * "other" (only when there are > 6 distinct values; with <= 6 every value
   * keeps its bucket). Ties broken by value for determinism (the reference
   * uses an unstable sort there). A top-5 value named "other" shares the
   * "other" bucket. Up to [[SmallDistinct]] distinct values the buckets are
   * summed on the driver from [[smallCounts]]; wider inputs take
   * [[histogramCategoricalWide]].
   */
  def histogramCategorical(df: DataFrame, valueCol: String): DataFrame = {
    smallCounts(df, col(valueCol).cast("string")) match {
      case Some(counts) =>
        val d = counts.length
        val n = new java.util.LinkedHashMap[Any, java.lang.Long]()
        counts.sortBy { case (v, c) => (-c, v) }(Ordering.Tuple2(Ordering.Long, ascending(StringType)))
          .zipWithIndex.foreach { case ((v, c), r) =>
            n.merge(if (d <= 6 || r < 5) v else "other", c, (a, b) => a + b)
          }
        val out = new java.util.ArrayList[Row]()
        n.forEach((bucket, c) => out.add(Row(bucket, c)))
        df.sparkSession.createDataFrame(out, StructType(Seq(
          StructField("bucket", StringType), StructField("n", LongType))))
      case None => histogramCategoricalWide(df, valueCol)
    }
  }

  /** [[histogramCategorical]] over `rankedCounts` of the (v, c) counts. */
  private[graft] def histogramCategoricalWide(df: DataFrame, valueCol: String): DataFrame = {
    val ranked = rankedCounts(valueCounts(df, col(valueCol).cast("string")),
      Seq(col("c").desc, col("v"))).select("v", "c", "r", "d")
    val labeled = ranked.withColumn("bucket",
      when(col("d") <= 6 || col("r") < 5, col("v")).otherwise(lit("other")))
    labeled.groupBy(col("bucket")).agg(sum(col("c")).as("n"))
  }

  /** Origin-destination histogram (api/histogram.go:139-178): per origin the
    * number of VALID destinations (the filter-accessible invalid sentinel
    * counts as zero), then origins bucketed by that count. Rows are
    * (origin, node). */
  def odHistogram(od: DataFrame): DataFrame =
    od.groupBy(col("origin"))
      .agg(sum(when(col("node") =!= -1L, 1L).otherwise(0L)).as("n_valid"))
      .groupBy("n_valid").agg(count(lit(1)).as("n_origins"))

  /**
   * histogram-with-id / histogram-swatch(-with-id)
   * (api/functions/collections.go:447-483, api/histogram.go:15-60): persist a
   * numeric histogram as a collection-feature CHANGE — `bucket:i` label tags
   * (formatLabel rules), `b6=histogram`, plus `b6:histogram=swatch` for the
   * swatch variant — and the per-element membership as an items DataFrame
   * (element key -> bucket index), which stays distributed: only the <=6
   * bucket bounds ever reach the driver.
   */
  def histogramChange(df: DataFrame, valueCol: String, keyCol: String,
                      ns: String, id: Long, swatch: Boolean): (Changes.ChangeSet, DataFrame) = {
    val buckets = histogramUniform(df, valueCol).orderBy("bucket").collect()
    val lows = buckets.map(r => r.getAs[Number]("lo").doubleValue())
    val labels = lows.indices.map { i =>
      if (i < lows.length - 1) formatLabel(lows(i), Some(lows(i + 1)))
      else formatLabel(lows(i), None)
    }
    val tags = Map("b6" -> "histogram") ++
      labels.zipWithIndex.map { case (l, i) => s"bucket:$i" -> l } ++
      (if (swatch) Map("b6:histogram" -> "swatch") else Map.empty)
    val change = Changes.ChangeSet(adds = Seq(
      Changes.FeatureAdd("collection", ns, id, tags, 0.0, 0.0)))
    // bucket index = number of later-bucket lower bounds <= value
    val idx = lows.drop(1).foldLeft(lit(0L)) { (acc, b) =>
      acc + when(col(valueCol) >= b, 1L).otherwise(0L)
    }
    (change, df.select(col(keyCol).as("key"), idx.as("bucket")))
  }

  /** join-missing (collections.go:485-583): base rows plus joined rows whose
    * key is absent from base (right-anti union). */
  def joinMissing(base: DataFrame, joined: DataFrame, keyCol: String): DataFrame =
    base.unionByName(joined.join(base.select(col(keyCol)), Seq(keyCol), "left_anti"))

  /** flatten (collections.go:389-444): concatenate nested collections. */
  def flatten(df: DataFrame, arrayCol: String, as: String): DataFrame =
    df.withColumn(as, explode(col(arrayCol))).drop(arrayCol)
}
