package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Dataflow aggregations with the reference's exact semantics
 * (src/diagonal.works/b6/api/functions/collections.go, math.go, api/histogram.go).
 * All are plain declarative Dataset ops — partial aggregation, AQE and
 * whole-stage codegen apply untouched.
 */
object Aggs {

  /** count-values (collections.go:303-326): value -> occurrence count. */
  def countValues(df: DataFrame, valueCol: String): DataFrame =
    df.groupBy(col(valueCol)).agg(count(lit(1)).as("n"))

  /** count-keys (collections.go:329-352). */
  def countKeys(df: DataFrame, keyCol: String): DataFrame =
    df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))

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

  /**
   * Global rank/cumulative-count over the distinct (v, c) pairs WITHOUT a
   * single-task sort: the distinct set is range-partitioned on the sort key,
   * ranked within each partition, and the per-partition (distinct-count,
   * row-count) totals — at most `numParts` tiny rows — are collected to the
   * driver, turned into cumulative offsets and broadcast back. At 10M+
   * distinct values the old `Window.orderBy` plan funneled every distinct
   * value through ONE task; this plan's widest single task holds one range
   * partition.
   *
   * `counts` must have columns (v, c); `order` is the total sort order over
   * `v`-rows (e.g. `col("v")` ascending, or `(c desc, v)` for categorical
   * histograms). Returns (v, c, r, cum_before, d, total): r = 0-based global
   * rank, cum_before = total c over strictly-earlier rows, d = distinct
   * count, total = sum of c.
   */
  private[graft] def rankedCounts(counts: DataFrame, order: Seq[Column],
                                  numParts: Int = 0): DataFrame = {
    val spark = counts.sparkSession
    // scale-adaptive partition count (guide §2.2): default to the session's
    // shuffle parallelism instead of a constant
    val np = if (numParts > 0) numParts
      else math.max(spark.sessionState.conf.numShufflePartitions, 1)
    // persist the aggregated distinct set BEFORE the range partition:
    // repartitionByRange runs a hidden SAMPLING job over its input, which
    // otherwise re-executes the full input aggregation a second time — with
    // the cache the sampling pass fills it and the range exchange (and the
    // final pass below) read back the distinct set, one full input scan
    // total. The distinct set is <= the input by construction, so this is
    // also the cheaper cache at any scale.
    val aggd = counts.persist()
    val parts = aggd.repartitionByRange(np, order: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    val perPart = parts.groupBy("__pid")
      .agg(count(lit(1)).as("nd"), sum(col("c")).as("nc"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    var dOff = 0L; var cOff = 0L
    val offs = perPart.map { case (pid, nd, nc) =>
      val o = pid -> (dOff, cOff); dOff += nd; cOff += nc; o
    }.toMap
    val offB = spark.sparkContext.broadcast(offs)
    // per-partition rank + running count in ONE partition-local ordered pass:
    // a Window.partitionBy(__pid) here would re-Exchange the whole table to
    // hashpartitioning(__pid) on top of the range shuffle (plan-probed — the
    // CLAUDE.md trap), and the per-partition offsets would need one more
    // broadcast join. sortWithinPartitions + mapPartitions keeps the range
    // partitioning, adds ZERO shuffle, and folds the offsets in directly.
    val vIdx = parts.schema.fieldIndex("v")
    val cIdx = parts.schema.fieldIndex("c")
    val pIdx = parts.schema.fieldIndex("__pid")
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      parts.schema(vIdx), parts.schema(cIdx),
      org.apache.spark.sql.types.StructField("r",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cum_before",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val dTot = dOff; val cTot = cOff
    parts.sortWithinPartitions(order: _*)
      .mapPartitions { it =>
        var r = 0L; var cum = 0L; var init = false
        it.map { row =>
          if (!init) {
            val (doff, coff) = offB.value.getOrElse(row.getInt(pIdx), (0L, 0L))
            r = doff; cum = coff; init = true
          }
          val c = row.getLong(cIdx)
          val out = org.apache.spark.sql.Row(row.get(vIdx), c, r, cum)
          r += 1; cum += c
          out
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      .withColumn("d", lit(dTot)).withColumn("total", lit(cTot))
  }

  /**
   * percentiles (math.go:85-115): sort ascending; each value maps to
   * firstIndexOfThatValue / n — ties share the first index.
   *
   * Scale shape: ranks run over the AGGREGATED DISTINCT values via
   * `rankedCounts` (range-partitioned, per-partition offsets) — no
   * unpartitioned window anywhere. The per-row result comes back via a
   * NULL-SAFE equi-join on the value (`<=>`), so rows with a null value keep
   * their (first-ranked, percentile 0) row instead of dropping out.
   */
  def percentiles(df: DataFrame, valueCol: String): DataFrame = {
    val ranked = rankedCounts(
      df.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c")), Seq(col("v")))
      .select(col("v").as("__v"),
        (col("cum_before").cast("double") / col("total").cast("double")).as("percentile"))
    df.join(ranked, col(valueCol) <=> col("__v")).drop("__v")
  }

  /**
   * histogram, numeric case (api/histogram.go:245-300 `uniform`):
   * distinct values sorted ascending; if <= 6 distinct, one bucket per value;
   * else greedily: bucket_size = remaining / (6 - bucketsSoFar) DISTINCT values
   * per bucket, half-open [lo, hi), last bucket open-ended. Returns
   * (bucket, lo, hi, n) with element counts per bucket.
   *
   * Fully distributed: the distinct set is aggregated, ranked, bucketed by the
   * greedy formula (a closed form over D = distinct count), then element
   * counts roll up — no driver-side value list.
   */
  def histogramUniform(df: DataFrame, valueCol: String, maxBuckets: Int = 6): DataFrame = {
    require(maxBuckets == 6, "reference semantics fix MaxHistogramBuckets=6")
    val vals = df.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c"))
    val ranked = rankedCounts(vals, Seq(col("v"))).select("v", "c", "r", "d")
    // greedy closed form: e1 = d/6; e_{i+1} = e_i + (d - e_i)/(6-i)  (int div)
    val bucketed = ranked
      .withColumn("e1", expr("d div 6"))
      .withColumn("e2", expr("e1 + (d - e1) div 5"))
      .withColumn("e3", expr("e2 + (d - e2) div 4"))
      .withColumn("e4", expr("e3 + (d - e3) div 3"))
      .withColumn("e5", expr("e4 + (d - e4) div 2"))
      .withColumn("bucket", expr(
        """CASE WHEN d <= 6 THEN r
          |     WHEN r < e1 THEN 0 WHEN r < e2 THEN 1 WHEN r < e3 THEN 2
          |     WHEN r < e4 THEN 3 WHEN r < e5 THEN 4 ELSE 5 END""".stripMargin))
    bucketed.groupBy(col("bucket"))
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
   * uses an unstable sort there).
   */
  def histogramCategorical(df: DataFrame, valueCol: String): DataFrame = {
    val counts = df.groupBy(col(valueCol).cast("string").as("v")).agg(count(lit(1)).as("c"))
    val ranked = rankedCounts(counts, Seq(col("c").desc, col("v"))).select("v", "c", "r", "d")
    val labeled = ranked.withColumn("bucket",
      when(col("d") <= 6 || col("r") < 5, col("v")).otherwise(lit("other")))
    labeled.groupBy(col("bucket")).agg(sum(col("c")).as("n"))
  }

  /** Origin-destination histogram (api/histogram.go:139-178): per origin the
    * number of VALID destinations (the filter-accessible invalid sentinel
    * counts as zero), then origins bucketed by that count. */
  def odHistogram(od: DataFrame, keyCol: String = "origin", valueCol: String = "node",
                  invalidId: Long = -1L): DataFrame =
    od.groupBy(col(keyCol))
      .agg(sum(when(col(valueCol) =!= invalidId, 1L).otherwise(0L)).as("n_valid"))
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
                      ns: String, id: Long, swatch: Boolean = false): (Changes.ChangeSet, DataFrame) = {
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
