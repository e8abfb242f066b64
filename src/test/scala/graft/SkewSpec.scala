package graft

import graft.model.Fixtures
import graft.operators.SpatialJoins
import org.apache.spark.sql.functions._

/**
 * Skew/strategy evidence for the north rule: ~30% of fixture points collapse
 * into one hot cell. The PIP join must produce identical rows whether Catalyst
 * picks broadcast-hash or (hinted) shuffled sort-merge — at 10^12 scale the
 * polygon side may exceed broadcast thresholds and AQE splits skewed
 * partitions on exactly this sort-merge path.
 */
class SkewSpec extends SparkSuite {

  test("PIP join rows identical under broadcast and sort-merge (AQE skew path)") {
    val points = Fixtures.points(spark, sf001)
    val broadcastPlan = SpatialJoins.pointInPolygonJoin(points, Fixtures.polygons(spark))
      .select("point_id", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val merged = SpatialJoins.pointInPolygonJoin(points, Fixtures.polygons(spark).hint("merge"))
    val mergePlanStr = merged.queryExecution.executedPlan.toString
    val mergeRows = merged.select("point_id", "poly_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mergeRows == broadcastPlan)
    assert(mergePlanStr.contains("SortMergeJoin") || mergePlanStr.contains("ShuffledHashJoin"),
      s"merge hint must force a shuffle join:\n${mergePlanStr.take(800)}")
  }

  test("AQE actually SPLITS the hot cell: final adaptive plan marks the join skew=true") {
    // one synthetic hot key holding ~90% of the left side; thresholds
    // lowered so the fixture-scale skew crosses AQE's split bounds — the
    // assertion is on the FINAL adaptive plan after execution, which is
    // where OptimizeSkewedJoin rewrites the sort-merge join
    val saved = Seq("spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      import spark.implicits._
      val left = spark.range(400000).select(
        when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id") % 97).as("k"),
        col("id").as("v"))
      val right = spark.range(97).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // execute THIS Dataset's own QueryExecution: count() plans its own
      // aggregate on top and foreach() goes through the separate
      // rddQueryExecution — both leave joined's adaptive plan unfinalized
      // (the same exact-Dataset rule as observe() metrics, CLAUDE.md).
      // collect() is the action bound to joined.queryExecution.
      assert(joined.collect().length > 0)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must split the hot key's partition (skew=true missing):\n${finalPlan.take(1500)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("the fixture is skewed: the hottest cell holds >= 25% of rows") {
    val points = Fixtures.points(spark, sf001)
    val direct = points.groupBy("cell16").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val hottest = direct.values.max.toDouble / direct.values.sum
    assert(hottest >= 0.25, s"hot-cell share $hottest")
  }
}
