package graft

import graft.operators.{Aggs, ImageOps, Sorted, TextOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class SortedSpec extends SparkSuite {
  import spark.implicits._

  /** The runs of consecutive equal keys, built eagerly. */
  private def groupConsecutive[A, K](xs: Seq[A])(key: A => K): Vector[(K, Vector[A])] =
    xs.foldLeft(Vector.empty[(K, Vector[A])]) { (acc, x) =>
      val k = key(x)
      if (acc.nonEmpty && acc.last._1 == k) acc.init :+ (k -> (acc.last._2 :+ x))
      else acc :+ (k -> Vector(x))
    }

  /** Seeded inputs over a small alphabet, so keys repeat and also come back
    * after another key (a new run). */
  private val inputs: Seq[(String, Seq[Int])] =
    Seq("empty" -> Nil, "one run" -> Seq.fill(7)(4), "one row" -> Seq(9)) ++
      Seq(1L, 7L, 42L, 99L).map { seed =>
        val rnd = new scala.util.Random(seed)
        s"seed $seed" -> Seq.fill(rnd.nextInt(200))(rnd.nextInt(30))
      }

  test("runs: read in full, equal to grouping consecutive keys") {
    inputs.foreach { case (name, xs) =>
      val got = Sorted.runs(xs.iterator)(_ / 10).map { case (k, run) => k -> run.toVector }.toVector
      assert(got == groupConsecutive(xs)(_ / 10), name)
    }
  }

  test("runs: a run left partly or wholly unread is skipped by the next run") {
    inputs.foreach { case (name, xs) =>
      val rnd = new scala.util.Random(name.hashCode)
      val expected = groupConsecutive(xs)(_ / 10)
      val reads = expected.map(_ => rnd.nextInt(4)) // 0 leaves a run wholly unread
      val got = Sorted.runs(xs.iterator)(_ / 10).zip(reads.iterator)
        .map { case ((k, run), n) => k -> run.take(n).toVector }.toVector
      assert(got == expected.zip(reads).map { case ((k, run), n) => k -> run.take(n) }, name)
    }
  }

  test("runs: nested runs equal nested grouping, with a key that carries state") {
    inputs.foreach { case (name, xs) =>
      // inner key: a counter that grows whenever the value drops, as a
      // session index grows at each time gap
      val got = Sorted.runs(xs.iterator)(_ / 10).map { case (k, outer) =>
        var idx = 0; var last = Int.MinValue
        k -> Sorted.runs(outer) { x => if (x < last) idx += 1; last = x; idx }
          .map { case (i, inner) => i -> inner.toVector }.toVector
      }.toVector
      val expected = groupConsecutive(xs)(_ / 10).map { case (k, outer) =>
        var idx = 0; var last = Int.MinValue
        k -> groupConsecutive(outer) { x => if (x < last) idx += 1; last = x; idx }
      }
      assert(got == expected, name)
    }
  }

  test("runs: a run streams, so an unbounded run is read lazily") {
    val (k, run) = Sorted.runs(Iterator.continually(3))(identity).next()
    assert(k == 3 && run.take(5).toList == List(3, 3, 3, 3, 3))
  }

  /** `body` with the session's shuffle partition count set to `n`. */
  private def withShufflePartitions[A](n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, before)
  }

  /** (id, k, o, w) rows: ids unique, so (o desc, id) is a total order; a
    * seeded third of the weights are null. */
  private def weighted(n: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (i.toLong, rnd.nextInt(3), rnd.nextInt(5),
      Option.when(rnd.nextInt(3) > 0)(rnd.nextInt(1000).toLong - 300))).toDF("id", "k", "o", "w")
  }

  test("runningTotals equals a Window.orderBy reference at 1, 3 and 8 shuffle partitions") {
    val order = Seq(col("o").desc, col("id"))
    val weights = Seq("n" -> lit(1L), "w" -> col("w"))
    def reference(df: DataFrame, restart: Seq[String]): Set[Seq[Any]] = {
      val byKey = Window.partitionBy(restart.map(col): _*)
      val before = byKey.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
      def zero(c: Column) = coalesce(c, lit(0L))
      df.select(col("*"), zero(count(lit(1)).over(before)), zero(sum("w").over(before)),
        zero(count(lit(1)).over(byKey)), zero(sum("w").over(byKey)))
        .collect().map(_.toSeq).toSet
    }
    for {
      parts <- Seq(1, 3, 8)
      (name, df) <- Seq("empty" -> weighted(0, 1L), "fewer rows than partitions" -> weighted(3, 2L),
        "200 rows" -> weighted(200, 3L))
      restart <- Seq(Nil, Seq("k"))
    } withShufflePartitions(parts) {
      val got = Sorted.runningTotals(df, restart, order, weights)
      assert(got.columns.toSeq == df.columns.toSeq ++ Seq("n_before", "w_before", "n_total", "w_total"))
      assert(got.collect().map(_.toSeq).toSet == reference(df, restart),
        s"$name at $parts partitions, restart $restart")
    }
  }

  /** Spark jobs and newly persisted relations of `body`. */
  private def jobsAndPins[A](body: => A): (Int, Int) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    val jobs = JobCount(spark)(body)._2
    (jobs, sc.getPersistentRDDs.size - before)
  }

  // Each input below is used by no other spec, so no call reads a relation
  // another one cached.

  test("the wide ranking paths run 9 Spark jobs and persist 2 relations each") {
    // more distinct values than Aggs.SmallDistinct
    def wide(salt: Double) = spark.range(12000).selectExpr(s"CAST(id % 11000 AS DOUBLE) * 2.0 + $salt AS v")
    assert(Aggs.SmallDistinct < 11000)
    assert(jobsAndPins(Aggs.percentilesWide(wide(0.125), "v").collect()) == (9, 2))
    assert(jobsAndPins(Aggs.histogramUniformWide(wide(0.25), "v").collect()) == (9, 2))
    assert(jobsAndPins(Aggs.histogramCategoricalWide(wide(0.375), "v").collect()) == (9, 2))
  }

  test("packPlan and bucketBatches run 6 Spark jobs and persist 1 relation each") {
    val docs = (0L until 500L).map(i => (i * 3, (i % 37).toInt)).toDF("doc_id", "n_tokens")
    assert(jobsAndPins(TextOps.packPlan(docs, "doc_id", "n_tokens", 64).collect()) == (6, 1))
    val images = (0L until 700L).map { i =>
      (i, (16 + (i * 7919) % 4096).toInt, (16 + (i * 104729) % 4096).toInt) }.toDF("image_id", "w", "h")
    assert(jobsAndPins(ImageOps.bucketBatches(images, 16).collect()) == (6, 1))
  }
}
