package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/**
 * The two sorted-order walks graft's operators share. The reference answers
 * queries by walking sorted iterators (its query algebra compiles to
 * sorted-iterator set operations over posting lists, e.g. the leapfrog
 * intersection in search/intersection.go:17-85); graft does the same walk
 * inside Spark partitions:
 *  - [[runs]] splits a key-sorted partition into runs of equal keys
 *    (sessions per user, features per tile and layer, members per bucket);
 *  - [[runningTotals]] numbers rows globally: each row gets the sums of its
 *    weights over the rows before it, from one range exchange and one
 *    partition-local pass, never a single-task window.
 */
object Sorted {

  /**
   * The runs of consecutive rows with equal `key` in `it`, each as (key,
   * rows). A run is a lazy view of the shared input, so a run of any length
   * streams: moving to the next run skips whatever the previous one left
   * unread, and a run is read only until the next run is asked for. `key` is
   * applied once per row, in input order, so it may carry state across rows
   * (a session index that grows at each time gap).
   */
  def runs[A, K](it: Iterator[A])(key: A => K): Iterator[(K, Iterator[A])] =
    new Iterator[(K, Iterator[A])] {
      private var head: A = _
      private var headKey: K = _
      private var full = false
      private var current: Iterator[A] = Iterator.empty
      private def fill(): Boolean = {
        if (!full && it.hasNext) { head = it.next(); headKey = key(head); full = true }
        full
      }
      def hasNext: Boolean = {
        while (current.hasNext) current.next()
        fill()
      }
      def next(): (K, Iterator[A]) = {
        if (!hasNext) throw new NoSuchElementException("no more runs")
        val k = headKey
        current = new Iterator[A] {
          def hasNext: Boolean = fill() && headKey == k
          def next(): A = {
            if (!hasNext) throw new NoSuchElementException("end of run")
            full = false
            head
          }
        }
        (k, current)
      }
    }

  /**
   * `rows` with, for each `(name, weight)`, the long columns `<name>_before`
   * (the sum of `weight` over the rows before this one) and `<name>_total`
   * (the sum over all rows), where rows are ordered by `restart` then
   * `order` and both sums restart at each change of the `restart` columns
   * (none: one run over the whole table). Ties in the order take an
   * arbitrary but consistent place.
   *
   * Plan: one range exchange on (`restart`, `order`), persisted with each
   * row's partition id; one collected aggregate of the weights per
   * (partition, restart key), which is O(partitions x keys) rows, turned
   * into exclusive offsets and totals on the driver and broadcast; then one
   * partition-local ordered pass. A `Window.partitionBy(spark_partition_id())`
   * would re-exchange the whole table, and a `Window.orderBy` funnels it
   * through one task. The persist lets the range exchange's sampling job and
   * the aggregate fill the cache that the pass reads back.
   */
  def runningTotals(rows: DataFrame, restart: Seq[String], order: Seq[Column],
                    weights: Seq[(String, Column)]): DataFrame = {
    val spark = rows.sparkSession
    val np = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val sortKey = restart.map(col) ++ order
    val m = weights.length
    val ranged = rows.repartitionByRange(np, sortKey: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
    val sums = weights.map { case (_, w) => coalesce(sum(w.cast("long")), lit(0L)) }
    val perPart = ranged.groupBy(col("__pid") +: restart.map(col): _*)
      .agg(sums.head, sums.tail: _*).collect()
    // range partitions are ordered, so a key's offsets accumulate in pid order
    val nKey = 1 + restart.length
    val keyOf: Row => Seq[Any] = r => (0 until nKey).map(r.get)
    val offsets = Map.newBuilder[Seq[Any], Array[Long]]
    val totals = perPart.groupBy(r => keyOf(r).tail).map { case (k, parts) =>
      val acc = new Array[Long](m)
      parts.sortBy(_.getInt(0)).foreach { r =>
        offsets += keyOf(r) -> acc.clone()
        acc.indices.foreach(i => acc(i) += r.getLong(nKey + i))
      }
      k -> acc
    }
    val lookup = spark.sparkContext.broadcast((offsets.result(), totals))
    val n = rows.schema.length
    val weighted = ranged.select(col("*") +:
      weights.zipWithIndex.map { case ((_, w), i) => w.cast("long").as(s"__w$i") }: _*)
    val outSchema = StructType(rows.schema.fields ++
      weights.map(w => StructField(s"${w._1}_before", LongType, nullable = false)) ++
      weights.map(w => StructField(s"${w._1}_total", LongType, nullable = false)))
    val keyIdx = n +: restart.map(rows.schema.fieldIndex)
    weighted.sortWithinPartitions(sortKey: _*).mapPartitions { it =>
      val (offs, tots) = lookup.value
      runs(it)(r => keyIdx.map(r.get)).flatMap { case (k, run) =>
        val acc = offs(k).clone()
        val tot = tots(k.tail)
        run.map { r =>
          val out = new Array[Any](n + 2 * m)
          var i = 0
          while (i < n) { out(i) = r.get(i); i += 1 }
          i = 0
          while (i < m) {
            out(n + i) = acc(i); out(n + m + i) = tot(i)
            if (!r.isNullAt(n + 1 + i)) acc(i) += r.getLong(n + 1 + i)
            i += 1
          }
          new GenericRow(out): Row
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }
}
