package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Sorted

/**
 * Event-time aggregation over the events table. The reference itself is
 * batch-only (SURVEY.md §2 Streaming: none); `windowedEventCounts` also runs
 * on a streaming DataFrame (watermarked event-time windows over an append
 * stream) with the same rows as the batch plan.
 */
object Streaming {

  /** Watermarked (2 hours) hourly windowed aggregate; works on both batch
    * and streaming DataFrames (identical results by construction). */
  def windowedEventCounts(events: DataFrame): DataFrame = {
    // watermarks require TIMESTAMP (LTZ); parquet testdata carries NTZ. The
    // session runs in UTC, so the LTZ<->NTZ casts are value-preserving; the
    // output is normalised to NTZ in both modes (oracle-comparable).
    val src0 = events.withColumn("__ts", col("ts").cast("timestamp"))
    val src = if (events.isStreaming) src0.withWatermark("__ts", "2 hours") else src0
    src.groupBy(window(col("__ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_v"), max(col("value")).as("max_v"))
      .select(col("w.start").cast("timestamp_ntz").as("wstart"),
        col("event_type"), col("n"), col("min_v"), col("max_v"))
  }

  /** Gap-based sessionization: events grouped per user into sessions split at
    * 30 minutes of inactivity. Batch plan: ONE (user_id) shuffle of the two needed
    * columns + a partition-local ordered pass that emits each session row as
    * it closes — the former lag-window + running-sum-window + hash-aggregate
    * chain re-ran two (non-codegen) Window nodes over every event and, when a
    * caller sorts the result, the orderBy's range-boundary sampling
    * re-executed that whole subtree a second time. Emits
    * (user_id, session_idx, n_events, t_start, t_end) rows. */
  def sessionize(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val np = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val gap = 30L * 60000000L
    val src = events.select(col("user_id"), col("ts"))
    val tsField = src.schema(src.schema.fieldIndex("ts"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      src.schema(src.schema.fieldIndex("user_id")),
      org.apache.spark.sql.types.StructField("session_idx",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_events",
        org.apache.spark.sql.types.LongType, nullable = false),
      tsField.copy(name = "t_start"), tsField.copy(name = "t_end")))
    // micros since epoch for an NTZ value interpreted in UTC — identical to
    // the previous unix_micros(ts.cast(timestamp)) under the UTC session
    def micros(t: java.time.LocalDateTime): Long =
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    src.repartition(np, col("user_id"))
      .sortWithinPartitions("user_id", "ts")
      .mapPartitions { it =>
        Sorted.runs(it)(_.get(0)).flatMap { case (user, events) =>
          // a user's session index grows at each gap of more than 30 minutes
          var idx = -1L
          var last = 0L
          Sorted.runs(events) { r =>
            val t = micros(r.getAs[java.time.LocalDateTime](1))
            if (idx < 0 || t - last > gap) idx += 1
            last = t
            idx
          }.map { case (session, rows) =>
            val first = rows.next().getAs[java.time.LocalDateTime](1)
            var n = 1L
            var end = first
            rows.foreach { r => n += 1; end = r.getAs[java.time.LocalDateTime](1) }
            org.apache.spark.sql.Row(user, session, n, first, end)
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
      // lazily checkpointed: session rows are a small fraction of the events,
      // and callers routinely sort them — without the checkpoint the sort's
      // range-boundary sampling re-executes the whole shuffle+pass subtree a
      // second time (plan-probed); with it the sampler reads the materialized
      // blocks. Freed by the ContextCleaner when unreferenced.
      .localCheckpoint(eager = false)
  }
}
