package graft

import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSuite {

  /** Run `windowedEventCounts` as a streaming query over `dir`'s
    * events.parquet into an in-memory table and return that table. */
  private def runStreamToMemory(spark: SparkSession, dir: String, name: String): DataFrame = {
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource ingests directories; stage the single parquet file
    // into a temp dir (stands in for an arriving-files ingest directory)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
    val q = Streaming.windowedEventCounts(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  test("streaming windowed counts equal the batch plan over the same events") {
    val batch = Streaming.windowedEventCounts(
      spark.read.parquet(s"$sf001/events.parquet")).collect().toSet
    val streamed = runStreamToMemory(spark, sf001, "st_counts").collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("hashSplit is stream-compatible: per-row assignment identical batch vs streaming") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val batch = graft.operators.TextOps.hashSplit(docs, "doc_id",
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-split-stream").toString
    docs.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    val q = graft.operators.TextOps.hashSplit(stream, "doc_id",
        Seq("train" -> 8000, "val" -> 1000, "test" -> 1000))
      .select("doc_id", "split")
      .writeStream.outputMode("append").format("memory").queryName("st_split")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("st_split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed == batch && batch.size == 500,
      "split assignment must be a pure row function — identical on a stream")
  }

  test("curation/scrub/repetition gates are stream-compatible: identical per-row results") {
    // the three pure row-function curation stages (LAION image gate, PII
    // scrub, Gopher repetition signals) compose into one streamed pass —
    // the shape of a continuously-ingesting curation pipeline
    import spark.implicits._
    val rows = (0L until 300L).map { i =>
      val cap = if (i % 7 == 0) "too short" else s"scene $i with a canal and a bridge at mail$i@ex.com"
      (i, (64 + i * 37 % 2048).toInt, (64 + i * 53 % 2048).toInt, cap)
    }.toDF("image_id", "w", "h", "caption")
    def gates(df: org.apache.spark.sql.DataFrame) = {
      val g = graft.operators.ImageOps.curationFilter(df, minDim = 128)
      val p = graft.operators.TextOps.piiScrub(g, "caption")
      graft.operators.TextOps.repetitionSignals(p, "scrubbed")
        .select("image_id", "drop_reason", "n_emails", "scrubbed", "dup_word_frac")
    }
    val batch = gates(rows).collect().map(r =>
      (r.getLong(0), Option(r.getString(1)), r.getLong(2), r.getString(3), r.getDouble(4))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-curate-stream").toString
    rows.write.mode("overwrite").parquet(dir)
    val q = gates(spark.readStream.schema(rows.schema).parquet(dir))
      .writeStream.outputMode("append").format("memory").queryName("st_curate")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("st_curate").collect().map(r =>
      (r.getLong(0), Option(r.getString(1)), r.getLong(2), r.getString(3), r.getDouble(4))).toSet
    assert(streamed == batch && batch.size == 300)
    assert(batch.exists(_._3 > 0L) && batch.exists(_._2.nonEmpty),
      "fixture must exercise both a scrub and a drop")
  }
}
