package graft

import graft.model.Fixtures
import graft.operators.Multimodal

/** Video multimodal plumbing: typed metadata, decode-once frame fan-out,
  * metadata-only pruning (the byte-level codec is a documented deterministic
  * stub; the Spark surface is real). */
class MultimodalSpec extends SparkSuite {

  test("frame sampling fans out every Nth frame with exact pixels and timestamps") {
    val df = Multimodal.videos(spark, 24)
    val frames = Multimodal.sampleFrames(df, everyNth = 3).collect()
    val metas = df.select("video_id", "n_frames", "w", "h", "fps").collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))).toMap
    // row count = sum over videos of ceil(n_frames / 3)
    val expected = metas.values.map { case (n, _, _, _) => (n + 2) / 3 }.sum
    assert(frames.length == expected)
    frames.foreach { f =>
      val (n, w, h, fps) = metas(f.video_id)
      assert(f.frame_idx % 3 == 0 && f.frame_idx < n)
      assert(f.w == w && f.h == h)
      assert(f.t_seconds == f.frame_idx.toDouble / fps)
      // pixels equal the deterministic per-frame generator
      val i = f.video_id.stripPrefix("vid-").toLong
      assert(f.pixels.sameElements(Fixtures.pixels(i * 1000003L + f.frame_idx, w, h)))
    }
  }

  test("metadata-only consumption prunes the pixel payload from the frame scan") {
    val df = Multimodal.videos(spark, 8)
    val meta = Multimodal.sampleFrames(df, 2).toDF().select("video_id", "frame_idx")
    assert(meta.count() > 0)
    // the deserializer feeding downstream carries only the projected columns
    val plan = meta.queryExecution.optimizedPlan.toString
    assert(!plan.contains("pixels#") || plan.indexOf("pixels#") > plan.indexOf("video_id"),
      plan.take(800))
  }
}
