package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts. The listener bus delivers events
  * asynchronously but in order, so the block is bracketed by two one-task
  * marker jobs: once the closing marker's start has arrived, every job the
  * block started has arrived before it. Specs run one at a time, so nothing
  * else starts jobs in between. */
object JobCount {
  private val MarkerKey = "graft.test.jobMarker"

  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val markers = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = markers.synchronized {
        markers += Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
      }
    }
    def marker(name: String): Unit = {
      sc.setLocalProperty(MarkerKey, name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = body
      marker("close")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def seen = markers.synchronized(markers.toVector)
      while (!seen.contains(Some("close"))) {
        assert(System.nanoTime() < deadline, "closing marker job never reached the listener")
        Thread.sleep(10)
      }
      val events = seen
      (out, events.indexOf(Some("close")) - events.indexOf(Some("open")) - 1)
    } finally sc.removeSparkListener(listener)
  }
}
