package graft

/** Local smoke: runs the flagship `entry` query exactly as the driver does. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark("graft-smoke")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n")
    df.show(5, truncate = false)
    assert(n > 0, "entry must return rows")
    spark.stop()
  }
}
