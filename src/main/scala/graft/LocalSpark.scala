package graft

import org.apache.spark.sql.SparkSession

/** The one builder of a local graft session (mains and the test suites):
  * master local[cores], as many shuffle partitions as cores, UTC session
  * time, no UI. */
object LocalSpark {
  /** `SPARK_GRAFT_CPUS` when set, else every core this JVM may use (nproc). */
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS=$v is not a positive core count"))
    case None => Runtime.getRuntime.availableProcessors()
  }

  def apply(appName: String, cores: Int = defaultCores, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
