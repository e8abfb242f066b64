package graftbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, nproc: Int,
                heap: String, sf: String, out: String)

/** One end-to-end metric as printed. */
case class Metric(name: String, value: Double, unit: String)

/** What a workload run produced. `outcomes` holds every attempted operation,
  * output checks included; `e2e` is filled by untraced runs and `layers` by
  * traced runs. */
case class Result(outcomes: Seq[Outcome], e2e: Seq[Metric], layers: Map[String, Double],
                  details: Seq[String])

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer: Option[Tracer] = if (args.trace) Some(new Tracer(spark)) else None
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
  private var reps = Seq.empty[Double]
  private var firstTimedMs = 0L

  /** Records the seconds of each repetition of the workload's set-up. */
  def setupReps(s: Seq[Double]): Unit = reps = s

  /** Marks the start of the first timed operation. */
  def timedStart(): Unit = if (firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()

  /** Set-up time: JVM start to a ready Spark session, plus the median of the
    * workload's set-up repetitions (`setupReps`). */
  def setupS: Double = sessionS + Stats.median(reps)

  def setupLine: String =
    f"setup setup_s=$setupS%.3f session_s=$sessionS%.3f reps_s=${reps.map(x => f"$x%.3f").mkString(",")} " +
      f"to_first_timed_s=${(firstTimedMs - jvmStartMs) / 1000.0}%.3f"

  def deadlineNs(from: Long): Long = from + args.seconds * 1000000000L

  /** Runs `body` with the Spark job group set to the operation id. */
  def group[T](op: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(op, op, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  /** Runs `body` in a span when `traced`. */
  def span[T](op: String, name: String, traced: Boolean)(body: => T): T = tracer match {
    case Some(t) if traced => t.span(op, name)(body)
    case _ => body
  }

  /** Pinned RDDs and their storage: what PersistOnce and the workload's own
    * caches hold at this point. */
  def storageLayers(): Map[String, Double] = {
    val sc = spark.sparkContext
    Map("functions.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "functions.storage_mb" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0
}

object Main {

  /** Per-layer metrics every traced run reports (0 where a layer is not on
    * the workload's path), in BENCHMARK.json order. */
  val LayerNames: Seq[String] = Seq(
    "driver.analysis_ms", "driver.optimize_ms", "driver.planning_ms", "driver.plan_nodes",
    "driver.outside_jobs_s",
    "operators.build_ms", "operators.eager_jobs", "operators.jobs", "operators.stages",
    "operators.tasks", "operators.task_s", "operators.cpu_s", "operators.shuffle_mb",
    "operators.spill_mb", "operators.skew", "operators.busy",
    "shell.parse_ms", "shell.compile_ms", "query.find_ms",
    "render.tile_ms", "render.tile_kb", "render.apply_change_ms") ++
    Serve.AllTypes.map(o => s"server.service_ms.$o") ++ Seq(
    "server.transport_ms", "server.wait_ms", "server.gen_lag_ms", "server.max_rps",
    "functions.persisted_rdds", "functions.storage_mb", "jvm.gc_s", "trace.overhead_pct")

  val LayerUnits: Map[String, String] = LayerNames.map { n =>
    n -> (n match {
      case _ if n.endsWith("_ms") || n.startsWith("server.service_ms") => "ms"
      case _ if n.endsWith("_s") => "s"
      case _ if n.endsWith("_mb") => "MB"
      case _ if n.endsWith("_kb") => "KB"
      case "server.max_rps" => "1/s"
      case "trace.overhead_pct" => "%"
      case "operators.skew" | "operators.busy" => "ratio"
      case _ => "count"
    })
  }.toMap

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("nproc").toInt, m("heap"), m("sf"), m("out"))
  }

  def session(a: Args): SparkSession = {
    val local = s"${a.out}/spark-local"
    val s = SparkSession.builder()
      .master(s"local[${a.nproc}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a)
    println(s"env workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
      s"nproc=${a.nproc} local=local[${a.nproc}] shuffle_partitions=${a.nproc} heap=${a.heap} " +
      s"max_heap_mb=${Runtime.getRuntime.maxMemory / (1 << 20)} spark=${spark.version} " +
      s"jdk=${System.getProperty("java.version")} scala=${scala.util.Properties.versionNumberString} " +
      s"sf=${a.sf}")
    val ctx = new Ctx(spark, a)
    val r = a.workload match {
      case "inventory" => Inventory.run(ctx)
      case "serve" => Serve.runServe(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    println(ctx.setupLine)
    r.details.foreach(println)
    val (attempted, failed) = Attempt.counts(r.outcomes)
    r.outcomes.flatMap(_.failure).distinct.take(20).foreach(f => println(s"failure $f"))
    val metrics =
      if (a.trace) LayerNames.map(n => Metric(n, r.layers.getOrElse(n, 0.0), LayerUnits(n)))
      else r.e2e
    val ms = metrics.map(m => s""""${m.name}": {"value": ${Json.num(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
    System.out.flush()
    spark.stop()
    // the JDK HTTP servers and client pools hold non-daemon threads
    System.exit(0)
  }
}
