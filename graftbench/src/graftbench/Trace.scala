package graftbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch microseconds. `op` is the id shared
  * by every span of one operation (and its Spark job group); `parent` is 0
  * for a root. */
case class Span(id: Int, op: String, name: String, parent: Int, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spark counters summed over traced operations. */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var cpuNs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L
  var analysisMs = 0L; var optimizeMs = 0L; var planningMs = 0L
  var executions = 0L; var planNodes = 0L
}

/**
 * Tracing for the benchmark's traced runs: spans around the benchmark's own
 * calls into graft's layers, plus a SparkListener and a
 * QueryExecutionListener for job, stage, task and planning-phase counts.
 * Nothing is registered in untraced runs.
 *
 * Whether an operation is traced is decided on the thread that runs it, when
 * it runs: [[traced]] records the operation's wall-clock window. The listeners
 * only record raw events with the job group and the time they carry, and
 * events are given to operations when counters are read, after [[settle]]:
 * a job or stage whose job group is a traced operation's id belongs to it; one
 * without a job group (work on the HTTP servers' threads) belongs to the
 * traced operation whose window holds the event's own start time; a query
 * execution belongs to the window that holds its analysis start. So a late
 * delivery cannot move an event from one operation to another.
 */
final class Tracer(spark: SparkSession) {

  private val nano0 = System.nanoTime()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  def nowUs(): Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  private val ids = new AtomicInteger(0)
  private val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  /** Runs `body` inside a span named `name` of operation `op`; nested calls
    * on the same thread become children. */
  def span[T](op: String, name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(0)
    stack.set(id :: stack.get)
    val t0 = nowUs()
    try body finally {
      stack.set(stack.get.tail)
      spans.synchronized(spans += Span(id, op, name, parent, t0, nowUs()))
    }
  }

  def spansOf(name: String): Seq[Span] = spans.synchronized(spans.filter(_.name == name).toSeq)
  def medianMs(name: String): Double = {
    val xs = spansOf(name).map(_.durUs / 1000.0)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  // ---- traced operations, recorded by the thread that runs them -------------

  private case class Window(op: String, startMs: Long, endMs: Long)
  private val windows = ArrayBuffer[Window]()

  /** Runs `body` as traced operation `op`, recording its wall-clock window.
    * Traced operations must not overlap in time. */
  def traced[T](op: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally windows.synchronized(windows += Window(op, s, System.currentTimeMillis()))
  }

  // ---- raw Spark events ------------------------------------------------------

  case class Job(id: Int, group: String, startUs: Long, var endUs: Long, stages: Seq[Int])
  case class Stage(id: Int, group: String, var startUs: Long, var endUs: Long,
                   tasks: ArrayBuffer[Task])
  case class Task(ms: Long, cpuNs: Long, shuffleBytes: Long, spillBytes: Long)
  private case class Exec(startMs: Long, analysisMs: Long, optimizeMs: Long, planningMs: Long, nodes: Int)

  private val lock = new Object
  private val jobs = mutable.Map[Int, Job]()
  private val stages = mutable.Map[Int, Stage]()
  private val execs = ArrayBuffer[Exec]()
  private val ended = mutable.Set[String]()

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs(e.jobId) = Job(e.jobId, groupOf(e.properties), e.time * 1000L, e.time * 1000L, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach { j => j.endUs = e.time * 1000L; ended += j.group }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val t = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
      stages(e.stageInfo.stageId) = Stage(e.stageInfo.stageId, groupOf(e.properties), t, t, ArrayBuffer())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.endUs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val t = Task(Option(e.taskInfo).map(_.duration).getOrElse(0L),
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)
      lock.synchronized(stages.get(e.stageId).foreach(_.tasks += t))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.get("analysis").orElse(ph.values.headOption).map(_.startTimeMs).getOrElse(0L)
      val nodes = qe.optimizedPlan.collect { case n => n }.length
      lock.synchronized(execs += Exec(start, ms("analysis"), ms("optimization"), ms("planning"), nodes))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)

  private val settles = new AtomicInteger(0)

  /** Waits until the listeners have seen every event posted so far: runs a
    * marker job and waits for its end event, which the listener bus
    * delivers after all earlier ones. */
  def settle(): Unit = {
    val g = s"graftbench-settle-${settles.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val until = System.nanoTime() + 30000000000L
    while (!lock.synchronized(ended(g)) && System.nanoTime() < until) Thread.sleep(10)
  }

  // ---- attribution -----------------------------------------------------------

  private def opsIndex: (Set[String], Seq[Window]) = windows.synchronized((windows.map(_.op).toSet, windows.toSeq))

  /** The traced operation an event belongs to, from its job group or, without
    * one, from the time it started. */
  private def owner(group: String, atMs: Long, index: (Set[String], Seq[Window])): Option[String] =
    if (group.nonEmpty) Some(group).filter(index._1)
    else index._2.find(w => w.startMs <= atMs && atMs <= w.endMs).map(_.op)

  def jobsOf(op: String): Seq[Job] = {
    val ix = opsIndex
    lock.synchronized(jobs.values.filter(j => owner(j.group, j.startUs / 1000, ix).contains(op)).toSeq)
  }

  private def stagesOf(ops: Set[String]): Seq[Stage] = {
    val ix = opsIndex
    lock.synchronized(stages.values.filter(s => owner(s.group, s.startUs / 1000, ix).exists(ops)).toSeq)
  }

  /** Counters of the traced operations `ops`. */
  def countersOf(ops: Set[String]): Counters = {
    val ix = opsIndex
    val c = new Counters
    lock.synchronized {
      jobs.values.foreach(j => if (owner(j.group, j.startUs / 1000, ix).exists(ops)) c.jobs += 1)
      stages.values.foreach { s =>
        if (owner(s.group, s.startUs / 1000, ix).exists(ops)) {
          c.stages += 1
          s.tasks.foreach { t =>
            c.tasks += 1; c.taskMs += t.ms; c.cpuNs += t.cpuNs
            c.shuffleBytes += t.shuffleBytes; c.spillBytes += t.spillBytes
          }
        }
      }
      execs.foreach { x =>
        if (owner("", x.startMs, ix).exists(ops)) {
          c.executions += 1; c.analysisMs += x.analysisMs; c.optimizeMs += x.optimizeMs
          c.planningMs += x.planningMs; c.planNodes += x.nodes
        }
      }
    }
    c
  }

  /** The longest stage of one operation: max/median task time. */
  def skewOf(op: String): Option[Double] = {
    val st = stagesOf(Set(op)).filter(_.tasks.nonEmpty)
    if (st.isEmpty) None else {
      val longest = st.maxBy(s => s.endUs - s.startUs)
      val ms = lock.synchronized(longest.tasks.map(_.ms.toDouble).toSeq)
      Some(ms.max / math.max(Stats.median(ms), 1.0))
    }
  }

  /** Per-operation averages of the Spark counters of the traced operations
    * `ops`, which together took `wallS` seconds. Settles first. */
  def operatorLayers(ops: Seq[String], wallS: Double, nproc: Int): Map[String, Double] = {
    settle()
    val c = countersOf(ops.toSet)
    val n = ops.distinct.length
    def per(x: Double): Double = if (n == 0) 0.0 else x / n
    val skews = ops.distinct.flatMap(skewOf)
    Map(
      "operators.jobs" -> per(c.jobs.toDouble),
      "operators.stages" -> per(c.stages.toDouble),
      "operators.tasks" -> per(c.tasks.toDouble),
      "operators.task_s" -> per(c.taskMs / 1000.0),
      "operators.cpu_s" -> per(c.cpuNs / 1e9),
      "operators.shuffle_mb" -> per(c.shuffleBytes / 1048576.0),
      "operators.spill_mb" -> per(c.spillBytes / 1048576.0),
      "operators.skew" -> (if (skews.isEmpty) 0.0 else Stats.median(skews)),
      "operators.busy" -> (if (wallS <= 0) 0.0 else c.taskMs / 1000.0 / (wallS * nproc)),
      "driver.analysis_ms" -> per(c.analysisMs.toDouble),
      "driver.optimize_ms" -> per(c.optimizeMs.toDouble),
      "driver.planning_ms" -> per(c.planningMs.toDouble),
      "driver.plan_nodes" -> (if (c.executions == 0) 0.0 else c.planNodes.toDouble / c.executions))
  }

  /** Wall time of an operation not covered by any of its Spark jobs, in µs. */
  def outsideJobsUs(op: String, startUs: Long, endUs: Long): Long =
    (endUs - startUs) - unionUs(jobsOf(op).map(j =>
      (math.max(j.startUs, startUs), math.min(j.endUs, endUs))))

  // ---- derived figures -----------------------------------------------------

  /** Length of the union of intervals, in µs. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Self time of each span: its duration minus the part its children
    * (benchmark spans, Spark jobs and stages) cover. */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map(s => s.id -> (s.durUs - unionUs(kids.getOrElse(s.id, Nil).map(k =>
      (math.max(k.startUs, s.startUs), math.min(k.endUs, s.endUs)))))).toMap
  }

  /** Benchmark spans plus the job and stage spans of traced operations, each
    * job parented to the innermost span of its operation that was open when
    * it started. */
  def allSpans(): Seq[Span] = {
    val mine = spans.synchronized(spans.toVector)
    val byOp = mine.groupBy(_.op)
    val ix = opsIndex
    var next = ids.get() + 1
    val out = ArrayBuffer[Span]() ++ mine
    lock.synchronized {
      jobs.values.toSeq.sortBy(_.id).foreach { j =>
        owner(j.group, j.startUs / 1000, ix).foreach { op =>
          val holder = byOp.getOrElse(op, Nil)
            .filter(s => s.startUs <= j.startUs && j.startUs <= s.endUs)
            .sortBy(s => s.endUs - s.startUs).headOption
          val jid = next; next += 1
          out += Span(jid, op, s"job ${j.id}", holder.map(_.id).getOrElse(0), j.startUs, j.endUs)
          j.stages.flatMap(stages.get).foreach { st =>
            out += Span(next, op, s"stage ${st.id}", jid, st.startUs, st.endUs); next += 1
          }
        }
      }
    }
    out.toVector
  }

  /** Writes every span as one JSON line, with its self time. */
  def write(path: java.nio.file.Path): Int = {
    val all = allSpans()
    val self = selfTimes(all)
    val lines = all.sortBy(_.startUs).map { s =>
      f"""{"id":${s.id},"op":"${Json.esc(s.op)}","name":"${Json.esc(s.name)}","parent":${s.parent},""" +
        f""""start_us":${s.startUs},"end_us":${s.endUs},"self_us":${self(s.id)}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
    all.length
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** A number with all its digits; NaN and infinities are not JSON. */
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric is not a finite number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
}
