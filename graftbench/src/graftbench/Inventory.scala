package graftbench

import scala.collection.mutable.ArrayBuffer
import graft.SparkEntry

/**
 * `inventory`: closed loop, one client, over the sf0.1 tables. Set-up builds
 * every query's DataFrame from an empty cache, three times; a checked pass of
 * every query follows as the warm-up; timed passes then repeat the query set
 * in a seeded order until the time is up. The query set
 * is a fixed cross-section of `SparkEntry.queries`: query algebra, the PIP
 * join, three multi-job chains named for job-chain cuts (ag_percentiles,
 * gr_od_hist, sl_polygon) and tile rendering, small enough that the set-up
 * and a few warm passes fit one run.
 */
object Inventory {

  val Queries: Seq[String] = Seq(
    "qa_intersects_cap", "sj_pip", "ag_percentiles", "gr_od_hist", "sl_polygon", "rd_mvt")

  val ExpectedFile = "graftbench/expected/inventory.tsv"

  /** name -> (rows, content hash), recorded from the engine by [[Record]]. */
  def expected(): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(ExpectedFile)
    try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(n, rows, h) = l.split("\t")
      n -> (rows.toLong, h)
    }.toMap finally src.close()
  }

  case class Run(pass: Int, query: String, op: String, wallMs: Double, buildMs: Double,
                 traced: Boolean, startUs: Long, endUs: Long, outcome: Outcome)

  /** How many times a run sets up; it reports the median. */
  val SetupReps = 3

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val sf = ctx.args.sf
    val fns = SparkEntry.queries
    val want = expected()
    val outcomes = ArrayBuffer[Outcome]()

    // set-up, `SetupReps` times from an empty cache: build every query's
    // DataFrame, with the jobs the builders start eagerly
    val reps = (1 to SetupReps).map { rep =>
      val r0 = System.nanoTime()
      spark.catalog.clearCache()
      Queries.foreach { q =>
        outcomes += Attempt { ctx.group(s"setup$rep-$q")(fns(q)(spark, sf)); Outcome.Ok }
      }
      (System.nanoTime() - r0) / 1e9
    }
    ctx.setupReps(reps)
    // the output check, once, which is also the warm-up
    val coldMs = Queries.map { q =>
      val t0 = System.nanoTime()
      outcomes += Attempt {
        val got = ctx.group(s"check-$q")(Inputs.contentHash(fns(q)(spark, sf)))
        want.get(q) match {
          case Some(w) if w == got => Outcome.Ok
          case Some(w) => Outcome.fail(s"$q: rows/hash $got, expected $w")
          case None => Outcome.fail(s"$q: no expected value in $ExpectedFile")
        }
      }
      (System.nanoTime() - t0) / 1e6
    }

    val tracer = ctx.tracer
    val gc0 = ctx.gcSeconds()
    ctx.timedStart()
    val start = System.nanoTime()
    val deadline = ctx.deadlineNs(start)
    val runs = ArrayBuffer[Run]()
    val passS = ArrayBuffer[Double]()
    var pass = 0
    // whole passes only; a traced run alternates untraced and traced passes
    while (System.nanoTime() < deadline || (ctx.args.trace && pass < 2)) {
      val order = new scala.util.Random(ctx.args.seed * 1000003L + pass).shuffle(Queries)
      val traced = tracer.isDefined && pass % 2 == 1
      val p0 = System.nanoTime()
      ctx.span(s"pass-$pass", "pass", traced) {
        order.foreach { q =>
          val op = s"p$pass-$q"
          var buildMs = 0.0
          val s0 = tracer.map(_.nowUs()).getOrElse(0L)
          val t0 = System.nanoTime()
          def body(): Unit = ctx.group(op) {
            ctx.span(op, "query", traced) {
              val b0 = System.nanoTime()
              val df = ctx.span(op, "build", traced)(fns(q)(spark, sf))
              buildMs = (System.nanoTime() - b0) / 1e6
              ctx.span(op, "action", traced)(df.write.format("noop").mode("overwrite").save())
            }
          }
          val o = Attempt {
            tracer match {
              case Some(t) if traced => t.traced(op)(body())
              case _ => body()
            }
            Outcome.Ok
          }
          val wall = (System.nanoTime() - t0) / 1e6
          runs += Run(pass, q, op, wall, buildMs, traced, s0, tracer.map(_.nowUs()).getOrElse(0L), o)
        }
      }
      passS += (System.nanoTime() - p0) / 1e9
      pass += 1
    }
    val windowGc = ctx.gcSeconds() - gc0
    outcomes ++= runs.map(_.outcome)

    val untraced = runs.filterNot(_.traced)
    val walls = untraced.map(_.wallMs).toSeq
    val untracedPasses = passS.zipWithIndex.collect { case (s, p) if !(tracer.isDefined && p % 2 == 1) => s }
    val details = ArrayBuffer[String]()
    details += f"inventory queries=${Queries.length} passes=$pass cold_pass_s=${coldMs.sum / 1000}%.3f " +
      f"inventory_s=${Stats.median(untracedPasses.toSeq)}%.4f query_p50_ms=${Stats.median(walls)}%.2f " +
      f"query_mean_ms=${Stats.mean(walls)}%.2f pass_s=${passS.map(x => f"$x%.2f").mkString(",")} " +
      (if (untracedPasses.length >= 2) f"pass_iqr_share=${Stats.iqrShare(untracedPasses.toSeq)}%.3f " else "") +
      Stats.tail(walls).filter(_._1 > 50).map { case (p, v) => f"query_p${p}%.0f_ms=$v%.2f" }
        .getOrElse("query_tail=none(<40 samples)") +
      s" samples=${walls.length}"
    Queries.zip(coldMs).foreach { case (q, cold) =>
      val xs = untraced.filter(_.query == q).map(_.wallMs).toSeq
      if (xs.nonEmpty) details += f"inventory query=$q cold_ms=$cold%.1f p50_ms=${Stats.median(xs)}%.2f n=${xs.length}"
    }

    // each query's median over passes, so one slow pass does not move it;
    // then the geometric mean over queries, which weighs a 10% change in a
    // 0.3 s query like one in a 1.5 s query
    val perQueryMedian = Queries.flatMap { q =>
      val xs = untraced.filter(_.query == q).map(_.wallMs).toSeq
      if (xs.isEmpty) None else Some(Stats.median(xs))
    }
    val e2e = Seq(Metric("setup_s", ctx.setupS, "s"), Metric("gmean_ms", Stats.gmean(perQueryMedian), "ms"))
    val layers = tracer.map { t =>
      t.settle()
      val tr = runs.filter(_.traced).toSeq
      val wallS = tr.map(_.wallMs).sum / 1000
      val perQuery = tr.map { r =>
        val c = t.countersOf(Set(r.op))
        val eager = t.jobsOf(r.op).count(j => j.startUs >= r.startUs && j.startUs <= r.startUs + (r.buildMs * 1000).toLong)
        (r, c, eager, t.outsideJobsUs(r.op, r.startUs, r.endUs) / 1e6)
      }
      perQuery.foreach { case (r, c, eager, outside) =>
        details += f"trace query=${r.query} wall_ms=${r.wallMs}%.1f build_ms=${r.buildMs}%.1f eager_jobs=$eager " +
          f"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} task_s=${c.taskMs / 1000.0}%.3f " +
          f"cpu_s=${c.cpuNs / 1e9}%.3f outside_jobs_s=$outside%.3f shuffle_mb=${c.shuffleBytes / 1048576.0}%.2f"
      }
      val overhead = Queries.flatMap { q =>
        val a = tr.filter(_.query == q).map(_.wallMs); val b = untraced.filter(_.query == q).map(_.wallMs).toSeq
        if (a.isEmpty || b.isEmpty) None else Some(Stats.median(a) / Stats.median(b))
      }
      val n = tr.length.max(1)
      t.operatorLayers(tr.map(_.op), wallS, ctx.args.nproc) ++ ctx.storageLayers() ++ Map(
        "driver.outside_jobs_s" -> perQuery.map(_._4).sum / n,
        "operators.build_ms" -> tr.map(_.buildMs).sum / n,
        "operators.eager_jobs" -> perQuery.map(_._3).sum.toDouble / n,
        "jvm.gc_s" -> windowGc,
        "trace.overhead_pct" -> (if (overhead.isEmpty) 0.0 else 100 * (Stats.median(overhead) - 1)))
    }.getOrElse(Map.empty)
    tracer.foreach { t =>
      val path = java.nio.file.Paths.get(ctx.args.out, "trace", s"inventory-s${ctx.args.seed}.jsonl")
      details += s"trace spans=${t.write(path)} file=$path"
    }
    Result(outcomes.toSeq, e2e, layers, details.toSeq)
  }
}
