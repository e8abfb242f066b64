package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import scala.collection.mutable.ArrayBuffer
import com.sun.net.httpserver.HttpServer
import org.apache.spark.sql.DataFrame
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import graft.core.GeoOps
import graft.operators.Changes
import graft.query.{And, IntersectsCap, Keyed, QueryPlanner, Tagged}
import graft.render.Renderers
import graft.render.Renderers.{WorldId, WorldRegistry}
import graft.server.EvaluateService
import graft.shell.Shell
import Inputs.Pt

/** The parameters of one request of the fixed list. `hot` requests are
  * centred on the hot point cluster. */
case class Req(kind: String, amenity: String, lat: Double, lng: Double, radius: Double, take: Int,
               hot: Boolean) {
  /** The type the request is summarised under. */
  def group: String = if (hot) s"hot_$kind" else kind
}

/** A request the load generator sends, with the check of its response. */
case class Op(req: Req, expr: String, tile: Option[(Long, Long)], query: Option[graft.query.Query],
              check: Reply => Outcome) {
  def kind: String = req.group
  def lazyExpr: String = expr.split(" \\| ").filterNot(s => s == "count" || s.startsWith("take")).mkString(" | ")
}

/** An HTTP reply: status, and for /evaluate the result type and JSON. */
case class Reply(status: Int, kind: String, json: String, bytes: Array[Byte])

/**
 * The serving world and its two HTTP front doors (`EvaluateService.serve`,
 * `Renderers.serveTiles`), running in this process, plus a loopback client
 * and the brute-force expectations of every request.
 */
final class Served(ctx: Ctx) {
  val spark = ctx.spark
  private val fleet = Inputs.fleet()
  private val polys = fleet.map { case (_, g) => (g.getEnvelopeInternal, PreparedGeometryFactory.prepare(g)) }
  var world: DataFrame = _
  var reg: WorldRegistry = _
  private var servers: Seq[HttpServer] = Nil
  private var evalUri: URI = _
  private var tileBase = ""
  /** The world's points on the driver, for the brute-force checks. */
  lazy val pts: Vector[Pt] = Inputs.points(world)
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  val Timeout: Duration = Duration.ofSeconds(60)

  /** The program's set-up, from nothing: build and cache the world, make its
    * registry, start both servers. Drops what an earlier call built. */
  def buildWorld(): Unit = {
    close()
    if (world != null) world.unpersist(blocking = true)
    world = Inputs.world(spark, ctx.args.sf, fleet).cache()
    world.count()
  }

  def startServers(): Unit = {
    reg = Inputs.registry(spark, world)
    val (ev, tl) = (EvaluateService.serve(reg), Renderers.serveTiles(reg))
    servers = Seq(ev, tl)
    evalUri = URI.create(s"http://127.0.0.1:${ev.getAddress.getPort}/evaluate")
    tileBase = s"http://127.0.0.1:${tl.getAddress.getPort}/tiles"
  }

  def close(): Unit = { servers.foreach(_.stop(0)); servers = Nil }

  private val ResultRe = "(?s)\\{\"type\":\"([^\"]*)\",\"result\":(.*)\\}".r

  def send(op: Op): Reply = op.tile match {
    case Some((x, y)) =>
      val q = java.net.URLEncoder.encode(op.expr, "UTF-8")
      val req = HttpRequest.newBuilder(URI.create(s"$tileBase/14/$x/$y.mvt?q=$q")).timeout(Timeout).GET().build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofByteArray())
      Reply(r.statusCode(), "tile", "", r.body())
    case None =>
      val body = "{\"expression\":\"" + Json.esc(op.expr) + "\",\"version\":\"1\"}"
      val req = HttpRequest.newBuilder(evalUri).timeout(Timeout)
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val r = client.send(req, HttpResponse.BodyHandlers.ofString())
      r.body() match {
        case ResultRe(kind, json) => Reply(r.statusCode(), kind, json, Array.emptyByteArray)
        case other => Reply(r.statusCode(), "", other, Array.emptyByteArray)
      }
  }

  /** Sends, and returns the check of the reply: a non-200 status or a wrong
    * result is a failure. */
  def request(op: Op): () => Outcome = {
    val r = send(op)
    () => if (r.status != 200) Outcome.fail(s"${op.kind}: HTTP ${r.status} ${r.json.take(200)}") else op.check(r)
  }

  def exchange(op: Op): Outcome = request(op)()

  // ---- the fixed request list and its expected results ------------------------

  private def long(r: Reply): Option[Long] = if (r.kind == "long") r.json.trim.toLongOption else None

  private def inBand(kind: String, got: Option[Long], lo: Long, hi: Long): Outcome = got match {
    case Some(v) if v >= lo && v <= hi => Outcome.Ok
    case other => Outcome.fail(s"$kind: got $other, expected $lo..$hi")
  }

  /** Points with amenity `a` (or any) within the cap, counted for radius
    * 0.999 r and r: the engine's cap covering may drop points in that thin
    * ring, so any count in between is correct. */
  private def capPts(lat: Double, lng: Double, r: Double, a: Option[String]): (Vector[Pt], Vector[Pt]) = {
    val in = pts.filter(p => a.forall(_ == p.amenity) && GeoOps.haversineMeters(p.lat, p.lng, lat, lng) < r)
    (in.filter(p => GeoOps.haversineMeters(p.lat, p.lng, lat, lng) < 0.999 * r), in)
  }

  private def pairs(ps: Vector[Pt]): Long = ps.iterator.map { p =>
    val pt = GeoOps.point(p.lat, p.lng)
    polys.count { case (env, pg) => env.contains(p.lng, p.lat) && pg.covers(pt) }.toLong
  }.sum

  private def near(p: Pt, m: Double): Boolean = GeoOps.haversineMeters(p.lat, p.lng, Inputs.HotLat, Inputs.HotLng) < m

  /** Requests of block `k`, the same for every seed: one of each type, centred
    * on points away from the hot cluster, plus a containing-areas count
    * centred in it. A request centred in the cluster costs many times one
    * outside, so every block holds the same number of them. */
  def block(k: Int): Seq[Req] = {
    val rnd = new scala.util.Random(7001L * (k + 1))
    val diffuse = pts.filter(p => !near(p, 1500))
    val normal = Serve.OpTypes.map { kind =>
      val a = Inputs.Amenities(rnd.nextInt(Inputs.Amenities.length))
      val cands = if (kind == "tile") diffuse.filter(_.amenity == a) else diffuse
      val c = cands(rnd.nextInt(cands.length))
      Req(kind, a, c.lat, c.lng, math.rint(400 + rnd.nextDouble() * 400), 5 + rnd.nextInt(46), hot = false)
    }
    val inside = pts.filter(p => near(p, Serve.HotCapM) && p.amenity == "cafe")
    val hots = Serve.HotTypes.map(_.stripPrefix("hot_")).map { kind =>
      val c = inside(rnd.nextInt(inside.length))
      Req(kind, "cafe", c.lat, c.lng, Serve.HotCapM, 0, hot = true)
    }
    normal ++ hots
  }

  def op(q: Req): Op = {
    val a = q.amenity
    val cap = f"(intersecting-cap ${q.lat}%.6f, ${q.lng}%.6f ${q.radius}%.1f)"
    // the centre as printed, so the brute force sees the same cap
    val (cLat, cLng) = (f"${q.lat}%.6f".toDouble, f"${q.lng}%.6f".toDouble)
    val tagged = Tagged("#amenity", a)
    val capQ = IntersectsCap(cLat, cLng, q.radius)
    val kind = q.group
    q.kind match {
      case "tag_count" =>
        val want = pts.count(_.amenity == a).toLong
        Op(q, s"find [#amenity=$a] | count", None, Some(tagged), rep => inBand(kind, long(rep), want, want))
      case "cap_count" =>
        val (lo, hi) = capPts(cLat, cLng, q.radius, Some(a))
        Op(q, s"find (and [#amenity=$a] $cap) | count", None, Some(And(Seq(tagged, capQ))),
          rep => inBand(kind, long(rep), lo.length, hi.length))
      case "take" =>
        val n = q.take
        Op(q, s"find [#amenity=$a] | take $n", None, Some(tagged), rep =>
          if (rep.kind == "collection" && Inputs.jsonRows(rep.json) == n) Outcome.Ok
          else Outcome.fail(s"take: ${rep.kind} with ${Inputs.jsonRows(rep.json)} rows, expected $n"))
      case "containing_areas" =>
        val (lo, hi) = capPts(cLat, cLng, q.radius, Some(a))
        val (pl, ph) = (pairs(lo), pairs(hi))
        Op(q, s"find (and [#amenity=$a] $cap) | containing-areas | count", None, Some(And(Seq(tagged, capQ))),
          rep => inBand(kind, long(rep), pl, ph))
      case "count_values" =>
        val (lo, hi) = capPts(cLat, cLng, q.radius, None)
        Op(q, s"""find (and [#amenity] $cap) | map {f -> get f "#amenity"} | count-values""", None,
          Some(And(Seq(Keyed("#amenity"), capQ))), { rep =>
          val ns = "\"n\":(\\d+)".r.findAllMatchIn(rep.json).map(_.group(1).toLong).toSeq
          val rows = Inputs.jsonRows(rep.json)
          if (rep.kind == "collection" && ns.sum >= lo.length && ns.sum <= hi.length &&
            rows >= lo.map(_.amenity).distinct.length && rows <= hi.map(_.amenity).distinct.length) Outcome.Ok
          else Outcome.fail(s"count_values: ${rep.kind} rows=$rows sum=${ns.sum}, expected ${lo.length}..${hi.length}")
        })
      case "tile" =>
        val (x, y) = (GeoOps.tileX(q.lng, 14), GeoOps.tileY(q.lat, 14))
        // a feature belongs to every tile its cell union touches
        // (GeoOps.tileCoverWkb), so a point whose leaf cell straddles the
        // tile edge is drawn on both sides of it
        val tile = GeoOps.tileId(14, x, y)
        val want = math.min(Renderers.MaxFeaturesPerTile, pts.count(p =>
          p.amenity == a && math.abs(GeoOps.tileX(p.lng, 14) - x) <= 1 && math.abs(GeoOps.tileY(p.lat, 14) - y) <= 1 &&
            GeoOps.tileCoverWkb(GeoOps.toWkb(GeoOps.point(p.lat, p.lng)), 14).contains(tile)))
        Op(q, s"[#amenity=$a]", Some((x, y)), Some(tagged), { rep =>
          val got = if (rep.bytes.isEmpty) 0 else Inputs.mvtFeatures(rep.bytes)
          if (got == want) Outcome.Ok else Outcome.fail(s"tile $x/$y: $got features, expected $want")
        })
    }
  }

  /** Blocks `from` until `until` of the list as checked operations. */
  def ops(from: Int, until: Int): Vector[Op] = (from until until).flatMap(block).map(op).toVector
}

object Serve {

  val OpTypes: Seq[String] = Seq("tag_count", "cap_count", "take", "containing_areas", "count_values", "tile")
  val HotTypes: Seq[String] = Seq("hot_containing_areas")
  val AllTypes: Seq[String] = OpTypes ++ HotTypes
  /** Radius of the hot caps, and of the area their centres are drawn from. */
  val HotCapM = 400.0
  /** Requests per second at the base rate, about an eighth of today's
    * capacity: at about 1 req/s the waits behind other requests varied so
    * much with the arrival order that a run's figure moved by a fifth from
    * seed to seed. */
  val BaseRate = 0.5
  /** Blocks of the list a run sends at least, so that every type has two
    * samples for its median; short runs send them faster than `BaseRate`. */
  val MinBlocks = 2
  /** Rates of the capacity ladder (traced runs) above the base. Today's
    * capacity for the mix, about 3–4 req/s (one evaluate and one tile
    * dispatcher thread), sits well between the base and the first rung, so
    * the result repeats; a 4 req/s rung passed in some runs and not others. */
  val Ladder: Seq[Double] = Seq(8.0, 32.0)
  val LimitMs = 2000.0
  /** How many times a run sets up the serving world; it reports the median. */
  val SetupReps = 3

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Geometric mean over request types of each type's median latency. */
  def typeGmean(samples: Seq[(String, Double)]): Double =
    Stats.gmean(samples.groupBy(_._1).values.map(xs => Stats.median(xs.map(_._2))).toSeq)

  /**
   * `serve`: open loop, seeded Poisson arrivals at `BaseRate` over at most
   * nproc client connections. Every seed sends the same requests (whole
   * blocks of the fixed list); the seed sets only their order and arrival
   * times. Latency is timed from each request's due time.
   */
  def runServe(ctx: Ctx): Result = {
    val s = new Served(ctx)
    val outcomes = ArrayBuffer[Outcome]()
    val details = ArrayBuffer[String]()
    try {
      // set-up, `SetupReps` times from nothing: world, registry, servers
      val reps = (1 to SetupReps).map { _ =>
        val t0 = System.nanoTime()
        s.buildWorld()
        s.startServers()
        (System.nanoTime() - t0) / 1e9
      }
      ctx.setupReps(reps)
      // warm-up, once: block 0 of the list, checked like the rest
      s.ops(0, 1).foreach(op => outcomes += Attempt(s.exchange(op)))

      val tracer = ctx.tracer
      val layers = scala.collection.mutable.Map[String, Double]()
      val blocks = math.max(MinBlocks, math.round(BaseRate * ctx.args.seconds / AllTypes.length).toInt)
      val list = s.ops(1, 1 + blocks)
      val order = new scala.util.Random(ctx.args.seed).shuffle(list)
      val offsets = OpenLoop.poissonArrivals(ctx.args.seed * 7919L + 1, order.length, ctx.args.seconds)
      val gc0 = ctx.gcSeconds()
      ctx.timedStart()
      val samples = OpenLoop.run(offsets, order.zipWithIndex, ctx.args.nproc) { case (op, i) =>
        ctx.span(s"req-$i-${op.kind}", "request", tracer.isDefined)(s.request(op))
      }
      outcomes ++= samples.map(_.outcome)
      val lat = samples.map(_.latencyMs)
      val byType = samples.map(x => x.op._1.kind -> x.latencyMs)
      details += f"serve rate=${order.length / ctx.args.seconds.toDouble}%.2f/s requests=${samples.length} " +
        f"connections=${ctx.args.nproc} serve_p50_ms=${p50(lat)}%.1f serve_mean_ms=${Stats.mean(lat)}%.1f " +
        Stats.tail(lat).filter(_._1 > 50).map { case (p, v) => f"serve_p${p}%.0f_ms=$v%.1f" }
          .getOrElse("serve_tail=none(<40 samples)") +
        f" gen_lag_max_ms=${samples.map(_.lagMs).max}%.2f req_gmean_ms=${Stats.gmean(lat)}%.1f"
      AllTypes.foreach { k =>
        val xs = byType.filter(_._1 == k).map(_._2)
        details += f"serve op=$k p50_ms=${p50(xs)}%.1f n=${xs.length}"
      }

      tracer.foreach { t =>
        // the per-layer breakdown with one client and no load, after the
        // open-loop window so that the server is as warm as it was there:
        // each request untraced (service time) and traced (Spark counters,
        // overhead), then the layer calls it makes, directly
        val service = scala.collection.mutable.Map[String, ArrayBuffer[Double]]()
        val ratios = scala.collection.mutable.Map[String, ArrayBuffer[Double]]()
        val transport = ArrayBuffer[Double]()
        val tracedOps = ArrayBuffer[String]()
        var tracedS = 0.0
        s.ops(0, 1).zipWithIndex.foreach { case (op, i) =>
          val id = s"unloaded-$i-${op.kind}"
          def untraced(): Double = {
            val u0 = System.nanoTime()
            outcomes += Attempt(s.exchange(op))
            (System.nanoTime() - u0) / 1e6
          }
          // untraced, traced, untraced: the traced one is neither the first
          // nor the last, so warming up does not count as overhead
          val before = untraced()
          val t0 = System.nanoTime()
          outcomes += Attempt(t.traced(id)(t.span(id, "server.http")(s.exchange(op))))
          val tracedMs = (System.nanoTime() - t0) / 1e6
          val untracedMs = (before + untraced()) / 2
          tracedOps += id; tracedS += tracedMs / 1000
          service.getOrElseUpdate(op.kind, ArrayBuffer()) += untracedMs
          ratios.getOrElseUpdate(op.kind, ArrayBuffer()) += tracedMs / untracedMs
          t.span(id, "shell.parse")(Shell.parse(op.expr))
          if (op.tile.isEmpty) t.span(id, "shell.compile")(Shell.run(s.world, op.lazyExpr))
          op.query.foreach(q => t.span(id, "query.find")(QueryPlanner.find(s.world, q)))
          op.tile match {
            case Some((x, y)) =>
              val bytes = t.span(id, "render.tile")(
                Renderers.queryTile(s.reg, Renderers.DefaultWorldId, 14, x, y, op.expr))
              layers("render.tile_kb") = layers.getOrElse("render.tile_kb", 0.0) + bytes.length / 1024.0
            case None =>
              val d0 = System.nanoTime()
              t.span(id, "server.evaluate")(EvaluateService.evaluate(s.reg, op.expr, None, "1"))
              transport += untracedMs - (System.nanoTime() - d0) / 1e6
          }
        }
        layers("render.tile_kb") = layers.getOrElse("render.tile_kb", 0.0) / t.spansOf("render.tile").length.max(1)
        // the scenario write path on a shadow world: each change through
        // `applyChange`, then a checked read-back of the changed world
        val shadow = WorldId("collection", "graft/bench-shadow", 1L)
        val shadowName = s"/collection/graft/bench-shadow/${shadow.value}"
        new scala.util.Random(17L).shuffle(s.pts).take(4).zipWithIndex.foreach { case (p, i) =>
          val id = s"shadow-${i + 1}"
          outcomes += Attempt {
            val change = t.span(id, "shell.run")(
              Shell.run(s.world, s"with-change {-> add-tag /${p.ftype}/graft/events/${p.id} #bench=yes}"))
            t.span(id, "render.apply_change")(s.reg.applyChange(shadow, change.asInstanceOf[Changes.ChangeSet]))
            val r = EvaluateService.evaluate(s.reg, "find [#bench] | count", Some(shadowName), "1")
            if (r.kind == "long" && r.json == (i + 1).toString) Outcome.Ok
            else Outcome.fail(s"shadow read after ${i + 1} changes: ${r.kind} ${r.json.take(100)}")
          }
        }
        layers ++= t.operatorLayers(tracedOps.toSeq, tracedS, ctx.args.nproc)
        layers ++= Map(
          "render.apply_change_ms" -> t.medianMs("render.apply_change"),
          "shell.parse_ms" -> t.medianMs("shell.parse"), "shell.compile_ms" -> t.medianMs("shell.compile"),
          "query.find_ms" -> t.medianMs("query.find"), "render.tile_ms" -> t.medianMs("render.tile"),
          "server.transport_ms" -> p50(transport.toSeq))
        service.foreach { case (k, xs) => layers(s"server.service_ms.$k") = p50(xs.toSeq) }
        layers ++= ctx.storageLayers()
        layers("jvm.gc_s") = ctx.gcSeconds() - gc0
        layers("server.gen_lag_ms") = samples.map(_.lagMs).max
        layers("server.wait_ms") = p50(samples.map(x =>
          x.latencyMs - service.get(x.op._1.kind).map(b => p50(b.toSeq)).getOrElse(0.0)))
        // per type, traced over untraced service time, then the median
        layers("trace.overhead_pct") = 100 * (Stats.median(ratios.values.map(b => p50(b.toSeq)).toSeq) - 1)

        // capacity ladder: the highest rate whose p90 stays within the limit
        // and whose backlog drains within the limit after the rung ends,
        // climbing from the base rate and stopping at the first rung that fails
        var climbing = samples.forall(_.ok) && Stats.percentile(lat, 90) <= LimitMs
        var best = if (climbing) order.length / ctx.args.seconds.toDouble else 0.0
        Ladder.foreach { rate =>
          if (climbing) {
            val secs = math.max(5.0, ctx.args.seconds / 5.0)
            val n = math.round(rate * secs).toInt
            val rungOps = Iterator.continually(list).flatten.take(n).toVector
            val offs = OpenLoop.poissonArrivals(ctx.args.seed + rate.toLong, n, secs)
            val r0 = System.nanoTime()
            val rung = OpenLoop.run(offs, new scala.util.Random(ctx.args.seed + 31).shuffle(rungOps),
              ctx.args.nproc)(op => s.request(op))
            outcomes ++= rung.map(_.outcome)
            val p90 = Stats.percentile(rung.map(_.latencyMs), 90)
            val drainMs = (rung.map(_.doneNs).max - r0) / 1e6 - secs * 1000
            climbing = rung.forall(_.ok) && p90 <= LimitMs && drainMs <= LimitMs
            details += f"serve ladder rate=$rate%.0f/s requests=${rung.length} p90_ms=$p90%.1f " +
              f"drain_ms=$drainMs%.0f pass=$climbing"
            if (climbing) best = rate
          }
        }
        layers("server.max_rps") = best
        val path = java.nio.file.Paths.get(ctx.args.out, "trace", s"serve-s${ctx.args.seed}.jsonl")
        details += s"trace spans=${t.write(path)} file=$path"
      }
      val e2e = Seq(Metric("setup_s", ctx.setupS, "s"), Metric("gmean_ms", typeGmean(byType), "ms"))
      Result(outcomes.toSeq, e2e, layers.toMap, details.toSeq)
    } finally s.close()
  }
}
