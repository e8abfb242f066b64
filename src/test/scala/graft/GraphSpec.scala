package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

/** Broadcast-Dijkstra and iterative-frontier paths vs an in-memory oracle. */
class GraphSpec extends SparkSuite {
  import spark.implicits._

  lazy val (nodes, edges) = Graph.syntheticGrid(spark, 12)
  lazy val edgeList: Seq[(Long, Long, Double)] =
    edges.as[(Long, Long, Double)].collect().toSeq

  /** Oracle Dijkstra with the same semantics as the engine: relax only while
    * dist+cost < budget (graph/graph.go:528 strict), parent = smallest tight
    * predecessor id. */
  def dijkstra(origin: Long, budget: Double): (Map[Long, Double], Map[Long, Long]) = {
    val adj = edgeList.groupBy(_._1)
    val dist = scala.collection.mutable.Map(origin -> 0.0)
    val pq = scala.collection.mutable.PriorityQueue((0.0, origin))(
      Ordering.by[(Double, Long), Double](-_._1))
    while (pq.nonEmpty) {
      val (d, u) = pq.dequeue()
      if (d <= dist(u)) {
        adj.getOrElse(u, Nil).foreach { case (_, v, c) =>
          val nd = d + c
          if (nd < budget && nd < dist.getOrElse(v, Double.MaxValue)) {
            dist(v) = nd
            pq.enqueue((nd, v))
          }
        }
      }
    }
    // parent oracle: min tight predecessor over final distances
    val parents = dist.keys.filter(_ != origin).flatMap { v =>
      val tight = edgeList.filter(e => e._2 == v && dist.contains(e._1) &&
        dist(e._1) + e._3 == dist(v)).map(_._1)
      if (tight.isEmpty) None else Some(v -> tight.min)
    }.toMap
    (dist.toMap, parents)
  }

  test("reachable matches Dijkstra for every origin, distances exact") {
    val origins = Seq(0L, 77L, 143L)
    val got = Graph.reachable(edges, origins.toDF("origin"), 900.0)
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).map { case (o, rows) => o -> rows.map(r => r._2 -> r._3).toMap }
    origins.foreach { o =>
      val (expected, _) = dijkstra(o, 900.0)
      val g = got(o)
      assert(g.keySet == expected.keySet,
        s"origin $o: missing=${(expected.keySet -- g.keySet).take(5)} extra=${(g.keySet -- expected.keySet).take(5)}")
      expected.foreach { case (n, d) =>
        assert(g(n) == d, s"origin $o node $n: got ${g(n)} want $d")
      }
    }
  }

  test("reachableIterative (huge-network fallback) is row-identical to broadcast Dijkstra") {
    val origins = Seq(0L, 77L).toDF("origin")
    val a = Graph.reachable(edges, origins, 900.0)
      .as[(Long, Long, Double)].collect().toSet
    val b = Graph.reachableIterative(edges, origins, 900.0)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b, s"missing=${(a -- b).take(5)} extra=${(b -- a).take(5)}")
  }

  test("reachableWithParents: parents are the smallest tight predecessor") {
    val parentsDf = Graph.reachableWithParents(edges, Seq(0L).toDF("origin"), 900.0)
    val (dist, expectedParents) = dijkstra(0L, 900.0)
    val rows = parentsDf.select("node", "dist_m", "parent").collect()
      .map(r => (r.getLong(0), r.getDouble(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.map(_._1).toSet == dist.keySet)
    rows.foreach { case (n, d, p) =>
      assert(d == dist(n))
      if (n != 0L) assert(p == expectedParents(n), s"node $n: parent $p want ${expectedParents(n)}")
    }
  }

  test("closest returns the argmin target with deterministic tiebreak (early-exit path)") {
    val origins = Seq(0L).toDF("origin")
    val targets = Seq(5L, 60L, 130L).toDF("target")
    val got = Graph.closest(edges, origins, targets, 5000.0)
      .select("origin", "node", "dist_m").as[(Long, Long, Double)].collect()
    assert(got.length == 1)
    val (d, _) = dijkstra(0L, 5000.0)
    val best = Seq(5L, 60L, 130L).flatMap(t => d.get(t).map(t -> _))
      .minBy { case (t, dd) => (dd, t) }
    assert(got(0)._2 == best._1 && got(0)._3 == best._2)
  }

  test("closest above its target bound is refused with a ShellException naming the bound") {
    val targets = spark.range(Graph.MaxDriverTargets + 1L).toDF("target")
    val e = intercept[graft.shell.Shell.ShellException](
      Graph.closest(edges, Seq(0L).toDF("origin"), targets, 5000.0))
    assert(e.getMessage.contains(s"${Graph.MaxDriverTargets}"), e.getMessage)
  }

  test("closest drops origins that reach no target within budget") {
    val origins = Seq(0L, 143L).toDF("origin")
    val targets = Seq(11L).toDF("target") // corner near node 0
    val got = Graph.closest(edges, origins, targets, 700.0)
      .select("origin").as[Long].collect().toSet
    val reach0 = dijkstra(0L, 700.0)._1.contains(11L)
    val reach143 = dijkstra(143L, 700.0)._1.contains(11L)
    assert(got.contains(0L) == reach0 && got.contains(143L) == reach143)
  }

  test("connectToNetwork adds access edges to the nearest node within range") {
    val (nodes, edges) = Graph.syntheticGrid(spark, 8)
    val features = Seq((1000L, 51.4601, -0.2101), (1001L, 53.0, -2.0))
      .toDF("fid", "lat", "lng") // second feature is far outside maxMeters
    val withAccess = Graph.connectToNetwork(features, nodes, edges, 500.0)
    val access = withAccess.where(col("src") === 1000L || col("dst") === 1000L).collect()
    assert(access.length == 2, "connected feature gets a bidirectional access edge")
    val far = withAccess.where(col("src") === 1001L || col("dst") === 1001L).count()
    assert(far == 0, "out-of-range feature stays disconnected")
    // reachability now flows through the new edge
    val d = Graph.reachable(withAccess, Seq(1000L).toDF("origin"), 1000.0)
    assert(d.count() > 1)
  }

  test("pathsToReach counts edges on the single backtraced path per destination") {
    val origins = Seq(0L).toDF("origin")
    val used = Graph.pathsToReach(edges, origins, 600.0)
      .as[(Long, Long, Long)].collect()
      .map { case (s, t, n) => (s, t) -> n }.toMap
    // oracle: walk the min-tight-predecessor chain from every reached node
    val (dist, parents) = dijkstra(0L, 600.0)
    val expected = scala.collection.mutable.Map[(Long, Long), Long]()
    dist.keys.filter(_ != 0L).foreach { d =>
      var v = d
      while (v != 0L) {
        val p = parents(v)
        expected((p, v)) = expected.getOrElse((p, v), 0L) + 1L
        v = p
      }
    }
    assert(used == expected.toMap,
      s"missing=${(expected.keySet -- used.keySet).take(5)} extra=${(used.keySet -- expected.keySet).take(5)}")
  }

  test("connect adds an edge only when the points are not already adjacent") {
    val e0 = Seq((1L, 2L, 10.0), (2L, 1L, 10.0)).toDF("src", "dst", "cost_m")
    assert(Graph.connect(e0, 1L, 2L, 99.0).count() == 2, "already connected: unchanged")
    val e1 = Graph.connect(e0, 1L, 3L, 7.0)
    assert(e1.count() == 4)
    assert(e1.where(col("src") === 3L && col("dst") === 1L && col("cost_m") === 7.0).count() == 1)
  }

  test("buildingAccess pairs origins with reachable #building features") {
    val features = Seq(
      (5L, Map("#building" -> "yes")), (7L, Map("#amenity" -> "cafe")))
      .toDF("node_id", "tags")
    val e = Graph.undirected(Seq((0L, 5L, 100.0), (0L, 7L, 100.0)).toDF("src", "dst", "cost_m"))
    val got = Graph.buildingAccess(e, Seq(0L).toDF("origin"), 500.0, features)
      .select("node").as[Long].collect().toSet
    assert(got == Set(5L), "only the #building node qualifies")
  }

  test("filterAccessible keeps surviving OD rows and emits the invalid sentinel") {
    val od = Seq((1L, 10L), (1L, 11L), (2L, 12L), (3L, 10L)).toDF("origin", "node")
    val survivors = Seq(10L, 11L).toDF("ok")
    val got = Graph.filterAccessible(od, survivors)
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (1L, 11L), (3L, 10L), (2L, -1L)))
  }

  /** filter-accessible by hand: surviving OD rows as they are (duplicates
    * kept), plus one (key, -1) row per key with no surviving destination. */
  private def bruteFilterAccessible(od: Seq[(Long, Long)], survivors: Set[Long]): Seq[(Long, Long)] =
    (od.filter(r => survivors(r._2)) ++ od.map(_._1).distinct
      .filterNot(k => od.exists(r => r._1 == k && survivors(r._2))).map(_ -> -1L)).sorted

  test("filterAccessible equals a brute force: duplicate survivors, keys with no survivor, empty OD") {
    val rnd = new scala.util.Random(12)
    val od = Seq.fill(60)((rnd.nextInt(8).toLong, rnd.nextInt(25).toLong)) ++
      Seq((8L, 1L), (8L, 1L), (9L, 2L)) // duplicate OD rows; key 9 has no survivor
    val picked = (1L +: Seq.fill(15)(rnd.nextInt(25).toLong)).filter(_ != 2L)
    val survivors = picked ++ picked.take(5) // duplicate survivor ids
    def got(o: Seq[(Long, Long)], sv: org.apache.spark.sql.DataFrame) =
      Graph.filterAccessible(o.toDF("origin", "node"), sv).as[(Long, Long)].collect().toSeq.sorted
    val expected = bruteFilterAccessible(od, picked.toSet)
    assert(expected.count(_ == (8L, 1L)) == 2 && expected.contains((9L, -1L)))
    assert(got(od, survivors.toDF("ok")) == expected)
    // more survivor ids than the driver-side set holds: the join path
    val wide = spark.range(-30000L, 0L).toDF("ok").unionByName(survivors.toDF("ok"))
    assert(got(od, wide) == expected)
    assert(got(Nil, survivors.toDF("ok")).isEmpty)
    assert(got(Nil, wide).isEmpty)
    assert(got(od, Seq.empty[Long].toDF("ok")) == od.map(_._1).distinct.map(_ -> -1L).sorted)
  }

  test("filterAccessible then odHistogram: one exchange keyed by origin") {
    val od = Seq((1L, 10L), (1L, 11L), (2L, 12L), (3L, 10L)).toDF("origin", "node")
    val hist = graft.operators.Aggs.odHistogram(Graph.filterAccessible(od, Seq(10L, 11L).toDF("ok")))
    assert(hist.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
    // the final adaptive plan, without the initial plan printed beside it
    val plan = hist.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
    assert("Exchange hashpartitioning\\(origin#".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("BroadcastExchange"), plan)
  }

  test("reachable decides broadcast-vs-iterative and seeds the CSR in one job") {
    val grid = edges
    val origins = Seq(0L, 77L, 143L).toDF("origin")
    // one guarded collect both sizes the network and is the CSR input: no
    // separate count() probe, and no caller-supplied edge count
    val (od, jobs) = JobCount(spark)(Graph.reachable(grid, origins, 900.0))
    assert(jobs == 1, s"reachable started $jobs jobs while it built")
    val got = od.as[(Long, Long, Double)].collect().filter(_._1 == 77L)
      .map(r => r._2 -> r._3).toMap
    assert(got == dijkstra(77L, 900.0)._1)
  }
}
