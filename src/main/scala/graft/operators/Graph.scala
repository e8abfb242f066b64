package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Street-network reachability operators — the reference's graph plane
 * (src/diagonal.works/b6/graph/graph.go: ShortestPathSearch, Weights;
 * api/functions/graph.go: reachable, accessible-all, closest, paths-to-reach,
 * filter-accessible).
 *
 * Spark-first shape, scale posture: a street network is small relative to the
 * data volume it is queried against (the full-planet OSM road graph is tens of
 * GB of (src,dst,cost) rows; the 100 TB lives in the point/image tables). So
 * the default plan BROADCASTS the network as a CSR structure and fans the
 * (arbitrarily many) origins out over partitions, running the reference's
 * budget-bounded binary-heap Dijkstra (graph/graph.go:509-532 ExpandSearch)
 * per origin inside `mapPartitions` — zero shuffles, embarrassingly parallel
 * in origins, exact distances. Like the reference (graph.go:528), edges are
 * relaxed only while `dist + cost < budget` (strict).
 *
 * For networks too large to broadcast (more than `MaxBroadcastEdges` rows,
 * found by the same guarded collect that seeds the CSR), `reachableIterative`
 * runs the same search as a delta-only frontier loop on DataFrames: per round
 * only the improved rows shuffle (the accumulated distance table stays
 * hash-partitioned on (origin,node) across rounds via localCheckpoint, so
 * merges stream it per-partition instead of re-shuffling).
 */
object Graph {

  /** Compressed-sparse-row adjacency of the street network, broadcast to every
    * executor for per-origin Dijkstra. Node ids are sorted so lookup is a binary
    * search; neighbors of node i live in `dstIdx/costs[offsets(i) until offsets(i+1))`.
    */
  final case class Csr(nodeIds: Array[Long], offsets: Array[Int],
                       dstIdx: Array[Int], costs: Array[Double]) extends Serializable {
    def n: Int = nodeIds.length
    def indexOf(node: Long): Int = java.util.Arrays.binarySearch(nodeIds, node)
  }

  /** Symmetrise an edge list (b6 paths are walkable both ways unless tagged). */
  def undirected(edges: DataFrame): DataFrame =
    edges.unionByName(edges.select(
      col("dst").as("src"), col("src").as("dst"), col("cost_m")))

  /** Edge-count threshold above which the network is no longer broadcast. */
  val MaxBroadcastEdges: Int = 20000000

  // ---- CSR build + broadcast ------------------------------------------------

  private[graft] def buildCsr(rows: Array[(Long, Long, Double)]): Csr = {
    val nodeIds = {
      val s = new java.util.TreeSet[java.lang.Long]()
      rows.foreach { r => s.add(r._1); s.add(r._2) }
      val out = new Array[Long](s.size)
      var i = 0; val it = s.iterator()
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      out
    }
    val n = nodeIds.length
    val deg = new Array[Int](n)
    rows.foreach { r => deg(java.util.Arrays.binarySearch(nodeIds, r._1)) += 1 }
    val offsets = new Array[Int](n + 1)
    var i = 0
    while (i < n) { offsets(i + 1) = offsets(i) + deg(i); i += 1 }
    val cursor = java.util.Arrays.copyOf(offsets, n)
    val dstIdx = new Array[Int](rows.length)
    val costs = new Array[Double](rows.length)
    rows.foreach { r =>
      val s = java.util.Arrays.binarySearch(nodeIds, r._1)
      val c = cursor(s)
      dstIdx(c) = java.util.Arrays.binarySearch(nodeIds, r._2)
      costs(c) = r._3
      cursor(s) = c + 1
    }
    Csr(nodeIds, offsets, dstIdx, costs)
  }

  /** The network as a CSR broadcast to every executor, from ONE guarded
    * collect of up to `MaxBroadcastEdges + 1` edge rows: when they fit, they
    * are the network; above the bound there is None (the knnJoin pattern). */
  private def broadcastCsr(edges: DataFrame): Option[Broadcast[Csr]] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val rows = edges.select(col("src").cast("long"), col("dst").cast("long"),
      col("cost_m").cast("double")).as[(Long, Long, Double)]
      .limit(MaxBroadcastEdges + 1).collect()
    if (rows.length > MaxBroadcastEdges) None
    else Some(spark.sparkContext.broadcast(buildCsr(rows)))
  }

  /** [[broadcastCsr]] for the searches that have no iterative path. */
  private def requireBroadcast(edges: DataFrame, search: String): Broadcast[Csr] =
    broadcastCsr(edges).getOrElse(throw new IllegalArgumentException(
      s"$search runs on networks of at most $MaxBroadcastEdges edges; this one has more"))

  /**
   * Budget-bounded Dijkstra from one origin over the CSR (binary heap with
   * lazy deletion — ≙ graph/graph.go:316-462 AddOrUpdate/ExpandSearch).
   * Fills `dist`/`parent` for stamped entries; returns the reached indices in
   * settle order. Parent tiebreak is deterministic: among tight predecessors
   * (dist(u)+c == dist(v)) the smallest node id wins, so backtraces are
   * reproducible across partitionings and match the test oracle.
   * If `targets` is non-null the search early-exits once the heap minimum
   * exceeds the best target distance found (≙ ExpandSearchTo graph.go:478-507).
   */
  private[graft] def dijkstra(csr: Csr, originIdx: Int, budget: Double,
      dist: Array[Double], parent: Array[Int], stamp: Array[Int], version: Int,
      targets: Array[Boolean]): scala.collection.mutable.ArrayBuffer[Int] = {
    val reached = new scala.collection.mutable.ArrayBuffer[Int]()
    val pq = new java.util.PriorityQueue[(Double, Int)](
      (a: (Double, Int), b: (Double, Int)) => java.lang.Double.compare(a._1, b._1))
    dist(originIdx) = 0.0
    parent(originIdx) = -1
    stamp(originIdx) = version
    pq.add((0.0, originIdx))
    var bestTargetDist = Double.PositiveInfinity
    var continue = true
    while (continue && !pq.isEmpty) {
      val (d, u) = pq.poll()
      if (stamp(u) == version && d <= dist(u)) {
        if (targets != null && d > bestTargetDist) continue = false
        else {
          reached += u
          if (targets != null && targets(u) && d < bestTargetDist) bestTargetDist = d
          var e = csr.offsets(u)
          val end = csr.offsets(u + 1)
          while (e < end) {
            val v = csr.dstIdx(e)
            val nd = d + csr.costs(e)
            if (nd < budget) {
              if (stamp(v) != version || nd < dist(v)) {
                dist(v) = nd; parent(v) = u; stamp(v) = version
                pq.add((nd, v))
              } else if (nd == dist(v) && parent(v) >= 0 &&
                  csr.nodeIds(u) < csr.nodeIds(parent(v))) {
                // parent(v) == -1 marks the search origin: a zero-cost edge
                // relaxing back into it (duplicate-coordinate way vertices,
                // 0-second transit hops) must not dereference nodeIds(-1)
                parent(v) = u
              }
            }
            e += 1
          }
        }
      }
    }
    reached
  }

  /** One origin's finished search: the `reached` node indices in settle
    * order, with `dist` and `parent` filled for each (`parent` -1 at the
    * origin); `isTarget` flags the target nodes, or is null. */
  private final class Settled(val csr: Csr, val origin: Long, val originIdx: Int,
      val reached: scala.collection.mutable.ArrayBuffer[Int], val dist: Array[Double],
      val parent: Array[Int], val isTarget: Array[Boolean])

  /**
   * The per-origin search every operator below runs: the `origin` column
   * fans out over partitions; each partition shares version-stamped scratch
   * arrays across its origins (per-origin reset is O(1), not O(n)) and runs
   * one [[dijkstra]] per origin found in the network, early-exiting at the
   * nearest target when `targets` is given. `emit` turns each finished
   * search into output rows.
   */
  private def searchEach[T: Encoder](origins: DataFrame, bc: Broadcast[Csr],
      budgetMeters: Double, targets: Option[Broadcast[Set[Long]]])(
      emit: Settled => Iterator[T]): Dataset[T] =
    origins.select(col("origin").cast("long")).as[Long](Encoders.scalaLong).mapPartitions { it =>
      val csr = bc.value
      val isTarget = targets.map { t =>
        val flags = new Array[Boolean](csr.n)
        t.value.foreach { id => val i = csr.indexOf(id); if (i >= 0) flags(i) = true }
        flags
      }.orNull
      val (dist, parent, stamp) = (new Array[Double](csr.n), new Array[Int](csr.n), new Array[Int](csr.n))
      var version = 0
      it.flatMap { o =>
        val oi = csr.indexOf(o)
        if (oi < 0) Iterator.empty
        else {
          version += 1
          val reached = dijkstra(csr, oi, budgetMeters, dist, parent, stamp, version, isTarget)
          emit(new Settled(csr, o, oi, reached, dist, parent, isTarget))
        }
      }
    }

  // ---- public operators ------------------------------------------------------

  /**
   * Multi-origin budget-bounded shortest-path distances:
   * (origin, node, dist_m) for every node with dist_m < budget.
   * b6 `accessible-all` semantics (api/functions/graph.go:185-245) — every
   * origin expands independently; here one partition-local Dijkstra per origin
   * over the broadcast network. A network above `MaxBroadcastEdges` takes
   * [[reachableIterative]] instead.
   */
  def reachable(edges: DataFrame, origins: DataFrame, budgetMeters: Double): DataFrame = {
    val spark = origins.sparkSession
    import spark.implicits._
    broadcastCsr(edges) match {
      case Some(bc) =>
        searchEach(origins, bc, budgetMeters, None) { s =>
          s.reached.iterator.map(i => (s.origin, s.csr.nodeIds(i), s.dist(i)))
        }.toDF("origin", "node", "dist_m")
      case None => reachableIterative(edges, origins, budgetMeters)
    }
  }

  /**
   * accessible-routes (api/functions/graph.go:312-339): shortest-path
   * distances WITH parent pointers, so routes (step lists) are recoverable.
   * Returns (origin, node, dist_m, parent); parent is null at the origin.
   */
  def reachableWithParents(edges: DataFrame, origins: DataFrame,
                           budgetMeters: Double): DataFrame = {
    val spark = origins.sparkSession
    import spark.implicits._
    searchEach(origins, requireBroadcast(edges, "reachableWithParents"), budgetMeters, None) { s =>
      s.reached.iterator.map { i =>
        val p: Option[Long] = if (s.parent(i) < 0) None else Some(s.csr.nodeIds(s.parent(i)))
        (s.origin, s.csr.nodeIds(i), s.dist(i), p)
      }
    }.toDF("origin", "node", "dist_m", "parent")
  }

  /**
   * b6 `closest` (api/functions/graph.go:402-446): the nearest target by
   * network distance within budget, one row per origin that reaches any
   * target. Early-exits per origin once the heap minimum exceeds
   * the best target found (the reference's ExpandSearchTo stop rule,
   * graph/graph.go:478-507 — its findClosest TODO notes the full expansion it
   * avoids; we take the early exit). Tiebreak: smaller node id on equal distance.
   */
  def closest(edges: DataFrame, origins: DataFrame, targets: DataFrame,
              budgetMeters: Double): DataFrame = {
    val spark = origins.sparkSession
    import spark.implicits._
    val bc = requireBroadcast(edges, "closest")
    val targetIds = targets.select(col(targets.columns.head).cast("long"))
      .as[Long].limit(MaxDriverTargets + 1).collect()
    if (targetIds.length > MaxDriverTargets) throw graft.shell.Shell.ShellException(
      s"closest searches for at most $MaxDriverTargets targets; this search has more")
    searchEach(origins, bc, budgetMeters, Some(spark.sparkContext.broadcast(targetIds.toSet))) { s =>
      var best = -1
      s.reached.foreach { i =>
        if (s.isTarget(i) && (best < 0 || s.dist(i) < s.dist(best) ||
          (s.dist(i) == s.dist(best) && s.csr.nodeIds(i) < s.csr.nodeIds(best)))) best = i
      }
      if (best < 0) Iterator.empty
      else Iterator((s.origin, s.csr.nodeIds(best), s.dist(best)))
    }.toDF("origin", "node", "dist_m")
  }

  /** Target ids up to which [[closest]] holds them on the driver; above it
    * the search is refused. */
  private[graft] val MaxDriverTargets = 100000

  /**
   * b6 `paths-to-reach` (api/functions/graph.go:451-499): per edge, how many
   * times it lies on THE backtraced shortest path (graph.go BuildPath) from an
   * origin to a reached destination — NOT "every tight edge"; parallel
   * equal-cost paths contribute only via the deterministically-chosen parent
   * chain (smallest tight predecessor id). Every reached node is a
   * destination.
   */
  def pathsToReach(edges: DataFrame, origins: DataFrame, budgetMeters: Double): DataFrame = {
    val spark = origins.sparkSession
    import spark.implicits._
    searchEach(origins, requireBroadcast(edges, "pathsToReach"), budgetMeters, None) { s =>
      // count (src,dst) usage along each destination's single parent chain
      val counts = new java.util.HashMap[Long, Long]()
      s.reached.foreach { d =>
        if (d != s.originIdx) {
          var v = d
          while (s.parent(v) >= 0) {
            val key = s.parent(v).toLong << 32 | (v.toLong & 0xffffffffL)
            counts.merge(key, 1L, (a, b) => a + b)
            v = s.parent(v)
          }
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](counts.size)
      counts.forEach { (k, n) =>
        out += ((s.csr.nodeIds((k >> 32).toInt), s.csr.nodeIds(k.toInt), n))
      }
      out.iterator
    }.toDF("src", "dst", "n_paths")
      .groupBy("src", "dst").agg(sum("n_paths").as("n_paths"))
  }

  /**
   * b6 `filter-accessible` (api/functions/graph.go:346-372): keep OD rows
   * whose destination survives the filter; for keys where NO destination
   * survives, emit a single (key, invalid-id sentinel) row so callers can
   * count unserved origins. The reference's invalid FeatureID maps to -1.
   *
   * Rows are (origin, node). One exchange keyed by origin: each OD row is
   * marked surviving or not,
   * one aggregation per key lists the surviving destinations, and a key
   * whose list is empty gets the sentinel. The output stays hash-partitioned
   * by origin, so a following per-key aggregation ([[Aggs.odHistogram]])
   * adds no exchange. Survivors are read by one guarded
   * `limit(N + 1).collect()`: up to [[MaxDriverSurvivors]] ids they mark the
   * rows as an in-set test; more are joined (a left outer join against their
   * distinct ids, one more exchange). Duplicate survivor ids never
   * duplicate an OD row.
   */
  def filterAccessible(od: DataFrame, survivors: DataFrame): DataFrame = {
    val sv = survivors.select(col(survivors.columns.head).as("__sv"))
    val ids = sv.limit(MaxDriverSurvivors + 1).collect().map(_.get(0))
    val marked =
      if (ids.length <= MaxDriverSurvivors)
        od.select(col("origin"), col("node"), col("node").isin(ids.distinct.toIndexedSeq: _*).as("__ok"))
      else
        od.join(sv.distinct(), od("node") === col("__sv"), "left_outer")
          .select(col("origin"), col("node"), col("__sv").isNotNull.as("__ok"))
    val kept = marked.groupBy(col("origin"))
      .agg(collect_list(when(col("__ok"), col("node"))).as("__kept"))
    kept.select(col("origin"), explode(
      when(size(col("__kept")) > 0, col("__kept")).otherwise(array(lit(-1L)))).as("node"))
  }

  /** Survivor ids up to which [[filterAccessible]] tests membership against
    * a driver-side set instead of joining. */
  private val MaxDriverSurvivors = 10000

  // ---- iterative fallback (network larger than executor memory) --------------

  /**
   * Delta-only frontier expansion on DataFrames for networks too large to
   * broadcast. Per round: relax 6 hops from the improved rows
   * only, aggregate the pending deltas, left-join them against the (already
   * hash-partitioned) distance table to keep genuine improvements, and merge
   * via a full-outer join — so each round shuffles O(|delta|), never the
   * accumulated table. Budget semantics match the broadcast path (< budget).
   */
  def reachableIterative(edges: DataFrame, origins: DataFrame, budgetMeters: Double): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("cost_m")).cache()
    var dist = origins.select(col("origin"), col("origin").as("node"),
      lit(0.0).as("dist_m"))
      .repartition(col("origin"), col("node"))
      .localCheckpoint()
    var frontier = dist
    var done = false
    while (!done) {
      var f = frontier
      var pending = frontier.limit(0)
      (1 to 6).foreach { _ =>
        val eh = e.select(col("src").as("__s"), col("dst").as("__d"), col("cost_m").as("__w"))
        f = f.join(eh, f("node") === col("__s"))
          .select(col("origin"), col("__d").as("node"),
            (col("dist_m") + col("__w")).as("dist_m"))
          .where(col("dist_m") < budgetMeters)
          .groupBy("origin", "node").agg(min("dist_m").as("dist_m"))
        pending = pending.unionByName(f)
      }
      val pendingAgg = pending.groupBy("origin", "node").agg(min("dist_m").as("dist_m"))
      // improvement check: pendingAgg (delta-sized) shuffles onto dist's layout
      val improved = pendingAgg
        .join(dist.select(col("origin"), col("node"), col("dist_m").as("__old")),
          Seq("origin", "node"), "left")
        .where(col("__old").isNull || col("dist_m") < col("__old"))
        .select("origin", "node", "dist_m")
        .localCheckpoint()
      done = improved.isEmpty
      if (!done) {
        // merge: full-outer join keeps dist partitioned on (origin,node) —
        // only the improved side shuffles
        dist = dist
          .join(improved.select(col("origin"), col("node"), col("dist_m").as("__new")),
            Seq("origin", "node"), "full")
          .select(col("origin"), col("node"),
            coalesce(col("__new"), col("dist_m")).as("dist_m"))
          .localCheckpoint()
        frontier = improved
      }
    }
    e.unpersist()
    dist
  }

  /** b6 `connect` (api/functions/graph.go:522-540): add an edge between two
    * points if they are not already directly connected (both directions,
    * like the reference's added path). */
  def connect(edges: DataFrame, a: Long, b: Long, costMeters: Double): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val existing = edges.where(
      (col("src") === a && col("dst") === b) || (col("src") === b && col("dst") === a))
    if (!existing.isEmpty) edges
    else edges.unionByName(undirected(Seq((a, b, costMeters)).toDF("src", "dst", "cost_m")))
  }

  /** building-access (api/functions/access.go:10-42, deprecated in the
    * reference): OD pairs origin -> reachable #building features. */
  def buildingAccess(edges: DataFrame, origins: DataFrame, budgetMeters: Double,
                     features: DataFrame, nodeCol: String = "node_id"): DataFrame =
    reachable(edges, origins, budgetMeters)
      .join(features.where(col("tags").getItem("#building").isNotNull),
        col("node") === col(nodeCol))
      .select(col("origin"), col("node"), col("dist_m"))

  /**
   * connect-to-network(-all) (api/functions/graph.go:547-586,
   * graph/connectivity.go): project features onto the street network by
   * adding an access edge to the nearest network node within `maxMeters`.
   * Realised as an exact kNN(k=1) cell-ring join (no cross join), then a
   * union of new edges — features too far from the network stay disconnected,
   * like the reference's threshold behavior.
   */
  def connectToNetwork(features: DataFrame, nodes: DataFrame, edges: DataFrame,
                       maxMeters: Double): DataFrame = {
    graft.functions.CellExprs.install(features.sparkSession)
    // grid level derived from the cap radius (guide §2.3 — shuffle/scan fewer
    // bytes): the finest level whose cell still spans >= maxMeters, so the
    // ring-1 disk both guarantees the cap AND stays as tight as possible.
    // The old fixed level 12 (~4.9 km cells) over-covered an 800 m cap ~16x
    // in candidate area; results are level-invariant (the ring guarantee is
    // exact at any level — SpatialJoinsSpec).
    val lvl = SpatialJoins.levelForRadius(maxMeters)
    // the network-node table is the big side of the kNN; the features being
    // connected are the (small) query side
    val big = nodes.select(col("node_id").as("point_id"), col("lat"), col("lng"))
      .withColumn("cell16",
        graft.functions.CellExprs.cell_of(col("lat"), col("lng"), lit(16)))
    val small = features.select(col("fid").as("site_id"),
      col("lat").as("site_lat"), col("lng").as("site_lng"))
    // the distance cap flows INTO the ring loop: sites provably farther than
    // maxMeters from every node settle on the first qualifying ring instead
    // of hunting their true nearest across a doubling disk
    val nearest = SpatialJoins.knnJoin(big, small, k = 1, level = lvl,
        maxDistance = Some(maxMeters))
      .where(col("__dist") <= maxMeters)
    val accessEdges = nearest.select(
      col("site_id").as("src"), col("point_id").as("dst"), col("__dist").as("cost_m"))
    undirected(accessEdges).unionByName(edges.select("src", "dst", "cost_m"))
  }

  /**
   * Deterministic synthetic street grid over the fixture bbox: nodes are grid
   * intersections, edges connect 4-neighbors with haversine costs; some edges
   * removed pseudo-randomly (seeded) so shortest paths are non-trivial.
   */
  def syntheticGrid(spark: SparkSession, n: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (nodeRows, edgeRows) = syntheticGridRows(n)
    (nodeRows.toDF("node_id", "lat", "lng"),
      undirected(edgeRows.toDF("src", "dst", "cost_m")))
  }

  /** Driver-side grid rows (pure Scala) — shared by syntheticGrid and the
    * DuckDB VALUES oracle in SparkEntry, so both sides see identical edges. */
  def syntheticGridRows(n: Int): (Seq[(Long, Double, Double)], Seq[(Long, Long, Double)]) = {
    val lat0 = 51.46; val lng0 = -0.21
    val dLat = 0.002; val dLng = 0.003
    def nodeId(i: Int, j: Int): Long = i.toLong * n + j
    val nodes = for { i <- 0 until n; j <- 0 until n } yield
      (nodeId(i, j), lat0 + i * dLat, lng0 + j * dLng)
    val edges = for {
      i <- 0 until n; j <- 0 until n
      (di, dj) <- Seq((0, 1), (1, 0))
      if i + di < n && j + dj < n
      // drop ~20% of edges deterministically
      if graft.model.Fixtures.splitmix64(nodeId(i, j) * 4 + di * 2 + dj) % 5 != 0
    } yield {
      val c = graft.core.GeoOps.haversineMeters(
        lat0 + i * dLat, lng0 + j * dLng, lat0 + (i + di) * dLat, lng0 + (j + dj) * dLng)
      (nodeId(i, j), nodeId(i + di, j + dj), c)
    }
    (nodes, edges)
  }
}
