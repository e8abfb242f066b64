package graft.render

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Changes
import graft.query.{Query, QueryPlanner}
import graft.server.Http
import graft.shell.Shell

/**
 * Named-worlds registry + the per-tile query renderer — the serving surface
 * of the reference (ingest/worlds.go:9-62, renderer/query.go:14-120,
 * renderer/handler.go), Spark-first: a "world" is a (features, refs, items)
 * DataFrame triple; a scenario world is the base with ChangeSets applied
 * non-destructively (MutableOverlayWorld semantics); rendering a whole zoom
 * level is ONE plan (explode tile cover -> per-tile cap -> encode per tile),
 * while a single `/tiles/{z}/{x}/{y}.mvt` request renders only its own tile:
 * one Spark job that keeps the features whose tile cover holds the tile,
 * capped by feature id, encoded on the driver.
 */
object Renderers {

  case class WorldId(ftype: String, ns: String, value: Long)

  /** DefaultWorldFeatureID (ingest/worlds.go:9-13). */
  val DefaultWorldId: WorldId = WorldId("collection", "diagonal.works/world", 0L)

  /** The world a request names by feature-id token ("/collection/ns/id");
    * absent or unparsable means the default world. */
  def worldId(token: Option[String]): WorldId =
    token.flatMap(Shell.parseFeatureIdToken)
      .map { case (t, ns, v) => WorldId(t, ns, v) }.getOrElse(DefaultWorldId)

  /** A world and what requests derive from it once: its [[Shell.Areas]],
    * whose index the first `containing-areas` request builds. A changed
    * world is a new World, so it derives its own. */
  case class World(features: DataFrame, refs: DataFrame, items: DataFrame) {
    val areas = new Shell.Areas(features)

    /** The evaluation environment of a request: the world's features, its
      * references table and its areas; no street network is derived. */
    def env: Shell.Env = Shell.Env(features, None, refs = Some(refs), areas = Some(areas))
  }

  /**
   * MutableWorlds (ingest/worlds.go:22-62): FindOrCreateWorld lazily builds
   * a mutable overlay of the base per id; `add-world-with-change`
   * (api/functions/change.go:213-218) lands a ChangeSet under its id.
   * DataFrames are immutable plans, so "mutable overlay" = replacing the
   * stored triple with the change-applied plans — the base is never touched
   * and every world stays independently queryable.
   */
  class WorldRegistry(spark: SparkSession, base: World) {
    private val worlds =
      scala.collection.concurrent.TrieMap[WorldId, World]()

    def findOrCreate(id: WorldId): World = {
      val key = if (valid(id)) id else DefaultWorldId
      worlds.getOrElseUpdate(key, base)
    }

    /** ListWorlds RPC: the ids materialised in this registry
      * (grpc/service.go:91-100). */
    def listWorlds: Seq[WorldId] = worlds.keys.toSeq

    /** DeleteWorld RPC: drop a world from the registry
      * (grpc/service.go:102-105); a later findOrCreate re-derives it. */
    def deleteWorld(id: WorldId): Unit = worlds.remove(id).foreach(release)

    /** Unpersist the area index of a world no id names any more. The base,
      * and a World value another id still holds, keep theirs. Unpersist,
      * not destroy, so a request already running on the world finishes. */
    private def release(w: World): Unit =
      if ((w ne base) && !worlds.values.exists(_ eq w)) w.areas.unpersist()

    private def valid(id: WorldId): Boolean = id.ns.nonEmpty && id.value >= 0

    /** add-world-with-change: apply the ChangeSet to the world named `id`
      * (creating it from base if absent) and store the result. */
    def applyChange(id: WorldId, change: Changes.ChangeSet): WorldId = {
      val w = findOrCreate(id)
      val (features, refs, newItems) = Changes.apply(spark, w.features, w.refs, change)
      val items = if (newItems.isEmpty) w.items
        else w.items.unionByName(newItems, allowMissingColumns = true)
      val key = if (valid(id)) id else DefaultWorldId
      worlds.put(key, World(features, refs, items)).foreach(release)
      id
    }
  }

  /** QueryRenderRules (renderer/query.go:22-34): the first matching '#' key
    * becomes a tile attribute with the '#' stripped. */
  val queryRenderKeys: Seq[String] = Seq(
    "#amenity", "#boundary", "#highway", "#landuse", "#natural", "#place",
    "#railway", "#water", "#waterway")

  /** QueryRendererMaxFeaturesPerTile (renderer/query.go:36). */
  val MaxFeaturesPerTile = 10000

  private def ftypeOrdinal: Column = expr(
    "CASE id.ftype WHEN 'point' THEN 0 WHEN 'path' THEN 1 WHEN 'area' THEN 2 " +
      "WHEN 'relation' THEN 3 WHEN 'collection' THEN 4 ELSE 5 END")

  private val tileFid = udf((o: Long, ns: String, v: Long) =>
    graft.functions.TileIds.tileFeatureId(o, ns, v))

  /** The query-rule tile attributes: first matching rule key (stripped of
    * '#') plus the feature's name label (RenderRule{Label: true} ≙
    * FillFeaturesFromFeature). */
  private def queryTags(valueCol: Option[Column]): Column = {
    val ruleTag = queryRenderKeys.foldRight(map(): Column) { (k, rest) =>
      when(col("tags").getItem(k).isNotNull,
        map(lit(k.stripPrefix("#")), col("tags").getItem(k))).otherwise(rest)
    }
    val label = when(coalesce(col("tags").getItem("name"), col("tags").getItem("@name")).isNotNull,
      map(lit("name"), coalesce(col("tags").getItem("name"), col("tags").getItem("@name"))))
      .otherwise(map())
    val v = valueCol.map(c =>
      when(c.isNotNull, map(lit("v"), c.cast("string"))).otherwise(map()))
      .getOrElse(map())
    map_concat(ruleTag, label, v)
  }

  /**
   * QueryRenderer (renderer/query.go:48-120): evaluate a shell query
   * expression over a named world, render matching features into MVT tiles
   * at `zoom` under a single "query" layer, capped at 10k features per tile
   * (deterministically by feature id, like the n-counter break at :112-114).
   * `valueExpr` is the optional per-feature function (args.V) — compiled to
   * a Column, its result lands in the `v` attribute.
   */
  def queryTiles(reg: WorldRegistry, world: WorldId, zoom: Int,
                 queryExpr: String, valueExpr: Option[String] = None): DataFrame =
    renderCapped(queryFeatures(reg, world, queryExpr, valueExpr), zoom, "query")

  /** The features a tile query matches, with their tile feature id `__fid`
    * and attribute map `__rtags`. */
  private def queryFeatures(reg: WorldRegistry, world: WorldId,
                            queryExpr: String, valueExpr: Option[String]): DataFrame = {
    val w = reg.findOrCreate(world).features
    val q = Shell.run(w, queryExpr) match {
      case q: Query => q
      case other => throw Shell.ShellException(s"expected a Query, found $other")
    }
    val vCol = valueExpr.map(e => Shell.featureFn(w, e))
    QueryPlanner.find(w, q)
      .withColumn("__fid", tileFid(ftypeOrdinal, col("id.ns"), col("id.value")))
      .withColumn("__rtags", queryTags(vCol))
  }

  /** One tile of the query layer — the `/tiles/{z}/{x}/{y}.mvt` request path
    * (renderer/handler.go), rendered alone like b6's tile server, which
    * searches the query AND `MightIntersect(tile.RectBound())`
    * (renderer/renderer.go:226-233). Keeps the matched features whose tile
    * cover at `z` holds this tile, takes the first `MaxFeaturesPerTile` by
    * feature id in one Spark job, and encodes them on the driver: the same
    * features in the same order as this tile's row of [[queryTiles]], so the
    * same bytes. Empty (no features, or no such tile) is no bytes. */
  def queryTile(reg: WorldRegistry, world: WorldId, z: Int, x: Long, y: Long,
                queryExpr: String, valueExpr: Option[String] = None): Array[Byte] = {
    val features = queryFeatures(reg, world, queryExpr, valueExpr)
    if (z < 0 || z > graft.core.Cells.MaxLevel || x < 0 || y < 0 || x >= (1L << z) || y >= (1L << z))
      return Array.emptyByteArray
    graft.functions.CellExprs.install(features.sparkSession)
    val tile = graft.core.GeoOps.tileId(z, x, y)
    val rows = features
      .where(graft.functions.CellExprs.tile_covers(col("geom"), z, tile))
      .select(col("__fid"), col("geom"), col("__rtags"))
      .orderBy(col("__fid")).limit(MaxFeaturesPerTile).collect()
    if (rows.isEmpty) Array.emptyByteArray
    else Mvt.encodeTile(z, x, y, rows.toSeq.map(r => Mvt.TileFeature(r.getLong(0), "query",
      r.getAs[Array[Byte]](1), Option(r.getMap[String, String](2)).map(_.toMap).getOrElse(Map.empty))))
  }

  /** Shared tail: explode tile cover, cap per tile by feature id, MVT-encode.
    * The cap happens BEFORE encoding and in TWO stages, so no single task
    * ever sorts an uncapped tile (the reference cap is a streaming counter,
    * renderer/query.go:112-114; a plain per-tile Window funnels the whole
    * world through one task at low zoom): stage 1 ranks (tile, salt) groups —
    * the hot tile spreads over `salts` reducers — and keeps the cap smallest
    * fids of each group, a provable superset of the tile's global top-cap;
    * stage 2 ranks the <= cap x salts survivors per tile. The salt is a
    * deterministic fid hash (stable under task retries, unlike
    * spark_partition_id). */
  private def renderCapped(features: DataFrame, zoom: Int, layer: String): DataFrame = {
    val spark = features.sparkSession
    graft.functions.CellExprs.install(spark)
    val salts = spark.sessionState.conf.numShufflePartitions
    val covered = features
      .withColumn("__tile", explode(graft.functions.CellExprs.tile_cover(col("geom"), lit(zoom))))
      .withColumn("__salt", pmod(hash(col("__fid")), lit(salts)))
    val wLocal = Window.partitionBy("__tile", "__salt").orderBy(col("__fid"))
    val pre = covered
      .withColumn("__lrank", row_number().over(wLocal))
      .where(col("__lrank") <= MaxFeaturesPerTile)
    val wTile = Window.partitionBy("__tile").orderBy(col("__fid"))
    val capped = pre
      .withColumn("__rank", row_number().over(wTile))
      .where(col("__rank") <= MaxFeaturesPerTile)
    Mvt.renderTiles(
      capped.select(col("__tile"), col("__fid").as("fid"), lit(layer).as("layer"),
        col("geom"), col("__rtags").as("tags")),
      zoom, tileCol = Some("__tile"))
  }

  /**
   * `/tiles/{z}/{x}/{y}.mvt` HTTP handler (renderer/handler.go) on the JDK
   * built-in server: ?q= the shell query, ?r= the world id (optional),
   * ?v= the per-feature value expression (optional). An empty tile answers
   * 204. Returns the bound server (port via getAddress).
   */
  def serveTiles(reg: WorldRegistry, port: Int = 0): com.sun.net.httpserver.HttpServer =
    Http.serve(port, "/tiles/" -> { exchange =>
      val (z, x, y, params) = Http.decode {
        val path = exchange.getRequestURI.getPath.stripPrefix("/tiles/").stripSuffix(".mvt")
        val Array(z, x, y) = path.split("/").map(_.toLong)
        (z, x, y, Http.params(exchange))
      }
      val bytes = queryTile(reg, worldId(params.get("r")), z.toInt, x, y,
        params.getOrElse("q", "[#building]"), params.get("v"))
      Http.Reply(if (bytes.isEmpty) 204 else 200,
        "application/vnd.mapbox-vector-tile", bytes)
    })
}
