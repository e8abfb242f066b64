package graft

import graft.query._
import graft.shell.Shell
import graft.shell.Shell._
import graft.sources.OsmWorld

/**
 * The shell expression language vs the reference's own corpus: parse shapes
 * from api/shell_test.go:30-957, simplify behavior from :1081-1547, the
 * unparse round-trip list from :1549-1569, and evaluation against the
 * granary-square golden counts (python/diagonal_b6/b6_test.py:26-33).
 */
class ShellSpec extends SparkSuite {

  // ---- parse shapes (shell_test.go TestParseExpression) ----------------------

  test("literals: int, float, latlng, tags, quoted tag, string") {
    assert(parse("42") == IntE(42))
    assert(parse("42.0") == FloatE(42.0))
    assert(parse("19.4008, -99.1663") == LatLngE(19.4008, -99.1663))
    assert(parse("#highway=path") == TagE("#highway", "path"))
    assert(parse("#nhs:hospital=yes") == TagE("#nhs:hospital", "yes"))
    assert(parse("name=\"The Lighterman\"") == TagE("name", "The Lighterman"))
    assert(parse("\"a string\"") == StringE("a string"))
  }

  test("feature ids: aliases /n/ /w/ /a/ /r/ and the long form") {
    assert(parse("/n/6082053666") == FeatureIdE("point", "openstreetmap.org/node", 6082053666L))
    assert(parse("/w/140633010") == FeatureIdE("path", "openstreetmap.org/way", 140633010L))
    assert(parse("/a/427900370") == FeatureIdE("area", "openstreetmap.org/way", 427900370L))
    assert(parse("/r/11139964") == FeatureIdE("relation", "openstreetmap.org/relation", 11139964L))
    assert(parse("/area/openstreetmap.org/way/115912092") ==
      FeatureIdE("area", "openstreetmap.org/way", 115912092L))
    assert(parse("/collection/test/0") == FeatureIdE("collection", "test", 0L))
  }

  test("SimpleCall: find-feature /n/6082053666") {
    assert(parse("find-feature /n/6082053666") ==
      CallE(SymbolE("find-feature"),
        List(FeatureIdE("point", "openstreetmap.org/node", 6082053666L))))
  }

  test("Pipeline2Stages: find \"highway=primary\" | highlight") {
    assert(parse("find \"highway=primary\" | highlight") ==
      CallE(SymbolE("highlight"),
        List(CallE(SymbolE("find"), List(StringE("highway=primary")))), pipelined = true))
  }

  test("Pipeline3Stages: all-areas | filter | highlight") {
    assert(parse("all-areas | filter | highlight") ==
      CallE(SymbolE("highlight"), List(
        CallE(SymbolE("filter"), List(CallE(SymbolE("all-areas"), Nil)), pipelined = true)),
        pipelined = true))
  }

  test("query literals: [#building], [#building=yes & [#shop=supermarket | #shop=convenience]]") {
    assert(parse("find [#building]") ==
      CallE(SymbolE("find"), List(QueryE(Keyed("#building")))))
    assert(parse("find [#building=yes & [#shop=supermarket | #shop=convenience]]") ==
      CallE(SymbolE("find"), List(QueryE(
        And(Seq(Tagged("#building", "yes"),
          Or(Seq(Tagged("#shop", "supermarket"), Tagged("#shop", "convenience")))))))))
  }

  test("group: find (intersecting 19.4008, -99.1663)") {
    assert(parse("find (intersecting 19.4008, -99.1663)") ==
      CallE(SymbolE("find"),
        List(CallE(SymbolE("intersecting"), List(LatLngE(19.4008, -99.1663))))))
  }

  test("lambdas: explicit arg, no-arg, eta-reducible") {
    assert(parse("all-areas | {a -> highlight a}") ==
      CallE(LambdaE(List("a"), CallE(SymbolE("highlight"), List(SymbolE("a")))),
        List(CallE(SymbolE("all-areas"), Nil)), pipelined = true))
    assert(parse("with-change {-> building-access}") ==
      CallE(SymbolE("with-change"),
        List(LambdaE(Nil, CallE(SymbolE("building-access"), Nil)))))
    assert(parse("map {f -> tag f \"name\"} (all-areas)") ==
      CallE(SymbolE("map"), List(
        LambdaE(List("f"), CallE(SymbolE("tag"), List(SymbolE("f"), StringE("name")))),
        CallE(SymbolE("all-areas"), Nil))))
    assert(parse("map (tag \"name\") (all-areas)") ==
      CallE(SymbolE("map"), List(
        CallE(SymbolE("tag"), List(StringE("name"))),
        CallE(SymbolE("all-areas"), Nil))))
  }

  test("collections: implicit int keys and key: value items") {
    assert(parse("{\"motorway\", \"primary\"}") ==
      CallE(SymbolE("collection"), List(
        CallE(SymbolE("pair"), List(IntE(0), StringE("motorway"))),
        CallE(SymbolE("pair"), List(IntE(1), StringE("primary"))))))
    assert(parse("{\"motorway\": 36.0, \"primary\": 32.0}") ==
      CallE(SymbolE("collection"), List(
        CallE(SymbolE("pair"), List(StringE("motorway"), FloatE(36.0))),
        CallE(SymbolE("pair"), List(StringE("primary"), FloatE(32.0))))))
  }

  // ---- simplify (shell_test.go TestSimplify*) --------------------------------

  test("simplify: and/or calls over query literals fold into one query") {
    val e = simplify(parse("find (and [#building=yes] (or [#amenity=restaurant] [#amenity=cafe]))"))
    assert(e == CallE(SymbolE("find"), List(QueryE(
      And(Seq(Tagged("#building", "yes"),
        Or(Seq(Tagged("#amenity", "restaurant"), Tagged("#amenity", "cafe")))))))))
  }

  test("simplify: typed/keyed/tagged calls fold to query literals") {
    assert(simplify(parse("find (typed \"area\" (keyed \"#building\"))")) ==
      CallE(SymbolE("find"), List(QueryE(TypedQ("area", Keyed("#building"))))))
    assert(simplify(parse("find (tagged \"#building\" \"yes\")")) ==
      CallE(SymbolE("find"), List(QueryE(Tagged("#building", "yes")))))
  }

  test("simplify: no-arg call of an n-ary function collapses to the symbol") {
    // 'all-areas | filter | highlight': bare 'filter' (arity 2) keeps only
    // the pipelined arg -> stays a call; a truly-bare call like 'count'
    // applied to nothing collapses
    assert(simplify(parse("find")) == SymbolE("find"))
  }

  test("simplify: lambda eta-reduction {a -> highlight a} == highlight") {
    assert(simplify(parse("{a -> highlight a}")) == SymbolE("highlight"))
  }

  test("simplify: nested And/Or queries flatten") {
    assert(simplify(parse("[#a=x & [#b=y & [#c=z]]]")) match {
      case QueryE(And(qs)) => qs.length == 3
      case _ => false
    })
  }

  // ---- unparse round trip (shell_test.go TestUnparseExpression) --------------

  test("unparse round-trips the reference's corpus subset") {
    val exprs = Seq(
      "42",
      "/w/140633010",
      "[#amenity=cafe]",
      "[#amenity=cafe | #amenity=restaurant]",
      "area (find-feature /a/427900370)",
      "find-feature /a/427900370 | area",
      "find [#building] | filter {u -> gt (area u) 100} | count")
    for (s <- exprs) {
      assert(unparse(parse(s)) == s, s"round trip of $s gave ${unparse(parse(s))}")
      // and the round-tripped text parses to the identical AST
      assert(parse(unparse(parse(s))) == parse(s))
    }
  }

  // ---- evaluation on the granary-square golden world -------------------------

  lazy val world = OsmWorld.features(spark, RefData("granary-square.osm.pbf")).cache()

  test("eval: find [#amenity=bicycle_parking] | count == 11 (golden)") {
    assert(Shell.run(world, "find [#amenity=bicycle_parking] | count") == 11L)
  }

  test("eval: all-areas | filter {b -> b6-keyed b} via query == 13 buildings (golden)") {
    assert(Shell.run(world, "find-areas [#building] | count") == 13L)
    assert(Shell.run(world, "find (typed \"path\" (keyed \"#highway\")) | count") == 117L)
    assert(Shell.run(world, "find-areas [#highway] | count") == 5L)
  }

  test("eval: string query form and pipeline filter agree with the Query ADT") {
    val direct = QueryPlanner.find(world, Tagged("#amenity", "bicycle_parking")).count()
    assert(Shell.run(world, "find \"#amenity=bicycle_parking\" | count") == direct)
    val viaFilter = Shell.run(world,
      "find [#amenity] | filter {f -> matches f [#amenity=bicycle_parking]} | count")
    assert(viaFilter == direct)
  }

  test("eval: intersecting-cap compiles to the cap query (golden bench query shape)") {
    val direct = QueryPlanner.find(world,
      And(Seq(Keyed("#building"), IntersectsCap(51.5353, -0.1258, 250.0)))).count()
    val shell = Shell.run(world,
      "find (and [#building] (intersecting-cap 51.5353, -0.1258 250.0)) | count")
    assert(shell == direct && direct.asInstanceOf[Long] > 0)
  }

  test("eval: map compiles the lambda to a Column (names of named areas)") {
    val df = Shell.runDf(world, "all-areas | map {f -> tag f \"name\"}")
    assert(df.columns.contains("value"))
    val names = df.where(org.apache.spark.sql.functions.col("value").isNotNull)
      .select("value").collect().map(_.getString(0)).toSet
    assert(names.nonEmpty)
  }

  test("eval: take and highlight preserve the collection") {
    assert(Shell.run(world, "find [#highway] | take 7 | count") == 7L)
    assert(Shell.run(world, "find [#building] | highlight | count") ==
      Shell.run(world, "find [#building] | count"))
  }

  test("eval: count-values/histogram/to-geojson over mapped collections") {
    val cv = Shell.runDf(world,
      "find [#amenity] | map {f -> tag f \"#amenity\"} | count-values")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cv("bicycle_parking") == 11L) // golden count via the shell
    val hist = Shell.runDf(world,
      "find [#amenity] | map {f -> tag f \"#amenity\"} | histogram")
    assert(hist.columns.contains("bucket") && hist.count() > 0)
    val gj = Shell.run(world,
      "find-areas [#building] | take 2 | to-geojson-collection").asInstanceOf[String]
    assert(gj.startsWith("""{"type":"FeatureCollection""""))
    assert(gj.contains("\"Polygon\""))
  }

  test("eval: accessible-all over the world-derived street network equals Graph.reachable") {
    import spark.implicits._
    val network = OsmWorld.networkEdges(spark,
      RefData("granary-square.osm.pbf")).cache()
    val netNodes = network.select("src").as[Long].collect().toSet
    // pick a tagged-point query whose features are network vertices
    val candidates = Seq("#highway=crossing", "#barrier=gate", "#highway=bus_stop",
      "#amenity=bicycle_parking")
    val chosen = candidates.find { t =>
      val Array(k, v) = t.split("=")
      QueryPlanner.find(world, TypedQ("point", Tagged(k, v)))
        .select("id.value").as[Long].collect().exists(netNodes.contains)
    }
    assert(chosen.nonEmpty, "no tagged network-vertex features in granary?")
    val Array(k, v) = chosen.get.split("=")
    val viaShell = Shell.runDf(world, network,
      s"""find (typed "point" (tagged "$k" "$v")) | accessible-all 300.0""")
      .select("origin", "node").as[(Long, Long)].collect().toSet
    val origins = QueryPlanner.find(world, TypedQ("point", Tagged(k, v)))
      .select(org.apache.spark.sql.functions.col("id.value").as("origin"))
    val direct = graft.operators.Graph.reachable(network, origins, 300.0)
      .select("origin", "node").as[(Long, Long)].collect().toSet
    assert(viaShell == direct && direct.nonEmpty, s"shell=${viaShell.size} direct=${direct.size}")
  }

  test("eval: scalar add/divide follow b6 int semantics") {
    assert(Shell.run(world, "add 2 3") == 5L)
    assert(Shell.run(world, "divide 7 2") == 3L) // int/int = int (math.go:16)
    assert(Shell.run(world, "divide 7.0 2") == 3.5)
  }

  // ---- round-4 registry widening (functions.go:22-178 names) -----------------

  import org.apache.spark.sql.functions.{col => c_}

  test("eval: ll / distance-meters / s2-center are pure geometry values") {
    assert(Shell.run(world, "ll 51.5353 -0.1258") == LatLngE(51.5353, -0.1258))
    assert(Shell.run(world, "distance-meters (ll 51.5353 -0.1258) (ll 51.5363 -0.1268)") ==
      graft.core.GeoOps.haversineMeters(51.5353, -0.1258, 51.5363, -0.1268))
    val cell = graft.core.Cells.cellOf(51.5353, -0.1258, 12)
    assert(Shell.run(world, s"s2-center $cell") ==
      LatLngE(graft.core.Cells.centerLat(cell), graft.core.Cells.centerLng(cell)))
  }

  test("eval: rectangle-polygon | area and cap-polygon | to-geojson") {
    val a = Shell.run(world,
      "rectangle-polygon (ll 51.53 -0.13) (ll 51.54 -0.12) | area").asInstanceOf[Double]
    assert(a > 0)
    val gj = Shell.run(world,
      "cap-polygon (ll 51.5353 -0.1258) 100.0 | to-geojson").asInstanceOf[String]
    assert(gj.startsWith("""{"type":"Feature"""))
  }

  test("eval: centroid / sample-points / snap-area-edges / s2-covering / s2-grid over areas") {
    val cen = Shell.runDf(world, "find-areas [#building] | centroid")
    assert(cen.count() == 13L && cen.columns.contains("c_lat"))
    assert(Shell.run(world, "find-areas [#building] | sample-points 10.0 | count")
      .asInstanceOf[Long] > 0L)
    assert(Shell.run(world, "find-areas [#building] | snap-area-edges 5.0 | count") == 13L)
    assert(Shell.run(world, "find-areas [#building] | s2-covering 14 | count")
      .asInstanceOf[Long] >= 13L)
    assert(Shell.run(world, "find [#amenity] | s2-grid 10 | count").asInstanceOf[Long] > 0L)
  }

  test("eval: convex-hull folds partial hulls; interpolate walks the geometry") {
    val hull = Shell.run(world, "find-areas [#building] | convex-hull")
      .asInstanceOf[org.locationtech.jts.geom.Geometry]
    assert(hull.getArea > 0)
    val ip = Shell.runDf(world, "find-areas [#building] | interpolate 0.5")
    assert(ip.count() == 13L && ip.columns.contains("vlat"))
  }

  test("eval: collection math — sum, percentiles, count-valid-ids/keys, get-int") {
    val direct = world.where(c_("tags").getItem("#amenity") === "bicycle_parking")
      .select(org.apache.spark.sql.functions.coalesce(
        c_("tags").getItem("capacity").try_cast("long"),
        org.apache.spark.sql.functions.lit(0L)).as("v"))
      .agg(org.apache.spark.sql.functions.sum("v")).head.getLong(0)
    assert(Shell.run(world,
      "find [#amenity=bicycle_parking] | map {f -> get-int f \"capacity\"} | sum") == direct)
    assert(Shell.runDf(world,
      "find [#amenity=bicycle_parking] | map {f -> area f} | percentiles").count() > 0L)
    val withName = world.where(c_("tags").getItem("#amenity").isNotNull &&
      c_("tags").getItem("name").isNotNull).count()
    assert(Shell.run(world,
      "find [#amenity] | map {f -> tag f \"name\"} | count-valid-ids") == withName)
    assert(Shell.runDf(world,
      "find [#amenity] | map {f -> tag f \"name\"} | count-valid-keys").count() ==
      Shell.run(world, "find [#amenity] | count"))
  }

  test("eval: join-missing unions the missing keys; flatten explodes array values") {
    val n = Shell.run(world,
      "find [#building] | join-missing (find [#amenity]) | count").asInstanceOf[Long]
    val buildings = Shell.run(world, "find [#building] | count").asInstanceOf[Long]
    assert(n >= buildings)
    assert(Shell.run(world, "pair 1 2 | first") == 1L)
    assert(Shell.run(world, "pair 1 2 | second") == 2L)
    assert(Shell.run(world, "add-ints 2 3") == 5L)
    assert(Shell.run(world, "divide-int 7 2") == 3L)
    assert(Shell.run(world, "clamp 10 0 5") == 5L)
  }

  test("eval: type-point/type-path/type-area queries and all/is-valid") {
    val direct = QueryPlanner.find(world, TypedQ("point", Keyed("#amenity"))).count()
    assert(Shell.run(world, "find (type-point (keyed \"#amenity\")) | count") == direct)
    assert(Shell.run(world, "find (type-area (keyed \"#building\")) | count") == 13L)
    assert(Shell.run(world, "is-valid /n/6082053666") == true)
    assert(Shell.run(world, "find (all) | count") == world.count())
  }

  test("eval: sightline over #building occluders returns a visibility area") {
    val df = Shell.runDf(world, "sightline (ll 51.5353 -0.1258) 200.0")
    val row = df.head
    assert(df.count() == 1L && row.getAs[Double]("area_m2") > 0)
  }

  test("eval: graph registry — reachable-area, paths-to-reach, closest-distance, degree, connect-to-network") {
    import spark.implicits._
    val (nodes, edges) = graft.operators.Graph.syntheticGrid(spark, 12)
    // a grid world whose features sit on the grid nodes
    val gridWorld = nodes.select(
      org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit("point").as("ftype"),
        org.apache.spark.sql.functions.lit("graft/grid").as("ns"),
        c_("node_id").as("value")).as("id"),
      org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("#grid"),
        org.apache.spark.sql.functions.lit("1")).as("tags"),
      c_("lat"), c_("lng"))
    val origins2 = gridWorld.where(c_("id.value").isin(0L, 71L))
    def run(e: String) = Shell.run(origins2, edges, nodes, e)

    val ra = run("find [#grid] | reachable-area 700.0").asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(ra.count() == 2L && ra.collect().forall(_.getAs[Double]("area_m2") > 0))

    val ptr = run("find [#grid] | paths-to-reach 900.0").asInstanceOf[org.apache.spark.sql.DataFrame]
    val direct = graft.operators.Graph.pathsToReach(edges, Seq(0L, 71L).toDF("origin"), 900.0)
    assert(ptr.collect().toSet == direct.collect().toSet)

    val cd = Shell.run(origins2.where(c_("id.value") === 0L), edges, nodes,
      "find [#grid] | closest-distance (find [#grid]) 1200.0")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(cd.columns.toSeq == Seq("origin", "dist_m"))

    val deg = run("find [#grid] | degree").asInstanceOf[org.apache.spark.sql.DataFrame]
    val directDeg = edges.groupBy(c_("src")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(deg.collect().forall(r =>
      r.getAs[Long]("degree") == directDeeOrZero(directDeg, r.getAs[Long]("node_id"))))

    val connected = run("find [#grid] | connect-to-network")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    // every feature IS a node -> nearest node at distance 0; the world here
    // holds 2 features, so the network grows by 2 access edges x 2 directions
    assert(connected.count() == edges.count() + 2 * origins2.count())
  }

  private def directDeeOrZero(m: Map[Long, Long], k: Long): Long = m.getOrElse(k, 0L)

  test("registry closure: EVERY functions.go:22-178 name is shell-callable") {
    // the reference's complete FunctionSymbols table, verbatim
    val reference = Seq(
      "map", "map-items", "map-parallel", "pair", "first", "second",
      "collection", "count-values", "count-keys", "count-valid-keys", "filter",
      "flatten", "sum-by-key", "take", "top", "histogram", "histogram-with-id",
      "histogram-swatch", "histogram-swatch-with-id", "join-missing",
      "list-feature", "find-feature", "find-area", "find-relation",
      "find-collection", "find", "find-areas", "find-relations",
      "containing-areas", "intersecting", "intersecting-cap", "tagged",
      "keyed", "typed", "and", "or", "all", "is-valid", "type-point",
      "type-path", "type-area", "within", "within-cap", "tag", "value",
      "int-value", "float-value", "get", "get-string", "get-int", "get-float",
      "all-tags", "matches", "count-tag-value", "degree", "length", "points",
      "point-features", "point-paths", "sample-points",
      "sample-points-along-paths", "join", "ordered-join", "evaluate-feature",
      "call", "get-centroid", "s2-points", "s2-covering", "s2-grid",
      "s2-center", "s2-polygon", "gt", "divide", "divide-int", "to-str",
      "add", "add-ints", "clamp", "percentiles", "count", "count-valid-ids",
      "sum", "reachable-area", "reachable", "accessible-all",
      "accessible-routes", "filter-accessible", "closest", "closest-distance",
      "paths-to-reach", "connect", "connect-to-network",
      "connect-to-network-all", "building-access", "ll", "collect-areas",
      "distance-meters", "distance-to-point-meters", "interpolate", "area",
      "rectangle-polygon", "cap-polygon", "centroid", "sightline",
      "entrance-approach", "snap-area-edges", "convex-hull", "tile-ids",
      "tile-ids-hex", "tile-paths", "parse-geojson", "parse-geojson-file",
      "to-geojson", "to-geojson-collection", "import-geojson",
      "import-geojson-file", "geojson-areas", "apply-to-point",
      "apply-to-path", "apply-to-area", "map-geometries", "id-to-relation-id",
      "add-tag", "add-tags", "remove-tag", "remove-tags", "add-point",
      "add-relation", "add-collection", "add-expression", "merge-changes",
      "with-change", "add-world-with-change", "changes-to-file",
      "changes-from-file", "materialise", "materialise-map", "debug-tokens",
      "debug-all-query", "export-world")
    assert(reference.length == 140)
    val registered = Shell.functionManifest.map(_._1).toSet
    val missing = reference.filterNot(n => registered.contains(n) ||
      n == "area" || n == "length" || n == "count" || n == "map" || n == "filter")
    // area/length/count/map/filter ARE registered; the filterNot guard is
    // only belt-and-braces for set hygiene
    assert(missing.isEmpty, s"names missing from the shell registry: $missing")
  }

  test("eval: full-registry sample — collections, features, tiles, geojson, debug") {
    // map-items == map; all-tags explodes; tile-ids matches the FNV id
    assert(Shell.runDf(world, "find [#amenity] | map-items {f -> tag f \"#amenity\"} | count-values")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap.apply("bicycle_parking") == 11L)
    val tags = Shell.runDf(world, "find [#amenity=bicycle_parking] | all-tags")
    assert(tags.where(org.apache.spark.sql.functions.col("key") === "#amenity").count() == 11L)
    val fidRow = Shell.runDf(world, "find [#amenity=bicycle_parking] | take 1 | tile-ids").head
    val id = fidRow.getStruct(0)
    assert(fidRow.getLong(1) == graft.functions.TileIds.tileFeatureId(
      0L, id.getString(1), id.getLong(2)))
    assert(Shell.run(world, "find-areas [#building] | tile-paths 16")
      .asInstanceOf[org.apache.spark.sql.DataFrame].count() > 0)
    // within/within-cap build queries from geometry values
    val n = Shell.run(world,
      "find (within-cap (ll 51.5353 -0.1258) 250.0) | count").asInstanceOf[Long]
    assert(n > 0)
    assert(Shell.run(world,
      "find (within (rectangle-polygon (ll 51.53 -0.13) (ll 51.54 -0.12))) | count")
      .asInstanceOf[Long] > 0)
    // debug plane
    assert(Shell.run(world, "find [#building] | debug-tokens")
      .asInstanceOf[org.apache.spark.sql.DataFrame].count() > 0)
    assert(Shell.run(world, "debug-all-query \"#amenity=bicycle_parking\"")
      .asInstanceOf[org.apache.spark.sql.DataFrame].count() == 11L)
    // count-tag-value over a real feature
    val b = world.where(org.apache.spark.sql.functions.col("tags").getItem("#building").isNotNull)
      .select("id.ftype", "id.ns", "id.value").head
    val ctv = Shell.run(world,
      s"count-tag-value /${b.getString(0)}/${b.getString(1)}/${b.getLong(2)} \"#building\"")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(ctv.count() == 1L)
    // s2 plane on geometries
    assert(Shell.run(world, "find-areas [#building] | s2-points 14")
      .asInstanceOf[org.apache.spark.sql.DataFrame].count() >= 13L)
    val cell = graft.core.Cells.cellOf(51.5353, -0.1258, 12)
    val poly = Shell.run(world, s"s2-polygon $cell")
      .asInstanceOf[org.locationtech.jts.geom.Geometry]
    assert(poly.getArea > 0)
    // call applies a bare function / partial
    assert(Shell.run(world, "call count (find [#building])") == 13L)
  }

  test("eval: change plane closure — add-tags/remove-tags/add-point/add-expression/id-to-relation-id") {
    val ch = Shell.run(world, "add-tags /a/427900370 {#amenity=test, @note=x}")
      .asInstanceOf[graft.operators.Changes.ChangeSet]
    assert(ch.tagEdits.length == 2)
    val rm = Shell.run(world, "remove-tags /a/427900370 {\"#amenity\", \"@note\"}")
      .asInstanceOf[graft.operators.Changes.ChangeSet]
    assert(rm.tagEdits.length == 2 && rm.tagEdits.forall(_.newValue.isEmpty))
    val ap = Shell.run(world, "add-point (ll 51.5353 -0.1258) /point/graft/new/7")
      .asInstanceOf[graft.operators.Changes.ChangeSet]
    assert(ap.adds.head.ftype == "point" && ap.adds.head.value == 7L)
    val ae = Shell.run(world, "add-expression /expression/graft/e/9 \"find [#building] | count\"")
      .asInstanceOf[graft.operators.Changes.ChangeSet]
    assert(ae.adds.nonEmpty)
    val rel = Shell.run(world, "id-to-relation-id /a/427900370")
      .asInstanceOf[Shell.FeatureIdE]
    assert(rel.ftype == "relation")
    // round trip through files
    val tmp = java.nio.file.Files.createTempDirectory("graft-shell-ch").toString + "/ch"
    Shell.run(world, s"""add-tags /a/427900370 {#amenity=test} | changes-to-file "$tmp"""")
    val back = Shell.run(world, s"""changes-from-file "$tmp"""")
      .asInstanceOf[graft.operators.Changes.ChangeSet]
    assert(back.tagEdits.length == 1 && back.tagEdits.head.key == "#amenity")
  }

  test("eval: histogram-with-id produces the collection change; graph closure names") {
    import spark.implicits._
    val ch = Shell.run(world,
      "find [#amenity] | map {f -> area f} | histogram-with-id /collection/graft/h/5")
      .asInstanceOf[graft.operators.Changes.ChangeSet]
    assert(ch.adds.head.tags.get("b6").contains("histogram"))
    val sw = Shell.run(world,
      "find [#amenity] | map {f -> area f} | histogram-swatch")
      .asInstanceOf[graft.operators.Changes.ChangeSet]
    assert(sw.adds.head.tags.get("b6:histogram").contains("swatch"))
    // graph closure: reachable == accessible-all; accessible-routes carries
    // parents; connect adds one undirected edge; building-access joins tags
    val (nodes, edges) = graft.operators.Graph.syntheticGrid(spark, 12)
    val gridWorld = nodes.select(
      org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.lit("point").as("ftype"),
        org.apache.spark.sql.functions.lit("graft/grid").as("ns"),
        c_("node_id").as("value")).as("id"),
      org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("#grid"), org.apache.spark.sql.functions.lit("1"),
        org.apache.spark.sql.functions.lit("#building"),
        org.apache.spark.sql.functions.when(c_("node_id") < 5, "yes")).as("tags"),
      c_("lat"), c_("lng"))
    val origins = gridWorld.where(c_("id.value") === 0L)
    def runG(e: String) = Shell.run(Shell.Env(origins, Some(edges), Some(nodes)), e)
    val reach = runG("find [#grid] | reachable 700.0").asInstanceOf[org.apache.spark.sql.DataFrame]
    val acc = runG("find [#grid] | accessible-all 700.0").asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(reach.collect().toSet == acc.collect().toSet)
    val routes = runG("find [#grid] | accessible-routes 700.0")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(routes.columns.contains("parent"))
    val conn = runG("connect /point/graft/grid/0 /point/graft/grid/143 10.0")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    assert(conn.count() == edges.count() + 2)
    val ba = Shell.run(Shell.Env(gridWorld.where(c_("id.value") === 0L), Some(edges), Some(nodes)),
      "find [#grid] | building-access 700.0").asInstanceOf[org.apache.spark.sql.DataFrame]
    // building-access joins the WORLD features; env world here only has id 0
    assert(ba.columns.toSeq == Seq("origin", "node", "dist_m"))
  }

  test("eval: refs-plane registry — point-paths / point-features over Env.refs") {
    import spark.implicits._
    val refsWorld = Seq(
      (1L, "point"), (2L, "point"), (3L, "point")
    ).toDF("v", "t").select(
      org.apache.spark.sql.functions.struct(
        c_("t").as("ftype"),
        org.apache.spark.sql.functions.lit("graft/refs").as("ns"),
        c_("v").as("value")).as("id"),
      org.apache.spark.sql.functions.map(
        org.apache.spark.sql.functions.lit("#stop"),
        org.apache.spark.sql.functions.lit("1")).as("tags"))
    val refs = Seq(
      ("path", 100L, "point", 1L, "", 0),
      ("path", 101L, "point", 1L, "", 0),
      ("relation", 200L, "point", 2L, "stop", 0)
    ).toDF("from_type", "from_id", "to_type", "to_id", "role", "pos")
    val env = Shell.Env(refsWorld, None, None, Some(refs))
    val pp = Shell.run(env, "find [#stop] | point-paths")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pp == Set((1L, 100L), (1L, 101L)), s"point-paths gave $pp")
    val pf = Shell.run(env, "find [#stop] | point-features")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(pf == Set((1L, "path", 100L), (1L, "path", 101L), (2L, "relation", 200L)))
  }

  test("golden corpus: per-name expressions for the closure tier vs direct oracles") {
    import org.apache.spark.sql.functions.{coalesce, lit, lower, hex}
    // -- scalar plane (math.go) --
    assert(Shell.run(world, "to-str 42") == "42")
    assert(Shell.run(world, "to-str 2.5") == "2.5")
    // gt lives in the lambda (Column) plane, like the reference's filters
    val big = Shell.run(world, "find-areas [#building] | filter {u -> gt (area u) 100.0} | count")
      .asInstanceOf[Long]
    val bigDirect = world.where(c_("tags").getItem("#building").isNotNull)
      .select("geom").collect().count(r => graft.functions.GeoFunctions.areaM2(
        graft.core.GeoOps.fromWkb(r.getAs[Array[Byte]]("geom"))) > 100.0)
    assert(big.toInt == bigDirect && big > 0)
    assert(Shell.run(world, "add 2.0 3.0") == 5.0)
    assert(Shell.run(world, "divide 8 4") == 2L)
    assert(Shell.run(world, "clamp 3 0 5") == 3L)
    assert(Shell.run(world, "add-ints -1 1") == 0L)
    // -- tag value plane (tags.go) --
    assert(Shell.run(world, "int-value (tag \"n\" \"42\")") == 42L)
    assert(Shell.run(world, "float-value (tag \"n\" \"2.5\")") == 2.5)
    assert(Shell.run(world, "tag \"k\" \"v\" | value") == "v")
    // -- get plane over real features (vs the tags map directly) --
    val bNames = Shell.runDf(world, "find [#building] | map {f -> get-string f \"name\"}")
      .select("value").collect().map(_.getString(0)).toSeq.sorted
    val bNamesDirect = world.where(c_("tags").getItem("#building").isNotNull)
      .select(coalesce(c_("tags").getItem("name"), lit("")))
      .collect().map(_.getString(0)).toSeq.sorted
    assert(bNames == bNamesDirect && bNames.exists(_.nonEmpty))
    val caps = Shell.runDf(world,
      "find [#amenity=bicycle_parking] | map {f -> get-float f \"capacity\"}")
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    val capsDirect = world.where(c_("tags").getItem("#amenity") === "bicycle_parking")
      .select(coalesce(c_("tags").getItem("capacity").try_cast("double"), lit(0.0)))
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(caps == capsDirect && caps.sum > 0)
    val gets = Shell.runDf(world, "find [#building] | map {f -> get f \"#building\"}")
      .select("value").collect().map(_.getString(0)).toSet
    assert(gets == world.where(c_("tags").getItem("#building").isNotNull)
      .select(c_("tags").getItem("#building")).collect().map(_.getString(0)).toSet)
    // -- find plane closure --
    assert(Shell.run(world, "all-areas | count") ==
      world.where(c_("id.ftype") === "area").count())
    assert(Shell.run(world, "find-relations (all) | count") ==
      world.where(c_("id.ftype") === "relation").count())
    assert(Shell.run(world, "find (type-path (all)) | count") ==
      world.where(c_("id.ftype") === "path").count())
    // containing-areas == the direct PIP join of the same point collection
    val ca = Shell.run(world, "find (type-point (all)) | containing-areas")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    val caDirect = graft.operators.SpatialJoins.pointInPolygonJoin(
      QueryPlanner.find(world, TypedQ("point", All))
        .select(c_("id.value").as("point_fid"), c_("lat"), c_("lng"), c_("cell16")),
      world.where(c_("id.ftype") === "area" && c_("geom").isNotNull)
        .select(c_("id.value").as("poly_id"), c_("geom"), c_("covering")))
    assert(ca.select("point_fid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      caDirect.select("point_fid", "poly_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(ca.count() > 0)
    // -- geometry closure --
    val d2p = Shell.runDf(world,
      "find-areas [#building] | distance-to-point-meters (ll 51.5353 -0.1258)")
      .select("id.value", "value").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d2pDirect = world.where(c_("tags").getItem("#building").isNotNull)
      .select("id.value", "geom").collect().map { r =>
        r.getLong(0) -> graft.functions.GeoFunctions.distanceToPointMeters(
          graft.core.GeoOps.fromWkb(r.getAs[Array[Byte]]("geom")), 51.5353, -0.1258)
      }.toMap
    assert(d2p == d2pDirect)
    val lens = Shell.runDf(world, "find (type-path (keyed \"#highway\")) | map {f -> length f}")
      .where(c_("value") > 0).count()
    assert(lens > 0)
    val coll = Shell.run(world, "find-areas [#building] | collect-areas")
      .asInstanceOf[org.locationtech.jts.geom.Geometry]
    val hull = Shell.run(world, "find-areas [#building] | convex-hull")
      .asInstanceOf[org.locationtech.jts.geom.Geometry]
    assert(coll.getArea > 0 && hull.getArea >= coll.getArea * 0.99)
    assert(Shell.run(world, "find-areas [#building] | get-centroid")
      .asInstanceOf[org.apache.spark.sql.DataFrame].count() == 13L)
    val spp = Shell.run(world, "find (type-path (keyed \"#highway\")) | sample-points-along-paths 25.0")
      .asInstanceOf[org.apache.spark.sql.DataFrame]
    val sppDirect = graft.operators.Paths.samplePointsAlongPaths(
      QueryPlanner.find(world, TypedQ("path", Keyed("#highway"))), 25.0)
    assert(spp.count() == sppDirect.count() && spp.count() > 0)
    // join / ordered-join fuse two path geometries end-to-end
    val joined = Shell.run(world,
      "join (rectangle-polygon (ll 51.53 -0.13) (ll 51.54 -0.12)) (rectangle-polygon (ll 51.54 -0.12) (ll 51.55 -0.11))")
      .asInstanceOf[org.locationtech.jts.geom.Geometry]
    assert(joined.getNumPoints > 0)
    // -- apply-to-* gate by feature type --
    val apPoint = Shell.runDf(world, "find (all) | apply-to-point {f -> get-string f \"name\"}")
    assert(apPoint.where(c_("id.ftype") =!= "point" && c_("value").isNotNull).count() == 0)
    val apArea = Shell.runDf(world, "find (all) | apply-to-area {f -> get-string f \"name\"}")
    assert(apArea.where(c_("id.ftype") === "area" && c_("value").isNotNull).count() ==
      world.where(c_("id.ftype") === "area").count())
    val apPath = Shell.runDf(world, "find (all) | apply-to-path {f -> get-string f \"name\"}")
    assert(apPath.where(c_("value").isNotNull).count() ==
      world.where(c_("id.ftype") === "path").count())
    // -- tiles --
    val hexRow = Shell.runDf(world, "find [#amenity=bicycle_parking] | take 1 | tile-ids-hex").head
    val hid = hexRow.getStruct(0)
    assert(hexRow.getString(1) == f"${graft.functions.TileIds.tileFeatureId(
      0L, hid.getString(1), hid.getLong(2))}%x")
    // -- geojson plane --
    val gjPoint = """{"type":"FeatureCollection","features":[{"type":"Feature",
      "geometry":{"type":"Point","coordinates":[-0.1258,51.5353]},
      "properties":{"name":"x"}}]}""".replace("\n", "")
    assert(Shell.run(world,
      "parse-geojson \"" + gjPoint.replace("\"", "\\\"") + "\"") != null)
    val imported = Shell.runDf(world,
      "import-geojson \"" + gjPoint.replace("\"", "\\\"") + "\"")
    assert(imported.count() == 1L)
    val gjArea = """{"type":"Feature","geometry":{"type":"Polygon","coordinates":
      [[[-0.13,51.53],[-0.12,51.53],[-0.12,51.54],[-0.13,51.53]]]},"properties":{}}"""
      .replace("\n", "")
    assert(Shell.runDf(world,
      "geojson-areas \"" + gjArea.replace("\"", "\\\"") + "\"").count() == 1L)
    // map-geometries applies a geometry transform to parsed features
    val mg = Shell.run(world,
      "map-geometries \"" + gjArea.replace("\"", "\\\"") + "\" convex-hull")
    assert(mg != null)
    // -- world export --
    val exp = java.nio.file.Files.createTempDirectory("graft-shell-exp").toString + "/w"
    assert(Shell.run(world, s"""export-world "$exp"""") == exp)
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(exp)).count() > 0)
  }

  test("eval: materialise reads back an expression feature's collection (materialise.go:37-80)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{lit, struct}
    val root = java.nio.file.Files.createTempDirectory("graft-shell-mat").toString
    sys.props("graft.materialise.root") = root
    try {
      // a point tagged a and b, and two expression features listing its tags
      val tagsOfPoint = "find-feature /point/graft/mat/1 | all-tags"
      val w = Seq(("point", 1L, Map("a" -> "1", "b" -> "2")),
          ("expression", 2L, Map("b6" -> "expression", "expression" -> tagsOfPoint)),
          ("expression", 3L, Map("b6" -> "expression", "expression" -> tagsOfPoint)))
        .toDF("ftype", "value", "tags")
        .select(struct(c_("ftype"), lit("graft/mat").as("ns"), c_("value")).as("id"), c_("tags"))
      val df = Shell.runDf(w, "materialise /expression/graft/mat/2")
      assert(df.collect().map(_.getString(1)).toSet == Set("a", "b"))
      // materialise-map writes one partition per key; list-feature reads one
      assert(Shell.runDf(w, "materialise-map /expression/graft/mat/3 \"key\"").count() == 2)
      val one = Shell.runDf(w, "list-feature /expression/graft/mat/3 \"key\" \"a\"")
      assert(one.select("value").as[String].collect().toSeq == Seq("1"))
    } finally sys.props.remove("graft.materialise.root")
  }
}
