package graft.shell

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.SpatialJoins
import graft.query._

/**
 * The b6 shell expression language — pipelines, query literals, lambdas,
 * collections, tag/lat-lng/feature-id literals — re-created from the
 * reference grammar (api/shell.y:30-209), lexer (api/shell.go:220-377) and
 * simplifier (api/shell.go:612-824, 866-900), compiled onto this engine's
 * Query ADT and DataFrame operators instead of the reference's bytecode VM
 * (api/vm.go): lambdas over features become Catalyst `Column`s, pipelines
 * become plan construction, so `find [#building] | filter {b -> ...} | count`
 * is ONE declarative Spark plan, not an interpreted loop.
 */
object Shell {

  // ---- AST (≙ b6.Expression variants, b6/expression.go) ----------------------

  sealed trait Expr
  case class SymbolE(name: String) extends Expr
  case class StringE(v: String) extends Expr
  case class IntE(v: Long) extends Expr
  case class FloatE(v: Double) extends Expr
  case class LatLngE(lat: Double, lng: Double) extends Expr
  case class TagE(key: String, value: String) extends Expr
  case class FeatureIdE(ftype: String, ns: String, value: Long) extends Expr
  case class QueryE(q: Query) extends Expr
  case class CallE(fn: Expr, args: List[Expr], pipelined: Boolean = false) extends Expr
  case class LambdaE(args: List[String], body: Expr) extends Expr

  case class ShellException(msg: String) extends RuntimeException(msg)

  // ---- lexer (api/shell.go:220-377) ------------------------------------------

  private sealed trait Tok
  private case class Punct(c: Char) extends Tok
  private case object Arrow extends Tok
  private case class Sym(s: String) extends Tok
  private case class Str(s: String) extends Tok
  private case class TagKey(s: String) extends Tok
  private case class Fid(ftype: String, ns: String, value: Long) extends Tok
  private case class IntT(v: Long) extends Tok
  private case class FloatT(v: Double) extends Tok
  private case object EofT extends Tok

  /** Namespace aliases /n/ /w/ /a/ /r/ (api/shell.go:60-110). */
  private val aliases: Seq[(String, String, String)] = Seq(
    ("/n/", "point", "openstreetmap.org/node"),
    ("/w/", "path", "openstreetmap.org/way"),
    ("/a/", "area", "openstreetmap.org/way"),
    ("/r/", "relation", "openstreetmap.org/relation"))

  private def isSymbolRune(c: Char): Boolean =
    c.isLetter || c.isDigit || c == '-' || c == ':' || c == '_'

  private def lex(s: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else c match {
        case ',' | '(' | ')' | '|' | '>' | '{' | '}' | '[' | ']' | '=' | '&' | ':' =>
          out += Punct(c); i += 1
        case '"' =>
          // backslash escapes inside string constants (\" and \\), so JSON
          // payloads reach the geojson plane as single shell strings
          var j = i + 1
          val sb = new StringBuilder
          var closed = false
          while (j < s.length && !closed) {
            s(j) match {
              case '\\' if j + 1 < s.length => sb.append(s(j + 1)); j += 2
              case '"' => closed = true; j += 1
              case ch => sb.append(ch); j += 1
            }
          }
          if (!closed) throw ShellException("unterminated string constant")
          out += Str(sb.toString); i = j
        case '/' =>
          var j = i
          while (j < s.length && (s(j).isLetterOrDigit || "./-/_".contains(s(j)) || s(j) == '/')) j += 1
          val tok = s.substring(i, j)
          val fid = aliases.find(a => tok.startsWith(a._1)).map { case (p, t, ns) =>
            Fid(t, ns, tok.substring(p.length).toLong)
          }.getOrElse {
            // long form: /type/namespace.../value (api/shell.go:158-170)
            val parts = tok.stripPrefix("/").split('/')
            if (parts.length < 3) throw ShellException(
              s"expected, for example, /point/openstreetmap.org/node/3501612811: $tok")
            Fid(parts.head, parts.slice(1, parts.length - 1).mkString("/"), parts.last.toLong)
          }
          out += fid; i = j
        case '#' | '@' =>
          var j = i + 1
          while (j < s.length && isSymbolRune(s(j))) j += 1
          out += TagKey(s.substring(i, j)); i = j
        case _ if c.isDigit || c == '-' || c == '.' =>
          if (c == '-' && i + 1 < s.length && s(i + 1) == '>') { out += Arrow; i += 2 }
          else {
            var j = i + (if (c == '-') 1 else 0)
            var decimal = false
            while (j < s.length && (s(j).isDigit || (s(j) == '.' && !decimal && { decimal = true; true }))) j += 1
            val tok = s.substring(i, j)
            out += (if (decimal) FloatT(tok.toDouble) else IntT(tok.toLong))
            i = j
          }
        case _ if c.isLetter =>
          var j = i
          while (j < s.length && isSymbolRune(s(j))) j += 1
          out += Sym(s.substring(i, j)); i = j
        case other => throw ShellException(s"bad token ${s.substring(i)}")
      }
    }
    (out += EofT).result()
  }

  // ---- parser (recursive descent over shell.y's productions) ------------------

  private class P(toks: Vector[Tok]) {
    var i = 0
    def peek: Tok = toks(i)
    def peekAt(k: Int): Tok = if (i + k < toks.length) toks(i + k) else EofT
    def next(): Tok = { val t = toks(i); i += 1; t }
    def expect(c: Char): Unit = next() match {
      case Punct(`c`) => ()
      case t => throw ShellException(s"expected '$c', got $t")
    }

    // pipeline: pipeline '|' call | call   (shell.y:36-41)
    def parsePipeline(): Expr = {
      var e = parseCall()
      while (peek == Punct('|')) {
        next()
        val rhs = parseCall()
        // Pipeline = call rhs with lhs prepended (api/shell.go:456-466)
        e = rhs match {
          case CallE(f, args, _) => CallE(f, e :: args, pipelined = true)
          case other => CallE(other, List(e), pipelined = true)
        }
      }
      e
    }

    // call: SYMBOL | SYMBOL args | expression   (shell.y:71-80)
    def parseCall(): Expr = peek match {
      case Sym(_) if peekAt(1) == Punct('=') => parseExpression() // name="..." tag
      case Sym(s) =>
        next()
        val args = List.newBuilder[Expr]
        while (startsArg(peek)) args += parseArg()
        CallE(SymbolE(s), args.result())
      case _ => parseExpression()
    }

    private def startsArg(t: Tok): Boolean = t match {
      case Sym(_) | Str(_) | TagKey(_) | Fid(_, _, _) | IntT(_) | FloatT(_) => true
      case Punct('{') | Punct('(') | Punct('[') => true
      case _ => false
    }

    // arg: SYMBOL | expression   (shell.y:92-94)
    def parseArg(): Expr = peek match {
      case Sym(_) if peekAt(1) == Punct('=') => parseExpression()
      case Sym(s) => next(); SymbolE(s)
      case _ => parseExpression()
    }

    // expression: latlng|tag|lambda|collection|group|query|STRING|FLOAT|INT|FEATURE_ID
    def parseExpression(): Expr = peek match {
      case FloatT(v) =>
        next()
        if (peek == Punct(',') && peekAt(1).isInstanceOf[FloatT]) {
          next(); val FloatT(lng) = next(): @unchecked
          LatLngE(v, lng)
        } else FloatE(v)
      case IntT(v) => next(); IntE(v)
      case Str(v) => next(); StringE(v)
      case Fid(t, ns, v) => next(); FeatureIdE(t, ns, v)
      case TagKey(k) =>
        next(); expect('='); TagE(k, tagValue())
      case Sym(k) if peekAt(1) == Punct('=') =>
        next(); expect('='); TagE(k, tagValue())
      case Punct('(') => next(); val e = parsePipeline(); expect(')'); e
      case Punct('[') => next(); val q = parseQueryExpression(); expect(']'); QueryE(q)
      case Punct('{') => parseBraced()
      case t => throw ShellException(s"unexpected $t")
    }

    private def tagValue(): String = next() match {
      case Sym(s) => s
      case Str(s) => s
      case t => throw ShellException(s"expected tag value, got $t")
    }

    // '{' ... '}' is a lambda iff (optional symbol list then) ARROW follows
    // (shell.y:96-114 vs 116-155)
    private def parseBraced(): Expr = {
      expect('{')
      // lookahead for lambda: SYMBOL (',' SYMBOL)* ARROW  or just ARROW
      var k = 0
      var isLambda = false
      if (peekAt(k) == Arrow) isLambda = true
      else {
        var ok = peekAt(k).isInstanceOf[Sym]
        while (ok && peekAt(k).isInstanceOf[Sym] && peekAt(k + 1) == Punct(',')) k += 2
        if (ok && peekAt(k).isInstanceOf[Sym] && peekAt(k + 1) == Arrow) isLambda = true
      }
      if (isLambda) {
        val params = List.newBuilder[String]
        while (peek != Arrow) next() match {
          case Sym(s) => params += s
          case Punct(',') => ()
          case t => throw ShellException(s"bad lambda arg $t")
        }
        next() // ARROW
        val body = parsePipeline()
        expect('}')
        LambdaE(params.result(), body)
      } else {
        // collection literal -> collection(pair(k, v), ...) with implicit
        // integer keys (api/shell.go:516-566)
        val items = List.newBuilder[Expr]
        var idx = 0
        var done = false
        while (!done) {
          val first = parseCollectionMember()
          val kv = if (peek == Punct(':')) {
            next(); val v = parseCollectionMember()
            CallE(SymbolE("pair"), List(first, v))
          } else {
            val k = IntE(idx)
            CallE(SymbolE("pair"), List(k, first))
          }
          idx += 1
          items += kv
          if (peek == Punct(',')) next() else done = true
        }
        expect('}')
        CallE(SymbolE("collection"), items.result())
      }
    }

    private def parseCollectionMember(): Expr = parseExpression()

    // query_expression with right-recursive & / | (shell.y:169-205); nested
    // And/Or flatten in simplifyQuery like the reference
    def parseQueryExpression(): Query = {
      val left: Query = peek match {
        case Punct('[') => next(); val q = parseQueryExpression(); expect(']'); q
        case _ => parseQueryTag()
      }
      peek match {
        case Punct('&') => next(); And(Seq(left, parseQueryExpression()))
        case Punct('|') => next(); Or(Seq(left, parseQueryExpression()))
        case _ => left
      }
    }

    private def parseQueryTag(): Query = next() match {
      case TagKey(k) =>
        if (peek == Punct('=')) { next(); Tagged(k, tagValue()) } else Keyed(k)
      case Sym(k) =>
        if (peek == Punct('=')) { next(); Tagged(k, tagValue()) } else Keyed(k)
      case t => throw ShellException(s"bad query token $t")
    }
  }

  def parse(expression: String): Expr = {
    val p = new P(lex(expression))
    val e = p.parsePipeline()
    if (p.peek != EofT) throw ShellException(s"trailing input at ${p.peek}")
    e
  }

  // ---- simplify (api/shell.go:612-824) ----------------------------------------

  /** Arg counts for the no-arg-call collapse (FunctionSymbols.ArgCount,
    * names from api/functions/functions.go:22-178). */
  private[shell] val argCounts: Map[String, Int] = Map(
    "find" -> 1, "filter" -> 2, "map" -> 2, "highlight" -> 1, "count" -> 1,
    "take" -> 2, "top" -> 2, "find-feature" -> 1, "find-area" -> 1,
    "find-relation" -> 1, "all-areas" -> 0, "find-areas" -> 1,
    "find-relations" -> 1, "intersecting" -> 1, "intersecting-cap" -> 2,
    "tag" -> 2, "value" -> 1, "get" -> 2, "get-string" -> 2, "add-tag" -> 2,
    "keyed" -> 1, "tagged" -> 2, "and" -> 2, "or" -> 2, "typed" -> 2,
    "count-values" -> 1, "building-access" -> 1, "with-change" -> 1,
    "remove-tag" -> 2, "add-relation" -> 2, "merge-changes" -> 1,
    "count-keys" -> 1, "sum-by-key" -> 1, "histogram" -> 1,
    "to-geojson" -> 1, "to-geojson-collection" -> 1,
    "accessible-all" -> 2, "closest" -> 3, "evaluate-feature" -> 1,
    "collection" -> 1, "pair" -> 2, "area" -> 1, "length" -> 1, "gt" -> 2,
    "add" -> 2, "divide" -> 2, "to-str" -> 1, "matches" -> 2,
    // round-4 registry widening — the next tier of names users type
    "ll" -> 2, "distance-meters" -> 2, "distance-to-point-meters" -> 2,
    "interpolate" -> 2, "sample-points" -> 2, "snap-area-edges" -> 2,
    "flatten" -> 1, "join-missing" -> 2, "percentiles" -> 1,
    "count-valid-keys" -> 1, "count-valid-ids" -> 1, "sum" -> 1,
    "add-ints" -> 2, "divide-int" -> 2, "clamp" -> 3,
    "first" -> 1, "second" -> 1, "get-int" -> 2, "get-float" -> 2,
    "int-value" -> 1, "float-value" -> 1,
    "reachable-area" -> 2, "paths-to-reach" -> 2, "closest-distance" -> 3,
    "degree" -> 1, "connect-to-network" -> 1,
    "s2-grid" -> 2, "s2-covering" -> 2, "s2-center" -> 1,
    "import-geojson" -> 1, "parse-geojson" -> 1, "materialise" -> 1,
    "sightline" -> 2, "rectangle-polygon" -> 2, "cap-polygon" -> 2,
    "centroid" -> 1, "convex-hull" -> 1, "is-valid" -> 1,
    "type-point" -> 1, "type-path" -> 1, "type-area" -> 1, "all" -> 0,
    // full-registry closure — every remaining functions.go name
    "map-items" -> 2, "map-parallel" -> 2, "histogram-with-id" -> 2,
    "histogram-swatch" -> 1, "histogram-swatch-with-id" -> 2,
    "list-feature" -> 3, "find-collection" -> 1, "containing-areas" -> 1,
    "within" -> 1, "within-cap" -> 2, "all-tags" -> 1, "count-tag-value" -> 2,
    "points" -> 1, "point-features" -> 1, "point-paths" -> 1,
    "sample-points-along-paths" -> 2, "join" -> 2, "ordered-join" -> 2,
    "call" -> 1, "get-centroid" -> 1, "s2-points" -> 2, "s2-polygon" -> 1,
    "reachable" -> 2, "accessible-routes" -> 2, "filter-accessible" -> 2,
    "connect" -> 3, "connect-to-network-all" -> 1, "collect-areas" -> 1,
    "entrance-approach" -> 1, "tile-ids" -> 1, "tile-ids-hex" -> 1,
    "tile-paths" -> 2, "parse-geojson-file" -> 1, "import-geojson-file" -> 1,
    "geojson-areas" -> 1, "apply-to-point" -> 2, "apply-to-path" -> 2,
    "apply-to-area" -> 2, "map-geometries" -> 2, "id-to-relation-id" -> 1,
    "add-tags" -> 2, "remove-tags" -> 2, "add-point" -> 2,
    "add-collection" -> 2, "add-expression" -> 2, "changes-to-file" -> 2,
    "changes-from-file" -> 1, "materialise-map" -> 2, "debug-tokens" -> 1,
    "debug-all-query" -> 1, "export-world" -> 1, "add-world-with-change" -> 2)

  /** Machine-readable registry manifest — the `b6-api --functions` analogue
    * (reference Makefile:79-80): every shell-callable name with its arity,
    * for client-stub generation. */
  def functionManifest: Seq[(String, Int)] = argCounts.toSeq.sortBy(_._1)

  /** An `add-world-with-change` result: the evaluation boundary (which owns
    * the worlds registry) applies `change` to the world named by the id. */
  case class WorldChange(ftype: String, ns: String, value: Long,
                         change: graft.operators.Changes.ChangeSet)

  /** A partially-applied builtin — the b6 VM's partial-application semantics
    * (api/vm.go:244-280): later args (typically the pipelined feature) fill
    * the REMAINING positions. `map (tag "name") c` compiles per feature to
    * the name-tag accessor Column. */
  case class Partial(name: String, args: List[Any])

  def simplify(e: Expr): Expr = e match {
    case CallE(fn, args, p) =>
      val call = CallE(simplify(fn), args.map(simplify), p)
      simplifyNoArgCall(call)
        .orElse(simplifyQueryBuildingCall(call))
        .getOrElse(call)
    case LambdaE(params, body) => simplifyLambda(LambdaE(params, simplify(body)))
    case QueryE(q) => QueryE(flattenQuery(q))
    case other => other
  }

  /** Calling an n>0-ary function with no args == the function itself
    * (api/shell.go:707-725). */
  private def simplifyNoArgCall(call: CallE): Option[Expr] = call match {
    case CallE(s @ SymbolE(name), Nil, _) if argCounts.get(name).exists(_ > 0) => Some(s)
    case CallE(LambdaE(Nil, body), Nil, _) => Some(body)
    case _ => None
  }

  /** and/or/typed/keyed/tagged calls over literals fold into query literals
    * (api/shell.go:727-822). */
  private def simplifyQueryBuildingCall(call: CallE): Option[Expr] = call match {
    case CallE(SymbolE("and"), List(QueryE(a), QueryE(b)), _) =>
      Some(QueryE(flattenQuery(And(Seq(a, b)))))
    case CallE(SymbolE("or"), List(QueryE(a), QueryE(b)), _) =>
      Some(QueryE(flattenQuery(Or(Seq(a, b)))))
    case CallE(SymbolE("keyed"), List(StringE(k)), _) => Some(QueryE(Keyed(k)))
    case CallE(SymbolE("tagged"), List(StringE(k), StringE(v)), _) =>
      Some(QueryE(Tagged(k, v)))
    case CallE(SymbolE("typed"), List(StringE(t), QueryE(q)), _) =>
      Some(QueryE(TypedQ(t, q)))
    case _ => None
  }

  /** `{a -> area a}` == `area` (eta reduction, api/shell.go:824-852). */
  private def simplifyLambda(l: LambdaE): Expr = l.body match {
    case CallE(fn, args, p) if l.args.nonEmpty =>
      val n = l.args.zip(args).takeWhile {
        case (param, SymbolE(s)) => s == param
        case _ => false
      }.length
      if (n > 0 && n == args.length) fn
      else if (n > 0) CallE(fn, args.drop(n), p)
      else l
    case _ => l
  }

  /** Nested And/Or flatten (api/shell.go:866-900). */
  def flattenQuery(q: Query): Query = q match {
    case And(qs) =>
      And(qs.map(flattenQuery).flatMap { case And(inner) => inner; case o => Seq(o) })
    case Or(qs) =>
      Or(qs.map(flattenQuery).flatMap { case Or(inner) => inner; case o => Seq(o) })
    case TypedQ(t, inner) => TypedQ(t, flattenQuery(inner))
    case other => other
  }

  // ---- unparse (api/shell.go:925-1058) ----------------------------------------

  def unparse(e: Expr, top: Boolean = true): String = e match {
    case SymbolE(s) => s
    case StringE(s) => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case IntE(v) => v.toString
    case FloatE(v) => f"$v%.2f"
    case LatLngE(a, b) => f"$a%f, $b%f"
    case TagE(k, v) =>
      val vv = if (v.nonEmpty && v.forall(isSymbolRune)) v else "\"" + v + "\""
      s"$k=$vv"
    case FeatureIdE(t, ns, v) =>
      aliases.find(a => a._2 == t && a._3 == ns).map(a => s"${a._1}$v")
        .getOrElse(s"/$t/$ns/$v")
    case QueryE(q) => "[" + unparseQuery(q) + "]"
    case CallE(fn, args, true) if args.nonEmpty =>
      val s = unparse(args.head, top = true) + " | " +
        unparse(CallE(fn, args.tail), top = true)
      if (top) s else s"($s)"
    case CallE(fn, args, _) =>
      val s = (unparse(fn, top = false) +: args.map(unparse(_, top = false))).mkString(" ")
      if (top) s else s"($s)"
    case LambdaE(Nil, body) => s"{-> ${unparse(body)}}"
    case LambdaE(params, body) => s"{${params.mkString(", ")} -> ${unparse(body)}}"
  }

  def unparseQuery(q: Query): String = q match {
    case Tagged(k, v) =>
      val vv = if (v.nonEmpty && v.forall(isSymbolRune)) v else "\"" + v + "\""
      s"$k=$vv"
    case Keyed(k) => k
    case And(qs) => qs.map(unparseQuery).mkString(" & ")
    case Or(qs) => qs.map(unparseQuery).mkString(" | ")
    case TypedQ(t, inner) => s"$t:${unparseQuery(inner)}" // no shell form; debug only
    case other => other.toString
  }

  // ---- evaluation: shell values over a features DataFrame ---------------------

  /**
   * Evaluate over a world (features DataFrame with id/tags/lat/lng/cell16…).
   * Results: DataFrame (feature/collection results), Query, Long/Double/String
   * literals, TagE, Seq[(Any, Any)] for collection literals. Lambdas over
   * features compile to Catalyst `Column`s — `filter {b -> gt (area b) 100}`
   * runs inside the scan, never per-row on the driver.
   */
  def run(world: DataFrame, expression: String): Any =
    eval(Env(world, None), simplify(parse(expression)))

  /** Evaluate with a street-network edge table in scope, enabling the graph
    * operators (accessible-all / closest) over the world. */
  def run(world: DataFrame, network: DataFrame, expression: String): Any =
    eval(Env(world, Some(network)), simplify(parse(expression)))

  /** Evaluate with both the network edges AND the node coordinate table in
    * scope — required by the geometry-aware graph functions
    * (connect-to-network, reachable-area). */
  def run(world: DataFrame, network: DataFrame, nodes: DataFrame,
          expression: String): Any =
    eval(Env(world, Some(network), Some(nodes)), simplify(parse(expression)))

  /** The evaluation environment: the world plus an optional derived street
    * network (the reference's graph functions get it from the world
    * implicitly; here network derivation is an explicit ingest step —
    * OsmWorld.networkEdges — passed alongside), optionally the network's
    * node coordinates (node_id, lat, lng), and optionally the references
    * table (point-paths / point-features / entrance-approach), and
    * optionally the world's [[Areas]], which a served world keeps across
    * requests (without them `containing-areas` indexes the areas again). */
  case class Env(world: DataFrame, network: Option[DataFrame],
                 nodes: Option[DataFrame] = None,
                 refs: Option[DataFrame] = None,
                 areas: Option[Areas] = None)

  /** A world's area features, the build side of `containing-areas`, and
    * their [[SpatialJoins.AreaIndex]], built by the first request that
    * joins against them (None above the index's bound: such requests take
    * the cell join). */
  final class Areas(world: DataFrame) {
    private lazy val polygons = world.where(col("id.ftype") === "area" && col("geom").isNotNull)
      .select(col("id.value").as("poly_id"), col("geom"), col("covering"))
    private var built: Option[Option[SpatialJoins.AreaIndex]] = None

    private def index: Option[SpatialJoins.AreaIndex] = synchronized {
      if (built.isEmpty) built = Some(SpatialJoins.AreaIndex(polygons))
      built.get
    }

    /** Points (point_fid, lat, lng, cell16) joined to the areas that cover them. */
    def containing(points: DataFrame): DataFrame =
      index.fold(SpatialJoins.cellJoin(points, polygons))(_.join(points))

    /** Release the index's broadcast, if one was built. */
    def unpersist(): Unit = synchronized { built.flatten.foreach(_.unpersist()) }
  }

  /** Evaluate under a fully-populated environment. */
  def run(env: Env, expression: String): Any =
    eval(env, simplify(parse(expression)))

  /** Evaluate an already-parsed expression tree — the proto entry point
    * (grpc/service.go:26-90 evaluates NodeProto trees directly; see
    * graft.proto.ExprProto). */
  def runParsed(env: Env, e: Expr): Any = eval(env, simplify(e))

  def runDf(world: DataFrame, expression: String): DataFrame =
    run(world, expression).asInstanceOf[DataFrame]

  def runDf(world: DataFrame, network: DataFrame, expression: String): DataFrame =
    run(world, network, expression).asInstanceOf[DataFrame]

  private def eval(env: Env, e: Expr): Any = e match {
    case IntE(v) => v
    case FloatE(v) => v
    case StringE(v) => v
    case t: TagE => t
    case q: QueryE => q.q
    case ll: LatLngE => ll
    case fid: FeatureIdE => fid
    case l: LambdaE => l
    case s: SymbolE => s // bare function reference
    case CallE(fn, args, _) => apply(env, fn, args.map(a => eval(env, a)))
  }

  private def asQuery(v: Any): Query = v match {
    case q: Query => q
    case TagE(k, vv) => Tagged(k, vv)
    case s: String => // "highway=primary" string-form query (find "…")
      s.split("=", 2) match {
        case Array(k, vv) => Tagged(k, vv)
        case Array(k) => Keyed(k)
      }
    case other => throw ShellException(s"not a query: $other")
  }

  private def asDf(v: Any): DataFrame = v match {
    case df: DataFrame => df
    case other => throw ShellException(s"not a collection: $other")
  }

  /** Row count in one Spark job: each partition counts its rows and the
    * driver sums them. `Dataset.count()` plans a global aggregate whose
    * exchange AQE runs as a second job. A `collect`, so SQL listeners see
    * the query. */
  private def countRows(df: DataFrame): Long =
    df.select().mapPartitions(it => Iterator(it.size.toLong))(
      org.apache.spark.sql.Encoders.scalaLong).collect().sum

  private def apply(env: Env, fn: Expr, args: List[Any]): Any = {
    val world = env.world
    fn match {
    case LambdaE(params, body) =>
      // applying a feature lambda to a DataFrame = compiling it to a Column
      throw ShellException("lambda application outside map/filter not supported")
    case SymbolE(name) => (name, args) match {
      case ("find", List(q)) => QueryPlanner.find(world, flattenQuery(asQuery(q)))
      case ("find-feature", List(FeatureIdE(t, ns, v))) =>
        world.where(col("id.ftype") === t && col("id.ns") === ns && col("id.value") === v)
      case ("find-area", List(FeatureIdE(_, ns, v))) =>
        world.where(col("id.ftype") === "area" && col("id.ns") === ns && col("id.value") === v)
      case ("find-relation", List(FeatureIdE(_, ns, v))) =>
        world.where(col("id.ftype") === "relation" && col("id.ns") === ns && col("id.value") === v)
      case ("all-areas", Nil) => QueryPlanner.find(world, TypedQ("area", All))
      case ("find-areas", List(q)) => QueryPlanner.find(world, TypedQ("area", asQuery(q)))
      case ("find-relations", List(q)) => QueryPlanner.find(world, TypedQ("relation", asQuery(q)))
      case ("intersecting", List(LatLngE(lat, lng))) => IntersectsCap(lat, lng, 0.5)
      case ("intersecting-cap", List(LatLngE(lat, lng), r)) =>
        IntersectsCap(lat, lng, num(r))
      case ("keyed", List(k: String)) => Keyed(k)
      case ("tagged", List(k: String, v: String)) => Tagged(k, v)
      case ("and", List(a, b)) => flattenQuery(And(Seq(asQuery(a), asQuery(b))))
      case ("or", List(a, b)) => flattenQuery(Or(Seq(asQuery(a), asQuery(b))))
      case ("typed", List(t: String, q)) => TypedQ(t, asQuery(q))
      case ("filter", List(c, f)) => asDf(c).where(featureColumn(f))
      case ("filter", List(c)) => asDf(c) // curried: filter alone is identity-ish
      case ("map", List(c, f)) => asDf(c).withColumn("value", featureColumn(f))
      case ("count", List(c)) => countRows(asDf(c))
      case ("take", List(c, n)) => asDf(c).limit(num(n).toInt)
      case ("highlight", List(c)) => c // UI marker: identity over the collection
      case ("tag", List(k: String, v: String)) => TagE(k, v)
      case ("value", List(TagE(_, v))) => v
      case ("int-value", List(TagE(_, v))) => v.toLong
      case ("float-value", List(TagE(_, v))) => v.toDouble
      // change-producing functions (api/functions/change.go): on a feature id
      // they RETURN a ChangeSet — application happens at the evaluation
      // boundary (grpc/service.go:60-67), mirrored by EvaluateService.
      case ("add-tag", List(FeatureIdE(t, ns, v), TagE(k, tv))) =>
        graft.operators.Changes.tagChange(t, ns, v, k, Some(tv))
      case ("remove-tag", List(FeatureIdE(t, ns, v), k: String)) =>
        graft.operators.Changes.tagChange(t, ns, v, k, None)
      case ("add-relation", List(FeatureIdE(_, ns, v), TagE(k, tv))) =>
        graft.operators.Changes.addRelation(ns, v, Map(k -> tv), Nil)
      case ("merge-changes", List(changes: Seq[_])) =>
        graft.operators.Changes.merge(changes.toSeq.map {
          case (_, c: graft.operators.Changes.ChangeSet) => c
          case c: graft.operators.Changes.ChangeSet => c
          case other => throw ShellException(s"not a change: $other")
        })
      case ("with-change", List(l: LambdaE)) if l.args.isEmpty =>
        // evaluate the change-producing body now; the caller (the evaluation
        // boundary) applies the resulting ChangeSet transactionally
        eval(env, l.body) match {
          case c: graft.operators.Changes.ChangeSet => c
          case other => throw ShellException(s"with-change body must produce a change, got $other")
        }
      // engine extension: add-tag over a COLLECTION tags every feature
      case ("add-tag", List(c, TagE(k, v))) =>
        graft.operators.Worlds.addTag(asDf(c), k, lit(v))
      // collection aggregations (api/functions/collections.go, math.go)
      case ("count-values", List(c)) =>
        graft.operators.Aggs.countValues(asDf(c), "value")
      case ("count-keys", List(c)) =>
        graft.operators.Aggs.countValues(asDf(c), "key")
      case ("sum-by-key", List(c)) =>
        graft.operators.Aggs.sumByKey(asDf(c), "key", "value")
      case ("histogram", List(c)) =>
        // numeric values -> uniform buckets; strings -> categorical
        // (api/histogram.go:245-300 dispatch)
        val df = asDf(c)
        val vt = df.schema("value").dataType
        if (vt == org.apache.spark.sql.types.StringType)
          graft.operators.Aggs.histogramCategorical(df, "value")
        else graft.operators.Aggs.histogramUniform(df, "value")
      case ("top", List(c, n)) =>
        graft.operators.Aggs.top(asDf(c), "value", num(n).toInt, "value")
      // to-geojson(-collection) (api/functions/geojson.go:18-48); a bare
      // geometry value (rectangle-polygon / cap-polygon results) renders as
      // one Feature — must match BEFORE the collection form
      case ("to-geojson", List(g: org.locationtech.jts.geom.Geometry)) =>
        graft.sources.GeoJson.featureToJson(g, Map.empty)
      case ("to-geojson", List(c)) =>
        asDf(c).withColumn("geojson", featureJson(col("geom"), col("tags")))
      case ("to-geojson-collection", List(c)) =>
        // the whole collection comes back as one string, so it is bounded
        // like a served reply: one guarded collect, an error above the bound
        val bound = graft.server.EvaluateService.MaxRows
        val rows = asDf(c).select(featureJson(col("geom"), col("tags")))
          .limit(bound + 1).collect()
        if (rows.length > bound)
          throw ShellException(
            s"to-geojson-collection renders at most $bound features; narrow the collection")
        graft.sources.GeoJson.featureCollection(rows.map(_.getString(0)).toSeq)
      case ("collection", pairs) => pairs.map {
        case (k, v) => (k, v)
        case p => p
      }
      case ("pair", List(k, v)) => (k, v)
      case ("add", List(a: Long, b: Long)) => a + b // b6 int+int=int (math.go:16)
      case ("add", List(a, b)) => num(a) + num(b)
      case ("divide", List(a: Long, b: Long)) => a / b // truncating, like the reference
      case ("divide", List(a, b)) => num(a) / num(b)
      case ("to-str", List(v)) => v.toString
      case ("evaluate-feature", List(FeatureIdE(t, ns, v))) =>
        eval(env, simplify(parse(expressionOf(env, t, ns, v))))
      // graph plane over the world-derived street network (api/functions/
      // graph.go:185-245; network derivation = OsmWorld.networkEdges, passed
      // via Shell.run(world, network, expr) — the reference gets it from the
      // world implicitly, an engine-side ingest step here)
      case ("accessible-all", List(c, m)) =>
        val origins = asDf(c).select(col("id.value").as("origin"))
        graft.operators.Graph.reachable(requireNetwork(env), origins, num(m))
      case ("closest", List(c, t, m)) =>
        val origins = asDf(c).select(col("id.value").as("origin"))
        val targets = asDf(t).select(col("id.value").as("target"))
        graft.operators.Graph.closest(requireNetwork(env), origins, targets, num(m))
      // ---- round-4 registry widening: the next tier of names users type
      //      (functions.go:22-178), dispatched onto the existing Scala API ----
      case ("ll", List(a, b)) => LatLngE(num(a), num(b))
      case ("all", Nil) => All
      case ("is-valid", List(FeatureIdE(_, ns, v))) => ns.nonEmpty && v >= 0
      case ("type-point", List(q)) => TypedQ("point", asQuery(q))
      case ("type-path", List(q)) => TypedQ("path", asQuery(q))
      case ("type-area", List(q)) => TypedQ("area", asQuery(q))
      case ("distance-meters", List(LatLngE(a1, o1), LatLngE(a2, o2))) =>
        graft.core.GeoOps.haversineMeters(a1, o1, a2, o2)
      case ("distance-to-point-meters", List(c, LatLngE(la, lo))) =>
        val f = udf((wkb: Array[Byte]) =>
          graft.functions.GeoFunctions.distanceToPointMeters(graft.core.GeoOps.fromWkb(wkb), la, lo))
        asDf(c).withColumn("value", f(col("geom")))
      case ("interpolate", List(c, f)) =>
        val frac = num(f)
        val ip = udf { (wkb: Array[Byte]) =>
          val (la, lo) = graft.functions.GeoFunctions.interpolate(graft.core.GeoOps.fromWkb(wkb), frac)
          Array(la, lo)
        }
        asDf(c).withColumn("__ip", ip(col("geom")))
          .withColumn("vlat", col("__ip").getItem(0))
          .withColumn("vlng", col("__ip").getItem(1)).drop("__ip")
      case ("sample-points", List(c, m)) =>
        graft.operators.Paths.samplePointsAlongPaths(asDf(c), num(m))
      case ("snap-area-edges", List(c, m)) =>
        val paths = world.where(col("id.ftype") === "path")
        graft.operators.Paths.snapAreaEdges(
          asDf(c).select(col("id.value").as("poly_id"), col("geom")), paths, num(m))
      case ("flatten", List(c)) => c match {
        case df: DataFrame => graft.operators.Aggs.flatten(df, "value", "value")
        case seq: Seq[_] => seq.flatMap {
          case (_, inner: Seq[_]) => inner
          case other => Seq(other)
        }
        case other => throw ShellException(s"cannot flatten $other")
      }
      case ("join-missing", List(a, b)) =>
        val (da, db) = (asDf(a), asDf(b))
        val key = da.columns.intersect(db.columns).headOption.getOrElse(
          throw ShellException("join-missing: no shared key column"))
        graft.operators.Aggs.joinMissing(da, db, key)
      case ("percentiles", List(c)) =>
        graft.operators.Aggs.percentiles(asDf(c), "value")
      case ("count-valid-keys", List(c)) =>
        val df = asDf(c)
        val key = if (df.columns.contains("key")) "key" else "id.value"
        graft.operators.Aggs.countValidKeys(df, key, col("value").isNotNull)
      case ("count-valid-ids", List(c)) =>
        countRows(asDf(c).where(col("value").isNotNull))
      case ("sum", List(c)) =>
        asDf(c).agg(sum(col("value"))).head.get(0)
      case ("add-ints", List(a: Long, b: Long)) => a + b
      case ("divide-int", List(a: Long, b: Long)) => a / b
      case ("clamp", List(v, lo, hi)) =>
        math.max(num(lo), math.min(num(hi), num(v))).toLong
      case ("first", List((k, _))) => k
      case ("second", List((_, v))) => v
      // graph plane over the env network (+ node coords where geometry is
      // needed); reference signatures take (origin, options, distance, query)
      // per-feature — here the collection IS the origin set, Spark-first
      case ("reachable-area", List(c, m)) =>
        val spark = world.sparkSession
        import spark.implicits._
        val origins = asDf(c).select(col("id.value").as("origin"))
        val reached = graft.operators.Graph.reachable(requireNetwork(env), origins, num(m))
        reached.join(requireNodes(env), col("node") === col("node_id"))
          .select(col("origin"), col("lat"), col("lng"))
          .as[(Long, Double, Double)]
          .groupByKey(_._1).mapGroups { (o, it) =>
            val cs = it.map { case (_, la, lo) => graft.core.GeoOps.point(la, lo).getCoordinate }.toArray
            val hull = graft.core.GeoOps.factory.createMultiPointFromCoords(cs).convexHull()
            (o, graft.functions.GeoFunctions.areaM2(hull))
          }.toDF("origin", "area_m2")
      case ("paths-to-reach", List(c, m)) =>
        val origins = asDf(c).select(col("id.value").as("origin"))
        graft.operators.Graph.pathsToReach(requireNetwork(env), origins, num(m))
      case ("closest-distance", List(c, t, m)) =>
        val origins = asDf(c).select(col("id.value").as("origin"))
        val targets = asDf(t).select(col("id.value").as("target"))
        graft.operators.Graph.closest(requireNetwork(env), origins, targets, num(m))
          .select(col("origin"), col("dist_m"))
      case ("degree", List(c)) =>
        // segments meeting at each of the collection's vertices (features.go:212-219)
        val deg = requireNetwork(env).groupBy(col("src").as("node_id"))
          .agg(count(lit(1)).as("degree"))
        asDf(c).select(col("id.value").as("node_id"))
          .join(deg, Seq("node_id"), "left")
          .withColumn("degree", coalesce(col("degree"), lit(0L)))
      case ("connect-to-network", List(c)) =>
        // access edge to the nearest network node within 500 m (graph.go:547-565)
        graft.operators.Graph.connectToNetwork(
          asDf(c).select(col("id.value").as("fid"), col("lat"), col("lng")),
          requireNodes(env), requireNetwork(env), 500.0)
      case ("s2-grid", List(c, l)) =>
        graft.functions.CellExprs.install(world.sparkSession)
        asDf(c).select(graft.functions.CellExprs.cell_parent_at(
          col("cell16"), lit(num(l).toInt)).as("cell")).distinct()
      case ("s2-covering", List(c, l)) =>
        graft.functions.CellExprs.install(world.sparkSession)
        asDf(c).select(col("id"),
          explode(graft.functions.CellExprs.cell_covering(
            col("geom"), lit(num(l).toInt), lit(16))).as("cell"))
      case ("s2-center", List(cell: Long)) =>
        LatLngE(graft.core.Cells.centerLat(cell), graft.core.Cells.centerLng(cell))
      case ("import-geojson", List(json: String)) =>
        graft.sources.GeoJson.importGeoJson(world.sparkSession, json, "geojson")
      case ("parse-geojson", List(json: String)) =>
        val spark = world.sparkSession
        import spark.implicits._
        graft.sources.GeoJson.parseFeatures(json)
          .map { case (g, props) => (graft.core.GeoOps.toWkb(g), props) }
          .toDF("geom", "tags")
      // materialise / materialise-map / list-feature name their snapshot by
      // the expression feature whose `expression` tag defines the
      // collection, its text and the world it runs on (snapshotName)
      case ("materialise", List(FeatureIdE(t, ns, v))) =>
        val e = expressionOf(env, t, ns, v)
        graft.operators.Materialise.materialise(world.sparkSession, materialiseRoot,
          snapshotName(env, t, ns, v, e))(asDf(eval(env, simplify(parse(e)))))
      case ("sightline", List(LatLngE(la, lo), r)) =>
        val spark = world.sparkSession
        import spark.implicits._
        val origins = Seq((0L, la, lo)).toDF("origin_id", "lat", "lng")
        val occluders = world.where(col("tags").getItem("#building").isNotNull)
          .select(col("geom"))
        graft.operators.Sightline.sightlines(origins, occluders, num(r)).toDF()
      case ("rectangle-polygon", List(LatLngE(a1, o1), LatLngE(a2, o2))) =>
        graft.functions.GeoFunctions.rectanglePolygon(a1, o1, a2, o2)
      case ("cap-polygon", List(LatLngE(la, lo), r)) =>
        graft.functions.GeoFunctions.capPolygon(la, lo, num(r))
      case ("area", List(g: org.locationtech.jts.geom.Geometry)) =>
        graft.functions.GeoFunctions.areaM2(g)
      case ("centroid", List(g: org.locationtech.jts.geom.Geometry)) =>
        val (la, lo) = graft.functions.GeoFunctions.centroid(g)
        LatLngE(la, lo)
      case ("centroid", List(c)) =>
        val cf = udf { (wkb: Array[Byte]) =>
          val (la, lo) = graft.functions.GeoFunctions.centroid(graft.core.GeoOps.fromWkb(wkb))
          Array(la, lo)
        }
        asDf(c).withColumn("__c", cf(col("geom")))
          .withColumn("c_lat", col("__c").getItem(0))
          .withColumn("c_lng", col("__c").getItem(1)).drop("__c")
      case ("convex-hull", List(c)) =>
        val spark = world.sparkSession
        import spark.implicits._
        // partial hulls per partition, merged on the driver (geometry.go:207-232)
        val partials = asDf(c).select(col("geom")).as[Array[Byte]]
          .mapPartitions { it =>
            val cs = it.flatMap(w => graft.core.GeoOps.fromWkb(w).getCoordinates).toArray
            if (cs.isEmpty) Iterator.empty
            else Iterator(graft.core.GeoOps.toWkb(
              graft.core.GeoOps.factory.createMultiPointFromCoords(cs).convexHull()))
          }.collect()
        graft.core.GeoOps.fromWkb(graft.functions.GeoFunctions.convexHullAll(partials.toSeq))
      // ---- full-registry closure (every remaining functions.go name) ----
      case ("map-items" | "map-parallel", List(c, f)) =>
        // map-items sees (key, value) pairs, map-parallel is map with an
        // explicit parallelism hint — both are the same declarative plan
        // here (parallelism is the execution engine's job)
        asDf(c).withColumn("value", featureColumn(f))
      case ("histogram-with-id", List(c, FeatureIdE(_, ns, v))) =>
        histogramChangeOf(asDf(c), ns, v, swatch = false)
      case ("histogram-swatch", List(c)) =>
        histogramChangeOf(asDf(c), "graft/histogram", 0L, swatch = true)
      case ("histogram-swatch-with-id", List(c, FeatureIdE(_, ns, v))) =>
        histogramChangeOf(asDf(c), ns, v, swatch = true)
      case ("list-feature", List(FeatureIdE(t, ns, v), keyCol: String, key: String)) =>
        graft.operators.Materialise.listFeature(world.sparkSession, materialiseRoot,
          snapshotName(env, t, ns, v, expressionOf(env, t, ns, v)), keyCol, key)
      case ("find-collection", List(FeatureIdE(_, ns, v))) =>
        world.where(col("id.ftype") === "collection" && col("id.ns") === ns &&
          col("id.value") === v)
      case ("containing-areas", List(c)) =>
        // PIP join of the collection's points vs the world's area features
        // (api/functions/search.go findAreasContainingPoints)
        env.areas.getOrElse(new Areas(world)).containing(
          asDf(c).select(col("id.value").as("point_fid"), col("lat"), col("lng"), col("cell16")))
      case ("within", List(g: org.locationtech.jts.geom.Geometry)) =>
        IntersectsGeom(graft.core.GeoOps.toWkb(g))
      case ("within-cap", List(LatLngE(la, lo), r)) => IntersectsCap(la, lo, num(r))
      case ("all-tags", List(c)) =>
        asDf(c).select(col("id"), explode(map_entries(col("tags"))).as("kv"))
          .select(col("id"), col("kv.key").as("key"), col("kv.value").as("value"))
      case ("count-tag-value", List(FeatureIdE(t, ns, v), k: String)) =>
        graft.index.FeatureIndex.countTagValue(world, t, ns, v, k)
      case ("points", List(c)) => graft.operators.Paths.points(asDf(c))
      case ("point-paths", List(c)) =>
        requireRefs(env).where(col("from_type") === "path")
          .join(asDf(c).select(col("id.value").as("to_id")), Seq("to_id"))
          .select(col("to_id"), col("from_id"))
      case ("point-features", List(c)) =>
        requireRefs(env)
          .join(asDf(c).select(col("id.value").as("to_id")), Seq("to_id"))
          .select(col("to_id"), col("from_type"), col("from_id"))
      case ("sample-points-along-paths", List(c, m)) =>
        graft.operators.Paths.samplePointsAlongPaths(asDf(c), num(m))
      case ("join" | "ordered-join",
            List(a: org.locationtech.jts.geom.Geometry, b: org.locationtech.jts.geom.Geometry)) =>
        graft.core.GeoOps.fromWkb(graft.operators.Paths.joinPaths(
          graft.core.GeoOps.toWkb(a), graft.core.GeoOps.toWkb(b)))
      case ("call", f :: rest) => f match {
        case s: SymbolE => apply(env, s, rest)
        case Partial(nm, pre) => apply(env, SymbolE(nm), pre ++ rest)
        case other => throw ShellException(s"call: not callable: $other")
      }
      case ("get-centroid", List(c)) => apply(env, SymbolE("centroid"), List(c))
      case ("s2-points", List(c, l)) =>
        graft.functions.CellExprs.install(world.sparkSession)
        val center = udf((cell: Long) =>
          Array(graft.core.Cells.centerLat(cell), graft.core.Cells.centerLng(cell)))
        asDf(c).select(col("id"),
          explode(graft.functions.CellExprs.cell_covering(
            col("geom"), lit(num(l).toInt), lit(16))).as("cell"))
          .withColumn("__c", center(col("cell")))
          .withColumn("vlat", col("__c").getItem(0))
          .withColumn("vlng", col("__c").getItem(1)).drop("__c")
      case ("s2-polygon", List(cell: Long)) =>
        graft.functions.GeoFunctions.rectanglePolygon(
          graft.core.Cells.latLo(cell), graft.core.Cells.lngLo(cell),
          graft.core.Cells.latHi(cell), graft.core.Cells.lngHi(cell))
      case ("reachable", List(c, m)) =>
        apply(env, SymbolE("accessible-all"), List(c, m))
      case ("accessible-routes", List(c, m)) =>
        val origins = asDf(c).select(col("id.value").as("origin"))
        graft.operators.Graph.reachableWithParents(requireNetwork(env), origins, num(m))
      case ("filter-accessible", List(od, survivors)) =>
        graft.operators.Graph.filterAccessible(
          asDf(od).select(col("origin"), col("node")),
          asDf(survivors).select(col("id.value").as("node_id")))
      case ("connect", List(FeatureIdE(_, _, a), FeatureIdE(_, _, b), m)) =>
        graft.operators.Graph.connect(requireNetwork(env), a, b, num(m))
      case ("connect-to-network-all", List(c)) =>
        apply(env, SymbolE("connect-to-network"), List(c))
      case ("building-access", List(c, m)) =>
        val origins = asDf(c).select(col("id.value").as("origin"))
        graft.operators.Graph.buildingAccess(requireNetwork(env), origins, num(m),
          world, nodeCol = "id.value")
      case ("collect-areas", List(c)) =>
        graft.core.GeoOps.fromWkb(graft.operators.Paths.collectAreas(asDf(c)))
      case ("entrance-approach", List(FeatureIdE(_, _, wayId))) =>
        graft.operators.Entrances.entranceApproach(world, requireRefs(env), wayId)
          .map { case (la, lo) => LatLngE(la, lo) }
          .getOrElse(throw ShellException(s"no entrance approach for way $wayId"))
      case ("tile-ids" | "tile-ids-hex", List(c)) =>
        val fid = udf((ftype: String, ns: String, v: Long) =>
          graft.functions.TileIds.tileFeatureId(ftypeOrd(ftype), ns, v))
        val base = asDf(c).select(col("id"),
          fid(col("id.ftype"), col("id.ns"), col("id.value")).as("fid"))
        if (name == "tile-ids-hex") base.withColumn("fid", lower(hex(col("fid"))))
        else base
      case ("tile-paths", List(c, z)) =>
        graft.operators.SpatialJoins.tileCoverJoin(asDf(c), num(z).toInt)
          .select(col("id"), col("tile"))
      case ("parse-geojson-file", List(path: String)) =>
        apply(env, SymbolE("parse-geojson"),
          List(java.nio.file.Files.readString(java.nio.file.Paths.get(path))))
      case ("import-geojson-file", List(path: String)) =>
        apply(env, SymbolE("import-geojson"),
          List(java.nio.file.Files.readString(java.nio.file.Paths.get(path))))
      case ("geojson-areas", List(json: String)) =>
        val spark = world.sparkSession
        import spark.implicits._
        graft.sources.GeoJson.geojsonAreas(json)
          .map(graft.core.GeoOps.toWkb).toDF("geom")
      case ("apply-to-point", List(c, f)) =>
        asDf(c).withColumn("value",
          when(col("id.ftype") === "point", featureColumn(f)))
      case ("apply-to-path", List(c, f)) =>
        asDf(c).withColumn("value",
          when(col("id.ftype") === "path", featureColumn(f)))
      case ("apply-to-area", List(c, f)) =>
        asDf(c).withColumn("value",
          when(col("id.ftype") === "area", featureColumn(f)))
      case ("map-geometries", List(json: String, f)) =>
        val g: org.locationtech.jts.geom.Geometry => org.locationtech.jts.geom.Geometry =
          f match {
            case SymbolE("convex-hull") => _.convexHull()
            case SymbolE("centroid") | SymbolE("get-centroid") => _.getCentroid
            case other => throw ShellException(s"map-geometries: unsupported transform $other")
          }
        graft.sources.GeoJson.mapGeometries(json, g)
      case ("id-to-relation-id", List(FeatureIdE(t, ns, v))) =>
        FeatureIdE("relation", ns, graft.functions.TileIds.idToRelationId(t, ns, v))
      case ("add-tags", List(FeatureIdE(t, ns, v), tags: Seq[_])) =>
        graft.operators.Changes.merge(tags.toSeq.map {
          case (_, TagE(k, tv)) => graft.operators.Changes.tagChange(t, ns, v, k, Some(tv))
          case TagE(k, tv) => graft.operators.Changes.tagChange(t, ns, v, k, Some(tv))
          case other => throw ShellException(s"add-tags: not a tag: $other")
        })
      case ("remove-tags", List(FeatureIdE(t, ns, v), keys: Seq[_])) =>
        graft.operators.Changes.merge(keys.toSeq.map {
          case (_, k: String) => graft.operators.Changes.tagChange(t, ns, v, k, None)
          case k: String => graft.operators.Changes.tagChange(t, ns, v, k, None)
          case other => throw ShellException(s"remove-tags: not a key: $other")
        })
      case ("add-point", List(LatLngE(la, lo), FeatureIdE(_, ns, v))) =>
        graft.operators.Changes.ChangeSet(adds = Seq(
          graft.operators.Changes.FeatureAdd("point", ns, v, Map.empty, la, lo)))
      case ("add-collection", List(FeatureIdE(_, ns, v), items: Seq[_])) =>
        graft.operators.Changes.addCollection(ns, v, Map("b6" -> "collection"),
          items.toSeq.map {
            case (k, item) => (k.toString, item.toString)
            case other => throw ShellException(s"add-collection: not a pair: $other")
          })
      case ("add-expression", List(FeatureIdE(_, ns, v), e: String)) =>
        graft.operators.Changes.addExpression(ns, v, Map("b6" -> "expression"), e)
      case ("changes-to-file", List(ch: graft.operators.Changes.ChangeSet, path: String)) =>
        graft.operators.Changes.toFile(world.sparkSession, ch, path)
        path
      case ("changes-from-file", List(path: String)) =>
        graft.operators.Changes.fromFile(world.sparkSession, path)
      case ("materialise-map", List(FeatureIdE(t, ns, v), keyCol: String)) =>
        val e = expressionOf(env, t, ns, v)
        graft.operators.Materialise.materialiseMap(world.sparkSession, materialiseRoot,
          snapshotName(env, t, ns, v, e), keyCol)(asDf(eval(env, simplify(parse(e)))))
      case ("add-world-with-change", List(FeatureIdE(t, ns, v), l: LambdaE)) =>
        // change.go:213-218: evaluate the change under the CURRENT world and
        // hand the (world id, change) pair to the evaluation boundary, which
        // owns the worlds registry (EvaluateService applies it)
        eval(env, l.body) match {
          case c: graft.operators.Changes.ChangeSet => WorldChange(t, ns, v, c)
          case other => throw ShellException(
            s"add-world-with-change body must produce a change, got $other")
        }
      case ("debug-tokens", List(c)) => graft.index.FeatureIndex.tokens(asDf(c))
      case ("debug-all-query", List(tok: String)) =>
        graft.index.FeatureIndex.debugAllQuery(world, tok)
      case ("export-world", List(path: String)) =>
        graft.index.FeatureIndex.build(world, path)
        path
      case _ if argCounts.get(name).exists(_ > args.length) => Partial(name, args)
      case _ => throw ShellException(
        s"unknown function or bad arguments: $name(${args.mkString(", ")})")
    }
    case other => throw ShellException(s"not callable: $other")
  }
  }

  /** The `expression` tag of feature /t/ns/v in the world, which
    * evaluate-feature (api/functions/features.go:530-537) and the
    * materialise functions run: it IS a shell string here — stored plans
    * round-trip through the same parser and run against the current world. */
  private def expressionOf(env: Env, t: String, ns: String, v: Long): String = {
    val row = env.world.where(col("id.ftype") === t && col("id.ns") === ns &&
        col("id.value") === v)
      .select(col("tags").getItem("expression")).collect()
    if (row.isEmpty || row.head.isNullAt(0))
      throw ShellException(s"no expression feature /$t/$ns/$v")
    row.head.getString(0)
  }

  /** The snapshot name of expression feature /t/ns/v: its id, a hash of its
    * expression text and the world's analyzed-plan hash. New text under the
    * same id, or the same id on another world, names another snapshot. */
  private def snapshotName(env: Env, t: String, ns: String, v: Long, expression: String): String =
    f"/$t/$ns/$v/${scala.util.hashing.MurmurHash3.stringHash(expression)}%08x${env.world.semanticHash()}%08x"

  private def requireNetwork(env: Env): DataFrame =
    env.network.getOrElse(throw ShellException(
      "graph functions need a street network: use Shell.run(world, network, expression)"))

  private def requireNodes(env: Env): DataFrame =
    env.nodes.getOrElse(throw ShellException(
      "this graph function needs node coordinates: use Shell.run(world, network, nodes, expression)"))

  private def requireRefs(env: Env): DataFrame =
    env.refs.getOrElse(throw ShellException(
      "this function needs the references table: use Shell.run(Env(world, refs = Some(refs)), expression)"))

  /** A feature as a GeoJSON Feature; a tag whose value is null is absent. */
  private val featureJson = udf { (wkb: Array[Byte], tags: Map[String, String]) =>
    graft.sources.GeoJson.featureToJson(graft.core.GeoOps.fromWkb(wkb),
      Option(tags).getOrElse(Map.empty).filter(_._2 != null))
  }

  private def materialiseRoot: String =
    sys.props.getOrElse("graft.materialise.root", "spark-warehouse/materialised")

  private def ftypeOrd(t: String): Long = t match {
    case "point" => 0L; case "path" => 1L; case "area" => 2L
    case "relation" => 3L; case _ => 4L
  }

  /** histogram-with-id / -swatch: persist the numeric histogram of the
    * collection's `value` column as a collection-feature ChangeSet
    * (Aggs.histogramChange; applied at the evaluation boundary). */
  private def histogramChangeOf(df: DataFrame, ns: String, id: Long,
                                swatch: Boolean): graft.operators.Changes.ChangeSet = {
    val keyCol = if (df.columns.contains("point_id")) "point_id" else "id.value"
    graft.operators.Aggs.histogramChange(df, "value", keyCol, ns, id, swatch)._1
  }

  private def num(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case other => throw ShellException(s"not a number: $other")
  }

  /** Compile a per-feature function value (lambda / bare symbol / partially
    * applied call) to a Catalyst Column — the Spark-first replacement for the
    * reference VM's per-item apply (api/vm.go:172-356). */
  private def featureColumn(f: Any): Column = f match {
    case LambdaE(List(param), body) => columnOf(body, param)
    case SymbolE(name) => columnOf(CallE(SymbolE(name), List(SymbolE("__it"))), "__it")
    case TagE(k, _) => col("tags").getItem(k).isNotNull // tag literal as predicate
    case q: Query => q.toColumn
    case c: Column => c
    case Partial("matches", List(q)) => asQuery(q).toColumn
    case Partial("tag" | "get", List(k: String)) => col("tags").getItem(k)
    case Partial("get-string", List(k: String)) =>
      coalesce(col("tags").getItem(k), lit(""))
    case Partial("get-int", List(k: String)) =>
      coalesce(col("tags").getItem(k).try_cast("long"), lit(0L))
    case Partial("get-float", List(k: String)) =>
      coalesce(col("tags").getItem(k).try_cast("double"), lit(0.0))
    case other => throw ShellException(s"not a per-feature function: $other")
  }

  /** Per-feature expression -> Column, with `param` bound to the feature row. */
  private def columnOf(e: Expr, param: String): Column = e match {
    case SymbolE(`param`) => col("id") // the feature itself (its id)
    case IntE(v) => lit(v)
    case FloatE(v) => lit(v)
    case StringE(v) => lit(v)
    case TagE(k, v) => lit(v) // tag literal in value position
    case QueryE(q) => q.toColumn
    case CallE(SymbolE(name), args, _) => (name, args) match {
      case ("tag", List(SymbolE(`param`), k)) => col("tags").getItem(strOf(k))
      case ("get", List(SymbolE(`param`), k)) => col("tags").getItem(strOf(k))
      case ("get-string", List(SymbolE(`param`), k)) =>
        coalesce(col("tags").getItem(strOf(k)), lit(""))
      case ("get-int", List(SymbolE(`param`), k)) =>
        coalesce(col("tags").getItem(strOf(k)).try_cast("long"), lit(0L))
      case ("get-float", List(SymbolE(`param`), k)) =>
        coalesce(col("tags").getItem(strOf(k)).try_cast("double"), lit(0.0))
      case ("int-value", List(inner)) => columnOf(inner, param).try_cast("long")
      case ("float-value", List(inner)) => columnOf(inner, param).try_cast("double")
      case ("value", List(inner)) => columnOf(inner, param)
      case ("area", List(SymbolE(`param`))) =>
        graft.functions.GeoFunctions.area_m2(col("geom"))
      case ("length", List(SymbolE(`param`))) =>
        graft.functions.GeoFunctions.length_m(col("geom"))
      case ("highlight", List(inner)) => columnOf(inner, param)
      case ("matches", List(SymbolE(`param`), QueryE(q))) => q.toColumn
      case ("gt", List(a, b)) => columnOf(a, param) > columnOf(b, param)
      case ("add", List(a, b)) => columnOf(a, param) + columnOf(b, param)
      case ("divide", List(a, b)) => columnOf(a, param) / columnOf(b, param)
      case ("to-str", List(a)) => columnOf(a, param).cast("string")
      case _ => throw ShellException(s"unsupported in feature lambda: $name")
    }
    case other => throw ShellException(s"unsupported in feature lambda: $other")
  }

  /** Compile a shell function-expression (lambda / symbol / partial) to a
    * per-feature Column — the QueryRenderer's `args.V` hook
    * (renderer/query.go:66-78). */
  def featureFn(world: DataFrame, expression: String): Column =
    featureColumn(run(world, expression))

  /** Parse a feature-id token like `/a/427900370` or `/point/ns/7`
    * (api/shell.go:158-170), for collection items that reference features. */
  def parseFeatureIdToken(s: String): Option[(String, String, Long)] =
    try {
      lex(s) match {
        case Vector(Fid(t, ns, v), EofT) => Some((t, ns, v))
        case _ => None
      }
    } catch { case _: Exception => None }

  private def strOf(e: Expr): String = e match {
    case StringE(s) => s
    case SymbolE(s) => s
    case other => throw ShellException(s"expected string, got $other")
  }
}
