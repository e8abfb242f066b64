package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/**
 * The surface rule (CLAUDE.md): src/main keeps what a `SparkEntry` query, a
 * shell function, a server door, a main or graftbench reaches. A top-level
 * src/main object, class or trait that no other src/main or graftbench file
 * names in code (comment lines skipped) is reached by specs alone, unless it
 * is one of the entry points below. A file whose every top-level type is
 * unreached is dead, so what only dead files name is unreached too: the check
 * repeats until nothing changes. It reads the sources and writes nothing.
 */
class SurfaceSpec extends AnyFunSuite {

  /** Reached from outside the code: the mains, the extension Spark loads by
    * class name from `spark.sql.extensions`, the h2c door its caller starts,
    * and b6's world loader (SURVEY §1.2) that the golden specs build on. */
  val entryPoints = Set("Pipeline", "Smoke", "Verify", "GraftExtensions", "GrpcServer", "OsmWorld")

  private val declaration =
    """^(?:final |sealed |abstract |case |private\[[a-z]+\] )*(?:object|class|trait) ([A-Za-z0-9_]+)""".r
  private val commentLine = """^\s*(\*|//|/\*)""".r

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    finally s.close()
  }

  /** Top-level types of src/main that no live file other than their own names. */
  private def unreached(): Set[String] = {
    val main = scalaFiles("src/main")
    val code = (main ++ scalaFiles("graftbench")).map { p =>
      p -> Files.readAllLines(p).asScala.filterNot(l => commentLine.findFirstIn(l).isDefined).mkString("\n")
    }.toMap
    val declared = main.map { p =>
      p -> Files.readAllLines(p).asScala.flatMap(l => declaration.findFirstMatchIn(l).map(_.group(1))).toSet
    }.toMap
    def named(name: String, in: Path) =
      s"(?<![A-Za-z0-9_])${name}(?![A-Za-z0-9_])".r.findFirstIn(code(in)).isDefined
    def dead(found: Set[String]) =
      declared.collect { case (p, ns) if ns.nonEmpty && ns.forall(found) && !ns.exists(entryPoints) => p }.toSet
    @annotation.tailrec
    def fix(found: Set[String]): Set[String] = {
      val live = code.keySet -- dead(found)
      val next = declared.toSeq.flatMap { case (p, ns) =>
        ns.filterNot(n => live.exists(q => q != p && named(n, q)))
      }.toSet
      if (next == found) found else fix(next)
    }
    fix(Set.empty)
  }

  test("surface: only the entry points are top-level src/main types that no other src/main or graftbench code names") {
    val got = unreached()
    val problems = Seq(
      "reached by specs alone (delete, or move into src/test with its spec)" -> (got -- entryPoints),
      "entry points that other code now names (drop from the list)" -> (entryPoints -- got)
    ).collect { case (what, ns) if ns.nonEmpty => s"$what: ${ns.toSeq.sorted.mkString(", ")}" }
    if (problems.nonEmpty) fail(problems.mkString("; "))
  }
}
