package graft

import java.nio.file.{Files, Path, Paths}

/** The reference repository's test fixtures (b6's `data/tests`, checked out
  * as `~/reference`), which the golden specs read. Call it inside a test
  * body or a lazy val: a missing fixture then fails only the tests that
  * need it. */
object RefData {
  private val dir: Path = Paths.get(sys.props("user.home"), "reference", "data", "tests")

  /** The path of fixture `name`; throws naming the file when it is absent. */
  def apply(name: String): String = {
    val p = dir.resolve(name)
    if (!Files.exists(p)) throw new java.io.FileNotFoundException(s"reference fixture missing: $p")
    p.toString
  }
}
