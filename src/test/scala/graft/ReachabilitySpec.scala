package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** No unreached operator code: every public, non-override, top-level
  * `def` of an object under `operators/`, `functions/` or `streaming/`
  * is named somewhere else in the program (`src/main/scala`, or the
  * benchmark's `perfbench/src`), or is mapped by `COVERAGE.md`, whose
  * backticked names are the allowlist. A source scan, no Spark
  * session: a name counts wherever it appears as a whole identifier
  * outside a comment. */
class ReachabilitySpec extends SparkTestBase {

  test("every public operator def is reached by the program or " +
      "mapped by COVERAGE.md") {
    val orphans = ReachabilitySpec.unreached(ReachabilitySpec.repoRoot)
    if (orphans.nonEmpty) fail(orphans.mkString("public defs named " +
      "nowhere else in src/main/scala or perfbench/src and not in " +
      "COVERAGE.md:\n", "\n", ""))
  }

  test("the scan reports exactly the public top-level def that " +
      "nothing names") {
    withTempDir("reach") { root =>
      def put(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.writeString(p, text)
      }
      put("src/main/scala/graft/operators/A.scala",
        """package graft.operators
          |object A {
          |  def used(x: Int): Int = x
          |  def mapped(): Unit = ()
          |  def orphan(): Unit = ()
          |  private def hidden(): Unit = ()
          |  override def toString: String = "A"
          |  object Inner { def nested(): Unit = () }
          |}
          |class B {
          |  def member(): Unit = ()
          |}
          |""".stripMargin)
      put("perfbench/src/Main.scala", "object Main { A.used(1) }\n")
      put("COVERAGE.md", "| X1 | op | `A.mapped` | — | — |\n")
      assert(ReachabilitySpec.unreached(root) ===
        Seq("src/main/scala/graft/operators/A.scala:5 orphan"))
    }
  }

  test("a name that appears only in comments is not a reference") {
    withTempDir("reach") { root =>
      def put(rel: String, text: String): Unit = {
        val p = root.resolve(rel)
        Files.createDirectories(p.getParent)
        Files.writeString(p, text)
      }
      put("src/main/scala/graft/operators/A.scala",
        """package graft.operators
          |object A {
          |  def used(x: Int): Int = x
          |  def quoted(): Unit = ()
          |  def commented(): Unit = ()
          |}
          |""".stripMargin)
      put("src/main/scala/graft/B.scala",
        """package graft
          |/** Calls [[operators.A.commented]]. */
          |object B {
          |  // A.commented()
          |  /* A.commented() /* nested */ A.commented() */
          |  val u = "http://x"; val q = '"'; val n = A.used(1)
          |  val s = "A.quoted() // in a string"
          |}
          |""".stripMargin)
      put("COVERAGE.md", "")
      assert(ReachabilitySpec.unreached(root) ===
        Seq("src/main/scala/graft/operators/A.scala:5 commented"))
    }
  }
}

object ReachabilitySpec {
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private val TopLevel = "^(?:\\w+\\s+)*(object|class|trait)\\s".r
  private val PublicDef =
    "^  (?:(?:final|implicit|inline|@\\w+)\\s+)*def\\s+(\\w+)".r
  private val Backticked = "`([^`]*)`".r

  /** The checkout root: the nearest directory holding COVERAGE.md. */
  def repoRoot: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("COVERAGE.md")))
      .getOrElse(sys.error("no COVERAGE.md above the working directory"))

  /** `file:line name` for each public top-level operator def under
    * `root` that no other program line names and COVERAGE.md does not
    * map, in file and line order. */
  def unreached(root: Path): Seq[String] = {
    val program = Seq("src/main/scala", "perfbench/src")
      .map(root.resolve).filter(Files.isDirectory(_)).flatMap { d =>
        val walk = Files.walk(d)
        try walk.iterator().asScala
          .filter(_.toString.endsWith(".scala")).toList
        finally walk.close()
      }.sortBy(_.toString)
    val lines = program.map(f =>
      f -> stripComments(Files.readString(f)).split("\n")).toMap
    val named = mutable.Map[String, Int]().withDefaultValue(0)
    for (ls <- lines.values; l <- ls; id <- Ident.findAllIn(l))
      named(id) += 1
    val mapped = Backticked
      .findAllMatchIn(Files.readString(root.resolve("COVERAGE.md")))
      .flatMap(m => Ident.findAllIn(m.group(1))).toSet
    val scanned = Seq("operators", "functions", "streaming")
      .map(root.resolve("src/main/scala/graft").resolve)
    for {
      f <- program if scanned.exists(f.startsWith)
      ls = lines(f)
      (name, i) <- topLevelObjectDefs(ls)
      if named(name) == Ident.findAllIn(ls(i)).count(_ == name) &&
        !mapped(name)
    } yield s"${root.relativize(f)}:${i + 1} $name"
  }

  /** `text` with the characters of every comment blanked (line
    * breaks kept, so line numbers hold). String and character
    * literals are stepped over whole: a `//` inside a string starts
    * no comment. Block comments nest, as Scala's do. */
  def stripComments(text: String): String = {
    val out = new StringBuilder(text)
    val n = text.length
    def blank(from: Int, to: Int): Unit =
      for (j <- from until to if text(j) != '\n') out.setCharAt(j, ' ')
    var i = 0
    while (i < n) {
      if (text.startsWith("//", i)) {
        val end = text.indexOf('\n', i) match { case -1 => n; case e => e }
        blank(i, end)
        i = end
      } else if (text.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (text.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (text.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j)
        i = j
      } else if (text.startsWith("\"\"\"", i)) {
        var j = text.indexOf("\"\"\"", i + 3) match { case -1 => n; case e => e + 3 }
        while (j < n && text(j) == '"') j += 1
        i = j
      } else if (text(i) == '"') {
        var j = i + 1
        while (j < n && text(j) != '"' && text(j) != '\n')
          j += (if (text(j) == '\\') 2 else 1)
        i = j + 1
      } else if (text(i) == '\'' && i + 2 < n && text(i + 1) == '\\') {
        i = text.indexOf('\'', i + 3) match { case -1 => n; case e => e + 1 }
      } else if (text(i) == '\'' && i + 2 < n && text(i + 2) == '\'') {
        i += 3
      } else i += 1
    }
    out.toString
  }

  /** The name and 0-based line index of each public, non-override
    * def directly inside a top-level `object`. */
  private def topLevelObjectDefs(lines: Array[String])
      : Seq[(String, Int)] = {
    val inObject = lines.scanLeft(false)((in, l) =>
      TopLevel.findFirstMatchIn(l).fold(in)(_.group(1) == "object")).tail
    lines.indices.flatMap(i =>
      if (!inObject(i)) None
      else PublicDef.findFirstMatchIn(lines(i)).map(m => (m.group(1), i)))
  }
}
