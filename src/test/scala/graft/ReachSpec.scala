package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Reach-or-remove: every top-level object, class and trait under
  * `src/main` is reached, through a chain of name references, from a
  * root:
  *
  *   - the driver contract (`SparkEntry.scala`, the whole file);
  *   - the six mains and the session factory [[GraftSession]];
  *   - every name the benchmark harness (`perfbench/src`) uses;
  *   - every class a `META-INF/services` file registers;
  *   - the documented-API entries below, each of which README's
  *     "Using the library" section names and `ApiUsageSpec` exercises.
  *
  * A definition's references are the identifiers in its comment-stripped
  * source (plus its file's imports), so a scaladoc link alone does not
  * reach anything. The closure is by simple name, not by symbol: two
  * definitions sharing a name are reached together.
  */
class ReachSpec extends AnyFunSuite {
  import ReachSpec._

  private val mains = Seq("Bench", "Verify", "BenchAB", "Scale10x", "Explain", "JobProfile")

  /** Public API no query, main or benchmark calls, kept because it is
    * documented and has a recipe. */
  private val documentedApi = Seq("ColumnLineage", "CdcStream", "StreamLshDedup")

  private lazy val defs: Map[String, Seq[Def]] = topLevelDefs(scalaFiles("src/main/scala"))

  test("every top-level definition in src/main is reached from a root") {
    val roots =
      identifiers(stripComments(read(Paths.get("src/main/scala/graft/SparkEntry.scala")))) ++
        mains ++ Seq("GraftSession") ++ documentedApi ++
        scalaFiles("perfbench/src").flatMap(p => identifiers(stripComments(read(p)))) ++
        files("src/main/resources/META-INF/services").flatMap(p => identifiers(read(p)))
    val reached = closure(roots.toSet, defs)
    val unreached = defs.keySet -- reached
    assert(
      unreached.isEmpty,
      "reached by no query, main, benchmark call or documented API: " +
        unreached.toSeq.sorted.map(n => s"$n (${defs(n).map(_.file).mkString(", ")})")
          .mkString("; ")
    )
  }

  test("the roots exist: six mains, GraftSession, and documented API with recipes") {
    mains.foreach { m =>
      assert(defs.get(m).exists(_.exists(_.body.contains("def main("))), s"$m has no main")
    }
    assert(defs.contains("GraftSession"))
    val readme = read(Paths.get("README.md"))
    val usage = readme.indexOf("## Using the library")
    assert(usage >= 0, "README has no \"Using the library\" section")
    val section = readme.substring(usage, readme.indexOf("\n## ", usage + 1) match {
      case -1 => readme.length
      case end => end
    })
    val recipes = read(Paths.get("src/test/scala/graft/ApiUsageSpec.scala"))
    documentedApi.foreach { n =>
      assert(defs.contains(n), s"$n is not defined in src/main")
      assert(section.contains(n), s"$n is not in README's \"Using the library\"")
      assert(identifiers(stripComments(recipes)).contains(n), s"$n has no ApiUsageSpec recipe")
    }
  }

  test("comment stripping keeps code and strings, drops line, block and nested comments") {
    val src = "val a = \"x // y\" // Gone1\n/* Gone2 /* Gone3 */ Gone4 */ val b = '\"'; Kept"
    val ids = identifiers(stripComments(src))
    assert(Seq("a", "x", "y", "b", "Kept").forall(ids.contains), ids)
    assert(!ids.exists(_.startsWith("Gone")), ids)
  }
}

object ReachSpec {

  /** One top-level definition: its name, file, and source (comments
    * stripped, prefixed with its file's package and imports). */
  final case class Def(name: String, file: String, body: String)

  private val TopLevel =
    """(?m)^(?:(?:final|sealed|abstract|case|implicit|private(?:\[\w+\])?|protected(?:\[\w+\])?)\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val Ident = """[A-Za-z_]\w*""".r
  private val CharLit = """'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r

  def read(p: Path): String = Files.readString(p)

  def files(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    finally s.close()
  }

  def scalaFiles(dir: String): Seq[Path] = files(dir).filter(_.toString.endsWith(".scala"))

  def identifiers(code: String): Set[String] = Ident.findAllIn(code).toSet

  def topLevelDefs(sources: Seq[Path]): Map[String, Seq[Def]] =
    sources.flatMap { p =>
      val code = stripComments(read(p))
      val starts = TopLevel.findAllMatchIn(code).toSeq
      val preamble = starts.headOption.fold(code)(m => code.substring(0, m.start))
      starts.zipWithIndex.map { case (m, k) =>
        val end = if (k + 1 < starts.size) starts(k + 1).start else code.length
        Def(m.group(1), p.toString, preamble + code.substring(m.start, end))
      }
    }.groupBy(_.name)

  /** The definition names reachable from `roots` through references. */
  def closure(roots: Set[String], defs: Map[String, Seq[Def]]): Set[String] = {
    var reached = Set.empty[String]
    var todo = roots.filter(defs.contains).toList
    while (todo.nonEmpty) {
      val n = todo.head
      todo = todo.tail
      if (!reached(n)) {
        reached += n
        todo = defs(n).flatMap(d => identifiers(d.body)).filter(defs.contains).toList ++ todo
      }
    }
    reached
  }

  /** Scala source with `//`, `/* */` and nested block comments removed;
    * string and character literals are kept verbatim (a `//` inside a
    * string is not a comment). Line breaks survive. */
  def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        var j = src.indexOf("\"\"\"", i + 3)
        if (j < 0) j = n
        else {
          while (j + 3 < n && src(j + 3) == '"') j += 1
          j += 3
        }
        out ++= src.substring(i, j)
        i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j)
        i = j
      } else {
        val lit =
          if (src(i) == '\'') CharLit.findPrefixOf(src.substring(i, math.min(n, i + 8)))
          else None
        val s = lit.getOrElse(src(i).toString)
        out ++= s
        i += s.length
      }
    }
    out.toString
  }
}
