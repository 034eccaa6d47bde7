package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the one materialization path: every eager pin in
  * `src/main` goes through `Relational.pin`, the only place that reads
  * `spark.graft.reliableCheckpoint`. A direct `localCheckpoint(` or
  * `.checkpoint(` anywhere else would silently escape that switch, so
  * this spec reads the sources (comments stripped) and fails on one. No
  * Spark session is started. */
class MaterializationSpec extends AnyFunSuite {
  import MaterializationSpec._

  private val root = new File("src/main/scala")

  private def sources: Seq[File] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    walk(root)
  }

  test("no localCheckpoint/checkpoint call outside the body of Relational.pin") {
    assert(root.isDirectory, s"${root.getAbsolutePath} missing")
    var pinBodies = 0
    val offenders = sources.flatMap { f =>
      val code = stripComments(
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      val allowed = if (f.getName == "Relational.scala") {
        val body = pinBody(code)
        assert(body.nonEmpty, s"no `def pin[` body found in $f")
        pinBodies += 1
        body.toSeq
      } else Nil
      Calls.findAllMatchIn(code)
        .filterNot(m => allowed.exists(r => r.contains(m.start)))
        .map(m => s"${root.toPath.relativize(f.toPath)}:${lineOf(code, m.start)}: ${m.matched}")
    }
    assert(pinBodies == 1, "Relational.scala not found under src/main/scala")
    assert(offenders.isEmpty,
      "materialize through `.transform(pin)` (Relational.pin), not directly:\n" +
        offenders.mkString("\n"))
  }

  test("the guard sees through comments and strings, and finds pin's own calls") {
    val src =
      """object X {
        |  // df.localCheckpoint() in a line comment
        |  /* df.checkpoint() in a /* nested */ block */
        |  val s = "not // a comment"; val t = df.localCheckpoint()
        |  def pin[T](df: Dataset[T]): Dataset[T] = {
        |    if (ok) { df.localCheckpoint() } else df.checkpoint()
        |  }
        |}""".stripMargin
    val code = stripComments(src)
    val hits = Calls.findAllMatchIn(code).map(m => lineOf(code, m.start)).toSeq
    assert(hits == Seq(4, 6, 6))
    val body = pinBody(code).get
    assert(Calls.findAllMatchIn(code).count(m => body.contains(m.start)) == 2)
  }
}

object MaterializationSpec {
  private val Calls = """localCheckpoint\s*\(|\.\s*checkpoint\s*\(""".r

  private def lineOf(code: String, at: Int): Int =
    code.substring(0, at).count(_ == '\n') + 1

  /** Blanks `//` and (nested) `/* */` comments, keeping newlines so line
    * numbers survive; string and char literals are skipped intact. */
  def stripComments(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def blank(c: Char): Unit = out.append(if (c == '\n') '\n' else ' ')
    while (i < n) {
      if (src.startsWith("//", i)) {
        while (i < n && src(i) != '\n') { blank(src(i)); i += 1 }
      } else if (src.startsWith("/*", i)) {
        var depth = 0
        var done = false
        while (i < n && !done) {
          if (src.startsWith("/*", i)) { depth += 1; blank(' '); blank(' '); i += 2 }
          else if (src.startsWith("*/", i)) {
            depth -= 1; blank(' '); blank(' '); i += 2; done = depth == 0
          } else { blank(src(i)); i += 1 }
        }
      } else if (src.startsWith("\"\"\"", i)) {
        val end = src.indexOf("\"\"\"", i + 3)
        val stop = if (end < 0) n else end + 3
        out.append(src.substring(i, stop)); i = stop
      } else if (src(i) == '"') {
        out.append('"'); i += 1
        while (i < n && src(i) != '"' && src(i) != '\n') {
          if (src(i) == '\\' && i + 1 < n) { out.append(src.substring(i, i + 2)); i += 2 }
          else { out.append(src(i)); i += 1 }
        }
        if (i < n) { out.append(src(i)); i += 1 }
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || (src(i + 1) == '\\' && i + 3 < n && src(i + 3) == '\''))) {
        val stop = if (src(i + 1) == '\\') i + 4 else i + 3
        out.append(src.substring(i, stop)); i = stop
      } else { out.append(src(i)); i += 1 }
    }
    out.toString
  }

  /** The character range of `def pin[...]`'s braced body in comment-free
    * source, if present. */
  def pinBody(code: String): Option[Range] = {
    val d = code.indexOf("def pin[")
    if (d < 0) None
    else {
      val open = code.indexOf('{', d)
      var depth = 0
      var i = open
      var end = -1
      while (open >= 0 && i < code.length && end < 0) {
        if (code(i) == '{') depth += 1
        else if (code(i) == '}') { depth -= 1; if (depth == 0) end = i }
        i += 1
      }
      if (end < 0) None else Some(open to end)
    }
  }
}
