package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** One code path per decision: the query layers may not read a runtime
  * switch (environment variable or JVM system property) and may not hold
  * process-global mutable state (a `var` in an object body). Either one
  * lets a single flip change the plan of every in-flight query in the
  * JVM. Session-level settings belong in the SparkSession conf instead.
  *
  * The scan strips comments, string and character literals, then tracks
  * brace nesting to tell an object body from a method or block body. */
class NoSwitchesSpec extends AnyFunSuite {
  private val root = new File("src/main/scala/graft")
  private val scannedDirs = Seq("operators", "llm", "functions", "streaming", "sources")
  private val scannedFiles = Seq("GraftQuery.scala", "SessionMemo.scala")

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f)
    else Nil

  private def sources: Seq[File] =
    scannedDirs.flatMap(d => scalaFiles(new File(root, d))) ++
      scannedFiles.map(new File(root, _))

  /** `src` with every comment and literal blanked to spaces (newlines
    * kept, so offsets still map to line numbers). */
  private def codeOnly(src: String): String = {
    val out = new StringBuilder(src.length)
    val n = src.length
    var i = 0
    def at(p: String) = src.startsWith(p, i)
    /** End offset (exclusive) of the comment or literal starting at `i`,
      * or -1 when `i` starts plain code. */
    def skipped: Int =
      if (at("//")) { val e = src.indexOf('\n', i); if (e < 0) n else e }
      else if (at("/*")) {
        var j = i + 2
        var depth = 1 // Scala block comments nest
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        j
      } else if (at("\"\"\"")) {
        var j = src.indexOf("\"\"\"", i + 3)
        if (j < 0) n
        else { j += 3; while (j < n && src(j) == '"') j += 1; j } // `""""` closes on the last three
      } else if (at("\"")) {
        var j = i + 1
        while (j < n && src(j) != '"') j += (if (src(j) == '\\') 2 else 1)
        math.min(n, j + 1)
      } else if (at("'") && i + 2 < n) {
        val close =
          if (src(i + 1) == '\\') src.indexOf('\'', i + 3)
          else if (src(i + 2) == '\'') i + 2
          else -1
        if (close > 0 && close <= i + 7) close + 1 else -1
      } else -1
    while (i < n) {
      val end = skipped
      if (end < 0) { out += src(i); i += 1 }
      else {
        src.substring(i, end).foreach(c => out += (if (c == '\n') '\n' else ' '))
        i = end
      }
    }
    out.toString
  }

  private val EnvRead = """\b(sys\s*\.\s*(env|props)|System\s*\.\s*(getenv|getProperty))\b""".r
  private val ObjectHeader =
    """(?s).*\bobject\s+[\w$]+(?:(?!\b(?:def|val|var|class|trait|object|new)\b)[^{}=;])*$""".r
  private val VarWord = """\bvar\b""".r

  /** Offsets of every `var` declared directly in an object body. */
  private def objectVars(code: String): Seq[Int] = {
    var stack = List.empty[Boolean] // true = this brace opened an object body
    var lastBoundary = 0
    val found = Seq.newBuilder[Int]
    val varAt = VarWord.findAllMatchIn(code).map(_.start).toSet
    var i = 0
    while (i < code.length) {
      code(i) match {
        case '{' =>
          val header = code.substring(lastBoundary, i)
          stack ::= header.contains("object") && ObjectHeader.matches(header)
          lastBoundary = i + 1
        case '}' =>
          assert(stack.nonEmpty, s"unbalanced '}' at offset $i")
          stack = stack.tail
          lastBoundary = i + 1
        case ';' => lastBoundary = i + 1
        case _ =>
          if (varAt(i) && stack.headOption.contains(true)) found += i
      }
      i += 1
    }
    assert(stack.isEmpty, s"${stack.size} unclosed '{'")
    found.result()
  }

  private def lineOf(code: String, offset: Int): Int =
    code.substring(0, offset).count(_ == '\n') + 1

  test("guard scanner: finds object vars and env reads, ignores locals, comments and literals") {
    val src =
      """object A extends Serializable {
        |  private[graft] var Hook = true // a switch
        |  val s = "sys.env { var x"
        |  val c = '{'
        |  /* var inComment = 1 */
        |  def f(): Int = { var local = 1; local }
        |  def g: Boolean = sys.props.get("k").isDefined
        |  object Inner { @volatile var flag = 0 }
        |}
        |class B { var fine = 1 }
        |""".stripMargin
    val code = codeOnly(src)
    assert(objectVars(code).map(lineOf(code, _)) === Seq(2, 8))
    assert(EnvRead.findAllMatchIn(code).map(m => lineOf(code, m.start)).toSeq === Seq(7))
  }

  test("query layers read no runtime switch and hold no object-level var") {
    val files = sources
    assert(files.size > 20 && files.forall(_.isFile), s"scan set not found under $root")
    val hits = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val code = try codeOnly(src.mkString) finally src.close()
      val rel = root.toPath.relativize(f.toPath)
      EnvRead.findAllMatchIn(code).map(m => s"$rel:${lineOf(code, m.start)}: ${m.matched} read") ++
        withClue(s"$rel: ")(objectVars(code)).map(o => s"$rel:${lineOf(code, o)}: var in object body")
    }
    assert(hits.isEmpty, hits.mkString("runtime switches found:\n", "\n", ""))
  }
}
