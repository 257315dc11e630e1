package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the leveled artifact layout behind `sources/Levels.scala`: no
  * other main source may spell a level name (`__batch=`) or a staging
  * name in code. The one allowed spelling is each sink's per-batch
  * landing path `<root>/__batch=$batchId`, which BatchLineageSpec reads
  * as the sink's write site. Comments do not count. */
class LevelsBoundarySpec extends AnyFunSuite {

  private val Owner = "sources/Levels.scala"
  private val StagingNames = Seq("_compacting", "_retired", "_staged_", "_staging_kmfold")
  private val Landing = "/__batch=$batchId"

  /** `src` with every comment blanked out; string literals are kept. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0 // block-comment nesting
    var str: String = null // the open string delimiter, if any
    while (i < src.length) {
      val c = src(i)
      if (depth > 0) {
        if (src.startsWith("*/", i)) { depth -= 1; i += 2 }
        else if (src.startsWith("/*", i)) { depth += 1; i += 2 }
        else { if (c == '\n') out += '\n'; i += 1 }
      } else if (str != null) {
        if (str == "\"" && c == '\\') { out ++= src.substring(i, i + 2); i += 2 }
        else if (src.startsWith(str, i)) { out ++= str; i += str.length; str = null }
        else { out += c; i += 1 }
      } else if (src.startsWith("//", i)) {
        while (i < src.length && src(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) { depth = 1; i += 2 }
      else if (src.startsWith("\"\"\"", i)) { str = "\"\"\""; out ++= str; i += 3 }
      else if (c == '"') { str = "\""; out += c; i += 1 }
      else if (c == '\'' && i + 2 < src.length && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3); i += 3
      } else if (c == '\'' && i + 3 < src.length && src(i + 1) == '\\' &&
          src(i + 3) == '\'') {
        out ++= src.substring(i, i + 4); i += 4
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** The banned spellings in `src`'s code, one `line: text` per hit. */
  private def violations(src: String): Seq[String] =
    code(src).linesIterator.zipWithIndex.flatMap { case (line, n) =>
      val bare = line.replace(Landing, "")
      val hits = ("__batch=" +: StagingNames).filter(bare.contains)
      if (hits.isEmpty) None
      else Some(s"${n + 1}: ${hits.mkString(", ")}: ${line.trim}")
    }.toSeq

  test("the comment stripper keeps code and strings, drops comments") {
    val src = "val a = s\"$root/__batch=-1\" // __batch=\n" +
      "/** _compacting /* nested */ _retired */ val b = \"x\"\n" +
      "val c = \"\"\"_staged_\"\"\"; val d = '\"'; val e = s\"$r/__batch=$batchId\""
    assert(violations(src).map(_.takeWhile(_ != ':')) == Seq("1", "3"))
    assert(violations(src).head.contains("__batch="))
    assert(violations(src)(1).contains("_staged_"))
  }

  test("no main code outside sources/Levels.scala names a level or a staging dir") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator()
    var hits = Seq.empty[String]
    while (files.hasNext) {
      val p = files.next()
      val rel = root.relativize(p).toString.replace('\\', '/')
      if (rel.endsWith(".scala") && !rel.endsWith(Owner)) {
        val src = new String(java.nio.file.Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        hits ++= violations(src).map(v => s"$rel:$v")
      }
    }
    assert(hits.isEmpty, "the leveled layout leaked out of " + Owner +
      " — name levels and staging dirs through graft.sources.Levels:\n" +
      hits.mkString("\n"))
  }
}
