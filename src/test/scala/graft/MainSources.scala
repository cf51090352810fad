package graft

import scala.jdk.CollectionConverters._
import org.scalatest.Assertions._

/** The code lines under `src/main/scala`, for contract tests that pin where
  * a definition is written. Block comments (scaladoc) are blanked, keeping
  * line numbers, and `//` lines are dropped. */
object MainSources {
  private lazy val codeLines: Seq[(java.nio.file.Path, Int, String)] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted
    files.flatMap { f =>
      val src = "(?s)/\\*.*?\\*/".r.replaceAllIn(java.nio.file.Files.readString(f),
        m => "\n" * m.matched.count(_ == '\n'))
      src.split("\n", -1).toSeq.zipWithIndex.collect {
        case (line, i) if !line.trim.startsWith("//") => (f, i, line)
      }
    }
  }

  /** The regex `pattern` must match exactly one code line, and that line
    * must sit inside the `def` or `val` named `name` of `file`. */
  def onlySite(pattern: String, file: String, name: String): Unit = {
    val re = pattern.r
    val hits = codeLines.filter(c => re.findFirstIn(c._3).isDefined)
    val found = hits.map { case (f, i, _) =>
      val enclosing = codeLines.filter(c => c._1 == f && c._2 <= i).map(_._3)
        .flatMap("\\b(?:def|val) (\\w+)".r.findFirstMatchIn(_)).lastOption.map(_.group(1))
      f.getFileName.toString -> enclosing.getOrElse("?")
    }
    assert(found == Seq(file -> name),
      s"$pattern written ${hits.size} times: " +
        hits.map(h => s"${h._1.getFileName}:${h._2 + 1}").mkString(", "))
  }
}
