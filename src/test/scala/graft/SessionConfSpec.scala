package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** Library code must not change session conf that another query on the
  * same session can see, except through the one scoped helper
  * ([[Session.withConf]], which restores what it set). A source scan,
  * not a runtime check: a new `conf.set(` anywhere else in `src/main`
  * fails here before any query runs under it.
  */
class SessionConfSpec extends AnyFunSuite {

  /** (file name, enclosing def) of every place allowed to set conf:
    * the scoped helper only.
    */
  private val allowed = Set("Session.scala" -> "withConf")

  private val ConfWrite = """\bconf\.(set|unset)\(|\.setConf\(|setConfString\(""".r
  private val DefName = """\bdef\s+(\w+)""".r

  private def indent(l: String): Int = l.takeWhile(_ == ' ').length

  /** The def whose body holds line `i`: the nearest def above it that
    * is indented less than every non-blank line between the two.
    */
  private def enclosingDef(lines: IndexedSeq[String], i: Int): Option[String] = {
    var minIndent = indent(lines(i))
    (i - 1 to 0 by -1).iterator.map(lines).filter(_.trim.nonEmpty).map { l =>
      val found = DefName.findFirstMatchIn(l).filter(_ => indent(l) < minIndent)
      minIndent = math.min(minIndent, indent(l))
      found.map(_.group(1))
    }.collectFirst { case Some(name) => name }
  }

  test("no conf.set in src/main outside Session.withConf and Tables' nanosAsLong fallback") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val sites: Seq[(Path, Int, Option[String])] = files.flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter { i =>
        val t = lines(i).trim
        !t.startsWith("*") && !t.startsWith("//") && !t.startsWith("/*") &&
          ConfWrite.findFirstIn(lines(i)).nonEmpty
      }.map(i => (f, i + 1, enclosingDef(lines, i)))
    }
    val outside = sites.filterNot { case (f, _, d) =>
      d.exists(name => allowed(f.getFileName.toString -> name))
    }
    assert(outside.isEmpty, "session conf written outside the scoped helper:\n" +
      outside.map { case (f, n, d) => s"$f:$n (in ${d.getOrElse("?")})" }.mkString("\n"))
    // the allowed sites still exist, so the scan is not passing vacuously
    // against renamed helpers
    assert(sites.map { case (f, _, d) => f.getFileName.toString -> d.getOrElse("") }
      .toSet == allowed)
  }
}
