package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every top-level `object` in the operator and function libraries
  * (`src/main/scala/graft/{operators,functions}`) is named in the code
  * of some other `src/main` file: a query, a job or another operator
  * reaches it. Comments do not count, so a scaladoc link alone does not
  * keep an object alive. Library code that only its own spec calls
  * belongs nowhere in `src/main`; delete it with its spec.
  */
class LibraryReachCensusSpec extends AnyFunSuite {

  private val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
      .map(f => f.toString -> Files.readString(f))
  }

  private def code(text: String): String =
    text.replaceAll("(?s)/\\*.*?\\*/", " ").replaceAll("//[^\n]*", " ")

  test("every operator and function object is named by another src/main file") {
    val library = Seq("graft/operators/", "graft/functions/")
    val objects = sources.collect {
      case (file, text) if library.exists(d => file.replace('\\', '/').contains(d)) =>
        """(?m)^object\s+(\w+)""".r.findAllMatchIn(text).map(m => file -> m.group(1))
    }.flatten
    assert(objects.size >= 10, s"census found only ${objects.size} objects")
    val unreached = objects.filterNot { case (file, name) =>
      val named = s"\\b$name\\b".r
      sources.exists { case (other, text) =>
        other != file && named.findFirstIn(code(text)).isDefined }
    }
    assert(unreached.isEmpty,
      unreached.map { case (f, n) => s"$n ($f) is named by no other src/main file" }
        .mkString("\n"))
  }
}
