package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every fully qualified `[[graft.…]]` scaladoc link in `src/main/scala`
  * resolves: its package declares the named object, class or trait, and
  * a named member is defined in the declaring file. Deleting or renaming
  * a link target means rewriting the links to it in the same change.
  */
class DocLinkCensusSpec extends AnyFunSuite {

  private val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList)
      .map(f => f.toString -> Files.readString(f))
  }

  private def unresolved(link: String): Option[String] = {
    val parts = link.split('.').toSeq
    parts.indexWhere(_.head.isUpper) match {
      case -1 => Some(s"$link names no type")
      case at =>
        val pkg = parts.take(at).mkString(".")
        val inPackage = s"(?m)^package\\s+${java.util.regex.Pattern.quote(pkg)}\\s*$$".r
        val declared = s"\\b(object|class|trait)\\s+${parts(at)}\\b".r
        val decls = sources.filter { case (_, text) =>
          inPackage.findFirstIn(text).isDefined && declared.findFirstIn(text).isDefined }
        if (decls.isEmpty) Some(s"$link: package $pkg declares no ${parts(at)}")
        else parts.drop(at + 1).find { m =>
          val defined = s"\\b(def|val|object|class)\\s+$m\\b".r
          !decls.exists { case (_, text) => defined.findFirstIn(text).isDefined }
        }.map(m => s"$link: ${decls.map(_._1).mkString(", ")} defines no $m")
    }
  }

  test("every [[graft.…]] link in src/main names a declared type and member") {
    val links = sources.flatMap { case (_, text) =>
      """\[\[(graft(?:\.\w+)+)\]\]""".r.findAllMatchIn(text).map(_.group(1))
    }.distinct
    assert(links.size > 40, s"census found only ${links.size} links")
    val broken = links.flatMap(unresolved)
    assert(broken.isEmpty, broken.mkString("\n"))
  }
}
