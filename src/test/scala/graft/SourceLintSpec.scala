package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source lint for storage ownership: an iterative operator frees the
  * checkpoint blocks it owns by handle (`Graph.releaseCheckpoint`),
  * never by diffing `SparkContext.getPersistentRDDs` around a call — a
  * diff also frees whatever another query on the same SparkContext
  * persisted meanwhile, whose next read then fails with
  * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND. The one global sweep allowed is
  * `Sessions.reset`, which the mains run between whole queries.
  */
class SourceLintSpec extends AnyFunSuite {

  /** Offsets in `src` where `call` appears outside comments
    * and outside `allowedDef`'s body (from its `def` to the next
    * top-level member or the end of the file). */
  private def offending(src: String, call: String,
                        allowedDef: Option[String]): Seq[Int] = {
    val code = src.replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("//[^\n]*", "")
    val allowed = allowedDef.map(d => code.indexOf(s"def $d("))
      .filter(_ >= 0).map { from =>
        val next = code.indexOf("\n  def ", from + 1)
        from until (if (next < 0) code.length else next)
      }
    Iterator.iterate(code.indexOf(call))(i => code.indexOf(call, i + 1))
      .takeWhile(_ >= 0)
      .filterNot(i => allowed.exists(_.contains(i)))
      .toSeq
  }

  test("getPersistentRDDs is called only in Sessions.reset") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.getFileName.toString == "Sessions.scala"))
    val offenders = files.filter { f =>
      val allowed =
        if (f.getFileName.toString == "Sessions.scala") Some("reset")
        else None
      offending(new String(Files.readAllBytes(f), UTF_8),
        "getPersistentRDDs", allowed).nonEmpty
    }
    assert(offenders.isEmpty,
      s"global persistent-RDD diff outside Sessions.reset in: " +
        offenders.mkString(", "))
  }

  test("the lint flags a call outside the allowed def, not inside it " +
    "or in a comment") {
    val src =
      """object S {
        |  // sc.getPersistentRDDs in a comment
        |  def reset(): Unit = sc.getPersistentRDDs.values.foreach(x)
        |  def other(): Unit = sc.getPersistentRDDs.keySet
        |}""".stripMargin
    assert(offending(src, "getPersistentRDDs", Some("reset")).size === 1)
    assert(offending(src, "getPersistentRDDs", Some("other")).size === 1)
    assert(offending(src, "getPersistentRDDs", None).size === 2)
  }
}
