package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the one-swap seam: only `sources/Swap.scala` (and `FsUtil`,
  * which implements promote) may stage, promote or observe counts in
  * the management layer, so a second copy of the copy-on-write swap
  * cannot be forked back into an operator.
  */
class SwapSeamSpec extends AnyFunSuite {

  private val forbidden = Seq("FsUtil.promote", "_tmp_", "org.apache.spark.sql.Observation")

  /** Source text without comments: docs may name the staging dirs. */
  private def code(text: String): String =
    text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")

  test("only the swap module stages, promotes or observes counts") {
    val files = Seq("operators", "sources").flatMap { d =>
      val st = Files.list(Paths.get("src/main/scala/graft", d))
      try st.iterator().asScala.toSeq finally st.close()
    }.filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.getFileName.toString == "Merge.scala"), "sources not found")
    val offenders = for {
      f <- files if !Set("Swap.scala", "FsUtil.scala")(f.getFileName.toString)
      text = code(Files.readString(f))
      token <- forbidden if text.contains(token)
    } yield s"${f.getFileName}: $token"
    assert(offenders.isEmpty, offenders.mkString("; "))
  }
}
