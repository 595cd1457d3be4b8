package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Guards the management layer's seams: only `sources/Swap.scala`
  * (and `FsUtil`, which implements promote) may stage, promote or
  * observe counts, so a second copy of the copy-on-write swap cannot be
  * forked back into an operator; only `ParquetDataset` reads a
  * dataset's files by path, so every reader shares its one schema; only
  * `StatsSidecar` opens data-file footers, and only the dataset version
  * and the swap ask it for their stats; and every file operation goes
  * through the dataset's Hadoop filesystem.
  */
class SwapSeamSpec extends AnyFunSuite {

  private val forbidden = Seq("FsUtil.promote", "_tmp_", "org.apache.spark.sql.Observation")

  /** Source text without comments: docs may name the staging dirs. A
    * `//` right after a `:` opens a URI, not a comment.
    */
  private def code(text: String): String =
    text.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("(?<!:)//[^\n]*", "")

  /** `tokens` found in the code of the management layer's files
    * other than `allowed`.
    */
  private def offenders(tokens: Seq[String], allowed: Set[String]): Seq[String] = {
    val files = Seq("operators", "sources").flatMap { d =>
      val st = Files.list(Paths.get("src/main/scala/graft", d))
      try st.iterator().asScala.toSeq finally st.close()
    }.filter(_.toString.endsWith(".scala"))
    assert(files.exists(_.getFileName.toString == "Merge.scala"), "sources not found")
    for {
      f <- files if !allowed(f.getFileName.toString)
      text = code(Files.readString(f))
      token <- tokens if text.contains(token)
    } yield s"${f.getFileName}: $token"
  }

  test("only the swap module stages, promotes or observes counts") {
    val found = offenders(forbidden, Set("Swap.scala", "FsUtil.scala"))
    assert(found.isEmpty, found.mkString("; "))
  }

  test("only ParquetDataset reads a dataset's files by path") {
    // a bare read infers its schema from one footer; a basePath read
    // picks its own; both bypass the dataset's one schema
    val found = offenders(Seq("read.parquet(", "\"basePath\""), Set("ParquetDataset.scala"))
    assert(found.isEmpty, found.mkString("; "))
  }

  test("only StatsSidecar opens data-file footers") {
    // one reader with one driver/executor size rule; a second opener
    // brings back a second rule
    val found = offenders(Seq("StatsSidecar.footer(", "readFooter(", "collectDF(", "footerTasks("),
      Set("StatsSidecar.scala"))
    assert(found.isEmpty, found.mkString("; "))
  }

  test("only the dataset version and the swap read footers through StatsSidecar") {
    // each footer is read once, into the dataset version (a swap's staged
    // files by the swap); a planner reads the version, not a footer pass
    // of its own
    val found = offenders(Seq("StatsSidecar.footers(", "colStats("),
      Set("ParquetDataset.scala", "Swap.scala", "StatsSidecar.scala"))
    assert(found.isEmpty, found.mkString("; "))
  }

  test("no local-filesystem API or filesystem property in the management layer") {
    // a java.nio path or a file:// literal binds a dataset to the local
    // disk; behaviour per filesystem belongs to the filesystem, not to
    // a graft.fs.* switch
    val found = offenders(Seq("java.nio.file", "Paths.get", "file://", "graft.fs."), Set.empty)
    assert(found.isEmpty, found.mkString("; "))
  }
}
