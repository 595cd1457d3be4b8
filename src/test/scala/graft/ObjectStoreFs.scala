package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FileUtil, Path, RawLocalFileSystem}

/** The local disk served as an object store under the `objstore:`
  * scheme (registered by [[SparkTestSession]] as
  * `spark.hadoop.fs.objstore.impl`), with s3a's semantics:
  *  - rename is copy+delete: each file lands whole, but a set of files
  *    lands one by one, and a failure between the two leaves both;
  *  - listing is not atomic: a directory's entries are read, then each
  *    is looked up, so a listing running beside a rename or delete can
  *    see part of it;
  *  - no checksum files.
  *
  * One failure hook, [[ObjectStoreFs.failingAfter]], fails every
  * promote rename or every original delete after the first `n`; one
  * ledger, [[ObjectStoreFs.dataOpens]], counts the data files a thread
  * opens.
  */
class ObjectStoreFs extends RawLocalFileSystem {

  override def getUri: URI = ObjectStoreFs.Uri

  override def getScheme: String = ObjectStoreFs.Uri.getScheme

  override def rename(src: Path, dst: Path): Boolean = {
    ObjectStoreFs.trip(ObjectStoreFs.Promote, ObjectStoreFs.isPromote(src, dst))
    // the delete half goes around the hook: it is not an original's
    FileUtil.copy(this, src, this, dst, false, getConf) && super.delete(src, true)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    ObjectStoreFs.trip(ObjectStoreFs.Retire, ObjectStoreFs.isOriginal(p))
    super.delete(p, recursive)
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    ObjectStoreFs.opened(p)
    super.open(p, bufferSize)
  }
}

object ObjectStoreFs {

  val Uri: URI = URI.create("objstore:///")

  /** Local directory `dir` on this filesystem. */
  def path(dir: String): String = s"objstore://$dir"

  sealed trait Op
  /** A data file renamed out of a `_tmp_` staging dir into the dataset. */
  case object Promote extends Op
  /** A data file deleted outside the staging and commit dirs (the
    * sidecar and other `_`-prefixed names are not data files).
    */
  case object Retire extends Op

  @volatile private var armed: Option[(Op, Int)] = None
  private val calls = new AtomicInteger

  /** Runs `body` with every `op` call after the first `n` failing.
    * Failing every later call, not just the next one, keeps exactly
    * `n` landed however many renames promote runs at once. Spark's
    * commit renames (into a staging dir or out of `_temporary`) and
    * the copy+delete inside a rename never count.
    */
  def failingAfter[T](op: Op, n: Int)(body: => T): T = {
    calls.set(0)
    armed = Some(op -> n)
    try body finally armed = None
  }

  @volatile private var ledger: Option[(Thread, ConcurrentHashMap[String, Int])] = None

  /** The data files the calling thread opens inside `body`, with how
    * often: a file is named by its local path with any staging dir left
    * out, so a staged file and the file it is promoted to are one. The
    * stats sidecar's part files are not data files; opens of files in
    * Spark's `_temporary` commit dir (the copy half of a commit rename)
    * and from other threads (Spark's executor tasks, which read data,
    * not footers) do not count.
    */
  def dataOpens(body: => Any): Map[String, Int] = {
    val m = new ConcurrentHashMap[String, Int]
    ledger = Some(Thread.currentThread() -> m)
    try body finally ledger = None
    m.asScala.toMap
  }

  private def opened(p: Path): Unit = ledger.foreach { case (t, m) =>
    if ((Thread.currentThread() eq t) && isData(p) && !commit(p) && !in(p, _.startsWith("_graft_stats")))
      m.merge(p.toUri.getPath.split("/").filterNot(_.startsWith("_tmp_")).mkString("/"), 1, _ + _)
  }

  private def trip(op: Op, counted: Boolean): Unit = armed match {
    case Some((`op`, n)) if counted && calls.getAndIncrement() >= n =>
      throw new IOException(s"injected $op failure")
    case _ =>
  }

  private def in(p: Path, dir: String => Boolean) = p.toUri.getPath.split("/").exists(dir)
  private def staging(p: Path) = in(p, _.startsWith("_tmp_"))
  private def commit(p: Path) = in(p, _ == "_temporary")
  private def isData(p: Path) = p.getName.endsWith(".parquet") && !p.getName.startsWith("_")
  private def isOriginal(p: Path) = isData(p) && !staging(p) && !commit(p)
  private def isPromote(src: Path, dst: Path) =
    isData(src) && staging(src) && !commit(src) && isOriginal(dst)
}
