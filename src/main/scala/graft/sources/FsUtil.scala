package graft.sources

import java.io.{FileNotFoundException, IOException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The dataset layer's file operations — list, create, rename, delete
  * and exists — on the Hadoop `FileSystem` that serves each path's
  * scheme, configured from the active session's Hadoop configuration.
  * A plain path resolves to the default filesystem (`file:` unless
  * configured otherwise); a `file:` path comes back plain, any other
  * scheme keeps its URI.
  *
  * The layer asks of the filesystem only that one file lands whole:
  * per-file rename on `file:`/hdfs is atomic, an object store's
  * copy+delete rename lands each file whole but a set of files one by
  * one. Callers sequence promote before deleting originals, so the
  * worst failure state of either is duplicate visibility, never row
  * loss. Hadoop reports some failures only as a `false` return from
  * `rename`, `delete` or `mkdirs`; each of those throws here.
  */
object FsUtil {

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .fold(new Configuration())(_.sparkContext.hadoopConfiguration)

  /** The filesystem serving `p`. */
  def fs(p: String): FileSystem = new Path(p).getFileSystem(hadoopConf)

  /** `p` as the layer names files and roots: a plain path on `file:`,
    * a URI elsewhere (`objstore:///x` is `objstore:/x`).
    */
  def name(p: String): String = name(new Path(p))

  def name(p: Path): String = p.toUri.getScheme match {
    case null | "file" => p.toUri.getPath
    case _ => p.toString
  }

  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new IOException(s"$what failed")

  /** Every file under `root` with its status, skipping `_`- and
    * `.`-prefixed entries (sidecar, staging dirs, checksums); a file
    * root is itself, a missing root empty. Children are named under
    * `root` as given, so a relative root lists relative paths, as
    * `relativize` expects.
    */
  def walk(root: String): Seq[(Path, FileStatus)] = {
    val base = new Path(root)
    val f = fs(root)
    val top = try f.getFileStatus(base) catch { case _: FileNotFoundException => return Nil }
    def go(dir: Path): Seq[(Path, FileStatus)] = f.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.startsWith("_") || n.startsWith(".")) Nil
      else if (st.isDirectory) go(new Path(dir, n))
      else Seq(new Path(dir, n) -> st)
    }
    if (top.isFile) Seq(base -> top) else go(base)
  }

  /** Data files under `root`, sorted — physical data files are
    * authoritative (reference ADR 0001). A file root lists itself.
    */
  def listParquet(root: String): Seq[String] = dataFiles(root).map(_._1)

  /** [[listParquet]] with each file's length and modification time:
    * the key of one version of the files under `root`.
    */
  def dataFiles(root: String): Seq[(String, Long, Long)] = walk(root).collect {
    case (p, st) if p.getName.endsWith(".parquet") || p == new Path(root) =>
      (name(p), st.getLen, st.getModificationTime)
  }.sortBy(_._1)

  /** Entry names directly under `dir` (none if it is missing). */
  def children(dir: String): Seq[String] =
    try fs(dir).listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
    catch { case _: FileNotFoundException => Nil }

  /** Dataset-relative form of an absolute or URI file path. */
  def relativize(root: String, file: String): String = {
    val r = stripScheme(root).stripSuffix("/")
    val f = stripScheme(file)
    if (f.startsWith(r + "/")) f.substring(r.length + 1) else f
  }

  /** The path part of a URI (`file:/x`, `file:///x`, `s3a://b/x` and
    * URL-encoded forms); a plain path as is.
    */
  def stripScheme(p: String): String =
    if (!p.matches("^[a-zA-Z][a-zA-Z0-9+.-]*:.*")) p
    else try new java.net.URI(p).getPath
    catch { case _: Exception => new Path(p).toUri.getPath }

  /** Delete data files under `root`; one already gone counts as deleted. */
  def delete(root: String, files: Seq[String]): Unit = {
    val f = fs(root)
    files.foreach { file =>
      val p = new Path(file)
      check(f.delete(p, false) || !f.exists(p), s"delete $file")
    }
  }

  def deleteRecursively(path: String): Unit = {
    val p = new Path(path)
    val f = fs(path)
    check(f.delete(p, true) || !f.exists(p), s"delete $path")
  }

  def rename(src: String, dst: String): Unit =
    check(fs(src).rename(new Path(src), new Path(dst)), s"rename $src -> $dst")

  def exists(p: String): Boolean = fs(p).exists(new Path(p))

  /** A mid-promote failure, carrying the recovery details the
    * operator needs (the reference's best-effort object-store
    * contract: "failed results retain recovery details for operator
    * cleanup"): which staged files already landed in the destination
    * and which remain staged. Originals are untouched either way —
    * promote runs strictly before any original is deleted — so the
    * dataset stays readable and row-complete (promoted rewrite files
    * may duplicate rows until cleanup; rows are never lost or torn).
    */
  final class PromoteFailedException(
      val promoted: Seq[String], val remaining: Seq[String], cause: Throwable)
    extends RuntimeException(
      s"promote failed after ${promoted.size} file(s); " +
        s"${remaining.size} still staged. Landed: ${promoted.mkString(", ")}",
      cause)

  /** Move every data file under `srcDir` into `dstDir`, preserving
    * relative (partition) subpaths, with one `rename` per file; parent
    * directories are created first.
    *
    * The renames run on a fixed pool of min(staged, 16) threads: a
    * 100 TB compaction wave can stage 10⁴–10⁵ files, and renames are
    * independent per-file metadata ops that an object store serves
    * concurrently (docs/SCALE.md §promote: this width wins both for
    * atomic rename and at 20 ms per object-store op). Failure reporting
    * stays exact: results are tracked per staged index, so
    * `PromoteFailedException.promoted`/`remaining` partition the staged
    * listing precisely (in listing order) no matter which concurrent
    * rename failed.
    */
  def promote(srcDir: String, dstDir: String): Seq[String] = {
    val staged = listParquet(srcDir)
    if (staged.isEmpty) { deleteRecursively(srcDir); return Nil }
    val f = fs(dstDir)
    val dst = staged.map(s => new Path(s"${dstDir.stripSuffix("/")}/${relativize(srcDir, s)}"))
    // parent dirs first, deduped and serial: cheap, and keeps the
    // concurrent section to pure per-file renames. A failure here means
    // NOTHING moved — same recovery contract as a first-file failure.
    try dst.map(_.getParent).distinct.foreach(d => check(f.mkdirs(d), s"mkdirs $d"))
    catch { case e: Throwable =>
      throw new PromoteFailedException(Nil, staged, e)
    }
    val landed = new Array[String](staged.size) // slot i = dst path or null
    val firstFailure =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(staged.size, 16))
    def failed(cause: Throwable) = new PromoteFailedException(
      staged.indices.collect { case i if landed(i) != null => landed(i) },
      staged.indices.collect { case i if landed(i) == null => staged(i) },
      cause)
    try {
      staged.indices.foreach { i =>
        pool.execute(() => {
          if (firstFailure.get() == null) {
            try {
              check(f.rename(new Path(staged(i)), dst(i)), s"rename ${staged(i)} -> ${dst(i)}")
              landed(i) = name(dst(i))
            } catch {
              case e: Throwable => firstFailure.compareAndSet(null, e)
            }
          }
        })
      }
      pool.shutdown()
      // promote is metadata I/O; an hour means the store is gone, and
      // hanging forever would wedge the whole write pipeline. A timeout
      // goes through the SAME recovery contract as any other promote
      // failure: some renames may already have landed, so the caller
      // needs the exact promoted/remaining partition — a bare
      // IOException would strand Merge/Maintenance with no payload. The
      // snapshot races any still-running rename by construction (that
      // is what a timeout means): one that lands AFTER the snapshot is
      // reported as `remaining`, which is the CONSERVATIVE direction —
      // retry/cleanup re-lists the staging dir, and a file reported
      // staged but actually landed is just absent from the re-listing
      // (duplicate visibility until cleanup, never row loss — the
      // promote contract's worst case).
      if (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS))
        throw failed(new IOException("promote thread pool timed out"))
    } finally pool.shutdownNow()
    Option(firstFailure.get()).foreach(e => throw failed(e))
    deleteRecursively(srcDir)
    landed.toSeq
  }
}
