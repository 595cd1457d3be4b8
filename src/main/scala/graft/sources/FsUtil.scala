package graft.sources

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Local-filesystem helpers for the dataset layer. Paths are plain
  * local paths (the driver environment); the same operations map to
  * Hadoop FileSystem calls on s3a/hdfs — the dataset layer only needs
  * list / delete / atomic-rename.
  */
object FsUtil {

  /** Recursive listing of data files, absolute paths, sorted. Sidecar
    * and temp dirs (`_`-prefixed) are skipped — physical data files
    * are authoritative (reference ADR 0001). A file root lists itself.
    */
  def listParquet(root: String): Seq[String] = {
    val base = Paths.get(stripScheme(root))
    if (!Files.exists(base)) return Nil
    if (Files.isRegularFile(base)) return Seq(base.toString)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    def walk(p: Path): Unit = {
      val entries = Files.list(p).iterator().asScala.toSeq
      entries.foreach { e =>
        val n = e.getFileName.toString
        if (Files.isDirectory(e)) { if (!n.startsWith("_") && !n.startsWith(".")) walk(e) }
        else if (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
          out += e.toString
      }
    }
    walk(base)
    out.sorted.toSeq
  }

  /** Dataset-relative form of an absolute or URI file path. */
  def relativize(root: String, file: String): String = {
    val r = stripScheme(root).stripSuffix("/")
    val f = stripScheme(file)
    if (f.startsWith(r + "/")) f.substring(r.length + 1) else f
  }

  def stripScheme(p: String): String =
    if (p.startsWith("file:")) {
      // file:/x, file:///x and URL-encoded forms all normalize to /x
      try new java.net.URI(p).getPath
      catch { case _: Exception => p.stripPrefix("file:").dropWhile(_ == '/').prepended('/') }
    } else p

  /** Delete data files. `graft.fs.delete.failAfter=N` is a test-only
    * chaos hook failing the (N+1)-th delete, so the post-promote
    * cleanup contract (Merge/compaction) is exercised through the real
    * path.
    */
  def delete(root: String, files: Seq[String]): Unit = {
    val failAfter = sys.props.get("graft.fs.delete.failAfter").map(_.toInt)
    var done = 0
    files.foreach { f =>
      if (failAfter.exists(_ <= done))
        throw new java.io.IOException("injected delete failure (chaos hook)")
      Files.deleteIfExists(Paths.get(stripScheme(f)))
      done += 1
    }
  }

  def deleteRecursively(path: String): Unit = {
    val p = Paths.get(stripScheme(path))
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

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

  /** Rename mode. Local/HDFS filesystems get per-file ATOMIC_MOVE; an
    * object store degrades rename to copy+delete (s3a semantics: each
    * object lands atomically, but the file SET appears one by one and
    * a failure can leave both staged and landed copies). Deployments
    * and tests opt into the degraded path with
    * `-Dgraft.fs.rename=degraded`; `graft.fs.rename.failAfter=N` is a
    * test-only chaos hook that fails the (N+1)-th per-file move so the
    * documented mid-swap contract is exercised through the real code
    * path, not a simulation.
    */
  private def renameDegraded: Boolean =
    sys.props.get("graft.fs.rename").contains("degraded")

  /** Move every data file under `srcDir` into `dstDir`, preserving
    * relative (partition) subpaths. Per-file rename is atomic on a
    * local/HDFS filesystem; in degraded (object-store) mode each file
    * is copied then deleted — see [[renameDegraded]]. Directory
    * creation is idempotent. Callers sequence promote BEFORE deleting
    * originals, so the worst failure state is duplicate visibility,
    * never row loss.
    *
    * Round-10 scale fix: the per-file moves run on a bounded thread
    * pool (`graft.fs.promote.threads`, default 16). A 100 TB
    * compaction wave can stage 10⁴–10⁵ files, and renames — or
    * copy+delete in degraded mode — are independent per-file metadata
    * ops that an object store serves concurrently; a serial driver
    * loop was the one remaining single-threaded stage on the write
    * path. Failure reporting stays EXACT: results are tracked per
    * staged index, so `PromoteFailedException.promoted`/`remaining`
    * partition the staged listing precisely (in listing order) no
    * matter which concurrent move failed. The chaos hook
    * (`graft.fs.rename.failAfter=N`, test-only) forces pool size 1 so
    * "fails the (N+1)-th move, N landed" stays deterministic.
    */
  def promote(srcDir: String, dstDir: String): Seq[String] = {
    val failAfter = sys.props.get("graft.fs.rename.failAfter").map(_.toInt)
    val staged = listParquet(srcDir)
    if (staged.isEmpty) { deleteRecursively(srcDir); return Nil }
    val degraded = renameDegraded
    // probe-only: per-move latency injection (graft.fs.rename.latencyMs)
    // models an object store's ~10–100 ms per-op round trip, which
    // local-FS renames can't reproduce — see PromoteProbe / SCALE.md
    val latencyMs = sys.props.get("graft.fs.rename.latencyMs").map(_.toLong)
    // Mode-aware pool default (round-11): the capacity probe shows the
    // pool wins everywhere EXCEPT local degraded copy+delete (pure
    // page-cache memcpy — 16 threads contend on one disk queue and
    // lose to serial ~3×). Local atomic rename and latency-bound
    // (object-store) moves both want the wide pool. The prop override
    // wins in every mode; the chaos hook still forces 1 so "fails the
    // (N+1)-th move, N landed" stays deterministic.
    val defaultThreads = if (degraded && latencyMs.isEmpty) 1 else 16
    val threads =
      if (failAfter.isDefined) 1
      else math.max(1, math.min(staged.size,
        sys.props.get("graft.fs.promote.threads").map(_.toInt)
          .getOrElse(defaultThreads)))
    // parent dirs first, deduped and serial: cheap, and keeps the
    // concurrent section to pure per-file moves. A failure here means
    // NOTHING moved — same recovery contract as a first-file failure.
    try staged.map(f =>
        Paths.get(stripScheme(dstDir), relativize(srcDir, f)).getParent)
      .distinct.foreach(Files.createDirectories(_))
    catch { case e: Throwable =>
      throw new PromoteFailedException(Nil, staged, e)
    }
    val landed = new Array[String](staged.size) // slot i = dst path or null
    val firstFailure =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      staged.zipWithIndex.foreach { case (f, i) =>
        pool.execute(() => {
          if (firstFailure.get() == null) {
            try {
              if (failAfter.exists(_ <= i))
                throw new java.io.IOException(
                  "injected promote failure (chaos hook)")
              latencyMs.foreach(Thread.sleep)
              val dst = Paths.get(stripScheme(dstDir), relativize(srcDir, f))
              if (degraded) {
                Files.copy(Paths.get(f), dst, StandardCopyOption.REPLACE_EXISTING)
                Files.delete(Paths.get(f))
              } else
                Files.move(Paths.get(f), dst, StandardCopyOption.ATOMIC_MOVE)
              landed(i) = dst.toString
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
      // failure (round-11, advisor): some moves may already have
      // landed, so the caller needs the exact promoted/remaining
      // partition — a bare IOException would strand Merge/Maintenance
      // with no payload. The snapshot races any still-running move by
      // construction (that is what a timeout means): a move that lands
      // AFTER the snapshot is reported as `remaining`, which is the
      // CONSERVATIVE direction — retry/cleanup re-lists the staging
      // dir, and a file reported staged but actually landed is just
      // absent from the re-listing (duplicate visibility until
      // cleanup, never row loss — the promote contract's worst case).
      if (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)) {
        val promoted = staged.indices.collect {
          case i if landed(i) != null => landed(i) }
        val remaining = staged.indices.collect {
          case i if landed(i) == null => staged(i) }
        throw new PromoteFailedException(promoted, remaining,
          new java.io.IOException("promote thread pool timed out"))
      }
    } finally pool.shutdownNow()
    Option(firstFailure.get()).foreach { e =>
      val promoted = staged.indices.collect {
        case i if landed(i) != null => landed(i) }
      val remaining = staged.indices.collect {
        case i if landed(i) == null => staged(i) }
      throw new PromoteFailedException(promoted, remaining, e)
    }
    deleteRecursively(srcDir)
    staged.indices.map(landed)
  }

  def exists(p: String): Boolean = Files.exists(Paths.get(stripScheme(p)))
}
