package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Bridge
import graft.functions.SchemaOps
import graft.sources.{FsUtil, StatsSidecar}

/** Canonical access to the driver-generated test tables.
  *
  * All tables are plain parquet files `<sfDir>/<name>.parquet`
  * (TPC-H-ish star schema + `events` + `documents` + `embeddings`,
  * see /root/repo/TESTDATA.md).
  *
  * `events.ts` has shipped in two physical layouts across data
  * generations, so the loader adapts to what the footer actually
  * says rather than assuming either one:
  *
  *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright
  *    ([PARQUET_TYPE_ILLEGAL]); we read it with
  *    `spark.sql.legacy.parquet.nanosAsLong` and floor-divide to
  *    microseconds — the same truncation DuckDB applies casting
  *    timestamp_ns to its microsecond TIMESTAMP, so oracle
  *    comparisons agree. Integer division (`div`) is deliberate:
  *    nanos-since-epoch (~1.7e18) exceeds Double's 2^53 exact range,
  *    so a floating-point division would corrupt microseconds.
  *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark reads
  *    TIMESTAMP_NTZ; we cast to the session-local TIMESTAMP (the
  *    session zone is pinned to UTC everywhere, so the cast is
  *    value-identity) to keep one downstream type for every event
  *    query and oracle.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spread a small input across the session's parallelism: a table
    * that arrives as a few tiny parquet files reads as one or two scan
    * partitions (Spark packs small files by BYTES up to
    * maxPartitionBytes, so a file count alone over- and under-counts
    * both ways: 40 tiny files pack into 1 partition; 1 big file
    * splits into many). The guard estimates the scan's partition
    * count from the plan's size statistics — metadata only, no
    * physical plan or RDD lineage materialization, so AQE's view of
    * the exchange is untouched. At real scale the estimate clears
    * `defaultParallelism` and this is a no-op. Callers should project
    * the columns they need BEFORE spreading — the round-robin exchange
    * shuffles whole rows, and a dragged-along `text` column is the
    * bulk of the table.
    */
  def spread(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val estParts = (bytes / maxPart).toLong + 1
    if (estParts < want) df.repartition(want) else df
  }

  /** Generic memoized-and-persisted frame, keyed per (session, tag) —
    * for query-local frames that a stats probe and the returned plan
    * BOTH traverse (a bare .cache() inside a query fn is never
    * unpersisted and pins storage for the session's lifetime; this
    * map is drained by [[dropMemos]] at Bench's phase boundary and
    * LRU-trimmed by [[trimStorage]] under a storage budget). Every
    * access stamps an LRU tick so [[trimStorage]] evicts the coldest
    * frame first. MEMORY_AND_DISK so pressure degrades to disk reads
    * instead of silently evicting hotter caches.
    */
  private final class MemoEntry(val df: DataFrame) {
    @volatile var lastUse: Long = 0L
  }
  private val lruTick = new java.util.concurrent.atomic.AtomicLong(0L)
  private val frameMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), MemoEntry]

  def memo(spark: SparkSession, tag: String)(build: => DataFrame): DataFrame = {
    register(spark)
    val e = frameMemo.getOrElseUpdate((spark, tag),
      new MemoEntry(build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    e.lastUse = lruTick.incrementAndGet()
    e.df
  }

  /** Hand an ALREADY-persisted frame to the memo LRU so [[trimStorage]]
    * owns its lifecycle — for helpers (FrameOps.partitionBy) that pin
    * a caller's frame as a side effect and have no natural unpersist
    * point. The frame is evicted coldest-first like any memo entry;
    * callers may still unpersist it themselves (double-unpersist is a
    * no-op in Spark).
    */
  def adopt(spark: SparkSession, tag: String, df: DataFrame): Unit = {
    register(spark)
    val e = frameMemo.getOrElseUpdate((spark, tag), new MemoEntry(df))
    e.lastUse = lruTick.incrementAndGet()
  }

  /** Sessions that have touched graft on this JVM (weak — dropped with
    * the session). [[trimStorage]] stage 2 consults this to avoid
    * destroying a sibling session's caches; a multi-session deployment
    * whose sibling sessions never call graft should register them
    * explicitly to get the same protection.
    */
  private val sessions = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean])

  def register(spark: SparkSession): Unit =
    sessions.synchronized { sessions.add(spark); () }

  /** Forget a session (e.g. a finished one-off `newSession`). The
    * registry is weak, so a dropped session is ALSO forgotten at the
    * next GC — but until then [[trimStorage]] conservatively treats
    * it as a live sibling and skips stage 2 (over-budget, never
    * data-destroying). Long-lived apps that churn sessions should
    * unregister on completion rather than rely on collector timing.
    */
  def unregister(spark: SparkSession): Unit =
    sessions.synchronized { sessions.remove(spark); () }

  private def hasLiveSibling(spark: SparkSession): Boolean =
    sessions.synchronized {
      import scala.jdk.CollectionConverters._
      sessions.asScala.exists(s =>
        (s ne spark) && !s.sparkContext.isStopped &&
          (s.sparkContext eq spark.sparkContext))
    }

  /** Unpersist and forget every memoized frame for `spark` (all table
    * dirs). Bench calls this at its warm→measured phase boundary —
    * `clearCache()` alone drops the storage but leaves the memo maps
    * pointing at unpersisted frames, which would silently recompute
    * (events) or pin dead plans for the JVM lifetime.
    */
  def dropMemos(spark: SparkSession): Unit = {
    frameMemo.filterInPlace { case ((s, _), e) =>
      if (s eq spark) { e.df.unpersist(); false } else !s.sparkContext.isStopped
    }
  }

  /** Bound the session's resident cache to `budgetBytes`. Round 3's
    * bench showed the failure mode this prevents: 180 queries in one
    * session, each memoizing/caching its family's frames, grew
    * storage monotonically until the last-sorted third of the suite
    * ran 3-9x slower than the same code a round earlier. A long-lived
    * real session has exactly the same monotone growth.
    *
    * Two stages, cheapest first:
    *  1. evict memoized frames in LRU order (coldest first) until
    *     under budget — hot frames (the events conversion, the
    *     current query family's corpora) survive;
    *  2. if still over budget the pressure is outside the memo maps
    *     (bare .cache() sites, localCheckpoint blocks from iterative
    *     operators), so do a full reset: clearCache + dropMemos +
    *     unpersist every remaining persistent RDD.
    *
    * Stage 2 is only safe BETWEEN units of work: a localCheckpointed
    * RDD's lineage is truncated, so a still-live frame built on one
    * cannot recompute after the sweep. Bench calls this between
    * queries; a library user should call it between jobs.
    *
    * Stage 2 is CONTEXT-wide, not session-scoped: clearCache and the
    * persistent-RDD sweep hit every session sharing the SparkContext
    * (Spark exposes no per-session storage registry), so another live
    * session's localCheckpoint blocks would be destroyed with no
    * lineage to recompute them. It therefore runs ONLY when this
    * session is the sole graft-registered session on the context: if a
    * live sibling exists (seen via [[memo]]/[[load]]/[[register]]),
    * stage 2 is skipped and the budget may stay exceeded — being over
    * budget degrades to disk, destroying a sibling's checkpoint blocks
    * loses data. Sibling sessions that never touch graft should be
    * [[register]]ed explicitly for the same protection.
    */
  def trimStorage(spark: SparkSession, budgetBytes: Long): Unit = {
    def resident: Long =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    if (resident <= budgetBytes) return
    val lru = frameMemo.toSeq
      .filter { case ((s, _), _) => s eq spark }
      .sortBy(_._2.lastUse)
    val it = lru.iterator
    var over = true
    while (over && it.hasNext) {
      val (k, e) = it.next()
      frameMemo.remove(k)
      e.df.unpersist(blocking = true)
      over = resident > budgetBytes
    }
    if (over && !hasLiveSibling(spark)) {
      spark.sharedState.cacheManager.clearCache()
      dropMemos(spark)
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    register(spark)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    name match {
      case "events" =>
        // memoized: the ts normalization sits under EVERY event
        // query, and re-reading + re-converting per call showed up as
        // whole-query regressions once the suite grew. Constant use
        // keeps its LRU tick fresh, so trimStorage evicts it last.
        memo(spark, s"events#$sfDir") {
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          val raw = read(spark, s"$sfDir/events.parquet")
          val tsCol = raw.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType => // TIMESTAMP(NANOS) gen
              expr("timestamp_micros(ts div 1000)")
            case _: org.apache.spark.sql.types.TimestampNTZType => // µs NTZ gen
              col("ts").cast("timestamp")
            case _ => col("ts")
          }
          raw.withColumn("ts", tsCol)
        }
      case other => read(spark, s"$sfDir/$other.parquet")
    }
  }

  /** An input table — one parquet file or a directory of them — read in
    * the unified schema of its footers (`StatsSidecar.footers`: about a
    * millisecond a file, no Spark job; the converter is built where the
    * footers are read, as a serialized `SQLConf` loses its reader).
    * Nothing is remembered between loads, so a table regenerated at the
    * same path reads in its new schema.
    */
  private def read(spark: SparkSession, p: String): DataFrame = {
    val conf = spark.conf.getAll
    val schemas = StatsSidecar.footers(spark, FsUtil.listParquet(p)) {
      val toSchema = Bridge.footerSchema(conf)
      (_, m) => toSchema(m)
    }
    spark.read.schema(SchemaOps.unify(schemas)).parquet(p)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
