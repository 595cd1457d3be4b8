package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Maintenance, Merge}
import graft.sources.{CsvDataset, JsonDataset, ParquetDataset, SortKey, UniqueOn, WriteConfig, WritePipeline}

/** Dataset-lifecycle round trips, oracle-gated.
  *
  * Every other oracle query is a pure relational read; these five put
  * the FILE layer — the normalizing write pipeline, compaction, keyed
  * merge with copy-on-write rewrites, and the CSV/JSON sources — under
  * the same DuckDB hash gate. Each query materializes a derived table
  * into a fresh temp directory, runs the lifecycle operation against
  * the physical files, then reads the dataset back and returns a
  * deterministic relation; the oracle computes the relational
  * equivalent directly from the source parquet (the write→maintain→
  * read-back plumbing must be value-preserving for the hashes to
  * meet). Reference behaviors gated here: pydala/io.py:381-437
  * (prepare), pydala/dataset.py:1549-1777 (merge), 1802-2391
  * (compaction), 2656-2774 (CSV/JSON datasets).
  *
  * Scale notes: the temp-dir writes are ordinary partitioned parquet
  * writes (one range/hash exchange each, zstd, bounded file sizes);
  * compaction planning is footer-metadata only; merge rewrites touch
  * only matched files. Runtime `require`s pin the PHYSICAL effects
  * (file counts shrink, rewrites happened) that the value hash alone
  * cannot see.
  */
object Lifecycle {

  /** Scratch dirs filled with parquet after creation — File.deleteOnExit
    * cannot remove non-empty directories, so a shutdown hook deletes
    * them recursively (a bench run creates ~24 of these; leaking full
    * dataset copies into /tmp across rounds would eventually fill the
    * disk). Nothing outside /tmp is ever touched.
    */
  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchDirs.forEach { p =>
        try {
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
        } catch { case _: Exception => } // best-effort cleanup
      }))
  }

  /** Read back a gate's own landing dir with the schema of the frame
    * that produced it (round-12, verdict #2): a bare
    * `spark.read.parquet` pays a footer-inference driver job per call.
    * Deep-nullable so the supplied schema is bit-identical to what
    * inference would return (Spark file sources expose every parquet
    * column as nullable).
    */
  private[queries] def readAs(s: SparkSession, dir: String,
                              like: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    s.read.schema(graft.functions.SchemaOps.asNullable(like)).parquet(dir)

  private[queries] def tmpDir(tag: String): String = {
    // SPARK_GRAFT_TMP_ROOT stages every gate's scratch (stream
    // sources, sinks, checkpoints, merge targets) on one controlled
    // volume — bench drift attribution needs the I/O lanes decoupled
    // from whatever java.io.tmpdir happens to be backed by.
    val p = sys.env.get("SPARK_GRAFT_TMP_ROOT") match {
      case Some(root) =>
        val r = java.nio.file.Paths.get(root)
        java.nio.file.Files.createDirectories(r)
        java.nio.file.Files.createTempDirectory(r, s"graft-$tag")
      case None => java.nio.file.Files.createTempDirectory(s"graft-$tag")
    }
    scratchDirs.add(p)
    p.toString
  }

  /** One memo-access pattern for every per-(session, sfDir) scalar:
    * evict entries of stopped sessions, then compute-once. A fresh
    * scan inside every timed execution would be pure bench overhead.
    */
  private def sessionMemo[T](
      memo: scala.collection.concurrent.TrieMap[(SparkSession, String), T])(
      s: SparkSession, d: String)(compute: => T): T = {
    memo.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    memo.getOrElseUpdate((s, d), compute)
  }

  /** orders row count, memoized: q108/q109 size their fragmented
    * writes from it.
    */
  private val countMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  private def ordersCount(s: SparkSession, d: String): Long =
    sessionMemo(countMemo)(s, d)(Tables.orders(s, d).count())

  /** events row count, memoized — q206 sizes its fragmented ts-sorted
    * write from it (~8 files at every sf).
    */
  private val evCountMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  private def eventsCount(s: SparkSession, d: String): Long =
    sessionMemo(evCountMemo)(s, d)(Tables.events(s, d).count())

  /** floor(max(o_orderkey)/4), memoized — q109's data-relative update
    * bound. As a scalar SUBQUERY it would re-execute inside every
    * action the merge runs (delta prefilter, match scan, rewrite); as
    * a literal it is one job per session.
    */
  private val maxKeyMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Long]
  private def ordersKeyBound(s: SparkSession, d: String): Long =
    sessionMemo(maxKeyMemo)(s, d)(
      Tables.orders(s, d).agg(max("o_orderkey")).collect()(0).getLong(0) / 4)

  /** Bucketed-table pair per (session, sfDir), created once. The
    * bucket layout is the setup cost (one clustering exchange per
    * table at write time) that every later join amortizes — writing
    * `repartition(8, key)` immediately before `bucketBy(8, key)`
    * aligns the exchange with Spark's bucket function (both are
    * Murmur3 pmod 8), so each bucket lands as exactly one file and
    * the scan reports both clustering and within-bucket order.
    * External tables (explicit `path` under a scratch dir) keep the
    * in-memory catalog's warehouse out of the repo tree.
    */
  private val bucketMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (String, String)]
  private def bucketedTables(s: SparkSession, d: String): (String, String) =
    sessionMemo(bucketMemo)(s, d) {
      // full dir string, sanitized — a truncated hash could collide
      // across sfDirs in one session and silently cross-wire tables.
      // The session-identity suffix keeps the catalog entry scoped
      // like the memo key: sibling sessions (SparkSession.newSession)
      // share one catalog, and without it each would overwrite the
      // other's table while both memos still point at the shared name.
      val tag = d.replaceAll("[^A-Za-z0-9]", "_") +
        "_s" + java.lang.Integer.toHexString(System.identityHashCode(s))
      val liT = s"graft_li_b_$tag"
      val ordT = s"graft_ord_b_$tag"
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", tmpDir("q198li")).saveAsTable(liT)
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", tmpDir("q198ord")).saveAsTable(ordT)
      (liT, ordT)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Bucketed-table co-located join: both fact tables are written
    // as 8-bucket catalog tables hashed on the join key, so the
    // orders⋈lineitem equi-join plans with ZERO shuffle exchanges —
    // the big-join scale lever the SURVEY scale doctrine names
    // (pre-partitioning a join that repeats every batch pays the
    // shuffle ONCE at write time). The no-Exchange-above-either-scan
    // law is pinned in BucketedJoinSpec AND re-asserted here with a
    // require, so a planner regression fails the correctness gate,
    // not just a spec. The oracle recomputes the rollup over the raw
    // parquet — bucketing must be invisible in values.
    "q470_bucketed_join" -> { (s, d) =>
      val bdir = tmpDir("q470")
      Tables.orders(s, d).select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$bdir/orders_b").saveAsTable("q470_orders_b")
      Tables.lineitem(s, d)
        .select(col("l_orderkey"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
            .as("cents"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$bdir/lineitem_b").saveAsTable("q470_lineitem_b")
      val joined = s.table("q470_orders_b")
        .join(s.table("q470_lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
      // The law check must (a) see INSIDE the AdaptiveSparkPlanExec
      // wrapper — a node-type collect() on executedPlan visits only
      // the AQE leaf and can never fire (round-8 review finding) — so
      // it counts exchanges in the rendered plan text; and (b) force
      // the sort-merge path while checking — at small SF the orders
      // side broadcasts, which has no shuffle either but exercises
      // nothing about co-location.
      val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
      val oldThreshold = s.conf.get(thresholdKey)
      val planStr =
        try {
          s.conf.set(thresholdKey, "-1")
          joined.queryExecution.executedPlan.toString
        } finally s.conf.set(thresholdKey, oldThreshold)
      val nExchanges =
        "Exchange (hash|range)partitioning".r.findAllMatchIn(planStr).size
      require(planStr.contains("SortMergeJoin"),
        s"q470: expected a sort-merge bucketed join:\n$planStr")
      require(nExchanges == 0,
        s"q470: bucketed join planned $nExchanges shuffle exchange(s):\n$planStr")
      joined.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"), sum("cents").as("cents"))
        .orderBy("o_orderstatus")
    },

    // WritePipeline round trip: sort → unique(first-in-sort-order) →
    // datepart derivation → hive-partitioned write → sidecar build →
    // read-back aggregate. The doubled-price duplicates must lose to
    // the originals under the (key asc, price asc) sort, and the
    // derived `year` must survive as a partition column.
    "q107_write_roundtrip" -> { (s, d) =>
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      val dupes = base.filter("o_orderkey % 10 = 0")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val dir = tmpDir("q107")
      val ds = new ParquetDataset(s, dir)
      ds.write(base.unionAll(dupes), WriteConfig(
        mode = "overwrite",
        partitionBy = Seq("year"),
        sortBy = SortKey.parse("o_orderkey, o_totalprice"),
        unique = UniqueOn(Seq("o_orderkey")),
        datepartsFrom = Some("o_orderdate"),
        dateparts = Seq("year", "month")))
      // physical effects the value hash can't see: hive layout + sidecar
      require(ds.partitionColumns == Seq("year"),
        s"q107: expected hive year= layout, got ${ds.partitionColumns}")
      require(ds.stats.nonEmpty, "q107: sidecar missing after overwrite write")
      ds.df.groupBy(col("year").cast("int").as("year"),
          col("month").cast("int").as("month"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("year", "month")
    },

    // Compaction round trip: a deliberately fragmented write (500-row
    // files per status partition) compacted back to one file per
    // partition; the data must be byte-identical through the staged
    // rewrite + swap, and the file count must actually shrink.
    "q108_compact_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q108")
      val src = Tables.orders(s, d).filter("o_orderkey % 3 = 0")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      // scale-adaptive fragmentation: ~12 files at EVERY scale factor,
      // so compaction always has multi-file partitions to merge and
      // the write never degenerates into hundreds of tiny files
      // (÷3: src is the %3 subset of the memoized orders count)
      val frag = math.max(50L, ordersCount(s, d) / 3 / 12)
      WritePipeline.write(src, dir,
        WriteConfig(partitionBy = Seq("o_orderstatus"), maxRowsPerFile = frag))
      val ds = new ParquetDataset(s, dir)
      val before = ds.files.size
      val plan = Maintenance.compactPartitions(ds)
      require(plan.groups.nonEmpty, s"q108: nothing planned over $before files")
      require(ds.files.size < before,
        s"q108: compaction did not shrink file count ($before -> ${ds.files.size})")
      ds.df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("lo_key"),
          max("o_orderkey").as("hi_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // q108's fragment→compact→read-back gate under the object-store
    // contract the reference documents as best-effort
    // (performance.md:127-131). ObjectStoreContractSpec runs this
    // compaction on a copy+delete-rename filesystem (the s3a
    // semantics) and pins that a completed swap there is
    // value-identical to an atomic one, so the oracle is the same
    // direct rollup over the source rows; the spec also holds the
    // failure-window half (no row loss, recovery details).
    "q472_degraded_compact" -> { (s, d) =>
      val dir = tmpDir("q472")
      val src = Tables.orders(s, d).filter("o_orderkey % 5 = 0")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val frag = math.max(50L, ordersCount(s, d) / 5 / 12)
      WritePipeline.write(src, dir,
        WriteConfig(partitionBy = Seq("o_orderstatus"), maxRowsPerFile = frag))
      val ds = new ParquetDataset(s, dir)
      val before = ds.files.size
      val plan = Maintenance.compactPartitions(ds)
      require(plan.groups.nonEmpty, s"q472: nothing planned over $before files")
      require(ds.files.size < before,
        s"q472: compaction did not shrink file count " +
          s"($before -> ${ds.files.size})")
      ds.df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("lo_key"),
          max("o_orderkey").as("hi_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // Keyed-merge round trip: upsert a batch with duplicate source
    // keys (last row wins), updates (price doubled/tripled), and
    // inserts (key+10M) into a status-partitioned target, then read
    // the merged dataset back in full. Same contract as q57, but
    // through the copy-on-write FILE path instead of pure relations.
    // The target is written key-sorted (files get tight key ranges)
    // and the update keys are bounded to the low range, so only a
    // strict subset of files may be rewritten — pinned by `require`.
    "q109_merge_roundtrip" -> { (s, d) =>
      val orders = Tables.orders(s, d)
      val dir = tmpDir("q109")
      val ds = new ParquetDataset(s, dir)
      // the update keys live in the lowest key QUARTER (floor(max/4),
      // data-relative so every scale factor leaves upper-range files
      // untouched) and the target is key-sorted into ~12 files — the
      // strict-subset rewrite invariant below needs both
      val total = ordersCount(s, d)
      // no sidecar here (q107 gates sidecar creation): with one, the
      // write AND the merge would each pay a full footer sweep that
      // adds nothing to what this query pins
      WritePipeline.write(
        orders.select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").as("price")),
        dir,
        WriteConfig(mode = "overwrite", partitionBy = Seq("o_orderstatus"),
          sortBy = SortKey.parse("o_orderkey"),
          maxRowsPerFile = math.max(50L, total / 12)))
      def slice(filter: String, mul: Int) = orders.filter(filter)
        .select(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * mul).as("price"))
      val bound = ordersKeyBound(s, d)
      val u1 = slice(s"o_orderkey % 13 = 1 AND o_orderkey <= $bound", 2)
      val u2 = slice(s"o_orderkey % 26 = 1 AND o_orderkey <= $bound", 3) // later batch wins
      val ins = orders.filter("o_orderkey % 17 = 2")
        .select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice").as("price"))
      val res = Merge(ds, Seq(u1, u2, ins), Seq("o_orderkey"), "upsert")
      require(res.updated > 0 && res.inserted > 0,
        s"q109: merge was a no-op ($res)")
      require(res.rewrittenFiles.nonEmpty && res.preservedFiles.nonEmpty,
        s"q109: copy-on-write should rewrite SOME files, not none/all ($res)")
      ds.df.select("o_orderkey", "o_orderstatus", "price")
        .orderBy("o_orderkey")
    },

    // CSV source round trip: parquet → headered CSV → schema-inferred
    // CsvDataset read-back. The constructed c_label embeds a comma so
    // the writer MUST quote it; identity against the original table
    // gates quoting, header handling, and numeric text round-tripping
    // (Java shortest-repr doubles parse back bit-exact).
    "q110_csv_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q110")
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"),
          concat(col("c_name"), lit(", "), col("c_mktsegment")).as("c_label"))
        .write.mode("overwrite").option("header", "true").csv(dir)
      new CsvDataset(s, dir).df
        .select(col("c_custkey").cast("bigint").as("c_custkey"), col("c_name"),
          col("c_nationkey").cast("int").as("c_nationkey"),
          col("c_acctbal").cast("double").as("c_acctbal"),
          col("c_mktsegment"), col("c_label"))
        .orderBy("c_custkey")
    },

    // Batch reader (reference to_batch_reader, pydala/table.py:538-589):
    // the pull-based driver EXPORT api — partitions stream to the
    // driver one at a time, never materializing the table as one
    // array. The gate consumes the whole table through the iterator
    // and rebuilds a per-segment aggregate from the streamed rows;
    // matching the set-based oracle proves every row is delivered
    // exactly once. Accumulators are integer-exact so driver-side
    // accumulation order cannot perturb the hash. The driver loop is
    // the operator's own semantics (an export, like collect) — data-
    // scale aggregation belongs in the DataFrame plans, and the
    // projection pushed into the scan keeps the streamed bytes to the
    // three columns the export needs.
    "q190_batch_reader" -> { (s, d) =>
      val t = graft.sources.Table(Tables.customer(s, d)
        .select("c_custkey", "c_mktsegment", "c_name"))
      final class Acc {
        var n = 0L; var keySum = 0L; var nameLen = 0L
        var keyMin = Long.MaxValue; var keyMax = Long.MinValue
      }
      val acc = scala.collection.mutable.HashMap.empty[String, Acc]
      t.batchIterator().foreach { r =>
        val k = r.getLong(0)
        val a = acc.getOrElseUpdate(r.getString(1), new Acc)
        a.n += 1; a.keySum += k; a.nameLen += r.getString(2).length
        if (k < a.keyMin) a.keyMin = k
        if (k > a.keyMax) a.keyMax = k
      }
      import s.implicits._
      acc.toSeq
        .map { case (seg, a) => (seg, a.n, a.keySum, a.keyMin, a.keyMax, a.nameLen) }
        .toDF("c_mktsegment", "n", "key_sum", "key_min", "key_max", "name_len")
        .orderBy("c_mktsegment")
    },

    // Column-level profiling (operators.Profile): per column rows /
    // nulls / exact + approx distincts / portable bounds over the
    // customer table. Exact lanes hash-gate against DuckDB; the HLL
    // lane is a pinned error-bound boolean (the q101/q193 contract),
    // which is what licenses running profile(exactNdv = false) — no
    // distinct shuffle — at corpus scale.
    "q195_column_profile" -> { (s, d) =>
      graft.operators.Profile.table(Tables.customer(s, d))
        // total gate: an all-null column has ndv_exact = 0 and a 0/0
        // ratio — the sketch is trivially right there, not wrong
        .withColumn("ndv_ok", expr(
          "ndv_exact = 0 OR abs(CAST(ndv_approx AS DOUBLE) - CAST(ndv_exact AS DOUBLE)) " +
            "/ CAST(ndv_exact AS DOUBLE) <= 0.15"))
        .drop("ndv_approx")
        .orderBy("column")
    },

    // ORC source round trip: parquet → zstd ORC → OrcDataset
    // read-back. ORC carries a real schema (no inference involved),
    // so identity gates the value fidelity of the second columnar
    // format end-to-end: timestamps, decimals-as-doubles, and strings
    // must survive the ORC writer/reader pair bit-exactly.
    "q191_orc_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q191")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_orderdate"), col("o_totalprice"))
        .write.mode("overwrite").option("compression", "zstd").orc(dir)
      new graft.sources.OrcDataset(s, dir).df
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min("o_orderdate").cast("date").cast("string").as("first_date"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // Bucketed-table co-location — the cluster-scale join layout the
    // read-side queries can't show. lineitem and orders are written
    // once as 8-bucket tables hash-clustered on the join key (Spark's
    // Murmur3 bucket function on both sides), so the fact-to-fact
    // sort-merge join needs NO shuffle exchange on either input: at
    // 100 TB that is the difference between re-shuffling the whole
    // fact table on every join and reading co-located buckets. The
    // bucket write is memoized per (session, sfDir) — the deployment
    // shape is "bucket once at ingest, join many times" and the
    // measured body is the bucket-local join. A runtime require pins
    // the plan property (no shuffle below the join) that the value
    // hash cannot see; the oracle computes the same join/aggregate
    // from the raw tables, so the bucketed layout must also be
    // value-preserving.
    "q198_bucketed_join" -> { (s, d) =>
      val (liT, ordT) = bucketedTables(s, d)
      val j = s.table(liT).hint("merge")
        .join(s.table(ordT), col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      // Spark prints shuffles as "Exchange hashpartitioning", so the
      // guard must match that rendering — the join subplan (no agg
      // yet) must contain none at all
      require(plan.contains("SortMergeJoin") &&
        !plan.contains("Exchange hashpartitioning"),
        s"q198: bucketed join planned a shuffle or lost SMJ:\n$plan")
      j.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },

    // JSON source round trip: parquet → JSON lines → schema-inferred
    // JsonDataset read-back; dates travel as ISO strings (JSON has no
    // date type), numerics as JSON numbers.
    "q111_json_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q111")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          // via DATE: both engines print yyyy-MM-dd; a raw timestamp
          // cast differs in fractional-second trimming between engines
          col("o_orderdate").cast("date").cast("string").as("odate"),
          col("o_totalprice"))
        .write.mode("overwrite").json(dir)
      new JsonDataset(s, dir).df
        .select(col("o_orderkey").cast("bigint").as("o_orderkey"),
          col("o_orderstatus"), col("odate"),
          col("o_totalprice").cast("double").as("o_totalprice"))
        .orderBy("o_orderkey")
    },

    // Timezone-converted write with datepart partitions: event
    // instants are stripped to America/New_York wall clocks
    // (WriteConfig tz/removeTz, the reference's ts_unit/tz/remove_tz
    // args, pydala/io.py:325-351), partitioned by the DERIVED local
    // date — UTC midnights land in the previous New-York day, so the
    // partition layout itself proves the zone conversion ran before
    // datepart derivation.
    "q112_tz_write_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q112")
      val ds = new ParquetDataset(s, dir)
      ds.write(
        Tables.events(s, d).select(col("event_id"), col("ts"),
          col("user_id"), col("value")),
        WriteConfig(mode = "overwrite", partitionBy = Seq("year", "month", "day"),
          datepartsFrom = Some("ts"), dateparts = Seq("year", "month", "day"),
          tz = Some("America/New_York"), removeTz = true))
      require(ds.partitionColumns == Seq("year", "month", "day"),
        s"q112: expected derived-date layout, got ${ds.partitionColumns}")
      ds.df.groupBy(col("year").cast("int").as("year"),
          col("month").cast("int").as("month"),
          col("day").cast("int").as("day"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          // double→decimal rounds identically on both engines; a raw
          // double→bigint cast would truncate in Spark and round in DuckDB
          sum(expr("CAST(CAST(value AS DECIMAL(15,3)) * 1000 AS BIGINT)"))
            .as("value_milli"))
        .orderBy("year", "month", "day")
    },

    // Parquet bloom-filter round trip: the write stamps per-row-group
    // bloom filters on the key column (WriteConfig.bloomFilterCols),
    // the footer is require-checked for the bloom offset, and a
    // point-lookup IN-scan reads back through the standard parquet
    // reader — which consults the blooms once the equality predicate
    // pushes down. The pruning lever for high-cardinality keys whose
    // uniform spread defeats min/max sidecar stats; at 100 TB this is
    // the difference between reading 3 row groups and reading all.
    "q145_bloom_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q145")
      WritePipeline.write(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")),
        dir, WriteConfig(bloomFilterCols = Seq("o_orderkey")))
      // physical pin: EVERY row group of every file must carry the
      // bloom offset — a first-file-only check would let a partial
      // stamping regression pass
      val offs = graft.sources.StatsSidecar.bloomFilterOffsets(s, dir, "o_orderkey")
      require(offs.nonEmpty && offs.forall(_ >= 0),
        s"q145: missing bloom filter offsets for o_orderkey: $offs")
      val kb = ordersKeyBound(s, d)
      new ParquetDataset(s, dir).df
        .filter(col("o_orderkey").isin(kb, kb * 2, kb * 3))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,2)").cast("double").as("price"))
        .orderBy("o_orderkey")
    },

    // Row-level DELETE WHERE round trip: a fragmented write, a
    // predicate delete (copy-on-write — only files containing matched
    // rows rewrite; the require pins that untouched files survive),
    // then the read-back aggregate must equal filtering the source
    // relationally.
    "q149_delete_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q149")
      val ds = new ParquetDataset(s, dir)
      ds.write(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")),
        WriteConfig(mode = "overwrite", partitionBy = Seq("o_orderstatus")))
      // the predicate is partition-aligned (only status 'F' rows
      // match), so the other status partitions MUST survive
      // physically — preservedFiles.nonEmpty is the copy-on-write
      // pin a whole-dataset rewrite would fail
      val res = graft.operators.Delete.where(ds,
        "o_orderstatus = 'F' AND o_orderkey % 13 = 5")
      require(res.deleted > 0, "q149: nothing deleted")
      require(res.rewrittenFiles.nonEmpty && res.preservedFiles.nonEmpty,
        "q149: copy-on-write accounting off (expected untouched partitions)")
      ds.df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // Retention (TTL) delete round trip: events are written ts-sorted
    // with bounded file sizes (tight, mostly disjoint per-file ts
    // ranges — the layout a time-series dataset keeps anyway), then
    // everything below the corpus' 1/3-range cutoff expires. The
    // sidecar's exact micro bounds must route expired files through
    // the METADATA-ONLY lane (dropped whole, never decoded) and leave
    // at most the straddling file for the journaled row-level
    // rewrite — the requires pin exactly that split, which the value
    // hash cannot see; the oracle recomputes the surviving aggregate
    // from the raw table with the same integer cutoff arithmetic.
    "q206_retention" -> { (s, d) =>
      val dir = tmpDir("q206")
      val ds = new ParquetDataset(s, dir)
      val src = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          expr("CAST(CAST(value AS DECIMAL(15,3)) * 1000 AS BIGINT)").as("vmilli"))
      // /8 keeps ~8 files at EVERY sf (a 2-file layout would leave no
      // fully-expired file below a 1/3-range cutoff and the
      // metadata-lane require could not be satisfied)
      val frag = math.max(100L, eventsCount(s, d) / 8)
      ds.write(src, WriteConfig(mode = "overwrite",
        sortBy = SortKey.parse("ts"), maxRowsPerFile = frag))
      val (lo, hi) = ds.timeRange("ts").getOrElse(
        throw new IllegalStateException("q206: sidecar has no ts range"))
      val cutoff = lo + (hi - lo) / 3
      val res = graft.operators.Delete.retention(ds, "ts", cutoff)
      require(res.droppedFiles.nonEmpty,
        "q206: no expired file took the metadata-only lane")
      require(res.rewrittenFiles.size <= 2,
        s"q206: ts-sorted layout should leave <=2 straddlers, " +
          s"got ${res.rewrittenFiles.size}")
      require(res.deleted > 0, "q206: nothing expired")
      ds.df.agg(count(lit(1)).as("n"),
          countDistinct("user_id").as("users"),
          min(expr("unix_micros(ts)")).as("min_tsu"),
          sum("vmilli").as("vmilli_sum"))
    },

    // Partition-level change detection — the incremental-processing
    // primitive: per-partition content digests of two snapshots
    // (order-free modular sums of row hashes, so the digest is
    // partition-layout- and shuffle-order-independent), joined to
    // flag exactly the partitions whose contents differ. At 100 TB
    // this is what lets a nightly pipeline recompute 3 partitions
    // instead of 3000: digesting is one narrow map + one partition
    // agg per snapshot, no row-level diff join anywhere.
    "q151_partition_digest" -> { (s, d) =>
      val S = graft.functions.PortableSql.Spark
      def digest(df: org.apache.spark.sql.DataFrame) = df
        // the hashed row rendering goes through DECIMAL(18,2) so the
        // string form is engine-independent (a raw double→string
        // rendering is not)
        .select(expr("year(o_orderdate)").as("part"),
          expr(s"${S.hash64(
              "concat(o_orderkey, '|', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING))")} % 1000000007")
            .as("h"))
        .groupBy("part").agg(sum("h").as("dig"), count(lit(1)).as("n"))
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      val changed = base.withColumn("o_totalprice",
        when(col("o_orderkey") % 31 === 7, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      digest(base).as("a")
        .join(digest(changed).as("b"), col("a.part") === col("b.part"))
        .select(col("a.part").as("part"),
          col("a.dig").as("dig_a"), col("b.dig").as("dig_b"),
          col("a.n").as("n_rows"),
          (col("a.dig") =!= col("b.dig")).as("changed"))
        .orderBy("part")
    },

    // Incremental aggregate maintenance — q151's application: carry
    // forward the old per-partition aggregates for unchanged
    // partitions and recompute ONLY the partitions whose digests
    // moved; the oracle checks the maintained state equals a direct
    // aggregation of the new snapshot. Work scales with the change
    // set, not the dataset (exact integer cents, so carried and
    // recomputed lanes are bit-identical by construction).
    "q153_incremental_agg" -> { (s, d) =>
      val S = graft.functions.PortableSql.Spark
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      // the modification is scoped to years >= 1999 so earlier
      // partitions genuinely carry forward — otherwise every digest
      // moves and the "incremental" path degenerates to a full
      // recompute without the gate noticing
      val snapB = base.withColumn("o_totalprice",
        when(col("o_orderkey") % 31 === 7 &&
            expr("year(o_orderdate)") >= 1999,
          col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")))
      def digest(df: org.apache.spark.sql.DataFrame) = df
        .select(expr("year(o_orderdate)").as("part"),
          expr(s"${S.hash64(
              "concat(o_orderkey, '|', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS STRING))")} % 1000000007")
            .as("h"))
        .groupBy("part").agg(sum("h").as("dig"))
      def aggOf(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(expr("year(o_orderdate)").as("part"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 100 AS BIGINT)"))
            .as("cents"))
      // the change set is partition IDS (≤7 values, metadata-scale) —
      // collect them once and filter by literal list, rather than
      // pinning a never-unpersisted cache for two broadcast joins
      val changed = digest(base).as("a")
        .join(digest(snapB).as("b"), col("a.part") === col("b.part"))
        .filter(col("a.dig") =!= col("b.dig"))
        .select(col("a.part").as("part"))
        .collect().map(_.getInt(0)).toSeq
      require(changed.nonEmpty && changed.size < 7,
        s"q153: expected a partial change set, got ${changed.size}/7 partitions")
      val carried = aggOf(base).filter(!col("part").isin(changed: _*))
      val rebuilt = aggOf(snapB).filter(col("part").isin(changed: _*))
      carried.unionByName(rebuilt)
        .select(col("part"), col("n"),
          expr("CAST(cents AS DOUBLE) / 100.0").as("total"))
        .orderBy("part")
    },

    // Catalog mutation round trip: createTable persists write_args to
    // YAML, writeTable applies them (hive partition_by), and a FRESH
    // catalog instance reloaded from the YAML serves the table through
    // sql() — so registration, write-back, and the write-args contract
    // (pydala/catalog.py:571-781) all sit under the hash gate.
    "q114_catalog_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q114")
      // the YAML lives inside the tracked scratch dir so the shutdown
      // hook reaps it with the data
      val yml = java.nio.file.Paths.get(tmpDir("q114y"), "catalog.yaml")
      java.nio.file.Files.writeString(yml, "tables: {}\n")
      val cat = new graft.catalog.Catalog(s, yml.toString)
      cat.createTable("tmp", "orders_cat", dir,
        writeArgs = Map("partition_by" -> "o_orderstatus"))
      cat.writeTable("tmp.orders_cat",
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")))
      // the persisted write_args must have produced a hive layout
      require(new ParquetDataset(s, dir).partitionColumns == Seq("o_orderstatus"),
        "q114: partition_by write_arg not applied")
      val reloaded = new graft.catalog.Catalog(s, yml.toString)
      require(reloaded.tableNames.contains("tmp.orders_cat"),
        "q114: YAML write-back lost the table")
      reloaded.sql(
        """SELECT o_orderstatus,
          | COUNT(*) AS n,
          | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM tmp.orders_cat
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    },

    // optimize_dtypes round trip: a stringly-typed copy is narrowed in
    // place (strict mode verifies no cast nulls a value before the
    // staged swap publishes) and read back — values must survive the
    // string→numeric rewrite bit-exactly. Read-back casts normalize
    // the inferred width (smallint/int/bigint varies with scale
    // factor; the VALUE contract is what the oracle checks, the
    // narrowing itself is pinned by the require and MaintenanceSpec).
    "q115_optimize_dtypes_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q115")
      WritePipeline.write(
        Tables.orders(s, d).select(col("o_orderkey"),
          col("o_orderkey").cast("string").as("key_str"),
          col("o_totalprice").cast("string").as("price_str")),
        dir, WriteConfig())
      val ds = new ParquetDataset(s, dir)
      val plan = Maintenance.optimizeDtypes(ds, strict = true)
      require(plan.changes.nonEmpty, "q115: nothing narrowed")
      val back = ds.df
      require(back.schema("key_str").dataType !=
        org.apache.spark.sql.types.StringType, "q115: key_str still string")
      back.select(col("o_orderkey"),
          col("key_str").cast("bigint").as("key2"),
          col("price_str").cast("double").as("price"))
        .orderBy("o_orderkey")
    },

    // repair_schema round trip: two file generations with divergent
    // physical schemas (int vs bigint key; a column missing from the
    // first) are unified in place, each candidate file rewritten in
    // isolation; the read-back union must match the logical content
    // with typed nulls for the absent column.
    "q116_repair_schema_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q116")
      val o = Tables.orders(s, d)
      o.filter("o_orderkey % 2 = 0")
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_totalprice").as("price"))
        .coalesce(2).write.mode("overwrite").parquet(dir)
      o.filter("o_orderkey % 2 = 1")
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          (col("o_orderkey") % 7).cast("int").as("bonus"))
        .coalesce(2).write.mode("append").parquet(dir)
      val ds = new ParquetDataset(s, dir)
      val plan = Maintenance.repairSchema(ds)
      require(plan.candidates.nonEmpty, "q116: no divergent files found")
      val back = ds.df
      require(back.schema("k").dataType == org.apache.spark.sql.types.LongType,
        s"q116: key not promoted, got ${back.schema("k").dataType}")
      back.select(col("k"), col("price"), col("bonus").cast("int").as("bonus"))
        .orderBy("k")
    },

    // Bucketed co-located join round trip: both sides written through
    // writeBucketed on the join key (the recurring-join layout,
    // Spark's analogue of pre-partitioning), then joined WITHOUT a
    // shuffle exchange — the plan is require-pinned, the values are
    // hash-gated. At 100 TB this layout turns every recurring
    // fact-fact join into a local zip of pre-sorted buckets.
    "q118_bucketed_join" -> { (s, d) =>
      // saveAsTable(overwrite) refuses a LOCATION left behind by a
      // previous JVM whose in-memory catalog forgot the table — clear
      // both stale locations (and any stale registration) first
      // (deleteRecursively scheme-normalizes the warehouse URI itself)
      Seq("graft_q118_orders", "graft_q118_customer").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        graft.sources.FsUtil.deleteRecursively(
          s.conf.get("spark.sql.warehouse.dir") + s"/$t")
      }
      WritePipeline.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        "graft_q118_orders", Seq("o_custkey"), buckets = 8,
        sortCols = Seq("o_custkey"))
      WritePipeline.writeBucketed(
        Tables.customer(s, d).select(col("c_custkey"), col("c_mktsegment")),
        "graft_q118_customer", Seq("c_custkey"), buckets = 8,
        sortCols = Seq("c_custkey"))
      val joined = s.table("graft_q118_orders").join(
        s.table("graft_q118_customer"),
        col("o_custkey") === col("c_custkey"))
      // the pin must see the SHUFFLE-ELIGIBLE plan: at test scales the
      // customer side is broadcast-sized, and a BroadcastHashJoin has
      // no exchange whether bucketing works or not — disable broadcast
      // while CHECKING so a bucketing regression cannot hide behind it
      val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
      val prevThreshold = s.conf.get(thresholdKey)
      s.conf.set(thresholdKey, "-1")
      try {
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin"),
          s"q118: expected a sort-merge join of bucketed sides:\n$plan")
        require(!plan.contains("Exchange hashpartitioning"),
          s"q118: bucketed join must not shuffle:\n$plan")
      } finally s.conf.set(thresholdKey, prevThreshold)
      joined.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_mktsegment")
    },

    // Z-order round trip: the Morton-curve rewrite re-clusters the
    // files (multi-dimensional min/max envelopes for the stats
    // sidecar) but must be value-preserving through the staged swap —
    // the read-back is hash-gated against the untouched source, and
    // the clustering effect itself is pinned by requiring the leading
    // file's envelope to shrink on BOTH clustered columns.
    "q119_zorder_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q119")
      WritePipeline.write(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice")),
        dir, WriteConfig(maxRowsPerFile = math.max(50L, ordersCount(s, d) / 8)))
      val ds = new ParquetDataset(s, dir)
      Maintenance.zorder(ds, "o_orderkey", "o_custkey",
        maxRowsPerFile = math.max(50L, ordersCount(s, d) / 8))
      val perFile = ds.df
        .withColumn("__f", input_file_name())
        .groupBy("__f").agg(
          (max("o_orderkey") - min("o_orderkey")).as("kspan"),
          (max("o_custkey") - min("o_custkey")).as("cspan"))
        .agg(min("kspan").cast("long"), min("cspan").cast("long")).collect()(0)
      val total = ordersCount(s, d)
      require(perFile.getLong(0) < total / 2 && perFile.getLong(1) < total / 2,
        s"q119: z-order produced no envelope tightening ($perFile)")
      ds.df.groupBy((col("o_orderkey") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("bucket")
    },

    // delete_files round trip: drop one hive partition's files through
    // the managed API (path-sanitized, sidecar reconciled) and read
    // back — the oracle is the source MINUS the deleted partition.
    "q120_delete_files_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q120")
      WritePipeline.write(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")),
        dir, WriteConfig(partitionBy = Seq("o_orderstatus")))
      val ds = new ParquetDataset(s, dir)
      val doomed = ds.relFiles.filter(_.startsWith("o_orderstatus=P/"))
      require(doomed.nonEmpty, "q120: expected a P partition to delete")
      ds.deleteFiles(doomed)
      require(!ds.relFiles.exists(_.startsWith("o_orderstatus=P/")),
        "q120: P partition files survived deleteFiles")
      ds.df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("lo_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // Vacuum round trip (reference pydala/dataset.py:621-638): retire
    // EVERY data file and the stats sidecar while preserving the
    // directory so writes can resume — generation 2 lands into the
    // vacuumed layout and the read-back must see ONLY generation 2.
    // The requires pin the physical contract (no files, no sidecar
    // after vacuum) that the value hash alone cannot distinguish from
    // a plain overwrite.
    "q181_vacuum_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q181")
      val ds = new ParquetDataset(s, dir)
      ds.write(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice")),
        WriteConfig(mode = "overwrite", partitionBy = Seq("o_orderstatus")))
      require(ds.files.nonEmpty && ds.stats.nonEmpty,
        "q181: setup write left no files/sidecar to vacuum")
      ds.vacuum()
      require(ds.files.isEmpty, s"q181: vacuum left data files: ${ds.relFiles}")
      require(ds.stats.isEmpty, "q181: vacuum left the stats sidecar")
      ds.write(
        Tables.orders(s, d).filter("o_orderkey % 5 = 0")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
        WriteConfig(mode = "append", partitionBy = Seq("o_orderstatus")))
      ds.df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // compact_by_rows round trip: an UNPARTITIONED fragmented write
    // (~12 files) collapsed by the whole-dataset path (one group, all
    // files) into a single bounded file; values must survive the
    // staged rewrite + swap byte-identically.
    "q182_compact_rows_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q182")
      val src = Tables.orders(s, d).filter("o_orderkey % 2 = 0")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val frag = math.max(50L, ordersCount(s, d) / 2 / 12)
      WritePipeline.write(src, dir, WriteConfig(maxRowsPerFile = frag))
      val ds = new ParquetDataset(s, dir)
      val before = ds.files.size
      require(before > 1, s"q182: fragmentation setup produced $before file(s)")
      val plan = Maintenance.compactByRows(ds)
      require(plan.groups.nonEmpty, s"q182: nothing planned over $before files")
      require(ds.files.size < before,
        s"q182: compaction did not shrink file count ($before -> ${ds.files.size})")
      ds.df.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          min("o_orderkey").as("lo_key"),
          max("o_orderkey").as("hi_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("o_orderstatus")
    },

    // compact_by_timeperiod round trip: events written ts-sorted into
    // ~12 files with tight time envelopes, then compacted within 7-day
    // windows (the data spans ~30 days → ~5 windows, each holding
    // multiple files). Window assignment is footer-metadata only;
    // every window's files rewrite in place sorted by ts. The
    // read-back daily rollup must equal the batch answer — the
    // window boundaries must not drop, duplicate, or misassign rows.
    "q183_compact_timeperiod_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q183")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          expr("CAST(CAST(value AS DECIMAL(15,3)) * 1000 AS BIGINT)").as("vmilli"))
      val nEv = ev.count()
      WritePipeline.write(ev, dir, WriteConfig(
        sortBy = SortKey.parse("ts"),
        maxRowsPerFile = math.max(50L, nEv / 12)))
      val ds = new ParquetDataset(s, dir)
      val before = ds.files.size
      require(before > 1, s"q183: fragmentation setup produced $before file(s)")
      val plan = Maintenance.compactByTimeperiod(ds, "ts",
        Maintenance.parseInterval("7d"))
      require(plan.groups.size > 1,
        s"q183: expected multiple time windows, got ${plan.groups.size}")
      require(ds.files.size < before,
        s"q183: compaction did not shrink file count ($before -> ${ds.files.size})")
      ds.df.groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("users"),
          sum("vmilli").as("vmilli_sum"))
        .orderBy("day")
    },

    // repartition round trip (reference pydala/dataset.py:2392-2488):
    // an unpartitioned dataset re-laid-out into hive year= partitions
    // derived from o_orderdate, via the staged whole-dataset rewrite.
    // The require pins the new physical layout; the hash gate pins
    // that the re-layout is value-preserving.
    "q184_repartition_roundtrip" -> { (s, d) =>
      val dir = tmpDir("q184")
      WritePipeline.write(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice")),
        dir, WriteConfig())
      val ds = new ParquetDataset(s, dir)
      require(ds.partitionColumns.isEmpty, "q184: setup should be unpartitioned")
      Maintenance.repartition(ds, Seq("year"),
        datepartsFrom = Some("o_orderdate"), dateparts = Seq("year"))
      require(ds.partitionColumns == Seq("year"),
        s"q184: expected hive year= layout, got ${ds.partitionColumns}")
      ds.df.groupBy(col("year").cast("int").as("year"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("year")
    }
  )

  val oracles: Map[String, String] = Map(

    "q470_bucketed_join" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q107_write_roundtrip" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_orderdate, o_totalprice * 2
        |  FROM orders WHERE o_orderkey % 10 = 0
        |), dedup AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY o_orderkey ORDER BY o_totalprice ASC) AS rn
        |  FROM src
        |)
        |SELECT CAST(year(o_orderdate) AS INT) AS year,
        |       CAST(month(o_orderdate) AS INT) AS month,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM dedup WHERE rn = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q206_retention" ->
      """WITH r AS (
        |  SELECT epoch_us(min(ts::TIMESTAMP)) AS lo,
        |         epoch_us(max(ts::TIMESTAMP)) AS hi
        |  FROM events),
        |b AS (SELECT lo + (hi - lo) // 3 AS cut FROM r),
        |k AS (SELECT e.* FROM events e, b
        |      WHERE epoch_us(e.ts::TIMESTAMP) >= b.cut)
        |SELECT COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
        |       CAST(MIN(epoch_us(ts::TIMESTAMP)) AS BIGINT) AS min_tsu,
        |       CAST(SUM(CAST(CAST(value AS DECIMAL(15,3)) * 1000 AS BIGINT))
        |            AS BIGINT) AS vmilli_sum
        |FROM k""".stripMargin,

    "q149_delete_roundtrip" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 13 = 5)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q153_incremental_agg" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS part,
        |  count(*) AS n,
        |  CAST(CAST(SUM(CAST(CAST(CASE WHEN o_orderkey % 31 = 7
        |        AND year(o_orderdate) >= 1999
        |        THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS DECIMAL(15,2)) * 100 AS BIGINT)) AS BIGINT) AS DOUBLE) / 100.0
        |    AS total
        |FROM orders
        |GROUP BY part ORDER BY part""".stripMargin,

    "q151_partition_digest" -> {
      val D = graft.functions.PortableSql.Duck
      val h = D.hash64("concat(o_orderkey, '|', CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR))")
      s"""WITH a AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS part,
         |    CAST(sum(($h) % 1000000007) AS BIGINT) AS dig,
         |    count(*) AS n
         |  FROM orders GROUP BY part),
         |b AS (
         |  SELECT CAST(year(o_orderdate) AS INT) AS part,
         |    CAST(sum((${D.hash64("concat(o_orderkey, '|', CAST(CAST(CASE WHEN o_orderkey % 31 = 7 THEN o_totalprice * 2 ELSE o_totalprice END AS DECIMAL(18,2)) AS VARCHAR))")}) % 1000000007) AS BIGINT) AS dig
         |  FROM orders GROUP BY part)
         |SELECT a.part AS part, a.dig AS dig_a, b.dig AS dig_b,
         |  a.n AS n_rows, a.dig <> b.dig AS changed
         |FROM a JOIN b ON a.part = b.part
         |ORDER BY part""".stripMargin
    },

    "q145_bloom_roundtrip" ->
      """WITH b AS (SELECT MAX(o_orderkey) // 4 AS kb FROM orders)
        |SELECT o_orderkey, o_orderstatus,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |FROM orders, b
        |WHERE o_orderkey IN (kb, kb * 2, kb * 3)
        |ORDER BY o_orderkey""".stripMargin,

    "q108_compact_roundtrip" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n,
        |       MIN(o_orderkey) AS lo_key,
        |       MAX(o_orderkey) AS hi_key,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q472_degraded_compact" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n,
        |       MIN(o_orderkey) AS lo_key,
        |       MAX(o_orderkey) AS hi_key,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 5 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q109_merge_roundtrip" ->
      """WITH bnd AS (SELECT MAX(o_orderkey) // 4 AS b FROM orders),
        |u AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS price, 1 AS seq
        |  FROM orders WHERE o_orderkey % 13 = 1
        |    AND o_orderkey <= (SELECT b FROM bnd)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 3, 2
        |  FROM orders WHERE o_orderkey % 26 = 1
        |    AND o_orderkey <= (SELECT b FROM bnd)
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice, 3
        |  FROM orders WHERE o_orderkey % 17 = 2
        |), d AS (
        |  SELECT o_orderkey, o_orderstatus, price FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM u)
        |  WHERE rn = 1
        |)
        |SELECT o_orderkey, o_orderstatus, price FROM d
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice AS price
        |FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM d)
        |ORDER BY o_orderkey""".stripMargin,

    "q110_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |       c_name || ', ' || c_mktsegment AS c_label
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q195_column_profile" -> {
      def one(c: String, minmax: String) =
        s"""SELECT '$c' AS "column", COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS ndv_exact,
           |  CAST(MIN($minmax) AS VARCHAR) AS min_str,
           |  CAST(MAX($minmax) AS VARCHAR) AS max_str,
           |  TRUE AS ndv_ok
           |FROM customer""".stripMargin
      Seq(
        one("c_custkey", "c_custkey"),
        one("c_name", "c_name"),
        one("c_nationkey", "c_nationkey"),
        one("c_acctbal", "CAST(c_acctbal AS DECIMAL(18,2))"),
        one("c_mktsegment", "c_mktsegment"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q191_orc_roundtrip" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
        |       CAST(CAST(MIN(o_orderdate) AS DATE) AS VARCHAR) AS first_date,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q198_bucketed_join" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q190_batch_reader" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |       CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
        |       MIN(c_custkey) AS key_min, MAX(c_custkey) AS key_max,
        |       CAST(SUM(LENGTH(c_name)) AS BIGINT) AS name_len
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin,

    "q111_json_roundtrip" ->
      """SELECT o_orderkey, o_orderstatus,
        |       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS odate,
        |       o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q112_tz_write_roundtrip" ->
      """WITH loc AS (
        |  SELECT user_id, value,
        |    timezone('America/New_York', timezone('UTC', ts::TIMESTAMP)) AS lts
        |  FROM events
        |)
        |SELECT CAST(year(lts) AS INT) AS year,
        |       CAST(month(lts) AS INT) AS month,
        |       CAST(dayofmonth(lts) AS INT) AS day,
        |       COUNT(*) AS n,
        |       COUNT(DISTINCT user_id) AS users,
        |       CAST(SUM(CAST(CAST(value AS DECIMAL(15,3)) * 1000 AS BIGINT)) AS BIGINT) AS value_milli
        |FROM loc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q114_catalog_roundtrip" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q115_optimize_dtypes_roundtrip" ->
      """SELECT o_orderkey, o_orderkey AS key2, o_totalprice AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q116_repair_schema_roundtrip" ->
      """SELECT k, price, CAST(bonus AS INT) AS bonus FROM (
        |  SELECT o_orderkey AS k, o_totalprice AS price, NULL AS bonus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderkey % 7
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |ORDER BY k""".stripMargin,

    "q118_bucketed_join" ->
      """SELECT c_mktsegment,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q119_zorder_roundtrip" ->
      """SELECT o_orderkey % 10 AS bucket,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q120_delete_files_roundtrip" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n,
        |       MIN(o_orderkey) AS lo_key,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderstatus <> 'P'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q181_vacuum_roundtrip" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 5 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q182_compact_rows_roundtrip" ->
      """SELECT o_orderstatus,
        |       COUNT(*) AS n,
        |       MIN(o_orderkey) AS lo_key,
        |       MAX(o_orderkey) AS hi_key,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q183_compact_timeperiod_roundtrip" ->
      """SELECT CAST(ts::TIMESTAMP AS DATE) AS day,
        |       COUNT(*) AS n,
        |       COUNT(DISTINCT user_id) AS users,
        |       CAST(SUM(CAST(CAST(value AS DECIMAL(15,3)) * 1000 AS BIGINT)) AS BIGINT)
        |         AS vmilli_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q184_repartition_roundtrip" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS year,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
