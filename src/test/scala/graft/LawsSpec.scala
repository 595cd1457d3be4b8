package graft

import org.apache.spark.sql.types._
import graft.functions.SchemaOps
import graft.operators.Merge
import graft.sources.ParquetDataset

/** Algebraic laws the dataset layer relies on (SURVEY §5). The type
  * lattice is small, so the laws are checked EXHAUSTIVELY over it —
  * stronger than sampling.
  */
class LawsSpec extends SparkSpecBase {

  import spark.implicits._

  private val allTypes: Seq[DataType] = Seq(
    NullType, ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, StringType, BooleanType, TimestampType, DateType)

  private val ladder: Seq[DataType] = Seq(
    NullType, ByteType, ShortType, IntegerType, LongType,
    FloatType, DoubleType, StringType)

  test("promote is idempotent, commutative, null-identity (exhaustive)") {
    for (a <- allTypes; b <- allTypes) {
      assert(SchemaOps.promote(a, a) == a, s"idempotence for $a")
      assert(SchemaOps.promote(a, b) == SchemaOps.promote(b, a), s"commutativity $a,$b")
    }
    allTypes.foreach(a => assert(SchemaOps.promote(NullType, a) == a))
  }

  test("promote is associative on the full ladder (exhaustive triples)") {
    for (a <- ladder; b <- ladder; c <- ladder)
      assert(SchemaOps.promote(SchemaOps.promote(a, b), c) ==
        SchemaOps.promote(a, SchemaOps.promote(b, c)), s"associativity $a,$b,$c")
  }

  test("unify is order-insensitive on field types (exhaustive pairs)") {
    for (t1 <- ladder; t2 <- ladder) {
      val s1 = StructType(Seq(StructField("a", t1), StructField("b", t2)))
      val s2 = StructType(Seq(StructField("b", t2), StructField("a", t1)))
      val u12 = SchemaOps.unify(Seq(s1, s2))
      val u21 = SchemaOps.unify(Seq(s2, s1))
      assert(u12.fields.map(f => f.name -> f.dataType).toMap ==
        u21.fields.map(f => f.name -> f.dataType).toMap)
    }
  }

  test("merge upsert is idempotent: same source twice == once") {
    val dir = tmpDir("law-upsert")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val src = Seq((2, "B"), (9, "i")).toDF("id", "v")
    Merge(ds, src, Seq("id"), "upsert")
    val once = ds.df.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    val r2 = Merge(ds, src, Seq("id"), "upsert")
    val twice = ds.df.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(once == twice)
    assert(r2.inserted == 0) // second pass inserts nothing new
  }

  test("merge insert then insert of the same source is a no-op") {
    val dir = tmpDir("law-insert")
    val ds = new ParquetDataset(spark, dir)
    Seq((1, "a")).toDF("id", "v").coalesce(1).write.mode("append").parquet(dir)
    val src = Seq((5, "e"), (6, "f")).toDF("id", "v")
    Merge(ds, src, Seq("id"), "insert")
    val r2 = Merge(ds, src, Seq("id"), "insert")
    assert(r2.inserted == 0)
    assert(ds.df.count() == 3)
  }

  test("as-of join equals the naive quadratic definition on random data") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(17)
    val left = (1 to 300).map(i =>
      (s"k${rnd.nextInt(5)}", i.toLong, rnd.nextInt(1000).toLong)).toDF("k", "lid", "t")
    val right = (1 to 150).map(i =>
      (s"k${rnd.nextInt(6)}", 1000L + i, rnd.nextInt(1000).toLong)).toDF("k", "rid", "rt")
    // naive: max rt <= t per key, then the max rid at that rt (ties)
    val naive = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") && col("rt") <= col("t"), "left")
      .groupBy(col("l.k").as("k"), col("lid"), col("t"))
      .agg(max_by(col("rid"), struct(col("rt"), col("rid"))).as("rid"))
      .collect().map(r => (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val fast0 = graft.operators.AsofJoin(left, right, Seq("k"), "t", "rt", Seq("rid"))
      .collect().map(r => (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // ties on rt are resolved arbitrarily by the carry; compare on keys
    // where the naive answer is unique per (rt)
    val rtCounts = right.groupBy("k", "rt").count()
      .filter(col("count") > 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // one collect up front: per-row filter().collect() would launch a
    // Spark job per left row
    val ridInfo: Map[Long, (String, Long)] = right.collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getLong(2))).toMap
    val leftRows = left.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    leftRows.foreach { case (k, lid, _) =>
      val naiveRid = naive(lid)
      val fastRid = fast0(lid)
      // skip rows whose matched rt is duplicated (tie-break undefined)
      val tied = ridInfo.get(naiveRid).exists(rtCounts.contains)
      if (!tied) assert(fastRid == naiveRid, s"lid=$lid: $fastRid != $naiveRid")
      else assert(fastRid != -1L == (naiveRid != -1L)) // both match something
    }
  }

  test("nearest as-of equals the naive min-|gap| definition on random data") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(29)
    val left = (1 to 300).map(i =>
      (s"k${rnd.nextInt(5)}", i.toLong, rnd.nextInt(1000).toLong)).toDF("k", "lid", "t")
    val right = (1 to 150).map(i =>
      (s"k${rnd.nextInt(6)}", 1000L + i, rnd.nextInt(1000).toLong)).toDF("k", "rid", "rt")
    // naive: min |rt - t| per key; at equal gap the smaller rt (= the
    // backward candidate) wins — the operator's documented tie rule
    val naive = left.as("l").join(right.as("r"), col("l.k") === col("r.k"), "left")
      .withColumn("gap", abs(col("rt") - col("t")))
      .groupBy(col("l.k").as("k"), col("lid"), col("t"))
      .agg(min_by(col("rid"), struct(col("gap"), col("rt"))).as("rid"))
      .collect().map(r => (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    val fast = graft.operators.AsofJoin(left, right, Seq("k"), "t", "rt", Seq("rid"),
        direction = "nearest")
      .collect().map(r => (r.getLong(1), if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // rows whose matched (k, rt) is duplicated have an undefined
    // tie-break within the instant — compare match/no-match only there
    val rtCounts = right.groupBy("k", "rt").count()
      .filter(col("count") > 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val ridInfo: Map[Long, (String, Long)] = right.collect()
      .map(r => r.getLong(1) -> (r.getString(0), r.getLong(2))).toMap
    left.collect().map(r => r.getLong(1)).foreach { lid =>
      val (naiveRid, fastRid) = (naive(lid), fast(lid))
      val tied = ridInfo.get(naiveRid).exists(rtCounts.contains)
      if (!tied) assert(fastRid == naiveRid, s"lid=$lid: $fastRid != $naiveRid")
      else assert(fastRid != -1L == (naiveRid != -1L))
    }
  }

  test("merge upsert equals the relational expected state on random data") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    val dir = tmpDir("law-merge-rnd")
    val ds = new ParquetDataset(spark, dir)
    val target = (1 to 200).map(i => (rnd.nextInt(120), s"t$i")).toDF("id", "v")
      .dropDuplicates("id")
    target.coalesce(2).write.mode("append").parquet(dir)
    val source = (1 to 80).map(i => (rnd.nextInt(160), s"s$i")).toDF("id", "v")
    // expected: per source key LAST row wins; matched target rows replaced,
    // unmatched source rows appended, untouched target rows preserved
    val srcLast = source.withColumn("ord", monotonically_increasing_id())
      .groupBy("id").agg(max_by(col("v"), col("ord")).as("v"))
    val expected = target.as("t").join(srcLast.as("s"), Seq("id"), "left")
      .select(col("id"), coalesce(col("s.v"), col("t.v")).as("v"))
      .unionByName(srcLast.join(target, Seq("id"), "left_anti"))
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    Merge(ds, source, Seq("id"), "upsert")
    val got = ds.df.collect().map(r => (r.getInt(0), r.getString(1))).toMap
    assert(got == expected)
  }

  test("merge counts equal the relational expectation for insert, update " +
    "and upsert, with a key duplicated across files and null keys") {
    // `updated` counts matched SOURCE keys, `inserted` the source keys the
    // target lacks (null-safe); a key held by two target files matches
    // once, so a count of matched target rows is off by one here
    val rnd = new scala.util.Random(57)
    val dup = 7
    val files = Seq(
      (0 until 40 by 2).map(k => (Option(k), s"a$k")) :+ ((Some(dup), "a-dup")),
      (1 until 40 by 2).filter(_ != dup).map(k => (Option(k), s"b$k")) :+
        ((Some(dup), "b-dup")) :+ ((None, "b-null")))
    val target = files.flatten
    val tKeys = target.map(_._1).toSet
    for (strategy <- Seq("insert", "update", "upsert"); trial <- 1 to 3) {
      val dir = tmpDir(s"law-merge-counts-$strategy")
      files.foreach(_.toDF("id", "v").coalesce(1).write.mode("append").parquet(dir))
      val ds = new ParquetDataset(spark, dir)
      val source = (Some(dup), s"s$trial-dup") +: (1 to 30).map { i =>
        (if (rnd.nextInt(6) == 0) None else Some(rnd.nextInt(70) - 10), s"s$trial-$i")
      }
      // last row wins per (null-safe) key
      val last = source.foldLeft(Map.empty[Option[Int], String])(_ + _)
      val matched = last.keySet.intersect(tKeys)
      val (expIns, expUpd) = strategy match {
        case "insert" => (last.size - matched.size, 0)
        case "update" => (0, matched.size)
        case _ => (last.size - matched.size, matched.size)
      }
      val merged = target.filterNot(r => last.contains(r._1))
      val expected = strategy match {
        case "insert" => target ++ last.filter(kv => !tKeys(kv._1))
        case "update" => merged ++ last.filter(kv => tKeys(kv._1))
        case _ => merged ++ last
      }
      val r = Merge(ds, source.toDF("id", "v"), Seq("id"), strategy)
      assert((r.sourceCount, r.inserted, r.updated) == ((last.size, expIns, expUpd)),
        s"$strategy trial $trial")
      val got = ds.df.collect().map(row =>
        (Option(row.get(0)).map(_.asInstanceOf[Int]), row.getString(1)))
      assert(got.toSeq.sorted == expected.toSeq.sorted, s"$strategy trial $trial state")
    }
  }

  test("every swap ends in exactly the before- or the after-state after a " +
    "fault at each point and recovery: no staging, no journal, sidecar == files") {
    import org.apache.spark.sql.functions._
    import graft.operators.{Delete, Maintenance, MaintenanceCleanupError,
      MergeCleanupError, PartialMergeError}
    import graft.sources.FsUtil
    // three partitions of two files each: every operation below stages
    // at least two files and retires at least two originals
    val template = tmpDir("law-fault")
    (0 until 2).foreach { f =>
      (0 until 30).map(i => (f * 100 + i, s"v$i", i % 3, i % 2)).toDF("k", "v", "p", "q")
        .coalesce(1).write.partitionBy("p").mode("append").parquet(template)
    }
    new ParquetDataset(spark, template).updateStats()
    def copyOf(from: String): ParquetDataset = {
      val to = tmpDir("law-fault-run")
      val src = java.nio.file.Paths.get(from)
      java.nio.file.Files.walk(src).iterator().forEachRemaining { p =>
        val d = java.nio.file.Paths.get(to).resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(d)
        else java.nio.file.Files.copy(p, d)
      }
      new ParquetDataset(spark, ObjectStoreFs.path(to))
    }
    def state(ds: ParquetDataset): Seq[String] = {
      val d = ds.df
      d.select(d.columns.sorted.map(c => col(c).cast("string")): _*)
        .collect().map(_.mkString("|")).toSeq.sorted
    }
    val upsertSrc = Seq(4, 105, 17, 999).map(k => (k, s"new$k", (k % 100) % 3, 0))
      .toDF("k", "v", "p", "q")
    // an operation, and its input with a row that fails inside it
    val ops: Seq[(String, ParquetDataset => Any, Option[ParquetDataset => Any])] = Seq(
      ("upsert", ds => operators.Merge(ds, upsertSrc, Seq("k"), "upsert"),
        Some(ds => operators.Merge(ds, upsertSrc.withColumn("v",
          when(col("k") === 17, raise_error(lit("injected fault"))).otherwise(col("v"))),
          Seq("k"), "upsert"))),
      ("delete", ds => Delete.where(ds, "v IN ('v4', 'v5')"),
        Some(ds => Delete.where(ds,
          "CASE WHEN k = 17 THEN raise_error('injected fault') ELSE v IN ('v4', 'v5') END"))),
      ("compactPartitions", ds => Maintenance.compactPartitions(ds), None),
      ("repartition", ds => Maintenance.repartition(ds, Seq("q")), None))
    val before = state(copyOf(template))
    ops.foreach { case (name, op, faulty) =>
      // compaction and repartition keep the rows: their after-state is
      // the before-state, and a fault may only add nothing to it
      val after = { val ds = copyOf(template); op(ds); state(ds) }
      val faults: Seq[(String, ParquetDataset => Any)] = Seq(
        ("promote", (ds: ParquetDataset) => {
          val e = intercept[Exception] {
            ObjectStoreFs.failingAfter(ObjectStoreFs.Promote, 1)(op(ds))
          }
          assert(e.isInstanceOf[FsUtil.PromoteFailedException] ||
            (name == "upsert" && e.isInstanceOf[PartialMergeError]), s"$name: $e")
        }),
        ("cleanup", (ds: ParquetDataset) => {
          val e = intercept[Exception] {
            ObjectStoreFs.failingAfter(ObjectStoreFs.Retire, 1)(op(ds))
          }
          assert(e.isInstanceOf[MaintenanceCleanupError] ||
            (name == "upsert" && e.isInstanceOf[MergeCleanupError]), s"$name: $e")
        })) ++ faulty.map(f => ("staged", (ds: ParquetDataset) => intercept[Exception](f(ds))))
      faults.foreach { case (point, inject) =>
        val ds = copyOf(template)
        inject(ds)
        Delete.recover(ds)
        val got = state(ds)
        assert(got == before || got == after,
          s"$name/$point: neither before nor after (${got.size} rows)")
        val leftovers = new java.io.File(FsUtil.stripScheme(ds.path)).list()
          .filter(n => n.startsWith("_tmp_") || n.endsWith("_journal"))
        assert(leftovers.isEmpty, s"$name/$point left ${leftovers.toSeq}")
        val side = ds.stats.get.select("file_path").distinct().collect().map(_.getString(0)).toSet
        assert(side == ds.relFiles.toSet, s"$name/$point: sidecar != files")
      }
    }
  }

  test("delete-where equals the relational filter on random data with nulls") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(41)
    (1 to 5).foreach { trial =>
      val dir = tmpDir(s"law-del-$trial")
      val ds = new ParquetDataset(spark, dir)
      val rows = (1 to 150).map { i =>
        (rnd.nextInt(40).toLong,
          if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(10)))
      }
      rows.toDF("k", "v").repartition(3).write.mode("append").parquet(dir)
      val bound = rnd.nextInt(10)
      // predicate evaluates NULL for null v — those rows must survive
      val res = graft.operators.Delete.where(ds, s"v >= $bound")
      val expect = rows.filterNot { case (_, v) => v.exists(_ >= bound) }
      val got = ds.df.collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1))))
      assert(got.sorted.toSeq == expect.map(t => (t._1, t._2)).sorted,
        s"trial $trial bound $bound")
      assert(res.deleted == rows.size - expect.size, s"trial $trial count")
    }
  }

  test("scan pruning is sound on randomized data and predicates") {
    // soundness law: for ANY supported predicate, scan(p).filter(p)
    // returns exactly the rows df.filter(p) returns — pruning may keep
    // extra files but must never drop a matching row. Randomized files
    // (overlapping ranges, negatives, bigints past 2^53, strings, nulls)
    // hunt the class of bug exact-lane pruning exists to prevent.
    val rnd = new scala.util.Random(7)
    val dir = tmpDir("law-prune")
    val big = 1L << 61
    (1 to 6).foreach { _ =>
      val base = rnd.nextInt(2000) - 1000
      val rows = (1 to 40).map { i =>
        val v = base + rnd.nextInt(300)
        val b = big + base * 1000L + rnd.nextInt(500)
        val s = if (rnd.nextBoolean()) s"k${rnd.nextInt(50)}" else s"m${rnd.nextInt(50)}"
        (v, b, if (rnd.nextInt(10) == 0) null else s, rnd.nextDouble() * 100 - 50)
      }
      rows.toDF("v", "b", "s", "d").coalesce(1).write.mode("append").parquet(dir)
    }
    val ds = new ParquetDataset(spark, dir)
    ds.updateStats()
    val preds = Seq(
      s"v > ${rnd.nextInt(600) - 300}", s"v <= ${rnd.nextInt(600) - 300}",
      s"v = ${rnd.nextInt(600) - 300}", s"v >= -100 AND v < 200",
      s"b > ${big - 500000}", s"b <= ${big + 200000}", s"b = ${big + 123}",
      "s > 'k20'", "s <= 'm25'", "s = 'k7'",
      "d > 0.5", "d <= -10.25", "v > 100 AND s < 'm0'")
    preds.foreach { p =>
      val expected = ds.df.filter(p).count()
      val got = ds.scan(p).filter(p).count()
      assert(got == expected, s"pruning dropped rows for [$p]: $got != $expected")
    }
  }

  test("scan pruning is sound on temporal literals, partition-plus-stats " +
    "conjunctions and an evolved schema") {
    // the same law over the date and timestamp lanes (string and typed
    // literals, across units and on both sides of 1970), hive partition
    // atoms AND'ed with stats atoms, and a column only later files carry
    import java.time.{Instant, LocalDate}
    val rnd = new scala.util.Random(11)
    val dir = tmpDir("law-prune-ext")
    val spans = Seq("1969-12-20", "2024-02-01").map(LocalDate.parse(_).toEpochDay)
    val dayMicros = 86400000000L
    (1 to 8).foreach { f =>
      val base = spans(f % 2) + rnd.nextInt(30)
      val rows = (1 to 30).map { _ =>
        val d = base + rnd.nextInt(15)
        val micros = d * dayMicros + (rnd.nextLong() & Long.MaxValue) % dayMicros
        (LocalDate.ofEpochDay(d), Instant.EPOCH.plusNanos(micros * 1000L),
          rnd.nextInt(400).toLong, Seq("a", "b", "c")(rnd.nextInt(3)), rnd.nextInt(10))
      }
      val df = rows.toDF("d", "ts", "v", "cat", "e").coalesce(1)
      (if (f <= 4) df.drop("e") else df).write.partitionBy("cat").mode("append").parquet(dir)
    }
    // single-day files pin the day boundary on both sides of 1970
    Seq("1969-12-31", "2024-02-20").map(LocalDate.parse(_)).foreach { d =>
      (0 until 6).map(h => (d, Instant.EPOCH.plusNanos((d.toEpochDay * dayMicros + h * 3600000000L) * 1000L),
        h.toLong, "a", h)).toDF("d", "ts", "v", "cat", "e")
        .coalesce(1).write.partitionBy("cat").mode("append").parquet(dir)
    }
    val merge = "spark.sql.parquet.mergeSchema"
    val prior = spark.conf.getOption(merge)
    spark.conf.set(merge, "true") // files without `e` read it as null
    try {
      val ds = new ParquetDataset(spark, dir)
      ds.updateStats()
      assert(ds.df.columns.contains("e"))
      val preds = Seq(
        "d >= '2024-03-01'", "d < '2024-02-10'", "d = '2024-02-20'",
        "d >= '1969-12-31 12:00:00'", "d < '1970-01-01'", "d <= '1969-12-31 23:59'",
        "ts > '2024-03-01 12:00:00'", "ts <= '2024-02-15'", "ts < '1970-01-01 06:30'",
        "ts < DATE '2024-03-01'", "ts >= DATE '1970-01-02'", "ts = DATE '2024-02-20'",
        "d >= TIMESTAMP '2024-03-01 12:00:00'", "d < TIMESTAMP '2024-02-20 12:00:00'",
        "d = TIMESTAMP '2024-02-20 00:00:00'", "d <= TIMESTAMP '1969-12-31 12:00:00'",
        "d > TIMESTAMP '1969-12-31 12:00:00'", "d = DATE '2024-02-20'",
        "d < '1969-12-31 12:00:00'", "d > '1969-12-31 12:00'", "d = '1969-12-31 06:00:00'",
        "d >= '2024-02-20 12:00:00'", "d < TIMESTAMP '1969-12-31 12:00:00'",
        "d = TIMESTAMP '1969-12-31 00:00:00'", "ts < '1969-12-31 03:00'",
        "ts >= TIMESTAMP '2024-02-25 08:00:00'",
        "cat = 'b' AND v > 100", "cat >= 'b' AND d < '2024-03-01'",
        "cat < 'c' AND ts > '2024-02-20' AND v <= 50",
        "e > 5", "e = 3 AND cat = 'a'", "e < 2 AND d >= '2024-02-15'")
      preds.foreach { p =>
        val expected = ds.df.filter(p).count()
        val got = ds.scan(p).filter(p).count()
        assert(got == expected, s"pruning dropped rows for [$p]: $got != $expected")
      }
      // not vacuous: the temporal lanes do prune
      assert(ds.pruneFiles("d < '1970-01-01'").size < ds.relFiles.size)
      assert(ds.pruneFiles("ts >= TIMESTAMP '2024-02-25 08:00:00'").size < ds.relFiles.size)
    } finally prior match {
      case Some(v) => spark.conf.set(merge, v)
      case None => spark.conf.unset(merge)
    }
  }

  test("delta equals the set-difference definition on random data with nulls") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(23)
    def mk(n: Int, tag: String) = (1 to n).map { i =>
      (if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(8).toLong),
        if (rnd.nextInt(4) == 0) None else Some(s"s${rnd.nextInt(5)}"),
        s"$tag$i")
    }.toDF("k", "s", "payload")
    val src = mk(120, "a")
    val tgt = mk(80, "b")
    // naive: null-safe key-tuple membership, computed driver-side
    val tgtKeys = tgt.select("k", "s").collect()
      .map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    val expected = src.collect()
      .filter(r => !tgtKeys.contains((Option(r.get(0)), Option(r.get(1)))))
      .map(_.getString(2)).sorted.toSeq
    val got = graft.functions.FrameOps.delta(src, tgt, Seq("k", "s"))
      .select("payload").collect().map(_.getString(0)).sorted.toSeq
    assert(got == expected, s"delta mismatch: got=${got.size} exp=${expected.size}")
  }

  test("prefix-filtered set-similarity join equals the naive all-pairs definition") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(31)
    // small vocabulary + overlapping draws force pairs at every
    // Jaccard band, including exact ties at the threshold
    // explicit clone groups (ids 200+ repeat earlier sets) force the
    // exact-duplicate collapse + expansion path alongside random sets
    val base = (1 to 120).map { i =>
      val sz = 1 + rnd.nextInt(12)
      (i.toLong, Seq.fill(sz)(s"e${rnd.nextInt(30)}").distinct)
    }
    val clones = (0 until 30).map(j => (200L + j, base(j % 10)._2))
    // duplicate ELEMENTS inside sets: both paths must normalize to
    // set semantics (array_distinct) identically
    val dups = (0 until 10).map(j =>
      (300L + j, base(j)._2 ++ base(j)._2.take(2)))
    val rows = (base ++ clones ++ dups).toDF("id", "els")
    for ((tn, td) <- Seq((1, 2), (3, 10), (4, 5))) {
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("id_a", "id_b", "n_inter", "n_union").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val fast = key(graft.operators.SetSimJoin.jaccardSelfJoin(rows, "id", "els", tn, td))
      val naive = key(graft.operators.SetSimJoin.naiveSelfJoin(rows, "id", "els", tn, td))
      assert(fast == naive,
        s"tau=$tn/$td: missed=${(naive -- fast).take(3)} extra=${(fast -- naive).take(3)}")
    }
  }

  test("set-similarity memo does not serve stale frames after the " +
    "backing files of the same path change") {
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("ssj_stale").toString
    def write(ids: Seq[Long]): Unit =
      ids.map(i => (i, Seq("a", "b", "c")))
        .toDF("id", "els").write.mode("overwrite").parquet(dir)
    def run(): Set[(Long, Long)] = {
      val in = spark.read.parquet(dir)
      graft.operators.SetSimJoin.jaccardSelfJoin(in, "id", "els", 1, 2)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    write(Seq(1L, 2L))
    assert(run() == Set((1L, 2L)))
    // same path, new physical files (overwrite writes fresh basenames):
    // the plan text is identical, so a pure plan-digest key would
    // replay the stale persisted frames and still emit (1,2)
    write(Seq(5L, 6L, 7L))
    assert(run() == Set((5L, 6L), (5L, 7L), (6L, 7L)),
      "memo served stale frames for a changed file set")
  }
}
