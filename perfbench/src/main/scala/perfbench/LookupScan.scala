package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.ScanPruner
import graft.sources.{ParquetDataset, Sanitize, SortKey, WriteConfig}

/** Rows of the seeded event table both pruning workloads read, kept on
  * in memory as the independent model the results are checked
  * against. `ts` rises with `id`, so time ranges cluster by file;
  * `user_key` is uniform over a wide domain, so min/max stats cannot
  * prune it.
  */
final class EventRows(val id: Array[Long], val tsMicros: Array[Long], val region: Array[Int],
                      val userKey: Array[Long], val amount: Array[Long], val tag: Array[Int]) {
  def size: Int = id.length
}

object EventRows {
  val Regions = 8
  val Tags = 50
  val UserKeys = 1000000L
  val StartMicros: Long = java.time.LocalDate.parse("2024-01-01").toEpochDay * 86400L * 1000000L

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("ts", TimestampType),
    StructField("region", StringType), StructField("user_key", LongType),
    StructField("amount", LongType), StructField("tag", StringType)))

  def generate(rng: Rng, firstId: Long, n: Int, startMicros: Long, spanMicros: Long): EventRows = {
    val step = math.max(1L, spanMicros / n)
    val r = new EventRows(Array.tabulate(n)(i => firstId + i), new Array[Long](n), new Array[Int](n),
      new Array[Long](n), new Array[Long](n), new Array[Int](n))
    (0 until n).foreach { i =>
      r.tsMicros(i) = startMicros + i * step + rng.below(step)
      r.region(i) = rng.int(Regions)
      r.userKey(i) = rng.below(UserKeys)
      r.amount(i) = rng.below(100000L)
      r.tag(i) = rng.int(Tags)
    }
    r
  }

  def ts(micros: Long): java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
      Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L))

  def literal(micros: Long): String =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))

  def frame(spark: SparkSession, r: EventRows): DataFrame = {
    val rows = new java.util.ArrayList[Row](r.size)
    (0 until r.size).foreach(i => rows.add(Row(r.id(i), ts(r.tsMicros(i)), s"r${r.region(i)}",
      r.userKey(i), r.amount(i), s"t${r.tag(i)}")))
    spark.createDataFrame(rows, Schema)
  }
}

/** A seeded read predicate with its SQL text and a row test on the
  * model. Kinds: a time range (min/max stats prune it), partition
  * equality, equality on the uniform high-cardinality key (stats
  * cannot prune it) and an expression the pruner cannot parse.
  */
final case class Pred[R](kind: String, sql: String, test: R => Boolean)

object Pred {
  val Kinds = Vector("time-range", "partition-eq", "key-eq", "unprunable")

  def make(kind: String, rng: Rng, r: EventRows, lo: Long, hi: Long): Pred[Int] = kind match {
    case "time-range" =>
      val width = 12L * 3600L * 1000000L
      val a = lo + rng.below(math.max(1L, hi - lo - width))
      Pred[Int](kind, s"ts >= '${EventRows.literal(a)}' AND ts < '${EventRows.literal(a + width)}'",
        i => r.tsMicros(i) >= a && r.tsMicros(i) < a + width)
    case "partition-eq" =>
      val g = rng.int(EventRows.Regions)
      Pred[Int](kind, s"region = 'r$g'", i => r.region(i) == g)
    case "key-eq" =>
      // half the keys are drawn from the data, so most lookups hit
      val k = if (rng.int(2) == 0 && r.size > 0) r.userKey(rng.int(r.size)) else rng.below(EventRows.UserKeys)
      Pred[Int](kind, s"user_key = $k", i => r.userKey(i) == k)
    case "unprunable" =>
      val m = 50 + rng.int(50)
      val v = rng.int(m)
      Pred[Int](kind, s"amount % $m = $v", i => r.amount(i) % m == v)
  }
}

/** A pruned read as users issue it: `ds.scan(pred)`, the same predicate
  * again on the rows, and an aggregate. Shared by `lookup-scan` and
  * the reads that `ingest-merge` interleaves with its writes.
  */
object PrunedRead {
  def apply(ctx: Ctx, ds: ParquetDataset, p: Pred[_]): (Long, Long) = {
    val d = ctx.tracer.span("sources.scan")(ds.scan(p.sql))
    val r = ctx.tracer.span("spark.exec")(
      d.filter(p.sql).agg(count(lit(1)), coalesce(sum("amount"), lit(0L))).collect()(0))
    (r.getLong(0), r.getLong(1))
  }

  def expected(r: EventRows, p: Pred[Int]): (Long, Long) = {
    var n = 0L
    var s = 0L
    var i = 0
    while (i < r.size) {
      if (p.test(i)) { n += 1; s += r.amount(i) }
      i += 1
    }
    (n, s)
  }

  def verdict(got: Any, want: (Long, Long)): Option[String] =
    if (got == want) None else Some(s"got (rows, amount) $got, expected $want")

  /** Pruning probe for traced runs, untimed: the public calls a scan is
    * made of, each in its own span, plus which kept files hold a match.
    */
  final class Probe {
    var n = 0
    var listMs, sidecarMs, pruneMs, files, kept, keptWithMatch = 0.0

    def apply(ctx: Ctx, ds: ParquetDataset, p: Pred[_]): Unit = {
      val tr = ctx.tracer
      def timed[T](name: String)(f: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val v = tr.span(name)(f)
        (v, (System.nanoTime() - t0) / 1e6)
      }
      val (all, l) = timed("sources.list")(ds.relFiles)
      val (stats, s) = timed("sources.sidecar_read")(ds.stats.map(st => { st.collect(); st }))
      val (chosen, pr) = timed("plans.prune")(
        ScanPruner.selectFiles(stats, all, Sanitize(p.sql)).getOrElse(all))
      val matched = tr.span("probe.matches")(ds.scan(p.sql).filter(p.sql)
        .select(input_file_name()).distinct().collect().length)
      n += 1
      listMs += l; sidecarMs += s; pruneMs += pr
      files += all.size; kept += chosen.size; keptWithMatch += matched
    }

    def report(ctx: Ctx): Unit = if (n > 0) {
      ctx.layer("sources.list_ms", listMs / n)
      ctx.layer("sources.files", files / n)
      ctx.layer("sources.sidecar_read_ms", sidecarMs / n)
      ctx.layer("plans.prune_ms", pruneMs / n)
      ctx.layer("plans.keep_ratio", if (files > 0) kept / files else 0.0)
      ctx.layer("plans.prune_precision", if (kept > 0) keptWithMatch / kept else 0.0)
    }
  }

  /** Pruning is conservative: `scan(p)` filtered by `p` holds exactly
    * the rows of `df.filter(p)`.
    */
  def conservative(ds: ParquetDataset, p: Pred[_]): Option[String] = {
    val viaScan = ds.scan(p.sql).filter(p.sql)
    sameRows(viaScan, ds.df.filter(p.sql).select(viaScan.columns.map(col).toIndexedSeq: _*))
      .map(e => s"${p.sql}: $e")
  }

  /** None when both frames hold the same multiset of rows. */
  def sameRows(got: DataFrame, want: DataFrame): Option[String] = {
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    if (missing == 0 && extra == 0) None else Some(s"lost $missing row(s) and added $extra")
  }
}

/** `lookup-scan`: selective reads of a seeded hive-partitioned managed
  * dataset with hundreds of files and a stats sidecar, mixing the four
  * predicate kinds of [[Pred]].
  */
object LookupScan {
  val RowsN = 60000
  val RowsPerFile = 240L
  val SpanMicros: Long = 60L * 86400L * 1000000L

  private def rows(seed: Long) = EventRows.generate(new Rng(seed ^ 0x61L), 0L, RowsN,
    EventRows.StartMicros, SpanMicros)

  private def preds(seed: Long, rows: EventRows): () => Seq[Pred[Int]] = {
    val rng = new Rng(seed ^ 0x62L)
    () => rng.shuffle(Pred.Kinds).map(k =>
      Pred.make(k, rng, rows, EventRows.StartMicros, EventRows.StartMicros + SpanMicros))
  }

  /** The inputs a seed yields: the rows and the first `groups` groups of
    * predicates, as text.
    */
  def inputs(seed: Long, groups: Int): Seq[String] = {
    val r = rows(seed)
    val next = preds(seed, r)
    (0 until r.size).map(i => s"${r.id(i)} ${r.tsMicros(i)} ${r.region(i)} ${r.userKey(i)} ${r.amount(i)} ${r.tag(i)}") ++
      (1 to groups).flatMap(_ => next().map(_.sql))
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rows = LookupScan.rows(ctx.seed)
    val nextGroup = preds(ctx.seed, rows)
    var ds: ParquetDataset = null

    ctx.setup {
      ds = new ParquetDataset(spark, s"${ctx.work}/lookup")
      ds.write(EventRows.frame(spark, rows), WriteConfig(
        mode = "overwrite", partitionBy = Seq("region"), sortBy = Seq(SortKey("ts")),
        maxRowsPerFile = RowsPerFile))
    }
    ctx.warm(nextGroup().foreach(p => PrunedRead(ctx, ds, p)))
    ctx.info("files", ds.relFiles.size)

    val probe = new PrunedRead.Probe
    ctx.loop { () =>
      nextGroup().map { p =>
        Step("read", p.kind, () => PrunedRead(ctx, ds, p),
          check = got => PrunedRead.verdict(got, PrunedRead.expected(rows, p)),
          after = () => if (ctx.tracer.enabled) probe(ctx, ds, p))
      }
    }
    probe.report(ctx)

    nextGroup().foreach { p =>
      val err = PrunedRead.conservative(ds, p)
      ctx.check(s"conservative-pruning/${p.kind}", err.isEmpty, err.getOrElse(""))
    }
  }
}
