package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.operators.{CompactPlan, Delete, DeleteResult, Maintenance, Merge, MergeResult}
import graft.sources.{ParquetDataset, SortKey, UniqueOn, WriteConfig}

/** `ingest-merge`: a keyed dataset partitioned by a date part (`day` of
  * `ts`) under a fixed, seeded mix of appends (sort, dedupe, dateparts),
  * merges (upserts keyed to recent partitions, insert-only and
  * update-only batches), deletes (some matching no row) and compaction,
  * with one pruned read of each predicate kind after each operation (see
  * [[Model.reads]]).
  *
  * No recorded traffic of the reference or of this repository exists to
  * draw the mix from, so its ratios are assumed: one operation of each
  * kind per cycle, the batch sizes below, and a delete form drawn
  * uniformly from three, one of which matches no row.
  *
  * The expected state is an in-memory [[IngestMerge.Model]] updated from
  * the seeded batches alone; every read, every operation's reported
  * counts and the final dataset are checked against it, and after every
  * operation the sidecar must list exactly the physical files.
  */
object IngestMerge {
  final case class Rec(ts: Long, region: Int, userKey: Long, amount: Long, tag: Int) {
    def day: Int = dayOf(ts)
  }

  val DayMicros: Long = 86400L * 1000000L
  val Start: Long = java.time.LocalDate.parse("2024-03-01").toEpochDay * DayMicros
  val BaseRows = 30000
  val BaseDays = 10
  val AppendRows = 1000
  val MergeRows = 400
  /** Partitions merges, deletes and reads target: the latest days. */
  val RecentDays = 3
  val CompactMaxRows = 1000000L
  /** The operation mix, one of each kind, repeated in this order (batch
    * contents and predicates come from the seed), so every run applies the
    * same kinds of change to the dataset in the same order.
    */
  val Kinds = Seq("append", "upsert", "insert", "update", "delete", "compact")

  def dayOf(tsMicros: Long): Int =
    java.time.LocalDate.ofEpochDay(Math.floorDiv(tsMicros, DayMicros)).getDayOfMonth

  val AppendCfg = WriteConfig(mode = "append", partitionBy = Seq("day"),
    sortBy = Seq(SortKey("ts")), unique = UniqueOn(Seq("id")),
    datepartsFrom = Some("ts"), dateparts = Seq("day"))

  private val MergeSchema = StructType(EventRows.Schema.fields :+ StructField("day", IntegerType))

  /** A seeded mutation, described by its data alone. */
  sealed trait Mutation { def kind: String }
  final case class Append(batch: Seq[(Long, Rec)]) extends Mutation { def kind = "append" }
  final case class MergeBatch(kind: String, source: Seq[(Long, Rec)],
                              inserted: Int, updated: Int) extends Mutation
  final case class DeleteWhere(sql: String, deleted: Int) extends Mutation { def kind = "delete" }
  case object Compact extends Mutation { def kind = "compact" }

  /** In-memory expected state plus the seeded input generator. Making
    * a mutation applies its effect to the model at once, so mutations
    * must run in the order they are made.
    */
  final class Model(seed: Long) {
    val rng = new Rng(seed ^ 0x71L)
    val rows = mutable.LongMap.empty[Rec]
    var nextId = 0L
    var clock: Long = Start // newest ts handed out so far
    /** Every user row that landed (appended, inserted or updated). */
    val landed = mutable.ArrayBuffer.empty[(Long, Rec)]
    private var done = 0

    /** `n` new rows with fresh ids, in time order after the clock. */
    def newRows(n: Int, span: Long): Seq[(Long, Rec)] = {
      val g = EventRows.generate(rng, nextId, n, clock, span)
      nextId += n
      clock += span
      (0 until n).map(i => g.id(i) -> Rec(g.tsMicros(i), g.region(i), g.userKey(i), g.amount(i), g.tag(i)))
    }

    def base(): Seq[(Long, Rec)] = {
      val b = newRows(BaseRows, BaseDays * DayMicros)
      b.foreach { case (id, r) => rows(id) = r }
      b
    }

    private def recentIds(n: Int): Seq[Long] = {
      val lo = clock - RecentDays * DayMicros
      rng.shuffle(rows.iterator.filter(_._2.ts >= lo).map(_._1).toVector.sorted).take(n)
    }

    private def recentDay(): Int = dayOf(clock - rng.below(RecentDays * DayMicros))

    def nextKind(): String = { done += 1; Kinds((done - 1) % Kinds.size) }

    def mutation(kind: String): Mutation = kind match {
      case "append" =>
        val rs = newRows(AppendRows, DayMicros / 4)
        // about 2% exact duplicates inside the batch, which dedupe drops
        val dups = rs.filter(_ => rng.int(50) == 0)
        rs.foreach { case (id, r) => rows(id) = r }
        landed ++= rs
        Append(rng.shuffle(rs ++ dups))
      case "upsert" | "insert" | "update" =>
        val hits = recentIds(if (kind == "upsert") MergeRows * 5 / 8 else MergeRows / 2)
          .map(id => id -> rows(id).copy(amount = rng.below(100000L), tag = rng.int(EventRows.Tags)))
        val news = newRows(MergeRows - hits.size, DayMicros / 8)
        val (ins, upd) = kind match {
          case "upsert" => (news, hits)
          case "insert" => (news, Nil)
          case _ => (Nil, hits)
        }
        (ins ++ upd).foreach { case (id, r) => rows(id) = r }
        landed ++= ins ++ upd
        MergeBatch(kind, rng.shuffle(hits ++ news), ins.size, upd.size)
      case "delete" =>
        val d = recentDay()
        val t = rng.int(EventRows.Tags)
        val (sql, test): (String, Rec => Boolean) = rng.int(3) match {
          case 0 => (s"tag = 't$t' AND day = $d", r => r.tag == t && r.day == d)
          case 1 => (s"user_key % 97 = $t AND day = $d", r => r.userKey % 97 == t && r.day == d)
          case _ => ("amount < 0", _ => false) // matches no row
        }
        val gone = rows.iterator.filter(kv => test(kv._2)).map(_._1).toVector
        gone.foreach(rows.remove)
        DeleteWhere(sql, gone.size)
      case "compact" => Compact
    }

    def pred(kind: String): Pred[Rec] = kind match {
      case "time-range" =>
        val width = 6L * 3600L * 1000000L
        val a = clock - rng.below(2 * DayMicros)
        Pred[Rec](kind, s"ts >= '${EventRows.literal(a)}' AND ts < '${EventRows.literal(a + width)}'",
          r => r.ts >= a && r.ts < a + width)
      case "partition-eq" =>
        val d = recentDay()
        Pred[Rec](kind, s"day = $d", _.day == d)
      case "key-eq" =>
        val k = rng.below(EventRows.UserKeys)
        Pred[Rec](kind, s"user_key = $k", _.userKey == k)
      case "unprunable" =>
        val m = 50 + rng.int(50)
        val v = rng.int(m)
        Pred[Rec](kind, s"amount % $m = $v", _.amount % m == v)
    }

    /** The reads after each operation, one of each predicate kind in
      * seeded order, with the (rows, amount) each must return.
      */
    def reads(): Seq[(Pred[Rec], (Long, Long))] = rng.shuffle(Pred.Kinds).map { k =>
      val p = pred(k)
      var n = 0L
      var s = 0L
      rows.valuesIterator.foreach(r => if (p.test(r)) { n += 1; s += r.amount })
      (p, (n, s))
    }

    def frame(spark: SparkSession, rs: Seq[(Long, Rec)], withDay: Boolean): DataFrame = {
      val list = new java.util.ArrayList[Row](rs.size)
      rs.foreach { case (id, r) =>
        val base = Seq(id, EventRows.ts(r.ts), s"r${r.region}", r.userKey, r.amount, s"t${r.tag}")
        list.add(Row.fromSeq(if (withDay) base :+ r.day else base))
      }
      spark.createDataFrame(list, if (withDay) MergeSchema else EventRows.Schema)
    }
  }

  /** The inputs a seed yields: the base rows and the first `groups`
    * operations with their reads, as text.
    */
  def inputs(seed: Long, groups: Int): Seq[String] = {
    val m = new Model(seed)
    m.base().map(_.toString) ++ (1 to groups).flatMap { _ =>
      m.mutation(m.nextKind()).toString +: m.reads().map(r => s"${r._1.sql} -> ${r._2}")
    }
  }

  /** None when the sidecar lists exactly the files on disk. */
  def sidecarError(side: Set[String], phys: Seq[String]): Option[String] =
    if (side == phys.toSet) None
    else Some(s"sidecar lists ${side.size} file(s), disk holds ${phys.size}: " +
      s"only in sidecar ${(side -- phys).take(3)}, only on disk ${(phys.toSet -- side).take(3)}")

  /** None when the dataset's rows (id, ts, region, user_key, amount,
    * tag) are exactly the model's.
    */
  def finalStateError(got: Seq[Row], want: collection.Map[Long, Rec]): Option[String] = {
    val wrong = got.iterator.filterNot { r =>
      want.get(r.getLong(0)).exists { w =>
        r.getTimestamp(1) == EventRows.ts(w.ts) && r.getString(2) == s"r${w.region}" &&
          r.getLong(3) == w.userKey && r.getLong(4) == w.amount && r.getString(5) == s"t${w.tag}"
      }
    }.take(3).toVector
    val ids = got.map(_.getLong(0))
    val dup = ids.length - ids.distinct.length
    if (wrong.isEmpty && dup == 0 && ids.length == want.size) None
    else Some(s"dataset holds ${ids.length} row(s) ($dup duplicate id(s)), model ${want.size}; " +
      s"first mismatches $wrong")
  }

  /** Physical files with their sizes and (from the sidecar) row counts. */
  final case class Layout(bytes: Map[String, Long], rows: Map[String, Long])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    var model: Model = null
    var ds: ParquetDataset = null
    var layout = Layout(Map.empty, Map.empty)
    // operator counters, reported as per-layer metrics
    val acc = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    var invariantChecks = 0

    /** Records the file layout; checks the sidecar against the disk. */
    def snapshot(): Option[String] = {
      val phys = ds.relFiles
      val side = ds.stats.map(_.select("file_path", "row_group", "rg_num_rows").distinct()
        .groupBy("file_path").agg(sum("rg_num_rows")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap).getOrElse(Map.empty)
      layout = Layout(phys.map(f => f -> java.nio.file.Files.size(
        java.nio.file.Paths.get(s"${ds.path}/$f"))).toMap, side)
      sidecarError(side.keySet, phys)
    }

    def rowsIn(files: Seq[String]): Long = files.map(layout.rows.getOrElse(_, 0L)).sum

    def step(mu: Mutation): Step = {
      val s = mu match {
        case Append(batch) =>
          val df = model.frame(spark, batch, withDay = false)
          Step("append", "append", () => tr.span("sources.write")(ds.write(df, AppendCfg)))
        case MergeBatch(kind, source, ins, upd) =>
          val df = model.frame(spark, source, withDay = true)
          Step(kind, kind, () => tr.span("operators.merge")(Merge(ds, df, Seq("id"), kind)), check = {
            case r: MergeResult =>
              acc("merge.n") += 1
              acc("merge.files") += r.rewrittenFiles.size
              acc("merge.updated") += r.updated
              acc("merge.rows_rewritten") += rowsIn(r.rewrittenFiles)
              if (r.inserted == ins && r.updated == upd) None
              else Some(s"merge reported ${r.inserted} inserted / ${r.updated} updated, expected $ins / $upd")
            case other => Some(s"unexpected merge result $other")
          })
        case DeleteWhere(sql, gone) =>
          Step("delete", sql, () => tr.span("operators.delete")(Delete.where(ds, sql)), check = {
            case r: DeleteResult =>
              acc("delete.n") += 1
              acc("delete.deleted") += r.deleted
              acc("delete.rows_rewritten") += rowsIn(r.rewrittenFiles)
              if (r.deleted == gone) None else Some(s"delete reported ${r.deleted} row(s), expected $gone")
            case other => Some(s"unexpected delete result $other")
          })
        case Compact =>
          Step("compact", "compactPartitions", () => tr.span("operators.compact")(
            Maintenance.compactPartitions(ds, maxRowsPerFile = CompactMaxRows)), check = {
            case p: CompactPlan =>
              acc("compact.n") += 1
              acc("compact.in") += p.plannedFiles.size
              acc("compact.bytes") += p.plannedFiles.map(layout.bytes.getOrElse(_, 0L)).sum
              acc("compact.out") += ds.relFiles.size - (layout.bytes.size - p.plannedFiles.size)
              None
            case other => Some(s"unexpected compaction result $other")
          })
      }
      // after every operation: the sidecar lists exactly the files on disk
      s.copy(after = () => {
        invariantChecks += 1
        snapshot().foreach(e => ctx.checkFailed(s"sidecar-invariant/${s.kind}", e))
      })
    }

    // traced runs probe the pruning of the first read after each operation
    val probe = new PrunedRead.Probe
    var probing = false
    def reads(): Seq[Step] = model.reads().zipWithIndex.map { case ((p, want), i) =>
      Step("read", p.kind, () => PrunedRead(ctx, ds, p), check = PrunedRead.verdict(_, want),
        after = () => if (probing && i == 0) probe(ctx, ds, p))
    }

    ctx.setup {
      ds = new ParquetDataset(spark, s"${ctx.work}/ingest")
      model = new Model(ctx.seed)
      ds.write(model.frame(spark, model.base(), withDay = false), AppendCfg.copy(mode = "overwrite"))
      snapshot().foreach(e => ctx.checkFailed("sidecar-invariant/setup", e))
    }
    // warm pass: each operation once (insert and update share upsert's
    // code), checked like the measured ones
    var landedBeforeLoop = 0
    ctx.warm {
      (Seq("append", "upsert", "delete", "compact").map(k => step(model.mutation(k))) ++ reads()).foreach { s =>
        val err = scala.util.Try(s.body()).fold(e => Some(e.toString), v => s.check(v))
        err.foreach(e => ctx.checkFailed(s"warm/${s.kind}", e))
        s.after()
      }
      acc.clear()
      landedBeforeLoop = model.landed.size
    }

    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val out0 = ctx.jobs.outputBytes
    // a traced run covers every kind of operation at least once
    probing = tr.enabled
    ctx.loop(() => step(model.mutation(model.nextKind())) +: reads(),
      minBatches = if (tr.enabled) Kinds.size else 0)
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val taskOutput = ctx.jobs.outputBytes - out0
    probe.report(ctx)

    // untimed: the final state against the model
    val err = finalStateError(
      ds.df.select("id", "ts", "region", "user_key", "amount", "tag").collect().toSeq, model.rows)
    ctx.check("final-state", err.isEmpty, err.getOrElse(""))

    // write amplification: task output bytes over the bytes of the same
    // user rows written once (one parquet write, the pipeline's codec)
    val landed = model.landed.drop(landedBeforeLoop)
    val once = s"${ctx.work}/written-once"
    model.frame(spark, landed.toSeq, withDay = false).coalesce(1)
      .write.mode("overwrite").option("compression", "zstd").parquet(once)
    val onceBytes = new java.io.File(once).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum

    def per(k: String, by: String) = if (acc(by) > 0) acc(k) / acc(by) else 0.0
    ctx.info("sidecar_invariant_checks", invariantChecks)
    ctx.info("landed_rows", landed.size)
    ctx.info("task_output_bytes", taskOutput)
    ctx.info("written_once_bytes", onceBytes)
    ctx.info("dataset_bytes", Fs.bytes(ds.path))
    ctx.info("live_rows", model.rows.size)
    ctx.info("files", ds.relFiles.size)
    ctx.layer("operators.merge_rewritten_files", per("merge.files", "merge.n"))
    ctx.layer("operators.merge_rewrite_useful", per("merge.updated", "merge.rows_rewritten"))
    ctx.layer("operators.delete_rewrite_useful", per("delete.deleted", "delete.rows_rewritten"))
    ctx.layer("operators.compact_files_in", per("compact.in", "compact.n"))
    ctx.layer("operators.compact_files_out", per("compact.out", "compact.n"))
    ctx.layer("operators.compact_mb_rewritten", per("compact.bytes", "compact.n") / 1048576.0)
  }
}
