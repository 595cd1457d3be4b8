package graft.plans

import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types.{DateType, StringType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{ColStat, StatsSidecar}

/** Conservative statistics-based file pruning — the reference's
  * `_prune_metadata_files` (pydala/helpers/metadata.py:127-266),
  * evaluated on the driver over the stats sidecar.
  *
  * Contract (pinned by the reference's tests/test_table.py:35-224):
  *  - only a top-level AND conjunction is split; atoms are
  *    `col op literal` with op ∈ {> >= < <= =};
  *  - `>`/`>=` test the row-group max (null-stat tolerant), `<`/`<=`
  *    the min, `=` the [min, max] envelope;
  *  - ANY unsupported construct ⇒ no pruning at all (keep every file);
  *  - atoms on hive partition columns are evaluated against the
  *    partition values parsed from the file path;
  *  - selected files return ALL their rows — scan() is file-level
  *    pruning, not row filtering.
  *
  * Evaluation: survival is decided in plain Scala over the sidecar
  * rows of the atoms' non-partition columns — the rows a dataset holds
  * on the driver, or one sidecar read with an IN filter pushed into the
  * parquet scan ([[selectFiles]]). Those rows hold row
  * groups × atom columns — the same order of size as the file listing
  * the caller already holds on the driver — so a per-atom distributed
  * join plan would buy nothing but fixed job overhead. Predicates that
  * do not parse, or whose atoms are all on partition columns, read
  * nothing and launch no job.
  *
  * Ordering follows Catalyst, so a row group is pruned only where
  * Spark's own filter cannot match: strings compare by UTF-8 bytes
  * (`UTF8String.compareTo`), doubles by `SQLOrderingUtil.compareDoubles`
  * (NaN greatest, -0.0 = 0.0), integral lanes exactly in int64.
  * Temporal literals are read as UTC, the session zone the project
  * pins.
  */
object ScanPruner {

  sealed trait Op
  case object Gt extends Op
  case object Ge extends Op
  case object Lt extends Op
  case object Le extends Op
  case object Eq extends Op

  final case class Atom(column: String, op: Op, value: Any, valueIsString: Boolean)

  /** A typed `DATE`/`TIMESTAMP` literal as epoch micros (a date at its
    * midnight). It prunes only the date and timestamp lanes: Spark
    * compares a date with a timestamp as the date's midnight, so the
    * raw days (or micros) must never meet the other unit.
    */
  final case class TemporalValue(micros: Long)

  /** Parse a SQL predicate into conjunctive atoms; None ⇒ unsupported
    * somewhere ⇒ caller keeps all files.
    */
  def parse(sql: String): Option[Seq[Atom]] = {
    val e = try {
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql)
    } catch { case _: Exception => return None }
    val conjuncts = split(e)
    val atoms = conjuncts.map(parseAtom)
    if (atoms.exists(_.isEmpty)) None else Some(atoms.flatten)
  }

  private def split(e: Expression): Seq[Expression] = e match {
    case And(l, r) => split(l) ++ split(r)
    case x => Seq(x)
  }

  private def parseAtom(e: Expression): Option[Atom] = {
    def mk(attr: Expression, lit: Expression, op: Op): Option[Atom] = (attr, lit) match {
      case (a: UnresolvedAttribute, l: Literal) =>
        val isStr = l.dataType == StringType
        val v = (l.value, l.dataType) match {
          case (u: UTF8String, _) => u.toString
          case (d: Integer, DateType) => TemporalValue(d.longValue * MicrosPerDay)
          case (us: java.lang.Long, TimestampType | TimestampNTZType) => TemporalValue(us)
          case (other, _) => other
        }
        Some(Atom(a.nameParts.mkString("."), op, v, isStr))
      case _ => None
    }
    e match {
      case GreaterThan(a, l: Literal) => mk(a, l, Gt)
      case GreaterThanOrEqual(a, l: Literal) => mk(a, l, Ge)
      case LessThan(a, l: Literal) => mk(a, l, Lt)
      case LessThanOrEqual(a, l: Literal) => mk(a, l, Le)
      case EqualTo(a, l: Literal) => mk(a, l, Eq)
      case GreaterThan(l: Literal, a) => mk(a, l, Lt)
      case GreaterThanOrEqual(l: Literal, a) => mk(a, l, Le)
      case LessThan(l: Literal, a) => mk(a, l, Gt)
      case LessThanOrEqual(l: Literal, a) => mk(a, l, Ge)
      case EqualTo(l: Literal, a) => mk(a, l, Eq)
      case _ => None
    }
  }

  // ---- temporal literal parsing ('YYYY-MM-DD[ HH:MM[:SS[.ffffff]]]') ----

  private val MicrosPerDay = 86400000000L
  private val DateRe = """^(\d{4})-(\d{2})-(\d{2})$""".r
  private val TsRe = """^(\d{4})-(\d{2})-(\d{2})[ T](\d{2}):(\d{2})(:(\d{2})(\.(\d{1,6}))?)?$""".r

  /** (epochMicros, epochDays) when the string is a temporal literal. */
  def parseTemporal(s: String): Option[(Long, Int)] = s match {
    case DateRe(_*) =>
      val d = LocalDate.parse(s)
      Some((d.toEpochDay * MicrosPerDay, d.toEpochDay.toInt))
    case TsRe(_*) =>
      val norm = s.replace(' ', 'T')
      val fmt = DateTimeFormatter.ISO_LOCAL_DATE_TIME
      val dt = LocalDateTime.parse(
        if (norm.count(_ == ':') == 1) norm + ":00" else norm, fmt)
      val micros = dt.toEpochSecond(ZoneOffset.UTC) * 1000000L + dt.getNano / 1000L
      // floor, not truncation: a pre-1970 instant lies on the day before
      Some((micros, Math.floorDiv(micros, MicrosPerDay).toInt))
    case _ => None
  }

  // ---- row-group survival over stats rows (null-stat tolerant) ------

  /** Whether `op literal` may hold somewhere in `[min, max]`; `c` is the
    * sign of (bound − literal) under Catalyst's ordering. `>`/`>=` test
    * the max, `<`/`<=` the min, `=` both; a missing bound keeps.
    */
  private def within[T](op: Op, min: Option[T], max: Option[T])(c: T => Int): Boolean = {
    def lo(ok: Int => Boolean) = min.forall(m => ok(c(m)))
    def hi(ok: Int => Boolean) = max.forall(m => ok(c(m)))
    op match {
      case Gt => hi(_ > 0)
      case Ge => hi(_ >= 0)
      case Lt => lo(_ < 0)
      case Le => lo(_ <= 0)
      case Eq => lo(_ <= 0) && hi(_ >= 0)
    }
  }

  /** Double lane under Spark's double ordering: NaN sorts greatest and
    * -0.0 equals 0.0 (a plain `<` would drop a NaN-max row group).
    */
  private def numOk(op: Op, v: Double)(s: ColStat): Boolean =
    within(op, s.min_num, s.max_num)(SQLOrderingUtil.compareDoubles(_, v))

  /** String lane in UTF-8 byte order, as Catalyst and parquet compare;
    * `String.compareTo` (UTF-16) orders supplementary characters below
    * U+E000..U+FFFF and would drop matching row groups.
    */
  private def strOk(op: Op, v: UTF8String)(s: ColStat): Boolean =
    within(op, s.min_str, s.max_str)(b => UTF8String.fromString(b).compareTo(v))

  /** Exact-bigint lane: integral columns (long/date/timestamp/bool)
    * compare in the int64 domain, never through double — the double
    * lane rounds past 2^53 and a rounded bound could prune a file whose
    * true envelope contains matches. Sidecars written before the exact
    * lanes existed read back with null `min_int`/`max_int`: those rows
    * FALL BACK to the double lane (exact below 2^53) rather than losing
    * pruning entirely.
    */
  private def intOk(op: Op, v: Long)(s: ColStat): Boolean =
    if (s.min_int.isEmpty && s.max_int.isEmpty) numOk(op, v.toDouble)(s)
    else within(op, s.min_int, s.max_int)(java.lang.Long.compare(_, v))

  /** A fractional literal against an integral lane, translated to the
    * equivalent exact integer comparison (x > 10.5 ⟺ x ≥ 11). Bounds
    * come from the EXACT BigDecimal — rounding the literal to double
    * first can move it by up to an ulp and reintroduce the unsound
    * pruning the integer lanes exist to prevent.
    */
  private def fracIntOk(op: Op, v: java.math.BigDecimal): ColStat => Boolean = {
    import java.math.RoundingMode
    val (lo, hi) =
      try (v.setScale(0, RoundingMode.FLOOR).longValueExact,
        v.setScale(0, RoundingMode.CEILING).longValueExact)
      catch { case _: ArithmeticException => return _ => true } // out of int64
    op match {
      case Gt => if (lo == Long.MaxValue) _ => false else intOk(Ge, lo + 1)
      case Ge => intOk(Ge, hi)
      case Lt => if (hi == Long.MinValue) _ => false else intOk(Le, hi - 1)
      case Le => intOk(Le, lo)
      case Eq => _ => false // no integer equals a strictly fractional value
    }
  }

  /** A timestamp against a date lane, compared as the date's midnight:
    * the exact day comparison (d < t ⟺ d < ⌈t⌉ in days).
    */
  private def midnightOk(op: Op, micros: Long): ColStat => Boolean = {
    val lo = Math.floorDiv(micros, MicrosPerDay)
    val hi = -Math.floorDiv(-micros, MicrosPerDay)
    op match {
      case Gt => intOk(Gt, lo)
      case Ge => intOk(Ge, hi)
      case Lt => intOk(Lt, hi)
      case Le => intOk(Le, lo)
      case Eq => if (lo == hi) intOk(Eq, lo) else _ => false
    }
  }

  private val IntLanes = Set("long", "date", "timestamp", "bool")

  /** Integral-lane test for integral-lane rows, `other` for the rest. */
  private def byLane(int: ColStat => Boolean, other: ColStat => Boolean): ColStat => Boolean =
    s => if (IntLanes(s.typ)) int(s) else other(s)

  /** Timestamp-lane test at `micros`, `onDate` for date rows, `other`
    * for the rest.
    */
  private def byTemporalLane(op: Op, micros: Long, onDate: ColStat => Boolean,
                             other: ColStat => Boolean): ColStat => Boolean =
    s => s.typ match {
      case "timestamp" => intOk(op, micros)(s)
      case "date" => onDate(s)
      case _ => other(s)
    }

  /** Exact decimal value of a numeric or boolean (0/1) literal. */
  private def exactValue(v: Any): Option[java.math.BigDecimal] = v match {
    case n @ (_: java.lang.Byte | _: java.lang.Short | _: java.lang.Integer | _: java.lang.Long) =>
      Some(java.math.BigDecimal.valueOf(n.asInstanceOf[Number].longValue))
    case b: java.lang.Boolean => Some(if (b) java.math.BigDecimal.ONE else java.math.BigDecimal.ZERO)
    case b: java.math.BigDecimal => Some(b)
    case d: org.apache.spark.sql.types.Decimal => Some(d.toJavaBigDecimal)
    case d: java.lang.Double if java.lang.Double.isFinite(d) => Some(new java.math.BigDecimal(d.doubleValue))
    case f: java.lang.Float if java.lang.Float.isFinite(f) => Some(new java.math.BigDecimal(f.doubleValue))
    case _ => None
  }

  /** The value as an int64 when it is integral — integral-VALUED float
    * literals (`1e1`, `10.0D`) included: fracIntOk's Eq would prune
    * every file for them.
    */
  private def integralValue(b: java.math.BigDecimal): Option[Long] =
    try if (b.stripTrailingZeros.scale <= 0) Some(b.longValueExact) else None
    catch { case _: ArithmeticException => None }

  /** The atom as a test on one stats row, dispatching on the row's
    * `typ`: temporal literals compare on the date/timestamp lanes,
    * numbers on the exact integral lane or the double lane, other
    * strings on the string lane. An unknown literal kind never prunes.
    */
  private def rowGroupTest(a: Atom): ColStat => Boolean = a.value match {
    case TemporalValue(micros) =>
      byTemporalLane(a.op, micros, midnightOk(a.op, micros), _ => true)
    case v: String =>
      val onString = strOk(a.op, UTF8String.fromString(v)) _
      parseTemporal(v) match {
        // Spark casts the string to a date for a date column
        case Some((micros, days)) => byTemporalLane(a.op, micros, intOk(a.op, days.toLong), onString)
        case None => onString
      }
    case v =>
      exactValue(v) match {
        case Some(b) =>
          integralValue(b) match {
            case Some(l) => byLane(intOk(a.op, l), numOk(a.op, l.toDouble))
            case None => byLane(fracIntOk(a.op, b), numOk(a.op, b.doubleValue()))
          }
        case None => _ => true
      }
  }

  // ---- partition-value atoms ---------------------------------------

  /** key=value partition values parsed from a dataset-relative path. */
  def partitionValues(relPath: String): Map[String, String] =
    relPath.split("/").dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i > 0) Some(seg.substring(0, i) -> seg.substring(i + 1)) else None
    }.toMap

  /** Evaluate an atom against a partition value (numeric when both
    * sides parse, else lexicographic).
    */
  def evalPartition(a: Atom, value: String): Boolean = {
    // a typed date/timestamp literal does not compare with path text
    if (a.value.isInstanceOf[TemporalValue]) return true
    val numericLit: Option[Double] = a.value match {
      case n: Number => Some(n.doubleValue())
      case s: String => s.toDoubleOption
      case b: Boolean => Some(if (b) 1.0 else 0.0)
      case _ => None
    }
    (numericLit, value.toDoubleOption) match {
      case (Some(l), Some(pv)) => cmp(a.op, pv.compareTo(l))
      case _ => cmp(a.op, value.compareTo(a.value.toString))
    }
  }

  private def cmp(op: Op, c: Int): Boolean = op match {
    case Gt => c > 0; case Ge => c >= 0; case Lt => c < 0; case Le => c <= 0; case Eq => c == 0
  }

  /** Select the dataset-relative files that may contain matching rows,
    * with the sidecar as a DataFrame (may be empty): [[select]] over
    * the rows of the atoms' columns, collected in one job.
    */
  def selectFiles(statsDF: Option[DataFrame], allRelFiles: Seq[String],
                  filterSql: String): Option[Seq[String]] =
    select(statsDF.map(df => cols => StatsSidecar.rows(df, Some(cols)).toSeq), allRelFiles, filterSql)

  /** Select the dataset-relative files that may contain matching rows.
    *
    * `statRows` gives the sidecar rows of the given columns (None: no
    * sidecar); it is called only when some atom is not on a partition
    * column. `allRelFiles` is the authoritative physical listing. Files
    * without stats survive. Returns None when the predicate cannot
    * prune (keep all).
    */
  def select(statRows: Option[Seq[String] => Seq[ColStat]], allRelFiles: Seq[String],
             filterSql: String): Option[Seq[String]] = {
    val atoms = parse(filterSql) match {
      case Some(as) if as.nonEmpty => as
      case _ => return None
    }
    val partCols: Set[String] =
      allRelFiles.iterator.flatMap(f => partitionValues(f).keys).toSet
    // a partition column is decided by the path alone: its path value
    // is what Spark reads for it
    val statAtoms = atoms.filterNot(a => partCols.contains(a.column))

    val rows: Seq[ColStat] =
      if (statAtoms.isEmpty) Nil
      else statRows match {
        case Some(of) => of(statAtoms.map(_.column).distinct)
        case None => return None
      }
    // a column we know nothing about makes the whole predicate unsafe
    val statCols = rows.iterator.map(_.column).toSet
    if (statAtoms.exists(a => !statCols.contains(a.column))) return None

    // a row group survives iff every stats atom may hold on it (an atom
    // without a stats row there holds); a file iff some row group does
    val tests = statAtoms.map(a => (a.column, rowGroupTest(a)))
    val survivors: Set[String] = rows.groupBy(r => (r.file_path, r.row_group))
      .collect { case ((f, _), rg) if tests.forall { case (c, t) =>
        val cs = rg.filter(_.column == c)
        cs.isEmpty || cs.exists(t)
      } => f }
      .toSet
    // files with no stats row for these columns are kept: unknown to
    // the sidecar (physical authoritative) or without the columns
    val statFiles = rows.iterator.map(_.file_path).toSet

    Some(allRelFiles.filter { f =>
      val pv = partitionValues(f)
      atoms.forall(a => pv.get(a.column).forall(evalPartition(a, _))) &&
        (survivors.contains(f) || !statFiles.contains(f))
    })
  }
}
