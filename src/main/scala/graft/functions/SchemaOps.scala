package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema normalization / unification / coercion — the Spark rendition
  * of the reference's schema subsystem.
  *
  * Reference behavior reproduced (citations into /root/reference):
  *  - legacy promotion ladder null<int8<int16<int32<int64<float32<
  *    float64<string, `pydala/schema.py:314-342`
  *  - permissive unification `pydala/schema.py:361-382`
  *  - string→bool truthy vocabulary, null-preserving,
  *    `pydala/schema.py:191-227`
  *  - int→timestamp coercion `pydala/schema.py:178-188`
  *  - missing fields added as typed nulls / extra fields dropped,
  *    `pydala/schema.py:262-275`
  *  - dtype optimization (narrowest safe type from a sample),
  *    `pydala/dataset.py:2490-2603`
  *
  * Spark has no unsigned ints or float16: parquet uint widens on read
  * (uint8→short, uint16→int, uint32→long) so the mixed-sign rung of
  * the reference ladder cannot arise here; float16 folds into float32.
  */
object SchemaOps {

  /** Truthy vocabulary for string→bool repair (pydala/schema.py:199). */
  val TruthyValues: Set[String] =
    Set("true", "wahr", "1", "1.0", "yes", "ja", "ok", "o.k", "okay")

  private val ladder: Map[DataType, Int] = Map(
    NullType -> 0, ByteType -> 1, ShortType -> 2, IntegerType -> 3,
    LongType -> 4, FloatType -> 5, DoubleType -> 6, StringType -> 7)

  /** Promote two conflicting types per the reference's legacy policy.
    * Unresolvable conflicts fall back to string (the top rung).
    */
  def promote(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y) => y
    case (x, NullType) => x
    case (x, y) if ladder.contains(x) && ladder.contains(y) =>
      if (ladder(x) >= ladder(y)) x else y
    case (_: TimestampType, _: TimestampType) => TimestampType
    case (TimestampNTZType, TimestampType) | (TimestampType, TimestampNTZType) =>
      // coarser-unit-wins in the reference; Spark has a single µs unit,
      // so the only conflict left is tz-ness — session-tz wins.
      TimestampType
    case (DateType, t @ (TimestampType | TimestampNTZType)) => t
    case (t @ (TimestampType | TimestampNTZType), DateType) => t
    case (d1: DecimalType, d2: DecimalType) =>
      val scale = math.max(d1.scale, d2.scale)
      val intDigits = math.max(d1.precision - d1.scale, d2.precision - d2.scale)
      DecimalType(math.min(38, intDigits + scale), scale)
    case (d: DecimalType, i @ (ByteType | ShortType | IntegerType | LongType)) => promoteDecInt(d, i)
    case (i @ (ByteType | ShortType | IntegerType | LongType), d: DecimalType) => promoteDecInt(d, i)
    case (_: DecimalType, FloatType | DoubleType) => DoubleType
    case (FloatType | DoubleType, _: DecimalType) => DoubleType
    case (ArrayType(e1, n1), ArrayType(e2, n2)) => ArrayType(promote(e1, e2), n1 || n2)
    case (s1: StructType, s2: StructType) => unify(Seq(s1, s2))
    case _ => StringType
  }

  private def promoteDecInt(d: DecimalType, i: DataType): DataType = {
    val intDigits = i match {
      case ByteType => 3; case ShortType => 5; case IntegerType => 10; case _ => 19
    }
    DecimalType(math.min(38, math.max(d.precision - d.scale, intDigits) + d.scale), d.scale)
  }

  /** Permissive unification: field order of first appearance, types
    * promoted pairwise; fields missing in some schemas become nullable;
    * a field keeps the metadata of its first appearance.
    */
  def unify(schemas: Seq[StructType]): StructType = {
    val order = scala.collection.mutable.LinkedHashMap[String, StructField]()
    schemas.foreach(_.fields.foreach { f =>
      order.get(f.name) match {
        case None => order(f.name) = f
        case Some(prev) =>
          order(f.name) = prev.copy(dataType = promote(prev.dataType, f.dataType),
            nullable = prev.nullable || f.nullable)
      }
    })
    // a field absent from any schema must be nullable in the union
    val names = order.keySet.toSeq
    StructType(names.map { n =>
      val f = order(n)
      val everywhere = schemas.forall(_.fieldNames.contains(n))
      if (everywhere) f else f.copy(nullable = true)
    })
  }

  /** Deep all-nullable view of a schema — parquet READ semantics
    * (Spark's file sources expose every inferred column as nullable at
    * every nesting level). Schemas SUPPLIED to `spark.read.schema(...)`
    * to skip the footer-inference job must go through this, or the
    * read-back's nullability (and everything derived from it) would
    * silently diverge from what inference produced.
    */
  def asNullable(st: StructType): StructType = StructType(st.map(f =>
    f.copy(dataType = nullableType(f.dataType), nullable = true)))

  private def nullableType(dt: DataType): DataType = dt match {
    case s: StructType => asNullable(s)
    case ArrayType(e, _) => ArrayType(nullableType(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(nullableType(k), nullableType(v), valueContainsNull = true)
    case other => other
  }

  /** Null-preserving string→bool with the reference's truthy set. */
  def strToBool(c: Column): Column =
    when(c.isNull, lit(null).cast(BooleanType))
      .otherwise(lower(trim(c)).isin(TruthyValues.toSeq: _*))

  /** Coerce one column to a target type, applying the reference's
    * repair coercions where a plain cast would be wrong.
    */
  def coerce(c: Column, from: DataType, to: DataType): Column = (from, to) match {
    case (f, t) if f == t => c
    case (ByteType | ShortType | IntegerType | LongType, TimestampType | TimestampNTZType) =>
      // int→timestamp repair: integers are epoch-micros (pydala/schema.py:178)
      timestamp_micros(c.cast(LongType)).cast(to)
    case (StringType, BooleanType) => strToBool(c)
    case (NullType, _) => lit(null).cast(to)
    case _ => c.cast(to)
  }

  /** Align `df` to `target`: add missing fields as typed nulls, coerce
    * mismatched types, and (unless `keepExtra`) drop extra columns —
    * pydala's replace_schema (pydala/schema.py:262-275).
    */
  def align(df: DataFrame, target: StructType, keepExtra: Boolean = false): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aligned: Seq[Column] = target.fields.toSeq.map { f =>
      have.get(f.name) match {
        case None => lit(null).cast(f.dataType).as(f.name)
        case Some(dt) => coerce(col(f.name), dt, f.dataType).as(f.name)
      }
    }
    val extras: Seq[Column] =
      if (keepExtra) df.schema.fieldNames.filterNot(target.fieldNames.contains).toSeq.map(col)
      else Nil
    df.select(aligned ++ extras: _*)
  }

  /** Propose the narrowest safe schema — the reference's opt_dtype
    * (shrink numerics, parse numeric/bool strings). Returns only the
    * fields that would change.
    *
    * Two passes, each column-pruned:
    *  1. SAMPLE (`limit(sampleRows)`) decides string parse CANDIDACY
    *     only — the one check whose cost is try_cast work per row.
    *  2. EXACT full-frame aggregate computes the numeric min/max and
    *     confirms candidate strings (bad-parse counts + exact parsed
    *     bounds). Widths chosen from a sample would be lossy whenever
    *     the sampled prefix under-represents the value range (a
    *     key-sorted layout guarantees it does); strict verification
    *     would then reject the plan at exactly the scale where the
    *     rewrite matters. Exact bounds cost one pruned scan — the
    *     same work a strict verify pays anyway. (When a stats sidecar
    *     exists, its exact bigint lanes could replace the numeric
    *     half of pass 2 footer-only; not wired up here to keep
    *     SchemaOps dataset-agnostic.)
    */
  def optDtype(df: DataFrame, sampleRows: Int = 10000,
               exclude: Seq[String] = Nil): Map[String, DataType] = {
    val fields = df.schema.fields.filterNot(f => exclude.contains(f.name))
    if (fields.isEmpty) return Map.empty

    def asLong(n: String) = expr(s"try_cast(`$n` AS BIGINT)")
    def asDbl(n: String) = expr(s"try_cast(`$n` AS DOUBLE)")

    // pass 1: string parse candidacy from the sample
    val strFields = fields.filter(_.dataType == StringType).map(_.name).toSeq
    val candidacy: Map[String, String] = if (strFields.isEmpty) Map.empty else {
      val sAggs = strFields.flatMap { n =>
        Seq(
          count(col(n)).as(s"${n}__n"),
          count(when(col(n).isNotNull && asLong(n).isNull, 1)).as(s"${n}__badint"),
          count(when(col(n).isNotNull && asDbl(n).isNull, 1)).as(s"${n}__baddbl"))
      }
      val r = df.select(strFields.map(col): _*).limit(sampleRows)
        .agg(sAggs.head, sAggs.tail: _*).collect()(0)
      def g(n: String) = r.getLong(r.fieldIndex(n))
      strFields.flatMap { n =>
        if (g(s"${n}__n") == 0L) None
        else if (g(s"${n}__badint") == 0L) Some(n -> "int")
        else if (g(s"${n}__baddbl") == 0L) Some(n -> "double")
        else None
      }.toMap
    }

    // pass 2: exact bounds for numeric fields + candidate confirmation
    val eAggs: Seq[Column] = fields.toSeq.flatMap { f =>
      f.dataType match {
        case ByteType => Nil
        case ShortType | IntegerType | LongType => Seq(
          min(col(f.name)).cast(LongType).as(s"${f.name}__min"),
          max(col(f.name)).cast(LongType).as(s"${f.name}__max"))
        case StringType if candidacy.contains(f.name) =>
          val n = f.name
          Seq(
            count(col(n)).as(s"${n}__n"),
            count(when(col(n).isNotNull && asLong(n).isNull, 1)).as(s"${n}__badint"),
            count(when(col(n).isNotNull && asDbl(n).isNull, 1)).as(s"${n}__baddbl"),
            min(asLong(n)).as(s"${n}__min"),
            max(asLong(n)).as(s"${n}__max"))
        case _ => Nil
      }
    }
    if (eAggs.isEmpty) return Map.empty
    val row = df.agg(eAggs.head, eAggs.tail: _*).collect()(0)

    def lv(name: String): Option[Long] =
      if (row.isNullAt(row.fieldIndex(name))) None else Some(row.getLong(row.fieldIndex(name)))

    fields.toSeq.flatMap { f =>
      f.dataType match {
        case ShortType | IntegerType | LongType =>
          for {
            mn <- lv(s"${f.name}__min"); mx <- lv(s"${f.name}__max")
            t = narrowestInt(mn, mx) if t != f.dataType && ladder(t) < ladder(f.dataType)
          } yield f.name -> t
        case StringType if candidacy.contains(f.name) =>
          val n = f.name
          if (lv(s"${n}__n").getOrElse(0L) == 0L) None
          else if (lv(s"${n}__badint").contains(0L))
            (lv(s"${n}__min"), lv(s"${n}__max")) match {
              case (Some(mn), Some(mx)) => Some(n -> narrowestInt(mn, mx))
              case _ => None
            }
          else if (lv(s"${n}__baddbl").contains(0L)) Some(n -> DoubleType)
          else None
        case _ => None
      }
    }.toMap
  }

  def narrowestInt(mn: Long, mx: Long): DataType =
    if (mn >= Byte.MinValue && mx <= Byte.MaxValue) ByteType
    else if (mn >= Short.MinValue && mx <= Short.MaxValue) ShortType
    else if (mn >= Int.MinValue && mx <= Int.MaxValue) IntegerType
    else LongType
}
