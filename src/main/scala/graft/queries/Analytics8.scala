package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables
import graft.functions.SqlDialect
import graft.sources.{ParquetDataset, StatsSidecar, WriteConfig, WritePipeline}

/** Round-9 inventory. Same determinism contract as
  * [[Analytics]]–[[Analytics7]]: integer lanes end-to-end wherever the
  * math allows; floats only through ONE fixed-op-order text shared by
  * both engines; every oracle aggregate/div lane CAST to BIGINT (the
  * round-9 HUGEINT rule — DuckDB widens SUM(BIGINT) and
  * HUGEINT-tainted `//` to int128, which the driver comparator
  * renders differently than parquet BIGINT); negative numerators
  * sign-split before integer division.
  *
  * Reference behavior: pydala2 exposes none of these — they extend
  * the training-data-pipeline stack (SURVEY.md "beyond the
  * reference"): compression-proxy quality filtering, embedding-
  * truncation ablation, intermittent-demand forecasting, robust
  * effect sizes, blocking evaluation for record linkage, robust
  * two-way decomposition, sequential pattern mining, quantile
  * forecast scoring, multi-rater agreement, and the distributed
  * stats-sidecar gate.
  */
object Analytics8 {

  private val Sp = graft.functions.PortableSql.Spark
  private val Du = graft.functions.PortableSql.Duck

  /** Sign-split exact integer division to a scaled lane (Spark `div`
    * truncates, DuckDB `//` floors; they agree only on non-negative
    * operands). Both operands may be wide; the result is CAST BIGINT.
    */
  private def signedDiv(d: SqlDialect, num: String, den: String): String =
    s"CASE WHEN ($num) >= 0 THEN CAST(${d.intDiv(s"($num)", den)} AS BIGINT) " +
      s"ELSE -CAST(${d.intDiv(s"(-($num))", den)} AS BIGINT) END"

  /** q526's 95% CI half-width in micro — the file's ONE float op
    * sequence (engine-identical text, hence a shared val): z as a
    * rational literal, two scale divisions, sqrt, three multiplies,
    * floor. 1.959964 = Φ⁻¹(0.975) to 6 places.
    */
  private val GreenwoodCiT =
    "CAST(floor((CAST(1959964 AS DOUBLE) / CAST(1000000 AS DOUBLE)) * " +
      "(CAST(surv_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)) * " +
      "sqrt(CAST(g_nano AS DOUBLE) / CAST(1000000000 AS DOUBLE)) * " +
      "CAST(1000000 AS DOUBLE)) AS BIGINT)"

  // ---- q512: LZ78 compression-proxy quality filter ------------------

  /** LZ78 phrase count over the ≤24-token prefix: the dictionary-
    * growth factor count — a compression-ratio proxy (repetitive/
    * templated text compresses into few phrases; the Gopher-class
    * "compressibility" quality rule) with NO float anywhere. Fold
    * state is one array<string>: element 1 = current phrase, rest =
    * dictionary, so both engines run the identical op sequence (the
    * hwFold array-state convention: DuckDB's list_reduce has no
    * separate-init form, so elements wrap to 1-element lists there).
    */
  private[graft] def lz78Fold(d: SqlDialect, toksArr: String): String = {
    def at1 = if (d.spark) "element_at(acc, 1)" else "acc[1]"
    val t = if (d.spark) "tw" else "tw[1]"
    val cand = s"(CASE WHEN $at1 = '' THEN $t ELSE concat($at1, ' ', $t) END)"
    val dict = if (d.spark) "slice(acc, 2, size(acc))"
      else "acc[2:len(acc)]"
    def contains(l: String, x: String) =
      if (d.spark) s"array_contains($l, $x)" else s"list_contains($l, $x)"
    def cat(a: String, b: String) =
      if (d.spark) s"concat($a, $b)" else s"list_concat($a, $b)"
    def arr1(x: String) = if (d.spark) s"array($x)" else s"[$x]"
    val init = if (d.spark) "array('')" else "['']"
    val elems = if (d.spark) toksArr
      else s"list_transform($toksArr, w -> [w])"
    val body = s"CASE WHEN ${contains(dict, cand)} " +
      s"THEN ${cat(arr1(cand), dict)} " +
      s"ELSE ${cat(cat(arr1("''"), dict), arr1(cand))} END"
    d.fold(elems, init, "acc", "tw", body)
  }

  /** q514's Croston fold over DAY-ENCODED demand events (one BIGINT
    * per event: day·10⁵ + size, size < 10⁵ by construction, so
    * ascending sort = day order and both engines fold over plain
    * BIGINT arrays — struct elements can't type-unify with the BIGINT
    * state list on the DuckDB side). State:
    * [size_hat_milli, interval_hat_milli, prev_day, n_seen].
    */
  private[graft] def crostonFold(d: SqlDialect, arr: String): String = {
    def at(i: Int) = if (d.spark) s"element_at(acc, $i)" else s"acc[$i]"
    val raw = if (d.spark) "v" else "v[1]"
    val vd = s"($raw div 100000)"
    val vdD = s"($raw // 100000)"
    val day = if (d.spark) vd else vdD
    val vz = s"($raw % 100000)"
    def a(els: Seq[String]) =
      if (d.spark) els.mkString("array(", ", ", ")")
      else els.mkString("[", ", ", "]")
    val init = if (d.spark)
      "array(" + Seq.fill(4)("cast(0 as bigint)").mkString(", ") + ")"
      else "[" + Seq.fill(4)("0").mkString(", ") + "]::BIGINT[]"
    val elems = if (d.spark) arr else s"list_transform($arr, w -> [w])"
    val first = a(Seq(s"$vz * 1000", "CAST(0 AS BIGINT)", day,
      "CAST(1 AS BIGINT)"))
    val second = a(Seq(
      d.intDiv(s"(9 * ${at(1)} + $vz * 1000)", "10"),
      s"($day - ${at(3)}) * 1000", day, "CAST(2 AS BIGINT)"))
    val later = a(Seq(
      d.intDiv(s"(9 * ${at(1)} + $vz * 1000)", "10"),
      d.intDiv(s"(9 * ${at(2)} + ($day - ${at(3)}) * 1000)", "10"),
      day, s"${at(4)} + 1"))
    d.fold(elems, init, "acc", "v",
      s"CASE WHEN ${at(4)} = 0 THEN $first " +
        s"WHEN ${at(4)} = 1 THEN $second ELSE $later END")
  }

  /** The q519/q528 per-weekday forecast substrate, ONE definition
    * (review finding: the two queries carried verbatim copies — any
    * quantile-rule edit had four sites to miss): daily order counts,
    * 28-day holdout split on the max-day cutoff, and the exact
    * lower-order-statistic quantile of each weekday's training
    * counts. Returns (test frame: dw/x, p ⇒ forecast frame: dw/fc).
    * dayofweek is grouping-internal on both engines (never output),
    * so the Sun=0/Sun=1 convention difference is harmless.
    */
  private def wkQuantFrames(s: SparkSession, d: String)
      : (DataFrame, Int => DataFrame) = {
    val days = Tables.orders(s, d)
      .groupBy(expr("CAST(o_orderdate AS DATE)").as("day"))
      .agg(count(lit(1)).as("x"))
    val cut = days.agg(expr("date_add(max(day), -28)").as("cutoff"))
    val marked = days.crossJoin(broadcast(cut))
      .withColumn("dw", expr("dayofweek(day)").cast("long"))
    val test = marked.filter(col("day") > col("cutoff")).select("dw", "x")
    val ranked = marked.filter(col("day") <= col("cutoff"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("dw").orderBy(col("x").asc, col("day").asc)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("dw")))
    val fcAt = (p: Int) =>
      ranked.filter(expr(s"rk = greatest(1, ($p * n + 99) div 100)"))
        .select(col("dw"), col("x").as("fc"))
    (test, fcAt)
  }

  /** The matching oracle CTE prefix (defines days/cut/marked/ranked;
    * consumers add their own quantile/test/score CTEs).
    */
  private val WkQuantCte =
    """WITH days AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM orders GROUP BY 1),
      |cut AS (SELECT date_add(max(day), -28) AS cutoff FROM days),
      |marked AS (
      |  SELECT day, x, CAST(dayofweek(day) AS BIGINT) AS dw, cutoff
      |  FROM days, cut),
      |ranked AS (
      |  SELECT dw, x, ROW_NUMBER() OVER (PARTITION BY dw
      |      ORDER BY x, day) AS rk,
      |    COUNT(*) OVER (PARTITION BY dw) AS n
      |  FROM marked WHERE day <= cutoff),
      |test AS (SELECT dw, x FROM marked WHERE day > cutoff)""".stripMargin

  // ---- q518: gapped sequential patterns ------------------------------

  // ---- queries -------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // LZ78 factor count per doc (≤24-token prefix), rolled up per
    // source: mean factors-per-token in milli. Low ratios = template/
    // loop spam the exact-dup gates miss (the compressibility quality
    // rule). Doc-parallel lambda work, O(24·|dict|) per doc; the
    // rollup is one map-side-combined aggregate.
    "q512_lz_factors" -> { (s, dir) =>
      val pre = TextOps.docsWithToks(s, dir)
        .filter(expr("size(toks) >= 4"))
        .select(col("doc_id"), col("source"),
          expr("slice(toks, 1, 24)").as("tp"))
        .withColumn("n_toks", expr("CAST(size(tp) AS BIGINT)"))
        .withColumn("st", expr(lz78Fold(Sp, "tp")))
        .withColumn("factors", expr(
          "CAST(size(st) - 1 + CASE WHEN element_at(st, 1) = '' " +
            "THEN 0 ELSE 1 END AS BIGINT)"))
      pre.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("factors").as("sum_factors"),
          sum("n_toks").as("sum_toks"))
        .withColumn("ratio_milli", expr("sum_factors * 1000 div sum_toks"))
        .orderBy("source")
    },

    // Matryoshka-truncation ablation: recall@10 of cosine KNN using
    // only the first 16 / 32 of 64 embedding dims vs the full-dim
    // ranking — the dimension-budget curve read before shipping
    // truncated embeddings. ONE pair pass computes all three cosines
    // (the slice dots reuse the pair frame); ranks are per-query
    // windows (bounded: |queries| × corpus). Ordering floats come
    // from the shared sequential-fold texts, ties break on neighbor
    // id, and every output lane is an exact integer.
    "q513_matryoshka_recall" -> { (s, dir) =>
      // norms hoisted per VECTOR per dim (6 sqrt-folds per vector, not
      // per pair — the embPairs convention); the per-pair work is the
      // three dot folds alone. Op sequence per cosine is unchanged vs
      // SqlDialect.cosine — dot, two sqrts, multiply, divide — so the
      // doubles are bit-identical to the inline form on both engines.
      def withNorms(df: DataFrame, pfx: String) =
        Seq(16, 32, 64).foldLeft(df) { (d, k) =>
          val a = if (k == 64) s"${pfx}e" else s"slice(${pfx}e, 1, $k)"
          d.withColumn(s"${pfx}n$k", expr(s"sqrt(${Sp.norm2(a)})"))
        }
      val e = Tables.embeddings(s, dir)
      // FIXED-SIZE query panel (round-10, verdict #4): ~20 qids via a
      // count-derived modulus, so the brute-force ground-truth tier is
      // LINEAR in corpus size (panel × corpus pairs), not quadratic —
      // a fraction-scaled panel (the old % 25) made the pair frame
      // grow as N²/25 at 100×. The count is one scalar metadata-cheap
      // job; at the gate's sf the modulus evaluates to the same 25.
      val qmod = math.max(1L, e.count() / 20L)
      val q = withNorms(e.filter(col("vec_id") % qmod === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe")), "q")
      val c = withNorms(e.filter(col("vec_id") % qmod =!= 0)
        .select(col("vec_id").as("nb"), col("embedding").as("ce")), "c")
      def cosK(k: Int): String = {
        val a = if (k == 64) "qe" else s"slice(qe, 1, $k)"
        val b = if (k == 64) "ce" else s"slice(ce, 1, $k)"
        s"(${Sp.dot(a, b)}) / (qn$k * cn$k)"
      }
      val pairs = q.join(c, lit(true))
        .select(col("qid"), col("nb"),
          expr(cosK(16)).as("c16"), expr(cosK(32)).as("c32"),
          expr(cosK(64)).as("c64"))
      def top10(c: String) = {
        val w = Window.partitionBy("qid").orderBy(col(c).desc, col("nb").asc)
        pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
          .select("qid", "nb")
      }
      val full = top10("c64")
      def hits(c: String, name: String) =
        top10(c).join(full, Seq("qid", "nb"))
          .groupBy("qid").agg(count(lit(1)).as(name))
      full.select("qid").distinct()
        .join(hits("c16", "h16"), Seq("qid"), "left")
        .join(hits("c32", "h32"), Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("h16"), lit(0L)).as("n_hit16"),
          coalesce(col("h32"), lit(0L)).as("n_hit32"),
          expr("coalesce(h16, 0) * 100 div 10").as("recall16_pct"),
          expr("coalesce(h32, 0) * 100 div 10").as("recall32_pct"))
        .orderBy("qid")
    },

    // Croston's method for intermittent demand: per sampled part, SES
    // (α = 1/10, floor-milli integer updates) over nonzero daily
    // demand SIZES and over inter-demand INTERVALS, forecast rate =
    // size_hat / interval_hat in micro units/day. The operator sparse
    // series need (classic point forecasting treats the zeros as
    // signal and collapses). Every lane integer; the fold runs over a
    // part-bounded day array.
    "q514_croston" -> { (s, dir) =>
      val dem = Tables.lineitem(s, dir)
        .filter(expr("l_partkey % 97 = 7"))
        .groupBy(col("l_partkey").as("part"),
          expr("CAST(l_shipdate AS DATE)").as("day"))
        .agg(expr("CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)").as("z"))
        .withColumn("d", expr("datediff(day, DATE '1992-01-01')").cast("long"))
        // loud guards on BOTH encode preconditions (the q502 rule): a
        // per-part-day demand ≥ 10⁵ corrupts the day·10⁵+z lanes, and
        // a NEGATIVE day makes div (truncate) and // (floor) decode
        // different days per engine — fail the run instead
        .withColumn("z", expr("CASE WHEN z >= 100000 THEN " +
          "CAST(raise_error('q514: per-day demand >= 10^5 breaks the " +
          "day encode') AS BIGINT) ELSE z END"))
        .withColumn("d", expr("CASE WHEN d < 0 THEN " +
          "CAST(raise_error('q514: shipdate before 1992-01-01 breaks " +
          "the day encode sign') AS BIGINT) ELSE d END"))
      dem.groupBy("part")
        .agg(count(lit(1)).as("m"),
          expr("sort_array(collect_list(d * 100000 + z))").as("ev"))
        .filter(col("m") >= 2)
        .withColumn("st", expr(crostonFold(Sp, "ev")))
        .select(col("part"), col("m"),
          expr("element_at(st, 1)").as("size_hat_milli"),
          expr("element_at(st, 2)").as("interval_hat_milli"),
          expr("CASE WHEN element_at(st, 2) = 0 THEN NULL ELSE " +
            "CAST(element_at(st, 1) * 1000 div element_at(st, 2) " +
            "AS BIGINT) END").as("rate_micro"))
        .orderBy("part")
    },

    // Cliff's delta between the click and purchase value
    // distributions — the robust ordinal effect size next to q296's
    // Mann–Whitney U test (U answers "is there a shift"; δ answers
    // "how big"). gt/lt pair counts via the distributed cumulative
    // over the quantized value spine (GlobalOrder — never a
    // single-partition window), one sign-split exact division to
    // micro.
    "q515_cliffs_delta" -> { (s, d) =>
      val v = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase") &&
          col("value").isNotNull)
        .select(expr("CAST(floor(value * 1000) AS BIGINT)").as("v"),
          expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END").as("isa"))
      val perV = v.groupBy("v")
        .agg(sum(col("isa")).cast("long").as("na_v"),
          sum(expr("1 - isa")).cast("long").as("nb_v"))
      val cum = graft.plans.GlobalOrder.withRunningSum(
        perV, Seq(col("v")), col("v"), col("nb_v"), "cumb")
      // pair-count sums run in WIDE lanes (the q516 convention — the
      // DuckDB side's SUM widens to int128 on its own, so an
      // un-widened Spark SUM would silently wrap first). HONEST
      // CEILING (the q296 convention): the gt/lt/eq OUTPUT columns are
      // BIGINT, so the gate holds to n_a·n_b ≤ 2⁶³ — ~3·10⁹ events per
      // side; beyond that the output lanes themselves move to
      // DECIMAL(38,0)
      val agg = cum.agg(
        sum("na_v").as("n_a"), sum("nb_v").as("n_b"),
        expr(s"CAST(SUM(${Sp.wide("na_v")} * (cumb - nb_v)) AS BIGINT)")
          .as("gt"),
        expr(s"CAST(SUM(${Sp.wide("na_v")} * nb_v) AS BIGINT)").as("eq"))
        .withColumn("lt",
          expr(s"CAST(${Sp.wide("n_a")} * n_b - gt - eq AS BIGINT)"))
      agg.select(col("n_a"), col("n_b"), col("gt"), col("lt"), col("eq"),
        expr(signedDiv(Sp, s"(${Sp.wide("gt")} - ${Sp.wide("lt")}) * 1000000",
          s"(${Sp.wide("n_a")} * n_b)")).as("delta_micro"))
    },

    // Blocking-quality evaluation for dedup/record linkage: reduction
    // ratio (how much of the N² comparison space the blocking key
    // removes) and pairs completeness (what share of TRUE duplicate
    // pairs stay co-blocked) — the two numbers read before trusting
    // any blocked matcher, permille-exact. Ground truth = identical
    // normalized text; two schemes scored side by side. All lanes
    // integer (wide where C(n,2) sums could exceed BIGINT at corpus
    // scale).
    "q516_blocking_quality" -> { (s, dir) =>
      val base = TextOps.docsWithToks(s, dir)
        .filter(expr("size(toks) >= 2"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          expr(Sp.hash64(s"${Sp.strJoin("toks", " ")}")).as("th"),
          expr("concat(element_at(toks, 1), ' ', element_at(toks, 2))")
            .as("pfx"))
      def c2(c: String) = s"CAST(SUM($c * ($c - 1) div 2) AS BIGINT)"
      val n = base.agg(count(lit(1)).as("n_docs"))
      val truePairs = base.groupBy("th").agg(count(lit(1)).as("c"))
        .agg(expr(c2("c")).as("true_pairs"))
      def scheme(name: String, key: org.apache.spark.sql.Column) = {
        val cand = base.withColumn("blk", key)
          .groupBy("blk").agg(count(lit(1)).as("c"))
          .agg(expr(c2("c")).as("cand_pairs"))
        val cob = base.withColumn("blk", key)
          .groupBy("th", "blk").agg(count(lit(1)).as("c"))
          .agg(expr(c2("c")).as("coblocked"))
        cand.crossJoin(broadcast(cob)).withColumn("scheme", lit(name))
      }
      val a = scheme("source_prefix2", expr("concat(source, '|', pfx)"))
      val b = scheme("source_lenbucket",
        expr("concat(source, '|', CAST(n_chars div 64 AS STRING))"))
      a.unionByName(b)
        .crossJoin(broadcast(n)).crossJoin(broadcast(truePairs))
        .select(col("scheme"), col("n_docs"), col("true_pairs"),
          col("cand_pairs"), col("coblocked"),
          expr("1000 - CAST(" + Sp.intDiv(
            s"${Sp.wide("cand_pairs")} * 1000",
            s"(${Sp.wide("n_docs")} * (n_docs - 1) div 2)") +
            " AS BIGINT)").as("rr_permille"),
          expr("CASE WHEN true_pairs = 0 THEN NULL ELSE " +
            "CAST(coblocked * 1000 div true_pairs AS BIGINT) END")
            .as("pc_permille"))
        .orderBy("scheme")
    },

    // One-sweep Tukey median polish of the weekday × month order-count
    // matrix: row (weekday) effects from row medians, column (month)
    // effects from residual-column medians, overall = median of row
    // effects — the robust two-way decomposition (means-based q378
    // breaks under a single outlier month). The matrix is 7×12 =
    // calendar-bounded; medians are exact LOWER order statistics
    // ((n+1) div 2-th smallest — integer, no interpolation).
    "q517_median_polish" -> { (s, d) =>
      // ISO weekday (Mon=1..Sun=7): Spark's dayofweek is Sun=1 while
      // DuckDB's dayofweek is Sun=0 — weekday()+1 / isodow() is the
      // one convention both engines express exactly
      val cells = Tables.orders(s, d)
        .groupBy(expr("weekday(o_orderdate) + 1").cast("long").as("dw"),
          expr("month(o_orderdate)").cast("long").as("mo"))
        .agg(count(lit(1)).as("x"))
      def lowerMedian(df: DataFrame, part: String, v: String, as: String) = {
        val w = Window.partitionBy(part).orderBy(col(v).asc)
        df.withColumn("__rk", row_number().over(w))
          .withColumn("__n", count(lit(1)).over(Window.partitionBy(part)))
          .filter(expr("__rk = (__n + 1) div 2"))
          .select(col(part), col(v).as(as))
      }
      val rowMed = lowerMedian(cells, "dw", "x", "row_eff")
      val res1 = cells.join(rowMed, "dw")
        .withColumn("r", expr("x - row_eff"))
      val colMed = lowerMedian(res1, "mo", "r", "col_eff")
      val overall = lowerMedian(
        rowMed.withColumn("__one", lit(1)), "__one", "row_eff", "med")
        .select(col("med"))
      val rows = rowMed.crossJoin(broadcast(overall))
        .select(lit("weekday").as("dim"), col("dw").as("key"),
          expr("row_eff - med").as("effect"))
      val cols = colMed
        .select(lit("month").as("dim"), col("mo").as("key"),
          col("col_eff").as("effect"))
      val tot = overall.select(lit("overall").as("dim"),
        lit(0L).as("key"), col("med").as("effect"))
      rows.unionByName(cols).unionByName(tot).orderBy("dim", "key")
    },

    // Gapped sequential-pattern support over per-user event-type
    // sequences: pair (a, b) is supported by a user iff some a-event
    // precedes some b-event (ANY gap — q225's consecutive trigrams
    // can't see long-range orderings). The whole pattern check
    // reduces to first(a) < last(b) per user over the (ts, event_id)
    // order, so the heavy pass is ONE aggregate over events; the
    // pair rollup is |types|²-bounded.
    "q518_seq_patterns" -> { (s, d) =>
      val pos = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
          expr("unix_micros(ts) * 100 + event_id % 100").as("p"))
      val spans = pos.groupBy("user_id", "event_type")
        .agg(min("p").as("first_p"), max("p").as("last_p"))
      val nUsers = spans.select("user_id").distinct().count()
      val a = spans.select(col("user_id"), col("event_type").as("ta"),
        col("first_p"))
      val b = spans.select(col("user_id"), col("event_type").as("tb"),
        col("last_p"))
      a.join(b, Seq("user_id"))
        .filter(col("first_p") < col("last_p"))
        .groupBy("ta", "tb").agg(countDistinct("user_id").as("support"))
        .withColumn("n_users", lit(nUsers))
        .withColumn("support_permille", expr("support * 1000 div n_users"))
        .orderBy("ta", "tb")
    },

    // Pinball (quantile) loss of a per-weekday empirical-quantile
    // forecaster on the 28-day holdout — the PROPER score for
    // quantile forecasts (q511's MASE scores the point lane; a p90
    // lane needs pinball or it can cheat by over-forecasting).
    // Forecast q_p(weekday) = exact lower order statistic of that
    // weekday's training counts; loss in exact centi-units:
    // 100·L = max(p·(y−ŷ), (p−100)·(y−ŷ)) with p ∈ {10, 50, 90}.
    "q519_pinball_loss" -> { (s, d) =>
      val (test, fcAt) = wkQuantFrames(s, d)
      val qs = Seq(10, 50, 90).map { p =>
        fcAt(p).select(col("dw"), lit(p.toLong).as("p"), col("fc"))
      }.reduce(_.unionByName(_))
      test.join(qs, Seq("dw"))
        .withColumn("err", expr("x - fc"))
        .withColumn("loss_centi",
          expr("greatest(p * err, (p - 100) * err)"))
        .groupBy("p")
        .agg(count(lit(1)).as("n_days"),
          sum("loss_centi").as("total_loss_centi"),
          expr("CAST(SUM(loss_centi) * 10 div COUNT(*) AS BIGINT)")
            .as("mean_loss_milli"))
        .orderBy("p")
    },

    // Fleiss' kappa across three deterministic quality raters (high
    // repetition, short mean token, digit-heavy) on every doc — the
    // multi-rater agreement statistic behind any labeling-pipeline
    // audit (pairwise kappas like q237 can't see three-way chance
    // agreement). P̄ and P_e in exact micro; κ sign-split (below-
    // chance agreement is negative by design).
    "q520_fleiss_kappa" -> { (s, dir) =>
      val toks = TextOps.docsWithToks(s, dir)
        .filter(expr("size(toks) >= 1"))
      val rated = toks.select(col("doc_id"),
        // rater 1: adjacent-duplicate token ratio > 1/8. Single-token
        // guard: Spark's sequence(1, 0) counts DOWN to [1, 0] and the
        // lambda would hit index 0 (the rangeIncl b<a landmine) —
        // DuckDB's range(1, 1) is just empty
        expr("CASE WHEN size(toks) < 2 THEN 0 " +
          "WHEN size(filter(sequence(1, size(toks) - 1), " +
          "i -> element_at(toks, i) = element_at(toks, i + 1))) * 8 " +
          "> size(toks) THEN 1 ELSE 0 END").as("r1"),
        // rater 2: mean token length < 4 (sum len < 4n); fold over the
        // pre-transformed length array — DuckDB's init-as-first-element
        // fold needs scalar-type-matched elements
        expr("CASE WHEN aggregate(transform(toks, t -> CAST(length(t) " +
          "AS BIGINT)), 0L, (a, t) -> a + t) " +
          "< 4 * size(toks) THEN 1 ELSE 0 END").as("r2"),
        // rater 3: digit chars > 1/8 of text length
        expr("CASE WHEN length(regexp_replace(text, '[^0-9]', '')) * 8 " +
          "> length(text) THEN 1 ELSE 0 END").as("r3"))
      val perDoc = rated.withColumn("k", expr("r1 + r2 + r3"))
        // Σ_j n_ij(n_ij−1) with n=3 raters, 2 cats: k spam votes,
        // (3−k) clean votes
        .withColumn("agree2", expr("k * (k - 1) + (3 - k) * (2 - k)"))
      val agg = perDoc.agg(
        count(lit(1)).as("n_docs"),
        sum("k").as("sum_k"),
        sum("agree2").as("sum_agree2"))
      agg.select(col("n_docs"), col("sum_k"),
        expr("CAST(sum_agree2 * 1000000 div (n_docs * 6) AS BIGINT)")
          .as("p_bar_micro"),
        expr(s"CAST(${Sp.intDiv(
          s"(${Sp.wide("sum_k")} * sum_k + " +
            s"${Sp.wide("(3 * n_docs - sum_k)")} * (3 * n_docs - sum_k)) " +
            "* 1000000",
          s"(${Sp.wide("9")} * n_docs * n_docs)")} AS BIGINT)")
          .as("p_e_micro"))
        .withColumn("kappa_micro", expr(signedDiv(Sp,
          s"(${Sp.wide("p_bar_micro")} - ${Sp.wide("p_e_micro")}) * 1000000",
          s"(${Sp.wide("1000000")} - p_e_micro)")))
    },

    // Dedup-cluster-coherent sampling: a 1/16 corpus sample where an
    // exact-duplicate CLUSTER is either fully in or fully out (hash
    // the cluster REPRESENTATIVE, not the doc — per-doc hash sampling
    // splits clusters, which silently biases any dedup-rate estimate
    // computed on the sample). n_split is pinned 0 in-band: a
    // regression that samples per-doc flips it positive and
    // hash-mismatches.
    "q522_cluster_sample" -> { (s, dir) =>
      val base = TextOps.docsWithToks(s, dir)
        .filter(expr("size(toks) >= 1"))
        .select(col("doc_id"), col("source"),
          expr(Sp.hash64(Sp.strJoin("toks", " "))).as("th"))
      val rep = base.groupBy("th").agg(min("doc_id").as("rep"))
        .withColumn("take",
          expr(s"CASE WHEN ${Sp.hash64("concat('sample:', rep)")} % 16 = 0 " +
            "THEN 1 ELSE 0 END"))
      val tagged = base.join(rep, "th")
      val split = tagged.groupBy("th")
        .agg((countDistinct("take") - 1).as("sp"))
        .agg(sum("sp").cast("long").as("n_split"))
      tagged.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("take").cast("long").as("n_sampled"))
        .crossJoin(broadcast(split))
        .withColumn("sample_permille", expr("n_sampled * 1000 div n_docs"))
        .select("source", "n_docs", "n_sampled", "sample_permille", "n_split")
        .orderBy("source")
    },

    // Token-budget curriculum tranches: docs ranked by type-token
    // ratio (lexical-diversity quality, exact milli), then cut into 4
    // equal TOKEN-budget tranches by the distributed running token
    // sum (GlobalOrder — the spine is corpus-sized, never a global
    // window). The curriculum-schedule table: which quality band each
    // quarter of the training budget comes from.
    "q523_token_tranches" -> { (s, dir) =>
      val base = TextOps.docsWithToks(s, dir)
        .filter(expr("size(toks) >= 1"))
        .select(col("doc_id"),
          expr("CAST(size(toks) AS BIGINT)").as("nt"),
          expr("CAST(size(array_distinct(toks)) * 1000 div size(toks) " +
            "AS BIGINT)").as("ttr_milli"))
        .withColumn("negq", expr("-ttr_milli"))
      val cum = graft.plans.GlobalOrder.withRunningSum(base,
        Seq(col("negq").asc, col("doc_id").asc), col("negq"),
        col("nt"), "cum_toks")
      val tot = cum.agg(sum("nt").as("total_toks"))
      cum.crossJoin(broadcast(tot))
        .withColumn("tranche",
          expr("least(3, (cum_toks - 1) * 4 div total_toks)"))
        .groupBy("tranche")
        .agg(count(lit(1)).as("n_docs"), sum("nt").as("n_toks"),
          min("ttr_milli").as("min_ttr_milli"),
          max("ttr_milli").as("max_ttr_milli"))
        .orderBy("tranche")
    },

    // Winnowing fingerprints (the MOSS local-min scheme): 4-token
    // shingle hashes, window 4, keep each window's MINIMUM hash —
    // guarantees any ≥7-token shared run yields a shared fingerprint,
    // with ~1/4 the fingerprint density of full shingling. Per-source
    // density plus the cross-doc shared-fingerprint pair mass (the
    // near-dup candidate volume the scheme would feed a matcher).
    "q524_winnowing" -> { (s, dir) =>
      val fps = TextOps.docsWithToks(s, dir)
        .filter(expr("size(toks) >= 7"))
        .select(col("doc_id"), col("source"),
          expr(Sp.transform(
            Sp.rangeIncl("1", "size(toks) - 3"), "i",
            Sp.hash64(s"${Sp.strJoin(Sp.slice("toks", "i", "4"), " ")}")))
            .as("hs"))
        .select(col("doc_id"), col("source"),
          explode(expr(Sp.arrDistinct(Sp.transform(
            Sp.rangeIncl("1", s"${Sp.size("hs")} - 3"), "i",
            Sp.arrMin(Sp.slice("hs", "i", "4")))))).as("fp"))
      val dens = fps.groupBy("source")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_fps"),
          countDistinct("fp").as("n_distinct_fps"))
      val pairs = fps.groupBy("fp").agg(count(lit(1)).as("c"))
        .agg(expr("CAST(SUM(c * (c - 1) div 2) AS BIGINT)")
          .as("shared_fp_pairs"))
      dens.crossJoin(broadcast(pairs))
        .orderBy("source")
    },

    // Shard-boundary continuation artifacts: doc A's last-4-token
    // fingerprint equals doc B's first-4 — the signature of one
    // logical document split across corpus records (a real ingestion
    // failure mode exact dedup can't see). Emits the candidate pairs
    // with sources; hash-join on the boundary fingerprint, never
    // all-pairs.
    "q525_boundary_overlap" -> { (s, dir) =>
      val f = TextOps.docsWithToks(s, dir)
        .filter(expr("size(toks) >= 8"))
        .select(col("doc_id"), col("source"),
          expr(Sp.hash64(Sp.strJoin(Sp.slice("toks", "1", "4"), " ")))
            .as("head_h"),
          expr(Sp.hash64(Sp.strJoin(
            Sp.slice("toks", "size(toks) - 3", "4"), " "))).as("tail_h"))
      f.select(col("doc_id").as("doc_a"), col("source").as("src_a"),
          col("tail_h"))
        .join(f.select(col("doc_id").as("doc_b"),
          col("source").as("src_b"), col("head_h")),
          col("tail_h") === col("head_h") && col("doc_a") =!= col("doc_b"))
        .select("doc_a", "doc_b", "src_a", "src_b")
        .orderBy("doc_a", "doc_b")
    },

    // Greenwood variance lanes for the q491 Kaplan–Meier curve: the
    // cumulative Σ d/(n(n−d)) term in exact nano units over the same
    // bounded step table, and the 95% CI half-width through ONE
    // shared float text (the only float op sequence: two casts, a
    // sqrt, three multiplies, one floor). The survival curve without
    // its confidence band is half an estimator.
    "q526_greenwood" -> { (s, d) =>
      // shared memoized step table (Analytics7.kmEventSteps — the
      // q491 substrate): the heavy lineitem⋈orders pass runs once
      // per session; everything below is latency-day-grain bounded
      // (the q491/q343 single-partition-window class, allowlisted)
      val w = Window.orderBy("obs")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val es = Analytics7.kmEventSteps(s, d)
        .withColumn("g_nano", sum(
          expr("CAST(d * 1000000000 div (n_risk * (n_risk - d)) " +
            "AS BIGINT)")).over(w))
      val arr = es.agg(expr(
        "sort_array(collect_list((obs + 1000000) * 10000000 + step_micro))")
        .as("a"))
      es.crossJoin(broadcast(arr))
        .withColumn("surv_micro", expr(Sp.fold(
          Sp.filterL("a", "v",
            s"${Sp.intDiv("v", "10000000")} - 1000000 <= obs"),
          "CAST(1000000 AS BIGINT)", "acc", "v",
          Sp.intDiv("(acc * (v % 10000000))", "1000000"))))
        .withColumn("ci_half_micro", expr(GreenwoodCiT))
        .select(col("obs").as("t_days"), col("d"), col("n_risk"),
          col("g_nano"), col("surv_micro"), col("ci_half_micro"))
        .orderBy("t_days")
    },

    // Empirical coverage of q519's per-weekday p10–p90 forecast band
    // over the 28-day holdout — the companion every quantile
    // forecaster needs (pinball scores sharpness; coverage says
    // whether the band is HONEST: nominal 800 permille). Integer
    // permille, one row.
    "q528_interval_coverage" -> { (s, d) =>
      val (test, fcAt) = wkQuantFrames(s, d)
      def q(p: Int, as: String) = fcAt(p).select(col("dw"), col("fc").as(as))
      test.join(q(10, "lo"), Seq("dw")).join(q(90, "hi"), Seq("dw"))
        .agg(count(lit(1)).as("n_days"),
          sum(expr("CASE WHEN x >= lo AND x <= hi THEN 1 ELSE 0 END"))
            .cast("long").as("n_covered"),
          sum(expr("CASE WHEN x < lo THEN 1 ELSE 0 END")).cast("long")
            .as("n_below"),
          sum(expr("CASE WHEN x > hi THEN 1 ELSE 0 END")).cast("long")
            .as("n_above"))
        .withColumn("coverage_permille",
          expr("n_covered * 1000 div n_days"))
    },

    // Difference-in-differences on order value: hash-parity treatment
    // group × pre/post-1996 period, group means in exact milli-cents,
    // DiD as plain integer subtraction (no negative division
    // anywhere). The fourth causal lane next to q223 (lift), q431
    // (stratified ATT), and q466 (CUPED).
    "q529_diff_in_diff" -> { (s, d) =>
      val cents = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
      def lane(t: Int, p: Int, agg: String) =
        s"$agg(CASE WHEN o_custkey % 2 = $t AND " +
          s"(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01' THEN 1 " +
          s"ELSE 0 END) = $p THEN $cents ELSE NULL END)"
      def mean(t: Int, p: Int) =
        s"CAST(${lane(t, p, "SUM")} * 1000 div ${lane(t, p, "COUNT")} " +
          "AS BIGINT)"
      Tables.orders(s, d).agg(
        expr(s"CAST(${lane(1, 0, "COUNT")} AS BIGINT)").as("n_t_pre"),
        expr(s"CAST(${lane(1, 1, "COUNT")} AS BIGINT)").as("n_t_post"),
        expr(s"CAST(${lane(0, 0, "COUNT")} AS BIGINT)").as("n_c_pre"),
        expr(s"CAST(${lane(0, 1, "COUNT")} AS BIGINT)").as("n_c_post"),
        expr(mean(1, 0)).as("mean_t_pre_milli"),
        expr(mean(1, 1)).as("mean_t_post_milli"),
        expr(mean(0, 0)).as("mean_c_pre_milli"),
        expr(mean(0, 1)).as("mean_c_post_milli"))
        .withColumn("did_milli", expr(
          "(mean_t_post_milli - mean_t_pre_milli) - " +
            "(mean_c_post_milli - mean_c_pre_milli)"))
    },

    // Expected calibration error of the "discount predicts returns"
    // toy scorer (confidence = 10·discount): 10-bin reliability table
    // with exact milli accuracy/confidence lanes and the ECE rollup
    // in micro — THE diagnostic for any learned filter's score
    // quality before its threshold is trusted. The scorer is
    // deliberately naive; the gate pins the metric machinery.
    "q530_ece" -> { (s, d) =>
      val li = Tables.lineitem(s, d)
        .select(
          // floor(x·10⁴ + ½): discounts are hundredths stored as
          // doubles (0.06 sits just BELOW 0.06), so a bare floor
          // would bin-shift — the +½ round is engine-identical
          expr("CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)")
            .as("conf_milli"),
          expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END").as("ret"))
        .withColumn("bin", expr("least(9, conf_milli div 100)"))
      val bins = li.groupBy("bin")
        .agg(count(lit(1)).as("n_b"),
          sum("ret").cast("long").as("n_ret"),
          sum("conf_milli").cast("long").as("sum_conf"))
        .withColumn("acc_milli", expr("n_ret * 1000 div n_b"))
        .withColumn("conf_avg_milli", expr("sum_conf div n_b"))
        .withColumn("gap_milli", expr("abs(acc_milli - conf_avg_milli)"))
      val ece = bins.agg(expr(
        s"CAST(${Sp.intDiv(s"${Sp.wide("SUM(n_b * gap_milli)")} * 1000",
          "SUM(n_b)")} AS BIGINT)").as("ece_micro"))
      bins.crossJoin(broadcast(ece))
        .select("bin", "n_b", "n_ret", "acc_milli", "conf_avg_milli",
          "gap_milli", "ece_micro")
        .orderBy("bin")
    },

    // Dedup survivorship policies: for each exact-duplicate cluster,
    // which doc survives under keep-min-id / keep-longest /
    // keep-best-TTR — and how often the three policies disagree (the
    // governance number: if 30% of clusters keep DIFFERENT docs under
    // different policies, the dedup config is a real modeling choice,
    // not a formality). Ties break deterministically on doc_id; all
    // lanes integer.
    "q531_dedup_survivorship" -> { (s, dir) =>
      val base = TextOps.docsWithToks(s, dir)
        .filter(expr("size(toks) >= 1"))
        .select(col("doc_id"),
          expr(Sp.hash64(Sp.strJoin("toks", " "))).as("th"),
          expr("CAST(size(toks) AS BIGINT)").as("nt"),
          expr("CAST(size(array_distinct(toks)) * 1000 div size(toks) " +
            "AS BIGINT)").as("ttr"))
      // per-policy survivors via rank windows partitioned by cluster
      // (min_by-with-struct-key tiebreak semantics differ per engine;
      // row_number with an explicit ORDER BY is the one shared form)
      def survivor(ord: Seq[org.apache.spark.sql.Column], as: String) =
        base.withColumn("__rk", row_number().over(
          Window.partitionBy("th").orderBy(ord: _*)))
          .filter(col("__rk") === 1).select(col("th"), col("doc_id").as(as))
      val pol = base.groupBy("th").agg(count(lit(1)).as("csize"))
        .join(survivor(Seq(col("doc_id").asc), "keep_minid"), "th")
        .join(survivor(Seq(col("nt").desc, col("doc_id").asc),
          "keep_longest"), "th")
        .join(survivor(Seq(col("ttr").desc, col("doc_id").asc),
          "keep_best_ttr"), "th")
      pol.agg(
        count(lit(1)).as("n_clusters"),
        sum(expr("CASE WHEN csize > 1 THEN 1 ELSE 0 END")).cast("long")
          .as("n_multi"),
        sum(expr("CASE WHEN keep_minid = keep_longest AND " +
          "keep_longest = keep_best_ttr THEN 0 ELSE 1 END")).cast("long")
          .as("n_disagree"),
        sum(expr("CASE WHEN keep_minid <> keep_longest THEN 1 ELSE 0 END"))
          .cast("long").as("n_id_vs_len"),
        sum(expr("CASE WHEN keep_longest <> keep_best_ttr THEN 1 ELSE 0 " +
          "END")).cast("long").as("n_len_vs_ttr"))
        .withColumn("disagree_permille_multi",
          expr("CASE WHEN n_multi = 0 THEN NULL ELSE " +
            "n_disagree * 1000 div n_multi END"))
    },

    // Hellinger distance between the pre- and post-1996 event-type
    // mixes — the bounded, symmetric drift metric next to q310's TVD
    // (TVD sees mass moved; Hellinger weights small-probability
    // changes, the tail-drift detector). Shares are exact permille
    // integers; the ONE float sequence is the sorted-array sequential
    // fold of √(p·q) terms in fixed type order, then 1 − Σ through
    // a shared text.
    "q532_hellinger_drift" -> { (s, d) =>
      val ev = Tables.events(s, d)
        .withColumn("per",
          expr("CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END"))
      val mix = ev.groupBy("event_type")
        .agg(sum(expr("1 - per")).cast("long").as("n_pre"),
          sum("per").cast("long").as("n_post"))
      val tot = mix.agg(sum("n_pre").as("t_pre"), sum("n_post").as("t_post"))
      val lanes = mix.crossJoin(broadcast(tot))
        .withColumn("p_micro", expr("n_pre * 1000000 div t_pre"))
        .withColumn("q_micro", expr("n_post * 1000000 div t_post"))
      // per-type √(p·q) terms FIRST (transform), then a sequential
      // double fold — the two-stage shape is load-bearing on the
      // DuckDB side (list_reduce's init-as-element rule can't unify a
      // struct element with a double accumulator)
      val arr = lanes.agg(expr(
        "sort_array(collect_list(struct(event_type, p_micro, q_micro)))")
        .as("a"))
      val terms = Sp.transform("a", "v",
        "sqrt((CAST(v.p_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)) * " +
          "(CAST(v.q_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)))")
      val bc = Sp.fold(terms, "CAST(0 AS DOUBLE)", "acc", "v", "acc + v")
      lanes.select("event_type", "n_pre", "n_post", "p_micro", "q_micro")
        .crossJoin(broadcast(arr.select(expr(
          s"CAST(floor((CAST(1 AS DOUBLE) - least(CAST(1 AS DOUBLE), $bc))" +
            " * CAST(1000000 AS DOUBLE)) AS BIGINT)").as("h2_micro"))))
        .orderBy("event_type")
    },

    // Stats-sidecar gate (StatsSidecar.update): write orders
    // hive-partitioned by status in one task (file count per partition
    // = ceil(rows / 4096), deterministic), refresh the sidecar — its
    // files (~37 at sf0.1) are far under the 2048-file driver bound, so
    // the footers are read on the driver — and read the per-partition
    // file counts, row totals, and EXACT integer key bounds back FROM
    // THE SIDECAR — the oracle derives every number from the source
    // table, so a sidecar that loses a file, a row group, or an
    // int-lane bound hash-mismatches.
    "q521_sidecar_stats" -> { (s, d) =>
      val dir = Lifecycle.tmpDir("q521")
      val src = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        .coalesce(1)
      WritePipeline.write(src, dir, WriteConfig(
        partitionBy = Seq("o_orderstatus"), maxRowsPerFile = 4096))
      val ds = new ParquetDataset(s, dir)
      val sc = ds.updateStats()
      sc.filter(col("column") === "o_orderkey")
        .withColumn("status",
          expr("substring_index(split(file_path, '=')[1], '/', 1)"))
        .groupBy("status")
        .agg(countDistinct("file_path").as("n_files"),
          sum("rg_num_rows").as("n_rows_rg_dup"),
          min("min_int").as("min_key"),
          max("max_int").as("max_key"),
          sum("null_count").as("nulls"))
        // rg_num_rows repeats per column row — but this frame is
        // already filtered to ONE column, so the (file, rg) grain sum
        // is exact
        .select(col("status"), col("n_files"),
          col("n_rows_rg_dup").as("n_rows"),
          col("min_key"), col("max_key"), col("nulls"))
        .orderBy("status")
    })

  // ---- oracles -------------------------------------------------------

  private val DuckToksBase =
    s"WITH base AS (SELECT doc_id, source, n_chars, text, " +
      s"${Du.tokens("text")} AS toks FROM documents)"

  val oracles: Map[String, String] = Map(

    "q512_lz_factors" ->
      s"""$DuckToksBase,
         |pre AS (
         |  SELECT doc_id, source, toks[1:24] AS tp
         |  FROM base WHERE ${Du.size("toks")} >= 4),
         |st AS (
         |  SELECT doc_id, source,
         |    CAST(${Du.size("tp")} AS BIGINT) AS n_toks,
         |    ${lz78Fold(Du, "tp")} AS stt
         |  FROM pre),
         |f AS (
         |  SELECT source, n_toks,
         |    CAST(${Du.size("stt")} - 1 +
         |      CASE WHEN stt[1] = '' THEN 0 ELSE 1 END AS BIGINT) AS factors
         |  FROM st)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(factors) AS BIGINT) AS sum_factors,
         |  CAST(SUM(n_toks) AS BIGINT) AS sum_toks,
         |  CAST(CAST(SUM(factors) AS BIGINT) * 1000 //
         |    CAST(SUM(n_toks) AS BIGINT) AS BIGINT) AS ratio_milli
         |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "q513_matryoshka_recall" -> {
      def norms(pfx: String) = Seq(16, 32, 64).map { k =>
        val a = if (k == 64) s"${pfx}e" else s"${pfx}e[1:$k]"
        s"sqrt(${Du.norm2(a)}) AS ${pfx}n$k"
      }.mkString(", ")
      def cosK(k: Int): String = {
        val a = if (k == 64) "qe" else s"qe[1:$k]"
        val b = if (k == 64) "ce" else s"ce[1:$k]"
        s"(${Du.dot(a, b)}) / (qn$k * cn$k)"
      }
      s"""WITH qm AS (
         |  SELECT greatest(1, count(*) // 20) AS m FROM embeddings),
         |q AS (
         |  SELECT vec_id AS qid, qe, ${norms("q")}
         |  FROM (SELECT vec_id, embedding AS qe FROM embeddings, qm
         |        WHERE vec_id % qm.m = 0) z),
         |c AS (
         |  SELECT vec_id AS nb, ce, ${norms("c")}
         |  FROM (SELECT vec_id, embedding AS ce FROM embeddings, qm
         |        WHERE vec_id % qm.m <> 0) z),
         |pairs AS (
         |  SELECT qid, nb,
         |    ${cosK(16)} AS c16, ${cosK(32)} AS c32, ${cosK(64)} AS c64
         |  FROM q, c),
         |t16 AS (SELECT qid, nb FROM (SELECT qid, nb, ROW_NUMBER() OVER (
         |  PARTITION BY qid ORDER BY c16 DESC, nb) AS rk FROM pairs) z
         |  WHERE rk <= 10),
         |t32 AS (SELECT qid, nb FROM (SELECT qid, nb, ROW_NUMBER() OVER (
         |  PARTITION BY qid ORDER BY c32 DESC, nb) AS rk FROM pairs) z
         |  WHERE rk <= 10),
         |t64 AS (SELECT qid, nb FROM (SELECT qid, nb, ROW_NUMBER() OVER (
         |  PARTITION BY qid ORDER BY c64 DESC, nb) AS rk FROM pairs) z
         |  WHERE rk <= 10),
         |h16 AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS h16
         |  FROM t16 JOIN t64 USING (qid, nb) GROUP BY 1),
         |h32 AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS h32
         |  FROM t32 JOIN t64 USING (qid, nb) GROUP BY 1)
         |SELECT DISTINCT t64.qid AS qid,
         |  COALESCE(h16, 0) AS n_hit16, COALESCE(h32, 0) AS n_hit32,
         |  CAST(COALESCE(h16, 0) * 100 // 10 AS BIGINT) AS recall16_pct,
         |  CAST(COALESCE(h32, 0) * 100 // 10 AS BIGINT) AS recall32_pct
         |FROM t64 LEFT JOIN h16 ON t64.qid = h16.qid
         |  LEFT JOIN h32 ON t64.qid = h32.qid
         |ORDER BY t64.qid""".stripMargin
    },

    "q514_croston" ->
      s"""WITH dem AS (
         |  SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
         |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS z
         |  FROM lineitem WHERE l_partkey % 97 = 7 GROUP BY 1, 2),
         |dd AS (
         |  SELECT part,
         |    CASE WHEN date_diff('day', DATE '1992-01-01', day) < 0
         |      THEN CAST(error('q514: shipdate before 1992-01-01 breaks
         | the day encode sign') AS BIGINT)
         |      ELSE CAST(date_diff('day', DATE '1992-01-01', day)
         |        AS BIGINT) END AS d,
         |    CASE WHEN z >= 100000 THEN CAST(error('q514: per-day demand
         | >= 10^5 breaks the day encode') AS BIGINT) ELSE z END AS z
         |  FROM dem),
         |ser AS (
         |  SELECT part, CAST(COUNT(*) AS BIGINT) AS m,
         |    list(d * 100000 + z ORDER BY d) AS ev
         |  FROM dd GROUP BY 1 HAVING COUNT(*) >= 2),
         |st AS (SELECT part, m, ${crostonFold(Du, "ev")} AS stt FROM ser)
         |SELECT part, m,
         |  CAST(stt[1] AS BIGINT) AS size_hat_milli,
         |  CAST(stt[2] AS BIGINT) AS interval_hat_milli,
         |  CASE WHEN stt[2] = 0 THEN NULL ELSE
         |    CAST(stt[1] * 1000 // stt[2] AS BIGINT) END AS rate_micro
         |FROM st ORDER BY part""".stripMargin,

    "q515_cliffs_delta" ->
      s"""WITH v AS (
         |  SELECT CAST(floor(value * 1000) AS BIGINT) AS v,
         |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS isa
         |  FROM events
         |  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
         |pv AS (
         |  SELECT v, CAST(SUM(isa) AS BIGINT) AS na_v,
         |    CAST(SUM(1 - isa) AS BIGINT) AS nb_v
         |  FROM v GROUP BY 1),
         |cum AS (
         |  SELECT v, na_v, nb_v,
         |    CAST(SUM(nb_v) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cumb
         |  FROM pv),
         |agg AS (
         |  SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
         |    CAST(SUM(nb_v) AS BIGINT) AS n_b,
         |    CAST(SUM(${Du.wide("na_v")} * (cumb - nb_v)) AS BIGINT) AS gt,
         |    CAST(SUM(${Du.wide("na_v")} * nb_v) AS BIGINT) AS eq
         |  FROM cum)
         |SELECT n_a, n_b, gt,
         |  CAST(${Du.wide("n_a")} * n_b - gt - eq AS BIGINT) AS lt, eq,
         |  ${signedDiv(Du,
             s"(${Du.wide("gt")} - ${Du.wide("(n_a * n_b - gt - eq)")}) " +
               "* 1000000",
             s"(${Du.wide("n_a")} * n_b)")} AS delta_micro
         |FROM agg""".stripMargin,

    "q516_blocking_quality" -> {
      def c2(c: String) = s"CAST(SUM($c * ($c - 1) // 2) AS BIGINT)"
      s"""$DuckToksBase,
         |b2 AS (
         |  SELECT doc_id, source, n_chars,
         |    ${Du.hash64(Du.strJoin("toks", " "))} AS th,
         |    concat(toks[1], ' ', toks[2]) AS pfx
         |  FROM base WHERE ${Du.size("toks")} >= 2),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM b2),
         |tp AS (SELECT ${c2("c")} AS true_pairs FROM
         |  (SELECT COUNT(*) AS c FROM b2 GROUP BY th) z),
         |keyed AS (
         |  SELECT 'source_prefix2' AS scheme, th,
         |    concat(source, '|', pfx) AS blk FROM b2
         |  UNION ALL
         |  SELECT 'source_lenbucket' AS scheme, th,
         |    concat(source, '|', CAST(n_chars // 64 AS VARCHAR)) AS blk
         |  FROM b2),
         |cand AS (SELECT scheme, ${c2("c")} AS cand_pairs FROM
         |  (SELECT scheme, COUNT(*) AS c FROM keyed GROUP BY scheme, blk) z
         |  GROUP BY scheme),
         |cob AS (SELECT scheme, ${c2("c")} AS coblocked FROM
         |  (SELECT scheme, COUNT(*) AS c FROM keyed
         |   GROUP BY scheme, th, blk) z
         |  GROUP BY scheme)
         |SELECT scheme, n_docs, true_pairs, cand_pairs, coblocked,
         |  1000 - CAST(${Du.intDiv(s"${Du.wide("cand_pairs")} * 1000",
             s"(${Du.wide("n_docs")} * (n_docs - 1) // 2)")} AS BIGINT)
         |    AS rr_permille,
         |  CASE WHEN true_pairs = 0 THEN NULL ELSE
         |    CAST(coblocked * 1000 // true_pairs AS BIGINT) END
         |    AS pc_permille
         |FROM cand JOIN cob USING (scheme), n, tp
         |ORDER BY scheme""".stripMargin
    },

    "q517_median_polish" ->
      """WITH cells AS (
        |  SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dw,
        |    CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS mo,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM orders GROUP BY 1, 2),
        |rm AS (
        |  SELECT dw, x AS row_eff FROM (
        |    SELECT dw, x, ROW_NUMBER() OVER (PARTITION BY dw ORDER BY x)
        |      AS rk, COUNT(*) OVER (PARTITION BY dw) AS n
        |    FROM cells) z
        |  WHERE rk = (n + 1) // 2),
        |res1 AS (
        |  SELECT c.mo, c.x - r.row_eff AS r
        |  FROM cells c JOIN rm r USING (dw)),
        |cm AS (
        |  SELECT mo, r AS col_eff FROM (
        |    SELECT mo, r, ROW_NUMBER() OVER (PARTITION BY mo ORDER BY r)
        |      AS rk, COUNT(*) OVER (PARTITION BY mo) AS n
        |    FROM res1) z
        |  WHERE rk = (n + 1) // 2),
        |ov AS (
        |  SELECT row_eff AS med FROM (
        |    SELECT row_eff, ROW_NUMBER() OVER (ORDER BY row_eff) AS rk,
        |      COUNT(*) OVER () AS n
        |    FROM rm) z
        |  WHERE rk = (n + 1) // 2)
        |SELECT 'weekday' AS dim, dw AS key, row_eff - med AS effect
        |  FROM rm, ov
        |UNION ALL
        |SELECT 'month' AS dim, mo AS key, col_eff AS effect FROM cm
        |UNION ALL
        |SELECT 'overall' AS dim, CAST(0 AS BIGINT) AS key, med AS effect
        |  FROM ov
        |ORDER BY dim, key""".stripMargin,

    "q518_seq_patterns" ->
      """WITH pos AS (
        |  SELECT user_id, event_type,
        |    epoch_us(ts::TIMESTAMP) * 100 + event_id % 100 AS p
        |  FROM events),
        |spans AS (
        |  SELECT user_id, event_type,
        |    CAST(MIN(p) AS BIGINT) AS first_p,
        |    CAST(MAX(p) AS BIGINT) AS last_p
        |  FROM pos GROUP BY 1, 2),
        |nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        |  FROM spans)
        |SELECT a.event_type AS ta, b.event_type AS tb,
        |  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS support,
        |  n_users,
        |  CAST(COUNT(DISTINCT a.user_id) * 1000 // n_users AS BIGINT)
        |    AS support_permille
        |FROM spans a JOIN spans b ON a.user_id = b.user_id
        |  AND a.first_p < b.last_p, nu
        |GROUP BY 1, 2, n_users
        |ORDER BY ta, tb""".stripMargin,

    "q519_pinball_loss" ->
      s"""$WkQuantCte,
        |qs AS (
        |  SELECT dw, p, x AS fc FROM ranked,
        |    (SELECT unnest([10, 50, 90]) AS p) ps
        |  WHERE rk = greatest(1, (p * n + 99) // 100)),
        |scored AS (
        |  SELECT CAST(p AS BIGINT) AS p,
        |    greatest(p * (x - fc), (p - 100) * (x - fc)) AS loss_centi
        |  FROM test JOIN qs USING (dw))
        |SELECT p, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(loss_centi) AS BIGINT) AS total_loss_centi,
        |  CAST(CAST(SUM(loss_centi) AS BIGINT) * 10 // COUNT(*) AS BIGINT)
        |    AS mean_loss_milli
        |FROM scored GROUP BY p ORDER BY p""".stripMargin,

    "q520_fleiss_kappa" -> {
      val pe = s"CAST(${Du.intDiv(
        s"(${Du.wide("sum_k")} * sum_k + " +
          s"${Du.wide("(3 * n_docs - sum_k)")} * (3 * n_docs - sum_k)) " +
          "* 1000000",
        s"(${Du.wide("9")} * n_docs * n_docs)")} AS BIGINT)"
      s"""$DuckToksBase,
         |rated AS (
         |  SELECT doc_id,
         |    CASE WHEN ${Du.size(Du.filterL(
               s"range(1, ${Du.size("toks")})", "i",
               "toks[CAST(i AS BIGINT)] = toks[CAST(i AS BIGINT) + 1]"))}
         |      * 8 > ${Du.size("toks")} THEN 1 ELSE 0 END AS r1,
         |    CASE WHEN ${Du.fold(
               Du.transform("toks", "t", "CAST(length(t) AS BIGINT)"),
               "CAST(0 AS BIGINT)", "a", "t", "a + t")}
         |      < 4 * ${Du.size("toks")}
         |      THEN 1 ELSE 0 END AS r2,
         |    CASE WHEN length(${Du.regexReplaceAll("text", "[^0-9]", "")})
         |      * 8 > length(text) THEN 1 ELSE 0 END AS r3
         |  FROM base WHERE ${Du.size("toks")} >= 1),
         |per AS (
         |  SELECT r1 + r2 + r3 AS k,
         |    (r1 + r2 + r3) * (r1 + r2 + r3 - 1) +
         |      (3 - r1 - r2 - r3) * (2 - r1 - r2 - r3) AS agree2
         |  FROM rated),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(k) AS BIGINT) AS sum_k,
         |    CAST(SUM(agree2) AS BIGINT) AS sum_agree2
         |  FROM per),
         |lanes AS (
         |  SELECT n_docs, sum_k,
         |    CAST(sum_agree2 * 1000000 // (n_docs * 6) AS BIGINT)
         |      AS p_bar_micro,
         |    $pe AS p_e_micro
         |  FROM agg)
         |SELECT n_docs, sum_k, p_bar_micro, p_e_micro,
         |  ${signedDiv(Du,
             s"(${Du.wide("p_bar_micro")} - ${Du.wide("p_e_micro")}) " +
               "* 1000000",
             s"(${Du.wide("1000000")} - p_e_micro)")} AS kappa_micro
         |FROM lanes""".stripMargin
    },

    "q522_cluster_sample" ->
      s"""$DuckToksBase,
         |b2 AS (
         |  SELECT doc_id, source,
         |    ${Du.hash64(Du.strJoin("toks", " "))} AS th
         |  FROM base WHERE ${Du.size("toks")} >= 1),
         |rep AS (
         |  SELECT th, MIN(doc_id) AS rep,
         |    CASE WHEN ${Du.hash64("concat('sample:', MIN(doc_id))")} % 16
         |      = 0 THEN 1 ELSE 0 END AS take
         |  FROM b2 GROUP BY th),
         |tagged AS (SELECT b2.*, rep.take FROM b2 JOIN rep USING (th)),
         |split AS (
         |  SELECT CAST(SUM(sp) AS BIGINT) AS n_split FROM
         |    (SELECT COUNT(DISTINCT take) - 1 AS sp FROM tagged
         |     GROUP BY th) z)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(take) AS BIGINT) AS n_sampled,
         |  CAST(CAST(SUM(take) AS BIGINT) * 1000 // COUNT(*) AS BIGINT)
         |    AS sample_permille,
         |  n_split
         |FROM tagged, split GROUP BY source, n_split
         |ORDER BY source""".stripMargin,

    "q523_token_tranches" ->
      s"""$DuckToksBase,
         |b2 AS (
         |  SELECT doc_id, CAST(${Du.size("toks")} AS BIGINT) AS nt,
         |    CAST(CAST(${Du.size(Du.arrDistinct("toks"))} AS BIGINT)
         |      * 1000 // ${Du.size("toks")} AS BIGINT) AS ttr_milli
         |  FROM base WHERE ${Du.size("toks")} >= 1),
         |cum AS (
         |  SELECT doc_id, nt, ttr_milli,
         |    CAST(SUM(nt) OVER (ORDER BY -ttr_milli, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum_toks
         |  FROM b2),
         |tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS total_toks FROM b2)
         |SELECT least(3, (cum_toks - 1) * 4 // total_toks) AS tranche,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(nt) AS BIGINT) AS n_toks,
         |  CAST(MIN(ttr_milli) AS BIGINT) AS min_ttr_milli,
         |  CAST(MAX(ttr_milli) AS BIGINT) AS max_ttr_milli
         |FROM cum, tot GROUP BY 1 ORDER BY tranche""".stripMargin,

    "q524_winnowing" ->
      s"""$DuckToksBase,
         |hs AS (
         |  SELECT doc_id, source,
         |    ${Du.transform(
               Du.rangeIncl("1", s"${Du.size("toks")} - 3"), "i",
               Du.hash64(Du.strJoin(
                 Du.slice("toks", "CAST(i AS BIGINT)", "4"), " ")))} AS hs
         |  FROM base WHERE ${Du.size("toks")} >= 7),
         |fps AS (
         |  SELECT doc_id, source, unnest(${Du.arrDistinct(
               Du.transform(
                 Du.rangeIncl("1", s"${Du.size("hs")} - 3"), "i",
                 Du.arrMin(Du.slice("hs", "CAST(i AS BIGINT)", "4"))))})
         |    AS fp
         |  FROM hs),
         |dens AS (
         |  SELECT source,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(COUNT(*) AS BIGINT) AS n_fps,
         |    CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_fps
         |  FROM fps GROUP BY 1),
         |pairs AS (
         |  SELECT CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS shared_fp_pairs
         |  FROM (SELECT COUNT(*) AS c FROM fps GROUP BY fp) z)
         |SELECT source, n_docs, n_fps, n_distinct_fps, shared_fp_pairs
         |FROM dens, pairs ORDER BY source""".stripMargin,

    "q525_boundary_overlap" ->
      s"""$DuckToksBase,
         |f AS (
         |  SELECT doc_id, source,
         |    ${Du.hash64(Du.strJoin(Du.slice("toks", "1", "4"), " "))}
         |      AS head_h,
         |    ${Du.hash64(Du.strJoin(
               Du.slice("toks", s"${Du.size("toks")} - 3", "4"), " "))}
         |      AS tail_h
         |  FROM base WHERE ${Du.size("toks")} >= 8)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  a.source AS src_a, b.source AS src_b
         |FROM f a JOIN f b
         |  ON a.tail_h = b.head_h AND a.doc_id <> b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,

    "q526_greenwood" ->
      s"""WITH subj AS (
         |  SELECT
         |    CASE WHEN CAST(l_shipdate AS DATE) <= DATE '1998-03-01'
         |      THEN date_diff('day', CAST(o_orderdate AS DATE),
         |        CAST(l_shipdate AS DATE))
         |      ELSE date_diff('day', CAST(o_orderdate AS DATE),
         |        DATE '1998-03-01') END AS obs,
         |    CASE WHEN CAST(l_shipdate AS DATE) <= DATE '1998-03-01'
         |      THEN 1 ELSE 0 END AS ev
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE CAST(o_orderdate AS DATE) <= DATE '1998-03-01'),
         |steps AS (
         |  SELECT CAST(obs AS BIGINT) AS obs,
         |    CAST(COUNT(*) AS BIGINT) AS c_all,
         |    CAST(SUM(ev) AS BIGINT) AS d
         |  FROM subj GROUP BY 1),
         |n AS (SELECT CAST(SUM(c_all) AS BIGINT) AS n_total FROM steps),
         |es AS (
         |  SELECT obs, d, n_risk,
         |    CAST((n_risk - d) * 1000000 // n_risk AS BIGINT) AS step_micro,
         |    CAST(SUM(d * 1000000000 // (n_risk * (n_risk - d)))
         |      OVER (ORDER BY obs
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS g_nano
         |  FROM (
         |    SELECT obs, d,
         |      CAST(n_total - SUM(c_all) OVER (ORDER BY obs
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + c_all
         |        AS BIGINT) AS n_risk
         |    FROM steps, n) r
         |  WHERE d > 0),
         |arr AS (
         |  SELECT list((obs + 1000000) * 10000000 + step_micro ORDER BY obs)
         |    AS a
         |  FROM es),
         |sv AS (
         |  SELECT obs, d, n_risk, g_nano,
         |    CAST(${Du.fold(
               Du.filterL("a", "v",
                 s"${Du.intDiv("v", "10000000")} - 1000000 <= obs"),
               "CAST(1000000 AS BIGINT)", "acc", "v",
               Du.intDiv("(acc * (v % 10000000))", "1000000"))} AS BIGINT)
         |      AS surv_micro
         |  FROM es, arr)
         |SELECT obs AS t_days, d, n_risk, g_nano, surv_micro,
         |  $GreenwoodCiT AS ci_half_micro
         |FROM sv ORDER BY t_days""".stripMargin,

    "q528_interval_coverage" ->
      s"""$WkQuantCte,
        |lo AS (SELECT dw, x AS lo FROM ranked
        |  WHERE rk = greatest(1, (10 * n + 99) // 100)),
        |hi AS (SELECT dw, x AS hi FROM ranked
        |  WHERE rk = greatest(1, (90 * n + 99) // 100)),
        |agg AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(CASE WHEN x >= lo AND x <= hi THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_covered,
        |    CAST(SUM(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_below,
        |    CAST(SUM(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_above
        |  FROM test JOIN lo USING (dw) JOIN hi USING (dw))
        |SELECT n_days, n_covered, n_below, n_above,
        |  CAST(n_covered * 1000 // n_days AS BIGINT) AS coverage_permille
        |FROM agg""".stripMargin,

    "q529_diff_in_diff" -> {
      val cents = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
      def lane(t: Int, p: Int, agg: String) =
        s"$agg(CASE WHEN o_custkey % 2 = $t AND " +
          s"(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01' THEN 1 " +
          s"ELSE 0 END) = $p THEN $cents ELSE NULL END)"
      def mean(t: Int, p: Int) =
        s"CAST(CAST(${lane(t, p, "SUM")} AS BIGINT) * 1000 // " +
          s"${lane(t, p, "COUNT")} AS BIGINT)"
      s"""WITH lanes AS (
         |  SELECT
         |    CAST(${lane(1, 0, "COUNT")} AS BIGINT) AS n_t_pre,
         |    CAST(${lane(1, 1, "COUNT")} AS BIGINT) AS n_t_post,
         |    CAST(${lane(0, 0, "COUNT")} AS BIGINT) AS n_c_pre,
         |    CAST(${lane(0, 1, "COUNT")} AS BIGINT) AS n_c_post,
         |    ${mean(1, 0)} AS mean_t_pre_milli,
         |    ${mean(1, 1)} AS mean_t_post_milli,
         |    ${mean(0, 0)} AS mean_c_pre_milli,
         |    ${mean(0, 1)} AS mean_c_post_milli
         |  FROM orders)
         |SELECT *,
         |  (mean_t_post_milli - mean_t_pre_milli) -
         |    (mean_c_post_milli - mean_c_pre_milli) AS did_milli
         |FROM lanes""".stripMargin
    },

    "q530_ece" ->
      s"""WITH li AS (
         |  SELECT CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)
         |      AS conf_milli,
         |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
         |  FROM lineitem),
         |binned AS (
         |  SELECT least(9, conf_milli // 100) AS bin, conf_milli, ret
         |  FROM li),
         |bins AS (
         |  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_b,
         |    CAST(SUM(ret) AS BIGINT) AS n_ret,
         |    CAST(SUM(conf_milli) AS BIGINT) AS sum_conf
         |  FROM binned GROUP BY 1),
         |lanes AS (
         |  SELECT bin, n_b, n_ret,
         |    CAST(n_ret * 1000 // n_b AS BIGINT) AS acc_milli,
         |    CAST(sum_conf // n_b AS BIGINT) AS conf_avg_milli,
         |    CAST(abs(n_ret * 1000 // n_b - sum_conf // n_b) AS BIGINT)
         |      AS gap_milli
         |  FROM bins),
         |ece AS (
         |  SELECT CAST(${Du.intDiv(
             s"${Du.wide("SUM(n_b * gap_milli)")} * 1000", "SUM(n_b)")}
         |    AS BIGINT) AS ece_micro
         |  FROM lanes)
         |SELECT bin, n_b, n_ret, acc_milli, conf_avg_milli, gap_milli,
         |  ece_micro
         |FROM lanes, ece ORDER BY bin""".stripMargin,

    "q531_dedup_survivorship" ->
      s"""$DuckToksBase,
         |b2 AS (
         |  SELECT doc_id, ${Du.hash64(Du.strJoin("toks", " "))} AS th,
         |    CAST(${Du.size("toks")} AS BIGINT) AS nt,
         |    CAST(CAST(${Du.size(Du.arrDistinct("toks"))} AS BIGINT)
         |      * 1000 // ${Du.size("toks")} AS BIGINT) AS ttr
         |  FROM base WHERE ${Du.size("toks")} >= 1),
         |minid AS (SELECT th, doc_id AS keep_minid FROM
         |  (SELECT th, doc_id, ROW_NUMBER() OVER (PARTITION BY th
         |     ORDER BY doc_id) AS rk FROM b2) z WHERE rk = 1),
         |lng AS (SELECT th, doc_id AS keep_longest FROM
         |  (SELECT th, doc_id, ROW_NUMBER() OVER (PARTITION BY th
         |     ORDER BY nt DESC, doc_id) AS rk FROM b2) z WHERE rk = 1),
         |bt AS (SELECT th, doc_id AS keep_best_ttr FROM
         |  (SELECT th, doc_id, ROW_NUMBER() OVER (PARTITION BY th
         |     ORDER BY ttr DESC, doc_id) AS rk FROM b2) z WHERE rk = 1),
         |pol AS (
         |  SELECT c.th, c.csize, keep_minid, keep_longest, keep_best_ttr
         |  FROM (SELECT th, COUNT(*) AS csize FROM b2 GROUP BY th) c
         |  JOIN minid USING (th) JOIN lng USING (th) JOIN bt USING (th)),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |    CAST(SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_multi,
         |    CAST(SUM(CASE WHEN keep_minid = keep_longest AND
         |      keep_longest = keep_best_ttr THEN 0 ELSE 1 END) AS BIGINT)
         |      AS n_disagree,
         |    CAST(SUM(CASE WHEN keep_minid <> keep_longest THEN 1 ELSE 0
         |      END) AS BIGINT) AS n_id_vs_len,
         |    CAST(SUM(CASE WHEN keep_longest <> keep_best_ttr THEN 1
         |      ELSE 0 END) AS BIGINT) AS n_len_vs_ttr
         |  FROM pol)
         |SELECT *, CASE WHEN n_multi = 0 THEN NULL ELSE
         |  CAST(n_disagree * 1000 // n_multi AS BIGINT) END
         |  AS disagree_permille_multi
         |FROM agg""".stripMargin,

    "q532_hellinger_drift" -> {
      val terms = Du.transform("a", "v",
        "sqrt((CAST(v.p_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)) * " +
          "(CAST(v.q_micro AS DOUBLE) / CAST(1000000 AS DOUBLE)))")
      val bc = Du.fold(terms, "CAST(0 AS DOUBLE)", "acc", "v", "acc + v")
      s"""WITH ev AS (
         |  SELECT event_type,
         |    CASE WHEN ts::TIMESTAMP >= TIMESTAMP '2024-01-16' THEN 1
         |      ELSE 0 END AS per
         |  FROM events),
         |mix AS (
         |  SELECT event_type, CAST(SUM(1 - per) AS BIGINT) AS n_pre,
         |    CAST(SUM(per) AS BIGINT) AS n_post
         |  FROM ev GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n_pre) AS BIGINT) AS t_pre,
         |  CAST(SUM(n_post) AS BIGINT) AS t_post FROM mix),
         |lanes AS (
         |  SELECT event_type, n_pre, n_post,
         |    CAST(n_pre * 1000000 // t_pre AS BIGINT) AS p_micro,
         |    CAST(n_post * 1000000 // t_post AS BIGINT) AS q_micro
         |  FROM mix, tot),
         |arr AS (
         |  SELECT list({'event_type': event_type, 'p_micro': p_micro,
         |    'q_micro': q_micro} ORDER BY event_type, p_micro, q_micro)
         |    AS a
         |  FROM lanes),
         |h AS (
         |  SELECT CAST(floor((CAST(1 AS DOUBLE) -
         |    least(CAST(1 AS DOUBLE), ${bc})) *
         |    CAST(1000000 AS DOUBLE)) AS BIGINT) AS h2_micro
         |  FROM arr)
         |SELECT event_type, n_pre, n_post, p_micro, q_micro, h2_micro
         |FROM lanes, h ORDER BY event_type""".stripMargin
    },

    "q521_sidecar_stats" ->
      """SELECT o_orderstatus AS status,
        |  CAST((COUNT(*) + 4095) // 4096 AS BIGINT) AS n_files,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(MAX(o_orderkey) AS BIGINT) AS max_key,
        |  CAST(0 AS BIGINT) AS nulls
        |FROM orders
        |GROUP BY 1 ORDER BY status""".stripMargin)
}
