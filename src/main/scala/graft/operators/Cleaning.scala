package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Data-cleaning operators: the Spark-first re-expression of the reference's
 * `limpeza` stage (reference dag.py:60-129).
 *
 * All operators are pure `DataFrame => DataFrame` plan builders — no
 * driver-side row iteration (the reference's `df.apply(..., axis=1)` and
 * `iterrows` loops become Catalyst expressions that run codegen'd inside
 * whole-stage codegen, distributed over every partition).
 */
object Cleaning {

  /**
   * Replace values failing `valid` (including nulls) with the median of the
   * valid values (reference dag.py:79-81 and 122-127: zero/null
   * `ano_fabricacao_veiculo`, `pessoas`, `veiculos` → median).
   *
   * Scale posture: the median is a single scalar attached back via a
   * broadcast cross-join of a 1-row frame — no driver collect in the
   * plan, no re-computation per row. The exact path is picked by input
   * size (see [[imputeWithMedians]]): one lazy `median` aggregate below
   * the leaf-row gate, bounded-memory sort-rank selection above it.
   * `approx = true` always takes `percentile_approx` (Greenwald-Khanna
   * sketch, one pass, mergeable across partitions) for monitoring-grade
   * imputation at any size.
   */
  def imputeWithMedian(df: DataFrame, column: String, valid: Column, approx: Boolean = false): DataFrame =
    imputeWithMedians(df, Seq(column -> valid), approx)

  /**
   * Median imputation of N columns (the reference imputes THREE columns
   * back to back, dag.py:79-81,122-127), all medians broadcast back as
   * one combined 1-row bounds frame. The exact path is selected by the
   * honest leaf-row estimate ([[RangeRank.manyLeafRows]]):
   *
   *  - below it, all N medians come from ONE lazy aggregate,
   *    `median(when(valid, c))` per column (aggregates skip nulls, so
   *    that is the median over the valid subset). Spark's `median`
   *    buffers a value→count hash map whose keyless final merge holds
   *    every distinct value on one executor — bounded here because the
   *    input itself is below the gate (2 Mi estimated rows by default). Building the plan runs
   *    no job: the aggregate executes once, inside the caller's action.
   *  - above it, each column's valid subset is ranked by sort-rank
   *    selection ([[Features.groupQuantiles]] — spill-bounded memory at
   *    any value cardinality, one sort per column; imputed columns are
   *    price-like, i.e. high-cardinality).
   *
   * Both exact paths read the same values at the same ranks with the
   * same interpolation, so they are bit-identical (CleaningSpec pins
   * it). `approx = true` keeps the one-aggregate shape with mergeable
   * Greenwald-Khanna sketches for 100 TB monitoring-grade imputation.
   */
  def imputeWithMedians(df: DataFrame, columns: Seq[(String, Column)],
      approx: Boolean = false): DataFrame = {
    require(columns.nonEmpty, "imputeWithMedians needs at least one column")
    // one row of N medians either way, broadcast back in one go
    val meds =
      if (!approx && RangeRank.manyLeafRows(df)) columns.zipWithIndex.map {
        case ((c, valid), i) =>
          Features.groupQuantiles(df.filter(valid), Nil, c,
            Seq(0.5 -> s"__graft_med_$i"))
      }.reduce(_ crossJoin _)
      else {
        val stats = columns.zipWithIndex.map { case ((c, valid), i) =>
          val v = when(valid, col(c))
          (if (approx) percentile_approx(v, lit(0.5), lit(10000)) else median(v))
            .cast("double").as(s"__graft_med_$i")
        }
        df.agg(stats.head, stats.tail: _*)
      }
    columns.zipWithIndex.foldLeft(df.crossJoin(broadcast(meds))) {
      case (acc, ((c, valid), i)) =>
        acc.withColumn(c, when(valid, col(c)).otherwise(col(s"__graft_med_$i")))
    }.drop(columns.indices.map(i => s"__graft_med_$i"): _*)
  }

  /**
   * Fill nulls (or values failing `valid`) with a constant sentinel
   * (reference dag.py:84-90: null `br`/`km` → -1, other nulls →
   * 'não informado').
   */
  def fillSentinel(df: DataFrame, column: String, sentinel: Any, valid: Option[Column] = None): DataFrame = {
    val ok = valid.getOrElse(col(column).isNotNull)
    df.withColumn(column, when(ok, col(column)).otherwise(lit(sentinel)))
  }

  /**
   * Whitelist validation of a categorical column: values outside `allowed`
   * (and nulls) become `fallback` (reference dag.py:92-103 validates 7
   * categorical columns against expected value sets).
   *
   * `isin` over a literal set stays inside codegen (a hash-set probe per
   * row); no shuffle, no UDF.
   */
  def domainValidate(df: DataFrame, column: String, allowed: Seq[String], fallback: String): DataFrame =
    df.withColumn(column,
      when(col(column).isin(allowed: _*), col(column)).otherwise(lit(fallback)))

  /**
   * Keep only rows satisfying a cross-column invariant (reference
   * dag.py:116-119: drop rows where `mortos > pessoas` or
   * `feridos > pessoas`). A plain predicate — Catalyst pushes it as far
   * down as semantics allow.
   */
  def invariantFilter(df: DataFrame, invariants: Column*): DataFrame =
    invariants.foldLeft(df)((d, inv) => d.filter(inv))

  /**
   * Single-domain assertion used by the reference's date validation
   * (reference dag.py:69-75: all rows must share one year). Returns the
   * distinct count frame; callers assert `count == 1`.
   */
  def distinctValues(df: DataFrame, column: String): DataFrame =
    df.select(col(column)).distinct()

  /**
   * Timestamp parse with explicit failure semantics: the reference
   * RAISES when `data_inversa`/`horario` fail to parse (dag.py:64-75),
   * while Spark's `to_timestamp` nulls silently — silently-swallowed
   * corruption is how a bad upstream drop ships to production. Adds
   * `out` (the parsed timestamp) and `validOut` (false exactly when a
   * NON-null input failed to parse; null inputs are absence, not
   * corruption, and stay valid for [[fillSentinel]] to handle).
   */
  def parseTimestamp(
      df: DataFrame, src: String, fmt: String,
      out: String, validOut: String): DataFrame =
    // try_to_timestamp, not to_timestamp: under ANSI mode (Spark 4's
    // default) the plain parse THROWS mid-job on the first bad row —
    // the flag column is the point of this operator
    df.withColumn(out, try_to_timestamp(col(src), lit(fmt)))
      .withColumn(validOut, col(out).isNotNull || col(src).isNull)

  /**
   * The reference's eager contract (dag.py:64-75): parse, then THROW if
   * more than `maxInvalid` non-null values failed. The check is ONE
   * bounded aggregate (a single long reaches the driver — the library's
   * agg-to-literal exception); the returned frame re-reads the source
   * lazily, so at 100 TB callers who cannot afford the validation pass
   * should use [[parseTimestamp]]'s flag column and filter/quarantine
   * inline instead.
   */
  def assertParsed(
      df: DataFrame, src: String, fmt: String, out: String,
      maxInvalid: Long = 0L): DataFrame = {
    val parsed = parseTimestamp(df, src, fmt, out, "__gvalid")
    val bad = parsed
      .agg(coalesce(sum(when(!col("__gvalid"), 1L).otherwise(0L)), lit(0L)))
      .head().getLong(0)
    if (bad > maxInvalid)
      throw new IllegalStateException(
        s"parse validation failed: $bad value(s) of '$src' did not parse as '$fmt' " +
          s"(allowed: $maxInvalid)")
    parsed.drop("__gvalid")
  }

  /**
   * Winsorization: clip a numeric column to its [pLo, pHi] percentile
   * band, per group — the standard outlier-capping step between
   * sentinel-fill and aggregation. Exact percentiles by default
   * (bit-identical to DuckDB `quantile_cont`); `approx = true` switches
   * to the Greenwald-Khanna sketch for 100 TB columns where the exact
   * per-group gather is too expensive. The percentile frame is tiny
   * (one row per group) and broadcast back.
   */
  def winsorize(
      df: DataFrame, column: String, keys: Seq[String],
      pLo: Double, pHi: Double, approx: Boolean = false): DataFrame = {
    val clamp = (j: DataFrame) => j.withColumn(column,
      least(greatest(col(column), col("__glo")), col("__ghi")))
    if (approx) Features.withGroupBounds(df, keys, Seq(
      percentile_approx(col(column), lit(pLo), lit(10000)).as("__glo"),
      percentile_approx(col(column), lit(pHi), lit(10000)).as("__ghi")))(clamp)
    else Features.withBoundsFrame(df, keys, Features.groupQuantiles(
      df, keys, column, Seq(pLo -> "__glo", pHi -> "__ghi")))(clamp)
  }

  /**
   * Robust outlier flagging via median absolute deviation: a row is an
   * outlier when |v − median| > k · MAD, both statistics per group —
   * the robust twin of z-score thresholds ([[graft.operators.Features]]),
   * immune to the outliers it hunts (mean/stddev are not). The standard
   * anomaly gate before aggregating sensor-like measures.
   *
   * Two bounds passes by construction (the MAD is the median OF the
   * deviations from the first-pass median), each a one-row-per-group
   * frame broadcast back by key; the data never shuffles. Medians and
   * |v − m| are engine-portable (correctly-rounded IEEE ops, exact
   * `median`); `approx = true` switches both passes to the
   * Greenwald-Khanna sketch for 100 TB columns.
   */
  def madOutliers(df: DataFrame, column: String, keys: Seq[String],
      k: Double, approx: Boolean = false): DataFrame = {
    // exact medians ride groupQuantiles' sort-rank path (bounded memory
    // at any cardinality; `median` shares `percentile`'s hash-map buffer)
    def medBounds(d: DataFrame, c: String, as: String)(
        post: DataFrame => DataFrame): DataFrame =
      if (approx) Features.withGroupBounds(d, keys,
        Seq(percentile_approx(col(c), lit(0.5), lit(10000)).cast("double").as(as)))(post)
      else Features.withBoundsFrame(d, keys,
        Features.groupQuantiles(d, keys, c, Seq(0.5 -> as)))(post)
    val withDev = medBounds(df, column, "__gmed")(
      _.withColumn("deviation", abs(col(column) - col("__gmed"))))
    medBounds(withDev, "deviation", "__gmad")(
      _.withColumn("is_outlier", col("deviation") > lit(k) * col("__gmad")))
  }

  /**
   * k-anonymity enforcement over quasi-identifier columns: rows whose
   * QI combination appears fewer than `k` times are re-identifiable and
   * get their QIs suppressed (nulled) — the standard privacy gate before
   * releasing or training on user-adjacent tabular data. One count
   * window over the QI columns (equivalently a groupBy + join, but the
   * window reuses a single shuffle); everything else is per-row.
   */
  /**
   * Last-observation-carried-forward (LOCF) null imputation: each null
   * takes the most recent non-null value of the same key in event
   * order — the standard fill for sensor/price series where a missing
   * reading means "unchanged", complementing [[imputeWithMedian]]
   * (cross-sectional) and Events.gapFill (which INSERTS calendar rows;
   * this fills nulls in EXISTING rows). One strictly-ordered window per
   * key; leading nulls stay null (no observation to carry). The
   * ordering must be total or the carried value is layout-dependent.
   */
  def locf(
      df: DataFrame, column: String, keys: Seq[String], order: Seq[String],
      out: String): DataFrame = {
    require(keys.nonEmpty,
      "locf needs partition keys: an unkeyed fill window is a global single-partition funnel")
    require(order.nonEmpty, "locf needs ordering columns")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(out, last(col(column), ignoreNulls = true).over(w))
  }

  def kAnonymize(df: DataFrame, quasiIds: Seq[String], k: Long): DataFrame = {
    require(quasiIds.nonEmpty, "kAnonymize needs at least one quasi-identifier")
    val n = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(quasiIds.map(col): _*))
    val flagged = df.withColumn("__gn", n)
    quasiIds.foldLeft(flagged) { (acc, q) =>
      acc.withColumn(q, when(col("__gn") < k, lit(null)).otherwise(col(q)))
    }.withColumn("qi_suppressed", col("__gn") < k).drop("__gn")
  }

  /**
   * l-diversity suppression — [[kAnonymize]]'s stronger sibling: a
   * quasi-identifier group is unsafe not when it is SMALL but when its
   * SENSITIVE values are uniform (a k-anonymous group of 50 rows that
   * all share one diagnosis still leaks it). Groups with fewer than `l`
   * distinct sensitive values get their quasi-identifiers suppressed.
   * Distinct-per-group can't be a window (`countDistinct` has no window
   * form), so it's one aggregation joined back on the quasi-id key —
   * the aggregated side is ≤ |groups| rows and broadcastable; the join
   * reuses the fact's quasi-id partitioning otherwise. Null sensitive
   * values carry no diversity (countDistinct skips them).
   */
  def lDiversify(
      df: DataFrame, quasiIds: Seq[String], sensitive: String,
      l: Long): DataFrame = {
    require(quasiIds.nonEmpty, "lDiversify needs at least one quasi-identifier")
    val groups = df.groupBy(quasiIds.map(col): _*)
      .agg(countDistinct(col(sensitive)).as("__gl"))
    val joined = df.join(groups, quasiIds)
    quasiIds.foldLeft(joined) { (acc, q) =>
      acc.withColumn(q, when(col("__gl") < l, lit(null)).otherwise(col(q)))
    }.withColumn("qi_suppressed", col("__gl") < l).drop("__gl")
  }

  /**
   * Functional-dependency audit: report every determinant value that
   * maps to MORE than one dependent value — the data-quality check
   * behind "customer_id should determine region" / "SKU should
   * determine brand". A clean table returns zero rows; each returned
   * row is a concrete violation to chase, with how many distinct
   * dependents it spread across and how many rows carry it.
   *
   * One aggregation keyed by the determinant (`countDistinct` has a
   * map-side partial-distinct), then a post-aggregation filter on a
   * \|determinants\|-sized frame. Null dependents carry no evidence
   * (countDistinct skips them, matching SQL COUNT(DISTINCT)).
   */
  def fdAudit(df: DataFrame, determinant: String, dependent: String): DataFrame =
    df.groupBy(col(determinant))
      .agg(countDistinct(col(dependent)).as("n_dep"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_dep") > 1)

  /**
   * Null profile: one pass over the table computing the row count and a
   * null count per listed column (the reference notebook's
   * `df.isnull().sum()` profiling cell) — a single aggregation, however
   * many columns, with map-side partials.
   */
  def profileNulls(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    df.agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /**
   * One FK relation for [[fkIntegrity]]: fact columns `fkCols` must
   * match `dimCols` in `dim`. `broadcastDim` is a caller assertion
   * that the dim's distinct key set is genuinely small (a real
   * dimension table) — only then is a broadcast hint forced. Leave it
   * false for fact-sized key sets (e.g. auditing lineitem→orders,
   * where the key count is a constant fraction of the fact): the
   * unhinted join lets AQE broadcast at runtime when the measured size
   * allows and otherwise falls back to a shuffled join, with Spark 4's
   * runtime bloom-filter pruning semi-filtering the fact before its
   * shuffle — a forced broadcast there OOMs every executor at scale.
   */
  case class FkRelation(
      name: String, fkCols: Seq[String], dim: DataFrame,
      dimCols: Seq[String], broadcastDim: Boolean = false)

  /**
   * Referential-integrity audit: for each named FK relation, how many
   * fact rows have no matching dimension row (NULL FK values count as
   * orphans — they match nothing, exactly as the fact-build left join
   * would leave them keyless). One row per relation:
   * (relation, n_rows, n_orphans, orphan_share).
   *
   * Scale shape: ONE scan of the fact, however many relations — each
   * dim contributes a distinct-key presence marker via a left join
   * (broadcast only where the caller vouches the dim is small, see
   * [[FkRelation.broadcastDim]]), all orphan counts fold into a single
   * aggregate with map-side partials, and the per-relation rows unfold
   * from that 1-row frame via inline explode
   * ([[Relational.corrMatrix]]'s shape). N anti-joins would scan the
   * fact N times.
   */
  def fkIntegrity(fact: DataFrame, relations: Seq[FkRelation]): DataFrame = {
    require(relations.nonEmpty, "fkIntegrity needs at least one relation")
    val marked = relations.zipWithIndex.foldLeft(fact) {
      case (acc, (r, i)) =>
        val keys = r.dim.select(r.dimCols.map(col): _*).distinct()
        val renamed = r.dimCols.zip(r.fkCols).foldLeft(keys) {
          case (d, (dk, fk)) => d.withColumnRenamed(dk, fk)
        }.withColumn(s"__gfk_$i", lit(1))
        acc.join(if (r.broadcastDim) broadcast(renamed) else renamed,
          r.fkCols, "left")
    }
    val aggs = relations.indices.map(i =>
      sum(when(col(s"__gfk_$i").isNull, 1L).otherwise(0L)).as(s"__go_$i"))
    val one = marked.agg(count(lit(1)).as("__gn"), aggs: _*)
    val rows = relations.zipWithIndex.map { case (r, i) =>
      struct(lit(r.name).as("relation"), col("__gn").as("n_rows"),
        col(s"__go_$i").as("n_orphans"),
        (col(s"__go_$i").cast("double") / col("__gn")).as("orphan_share"))
    }
    one.select(explode(array(rows: _*)).as("__gr")).select(col("__gr.*"))
  }

  /**
   * Two-sample Kolmogorov–Smirnov statistic per group — the
   * distribution-drift detector a training pipeline runs between data
   * snapshots (did this feature's distribution move?). `inSampleA`
   * splits rows into the two samples; output is one row per group:
   * (keys..., n_a, n_b, ks = max |F_a(v) − F_b(v)|).
   *
   * Scale shape: raw rows first collapse to per-(keys, value) counts
   * (the groupBy bounds the windowed frame at the DISTINCT value count,
   * not the row count); the ECDFs come from one cumulative window per
   * key over that collapsed frame; totals share the same partitioning.
   * The sup-difference is EXACT integer arithmetic until one final
   * division: |cum_a·n_b − cum_b·n_a| compares as DECIMAL(38,0)
   * (long×long needs 38 digits), so the argmax is unambiguous in any
   * engine — comparing per-row double ECDF differences would make the
   * max tie-break ulp-sensitive. Null values drop (they have no order
   * position).
   */
  def ksStatistic(
      df: DataFrame, keys: Seq[String], valueCol: String,
      inSampleA: Column): DataFrame = {
    val keyCols = keys.map(col)
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(keyCols :+ col(valueCol).as("__gv"): _*)
      .agg(sum(when(inSampleA, 1L).otherwise(0L)).as("__gca"),
        sum(when(inSampleA, 0L).otherwise(1L)).as("__gcb"))
    // empty keys is conditionally safe HERE (the dowSeasonality rule):
    // the window runs over the PRE-AGGREGATED counts frame, so an
    // unkeyed call funnels |distinct values| rows — bounded for the
    // discrete/bucketed columns a KS drift check reads, NOT for a raw
    // continuous column (where distinct ≈ row count: pre-bucket first,
    // or pass keys)
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keyCols: _*)
    val cum = base.orderBy(col("__gv")).rowsBetween(Window.unboundedPreceding, 0)
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    val stepped = counts
      .withColumn("__gna", sum(col("__gca")).over(base))
      .withColumn("__gnb", sum(col("__gcb")).over(base))
      .withColumn("__gdiff",
        abs(d38(sum(col("__gca")).over(cum)) * d38(col("__gnb")) -
          d38(sum(col("__gcb")).over(cum)) * d38(col("__gna"))))
    val grouped =
      if (keys.isEmpty) stepped.agg(max(col("__gdiff")).as("__gd"),
        max(col("__gna")).as("n_a"), max(col("__gnb")).as("n_b"))
      else stepped.groupBy(keyCols: _*).agg(max(col("__gdiff")).as("__gd"),
        max(col("__gna")).as("n_a"), max(col("__gnb")).as("n_b"))
    grouped.select(keyCols ++ Seq(col("n_a"), col("n_b"),
      when(col("n_a") > 0 && col("n_b") > 0,
        col("__gd").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double"))).as("ks")): _*)
  }

  /** Benford expected leading-digit shares log₁₀(1 + 1/d), d = 1..9 —
   *  computed ONCE on the driver and embedded as literals in both the
   *  Spark plan and (via Ryu shortest strings) the SQL oracle, so both
   *  engines use bit-identical constants regardless of libm. */
  val benfordShares: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /**
   * Benford's-law leading-digit audit — the fraud/fabrication screen
   * for naturally-occurring positive amounts: observed share of each
   * leading significant digit vs the Benford expectation, with the
   * absolute deviation. Values below 1 are excluded (their leading
   * significant digit needs magnitude normalization, and audited
   * amounts are ≥ 1 by construction).
   *
   * One count groupBy (≤ 9·|groups| partials per task); shares come
   * from a window over the 9-row-per-group counts frame; the digit is
   * the first character of the value's canonical decimal rendering —
   * identical across engines for DECIMAL-typed columns.
   */
  def benfordAudit(
      df: DataFrame, keys: Seq[String], valueCol: String): DataFrame = {
    val keyCols = keys.map(col)
    val digit = substring(col(valueCol).cast("string"), 1, 1)
    val counts = df.filter(col(valueCol) >= 1)
      .groupBy(keyCols :+ digit.as("digit"): _*)
      .agg(count(lit(1)).as("n"))
    // empty keys is safe HERE (the dowSeasonality rule): the window
    // runs over the already-aggregated counts frame, which an unkeyed
    // call bounds at 9 digit rows total — not a single-partition funnel
    val base = if (keys.isEmpty) Window.partitionBy() else Window.partitionBy(keyCols: _*)
    val expected = benfordShares.zipWithIndex
      .foldLeft(lit(null).cast("double")) { case (acc, (share, i)) =>
        when(col("digit") === (i + 1).toString, share).otherwise(acc) }
    counts
      .withColumn("share", col("n").cast("double") / sum(col("n")).over(base).cast("double"))
      .withColumn("benford", expected)
      .withColumn("abs_dev", abs(col("share") - expected))
  }
}
