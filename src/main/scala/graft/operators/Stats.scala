package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column statistics profiling (north rule: "per-column stats
  * (min/max/null-rate/cardinality via approx_count_distinct and HyperLogLog
  * sketches)"). The reference validates one value at a time and has no stats
  * operator (SURVEY.md §2.7); this is the set-at-a-time capability layered on
  * top.
  *
  * One full-scan aggregation computes every column's stats in a single job
  * (no per-column passes); HLL sketches (`hll_sketch_agg`, Spark ≥ 3.5 /
  * 4.x, Apache DataSketches under the hood) are mergeable across partitions
  * — at cluster scale the per-partition sketches combine on the reducer
  * without ever materializing distinct values. The other sketch tiers are
  * Spark's own aggregates too: quantiles by `kll_sketch_agg_double` (read
  * with [[graft.plans.Kll]]), frequencies by `count_min_sketch`.
  */
object Stats {

  /** One output row per profiled column:
    * (column, non_null_count, null_rate, min, max, approx_distinct,
    * hll_distinct). min/max rendered as strings for schema uniformity.
    */
  def profile(df: DataFrame, columns: Seq[String] = Nil): DataFrame = {
    val cols = if (columns.nonEmpty) columns else df.schema.fields.collect {
      case f if isProfilable(f.dataType) => f.name
    }.toSeq
    require(cols.nonEmpty,
      "profile: no profilable (atomic-typed) columns — an empty stack() " +
        "would fail to parse; pass `columns` explicitly or project first")
    // the melt below builds SQL text; names with quote/backtick metachars
    // would corrupt it, so fail with a clear message instead
    cols.find(c => c.contains("'") || c.contains("`")).foreach { bad =>
      throw new IllegalArgumentException(
        s"profile: column name '$bad' contains a quote/backtick — rename or alias it")
    }
    val total = count(lit(1))
    val aggs: Seq[Column] = cols.flatMap { c =>
      val v = col(c)
      Seq(
        count(v).as(s"${c}__cnt"),
        min(v).cast(StringType).as(s"${c}__min"),
        max(v).cast(StringType).as(s"${c}__max"),
        approx_count_distinct(v).as(s"${c}__acd"),
        hll_sketch_estimate(hll_sketch_agg(v.cast(StringType))).as(s"${c}__hll"))
    } :+ total.as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*)

    // melt the single wide row into one row per column (tiny: done with a
    // stack expression, still one Spark job end-to-end)
    val stackArgs = cols.map { c =>
      s"'$c', `${c}__cnt`, `${c}__min`, `${c}__max`, `${c}__acd`, `${c}__hll`"
    }.mkString(", ")
    row.select(
      expr(s"stack(${cols.size}, $stackArgs) as " +
        "(column, non_null_count, min, max, approx_distinct, hll_distinct)"),
      col("__total"))
      .select(
        col("column"), col("non_null_count"),
        round(lit(1.0) - col("non_null_count") / col("__total"), 6).as("null_rate"),
        col("min"), col("max"), col("approx_distinct"), col("hll_distinct"))
  }

  private def isProfilable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | BooleanType | DateType | TimestampType => true
    case _ => false
  }

  /** Per-day COMPLETENESS (null-rate) trend for a set of columns — the
    * continuous-monitoring form of [[profile]]'s null_rate (the classic
    * "completeness" data-quality check over event time: which day did the
    * producer start dropping a field?). One map-side-combined groupBy on
    * the day with each column's non-null count as a conditional sum in
    * the SAME pass (never a per-column scan), then a tiny `stack()` melt
    * to long form (day, column, n_rows, n_null, null_rate). Shuffle mass
    * = days × columns. All counts are exact integers; the rate is one
    * long/long division — bit-identical in any engine, so no rounding.
    */
  def completenessTrend(df: DataFrame, columns: Seq[String],
      tsCol: String): DataFrame = {
    require(columns.nonEmpty, "completenessTrend: no columns")
    columns.find(c => c.contains("'") || c.contains("`")).foreach { bad =>
      throw new IllegalArgumentException(
        s"completenessTrend: column name '$bad' contains a quote/backtick — rename or alias it")
    }
    val aggs: Seq[Column] =
      columns.map(c => count(col(c)).as(s"${c}__cnt")) :+ count(lit(1)).as("__n")
    val daily = df.filter(col(tsCol).isNotNull)
      .groupBy(date_format(col(tsCol), "yyyy-MM-dd").as("day"))
      .agg(aggs.head, aggs.tail: _*)
    val stackArgs = columns.map(c => s"'$c', `${c}__cnt`").mkString(", ")
    daily.select(col("day"), col("__n"),
        expr(s"stack(${columns.size}, $stackArgs) as (column, __cnt)"))
      .select(col("day"), col("column"), col("__n").as("n_rows"),
        (col("__n") - col("__cnt")).as("n_null"),
        ((col("__n") - col("__cnt")) / col("__n")).as("null_rate"))
  }

  /** Mergeable per-partition HLL sketches for a column: one binary sketch
    * per `part`, union-able later with `hll_union_agg` — the building block
    * for incremental/resumable cardinality at 10^12 docs.
    */
  def partitionSketches(df: DataFrame, column: String, partCol: String = "part"): DataFrame =
    df.groupBy(col(partCol))
      .agg(hll_sketch_agg(col(column).cast(StringType)).as("sketch"),
        count(lit(1)).as("rows"))

  /** Union previously materialized per-partition sketches into a global
    * distinct-count estimate.
    */
  def unionSketches(sketches: DataFrame): DataFrame =
    sketches.agg(
      hll_sketch_estimate(hll_union_agg(col("sketch"))).as("distinct_estimate"),
      sum(col("rows")).as("rows"))

  /** Per-column Shannon entropy and concentration — the "is this column
    * degenerate / skewed / leaking a constant" signal a corpus health
    * check reads next to null rates: (column, n, n_distinct, entropy_bits,
    * top_share). Uses the exact transform H = log2(N) - (Σ c·log2 c)/N
    * over per-value counts, so the only floating point is one log2 per
    * DISTINCT value — replayable by any IEEE engine (output rounded 6dp;
    * cross-engine float-sum policy).
    *
    * Scale: one map-side-combined groupBy per requested column
    * (distinct-value-sized shuffles — cheap for the enum-ish columns this
    * is for; for unbounded-cardinality columns use the sketch tier,
    * [[partitionSketches]] (HLL) or Spark's `count_min_sketch`, instead).
    * NULL is a value (a 99%-null column IS concentrated).
    */
  def entropy(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "entropy: need at least one column")
    columns.map { c =>
      df.groupBy(col(c).cast(StringType).as("value"))
        .agg(count(lit(1)).as("cnt"))
        .select(lit(c).as("column"), col("cnt"))
    }.reduce(_ unionByName _)
      .groupBy(col("column"))
      .agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"),
        sum(col("cnt").cast("double") * log2(col("cnt"))).as("clogc"))
      .select(col("column"), col("n"), col("n_distinct"),
        round(log2(col("n")) - col("clogc") / col("n"), 6).as("entropy_bits"),
        round(col("top_cnt").cast("double") / col("n"), 6).as("top_share"))
  }

  /** Exact per-group quantiles (linear interpolation — SQL
    * `percentile_cont` semantics, so any engine replays them) of a
    * numeric column: one row per group with one column per requested
    * quantile. Nulls are ignored (standard aggregate contract); a NULL
    * group key is its own group.
    *
    * Scale: Spark's exact `percentile` aggregates a value→count map, so
    * per-group state is (distinct values), NOT (rows) — the right tier
    * for bounded-domain columns (lengths, counts, scores on a grid) at
    * any row count. For genuinely continuous columns switch to the
    * mergeable-sketch tier (KLL: Spark's `kll_sketch_agg_double`, read with
    * [[graft.plans.Kll]]) and keep this as its oracle.
    */
  def groupQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
      s"quantiles must be in [0,1]: $qs")
    val aggs = qs.map(q =>
      round(percentile(col(valueCol), lit(q)), 6)
        .as(s"p${(q * 100).round}"))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-group IQR (boxplot) outlier report — the quantile-fence twin of
    * the robust-z watchdog ([[Anomaly]] uses median/MAD): fences at
    * q1 − k·IQR and q3 + k·IQR from [[groupQuantiles]]-exact quartiles,
    * then one corpus scan counts each group's out-of-fence rows. Output
    * per group: quartiles, fences, n_rows, n_outliers.
    *
    * Two passes by construction (fences are a global-per-group property);
    * the quartile table is group-sized and broadcasts back, so the second
    * pass is a scan-stage filter — no corpus shuffle beyond the quartile
    * aggregation itself.
    */
  def iqrOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
      k: Double = 1.5): DataFrame = {
    val q = groupQuantiles(df, groupCols, valueCol, Seq(0.25, 0.75))
      .withColumn("lo_fence", round(col("p25") - lit(k) * (col("p75") - col("p25")), 6))
      .withColumn("hi_fence", round(col("p75") + lit(k) * (col("p75") - col("p25")), 6))
    // null-safe join keys: a null group key is a real group (same lesson
    // as Anomaly.rowOutliers — an equi-join would silently drop it)
    val qr = q.select(groupCols.map(g => col(g).as(s"_g_$g")) ++
      Seq(col("p25"), col("p75"), col("lo_fence"), col("hi_fence")): _*)
    val cond = groupCols.map(g => col(g) <=> col(s"_g_$g")).reduce(_ && _)
    df.join(broadcast(qr), cond)
      .groupBy(groupCols.map(g => col(s"_g_$g").as(g)) ++
        Seq(col("p25"), col("p75"), col("lo_fence"), col("hi_fence")): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col(valueCol) < col("lo_fence") ||
          col(valueCol) > col("hi_fence"), 1L).otherwise(0L)).as("n_outliers"))
  }

  /** Benford first-digit audit of a positive numeric column: observed
    * leading-digit counts vs Benford's log10(1 + 1/d) expectation, with
    * the per-digit contribution to the chi² statistic — the classic
    * fabricated-/synthetic-data tell for organically-grown magnitudes
    * (prices, populations, file sizes). Rows ≤ 0 or null are out of scope
    * (Benford is defined on positive magnitudes). One scan, 9-row output.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    // first significant digit = first [1-9] of the decimal rendering —
    // exact (no log10 float edges at powers of ten), and the same
    // extraction replays in any engine
    val digit = regexp_extract(v.cast("string"), "[1-9]", 0)
    val counts = df.filter(v.isNotNull && v > 0)
      .groupBy(digit.cast("int").as("digit"))
      .agg(count(lit(1)).as("observed"))
    val total = counts.agg(sum(col("observed")).as("_n"))
    val expected = log(10.0, lit(1.0) + lit(1.0) / col("digit")) * col("_n")
    counts.crossJoin(broadcast(total))
      .select(col("digit"), col("observed"),
        round(expected, 6).as("expected"),
        round(pow(col("observed") - expected, 2.0) / expected, 6)
          .as("chi2_term"))
  }

  /** Missingness-structure histogram: which columns go missing TOGETHER —
    * each row's null bitmap over `columns` rendered as a pattern string
    * ('-' present, 'N' null, in the given column order), counted. Per-
    * column null RATES can look healthy while nulls are perfectly
    * correlated (one upstream joins dropping a whole struct); the pattern
    * histogram is how that structure becomes visible. One scan, one
    * map-side-combined groupBy on a ≤ 2^|columns|-cardinality key.
    */
  def nullPatterns(df: DataFrame, columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "nullPatterns: need at least one column")
    val pattern = concat(columns.map(c =>
      when(col(c).isNull, "N").otherwise("-")): _*)
    df.groupBy(pattern.as("pattern"))
      .agg(count(lit(1)).as("n_rows"))
  }

  /** k-anonymity risk audit over quasi-identifier columns: every
    * combination of `quasiCols` values shared by FEWER than k rows — the
    * cohorts where joining an external table re-identifies individuals,
    * and the release-gate check privacy reviews ask for. NULL values are
    * real combination members. One map-side-combined groupBy; output is
    * risky-combination-sized (small exactly when the corpus is safe).
    */
  def kAnonymityRisk(df: DataFrame, quasiCols: Seq[String],
      k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k > 1, "need quasi columns and k > 1")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") < k)
  }

  /** Categorical association (Pearson chi² + Cramér's V) between column
    * pairs — the cross-COLUMN twin of the drift family's chi² (which
    * compares distributions of ONE column): "is source predictive of
    * language?" is a dependency question every mixture/split design needs
    * answered (a lang-skewed source breaks per-source sampling
    * assumptions). V in [0, 1]; 0 = independent, 1 = fully determined.
    *
    * One map-side-combined contingency groupBy per pair; margins and the
    * chi² fold run over the CELL table (≤ card(a)·card(b) rows), never the
    * corpus. NULL is a real category (coalesced to a sentinel so the
    * cardinality in V's denominator counts it — `count distinct` would
    * silently drop it and V could exceed 1). Statistics are rounded
    * (cross-engine float-sum policy).
    */
  def cramersV(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "cramersV: need at least one column pair")
    pairs.map { case (a, b) =>
      val cells = df.groupBy(
          coalesce(col(a).cast(StringType), lit("<null>")).as("va"),
          coalesce(col(b).cast(StringType), lit("<null>")).as("vb"))
        .agg(count(lit(1)).as("o"))
      val withMargins = cells
        .withColumn("row_tot", sum(col("o")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("va"))))
        .withColumn("col_tot", sum(col("o")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("vb"))))
      // chi2 = sum(o^2/e) - n: the algebraic identity that makes EMPTY
      // cells free — summing (o-e)^2/e over observed cells only would
      // silently drop every absent combination's e contribution.
      // Margins multiply in DOUBLE: long*long overflows past ~3e9-row
      // margins (the 10^12 target regime)
      val e = col("row_tot").cast("double") * col("col_tot") / col("n")
      withMargins
        .crossJoin(broadcast(df.agg(count(lit(1)).as("n"))))
        .agg(first(col("n")).as("nn"),
          count_distinct(col("va")).as("ca"),
          count_distinct(col("vb")).as("cb"),
          (sum(col("o").cast("double") * col("o") / e) -
            first(col("n"))).as("chi2"))
        .select(lit(a).as("col_a"), lit(b).as("col_b"),
          col("nn").as("n"), round(col("chi2"), 6).as("chi2"),
          // V undefined when either column is constant (min card 1)
          when(least(col("ca"), col("cb")) > 1,
            round(sqrt(col("chi2") /
              (col("nn") * (least(col("ca"), col("cb")) - 1))), 6))
            .as("cramers_v"))
    }.reduce(_ unionByName _)
  }

  /** Id-continuity islands: maximal runs of consecutive ids, as
    * (start_id, end_id, n_ids) — the gap/coverage audit for id-keyed
    * corpora ("which ranges are missing after a partial restore?"). The
    * classic islands transform: ids ranked globally, grouped by
    * `id - rank` (constant exactly within a consecutive run). Built on
    * [[Sampling.globalRank]], so there is no single-partition sort; the
    * groupBy is map-side combined and island-sized. Output is
    * islands-sized — gaps are the complement (end_id + 1 .. next
    * start_id - 1).
    */
  def idIslands(df: DataFrame, idCol: String): DataFrame =
    Sampling.globalRank(df.select(col(idCol).as("id")).distinct(),
        Seq(col("id")))
      .groupBy((col("id") - col("rank")).as("_island"))
      .agg(min(col("id")).as("start_id"), max(col("id")).as("end_id"),
        count(lit(1)).as("n_ids"))
      .drop("_island")
      .select(col("start_id"), col("end_id"), col("n_ids"))

  /** Slice-lift failure attribution: for every value of every requested
    * dimension column, the failure rate of that slice vs the corpus-global
    * rate — "which language / source / day is producing the violations?".
    * Output one row per (dim, value): rows, failed, fail_rate, lift
    * (slice rate ÷ global rate), and `flagged` when the slice has both
    * enough support (`minRows`) and a lift ≥ `minLift`. NULL dimension
    * values form their own slice (a null-source cohort failing 10× the
    * corpus rate is exactly what this exists to surface); lift is null
    * when the corpus-global rate is zero.
    *
    * Scale: the row fans out to |dims| (dim, value) entries in-plan
    * (explode of a literal-built array), then ONE map-side-combined
    * groupBy — slice-count-sized shuffle; the global rate joins back as a
    * broadcast 1-row crossJoin. Dimensions here are enum-ish columns; for
    * unbounded cardinality pick candidate values first (Spark's
    * `count_min_sketch`).
    */
  def sliceLift(df: DataFrame, dims: Seq[String], failCol: Column,
      minRows: Long = 1L, minLift: Double = 2.0): DataFrame = {
    require(dims.nonEmpty, "sliceLift: need at least one dimension")
    val fail = when(failCol, 1L).otherwise(0L)
    val entries = array(dims.map(d =>
      struct(lit(d).as("dim"), col(d).cast(StringType).as("value"))): _*)
    val global = df.agg(
      count(lit(1)).as("_g_rows"), sum(fail).as("_g_failed"))
    df.select(explode(entries).as("e"), fail.as("_fail"))
      .groupBy(col("e.dim").as("dim"), col("e.value").as("value"))
      .agg(count(lit(1)).as("rows"), sum(col("_fail")).as("failed"))
      .crossJoin(broadcast(global))
      .select(col("dim"), col("value"), col("rows"), col("failed"),
        round(col("failed") / col("rows"), 6).as("fail_rate"),
        when(col("_g_failed") > 0L,
          round((col("failed") / col("rows")) /
            (col("_g_failed") / col("_g_rows")), 6)).as("lift"))
      .withColumn("flagged",
        col("rows") >= minRows && coalesce(col("lift") >= minLift, lit(false)))
  }

  /** Functional-dependency audit: determinant values that map to MORE than
    * one dependent value — the violation report for an expected
    * `det → dep` dependency (producer id → schema version, media_ref →
    * mime, source → language). Output (det, n_values, n_rows) for
    * violating determinants only.
    *
    * One map-side-combined groupBy on the determinant; the two-phase
    * count_distinct never materializes value lists. At 10^12 rows the
    * shuffle carries one row per distinct (det, dep) pair after partial
    * aggregation — dependency audits are cheap exactly when the dependency
    * mostly holds.
    */
  def fdViolations(df: DataFrame, detCol: String, depCol: String): DataFrame =
    df.filter(col(detCol).isNotNull)
      .groupBy(col(detCol).as("det"))
      .agg(count_distinct(col(depCol)).as("n_values"),
        count(lit(1)).as("n_rows"))
      .filter(col("n_values") > 1)
      .orderBy("det")

  /** Hot-key diagnosis: the top-k heaviest values of `keyCol` with their
    * multiplicity, skew ratio vs the mean key frequency, and the salt
    * fan-out the two-phase aggregations ([[Uniqueness]]'s salted groupBy,
    * AQE's skew-join split) would need to level them.
    *
    * Why it exists: at 10^12 docs a single viral `media_ref` (or a default
    * `doc_id` from a buggy producer) concentrates billions of rows on one
    * reducer; every skew mitigation in this engine (salting factor, AQE
    * advisory partition size) is parameterized by exactly the numbers this
    * report produces. The reference validates one document at a time and
    * has no analogue (SURVEY.md §2.7 "grouping" row is the closest).
    *
    * Plan: one map-side-combined groupBy on the key (the only shuffle,
    * carrying one (key, count) row per distinct key per mapper), then a
    * TakeOrdered top-k — no Window, no global sort. `recommended_salt` =
    * ceil(count / targetRowsPerTask), floored at 1. This exact form
    * shuffles one row per DISTINCT key; at unbounded cardinality Spark's
    * `count_min_sketch` keeps fixed-size, mergeable state instead.
    */
  def heavyHitters(df: DataFrame, keyCol: String, k: Int,
      targetRowsPerTask: Long): DataFrame = {
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("cnt"))
    // mean frequency = total rows / distinct keys, computed from the SAME
    // aggregate (one extra tiny reduction, not a second scan of df)
    val tot = counts.agg(sum(col("cnt")).as("t"), count(lit(1)).as("d"))
    counts.crossJoin(broadcast(tot))
      .select(col("key"), col("cnt"),
        round(col("cnt") / (col("t") / col("d")), 4).as("skew_ratio"),
        greatest(lit(1L), ceil(col("cnt") / lit(targetRowsPerTask)))
          .cast(LongType).as("recommended_salt"))
      .orderBy(col("cnt").desc, col("key"))
      .limit(k)
  }

  /** Dataset-card summary: one row per group (e.g. source, or
    * source×lang) with doc count, corpus share, distinct-language count,
    * total and median character mass — the table a dataset card or
    * mixture-planning review starts from. `median` is the exact
    * interpolating percentile (matches SQL `median()` on even n).
    *
    * One map-side-combined groupBy over the corpus plus a 1-row total
    * broadcast back onto the group-sized summary; the exact median is a
    * per-group `percentile`, whose state is per-distinct-VALUE of the
    * measure within the group (n_chars-like measures have few thousand
    * distinct values, so this stays small; for a truly continuous measure
    * swap in `percentile_approx`/KLL — same shape, bounded state). The
    * corpus total comes from an unpartitioned Window over the GROUP-SIZED
    * summary (never a second corpus scan; the single-partition window
    * holds one row per group).
    */
  def corpusCard(df: DataFrame, groupCols: Seq[String], langCol: String,
      charCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        count_distinct(col(langCol)).as("n_langs"),
        sum(col(charCol)).cast("long").as("chars_total"),
        expr(s"percentile($charCol, 0.5)").as("chars_p50"))
      .withColumn("doc_share",
        round(col("n_docs") / sum(col("n_docs")).over(Window.partitionBy()), 6))
  }

  /** Lorenz/Gini concentration of a mass measure across groups — "is the
    * corpus dominated by a few sources/domains?" in one number: gini = 0
    * means every group carries equal mass, gini → 1 means one group owns
    * it all. The mixture-planning twin of [[corpusCard]]: a mixture plan
    * rebalances exactly what this audit quantifies.
    *
    * Gini over the ascending-sorted group masses x₁ ≤ … ≤ xₙ:
    * (2·Σ i·xᵢ) / (n·Σxᵢ) − (n+1)/n. Ties order by group key so the rank
    * assignment (and thus the statistic on tied data) is deterministic;
    * i·xᵢ products are integer-valued for integer masses below 2^53, so
    * the double sum is exact in any accumulation order and any engine
    * replays it bit-for-bit.
    *
    * Scale: one map-side-combined groupBy to the GROUP-SIZED mass table,
    * then a single-partition window over that (one row per group — the
    * [[corpusCard]] precedent), then a 1-row reduce. The corpus is
    * scanned once; nothing corpus-sized ever sorts.
    */
  def gini(df: DataFrame, groupCol: String, massCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("mass").asc_nulls_first, col("grp").asc_nulls_first)
    df.groupBy(col(groupCol).as("grp")).agg(sum(massCol).as("mass"))
      .withColumn("i", row_number().over(w))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("mass")).cast("long").as("total_mass"),
        max(col("mass")).cast("long").as("top_mass"),
        sum(col("i").cast("double") * col("mass")).as("_iw"))
      .select(col("n_groups"), col("total_mass"),
        round(col("top_mass").cast("double") / col("total_mass"), 6)
          .as("top_share"),
        round(lit(2.0) * col("_iw")
          / (col("n_groups").cast("double") * col("total_mass"))
          - (col("n_groups") + lit(1.0)) / col("n_groups"), 6).as("gini"))
  }

  /** Approximate-FD confidence — the "how close" companion of the exact
    * [[fdViolations]] audit: for det → dep, confidence = (rows kept by the
    * best per-determinant repair) / (all rows) — i.e. 1 − the minimum
    * fraction of rows one would have to delete (or re-label) to make the
    * dependency hold exactly (the g₁ error measure of the FD-discovery
    * literature, e.g. TANE). [[fdViolations]] lists WHERE the dependency
    * breaks; this scores HOW BADLY, which is what decides whether the
    * right fix is repair (confidence ≈ 1: a few dirty rows) or dropping
    * the assumption (confidence ≪ 1: not a dependency at all).
    *
    * NULL determinants are out of scope (same contract as
    * [[fdViolations]]); a NULL dependent is a real value (a det mapping
    * to {NULL} only is consistent).
    *
    * Scale: one map-side-combined groupBy to the distinct (det, dep) pair
    * table (the same shuffle tier as [[fdViolations]]), a det-sized
    * re-aggregation, then a 1-row reduce — dependency scoring is cheap
    * exactly when the dependency mostly holds.
    */
  def fdConfidence(df: DataFrame, detCol: String, depCol: String): DataFrame =
    df.filter(col(detCol).isNotNull)
      .groupBy(col(detCol).as("det"), col(depCol).as("dep"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("det"))
      .agg(max(col("cnt")).as("keep"), sum(col("cnt")).as("n"))
      .agg(count(lit(1)).as("n_determinants"),
        sum(col("n")).cast("long").as("n_rows"),
        sum(col("keep")).cast("long").as("_kept"))
      .select(col("n_determinants"), col("n_rows"),
        (col("n_rows") - col("_kept")).as("n_violating_rows"),
        round(col("_kept").cast("double") / col("n_rows"), 6)
          .as("confidence"))

  /** Per-(segment, column) completeness — "which FEED sends broken
    * columns": null counts and rates of each requested column broken out
    * by a segment dimension (source, day, pipeline version). The
    * attribution view the corpus-global [[profile]] null_rate and the
    * row-structure [[nullPatterns]] histogram both lack: a 2% global null
    * rate that is 40% inside one source is a producer incident, and only
    * this breakdown says so.
    *
    * Scale: ONE map-side-combined groupBy on the segment (per-column null
    * sums ride the same combine), segment-sized output exploded to
    * (segment × column) rows. A NULL segment is a real segment.
    */
  def completenessBySegment(df: DataFrame, segCol: String,
      columns: Seq[String]): DataFrame = {
    require(columns.nonEmpty, "completenessBySegment: need columns")
    val aggs = count(lit(1)).as("_n") +: columns.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nn_$c"))
    df.groupBy(col(segCol).as("segment")).agg(aggs.head, aggs.tail: _*)
      .select(col("segment"), explode(array(columns.map(c =>
        struct(lit(c).as("column"), col(s"_nn_$c").as("nulls"),
          col("_n").as("n_rows"))): _*)).as("m"))
      .select(col("segment"), col("m.column"), col("m.nulls"),
        col("m.n_rows"),
        round(col("m.nulls") / col("m.n_rows"), 6).as("null_rate"))
  }

  /** Winsorization (quantile-clipping) report per group — the numeric
    * repair tier next to the rule-driven [[Repair]]: fences at the exact
    * interpolated `lo`/`hi` quantiles of `valueCol`, then one scan counts
    * each group's rows below/above fence and the total mass the clamp
    * would move. `mass_delta_micro` is Σ(clamp(v) − v) in integer
    * micro-units (×10⁶, rounded) so the cross-engine comparison never
    * rides on float accumulation order: each term is (round-6 fence −
    * integer value), the scaled sum sits within ~10⁻³ of an integer, and
    * rounding recovers that integer identically everywhere.
    *
    * Same two-pass shape as [[iqrOutliers]] (fences are a global
    * per-group property): group-sized quantile table broadcasts back,
    * second pass is a scan-stage aggregate; null-safe group join (a NULL
    * group key is a real group).
    */
  def winsorizeReport(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lo: Double = 0.01, hi: Double = 0.99): DataFrame = {
    require(lo < hi, s"winsorizeReport: need lo < hi, got $lo/$hi")
    val loName = s"p${(lo * 100).round}"
    val hiName = s"p${(hi * 100).round}"
    val q = groupQuantiles(df, groupCols, valueCol, Seq(lo, hi))
      .select(groupCols.map(g => col(g).as(s"_g_$g")) ++
        Seq(col(loName).as("lo_fence"), col(hiName).as("hi_fence")): _*)
    val cond = groupCols.map(g => col(g) <=> col(s"_g_$g")).reduce(_ && _)
    val v = col(valueCol).cast("double")
    val clamped = least(greatest(v, col("lo_fence")), col("hi_fence"))
    df.join(broadcast(q), cond)
      .groupBy(groupCols.map(g => col(s"_g_$g").as(g)) ++
        Seq(col("lo_fence"), col("hi_fence")): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(v < col("lo_fence"), 1L).otherwise(0L)).as("n_below"),
        sum(when(v > col("hi_fence"), 1L).otherwise(0L)).as("n_above"),
        round(sum(clamped - v) * lit(1e6)).cast("long")
          .as("mass_delta_micro"))
  }

  /** Lognormal fit of a positive size column per segment: n, and the
    * mean/population-stddev of ln(value) — document lengths, file sizes
    * and session durations on organically-grown corpora sit close to
    * lognormal, so (mu, sigma) is a two-number distribution fingerprint:
    * a source whose sigma collapses is templated output, one whose mu
    * jumps changed its chunking. Non-positive values are excluded
    * (ln undefined) and counted separately so the exclusion is visible,
    * not silent. Moments round at 6 (cross-engine float-sum policy).
    *
    * Scale: one map-side-combined groupBy; state per group is four
    * numbers.
    */
  def lengthFit(df: DataFrame, segCol: String, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val lnV = log(v)
    df.groupBy(col(segCol).as("segment"))
      .agg(sum(when(v > 0, 1L).otherwise(0L)).as("n"),
        sum(when(v <= 0 || v.isNull, 1L).otherwise(0L)).as("n_excluded"),
        sum(when(v > 0, lnV)).as("_s"),
        sum(when(v > 0, lnV * lnV)).as("_ss"))
      .select(col("segment"), col("n"), col("n_excluded"),
        when(col("n") > 0, round(col("_s") / col("n"), 6)).as("mu_ln"),
        when(col("n") > 0, round(sqrt(greatest(
          col("_ss") / col("n")
            - (col("_s") / col("n")) * (col("_s") / col("n")),
          lit(0.0))), 6)).as("sigma_ln"))
  }

  /** Pearson correlation per requested column pair from closed-form
    * moment sums — the numeric-association companion of [[cramersV]]
    * (categorical) and [[theilsU]] (directional): quantity↔price near 1
    * is expected structure, a price↔discount correlation appearing
    * between snapshots is a pipeline change. Pairwise-complete rows only
    * (both sides non-null), counted per pair so the basis is visible.
    * A constant column (zero variance) yields null r, not a crash or a
    * fake 0. r derives from the explicit
    * (nΣxy − ΣxΣy) / √((nΣx²−(Σx)²)(nΣy²−(Σy)²)) fold, so any engine
    * replays it; rounded at 6 (HALF_UP, the cross-engine policy).
    *
    * Scale: ONE map-side-combined aggregation over ONE corpus scan — all
    * pairs' moment sums fold in the same pass (six sums of state per
    * pair); the 1-row summary collects and the r arithmetic runs on the
    * driver (the [[graft.operators.Sampling.splitParity]] cell-count
    * pattern), so pair count never multiplies scan count.
    */
  def correlations(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "correlations: need at least one column pair")
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), i) =>
      val x = col(a).cast("double")
      val y = col(b).cast("double")
      val both = x.isNotNull && y.isNotNull
      Seq(sum(when(both, 1L)).as(s"n_$i"),
        sum(when(both, x)).as(s"sx_$i"), sum(when(both, y)).as(s"sy_$i"),
        sum(when(both, x * y)).as(s"sxy_$i"),
        sum(when(both, x * x)).as(s"sxx_$i"),
        sum(when(both, y * y)).as(s"syy_$i"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val out = pairs.zipWithIndex.map { case ((a, b), i) =>
      val n = Option(row.getAs[java.lang.Long](s"n_$i"))
        .map(_.longValue).getOrElse(0L)
      def d(name: String): Double = row.getAs[Double](s"$name$i")
      val r: Option[Double] = if (n <= 1) None else {
        val (sx, sy, sxy, sxx, syy) =
          (d("sx_"), d("sy_"), d("sxy_"), d("sxx_"), d("syy_"))
        val vx = n * sxx - sx * sx
        val vy = n * syy - sy * sy
        if (vx <= 0 || vy <= 0) None
        else Some(BigDecimal((n * sxy - sx * sy) / math.sqrt(vx * vy))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
      (a, b, n, r)
    }
    val spark = df.sparkSession
    import spark.implicits._
    out.toDF("col_a", "col_b", "n", "pearson_r")
  }

  /** Theil's uncertainty coefficient — the DIRECTIONAL companion of
    * [[cramersV]]: U(a|b) = (H(a) − H(a|b)) / H(a) is the fraction of
    * column `a`'s entropy explained by knowing `b`, and U(b|a) the
    * reverse. Cramér's V says "associated"; an asymmetric U pair says
    * WHICH WAY the dependency runs (U(lang|source) ≈ 1 with
    * U(source|lang) ≈ 0.3 means source determines language, not vice
    * versa — a functional-dependency strength meter, the soft tier of
    * [[fdViolations]]). U is undefined (null) for a constant column
    * (H = 0). Entropies derive from ONE contingency table via the
    * identity H(a|b) = H(a,b) − H(b); all logs base 2, rounded
    * (cross-engine float-sum policy).
    *
    * Scale: the [[cramersV]] shape — one map-side-combined contingency
    * groupBy per pair, then every entropy folds over the CELL table
    * (≤ card(a)·card(b) rows) and its two margin projections; the corpus
    * is scanned once per pair.
    */
  def theilsU(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    require(pairs.nonEmpty, "theilsU: need at least one column pair")
    pairs.map { case (a, b) =>
      val cells = df.groupBy(
          coalesce(col(a).cast(StringType), lit("<null>")).as("va"),
          coalesce(col(b).cast(StringType), lit("<null>")).as("vb"))
        .agg(count(lit(1)).as("o"))
      // H(x) = log2(n) - sum(c*log2(c))/n over the category counts —
      // the single-aggregation identity entropy() uses; each margin is a
      // cell-table-sized re-aggregation, never a corpus rescan
      def h(counts: DataFrame, cnt: String, out: String): DataFrame =
        counts.agg((log2(sum(col(cnt)))
          - sum(col(cnt).cast("double") * log2(col(cnt))) / sum(col(cnt)))
          .as(out))
      val hab = h(cells, "o", "h_ab")
      val ha = h(cells.groupBy(col("va")).agg(sum(col("o")).as("c")), "c", "h_a")
      val hb = h(cells.groupBy(col("vb")).agg(sum(col("o")).as("c")), "c", "h_b")
      ha.crossJoin(hb).crossJoin(hab)
        .select(lit(a).as("col_a"), lit(b).as("col_b"),
          round(col("h_a"), 6).as("h_a"),
          round(col("h_b"), 6).as("h_b"),
          round(col("h_ab"), 6).as("h_ab"),
          when(col("h_a") > 0,
            round((col("h_a") - (col("h_ab") - col("h_b"))) / col("h_a"), 6))
            .as("u_a_given_b"),
          when(col("h_b") > 0,
            round((col("h_b") - (col("h_ab") - col("h_a"))) / col("h_b"), 6))
            .as("u_b_given_a"))
    }.reduce(_ unionByName _)
  }

  /** Single most-likely level-shift (changepoint) per key over an ordered
    * INTEGER series — the "WHEN did it move" companion of
    * [[mannKendall]]'s "IS it moving": maximize the centered-CUSUM
    * magnitude over split points. Everything up to the argmax is EXACT
    * integer arithmetic: at split t (1-based position of n observations,
    * prefix sum C_t, total T), the centered cusum n·(C_t − (t/n)·T)
    * rescales to G_t = |n·C_t − t·T| — integers only, so the argmax is
    * bit-identical in any engine and ties break to the EARLIEST split.
    * Means/shift are the only floats, computed once per key and rounded.
    *
    * Output per key: n_obs, the split time (last observation of the
    * BEFORE segment), g_max, mean_before, mean_after, shift
    * (after − before). A null time or value excludes the observation
    * entirely (a half-present point would skew prefix positions against
    * sums). A key with n < 2 has no valid split and is absent
    * (the [[graft.operators.Temporal.gapsAudit]] convention for
    * degenerate series). This finds the single strongest shift; recursing
    * into the two halves (binary segmentation) composes from this same
    * primitive.
    *
    * Scale: input is a PRE-AGGREGATED series, so the window (one
    * Exchange+Sort per key, rank + running sum share it) and the argmax
    * groupBy (struct-max, map-side combined, reusing the window's
    * partitioning) are series-sized; long arithmetic holds to
    * n·T ≲ 9·10¹⁸ — a year of daily counts supports totals up to ~2·10¹⁶.
    */
  def changepoint(series: DataFrame, keyCols: Seq[String], tCol: String,
      vCol: String): DataFrame = {
    require(keyCols.nonEmpty, "changepoint: need at least one key column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("_t"))
    val wAll = w.rowsBetween(org.apache.spark.sql.expressions.Window
      .unboundedPreceding, org.apache.spark.sql.expressions.Window
      .unboundedFollowing)
    val s = series
      .select(keyCols.map(col) ++ Seq(col(tCol).as("_t"),
        col(vCol).cast("long").as("_v")): _*)
      .filter(col("_t").isNotNull && col("_v").isNotNull)
      .select(keyCols.map(col) ++ Seq(col("_t"), col("_v"),
        row_number().over(w).cast("long").as("_i"),
        sum(col("_v")).over(w).as("_c"),
        sum(col("_v")).over(wAll).as("_tot"),
        count(lit(1)).over(wAll).as("_n")): _*)
    val g = abs(col("_n") * col("_c") - col("_i") * col("_tot"))
    // struct-max: largest G, then smallest position (earliest split);
    // payload fields ride along and never affect the order (the (g, -i)
    // prefix is unique per row)
    val best = s
      .filter(col("_i") < col("_n")) // the trivial t = n split has G = 0
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct(g.as("g"), (-col("_i")).as("ni"), col("_t").as("t"),
          col("_c").as("c"), col("_tot").as("tot"), col("_n").as("n")))
        .as("m"))
    best.select(keyCols.map(col) ++ {
      val t = col("m.ni") * -1L
      val after = (col("m.tot") - col("m.c")).cast("double") /
        (col("m.n") - t).cast("double")
      val before = col("m.c").cast("double") / t.cast("double")
      Seq(col("m.n").as("n_obs"), col("m.t").as("split_t"),
        col("m.g").as("g_max"),
        round(before, 6).as("mean_before"),
        round(after, 6).as("mean_after"),
        round(after - before, 6).as("shift"))
    }: _*)
  }

  /** Mann–Kendall monotonic-trend test per key over an ordered series of
    * INTEGER observations (daily counts/sums — keep the series integral
    * so the pairwise sign comparisons are exact in any engine; a
    * float-valued series can flip a near-tie's sign on summation-order
    * ULPs). The non-parametric companion of the drift family's
    * completeness/PSI trends: no distribution or linearity assumption,
    * robust to outliers — S = Σ_{i<j} sign(v_j − v_i), with the
    * tie-corrected variance and the ±1-continuity z statistic
    * (Kendall 1975). |z| > 1.96 ⇒ a monotonic trend at 95% — "this feed's
    * daily volume is drifting", caught without choosing bins or
    * thresholds.
    *
    * Output per key: n_obs, s_stat (exact integer), var_s, z (null when
    * the variance degenerates: n < 2 or all observations tied), and a
    * trend class (`increasing` / `decreasing` / `no_trend` /
    * `insufficient`). A NULL key is a real series (null-safe joins); a
    * null TIME or VALUE excludes the observation entirely (a half-present
    * point would corrupt the tie/variance accounting).
    *
    * Scale: the input is a PRE-AGGREGATED series (key × time), so
    * everything here is series-sized: the pair self-join fans each key to
    * its own n·(n−1)/2 time pairs (n = days, bounded by the window you
    * keep), and the n/tie/S tables are key-sized. The corpus-sized work
    * happens upstream in the one groupBy that builds the series.
    */
  def mannKendall(series: DataFrame, keyCols: Seq[String], tCol: String,
      vCol: String): DataFrame = {
    require(keyCols.nonEmpty, "mannKendall: need at least one key column")
    val s = series
      .select(keyCols.map(col) ++ Seq(col(tCol).as("_t"),
        col(vCol).cast("long").as("_v")): _*)
      .filter(col("_t").isNotNull && col("_v").isNotNull)
    val right = s.select(keyCols.map(k => col(k).as(s"_r_$k")) ++
      Seq(col("_t").as("_rt"), col("_v").as("_rv")): _*)
    val keyEq = keyCols.map(k => col(k) <=> col(s"_r_$k")).reduce(_ && _)
    val sStat = s.join(right, keyEq && (col("_t") < col("_rt")))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(signum((col("_rv") - col("_v")).cast("double")).cast("long"))
        .as("s_stat"))
    val base = s.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_obs"))
    val ties = s.groupBy(keyCols.map(col) :+ col("_v"): _*)
      .agg(count(lit(1)).as("_tj"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum(col("_tj") * (col("_tj") - 1L) * (lit(2L) * col("_tj") + 5L))
        .as("_tie"))
    val sStatR = sStat.select(keyCols.map(k => col(k).as(s"_s_$k")) :+
      col("s_stat"): _*)
    val tiesR = ties.select(keyCols.map(k => col(k).as(s"_x_$k")) :+
      col("_tie"): _*)
    val joined = base
      .join(tiesR, keyCols.map(k => col(k) <=> col(s"_x_$k")).reduce(_ && _))
      .join(sStatR, keyCols.map(k => col(k) <=> col(s"_s_$k")).reduce(_ && _),
        "left")
    val n = col("n_obs")
    val varS = (n * (n - 1L) * (lit(2L) * n + 5L) - col("_tie"))
      .cast("double") / 18.0
    val sv = coalesce(col("s_stat"), lit(0L))
    val z = when(varS > 0.0,
      when(sv > 0L, (sv - 1L).cast("double") / sqrt(varS))
        .when(sv < 0L, (sv + 1L).cast("double") / sqrt(varS))
        .otherwise(lit(0.0)))
    joined.select(keyCols.map(col) ++ Seq(
      n, sv.as("s_stat"),
      when(varS > 0.0, round(varS, 6)).as("var_s"),
      round(z, 6).as("z"),
      when(z.isNull, lit("insufficient"))
        .when(z > 1.96, lit("increasing"))
        .when(z < -1.96, lit("decreasing"))
        .otherwise(lit("no_trend")).as("trend")): _*)
  }

  /** Calibration (reliability) bins for a quality/score model against an
    * observed boolean outcome: does "score 0.8" actually mean "passes 80%
    * of the time"?
    *
    * A curation pipeline gates on learned or heuristic scores
    * ([[TextAnalysis.qualityScore]], a classifier's confidence); if the
    * score is miscalibrated, every threshold chosen from it is wrong too.
    * The standard diagnostic is the reliability diagram: bucket rows by
    * score, compare each bucket's MEAN SCORE (what the model claims) to its
    * PASS RATE (what the data shows); the per-bin |gap| is what ECE
    * aggregates.
    *
    * Scale + replay shape: one map-side-combined aggregation (the only
    * shuffle), and all moments stay INTEGRAL — the score enters as
    * `scoreMilli` (score · scale, a long), the bin index is integer
    * arithmetic `min(scoreMilli·bins div scale, bins−1)`, and mean/rate/gap
    * are each ONE division of exact integer sums, so every engine computes
    * the same double and the rounded results replay bit-exactly. In
    * particular gap = |sum_milli − scale·n_pass| / (scale·n): the
    * numerator is an exact long, never a float subtraction.
    *
    * Returns one row per non-empty bin: (bin, n, n_pass, sum_milli,
    * mean_score, pass_rate, gap), bin ascending.
    */
  def calibration(df: DataFrame, scoreMilli: Column, scale: Int,
      pass: Column, bins: Int): DataFrame = {
    require(scale > 0 && bins > 0)
    df.select(scoreMilli.cast("long").as("_sm"),
        when(pass, 1L).otherwise(0L).as("_p"))
      .select(col("_sm"), col("_p"),
        // clamp BOTH ends: an under-range score (negative milli) would
        // otherwise land in a negative bin and emit a garbage row; it now
        // folds into bin 0, symmetric with the top clamp
        greatest(least(expr(s"CAST(((_sm * ${bins.toLong}) DIV ${scale.toLong}) " +
          "AS BIGINT)"), lit(bins.toLong - 1L)), lit(0L)).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("_p")).as("n_pass"),
        sum(col("_sm")).as("sum_milli"))
      .select(col("bin"), col("n"), col("n_pass"), col("sum_milli"),
        round(col("sum_milli") / (col("n") * scale.toLong), 6)
          .as("mean_score"),
        round(col("n_pass") / col("n"), 6).as("pass_rate"),
        round(abs(col("sum_milli") - lit(scale.toLong) * col("n_pass")) /
          (col("n") * scale.toLong), 6).as("gap"))
      .orderBy(col("bin"))
  }

  /** Null-RUN audit: per segment, how the nulls of one column CLUSTER in
    * the segment's record order — n_runs (maximal stretches of
    * consecutive null rows), total nulls, the longest run and where it
    * starts. [[nullPatterns]] says how MUCH is missing;
    * this says whether it arrived as scattered noise or as one dark
    * window (a feed that went down mid-ingest) — the shape that decides
    * impute-vs-quarantine. Classic dual-rank islands: rank among all
    * segment rows minus rank among its null rows is constant within a
    * run.
    *
    * Scale: both windows partition by segment (bounded; never a global
    * sort) — the second ranks only the NULL rows; the island rollup is
    * run-count-sized. Segments with zero nulls are absent (no rows, not
    * zeros).
    */
  def nullRuns(df: DataFrame, segCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(col("_seg")).orderBy(col("_ord"))
    val nulls = df.filter(col(segCol).isNotNull)
      .select(col(segCol).as("_seg"), col(orderCol).as("_ord"),
        col(valueCol).isNull.as("_n"))
      .withColumn("_rn", row_number().over(wAll))
      .filter(col("_n"))
      .withColumn("_rnn", row_number().over(wAll))
      .withColumn("_island", col("_rn") - col("_rnn"))
    nulls.groupBy(col("_seg"), col("_island"))
      .agg(count(lit(1)).as("_len"), min(col("_ord")).as("_start"))
      .groupBy(col("_seg").as("segment"))
      .agg(count(lit(1)).as("n_runs"), sum(col("_len")).as("n_nulls"),
        max(struct(col("_len").as("l"), (-col("_start")).as("ns"))).as("_m"))
      .select(col("segment"), col("n_runs"), col("n_nulls"),
        col("_m.l").as("max_run"), (-col("_m.ns")).as("max_run_start"))
  }
}
