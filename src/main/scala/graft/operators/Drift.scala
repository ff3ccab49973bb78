package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift checks (north rule: "KS/PSI over quantile sketches per
  * partition"). No reference analogue (single-document validator, SURVEY.md
  * §2.7) — this is table-level capability.
  *
  * PSI: fixed equal-width bins over a closed range (clamped floor
  * bucketing, `binOf`), per-side `groupBy(bucket)` counts (map-side
  * combined; bins ≤ a few hundred so the shuffle is negligible),
  * epsilon-smoothed Σ (p−q)·ln(p/q). Deterministic and exactly
  * reproducible at any scale.
  *
  * KS: the two-sample statistic sup |F1(x) − F2(x)| evaluated on a quantile
  * grid obtained from `percentile_approx` (Greenwald-Khanna summaries —
  * mergeable across partitions, single pass per side). Grid evaluation of
  * the opposing CDF is one aggregation with #grid conditional-sum columns —
  * no sort, no collect of data rows. The resumable form is KS over
  * mergeable KLL sketches: Spark's `kll_sketch_agg_double` per side (or
  * per committed part, unioned with `graft.plans.Kll.union`), then
  * `graft.plans.Kll.ks` on the two sketches' bytes, as `graft.Main`'s
  * `--drift-baseline` does.
  *
  * Each statistic is its own formula over shared cores: the two-sample
  * counts (`twoSampleCounts`), the grid CDF (`ksOnGrid`) and the cell
  * fold (`cumulativeCells`).
  */
object Drift {

  private def noRows(op: String, c: String, side: String): String =
    s"$op: no non-null rows in column '$c' on side '$side'"

  private def requireBins(op: String, lo: Double, hi: Double, bins: Int): Unit = {
    require(hi > lo, s"$op: need hi > lo, got [$lo, $hi]")
    require(bins >= 1, s"$op: need bins >= 1, got $bins")
  }

  /** Clamped floor bucketing (not width_bucket) so any engine reproduces
    * the exact bucket ids — floor(((x-lo)/(hi-lo))*bins) clamped to
    * [0, bins-1].
    */
  private def binOf(c: String, lo: Double, hi: Double, bins: Int): Column =
    least(greatest(floor(((col(c).cast("double") - lit(lo)) / lit(hi - lo))
      * lit(bins)), lit(0.0)), lit((bins - 1).toDouble)).cast("int")

  /** The two-sample count core: one row per `key` value with both sides'
    * counts (ca, cb) from the full-outer join of the two map-side-combined
    * histograms over non-null `c`, and the side totals (na, nb) as windows
    * over that key-sized join — no second scan of either input.
    *
    * An empty/all-null side must fail diagnosably: without the guard its
    * ratios go null, greatest(null, eps) = eps, and identical
    * distributions report the eps-saturated MAXIMUM drift instead of
    * raising. The assert_true guard is woven into na and nb themselves, so
    * every ratio built on them carries it and column pruning cannot drop
    * it.
    */
  private def twoSampleCounts(a: DataFrame, b: DataFrame, c: String, key: Column,
      op: String): DataFrame = {
    def hist(df: DataFrame, side: String): DataFrame =
      df.filter(col(c).isNotNull).groupBy(key.as("key"))
        .agg(count(lit(1)).as(s"cnt_$side"))
    val ta = sum(col("ca")).over()
    val tb = sum(col("cb")).over()
    val guard = coalesce(
      assert_true(ta > 0, lit(noRows(op, c, "a"))),
      assert_true(tb > 0, lit(noRows(op, c, "b"))))
    hist(a, "a").join(hist(b, "b"), Seq("key"), "full_outer")
      .select(col("key"),
        coalesce(col("cnt_a"), lit(0L)).as("ca"),
        coalesce(col("cnt_b"), lit(0L)).as("cb"))
      .select(col("key"), col("ca"), col("cb"),
        when(guard.isNull, ta).as("na"), when(guard.isNull, tb).as("nb"))
  }

  /** Population Stability Index between `a` and `b` on numeric column `c`,
    * over `bins` equal-width bins spanning [lo, hi]. Returns a 1-row DF
    * (psi: double).
    */
  def psi(a: DataFrame, b: DataFrame, c: String, lo: Double, hi: Double,
      bins: Int = 10): DataFrame = {
    requireBins("psi", lo, hi, bins)
    val eps = 1e-6
    twoSampleCounts(a, b, c, binOf(c, lo, hi, bins), "psi")
      .select(
        greatest(col("ca") / col("na"), lit(eps)).as("p"),
        greatest(col("cb") / col("nb"), lit(eps)).as("q"))
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"))
  }

  /** Jensen-Shannon divergence between `a` and `b` on numeric column `c`,
    * over the same fixed equal-width bins as [[psi]]. Symmetric, bounded
    * [0, ln 2], and — unlike PSI — DEFINED on empty bins (0·ln 0 = 0), so
    * it needs no epsilon flooring: the right divergence when slices can
    * have disjoint support (a new data source, a dead producer) where
    * PSI's eps floor saturates. Same scale shape as [[psi]]: two
    * map-side-combined histograms; everything after runs on the
    * ≤ bins-row join. Returns a 1-row DF (jsd: double).
    */
  def jsd(a: DataFrame, b: DataFrame, c: String, lo: Double, hi: Double,
      bins: Int = 10): DataFrame = {
    requireBins("jsd", lo, hi, bins)
    twoSampleCounts(a, b, c, binOf(c, lo, hi, bins), "jsd")
      .select(
        (col("ca") / col("na")).as("p"),
        (col("cb") / col("nb")).as("q"))
      .select(
        (when(col("p") > 0,
          col("p") * log(lit(2.0) * col("p") / (col("p") + col("q"))))
          .otherwise(0.0) +
          when(col("q") > 0,
            col("q") * log(lit(2.0) * col("q") / (col("p") + col("q"))))
            .otherwise(0.0)).as("t"))
      .agg((sum(col("t")) / lit(2.0)).as("jsd"))
  }

  /** The expected-count algebra both chi-square forms share: per key, the
    * expected counts (ea, eb) under homogeneity and the key's χ² term.
    * Expected counts are DOUBLE from the first multiply: a long
    * (ca+cb)·na product overflows silently past ~3e9 rows per side.
    */
  private def chiSquareTerms(counts: DataFrame): DataFrame = {
    def expected(n: String): Column =
      (col("ca") + col("cb")).cast("double") * col(n) / (col("na") + col("nb"))
    counts
      .select(col("key"), col("ca"), col("cb"),
        expected("na").as("ea"), expected("nb").as("eb"))
      .withColumn("term",
        (col("ca") - col("ea")) * (col("ca") - col("ea")) / col("ea") +
          (col("cb") - col("eb")) * (col("cb") - col("eb")) / col("eb"))
  }

  /** Pearson chi-square two-sample HOMOGENEITY statistic between `a` and
    * `b` on the same fixed bins as [[psi]]/[[jsd]] — the classical
    * count-based drift test (its null distribution is χ²(bins−1), so a
    * monitoring stack can turn it into a p-value with a plain CDF table;
    * the STATISTIC is emitted, engine-replayable, not the p-value):
    *
    *   χ² = Σ_bins (ca − Ea)²/Ea + (cb − Eb)²/Eb,
    *   Ea = (ca+cb)·na/(na+nb),  Eb = (ca+cb)·nb/(na+nb)
    *
    * Expected counts are never zero (a bin exists only if ca+cb > 0 after
    * the full-outer join). Same shape as [[psi]]: two map-side-combined
    * histograms; everything after on the ≤ bins-row join.
    */
  def chiSquare(a: DataFrame, b: DataFrame, c: String, lo: Double, hi: Double,
      bins: Int = 10): DataFrame = {
    requireBins("chiSquare", lo, hi, bins)
    chiSquareTerms(twoSampleCounts(a, b, c, binOf(c, lo, hi, bins), "chiSquare"))
      .agg(sum(col("term")).as("chi2"))
  }

  /** Per-CATEGORY chi-square drill-down — WHICH value drifted: for every
    * category of a string column, both sides' counts, expected counts
    * under homogeneity, the category's χ² contribution, its share of the
    * total statistic, and its rank. [[chiSquare]] answers "did the
    * distribution move" with one number; a monitoring page needs the next
    * click — "the whole statistic is the `xx` bucket". Same expected-count
    * algebra as the binned form; per-category contributions rounded to 6
    * before ranking, rank ties broken by category name, so the report
    * replays cross-engine.
    *
    * Scale: two map-side-combined category histograms are the only corpus
    * scans; the join, totals windows and rank all run on the
    * category-count-sized summary.
    */
  def chiSquareByCategory(a: DataFrame, b: DataFrame, c: String): DataFrame = {
    val cells = chiSquareTerms(twoSampleCounts(a, b, c, col(c), "chiSquareByCategory"))
      .select(col("key").as("category"), col("ca"), col("cb"),
        round(col("ea"), 4).as("expected_a"),
        round(col("eb"), 4).as("expected_b"),
        round(col("term"), 6).as("contribution"))
    val tot = sum(col("contribution")).over()
    cells.select(col("category"), col("ca"), col("cb"),
      col("expected_a"), col("expected_b"), col("contribution"),
      // identical distributions: total contribution 0 -> null shares
      // (ANSI division would throw), ranks still deterministic
      when(tot > 0, round(col("contribution") / tot, 6)).as("stat_share"),
      row_number().over(Window.orderBy(col("contribution").desc, col("category")))
        .as("drift_rank"))
  }

  /** PSI OVER TIME: one row per event-time day with that day's PSI against
    * the WHOLE corpus distribution — the continuous-monitoring form of
    * [[psi]] ("which day drifted?"), same clamped floor bucketing so any
    * engine replays it. One scan of the data (groupBy (day, bucket) with
    * map-side combine); everything after runs on the days×bins count
    * relation, which is tiny at any corpus size. Days missing a bucket
    * get the eps floor, exactly like [[psi]]'s full-outer join.
    */
  def psiTrend(df: DataFrame, c: String, tsCol: String,
      lo: Double, hi: Double, bins: Int = 10): DataFrame = {
    requireBins("psiTrend", lo, hi, bins)
    val eps = 1e-6
    val counts = df.filter(col(c).isNotNull && col(tsCol).isNotNull)
      .groupBy(date_trunc("day", col(tsCol)).as("d"), binOf(c, lo, hi, bins).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val days = counts.select("d").distinct()
    val gb = counts.groupBy("bucket").agg(sum("cnt").as("g_cnt"))
    val filled = days.crossJoin(gb)
      .join(counts, Seq("d", "bucket"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val w = Window.partitionBy("d")
    filled
      .withColumn("dt", sum("cnt").over(w))
      .withColumn("gt", sum("g_cnt").over(w))
      .select(col("d"),
        greatest(col("cnt") / col("dt"), lit(eps)).as("p"),
        greatest(col("g_cnt") / col("gt"), lit(eps)).as("q"))
      .groupBy("d")
      .agg(sum((col("p") - col("q")) * log(col("p") / col("q"))).as("psi"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"), col("psi"))
  }

  private def statDf(spark: SparkSession, name: String, v: Double): DataFrame = {
    import spark.implicits._
    Seq(v).toDF(name)
  }

  /** The grid CDF shared by [[ks]] and [[ksFixedGrid]]: per side, one
    * aggregation with a conditional count per grid point plus the
    * non-null count; the CDF ratios and the sup gap are taken on the
    * driver (the same long/long double division Spark would do, without
    * an ANSI divide-by-zero on an all-null side).
    */
  private def ksOnGrid(a: DataFrame, b: DataFrame, c: String, grid: Seq[Double],
      op: String): DataFrame = {
    def cdfAt(df: DataFrame, side: String): Seq[Double] = {
      val aggs = grid.map(g =>
        sum(when(col(c).cast("double") <= lit(g), 1L).otherwise(0L))) :+
        count(when(col(c).isNotNull, 1))
      val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      val n = r.getLong(grid.length)
      // a zero-row side has no CDF — fail diagnosably, not with an NPE
      // from Row.getLong
      require(n > 0, noRows(op, c, side))
      grid.indices.map(i => r.getLong(i).toDouble / n)
    }
    val fa = cdfAt(a, "a")
    val fb = cdfAt(b, "b")
    statDf(a.sparkSession, "ks", grid.indices.map(i => math.abs(fa(i) - fb(i))).max)
  }

  /** Two-sample KS statistic on numeric column `c` between `a` and `b`,
    * evaluated on a `gridSize`-point quantile grid of the union. Returns a
    * 1-row DF (ks: double). `accuracy` is percentile_approx's inverse-epsilon.
    */
  def ks(a: DataFrame, b: DataFrame, c: String, gridSize: Int = 101,
      accuracy: Int = 10000): DataFrame = {
    require(gridSize >= 2, s"ks: gridSize must be >= 2, got $gridSize")
    val probs = (0 to gridSize - 1).map(i => i.toDouble / (gridSize - 1))
    val gridRow = a.select(col(c).cast("double").as("v"))
      .unionAll(b.select(col(c).cast("double").as("v")))
      .filter(col("v").isNotNull)
      .agg(percentile_approx(col("v"),
        typedLit(probs), lit(accuracy)).as("qs"))
      .collect()(0)
    require(!gridRow.isNullAt(0),
      s"ks: no non-null rows in column '$c' on either side")
    ksOnGrid(a, b, c, gridRow.getSeq[Double](0), "ks")
  }

  /** Two-sample KS on a FIXED equal-width grid spanning [lo, hi]: exactly
    * reproducible by any engine (the quantile-grid variant above depends on
    * percentile_approx internals, so it can only be rows-checked). One
    * aggregation pass per side — `gridSize` conditional sums, no sort, no
    * data collect. The grid underestimates the true sup-statistic by at most
    * the CDF mass inside one cell; for drift ALERTING a fixed grid is the
    * standard trade (same as PSI's fixed bins).
    */
  def ksFixedGrid(a: DataFrame, b: DataFrame, c: String, lo: Double, hi: Double,
      gridSize: Int = 101): DataFrame = {
    require(gridSize >= 2, s"ksFixedGrid: gridSize must be >= 2, got $gridSize")
    ksOnGrid(a, b, c,
      (0 until gridSize).map(i => lo + i * (hi - lo) / (gridSize - 1)), "ksFixedGrid")
  }

  /** The SCALE form of the fixed-grid KS when both samples are SLICES OF
    * THE SAME SOURCE (predA/predB over one table — the common drift shape
    * "this week vs last week of the same fact table"): instead of
    * `gridSize` conditional sums evaluated per row (O(grid) per row —
    * [[ksFixedGrid]]'s per-row cost), each row is assigned its grid CELL
    * in O(1) (`ceil((x-lo)/step)` clamped; null for x > hi — beyond every
    * grid point, so it counts only in the denominator), the cells are
    * counted with one map-side-combined groupBy (≤ gridSize+1 groups), and
    * the two CDFs are cumulative sums over that tiny result on the driver.
    * One scan, one narrow shuffle of ≤ (gridSize+1) rows per partition.
    *
    * Statistic: identical to
    * `ksFixedGrid(df.filter(predA), df.filter(predB), ...)` whenever
    * `ceil((x-lo)/step)` agrees with the `x <= g_i` comparisons — i.e.
    * always, except for x within one double ulp of a grid point where the
    * division rounds across the integer (impossible for fixed-decimal
    * data on an integral step, and any oracle engine replaying the same
    * formula agrees bit-for-bit regardless).
    */
  def ksFixedGridBinned(df: DataFrame, c: String, predA: Column, predB: Column,
      lo: Double, hi: Double, gridSize: Int = 101): DataFrame =
    ksFromCellCounts(df.sparkSession,
      binnedCellCounts(df, c, predA, predB, lo, hi, gridSize).collect(),
      gridSize)

  /** The one-shuffle half of [[ksFixedGridBinned]]: per-cell (cell, ca, cb)
    * counts — O(1) cell assignment per row, one narrow groupBy. A SINGLE
    * aggregation with no windows or sorts, so it runs unchanged as a
    * STREAMING query (complete mode): point a file/Kafka stream at it, sink
    * the ≤ gridSize+1 rows, and [[ksFromCellCounts]] turns any emission
    * into the current drift statistic — continuous drift monitoring from
    * the same code path the batch check uses.
    */
  def binnedCellCounts(df: DataFrame, c: String, predA: Column, predB: Column,
      lo: Double, hi: Double, gridSize: Int = 101): DataFrame = {
    require(gridSize >= 2, s"binnedCellCounts: gridSize must be >= 2, got $gridSize")
    require(hi > lo, s"binnedCellCounts: need hi > lo, got [$lo, $hi]")
    val x = col(c).cast("double")
    val step = (hi - lo) / (gridSize - 1)
    val cell = when(x > lit(hi), lit(null))
      .otherwise(least(greatest(ceil((x - lit(lo)) / lit(step)).cast("int"),
        lit(0)), lit(gridSize - 1)))
    df.filter((predA || predB) && x.isNotNull)
      .groupBy(cell.as("cell"))
      .agg(sum(when(predA, 1L).otherwise(0L)).as("ca"),
        sum(when(predB, 1L).otherwise(0L)).as("cb"))
  }

  private def cellsOf(rows: Array[Row]): Seq[(Option[Int], Long, Long)] =
    rows.toSeq.map(r =>
      (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getLong(1), r.getLong(2)))

  /** The cell fold shared by the binned KS and EMD: (cell, ca, cb) counts
    * become each side's cumulative count at every grid point, plus the
    * side totals (na, nb). cell = None is the x > hi mass, which counts in
    * the totals only.
    */
  private def cumulativeCells(cells: Iterable[(Option[Int], Long, Long)],
      gridSize: Int, op: String): (Array[Long], Array[Long], Long, Long) = {
    val na = cells.iterator.map(_._2).sum
    val nb = cells.iterator.map(_._3).sum
    require(na > 0, s"$op: no rows on side 'a'")
    require(nb > 0, s"$op: no rows on side 'b'")
    val binA = new Array[Long](gridSize)
    val binB = new Array[Long](gridSize)
    cells.foreach { case (cell, ca, cb) =>
      cell.foreach { i => binA(i) += ca; binB(i) += cb }
    }
    (binA.scanLeft(0L)(_ + _).tail, binB.scanLeft(0L)(_ + _).tail, na, nb)
  }

  /** Fold collected (cell, ca, cb) rows into the grid-KS statistic. */
  def ksFromCellCounts(spark: SparkSession, rows: Array[Row],
      gridSize: Int): DataFrame =
    statDf(spark, "ks", ksValueFromCells(cellsOf(rows), gridSize))

  /** Value-level twin of [[ksFromCellCounts]] for callers that hold the
    * grid state themselves (the incremental streaming monitor merges
    * per-micro-batch cell deltas into exactly this shape): cells are
    * (cell, ca, cb) with cell = None for the x > hi mass, which counts in
    * the denominators only — same convention as the DataFrame fold.
    */
  def ksValueFromCells(cells: Iterable[(Option[Int], Long, Long)],
      gridSize: Int): Double = {
    val (cumA, cumB, na, nb) = cumulativeCells(cells, gridSize, "ksFromCellCounts")
    (0 until gridSize).map(i =>
      math.abs(cumA(i).toDouble / na - cumB(i).toDouble / nb)).max
  }

  /** Binned 1-D Wasserstein-1 (earth-mover) distance between two slices
    * of one table, on the same fixed grid and cell counts as
    * [[ksFixedGridBinned]] — completing the industry drift trio: KS is the
    * sup-norm of the CDF gap, PSI a likelihood ratio over bins, EMD the L1
    * norm of the CDF gap — the one statistic that scales with HOW FAR the
    * mass moved, not just whether it moved (a 1-bin shift and a 50-bin
    * shift have similar KS but 50× different EMD).
    *
    *   W1 = ∫ |F_A − F_B| dx  ≈  step · Σ_{i < gridSize−1} |F_A(g_i) − F_B(g_i)|
    *
    * Same scale shape as the binned KS: O(1) cell assignment per row, one
    * map-side-combined groupBy of ≤ gridSize+1 cells, fold on the driver.
    * The fold accumulates |cumA·nb − cumB·na| in INTEGER cross-products
    * (BigInt — exact at any corpus size) and divides by na·nb·(once) at
    * the end, so any engine replaying the formula agrees bit-for-bit;
    * empty grid cells still contribute their interval's |CDF gap| (the
    * CDFs are step functions, constant across missing cells). Rows with
    * x > hi count in the denominators only (same convention as the KS).
    */
  def emdFixedGridBinned(df: DataFrame, c: String, predA: Column, predB: Column,
      lo: Double, hi: Double, gridSize: Int = 101): DataFrame =
    emdFromCellCounts(df.sparkSession,
      binnedCellCounts(df, c, predA, predB, lo, hi, gridSize).collect(),
      lo, hi, gridSize)

  /** Fold collected (cell, ca, cb) rows into the binned W1 statistic. */
  def emdFromCellCounts(spark: SparkSession, rows: Array[Row],
      lo: Double, hi: Double, gridSize: Int): DataFrame = {
    val (cumA, cumB, na, nb) = cumulativeCells(cellsOf(rows), gridSize, "emdFromCellCounts")
    val step = (hi - lo) / (gridSize - 1)
    // the last grid point carries no interval to its right — exclude it
    val s = (0 until gridSize - 1)
      .map(i => (BigInt(cumA(i)) * nb - BigInt(cumB(i)) * na).abs).sum
    statDf(spark, "emd", s.toDouble * step / (na.toDouble * nb.toDouble))
  }

  /** Top-k rank drift between two row sets over a categorical key — the
    * RANKED-LIST companion of the distribution drifts above: PSI/KS say
    * "the histogram moved", this says WHICH heavy hitters entered, left,
    * or swapped places between snapshot `a` and snapshot `b` (vocabulary
    * churn between crawls, hot-key rotation between days). One row per
    * key in either side's top-k: both ranks and counts, the rank shift,
    * and a status (`both` / `only_a` / `only_b`). Ranks tie-break on the
    * key, so the lists — and therefore the output set — are deterministic
    * cross-engine.
    *
    * Scale: each side is a map-side-combined count + TakeOrdered head;
    * the window that assigns ranks and the full-outer join run on k-row
    * tables. Nothing corpus-sized crosses the join.
    */
  def rankDrift(a: DataFrame, b: DataFrame, keyCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"rankDrift: need k >= 1, got $k")
    def top(df: DataFrame, side: String): DataFrame = {
      val cnt = s"cnt_$side"
      val byCount = df.filter(col(keyCol).isNotNull)
        .groupBy(col(keyCol).as("key"))
        .agg(count(lit(1)).as(cnt))
        .orderBy(col(cnt).desc, col("key")).limit(k)
      byCount.withColumn(s"rank_$side", row_number().over(
        Window.orderBy(col(cnt).desc, col("key"))))
    }
    top(a, "a").join(top(b, "b"), Seq("key"), "full_outer")
      .select(col("key"), col("rank_a"), col("rank_b"),
        col("cnt_a"), col("cnt_b"),
        (col("rank_b") - col("rank_a")).as("rank_shift"),
        when(col("rank_a").isNotNull && col("rank_b").isNotNull, "both")
          .when(col("rank_a").isNotNull, "only_a")
          .otherwise("only_b").as("status"))
  }

  /** Categorical DOMAIN drift between two snapshots of a column — the
    * audit that tells an `enum` rule it has gone stale (the reference
    * pins enums as closed value lists, `/root/reference/src/schemas/
    * logic.rs` enum handling; a value `added` in production data means
    * that list no longer describes reality, a value `removed` means the
    * rule carries dead weight). PSI/KS say the distribution MOVED;
    * [[rankDrift]] says which heavy hitters swapped places; this says the
    * VALUE SET itself changed — the precondition for the other two even
    * being comparable.
    *
    * Output per domain value: counts and corpus shares on both sides,
    * the share delta, and a status (`added` / `removed` / `kept`). A NULL
    * value is a real domain member (null-safe join key), distinct from
    * absence.
    *
    * Scale: each side is one map-side-combined count to a domain-sized
    * table; the full-outer join and the total-share windows run on that
    * domain-sized result. Nothing corpus-sized crosses the join. An
    * unbounded-cardinality column does not belong here (the output IS the
    * domain) — that is [[rankDrift]]'s tier.
    */
  def domainDrift(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    val ca = a.groupBy(col(keyCol).as("value"))
      .agg(count(lit(1)).as("n_v1"))
    val cb = b.groupBy(col(keyCol).as("_value2"))
      .agg(count(lit(1)).as("n_v2"))
    val joined = ca.join(cb, col("value") <=> col("_value2"), "full_outer")
    val w = Window.partitionBy(lit(1))
    // totals window over the domain-sized join result — no second scan of
    // either input; guards keep an empty side share-null, never a
    // divide-by-zero (ANSI mode throws)
    val t1 = sum(coalesce(col("n_v1"), lit(0L))).over(w)
    val t2 = sum(coalesce(col("n_v2"), lit(0L))).over(w)
    joined
      .select(
        coalesce(col("value"), col("_value2")).as("value"),
        when(col("n_v1").isNull, lit("added"))
          .when(col("n_v2").isNull, lit("removed"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        when(t1 > 0L, round(coalesce(col("n_v1"), lit(0L)) / t1, 6))
          .as("share_v1"),
        when(t2 > 0L, round(coalesce(col("n_v2"), lit(0L)) / t2, 6))
          .as("share_v2"),
        when(t1 > 0L && t2 > 0L,
          round(coalesce(col("n_v2"), lit(0L)) / t2
            - coalesce(col("n_v1"), lit(0L)) / t1, 6)).as("share_delta"))
  }
}
