package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.rules.{Rule, RuleCompiler}
import graft.model.{Verdict, Violation}

/** Applies a compiled rule tree to a document table, set-at-a-time.
  *
  * The distributed analogue of the reference's `Engine::evaluate_with_schemas`
  * (`/root/reference/src/engine.rs:37-59`): instead of walking one parsed YAML
  * document against the rule tree, the whole table is evaluated in one pass —
  * the rule tree compiles to a single `violations` array expression per row
  * (no mutable `Context`; see `RuleCompiler`), then:
  *
  *   - per-row verdict: `size(violations) == 0`
  *   - violation rows: `explode(violations)` → `Dataset[Violation]`
  *   - per-partition verdicts: one `groupBy(part)` agg — the analogue of the
  *     CLI exit code (`/root/reference/src/bin/ys.rs:215-243`) per partition.
  *
  * Everything is pure Column expressions (no UDFs on the hot path except
  * rare procedural `format`s), so at 100 TB the per-row phase is a single
  * scan with no shuffle; the only shuffle in the whole per-row pipeline is
  * the final per-partition verdict aggregation, which is a
  * map-side-combined `groupBy` on the partition column. All of it is
  * generated code: the array and map keywords (`items`, `contains`,
  * `uniqueItems`, `unevaluatedItems`, map keys) and the span invariant's
  * violations lower to [[graft.plans.ArrayLoop]]s, not to Spark's
  * higher-order functions, which are interpreted `CodegenFallback`s.
  *
  * Every rule-set report asks "does this row fail this rule" through ONE
  * predicate, [[passes]], and counts per-rule flags through ONE
  * aggregation, [[flagCounts]].
  */
object Validate {

  /** The engine's ONE pass predicate: does `row` (a struct column of type
    * `rowType`) pass `rule`? A null COMPILED predicate is a fail — exactly
    * [[withViolations]]'s guard — while rule semantics are untouched (e.g.
    * `properties` subrules apply only when the property is present, so a
    * null column value passes an enum/bound subrule; catching nulls takes
    * `required`).
    */
  def passes(rule: Rule, row: Column, rowType: StructType,
      defs: Map[String, Rule] = Map.empty): Column =
    coalesce(RuleCompiler.compile(rule, row, rowType, defs).pred, lit(false))

  /** ONE aggregation over `df`, grouped by `keys` (none: a single row):
    * `docs` and, for each labelled flag, `n = count_if(flag)` — 0 on an
    * empty input, never null — unpivoted to one row per flag: the keys,
    * the flag's label columns (aliased literals), `n`, `docs`.
    */
  private[operators] def flagCounts(df: DataFrame, keys: Seq[Column],
      flags: Seq[(Seq[Column], Column)]): DataFrame = {
    val aggs = count(lit(1)).as("docs") +:
      flags.zipWithIndex.map { case ((_, f), i) => count_if(f).as(s"_n$i") }
    val counted = df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    val keyCols = counted.columns.take(keys.size).map(col).toSeq
    counted.select(keyCols :+ explode(array(flags.zipWithIndex.map {
        case ((labels, _), i) =>
          struct(labels :+ col(s"_n$i").as("n") :+ col("docs"): _*)
      }: _*)).as("m"): _*)
      .select(keyCols :+ col("m.*"): _*)
  }

  /** docs + `violations: array<struct<path,rule,message>>` + `pass: boolean`.
    *
    * Violation construction is guarded behind the boolean predicate: rows
    * that pass evaluate only the cheap `pred` (codegen's CASE WHEN skips the
    * untaken branch), so a pass-heavy corpus never allocates the message
    * strings/arrays — at bench scale this halved GC pressure and was the
    * difference between 0.47 and ~0.8 thread-scaling efficiency.
    */
  def withViolations(df: DataFrame, rule: Rule,
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    val c = RuleCompiler.compile(rule, struct(df.columns.map(col): _*), df.schema, defs)
    val emptyViols = array().cast(RuleCompiler.violArray)
    df.withColumn("violations",
      when(coalesce(c.pred, lit(false)), emptyViols).otherwise(c.violations))
      .withColumn("pass", size(col("violations")) === lit(0))
  }

  /** The engine's ONE definition of the flat violation-row projection
    * (doc_id, path, rule, message) — batch and streaming both lower
    * through this, so the row shape cannot drift between them.
    */
  def flatViolations(withV: DataFrame): DataFrame =
    withV.select(col("doc_id"), explode(col("violations")).as("v"))
      .select(col("doc_id"), col("v.path").as("path"), col("v.rule").as("rule"),
        col("v.message").as("message"))

  /** The engine's ONE definition of the per-group verdict aggregates
    * (docs, failed_docs, violations) — batch verdicts, streaming windowed
    * verdicts and the benchmark queries all share it.
    */
  def verdictAggs(violations: Column): Seq[Column] = Seq(
    count(lit(1)).as("docs"),
    sum(when(size(violations) > 0, 1L).otherwise(0L)).as("failed_docs"),
    sum(size(violations).cast("long")).as("violations"))

  /** Flat violation rows, deterministically sortable by (doc_id, path, rule)
    * — Spark has no row order, the reference emits in document order
    * (SURVEY.md §2.8), so goldens compare sorted.
    */
  def violations(df: DataFrame, rule: Rule,
      defs: Map[String, Rule] = Map.empty)(implicit spark: SparkSession): Dataset[Violation] = {
    import spark.implicits._
    flatViolations(withViolations(df, rule, defs)).as[Violation]
  }

  /** Per-(path, rule) violation scorecard — the corpus-level data-quality
    * report a validation run feeds to its owners: how many violations each
    * rule produced, how many documents are affected, the affected-document
    * rate, and a Wilson-score lower confidence bound on that rate (the
    * standard small-count-honest interval: a rule that hit 3 docs of 100
    * reads 3% +- a wide margin, not a false-precision 3.000%).
    *
    * One validation pass: flatViolations → groupBy (path, rule) with a
    * map-side-combined count + two-phase distinct on doc_id (group count
    * is tiny — bounded by the rule set, not the corpus). The total-docs
    * divisor comes from `df.count()`, which Spark answers from parquet
    * row-group METADATA (no second data scan). Wilson at `z` (default
    * 1.96 ≈ 95%):
    *   low = (p + z²/2n − z·sqrt(p(1−p)/n + z²/4n²)) / (1 + z²/n).
    *
    * Reference analogue: the per-run violation summary a caller assembles
    * from yaml-schema's error list (`/root/reference/src/ys.rs:50-68`
    * renders them one by one); set-at-a-time reporting like [[verdicts]].
    */
  def scorecard(df: DataFrame, rule: Rule,
      defs: Map[String, Rule] = Map.empty, z: Double = 1.96): DataFrame =
    scorecardOf(withViolations(df, rule, defs), z)

  /** Scorecard over an already-constructed `violations`-column DataFrame —
    * the form the CLI uses so the report covers the SAME composite the
    * validation ran (user rule + span invariant), not a re-derivation.
    *
    * Counting needs no doc_id: each document contributes its DISTINCT
    * (path, rule) pairs with their per-document multiplicity (one
    * array_distinct + filter-size per pair — O(k²) in the per-doc
    * violation count k, which is small), so `affected_docs` counts
    * documents exactly even when the violation IS a missing/null id.
    * One explode + one map-side-combined groupBy; the total-docs divisor
    * is a count on the pruned scan (Catalyst drops the violation
    * projection for it).
    */
  def scorecardOf(withV: DataFrame, z: Double = 1.96): DataFrame = {
    val n = withV.count().toDouble
    require(n > 0, "scorecard: empty corpus has no rates")
    val nl = lit(n)
    val v = col("violations")
    val uniq = array_distinct(transform(v, x =>
      struct(x.getField("path").as("path"), x.getField("rule").as("rule"))))
    val perDoc = transform(uniq, p => struct(
      p.getField("path").as("path"), p.getField("rule").as("rule"),
      size(filter(v, x => x.getField("path") === p.getField("path") &&
        x.getField("rule") === p.getField("rule"))).cast("long").as("m")))
    val g = withV.select(explode(perDoc).as("pr"))
      .groupBy(col("pr.path").as("path"), col("pr.rule").as("rule"))
      .agg(sum(col("pr.m")).as("violations"),
        count(lit(1)).as("affected_docs"))
    val p = col("affected_docs") / nl
    val z2 = lit(z * z)
    g.select(col("path"), col("rule"), col("violations"), col("affected_docs"),
      round(p, 6).as("doc_rate"),
      round((p + z2 / (lit(2.0) * nl) -
          lit(z) * sqrt(p * (lit(1.0) - p) / nl + z2 / (lit(4.0) * nl * nl))) /
        (lit(1.0) + z2 / nl), 6).as("wilson_low"))
      .orderBy("path", "rule")
  }

  /** Per-partition verdict rows (requires a `part` column). One shuffle,
    * map-side combined; 32 → thousands of partitions scales linearly.
    */
  def verdicts(df: DataFrame, rule: Rule,
      defs: Map[String, Rule] = Map.empty)(implicit spark: SparkSession): Dataset[Verdict] = {
    import spark.implicits._
    withViolations(df, rule, defs)
      .groupBy(col("part"))
      .agg(verdictAggs(col("violations")).head,
        verdictAggs(col("violations")).tail: _*)
      .withColumn("pass", col("failed_docs") === lit(0L))
      .select(col("part"), col("docs"), col("failed_docs"), col("violations"), col("pass"))
      .as[Verdict]
  }

  /** Rule co-occurrence: for every rule PAIR, how many documents fail
    * both, with the Jaccard overlap of the two failure sets — "are these
    * two rules catching the same broken cohort or independent problems?"
    * (a pair with Jaccard ≈ 1 is a redundant rule; ≈ 0 under high
    * individual rates means disjoint failure modes). ONE aggregation scan
    * computes all |rules|² / 2 pair counters at once — at 10^12 docs the
    * pass costs the same as a single rule's metrics.
    */
  def ruleCooccurrence(df: DataFrame, rules: Seq[(String, Rule)],
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(rules.size >= 2, "ruleCooccurrence: need at least two rules")
    val row = struct(df.columns.map(col): _*)
    val fails = rules.map { case (_, r) => !passes(r, row, df.schema, defs) }
    val idx = rules.indices
    val singles = idx.map(i => count_if(fails(i)).as(s"_f$i"))
    val pairsIdx = for { i <- idx; j <- idx if i < j } yield (i, j)
    val pairSums = pairsIdx.map { case (i, j) =>
      count_if(fails(i) && fails(j)).as(s"_b${i}_$j") }
    val one = df.agg(singles.head, (singles.tail ++ pairSums): _*)
    one.select(explode(array(pairsIdx.map { case (i, j) =>
        struct(lit(rules(i)._1).as("rule_a"), lit(rules(j)._1).as("rule_b"),
          col(s"_f$i").as("a_failed"), col(s"_f$j").as("b_failed"),
          col(s"_b${i}_$j").as("both_failed")) }: _*)).as("m"))
      .select(col("m.rule_a"), col("m.rule_b"), col("m.a_failed"),
        col("m.b_failed"), col("m.both_failed"),
        when(col("m.a_failed") + col("m.b_failed") - col("m.both_failed") > 0,
          round(col("m.both_failed") /
            (col("m.a_failed") + col("m.b_failed") - col("m.both_failed")),
            6)).as("jaccard"))
  }

  /** Evidence sampling over a flat violation table
    * ([[flatViolations]] shape): the first `k` violating documents per
    * (path, rule), ordered by `doc_id` — the "show me three examples of
    * each failure" triage view. Emitting EVERY violation of a 10^12-doc
    * corpus into a report is corpus-sized output; k examples per rule is
    * rule-set-sized.
    *
    * The `row_number <= k` filter lowers to Spark's `WindowGroupLimit`:
    * each map task pre-truncates its groups to k rows BEFORE the shuffle,
    * so the exchange carries ≤ k·groups·tasks rows, not every violation.
    */
  def evidence(viols: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"evidence: k must be positive: $k")
    import org.apache.spark.sql.expressions.Window
    viols
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("path"), col("rule")).orderBy(col("doc_id"))))
      .filter(col("rn") <= k)
  }

  /** Rule-coverage report: one row per named rule with its failure count,
    * failure rate, and a `status` triage class —
    *
    *   - `"silent"`  (0 fails): the rule never fired — either the corpus is
    *     clean on it or the rule is dead/mis-targeted; a rule-set review
    *     starts here,
    *   - `"always"`  (every doc fails): almost certainly a mis-specified
    *     rule (wrong column, impossible bound) rather than a 100%-bad corpus,
    *   - `"firing"`  (anything between): the healthy case.
    *
    * Same guarded-predicate lowering as [[withViolations]] (null compiled
    * predicate = fail), ONE aggregation scan for the whole rule set —
    * at 10^12 docs this is the same single pass regardless of how many
    * rules the set carries.
    */
  def ruleCoverage(df: DataFrame, rules: Seq[(String, Rule)],
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(rules.nonEmpty, "ruleCoverage: no rules")
    val row = struct(df.columns.map(col): _*)
    flagCounts(df, Nil, rules.map { case (name, r) =>
        (Seq(lit(name).as("rule")), !passes(r, row, df.schema, defs)) })
      .select(col("rule"), col("n").as("failed_docs"), col("docs"),
        // empty-corpus guard (ANSI division throws on 0)
        when(col("docs") > 0L, round(col("n") / col("docs"), 6))
          .as("fail_rate"),
        when(col("n") === 0L, "silent")
          .when(col("n") === col("docs"), "always")
          .otherwise("firing").as("status"))
  }

  /** Top offending VALUES per rule — the third leg of violation triage:
    * [[ruleCoverage]] says how often a rule fires, [[evidence]] shows
    * which documents, this shows which VALUES — "the enum rule fires
    * 40k times and 39k of them are the literal string 'unknown'" is an
    * upstream-default bug with a one-line fix, not 40k bad documents.
    *
    * Each entry is (rule name, compiled rule, offending-value column);
    * a NULL offending value renders as the `<null>` sentinel (matching
    * the association-audit convention) so cross-engine ordering never
    * depends on NULL placement.
    *
    * Scale: ONE corpus scan — every rule's offender projects into one
    * array, `array_compact` drops the passing slots, one explode + one
    * map-side-combined (rule, value) count; the `row_number <= k` filter
    * lowers to `WindowGroupLimit` (map-side truncation before the rank
    * shuffle, as in [[evidence]]).
    */
  def topOffenders(df: DataFrame, rules: Seq[(String, Rule, String)],
      k: Int, defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(rules.nonEmpty, "topOffenders: no rules")
    require(k >= 1, s"topOffenders: need k >= 1, got $k")
    val row = struct(df.columns.map(col): _*)
    val entries = rules.map { case (name, r, valueCol) =>
      when(!passes(r, row, df.schema, defs), struct(lit(name).as("rule"),
        coalesce(col(valueCol).cast("string"), lit("<null>"))
          .as("value")))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("rule"))
      .orderBy(col("occurrences").desc, col("value"))
    df.select(explode(array_compact(array(entries: _*))).as("f"))
      .groupBy(col("f.rule").as("rule"), col("f.value").as("value"))
      .agg(count(lit(1)).as("occurrences"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Fail-fast short-circuit profile: with rules evaluated in DECLARED
    * order (the reference's `--fail-fast` stops at a document's first
    * error — ys.rs CLI contract; rule order is schema order), how many
    * documents does each rule catch FIRST, and how much of the corpus has
    * short-circuited by rank i? [[ruleCoverage]] counts every rule's
    * total failures independently; this is the ORDERED view that prices a
    * fail-fast run: a rule whose failures are all caught earlier
    * contributes nothing and can move later (or its check can be skipped
    * entirely on the fail-fast path), while the first ranks carry the
    * short-circuit savings.
    *
    * Output per rule: rank (1-based declared position), docs first
    * caught, cumulative docs caught, corpus size, cumulative caught
    * share. `docs − cum_caught` of the last rank = documents that pass
    * every rule.
    *
    * Scale: exactly the [[ruleCoverage]] shape — ONE aggregation scan
    * regardless of rule count (the first-fail index is a nested
    * conditional evaluated per row; per-rank counters are [[flagCounts]],
    * map-side combined to a single row), then a window over the
    * rule-count-sized result.
    */
  def failFastProfile(df: DataFrame, rules: Seq[(String, Rule)],
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(rules.nonEmpty, "failFastProfile: no rules")
    val row = struct(df.columns.map(col): _*)
    // first failing rule's index, -1 when every rule passes
    val firstIdx = rules.zipWithIndex.foldRight(lit(-1)) {
      case (((_, r), i), acc) =>
        when(!passes(r, row, df.schema, defs), lit(i)).otherwise(acc)
    }
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("rank"))
    flagCounts(df, Nil, rules.zipWithIndex.map { case ((name, _), i) =>
        (Seq(lit(name).as("rule"), lit(i + 1).as("rank")), firstIdx === i) })
      .select(col("rule"), col("rank"), col("n").as("first_caught"),
        sum(col("n")).over(wCum).as("cum_caught"), col("docs"))
      .select(col("rule"), col("rank"), col("first_caught"),
        col("cum_caught"), col("docs"),
        // empty-corpus guard (ANSI division throws on 0)
        when(col("docs") > 0L,
          round(col("cum_caught").cast("double") / col("docs"), 6))
          .as("cum_share"))
  }

  /** Verdict rollup cube: per-(dims…, rule) failure counts WITH every
    * subtotal level — (lang, source, rule), (lang, ALL, rule), (ALL, ALL,
    * rule) — the drill-down table a validation dashboard reads without
    * re-querying per level. Dimension subtotals render as the literal
    * `"ALL"` (via `grouping()`, so a REAL null dimension value stays a
    * distinct slice — the [[Stats.sliceLift]] lesson).
    *
    * Scale: Spark lowers `rollup` to one Expand (|dims|+1 replicas of each
    * row's dim tuple) feeding ONE map-side-combined aggregation — a single
    * corpus scan no matter how many subtotal levels come back; the rule
    * predicates compile once and evaluate once per row (the Expand sits
    * ABOVE the projected booleans, not above the documents).
    */
  def verdictRollup(df: DataFrame, rules: Seq[(String, Rule)],
      dims: Seq[String], defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(rules.nonEmpty && dims.nonEmpty, "verdictRollup: rules and dims")
    val row = struct(df.columns.map(col): _*)
    val preds = rules.zipWithIndex.map { case ((_, r), i) =>
      passes(r, row, df.schema, defs).as(s"_p$i")
    }
    val evald = df.select(dims.map(col) ++ preds: _*)
    val aggs = Seq(count(lit(1)).as("_docs")) ++
      rules.indices.map(i =>
        sum(when(!col(s"_p$i"), 1L).otherwise(0L)).as(s"_f$i")) ++
      dims.map(d => grouping(col(d)).as(s"_g_$d"))
    evald.rollup(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(dims.map(d => when(col(s"_g_$d") === 1, lit("ALL"))
        .otherwise(col(d).cast("string")).as(d)) :+
        explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("rule"), col(s"_f$i").as("failed_docs"),
            col("_docs").as("docs"))
        }: _*)).as("m"): _*)
      .select(dims.map(col) ++ Seq(col("m.rule"), col("m.failed_docs"),
        col("m.docs"),
        round(col("m.failed_docs") / col("m.docs"), 6).as("fail_rate")): _*)
  }

  /** Rule catch-rate STABILITY across deterministic hash buckets:
    * systemic-vs-localized triage. A rule whose violation rate is flat
    * across `nBuckets` random (md5-threshold) slices of the corpus is
    * catching a SYSTEMIC property; one whose rate swings between buckets
    * is catching something data-localized that the random partition
    * happened to split — the complement of [[graft.operators.Stats]]'
    * slice-lift (that names the guilty cohort; this says whether one
    * exists without naming dimensions). Buckets reuse the
    * [[Sampling.thresholdHex]] md5-prefix machinery, so an independent
    * engine reproduces the assignment byte-for-byte; per-bucket rates
    * are rounded before min/max (no cross-engine summation anywhere).
    *
    * Output per rule: docs, caught, overall_rate, min/max bucket rate
    * and their spread.
    *
    * Scale: ONE aggregation scan grouped by the bucket expression
    * (map-side combined to nBuckets rows), exploded to (rule, bucket)
    * and rolled up — rules×buckets-sized, never a second corpus pass.
    */
  def ruleStability(df: DataFrame, rules: Seq[(String, Rule)],
      idCol: String, nBuckets: Int = 4,
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(rules.nonEmpty, "ruleStability: no rules")
    require(nBuckets >= 2 && nBuckets <= 64,
      s"ruleStability: need 2..64 buckets, got $nBuckets")
    val prefix = substring(md5(col(idCol).cast("string")), 1, 8)
    val bucket = (1 until nBuckets).foldLeft(when(lit(false), 0)) {
      case (acc, i) => acc.when(
        prefix < Sampling.thresholdHex(i.toDouble / nBuckets), i - 1)
    }.otherwise(nBuckets - 1)
    val row = struct(df.columns.map(col): _*)
    flagCounts(df, Seq(bucket.as("_b")), rules.map { case (name, r) =>
        (Seq(lit(name).as("rule")), !passes(r, row, df.schema, defs)) })
      .select(col("rule"), col("docs"), col("n").as("caught"),
        // empty buckets never appear (groupBy emits only seen buckets)
        round(col("n").cast("double") / col("docs"), 6).as("_rate"))
      .groupBy(col("rule"))
      .agg(sum(col("docs")).as("docs"), sum(col("caught")).as("caught"),
        min(col("_rate")).as("min_bucket_rate"),
        max(col("_rate")).as("max_bucket_rate"))
      .select(col("rule"), col("docs"), col("caught"),
        when(col("docs") > 0,
          round(col("caught").cast("double") / col("docs"), 6))
          .as("overall_rate"),
        col("min_bucket_rate"), col("max_bucket_rate"),
        round(col("max_bucket_rate") - col("min_bucket_rate"), 6)
          .as("spread"))
  }

  /** Composite per-group DATA-QUALITY score — the executive rollup of
    * three independent rates: completeness (all key fields present),
    * validity (every rule passes, via the same compiled predicates the
    * validator runs), uniqueness (distinct normalized content /
    * rows, [[Dedup.contentHash]]'s normalization), weighted into one
    * 0..1 `dq_score` per group. Not a replacement for the per-rule
    * reports — the single number a feed OWNER is paged on, with the
    * three components right next to it for the drill-down.
    *
    * Scale: ONE corpus scan — completeness/validity are conditional sums
    * and uniqueness is a count-distinct on the content hash, all in the
    * same map-side-combined groupBy (Spark plans the mixed
    * distinct/non-distinct agg as a single-scan Expand); output is
    * group-count-sized.
    */
  def dqScore(df: DataFrame, rules: Seq[(String, Rule)],
      keyCols: Seq[String], contentCol: String, groupCols: Seq[String],
      weights: (Double, Double, Double) = (1.0, 1.0, 1.0),
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(rules.nonEmpty && keyCols.nonEmpty && groupCols.nonEmpty,
      "dqScore: rules, key columns and group columns are all required")
    val (wc, wv, wu) = weights
    require(wc >= 0 && wv >= 0 && wu >= 0 && wc + wv + wu > 0,
      "dqScore: weights must be non-negative and not all zero")
    val row = struct(df.columns.map(col): _*)
    val passAll = rules.map { case (_, r) => passes(r, row, df.schema, defs) }
      .reduce(_ && _)
    val complete = keyCols.map(col(_).isNotNull).reduce(_ && _)
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(complete, 1L).otherwise(0L)).as("_c"),
        sum(when(passAll, 1L).otherwise(0L)).as("_v"),
        countDistinct(Dedup.contentHash(col(contentCol))).as("_u"))
      .select(groupCols.map(col) ++ Seq(col("n_docs"),
        round(col("_c").cast("double") / col("n_docs"), 6)
          .as("completeness"),
        round(col("_v").cast("double") / col("n_docs"), 6).as("validity"),
        round(col("_u").cast("double") / col("n_docs"), 6)
          .as("uniqueness"),
        round((lit(wc) * col("_c") + lit(wv) * col("_v") +
            lit(wu) * col("_u")).cast("double") /
          (col("n_docs") * lit(wc + wv + wu)), 6).as("dq_score")): _*)
  }

  /** Per-partition VOLUME contract: is each partition delivering the row
    * count its SLA declares? n_docs per partition + breach direction
    * (`under` / `over` / null when in range) — the arrived-but-thin
    * check [[graft.operators.ResumableValidate]]'s 0-row pass verdict
    * and byte-level partition health both miss. One map-side-combined
    * groupBy over rows, so a partition that shipped ZERO rows has no
    * group here — not even one whose dir holds a zero-row file, which
    * ResumableValidate's file listing does see (and commits docs = 0).
    * Diff against an expected-partition manifest for those (expectedParts
    * in ResumableValidate).
    */
  def volumeContract(df: DataFrame, partCol: String, minRows: Long,
      maxRows: Long): DataFrame = {
    require(minRows >= 0 && maxRows >= minRows,
      s"volumeContract: bad bounds [$minRows, $maxRows]")
    df.groupBy(col(partCol).as("part_key"))
      .agg(count(lit(1)).as("n_docs"))
      .select(col("part_key"), col("n_docs"),
        lit(minRows).as("min_rows"), lit(maxRows).as("max_rows"),
        when(col("n_docs") < minRows, "under")
          .when(col("n_docs") > maxRows, "over").as("breach"))
  }

  /** CROSS-FIELD consistency audit — invariants the keyword grammar
    * cannot express because they compare one field to ANOTHER (derived
    * columns match their source, totals reconcile, ranges are ordered):
    * each check is an arbitrary boolean `Column`; a row VIOLATES a check
    * when the predicate is not TRUE (null compares count as violations —
    * a consistency invariant that cannot be evaluated is not satisfied;
    * this deliberately differs from keyword rules' absent-property-passes
    * contract, which is about optional fields, not consistency).
    *
    * Output per check: n_viol, docs, viol_rate, and the smallest
    * offending id as the evidence pointer (null when the check is clean).
    *
    * Scale: ONE aggregation scan with per-check conditional sums +
    * conditional min — map-side combined to a single row, then exploded
    * to checks-count-sized output. No shuffle proportional to rows.
    */
  def crossFieldAudit(df: DataFrame, checks: Seq[(String, Column)],
      idCol: String): DataFrame = {
    require(checks.nonEmpty, "crossFieldAudit: no checks")
    val aggs = count(lit(1)).as("_docs") +: checks.zipWithIndex.flatMap {
      case ((_, pred), i) =>
        val viol = !coalesce(pred, lit(false))
        Seq(sum(when(viol, 1L).otherwise(0L)).as(s"_v$i"),
          min(when(viol, col(idCol))).as(s"_id$i"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(checks.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("invariant"),
          coalesce(col(s"_v$i"), lit(0L)).as("n_viol"),
          col("_docs").as("docs"), col(s"_id$i").as("first_bad_id"))
      }: _*)).as("m"))
      .select(col("m.invariant").as("invariant"),
        col("m.n_viol").as("n_viol"),
        col("m.docs").as("docs"),
        when(col("m.docs") > 0L,
          round(col("m.n_viol").cast("double") / col("m.docs"), 6))
          .as("viol_rate"),
        col("m.first_bad_id").as("first_bad_id"))
  }

  /** Cost-aware fail-fast rule ORDERING: measure each rule's INDEPENDENT
    * catch rate in one aggregation scan, then rank by catch_rate / cost
    * descending — the classic pipelined-filter ordering that minimizes
    * expected predicate evaluations per document (under rule
    * independence). `rules` carries a declared relative cost per rule
    * (e.g. regex 4×, enum 1×); the suggested order feeds back into
    * [[failFastProfile]] / the CLI's `--fail-fast`.
    *
    * Output per rule: caught (independent violation count), docs,
    * catch_rate, cost, efficiency = catch_rate/cost, sched_rank. Ranking
    * uses the ROUNDED efficiency with the rule name as tie-break so the
    * order is engine-independent and deterministic.
    *
    * Scale: like [[ruleCoverage]] — one [[flagCounts]] scan (map-side
    * combined to a single row), then a window over the rules-count-sized
    * result. No shuffle proportional to docs.
    */
  def ruleSchedule(df: DataFrame, rules: Seq[(String, Rule, Double)],
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(rules.nonEmpty, "ruleSchedule: no rules")
    require(rules.forall(_._3 > 0), "ruleSchedule: costs must be positive")
    val row = struct(df.columns.map(col): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("efficiency").desc, col("rule"))
    flagCounts(df, Nil, rules.map { case (name, r, cost) =>
        (Seq(lit(name).as("rule"), lit(cost).as("cost")),
          !passes(r, row, df.schema, defs)) })
      .select(col("rule"), col("n").as("caught"), col("docs"), col("cost"),
        // empty-corpus guard (ANSI division throws on 0)
        when(col("docs") > 0L,
          round(col("n").cast("double") / col("docs"), 6))
          .as("catch_rate"),
        when(col("docs") > 0L,
          round(col("n").cast("double") / col("docs") / col("cost"), 6))
          .as("efficiency"))
      .select(col("rule"), col("caught"), col("docs"), col("cost"),
        col("catch_rate"), col("efficiency"),
        row_number().over(w).as("sched_rank"))
  }
}
