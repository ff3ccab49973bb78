package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.rules.Rule

/** Rule-action enforcement: what to DO with a row that fails validation.
  *
  * The reference is a report-only validator — its only enforcement is the
  * process exit code (`/root/reference/src/bin/ys.rs:215-243`: any error →
  * exit 1) and `--fail-fast`-style early abort. A pipeline over a 10^12-doc
  * corpus needs per-rule actions instead: let a cosmetic rule WARN (count,
  * keep the row), a hard rule DROP (remove silently), a suspicious rule
  * QUARANTINE (remove AND land the row in an evidence table for triage),
  * and an invariant rule FAIL (abort the whole run — the distributed
  * analogue of the reference's exit-1 contract).
  *
  * Everything lowers through [[Validate.passes]], the engine's one pass
  * predicate (null-is-fail, the guard [[Validate.withViolations]] uses), so
  * enforcement can never disagree with reporting about what "fails".
  *
  * 100 TB shape: each expectation is one pure Column predicate, so
  * [[withActions]] is a single scan with zero shuffle — callers write the
  * three-way split in ONE pass with
  * `df.write.partitionBy("_graft_verdict")`. The [[kept]]/[[dropped]]/
  * [[quarantined]] filters re-derive from that column; Catalyst pushes the
  * compiled predicate conjunction into the parquet scan for the common
  * kept-only consumer. [[metrics]] is one map-side-combined aggregation
  * producing #expectations rows.
  */
object Enforce {

  sealed trait Action { def name: String }
  object Action {
    /** Count the failure; keep the row in the kept output. */
    case object Warn extends Action { val name = "warn" }
    /** Remove the row from the kept output; counted, not preserved. */
    case object Drop extends Action { val name = "drop" }
    /** Remove the row AND preserve it (with the failed-expectation names)
      * in the quarantine output for triage.
      */
    case object Quarantine extends Action { val name = "quarantine" }
    /** Any failure aborts the run ([[orAbort]]) — the reference's exit-1
      * contract (`ys.rs:215-243`) lifted to the whole corpus.
      */
    case object Fail extends Action { val name = "fail" }
  }

  /** One named rule with its enforcement action. */
  final case class Expectation(name: String, rule: Rule, action: Action)

  /** Row-removal priority when a row fails several expectations: evidence
    * preservation wins — a row failing any QUARANTINE rule is quarantined
    * (even if it also fails a DROP rule); otherwise a row failing any
    * DROP/FAIL rule is dropped; otherwise it is kept (WARN never removes).
    */
  private def verdictCol(df: DataFrame, es: Seq[Expectation],
      defs: Map[String, Rule]): Column = {
    val row = struct(df.columns.map(col): _*)
    def anyFail(as: Set[Action]): Option[Column] =
      es.filter(e => as(e.action))
        .map(e => !Validate.passes(e.rule, row, df.schema, defs))
        .reduceOption(_ || _)
    val q = anyFail(Set(Action.Quarantine)).getOrElse(lit(false))
    val d = anyFail(Set(Action.Drop, Action.Fail)).getOrElse(lit(false))
    when(q, "quarantined").when(d, "dropped").otherwise("kept")
  }

  /** df + `_graft_verdict` ("kept"/"dropped"/"quarantined") +
    * `_graft_failed` (sorted names of ALL failed expectations, any action)
    * — the one-pass split form (`write.partitionBy("_graft_verdict")`).
    */
  def withActions(df: DataFrame, es: Seq[Expectation],
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(es.nonEmpty, "withActions: no expectations")
    require(es.map(_.name).distinct.size == es.size,
      s"duplicate expectation names: ${es.map(_.name).mkString(", ")}")
    val row = struct(df.columns.map(col): _*)
    val failed = array_sort(filter(array(es.map(e =>
        when(!Validate.passes(e.rule, row, df.schema, defs), e.name)): _*),
      _.isNotNull))
    df.withColumn("_graft_verdict", verdictCol(df, es, defs))
      .withColumn("_graft_failed", failed)
  }

  /** Rows surviving enforcement (original columns only). */
  def kept(df: DataFrame, es: Seq[Expectation],
      defs: Map[String, Rule] = Map.empty): DataFrame =
    df.filter(verdictCol(df, es, defs) === "kept")

  /** Rows removed without preservation (fail a DROP/FAIL rule, no
    * QUARANTINE rule).
    */
  def dropped(df: DataFrame, es: Seq[Expectation],
      defs: Map[String, Rule] = Map.empty): DataFrame =
    df.filter(verdictCol(df, es, defs) === "dropped")

  /** The quarantine evidence table: original columns + `_graft_failed`
    * with the sorted names of every failed expectation on the row.
    */
  def quarantined(df: DataFrame, es: Seq[Expectation],
      defs: Map[String, Rule] = Map.empty): DataFrame =
    withActions(df, es, defs).filter(col("_graft_verdict") === "quarantined")
      .drop("_graft_verdict")

  /** Flat (row, failed expectation) pairs for quarantined rows — the
    * join-friendly/SQL-expressible twin of [[quarantined]]'s array column.
    */
  def quarantinePairs(df: DataFrame, es: Seq[Expectation],
      defs: Map[String, Rule] = Map.empty): DataFrame =
    quarantined(df, es, defs)
      .withColumn("expectation", explode(col("_graft_failed")))
      .drop("_graft_failed")

  /** Per-expectation failure counts in ONE aggregation scan
    * ([[Validate.flagCounts]]): (expectation, action, failed_docs, docs) —
    * independent counts (a row failing two expectations counts in both),
    * so each row reads as "this rule alone would have flagged N of
    * `docs`". An empty input counts 0, not null.
    */
  def metrics(df: DataFrame, es: Seq[Expectation],
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    require(es.nonEmpty, "metrics: no expectations")
    val row = struct(df.columns.map(col): _*)
    Validate.flagCounts(df, Nil, es.map(e =>
        (Seq(lit(e.name).as("expectation"), lit(e.action.name).as("action")),
          !Validate.passes(e.rule, row, df.schema, defs))))
      .select(col("expectation"), col("action"), col("n").as("failed_docs"),
        col("docs"))
  }

  /** Enforce FAIL expectations: returns `df` untouched when every FAIL
    * rule is clean, else throws with the per-rule failure counts — the
    * corpus-level analogue of the reference CLI's nonzero exit
    * (`ys.rs:215-243`). One aggregation scan over only the FAIL rules.
    */
  def orAbort(df: DataFrame, es: Seq[Expectation],
      defs: Map[String, Rule] = Map.empty): DataFrame = {
    val fails = es.filter(_.action == Action.Fail)
    if (fails.isEmpty) df
    else {
      val counts = metrics(df, fails, defs)
        .filter(col("failed_docs") > 0)
        .select(col("expectation"), col("failed_docs"))
        .collect() // bounded by #expectations, not the corpus
      if (counts.nonEmpty) {
        val detail = counts.map(r => s"${r.getString(0)}=${r.getLong(1)}")
        throw new IllegalStateException(
          s"FAIL expectation(s) violated: ${detail.mkString(", ")}")
      }
      df
    }
  }
}
