package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.ResumableValidate
import graft.rules.RuleLoader
import graft.sources.{CommitLog, LocalFs}
import graft.sources.CommitLog.esc

/** spark-submit-able entry point — the distributed analogue of the
  * reference CLI `ys [-f schema.yaml]... instance.yaml [--fail-fast]
  * [--json]` (`/root/reference/src/bin/ys.rs:18-96,122-243`):
  *
  * {{{
  * spark-submit --class graft.Main <jar> \
  *   --rules rules.yaml [--rules more.yaml]... \
  *   --docs /path/to/docs_parquet --out /path/to/out \
  *   [--fail-fast] [--json [--json-limit N]] [--parts-per-batch N] \
  *   [--files-per-part N] [--sketches] [--drift-col C]... \
  *   [--drift-save baseline.json] [--drift-baseline baseline.json] \
  *   [--scorecard] [--catalog media.parquet] [--unique C]... \
  *   [--quarantine DIR] [--clean DIR] [--anomaly-parts] [--outlier-spans] \
  *   [--forget deletes.parquet [--forget-col doc_id]]
  * spark-submit --class graft.Main <jar> --docs /path/to/docs_parquet \
  *   --infer inferred.yaml [--forget deletes.parquet [--forget-col doc_id]]
  * }}}
  *
  * `--forget` applies a tombstone list (right-to-be-forgotten) to the
  * docs table before any rule runs — broadcast anti-join, audit with the
  * recomputed zero residual written to `out/forget_audit`.
  *
  * `--rules` is repeatable like the reference's `-f` (`ys.rs:133-177`): the
  * first file is the evaluation root; all files are preloaded for `$ref`
  * resolution, keyed by canonical path and by their `$id` when declared.
  * With NO `--rules`, the docs table's `$schema` column names the rules
  * file (relative paths resolve against the docs table's parent directory),
  * mirroring the reference's instance-level `$schema` discovery
  * (`ys.rs:178-213`); if neither is present the run is an ERROR — silently
  * validating nothing is never correct.
  *
  * Per-partition violations land under `out/`, one atomic commit JSON per
  * completed partition (resume: re-run the same command; completed
  * partitions are skipped — north-rule resumability). Exit code 0 = all
  * documents pass, 1 = violations found (`ys.rs:215-243`), 2 = usage/load
  * error (the reference's non-validation failure channel, `ys.rs:50-68`);
  * a usage error exits 2 before any SparkSession starts.
  * `--fail-fast` stops at the first failing partition batch like the
  * reference's sentinel-error short-circuit (`error.rs:30-31`). `--json`
  * prints the violation rows as a JSON array on stdout (`ys.rs:54-68`
  * shape, with doc_id/part standing in for the YAML line/col marker);
  * `--json-limit` bounds the driver-side collect (default 10000, must not
  * be negative — the reference prints all, but a 100 TB corpus can emit
  * billions of rows).
  *
  * `--infer out.yaml` profiles the docs table and writes the inferred YAML
  * schema instead of validating (the validator's inverse; the natural next
  * run passes it back via `--rules`). `--scorecard` prints the per-(path,
  * rule) violation scorecard (counts, rates, Wilson bounds) as JSON lines
  * on stdout after a validation run. `--catalog media.parquet` adds the
  * referential-integrity global check (dangling media_refs vs the catalog,
  * north-rule anti-join) and `--unique <col>` (repeatable) the salted
  * key-uniqueness global check; their violation rows land under
  * `out/global_*` and count toward the exit-1 verdict.
  *
  * `--quarantine <dir>` writes the failing documents (with their violation
  * arrays, for triage) as parquet, and `--clean <dir>` the passing ones —
  * the enforcement split ([[operators.Enforce]]'s quarantine action) over
  * the same composite rule the validation ran. `--anomaly-parts` runs the
  * median/MAD robust-z watchdog ([[operators.Anomaly]]) over the
  * per-partition failure rates in the commit log — computed from commit
  * bytes only, no corpus rescan — and reports outlier partitions on
  * stderr. `--outlier-spans` flags documents whose span COUNT is a
  * within-partition robust-z outlier (truncated/exploded docs a fixed
  * min/maxItems bound misses) to `out/global_outlier_spans` — advisory,
  * not part of the exit verdict. Each DataFrame output reports the row
  * count observed on its own write, so no output is read back.
  *
  * `--sketches` reports the merged per-partition doc_id HLL estimate and
  * span-count KLL quantiles from the commit log on stderr; `--drift-col C`
  * adds a KLL sketch of column C, `--drift-save` writes the merged
  * sketches as a baseline file and `--drift-baseline` reports each
  * column's KS distance to such a file (any drift flag implies
  * `--sketches`).
  */
object Main {

  final case class Args(rules: List[String] = Nil, docs: String = "",
      out: String = "", failFast: Boolean = false, json: Boolean = false,
      jsonLimit: Int = 10000, partsPerBatch: Int = 8, filesPerPart: Int = 1,
      sketches: Boolean = false, driftCols: List[String] = Nil,
      driftSave: String = "", driftBaseline: String = "",
      infer: String = "", scorecard: Boolean = false,
      catalog: String = "", unique: List[String] = Nil,
      quarantine: String = "", clean: String = "",
      anomalyParts: Boolean = false, outlierSpans: Boolean = false,
      forget: String = "", forgetCol: String = "doc_id")

  /** Writes `df` as parquet to `path` (replacing it, through
    * [[LocalFs.writerOptions]]) and returns its row count, observed on the
    * write itself: no second job reads the output back to count it.
    */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val obs = new Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.options(LocalFs.writerOptions).mode("overwrite").parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Writes `text` as the whole of the file at `path`, through the Hadoop
    * file system of its scheme (hdfs://, s3a://, file:// and bare, like
    * --docs/--out and the commit log), replacing it.
    */
  private def writeFile(spark: SparkSession, path: String, text: String): Unit = {
    val (fs, p) = LocalFs.fsFor(path, spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(text.getBytes(UTF_8)) finally os.close()
  }

  /** Apply a tombstone list (`--forget deletes.parquet`, id column
    * `--forget-col`, same name on both sides) to the docs table: writes
    * the per-table audit — including the independently recomputed
    * post-apply residual, which must be 0 — to `out/forget_audit`, logs
    * the counts, and returns the surviving rows. Broadcast anti-join;
    * the corpus never shuffles ([[operators.Forget]]).
    */
  private[graft] def applyForget(spark: SparkSession, docs: DataFrame,
      forgetPath: String, idCol: String, out: String): DataFrame = {
    val del = spark.read.parquet(forgetPath)
    // collect ONCE (the audit itself costs corpus scans) and write the
    // 1-row result from the collected copy — never run the audit twice
    val audit = operators.Forget.audit(spark,
      Seq(("docs", docs, idCol)), del, idCol)
    val rows = audit.collect()
    if (out.nonEmpty)
      writeCounted(spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        audit.schema).coalesce(1), s"$out/forget_audit")
    val a = rows(0)
    System.err.println(s"[graft] forget: removed=${a.getLong(2)} " +
      s"kept=${a.getLong(3)} residual=${a.getLong(4)}")
    operators.Forget.forget(docs, del, idCol, idCol)
  }

  private def parse(argv: List[String], a: Args): Args = argv match {
    case Nil => a
    case "--rules" :: v :: rest => parse(rest, a.copy(rules = a.rules :+ v))
    case "--docs" :: v :: rest => parse(rest, a.copy(docs = v))
    case "--out" :: v :: rest => parse(rest, a.copy(out = v))
    case "--fail-fast" :: rest => parse(rest, a.copy(failFast = true))
    case "--json" :: rest => parse(rest, a.copy(json = true))
    case "--json-limit" :: v :: rest =>
      require(v.toInt >= 0, s"--json-limit must not be negative, got $v")
      parse(rest, a.copy(jsonLimit = v.toInt))
    case "--parts-per-batch" :: v :: rest => parse(rest, a.copy(partsPerBatch = v.toInt))
    case "--files-per-part" :: v :: rest => parse(rest, a.copy(filesPerPart = v.toInt))
    case "--sketches" :: rest => parse(rest, a.copy(sketches = true))
    case "--drift-col" :: v :: rest => parse(rest, a.copy(driftCols = a.driftCols :+ v))
    case "--drift-save" :: v :: rest => parse(rest, a.copy(driftSave = v))
    case "--drift-baseline" :: v :: rest => parse(rest, a.copy(driftBaseline = v))
    case "--infer" :: v :: rest => parse(rest, a.copy(infer = v))
    case "--scorecard" :: rest => parse(rest, a.copy(scorecard = true))
    case "--catalog" :: v :: rest => parse(rest, a.copy(catalog = v))
    case "--unique" :: v :: rest => parse(rest, a.copy(unique = a.unique :+ v))
    case "--quarantine" :: v :: rest => parse(rest, a.copy(quarantine = v))
    case "--clean" :: v :: rest => parse(rest, a.copy(clean = v))
    case "--anomaly-parts" :: rest => parse(rest, a.copy(anomalyParts = true))
    case "--outlier-spans" :: rest => parse(rest, a.copy(outlierSpans = true))
    case "--forget" :: v :: rest => parse(rest, a.copy(forget = v))
    case "--forget-col" :: v :: rest => parse(rest, a.copy(forgetCol = v))
    case other :: _ => throw new IllegalArgumentException(s"Unknown argument: $other")
  }

  /** The flags of `argv`; throws `IllegalArgumentException` on a usage
    * error (unknown flag, non-numeric or negative count, missing
    * --docs/--out), before any Spark work.
    */
  private[graft] def parse(argv: Seq[String]): Args = {
    val a = parse(argv.toList, Args())
    require(a.docs.nonEmpty && (a.out.nonEmpty || a.infer.nonEmpty),
      "--docs and --out are required (or --docs with --infer)")
    a
  }

  /** The `{"error":…}` line of the ys.rs:50-68 channel. */
  private def errorJson(e: Exception): String = s"""{"error":"${esc(e.getMessage)}"}"""

  /** One JSON line per scorecard row (stable key order) — the
    * `--scorecard` stdout shape.
    */
  private def scorecardJson(r: Row): String =
    s"""{"path":"${esc(r.getAs[String]("path"))}",""" +
      s""""rule":"${esc(r.getAs[String]("rule"))}",""" +
      s""""violations":${r.getAs[Long]("violations")},""" +
      s""""affected_docs":${r.getAs[Long]("affected_docs")},""" +
      s""""doc_rate":${r.getAs[Double]("doc_rate")},""" +
      s""""wilson_low":${r.getAs[Double]("wilson_low")}}"""

  /** Any drift flag implies sketching: a `--drift-baseline` run without
    * `--sketches` must still produce its comparison, not silently no-op.
    */
  private def wantsSketches(args: Args): Boolean =
    args.sketches || args.driftCols.nonEmpty ||
      args.driftSave.nonEmpty || args.driftBaseline.nonEmpty

  /** `--sketches` / `--drift-col` report: merged per-partition sketches from
    * the COMMIT LOG ONLY — on a resume run, committed parts contribute their
    * persisted sketch bytes without any rescan. `--drift-save` writes
    * the merged sketches as a baseline file; `--drift-baseline` compares the
    * current run against such a file and reports per-column KS.
    */
  private def driftReport(spark: SparkSession, args: Args): Unit = {
    if (!wantsSketches(args)) return
    import graft.operators.ResumableValidate.{kllColKey, KllNSpansKey}
    val est = ResumableValidate.mergedDocIdEstimate(spark, args.out)
    System.err.println(s"[graft] sketch doc_id_distinct_est=$est")
    val keys = KllNSpansKey +: args.driftCols.map(kllColKey)
    val merged = keys.map(k =>
      k -> ResumableValidate.mergedKllSketch(spark, args.out, k))
    merged.foreach { case (k, b) =>
      val q = graft.plans.Kll.quantiles(b, Seq(0.1, 0.5, 0.9))
      System.err.println(s"[graft] sketch $k p10=${q(0)} p50=${q(1)} p90=${q(2)}")
    }
    if (args.driftSave.nonEmpty) {
      writeFile(spark, args.driftSave, merged.map { case (k, b) =>
        "\"" + esc(k) + "\":\"" + java.util.Base64.getEncoder.encodeToString(b) + "\""
      }.mkString("{", ",", "}"))
      System.err.println(s"[graft] drift baseline saved to ${args.driftSave}")
    }
    if (args.driftBaseline.nonEmpty) {
      val p = new org.apache.hadoop.fs.Path(args.driftBaseline)
      val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      val txt = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      merged.foreach { case (k, b) =>
        Option(node.get(k)).foreach { bn =>
          val base = java.util.Base64.getDecoder.decode(bn.asText)
          val ks = graft.plans.Kll.ks(base, b)
          System.err.println(f"[graft] drift $k ks=$ks%.6f")
        }
      }
    }
  }

  /** Parent dir of a LOCAL docs path for relative `$schema` resolution.
    * Accepts a bare path, a spec-compliant percent-encoded file:// URI
    * (what `java.nio.Path.toUri` / Python `as_uri` emit — `%20` decodes to
    * a space), and a raw unencoded file:// path with spaces (what humans
    * type — strict `new URI(...)` would throw on it). Remote schemes are an
    * error: rules files are read with local I/O.
    */
  private[graft] def localDocsParent(docs: String): java.nio.file.Path = {
    val schemeRe = "^([a-zA-Z][a-zA-Z0-9+.-]*)://".r
    val dir = schemeRe.findFirstMatchIn(docs) match {
      case Some(m) if m.group(1) != "file" =>
        throw new IllegalArgumentException(
          s"instance-level $$schema discovery requires a local docs path " +
            s"(got scheme ${m.group(1)}://); pass --rules explicitly")
      case Some(_) =>
        val viaUri =
          try {
            val u = new java.net.URI(docs)
            // file://host/... authority forms are rejected by Paths.get(URI)
            if (u.getAuthority != null && u.getAuthority.nonEmpty) None
            else Some(java.nio.file.Paths.get(u))
          } catch { case _: Exception => None }
        val local = viaUri.getOrElse {
          // unencoded fallback: treat everything after the scheme as a
          // literal path (Hadoop-Path-style leniency)
          val p = new org.apache.hadoop.fs.Path(docs).toUri.getPath
          if (p == null || p.isEmpty)
            throw new IllegalArgumentException(
              s"cannot resolve a local directory from $docs; pass --rules explicitly")
          java.nio.file.Paths.get(p)
        }
        local
      case None => java.nio.file.Paths.get(docs)
    }
    dir.toAbsolutePath.getParent
  }

  /** `--rules` loaded, or with none, the one rules file the docs table's
    * `$schema` column names (instance-level discovery, ys.rs:178-213);
    * relative paths resolve against the docs table's parent dir — only
    * meaningful for local paths (rules files are read via local I/O), so a
    * remote scheme (hdfs://, s3a://) must use --rules.
    */
  private def loadRules(args: Args, docs: DataFrame): RuleLoader.Loaded =
    if (args.rules.nonEmpty) RuleLoader.loadFiles(args.rules)
    else {
      def noSchema = new IllegalArgumentException(
        "No schema: pass --rules or add a string `$schema` column to the docs table")
      if (!docs.schema.fieldNames.contains("$schema")) throw noSchema
      val refs = docs.select(docs.col("$schema"))
        .filter(docs.col("$schema").isNotNull).distinct().limit(2)
        .collect().map(_.getString(0))
      if (refs.isEmpty) throw noSchema
      require(refs.length == 1,
        s"docs table carries more than one distinct $$schema value")
      RuleLoader.loadFile(
        localDocsParent(args.docs).resolve(refs(0)).normalize.toString)
    }

  /** One CLI run in `spark`: returns the exit code (0 all documents pass,
    * 1 violations found, 2 error, printed as the `{"error":…}` line). It
    * neither stops the session nor exits.
    */
  def run(spark: SparkSession, args: Args): Int =
    try {
      val docsRaw = spark.read.parquet(args.docs)
      // right-to-be-forgotten on the validation path: tombstones applied
      // BEFORE any rule runs, audit (incl. the recomputed zero residual)
      // written next to the violation outputs — a validated corpus is also
      // a deletion-compliant one
      val docs =
        if (args.forget.isEmpty) docsRaw
        else applyForget(spark, docsRaw, args.forget, args.forgetCol, args.out)
      if (args.infer.nonEmpty) {
        // schema-inference mode (the validator's inverse): profile the
        // table, write the inferred YAML schema, and stop — the natural
        // next run is `--rules <inferred.yaml>` over fresh data
        writeFile(spark, args.infer,
          operators.Inference.toYaml(operators.Inference.inferRule(docs)))
        System.err.println(s"[graft] inferred schema written to ${args.infer}")
        0
      } else validate(spark, args, docs)
    } catch { case e: Exception =>
      System.err.println(errorJson(e))
      2
    }

  private def validate(spark: SparkSession, args: Args, docs: DataFrame): Int = {
    val loaded = loadRules(args, docs)
    val report = ResumableValidate.run(spark, docs, loaded.root, args.out,
      manifest = docs.inputFiles.sorted.toSeq,
      partsPerBatch = args.partsPerBatch,
      defs = loaded.defs,
      failFast = args.failFast,
      filesPerPart = args.filesPerPart,
      withSketches = wantsSketches(args),
      driftCols = args.driftCols)
    driftReport(spark, args)
    val commits = CommitLog.read(args.out, spark.sparkContext.hadoopConfiguration)
    val failedDocs = commits.values.map(_.failedDocs).sum
    if (args.json && failedDocs > 0) {
      // emit_validation_errors_json shape (ys.rs:54-68): one object per
      // violation row, parquet coordinates instead of YAML markers
      val rows = ResumableValidate.violations(spark, args.out)
        .orderBy("part", "doc_id", "path", "rule", "message")
        .limit(args.jsonLimit).collect()
      println(rows.map { r =>
        s"""{"part":${r.getAs[Int]("part")},""" +
          s""""doc_id":"${esc(r.getAs[String]("doc_id"))}",""" +
          s""""path":"${esc(r.getAs[String]("path"))}",""" +
          s""""rule":"${esc(r.getAs[String]("rule"))}",""" +
          s""""error":"${esc(r.getAs[String]("message"))}"}"""
      }.mkString("[", ",", "]"))
    }
    // north-rule GLOBAL checks (set-level — not expressible as per-row
    // expressions): referential integrity against a media catalog and
    // key uniqueness; violation rows land next to the per-row ones
    var globalBad = 0L
    if (args.catalog.nonEmpty) {
      val n = writeCounted(operators.RefIntegrity.violations(docs,
        spark.read.parquet(args.catalog)), s"${args.out}/global_ref_integrity")
      System.err.println(s"[graft] global check ref_integrity: $n dangling refs")
      globalBad += n
    }
    args.unique.foreach { c =>
      val n = writeCounted(operators.Uniqueness.violations(docs, c),
        s"${args.out}/global_unique_$c")
      System.err.println(s"[graft] global check unique($c): $n duplicated keys")
      globalBad += n
    }
    // the SAME composite rule the validation ran (user rule + span
    // invariant), for the enforcement split and the scorecard
    lazy val withV = ResumableValidate.compositeViolations(docs, loaded.root, loaded.defs)
    // enforcement split (`--quarantine` / `--clean`): failing documents
    // (with their violation arrays, for triage) and/or passing documents
    // land as parquet next to the run — the CLI form of
    // [[operators.Enforce]]'s quarantine action
    if (args.quarantine.nonEmpty) {
      val n = writeCounted(withV.filter(!col("pass")).drop("pass"), args.quarantine)
      System.err.println(s"[graft] quarantined $n failing docs -> ${args.quarantine}")
    }
    if (args.clean.nonEmpty) {
      val n = writeCounted(withV.filter(col("pass")).drop("violations", "pass"), args.clean)
      System.err.println(s"[graft] clean ${n} passing docs -> ${args.clean}")
    }
    // `--anomaly-parts`: robust median/MAD z over the per-partition
    // failure rates in the commit log — "which partitions are not like
    // the others" from commit bytes only (no corpus rescan)
    if (args.anomalyParts) {
      val pm = commits.values.toSeq.sortBy(_.part)
      import spark.implicits._
      val series = pm.map { c =>
        (c.part, c.docs, c.failedDocs,
          if (c.docs == 0) 0.0 else c.failedDocs.toDouble / c.docs) }
        .toDF("part", "docs", "failed_docs", "rate")
        .withColumn("_g", lit("parts"))
      val flagged = operators.Anomaly.robustZ(series, Seq("_g"), "rate")
        .filter(col("is_anomaly"))
        .select("part", "docs", "failed_docs", "rate", "z")
        .collect() // bounded by #parts
      flagged.foreach { r =>
        val z = Option(r.get(4)).map(v => f"${v.asInstanceOf[Double]}%.2f")
          .getOrElse("null")
        System.err.println(
          s"[graft] anomalous part ${r.getAs[Int]("part")}: " +
            f"rate=${r.getAs[Double]("rate")}%.6f z=$z " +
            s"(docs=${r.get(1)}, failed=${r.get(2)})")
      }
      System.err.println(
        s"[graft] part-anomaly: ${flagged.length} of ${pm.size} parts flagged")
    }
    // `--outlier-spans`: ROW-level robust-z watchdog over per-doc span
    // counts within each partition ([[operators.Anomaly.rowOutliers]],
    // histogram med/MAD — one tiny agg + one broadcast flag pass): flags
    // truncated / exploded documents a fixed min/maxItems rule would
    // miss. Advisory (stderr + out/global_outlier_spans), not exit-1:
    // an outlier is a hygiene signal, not a rule violation.
    if (args.outlierSpans) {
      val n = writeCounted(operators.Anomaly.rowOutliers(
          docs.withColumn("n_spans", size(col("spans"))), Seq("part"), "n_spans")
        .filter(col("is_outlier"))
        .select(col("part"), col("doc_id"), col("n_spans"),
          col("med"), col("mad"), col("z")), s"${args.out}/global_outlier_spans")
      System.err.println(s"[graft] outlier-spans: $n docs flagged")
    }
    // per-(path, rule) data-quality report on stdout, one JSON line per
    // row (tiny: bounded by the rule set)
    if (args.scorecard)
      operators.Validate.scorecardOf(withV).collect()
        .foreach(r => println(scorecardJson(r)))
    System.err.println(
      s"[graft] partitions done=${report.partsDone.size} " +
        s"skipped=${report.partsSkipped.size} committed=${commits.size} " +
        s"failed_docs=$failedDocs")
    if (failedDocs + globalBad > 0) 1 else 0
  }

  def main(argv: Array[String]): Unit = {
    val args =
      try parse(argv.toSeq)
      catch { case e: Exception =>
        System.err.println(errorJson(e))
        sys.exit(2)
      }
    val spark = SparkSession.builder()
      .appName("graft-validate")
      // spark-submit injects spark.master; standalone runs fall back to env
      .config("spark.master", sys.props.getOrElse("spark.master",
        sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // native expressions as SQL functions (span_invariant, simhash64,
      // minhash_bands, cosine_sim, kll_sketch)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exit = try run(spark, args) finally spark.stop()
    sys.exit(exit)
  }
}
