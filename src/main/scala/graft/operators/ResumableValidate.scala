package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}
import graft.rules.Rule
import graft.sources.{CommitLog, LocalFs}

/** Resumable validation runs (north rule: "a killed job restarts at the last
  * incomplete partition with identical output").
  *
  * A run validates the docs table one `part` at a time; after each part's
  * violations land in `outDir/violations_batch_<b>/part=<p>/`, an atomic
  * commit JSON (metrics + rule hash + the batch dir name + optional
  * per-partition sketch bytes) is written. A restart reads the commit log,
  * skips committed parts — the `part` filter prunes at the source when the
  * input is partitioned on `part` — and reproduces identical output for
  * the remainder: violations are sorted within each part and written as a
  * single file per part, so over the same input each file's rows, in
  * order, are the same. The file bytes are not: parquet-mr writes a column
  * chunk's encoding list in hash-set order, which differs from JVM to JVM.
  *
  * A part is skipped when its commit carries the current rule hash; its
  * input is not checked. The commit also records `snapshot_id` and the
  * input `manifest`, but nothing reads them, so a resume over rewritten
  * part files or under a new `--forget` list serves the committed rows of
  * the old input.
  *
  * All filesystem access (commit log, crash-hygiene sweep, violation
  * read-back) goes through `org.apache.hadoop.fs.FileSystem`, so the whole
  * resumable path runs against `file://`, HDFS, or S3A unchanged — a
  * cluster driver pointing outDir at an object store gets the same
  * protocol (rename atomicity caveats documented in [[CommitLog]]).
  *
  * Readers only consume committed (part, batch) pairs: each commit records
  * the batch dir its violations were written to, so a crash between a
  * batch's parquet write and its commit loop can never surface duplicate
  * rows on re-run — the re-run writes those parts into a NEW batch dir and
  * the old batch's rows for them are never read (and are swept on restart).
  *
  * Scale notes: "one Spark job per partition" is the commit granularity of
  * the checkpoint protocol, not a parallelism limit — each per-part job
  * still fans out across all executors, and `partsPerBatch` groups many
  * table partitions into one job (one commit per part is still written).
  */
object ResumableValidate {

  final case class RunReport(partsDone: Seq[Int], partsSkipped: Seq[Int])

  /** Stable hash of the rule set (refuses to resume across rule changes):
    * SHA-256 over the canonical rendering (sorted map keys), full digest —
    * a 32-bit `toString.hashCode` both collides and depends on Scala Map
    * iteration order, either of which would let a resume silently mix
    * outputs from different rule sets.
    */
  def ruleHash(rule: Rule): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(Rule.canonical(rule).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.map(b => f"$b%02x").mkString
  }

  /** Sketch keys persisted with each commit when `withSketches = true`. */
  val HllDocIdKey = "hll_doc_id"
  val KllNSpansKey = "kll_n_spans"

  /** Commit-sketch key for a user-named drift column (`--drift-col`). */
  def kllColKey(c: String): String = s"kll_col_$c"

  /** The violation rows [[run]] writes (partitioned by `part`, so `part` is
    * a directory name, not a file column) and [[violations]] reads back.
    */
  val ViolationSchema: StructType = new StructType()
    .add("doc_id", StringType).add("path", StringType)
    .add("rule", StringType).add("message", StringType)
    .add("part", IntegerType)

  /** The parts of `docs` from its file listing, when `docs` is a plain file
    * scan, optionally under a `Project`, whose output `part` IS the scan's
    * integer partition attribute (same exprId: a column renamed to `part`
    * does not qualify). The listing is the file index the scan already
    * built, so this costs no Spark job and no extra file-system call.
    * None for any other plan, or when a listed `part` value is null.
    */
  private def listedParts(docs: DataFrame): Option[Seq[Int]] = {
    val plan = docs.queryExecution.optimizedPlan
    val scan = plan match {
      case Project(_, l: LogicalRelation) => Some(l)
      case l: LogicalRelation => Some(l)
      case _ => None
    }
    val resolver = SQLConf.get.resolver
    for {
      l <- scan
      fsRel <- Some(l.relation).collect { case r: HadoopFsRelation => r }
      i = fsRel.partitionSchema.fieldNames.indexWhere(resolver(_, "part"))
      if i >= 0 && fsRel.partitionSchema(i).dataType == IntegerType
      scanPart <- l.output.find(a => resolver(a.name, "part"))
      outPart <- plan.output.find(a => resolver(a.name, "part"))
      if outPart.exprId == scanPart.exprId
      dirs = fsRel.location.listFiles(Nil, Nil)
      if dirs.forall(!_.values.isNullAt(i))
    } yield dirs.map(_.values.getInt(i)).distinct
  }

  /** The ONE composition of user rule + built-in span invariant the engine
    * validates with — [[run]], the CLI scorecard and the streaming path
    * (`StreamValidate`) all lower through this, so a report can never
    * cover a different rule set than the verdicts did.
    */
  def compositeViolations(docs: org.apache.spark.sql.DataFrame, rule: Rule,
      defs: Map[String, Rule] = Map.empty): org.apache.spark.sql.DataFrame =
    Validate.withViolations(docs, rule, defs)
      .withColumn("violations",
        concat(col("violations"), SpanInvariant.violationsCol(col("spans"))))
      .withColumn("pass", size(col("violations")) === 0)

  /** Validate `docs` (must carry an integer `part` column) against `rule` +
    * the span invariant, checkpointing per part. `failAfterParts` kills the
    * run after N parts (test hook simulating a mid-run crash).
    *
    * Parts are found without a Spark job when `docs` is a plain file scan
    * (optionally projected) whose `part` column is the scan's own integer
    * partition column: the part list is then the scan's partition listing
    * (see [[listedParts]]). Every other plan (in-memory frames, joins, data
    * filters, a column renamed to `part`) finds its parts with one
    * `distinct` action. A listed part whose files hold no rows commits
    * docs = 0, failed = 0, like an empty expected part below.
    *
    * Each batch of up to `partsPerBatch` parts is ONE Spark action: the
    * violation write. The per-part commit metrics (docs, failed docs,
    * violation count) are a `Dataset.observe` on that write, so the slice
    * is neither cached nor scanned a second time. On a file scan that is
    * the whole cost: one action per batch, none for discovery, and none at
    * all when every part is already committed.
    *
    * `filesPerPart` sets the write's layout: a batch's rows are
    * hash-partitioned on (`part`, `pmod(xxhash64(doc_id), filesPerPart)`),
    * so each part is written as `filesPerPart` files, each sorted. With
    * the default 1 a part's rows all land in one task and one file, so
    * golden output is row-identical, in order; at 100 TB raise it for
    * write parallelism: output stays row-identical and
    * file-set-deterministic, just not single-file.
    *
    * `expectedParts`, when given, is the authoritative partition list (at
    * scale: the table manifest): expected parts with ZERO rows still get a
    * pass-verdict commit (docs=0, failed=0 — the reference emits a pass for
    * an empty document too, engine.rs:51-57) instead of silently vanishing
    * from the commit log. A file scan already lists the parts that have
    * files, empty ones included; the manifest adds those with no files.
    *
    * `withSketches = true` additionally observes, per part and on the same
    * write as the metrics, an HLL sketch of `doc_id` and a KLL sketch of
    * `size(spans)` (and `driftCols` add one KLL sketch each), persisting
    * the bytes in the commit JSON — so cardinality and drift state resume
    * incrementally with validation (merge with [[mergedDocIdEstimate]] /
    * [[mergedKllSketch]], no re-scan of committed parts). Both sketches
    * are Spark's own aggregates, `hll_sketch_agg` and
    * `kll_sketch_agg_double` (k = 200), so the committed bytes are the
    * DataSketches library's serialized form and logs written by earlier
    * versions merge with new ones.
    *
    * On a `file:` `outDir` the violation write and the commit JSONs create
    * their files through [[graft.sources.LocalFs]] (the write takes its
    * `writerOptions`, so the committer and every write task use it): the
    * same files, `.crc` files and permissions as Hadoop's local file
    * system, without its `chmod` child process per file and directory,
    * which cost about 1 ms each, one after another on the driver for the
    * job commit and the commit JSONs. Other schemes write as before.
    */
  def run(spark: SparkSession, docs: DataFrame, rule: Rule, outDir: String,
      manifest: Seq[String] = Nil, failAfterParts: Int = Int.MaxValue,
      partsPerBatch: Int = 8, defs: Map[String, Rule] = Map.empty,
      failFast: Boolean = false, filesPerPart: Int = 1,
      expectedParts: Option[Seq[Int]] = None,
      withSketches: Boolean = false,
      driftCols: Seq[String] = Nil): RunReport = {
    require(partsPerBatch > 0,
      s"partsPerBatch (--parts-per-batch) must be positive, got $partsPerBatch")
    require(filesPerPart > 0,
      s"filesPerPart (--files-per-part) must be positive, got $filesPerPart")
    val conf = spark.sparkContext.hadoopConfiguration
    val rh = ruleHash(rule)
    val done = CommitLog.completed(outDir, conf)
    done.collectFirst { case (p, h) if h.nonEmpty && h != rh =>
      throw new IllegalStateException(
        s"Commit log at $outDir was written with rule hash $h, current is $rh")
    }
    val snapshotId = java.lang.Integer.toHexString(manifest.mkString(",").hashCode)

    val observedParts = listedParts(docs).getOrElse(
      docs.select(col("part")).distinct().collect().map(_.getInt(0)).toSeq).toSet
    val allParts = expectedParts
      .map(ep => (ep.toSet ++ observedParts).toSeq)
      .getOrElse(observedParts.toSeq).sorted
    val pending = allParts.filterNot(done.contains)
    val donePartsList = allParts.filter(done.contains)

    // crash hygiene: a kill between a batch's parquet write and its commit
    // rows leaves orphaned part dirs — remove any part dir without a commit
    // so the on-disk state holds only what the commit log names (readers
    // already ignore uncommitted (part, batch) pairs; the sweep keeps dead
    // bytes from accumulating across repeated crashes)
    val basePath = new Path(outDir)
    val fs = basePath.getFileSystem(conf)
    if (fs.exists(basePath)) {
      fs.listStatus(basePath).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("violations_batch_"))
        .foreach { b =>
          fs.listStatus(b.getPath).toSeq
            .filter(st => st.isDirectory && st.getPath.getName.startsWith("part="))
            .foreach { pd =>
              val p = pd.getPath.getName.stripPrefix("part=").toInt
              if (!done.contains(p)) fs.delete(pd.getPath, true): Unit
            }
        }
    }

    lazy val withV = compositeViolations(docs, rule, defs)
    // commit sketch key -> the value it summarizes (HLL for the doc_id key,
    // KLL for the rest)
    val sketchIns: Seq[(String, Column)] =
      (if (withSketches) Seq(HllDocIdKey -> col("doc_id").cast("string"),
        KllNSpansKey -> size(col("spans")).cast("double")) else Nil) ++
        driftCols.map(c => kllColKey(c) -> col(c).cast("double"))

    var executed = List.empty[Int]
    pending.grouped(partsPerBatch).foreach { batch =>
      if (executed.size < failAfterParts) {
        val take = batch.take(failAfterParts - executed.size)
        val t0 = System.nanoTime()
        val batchName = s"violations_batch_${take.head}"
        // one row per doc through the shuffle, so the commit metrics are
        // observed after it, in the write's result tasks: Spark merges a
        // result task's metrics once per partition, while a map task that
        // is re-run (lost executor, speculation) would be counted again
        val shuffled = withV.filter(col("part").isin(take: _*))
          .select(Seq(col("part"), col("doc_id"), col("violations"), col("pass")) ++
            sketchIns.zipWithIndex.map { case ((_, v), i) => v.as(s"_sk$i") }: _*)
          .repartition(take.size * filesPerPart, col("part"),
            pmod(xxhash64(col("doc_id")), lit(filesPerPart.toLong)))
        val obs = new Observation()
        val aggs = take.flatMap { p =>
          val inPart = col("part") === p
          Seq(count_if(inPart).as(s"docs_$p"),
            count_if(inPart && !col("pass")).as(s"failed_$p"),
            sum(when(inPart, size(col("violations")))).as(s"nv_$p")) ++
            sketchIns.zipWithIndex.map { case ((key, _), i) =>
              val v = when(inPart, col(s"_sk$i"))
              (if (key == HllDocIdKey) hll_sketch_agg(v)
              else kll_sketch_agg_double(v)).as(s"sk${i}_$p")
            }
        }
        shuffled.observe(obs, aggs.head, aggs.tail: _*)
          .select(col("part"), col("doc_id"), inline(col("violations")))
          .select(ViolationSchema.map(f => col(f.name).cast(f.dataType)): _*)
          .sortWithinPartitions("part", "doc_id", "path", "rule", "message")
          .write.options(LocalFs.writerOptions).mode("overwrite")
          .partitionBy("part").parquet(s"$outDir/$batchName")
        val m = obs.get
        val wallMs = (System.nanoTime() - t0) / 1000000
        // an expected part with no rows commits docs = 0 and no sketches
        val commits = take.map { p =>
          val docsP = m(s"docs_$p").asInstanceOf[Long]
          if (docsP == 0L) CommitLog.Commit(p, 0L, 0L, 0L, rh, snapshotId,
            manifest, wallMs, batch = batchName)
          else CommitLog.Commit(p, docsP, m(s"failed_$p").asInstanceOf[Long],
            m(s"nv_$p").asInstanceOf[Long], rh, snapshotId, manifest, wallMs,
            batch = batchName,
            sketches = sketchIns.zipWithIndex.map { case ((key, _), i) =>
              key -> m(s"sk${i}_$p").asInstanceOf[Array[Byte]] }.toMap)
        }
        commits.foreach(CommitLog.write(outDir, _, conf))
        executed = executed ++ take
        if (executed.size >= failAfterParts) {
          throw new RuntimeException(s"Injected failure after ${executed.size} parts")
        }
        // --fail-fast: stop at the first failing batch; commits for the
        // batch are already written (checkpoint preserved, SURVEY.md §2.8)
        if (failFast && commits.exists(_.failedDocs > 0)) {
          return RunReport(executed, donePartsList)
        }
      }
    }
    RunReport(executed, donePartsList)
  }

  /** Read back committed violations: only (part, batch) pairs recorded in
    * the commit log are consumed, so rows from a batch that crashed before
    * its commits (and whose parts were re-run into a later batch) are never
    * double-counted.
    *
    * Each batch dir is read with [[ViolationSchema]], so no schema is
    * inferred and no Spark job runs before the caller's own action. A log
    * whose committed parts have no violation rows (a clean run) reads back
    * as an empty frame with that schema; only a log with no commits raises.
    */
  def violations(spark: SparkSession, outDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val allCommits = CommitLog.read(outDir, conf).map { case (p, c) => p -> c.batch }
    require(allCommits.nonEmpty, s"no commits under $outDir")
    val byBatch = allCommits
      .filter(_._2.nonEmpty)
      .groupBy(_._2).view.mapValues(_.keys.toSeq).toMap
    // commits written before the batch field existed carry no batch name;
    // fall back to the legacy read for those parts (union every batch dir
    // — pre-batch-field logs had no crash-orphan dirs to double-count)
    val legacyParts = allCommits.collect { case (p, b) if b.isEmpty => p }.toSeq
    val basePath = new Path(outDir)
    def batchDf(batchName: String, parts: Seq[Int]): DataFrame =
      spark.read.schema(ViolationSchema).parquet(new Path(basePath, batchName).toString)
        .filter(col("part").isin(parts: _*))
    val legacyDfs = if (legacyParts.isEmpty) Seq.empty
      else {
        val fs = basePath.getFileSystem(conf)
        val batchDirs = fs.listStatus(basePath).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("violations_batch_"))
          .map(_.getPath.getName).sorted
        batchDirs.map(b => batchDf(b, legacyParts))
      }
    val dfs = byBatch.toSeq.sortBy(_._1).map { case (batchName, parts) =>
      batchDf(batchName, parts)
    } ++ legacyDfs
    dfs.reduce(_ unionByName _)
  }

  /** Every committed part must carry `key` — a commit log where only SOME
    * parts have the sketch (e.g. a crash under plain validation resumed
    * later with `--sketches`) would otherwise merge into corpus-wide
    * numbers silently computed from a subset: partial coverage presented
    * as whole-run stats is worse than an error.
    */
  private def sketchBytesAllParts(spark: SparkSession, outDir: String,
      key: String): Seq[Array[Byte]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val perPart = CommitLog.read(outDir, conf).values.toSeq.sortBy(_.part)
    require(perPart.nonEmpty, s"no commits under $outDir")
    // a legitimately EMPTY part (docs = 0) commits no sketch rows and
    // contributes nothing to any merge — only non-empty parts must carry
    // the key
    val missing = perPart.collect {
      case c if !c.sketches.contains(key) && c.docs > 0L => c.part
    }
    require(missing.isEmpty,
      s"sketch $key missing from committed part(s) ${missing.take(8).mkString(",")}" +
        s"${if (missing.size > 8) ",…" else ""} under $outDir — these parts were " +
        "validated without sketches; re-run them (delete their commits) with " +
        "--sketches/--drift-col before asking for a merged report")
    // flatMap, not apply: empty parts legitimately carry no bytes
    val bytes = perPart.flatMap(_.sketches.get(key))
    require(bytes.nonEmpty, s"no $key sketches committed under $outDir")
    bytes
  }

  /** Merged doc_id HLL sketch over all committed parts (requires the run to
    * have used `withSketches = true`) — returns the distinct estimate.
    * Union happens in Spark (`hll_union_agg`) over the persisted bytes:
    * no re-scan of any committed data.
    */
  def mergedDocIdEstimate(spark: SparkSession, outDir: String): Long = {
    val bytes = sketchBytesAllParts(spark, outDir, HllDocIdKey)
    import spark.implicits._
    bytes.toDF("sketch")
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("est"))
      .collect()(0).getLong(0)
  }

  /** Merged KLL sketch for a persisted sketch key ([[KllNSpansKey]], or
    * [[kllColKey]] for a `--drift-col` column) over all committed parts,
    * merged in part order. Pure commit-log read — NEVER rescans data. The
    * merged bytes are not reproducible: KLL compaction keeps a random half
    * of each compacted level, so two merges of the same per-part sketches
    * may differ, each within KLL's rank-error bound.
    */
  def mergedKllSketch(spark: SparkSession, outDir: String, key: String): Array[Byte] =
    graft.plans.Kll.union(sketchBytesAllParts(spark, outDir, key))
}
