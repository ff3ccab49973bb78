package graft.operators

import graft.SparkSpec
import graft.rules.{Keywords, Rule}
import graft.sources.{CommitLog, DocsGen}
import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Resume fixture (FIXTURES.md §4): run, kill after N partitions, restart —
  * expect identical violation output and a commit log showing the completed
  * partitions skipped.
  */
class ResumableValidateSpec extends SparkSpec {

  private val rule = Rule.Check(Keywords(required = List("doc_id", "spans")))

  /** Where [[CommitLog.write]] puts `part`'s commit JSON. */
  private def commitPath(dir: String, part: Int): Path =
    new Path(s"$dir/_commits/part=$part.json")

  /** Read a commit JSON through the Hadoop FS API (the log's native I/O). */
  private def readCommit(dir: String, part: Int): String = {
    val p = commitPath(dir, part)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  private def freshDocs = DocsGen.docs(spark, DocsGen.Knobs(
    nDocs = 3000, nParts = 6, badKindPerMille = 20, badOrderPerMille = 10,
    nullDocIdPerMille = 5))

  /** `df` written partitioned by `part` and read back: a plain file scan,
    * whose parts [[ResumableValidate.run]] takes from the listing.
    */
  private def scanOf(df: DataFrame): DataFrame = {
    val dir = Files.createTempDirectory("graft_scan").toString
    df.write.mode("overwrite").partitionBy("part").parquet(dir)
    spark.read.parquet(dir)
  }

  test("kill mid-run, restart: skips committed parts, identical output") {
    val cleanDir = Files.createTempDirectory("graft_clean").toString

    // reference: single uninterrupted run
    val r0 = ResumableValidate.run(spark, freshDocs, rule, cleanDir,
      manifest = Seq("gen:3000:6"), partsPerBatch = 2)
    assert(r0.partsDone.size == 6 && r0.partsSkipped.isEmpty)
    val a = ResumableValidate.violations(spark, cleanDir)
      .orderBy("part", "doc_id", "path", "rule", "message").collect()
    assert(a.length > 0)

    // in-memory docs find their parts with a distinct, a file scan from
    // its listing: both resume to the same rows
    for ((source, docs) <- Seq("in-memory" -> freshDocs, "file scan" -> scanOf(freshDocs))) {
      val crashDir = Files.createTempDirectory("graft_crash").toString
      // crashed run: dies after 2 parts
      val crashed = intercept[RuntimeException] {
        ResumableValidate.run(spark, docs, rule, crashDir,
          manifest = Seq("gen:3000:6"), failAfterParts = 2, partsPerBatch = 2)
      }
      assert(crashed.getMessage.contains("Injected failure"))
      assert(CommitLog.completed(crashDir).size == 2)

      // restart: completes the rest, skipping the 2 committed parts
      val r2 = ResumableValidate.run(spark, docs, rule, crashDir,
        manifest = Seq("gen:3000:6"), partsPerBatch = 2)
      assert(r2.partsSkipped.size == 2 && r2.partsDone.size == 4)
      assert(CommitLog.completed(crashDir).size == 6)

      // outputs identical row-for-row
      val b = ResumableValidate.violations(spark, crashDir)
        .orderBy("part", "doc_id", "path", "rule", "message").collect()
      assert(a.length == b.length && a.sameElements(b),
        s"$source: clean=${a.length} rows, resumed=${b.length} rows")
    }
  }

  test("filesPerPart > 1: same rows, more files per part, each internally sorted") {
    val d1 = Files.createTempDirectory("graft_fp1").toString
    val d4 = Files.createTempDirectory("graft_fp4").toString
    ResumableValidate.run(spark, freshDocs, rule, d1, partsPerBatch = 6)
    ResumableValidate.run(spark, freshDocs, rule, d4, partsPerBatch = 6, filesPerPart = 4)
    val a = ResumableValidate.violations(spark, d1)
      .orderBy("part", "doc_id", "path", "rule", "message").collect()
    val b = ResumableValidate.violations(spark, d4)
      .orderBy("part", "doc_id", "path", "rule", "message").collect()
    assert(a.length > 0 && a.sameElements(b))
    // parallel write really produced multiple files for at least one part
    val batchDirs = new java.io.File(d4).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("violations_batch_"))
    val maxFiles = batchDirs.flatMap(_.listFiles())
      .filter(f => f.isDirectory && f.getName.startsWith("part="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).max
    assert(maxFiles > 1, s"expected >1 parquet file in some part, got max $maxFiles")
    // filesPerPart = 1: exactly one (sorted) file in every part dir
    val perPart1 = new java.io.File(d1).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("violations_batch_"))
      .flatMap(_.listFiles()).filter(f => f.isDirectory && f.getName.startsWith("part="))
      .map(pd => pd.getName -> pd.listFiles().count(_.getName.endsWith(".parquet")))
    assert(perPart1.length == 6 && perPart1.forall(_._2 == 1),
      s"filesPerPart = 1 must write one file per part: ${perPart1.mkString(",")}")
  }

  test("each batch is one Spark action: commit metrics ride the violation write") {
    val scan = scanOf(freshDocs.withColumn("alt", col("part") + 10))
    // docs -> (executions of a fresh run, parts it commits). A file scan
    // takes its parts from the listing; every other plan pays one distinct.
    val cases = Seq(
      "in-memory" -> (freshDocs, 1 + 3, 0 to 5),
      "file scan" -> (scan, 3, 0 to 5),
      // another column renamed to `part` is not the scan's partition column
      "renamed part" -> (scan.drop("part").withColumnRenamed("alt", "part"), 1 + 3, 10 to 15),
      // a data filter: parts with no surviving rows are not discovered
      "data filter" -> (scan.filter(col("alt") < 13), 1 + 2, 0 to 2))
    for ((source, (docs, expected, parts)) <- cases) {
      val dir = Files.createTempDirectory("graft_one_pass").toString
      val (r, executions) = executionsDuring(
        ResumableValidate.run(spark, docs, rule, dir, partsPerBatch = 2,
          withSketches = true))
      assert(r.partsDone == parts, source)
      assert(executions == expected,
        s"$source: expected $expected executions, got $executions")
      assert(CommitLog.completed(dir).keySet == parts.toSet, source)
      assert(CommitLog.docCounts(dir).values.sum == docs.count(), source)
    }
    // a re-run over a file scan whose parts are all committed: no job at all
    val dir = Files.createTempDirectory("graft_noop").toString
    ResumableValidate.run(spark, scan, rule, dir, partsPerBatch = 2)
    val (noop, jobs) = jobsDuring(
      ResumableValidate.run(spark, scan, rule, dir, partsPerBatch = 2))
    assert(noop.partsDone.isEmpty && noop.partsSkipped == (0 to 5))
    assert(jobs == 0, s"no-op resume ran $jobs Spark jobs")
    // read-back knows its schema: building the frame infers nothing
    val (_, readJobs) = jobsDuring(ResumableValidate.violations(spark, dir))
    assert(readJobs == 0, s"violations() ran $readJobs Spark jobs")
  }

  test("expected part with zero rows still gets a pass-verdict commit") {
    val dir = Files.createTempDirectory("graft_empty").toString
    // docs only populate parts 0..5; part 7 is expected but empty
    ResumableValidate.run(spark, freshDocs, rule, dir, partsPerBatch = 8,
      expectedParts = Some(0 to 7))
    val commits = CommitLog.completed(dir)
    assert(commits.keySet == (0 to 7).toSet, s"commits=${commits.keySet}")
    val txt = readCommit(dir, 7)
    assert(txt.contains("\"docs\":0") && txt.contains("\"failed_docs\":0"),
      s"empty part must commit a pass verdict: $txt")

    // a listed part dir holding only a zero-row file: the same verdict,
    // also when it is a batch of its own
    val scanDir = Files.createTempDirectory("graft_zero_file").toString
    freshDocs.write.mode("overwrite").partitionBy("part").parquet(scanDir)
    freshDocs.limit(0).drop("part").write.parquet(s"$scanDir/part=9")
    val out = Files.createTempDirectory("graft_zero_file_out").toString
    ResumableValidate.run(spark, spark.read.parquet(scanDir), rule, out, partsPerBatch = 2)
    assert(CommitLog.completed(out).keySet == Set(0, 1, 2, 3, 4, 5, 9))
    val zero = readCommit(out, 9)
    assert(zero.contains("\"docs\":0") && zero.contains("\"failed_docs\":0"),
      s"zero-row part must commit a pass verdict: $zero")
  }

  test("rule hash is a full SHA-256 of the canonical form, stable across loads") {
    val h1 = ResumableValidate.ruleHash(rule)
    assert(h1.matches("[0-9a-f]{64}"), s"not a sha256 hex digest: $h1")
    // structurally equal rules built in different map orders hash equal
    val a = Rule.Check(Keywords(properties = Map(
      "x" -> Rule.Accept, "y" -> Rule.Reject, "z" -> Rule.Accept)))
    val b = Rule.Check(Keywords(properties =
      List("z" -> (Rule.Accept: Rule), "y" -> (Rule.Reject: Rule),
        "x" -> (Rule.Accept: Rule)).toMap))
    assert(ResumableValidate.ruleHash(a) == ResumableValidate.ruleHash(b))
    assert(ResumableValidate.ruleHash(a) != h1)
  }

  test("canonical form quotes string payloads: no sentinel/delimiter forgery") {
    import graft.rules.ConstVal
    // pattern "-" must not canonicalize like "no pattern at all"
    val noPat = Rule.Check(Keywords())
    val dashPat = Rule.Check(Keywords(pattern = Some("-")))
    assert(ResumableValidate.ruleHash(noPat) != ResumableValidate.ruleHash(dashPat))
    // a '|' inside one required name must not collide with two names
    val joined = Rule.Check(Keywords(required = List("a|b")))
    val split = Rule.Check(Keywords(required = List("a", "b")))
    assert(ResumableValidate.ruleHash(joined) != ResumableValidate.ruleHash(split))
    // quotes inside a const string must not escape the quoting
    val tricky = Rule.Check(Keywords(const = Some(ConstVal.VStr("\";min=1"))))
    val plain = Rule.Check(Keywords(const = Some(ConstVal.VStr("")),
      minimum = Some(1)))
    assert(ResumableValidate.ruleHash(tricky) != ResumableValidate.ruleHash(plain))
  }

  test("resume refuses a different rule set (rule hash mismatch)") {
    val dir = Files.createTempDirectory("graft_rh").toString
    ResumableValidate.run(spark, freshDocs, rule, dir, partsPerBatch = 6)
    val other = Rule.Check(Keywords(required = List("doc_id")))
    val e = intercept[IllegalStateException] {
      ResumableValidate.run(spark, freshDocs, other, dir)
    }
    assert(e.getMessage.contains("rule hash"))
    // sizing arguments are checked before the commit log is even read
    for ((ppb, fpp, flag) <- Seq((0, 1, "--parts-per-batch"), (8, 0, "--files-per-part"),
        (-1, 1, "--parts-per-batch"))) {
      val bad = intercept[IllegalArgumentException] {
        ResumableValidate.run(spark, freshDocs, other, dir, partsPerBatch = ppb,
          filesPerPart = fpp)
      }
      assert(bad.getMessage.contains(flag), bad.getMessage)
    }
  }

  test("commit rows carry lineage: snapshot id, manifest, metrics") {
    val dir = Files.createTempDirectory("graft_lin").toString
    ResumableValidate.run(spark, freshDocs, rule, dir,
      manifest = Seq("file_a.parquet", "file_b.parquet"), partsPerBatch = 6)
    val txt = readCommit(dir, 0)
    assert(txt.contains("\"snapshot_id\":\"") && txt.contains("file_a.parquet"))
    assert(txt.contains("\"docs\":") && txt.contains("\"wall_ms\":"))
    assert(txt.contains("\"batch\":\"violations_batch_"),
      s"commit must record its batch dir: $txt")
  }

  test("commit log runs against an explicit file:// URI (Hadoop FileSystem path)") {
    val dir = "file://" + Files.createTempDirectory("graft_uri").toString
    val r = ResumableValidate.run(spark, freshDocs, rule, dir, partsPerBatch = 6)
    assert(r.partsDone.size == 6)
    assert(CommitLog.completed(dir).size == 6)
    val v = ResumableValidate.violations(spark, dir)
    assert(v.count() > 0)
  }

  test("resumable path does no direct java.io/nio file I/O (Hadoop FS only)") {
    for (f <- Seq("src/main/scala/graft/sources/CommitLog.scala",
        "src/main/scala/graft/operators/ResumableValidate.scala")) {
      val src = new String(Files.readAllBytes(java.nio.file.Paths.get(f)))
      assert(!src.contains("java.nio.file"), s"$f still imports java.nio.file")
      assert(!src.contains("java.io.File"), s"$f still uses java.io.File")
    }
  }

  test("crash between batch write and commits: resume never duplicates violations") {
    val cleanDir = Files.createTempDirectory("graft_dup_clean").toString
    val dir = Files.createTempDirectory("graft_dup").toString
    ResumableValidate.run(spark, freshDocs, rule, cleanDir, partsPerBatch = 3)
    ResumableValidate.run(spark, freshDocs, rule, dir, partsPerBatch = 3)
    // simulate the crash window: batch parquet landed but part 4's commit
    // did not — delete the commit, leaving orphan rows in the old batch dir
    val cp = commitPath(dir, 4)
    val fs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(cp, false))
    // re-run: part 4 goes into a NEW batch; reader must not see it twice
    val r = ResumableValidate.run(spark, freshDocs, rule, dir, partsPerBatch = 3)
    assert(r.partsDone == Seq(4) && r.partsSkipped.size == 5)
    val a = ResumableValidate.violations(spark, cleanDir)
      .orderBy("part", "doc_id", "path", "rule", "message").collect()
    val b = ResumableValidate.violations(spark, dir)
      .orderBy("part", "doc_id", "path", "rule", "message").collect()
    assert(a.length == b.length && a.sameElements(b),
      s"clean=${a.length} rows, resumed=${b.length} rows (duplicates leaked?)")
  }

  test("per-part sketches persist with commits; restarted run's merged sketch equals single-run") {
    val cleanDir = Files.createTempDirectory("graft_sk_clean").toString
    val crashDir = Files.createTempDirectory("graft_sk_crash").toString
    ResumableValidate.run(spark, freshDocs, rule, cleanDir,
      partsPerBatch = 2, withSketches = true)
    intercept[RuntimeException] {
      ResumableValidate.run(spark, freshDocs, rule, crashDir,
        partsPerBatch = 2, failAfterParts = 2, withSketches = true)
    }
    ResumableValidate.run(spark, freshDocs, rule, crashDir,
      partsPerBatch = 2, withSketches = true)
    // HLL: merged cardinality identical (sketch union is exact wrt merge order)
    val estClean = ResumableValidate.mergedDocIdEstimate(spark, cleanDir)
    val estCrash = ResumableValidate.mergedDocIdEstimate(spark, crashDir)
    assert(estClean == estCrash, s"clean=$estClean resumed=$estCrash")
    assert(estClean > 2500, s"estimate implausibly low: $estClean")
    // KLL: min/max are exact in a KLL sketch; interior quantiles agree
    // within the sketch's rank-error envelope (compaction uses random
    // offsets, so bit-identity across independent aggregations isn't the
    // contract — bounded rank error is)
    import graft.plans.Kll
    val qc = Kll.quantiles(ResumableValidate.mergedKllSketch(spark, cleanDir,
      ResumableValidate.KllNSpansKey), Seq(0.0, 0.1, 0.5, 0.9, 1.0))
    val qx = Kll.quantiles(ResumableValidate.mergedKllSketch(spark, crashDir,
      ResumableValidate.KllNSpansKey), Seq(0.0, 0.1, 0.5, 0.9, 1.0))
    assert(qc.head == qx.head && qc.last == qx.last,
      s"KLL min/max must match exactly: clean=$qc resumed=$qx")
    qc.zip(qx).foreach { case (c, x) =>
      assert(math.abs(c - x) <= 1.0, s"quantile drift beyond envelope: clean=$qc resumed=$qx")
    }
  }

  test("drift-col sketches: crash + resume yields the single-run merged sketch, no rescan") {
    import org.apache.spark.sql.functions._
    val docs = freshDocs.withColumn("n_spans", size(col("spans")))
    val key = ResumableValidate.kllColKey("n_spans")
    // uninterrupted reference run
    val oneDir = Files.createTempDirectory("graft_drift_one").toString
    // partsPerBatch = 1 on BOTH runs: KLL content is update-order-sensitive,
    // and batch size changes the slice each per-part aggregation sees
    ResumableValidate.run(spark, docs, rule, oneDir, driftCols = Seq("n_spans"),
      withSketches = true, partsPerBatch = 1)
    val oneSketch = ResumableValidate.mergedKllSketch(spark, oneDir, key)
    // crashed run + resume
    val crashDir = Files.createTempDirectory("graft_drift_crash").toString
    intercept[RuntimeException] {
      ResumableValidate.run(spark, docs, rule, crashDir, driftCols = Seq("n_spans"),
        withSketches = true, failAfterParts = 3, partsPerBatch = 1)
    }
    val resumed = ResumableValidate.run(spark, docs, rule, crashDir,
      driftCols = Seq("n_spans"), withSketches = true, partsPerBatch = 1)
    assert(resumed.partsSkipped.size == 3, "resume must skip the committed parts")
    // the merged sketch derives from commit bytes only; KLL compaction is
    // RANDOMIZED (DataSketches), so two sketches of the same data agree to
    // the published normalized rank error (~0.8% at k=200), not bit-for-bit
    // (the union/merge step is itself randomized, so even re-merging the
    // SAME commit bytes wobbles quantiles by one discrete step — only
    // rank-error-bounded assertions are sound)
    val resSketch = ResumableValidate.mergedKllSketch(spark, crashDir, key)
    val probs = Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
    graft.plans.Kll.quantiles(resSketch, probs)
      .zip(graft.plans.Kll.quantiles(oneSketch, probs)).foreach { case (a, b) =>
        assert(math.abs(a - b) <= 1.0, s"quantile gap beyond one step: $a vs $b")
      }
    assert(graft.plans.Kll.ks(oneSketch, resSketch) < 0.02,
      "resume-run sketch must match single-run within KLL rank error")
  }

  test("per-part KLL sketches count each part's committed docs exactly; " +
      "the write observes Spark's kll_sketch_agg_double") {
    import graft.plans.Kll
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("graft_kll_n").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan.toString): Unit
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ResumableValidate.run(spark, freshDocs, rule, dir, partsPerBatch = 4,
        withSketches = true, driftCols = Seq("part"))
      GraftShims.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.toArray.exists(_.toString.contains("kll_sketch_agg_double(")),
      s"no kll_sketch_agg_double in the run's plans:\n${plans.toArray.mkString("\n")}")
    // getN is exact, unlike the quantiles: every doc of a part is counted
    val commits = CommitLog.read(dir).values.toSeq.sortBy(_.part)
    assert(commits.map(_.part) == (0 to 5))
    for (c <- commits; key <- Seq(ResumableValidate.KllNSpansKey,
        ResumableValidate.kllColKey("part"))) {
      assert(c.docs > 0L)
      assert(Kll.deserialize(c.sketches(key)).getN == c.docs,
        s"part ${c.part} $key: n != docs ${c.docs}")
    }
    val total = commits.map(_.docs).sum
    assert(total == 3000L)
    assert(Kll.deserialize(ResumableValidate.mergedKllSketch(spark, dir,
      ResumableValidate.KllNSpansKey)).getN == total)
  }

  test("a commit log mixing library-serialized KLL sketch bytes with new " +
      "commits still merges") {
    import graft.plans.Kll
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.spark.sql.functions.size
    val dir = Files.createTempDirectory("graft_kll_mixed").toString
    ResumableValidate.run(spark, freshDocs, rule, dir, partsPerBatch = 2,
      withSketches = true)
    val nSpans = freshDocs.select(col("part"), size(col("spans")).cast("double"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1))
    // part 2's commit rewritten with the bytes a heap KllDoublesSketch
    // (k = 200) serializes to, as commit logs held before the built-in
    // aggregate built them
    val old = KllDoublesSketch.newHeapInstance(200)
    nSpans.collect { case (2, v) => v }.foreach(v => old.update(v))
    val c2 = CommitLog.read(dir)(2)
    assert(old.getN == c2.docs)
    CommitLog.write(dir, c2.copy(sketches =
      c2.sketches.updated(ResumableValidate.KllNSpansKey, old.toByteArray)))
    val merged = Kll.deserialize(ResumableValidate.mergedKllSketch(spark, dir,
      ResumableValidate.KllNSpansKey))
    assert(merged.getN == CommitLog.docCounts(dir).values.sum)
    assert(merged.getN == nSpans.length.toLong)
    // KLL keeps min and max exactly
    assert(merged.getMinItem == nSpans.map(_._2).min)
    assert(merged.getMaxItem == nSpans.map(_._2).max)
  }

  test("merged sketch report refuses partial coverage (some parts sketchless)") {
    import org.apache.spark.sql.functions._
    // crash under PLAIN validation (no sketches), then resume WITH
    // sketches: the merged report must error naming the sketchless parts,
    // never present subset stats as whole-run numbers
    val docs = freshDocs.withColumn("n_spans", size(col("spans")))
    val dir = Files.createTempDirectory("graft_partial_sketch").toString
    intercept[RuntimeException] {
      ResumableValidate.run(spark, docs, rule, dir,
        failAfterParts = 3, partsPerBatch = 1) // no sketches
    }
    ResumableValidate.run(spark, docs, rule, dir,
      driftCols = Seq("n_spans"), withSketches = true, partsPerBatch = 1)
    val e = intercept[IllegalArgumentException] {
      ResumableValidate.mergedKllSketch(spark, dir,
        ResumableValidate.kllColKey("n_spans"))
    }
    assert(e.getMessage.contains("validated without sketches"), e.getMessage)
    intercept[IllegalArgumentException] {
      ResumableValidate.mergedDocIdEstimate(spark, dir)
    }
  }

  test("commit JSON round-trips manifest paths containing quotes and newlines") {
    // the old regex read side truncated at the \" that esc writes — a
    // quote in an object-store key silently corrupted the manifest and a
    // hash with a quote broke resume's rule-hash check
    val dir = Files.createTempDirectory("graft_quote_commit").toString
    val nastyManifest = Seq("s3a://b/weird\"key.parquet", "line1\nline2", "tab\tpath")
    val nastyHash = "h\"ash\\with\nnasties"
    val sk = Map("k\"1" -> Array[Byte](1, 2, 3))
    val written = CommitLog.Commit(7, 10, 2, 3, nastyHash, "snap",
      nastyManifest, 5, batch = "violations_batch_\"7", sketches = sk)
    CommitLog.write(dir, written)
    assert(CommitLog.completed(dir) == Map(7 -> nastyHash))
    assert(CommitLog.failedDocsTotal(dir) == 2L)
    val c = CommitLog.read(dir)
    assert(c.keySet == Set(7))
    // every field round-trips (sketch bytes compared below: arrays have
    // reference equality)
    assert(c(7).copy(sketches = Map.empty) == written.copy(sketches = Map.empty))
    val got = c(7).sketches
    assert(got.keySet == Set("k\"1") && got("k\"1").toSeq == Seq[Byte](1, 2, 3))
  }

  test("violations() reads logs whose commits predate the batch field") {
    val dir = Files.createTempDirectory("graft_legacy").toString
    ResumableValidate.run(spark, freshDocs, rule, dir,
      manifest = Seq("gen:3000:6"), partsPerBatch = 2)
    val modern = ResumableValidate.violations(spark, dir)
      .orderBy("doc_id", "path", "rule").collect()
    assert(modern.nonEmpty)
    // the known schema is the one a read of the batch dir infers
    assert(ResumableValidate.ViolationSchema ==
      spark.read.parquet(s"$dir/violations_batch_0").schema)
    // simulate a pre-upgrade log: rewrite every commit WITHOUT a batch name
    CommitLog.completed(dir, spark.sparkContext.hadoopConfiguration)
      .keys.foreach { p =>
        CommitLog.write(dir, CommitLog.Commit(p, 0, 0, 0, "", "", Nil, 0),
          spark.sparkContext.hadoopConfiguration)
      }
    val legacy = ResumableValidate.violations(spark, dir)
      .orderBy("doc_id", "path", "rule").collect()
    assert(legacy.sameElements(modern),
      s"legacy=${legacy.length} modern=${modern.length}")

    // a clean run reads back empty, with the violation schema, in both
    // forms; only a log with no commits raises
    val cleanDir = Files.createTempDirectory("graft_clean_readback").toString
    ResumableValidate.run(spark, DocsGen.docs(spark, DocsGen.Knobs(nDocs = 600, nParts = 3)),
      rule, cleanDir, partsPerBatch = 2)
    val clean = ResumableValidate.violations(spark, cleanDir)
    assert(clean.schema == ResumableValidate.ViolationSchema)
    assert(clean.count() == 0)
    CommitLog.completed(cleanDir).keys.foreach { p =>
      CommitLog.write(cleanDir, CommitLog.Commit(p, 0, 0, 0, "", "", Nil, 0))
    }
    assert(ResumableValidate.violations(spark, cleanDir).count() == 0)
    val noCommits = Files.createTempDirectory("graft_no_commits").toString
    val e = intercept[IllegalArgumentException](ResumableValidate.violations(spark, noCommits))
    assert(e.getMessage.contains("no commits"), e.getMessage)
  }
}
