package graft.operators

import graft.SparkSpec
import graft.rules.{Keywords, Rule}
import graft.sources.DocsGen
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Physical-plan assertions — the scale properties the engine is designed
  * around must be visible in `explain` output, not just claimed:
  * shuffle-free per-row validation, partition pruning on resume, column
  * pruning for metadata-only media queries, broadcast anti-join for RI.
  */
class PlanSpec extends SparkSpec {

  /** The IVF probe without a persisted index: assigns every vector, keeps
    * the `nProbe` nearest lists, exact top-k by cosine within them.
    */
  private def ivfTopK(df: org.apache.spark.sql.DataFrame, idCol: String,
      vecCol: String, centroids: Seq[Seq[Double]], query: Seq[Float], k: Int,
      nProbe: Int): org.apache.spark.sql.DataFrame =
    Similarity.ivfAssign(df, idCol, vecCol, centroids)
      .filter(col("centroid").isin(Similarity.probeLists(centroids, query, nProbe): _*))
      .select(col("id"),
        Similarity.cosine(transform(col("vec"), x => x.cast("double")),
          typedlit(query.map(_.toDouble))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)

  private lazy val docsPath = {
    val dir = Files.createTempDirectory("graft_plan").toString
    DocsGen.docs(spark, DocsGen.Knobs(nDocs = 2000, nParts = 4))
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    dir
  }

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("per-row validation is shuffle-free (no Exchange before verdict agg)") {
    val docs = spark.read.parquet(docsPath)
    val rule = Rule.Check(Keywords(required = List("doc_id", "spans")))
    val plan = planOf(Validate.withViolations(docs, rule)
      .withColumn("sv", SpanInvariant.predCol(col("spans"))))
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // the span kernel runs inside a whole-stage codegen stage (`*(n)`
    // prefix), not as an interpreted UDF
    val kernelLines = plan.linesIterator.filter(_.contains("SpanOps.holds")).toSeq
    assert(kernelLines.nonEmpty &&
      kernelLines.forall(_.matches("""^[\s:+\-]*\*\(\d+\) .*""")),
      s"span kernel outside whole-stage codegen:\n$plan")
    assert(!plan.contains("UDF"), s"unexpected UDF:\n$plan")
  }

  test("resume part-filter prunes partitions at the source") {
    val docs = spark.read.parquet(docsPath).filter(col("part").isin(1, 2))
    val plan = docs.queryExecution.executedPlan.toString
    // partition-column filter must land in PartitionFilters, not a
    // post-scan Filter over all data
    assert(plan.contains("PartitionFilters") && plan.contains("part"),
      s"no partition pruning:\n$plan")
    // runtime evidence: only files under the selected partitions are read
    // (inputFiles reports the unpruned relation, so check at execution)
    val touched = docs.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(touched.nonEmpty &&
      touched.forall(f => f.contains("part=1") || f.contains("part=2")),
      s"scan read files outside the requested partitions: ${touched.mkString(",")}")
  }

  test("metadata-only media query prunes the binary content column") {
    val dir = Files.createTempDirectory("graft_media").toString
    Multimodal.syntheticMedia(spark, 100).write.mode("overwrite").parquet(dir)
    val metaOnly = spark.read.parquet(dir).select("media_ref", "mime")
    val plan = metaOnly.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("content"),
      s"content column not pruned:\n$plan")
  }

  test("referential-integrity anti-join broadcasts the catalog") {
    val docs = spark.read.parquet(docsPath)
    val catalog = DocsGen.mediaCatalog(spark, DocsGen.Knobs())
    val plan = planOf(RefIntegrity.dangling(docs, catalog))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"expected broadcast anti-join:\n$plan")
  }

  test("dedup candidate plans have no Window and no Sort (bucket cap is agg+anti-join)") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"), (3L, "x y z w v u t"))
      .toDF("doc_id", "text")
    val plans = Seq(
      planOf(Dedup.minHashCandidates(docs, "doc_id", "text")),
      planOf(Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)),
      planOf(Similarity.cosineNearDupPairs(
        Seq((1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dims = 2)))
    plans.foreach { p =>
      // the bucket cap must not force a Window (full shuffle+sort of the
      // banded corpus just to annotate bucket sizes); the join itself may
      // legitimately be SMJ — that sort is Spark's join choice, not ours
      assert(!p.contains("Window"), s"Window sort in candidate plan:\n$p")
    }
  }

  test("exactMembers marks representatives without a Window (groupBy min + join)") {
    import spark.implicits._
    val docs = Seq((3L, "same text"), (1L, "same text"), (2L, "other"))
      .toDF("doc_id", "text")
    val members = Dedup.exactMembers(docs, "doc_id", "text")
    val p = planOf(members)
    assert(!p.contains("Window"), s"Window in exactMembers plan:\n$p")
    val rows = members.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    assert(rows.sameElements(Array((1L, true), (2L, true), (3L, false))),
      s"min-id representative marking wrong: ${rows.mkString(",")}")
  }

  test("lshTopK is a single scan (no union of per-table passes)") {
    import spark.implicits._
    val vecs = (0 until 50).map(i => (i.toLong, Seq.tabulate(8)(d =>
      (((i * 31 + d) % 17) - 8).toFloat))).toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("graft_lsh").toString
    vecs.write.mode("overwrite").parquet(dir)
    val onDisk = spark.read.parquet(dir)
    val q = Seq.tabulate(8)(d => ((d % 17) - 8).toFloat)
    val plan = planOf(Similarity.lshTopK(onDisk, "vec_id", "embedding", q, k = 5,
      nPlanes = 4, nTables = 4))
    assert(!plan.contains("Union"), s"multi-scan union in lshTopK plan:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).size == 1,
      s"expected exactly one parquet scan:\n$plan")
    // and the driver-side bucket math is bit-identical to the executor
    // expression: the Spark-evaluated bucket of q equals lshBucketScala
    val sparkBucket = spark.range(1).select(Similarity.lshBucket(
      typedlit(q.map(_.toDouble)), 8, 4, 2).as("b")).collect()(0).getLong(0)
    assert(sparkBucket == Similarity.lshBucketScala(q.map(_.toDouble), 4, 2))
  }

  test("LSH indexed probe prunes to the query's (tbl, bucket) partitions") {
    import spark.implicits._
    val vecs = (0 until 120).map(i => (i.toLong, Seq.tabulate(8)(d =>
      (((i * 31 + d) % 17) - 8).toFloat))).toDF("vec_id", "embedding")
    val idx = Files.createTempDirectory("graft_lsh_idx").toString
    Similarity.lshWriteIndex(vecs, "vec_id", "embedding", dims = 8, idx,
      nPlanes = 4, nTables = 2)
    val q = Seq.tabulate(8)(d => ((d % 17) - 8).toFloat)
    val probe = Similarity.lshTopKIndexed(spark, idx, q, k = 10,
      nPlanes = 4, nTables = 2)
    // the probe mounts ONLY the query's bucket leaf dirs (path-constructed
    // on the driver) — stronger than PartitionFilters pruning: the file
    // index never even lists the other 2^nPlanes×nTables directories
    val qd = q.map(_.toDouble)
    val wantDirs = (0 until 2).map(t =>
      s"tbl=$t/bucket=${Similarity.lshBucketScala(qd, 4, t)}").toSet
    val roots = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.nonEmpty && roots.forall(r => wantDirs.exists(r.contains)),
      s"probe mounted outside its buckets: ${roots.mkString(",")} vs $wantDirs")
    // and the indexed probe returns exactly the ad-hoc lshTopK rows
    val adhoc = Similarity.lshTopK(vecs, "vec_id", "embedding", q, k = 10,
      nPlanes = 4, nTables = 2).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val indexed = probe.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(indexed.sameElements(adhoc),
      s"indexed=${indexed.mkString(",")} adhoc=${adhoc.mkString(",")}")
  }

  test("IVF indexed probe prunes to the probed centroid partitions") {
    import spark.implicits._
    val vecs = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(4)(d => (((i * 13 + d * 7) % 19) - 9).toFloat))
    }.toDF("vec_id", "embedding")
    val centroids: Seq[Seq[Double]] =
      Seq(Seq(1.0, 0, 0, 0), Seq(0, 1.0, 0, 0), Seq(0, 0, 1.0, 0), Seq(0, 0, 0, 1.0))
    val idx = Files.createTempDirectory("graft_ivf").toString
    Similarity.ivfWriteIndex(vecs, "vec_id", "embedding", centroids, idx)
    val q = Seq(1f, 0.2f, 0f, 0f)
    val probe = Similarity.ivfTopKIndexed(spark, idx, centroids, q, k = 10, nProbe = 2)
    // the probe mounts ONLY the probed centroid leaf dirs (see the LSH
    // probe test: path construction replaces partition-filter pruning)
    val lists = Similarity.probeLists(centroids, q, 2).toSet
    val roots = probe.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(roots.nonEmpty &&
      roots.forall(r => lists.exists(l => r.contains(s"centroid=$l"))),
      s"probe mounted outside its lists: ${roots.mkString(",")} vs $lists")
    // and the indexed probe returns the same rows as the ad-hoc probe
    val adhoc = ivfTopK(vecs, "vec_id", "embedding", centroids, q,
      k = 10, nProbe = 2).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val indexed = probe.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(indexed.sameElements(adhoc))
  }

  test("uniqueness two-phase agg has partial aggregation before the shuffle") {
    val docs = spark.read.parquet(docsPath)
    val plan = planOf(Uniqueness.duplicates(docs, "doc_id"))
    // HashAggregate(partial) -> Exchange -> HashAggregate(final|merge)
    assert(plan.contains("HashAggregate") && plan.contains("Exchange"))
    val firstAgg = plan.indexOf("HashAggregate")
    assert(firstAgg >= 0, s"no hash aggregate:\n$plan")
  }

  test("bucketed tables join without a shuffle (co-located join path)") {
    // the 100 TB plan for repeated doc_id joins (docs x violations x
    // metadata): bucket both sides on the key at write time; the join
    // then runs exchange-free. Demonstrated, not just claimed.
    val s2 = spark.newSession() // session-scoped confs, shared warehouse
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the issue
    import org.apache.spark.sql.functions.{col => c}
    s2.range(10000).select(c("id").as("doc_id"), (c("id") % 7).as("x"))
      .write.format("parquet").bucketBy(8, "doc_id")
      .mode("overwrite").saveAsTable("graft_bucket_a")
    s2.range(5000).select(c("id").as("doc_id"), (c("id") % 3).as("y"))
      .write.format("parquet").bucketBy(8, "doc_id")
      .mode("overwrite").saveAsTable("graft_bucket_b")
    val joined = s2.table("graft_bucket_a").join(s2.table("graft_bucket_b"), "doc_id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    assert(joined.count() == 5000)
    s2.sql("DROP TABLE graft_bucket_a")
    s2.sql("DROP TABLE graft_bucket_b")
  }

  test("per-row text signals and upsampling stay in the scan stage (no Exchange)") {
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("some words here repeated words "), col("id").cast("string")).as("text"),
      when(col("id") % 2 === 0, "en").otherwise("de").as("lang"))
    // repetition signals: per-row folds, zero shuffle
    val rep = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
    assert(!planOf(rep).contains("Exchange"), s"shuffle in repetition:\n${planOf(rep)}")
    // PII counts + redaction: pure regexp codegen, zero shuffle
    val (em, ip, ph) = TextAnalysis.piiCounts(col("text"))
    val pii = docs.select(col("doc_id"), em, ip, ph,
      TextAnalysis.redactPii(col("text")))
    assert(!planOf(pii).contains("Exchange"), s"shuffle in pii:\n${planOf(pii)}")
    // mixture upsampling: literal CASE + explode in the scan stage
    val up = Sampling.upsample(docs, "doc_id", "lang", Map("en" -> 2.25, "de" -> 0.5))
    val upPlan = planOf(up)
    assert(!upPlan.contains("Exchange"), s"shuffle in upsample:\n$upPlan")
    assert(upPlan.contains("Generate"), s"no explode in upsample plan:\n$upPlan")
  }

  test("bloom-tier RI: one conditional anti-join, one corpus scan (no union)") {
    val docs = spark.read.parquet(docsPath)
    val catalog = DocsGen.mediaCatalog(spark, DocsGen.Knobs())
    val plan = planOf(RefIntegrity.danglingRefsBloom(docs, catalog,
      expectedItems = 1000L, fpp = 0.01))
    val joins = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findAllIn(plan).length
    assert(joins == 1, s"expected exactly 1 join, got $joins:\n$plan")
    // both tiers lower into the one join — no two-branch union, and the
    // docs parquet is scanned once
    assert(!plan.contains("Union"), s"two-tier union would scan twice:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans <= 1, s"expected a single docs scan, got $scans:\n$plan")
  }

  test("heavy hitters: no Window; TakeOrdered top-k after partial agg") {
    val df = spark.range(10000).select((col("id") % 64).as("k"), col("id"))
    val plan = planOf(Stats.heavyHitters(df, "k", k = 5, targetRowsPerTask = 100L))
    assert(!plan.contains("Window"), s"Window in heavy hitters:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no TakeOrdered:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"no partial aggregation before shuffle:\n$plan")
  }

  test("sessionize: lag + running sum share one Exchange+Sort; sessionStats is join-free") {
    val ev = spark.range(5000).select((col("id") % 50).as("user_id"),
      timestamp_seconds(lit(1700000000L) + (col("id") % 977) * lit(700)).as("ts"))

    // withSessions event side: the bucket-local running sum (_local_idx)
    // must sit DIRECTLY on the lag Window — same (user, _bucket, ts) spec,
    // so the sort/shuffle done for the lag also serves the sum. Any Sort
    // or Exchange between the two Window nodes means the event table is
    // sorted twice.
    val wsPlan = planOf(Sessionize.withSessions(ev, "user_id", "ts"))
    val between = "(?s)Window \\[sum\\(_new_local.*?Window \\[lag\\(ts".r
      .findFirstIn(wsPlan)
      .getOrElse(fail(s"expected sum-over-lag Window pair:\n$wsPlan"))
    assert(!between.contains("Sort [") && !between.contains("Exchange"),
      s"second sort/shuffle between the event-side Windows:\n$wsPlan")
    // same for the summary side: cumulative _contrib sum over the _stitch lag
    val betweenSummary = "(?s)Window \\[sum\\(_contrib.*?Window \\[lag\\(_last_ts".r
      .findFirstIn(wsPlan)
      .getOrElse(fail(s"expected summary Window pair:\n$wsPlan"))
    assert(!betweenSummary.contains("Sort [") && !betweenSummary.contains("Exchange"),
      s"second sort/shuffle between the summary Windows:\n$wsPlan")

    // sessionStats aggregates the stitched summary directly: no join back
    // to the event table, the unused _cum_before window pruned away, and
    // the final per-user groupBy reuses the byUser window's partitioning
    // (2 Windows, 2 Exchanges total).
    val stPlan = planOf(Sessionize.sessionStats(ev, "user_id", "ts"))
    assert(!"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r
      .findFirstIn(stPlan).isDefined, s"join in sessionStats plan:\n$stPlan")
    assert("Window \\[".r.findAllIn(stPlan).length == 2,
      s"expected 2 Windows in sessionStats:\n$stPlan")
    assert("Exchange hashpartitioning".r.findAllIn(stPlan).length == 2,
      s"expected 2 Exchanges in sessionStats:\n$stPlan")
  }

  test("compaction plan: one running-sum Window per partition, keep branch window-free") {
    val manifest = spark.range(1000).select(
      (col("id") % 8).cast("int").as("part"),
      concat(lit("f"), col("id")).as("path"),
      (col("id") % 700 + 10).as("bytes"))
    val plan = planOf(Layout.compactionPlan(manifest, 2048L, 1024L))
    assert("Window".r.findAllIn(plan).length == 1,
      s"expected exactly one Window (small branch):\n$plan")
  }

  test("mixture sample: broadcast-joined scan filter — no shuffle of the corpus") {
    val docs = spark.range(0, 5000)
      .select(col("id"), concat(lit("s"), pmod(col("id"), lit(3))).as("source"),
        (col("id") % 7 + 1).as("mass"))
    val plan = Mixture.rates(docs, "source", "mass",
      Map("s0" -> 0.5, "s1" -> 0.3, "s2" -> 0.2), maxRate = 0.9)
    val sampled = Mixture.sampleByRates(docs, "id", "source", plan)
    val p = planOf(sampled)
    // the corpus side reaches the join through scan+filter only: the only
    // Exchanges belong to the tiny rates sub-plan (per-source agg + 1-row
    // min), and the corpus joins via BroadcastHashJoin
    assert(p.contains("BroadcastHashJoin"), s"mixture join not broadcast:\n$p")
    val corpusSide = p.linesIterator.toSeq
      .takeWhile(l => !l.contains("BroadcastExchange"))
    assert(!corpusSide.exists(_.contains("Exchange hashpartitioning")),
      s"corpus shuffled before the mixture filter:\n$p")
  }

  test("retention winner agg is partially aggregated before its shuffle") {
    val clusters = spark.range(100).select(col("id"),
      (col("id") % 10).as("cluster_id"))
    val docs = spark.range(100).select(col("id").as("doc_id"),
      (col("id") % 13).as("quality"))
    val p = planOf(DupClusters.retention(clusters, docs, "doc_id", "quality"))
    // min(struct(...)) must map-side combine: a partial HashAggregate
    // appears under the winners' Exchange (a mega-cluster contributes one
    // row per upstream partition, not its membership)
    assert("HashAggregate.*partial_min".r.findFirstIn(p.replace("\n", " "))
      .isDefined || p.contains("partial_min") ||
      ("HashAggregate\\(keys=\\[cluster_id".r.findAllIn(p).length >= 2),
      s"no partial aggregation for the retention winner:\n$p")
  }

  test("packedTexts: exactly one shuffle groups slices into bins " +
      "(plus the manifest's per-shard window)") {
    val docs = spark.range(1, 200).select(col("id").as("doc_id"),
        concat(lit("tok "), col("id"), lit(" end")).as("text"))
      .withColumn("_shard", lit(0))
      .withColumn("_nt", TextAnalysis.tokenCountWs(col("text")).cast("long"))
    val manifest = Packing.packConcatCounted(docs, "doc_id", "_nt",
      capacity = 16, shards = 1, shardCol = Some("_shard"))
    val p = planOf(Packing.packedTexts(manifest, docs, "doc_id", "text",
      capacity = 16))
    // shuffles: 1 for the manifest running-sum window, 1 for the bin
    // groupBy, plus at most the join's own distribution — but never a
    // re-shuffle of already-grouped slices
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3, s"too many shuffles ($exchanges) in packedTexts:\n$p")
    assert("Window".r.findAllIn(p).length == 1,
      s"expected exactly the manifest window:\n$p")
  }

  test("forget: broadcast anti-join, zero shuffle of the corpus") {
    val corpus = spark.range(0, 100000).select(col("id"),
      concat(lit("d"), col("id")).as("payload"))
    val dels = spark.range(0, 100000, 997).select(col("id").as("del"))
    val p = planOf(Forget.forget(corpus, dels, "id", "del"))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstone anti-join did not broadcast:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corpus shuffled for a broadcast-sized delete list:\n$p")
  }

  test("curriculum: range exchange + per-pid windows, never a " +
      "single-partition global sort") {
    val df = spark.range(0, 50000).select(col("id"),
      (col("id") % 997).as("s"))
    val p = planOf(Sampling.curriculum(df,
      Seq(col("s").desc, col("id")), n = 8))
    assert(p.contains("rangepartitioning"),
      s"no range repartition phase:\n$p")
    // every Window must partition by the pid — an empty partitionBy
    // ('windowspecdefinition(s#...' with no partition spec) would funnel
    // the corpus through one task
    assert(p.contains("windowspecdefinition(_pid"),
      s"rank window not partitioned by pid:\n$p")
    assert(!"windowspecdefinition\\((s|id)#".r.findFirstIn(p).isDefined,
      s"global (single-partition) window in the plan:\n$p")
  }

  test("evidence sampling lowers to WindowGroupLimit (map-side truncation)") {
    val viols = spark.range(0, 10000).select(
      col("id").as("doc_id"),
      concat(lit("p"), col("id") % 3).as("path"),
      concat(lit("r"), col("id") % 2).as("rule"))
    val p = planOf(Validate.evidence(viols, k = 3))
    assert(p.contains("WindowGroupLimit"),
      s"rn <= k filter did not lower to WindowGroupLimit:\n$p")
  }

  test("budgetCap: one Exchange on the group, sort bounded by it") {
    val df = spark.range(0, 10000).select(col("id"),
      (col("id") % 7).cast("string").as("g"), lit(10L).as("tok"))
    val p = planOf(Sampling.budgetCap(df, "id", "g", "tok", 1000L, "z"))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"budgetCap should shuffle once on the group key:\n$p")
    assert(p.contains("windowspecdefinition(g#"),
      s"running sum not partitioned by group:\n$p")
  }

  test("rankDrift: two TakeOrdered heads, never a global sort of the " +
      "count tables") {
    val a = spark.range(0, 20000).select((col("id") % 523).as("k"))
    val b = spark.range(0, 20000).select((col("id") % 719).as("k"))
    val p = planOf(Drift.rankDrift(a, b, "k", 20))
    assert("TakeOrderedAndProject".r.findAllIn(p).length == 2,
      s"top-k heads did not lower to TakeOrdered:\n$p")
    // the rank windows and the full-outer join run on the k-row heads:
    // every Sort in the plan must sit ABOVE a TakeOrdered truncation,
    // which the windows' missing partition spec would otherwise violate
    // at corpus size — asserted by the TakeOrdered count plus the join
    // inputs being limit-bounded (no corpus-sized Exchange after them)
  }

  test("splitParity: result is a driver-local relation (the corpus was " +
      "scanned exactly once, inside the histogram collect)") {
    val df = spark.range(0, 20000).select(col("id"),
      (col("id") % 256).cast("double").as("v"))
    val parity = Sampling.splitParity(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      "v", lo = 0.0, hi = 256.0, bins = 8)
    val p = parity.queryExecution.optimizedPlan.toString
    assert(p.contains("LocalRelation"),
      s"splitParity result should carry no corpus lineage:\n$p")
    assert(!p.contains("Range"),
      s"corpus lineage leaked into the parity result:\n$p")
  }

  test("burstiness: one Exchange total — the lag window is partitioned " +
      "by the key and the moment rollup reuses its partitioning") {
    val df = spark.range(0, 10000).select((col("id") % 97).as("u"),
      timestamp_seconds(col("id") * 7).as("t"))
    val p = planOf(Temporal.burstiness(df, "u", "t"))
    assert(p.contains("windowspecdefinition(key#"),
      s"gap window not partitioned by the key:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"moment rollup re-shuffled data already partitioned by key:\n$p")
  }

  test("gapsAudit: one Exchange total — lag window and argmax rollup " +
      "share the segment partitioning") {
    val df = spark.range(0, 10000).select((col("id") % 7).cast("string")
      .as("s"), timestamp_seconds(col("id") * 11).as("t"))
    val p = planOf(Temporal.gapsAudit(df, "s", "t", 60L))
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"gap audit re-shuffled partitioned data:\n$p")
  }

  test("encoding/script/length audits: one shuffle each, all counting " +
      "in codegen string ops (no ScalaUDF anywhere)") {
    val df = spark.range(0, 5000).select((col("id") % 9).cast("string")
      .as("src"), concat(lit("text "), col("id")).as("text"),
      (col("id") % 300 + 1).as("n_chars"))
    Seq(TextAnalysis.encodingAudit(df, "src", "text"),
        TextAnalysis.scriptProfile(df, "src", "text"),
        Stats.lengthFit(df, "src", "n_chars")).foreach { out =>
      val p = planOf(out)
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
        s"audit should shuffle once on the segment:\n$p")
      assert(!p.contains("ScalaUDF"), s"UDF in a codegen-claimed plan:\n$p")
    }
  }

  test("correlations: result is a driver-local relation — ALL pairs' " +
      "moments folded in one scan, pair count never multiplies scans") {
    val df = spark.range(0, 10000).select(col("id").cast("double").as("x"),
      (col("id") * 2).cast("double").as("y"),
      (col("id") * 3).cast("double").as("z"))
    val p = Stats.correlations(df,
      Seq(("x", "y"), ("x", "z"), ("y", "z")))
      .queryExecution.optimizedPlan.toString
    assert(p.contains("LocalRelation"),
      s"correlations result should carry no corpus lineage:\n$p")
    assert(!p.contains("Range"),
      s"corpus lineage leaked into the correlations result:\n$p")
  }

  test("ruleSchedule / crossFieldAudit: ONE corpus scan folded to a " +
      "single row — no per-key shuffle anywhere") {
    val df = spark.range(0, 10000).select(col("id").as("doc_id"),
      (col("id") % 97).as("n_chars"),
      concat(lit("t"), col("id")).as("text"))
    val rules = Seq(
      "a" -> Rule.Check(Keywords(properties = Map(
        "n_chars" -> Rule.Check(Keywords(minimum = Some(0)))))),
      "b" -> Rule.Check(Keywords(properties = Map(
        "doc_id" -> Rule.Check(Keywords(maximum = Some(-1)))))))
    val sched = Validate.ruleSchedule(df,
      rules.zip(Seq(1.0, 2.0)).map { case ((n, r), c) => (n, r, c) })
    val audit = Validate.crossFieldAudit(df, Seq(
      ("len", col("n_chars") >= 0), ("pos", col("doc_id") >= 0)), "doc_id")
    val coverage = Validate.ruleCoverage(df, rules)
    val failFast = Validate.failFastProfile(df, rules)
    val metrics = Enforce.metrics(df, rules.map { case (n, r) =>
      Enforce.Expectation(n, r, Enforce.Action.Warn) })
    Seq(sched, audit, coverage, failFast, metrics).map(planOf).foreach { p =>
      assert("""Range \(""".r.findAllIn(p).length == 1,
        s"corpus scanned more than once:\n$p")
      assert(!p.contains("Exchange hashpartitioning") ||
        "Exchange hashpartitioning\\(1[,)]".r.findFirstIn(p).isDefined,
        s"per-key shuffle in a single-row fold:\n$p")
    }
  }

  // the FINAL adaptive plan (after execution) is where exchange reuse is
  // visible; the pre-execution string double-prints shared branches
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  test("joinExplosion: corpus scanned ONCE — the totals branch reuses " +
      "the per-key count exchange; never a cartesian; top-k lowers to " +
      "TakeOrdered") {
    val df = spark.range(0, 5000)
      .select((col("id") % 37).cast("string").as("k"))
    val p = finalPlanOf(Layout.joinExplosion(df, "k", df, "k", 4L, 20))
    assert(!p.contains("CartesianProduct"), s"cartesian advisory join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k should lower to TakeOrdered, not a global sort:\n$p")
    assert("""Range \(""".r.findAllIn(p).length == 1,
      s"corpus scanned more than once:\n$p")
    assert("ReusedExchange".r.findAllIn(p).length >= 2,
      s"the count exchange should be computed once and reused:\n$p")
  }

  test("urlDupGroups / exactVecDups: hash aggregation with map-side " +
      "combine; the canonicalization expression is a projected column, " +
      "never a SortAggregate grouping expression") {
    val urls = spark.range(0, 5000)
      .select(concat(lit("https://a.com/p/"), col("id") % 100).as("url"))
    val pUrl = planOf(Dedup.urlDupGroups(urls, "url"))
    assert(pUrl.contains("partial_count"),
      s"no map-side combine in urlDupGroups:\n$pUrl")
    // the CORPUS-side (bottom-most) aggregate must be hash-based; the
    // canon rollup above the first exchange is summary-sized and may be
    // a SortAggregate (min over strings has no hash-agg buffer)
    assert(pUrl.lastIndexOf("HashAggregate") >
        pUrl.lastIndexOf("SortAggregate"),
      s"corpus-side aggregate fell back to sort aggregation:\n$pUrl")
    assert("Exchange hashpartitioning".r.findAllIn(pUrl).length == 2,
      s"expected the (canon, raw) and canon agg exchanges only:\n$pUrl")
    val vecs = spark.range(0, 5000).select(col("id").as("vec_id"),
      array((col("id") % 50).cast("float")).as("embedding"))
    val pVec = planOf(Similarity.exactVecDups(vecs, "vec_id", "embedding"))
    assert(pVec.contains("partial_count"),
      s"no map-side combine in exactVecDups:\n$pVec")
  }

  test("loadProfile / freshness: ONE corpus scan each; the watermark is " +
      "a summary window, never a second aggregation branch (column " +
      "pruning would defeat exchange reuse and re-scan)") {
    val ev = spark.range(0, 20000).select(
      (col("id") % 5).cast("string").as("g"),
      timestamp_seconds(col("id") % 100000).as("ts"))
    val pLoad = planOf(Temporal.loadProfile(ev, "g", "ts"))
    assert("""Range \(""".r.findAllIn(pLoad).length == 1,
      s"loadProfile scanned the corpus twice:\n$pLoad")
    val pFresh = planOf(Temporal.freshness(ev, "g", "ts", 3600L))
    assert("""Range \(""".r.findAllIn(pFresh).length == 1,
      s"freshness re-scanned the corpus for the watermark:\n$pFresh")
    assert(!pFresh.contains("Join"),
      s"freshness should need no join at all:\n$pFresh")
  }

  test("sketch-path profiling plans no Expand (exact multi-distinct stays oracle-only)") {
    // the production cardinality path is mergeable sketches; a
    // multi-column exact countDistinct in one agg lowers to an N-way
    // Expand of the corpus, which is confined to the checked oracle row
    // (g_stats_hll) and must never leak into the sketch path
    val docs = spark.range(2000).select(
      (col("id") % 16).as("part"), (col("id") % 97).cast("string").as("text"))
    val sketches = Stats.partitionSketches(docs, "text", "part")
    val pSk = planOf(sketches)
    val pMerged = planOf(Stats.unionSketches(sketches))
    assert(!pSk.contains("Expand"), s"Expand in partitionSketches plan:\n$pSk")
    assert(!pMerged.contains("Expand"), s"Expand in unionSketches plan:\n$pMerged")
  }
}
