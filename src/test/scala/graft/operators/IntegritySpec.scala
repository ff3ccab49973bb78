package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Content manifests, FK cardinality contracts, schema migration and
  * incremental dedup — the round-5 operator wave.
  */
class IntegritySpec extends SparkSpec {
  import spark.implicits._

  private def docsDf = Seq(
    (1L, "alpha beta gamma", "en", "src0"),
    (2L, "delta epsilon zeta", "de", "src0"),
    (3L, "eta theta iota", "en", "src1"),
    (4L, "kappa lambda mu", null.asInstanceOf[String], "src1"),
    (5L, "nu xi omicron", "fr", "src2")
  ).toDF("doc_id", "text", "lang", "source")

  private def content = concat_ws("", col("doc_id"), col("text"),
    coalesce(col("lang"), lit("?")))

  test("content manifest is invariant under row order and layout") {
    val m1 = Integrity.contentManifest(docsDf, col("source"), content)
      .orderBy("part").collect()
    // reversed order, different partitioning — same physical rows
    val shuffled = docsDf.orderBy(col("doc_id").desc).repartition(7)
    val m2 = Integrity.contentManifest(shuffled, col("source"), content)
      .orderBy("part").collect()
    assert(m1.sameElements(m2), s"manifest not layout-invariant:\n${m1.mkString("\n")}\nvs\n${m2.mkString("\n")}")
    assert(m1.map(_.getString(0)).toSeq == Seq("src0", "src1", "src2"))
    assert(m1.map(_.getLong(1)).toSeq == Seq(2L, 2L, 1L))
  }

  test("manifest diff pinpoints changed, removed and added partitions") {
    val a = Integrity.contentManifest(docsDf, col("source"), content)
    // mutate one row of src0, drop src2, add src3
    val mutated = docsDf.filter(col("source") =!= "src2")
      .withColumn("text", when(col("doc_id") === 1L, "CORRUPT").otherwise(col("text")))
      .union(Seq((9L, "pi rho sigma", "en", "src3"))
        .toDF("doc_id", "text", "lang", "source"))
    val b = Integrity.contentManifest(mutated, col("source"), content)
    val diff = Integrity.manifestDiff(a, b).orderBy("part")
      .select("part", "status").collect().map(r => (r.getString(0), r.getString(1)))
    assert(diff.toSeq == Seq(("src0", "changed"), ("src2", "removed"), ("src3", "added")),
      s"diff=${diff.mkString(",")}")
    // row counts alone would MISS the src0 change (same cardinality) —
    // the digest is what catches it
    val src0 = Integrity.manifestDiff(a, b).filter(col("part") === "src0")
      .collect()(0)
    assert(src0.getLong(2) == src0.getLong(3), "src0 row counts should match")
    assert(src0.getLong(4) != src0.getLong(5), "src0 digests should differ")
  }

  test("cardinality contract flags zero-child and over-fanout parents") {
    val parent = Seq(1L, 2L, 3L, 4L).toDF("pk")
    val child = (Seq.fill(3)(1L) ++ Seq.fill(30)(2L) ++ Seq(3L))
      .toDF("fk")
    val v = RefIntegrity.cardinalityViolations(parent, "pk", child, "fk",
      minPerParent = 1L, maxPerParent = 25L)
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(v.toSeq == Seq((2L, 30L, "above_max"), (4L, 0L, "below_min")),
      s"violations=${v.mkString(",")}")
  }

  test("migrate: try_cast semantics, defaulted add, extras dropped; audit counts failures") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val df = Seq(
      (1L, "7", "x"), (2L, "oops", "y"), (3L, null.asInstanceOf[String], "z")
    ).toDF("id", "num_str", "extra")
    val targets = Seq(
      Migrate.Target("id", toType = Some(IntegerType)),
      Migrate.Target("num_str", toType = Some(LongType)),
      Migrate.Target("channel", default = Some(lit("web"))))
    val out = Migrate.migrate(df, targets)
    assert(out.columns.toSeq == Seq("id", "num_str", "channel"))
    assert(out.schema("id").dataType == IntegerType)
    assert(out.schema("num_str").dataType == LongType)
    val rows = out.orderBy("id").collect()
    assert(rows(0).getLong(1) == 7L)
    assert(rows(1).isNullAt(1), "unparseable value must null out, not fail")
    assert(rows(2).isNullAt(1), "null stays null")
    assert(rows.forall(_.getString(2) == "web"))
    val audit = Migrate.audit(df, targets).orderBy("column").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // num_str: ONE failure ('oops'); the null row is not a cast failure
    assert(audit.toSeq == Seq(
      ("channel", "add", 0L), ("extra", "drop", 0L),
      ("id", "cast", 0L), ("num_str", "cast", 1L)), s"audit=${audit.mkString(",")}")
  }

  test("migrate audit: action derives from the declared target, not the runtime type") {
    import org.apache.spark.sql.types.LongType
    // `id` is ALREADY a long: a declared toType=Long must still audit as
    // `cast` (no-op cast, 0 failures) so the audit is invariant to how an
    // environment materializes the source column (e.g. parquet readers
    // that surface a column at the target type already)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
    val targets = Seq(
      Migrate.Target("id", toType = Some(LongType)),
      Migrate.Target("tag"))
    val audit = Migrate.audit(df, targets).orderBy("column").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(audit.toSeq == Seq(("id", "cast", 0L), ("tag", "keep", 0L)),
      s"audit=${audit.mkString(",")}")
    // the migrated frame is unchanged by the no-op cast
    val out = Migrate.migrate(df, targets)
    assert(out.schema("id").dataType == LongType)
    assert(out.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("incremental near-dups against a persisted index match the batch answer") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " +
      "into the deep dark forest where nobody can find it anymore tonight"
    val corpus = Seq(
      (10L, base),
      (11L, "totally unrelated text about catalyst optimizer rules and parquet readers"),
      (12L, base.replace("dark", "grim")),
      // new batch: ids disjoint, 3 mod 7
      (3L, base.replace("tonight", "today")),
      (17L, "another fresh unrelated document mentioning structured streaming state")
    ).toDF("doc_id", "text")
    val baseDocs = corpus.filter(col("doc_id") % 7 =!= 3)
    val fresh = corpus.filter(col("doc_id") % 7 === 3)
    val idx = Files.createTempDirectory("graft_mh_idx").toString
    Dedup.minHashWriteIndex(baseDocs, "doc_id", "text", idx,
      k = 3, numHashes = 32, bands = 32)
    val incr = Dedup.incrementalNearDups(fresh, idx, "doc_id", "text",
      k = 3, numHashes = 32, bands = 32, threshold = 0.5)
      .orderBy("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // brute-force twin: batch pairs restricted to new-x-base
    val batch = Dedup.nearDupPairsExact(corpus, "doc_id", "text",
      k = 3, numHashes = 32, bands = 32, threshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        // normalize to (new, base) orientation
        if (a % 7 == 3 && b % 7 != 3) Some((a, b, j))
        else if (b % 7 == 3 && a % 7 != 3) Some((b, a, j))
        else None
      }.sortBy(p => (p._1, p._2))
    assert(incr.nonEmpty, "expected at least one incremental near-dup")
    assert(incr.sameElements(batch),
      s"incr=${incr.mkString(",")} batch=${batch.mkString(",")}")
    // the probe must never re-shingle the HISTORICAL corpus for banding:
    // new-batch bands are hashed once and checkpointed (they surface as a
    // LogicalRDD scan, zero banding kernels in the downstream plan), and
    // the index side is a bare parquet read of precomputed
    // (band_idx, band_hash, id) rows. Re-banding the base corpus would put
    // the kernel back into this plan and drop the parquet relation.
    // `bandHashes` also matches the `bandHashesFromHashes` kernel; the
    // positive controls keep the zero count below from passing vacuously
    val banding = "bandHashes".r
    Seq(Dedup.lshBands(fresh, "doc_id", "text"),
      Dedup.bandedFromSh(Dedup.shingleHashFrame(fresh, "doc_id", "text", 3), 32, 32))
      .foreach { banded =>
        val p = banded.queryExecution.analyzed.toString
        assert(banding.findAllIn(p).nonEmpty, s"regex finds no banding kernel in:\n$p")
      }
    val plan = Dedup.incrementalNearDups(fresh, idx, "doc_id", "text")
      .queryExecution.analyzed.toString
    val kernels = banding.findAllIn(plan).length
    assert(kernels == 0, s"expected no banding kernels in the probe plan " +
      s"(new-batch bands are checkpointed, history never re-shingled), " +
      s"got $kernels:\n$plan")
    // (the index side being a bare parquet band relation is no longer
    // visible in this plan: candidate generation — new-batch bands joined
    // against the parquet index — is materialized behind the candidate
    // checkpoint; the structural guarantee lives in incrementalNearDups
    // itself, which only ever reads `indexDir` for the base side)
  }
}
