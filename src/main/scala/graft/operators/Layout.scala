package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering keys and the
  * data-skipping report that justifies them — the table-maintenance step an
  * Iceberg/Delta-style corpus runs so that min/max file statistics prune
  * scans on EVERY filtered dimension, not just the sort leader. A linear
  * sort on (x, y) gives perfect x-pruning and zero y-pruning; z-ordering
  * interleaves the bits of both ranks so each file covers a narrow range of
  * BOTH — a point/range filter on either dimension then touches ~sqrt of
  * the files instead of all of them. No reference analogue (the reference
  * validates single documents); corpus-level capability like Diff/Stats.
  *
  * Scale notes:
  *   - [[zValue]] is pure integer bit arithmetic (shift/and/or folds) —
  *     whole-stage-codegen'd, no UDF, no shuffle;
  *   - the layout write is `repartitionByRange(zvalue).sortWithinPartitions`
  *     (one range shuffle — the same cost as any global sort / OPTIMIZE
  *     ZORDER run); [[skippingStats]] buckets by fixed-width z-ranges
  *     instead, so the REPORT needs only one narrow groupBy and is
  *     deterministic across engines (range-partition boundaries are sampled
  *     and would not be);
  *   - bounds for rank-scaling come from one min/max aggregate (a single
  *     1-row collect). At 100 TB pass known bounds via the explicit-bounds
  *     overload (table stats / partition metadata already know them) and
  *     skip that scan.
  */
object Layout {

  /** Interleave the low `bits` bits of the given non-negative long columns:
    * bit i of column j lands at position i*n + j (column 0 owns the least
    * significant position of each group). Total bits must fit a long.
    */
  def interleaveBits(cols: Seq[Column], bits: Int): Column = {
    val n = cols.size
    require(n >= 1, "interleaveBits needs at least one column")
    require(bits >= 1 && bits * n <= 63,
      s"bits * cols must be in [1, 63], got $bits * $n")
    cols.zipWithIndex.map { case (c, j) =>
      (0 until bits).map { i =>
        shiftleft(shiftright(c.cast("long"), i).bitwiseAND(lit(1L)),
          i * n + j)
      }.reduce(_ bitwiseOR _)
    }.reduce(_ bitwiseOR _)
  }

  /** Scale a numeric column with known inclusive bounds onto the integer
    * rank grid [0, 2^bits): floor((x - lo) * (2^bits - 1) / span). The
    * numerator is exact long arithmetic and the single division is IEEE
    * double, so any engine reproduces the rank bit-for-bit — REQUIRES
    * span * (2^bits - 1) < 2^53 (wider ranges: pre-bucket the column or
    * lower `bits`; ranks only need the density shape, not identity).
    */
  def rankOf(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    val span = hi - lo
    require(span >= 0, s"need hi >= lo, got [$lo, $hi]")
    val k = (1L << bits) - 1
    require(span <= Long.MaxValue / math.max(k, 1) && span * k < (1L << 53),
      s"span $span * $k exceeds exact-double range; lower bits or pre-bucket")
    if (span == 0) lit(0L)
    else floor((c.cast("long") - lo) * k / lit(span.toDouble)).cast("long")
  }

  /** Z-value column over numeric dimensions with caller-known bounds:
    * (column, lo, hi) per dimension, each scaled to `bits` and interleaved.
    */
  def zValue(dims: Seq[(Column, Long, Long)], bits: Int): Column =
    interleaveBits(dims.map { case (c, lo, hi) => rankOf(c, lo, hi, bits) },
      bits)

  /** [[zValue]] with bounds discovered by one min/max aggregate over `df`
    * (single 1-row collect; at 100 TB prefer the explicit-bounds form).
    * Null dimension values are excluded from bounds and rank as 0.
    */
  def zValueAuto(df: DataFrame, dimCols: Seq[String], bits: Int): Column = {
    require(dimCols.nonEmpty, "zValueAuto needs at least one dimension")
    val aggCols = dimCols.flatMap(c => Seq(
      min(col(c).cast("long")), max(col(c).cast("long"))))
    val row = df.agg(aggCols.head, aggCols.tail: _*).collect()(0)
    val dims = dimCols.zipWithIndex.map { case (c, i) =>
      val lo = if (row.isNullAt(2 * i)) 0L else row.getLong(2 * i)
      val hi = if (row.isNullAt(2 * i + 1)) 0L else row.getLong(2 * i + 1)
      (coalesce(col(c), lit(lo)), lo, hi)
    }
    zValue(dims, bits)
  }

  /** Rewrite `df` into z-clustered layout: one range shuffle on the z-value
    * then an in-partition sort, ready for a partitioned/bucketed write
    * whose per-file min/max stats are narrow on every dimension.
    */
  def zOrderBy(df: DataFrame, dims: Seq[(Column, Long, Long)], bits: Int,
      nFiles: Int): DataFrame = {
    val z = zValue(dims, bits)
    df.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
  }

  /** Data-skipping report: bucket rows by fixed-width z-value ranges (a
    * deterministic stand-in for "files written in z order") and emit each
    * bucket's min/max per dimension — exactly the column statistics a
    * format's manifest would carry. A reader pruning on `dim BETWEEN a AND
    * b` touches only buckets whose [min, max] overlaps; narrow per-bucket
    * ranges on EVERY dimension are the z-order win. One scan + one narrow
    * groupBy (nBuckets rows).
    */
  def skippingStats(df: DataFrame, dims: Seq[(Column, Long, Long)], bits: Int,
      nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"need nBuckets >= 1, got $nBuckets")
    val zBits = bits * dims.size
    val z = zValue(dims, bits)
    // fixed-width bucket: floor(z * nBuckets / 2^zBits) — exact (z < 2^53
    // enforced by zValue's bits cap as long as zBits <= 53; for the report
    // use modest bits)
    require(zBits <= 53, s"skippingStats needs bits*dims <= 53, got $zBits")
    val bucket = floor(z * nBuckets / lit(math.pow(2.0, zBits))).cast("long")
    val named = dims.zipWithIndex.map { case ((c, _, _), i) =>
      c.cast("long").as(s"_d$i")
    }
    val aggs = dims.indices.flatMap { i =>
      Seq(min(col(s"_d$i")).as(s"min_d$i"), max(col(s"_d$i")).as(s"max_d$i"))
    } :+ count(lit(1)).as("n")
    df.select(bucket.as("bucket") +: named: _*)
      .groupBy(col("bucket"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Small-file compaction plan over a file manifest (part, path, bytes) —
    * the other half of Iceberg/Delta-style table maintenance next to
    * z-ordering: streaming ingestion leaves thousands of KB-sized files per
    * partition, and every query then pays one task + one open per file.
    * The plan assigns each small file to a target-sized output bin; a
    * rewrite job executes it with one combine-read per bin.
    *
    * Semantics (deterministic, any engine reproduces it):
    *   - files with `bytes >= smallFileBytes` are healthy → action `keep`,
    *     bin null;
    *   - small files are laid end-to-end in `path` order within their
    *     partition; bin = floor(running_bytes_before / targetBytes) — the
    *     same running-sum bucketing as [[Packing]], so a bin overfills by
    *     at most one file and never splits one (a parquet file can't be
    *     split mid-row-group by a rewriter).
    *
    * Scale notes: the manifest is METADATA — ~10^6-10^8 rows for a 100 TB
    * table, not corpus-sized. The only stateful step is one running sum per
    * table partition (Window over (part, ordered path)); partitions bound
    * the window, and the plan never touches file contents.
    */
  def compactionPlan(manifest: DataFrame, targetBytes: Long,
      smallFileBytes: Long): DataFrame = {
    require(targetBytes >= smallFileBytes && smallFileBytes > 0,
      s"need 0 < smallFileBytes <= targetBytes, got $smallFileBytes/$targetBytes")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("part")).orderBy(col("path"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val small = manifest.filter(col("bytes") < smallFileBytes)
      .withColumn("_before", coalesce(sum(col("bytes")).over(w), lit(0L)))
      .select(col("part"), col("path"), col("bytes"), lit("compact").as("action"),
        floor(col("_before") / targetBytes).cast("long").as("bin"))
    val keep = manifest.filter(col("bytes") >= smallFileBytes)
      .select(col("part"), col("path"), col("bytes"), lit("keep").as("action"),
        lit(null).cast("long").as("bin"))
    small.unionByName(keep)
  }

  /** Partition-layout health report over a file manifest (part, path,
    * bytes): per partition — file count, total bytes, exact p50/p95 file
    * size (percentile_cont semantics), max/median skew ratio, and the
    * small-file fraction under `smallFileBytes`. The dashboard row that
    * decides whether [[compactionPlan]] / [[zOrderBy]] are worth running;
    * metadata-only (manifest-sized input, partition-sized output, zero
    * corpus IO).
    */
  def partitionHealth(manifest: DataFrame, smallFileBytes: Long): DataFrame =
    manifest.groupBy(col("part"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("bytes")).as("total_bytes"),
        round(percentile(col("bytes"), lit(0.5)), 6).as("p50_bytes"),
        round(percentile(col("bytes"), lit(0.95)), 6).as("p95_bytes"),
        max(col("bytes")).as("max_bytes"),
        sum(when(col("bytes") < smallFileBytes, 1L).otherwise(0L))
          .as("n_small"))
      .select(col("part"), col("n_files"), col("total_bytes"),
        col("p50_bytes"), col("p95_bytes"),
        round(col("max_bytes") / col("p50_bytes"), 6).as("skew_ratio"),
        round(col("n_small").cast("double") / col("n_files"), 6)
          .as("small_frac"))

  /** Per-(part, bin) rollup of a [[compactionPlan]]: files merged and bytes
    * written per output file — the report that sizes the rewrite job.
    */
  def compactionBins(plan: DataFrame): DataFrame =
    plan.filter(col("action") === "compact")
      .groupBy(col("part"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes"))

  /** Snapshot-retention (vacuum) plan — the third leg of table maintenance
    * next to z-order and compaction: given a snapshot→file reference
    * manifest (`snapshot_seq`, `path`, `bytes` — one row per file per
    * snapshot that references it, the shape of an Iceberg/Delta manifest
    * list), report per file whether it survives keeping only the last
    * `keepSnapshots` snapshots. A file is `keep` iff ANY kept snapshot
    * still references it; everything else is `delete` (safe by
    * construction: no retained snapshot can resolve a deleted path).
    *
    * Output: (path, bytes, last_ref, action) — `last_ref` is the newest
    * snapshot referencing the file, so `action` is the pure comparison
    * `last_ref >= cutoff` and any engine replays the plan.
    *
    * Scale shape: the manifest is METADATA (files × snapshots rows, not
    * corpus rows). One tiny distinct-seq aggregate finds the cutoff
    * (keepSnapshots-th newest snapshot), then one map-side-combined
    * groupBy(path). Nothing here touches file contents.
    */
  def vacuumPlan(manifest: DataFrame, keepSnapshots: Int): DataFrame = {
    require(keepSnapshots >= 1, s"need keepSnapshots >= 1, got $keepSnapshots")
    val kept = manifest.select(col("snapshot_seq").cast("long")).distinct()
      .orderBy(col("snapshot_seq").desc).limit(keepSnapshots)
    val cutoffRow = kept.agg(min(col("snapshot_seq"))).collect()(0)
    require(!cutoffRow.isNullAt(0), "vacuumPlan: empty manifest")
    val cutoff = cutoffRow.getLong(0)
    manifest.groupBy(col("path"))
      .agg(max(col("bytes")).cast("long").as("bytes"),
        max(col("snapshot_seq")).cast("long").as("last_ref"))
      .select(col("path"), col("bytes"), col("last_ref"),
        when(col("last_ref") >= cutoff, lit("keep"))
          .otherwise(lit("delete")).as("action"))
  }

  /** Time-travel file listing — the fourth leg of table maintenance next
    * to z-order, compaction and vacuum: the file set visible AS OF
    * `asOfSeq`, i.e. the files referenced by the newest snapshot whose
    * seq ≤ asOfSeq (exactly how an Iceberg/Delta reader resolves
    * `VERSION AS OF`). Same manifest shape as [[vacuumPlan]]; duplicate
    * (path, snapshot) rows collapse to max(bytes), matching its
    * convention. Output (path, bytes, snapshot_seq).
    *
    * Metadata-only: a 1-row max-seq aggregate broadcast against the
    * manifest, then one map-side-combined groupBy(path). An `asOfSeq`
    * older than every snapshot yields an empty listing (nothing was
    * visible yet), not an error.
    */
  def asOfFiles(manifest: DataFrame, asOfSeq: Long): DataFrame = {
    val resolved = manifest
      .filter(col("snapshot_seq") <= asOfSeq)
      .agg(max(col("snapshot_seq").cast("long")).as("resolved_seq"))
      .filter(col("resolved_seq").isNotNull)
    manifest.join(broadcast(resolved),
        col("snapshot_seq").cast("long") === col("resolved_seq"))
      .groupBy(col("path"))
      .agg(max(col("bytes")).cast("long").as("bytes"),
        max(col("snapshot_seq")).cast("long").as("snapshot_seq"))
  }

  /** REAL-file parquet footer audit — the metadata leg of table
    * maintenance run against actual parquet bytes, not a synthetic
    * manifest ([[partitionHealth]]'s input): per file, the row-group
    * count, total rows, and compressed/uncompressed byte totals straight
    * from the footers. Row groups are the unit Spark parallelizes scans
    * over, so this is the report that says whether a table's files can
    * even feed a wide cluster (1 row group = 1 task ceiling per file) and
    * what its real compression ratio is. Footer-only I/O: a few KB per
    * file, never the data pages.
    *
    * Distributed over the FILE LIST (executors each open their files'
    * footers with a task-local Hadoop conf — at 10⁶-file scale the
    * listing, not the footers, is the cost, which is what partitioned
    * manifests/commit logs are for). Every number is copied from footer
    * metadata — bit-identical for any reader of the same file, which is
    * what makes an independent engine's `parquet_metadata()` a valid
    * oracle.
    */
  def parquetFooterAudit(spark: org.apache.spark.sql.SparkSession,
      dir: String, glob: String = "*.parquet"): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.globStatus(new org.apache.hadoop.fs.Path(dir, glob))
      .map(_.getPath.toString).toSeq.sorted
    // ship the SESSION's Hadoop configuration to the tasks (Writable
    // round-trip — the SerializableConfiguration pattern): a bare
    // `new Configuration()` in the task discarded every spark.hadoop.*
    // setting (object-store credentials, endpoints, proxies), so the
    // driver-side globStatus would list remote files the executors then
    // failed to open — an environment-dependent failure invisible on a
    // local FS
    val confBc = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration))
    spark.createDataset(files)(org.apache.spark.sql.Encoders.STRING)
      .repartition(math.max(1, math.min(files.size, 32)))
      .mapPartitions { (paths: Iterator[String]) =>
        val conf = confBc.value.conf
        paths.map { p =>
          val path = new org.apache.hadoop.fs.Path(p)
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(path, conf)
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val blocks = reader.getFooter.getBlocks
            val it = scala.jdk.CollectionConverters
              .ListHasAsScala(blocks).asScala
            FooterStat(path.getName, it.size,
              it.map(_.getRowCount).sum,
              it.map(_.getCompressedSize).sum,
              it.map(_.getTotalByteSize).sum)
          } finally reader.close()
        }
      }(org.apache.spark.sql.Encoders.product[FooterStat])
      .toDF()
  }

  /** Shuffle-skew advisor: per-key row counts for an intended groupBy/join
    * key, flagging the keys that would make one reducer the straggler and
    * recommending a salt fan-out for each.
    *
    * At 10^12 docs a single hot key (a default user id, an 'unknown'
    * source, an empty-string language) routinely holds 10-100× the mean and
    * turns a 1000-executor shuffle into a one-task tail; AQE's skew-join
    * split only helps sort-merge JOINS, not aggregations, so the fix is
    * salting — and the salt factor should come from measurement, not
    * folklore. This is that measurement as a first-class operator:
    *
    *   - one map-side-combined count per key (the only shuffle);
    *   - a key is flagged when rows·n_keys > skewFactor·total_rows, i.e.
    *     count > skewFactor × mean — evaluated in INTEGER cross-multiplied
    *     form so the verdict replays bit-exactly in any engine (no
    *     float mean, no epsilon);
    *   - salt_factor = ceil(rows / targetRowsPerTask) in integer DIV
    *     arithmetic: the fan-out that caps every salted sub-key at one
    *     task-sized slice.
    *
    * Returns flagged keys only: (key…, rows, share, salt_factor), biggest
    * first. Empty output = no key needs salting at this threshold.
    */
  def skewAdvisor(df: DataFrame, keyCols: Seq[String],
      targetRowsPerTask: Long, skewFactor: Int): DataFrame = {
    require(keyCols.nonEmpty && targetRowsPerTask > 0 && skewFactor >= 1)
    val counts = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("rows"))
    val totals = counts.agg(sum(col("rows")).as("_total"),
      count(lit(1)).as("_nkeys"))
    counts.join(broadcast(totals))
      // compare in double (the joinExplosion precedent): rows * n_keys
      // cross-multiplies two longs, and under ANSI mode a long overflow
      // THROWS — at the 10^12-row scale this advisor targets (a 1e11-row
      // hot key over 1e8 distinct keys) the whole report would die
      // mid-query. Integer-valued doubles are exact below 2^53, far more
      // headroom than any flag decision needs.
      .filter(col("rows").cast("double") * col("_nkeys").cast("double") >
        lit(skewFactor.toDouble) * col("_total").cast("double"))
      .select(keyCols.map(col) ++ Seq(
        col("rows"),
        round(col("rows") / col("_total"), 6).as("share"),
        expr(s"CAST((rows + ${targetRowsPerTask - 1L}) DIV " +
          s"$targetRowsPerTask AS BIGINT)").as("salt_factor")): _*)
      .orderBy(col("rows").desc +: keyCols.map(col): _*)
  }

  /** BUCKET-count planner for co-located joins: per key (table
    * partition), recommend `buckets` = next power of two ≥
    * ceil(total_bytes / targetBucketBytes) — pow2 by convention so
    * bucketed tables join bucket-to-bucket at 2:1 ratios without a
    * shuffle. The bit math is exact: ceil is integer DIV arithmetic and
    * the pow2 comes from the BINARY-STRING length of (b₀−1) (2^len is
    * exact in double far beyond any sane bucket count), so any engine
    * replays the plan bit-for-bit — no log2 float boundary risk.
    * Metadata-only: one map-side-combined groupBy over the file
    * manifest, never the data.
    */
  def bucketPlan(manifest: DataFrame, keyCols: Seq[String],
      targetBucketBytes: Long): DataFrame = {
    require(keyCols.nonEmpty && targetBucketBytes > 0,
      "bucketPlan: need key columns and a positive target")
    val b0 = expr(s"CAST((total_bytes + ${targetBucketBytes - 1L}) DIV " +
      s"$targetBucketBytes AS BIGINT)")
    manifest.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("total_bytes"))
      .select(keyCols.map(col) ++ Seq(col("n_files"), col("total_bytes"),
        when(b0 <= 1L, 1L)
          .otherwise(pow(lit(2.0), length(bin(b0 - 1)).cast("double"))
            .cast("long")).as("buckets")): _*)
      .withColumn("est_bucket_bytes",
        expr("CAST(total_bytes DIV buckets AS BIGINT)"))
  }

  /** Join-EXPLOSION advisor: predicted per-key output cardinality of a
    * planned equi-join, before running it. For every key present on both
    * sides, out_rows = rows_left × rows_right (the exact inner-join
    * contribution); a key is `hot` when its contribution exceeds
    * `hotFactor`× the average — flagged by integer cross-multiplication
    * (out_rows · n_keys > hotFactor · total), no float mean. The join
    * complement of [[skewAdvisor]]: that one sees a single table's
    * groupBy keys; this one sees the MULTIPLICATIVE blow-up only the
    * pairing creates (a key modest on each side can still dominate the
    * join output).
    *
    * Scale: the two per-key counts are the only corpus-sized inputs
    * (map-side combined to distinct-key-sized summaries); the key join,
    * totals branch (broadcast 1-row), and top-k truncation all run on
    * summaries. Output is capped at `topK` rows by (out_rows desc, key)
    * so unbounded key cardinality cannot make the report itself
    * corpus-sized.
    */
  def joinExplosion(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      hotFactor: Long = 8L, topK: Int = 100): DataFrame = {
    require(hotFactor >= 1 && topK > 0, "joinExplosion: bad knobs")
    val l = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("key")).agg(count(lit(1)).as("rows_left"))
    val r = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("key")).agg(count(lit(1)).as("rows_right"))
    // products/totals/cross-multiplications run in DOUBLE: this advisor
    // exists for joins whose output cardinality can exceed Long range
    // (4B x 4B rows on one key ~ 1.6e19), where ANSI long arithmetic
    // would throw mid-report; integer-valued doubles are exact below
    // 2^53 (any testable scale) and degrade to ~15 significant digits
    // beyond — more than enough to rank and flag
    val j = l.join(r, Seq("key"))
      .select(col("key"), col("rows_left"), col("rows_right"),
        (col("rows_left").cast("double") * col("rows_right"))
          .as("out_rows"))
    val totals = j.agg(sum(col("out_rows")).as("_total"),
      count(lit(1)).as("_nkeys"))
    j.join(broadcast(totals))
      .select(col("key"), col("rows_left"), col("rows_right"),
        col("out_rows"),
        // empty-join guard: no keys -> no rows, so _total > 0 here
        round(col("out_rows") / col("_total"), 6).as("share"),
        (col("out_rows") * col("_nkeys") >
          lit(hotFactor.toDouble) * col("_total")).as("hot"))
      .orderBy(col("out_rows").desc, col("key"))
      .limit(topK)
  }
}

/** One file's footer summary for [[Layout.parquetFooterAudit]]
  * (top-level: product encoders need a stable, non-local class).
  */
case class FooterStat(file: String, row_groups: Int, rows: Long,
  compressed_bytes: Long, uncompressed_bytes: Long)

/** Java-serializable Hadoop Configuration carrier (the standard Writable
  * round-trip — Configuration itself is not Serializable): lets
  * [[Layout.parquetFooterAudit]] broadcast the SESSION's hadoopConfiguration
  * to executor tasks instead of constructing a default-config one there.
  */
class SerializableHadoopConf(
    @transient var conf: org.apache.hadoop.conf.Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}
