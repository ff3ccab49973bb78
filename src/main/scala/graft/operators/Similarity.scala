package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Similarity search over an embedding column (`array<float>`): brute-force
  * cosine top-k as the exact baseline, plus LSH-bucketed and IVF-style
  * variants as the scale paths. All vector math is SQL HOFs
  * (`zip_with`/`aggregate`) — codegen, no UDF, columnar parquet reads prune
  * to (id, embedding).
  *
  * Scale notes:
  *   - brute force is a single scan + TakeOrderedAndProject (no full sort,
  *     no shuffle of vectors) — right for one-off queries / small corpora;
  *   - random-hyperplane LSH: sign-bit signature vs `nPlanes` deterministic
  *     pseudo-random hyperplanes → bucket join: only same-bucket vectors are
  *     compared. Recall/cost tuned by (nPlanes, nTables);
  *   - IVF: k coarse centroids (deterministically seeded k-means-ish via
  *     hash-sampled seeds); assign each vector to nearest centroid at write
  *     time, probe `nProbe` nearest lists at query time.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, z) => acc + z)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, z) => acc + z))

  /** Cosine similarity — the native kernel
    * ([[graft.plans.CosineOps.cosine]]): one fused loop per evaluation instead of
    * four interpreted HOF passes. Runs per candidate PAIR in near-dup
    * verification and per (row, centroid) in IVF assignment, so it is the
    * similarity subsystem's hottest expression.
    */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(graft.plans.CosineOps.cosineExpr(
      GraftShims.expression(a), GraftShims.expression(b)))
  }

  /** Per-row cosine scores against one query vector (driver-side literal —
    * the query is small; it folds into codegen as constants). No sort: a
    * single scan projection.
    */
  def cosineScores(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float]): DataFrame = {
    val q = typedlit(query.map(_.toDouble))
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === query.size)
      .select(col(idCol).as("id"),
        cosine(transform(col(vecCol), x => x.cast("double")), q).as("cosine"))
  }

  /** Exact top-k by cosine: scan + TakeOrderedAndProject (no full sort). */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
      query: Seq[Float], k: Int): DataFrame =
    cosineScores(df, idCol, vecCol, query)
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)

  /** All `nTables` bucket ids in ONE native kernel pass
    * ([[graft.plans.LshBucketsOps.buckets]] — element t = [[lshBucket]] for table t,
    * bit-identical; PipelineOpsSpec cross-checks). The HOF per-table form
    * evaluated nTables interpreted aggregate/zip_with trees per row, each
    * allocating a boxed dims-array per plane — it dominated the LSH index
    * build. NoInline fences the kernel from generate/filter-pushdown
    * duplication (the lshBands precedent).
    */
  private[operators] def allTableBuckets(vec: Column, dims: Int, nPlanes: Int,
      nTables: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(graft.plans.NoInline(graft.plans.LshBucketsOps.bucketsExpr(
      GraftShims.expression(vec), dims, nPlanes, nTables)))
  }

  /** Sign-bit LSH signature of a vector for one hash table: a `nPlanes`-bit
    * bucket id (long).
    *
    * The hyperplane components are DATA-INDEPENDENT pseudo-random constants
    * (xxhash64 of (table, plane, dim) — see [[planeComponentScala]]), so
    * they're computed once on the driver and folded into the plan as a
    * literal nPlanes×dims matrix. The executor does pure multiply-adds —
    * the previous formulation re-derived every component with a per-element
    * xxhash64 call inside the HOF lambda (nTables×nPlanes×dims hashes per
    * ROW; BENCH r2 flagged the 2× regression). Same accumulation order, so
    * buckets stay bit-identical to [[lshBucketScala]].
    */
  def lshBucket(vec: Column, dims: Int, nPlanes: Int, table: Int): Column = {
    val m: Seq[Seq[Double]] = (0 until nPlanes).map(p =>
      (0 until dims).map(d => planeComponentScala(table, p, d)))
    val planes = typedlit(m)
    aggregate(
      sequence(lit(0), lit(nPlanes - 1)), lit(0L),
      (acc, p) => {
        val proj = aggregate(
          zip_with(vec, element_at(planes, p.cast("int") + 1),
            (x, c) => x.cast("double") * c),
          lit(0.0d), (a, z) => a + z)
        acc.bitwiseOR(
          when(proj >= 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L)))
      })
  }

  /** Driver-side twin of `planeComponent`: the same xxhash64 chain
    * (seed 42, int fields folded left-to-right) evaluated in plain Scala via
    * Spark's own `XXH64`, so query-side buckets cost zero Spark jobs and are
    * bit-identical to the executor-side expression.
    */
  private[graft] def planeComponentScala(table: Int, plane: Int, dim: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashInt(dim, XXH64.hashInt(plane, XXH64.hashInt(table, 42L)))
    val m = ((h % 2001L) + 2001L) % 2001L
    (m.toDouble - 1000.0) / 1000.0
  }

  /** Driver-side bucket of one vector for one table (same left-to-right
    * fold order as the `aggregate` HOF, so the FP sum is identical).
    */
  def lshBucketScala(vec: Seq[Double], nPlanes: Int, table: Int): Long = {
    var acc = 0L
    var p = 0
    while (p < nPlanes) {
      var proj = 0.0
      var d = 0
      while (d < vec.length) { proj += vec(d) * planeComponentScala(table, p, d); d += 1 }
      if (proj >= 0) acc |= (1L << p)
      p += 1
    }
    acc
  }

  /** LSH-bucketed approximate top-k: only vectors sharing a bucket with the
    * query (in any of `nTables` tables) are scored. Returns the same schema
    * as bruteForceTopK.
    *
    * ONE scan: all `nTables` bucket expressions are evaluated in a single
    * projection (candidate = any table matches), and the query's buckets are
    * computed on the driver in plain Scala — the multi-scan form (one filter
    * pass per table + nTables 1-row jobs) reads the corpus nTables times for
    * the same answer.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String, query: Seq[Float],
      k: Int, nPlanes: Int = 12, nTables: Int = 4): DataFrame = {
    val dims = query.size
    val qd = query.map(_.toDouble)
    val qvec = typedlit(qd)
    // one kernel eval per row: materialize the bucket array in a
    // projection, then filter on its elements (OR-ing kernel calls inside
    // the filter would re-evaluate the non-deterministic fence per term)
    val matchesAnyTable = (0 until nTables).map { t =>
      element_at(col("_qb"), t + 1) === lit(lshBucketScala(qd, nPlanes, t))
    }.reduce(_ || _)
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .withColumn("_qb", allTableBuckets(
        transform(col(vecCol), x => x.cast("double")), dims, nPlanes, nTables))
      .filter(matchesAnyTable)
      .select(col(idCol).as("id"),
        cosine(transform(col(vecCol), x => x.cast("double")), qvec).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Build the LSH index on disk: every vector's (table, bucket) signature
    * rows, persisted PARTITIONED BY (tbl, bucket) — the write-time twin of
    * [[ivfWriteIndex]]. [[lshTopK]] recomputes all nTables bucket
    * expressions over the WHOLE corpus on every query (fine ad hoc, fatal
    * for a serving path at 100 TB); a probe over this index reads at most
    * `nTables` bucket partitions (≈ nTables/2^nPlanes of the data) via
    * partition pruning, zero signature math at query time.
    *
    * Each vector appears once per table (nTables× storage) — the standard
    * LSH space/recall trade; dims/nPlanes/nTables must match at probe time
    * (the probe re-derives the query's buckets from the same plane
    * constants).
    */
  def lshWriteIndex(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      path: String, nPlanes: Int = 12, nTables: Int = 4): Unit = {
    val base = df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
    // ONE corpus scan: all nTables bucket expressions evaluate in a single
    // projection and posexplode fans them out (pos = table id) — the
    // union-of-per-table-selects form re-reads the source nTables times.
    // repartition by (tbl, bucket) before the partitioned write so each
    // output dir is written by one task: ≤ one file per (tbl, bucket)
    // instead of (#tasks × #dirs) tiny files — at 2^nPlanes × nTables dirs
    // the small-file explosion, not the data, dominates write AND probe
    // (listing) cost. Vectors ride the shuffle and the files as FLOAT:
    // every element is an exactly-representable float (the source column
    // is float), so the round trip is lossless and the index is half the
    // bytes. Tuning note: pick nPlanes so 2^nPlanes ≈ corpus/5k — too many
    // buckets costs dir-listing overhead, too few costs probe scoring.
    base.select(col("id"), col("vec"),
        posexplode(allTableBuckets(col("vec"), dims, nPlanes, nTables))
          .as(Seq("tbl", "bucket")))
      .select(col("id"), transform(col("vec"), x => x.cast("float")).as("vec"),
        col("tbl"), col("bucket"))
      // explicit width: keyless `repartition(cols)` inherits the session
      // shuffle width and AQE then coalesces the tiny-index case down to
      // 1-2 tasks, each serially opening/closing EVERY directory's writer
      // (measured 1.9 s of the 2.8 s build at 256 dirs); pinning the width
      // to the cluster's core count keeps the dir-writer fan-out parallel
      // at every scale while each (tbl, bucket) dir still gets exactly one
      // task (hash determinism), so the ≤-one-file-per-dir layout is
      // unchanged
      .repartition(math.max(1,
        df.sparkSession.sparkContext.defaultParallelism),
        col("tbl"), col("bucket"))
      .write.mode("overwrite").partitionBy("tbl", "bucket").parquet(path)
  }

  /** LSH probe over a written index: the query's nTables bucket ids are
    * computed on the driver (bit-identical plane math, zero Spark jobs) and
    * become PartitionFilters — the scan reads only those ≤ nTables
    * (tbl, bucket) directories. Candidates sharing several tables with the
    * query are deduplicated by id before scoring. Same output contract as
    * [[lshTopK]] with the same (nPlanes, nTables).
    */
  def lshTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      query: Seq[Float], k: Int, nPlanes: Int = 12, nTables: Int = 4): DataFrame = {
    val qd = query.map(_.toDouble)
    // The query's bucket PATHS are known on the driver (bit-identical plane
    // math, zero Spark jobs) — read exactly those ≤ nTables leaf
    // directories instead of mounting the whole index root: root-mount
    // partition DISCOVERY lists every (tbl, bucket) directory
    // (2^nPlanes × nTables of them — at serving scale, millions) before
    // pruning to the same 4, and that listing dominated the probe
    // (measured 0.85 s → 0.17 s at 256 dirs). A bucket with no vectors has
    // no directory; absent paths are skipped (same candidate set — the
    // pruned scan of an absent partition read zero rows too).
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = (0 until nTables)
      .map(tbl => s"$indexPath/tbl=$tbl/bucket=${lshBucketScala(qd, nPlanes, tbl)}")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val cands =
      if (paths.nonEmpty) spark.read.parquet(paths: _*)
      else spark.read.parquet(indexPath).filter(lit(false))
    cands
      .dropDuplicates("id")
      .select(col("id"),
        cosine(transform(col("vec"), x => x.cast("double")), typedlit(qd)).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs within the corpus: LSH-bucket
    * all vectors once, self-join per (table, bucket), verify with exact
    * cosine ≥ threshold. The candidate mass is Σ bucket² instead of n².
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dims: Int,
      threshold: Double = 0.95, nPlanes: Int = 12, nTables: Int = 2,
      maxBucket: Int = 2000): DataFrame = {
    val base = df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("vec"))
    // one kernel pass over the corpus; posexplode fans out (tbl, bucket) —
    // the per-table union re-scanned the source nTables times
    val banded = base
      .select(col("id"), col("vec"),
        posexplode(allTableBuckets(col("vec"), dims, nPlanes, nTables))
          .as(Seq("tbl", "bucket")))
      .select(col("tbl"), col("bucket"), col("id"), col("vec"))
    // oversized-bucket cap without a Window sort (see
    // Dedup.dropOversizedBuckets scaladoc for the 100 TB rationale)
    val capped = Dedup.dropOversizedBuckets(banded, Seq("tbl", "bucket"), maxBucket)
    val l = capped.select(col("tbl"), col("bucket"), col("id").as("id_a"),
      col("vec").as("vec_a"))
    val r = capped.select(col("tbl"), col("bucket"), col("id").as("id_b"),
      col("vec").as("vec_b"))
    l.join(r, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
  }

  /** Per-vector symmetric int8 quantization: q[d] = round(v[d] / scale ·
    * 127) with scale = max |v[d]| — the 4× storage cut (float32 → int8)
    * every 100 TB embedding corpus takes before indexing; dequantization is
    * q · scale / 127 with per-dim error ≤ scale/254. Rounding is
    * `floor(x + 0.5)` (exact in IEEE double, identical in every engine —
    * `round()` half-even/half-up behavior differs across engines, floor
    * does not), so the quantized corpus is bit-reproducible and
    * oracle-checkable. Pure scan-stage projection: no shuffle, codegen HOFs.
    */
  /** Embedding-corpus hygiene audit: classify every row's vector into the
    * FIRST matching defect class and count per class —
    *
    *   - `null_vec`:  the column is null (missing embedding),
    *   - `wrong_dim`: length != expectedDim (pipeline version skew),
    *   - `has_nan`:   any non-finite component (upstream fp blowup —
    *     poisons every dot product it touches),
    *   - `zero_vec`:  all components zero (cosine undefined; a common
    *     "encoder failed, wrote zeros" sentinel),
    *   - `ok`:        everything else.
    *
    * The checks every ANN/near-dup consumer should gate on before
    * indexing. One scan, pure HOF expressions, class-count-sized output;
    * the priority order makes classes disjoint so the counts sum to the
    * corpus size.
    */
  def vecHealth(df: DataFrame, vecCol: String, expectedDim: Int): DataFrame = {
    val v = col(vecCol)
    val sumsq = aggregate(transform(v, x => x.cast("double")),
      lit(0.0d), (acc, x) => acc + x * x)
    val cls = when(v.isNull, "null_vec")
      .when(size(v) =!= expectedDim, "wrong_dim")
      .when(exists(v, x => isnan(x.cast("double")) ||
        abs(x.cast("double")) === Double.PositiveInfinity), "has_nan")
      .when(sumsq === 0.0d, "zero_vec")
      .otherwise("ok")
    df.groupBy(cls.as("issue")).agg(count(lit(1)).as("n_vecs"))
  }

  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.GraftShims
    // native kernel (graft.plans.QuantizeInt8Ops.quantize): one pass computes the
    // max-abs scale and the rounded int8 values, IEEE-identical to
    // its HOF twin (PipelineOpsSpec cross-checks), which ran an
    // interpreted aggregate + a branchy transform per row. NoInline fences
    // it from projection duplication (the lshBands precedent). The kernel
    // reads float or double elements natively — no cast pass.
    val isFloat = df.select(col(vecCol)).schema.head.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val qz = GraftShims.column(graft.plans.NoInline(
      graft.plans.QuantizeInt8Ops.quantizeExpr(
        GraftShims.expression(col(vecCol)), isFloat)))
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), qz.as("_q"))
      .select(col("id"), col("_q.scale").as("scale"), col("_q.qvec").as("qvec"))
  }

  /** Per-label centroids in long form: one row per (label, dim) with the
    * dimension's mean — the class-separation diagnostic over a labeled
    * embedding corpus (how far apart are the label clusters; feed pairs
    * of centroids to [[cosine]] for an inter-label similarity matrix).
    * posexplode → map-side-combined groupBy (label, dim): the shuffle
    * carries labels×dims partial sums per partition, never vectors.
    * Means are rounded so independent engines (different summation
    * orders, last-ulp differences) reproduce the output exactly.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
      roundTo: Int = 4): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast("double")), roundTo).as("centroid"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("dim"), col("centroid"), col("n_vecs"))

  /** EXACT duplicate embeddings: groups of rows carrying bit-identical
    * vectors (re-ingested shards, retried encoder batches — the cheap
    * dedup to run BEFORE any ANN machinery; near-dups are
    * [[cosineNearDupPairs]]' job). Grouping key is the vector itself:
    * map-side combine collapses dup groups inside the scan stage, so the
    * exchange carries one row per distinct vector per partition, and the
    * raw-value key is what an independent engine can replay (a 64-bit
    * pre-hash + verify-exact-within-bucket two-phase saves shuffle bytes
    * at extreme dims but emits engine-private hashes). Output: smallest
    * id per group (the canonical keep) + copy count, dup groups only.
    */
  def exactVecDups(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.filter(col(vecCol).isNotNull)
      .groupBy(col(vecCol).as("_vec"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .select(col("keep_id"), col("n_copies"))

  /** Per-label cluster DISPERSION: mean squared distance of a label's
    * vectors to their own centroid — how tight each class is, the
    * intra-cluster half of a separation diagnostic ([[labelCentroids]] +
    * [[cosine]] give the inter-cluster half). Uses the algebraic
    * identity msd = Σ_d Var_pop(x_d) = Σ_d (E[x_d²] − E[x_d]²): per-dim
    * population variances from ONE scan, summed over dims — NO pairwise
    * math, NO second pass against materialized centroids.
    * `centroid_sq_norm` = Σ_d E[x_d]² = ‖c‖² rides along (near-zero for
    * a label whose vectors cancel out — a mixing diagnostic).
    *
    * Per-dim moments are rounded to `roundTo` BEFORE the dim-sum so
    * engines with different summation orders reproduce the report
    * exactly; the final sums are over dims (a handful of fixed-point
    * values), then rounded once more.
    *
    * Scale: identical shuffle shape to [[labelCentroids]] — posexplode
    * inside the scan stage, map-side-combined groupBy (label, dim)
    * carries labels×dims partial sums per partition; the label rollup
    * runs on that summary.
    */
  def labelDispersion(df: DataFrame, labelCol: String, vecCol: String,
      roundTo: Int = 6): DataFrame = {
    val perDim = df.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("label"), col("dim"), col("v").cast("double").as("v"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), avg(col("v")).as("m1"),
        avg(col("v") * col("v")).as("m2"))
    // ragged labels (mixed vector lengths: per-dim n differs) have NO
    // well-defined centroid distance — msd/||c||² go null and the flag
    // goes up, instead of silently summing variances over different
    // denominators
    perDim
      .select(col("label"), col("n"),
        round(col("m2") - col("m1") * col("m1"), roundTo).as("var_d"),
        round(col("m1") * col("m1"), roundTo).as("c2_d"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n_vecs"), min(col("n")).as("_n_min"),
        round(sum(col("var_d")), 4).as("_msd"),
        round(sum(col("c2_d")), 4).as("_c2"))
      .select(col("label"), col("n_vecs"),
        (col("_n_min") =!= col("n_vecs")).as("ragged"),
        when(col("_n_min") === col("n_vecs"), col("_msd")).as("msd"),
        when(col("_n_min") === col("n_vecs"), col("_c2"))
          .as("centroid_sq_norm"))
  }

  /** Embedding-distribution drift between two corpus slices: per-dimension
    * mean of each side and the absolute shift — the monitoring signal for
    * "the embedding model changed / the corpus mixture moved" that scalar
    * drift checks ([[Drift]]) cannot see, because they watch one column
    * while a 64-dim embedding drifts per-axis.
    *
    * Plan shape: posexplode inside the scan stage, then ONE groupBy(dim)
    * per side — map-side combine reduces every partition to `dims` partial
    * sums, so the shuffle carries dims rows per partition regardless of
    * corpus size; the final join is dims×dims-row tiny (broadcast).
    * Means are rounded to `roundTo` before differencing so any engine
    * reproduces the report bit-for-bit.
    */
  def embeddingDrift(a: DataFrame, b: DataFrame, vecCol: String,
      roundTo: Int = 4): DataFrame = {
    def dimMeans(df: DataFrame, out: String) = df
      .filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(round(avg(col("v").cast("double")), roundTo).as(out))
    dimMeans(a, "mean_a").join(dimMeans(b, "mean_b"), Seq("dim"))
      .select(col("dim"), col("mean_a"), col("mean_b"),
        round(abs(col("mean_a") - col("mean_b")), roundTo).as("shift"))
      .orderBy("dim")
  }

  /** `greatest` over struct scores that also works for a single candidate
    * (Spark's GREATEST requires >= 2 arguments — k = 1 quantizers and
    * single-vector corpora are legal inputs here).
    */
  private def greatest1(scored: Seq[Column]): Column =
    if (scored.length == 1) scored.head else greatest(scored: _*)

  private def dotS(a: Seq[Double], b: Seq[Double]): Double =
    a.zip(b).map { case (x, y) => x * y }.sum

  private def cosS(a: Seq[Double], b: Seq[Double]): Double = {
    val n = math.sqrt(dotS(a, a)) * math.sqrt(dotS(b, b))
    if (n == 0) 0 else dotS(a, b) / n
  }

  /** The `nProbe` centroid ids nearest (by cosine) to the query — driver
    * math, ties broken toward the lower centroid id.
    */
  def probeLists(centroids: Seq[Seq[Double]], query: Seq[Float],
      nProbe: Int): Seq[Int] = {
    val qd = query.map(_.toDouble)
    centroids.zipWithIndex.sortBy { case (c, i) => (-cosS(c, qd), i) }
      .take(nProbe).map(_._2)
  }

  /** Build the IVF index on disk: assignment persisted PARTITIONED BY the
    * centroid id, so probes prune whole partitions at the source instead of
    * scanning + filtering — at 100 TB the probe must read nProbe/k of the
    * data, not all of it.
    */
  def ivfWriteIndex(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]], path: String): Unit =
    ivfAssign(df, idCol, vecCol, centroids)
      .write.mode("overwrite").partitionBy("centroid").parquet(path)

  /** IVF probe over a written index: reads ONLY the `nProbe` nearest lists
    * (partition-pruned scan — `PartitionFilters` in the plan, zero rows read
    * from other lists), exact top-k within them.
    */
  def ivfTopKIndexed(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      centroids: Seq[Seq[Double]], query: Seq[Float], k: Int,
      nProbe: Int = 2): DataFrame = {
    val lists = probeLists(centroids, query, nProbe)
    // read the nProbe centroid leaf dirs directly (the lshTopKIndexed
    // rationale: probe-time listing should touch the probed lists only)
    val fs = new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val paths = lists.map(c => s"$indexPath/centroid=$c")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val cands =
      if (paths.nonEmpty) spark.read.parquet(paths: _*)
      else spark.read.parquet(indexPath).filter(lit(false))
    cands
      .select(col("id"),
        cosine(transform(col("vec"), x => x.cast("double")),
          typedlit(query.map(_.toDouble))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(k)
  }

  /** Deterministic spherical k-means (Lloyd) over the embedding column —
    * the IVF coarse-quantizer trainer. Untrained centroids (e.g. "first k
    * corpus vectors") make probe recall arbitrary and the inverted lists
    * skewed; a few Lloyd rounds balance the lists so a probe reads
    * ~nProbe/k of the data at any scale.
    *
    * Everything is deterministic and cluster-reproducible:
    *   - seeds = farthest-point (maxmin-cosine) greedy selection over a
    *     driver-side sample: the `sampleN` vectors with the smallest
    *     `xxhash64(vec)` (a pseudo-random but seedless, order-independent
    *     sample — one TakeOrderedAndProject, no full sort), then k spread
    *     seeds picked greedily in plain Scala. Pure hash seeding can land
    *     every seed in one dense cluster and Lloyd then converges to a
    *     collapsed local optimum; maxmin can't;
    *   - assignment = argmax cosine with ties toward the higher centroid id
    *     (same `greatest(struct(sim, cid))` lowering as [[ivfAssign]]);
    *   - update = one map-side-combined `groupBy(cid)` pass computing all
    *     `dims` per-dimension means as separate avg aggregates (dims agg
    *     columns, k result rows — no explode, no dims× shuffle), then
    *     L2-normalized (spherical k-means: the mean direction);
    *   - an emptied cluster keeps its previous centroid.
    *
    * Cost: `iters + 1` scans of the TRAINING SLICE — `trainFraction`
    * (default 0.25) hash-samples the corpus for the Lloyd rounds, since the
    * quantizer only needs the density shape, not every vector; the sample is
    * a deterministic xxhash64 threshold (not `df.sample`, which is seed- and
    * partition-layout-dependent), so training reproduces on any cluster
    * size. The full corpus is never shuffled; only k×dims doubles hit the
    * driver.
    */
  def trainCentroids(df: DataFrame, vecCol: String, k: Int, dims: Int,
      iters: Int = 3, sampleN: Int = 1024,
      trainFraction: Double = 0.25): Seq[Seq[Double]] = {
    require(k >= 1 && dims >= 1 && iters >= 0)
    require(trainFraction > 0.0 && trainFraction <= 1.0,
      s"trainFraction out of (0,1]: $trainFraction")
    val all = df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dims)
      .select(transform(col(vecCol), x => x.cast("double")).as("vec"))
    // Lloyd trains on the deterministic slice; seed selection samples from
    // the FULL corpus (it already bounds itself to sampleN driver rows)
    val base =
      if (trainFraction >= 1.0) all
      else all.filter(
        pmod(xxhash64(col("vec")), lit(1000000L)) < lit((trainFraction * 1000000L).toLong))
    val sample: IndexedSeq[Seq[Double]] = all
      .orderBy(xxhash64(col("vec")))
      .limit(math.max(k, sampleN)).collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    require(sample.nonEmpty, "trainCentroids: no usable vectors")
    // farthest-point greedy: start from the smallest-hash vector, then
    // repeatedly add the sample vector with the LOWEST max-cosine to the
    // seeds picked so far (ties toward the earlier sample index)
    val seedIdx = scala.collection.mutable.ArrayBuffer(0)
    while (seedIdx.size < math.min(k, sample.size)) {
      var bestI = -1
      var bestScore = Double.MaxValue
      var i = 0
      while (i < sample.size) {
        if (!seedIdx.contains(i)) {
          val maxSim = seedIdx.map(j => cosS(sample(j), sample(i))).max
          if (maxSim < bestScore) { bestScore = maxSim; bestI = i }
        }
        i += 1
      }
      seedIdx += bestI
    }
    var centroids: Seq[Seq[Double]] = seedIdx.map(sample(_)).toIndexedSeq
    for (_ <- 0 until iters) {
      val scored = centroids.zipWithIndex.map { case (c, i) =>
        struct(cosine(col("vec"), typedlit(c)).as("sim"), lit(i).as("cid"))
      }
      val assigned = base.select(col("vec"),
        greatest1(scored).getField("cid").as("cid"))
      val aggs = (0 until dims).map(d =>
        avg(get(col("vec"), lit(d))).as(s"m$d"))
      val rows = assigned.groupBy(col("cid")).agg(aggs.head, aggs.tail: _*)
        .collect()
      val means = rows.map { r =>
        r.getInt(0) -> (0 until dims).map(d => r.getDouble(d + 1))
      }.toMap
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        means.get(i).map { m =>
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0) old else m.map(_ / n): Seq[Double]
        }.getOrElse(old)
      }
    }
    centroids
  }

  /** IVF-style partition assignment: nearest of `centroids` per vector —
    * the write-time clustering step of an IVF index. Centroids broadcast as
    * literals (small).
    */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      struct(cosine(transform(col(vecCol), x => x.cast("double")),
        typedlit(c)).as("sim"), lit(i).as("cid"))
    }
    df.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        greatest1(scored).getField("cid").as("centroid"))
  }
}
