package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication operators for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. No reference analogue (the
  * reference validates one document); these are the corpus-level operators a
  * 100 TB pipeline needs.
  *
  * All hashing is done with Spark-native expressions (`xxhash64`, `hash`,
  * `crc32`) inside whole-stage codegen — no UDF per token. Shingling uses
  * SQL HOFs over `split`, so the whole minhash signature of a document is
  * one projection.
  *
  * Scale notes:
  *   - exact dedup = groupBy on a 64/128-bit content hash → partial agg
  *     collapses unique docs map-side; only hash+id shuffle, never text.
  *   - MinHash-LSH: b bands × r rows; candidate generation is
  *     `explode(bands)` → self-join on (band_idx, band_hash) — the join key
  *     is a bucket, so the shuffle is proportional to candidate mass, not
  *     corpus²; per-bucket skew (boilerplate docs) is bounded by capping
  *     bucket size (`maxBucket`).
  *   - SimHash: 64-bit signature via per-token hash bit-votes expressed as
  *     one `aggregate` HOF; near-dup = identical signature band join, with
  *     hamming-distance verify.
  */
object Dedup {

  /** Drop rows in oversized buckets (> maxBucket members) without sorting.
    *
    * The count-over-Window alternative shuffles AND sorts the entire banded
    * corpus (corpus × bands rows) just to annotate bucket sizes — at 100 TB
    * that sort is the bottleneck of the whole dedup path. Here bucket sizes
    * come from a map-side-combined `groupBy(keys).count` whose output is one
    * row per DISTINCT bucket, filtered down to only the oversized ones
    * (boilerplate buckets — rare by construction), then anti-joined back.
    * No explicit broadcast() hint: Spark honors a hint REGARDLESS of size,
    * so a heavily-templated corpus whose oversized set outgrew the 8 GB
    * broadcast hard limit would OOM the driver instead of falling back.
    * Left to the planner, the anti-join broadcasts while the set is under
    * autoBroadcastJoinThreshold (sort-free) and AQE demotes it to a shuffle
    * join when runtime stats say otherwise — degraded, never dead.
    */
  private[operators] def dropOversizedBuckets(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    val oversized = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bucket_size"))
      .filter(col("_bucket_size") > maxBucket)
      .drop("_bucket_size")
    banded.join(oversized, keys, "left_anti")
  }

  /** Normalized content hash: lowercase, collapse whitespace, md5 —
    * 128 BITS, not a bare xxhash64: at 10^10 docs a 64-bit key expects
    * birthday collisions (~n²/2^65), i.e. false exact-dup groups whose
    * higher-id member gets DELETED by the keep-min plan; 128 bits pushes
    * that to ~n²/2^129. The 32-hex string costs 4× the shuffle-key bytes
    * of a long, but exact() shuffles one row per DISTINCT hash per
    * partition (map-side combine), so the group key is never the
    * dominant traffic.
    */
  def contentHash(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Exact duplicates: groups of identical normalized text. Returns
    * (content_hash, dup_count) for groups with >1 member.
    */
  def exact(df: DataFrame, textCol: String): DataFrame =
    df.filter(col(textCol).isNotNull)
      .groupBy(contentHash(col(textCol)).as("content_hash"))
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Exact-dup group membership: (id, content_hash, keep) where keep marks
    * the canonical (min id) representative — the "drop the rest" plan.
    *
    * Sort-free: a `row_number` Window would shuffle AND sort every
    * (id, hash) row just to mark the min-id representative; instead the
    * keeper ids come from a map-side-combined `groupBy(hash).agg(min(id))`
    * (one row per distinct hash) joined back — two narrow shuffles on the
    * same key, no sort anywhere.
    *
    * `keep` is computed null-safely (`<=>`), so it is always a boolean:
    * a null-id row in a group with non-null ids gets keep = false (it is
    * in the delete list, never silently skipped), and rows TIED on the
    * representative id (duplicate ids, or an all-null-id group) each get
    * keep = true — id ties are indistinguishable rows in (id, hash)
    * space; run [[Uniqueness]] first if ids must be unique.
    */
  def exactMembers(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // null text never forms a dup group (same filter as exact(); without
    // it every null-text row would share one hash and be "deduped" away)
    val hashed = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), contentHash(col(textCol)).as("content_hash"))
    val keepers = hashed.groupBy(col("content_hash"))
      .agg(min(col("id")).as("_keep_id"))
    hashed.join(keepers, Seq("content_hash"))
      .select(col("id"), col("content_hash"),
        when(col("_keep_id").isNull, col("id").isNull) // all-null-id group
          .otherwise(col("id") <=> col("_keep_id")).as("keep"))
  }

  /** Normalized whitespace tokens — the shared tokenization of [[shingles]]
    * and the native [[graft.plans.MinHashOps.bandHashes]] kernel.
    */
  private[graft] def normTokens(text: Column): Column =
    split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")

  /** Distinct 64-bit shingle hashes of a text column (native kernel) —
    * bit-identical element-wise to `array_distinct(transform(
    * shingles(text, k), s => xxhash64(s)))`, except < k tokens yields null
    * instead of an empty array (identical under `explode`, which skips
    * both). NoInline fences the kernel from filter-pushdown duplication.
    */
  private[operators] def shingleHashesCol(text: Column, k: Int): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(graft.plans.NoInline(graft.plans.MinHashOps.shingleHashesExpr(
      GraftShims.expression(normTokens(text)), k)))
  }

  /** Word k-shingles of a normalized text column (array<string>).
    *
    * Built by zip_with-chaining the token array against its shifted copies —
    * all shifts are ROW-level expressions. (The obvious
    * `transform(sequence(...), i => slice(toks, i+1, k))` form re-evaluates
    * the whole tokenization per element inside the lambda — interpreted HOFs
    * have no CSE — and profiled ~30× slower.)
    */
  def shingles(text: Column, k: Int = 3): Column = {
    val toks = normTokens(text)
    val n = size(toks)
    var acc: Column = toks
    (1 until k).foreach { j =>
      val shifted = slice(toks, lit(j + 1), greatest(n - j, lit(0)))
      acc = zip_with(acc, shifted, (a, b) => concat(a, lit(" "), b))
    }
    // zip_with pads the tail with null-concats; keep the first n-k+1
    slice(acc, lit(1), greatest(n - (k - 1), lit(0)))
  }

  /** MinHash signature (array<long>, length = numHashes) over shingles.
    *
    * Single pass over the shingle array: the accumulator holds all
    * `numHashes` running minima and each shingle contributes
    * `xxhash64(shingle, seed_i)` per slot via one `zip_with`. Expressing it
    * as N independent `array_min(transform(...))` scans instead makes the
    * shingle expression tree explode N× (no CSE inside HOF lambdas) — that
    * variant benched ~100× slower.
    */
  def minHashSignature(shingleCol: Column, numHashes: Int): Column =
    aggregate(
      shingleCol,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, seed) => least(m, xxhash64(s, seed))),
      // empty shingle set -> null signature (else every short doc would
      // share the [MaxValue, ...] signature and flood one LSH bucket)
      acc => when(element_at(acc, 1) === lit(Long.MaxValue), lit(null))
        .otherwise(acc))

  /** All band hashes in the same single pass (the aggregate's finish lambda
    * binds the final signature once — no re-evaluation per band).
    */
  def bandHashes(shingleCol: Column, numHashes: Int, bands: Int): Column = {
    val r = numHashes / bands
    aggregate(
      shingleCol,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, s) => zip_with(acc, sequence(lit(0), lit(numHashes - 1)),
        (m, seed) => least(m, xxhash64(s, seed))),
      acc => when(element_at(acc, 1) === lit(Long.MaxValue), lit(null))
        .otherwise(transform(sequence(lit(0), lit(bands - 1)), b =>
          xxhash64(concat_ws(",", slice(acc, b * r + 1, lit(r)))))))
  }

  /** LSH banding: (id, band_idx, band_hash) — one row per band. The band
    * hashes come from the native [[graft.plans.MinHashOps.bandHashes]] kernel (one
    * string hash per shingle + cheap integer mixes per slot — bit-identical
    * to the HOF [[bandHashes]]∘[[shingles]] pipeline, which re-hashed the
    * full shingle string once per signature slot and dominated the dedup
    * wall).
    */
  def lshBands(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    import org.apache.spark.sql.GraftShims
    // NoInline: without it the isnotnull/size>0 filters (ours + the one
    // InferFiltersFromGenerate adds under posexplode) are pushed below the
    // projection with the kernel INLINED, evaluating the whole banding
    // kernel 2-3× per row in one scan (r6 plan audit); fenced, the kernel
    // runs once and the filters test the materialized column
    val bh = GraftShims.column(graft.plans.NoInline(graft.plans.MinHashOps.bandHashesExpr(
      GraftShims.expression(normTokens(col(textCol))), k, numHashes, bands)))
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("id"), bh.as("bh"))
      .filter(col("bh").isNotNull)
      .select(col("id"), posexplode(col("bh")))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** One-scan (id, sh) proxy frame: `sh` = the DISTINCT 64-bit shingle
    * hashes of the doc (native [[graft.plans.MinHashOps.shingleHashes]] kernel —
    * bit-identical to `array_distinct(transform(shingles(text, k),
    * xxhash64))`). This is the §8-shaped decision proxy of the whole
    * near-dup subsystem: the text is read and shingled EXACTLY ONCE, and
    * both the LSH banding (integer-mix kernel over `sh`) and the exact-
    * Jaccard verify (set algebra over `sh`) derive from the materialized
    * 8-bytes-per-shingle arrays — no later stage re-reads the corpus.
    * Docs with < k tokens (null kernel output) are excluded: they can
    * never band, so they can never be candidates.
    */
  private[operators] def shingleHashFrame(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("id"), shingleHashesCol(col(textCol), k).as("sh"))
      .filter(col("sh").isNotNull)

  /** Banded rows (id, band_idx, band_hash) derived from a [[shingleHashFrame]]
    * via the integer-only [[graft.plans.MinHashOps.bandHashesFromHashes]] kernel —
    * bit-identical to [[lshBands]]' output for the same docs. Cheap to
    * recompute per consumer (a few integer mixes per shingle hash), so the
    * callers checkpoint the sh frame, never the banded explode.
    */
  private[operators] def bandedFromSh(sh: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    import org.apache.spark.sql.GraftShims
    val bh = GraftShims.column(graft.plans.MinHashOps.bandHashesFromHashesExpr(
      GraftShims.expression(col("sh")), numHashes, bands))
    sh.select(col("id"), posexplode(bh))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_hash")
  }

  /** Exact Jaccard of candidate pairs from materialized shingle-hash
    * arrays — the verify half of [[nearDupPairsExact]], fed by the SAME
    * (checkpointed) [[shingleHashFrame]] the candidates came from, so
    * verification costs two cached-block joins instead of a second corpus
    * scan + re-shingling. Same set math as [[ngramJaccard]].
    */
  private[operators] def jaccardFromSh(pairs: DataFrame, sh: DataFrame): DataFrame =
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter"))
      .select(col("id_a"), col("id_b"),
        when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")).as("jaccard"))

  /** MinHash-LSH candidate pairs (id_a < id_b), deduplicated across bands.
    * `maxBucket` caps pathological buckets (boilerplate) to bound the
    * self-join blow-up.
    */
  def minHashCandidates(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8, maxBucket: Int = 1000): DataFrame =
    minHashCandidatesFromSh(
      shingleHashFrame(df, idCol, textCol, k).localCheckpoint(),
      numHashes, bands, maxBucket)

  /** Candidate generation over a (checkpointed) [[shingleHashFrame]]: the
    * banded rows feed three consumers (bucket-size agg, anti-join probe,
    * self-join l/r), each re-deriving bands from the cached sh blocks with
    * the integer kernel — cheaper than a second materialization, and the
    * text itself is never touched (the pre-kernel pipeline re-ran the
    * full banding scan up to 4× per query).
    */
  private def minHashCandidatesFromSh(sh: DataFrame, numHashes: Int,
      bands: Int, maxBucket: Int): DataFrame = {
    val b = bandedFromSh(sh, numHashes, bands)
    val capped = dropOversizedBuckets(b, Seq("band_idx", "band_hash"), maxBucket)
    val l = capped.select(col("band_idx"), col("band_hash"), col("id").as("id_a"))
    val rr = capped.select(col("band_idx"), col("band_hash"), col("id").as("id_b"))
    l.join(rr, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Estimated-Jaccard verification of candidate pairs against the full
    * MinHash signatures: fraction of agreeing hash slots.
    */
  def minHashPairs(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.7,
      maxBucket: Int = 1000): DataFrame = {
    // candidate pairs are tiny by construction (capped buckets) — eagerly
    // checkpoint them so the banding pipeline runs ONCE even though the
    // pair list is consumed twice (id extraction + the final join)
    val cands = minHashCandidates(df, idCol, textCol, k, numHashes, bands, maxBucket)
      .localCheckpoint()
    // signatures only for ids that actually appear in a candidate pair —
    // at corpus >> candidates the full-corpus signature projection would
    // dominate the stage for rows the join then discards
    val candIds = cands.select(col("id_a").as("cid"))
      .union(cands.select(col("id_b").as("cid"))).distinct()
    val sigs = df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .join(candIds, col(idCol) === col("cid"), "left_semi")
      .select(col(idCol).as("id"),
        minHashSignature(shingles(col(textCol), k), numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    cands
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), lit(0), (acc, z) => acc + z)
          .cast("double") / lit(numHashes))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** 64-bit SimHash over whitespace tokens via the native codegen
    * kernel ([[graft.plans.SimHashOps.simhash]]): one tight loop per row instead
    * of an interpreted 64-wide `zip_with` per token.
    */
  def simHash(text: Column): Column = {
    import org.apache.spark.sql.GraftShims
    val toks = split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")
    GraftShims.column(graft.plans.SimHashOps.simhashExpr(GraftShims.expression(toks)))
  }

  /** PORTABLE 48-bit SimHash twin: same vote construction as [[simHash]]
    * but the per-token hash is a base-31 polynomial rolling hash mod a
    * 48-bit prime-ish constant — pure integer arithmetic any engine
    * reproduces exactly (xxhash64 is Spark-internal, which is why
    * [[simHash]]'s signatures can only be rows-checked by an external
    * oracle; THIS form is the value-checkable one, pinning the whole
    * vote/threshold/bit-packing pipeline bit-for-bit). The native
    * [[simHash]] stays the fast path; the portable twin is for oracle
    * verification and cross-engine reproducibility, and shares its bit
    * convention (vote > 0 → bit set).
    */
  val PortableBits = 48
  private val RollingMod48 = 251799813685119L // < 2^48 so acc*31+c < 2^53
  def simHashPortable(text: Column): Column = {
    val toks = filter(split(lower(text), " "), t => length(t) > 0)
    val hashes = transform(toks, w =>
      aggregate(
        transform(filter(split(w, ""), ch => length(ch) > 0),
          ch => ascii(ch).cast("long")),
        lit(0L), (acc, c) => pmod(acc * lit(31L) + c, lit(RollingMod48))))
    // one vote-sum per bit over the (tiny) per-row hash array; oracle-duty
    // clarity over single-pass cleverness — the hot path is simHash
    val bits = (0 until PortableBits).map { j =>
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftright(h, j).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Hamming distance between two long simhashes (bit_count of xor). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64-bit signature into `maxHamming + 1`
    * disjoint bit slices — the pigeonhole guarantee that any pair within
    * hamming distance `maxHamming` shares at least one band UNCHANGED (its
    * differing bits can spoil at most `maxHamming` of the `maxHamming + 1`
    * bands) — join per band, verify with bit_count.
    *
    * The band count MUST derive from `maxHamming`; a fixed banding (e.g.
    * 4×16 bits) only guarantees recall up to hamming 3 and silently drops
    * farther pairs. More bands = coarser keys = bigger buckets, which is the
    * inherent recall/cost tradeoff of banded simhash; `maxBucket` bounds the
    * blow-up (capped buckets forfeit the guarantee for their members — at
    * scale those are boilerplate clusters you'd dedup by exact hash anyway).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      "maxHamming must be in [0, 31] (64-bit signature needs bands of >= 2 bits)")
    val bands = maxHamming + 1
    val width = 64 / bands // last band absorbs the 64 % bands remainder
    def bandKey(sh: Column, j: Int): Column = {
      val hi = if (j == bands - 1) 64 else (j + 1) * width
      val mask = if (hi - j * width == 64) -1L else (1L << (hi - j * width)) - 1L
      call_function("shiftright", sh, lit(j * width)).bitwiseAND(lit(mask))
    }
    val sigs = df.filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("id"), simHash(col(textCol)).as("sh"))
    // banded rows feed the bucket-size agg, the anti-join probe and both
    // self-join sides — checkpoint so the corpus is scanned+simhashed once
    val banded = sigs.select(col("id"), col("sh"), posexplode(
      array((0 until bands).map(j => bandKey(col("sh"), j)): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
      .localCheckpoint()
    val capped = dropOversizedBuckets(banded, Seq("band_idx", "band_key"), maxBucket)
    val l = capped.select(col("band_idx"), col("band_key"),
      col("id").as("id_a"), col("sh").as("sh_a"))
    val r = capped.select(col("band_idx"), col("band_key"),
      col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), hamming(col("sh_a"), col("sh_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** LSH-then-verify near-duplicate pairs with EXACT n-gram Jaccard:
    * candidates from MinHash banding, then the true Jaccard over shingle
    * sets, kept at >= threshold. With bands == numHashes (r = 1 row per
    * band) a pair at jaccard j is missed with probability (1-j)^numHashes —
    * at j >= 0.5 and 32 hashes that is 2^-32, so the output is (within
    * that probability) EXACTLY the brute-force all-pairs answer computed
    * without the n² scan. That equivalence is what makes this form
    * oracle-checkable against an independent engine.
    */
  def nearDupPairsExact(df: DataFrame, idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 32, bands: Int = 32, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    // ONE corpus scan: the checkpointed (id, sh) frame feeds candidate
    // generation AND exact verification (the pre-r6 shape scanned the
    // corpus again inside ngramJaccard — and that scan ran twice, once per
    // broadcast-build side). Candidates are capped-bucket-bounded and
    // tiny; checkpointing them keeps the self-join from replaying per
    // verify consumer.
    val sh = shingleHashFrame(df, idCol, textCol, k).localCheckpoint()
    // widen the (AQE-coalesced-to-bytes) candidate list before the verify:
    // byte-based coalescing cannot see that each pair costs an
    // array_intersect over two shingle-hash sets, and a few-MB candidate
    // list otherwise verifies on ONE task (r6 profile: the whole verify
    // stage single-threaded). No-op once the pair list has ≥ core-count
    // partitions, i.e. at any production scale.
    val cands = Scans.widen(
      minHashCandidatesFromSh(sh, numHashes, bands, maxBucket)
        .localCheckpoint())
    jaccardFromSh(cands, sh).filter(col("jaccard") >= threshold)
  }

  /** Benchmark-contamination check: per-document shingle containment
    * against a (small) probe corpus — "which training docs contain
    * benchmark item Y". For every (doc, probe) pair sharing at least one
    * k-shingle: containment = |shingles(probe) ∩ shingles(doc)| /
    * |shingles(probe)|, kept at ≥ `minContainment`.
    *
    * Scale shape: probes explode to (shingle → probe) — the SMALL side,
    * broadcast by the planner; docs explode to (shingle → doc) in one
    * streaming pass; the join keys on the shingle, so candidate mass is
    * proportional to genuinely shared shingles, never |docs| × |probes|.
    * Probes with zero shingles (< k tokens) are excluded (undefined
    * containment).
    */
  def contaminationAgainst(docs: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeIdCol: String, probeTextCol: String,
      k: Int = 3, minContainment: Double = 0.5): DataFrame = {
    // join keys are the 64-bit kernel hashes, not shingle strings: the
    // operator only counts shared shingles (narrower join key + no
    // interpreted HOF chain per row; collision trade-off as in
    // [[containmentPairs]])
    val dSh = docs.select(col(idCol).as("doc_id"),
      explode(shingleHashesCol(col(textCol), k)).as("sh"))
    val pShingles = probes.select(col(probeIdCol).as("probe_id"),
      coalesce(shingleHashesCol(col(probeTextCol), k),
        array().cast("array<bigint>")).as("ps"))
      .filter(size(col("ps")) > 0)
    val pSh = pShingles.select(col("probe_id"), size(col("ps")).as("probe_shingles"),
      explode(col("ps")).as("sh"))
    dSh.join(pSh, Seq("sh"))
      .groupBy(col("doc_id"), col("probe_id"), col("probe_shingles"))
      .agg(count(lit(1)).as("matches"))
      .select(col("doc_id"), col("probe_id"),
        (col("matches").cast("double") / col("probe_shingles")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Persist the incremental-dedup index of a corpus under `dir`, as two
    * plain-parquet halves written from one corpus scan:
    *  - `bands/`: (id, band_idx, band_hash) LSH band rows, the probe side;
    *  - `sigs/`: (id, sh) distinct shingle-hash arrays, the verify side.
    * A daily increment is then deduplicated against the full history by
    * hashing only the NEW docs and joining their bands against `bands/`;
    * the historical corpus is never re-read, never re-shingled. Oversized
    * buckets (> maxBucket members — boilerplate) are dropped at BUILD
    * time, same policy as the batch path, so every later probe pays zero
    * bucket-size accounting. Indexes written in the older band-partitioned
    * layout (no `sigs/`) cannot be probed; rebuild them.
    */
  def minHashWriteIndex(df: DataFrame, idCol: String, textCol: String,
      dir: String, k: Int = 3, numHashes: Int = 32, bands: Int = 32,
      maxBucket: Int = 1000): Unit = {
    // one corpus scan feeds BOTH halves of the index: `bands/` (the LSH
    // probe side) and `sigs/` (the (id, sh) shingle-hash arrays the verify
    // stage joins against) — so the probe path never re-reads or
    // re-shingles historical TEXT at all, which is the contract a daily
    // 100 TB increment actually needs.
    //
    // bands/ is PLAIN parquet, not partitionBy(band_idx): every probe
    // joins ALL bands (each new doc carries all its band hashes), so a
    // band-partitioned layout prunes nothing anywhere while costing one
    // dir + file per band (32 tiny files whose listing/footer overhead
    // dominated the sf0.1 probe's index read) — unlike the ANN index
    // (Similarity.lshWriteIndex), whose probes really do prune to the
    // query's buckets. File count follows the writing scan's partitions:
    // input-split-shaped at scale (guide §6), a handful of files locally.
    val sh = shingleHashFrame(df, idCol, textCol, k).localCheckpoint()
    dropOversizedBuckets(bandedFromSh(sh, numHashes, bands),
      Seq("band_idx", "band_hash"), maxBucket)
      .write.mode("overwrite").parquet(s"$dir/bands")
    sh.write.mode("overwrite").parquet(s"$dir/sigs")
  }

  /** Near-duplicates of a NEW batch against an indexed historical corpus:
    * (id_a = new id, id_b = base id, jaccard), exact-verified at >=
    * threshold. Candidates come from joining the new batch's bands against
    * the persisted index (shuffle is band-row-sized on the new side — the
    * small side — and candidate-mass-bounded); verification intersects the
    * new docs' shingle hashes with the index's persisted `sigs/`. The index
    * is authoritative for the base side: the base corpus is never read
    * here, so an index built from an older corpus yields that corpus's
    * pairs — rebuild it with [[minHashWriteIndex]] when the base changes.
    * New-batch ids must be disjoint from base ids. With bands == numHashes
    * the output equals the brute-force new-x-base answer at the usual
    * (1-j)^numHashes miss bound, which is what makes the incremental path
    * oracle-checkable.
    */
  def incrementalNearDups(newDocs: DataFrame, indexDir: String,
      idCol: String, textCol: String, k: Int = 3,
      numHashes: Int = 32, bands: Int = 32, threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val idx = newDocs.sparkSession.read.parquet(s"$indexDir/bands")
      .select(col("band_idx"), col("band_hash"), col("id").as("id_b"))
    // ONE scan of the new batch: the checkpointed (id, sh) frame feeds the
    // banding probe AND the new-side verify join
    val shNew = shingleHashFrame(newDocs, idCol, textCol, k).localCheckpoint()
    val nb = dropOversizedBuckets(bandedFromSh(shNew, numHashes, bands),
      Seq("band_idx", "band_hash"), maxBucket)
      .select(col("band_idx"), col("band_hash"), col("id").as("id_a"))
    // candidate pairs feed both verify joins — materialize the (tiny,
    // candidate-mass-bounded) list instead of re-probing the index, and
    // widen it so the per-pair array_intersect verify is not stranded on
    // the single post-AQE partition (see nearDupPairsExact)
    val cands = Scans.widen(nb.join(idx, Seq("band_idx", "band_hash"))
      .select("id_a", "id_b").distinct().localCheckpoint())
    // base-side verify reads the PERSISTED sigs — historical text is never
    // re-read or re-shingled on the probe path (pre-r6, ngramJaccard
    // re-scanned and re-shingled the base corpus' candidate docs, twice —
    // once per broadcast-build side)
    val shBase = newDocs.sparkSession.read.parquet(s"$indexDir/sigs")
    cands
      .join(shNew.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shBase.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter"))
      .select(col("id_a"), col("id_b"),
        when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Corpus boilerplate shingles: the k-shingles that appear in at least
    * `minDocs` DISTINCT documents — headers, footers, license blurbs,
    * navigation chrome. This is the report form of the policy the LSH
    * paths already apply implicitly (oversized band buckets == boilerplate
    * mass); a curation pipeline reads it to build strip lists.
    *
    * Output (shingle, n_docs). Scale: per-doc DISTINCT shingles explode
    * into one map-side-combined groupBy; the shuffle carries one row per
    * distinct shingle per partition, and the output is vocabulary-bounded
    * (≤ distinct-shingle count), never corpus-sized. For truly unbounded
    * shingle vocabularies a count-min sketch (Spark's `count_min_sketch`)
    * is the fixed-state twin.
    */
  def boilerplateShingles(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minDocs: Int = 100): DataFrame =
    df.select(explode(array_distinct(shingles(col(textCol), k))).as("shingle"))
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** Per-document boilerplate share: what fraction of each doc's distinct
    * k-shingles are corpus boilerplate (per [[boilerplateShingles]] at
    * `minDocs`) — the quality gate that catches template-dominated pages.
    * Output (id, n_shingles, n_boiler, boiler_share) for docs with ≥ 1
    * shingle. One extra join of the exploded shingles against the
    * boilerplate set (AQE broadcasts it when small).
    */
  def boilerplateShare(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minDocs: Int = 100): DataFrame = {
    // ONE corpus shingle pass shared by the strip list and the per-doc
    // side (previously each ran its own scan+shingling), with shingle
    // identity as xxhash64 — this operator only counts, never emits
    // shingle text (the report form with strings is
    // [[boilerplateShingles]], unchanged); see [[containmentPairs]] on
    // the collision trade-off
    val perDoc = df.select(col(idCol).as("id"),
        explode(shingleHashesCol(col(textCol), k)).as("shingle"))
      .localCheckpoint()
    val boiler = perDoc.groupBy(col("shingle"))
      .agg(count(lit(1)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("shingle"), lit(1L).as("_is_boiler"))
    perDoc.join(boiler, Seq("shingle"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("_is_boiler")), lit(0L)).as("n_boiler"))
      .select(col("id"), col("n_shingles"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_shingles"), 6)
          .as("boiler_share"))
  }

  /** Cross-source duplicate provenance matrix: for every source pair,
    * how many DISTINCT normalized contents appear in both — "which feeds
    * copy from which" (mirror detection, double-ingestion, licensing
    * audits). Contents project to (content_hash, source) pairs, distinct,
    * then a hash-keyed self-join emits one row per (content, src_a <
    * src_b) co-occurrence; the groupBy rolls them up to the matrix.
    *
    * Scale: the join key is the content hash, so both sides shuffle once
    * on it (map-side-combined distinct first); join fan-out per content is
    * (#sources-holding-it choose 2) — bounded by the SOURCE count, not the
    * corpus; the output is at most |sources|² rows.
    */
  def sourceOverlap(df: DataFrame, textCol: String,
      srcCol: String): DataFrame = {
    val cs = df.filter(col(textCol).isNotNull && col(srcCol).isNotNull)
      .select(contentHash(col(textCol)).as("c"), col(srcCol).as("s"))
      .distinct()
    cs.select(col("c"), col("s").as("src_a"))
      .join(cs.select(col("c"), col("s").as("src_b")), Seq("c"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_contents"))
  }

  /** Prefix-containment duplicates: pairs where the shorter document's
    * FULL text is a strict prefix of the longer one — the truncation-dup
    * family (crawler cutoffs, token-limit clippings, partial re-scrapes)
    * that shingle-Jaccard under-scores (a 10% prefix shares only ~10% of
    * shingles) and exact dedup misses entirely.
    *
    * Bucketing: both sides key on their first `minPrefix` characters —
    * any containment pair whose shorter side has ≥ minPrefix chars shares
    * the bucket by construction, so candidates meet in an equi-join on
    * the bucket (never a corpus×corpus theta-join) and the `startswith`
    * check is a residual filter. Docs shorter than minPrefix are out of
    * the audit's scope by contract (raise/lower the knob per corpus; 32
    * chars already makes natural bucket collisions rare, keeping bucket
    * fan-out ~1). Output: (id_a, id_b, prefix_len) with id_a the shorter
    * (contained) side; exact-equal texts are NOT emitted (that is
    * [[exact]]'s contract).
    */
  def prefixDups(df: DataFrame, idCol: String, textCol: String,
      minPrefix: Int = 32): DataFrame = {
    require(minPrefix > 0, s"minPrefix must be positive: $minPrefix")
    val keyed = df
      .filter(col(textCol).isNotNull && length(col(textCol)) >= minPrefix)
      .select(col(idCol).as("id"), col(textCol).as("text"),
        substring(col(textCol), 1, minPrefix).as("_bucket"))
    val a = keyed.select(col("_bucket"), col("id").as("id_a"),
      col("text").as("_text_a"))
    val b = keyed.select(col("_bucket"), col("id").as("id_b"),
      col("text").as("_text_b"))
    a.join(b, Seq("_bucket"))
      .filter(length(col("_text_a")) < length(col("_text_b")) &&
        col("_text_b").startsWith(col("_text_a")))
      .select(col("id_a"), col("id_b"),
        length(col("_text_a")).cast("long").as("prefix_len"))
  }

  /** Exact n-gram Jaccard similarity for given candidate pairs — the
    * verification stage after LSH narrows candidates (never run all-pairs at
    * scale). `pairs` must have (id_a, id_b).
    */
  def ngramJaccard(df: DataFrame, pairs: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    // shingle ONLY the docs that appear in a candidate pair: at corpus >>
    // candidates the full-corpus shingling would dominate the stage for
    // rows the pair joins then discard (and it ran TWICE — once per join
    // side). The semi-join is exact row pruning: docs outside `pairs`
    // never influence the inner joins below.
    val pids = pairs.select(col("id_a").as("_pid"))
      .union(pairs.select(col("id_b").as("_pid"))).distinct()
    // Set algebra on 8-byte shingle HASHES, not shingle strings: jaccard
    // only needs |A∩B| and |A∪B|, and xxhash64 of the shingle preserves
    // set identity (the d_containment precedent — 64-bit collisions inside
    // one pair's shingle sets are the only way a value could move).
    // Candidate mass is bands·corpus-bounded (r=1 banding keeps EVERY
    // single-slot match), so per-pair set cost dominates the stage: long
    // equality beats string hashing ~4×, and |A∪B| = |A|+|B|−|A∩B| saves
    // the second hash-set build per pair. The native shingleHashes kernel
    // replaces the interpreted HOF chain, with its null (< k tokens)
    // mapped back to the HOF's empty array and a null TEXT kept null —
    // bit-identical contract (PipelineOpsSpec). localCheckpoint: the two
    // signature joins below each broadcast-build from `sh`; unchecked,
    // the scan+shingling ran once PER SIDE (r6 job profile).
    val sh = df.join(pids, col(idCol) === col("_pid"), "left_semi")
      .select(col(idCol).as("id"),
        when(col(textCol).isNull, lit(null).cast("array<bigint>"))
          .otherwise(coalesce(shingleHashesCol(col(textCol), k),
            array().cast("array<bigint>")))
          .as("sh"))
      .localCheckpoint()
    pairs
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter"))
      .select(col("id_a"), col("id_b"),
        when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")).as("jaccard"))
  }

  /** PORTABLE MinHash signature (array<string>, length = numHashes):
    * slot i = the lexicographic minimum of `md5("i " + shingle)` over the
    * shingle set. Hash-ordering minima are a valid MinHash family, md5 hex
    * compares bytewise identically in every engine, and the `"g"`
    * sentinel sorts above every hex digest — so any SQL engine replays
    * the signature exactly (the [[simHashPortable]] pattern). The
    * xxhash64 [[minHashSignature]] stays the fast path; this twin exists
    * to AUDIT it.
    */
  def minHashPortableSig(text: Column, k: Int = 3,
      numHashes: Int = 16): Column = {
    import org.apache.spark.sql.GraftShims
    // native kernel (graft.plans.PortableMinHashOps.portableSig): one digest per
    // DISTINCT shingle slot, minima kept as raw digest bytes — bit-identical
    // to its HOF twin (PipelineOpsSpec cross-checks), which
    // allocated a 16-slot string array + 16 interpreted md5 trees per
    // shingle. NoInline fences it from filter-pushdown duplication (the
    // lshBands precedent).
    GraftShims.column(graft.plans.NoInline(graft.plans.PortableMinHashOps.portableSigExpr(
      GraftShims.expression(normTokens(text)), k, numHashes)))
  }

  /** Shingle document-frequency histogram — the one-page corpus-redundancy
    * profile: for each doc-frequency value, how many distinct k-shingles
    * occur in exactly that many documents. Mass at df = 1 is unique
    * content; a heavy tail is boilerplate/templates — the single chart
    * that says whether this corpus needs [[boilerplateShingles]] and at
    * what `minDocs`, and how much [[minHashPairs]] banding will collide.
    *
    * Scale: distinct-shingles explode → vocabulary-sized map-side-combined
    * groupBy (the [[boilerplateShingles]] tier), then a second aggregation
    * down to histogram-sized output (≤ max doc-frequency rows). Nothing
    * corpus-sized shuffles twice.
    */
  def shingleDfHistogram(df: DataFrame, textCol: String,
      k: Int = 3): DataFrame =
    // shingle identity as the 64-bit kernel hash (the [[containmentPairs]]
    // trade-off): the histogram only counts distinct shingles, never emits
    // their text, so the narrow key halves the vocabulary shuffle; a
    // cross-vocabulary collision (≈ vocab²/2^65) could merge two rows
    df.select(explode(shingleHashesCol(col(textCol), k)).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("doc_freq"))
      .groupBy(col("doc_freq")).agg(count(lit(1)).as("n_shingles"))

  /** Sketch-quality audit of MinHash itself: per pair, the signature's
    * estimated Jaccard (share of agreeing slots) next to the EXACT shingle
    * Jaccard and the absolute error — the measurement that justifies (or
    * indicts) the `numHashes`/`threshold` choices the whole dedup
    * subsystem rides on. Expected |err| ≈ sqrt(J(1−J)/numHashes); a drift
    * of the observed error above that band means the hash family is
    * misbehaving on this corpus (adversarial or degenerate shingles).
    *
    * Built on the PORTABLE signature so an independent engine can replay
    * both columns; the estimator (slot agreement) is identical math to
    * the production [[minHashPairs]] filter.
    *
    * Scale: signatures project in the corpus scan; both joins are
    * pair-list-sized on the probe side. `pairs` must have (id_a, id_b).
    */
  def minHashQuality(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, k: Int = 1, numHashes: Int = 16): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
        minHashPortableSig(col(textCol), k, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    val exact = ngramJaccard(df, pairs, idCol, textCol, k)
    val est = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          when(x === y, 1).otherwise(0)), lit(0), (acc, z) => acc + z)
          .cast("double") / lit(numHashes)).as("est"))
    est.join(exact, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"),
        round(col("est"), 4).as("est_jaccard"),
        round(col("jaccard"), 4).as("jaccard"),
        round(abs(col("est") - col("jaccard")), 4).as("abs_err"))
  }

  /** Split shingle-COVERAGE: for each non-reference split, what fraction
    * of its distinct k-shingles also appear in the reference split —
    * the vocabulary-generalization leak [[graft.operators.Sampling]]'s
    * near-dup split-leak audit cannot see (an eval set can be pair-clean
    * yet still 99% covered shingle-by-shingle, i.e. memorizable). 100%
    * coverage of val by train is NOT leak-free — it means eval text is
    * compositionally inside the training vocabulary; LOW coverage means
    * genuinely held-out phrasing.
    *
    * Scale: ONE distinct over (split, shingle) — corpus-vocabulary-sized
    * shuffle, linear; the coverage join is an equi-join on the shingle
    * between that summary and its reference slice; output is
    * splits-count-sized.
    */
  def splitShingleCoverage(df: DataFrame, textCol: String,
      splitCol: String, refSplit: String, k: Int = 3): DataFrame = {
    val sh = df.filter(col(textCol).isNotNull && col(splitCol).isNotNull)
      .select(col(splitCol).as("split"),
        explode(array_distinct(shingles(col(textCol), k))).as("sh"))
      .distinct()
    val sizes = sh.filter(col("split") =!= refSplit)
      .groupBy(col("split")).agg(count(lit(1)).as("n_shingles"))
    val covered = sh.filter(col("split") =!= refSplit)
      .join(sh.filter(col("split") === refSplit).select(col("sh")),
        Seq("sh"))
      .groupBy(col("split")).agg(count(lit(1)).as("n_covered"))
    sizes.join(covered, Seq("split"), "left")
      .select(col("split"), col("n_shingles"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        round(coalesce(col("n_covered"), lit(0L)).cast("double") /
          col("n_shingles"), 6).as("coverage"))
  }

  /** LSH banding-parameter ADVISOR: for every (bands, rows) factorization
    * of `numHashes`, the S-curve knee `(1/b)^(1/r)` (the jaccard where
    * candidate probability crosses ~1−1/e), the candidate probability
    * 1−(1−t^r)^b AT the target threshold (recall proxy) and at
    * `target − 0.2` (false-candidate cost proxy) — the closed-form
    * trade-off table behind choosing [[minHashPairs]]' `bands`. The
    * `recommended` row minimizes the ROUNDED |knee − target| (ties →
    * more bands, i.e. recall-favoring). Driver-side-sized by
    * construction (one row per divisor); built as a DataFrame so the
    * report composes with the rest of the pipeline.
    */
  def bandingAdvisor(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int, targetThreshold: Double): DataFrame = {
    require(numHashes > 0 && targetThreshold > 0 && targetThreshold < 1,
      "bandingAdvisor: need numHashes > 0 and target in (0,1)")
    val t = lit(targetThreshold)
    val lo = greatest(t - lit(0.2), lit(0.05))
    val rows = spark.range(1, numHashes + 1L).toDF("bands")
      .filter(lit(numHashes.toLong) % col("bands") === 0L)
      .select(col("bands"), (lit(numHashes.toLong) / col("bands"))
        .cast("long").as("rows_per_band"))
    val knee = pow(lit(1.0) / col("bands"), lit(1.0) / col("rows_per_band"))
    val pAt = lit(1.0) - pow(lit(1.0) - pow(t, col("rows_per_band")),
      col("bands"))
    val pLo = lit(1.0) - pow(lit(1.0) - pow(lo, col("rows_per_band")),
      col("bands"))
    val scored = rows.select(col("bands"), col("rows_per_band"),
      round(knee, 4).as("knee"),
      round(pAt, 4).as("p_at_target"),
      round(pLo, 4).as("p_below_target"),
      round(abs(knee - t), 4).as("_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("_dist"), col("bands").desc)
    scored
      .select(col("bands"), col("rows_per_band"), col("knee"),
        col("p_at_target"), col("p_below_target"),
        (row_number().over(w) === 1).as("recommended"))
  }

  /** Canonical-URL duplicate groups: links that are the SAME page once
    * tracking decoration is stripped ([[TextAnalysis.canonicalUrl]]:
    * fragment, `utm_*`/click-ids, param order, host case, `www.`,
    * default ports, trailing slash). Two map-side-combined HashAggregate
    * levels: (canonical, raw) pairs collapse inside the scan stage, the
    * canonical rollup runs on that summary — spelled as an explicit
    * two-level agg instead of `count_distinct` because the distinct-agg
    * expansion plans a SortAggregate keyed on the whole canonicalization
    * EXPRESSION (re-evaluated per sort comparison); projecting the
    * canonical column first keeps both levels hash-based and the
    * expression evaluated once per row (PlanSpec-asserted). Output keeps
    * only actual dup groups (`n_occurrences > 1`) with the count of
    * distinct RAW spellings and the lexicographically-first raw form as
    * the representative.
    */
  def urlDupGroups(df: DataFrame, urlCol: String): DataFrame =
    df.filter(col(urlCol).isNotNull)
      .select(col(urlCol).as("_url"),
        TextAnalysis.canonicalUrl(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"), col("_url"))
      .agg(count(lit(1)).as("_n"))
      .groupBy(col("canonical_url"))
      .agg(sum(col("_n")).as("n_occurrences"),
        count(lit(1)).as("n_variants"),
        min(col("_url")).as("first_raw"))
      .filter(col("n_occurrences") > 1)

  /** Dedup threshold ROI sweep: how many near-dup pairs (and docs) sit
    * in each jaccard decile at or above `minThreshold`, plus the
    * cumulative pair count from the top — the curve that answers "what
    * does raising/lowering the dedup threshold actually buy". ONE
    * banding + exact-verify pass ([[nearDupPairsExact]]) feeds every
    * band; nothing is re-scanned per threshold. Band = floor(j·10)
    * clamped to 9 (so j = 1.0 lands in [0.9, 1.0]); both engines bin
    * the same IEEE double, so the histogram replays exactly. The
    * sweep's domain of validity is the banding's recall S-curve — pairs
    * far below the configured band knee are not candidates, which is
    * the point (a sweep that brute-forced all pairs would be the n²
    * join this whole subsystem exists to avoid).
    */
  def thresholdSweep(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 16,
      minThreshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    val pairs = nearDupPairsExact(df, idCol, textCol, k, numHashes, bands,
      minThreshold, maxBucket)
    val b = pairs.select(
      least(floor(col("jaccard") * 10).cast("int"), lit(9)).as("band"),
      col("id_a"), col("id_b"))
    val perBand = b.groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
    val docs = b
      .select(col("band"), explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("band")).agg(countDistinct(col("id")).as("n_docs"))
    // the window is over <= 10 band rows — single-partition by design
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("band").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBand.join(docs, Seq("band"))
      .select(col("band"), (col("band").cast("double") / 10).as("band_lo"),
        col("n_pairs"), col("n_docs"),
        sum(col("n_pairs")).over(w).as("cum_pairs"))
  }

  /** Corpus-wide SUBSET-duplicate pairs: documents whose shingle set is
    * (mostly) contained in another's — containment = |A ∩ B| /
    * min(|A|, |B|). MinHash banding cannot surface these (a short doc
    * fully embedded in a long one has LOW Jaccard, so [[minHashPairs]]
    * never buckets them together); candidates come from the inverted
    * shingle index instead: explode to (shingle, id), drop shingles with
    * document frequency > `maxDf` (boilerplate — and the fan-out bound:
    * self-join candidate mass is Σ df² over KEPT shingles, ≤ maxDf·Σdf),
    * self-join on the shingle, count shared shingles per (id_a < id_b)
    * pair. Containment is defined over the kept-shingle universe (df ≤
    * maxDf), which makes the whole operator exactly replayable by an
    * independent engine; docs with zero kept shingles are excluded
    * (undefined containment). Contrast [[contaminationAgainst]]
    * (one small probe side, broadcast): here BOTH sides are the corpus.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, maxDf: Int = 100, minContainment: Double = 0.8): DataFrame = {
    // shingle identity rides as xxhash64 of the shingle STRING: the
    // operator only ever counts shared shingles (no shingle text in the
    // output), so a 64-bit key carries the same equality at a fraction of
    // the shuffle/compare bytes (guide §2.3 — narrower shuffle keys). A
    // cross-shingle collision (≈ vocab²/2^65) could shift one count by 1;
    // at the md5-vs-xxhash64 trade-off discussed on [[contentHash]] this
    // path takes the 8-byte key because a collision only perturbs a ratio,
    // never deletes a document. The exploded index feeds SIX downstream
    // consumers (df-count, df-join, size agg, self-join l/r via kept) —
    // checkpoint both tiers so the corpus is scanned+shingled exactly once.
    val ex = df.select(col(idCol).as("_id"),
        explode(shingleHashesCol(col(textCol), k)).as("sh"))
      .localCheckpoint()
    val kept = ex.join(
      ex.groupBy("sh").agg(count(lit(1)).as("_df"))
        .filter(col("_df") <= maxDf), Seq("sh"))
      .localCheckpoint()
    val sizes = kept.groupBy(col("_id")).agg(count(lit(1)).as("_n"))
    // df = 1 shingles cannot contribute a pair — pre-dropping them from
    // the JOIN side (not the size side) is a pure fan-out reduction
    val joinable = kept.filter(col("_df") >= 2)
    val shared = joinable.select(col("sh"), col("_id").as("id_a"))
      .join(joinable.select(col("sh"), col("_id").as("id_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("_shared"))
    shared
      .join(sizes.select(col("_id").as("id_a"), col("_n").as("_na")), Seq("id_a"))
      .join(sizes.select(col("_id").as("id_b"), col("_n").as("_nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (col("_shared").cast("double") / least(col("_na"), col("_nb")))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }
}
