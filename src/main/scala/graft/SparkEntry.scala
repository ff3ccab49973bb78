package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.rules._
import graft.sources.DocsGen

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data-pipeline operators), each with DuckDB
  * oracle SQL where SQL-expressible. Column names and deterministic row
  * order match between both sides (the driver's compare hashes values after
  * sorting columns by name).
  *
  * Queries derive validation inputs from the driver-provided tables so the
  * oracle can reproduce them; violations are injected deterministically
  * in-query (the raw TPC-H-ish data is clean).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** A [[Validate.withViolations]] frame's flat violation rows: `id` as
    * `doc_id`, then the named fields of each violation struct.
    */
  private def flatViols(withV: DataFrame, id: Column, fields: String*): DataFrame =
    withV.select(id.as("doc_id"), explode(col("violations")).as("v"))
      .select(col("doc_id") +: fields.map(f => col(s"v.$f").as(f)): _*)

  /** DuckDB replay of Integrity's 40-bit digest: the first 10 hex chars of
    * an md5 column as a BIGINT polynomial with literal 16^j weights
    * (DuckDB has no base-conversion function; integer literals keep the
    * sum exact where float powers would not).
    */
  private def hex10ToBigintSql(h: String): String = {
    val weights = Seq(68719476736L, 4294967296L, 268435456L, 16777216L,
      1048576L, 65536L, 4096L, 256L, 16L, 1L)
    weights.zipWithIndex.map { case (w, i) =>
      s"(strpos('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * CAST($w AS BIGINT)"
    }.mkString("(", " + ", ")")
  }

  /** 8-hex-char twin of [[hex10ToBigintSql]] — replays the md5 coin of
    * [[graft.operators.Mixture.sampleByRates]] (first 8 hex chars as an
    * integer in [0, 2^32)).
    */
  private def hex8ToBigintSql(h: String): String = {
    val weights = Seq(268435456L, 16777216L, 1048576L, 65536L, 4096L,
      256L, 16L, 1L)
    weights.zipWithIndex.map { case (w, i) =>
      s"(strpos('0123456789abcdef', substr($h, ${i + 1}, 1)) - 1) * CAST($w AS BIGINT)"
    }.mkString("(", " + ", ")")
  }

  /** DuckDB twin of [[manifestContent]]. */
  private def manifestContentSql: String =
    "concat_ws(chr(1), CAST(doc_id AS VARCHAR), text, " +
      "coalesce(lang, '?'), CAST(n_chars AS VARCHAR))"

  /** Canonical row serialization of the documents table for the content
    * manifests (d_manifest / d_manifest_diff): chr(1)-separated fields with
    * an explicit null sentinel (concat_ws SKIPS nulls in both engines,
    * which would make ("a", null) and ("a") collide).
    */
  private def manifestContent =
    concat_ws("\u0001", col("doc_id"), col("text"),
      coalesce(col("lang"), lit("?")), col("n_chars"))

  /** Total bytes under `path` (0 when absent) — the input-size signal the
    * streaming harnesses derive their state-partition count from.
    */
  private def inputBytes(s: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Run a STREAMING query under a scale-adaptive shuffle/state-partition
    * count: `ceil(inputBytes / 32 MiB)`, clamped to [1, session shuffle
    * partitions].
    *
    * Stateful streaming cannot use AQE partition coalescing, and the state
    * partition count is frozen into the checkpoint at query start — Spark's
    * own guidance is to size it deliberately for the state volume rather
    * than inherit the batch shuffle width. Per-micro-batch cost scales with
    * the partition count (tasks + one state-store delta file + commit per
    * partition per batch), so a kilobyte-scale replay on 32 batch
    * partitions pays 32× the fixed cost for nothing — measured 4.3 s → 1.4 s
    * on the e_stream_evict harness. At 100 TB/day the same derivation
    * clamps to the session default (the cluster-sized width), so this is
    * the streaming analogue of AQE's input-sized coalescing, not a
    * local-mode constant. Restores the session conf afterwards.
    */
  private def withStreamPartitions[A](s: SparkSession, bytes: Long)(f: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    val target = 32L * 1024 * 1024
    val p = math.max(1L, math.min(prev.toLong, (bytes + target - 1) / target))
    s.conf.set(key, p.toString)
    try f finally s.conf.set(key, prev)
  }

  private val streamSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private val lastStreamView =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Unique memory-sink names for streaming queries (a query name can't be
    * reused while its temp view exists; bench repeats run each query 3×).
    * The PREVIOUS view of the same prefix is dropped on each new
    * registration — a complete-mode memory sink holds its whole result on
    * the driver, so letting repeats accumulate views leaks that memory.
    */
  private def streamViewName(s: SparkSession, prefix: String): String = {
    val name = s"${prefix}_${streamSeq.incrementAndGet()}"
    Option(lastStreamView.put(prefix, name))
      .foreach(old => s.catalog.dropTempView(old))
    name
  }

  /** The north-rule docs table derived from lineitem: one doc per order,
    * spans = lineitems ordered by linenumber; offset-order violations
    * injected where l_quantity > 45 (offset forced to 0).
    */
  private def derivedDocs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.select(
      col("l_orderkey"),
      struct(
        col("l_linenumber").as("ln"),
        col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
        col("l_quantity").as("qt"), col("l_extendedprice").as("ep"),
        struct(
          when(col("l_returnflag") === "R", "media").otherwise("text").as("kind"),
          when(col("l_returnflag") === "R", "").otherwise(col("l_linestatus")).as("text"),
          when(col("l_returnflag") === "R",
            concat(lit("m-"), lpad((pmod(col("l_partkey"), lit(100000000L))).cast("string"),
              8, "0"))).otherwise(lit("")).as("media_ref"),
          when(col("l_quantity") > 45, 0)
            .otherwise(col("l_linenumber") * 10).cast("int").as("offset")).as("span"))
        .as("lnspan"))
      .groupBy(col("l_orderkey"))
      .agg(transform(array_sort(collect_list(col("lnspan"))),
        x => x.getField("span")).as("spans"))
      .select(
        col("l_orderkey").cast("string").as("doc_id"),
        col("spans"),
        pmod(col("l_orderkey"), lit(8L)).cast("int").as("part"))
  }

  /** The exploded media-ref projection of [[derivedDocs]], computed
    * straight from lineitem: [[derivedDocs]]' doc assembly (collect_list +
    * array_sort per order) followed by `explode(spans)` is a
    * row-preserving round trip for span-level consumers — one media span
    * per `l_returnflag = 'R'` lineitem row, with the same doc_id and
    * media_ref expressions. The g_ref_* family reads THIS (guide §1.2:
    * don't compute what you throw away); oracle parity is unchanged
    * because the oracle SQL always derived the refs flat from lineitem.
    */
  private def derivedMediaRefs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select(
        col("l_orderkey").cast("string").as("doc_id"),
        concat(lit("m-"), lpad(pmod(col("l_partkey"), lit(100000000L))
          .cast("string"), 8, "0")).as("media_ref"))

  /** Flagship (driver smoke contract): full validation pipeline over docs
    * derived from sf0.001 — DELEGATES to the q_verdicts query so the two
    * cannot drift.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_verdicts")(spark, "/root/testdata/sf0.001")

  /** Trained IVF coarse centroids for `dir`'s embeddings corpus —
    * deterministic spherical k-means ([[Similarity.trainCentroids]]), cached
    * per dir so queries(), the bench, and oracle resolution train once per
    * JVM. Trained on the indexed corpus (vec_id > 8; 0..8 serve as query
    * vectors), k=8 lists over the 64-dim embeddings.
    */
  private val ivfCentroidCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Seq[Double]]]()
  def ivfCentroids(s: SparkSession, dir: String): Seq[Seq[Double]] =
    ivfCentroidCache.computeIfAbsent(dir, _ =>
      Similarity.trainCentroids(
        t(s, dir, "embeddings").filter(col("vec_id") > 8L), "embedding",
        k = 8, dims = 64, iters = 3))
  /** Drop the cached quantizer so a bench timing of "build" really
    * includes training (min-of-repeats would otherwise select a
    * cache-hit round and report only the index write).
    */
  def ivfCacheClear(dir: String): Unit = ivfCentroidCache.remove(dir)

  private val langEnum = List("en", "de", "fr", "es").map(ConstVal.VStr(_))

  /** Shared expectation set for the v_enforce_* queries: quarantine bad
    * lang / oversize docs (evidence preserved), drop bad sources silently.
    */
  private def enforceExpectations: Seq[Enforce.Expectation] = Seq(
    Enforce.Expectation("e_lang", Rule.Check(Keywords(properties = Map(
      "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
      Enforce.Action.Quarantine),
    Enforce.Expectation("e_len", Rule.Check(Keywords(properties = Map(
      "n_chars" -> Rule.Check(Keywords(maximum = Some(500)))))),
      Enforce.Action.Quarantine),
    Enforce.Expectation("e_src", Rule.Check(Keywords(properties = Map(
      "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))),
      Enforce.Action.Drop))

  /** Repair rule + defaults for v_repair*: out-of-enum lang → "en",
    * oversize n_chars clamped to the bound, bad source → "src0".
    */
  private def repairRule: Rule = Rule.Check(Keywords(properties = Map(
    "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum))),
    "n_chars" -> Rule.Check(Keywords(maximum = Some(500))),
    "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$"))))))
  private def repairDefaults: Map[String, Column] =
    Map("lang" -> lit("en"), "source" -> lit("src0"))

  /** Migration targets for v_migrate*: narrow o_custkey, lossy-cast
    * o_orderstatus (every value fails -> audited), timestamp -> date,
    * add a defaulted channel column; o_totalprice/o_orderpriority drop.
    */
  private def migrateTargets: Seq[Migrate.Target] = {
    import org.apache.spark.sql.types.{DateType, IntegerType, LongType}
    Seq(
      Migrate.Target("o_orderkey"),
      Migrate.Target("o_custkey", toType = Some(IntegerType)),
      Migrate.Target("o_orderstatus", toType = Some(LongType)),
      Migrate.Target("o_orderdate", toType = Some(DateType)),
      Migrate.Target("channel", default = Some(lit("web"))))
  }

  /** Deterministic URL injection shared by t_urls / t_domains (the corpus
    * carries no URLs of its own; the oracle replays the same append).
    */
  private def urlAug: Column = concat(col("text"),
    when(col("doc_id") % 4 === 0, concat(lit(" see https://site"),
      (col("doc_id") % 50).cast("string"), lit(".example.org/p/"),
      col("doc_id").cast("string"), lit(" ok"))).otherwise(lit("")),
    when(col("doc_id") % 9 === 0,
      lit(" ref http://cdn.example.net:8080/assets/x.js end")).otherwise(lit("")))

  // marker lists as SQL literals for the oracle
  private def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- per-row validation keywords (rule compiler) ----------
    "v_enum" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(properties = Map(
        "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum))))))
      flatViols(Validate.withViolations(t(s, dir, "documents"), rule),
          col("doc_id").cast("string"), "path", "rule", "message")
        .orderBy("doc_id", "path", "rule")
    }),
    "v_type_integer" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
        .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("string").as("doc_id"),
          (col("l_quantity") +
            when(pmod(col("l_orderkey"), lit(7L)) === 0L, 0.5).otherwise(0.0)).as("qty"))
      val rule = Rule.Check(Keywords(properties = Map(
        "qty" -> Rule.Check(Keywords(types = Some(List("integer")))))))
      flatViols(Validate.withViolations(df, rule), col("doc_id"), "rule", "message")
        .orderBy("doc_id")
    }),
    "v_minmax" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(properties = Map(
        "o_totalprice" -> Rule.Check(Keywords(minimum = Some(5000), maximum = Some(300000))))))
      flatViols(Validate.withViolations(t(s, dir, "orders"), rule),
          col("o_orderkey").cast("string"), "rule", "message")
        .orderBy("doc_id", "rule")
    }),
    "v_length" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(properties = Map(
        "c_name" -> Rule.Check(Keywords(minLength = Some(12), maxLength = Some(16))))))
      flatViols(Validate.withViolations(t(s, dir, "customer"), rule),
          col("c_custkey").cast("string"), "rule", "message")
        .orderBy("doc_id", "rule")
    }),
    "v_pattern" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(properties = Map(
        "source" -> Rule.Check(Keywords(pattern = Some("^src[0-9]$"))))))
      flatViols(Validate.withViolations(t(s, dir, "documents"), rule),
          col("doc_id").cast("string"), "rule", "message")
        .orderBy("doc_id")
    }),
    "v_required" -> ((s, dir) => {
      val df = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("doc_id"),
          when(col("lang") === "zh", lit(null)).otherwise(col("lang")).as("lang2"))
      val rule = Rule.Check(Keywords(required = List("lang2")))
      flatViols(Validate.withViolations(df, rule), col("doc_id"), "rule", "message")
        .orderBy("doc_id")
    }),
    "v_format_date" -> ((s, dir) => {
      val df = t(s, dir, "orders")
        .select(col("o_orderkey").cast("string").as("doc_id"),
          when(pmod(col("o_orderkey"), lit(13L)) === 0L,
            concat(substring(date_format(col("o_orderdate"), "yyyy-MM-dd"), 1, 8), lit("31")))
            .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("d"))
      val rule = Rule.Check(Keywords(properties = Map(
        "d" -> Rule.Check(Keywords(format = Some("date"))))))
      flatViols(Validate.withViolations(df, rule), col("doc_id"), "message")
        .orderBy("doc_id")
    }),
    "v_one_of" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(oneOf = List(
        Rule.Check(Keywords(properties = Map(
          "o_totalprice" -> Rule.Check(Keywords(maximum = Some(100000)))))),
        Rule.Check(Keywords(properties = Map(
          "o_orderpriority" -> Rule.Check(Keywords(const = Some(ConstVal.VStr("1-URGENT"))))))))))
      flatViols(Validate.withViolations(t(s, dir, "orders"), rule),
          col("o_orderkey").cast("string"), "message")
        .orderBy("doc_id")
    }),
    "v_any_of" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(anyOf = List(
        Rule.Check(Keywords(properties = Map(
          "l_discount" -> Rule.Check(Keywords(maximum = Some(0.02)))))),
        Rule.Check(Keywords(properties = Map(
          "l_tax" -> Rule.Check(Keywords(minimum = Some(0.06)))))))))
      val df = t(s, dir, "lineitem")
        .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("string").as("doc_id"),
          col("l_discount"), col("l_tax"))
      flatViols(Validate.withViolations(df, rule), col("doc_id"), "message")
        .orderBy("doc_id")
    }),
    "v_not" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(not = Some(
        Rule.Check(Keywords(properties = Map(
          "o_orderstatus" -> Rule.Check(Keywords(const = Some(ConstVal.VStr("F"))))))))))
      flatViols(Validate.withViolations(t(s, dir, "orders"), rule),
          col("o_orderkey").cast("string"), "message")
        .orderBy("doc_id")
    }),
    "v_const" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(properties = Map(
        "o_orderstatus" -> Rule.Check(Keywords(const = Some(ConstVal.VStr("O")))))))
      flatViols(Validate.withViolations(t(s, dir, "orders"), rule),
          col("o_orderkey").cast("string"), "message")
        .orderBy("doc_id")
    }),
    "v_multiple_of" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(properties = Map(
        "l_linenumber" -> Rule.Check(Keywords(multipleOf = Some(2))))))
      val df = t(s, dir, "lineitem")
        .select((col("l_orderkey") * 10 + col("l_linenumber")).cast("string").as("doc_id"),
          col("l_linenumber"))
      flatViols(Validate.withViolations(df, rule), col("doc_id"), "message")
        .orderBy("doc_id")
    }),
    "v_dependent_required" -> ((s, dir) => {
      val df = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("doc_id"),
          when(col("lang") === "zh", lit(null)).otherwise(col("lang")).as("lang2"),
          when(col("source") === "src3", lit(null)).otherwise(col("source")).as("source2"))
      val rule = Rule.Check(Keywords(dependentRequired = Map("lang2" -> List("source2"))))
      flatViols(Validate.withViolations(df, rule), col("doc_id"), "rule", "message")
        .orderBy("doc_id")
    }),
    "v_map_props" -> ((s, dir) => {
      // OPEN-object keywords on a MAP column (dynamic keys — the struct
      // form resolves these at compile time; the map form is the runtime
      // half): patternProperties value checks with dynamic violation
      // paths, propertyNames, min/maxProperties. Keys per doc: lang +
      // srcN always, 'Note!' on doc_id%11 (bad name), 'extra' on doc_id%7.
      val df = t(s, dir, "documents").select(
        col("doc_id").cast("string").as("doc_id"),
        map_filter(
          map(
            lit("lang"), col("lang"),
            concat(lit("src"), pmod(col("doc_id"), lit(10L)).cast("string")),
            col("source"),
            lit("Note!"),
            when(pmod(col("doc_id"), lit(11L)) === 0L, col("lang")),
            lit("extra"),
            when(pmod(col("doc_id"), lit(7L)) === 0L, col("source"))),
          (_, v) => v.isNotNull).as("props"))
      val rule = Rule.Check(Keywords(properties = Map(
        "props" -> Rule.Check(Keywords(
          patternProperties = Map(
            "^src[0-9]$" -> Rule.Check(Keywords(maxLength = Some(4)))),
          propertyNames = Some(Rule.Check(Keywords(pattern = Some("^[a-z0-9]+$")))),
          minProperties = Some(3), maxProperties = Some(3))))))
      flatViols(Validate.withViolations(df, rule),
          col("doc_id"), "path", "rule", "message")
        .orderBy(col("doc_id").cast("long"), col("path"), col("rule"))
    }),
    "v_min_items" -> ((s, dir) => {
      val rule = Rule.Check(Keywords(properties = Map(
        "spans" -> Rule.Check(Keywords(minItems = Some(3), maxItems = Some(6))))))
      flatViols(Validate.withViolations(derivedDocs(s, dir), rule),
          col("doc_id"), "rule", "message")
        .orderBy(col("doc_id").cast("long"), col("rule"))
    }),
    "v_unique_items" -> ((s, dir) => {
      // uniqueItems over the span structs: per-doc duplicate count + verdict
      val docs = derivedDocs(s, dir)
      docs.select(col("doc_id"),
        (size(col("spans")) - size(array_distinct(col("spans")))).cast("long").as("n_dups"),
        (size(array_distinct(col("spans"))) === size(col("spans"))).as("unique_ok"))
        .orderBy(col("doc_id").cast("long"))
    }),
    "v_contains" -> ((s, dir) => {
      // contains: 1..4 media spans per doc (array.rs:190-222 semantics)
      val rule = Rule.Check(Keywords(properties = Map(
        "spans" -> Rule.Check(Keywords(
          contains = Some(Rule.Check(Keywords(properties = Map(
            "kind" -> Rule.Check(Keywords(const = Some(ConstVal.VStr("media")))))))),
          minContains = Some(1), maxContains = Some(4))))))
      flatViols(Validate.withViolations(derivedDocs(s, dir), rule),
          col("doc_id"), "rule", "message")
        .orderBy(col("doc_id").cast("long"), col("rule"))
    }),
    // ---------- north-rule span invariant over array<struct> HOFs ----------
    "v_span_invariant" -> ((s, dir) => {
      derivedDocs(s, dir)
        .select(col("doc_id"),
          size(SpanInvariant.violationsCol(col("spans"))).cast("long").as("n_viol"),
          SpanInvariant.predCol(col("spans")).as("pass"))
        .orderBy(col("doc_id").cast("long"))
    }),
    "v_span_patterns" -> ((s, dir) => {
      // interleave-structure profile of the multimodal corpus: each doc's
      // kind sequence compressed to a 't'/'m' pattern string, histogrammed
      // with span/media totals — how text and media actually interleave,
      // by doc shape. NARROW assembly (guide §2.3): the pattern only needs
      // the kind initials in span order, so the shuffle carries the sort
      // key (ln, pk, sk, qt, ep — the oracle's ORDER BY; ln alone is not
      // unique) + one char instead of derivedDocs' full span structs with
      // the string fields the transform immediately threw away. 'm' < 't'
      // orders like "media" < "text", so ties beyond ep break identically.
      t(s, dir, "lineitem")
        .select(col("l_orderkey"),
          struct(col("l_linenumber").as("ln"),
            col("l_partkey").as("pk"), col("l_suppkey").as("sk"),
            col("l_quantity").as("qt"), col("l_extendedprice").as("ep"),
            when(col("l_returnflag") === "R", "m").otherwise("t").as("c"))
            .as("lnc"),
          when(col("l_returnflag") === "R", 1L).otherwise(0L).as("is_media"))
        .groupBy(col("l_orderkey"))
        .agg(array_join(transform(array_sort(collect_list(col("lnc"))),
            x => x.getField("c")), "").as("pattern"),
          count(lit(1)).as("n_spans"),
          sum(col("is_media")).as("n_media"))
        .groupBy(col("pattern"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_spans")).as("spans_total"),
          sum(col("n_media")).as("media_total"))
        .orderBy("pattern")
    }),
    "q_verdicts" -> ((s, dir) => {
      val docs = derivedDocs(s, dir)
        .withColumn("violations", SpanInvariant.violationsCol(col("spans")))
      docs.groupBy(col("part"))
        .agg(Validate.verdictAggs(col("violations")).head,
          Validate.verdictAggs(col("violations")).tail: _*)
        .orderBy("part")
    }),
    // ---------- global checks ----------
    "g_uniqueness" -> ((s, dir) => {
      Uniqueness.duplicates(t(s, dir, "orders"), "o_custkey")
        .select(col("o_custkey").cast("long").as("key"), col("count"))
        .orderBy("key")
    }),
    "g_ref_integrity" -> ((s, dir) => {
      // docs: lineitem-derived media refs; catalog: part table's key namespace
      // minus a deterministic hole (every partkey % 10 == 3 is "missing")
      val refs = derivedMediaRefs(s, dir)
      val catalog = t(s, dir, "part")
        .filter(pmod(col("p_partkey"), lit(10L)) =!= 3L)
        .select(concat(lit("m-"), lpad(pmod(col("p_partkey"), lit(100000000L)).cast("string"),
          8, "0")).as("media_ref"))
      RefIntegrity.danglingFromRefs(refs, catalog)
        .groupBy(col("media_ref")).agg(count(lit(1)).as("n_docs"))
        .orderBy("media_ref")
    }),
    "g_fk_card" -> ((s, dir) =>
      // the cardinality half of referential integrity: customers whose
      // order count falls outside the [1, 25] contract (0-order customers
      // = below_min, bulk accounts = above_max); output is violator-sized
      RefIntegrity.cardinalityViolations(t(s, dir, "customer"), "c_custkey",
          t(s, dir, "orders"), "o_custkey", minPerParent = 1L, maxPerParent = 25L)
        .orderBy("key")),
    "g_ref_bloom" -> ((s, dir) => {
      // Bloom-tier RI: same catalog hole as g_ref_integrity; output is the
      // DISTINCT dangling refs — exact despite the probabilistic tier 1
      // (Bloom false positives fall through to the exact anti-join)
      val refs = derivedMediaRefs(s, dir)
      val nCat = t(s, dir, "part")
        .filter(pmod(col("p_partkey"), lit(10L)) =!= 3L).count()
      val catalog = t(s, dir, "part")
        .filter(pmod(col("p_partkey"), lit(10L)) =!= 3L)
        .select(concat(lit("m-"), lpad(pmod(col("p_partkey"), lit(100000000L)).cast("string"),
          8, "0")).as("media_ref"))
      RefIntegrity.danglingRefsBloomFromRefs(refs, catalog,
          expectedItems = math.max(nCat, 1L), fpp = 0.001)
        .orderBy("media_ref")
    }),
    "s_embed_drift" -> ((s, dir) => {
      // embedding-distribution drift between the even- and odd-id halves
      // of the corpus: per-dimension means + absolute shift (the per-axis
      // signal scalar drift checks can't see)
      val e = t(s, dir, "embeddings")
      Similarity.embeddingDrift(
        e.filter(pmod(col("vec_id"), lit(2L)) === 0L),
        e.filter(pmod(col("vec_id"), lit(2L)) === 1L), "embedding")
    }),
    "t_token_budget" -> ((s, dir) => {
      // token-budget report per (lang, split): the sizing table for
      // mixtures/epochs — docs and whitespace tokens per cell
      val d = t(s, dir, "documents")
      TextAnalysis.tokenBudget(
        d.withColumn("split", Sampling.splitCol(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
        "text", Seq(col("lang"), col("split")))
        .orderBy("lang", "split")
    }),
    "r_infer" -> ((s, dir) => {
      // schema inference: the rule set the documents corpus already
      // satisfies, as (column, keyword, value) rows — type from the table
      // schema, required from null counts, enum for distinct <= 8, numeric
      // and length bounds from one aggregation pass
      Inference.inferKeywords(t(s, dir, "documents"), enumMaxDistinct = 8)
    }),
    "g_scorecard" -> ((s, dir) => {
      // corpus data-quality scorecard: one validation pass over documents
      // with a four-keyword rule; per (path, rule) counts, affected-doc
      // rates and Wilson 95% lower bounds
      val rule = Rule.Check(Keywords(properties = Map(
        "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum))),
        "text" -> Rule.Check(Keywords(minLength = Some(120))),
        "n_chars" -> Rule.Check(Keywords(maximum = Some(500))),
        "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$"))))))
      Validate.scorecard(t(s, dir, "documents"), rule)
    }),
    "v_enforce_metrics" -> ((s, dir) => {
      // DLT-style expectation actions over the documents corpus: one
      // aggregation scan; independent per-rule failure counts
      Enforce.metrics(t(s, dir, "documents"), enforceExpectations)
        .orderBy("expectation")
    }),
    "v_enforce_kept" -> ((s, dir) => {
      // rows surviving enforcement (warn never removes)
      Enforce.kept(t(s, dir, "documents"), enforceExpectations)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),
    "v_enforce_quarantine" -> ((s, dir) => {
      // quarantine evidence as flat (doc_id, expectation) pairs — every
      // failed expectation on a quarantined row, any action
      Enforce.quarantinePairs(t(s, dir, "documents"), enforceExpectations)
        .select(col("doc_id"), col("expectation"))
        .orderBy("doc_id", "expectation")
    }),
    "v_enforce_dropped" -> ((s, dir) => {
      // silently-removed rows: fail a drop rule, pass all quarantine rules
      Enforce.dropped(t(s, dir, "documents"), enforceExpectations)
        .select(col("doc_id"))
        .orderBy("doc_id")
    }),
    "v_repair" -> ((s, dir) => {
      // rule-driven repair, changed rows only: enum fallback, bound clamp,
      // pattern fallback — one scan, pure CASE-WHEN columns
      Repair.withRepairs(t(s, dir, "documents"), repairRule, repairDefaults)
        .filter(size(col("_graft_repairs")) > 0)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .orderBy("doc_id")
    }),
    "v_repair_log" -> ((s, dir) => {
      // the audit log: one row per applied repair with old/new values
      Repair.log(t(s, dir, "documents"), repairRule, repairDefaults)
        .orderBy("doc_id", "path", "rule")
    }),
    "v_quarantine_replay" -> ((s, dir) => {
      // the dead-letter lifecycle end to end: quarantined rows -> repair
      // -> RE-ENFORCE. This rule set's repairs heal every quarantine cause
      // (enum fallback, bound clamp, pattern fallback), so the whole queue
      // re-admits; the oracle replays the exact readmitted values
      val q = Enforce.quarantined(t(s, dir, "documents"), enforceExpectations)
        .drop("_graft_failed")
      val healed = Repair.repaired(q, repairRule, repairDefaults)
      Enforce.kept(healed, enforceExpectations)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .orderBy("doc_id")
    }),
    "v_migrate" -> ((s, dir) =>
      // schema-migration audit over orders: per-column action + how many
      // values the lossy casts nulled (o_orderstatus -> bigint fails for
      // every 'O'/'F'/'P'; o_custkey -> int and timestamp -> date never do)
      Migrate.audit(t(s, dir, "orders"), migrateTargets).orderBy("column")),
    "v_migrate_rows" -> ((s, dir) =>
      // the migrated table itself: try_cast semantics, added default
      // column, extras dropped; dates rendered as strings for the oracle
      Migrate.migrate(t(s, dir, "orders"), migrateTargets)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("channel"))
        .orderBy("o_orderkey")),
    "g_reconcile" -> ((s, dir) => {
      // aggregate reconciliation of the orders fact vs a deterministically
      // corrupted replica (okey % 97 rows dropped; okey % 101 totals +10.00):
      // only disagreeing months surface. Integer-CENTS sums (bigint) for
      // cross-engine exactness — double sums are order-dependent, and
      // decimal sums render with engine-specific trailing zeros
      val base = t(s, dir, "orders").select(
        date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val replica = base.filter(pmod(col("o_orderkey"), lit(97L)) =!= 0L)
        .withColumn("cents",
          when(pmod(col("o_orderkey"), lit(101L)) === 0L,
            col("cents") + lit(1000L))
            .otherwise(col("cents")))
      Reconcile.aggregates(base.drop("o_orderkey"), replica.drop("o_orderkey"),
          Seq("month"), Seq("cents"))
        .orderBy("month")
    }),
    "g_anomaly" -> ((s, dir) => {
      // metric-series watchdog: per-event-type daily counts with a
      // deterministic 10x day-15 spike injected; median/MAD robust
      // z-scores flag the spikes (mean/stddev would not — the spike
      // inflates its own threshold)
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).cast("double").as("value"))
      val perturbed = daily.withColumn("value",
        when(dayofmonth(to_date(col("day"))) === 15, col("value") * 10.0)
          .otherwise(col("value")))
      Anomaly.robustZ(perturbed, Seq("event_type"), "value", k = 3.5)
        .filter(col("is_anomaly"))
        .select(col("event_type"), col("day"), col("value"), col("z"))
        .orderBy("event_type", "day")
    }),
    "g_heavy_hitters" -> ((s, dir) => {
      // hot-key diagnosis over the sessionization key: the top-20 heaviest
      // user_ids, their skew ratio vs the mean key frequency, and the salt
      // fan-out a two-phase agg would need at 50 rows/task
      Stats.heavyHitters(t(s, dir, "events"), "user_id",
        k = 20, targetRowsPerTask = 50L)
    }),
    "g_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"${c}_cnt"),
          round(min(col(c)), 4).as(s"${c}_min"),
          round(max(col(c)), 4).as(s"${c}_max"),
          countDistinct(col(c)).as(s"${c}_distinct"))
      }
      li.agg(aggs.head, aggs.tail: _*)
    }),
    "g_completeness" -> ((s, dir) => {
      // per-day completeness (null-rate) trend with deterministic feed
      // corruption injected: props dropped on event_id % 7, user_id on
      // % 13 — the "which day did the producer start dropping a field"
      // monitor. Exact integer counts; the rate is one long/long division
      val ev = t(s, dir, "events")
        .withColumn("props",
          when(pmod(col("event_id"), lit(7L)) === 0L, lit(null).cast("string"))
            .otherwise(col("props")))
        .withColumn("user_id",
          when(pmod(col("event_id"), lit(13L)) === 0L, lit(null).cast("long"))
            .otherwise(col("user_id")))
      Stats.completenessTrend(ev, Seq("user_id", "props"), "ts")
        .orderBy("day", "column")
    }),
    "g_stats_hll" -> ((s, dir) => {
      // HLL cardinality profile as a CHECKED row: exact counts ride in the
      // output for the hash compare, and the HLL estimate is folded into a
      // value-bound FLAG (within 5% of exact — far looser than HLL lgK=12's
      // ~1.6% typical error) that the oracle asserts as literal TRUE. No
      // engine-internal sketch bytes or estimates leave the query.
      val li = t(s, dir, "lineitem")
      val cols = Seq("l_orderkey", "l_partkey", "l_returnflag")
      // one independent two-level aggregation per column instead of a
      // single 3-distinct agg: the multi-distinct form planned a 4x Expand
      // of lineitem into an ObjectHashAggregate keyed on all three columns
      // at once (r6 plan audit — the 4th most expensive query at 3.8 s).
      // Per column: map-side-combined groupBy(value) collapses duplicates
      // in the scan stage, then one grid-sized final agg derives all three
      // figures. The HLL sketch over DISTINCT values is register-identical
      // to the sketch over raw rows (an HLL update is idempotent per
      // value: registers are max() of per-value hashes), so the estimate
      // — and the 5%-bound flag the oracle asserts — is unchanged.
      val profiles = cols.map { c =>
        li.select(col(c).as("v")).groupBy(col("v"))
          .agg(count(lit(1)).as("n"))
          .agg(
            sum(when(col("v").isNotNull, col("n")).otherwise(0L))
              .as("non_null_count"),
            count(col("v")).as("exact_distinct"),
            hll_sketch_estimate(hll_sketch_agg(col("v").cast("string")))
              .as("hll_est"))
          .select(lit(c).as("column"),
            col("non_null_count"), col("exact_distinct"), col("hll_est"))
      }
      profiles.reduce(_ unionByName _)
        .select(col("column"), col("non_null_count"), col("exact_distinct"),
          (abs(col("hll_est") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("hll_within_5pct"))
        .orderBy("column")
    }),
    "g_stats_merge" -> ((s, dir) => {
      // INCREMENTAL cardinality: per-partition mergeable HLL sketches
      // materialized first (the resumable building block — each shard
      // profiles independently, a coordinator unions sketch bytes without
      // rescanning), then unioned to a global estimate. Checked-row shape
      // like g_stats_hll: exact values hash-compare, the merged estimate
      // rides as a value-bound flag the oracle asserts literally true.
      val docs = t(s, dir, "documents")
        .withColumn("part", pmod(col("doc_id"), lit(16L)))
      val sketches = Stats.partitionSketches(docs, "text", "part")
      val merged = Stats.unionSketches(sketches)
        .select(col("distinct_estimate"), col("rows").as("sketch_rows"))
      val exact = docs.agg(
        countDistinct(col("text")).as("exact_distinct"),
        count(lit(1)).as("n_rows"))
      merged.crossJoin(exact)
        .select(col("n_rows"), col("exact_distinct"),
          (col("sketch_rows") === col("n_rows")).as("merged_rows_match"),
          (abs(col("distinct_estimate") - col("exact_distinct"))
            <= col("exact_distinct") * 0.05).as("merged_hll_within_5pct"))
    }),
    "g_drift_psi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      Drift.psi(li.filter(col("l_returnflag") === "R"),
        li.filter(col("l_returnflag") === "N"),
        "l_extendedprice", 0.0, 120000.0, 10)
        .select(round(col("psi"), 6).as("psi"))
    }),
    "g_drift_trend" -> ((s, dir) => {
      // which DAY drifted: per-day PSI of events.value vs the whole corpus
      Drift.psiTrend(t(s, dir, "events"), "value", "ts", 0.0, 200.0, 10)
        .select(col("day"), round(col("psi"), 6).as("psi"))
        .orderBy("day")
    }),
    "g_drift_ks" -> ((s, dir) => {
      // KS on a fixed 101-point grid over [0, 120000] — exactly reproducible
      // (the percentile_approx-grid variant Drift.ks and the KLL-sketch path
      // Kll.ks stay as the adaptive/streaming forms, spec-tested).
      // BINNED form: O(1) cell assignment per row + one narrow groupBy,
      // instead of 2×101 conditional sums per row; statistic identical to
      // the two-filter form Drift.ksFixedGrid (spec-asserted)
      Drift.ksFixedGridBinned(t(s, dir, "lineitem"), "l_extendedprice",
        col("l_returnflag") === "R", col("l_returnflag") === "N",
        0.0, 120000.0, 101)
        .select(round(col("ks"), 4).as("ks"))
    }),
    "g_drift_chi2" -> ((s, dir) => {
      // Pearson chi-square homogeneity on the PSI bins — the classical
      // count-based drift test (statistic only; null dist is chi2(bins-1))
      val li = t(s, dir, "lineitem")
      Drift.chiSquare(li.filter(col("l_returnflag") === "R"),
        li.filter(col("l_returnflag") === "N"),
        "l_extendedprice", 0.0, 120000.0, 10)
        .select(round(col("chi2"), 4).as("chi2"))
    }),
    "g_drift_jsd" -> ((s, dir) => {
      // Jensen-Shannon divergence on the same bins as g_drift_psi —
      // symmetric, bounded, and defined on empty bins (no eps floor):
      // the right divergence when slices can have disjoint support
      val li = t(s, dir, "lineitem")
      Drift.jsd(li.filter(col("l_returnflag") === "R"),
        li.filter(col("l_returnflag") === "N"),
        "l_extendedprice", 0.0, 120000.0, 10)
        .select(round(col("jsd"), 6).as("jsd"))
    }),
    "g_drift_emd" -> ((s, dir) => {
      // binned earth-mover (W1) drift on the same grid as g_drift_ks —
      // the magnitude-sensitive member of the KS/PSI/EMD trio. The fold
      // keeps cumulative counts in integer cross-products and divides
      // once at the end, so the oracle replays the double bit-for-bit
      Drift.emdFixedGridBinned(t(s, dir, "lineitem"), "l_extendedprice",
        col("l_returnflag") === "R", col("l_returnflag") === "N",
        0.0, 120000.0, 101)
        .select(round(col("emd"), 4).as("emd"))
    }),
    "g_outlier_docs" -> ((s, dir) => {
      // ROW-level robust-z outliers (g_anomaly is the SERIES form): n_chars
      // per lang with a deterministic 20x corruption injected on
      // doc_id % 97 == 0; histogram-exact med/MAD flag the injected docs
      // without the spikes inflating their own threshold
      val docs = t(s, dir, "documents").withColumn("n_obs",
        when(pmod(col("doc_id"), lit(97L)) === 0L, col("n_chars") * 20L)
          .otherwise(col("n_chars")))
      Anomaly.rowOutliers(docs, Seq("lang"), "n_obs")
        .filter(col("is_outlier"))
        .select(col("doc_id"), col("lang"), col("n_obs"),
          round(col("z"), 6).as("z"))
        .orderBy("doc_id")
    }),
    // ---------- dedup ----------
    "d_dedup_exact" -> ((s, dir) => {
      // first 12 chars of text as the near-boilerplate key so exact groups exist
      val df = t(s, dir, "documents")
        .select(col("doc_id"), substring(col("text"), 1, 12).as("text"))
      df.groupBy(md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fingerprint"))
        .agg(count(lit(1)).as("dup_count"))
        .filter(col("dup_count") > 1)
        .orderBy("fingerprint")
    }),
    "d_dedup_minhash" -> ((s, dir) => {
      // MinHash-LSH candidates + EXACT jaccard verify. Banding r=2 (16
      // bands of 2 rows): this corpus's true pairs all sit at jaccard >=0.9
      // (miss prob (1-0.81)^16 ~ 3e-12) while non-dup pairs sit <0.1
      // (candidate prob ~1-(1-j^2)^16 < 15%), so the verified output equals
      // the brute-force all-pairs answer and DuckDB can oracle it — without
      // the r=1 near-all-pairs candidate blowup on templated text
      Dedup.nearDupPairsExact(t(s, dir, "documents"), "doc_id", "text",
        k = 3, numHashes = 32, bands = 16, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "d_dedup_simhash" -> ((s, dir) => {
      // SimHash near-dup pairs at hamming <= 6 — banding derives from the
      // radius (7 bands of ~9 bits: pigeonhole-complete recall); xxhash64
      // signatures aren't DuckDB-expressible, so rows-only here; recall is
      // brute-force-equality-tested in PipelineOpsSpec
      Dedup.simHashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 6)
        .orderBy("id_a", "id_b")
    }),
    "d_simhash_portable" -> ((s, dir) => {
      // the portable rolling-hash twin IS value-checkable: DuckDB replays
      // token hashing, bit votes and packing exactly — this pins the whole
      // simhash construction that d_dedup_simhash can only rows-check
      t(s, dir, "documents")
        .filter(size(filter(split(lower(col("text")), " "),
          t_ => length(t_) > 0)) > 0)
        .select(col("doc_id"), Dedup.simHashPortable(col("text")).as("sig"))
        .orderBy("doc_id")
    }),
    "d_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.ngramJaccard(docs, pairs, "doc_id", "text", k = 1)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a")
    }),
    "d_dedup_incr" -> ((s, dir) => {
      // INCREMENTAL dedup: the "new batch" (doc_id % 7 == 3) against the
      // indexed history (the rest). History is banded once at index-build
      // time and never re-shingled at probe time; with bands == numHashes
      // the verified output equals brute-force new-x-base (same
      // oracle-equivalence argument as d_dedup_minhash).
      val docs = t(s, dir, "documents")
      val base = docs.filter(pmod(col("doc_id"), lit(7L)) =!= 3L)
      val fresh = docs.filter(pmod(col("doc_id"), lit(7L)) === 3L)
      // idx2: the r6 index layout (bands/ + sigs/ — the probe path verifies
      // against persisted shingle-hash arrays instead of re-reading text)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft_mh_idx2_${dir.hashCode}"
      if (!new java.io.File(idx + "/bands/_SUCCESS").exists() ||
          !new java.io.File(idx + "/sigs/_SUCCESS").exists())
        Dedup.minHashWriteIndex(base, "doc_id", "text", idx,
          k = 3, numHashes = 32, bands = 32)
      Dedup.incrementalNearDups(fresh, idx, "doc_id", "text",
          k = 3, numHashes = 32, bands = 32, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("id_a", "id_b")
    }),
    "d_manifest" -> ((s, dir) => {
      // order-independent per-source content manifest (the cross-copy
      // integrity check): 40-bit md5-prefix digests summed per partition
      Integrity.contentManifest(t(s, dir, "documents"), col("source"),
          manifestContent)
        .orderBy("part")
    }),
    "d_manifest_diff" -> ((s, dir) => {
      // manifest comparison of the corpus vs a deliberately mutated copy
      // (doc_id % 101 == 7 corrupted, src3 dropped): one row per differing
      // part — digest catches the content change row counts can't see
      val docs = t(s, dir, "documents")
      val a = Integrity.contentManifest(docs, col("source"), manifestContent)
      val mutated = docs.filter(col("source") =!= "src3")
        .withColumn("text",
          when(pmod(col("doc_id"), lit(101L)) === 7L, lit("corrupted"))
            .otherwise(col("text")))
      val b = Integrity.contentManifest(mutated, col("source"), manifestContent)
      Integrity.manifestDiff(a, b).orderBy("part")
    }),
    "d_contamination" -> ((s, dir) => {
      // benchmark-contamination: every 50th doc doubles as a "benchmark
      // item"; which corpus docs contain ≥50% of its 3-shingles
      val docs = t(s, dir, "documents")
      val probes = docs.filter(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("probe_id"), col("text").as("probe_text"))
      Dedup.contaminationAgainst(docs, "doc_id", "text",
          probes, "probe_id", "probe_text", k = 3, minContainment = 0.5)
        .select(col("doc_id"), col("probe_id"),
          round(col("containment"), 4).as("containment"))
        .orderBy("doc_id", "probe_id")
    }),
    // ---------- canonical-URL dedup groups ----------
    "d_url_dedup" -> ((s, dir) => {
      // tracking-decorated twins of the same logical page: variant A
      // carries host case + default-port + trailing-slash + utm noise;
      // variant B (the %8 subset) reorders params and adds a fragment —
      // canonicalization must collapse A=B while distinct pages stay apart
      val docs = t(s, dir, "documents")
      val a = docs.filter(pmod(col("doc_id"), lit(4L)) === 0L)
        .select(concat(lit("https://Site"),
          (col("doc_id") % 50).cast("string"),
          lit(".example.org:443/p/"), col("doc_id").cast("string"),
          lit("/?utm_source=mail&ref=1")).as("url"))
      val b = docs.filter(pmod(col("doc_id"), lit(8L)) === 0L)
        .select(concat(lit("https://site"),
          (col("doc_id") % 50).cast("string"),
          lit(".example.org/p/"), col("doc_id").cast("string"),
          lit("?ref=1&utm_campaign=x#top")).as("url"))
      Dedup.urlDupGroups(a.unionByName(b), "url").orderBy("canonical_url")
    }),
    // ---------- rule-bound relaxation suggestions ----------
    "r_bound_suggest" -> ((s, dir) =>
      // the schema-is-stale triage: a 200-char max the corpus outgrew
      // (suggest the observed extreme), a clean min (keep declared), and
      // an id floor the low ids violate
      Inference.boundSuggestions(t(s, dir, "documents"), Seq(
          ("chars_max_200", "n_chars", None, Some(200.0)),
          ("chars_min_0", "n_chars", Some(0.0), None),
          ("id_floor_100", "doc_id", Some(100.0), Some(1e9))))
        .orderBy("rule")),
    // ---------- null-run (dark-window) audit ----------
    "g_null_runs" -> ((s, dir) => {
      // feed-dark detection: n_chars nulled for doc_id % 100 < 32 (a
      // recurring 32-id dark window, wide enough that each of the 16
      // round-robin sources sees CONSECUTIVE dark rows); runs per source in
      // id order — scattered noise vs one dark stretch is the
      // impute-vs-quarantine decision
      val docs = t(s, dir, "documents").withColumn("n_chars",
        when(pmod(col("doc_id"), lit(100L)) < 32, lit(null))
          .otherwise(col("n_chars")))
      Stats.nullRuns(docs, "source", "doc_id", "n_chars")
        .orderBy("segment")
    }),
    // ---------- schema-drift discovery (undeclared props) ----------
    "r_schema_gap" -> ((s, dir) => {
      // the inference complement: which props ride along UNDECLARED —
      // injected debug (%3) and exp_id (%5) keys must surface with doc
      // shares; the declared 'k' stays invisible
      val ev = t(s, dir, "events")
        .withColumn("props",
          when(pmod(col("event_id"), lit(3L)) === 0L,
            concat(expr("substring(props, 1, length(props)-1)"),
              lit(",\"debug\":1}"))).otherwise(col("props")))
        .withColumn("props",
          when(pmod(col("event_id"), lit(5L)) === 0L,
            concat(expr("substring(props, 1, length(props)-1)"),
              lit(",\"exp_id\":\"e7\"}"))).otherwise(col("props")))
      Inference.undeclaredProps(ev, "props", Seq("k")).orderBy("prop")
    }),
    // ---------- bucket-count planner ----------
    "l_bucket_plan" -> ((s, dir) => {
      // bucket sizing for co-located joins: next-pow2 of
      // ceil(bytes/target) per table partition, exact integer + binary-
      // string-length bit math (no float log2)
      val manifest = t(s, dir, "documents").select(
        pmod(col("doc_id"), lit(4L)).cast("int").as("part"),
        col("n_chars").cast("long").as("bytes"))
      Layout.bucketPlan(manifest, Seq("part"), targetBucketBytes = 2000L)
        .orderBy("part")
    }),
    // ---------- LSH banding-parameter advisor ----------
    "d_banding_advisor" -> ((s, _) =>
      // the closed-form S-curve table behind choosing bands: every
      // (b, r) factorization of 32 hashes, knee + recall/false-candidate
      // proxies at target 0.6, recommended row by rounded knee distance
      Dedup.bandingAdvisor(s, numHashes = 32, targetThreshold = 0.6)
        .orderBy("bands")),
    // ---------- dedup threshold ROI sweep ----------
    "d_dup_bands" -> ((s, dir) => {
      // which threshold? jaccard-decile histogram + cumulative ROI curve
      // over ONE banding+verify pass; 70%-token-prefix twins (%13)
      // populate the mid bands the natural corpus (bimodal: dups >= 0.9,
      // rest < 0.1) never shows. 64 hashes in 32 bands of r=2: the sweep
      // floor j=0.5 has miss prob (1-0.25)^32 ~ 1e-4 per pair and the
      // populated bands (>= 0.6) are at <= 1e-5 — brute-force-oracle
      // parity holds across SFs without r=1's templated-text candidate
      // blowup
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tks = split(col("text"), " ")
      val m = ((lit(7) * size(tks)) / lit(10)).cast("int")
      val twins = docs.filter(pmod(col("doc_id"), lit(13L)) === 0L &&
          size(tks) >= 20)
        .select((col("doc_id") + 400000L).as("doc_id"),
          array_join(slice(tks, lit(1), m), " ").as("text"))
      Dedup.thresholdSweep(docs.unionByName(twins), "doc_id", "text",
          k = 3, numHashes = 64, bands = 32, minThreshold = 0.5)
        .orderBy("band")
    }),
    // ---------- corpus-wide subset-duplicate pairs ----------
    "d_containment" -> ((s, dir) => {
      // SUBSET dups MinHash banding can't surface: half-length twins
      // injected at % 23 have Jaccard ~0.5 but containment ~1.0 in their
      // source; candidates come from the inverted shingle index (df <=
      // maxDf bounds the self-join fan-out), never an all-pairs join
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs
        .filter(pmod(col("doc_id"), lit(23L)) === 0L &&
          length(col("text")) >= 64)
        .select((col("doc_id") + 300000L).as("doc_id"),
          col("text").substr(lit(1), floor(length(col("text")) / 2))
            .as("text"))
      Dedup.containmentPairs(docs.unionByName(twins), "doc_id", "text",
          k = 3, maxDf = 100, minContainment = 0.8)
        .select(col("id_a"), col("id_b"),
          round(col("containment"), 4).as("containment"))
        .orderBy("id_a", "id_b")
    }),
    // ---------- similarity search ----------
    "s_ann_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q: Seq[Float] = emb.filter(col("vec_id") === 0L)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      Similarity.cosineScores(emb.filter(col("vec_id") =!= 0L), "vec_id", "embedding", q)
        .filter(col("cosine") >= 0.25)
        .select(col("id"), round(col("cosine"), 2).as("cosine"))
        .orderBy("id")
    }),
    "s_ann_quantized" -> ((s, dir) => {
      // the storage path composes with serving: cosine is SCALE-INVARIANT,
      // so scoring the int8-quantized vectors directly recovers the
      // exact-corpus ranking to within quantization error (≤ ~1/254 per
      // dim) — search over the 4×-smaller index, no dequantization pass
      val emb = t(s, dir, "embeddings")
      val q: Seq[Float] = emb.filter(col("vec_id") === 0L)
        .select(col("embedding")).collect()(0).getSeq[Float](0)
      val quant = Similarity.quantizeInt8(
        emb.filter(col("vec_id") =!= 0L), "vec_id", "embedding")
      Similarity.cosineScores(quant, "id", "qvec", q)
        .filter(col("cosine") >= 0.25)
        .select(col("id"), round(col("cosine"), 2).as("cosine"))
        .orderBy("id")
    }),
    "s_ann_lsh" -> ((s, dir) => {
      // LSH-bucketed ANN over a WRITTEN (tbl, bucket)-partitioned index:
      // the serving path (build once, probe = partition-pruned read of the
      // query's 4 bucket dirs). The hyperplanes are deterministic double
      // literals, so the oracle replays the exact bucketing from the same
      // plane matrix (injected via oracleSqlResolved) — same fold order,
      // bit-identical buckets, hash-checkable output. The ad-hoc one-scan
      // form stays as Similarity.lshTopK (spec-equivalence in PlanSpec).
      val idx = lshBuildIndex(s, dir)
      lshProbe(s, dir, idx)
    }),
    "s_ann_ivf" -> ((s, dir) => {
      // IVF over a WRITTEN index: 8 TRAINED centroids (deterministic
      // k-means over the indexed corpus), assignment persisted partitioned
      // by centroid, probe reads only the 2 nearest lists (partition-pruned
      // scan). The oracle replays the same argmax over the trained
      // centroids passed in as literals (resolved in oracleSqlResolved).
      // Build and probe are separate phases (the bench times them apart:
      // the probe is the serving-path number).
      val idx = ivfBuildIndex(s, dir)
      ivfProbe(s, dir, idx)
    }),
    "s_label_centroids" -> ((s, dir) => {
      // class-separation diagnostic over the labeled embedding corpus
      Similarity.labelCentroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label", "dim")
    }),
    "s_dispersion" -> ((s, dir) => {
      // intra-cluster tightness per label: msd to own centroid (trace of
      // the per-label covariance) + ||centroid||², one posexplode scan
      Similarity.labelDispersion(t(s, dir, "embeddings"), "label",
          "embedding")
        .orderBy("label")
    }),
    "s_vec_dup" -> ((s, dir) => {
      // exact-copy vectors (re-ingested shard): every 20th embedding
      // re-appears under a new id; bit-identical grouping must pair each
      // with its source and nothing else
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = emb.unionByName(
        emb.filter(pmod(col("vec_id"), lit(20L)) === 0L)
          .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      Similarity.exactVecDups(corpus, "vec_id", "embedding")
        .orderBy("keep_id")
    }),
    "s_cosine_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup pairs via LSH buckets over a corpus with
      // INJECTED duplicates (vec_id % 20 == 0 re-appears as vec_id+100000):
      // at threshold 0.9 only those pairs qualify (max natural off-diagonal
      // cosine in this corpus is ~0.51), identical vectors share every LSH
      // bucket, so recall is exact and DuckDB can oracle it by brute force
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = emb.unionAll(emb.filter(pmod(col("vec_id"), lit(20L)) === 0L)
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding")))
      Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
        dims = 64, threshold = 0.9, nPlanes = 8, nTables = 2)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 2).as("cosine"))
        .orderBy("id_a", "id_b")
    }),
    // ---------- text analysis ----------
    "t_lang_id" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_id"))
        .orderBy("doc_id")
    }),
    "t_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("tokens_ws"),
          TextAnalysis.tokenCountBpe(col("text")).cast("long").as("tokens_bpe"))
        .orderBy("doc_id")
    }),
    "t_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),
    "t_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprintMd5(col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),
    "t_top_tokens" -> ((s, dir) => {
      TextAnalysis.topTokens(t(s, dir, "documents"), "text", 20)
    }),
    "t_char_classes" -> ((s, dir) =>
      // cheapest corpus-health fingerprint: per-source alpha/digit/space/
      // other shares (a digit-share jump = IDs shipped as prose)
      TextAnalysis.charClassProfile(t(s, dir, "documents"), "source",
          "text")
        .orderBy("key")),
    "t_readability" -> ((s, dir) => {
      // dictionary-free Flesch reading ease per doc: vowel-run syllables,
      // [.!?]+ sentence runs, the shared toks() words — one codegen scan,
      // flesch null for word-free docs (undefined)
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.readabilityStats(col("text")).as("r"))
        .select(col("doc_id"), col("r.words").as("words"),
          col("r.sentences").as("sentences"),
          col("r.syllables").as("syllables"), col("r.flesch").as("flesch"))
        .orderBy("doc_id")
    }),
    "t_boilerplate" -> ((s, dir) => {
      // corpus boilerplate report: 3-shingles in >= 5 distinct docs (the
      // synthetic corpus' shingle doc-frequency tops out small, so 5 is
      // the interesting tail here; real corpora use hundreds)
      Dedup.boilerplateShingles(t(s, dir, "documents"), "doc_id", "text",
          k = 3, minDocs = 5)
        .orderBy("shingle")
    }),
    "t_boiler_docs" -> ((s, dir) => {
      // per-doc boilerplate share against the same strip list: the
      // template-dominated-page gate
      Dedup.boilerplateShare(t(s, dir, "documents"), "doc_id", "text",
          k = 3, minDocs = 5)
        .filter(col("n_boiler") > 0)
        .orderBy("id")
    }),
    "t_repetition" -> ((s, dir) => {
      TextAnalysis.repetitionSignals(t(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    "t_tfidf" -> ((s, dir) => {
      TextAnalysis.tfidfTop(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "rank")
    }),
    "t_chunks" -> ((s, dir) => {
      TextAnalysis.chunk(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 20, overlap = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_idx")
    }),
    "t_pii" -> ((s, dir) => {
      // the synthetic corpus carries no PII, so both engines inject the
      // SAME deterministic PII snippets (derived from doc_id) and must
      // then agree on detection counts and the redacted text
      val aug = concat(col("text"),
        when(col("doc_id") % 5 === 0, concat(lit(" reach me at user"),
          col("doc_id").cast("string"), lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, concat(lit(" host 10."),
          (col("doc_id") % 250).cast("string"), lit(".0.1 up"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0, concat(lit(" call +1415550"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))).otherwise(lit("")))
      val (em, ip, ph) = TextAnalysis.piiCounts(aug)
      t(s, dir, "documents").select(col("doc_id"),
        em.as("n_emails"), ip.as("n_ips"), ph.as("n_phones"),
        TextAnalysis.redactPii(aug).as("redacted"))
        .orderBy("doc_id")
    }),
    "d_diff" -> ((s, dir) => {
      // snapshot-refresh audit: v2 derives from v1 with deterministic
      // removals (id % 97), edits (id % 41) and additions (id % 89 cloned
      // at +100000); the diff must report exactly that delta, never an
      // unchanged row
      val base = t(s, dir, "documents")
      val a = base.select(col("doc_id"), col("text"))
      val b = base.filter(pmod(col("doc_id"), lit(97L)) =!= 0L)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(41L)) === 0L,
            concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
        .unionByName(base.filter(pmod(col("doc_id"), lit(89L)) === 0L)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Diff.rowDiff(a, b, "doc_id", Seq("text")).orderBy("id")
    }),
    "t_urls" -> ((s, dir) => {
      // the synthetic corpus carries no URLs, so both engines inject the
      // SAME deterministic links (derived from doc_id) and must agree on
      // per-doc URL counts — the t_pii inject-then-detect pattern
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.urlCount(urlAug).as("n_urls"))
        .orderBy("doc_id")
    }),
    "t_domains" -> ((s, dir) => {
      // corpus-level top domains over the injected links: the per-source
      // distribution a web-pipeline audit starts from
      TextAnalysis.topDomains(
        t(s, dir, "documents").select(urlAug.as("text")), "text", k = 20)
    }),
    "p_split" -> ((s, dir) => {
      // deterministic 80/10/10 train/val/test assignment: hash-bucketed,
      // leak-proof (a row can never migrate between splits across runs,
      // partitionings or engines)
      Sampling.splits(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),
    // ---------- split shingle-coverage (vocabulary leak) ----------
    "p_split_coverage" -> ((s, dir) => {
      // is eval text genuinely held-out phrasing, or compositionally
      // inside the training vocabulary? distinct-3-shingle coverage of
      // val/test by train over the same hash-bucket splits as p_split
      val docs = Sampling.splits(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      Dedup.splitShingleCoverage(docs, "text", "split",
          refSplit = "train", k = 3)
        .orderBy("split")
    }),
    "p_split_leak" -> ((s, dir) => {
      // contamination audit: verified near-dup pairs whose two sides land
      // in different train/val/test splits — the leak hash-bucketed
      // assignment alone cannot prevent (near-dups split independently)
      val pairs = Dedup.nearDupPairsExact(t(s, dir, "documents"),
        "doc_id", "text", k = 3, numHashes = 32, bands = 16, threshold = 0.5)
      Sampling.splitLeaks(pairs, Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"),
          col("split_a"), col("split_b"))
        .orderBy("id_a", "id_b")
    }),
    "p_split_heal" -> ((s, dir) => {
      // the splitLeaks remedy: every dup-cluster member promoted into its
      // representative's split; after this relabel no near-dup pair can
      // straddle train/test
      val clusters = DupClusters.clusters(Dedup.nearDupPairsExact(
        t(s, dir, "documents"), "doc_id", "text",
        k = 3, numHashes = 32, bands = 16, threshold = 0.5))
      Sampling.splitsHealed(clusters,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("id").as("doc_id"), col("split"), col("healed_split"))
        .orderBy("doc_id")
    }),
    "p_shuffle" -> ((s, dir) => {
      // deterministic global shuffle: shard + epoch-0 position from
      // md5('r5:'||id) — same order on any cluster size / input layout
      Sampling.shuffleShards(t(s, dir, "documents"), "doc_id",
          seed = "r5", nShards = 8)
        .orderBy("shard", "pos")
    }),
    "g_corpus_card" -> ((s, dir) => {
      // dataset-card summary per ingestion source: docs, corpus share,
      // languages, character mass, exact median length
      Stats.corpusCard(t(s, dir, "documents"), Seq("source"),
          langCol = "lang", charCol = "n_chars")
        .orderBy("source")
    }),
    "g_fd" -> ((s, dir) => {
      // functional-dependency audit: `source -> lang` (each ingestion
      // source should emit one language); violating sources with their
      // distinct-language and row counts
      Stats.fdViolations(t(s, dir, "documents"), "source", "lang")
    }),
    "g_entropy" -> ((s, dir) => {
      // per-column entropy/concentration health check on the enum-ish
      // columns; H via the exact transform log2(N) - sum(c*log2 c)/N so
      // the only floats are one log2 per distinct value
      Stats.entropy(t(s, dir, "documents"), Seq("lang", "source"))
        .orderBy("column")
    }),
    "d_dup_clusters" -> ((s, dir) => {
      // transitive closure of the verified near-dup pairs: every doc in a
      // dup cluster gets the cluster's min doc_id + a keep flag for the
      // canonical representative
      DupClusters.clusters(Dedup.nearDupPairsExact(t(s, dir, "documents"),
          "doc_id", "text", k = 3, numHashes = 32, bands = 16, threshold = 0.5))
        .select(col("id").as("doc_id"), col("cluster_id"), col("keep"))
        .orderBy("doc_id")
    }),
    "d_dedup_keep" -> ((s, dir) => {
      // quality-based retention over the same clusters: keep the LONGEST
      // doc of each cluster (ties -> min id) and point every dropped doc
      // at its replacement — the drop list a dedup pass actually applies
      val docs = t(s, dir, "documents")
      val cl = DupClusters.clusters(Dedup.nearDupPairsExact(docs,
        "doc_id", "text", k = 3, numHashes = 32, bands = 16, threshold = 0.5))
      DupClusters.retention(cl, docs, "doc_id", "n_chars")
        .select(col("id").as("doc_id"), col("cluster_id"),
          col("score").cast("long").as("n_chars"), col("keep"), col("kept_id"))
        .orderBy("doc_id")
    }),
    // ---------- deterministic sampling / curation ----------
    "p_sample" -> ((s, dir) => {
      Sampling.sample(t(s, dir, "documents"), "doc_id", 0.25)
        .select(col("doc_id")).orderBy("doc_id")
    }),
    "p_stratified" -> ((s, dir) => {
      Sampling.stratified(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.1, "de" -> 0.5))
        .select(col("doc_id"), col("lang")).orderBy("doc_id")
    }),
    "p_upsample" -> ((s, dir) => {
      // mixture re-weighting: 2.25 epochs of 'en', half of 'de', 1x rest
      Sampling.upsample(t(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 2.25, "de" -> 0.5))
        .select(col("doc_id"), col("epoch").cast("int").as("epoch"))
        .orderBy("doc_id", "epoch")
    }),
    "p_curate" -> ((s, dir) => {
      // the composed five-stage curation pipeline: lang + quality +
      // repetition gates -> exact dedup (keep min id) -> 50% hash sample
      Curation.curate(Scans.widen(t(s, dir, "documents")), "doc_id", "text",
        langs = Set("en"), minQuality = 0.5, minDistinctFrac = 0.3,
        sampleFraction = 0.5)
        .orderBy("doc_id")
    }),
    "p_reservoir" -> ((s, dir) => {
      Sampling.reservoirPerGroup(t(s, dir, "documents"), "doc_id", "lang", k = 5)
        .select(col("lang"), col("doc_id"), col("sample_rank"))
        .orderBy("lang", "sample_rank")
    }),
    // ---------- event-stream operators (events table) ----------
    "e_window_verdicts" -> ((s, dir) => {
      // tumbling-window verdicts (batch twin of the streaming path):
      // per (hour, event_type) event count + count failing `value <= 100`
      Sessionize.windowVerdicts(t(s, dir, "events"), "ts", "event_type",
        failPred = col("value") > 100.0, windowLen = "1 hour")
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("w"),
          col("event_type"), col("events"), col("failed"))
        .orderBy("w", "event_type")
    }),
    "e_sessions" -> ((s, dir) => {
      // gap-based sessionization (30 min): per-user session/event counts
      Sessionize.sessionStats(t(s, dir, "events"), "user_id", "ts", gapMinutes = 30)
        .orderBy("user_id")
    }),
    "e_asof" -> ((s, dir) => {
      // as-of join: every event picks the user's latest purchase at or
      // before its timestamp (attribution / feature-at-event-time lookup).
      // Oracle = DuckDB's NATIVE `ASOF LEFT JOIN` — a fully independent
      // implementation of the same semantics.
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      Temporal.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("ts")),
          purchases, "user_id", "ts", "ts",
          Seq("purchase_id", "purchase_value"), tieBreak = col("purchase_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("t_us"),
          col("asof_purchase_id"), col("asof_purchase_value"))
        .orderBy("event_id")
    }),
    "e_range" -> ((s, dir) => {
      // interval range join: events falling inside any purchase's 2-hour
      // attribution window [ts, ts+2h), chunked on the hour so the
      // inequality is a residual filter on an equi-join, never a theta-join
      val ev = t(s, dir, "events")
      val points = ev.select(col("event_id"), col("user_id"),
        unix_micros(col("ts").cast("timestamp")).as("t_us"))
      val windows = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("w_start"),
          (unix_micros(col("ts").cast("timestamp")) + lit(7200000000L)).as("w_end"),
          col("event_id").as("purchase_id"))
      Temporal.rangeJoin(points, windows, "user_id", "t_us",
          "w_start", "w_end", Seq("purchase_id"), chunk = 3600000000L)
        .select(col("event_id"), col("purchase_id"))
        .orderBy("event_id", "purchase_id")
    }),
    "e_stream_verdicts" -> ((s, dir) => {
      // STRUCTURED STREAMING through the driver oracle: the same events
      // parquet replayed as a file-source micro-batch stream (AvailableNow),
      // tumbling-window verdict aggregation in complete mode, memory sink —
      // the streaming plan must land on EXACTLY the batch answer (same SQL
      // oracle as e_window_verdicts), closing the one operator family that
      // had no oracle row. AvailableNow = all files delivered, so complete
      // mode's final emission is deterministic with no late-data dropping.
      val batch = t(s, dir, "events")
      val name = streamViewName(s, "stream_verdicts")
      withStreamPartitions(s, inputBytes(s, s"$dir/events.parquet")) {
        // the file stream source needs a DIRECTORY basePath; the sf tables
        // are single files, so stream the parent dir with a glob filter
        val stream = s.readStream.schema(batch.schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
        val out = Sessionize.windowVerdicts(stream, "ts", "event_type",
          failPred = col("value") > 100.0, windowLen = "1 hour")
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name).coalesce(1) // driver-held memory sink; see StreamValidate
        .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm").as("w"),
          col("event_type"), col("events"), col("failed"))
        .orderBy("w", "event_type")
    }),
    "e_stream_sessions" -> ((s, dir) => {
      // streaming SESSIONIZATION through the oracle: Spark's native
      // session_window (merging session state) over the events stream,
      // complete mode so no session is watermark-dropped in the replay.
      // Boundary semantics differ from the batch operator by design and
      // the oracle encodes THEM: an event exactly `gap` after the
      // previous one starts a NEW session (session windows are half-open
      // [start, start+gap)), i.e. `>= gap`, where Sessionize uses `> gap`.
      val batch = t(s, dir, "events")
      val name = streamViewName(s, "stream_sessions")
      withStreamPartitions(s, inputBytes(s, s"$dir/events.parquet")) {
        val stream = s.readStream.schema(batch.schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
          .filter(col("ts").isNotNull)
          // watermark/event-time machinery requires TIMESTAMP, the table is
          // NTZ; the session runs UTC, so the cast preserves the wall clock
          .withColumn("ts", col("ts").cast("timestamp"))
        val out = graft.streaming.StreamValidate.sessionsStream(
          stream, "user_id", "ts", gapMinutes = 30)
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name).coalesce(1) // driver-held memory sink; see StreamValidate
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"),
          date_format(col("first_ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy("user_id", "session_start")
    }),
    "e_stream_dedup" -> ((s, dir) => {
      // streaming exact dedup actually EXECUTED: re-send suppression via
      // dropDuplicatesWithinWatermark over the documents stream (synthetic
      // event time — documents carry none). WHICH physical row survives a
      // within-batch tie is engine-internal, so the deterministic contract
      // — and the oracle — is the distinct CONTENT set; the trailing
      // distinct also absorbs any cross-batch re-emission beyond the
      // watermark horizon (the operator's documented at-least-once edge)
      val batch = t(s, dir, "documents")
      val name = streamViewName(s, "stream_dedup")
      withStreamPartitions(s, inputBytes(s, s"$dir/documents.parquet")) {
        val stream = s.readStream.schema(batch.schema)
          .option("pathGlobFilter", "documents.parquet")
          .parquet(dir)
          .filter(col("text").isNotNull)
          .withColumn("ts", timestamp_seconds(
            lit(1700000000L) + pmod(col("doc_id"), lit(86400L))))
        val out = graft.streaming.StreamValidate.dedupStream(stream, "text", "ts")
          .select(col("content_hash"))
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name).coalesce(1).distinct().orderBy("content_hash")
    }),
    "e_json_props" -> ((s, dir) => {
      // semi-structured extraction: props is a JSON string; k in [0,100),
      // flag k >= 80 as out-of-policy per event_type
      val ev = t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("events"),
          sum(when(col("k") >= 80, 1L).otherwise(0L)).as("k_out_of_policy"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
        .orderBy("event_type")
    }),
    "p_pack" -> ((s, dir) => {
      // sequence packing manifest (concat-then-chunk, capacity 512): the
      // step between curation and training shards. Shard = doc_id % 8 here
      // so the oracle replays the assignment (the operator's default
      // xxhash64 shard is Spark-internal); the running-sum math is integer,
      // so the manifest is engine-exact.
      val docs = t(s, dir, "documents")
        .withColumn("_shard", pmod(col("doc_id"), lit(8L)))
        .withColumn("_nt", TextAnalysis.tokenCountWs(col("text")).cast("long"))
      Packing.packConcatCounted(docs, "doc_id", "_nt",
        capacity = 512, shards = 8, shardCol = Some("_shard"))
        .orderBy("shard", "id")
    }),
    "p_shard_balance" -> ((s, dir) => {
      // straggler view of the training shards: every epoch waits for the
      // fullest shard; load_vs_max over the same mod-8 manifest
      val docs = t(s, dir, "documents")
        .withColumn("_shard", pmod(col("doc_id"), lit(8L)))
        .withColumn("_nt",
          TextAnalysis.tokenCountWs(col("text")).cast("long"))
      val manifest = Packing.packConcatCounted(docs, "doc_id", "_nt",
        capacity = 512, shards = 8, shardCol = Some("_shard"))
      Packing.shardBalance(manifest, capacity = 512).orderBy("shard")
    }),
    "p_pack_bins" -> ((s, dir) => {
      // per-bin fill: every bin exactly 512 tokens except the last of each
      // shard — the invariant a training loader relies on
      val docs = t(s, dir, "documents")
        .withColumn("_shard", pmod(col("doc_id"), lit(8L)))
        .withColumn("_nt", TextAnalysis.tokenCountWs(col("text")).cast("long"))
      val manifest = Packing.packConcatCounted(docs, "doc_id", "_nt",
        capacity = 512, shards = 8, shardCol = Some("_shard"))
      Packing.binFill(manifest, capacity = 512)
        .orderBy("shard", "bin")
    }),
    "p_pack_texts" -> ((s, dir) => {
      // materialized training shards: the packed bins AS TEXT — straddling
      // docs cut at the 512-token boundary, slices joined in stream order.
      // Deterministic token-slice math, so the oracle replays every bin's
      // full text
      val docs = t(s, dir, "documents")
        .withColumn("_shard", pmod(col("doc_id"), lit(8L)))
        .withColumn("_nt", TextAnalysis.tokenCountWs(col("text")).cast("long"))
      val manifest = Packing.packConcatCounted(docs, "doc_id", "_nt",
        capacity = 512, shards = 8, shardCol = Some("_shard"))
      Packing.packedTexts(manifest, docs, "doc_id", "text", capacity = 512)
        .orderBy("shard", "bin")
    }),
    "p_mixture" -> ((s, dir) => {
      // data-mixture plan: target shares by character mass with a 0.8
      // per-source rate ceiling — the binding source sits exactly at 0.8,
      // the others scale to keep the requested proportions
      Mixture.rates(t(s, dir, "documents"), "source", "n_chars",
          Map("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.25), maxRate = 0.8)
        .select(col("source"), col("mass"), col("target_w"),
          round(col("rate"), 6).as("rate"), col("planned_mass"))
        .orderBy("source")
    }),
    "p_mixture_sample" -> ((s, dir) => {
      // the mixture materialized: md5-coin per doc under its source's
      // data-dependent rate — deterministic, so the oracle re-derives the
      // exact row set
      val docs = t(s, dir, "documents")
      val plan = Mixture.rates(docs, "source", "n_chars",
        Map("src0" -> 0.4, "src1" -> 0.35, "src2" -> 0.25), maxRate = 0.8)
      Mixture.sampleByRates(docs, "doc_id", "source", plan)
        .select(col("doc_id"), col("source")).orderBy("doc_id")
    }),
    "s_quantize" -> ((s, dir) => {
      // int8 embedding quantization in long form (id, scale, dim, q):
      // floor(x/scale*127 + 0.5) is IEEE-exact, so DuckDB replays every
      // quantized value bit-for-bit — a storage-path transform with a full
      // value oracle
      Similarity.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("id"), col("scale"), posexplode(col("qvec")))
        .withColumnRenamed("pos", "dim").withColumnRenamed("col", "q")
        .orderBy("id", "dim")
    }),
    // ---------- multimodal plumbing ----------
    "m_media_meta" -> ((s, dir) => {
      // REAL header parsing (PNG IHDR / WAV fmt+data / MP4 tkhd+stts): the
      // synthetic corpus encodes id-derived dimensions into genuine
      // headers, Spark recovers them from the BYTES, and the oracle
      // recomputes them from the id formula — a mismatch anywhere in
      // build→write→parse fails the hash. All three mimes value-checked.
      val media = Multimodal.syntheticMedia(s, 2000)
      Multimodal.probeMeta(media).toDF()
        .orderBy("media_ref")
    }),
    "m_budget" -> ((s, dir) =>
      // storage budget by what files ARE (magic bytes), not what the
      // catalog claims: counts, byte totals, shares
      Multimodal.mediaBudget(Multimodal.syntheticMedia(s, 2000))
        .orderBy("detected_mime")),
    "m_kind_mismatch" -> ((s, dir) => {
      // mislabeled-asset audit: every 7th asset's DECLARED mime is forced
      // to image/png; magic-byte detection reports what each file IS, so
      // the confusion matrix pins the detector against the id formulas
      val media = Multimodal.syntheticMedia(s, 2000)
        .withColumn("_id",
          expr("conv(substring(media_ref, 3, 8), 16, 10)").cast("long"))
        .withColumn("mime",
          when(pmod(col("_id"), lit(7L)) === 0L, lit("image/png"))
            .otherwise(col("mime")))
      Multimodal.mimeMismatch(media)
        .orderBy("declared_mime", "detected_mime")
    }),
    "m_resize" -> ((s, dir) => {
      // aspect-preserving 256x256 bounding-box resize plan over the probed
      // PNG/MP4 dimensions (WAV rows have no dims and drop out); the
      // oracle recomputes the same floor(x+0.5) math from the id formulas
      Multimodal.resizePlan(
        Multimodal.probeMeta(Multimodal.syntheticMedia(s, 2000)).toDF(),
        maxW = 256, maxH = 256)
        .orderBy("media_ref")
    }),
    "m_frame_sample" -> ((s, dir) => {
      val meta = Multimodal.probeMeta(Multimodal.syntheticMedia(s, 2000)).toDF()
      Multimodal.sampleFrames(meta, stride = 50)
        .select(col("media_ref"), size(col("frame_indices")).as("n_sampled"))
        .orderBy("media_ref")
    }),
    "m_features" -> ((s, dir) => {
      // CONTENT-derived features: Spark really inflates the PNG IDAT zlib
      // stream, reconstructs scanlines through all 5 standard filters
      // (the builder cycles them per row), and reads PCM frames from the
      // WAV data chunk; the oracle replays the id-derived pixel/sample
      // FORMULAS — equality proves the whole decode chain, not the header
      // walk. All statistics are exact integers (moment inputs), so the
      // hash compare is engine-portable.
      val media = Multimodal.syntheticMediaFull(s, 1000)
      Multimodal.contentFeatures(media).toDF().orderBy("media_ref")
    }),
    "v_stream_validate" -> ((s, dir) => {
      // the CORE validation path under Structured Streaming, oracle-checked:
      // the same compiled span-invariant expressions run over a streamed
      // copy of a generated corpus; per-partition verdict counts (complete
      // mode) must equal DuckDB's replay over the same parquet bytes. This
      // is the north rule's "same per-partition pass/fail verdicts" claim
      // demonstrated on the streaming engine, not just the batch one.
      val docs = DocsGen.docs(s, DocsGen.Knobs(nDocs = 20000, nParts = 16,
        badKindPerMille = 10, badMediaRefPerMille = 10, badOrderPerMille = 10,
        negOffsetPerMille = 5, nullDocIdPerMille = 2, dupPerMille = 5))
      val path = genStreamDocsPath(dir)
      docs.write.mode("overwrite").parquet(path)
      val schema = s.read.parquet(path).schema
      val name = streamViewName(s, "stream_validate")
      withStreamPartitions(s, inputBytes(s, path)) {
        val stream = s.readStream.schema(schema).parquet(path)
        val out = stream
          .withColumn("violations", SpanInvariant.violationsCol(col("spans")))
          .groupBy(col("part"))
          .agg(count(lit(1)).as("docs"),
            sum(when(size(col("violations")) > 0, 1L).otherwise(0L)).as("failed_docs"))
        val q = out.writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table(name).coalesce(1).orderBy("part")
    }),
    // ---------- streaming drift monitoring ----------
    "g_stream_drift" -> ((s, dir) => {
      // CONTINUOUS drift monitoring on the streaming engine: the SAME
      // binned-cell aggregation the batch KS check uses (one groupBy, no
      // windows — legal in complete mode) over a file-source replay of
      // lineitem; the final emission's cells fold into the identical KS
      // statistic, so the batch oracle (g_drift_ks's SQL) checks the
      // streaming plan end to end.
      val batch = t(s, dir, "lineitem")
      val name = streamViewName(s, "stream_drift")
      withStreamPartitions(s, inputBytes(s, s"$dir/lineitem.parquet")) {
        val stream = s.readStream.schema(batch.schema)
          .option("pathGlobFilter", "lineitem.parquet")
          .parquet(dir)
        val cells = Drift.binnedCellCounts(stream, "l_extendedprice",
          col("l_returnflag") === "R", col("l_returnflag") === "N",
          0.0, 120000.0, 101)
        val q = cells.writeStream.format("memory").queryName(name)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Drift.ksFromCellCounts(s, s.table(name).collect(), 101)
        .select(round(col("ks"), 4).as("ks"))
    }),
    "g_stream_drift_inc" -> ((s, dir) => {
      // INCREMENTAL (update-style) streaming drift: 4 slice files with
      // strictly increasing mtimes + maxFilesPerTrigger=1 pin the
      // micro-batch order, each trigger aggregates only its own rows, the
      // driver merges grid-sized cell deltas, and EVERY emission must
      // equal the batch KS over the prefix consumed so far — the oracle
      // replays all 4 prefixes, not just the final statistic
      val li = t(s, dir, "lineitem")
      val base = genDriftSlicesPath(dir)
      // one partitioned write job emits all four slices (no checkpoint,
      // no per-slice re-scan)
      writeMtimeSlices(s, base,
        li.withColumn("_sl", pmod(col("l_orderkey"), lit(4L))), "_sl", 4)
      withStreamPartitions(s, inputBytes(s, base)) {
        val stream = s.readStream.schema(li.schema)
          .option("maxFilesPerTrigger", "1").parquet(base)
        graft.streaming.StreamValidate.driftKsIncremental(stream,
          "l_extendedprice",
          col("l_returnflag") === "R", col("l_returnflag") === "N",
          0.0, 120000.0, 101)
      }
        .select(col("batch_seq"), round(col("ks"), 4).as("ks"))
        .orderBy("batch_seq")
    }),
    // ---------- data layout (z-order clustering) ----------
    "l_compact" -> ((s, dir) => {
      // small-file compaction plan over a simulated ingestion manifest
      // (one "file" per document, bytes = n_chars, 4 table partitions):
      // healthy files keep, small ones bin-packed at 2000 target bytes
      val manifest = t(s, dir, "documents").select(
        pmod(col("doc_id"), lit(4L)).cast("int").as("part"),
        concat(lit("f-"), lpad(col("doc_id").cast("string"), 8, "0")).as("path"),
        col("n_chars").cast("long").as("bytes"))
      Layout.compactionPlan(manifest, targetBytes = 2000L, smallFileBytes = 500L)
        .orderBy("part", "path")
    }),
    "l_compact_bins" -> ((s, dir) => {
      val manifest = t(s, dir, "documents").select(
        pmod(col("doc_id"), lit(4L)).cast("int").as("part"),
        concat(lit("f-"), lpad(col("doc_id").cast("string"), 8, "0")).as("path"),
        col("n_chars").cast("long").as("bytes"))
      Layout.compactionBins(
        Layout.compactionPlan(manifest, targetBytes = 2000L, smallFileBytes = 500L))
        .orderBy("part", "bin")
    }),
    "l_vacuum" -> ((s, dir) => {
      // snapshot-retention plan over a simulated snapshot→file manifest:
      // 113 files (prime, so each is referenced by SEVERAL distinct
      // snapshot seqs and the newest-reference max is what decides);
      // keeping the last 2 snapshots (seq 4,5) keeps exactly the files
      // some kept snapshot still references — pure metadata math
      val manifest = t(s, dir, "documents").select(
        concat(lit("f-"),
          lpad(pmod(col("doc_id"), lit(113L)).cast("string"), 3, "0")).as("path"),
        pmod(col("doc_id"), lit(6L)).as("snapshot_seq"),
        col("n_chars").cast("long").as("bytes"))
      Layout.vacuumPlan(manifest, keepSnapshots = 2).orderBy("path")
    }),
    "l_asof" -> ((s, dir) => {
      // time travel over the same synthetic manifest: VERSION AS OF 3
      // resolves to snapshot seq 3 (newest <= 3) and lists its files —
      // the fourth leg of table maintenance
      val manifest = t(s, dir, "documents").select(
        concat(lit("f-"),
          lpad(pmod(col("doc_id"), lit(113L)).cast("string"), 3, "0")).as("path"),
        pmod(col("doc_id"), lit(6L)).as("snapshot_seq"),
        col("n_chars").cast("long").as("bytes"))
      Layout.asOfFiles(manifest, asOfSeq = 3L).orderBy("path")
    }),
    "l_zorder" -> ((s, dir) => {
      // Morton key over (doc_id, text length): the clustering key an
      // OPTIMIZE ZORDER-style maintenance pass range-sorts by — pure
      // codegen bit arithmetic on exact integer ranks, reproducible in any
      // engine
      val d = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("tlen"))
      d.select(col("doc_id"),
          Layout.zValueAuto(d, Seq("doc_id", "tlen"), bits = 16).as("zval"))
        .orderBy("doc_id")
    }),
    "l_zorder_skip" -> ((s, dir) => {
      // the data-skipping manifest z-ordering exists for: per z-bucket
      // min/max of BOTH dimensions (the column stats a format manifest
      // carries). Narrow ranges on every dimension = a filter on either
      // column prunes most buckets; a linear sort gets this on the leader
      // column only.
      val d = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).cast("long").as("tlen"))
      val r = d.agg(min("doc_id"), max("doc_id"), min("tlen"), max("tlen"))
        .collect()(0)
      val dims = Seq(
        (col("doc_id"), r.getLong(0), r.getLong(1)),
        (col("tlen"), r.getLong(2), r.getLong(3)))
      Layout.skippingStats(d, dims, bits = 16, nBuckets = 64)
        .orderBy("bucket")
    }),
    // ---------- corpus-rarity quality signal ----------
    "t_rarity" -> ((s, dir) =>
      // rare-token mass per document: rarity is a corpus property (df over
      // the whole vocabulary), the quality dimension per-row heuristics
      // can't see
      TextAnalysis.rareTokenStats(t(s, dir, "documents"), "doc_id", "text",
          dfMax = 2L)
        .orderBy("id")),
    // ---------- incremental revalidation ----------
    "i_validate" -> ((s, dir) => {
      // snapshot v2 derives from v1 with removals (key%97), span edits
      // (key%41 — first offset forced to -1, an injected violation) and
      // additions (key%89 cloned at +500000). BOTH snapshots are written to
      // parquet; the engine revalidates ONLY the delta rows
      // (Diff.incrementalRows anti-join) and emits per-part verdicts over
      // that delta — at 10^12 docs a refresh affords |delta| work, never
      // corpus work. The oracle replays the same anti-join + span invariant
      // over the same files.
      val docs = DocsGen.docs(s, DocsGen.Knobs(nDocs = 20000, nParts = 16,
        badKindPerMille = 10, badMediaRefPerMille = 10, badOrderPerMille = 10,
        negOffsetPerMille = 5))
      val p1 = genV1Path(dir); val p2 = genV2Path(dir)
      docs.write.mode("overwrite").parquet(p1)
      val v1 = s.read.parquet(p1)
      val k = substring(col("doc_id"), 3, 12).cast("long")
      val edited = v1.filter(pmod(k, lit(97L)) =!= 0L)
        .withColumn("spans", when(pmod(k, lit(41L)) === 0L,
          transform(col("spans"), (sp, i) =>
            when(i === 0, sp.withField("offset", lit(-1))).otherwise(sp)))
          .otherwise(col("spans")))
      val added = v1.filter(pmod(k, lit(89L)) === 0L)
        .withColumn("doc_id",
          concat(lit("d-"), lpad((k + 500000L).cast("string"), 12, "0")))
      edited.unionByName(added).write.mode("overwrite").parquet(p2)
      val delta = Diff.incrementalRows(s.read.parquet(p1), s.read.parquet(p2),
        "doc_id", Seq("spans"))
      delta.withColumn("violations", SpanInvariant.violationsCol(col("spans")))
        .groupBy(col("part"))
        .agg(count(lit(1)).as("docs"),
          sum(when(size(col("violations")) > 0, 1L).otherwise(0L))
            .as("failed_docs"))
        .orderBy("part")
    }),
    // ---------- right-to-be-forgotten / delete propagation ----------
    "d_forget" -> ((s, dir) => {
      // tombstone list (doc_id % 43) applied to the corpus AND its derived
      // embedding table; audit = per-table removed/kept counts plus the
      // compliance re-check (residual tombstoned ids after apply — must
      // be 0, computed on the applied output, never assumed)
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val deletes = docs.filter(pmod(col("doc_id"), lit(43L)) === 0L)
        .select(col("doc_id").as("del_id"))
      Forget.audit(s, Seq(("documents", docs, "doc_id"),
          ("embeddings", emb, "vec_id")), deletes, "del_id")
        .orderBy("tbl")
    }),
    "d_forget_plan" -> ((s, dir) => {
      // copy-on-write rewrite plan: which files of a 100-docs-per-file
      // manifest contain a tombstone (doc_id % 199) — metadata-only, the
      // corpus itself is never scanned by the planner
      val docs = t(s, dir, "documents")
      val manifest = docs
        .groupBy(concat(lit("f"), floor(col("doc_id") / 100).cast("string"))
          .as("file"))
        .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      val deletes = docs.filter(pmod(col("doc_id"), lit(199L)) === 0L)
        .select(col("doc_id").as("del_id"))
      Forget.plan(manifest, deletes, "file", "min_id", "max_id", "del_id",
          chunk = 64L)
        .orderBy("file")
    }),
    // ---------- rule-set coverage triage ----------
    "v_rule_coverage" -> ((s, dir) => {
      // which rules fire, which are dead, which are mis-specified — one
      // aggregation scan for the whole rule set; the silent and always
      // classes are planted (n_chars >= 0 never fails; doc_id <= -1
      // always fails) so all three triage classes appear
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "chars_nonneg" -> Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(minimum = Some(0)))))),
        "impossible_id" -> Rule.Check(Keywords(properties = Map(
          "doc_id" -> Rule.Check(Keywords(maximum = Some(-1)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      Validate.ruleCoverage(t(s, dir, "documents"), rules)
        .orderBy("rule")
    }),
    // ---------- snapshot verdict regression ----------
    "v_verdict_regress" -> ((s, dir) => {
      // validation regression between two snapshot versions: v2 derives
      // from v1 row-wise (lang corrupted at % 31, n_chars inflated at
      // % 37, half the bad sources healed), both versions evaluate in the
      // SAME scan (two struct inputs to the same compiled rules), and only
      // verdict FLIPS are emitted — regressed (pass -> fail) and fixed
      // (fail -> pass); the |delta|-sized diff a snapshot review reads
      val docs = t(s, dir, "documents")
      val srcOk = col("source").isNull || col("source").rlike("^src[0-3]$")
      val v2Lang = when(pmod(col("doc_id"), lit(31L)) === 0L, lit("xx"))
        .otherwise(col("lang"))
      val v2Chars = when(pmod(col("doc_id"), lit(37L)) === 0L,
        col("n_chars") + 600L).otherwise(col("n_chars"))
      val v2Src = when(pmod(col("doc_id"), lit(2L)) === 0L && !srcOk,
        lit("src0")).otherwise(col("source"))
      val both = docs.select(col("doc_id").as("id"),
        struct(docs.columns.map(col): _*).as("_r1"),
        struct(col("doc_id"), col("text"), v2Lang.as("lang"),
          v2Src.as("source"), v2Chars.as("n_chars")).as("_r2"))
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "len_max" -> Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(maximum = Some(500)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      val flips = rules.map { case (name, r) =>
        val p1 = Validate.passes(r, col("_r1"), docs.schema)
        val p2 = Validate.passes(r, col("_r2"), docs.schema)
        struct(lit(name).as("rule"),
          when(p1 && !p2, "regressed").when(!p1 && p2, "fixed").as("change"))
      }
      both.select(col("id").as("doc_id"), explode(array(flips: _*)).as("f"))
        .select(col("doc_id"), col("f.rule").as("rule"),
          col("f.change").as("change"))
        .filter(col("change").isNotNull)
        .orderBy("doc_id", "rule")
    }),
    // ---------- slice-lift failure attribution ----------
    "g_slice_lift" -> ((s, dir) => {
      // which language / source cohort produces the violations: per-value
      // failure rate vs the corpus-global rate, one fan-out scan
      val failRow =
        !(col("lang").isNull || col("lang").isin("en", "de", "fr", "es")) ||
          !(col("n_chars").isNull || col("n_chars") <= 500)
      Stats.sliceLift(t(s, dir, "documents"), Seq("lang", "source"), failRow,
          minRows = 5L, minLift = 1.5)
        .orderBy("dim", "value")
    }),
    // ---------- curriculum ordering ----------
    "p_curriculum" -> ((s, dir) => {
      // exact global rank + ntile-semantics buckets WITHOUT a
      // single-partition sort: longest-docs-first curriculum in 4 stages
      Sampling.curriculum(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          Seq(col("n_chars").desc, col("doc_id")), n = 4)
        .select(col("doc_id"), col("rank"), col("bucket"))
        .orderBy("doc_id")
    }),
    // ---------- BPE merge-pair induction ----------
    "t_bpe_pairs" -> ((s, dir) =>
      // most frequent adjacent token pairs = the first BPE merges /
      // collocation head of the corpus; pairs form in-plan from the token
      // array, no self-join
      TextAnalysis.topTokenPairs(t(s, dir, "documents"), "text", k = 20)),
    // ---------- ANN index recall audit ----------
    "s_ann_recall" -> ((s, dir) => {
      // IVF recall against PLANTED ground truth: each query's known
      // nearest neighbor is its perturbed twin (dim0 + 0.5 → cosine ~0.9
      // vs ~0.5 natural max); the twin assigns to its own IVF list and the
      // audit asks whether the query's nProbe=2 probe set covers it — IVF
      // returns the exact top-k within probed lists, so coverage IS
      // per-query recall@1. Centroids are the trained literals the oracle
      // replays (__IVF_CENTROIDS__).
      val cents = ivfCentroids(s, dir)
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(pmod(col("vec_id"), lit(20L)) === 0L)
        .select(col("vec_id").as("qid"),
          transform(col("embedding"), x => x.cast("double")).as("qvec"),
          transform(col("embedding"), (x, i) =>
            when(i === 0, x.cast("double") + 0.5)
              .otherwise(x.cast("double"))).as("tvec"))
      def scored(vec: Column) = cents.zipWithIndex.map { case (c, i) =>
        struct(Similarity.cosine(vec, typedlit(c)).as("sim"),
          lit(i).as("cid"))
      }
      // twin's list = argmax (greatest = sim desc, cid desc on ties);
      // probe set = top-2 for the query by the same order
      val probes = sort_array(array(scored(col("qvec")): _*), asc = false)
      qs.select(col("qid"), (col("qid") + 100000L).as("twin_id"),
          greatest(scored(col("tvec")): _*).getField("cid").as("twin_list"),
          probes.getItem(0).getField("cid").as("probe_1"),
          probes.getItem(1).getField("cid").as("probe_2"))
        .withColumn("covered",
          col("twin_list") === col("probe_1") ||
            col("twin_list") === col("probe_2"))
        .orderBy("qid")
    }),
    // ---------- incremental manifest maintenance ----------
    "d_manifest_incr" -> ((s, dir) => {
      // a commit edits docs (% 41 within the first 1000 ids): the manifest
      // refreshes by recomputing ONLY the dirty 500-doc partitions and
      // splicing — the oracle recomputes the v2 manifest IN FULL, so a
      // green row proves incremental == full recompute
      val docs = t(s, dir, "documents")
      val partC = floor(col("doc_id") / 500).cast("long")
      val edited = pmod(col("doc_id"), lit(41L)) === 0L && col("doc_id") < 1000L
      val v2 = docs.withColumn("text",
        when(edited, concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val oldM = Integrity.contentManifest(docs, partC, manifestContent)
      val dirty = v2.filter(edited).select(partC.as("part")).distinct()
      Integrity.manifestUpdate(oldM, v2, partC, manifestContent, dirty)
        .orderBy("part")
    }),
    // ---------- streaming tombstone application ----------
    "e_stream_forget" -> ((s, dir) => {
      // right-to-be-forgotten on the ingest path, actually EXECUTED:
      // stream-static anti-join against the broadcast delete list
      // (doc_id % 43); stateless per-row suppression, no watermark needed
      val batch = t(s, dir, "documents")
      val stream = s.readStream.schema(batch.schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val deletes = batch.filter(pmod(col("doc_id"), lit(43L)) === 0L)
        .select(col("doc_id").as("del"))
      val out = graft.streaming.StreamValidate
        .forgetStream(stream, deletes, "doc_id", "del")
        .select(col("doc_id"))
      val name = streamViewName(s, "stream_forget")
      val q = out.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).coalesce(1).orderBy("doc_id")
    }),
    // ---------- violation evidence sampling ----------
    "v_rule_examples" -> ((s, dir) => {
      // triage view: first 3 violating docs per (path, rule) — the
      // row_number filter lowers to WindowGroupLimit (map-side group
      // truncation before the shuffle)
      val rule = Rule.Check(Keywords(properties = Map(
        "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum))),
        "n_chars" -> Rule.Check(Keywords(maximum = Some(500))),
        "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$"))))))
      Validate.evidence(
          Validate.flatViolations(
            Validate.withViolations(t(s, dir, "documents"), rule)), k = 3)
        .select(col("doc_id"), col("path"), col("rule"), col("rn"))
        .orderBy("path", "rule", "rn")
    }),
    // ---------- exact group quantiles ----------
    "g_quantiles" -> ((s, dir) =>
      // per-language length quantiles, exact percentile_cont semantics —
      // value->count aggregation state, the oracle tier under the KLL
      // sketches the drift checks use
      Stats.groupQuantiles(t(s, dir, "documents"), Seq("lang"), "n_chars",
          Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy("lang")),
    // ---------- prefix-containment duplicates ----------
    "d_prefix_dups" -> ((s, dir) => {
      // truncation dups: half-length twins injected at % 17; the operator
      // buckets on the first 32 chars so containment pairs meet in an
      // equi-join, never a corpus x corpus theta-join
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs
        .filter(pmod(col("doc_id"), lit(17L)) === 0L &&
          length(col("text")) >= 64)
        .select((col("doc_id") + 200000L).as("doc_id"),
          col("text").substr(lit(1), floor(length(col("text")) / 2))
            .as("text"))
      Dedup.prefixDups(docs.unionByName(twins), "doc_id", "text",
          minPrefix = 32)
        .orderBy("id_a", "id_b")
    }),
    // ---------- id-continuity islands ----------
    "g_id_gaps" -> ((s, dir) =>
      // coverage audit after a partial restore: every % 13 id removed ->
      // islands of consecutive survivors (gaps are the complement)
      Stats.idIslands(
          t(s, dir, "documents").filter(pmod(col("doc_id"), lit(13L)) =!= 0L),
          "doc_id")
        .orderBy("start_id")),
    // ---------- embedding hygiene ----------
    "s_vec_health" -> ((s, dir) => {
      // defects injected in priority order (null %97 > truncated %83 >
      // NaN %71 > zeroed %50); the audit must classify each vector into
      // exactly one class so the counts sum to the corpus
      val emb = t(s, dir, "embeddings")
      val vecType = emb.schema("embedding").dataType
      val vec = when(pmod(col("vec_id"), lit(97L)) === 0L,
          lit(null).cast(vecType))
        .when(pmod(col("vec_id"), lit(83L)) === 0L,
          slice(col("embedding"), 1, 32))
        .when(pmod(col("vec_id"), lit(71L)) === 0L,
          transform(col("embedding"), (x, i) =>
            when(i === 3, lit(Float.NaN)).otherwise(x)))
        .when(pmod(col("vec_id"), lit(50L)) === 0L,
          transform(col("embedding"), _ => lit(0.0f)))
        .otherwise(col("embedding"))
      Similarity.vecHealth(emb.select(vec.as("embedding")), "embedding",
          expectedDim = 64)
        .orderBy("issue")
    }),
    // ---------- cross-source duplicate provenance ----------
    "d_source_overlap" -> ((s, dir) => {
      // which sources share content: natural exact dups plus an injected
      // srcX mirror (every % 61 doc re-ingested under a new source)
      val docs = t(s, dir, "documents").select(col("text"), col("source"))
      val mirror = t(s, dir, "documents")
        .filter(pmod(col("doc_id"), lit(61L)) === 0L)
        .select(col("text"), lit("srcX").as("source"))
      Dedup.sourceOverlap(docs.unionByName(mirror), "text", "source")
        .orderBy("src_a", "src_b")
    }),
    // ---------- canonical text normalization ----------
    "t_normalize" -> ((s, dir) => {
      // messy wrappers injected at % 23 (tab/control padding, trailing
      // runs); output = every doc normalization changes, with the
      // canonical text the dedup/fingerprint stages hash
      val aug = when(pmod(col("doc_id"), lit(23L)) === 0L,
          concat(lit(" \t"), col("text"), lit("\u0001  ")))
        .otherwise(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"), aug.as("raw"))
        .withColumn("normalized", TextAnalysis.normalizeText(col("raw")))
        .filter(col("normalized") =!= col("raw"))
        .select(col("doc_id"), length(col("raw")).cast("long").as("n_before"),
          length(col("normalized")).cast("long").as("n_after"),
          col("normalized"))
        .orderBy("doc_id")
    }),
    // ---------- IQR outlier fences ----------
    "g_iqr_outliers" -> ((s, dir) =>
      // boxplot-fence twin of the robust-z watchdog: per-language length
      // quartiles -> fences -> one scan of out-of-fence counts
      Stats.iqrOutliers(t(s, dir, "documents"), Seq("lang"), "n_chars",
          k = 1.5)
        .orderBy("lang")),
    // ---------- partition layout health ----------
    "l_partition_health" -> ((s, dir) => {
      // metadata-only layout dashboard per source partition over a
      // 50-docs-per-file manifest: size quantiles, skew, small-file share
      val manifest = t(s, dir, "documents")
        .groupBy(col("source").as("part"),
          concat(lit("f"), floor(col("doc_id") / 50).cast("string"))
            .as("path"))
        .agg(sum(col("n_chars")).as("bytes"))
      Layout.partitionHealth(manifest, smallFileBytes = 3000L)
        .orderBy("part")
    }),
    // ---------- categorical association ----------
    "g_assoc" -> ((s, dir) =>
      // is source predictive of language? chi-square + Cramer's V per
      // column pair; the self-pair pins the V = 1 end of the scale
      Stats.cramersV(t(s, dir, "documents"),
          Seq(("lang", "source"), ("lang", "lang")))
        .orderBy("col_a", "col_b")),
    // ---------- token-budget-capped assembly ----------
    "p_budget_cap" -> ((s, dir) =>
      // at most 50k chars per source, chosen in deterministic hash order:
      // the reproducible last step of a mixture plan
      Sampling.budgetCap(t(s, dir, "documents"), "doc_id", "source",
          "n_chars", budget = 50000L, seed = "bud")
        .orderBy("source", "cum_tokens")),
    // ---------- dedup savings summary ----------
    "d_cluster_stats" -> ((s, dir) =>
      // cluster-size histogram + rows a keep-one pass drops, over the
      // verified near-dup transitive clusters
      DupClusters.clusterStats(
          DupClusters.clusters(Dedup.nearDupPairsExact(
            t(s, dir, "documents"), "doc_id", "text",
            k = 3, numHashes = 32, bands = 16, threshold = 0.5)))
        .orderBy("cluster_size")),
    // ---------- retention cohorts ----------
    "e_retention" -> ((s, dir) => {
      // day-0 cohort -> day-k distinct returning users over the event
      // stream: two shuffles on user_id (cohort agg + co-partitioned
      // join), then a map-side-combined (cohort, offset) rollup
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(col("d")).as("cohort_day"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"),
          datediff(col("d"), col("cohort_day")).as("day_offset"))
        .agg(count_distinct(col("user_id")).as("users"))
        // date rendered as a string so both engines (and their pandas
        // readers) agree byte-for-byte on the value
        .select(date_format(col("cohort_day"), "yyyy-MM-dd")
          .as("cohort_day"), col("day_offset"), col("users"))
        .orderBy("cohort_day", "day_offset")
    }),
    // ---------- sampled pre-flight validation ----------
    "v_sample_validate" -> ((s, dir) => {
      // validate a deterministic 25% hash sample and extrapolate the
      // corpus failure counts — the cheap pre-flight before committing a
      // full 100 TB validation run to a rule-set change
      val p = 0.25
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      Validate.ruleCoverage(
          Sampling.sample(t(s, dir, "documents"), "doc_id", p), rules)
        .select(col("rule"), col("docs").as("sample_docs"),
          col("failed_docs"), col("fail_rate"),
          round(col("failed_docs") / lit(p)).cast("long")
            .as("est_corpus_fails"))
        .orderBy("rule")
    }),
    // ---------- span-kind mass per partition ----------
    "v_span_kinds" -> ((s, dir) =>
      // the axes-A+B profile at span granularity: per (part, kind) span
      // counts, doc coverage, offset mass. FLAT span projection of
      // derivedDocs (the derivedMediaRefs precedent — assemble-then-
      // explode is a row-preserving round trip for span-level consumers):
      // one span per lineitem row with the same part/kind/offset
      // expressions, span order irrelevant under aggregation
      t(s, dir, "lineitem")
        .select(pmod(col("l_orderkey"), lit(8L)).cast("int").as("part"),
          col("l_orderkey").cast("string").as("doc_id"),
          when(col("l_returnflag") === "R", "media").otherwise("text")
            .as("kind"),
          when(col("l_quantity") > 45, 0)
            .otherwise(col("l_linenumber") * 10).cast("int").as("offset"))
        .groupBy(col("part"), col("kind"))
        .agg(count(lit(1)).as("n_spans"),
          count_distinct(col("doc_id")).as("docs"),
          sum(col("offset")).cast("long").as("offset_sum"),
          max(col("offset")).cast("long").as("max_offset"))
        .orderBy("part", "kind")),
    // ---------- signup -> purchase funnel ----------
    "e_funnel" -> ((s, dir) => {
      // conversion within a 7-day attribution window of the user's FIRST
      // signup: user-keyed join (co-partitioned with the signup agg),
      // distinct converted users, per-day rollup
      val ev = t(s, dir, "events")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("su_ts"))
      val conv = su.join(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("p_ts")), Seq("user_id"))
        .filter(col("p_ts") >= col("su_ts") &&
          col("p_ts") <= col("su_ts") + expr("INTERVAL 7 DAYS"))
        .select(col("user_id")).distinct()
        .withColumn("_c", lit(1L))
      su.join(conv, Seq("user_id"), "left")
        .groupBy(date_format(to_date(col("su_ts")), "yyyy-MM-dd")
          .as("signup_day"))
        .agg(count(lit(1)).as("signups"),
          coalesce(sum(col("_c")), lit(0L)).as("converted"))
        .withColumn("conv_rate",
          round(col("converted") / col("signups"), 6))
        .orderBy("signup_day")
    }),
    // ---------- k-anonymity release gate ----------
    "g_kanon" -> ((s, dir) =>
      // quasi-identifier combinations shared by fewer than 5 docs — the
      // re-identification risk rows a privacy review reads
      Stats.kAnonymityRisk(t(s, dir, "documents"), Seq("lang", "source"),
          k = 5L)
        .orderBy("lang", "source")),
    // ---------- event-sequence ordering audit ----------
    "e_order_violations" -> ((s, dir) => {
      // the event-level twin of the span-offset invariant: ids were
      // assigned in time order; injected regressions (ts - 1h at % 37)
      // must surface with their running-max witness
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        when(pmod(col("event_id"), lit(37L)) === 0L,
          col("ts") - expr("INTERVAL 1 HOUR")).otherwise(col("ts")).as("ts"))
      Temporal.orderViolations(ev, "user_id", "event_id", "ts")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("t_us"),
          unix_micros(col("prev_max_ts").cast("timestamp")).as("prev_us"))
        .orderBy("user_id", "event_id")
    }),
    // ---------- declared-vs-detected language QA ----------
    "t_lang_confusion" -> ((s, dir) =>
      // confusion matrix of the declared lang column against the n-gram
      // heuristic's verdict — the labeling-QA view over the corpus; one
      // scan + a matrix-sized groupBy
      Scans.widen(t(s, dir, "documents").select(col("lang"), col("text")))
        .groupBy(coalesce(col("lang"), lit("<null>")).as("lang"),
          TextAnalysis.langId(col("text")).as("detected"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "detected")),
    // ---------- rule failure co-occurrence ----------
    "v_rule_cooccur" -> ((s, dir) => {
      // redundancy / independence of the rule set: all pair counters in
      // ONE aggregation scan
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "len_max" -> Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(maximum = Some(500)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      Validate.ruleCooccurrence(t(s, dir, "documents"), rules)
        .orderBy("rule_a", "rule_b")
    }),
    // ---------- streaming incremental top-k ----------
    "e_stream_topk" -> ((s, dir) => {
      // heavy hitters maintained ACROSS micro-batches (foreachBatch
      // partial counts merged on the driver): the final top-k must equal
      // the batch answer over the whole stream — counts are associative
      val batch = t(s, dir, "events")
      withStreamPartitions(s, inputBytes(s, s"$dir/events.parquet")) {
        val stream = s.readStream.schema(batch.schema)
          .option("pathGlobFilter", "events.parquet")
          .parquet(dir)
        graft.streaming.StreamValidate
          .topKIncremental(stream, "event_type", k = 5)
      }
        .orderBy(col("occurrences").desc, col("event_type"))
    }),
    // ---------- per-source duplicate rate ----------
    "d_dup_rate" -> ((s, dir) =>
      // which feed sends duplicates: per source, docs vs distinct
      // normalized contents; two-phase count_distinct, source-sized output
      t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("docs"),
          count_distinct(Dedup.contentHash(col("text")))
            .as("distinct_contents"))
        .withColumn("dup_rate",
          round(lit(1.0) - col("distinct_contents") / col("docs"), 6))
        .orderBy("source")),
    // ---------- quantile drift between snapshots ----------
    "g_quantile_drift" -> ((s, dir) => {
      // the distribution-shift view a drift alert links to: per-language
      // p50/p95 deltas between v1 and the row-wise derived v2 (n_chars
      // inflated at % 37) — group-sized join of two exact quantile tables
      val docs = t(s, dir, "documents")
      val v2 = docs.withColumn("n_chars",
        when(pmod(col("doc_id"), lit(37L)) === 0L, col("n_chars") + 600L)
          .otherwise(col("n_chars")))
      val q1 = Stats.groupQuantiles(docs, Seq("lang"), "n_chars",
        Seq(0.5, 0.95)).select(col("lang"), col("p50").as("p50_v1"),
        col("p95").as("p95_v1"))
      val q2 = Stats.groupQuantiles(v2, Seq("lang"), "n_chars",
        Seq(0.5, 0.95)).select(col("lang").as("_l2"),
        col("p50").as("p50_v2"), col("p95").as("p95_v2"))
      q1.join(q2, col("lang") <=> col("_l2"))
        .select(col("lang"), col("p50_v1"), col("p50_v2"),
          round(col("p50_v2") - col("p50_v1"), 6).as("p50_delta"),
          col("p95_v1"), col("p95_v2"),
          round(col("p95_v2") - col("p95_v1"), 6).as("p95_delta"))
        .orderBy("lang")
    }),
    // ---------- hour-of-day load profile ----------
    "e_load_profile" -> ((s, dir) =>
      // capacity-planning / seasonal-baseline view: events by (type,
      // hour-of-day), share within type, deterministic peak hour
      Temporal.loadProfile(t(s, dir, "events"), "event_type", "ts")
        .orderBy("key", "hour")),
    // ---------- per-day user lifecycle ----------
    "e_lifecycle" -> ((s, dir) =>
      // acquisition-vs-retention decomposition of the DAU chart: new /
      // returning / last-seen users per day
      Temporal.userLifecycle(t(s, dir, "events"), "user_id", "ts")
        .orderBy("day")),
    // ---------- DAU/WAU stickiness ----------
    "e_stickiness" -> ((s, dir) =>
      // how often do actives show up: distinct daily users over distinct
      // trailing-7-day users, per day
      Temporal.stickiness(t(s, dir, "events"), "user_id", "ts",
          windowDays = 7)
        .orderBy("day")),
    // ---------- seasonally-adjusted volume anomaly ----------
    "e_seasonal" -> ((s, dir) => {
      // Tuesday-14:00-did-3x-its-usual-14:00 detection: per (type, date,
      // hour) counts vs the type-hour median across the corpus's 30
      // days, flag outside [median/2, median*2]; a planted triple-volume
      // hour (Jan 5, 10:00 unioned twice more) pins the true branch
      val ev = t(s, dir, "events")
      val spike = ev.filter(to_date(col("ts")) === lit("2024-01-05") &&
        hour(col("ts")) === 10)
      Temporal.seasonalAnomaly(
          ev.unionByName(spike).unionByName(spike),
          "event_type", "ts", factor = 2.0)
        .orderBy("key", "day", "hour")
    }),
    // ---------- per-feed freshness / staleness audit ----------
    "e_freshness" -> ((s, dir) => {
      // which feeds went quiet? per-event-type last delivery vs the
      // corpus watermark (data-defined "now", so the report is
      // deterministic); stale = silent > 30min of data time (the sf
      // corpus spans hours, so error/purchase trip it and click doesn't)
      Temporal.freshness(t(s, dir, "events"), "event_type", "ts",
          staleAfterSeconds = 1800L)
        .orderBy("key")
    }),
    // ---------- event lateness histogram ----------
    "e_lateness" -> ((s, dir) => {
      // how late does the stream run: per event, lateness = running max
      // event-time (in id order, per user) minus own time; bucketed —
      // the histogram that sizes a watermark before deploying one
      val ev = t(s, dir, "events").select(col("user_id"), col("event_id"),
        when(pmod(col("event_id"), lit(37L)) === 0L,
          col("ts") - expr("INTERVAL 1 HOUR")).otherwise(col("ts")).as("ts"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val lateUs = greatest(
        unix_micros(max(col("ts")).over(w).cast("timestamp")) -
          unix_micros(col("ts").cast("timestamp")), lit(0L))
      ev.withColumn("_late", coalesce(lateUs, lit(0L)))
        .groupBy(when(col("_late") === 0L, "on_time")
          .when(col("_late") < 60000000L, "lt_1m")
          .when(col("_late") < 3600000000L, "lt_1h")
          .otherwise("ge_1h").as("bucket"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("bucket")
    }),
    // ---------- Benford first-digit audit ----------
    "g_benford" -> ((s, dir) =>
      // organically-grown magnitudes follow log10(1 + 1/d); the per-digit
      // chi2 terms localize where a price column deviates
      Stats.benford(t(s, dir, "orders"), "o_totalprice")
        .orderBy("digit")),
    // ---------- missingness structure ----------
    "g_null_patterns" -> ((s, dir) => {
      // which columns go missing together: null-bitmap pattern histogram
      // over (lang, source, text) with nulls injected in a correlated
      // block (% 19: lang AND source together) plus an independent one
      // (% 29: text alone) — rates alone cannot tell these apart
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(19L)) === 0L, lit(null))
          .otherwise(col("lang")).as("lang"),
        when(pmod(col("doc_id"), lit(19L)) === 0L, lit(null))
          .otherwise(col("source")).as("source"),
        when(pmod(col("doc_id"), lit(29L)) === 0L, lit(null))
          .otherwise(col("text")).as("text"))
      Stats.nullPatterns(docs, Seq("lang", "source", "text"))
        .orderBy("pattern")
    }),
    // ---------- exact media dedup by bytes ----------
    "m_media_dup" -> ((s, dir) => {
      // the same payload re-ingested under a new ref (every % 11 id
      // cloned): byte-identical content must land in one group. The
      // oracle groups by the id FORMULAS — equal bytes iff equal
      // formulas, so the hash-compare validates the whole
      // build -> write -> hash path over BINARY content
      val media = Multimodal.syntheticMedia(s, 2000)
        .withColumn("_id",
          conv(substring(col("media_ref"), 3, 8), 16, 10).cast("long"))
      val clones = media.filter(pmod(col("_id"), lit(11L)) === 0L)
        .select(concat(lit("m-"),
            lpad(lower(hex(col("_id") + 100000L)), 8, "0")).as("media_ref"),
          col("mime"), col("content"))
      Multimodal.exactMediaDups(
          media.drop("_id").unionByName(clones), "media_ref", "content")
        .orderBy("group_id")
    }),
    // ---------- verdict rollup cube ----------
    "v_verdict_cube" -> ((s, dir) => {
      // drill-down verdict table: per-(lang, source, rule) failure counts
      // with every ROLLUP subtotal level in one Expand+aggregate scan;
      // subtotals render as the literal 'ALL' via grouping()
      val docs = t(s, dir, "documents")
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "len_max" -> Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(maximum = Some(500)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      Validate.verdictRollup(docs, rules, Seq("lang", "source"))
        .orderBy("lang", "source", "rule")
    }),
    // ---------- sampled validation with Wilson CI ----------
    "v_sample_ci" -> ((s, dir) => {
      // the statistical completion of v_sample_validate: a point estimate
      // from a 25% sample is only actionable with its uncertainty — per
      // rule, the 95% Wilson score interval on the corpus failure rate
      // (Wilson, not normal-approx: correct coverage at p near 0, which is
      // exactly where validation failure rates live)
      val docs = Sampling.sample(t(s, dir, "documents"), "doc_id", 0.25)
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      val n = col("docs").cast("double")
      val p = col("failed_docs").cast("double") / n
      val z = lit(1.96)
      val denom = lit(1.0) + z * z / n
      val center = (p + z * z / (lit(2.0) * n)) / denom
      val half = z * sqrt(p * (lit(1.0) - p) / n
        + z * z / (lit(4.0) * n * n)) / denom
      Validate.ruleCoverage(docs, rules)
        .select(col("rule"), col("docs").as("sample_docs"), col("failed_docs"),
          round(p, 6).as("fail_rate"),
          round(greatest(lit(0.0), center - half), 6).as("wilson_lo"),
          round(least(lit(1.0), center + half), 6).as("wilson_hi"))
        .orderBy("rule")
    }),
    // ---------- Cohen's kappa between snapshot verdicts ----------
    "v_kappa" -> ((s, dir) => {
      // chance-corrected verdict agreement between v1 and the
      // v_verdict_regress v2 derivation, per rule: v_verdict_regress lists
      // the FLIPS, kappa scores whether the agreement beats what the two
      // marginal pass rates produce by chance — the one-number answer to
      // "did the snapshot actually change validation behavior?"
      val docs = t(s, dir, "documents")
      val srcOk = col("source").isNull || col("source").rlike("^src[0-3]$")
      val v2Lang = when(pmod(col("doc_id"), lit(31L)) === 0L, lit("xx"))
        .otherwise(col("lang"))
      val v2Chars = when(pmod(col("doc_id"), lit(37L)) === 0L,
        col("n_chars") + 600L).otherwise(col("n_chars"))
      val v2Src = when(pmod(col("doc_id"), lit(2L)) === 0L && !srcOk,
        lit("src0")).otherwise(col("source"))
      val both = docs.select(
        struct(docs.columns.map(col): _*).as("_r1"),
        struct(col("doc_id"), col("text"), v2Lang.as("lang"),
          v2Src.as("source"), v2Chars.as("n_chars")).as("_r2"))
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "len_max" -> Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(maximum = Some(500)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      val aggs = count(lit(1)).as("_n") +:
        rules.zipWithIndex.flatMap { case ((_, r), i) =>
          val p1 = Validate.passes(r, col("_r1"), docs.schema)
          val p2 = Validate.passes(r, col("_r2"), docs.schema)
          Seq(sum(when(p1 && p2, 1L).otherwise(0L)).as(s"_a$i"),
            sum(when(p1 && !p2, 1L).otherwise(0L)).as(s"_b$i"),
            sum(when(!p1 && p2, 1L).otherwise(0L)).as(s"_c$i"),
            sum(when(!p1 && !p2, 1L).otherwise(0L)).as(s"_d$i"))
        }
      val rows = both.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
          struct(lit(name).as("rule"), col("_n").as("n"),
            col(s"_a$i").as("a"), col(s"_b$i").as("b"),
            col(s"_c$i").as("c"), col(s"_d$i").as("d"))
        }: _*)).as("m")).select(col("m.*"))
      val nD = col("n").cast("double")
      val po = (col("a") + col("d")) / nD
      val m1 = (col("a") + col("b")) / nD
      val m2 = (col("a") + col("c")) / nD
      val pe = m1 * m2 + (lit(1.0) - m1) * (lit(1.0) - m2)
      rows.select(col("rule"), col("n").as("n_docs"),
        round(po, 6).as("agree_rate"),
        round(pe, 6).as("chance_agree"),
        round(when(pe === lit(1.0), lit(null))
          .otherwise((po - pe) / (lit(1.0) - pe)), 6).as("kappa"))
        .orderBy("rule")
    }),
    // ---------- FD confidence ----------
    "g_fd_confidence" -> ((s, dir) =>
      // how badly does o_custkey -> o_orderpriority fail: 1 - the minimum
      // row fraction a repair would have to re-label (the g1 measure);
      // fdViolations (g_fd) lists WHERE it breaks, this scores HOW BADLY
      Stats.fdConfidence(t(s, dir, "orders"), "o_custkey",
        "o_orderpriority")),
    // ---------- token-mass concentration ----------
    "g_gini" -> ((s, dir) =>
      // is the corpus dominated by a few sources: Gini + top share of
      // char mass across source groups — what a mixture plan rebalances
      Stats.gini(t(s, dir, "documents"), "source", col("n_chars"))),
    // ---------- winsorization report ----------
    "g_winsorize" -> ((s, dir) =>
      // the numeric repair tier: per-lang p1/p99 fences over n_chars,
      // rows clipped below/above, and the integer-micro mass the clamp
      // would move
      Stats.winsorizeReport(t(s, dir, "documents"), Seq("lang"), "n_chars",
        0.01, 0.99).orderBy("lang")),
    // ---------- packing ROI ----------
    "p_pack_waste" -> ((s, dir) => {
      // price the training sequence length BEFORE packing commits to one:
      // pad-alone vs concat-stream waste per candidate capacity, same
      // corpus + shard assignment as p_pack (doc_id % 8, ws tokens)
      val d = t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("_tk"),
        pmod(col("doc_id"), lit(8L)).cast("int").as("_shard"))
      Packing.packingRoi(d, "doc_id", "_tk", Seq(256, 512, 1024), 8,
        Some("_shard")).orderBy("capacity")
    }),
    // ---------- completeness by segment ----------
    "g_null_by_source" -> ((s, dir) => {
      // which feed sends broken columns: per-(source, column) null rates
      // over a corpus with injected nulls (lang at % 19, text at % 29) —
      // the attribution view g_completeness (global) and g_null_patterns
      // (row structure) both lack
      val docs = t(s, dir, "documents").select(col("source"),
        when(pmod(col("doc_id"), lit(19L)) === 0L, lit(null))
          .otherwise(col("lang")).as("lang"),
        when(pmod(col("doc_id"), lit(29L)) === 0L, lit(null))
          .otherwise(col("text")).as("text"),
        col("n_chars"))
      Stats.completenessBySegment(docs, "source",
        Seq("lang", "text", "n_chars")).orderBy("segment", "column")
    }),
    // ---------- MinHash sketch-quality audit ----------
    "d_minhash_quality" -> ((s, dir) => {
      // estimated vs exact Jaccard per pair over the PORTABLE md5
      // signature — the audit that justifies the numHashes/threshold the
      // dedup subsystem rides on; same pair set as d_ngram_jaccard
      val docs = t(s, dir, "documents")
      val pairs = docs.filter(pmod(col("doc_id"), lit(2L)) === 0L)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      Dedup.minHashQuality(docs, pairs, "doc_id", "text",
        k = 1, numHashes = 16).orderBy("id_a")
    }),
    // ---------- dup-cluster purity ----------
    "d_cluster_purity" -> ((s, dir) => {
      // per near-dup cluster: dominant-language share + source span — a
      // low-purity cluster is translations/boilerplate (don't dedup as
      // equals), a many-source cluster is copy propagation
      val docs = t(s, dir, "documents")
      val cl = DupClusters.clusters(Dedup.nearDupPairsExact(docs,
        "doc_id", "text", k = 3, numHashes = 32, bands = 16,
        threshold = 0.5))
      DupClusters.purity(cl, docs, "doc_id", "lang", "source")
        .orderBy("cluster_id")
    }),
    // ---------- shingle document-frequency histogram ----------
    "d_shingle_df" -> ((s, dir) =>
      // the one-page corpus-redundancy profile: mass at doc_freq = 1 is
      // unique content, the tail is boilerplate — sizes minDocs for
      // t_boilerplate and predicts LSH bucket collision mass
      Dedup.shingleDfHistogram(t(s, dir, "documents"), "text", k = 3)
        .orderBy("doc_freq")),
    // ---------- dedup ROI by source ----------
    "d_dedup_impact" -> ((s, dir) => {
      // what keep-longest retention costs each feed: per source, dropped
      // docs/tokens and the dropped share — "dedup removes 31% of feed X"
      // is an ingestion decision, not a dedup parameter
      val docs = t(s, dir, "documents")
      val cl = DupClusters.clusters(Dedup.nearDupPairsExact(docs,
        "doc_id", "text", k = 3, numHashes = 32, bands = 16,
        threshold = 0.5))
      val ret = DupClusters.retention(cl, docs, "doc_id", "n_chars")
      DupClusters.dedupImpact(ret, docs, "doc_id", "source",
        TextAnalysis.tokenCountWs(col("text"))).orderBy("segment")
    }),
    // ---------- PMI collocations ----------
    "t_pmi_pairs" -> ((s, dir) =>
      // association-scored pairs: frequency surfaces "of the", PMI
      // surfaces pairs co-occurring above chance (entities, stuck
      // boilerplate); ordering rides on exact counts, never the float
      TextAnalysis.pmiPairs(t(s, dir, "documents"), "text", minCount = 30)),
    // ---------- event-type transition matrix ----------
    "e_transitions" -> ((s, dir) =>
      // first-order Markov estimate over per-user event sequences: the
      // behavioral fingerprint for funnel design and bot detection
      // (machine traffic has near-deterministic rows)
      Temporal.transitions(t(s, dir, "events"), "user_id", "event_id",
        "event_type").orderBy("from_state", "to_state")),
    // ---------- Zipf fit of the token head ----------
    "t_zipf" -> ((s, dir) =>
      // OLS ln(count) ~ ln(rank) over the top-100 tokens: natural text
      // sits near slope -1; flat = templated/synthetic, steep = degenerate
      // vocabulary — the corpus-level tell next to g_benford's value-level
      TextAnalysis.zipfFit(t(s, dir, "documents"), "text", topN = 100)),
    // ---------- hour-of-day periodicity ----------
    "e_periodicity" -> ((s, dir) =>
      // diurnal profile + per-bucket chi-square uniformity terms: a spike
      // in one bucket is batch/bot traffic, a perfectly flat profile is
      // synthetic data that forgot to model time
      Temporal.periodicity(t(s, dir, "events"), "ts")
        .orderBy("hour_of_day")),
    // ---------- inter-event burstiness ----------
    "e_burstiness" -> ((s, dir) =>
      // Goh-Barabasi burstiness per user over time-ordered gap seconds:
      // B ~ -1 metronome (machine heartbeat), ~0 Poisson (organic);
      // capped to the 50 burstiest users for a corpus-size-free output
      Temporal.burstiness(t(s, dir, "events"), "user_id", "ts")
        .orderBy(col("burstiness").desc_nulls_last, col("key"))
        .limit(50)),
    // ---------- vocabulary richness by source ----------
    "t_vocab_richness" -> ((s, dir) =>
      // per-source type-token ratio and hapax share: natural text keeps a
      // fat hapax tail, templated/model-generated text collapses it — the
      // segment-level synthetic tell next to t_zipf's corpus-level one
      TextAnalysis.vocabularyRichness(t(s, dir, "documents"), "source",
        "text").orderBy("segment")),
    // ---------- directional association (Theil's U) ----------
    "g_theils_u" -> ((s, dir) =>
      // which way does the dependency run? U(lang|source) vs
      // U(source|lang) — the soft tier of the g_fd hard-dependency audit,
      // next to g_assoc's symmetric Cramer's V
      Stats.theilsU(t(s, dir, "documents"),
          Seq(("lang", "source"), ("lang", "lang")))
        .orderBy("col_a", "col_b")),
    // ---------- top-k rank drift ----------
    "t_topk_drift" -> ((s, dir) => {
      // which heavy-hitter tokens entered/left/swapped places between the
      // two doc_id-parity halves (the deterministic stand-in for two
      // crawl snapshots): the ranked-list drift next to g_drift_*'s
      // histogram drifts
      val docs = t(s, dir, "documents")
      def half(parity: Int) = docs.filter(col("doc_id") % 2 === parity)
        .select(explode(TextAnalysis.toks(col("text"))).as("token"))
        .filter(col("token") =!= "")
      Drift.rankDrift(half(0), half(1), "token", 20).orderBy("key")
    }),
    // ---------- segment vocabulary Jaccard ----------
    "t_vocab_jaccard" -> ((s, dir) =>
      // segment-granularity near-dup: two feeds with J ~ 1 are the same
      // crawl wearing two names; a J ~ 0 outlier against every sibling is
      // different content. Capped to the 100 most-similar pairs.
      TextAnalysis.segmentVocabJaccard(t(s, dir, "documents"), "source",
          "text")
        .orderBy(col("jaccard").desc, col("seg_a"), col("seg_b"))
        .limit(100)),
    // ---------- split distribution parity ----------
    "p_split_parity" -> ((s, dir) =>
      // did every split inherit the same n_chars distribution? PSI of
      // val/test vs train over the split histogram — catches realized
      // sampling skew and id-value correlation after p_split assigns
      Sampling.splitParity(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          "n_chars", lo = 0.0, hi = 256.0, bins = 8)
        .orderBy("split")),
    // ---------- encoding-anomaly audit ----------
    "t_encoding" -> ((s, dir) =>
      // mojibake audit per feed: U+FFFD tombstones, raw C0 controls,
      // zero-width payload — a feed whose replacement-char share jumps
      // changed its upstream charset
      TextAnalysis.encodingAudit(t(s, dir, "documents"), "source", "text")
        .orderBy("segment")),
    // ---------- unicode script profile ----------
    "t_scripts" -> ((s, dir) =>
      // character mass by script class per feed: the lang-id cross-check
      // that catches misrouted feeds and mixed-script spam
      TextAnalysis.scriptProfile(t(s, dir, "documents"), "source", "text")
        .orderBy("segment")),
    // ---------- lognormal length fit ----------
    "g_length_fit" -> ((s, dir) =>
      // (mu, sigma) of ln(n_chars) per feed: a sigma collapse is
      // templated output, a mu jump is a chunking change — the two-number
      // distribution fingerprint next to g_quantiles' exact percentiles
      Stats.lengthFit(t(s, dir, "documents"), "source", "n_chars")
        .orderBy("segment")),
    // ---------- silent-gap / downtime audit ----------
    "e_gaps" -> ((s, dir) =>
      // per event type: gap count, the largest silent gap with the epoch
      // second it started (ties -> earliest), gaps over 1h — "feed X went
      // dark for 6h starting at T" instead of "the feed looks thin"
      Temporal.gapsAudit(t(s, dir, "events"), "event_type", "ts",
        thresholdS = 3600L).orderBy("segment")),
    // ---------- numeric correlation profile ----------
    "g_corr" -> ((s, dir) =>
      // Pearson r from closed-form moment folds: quantity-price near-1 is
      // expected structure; the self-pair pins the r = 1 end of the scale
      Stats.correlations(t(s, dir, "lineitem"),
          Seq(("l_quantity", "l_extendedprice"),
            ("l_extendedprice", "l_discount"), ("l_tax", "l_tax")))
        .orderBy("col_a", "col_b")),
    // ---------- custom-state streaming (flatMapGroupsWithState) ----------
    "e_stream_state" -> ((s, dir) => {
      // per-user custom state in the STATE STORE (flatMapGroupsWithState —
      // the one stateful tier foreachBatch merges don't exercise): 4
      // mtime-ordered slice files + maxFilesPerTrigger=1 pin the
      // micro-batch order, each batch's emissions are that batch's keys'
      // running (count, max event-time) prefixes, and the oracle replays
      // every per-(user, slice) prefix — the trajectory, not just the end
      // state
      val ev = t(s, dir, "events").filter(col("ts").isNotNull)
      val base = genEventSlicesPath(dir)
      // one partitioned write job emits all four slices (see
      // writeMtimeSlices)
      writeMtimeSlices(s, base,
        ev.withColumn("_sl", pmod(col("event_id"), lit(4L))), "_sl", 4)
      withStreamPartitions(s, inputBytes(s, base)) {
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(base)
        graft.streaming.StreamValidate
          .keyedProfileStream(stream, "user_id", "ts")
      }
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "upd_seq")
    }),
    // ---------- vocabulary novelty per crawl batch ----------
    "t_novelty" -> ((s, dir) =>
      // is the crawl still finding new language? first-seen token types
      // per batch (doc_id % 8 as the deterministic batch key), novel
      // share, cumulative vocabulary
      TextAnalysis.vocabNovelty(t(s, dir, "documents"),
        pmod(col("doc_id"), lit(8L)), "text").orderBy("batch")),
    // ---------- duplicate-scope attribution ----------
    "d_dup_scope" -> ((s, dir) => {
      // are content dups produced INSIDE one ingest batch (writer retry)
      // or across batches (replay/re-crawl)? batch = doc_id % 4, key =
      // the dedup subsystem's normalized content hash over the same
      // 12-char near-boilerplate prefix d_dedup_exact groups on (the
      // corpus has no full-text exact dups — full-text scope attribution
      // would be a vacuous empty==empty check)
      val docs = t(s, dir, "documents")
      Uniqueness.duplicateScope(
        docs.filter(col("text").isNotNull)
          .select(Dedup.contentHash(substring(col("text"), 1, 12))
              .as("content"),
            pmod(col("doc_id"), lit(4L)).as("batch")),
        "content", "batch").orderBy("scope")
    }),
    // ---------- categorical domain drift (enum staleness) ----------
    "v_enum_drift" -> ((s, dir) => {
      // the audit that tells an enum rule it has gone stale: v2 gains
      // 'pt' (doc_id % 41 remap) and loses 'es' entirely — added /
      // removed / kept with corpus-share deltas
      val docs = t(s, dir, "documents")
      val v2 = docs
        .filter(col("lang").isNull || col("lang") =!= "es")
        .withColumn("lang",
          when(pmod(col("doc_id"), lit(41L)) === 0L, lit("pt"))
            .otherwise(col("lang")))
      Drift.domainDrift(docs.select("lang"), v2.select("lang"), "lang")
        .orderBy("value")
    }),
    // ---------- reverse referential integrity (unreferenced assets) ----------
    "g_ref_unused" -> ((s, dir) => {
      // the cost half of referential integrity: catalog entries nothing
      // references — retention/GC candidates (same doc/catalog derivation
      // as g_ref_integrity, opposite join direction)
      val refs = derivedMediaRefs(s, dir)
      val catalog = t(s, dir, "part")
        .filter(pmod(col("p_partkey"), lit(10L)) =!= 3L)
        .select(concat(lit("m-"),
          lpad(pmod(col("p_partkey"), lit(100000000L)).cast("string"),
            8, "0")).as("media_ref"))
      RefIntegrity.unreferencedFromRefs(catalog, refs).orderBy("media_ref")
    }),
    // ---------- fail-fast short-circuit profile ----------
    "v_failfast" -> ((s, dir) => {
      // what does --fail-fast actually save? same rule set as
      // v_rule_coverage in DECLARED order: docs first caught per rank +
      // cumulative short-circuit coverage (impossible_id at rank 3 sweeps
      // everything ranks 1-2 left over)
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "chars_nonneg" -> Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(minimum = Some(0)))))),
        "impossible_id" -> Rule.Check(Keywords(properties = Map(
          "doc_id" -> Rule.Check(Keywords(maximum = Some(-1)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      Validate.failFastProfile(t(s, dir, "documents"), rules)
        .orderBy("rank")
    }),
    // ---------- per-category chi-square drill-down ----------
    "g_drift_cells" -> ((s, dir) => {
      // WHICH value drifted: snapshot v2 corrupts lang to 'xx' at %31 —
      // the xx cell must own the statistic (rank 1); the statistic
      // itself is g_drift_chi2's job, this is the next click
      val docs = t(s, dir, "documents")
      val v2 = docs.withColumn("lang",
        when(pmod(col("doc_id"), lit(31L)) === 0L, lit("xx"))
          .otherwise(col("lang")))
      Drift.chiSquareByCategory(docs, v2, "lang").orderBy("category")
    }),
    // ---------- rule catch-rate stability ----------
    "v_rule_stability" -> ((s, dir) => {
      // systemic vs localized: the always-fires rule and the silent rule
      // pin spread = 0 exactly; the real rules show their natural
      // bucket-to-bucket variation over 4 md5-threshold slices
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "chars_nonneg" -> Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(minimum = Some(0)))))),
        "impossible_id" -> Rule.Check(Keywords(properties = Map(
          "doc_id" -> Rule.Check(Keywords(maximum = Some(-1)))))),
        "src_pattern" -> Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))))
      Validate.ruleStability(t(s, dir, "documents"), rules, "doc_id",
          nBuckets = 4)
        .orderBy("rule")
    }),
    // ---------- composite data-quality score ----------
    "g_dq_score" -> ((s, dir) => {
      // the single number a feed owner is paged on: lang nulled at %23
      // moves completeness (null lang still PASSES the enum rule —
      // absent-passes — so validity decouples), normalized content
      // hashes give uniqueness, equal weights
      val docs = t(s, dir, "documents").withColumn("lang",
        when(pmod(col("doc_id"), lit(23L)) === 0L,
          lit(null).cast("string")).otherwise(col("lang")))
      val rules = Seq(
        "lang_enum" -> Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
        "chars_nonneg" -> Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(minimum = Some(0)))))))
      Validate.dqScore(docs, rules, Seq("doc_id", "lang"), "text",
          Seq("source"))
        .orderBy("source")
    }),
    // ---------- per-partition volume contract ----------
    "v_volume_contract" -> ((s, dir) =>
      // arrived-but-thin SLA: 500 docs over 7 synthetic parts leave four
      // 71-row parts under the declared 72-row floor, three in range
      Validate.volumeContract(
          t(s, dir, "documents")
            .select(pmod(col("doc_id"), lit(7L)).as("pk")),
          "pk", minRows = 72L, maxRows = 200L)
        .orderBy("part_key")),
    // ---------- cross-field consistency audit ----------
    "v_cross_field" -> ((s, dir) => {
      // invariants the keyword grammar can't express (field vs FIELD):
      // n_chars corrupted (+1) at %41 must be caught with the smallest
      // offending id as evidence; the other two invariants stay clean
      // (zero violations, null evidence)
      val docs = t(s, dir, "documents")
        .withColumn("n_chars",
          when(pmod(col("doc_id"), lit(41L)) === 0L, col("n_chars") + 1)
            .otherwise(col("n_chars")))
      Validate.crossFieldAudit(docs, Seq(
          ("chars_match", col("n_chars") === length(col("text"))),
          ("id_nonneg", col("doc_id") >= 0),
          ("text_nonempty", length(col("text")) > 0)), "doc_id")
        .orderBy("invariant")
    }),
    // ---------- cost-aware fail-fast schedule ----------
    "v_rule_schedule" -> ((s, dir) => {
      // which ORDER should --fail-fast try rules in? independent
      // catch-rate per unit declared cost, measured in one aggregation
      // scan: impossible_id (catches all, cheap) ranks first; the silent
      // chars_nonneg ranks last despite being cheapest
      val rules = Seq(
        ("lang_enum", Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))), 1.0),
        ("chars_nonneg", Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(minimum = Some(0)))))), 0.5),
        ("impossible_id", Rule.Check(Keywords(properties = Map(
          "doc_id" -> Rule.Check(Keywords(maximum = Some(-1)))))), 0.5),
        ("src_pattern", Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(
            pattern = Some("^src[0-3]$")))))), 4.0))
      Validate.ruleSchedule(t(s, dir, "documents"), rules)
        .orderBy("rule")
    }),
    // ---------- Mann-Kendall monotonic trend ----------
    "g_trend_mk" -> ((s, dir) => {
      // non-parametric trend of daily event volume per type (exact
      // integer S over pre-aggregated daily counts); the planted _ramp
      // series (v = day rank) pins the 'increasing' end of the scale
      val ev = t(s, dir, "events").filter(col("ts").isNotNull)
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("v"))
      val ramp = daily.select(col("d")).distinct()
        .withColumn("v", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d")))
          .cast("long"))
        .select(lit("_ramp").as("event_type"), col("d"), col("v"))
      Stats.mannKendall(daily.unionByName(ramp), Seq("event_type"),
        "d", "v").orderBy("event_type")
    }),
    // ---------- CUSUM changepoint (level shift) ----------
    "g_changepoint" -> ((s, dir) => {
      // WHEN did the level move (g_trend_mk says whether): integer-exact
      // centered-CUSUM argmax per series; the planted _step series
      // (10 -> 60 after day 15) pins a known split
      val ev = t(s, dir, "events").filter(col("ts").isNotNull)
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("v"))
      val step = daily.select(col("d")).distinct()
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d"))))
        .select(lit("_step").as("event_type"), col("d"),
          when(col("r") <= 15, 10L).otherwise(60L).as("v"))
      Stats.changepoint(daily.unionByName(step), Seq("event_type"),
          "d", "v")
        .select(col("event_type"), col("n_obs"),
          col("split_t").cast("string").as("split_t"), col("g_max"),
          col("mean_before"), col("mean_after"), col("shift"))
        .orderBy("event_type")
    }),
    // ---------- per-segment top-k tokens ----------
    "t_top_seg" -> ((s, dir) =>
      // each language's own dominant vocabulary (the global heavy-hitter
      // list averages per-feed boilerplate away); row_number <= k lowers
      // to WindowGroupLimit
      TextAnalysis.topTokensBySegment(t(s, dir, "documents"), "lang",
        "text", 5).orderBy("segment", "rank")),
    // ---------- sweep-line peak concurrency ----------
    "e_concurrency" -> ((s, dir) =>
      // capacity planning: max simultaneously-active 30-min event
      // intervals per day + the second the peak is first reached
      Temporal.peakConcurrency(t(s, dir, "events"), "ts", 1800L)
        .orderBy("day")),
    // ---------- near-miss reference repair ----------
    "g_ref_suggest" -> ((s, dir) => {
      // triage between "dangling" and "drop the row": catalog keys one
      // edit away from each broken ref (deletion-neighborhood blocking +
      // exact levenshtein residual — never a cross join); the %10==3
      // catalog hole makes every dangling ref a last-digit near-miss of
      // real assets
      val refs = derivedMediaRefs(s, dir)
      val catalog = t(s, dir, "part")
        .filter(pmod(col("p_partkey"), lit(10L)) =!= 3L)
        .select(concat(lit("m-"),
          lpad(pmod(col("p_partkey"), lit(100000000L)).cast("string"),
            8, "0")).as("media_ref"))
      RefIntegrity.nearMissRefs(
          RefIntegrity.danglingRefsFromRefs(refs, catalog), catalog)
        .orderBy("media_ref", "suggestion")
    }),
    // ---------- streaming state EVICTION (event-time timeout) ----------
    "e_stream_evict" -> ((s, dir) => {
      // bounded state at 10^12 keys: keys idle past the watermark expire,
      // emit their episode, and leave the state store. Slices are weekly
      // (time-ordered, not id-mod) and each carries a planted sentinel
      // max (natural max + 2h >> the 30-min timeout), so an episode
      // closes in the FIRST batch its key sits out; AvailableNow's
      // trailing no-data batch flushes the rest — the emission set is ALL
      // (key, consecutive-week-run) episodes, a batch gaps-and-islands
      // pass any engine replays
      val ev = t(s, dir, "events")
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .select(col("user_id"), col("ts"))
      val sl = least(greatest(
        floor(datediff(to_date(col("ts")), to_date(lit("2024-01-01"))) / 7),
        lit(0)), lit(3)).cast("int")
      val withSl = ev.withColumn("_sl", sl)
      val sent = withSl.groupBy(col("_sl"))
        .agg(max(col("ts")).as("mx"))
        .select(lit(-1L).as("user_id"),
          (col("mx") + expr("INTERVAL 2 HOURS")).as("ts"), col("_sl"))
      // sparse CLONE keys (user_id + 1000000, slices 0 and 2 only): at
      // sf0.01 every natural user is active in all 4 weeks, so without
      // them the gate would only ever exercise the trailing flush — the
      // clones sit out batches 1 and 3 and take the REAL hasTimedOut
      // path twice (episodes {0} and {2}, both mid-stream)
      val clones = withSl
        .filter(pmod(col("user_id"), lit(7L)) === 0L
          && (col("_sl") === 0 || col("_sl") === 2))
        .withColumn("user_id", col("user_id") + 1000000L)
      // one pass computes the union + sentinel aggregation AND writes all
      // four slices (see writeMtimeSlices)
      val sliced = withSl.unionByName(clones).unionByName(sent)
      val base = genEvictSlicesPath(dir)
      writeMtimeSlices(s, base, sliced, "_sl", 4)
      withStreamPartitions(s, inputBytes(s, base)) {
        val stream = s.readStream
          .schema(sliced.drop("_sl").schema)
          .option("maxFilesPerTrigger", "1").parquet(base)
        graft.streaming.StreamValidate
          .keyedEvictStream(stream, "user_id", "ts", timeoutMs = 1800000L)
      }
        .filter(col("key") =!= -1L)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "last_us")
    }),
    // ---------- temperature mixing plan ----------
    "p_mixture_temp" -> ((s, dir) =>
      // the standard multilingual-LM sampling knob: share ∝ mass^0.5
      // lifts low-resource languages; sqrt keeps it IEEE-exact
      Mixture.temperaturePlan(t(s, dir, "documents"), "lang", "n_chars",
        alpha = 0.5).orderBy("source")),
    // ---------- real parquet footer audit ----------
    "l_footers" -> ((s, dir) =>
      // footer-only metadata over the ACTUAL table files: row groups are
      // the per-file task ceiling; the oracle reads the same footers with
      // an independent parquet implementation
      Layout.parquetFooterAudit(s, dir).orderBy("file")),
    // ---------- media-asset degree histogram ----------
    "g_ref_degree" -> ((s, dir) => {
      // how many spans share one asset — the degree histogram that
      // prices the broadcast/skew decision for the referential join
      val deg = derivedMediaRefs(s, dir)
        .groupBy(col("media_ref"))
        .agg(count(lit(1)).as("n_spans"))
      deg.groupBy(col("n_spans")).agg(count(lit(1)).as("n_assets"))
        .orderBy("n_spans")
    }),
    // ---------- lag-k autocorrelation ----------
    "e_autocorr" -> ((s, dir) => {
      // periodicity at arbitrary cycles (e_periodicity is hour-of-day
      // only): ACF lags 1..7 of daily volume; the planted _wave series
      // (period 3) pins r(3) >> r(1)
      val ev = t(s, dir, "events").filter(col("ts").isNotNull)
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("d"))
        .agg(count(lit(1)).as("v"))
      val wave = daily.select(col("d")).distinct()
        .withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d"))))
        .select(lit("_wave").as("event_type"), col("d"),
          when(col("r") % 3 === 0, 30L).otherwise(10L).as("v"))
      Temporal.autocorrelation(daily.unionByName(wave),
        Seq("event_type"), "d", "v", maxLag = 7)
        .orderBy("event_type", "lag")
    }),
    // ---------- 3-step ordered funnel ----------
    "e_funnel_steps" -> ((s, dir) => {
      // signup -> first view within 7d -> first purchase within 7d of
      // that view: each stage's users + conversion from the previous
      // stage (e_funnel is the 2-step flat version)
      val ev = t(s, dir, "events").filter(col("ts").isNotNull)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
      val vw = ev.filter(col("event_type") === "view")
        .join(su, Seq("user_id"))
        .filter(col("ts") > col("t0")
          && col("ts") <= col("t0") + expr("INTERVAL 7 DAYS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(vw, Seq("user_id"))
        .filter(col("ts") > col("t1")
          && col("ts") <= col("t1") + expr("INTERVAL 7 DAYS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val steps = su.agg(count(lit(1)).as("users"))
        .select(lit(1).as("step"), lit("signup").as("stage"), col("users"))
        .unionByName(vw.agg(count(lit(1)).as("users"))
          .select(lit(2).as("step"), lit("view").as("stage"), col("users")))
        .unionByName(pu.agg(count(lit(1)).as("users"))
          .select(lit(3).as("step"), lit("purchase").as("stage"),
            col("users")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1)).orderBy(col("step"))
      steps
        .withColumn("_prev", lag(col("users"), 1).over(w))
        .select(col("step"), col("stage"), col("users"),
          when(col("_prev") > 0L,
            round(col("users").cast("double") / col("_prev"), 6))
            .as("conv_from_prev"))
        .orderBy("step")
    }),
    // ---------- top offending values per rule ----------
    "v_offenders" -> ((s, dir) => {
      // the third triage leg: coverage says how often, evidence says
      // which docs, this says which VALUES (an upstream default like
      // 'unknown' is one fix, not 40k bad documents)
      val rules3 = Seq(
        ("lang_enum", Rule.Check(Keywords(properties = Map(
          "lang" -> Rule.Check(Keywords(enum_ = Some(langEnum)))))),
          "lang"),
        ("len_max", Rule.Check(Keywords(properties = Map(
          "n_chars" -> Rule.Check(Keywords(maximum = Some(500)))))),
          "n_chars"),
        ("src_pattern", Rule.Check(Keywords(properties = Map(
          "source" -> Rule.Check(Keywords(pattern = Some("^src[0-3]$")))))),
          "source"))
      Validate.topOffenders(t(s, dir, "documents"), rules3, k = 3)
        .orderBy("rule", "rank")
    }),
    // ---------- blocked fuzzy record linkage ----------
    "d_linkage" -> ((s, dir) => {
      // near-identical 24-char title keys within edit distance 2, found by
      // prefix/suffix blocking + thresholded levenshtein (never the O(n^2)
      // cross join); planted one-substitution twins (doc_id % 97, edit at
      // position 6 so the prefix block still matches) pin recall
      val base = t(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id").as("id"),
          lower(substring(trim(col("text")), 1, 24)).as("name"))
      val twins = base.filter(col("id") % 97 === 0)
        .select((col("id") + 1000000000L).as("id"),
          concat(substring(col("name"), 1, 5), lit("x"),
            substring(col("name"), 7, 18)).as("name"))
      Linkage.fuzzyPairs(base.unionByName(twins), "id", "name",
        maxDist = 2, blockLen = 4, maxBlock = 2000L)
        .orderBy("id_a", "id_b")
    }),
    // ---------- score calibration (reliability bins) ----------
    "g_calibration" -> ((s, dir) => {
      // is the length-based score honest about rule-pass probability? the
      // score enters as integral milli-units, so every bin statistic is a
      // single division of exact long sums (bit-exact cross-engine)
      val d = t(s, dir, "documents").filter(col("n_chars").isNotNull)
      Stats.calibration(d,
        scoreMilli = least(col("n_chars"), lit(1000L)), scale = 1000,
        pass = (col("lang").isNull || col("lang").isin("en", "de", "fr", "es"))
          && (col("source").isNull || col("source").rlike("^src[0-3]$")),
        bins = 10)
    }),
    // ---------- shuffle-skew advisor ----------
    "l_skew" -> ((s, dir) => {
      // measured salt factors for the two groupBy keys a pipeline actually
      // shuffles on; the planted hot user (every 5th event re-keyed to
      // 9999) must be flagged with ceil(rows/500) salts
      val ev = t(s, dir, "events")
      val users = ev.select(col("user_id").cast("string").as("key"))
        .unionByName(ev.filter(col("event_id") % 5 === 0)
          .select(lit("9999").as("key")))
      val byUser = Layout.skewAdvisor(users, Seq("key"),
          targetRowsPerTask = 500L, skewFactor = 2)
        .withColumn("key_col", lit("user_id"))
      val byType = Layout.skewAdvisor(
          ev.select(col("event_type").as("key")), Seq("key"),
          targetRowsPerTask = 500L, skewFactor = 1)
        .withColumn("key_col", lit("event_type"))
      byUser.unionByName(byType)
        .select(col("key_col"), col("key"), col("rows"), col("share"),
          col("salt_factor"))
        .orderBy(col("key_col"), col("rows").desc, col("key"))
    }),
    // ---------- join-explosion pre-flight ----------
    "l_join_explosion" -> ((s, dir) => {
      // predicted output cardinality of the sessionize SELF-join on
      // user_id: per-key n² contributions, hot users flagged by integer
      // cross-multiplication, top-50 by contribution; the planted hot
      // user (every 5th event re-keyed to 9999, same injection as
      // l_skew) contributes quadratically and must be flagged
      val keyed = t(s, dir, "events")
        .select(when(col("event_id") % 5 === 0, lit(9999L))
          .otherwise(col("user_id")).as("user_id"))
      Layout.joinExplosion(keyed, "user_id", keyed, "user_id",
        hotFactor = 4L, topK = 50)
    }),
    // ---------- generated north-rule corpus ----------
    "gen_validate" -> ((s, dir) => {
      // the generated corpus is WRITTEN to parquet first and validated from
      // disk, so the oracle recomputes verdicts over the exact same bytes
      // (the generator feeds every scale claim — it must be oracle-checked,
      // not just rows-counted)
      val docs = DocsGen.docs(s, DocsGen.Knobs(nDocs = 20000, nParts = 16,
        badKindPerMille = 10, badMediaRefPerMille = 10, badOrderPerMille = 10,
        negOffsetPerMille = 5, nullDocIdPerMille = 2, dupPerMille = 5))
      val path = genDocsPath(dir)
      docs.write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .withColumn("violations", SpanInvariant.violationsCol(col("spans")))
        .groupBy(col("part"))
        .agg(count(lit(1)).as("docs"),
          sum(when(size(col("violations")) > 0, 1L).otherwise(0L)).as("failed_docs"))
        .orderBy("part")
    }))

  /** Where gen_validate materializes its generated corpus (shared with the
    * oracle resolver so DuckDB reads the same files).
    */
  def genDocsPath(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gen_docs_${dir.hashCode}"

  /** v_stream_validate's own corpus copy (must not share gen_validate's
    * path: query execution order is map-order-dependent and a shared dir
    * would race the overwrite).
    */
  def genStreamDocsPath(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gen_stream_docs_${dir.hashCode}"

  /** g_stream_drift_inc's mtime-ordered lineitem slice files (own dir —
    * see [[genStreamDocsPath]] on why queries never share one).
    */
  def genDriftSlicesPath(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gen_drift_slices_${dir.hashCode}"

  /** Write `frames(i)` as the single file `slice_<i>.parquet` under
    * `base` with strictly increasing mtimes (60 s apart — oldest-first is
    * the file source's pick order, and the gaps leave no room for
    * clock-granularity ties). ONE definition for every streaming harness
    * that pins micro-batch order (drift / state / evict): the mtime base
    * and spacing must stay in lockstep across them or the pinned batch
    * order the oracles replay silently changes.
    */
  /** Write `df` as `nSlices` mtime-ordered single-file parquet slices
    * (`slice_i.parquet`, strictly increasing mtimes — the file-source
    * micro-batch ordering contract) in ONE Spark job: a dynamic-partition
    * write on the int slice column. `repartition(nSlices, sliceCol)` puts
    * each slice value wholly in one partition, so every partition dir
    * holds exactly one part file, and the upstream (however expensive —
    * unions, aggregations) is computed exactly once — the pre-r6 shape
    * localCheckpoint'd the upstream and ran one filter+coalesce(1) write
    * job PER slice, re-scanning the materialized blocks N times (r6 job
    * profile: 4 × ~0.3 s of cached-block scans per harness). A slice value
    * with zero rows (not seen in practice; slices are derived mods/weeks
    * of non-empty tables) still gets an empty parquet file so the
    * micro-batch COUNT cannot drift with data volume. Null slice values
    * are the caller's bug — filtered here so they can never surface as a
    * spurious 5th file.
    */
  private def writeMtimeSlices(s: SparkSession, base: String, df: DataFrame,
      sliceCol: String, nSlices: Int): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    fs.delete(basePath, true)
    fs.mkdirs(basePath)
    val tmp = new org.apache.hadoop.fs.Path(basePath, "_tmp")
    df.filter(col(sliceCol).isNotNull)
      .withColumn(sliceCol, col(sliceCol).cast("int"))
      .repartition(nSlices, col(sliceCol))
      .write.mode("overwrite").partitionBy(sliceCol).parquet(tmp.toString)
    (0 until nSlices).foreach { i =>
      val dir = new org.apache.hadoop.fs.Path(tmp, s"$sliceCol=$i")
      val dst = new org.apache.hadoop.fs.Path(basePath, s"slice_$i.parquet")
      val part =
        if (fs.exists(dir))
          fs.listStatus(dir).map(_.getPath).find(_.getName.startsWith("part-"))
        else None
      part match {
        case Some(p) => fs.rename(p, dst)
        case None => // empty slice: write a schema-only file to keep the batch count
          val e = new org.apache.hadoop.fs.Path(tmp, s"_empty_$i")
          df.drop(sliceCol).limit(0).coalesce(1)
            .write.mode("overwrite").parquet(e.toString)
          val ep = fs.listStatus(e).map(_.getPath)
            .find(_.getName.startsWith("part-"))
            .getOrElse(throw new IllegalStateException(s"no part file in $e"))
          fs.rename(ep, dst)
      }
      fs.setTimes(dst, 1700000000000L + i * 60000L, -1L)
    }
    fs.delete(tmp, true)
  }

  /** e_stream_state's mtime-ordered event slice files (own dir — see
    * [[genStreamDocsPath]] on why queries never share one).
    */
  def genEventSlicesPath(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gen_event_slices_${dir.hashCode}"

  /** e_stream_evict's weekly slice files (own dir — see
    * [[genStreamDocsPath]] on why queries never share one).
    */
  def genEvictSlicesPath(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gen_evict_slices_${dir.hashCode}"

  /** i_validate's snapshot pair (own paths — see [[genStreamDocsPath]] on
    * why queries never share a materialization dir).
    */
  def genV1Path(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gen_docs_v1_${dir.hashCode}"
  def genV2Path(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_gen_docs_v2_${dir.hashCode}"

  /** IVF BUILD phase: train the quantizer (cached per dir) and write the
    * centroid-partitioned index; returns the index path.
    */
  def ivfBuildIndex(s: SparkSession, dir: String): String = {
    val emb = t(s, dir, "embeddings")
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_ivf_idx_${dir.hashCode}"
    Similarity.ivfWriteIndex(emb.filter(col("vec_id") > 8L), "vec_id", "embedding",
      ivfCentroids(s, dir), idx)
    idx
  }

  /** LSH BUILD phase: write the (tbl, bucket)-partitioned signature index
    * for the embeddings corpus; returns the index path. Plane constants are
    * data-independent, so there is nothing to train — build = one signature
    * scan + partitioned write.
    */
  def lshBuildIndex(s: SparkSession, dir: String): String = {
    val emb = t(s, dir, "embeddings")
    val idx = s"${System.getProperty("java.io.tmpdir")}/graft_lsh_idx_${dir.hashCode}"
    Similarity.lshWriteIndex(emb.filter(col("vec_id") =!= 0L), "vec_id", "embedding",
      dims = 64, idx, nPlanes = 6, nTables = 4)
    idx
  }

  /** LSH PROBE phase: partition-pruned top-k over a built index — reads only
    * the query's 4 bucket partitions, no signature math over the corpus.
    */
  def lshProbe(s: SparkSession, dir: String, idx: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val q: Seq[Float] = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    Similarity.lshTopKIndexed(s, idx, q, k = 50, nPlanes = 6, nTables = 4)
      .select(col("id"), round(col("cosine"), 2).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
  }

  /** IVF PROBE phase: partition-pruned top-k over a built index. */
  def ivfProbe(s: SparkSession, dir: String, idx: String): DataFrame = {
    val q: Seq[Float] = t(s, dir, "embeddings").filter(col("vec_id") === 8L)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    Similarity.ivfTopKIndexed(s, idx, ivfCentroids(s, dir), q, k = 20, nProbe = 2)
      .select(col("id"), round(col("cosine"), 2).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
  }

  /** DuckDB-runnable oracle SQL (ANSI-ish, DuckDB 1.0 dialect) for every
    * SQL-expressible query above. Omitted entries get the driver's weaker
    * rows-only check and are golden-tested in ScalaTest instead.
    */
  def oracleSql: Map[String, String] = Map(
    // verdict rollup cube: GROUP BY ROLLUP with GROUPING() labels — a real
    // NULL dimension value stays distinct from the 'ALL' subtotal marker
    "v_verdict_cube" ->
      """WITH e AS (SELECT lang, source,
        |  (lang IS NULL OR lang IN ('en','de','fr','es')) AS p0,
        |  (n_chars IS NULL OR n_chars <= 500) AS p1,
        |  (source IS NULL OR regexp_matches(source, '^src[0-3]$')) AS p2
        |  FROM documents),
        |r AS (SELECT
        |  CASE WHEN GROUPING(lang) = 1 THEN 'ALL'
        |       ELSE CAST(lang AS VARCHAR) END AS lang,
        |  CASE WHEN GROUPING(source) = 1 THEN 'ALL'
        |       ELSE CAST(source AS VARCHAR) END AS source,
        |  CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN NOT p0 THEN 1 ELSE 0 END) AS BIGINT) AS f0,
        |  CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        |  CAST(sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        |  FROM e GROUP BY ROLLUP(lang, source)),
        |u AS (
        |  SELECT lang, source, 'lang_enum' AS rule, f0 AS failed_docs, docs
        |    FROM r
        |  UNION ALL SELECT lang, source, 'len_max', f1, docs FROM r
        |  UNION ALL SELECT lang, source, 'src_pattern', f2, docs FROM r)
        |SELECT lang, source, rule, failed_docs, docs,
        |  round(CAST(failed_docs AS DOUBLE) / docs, 6) AS fail_rate
        |FROM u ORDER BY lang, source, rule""".stripMargin,
    // Wilson 95% score interval on the sampled failure rate — identical
    // expression tree (parenthesization) to the Spark side so the IEEE
    // doubles match before the round-6
    "v_sample_ci" ->
      """WITH s AS (SELECT * FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN NOT (lang IS NULL
        |    OR lang IN ('en','de','fr','es')) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f0,
        |  CAST(sum(CASE WHEN NOT (source IS NULL
        |    OR regexp_matches(source, '^src[0-3]$')) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS f1
        |  FROM s),
        |r AS (
        |  SELECT 'lang_enum' AS rule, docs, f0 AS failed FROM g
        |  UNION ALL SELECT 'src_pattern', docs, f1 FROM g),
        |w AS (SELECT rule, docs, failed,
        |  CAST(docs AS DOUBLE) AS n,
        |  CAST(failed AS DOUBLE) / CAST(docs AS DOUBLE) AS p
        |  FROM r)
        |SELECT rule, docs AS sample_docs, failed AS failed_docs,
        |  round(p, 6) AS fail_rate,
        |  round(greatest(0.0, (p + 1.96 * 1.96 / (2.0 * n))
        |    / (1.0 + 1.96 * 1.96 / n)
        |    - 1.96 * sqrt(p * (1.0 - p) / n + 1.96 * 1.96 / (4.0 * n * n))
        |      / (1.0 + 1.96 * 1.96 / n)), 6) AS wilson_lo,
        |  round(least(1.0, (p + 1.96 * 1.96 / (2.0 * n))
        |    / (1.0 + 1.96 * 1.96 / n)
        |    + 1.96 * sqrt(p * (1.0 - p) / n + 1.96 * 1.96 / (4.0 * n * n))
        |      / (1.0 + 1.96 * 1.96 / n)), 6) AS wilson_hi
        |FROM w ORDER BY rule""".stripMargin,
    // Cohen's kappa per rule between v1 and the v_verdict_regress v2
    // derivation (null-explicit pass predicates, same as that oracle)
    "v_kappa" ->
      """WITH v AS (SELECT
        |  (lang IS NULL OR lang IN ('en','de','fr','es')) AS lp1,
        |  (CASE WHEN doc_id % 31 = 0 THEN 'xx' ELSE lang END IS NULL
        |   OR CASE WHEN doc_id % 31 = 0 THEN 'xx' ELSE lang END
        |     IN ('en','de','fr','es')) AS lp2,
        |  (n_chars IS NULL OR n_chars <= 500) AS cp1,
        |  (CASE WHEN doc_id % 37 = 0 THEN n_chars + 600 ELSE n_chars END
        |     IS NULL
        |   OR CASE WHEN doc_id % 37 = 0 THEN n_chars + 600 ELSE n_chars END
        |     <= 500) AS cp2,
        |  (source IS NULL OR regexp_matches(source, '^src[0-3]$')) AS sp1,
        |  (CASE WHEN doc_id % 2 = 0 AND NOT (source IS NULL
        |       OR regexp_matches(source, '^src[0-3]$'))
        |     THEN 'src0' ELSE source END IS NULL
        |   OR regexp_matches(CASE WHEN doc_id % 2 = 0 AND NOT (source IS NULL
        |       OR regexp_matches(source, '^src[0-3]$'))
        |     THEN 'src0' ELSE source END, '^src[0-3]$')) AS sp2
        |  FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN lp1 AND lp2 THEN 1 ELSE 0 END) AS BIGINT) AS a0,
        |  CAST(sum(CASE WHEN lp1 AND NOT lp2 THEN 1 ELSE 0 END) AS BIGINT) AS b0,
        |  CAST(sum(CASE WHEN NOT lp1 AND lp2 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
        |  CAST(sum(CASE WHEN NOT lp1 AND NOT lp2 THEN 1 ELSE 0 END) AS BIGINT) AS d0,
        |  CAST(sum(CASE WHEN cp1 AND cp2 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
        |  CAST(sum(CASE WHEN cp1 AND NOT cp2 THEN 1 ELSE 0 END) AS BIGINT) AS b1,
        |  CAST(sum(CASE WHEN NOT cp1 AND cp2 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |  CAST(sum(CASE WHEN NOT cp1 AND NOT cp2 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |  CAST(sum(CASE WHEN sp1 AND sp2 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
        |  CAST(sum(CASE WHEN sp1 AND NOT sp2 THEN 1 ELSE 0 END) AS BIGINT) AS b2,
        |  CAST(sum(CASE WHEN NOT sp1 AND sp2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        |  CAST(sum(CASE WHEN NOT sp1 AND NOT sp2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
        |  FROM v),
        |r AS (
        |  SELECT 'lang_enum' AS rule, n, a0 AS a, b0 AS b, c0 AS c, d0 AS d
        |    FROM g
        |  UNION ALL SELECT 'len_max', n, a1, b1, c1, d1 FROM g
        |  UNION ALL SELECT 'src_pattern', n, a2, b2, c2, d2 FROM g),
        |k AS (SELECT rule, n,
        |  (a + d) / CAST(n AS DOUBLE) AS po,
        |  (a + b) / CAST(n AS DOUBLE) AS m1,
        |  (a + c) / CAST(n AS DOUBLE) AS m2
        |  FROM r),
        |k2 AS (SELECT rule, n, po,
        |  m1 * m2 + (1.0 - m1) * (1.0 - m2) AS pe FROM k)
        |SELECT rule, n AS n_docs, round(po, 6) AS agree_rate,
        |  round(pe, 6) AS chance_agree,
        |  round(CASE WHEN pe = 1.0 THEN NULL
        |    ELSE (po - pe) / (1.0 - pe) END, 6) AS kappa
        |FROM k2 ORDER BY rule""".stripMargin,
    // FD confidence: the g1 error measure — rows kept by the best
    // per-determinant repair over all rows
    "g_fd_confidence" ->
      """WITH p AS (SELECT o_custkey AS det, o_orderpriority AS dep,
        |    count(*) AS cnt
        |  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1, 2),
        |d AS (SELECT det, max(cnt) AS keep, sum(cnt) AS n FROM p GROUP BY det)
        |SELECT CAST(count(*) AS BIGINT) AS n_determinants,
        |  CAST(sum(n) AS BIGINT) AS n_rows,
        |  CAST(sum(n) - sum(keep) AS BIGINT) AS n_violating_rows,
        |  round(CAST(sum(keep) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
        |    AS confidence
        |FROM d""".stripMargin,
    // Gini concentration of char mass across sources: ascending-rank
    // window over the group-sized mass table, ties broken by group key
    "g_gini" ->
      """WITH g AS (SELECT source AS grp, CAST(sum(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY source),
        |r AS (SELECT grp, mass, row_number() OVER (
        |    ORDER BY mass ASC NULLS FIRST, grp ASC NULLS FIRST) AS i FROM g)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(mass) AS BIGINT) AS total_mass,
        |  round(CAST(max(mass) AS DOUBLE) / CAST(sum(mass) AS DOUBLE), 6)
        |    AS top_share,
        |  round(2.0 * sum(CAST(i AS DOUBLE) * mass)
        |      / (CAST(count(*) AS DOUBLE) * CAST(sum(mass) AS DOUBLE))
        |    - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM r""".stripMargin,
    // winsorization: quantile_cont == Spark's exact interpolating
    // percentile; fences round-6 BEFORE comparison on both sides; the
    // clamp mass in integer micro-units so no float-order ambiguity
    "g_winsorize" ->
      """WITH q AS (SELECT lang,
        |    round(quantile_cont(n_chars, 0.01), 6) AS lo_fence,
        |    round(quantile_cont(n_chars, 0.99), 6) AS hi_fence
        |  FROM documents GROUP BY lang)
        |SELECT d.lang AS lang, q.lo_fence, q.hi_fence,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE) < q.lo_fence
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        |  CAST(sum(CASE WHEN CAST(d.n_chars AS DOUBLE) > q.hi_fence
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  CAST(round(sum(least(greatest(CAST(d.n_chars AS DOUBLE),
        |      q.lo_fence), q.hi_fence) - CAST(d.n_chars AS DOUBLE)) * 1e6)
        |    AS BIGINT) AS mass_delta_micro
        |FROM documents d JOIN q ON d.lang IS NOT DISTINCT FROM q.lang
        |GROUP BY d.lang, q.lo_fence, q.hi_fence
        |ORDER BY lang""".stripMargin,
    // completeness by segment: per-(source, column) null counts/rates
    "g_null_by_source" ->
      """WITH d AS (SELECT source,
        |  CASE WHEN doc_id % 19 = 0 THEN NULL ELSE lang END AS lang,
        |  CASE WHEN doc_id % 29 = 0 THEN NULL ELSE text END AS text,
        |  n_chars FROM documents),
        |g AS (SELECT source AS segment, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nl,
        |  CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nt,
        |  CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nc
        |  FROM d GROUP BY source)
        |SELECT segment, 'lang' AS "column", nl AS nulls, n_rows,
        |  round(CAST(nl AS DOUBLE) / n_rows, 6) AS null_rate FROM g
        |UNION ALL SELECT segment, 'text', nt, n_rows,
        |  round(CAST(nt AS DOUBLE) / n_rows, 6) FROM g
        |UNION ALL SELECT segment, 'n_chars', nc, n_rows,
        |  round(CAST(nc AS DOUBLE) / n_rows, 6) FROM g
        |ORDER BY segment, "column"""".stripMargin,
    // MinHash quality: portable md5 signature (slot = lexicographic min
    // of md5(seed || ' ' || word)) vs exact word Jaccard, same pair set
    // and shingle CTE as d_ngram_jaccard
    "d_minhash_quality" ->
      """WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0),
        |sig AS (SELECT doc_id, seed,
        |    min(md5(CAST(seed AS VARCHAR) || ' ' || w)) AS mh
        |  FROM dw CROSS JOIN (SELECT unnest(range(16)) AS seed)
        |  GROUP BY doc_id, seed),
        |est AS (SELECT p.id_a, p.id_b,
        |    sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 16.0 AS est
        |  FROM pairs p JOIN sig sa ON sa.doc_id = p.id_a
        |  JOIN sig sb ON sb.doc_id = p.id_b AND sb.seed = sa.seed
        |  GROUP BY 1, 2),
        |ca AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY 1),
        |inter AS (SELECT p.id_a, p.id_b, count(*) AS i
        |  FROM pairs p JOIN dw x ON x.doc_id = p.id_a
        |  JOIN dw y ON y.doc_id = p.id_b AND y.w = x.w GROUP BY 1, 2)
        |SELECT e.id_a, e.id_b, round(e.est, 4) AS est_jaccard,
        |  round(coalesce(i.i, 0)
        |    / (ca1.n + ca2.n - coalesce(i.i, 0)), 4) AS jaccard,
        |  round(abs(e.est - coalesce(i.i, 0)
        |    / (ca1.n + ca2.n - coalesce(i.i, 0))), 4) AS abs_err
        |FROM est e JOIN ca ca1 ON ca1.doc_id = e.id_a
        |JOIN ca ca2 ON ca2.doc_id = e.id_b
        |LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
        |ORDER BY e.id_a""".stripMargin,
    // cluster purity: same transitive-closure CTE as d_dup_clusters, then
    // dominant-label share (ties -> min label) + distinct-source span
    "d_cluster_purity" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
        |    THEN 0.0 ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) >= 0.5),
        |edges AS (SELECT id_a AS x, id_b AS y FROM prs
        |  UNION SELECT id_b AS x, id_a AS y FROM prs),
        |reach(x, y) AS (
        |  SELECT s.x AS x, s.x AS y FROM (SELECT DISTINCT x FROM edges) s
        |  UNION
        |  SELECT e.x, r.y FROM edges e JOIN reach r ON e.y = r.x),
        |cl AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x),
        |j AS (SELECT c.cluster_id, coalesce(d.lang, '∅') AS label, d.source
        |  FROM cl c JOIN documents d ON d.doc_id = c.doc_id),
        |bl AS (SELECT cluster_id, label, count(*) AS c FROM j GROUP BY 1, 2),
        |r AS (SELECT cluster_id, label, c,
        |    row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY c DESC, label ASC) AS rn,
        |    CAST(sum(c) OVER (PARTITION BY cluster_id) AS BIGINT) AS size,
        |    CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
        |      AS n_labels
        |  FROM bl),
        |srcs AS (SELECT cluster_id,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_segments
        |  FROM j GROUP BY 1)
        |SELECT r.cluster_id, r.size, r.n_labels, r.label AS top_label,
        |  round(CAST(r.c AS DOUBLE) / r.size, 4) AS purity, s.n_segments
        |FROM r JOIN srcs s USING (cluster_id) WHERE rn = 1
        |ORDER BY r.cluster_id""".stripMargin,
    // shingle doc-frequency histogram: same distinct-3-shingle CTE as the
    // boilerplate family, aggregated twice (vocab -> histogram)
    "d_shingle_df" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END) AS shingle
        |  FROM toks),
        |dfq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS doc_freq
        |  FROM sh GROUP BY shingle)
        |SELECT doc_freq, CAST(count(*) AS BIGINT) AS n_shingles
        |FROM dfq GROUP BY doc_freq ORDER BY doc_freq""".stripMargin,
    // dedup ROI by source: d_dedup_keep's cluster + keep-longest window,
    // rolled up to per-source drop counts/shares
    "d_dedup_impact" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |prs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
        |    THEN 0.0 ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) >= 0.5),
        |edges AS (SELECT id_a AS x, id_b AS y FROM prs
        |  UNION SELECT id_b AS x, id_a AS y FROM prs),
        |reach(x, y) AS (
        |  SELECT s.x AS x, s.x AS y FROM (SELECT DISTINCT x FROM edges) s
        |  UNION
        |  SELECT e.x, r.y FROM edges e JOIN reach r ON e.y = r.x),
        |cl AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x),
        |mem AS (SELECT c.doc_id, c.cluster_id, d.n_chars
        |  FROM cl c JOIN documents d ON c.doc_id = d.doc_id),
        |keepers AS (SELECT doc_id, (doc_id = first_value(doc_id) OVER (
        |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id)) AS keep
        |  FROM mem),
        |tok AS (SELECT doc_id, source,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS tk
        |  FROM documents),
        |tot AS (SELECT source AS segment, CAST(count(*) AS BIGINT) AS docs,
        |    CAST(sum(tk) AS BIGINT) AS token_mass
        |  FROM tok GROUP BY source),
        |dr AS (SELECT t2.source AS segment,
        |    CAST(count(*) AS BIGINT) AS dropped_docs,
        |    CAST(sum(t2.tk) AS BIGINT) AS dropped_tokens
        |  FROM keepers k JOIN tok t2 ON t2.doc_id = k.doc_id
        |  WHERE NOT k.keep GROUP BY t2.source)
        |SELECT t.segment, t.docs, t.token_mass,
        |  CAST(coalesce(d.dropped_docs, 0) AS BIGINT) AS dropped_docs,
        |  CAST(coalesce(d.dropped_tokens, 0) AS BIGINT) AS dropped_tokens,
        |  CASE WHEN t.token_mass > 0 THEN
        |    round(CAST(coalesce(d.dropped_tokens, 0) AS DOUBLE)
        |      / t.token_mass, 6) END AS dropped_share
        |FROM tot t LEFT JOIN dr d ON t.segment IS NOT DISTINCT FROM d.segment
        |ORDER BY t.segment""".stripMargin,
    // PMI collocations: same tokenization as t_bpe_pairs; ln on exact
    // count ratios, ordering on the pair text only
    "t_pmi_pairs" ->
      """WITH tk AS (SELECT list_filter(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+'), x -> x <> '') AS t FROM documents),
        |pr AS (SELECT t[i] AS w1, t[i + 1] AS w2
        |  FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) > 1),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_pair
        |  FROM pr GROUP BY w1, w2),
        |un AS (SELECT unnest(t) AS token FROM tk),
        |uc AS (SELECT token, CAST(count(*) AS BIGINT) AS c_tok
        |  FROM un GROUP BY token),
        |tot AS (SELECT CAST(sum(len(t)) AS BIGINT) AS n_tok,
        |    CAST(sum(greatest(len(t) - 1, 0)) AS BIGINT) AS n_pairs FROM tk)
        |SELECT p.w1, p.w2, p.c_pair, a.c_tok AS c_a, b.c_tok AS c_b,
        |  round(ln((CAST(p.c_pair AS DOUBLE) / n_pairs)
        |    / ((CAST(a.c_tok AS DOUBLE) / n_tok)
        |      * (CAST(b.c_tok AS DOUBLE) / n_tok))), 4) AS pmi
        |FROM pc p JOIN uc a ON a.token = p.w1
        |JOIN uc b ON b.token = p.w2, tot
        |WHERE p.c_pair >= 30
        |ORDER BY p.w1, p.w2""".stripMargin,
    // event-type transition matrix: lead over (user, event_id) order,
    // matrix-sized rollup, row-conditional probabilities
    "e_transitions" ->
      """WITH e AS (SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS to_state
        |  FROM events),
        |m AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
        |  FROM e WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY from_state), 6)
        |    AS p
        |FROM m ORDER BY from_state, to_state""".stripMargin,
    // Zipf fit: same tokenization + top-100 head as t_top_tokens, then
    // the closed-form OLS on (ln rank, ln count)
    "t_zipf" ->
      """WITH w AS (SELECT unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+')) AS token FROM documents),
        |c AS (SELECT token, CAST(count(*) AS BIGINT) AS occurrences
        |  FROM w WHERE token <> '' GROUP BY token
        |  ORDER BY occurrences DESC, token LIMIT 100),
        |r AS (SELECT occurrences,
        |    row_number() OVER (ORDER BY occurrences DESC, token) AS rank
        |  FROM c),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_ranks,
        |    sum(ln(CAST(rank AS DOUBLE))) AS sx,
        |    sum(ln(CAST(occurrences AS DOUBLE))) AS sy,
        |    sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(occurrences AS DOUBLE)))
        |      AS sxy,
        |    sum(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))) AS sxx
        |  FROM r)
        |SELECT n_ranks,
        |  CASE WHEN n_ranks * sxx - sx * sx <> 0 THEN
        |    round((n_ranks * sxy - sx * sy) / (n_ranks * sxx - sx * sx), 4)
        |  END AS zipf_slope,
        |  CASE WHEN n_ranks * sxx - sx * sx <> 0 THEN
        |    round((sy - (n_ranks * sxy - sx * sy)
        |      / (n_ranks * sxx - sx * sx) * sx) / n_ranks, 4)
        |  END AS intercept
        |FROM s""".stripMargin,
    // hour-of-day periodicity: counts, shares, chi-square uniformity terms
    "e_periodicity" ->
      """WITH c AS (SELECT CAST(hour(ts) AS INT) AS hour_of_day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
        |    CAST(count(*) AS BIGINT) AS nb FROM c)
        |SELECT hour_of_day, n,
        |  round(n / CAST(tot AS DOUBLE), 6) AS share,
        |  round((n - CAST(tot AS DOUBLE) / nb) * (n - CAST(tot AS DOUBLE) / nb)
        |    / (CAST(tot AS DOUBLE) / nb), 6) AS chi2_term
        |FROM c, t ORDER BY hour_of_day""".stripMargin,
    // burstiness: per-user gap moments in exact integer seconds, then the
    // Goh-Barabasi index; top-50 selection tie-breaks on the key
    "e_burstiness" ->
      """WITH g AS (SELECT user_id AS key,
        |    CAST(floor(epoch_us(ts) / 1000000) AS BIGINT)
        |      - lag(CAST(floor(epoch_us(ts) / 1000000) AS BIGINT))
        |        OVER (PARTITION BY user_id ORDER BY ts) AS gap_s
        |  FROM events WHERE ts IS NOT NULL),
        |m AS (SELECT key, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap_s) AS BIGINT) AS s,
        |    CAST(sum(gap_s * gap_s) AS BIGINT) AS ss
        |  FROM g WHERE gap_s IS NOT NULL GROUP BY key
        |  HAVING count(*) >= 2),
        |f AS (SELECT key, n_gaps, s / CAST(n_gaps AS DOUBLE) AS mean,
        |    sqrt(greatest(ss / CAST(n_gaps AS DOUBLE)
        |      - (s / CAST(n_gaps AS DOUBLE)) * (s / CAST(n_gaps AS DOUBLE)),
        |      0)) AS sd
        |  FROM m)
        |SELECT key, n_gaps, round(mean, 6) AS mean_gap_s,
        |  round(sd, 6) AS sd_gap_s,
        |  CASE WHEN mean > 0 THEN round(sd / mean, 6) END AS cv,
        |  CASE WHEN sd + mean > 0
        |    THEN round((sd - mean) / (sd + mean), 6) END AS burstiness
        |FROM f ORDER BY burstiness DESC NULLS LAST, key
        |LIMIT 50""".stripMargin,
    // vocabulary richness: per-source TTR + hapax share over the shared
    // tokenizer normalization
    "t_vocab_richness" ->
      """WITH w AS (SELECT source AS segment, unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+')) AS token FROM documents),
        |c AS (SELECT segment, token, CAST(count(*) AS BIGINT) AS c
        |  FROM w WHERE token <> '' GROUP BY 1, 2)
        |SELECT segment, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  round(count(*) / CAST(sum(c) AS DOUBLE), 6) AS ttr,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS hapax_share
        |FROM c GROUP BY segment ORDER BY segment""".stripMargin,
    // Theil's U: directional association from one contingency table via
    // H(a|b) = H(a,b) - H(b); u computed from UNROUNDED entropies
    "g_theils_u" ->
      """WITH c AS (SELECT coalesce(CAST(lang AS VARCHAR), '<null>') AS va,
        |    coalesce(CAST(source AS VARCHAR), '<null>') AS vb,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |hab AS (SELECT log2(CAST(sum(o) AS DOUBLE))
        |    - sum(o * log2(CAST(o AS DOUBLE))) / sum(o) AS h_ab FROM c),
        |ha AS (SELECT log2(CAST(sum(c2) AS DOUBLE))
        |    - sum(c2 * log2(CAST(c2 AS DOUBLE))) / sum(c2) AS h_a
        |  FROM (SELECT CAST(sum(o) AS BIGINT) AS c2 FROM c GROUP BY va)),
        |hb AS (SELECT log2(CAST(sum(c2) AS DOUBLE))
        |    - sum(c2 * log2(CAST(c2 AS DOUBLE))) / sum(c2) AS h_b
        |  FROM (SELECT CAST(sum(o) AS BIGINT) AS c2 FROM c GROUP BY vb)),
        |cc AS (SELECT coalesce(CAST(lang AS VARCHAR), '<null>') AS va,
        |    coalesce(CAST(lang AS VARCHAR), '<null>') AS vb,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |hab2 AS (SELECT log2(CAST(sum(o) AS DOUBLE))
        |    - sum(o * log2(CAST(o AS DOUBLE))) / sum(o) AS h_ab FROM cc),
        |ha2 AS (SELECT log2(CAST(sum(c2) AS DOUBLE))
        |    - sum(c2 * log2(CAST(c2 AS DOUBLE))) / sum(c2) AS h_a
        |  FROM (SELECT CAST(sum(o) AS BIGINT) AS c2 FROM cc GROUP BY va)),
        |hb2 AS (SELECT log2(CAST(sum(c2) AS DOUBLE))
        |    - sum(c2 * log2(CAST(c2 AS DOUBLE))) / sum(c2) AS h_b
        |  FROM (SELECT CAST(sum(o) AS BIGINT) AS c2 FROM cc GROUP BY vb))
        |SELECT 'lang' AS col_a, 'source' AS col_b,
        |  round(h_a, 6) AS h_a, round(h_b, 6) AS h_b,
        |  round(h_ab, 6) AS h_ab,
        |  CASE WHEN h_a > 0
        |    THEN round((h_a - (h_ab - h_b)) / h_a, 6) END AS u_a_given_b,
        |  CASE WHEN h_b > 0
        |    THEN round((h_b - (h_ab - h_a)) / h_b, 6) END AS u_b_given_a
        |FROM ha, hb, hab
        |UNION ALL
        |SELECT 'lang', 'lang', round(h_a, 6), round(h_b, 6), round(h_ab, 6),
        |  CASE WHEN h_a > 0 THEN round((h_a - (h_ab - h_b)) / h_a, 6) END,
        |  CASE WHEN h_b > 0 THEN round((h_b - (h_ab - h_a)) / h_b, 6) END
        |FROM ha2, hb2, hab2
        |ORDER BY col_a, col_b""".stripMargin,
    // top-k token rank drift between doc_id-parity halves; ranks
    // tie-break on the token so both lists are deterministic
    "t_topk_drift" ->
      """WITH wa AS (SELECT unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+')) AS token FROM documents WHERE doc_id % 2 = 0),
        |ca AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt_a
        |  FROM wa WHERE token <> '' GROUP BY token
        |  ORDER BY cnt_a DESC, token LIMIT 20),
        |ra AS (SELECT token AS key, cnt_a, CAST(row_number()
        |    OVER (ORDER BY cnt_a DESC, token) AS INT) AS rank_a FROM ca),
        |wb AS (SELECT unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+')) AS token FROM documents WHERE doc_id % 2 = 1),
        |cb AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt_b
        |  FROM wb WHERE token <> '' GROUP BY token
        |  ORDER BY cnt_b DESC, token LIMIT 20),
        |rb AS (SELECT token AS key, cnt_b, CAST(row_number()
        |    OVER (ORDER BY cnt_b DESC, token) AS INT) AS rank_b FROM cb)
        |SELECT coalesce(ra.key, rb.key) AS key, rank_a, rank_b,
        |  cnt_a, cnt_b, rank_b - rank_a AS rank_shift,
        |  CASE WHEN rank_a IS NOT NULL AND rank_b IS NOT NULL THEN 'both'
        |       WHEN rank_a IS NOT NULL THEN 'only_a'
        |       ELSE 'only_b' END AS status
        |FROM ra FULL OUTER JOIN rb ON ra.key = rb.key
        |ORDER BY key""".stripMargin,
    // segment vocabulary Jaccard: DISTINCT (segment, token) self-join,
    // most-similar 100 pairs with (seg_a, seg_b) tie-break
    "t_vocab_jaccard" ->
      """WITH w AS (SELECT coalesce(CAST(source AS VARCHAR), '<null>')
        |      AS segment, unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+')) AS token FROM documents),
        |st AS (SELECT DISTINCT segment, token FROM w WHERE token <> ''),
        |sz AS (SELECT segment, CAST(count(*) AS BIGINT) AS types
        |  FROM st GROUP BY segment),
        |i AS (SELECT a.segment AS seg_a, b.segment AS seg_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM st a JOIN st b
        |    ON a.token = b.token AND a.segment < b.segment
        |  GROUP BY 1, 2)
        |SELECT seg_a, seg_b, sa.types AS types_a, sb.types AS types_b,
        |  inter,
        |  round(inter / CAST(sa.types + sb.types - inter AS DOUBLE), 6)
        |    AS jaccard
        |FROM i JOIN sz sa ON i.seg_a = sa.segment
        |  JOIN sz sb ON i.seg_b = sb.segment
        |ORDER BY jaccard DESC, seg_a, seg_b LIMIT 100""".stripMargin,
    // split parity: same md5-threshold split as p_split, PSI of each
    // split vs train over clamped floor buckets (the Drift.psi recipe)
    "p_split_parity" ->
      s"""WITH s AS (SELECT
        |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |           < '${Sampling.thresholdHex(0.8)}' THEN 'train'
        |         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |           < '${Sampling.thresholdHex(0.9)}' THEN 'val'
        |         ELSE 'test' END AS split,
        |    CAST(least(greatest(floor(((CAST(n_chars AS DOUBLE) - 0.0)
        |      / 256.0) * 8), 0.0), 7.0) AS INT) AS bucket
        |  FROM documents WHERE n_chars IS NOT NULL),
        |h AS (SELECT split, bucket, CAST(count(*) AS BIGINT) AS cnt
        |  FROM s GROUP BY 1, 2),
        |grid AS (SELECT sp.split, b.bucket
        |  FROM (VALUES ('train'), ('val'), ('test')) sp(split)
        |  CROSS JOIN (SELECT DISTINCT bucket FROM h) b),
        |cells AS (SELECT g.split, g.bucket, coalesce(h.cnt, 0) AS cnt
        |  FROM grid g LEFT JOIN h
        |    ON g.split = h.split AND g.bucket = h.bucket),
        |tot AS (SELECT split, CAST(sum(cnt) AS BIGINT) AS tot
        |  FROM cells GROUP BY split),
        |base AS (SELECT bucket, cnt AS cb FROM cells
        |  WHERE split = 'train'),
        |bt AS (SELECT CAST(sum(cb) AS BIGINT) AS tb FROM base),
        |x AS (SELECT c.split, c.cnt, t.tot,
        |    b.cb / CAST(bt.tb AS DOUBLE) AS q0
        |  FROM cells c JOIN tot t USING (split)
        |    JOIN base b USING (bucket), bt
        |  WHERE c.split <> 'train')
        |SELECT split, max(tot) AS n,
        |  CASE WHEN max(tot) > 0 AND max(q0) IS NOT NULL THEN
        |    round(sum((greatest(cnt / CAST(tot AS DOUBLE), 0.000001)
        |        - greatest(q0, 0.000001))
        |      * ln(greatest(cnt / CAST(tot AS DOUBLE), 0.000001)
        |        / greatest(q0, 0.000001))), 6) END AS psi
        |FROM x GROUP BY split ORDER BY split""".stripMargin,
    // silent-gap audit: same floored-second ordering as the engine; the
    // argmax tie-breaks (gap desc, start asc)
    "e_gaps" ->
      """WITH e AS (SELECT event_type AS segment,
        |    CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS ep
        |  FROM events WHERE ts IS NOT NULL),
        |g AS (SELECT segment,
        |    ep - lag(ep) OVER (PARTITION BY segment ORDER BY ep) AS gap_s,
        |    lag(ep) OVER (PARTITION BY segment ORDER BY ep) AS start_s
        |  FROM e),
        |f AS (SELECT * FROM g WHERE gap_s IS NOT NULL),
        |agg AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(CASE WHEN gap_s > 3600 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_over
        |  FROM f GROUP BY segment),
        |mx AS (SELECT segment, CAST(gap_s AS BIGINT) AS max_gap_s,
        |    CAST(start_s AS BIGINT) AS max_gap_start_s
        |  FROM (SELECT segment, gap_s, start_s, row_number()
        |      OVER (PARTITION BY segment ORDER BY gap_s DESC, start_s ASC)
        |      AS rn FROM f)
        |  WHERE rn = 1)
        |SELECT a.segment, a.n_gaps, m.max_gap_s, m.max_gap_start_s,
        |  a.n_over
        |FROM agg a JOIN mx m ON a.segment IS NOT DISTINCT FROM m.segment
        |ORDER BY a.segment""".stripMargin,
    // Pearson r from the same closed-form moment folds; self-pair pins 1
    "g_corr" ->
      """WITH q AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
        |    sum(y * y) AS syy
        |  FROM (SELECT CAST(l_quantity AS DOUBLE) AS x,
        |      CAST(l_extendedprice AS DOUBLE) AS y FROM lineitem
        |    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
        |    sum(y * y) AS syy
        |  FROM (SELECT CAST(l_extendedprice AS DOUBLE) AS x,
        |      CAST(l_discount AS DOUBLE) AS y FROM lineitem
        |    WHERE l_extendedprice IS NOT NULL AND l_discount IS NOT NULL)),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
        |    sum(y * y) AS syy
        |  FROM (SELECT CAST(l_tax AS DOUBLE) AS x,
        |      CAST(l_tax AS DOUBLE) AS y FROM lineitem
        |    WHERE l_tax IS NOT NULL))
        |SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |      AND n * syy - sy * sy > 0 THEN
        |    round((n * sxy - sx * sy)
        |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |  END AS pearson_r FROM q
        |UNION ALL
        |SELECT 'l_extendedprice', 'l_discount', n,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |      AND n * syy - sy * sy > 0 THEN
        |    round((n * sxy - sx * sy)
        |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |  END FROM d
        |UNION ALL
        |SELECT 'l_tax', 'l_tax', n,
        |  CASE WHEN n > 1 AND n * sxx - sx * sx > 0
        |      AND n * syy - sy * sy > 0 THEN
        |    round((n * sxy - sx * sy)
        |      / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |  END FROM t
        |ORDER BY col_a, col_b""".stripMargin,
    // encoding-anomaly audit: exact char counts as length differences
    // under global regexp_replace (RE2 \x{...} codepoint escapes)
    "t_encoding" ->
      """WITH d AS (SELECT source AS segment, length(text) AS ch,
        |    length(text) - length(regexp_replace(text,
        |      '\x{FFFD}', '', 'g')) AS repl,
        |    length(text) - length(regexp_replace(text,
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F]', '', 'g')) AS ctrl,
        |    length(text) - length(regexp_replace(text,
        |      '[\x{200B}\x{200C}\x{200D}\x{FEFF}]', '', 'g')) AS zw
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT segment, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(ch) AS BIGINT) AS chars,
        |  CAST(sum(CASE WHEN repl > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS repl_docs,
        |  CAST(sum(repl) AS BIGINT) AS repl_chars,
        |  CAST(sum(ctrl) AS BIGINT) AS ctrl_chars,
        |  CAST(sum(zw) AS BIGINT) AS zw_chars,
        |  CASE WHEN sum(ch) > 0 THEN
        |    round((sum(repl) + sum(ctrl) + sum(zw)) * 10000.0
        |      / sum(ch), 6) END AS anomaly_per_10k
        |FROM d GROUP BY segment ORDER BY segment""".stripMargin,
    // unicode script profile: same length-difference counting; `other`
    // is the remainder so the columns sum to chars by construction
    "t_scripts" ->
      """WITH d AS (SELECT source AS segment, length(text) AS ch,
        |    length(text) - length(regexp_replace(text,
        |      '\p{Latin}', '', 'g')) AS latin,
        |    length(text) - length(regexp_replace(text,
        |      '[0-9]', '', 'g')) AS digits,
        |    length(text) - length(regexp_replace(text,
        |      '\p{Han}', '', 'g')) AS han,
        |    length(text) - length(regexp_replace(text,
        |      '\p{Cyrillic}', '', 'g')) AS cyrillic,
        |    length(text) - length(regexp_replace(text,
        |      '\p{Arabic}', '', 'g')) AS arabic,
        |    length(text) - length(regexp_replace(text,
        |      '[ \t\n\x0B\f\r]', '', 'g')) AS whitespace
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT segment, CAST(sum(ch) AS BIGINT) AS chars,
        |  CAST(sum(latin) AS BIGINT) AS latin,
        |  CAST(sum(digits) AS BIGINT) AS digits,
        |  CAST(sum(han) AS BIGINT) AS han,
        |  CAST(sum(cyrillic) AS BIGINT) AS cyrillic,
        |  CAST(sum(arabic) AS BIGINT) AS arabic,
        |  CAST(sum(whitespace) AS BIGINT) AS whitespace,
        |  CAST(sum(ch) - sum(latin) - sum(digits) - sum(han)
        |    - sum(cyrillic) - sum(arabic) - sum(whitespace) AS BIGINT)
        |    AS other,
        |  CASE WHEN sum(ch) > 0 THEN
        |    round(sum(latin) / CAST(sum(ch) AS DOUBLE), 6) END
        |    AS latin_share
        |FROM d GROUP BY segment ORDER BY segment""".stripMargin,
    // lognormal length fit: ln-moment sums per segment; exclusions
    // counted, never silent
    "g_length_fit" ->
      """WITH d AS (SELECT source AS segment,
        |    CAST(n_chars AS DOUBLE) AS v FROM documents)
        |SELECT segment,
        |  CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN v <= 0 OR v IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_excluded,
        |  CASE WHEN sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) > 0 THEN
        |    round(sum(CASE WHEN v > 0 THEN ln(v) END)
        |      / sum(CASE WHEN v > 0 THEN 1 ELSE 0 END), 6) END AS mu_ln,
        |  CASE WHEN sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) > 0 THEN
        |    round(sqrt(greatest(
        |      sum(CASE WHEN v > 0 THEN ln(v) * ln(v) END)
        |        / sum(CASE WHEN v > 0 THEN 1 ELSE 0 END)
        |      - (sum(CASE WHEN v > 0 THEN ln(v) END)
        |          / sum(CASE WHEN v > 0 THEN 1 ELSE 0 END))
        |        * (sum(CASE WHEN v > 0 THEN ln(v) END)
        |          / sum(CASE WHEN v > 0 THEN 1 ELSE 0 END)),
        |      0.0)), 6) END AS sigma_ln
        |FROM d GROUP BY segment ORDER BY segment""".stripMargin,
    // packing ROI: pad-alone vs concat-stream waste per capacity; same
    // token count + shard CTE as the p_pack family
    "p_pack_waste" ->
      """WITH d AS (SELECT CAST(doc_id % 8 AS INT) AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n
        |  FROM documents),
        |f AS (SELECT shard, n FROM d WHERE n > 0),
        |s AS (SELECT shard, count(*) AS docs, CAST(sum(n) AS BIGINT) AS mass,
        |    CAST(sum(CAST(ceil(CAST(n AS DOUBLE) / 256) AS BIGINT))
        |      AS BIGINT) AS solo256,
        |    CAST(sum(CAST(ceil(CAST(n AS DOUBLE) / 512) AS BIGINT))
        |      AS BIGINT) AS solo512,
        |    CAST(sum(CAST(ceil(CAST(n AS DOUBLE) / 1024) AS BIGINT))
        |      AS BIGINT) AS solo1024
        |  FROM f GROUP BY shard),
        |g AS (SELECT CAST(sum(docs) AS BIGINT) AS docs,
        |    CAST(sum(mass) AS BIGINT) AS mass,
        |    CAST(sum(solo256) AS BIGINT) AS solo256,
        |    CAST(sum(solo512) AS BIGINT) AS solo512,
        |    CAST(sum(solo1024) AS BIGINT) AS solo1024,
        |    CAST(sum(CAST(ceil(CAST(mass AS DOUBLE) / 256) AS BIGINT))
        |      AS BIGINT) AS bins256,
        |    CAST(sum(CAST(ceil(CAST(mass AS DOUBLE) / 512) AS BIGINT))
        |      AS BIGINT) AS bins512,
        |    CAST(sum(CAST(ceil(CAST(mass AS DOUBLE) / 1024) AS BIGINT))
        |      AS BIGINT) AS bins1024
        |  FROM s)
        |SELECT 256 AS capacity, docs, mass AS token_mass,
        |  solo256 AS solo_seqs, solo256 * 256 AS solo_padded_mass,
        |  round(1.0 - CAST(mass AS DOUBLE) / (solo256 * 256), 6)
        |    AS solo_waste_frac,
        |  bins256 AS packed_bins, bins256 * 256 AS packed_padded_mass,
        |  round(1.0 - CAST(mass AS DOUBLE) / (bins256 * 256), 6)
        |    AS packed_waste_frac FROM g
        |UNION ALL
        |SELECT 512, docs, mass, solo512, solo512 * 512,
        |  round(1.0 - CAST(mass AS DOUBLE) / (solo512 * 512), 6),
        |  bins512, bins512 * 512,
        |  round(1.0 - CAST(mass AS DOUBLE) / (bins512 * 512), 6) FROM g
        |UNION ALL
        |SELECT 1024, docs, mass, solo1024, solo1024 * 1024,
        |  round(1.0 - CAST(mass AS DOUBLE) / (solo1024 * 1024), 6),
        |  bins1024, bins1024 * 1024,
        |  round(1.0 - CAST(mass AS DOUBLE) / (bins1024 * 1024), 6) FROM g
        |ORDER BY capacity""".stripMargin,
    "v_enum" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'lang' AS path, 'enum' AS rule,
        |  'Value "' || lang || '" is not in the enum: ["en", "de", "fr", "es"]' AS message
        |FROM documents WHERE lang NOT IN ('en','de','fr','es')
        |ORDER BY doc_id, path, rule""".stripMargin,
    "v_type_integer" ->
      """WITH q AS (SELECT CAST(l_orderkey*10 + l_linenumber AS VARCHAR) AS doc_id,
        |  l_quantity + CASE WHEN l_orderkey % 7 = 0 THEN 0.5 ELSE 0.0 END AS qty
        |  FROM lineitem)
        |SELECT doc_id, 'type' AS rule,
        |  'Expected an integer, but got: ' || CAST(qty AS VARCHAR) || ' (float)' AS message
        |FROM q WHERE qty != floor(qty) ORDER BY doc_id""".stripMargin,
    "v_minmax" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS doc_id, 'minimum' AS rule,
        |  'Number must be greater than or equal to 5000' AS message
        |FROM orders WHERE o_totalprice < 5000
        |UNION ALL
        |SELECT CAST(o_orderkey AS VARCHAR), 'maximum',
        |  'Number must be less than or equal to 300000'
        |FROM orders WHERE o_totalprice > 300000
        |ORDER BY doc_id, rule""".stripMargin,
    "v_length" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS doc_id, 'minLength' AS rule,
        |  'String is too short! (min length: 12)' AS message
        |FROM customer WHERE length(c_name) < 12
        |UNION ALL
        |SELECT CAST(c_custkey AS VARCHAR), 'maxLength',
        |  'String is too long! (max length: 16)'
        |FROM customer WHERE length(c_name) > 16
        |ORDER BY doc_id, rule""".stripMargin,
    "v_pattern" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'pattern' AS rule,
        |  'String does not match regular expression ^src[0-9]$!' AS message
        |FROM documents WHERE NOT regexp_matches(source, '^src[0-9]$')
        |ORDER BY doc_id""".stripMargin,
    "v_required" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'required' AS rule,
        |  'Required property ''lang2'' is missing!' AS message
        |FROM documents WHERE lang = 'zh' ORDER BY doc_id""".stripMargin,
    "v_format_date" ->
      """WITH d AS (SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
        |  CASE WHEN o_orderkey % 13 = 0
        |       THEN substr(strftime(o_orderdate, '%Y-%m-%d'), 1, 8) || '31'
        |       ELSE strftime(o_orderdate, '%Y-%m-%d') END AS ds FROM orders)
        |SELECT doc_id, 'String "' || ds || '" is not a valid "date"' AS message
        |FROM d WHERE TRY_CAST(ds AS DATE) IS NULL ORDER BY doc_id""".stripMargin,
    "v_one_of" ->
      """WITH m AS (SELECT o_orderkey,
        |  (CASE WHEN o_totalprice <= 100000 THEN 1 ELSE 0 END
        |   + CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS n
        |  FROM orders)
        |SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
        |  CASE WHEN n = 0 THEN 'None of the schemas in `oneOf` matched!'
        |       ELSE 'Value matched multiple schemas in `oneOf`!' END AS message
        |FROM m WHERE n != 1 ORDER BY doc_id""".stripMargin,
    "v_any_of" ->
      """SELECT CAST(l_orderkey*10 + l_linenumber AS VARCHAR) AS doc_id,
        |  'None of the schemas in `anyOf` matched!' AS message
        |FROM lineitem WHERE NOT (l_discount <= 0.02 OR l_tax >= 0.06)
        |ORDER BY doc_id""".stripMargin,
    "v_not" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
        |  'Value matches schema in `not`' AS message
        |FROM orders WHERE o_orderstatus = 'F' ORDER BY doc_id""".stripMargin,
    "v_const" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS doc_id,
        |  'Expected const: "O", but got: "' || o_orderstatus || '"' AS message
        |FROM orders WHERE o_orderstatus != 'O' ORDER BY doc_id""".stripMargin,
    "v_multiple_of" ->
      """SELECT CAST(l_orderkey*10 + l_linenumber AS VARCHAR) AS doc_id,
        |  'Number is not a multiple of 2!' AS message
        |FROM lineitem WHERE l_linenumber % 2 != 0 ORDER BY doc_id""".stripMargin,
    "v_dependent_required" ->
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id, 'dependentRequired' AS rule,
        |  'Required property ''source2'' is missing!' AS message
        |FROM documents WHERE lang != 'zh' AND source = 'src3'
        |ORDER BY doc_id""".stripMargin,
    "v_map_props" ->
      """SELECT * FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
        |    'props.src' || CAST(doc_id % 10 AS VARCHAR) AS path,
        |    'maxLength' AS rule,
        |    'String is too long! (max length: 4)' AS message
        |  FROM documents WHERE length(source) > 4
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'props', 'propertyNames',
        |    'Property name ''Note!'' is not valid!'
        |  FROM documents WHERE doc_id % 11 = 0
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'props', 'minProperties',
        |    'Object has too few properties! Minimum is 3!'
        |  FROM documents WHERE doc_id % 7 != 0 AND doc_id % 11 != 0
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'props', 'maxProperties',
        |    'Object has too many properties! Maximum is 3!'
        |  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 = 0)
        |ORDER BY CAST(doc_id AS BIGINT), path, rule""".stripMargin,
    "v_min_items" ->
      """WITH n AS (SELECT l_orderkey, count(*) AS c FROM lineitem GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS doc_id, 'minItems' AS rule,
        |    'Array has too few items (minimum 3, found ' || c || ')' AS message
        |  FROM n WHERE c < 3
        |  UNION ALL
        |  SELECT CAST(l_orderkey AS VARCHAR), 'maxItems',
        |    'Array has too many items (maximum 6, found ' || c || ')'
        |  FROM n WHERE c > 6)
        |ORDER BY CAST(doc_id AS BIGINT), rule""".stripMargin,
    "v_unique_items" ->
      """WITH s AS (SELECT l_orderkey,
        |  CASE WHEN l_returnflag = 'R' THEN 'media' ELSE 'text' END AS kind,
        |  CASE WHEN l_returnflag = 'R' THEN '' ELSE l_linestatus END AS text,
        |  CASE WHEN l_returnflag = 'R'
        |    THEN 'm-' || lpad(CAST(l_partkey % 100000000 AS VARCHAR), 8, '0')
        |    ELSE '' END AS media_ref,
        |  CASE WHEN l_quantity > 45 THEN 0 ELSE l_linenumber*10 END AS off
        |  FROM lineitem)
        |SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
        |  CAST(count(*) - count(DISTINCT (kind, text, media_ref, off)) AS BIGINT)
        |    AS n_dups,
        |  count(*) = count(DISTINCT (kind, text, media_ref, off)) AS unique_ok
        |FROM s GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "v_contains" ->
      """WITH n AS (SELECT l_orderkey,
        |  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS m
        |  FROM lineitem GROUP BY 1)
        |SELECT * FROM (
        |  SELECT CAST(l_orderkey AS VARCHAR) AS doc_id, 'minContains' AS rule,
        |    'Array must contain at least 1 item(s) matching the contains schema, '
        |      || 'but only ' || m || ' matched' AS message
        |  FROM n WHERE m < 1
        |  UNION ALL
        |  SELECT CAST(l_orderkey AS VARCHAR), 'maxContains',
        |    'Array must contain at most 4 item(s) matching the contains schema, but '
        |      || m || ' matched'
        |  FROM n WHERE m > 4)
        |ORDER BY CAST(doc_id AS BIGINT), rule""".stripMargin,
    "v_span_invariant" ->
      """WITH spans AS (SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity > 45 THEN 0 ELSE l_linenumber*10 END AS off,
        |  l_partkey, l_suppkey, l_quantity, l_extendedprice
        |  FROM lineitem),
        |adj AS (SELECT l_orderkey, off,
        |  lag(off) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey,
        |    l_suppkey, l_quantity, l_extendedprice) AS prev FROM spans)
        |SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
        |  CAST(count(CASE WHEN prev IS NOT NULL AND off <= prev THEN 1 END) AS BIGINT)
        |    AS n_viol,
        |  count(CASE WHEN prev IS NOT NULL AND off <= prev THEN 1 END) = 0 AS pass
        |FROM adj GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    // the synthetic lineitem does NOT have unique l_linenumber per order
    // (unlike real TPC-H) — the derivedDocs sort key (ln, pk, sk, qt, ep)
    // IS total on this data (0 five-key duplicates), so the oracle must
    // order by all five, exactly like v_span_invariant's lag
    "v_span_patterns" ->
      """WITH sp AS (SELECT l_orderkey,
        |    CASE WHEN l_returnflag = 'R' THEN 'm' ELSE 't' END AS k,
        |    l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice
        |  FROM lineitem),
        |pat AS (SELECT l_orderkey,
        |    string_agg(k, '' ORDER BY l_linenumber, l_partkey, l_suppkey,
        |      l_quantity, l_extendedprice) AS pattern,
        |    CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(CASE WHEN k = 'm' THEN 1 ELSE 0 END) AS BIGINT) AS n_media
        |  FROM sp GROUP BY l_orderkey)
        |SELECT pattern, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_spans) AS BIGINT) AS spans_total,
        |  CAST(sum(n_media) AS BIGINT) AS media_total
        |FROM pat GROUP BY pattern ORDER BY pattern""".stripMargin,
    "q_verdicts" ->
      """WITH spans AS (SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity > 45 THEN 0 ELSE l_linenumber*10 END AS off,
        |  l_partkey, l_suppkey, l_quantity, l_extendedprice
        |  FROM lineitem),
        |adj AS (SELECT l_orderkey, off,
        |  lag(off) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey,
        |    l_suppkey, l_quantity, l_extendedprice) AS prev FROM spans),
        |per_doc AS (SELECT l_orderkey,
        |  count(CASE WHEN prev IS NOT NULL AND off <= prev THEN 1 END) AS nv
        |  FROM adj GROUP BY l_orderkey)
        |SELECT CAST(l_orderkey % 8 AS INT) AS part,
        |  CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS failed_docs,
        |  CAST(sum(nv) AS BIGINT) AS violations
        |FROM per_doc GROUP BY 1 ORDER BY part""".stripMargin,
    "g_uniqueness" ->
      """SELECT CAST(o_custkey AS BIGINT) AS key, CAST(count(*) AS BIGINT) AS count
        |FROM orders GROUP BY o_custkey HAVING count(*) > 1 ORDER BY key""".stripMargin,
    "g_ref_integrity" ->
      """WITH refs AS (SELECT l_orderkey,
        |  'm-' || lpad(CAST(l_partkey % 100000000 AS VARCHAR), 8, '0') AS media_ref
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |cat AS (SELECT 'm-' || lpad(CAST(p_partkey % 100000000 AS VARCHAR), 8, '0')
        |  AS media_ref FROM part WHERE p_partkey % 10 != 3)
        |SELECT r.media_ref, CAST(count(*) AS BIGINT) AS n_docs
        |FROM refs r WHERE NOT EXISTS (SELECT 1 FROM cat c WHERE c.media_ref = r.media_ref)
        |GROUP BY r.media_ref ORDER BY r.media_ref""".stripMargin,
    "g_ref_bloom" ->
      """WITH refs AS (SELECT DISTINCT
        |  'm-' || lpad(CAST(l_partkey % 100000000 AS VARCHAR), 8, '0') AS media_ref
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |cat AS (SELECT 'm-' || lpad(CAST(p_partkey % 100000000 AS VARCHAR), 8, '0')
        |  AS media_ref FROM part WHERE p_partkey % 10 != 3)
        |SELECT r.media_ref FROM refs r
        |WHERE NOT EXISTS (SELECT 1 FROM cat c WHERE c.media_ref = r.media_ref)
        |ORDER BY r.media_ref""".stripMargin,
    "s_embed_drift" ->
      """WITH e AS (SELECT vec_id, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |a AS (SELECT CAST(i - 1 AS INT) AS dim,
        |    round(avg(CAST(v AS DOUBLE)), 4) AS mean_a
        |  FROM e WHERE vec_id % 2 = 0 GROUP BY i),
        |b AS (SELECT CAST(i - 1 AS INT) AS dim,
        |    round(avg(CAST(v AS DOUBLE)), 4) AS mean_b
        |  FROM e WHERE vec_id % 2 = 1 GROUP BY i)
        |SELECT a.dim, a.mean_a, b.mean_b,
        |  round(abs(a.mean_a - b.mean_b), 4) AS shift
        |FROM a JOIN b ON a.dim = b.dim ORDER BY a.dim""".stripMargin,
    "t_token_budget" ->
      s"""SELECT lang,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.8)}' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.9)}' THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS tokens
        |FROM documents GROUP BY lang, split ORDER BY lang, split""".stripMargin,
    "r_infer" -> {
      // per-column UNION ALL blocks; conditional rows (required/enum) use
      // aggregate HAVING so presence matches the engine's gates exactly
      def typeRow(c: String) =
        s"""SELECT '$c' AS "column", 'type' AS keyword,
           |  CASE WHEN t IN ('TINYINT','SMALLINT','INTEGER','BIGINT','HUGEINT')
           |         THEN 'integer'
           |       WHEN t IN ('FLOAT','DOUBLE') OR t LIKE 'DECIMAL%' THEN 'number'
           |       WHEN t = 'VARCHAR' THEN 'string'
           |       WHEN t = 'BOOLEAN' THEN 'boolean' END AS value
           |FROM (SELECT typeof($c) AS t FROM documents LIMIT 1)""".stripMargin
      def reqRow(c: String) =
        s"""SELECT '$c', 'required', 'true' FROM documents
           |HAVING count(*) = count($c) AND count(*) > 0""".stripMargin
      def enumRow(c: String) =
        s"""SELECT '$c', 'enum',
           |  '[' || string_agg('"' || v || '"', ', ' ORDER BY v) || ']'
           |FROM (SELECT DISTINCT $c AS v FROM documents WHERE $c IS NOT NULL)
           |HAVING count(*) <= 8 AND count(*) > 0""".stripMargin
      def numRows(c: String) =
        s"""SELECT '$c', 'minimum', CAST(min($c) AS VARCHAR) FROM documents
           |HAVING count($c) > 0
           |UNION ALL
           |SELECT '$c', 'maximum', CAST(max($c) AS VARCHAR) FROM documents
           |HAVING count($c) > 0""".stripMargin
      def lenRows(c: String) =
        s"""SELECT '$c', 'minLength', CAST(min(length($c)) AS VARCHAR) FROM documents
           |HAVING count($c) > 0
           |UNION ALL
           |SELECT '$c', 'maxLength', CAST(max(length($c)) AS VARCHAR) FROM documents
           |HAVING count($c) > 0""".stripMargin
      val ints = Seq("doc_id", "n_chars").map(c =>
        Seq(typeRow(c), reqRow(c), numRows(c)).mkString("\nUNION ALL\n"))
      val strs = Seq("lang", "source", "text").map(c =>
        Seq(typeRow(c), reqRow(c), enumRow(c), lenRows(c)).mkString("\nUNION ALL\n"))
      (ints ++ strs).mkString("", "\nUNION ALL\n",
        "\nORDER BY \"column\", keyword")
    },
    "g_scorecard" ->
      """WITH n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
        |v AS (
        |  SELECT 'lang' AS path, 'enum' AS rule, doc_id FROM documents
        |    WHERE lang NOT IN ('en','de','fr','es')
        |  UNION ALL
        |  SELECT 'text', 'minLength', doc_id FROM documents WHERE length(text) < 120
        |  UNION ALL
        |  SELECT 'n_chars', 'maximum', doc_id FROM documents WHERE n_chars > 500
        |  UNION ALL
        |  SELECT 'source', 'pattern', doc_id FROM documents
        |    WHERE NOT regexp_matches(source, '^src[0-3]$')),
        |g AS (SELECT path, rule, CAST(count(*) AS BIGINT) AS violations,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) AS affected_docs
        |  FROM v GROUP BY path, rule)
        |SELECT g.path, g.rule, g.violations, g.affected_docs,
        |  round(g.affected_docs / n.n, 6) AS doc_rate,
        |  round((g.affected_docs / n.n + (1.96*1.96) / (2.0 * n.n)
        |      - 1.96 * sqrt((g.affected_docs / n.n) * (1.0 - g.affected_docs / n.n) / n.n
        |        + (1.96*1.96) / (4.0 * n.n * n.n)))
        |    / (1.0 + (1.96*1.96) / n.n), 6) AS wilson_low
        |FROM g, n ORDER BY path, rule""".stripMargin,
    // enforce oracles are null-EXPLICIT: the engine treats an absent (null)
    // property as passing, while bare `NOT regexp_matches(NULL,..)` /
    // `NULL NOT IN (..)` yield SQL NULL — the IS NOT NULL guards encode the
    // absent-property-passes contract rather than relying on a null-free fixture
    "v_enforce_metrics" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN lang IS NOT NULL AND lang NOT IN ('en','de','fr','es') THEN 1 ELSE 0 END) AS BIGINT) AS f_lang,
        |  CAST(sum(CASE WHEN n_chars IS NOT NULL AND n_chars > 500 THEN 1 ELSE 0 END) AS BIGINT) AS f_len,
        |  CAST(sum(CASE WHEN source IS NOT NULL AND NOT regexp_matches(source, '^src[0-3]$') THEN 1 ELSE 0 END) AS BIGINT) AS f_src
        |  FROM documents)
        |SELECT 'e_lang' AS expectation, 'quarantine' AS action, f_lang AS failed_docs, docs FROM m
        |UNION ALL SELECT 'e_len', 'quarantine', f_len, docs FROM m
        |UNION ALL SELECT 'e_src', 'drop', f_src, docs FROM m
        |ORDER BY expectation""".stripMargin,
    "v_enforce_kept" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE (lang IS NULL OR lang IN ('en','de','fr','es'))
        |  AND (n_chars IS NULL OR n_chars <= 500)
        |  AND (source IS NULL OR regexp_matches(source, '^src[0-3]$'))
        |ORDER BY doc_id""".stripMargin,
    "v_enforce_quarantine" ->
      """WITH q AS (SELECT doc_id, lang, n_chars, source FROM documents
        |  WHERE (lang IS NOT NULL AND lang NOT IN ('en','de','fr','es'))
        |     OR (n_chars IS NOT NULL AND n_chars > 500))
        |SELECT doc_id, 'e_lang' AS expectation FROM q
        |  WHERE lang IS NOT NULL AND lang NOT IN ('en','de','fr','es')
        |UNION ALL SELECT doc_id, 'e_len' FROM q
        |  WHERE n_chars IS NOT NULL AND n_chars > 500
        |UNION ALL SELECT doc_id, 'e_src' FROM q
        |  WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-3]$')
        |ORDER BY doc_id, expectation""".stripMargin,
    "v_enforce_dropped" ->
      """SELECT doc_id FROM documents
        |WHERE source IS NOT NULL AND NOT regexp_matches(source, '^src[0-3]$')
        |  AND (lang IS NULL OR lang IN ('en','de','fr','es'))
        |  AND (n_chars IS NULL OR n_chars <= 500)
        |ORDER BY doc_id""".stripMargin,
    "v_repair" ->
      """SELECT doc_id,
        |  CASE WHEN lang NOT IN ('en','de','fr','es') THEN 'en' ELSE lang END AS lang,
        |  CAST(CASE WHEN n_chars > 500 THEN 500 ELSE n_chars END AS BIGINT) AS n_chars,
        |  CASE WHEN NOT regexp_matches(source, '^src[0-3]$') THEN 'src0' ELSE source END AS source
        |FROM documents
        |WHERE lang NOT IN ('en','de','fr','es') OR n_chars > 500
        |  OR NOT regexp_matches(source, '^src[0-3]$')
        |ORDER BY doc_id""".stripMargin,
    "v_repair_log" ->
      """SELECT doc_id, 'lang' AS path, 'enum' AS rule, lang AS "old", 'en' AS "new"
        |FROM documents WHERE lang NOT IN ('en','de','fr','es')
        |UNION ALL
        |SELECT doc_id, 'n_chars', 'maximum', CAST(n_chars AS VARCHAR), '500'
        |FROM documents WHERE n_chars > 500
        |UNION ALL
        |SELECT doc_id, 'source', 'pattern', source, 'src0'
        |FROM documents WHERE NOT regexp_matches(source, '^src[0-3]$')
        |ORDER BY doc_id, path, rule""".stripMargin,
    // quarantine -> repair -> re-enforce: the repaired values of exactly
    // the quarantined set (null-explicit per the enforce-oracle contract)
    "v_quarantine_replay" ->
      """WITH q AS (SELECT doc_id, lang, n_chars, source FROM documents
        |  WHERE (lang IS NOT NULL AND lang NOT IN ('en','de','fr','es'))
        |     OR (n_chars IS NOT NULL AND n_chars > 500))
        |SELECT doc_id,
        |  CASE WHEN lang IS NOT NULL AND lang NOT IN ('en','de','fr','es')
        |       THEN 'en' ELSE lang END AS lang,
        |  CAST(CASE WHEN n_chars IS NOT NULL AND n_chars > 500
        |       THEN 500 ELSE n_chars END AS BIGINT) AS n_chars,
        |  CASE WHEN source IS NOT NULL
        |        AND NOT regexp_matches(source, '^src[0-3]$')
        |       THEN 'src0' ELSE source END AS source
        |FROM q ORDER BY doc_id""".stripMargin,
    "g_reconcile" ->
      """WITH base AS (SELECT strftime(o_orderdate, '%Y-%m') AS month, o_orderkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |rep AS (SELECT month, o_orderkey,
        |    CASE WHEN o_orderkey % 101 = 0 THEN cents + 1000
        |         ELSE cents END AS cents
        |  FROM base WHERE o_orderkey % 97 != 0),
        |l AS (SELECT month, CAST(count(*) AS BIGINT) AS rows_left,
        |    CAST(sum(cents) AS BIGINT) AS cents_left FROM base GROUP BY month),
        |r AS (SELECT month, CAST(count(*) AS BIGINT) AS rows_right,
        |    CAST(sum(cents) AS BIGINT) AS cents_right FROM rep GROUP BY month)
        |SELECT COALESCE(l.month, r.month) AS month, rows_left, rows_right,
        |  cents_left, cents_right
        |FROM l FULL OUTER JOIN r ON l.month = r.month
        |WHERE rows_left IS DISTINCT FROM rows_right
        |   OR cents_left IS DISTINCT FROM cents_right
        |ORDER BY month""".stripMargin,
    "g_anomaly" ->
      """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |    CAST(count(*) AS DOUBLE) AS value FROM events GROUP BY 1, 2),
        |pert AS (SELECT event_type, day,
        |    CASE WHEN CAST(substr(day, 9, 2) AS INT) = 15 THEN value * 10.0
        |         ELSE value END AS value FROM daily),
        |med AS (SELECT event_type, median(value) AS med FROM pert GROUP BY 1),
        |mad AS (SELECT p.event_type, median(abs(p.value - m.med)) AS mad
        |  FROM pert p JOIN med m USING (event_type) GROUP BY 1),
        |z AS (SELECT p.event_type, p.day, p.value, m.med, d.mad,
        |    CASE WHEN d.mad = 0 THEN NULL
        |         ELSE (p.value - m.med) / (1.4826 * d.mad) END AS z
        |  FROM pert p JOIN med m USING (event_type) JOIN mad d USING (event_type))
        |SELECT event_type, day, value, z FROM z
        |WHERE CASE WHEN mad = 0 THEN value != med ELSE abs(z) > 3.5 END
        |ORDER BY event_type, day""".stripMargin,
    "g_heavy_hitters" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS cnt
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot, CAST(count(*) AS DOUBLE) AS d FROM c)
        |SELECT c.key, CAST(c.cnt AS BIGINT) AS cnt,
        |  round(c.cnt / (t.tot / t.d), 4) AS skew_ratio,
        |  CAST(greatest(1, ceil(c.cnt / 50.0)) AS BIGINT) AS recommended_salt
        |FROM c, t ORDER BY cnt DESC, key LIMIT 20""".stripMargin,
    "g_completeness" ->
      """WITH ev AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE props END AS props,
        |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END AS user_id
        |  FROM events WHERE ts IS NOT NULL),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(user_id) AS BIGINT) AS cu,
        |    CAST(count(props) AS BIGINT) AS cp
        |  FROM ev GROUP BY day)
        |SELECT day, 'user_id' AS "column", n_rows, n_rows - cu AS n_null,
        |  CAST(n_rows - cu AS DOUBLE) / n_rows AS null_rate FROM d
        |UNION ALL
        |SELECT day, 'props', n_rows, n_rows - cp,
        |  CAST(n_rows - cp AS DOUBLE) / n_rows FROM d
        |ORDER BY day, "column"""".stripMargin,
    "g_stats" ->
      """SELECT
        |  CAST(count(l_quantity) AS BIGINT) AS l_quantity_cnt,
        |  round(min(l_quantity), 4) AS l_quantity_min,
        |  round(max(l_quantity), 4) AS l_quantity_max,
        |  CAST(count(DISTINCT l_quantity) AS BIGINT) AS l_quantity_distinct,
        |  CAST(count(l_extendedprice) AS BIGINT) AS l_extendedprice_cnt,
        |  round(min(l_extendedprice), 4) AS l_extendedprice_min,
        |  round(max(l_extendedprice), 4) AS l_extendedprice_max,
        |  CAST(count(DISTINCT l_extendedprice) AS BIGINT) AS l_extendedprice_distinct,
        |  CAST(count(l_discount) AS BIGINT) AS l_discount_cnt,
        |  round(min(l_discount), 4) AS l_discount_min,
        |  round(max(l_discount), 4) AS l_discount_max,
        |  CAST(count(DISTINCT l_discount) AS BIGINT) AS l_discount_distinct
        |FROM lineitem""".stripMargin,
    // the HLL estimate itself is engine-internal; the query folds it into a
    // 5%-of-exact bound flag the oracle asserts as literal TRUE, so the row
    // is fully hash-checked (exact counts) + value-bounded (estimate)
    "g_stats_hll" ->
      """SELECT 'l_orderkey' AS "column",
        |  CAST(count(l_orderkey) AS BIGINT) AS non_null_count,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
        |  TRUE AS hll_within_5pct FROM lineitem
        |UNION ALL
        |SELECT 'l_partkey', CAST(count(l_partkey) AS BIGINT),
        |  CAST(count(DISTINCT l_partkey) AS BIGINT), TRUE FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', CAST(count(l_returnflag) AS BIGINT),
        |  CAST(count(DISTINCT l_returnflag) AS BIGINT), TRUE FROM lineitem
        |ORDER BY "column"""".stripMargin,
    // merged per-partition sketches == one global profile: exact columns
    // hashed, both merge-quality flags asserted literal TRUE
    "g_stats_merge" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct,
        |  TRUE AS merged_rows_match, TRUE AS merged_hll_within_5pct
        |FROM documents""".stripMargin,
    "g_drift_psi" ->
      """WITH a AS (SELECT CAST(least(greatest(floor(((l_extendedprice - 0.0) / 120000.0)
        |    * 10), 0.0), 9.0) AS INT) AS bucket FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT CAST(least(greatest(floor(((l_extendedprice - 0.0) / 120000.0)
        |    * 10), 0.0), 9.0) AS INT) AS bucket FROM lineitem WHERE l_returnflag = 'N'),
        |ha AS (SELECT bucket, count(*) AS ca FROM a GROUP BY 1),
        |hb AS (SELECT bucket, count(*) AS cb FROM b GROUP BY 1),
        |j AS (SELECT coalesce(ha.ca, 0) AS ca, coalesce(hb.cb, 0) AS cb
        |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |tot AS (SELECT ca, cb, sum(ca) OVER () AS ta, sum(cb) OVER () AS tb FROM j),
        |pq AS (SELECT greatest(ca / ta, 1e-6) AS p, greatest(cb / tb, 1e-6) AS q FROM tot)
        |SELECT round(sum((p - q) * ln(p / q)), 6) AS psi FROM pq""".stripMargin,
    "g_drift_trend" ->
      """WITH base AS (SELECT date_trunc('day', ts) AS d,
        |    CAST(least(greatest(floor(((value - 0.0) / 200.0) * 10), 0.0), 9.0)
        |      AS INT) AS bucket
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |counts AS (SELECT d, bucket, count(*) AS cnt FROM base GROUP BY 1, 2),
        |days AS (SELECT DISTINCT d FROM counts),
        |gb AS (SELECT bucket, sum(cnt) AS g_cnt FROM counts GROUP BY 1),
        |filled AS (SELECT days.d, gb.bucket, gb.g_cnt,
        |    coalesce(counts.cnt, 0) AS cnt
        |  FROM days CROSS JOIN gb
        |  LEFT JOIN counts ON days.d = counts.d AND gb.bucket = counts.bucket),
        |tot AS (SELECT d, cnt, g_cnt,
        |    sum(cnt) OVER (PARTITION BY d) AS dt,
        |    sum(g_cnt) OVER (PARTITION BY d) AS gt
        |  FROM filled),
        |pq AS (SELECT d, greatest(CAST(cnt AS DOUBLE) / dt, 1e-6) AS p,
        |    greatest(CAST(g_cnt AS DOUBLE) / gt, 1e-6) AS q FROM tot)
        |SELECT strftime(d, '%Y-%m-%d') AS day, round(sum((p - q) * ln(p / q)), 6)
        |  AS psi
        |FROM pq GROUP BY d ORDER BY day""".stripMargin,
    "g_drift_ks" ->
      """WITH b AS (SELECT l_returnflag AS f,
        |    CASE WHEN CAST(l_extendedprice AS DOUBLE) > 120000.0 THEN NULL
        |         ELSE least(greatest(CAST(ceil(
        |           (CAST(l_extendedprice AS DOUBLE) - 0.0) / 1200.0) AS INT), 0), 100)
        |    END AS cell
        |  FROM lineitem
        |  WHERE l_returnflag IN ('R', 'N') AND l_extendedprice IS NOT NULL),
        |cnt AS (SELECT cell,
        |    sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS cb
        |  FROM b GROUP BY cell),
        |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cnt),
        |pts AS (SELECT unnest(generate_series(0, 100)) AS i),
        |cum AS (SELECT p.i,
        |    (SELECT coalesce(sum(ca), 0) FROM cnt
        |     WHERE cell IS NOT NULL AND cell <= p.i) AS cca,
        |    (SELECT coalesce(sum(cb), 0) FROM cnt
        |     WHERE cell IS NOT NULL AND cell <= p.i) AS ccb
        |  FROM pts p)
        |SELECT round(max(abs(
        |    CAST(cca AS DOUBLE) / (SELECT na FROM tot)
        |  - CAST(ccb AS DOUBLE) / (SELECT nb FROM tot))), 4) AS ks
        |FROM cum""".stripMargin,
    "g_drift_chi2" ->
      """WITH a AS (SELECT CAST(least(greatest(floor(((l_extendedprice - 0.0) / 120000.0)
        |    * 10), 0.0), 9.0) AS INT) AS bucket FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT CAST(least(greatest(floor(((l_extendedprice - 0.0) / 120000.0)
        |    * 10), 0.0), 9.0) AS INT) AS bucket FROM lineitem WHERE l_returnflag = 'N'),
        |ha AS (SELECT bucket, count(*) AS ca FROM a GROUP BY 1),
        |hb AS (SELECT bucket, count(*) AS cb FROM b GROUP BY 1),
        |j AS (SELECT coalesce(ha.ca, 0) AS ca, coalesce(hb.cb, 0) AS cb
        |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |tot AS (SELECT ca, cb, sum(ca) OVER () AS na, sum(cb) OVER () AS nb FROM j),
        |e AS (SELECT ca, cb, CAST(ca + cb AS DOUBLE) * na / (na + nb) AS ea,
        |             CAST(ca + cb AS DOUBLE) * nb / (na + nb) AS eb FROM tot)
        |SELECT round(sum((ca - ea) * (ca - ea) / ea
        |                + (cb - eb) * (cb - eb) / eb), 4) AS chi2 FROM e""".stripMargin,
    "g_drift_jsd" ->
      """WITH a AS (SELECT CAST(least(greatest(floor(((l_extendedprice - 0.0) / 120000.0)
        |    * 10), 0.0), 9.0) AS INT) AS bucket FROM lineitem WHERE l_returnflag = 'R'),
        |b AS (SELECT CAST(least(greatest(floor(((l_extendedprice - 0.0) / 120000.0)
        |    * 10), 0.0), 9.0) AS INT) AS bucket FROM lineitem WHERE l_returnflag = 'N'),
        |ha AS (SELECT bucket, count(*) AS ca FROM a GROUP BY 1),
        |hb AS (SELECT bucket, count(*) AS cb FROM b GROUP BY 1),
        |j AS (SELECT coalesce(ha.ca, 0) AS ca, coalesce(hb.cb, 0) AS cb
        |      FROM ha FULL OUTER JOIN hb ON ha.bucket = hb.bucket),
        |tot AS (SELECT ca, cb, sum(ca) OVER () AS ta, sum(cb) OVER () AS tb FROM j),
        |pq AS (SELECT ca / ta AS p, cb / tb AS q FROM tot)
        |SELECT round(sum(
        |    CASE WHEN p > 0 THEN p * ln(2 * p / (p + q)) ELSE 0 END
        |  + CASE WHEN q > 0 THEN q * ln(2 * q / (p + q)) ELSE 0 END) / 2, 6) AS jsd
        |FROM pq""".stripMargin,
    "g_drift_emd" ->
      """WITH b AS (SELECT l_returnflag AS f,
        |    CASE WHEN CAST(l_extendedprice AS DOUBLE) > 120000.0 THEN NULL
        |         ELSE least(greatest(CAST(ceil(
        |           (CAST(l_extendedprice AS DOUBLE) - 0.0) / 1200.0) AS INT), 0), 100)
        |    END AS cell
        |  FROM lineitem
        |  WHERE l_returnflag IN ('R', 'N') AND l_extendedprice IS NOT NULL),
        |cnt AS (SELECT cell,
        |    sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS cb
        |  FROM b GROUP BY cell),
        |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb FROM cnt),
        |pts AS (SELECT unnest(generate_series(0, 99)) AS i),
        |cum AS (SELECT p.i,
        |    (SELECT coalesce(sum(ca), 0) FROM cnt
        |     WHERE cell IS NOT NULL AND cell <= p.i) AS cca,
        |    (SELECT coalesce(sum(cb), 0) FROM cnt
        |     WHERE cell IS NOT NULL AND cell <= p.i) AS ccb
        |  FROM pts p),
        |acc AS (SELECT sum(abs(cca * (SELECT nb FROM tot)
        |                     - ccb * (SELECT na FROM tot))) AS s FROM cum)
        |SELECT round(CAST(s AS DOUBLE) * 1200.0
        |  / (CAST((SELECT na FROM tot) AS DOUBLE)
        |   * CAST((SELECT nb FROM tot) AS DOUBLE)), 4) AS emd
        |FROM acc""".stripMargin,
    "g_outlier_docs" ->
      """WITH docs AS (SELECT doc_id, lang,
        |    CASE WHEN doc_id % 97 = 0 THEN n_chars * 20 ELSE n_chars END AS n_obs
        |  FROM documents),
        |med AS (SELECT lang, median(n_obs) AS med FROM docs GROUP BY lang),
        |mad AS (SELECT d.lang, median(abs(d.n_obs - m.med)) AS mad
        |  FROM docs d JOIN med m USING (lang) GROUP BY d.lang)
        |SELECT d.doc_id, d.lang, d.n_obs,
        |  round((d.n_obs - m.med) / (1.4826 * a.mad), 6) AS z
        |FROM docs d JOIN med m USING (lang) JOIN mad a USING (lang)
        |WHERE CASE WHEN a.mad = 0 THEN d.n_obs != m.med
        |       ELSE abs((d.n_obs - m.med) / (1.4826 * a.mad)) > 3.5 END
        |ORDER BY d.doc_id""".stripMargin,
    "d_dedup_minhash" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS i,
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS u
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(CASE WHEN u = 0 THEN 0.0 ELSE i / u END, 4) AS jaccard
        |FROM pairs WHERE (CASE WHEN u = 0 THEN 0.0 ELSE i / u END) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "d_dedup_incr" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS i,
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS u
        |  FROM sh a JOIN sh b ON a.doc_id % 7 = 3 AND b.doc_id % 7 <> 3)
        |SELECT id_a, id_b, round(CASE WHEN u = 0 THEN 0.0 ELSE i / u END, 4) AS jaccard
        |FROM pairs WHERE (CASE WHEN u = 0 THEN 0.0 ELSE i / u END) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    "d_manifest" ->
      s"""WITH c AS (SELECT source AS part, md5($manifestContentSql) AS fp
        |  FROM documents)
        |SELECT part, count(*) AS n_rows, CAST(sum(${hex10ToBigintSql("fp")}) AS BIGINT) AS digest_sum,
        |  min(fp) AS fp_min, max(fp) AS fp_max
        |FROM c GROUP BY part ORDER BY part""".stripMargin,
    "d_manifest_diff" ->
      s"""WITH ca AS (SELECT source AS part, md5($manifestContentSql) AS fp
        |  FROM documents),
        |a AS (SELECT part, count(*) AS rows_a, CAST(sum(${hex10ToBigintSql("fp")}) AS BIGINT) AS dig_a
        |  FROM ca GROUP BY part),
        |cb AS (SELECT source AS part, md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR),
        |    CASE WHEN doc_id % 101 = 7 THEN 'corrupted' ELSE text END,
        |    coalesce(lang, '?'), CAST(n_chars AS VARCHAR))) AS fp
        |  FROM documents WHERE source <> 'src3'),
        |b AS (SELECT part, count(*) AS rows_b, CAST(sum(${hex10ToBigintSql("fp")}) AS BIGINT) AS dig_b
        |  FROM cb GROUP BY part)
        |SELECT coalesce(a.part, b.part) AS part,
        |  CASE WHEN a.part IS NULL THEN 'added'
        |       WHEN b.part IS NULL THEN 'removed' ELSE 'changed' END AS status,
        |  rows_a, rows_b, dig_a, dig_b
        |FROM a FULL OUTER JOIN b ON a.part = b.part
        |WHERE a.part IS NULL OR b.part IS NULL
        |   OR rows_a <> rows_b OR dig_a <> dig_b
        |ORDER BY part""".stripMargin,
    "g_fk_card" ->
      """WITH cnt AS (SELECT o_custkey AS k, count(*) AS n FROM orders GROUP BY 1),
        |p AS (SELECT DISTINCT c_custkey AS key FROM customer)
        |SELECT key, coalesce(n, CAST(0 AS BIGINT)) AS n_children,
        |  CASE WHEN coalesce(n, 0) < 1 THEN 'below_min' ELSE 'above_max' END AS reason
        |FROM p LEFT JOIN cnt ON key = k
        |WHERE coalesce(n, 0) < 1 OR coalesce(n, 0) > 25
        |ORDER BY key""".stripMargin,
    "v_migrate" ->
      """WITH f AS (SELECT
        |  sum(CASE WHEN o_custkey IS NOT NULL
        |      AND TRY_CAST(o_custkey AS INTEGER) IS NULL THEN 1 ELSE 0 END) AS f_cust,
        |  sum(CASE WHEN o_orderstatus IS NOT NULL
        |      AND TRY_CAST(o_orderstatus AS BIGINT) IS NULL THEN 1 ELSE 0 END) AS f_status,
        |  sum(CASE WHEN o_orderdate IS NOT NULL
        |      AND TRY_CAST(o_orderdate AS DATE) IS NULL THEN 1 ELSE 0 END) AS f_date
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'channel' AS "column", 'add' AS action, CAST(0 AS BIGINT) AS cast_failures
        |  UNION ALL SELECT 'o_custkey', 'cast', f_cust FROM f
        |  UNION ALL SELECT 'o_orderdate', 'cast', f_date FROM f
        |  UNION ALL SELECT 'o_orderkey', 'keep', 0
        |  UNION ALL SELECT 'o_orderpriority', 'drop', 0
        |  UNION ALL SELECT 'o_orderstatus', 'cast', f_status FROM f
        |  UNION ALL SELECT 'o_totalprice', 'drop', 0)
        |ORDER BY "column"""".stripMargin,
    "v_migrate_rows" ->
      """SELECT o_orderkey, TRY_CAST(o_custkey AS INTEGER) AS o_custkey,
        |  TRY_CAST(o_orderstatus AS BIGINT) AS o_orderstatus,
        |  strftime(TRY_CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_date,
        |  'web' AS channel
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "p_split_heal" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
        |    THEN 0.0 ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) >= 0.5),
        |edges AS (SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION SELECT id_b AS x, id_a AS y FROM pairs),
        |reach(x, y) AS (
        |  SELECT s.x AS x, s.x AS y FROM (SELECT DISTINCT x FROM edges) s
        |  UNION
        |  SELECT e.x, r.y FROM edges e JOIN reach r ON e.y = r.x),
        |cl AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x)
        |SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.8)}' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.9)}' THEN 'val'
        |       ELSE 'test' END AS split,
        |  CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.8)}' THEN 'train'
        |       WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.9)}' THEN 'val'
        |       ELSE 'test' END AS healed_split
        |FROM cl ORDER BY doc_id""".stripMargin,
    "g_fd" ->
      """SELECT source AS det, CAST(count(DISTINCT lang) AS BIGINT) AS n_values,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM documents WHERE source IS NOT NULL
        |GROUP BY source HAVING count(DISTINCT lang) > 1
        |ORDER BY det""".stripMargin,
    // entropy: NULL is a value; the only floats are one log2 per distinct
    // value, 6dp-rounded per the cross-engine float policy
    "g_entropy" ->
      """WITH c AS (
        |  SELECT 'lang' AS colname, CAST(lang AS VARCHAR) AS value FROM documents
        |  UNION ALL
        |  SELECT 'source', CAST(source AS VARCHAR) FROM documents),
        |g AS (SELECT colname, value, CAST(count(*) AS BIGINT) AS cnt
        |  FROM c GROUP BY 1, 2)
        |SELECT colname AS "column", CAST(sum(cnt) AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(log2(CAST(sum(cnt) AS DOUBLE))
        |    - sum(CAST(cnt AS DOUBLE) * log2(cnt)) / CAST(sum(cnt) AS DOUBLE), 6)
        |    AS entropy_bits,
        |  round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6) AS top_share
        |FROM g GROUP BY 1 ORDER BY "column"""".stripMargin,
    // deterministic shuffle: replay the 40-bit md5 shard coin and the
    // in-shard rank (md5 hex identical in both engines)
    "p_shuffle" ->
      s"""WITH k AS (SELECT doc_id,
        |    md5('r5:' || CAST(doc_id AS VARCHAR)) AS key FROM documents),
        |s AS (SELECT doc_id, key,
        |    ${hex10ToBigintSql("key")} % 8 AS shard FROM k)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY key, doc_id)
        |    AS BIGINT) AS pos
        |FROM s ORDER BY shard, pos""".stripMargin,
    "g_corpus_card" ->
      """WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars_total,
        |    median(n_chars) AS chars_p50
        |  FROM documents GROUP BY source)
        |SELECT source, n_docs, n_langs, chars_total, chars_p50,
        |  round(CAST(n_docs AS DOUBLE) /
        |    (SELECT CAST(sum(n_docs) AS DOUBLE) FROM g), 6) AS doc_share
        |FROM g ORDER BY source""".stripMargin,
    // split shingle-coverage: same hash splits, distinct (split, shingle),
    // coverage of val/test by the train vocabulary
    "p_split_coverage" ->
      s"""WITH sp AS (SELECT doc_id, text,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.8)}' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.9)}' THEN 'val'
        |       ELSE 'test' END AS split FROM documents),
        |toks AS (SELECT split,
        |    string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
        |  FROM sp),
        |shg AS (SELECT DISTINCT split, unnest(CASE WHEN len(t) >= 3
        |    THEN list_distinct(list_transform(generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END) AS sh
        |  FROM toks),
        |sizes AS (SELECT split, CAST(count(*) AS BIGINT) AS n_shingles
        |  FROM shg WHERE split <> 'train' GROUP BY 1),
        |cov AS (SELECT a.split, CAST(count(*) AS BIGINT) AS n_covered
        |  FROM shg a JOIN (SELECT sh FROM shg WHERE split = 'train') b
        |    ON b.sh = a.sh
        |  WHERE a.split <> 'train' GROUP BY 1)
        |SELECT s.split, s.n_shingles,
        |  CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
        |  round(CAST(coalesce(c.n_covered, 0) AS DOUBLE) / s.n_shingles, 6)
        |    AS coverage
        |FROM sizes s LEFT JOIN cov c ON c.split = s.split
        |ORDER BY s.split""".stripMargin,
    "p_split_leak" ->
      s"""WITH toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS i,
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS u
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |nd AS (SELECT id_a, id_b,
        |    round(CASE WHEN u = 0 THEN 0.0 ELSE i / u END, 4) AS jaccard
        |  FROM pairs WHERE (CASE WHEN u = 0 THEN 0.0 ELSE i / u END) >= 0.5),
        |lab AS (SELECT id_a, id_b, jaccard,
        |  CASE WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.8)}' THEN 'train'
        |       WHEN substr(md5(CAST(id_a AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.9)}' THEN 'val'
        |       ELSE 'test' END AS split_a,
        |  CASE WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.8)}' THEN 'train'
        |       WHEN substr(md5(CAST(id_b AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.9)}' THEN 'val'
        |       ELSE 'test' END AS split_b
        |  FROM nd)
        |SELECT * FROM lab WHERE split_a != split_b
        |ORDER BY id_a, id_b""".stripMargin,
    "s_ann_ivf" ->
      """WITH c(cid, cvec) AS (VALUES __IVF_CENTROIDS__),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 8),
        |assigned AS (SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS vec,
        |    (SELECT c.cid FROM c
        |     ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) DESC,
        |       c.cid DESC LIMIT 1) AS centroid
        |  FROM embeddings e WHERE e.vec_id > 8),
        |probe AS (SELECT cid FROM c
        |  ORDER BY list_cosine_similarity(cvec, (SELECT qe FROM q)) DESC, cid LIMIT 2),
        |top AS (SELECT id,
        |    CAST(list_cosine_similarity(vec, (SELECT qe FROM q)) AS DOUBLE) AS cs
        |  FROM assigned WHERE centroid IN (SELECT cid FROM probe)
        |  ORDER BY cs DESC, id LIMIT 20)
        |SELECT id, round(cs, 2) AS cosine FROM top
        |ORDER BY round(cs, 2) DESC, id""".stripMargin,
    "s_label_centroids" ->
      """WITH e AS (SELECT label, unnest(embedding) AS v,
        |    generate_subscripts(embedding, 1) AS i
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT label, CAST(i - 1 AS INT) AS dim,
        |  round(avg(CAST(v AS DOUBLE)), 4) AS centroid,
        |  CAST(count(*) AS BIGINT) AS n_vecs
        |FROM e GROUP BY label, i ORDER BY label, dim""".stripMargin,
    // per-label dispersion: msd = sum of per-dim population variances
    // (per-dim moments rounded before the dim-sum in both engines)
    "s_dispersion" ->
      """WITH e AS (SELECT label, generate_subscripts(embedding, 1) AS i,
        |    CAST(unnest(embedding) AS DOUBLE) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL),
        |d AS (SELECT label, i, CAST(count(*) AS BIGINT) AS n,
        |    round(avg(v*v) - avg(v)*avg(v), 6) AS var_d,
        |    round(avg(v)*avg(v), 6) AS c2_d
        |  FROM e GROUP BY 1, 2)
        |SELECT label, max(n) AS n_vecs, (min(n) <> max(n)) AS ragged,
        |  CASE WHEN min(n) = max(n) THEN round(sum(var_d), 4) END AS msd,
        |  CASE WHEN min(n) = max(n) THEN round(sum(c2_d), 4) END
        |    AS centroid_sq_norm
        |FROM d GROUP BY label ORDER BY label""".stripMargin,
    // exact duplicate vectors: bit-identical list grouping in both engines
    "s_vec_dup" ->
      """WITH corpus AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings
        |  WHERE vec_id % 20 = 0)
        |SELECT min(vec_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM corpus WHERE embedding IS NOT NULL
        |GROUP BY embedding HAVING count(*) > 1 ORDER BY keep_id""".stripMargin,
    "s_cosine_neardup" ->
      """WITH corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, CAST(embedding AS DOUBLE[]) FROM embeddings
        |  WHERE vec_id % 20 = 0),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_cosine_similarity(a.v, b.v) AS DOUBLE) AS cs
        |  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, round(cs, 2) AS cosine FROM p WHERE cs >= 0.9
        |ORDER BY id_a, id_b""".stripMargin,
    "d_dedup_exact" ->
      """SELECT md5(lower(regexp_replace(substr(text, 1, 12), '\s+', ' ', 'g')))
        |  AS fingerprint, CAST(count(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY fingerprint""".stripMargin,
    "d_ngram_jaccard" ->
      """WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 2 = 0),
        |ca AS (SELECT doc_id, count(*) AS n FROM dw GROUP BY 1),
        |inter AS (SELECT p.id_a, p.id_b, count(*) AS i
        |  FROM pairs p JOIN dw x ON x.doc_id = p.id_a
        |  JOIN dw y ON y.doc_id = p.id_b AND y.w = x.w GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b,
        |  round(coalesce(i.i, 0) / (ca1.n + ca2.n - coalesce(i.i, 0)), 4) AS jaccard
        |FROM pairs p
        |JOIN ca ca1 ON ca1.doc_id = p.id_a
        |JOIN ca ca2 ON ca2.doc_id = p.id_b
        |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
        |ORDER BY p.id_a""".stripMargin,
    "s_ann_cosine" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id AS id,
        |  round(CAST(list_cosine_similarity(embedding, (SELECT qe FROM q)) AS DOUBLE), 2)
        |    AS cosine
        |FROM embeddings WHERE vec_id != 0
        |  AND list_cosine_similarity(embedding, (SELECT qe FROM q)) >= 0.25
        |ORDER BY id""".stripMargin,
    // quantized ANN: replay the (already-proven-exact) quantization, score
    // the int vectors in double math — scale invariance makes the ranking
    // agree with the float corpus to within quantization error
    "s_ann_quantized" ->
      """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
        |      FROM embeddings WHERE vec_id = 0),
        |qt AS (SELECT vec_id AS id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE vec_id <> 0),
        |qq AS (SELECT id,
        |    list_transform(v, x -> CASE WHEN scale = 0 THEN 0.0
        |      ELSE floor(x / scale * 127.0 + 0.5) END) AS ql
        |  FROM qt),
        |sc AS (SELECT id,
        |    CAST(list_cosine_similarity(ql, (SELECT qe FROM q)) AS DOUBLE) AS cs
        |  FROM qq)
        |SELECT id, round(cs, 2) AS cosine FROM sc WHERE cs >= 0.25
        |ORDER BY id""".stripMargin,
    "t_lang_id" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g')), '\\s+') AS tk
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("en"))}))) AS h_en,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("de"))}))) AS h_de,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("fr"))}))) AS h_fr,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("es"))}))) AS h_es
        |  FROM toks)
        |SELECT doc_id,
        |  CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        |       WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
        |       WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
        |       WHEN h_en >= h_de THEN 'en'
        |       ELSE 'de' END AS lang_id
        |FROM h ORDER BY doc_id""".stripMargin,
    "t_tokens" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS tokens_ws,
        |  CAST(len(regexp_extract_all(text,
        |    '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'))
        |    AS BIGINT) AS tokens_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t_quality" ->
      s"""WITH c AS (SELECT doc_id, text,
        |  CAST(length(text) AS DOUBLE) AS n,
        |  CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS words,
        |  CAST(len(list_filter(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g')), '\\s+'),
        |    x -> x IN (${sqlList(TextAnalysis.markers.values.flatten.toSeq)})))
        |    AS DOUBLE) AS stop
        |  FROM documents)
        |SELECT doc_id, round(
        |  CAST(CASE WHEN n >= 200 AND n <= 20000 THEN 1.0 WHEN n >= 50 THEN 0.5 ELSE 0.1 END AS DOUBLE)
        |    * 0.25
        |  + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.25
        |  + CAST(CASE WHEN n > 0 AND punct / n <= 0.1 THEN 1.0 ELSE 0.4 END AS DOUBLE) * 0.15
        |  + CAST(CASE WHEN words > 0 AND stop / words >= 0.05 THEN 1.0 ELSE 0.3 END AS DOUBLE) * 0.2
        |  + CAST(CASE WHEN (CASE WHEN words > 0 THEN alpha / words ELSE 0.0 END) >= 3
        |          AND (CASE WHEN words > 0 THEN alpha / words ELSE 0.0 END) <= 12
        |          THEN 1.0 ELSE 0.4 END AS DOUBLE) * 0.15 + 1e-10, 4) AS quality
        |FROM c ORDER BY doc_id""".stripMargin,
    "t_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
        |  AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "e_window_verdicts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS w,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS events,
        |  CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS failed
        |FROM events GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin,
    // the STREAMING replay must land on the identical batch answer — same
    // oracle SQL as e_window_verdicts by construction
    "e_stream_verdicts" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS w,
        |  event_type,
        |  CAST(count(*) AS BIGINT) AS events,
        |  CAST(sum(CASE WHEN value > 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS failed
        |FROM events GROUP BY 1, 2 ORDER BY w, event_type""".stripMargin,
    // streaming session_window sessions: >= gap starts a new session
    // (half-open windows), vs the batch operator's > gap — deliberately
    // encoded here so the boundary contract is oracle-pinned too
    "e_stream_sessions" ->
      """WITH gaps AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events WHERE ts IS NOT NULL),
        |flags AS (SELECT user_id, ts,
        |    CASE WHEN prev IS NULL
        |         OR epoch(ts) - epoch(prev) >= 30 * 60 THEN 1 ELSE 0 END AS is_new
        |  FROM gaps),
        |sess AS (SELECT user_id, ts,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flags)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    // streaming dedup: the surviving row of a tie is engine-internal, the
    // distinct normalized-content set is the contract
    "e_stream_dedup" ->
      """SELECT DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
        |  AS content_hash
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY content_hash""".stripMargin,
    "e_sessions" ->
      """WITH gaps AS (SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events),
        |flags AS (SELECT user_id,
        |    CASE WHEN prev IS NULL
        |         OR epoch(ts) - epoch(prev) > 30 * 60 THEN 1 ELSE 0 END AS is_new
        |  FROM gaps)
        |SELECT user_id, CAST(sum(is_new) AS BIGINT) AS n_sessions,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM flags GROUP BY user_id ORDER BY user_id""".stripMargin,
    // as-of join: DuckDB's NATIVE ASOF LEFT JOIN is the independent oracle
    // (inclusive >= like the engine; right side unique per (user, ts))
    "e_asof" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us,
        |  p.purchase_id AS asof_purchase_id,
        |  p.purchase_value AS asof_purchase_value
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase') p
        |ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    // interval containment replayed as a plain inequality join (DuckDB is
    // free to theta-join at oracle scale; the engine never does)
    "e_range" ->
      """WITH p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS s,
        |    epoch_us(ts) + 7200000000 AS e
        |  FROM events WHERE event_type = 'purchase'),
        |ev AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events)
        |SELECT ev.event_id, p.purchase_id
        |FROM ev JOIN p ON ev.user_id = p.user_id AND ev.t >= p.s AND ev.t < p.e
        |ORDER BY event_id, purchase_id""".stripMargin,
    "e_json_props" ->
      """WITH ev AS (SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS events,
        |  CAST(sum(CASE WHEN k >= 80 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS k_out_of_policy,
        |  min(k) AS k_min, max(k) AS k_max
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin,
    "d_contamination" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pr AS (SELECT doc_id AS probe_id, s AS ps FROM sh
        |  WHERE doc_id % 50 = 0 AND len(s) > 0),
        |pairs AS (SELECT d.doc_id, p.probe_id,
        |    CAST(len(list_intersect(d.s, p.ps)) AS DOUBLE) / len(p.ps) AS c
        |  FROM sh d, pr p WHERE len(list_intersect(d.s, p.ps)) > 0)
        |SELECT doc_id, probe_id, round(c, 4) AS containment
        |FROM pairs WHERE c >= 0.5 ORDER BY doc_id, probe_id""".stripMargin,
    // canonical-URL dedup: the full canonicalization pipeline replayed in
    // DuckDB (fragment, host-case, www, default ports, tracking params,
    // param sort, trailing slash)
    "d_url_dedup" ->
      """WITH raw AS (
        |  SELECT 'https://Site' || CAST(doc_id % 50 AS VARCHAR)
        |    || '.example.org:443/p/' || CAST(doc_id AS VARCHAR)
        |    || '/?utm_source=mail&ref=1' AS url
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'https://site' || CAST(doc_id % 50 AS VARCHAR)
        |    || '.example.org/p/' || CAST(doc_id AS VARCHAR)
        |    || '?ref=1&utm_campaign=x#top'
        |  FROM documents WHERE doc_id % 8 = 0),
        |c1 AS (SELECT url, regexp_replace(url, '#.*', '') AS nf FROM raw),
        |c2 AS (SELECT url,
        |    CASE WHEN strpos(nf, '?') > 0
        |      THEN substr(nf, 1, strpos(nf, '?') - 1) ELSE nf END AS base0,
        |    CASE WHEN strpos(nf, '?') > 0
        |      THEN substr(nf, strpos(nf, '?') + 1) ELSE '' END AS q
        |  FROM c1),
        |c3 AS (SELECT url, q,
        |    lower(regexp_extract(base0, '(?i)^(https?://[^/]*)(.*)$', 1))
        |      || regexp_extract(base0, '(?i)^(https?://[^/]*)(.*)$', 2)
        |      AS b1
        |  FROM c2),
        |c4 AS (SELECT url, q, regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(b1, '^(https?://)www\.', '\1'),
        |    '^(http://[^/:]+):80(/.*)?$', '\1\2'),
        |    '^(https://[^/:]+):443(/.*)?$', '\1\2'),
        |    '/$', '') AS base FROM c3),
        |c5 AS (SELECT url, base, array_to_string(list_sort(list_filter(
        |    string_split(q, '&'), p -> p <> ''
        |      AND NOT p LIKE 'utm\_%' ESCAPE '\'
        |      AND NOT regexp_matches(p, '^(gclid|fbclid)='))), '&')
        |    AS params FROM c4),
        |canon AS (SELECT url, CASE WHEN params = '' THEN base
        |    ELSE base || '?' || params END AS cu FROM c5)
        |SELECT cu AS canonical_url, CAST(count(*) AS BIGINT)
        |    AS n_occurrences,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_variants,
        |  min(url) AS first_raw
        |FROM canon GROUP BY 1 HAVING count(*) > 1
        |ORDER BY canonical_url""".stripMargin,
    // bound suggestions: conditional sums + extremes + CASE suggestions
    "r_bound_suggest" ->
      """WITH g AS (SELECT
        |  CAST(sum(CASE WHEN n_chars > 200.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS a1,
        |  CAST(min(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS mn1,
        |  CAST(max(CAST(n_chars AS DOUBLE)) AS DOUBLE) AS mx1,
        |  CAST(sum(CASE WHEN n_chars < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS b2,
        |  CAST(sum(CASE WHEN doc_id < 100.0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS b3,
        |  CAST(sum(CASE WHEN doc_id > 1e9 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS a3,
        |  CAST(min(CAST(doc_id AS DOUBLE)) AS DOUBLE) AS mn3,
        |  CAST(max(CAST(doc_id AS DOUBLE)) AS DOUBLE) AS mx3
        |  FROM documents)
        |SELECT 'chars_max_200' AS rule, 'n_chars' AS col_name,
        |  CAST(NULL AS DOUBLE) AS declared_min,
        |  CAST(200.0 AS DOUBLE) AS declared_max,
        |  CAST(0 AS BIGINT) AS n_below, a1 AS n_above,
        |  mn1 AS obs_min, mx1 AS obs_max,
        |  CAST(NULL AS DOUBLE) AS suggested_min,
        |  CASE WHEN a1 > 0 THEN mx1 ELSE 200.0 END AS suggested_max
        |FROM g
        |UNION ALL SELECT 'chars_min_0', 'n_chars', CAST(0.0 AS DOUBLE),
        |  NULL, b2, 0, mn1, mx1,
        |  CASE WHEN b2 > 0 THEN mn1 ELSE 0.0 END, NULL FROM g
        |UNION ALL SELECT 'id_floor_100', 'doc_id', CAST(100.0 AS DOUBLE),
        |  CAST(1e9 AS DOUBLE), b3, a3, mn3, mx3,
        |  CASE WHEN b3 > 0 THEN mn3 ELSE 100.0 END,
        |  CASE WHEN a3 > 0 THEN mx3 ELSE 1e9 END FROM g
        |ORDER BY rule""".stripMargin,
    // null-run audit: dual-rank islands replayed per source in id order
    "g_null_runs" ->
      """WITH d AS (SELECT source, doc_id,
        |    CASE WHEN doc_id % 100 < 32 THEN NULL ELSE n_chars END AS v
        |  FROM documents WHERE source IS NOT NULL),
        |r AS (SELECT source, doc_id, v,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM d),
        |n AS (SELECT source, doc_id, rn,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rnn
        |  FROM r WHERE v IS NULL),
        |i AS (SELECT source, rn - rnn AS island,
        |    CAST(count(*) AS BIGINT) AS len, min(doc_id) AS start
        |  FROM n GROUP BY 1, 2)
        |SELECT source AS segment, CAST(count(*) AS BIGINT) AS n_runs,
        |  CAST(sum(len) AS BIGINT) AS n_nulls,
        |  CAST(max(len) AS BIGINT) AS max_run,
        |  CAST(-(max(struct_pack(l := len, ns := -start)).ns) AS BIGINT)
        |    AS max_run_start
        |FROM i GROUP BY source ORDER BY segment""".stripMargin,
    // undeclared-props discovery over the same injected JSON
    "r_schema_gap" ->
      """WITH p0 AS (SELECT event_id,
        |    CASE WHEN event_id % 3 = 0
        |      THEN substr(props, 1, len(props) - 1) || ',"debug":1}'
        |      ELSE props END AS props
        |  FROM events),
        |p1 AS (SELECT CASE WHEN event_id % 5 = 0
        |      THEN substr(props, 1, len(props) - 1) || ',"exp_id":"e7"}'
        |      ELSE props END AS props
        |  FROM p0),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS docs FROM p1
        |  WHERE props IS NOT NULL),
        |k AS (SELECT unnest(json_keys(props)) AS prop FROM p1
        |  WHERE props IS NOT NULL)
        |SELECT prop, CAST(count(*) AS BIGINT) AS n_docs,
        |  round(CAST(count(*) AS DOUBLE) / docs, 6) AS doc_share
        |FROM k, tot WHERE prop <> 'k'
        |GROUP BY prop, docs ORDER BY prop""".stripMargin,
    // bucket planner: ceil by integer DIV, pow2 via binary-string length
    "l_bucket_plan" ->
      """WITH m AS (SELECT CAST(doc_id % 4 AS INT) AS part,
        |    CAST(n_chars AS BIGINT) AS bytes FROM documents),
        |a AS (SELECT part, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(bytes) AS BIGINT) AS total_bytes FROM m GROUP BY 1),
        |b AS (SELECT part, n_files, total_bytes,
        |    CAST((total_bytes + 1999) // 2000 AS BIGINT) AS b0 FROM a),
        |c AS (SELECT part, n_files, total_bytes,
        |    CASE WHEN b0 <= 1 THEN 1
        |      ELSE CAST(pow(2, len(printf('%b', b0 - 1))) AS BIGINT) END
        |      AS buckets
        |  FROM b)
        |SELECT part, n_files, total_bytes, buckets,
        |  CAST(total_bytes // buckets AS BIGINT) AS est_bucket_bytes
        |FROM c ORDER BY part""".stripMargin,
    // LSH banding advisor: closed-form S-curve table, same IEEE pow math
    "d_banding_advisor" ->
      """WITH b AS (SELECT CAST(x AS BIGINT) AS bands,
        |    CAST(32 // x AS BIGINT) AS r
        |  FROM generate_series(1, 32) AS t(x) WHERE 32 % x = 0),
        |s AS (SELECT bands, r AS rows_per_band,
        |    round(pow(1.0 / bands, 1.0 / r), 4) AS knee,
        |    round(1.0 - pow(1.0 - pow(0.6, r), bands), 4) AS p_at_target,
        |    round(1.0 - pow(1.0 - pow(0.4, r), bands), 4)
        |      AS p_below_target,
        |    round(abs(pow(1.0 / bands, 1.0 / r) - 0.6), 4) AS dist
        |  FROM b)
        |SELECT bands, rows_per_band, knee, p_at_target, p_below_target,
        |  (row_number() OVER (ORDER BY dist, bands DESC) = 1)
        |    AS recommended
        |FROM s ORDER BY bands""".stripMargin,
    // dedup threshold sweep: brute-force pairwise jaccard over the
    // truncation-injected corpus, binned into deciles + cumulative
    "d_dup_bands" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000, array_to_string(list_slice(
        |      string_split(text, ' '), 1,
        |      (7 * len(string_split(text, ' '))) // 10), ' ')
        |  FROM documents WHERE doc_id % 13 = 0
        |    AND len(string_split(text, ' ')) >= 20),
        |toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM corpus),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS i,
        |    CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))
        |      AS DOUBLE) AS u
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id),
        |j AS (SELECT id_a, id_b,
        |    CASE WHEN u = 0 THEN 0.0 ELSE i / u END AS jac FROM pairs
        |  WHERE (CASE WHEN u = 0 THEN 0.0 ELSE i / u END) >= 0.5),
        |b AS (SELECT CAST(least(floor(jac * 10), 9) AS INT) AS band,
        |    id_a, id_b FROM j),
        |pb AS (SELECT band, CAST(count(*) AS BIGINT) AS n_pairs
        |  FROM b GROUP BY 1),
        |d AS (SELECT band, CAST(count(DISTINCT id) AS BIGINT) AS n_docs
        |  FROM (SELECT band, id_a AS id FROM b
        |        UNION ALL SELECT band, id_b FROM b) GROUP BY 1)
        |SELECT pb.band, CAST(pb.band AS DOUBLE) / 10 AS band_lo,
        |  pb.n_pairs, d.n_docs,
        |  CAST(sum(pb.n_pairs) OVER (ORDER BY pb.band DESC) AS BIGINT)
        |    AS cum_pairs
        |FROM pb JOIN d ON d.band = pb.band ORDER BY pb.band""".stripMargin,
    // corpus-wide subset-dup pairs over the truncation-injected corpus:
    // inverted shingle index (df <= 100), containment = shared / min size
    "d_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000,
        |    substr(text, 1, CAST(floor(len(text) / 2) AS INT))
        |  FROM documents WHERE doc_id % 23 = 0 AND len(text) >= 64),
        |toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM corpus),
        |shg AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS sh
        |  FROM toks),
        |f AS (SELECT sh, count(*) AS df FROM shg GROUP BY 1),
        |kept AS (SELECT s.doc_id, s.sh, f.df
        |  FROM shg s JOIN f ON f.sh = s.sh WHERE f.df <= 100),
        |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
        |shared AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    count(*) AS c
        |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  WHERE a.df >= 2 AND b.df >= 2 GROUP BY 1, 2)
        |SELECT s.id_a, s.id_b,
        |  round(CAST(s.c AS DOUBLE) / least(na.n, nb.n), 4) AS containment
        |FROM shared s JOIN sizes na ON na.doc_id = s.id_a
        |  JOIN sizes nb ON nb.doc_id = s.id_b
        |WHERE CAST(s.c AS DOUBLE) / least(na.n, nb.n) >= 0.8
        |ORDER BY s.id_a, s.id_b""".stripMargin,
    // deterministic hash sampling: both engines compute md5 of the id and
    // compare the first 8 hex chars against the same literal threshold
    "p_sample" ->
      """SELECT doc_id FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |ORDER BY doc_id""".stripMargin,
    "p_stratified" ->
      s"""SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE WHEN lang = 'en' THEN '19999999'
        |       WHEN lang = 'de' THEN '80000000'
        |       ELSE '${Sampling.thresholdHex(1.0)}' END
        |ORDER BY doc_id""".stripMargin,
    "p_upsample" ->
      s"""WITH w AS (SELECT doc_id,
        |    CASE WHEN lang = 'de' THEN 0 WHEN lang = 'en' THEN 2 ELSE 1 END
        |      + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |          CASE WHEN lang = 'de' THEN '${Sampling.thresholdHex(0.5)}'
        |               WHEN lang = 'en' THEN '${Sampling.thresholdHex(0.25)}'
        |               ELSE '${Sampling.thresholdHex(0.0)}' END
        |        THEN 1 ELSE 0 END AS n
        |  FROM documents)
        |SELECT doc_id, CAST(unnest(generate_series(0, n - 1)) AS INT) AS epoch
        |FROM w WHERE n > 0 ORDER BY doc_id, epoch""".stripMargin,
    // version diff: the oracle rebuilds v2 with the same arithmetic and
    // full-joins — text equality replays the operator's content-hash
    // equality exactly (single non-null string column)
    "d_diff" ->
      """WITH a AS (SELECT doc_id, text FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 41 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 89 = 0)
        |SELECT coalesce(a.doc_id, b.doc_id) AS id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       WHEN a.text <> b.text THEN 'changed' END AS status
        |FROM a FULL JOIN b ON a.doc_id = b.doc_id
        |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.text <> b.text
        |ORDER BY id""".stripMargin,
    // URL injection twin of t_pii: same deterministic append, same
    // RE2-subset regex — counts and domain ranking must agree
    "t_urls" ->
      """WITH aug AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 4 = 0 THEN ' see https://site'
        |       || CAST(doc_id % 50 AS VARCHAR) || '.example.org/p/'
        |       || CAST(doc_id AS VARCHAR) || ' ok' ELSE '' END
        |  || CASE WHEN doc_id % 9 = 0
        |       THEN ' ref http://cdn.example.net:8080/assets/x.js end'
        |       ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id, CAST(len(regexp_extract_all(t,
        |    'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\s]*)?')) AS BIGINT)
        |  AS n_urls
        |FROM aug ORDER BY doc_id""".stripMargin,
    "t_domains" ->
      """WITH aug AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 4 = 0 THEN ' see https://site'
        |       || CAST(doc_id % 50 AS VARCHAR) || '.example.org/p/'
        |       || CAST(doc_id AS VARCHAR) || ' ok' ELSE '' END
        |  || CASE WHEN doc_id % 9 = 0
        |       THEN ' ref http://cdn.example.net:8080/assets/x.js end'
        |       ELSE '' END AS t
        |  FROM documents),
        |u AS (SELECT unnest(regexp_extract_all(t,
        |    'https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\s]*)?')) AS url FROM aug),
        |d AS (SELECT regexp_extract(url, 'https?://([A-Za-z0-9.-]+)', 1)
        |    AS domain FROM u)
        |SELECT domain, CAST(count(*) AS BIGINT) AS occurrences
        |FROM d WHERE domain <> ''
        |GROUP BY domain ORDER BY occurrences DESC, domain LIMIT 20""".stripMargin,
    // split assignment: same md5 hash key, same cumulative thresholds
    "p_split" ->
      s"""SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.8)}' THEN 'train'
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.9)}' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // packing manifest: same whitespace token count, same mod-8 shard, same
    // integer running sum — engine-exact by construction
    "p_pack" ->
      """WITH d AS (SELECT doc_id AS id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS shard
        |  FROM documents),
        |p AS (SELECT shard, id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM d WHERE n_tokens > 0)
        |SELECT shard, id, n_tokens, start_off,
        |  CAST(floor(start_off / 512) AS BIGINT) AS first_bin,
        |  CAST(floor((start_off + n_tokens - 1) / 512)
        |    - floor(start_off / 512) + 1 AS BIGINT) AS n_bins
        |FROM p ORDER BY shard, id""".stripMargin,
    // shard balance: same token formula and mod-8 shard as p_pack,
    // integer bin ceil, ratio vs the busiest shard
    "p_shard_balance" ->
      """WITH d AS (SELECT CAST(doc_id % 8 AS INT) AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS nt
        |  FROM documents),
        |g AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(nt) AS BIGINT) AS tokens FROM d GROUP BY 1)
        |SELECT shard, n_docs, tokens,
        |  CAST((tokens + 511) // 512 AS BIGINT) AS n_bins,
        |  CASE WHEN max(tokens) OVER () > 0 THEN
        |    round(CAST(tokens AS DOUBLE) / max(tokens) OVER (), 6) END
        |    AS load_vs_max
        |FROM g ORDER BY shard""".stripMargin,
    "p_pack_bins" ->
      """WITH d AS (SELECT doc_id AS id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS shard
        |  FROM documents),
        |p AS (SELECT shard, id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM d WHERE n_tokens > 0),
        |m AS (SELECT shard, id, n_tokens, start_off,
        |    CAST(floor(start_off / 512) AS BIGINT) AS first_bin,
        |    CAST(floor((start_off + n_tokens - 1) / 512) AS BIGINT) AS last_bin
        |  FROM p),
        |x AS (SELECT shard, id, n_tokens, start_off,
        |    CAST(unnest(generate_series(first_bin, last_bin)) AS BIGINT) AS bin
        |  FROM m)
        |SELECT shard, bin,
        |  CAST(sum(least(start_off + n_tokens, bin * 512 + 512)
        |    - greatest(start_off, bin * 512)) AS BIGINT) AS fill,
        |  CAST(count(*) AS BIGINT) AS n_docs
        |FROM x GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    // packed-bin materialization: identical manifest CTE, then 1-based
    // inclusive list_slice == Spark's slice(from, len), slices joined in
    // stream order
    "p_pack_texts" ->
      """WITH d AS (SELECT doc_id AS id,
        |    regexp_split_to_array(trim(text), '\s+') AS toks,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS shard
        |  FROM documents),
        |p AS (SELECT shard, id, toks, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS start_off
        |  FROM d WHERE n_tokens > 0),
        |x AS (SELECT shard, toks, n_tokens, start_off,
        |    CAST(unnest(generate_series(CAST(floor(start_off / 512) AS BIGINT),
        |      CAST(floor((start_off + n_tokens - 1) / 512) AS BIGINT)))
        |      AS BIGINT) AS bin
        |  FROM p),
        |sl AS (SELECT shard, bin, start_off,
        |    array_to_string(list_slice(toks,
        |      CAST(greatest(start_off, bin * 512) - start_off + 1 AS INT),
        |      CAST(least(start_off + n_tokens, bin * 512 + 512) - start_off
        |        AS INT)), ' ') AS piece
        |  FROM x)
        |SELECT shard, bin, CAST(count(*) AS BIGINT) AS n_docs,
        |  string_agg(piece, ' ' ORDER BY start_off) AS text
        |FROM sl GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,
    // mixture plan: exact BIGINT masses, rate arithmetic in the same IEEE
    // expression order as the engine; the binding source sits at maxRate
    "p_mixture" ->
      """WITH m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1),
        |t(source, target_w) AS (VALUES ('src0', 0.4), ('src1', 0.35),
        |  ('src2', 0.25)),
        |j AS (SELECT m.source, mass, target_w FROM m JOIN t ON m.source = t.source),
        |tot AS (SELECT min(0.8 * mass / target_w) AS t_mass FROM j)
        |SELECT source, mass, target_w,
        |  round(target_w * t_mass / mass, 6) AS rate,
        |  CAST(floor((target_w * t_mass / mass) * mass) AS BIGINT) AS planned_mass
        |FROM j, tot ORDER BY source""".stripMargin,
    "p_mixture_sample" ->
      s"""WITH m AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1),
        |t(source, target_w) AS (VALUES ('src0', 0.4), ('src1', 0.35),
        |  ('src2', 0.25)),
        |j AS (SELECT m.source, mass, target_w FROM m JOIN t ON m.source = t.source),
        |tot AS (SELECT min(0.8 * mass / target_w) AS t_mass FROM j),
        |r AS (SELECT source, target_w * t_mass / mass AS rate FROM j, tot),
        |c AS (SELECT doc_id, d.source,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h, rate
        |  FROM documents d JOIN r ON d.source = r.source)
        |SELECT doc_id, source FROM c
        |WHERE ${hex8ToBigintSql("h")} < CAST(floor(rate * 4294967296.0) AS BIGINT)
        |ORDER BY doc_id""".stripMargin,
    // int8 quantization: floor(x/scale*127 + 0.5) over exact float->double
    // casts reproduces bit-for-bit in any IEEE engine
    "s_quantize" ->
      """WITH q AS (SELECT vec_id AS id,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
        |      AS scale,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings WHERE embedding IS NOT NULL)
        |SELECT id, scale, CAST(r.range AS INT) AS dim,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |       ELSE floor(v[CAST(r.range AS INT) + 1] / scale * 127.0 + 0.5)
        |       END AS INT) AS q
        |FROM q CROSS JOIN range(0, 64) r
        |ORDER BY id, dim""".stripMargin,
    // the curation oracle composes the ALREADY-PROVEN t_lang_id and
    // t_quality CTEs with the repetition/dedup/sample formulas
    "p_curate" ->
      s"""WITH ltoks AS (SELECT doc_id, string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g')), '\\s+') AS tk
        |  FROM documents),
        |h AS (SELECT doc_id,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("en"))}))) AS h_en,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("de"))}))) AS h_de,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("fr"))}))) AS h_fr,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("es"))}))) AS h_es
        |  FROM ltoks),
        |lang AS (SELECT doc_id,
        |  CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        |       WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
        |       WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
        |       WHEN h_en >= h_de THEN 'en'
        |       ELSE 'de' END AS lang_id
        |  FROM h),
        |qc AS (SELECT doc_id,
        |  CAST(length(text) AS DOUBLE) AS n,
        |  CAST(length(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
        |  CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS punct,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |    ELSE len(string_split_regex(trim(text), '\\s+')) END AS DOUBLE) AS words,
        |  CAST(len(list_filter(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g')), '\\s+'),
        |    x -> x IN (${sqlList(TextAnalysis.markers.values.flatten.toSeq)})))
        |    AS DOUBLE) AS stop
        |  FROM documents),
        |q AS (SELECT doc_id, round(
        |  CAST(CASE WHEN n >= 200 AND n <= 20000 THEN 1.0 WHEN n >= 50 THEN 0.5 ELSE 0.1 END AS DOUBLE)
        |    * 0.25
        |  + (CASE WHEN n > 0 THEN alpha / n ELSE 0.0 END) * 0.25
        |  + CAST(CASE WHEN n > 0 AND punct / n <= 0.1 THEN 1.0 ELSE 0.4 END AS DOUBLE) * 0.15
        |  + CAST(CASE WHEN words > 0 AND stop / words >= 0.05 THEN 1.0 ELSE 0.3 END AS DOUBLE) * 0.2
        |  + CAST(CASE WHEN (CASE WHEN words > 0 THEN alpha / words ELSE 0.0 END) >= 3
        |          AND (CASE WHEN words > 0 THEN alpha / words ELSE 0.0 END) <= 12
        |          THEN 1.0 ELSE 0.4 END AS DOUBLE) * 0.15 + 1e-10, 4) AS quality
        |  FROM qc),
        |rep AS (SELECT doc_id,
        |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS df
        |  FROM (SELECT doc_id,
        |      list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS t
        |    FROM documents) WHERE len(t) > 0),
        |g AS (SELECT d.doc_id, lang.lang_id, q.quality,
        |    md5(lower(regexp_replace(trim(d.text), '\\s+', ' ', 'g'))) AS f
        |  FROM documents d
        |  JOIN lang ON d.doc_id = lang.doc_id
        |  JOIN q ON d.doc_id = q.doc_id
        |  JOIN rep ON d.doc_id = rep.doc_id
        |  WHERE lang.lang_id IN ('en') AND q.quality >= 0.5 AND rep.df >= 0.3),
        |keep AS (SELECT f, min(doc_id) AS kid FROM g GROUP BY f)
        |SELECT g.doc_id, g.lang_id, g.quality
        |FROM g JOIN keep ON g.f = keep.f AND g.doc_id = keep.kid
        |WHERE substr(md5(CAST(g.doc_id AS VARCHAR)), 1, 8)
        |  < '${Sampling.thresholdHex(0.5)}'
        |ORDER BY g.doc_id""".stripMargin,
    "p_reservoir" ->
      """WITH ranked AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
        |      AS sample_rank
        |  FROM documents)
        |SELECT lang, doc_id, CAST(sample_rank AS INT) AS sample_rank
        |FROM ranked WHERE sample_rank <= 5
        |ORDER BY lang, sample_rank""".stripMargin,
    "t_top_tokens" ->
      """WITH w AS (SELECT unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+')) AS token FROM documents)
        |SELECT token, CAST(count(*) AS BIGINT) AS occurrences
        |FROM w WHERE token <> ''
        |GROUP BY token ORDER BY occurrences DESC, token LIMIT 20""".stripMargin,
    // char-class shares: explicit ASCII classes in both engines
    "t_char_classes" ->
      """WITH g AS (SELECT source AS key,
        |  CAST(sum(len(text)) AS BIGINT) AS n_chars,
        |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]'))) AS BIGINT)
        |    AS a,
        |  CAST(sum(len(regexp_extract_all(text, '[0-9]'))) AS BIGINT)
        |    AS d,
        |  CAST(sum(len(regexp_extract_all(text, ' '))) AS BIGINT) AS s
        |  FROM documents WHERE text IS NOT NULL AND source IS NOT NULL
        |  GROUP BY 1)
        |SELECT key, n_chars,
        |  CASE WHEN n_chars > 0
        |    THEN round(CAST(a AS DOUBLE) / n_chars, 6) END AS alpha_share,
        |  CASE WHEN n_chars > 0
        |    THEN round(CAST(d AS DOUBLE) / n_chars, 6) END AS digit_share,
        |  CASE WHEN n_chars > 0
        |    THEN round(CAST(s AS DOUBLE) / n_chars, 6) END AS space_share,
        |  CASE WHEN n_chars > 0
        |    THEN round(CAST(n_chars - a - d - s AS DOUBLE) / n_chars, 6)
        |    END AS other_share
        |FROM g ORDER BY key""".stripMargin,
    // Flesch reading ease: vowel-group syllables (floor 1/word), [.!?]+
    // sentence runs (floor 1), toks() words; constants cast to DOUBLE so
    // both engines do identical IEEE arithmetic
    "t_readability" ->
      """WITH tk AS (SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(regexp_replace(trim(text),
        |      '[^\p{L}\p{N}\s]', ' ', 'g')), '\s+'), w -> w <> '') AS t
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS sentences,
        |    CAST(coalesce(list_sum(list_transform(t, w ->
        |      greatest(len(regexp_extract_all(w, '[aeiouy]+')), 1))), 0)
        |      AS BIGINT) AS syllables
        |  FROM tk)
        |SELECT doc_id, words, sentences, syllables,
        |  CASE WHEN words > 0 THEN round(CAST(206.835 AS DOUBLE)
        |    - CAST(1.015 AS DOUBLE) * words / CAST(sentences AS DOUBLE)
        |    - CAST(84.6 AS DOUBLE) * syllables / CAST(words AS DOUBLE), 4)
        |  END AS flesch
        |FROM m ORDER BY doc_id""".stripMargin,
    // boilerplate shingles: per-doc DISTINCT 3-shingles, doc-frequency >= 5
    "t_boilerplate" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks)
        |SELECT shingle, CAST(count(*) AS BIGINT) AS n_docs
        |FROM sh GROUP BY shingle HAVING count(*) >= 5
        |ORDER BY shingle""".stripMargin,
    "t_boiler_docs" ->
      """WITH toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
        |  FROM toks),
        |b AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 5),
        |per AS (SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_shingles,
        |    CAST(sum(CASE WHEN shingle IN (SELECT shingle FROM b)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
        |  FROM sh GROUP BY doc_id)
        |SELECT id, n_shingles, n_boiler,
        |  round(CAST(n_boiler AS DOUBLE) / n_shingles, 6) AS boiler_share
        |FROM per WHERE n_boiler > 0 ORDER BY id""".stripMargin,
    "t_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS t
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |tc AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |t1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS d, CAST(max(c) AS BIGINT) AS m
        |  FROM tc GROUP BY 1),
        |bg AS (SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS b
        |  FROM toks WHERE len(t) >= 2),
        |bc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
        |b1 AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS mb FROM bc GROUP BY 1)
        |SELECT t1.doc_id, n AS n_tokens,
        |  CAST(d AS DOUBLE) / n AS distinct_token_frac,
        |  CAST(m AS DOUBLE) / n AS top_token_frac,
        |  CASE WHEN n >= 2 THEN CAST(mb AS DOUBLE) / (n - 1) ELSE 0.0 END
        |    AS top_bigram_frac
        |FROM t1 LEFT JOIN b1 ON t1.doc_id = b1.doc_id
        |WHERE n > 0 ORDER BY t1.doc_id""".stripMargin,
    "t_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(
        |    list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |ranked AS (SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
        |    CAST(tf.tf AS DOUBLE) / dfreq.df AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df DESC, tf.token) AS rank
        |  FROM tf JOIN dfreq ON tf.token = dfreq.token)
        |SELECT doc_id, token, tf, df, score, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "t_chunks" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS t
        |  FROM documents),
        |nn AS (SELECT doc_id, t, len(t) AS n,
        |    CASE WHEN len(t) <= 20 THEN 1
        |         ELSE CAST(ceil((len(t) - 5) / 15.0) AS INT) END AS nc
        |  FROM toks WHERE len(t) > 0),
        |ch AS (SELECT doc_id, t, n,
        |    CAST(unnest(generate_series(0, nc - 1)) AS INT) AS chunk_idx
        |  FROM nn)
        |SELECT doc_id, chunk_idx,
        |  CAST(least(20, n - chunk_idx * 15) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(t, chunk_idx * 15 + 1,
        |    least(chunk_idx * 15 + 20, n)), ' ') AS chunk_text
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "t_pii" ->
      s"""WITH aug AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 5 = 0 THEN ' reach me at user'
        |       || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
        |  || CASE WHEN doc_id % 7 = 0 THEN ' host 10.'
        |       || CAST(doc_id % 250 AS VARCHAR) || '.0.1 up' ELSE '' END
        |  || CASE WHEN doc_id % 11 = 0 THEN ' call +1415550'
        |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS a
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(a, '${TextAnalysis.EmailRe}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(a, '${TextAnalysis.Ipv4Re}')) AS BIGINT)
        |    AS n_ips,
        |  CAST(len(regexp_extract_all(a, '${TextAnalysis.PhoneRe}')) AS BIGINT)
        |    AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(a,
        |    '${TextAnalysis.EmailRe}', '[EMAIL]', 'g'),
        |    '${TextAnalysis.Ipv4Re}', '[IP]', 'g'),
        |    '${TextAnalysis.PhoneRe}', '[PHONE]', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin,
    "d_simhash_portable" ->
      s"""WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS t
        |  FROM documents WHERE len(list_filter(string_split(lower(text), ' '),
        |    t -> len(t) > 0)) > 0),
        |th AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |h AS (SELECT doc_id, list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_filter(string_split(w, ''), c -> len(c) > 0),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (a, b) -> (a * 31 + b) % 251799813685119) AS hv
        |  FROM th),
        |bits AS (SELECT doc_id,
        |    ${(0 until 48).map(j =>
             s"sum(CASE WHEN (hv >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS b$j")
             .mkString(",\n        |    ")}
        |  FROM h GROUP BY doc_id)
        |SELECT doc_id,
        |  ${(0 until 48).map(j =>
           s"(CASE WHEN b$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE 0 END)")
           .mkString("\n        |  + ")} AS sig
        |FROM bits ORDER BY doc_id""".stripMargin,
    "d_dup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
        |    THEN 0.0 ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) >= 0.5),
        |edges AS (SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION SELECT id_b AS x, id_a AS y FROM pairs),
        |reach(x, y) AS (
        |  SELECT s.x AS x, s.x AS y FROM (SELECT DISTINCT x FROM edges) s
        |  UNION
        |  SELECT e.x, r.y FROM edges e JOIN reach r ON e.y = r.x)
        |SELECT x AS doc_id, min(y) AS cluster_id, (x = min(y)) AS keep
        |FROM reach GROUP BY x ORDER BY doc_id""".stripMargin,
    // same transitive closure, then quality retention: longest doc wins,
    // ties -> min id; every member learns the winner's id
    "d_dedup_keep" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
        |    THEN 0.0 ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) >= 0.5),
        |edges AS (SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION SELECT id_b AS x, id_a AS y FROM pairs),
        |reach(x, y) AS (
        |  SELECT s.x AS x, s.x AS y FROM (SELECT DISTINCT x FROM edges) s
        |  UNION
        |  SELECT e.x, r.y FROM edges e JOIN reach r ON e.y = r.x),
        |cl AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x),
        |mem AS (SELECT c.doc_id, c.cluster_id, d.n_chars
        |  FROM cl c JOIN documents d ON c.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id, n_chars,
        |  (doc_id = first_value(doc_id) OVER wq) AS keep,
        |  first_value(doc_id) OVER wq AS kept_id
        |FROM mem
        |WINDOW wq AS (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id)
        |ORDER BY doc_id""".stripMargin,
    // LSH replay: the plane matrix is injected as literals; buckets are
    // bit-identical because both engines fold the same doubles in the same
    // order (list_reduce is left-to-right like Spark's aggregate HOF)
    "s_ann_lsh" ->
      """WITH p(tbl, pl, comps) AS (VALUES __LSH_PLANES__),
        |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        |      WHERE vec_id = 0),
        |qb AS (SELECT p.tbl,
        |    SUM(CASE WHEN list_reduce(list_transform(generate_series(1, 64),
        |        i -> q.qe[i] * p.comps[i]), (a, b) -> a + b) >= 0
        |      THEN (1::BIGINT << p.pl) ELSE 0 END) AS bucket
        |  FROM p, q GROUP BY p.tbl),
        |vb AS (SELECT e.vec_id, p.tbl,
        |    SUM(CASE WHEN list_reduce(list_transform(generate_series(1, 64),
        |        i -> CAST(e.embedding[i] AS DOUBLE) * p.comps[i]), (a, b) -> a + b) >= 0
        |      THEN (1::BIGINT << p.pl) ELSE 0 END) AS bucket
        |  FROM embeddings e, p WHERE e.vec_id <> 0 GROUP BY e.vec_id, p.tbl),
        |cand AS (SELECT DISTINCT vb.vec_id FROM vb
        |  JOIN qb ON vb.tbl = qb.tbl AND vb.bucket = qb.bucket),
        |top AS (SELECT c.vec_id AS id,
        |    CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qe)
        |      AS DOUBLE) AS cs
        |  FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, q
        |  ORDER BY cs DESC, id LIMIT 50)
        |SELECT id, round(cs, 2) AS cosine FROM top
        |ORDER BY round(cs, 2) DESC, id""".stripMargin,
    // header-probe parity: Spark parses real PNG/WAV header BYTES; the
    // oracle recomputes the same values from the id formula the synthetic
    // builder encoded (round-trip check over the whole probe chain)
    "m_media_meta" ->
      """WITH ids AS (SELECT range AS id FROM range(0, 2000))
        |SELECT printf('m-%08x', id) AS media_ref,
        |  CASE WHEN id % 3 = 0 THEN 'image/png'
        |       WHEN id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime,
        |  CAST(CASE WHEN id % 3 = 0 THEN 33
        |       WHEN id % 3 = 1 THEN 44 ELSE 280 END AS BIGINT) AS bytes,
        |  CAST(CASE WHEN id % 3 = 0 THEN 16 + id % 1920
        |       WHEN id % 3 = 1 THEN 0 ELSE 16 + id % 640 END AS INT) AS width,
        |  CAST(CASE WHEN id % 3 = 0 THEN 16 + (id // 7) % 1080
        |       WHEN id % 3 = 1 THEN 0 ELSE 16 + (id // 3) % 480 END AS INT)
        |    AS height,
        |  CAST(CASE WHEN id % 3 = 0 THEN 1
        |       WHEN id % 3 = 1 THEN 100 + id % 1000
        |       ELSE 1 + id % 300 END AS INT) AS nframes,
        |  CAST(CASE WHEN id % 3 = 1 THEN 8000 + (id % 8) * 1000 ELSE 0 END AS INT)
        |    AS sample_rate,
        |  CAST(CASE WHEN id % 3 = 1 THEN 1 + id % 2 ELSE 0 END AS INT) AS channels,
        |  true AS parsed
        |FROM ids ORDER BY media_ref""".stripMargin,
    // media budget: detected mime + byte formulas from the generator ids
    "m_budget" ->
      """WITH ids AS (SELECT range AS id FROM range(0, 2000)),
        |m AS (SELECT CASE WHEN id % 3 = 0 THEN 'image/png'
        |    WHEN id % 3 = 1 THEN 'audio/wav'
        |    ELSE 'video/mp4' END AS detected_mime,
        |  CASE WHEN id % 3 = 0 THEN 33 WHEN id % 3 = 1 THEN 44
        |    ELSE 280 END AS bytes FROM ids),
        |per AS (SELECT detected_mime, CAST(count(*) AS BIGINT) AS n_assets,
        |    CAST(sum(bytes) AS BIGINT) AS total_bytes FROM m GROUP BY 1),
        |t AS (SELECT sum(total_bytes) AS tt FROM per)
        |SELECT detected_mime, n_assets, total_bytes,
        |  CASE WHEN tt > 0
        |    THEN round(CAST(total_bytes AS DOUBLE) / tt, 6) END
        |    AS byte_share
        |FROM per, t ORDER BY detected_mime""".stripMargin,
    // mime confusion matrix: detected mime recomputed from the generator
    // id formula — detector-vs-formula disagreement fails the hash
    "m_kind_mismatch" ->
      """WITH ids AS (SELECT range AS id FROM range(0, 2000)),
        |m AS (SELECT printf('m-%08x', id) AS ref,
        |    CASE WHEN id % 3 = 0 THEN 'image/png'
        |         WHEN id % 3 = 1 THEN 'audio/wav'
        |         ELSE 'video/mp4' END AS detected,
        |    CASE WHEN id % 7 = 0 THEN 'image/png'
        |         WHEN id % 3 = 0 THEN 'image/png'
        |         WHEN id % 3 = 1 THEN 'audio/wav'
        |         ELSE 'video/mp4' END AS declared
        |  FROM ids)
        |SELECT declared AS declared_mime, detected AS detected_mime,
        |  CAST(count(*) AS BIGINT) AS n, min(ref) AS first_ref,
        |  declared <> detected AS mismatch
        |FROM m GROUP BY 1, 2
        |ORDER BY declared_mime, detected_mime""".stripMargin,
    // resize plan parity: same dims from the id formulas, same double
    // division and floor(x+0.5) rounding — engine-exact
    "m_resize" ->
      """WITH ids AS (SELECT range AS id FROM range(0, 2000) WHERE range % 3 <> 1),
        |dims AS (SELECT printf('m-%08x', id) AS media_ref,
        |    CASE WHEN id % 3 = 0 THEN 16 + id % 1920
        |         ELSE 16 + id % 640 END AS w,
        |    CASE WHEN id % 3 = 0 THEN 16 + (id // 7) % 1080
        |         ELSE 16 + (id // 3) % 480 END AS h
        |  FROM ids),
        |sc AS (SELECT media_ref, w, h,
        |    least(1.0, least(256.0 / w, 256.0 / h)) AS s FROM dims)
        |SELECT media_ref, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(floor(w * s + 0.5) AS INT) AS out_w,
        |  CAST(floor(h * s + 0.5) AS INT) AS out_h
        |FROM sc ORDER BY media_ref""".stripMargin,
    "m_frame_sample" ->
      """WITH ids AS (SELECT range AS id FROM range(0, 2000) WHERE range % 3 = 2)
        |SELECT printf('m-%08x', id) AS media_ref,
        |  CAST((id % 300) // 50 + 1 AS INT) AS n_sampled
        |FROM ids ORDER BY media_ref""".stripMargin,
    // content features: the oracle replays the PRODUCER's pixel/sample
    // formulas ((7x+13y+id) mod 256 gray; ((37k+id) mod 65536)-32768 PCM)
    // over generate_series grids; Spark's numbers come from the DECODED
    // bytes (Inflater + 5-filter reconstruction / PCM frame read), so a
    // bug anywhere in encode->deflate->inflate->unfilter fails the hash
    "m_features" ->
      """WITH ids AS (SELECT range AS id FROM range(0, 1000)),
        |png AS (SELECT id, 8 + id % 25 AS w, 8 + (id // 5) % 21 AS h
        |  FROM ids WHERE id % 2 = 0),
        |ppx AS (SELECT p.id, (x.range * 7 + y.range * 13 + p.id) % 256 AS v
        |  FROM png p, range(0, 33) x, range(0, 29) y
        |  WHERE x.range < p.w AND y.range < p.h),
        |pfeat AS (SELECT printf('m-%08x', id) AS media_ref, 'image' AS kind,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS vsum,
        |    CAST(sum(v * v) AS BIGINT) AS sqsum,
        |    CAST(min(v) AS BIGINT) AS vmin, CAST(max(v) AS BIGINT) AS vmax,
        |    CAST(NULL AS BIGINT) AS duration_ms
        |  FROM ppx GROUP BY id),
        |wav AS (SELECT id, 8000 + (id % 8) * 1000 AS rate,
        |    1 + (id // 3) % 2 AS ch, 40 + id % 80 AS frames
        |  FROM ids WHERE id % 2 = 1),
        |ws AS (SELECT w.id, w.rate, w.frames,
        |    (k.range * 37 + w.id) % 65536 - 32768 AS s
        |  FROM wav w, range(0, 240) k WHERE k.range < w.frames * w.ch),
        |wfeat AS (SELECT printf('m-%08x', id) AS media_ref, 'audio' AS kind,
        |    CAST(count(*) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS vsum,
        |    CAST(sum(s * s) AS BIGINT) AS sqsum,
        |    CAST(min(s) AS BIGINT) AS vmin, CAST(max(s) AS BIGINT) AS vmax,
        |    CAST(frames * 1000 // rate AS BIGINT) AS duration_ms
        |  FROM ws GROUP BY id, rate, frames)
        |SELECT * FROM pfeat UNION ALL SELECT * FROM wfeat
        |ORDER BY media_ref""".stripMargin,
    // verdicts over the WRITTEN generated corpus — DuckDB replays the span
    // invariant (same five per-span checks + strict offset order as
    // SpanInvariant.spanChecks) over the exact parquet gen_validate wrote
    // v_stream_validate: identical replay over the STREAMED corpus copy —
    // the streaming engine must land on the same per-partition verdicts
    "v_stream_validate" ->
      """WITH d AS (SELECT part, spans FROM '__GEN_STREAM_DOCS_PATH__/*.parquet'),
        |per AS (SELECT part,
        |  (spans IS NULL
        |   OR len(list_filter(spans, s -> NOT coalesce(
        |        s.kind IN ('text', 'media')
        |        AND ((s.kind = 'media') = (coalesce(s.media_ref, '') <> ''))
        |        AND (coalesce(s.media_ref, '') = ''
        |             OR regexp_matches(s.media_ref, '^m-[0-9a-f]{8}$'))
        |        AND (s.kind <> 'text' OR (s.text IS NOT NULL AND s.text <> ''))
        |        AND (s."offset" IS NOT NULL AND s."offset" >= 0), false))) > 0
        |   OR coalesce(list_bool_or(list_transform(generate_series(2, len(spans)),
        |        i -> spans[i]."offset" <= spans[i-1]."offset")), false)
        |  ) AS failed FROM d)
        |SELECT part, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS failed_docs
        |FROM per GROUP BY part ORDER BY part""".stripMargin,
    // streaming drift: the binned-cell stream must fold into the exact
    // batch KS statistic — same oracle as g_drift_ks
    "g_stream_drift" ->
      """WITH b AS (SELECT l_returnflag AS f,
        |    CASE WHEN CAST(l_extendedprice AS DOUBLE) > 120000.0 THEN NULL
        |         ELSE least(greatest(CAST(ceil(
        |           (CAST(l_extendedprice AS DOUBLE) - 0.0) / 1200.0) AS INT), 0), 100)
        |    END AS cell
        |  FROM lineitem
        |  WHERE l_returnflag IN ('R', 'N') AND l_extendedprice IS NOT NULL),
        |cnt AS (SELECT cell,
        |    sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS cb
        |  FROM b GROUP BY cell),
        |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM cnt),
        |pts AS (SELECT unnest(generate_series(0, 100)) AS i),
        |cum AS (SELECT p.i,
        |    (SELECT coalesce(sum(ca), 0) FROM cnt
        |     WHERE cell IS NOT NULL AND cell <= p.i) AS cca,
        |    (SELECT coalesce(sum(cb), 0) FROM cnt
        |     WHERE cell IS NOT NULL AND cell <= p.i) AS ccb
        |  FROM pts p)
        |SELECT round(max(abs(
        |    CAST(cca AS DOUBLE) / (SELECT na FROM tot)
        |  - CAST(ccb AS DOUBLE) / (SELECT nb FROM tot))), 4) AS ks
        |FROM cum""".stripMargin,
    // incremental streaming drift: emission b must equal the batch KS over
    // the prefix of slices 0..b (slice = l_orderkey % 4, the pinned
    // micro-batch order) — all four prefixes replayed, not just the final
    "g_stream_drift_inc" ->
      """WITH b AS (SELECT l_orderkey % 4 AS slice, l_returnflag AS f,
        |    CASE WHEN CAST(l_extendedprice AS DOUBLE) > 120000.0 THEN NULL
        |         ELSE least(greatest(CAST(ceil(
        |           (CAST(l_extendedprice AS DOUBLE) - 0.0) / 1200.0) AS INT), 0), 100)
        |    END AS cell
        |  FROM lineitem
        |  WHERE l_returnflag IN ('R', 'N') AND l_extendedprice IS NOT NULL),
        |seqs AS (SELECT unnest(generate_series(0, 3)) AS batch_seq),
        |cnt AS (SELECT s.batch_seq, cell,
        |    sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN f = 'N' THEN 1 ELSE 0 END) AS cb
        |  FROM b JOIN seqs s ON b.slice <= s.batch_seq
        |  GROUP BY s.batch_seq, cell),
        |tot AS (SELECT batch_seq, sum(ca) AS na, sum(cb) AS nb FROM cnt
        |  GROUP BY batch_seq),
        |pts AS (SELECT s.batch_seq, g.i FROM seqs s,
        |  (SELECT unnest(generate_series(0, 100)) AS i) g),
        |cum AS (SELECT p.batch_seq, p.i,
        |    (SELECT coalesce(sum(ca), 0) FROM cnt
        |     WHERE batch_seq = p.batch_seq AND cell IS NOT NULL AND cell <= p.i) AS cca,
        |    (SELECT coalesce(sum(cb), 0) FROM cnt
        |     WHERE batch_seq = p.batch_seq AND cell IS NOT NULL AND cell <= p.i) AS ccb
        |  FROM pts p)
        |SELECT c.batch_seq AS batch_seq,
        |  round(max(abs(CAST(cca AS DOUBLE) / t.na
        |              - CAST(ccb AS DOUBLE) / t.nb)), 4) AS ks
        |FROM cum c JOIN tot t USING (batch_seq)
        |GROUP BY c.batch_seq ORDER BY batch_seq""".stripMargin,
    // z-order: exact-integer rank scaling (numerator is long-exact, one
    // IEEE-double division) then bit interleave — both reproduced verbatim
    "l_compact" ->
      """WITH m AS (SELECT CAST(doc_id % 4 AS INT) AS part,
        |    'f-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS path,
        |    CAST(n_chars AS BIGINT) AS bytes
        |  FROM documents),
        |small AS (SELECT part, path, bytes, 'compact' AS action,
        |    CAST(floor(coalesce(sum(bytes) OVER (PARTITION BY part ORDER BY path
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT) AS bin
        |  FROM m WHERE bytes < 500),
        |keep AS (SELECT part, path, bytes, 'keep' AS action, CAST(NULL AS BIGINT) AS bin
        |  FROM m WHERE bytes >= 500)
        |SELECT * FROM small UNION ALL SELECT * FROM keep
        |ORDER BY part, path""".stripMargin,
    "l_compact_bins" ->
      """WITH m AS (SELECT CAST(doc_id % 4 AS INT) AS part,
        |    'f-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS path,
        |    CAST(n_chars AS BIGINT) AS bytes
        |  FROM documents),
        |small AS (SELECT part, path, bytes,
        |    CAST(floor(coalesce(sum(bytes) OVER (PARTITION BY part ORDER BY path
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT) AS bin
        |  FROM m WHERE bytes < 500)
        |SELECT part, bin, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bytes
        |FROM small GROUP BY part, bin ORDER BY part, bin""".stripMargin,
    // vacuum: a file survives iff its newest referencing snapshot is one
    // of the kept ones (seq >= 4 of 0..5 when keeping the last 2)
    "l_vacuum" ->
      """WITH m AS (SELECT
        |    'f-' || lpad(CAST(doc_id % 113 AS VARCHAR), 3, '0') AS path,
        |    doc_id % 6 AS snapshot_seq, CAST(n_chars AS BIGINT) AS bytes
        |  FROM documents),
        |g AS (SELECT path, CAST(max(bytes) AS BIGINT) AS bytes,
        |    CAST(max(snapshot_seq) AS BIGINT) AS last_ref
        |  FROM m GROUP BY path)
        |SELECT path, bytes, last_ref,
        |  CASE WHEN last_ref >= 4 THEN 'keep' ELSE 'delete' END AS action
        |FROM g ORDER BY path""".stripMargin,
    // VERSION AS OF 3: newest snapshot seq <= 3 is 3 itself; list its files
    "l_asof" ->
      """WITH m AS (SELECT
        |    'f-' || lpad(CAST(doc_id % 113 AS VARCHAR), 3, '0') AS path,
        |    doc_id % 6 AS snapshot_seq, CAST(n_chars AS BIGINT) AS bytes
        |  FROM documents),
        |r AS (SELECT max(snapshot_seq) AS rs FROM m WHERE snapshot_seq <= 3)
        |SELECT path, CAST(max(bytes) AS BIGINT) AS bytes,
        |  CAST(max(snapshot_seq) AS BIGINT) AS snapshot_seq
        |FROM m, r WHERE snapshot_seq = rs GROUP BY path ORDER BY path""".stripMargin,
    "l_zorder" ->
      """WITH d AS (SELECT doc_id, length(text) AS tlen FROM documents),
        |bnd AS (SELECT min(doc_id) lo0, max(doc_id) hi0,
        |               min(tlen) lo1, max(tlen) hi1 FROM d),
        |r AS (SELECT doc_id,
        |  CAST(floor((doc_id - lo0) * 65535 / CAST(hi0 - lo0 AS DOUBLE)) AS BIGINT) AS r0,
        |  CAST(floor((tlen - lo1) * 65535 / CAST(hi1 - lo1 AS DOUBLE)) AS BIGINT) AS r1
        |  FROM d, bnd)
        |SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 15), i ->
        |    (((r0 >> i) & 1) << (2*i)) + (((r1 >> i) & 1) << (2*i+1)))) AS BIGINT) AS zval
        |FROM r ORDER BY doc_id""".stripMargin,
    "l_zorder_skip" ->
      """WITH d AS (SELECT doc_id, length(text) AS tlen FROM documents),
        |bnd AS (SELECT min(doc_id) lo0, max(doc_id) hi0,
        |               min(tlen) lo1, max(tlen) hi1 FROM d),
        |r AS (SELECT doc_id, tlen,
        |  CAST(floor((doc_id - lo0) * 65535 / CAST(hi0 - lo0 AS DOUBLE)) AS BIGINT) AS r0,
        |  CAST(floor((tlen - lo1) * 65535 / CAST(hi1 - lo1 AS DOUBLE)) AS BIGINT) AS r1
        |  FROM d, bnd),
        |z AS (SELECT doc_id, tlen,
        |  CAST(list_sum(list_transform(generate_series(0, 15), i ->
        |    (((r0 >> i) & 1) << (2*i)) + (((r1 >> i) & 1) << (2*i+1)))) AS BIGINT) AS zval
        |  FROM r)
        |SELECT CAST(floor(zval * 64 / 4294967296.0) AS BIGINT) AS bucket,
        |  min(doc_id) AS min_d0, max(doc_id) AS max_d0,
        |  min(tlen) AS min_d1, max(tlen) AS max_d1,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,
    // corpus rarity: same space-split tokens as t_tfidf (oracle-proven
    // tokenization), counts only — exact in any engine
    "t_rarity" ->
      """WITH tok AS (SELECT doc_id AS id,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |                       t -> len(t) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1)
        |SELECT id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN df <= 2 THEN tf ELSE 0 END) AS BIGINT) AS n_rare,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare_distinct
        |FROM tf JOIN dfreq USING (token)
        |GROUP BY id ORDER BY id""".stripMargin,
    // incremental revalidation: delta = v2 rows new or changed vs v1
    // exact media dedup: bytes equal iff the generator formulas are equal,
    // so the oracle groups by the formula tuple
    "m_media_dup" ->
      """WITH ids AS (SELECT range AS id FROM range(0, 2000)),
        |refs AS (SELECT id, printf('m-%08x', id) AS ref FROM ids
        |  UNION ALL
        |  SELECT id, printf('m-%08x', id + 100000) FROM ids
        |  WHERE id % 11 = 0),
        |keyed AS (SELECT ref,
        |    CASE WHEN id % 3 = 0 THEN 'image/png'
        |         WHEN id % 3 = 1 THEN 'audio/wav'
        |         ELSE 'video/mp4' END AS mime,
        |    CASE WHEN id % 3 = 0 THEN 'p:' || (16 + id % 1920) || ':'
        |        || (16 + (id // 7) % 1080)
        |      WHEN id % 3 = 1 THEN 'w:' || (8000 + (id % 8) * 1000) || ':'
        |        || (1 + id % 2) || ':' || (100 + id % 1000)
        |      ELSE 'v:' || (16 + id % 640) || ':' || (16 + (id // 3) % 480)
        |        || ':' || (1 + id % 300) END AS k
        |  FROM refs)
        |SELECT min(ref) AS group_id, mime,
        |  CAST(count(*) AS BIGINT) AS n_copies
        |FROM keyed GROUP BY k, mime HAVING count(*) > 1
        |ORDER BY group_id""".stripMargin,
    // Benford first-digit audit (first significant digit by regex — no
    // log10 float edges at powers of ten)
    "g_benford" ->
      """WITH d AS (SELECT CAST(regexp_extract(
        |    CAST(o_totalprice AS VARCHAR), '[1-9]') AS INT) AS digit
        |  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
        |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS observed
        |  FROM d GROUP BY digit),
        |t AS (SELECT CAST(sum(observed) AS BIGINT) AS n FROM c)
        |SELECT digit, observed,
        |  round(log10(1.0 + 1.0 / digit) * n, 6) AS expected,
        |  round(pow(observed - log10(1.0 + 1.0 / digit) * n, 2)
        |    / (log10(1.0 + 1.0 / digit) * n), 6) AS chi2_term
        |FROM c, t ORDER BY digit""".stripMargin,
    // null-bitmap pattern histogram (correlated + independent injections)
    "g_null_patterns" ->
      """WITH d AS (SELECT
        |    CASE WHEN doc_id % 19 = 0 THEN NULL ELSE lang END AS lang,
        |    CASE WHEN doc_id % 19 = 0 THEN NULL ELSE source END AS source,
        |    CASE WHEN doc_id % 29 = 0 THEN NULL ELSE text END AS text
        |  FROM documents)
        |SELECT (CASE WHEN lang IS NULL THEN 'N' ELSE '-' END ||
        |        CASE WHEN source IS NULL THEN 'N' ELSE '-' END ||
        |        CASE WHEN text IS NULL THEN 'N' ELSE '-' END) AS pattern,
        |  CAST(count(*) AS BIGINT) AS n_rows
        |FROM d GROUP BY 1 ORDER BY pattern""".stripMargin,
    // per-source duplicate rate over normalized contents
    "d_dup_rate" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(count(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ',
        |    'g')))) AS BIGINT) AS distinct_contents,
        |  round(1.0 - CAST(count(DISTINCT md5(lower(regexp_replace(text,
        |    '\s+', ' ', 'g')))) AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM documents WHERE text IS NOT NULL
        |GROUP BY source ORDER BY source""".stripMargin,
    // per-language p50/p95 deltas between v1 and the derived v2
    "g_quantile_drift" ->
      """WITH v2 AS (SELECT lang,
        |    CASE WHEN doc_id % 37 = 0 THEN n_chars + 600 ELSE n_chars END
        |      AS n_chars FROM documents),
        |q1 AS (SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS p50_v1,
        |    round(quantile_cont(n_chars, 0.95), 6) AS p95_v1
        |  FROM documents GROUP BY lang),
        |q2 AS (SELECT lang, round(quantile_cont(n_chars, 0.5), 6) AS p50_v2,
        |    round(quantile_cont(n_chars, 0.95), 6) AS p95_v2
        |  FROM v2 GROUP BY lang)
        |SELECT q1.lang, p50_v1, p50_v2,
        |  round(p50_v2 - p50_v1, 6) AS p50_delta,
        |  p95_v1, p95_v2, round(p95_v2 - p95_v1, 6) AS p95_delta
        |FROM q1 JOIN q2 ON q1.lang IS NOT DISTINCT FROM q2.lang
        |ORDER BY q1.lang""".stripMargin,
    // hour-of-day load profile: counts, within-type share, peak rank
    "e_load_profile" ->
      """WITH per AS (SELECT event_type AS key, CAST(hour(ts) AS INT)
        |    AS hour, CAST(count(*) AS BIGINT) AS n_events
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2)
        |SELECT key, hour, n_events,
        |  round(CAST(n_events AS DOUBLE) /
        |    sum(n_events) OVER (PARTITION BY key), 6) AS share,
        |  (row_number() OVER (PARTITION BY key
        |    ORDER BY n_events DESC, hour) = 1) AS is_peak
        |FROM per ORDER BY key, hour""".stripMargin,
    // per-day lifecycle: distinct user-days, first/last per user, day
    // rollups with null-safe zero defaults
    "e_lifecycle" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |fl AS (SELECT u, min(d) AS fd, max(d) AS ld FROM ud GROUP BY 1),
        |act AS (SELECT d, CAST(count(*) AS BIGINT) AS active_users
        |  FROM ud GROUP BY 1),
        |nw AS (SELECT fd AS d, CAST(count(*) AS BIGINT) AS new_users
        |  FROM fl GROUP BY 1),
        |ls AS (SELECT ld AS d, CAST(count(*) AS BIGINT) AS last_seen_users
        |  FROM fl GROUP BY 1)
        |SELECT CAST(a.d AS VARCHAR) AS day, a.active_users,
        |  CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
        |  CAST(a.active_users - coalesce(n.new_users, 0) AS BIGINT)
        |    AS returning_users,
        |  CAST(coalesce(l.last_seen_users, 0) AS BIGINT)
        |    AS last_seen_users
        |FROM act a LEFT JOIN nw n ON n.d = a.d
        |  LEFT JOIN ls l ON l.d = a.d
        |ORDER BY day""".stripMargin,
    // stickiness: sliding distinct via day-offset explode over user-days
    "e_stickiness" ->
      """WITH ud AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1),
        |f AS (SELECT DISTINCT u, d + CAST(off AS INTEGER) AS d
        |  FROM ud, generate_series(0, 6) AS t(off)),
        |wau AS (SELECT d, CAST(count(*) AS BIGINT) AS wau
        |  FROM f GROUP BY 1)
        |SELECT CAST(dau.d AS VARCHAR) AS day, dau.dau, wau.wau,
        |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        |FROM dau JOIN wau ON wau.d = dau.d ORDER BY day""".stripMargin,
    // seasonal anomaly: type-hour medians across days (quantile_cont
    // interpolation matches Spark percentile), flag on the UNROUNDED
    // median exactly as the engine does
    "e_seasonal" ->
      """WITH corpus AS (
        |  SELECT event_type, ts FROM events
        |  UNION ALL SELECT event_type, ts FROM events
        |    WHERE CAST(ts AS DATE) = DATE '2024-01-05' AND hour(ts) = 10
        |  UNION ALL SELECT event_type, ts FROM events
        |    WHERE CAST(ts AS DATE) = DATE '2024-01-05' AND hour(ts) = 10),
        |cells AS (SELECT event_type AS key,
        |    CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |    CAST(hour(ts) AS INT) AS hour,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM corpus WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |base AS (SELECT key, hour,
        |    quantile_cont(n_events, 0.5) AS med
        |  FROM cells GROUP BY 1, 2)
        |SELECT c.key, c.day, c.hour, c.n_events,
        |  round(b.med, 4) AS hour_median,
        |  (c.n_events > b.med * 2.0 OR c.n_events < b.med / 2.0)
        |    AS anomalous
        |FROM cells c JOIN base b ON b.key = c.key AND b.hour = c.hour
        |ORDER BY c.key, c.day, c.hour""".stripMargin,
    // per-feed freshness vs the data-defined watermark, exact epoch math
    "e_freshness" ->
      """WITH per AS (SELECT event_type AS key,
        |    CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(floor(epoch(max(ts))) AS BIGINT) AS last_epoch
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1),
        |wm AS (SELECT max(last_epoch) AS watermark FROM per)
        |SELECT key, n_events, last_epoch, watermark,
        |  watermark - last_epoch AS lag_seconds,
        |  (watermark - last_epoch) > 1800 AS stale
        |FROM per, wm ORDER BY key""".stripMargin,
    // lateness histogram vs the per-user running max in id order
    "e_lateness" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CASE WHEN event_id % 37 = 0 THEN ts - INTERVAL 1 HOUR
        |      ELSE ts END AS ts FROM events),
        |w AS (SELECT user_id, event_id, ts,
        |    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS pm FROM e),
        |l AS (SELECT CASE WHEN pm IS NULL OR pm <= ts THEN 0
        |    ELSE epoch_us(pm) - epoch_us(ts) END AS late FROM w)
        |SELECT CASE WHEN late = 0 THEN 'on_time'
        |    WHEN late < 60000000 THEN 'lt_1m'
        |    WHEN late < 3600000000 THEN 'lt_1h'
        |    ELSE 'ge_1h' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM l GROUP BY 1 ORDER BY bucket""".stripMargin,
    // declared vs detected language confusion matrix (same marker-hit
    // argmax + tie order as the t_lang_id oracle)
    "t_lang_confusion" ->
      s"""WITH toks AS (SELECT doc_id, lang, string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\\p{L}\\p{N}\\s]', ' ', 'g')), '\\s+') AS tk
        |  FROM documents),
        |h AS (SELECT doc_id, lang,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("en"))}))) AS h_en,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("de"))}))) AS h_de,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("fr"))}))) AS h_fr,
        |  len(list_filter(tk, x -> x IN (${sqlList(TextAnalysis.markers("es"))}))) AS h_es
        |  FROM toks),
        |d AS (SELECT coalesce(lang, '<null>') AS lang,
        |  CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'und'
        |       WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
        |       WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
        |       WHEN h_en >= h_de THEN 'en'
        |       ELSE 'de' END AS detected
        |  FROM h)
        |SELECT lang, detected, CAST(count(*) AS BIGINT) AS n_docs
        |FROM d GROUP BY lang, detected ORDER BY lang, detected""".stripMargin,
    // all rule-pair co-failure counters from one scan (null-explicit)
    "v_rule_cooccur" ->
      """WITH f AS (SELECT
        |    CASE WHEN NOT (lang IS NULL OR lang IN ('en','de','fr','es'))
        |      THEN 1 ELSE 0 END AS f0,
        |    CASE WHEN NOT (n_chars IS NULL OR n_chars <= 500)
        |      THEN 1 ELSE 0 END AS f1,
        |    CASE WHEN NOT (source IS NULL
        |      OR regexp_matches(source, '^src[0-3]$')) THEN 1 ELSE 0 END AS f2
        |  FROM documents),
        |g AS (SELECT CAST(sum(f0) AS BIGINT) AS a0,
        |    CAST(sum(f1) AS BIGINT) AS a1, CAST(sum(f2) AS BIGINT) AS a2,
        |    CAST(sum(f0 * f1) AS BIGINT) AS b01,
        |    CAST(sum(f0 * f2) AS BIGINT) AS b02,
        |    CAST(sum(f1 * f2) AS BIGINT) AS b12 FROM f),
        |p AS (
        |  SELECT 'lang_enum' AS rule_a, 'len_max' AS rule_b,
        |    a0 AS a_failed, a1 AS b_failed, b01 AS both_failed FROM g
        |  UNION ALL SELECT 'lang_enum', 'src_pattern', a0, a2, b02 FROM g
        |  UNION ALL SELECT 'len_max', 'src_pattern', a1, a2, b12 FROM g)
        |SELECT rule_a, rule_b, a_failed, b_failed, both_failed,
        |  CASE WHEN a_failed + b_failed - both_failed > 0 THEN
        |    round(CAST(both_failed AS DOUBLE)
        |      / (a_failed + b_failed - both_failed), 6) END AS jaccard
        |FROM p ORDER BY rule_a, rule_b""".stripMargin,
    // streaming incremental top-k == batch top-k (counts associative)
    "e_stream_topk" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS occurrences
        |FROM events GROUP BY event_type
        |ORDER BY occurrences DESC, event_type LIMIT 5""".stripMargin,
    // span-kind mass per partition over the derived interleaved corpus
    "v_span_kinds" ->
      """SELECT CAST(l_orderkey % 8 AS INT) AS part,
        |  CASE WHEN l_returnflag = 'R' THEN 'media' ELSE 'text' END AS kind,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN l_quantity > 45 THEN 0
        |    ELSE l_linenumber * 10 END) AS BIGINT) AS offset_sum,
        |  CAST(max(CASE WHEN l_quantity > 45 THEN 0
        |    ELSE l_linenumber * 10 END) AS BIGINT) AS max_offset
        |FROM lineitem GROUP BY 1, 2 ORDER BY part, kind""".stripMargin,
    // signup -> purchase conversion within 7 days of the FIRST signup
    "e_funnel" ->
      """WITH su AS (SELECT user_id, min(ts) AS su_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (SELECT DISTINCT su.user_id
        |  FROM su JOIN events p ON p.user_id = su.user_id
        |  WHERE p.event_type = 'purchase' AND p.ts >= su.su_ts
        |    AND p.ts <= su.su_ts + INTERVAL 7 DAY)
        |SELECT CAST(CAST(su.su_ts AS DATE) AS VARCHAR) AS signup_day,
        |  CAST(count(*) AS BIGINT) AS signups,
        |  CAST(sum(CASE WHEN conv.user_id IS NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) AS converted,
        |  round(CAST(sum(CASE WHEN conv.user_id IS NULL THEN 0 ELSE 1 END)
        |    AS DOUBLE) / count(*), 6) AS conv_rate
        |FROM su LEFT JOIN conv ON su.user_id = conv.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // quasi-identifier combinations below the k = 5 anonymity floor
    "g_kanon" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows
        |FROM documents GROUP BY lang, source HAVING count(*) < 5
        |ORDER BY lang, source""".stripMargin,
    // injected time regressions vs the running max over id order
    "e_order_violations" ->
      """WITH e AS (SELECT user_id, event_id,
        |    CASE WHEN event_id % 37 = 0 THEN ts - INTERVAL 1 HOUR
        |      ELSE ts END AS ts FROM events),
        |w AS (SELECT user_id, event_id, ts,
        |    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max_ts FROM e)
        |SELECT user_id, event_id, epoch_us(ts) AS t_us,
        |  epoch_us(prev_max_ts) AS prev_us
        |FROM w WHERE ts < prev_max_ts
        |ORDER BY user_id, event_id""".stripMargin,
    // chi-square + Cramer's V per pair (null-sentinel categories; V from
    // the unrounded chi2, both rounded on output — engine parity)
    "g_assoc" ->
      """WITH c AS (SELECT coalesce(CAST(lang AS VARCHAR), '<null>') AS va,
        |    coalesce(CAST(source AS VARCHAR), '<null>') AS vb,
        |    CAST(count(*) AS BIGINT) AS o
        |  FROM documents GROUP BY 1, 2),
        |m AS (SELECT va, vb, o,
        |    sum(o) OVER (PARTITION BY va) AS rt,
        |    sum(o) OVER (PARTITION BY vb) AS ct FROM c),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |s AS (SELECT g.n AS n,
        |    count(DISTINCT va) AS ca, count(DISTINCT vb) AS cb,
        |    sum(o * o / (rt * ct / g.n)) - g.n AS chi2
        |  FROM m, g GROUP BY g.n),
        |c2 AS (SELECT coalesce(CAST(lang AS VARCHAR), '<null>') AS va,
        |    CAST(count(*) AS BIGINT) AS o FROM documents GROUP BY 1),
        |s2 AS (SELECT g.n AS n, count(DISTINCT va) AS ca,
        |    sum(o * o / (o * o * 1.0 / g.n)) - g.n AS chi2
        |  FROM c2, g GROUP BY g.n)
        |SELECT 'lang' AS col_a, 'source' AS col_b, n,
        |  round(chi2, 6) AS chi2,
        |  CASE WHEN least(ca, cb) > 1 THEN
        |    round(sqrt(chi2 / (n * (least(ca, cb) - 1))), 6) END
        |    AS cramers_v
        |FROM s
        |UNION ALL
        |SELECT 'lang', 'lang', n, round(chi2, 6),
        |  CASE WHEN ca > 1 THEN
        |    round(sqrt(chi2 / (n * (ca - 1))), 6) END
        |FROM s2
        |ORDER BY col_a, col_b""".stripMargin,
    // deterministic hash-order running sum capped per source
    "p_budget_cap" ->
      """WITH w AS (SELECT doc_id, source, n_chars,
        |    CAST(sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY md5('bud:' || CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_tokens
        |  FROM documents)
        |SELECT doc_id, source, n_chars, cum_tokens FROM w
        |WHERE cum_tokens <= 50000 ORDER BY source, cum_tokens""".stripMargin,
    // cluster-size histogram over the same transitive closure as
    // d_dup_clusters
    "d_cluster_stats" ->
      """WITH RECURSIVE toks AS (SELECT doc_id,
        |    string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM toks),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE (CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
        |    THEN 0.0 ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) END) >= 0.5),
        |edges AS (SELECT id_a AS x, id_b AS y FROM pairs
        |  UNION SELECT id_b AS x, id_a AS y FROM pairs),
        |reach(x, y) AS (
        |  SELECT s.x AS x, s.x AS y FROM (SELECT DISTINCT x FROM edges) s
        |  UNION
        |  SELECT e.x, r.y FROM edges e JOIN reach r ON e.y = r.x),
        |comp AS (SELECT x AS doc_id, min(y) AS cluster_id FROM reach GROUP BY x),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS s
        |  FROM comp GROUP BY cluster_id)
        |SELECT s AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST((s - 1) * count(*) AS BIGINT) AS rows_dropped
        |FROM sz GROUP BY s ORDER BY cluster_size""".stripMargin,
    // day-0 cohort -> day-k distinct returning users
    "e_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort_day FROM e GROUP BY user_id)
        |SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
        |  CAST(date_diff('day', c.cohort_day, e.d) AS INT) AS day_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // 25% hash-sample validation with extrapolated corpus counts
    "v_sample_validate" ->
      """WITH s AS (SELECT * FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN NOT (lang IS NULL
        |    OR lang IN ('en','de','fr','es')) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f0,
        |  CAST(sum(CASE WHEN NOT (source IS NULL
        |    OR regexp_matches(source, '^src[0-3]$')) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS f1
        |  FROM s)
        |SELECT 'lang_enum' AS rule, docs AS sample_docs, f0 AS failed_docs,
        |  round(CAST(f0 AS DOUBLE) / docs, 6) AS fail_rate,
        |  CAST(round(f0 / 0.25) AS BIGINT) AS est_corpus_fails FROM g
        |UNION ALL
        |SELECT 'src_pattern', docs, f1,
        |  round(CAST(f1 AS DOUBLE) / docs, 6),
        |  CAST(round(f1 / 0.25) AS BIGINT) FROM g
        |ORDER BY rule""".stripMargin,
    // embedding hygiene classes over the defect-injected corpus
    "s_vec_health" ->
      """WITH inj AS (SELECT CASE
        |    WHEN vec_id % 97 = 0 THEN NULL
        |    WHEN vec_id % 83 = 0 THEN embedding[1:32]
        |    WHEN vec_id % 71 = 0 THEN list_concat(list_concat(
        |      embedding[1:3], [CAST('nan' AS FLOAT)]), embedding[5:])
        |    WHEN vec_id % 50 = 0 THEN
        |      list_transform(embedding, x -> CAST(0.0 AS FLOAT))
        |    ELSE embedding END AS v FROM embeddings)
        |SELECT CASE
        |    WHEN v IS NULL THEN 'null_vec'
        |    WHEN len(v) <> 64 THEN 'wrong_dim'
        |    WHEN len(list_filter(v, x -> isnan(x)
        |      OR abs(x) = 'infinity'::FLOAT)) > 0 THEN 'has_nan'
        |    WHEN list_aggregate(list_transform(v,
        |      x -> CAST(x AS DOUBLE) * x), 'sum') = 0.0 THEN 'zero_vec'
        |    ELSE 'ok' END AS issue,
        |  CAST(count(*) AS BIGINT) AS n_vecs
        |FROM inj GROUP BY 1 ORDER BY issue""".stripMargin,
    // cross-source shared-content matrix (srcX mirror injected)
    "d_source_overlap" ->
      """WITH corpus AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'srcX' FROM documents WHERE doc_id % 61 = 0),
        |cs AS (SELECT DISTINCT
        |    md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS c,
        |    source AS s
        |  FROM corpus WHERE text IS NOT NULL AND source IS NOT NULL)
        |SELECT a.s AS src_a, b.s AS src_b,
        |  CAST(count(*) AS BIGINT) AS shared_contents
        |FROM cs a JOIN cs b ON a.c = b.c AND a.s < b.s
        |GROUP BY a.s, b.s ORDER BY src_a, src_b""".stripMargin,
    // canonical normalization: changed rows with the canonical text
    "t_normalize" ->
      """WITH aug AS (SELECT doc_id,
        |    CASE WHEN doc_id % 23 = 0
        |      THEN ' ' || chr(9) || text || chr(1) || '  '
        |      ELSE text END AS raw FROM documents),
        |n AS (SELECT doc_id, raw,
        |    lower(trim(regexp_replace(regexp_replace(raw,
        |      '[\p{Cc}\p{Cf}]', ' ', 'g'), '\s+', ' ', 'g'))) AS normalized
        |  FROM aug)
        |SELECT doc_id, CAST(len(raw) AS BIGINT) AS n_before,
        |  CAST(len(normalized) AS BIGINT) AS n_after, normalized
        |FROM n WHERE normalized <> raw ORDER BY doc_id""".stripMargin,
    // IQR fences per language (quartiles rounded before the fences, as
    // the engine does)
    "g_iqr_outliers" ->
      """WITH q AS (SELECT lang,
        |    round(quantile_cont(n_chars, 0.25), 6) AS p25,
        |    round(quantile_cont(n_chars, 0.75), 6) AS p75
        |  FROM documents GROUP BY lang),
        |f AS (SELECT lang, p25, p75,
        |    round(p25 - 1.5 * (p75 - p25), 6) AS lo_fence,
        |    round(p75 + 1.5 * (p75 - p25), 6) AS hi_fence FROM q)
        |SELECT f.lang, f.p25, f.p75, f.lo_fence, f.hi_fence,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN d.n_chars < f.lo_fence
        |    OR d.n_chars > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_outliers
        |FROM documents d JOIN f ON d.lang IS NOT DISTINCT FROM f.lang
        |GROUP BY f.lang, f.p25, f.p75, f.lo_fence, f.hi_fence
        |ORDER BY f.lang""".stripMargin,
    // partition layout health over the 50-docs-per-file manifest
    "l_partition_health" ->
      """WITH m AS (SELECT source AS part,
        |    'f' || CAST(CAST(floor(doc_id / 50) AS BIGINT) AS VARCHAR)
        |      AS path,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1, 2)
        |SELECT part, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |  round(quantile_cont(bytes, 0.5), 6) AS p50_bytes,
        |  round(quantile_cont(bytes, 0.95), 6) AS p95_bytes,
        |  round(max(bytes) / round(quantile_cont(bytes, 0.5), 6), 6)
        |    AS skew_ratio,
        |  round(CAST(sum(CASE WHEN bytes < 3000 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS small_frac
        |FROM m GROUP BY part ORDER BY part""".stripMargin,
    // incremental manifest splice must equal a FULL recompute of v2
    "d_manifest_incr" ->
      s"""WITH v2 AS (SELECT doc_id,
        |    CASE WHEN doc_id % 41 = 0 AND doc_id < 1000
        |      THEN text || ' v2' ELSE text END AS text,
        |    lang, n_chars FROM documents),
        |c AS (SELECT CAST(floor(doc_id / 500) AS BIGINT) AS part,
        |    md5($manifestContentSql) AS fp FROM v2)
        |SELECT part, count(*) AS n_rows,
        |  CAST(sum(${hex10ToBigintSql("fp")}) AS BIGINT) AS digest_sum,
        |  min(fp) AS fp_min, max(fp) AS fp_max
        |FROM c GROUP BY part ORDER BY part""".stripMargin,
    // streaming tombstone application == batch anti-join result
    "e_stream_forget" ->
      """SELECT doc_id FROM documents WHERE doc_id % 43 <> 0
        |ORDER BY doc_id""".stripMargin,
    // first 3 violating docs per (path, rule), null-explicit passes
    "v_rule_examples" ->
      """WITH viol AS (
        |  SELECT doc_id, 'lang' AS path, 'enum' AS rule FROM documents
        |    WHERE NOT (lang IS NULL OR lang IN ('en','de','fr','es'))
        |  UNION ALL
        |  SELECT doc_id, 'n_chars', 'maximum' FROM documents
        |    WHERE NOT (n_chars IS NULL OR n_chars <= 500)
        |  UNION ALL
        |  SELECT doc_id, 'source', 'pattern' FROM documents
        |    WHERE NOT (source IS NULL OR regexp_matches(source, '^src[0-3]$')))
        |SELECT doc_id, path, rule, CAST(rn AS INT) AS rn FROM (
        |  SELECT doc_id, path, rule, row_number() OVER (
        |    PARTITION BY path, rule ORDER BY doc_id) AS rn FROM viol) x
        |WHERE rn <= 3 ORDER BY path, rule, rn""".stripMargin,
    // exact interpolating quantiles per language (percentile_cont)
    "g_quantiles" ->
      """SELECT lang,
        |  round(quantile_cont(n_chars, 0.25), 6) AS p25,
        |  round(quantile_cont(n_chars, 0.5), 6) AS p50,
        |  round(quantile_cont(n_chars, 0.75), 6) AS p75,
        |  round(quantile_cont(n_chars, 0.95), 6) AS p95
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // prefix-containment pairs over the truncation-injected corpus
    "d_prefix_dups" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000,
        |    substr(text, 1, CAST(floor(len(text) / 2) AS INT))
        |  FROM documents WHERE doc_id % 17 = 0 AND len(text) >= 64),
        |k AS (SELECT doc_id, text, substr(text, 1, 32) AS b
        |  FROM corpus WHERE text IS NOT NULL AND len(text) >= 32)
        |SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(len(a.text) AS BIGINT) AS prefix_len
        |FROM k a JOIN k c ON a.b = c.b AND len(a.text) < len(c.text)
        |  AND starts_with(c.text, a.text)
        |ORDER BY id_a, id_b""".stripMargin,
    // islands of consecutive surviving ids (id - rank grouping)
    "g_id_gaps" ->
      """WITH ids AS (SELECT DISTINCT doc_id AS id FROM documents
        |  WHERE doc_id % 13 <> 0),
        |r AS (SELECT id, row_number() OVER (ORDER BY id) AS rn FROM ids)
        |SELECT min(id) AS start_id, max(id) AS end_id,
        |  CAST(count(*) AS BIGINT) AS n_ids
        |FROM r GROUP BY id - rn ORDER BY start_id""".stripMargin,
    // right-to-be-forgotten audit: per-table removed/kept counts plus the
    // post-apply residual re-check (independently recomputed, not assumed)
    "d_forget" ->
      """WITH del AS (SELECT DISTINCT doc_id AS d FROM documents
        |  WHERE doc_id % 43 = 0)
        |SELECT 'documents' AS tbl,
        |  CAST(count(*) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN doc_id IN (SELECT d FROM del) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS rows_removed,
        |  CAST(sum(CASE WHEN doc_id IN (SELECT d FROM del) THEN 0 ELSE 1 END)
        |    AS BIGINT) AS rows_kept,
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT doc_id FROM documents
        |     WHERE doc_id NOT IN (SELECT d FROM del)) k
        |   WHERE k.doc_id IN (SELECT d FROM del)) AS residual
        |FROM documents
        |UNION ALL
        |SELECT 'embeddings',
        |  CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN vec_id IN (SELECT d FROM del) THEN 1 ELSE 0 END)
        |    AS BIGINT),
        |  CAST(sum(CASE WHEN vec_id IN (SELECT d FROM del) THEN 0 ELSE 1 END)
        |    AS BIGINT),
        |  (SELECT CAST(count(*) AS BIGINT) FROM
        |    (SELECT vec_id FROM embeddings
        |     WHERE vec_id NOT IN (SELECT d FROM del)) k
        |   WHERE k.vec_id IN (SELECT d FROM del))
        |FROM embeddings
        |ORDER BY tbl""".stripMargin,
    // copy-on-write rewrite plan over the 100-docs-per-file manifest
    "d_forget_plan" ->
      """WITH m AS (SELECT 'f' || CAST(CAST(floor(doc_id / 100) AS BIGINT)
        |      AS VARCHAR) AS file,
        |    min(doc_id) AS min_id, max(doc_id) AS max_id
        |  FROM documents GROUP BY 1),
        |del AS (SELECT DISTINCT doc_id AS d FROM documents
        |  WHERE doc_id % 199 = 0),
        |hits AS (SELECT m.file, CAST(count(*) AS BIGINT) AS n
        |  FROM m JOIN del ON del.d BETWEEN m.min_id AND m.max_id
        |  GROUP BY m.file)
        |SELECT m.file, m.min_id, m.max_id,
        |  coalesce(hits.n, 0) AS n_tombstones,
        |  CASE WHEN coalesce(hits.n, 0) > 0 THEN 'rewrite' ELSE 'keep' END
        |    AS action
        |FROM m LEFT JOIN hits ON m.file = hits.file
        |ORDER BY m.file""".stripMargin,
    // rule-coverage triage (null-explicit: an absent property passes)
    "v_rule_coverage" ->
      """WITH g AS (SELECT CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN NOT (lang IS NULL
        |    OR lang IN ('en','de','fr','es')) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f_lang,
        |  CAST(sum(CASE WHEN NOT (n_chars IS NULL OR n_chars >= 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS f_chars,
        |  CAST(sum(CASE WHEN NOT (doc_id IS NULL OR doc_id <= -1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS f_id,
        |  CAST(sum(CASE WHEN NOT (source IS NULL
        |    OR regexp_matches(source, '^src[0-3]$')) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS f_src
        |  FROM documents),
        |r AS (
        |  SELECT 'lang_enum' AS rule, f_lang AS failed_docs, docs FROM g
        |  UNION ALL SELECT 'chars_nonneg', f_chars, docs FROM g
        |  UNION ALL SELECT 'impossible_id', f_id, docs FROM g
        |  UNION ALL SELECT 'src_pattern', f_src, docs FROM g)
        |SELECT rule, failed_docs, docs,
        |  round(CAST(failed_docs AS DOUBLE) / docs, 6) AS fail_rate,
        |  CASE WHEN failed_docs = 0 THEN 'silent'
        |       WHEN failed_docs = docs THEN 'always'
        |       ELSE 'firing' END AS status
        |FROM r ORDER BY rule""".stripMargin,
    // snapshot verdict regression: only the verdict FLIPS between v1 and
    // the row-wise derived v2 (null-explicit pass predicates)
    "v_verdict_regress" ->
      """WITH v AS (SELECT doc_id,
        |  (lang IS NULL OR lang IN ('en','de','fr','es')) AS lp1,
        |  (CASE WHEN doc_id % 31 = 0 THEN 'xx' ELSE lang END IS NULL
        |   OR CASE WHEN doc_id % 31 = 0 THEN 'xx' ELSE lang END
        |      IN ('en','de','fr','es')) AS lp2,
        |  (n_chars IS NULL OR n_chars <= 500) AS np1,
        |  (CASE WHEN doc_id % 37 = 0 THEN n_chars + 600 ELSE n_chars END
        |     IS NULL
        |   OR CASE WHEN doc_id % 37 = 0 THEN n_chars + 600 ELSE n_chars END
        |      <= 500) AS np2,
        |  (source IS NULL OR regexp_matches(source, '^src[0-3]$')) AS sp1,
        |  (CASE WHEN doc_id % 2 = 0 AND NOT (source IS NULL
        |       OR regexp_matches(source, '^src[0-3]$'))
        |     THEN 'src0' ELSE source END IS NULL
        |   OR regexp_matches(CASE WHEN doc_id % 2 = 0 AND NOT (source IS NULL
        |       OR regexp_matches(source, '^src[0-3]$'))
        |     THEN 'src0' ELSE source END, '^src[0-3]$')) AS sp2
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, 'lang_enum' AS rule, lp1 AS p1, lp2 AS p2 FROM v
        |  UNION ALL SELECT doc_id, 'len_max', np1, np2 FROM v
        |  UNION ALL SELECT doc_id, 'src_pattern', sp1, sp2 FROM v)
        |SELECT doc_id, rule,
        |  CASE WHEN p1 AND NOT p2 THEN 'regressed' ELSE 'fixed' END AS change
        |FROM f WHERE (p1 AND NOT p2) OR (NOT p1 AND p2)
        |ORDER BY doc_id, rule""".stripMargin,
    // slice-lift failure attribution over (lang, source)
    "g_slice_lift" ->
      """WITH d AS (SELECT lang, source,
        |  CASE WHEN NOT (lang IS NULL OR lang IN ('en','de','fr','es'))
        |    OR NOT (n_chars IS NULL OR n_chars <= 500)
        |    THEN 1 ELSE 0 END AS fail FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS grows,
        |  CAST(sum(fail) AS BIGINT) AS gfailed FROM d),
        |s AS (
        |  SELECT 'lang' AS dim, lang AS value, CAST(count(*) AS BIGINT)
        |      AS rows, CAST(sum(fail) AS BIGINT) AS failed
        |    FROM d GROUP BY lang
        |  UNION ALL
        |  SELECT 'source', source, CAST(count(*) AS BIGINT),
        |      CAST(sum(fail) AS BIGINT)
        |    FROM d GROUP BY source)
        |SELECT dim, value, rows, failed,
        |  round(CAST(failed AS DOUBLE) / rows, 6) AS fail_rate,
        |  CASE WHEN gfailed > 0 THEN
        |    round((CAST(failed AS DOUBLE) / rows) /
        |          (CAST(gfailed AS DOUBLE) / grows), 6) END AS lift,
        |  (rows >= 5 AND coalesce(
        |    round((CAST(failed AS DOUBLE) / rows) /
        |          (CAST(gfailed AS DOUBLE) / grows), 6) >= 1.5, false))
        |    AS flagged
        |FROM s, g ORDER BY dim, value""".stripMargin,
    // exact global rank + ntile buckets (longest docs first)
    "p_curriculum" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
        |    AS rank,
        |  CAST(ntile(4) OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
        |    AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin,
    // top adjacent token pairs (first BPE merge candidates)
    "t_bpe_pairs" ->
      """WITH toks AS (SELECT list_filter(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+'), x -> x <> '') AS t FROM documents),
        |pr AS (SELECT t[i] || ' ' || t[i + 1] AS pair
        |  FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) > 1)
        |SELECT pair, CAST(count(*) AS BIGINT) AS occurrences
        |FROM pr GROUP BY pair ORDER BY occurrences DESC, pair
        |LIMIT 20""".stripMargin,
    // IVF recall audit vs planted twins: twin list assignment and probe
    // set replayed over the same trained centroid literals
    "s_ann_recall" ->
      """WITH c(cid, cvec) AS (VALUES __IVF_CENTROIDS__),
        |q AS (SELECT vec_id AS qid,
        |    CAST(embedding AS DOUBLE[]) AS qvec,
        |    list_concat([CAST(embedding[1] AS DOUBLE) + 0.5],
        |      CAST(embedding[2:] AS DOUBLE[])) AS tvec
        |  FROM embeddings WHERE vec_id % 20 = 0),
        |tl AS (SELECT qid, (SELECT c.cid FROM c
        |    ORDER BY list_cosine_similarity(q.tvec, c.cvec) DESC, c.cid DESC
        |    LIMIT 1) AS twin_list FROM q),
        |pr AS (SELECT qid,
        |    max(CASE WHEN rn = 1 THEN cid END) AS probe_1,
        |    max(CASE WHEN rn = 2 THEN cid END) AS probe_2
        |  FROM (SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY list_cosine_similarity(q.qvec, c.cvec) DESC,
        |        c.cid DESC) AS rn FROM q, c) x
        |  WHERE rn <= 2 GROUP BY qid)
        |SELECT tl.qid, tl.qid + 100000 AS twin_id, tl.twin_list,
        |  pr.probe_1, pr.probe_2,
        |  (tl.twin_list = pr.probe_1 OR tl.twin_list = pr.probe_2) AS covered
        |FROM tl JOIN pr ON tl.qid = pr.qid
        |ORDER BY tl.qid""".stripMargin,
    // (null-safe deep spans equality replays the engine's content-hash
    // anti-join), then the span invariant over the delta only
    "i_validate" ->
      """WITH a AS (SELECT * FROM '__GEN_V1_PATH__/*.parquet'),
        |b AS (SELECT * FROM '__GEN_V2_PATH__/*.parquet'),
        |delta AS (SELECT b.part, b.spans FROM b LEFT JOIN a
        |  ON b.doc_id = a.doc_id AND b.spans IS NOT DISTINCT FROM a.spans
        |  WHERE a.doc_id IS NULL),
        |per AS (SELECT part,
        |  (spans IS NULL
        |   OR len(list_filter(spans, s -> NOT coalesce(
        |        s.kind IN ('text', 'media')
        |        AND ((s.kind = 'media') = (coalesce(s.media_ref, '') <> ''))
        |        AND (coalesce(s.media_ref, '') = ''
        |             OR regexp_matches(s.media_ref, '^m-[0-9a-f]{8}$'))
        |        AND (s.kind <> 'text' OR (s.text IS NOT NULL AND s.text <> ''))
        |        AND (s."offset" IS NOT NULL AND s."offset" >= 0), false))) > 0
        |   OR coalesce(list_bool_or(list_transform(generate_series(2, len(spans)),
        |        i -> spans[i]."offset" <= spans[i-1]."offset")), false)
        |  ) AS failed FROM delta)
        |SELECT part, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS failed_docs
        |FROM per GROUP BY part ORDER BY part""".stripMargin,
    // custom-state streaming profile: every per-(user, slice) prefix the
    // state store walked through, replayed as window prefix aggregates
    "e_stream_state" ->
      """WITH e AS (SELECT user_id, event_id % 4 AS slice, epoch_us(ts) AS us
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |per AS (SELECT user_id, slice, CAST(count(*) AS BIGINT) AS c,
        |    max(us) AS mx
        |  FROM e GROUP BY 1, 2)
        |SELECT user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY slice)
        |    AS INT) AS upd_seq,
        |  CAST(sum(c) OVER (PARTITION BY user_id ORDER BY slice)
        |    AS BIGINT) AS events_seen,
        |  max(mx) OVER (PARTITION BY user_id ORDER BY slice) AS last_us
        |FROM per ORDER BY user_id, upd_seq""".stripMargin,
    // first-seen vocabulary novelty per doc_id % 8 crawl batch
    "t_novelty" ->
      """WITH w AS (SELECT CAST(doc_id % 8 AS BIGINT) AS batch,
        |    unnest(string_split_regex(
        |      lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |      '\s+')) AS token FROM documents),
        |tk AS (SELECT DISTINCT batch, token FROM w WHERE token <> ''),
        |tp AS (SELECT batch, CAST(count(*) AS BIGINT) AS n_types
        |  FROM tk GROUP BY 1),
        |fs AS (SELECT token, min(batch) AS batch FROM tk GROUP BY 1),
        |nv AS (SELECT batch, CAST(count(*) AS BIGINT) AS new_types
        |  FROM fs GROUP BY 1)
        |SELECT tp.batch, tp.n_types,
        |  CAST(coalesce(nv.new_types, 0) AS BIGINT) AS new_types,
        |  round(CAST(coalesce(nv.new_types, 0) AS DOUBLE) / tp.n_types, 6)
        |    AS new_share,
        |  CAST(sum(coalesce(nv.new_types, 0)) OVER (ORDER BY tp.batch)
        |    AS BIGINT) AS cum_types
        |FROM tp LEFT JOIN nv ON tp.batch = nv.batch
        |ORDER BY tp.batch""".stripMargin,
    // duplicate-scope attribution over the normalized content hash
    "d_dup_scope" ->
      """WITH k AS (SELECT md5(lower(regexp_replace(substr(text, 1, 12),
        |      '\s+', ' ', 'g'))) AS c, doc_id % 4 AS b
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT c, CAST(count(*) AS BIGINT) AS copies,
        |    count(DISTINCT b) AS nb
        |  FROM k GROUP BY c HAVING count(*) > 1)
        |SELECT CASE WHEN nb = 1 THEN 'intra_batch' ELSE 'cross_batch' END
        |    AS scope,
        |  CAST(count(*) AS BIGINT) AS dup_keys,
        |  CAST(sum(copies - 1) AS BIGINT) AS excess_rows
        |FROM g GROUP BY 1 ORDER BY scope""".stripMargin,
    // categorical domain drift: 'pt' added (doc_id % 41 remap), 'es'
    // removed, shares over each side's own total
    "v_enum_drift" ->
      """WITH v2 AS (SELECT CASE WHEN doc_id % 41 = 0 THEN 'pt' ELSE lang
        |      END AS lang
        |  FROM documents WHERE lang IS NULL OR lang <> 'es'),
        |c1 AS (SELECT lang AS value, CAST(count(*) AS BIGINT) AS n1
        |  FROM documents GROUP BY 1),
        |c2 AS (SELECT lang AS value, CAST(count(*) AS BIGINT) AS n2
        |  FROM v2 GROUP BY 1),
        |j AS (SELECT coalesce(c1.value, c2.value) AS value, n1, n2
        |  FROM c1 FULL OUTER JOIN c2
        |    ON c1.value IS NOT DISTINCT FROM c2.value),
        |t AS (SELECT value, n1, n2,
        |    sum(coalesce(n1, 0)) OVER () AS t1,
        |    sum(coalesce(n2, 0)) OVER () AS t2 FROM j)
        |SELECT value,
        |  CASE WHEN n1 IS NULL THEN 'added'
        |       WHEN n2 IS NULL THEN 'removed' ELSE 'kept' END AS status,
        |  CAST(coalesce(n1, 0) AS BIGINT) AS n_v1,
        |  CAST(coalesce(n2, 0) AS BIGINT) AS n_v2,
        |  CASE WHEN t1 > 0
        |    THEN round(CAST(coalesce(n1, 0) AS DOUBLE) / t1, 6) END
        |    AS share_v1,
        |  CASE WHEN t2 > 0
        |    THEN round(CAST(coalesce(n2, 0) AS DOUBLE) / t2, 6) END
        |    AS share_v2,
        |  CASE WHEN t1 > 0 AND t2 > 0
        |    THEN round(CAST(coalesce(n2, 0) AS DOUBLE) / t2
        |      - CAST(coalesce(n1, 0) AS DOUBLE) / t1, 6) END
        |    AS share_delta
        |FROM t ORDER BY value""".stripMargin,
    // unreferenced catalog entries (reverse anti-join of g_ref_integrity)
    "g_ref_unused" ->
      """WITH cat AS (SELECT 'm-' || lpad(CAST(p_partkey % 100000000
        |      AS VARCHAR), 8, '0') AS media_ref
        |  FROM part WHERE p_partkey % 10 <> 3),
        |refs AS (SELECT DISTINCT 'm-' || lpad(CAST(l_partkey % 100000000
        |      AS VARCHAR), 8, '0') AS r
        |  FROM lineitem WHERE l_returnflag = 'R')
        |SELECT media_ref FROM cat
        |WHERE media_ref NOT IN (SELECT r FROM refs)
        |ORDER BY media_ref""".stripMargin,
    // fail-fast first-caught profile in declared rule order
    "v_failfast" ->
      """WITH d AS (SELECT CASE
        |    WHEN NOT (lang IS NULL OR lang IN ('en','de','fr','es'))
        |      THEN 0
        |    WHEN NOT (n_chars IS NULL OR n_chars >= 0) THEN 1
        |    WHEN NOT (doc_id IS NULL OR doc_id <= -1) THEN 2
        |    WHEN NOT (source IS NULL
        |      OR regexp_matches(source, '^src[0-3]$')) THEN 3
        |    ELSE -1 END AS idx FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS docs FROM d),
        |r(idx, rule, rank) AS (VALUES (0, 'lang_enum', 1),
        |  (1, 'chars_nonneg', 2), (2, 'impossible_id', 3),
        |  (3, 'src_pattern', 4)),
        |c AS (SELECT idx, CAST(count(*) AS BIGINT) AS n FROM d
        |  WHERE idx >= 0 GROUP BY idx)
        |SELECT r.rule, r.rank,
        |  CAST(coalesce(c.n, 0) AS BIGINT) AS first_caught,
        |  CAST(sum(coalesce(c.n, 0)) OVER (ORDER BY r.rank) AS BIGINT)
        |    AS cum_caught,
        |  g.docs,
        |  CASE WHEN g.docs > 0 THEN round(CAST(sum(coalesce(c.n, 0))
        |    OVER (ORDER BY r.rank) AS DOUBLE) / g.docs, 6) END
        |    AS cum_share
        |FROM r LEFT JOIN c ON r.idx = c.idx, g
        |ORDER BY r.rank""".stripMargin,
    // per-category chi2 cells: same expected-count algebra, windowed
    // totals, contribution rounded before ranking
    "g_drift_cells" ->
      """WITH a AS (SELECT lang AS category, CAST(count(*) AS BIGINT) AS ca
        |  FROM documents WHERE lang IS NOT NULL GROUP BY 1),
        |b0 AS (SELECT CASE WHEN doc_id % 31 = 0 THEN 'xx' ELSE lang END
        |    AS category FROM documents),
        |b AS (SELECT category, CAST(count(*) AS BIGINT) AS cb FROM b0
        |  WHERE category IS NOT NULL GROUP BY 1),
        |j AS (SELECT coalesce(a.category, b.category) AS category,
        |    coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        |  FROM a FULL OUTER JOIN b ON b.category = a.category),
        |t AS (SELECT category, ca, cb, sum(ca) OVER () AS na,
        |    sum(cb) OVER () AS nb FROM j),
        |e AS (SELECT category, ca, cb,
        |    CAST(ca + cb AS DOUBLE) * na / (na + nb) AS ea,
        |    CAST(ca + cb AS DOUBLE) * nb / (na + nb) AS eb FROM t),
        |c AS (SELECT category, ca, cb,
        |    round(ea, 4) AS expected_a, round(eb, 4) AS expected_b,
        |    round((ca - ea) * (ca - ea) / ea
        |      + (cb - eb) * (cb - eb) / eb, 6) AS contribution FROM e)
        |SELECT category, ca, cb, expected_a, expected_b, contribution,
        |  CASE WHEN sum(contribution) OVER () > 0
        |    THEN round(contribution / sum(contribution) OVER (), 6) END
        |    AS stat_share,
        |  row_number() OVER (ORDER BY contribution DESC, category)
        |    AS drift_rank
        |FROM c ORDER BY category""".stripMargin,
    // rule stability: md5-threshold buckets, per-bucket rates rounded
    // before min/max — no cross-engine summation anywhere
    "v_rule_stability" ->
      s"""WITH d AS (SELECT *,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.25)}' THEN 0
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.5)}' THEN 1
        |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |         < '${Sampling.thresholdHex(0.75)}' THEN 2
        |       ELSE 3 END AS b
        |  FROM documents),
        |g AS (SELECT b, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN NOT (lang IS NULL
        |    OR lang IN ('en','de','fr','es')) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS f_lang,
        |  CAST(sum(CASE WHEN NOT (n_chars IS NULL OR n_chars >= 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS f_chars,
        |  CAST(sum(CASE WHEN NOT (doc_id IS NULL OR doc_id <= -1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS f_id,
        |  CAST(sum(CASE WHEN NOT (source IS NULL
        |    OR regexp_matches(source, '^src[0-3]$$')) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS f_src
        |  FROM d GROUP BY 1),
        |r AS (
        |  SELECT 'lang_enum' AS rule, b, docs, f_lang AS caught FROM g
        |  UNION ALL SELECT 'chars_nonneg', b, docs, f_chars FROM g
        |  UNION ALL SELECT 'impossible_id', b, docs, f_id FROM g
        |  UNION ALL SELECT 'src_pattern', b, docs, f_src FROM g),
        |rr AS (SELECT rule, docs, caught,
        |  round(CAST(caught AS DOUBLE) / docs, 6) AS rate FROM r)
        |SELECT rule, CAST(sum(docs) AS BIGINT) AS docs,
        |  CAST(sum(caught) AS BIGINT) AS caught,
        |  CASE WHEN sum(docs) > 0 THEN
        |    round(CAST(sum(caught) AS DOUBLE) / sum(docs), 6) END
        |    AS overall_rate,
        |  min(rate) AS min_bucket_rate, max(rate) AS max_bucket_rate,
        |  round(max(rate) - min(rate), 6) AS spread
        |FROM rr GROUP BY rule ORDER BY rule""".stripMargin,
    // composite DQ score: the three rates + weighted blend, normalized
    // content hash matches Dedup.contentHash (no trim)
    "g_dq_score" ->
      """WITH d AS (SELECT source, doc_id, text, n_chars,
        |    CASE WHEN doc_id % 23 = 0 THEN NULL ELSE lang END AS lang
        |  FROM documents),
        |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id IS NOT NULL AND lang IS NOT NULL
        |    THEN 1 ELSE 0 END) AS BIGINT) AS c,
        |  CAST(sum(CASE WHEN (lang IS NULL
        |      OR lang IN ('en','de','fr','es'))
        |    AND (n_chars IS NULL OR n_chars >= 0) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS v,
        |  CAST(count(DISTINCT md5(lower(
        |    regexp_replace(text, '\s+', ' ', 'g')))) AS BIGINT) AS u
        |  FROM d GROUP BY 1)
        |SELECT source, n_docs,
        |  round(CAST(c AS DOUBLE) / n_docs, 6) AS completeness,
        |  round(CAST(v AS DOUBLE) / n_docs, 6) AS validity,
        |  round(CAST(u AS DOUBLE) / n_docs, 6) AS uniqueness,
        |  round((CAST(1.0 AS DOUBLE) * c + CAST(1.0 AS DOUBLE) * v
        |      + CAST(1.0 AS DOUBLE) * u)
        |    / (n_docs * CAST(3.0 AS DOUBLE)), 6) AS dq_score
        |FROM g ORDER BY source""".stripMargin,
    // volume contract: per-part counts vs declared [min, max]
    "v_volume_contract" ->
      """SELECT doc_id % 7 AS part_key, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(72 AS BIGINT) AS min_rows, CAST(200 AS BIGINT) AS max_rows,
        |  CASE WHEN count(*) < 72 THEN 'under'
        |       WHEN count(*) > 200 THEN 'over' END AS breach
        |FROM documents GROUP BY 1 ORDER BY part_key""".stripMargin,
    // cross-field audit: CASE sums + conditional min per invariant over
    // the same corrupted view
    "v_cross_field" ->
      """WITH d AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 41 = 0 THEN n_chars + 1 ELSE n_chars END
        |      AS n_chars
        |  FROM documents),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN NOT coalesce(n_chars = len(text), FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |  min(CASE WHEN NOT coalesce(n_chars = len(text), FALSE)
        |    THEN doc_id END) AS id1,
        |  CAST(sum(CASE WHEN NOT coalesce(doc_id >= 0, FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |  min(CASE WHEN NOT coalesce(doc_id >= 0, FALSE)
        |    THEN doc_id END) AS id2,
        |  CAST(sum(CASE WHEN NOT coalesce(len(text) > 0, FALSE)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS v3,
        |  min(CASE WHEN NOT coalesce(len(text) > 0, FALSE)
        |    THEN doc_id END) AS id3
        |  FROM d),
        |r AS (
        |  SELECT 'chars_match' AS invariant, v1 AS n_viol, docs,
        |    id1 AS first_bad_id FROM g
        |  UNION ALL SELECT 'id_nonneg', v2, docs, id2 FROM g
        |  UNION ALL SELECT 'text_nonempty', v3, docs, id3 FROM g)
        |SELECT invariant, n_viol, docs,
        |  CASE WHEN docs > 0
        |    THEN round(CAST(n_viol AS DOUBLE) / docs, 6) END AS viol_rate,
        |  first_bad_id
        |FROM r ORDER BY invariant""".stripMargin,
    // cost-aware fail-fast schedule: independent catch rates (same
    // null-explicit predicates as v_rule_coverage), ranked by ROUNDED
    // catch_rate / cost with the rule name as tie-break
    "v_rule_schedule" ->
      """WITH g AS (SELECT CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN NOT (lang IS NULL
        |    OR lang IN ('en','de','fr','es')) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS f_lang,
        |  CAST(sum(CASE WHEN NOT (n_chars IS NULL OR n_chars >= 0)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS f_chars,
        |  CAST(sum(CASE WHEN NOT (doc_id IS NULL OR doc_id <= -1)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS f_id,
        |  CAST(sum(CASE WHEN NOT (source IS NULL
        |    OR regexp_matches(source, '^src[0-3]$')) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS f_src
        |  FROM documents),
        |r AS (
        |  SELECT 'lang_enum' AS rule, f_lang AS caught, docs,
        |    CAST(1.0 AS DOUBLE) AS cost FROM g
        |  UNION ALL SELECT 'chars_nonneg', f_chars, docs,
        |    CAST(0.5 AS DOUBLE) FROM g
        |  UNION ALL SELECT 'impossible_id', f_id, docs,
        |    CAST(0.5 AS DOUBLE) FROM g
        |  UNION ALL SELECT 'src_pattern', f_src, docs,
        |    CAST(4.0 AS DOUBLE) FROM g),
        |e AS (SELECT rule, caught, docs, cost,
        |  CASE WHEN docs > 0
        |    THEN round(CAST(caught AS DOUBLE) / docs, 6) END AS catch_rate,
        |  CASE WHEN docs > 0
        |    THEN round(CAST(caught AS DOUBLE) / docs / cost, 6) END
        |    AS efficiency
        |  FROM r)
        |SELECT rule, caught, docs, cost, catch_rate, efficiency,
        |  row_number() OVER (ORDER BY efficiency DESC NULLS LAST, rule)
        |    AS sched_rank
        |FROM e ORDER BY rule""".stripMargin,
    // Mann-Kendall S/var/z per event_type + the planted _ramp series
    "g_trend_mk" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |  UNION ALL
        |  SELECT '_ramp', d, CAST(row_number() OVER (ORDER BY d) AS BIGINT)
        |  FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
        |        WHERE ts IS NOT NULL) x),
        |p AS (SELECT a.event_type AS k,
        |    CAST(sum(sign(b.v - a.v)) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type IS NOT DISTINCT FROM b.event_type
        |    AND a.d < b.d
        |  GROUP BY 1),
        |n AS (SELECT event_type AS k, CAST(count(*) AS BIGINT) AS n_obs
        |  FROM daily GROUP BY 1),
        |t AS (SELECT event_type AS k,
        |    CAST(sum(tj * (tj - 1) * (2 * tj + 5)) AS BIGINT) AS tie
        |  FROM (SELECT event_type, v, CAST(count(*) AS BIGINT) AS tj
        |        FROM daily GROUP BY 1, 2) q GROUP BY 1),
        |j AS (SELECT n.k, n.n_obs,
        |    CAST(coalesce(p.s_stat, 0) AS BIGINT) AS s_stat,
        |    CAST(n.n_obs * (n.n_obs - 1) * (2 * n.n_obs + 5) - t.tie
        |      AS DOUBLE) / 18.0 AS var_s
        |  FROM n JOIN t ON n.k IS NOT DISTINCT FROM t.k
        |  LEFT JOIN p ON n.k IS NOT DISTINCT FROM p.k),
        |zc AS (SELECT k, n_obs, s_stat,
        |    CASE WHEN var_s > 0 THEN round(var_s, 6) END AS var_s,
        |    CASE WHEN var_s > 0 THEN
        |      CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
        |           WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
        |           ELSE 0.0 END END AS zr
        |  FROM j)
        |SELECT k AS event_type, n_obs, s_stat, var_s,
        |  round(zr, 6) AS z,
        |  CASE WHEN zr IS NULL THEN 'insufficient'
        |       WHEN zr > 1.96 THEN 'increasing'
        |       WHEN zr < -1.96 THEN 'decreasing'
        |       ELSE 'no_trend' END AS trend
        |FROM zc ORDER BY event_type""".stripMargin,
    // integer-exact centered-CUSUM argmax per series (+ planted _step)
    "g_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |  UNION ALL
        |  SELECT '_step', d, CASE WHEN r <= 15 THEN 10 ELSE 60 END
        |  FROM (SELECT d, row_number() OVER (ORDER BY d) AS r
        |        FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
        |              WHERE ts IS NOT NULL) y) x),
        |s AS (SELECT event_type, d, v,
        |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
        |      AS BIGINT) AS i,
        |    CAST(sum(v) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS c,
        |    CAST(sum(v) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM daily),
        |g AS (SELECT *, abs(n * c - i * tot) AS gg FROM s WHERE i < n),
        |m AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gg DESC, i) AS rn FROM g)
        |SELECT event_type, n AS n_obs, CAST(d AS VARCHAR) AS split_t,
        |  CAST(gg AS BIGINT) AS g_max,
        |  round(CAST(c AS DOUBLE) / i, 6) AS mean_before,
        |  round(CAST(tot - c AS DOUBLE) / (n - i), 6) AS mean_after,
        |  round(CAST(tot - c AS DOUBLE) / (n - i)
        |    - CAST(c AS DOUBLE) / i, 6) AS shift
        |FROM m WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // per-language top-5 tokens, count desc / token asc
    "t_top_seg" ->
      """WITH w AS (SELECT lang AS segment, unnest(string_split_regex(
        |    lower(regexp_replace(trim(text), '[^\p{L}\p{N}\s]', ' ', 'g')),
        |    '\s+')) AS token FROM documents),
        |c AS (SELECT segment, token, CAST(count(*) AS BIGINT)
        |    AS occurrences FROM w WHERE token <> '' GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY segment
        |    ORDER BY occurrences DESC, token) AS INT) AS rank FROM c)
        |SELECT segment, token, occurrences, rank FROM r WHERE rank <= 5
        |ORDER BY segment, rank""".stripMargin,
    // sweep-line peak concurrency per day (30-min activity intervals,
    // ends before starts on ties, intervals clipped at midnight)
    "e_concurrency" ->
      """WITH b AS (SELECT
        |    CAST(floor(epoch_us(ts) / 1000000) AS BIGINT) AS s,
        |    CAST(floor(floor(epoch_us(ts) / 1000000) / 86400) * 86400
        |      AS BIGINT) AS day0
        |  FROM events WHERE ts IS NOT NULL),
        |d AS (SELECT day0, s AS t, 1 AS delta FROM b
        |  UNION ALL
        |  SELECT day0, least(s + 1800, day0 + 86400), -1 FROM b),
        |c AS (SELECT day0, t, CAST(sum(delta) OVER (PARTITION BY day0
        |    ORDER BY t, delta ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS BIGINT) AS cur FROM d),
        |m AS (SELECT day0, t, cur, row_number() OVER (PARTITION BY day0
        |    ORDER BY cur DESC, t) AS rn FROM c)
        |SELECT CAST(CAST(epoch_ms(day0 * 1000) AS DATE) AS VARCHAR)
        |    AS day,
        |  cur AS peak_concurrency, t AS first_peak_s
        |FROM m WHERE rn = 1 ORDER BY day""".stripMargin,
    // near-miss suggestions: the oracle brute-forces levenshtein over the
    // (dangling x catalog) product — tiny at oracle scale, and a fully
    // independent implementation of the same contract
    "g_ref_suggest" ->
      """WITH cat AS (SELECT DISTINCT 'm-' || lpad(CAST(p_partkey % 100000000
        |      AS VARCHAR), 8, '0') AS s
        |  FROM part WHERE p_partkey % 10 <> 3),
        |refs AS (SELECT DISTINCT 'm-' || lpad(CAST(l_partkey % 100000000
        |      AS VARCHAR), 8, '0') AS r
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |dang AS (SELECT r FROM refs WHERE r NOT IN (SELECT s FROM cat))
        |SELECT d.r AS media_ref, c.s AS suggestion,
        |  CAST(levenshtein(d.r, c.s) AS INT) AS distance
        |FROM dang d JOIN cat c ON levenshtein(d.r, c.s) <= 1
        |ORDER BY media_ref, suggestion""".stripMargin,
    // state-store episodes == ALL gaps-and-islands runs over (key, week):
    // mid-stream expiries + the AvailableNow trailing-batch flush
    "e_stream_evict" ->
      """WITH e AS (SELECT user_id, ts,
        |    least(greatest(CAST(floor(date_diff('day', DATE '2024-01-01',
        |      CAST(ts AS DATE)) / 7) AS INT), 0), 3) AS sl
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |base AS (SELECT user_id, ts, sl FROM e
        |  UNION ALL
        |  SELECT user_id + 1000000, ts, sl FROM e
        |  WHERE user_id % 7 = 0 AND sl IN (0, 2)),
        |act AS (SELECT user_id, sl, CAST(count(*) AS BIGINT) AS n,
        |    max(epoch_us(ts)) AS mx FROM base GROUP BY 1, 2),
        |r AS (SELECT *, sl - dense_rank() OVER (PARTITION BY user_id
        |    ORDER BY sl) AS grp FROM act),
        |ep AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS events_seen,
        |    max(mx) AS last_us
        |  FROM r GROUP BY user_id, grp)
        |SELECT user_id, events_seen, last_us FROM ep
        |ORDER BY user_id, last_us""".stripMargin,
    // temperature shares: sqrt is correctly-rounded IEEE on both engines
    "p_mixture_temp" ->
      """WITH m AS (SELECT lang AS source,
        |    CAST(sum(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1),
        |s AS (SELECT source, mass,
        |    CAST(mass AS DOUBLE) AS md, sqrt(CAST(mass AS DOUBLE)) AS pd
        |  FROM m),
        |t AS (SELECT source, mass,
        |    CASE WHEN sum(md) OVER () > 0 THEN md / sum(md) OVER () END
        |      AS sh,
        |    CASE WHEN sum(pd) OVER () > 0 THEN pd / sum(pd) OVER () END
        |      AS tsh
        |  FROM s)
        |SELECT source, mass, round(sh, 6) AS share,
        |  round(tsh, 6) AS temp_share,
        |  CASE WHEN sh > 0 THEN round(tsh / sh, 6) END AS boost
        |FROM t ORDER BY source""".stripMargin,
    // footer sums from an independent parquet reader
    "l_footers" ->
      """WITH m AS (SELECT * FROM parquet_metadata('__SF_DIR__/*.parquet')),
        |rg AS (SELECT file_name, row_group_id,
        |    max(row_group_num_rows) AS rg_rows,
        |    CAST(sum(total_compressed_size) AS BIGINT) AS comp,
        |    CAST(sum(total_uncompressed_size) AS BIGINT) AS unc
        |  FROM m GROUP BY 1, 2)
        |SELECT regexp_extract(file_name, '[^/]+$') AS file,
        |  CAST(count(*) AS INT) AS row_groups,
        |  CAST(sum(rg_rows) AS BIGINT) AS rows,
        |  CAST(sum(comp) AS BIGINT) AS compressed_bytes,
        |  CAST(sum(unc) AS BIGINT) AS uncompressed_bytes
        |FROM rg GROUP BY 1 ORDER BY file""".stripMargin,
    // span-degree histogram of media assets
    "g_ref_degree" ->
      """WITH deg AS (SELECT 'm-' || lpad(CAST(l_partkey % 100000000
        |      AS VARCHAR), 8, '0') AS r,
        |    CAST(count(*) AS BIGINT) AS n_spans
        |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT n_spans, CAST(count(*) AS BIGINT) AS n_assets
        |FROM deg GROUP BY 1 ORDER BY n_spans""".stripMargin,
    // ACF lags 1..7 from integer moment sums (+ the planted _wave)
    "e_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |  UNION ALL
        |  SELECT '_wave', d, CASE WHEN r % 3 = 0 THEN 30 ELSE 10 END
        |  FROM (SELECT d, row_number() OVER (ORDER BY d) AS r
        |        FROM (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events
        |              WHERE ts IS NOT NULL) y) x),
        |s AS (SELECT event_type, v,
        |    lead(v, 1) OVER w AS l1, lead(v, 2) OVER w AS l2,
        |    lead(v, 3) OVER w AS l3, lead(v, 4) OVER w AS l4,
        |    lead(v, 5) OVER w AS l5, lead(v, 6) OVER w AS l6,
        |    lead(v, 7) OVER w AS l7
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |u AS (
        |  SELECT event_type, 1 AS lag, v AS x, l1 AS y FROM s
        |  UNION ALL SELECT event_type, 2, v, l2 FROM s
        |  UNION ALL SELECT event_type, 3, v, l3 FROM s
        |  UNION ALL SELECT event_type, 4, v, l4 FROM s
        |  UNION ALL SELECT event_type, 5, v, l5 FROM s
        |  UNION ALL SELECT event_type, 6, v, l6 FROM s
        |  UNION ALL SELECT event_type, 7, v, l7 FROM s),
        |g AS (SELECT event_type, lag,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN x ELSE 0 END) AS BIGINT)
        |      AS sx,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN y ELSE 0 END) AS BIGINT)
        |      AS sy,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN x * x ELSE 0 END)
        |      AS BIGINT) AS sxx,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN y * y ELSE 0 END)
        |      AS BIGINT) AS syy,
        |    CAST(sum(CASE WHEN y IS NOT NULL THEN x * y ELSE 0 END)
        |      AS BIGINT) AS sxy
        |  FROM u GROUP BY 1, 2)
        |SELECT event_type, CAST(lag AS INT) AS lag, n AS n_pairs,
        |  CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
        |         AND n * syy - sy * sy > 0
        |    THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
        |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |           * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS r
        |FROM g ORDER BY event_type, lag""".stripMargin,
    // 3-step ordered funnel with per-stage conversion
    "e_funnel_steps" ->
      """WITH su AS (SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE ts IS NOT NULL AND event_type = 'signup'
        |  GROUP BY user_id),
        |vw AS (SELECT e.user_id, min(e.ts) AS t1 FROM events e
        |  JOIN su ON e.user_id = su.user_id
        |  WHERE e.ts IS NOT NULL AND e.event_type = 'view'
        |    AND e.ts > su.t0 AND e.ts <= su.t0 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |pu AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN vw ON e.user_id = vw.user_id
        |  WHERE e.ts IS NOT NULL AND e.event_type = 'purchase'
        |    AND e.ts > vw.t1 AND e.ts <= vw.t1 + INTERVAL 7 DAY
        |  GROUP BY e.user_id),
        |steps AS (
        |  SELECT 1 AS step, 'signup' AS stage,
        |    CAST(count(*) AS BIGINT) AS users FROM su
        |  UNION ALL SELECT 2, 'view', CAST(count(*) AS BIGINT) FROM vw
        |  UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM pu)
        |SELECT CAST(step AS INT) AS step, stage, users,
        |  CASE WHEN lag(users, 1) OVER (ORDER BY step) > 0
        |    THEN round(CAST(users AS DOUBLE)
        |      / lag(users, 1) OVER (ORDER BY step), 6) END
        |    AS conv_from_prev
        |FROM steps ORDER BY step""".stripMargin,
    // top offending values per rule (the '<null>' sentinel keeps
    // cross-engine ordering independent of NULL placement)
    "v_offenders" ->
      """WITH viol AS (
        |  SELECT 'lang_enum' AS rule,
        |    coalesce(CAST(lang AS VARCHAR), '<null>') AS value
        |  FROM documents
        |  WHERE NOT (lang IS NULL OR lang IN ('en','de','fr','es'))
        |  UNION ALL
        |  SELECT 'len_max', coalesce(CAST(n_chars AS VARCHAR), '<null>')
        |  FROM documents WHERE NOT (n_chars IS NULL OR n_chars <= 500)
        |  UNION ALL
        |  SELECT 'src_pattern', coalesce(CAST(source AS VARCHAR), '<null>')
        |  FROM documents
        |  WHERE NOT (source IS NULL
        |    OR regexp_matches(source, '^src[0-3]$'))),
        |c AS (SELECT rule, value, CAST(count(*) AS BIGINT) AS occurrences
        |  FROM viol GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY rule
        |    ORDER BY occurrences DESC, value) AS INT) AS rank FROM c)
        |SELECT rule, value, occurrences, rank FROM r WHERE rank <= 3
        |ORDER BY rule, rank""".stripMargin,
    // blocked fuzzy linkage: same blocking, cap, and banded-lev semantics
    "d_linkage" ->
      """WITH base AS (
        |  SELECT doc_id AS id, lower(substr(trim(text), 1, 24)) AS name
        |  FROM documents WHERE text IS NOT NULL
        |  UNION ALL
        |  SELECT doc_id + 1000000000,
        |    substr(nm, 1, 5) || 'x' || substr(nm, 7, 18)
        |  FROM (SELECT doc_id, lower(substr(trim(text), 1, 24)) AS nm
        |        FROM documents WHERE text IS NOT NULL)
        |  WHERE doc_id % 97 = 0),
        |named AS (SELECT id, name FROM base
        |  WHERE name IS NOT NULL AND length(name) >= 4),
        |keyed AS (
        |  SELECT id, name, 'p' || substr(name, 1, 4) AS bkey FROM named
        |  UNION ALL
        |  SELECT id, name, 's' || substr(name, -4, 4) FROM named),
        |ok AS (SELECT * FROM keyed
        |  QUALIFY count(*) OVER (PARTITION BY bkey) <= 2000),
        |pairs AS (
        |  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
        |    CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |  FROM ok a JOIN ok b USING (bkey)
        |  WHERE a.id < b.id AND abs(length(a.name) - length(b.name)) <= 2
        |    AND levenshtein(a.name, b.name) <= 2)
        |SELECT id_a, id_b, dist FROM pairs ORDER BY id_a, id_b""".stripMargin,
    // calibration bins from exact integral sums (milli-score, pass count)
    "g_calibration" ->
      """WITH c AS (
        |  SELECT least(n_chars, 1000) AS sm,
        |    CASE WHEN (lang IS NULL OR lang IN ('en','de','fr','es'))
        |      AND (source IS NULL OR regexp_matches(source, '^src[0-3]$'))
        |      THEN 1 ELSE 0 END AS p
        |  FROM documents WHERE n_chars IS NOT NULL),
        |b AS (SELECT CAST(least((sm * 10) // 1000, 9) AS BIGINT) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(p) AS BIGINT) AS n_pass,
        |    CAST(sum(sm) AS BIGINT) AS sum_milli
        |  FROM c GROUP BY 1)
        |SELECT bin, n, n_pass, sum_milli,
        |  round(sum_milli / (n * 1000), 6) AS mean_score,
        |  round(n_pass / n, 6) AS pass_rate,
        |  round(abs(sum_milli - 1000 * n_pass) / (n * 1000), 6) AS gap
        |FROM b ORDER BY bin""".stripMargin,
    // skew advisor: integer cross-multiplied flag + integer-DIV salt
    "l_skew" ->
      """WITH u AS (
        |  SELECT CAST(user_id AS VARCHAR) AS key FROM events
        |  UNION ALL
        |  SELECT '9999' FROM events WHERE event_id % 5 = 0),
        |uc AS (SELECT key, CAST(count(*) AS BIGINT) AS rows
        |  FROM u GROUP BY 1),
        |ut AS (SELECT sum(rows) AS total, count(*) AS nkeys FROM uc),
        |ua AS (SELECT 'user_id' AS key_col, key, rows,
        |    round(rows / total, 6) AS share,
        |    CAST((rows + 499) // 500 AS BIGINT) AS salt_factor
        |  FROM uc, ut WHERE rows * nkeys > 2 * total),
        |e AS (SELECT event_type AS key FROM events),
        |ec AS (SELECT key, CAST(count(*) AS BIGINT) AS rows
        |  FROM e GROUP BY 1),
        |et AS (SELECT sum(rows) AS total, count(*) AS nkeys FROM ec),
        |ea AS (SELECT 'event_type' AS key_col, key, rows,
        |    round(rows / total, 6) AS share,
        |    CAST((rows + 499) // 500 AS BIGINT) AS salt_factor
        |  FROM ec, et WHERE rows * nkeys > 1 * total)
        |SELECT * FROM ua UNION ALL SELECT * FROM ea
        |ORDER BY key_col, rows DESC, key""".stripMargin,
    // join-explosion pre-flight: per-key n*n inner-join contributions of
    // the user_id self-join, integer cross-multiplied hot flag, top-50
    "l_join_explosion" ->
      """WITH base AS (SELECT CASE WHEN event_id % 5 = 0 THEN 9999
        |    ELSE user_id END AS key FROM events),
        |c AS (SELECT key, CAST(count(*) AS BIGINT) AS n
        |  FROM base WHERE key IS NOT NULL GROUP BY 1),
        |j AS (SELECT key, n AS rows_left, n AS rows_right,
        |    CAST(n AS DOUBLE) * n AS out_rows FROM c),
        |g AS (SELECT sum(out_rows) AS total,
        |    CAST(count(*) AS BIGINT) AS n_keys FROM j)
        |SELECT key, rows_left, rows_right, out_rows,
        |  round(out_rows / total, 6) AS share,
        |  (out_rows * n_keys > 4 * total) AS hot
        |FROM j, g ORDER BY out_rows DESC, key LIMIT 50""".stripMargin,
    "gen_validate" ->
      """WITH d AS (SELECT part, spans FROM '__GEN_DOCS_PATH__/*.parquet'),
        |per AS (SELECT part,
        |  (spans IS NULL
        |   OR len(list_filter(spans, s -> NOT coalesce(
        |        s.kind IN ('text', 'media')
        |        AND ((s.kind = 'media') = (coalesce(s.media_ref, '') <> ''))
        |        AND (coalesce(s.media_ref, '') = ''
        |             OR regexp_matches(s.media_ref, '^m-[0-9a-f]{8}$'))
        |        AND (s.kind <> 'text' OR (s.text IS NOT NULL AND s.text <> ''))
        |        AND (s."offset" IS NOT NULL AND s."offset" >= 0), false))) > 0
        |   OR coalesce(list_bool_or(list_transform(generate_series(2, len(spans)),
        |        i -> spans[i]."offset" <= spans[i-1]."offset")), false)
        |  ) AS failed FROM d)
        |SELECT part, CAST(count(*) AS BIGINT) AS docs,
        |  CAST(sum(CASE WHEN failed THEN 1 ELSE 0 END) AS BIGINT) AS failed_docs
        |FROM per GROUP BY part ORDER BY part""".stripMargin)

  /** [[oracleSql]] with runtime-computed literals substituted: the trained
    * IVF centroids are rendered into the `__IVF_CENTROIDS__` placeholder as
    * a DuckDB VALUES list, so the oracle replays the exact argmax assignment
    * over the exact trained quantizer (full-precision Double round-trip).
    * Verify dumps THIS map; the raw [[oracleSql]] keeps the placeholder.
    */
  def oracleSqlResolved(s: SparkSession, dir: String): Map[String, String] = {
    val lits = ivfCentroids(s, dir).zipWithIndex.map { case (c, i) =>
      s"($i, [${c.mkString(", ")}]::DOUBLE[])"
    }.mkString(", ")
    // the s_ann_lsh plane matrix (nTables=4, nPlanes=6, dims=64 — must
    // match the queries() call; 2^6 buckets/table ≈ 5-10k vectors each at
    // the bench corpus size, the dir-count/probe-scoring sweet spot) as
    // (tbl, plane, comps) literal rows
    val planes = (for { tbl <- 0 until 4; pl <- 0 until 6 } yield {
      val comps = (0 until 64).map(d => Similarity.planeComponentScala(tbl, pl, d))
      s"($tbl, $pl, [${comps.mkString(", ")}]::DOUBLE[])"
    }).mkString(", ")
    oracleSql.map { case (k, v) =>
      k -> v.replace("__IVF_CENTROIDS__", lits)
        .replace("__LSH_PLANES__", planes)
        .replace("__SF_DIR__", dir)
        .replace("__GEN_DOCS_PATH__", genDocsPath(dir))
        .replace("__GEN_STREAM_DOCS_PATH__", genStreamDocsPath(dir))
        .replace("__GEN_V1_PATH__", genV1Path(dir))
        .replace("__GEN_V2_PATH__", genV2Path(dir))
    }
  }
}
