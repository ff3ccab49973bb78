package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language ID (stopword n-gram
  * heuristic), quality scoring (length/punctuation/stopword ratios), token
  * counting (whitespace + BPE-ish regex), and document fingerprinting
  * (md5 content fingerprint + 64-bit polynomial rolling hash).
  *
  * Everything is `functions._` expressions (codegen); the only state is the
  * static stopword lists, which fold into the plan as literals.
  */
object TextAnalysis {

  /** Tiny per-language marker-word lists (top function words). Deliberately
    * small: the heuristic is "count marker hits per language, argmax".
    */
  val markers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "sich", "auf"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "dans", "que", "une", "pour"),
    "es" -> Seq("el", "la", "que", "los", "del", "las", "por", "con", "una", "para"))

  /** Normalized token array (lowercase, punctuation stripped) — public so
    * pipelines can materialize it ONCE and feed the `*Tk` variants below:
    * interpreted HOFs get no common-subexpression elimination, so every
    * textual `toks(text)` reference re-tokenizes the row.
    */
  def toks(text: Column): Column =
    split(lower(regexp_replace(trim(text), "[^\\p{L}\\p{N}\\s]", " ")), "\\s+")

  /** Marker-hit count for one language over a pre-tokenized array. */
  def markerHitsTk(tks: Column, lang: String): Column =
    aggregate(tks, lit(0), (acc, t) =>
      acc + when(t.isin(markers(lang): _*), 1).otherwise(0))

  /** [[langId]] over a pre-tokenized array (see [[toks]]): the 4 per-language
    * folds share the one materialized array instead of re-tokenizing.
    */
  def langIdTk(tks: Column): Column = {
    val scored = markers.keys.toSeq.sorted.map { l =>
      struct(markerHitsTk(tks, l).as("hits"), lit(l).as("lang"))
    }
    val best = greatest(scored: _*)
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Heuristic language id: argmax of marker hits; "und" (undetermined)
    * when no marker hits at all.
    */
  def langId(text: Column): Column = langIdTk(toks(text))

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, 0).otherwise(size(split(trim(text), "\\s+")))

  /** Corpus-level top-k token frequencies (vocabulary head — the standard
    * first look at a new corpus, and the input to stopword/boilerplate
    * lists). `explode` → map-side-combined `groupBy(token)` (the shuffle
    * carries one row per DISTINCT token per partition, not per occurrence)
    * → `TakeOrderedAndProject` for the top k (no full sort). Deterministic
    * ties: count desc, then token asc.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(toks(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("token"))
      .limit(k)

  /** Top-k adjacent token-pair frequencies — the first iteration of BPE-
    * style merge induction at the token level (the most frequent adjacent
    * pair is the first merge a tokenizer-training run would make) and the
    * standard collocation head of a corpus. Pairs form IN-PLAN from the
    * materialized token array (`transform` over a 1-shifted slice — no
    * self-join, no posexplode+lag shuffle); then the same shape as
    * [[topTokens]]: explode → map-side-combined groupBy (shuffle carries
    * one row per distinct pair per partition) → `TakeOrderedAndProject`.
    * Deterministic ties: count desc, then pair asc.
    */
  /** Adjacent "a b" pairs from a materialized token-array column —
    * in-plan (`transform` over a 1-shifted slice: no self-join, no
    * posexplode+lag shuffle). Shared by [[topTokenPairs]] and
    * [[pmiPairs]] so the pair-formation contract has ONE definition.
    */
  private def adjacentPairs(tk: Column): Column =
    transform(
      slice(tk, lit(1), greatest(size(tk) - 1, lit(0))),
      (t, i) => concat(t, lit(" "), element_at(tk, i + 2)))

  /** The filtered token array, materialized ONCE as `_tk` (interpreted
    * HOFs get no CSE — slice + element_at both reference it).
    */
  private def tokensBase(df: DataFrame, textCol: String): DataFrame =
    df.select(filter(toks(col(textCol)), t => t =!= "").as("_tk"))

  def topTokenPairs(df: DataFrame, textCol: String, k: Int): DataFrame =
    tokensBase(df, textCol)
      .select(explode(adjacentPairs(col("_tk"))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("pair"))
      .limit(k)

  /** PMI collocations over adjacent token pairs — the association-scored
    * companion of [[topTokenPairs]]: raw pair frequency surfaces "of the"
    * (frequent because its parts are frequent), PMI
    * ln((c_ab/N_pairs) / ((c_a/N_tok)·(c_b/N_tok))) surfaces pairs that
    * co-occur far above chance (named entities, technical terms, stuck
    * boilerplate) — the signal that feeds phrase-aware tokenizers and
    * template detection. `minCount` gates the estimate (PMI of a
    * once-seen pair is noise); output is every surviving pair ordered by
    * pair text, NOT by the float score — cross-engine ordering rides only
    * on exact counts.
    *
    * Scale: the pair counts and unigram counts are two map-side-combined
    * groupBys (two corpus scans — their explode cardinalities differ, so
    * they cannot share one); the corpus totals REUSE those count tables
    * (ΣC_pair and ΣC_tok — vocabulary-sized aggregates, no third scan) and
    * broadcast back; the two unigram joins run on the (gated,
    * vocabulary-bounded) pair table, never on the corpus.
    */
  def pmiPairs(df: DataFrame, textCol: String, minCount: Long = 5): DataFrame = {
    val tk = col("_tk")
    val base = tokensBase(df, textCol)
    val pc = base.select(explode(adjacentPairs(tk)).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("c_pair"))
    val uc = base.select(explode(tk).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c_tok"))
    val totals = pc.agg(sum(col("c_pair")).cast("long").as("n_pairs"))
      .crossJoin(uc.agg(sum(col("c_tok")).cast("long").as("n_tok")))
    val gated = pc.filter(col("c_pair") >= minCount)
      .withColumn("w1", split(col("pair"), " ").getItem(0))
      .withColumn("w2", split(col("pair"), " ").getItem(1))
    gated
      .join(uc.select(col("token").as("w1"), col("c_tok").as("c_a")), Seq("w1"))
      .join(uc.select(col("token").as("w2"), col("c_tok").as("c_b")), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c_pair"), col("c_a"), col("c_b"),
        round(log((col("c_pair").cast("double") / col("n_pairs"))
          / ((col("c_a").cast("double") / col("n_tok"))
            * (col("c_b").cast("double") / col("n_tok")))), 4).as("pmi"))
      .orderBy("w1", "w2")
  }

  /** Zipf-fit of the token frequency head: OLS slope/intercept of
    * ln(count) against ln(rank) over the top-`topN` tokens. Natural text
    * sits near slope −1; a much flatter slope flags templated/synthetic
    * text, a much steeper one a degenerate vocabulary — the corpus-level
    * fabrication tell next to the value-level [[graft.operators.Stats]]
    * Benford audit. Ranks tie-break on token text, so the fit is
    * deterministic; the OLS is the explicit closed form
    * (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) over `topN` rounded terms, replayable
    * by any engine (round-4 output absorbs last-ulp ln() differences).
    *
    * Scale: [[topTokens]]'s map-side-combined count + TakeOrdered head;
    * everything after runs on `topN` rows.
    */
  def zipfFit(df: DataFrame, textCol: String, topN: Int = 100): DataFrame = {
    require(topN >= 2, s"zipfFit: need topN >= 2, got $topN")
    val ranked = topTokens(df, textCol, topN)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("occurrences").desc, col("token"))))
    val x = log(col("rank").cast("double"))
    val y = log(col("occurrences").cast("double"))
    ranked
      .agg(count(lit(1)).as("n_ranks"), sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"))
      .select(col("n_ranks"),
        // ANSI-safe: a degenerate head (a single distinct token — the OLS
        // denominator is 0) reports null, not a divide-by-zero error
        when(col("n_ranks") * col("sxx") - col("sx") * col("sx") =!= 0,
          round((col("n_ranks") * col("sxy") - col("sx") * col("sy"))
            / (col("n_ranks") * col("sxx") - col("sx") * col("sx")), 4))
          .as("zipf_slope"),
        when(col("n_ranks") * col("sxx") - col("sx") * col("sx") =!= 0,
          round((col("sy") - (col("n_ranks") * col("sxy")
              - col("sx") * col("sy"))
            / (col("n_ranks") * col("sxx") - col("sx") * col("sx"))
            * col("sx")) / col("n_ranks"), 4)).as("intercept"))
  }

  /** BPE-ish token count: GPT-2-style pre-tokenizer regex pieces
    * (word / number / punctuation runs with leading-space affinity).
    */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text,
      lit("'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+"), lit(0)))

  /** Quality score in [0,1]: blend of length band, alpha ratio, punctuation
    * ratio, stopword ratio, and mean word length band — the standard cheap
    * heuristics used to pre-filter web text.
    */
  def qualityScore(text: Column): Column = qualityScoreTk(text, toks(text))

  /** [[qualityScore]] with the normalized token array passed in (see
    * [[toks]]) — the raw text column is still needed for the character-level
    * ratios (length/alpha/punct run on raw text; `words` is the WHITESPACE
    * token count of the raw text, deliberately not `size(tks)`).
    */
  def qualityScoreTk(text: Column, tks: Column): Column = {
    val n = length(text).cast("double")
    val alpha = length(regexp_replace(text, "[^\\p{L}]", "")).cast("double")
    val punct = length(regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    val words = tokenCountWs(text).cast("double")
    val stop = aggregate(tks, lit(0), (acc, t) =>
      acc + when(t.isin(markers.values.flatten.toSeq: _*), 1).otherwise(0)).cast("double")
    val lenScore = when(n >= 200 && n <= 20000, 1.0)
      .when(n >= 50, 0.5).otherwise(0.1)
    val alphaRatio = when(n > 0, alpha / n).otherwise(0.0)
    val punctScore = when(n > 0 && punct / n <= 0.1, 1.0).otherwise(0.4)
    val stopScore = when(words > 0 && stop / words >= 0.05, 1.0).otherwise(0.3)
    val meanWord = when(words > 0, alpha / words).otherwise(0.0)
    val wordScore = when(meanWord >= 3 && meanWord <= 12, 1.0).otherwise(0.4)
    // +1e-10 before rounding: the weighted score is a rational whose only
    // values NEAR a 4-decimal rounding tie are EXACT ties (alpha/n with a
    // 10^k-divisible n lands on .xxxx5 exactly; any non-tie value is
    // >= 1/(4n*10^4) ~ 1.25e-9 away). Engines disagree on exact-tie
    // doubles — DuckDB's round() multiplies by 10^4 first (double-rounding
    // pushes 0.95625 up), the JVM rounds the shortest decimal repr (down)
    // — so the score definition itself nudges ties above the boundary;
    // every engine then agrees, and no legitimate non-tie value can cross.
    round(lenScore * 0.25 + alphaRatio * 0.25 + punctScore * 0.15 +
      stopScore * 0.2 + wordScore * 0.15 + 1e-10, 4)
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercase text —
    * stable, portable (any engine reproduces it).
    */
  def fingerprintMd5(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  // ------------------------------------------------------------------
  // Repetition signals (Gopher-style repetitiousness filters)
  // ------------------------------------------------------------------

  /** Max run length in a SORTED array = max element frequency, computed as
    * one `aggregate` fold per row — per-row O(n log n), zero shuffle (the
    * explode→groupBy formulation of "most common token" shuffles one row
    * per token OCCURRENCE; this keeps the whole corpus scan narrow).
    */
  private def maxRunSorted(sortedArr: Column): Column =
    aggregate(sortedArr,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Per-document word-repetition signals — the cheap repetitiousness
    * filters from the public Gopher/MassiveText recipe (fraction of
    * duplicated tokens / most-common-n-gram mass): rows with low
    * `distinct_token_frac` or high `top_token_frac`/`top_bigram_frac` are
    * boilerplate or degenerate generations. Tokenization is a plain
    * single-space split (portable to any SQL engine for oracle checks).
    * Documents with zero tokens are dropped (ratios undefined).
    *
    * Output: (id, n_tokens, distinct_token_frac, top_token_frac,
    * top_bigram_frac) — all fractions exact integer ratios in double
    * arithmetic, so any engine reproduces them bit-identically.
    */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = filter(split(lower(col(textCol)), " "), t => length(t) > 0)
    val n = size(tk).cast("long")
    val bigrams = when(n >= 2, transform(sequence(lit(0), n.cast("int") - 2),
      i => concat_ws(" ", get(tk, i), get(tk, i + 1))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("id"), tk.as("tk"), n.as("n"), bigrams.as("bg"))
      .filter(col("n") > 0)
      .select(col("id"), col("n").as("n_tokens"),
        (size(array_distinct(col("tk"))).cast("double") / col("n"))
          .as("distinct_token_frac"),
        (maxRunSorted(array_sort(col("tk"))).cast("double") / col("n"))
          .as("top_token_frac"),
        when(col("n") >= 2,
          maxRunSorted(array_sort(col("bg"))).cast("double") / (col("n") - 1))
          .otherwise(0.0).as("top_bigram_frac"))
  }

  // ------------------------------------------------------------------
  // Distinctive terms (tf over document frequency)
  // ------------------------------------------------------------------

  /** Top-k most DISTINCTIVE tokens per document: rank by `tf / df`
    * (term frequency over corpus document frequency). Same intent as
    * tf-idf; the rational score is chosen deliberately — with tf and df
    * integers bounded by corpus size, distinct scores differ by at least
    * 1/(df_max²), far above double ulp, and the division of identical
    * ints is bit-identical on every engine, so the RANKING (not just the
    * values) reproduces exactly cross-engine. An ln-based idf does not
    * have that property (libm last-ulp differences can flip near-ties).
    *
    * Plan shape: tf = explode → map-side-combined groupBy (doc, token);
    * df = the same distinct pairs re-aggregated by token (vocabulary-
    * sized — broadcastable at any realistic vocab; at 100 TB both sides
    * are token-keyed, so the planner's shuffle join co-locates for free);
    * top-k via row_number ≤ k, which Spark lowers to WindowGroupLimit
    * (map-side top-k, no full per-group sort).
    */
  def tfidfTop(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1)
    val tok = df.select(col(idCol).as("id"),
      explode(filter(split(lower(col(textCol)), " "), t => length(t) > 0)).as("token"))
    val tf = tok.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy((col("tf").cast("double") / col("df")).desc, col("token"))
    tf.join(dfreq, "token")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("id"), col("token"), col("tf"), col("df"),
        (col("tf").cast("double") / col("df")).as("score"), col("rank"))
  }

  /** Per-document rare-token signal: how much of a document's token mass
    * has corpus document-frequency ≤ `dfMax` — high rare mass flags OCR
    * noise, codes/hashes, boilerplate-stripped junk and other low-quality
    * text that per-row heuristics (length/punctuation ratios) miss because
    * rarity is a CORPUS property, not a row property. Counts only (the
    * ratio is the caller's division): cross-engine-exact.
    *
    * Output: (id, n_tokens, n_rare, n_distinct, n_rare_distinct), one row
    * per document with ≥ 1 token.
    *
    * Scale: per-doc term frequencies (map-side-combined groupBy), the
    * vocabulary df table (groupBy token — vocabulary-sized, zipf-bounded),
    * one join on token (planner broadcasts when the vocab fits, shuffles
    * otherwise) and a final per-id agg. No windows, no sorts; every shuffle
    * key is high-cardinality.
    */
  def rareTokenStats(df: DataFrame, idCol: String, textCol: String,
      dfMax: Long): DataFrame = {
    val tok = df.select(col(idCol).as("id"),
      explode(filter(split(lower(col(textCol)), " "), t => length(t) > 0))
        .as("token"))
    val tf = tok.groupBy("id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "token")
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(when(col("df") <= dfMax, col("tf")).otherwise(0L)).as("n_rare"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("df") <= dfMax, 1L).otherwise(0L)).as("n_rare_distinct"))
  }

  // ------------------------------------------------------------------
  // Context-window chunking
  // ------------------------------------------------------------------

  /** Split each document into fixed-size token windows with `overlap`
    * shared tokens between consecutive chunks — the context-window prep
    * step before packing/tokenization in a training pipeline. A document
    * with n ≤ chunkTokens yields one chunk; otherwise
    * ceil((n − overlap) / (chunkTokens − overlap)) chunks, the last one
    * possibly short. Scan-stage only (explode of a per-row sequence — no
    * shuffle, no state); deterministic, so any engine replays it exactly.
    *
    * Output: (id, chunk_idx, n_tokens, chunk_text).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int): DataFrame = {
    require(chunkTokens >= 1 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunk=$chunkTokens")
    val step = chunkTokens - overlap
    val tk = filter(split(col(textCol), " "), t => length(t) > 0)
    val n = size(tk)
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(ceil((n - lit(overlap)).cast("double") / step).cast("int"))
    df.select(col(idCol).as("id"), tk.as("tk"), n.as("n"), nChunks.as("nc"))
      .filter(col("n") > 0)
      .withColumn("chunk_idx", explode(sequence(lit(0), col("nc") - 1)))
      .select(col("id"), col("chunk_idx"),
        least(lit(chunkTokens), col("n") - col("chunk_idx") * step)
          .cast("long").as("n_tokens"),
        concat_ws(" ",
          slice(col("tk"), col("chunk_idx") * step + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  // ------------------------------------------------------------------
  // PII detection / redaction
  // ------------------------------------------------------------------

  /** Canonical text normalization — the transform every dedup/fingerprint
    * consumer should agree on BEFORE hashing: strip control characters
    * (except the whitespace they often masquerade as), collapse every
    * whitespace run to one space, trim, lowercase. Idempotent by
    * construction (normalize ∘ normalize = normalize — spec-asserted), so
    * re-running a pipeline stage never changes fingerprints. Pure codegen
    * regex/string expressions; apply at scan time, one pass.
    */
  def normalizeText(text: Column): Column =
    lower(trim(regexp_replace(
      regexp_replace(text, "[\\p{Cc}\\p{Cf}]", " "), "\\s+", " ")))

  /** PII patterns — the regex subset shared by Java (Spark codegen) and
    * RE2-family engines (no lookaround, no backrefs), so detection counts
    * and redactions reproduce in any oracle engine.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+[0-9]{7,15}"

  /** Per-category PII hit counts (emails, IPv4 literals, E.164-style
    * phone numbers) — pure `regexp_count` codegen, one scan.
    */
  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailRe)).cast("long"),
      regexp_count(text, lit(Ipv4Re)).cast("long"),
      regexp_count(text, lit(PhoneRe)).cast("long"))

  /** Redact PII in place with typed placeholders. Order matters and is
    * fixed: emails first (their local part may contain `+digits`, which
    * the phone pattern would otherwise chew), then IPs, then phones —
    * no earlier replacement introduces characters a later pattern matches.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        Ipv4Re, "[IP]"),
      PhoneRe, "[PHONE]")

  // ------------------------------------------------------------------
  // URL / domain extraction
  // ------------------------------------------------------------------

  /** URL pattern in the same RE2-compatible subset as the PII patterns
    * (no lookaround/backrefs), so counts and extractions reproduce in any
    * oracle engine. Scheme + host[:port][/path-without-whitespace].
    */
  val UrlRe = "https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^\\s]*)?"
  private val DomainRe = "https?://([A-Za-z0-9.-]+)"

  /** URLs per document — one `regexp_count`, scan-stage. */
  def urlCount(text: Column): Column = regexp_count(text, lit(UrlRe)).cast("long")

  /** The domains of every URL in the text, in order of appearance. */
  def domains(text: Column): Column =
    transform(regexp_extract_all(text, lit(UrlRe), lit(0)),
      u => regexp_extract(u, DomainRe, 1))

  /** Corpus-level top-k domains by URL occurrences — the per-source-site
    * distribution every web-pipeline audit starts from (and the input to
    * per-domain caps via [[Sampling.reservoirPerGroup]]). Same plan shape
    * as [[topTokens]]: explode → map-side-combined groupBy →
    * TakeOrderedAndProject; deterministic ties (count desc, domain asc).
    */
  def topDomains(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(domains(col(textCol))).as("domain"))
      .filter(col("domain") =!= "")
      .groupBy(col("domain")).agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("domain"))
      .limit(k)

  /** Per-group character-CLASS composition: shares of alphabetic, digit,
    * space and other characters across a group's text mass — the
    * cheapest corpus-health fingerprint there is (a feed whose digit
    * share doubles started shipping IDs/markup as prose; an other-share
    * spike is encoding damage the [[encodingAudit]] then names). ASCII
    * classes spelled explicitly (`[A-Za-z]`, `[0-9]`, literal space) so
    * both engines count identical sets — never `\w`/`\s`, whose
    * definitions differ across regex dialects.
    *
    * Scale: all counting is per-row codegen'd `regexp_count`; one
    * map-side-combined groupBy carries four longs per group per
    * partition.
    */
  def charClassProfile(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val t = col(textCol)
    df.filter(t.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("key"))
      .agg(sum(length(t).cast("long")).as("n_chars"),
        sum(regexp_count(t, lit("[A-Za-z]")).cast("long")).as("_a"),
        sum(regexp_count(t, lit("[0-9]")).cast("long")).as("_d"),
        sum(regexp_count(t, lit(" ")).cast("long")).as("_s"))
      .select(col("key"), col("n_chars"),
        when(col("n_chars") > 0,
          round(col("_a").cast("double") / col("n_chars"), 6))
          .as("alpha_share"),
        when(col("n_chars") > 0,
          round(col("_d").cast("double") / col("n_chars"), 6))
          .as("digit_share"),
        when(col("n_chars") > 0,
          round(col("_s").cast("double") / col("n_chars"), 6))
          .as("space_share"),
        when(col("n_chars") > 0,
          round((col("n_chars") - col("_a") - col("_d") - col("_s"))
            .cast("double") / col("n_chars"), 6)).as("other_share"))
  }

  /** Canonical form of a URL — the equality key under which
    * tracking-decorated / trivially-reformatted links are the SAME page:
    *   1. fragment stripped (`#…` never reaches the server);
    *   2. scheme+host lowercased (case-insensitive per RFC 3986), path
    *      case preserved;
    *   3. leading `www.` dropped;
    *   4. default ports dropped (`:80` for http, `:443` for https);
    *   5. tracking params dropped (`utm_*`, `gclid`, `fbclid`), the
    *      survivors SORTED (query order is almost never semantic);
    *   6. trailing `/` dropped.
    * Pure string/regex ops in the RE2-compatible subset (no lookaround),
    * so an independent engine replays it exactly. All-codegen, row-local.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*", "")
    val qPos = instr(noFrag, "?")
    val base0 = when(qPos > 0, substring(noFrag, lit(1), qPos - 1))
      .otherwise(noFrag)
    val query = when(qPos > 0, substring(noFrag, qPos + 1, lit(1 << 28)))
      .otherwise(lit(""))
    // lowercase scheme://host[:port] only (group 1), keep the path as-is;
    // regexp_extract yields "" on NO MATCH (non-http(s) inputs: bare
    // domains, ftp:, mailto:) — fall back to the untouched base so
    // unrelated un-parseable URLs never all collapse to "" and fake a
    // dup group (the later regexes are no-ops on such bases)
    val schemeHost = regexp_extract(base0, "(?i)^(https?://[^/]*)(.*)$", 1)
    val rest = regexp_extract(base0, "(?i)^(https?://[^/]*)(.*)$", 2)
    val base1 = when(schemeHost === "", base0)
      .otherwise(concat(lower(schemeHost), rest))
    val base2 = regexp_replace(base1, "^(https?://)www\\.", "$1")
    val base3 = regexp_replace(
      regexp_replace(base2, "^(http://[^/:]+):80(/.*)?$", "$1$2"),
      "^(https://[^/:]+):443(/.*)?$", "$1$2")
    val base = regexp_replace(base3, "/$", "")
    val params = array_join(array_sort(filter(split(query, "&"), p =>
      p =!= "" && !p.startsWith("utm_") &&
        !p.rlike("^(gclid|fbclid)="))), "&")
    when(params === "", base).otherwise(concat(base, lit("?"), params))
  }

  /** One-pass text profile of a corpus. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("id"),
      langId(col(textCol)).as("lang_id"),
      tokenCountWs(col(textCol)).as("tokens_ws"),
      tokenCountBpe(col(textCol)).as("tokens_bpe"),
      qualityScore(col(textCol)).as("quality"),
      fingerprintMd5(col(textCol)).as("fingerprint"))

  /** Token-budget report: documents and whitespace tokens per group — the
    * "how much training data do I actually have, and where" answer that
    * sizes mixtures, epochs and sampling weights ([[Sampling.upsample]]'s
    * inputs come from exactly this table). Group by any dimensions —
    * language, split assignment, source, or their combinations.
    *
    * One scan + one map-side-combined groupBy; the token count is a
    * codegen'd per-row expression, so the shuffle carries one row per
    * distinct group per partition.
    */
  def tokenBudget(df: DataFrame, textCol: String,
      groupCols: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty, "tokenBudget needs at least one group column")
    df.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCountWs(col(textCol)).cast("long")).as("tokens"))
  }

  /** Vocabulary richness per segment: token mass, type (distinct-token)
    * count, type-token ratio, and the hapax share (types seen exactly
    * once / types). Natural text keeps a fat hapax tail (~40–60% of
    * types); templated or model-generated text collapses it — the
    * segment-level synthetic-text tell next to the corpus-level
    * [[zipfFit]]. A NULL segment is a real segment (unattributed feed).
    *
    * Scale: one explode + map-side-combined groupBy to the
    * (segment × vocabulary) count table — the [[topTokens]] tier — then a
    * second aggregation down to segment-sized output. TTR is
    * length-sensitive (bigger segments score lower); compare segments of
    * similar mass, or slice upstream.
    */
  def vocabularyRichness(df: DataFrame, segCol: String,
      textCol: String): DataFrame = {
    val counts = df
      .select(col(segCol).as("segment"),
        explode(toks(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("segment"), col("token"))
      .agg(count(lit(1)).as("c"))
    counts.groupBy(col("segment"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax_types"))
      .select(col("segment"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("ttr"),
        round(col("hapax_types").cast("double") / col("n_types"), 6)
          .as("hapax_share"))
  }

  /** Count of `pattern` occurrences (single-char classes) in `s` as a
    * length difference — codegen string ops, no per-row UDF.
    */
  private def charCount(s: Column, pattern: String): Column =
    length(s) - length(regexp_replace(s, pattern, ""))

  /** Encoding-anomaly (mojibake) audit per segment: documents carrying
    * U+FFFD replacement characters (the tombstone a lossy decode leaves
    * behind), raw C0 control characters (excluding tab/LF/CR — legal in
    * text), and zero-width characters (ZWSP/ZWNJ/ZWJ/BOM — invisible
    * payload that poisons tokenizers and dedup alike), with per-10k-char
    * rates. A feed whose replacement-char share jumps changed its
    * upstream charset; zero-width spikes are usually scraped
    * anti-copy-paste markup. All counts are exact integers (length
    * differences under `regexp_replace` — codegen, no UDF).
    *
    * Scale: one corpus scan, map-side-combined groupBy, segment-sized
    * output.
    */
  def encodingAudit(df: DataFrame, segCol: String,
      textCol: String): DataFrame = {
    val s = col(textCol)
    val repl = charCount(s, 0xFFFD.toChar.toString) // U+FFFD
    val ctrl = charCount(s, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")
    // zero-width chars (ZWSP/ZWNJ/ZWJ/BOM) as explicit codepoints — the
    // regex engine sees a literal char class; nothing invisible hides in
    // the source
    val zw = charCount(s, Seq(0x200B, 0x200C, 0x200D, 0xFEFF)
      .map(_.toChar).mkString("[", "", "]"))
    df.filter(s.isNotNull)
      .groupBy(col(segCol).as("segment"))
      .agg(count(lit(1)).as("docs"),
        sum(length(s)).as("chars"),
        sum(when(repl > 0, 1L).otherwise(0L)).as("repl_docs"),
        sum(repl.cast("long")).as("repl_chars"),
        sum(ctrl.cast("long")).as("ctrl_chars"),
        sum(zw.cast("long")).as("zw_chars"))
      .select(col("segment"), col("docs"), col("chars"), col("repl_docs"),
        col("repl_chars"), col("ctrl_chars"), col("zw_chars"),
        when(col("chars") > 0, round((col("repl_chars") + col("ctrl_chars")
          + col("zw_chars")) * lit(10000.0) / col("chars"), 6))
          .as("anomaly_per_10k"))
  }

  /** Unicode-script profile per segment: character mass by script class
    * (Latin letters, digits, Han, Cyrillic, Arabic, whitespace, other)
    * with the Latin share — the lang-id cross-check that catches
    * misrouted feeds (a `lang = 'en'` source that is 40% Han by
    * characters is mislabeled upstream, whatever the n-gram scorer
    * says) and mixed-script spam. Counts are exact length differences
    * (codegen); `other` is the remainder, so the seven columns sum to
    * `chars` by construction.
    *
    * Scale: one corpus scan, map-side-combined groupBy, segment-sized
    * output.
    */
  def scriptProfile(df: DataFrame, segCol: String,
      textCol: String): DataFrame = {
    val s = col(textCol)
    val latin = charCount(s, "\\p{IsLatin}")
    val digit = charCount(s, "[0-9]")
    val han = charCount(s, "\\p{IsHan}")
    val cyr = charCount(s, "\\p{IsCyrillic}")
    val arab = charCount(s, "\\p{IsArabic}")
    // explicit whitespace class: Java \s includes U+000B where RE2's does
    // not — spelling the class out keeps the count engine-independent
    // (script classes are Unicode-version-coupled by nature; the ASCII
    // whitespace set is not allowed to be)
    val ws = charCount(s, "[ \\t\\n\\x0B\\f\\r]")
    df.filter(s.isNotNull)
      .groupBy(col(segCol).as("segment"))
      .agg(sum(length(s)).as("chars"),
        sum(latin.cast("long")).as("latin"),
        sum(digit.cast("long")).as("digits"),
        sum(han.cast("long")).as("han"),
        sum(cyr.cast("long")).as("cyrillic"),
        sum(arab.cast("long")).as("arabic"),
        sum(ws.cast("long")).as("whitespace"))
      .select(col("segment"), col("chars"), col("latin"), col("digits"),
        col("han"), col("cyrillic"), col("arabic"), col("whitespace"),
        (col("chars") - col("latin") - col("digits") - col("han")
          - col("cyrillic") - col("arabic") - col("whitespace"))
          .as("other"),
        when(col("chars") > 0,
          round(col("latin").cast("double") / col("chars"), 6))
          .as("latin_share"))
  }

  /** Pairwise vocabulary Jaccard between segments (sources, feeds,
    * snapshots): for every unordered segment pair sharing at least one
    * type, both type counts, the intersection size, and
    * J = |∩| / (|A| + |B| − |∩|) — segment-granularity near-dup: two
    * feeds with J ≈ 1 are the same crawl wearing two names, a J ≈ 0
    * outlier against every sibling is a different language or a
    * different kind of content. Pairs with DISJOINT vocabularies are
    * absent (J = 0 by construction). NULL segments coalesce to the
    * `<null>` sentinel (the [[graft.operators.Stats.cramersV]]
    * convention).
    *
    * Scale: the (segment, token) DISTINCT table is vocabulary×segment
    * sized; the intersection is an equi-join on token whose per-token
    * fan-out is (segments containing it)² ≤ |segments|² — fine for
    * feed-scale segment counts (10²–10³); for 10⁵+ segments, gate the
    * token table by document frequency first (stopword-tier tokens
    * appear in EVERY segment and dominate the fan-out while carrying no
    * discrimination). Type counts broadcast back onto the pair-sized
    * result.
    */
  def segmentVocabJaccard(df: DataFrame, segCol: String,
      textCol: String): DataFrame = {
    val st = df.select(
        coalesce(col(segCol).cast("string"), lit("<null>")).as("segment"),
        explode(toks(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .distinct()
    val sizes = st.groupBy(col("segment")).agg(count(lit(1)).as("types"))
    val l = st.select(col("segment").as("seg_a"), col("token"))
    val r = st.select(col("segment").as("seg_b"), col("token"))
    l.join(r, l("token") === r("token") && col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("segment").as("seg_a"),
        col("types").as("types_a"))), Seq("seg_a"))
      .join(broadcast(sizes.select(col("segment").as("seg_b"),
        col("types").as("types_b"))), Seq("seg_b"))
      .select(col("seg_a"), col("seg_b"), col("types_a"), col("types_b"),
        col("inter"),
        round(col("inter").cast("double")
          / (col("types_a") + col("types_b") - col("inter")), 6)
          .as("jaccard"))
  }

  /** Top-k tokens PER SEGMENT — the grouped twin of the global
    * heavy-hitters view: each feed/language's own dominant vocabulary,
    * side by side (a feed whose top tokens are navigation chrome is a
    * boilerplate problem the global list averages away).
    *
    * Deterministic contract: count desc, token asc per segment. A NULL
    * segment is a real segment.
    *
    * Scale: one (segment × token) map-side-combined count, then the
    * `row_number <= k` filter lowers to `WindowGroupLimit` — each map
    * task truncates its groups to k rows BEFORE the rank shuffle, so the
    * window never sees the full per-segment vocabulary (same lowering as
    * `Validate.evidence`, PlanSpec-asserted there).
    */
  def topTokensBySegment(df: DataFrame, segCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"topTokensBySegment: need k >= 1, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("segment"))
      .orderBy(col("occurrences").desc, col("token"))
    df.select(col(segCol).as("segment"),
        explode(toks(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("segment"), col("token"))
      .agg(count(lit(1)).as("occurrences"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Vocabulary novelty per crawl batch: for each batch (an ordered
    * snapshot/day key), the distinct token types it contains, how many of
    * them appear for the FIRST time in that batch, the novel share, and
    * the cumulative vocabulary. A healthy crawl keeps finding new
    * language (novel share decays smoothly, Heaps-law-ish); a collapse to
    * ~0 means the crawler is re-fetching what it already has, a spike
    * means a new feed/domain came online — per-batch signals none of the
    * whole-corpus vocabulary views ([[vocabularyRichness]], [[zipfFit]])
    * can see.
    *
    * Scale: ONE corpus-wide shuffle and NO join — tokens group by token
    * with map-side-combined `min(batch)` + `collect_set(batch)` (set
    * bounded by the batch count, not the corpus), then both counters
    * derive from ONE exploded view of that vocab-sized result: a
    * (token, batch) membership is a type occurrence, and it is novel
    * exactly when batch == first_batch. (A two-branch formulation —
    * types-per-batch joined to a first-seen rollup — would recompute the
    * whole corpus shuffle per branch: `collect_set` is non-deterministic,
    * so exchange reuse cannot canonicalize the branches equal.
    * Plan-asserted join-free.) The per-batch rollup and the cumulative
    * sum's single-partition window see only #batches rows.
    */
  def vocabNovelty(df: DataFrame, batchCol: Column,
      textCol: String): DataFrame = {
    val tok = df
      .select(batchCol.cast("long").as("batch"),
        explode(toks(col(textCol))).as("token"))
      // a row with no batch key has no position on the novelty axis (and
      // min/collect_set would silently skip it) — excluded by contract
      .filter(col("token") =!= "" && col("batch").isNotNull)
    val perToken = tok.groupBy(col("token"))
      .agg(min(col("batch")).as("first_batch"),
        collect_set(col("batch")).as("batches"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).orderBy(col("batch"))
    // n_types >= 1 by construction (a batch only appears via its tokens),
    // so the share needs no zero guard
    perToken
      .select(col("first_batch"), explode(col("batches")).as("batch"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_types"),
        sum(when(col("batch") === col("first_batch"), 1L).otherwise(0L))
          .as("new_types"))
      .select(col("batch"), col("n_types"), col("new_types"),
        round(col("new_types").cast("double") / col("n_types"), 6)
          .as("new_share"),
        sum(col("new_types")).over(w).as("cum_types"))
  }

  /** Flesch reading-ease ingredients + score, all-codegen, one scan.
    * Words are the shared [[toks]] normalization (empty tokens dropped);
    * syllables per word are approximated as vowel-group runs
    * `[aeiouy]+` with a floor of 1 (the standard dictionary-free
    * heuristic); sentences are `[.!?]+` runs with a floor of 1.
    * flesch = 206.835 − 1.015·words/sentences − 84.6·syllables/words,
    * null for word-free documents (undefined). Returns a struct
    * (words, sentences, syllables, flesch) so callers unpack what they
    * need without re-tokenizing.
    */
  def readabilityStats(text: Column): Column = {
    val tks = filter(toks(text), t => t =!= lit(""))
    val words = size(tks).cast("long")
    val sentences =
      greatest(size(regexp_extract_all(text, lit("[.!?]+"), lit(0))), lit(1))
        .cast("long")
    val syllables = aggregate(tks, lit(0L), (acc, w) =>
      acc + greatest(
        size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0))), lit(1))
        .cast("long"))
    val flesch = when(words > 0L,
      round(lit(206.835)
        - lit(1.015) * words.cast("double") / sentences.cast("double")
        - lit(84.6) * syllables.cast("double") / words.cast("double"), 4))
    struct(words.as("words"), sentences.as("sentences"),
      syllables.as("syllables"), flesch.as("flesch"))
  }
}
