package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing: lay documents end-to-end into fixed-capacity token
  * sequences ("bins") — the step between curation and tokenized training
  * shards. Semantics are the standard concat-then-chunk packing used for
  * LLM pretraining: within a shard, documents are concatenated in
  * deterministic id order and the token stream is cut every `capacity`
  * tokens, so a document MAY straddle a bin boundary (that is what the
  * attention-mask/document-boundary channel is for downstream). No
  * reference analogue (single-document validator); corpus-level
  * capability like Dedup/Sampling.
  *
  * Output: one manifest row per document —
  * (shard, id, n_tokens, start_off, first_bin, n_bins) where `start_off`
  * is the document's first-token offset in its shard's stream, `first_bin`
  * = floor(start_off / capacity) and `n_bins` how many bins it touches.
  * A loader reconstructs any bin's contents from the manifest alone.
  *
  * Determinism/oracle: ordering is (id) within a shard and the math is
  * integer running sums, so any engine reproduces the manifest exactly.
  *
  * 100 TB design: the only stateful step is one running sum per shard.
  * `shards` bounds each Window partition (pick shards ≈ corpus_tokens /
  * 10^9 so a partition holds ~1 G tokens of manifest rows); the shard
  * assignment is a deterministic id hash, so packing parallelizes to any
  * cluster width and reshuffling the corpus never changes the output.
  * A global single-stream pack (shards = 1) is the degenerate case and
  * deliberately NOT the default.
  */
object Packing {

  /** Packing over a precomputed token-count column. Zero-token documents
    * are dropped (they occupy no stream positions). `shardCol`, when given,
    * overrides the default xxhash64(id) shard assignment — e.g. a modulo of
    * a numeric id when the manifest must be replayable by an engine without
    * xxhash64.
    */
  def packConcatCounted(df: DataFrame, idCol: String, tokensCol: String,
      capacity: Int, shards: Int, shardCol: Option[String] = None): DataFrame = {
    require(capacity >= 1 && shards >= 1,
      s"need capacity >= 1 and shards >= 1, got $capacity/$shards")
    val w = Window.partitionBy(col("shard")).orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val shard = shardCol.map(col)
      .getOrElse(pmod(xxhash64(col(idCol).cast("string")), lit(shards.toLong)))
    df.select(col(idCol).as("id"), col(tokensCol).as("n_tokens"),
        shard.cast("int").as("shard"))
      .filter(col("n_tokens") > 0)
      .withColumn("start_off", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("shard"), col("id"), col("n_tokens"), col("start_off"),
        // explicit floor: `/` on longs is DOUBLE division in Spark; all
        // operands are non-negative and < 2^53, so floor is exact
        floor(col("start_off") / capacity).cast("long").as("first_bin"),
        (floor((col("start_off") + col("n_tokens") - 1L) / capacity).cast("long")
          - floor(col("start_off") / capacity).cast("long") + 1L).as("n_bins"))
  }

  /** Per-bin fill report from a manifest: every bin is exactly `capacity`
    * tokens except possibly the last bin of each shard — the invariant a
    * training loader relies on. One row per (shard, bin) with its fill.
    */
  def binFill(manifest: DataFrame, capacity: Int): DataFrame =
    manifest
      .withColumn("bin", explode(sequence(col("first_bin"),
        col("first_bin") + col("n_bins") - 1L)))
      .withColumn("bin_start", col("bin") * capacity)
      .withColumn("tokens_in_bin",
        least(col("start_off") + col("n_tokens"), col("bin_start") + capacity)
          - greatest(col("start_off"), col("bin_start")))
      .groupBy(col("shard"), col("bin"))
      .agg(sum(col("tokens_in_bin")).as("fill"),
        count(lit(1)).as("n_docs"))

  /** Cross-shard BALANCE of a packing manifest: per shard, docs, token
    * mass, bin count (exact integer ceil), and the shard's load relative
    * to the BUSIEST shard — the straggler view of a training run (every
    * epoch waits for the fullest shard; a 0.7 load_vs_max on half the
    * shards is 30% idle accelerator time). All integer arithmetic until
    * the final ratio; runs entirely on the shards-count summary after
    * one map-side-combined groupBy of the manifest.
    */
  def shardBalance(manifest: DataFrame, capacity: Int): DataFrame = {
    require(capacity > 0, s"shardBalance: bad capacity $capacity")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    manifest.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"))
      .select(col("shard"), col("n_docs"), col("tokens"),
        expr(s"CAST((tokens + ${capacity - 1}) DIV $capacity AS BIGINT)")
          .as("n_bins"),
        // max(tokens) > 0 whenever any shard has tokens; an all-empty
        // manifest yields null ratios rather than an ANSI divide error
        when(max(col("tokens")).over(w) > 0,
          round(col("tokens").cast("double") /
            max(col("tokens")).over(w), 6)).as("load_vs_max"))
  }

  /** Materialize the packed bins as text — the training-shard writer that
    * turns manifest + corpus into actual fixed-capacity sequences. Each
    * document contributes the token slice that falls inside each bin it
    * touches (straddlers are cut at the boundary, exactly as the manifest
    * math says); a bin's text is its slices joined in stream order with a
    * single space. Whitespace runs inside documents collapse to one space
    * (the token stream has no "wide" separators).
    *
    * Output: (shard, bin, n_docs, text). `manifest` must come from
    * [[packConcatCounted]] over whitespace token counts of `textCol` — the
    * slice math relies on n_tokens == size(split(trim(text), "\\s+")).
    *
    * Scale: one join manifest × docs on id (both sides corpus-sized, AQE
    * picks the strategy), a bin-overlap explode (output rows = stream
    * slices, same cardinality [[binFill]] handles), and ONE shuffle to
    * group slices into bins. The per-bin state is `capacity` tokens by
    * construction — no skew risk. Output is the packed corpus itself, so
    * output size == input token mass: inherent to materialization, not a
    * plan defect.
    */
  def packedTexts(manifest: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, capacity: Int): DataFrame =
    manifest
      .join(docs.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("_toks")), Seq("id"))
      .withColumn("bin", explode(sequence(col("first_bin"),
        col("first_bin") + col("n_bins") - 1L)))
      .withColumn("bin_start", col("bin") * capacity)
      .withColumn("_from",
        (greatest(col("start_off"), col("bin_start")) - col("start_off") + 1L)
          .cast("int"))
      .withColumn("_len",
        (least(col("start_off") + col("n_tokens"), col("bin_start") + capacity)
          - greatest(col("start_off"), col("bin_start"))).cast("int"))
      .withColumn("_piece",
        array_join(slice(col("_toks"), col("_from"), col("_len")), " "))
      .groupBy(col("shard"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        array_join(transform(
          array_sort(collect_list(struct(col("start_off"), col("_piece")))),
          s => s.getField("_piece")), " ").as("text"))

  /** Packing ROI forecast: for each candidate sequence `capacity`, the
    * padding waste of the two standard batching strategies over this
    * corpus — pad-each-document-alone (every document rounds up to a whole
    * sequence: the no-packing baseline) vs the concat-stream packing
    * [[packConcatCounted]] implements (only each shard's LAST bin can be
    * short). The report that picks the training sequence length: solo
    * waste GROWS as capacity outruns the median document, packed waste is
    * ≤ shards·(capacity−1) tokens total by construction.
    *
    * Output one row per capacity: documents, token mass, solo sequence
    * count / padded mass / waste fraction, packed bin count / padded mass
    * / waste fraction. All masses are exact longs (ceil on a long/double
    * division is exact below 2^53); the waste fractions are round-6
    * ratios of those longs, so any engine replays the row bit-for-bit.
    *
    * Scale: ONE corpus scan into a shard-sized aggregate (per-capacity
    * solo sums ride the same map-side combine), then a 1-row reduce and a
    * |capacities|-row explode — the forecast costs one pass regardless of
    * how many capacities it prices.
    */
  def packingRoi(df: DataFrame, idCol: String, tokensCol: String,
      capacities: Seq[Int], shards: Int,
      shardCol: Option[String] = None): DataFrame = {
    require(capacities.nonEmpty && capacities.forall(_ >= 1) && shards >= 1,
      s"packingRoi: capacities >= 1 and shards >= 1: $capacities/$shards")
    val shard = shardCol.map(col)
      .getOrElse(pmod(xxhash64(col(idCol).cast("string")), lit(shards.toLong)))
    def ceilDiv(x: org.apache.spark.sql.Column, c: Int) =
      ceil(x.cast("double") / c).cast("long")
    val perShard = df
      .select(col(tokensCol).as("n"), shard.cast("int").as("shard"))
      .filter(col("n") > 0)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("docs"), sum(col("n")).as("mass") +:
        capacities.map(c =>
          sum(ceilDiv(col("n"), c)).as(s"_solo_$c")): _*)
    val gl = sum(col("docs")).as("docs") +:
      sum(col("mass")).cast("long").as("mass") +:
      (capacities.map(c =>
        sum(col(s"_solo_$c")).cast("long").as(s"_solo_$c")) ++
       capacities.map(c =>
         sum(ceilDiv(col("mass"), c)).cast("long").as(s"_bins_$c")))
    perShard
      .agg(gl.head, gl.tail: _*)
      .select(explode(array(capacities.map(c =>
        struct(lit(c).as("capacity"), col("docs"), col("mass"),
          col(s"_solo_$c").as("solo_seqs"),
          (col(s"_solo_$c") * c).as("solo_padded_mass"),
          col(s"_bins_$c").as("packed_bins"),
          (col(s"_bins_$c") * c).as("packed_padded_mass"))): _*)).as("m"))
      .select(col("m.capacity"), col("m.docs").as("docs"),
        col("m.mass").as("token_mass"),
        col("m.solo_seqs"), col("m.solo_padded_mass"),
        round(lit(1.0) - col("m.mass").cast("double")
          / col("m.solo_padded_mass"), 6).as("solo_waste_frac"),
        col("m.packed_bins"), col("m.packed_padded_mass"),
        round(lit(1.0) - col("m.mass").cast("double")
          / col("m.packed_padded_mass"), 6).as("packed_waste_frac"))
  }
}
