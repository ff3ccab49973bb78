package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Golden tests for the training-data pipeline operators: known near-dups
  * must be found, known distinct docs must not be.
  */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  /** [[Packing.packConcatCounted]] over the whitespace token count of
    * `textCol`.
    */
  private def packConcat(df: DataFrame, idCol: String, textCol: String,
      capacity: Int, shards: Int): DataFrame =
    Packing.packConcatCounted(
      df.withColumn("_n_tokens",
        TextAnalysis.tokenCountWs(col(textCol)).cast("long")),
      idCol, "_n_tokens", capacity, shards)

  /** Average fraction of buckets a uniformly-placed point query on each
    * dimension must touch, per a [[Layout.skippingStats]] manifest: for
    * dimension d with global span S, hit fraction = sum over buckets of
    * (bucket's d-range width + 1) / (S + 1) / nBuckets. 1.0 = no skipping.
    */
  private def skipFractions(stats: DataFrame, nDims: Int): DataFrame = {
    val flat = (0 until nDims).flatMap { i =>
      Seq(sum(col(s"max_d$i") - col(s"min_d$i") + 1L).as(s"_w$i"),
        min(col(s"min_d$i")).as(s"_lo$i"), max(col(s"max_d$i")).as(s"_hi$i"))
    } :+ count(lit(1)).as("_nb")
    stats.agg(flat.head, flat.tail: _*)
      .select((0 until nDims).map { i =>
        (col(s"_w$i") / (col(s"_hi$i") - col(s"_lo$i") + 1L) / col("_nb"))
          .as(s"skip_frac_d$i")
      }: _*)
  }

  /** Inverted-list sizes for a centroid set (centroid -> member count). */
  private def listSizes(df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[Seq[Double]]): DataFrame =
    Similarity.ivfAssign(df, idCol, vecCol, centroids)
      .groupBy(col("centroid")).agg(count(lit(1)).as("n"))

  /** Polynomial rolling hash (base 31, modulo a prime below 2^48 so ANSI
    * mode never overflows) over the codepoints of whitespace-normalized
    * lowercase text.
    */
  private def fingerprintRolling(text: Column): Column =
    aggregate(
      transform(split(lower(regexp_replace(trim(text), "\\s+", " ")), ""),
        ch => when(length(ch) > 0, ascii(ch)).otherwise(0)),
      lit(0L), (acc, c) => pmod(acc * lit(31L) + c.cast("long"), lit(251799813685119L)))

  private val base = "the quick brown fox jumps over the lazy dog and runs far away " +
    "into the deep dark forest where nobody can find it anymore tonight"
  private val nearDup = base.replace("tonight", "today") // 1-word edit
  private val distinct1 = "completely different content about spark dataframes and " +
    "catalyst optimizer rules that share absolutely nothing with the fox story at all"
  private val distinct2 = "yet another unrelated document discussing parquet column " +
    "pruning predicate pushdown and whole stage code generation internals in depth"

  private lazy val docs = Seq(
    (1L, base), (2L, nearDup), (3L, distinct1), (4L, distinct2),
    (5L, base) // exact duplicate of 1
  ).toDF("doc_id", "text")

  test("exact dedup finds the identical pair only") {
    val groups = Dedup.exact(docs, "text").collect()
    assert(groups.length == 1 && groups(0).getLong(1) == 2L)
    val members = Dedup.exactMembers(docs, "doc_id", "text")
      .filter(!col("keep")).select("id").as[Long].collect()
    assert(members.toSet == Set(5L))
  }

  test("exactMembers: null ids and id ties always get a boolean keep") {
    val nd = Seq(
      (Option(1L), "same text"), (Option(5L), "same text"),
      (Option.empty[Long], "same text"),          // null id in a mixed group
      (Option.empty[Long], "only nulls"), (Option.empty[Long], "only nulls"),
      (Option(7L), "tied"), (Option(7L), "tied")  // duplicate min id
    ).toDF("doc_id", "text")
    val out = Dedup.exactMembers(nd, "doc_id", "text").collect()
    assert(out.forall(!_.isNullAt(2)), "keep must never be NULL")
    val mixed = out.filter(r => !r.isNullAt(0) && r.getLong(0) == 1L)
    assert(mixed.forall(_.getBoolean(2)))
    // the null-id duplicate of "same text" is in the DELETE list
    val nullRows = out.filter(_.isNullAt(0))
    val mixedNull = nullRows.filter(_.getBoolean(2) == false)
    assert(mixedNull.length == 1, out.mkString("\n"))
    // an all-null-id group keeps its (indistinguishable) rows
    assert(nullRows.count(_.getBoolean(2)) == 2)
    // tied min ids: both marked keep (indistinguishable in (id, hash))
    val tied = out.filter(r => !r.isNullAt(0) && r.getLong(0) == 7L)
    assert(tied.length == 2 && tied.forall(_.getBoolean(2)))
  }

  test("sample fraction 1.0 keeps every row (no ffffffff edge loss)") {
    assert(Sampling.thresholdHex(1.0) == "g")
    val ids = spark.range(1000).select(col("id").as("doc_id"))
    assert(Sampling.sample(ids, "doc_id", 1.0).count() == 1000)
  }

  test("IVF training and assignment accept k = 1") {
    val vecs = spark.range(20).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        d => ((col("id") + d) % 5).cast("float")).as("embedding"))
    val cs = Similarity.trainCentroids(vecs, "embedding", k = 1, dims = 8, iters = 2)
    assert(cs.length == 1 && cs.head.length == 8)
    val assigned = Similarity.ivfAssign(vecs, "vec_id", "embedding", cs)
    assert(assigned.select("centroid").distinct().count() == 1)
  }

  test("minhash LSH finds the near-dup pair and not the distinct docs") {
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 5L)), s"got $pairs")
    assert(pairs.contains((1L, 5L)), s"exact dup must be found: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("native SimHash64 expression is bit-identical to the HOF formulation") { onBothEvalPaths {
    val texts = (0 until 300).map(i =>
      (i.toLong, (0 until (i % 40)).map(w => s"w${(i * 7 + w) % 53}").mkString(" ")))
      .toDF("doc_id", "text")
    val mismatches = texts
      .select(Dedup.simHash(col("text")).as("native"),
        graft.HofOracles.simHashHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(mismatches == 0L)
  }}

  test("simhash: identical texts distance 0; near-dup small; distinct large") {
    val sh = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(5L)) == 0)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)), "near-dup closer than distinct")
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 5L)))
  }

  test("simhash banding recall: pairs output == brute-force all-pairs at maxHamming=10") {
    // a corpus with near-dup chains at varying edit distances: the banding
    // must find EVERY pair within the hamming budget (pigeonhole guarantee:
    // bands = maxHamming + 1) — a fixed 4x16 banding provably misses
    // hamming 4..10 pairs whenever no 16-bit band survives
    val texts = (0 until 150).map { i =>
      val words = (0 until 30).map { w =>
        if (w < i % 13) s"alt${i % 7}w$w" else s"base$w"
      }
      (i.toLong, words.mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val maxH = 10
    val got = Dedup.simHashPairs(df, "doc_id", "text", maxHamming = maxH)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force over all pairs via the same signatures
    val sigs = df.select(col("doc_id"), Dedup.simHash(col("text")).as("sh"))
      .as[(Long, Long)].collect()
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= maxH
    } yield (ia, ib)).toSet
    assert(want.nonEmpty, "corpus must contain pairs within the budget")
    // there must be pairs in the 4..10 range — the regression the old
    // fixed banding silently dropped
    val far = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && { val h = java.lang.Long.bitCount(sa ^ sb); h >= 4 && h <= maxH }
    } yield (ia, ib)).toSet
    assert(far.nonEmpty, "corpus must contain hamming 4..10 pairs")
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
  }

  test("ngram jaccard: exact=1.0, near-dup high, distinct low") {
    val pairs = Seq((1L, 5L), (1L, 2L), (1L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, pairs, "doc_id", "text", k = 2)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(j((1L, 5L)) == 1.0)
    assert(j((1L, 2L)) > 0.8)
    assert(j((1L, 3L)) < 0.1)
  }

  test("brute-force cosine top-k: identical vector first, orthogonal excluded") {
    val vecs = Seq(
      (1L, Seq(1f, 0f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f, 0f)),
      (3L, Seq(0f, 1f, 0f, 0f)),
      (4L, Seq(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1f, 0f, 0f, 0f), k = 2).as[(Long, Double)].collect()
    assert(top.map(_._1).toSeq == Seq(1L, 4L) && top.forall(_._2 == 1.0))
  }

  test("LSH ANN returns a subset of brute-force candidates with the top hit") {
    // deterministic cloud: near-dups of a query vector + noise vectors
    val dims = 16
    val rows = (0 until 200).map { i =>
      val v = (0 until dims).map { d =>
        val h = ((i * 31 + d) * 2654435761L % 1000) / 1000.0f
        if (i < 5) (if (d == 0) 10f else 0.01f * h) else h - 0.5f
      }
      (i.toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val q = rows(0)._2
    val exact = Similarity.bruteForceTopK(df.filter(col("vec_id") =!= 0L),
      "vec_id", "embedding", q, 3).as[(Long, Double)].collect()
    val approx = Similarity.lshTopK(df.filter(col("vec_id") =!= 0L),
      "vec_id", "embedding", q, 3, nPlanes = 6, nTables = 4)
      .as[(Long, Double)].collect()
    assert(exact.nonEmpty && approx.nonEmpty)
    // the strong hits (ids 1-4 share direction with q) should be recalled
    assert(approx.map(_._1).exists(id => id >= 1L && id <= 4L),
      s"approx=${approx.toSeq} exact=${exact.toSeq}")
  }

  test("text analysis: language id, token counts, quality, fingerprints") {
    val df = Seq(
      (1L, "the cat and the dog sat in the house and it was warm"),
      (2L, "der hund und die katze sind nicht mit der maus auf das dach"),
      (3L, "le chat et le chien sont dans la maison pour une heure"),
      (4L, "xyzzy plugh abracadabra")).toDF("doc_id", "text")
    val p = TextAnalysis.profile(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(p(1L).getString(1) == "en")
    assert(p(2L).getString(1) == "de")
    assert(p(3L).getString(1) == "fr")
    assert(p(4L).getString(1) == "und")
    assert(p(1L).getInt(2) == 13) // whitespace tokens
    assert(p(1L).getInt(3) >= 13) // BPE-ish >= word count here
    val q = p(1L).getDouble(4)
    assert(q > 0 && q <= 1.0)
    assert(p(1L).getString(5).matches("[0-9a-f]{32}"))
    // rolling hash deterministic + normalization-invariant
    val fps = df.select(fingerprintRolling(col("text"))).as[Long].collect()
    val fps2 = df.select(fingerprintRolling(
      upper(concat(col("text"), lit("  "))))).as[Long].collect()
    assert(fps.sameElements(fps2), "case/whitespace-normalized rolling hash")
  }

  test("multimodal plumbing: schema, determinism, frame sampling") {
    val media = Multimodal.syntheticMedia(spark, 50)
    val meta = Multimodal.probeMeta(media).collect()
    assert(meta.length == 50)
    // PNG/WAV rows carry REAL headers — the probe must recover the exact
    // id-derived values the builder encoded
    def idOf(ref: String): Long = java.lang.Long.parseLong(ref.stripPrefix("m-"), 16)
    val pngs = meta.filter(_.mime == "image/png")
    assert(pngs.nonEmpty && pngs.forall { m =>
      val id = idOf(m.media_ref)
      m.width == 16 + (id % 1920).toInt && m.height == 16 + ((id / 7) % 1080).toInt &&
        m.nframes == 1 && m.sample_rate == 0 && m.channels == 0
    }, pngs.mkString("\n"))
    val wavs = meta.filter(_.mime == "audio/wav")
    assert(wavs.nonEmpty && wavs.forall { m =>
      val id = idOf(m.media_ref)
      m.sample_rate == 8000 + (id % 8).toInt * 1000 &&
        m.channels == 1 + (id % 2).toInt &&
        m.nframes == 100 + (id % 1000).toInt && m.width == 0
    }, wavs.mkString("\n"))
    // MP4 rows carry REAL container headers too — tkhd dims + stts frames
    val vids = meta.filter(_.mime.startsWith("video"))
    assert(vids.nonEmpty && vids.forall { m =>
      val id = idOf(m.media_ref)
      m.width == 16 + (id % 640).toInt && m.height == 16 + ((id / 3) % 480).toInt &&
        m.nframes == 1 + (id % 300).toInt && m.sample_rate == 0
    }, vids.mkString("\n"))
    // every synthetic row carries a real parseable header
    assert(meta.forall(_.parsed))
    val meta2 = Multimodal.probeMeta(media).collect()
    assert(meta.sortBy(_.media_ref).sameElements(meta2.sortBy(_.media_ref)))
    // features come from DECODED content — header-only probe fixtures
    // (no IDAT pixels, no PCM data) yield NO feature rows, never fakes
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.isEmpty, s"header-only media must yield no features, got ${feats.length}")
    // an UNPARSEABLE payload is a violation row, not fabricated metadata
    val junk = Seq(("m-junk", "video/mp4", Array[Byte](1, 2, 3)),
      ("m-null", "image/png", null.asInstanceOf[Array[Byte]]))
      .toDF("media_ref", "mime", "content")
    val junkMeta = Multimodal.probeMeta(junk).collect()
    assert(junkMeta.forall(m => !m.parsed && m.width == 0 && m.nframes == 0))
    val viols = Multimodal.probeViolations(junk).orderBy("doc_id").collect()
    assert(viols.length == 2 && viols(0).getString(2) == "media_header" &&
      viols(0).getString(3) ==
        "Unrecognized media payload (3 bytes, declared video/mp4)",
      viols.mkString("\n"))
    // unparseable video never reaches frame sampling
    assert(Multimodal.sampleFrames(Multimodal.probeMeta(junk).toDF()).count() == 0)
    // resize plan: aspect preserved, never upscaled, unparseable excluded
    val metaDf = Multimodal.probeMeta(media).toDF()
    val rp = Multimodal.resizePlan(metaDf, 100, 100).collect()
    assert(rp.nonEmpty && rp.forall { r =>
      val (w, h, ow, oh) = (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4))
      ow <= 100 && oh <= 100 && ow <= w && oh <= h &&
        (if (w <= 100 && h <= 100) ow == w && oh == h else true)
    }, rp.take(3).mkString(","))
    assert(Multimodal.resizePlan(Multimodal.probeMeta(junk).toDF(), 100, 100)
      .count() == 0)
    val frames = Multimodal.sampleFrames(Multimodal.probeMeta(media).toDF(), stride = 10)
    assert(frames.count() == meta.count(_.mime.startsWith("video")))
  }

  test("header codec parses hand-built PNG/JPEG/WAV bytes exactly") {
    import Multimodal.{HeaderBytes, HeaderCodec}
    assert(HeaderCodec.probePng(HeaderBytes.png(640, 480)).contains((640, 480)))
    // JPEG probe must skip the APP0 segment to reach SOF0
    assert(HeaderCodec.probeJpeg(HeaderBytes.jpeg(1024, 768)).contains((1024, 768)))
    assert(HeaderCodec.probeWav(HeaderBytes.wav(44100, 2, 12345))
      .contains((44100, 2, 12345)))
    // dispatch is on magic bytes, not the (possibly lying) mime string
    assert(HeaderCodec.probe(HeaderBytes.png(33, 44))
      .contains((33, 44, 1, 0, 0)))
    assert(HeaderCodec.probe(HeaderBytes.wav(8000, 1, 7))
      .contains((0, 0, 7, 8000, 1)))
    // MP4: box walk recovers tkhd dims and the stts frame-count sum
    assert(HeaderCodec.probeMp4(HeaderBytes.mp4(1280, 720, 240))
      .contains((1280, 720, 240)))
    assert(HeaderCodec.probe(HeaderBytes.mp4(320, 240, 7))
      .contains((320, 240, 7, 0, 0)))
    assert(HeaderCodec.probeMp4(HeaderBytes.png(64, 64)).isEmpty)
    // truncated mp4 fails soft
    assert(HeaderCodec.probeMp4(HeaderBytes.mp4(320, 240, 7).take(40)).isEmpty)
    // JPEG 0xFF fill bytes between segments are legal padding, not desync
    val padded = {
      val j = HeaderBytes.jpeg(800, 600)
      (j.take(2) ++ Array.fill(3)(0xff.toByte) ++ j.drop(2)).toArray
    }
    assert(HeaderCodec.probeJpeg(padded).contains((800, 600)))
    // corrupt WAV with a negative chunk size terminates (no infinite loop)
    val badWav = {
      val w = HeaderBytes.wav(8000, 1, 7)
      w(16) = 0xf8.toByte; w(17) = 0xff.toByte // fmt size -> 0xFFFFFFF8 = -8
      w(18) = 0xff.toByte; w(19) = 0xff.toByte
      w
    }
    assert(HeaderCodec.probeWav(badWav).isEmpty)
    // adversarial deep box nesting fails soft, not StackOverflowError
    val deepMp4 = {
      val out = java.nio.ByteBuffer.allocate(16 + 8 * 50000)
      out.putInt(16).put("ftyp".getBytes("US-ASCII"))
        .put("isom".getBytes("US-ASCII")).putInt(0)
      (0 until 50000).foreach { i =>
        out.putInt(8 * (50000 - i)) // each box wraps the rest of the chain
        out.put("trak".getBytes("US-ASCII"))
      }
      out.array()
    }
    assert(HeaderCodec.probeMp4(deepMp4).isEmpty) // returns, no throw
    // truncated / garbage bytes fail soft (None -> violation row), never
    // throw and never fabricate
    assert(HeaderCodec.probePng(Array[Byte](1, 2, 3)).isEmpty)
    assert(HeaderCodec.probe(Array[Byte](0x89.toByte)).isEmpty)
    assert(HeaderCodec.probe(null).isEmpty)
  }

  test("content codec: real PNG inflate + 5-filter reconstruction, PCM read") {
    import Multimodal.{ContentCodec, HeaderBytes}
    // a 9-row image exercises every scanline filter (y % 5 covers 0..4
    // twice, with non-zero up/upper-left context on the repeats); decode
    // must reproduce the generator formula pixel for pixel
    val (w, h, id) = (13, 9, 42L)
    val png = HeaderBytes.pngGray(w, h, id)
    val Some((dw, dh, px)) = ContentCodec.decodePngGray(png): @unchecked
    assert(dw == w && dh == h && px.length == w * h)
    for (y <- 0 until h; x <- 0 until w)
      assert(px(y * w + x) == HeaderBytes.grayPixel(x, y, id),
        s"pixel ($x,$y) filter ${y % 5}")
    // the zlib stream is real: a flipped IDAT payload byte must fail soft
    val corrupt = png.clone()
    corrupt(8 + 25 + 8 + 5) = (corrupt(8 + 25 + 8 + 5) ^ 0x5a).toByte
    assert(ContentCodec.decodePngGray(corrupt).isEmpty
      || ContentCodec.decodePngGray(corrupt).exists(_._3.length == w * h))
    // truncation mid-IDAT fails soft, never throws
    assert(ContentCodec.decodePngGray(png.take(png.length - 20)).isEmpty)
    // header-only fixture (no pixel data) is probe-able but not decodable
    assert(ContentCodec.decodePngGray(HeaderBytes.png(64, 64)).isEmpty)
    // WAV PCM: every interleaved sample back bit-exact
    val wav = HeaderBytes.wavPcm(8000, 2, 50, 7L)
    val Some((rate, ch, samples)) = ContentCodec.decodeWavPcm(wav): @unchecked
    assert(rate == 8000 && ch == 2 && samples.length == 100)
    samples.zipWithIndex.foreach { case (s, k) =>
      assert(s.toInt == HeaderBytes.pcmSample(k, 7L), s"sample $k")
    }
    // header-only WAV declares data it never materialized -> not decodable
    assert(ContentCodec.decodeWavPcm(HeaderBytes.wav(8000, 1, 100)).isEmpty)
    // content stats + histogram features ride the decode, distributed
    val media = Multimodal.syntheticMediaFull(spark, 40)
    val stats = Multimodal.contentFeatures(media).collect()
    assert(stats.length == 40) // every full-payload row decodes
    val img = stats.filter(_.kind == "image")
    assert(img.nonEmpty && img.forall(s =>
      s.vmin >= 0 && s.vmax <= 255 && s.n > 0 && s.duration_ms.isEmpty))
    val aud = stats.filter(_.kind == "audio")
    assert(aud.nonEmpty && aud.forall(s =>
      s.vmin >= -32768 && s.vmax <= 32767 && s.duration_ms.exists(_ >= 0)))
    // spot-check one audio row against the formula
    val a1 = aud.find(_.media_ref == "m-00000001").get
    val exp = (0 until (40 + 1) * 1).map(k => HeaderBytes.pcmSample(k, 1L))
    assert(a1.n == exp.length && a1.vsum == exp.map(_.toLong).sum &&
      a1.sqsum == exp.map(v => v.toLong * v).sum)
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.length == 40 && feats.forall { f =>
      f.feature.length == 8 && math.abs(f.feature.map(_.toDouble).sum - 1.0) < 1e-5
    })
  }

  test("row diff: added/removed/changed only, unchanged rows never emitted") {
    val va = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("id", "text", "n")
    val vb = Seq((1L, "a", 10), (2L, "B", 20), (4L, "d", 41), (5L, "e", 50))
      .toDF("id", "text", "n")
    val d = Diff.rowDiff(va, vb, "id", Seq("text", "n")).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(d == Seq((2L, "changed"), (3L, "removed"),
      (4L, "changed"), (5L, "added")), d.mkString(","))
    val counts = Diff.rowDiff(va, vb, "id", Seq("text", "n"))
      .groupBy(col("status")).agg(count(lit(1)).as("rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("changed" -> 2L, "removed" -> 1L, "added" -> 1L))
  }

  test("incrementalRows: full b rows for added+changed, unchanged dropped, null-safe content") {
    val va = Seq((1L, Option("a"), 10), (2L, Option("b"), 20),
      (3L, Option.empty[String], 30), (4L, Option("d"), 40))
      .toDF("id", "text", "n")
    val vb = Seq((1L, Option("a"), 10),          // unchanged
      (2L, Option("B"), 20),                     // changed
      (3L, Option.empty[String], 30),            // unchanged (null content)
      (4L, Option.empty[String], 40),            // changed to null
      (5L, Option("e"), 50))                     // added
      .toDF("id", "text", "n")
    val delta = Diff.incrementalRows(va, vb, "id", Seq("text", "n"))
    assert(delta.columns.toSeq == Seq("id", "text", "n")) // b's full schema
    val got = delta.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got == Seq((2L, Some("B")), (4L, None), (5L, Some("e"))),
      got.mkString(","))
  }

  test("z-order: interleave bit-exact; every dimension's bucket range is narrow") {
    // known Morton value: x=5 (101), y=3 (011), 3 bits -> 27
    val one = Seq((5L, 3L)).toDF("x", "y")
    val z = one.select(Layout.interleaveBits(Seq(col("x"), col("y")), 3)
      .as("z")).head().getLong(0)
    assert(z == 27L, s"got $z")

    // full 32x32 grid, bits=5, 16 buckets: each z-bucket is EXACTLY an
    // 8x8 tile, so per-bucket width is 8 on BOTH dims (a linear sort
    // would span the full 32 on the trailing dim)
    val grid = spark.range(1024)
      .select((col("id") % 32).as("x"), (col("id") / 32).cast("long").as("y"))
    val dims = Seq((col("x"), 0L, 31L), (col("y"), 0L, 31L))
    val stats = Layout.skippingStats(grid, dims, bits = 5, nBuckets = 16)
    val rows = stats.collect()
    assert(rows.length == 16)
    rows.foreach { r =>
      assert(r.getLong(2) - r.getLong(1) == 7L, s"d0 width in $r") // max-min
      assert(r.getLong(4) - r.getLong(3) == 7L, s"d1 width in $r")
      assert(r.getLong(5) == 64L)
    }
    val fr = skipFractions(stats, nDims = 2).head()
    assert(math.abs(fr.getDouble(0) - 0.25) < 1e-12 &&
      math.abs(fr.getDouble(1) - 0.25) < 1e-12, fr.toString)
  }

  test("zOrderBy: output is globally z-sorted across range partitions") {
    val grid = spark.range(256)
      .select((col("id") % 16).as("x"), (col("id") / 16).cast("long").as("y"))
    val dims = Seq((col("x"), 0L, 15L), (col("y"), 0L, 15L))
    val out = Layout.zOrderBy(grid, dims, bits = 4, nFiles = 4)
    // re-derive z in collection order; must be globally non-decreasing when
    // partitions are walked in range order
    val zs = out.select(Layout.zValue(dims, 4).as("z")).collect().map(_.getLong(0))
    assert(zs.length == 256 && zs.sameElements(zs.sorted), "not z-sorted")
  }

  test("completeness trend: exact per-day null counts, single-scan melt") {
    val rows = Seq(
      ("2024-01-01 10:00:00", Some("u1"), Some("p")),
      ("2024-01-01 11:00:00", None, Some("p")),
      ("2024-01-01 12:00:00", Some("u2"), None),
      ("2024-01-02 09:00:00", None, None),
      ("2024-01-02 10:00:00", Some("u3"), Some("p")))
      .toDF("ts_s", "u", "p")
      .select(col("ts_s").cast("timestamp").as("ts"), col("u"), col("p"))
    val got = Stats.completenessTrend(rows, Seq("u", "p"), "ts")
      .orderBy("day", "column")
      .select("day", "column", "n_rows", "n_null", "null_rate")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("2024-01-01", "p", 3L, 1L, 1.0 / 3),
      ("2024-01-01", "u", 3L, 1L, 1.0 / 3),
      ("2024-01-02", "p", 2L, 1L, 0.5),
      ("2024-01-02", "u", 2L, 1L, 0.5)), got.toString)
    // single scan: one aggregate, no join, no window
    val plan = Stats.completenessTrend(rows, Seq("u", "p"), "ts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"expected one-pass agg + melt:\n$plan")
  }

  test("rareTokenStats: token mass with low corpus df, counts exact") {
    val docs = Seq(
      (1L, "alpha beta beta gamma"),   // gamma df=1, alpha df=2, beta df=2
      (2L, "alpha beta delta"),        // delta df=1
      (3L, "alpha zeta")               // zeta df=1; alpha df=3
    ).toDF("doc_id", "text")
    val out = TextAnalysis.rareTokenStats(docs, "doc_id", "text", dfMax = 2L)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc1: tokens=4, rare mass = beta(2)+gamma(1)=3, distinct=3, rare distinct=2
    // doc2: tokens=3, rare = beta+delta=2, distinct=3, rare distinct=2
    // doc3: tokens=2, rare = zeta=1, distinct=2, rare distinct=1
    assert(out.toSeq == Seq((1L, 4L, 3L, 3L, 2L), (2L, 3L, 2L, 3L, 2L),
      (3L, 2L, 1L, 2L, 1L)), out.mkString(","))
  }

  test("schema diff: added/removed/type/nullability at any nesting depth") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("old", StringType),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("kind", StringType),
        StructField("offset", IntegerType)))))))
    val b = StructType(Seq(
      StructField("id", LongType, nullable = true), // relaxed
      StructField("fresh", StringType),             // added
      StructField("spans", ArrayType(StructType(Seq(
        StructField("kind", StringType),
        StructField("offset", LongType)))))))       // widened
    val d = Diff.schemaDiff(a, b)
    assert(d == Seq(
      "fresh" -> "added",
      "id" -> "nullability: false -> true",
      "old" -> "removed",
      "spans.element.offset" -> "type: int -> bigint"), d.mkString("; "))
    assert(Diff.schemaDiff(a, a).isEmpty)
  }

  test("URL extraction: counts, domains in order, top-domain ranking") {
    val udocs = Seq(
      (1L, "visit https://a.example.org/x and http://b.example.net:8080/y ok"),
      (2L, "plain text, no links"),
      (3L, "dup https://a.example.org/z end")).toDF("doc_id", "text")
    val counts = udocs.select(col("doc_id"),
      TextAnalysis.urlCount(col("text")).as("n")).orderBy("doc_id")
      .collect().map(_.getLong(1)).toSeq
    assert(counts == Seq(2L, 0L, 1L))
    val doms = udocs.filter(col("doc_id") === 1L)
      .select(TextAnalysis.domains(col("text"))).collect()(0).getSeq[String](0)
    assert(doms == Seq("a.example.org", "b.example.net"))
    val top = TextAnalysis.topDomains(udocs, "text", 5).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(top == Seq(("a.example.org", 2L), ("b.example.net", 1L)))
  }

  test("split assignment: total cover, determinism, approximate proportions") {
    val ids = spark.range(20000).select(col("id").as("doc_id"))
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val sp = Sampling.splits(ids, "doc_id", w)
    val byLabel = sp.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.values.sum == 20000L, "every row gets exactly one split")
    assert(math.abs(byLabel("train") - 16000L) < 400, s"$byLabel")
    assert(math.abs(byLabel("val") - 2000L) < 200, s"$byLabel")
    // determinism: re-running (and re-partitioning) never migrates a row
    val again = Sampling.splits(ids.repartition(13), "doc_id", w)
    assert(sp.join(again.withColumnRenamed("split", "s2"), "doc_id")
      .filter(col("split") =!= col("s2")).count() == 0)
    intercept[IllegalArgumentException] {
      Sampling.splits(ids, "doc_id", Seq("a" -> 0.5, "b" -> 0.4))
    }
  }

  test("sequence packing: contiguous offsets, straddling docs, exact bin fills") {
    // 1 shard so the stream layout is hand-checkable: capacity 10,
    // doc tokens 4, 4, 5, 3 -> offsets 0, 4, 8, 13; doc 3 straddles bins
    // 0 and 1 (tokens 8..12); total 16 tokens -> bins 0 (10) and 1 (6)
    val docs = Seq((1L, "a b c d"), (2L, "e f g h"), (3L, "i j k l m"),
      (4L, "n o p"), (5L, "   ")).toDF("doc_id", "text")
    val m = packConcat(docs, "doc_id", "text", capacity = 10, shards = 1)
      .orderBy("id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(m.toSeq == Seq((1L, 4L, 0L, 0L, 1L), (2L, 4L, 4L, 0L, 1L),
      (3L, 5L, 8L, 0L, 2L), (4L, 3L, 13L, 1L, 1L)), m.mkString(","))
    val manifest = packConcat(docs, "doc_id", "text", 10, 1)
    val fills = Packing.binFill(manifest, 10).orderBy("bin").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fills.toSeq == Seq((0L, 10L, 3L), (1L, 6L, 2L)), fills.mkString(","))
    // multi-shard invariant on a bigger corpus: every bin full except the
    // last per shard, and per-shard token totals are conserved
    val big = spark.range(500).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), (pmod(col("id"), lit(7L)) + 1L).cast("int")),
        i => concat(lit("t"), i))).as("text"))
    val bm = packConcat(big, "doc_id", "text", capacity = 16, shards = 4)
    val bf = Packing.binFill(bm, 16).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val lastBin = bf.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    assert(bf.forall { case (s, b, fill) => fill == 16L || b == lastBin(s) },
      "a non-final bin is underfilled")
    val tokensIn = bm.agg(sum("n_tokens")).collect()(0).getLong(0)
    val tokensOut = bf.map(_._3).sum
    assert(tokensIn == tokensOut, s"token conservation: $tokensIn != $tokensOut")
  }

  test("int8 quantization: range, zero-vector edge, reconstruction error bound") {
    val vecs = Seq(
      (1L, Seq(1.0f, -2.0f, 0.5f, 4.0f)),
      (2L, Seq(0.0f, 0.0f, 0.0f, 0.0f)),     // zero vector -> scale 0, all q 0
      (3L, Seq(-3.5f, 3.5f, 1.75f, -0.875f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("id").collect()
    val r1 = q(0)
    assert(r1.getDouble(1) == 4.0 &&
      r1.getSeq[Int](2) == Seq(32, -63, 16, 127), r1.toString)
    assert(q(1).getDouble(1) == 0.0 && q(1).getSeq[Int](2).forall(_ == 0))
    // reconstruction: |q * scale / 127 - x| <= scale / 254 + ulp slack
    val r3 = q(2)
    val scale = r3.getDouble(1)
    val qs = r3.getSeq[Int](2)
    val orig = Seq(-3.5, 3.5, 1.75, -0.875)
    qs.zip(orig).foreach { case (qv, x) =>
      assert(math.abs(qv * scale / 127.0 - x) <= scale / 254.0 + 1e-12,
        s"q=$qv x=$x scale=$scale")
    }
    assert(qs.forall(v => v >= -127 && v <= 127))
  }

  test("quantized ANN: top hit exact, scores within quantization error, high overlap") {
    // the honest contract: cosine over int8 vectors agrees with the float
    // corpus to within quantization error (per-dim <= scale/254) — rank
    // flips are possible only between candidates closer than that error
    val dims = 8
    val vecs = (0 until 120).map { i =>
      val c = i % 4
      val v = Seq.tabulate(dims)(d =>
        (if (d == c * 2) 1.0f else 0.0f) + (((i * 13 + d) % 7) - 3) / 40.0f)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val q = Seq.tabulate(dims)(d => if (d == 0) 1.0f else 0.05f)
    val exactScores = Similarity.cosineScores(vecs, "vec_id", "embedding", q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val quant = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
    val quantScores = Similarity.cosineScores(quant, "id", "qvec", q)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every score within the quantization error envelope
    quantScores.foreach { case (id, cq) =>
      assert(math.abs(cq - exactScores(id)) <= 0.03,
        s"id=$id quant=$cq exact=${exactScores(id)}")
    }
    // the clear winner is preserved; the top-10 SETS overlap >= 8/10
    // (flips happen only among near-ties inside one cluster)
    def top10(m: Map[Long, Double]) =
      m.toSeq.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1)
    assert(top10(quantScores).head == top10(exactScores).head)
    assert(top10(quantScores).toSet.intersect(top10(exactScores).toSet).size >= 8,
      s"quant=${top10(quantScores)} exact=${top10(exactScores)}")
  }

  test("HLL estimates sit within the published error bound of exact distinct") {
    // the g_stats_hll driver row is rows-only (a foreign engine cannot
    // reproduce sketch internals) — this pins the VALUES instead: HLL at
    // default lgK=12 has RSE ~1.04/sqrt(4096) = 1.6%, so 5% is >3 sigma;
    // approx_count_distinct's default rsd is 5%, bounded here at 15%
    val n = 40000L
    val df = spark.range(n).select(col("id"),
      (col("id") % 7919L).as("k_mid"),      // 7919 distinct
      (col("id") % 17L).as("k_small"),      // 17 distinct (HLL is exact-ish)
      col("id").as("k_all"))                // n distinct
    val prof = Stats.profile(df, Seq("k_mid", "k_small", "k_all"))
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("approx_distinct"), r.getAs[Long]("hll_distinct"))).toMap
    val exact = Map("k_mid" -> 7919L, "k_small" -> 17L, "k_all" -> n)
    exact.foreach { case (c, e) =>
      val (acd, hll) = prof(c)
      assert(math.abs(hll - e).toDouble / e <= 0.05,
        s"$c: hll=$hll exact=$e outside 5%")
      assert(math.abs(acd - e).toDouble / e <= 0.15,
        s"$c: approx_count_distinct=$acd exact=$e outside 15%")
    }
    // the mergeable per-partition path (what the commit log persists) must
    // land inside the same bound after the union
    val parts = df.withColumn("part", (col("id") % 8L).cast("int"))
    val merged = Stats.unionSketches(Stats.partitionSketches(parts, "k_mid"))
      .collect()(0)
    assert(math.abs(merged.getLong(0) - 7919L).toDouble / 7919L <= 0.05 &&
      merged.getLong(1) == n, s"merged=${merged}")
  }

  test("sessionization gap rule + tumbling window verdicts") {
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 5.0),
      (1L, "2024-01-01 00:10:00", 150.0), // same session (10 min gap); fails value<=100
      (1L, "2024-01-01 01:00:00", 7.0),   // new session (50 min gap), new hour window
      (2L, "2024-01-01 00:00:00", 1.0))
      .toDF("user_id", "ts0", "value")
      .withColumn("ts", col("ts0").cast("timestamp")).drop("ts0")
    val st = Sessionize.sessionStats(ev, "user_id", "ts", gapMinutes = 30)
      .orderBy("user_id").collect()
    assert(st(0).getLong(1) == 2L && st(0).getLong(2) == 3L) // user 1: 2 sessions, 3 events
    assert(st(1).getLong(1) == 1L && st(1).getLong(2) == 1L)
    val wv = Sessionize.windowVerdicts(
      ev.withColumn("event_type", lit("click")), "ts", "event_type",
      failPred = col("value") > 100.0, windowLen = "1 hour")
      .orderBy("window_start").collect()
    assert(wv.length == 2)
    assert(wv(0).getLong(2) == 3L && wv(0).getLong(3) == 1L) // hour 0: 3 events, 1 failed
    assert(wv(1).getLong(2) == 1L && wv(1).getLong(3) == 0L)
  }

  test("uniqueness: salted two-phase finds exactly the injected duplicates") {
    val df = (1 to 1000).map(i => Tuple1(s"k${i % 700}")).toDF("doc_id")
    // keys k1..k300 appear twice (1000 rows, 700 distinct)
    val dups = Uniqueness.duplicates(df, "doc_id", salt = 16).collect()
    assert(dups.length == 300 && dups.forall(_.getLong(1) == 2L))
  }

  test("drift: PSI ~ 0 for identical distributions, large for shifted") {
    val a = spark.range(10000).select((col("id") % 100).cast("double").as("x"))
    val b = spark.range(10000).select(((col("id") % 100) + 50).cast("double").as("x"))
    val same = Drift.psi(a, a, "x", 0, 200, 20).collect()(0).getDouble(0)
    val diff = Drift.psi(a, b, "x", 0, 200, 20).collect()(0).getDouble(0)
    assert(math.abs(same) < 1e-9 && diff > 1.0, s"same=$same diff=$diff")
    val ksSame = Drift.ks(a, a, "x").collect()(0).getDouble(0)
    val ksDiff = Drift.ks(a, b, "x").collect()(0).getDouble(0)
    assert(ksSame < 0.01 && ksDiff > 0.4, s"ksSame=$ksSame ksDiff=$ksDiff")
    // an all-null side raises, naming the operator and the side
    val nulls = b.select(lit(null).cast("double").as("x"))
    val psiErr = failureOf(Drift.psi(a, nulls, "x", 0, 200, 20).collect())
    assert(psiErr.contains("psi: no non-null rows in column 'x' on side 'b'"), psiErr)
    val ksErr = failureOf(Drift.ks(a, nulls, "x").collect())
    assert(ksErr.contains("ks: no non-null rows in column 'x' on side 'b'"), ksErr)
  }

  test("ref integrity: anti-join finds exactly the dangling refs") {
    import graft.model.{Doc, Span}
    val docs = Seq(
      Doc("d1", Seq(Span("media", "", "m-00000001", 0)), 0),
      Doc("d2", Seq(Span("media", "", "m-deadbeef", 0)), 0),
      Doc("d3", Seq(Span("text", "x", "", 0)), 0)).toDF()
    val catalog = Seq(("m-00000001", "image/png", 10L))
      .toDF("media_ref", "mime", "bytes")
    val dangling = RefIntegrity.dangling(docs, catalog).collect()
    assert(dangling.length == 1 && dangling(0).getString(1) == "d2")
  }

  test("bloom-tier ref integrity == exact anti-join, even at adversarial fpp") {
    import graft.model.{Doc, Span}
    val docs = (1 to 200).map { i =>
      val ref = f"m-${i}%08d"
      Doc(s"d$i", Seq(Span("media", "", ref, 0)), 0)
    }.toDF()
    // catalog holds refs 1..200 except multiples of 7 (28 dangling)
    val catalog = (1 to 200).filter(_ % 7 != 0)
      .map(i => (f"m-${i}%08d", "image/png", 1L)).toDF("media_ref", "mime", "bytes")
    val exact = RefIntegrity.danglingRefs(docs, catalog).collect()
      .map(_.getString(0)).sorted
    // fpp 0.5 with a deliberately undersized filter: tier 1 misclassifies
    // many danglings as maybe-present — tier 2's anti-join must recover them
    for (fpp <- Seq(0.5, 0.001)) {
      val bloom = RefIntegrity.danglingRefsBloom(docs, catalog,
        expectedItems = 172L, fpp = fpp).collect().map(_.getString(0)).sorted
      assert(bloom.toSeq == exact.toSeq, s"fpp=$fpp: ${bloom.length} vs ${exact.length}")
    }
    assert(exact.length == 28)
  }

  test("bloom-tier filter is sized as asked past bloom_filter_agg's 4M-item cap") {
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.util.sketch.BloomFilter
    val catalog = (1 to 200).map(i => f"m-${i}%08d").toDF("media_ref")
    // below the cap: the same filter as Spark's aggregate builds
    val small = RefIntegrity.catalogBloom(catalog, 172L, 0.001)
    assert(small == catalog.stat.bloomFilter(xxhash64(col("media_ref")), 172L,
      BloomFilter.optimalNumOfBits(172L, 0.001)))
    assert((1 to 200).forall(i => small.mightContainLong(
      catalog.filter(col("media_ref") === f"m-${i}%08d")
        .select(xxhash64(col("media_ref"))).head().getLong(0))))
    // above it: every requested bit (143.8 Mbit, 18 MB; the aggregate stops
    // at 64 Mbit), over 16 partitions that each fill one filter, of which
    // the driver's task results carry one, not one per tree branch
    val (n, fpp) = (10000000L, 0.001)
    val filterBytes = BloomFilter.optimalNumOfBits(n, fpp) / 8
    val spread = catalog.repartition(16)
    val resultBytes = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => resultBytes.addAndGet(m.resultSize))
    }
    val sc = spark.sparkContext
    GraftShims.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val big =
      try {
        val bf = RefIntegrity.catalogBloom(spread, n, fpp)
        GraftShims.drainListenerBus(sc)
        bf
      } finally sc.removeSparkListener(listener)
    assert(big.bitSize() >= BloomFilter.optimalNumOfBits(n, fpp))
    assert(resultBytes.get > filterBytes && resultBytes.get < 2 * filterBytes,
      s"${resultBytes.get} bytes of task results for a $filterBytes-byte filter")
    assert(big == RefIntegrity.catalogBloom(spread.coalesce(1), n, fpp))
    // an empty catalog (a plan of no partitions) gives an empty filter
    assert(RefIntegrity.catalogBloom(catalog.limit(0), 172L, 0.001) ==
      BloomFilter.create(172L, BloomFilter.optimalNumOfBits(172L, 0.001)))
  }

  test("inference closure: inferred rule passes the corpus, catches the envelope-breaker") {
    import graft.rules.RuleLoader
    val df = Seq(
      (1L, "alpha", "en", 10L), (2L, "beta", "de", 20L),
      (3L, "gamma", "en", 30L), (4L, "delta", "fr", 15L))
      .toDF("doc_id", "text", "lang", "n")
    val rule = Inference.inferRule(df, enumMaxDistinct = 3)
    // closure: the corpus that produced the rule validates clean
    assert(Validate.withViolations(df, rule).filter(!col("pass")).count() == 0)
    // a row outside the observed envelope violates: n over max, lang novel
    val bad = Seq((9L, "x", "zh", 99L)).toDF("doc_id", "text", "lang", "n")
    val v = Validate.flatViolations(Validate.withViolations(bad, rule))
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(v.contains(("n", "maximum")) && v.contains(("lang", "enum")))
    assert(v.contains(("text", "minLength"))) // "x" shorter than observed min 4
    // enum gate: lang has 3 distinct (<= 3) → enum inferred; text has 4 → not
    val kw = Inference.inferKeywords(df, enumMaxDistinct = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(kw(("lang", "enum")) == "[\"de\", \"en\", \"fr\"]")
    assert(!kw.contains(("text", "enum")))
    assert(kw(("n", "minimum")) == "10" && kw(("n", "maximum")) == "30")
    // YAML round-trip: the emitted schema loads and validates identically
    val loaded = RuleLoader.loadString(Inference.toYaml(rule))
    assert(Validate.withViolations(df, loaded.root, loaded.defs)
      .filter(!col("pass")).count() == 0)
    val v2 = Validate.flatViolations(
      Validate.withViolations(bad, loaded.root, loaded.defs))
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(v2 == v, s"yaml round-trip drifted: $v2 vs $v")
  }

  test("split-leak audit: labels agree with splits(), only straddling pairs kept") {
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // ground truth from splits() over ids 1..200
    val truth = Sampling.splits((1L to 200L).toDF("id"), "id", w)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // all adjacent pairs; expected leaks = those whose labels differ
    val pairs = (1L until 200L).map(i => (i, i + 1, 0.9)).toDF("id_a", "id_b", "jaccard")
    val leaks = Sampling.splitLeaks(pairs, w).collect()
    val expected = (1L until 200L).filter(i => truth(i) != truth(i + 1))
    assert(leaks.map(_.getLong(0)).sorted.toSeq == expected.sorted)
    leaks.foreach { r =>
      assert(r.getString(3) == truth(r.getLong(0)) &&
        r.getString(4) == truth(r.getLong(1)))
    }
    assert(expected.nonEmpty && expected.size < 199) // audit is non-trivial both ways
  }

  test("embedding drift: identical slices shift 0, shifted dimension flagged") {
    val a = Seq(
      (1L, Seq(1.0f, 2.0f)), (2L, Seq(3.0f, 2.0f))).toDF("id", "vec")
    val b = Seq(
      (3L, Seq(1.0f, 7.0f)), (4L, Seq(3.0f, 7.0f))).toDF("id", "vec")
    val same = Similarity.embeddingDrift(a, a, "vec").collect()
    assert(same.forall(_.getDouble(3) == 0.0))
    val drift = Similarity.embeddingDrift(a, b, "vec").collect()
      .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(drift(0) == ((2.0, 2.0, 0.0)))   // dim 0: same mean
    assert(drift(1) == ((2.0, 7.0, 5.0)))   // dim 1: shifted by 5
  }

  test("token budget: docs and token sums per group, empty text counts 0") {
    val df = Seq(
      ("en", "one two three"), ("en", "four five"), ("en", "   "),
      ("de", "eins")).toDF("lang", "text")
    val b = TextAnalysis.tokenBudget(df, "text", Seq(col("lang")))
      .orderBy("lang").collect()
    assert(b.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("de", 1L, 1L), ("en", 3L, 5L)))
  }

  test("split healing: cluster members adopt the representative's split; zero leaks after") {
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    // two clusters: {1,2,3} (rep 1) and {10,11} (rep 10), via pair edges
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = DupClusters.clusters(pairs)
    val healed = Sampling.splitsHealed(clusters, w).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val repSplit = Sampling.splits(Seq(1L, 10L).toDF("id"), "id", w)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(1L, 2L, 3L).foreach(i => assert(healed(i)._2 == repSplit(1L)))
    Seq(10L, 11L).foreach(i => assert(healed(i)._2 == repSplit(10L)))
    // the audit finds nothing once pairs are labeled by cluster id
    val relabeled = pairs
      .withColumn("id_a", lit(1L)).withColumn("id_b", lit(1L))
    assert(Sampling.splitLeaks(relabeled, w).count() == 0)
  }

  test("fd audit: only determinants with >1 dependent value, counts exact") {
    val df = Seq(
      ("s1", "en"), ("s1", "en"), ("s1", "de"),   // violating: 2 langs, 3 rows
      ("s2", "fr"), ("s2", "fr"),                  // clean
      (null.asInstanceOf[String], "en"), (null.asInstanceOf[String], "de"))
      .toDF("source", "lang")
    val v = Stats.fdViolations(df, "source", "lang").collect()
    assert(v.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("s1", 2L, 3L))) // s2 clean; null determinant excluded
  }

  test("compaction plan: keep threshold, running-sum bins, never splits a file") {
    // part 0: files a(300), b(300), c(300), d(900 → keep), e(450)
    // small stream a,b,c,e: before-sums 0,300,600,900 at target 700 →
    // bins 0,0,0,1 (c overfills bin 0 to 900 rather than splitting)
    val manifest = Seq(
      (0, "a", 300L), (0, "b", 300L), (0, "c", 300L), (0, "d", 900L),
      (0, "e", 450L), (1, "x", 100L)).toDF("part", "path", "bytes")
    val plan = Layout.compactionPlan(manifest, targetBytes = 700L,
      smallFileBytes = 500L).orderBy("part", "path").collect()
    val byPath = plan.map(r => r.getString(1) ->
      (r.getString(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(byPath("a") == ("compact", 0L) && byPath("b") == ("compact", 0L))
    assert(byPath("c") == ("compact", 0L)) // overfill, not split
    assert(byPath("d") == ("keep", -1L))
    assert(byPath("e") == ("compact", 1L))
    assert(byPath("x") == ("compact", 0L)) // partitions bin independently
    val bins = Layout.compactionBins(
      Layout.compactionPlan(manifest, 700L, 500L)).orderBy("part", "bin").collect()
    assert(bins.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
      Seq((0, 0L, 3L, 900L), (0, 1L, 1L, 450L), (1, 0L, 1L, 100L)))
  }

  test("scorecard: per-rule counts, rates and Wilson lower bound hand-checked") {
    import graft.rules.{Rule, Keywords}
    // 10 docs, 3 violate minLength on text (and nothing else)
    val df = (1 to 10).map(i =>
      (s"d$i", if (i <= 3) "ab" else "long enough text")).toDF("doc_id", "text")
    val rule = Rule.Check(Keywords(properties = Map(
      "text" -> Rule.Check(Keywords(minLength = Some(5))))))
    val sc = Validate.scorecard(df, rule).collect()
    assert(sc.length == 1)
    val r = sc(0)
    assert(r.getString(0) == "text" && r.getString(1) == "minLength")
    assert(r.getLong(2) == 3L && r.getLong(3) == 3L)
    assert(r.getDouble(4) == 0.3)
    // Wilson 95% lower bound for 3/10: ((0.3 + z^2/20) - z*sqrt(0.3*0.7/10
    // + z^2/400)) / (1 + z^2/10) with z = 1.96 → ~0.1078
    val z = 1.96; val n = 10.0; val p = 0.3
    val expect = (p + z * z / (2 * n) -
      z * math.sqrt(p * (1 - p) / n + z * z / (4 * n * n))) / (1 + z * z / n)
    assert(math.abs(r.getDouble(5) - math.round(expect * 1e6) / 1e6) < 1e-12)
    assert(r.getDouble(5) > 0.10 && r.getDouble(5) < 0.12)
  }

  test("scorecard counts documents whose violation IS the missing id") {
    import graft.rules.{Rule, Keywords}
    val df = Seq(
      (null.asInstanceOf[String], "x"), (null.asInstanceOf[String], "y"),
      ("d3", "z")).toDF("doc_id", "text")
    val rule = Rule.Check(Keywords(required = List("doc_id")))
    val sc = Validate.scorecard(df, rule).collect()
    assert(sc.length == 1)
    // two docs violate required-doc_id; countDistinct(doc_id) would say 0
    assert(sc(0).getString(1) == "required" &&
      sc(0).getLong(2) == 2L && sc(0).getLong(3) == 2L)
    assert(sc(0).getDouble(4) == math.round(2.0 / 3.0 * 1e6) / 1e6)
  }

  test("heavy hitters: counts exact, skew ratio vs mean, salt recommendation") {
    // key 1 → 60 rows, key 2 → 30, keys 3..12 → 1 each; mean = 100/12
    val rows = Seq.fill(60)(1L) ++ Seq.fill(30)(2L) ++ (3L to 12L)
    val df = rows.map(k => (k, "x")).toDF("user_id", "v")
    val hh = Stats.heavyHitters(df, "user_id", k = 3, targetRowsPerTask = 25L)
      .collect()
    assert(hh.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 60L), (2L, 30L), (3L, 1L)))
    val mean = 100.0 / 12.0
    assert(math.abs(hh(0).getDouble(2) - math.round(60.0 / mean * 1e4) / 1e4) < 1e-9)
    // salts: ceil(60/25)=3, ceil(30/25)=2, floor at 1
    assert(hh.map(_.getLong(3)).toSeq == Seq(3L, 2L, 1L))
  }

  test("sessionization: day-bucketed Window matches single-Window semantics incl. midnight stitch") {
    val ts = Seq(
      // u1: one session crossing midnight (every gap <= 30 min)...
      ("u1", "2026-01-01 23:40:00"), ("u1", "2026-01-01 23:59:00"),
      ("u1", "2026-01-02 00:10:00"), ("u1", "2026-01-02 00:35:00"),
      // ...then a fresh session after a 3h gap, same day
      ("u1", "2026-01-02 03:40:00"),
      // u2: two sessions split EXACTLY at the day edge (gap > 30 min)
      ("u2", "2026-01-03 23:00:00"), ("u2", "2026-01-04 00:30:00"),
      ("u2", "2026-01-04 00:40:00"))
      .toDF("user_id", "t").select(col("user_id"), to_timestamp(col("t")).as("ts"))
    // naive single-Window reference (the unbounded-partition formulation)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"))
    val prev = lag(col("ts"), 1).over(w)
    val isNew = when(prev.isNull ||
      col("ts") > prev + expr("INTERVAL 30 MINUTES"), 1L).otherwise(0L)
    val naive = ts.withColumn("ref_idx", sum(isNew).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)) - 1L)
    val got = Sessionize.withSessions(ts, "user_id", "ts")
      .join(naive, Seq("user_id", "ts"))
    assert(got.filter(col("session_index") =!= col("ref_idx")).count() == 0,
      got.orderBy("user_id", "ts").collect().mkString("\n"))
    // midnight crossing really stitched: u1 has 2 sessions, u2 has 2
    val stats = Sessionize.sessionStats(ts, "user_id", "ts")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats == Map("u1" -> 2L, "u2" -> 2L), s"$stats")
  }

  test("sessionization keeps null-timestamp (and null-user) rows — null-safe stitch join") {
    // null ts => null _bucket; a plain EqualTo join key would drop these
    // rows silently. Single-Window semantics: each null-ts row is its own
    // session (lag over nulls-first ordering yields null => new session).
    val ts = Seq(
      ("u1", Some("2026-01-01 10:00:00")), ("u1", None), ("u1", None),
      (null, Some("2026-01-01 10:00:00")))
      .toDF("user_id", "t").select(col("user_id"), to_timestamp(col("t")).as("ts"))
    val got = Sessionize.withSessions(ts, "user_id", "ts")
    assert(got.count() == 4, "null-ts / null-user rows must survive")
    // nulls first: the two (indistinguishable) null-ts rows take sessions
    // {0, 1} in arbitrary order between them; the real event opens 2
    val nullIdx = got.filter(col("user_id") === "u1" && col("ts").isNull)
      .select("session_index").collect().map(_.getLong(0)).toSet
    assert(nullIdx == Set(0L, 1L), s"got $nullIdx")
    val realIdx = got.filter(col("user_id") === "u1" && col("ts").isNotNull)
      .select("session_index").collect().map(_.getLong(0)).toSeq
    assert(realIdx == Seq(2L), s"got $realIdx")
    assert(got.filter(col("user_id").isNull).count() == 1)
  }

  test("sessionization bounds a hot user: event Window partitions by (user, day)") {
    // one bot, 20k events a minute apart with a single 2h gap injected —
    // spans ~14 day buckets, so no single task ever sorts the whole user
    val bot = spark.range(20000).select(
      lit("bot").as("user_id"),
      expr("timestampadd(MINUTE, CAST(id AS INT) + CASE WHEN id >= 10000 " +
        "THEN 120 ELSE 0 END, TIMESTAMP '2026-01-01 00:00:00')").as("ts"))
    val stats = Sessionize.sessionStats(bot, "user_id", "ts").collect()
    assert(stats.length == 1 && stats(0).getLong(1) == 2L &&
      stats(0).getLong(2) == 20000L,
      s"expected 2 sessions / 20000 events, got ${stats.mkString}")
    // the plan's event-level Window must partition by the day bucket, not
    // by user alone (the per-user Window only ever sees summary rows)
    val plan = Sessionize.withSessions(bot, "user_id", "ts")
      .queryExecution.executedPlan.toString
    val windowNodes = plan.linesIterator.filter(_.contains("Window ")).toList
    assert(windowNodes.exists(_.contains("_bucket")),
      s"no day-bucketed Window in plan:\n$plan")
    // the running sum consumes the lag's output so they are two chained
    // Window nodes by necessity — but sharing one window spec means the
    // second must REUSE the first's partitioning+order: no Sort or
    // Exchange is allowed between the two event-level Windows
    val lines = plan.linesIterator.toIndexedSeq
    val sumIdx = lines.indexWhere(l => l.contains("Window") && l.contains("_we0"))
    val lagIdx = lines.indexWhere(l => l.contains("Window") && l.contains("lag("))
    assert(sumIdx >= 0 && lagIdx > sumIdx, s"unexpected window layout:\n$plan")
    val between = lines.slice(sumIdx + 1, lagIdx)
    assert(!between.exists(l => l.contains("Sort") || l.contains("Exchange")),
      s"extra Sort/Exchange between the event-level Windows:\n$plan")
    // the stitch join must BROADCAST the one-row-per-(user, day) summary so
    // the window-sorted event side needs no second exchange for the join
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      s"stitch join does not broadcast the summary:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"stitch join fell back to sort-merge (event side re-sorted):\n$plan")
  }

  test("connected components assign cluster-min labels across transitive pairs") {
    // components: {1,2,3} via chain 1-2, 2-3 (diameter 2); {10,11}; and a
    // long path 20-21-...-27 (diameter 7) to exercise multi-round convergence
    val chain = (20L until 27L).map(i => (i, i + 1))
    val edges = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++ chain).toDF("id_a", "id_b")
    val got = DupClusters.clusters(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val want = Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)) ++
      (20L to 27L).map(i => (i, 20L, i == 20L))
    assert(got == want, s"got $got")
  }

  test("connected components close a diameter-60 chain in O(log d) rounds") {
    // the shape plain min-label propagation cannot close in 25 rounds —
    // pointer jumping contracts the path geometrically (2^r-ish per round),
    // so the default maxIter converges with a wide margin
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = DupClusters.connectedComponents(chain, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 61 && labels.forall(_._2 == 0L),
      s"chain not fully contracted: ${labels.filter(_._2 != 0L).take(5).mkString(",")}")
  }

  test("connected components fail loudly when maxIter is too small") {
    val path = (0L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      DupClusters.connectedComponents(path, "id_a", "id_b", maxIter = 2).collect()
    }
  }

  test("repetition signals: exact fractions on hand-checked docs") {
    val rdocs = Seq(
      (1L, "a a a a"),               // 4 tokens, 1 distinct, top bigram "a a" x3
      (2L, "x y x y x"),             // 5 tokens, 2 distinct, bigrams: "x y"x2,"y x"x2
      (3L, "one two three four")     // all distinct
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(rdocs, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got(0) == ((1L, 4L, 0.25, 1.0, 1.0)))
    assert(got(1) == ((2L, 5L, 0.4, 0.6, 0.5)))
    assert(got(2) == ((3L, 4L, 1.0, 0.25, 1.0 / 3)))
  }

  test("curation pipeline: gates, dedup keep-min, deterministic sample compose") {
    val corpus = docs.unionAll(Seq(
      (6L, "a a a a a"),                                // repetition gate drops
      (7L, "der die und das ist nicht ein mit der die") // language gate drops
    ).toDF("doc_id", "text"))
    val all = Curation.curate(corpus, "doc_id", "text",
      langs = Set("en"), minQuality = 0.0, minDistinctFrac = 0.5,
      sampleFraction = 1.0)
      .select("doc_id").as[Long].collect().toSet
    // 5 is the exact dup of 1 (keep-min drops it); 6/7 gated out
    assert(all == Set(1L, 2L, 3L, 4L), s"got $all")
    // downsampling is the SAME deterministic coin as Sampling.sample
    val sampled = Curation.curate(corpus, "doc_id", "text",
      langs = Set("en"), minQuality = 0.0, minDistinctFrac = 0.5,
      sampleFraction = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val coin = Sampling.sample(corpus.filter(col("doc_id").isin(1L, 2L, 3L, 4L)),
      "doc_id", 0.5).select("doc_id").as[Long].collect().toSet
    assert(sampled == coin, s"sampled=$sampled coin=$coin")
  }

  test("tf/df distinctive terms: scores, ranking, ties by token") {
    val tdocs = Seq(
      (1L, "apple banana banana"),
      (2L, "apple cherry"),
      (3L, "banana date date date")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfTop(tdocs, "doc_id", "text", k = 2)
      .orderBy("id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(out.length == 6)
    assert(out(0) == ((1L, "banana", 2L, 2L, 1.0))) // tf 2 / df 2
    assert(out(1) == ((1L, "apple", 1L, 2L, 0.5)))
    assert(out(2) == ((2L, "cherry", 1L, 1L, 1.0)))
    assert(out(3) == ((2L, "apple", 1L, 2L, 0.5)))
    assert(out(4) == ((3L, "date", 3L, 1L, 3.0)))
    assert(out(5) == ((3L, "banana", 1L, 2L, 0.5)))
  }

  test("chunking: windows, overlap, short-doc and exact-fit edges") {
    val cdocs = Seq(
      (1L, (1 to 36).map(i => s"w$i").mkString(" ")), // 3 chunks, last short
      (2L, "a b c"),                                  // short doc: 1 chunk
      (3L, (1 to 20).map(i => s"w$i").mkString(" "))  // exact fit: 1 chunk
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(cdocs, "doc_id", "text",
      chunkTokens = 20, overlap = 5)
      .orderBy("id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
    assert(out.length == 5, out.mkString("\n"))
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._3).sameElements(Array(20L, 20L, 6L)))
    assert(d1(0)._4.startsWith("w1 ") && d1(0)._4.endsWith(" w20"))
    assert(d1(1)._4.startsWith("w16 ") && d1(1)._4.endsWith(" w35")) // 5-token overlap
    assert(d1(2)._4 == "w31 w32 w33 w34 w35 w36")
    assert(out.filter(_._1 == 2L).head == ((2L, 0, 3L, "a b c")))
    assert(out.filter(_._1 == 3L).map(_._3).sameElements(Array(20L)))
  }

  test("PII counts and redaction on crafted text") {
    val pdocs = Seq(
      (1L, "mail bob.smith+x@corp.example.org or admin@a.io, host 192.168.0.1 call +4915112345678"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val (em, ip, ph) = TextAnalysis.piiCounts(col("text"))
    val got = pdocs.select(col("doc_id"), em, ip, ph,
      TextAnalysis.redactPii(col("text"))).orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 1 && got(0).getLong(3) == 1)
    assert(got(0).getString(4) ==
      "mail [EMAIL] or [EMAIL], host [IP] call [PHONE]")
    assert(got(1).getLong(1) == 0 && got(1).getLong(2) == 0 && got(1).getLong(3) == 0)
    assert(got(1).getString(4) == "no pii here at all")
  }

  test("label centroids: per-dimension means in long form") {
    val vecs = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 4.0f)), // label 0: mean (2, 3)
      (1, Seq(10.0f, 0.0f))                       // label 1: itself
    ).toDF("label", "embedding")
    val got = Similarity.labelCentroids(vecs, "label", "embedding")
      .orderBy("label", "dim").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
    assert(got.sameElements(Array(
      (0, 0, 2.0, 2L), (0, 1, 3.0, 2L), (1, 0, 10.0, 1L), (1, 1, 0.0, 1L))),
      got.mkString(","))
  }

  test("portable simhash twin: exact dup identical, near-dup closer than distinct") {
    val sigs = docs.select(col("doc_id"),
      Dedup.simHashPortable(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(5L)) // exact duplicate -> identical signature
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(1L, 2L) < ham(1L, 3L) && ham(1L, 2L) < ham(1L, 4L),
      s"near=${ham(1L, 2L)} d3=${ham(1L, 3L)} d4=${ham(1L, 4L)}")
    assert(sigs.values.forall(s => s >= 0 && s < (1L << 48)))
  }

  test("native CosineSim is bit-identical to the HOF cosine") { onBothEvalPaths {
    val pairs = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)),   // identical
      (Seq(1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0)),   // orthogonal
      (Seq(0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0)),   // zero norm -> 0.0
      (Seq(0.3, -0.7, 0.11), Seq(-0.13, 0.5, 29.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)))        // length mismatch -> null
      .toDF("a", "b")
    val out = pairs.select(
      Similarity.cosine(col("a"), col("b")).as("native"),
      graft.HofOracles.cosineHof(col("a"), col("b")).as("hof")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"$r")
      if (!r.isNullAt(0))
        assert(r.getDouble(0) == r.getDouble(1), s"$r") // EXACT, not approx
    }
    assert(out(4).isNullAt(0))
    assert(out(2).getDouble(0) == 0.0)
  }}

  test("PSI trend: the shifted day drifts, a typical day does not") {
    val ev = spark.range(20000).select(
      timestamp_seconds(lit(1700000000L) +
        (col("id") % 3) * 86400L).as("ts"),
      // days 0 and 1 draw from the same distribution; day 2 is shifted
      (pmod(xxhash64(col("id")), lit(100L)).cast("double") +
        when(col("id") % 3 === 2, 90.0).otherwise(0.0)).as("value"))
    val out = Drift.psiTrend(ev, "value", "ts", 0.0, 200.0, 10)
      .orderBy("day").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    assert(out.length == 3)
    // the two unshifted days sit near the global mix; the shifted day
    // dominates (its mass lives in buckets the global mix half-fills)
    assert(out(2)._2 > out(0)._2 && out(2)._2 > out(1)._2, out.mkString(","))
    assert(out(2)._2 > 0.5, out.mkString(","))
  }

  test("two-sided fixed-grid KS equals the two-filter form exactly") {
    val df = spark.range(5000).select(col("id"),
      (col("id") % 2 === 0).as("isA"),
      (pmod(xxhash64(col("id")), lit(1000L)).cast("double") +
        when(col("id") % 2 === 0, 0.0).otherwise(200.0)).as("v"))
    def sep(hi: Double) = Drift.ksFixedGrid(df.filter(col("isA")),
      df.filter(!col("isA")), "v", 0.0, hi, 51).collect()(0).getDouble(0)
    def binned(hi: Double) = Drift.ksFixedGridBinned(df, "v", col("isA"),
      !col("isA"), 0.0, hi, 51).collect()(0).getDouble(0)
    // the one-scan two-sided (binned, O(1)-per-row) form computes the SAME
    // statistic as the two-filter form — incl. values exactly ON grid
    // points (v is integral, step 24.0 / 22.0) and, at hi=1100, values
    // ABOVE hi (count in n, land in no cell)
    val (bin1200, two1200) = (binned(1200.0), sep(1200.0))
    assert(bin1200 == two1200, s"binned=$bin1200 two-filter=$two1200")
    assert(bin1200 > 0.1) // the +200 shift is a real drift signal
    val (bin1100, two1100) = (binned(1100.0), sep(1100.0))
    assert(bin1100 == two1100, s"binned=$bin1100 two-filter=$two1100")
  }

  test("binned EMD: exact hand value, zero for identical, scales with shift") {
    // A = {1,2,3}, B = {4,5,6}, unit grid on [0,10]: every point moved 3,
    // so W1 = 3 exactly (the binned sum telescopes to the true distance
    // when all mass sits on grid points)
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (4.0, false), (5.0, false), (6.0, false)).toDF("v", "isA")
    val emd = Drift.emdFixedGridBinned(df, "v", col("isA"), !col("isA"),
      0.0, 10.0, 11).collect()(0).getDouble(0)
    assert(emd == 3.0, s"hand-computed W1 3.0, got $emd")
    // identical slices: exactly zero
    val same = Drift.emdFixedGridBinned(df, "v", col("isA") || !col("isA"),
      col("isA") || !col("isA"), 0.0, 10.0, 11).collect()(0).getDouble(0)
    assert(same == 0.0)
    // EMD is magnitude-sensitive where KS saturates: doubling the shift
    // doubles W1 but leaves KS at 1.0 for disjoint supports
    val far = Seq((1.0, true), (2.0, true), (3.0, true),
      (7.0, false), (8.0, false), (9.0, false)).toDF("v", "isA")
    val emdFar = Drift.emdFixedGridBinned(far, "v", col("isA"), !col("isA"),
      0.0, 10.0, 11).collect()(0).getDouble(0)
    assert(emdFar == 6.0, s"doubled shift must double W1, got $emdFar")
    val ksNear = Drift.ksFixedGridBinned(df, "v", col("isA"), !col("isA"),
      0.0, 10.0, 11).collect()(0).getDouble(0)
    val ksFar = Drift.ksFixedGridBinned(far, "v", col("isA"), !col("isA"),
      0.0, 10.0, 11).collect()(0).getDouble(0)
    assert(ksNear == 1.0 && ksFar == 1.0, "KS saturates on disjoint supports")
    // an all-null side raises, naming the operator and the side
    val nullB = df.select(when(col("isA"), col("v")).as("v"), col("isA"))
    val err = failureOf(Drift.emdFixedGridBinned(nullB, "v", col("isA"),
      !col("isA"), 0.0, 10.0, 11).collect())
    assert(err.contains("emdFromCellCounts: no rows on side 'b'"), err)
  }

  test("JSD: zero on identical, ln 2 on disjoint support, no eps saturation") {
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (7.0, false), (8.0, false), (9.0, false)).toDF("v", "isA")
    val a = df.filter(col("isA"))
    val b = df.filter(!col("isA"))
    // identical slices: every term is p·ln(1) = 0 — exactly zero
    val same = Drift.jsd(a, a, "v", 0.0, 10.0, 10).collect()(0).getDouble(0)
    assert(same == 0.0)
    // disjoint supports: JSD = ln 2 (its upper bound) — PSI here would
    // report an eps-floored arbitrary magnitude instead
    val dis = Drift.jsd(a, b, "v", 0.0, 10.0, 10).collect()(0).getDouble(0)
    assert(math.abs(dis - math.log(2.0)) < 1e-12, s"expected ln2, got $dis")
    // symmetric
    val rev = Drift.jsd(b, a, "v", 0.0, 10.0, 10).collect()(0).getDouble(0)
    assert(rev == dis, s"asymmetric: $dis vs $rev")
    // an all-null side raises, naming the operator and the side
    val err = failureOf(Drift.jsd(a, b.select(lit(null).cast("double").as("v")),
      "v", 0.0, 10.0, 10).collect())
    assert(err.contains("jsd: no non-null rows in column 'v' on side 'b'"), err)
  }

  test("chi-square homogeneity: zero on identical, N on disjoint, symmetric") {
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (7.0, false), (8.0, false), (9.0, false)).toDF("v", "isA")
    val a = df.filter(col("isA"))
    val b = df.filter(!col("isA"))
    // identical slices with equal sizes: Ea == ca in every bin — exactly 0
    val same = Drift.chiSquare(a, a, "v", 0.0, 10.0, 10).collect()(0).getDouble(0)
    assert(same == 0.0)
    // disjoint equal-size samples: chi2 == N (each occupied bin adds
    // (1-0.5)^2/0.5 twice = 1.0; six occupied bins)
    val dis = Drift.chiSquare(a, b, "v", 0.0, 10.0, 10).collect()(0).getDouble(0)
    assert(dis == 6.0, s"expected N=6 for disjoint supports, got $dis")
    val rev = Drift.chiSquare(b, a, "v", 0.0, 10.0, 10).collect()(0).getDouble(0)
    assert(rev == dis, s"asymmetric: $dis vs $rev")
    // an all-null side raises, naming the operator and the side
    val err = failureOf(Drift.chiSquare(a,
      b.select(lit(null).cast("double").as("v")), "v", 0.0, 10.0, 10).collect())
    assert(err.contains("chiSquare: no non-null rows in column 'v' on side 'b'"), err)
  }

  test("native MinHashBands expression is bit-identical to the HOF formulation") { onBothEvalPaths {
    import org.apache.spark.sql.GraftShims
    val corpus = docs.unionAll(Seq((6L, "one"), (7L, "two words"),
      (8L, "now three tokens")).toDF("doc_id", "text"))
    val native = corpus.select(col("doc_id"), GraftShims.column(
      graft.plans.MinHashOps.bandHashesExpr(GraftShims.expression(
        Dedup.normTokens(col("text"))), 3, 32, 16)).as("b"))
      .orderBy("doc_id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[Long](1))
    val hof = corpus.select(col("doc_id"),
      Dedup.bandHashes(Dedup.shingles(col("text"), 3), 32, 16).as("b"))
      .orderBy("doc_id").collect()
      .map(r => if (r.isNullAt(1)) null else r.getSeq[Long](1))
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (n, h) => assert(n == h, s"$n != $h") }
    // short docs (< k tokens) are null in BOTH formulations
    assert(native(5) == null && native(6) == null && native(7) != null)
  }}

  test("ShingleHashes + MinHashBandsFromHashes are bit-identical to the HOF/one-pass kernels") { onBothEvalPaths {
    import org.apache.spark.sql.GraftShims
    val corpus = docs.unionAll(Seq((6L, "one"), (7L, "two words"),
      (8L, "now three tokens"), (9L, "dup dup dup words dup"), (10L, ""))
      .toDF("doc_id", "text"))
    Seq(1, 2, 3).foreach { k =>
      // (a) the distinct shingle-hash set = the HOF chain, element order included
      val native = corpus.select(col("doc_id"),
        Dedup.shingleHashesCol(col("text"), k).as("sh"))
        .orderBy("doc_id").collect()
        .map(r => if (r.isNullAt(1)) null else r.getSeq[Long](1))
      val hof = corpus.select(col("doc_id"),
        array_distinct(transform(Dedup.shingles(col("text"), k),
          s => xxhash64(s))).as("sh"))
        .orderBy("doc_id").collect()
        .map(r => if (r.isNullAt(1)) null
          else r.getSeq[Long](1))
      native.zip(hof).foreach { case (n, h) =>
        // kernel: < k tokens -> null; HOF: empty array (identical under
        // explode; jaccard callers map it back explicitly)
        if (n == null) assert(h == null || h.isEmpty, s"k=$k: null vs $h")
        else assert(n == h, s"k=$k: $n != $h")
      }
      // (b) bands derived FROM the hash set = bands from the tokens
      val viaSh = corpus.select(col("doc_id"), GraftShims.column(
        graft.plans.MinHashOps.bandHashesFromHashesExpr(GraftShims.expression(
          Dedup.shingleHashesCol(col("text"), k)), 32, 16)).as("b"))
        .orderBy("doc_id").collect()
        .map(r => if (r.isNullAt(1)) null else r.getSeq[Long](1))
      val direct = corpus.select(col("doc_id"), GraftShims.column(
        graft.plans.MinHashOps.bandHashesExpr(GraftShims.expression(
          Dedup.normTokens(col("text"))), k, 32, 16)).as("b"))
        .orderBy("doc_id").collect()
        .map(r => if (r.isNullAt(1)) null else r.getSeq[Long](1))
      viaSh.zip(direct).foreach { case (a, b) => assert(a == b, s"k=$k: $a != $b") }
    }
  }}

  test("native QuantizeInt8 kernel is IEEE-identical to the HOF formulation") { onBothEvalPaths {
    val vecs = spark.range(40).select(col("id"),
      transform(sequence(lit(0), lit(7)),
        d => (sin(col("id") * 3 + d) * 2.5).cast("float")).as("vec"))
      .unionAll(spark.range(1).select(lit(99L).as("id"),
        array_repeat(lit(0.0f), 8).as("vec")))  // all-zero edge: scale 0
    val native = Similarity.quantizeInt8(vecs, "id", "vec")
      .orderBy("id").collect()
      .map(r => (r.getDouble(1), r.getSeq[Int](2)))
    val hof = graft.HofOracles.quantizeInt8Hof(vecs, "id", "vec")
      .orderBy("id").collect()
      .map(r => (r.getDouble(1), r.getSeq[Int](2)))
    assert(native.length == hof.length)
    native.zip(hof).foreach { case (a, b) => assert(a == b, s"$a != $b") }
  }}

  test("native LshBuckets kernel matches lshBucket HOF and lshBucketScala per table") { onBothEvalPaths {
    import org.apache.spark.sql.GraftShims
    val vecs = spark.range(50).select(col("id"),
      transform(sequence(lit(0), lit(15)),
        d => sin(col("id") * 7 + d).cast("double")).as("vec"))
    val native = vecs.select(col("id"), GraftShims.column(graft.plans.LshBucketsOps.bucketsExpr(
        GraftShims.expression(col("vec")), 16, 6, 3)).as("b"))
      .orderBy("id").collect().map(_.getSeq[Long](1))
    val hof = vecs.select(col("id"), array((0 until 3).map(t =>
        Similarity.lshBucket(col("vec"), 16, 6, t)): _*).as("b"))
      .orderBy("id").collect().map(_.getSeq[Long](1))
    native.zip(hof).foreach { case (a, b) => assert(a == b, s"$a != $b") }
    // driver-side twin agrees too
    val raw = vecs.orderBy("id").collect().map(_.getSeq[Double](1))
    raw.zip(native).foreach { case (v, bs) =>
      (0 until 3).foreach { t =>
        assert(bs(t) == Similarity.lshBucketScala(v, 6, t)) }
    }
  }}

  test("native PortableMinHashSig is bit-identical to the HOF formulation") { onBothEvalPaths {
    val corpus = docs.unionAll(Seq((6L, "one"), (7L, "two words"),
      (8L, "now three tokens"), (9L, "dup dup dup words dup"))
      .toDF("doc_id", "text"))
    Seq((1, 16), (3, 16), (2, 8)).foreach { case (k, n) =>
      val native = corpus.select(col("doc_id"),
        Dedup.minHashPortableSig(col("text"), k, n).as("s"))
        .orderBy("doc_id").collect()
        .map(r => if (r.isNullAt(1)) null else r.getSeq[String](1))
      val hof = corpus.select(col("doc_id"),
        graft.HofOracles.minHashPortableSigHof(col("text"), k, n).as("s"))
        .orderBy("doc_id").collect()
        .map(r => if (r.isNullAt(1)) null else r.getSeq[String](1))
      assert(native.length == hof.length)
      native.zip(hof).foreach { case (a, b) => assert(a == b, s"k=$k n=$n: $a != $b") }
      // short docs (< k tokens) are null in BOTH formulations
      if (k == 3) assert(native(5) == null && native(6) == null && native(7) != null)
    }
  }}

  test("contamination: probe shingle containment finds embedding docs only") {
    // probe = a 6-token benchmark item; doc 10 contains it verbatim,
    // doc 11 contains half of it, docs 3/4 share nothing
    val probe = "over the lazy dog and runs"
    val probes = Seq((100L, probe)).toDF("probe_id", "probe_text")
    val corpus = Seq(
      (10L, base),                              // contains the probe verbatim
      (11L, "over the lazy dog sleeps deeply"), // shares a prefix only
      (3L, distinct1), (4L, distinct2))
      .toDF("doc_id", "text")
    val out = Dedup.contaminationAgainst(corpus, "doc_id", "text",
      probes, "probe_id", "probe_text", k = 3, minContainment = 0.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(10L) == 1.0, s"$out")
    assert(out.contains(11L) && out(11L) > 0 && out(11L) < 1.0, s"$out")
    assert(!out.contains(3L) && !out.contains(4L), s"$out")
    // threshold filters the partial match
    val strict = Dedup.contaminationAgainst(corpus, "doc_id", "text",
      probes, "probe_id", "probe_text", k = 3, minContainment = 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(strict == Set(10L))
  }

  test("deterministic sampling: fraction, stability, strata, per-group reservoir") {
    val ids = spark.range(10000).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(4)) === 0, "en").otherwise("de").as("lang"))
    // threshold rendering
    assert(Sampling.thresholdHex(0.25) == "40000000")
    assert(Sampling.thresholdHex(0.0) == "00000000")
    // uniform: within 3% of the asked fraction, and bit-stable across runs
    val s1 = Sampling.sample(ids, "doc_id", 0.25).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(math.abs(s1.size - 2500) < 75, s"got ${s1.size}")
    val s2 = Sampling.sample(ids, "doc_id", 0.25).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    // stratified: per-stratum fractions respected
    val st = Sampling.stratified(ids, "doc_id", "lang", Map("en" -> 0.5, "de" -> 0.1))
    val byLang = st.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(byLang("en") - 1250) < 70, s"$byLang") // 2500 en * 0.5
    assert(math.abs(byLang("de") - 750) < 70, s"$byLang")  // 7500 de * 0.1
    // a sampled row's membership never depends on the rest of the corpus
    val subset = Sampling.sample(ids.filter(col("doc_id") < 5000), "doc_id", 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(subset == s1.filter(_ < 5000))
    // reservoir: exactly k per group, stable, and rank is 1..k
    val res = Sampling.reservoirPerGroup(ids, "doc_id", "lang", k = 7)
    val counts = res.groupBy("lang").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 7L))
    val res2 = Sampling.reservoirPerGroup(ids, "doc_id", "lang", k = 7)
      .orderBy("lang", "sample_rank").collect()
    assert(res.orderBy("lang", "sample_rank").collect().sameElements(res2))
    // rank+filter lowers to a group-limit (map-side top-k), not a full sort
    // of every group
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"no WindowGroupLimit:\n$plan")
  }

  test("mixture upsampling: per-stratum epoch counts, deterministic extra copy") {
    val ids = spark.range(8000).select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(2)) === 0, "en").otherwise("de").as("lang"))
    val up = Sampling.upsample(ids, "doc_id", "lang", Map("en" -> 2.25, "de" -> 0.5))
    val perDoc = up.groupBy("doc_id", "lang").count().collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val en = perDoc.filter(_._2 == "en")
    val de = perDoc.filter(_._2 == "de")
    // en: every doc 2 or 3 copies, ~25% get the third
    assert(en.length == 4000 && en.forall(d => d._3 == 2 || d._3 == 3))
    val en3 = en.count(_._3 == 3)
    assert(math.abs(en3 - 1000) < 100, s"en3=$en3")
    // de: ~half the docs appear (exactly once), the rest are dropped
    assert(de.forall(_._3 == 1) && math.abs(de.length - 2000) < 120, s"de=${de.length}")
    // the extra-copy coin is the SAME coin as sample(fraction)
    val coin = Sampling.sample(ids.filter(col("lang") === "de"), "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(de.map(_._1).toSet == coin)
    // epochs are 0..n-1
    val epochs = up.filter(col("doc_id") === en.filter(_._3 == 3).head._1)
      .select("epoch").collect().map(_.getInt(0)).sorted
    assert(epochs.sameElements(Array(0, 1, 2)))
  }

  test("topTokens: exact head of the token frequency table, deterministic ties") {
    val df = Seq("the cat and the dog", "the dog, the dog!", "und der Hund")
      .toDF("text")
    val top = TextAnalysis.topTokens(df, "text", 3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(top.sameElements(Array(("the", 4L), ("dog", 3L), ("and", 1L))),
      top.mkString(","))
  }

  test("IVF k-means training balances inverted lists where first-k seeding cannot") {
    // 4 clusters of 100 vectors around orthogonal directions — ORDERED so
    // the first k vectors all sit in cluster 0 (the adversarial case for
    // "first k corpus vectors" centroids)
    val vecs = (0 until 400).map { i =>
      val c = i / 100
      val v = Array.tabulate(8) { d =>
        val jitter = (((i * 31 + d * 7) % 11) - 5) / 50.0f
        (if (d == c * 2) 1.0f else 0.0f) + jitter
      }.toSeq
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val trained = Similarity.trainCentroids(vecs, "embedding", k = 4, dims = 8,
      iters = 4)
    val sizes = listSizes(vecs, "vec_id", "embedding", trained)
      .collect().map(_.getLong(1)).sorted
    assert(sizes.length == 4 && sizes.sum == 400, s"sizes=${sizes.mkString(",")}")
    assert(sizes.max <= 3 * sizes.min,
      s"trained lists unbalanced: ${sizes.mkString(",")}")
    // untrained first-k centroids: all 4 in cluster 0 -> one cluster's
    // members split 4 ways, the other 300 vectors pile onto whichever seed
    // is nearest — the imbalance the trainer exists to fix
    val firstK = vecs.orderBy("vec_id").limit(4).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    val untrained = listSizes(vecs, "vec_id", "embedding", firstK)
      .collect().map(_.getLong(1)).sorted
    assert(untrained.max > 3 * untrained.min,
      s"adversarial corpus unexpectedly balanced for first-k: ${untrained.mkString(",")}")
    // determinism: retraining yields the identical quantizer (note the
    // default trainFraction = 0.25 means `trained` above ALREADY ran its
    // Lloyd rounds on the deterministic hash slice — balance held anyway,
    // which is the point of sampled training)
    val again = Similarity.trainCentroids(vecs, "embedding", k = 4, dims = 8,
      iters = 4)
    assert(trained == again)
    // full-scan training balances too, and differs from sampled only in
    // centroid jitter, not in list structure
    val full = Similarity.trainCentroids(vecs, "embedding", k = 4, dims = 8,
      iters = 4, trainFraction = 1.0)
    val fullSizes = listSizes(vecs, "vec_id", "embedding", full)
      .collect().map(_.getLong(1)).sorted
    assert(fullSizes.max <= 3 * fullSizes.min,
      s"full-scan lists unbalanced: ${fullSizes.mkString(",")}")
  }
}
