package perfbench

import java.nio.file.{Files, Path}
import java.util.regex.Pattern
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String
import graft.rules.RuleLoader
import graft.sources.DocsGen
import Harness._

/** The work a run needs before it measures, in a JVM of its own so that the
  * measuring JVM ([[Harness]]) does the same work on every run, whatever the
  * corpus cache held. For each validation workload it writes, when missing:
  *
  *   - the DocsGen corpus, cached by name, seed, size and build;
  *   - the expected digest (`_expected.json`), computed by [[Oracle]]
  *     without `graft`.
  *
  * For traced and smoke runs of `bulk_validate` it also replays `graft.Main`
  * on the parity corpus, whose failed docs `run.py` compares with
  * `graft.Main` run as a child process. Takes [[Harness]]'s arguments; the
  * result file holds the checks made and the parity corpus.
  */
object Prepare {

  val Expected = "_expected.json"

  /** DocsGen corpus `k`, written partitioned by `part` with one file per
    * part. At most 32 corpora are kept; the least recently used go first.
    */
  def generate(spark: SparkSession, dir: Path, k: DocsGen.Knobs): Unit = {
    val tmp = dir.resolveSibling(s"_tmp-${dir.getFileName}")
    deleteTree(dir)
    deleteTree(tmp)
    val (_, genS) = time(DocsGen.docs(spark, k).repartition(k.nParts, col("part"))
      .write.mode("overwrite").partitionBy("part").parquet(tmp.toString))
    Files.move(tmp, dir)
    Files.writeString(dir.resolve("_gen_s"), f"$genS%.6f")
    val cached = Files.list(dir.getParent).iterator().asScala.toSeq
      .filter(p => Files.exists(p.resolve("_gen_s")))
      .sortBy(p => -Files.getLastModifiedTime(p.resolve("_gen_s")).toMillis)
    cached.drop(32).foreach(deleteTree)
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv.toList, Args())
    val scale = Scales(a.scale)
    val r = new Result("prepare")
    var started: Option[SparkSession] = None
    def spark: SparkSession = started.getOrElse {
      val s = session("validate", a)
      started = Some(s)
      s
    }
    lazy val rules = RuleLoader.loadFile(a.root.resolve("perfbench/rules.yaml").toString)
    lazy val ctx = new Ctx(a, spark, new Tracer(false, "prepare"), None,
      new Goldens(a.root.resolve("perfbench/goldens.json")))

    def ready(name: String, k: DocsGen.Knobs): Corpus = {
      val dir = corpusDir(a, name, k)
      if (!Files.exists(dir.resolve("_gen_s"))) {
        Files.createDirectories(dir.getParent)
        generate(spark, dir, k)
        progress(s"generated $dir")
      }
      preparedCorpus(a, name, k)
    }
    def expected(c: Corpus): Digest = {
      val f = c.path.resolve(Expected)
      if (Files.exists(f)) readDigest(Files.readString(f))
      else {
        val (d, dt) = time(Oracle.digest(spark, c))
        Files.writeString(f, d.json)
        progress(f"expected digest of ${c.path.getFileName} in $dt%.1f s")
        d
      }
    }

    Files.createDirectories(a.work)
    try a.workloads.foreach {
      case "bulk_validate" =>
        r.op("bulk corpus")(expected(ready("bulk", knobs(scale.bulkDocs, scale.bulkParts, a.seed))))
        // the corpus graft.Main runs on as a child process: the bulk corpus's
        // rates and seed at a size a cold JVM validates quickly
        if (a.trace || a.scale == "smoke") r.op("parity replay") {
          val pc = ready("parity", knobs(4000L, 8, a.seed))
          val out = ctx.freshOut()
          val want = expected(pc)
          val (_, _, parts, failed) = mainReplay(ctx, pc, rules, out)
          deleteTree(out)
          expect(parts == pc.parts && failed == want.failed,
            s"parity replay committed $parts parts, $failed failed docs; expected $want")
          r.info("parity") = Map("corpus" -> pc.path.toString, "failed_docs" -> failed)
        }
      case "many_parts_resume" =>
        r.op("many_parts corpus")(expected(ready("many_parts", knobs(scale.mpDocs, scale.mpParts, a.seed))))
      case _ =>
    } finally {
      started.foreach(stop)
      deleteTree(a.work.resolve("out"))
    }
    Files.writeString(a.result, js(Map("attempted" -> r.attempted, "failed" -> r.failed,
      "errors" -> r.errors, "parity" -> r.info.get("parity"))))
  }
}

/** The output `perfbench/rules.yaml` plus `graft`'s built-in span invariant
  * define for a corpus, computed in plain Scala from what the rules say
  * rather than by `graft.rules`, so that a run's output is checked
  * independently at every seed. Paths, rule names and messages follow the
  * engine's (dot-joined paths, `items` errors under `spans.<i>`, its
  * message texts).
  */
object Oracle {
  /** A violation row: (part, doc_id, path, rule, message). */
  type V = (Int, String, String, String, String)

  private val DocId = "^d-[0-9]{12}$"
  private val MediaRef = "^m-[0-9a-f]{8}$"
  private val DocIdRe = Pattern.compile(DocId)
  private val MediaRefRe = Pattern.compile(MediaRef)
  private val Kinds = Set("text", "media")

  /** What validating the corpus must produce: parts, docs, failed docs,
    * violation rows and their hash.
    */
  def digest(spark: SparkSession, c: Corpus): Digest = {
    val perTask = spark.read.parquet(c.path.toString).select("part", "doc_id", "spans").rdd
      .mapPartitions { rows =>
        val parts = mutable.Set.empty[Int]
        val vs = mutable.ArrayBuffer.empty[V]
        var docs = 0L
        rows.foreach { r => docs += 1; parts += r.getInt(0); vs ++= violations(r) }
        Iterator((docs, parts.toSet, vs.toSeq))
      }.collect().toSeq
    val vs = perTask.flatMap(_._3)
    Digest(perTask.flatMap(_._2).distinct.size.toLong, perTask.map(_._1).sum,
      vs.map(v => (v._1, v._2)).distinct.size.toLong, vs.size.toLong, hash(vs))
  }

  /** Order-independent 64-bit hash of violation rows: per row Spark's
    * `xxhash64` (seed 42, nulls skipped) of the five fields, summed as two
    * 32-bit halves. [[Harness.outDigest]] hashes the read-back the same way.
    */
  def hash(vs: Seq[V]): String = {
    var lo = 0L
    var hi = 0L
    vs.foreach { case (part, docId, path, rule, message) =>
      val h = Seq(docId, path, rule, message).foldLeft(XXH64.hashInt(part, 42L)) { (seed, s) =>
        if (s == null) seed else XXH64.hashUTF8String(UTF8String.fromString(s), seed)
      }
      lo += h & 0xFFFFFFFFL
      hi += h >>> 32
    }
    f"$lo%x:$hi%x"
  }

  def violations(row: Row): Seq[V] = {
    val part = row.getInt(0)
    val docId = Option(row.getString(1))
    val out = mutable.ArrayBuffer.empty[V]
    def v(path: String, rule: String, message: String): Unit =
      out += ((part, docId.orNull, path, rule, message))
    def required(path: String, p: String): Unit =
      v(path, "required", s"Required property '$p' is missing!")
    def notInEnum(path: String, rule: String, k: String): Unit =
      v(path, rule, s"""Value "$k" is not in the enum: ["text", "media"]""")
    def belowZero(path: String, rule: String): Unit =
      v(path, rule, "Number must be greater than or equal to 0")
    // rules.yaml: required [doc_id, spans]; doc_id's pattern (unanchored search)
    docId match {
      case None => required("", "doc_id")
      case Some(id) => if (!DocIdRe.matcher(id).find())
        v("doc_id", "pattern", s"String does not match regular expression $DocId!")
    }
    if (row.isNullAt(2)) {
      required("", "spans")
      required("spans", "spans") // the span invariant
    } else {
      val spans = row.getSeq[Row](2)
      def str(s: Row, f: String): Option[String] = Option(s.getAs[String](f))
      def offset(s: Row): Option[Int] =
        if (s.isNullAt(s.fieldIndex("offset"))) None else Some(s.getAs[Int]("offset"))
      // rules.yaml: minItems 1, maxItems 16; items: required [kind, offset],
      // kind in the enum, offset >= 0
      if (spans.size < 1)
        v("spans", "minItems", s"Array has too few items (minimum 1, found ${spans.size})")
      if (spans.size > 16)
        v("spans", "maxItems", s"Array has too many items (maximum 16, found ${spans.size})")
      spans.zipWithIndex.foreach { case (s, i) =>
        val (kind, off) = (str(s, "kind"), offset(s))
        if (kind.isEmpty) required(s"spans.$i", "kind")
        if (off.isEmpty) required(s"spans.$i", "offset")
        kind.foreach(k => if (!Kinds(k)) notInEnum(s"spans.$i.kind", "enum", k))
        off.foreach(o => if (o < 0) belowZero(s"spans.$i.offset", "minimum"))
      }
      // the span invariant, per span: kind in the enum; media kind iff a
      // media_ref; a media_ref matches its pattern; a text span has text;
      // offset >= 0
      spans.zipWithIndex.foreach { case (s, i) =>
        val (kind, text, ref, off) = (str(s, "kind"), str(s, "text"), str(s, "media_ref"), offset(s))
        val hasRef = ref.exists(_.nonEmpty)
        if (!kind.exists(Kinds)) notInEnum(s"spans.$i.kind", "kind.enum", kind.getOrElse("null"))
        if (!kind.exists(k => (k == "media") == hasRef))
          v(s"spans.$i.media_ref", "media_ref.consistency", s"""Span kind "${kind.getOrElse("null")}" """ +
            s"""is inconsistent with media_ref "${ref.getOrElse("null")}"""")
        if (hasRef && !MediaRefRe.matcher(ref.get).find())
          v(s"spans.$i.media_ref", "media_ref.pattern", s"String does not match regular expression $MediaRef!")
        if (!kind.exists(_ != "text") && !text.exists(_.nonEmpty))
          v(s"spans.$i.text", "text.consistency", "Text span has empty text!")
        if (!off.exists(_ >= 0)) belowZero(s"spans.$i.offset", "offset.minimum")
      }
      // and offsets strictly increasing, one violation per out-of-order pair
      spans.zip(spans.drop(1)).foreach { case (x, y) =>
        offset(x).zip(offset(y)).foreach { case (p, q) =>
          if (q <= p) v("spans", "offset.order", s"Span offsets are not strictly increasing " +
            s"(offset $p followed by a smaller or equal offset)")
        }
      }
    }
    out.toSeq
  }
}
