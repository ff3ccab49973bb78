package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets

/** Per-partition commit log — the resumability substrate: each completed
  * partition's validation metrics are checkpointed, so a killed job
  * restarts at the partitions that have no commit.
  *
  * All I/O goes through `org.apache.hadoop.fs.FileSystem`, so the log runs
  * unchanged against local paths (`file://` or bare), HDFS, or S3A — the
  * scheme of the supplied dir picks the filesystem. Layout (mirrors the
  * shape of a table-format commit log, one atomic file per committed unit —
  * atomic rename on HDFS/local; on object stores the rename is a copy+delete
  * but the marker-file protocol still gives at-most-once visibility). A
  * `file:` dir (or a bare one under a local `fs.defaultFS`) is written
  * through [[LocalFs]], Hadoop's checksummed local file system without
  * its per-file `chmod` process; the files, their `.crc` files and their
  * permissions are the same. Layout:
  *
  * {{{
  * <dir>/_commits/part=<p>.json   -- one JSON per completed partition
  * <dir>/violations_batch_<b>/part=<p>/ -- that partition's violation rows
  * }}}
  *
  * The JSON carries: partition id, row/verdict metrics, the rule-set hash
  * (resume refuses to mix rule versions), the batch dir the partition's
  * violations were written to (so readers only consume committed (part,
  * batch) pairs and a crash between a batch write and its commits can
  * never surface duplicate rows), and optional per-partition sketch bytes
  * (KLL / HLL) so drift and cardinality resume incrementally with
  * validation. It also records `snapshot_id` (a 32-bit hash of the run's
  * input manifest) and the `manifest` itself, but nothing reads either
  * back: a commit says which rules ran, not which input they ran over, so
  * resume does not notice input that changed since the commit.
  */
object CommitLog {

  final case class Commit(
      part: Int,
      docs: Long,
      failedDocs: Long,
      violations: Long,
      ruleHash: String,
      snapshotId: String,
      manifest: Seq[String],
      wallMs: Long,
      batch: String = "",
      sketches: Map[String, Array[Byte]] = Map.empty)

  private def commitsDir(base: Path): Path = new Path(base, "_commits")

  /** `s` as the body of a JSON string literal (quote, backslash and
    * control characters escaped); null renders as `null`, so an exception
    * without a message still prints on the `{"error":…}` channel. Graft's
    * one JSON string escaper: the commit JSONs and `graft.Main`'s stdout
    * and drift baseline use it.
    */
  private[graft] def esc(s: String): String =
    String.valueOf(s).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)

  /** Atomic write: temp file + rename, so a concurrent/killed writer never
    * leaves a half-visible commit. `FileSystem.rename` won't clobber an
    * existing destination on every FS, so an existing commit file (re-run
    * of an already-committed part) is deleted first: the newer commit
    * replaces it.
    */
  def write(dir: String, c: Commit,
      conf: Configuration = new Configuration()): Unit = {
    val (fs, base) = LocalFs.fsFor(dir, conf)
    val cd = commitsDir(base)
    fs.mkdirs(cd)
    val sketchJson =
      if (c.sketches.isEmpty) ""
      else c.sketches.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + esc(k) + "\":\"" + b64(v) + "\"" }
        .mkString(",\"sketches\":{", ",", "}")
    val json =
      s"""{"part":${c.part},"docs":${c.docs},"failed_docs":${c.failedDocs},
         |"violations":${c.violations},"rule_hash":"${esc(c.ruleHash)}",
         |"snapshot_id":"${esc(c.snapshotId)}",
         |"manifest":[${c.manifest.map(m => "\"" + esc(m) + "\"").mkString(",")}],
         |"batch":"${esc(c.batch)}"$sketchJson,
         |"wall_ms":${c.wallMs}}""".stripMargin.replace("\n", "")
    val tmp = new Path(cd, s"part-${c.part}-${java.util.UUID.randomUUID()}.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val dst = new Path(cd, s"part=${c.part}.json")
    if (fs.exists(dst)) fs.delete(dst, false)
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"commit rename failed for $dst")
    }
  }

  private def readCommitFiles(dir: String, conf: Configuration): Seq[(Int, String)] = {
    val (fs, base) = LocalFs.fsFor(dir, conf)
    val cd = commitsDir(base)
    if (!fs.exists(cd)) return Nil
    fs.listStatus(cd).toSeq
      .filter(_.getPath.getName.matches("part=\\d+\\.json"))
      .map { st =>
        val part = st.getPath.getName.stripPrefix("part=").stripSuffix(".json").toInt
        val in = fs.open(st.getPath)
        val txt = try {
          val buf = new java.io.ByteArrayOutputStream()
          val arr = new Array[Byte](8192)
          var n = in.read(arr)
          while (n >= 0) { buf.write(arr, 0, n); n = in.read(arr) }
          new String(buf.toByteArray, StandardCharsets.UTF_8)
        } finally in.close()
        part -> txt
      }
  }

  /** READ side parses with Jackson (already on Spark's classpath), not
    * regexes: a `"([^"]*)"` field pattern truncates at the `\"` that [[esc]]
    * itself faithfully writes for a manifest path containing a quote — real
    * object-store keys can contain quotes and newlines, and must read back
    * as written. The write side stays hand-rolled (it controls its own
    * output shape).
    */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Every commit under `dir`, keyed by part and parsed into the
    * [[Commit]] that [[write]] took. A field a legacy commit lacks (e.g.
    * `batch`, written only since batch dirs exist) reads as its default.
    */
  def read(dir: String,
      conf: Configuration = new Configuration()): Map[Int, Commit] =
    readCommitFiles(dir, conf).map { case (p, txt) =>
      import scala.jdk.CollectionConverters._
      val n = mapper.readTree(txt)
      def field[T](name: String, default: T)(
          get: com.fasterxml.jackson.databind.JsonNode => T): T =
        Option(n.get(name)).map(get).getOrElse(default)
      p -> Commit(p,
        docs = field("docs", 0L)(_.asLong),
        failedDocs = field("failed_docs", 0L)(_.asLong),
        violations = field("violations", 0L)(_.asLong),
        ruleHash = field("rule_hash", "")(_.asText),
        snapshotId = field("snapshot_id", "")(_.asText),
        manifest = field("manifest", Seq.empty[String])(
          _.elements().asScala.map(_.asText).toSeq),
        wallMs = field("wall_ms", 0L)(_.asLong),
        batch = field("batch", "")(_.asText),
        sketches = field("sketches", Map.empty[String, Array[Byte]])(
          _.properties().asScala.map { e =>
            e.getKey -> java.util.Base64.getDecoder.decode(e.getValue.asText)
          }.toMap))
    }.toMap

  /** Completed partitions (+ their recorded rule hash for mismatch checks). */
  def completed(dir: String,
      conf: Configuration = new Configuration()): Map[Int, String] =
    read(dir, conf).map { case (p, c) => p -> c.ruleHash }

  /** part -> committed doc count (0 = a legitimately empty partition). */
  def docCounts(dir: String,
      conf: Configuration = new Configuration()): Map[Int, Long] =
    read(dir, conf).map { case (p, c) => p -> c.docs }

  /** Sum of failed_docs over all committed partitions (the job verdict). */
  def failedDocsTotal(dir: String,
      conf: Configuration = new Configuration()): Long =
    read(dir, conf).values.map(_.failedDocs).sum
}
