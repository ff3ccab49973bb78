package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.ResumableValidate
import graft.sources.DocsGen
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** CLI goldens: path parsing and argument errors are session-free; the
  * --forget helper and whole runs ([[Main.run]]) drive the shared test
  * session.
  */
class MainSpec extends SparkSpec {

  private def mainSource: String =
    new String(Files.readAllBytes(Paths.get("src/main/scala/graft/Main.scala")), UTF_8)

  /** `body`'s result with its stdout and the `[graft]` lines of its stderr. */
  private def captured[A](body: => A): (A, Seq[String], Seq[String]) = {
    val out = new java.io.ByteArrayOutputStream
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, UTF_8))
    val a = try Console.withOut(out)(body) finally System.setErr(saved)
    def lines(b: java.io.ByteArrayOutputStream) = b.toString(UTF_8).linesIterator.toSeq
    (a, lines(out), lines(err).filter(_.startsWith("[graft]")))
  }

  test("localDocsParent: bare paths, encoded and unencoded file URIs") {
    assert(Main.localDocsParent("/data/corpus/docs.parquet").toString
      == "/data/corpus")
    // spec-compliant percent-encoded URI (java.nio.Path.toUri / as_uri form)
    assert(Main.localDocsParent("file:///data/my%20docs/corpus.parquet").toString
      == "/data/my docs")
    // raw unencoded path with a space (what humans type; strict URI throws)
    assert(Main.localDocsParent("file:///data/my docs/corpus.parquet").toString
      == "/data/my docs")
    assert(Main.localDocsParent("file:///tmp/plain/docs.parquet").toString
      == "/tmp/plain")
    // remote schemes are a clear error, not a crash
    val e = intercept[IllegalArgumentException] {
      Main.localDocsParent("s3a://bucket/docs.parquet")
    }
    assert(e.getMessage.contains("pass --rules"))
  }

  test("--forget path: tombstones applied before validation, " +
      "audit written with zero residual") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_forget").toString
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    val dels = Seq(2L, 4L).toDF("doc_id")
    dels.write.mode("overwrite").parquet(s"$dir/deletes")
    val kept = Main.applyForget(spark, docs, s"$dir/deletes", "doc_id",
      s"$dir/out")
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 3L))
    val audit = spark.read.parquet(s"$dir/out/forget_audit").collect()(0)
    assert(audit.getLong(1) == 4L && audit.getLong(2) == 2L &&
      audit.getLong(3) == 2L && audit.getLong(4) == 0L)
  }

  test("run: every output's reported count is its written rows, " +
      "zero-row output included; JSON on stdout; exit 1 on violations") {
    val dir = Files.createTempDirectory("graft_main_run").toString
    val k = DocsGen.Knobs(nDocs = 2000, nParts = 4, badKindPerMille = 10,
      negOffsetPerMille = 2, danglingRefPerMille = 5)
    DocsGen.docs(spark, k).write.partitionBy("part").parquet(s"$dir/docs")
    DocsGen.mediaCatalog(spark, k).write.parquet(s"$dir/catalog")
    val rules = s"$dir/rules.yaml"
    Files.write(Paths.get(rules), """type: object
      |required: [doc_id, spans]
      |properties:
      |  spans:
      |    type: array
      |    items:
      |      type: object
      |      properties:
      |        kind: {enum: [text, media]}
      |        offset: {type: integer, minimum: 0}
      |""".stripMargin.getBytes(UTF_8))
    val out = s"$dir/out"
    val (exit, stdout, stderr) = captured(Main.run(spark, Main.parse(Seq(
      "--rules", rules, "--docs", s"$dir/docs", "--out", out,
      "--catalog", s"$dir/catalog", "--unique", "doc_id",
      "--quarantine", s"$dir/quarantine", "--clean", s"$dir/clean",
      "--outlier-spans", "--json", "--scorecard", "--sketches",
      "--drift-save", s"$dir/drift.json"))))
    assert(exit == 1, stderr.mkString("\n"))

    def reported(prefix: String): Long = {
      val line = stderr.find(_.startsWith(s"[graft] $prefix"))
      assert(line.nonEmpty, s"no '$prefix' line in ${stderr.mkString("\n")}")
      raw"\d+".r.findFirstIn(line.get.stripPrefix(s"[graft] $prefix")).get.toLong
    }
    def rows(path: String): Long = spark.read.parquet(path).count()
    val counts = Seq(
      "global check ref_integrity:" -> s"$out/global_ref_integrity",
      "global check unique(doc_id):" -> s"$out/global_unique_doc_id",
      "quarantined" -> s"$dir/quarantine",
      "clean" -> s"$dir/clean",
      "outlier-spans:" -> s"$out/global_outlier_spans")
      .map { case (prefix, path) =>
        val n = reported(prefix)
        assert(n == rows(path), s"$prefix reported $n, $path holds ${rows(path)} rows")
        prefix -> n
      }.toMap
    // DocsGen draws each doc_id once: the uniqueness output is written
    // with zero rows, reported as 0, and still reads back
    assert(counts("global check unique(doc_id):") == 0L)
    assert(spark.read.parquet(s"$out/global_unique_doc_id").columns
      .sameElements(Array("doc_id", "path", "rule", "message")))
    assert(counts("global check ref_integrity:") > 0L)
    val failed = reported("partitions done=4 skipped=0 committed=4 failed_docs=")
    assert(counts("quarantined") == failed && failed > 0L)
    assert(counts("quarantined") + counts("clean") == k.nDocs)
    assert(stderr.contains(s"[graft] drift baseline saved to $dir/drift.json"))
    assert(stderr.exists(_.startsWith("[graft] sketch doc_id_distinct_est=")))
    val drift = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(s"$dir/drift.json")))
    assert(drift.fieldNames.asScala.toSeq == Seq(ResumableValidate.KllNSpansKey))

    // stdout: the violation rows as one JSON array, then a scorecard line
    // per (path, rule)
    val mapper = new ObjectMapper()
    val json = mapper.readTree(stdout.head).elements.asScala.toSeq.map { n =>
      (n.get("part").asInt, n.get("doc_id").asText, n.get("path").asText,
        n.get("rule").asText, n.get("error").asText)
    }
    val written = ResumableValidate.violations(spark, out)
      .orderBy("part", "doc_id", "path", "rule", "message").collect().toSeq
      .map(r => (r.getAs[Int]("part"), r.getAs[String]("doc_id"),
        r.getAs[String]("path"), r.getAs[String]("rule"), r.getAs[String]("message")))
    assert(json.nonEmpty && json == written)
    val scorecard = stdout.tail.map(mapper.readTree)
    assert(scorecard.nonEmpty)
    assert(scorecard.map(_.get("violations").asLong).sum == written.size)
    assert(scorecard.forall(n => n.fieldNames.asScala.toSeq == Seq("path", "rule",
      "violations", "affected_docs", "doc_rate", "wilson_low")))
  }

  test("--json-limit -1 is a usage error: rejected while parsing, no job runs") {
    val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](Main.parse(Seq(
      "--docs", "docs", "--out", "out", "--json", "--json-limit", "-1"))))
    assert(e.getMessage.contains("--json-limit must not be negative"))
    assert(jobs == 0)
    assert(Main.parse(Seq("--docs", "d", "--out", "o", "--json-limit", "0"))
      .jsonLimit == 0)
  }

  test("Main.scala: the usage block lists every flag parse accepts; " +
      "no spark.read of a path the run wrote") {
    val src = mainSource
    val usage = src.slice(src.indexOf("{{{"), src.indexOf("}}}"))
    val flags = raw"""case "(--[a-z-]+)"""".r.findAllMatchIn(src).map(_.group(1)).toSeq
    assert(flags.size >= 22, flags)
    val missing = flags.filterNot(f => raw"\Q$f\E(?![a-z-])".r.findFirstIn(usage).nonEmpty)
    assert(missing.isEmpty, s"flags missing from the usage block: $missing")
    // outputs are counted as they are written (Main.writeCounted), never
    // read back: every spark.read names an input flag
    val reads = raw"spark\.read\.\w+\(([^)]*)\)".r.findAllMatchIn(src).map(_.group(1)).toSeq
    assert(reads.nonEmpty)
    val written = raw"\b(out|args\.(out|quarantine|clean|driftSave|infer))\b".r
    val selfReads = reads.filter(written.findFirstIn(_).nonEmpty)
    assert(selfReads.isEmpty, s"spark.read of a path the run wrote: $selfReads")
  }
}
