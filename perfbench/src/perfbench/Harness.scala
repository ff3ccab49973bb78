package perfbench

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.{ResumableValidate, Validate}
import graft.rules.{RuleCompiler, RuleLoader}
import graft.sources.{CommitLog, DocsGen}

/** The measuring JVM of the benchmark. `perfbench/run.py` builds the
  * classpath, runs [[Prepare]] (the corpora and their expected outputs) and
  * then launches this object, which runs one or more workloads, checks their
  * outputs and writes a result file that `run.py` turns into the final JSON
  * line. It calls only public `graft.*` functions.
  *
  * {{{
  * perfbench.Harness --workloads bulk_validate[,...] --seed 42 --seconds 10
  *   --trace 0|1 --scale full|smoke --cores 4 --root <checkout> --work <dir>
  *   --result <file> --build-id <id>
  * }}}
  */
object Harness {

  /** Sizes of one scale. `queries` is the registry subset timed per run. */
  final case class Scale(bulkDocs: Long, bulkParts: Int, mpDocs: Long,
      mpParts: Int, mpCrashAfter: Int, queries: Seq[String])

  /** Registry subset: one query per family, between the family's cheapest
    * and median time at sf0.01, so that a warm-up pass and two timed passes
    * fit a run. Fixed across seeds so medians compare between runs; the
    * seed only permutes the order.
    */
  val RegistrySubset: Seq[String] = Seq(
    "d_manifest", "e_sessions", "g_quantiles", "gen_validate", "i_validate",
    "l_compact", "m_features", "p_mixture", "q_verdicts", "r_bound_suggest",
    "s_quantize", "t_zipf", "v_required")

  /** Sizes: `bulk_validate` is one batch of `graft.Main`'s default eight
    * parts, large enough that per-row work is a large share of it;
    * `many_parts_resume` has two batches of small parts, killed after the
    * first.
    */
  val Scales: Map[String, Scale] = Map(
    "full" -> Scale(80000L, 8, 8000L, 16, 8, RegistrySubset),
    "smoke" -> Scale(4000L, 8, 2000L, 16, 8,
      Seq("q_verdicts", "v_required", "p_mixture", "t_urls", "d_dedup_exact", "gen_validate")))

  /** Corruption rates of `graft.Bench`'s corpus (per mille). */
  def knobs(nDocs: Long, nParts: Int, seed: Long): DocsGen.Knobs =
    DocsGen.Knobs(nDocs = nDocs, nParts = nParts, seed = seed,
      badKindPerMille = 5, badOrderPerMille = 5, negOffsetPerMille = 2)

  final case class Args(workloads: Seq[String] = Nil, seed: Long = 42L,
      seconds: Double = 10.0, trace: Boolean = false, scale: String = "full",
      cores: Int = 4, root: Path = Paths.get("."), work: Path = Paths.get("."),
      result: Path = Paths.get("result.json"), buildId: String = "dev")

  def parse(a: List[String], acc: Args): Args = a match {
    case Nil => acc
    case "--workloads" :: v :: t => parse(t, acc.copy(workloads = v.split(",").toSeq))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--scale" :: v :: t => parse(t, acc.copy(scale = v))
    case "--cores" :: v :: t => parse(t, acc.copy(cores = v.toInt))
    case "--root" :: v :: t => parse(t, acc.copy(root = Paths.get(v).toAbsolutePath))
    case "--work" :: v :: t => parse(t, acc.copy(work = Paths.get(v).toAbsolutePath))
    case "--result" :: v :: t => parse(t, acc.copy(result = Paths.get(v).toAbsolutePath))
    case "--build-id" :: v :: t => parse(t, acc.copy(buildId = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  // ------------------------------------------------------------------ results

  final class CheckFailed(msg: String) extends RuntimeException(msg)

  def expect(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)

  /** One workload's outcome: end-to-end metrics with their samples, per-layer
    * metrics, operation counts and anything the caller needs to check it.
    */
  final class Result(val workload: String) {
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String, Seq[Double])]
    val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, Any]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    /** Run one operation; an exception or a failed check counts it failed. */
    def op[A](name: String)(body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch { case e: Throwable =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        System.err.println(s"[perfbench] $workload $name FAILED: $e")
        None
      }
    }

    def metric(name: String, unit: String, samples: Seq[Double], value: Double): Unit =
      e2e(name) = (value, unit, samples)
    def layer(name: String, unit: String, value: Double): Unit = layers(name) = (value, unit)
  }

  // -------------------------------------------------------------------- stats

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** Nearest-rank percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  /** The highest whole percentile with at least ten samples beyond it. */
  def tailPercentile(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (n >= 11 && p >= 50) Some(p) else None
  }

  private val jvmStart = System.nanoTime()

  /** Progress line on stderr, with seconds since the JVM started. */
  def progress(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - jvmStart) / 1e9}%.1fs $msg")

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean

  /** CPU seconds this JVM has used, all threads but the JIT compiler's
    * (less its accumulated compilation time): the program's own work and GC.
    * Compilation goes on for many operations and runs on otherwise idle
    * cores, so with it the CPU time of an operation depends mostly on how
    * far the JIT has got.
    */
  def cpuNow(): Double = osBean.getProcessCpuTime / 1e9 - jit.getTotalCompilationTime / 1e3

  /** (steal, total) jiffies of the machine, from /proc/stat. */
  def stealJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  // --------------------------------------------------------------- filesystem

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** (file count, bytes) of files under `p` that match `keep`. */
  def filesUnder(p: Path, keep: Path => Boolean = _ => true): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) && keep(f)).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }

  def isParquet(f: Path): Boolean = f.getFileName.toString.endsWith(".parquet")

  // ------------------------------------------------------------------ session

  /** `graft.Main`'s session for the validation workloads and `graft.Bench`'s
    * per-query session for the registry; both at `local[cores]`, with Spark's
    * scratch and warehouse inside the work dir.
    */
  def session(kind: String, a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-$kind")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .withExtensions(new graft.plans.GraftExtensions)
    val s = (if (kind == "registry")
      b.config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.files.openCostInBytes", "262144")
    else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Set-up, timed `reps` times: session build plus, when the workload has
    * one, the rules load. Returns the last session, the rules and the
    * set-up samples (with the host steal while each ran; the first is the
    * cold one) and the rules-load times.
    */
  def setUp(kind: String, a: Args, rules: Option[Path], reps: Int = 13)
      : (SparkSession, Option[RuleLoader.Loaded], Seq[Sample], Seq[Double]) = {
    var s: SparkSession = null
    var loaded: Option[RuleLoader.Loaded] = None
    val setup = mutable.ArrayBuffer.empty[Sample]
    val load = mutable.ArrayBuffer.empty[Double]
    (1 to reps).foreach { i =>
      if (s != null) stop(s)
      val s0 = stealJiffies()
      val t0 = System.nanoTime()
      s = session(kind, a)
      val t1 = System.nanoTime()
      loaded = rules.map(p => RuleLoader.loadFile(p.toString))
      val t2 = System.nanoTime()
      setup += Sample(Map("s" -> (t2 - t0) / 1e9), stealShare(s0, stealJiffies()))
      load += (t2 - t1) / 1e9
    }
    (s, loaded, setup.toSeq, load.toSeq)
  }

  // ------------------------------------------------------------------- corpus

  final case class Corpus(path: Path, docs: Long, parts: Int, seed: Long,
      bytes: Long, files: Long, genS: Double)

  /** Where the DocsGen corpus `name` with these knobs is cached: under the
    * work root, by name, seed, size and build, so that a change to the
    * generator is always run and the generation time is the build's own.
    */
  def corpusDir(a: Args, name: String, k: DocsGen.Knobs): Path =
    a.work.getParent.resolve("corpus")
      .resolve(s"$name-seed${k.seed}-docs${k.nDocs}-parts${k.nParts}-${a.buildId}")

  /** A corpus [[Prepare]] has written (its `_gen_s` holds the generation time). */
  def preparedCorpus(a: Args, name: String, k: DocsGen.Knobs): Corpus = {
    val dir = corpusDir(a, name, k)
    val stamp = dir.resolve("_gen_s")
    expect(Files.exists(stamp), s"corpus $dir was not prepared")
    // the least recently used corpus is evicted first
    Files.setLastModifiedTime(stamp, FileTime.fromMillis(System.currentTimeMillis()))
    val (files, bytes) = filesUnder(dir, isParquet)
    Corpus(dir, k.nDocs, k.nParts, k.seed, bytes, files, Files.readString(stamp).trim.toDouble)
  }

  // ------------------------------------------------------------------ digests

  /** What a validation run must produce: committed parts, docs, failed docs,
    * violation rows and an order-independent hash of those rows.
    */
  final case class Digest(parts: Long, docs: Long, failed: Long, rows: Long,
      hash: String) {
    def json: String =
      s"""{"parts":$parts,"docs":$docs,"failed":$failed,"rows":$rows,"hash":"$hash"}"""
  }

  def readDigest(json: String): Digest = {
    val g = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    Digest(g.get("parts").asLong, g.get("docs").asLong, g.get("failed").asLong,
      g.get("rows").asLong, g.get("hash").asText)
  }

  /** A digest [[Prepare]] kept beside the corpus. */
  def storedDigest(c: Corpus, file: String): Digest = {
    val f = c.path.resolve(file)
    expect(Files.exists(f), s"$f was not prepared")
    readDigest(Files.readString(f))
  }

  /** The digest of a finished out dir, read back through the commit log. */
  def outDigest(spark: SparkSession, out: Path): Digest = {
    val conf = spark.sparkContext.hadoopConfiguration
    val o = out.toString
    val rows = ResumableValidate.violations(spark, o)
      .select("part", "doc_id", "path", "rule", "message").collect().toSeq
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
    Digest(CommitLog.completed(o, conf).size.toLong, CommitLog.docCounts(o, conf).values.sum,
      CommitLog.failedDocsTotal(o, conf), rows.size.toLong, Oracle.hash(rows))
  }

  // ------------------------------------------------------------------ context

  final class Ctx(val a: Args, val spark: SparkSession, val tracer: Tracer,
      val counters: Option[Counters], val goldens: Goldens) {
    val conf = spark.sparkContext.hadoopConfiguration
    private var outSeq = 0
    def freshOut(): Path = {
      outSeq += 1
      val p = a.work.resolve(s"out/run-$outSeq")
      deleteTree(p)
      p
    }
    def measure[A](body: => A): (A, Option[Window]) = counters match {
      case Some(c) => val (x, w) = c.measure(body); (x, Some(w))
      case None => (body, None)
    }
  }

  /** Goldens recorded at the benchmark's seed commit (`perfbench/goldens.json`):
    * validation digests at seed 42 and the row count of every registry query
    * a run times.
    */
  final class Goldens(path: Path) {
    private val node =
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(Files.readString(path))
    def validation(key: String): Option[Digest] =
      Option(node.path("validation").get(key)).map(g => readDigest(g.toString))
    def queryRows(q: String): Option[Long] = Option(node.path("registry").get(q)).map(_.asLong)
  }

  // ----------------------------------------------------------- validation path

  /** `graft.Main.main`'s calls with its defaults (partsPerBatch 8,
    * filesPerPart 1, no sketches), minus argument parsing and session set-up.
    * Returns (seconds inside `ResumableValidate.run`, report, committed parts,
    * failed docs).
    */
  def mainReplay(ctx: Ctx, c: Corpus, l: RuleLoader.Loaded, out: Path,
      failAfterParts: Int = Int.MaxValue)
      : (Double, ResumableValidate.RunReport, Int, Long) = {
    val tr = ctx.tracer
    val docs = ctx.spark.read.parquet(c.path.toString)
    val manifest = tr.span("sources.inputFiles")(docs.inputFiles.sorted.toSeq)
    val (report, runS) = time(tr.span("operators.ResumableValidate.run") {
      ResumableValidate.run(ctx.spark, docs, l.root, out.toString,
        manifest = manifest, failAfterParts = failAfterParts,
        partsPerBatch = 8, defs = l.defs, failFast = false, filesPerPart = 1,
        withSketches = false, driftCols = Nil)
    })
    val commits = tr.span("sources.CommitLog.completed")(CommitLog.completed(out.toString, ctx.conf))
    val failed = tr.span("sources.CommitLog.failedDocsTotal")(
      CommitLog.failedDocsTotal(out.toString, ctx.conf))
    (runS, report, commits.size, failed)
  }

  /** The expected digest ([[Oracle]]'s) against the golden, at the seeds
    * goldens were recorded for.
    */
  def checkGolden(r: Result, goldens: Goldens, key: String, d: Digest): Unit =
    goldens.validation(key).foreach { g =>
      r.op(s"golden $key")(expect(g == d, s"digest $d differs from golden $g"))
    }

  /** A timed sample is quiet when the hypervisor stole at most this share of
    * the machine's CPU time while it ran. Stolen CPU slows a Spark stage far
    * more than its share (a stage waits for its slowest task), so samples
    * taken while other tenants of the host were busy are left out.
    */
  val QuietSteal = 0.02

  final case class Sample(values: Map[String, Double], steal: Double)

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)

  /** The samples a metric is computed from: the quiet ones if there are at
    * least `need`, else the `need` least disturbed. (Waiting for a quiet
    * host instead would make a run's length depend on its neighbours.)
    */
  def chosen(samples: Seq[Sample], need: Int): Seq[Sample] = {
    val quiet = samples.filter(_.steal <= QuietSteal)
    if (quiet.size >= need) quiet else samples.sortBy(_.steal).take(need)
  }

  /** Wall-clock time of an operation (`op_wall_s`, end to end) from the
    * chosen samples, and throughput (per layer).
    */
  def wallMetrics(r: Result, opS: Seq[Double], perS: Seq[Double], throughput: Double): Unit = {
    val op = if (r.workload == "operator_registry") geomean(opS) else median(opS)
    r.metric("op_wall_s", "s", opS, op)
    r.metric("throughput_per_s", "1/s", perS, throughput)
    r.layer("wall.throughput_per_s", "1/s", throughput)
  }

  def noteSteal(r: Result, samples: Seq[Sample]): Unit = {
    r.info("steal_frac") = median(samples.map(_.steal))
    r.info("quiet_samples") = samples.count(_.steal <= QuietSteal)
  }

  /** One iteration of [[loop]]: the first is checked in full, warm-up
    * iterations are not timed.
    */
  final case class Iteration(checked: Boolean, timed: Boolean)

  /** Untimed iterations before the timed ones. The JIT still speeds up the
    * driver's planning code over the first five or so operations; timing
    * them would measure where on that curve a run happens to be.
    */
  val WarmUps = 3

  /** The timed loop: [[WarmUps]] warm-up iterations (the first one checked
    * in full), then timed iterations until `seconds` have passed and at
    * least three ran. Each iteration runs in a fresh out dir that is
    * deleted afterwards and returns its timings.
    */
  def loop(ctx: Ctx, r: Result, name: String)
      (iteration: (Path, Iteration) => Map[String, Double]): Seq[Sample] = {
    val samples = mutable.ArrayBuffer.empty[Sample]
    def once(i: Int): Unit = {
      val it = Iteration(checked = i == 0, timed = i >= WarmUps)
      val out = ctx.freshOut()
      val s0 = stealJiffies()
      val c0 = cpuNow()
      r.op(s"$name $i")(ctx.tracer.span(s"bench.$name")(iteration(out, it))).foreach { v =>
        if (it.timed) samples += Sample(v + ("cpu_s" -> (cpuNow() - c0)), stealShare(s0, stealJiffies()))
      }
      deleteTree(out)
    }
    (0 until WarmUps).foreach(once)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var i = WarmUps
    while (i < WarmUps + 3 || elapsed < ctx.a.seconds) {
      once(i)
      i += 1
    }
    noteSteal(r, samples.toSeq)
    samples.toSeq
  }

  def bulkValidate(ctx: Ctx, l: RuleLoader.Loaded, scale: Scale, r: Result): Unit = {
    val a = ctx.a
    val c = preparedCorpus(a, "bulk", knobs(scale.bulkDocs, scale.bulkParts, a.seed))
    r.info("corpus") = c
    val expected = storedDigest(c, Prepare.Expected)
    r.op("expected digest covers the corpus")(expect(
      expected.parts == c.parts && expected.docs == c.docs, s"expected $expected"))
    checkGolden(r, ctx.goldens, s"bulk_validate/${a.scale}/${a.seed}", expected)
    r.info("expected") = expected

    val samples = loop(ctx, r, "validate") { (out, it) =>
      val ((rs, _, parts, failed), dt) = time(mainReplay(ctx, c, l, out))
      expect(parts == expected.parts && failed == expected.failed,
        s"committed $parts parts / $failed failed docs, expected $expected")
      if (it.checked) {
        // the warm-up's output is read back whole
        val got = outDigest(ctx.spark, out)
        expect(got == expected, s"read-back $got != expected $expected")
        r.info("out_bytes_per_input_byte") = filesUnder(out)._2.toDouble / c.bytes
        sourcesLayers(ctx, r, out, c)
      }
      Map("op_s" -> dt, "run_s" -> rs)
    }
    progress("timed loop done")
    val use = chosen(samples, 3)
    val runS = use.map(_.values("run_s"))
    wallMetrics(r, use.map(_.values("op_s")), runS.map(c.docs / _), c.docs * runS.size / runS.sum)
    r.info("validate_docs_per_s") = c.docs * runS.size / runS.sum
    r.metric("op_cpu_s", "s", use.map(_.values("cpu_s")), median(use.map(_.values("cpu_s"))))
    if (a.trace) ladder(ctx, l, c, r)
  }

  def manyPartsResume(ctx: Ctx, l: RuleLoader.Loaded, scale: Scale, r: Result): Unit = {
    val a = ctx.a
    val c = preparedCorpus(a, "many_parts", knobs(scale.mpDocs, scale.mpParts, a.seed))
    r.info("corpus") = c
    val expected = storedDigest(c, Prepare.Expected)
    r.op("expected digest covers the corpus")(expect(
      expected.parts == c.parts && expected.docs == c.docs, s"expected $expected"))
    checkGolden(r, ctx.goldens, s"many_parts_resume/${a.scale}/${a.seed}", expected)
    r.info("expected") = expected

    val phases = Seq("crash", "resume", "noop_resume", "readback")
    val resumeWindows = mutable.ArrayBuffer.empty[Window]
    val samples = loop(ctx, r, "crash_resume") { (out, it) =>
      val took = mutable.Map.empty[String, Double]
      def phase[A](p: String)(body: => A): A = {
        val ((x, w), dt) = time(ctx.measure(ctx.tracer.span(s"bench.$p")(body)))
        took(p) = dt
        if (it.timed && p == "resume") w.foreach(resumeWindows += _)
        x
      }
      val crash = phase("crash") {
        try { mainReplay(ctx, c, l, out, failAfterParts = scale.mpCrashAfter); None }
        catch { case e: RuntimeException if e.getMessage.startsWith("Injected failure") => Some(e) }
      }
      expect(crash.isDefined, "the crash hook did not fire")
      val (_, resumed, parts, failed) = phase("resume")(mainReplay(ctx, c, l, out))
      expect(resumed.partsDone.size == c.parts - scale.mpCrashAfter &&
        resumed.partsSkipped.size == scale.mpCrashAfter,
        s"resume ran ${resumed.partsDone.size} parts, skipped ${resumed.partsSkipped.size}")
      val (_, noop, _, _) = phase("noop_resume")(mainReplay(ctx, c, l, out))
      expect(noop.partsDone.isEmpty, s"no-op re-run validated ${noop.partsDone.size} parts")
      val (rows, total) = phase("readback") {
        (ctx.tracer.span("operators.ResumableValidate.violations")(
          ResumableValidate.violations(ctx.spark, out.toString).count()),
          ctx.tracer.span("sources.CommitLog.failedDocsTotal")(
            CommitLog.failedDocsTotal(out.toString, ctx.conf)))
      }
      expect(parts == c.parts && failed == expected.failed && total == expected.failed &&
        rows == expected.rows, s"resumed: $parts parts, $failed failed, $rows rows; expected $expected")
      if (it.checked) {
        // the warm-up's output is read back whole; it must equal the expected
        // digest and an uninterrupted run of the same corpus
        val d = outDigest(ctx.spark, out)
        val whole = ctx.freshOut()
        ctx.tracer.span("bench.uninterrupted")(mainReplay(ctx, c, l, whole))
        val u = outDigest(ctx.spark, whole)
        deleteTree(whole)
        expect(d == u && u == expected, s"resumed $d, uninterrupted $u, expected $expected")
        sourcesLayers(ctx, r, out, c)
      }
      took.toMap + ("cycle_s" -> took.values.sum)
    }
    val use = chosen(samples, 3)
    def med(k: String) = median(use.map(_.values(k)))
    val validated = use.map(s => s.values("crash") + s.values("resume"))
    wallMetrics(r, use.map(_.values("cycle_s")), validated.map(c.docs / _),
      c.docs * validated.size / validated.sum)
    r.info("validate_docs_per_s") = c.docs * validated.size / validated.sum
    r.metric("op_cpu_s", "s", use.map(_.values("cpu_s")), med("cpu_s"))
    phases.foreach { p =>
      r.info(s"${p}_s") = med(p)
      r.layer(s"phase.${p}_s", "s", med(p))
    }
    if (resumeWindows.nonEmpty) {
      val w = resumeWindows
      Seq("driver.jobs", "driver.planning_s", "driver.job_gap_s").foreach { k =>
        r.layer(s"phase.resume.$k", if (k.endsWith("_s")) "s" else "count",
          median(w.map(_.values(k)).toSeq))
      }
    }
    if (a.trace) ladder(ctx, l, c, r)
  }

  /** Commit-log read time and the commit/violation files and bytes of a
    * finished out dir, plus the corpus generation time.
    */
  def sourcesLayers(ctx: Ctx, r: Result, out: Path, c: Corpus): Unit = {
    val reads = (1 to 5).map(_ => time(ctx.tracer.span("sources.CommitLog.completed")(
      CommitLog.completed(out.toString, ctx.conf)))._2)
    val (cf, cb) = filesUnder(out.resolve("_commits"), _.getFileName.toString.endsWith(".json"))
    val (vf, vb) = filesUnder(out, f => isParquet(f))
    val (_, all) = filesUnder(out)
    r.layer("sources.docsgen_s", "s", c.genS)
    r.layer("sources.commitlog_read_s", "s", median(reads))
    r.layer("sources.commit_files", "count", cf.toDouble)
    r.layer("sources.commit_bytes", "bytes", cb.toDouble)
    r.layer("sources.violation_files", "count", vf.toDouble)
    r.layer("sources.violation_bytes", "bytes", vb.toDouble)
    r.layer("sources.out_bytes_per_input_byte", "ratio", all.toDouble / c.bytes)
  }

  /** Cumulative layer ladder on identical input, each stage to the noop sink
    * (L4 is the full resumable run into a fresh dir). Rounds repeat for the
    * run's seconds (at least three); each stage reports the median of its
    * rounds, and its self time is the difference to the previous stage.
    */
  def ladder(ctx: Ctx, l: RuleLoader.Loaded, c: Corpus, r: Result): Unit = {
    val spark = ctx.spark
    def read = spark.read.parquet(c.path.toString)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def composite = ResumableValidate.compositeViolations(read, l.root, l.defs)
    val stages: Seq[(String, () => Unit)] = Seq(
      "L0_scan" -> (() => noop(read.select("doc_id", "spans", "part"))),
      "L1_rules" -> (() => noop(Validate.withViolations(read, l.root, l.defs))),
      "L2_span" -> (() => noop(composite)),
      "L3_verdict" -> (() => {
        val aggs = Validate.verdictAggs(col("violations"))
        noop(composite.groupBy(col("part")).agg(aggs.head, aggs.tail: _*))
      }),
      "L4_commit" -> (() => {
        val out = ctx.freshOut()
        mainReplay(ctx, c, l, out)
        deleteTree(out)
      }))
    val windows = stages.map(_._1 -> mutable.ArrayBuffer.empty[Window]).toMap
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds < 3 || (System.nanoTime() - t0) / 1e9 < ctx.a.seconds) {
      stages.foreach { case (name, run) =>
        r.op(s"ladder $name")(ctx.tracer.span(s"ladder.$name") {
          ctx.measure(run())._2.foreach(windows(name) += _)
        })
      }
      rounds += 1
    }
    var prev = 0.0
    stages.foreach { case (name, _) =>
      val ws = windows(name).toSeq
      if (ws.nonEmpty) {
        val wall = median(ws.map(_.wallS))
        r.layer(s"$name.wall_s", "s", wall)
        r.layer(s"$name.self_s", "s", wall - prev)
        prev = wall
        Counters.All.foreach { k =>
          r.layer(s"$name.$k", unitOf(k), median(ws.map(_.values(k))))
        }
      }
    }
    r.info("ladder_rounds") = rounds
    // rule compilation alone: RuleCompiler.compile builds the Column, no action
    val docs = read
    val compiles = (1 to 5).map(_ => time(ctx.tracer.span("rules.RuleCompiler.compile")(
      RuleCompiler.compile(l.root, struct(docs.columns.map(col).toIndexedSeq: _*),
        docs.schema, l.defs)))._2)
    r.layer("rules.compile_s", "s", median(compiles))
  }

  def unitOf(k: String): String =
    if (k.endsWith("_s")) "s" else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("core_util")) "ratio" else "count"

  // ------------------------------------------------------------------ registry

  def family(q: String): String = if (q.startsWith("gen_")) "gen" else q.takeWhile(_ != '_')

  def registry(ctx: Ctx, scale: Scale, r: Result): Unit = {
    val a = ctx.a
    val dataDir = a.root.resolve("perfbench/data/sf0.01").toString
    val names = scale.queries
    val unknown = names.filterNot(SparkEntry.queries.contains)
    r.op("registry names resolve")(expect(unknown.isEmpty, s"unknown queries ${unknown.mkString(",")}"))
    val rnd = new scala.util.Random(a.seed)
    val rows = mutable.LinkedHashMap.empty[String, Long]
    val passWindows = mutable.ArrayBuffer.empty[Window]

    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Sample]]
    def pass(timed: Boolean): Unit = {
      val order = rnd.shuffle(names.filter(SparkEntry.queries.contains))
      val (_, w) = ctx.measure(order.foreach { q =>
        r.op(s"query $q")(ctx.tracer.span(s"operators.query.$q") {
          val s0 = stealJiffies()
          val (n, dt) = time(SparkEntry.queries(q)(ctx.spark, dataDir).count())
          val steal = stealShare(s0, stealJiffies())
          rows(q) = n
          ctx.goldens.queryRows(q) match {
            case Some(g) => expect(g == n, s"$q returned $n rows, golden $g")
            case None => expect(false, s"$q has no golden row count")
          }
          if (timed) samples.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
            Sample(Map("s" -> dt), steal)
        })
      })
      if (timed) w.foreach(passWindows += _)
    }
    ctx.tracer.span("bench.warmup")(pass(timed = false))
    progress("registry warm-up pass done")
    // timed passes until `seconds` have passed and at least two ran; each
    // query's time is the median of its quiet samples, or its least
    // disturbed one
    val t0 = System.nanoTime()
    val c0 = cpuNow()
    var passes = 0
    while (passes < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      ctx.tracer.span("bench.pass")(pass(timed = true))
      passes += 1
    }
    val executions = samples.values.map(_.size).sum
    val cpuPerQuery = (cpuNow() - c0) / math.max(1, executions)
    noteSteal(r, samples.values.flatten.toSeq)
    val med = samples.map { case (q, ss) => q -> median(chosen(ss.toSeq, 1).map(_.values("s"))) }.toMap
    val all = samples.values.flatMap(ss => chosen(ss.toSeq, 1)).map(_.values("s")).toSeq
    if (med.nonEmpty) {
      wallMetrics(r, med.values.toSeq, all.map(1 / _), all.size / all.sum)
      r.info("query_geomean_s") = geomean(med.values.toSeq)
      r.info("query_p90_s") = percentile(med.values.toSeq, 90)
      r.metric("op_cpu_s", "s", Seq.fill(executions)(cpuPerQuery), cpuPerQuery)
    }
    r.info("passes") = passes
    r.info("query_rows") = rows.toMap
    r.info("query_median_s") = med
    if (a.trace) {
      Seq("d", "e", "g", "i", "l", "m", "p", "q", "r", "s", "t", "v", "gen").foreach { f =>
        r.layer(s"queries.${f}_s", "s", med.filter(kv => family(kv._1) == f).values.sum)
      }
      if (passWindows.nonEmpty) Counters.All.foreach { k =>
        r.layer(s"queries.$k", unitOf(k), median(passWindows.map(_.values(k)).toSeq))
      }
    }
  }

  // --------------------------------------------------------------------- json

  /** Already-encoded JSON. */
  final case class Raw(json: String)

  def js(v: Any): String = v match {
    case null | None => "null"
    case Raw(s) => s
    case Some(x) => js(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case d: Digest => d.json
    case c: Corpus => js(Map("path" -> c.path.toString, "seed" -> c.seed, "docs" -> c.docs, "parts" -> c.parts,
      "bytes" -> c.bytes, "files" -> c.files, "gen_s" -> c.genS))
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(js).mkString("[", ",", "]")
    case other => js(other.toString)
  }

  def resultJson(r: Result): String = js(Map(
    "e2e" -> r.e2e.map { case (k, (v, u, s)) => k -> Map("value" -> v, "unit" -> u, "samples" -> s) },
    "layers" -> r.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "attempted" -> r.attempted, "failed" -> r.failed, "errors" -> r.errors,
    "info" -> r.info))

  def report(r: Result): Unit = {
    println(s"== ${r.workload}: ${r.attempted} operations, ${r.failed} failed")
    r.e2e.foreach { case (k, (v, u, s)) =>
      val tail = tailPercentile(s.size).map(p => f"p$p=${percentile(s, p)}%.6g")
        .getOrElse("tail n/a (fewer than 11 samples)")
      println(f"  $k%-28s $v%14.6g $u%-6s n=${s.size} $tail")
    }
    r.info.foreach { case (k, v) => v match {
      case d: Double => println(f"  $k%-28s $d%14.6g")
      case n: Long => println(f"  $k%-28s $n%14d")
      case n: Int => println(f"  $k%-28s $n%14d")
      case _ =>
    } }
    r.layers.foreach { case (k, (v, u)) => println(f"  $k%-40s $v%14.6g $u") }
  }

  def fingerprint(spark: SparkSession, a: Args): Map[String, Any] = {
    val conf = spark.sparkContext.getConf.getAll.toSeq
      .filter { case (k, _) => k == "spark.master" || k.startsWith("spark.sql.") }
      .filterNot(_._1.contains("warehouse")).sortBy(_._1)
    Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "cores" -> a.cores,
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getName).toSeq,
      "session_conf" -> conf.toMap,
      "scale" -> a.scale)
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  // --------------------------------------------------------------------- main

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv.toList, Args())
    val scale = Scales(a.scale)
    val rules = a.root.resolve("perfbench/rules.yaml")
    val goldens = new Goldens(a.root.resolve("perfbench/goldens.json"))
    val runId = s"${a.workloads.mkString("+")}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    val tracer = new Tracer(a.trace, runId)
    val results = mutable.LinkedHashMap.empty[String, Result]
    val fingerprints = mutable.LinkedHashMap.empty[String, Map[String, Any]]
    Files.createDirectories(a.work)
    a.workloads.foreach { w =>
      val r = new Result(w)
      results(w) = r
      val kind = if (w == "operator_registry") "registry" else "validate"
      val (spark, loaded, setup, load) = tracer.span(s"bench.setup.$w")(
        setUp(kind, a, if (kind == "validate") Some(rules) else None))
      // the warm set-ups; the cold first one is a layer metric
      val warm = chosen(setup.tail, 3).map(_.values("s"))
      r.metric("setup_s", "s", warm, median(warm))
      r.layer("setup.first_s", "s", setup.head.values("s"))
      if (loaded.isDefined) r.layer("rules.load_s", "s", median(load))
      val counters = if (a.trace) Some(new Counters(spark, a.cores)) else None
      val ctx = new Ctx(a, spark, tracer, counters, goldens)
      progress(s"$w set up")
      fingerprints(w) = fingerprint(spark, a)
      try tracer.span(s"bench.workload.$w") {
        w match {
          case "bulk_validate" => bulkValidate(ctx, loaded.get, scale, r)
          case "many_parts_resume" => manyPartsResume(ctx, loaded.get, scale, r)
          case "operator_registry" => registry(ctx, scale, r)
          case other => r.op("workload")(expect(false, s"unknown workload $other"))
        }
      } catch { case e: Throwable =>
        r.attempted += 1; r.failed += 1; r.errors += s"workload aborted: $e"
      } finally {
        progress(s"$w done")
        counters.foreach(_.detach())
        stop(spark)
        deleteTree(a.work.resolve("out"))
      }
    }
    val rss = peakRssMb()
    results.values.foreach { r =>
      r.metric("peak_rss_mb", "MB", Seq(rss), rss)
      tracer.selfSeconds(s"bench.workload.${r.workload}").toSeq.sortBy(_._1).foreach { case (k, v) =>
        if (k.startsWith("operators.") || k.startsWith("sources.") || k.startsWith("rules."))
          r.info(s"self.$k") = v
      }
      report(r)
    }
    val traceFile = if (a.trace) {
      val p = a.work.getParent.resolve("traces").resolve(s"$runId.json")
      Files.createDirectories(p.getParent)
      Files.writeString(p, tracer.json)
      Some(p.toString)
    } else None
    Files.writeString(a.result, js(Map(
      "workloads" -> results.map { case (k, r) => k -> Raw(resultJson(r)) },
      "fingerprint" -> fingerprints, "trace_file" -> traceFile)))
  }
}
