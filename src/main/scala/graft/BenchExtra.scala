package graft

/** Round-6 optimization measurement aids — SEPARATE from the frozen
  * [[Bench]] harness (whose per-query methodology the driver hashes).
  *
  *  - [[PlanDump]]: `runMain graft.PlanDump <sfDir> <outDir> <query>...`
  *    writes each query's `.explain("formatted")` text to
  *    `<outDir>/<query>.txt` — the plan evidence committed under
  *    plans/r06/ (guide §7.2).
  *  - [[BenchExtra]]: `runMain graft.BenchExtra <sfDir> <query>...` times
  *    each query with the noop sink (guide §1.4: computes every column of
  *    every row, no result materialization to the driver) — min of 3 runs,
  *    same session config as the bench's per-query section. Queries named
  *    `all` expands to the full registry.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2).toSeq
    new java.io.File(outDir).mkdirs()
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$n.txt"), txt)
      println(s"wrote $outDir/$n.txt")
    }
    spark.stop()
  }
}

object BenchExtra {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args(0)
    val names0 = args.drop(1).toSeq
    val names =
      if (names0 == Seq("all")) SparkEntry.queries.keys.toSeq.sorted
      else names0
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    names.foreach { n =>
      spark.sparkContext.setJobDescription(s"bench-extra: $n")
      val fn = SparkEntry.queries(n)
      val ts = (1 to 3).map { _ =>
        Bench.time {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        }._2
      }
      println(f"""{"query":"$n","noop_min_sec":${ts.min}%.3f,"runs":[${ts.map(t => f"$t%.3f").mkString(",")}]}""")
    }
    spark.stop()
  }
}

/** Per-JOB breakdown of one query (guide §1.1/§7.1 without the UI): runs
  * the query `warm + 1` times, and on the last run a SparkListener logs
  * every job's wall time, stage count, task count, and shuffle read/write
  * bytes — the empirical view of where a multi-job query's seconds go
  * (each localCheckpoint / count / collect / write is its own job).
  * `runMain graft.QueryProfile <sfDir> <query>...`
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import org.apache.spark.scheduler._
    import scala.collection.mutable
    final case class JobRec(id: Int, var t0: Long = 0L, var t1: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var shufR: Long = 0L,
      var shufW: Long = 0L, var input: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    @volatile var recording = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (recording) synchronized {
          val r = JobRec(j.jobId, t0 = j.time)
          jobs(j.jobId) = r
          j.stageIds.foreach(s => stageToJob(s) = j.jobId)
          r.stages = j.stageIds.size
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (recording) synchronized {
          jobs.get(j.jobId).foreach(_.t1 = j.time)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (recording) synchronized {
          stageToJob.get(s.stageInfo.stageId).flatMap(jobs.get).foreach { r =>
            r.tasks += s.stageInfo.numTasks
            r.shufR += s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
            r.shufW += s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
            r.input += s.stageInfo.taskMetrics.inputMetrics.bytesRead
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // two warm runs: JIT + codegen cache + AQE stats settle
      (1 to 2).foreach { _ =>
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      jobs.clear(); stageToJob.clear()
      recording = true
      spark.sparkContext.setJobDescription(s"profile: $n")
      val (_, wall) = Bench.time {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      }
      // the listener bus is async: drain it before recording stops, so
      // late job and stage events still count
      org.apache.spark.sql.GraftShims.drainListenerBus(spark.sparkContext)
      recording = false
      println(f"== $n wall=$wall%.3f s, jobs=${jobs.size}")
      var prevEnd = 0L
      jobs.values.foreach { r =>
        val gap = if (prevEnd == 0L) 0.0 else (r.t0 - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, r.t1)
        println(f"  job ${r.id}%3d ${(r.t1 - r.t0) / 1e3}%7.3f s  gap=$gap%6.3f  stages=${r.stages}%2d tasks=${r.tasks}%4d in=${r.input / 1024}%8d KB  shufR=${r.shufR / 1024}%6d KB shufW=${r.shufW / 1024}%6d KB")
      }
      val jobSum = jobs.values.map(r => (r.t1 - r.t0) / 1e3).sum
      println(f"  sum(job walls)=$jobSum%.3f s (gaps/driver time = ${wall - jobSum}%.3f s)")
    }
    spark.stop()
  }
}
