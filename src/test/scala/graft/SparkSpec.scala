package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy implicit val spark: SparkSession = SparkSpec.spark

  /** Runs `body` on generated code, then again on the interpreted path (no
    * whole-stage codegen, no expression codegen), restoring every conf it
    * set. The first pass keeps the optimizer from folding a projection
    * over an in-memory `Seq(…).toDF` into a local relation, which it
    * evaluates on the driver, interpreted (as Spark's own
    * `SharedSparkSession` does).
    */
  def onBothEvalPaths(body: => Unit): Unit = {
    val excluded = "spark.sql.optimizer.excludedRules"
    val convert = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    withConfs(excluded ->
      (spark.conf.getOption(excluded).filter(_.nonEmpty).toSeq :+ convert).mkString(","))(body)
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(body)
  }

  private def withConfs(confs: (String, String)*)(body: => Unit): Unit = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The message `body` fails with, including its causes' messages: a
    * task-side error reaches the driver wrapped in a job-abort exception.
    */
  def failureOf(body: => Any): String = {
    val e = intercept[Exception](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString("\n")
  }

  /** `body`'s result and the number of SQL executions (Spark actions) that
    * succeeded while it ran.
    */
  def executionsDuring[A](body: => A): (A, Int) = countDuring { n =>
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        n.incrementAndGet(): Unit
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    () => spark.listenerManager.unregister(listener)
  }(body)

  /** `body`'s result and the number of Spark jobs it started: unlike
    * [[executionsDuring]] this also sees jobs outside a SQL execution (a
    * Parquet schema inference, say), and it can show that none ran.
    */
  def jobsDuring[A](body: => A): (A, Int) = countDuring { n =>
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    () => spark.sparkContext.removeSparkListener(listener)
  }(body)

  /** Runs `body` with a listener that `register` installs (it returns the
    * uninstall), counting into the counter it is given. Listener events
    * arrive asynchronously, so the bus is drained before and after.
    */
  private def countDuring[A](register: AtomicInteger => () => Unit)(body: => A): (A, Int) = {
    val n = new AtomicInteger
    GraftShims.drainListenerBus(spark.sparkContext)
    val unregister = register(n)
    try {
      val a = body
      GraftShims.drainListenerBus(spark.sparkContext)
      (a, n.get)
    } finally unregister()
  }
}
