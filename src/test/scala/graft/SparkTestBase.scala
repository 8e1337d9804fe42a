package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (session startup dominates
  * test wall time otherwise). Mirrors the harness confs: local[4], 4
  * shuffle partitions, UTC.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Deterministic multiset snapshot of a small DataFrame. */
  def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case null => "␀"
      case d: Double => d.toString
      case x => x.toString
    }.mkString("|")).toSeq.sorted

  /** (Spark jobs, top-level SQL executions) that `body` starts. The
    * listener bus is asynchronous, so a sentinel job drains it: once the
    * sentinel's start event arrives, every earlier event has.
    */
  def fired(body: => Any): (Int, Int) = {
    val sc = spark.sparkContext
    val sentinel = s"graft-spec-sentinel-${System.nanoTime}"
    val (jobs, sqls, drained) = (new AtomicInteger, new AtomicInteger, new CountDownLatch(1))
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == sentinel))
          drained.countDown()
        else jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) => sqls.incrementAndGet()
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    (jobs.get, sqls.get)
  }
}
