package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, forked by sbt).
  * Self-healing: if a suite (e.g. ExamplesSmokeSpec running example
  * mains that stop their session) stopped the context, the next suite
  * gets a fresh one — suites run sequentially, so nothing is mid-query
  * when that happens. */
object SparkSpec {
  private var current: SparkSession = _
  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) {
      current = SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      current.sparkContext.setLogLevel("WARN")
    }
    current
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft-test").toString

  /** What `body` leaves registered: the ids of persistent RDDs it added,
    * and whether the cache manager holds an entry (the session's cache is
    * cleared before `body` runs). */
  def residueOf(body: => Unit): (Set[Int], Boolean) = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    (sc.getPersistentRDDs.keySet.toSet -- before, !spark.sharedState.cacheManager.isEmpty)
  }

  /** Drop the blocks that hold a stored frame's rows, as a lost executor
    * would: its cache entry's buffers, or its checkpoint's blocks. */
  def dropStoredBlocks(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = true)
    case _ =>
      val qe = df.queryExecution
      qe.sparkSession.sharedState.cacheManager.lookupCachedData(qe.sparkSession, qe.analyzed).get
        .cachedRepresentation.cacheBuilder.cachedColumnBuffers.unpersist(blocking = true)
  }

  /** Jobs launched by `body` (inside its own job group). */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}
