package graftbench

import java.security.MessageDigest
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.graftbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spark work attributed to one call: the jobs started under the call's job
  * group, the stage attempts submitted under it and their tasks. */
final class SparkCounts {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var maxTaskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val plans = mutable.ArrayBuffer.empty[String]
  private[graftbench] val started = mutable.Set.empty[Int]
  private[graftbench] val ended = mutable.Set.empty[Int]
}

/** Listener that attributes Spark work to calls through the job-group local
  * property, which Spark copies onto every job, stage submission and SQL
  * execution started from the calling thread (broadcast jobs included). */
final class Collector extends SparkListener {
  private val groups = mutable.Map.empty[String, SparkCounts]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[(Int, Int), String]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).filter(groups.contains)

  def open(group: String): Unit = synchronized { groups(group) = new SparkCounts }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      val c = groups(g)
      c.jobs += 1
      c.started += e.jobId
      jobGroup(e.jobId) = g
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      groups(g).stages += 1
      stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = g
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get((e.stageId, e.stageAttemptId)); c <- groups.get(g)) {
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.maxTaskMs = math.max(c.maxTaskMs, m.executorRunTime)
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.remove(e.jobId); c <- groups.get(g)) c.ended += e.jobId
    notifyAll()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.filter(groups.contains).foreach(g => groups(g).plans += s.physicalPlanDescription)
    }
    case _ =>
  }

  /** Waits until the bus has delivered every event posted so far and every
    * job started under `group` has ended, then returns the group's counts. */
  def close(sc: SparkContext, group: String, timeoutMs: Long = 120000L): SparkCounts = {
    ListenerBusDrain(sc)
    synchronized {
      val c = groups(group)
      val deadline = System.currentTimeMillis() + timeoutMs
      while (!c.started.subsetOf(c.ended)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          s"jobs ${(c.started -- c.ended).toSeq.sorted.mkString(",")} of $group did not end")
        wait(left)
      }
      groups.remove(group)
      stageGroup.filterInPlace((_, g) => g != group)
      c
    }
  }
}

final case class Span(id: Int, name: String, parent: Int, pass: Int, startNs: Long, endNs: Long)

/** One call into a graft public function, as seen from the benchmark. */
final case class CallRecord(pass: Int, name: String, seconds: Double, rounds: Int,
    counts: Option[SparkCounts], residueRdds: Int, residueDelta: Int, planFingerprint: String)

/** Times every pass and call; while tracing is on it also attributes Spark
  * work to each call and records spans, residue and plan fingerprints. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val calls = mutable.ArrayBuffer.empty[CallRecord]
  private val sc = spark.sparkContext
  private var collector: Option[Collector] = None
  private var currentPass = -1
  private var passSpan = -1

  def tracing: Boolean = collector.nonEmpty

  def setTracing(on: Boolean): Unit = (on, collector) match {
    case (true, None) =>
      val c = new Collector
      sc.addSparkListener(c)
      collector = Some(c)
    case (false, Some(c)) =>
      sc.removeSparkListener(c)
      collector = None
    case _ =>
  }

  private def span[T](name: String, parent: Int)(body: Int => T): (T, Span) = {
    val id = spans.size
    val t0 = System.nanoTime()
    spans += Span(id, name, parent, currentPass, t0, t0) // children are appended after it
    val out = try body(id) finally spans(id) = spans(id).copy(endNs = System.nanoTime())
    (out, spans(id))
  }

  /** Runs one pass of a workload; returns its result and wall seconds. */
  def pass[T](passId: Int, workload: String)(body: => T): (T, Double) = {
    currentPass = passId
    val (out, s) = span(s"pass.$workload", -1) { id => passSpan = id; body }
    (out, (s.endNs - s.startNs) / 1e9)
  }

  /** Runs one call. `rounds` is the call's own fixed iteration count, 0 for
    * calls that are not fixed-round loops. */
  def call[T](name: String, rounds: Int = 0)(body: => T): T = collector match {
    case None =>
      val (out, s) = span(name, passSpan)(_ => body)
      calls += CallRecord(currentPass, name, (s.endNs - s.startNs) / 1e9, rounds, None, 0, 0, "")
      out
    case Some(c) =>
      val group = s"graftbench-${spans.size}"
      val before = sc.getPersistentRDDs.size
      c.open(group)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val (out, s) = try span(name, passSpan)(_ => body) finally sc.clearJobGroup()
      val counts = c.close(sc, group)
      val after = sc.getPersistentRDDs.size
      calls += CallRecord(currentPass, name, (s.endNs - s.startNs) / 1e9, rounds, Some(counts),
        after, after - before, Tracer.fingerprint(counts.plans.toSeq))
      out
  }
}

object Tracer {
  /** Hash of the call's physical plans with expression, plan and RDD ids
    * and file locations stripped, so equal code on equal inputs hashes equal. */
  def fingerprint(plans: Seq[String]): String = {
    if (plans.isEmpty) return "none"
    val norm = plans.map(_
      .replaceAll("#\\d+L?", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("RDD\\[\\d+\\]", "RDD[]")
      .replaceAll("file:[^\\s,\\]]*", "file:"))
    MessageDigest.getInstance("SHA-256").digest(norm.mkString("\n--\n").getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
  }
}
