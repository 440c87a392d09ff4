package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, pretty, render}

/** One JVM, one workload: set up the seeded inputs, run a cold pass and then
  * warm passes for the requested seconds, check every pass, and print the
  * metrics. Started by run.py; see README.md in this directory. */
object Main {
  val Cores = 4
  val SetupReps = 3

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Int = 10,
      trace: Boolean = false, workDir: String = "", outDir: String = "", stamp: String = "",
      selfTest: Boolean = false)

  final case class PassStat(id: Int, traced: Boolean, wall: Double, failures: Seq[String],
      requests: Int, failedRequests: Int, jvmGcS: Double, residue: Int, residueAfterClear: Int) {
    def failed: Boolean = failures.nonEmpty
  }

  def main(args: Array[String]): Unit = {
    val o = parseArgs(args.toList, Opts())
    val code = if (o.selfTest) SelfTest.run(o) else run(o)
    sys.exit(code)
  }

  private def parseArgs(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "--workload" :: v :: rest => parseArgs(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parseArgs(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parseArgs(rest, o.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parseArgs(rest, o.copy(trace = v == "1"))
    case "--work-dir" :: v :: rest => parseArgs(rest, o.copy(workDir = v))
    case "--out-dir" :: v :: rest => parseArgs(rest, o.copy(outDir = v))
    case "--stamp" :: v :: rest => parseArgs(rest, o.copy(stamp = v))
    case "--self-test" :: rest => parseArgs(rest, o.copy(selfTest = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Array[Long], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1))).toDouble
  }

  private def jvmGcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Runs one pass and checks it after its clock has stopped. */
  def runPass(spark: SparkSession, w: Workload, t: Tracer, id: Int, dataDir: String): (PassStat, PassResult) = {
    val gc0 = jvmGcSeconds()
    val (result, wall, error) =
      try {
        val (r, s) = t.pass(id, w.name)(w.pass(spark, t, id, dataDir))
        (Some(r), s, None)
      } catch { case NonFatal(e) => (None, Double.NaN, Some(s"pass $id threw $e")) }
    val gc = jvmGcSeconds() - gc0
    val (failures, checkS) = seconds(error.toSeq ++ result.toSeq.flatMap(r =>
      try r.failures() catch { case NonFatal(e) => Seq(s"check of pass $id threw $e") }))
    result.foreach(_.release())
    log(f"pass $id wall $wall%.3f s, check $checkS%.1f s")
    val sc = spark.sparkContext
    val residue = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    val stat = PassStat(id, t.tracing, wall, failures,
      result.map(_.requests).getOrElse(0), result.map(_.failedRequests).getOrElse(0), gc,
      residue, sc.getPersistentRDDs.size)
    failures.foreach(f => log(s"FAILED: $f"))
    (stat, result.orNull)
  }

  def run(o: Opts): Int = {
    val w = Workload(o.workload, tiny = false)
    val dataDir = s"${o.workDir}/data"
    val (session4, startS) = seconds(session(Cores, o.workDir))
    var spark = session4
    // set-up is repeated so setup_s is a median, not one sample
    val setupTimes = (1 to SetupReps).map(_ => seconds(w.setup(spark, dataDir, o.seed))._2)
    val loadS = seconds(w.load(spark, dataDir, o.seed))._2
    log(f"session $startS%.1f s, set-up ${setupTimes.sum}%.1f s, references $loadS%.1f s")

    val tracer = new Tracer(spark)
    val passes = mutable.ArrayBuffer.empty[PassStat]
    val latencies = mutable.ArrayBuffer.empty[Array[Long]]
    def one(traced: Boolean): Unit = {
      tracer.setTracing(traced)
      val (stat, r) = runPass(spark, w, tracer, passes.size, dataDir)
      passes += stat
      if (r != null && stat.id > 0 && !traced && r.latenciesNs.nonEmpty) latencies += r.latenciesNs
    }
    // the cold pass is the first run of the workload's code in this JVM;
    // warm passes follow for the requested seconds, at least one of them
    // (a graph_loops warm pass takes longer than the whole budget on a
    // loaded 4-core machine, and its warm passes agree within a few per
    // cent). A traced run alternates traced and untraced warm passes so
    // their difference is the tracing overhead, so it needs two.
    one(o.trace)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val minWarm = if (o.trace) 2 else 1
    var warm = 0
    while ((warm < minWarm || elapsed < o.seconds) && elapsed < 100) {
      one(o.trace && warm % 2 == 0)
      warm += 1
    }
    tracer.setTracing(false)

    // single-thread baseline: one untraced pass on local[1]
    val local1 = if (!o.trace) None else {
      stopSession(spark)
      spark = session(1, o.workDir)
      w.load(spark, dataDir, o.seed)
      Some(runPass(spark, w, new Tracer(spark), passes.size, dataDir)._1)
    }
    val stamp = jvmStamp(o, spark)
    stopSession(spark)

    val all = passes.toSeq ++ local1
    val attempted = all.size + all.map(_.requests).sum
    val failed = all.count(_.failed) + all.map(_.failedRequests).sum
    val wallS = median(passes.filter(p => p.id > 0 && !p.traced && !p.failed).map(_.wall).toSeq)

    def callMedian(name: String): Double = median(tracer.calls.filter(c =>
      c.name == name && c.pass > 0 && c.counts.isEmpty).map(_.seconds).toSeq)

    val endToEnd = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (median(setupTimes), "s"),
      "wall_s" -> (wallS, "s"),
      "cold_s" -> (passes.head.wall, "s"),
      "rows_per_s" -> (w.inputRows / wallS, "1/s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
    // the fit/score/serve figures exist only on the pipeline workload, so
    // they are printed but not part of the gated metric set
    val workloadOnly = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (latencies.nonEmpty) {
      val lat = latencies.flatten.toArray
      workloadOnly ++= Seq(
        "fit_s" -> (callMedian("api.fit"), "s"),
        "score_s" -> (callMedian("api.transform"), "s"),
        "serve_p50_us" -> (percentile(lat, 0.50) / 1e3, "us"),
        "serve_p99_us" -> (percentile(lat, 0.99) / 1e3, "us"),
        "serve_rps" -> (lat.length / (lat.map(_.toDouble).sum / 1e9), "1/s"))
    }

    val report = Report(w, o, tracer, passes.toSeq, local1, stamp)
    val gated = if (o.trace) report.perLayer else endToEnd
    (endToEnd ++ workloadOnly).foreach { case (k, (v, u)) => println(s"metric $k $v $u") }
    if (o.trace) report.perCall.foreach { case (k, (v, u)) => println(s"per-call $k $v $u") }
    println(compact(render(JObject("stamp" -> stamp))))
    report.write(endToEnd ++ workloadOnly)

    val correct = failed == 0
    println(compact(render(JObject(
      "correct" -> JBool(correct), "attempted" -> JInt(attempted), "failed" -> JInt(failed),
      "metrics" -> metricsJson(gated)))))
    if (correct) 0 else 1
  }

  /** A failed pass leaves no time, which JSON writes as null, not NaN. */
  def num(v: Double): JValue = if (v.isNaN || v.isInfinite) JNull else JDouble(v)

  def metricsJson(xs: Iterable[(String, (Double, String))]): JObject =
    JObject(xs.toList.map { case (k, (v, u)) => k -> JObject("value" -> num(v), "unit" -> JString(u)) })

  /** The run's configuration as the JVM sees it, merged into the stamp the
    * launcher wrote (cpus, load, commit, seed, SPARK_GRAFT_* seen). */
  def jvmStamp(o: Opts, spark: SparkSession): JValue = {
    val launcher =
      if (o.stamp.isEmpty) JObject()
      else parse(new String(Files.readAllBytes(Paths.get(o.stamp)), StandardCharsets.UTF_8))
    val rt = ManagementFactory.getRuntimeMXBean
    launcher merge JObject(
      "workload" -> JString(o.workload),
      "seed" -> JLong(o.seed),
      "seconds" -> JInt(o.seconds),
      "trace" -> JBool(o.trace),
      "spark_master_cores" -> JInt(Cores),
      "java_version" -> JString(System.getProperty("java.version")),
      "spark_version" -> JString(spark.version),
      "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory >> 20),
      "gc" -> JArray(ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => JString(b.getName)).toList),
      "jvm_args" -> JArray(rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens"))
        .map(JString(_)).toList))
  }
}

/** Per-layer figures of a traced run, and the files a run leaves in the
  * output directory. */
final case class Report(w: Workload, o: Main.Opts, tracer: Tracer, passes: Seq[Main.PassStat],
    local1: Option[Main.PassStat], stamp: JValue) {
  import Main.{Cores, median}

  private val tracedWarm = passes.filter(p => p.id > 0 && p.traced && !p.failed).map(_.id).toSet
  private val untracedWarm = passes.filter(p => p.id > 0 && !p.traced && !p.failed).map(_.wall)
  private def tracedCalls = tracer.calls.filter(c => tracedWarm.contains(c.pass) && c.counts.nonEmpty)

  private def perPass(f: CallRecord => Double): Double =
    median(tracedWarm.toSeq.map(id => tracedCalls.filter(_.pass == id).map(f).sum))

  private def mb(b: Long) = b / 1048576.0
  private def idle(c: CallRecord) = c.seconds * Cores - c.counts.get.runMs / 1e3

  private def callMetrics(c: CallRecord): Seq[(String, Double, String)] = {
    val k = c.counts.get
    Seq(("call_s", c.seconds, "s"), ("jobs", k.jobs.toDouble, "count"),
      ("stages", k.stages.toDouble, "count"), ("tasks", k.tasks.toDouble, "count"),
      ("exec_run_s", k.runMs / 1e3, "s"), ("max_task_s", k.maxTaskMs / 1e3, "s"),
      ("exec_cpu_s", k.cpuNs / 1e9, "s"),
      ("idle_core_s", idle(c), "s"), ("shuffle_write_mb", mb(k.shuffleWriteBytes), "MB"),
      ("shuffle_read_mb", mb(k.shuffleReadBytes), "MB"), ("spill_mb", mb(k.spillBytes), "MB"),
      ("gc_s", k.gcMs / 1e3, "s"), ("residue_rdds", c.residueRdds.toDouble, "count")) ++
      (if (c.rounds > 0) Seq(("jobs_per_round", k.jobs.toDouble / c.rounds, "count")) else Nil)
  }

  /** `<module>.<call>.<metric>`: medians over the traced warm passes. */
  lazy val perCall: Seq[(String, (Double, String))] =
    tracedCalls.map(_.name).distinct.toSeq.flatMap { n =>
      val rows = tracedCalls.filter(_.name == n).map(callMetrics).toSeq
      rows.head.indices.map { j =>
        val (m, _, unit) = rows.head(j)
        s"$n.$m" -> (median(rows.map(_(j)._2)), unit)
      }
    }

  /** The gated per-layer set: every layer's figures summed over a pass's
    * calls, so each workload reports the same names. */
  lazy val perLayer: Seq[(String, (Double, String))] = {
    def sum(f: SparkCounts => Double) = perPass(c => f(c.counts.get))
    val loops = tracedCalls.filter(_.rounds > 0)
    val rounds = median(tracedWarm.toSeq.map(id => loops.filter(_.pass == id).map(_.rounds.toDouble).sum))
    val loopJobs = median(tracedWarm.toSeq.map(id =>
      loops.filter(_.pass == id).map(_.counts.get.jobs.toDouble).sum))
    val traced = passes.filter(p => tracedWarm.contains(p.id))
    Seq(
      "graft.call_s" -> (perPass(_.seconds), "s"),
      "scheduler.jobs" -> (sum(_.jobs), "count"),
      "scheduler.stages" -> (sum(_.stages), "count"),
      "scheduler.tasks" -> (sum(_.tasks.toDouble), "count"),
      "scheduler.idle_core_s" -> (perPass(idle), "s"),
      "executor.run_s" -> (sum(_.runMs / 1e3), "s"),
      "executor.max_task_s" -> (sum(_.maxTaskMs / 1e3), "s"),
      "executor.cpu_s" -> (sum(_.cpuNs / 1e9), "s"),
      "executor.gc_s" -> (sum(_.gcMs / 1e3), "s"),
      "shuffle.write_mb" -> (sum(k => mb(k.shuffleWriteBytes)), "MB"),
      "shuffle.read_mb" -> (sum(k => mb(k.shuffleReadBytes)), "MB"),
      "shuffle.spill_mb" -> (sum(k => mb(k.spillBytes)), "MB"),
      "storage.residue_rdds" -> (median(traced.map(_.residue.toDouble)), "count"),
      "storage.residue_rdds_after_clear" -> (median(traced.map(_.residueAfterClear.toDouble)), "count"),
      "loop.rounds" -> (rounds, "count"),
      "loop.jobs_per_round" -> (if (rounds > 0) loopJobs / rounds else 0.0, "count"),
      "jvm.gc_s" -> (median(traced.map(_.jvmGcS)), "s"),
      "trace.overhead_s" -> (median(traced.map(_.wall)) - median(untracedWarm), "s"),
      "baseline.local1_wall_s" -> (local1.map(_.wall).getOrElse(Double.NaN), "s"))
  }

  /** Writes the run's result file and, for a traced run, its spans and
    * per-call records. */
  def write(endToEnd: collection.Map[String, (Double, String)]): Unit = {
    val dir = Paths.get(o.outDir)
    Files.createDirectories(dir)
    import Main.{metricsJson => metrics, num}
    val passJson = JArray((passes ++ local1).toList.map(p => JObject(
      "pass" -> JInt(p.id), "traced" -> JBool(p.traced), "local1" -> JBool(local1.contains(p)),
      "wall_s" -> num(p.wall),
      "jvm_gc_s" -> JDouble(p.jvmGcS), "residue_rdds" -> JInt(p.residue),
      "residue_rdds_after_clear" -> JInt(p.residueAfterClear),
      "requests" -> JInt(p.requests), "failed_requests" -> JInt(p.failedRequests),
      "failures" -> JArray(p.failures.toList.map(JString(_))))))
    var doc = JObject("stamp" -> stamp, "end_to_end" -> metrics(endToEnd), "passes" -> passJson)
    if (o.trace) {
      val t0 = tracer.spans.headOption.map(_.startNs).getOrElse(0L)
      doc = JObject(doc.obj ++ List(
        "per_layer" -> metrics(perLayer), "per_call" -> metrics(perCall),
        "spans" -> JArray(tracer.spans.toList.map(s => JObject(
          "id" -> JInt(s.id), "name" -> JString(s.name), "parent" -> JInt(s.parent),
          "pass" -> JInt(s.pass), "start_s" -> JDouble((s.startNs - t0) / 1e9),
          "end_s" -> JDouble((s.endNs - t0) / 1e9)))),
        "calls" -> JArray(tracer.calls.filter(_.counts.nonEmpty).toList.map(c => JObject(
          List("pass" -> JInt(c.pass), "call" -> JString(c.name),
            "plan_fingerprint" -> JString(c.planFingerprint),
            "residue_delta" -> JInt(c.residueDelta)) ++
          callMetrics(c).map { case (m, v, _) => m -> num(v) })))))
    }
    val name = s"${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json"
    Files.write(dir.resolve(name), pretty(render(doc)).getBytes(StandardCharsets.UTF_8))
  }
}

/** Tiny seeded run of every workload: each must pass its checks, and every
  * planted corruption of its outputs must make the checks fail. */
object SelfTest {
  def run(o: Main.Opts): Int = {
    val spark = Main.session(Main.Cores, o.workDir)
    val problems = mutable.ArrayBuffer.empty[String]
    Workload.names.foreach { name =>
      val w = Workload(name, tiny = true)
      val dir = s"${o.workDir}/selftest-$name"
      w.setup(spark, dir, o.seed)
      w.load(spark, dir, o.seed)
      val t = new Tracer(spark)
      t.setTracing(true)
      val (stat, result) = Main.runPass(spark, w, t, 0, dir)
      t.setTracing(false)
      if (stat.failed) problems ++= stat.failures.map(f => s"$name: $f")
      if (t.calls.isEmpty || t.calls.exists(_.counts.isEmpty)) problems += s"$name: calls not traced"
      println(s"selftest $name pass ok=${!stat.failed} wall_s=${stat.wall} calls=" +
        t.calls.map(c => s"${c.name}(jobs=${c.counts.map(_.jobs).getOrElse(-1)})").mkString(","))
      if (result != null) result.corruptions().foreach { case (what, fails) =>
        println(s"selftest $name corruption '$what' rejected=${fails.nonEmpty}")
        if (fails.isEmpty) problems += s"$name: check accepted a $what"
      }
    }
    Main.stopSession(spark)
    problems.foreach(p => System.err.println(s"[graftbench] SELFTEST FAILED: $p"))
    println(if (problems.isEmpty) "selftest ok" else s"selftest failed: ${problems.size} problems")
    if (problems.isEmpty) 0 else 1
  }
}
