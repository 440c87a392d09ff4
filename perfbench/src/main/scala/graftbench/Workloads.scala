package graftbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one pass left behind: its outputs, checked and released after the
  * pass's clock has stopped. */
trait PassResult {
  /** Failed correctness checks; empty when the pass is correct. */
  def failures(): Seq[String]
  /** Drops the caches the returned outputs still hold. */
  def release(): Unit = ()
  /** Single-row requests served inside the pass, and how many were wrong. */
  def requests: Int = 0
  def failedRequests: Int = 0
  def latenciesNs: Array[Long] = Array.emptyLongArray
  /** Self-test only: each named corruption of the outputs, with the
    * failures the checks report for it (must not be empty). */
  def corruptions(): Seq[(String, Seq[String])] = Nil
}

/** A seeded workload. The benchmark generates its inputs, and the program
  * sees only the tables read back from parquet. */
trait Workload {
  def name: String
  /** Writes the seeded inputs under `dir` (the timed set-up). */
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  /** Binds the inputs to `spark`; computes the references on first use. */
  def load(spark: SparkSession, dir: String, seed: Long): Unit
  /** Input rows one pass reads. */
  def inputRows: Long
  def pass(spark: SparkSession, t: Tracer, passId: Int, dir: String): PassResult
}

object Workload {
  /** Forces `df` through the noop sink. */
  def sink(df: DataFrame): DataFrame = {
    df.write.format("noop").mode("overwrite").save()
    df
  }

  /** Full size (the benchmark) or tiny (the self-test). */
  def apply(name: String, tiny: Boolean): Workload = name match {
    case "graph_loops" =>
      if (tiny) new GraphLoops(chainVertices = 2000, hubSources = 3000)
      else new GraphLoops(chainVertices = 20000, hubSources = 20000)
    case "swing_recs" =>
      // both sizes lower the purchaser cap below the hottest items'
      // purchaser counts, so the capped (arrays) path and its ranking run
      if (tiny) new SwingRecs(rows = 8000, users = 300, items = 400, cap = 40)
      else new SwingRecs(rows = 12000, users = 1500, items = 2000, cap = 400)
    case "pipeline_lifecycle" =>
      if (tiny) new PipelineLifecycle(rows = 5000, served = 500, maxIter = 5)
      else new PipelineLifecycle(rows = 100000, served = 20000, maxIter = 10)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val names: Seq[String] = Seq("graph_loops", "swing_recs", "pipeline_lifecycle")
}

/** Loop-heavy graph calls on two seeded edge tables: planted 5-vertex
  * chains for connected components, and a hub graph (every source links to
  * one of 1000 hubs) for PageRank. */
final class GraphLoops(chainVertices: Long, hubSources: Long) extends Workload {
  import Workload.sink
  val name = "graph_loops"
  private var chains: DataFrame = _
  private var hubs: DataFrame = _
  private var rows = 0L
  private var wantCC: Map[Long, Long] = _
  private var wantPR: Map[Long, Seq[Double]] = _

  // chain position p holds vertex (a·p + seed) mod n, a bijection because
  // gcd(a, n) = 1; chain c is positions 5c .. 5c+4
  private def multiplier(seed: Long): Long = {
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    Iterator.from(0).map(k => 7919L + 2 * (math.abs(seed) % 1000) + k)
      .find(a => gcd(a, chainVertices) == 1).get
  }
  private def vertex(p: Long, a: Long, seed: Long): Long =
    Math.floorMod(a * p + seed, chainVertices)

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    val a = multiplier(seed)
    val v = (p: Column) => pmod(p * lit(a) + lit(seed), lit(chainVertices))
    spark.range(0, chainVertices, 1, 4).where(col("id") % 5 =!= 0)
      .select(v(col("id")).as("src"), v(col("id") - 1).as("dst"))
      .write.mode("overwrite").parquet(s"$dir/chains")
    spark.range(0, hubSources, 1, 4).where(col("id") % 7 =!= 0)
      .select(col("id").as("src"), pmod(col("id") * 31 + lit(seed), lit(1000L)).as("dst"))
      .write.mode("overwrite").parquet(s"$dir/hubs")
  }

  def load(spark: SparkSession, dir: String, seed: Long): Unit = {
    chains = spark.read.parquet(s"$dir/chains")
    hubs = spark.read.parquet(s"$dir/hubs")
    if (wantCC != null) return
    val a = multiplier(seed)
    wantCC = (0L until chainVertices by 5).iterator.flatMap { c =>
      val ids = (0 until 5).map(k => vertex(c + k, a, seed))
      ids.map(_ -> ids.min)
    }.toMap
    val hubEdges = hubs.collect().map(r => (r.getLong(0), r.getLong(1)))
    rows = chains.count() + hubEdges.length
    wantPR = Reference.pageRank(Reference.graph(hubEdges), 0.85, 3).map { case (k, r) => k -> Seq(r) }
  }

  def inputRows: Long = rows

  def pass(spark: SparkSession, t: Tracer, passId: Int, dir: String): PassResult = {
    import graft.dedup.ConnectedComponents
    import graft.graph.PageRank
    val cc = t.call("dedup.cc_star") {
      sink(ConnectedComponents.run(chains, "src", "dst", maxIter = 50, driverEdgeLimit = 0L))
    }
    val pr = t.call("graph.pagerank", rounds = 3) {
      sink(PageRank.run(hubs, "src", "dst", dampingFactor = 0.85, numIter = 3))
    }

    new PassResult {
      private lazy val got = (cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap,
        pr.collect().map(r => r.getLong(0) -> Seq(r.getDouble(1))).toMap)
      private def check(star: Map[Long, Long], pageRank: Map[Long, Seq[Double]]): Seq[String] =
        Reference.exact("cc_star", star, wantCC) ++
          Reference.within("pagerank", pageRank, wantPR, 1e-9)
      def failures(): Seq[String] = check(got._1, got._2)
      override def release(): Unit = Seq(cc, pr).foreach(_.unpersist(blocking = false))
      override def corruptions(): Seq[(String, Seq[String])] = {
        val u = wantCC.keys.head
        val v = wantCC.collectFirst { case (x, c) if c != wantCC(u) => x }.get
        val swapped = got._1 + (u -> got._1(v)) + (v -> got._1(u))
        val k = got._2.keys.head
        val perturbed = got._2 + (k -> got._2(k).map(_ + 1e-6))
        Seq("swapped CC label" -> check(swapped, got._2),
          "perturbed PageRank score" -> check(got._1, perturbed))
      }
    }
  }
}

/** Swing item-item recommendations on a seeded user-item behavior table
  * with Zipf-like item popularity, so the hottest items exceed the
  * operator's purchaser cap. */
final class SwingRecs(rows: Long, users: Long, items: Long, cap: Int) extends Workload {
  import Workload.sink
  val name = "swing_recs"
  private val k = 10
  private val sampleSize = 24
  private var behavior: DataFrame = _
  private var want: Map[Long, Map[Long, Double]] = _

  private def swing = new graft.recommendation.Swing().setK(k).setMaxUserNumPerItem(cap)

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    // popularity rank r has probability ln((r+2)/(r+1)) / ln(items+1),
    // close to 1/(r+1.5); ranks map to item ids through a bijection
    // (7919 is prime and does not divide `items`)
    val rank = floor(exp(rand(seed * 2 + 1) * math.log(items + 1.0))).cast("long") - 1
    spark.range(0, rows, 1, 4)
      .select(floor(rand(seed * 2) * users).cast("long").as("user"),
        pmod(rank * 7919L + lit(seed), lit(items)).as("item"))
      .write.mode("overwrite").parquet(s"$dir/behavior")
  }

  def load(spark: SparkSession, dir: String, seed: Long): Unit = {
    behavior = spark.read.parquet(s"$dir/behavior")
    if (want != null) return
    val s = swing
    val ref = new Reference.Swing(behavior.collect().map(r => (r.getLong(0), r.getLong(1))),
      s.getMinUserBehavior, s.getMaxUserBehavior, s.getMaxUserNumPerItem,
      s.getAlpha1, s.getAlpha2, s.getBeta, s.getSeed)
    val sample = ref.hottest +: new scala.util.Random(seed).shuffle(ref.items).take(sampleSize - 1)
    want = sample.distinct.map(i => i -> ref.scores(i)).toMap
  }

  def inputRows: Long = rows

  def pass(spark: SparkSession, t: Tracer, passId: Int, dir: String): PassResult = {
    val s = swing
    val out = t.call("recommendation.swing") { sink(s.transform(behavior).head) }
    new PassResult {
      private lazy val got: Map[Long, Seq[(Long, Double)]] =
        out.where(col(s.getItemCol).isin(want.keys.toSeq: _*)).collect().map { r =>
          r.getLong(0) -> r.getString(1).split(";").toSeq.map { e =>
            val Array(sim, score) = e.split(",")
            (sim.toLong, score.toDouble)
          }
        }.toMap
      private def check(g: Map[Long, Seq[(Long, Double)]]) = Reference.topKMatches(g, want, k, 1e-6)
      def failures(): Seq[String] = check(got)
      override def corruptions(): Seq[(String, Seq[String])] = {
        val (i, list) = got.find(_._2.nonEmpty).get
        Seq("dropped Swing neighbour" -> check(got + (i -> list.tail)))
      }
    }
  }
}

/** Fit, save, load and score a three-stage pipeline, then serve the loaded
  * model through the Spark-free servables, one row per request. */
final class PipelineLifecycle(rows: Long, served: Int, maxIter: Int) extends Workload {
  import Workload.sink
  import graft.api.{Pipeline, PipelineModel}
  import graft.classification.{LogisticRegression, LogisticRegressionModel}
  import graft.feature.{StandardScaler, StandardScalerModel, VectorAssembler}
  import graft.servable._
  val name = "pipeline_lifecycle"
  private val dims = 8
  private val featureCols = (0 until dims).map(j => s"f$j")
  private var table: DataFrame = _
  private var requestRows: Array[Array[Double]] = _

  def setup(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val w = Array.fill(dims)(rnd.nextGaussian())
    val margin = featureCols.zip(w).map { case (c, wj) => col(c) * wj }.reduce(_ + _)
    spark.range(0, rows, 1, 4)
      .select(col("id") +: featureCols.zipWithIndex.map { case (c, j) => randn(seed * 16 + j).as(c) }: _*)
      .withColumn("label",
        (rand(seed * 16 + dims) < lit(1.0) / (lit(1.0) + exp(-margin))).cast("double"))
      .write.mode("overwrite").parquet(s"$dir/points")
  }

  def load(spark: SparkSession, dir: String, seed: Long): Unit = {
    table = spark.read.parquet(s"$dir/points")
    if (requestRows == null)
      requestRows = table.where(col("id") < served).orderBy("id").select(featureCols.map(col): _*)
        .collect().map(r => Array.tabulate(dims)(r.getDouble))
  }

  def inputRows: Long = rows

  private def modelData(m: PipelineModel): Seq[Seq[Double]] = {
    val scaler = m.stages(1).asInstanceOf[StandardScalerModel].getModelData.head
      .select("mean", "std").head()
    val lr = m.stages(2).asInstanceOf[LogisticRegressionModel].getModelData.head
      .select("coefficient").head()
    Seq(scaler.getAs[Vector](0).toArray.toSeq, scaler.getAs[Vector](1).toArray.toSeq,
      lr.getAs[Vector](0).toArray.toSeq)
  }

  def pass(spark: SparkSession, t: Tracer, passId: Int, dir: String): PassResult = {
    val pipeline = new Pipeline(Seq(
      new VectorAssembler().setInputCols(featureCols: _*).setOutputCol("features"),
      new StandardScaler().setInputCol("features").setOutputCol("scaled"),
      new LogisticRegression().setFeaturesCol("scaled").setLabelCol("label")
        .setMaxIter(maxIter).setGlobalBatchSize(rows.toInt).setTol(0.0)))
    val fitted = t.call("api.fit", rounds = maxIter) { pipeline.fit(table) }
    val path = s"$dir/model-$passId"
    t.call("api.save") { fitted.save(path) }
    val loaded = t.call("api.load") { PipelineModel.load(spark, path) }
    t.call("api.transform") { sink(loaded.transform(table).head) }
    val servable = t.call("servable.export") {
      val scalerModel = loaded.stages(1).asInstanceOf[StandardScalerModel]
      val scalerJson = new ByteArrayOutputStream()
      ServableExport.exportStandardScaler(scalerModel.getModelData.head, scalerJson)
      val lrJson = new ByteArrayOutputStream()
      ServableExport.exportLinearModel(
        loaded.stages(2).asInstanceOf[LogisticRegressionModel].getModelData.head, lrJson)
      val scaler = new StandardScalerModelServable().setInputCol("features").setOutputCol("scaled")
        .setModelData(new ByteArrayInputStream(scalerJson.toByteArray))
      scaler.withMean = scalerModel.getWithMean
      scaler.withStd = scalerModel.getWithStd
      val lr = new LogisticRegressionModelServable().setFeaturesCol("scaled")
        .setModelData(new ByteArrayInputStream(lrJson.toByteArray))
      new PipelineModelServable(Seq(scaler, lr))
    }
    // closed loop, one client: each request is one row, sent after the
    // previous reply
    val latencyNs = new Array[Long](served)
    val answers = new Array[(Double, Double)](served)
    t.call("servable.transform") {
      var k = 0
      while (k < served) {
        val t0 = System.nanoTime()
        val out = servable.transform(LocalDataFrame(Seq("features"), Seq(Seq(requestRows(k)))))
        val p = out.column("prediction").head.asInstanceOf[Double]
        val raw = out.column("rawPrediction").head.asInstanceOf[Array[Double]]
        latencyNs(k) = System.nanoTime() - t0
        answers(k) = (p, raw(1))
        k += 1
      }
    }

    new PassResult {
      private lazy val sparkAnswers: Array[(Double, Double)] =
        loaded.transform(table.where(col("id") < served)).head.orderBy("id")
          .select("prediction", "rawPrediction").collect()
          .map(r => (r.getDouble(0), r.getAs[Vector](1)(1)))
      private def wrong(a: Array[(Double, Double)]): Seq[Int] = a.indices.filter { k =>
        val (p, prob) = a(k)
        p != sparkAnswers(k)._1 || !(math.abs(prob - sparkAnswers(k)._2) <= 1e-9)
      }
      private lazy val wrongNow = wrong(answers)
      def failures(): Seq[String] = {
        val (f, l) = (modelData(fitted), modelData(loaded))
        (if (f == l) Nil else Seq(s"loaded model data $l differs from fitted $f")) ++
          (if (sparkAnswers.length != served) Seq(s"spark scored ${sparkAnswers.length} of $served rows")
           else wrongNow.take(3).map(k => s"request $k served ${answers(k)}, spark ${sparkAnswers(k)}"))
      }
      override def requests: Int = served
      override def latenciesNs: Array[Long] = latencyNs
      override def failedRequests: Int = if (sparkAnswers.length != served) served else wrongNow.size
      override def release(): Unit = {
        val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
      }
      override def corruptions(): Seq[(String, Seq[String])] = {
        val flipped = answers.clone()
        flipped(0) = (1.0 - flipped(0)._1, flipped(0)._2)
        Seq("servable/Spark prediction mismatch" -> wrong(flipped).map(k => s"request $k"))
      }
    }
  }
}
