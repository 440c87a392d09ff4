package graft.iteration

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/**
 * Jobs per loop call. A DataFrame loop pays a fixed driver and scheduler
 * cost per job, so the number of jobs a call launches on a fixed input
 * is part of its performance contract: these specs pin it, counting the
 * jobs of a job group put around the call and the read of its result.
 */
class LoopJobsSpec extends SparkSpec {

  private def consume(df: DataFrame): Unit = {
    df.write.format("noop").mode("overwrite").save()
    df.unpersist(blocking = true)
  }

  test("materialize stores the frame and folds it in one job, in partition order") {
    import spark.implicits._
    val df = (1 to 100).toDF("x").repartition(4)
    var kept: DataFrame = null
    var order: List[Int] = Nil
    val jobs = jobsOf {
      val (k, firsts) = Loop.materialize(df.where($"x" > 0), checkpoint = false, List.empty[Int])(
        (acc, r) => if (acc.isEmpty) List(r.getInt(0)) else acc, _ ++ _)
      kept = k
      order = firsts
    }
    // the repartition's map stage, then the one job that stores and folds
    assert(jobs == 2, s"jobs = $jobs")
    assert(kept.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    // partials come back in partition-index order, whatever order the
    // tasks finished in
    val perPartition = kept.rdd.mapPartitions(it => it.take(1).map(_.getInt(0))).collect().toList
    assert(order == perPartition)
    assert(jobsOf(kept.count()) <= 2, "a count of the stored frame must read the cache")
    Loop.release(kept)
    assert(kept.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("materialize with checkpoint cuts lineage; release frees the checkpoint blocks") {
    import spark.implicits._
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (kept, n) = Loop.materialize((1 to 10).toDF("x").where($"x" % 2 === 0),
      checkpoint = true, 0L)((c, _) => c + 1, _ + _)
    assert(n == 5)
    assert(kept.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert((sc.getPersistentRDDs.keySet -- before).size == 1)
    assert(kept.as[Int].collect().sorted.toSeq == Seq(2, 4, 6, 8, 10))
    Loop.release(kept)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("ConnectedComponents star: jobs per call on a fixed 32-vertex chain") {
    import spark.implicits._
    val chain = (100L until 131L).map(i => (i, i + 1)).toDF("src", "dst")
    var rounds = 0
    val jobs = jobsOf {
      val cc = graft.dedup.ConnectedComponents.run(chain, driverEdgeLimit = 0)
      rounds = cc.rounds
      consume(cc.state)
    }
    assert(rounds == 6)
    // setup 2 (canonical-edge exchange, first checkpoint); per round 4
    // (two window exchanges, the distinct's, the checkpoint-and-signature
    // job); the final except check and the stored result 4; the
    // caller's read 1
    assert(jobs == 2 + 6 * 4 + 4 + 1, s"star CC launched $jobs jobs")
  }

  test("PageRank: jobs per call on a fixed 5-vertex graph, 3 rounds") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 5L)).toDF("src", "dst")
    val jobs = jobsOf(consume(graft.graph.PageRank.run(edges, numIter = 3).state))
    // setup 2 (node-table exchange, its store-and-count job); the share
    // table's 3 (two exchanges and its cache) in round 1; per round 4
    // (rank broadcast, contribution exchange and broadcast, the
    // store-and-dangling-mass job); the caller's read 1
    assert(jobs == 2 + 3 + 3 * 4 + 1, s"PageRank launched $jobs jobs")
  }

  test("personalized PageRank: jobs per call on a fixed 5-vertex graph, 3 rounds") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 5L)).toDF("src", "dst")
    val jobs = jobsOf(consume(
      graft.graph.PageRank.runPersonalized(edges, Seq(1L).toDF("id"), numIter = 3).state))
    // as for classic PageRank: setup 2 (the node table's exchange, its
    // store-and-count job, seeds included); the share table's 3 in round 1;
    // per round 4; the caller's read 1
    assert(jobs == 2 + 3 + 3 * 4 + 1, s"personalized PageRank launched $jobs jobs")
  }

  private lazy val graph = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 5L), (5L, 6L), (6L, 4L)).toDF("src", "dst")
  }

  test("ConnectedComponents minlabel: jobs per call on a fixed 6-vertex graph") {
    var rounds = 0
    val jobs = jobsOf {
      val cc = graft.dedup.ConnectedComponents.run(graph, driverEdgeLimit = 0, algorithm = "minlabel")
      rounds = cc.rounds
      consume(cc.state)
    }
    assert(rounds == 3)
    // per round 4 (three exchange and broadcast jobs, the store-and-count-
    // changed job) plus, in round 1, the 6 exchange jobs that fill the
    // edge, adjacency and label caches; the stored result 1; the caller's
    // read 1
    assert(jobs == 3 * 4 + 6 + 1 + 1, s"minlabel CC launched $jobs jobs")
  }

  test("LabelPropagation: jobs per call on a fixed 6-vertex graph, 3 rounds") {
    val jobs = jobsOf(consume(graft.graph.LabelPropagation.run(graph, numIter = 3).state))
    // setup 2 (node exchange, the label table's store-and-count job); per
    // round 5 (four exchange and broadcast jobs, the store-and-count-
    // changed job) plus the edge table's 2 in round 1; the stored result
    // 1; the caller's read 1 (34 when a separate join and count probed
    // each round)
    assert(jobs == 2 + 3 * 5 + 2 + 1 + 1, s"LabelPropagation launched $jobs jobs")
  }

  test("Hits: jobs per call on a fixed 6-vertex graph, 3 rounds, with and without tol") {
    val jobs = jobsOf(consume(graft.graph.Hits.run(graph, numIter = 3).state))
    // setup 2 (node exchange, its store-and-count job); per round two
    // half-steps of 3 and 4 exchange and broadcast jobs plus one
    // checkpoint-and-sum job each, and the two edge tables' 4 in round 1;
    // the result's join exchanges and store 4; the caller's read 1 (50
    // with a separate checkpoint and sum per half-step)
    assert(jobs == 2 + 3 * 9 + 4 + 4 + 1, s"Hits launched $jobs jobs")
    val tolJobs = jobsOf(consume(graft.graph.Hits.run(graph, numIter = 3, tol = 1e-12).state))
    // plus one hub-delta pass over the stored half-step in each round
    // but the last (56 with a join and aggregate per check)
    assert(tolJobs == jobs + 2, s"Hits with tol launched $tolJobs jobs")
  }

  test("Hits: jobs per call at the default 20 rounds") {
    val jobs = jobsOf(consume(graft.graph.Hits.run(graph).state))
    // as at 3 rounds: 9 per round and a fixed 11 per call. Carrying the
    // authority in the hub step's checkpoint instead of joining the last
    // two checkpoints saves the join's 4 jobs but adds one exchange to
    // every round after the first: 10N + 7 jobs, 37 at 3 rounds, 207 here
    assert(jobs == 2 + 20 * 9 + 4 + 4 + 1, s"Hits launched $jobs jobs")
  }

  test("Bfs: jobs per call on a fixed 10-hop chain") {
    import spark.implicits._
    val chain = (100L until 110L).map(i => (i, i + 1)).toDF("src", "dst")
    val jobs = jobsOf(consume(graft.graph.Bfs.run(chain, Seq(100L).toDF("id")).state))
    // the seed checkpoint 1; per frontier 4 (three exchange jobs, the
    // checkpoint-and-count job) for the 10 settled and the empty 11th,
    // plus the edge table's 3 in round 1; the stored result 1; the
    // caller's read 1 (59 with an emptiness probe per frontier)
    assert(jobs == 1 + 11 * 4 + 3 + 1 + 1, s"Bfs launched $jobs jobs")
  }

  private def swingJobs(df: DataFrame, minUserBehavior: Int, cap: Int): Int = jobsOf {
    val out = new graft.recommendation.Swing().setMinUserBehavior(minUserBehavior)
      .setMaxUserBehavior(10).setMaxUserNumPerItem(cap).setK(200).transform(df).head
    out.write.format("noop").mode("overwrite").save()
    Loop.release(out)
  }

  test("Swing: jobs per call when the cap binds (arrays path)") {
    // 30 users buy item 0, all qualify, cap 5
    val jobs = swingJobs(graft.recommendation.SwingSpec.bindingCap(spark), 2, 5)
    // the qualified table 2 (one hash(u) exchange serving the distinct
    // and the per-user window, the store-and-fold job); the hot-item
    // probe 2 (per-item count exchange, the limited collect); the capped
    // pair table 6 (two hot-set broadcasts, the two rank windows' and the
    // de-singling window's exchanges, the store job); the scoring plan 7
    // (the anchor self-join's broadcast, the pair exchange, both
    // item-array broadcasts, the score and rank exchanges, the stored
    // result); the caller's read 1 (35 when the probe and the
    // broadcast gate each re-read the behavior table and the plan rebuilt
    // the cap per side)
    assert(jobs == 2 + 2 + 6 + 7 + 1, s"Swing launched $jobs jobs")
  }

  test("Swing: jobs per call when an item is over the cap only through unqualified users") {
    // item 0 has 30 purchasers, 6 of them qualified, cap 8: the cap is idle
    val jobs = swingJobs(graft.recommendation.SwingSpec.qualifiedUnderCap(spark), 3, 8)
    // the qualified table 2; the hot-item probe 2, which finds no hot
    // item, so the flat path runs; the pair table 2 (the de-singling
    // window's exchange, the store job); the scoring plan 6 (three
    // broadcasts of the item and pair self-joins, the pair and score
    // exchanges, the stored result); the caller's read 1 (35 when raw
    // purchaser counts sent this input down the capped arrays path)
    assert(jobs == 2 + 2 + 2 + 6 + 1, s"Swing launched $jobs jobs")
  }

  /** 103 points with 3 features in 4 RDD partitions of 25, 26, 26 and 26
    * rows: reading the frame launches no job of its own. */
  private def linearFrame(label: (Double, Int) => Double): DataFrame = {
    import spark.implicits._
    val rows = (0 until 103).map { i =>
      val x = Array(math.sin(i), math.cos(i * 0.7), (i % 7) - 3.0)
      (org.apache.spark.ml.linalg.Vectors.dense(x), label(0.8 * x(0) - 1.2 * x(1) + 0.3 * x(2), i))
    }
    spark.sparkContext.parallelize(rows, 4).toDF("features", "label")
  }
  private val binaryLabel = (z: Double, i: Int) => if (z + 0.5 * math.sin(i * 13.0) > 0) 1.0 else 0.0
  private val realLabel = (z: Double, i: Int) => z + 0.1 * math.cos(i * 5.0)

  /** Jobs of one linear fit with `maxIter = 5` rounds (batches of 8, 8, 7
    * and 7 points, so every partition's batch window wraps once), and the
    * fitted coefficients. */
  private def linearFit(df: DataFrame)(
      fit: DataFrame => graft.api.Model[_]): (Int, Array[Double]) = {
    var model: graft.api.Model[_] = null
    val jobs = jobsOf { model = fit(df) }
    (jobs, graft.classification.LinearTraining.loadCoefficient(model.getModelData.head))
  }

  // SGD's reduce merges the partitions' partial gradients in task
  // completion order, so the last bit of a sum may differ between runs
  private def assertCoefficients(got: Array[Double], expected: Array[Double]): Unit =
    assert(got.length == expected.length && got.zip(expected).forall { case (g, e) =>
      math.abs(g - e) <= 1e-12 * math.max(1.0, math.abs(e))
    }, got.mkString(", "))

  test("LogisticRegression.fit: one job stores the points, then one job per SGD round") {
    val (jobs, coeff) = linearFit(linearFrame(binaryLabel)) { df =>
      new graft.classification.LogisticRegression().setMaxIter(5).setTol(0.0)
        .setGlobalBatchSize(30).setLearningRate(0.5).fit(df)
    }
    // 7 when the dimension was read by a first job over partition 0 and
    // the partition sizes by a second job over all of them
    assert(jobs == 1 + 5, s"LogisticRegression.fit launched $jobs jobs")
    assertCoefficients(coeff, Array(0.3419402216362519, -0.4593909270737392, 0.37396620048025553))
  }

  test("LinearSVC.fit: one job stores the points, then one job per SGD round") {
    val (jobs, coeff) = linearFit(linearFrame(binaryLabel)) { df =>
      new graft.classification.LinearSVC().setMaxIter(5).setTol(0.0)
        .setGlobalBatchSize(30).setLearningRate(0.5).fit(df)
    }
    assert(jobs == 1 + 5, s"LinearSVC.fit launched $jobs jobs")
    assertCoefficients(coeff, Array(0.5953060794840304, -0.765480665980122, 0.2064102564102564))
  }

  test("LinearRegression.fit: one job stores the points, then one job per SGD round") {
    val (jobs, coeff) = linearFit(linearFrame(realLabel)) { df =>
      new graft.regression.LinearRegression().setMaxIter(5).setTol(0.0)
        .setGlobalBatchSize(30).setLearningRate(0.5).fit(df)
    }
    assert(jobs == 1 + 5, s"LinearRegression.fit launched $jobs jobs")
    assertCoefficients(coeff, Array(0.5308505876669622, -0.8748114433127046, 0.19723509199664976))
  }
}
