package graft.iteration

import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/**
 * Jobs per loop call. A DataFrame loop pays a fixed driver and scheduler
 * cost per job, so the number of jobs a call launches on a fixed input
 * is part of its performance contract: these specs pin it, counting the
 * jobs of a job group put around the call and the read of its result.
 */
class LoopJobsSpec extends SparkSpec {

  /** Jobs launched by `body` (inside its own job group). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"loop-jobs-${System.nanoTime()}"
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

  private lazy val graph = {
    import spark.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L), (2L, 5L), (5L, 6L), (6L, 4L)).toDF("src", "dst")
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
}
