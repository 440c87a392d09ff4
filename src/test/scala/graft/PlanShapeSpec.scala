package graft

import org.apache.spark.sql.functions._

/**
 * Plan-shape regression tests: the scale properties the operators
 * promise (column pruning reaching the scan, candidate joins staying
 * equi-joins, small sides broadcast) are asserted on the physical
 * plan so a refactor cannot silently reintroduce a scan-everything,
 * all-pairs, or shuffle-everything plan.
 */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("column pruning reaches the parquet scan through a transformer chain") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val assembled = new graft.feature.VectorAssembler()
      .setInputCols("l_quantity", "l_discount").setOutputCol("features")
      .setInputSizes(1, 1)
      .transform(li).head
      .select("features")
    val scan = assembled.queryExecution.executedPlan.toString
    // the 16-column table must be read as just the two assembled inputs
    assert(scan.contains("ReadSchema"), scan)
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.contains("l_quantity") && readSchema.contains("l_discount"), readSchema)
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment"),
      readSchema)
  }

  test("LSH similarity join is an equi-join on buckets, never a cartesian product") {
    import spark.implicits._
    val docs = Seq((1L, Seq(1, 2, 3)), (2L, Seq(1, 2, 4)), (3L, Seq(7, 8, 9)))
      .toDF("id", "idx")
      .select(col("id"), udf { idx: Seq[Int] =>
        org.apache.spark.ml.linalg.Vectors.sparse(100, idx.toArray, Array.fill(idx.size)(1.0))
      }.apply(col("idx")).as("vec"))
    val model = new graft.feature.MinHashLSH()
      .setInputCol("vec").setOutputCol("hashes").setNumHashTables(5).setSeed(1L)
      .fit(docs)
    val joined = model.approxSimilarityJoin(docs, docs, 0.5, "id")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("incremental indexers match batch vs index via equi-joins only") {
    import spark.implicits._
    def sv(idx: Seq[Int]) =
      org.apache.spark.ml.linalg.Vectors.sparse(100, idx.toArray, Array.fill(idx.size)(1.0))
    val corpus = Seq((1L, sv(Seq(1, 2, 3))), (2L, sv(Seq(7, 8, 9)))).toDF("id", "features")
    val batch = Seq((11L, sv(Seq(1, 2, 4)))).toDF("id", "features")
    val mh = new graft.dedup.MinHashIndexer()
      .setInputCol("features").setOutputCol("hashes").setNumHashTables(5).setSeed(1L)
      .fit(corpus).transform(batch).head
    val mhPlan = mh.queryExecution.executedPlan.toString
    assert(!mhPlan.contains("CartesianProduct") && !mhPlan.contains("BroadcastNestedLoopJoin"),
      mhPlan)

    val dense = Seq((1L, org.apache.spark.ml.linalg.Vectors.dense(1.0, 0.0)),
      (2L, org.apache.spark.ml.linalg.Vectors.dense(0.0, 1.0))).toDF("id", "vec")
    val dBatch = Seq((11L, org.apache.spark.ml.linalg.Vectors.dense(0.9, 0.1))).toDF("id", "vec")
    val cs = new graft.dedup.CosineIndexer()
      .setInputCol("vec").setNumHashTables(4).setNumPlanes(4).setSeed(1L)
      .fit(dense).transform(dBatch).head
    val csPlan = cs.queryExecution.executedPlan.toString
    assert(!csPlan.contains("CartesianProduct") && !csPlan.contains("BroadcastNestedLoopJoin"),
      csPlan)
  }

  test("NgramJaccardJoin generates candidates via equi-join only") {
    import spark.implicits._
    val df = Seq((1L, Seq("a b c", "b c d")), (2L, Seq("a b c", "x y z")))
      .toDF("doc_id", "shingles")
    val out = new graft.dedup.NgramJaccardJoin()
      .setIdCol("doc_id").setInputCol("shingles").setThreshold(0.3)
      .transform(df).head
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("Swing broadcasts the over-cap item set") {
    import spark.implicits._
    val rows = (0L until 30L).flatMap(u => Seq((u, 99L), (u, 100L + u % 5)))
    // Swing local-checkpoints its output, so the returned frame's plan is
    // a scan of the checkpoint: the plan under test is the one the
    // localCheckpoint action executed
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan.toString)
      def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      new graft.recommendation.Swing()
        .setMinUserBehavior(1).setMaxUserBehavior(10).setMaxUserNumPerItem(7)
        .transform(rows.toDF("user", "item")).head
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"expected one localCheckpoint plan, got ${plans.size}")
    val plan = plans.peek()
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  private def countExchanges(plan: String): Int =
    plan.linesIterator.count(l => l.contains("Exchange") && !l.contains("ReusedExchange"))

  test("in-row projections never shuffle: chunker, mixer, PII, repetition") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f", "s0"), (2L, "g h i", "s1")).toDF("id", "text", "src")
    val chunked = new graft.text.ChunkSplitter().setInputCol("text").setOutputCol("c")
      .setChunkSize(2).setStride(2).transform(docs).head
    assert(countExchanges(chunked.queryExecution.executedPlan.toString) == 0)
    val mixed = new graft.feature.WeightedMixer().setIdCol("id").setStratumCol("src")
      .setSeed(1L).setWeights("s0" -> 0.5).transform(docs).head
    assert(countExchanges(mixed.queryExecution.executedPlan.toString) == 0)
    val pii = new graft.text.PiiRedactor().setInputCol("text").setOutputCol("r")
      .transform(docs).head
    assert(countExchanges(pii.queryExecution.executedPlan.toString) == 0)
    val rep = new graft.text.RepetitionStats().setInputCol("text").transform(docs).head
    assert(countExchanges(rep.queryExecution.executedPlan.toString) == 0)
  }

  test("SequencePacker's plan carries exactly one shuffle before the output join") {
    import spark.implicits._
    val docs = Seq((1L, "a b c", "s0"), (2L, "d e", "s0")).toDF("id", "text", "src")
    val packed = new graft.text.SequencePacker().setInputCol("text").setIdCol("id")
      .setGroupCol("src").setTokenBudget(4).transform(docs).head
    val plan = packed.queryExecution.executedPlan.toString
    // one repartition for the pack scan; the id join back may add its
    // own exchanges but must never be a cartesian product
    assert(plan.contains("Exchange"), plan)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("Sessionizer assigns sessions through exactly one exchange") {
    import spark.implicits._
    val ev = Seq((1L, 100L), (1L, 200L), (1L, 900L), (2L, 100L)).toDF("user", "ts")
    val out = new graft.streaming.Sessionizer()
      .setKeyCols("user").setTimeCol("ts").setGapMs(300L)
      .transform(ev).head
    val plan = out.queryExecution.executedPlan.toString
    // lag + both running windows share one (key) partitioning and sort
    assert(countExchanges(plan) == 1, plan)
  }

  test("AsOfJoiner is one exchange over the tagged union, with no join node") {
    import spark.implicits._
    val l = Seq((1L, 100L, "a"), (1L, 250L, "b")).toDF("k", "ts", "x")
    val r = Seq((1L, 90L, 5.0), (1L, 240L, 7.0)).toDF("k", "rts", "v")
      .withColumnRenamed("rts", "ts")
    val out = new graft.join.AsOfJoiner()
      .setOnCols("k").setValueCols("v")
      .transform(l, r).head
    val plan = out.queryExecution.executedPlan.toString
    assert(countExchanges(plan) == 1, plan)
    assert(!plan.contains("Join"), plan)
  }

  test("ScalarQuantizer encodes in-row after fit (no shuffle in transform)") {
    import spark.implicits._
    val df = Seq((1L, Array(0.1f, 0.5f)), (2L, Array(0.9f, 0.2f))).toDF("id", "emb")
    val model = new graft.ann.ScalarQuantizer().setInputCol("emb").setOutputCol("q").fit(df)
    val out = model.transform(df).head
    assert(countExchanges(out.queryExecution.executedPlan.toString) == 0)
  }

  test("cross-modal dedup unions banded equi-joins only — never a cartesian") {
    import spark.implicits._
    val df = Seq((0L, 0x7L, 0x1L), (1L, 0x7L, 0xFF00L), (2L, 0xF0F0L, 0xFF01L))
      .toDF("id", "img_fp", "text_fp")
    val out = graft.dedup.HammingJoin.clusterComponentsMulti(df, "id",
      Seq(("image", "img_fp", 3, 4), ("text", "text_fp", 3, 4)))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("label propagation's result plan carries no cartesian / nested-loop join") {
    import spark.implicits._
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = graft.graph.LabelPropagation.run(edges, numIter = 2).state
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    out.unpersist()
  }
}
