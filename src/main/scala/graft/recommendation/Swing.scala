package graft.recommendation

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.api.{AlgoOperator, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Swing item-recall: items i and j are similar when many user pairs
 * (u, v) bought both, weighted down by how active u and v are and by
 * how much else they share:
 *   w(i,j) = Σ_{u,v ∈ U_i∩U_j} 1/(α₁+|I_u|)^β · 1/(α₁+|I_v|)^β · 1/(α₂+|I_u∩I_v|)
 * Output per item: "sim,score;sim,score;…" — top-k by score, exactly
 * the reference's packed format.
 * Reference: recommendation/swing/Swing.java:89 (semantics),
 * :304-345 (per-item pair loop), :403-420 (purchaser cap),
 * SwingParams.java:44-96 (defaults).
 *
 * Scale shape (100 TB design): the reference keys by item and loops
 * user pairs in operator state; here every step is a shuffle-parallel
 * DataFrame op. The key reformulation: the intersection I_u∩I_v is
 * itself the co-purchase relation — user pair (u,v) shares item x iff
 * the item self-join emits (u,v,x). So instead of shipping each
 * user's full item array through the pair shuffle and walking a
 * per-row intersection UDF (O(pairs·|I_u|) bytes), the join carries
 * only flat (u1,u2,x) ids and the intersection SIZE per pair comes
 * from one count aggregation — never a materialized list. The
 * anchor×sim expansion (every capped-in shared item i scored against
 * every shared item x) is a second self-join of the co-purchase
 * relation on (u1,u2): rows stream through sort-merge join and
 * whole-stage codegen with zero per-pair array buffers. (The round-6
 * formulation rebuilt each pair's intersection as a
 * collect_list(struct) and exploded it twice; correct and compact at
 * 8 GiB heaps, but 8.5 M aggregation list buffers made it uniquely
 * GC-bound on big heaps — 9.3 s at 8 g vs 47.2 s at 90 g, the
 * executor shape a real deployment uses. The flat self-join form
 * reduced the allocation profile, but the decisive round-7 finding
 * is the COLLECTOR: on 90 GiB heaps G1 stays unstable for this
 * shuffle/sort profile (warm 12–61 s across identical runs —
 * humongous-allocation storms from ≥16 MB Spark task pages against
 * 32 MB G1 regions, 9.3 s max pause), while ParallelGC and ZGC run
 * 7.3–9.2 s, at or below the 8 GiB numbers. Deploy large executors
 * of this engine on a throughput collector; graft.Bench pins and
 * records exactly that.) Everything stays in
 * whole-stage codegen; there is no UDF on the hot path. The
 * maxUserNumPerItem cap bounds the quadratic pair blow-up per hot
 * item; it is applied as a deterministic hash-ranked top-N of each
 * item's QUALIFIED purchasers (the reference uses seed-dependent
 * reservoir sampling over arrival order, which is equally arbitrary
 * but not reproducible across shuffles). An item is hot when it has
 * more than maxUserNumPerItem qualified purchasers: one with more raw
 * purchasers but at most N qualified ones keeps all of them anyway.
 * When no item is hot the cap machinery (broadcast left-join + two
 * salted rank windows) is skipped entirely, so an idle cap costs
 * nothing.
 *
 * Two pair-enumeration strategies (param `pairStrategy`, default
 * auto): long-tail catalogs use the flat co-purchase self-join +
 * count aggregation; once any item has more than maxUserNumPerItem
 * qualified purchasers, auto switches to the reference's own bounded
 * shape — candidate pairs from the capped purchaser lists, per-pair
 * array_intersect of the two users' ≤ maxUserBehavior item arrays —
 * because the flat self-join is quadratic in the hottest item's
 * degree no matter the cap. Both paths produce identical scores
 * (equivalence-tested); the Zipfian ScaleUp stage measures the arrays
 * path at 100×.
 *
 * Stored tables and jobs. A call stores (with `Loop.materialize`, one
 * job each, on top of the exchanges their plans need) and releases
 * before it returns:
 *  - `qualified(u, i, cnt)`: the distinct purchases of users whose
 *    distinct-item count is in [minUserBehavior, maxUserBehavior]. The
 *    input is scanned, de-duplicated and counted once; the hot-item
 *    probe, the cap, the per-user item arrays and the broadcast gate
 *    all read it, and its store job folds the gate's inputs.
 *  - the pair table: the strategy's purchaser rows minus single-
 *    purchaser items (the flat path's `paired`, the arrays path's
 *    `capped`), read by every side of the strategy's self-joins.
 * Then one probe job collects the hot set, and the scoring plan runs
 * as one store job (`Loop.keep`). Measured with
 * `LoopJobsSpec`'s job counter on its small fixtures: 13 jobs on the
 * flat path and 18 on the capped arrays path, reading the result
 * included (35 for either before the qualified table existed); the
 * `swing_recs` benchmark call is 15 (35).
 *
 * Scale notes from sf0.1 (the `q_swing` query: 598,789 capped
 * purchase rows fanning out to 8,961,888 co-purchase rows, 8.5 M
 * distinct user pairs, intersection avg 1.05, max 5, 9.8 M score
 * contributions): that Σ|U_i|² pair fan-out IS Swing's definition,
 * and every shuffled row carries only ids + one double, ~40 B. The
 * co-purchase stream is shuffled once on the pair key: a window
 * count annotates each row with its intersection size in place.
 * Wall-clock figures measured there (local[32], before the stored
 * tables) no longer describe this plan; `graft.Bench q_swing`
 * re-measures it.
 */
class Swing extends AlgoOperator[Swing]
    with HasOutputCol[Swing] with HasSeed[Swing] {

  // driver-collect guard for the hot-item set; tests shrink it to make
  // the degenerate-cap failure reachable on small fixtures
  private[recommendation] var hotItemsGuard: Int = Swing.MaxHotItems

  final val userCol: Param[String] = param[String]("userCol", "User column name.", "user")
  final val itemCol: Param[String] = param[String]("itemCol", "Item column name.", "item")
  final val k: Param[Int] =
    param[Int]("k", "The max number of similar items to output for each item.", 100,
      ParamValidators.gt(0))
  final val maxUserNumPerItem: Param[Int] =
    param[Int]("maxUserNumPerItem", "The max number of users used by each item.", 1000,
      ParamValidators.gt(0))
  final val minUserBehavior: Param[Int] =
    param[Int]("minUserBehavior", "The min number of items a user must interact with.", 10,
      ParamValidators.gt(0))
  final val maxUserBehavior: Param[Int] =
    param[Int]("maxUserBehavior", "The max number of items a user may interact with.", 1000,
      ParamValidators.gt(0))
  final val alpha1: Param[Int] =
    param[Int]("alpha1", "Smooth factor for the per-user weight.", 15, ParamValidators.gtEq(0))
  final val alpha2: Param[Int] =
    param[Int]("alpha2", "Smooth factor for the pair intersection size.", 0, ParamValidators.gtEq(0))
  final val beta: Param[Double] =
    param[Double]("beta", "Decay factor for the per-user weight.", 0.3, ParamValidators.gtEq(0))
  final val pairStrategy: Param[String] =
    param[String]("pairStrategy",
      "How user-pair intersections are computed. 'flat': item self-join + " +
        "count aggregation — optimal for long-tail catalogs (small per-item " +
        "degree), but the self-join is quadratic in the HOTTEST item's " +
        "purchaser count, cap or no cap. 'arrays': candidate pairs come only " +
        "from the CAPPED per-item purchaser lists and each pair intersects " +
        "the two users' bounded (<= maxUserBehavior) item arrays — the " +
        "reference's own shape, bounded by items*cap^2 pairs regardless of " +
        "skew. 'auto' (default): arrays when any item has more than " +
        "maxUserNumPerItem qualified purchasers (users within the " +
        "behavior range), flat otherwise.", "auto",
      ParamValidators.inArray("auto", "flat", "arrays"))
  def setPairStrategy(v: String): Swing = set(pairStrategy, v)
  def getPairStrategy: String = get(pairStrategy)

  def setUserCol(v: String): Swing = set(userCol, v)
  def setItemCol(v: String): Swing = set(itemCol, v)
  def setK(v: Int): Swing = set(k, v)
  def setMaxUserNumPerItem(v: Int): Swing = set(maxUserNumPerItem, v)
  def setMinUserBehavior(v: Int): Swing = set(minUserBehavior, v)
  def setMaxUserBehavior(v: Int): Swing = set(maxUserBehavior, v)
  def setAlpha1(v: Int): Swing = set(alpha1, v)
  def setAlpha2(v: Int): Swing = set(alpha2, v)
  def setBeta(v: Double): Swing = set(beta, v)
  def getUserCol: String = get(userCol)
  def getItemCol: String = get(itemCol)
  def getK: Int = get(k)
  def getMaxUserNumPerItem: Int = get(maxUserNumPerItem)
  def getMinUserBehavior: Int = get(minUserBehavior)
  def getMaxUserBehavior: Int = get(maxUserBehavior)
  def getAlpha1: Int = get(alpha1)
  def getAlpha2: Int = get(alpha2)
  def getBeta: Double = get(beta)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head
    if (df.schema(getUserCol).dataType != LongType || df.schema(getItemCol).dataType != LongType)
      throw new IllegalArgumentException("The types of user and item must be Long.")
    if (getMaxUserBehavior < getMinUserBehavior)
      throw new IllegalArgumentException(
        s"The maxUserBehavior must be greater than or equal to minUserBehavior. " +
          s"The current setting: maxUserBehavior=$getMaxUserBehavior, minUserBehavior=$getMinUserBehavior.")

    Loop.scoped(stored => Array(topK(df, stored)))
  }

  /** The packed top-k table, stored by `Loop.keep`; every table it
    * stores is registered with `stored`. */
  private def topK(df: DataFrame, stored: Loop.Stored): DataFrame = {
    val notNull = (c: String) => when(col(c).isNull,
      raise_error(lit("Data of user and item column must not be null."))).otherwise(col(c))
    // qualified(u, i, cnt): the distinct purchases of every user whose
    // distinct-item count cnt lies in [minUserBehavior, maxUserBehavior].
    // Every later step reads this one stored table (the hot-item probe,
    // the cap, both pair strategies, the per-user item arrays), so the
    // input scan, the distinct and the per-user count each run once per
    // call. One hash(u) exchange ahead of the distinct serves both the
    // distinct and the per-user window, and keeps the table
    // hash-partitioned on u. The store job also folds a histogram
    // cnt -> rows: Σcnt (the rows) and the user count (Σ rows/cnt, exact:
    // a user of count c owns c rows) are the arrays path's broadcast-gate
    // inputs.
    val (qualified, perCnt) = Loop.materialize(
      df.select(notNull(getUserCol).as("u"), notNull(getItemCol).as("i"))
        .repartition(col("u")).distinct()
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy("u")))
        .where(col("cnt").between(getMinUserBehavior, getMaxUserBehavior)),
      checkpoint = false, Map.empty[Long, Long])(
      (m, r) => m.updated(r.getLong(2), m.getOrElse(r.getLong(2), 0L) + 1L),
      (a, b) => b.foldLeft(a) { case (m, (c, n)) => m.updated(c, m.getOrElse(c, 0L) + n) })
    stored(qualified)

    // purchasers of a hot item capped to a deterministic hash-ranked
    // top-N. Items at or under the cap — the overwhelming majority at
    // any scale — bypass capping entirely (no sort at all); only
    // over-cap items go through a TWO-phase rank so no task ever
    // sorts an uncapped hot item's purchaser list: (1) rank within
    // (item, salt) keeping N per salt, (2) re-rank the ≤ Salts·N
    // survivors. The global top-N under the (hash, u) total order is
    // contained in the union of per-salt top-Ns, and under-cap items
    // keep every purchaser, so the selected set is identical to a
    // single-phase global rank. Instead of filtering, rows get an
    // `inCap` flag: capped-out purchasers still contribute their
    // co-purchases to intersection SIZE and SIM lists (the reference
    // intersects the users' full item lists) — only the anchor item
    // of a contribution must have both users capped-in.
    // An item is hot when it has more than maxUserNumPerItem QUALIFIED
    // purchasers: the cap ranks qualified purchasers only, so an item
    // whose raw purchaser count exceeds the cap only through users
    // outside the behavior range keeps all of them either way. One
    // probe job over the stored table collects the hot set (the
    // broadcast build side of the cap join, so it ships no bytes the
    // join would not). When it is empty the cap apparatus (broadcast
    // left-join + two rank windows + three-way union) is dropped from
    // the plan and `auto` picks the flat strategy, whose self-join then
    // emits at most cap² pairs per item: an idle knob must cost
    // nothing. The collect is bounded by construction (hot items ≤
    // Σcnt/cap), EXCEPT under a degenerate cap (e.g. 1) on a huge
    // catalog where "hot" is every item: the limit bounds the collect
    // itself, and reaching it aborts before the driver materializes an
    // unbroadcastable set.
    val hotRows = qualified.groupBy("i").agg(count(lit(1)).as("icnt"))
      .where(col("icnt") > getMaxUserNumPerItem)
      .select(col("i")).limit(hotItemsGuard + 1).collect()
    require(hotRows.length <= hotItemsGuard,
      s"Swing: more than $hotItemsGuard items exceed maxUserNumPerItem=" +
        s"$getMaxUserNumPerItem — the cap is degenerate for this catalog " +
        "(nearly every item is 'hot'); raise maxUserNumPerItem")
    val hotItemIds = hotRows.map(_.getLong(0))
    val capEngaged = hotItemIds.nonEmpty
    val flagged = if (!capEngaged) {
      qualified.withColumn("inCap", lit(true))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val hotItems = hotItemIds.toSeq.toDF("i").withColumn("icnt", lit(1L))
      val slim = qualified.join(broadcast(hotItems), Seq("i"), "left")
      val under = slim.where(col("icnt").isNull).drop("icnt")
        .withColumn("inCap", lit(true))
      val over = slim.where(col("icnt").isNotNull).drop("icnt")
      val rankKey = xxhash64(col("u"), lit(getSeed))
      val w1 = Window.partitionBy("i", "salt").orderBy(rankKey, col("u"))
      val phase1 = over.withColumn("salt", pmod(xxhash64(col("u")), lit(Swing.CapSalts)))
        .withColumn("rn", row_number().over(w1))
      // dropped in phase 1 ⇒ >N predecessors within the salt ⇒ >N globally
      val phase1Out = phase1.where(col("rn") > getMaxUserNumPerItem)
        .drop("rn", "salt").withColumn("inCap", lit(false))
      val w2 = Window.partitionBy("i").orderBy(rankKey, col("u"))
      val phase2 = phase1.where(col("rn") <= getMaxUserNumPerItem).drop("rn", "salt")
        .withColumn("inCap", row_number().over(w2) <= getMaxUserNumPerItem)
      under.unionByName(phase1Out).unionByName(phase2)
    }

    val a1 = getAlpha1; val a2 = getAlpha2; val bt = getBeta
    // per-pair weight factor 1/(α₁+|I_u|)^β · 1/(α₁+|I_v|)^β from the
    // two users' qualifying-item counts
    def pairWeight(c1: org.apache.spark.sql.Column, c2: org.apache.spark.sql.Column) =
      (lit(1.0) / pow(lit(a1) + c1, lit(bt))) * (lit(1.0) / pow(lit(a1) + c2, lit(bt)))

    // an item with a single qualifying purchaser cannot be shared by
    // any user pair — it produces no co-purchase row and no sim
    // contribution — so drop it BEFORE the pair self-join (A/B at
    // sf0.1: 8.4 s with vs 8.9 s without, even though TPC-H's uniform
    // parts give it nothing to drop there; long-tail catalogs are where
    // it pays). Each strategy stores its de-singled purchaser table
    // once — one exchange on i and one store job — and every side of
    // its self-joins reads the stored rows, already partitioned on i.
    // Built inside one plan, each side re-ran the window's exchange:
    // column pruning gives each side a different projection, so the
    // exchanges are not reused.
    def pairTable(df: DataFrame): DataFrame = {
      val (kept, _) = Loop.materialize(df
          .withColumn("np", count(lit(1)).over(Window.partitionBy("i")))
          .where(col("np") >= 2).drop("np"),
        checkpoint = false, 0L)((n, _) => n + 1, _ + _)
      stored(kept)
    }

    // FLAT strategy: co-purchase self-join on the item — the
    // shuffle-parallel analog of the reference's per-item nested
    // loop, carrying only ids and one pre-folded weight (never item
    // arrays or lists): row (u1,u2,x) ⟺ x ∈ I_u1 ∩ I_u2. One COUNT
    // aggregation per user pair gives the intersection size
    // (reference interactionSize, main item included) — flat
    // primitive buffers, not collect_list (whose 8.5 M array buffers
    // were 5× GC-bound on 90 g heaps). The anchor×sim expansion is a
    // second self-join of the co-purchase relation on (u1,u2):
    // sort-merge join streams the (typically tiny: avg ~1.05)
    // per-pair blocks with zero materialized arrays. Only the anchor item
    // must have both users capped-in (the reference intersects the
    // users' FULL item lists). Quadratic in the hottest item's
    // purchaser count — long-tail catalogs only.
    def flatScores(): DataFrame = {
      val paired = pairTable(flagged)
      val left = paired.select(col("i"), col("u").as("u1"), col("cnt").as("c1"), col("inCap").as("f1"))
      val right = paired.select(col("i"), col("u").as("u2"), col("cnt").as("c2"), col("inCap").as("f2"))
      val coPurchase = left.join(right, Seq("i")).where(col("u1") < col("u2"))
        .select(col("u1"), col("u2"), pairWeight(col("c1"), col("c2")).as("w"),
          col("i").as("x"), (col("f1") && col("f2")).as("cap"))
      // Intersection size as a WINDOW count over the pair key instead
      // of a groupBy + join-back: the previous shape shuffled the
      // co-purchase stream once for pairStats and twice more for the
      // anchors x pairStats x sims three-way join (round-16 probe:
      // 10.5-12.6 s vs 6.2-7.3 s in-JVM at sf0.1). The window
      // annotates every co-purchase row with isz in ONE shuffle of
      // the stream, and the anchor x sim expansion is then a single
      // self-join on (u1,u2) whose two sides reuse that exchange.
      // s = w/(a2+isz) is bit-identical to the old first("w")-based
      // value: w depends only on (c1,c2), constant within a pair, and
      // isz is the same exact count.
      val wp = Window.partitionBy("u1", "u2")
      val ann = coPurchase.withColumn("isz", count(lit(1)).over(wp))
        .withColumn("s", col("w") / (lit(a2) + col("isz")))
      val anchors = ann.where(col("cap"))
        .select(col("u1"), col("u2"), col("x").as("i"), col("s"))
      val sims = ann.select(col("u1"), col("u2"), col("x").as("sim"))
      anchors.join(sims, Seq("u1", "u2"))
        .where(col("sim") =!= col("i"))
        .select(col("i"), col("sim"), col("s"))
        .groupBy("i", "sim").agg(sum("s").as("score"))
    }

    // ARRAYS strategy (the reference's own shape, Swing.java:311-343,
    // distributed): candidate pairs are enumerated ONLY from the
    // capped per-item purchaser lists — bounded by Σ min(|U_i|,cap)²
    // regardless of how hot the catalog's head is — and each pair
    // intersects the two users' sorted qualifying-item arrays (each
    // ≤ maxUserBehavior). The flat path would explode here: its item
    // self-join materializes |U_i|² co-purchase rows for EVERY item,
    // cap or no cap (a 100k-purchaser item → 10¹⁰ rows), because
    // capped-out purchasers still matter to intersection sizes. Here
    // they enter only through the item arrays.
    def arrayScores(): DataFrame = {
      // the per-user item arrays: qualified is partitioned on u, so each
      // side below that reads them runs one narrow aggregation of the
      // stored rows (a cache of its own would cost a job per side)
      val userItems = qualified
        .groupBy("u").agg(sort_array(collect_list("i")).as("items"), first("cnt").as("cnt"))
      // Adaptive attach (round-16): the pair relation joins userItems
      // TWICE (once per side), and each sort-merge join re-shuffles and
      // re-sorts the big anchors-by-pair stream — measured 11.1 s warm
      // at sf0.1 vs 7.1 s with both sides broadcast (and 45.5 vs 18.1
      // cold; AQE's runtime SMJ->BHJ conversion at a raised threshold
      // still paid the pair stream's shuffle write, 15.4 s warm). The
      // broadcast is gated on the qualified table's store fold: Σcnt is
      // the broadcast payload's item cardinality and the user count its
      // row count. The estimate charges
      // 8 B per item id PLUS ~64 B per row (UnsafeRow fields + array
      // header + the hash-relation entry) AND doubles for the TWO
      // independent builds (it1/it2) — the raw 8·Σcnt figure
      // understated the real executor footprint by a small multiple
      // (round-17 ADVICE). At web scale Σcnt is billions, the gate
      // fails and the shuffled shape stands — no constant tuned to
      // local mode, the data decides.
      val purchases = perCnt.values.sum
      val users = perCnt.map { case (c, n) => n / c }.sum
      val estBroadcastBytes = 2L * (purchases * 8L + users * 64L)
      val broadcastUserItems = estBroadcastBytes <= Swing.ArraysBroadcastMaxBytes
      // the capped (i, u) rows: in one plan each side of the anchor
      // self-join would also rebuild the cap's union and rank windows
      val capped = pairTable(flagged.where(col("inCap")).select("i", "u"))
      val l = capped.select(col("i").as("anchor"), col("u").as("u1"))
      val r = capped.select(col("i").as("anchor"), col("u").as("u2"))
      val anchorPairs = l.join(r, Seq("anchor")).where(col("u1") < col("u2"))
      // ONE aggregation gives each pair its anchor list — replacing the
      // previous distinct + join-back, which shuffled the (big)
      // anchor-pair relation twice on (u1,u2). The collected lists are
      // bounded by the pair's shared-anchor count ≤ maxUserBehavior.
      val anchorsByPair = anchorPairs.groupBy("u1", "u2")
        .agg(collect_list("anchor").as("anchors"))
      val it1raw = userItems.select(col("u").as("u1"), col("items").as("items1"), col("cnt").as("c1"))
      val it2raw = userItems.select(col("u").as("u2"), col("items").as("items2"), col("cnt").as("c2"))
      val it1 = if (broadcastUserItems) broadcast(it1raw) else it1raw
      val it2 = if (broadcastUserItems) broadcast(it2raw) else it2raw
      anchorsByPair.join(it1, "u1").join(it2, "u2")
        .select(col("anchors"),
          array_intersect(col("items1"), col("items2")).as("xs"),
          pairWeight(col("c1"), col("c2")).as("w"))
        .select(col("anchors"), col("xs"),
          (col("w") / (lit(a2) + size(col("xs")))).as("s"))
        .select(explode(col("anchors")).as("i"), col("xs"), col("s"))
        .select(col("i"), explode(col("xs")).as("sim"), col("s"))
        .where(col("sim") =!= col("i"))
        .groupBy("i", "sim").agg(sum("s").as("score"))
    }

    val scores = getPairStrategy match {
      case "flat"              => flatScores()
      case "arrays"            => arrayScores()
      case _ if capEngaged     => arrayScores()
      case _                   => flatScores()
    }
    val rankWindow = Window.partitionBy("i").orderBy(col("score").desc, col("sim").asc)
    val topk = scores.withColumn("rk", row_number().over(rankWindow)).where(col("rk") <= getK)

    val pack = udf { rows: Seq[Row] =>
      rows.sortBy(_.getInt(0)).map(r => s"${r.getLong(1)},${r.getDouble(2)}").mkString(";")
    }
    Loop.keep(topk.groupBy(col("i").as(getItemCol))
      .agg(pack(collect_list(struct(col("rk"), col("sim"), col("score")))).as(getOutputCol)))
  }
}
object Swing extends StageLoader[Swing] {
  /** Salt fan-out for the two-phase purchaser cap: a hot item's cap
    * sort splits across this many tasks, bounding any single task to
    * ~purchasers/CapSalts rows (phase 1) or CapSalts·cap rows (phase 2). */
  val CapSalts = 32

  /** Driver-collect guard for the hot-item set: a sane cap keeps hot
    * items rare, so reaching this bound means the cap is degenerate for
    * the catalog and the broadcast join would not fit anyway. */
  val MaxHotItems = 10000000

  /** Arrays-path userItems broadcast gate (bytes): the per-user item
    * table broadcasts to both sides of the pair join when its estimated
    * footprint, 2 × (8 B·Σcnt + 64 B·users) from the qualified table's
    * store fold, fits — far under the 8 GB broadcast cap and comfortable
    * on any executor profile this engine targets; a web-scale catalog
    * exceeds it and keeps the shuffled sort-merge shape. */
  val ArraysBroadcastMaxBytes: Long = 64L << 20

  def load(spark: SparkSession, path: String): Swing = ReadWrite.applyParams(new Swing, path)
}
