package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Estimator, Model, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Distributed byte-pair-encoding vocabulary training (Sennrich et al.
 * 2016, "Neural Machine Translation of Rare Words with Subword
 * Units"): repeatedly merge the corpus's most frequent adjacent
 * symbol pair. The core subword-tokenization step of an LLM data
 * pipeline, reshaped for Spark:
 *
 *  - Pair counting and merge application run on the DISTINCT-WORD
 *    table weighted by word frequency — the corpus is touched once
 *    (the word count); every BPE round then costs one aggregation
 *    over the much smaller word table. This is how distributed BPE
 *    trainers scale: 100 TB of text collapses to its vocabulary.
 *  - Each round is: pair-count aggregation (partial+final) → O(batch)
 *    top-pairs to the driver → one projection applying every accepted
 *    merge ([[BpeTrainer.batchSize]] > 1 batches non-conflicting
 *    merges per round without changing the learned sequence).
 *    Per-round results are persisted so the next round reads a
 *    materialized column (never a recursively nested expression),
 *    with a local checkpoint ([[graft.iteration.Loop.materialize]])
 *    every [[BpeTrainer.CheckpointEvery]] merges to keep lineage flat
 *    — the ConnectedComponents pattern. The fit runs under
 *    [[graft.iteration.Loop.scoped]], so returned or thrown, it leaves
 *    nothing stored.
 *
 * Documented divergence from textbook BPE: self-pairs (x, x) are
 * never merge candidates. With left ≠ right guaranteed, occurrences
 * of a pair cannot overlap, so applying a merge is an order-free
 * per-position rewrite (a pure, codegen'd array expression on both
 * Spark and the SQL oracle) instead of a stateful left-to-right
 * scan. Runs of a repeated symbol are still merged once a distinct
 * neighbor pair forms.
 *
 * Tie-break: (count desc, left asc, right asc) — fully deterministic.
 *
 * No reference counterpart — beyond-reference LLM-data-pipeline tier.
 */
class BpeTrainer extends Estimator[BpeTrainer, BpeModel]
    with HasInputCol[BpeTrainer] with HasOutputCol[BpeTrainer] {

  final val numMerges: Param[Int] =
    param[Int]("numMerges", "Maximum merge rules to learn.", 100, ParamValidators.gt(0))
  def getNumMerges: Int = get(numMerges)
  def setNumMerges(v: Int): BpeTrainer = set(numMerges, v)

  final val minPairCount: Param[Long] =
    param[Long]("minPairCount",
      "Stop when the best pair's weighted count falls below this.", 2L, ParamValidators.gt(0))
  def getMinPairCount: Long = get(minPairCount)
  def setMinPairCount(v: Long): BpeTrainer = set(minPairCount, v)

  final val batchSize: Param[Int] =
    param[Int]("batchSize",
      "Max merges learned per pair-count round. Values > 1 cut driver " +
        "round-trips from O(vocab) to O(vocab/batch) while producing the " +
        "EXACT sequential merge list: a round accepts only a " +
        "pairwise-symbol-disjoint prefix of the count-ordered pairs whose " +
        "last member still counts strictly above the next candidate " +
        "(disjoint merges cannot change each other's counts, and any " +
        "pair created or shrunk by an accepted merge is bounded by that " +
        "next candidate's count — or, when the merge's own symbol " +
        "self-abuts (word 'aab' under (a,b) creates (a,ab), bounded " +
        "only by count(a,a)), by the symbol's self-adjacency count, " +
        "which the batch also checks — so one-at-a-time BPE would pick " +
        "the same prefix in the same order). A merge whose output " +
        "string collides with an already-existing symbol also closes " +
        "its batch, since it changes counts of unscanned pairs.", 1, ParamValidators.gt(0))
  def getBatchSize: Int = get(batchSize)
  def setBatchSize(v: Int): BpeTrainer = set(batchSize, v)

  final val driverWordLimit: Param[Long] =
    param[Long]("driverWordLimit",
      "When the distinct-word table has at most this many rows, the " +
        "merge loop runs ON THE DRIVER over the collected (word, freq) " +
        "table instead of as distributed pair-count rounds — identical " +
        "results (same counts, tie-break, and stop rule), but 1000 " +
        "merges cost seconds instead of ~800 driver round-trips " +
        "(measured: batching accepts only ~1.25 merges/round on " +
        "text-like corpora because top pairs share symbols). This is " +
        "how distributed BPE scales: the corpus collapses to its " +
        "vocabulary in one distributed pass, and vocabularies up to " +
        "the limit fit comfortably in driver memory. The row limit is " +
        "paired with a total-characters cap (DriverCollectCharLimit) " +
        "measured in the same aggregation, so 1M URL- or blob-sized " +
        "'words' cannot OOM the collect; either bound exceeded falls " +
        "back to the distributed rounds. Set 0 to force them.",
      1L << 20, ParamValidators.gtEq(0L))
  def getDriverWordLimit: Long = get(driverWordLimit)
  def setDriverWordLimit(v: Long): BpeTrainer = set(driverWordLimit, v)

  final val driverCharLimit: Param[Long] =
    param[Long]("driverCharLimit",
      "Total-characters cap for the driver-side merge path, measured in " +
        "the same aggregation as the row count: a vocabulary whose summed " +
        "word lengths exceed this falls back to the distributed rounds " +
        "even when its ROW count is under driverWordLimit — 1M URL- or " +
        "blob-sized 'words' must not OOM the collect.",
      BpeTrainer.DriverCollectCharLimit, ParamValidators.gtEq(0L))
  def getDriverCharLimit: Long = get(driverCharLimit)
  def setDriverCharLimit(v: Long): BpeTrainer = set(driverCharLimit, v)

  /** Distributed pair-count rounds the last fit ran (0 when the
    * driver-side merge loop handled the vocabulary). */
  @volatile private var roundsRun0 = 0
  def lastFitRounds: Int = roundsRun0

  override def fit(inputs: DataFrame*): BpeModel = {
    require(inputs.size == 1)
    val df = inputs.head
    val spark = df.sparkSession
    roundsRun0 = 0
    // every frame the fit stores is registered, and released when the
    // fit returns or throws
    val merges = Loop.scoped { stored =>
      // one pass over the corpus: distinct words + frequencies
      val words = stored.cache(df
        .select(explode(NgramLm.tokens(col(getInputCol))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq")))
      // row count alone does not bound driver memory — 1M "words" that
      // are URLs or base64 blobs collect to gigabytes. The same
      // materializing aggregation also sums symbol lengths, and the
      // driver path additionally requires the total under
      // [[BpeTrainer.DriverCollectCharLimit]]; oversized vocabularies
      // fall back to the distributed rounds.
      val vocabStats = words
        .agg(count(lit(1)).as("n"), coalesce(sum(length(col("w"))), lit(0L)).as("chars"))
        .head()
      val vocabRows = vocabStats.getLong(0)
      val vocabChars = vocabStats.getLong(1)
      if (getDriverWordLimit > 0L && vocabRows <= getDriverWordLimit &&
          vocabChars <= getDriverCharLimit) {
        // vocabulary fits on the driver: learn merges locally over the
        // aggregated (word, freq) table — exact same sequence as the
        // distributed rounds, without their per-round job latency
        val collected = words.collect().map(r => (r.getString(0), r.getLong(1)))
        Loop.release(words)
        BpeTrainer.fitOnDriver(collected, getNumMerges, getMinPairCount)
      } else distributedRounds(words, stored)
    }
    import spark.implicits._
    val modelDf = merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "left", "right")
    val m = new BpeModel().setModelData(modelDf)
    copyParamsTo(m)
    m
  }

  /** The distributed pair-count rounds over the stored (word, freq)
    * table; every frame they store is registered with `stored`. */
  private def distributedRounds(words: DataFrame, stored: Loop.Stored): Seq[(String, String)] = {
    // initial symbols = characters
    var syms = stored.cache(words.select(col("freq"), split(col("w"), "").as("s")))
    // freed after the next pair count fills `syms`: freed first, Spark
    // would recompile the unfilled cache to recompute from the corpus
    var parent = words

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // every multi-char symbol in `syms` is the concatenation of some
    // past merge (initial symbols are single characters), so "does the
    // symbol a+b already exist?" is answerable on the driver from the
    // merge history alone — no corpus lookup needed
    val createdSymbols = scala.collection.mutable.Set.empty[String]
    var done = false
    while (merges.size < getNumMerges && !done) {
      roundsRun0 += 1
      val cap = math.min(getBatchSize, getNumMerges - merges.size)
      val fetch = 2 * cap + 1
      val pairCounts = syms
        .select(col("freq"), explode(NgramLm.bigrams(col("s"))).as("p"))
        .groupBy(col("p.w1").as("a"), col("p.w2").as("b"))
        .agg(sum("freq").as("cnt"))
      if (cap > 1) stored.cache(pairCounts)
      val top = pairCounts
        .where(col("a") =!= col("b")) // see scaladoc: no self-pair candidates
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(fetch).collect()
      Loop.release(parent)
      // `exhausted` = the list above IS the complete pair set, so running
      // past its end means no follower exists at all
      val exhausted = top.length < fetch
      // Self-adjacency counts for the candidate symbols. A merge (a, b)
      // applied where its own symbol self-abuts creates pairs the
      // non-self scan never bounds: word "aab" under (a, b) creates
      // (a, ab), whose count is bounded only by count(a, a). Such a
      // pair can outrank every remaining candidate, so a batch must
      // not accept a merge counting <= any prior acceptance's
      // self-adjacency bound. Only needed when batching (one merge
      // per round is the plain argmax and always exact).
      val selfCnt: Map[String, Long] =
        if (cap <= 1 || top.isEmpty) Map.empty
        else {
          val symsInWindow = top.iterator
            .flatMap(r => Iterator(r.getString(0), r.getString(1))).toSet.toSeq
          pairCounts
            .where(col("a") === col("b") && col("a").isin(symsInWindow: _*))
            .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
        }
      if (cap > 1) Loop.release(pairCounts)

      // longest safe prefix above minPairCount: pairwise symbol-disjoint,
      // consuming no symbol created this batch, and creating no symbol
      // that already exists (a merge whose output string collides with a
      // live symbol changes the counts of pairs we never scanned — e.g.
      // (in,g) creating more "ing" while (ing,s) sits below the fetch
      // window — so such a merge closes its batch immediately)
      val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      val used = scala.collection.mutable.Set.empty[String]
      val batchConcats = scala.collection.mutable.Set.empty[String]
      var i = 0
      var blocked = false
      // max self-adjacency count over accepted merges' symbols: pairs a
      // prior acceptance can create via self-abutment count at most this
      var selfBound = Long.MinValue
      while (!blocked && i < top.length && accepted.size < cap) {
        val (a, b, c) = (top(i).getString(0), top(i).getString(1), top(i).getLong(2))
        val disjoint = accepted.isEmpty ||
          (!used(a) && !used(b) && !batchConcats(a) && !batchConcats(b) &&
            !createdSymbols(a + b) && !batchConcats(a + b))
        if (c < getMinPairCount) blocked = true
        // a pair created by an earlier acceptance may count up to
        // selfBound and would outrank (or tie-contend with) this
        // candidate in sequential order — close the batch
        else if (accepted.nonEmpty && c <= selfBound) blocked = true
        else if (disjoint) {
          accepted += ((a, b, c)); used += a; used += b; batchConcats += (a + b); i += 1
          selfBound = math.max(selfBound, math.max(
            selfCnt.getOrElse(a, Long.MinValue), selfCnt.getOrElse(b, Long.MinValue)))
          // the accepted merge itself may recreate an existing symbol;
          // that is fine for THIS merge (it is the current argmax) but
          // poisons every count below it — stop the batch here
          if (createdSymbols(a + b)) blocked = true
        } else blocked = true
      }
      // strict-drop guard: everything a round's merges can perturb or
      // create is bounded by the follower's count, so the last accepted
      // pair must count strictly above it; ties defer to the next round.
      // The first pair is always safe — it is the global argmax either way.
      def followerCount: Long =
        if (i < top.length) top(i).getLong(2)
        else if (exhausted) Long.MinValue
        else top.last.getLong(2) // truncated list: unseen follower may tie top.last
      while (accepted.size > 1 && accepted.last._3 <= followerCount) {
        i -= 1
        val dropped = accepted.remove(accepted.size - 1)
        used -= dropped._1; used -= dropped._2
        batchConcats -= (dropped._1 + dropped._2)
      }

      if (accepted.isEmpty) done = true
      else {
        // apply the whole batch in one pass. A single merge stays the
        // codegen'd array expression; for > 1, nesting applyMerge
        // expressions would re-evaluate the inner merge per element
        // (HOF lambdas defeat CSE), so the batch runs as one compiled
        // UDF walking the array once per merge — O(batch·len) per row
        val merged =
          if (accepted.size == 1) BpeTrainer.applyMerge(col("s"), accepted.head._1, accepted.head._2)
          else {
            val batch = accepted.map(m => (m._1, m._2)).toArray
            val applyAll = udf { s: Seq[String] =>
              if (s == null) null else BpeTrainer.applyMerges(s, batch)
            }
            applyAll(col("s"))
          }
        val next = syms.select(col("freq"), merged.as("s"))
        val crossedCheckpoint =
          (merges.size + accepted.size) / BpeTrainer.CheckpointEvery > merges.size / BpeTrainer.CheckpointEvery
        // a checkpoint round is written, lineage cut, in one job; the
        // other rounds are filled by the next round's pair count
        parent = syms
        syms =
          if (crossedCheckpoint)
            stored(Loop.materialize(next, checkpoint = true, 0L)((c, _) => c + 1, _ + _)._1)
          else stored.cache(next)
        merges ++= accepted.map(m => (m._1, m._2))
        createdSymbols ++= accepted.map(m => m._1 + m._2)
      }
    }
    merges.toSeq
  }
}
object BpeTrainer extends StageLoader[BpeTrainer] {
  val CheckpointEvery = 10

  /** Upper bound on total characters the driver-merge path may
    * collect (~128 MB of String payload at 2 B/char, plus per-row
    * overhead) — the byte-side guard behind driverWordLimit's row
    * bound. */
  val DriverCollectCharLimit: Long = 1L << 26

  /**
   * Sequential BPE over a driver-resident weighted vocabulary —
   * byte-for-byte the sequence the distributed rounds learn: every
   * adjacent position counts (weighted by word frequency), self-pairs
   * are never candidates, argmax tie-break (count desc, left asc,
   * right asc), stop below minPairCount. O(numMerges · Σ|word|).
   */
  /** Code-point-wise string comparison == UTF-8 binary order ==
    * Spark's UTF8String ordering. Java String '<' compares UTF-16
    * code UNITS, which ranks supplementary characters (surrogate
    * pairs, 0xD800–0xDBFF lead) BELOW U+E000–U+FFFF — the opposite of
    * Spark's orderBy — so a count tie between such symbols would
    * resolve differently on the driver vs the distributed rounds,
    * breaking their identical-results contract. */
  private[text] def codePointCompare(x: String, y: String): Int = {
    var i = 0; var j = 0
    while (i < x.length && j < y.length) {
      val cx = x.codePointAt(i); val cy = y.codePointAt(j)
      if (cx != cy) return Integer.compare(cx, cy)
      i += Character.charCount(cx); j += Character.charCount(cy)
    }
    Integer.compare(x.length - i, y.length - j)
  }

  /** Split into per-code-POINT symbols. Java's `String.split("")`
    * fractures a surrogate pair into two lone-surrogate symbols,
    * while Spark's `split(col, "")` keeps the pair whole — the driver
    * must match the distributed rounds' initial alphabet exactly or
    * any supplementary character diverges the learned merges. */
  private[text] def splitCodePoints(s: String): Array[String] = {
    val out = new Array[String](s.codePointCount(0, s.length))
    var i = 0; var k = 0
    while (i < s.length) {
      val cc = Character.charCount(s.codePointAt(i))
      out(k) = s.substring(i, i + cc)
      k += 1; i += cc
    }
    out
  }

  /** Incremental driver-side BPE: pair counts live in a hash map with
    * a pair → containing-word-ids index, each merge touches ONLY the
    * words that contain it (delta count updates), and the argmax comes
    * from a lazy max-heap (stale entries discarded on pop when their
    * count no longer matches). Same counts, tie-break (count desc,
    * codepoint-lex asc), and stop rule as [[fitOnDriverRecount]] —
    * property-pinned — but O(Σ affected-word lengths + updates·log)
    * instead of O(numMerges · Σ|word|): 1,000 merges on the 500k-doc
    * ScaleUp corpus drop from ~165 s to seconds, making 10k+ merge
    * vocabularies practical. */
  private[text] def fitOnDriver(words: Array[(String, Long)], numMerges: Int,
      minPairCount: Long): Seq[(String, String)] = {
    val arrays: Array[Array[String]] = words.map(w => splitCodePoints(w._1))
    val freqs: Array[Long] = words.map(_._2)
    val counts = new java.util.HashMap[(String, String), java.lang.Long]()
    val where = new java.util.HashMap[(String, String), java.util.BitSet]()

    // heap entry = (count-at-push, pair); max count first, then
    // codepoint-lex ascending — exactly the recount argmax's tie-break
    val cmp = new java.util.Comparator[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        if (x._1 != y._1) return java.lang.Long.compare(y._1, x._1)
        val l = codePointCompare(x._2, y._2)
        if (l != 0) l else codePointCompare(x._3, y._3)
      }
    }
    val heap = new java.util.PriorityQueue[(Long, String, String)](cmp)

    def pairsOf(a: Array[String], into: java.util.HashMap[(String, String), java.lang.Long],
        sign: Long, f: Long): Unit = {
      var j = 0
      while (j < a.length - 1) {
        if (a(j) != a(j + 1)) { // self-pairs are never candidates
          val k = (a(j), a(j + 1))
          val prev = into.get(k)
          into.put(k, (if (prev == null) 0L else prev.longValue()) + sign * f)
        }
        j += 1
      }
    }

    var wi = 0
    while (wi < arrays.length) {
      val a = arrays(wi); val f = freqs(wi)
      var j = 0
      while (j < a.length - 1) {
        if (a(j) != a(j + 1)) {
          val k = (a(j), a(j + 1))
          val prev = counts.get(k)
          counts.put(k, (if (prev == null) 0L else prev.longValue()) + f)
          where.computeIfAbsent(k, _ => new java.util.BitSet()).set(wi)
        }
        j += 1
      }
      wi += 1
    }
    val it0 = counts.entrySet().iterator()
    while (it0.hasNext) {
      val e = it0.next()
      heap.add((e.getValue.longValue(), e.getKey._1, e.getKey._2))
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      // pop to the first LIVE entry: its pushed count must equal the
      // pair's current count (counts only move via pushes, so the live
      // maximum is always present in the heap)
      var best: (String, String) = null
      var bestC = Long.MinValue
      while (best == null && !heap.isEmpty) {
        val (c, a, b) = heap.poll()
        val cur = counts.get((a, b))
        if (cur != null && cur.longValue() == c && c > 0L) { best = (a, b); bestC = c }
      }
      if (best == null || bestC < minPairCount) done = true
      else {
        merges += best
        val mArr = Array(best)
        val members = where.remove(best)
        val delta = new java.util.HashMap[(String, String), java.lang.Long]()
        var w = if (members == null) -1 else members.nextSetBit(0)
        while (w >= 0) {
          val before = arrays(w)
          // the index can hold stale ids (word rewritten since); the
          // rewrite is a no-op for them and their delta cancels out
          val after = applyMerges(
            scala.collection.immutable.ArraySeq.unsafeWrapArray(before), mArr).toArray
          if (!(after.length == before.length)) {
            delta.clear()
            pairsOf(before, delta, -1L, freqs(w))
            pairsOf(after, delta, +1L, freqs(w))
            arrays(w) = after
            val dit = delta.entrySet().iterator()
            while (dit.hasNext) {
              val e = dit.next()
              val d = e.getValue.longValue()
              if (d != 0L) {
                val k = e.getKey
                val prev = counts.get(k)
                val next = (if (prev == null) 0L else prev.longValue()) + d
                if (next <= 0L) counts.remove(k)
                else {
                  counts.put(k, next)
                  heap.add((next, k._1, k._2))
                  if (d > 0L) where.computeIfAbsent(k, _ => new java.util.BitSet()).set(w)
                }
              }
            }
          }
          w = members.nextSetBit(w + 1)
        }
        counts.remove(best) // every adjacency merged; count is now 0
      }
    }
    merges.toSeq
  }

  /** Reference implementation: full recount + linear argmax per merge,
    * O(numMerges · Σ|word|). Kept as the differential oracle for
    * [[fitOnDriver]]'s incremental bookkeeping (property spec pins
    * equality on random corpora). */
  private[text] def fitOnDriverRecount(words: Array[(String, Long)], numMerges: Int,
      minPairCount: Long): Seq[(String, String)] = {
    var arrays: Array[Array[String]] = words.map(w => splitCodePoints(w._1))
    val freqs: Array[Long] = words.map(_._2)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      var i = 0
      while (i < arrays.length) {
        val a = arrays(i); val f = freqs(i)
        var j = 0
        while (j < a.length - 1) {
          if (a(j) != a(j + 1)) {
            val k = (a(j), a(j + 1))
            counts(k) = counts.getOrElse(k, 0L) + f
          }
          j += 1
        }
        i += 1
      }
      var best: (String, String) = null
      var bestC = Long.MinValue
      counts.foreach { case (p, c) =>
        if (c > bestC || (c == bestC &&
            { val l = codePointCompare(p._1, best._1)
              l < 0 || (l == 0 && codePointCompare(p._2, best._2) < 0) })) {
          best = p; bestC = c
        }
      }
      if (best == null || bestC < minPairCount) done = true
      else {
        merges += best
        val m = Array(best)
        arrays = arrays.map(a => if (a.length > 1) applyMerges(
          scala.collection.immutable.ArraySeq.unsafeWrapArray(a), m).toArray else a)
      }
    }
    merges.toSeq
  }

  /**
   * Order-free merge of every (a, b) adjacency in a symbol array —
   * valid because a ≠ b makes occurrences non-overlapping: position i
   * becomes a+b when it starts a pair, is dropped when it ends one,
   * and passes through otherwise. Pure codegen'd array expression;
   * the lambda only indexes bound attributes (never recomputes a
   * derived array — the RepetitionStats lesson).
   */
  def applyMerge(s: Column, a: String, b: String): Column = {
    val n = size(s)
    val rewritten = transform(sequence(lit(1), n), i => {
      val cur = element_at(s, i)
      val nxt = when(i < n, element_at(s, i + 1))
      val prv = when(i > 1, element_at(s, i - 1))
      when(cur === a && nxt === b, concat(lit(a), lit(b)))
        .when(cur === b && prv === a, lit(null).cast("string"))
        .otherwise(cur)
    })
    filter(rewritten, x => x.isNotNull)
  }

  /** Sequentially applies each merge with the standard left-to-right
    * scan (same loop as BpeModel's encoder); with pairwise-disjoint,
    * non-self merges the result is order-independent. */
  private[text] def applyMerges(s: Seq[String], ms: Array[(String, String)]): Seq[String] = {
    var cur: Array[String] = s.toArray
    var m = 0
    while (m < ms.length) {
      val (a, b) = ms(m)
      if (cur.length > 1) {
        val out = new scala.collection.mutable.ArrayBuffer[String](cur.length)
        var i = 0
        while (i < cur.length) {
          if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += cur(i); i += 1 }
        }
        cur = out.toArray
      }
      m += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(cur)
  }

  def load(spark: SparkSession, path: String): BpeTrainer =
    ReadWrite.applyParams(new BpeTrainer, path)
}

/**
 * Applies the learned merge table: each document's tokens are split
 * to characters and encoded with the rank-indexed pair-heap algorithm
 * (repeatedly merge the LOWEST-RANK adjacent pair — the standard fast
 * BPE apply, e.g. the tokenizers library): O(|word| log |word|) per
 * word with O(1) rank lookups, independent of the merge count. The
 * naive alternative — one full pass per merge — is O(merges · |word|),
 * which at a production 50k-merge vocabulary is ~50,000 passes over
 * every word; both produce identical segmentations for a trained
 * (well-formed) merge table, property-pinned in the spec. Appends
 * `<outputCol>` (flattened subword array) and `<outputCol>_count`.
 * The merge table is O(numMerges) — broadcast as a rank hash map,
 * applied per row; no shuffle.
 */
class BpeModel extends Model[BpeModel]
    with HasInputCol[BpeModel] with HasOutputCol[BpeModel] {

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): BpeModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val merges = modelData.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val spark = inputs.head.sparkSession
    val bc = spark.sparkContext.broadcast(BpeModel.rankMap(merges))
    val encode = udf { tokens: Seq[String] =>
      if (tokens == null) null
      else {
        val ranks = bc.value
        tokens.flatMap(w => BpeModel.encodeWordHeap(w, ranks))
      }
    }
    val out = inputs.head
      .withColumn(getOutputCol, encode(NgramLm.tokens(col(getInputCol))))
      .withColumn(getOutputCol + "_count", size(col(getOutputCol)).cast("long"))
    Array(out)
  }
}
object BpeModel extends StageLoader[BpeModel] {
  def load(spark: SparkSession, path: String): BpeModel = {
    val m = ReadWrite.applyParams(new BpeModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }

  /** (left, right) → rank lookup for the heap encoder; the key is the
    * two symbols joined on U+0000 (cannot appear inside a symbol:
    * NgramLm.tokens never emits NUL). */
  private[text] def rankMap(merges: Array[(String, String)]): java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](merges.length * 2)
    var i = 0
    while (i < merges.length) {
      m.put(merges(i)._1 + "\u0000" + merges(i)._2, Integer.valueOf(i)); i += 1
    }
    m
  }

  /** Rank-indexed heap encode of one word: doubly-linked symbol slots,
    * candidate (rank, position) pairs in a min-heap, lowest rank (ties:
    * leftmost) merged first; each merge enqueues at most the two pairs
    * it creates. Stale candidates are detected by re-checking the slot
    * symbols on pop — slots only ever grow, so a match proves the pair
    * is live. */
  private[text] def encodeWordHeap(w: String,
      ranks: java.util.HashMap[String, Integer]): Seq[String] = {
    val sym = BpeTrainer.splitCodePoints(w)
    val n = sym.length
    if (n < 2) return scala.collection.immutable.ArraySeq.unsafeWrapArray(sym)
    val prev = new Array[Int](n)
    val next = new Array[Int](n)
    var i = 0
    while (i < n) { prev(i) = i - 1; next(i) = if (i == n - 1) -1 else i + 1; i += 1 }

    // candidate = (rank, leftSlot, leftSym, rightSym); min rank first,
    // then leftmost slot
    val cmp = new java.util.Comparator[(Int, Int, String, String)] {
      def compare(x: (Int, Int, String, String), y: (Int, Int, String, String)): Int = {
        if (x._1 != y._1) Integer.compare(x._1, y._1)
        else Integer.compare(x._2, y._2)
      }
    }
    val heap = new java.util.PriorityQueue[(Int, Int, String, String)](cmp)
    def push(l: Int): Unit = {
      val r = next(l)
      if (r >= 0) {
        val rank = ranks.get(sym(l) + "\u0000" + sym(r))
        if (rank != null) heap.add((rank.intValue(), l, sym(l), sym(r)))
      }
    }
    i = 0
    while (i < n - 1) { push(i); i += 1 }

    var alive = n
    while (!heap.isEmpty && alive > 1) {
      val (_, l, a, b) = heap.poll()
      // live iff the left slot still holds `a` and its CURRENT right
      // neighbor still holds `b` (slot symbols only grow by merging,
      // so equality cannot be a coincidence from a later state)
      if (sym(l) == a) {
        val r = next(l)
        if (r >= 0 && sym(r) == b) {
          sym(l) = a + b
          val rr = next(r)
          next(l) = rr
          if (rr >= 0) prev(rr) = l
          sym(r) = null
          alive -= 1
          if (prev(l) >= 0) push(prev(l))
          push(l)
        }
      }
    }
    val out = new scala.collection.mutable.ArrayBuffer[String](alive)
    var c = 0
    while (c >= 0) { out += sym(c); c = next(c) }
    out.toSeq
  }

  /** Naive apply — one left-to-right pass per merge in rank order;
    * O(merges · |word|). Kept as the differential oracle for
    * [[encodeWordHeap]] (equivalence on trained tables is the
    * property the spec pins). */
  private[text] def encodeWordSequential(w: String,
      merges: Array[(String, String)]): Seq[String] = {
    var cur: Array[String] = BpeTrainer.splitCodePoints(w)
    merges.foreach { case (a, b) =>
      if (cur.length > 1) {
        val out = new scala.collection.mutable.ArrayBuffer[String](cur.length)
        var i = 0
        while (i < cur.length) {
          if (i + 1 < cur.length && cur(i) == a && cur(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += cur(i); i += 1 }
        }
        cur = out.toArray
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(cur)
  }
}
