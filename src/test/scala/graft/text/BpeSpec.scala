package graft.text

import graft.SparkSpec

class BpeSpec extends SparkSpec {

  test("BpeTrainer learns merges in frequency order with deterministic ties") {
    import spark.implicits._
    val df = Seq("low low low", "lower lower", "newest").toDF("text")
    val model = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
      .setNumMerges(3).setMinPairCount(2).fit(df)
    val merges = model.getModelData.head.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    // counts: (l,o)=5 (o,w)=5 → tie broken left-asc → (l,o);
    // then (lo,w)=5; then (e,r)=2 ties (low,e)=2 → 'e' < 'low'
    assert(merges == Seq(("l", "o"), ("lo", "w"), ("e", "r")), merges)
  }

  test("BpeModel encodes with the learned merge table") {
    import spark.implicits._
    val fitDf = Seq("low low low", "lower lower", "newest").toDF("text")
    val model = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
      .setNumMerges(3).fit(fitDf)
    val out = model.transform(Seq("lower lowest").toDF("text")).head
      .select("bpe", "bpe_count").head()
    // lower → [low, er]; lowest → [low, e, s, t]
    assert(out.getSeq[String](0) == Seq("low", "er", "low", "e", "s", "t"), out.getSeq[String](0))
    assert(out.getLong(1) == 6)
  }

  test("self-pairs are never merged; runs merge once a distinct pair forms") {
    import spark.implicits._
    // only candidate pairs are (a,b)-style distinct adjacencies;
    // "aaaa"/"bb" alone yield no candidates at all
    val none = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
      .setNumMerges(5).fit(Seq("aaaa bb aaaa").toDF("text"))
    assert(none.getModelData.head.count() == 0)
    val out = none.transform(Seq("aaaa bb").toDF("text")).head.select("bpe").head()
    assert(out.getSeq[String](0) == Seq("a", "a", "a", "a", "b", "b"))
    // "xaxa xa": (x,a) merges everywhere including inside the run
    val m = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
      .setNumMerges(1).fit(Seq("xaxa xa xa").toDF("text"))
    val enc = m.transform(Seq("xaxa").toDF("text")).head.select("bpe").head()
    assert(enc.getSeq[String](0) == Seq("xa", "xa"))
  }

  test("non-conflicting pairs batch into one pair-count round") {
    import spark.implicits._
    // four symbol-disjoint pairs with strictly decreasing counts
    val corpus = Seq(
      ("ab " * 5) + ("cd " * 4) + ("ef " * 3) + ("gh " * 2)).toDF("text")
    val trainer = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
      .setNumMerges(10).setMinPairCount(2).setBatchSize(8)
      .setDriverWordLimit(0L) // force the distributed rounds under test
    val model = trainer.fit(corpus)
    val merges = model.getModelData.head.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges == Seq(("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")), merges)
    // one merge round + the final (empty) verification round
    assert(trainer.lastFitRounds <= 2, s"rounds = ${trainer.lastFitRounds}")
  }

  test("batchSize > 1 preserves the exact sequential merge list") {
    import spark.implicits._
    def mergesOf(text: String, batch: Int): Seq[(String, String)] = {
      val t = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
        .setNumMerges(10).setMinPairCount(2).setBatchSize(batch)
        .setDriverWordLimit(0L) // batching is distributed-path machinery
      t.fit(Seq(text).toDF("text")).getModelData.head.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }
    // conflicting pairs sharing a symbol: (a,b)=4 beats (b,c)=3
    val conflict = ("abc " * 3) + "ab"
    // exact count tie between disjoint pairs: the guard must defer
    val tie = ("ab " * 3) + ("cd " * 3)
    // real-word corpus from the order test above
    val words = "low low low lower lower newest"
    // self-abutting merge: merging (a,b) in "aab" creates (a,ab) with
    // count 5 > (c,d)'s 4, so a batch accepting both diverges from the
    // sequential list [(a,b),(a,ab)] — the self-pair (a,a), excluded
    // from the candidate scan, is the only bound on the created pair
    val selfAbut = ("aab " * 5) + ("cd " * 4)
    // randomized 3-letter-alphabet corpora: repeated substrings maximize
    // merge interactions (shared symbols, recreated concatenations)
    val rnd = new scala.util.Random(271)
    val fuzz = (1 to 5).map { _ =>
      (0 until 30).map { _ =>
        (0 until (3 + rnd.nextInt(4))).map(_ => "abc" (rnd.nextInt(3))).mkString
      }.mkString(" ")
    }
    // 2-letter-alphabet corpora: long runs make self-abutting merges
    // (the selfAbut case above) the common path, not the rare one
    val runFuzz = (1 to 5).map { _ =>
      (0 until 40).map { _ =>
        (0 until (2 + rnd.nextInt(6))).map(_ => "ab" (rnd.nextInt(2))).mkString
      }.mkString(" ")
    }
    for (text <- Seq(conflict, tie, words, selfAbut) ++ fuzz ++ runFuzz) {
      assert(mergesOf(text, 8) == mergesOf(text, 1), s"diverged on: $text")
      assert(mergesOf(text, 3) == mergesOf(text, 1), s"diverged at batch=3 on: $text")
    }
  }

  test("driver-side merge loop equals the distributed rounds on every corpus") {
    import spark.implicits._
    def mergesOf(text: String, driverLimit: Long): Seq[(String, String)] = {
      val t = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
        .setNumMerges(10).setMinPairCount(2).setDriverWordLimit(driverLimit)
      t.fit(Seq(text).toDF("text")).getModelData.head.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }
    val rnd = new scala.util.Random(1337)
    val fuzz = (1 to 4).map { _ =>
      (0 until 30).map { _ =>
        (0 until (2 + rnd.nextInt(5))).map(_ => "abc" (rnd.nextInt(3))).mkString
      }.mkString(" ")
    }
    val corpora = Seq(
      "low low low lower lower newest",
      ("aab " * 5) + ("cd " * 4),
      ("abc " * 3) + "ab",
      ("ab " * 3) + ("cd " * 3)) ++ fuzz
    for (text <- corpora) {
      val driver = mergesOf(text, 1L << 20)
      val dist = mergesOf(text, 0L)
      assert(driver == dist, s"paths diverged on: $text")
    }
  }

  test("driver tie-break matches Spark's UTF-8 order on supplementary characters") {
    import spark.implicits._
    // U+1D54F (a surrogate pair, lead 0xD835) vs U+E000: Java UTF-16
    // code-UNIT comparison ranks the surrogate pair BELOW U+E000; code
    // points (= UTF-8 binary = Spark orderBy) rank it ABOVE. A count
    // tie between the two pairs resolves differently under the wrong
    // comparator, silently breaking driver ≡ distributed.
    val x = new String(Character.toChars(0x1D54F)) // 𝕏
    val e = ""
    val text = s"${x}a ${x}a ${e}a ${e}a"
    def mergesOf(driverLimit: Long): Seq[(String, String)] = {
      val t = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
        .setNumMerges(2).setMinPairCount(2).setDriverWordLimit(driverLimit)
      t.fit(Seq(text).toDF("text")).getModelData.head.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
    }
    val driver = mergesOf(1L << 20)
    val dist = mergesOf(0L)
    assert(driver == dist, "supplementary-char tie diverged between paths")
    // the tie must go to U+E000 (smaller code point), not the surrogate pair
    assert(driver.head == (e, "a"), driver.toString)
    assert(driver(1) == (x, "a"), driver.toString)

    // and ENCODE must apply the supplementary-char merge: its initial
    // symbols must be code points too, or (𝕏, a) never matches
    val t = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
      .setNumMerges(2).setMinPairCount(2)
    val model = t.fit(Seq(text).toDF("text"))
    val encoded = model.transform(Seq(text).toDF("text")).head
      .select("bpe").as[Seq[String]].collect().head
    assert(encoded == Seq(s"${x}a", s"${x}a", s"${e}a", s"${e}a"), encoded.toString)
  }

  test("a fat-word vocabulary falls back to the distributed rounds (no OOM path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // 30 distinct 20-char words: 600 summed chars busts a 100-char cap
    // while the ROW count stays far under driverWordLimit
    val words = (0 until 30).map(_ => (0 until 20).map(_ => "ab" (rnd.nextInt(2))).mkString)
    val text = (words ++ words).mkString(" ") // freq 2 each so merges happen
    def fit(charLimit: Long): (Seq[(String, String)], Int) = {
      val t = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
        .setNumMerges(5).setMinPairCount(2)
        .setDriverWordLimit(1L << 20).setDriverCharLimit(charLimit)
      val m = t.fit(Seq(text).toDF("text")).getModelData.head.orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      (m, t.lastFitRounds)
    }
    val (driverMerges, driverRounds) = fit(1L << 26)
    assert(driverRounds == 0, "under both caps the merge loop must run on the driver")
    val (distMerges, distRounds) = fit(100L)
    assert(distRounds > 0, "past the char cap the fit must take the distributed rounds")
    assert(distMerges == driverMerges, "fallback path must learn the identical merge list")
  }

  test("applyMerges (batch UDF path) equals applyMerge (codegen expression path)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(97)
    val arrays = (0 until 40).map { _ =>
      (0 until (1 + rnd.nextInt(12))).map(_ => "abcd" (rnd.nextInt(4)).toString)
    }
    // pairwise-disjoint non-self merges, as the batch selector guarantees
    val batch = Array(("a", "b"), ("c", "d"))
    val df = arrays.map(Tuple1(_)).toDF("s")
    val viaExpr = batch.foldLeft(df)((d, m) =>
        d.select(BpeTrainer.applyMerge(col("s"), m._1, m._2).as("s")))
      .collect().map(_.getSeq[String](0))
    val viaUdf = arrays.map(a => BpeTrainer.applyMerges(a, batch))
    viaExpr.zip(viaUdf).foreach { case (e, u) => assert(e == u, s"$e vs $u") }
  }

  test("incremental fitOnDriver equals the full-recount reference on random vocabularies") {
    // the production driver path keeps pair counts incrementally (index
    // + delta updates + lazy max-heap); the recount-per-merge reference
    // is the semantic definition — counts, tie-breaks, stop rule
    val rnd = new scala.util.Random(2024)
    for (trial <- 0 until 25) {
      val alphabet = "abcdef".take(2 + rnd.nextInt(5))
      val nWords = 5 + rnd.nextInt(40)
      val vocab = (0 until nWords).map { _ =>
        val w = (0 until (1 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
        (w, 1L + rnd.nextInt(9))
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
      val nMerges = 1 + rnd.nextInt(120)
      val minC = 1L + rnd.nextInt(3)
      val fast = BpeTrainer.fitOnDriver(vocab, nMerges, minC)
      val slow = BpeTrainer.fitOnDriverRecount(vocab, nMerges, minC)
      assert(fast == slow,
        s"trial $trial diverged (merges=$nMerges minCount=$minC): $fast vs $slow on ${vocab.toSeq}")
    }
    // supplementary characters exercise the code-point tie-break
    val supp = Array(("😀ab", 3L), ("ab😀", 3L), ("😀😁", 2L))
    assert(BpeTrainer.fitOnDriver(supp, 10, 1L) == BpeTrainer.fitOnDriverRecount(supp, 10, 1L))
  }

  test("heap encode equals sequential rank-order apply on trained tables") {
    val rnd = new scala.util.Random(77)
    for (trial <- 0 until 15) {
      val alphabet = "abcde".take(2 + rnd.nextInt(4))
      val corpusWords = (0 until 30).map { _ =>
        (0 until (1 + rnd.nextInt(8))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val vocab = corpusWords.groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toArray
      val merges = BpeTrainer.fitOnDriver(vocab, 1 + rnd.nextInt(60), 1L).toArray
      val ranks = BpeModel.rankMap(merges)
      // training words AND unseen words from the same alphabet
      val unseen = (0 until 30).map { _ =>
        (0 until (1 + rnd.nextInt(12))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      for (w <- corpusWords ++ unseen :+ "" :+ alphabet.take(1)) {
        val h = BpeModel.encodeWordHeap(w, ranks)
        val s = BpeModel.encodeWordSequential(w, merges)
        assert(h == s, s"trial $trial word '$w': heap $h vs sequential $s (merges ${merges.toSeq})")
      }
    }
    // supplementary characters must stay one symbol through the heap path
    val table = Array(("😀", "x"))
    assert(BpeModel.encodeWordHeap("😀x", BpeModel.rankMap(table)) == Seq("😀x"))
  }

  test("BpeModel save/load round-trips merges and params") {
    import spark.implicits._
    val model = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
      .setNumMerges(2).fit(Seq("low low lower").toDF("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    model.save(dir)
    val loaded = BpeModel.load(spark, dir)
    assert(loaded.getOutputCol == "bpe")
    val df = Seq("low").toDF("text")
    assert(loaded.transform(df).head.select("bpe").head().getSeq[String](0) ==
      model.transform(df).head.select("bpe").head().getSeq[String](0))
  }

  test("the distributed rounds read the corpus once") {
    import org.apache.spark.sql.functions.{col, udf}
    // every corpus row the fit evaluates is counted: a round whose parent
    // is freed before the round is stored recomputes from the corpus
    val rows = spark.sparkContext.longAccumulator("corpus rows")
    val text = udf { (i: Long) =>
      rows.add(1)
      Seq("lowest", "newer", "wider", "lower", "abc" + (i % 13)).mkString(" ")
    }
    for (batch <- Seq(1, 8)) {
      rows.reset()
      val corpus = spark.range(0, 400, 1, 4).select(text(col("id")).as("text"))
      val t = new BpeTrainer().setInputCol("text").setOutputCol("bpe")
        .setNumMerges(12).setBatchSize(batch).setDriverWordLimit(0L)
      t.fit(corpus)
      assert(t.lastFitRounds > 1, s"batchSize=$batch")
      assert(rows.value == 400, s"batchSize=$batch evaluated ${rows.value} corpus rows")
    }
  }
}
