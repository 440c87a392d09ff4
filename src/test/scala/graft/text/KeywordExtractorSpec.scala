package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class KeywordExtractorSpec extends SparkSpec {

  test("matches a dense reference TextRank on a tiny corpus") {
    import spark.implicits._
    val docs = Seq("a b c", "a b", "c a").toDF("text")
    // adjacent pairs: (a,b) x2, (b,c), (c,a); symmetric weighted graph:
    //   a-b w2, b-c w1, c-a w1
    val words = Seq("a", "b", "c")
    val w = Map(
      ("a", "b") -> 2.0, ("b", "a") -> 2.0,
      ("b", "c") -> 1.0, ("c", "b") -> 1.0,
      ("c", "a") -> 1.0, ("a", "c") -> 1.0)
    val out = Map.from(words.map(u => u -> words.flatMap(v => w.get((u, v))).sum))
    var r = Map.from(words.map(_ -> 1.0 / 3))
    val d = 0.85
    for (_ <- 1 to 10) {
      r = Map.from(words.map { v =>
        v -> ((1 - d) / 3 + d * words.flatMap(u =>
          w.get((u, v)).map(wu => wu / out(u) * r(u))).sum)
      })
    }
    val got = new KeywordExtractor().setInputCol("text").setNumIter(10)
      .transform(docs).head.collect()
      .map(row => row.getString(0) -> row.getDouble(1)).toMap
    words.foreach { v =>
      assert(math.abs(got(v) - r(v)) < 1e-12, s"$v: ${got(v)} vs ${r(v)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // a and b are structurally symmetric (each: weight 2 to the other,
    // 1 to c) and tie exactly; both outrank the weakly-connected c
    assert(got("a") == got("b") && got("a") > got("c"))
  }

  test("topK keeps the highest-ranked words deterministically") {
    import spark.implicits._
    val docs = Seq("x y x y x y", "y z", "x w").toDF("text")
    val top = new KeywordExtractor().setInputCol("text").setTopK(2)
      .transform(docs).head.collect()
    assert(top.length == 2)
    assert(top.map(_.getString(0)).toSet == Set("x", "y"))
    assert(top(0).getDouble(1) >= top(1).getDouble(1))
  }

  test("empty/null docs contribute nothing; single-word docs have no pairs") {
    import spark.implicits._
    val docs = Seq(Some("solo"), Some(""), None, Some("  "), Some("p q"))
      .toDF("text")
    val got = new KeywordExtractor().setInputCol("text")
      .transform(docs).head.collect().map(_.getString(0)).toSet
    // "solo" never co-occurs -> not a graph vertex
    assert(got == Set("p", "q"))
  }

  test("tol early-stop converges; param save/load round-trip") {
    import spark.implicits._
    val docs = Seq("a b a b a b c d c d").toDF("text")
    val ke = new KeywordExtractor().setInputCol("text")
      .setNumIter(50).setTol(1e-9)
    val out = ke.transform(docs).head.collect()
    // the extractor's graph (adjacent word pairs, both directions) under
    // the same PageRank call stops early, and the extractor returns it
    val pairs = docs.select(explode(NgramLm.bigrams(NgramLm.tokens(col("text")))).as("p"))
    val pr = graft.graph.PageRank.run(pairs.select(col("p.w1").as("src"), col("p.w2").as("dst"))
        .union(pairs.select(col("p.w2").as("src"), col("p.w1").as("dst"))),
      numIter = 50, tol = 1e-9, idOut = "word", rankOut = "rank")
    assert(pr.rounds < 50)
    assert(out.map(r => r.getString(0) -> r.getDouble(1)).toMap ==
      pr.state.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap)
    pr.state.unpersist()
    assert(math.abs(out.map(_.getDouble(1)).sum - 1.0) < 1e-9)

    val dir = tmpDir()
    ke.setTopK(7).setDampingFactor(0.9).save(dir)
    val back = KeywordExtractor.load(spark, dir)
    assert(back.getTopK == 7 && back.getDampingFactor == 0.9 &&
      back.getNumIter == 50 && back.getTol == 1e-9)
  }
}
