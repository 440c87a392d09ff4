package graft.join

import graft.SparkSpec

class FuzzyJoinerSpec extends SparkSpec {

  private def joiner = new FuzzyJoiner().setIdCol("id").setInputCol("s")

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("hand-checked pairs at k=1: substitutions, indels, misses") {
    import spark.implicits._
    val l = Seq((1L, "kitten"), (2L, "flaw"), (3L, "abc")).toDF("id", "s")
    val r = Seq((10L, "mitten"), (11L, "flaws"), (12L, "xyz"), (13L, "kittin"))
      .toDF("id", "s")
    val out = joiner.setMaxDistance(1).transform(l, r).head
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(out == Set((1L, 10L, 1), (1L, 13L, 1), (2L, 11L, 1)))
  }

  test("differential vs brute force on random strings (both paths exercised)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def word(): String = {
      val n = 1 + rnd.nextInt(12) // 1..12 chars: spans short AND gram zones
      Array.fill(n)(('a' + rnd.nextInt(4)).toChar).mkString // small alphabet -> dense matches
    }
    val ls = (0 until 80).map(i => (i.toLong, word()))
    val rs = (0 until 80).map(i => (i.toLong + 1000, word()))
    val expected = (for {
      (li, lsr) <- ls; (ri, rsr) <- rs
      d = lev(lsr, rsr) if d <= 2
    } yield (li, ri, d)).toSet
    val got = joiner.setMaxDistance(2).setGramLength(2)
      .transform(ls.toDF("id", "s"), rs.toDF("id", "s")).head
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  test("k=0 degenerates to exact string equality") {
    import spark.implicits._
    val l = Seq((1L, "same"), (2L, "other")).toDF("id", "s")
    val r = Seq((10L, "same"), (11L, "sams")).toDF("id", "s")
    val out = joiner.setMaxDistance(0).transform(l, r).head
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(out == Set((1L, 10L)))
  }

  test("gram-3 differential on longer strings") {
    import spark.implicits._
    val base = "connecticut avenue northwest"
    val l = Seq((1L, base)).toDF("id", "s")
    val r = Seq((10L, base), (11L, base.replace("avenue", "avenoo")),
      (12L, "completely different street"), (13L, base + " apt 4")).toDF("id", "s")
    val out = joiner.setMaxDistance(3).setGramLength(3).transform(l, r).head
      .collect().map(x => (x.getLong(1), x.getInt(2))).toMap
    assert(out == Map(10L -> 0, 11L -> 2))
  }

  test("self-join fast path equals the two-sided path on identical inputs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def word(): String = {
      val n = 1 + rnd.nextInt(12) // spans the short AND gram zones
      Array.fill(n)(('a' + rnd.nextInt(4)).toChar).mkString
    }
    val rows = (0 until 80).map(i => (i.toLong, word()))
    val df = rows.toDF("id", "s")
    val j = joiner.setMaxDistance(2).setGramLength(2)
    // same object -> shared-table fast path
    val self = j.transform(df, df).head
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    // equal-but-distinct objects -> the general two-sided path
    val twoSided = j.transform(df, rows.toDF("id", "s")).head
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(self == twoSided,
      s"missing=${(twoSided -- self).take(5)} extra=${(self -- twoSided).take(5)}")
  }

  test("a self-join whose input raises in a job leaves nothing stored") {
    import org.apache.spark.sql.functions.{col, concat, lit, raise_error, when}
    // a range, repartitioned, so the raise runs in a job: over a local
    // relation the optimizer would fold the pushed-down null filter
    // (and raise) while the first cache is planned, before it exists
    val df = spark.range(0, 6, 1, 2).repartition(2)
      .select(col("id"), when(col("id") === 4L, raise_error(lit("bad row")))
        .otherwise(concat(lit("word"), col("id").cast("string"))).as("s"))
    val residue = residueOf {
      val e = intercept[Exception] { joiner.setMaxDistance(1).transform(df, df) }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("bad row")), e)
    }
    assert(residue == (Set.empty, false), s"a failing call left (RDDs, cache entry) $residue")
  }

  test("a self-join's result is the call's only storage: clearCache frees it") {
    import spark.implicits._
    val df = Seq((1L, "kitten"), (2L, "mitten"), (3L, "flaw"), (4L, "flaws")).toDF("id", "s")
    val residue = residueOf {
      joiner.setMaxDistance(1).transform(df, df).head
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    assert(residue == (Set.empty, false), s"clearCache left (RDDs, cache entry) $residue")
  }

  test("a self-join's result survives lost blocks: a read recomputes them from lineage") {
    import spark.implicits._
    val df = Seq((1L, "kitten"), (2L, "mitten"), (3L, "flaw"), (4L, "flaws"), (5L, "kittens"))
      .toDF("id", "s")
    val out = joiner.setMaxDistance(1).transform(df, df).head
    val rows = out.collect().toSet
    assert(rows.map(r => Set(r.getLong(0), r.getLong(1))).contains(Set(1L, 2L)))
    dropStoredBlocks(out)
    assert(out.collect().toSet == rows)
    out.unpersist(blocking = true)
  }

  test("param save/load round-trip") {
    val dir = tmpDir()
    joiner.setMaxDistance(3).setGramLength(4).save(dir)
    val back = FuzzyJoiner.load(spark, dir)
    assert(back.getMaxDistance == 3 && back.getGramLength == 4)
  }
}
