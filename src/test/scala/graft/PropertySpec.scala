package graft

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property tests over ScalaCheck generators (SURVEY §5): algebraic
 * invariants that must hold for EVERY input, not just the pinned
 * fixtures — inverse pairs, idempotence, and output-range guarantees.
 * Deterministic: each case is drawn with an explicit per-iteration
 * Seed, so failures reproduce.
 */
class PropertySpec extends SparkSpec {

  private val Cases = 12

  private def draw[A](g: Gen[A], i: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(0xC0FFEEL + i))

  private val vecGen: Gen[Vector] = for {
    n <- Gen.choose(1, 6)
    xs <- Gen.listOfN(n, Gen.choose(-100.0, 100.0))
  } yield Vectors.dense(xs.toArray)

  private def vecsGen(dim: Int): Gen[List[Vector]] = for {
    m <- Gen.choose(2, 30)
    rows <- Gen.listOfN(m, Gen.listOfN(dim, Gen.choose(-50.0, 50.0)))
  } yield rows.map(r => Vectors.dense(r.toArray))

  test("vectorToArray ∘ arrayToVector is the identity") {
    import spark.implicits._
    (1 to Cases).foreach { i =>
      val vs = draw(Gen.listOfN(8, vecGen), i)
      val df = vs.map(Tuple1(_)).toDF("v")
      val back = df
        .select(graft.functions.Functions.arrayToVector(
          graft.functions.Functions.vectorToArray(col("v"))).as("rt"), col("v"))
        .collect()
      back.foreach(r => assert(r.getAs[Vector](0) == r.getAs[Vector](1)))
    }
  }

  test("DCT-III inverts DCT-II for every vector (cosine-table path)") {
    import spark.implicits._
    (1 to Cases).foreach { i =>
      val vs = draw(vecsGen(draw(Gen.choose(1, 12), i)), i)
      val df = vs.map(Tuple1(_)).toDF("v")
      val fwd = new graft.feature.DCT().setInputCol("v").setOutputCol("f")
        .transform(df).head
      val back = new graft.feature.DCT().setInverse(true)
        .setInputCol("f").setOutputCol("rt")
        .transform(fwd).head
        .select("v", "rt").collect()
      back.foreach { r =>
        val a = r.getAs[Vector](0).toArray
        val b = r.getAs[Vector](1).toArray
        a.indices.foreach(d => assert(math.abs(a(d) - b(d)) < 1e-9,
          s"dim $d: ${a(d)} vs ${b(d)}"))
      }
    }
  }

  test("NGram equals the idiomatic sliding-window formulation") {
    import spark.implicits._
    (1 to Cases).foreach { i =>
      val docs = draw(Gen.listOfN(10, Gen.listOfN(
        draw(Gen.choose(0, 9), i), Gen.identifier.map(_.take(5)))), i)
      val n = draw(Gen.choose(1, 4), i)
      val df = docs.map(Tuple1(_)).toDF("toks")
      val got = new graft.feature.NGram().setN(n)
        .setInputCol("toks").setOutputCol("g")
        .transform(df).head.select("toks", "g").collect()
      got.foreach { r =>
        val toks = r.getSeq[String](0)
        val expected =
          if (n > toks.length) Seq.empty[String]
          else toks.sliding(n).map(_.mkString(" ")).toSeq
        assert(r.getSeq[String](1) == expected, s"n=$n toks=$toks")
      }
    }
  }

  test("StringIndexer → IndexToString recovers every seen label") {
    import spark.implicits._
    val labelGen = Gen.listOfN(25, Gen.oneOf("a", "bb", "ccc", "d e", "Ω", "ζζ"))
    (1 to Cases).foreach { i =>
      val labels = draw(labelGen, 100 + i)
      val df = labels.toDF("s")
      val model = new graft.feature.StringIndexer()
        .setInputCols("s").setOutputCols("idx").fit(df)
      val back = new graft.feature.IndexToStringModel()
        .setInputCols("idx").setOutputCols("s2")
        .setModelData(model.getModelData: _*)
        .transform(model.transform(df).head).head
      back.select("s", "s2").collect()
        .foreach(r => assert(r.getString(0) == r.getString(1)))
    }
  }

  test("Normalizer(2) yields unit norms and is idempotent") {
    import spark.implicits._
    (1 to Cases).foreach { i =>
      val vs = draw(vecsGen(4), 200 + i).filter(v => Vectors.norm(v, 2) > 1e-9)
      if (vs.nonEmpty) {
        val df = vs.map(Tuple1(_)).toDF("v")
        val norm = new graft.feature.Normalizer().setInputCol("v").setOutputCol("n").setP(2.0)
        val once = norm.transform(df).head.select(col("n").as("v"))
        once.collect().foreach { r =>
          assert(math.abs(Vectors.norm(r.getAs[Vector](0), 2) - 1.0) < 1e-9)
        }
        val twice = norm.transform(once).head
        twice.collect().foreach { r =>
          val a = r.getAs[Vector](0).toArray
          val b = r.getAs[Vector](1).toArray
          a.indices.foreach(j => assert(math.abs(a(j) - b(j)) < 1e-12))
        }
      }
    }
  }

  test("MinMaxScaler maps every dimension into [min, max]") {
    import spark.implicits._
    (1 to Cases).foreach { i =>
      val vs = draw(vecsGen(3), 300 + i)
      val df = vs.map(Tuple1(_)).toDF("v")
      val out = new graft.feature.MinMaxScaler()
        .setInputCol("v").setOutputCol("s").setMin(0.0).setMax(1.0)
        .fit(df).transform(df).head
      out.select("s").collect().foreach { r =>
        r.getAs[Vector](0).toArray.foreach(x => assert(x >= -1e-12 && x <= 1 + 1e-12))
      }
    }
  }

  test("StandardScaler output has zero mean per dimension") {
    import spark.implicits._
    (1 to Cases).foreach { i =>
      val vs = draw(vecsGen(3), 400 + i)
      val df = vs.map(Tuple1(_)).toDF("v")
      val out = new graft.feature.StandardScaler()
        .setInputCol("v").setOutputCol("s").setWithMean(true).setWithStd(true)
        .fit(df).transform(df).head
      val rows = out.select("s").collect().map(_.getAs[Vector](0).toArray)
      val dim = rows.head.length
      (0 until dim).foreach { d =>
        val mean = rows.map(_(d)).sum / rows.length
        assert(math.abs(mean) < 1e-9, s"dim $d mean $mean")
      }
    }
  }

  test("Bucketizer assigns the interval containing the value") {
    import spark.implicits._
    val splits = Array(Double.NegativeInfinity, -10.0, 0.0, 5.0, Double.PositiveInfinity)
    (1 to Cases).foreach { i =>
      val xs = draw(Gen.listOfN(40, Gen.choose(-100.0, 100.0)), 500 + i)
      val df = xs.toDF("x")
      val out = new graft.feature.Bucketizer()
        .setInputCols("x").setOutputCols("b").setSplitsArray(Array(splits))
        .transform(df).head
      out.select("x", "b").collect().foreach { r =>
        val x = r.getDouble(0); val b = r.getDouble(1).toInt
        assert(x >= splits(b) && (b == splits.length - 2 || x < splits(b + 1)),
          s"x=$x bucket=$b")
      }
    }
  }

  test("ChunkSplitter with stride = chunkSize partitions the tokens exactly") {
    import spark.implicits._
    val wordGen = Gen.listOfN(1, Gen.oneOf("lorem", "ipsum", "dolor", "sit")).map(_.head)
    (1 to Cases).foreach { i =>
      val words = draw(Gen.choose(0, 50).flatMap(n => Gen.listOfN(n, wordGen)), 600 + i)
      val df = Seq((1L, words.mkString(" "))).toDF("id", "text")
      val out = new graft.text.ChunkSplitter()
        .setInputCol("text").setOutputCol("c").setChunkSize(7).setStride(7)
        .transform(df).head
        .select("chunk_index", "c").collect()
        .sortBy(_.getInt(0)).map(_.getString(1))
      val rebuilt = out.mkString(" ").split("\\s+").filter(_.nonEmpty).toList
      assert(rebuilt == words, s"rebuilt=$rebuilt words=$words")
    }
  }

  test("SequencePacker bins respect the budget and are contiguous per group") {
    import spark.implicits._
    val budget = 20
    (1 to Cases).foreach { i =>
      val rows = draw(
        Gen.listOfN(40, for {
          g <- Gen.oneOf("g1", "g2", "g3")
          n <- Gen.choose(0, 30)
        } yield (g, n)), 700 + i)
        .zipWithIndex.map { case ((g, n), id) => (id.toLong, g, ("w " * n).trim) }
      val df = rows.toDF("id", "src", "text")
      val out = new graft.text.SequencePacker()
        .setInputCol("text").setIdCol("id").setGroupCol("src").setTokenBudget(budget)
        .transform(df).head
        .select("src", "bin_index", "n_tokens").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      out.groupBy(t => (t._1, t._2)).foreach { case ((g, bin), members) =>
        val tot = members.map(_._3).sum
        // a bin may exceed the budget only for a single oversized doc
        // (zero-token docs may share it — they add nothing)
        assert(tot <= budget || members.count(_._3 > 0) == 1,
          s"group $g bin $bin holds $tot tokens across ${members.size} docs")
      }
      out.groupBy(_._1).foreach { case (g, members) =>
        val bins = members.map(_._2).distinct.sorted.toList
        assert(bins == (0L until bins.length).toList,
          s"group $g bins not contiguous: $bins")
      }
    }
  }

  test("StratifiedSampler fraction mode selects the same ids under any row order") {
    import spark.implicits._
    (1 to Cases).foreach { i =>
      val ids = draw(Gen.listOfN(60, Gen.choose(0L, 100000L)), 800 + i).distinct
      val df1 = ids.toDF("id")
      val df2 = ids.reverse.toDF("id").repartition(3)
      val s = new graft.feature.StratifiedSampler()
        .setIdCol("id").setFraction(0.4).setSeed(7L)
      def sel(df: org.apache.spark.sql.DataFrame) =
        s.transform(df).head.select("id").collect().map(_.getLong(0)).toSet
      assert(sel(df1) == sel(df2))
    }
  }

  test("MinHashIndexer: precision is exact, exact copies always recalled") {
    import spark.implicits._
    val universe = 60
    val setGen: Gen[Set[Int]] = for {
      n <- Gen.choose(4, 10)
      xs <- Gen.listOfN(n, Gen.choose(0, universe - 1))
    } yield xs.toSet
    def jaccardDist(a: Set[Int], b: Set[Int]): Double =
      1.0 - a.intersect(b).size.toDouble / a.union(b).size

    (1 to Cases).foreach { i =>
      val indexSets = (0 until 6).map(j => draw(setGen, i * 100 + j))
      val freshSets = (0 until 3).map(j => draw(setGen, i * 100 + 50 + j))
      def toVec(s: Set[Int]) =
        Vectors.sparse(universe, s.toArray.sorted, Array.fill(s.size)(1.0))
      val corpus = indexSets.zipWithIndex.map { case (s, j) => (j.toLong, toVec(s)) }
        .toDF("id", "features")
      // batch: one exact copy of an indexed doc + fresh random sets
      val batch = ((100L, toVec(indexSets.head)) +:
        freshSets.zipWithIndex.map { case (s, j) => (200L + j, toVec(s)) })
        .toDF("id", "features")
      val out = new graft.dedup.MinHashIndexer()
        .setInputCol("features").setOutputCol("hashes")
        .setNumHashTables(12).setThreshold(0.3).setSeed(i.toLong)
        .fit(corpus).transform(batch).head
        .select("id", "matched_id", "is_duplicate").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)),
          r.getBoolean(2)))

      out.foreach { case (id, matched, dup) =>
        val mySet = if (id == 100L) indexSets.head else freshSets((id - 200L).toInt)
        matched match {
          case Some(m) =>
            // precision: a reported match is a TRUE near-dup (the exact
            // Jaccard verify guarantees it regardless of banding luck)
            assert(dup)
            assert(jaccardDist(mySet, indexSets(m.toInt)) <= 0.3,
              s"case $i: id $id matched $m beyond threshold")
          case None =>
            assert(!dup)
            // an exact copy shares every signature: recall 1 by construction
            assert(id != 100L, s"case $i: exact copy not recalled")
        }
      }
    }
  }

  test("star contraction ≡ driver union-find on every random graph") {
    import spark.implicits._
    val edgeGen = for {
      n <- Gen.choose(5, 60)          // vertices
      m <- Gen.choose(4, 120)         // edges
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n.toLong), Gen.choose(0L, n.toLong)))
    } yield es.filter { case (a, b) => a != b }
    // plus a hub star: one vertex with 1,200 neighbours, a self-loop and
    // duplicate (also reversed) edges — one window partition holds the
    // whole component
    val hub = (1L to 1200L).map(v => (5000L, 5000L + v)) ++
      Seq((5000L, 5000L), (5000L, 5001L), (5002L, 5000L), (5003L, 5000L), (5003L, 5000L))
    val cases = (1 to 5).map(i => s"case $i" -> draw(edgeGen, 31L * i)) :+ ("hub star" -> hub)
    cases.foreach { case (name, es) =>
      if (es.nonEmpty) {
        val edges = es.toDF("src", "dst")
        val want = graft.dedup.ConnectedComponents.run(edges)       // driver union-find
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got = graft.dedup.ConnectedComponents.run(edges, driverEdgeLimit = 0)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === want, name)
      }
    }
  }

  test("RangeJoiner grid join ≡ plain overlap predicate for every bin width") {
    import spark.implicits._
    val ivGen = for {
      nl <- Gen.choose(3, 20)
      nr <- Gen.choose(3, 20)
      ls <- Gen.listOfN(nl, Gen.zip(Gen.choose(0L, 500L), Gen.choose(0L, 200L),
        Gen.choose(0L, 2L)))
      rs <- Gen.listOfN(nr, Gen.zip(Gen.choose(0L, 500L), Gen.choose(0L, 200L),
        Gen.choose(0L, 2L)))
      w <- Gen.oneOf(7L, 50L, 300L)
    } yield (ls, rs, w)
    (1 to 4).foreach { i =>
      val (ls, rs, w) = draw(ivGen, 77L * i)
      val left = ls.zipWithIndex
        .map { case ((s, len, k), j) => (j.toLong, s, s + len, k) }
        .toDF("lid", "start", "end", "k")
      val right = rs.zipWithIndex
        .map { case ((s, len, k), j) => (j.toLong, s, s + len, k) }
        .toDF("rid", "r_start", "r_end", "k")
      val got = new graft.join.RangeJoiner().setOnCols("k")
        .setLeftStartCol("start").setLeftEndCol("end")
        .setRightStartCol("r_start").setRightEndCol("r_end")
        .setValueCols("rid").setBinWidthMs(w).setMaxBinsPerInterval(1000)
        .transform(left, right).head
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = left.as("l").join(right.as("r"),
          col("l.k") === col("r.k") && col("l.start") <= col("r.r_end")
            && col("r.r_start") <= col("l.end"))
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, s"case $i (binWidth $w)")
    }
  }
}
