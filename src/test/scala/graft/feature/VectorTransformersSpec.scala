package graft.feature

import org.apache.spark.ml.linalg.{DenseVector, SparseVector, Vector, Vectors}
import org.apache.spark.sql.DataFrame
import graft.SparkSpec

class VectorTransformersSpec extends SparkSpec {

  test("Binarizer thresholds numeric and vector columns") {
    import spark.implicits._
    val df = Seq(
      (1.0, Vectors.dense(1.0, 2.0, 3.0)),
      (5.0, Vectors.dense(0.0, 0.1, 7.0))).toDF("num", "vec")
    val b = new Binarizer().setInputCols("num", "vec").setOutputCols("bnum", "bvec")
      .setThresholds(2.0, 1.5)
    val rows = b.transform(df).head.select("bnum", "bvec").collect()
    assert(rows(0).getDouble(0) == 0.0)
    assert(rows(0).getAs[Vector](1) == Vectors.dense(0.0, 1.0, 1.0))
    assert(rows(1).getDouble(0) == 1.0)
    assert(rows(1).getAs[Vector](1) == Vectors.dense(0.0, 0.0, 1.0))
  }

  test("Binarizer sparse keeps only above-threshold entries") {
    import spark.implicits._
    val df = Seq(Tuple1(Vectors.sparse(5, Array(1, 3), Array(0.5, 4.0)).asInstanceOf[Vector]))
      .toDF("vec")
    val b = new Binarizer().setInputCols("vec").setOutputCols("b").setThresholds(1.0)
    val got = b.transform(df).head.select("b").collect().head.getAs[Vector](0)
    assert(got == Vectors.sparse(5, Array(3), Array(1.0)))
  }

  test("Bucketizer maps values to buckets; keep sends invalid to extra bucket") {
    import spark.implicits._
    val df = Seq(-0.5, 0.2, 1.5, Double.NaN, 99.0).toDF("f")
    val b = new Bucketizer().setInputCols("f").setOutputCols("bkt")
      .setSplitsArray(Array(Array(-1.0, 0.0, 1.0, 2.0)))
      .setHandleInvalid("keep")
    val got = b.transform(df).head.select("bkt").as[Double].collect().toSeq
    assert(got == Seq(0.0, 1.0, 2.0, 3.0, 3.0))
  }

  test("Bucketizer skip drops invalid rows; boundary values") {
    import spark.implicits._
    val df = Seq(0.0, 2.0, 3.0).toDF("f")
    val b = new Bucketizer().setInputCols("f").setOutputCols("bkt")
      .setSplitsArray(Array(Array(0.0, 1.0, 2.0)))
      .setHandleInvalid("skip")
    val got = b.transform(df).head.select("bkt").as[Double].collect().toSeq
    // 0.0 → bucket 0; 2.0 is the last split → bucket 1; 3.0 dropped
    assert(got == Seq(0.0, 1.0))
  }

  test("Normalizer p-norms") {
    import spark.implicits._
    val df = Seq(Tuple1(Vectors.dense(3.0, 4.0))).toDF("input")
    val got = new Normalizer().setP(2).transform(df).head
      .select("output").collect().head.getAs[Vector](0)
    assert(got.toArray.zip(Array(0.6, 0.8)).forall { case (a, b) => math.abs(a - b) < 1e-12 })
    val got1 = new Normalizer().setP(1).transform(df).head
      .select("output").collect().head.getAs[Vector](0)
    assert(math.abs(got1.toArray.map(math.abs).sum - 1.0) < 1e-12)
  }

  test("ElementwiseProduct multiplies by scaling vector") {
    import spark.implicits._
    val df = Seq(Tuple1(Vectors.dense(1.0, 2.0, 3.0))).toDF("input")
    val got = new ElementwiseProduct().setScalingVec(Vectors.dense(2.0, 0.0, -1.0))
      .transform(df).head.select("output").collect().head.getAs[Vector](0)
    assert(got == Vectors.dense(2.0, 0.0, -3.0))
  }

  test("Interaction: scalar x vec x vec dense, reference expected values") {
    import spark.implicits._
    val df = Seq(
      (1.0, Vectors.dense(1.0, 2.0), Vectors.dense(3.0, 4.0)),
      (2.0, Vectors.dense(2.0, 8.0), Vectors.dense(3.0, 4.0, 5.0))).toDF("f0", "f1", "f2")
    val got = new Interaction().setInputCols("f0", "f1", "f2").setOutputCol("out")
      .transform(df).head.select("out").collect().map(_.getAs[Vector](0))
    // reference InteractionTest EXPECTED_DENSE_OUTPUT
    assert(got(0) == Vectors.dense(3.0, 4.0, 6.0, 8.0))
    assert(got(1) == Vectors.dense(12.0, 16.0, 20.0, 48.0, 64.0, 80.0))
  }

  test("Interaction with sparse input, reference expected values") {
    import spark.implicits._
    val df = Seq((
      2.0, Vectors.dense(2.0, 8.0), Vectors.dense(3.0, 4.0, 5.0),
      Vectors.sparse(17, Array(0, 2, 14), Array(5.0, 4.0, 1.0)).asInstanceOf[Vector]))
      .toDF("f0", "f1", "f2", "f3")
    val got = new Interaction().setInputCols("f0", "f1", "f2", "f3").setOutputCol("out")
      .transform(df).head.select("out").collect().map(_.getAs[Vector](0))
    val exp = Vectors.sparse(102,
      Array(0, 2, 14, 17, 19, 31, 34, 36, 48, 51, 53, 65, 68, 70, 82, 85, 87, 99),
      Array(60.0, 48.0, 12.0, 80.0, 64.0, 16.0, 100.0, 80.0, 20.0, 240.0, 192.0, 48.0,
        320.0, 256.0, 64.0, 400.0, 320.0, 80.0))
    assert(got(0) == exp)
  }

  test("PolynomialExpansion degree 2 and 3") {
    val v = Vectors.dense(2.0, 3.0)
    val e2 = PolynomialExpansion.expand(v, 2)
    // spark.ml/reference ordering: x, x^2, y, xy, y^2
    assert(e2 == Vectors.dense(2.0, 4.0, 3.0, 6.0, 9.0))
    val e3 = PolynomialExpansion.expand(v, 3)
    assert(e3 == Vectors.dense(2.0, 4.0, 8.0, 3.0, 6.0, 12.0, 9.0, 18.0, 27.0))
  }

  test("PolynomialExpansion with zero elements keeps term positions") {
    // zero elements must not left-shift later terms (ADVICE round-2 high)
    assert(PolynomialExpansion.expand(Vectors.dense(0.0, 2.0), 2) ==
      Vectors.dense(0.0, 0.0, 2.0, 0.0, 4.0))
    assert(PolynomialExpansion.expand(Vectors.dense(2.0, 0.0), 2) ==
      Vectors.dense(2.0, 4.0, 0.0, 0.0, 0.0))
    assert(PolynomialExpansion.expand(Vectors.dense(0.0, 0.0, 3.0), 2) ==
      Vectors.dense(0.0, 0.0, 0.0, 0.0, 0.0, 3.0, 0.0, 0.0, 9.0))
    // sparse input goes through the same dense path
    assert(PolynomialExpansion.expand(Vectors.sparse(2, Array(1), Array(2.0)), 2) ==
      Vectors.dense(0.0, 0.0, 2.0, 0.0, 4.0))
  }

  test("DCT forward/inverse round trip and known values") {
    val x = Array(1.0, 2.0, 3.0, 4.0)
    val y = DCT.dct2(x)
    // DCT-II orthogonal: y0 = sum/sqrt(n) = 10/2 = 5
    assert(math.abs(y(0) - 5.0) < 1e-12)
    val back = DCT.dct3(y)
    x.indices.foreach(i => assert(math.abs(back(i) - x(i)) < 1e-10))
  }

  test("VectorAssembler assembles numerics and vectors; dense/sparse by ratio") {
    import spark.implicits._
    val df = Seq(
      (1.0, Vectors.dense(2.0, 3.0)),
      (4.0, Vectors.dense(5.0, 6.0))).toDF("num", "vec")
    val va = new VectorAssembler().setInputCols("num", "vec").setOutputCol("features")
      .setInputSizes(1, 2)
    val got = va.transform(df).head.select("features").collect().map(_.getAs[Vector](0))
    assert(got(0) == Vectors.dense(1.0, 2.0, 3.0))
    assert(got(1) == Vectors.dense(4.0, 5.0, 6.0))
  }

  test("VectorAssembler handleInvalid keep fills nulls with NaN; skip drops") {
    import spark.implicits._
    val df = Seq(
      (Some(1.0), Some(Vectors.dense(2.0, 3.0))),
      (None, Some(Vectors.dense(7.0, 8.0)))).toDF("num", "vec")
    val keep = new VectorAssembler().setInputCols("num", "vec").setOutputCol("f")
      .setInputSizes(1, 2).setHandleInvalid("keep")
    val gotK = keep.transform(df).head.select("f").collect().map(_.getAs[Vector](0))
    assert(gotK(1).toArray(0).isNaN && gotK(1).toArray(1) == 7.0)

    val skip = new VectorAssembler().setInputCols("num", "vec").setOutputCol("f")
      .setInputSizes(1, 2).setHandleInvalid("skip")
    assert(skip.transform(df).head.count() == 1)
  }

  // Exact layout of an output vector: its class, size, stored indices and
  // stored values. Double.toString round-trips every double, so equal
  // strings mean equal bits (NaN and -0.0 included).
  private def layout(v: Vector): (String, Int, Seq[Int], Seq[String]) = v match {
    case d: DenseVector  => ("dense", d.size, Nil, d.values.toSeq.map(_.toString))
    case s: SparseVector => ("sparse", s.size, s.indices.toSeq, s.values.toSeq.map(_.toString))
  }
  private def denseL(xs: Double*) = ("dense", xs.length, Nil, xs.map(_.toString))
  private def sparseL(size: Int, idx: Seq[Int], xs: Double*) = ("sparse", size, idx, xs.map(_.toString))

  private def assembled(df: DataFrame, invalid: String, sizes: Int*)(cols: String*) =
    new VectorAssembler().setInputCols(cols: _*).setOutputCol("out")
      .setInputSizes(sizes: _*).setHandleInvalid(invalid)
      .transform(df).head.orderBy("id").select("id", "out").collect()
      .map(r => r.getInt(0) -> layout(r.getAs[Vector](1))).toSeq

  test("VectorAssembler golden: every numeric type, dense and sparse inputs, explicit zeros") {
    import spark.implicits._
    val sv: Vector = Vectors.sparse(30, Array(1, 3), Array(7.0, 0.0))
    val dv30: Vector = Vectors.dense(Array.tabulate(30)(_ * 0.5))
    val df = Seq(
      (0, 1, 2L, 0.5f, BigDecimal("1.25"), 0.0, Vectors.dense(3.0, 0.0), sv),
      (1, -3, 1L << 40, -2.5f, BigDecimal("-0.75"), 1e-3, Vectors.dense(-1.0, 2.0), dv30))
      .toDF("id", "i", "l", "f", "dec", "d", "dv", "sv")
    val got = assembled(df, "error", 1, 1, 1, 1, 1, 2, 30)("i", "l", "f", "dec", "d", "dv", "sv")
    // row 0: 9 stored of 37 (9 · 1.5 <= 37) -> sparse; the zero numeric, the
    // dense input's zero and the sparse input's stored zero stay stored
    assert(got(0) == 0 -> sparseL(37, Seq(0, 1, 2, 3, 4, 5, 6, 8, 10),
      1.0, 2.0, 0.5, 1.25, 0.0, 3.0, 0.0, 7.0, 0.0))
    assert(got(1) == 1 -> denseL(
      Seq(-3.0, (1L << 40).toDouble, -2.5, -0.75, 1e-3, -1.0, 2.0) ++ (0 until 30).map(_ * 0.5): _*))
  }

  test("VectorAssembler golden keep: null numeric and vector, NaN, sizes taken from the value") {
    import spark.implicits._
    val df = Seq(
      (0, None, Some(Vectors.dense(1.0, 2.0)), 3.0),
      (1, Some(4.0), None, Double.NaN),
      (2, Some(0.0), Some(Vectors.sparse(5, Array(4), Array(9.0))), 0.0))
      .toDF("id", "a", "v", "b")
    // `a` is declared size 2: a null fills 2 slots, a present number takes 1;
    // a size-5 vector declared size 2 takes 5
    val got = assembled(df, "keep", 2, 2, 1)("a", "v", "b")
    assert(got == Seq(
      0 -> denseL(Double.NaN, Double.NaN, 1.0, 2.0, 3.0),
      1 -> denseL(4.0, Double.NaN, Double.NaN, Double.NaN),
      2 -> sparseL(7, Seq(0, 5, 6), 0.0, 9.0, 0.0)))
  }

  test("VectorAssembler golden skip: null, NaN and wrong-size rows are dropped") {
    import spark.implicits._
    val df = Seq(
      (0, None, Some(Vectors.dense(1.0, 2.0)), 3.0),
      (1, Some(1.0), None, 2.0),
      (2, Some(1.0), Some(Vectors.dense(1.0, 2.0)), Double.NaN),
      (3, Some(1.0), Some(Vectors.dense(1.0, 2.0, 3.0)), 2.0),
      (4, Some(5.0), Some(Vectors.sparse(2, Array(1), Array(6.0))), 0.0),
      (5, Some(0.0), Some(Vectors.sparse(2, Array.empty[Int], Array.empty[Double])), 0.0))
      .toDF("id", "a", "v", "b")
    assert(assembled(df, "skip", 1, 2, 1)("a", "v", "b") == Seq(
      4 -> denseL(5.0, 0.0, 6.0, 0.0),
      5 -> sparseL(4, Seq(0, 3), 0.0, 0.0)))
  }

  test("VectorAssembler golden error: the null, NaN and size-mismatch messages") {
    import spark.implicits._
    def messageOf(a: Option[Double], v: Vector, b: Double): Seq[String] = {
      val df = Seq((0, a, Option(v), b)).toDF("id", "a", "v", "b")
      val e = intercept[Exception](assembled(df, "error", 1, 2, 1)("a", "v", "b"))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      msgs(e)
    }
    val prefix = "Vector assembler failed with exception : java.lang.RuntimeException: "
    val cases = Seq(
      messageOf(None, Vectors.dense(1.0, 2.0), 3.0) ->
        "Input column value is null. Please check the input data or using handleInvalid = 'keep'.",
      messageOf(Some(1.0), Vectors.dense(1.0, 2.0), Double.NaN) ->
        "Encountered NaN while assembling a row with handleInvalid = 'error'.",
      messageOf(Some(1.0), Vectors.dense(1.0, 2.0, 3.0), 2.0) ->
        "Input vector/number size does not meet with expected. Expected size: 2, actual size: 3.")
    cases.foreach { case (msgs, expected) =>
      assert(msgs.contains(prefix + expected), msgs.mkString(" | "))
    }
  }

  test("Interaction golden: numeric, dense and sparse inputs; a null input gives null") {
    import spark.implicits._
    val df = Seq(
      (0, Option(2), Vectors.sparse(3, Array(0, 2), Array(2.0, 0.0)), Vectors.dense(1.0, -1.0)),
      (1, Option(3), Vectors.dense(1.0, 2.0, 0.0), Vectors.dense(0.5, 2.0)),
      (2, Option.empty[Int], Vectors.dense(1.0, 2.0, 0.0), Vectors.dense(0.5, 2.0)))
      .toDF("id", "i", "s", "d")
    val got = new Interaction().setInputCols("i", "s", "d").setOutputCol("out")
      .transform(df).head.orderBy("id").select("out").collect().map(_.getAs[Vector](0))
    // a sparse factor makes the product sparse, its stored zero (and the
    // -0.0 it makes) kept; all-dense factors make it dense
    assert(layout(got(0)) == sparseL(6, Seq(0, 1, 4, 5), 4.0, -4.0, 0.0, -0.0))
    assert(layout(got(1)) == denseL(1.5, 6.0, 3.0, 12.0, 0.0, 0.0))
    assert(got(2) == null)
  }

  test("VectorSlicer dense and sparse") {
    import spark.implicits._
    val df = Seq(
      Tuple1(Vectors.dense(1.0, 2.0, 3.0, 4.0).asInstanceOf[Vector]),
      Tuple1(Vectors.sparse(4, Array(1, 3), Array(5.0, 6.0)).asInstanceOf[Vector])).toDF("input")
    val got = new VectorSlicer().setIndices(3, 1).transform(df).head
      .select("output").collect().map(_.getAs[Vector](0))
    assert(got(0) == Vectors.dense(4.0, 2.0))
    assert(got(1) == Vectors.sparse(2, Array(0, 1), Array(6.0, 5.0)))
  }

  test("HashingTF counts and binary; deterministic bucket") {
    import spark.implicits._
    val df = Seq(Seq("a", "b", "a")).toDF("input")
    val tf = new HashingTF().setNumFeatures(16)
    val got = tf.transform(df).head.select("output").collect().head.getAs[Vector](0)
    assert(got.toArray.sum == 3.0)
    assert(got.toArray.max == 2.0) // "a" twice, same bucket
    val gotB = new HashingTF().setNumFeatures(16).setBinary(true)
      .transform(df).head.select("output").collect().head.getAs[Vector](0)
    assert(gotB.toArray.sum == 2.0)
  }

  test("FeatureHasher hashes numeric and categorical columns") {
    import spark.implicits._
    val df = Seq((2.2, true, "1", "foo")).toDF("real", "bool", "stringNum", "string")
    val fh = new FeatureHasher().setInputCols("real", "bool", "stringNum", "string")
      .setOutputCol("features").setNumFeatures(1000)
    val got = fh.transform(df).head.select("features").collect().head.getAs[Vector](0)
    val sv = got.asInstanceOf[SparseVector]
    assert(sv.size == 1000)
    assert(sv.values.count(_ == 1.0) == 3) // three categoricals
    assert(sv.values.contains(2.2))        // numeric value
  }

  test("SQLTransformer runs statement against __THIS__") {
    import spark.implicits._
    val df = Seq((0, 1.0, 3.0), (2, 2.0, 5.0)).toDF("id", "v1", "v2")
    val st = new SQLTransformer().setStatement(
      "SELECT *, (v1 + v2) AS v3, (v1 * v2) AS v4 FROM __THIS__")
    val got = st.transform(df).head
    assert(got.columns.toSeq == Seq("id", "v1", "v2", "v3", "v4"))
    assert(got.collect().map(_.getDouble(3)).toSeq == Seq(4.0, 7.0))
  }

  test("RandomSplitter splits with deterministic seed and roughly honors weights") {
    import spark.implicits._
    val df = spark.range(10000).toDF("id")
    val parts = new RandomSplitter().setWeights(0.8, 0.2).setSeed(42L).transform(df)
    assert(parts.length == 2)
    val n0 = parts(0).count(); val n1 = parts(1).count()
    assert(n0 + n1 == 10000)
    assert(math.abs(n0 / 10000.0 - 0.8) < 0.05)
    // deterministic given the seed
    val again = new RandomSplitter().setWeights(0.8, 0.2).setSeed(42L).transform(df)
    assert(again(0).count() == n0)
  }

  test("DCT cosTable: 32 racing first calls for one dim commit one table's bytes") {
    // The budget is reserved with addAndGet before building; losers of
    // the putIfAbsent race must roll their reservation back. Without
    // that, 32 racing first calls would commit 32× the bytes and
    // permanently burn the cache budget.
    val n = 1733 // distinct from every other test's dims → a true first call
    val before = DCT.cachedBytes.get()
    val ready = new java.util.concurrent.CountDownLatch(32)
    val go = new java.util.concurrent.CountDownLatch(1)
    val tables = new Array[Array[Double]](32)
    val threads = (0 until 32).map { i =>
      val t = new Thread(() => {
        ready.countDown(); go.await()
        tables(i) = DCT.cosTable(n)
      })
      t.start(); t
    }
    ready.await(); go.countDown()
    threads.foreach(_.join())
    // Every caller sees either the single winning instance or null (a
    // racer whose RESERVATION pushed past the cap before the winner's
    // rollback — it falls back to direct math.cos, same results).
    // NOTE: assert only on derived booleans — rendering a failed
    // assert over `tables` would stringify ~24 MB arrays.
    val winnerCount = tables.count(_ ne null)
    assert(winnerCount >= 1, "at least one racer must build the table")
    val head = tables.find(_ ne null).get
    val allWinnerOrNull = tables.forall(t => (t eq null) || (t eq head))
    assert(allWinnerOrNull, "every non-null result must be the one cached instance")
    // Exactly one table's bytes committed: every loser rolled back.
    val committed = DCT.cachedBytes.get() - before
    assert(committed == 8L * n * n)
    assert(DCT.cachedBytes.get() <= DCT.MaxCacheBytes)
  }

  test("DCT cosTable: concurrent distinct dims never overshoot the byte cap") {
    // 40 distinct ~1500-dim tables want ~724 MB total against a 512 MB
    // cap: some must be refused (null → direct math.cos fallback), and
    // the committed total must stay under the cap at all times.
    val dims = (1500 until 1540).toVector
    val ready = new java.util.concurrent.CountDownLatch(dims.size)
    val go = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val threads = dims.map { n =>
      val t = new Thread(() => {
        ready.countDown(); go.await()
        got.put(n, DCT.cosTable(n) ne null)
      })
      t.start(); t
    }
    ready.await(); go.countDown()
    threads.foreach(_.join())
    assert(DCT.cachedBytes.get() <= DCT.MaxCacheBytes)
    // a refused dim still computes correctly through the fallback path
    import org.apache.spark.ml.linalg.Vectors
    val x = Array.fill(8)(1.0)
    assert(math.abs(DCT.dct3(DCT.dct2(x)).sum - 8.0) < 1e-9)
  }

  test("Pipeline fit/transform chains stages and save/load round-trips") {
    import spark.implicits._
    val df = Seq("Hello World Spark").toDF("input")
    val p = new graft.api.Pipeline(Seq(
      new Tokenizer().setInputCol("input").setOutputCol("tokens"),
      new NGram().setInputCol("tokens").setOutputCol("grams")))
    val model = p.fit(df)
    val out = model.transform(df).head
    assert(out.select("grams").as[Seq[String]].collect().head == Seq("hello world", "world spark"))

    val dir = tmpDir()
    model.save(dir)
    val loaded = graft.api.PipelineModel.load(spark, dir)
    val out2 = loaded.transform(df).head
    assert(out2.select("grams").as[Seq[String]].collect().head == Seq("hello world", "world spark"))
  }
}
