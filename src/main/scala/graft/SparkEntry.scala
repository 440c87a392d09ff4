package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.iteration.Loop

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one implemented operator from
  * SURVEY.md §2 against the driver testdata; `oracleSql` holds the
  * DuckDB-equivalent SQL for the hash-compare correctness gate.
  * Column names/aliases are kept identical on both sides.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** t() + scale-adaptive scan parallelization (round-16, guide §2.5
    * "one huge unsplittable file ... repartition immediately after the
    * read"): the testdata ships each table as ONE parquet row group,
    * so a scan yields one non-empty split and every map-side chain
    * over it (tokenize/shingle/hash/synthesize UDFs, vector math) runs
    * in a single task regardless of cores. When the table is too small
    * for the scan to fill the session's parallelism, redistribute by a
    * high-cardinality key column — hash placement, deterministic row
    * routing, and none of keyless repartition's sort-before-repartition
    * cost. At scale a table arrives as many splits and this is a
    * no-op. Used ONLY by order-INSENSITIVE queries (set-semantic
    * transforms): hash placement scrambles scan order, so consumers
    * whose results depend on row order (the online mini-batch family's
    * zipWithIndex batching) and partition-sensitive sketches
    * (percentile_approx fits) keep the raw t() scan.
    *
    * The gate is a driver-side file-size stat (round-17 ADVICE): the
    * old `df.rdd.getNumPartitions` probe counted total scan SPLITS —
    * a single-row-group file bigger than maxPartitionBytes reports
    * many mostly-empty partitions, silently no-opping the fix — and
    * forced a non-AQE physical plan per call. A table under one
    * maxPartitionBytes-sized split per core cannot fill the session's
    * parallelism, so `bytes < cores × maxPartitionBytes` decides; the
    * stat is a filesystem call, no Spark job, no plan forcing. */
  private def tp(spark: SparkSession, dir: String, name: String, key: String): DataFrame = {
    val df = t(spark, dir, name)
    val par = spark.sparkContext.defaultParallelism
    val path = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(path).getLength
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    if (bytes < par.toLong * maxSplit) df.repartition(par, col(key)) else df
  }

  /** events with a `tsm` epoch-milliseconds column. The generated
    * events.ts has shipped as TIMESTAMP(NANOS) in some testdata rounds
    * (readable only as a raw long via the legacy conf — nanos exceed
    * double precision) and TIMESTAMP(MICROS)/TimestampNTZ in others;
    * normalize either to the DuckDB oracle's `epoch_ms(ts)` under the
    * pinned UTC session. `div` truncates toward zero while epoch_ms
    * floors — identical for these post-1970 timestamps. */
  private def eventsTsm(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // no-op on micros files
    val ev = t(s, dir, "events")
    val tsm = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
      case _ => unix_millis(col("ts").cast("timestamp"))
    }
    ev.withColumn("tsm", tsm)
  }

  /** Flagship: the SURVEY §7.2 minimum slice — VectorAssembler →
    * StandardScaler → KMeans pipeline on sf0.001 lineitem; driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val pipeline = new graft.api.Pipeline(Seq(
      new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_extendedprice", "l_discount")
        .setOutputCol("raw").setInputSizes(1, 1, 1),
      new graft.feature.StandardScaler()
        .setInputCol("raw").setOutputCol("features"),
      new graft.clustering.KMeans().setK(4).setMaxIter(5).setSeed(42L)))
    val model = pipeline.fit(li)
    model.transform(li).head
      .groupBy("prediction").agg(count(lit(1)).as("n"), round(avg("l_quantity"), 4).as("avg_qty"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- SQLTransformer (full Spark SQL surface through one operator) ---
    "q_sql_pricing" -> ((s, dir) => {
      new graft.feature.SQLTransformer().setStatement(
        """SELECT l_returnflag, l_linestatus,
                  ROUND(SUM(l_quantity), 2) AS sum_qty,
                  ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                  ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                  COUNT(*) AS count_order
           FROM __THIS__
           GROUP BY l_returnflag, l_linestatus
           ORDER BY l_returnflag, l_linestatus""")
        .transform(t(s, dir, "lineitem")).head
    }),

    // --- Tokenizer ---
    "q_tokenizer" -> ((s, dir) => {
      val out = new graft.feature.Tokenizer()
        .setInputCol("text").setOutputCol("tokens")
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"))
    }),

    // --- RegexTokenizer ---
    "q_regex_tokenizer" -> ((s, dir) => {
      val out = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens")
        .setPattern("\\W+").setMinTokenLength(3)
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"))
    }),

    // --- NGram ---
    "q_ngram" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(t(s, dir, "documents")).head
      val grams = new graft.feature.NGram()
        .setInputCol("tokens").setOutputCol("grams").setN(2)
        .transform(toks).head
      grams.select(col("doc_id"), size(col("grams")).cast("long").as("n_grams"))
    }),

    // --- Binarizer ---
    "q_binarizer" -> ((s, dir) => {
      val out = new graft.feature.Binarizer()
        .setInputCols("l_discount").setOutputCols("high_discount")
        .setThresholds(0.05)
        .transform(t(s, dir, "lineitem")).head
      out.groupBy("high_discount")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))
    }),

    // --- Bucketizer ---
    "q_bucketizer" -> ((s, dir) => {
      val out = new graft.feature.Bucketizer()
        .setInputCols("l_quantity").setOutputCols("qty_bucket")
        .setSplitsArray(Array(Array(0.0, 10.0, 20.0, 30.0, 40.0, 51.0)))
        .setHandleInvalid("keep")
        .transform(t(s, dir, "lineitem")).head
      out.groupBy("qty_bucket").agg(count(lit(1)).as("n")).orderBy("qty_bucket")
    }),

    // --- StandardScaler ---
    "q_standard_scaler" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity").setOutputCol("features").setInputSizes(1)
        .transform(li).head
      val scaled = new graft.feature.StandardScaler()
        .setInputCol("features").setOutputCol("scaled").setWithMean(true)
        .fit(assembled).transform(assembled).head
      scaled.select(col("l_orderkey"), col("l_linenumber"),
        round(org.apache.spark.ml.functions.vector_to_array(col("scaled")).getItem(0), 4)
          .as("scaled_qty"))
    }),

    // --- MinMaxScaler ---
    "q_minmax_scaler" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_extendedprice").setOutputCol("features").setInputSizes(1)
        .transform(li).head
      val scaled = new graft.feature.MinMaxScaler()
        .setInputCol("features").setOutputCol("scaled")
        .fit(assembled).transform(assembled).head
      scaled.select(col("l_orderkey"), col("l_linenumber"),
        round(org.apache.spark.ml.functions.vector_to_array(col("scaled")).getItem(0), 6)
          .as("scaled_price"))
    }),

    // --- MaxAbsScaler ---
    "q_maxabs_scaler" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_discount").setOutputCol("features").setInputSizes(1)
        .transform(li).head
      val scaled = new graft.feature.MaxAbsScaler()
        .setInputCol("features").setOutputCol("scaled")
        .fit(assembled).transform(assembled).head
      scaled.select(col("l_orderkey"), col("l_linenumber"),
        round(org.apache.spark.ml.functions.vector_to_array(col("scaled")).getItem(0), 6)
          .as("scaled_disc"))
    }),

    // --- RobustScaler (exact-mode quantiles vs SQL rank oracle) ---
    "q_robust_scaler" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_extendedprice").setOutputCol("features").setInputSizes(1)
        .transform(li).head
      // relativeError 1e-7 ⇒ accuracy 1e7 ≫ n: the GK sketch degenerates
      // to exact quantiles, so a SQL rank-select oracle applies
      val scaled = new graft.feature.RobustScaler()
        .setInputCol("features").setOutputCol("scaled").setWithCentering(true)
        .setRelativeError(1e-7)
        .fit(assembled).transform(assembled).head
      scaled.select(col("l_orderkey"), col("l_linenumber"),
        round(org.apache.spark.ml.functions.vector_to_array(col("scaled")).getItem(0), 6)
          .as("scaled_price"))
    }),

    // --- Imputer (mean) ---
    "q_imputer" -> ((s, dir) => {
      val withNulls = new graft.feature.SQLTransformer().setStatement(
        """SELECT o_orderkey,
                  CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS price
           FROM __THIS__""")
        .transform(t(s, dir, "orders")).head
      val imputed = new graft.feature.Imputer()
        .setInputCols("price").setOutputCols("price_filled")
        .fit(withNulls).transform(withNulls).head
      imputed.select(col("o_orderkey"), round(col("price_filled"), 4).as("price_filled"))
    }),

    // --- StringIndexer (frequencyDesc) ---
    "q_string_indexer" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val model = new graft.feature.StringIndexer()
        .setInputCols("c_mktsegment").setOutputCols("seg_idx")
        .setStringOrderType("frequencyDesc").fit(cust)
      model.transform(cust).head
        .select("c_mktsegment", "seg_idx").distinct()
    }),

    // --- OneHotEncoder ---
    "q_onehot" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey").cast("double").as("rk"))
      val model = new graft.feature.OneHotEncoder()
        .setInputCols("rk").setOutputCols("hot").fit(nat)
      val out = model.transform(nat).head
      out.select(col("n_nationkey"),
        (array_position(org.apache.spark.ml.functions.vector_to_array(col("hot")), 1.0) - 1)
          .cast("long").as("hot_idx"))
    }),

    // --- CountVectorizer (vocabulary as term→index) ---
    "q_count_vectorizer" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(t(s, dir, "documents")).head
      val model = new graft.feature.CountVectorizer()
        .setVocabularySize(200).setInputCol("tokens").fit(toks)
      val vocab = model.getModelData.head.head().getSeq[String](0)
      import s.implicits._
      vocab.zipWithIndex.map { case (term, i) => (term, i.toLong) }.toDF("term", "idx")
    }),

    // --- IDF (per-term idf over the learned vocabulary) ---
    "q_idf" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(t(s, dir, "documents")).head
      val cv = new graft.feature.CountVectorizer()
        .setVocabularySize(200).setInputCol("tokens").setOutputCol("tf").fit(toks)
      val vecs = cv.transform(toks).head
      val idfModel = new graft.feature.IDF().setInputCol("tf").fit(vecs)
      val vocab = cv.getModelData.head.head().getSeq[String](0)
      val idf = idfModel.getModelData.head.head()
        .getAs[org.apache.spark.ml.linalg.Vector]("idf").toArray
      import s.implicits._
      vocab.zip(idf).map { case (term, w) =>
        (term, math.rint(w * 1e6) / 1e6) }.toDF("term", "idf")
    }),

    // --- KBinsDiscretizer (uniform) ---
    "q_kbins_uniform" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_extendedprice").setOutputCol("features").setInputSizes(1)
        .transform(li).head
      val model = new graft.feature.KBinsDiscretizer()
        .setStrategy("uniform").setNumBins(5)
        .setInputCol("features").setOutputCol("bins").fit(assembled)
      model.transform(assembled).head
        .select(org.apache.spark.ml.functions.vector_to_array(col("bins")).getItem(0).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n")).orderBy("bin")
    }),

    // --- KBinsDiscretizer (quantile; sample ≥ n ⇒ exact rank edges) ---
    "q_kbins_quantile" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_extendedprice").setOutputCol("features").setInputSizes(1)
        .transform(li).head
      val model = new graft.feature.KBinsDiscretizer()
        .setStrategy("quantile").setNumBins(5)
        .setInputCol("features").setOutputCol("bins").fit(assembled)
      model.transform(assembled).head
        .select(org.apache.spark.ml.functions.vector_to_array(col("bins")).getItem(0).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n")).orderBy("bin")
    }),

    // --- KBinsDiscretizer (kmeans; subSamples ≥ n ⇒ the "sample" is the
    // full column, making the seeded 1-D Lloyd fully deterministic) ---
    // NOTE: stays on the raw t() scan — the kmeans strategy fits on a
    // bounded SUBSAMPLE whose membership follows partition layout, so
    // parallelizing the scan changes the fitted boundaries (measured:
    // sf0.1 bin counts moved by ~11k rows under tp)
    "q_kbins_kmeans" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity").setOutputCol("features").setInputSizes(1)
        .transform(li).head
      val model = new graft.feature.KBinsDiscretizer()
        .setStrategy("kmeans").setNumBins(3)
        .setInputCol("features").setOutputCol("bins").fit(assembled)
      model.transform(assembled).head
        .select(org.apache.spark.ml.functions.vector_to_array(col("bins")).getItem(0).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as("n")).orderBy("bin")
    }),

    // --- Imputer (median, exact-mode quantile) ---
    "q_imputer_median" -> ((s, dir) => {
      val withNulls = new graft.feature.SQLTransformer().setStatement(
        """SELECT o_orderkey,
                  CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS price
           FROM __THIS__""")
        .transform(t(s, dir, "orders")).head
      val imputed = new graft.feature.Imputer()
        .setInputCols("price").setOutputCols("price_filled")
        .setStrategy("median").setRelativeError(1e-7)
        .fit(withNulls).transform(withNulls).head
      imputed.select(col("o_orderkey"), round(col("price_filled"), 4).as("price_filled"))
    }),

    // --- Imputer (most_frequent) ---
    "q_imputer_mode" -> ((s, dir) => {
      val withNulls = new graft.feature.SQLTransformer().setStatement(
        """SELECT l_orderkey, l_linenumber,
                  CASE WHEN l_quantity < 5 THEN NULL ELSE l_quantity END AS qty
           FROM __THIS__""")
        .transform(t(s, dir, "lineitem")).head
      val imputed = new graft.feature.Imputer()
        .setInputCols("qty").setOutputCols("qty_filled")
        .setStrategy("most_frequent")
        .fit(withNulls).transform(withNulls).head
      imputed.select(col("l_orderkey"), col("l_linenumber"),
        round(col("qty_filled"), 4).as("qty_filled"))
    }),

    // --- VarianceThresholdSelector (selected dims) ---
    "q_variance_selector" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1, 1)
        .transform(li).head
      val model = new graft.feature.VarianceThresholdSelector()
        .setVarianceThreshold(1.0).setInputCol("features").fit(assembled)
      val keep = model.getModelData.head.head().getSeq[Int](1)
      import s.implicits._
      keep.map(_.toLong).toDF("dim")
    }),

    // --- Functions: vectorToArray/arrayToVector round trip ---
    // (project a hashable scalar — the driver's pandas comparer cannot
    // hash a raw array column)
    "q_vector_functions" -> ((s, dir) => {
      graft.functions.Functions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_embeddings")
      s.sql("""SELECT vec_id,
                      ROUND(aggregate(
                        vectorToArray(arrayToVector(CAST(embedding AS ARRAY<DOUBLE>))),
                        CAST(0.0 AS DOUBLE), (a, x) -> a + x), 4) AS emb_sum,
                      size(vectorToArray(arrayToVector(CAST(embedding AS ARRAY<DOUBLE>))))
                        AS emb_len
               FROM graft_embeddings""")
    }),

    // --- Native codegen cosineSimilarity expression (SQL-registered) ---
    "q_cosine_fn" -> ((s, dir) => {
      graft.functions.Functions.register(s)
      t(s, dir, "embeddings").createOrReplaceTempView("graft_emb_cos")
      s.sql("""SELECT vec_id,
                      ROUND(cosineSimilarity(CAST(embedding AS ARRAY<DOUBLE>),
                                             reverse(CAST(embedding AS ARRAY<DOUBLE>))), 6)
                        AS cos_rev
               FROM graft_emb_cos""")
    }),

    // --- PolynomialExpansion (degree 2 on a vector with zero elements) ---
    "q_polynomial" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_discount", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      val out = new graft.feature.PolynomialExpansion()
        .setInputCol("features").setOutputCol("poly").setDegree(2)
        .transform(assembled).head
      val poly = org.apache.spark.ml.functions.vector_to_array(col("poly"))
      out.select(col("l_orderkey"), col("l_linenumber"),
        round(poly.getItem(0), 6).as("p_x"),
        round(poly.getItem(1), 6).as("p_x2"),
        round(poly.getItem(2), 6).as("p_y"),
        round(poly.getItem(3), 6).as("p_xy"),
        round(poly.getItem(4), 6).as("p_y2"))
    }),

    // --- Text quality statistics (pure-codegen projection) ---
    "q_text_stats" -> ((s, dir) => {
      val out = new graft.text.TextQualityScorer().setInputCol("text")
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), col("n_chars"), col("n_tokens"),
        round(col("mean_token_len"), 6).as("mean_token_len"),
        round(col("alpha_ratio"), 6).as("alpha_ratio"),
        round(col("punct_ratio"), 6).as("punct_ratio"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"),
        round(col("quality_score"), 6).as("quality_score"))
    }),

    // --- Language identification (stopword profiles) ---
    "q_lang_id" -> ((s, dir) => {
      val out = new graft.text.LanguageDetector().setInputCol("text")
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), col("detected_lang"), col("lang_hits_en"))
    }),

    // --- Token counting (whitespace / BPE-ish / chars-per-token estimate) ---
    "q_token_count" -> ((s, dir) => {
      val out = new graft.text.TokenCounter().setInputCol("text")
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens"), col("n_est_tokens"))
    }),

    // --- Winnowing document fingerprints (k-gram md5 + window min) ---
    // one row per (doc, fingerprint): the driver's pandas comparator
    // cannot sort array-valued cells, so the set is exploded
    "q_fingerprint" -> ((s, dir) => {
      val out = new graft.text.DocumentFingerprinter()
        .setK(5).setWindowSize(4)
        .setInputCol("text").setOutputCol("fingerprints")
        .transform(tp(s, dir, "documents", "doc_id")).head
      out.select(col("doc_id"), explode(col("fingerprints")).as("fingerprint"))
    }),

    // --- Gopher-style repetition statistics (in-row HOFs, zero shuffle) ---
    "q_repetition" -> ((s, dir) => {
      val out = new graft.text.RepetitionStats().setInputCol("text")
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), col("n_words"),
        round(col("distinct_word_ratio"), 6).as("distinct_word_ratio"),
        round(col("top_word_fraction"), 6).as("top_word_fraction"),
        round(col("dup_2gram_fraction"), 6).as("dup_2gram_fraction"),
        round(col("dup_3gram_fraction"), 6).as("dup_3gram_fraction"))
    }),

    // --- PII redaction (email/IP/phone planted deterministically per doc) ---
    "q_pii_redact" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("ptext",
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com at 10.1."), (col("doc_id") % 200).cast("string"),
          lit(".77 or +1 555 20"),
          lpad((col("doc_id") % 100).cast("string"), 2, "0")))
      val out = new graft.text.PiiRedactor()
        .setInputCol("ptext").setOutputCol("redacted")
        .transform(planted).head
      out.select(col("doc_id"), col("redacted"),
        col("n_emails"), col("n_ips"), col("n_phones"))
    }),

    // --- BM25 relevance ranking against a fixed query-term set ---
    "q_bm25" -> ((s, dir) => {
      val out = new graft.text.Bm25Scorer()
        .setInputCol("text").setIdCol("doc_id").setOutputCol("bm25_score")
        .setQueryTerms("table", "spark", "hash", "window")
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), round(col("bm25_score"), 6).as("bm25_score"))
    }),

    // --- Bigram-LM perplexity quality scoring (CCNet-style) ---
    "q_ngram_lm" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val model = new graft.text.NgramLm()
        .setInputCol("text").setOutputCol("ppl").setSmoothing(0.1)
        .fit(docs)
      val out = model.setIdCol("doc_id").transform(docs).head
      out.select(col("doc_id"),
        round(col("ppl_bits"), 6).as("ppl_bits"),
        round(col("ppl"), 2).as("ppl"))
    }),

    // --- Connected components as a first-class operator: chains of 5
    // consecutive event ids (diameter 4 — real multi-hop propagation),
    // forced through the DISTRIBUTED loop (driverEdgeLimit 0 disables
    // the small-graph union-find fast path; default algorithm = the
    // Kiveris large-star/small-star contraction); the oracle knows
    // each chain's component in closed form ---
    "q_connected_components" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = ev.where(col("event_id") % 5 =!= 0)
        .select(col("event_id").as("src"), (col("event_id") - 1).as("dst"))
      graft.dedup.ConnectedComponents.run(edges, "src", "dst",
          maxIter = 50, driverEdgeLimit = 0L).state
        .select(col("id"), col("component"))
    }),

    // --- same graph through the min-label loop, so BOTH distributed
    // algorithms stay oracle-gated (default above is the star
    // contraction) ---
    "q_cc_minlabel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = ev.where(col("event_id") % 5 =!= 0)
        .select(col("event_id").as("src"), (col("event_id") - 1).as("dst"))
      graft.dedup.ConnectedComponents.run(edges, "src", "dst",
          maxIter = 50, driverEdgeLimit = 0L, algorithm = "minlabel").state
        .select(col("id"), col("component"))
    }),

    // --- PageRank over a deterministic hub graph (srcs = non-%7
    // event ids, dsts = (id*31) mod 1000 hubs, ~140 dangling hubs):
    // 3 fixed iterations, dangling mass redistributed — the oracle
    // replays the power iteration as chained CTEs; ranks rounded at
    // 1e-10 (abs error across engines is ~1e-18 from sum-order) ---
    "q_pagerank" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = ev.where(col("event_id") % 7 =!= 0)
        .select(col("event_id").as("src"), (col("event_id") * 31 % 1000).as("dst"))
      graft.graph.PageRank.run(edges, "src", "dst", dampingFactor = 0.85, numIter = 3).state
        .select(col("id"), round(col("pagerank"), 10).as("pagerank"))
    }),

    // --- Personalized PageRank: teleport concentrated on a seed set
    // (vertices ≡ 0 mod 10) — the seed-relative centrality a curation
    // pipeline ranks hosts with from a trusted whitelist. Same graph
    // as q_pagerank; the oracle replays 3 power iterations with the
    // seed teleport vector (dangling mass returns to the seeds). ---
    "q_personalized_pagerank" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = ev.where(col("event_id") % 7 =!= 0)
        .select(col("event_id").as("src"), (col("event_id") * 31 % 1000).as("dst"))
      val seeds = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id")))
        .where(col("id") % 10 === 0).distinct()
      graft.graph.PageRank.runPersonalized(edges, seeds, numIter = 3).state
        .select(col("id"), round(col("pagerank"), 10).as("pagerank"))
    }),

    // --- Semantic communities: the SemDeDup-shaped composition — an
    // exact cosine top-5 kNN graph over the embeddings (self-edges
    // dropped), then synchronous label propagation groups vectors
    // into similarity communities. CC would merge everything
    // reachable; LPA keeps dense cores apart — the distinction that
    // matters on a near-dup graph with weak bridges. Oracle replays
    // the brute-force top-k (the q_ann_cosine CTE) and 3 LPA rounds. ---
    "q_semantic_communities" -> ((s, dir) => {
      val emb = tp(s, dir, "embeddings", "vec_id")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val knn = new graft.ann.BruteForceCosineKnn()
        .setIdCol("vec_id").setVecCol("vec").setK(6)
        .transform(emb, emb).head
        .where(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      graft.graph.LabelPropagation.run(knn, numIter = 3).state
    }),

    // --- Label propagation (community detection): synchronous LPA
    // with min-label tie-breaks over the symmetrized q_pagerank graph;
    // 3 deterministic rounds, exact integer-count replay in SQL. ---
    "q_label_prop" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = ev.where(col("event_id") % 7 =!= 0)
        .select(col("event_id").as("src"), (col("event_id") * 31 % 1000).as("dst"))
      graft.graph.LabelPropagation.run(edges, numIter = 3).state
    }),

    // --- Directed label propagation: same graph, but votes flow
    // along edge direction only (no symmetrize) — vertices with no
    // in-edges keep their own label forever. Exercises the
    // directed=true branch end-to-end against the same exact
    // integer-count CTE replay with the symmetrize step dropped. ---
    "q_label_prop_directed" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = ev.where(col("event_id") % 7 =!= 0)
        .select(col("event_id").as("src"), (col("event_id") * 31 % 1000).as("dst"))
      graft.graph.LabelPropagation.run(edges, numIter = 3, directed = true).state
    }),

    // --- HITS hubs/authorities on the same directed graph: 2
    // synchronous L1-normalized iterations (the linear iteration makes
    // per-step scaling ranking-neutral, and L1 keeps both columns
    // summing to 1 and the replay exact); the oracle replays both
    // half-steps per iteration as chained CTEs. ---
    "q_hits" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = ev.where(col("event_id") % 7 =!= 0)
        .select(col("event_id").as("src"), (col("event_id") * 31 % 1000).as("dst"))
      graft.graph.Hits.run(edges, numIter = 2).state
        .select(col("id"), round(col("hub"), 10).as("hub"),
          round(col("authority"), 10).as("authority"))
    }),

    // --- Weighted label propagation: same graph, edge weight
    // src % 3 + 1 — votes are weight SUMS (integer-valued, so the
    // replay stays exact); a heavy edge outvotes multiplicity. ---
    "q_label_prop_weighted" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val edges = ev.where(col("event_id") % 7 =!= 0)
        .select(col("event_id").as("src"), (col("event_id") * 31 % 1000).as("dst"))
        .withColumn("w", (col("src") % 3 + 1).cast("double"))
      graft.graph.LabelPropagation.run(edges, numIter = 3, weightCol = "w").state
    }),

    // --- TextRank keywords over the corpus word-co-occurrence graph:
    // 3 fixed PageRank iterations on the symmetrized adjacent-pair
    // list; the oracle rebuilds the same graph from the text and
    // replays the power iteration as chained CTEs (the q_pagerank
    // pattern — a symmetric graph has no dangling mass, and rounding
    // at 1e-10 absorbs sum-order ulps) ---
    "q_keywords" -> ((s, dir) => {
      new graft.text.KeywordExtractor().setInputCol("text").setNumIter(3)
        .transform(tp(s, dir, "documents", "doc_id")).head
        .select(col("word"), round(col("rank"), 10).as("rank"))
    }),

    // --- Stopword-composed TextRank: real corpora are stopword-
    // dominated and KeywordExtractor deliberately delegates filtering
    // upstream — this query PROVES the composition (StopWordsRemover →
    // re-joined text → KeywordExtractor). The split mirrors
    // NgramLm.tokens exactly, so removal changes adjacency the way the
    // operator sees it (dropping a stopword welds its neighbors into a
    // new co-occurrence pair). 'a'/'the' are the corpus's only
    // stopwords (the q_stopwords finding); caseSensitive pins the
    // oracle's exact IN-list semantics ---
    "q_keywords_filtered" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
        .withColumn("toks", when(length(trim(col("text"))) === 0,
            array().cast("array<string>"))
          .otherwise(split(trim(col("text")), "\\s+")))
      val filtered = new graft.feature.StopWordsRemover()
        .setInputCols("toks").setOutputCols("kept")
        .setStopWords(Array("a", "the")).setCaseSensitive(true)
        .transform(docs).head
        .withColumn("kept_text", concat_ws(" ", col("kept")))
      new graft.text.KeywordExtractor().setInputCol("kept_text").setNumIter(3)
        .transform(filtered).head
        .select(col("word"), round(col("rank"), 10).as("rank"))
    }),

    // --- Cross-source corpus overlap matrix: the corpus has no
    // natural cross-source exact dups, so a planted "zz_eval" source
    // (every 10th doc re-labeled) provides the nonzero overlap — the
    // realistic decontamination-planning shape (eval set vs sources) ---
    "q_corpus_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val eval = docs.where(col("doc_id") % 10 === 0).withColumn("source", lit("zz_eval"))
      new graft.text.CorpusOverlap().setInputCol("text").setSourceCol("source")
        .transform(docs.unionByName(eval)).head
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("shared"),
          round(col("jaccard"), 6).as("jaccard"))
    }),

    // --- Gopher quality rules (Rae et al. 2021 Appendix A): the
    // published hard-rule bundle, one boolean per rule; minWords
    // lowered to 30 so the rule splits this corpus (docs are 10-99
    // words) ---
    "q_gopher" -> ((s, dir) => {
      // minWords 30 and stopword-hits 1: the synthetic corpus is
      // tech-jargon word soup (10-99 words, at most one of the 8
      // Gopher stopwords), so the published defaults would fail every
      // row and prove nothing
      new graft.text.GopherFilter().setInputCol("text").setMinWords(30)
        .setMinStopwordHits(1)
        .transform(t(s, dir, "documents")).head
        .select(col("doc_id"), col("rule_word_count"), col("rule_mean_word_len"),
          col("rule_symbol_ratio"), col("rule_bullet_lines"), col("rule_ellipsis_lines"),
          col("rule_alpha_words"), col("rule_stopwords"), col("gopher_keep"))
    }),

    // --- C4 cleaning rules (Raffel et al. 2020 §2.2) over a
    // synthetic multi-line page per doc: the constant lines exercise
    // every LINE rule (terminal punct, min words, javascript) and
    // doc_id-gated lines exercise both PAGE rules ---
    "q_c4_filter" -> ((s, dir) => {
      val page = concat_ws("\n",
        concat(col("text"), lit(".")),
        lit("Too short."),
        lit("no terminal punctuation on this line at all"),
        lit("Enable javascript to view this site properly."),
        when(col("doc_id") % 7 === 0,
          lit("this page has lorem ipsum placeholder text inside."))
          .otherwise(lit("A perfectly fine closing sentence sits right here.")),
        when(col("doc_id") % 11 === 0,
          lit("code with a { brace drops the whole page."))
          .otherwise(lit("Another good ending sentence stands right here!")))
      new graft.text.C4Filter().setInputCol("page")
        .transform(t(s, dir, "documents").withColumn("page", page)).head
        .select(col("doc_id"),
          col("n_lines_kept"), col("n_sentences"),
          col("rule_min_sentences"), col("rule_not_banned"), col("c4_keep"),
          md5(to_binary(col("c4_text"), lit("utf-8"))).as("c4_md5"))
    }),

    // --- Join-skew diagnosis: exact top-10 heavy keys per column over
    // the event stream (user_id and event_type), counts + row share +
    // rank; ONE pass + per-column TakeOrdered ---
    "q_skew_report" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      new graft.stats.SkewReport().setKeyCols("user_id", "event_type").setTopK(10)
        .transform(ev).head
        .select(col("column"), col("key"), col("n"),
          round(col("share"), 6).as("share"), col("rank"))
    }),

    // --- Corpus collocations: every adjacent word pair scored by PMI
    // and Dunning's G² from one bigram groupBy; minCount 5 bounds the
    // output by integer counts alone (no float-boundary top-k), topK
    // left above the pair count ---
    "q_collocations" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      new graft.text.CollocationScorer().setInputCol("text")
        .setMinCount(5L).setTopK(1000000)
        .transform(docs).head
        .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
          round(col("pmi"), 6).as("pmi"), round(col("llr"), 6).as("llr"))
    }),

    // --- Per-user time-grid resampling of the event stream: 6h grid
    // from each user's first to last event, last-in-bucket wins,
    // unlimited forward-fill; the oracle replays the gaps-and-islands
    // window + generate_series fill ---
    "q_resample" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      new graft.feature.Resampler()
        .setKeyCol("user_id").setTimeCol("ts").setValueCols("value")
        .setStepMs(21600000L)
        .transform(ev).head
        .select("user_id", "ts", "is_observed", "value")
    }),

    // --- Z-order (Morton) value for multi-dimensional data skipping:
    // (doc_id, length(text)) bucketized to 8 bits each from their
    // global min/max and bit-interleaved — the exact per-row z-value
    // the clustered writer sorts files by; the oracle replays the
    // bucketize + 16-term interleave bit-for-bit ---
    "q_zorder" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), length(col("text")).as("tl"))
      graft.sources.ZOrderWriter.withZValue(docs, Seq("doc_id", "tl"), bits = 8, zCol = "zvalue")
        .select("doc_id", "zvalue")
    }),

    // --- JSONL corpus ingest round-trip: documents written as JSONL
    // shards, a planted corrupt line, read back through CorpusReader's
    // pinned-schema/corrupt-routing path; every text round-trips
    // byte-identically (md5) and the bad line lands in the corrupt
    // channel, not the records (rows_match would catch a leak) ---
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text", "source")
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      docs.coalesce(2).write.mode("overwrite").json(s"$tmp/corpus")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/corpus/zz_corrupt.json"),
        "{this line is not valid json\n")
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string").add("source", "string")
      val (records, corrupt) = graft.sources.CorpusReader.jsonl(s, s"$tmp/corpus", schema)
      val nCorrupt = corrupt.count()
      records.select(col("doc_id"),
        md5(to_binary(col("text"), lit("utf-8"))).as("text_md5"),
        col("source"), lit(nCorrupt).cast("long").as("n_corrupt"))
    }),

    // --- canonical text normalization (pre-fingerprint convention):
    // planted control chars, accents, case, and whitespace runs ---
    "q_normalize" -> ((s, dir) => {
      val dirty = concat(lit("  Héllo\tWörld "), upper(col("text")),
        lit("  à LA ÑOÑO "))
      new graft.text.TextNormalizer().setInputCol("dirty").setOutputCol("norm")
        .transform(t(s, dir, "documents").withColumn("dirty", dirty)).head
        .select(col("doc_id"),
          md5(to_binary(col("norm"), lit("utf-8"))).as("norm_md5"),
          length(col("norm")).cast("int").as("n_chars"))
    }),

    // --- DSIR importance scoring (Xie et al. 2023): log-likelihood
    // ratio of each doc under the English-target bigram LM vs the
    // raw-corpus LM, bits per bigram; the data-selection score a
    // target-domain pretraining mix ranks by ---
    "q_dsir" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val target = docs.where(col("lang") === "en")
      new graft.text.ImportanceScorer()
        .setInputCol("text").setOutputCol("dsir_score").setIdCol("doc_id")
        .transform(docs, target).head
        .select(col("doc_id"), col("lang"),
          round(col("dsir_score"), 6).as("dsir_score"))
    }),

    // --- hashed-LM DSIR against the SAME exact-count oracle: at
    // Int.MaxValue buckets the ~46k corpus bigrams hash collision-
    // free, so the bounded tables must reproduce the exact scores ---
    "q_dsir_hashed" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val target = docs.where(col("lang") === "en")
      new graft.text.ImportanceScorer()
        .setInputCol("text").setOutputCol("dsir_score").setIdCol("doc_id")
        .setHashBuckets(Int.MaxValue)
        .transform(docs, target).head
        .select(col("doc_id"), col("lang"),
          round(col("dsir_score"), 6).as("dsir_score"))
    }),

    // --- Sliding-window token chunking for embedding pipelines ---
    "q_chunks" -> ((s, dir) => {
      val out = new graft.text.ChunkSplitter()
        .setInputCol("text").setOutputCol("chunk_text")
        .setChunkSize(32).setStride(16)
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), col("chunk_index").cast("long").as("chunk_index"),
        col("chunk_text"), col("chunk_tokens").cast("long").as("chunk_tokens"))
    }),

    // --- Greedy token-budget sequence packing per source ---
    "q_seq_pack" -> ((s, dir) => {
      val out = new graft.text.SequencePacker()
        .setInputCol("text").setIdCol("doc_id").setGroupCol("source")
        .setTokenBudget(512)
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), col("source"), col("n_tokens"), col("bin_index"))
    }),

    // --- packed training rows: SequencePacker bins materialized as
    // one EOS-joined text row per bin (what a trainer actually reads) ---
    "q_pack_text" -> ((s, dir) => {
      val packed = new graft.text.SequencePacker()
        .setInputCol("text").setIdCol("doc_id").setGroupCol("source")
        .setTokenBudget(512)
        .transform(t(s, dir, "documents")).head
      packed.groupBy(col("source"), col("bin_index"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").as("bin_tokens"),
          array_join(
            org.apache.spark.sql.functions.transform(
              sort_array(collect_list(struct(col("doc_id"), col("text")))),
              e => e.getField("text")),
            " <eos> ").as("packed_text"))
    }),

    // --- end-to-end corpus curation: ExactDeduplicator →
    // TextQualityScorer filter → StratifiedSampler → SequencePacker,
    // all four operators chained under one oracle ---
    "q_curate" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val deduped = new graft.text.ExactDeduplicator()
        .setIdCol("doc_id").setInputCol("text")
        .transform(docs).head
        .where(!col("is_exact_duplicate"))
        .drop("content_fingerprint", "canonical_id", "is_exact_duplicate")
      val quality = new graft.text.TextQualityScorer().setInputCol("text")
        .transform(deduped).head
        .where(col("quality_score") >= 0.5)
        // SequencePacker appends its own n_tokens; keep only the score
        .drop("n_chars", "n_tokens", "mean_token_len", "alpha_ratio",
          "punct_ratio", "stopword_ratio")
      val mixed = new graft.feature.StratifiedSampler()
        .setIdCol("doc_id").setSeed(7L).setFraction(0.7)
        .transform(quality).head
      val packed = new graft.text.SequencePacker()
        .setInputCol("text").setIdCol("doc_id").setGroupCol("source")
        .setTokenBudget(512)
        .transform(mixed).head
      packed.select(col("doc_id"), col("source"), col("n_tokens"),
        col("bin_index"), round(col("quality_score"), 6).as("quality_score"))
    }),

    // --- reproducible corpus shuffle into training shards ---
    "q_shuffle" -> ((s, dir) => {
      new graft.feature.DeterministicShuffler()
        .setIdCol("doc_id").setSeed(123L).setNumShards(4)
        .transform(t(s, dir, "documents")).head
        .select(col("doc_id"), col("shard").cast("long").as("shard"), col("shard_pos"))
    }),

    // --- CCNet-style perplexity-bucketed mixing: NgramLm → Bucketizer →
    // WeightedMixer composed (head kept, middle halved, tail decimated) ---
    "q_ccnet" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val lm = new graft.text.NgramLm()
        .setInputCol("text").setOutputCol("ppl").setSmoothing(0.1).fit(docs)
      val scored = lm.setIdCol("doc_id").transform(docs).head
        .where(col("ppl").isNotNull)
      val bucketed = new graft.feature.Bucketizer()
        .setInputCols("ppl").setOutputCols("bkt")
        .setSplitsArray(Array(Array(Double.NegativeInfinity, 29.2, 30.0,
          Double.PositiveInfinity)))
        .transform(scored).head
        .withColumn("bucket", col("bkt").cast("int").cast("string"))
      new graft.feature.WeightedMixer()
        .setIdCol("doc_id").setStratumCol("bucket").setSeed(99L)
        .setWeights("0" -> 1.0, "1" -> 0.5, "2" -> 0.1)
        .transform(bucketed).head
        .select(col("doc_id"), col("bucket"), round(col("ppl"), 2).as("ppl"))
    }),

    // --- Distributed BPE vocabulary training (2 unrolled merges) ---
    "q_bpe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = new graft.text.BpeTrainer()
        .setInputCol("text").setOutputCol("bpe").setNumMerges(2)
        .fit(docs)
      val ms = model.getModelData.head.orderBy("rank").collect()
        .map(r => r.getString(1) + "+" + r.getString(2))
      model.transform(docs).head
        .select(col("doc_id"),
          col("bpe_count").as("n_subwords"),
          lit(ms(0)).as("merge1"), lit(ms(1)).as("merge2"))
    }),

    // --- Batched DISTRIBUTED BPE must learn the SAME merges
    // (batchSize > 1 takes the safe non-conflicting prefix per round;
    // driverWordLimit 0 forces the distributed rounds, since the
    // default would route this corpus to the driver-side loop that
    // q_bpe already gates); shares q_bpe's sequential-replay oracle,
    // so the equivalence guarantee sits under the driver's
    // correctness gate ---
    "q_bpe_batched" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = new graft.text.BpeTrainer()
        .setInputCol("text").setOutputCol("bpe").setNumMerges(2).setBatchSize(8)
        .setDriverWordLimit(0L)
        .fit(docs)
      val ms = model.getModelData.head.orderBy("rank").collect()
        .map(r => r.getString(1) + "+" + r.getString(2))
      model.transform(docs).head
        .select(col("doc_id"),
          col("bpe_count").as("n_subwords"),
          lit(ms(0)).as("merge1"), lit(ms(1)).as("merge2"))
    }),

    // --- C4-style corpus-level line dedup (planted boilerplate lines) ---
    "q_line_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("ptext",
        concat(lit("doc "), col("doc_id").cast("string"), lit(" "),
          substring(col("text"), 1, 40), lit("\n"),
          lit("subscribe to our newsletter"), lit("\n"),
          lit("promo "), (col("doc_id") % 7).cast("string"), lit("\n"),
          when(col("doc_id") % 5 === 0,
            concat(lit("rare line "), col("doc_id").cast("string")))
            .otherwise(lit("footer common"))))
      new graft.text.LineDeduplicator()
        .setIdCol("doc_id").setInputCol("ptext").setOutputCol("clean")
        .transform(planted).head
        .select("doc_id", "clean", "n_lines", "n_removed")
    }),

    // --- Corpus-wide frequent n-grams (heavy hitters, sketch→recount) ---
    "q_frequent_ngrams" -> ((s, dir) => {
      val toks = t(s, dir, "documents").select(
        expr("filter(split(lower(text), '\\\\W+'), x -> x != '')").as("toks"))
      new graft.text.FrequentNgrams().setN(3).setMinCount(5L)
        .setInputCol("toks").transform(toks).head
        .select(col("gram"), col("cnt"))
    }),

    // --- Span-level exact-substring dedup (planted shared passages) ---
    "q_span_dedup" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("ptext",
        concat(substring(col("text"), 1, 80),
          when(col("doc_id") % 3 === 0,
            lit(" alpha beta gamma delta epsilon zeta eta theta iota kappa"))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            lit(" omega psi chi phi upsilon tau sigma rho pi omicron"))
            .otherwise(lit(""))))
      val out = new graft.dedup.SpanDeduplicator().setN(8)
        .setIdCol("doc_id").setInputCol("ptext").setOutputCol("clean")
        .transform(planted).head
      out.select(col("doc_id"), col("dup_windows"), col("dup_spans"),
        col("dup_tokens"))
    }),

    // --- PCA at full rank: orthogonal projection preserves centered
    // norms, which a SQL engine can verify without eigenvectors ---
    "q_pca" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val dim = emb.head().getAs[org.apache.spark.ml.linalg.Vector]("vec").size
      val model = new graft.feature.PCA()
        .setInputCol("vec").setOutputCol("proj").setK(dim).fit(emb)
      model.transform(emb).head
        .select(col("vec_id"),
          round(aggregate(org.apache.spark.ml.functions.vector_to_array(col("proj")),
            lit(0.0), (acc, x) => acc + x * x), 3).as("sq_norm"))
    }),

    // --- Distribution drift between two event windows (PSI + binned KS) ---
    "q_drift" -> ((s, dir) => {
      val e = eventsTsm(s, dir).withColumn("tsm", col("tsm").cast("double"))
      val ref = e.where(col("user_id") % 2 === 0)
      val cur = e.where(col("user_id") % 2 === 1)
      new graft.stats.DriftDetector().setFeatureCols("value", "tsm").setNumBins(10)
        .transform(ref, cur).head
        .select(col("feature"), round(col("psi"), 6).as("psi"),
          round(col("ks"), 6).as("ks"), col("n_ref"), col("n_cur"))
    }),

    // --- Regression evaluation: rmse/mae/r2/mape in one agg pass ---
    "q_regression_eval" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("value").isNotNull)
        .select(col("value").cast("double").as("label"),
          (col("value") * 0.9 + 5.0).cast("double").as("prediction"))
      new graft.evaluation.RegressionEvaluator().transform(ev).head
        .select(col("n"), round(col("rmse"), 6).as("rmse"),
          round(col("mae"), 6).as("mae"), round(col("r2"), 6).as("r2"),
          round(col("mape"), 6).as("mape"))
    }),

    // --- Multiclass evaluation: per-class confusion metrics over a
    // deterministic 4-class labeling of events ---
    "q_multiclass_eval" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        (col("user_id") % 4).cast("double").as("label"),
        ((col("user_id") + col("event_id")) % 4).cast("double").as("prediction"))
      new graft.evaluation.MulticlassEvaluator().transform(ev).head
        .select(col("clazz"), col("tp"), col("support"), col("predicted"),
          round(col("precision"), 6).as("precision"),
          round(col("recall"), 6).as("recall"),
          round(col("f1"), 6).as("f1"))
    }),

    // --- Epoch mixing: upsample rare sources (2.5 epochs of src0),
    // keep src1 at 1x, drop src2, quarter-sample the rest ---
    "q_epoch_mix" -> ((s, dir) => {
      new graft.feature.EpochMixer()
        .setIdCol("doc_id").setStratumCol("source").setSeed(42L)
        .setWeights("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.0)
        .setDefaultWeight(0.25)
        .transform(t(s, dir, "documents")).head
        .select(col("doc_id"), col("source"), col("epoch"))
    }),

    // --- Binned interval join: clicks attributed to the 1h window
    // after each purchase (equi-join on time bins, never a nested loop) ---
    "q_interval_join" -> ((s, dir) => {
      val ev = eventsTsm(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("tsm"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsm").as("w_start"),
          (col("tsm") + 3600000L).as("w_end"), round(col("value"), 6).as("purchase_value"))
      new graft.join.IntervalJoiner()
        .setOnCols("user_id").setLeftTimeCol("tsm")
        .setRightStartCol("w_start").setRightEndCol("w_end")
        .setValueCols("purchase_value").setBinWidthMs(3600L * 1000)
        .transform(clicks, windows).head
        .select(col("event_id"), col("w_start"), col("purchase_value"))
    }),

    // --- interval-OVERLAP join (RangeJoiner): 30-min click sessions
    // against 1-h purchase windows, keyed by user; the binned grid
    // join must reproduce the exact overlap predicate pair-for-pair ---
    "q_range_join" -> ((s, dir) => {
      val ev = eventsTsm(s, dir)
      val sessions = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          col("tsm").as("s_start"), (col("tsm") + 1800000L).as("s_end"))
      val windows = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsm").as("w_start"),
          (col("tsm") + 3600000L).as("w_end"), round(col("value"), 6).as("purchase_value"))
      new graft.join.RangeJoiner()
        .setOnCols("user_id")
        .setLeftStartCol("s_start").setLeftEndCol("s_end")
        .setRightStartCol("w_start").setRightEndCol("w_end")
        .setValueCols("purchase_value").setBinWidthMs(3600L * 1000)
        .transform(sessions, windows).head
        .select(col("event_id"), col("w_start"), col("purchase_value"))
    }),

    // --- Per-source corpus composition report (quality x dedup x
    // token mass — the "what is in this corpus" dashboard query) ---
    "q_corpus_report" -> ((s, dir) => {
      val scored = new graft.text.TextQualityScorer().setInputCol("text")
        .transform(t(s, dir, "documents")).head
      val deduped = new graft.text.ExactDeduplicator()
        .setIdCol("doc_id").setInputCol("text").transform(scored).head
      deduped.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("content_fingerprint")).as("n_distinct_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("quality_score"), 6).as("mean_quality"),
        round(avg("stopword_ratio"), 6).as("mean_stopword_ratio"))
    }),

    // --- Streaming deduplicator, batch mode (same state function the
    // unbounded path runs; first = min id, occurrence ordinals) ---
    "q_stream_dedup" -> ((s, dir) => {
      new graft.streaming.StreamingDeduplicator()
        .setIdCol("doc_id").setInputCol("text")
        .transform(t(s, dir, "documents")).head
        .select(col("doc_id"), col("content_fingerprint"),
          col("canonical_id"), col("is_duplicate"), col("occurrence"))
    }),

    // --- Native session_window aggregation (streaming-capable path) ---
    "q_session_agg" -> ((s, dir) => {
      val ev = eventsTsm(s, dir)
      new graft.streaming.Sessionizer()
        .setKeyCols("user_id").setTimeCol("tsm").setGapMs(3600L * 1000)
        .sessions(ev)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
    }),

    // --- Exact dedup by normalized content hash ---
    "q_exact_dedup" -> ((s, dir) => {
      val out = new graft.text.ExactDeduplicator()
        .setIdCol("doc_id").setInputCol("text")
        .transform(t(s, dir, "documents")).head
      out.select(col("doc_id"), col("content_fingerprint"),
        col("canonical_id"), col("is_exact_duplicate"))
    }),

    // --- Exact n-gram Jaccard join (prefix filtering, recall 1) ---
    "q_ngram_jaccard" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(tp(s, dir, "documents", "doc_id")).head
      val grams = new graft.feature.NGram()
        .setInputCol("tokens").setOutputCol("shingles").setN(3)
        .transform(toks).head
      new graft.dedup.NgramJaccardJoin()
        .setIdCol("doc_id").setInputCol("shingles").setThreshold(0.5)
        .transform(grams).head
        .select(col("id_a"), col("id_b"), round(col("similarity"), 6).as("similarity"))
    }),

    // --- SimHash near-dup pairs (banded Hamming join over 3-gram shingles) ---
    // The oracle is the exact-Jaccard pair set: on this corpus the
    // planted near-dups (distance ≤ 0.1) sit within ~10 SimHash bits
    // while unrelated docs are ~32 bits apart, so a Hamming cut at 15
    // (16 bands × 4 bits — wide recall, weaker per-band pruning; use
    // fewer bands for tighter thresholds) recovers exactly the
    // Jaccard ≤ 0.5 pairs.
    "q_simhash" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(tp(s, dir, "documents", "doc_id")).head
      val grams = new graft.feature.NGram()
        .setInputCol("tokens").setOutputCol("shingles").setN(3)
        .transform(toks).head
        .where(size(col("shingles")) > 0)
      val hasher = new graft.dedup.SimHasher()
        .setInputCol("shingles").setOutputCol("fp")
      // persist the slim hashed projection: it feeds the banded join
      // AND both sides of the exact-Jaccard check below — uncached, the
      // tokenize→shingle→fingerprint chain would re-run per consumer
      val hashed = hasher.transform(grams).head
        .select("doc_id", "shingles", "fp")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val candidates = hasher.similarityJoin(hashed, "doc_id", maxHamming = 15, numBands = 16)
      // exact-Jaccard verification of the Hamming candidates (same
      // candidates → true-distance shape as the MinHash join; SimHash
      // of very short docs is noisy, so the cheap exact check on the
      // tiny candidate set removes hash-coincidence pairs)
      val sets = hashed.select(col("doc_id"), array_distinct(col("shingles")).as("sg"))
      val jac = udf { (a: Seq[String], b: Seq[String]) =>
        val sa = a.toSet; val sb = b.toSet
        1.0 - sa.intersect(sb).size.toDouble / sa.union(sb).size
      }
      candidates
        .join(sets.select(col("doc_id").as("id_a"), col("sg").as("sg_a")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), col("sg").as("sg_b")), "id_b")
        .where(jac(col("sg_a"), col("sg_b")) <= 0.5)
        .select(col("id_a"), col("id_b"))
    }),

    // --- Persisted IVF index: fit once, probe distributed (equi-join
    // on the cell id, no query collect); same pinned codebook and
    // semantics as q_ann_ivf, so the same SQL replay is the oracle ---
    "q_ivf_index" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val init = emb.where(col("vec_id").isin(3, 99, 201, 350))
        .select((row_number().over(org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1)
          .as("centroidId"), col("vec").as("centroid"))
      val data = emb.where(col("vec_id") % 10 =!= 0)
      val queries = emb.where(col("vec_id") % 10 === 0)
      val model = new graft.ann.IvfIndexer().setIdCol("vec_id").setVecCol("vec")
        .setTrainIters(0).setInitialCentroids(init).fit(data)
      model.setK(5).setNprobe(2).transform(queries).head
        .select(col("query_id"), col("neighbor_id"),
          round(col("similarity"), 6).as("similarity"))
    }),

    // --- IVF + int8 scalar quantization (FAISS IVF+SQ8): same pinned
    // codebook as q_ivf_index, but the inverted lists store 1-byte
    // codes; probes score the full-precision query against the
    // DEQUANTIZED list vector (asymmetric distance computation). The
    // oracle replays the per-dim [min,max] encode/decode exactly ---
    "q_ivf_quantized" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val init = emb.where(col("vec_id").isin(3, 99, 201, 350))
        .select((row_number().over(org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1)
          .as("centroidId"), col("vec").as("centroid"))
      val data = emb.where(col("vec_id") % 10 =!= 0)
      val queries = emb.where(col("vec_id") % 10 === 0)
      val model = new graft.ann.IvfIndexer().setIdCol("vec_id").setVecCol("vec")
        .setTrainIters(0).setInitialCentroids(init).setQuantize(true).fit(data)
      model.setK(5).setNprobe(2).transform(queries).head
        .select(col("query_id"), col("neighbor_id"),
          round(col("similarity"), 6).as("similarity"))
    }),

    // --- Product quantization codec (Jégou et al. 2011, FAISS PQ):
    // 8 subspaces of 8 dims, codebooks PINNED to the subvectors of
    // four data vectors so DuckDB replays encode + reconstruction
    // exactly. Output: per-vector code array + reconstruction error ---
    "q_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("arr"))
      import s.implicits._
      val pinned = emb.where(col("vec_id").isin(3L, 99L, 201L, 350L))
        .orderBy("vec_id").collect()
        .map(_.getSeq[Double](1).toArray)
      val books = for (m <- 0 until 8; c <- pinned.indices) yield
        (m, c, pinned(c).slice(m * 8, (m + 1) * 8).toSeq)
      val booksDf = books.toDF("m", "code", "centroid")
      val model = new graft.ann.ProductQuantizer()
        .setInputCol("arr").setOutputCol("codes").setNumSubspaces(8)
        .setInitialCodebooks(booksDf)
        .fit(emb)
      // One scalar row per (vector, subspace): array cells break the
      // driver's pandas comparator (same reshape as q_quantize), so the
      // code array is posexploded and recon_err repeated per row.
      model.transform(emb).head
        .select(col("vec_id"),
          expr("transform(codes, c -> cast(c as int) + 128)").as("c"),
          round(sqrt(expr(
            "aggregate(zip_with(arr, codes_dequant, (a, b) -> (a - b) * (a - b)), " +
              "cast(0.0 as double), (acc, x) -> acc + x)")), 6).as("recon_err"))
        .select(col("vec_id"), col("recon_err"), posexplode(col("c")).as(Seq("m", "code")))
        .select(col("vec_id"), col("m").cast("int").as("m"),
          col("code").cast("int").as("code"), col("recon_err"))
    }),

    // --- IVF + PQ (FAISS IVFPQ): coarse cells from the pinned
    // codebook (as q_ivf_index), lists as one byte per subspace, probe
    // via ADC (sum of per-subspace partial dot products against the
    // pinned PQ codebooks); similarity = cosine(query, reconstruction) ---
    "q_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("arr"),
          org.apache.spark.ml.functions.array_to_vector(
            col("embedding").cast("array<double>")).as("vec"))
      val init = emb.where(col("vec_id").isin(3, 99, 201, 350))
        .select((row_number().over(org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1)
          .as("centroidId"), col("vec").as("centroid"))
      import s.implicits._
      val pinned = emb.where(col("vec_id").isin(3L, 99L, 201L, 350L))
        .orderBy("vec_id").collect()
        .map(_.getSeq[Double](1).toArray)
      val books = for (m <- 0 until 8; c <- pinned.indices) yield
        (m, c, pinned(c).slice(m * 8, (m + 1) * 8).toSeq)
      val booksDf = books.toDF("m", "code", "centroid")
      val data = emb.where(col("vec_id") % 10 =!= 0).select("vec_id", "vec")
      val queries = emb.where(col("vec_id") % 10 === 0).select("vec_id", "vec")
      val model = new graft.ann.IvfIndexer().setIdCol("vec_id").setVecCol("vec")
        .setTrainIters(0).setInitialCentroids(init)
        .setQuantizer("pq").setPqSubspaces(8).setInitialPqCodebooks(booksDf)
        .fit(data)
      model.setK(5).setNprobe(2).transform(queries).head
        .select(col("query_id"), col("neighbor_id"),
          round(col("similarity"), 6).as("similarity"))
    }),

    // --- Brute-force cosine top-k neighbors over embeddings ---
    "q_ann_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val data = emb.where(col("vec_id") % 10 =!= 0)
      val queries = emb.where(col("vec_id") % 10 === 0)
      new graft.ann.BruteForceCosineKnn().setIdCol("vec_id").setVecCol("vec").setK(5)
        .transform(data, queries).head
        .select(col("query_id"), col("neighbor_id"),
          round(col("similarity"), 6).as("similarity"))
    }),

    // --- LSH-bucketed cosine neighbors (approximate scale path; rows-only) ---
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val data = emb.where(col("vec_id") % 10 =!= 0)
      val queries = emb.where(col("vec_id") % 10 === 0)
      new graft.ann.CosineLshKnn().setIdCol("vec_id").setVecCol("vec")
        .setK(5).setSeed(2022L).setNumPlanes(8)
        .transform(data, queries).head
        .select(col("query_id"), col("neighbor_id"),
          round(col("similarity"), 6).as("similarity"))
    }),

    // --- int8 scalar quantization of the embedding corpus ---
    // one row per (vector, dimension): array cells break the driver's
    // pandas comparator, so codes/dequant are exploded positionally
    "q_quantize" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = new graft.ann.ScalarQuantizer()
        .setInputCol("embedding").setOutputCol("codes").fit(emb)
      model.transform(emb).head
        .select(col("vec_id"),
          col("codes").cast("array<int>").as("c"),
          org.apache.spark.sql.functions.transform(col("codes_dequant"),
            x => round(x, 6)).as("d"))
        .select(col("vec_id"), col("d"), posexplode(col("c")).as(Seq("dim", "code")))
        .select(col("vec_id"), col("dim").cast("int").as("dim"), col("code"),
          element_at(col("d"), col("dim") + 1).as("dequant"))
    }),

    // --- deterministic per-source mixing rates ---
    "q_mixer" -> ((s, dir) => {
      new graft.feature.WeightedMixer()
        .setIdCol("doc_id").setStratumCol("source").setSeed(77L)
        .setWeights("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.0)
        .setDefaultFraction(0.6)
        .transform(t(s, dir, "documents")).head
        .select("doc_id", "source")
    }),

    // --- IVF ANN: fixed codebook (4 corpus vectors), nprobe=2 ---
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val init = emb.where(col("vec_id").isin(3, 99, 201, 350))
        .select((row_number().over(org.apache.spark.sql.expressions.Window.orderBy("vec_id")) - 1)
          .as("centroidId"), col("vec").as("centroid"))
      val data = emb.where(col("vec_id") % 10 =!= 0)
      val queries = emb.where(col("vec_id") % 10 === 0)
      new graft.ann.IvfCosineKnn().setIdCol("vec_id").setVecCol("vec")
        .setK(5).setNprobe(2).setTrainIters(0).setInitialCentroids(init)
        .transform(data, queries).head
        .select(col("query_id"), col("neighbor_id"),
          round(col("similarity"), 6).as("similarity"))
    }),

    // --- Embedding near-dup dedup: sign-LSH bands + cosine + CC ---
    "q_embedding_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      new graft.dedup.CosineDeduplicator()
        .setIdCol("vec_id").setInputCol("vec")
        .setSeed(2022L).setNumHashTables(8).setNumPlanes(8)
        .setMinSimilarity(0.45)
        .transform(emb).head
        .select(col("vec_id"), col("canonical_id"), col("is_duplicate"))
    }),

    // --- Corpus mixture analysis: cluster the embedding space around
    // four seed documents (assignment counts under the seeds, plus the
    // one-step-refined centroid norms) — the domain-share statistic a
    // mixture-balancing pipeline feeds back into WeightedMixer ---
    "q_embedding_clusters" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val init = emb.where(col("vec_id").isin(3L, 99L, 201L, 350L))
        .orderBy("vec_id")
        .select(col("vec"))
        .collect().zipWithIndex
      import s.implicits._
      val initDf = init.map { case (r, i) =>
        (i, r.getAs[org.apache.spark.ml.linalg.Vector](0).toArray) }.toSeq
        .toDF("centroidId", "arr")
        .select(col("centroidId"),
          org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"))
      // shares under the seed centroids (deterministic: seed centroids
      // are exact data vectors in both engines)
      val counts = new graft.clustering.KMeansModel()
        .setFeaturesCol("vec").setModelData(initDf)
        .transform(emb).head
        .groupBy(col("prediction")).agg(count(lit(1)).as("n"))
      // one Lloyd refinement; norms rounded so ulp-level accumulation
      // order cannot flip the compare
      val fitted = new graft.clustering.KMeans()
        .setFeaturesCol("vec").setK(4).setMaxIter(1)
        .setInitialModelData(initDf).fit(emb)
      val norm = udf { v: org.apache.spark.ml.linalg.Vector =>
        math.sqrt(graft.linalg.BLAS.dot(v, v)) }
      val norms = fitted.getModelData.head
        .select(col("centroidId"), round(norm(col("centroid")), 4).as("c_norm"))
      counts.join(norms, col("prediction") === col("centroidId"))
        .select(col("centroidId").cast("long").as("cluster"), col("n"), col("c_norm"))
    }),

    // --- Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    // embeddings (KMeansModel under pinned data-vector centroids —
    // deterministic in both engines), then within each cluster drop
    // all-but-the-min-id of every pair with cosine >= threshold. The
    // within-cluster pairing is the paper's own cost bound (k
    // controls cluster size; CosineDeduplicator's LSH is the escape
    // hatch for giant clusters). The driver's embeddings carry no
    // planted 0.999 near-dups (max pair cosine ~0.51), so the
    // threshold sits at 0.42 — 16 genuine same-cluster pairs, nearest
    // pair 0.0027 from the cut (engine-parity-safe); the planted-dup
    // behavior is covered by SemanticDedupExample and the ScaleUp
    // corpus. ---
    "q_semantic_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("arr"),
          org.apache.spark.ml.functions.array_to_vector(
            col("embedding").cast("array<double>")).as("vec"))
      val init = emb.where(col("vec_id").isin(3L, 99L, 201L, 350L))
        .orderBy("vec_id").select(col("arr")).collect().zipWithIndex
      import s.implicits._
      val initDf = init.map { case (r, i) => (i, r.getSeq[Double](0)) }.toSeq
        .toDF("centroidId", "carr")
        .select(col("centroidId"),
          org.apache.spark.ml.functions.array_to_vector(col("carr")).as("centroid"))
      graft.functions.Functions.register(s)
      val assigned = new graft.clustering.KMeansModel()
        .setFeaturesCol("vec").setModelData(initDf)
        .transform(emb).head
        .select(col("vec_id"), col("prediction").cast("long").as("cluster"), col("arr"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dups = assigned.select(col("cluster"), col("vec_id").as("id_a"), col("arr").as("arr_a"))
        .join(assigned.select(col("cluster"), col("vec_id").as("id_b"), col("arr").as("arr_b")),
          Seq("cluster"))
        .where(col("id_a") < col("id_b"))
        .where(graft.functions.Functions.cosineSimilarity(col("arr_a"), col("arr_b")) >= 0.42)
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("__dup", lit(true))
      assigned.select("vec_id", "cluster")
        .join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          coalesce(col("__dup"), lit(false)).as("is_semantic_duplicate"))
    }),

    // --- Incremental embedding dedup: index the even vec_ids, flag the
    // odd vec_ids against the index (CosineIndexer; same planes/buckets
    // as q_embedding_dedup, replayed in the oracle) ---
    "q_incremental_embedding_dedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val model = new graft.dedup.CosineIndexer()
        .setIdCol("vec_id").setInputCol("vec")
        .setSeed(2022L).setNumHashTables(8).setNumPlanes(8)
        .setMinSimilarity(0.45)
        .fit(emb.where(col("vec_id") % 2 === 0))
      model.transform(emb.where(col("vec_id") % 2 === 1)).head
        .select(col("vec_id"), col("matched_id"), col("is_duplicate"))
    }),

    // --- Multimodal: binary payload decode stub + frame sampling,
    // plus a REAL image decode: each doc gets a synthetic PNG whose
    // dimensions derive from doc_id; ImageDecoder must recover them
    // from the actual PNG bytes (header parse, not an echo) ---
    "q_multimodal" -> ((s, dir) => {
      val mkPng = udf { id: Long =>
        graft.multimodal.ImageDecoder.syntheticPng(
          (8 + id % 16).toInt, (4 + id % 8).toInt, id)
      }
      val docs = t(s, dir, "documents")
        .withColumn("payload", col("text").cast("binary"))
        .withColumn("img", mkPng(col("doc_id")))
      val decoded = new graft.multimodal.BinaryDecodeStub()
        .setInputCol("payload").setOutputCol("meta")
        .transform(docs).head
      val imaged = new graft.multimodal.ImageDecoder()
        .setInputCol("img").setOutputCol("imeta")
        .transform(decoded).head
      val framed = new graft.multimodal.FrameSampler()
        .setFrameBytes(64).setEveryNth(2)
        .setInputCol("payload").setOutputCol("frames")
        .transform(imaged).head
      framed.select(col("doc_id"),
        col("meta.n_bytes").as("n_bytes"),
        col("meta.digest").as("digest"),
        size(col("frames")).cast("long").as("n_frames"),
        col("imeta.width").as("png_width"),
        col("imeta.height").as("png_height"),
        col("imeta.format").as("png_format"))
    }),

    // --- audio/video header decode: REAL WAV (RIFF) and MP4 (ISO
    // BMFF) payloads built per row from closed-form doc_id params,
    // then parsed back by AudioDecoder/VideoDecoder — the oracle
    // knows every header field in closed form, so a parser bug
    // (endianness, box walk, chunk alignment) breaks the hash ---
    "q_multimodal_av" -> ((s, dir) => {
      val mkWav = udf { id: Long =>
        graft.multimodal.AudioDecoder.syntheticWav(
          (8000 * (1 + id % 3)).toInt, (4000 + (id % 100) * 40).toInt,
          (1 + id % 2).toInt, id)
      }
      val brands = Array("isom", "mp42", "avc1")
      val mkMp4 = udf { id: Long =>
        graft.multimodal.VideoDecoder.syntheticMp4(
          600, 600 + (id % 240) * 30, (1 + id % 3).toInt,
          brands((id % 3).toInt))
      }
      val docs = t(s, dir, "documents")
        .withColumn("audio", mkWav(col("doc_id")))
        .withColumn("video", mkMp4(col("doc_id")))
      val a = new graft.multimodal.AudioDecoder()
        .setInputCol("audio").setOutputCol("ameta")
        .transform(docs).head
      val av = new graft.multimodal.VideoDecoder()
        .setInputCol("video").setOutputCol("vmeta")
        .transform(a).head
      av.select(col("doc_id"),
        col("ameta.channels").as("channels"),
        col("ameta.sample_rate").as("sample_rate"),
        col("ameta.n_samples").as("n_samples"),
        round(col("ameta.duration_sec"), 6).as("audio_sec"),
        col("vmeta.brand").as("brand"),
        col("vmeta.timescale").as("timescale"),
        col("vmeta.duration").as("duration"),
        round(col("vmeta.duration_sec"), 6).as("video_sec"),
        col("vmeta.n_tracks").as("n_tracks"))
    }),

    // --- Perceptual image dedup: 4 planted variants per group (base,
    // recolor +40 — dHash-invariant by construction, lossless BMP
    // re-encode — identical pixels, one-cell flip — exactly Hamming 1),
    // REAL PNG/BMP bytes hashed back through the full ImageIO decode;
    // banded Hamming join (HammingJoin, the SimHash machinery) finds
    // every variant; canonical = min doc_id among direct neighbors.
    // The oracle replays the planted structure in closed form. ---
    "q_image_dedup" -> ((s, dir) => {
      val mkImg = udf { id: Long =>
        val g = id / 4
        (id % 4) match {
          case 0 => graft.multimodal.ImageDHasher.syntheticCellImage(g)
          case 1 => graft.multimodal.ImageDHasher.syntheticCellImage(g, brightness = 40)
          case 2 => graft.multimodal.ImageDHasher.syntheticCellImage(g, format = "bmp")
          case _ => graft.multimodal.ImageDHasher.syntheticCellImage(g, flip = true)
        }
      }
      val docs = tp(s, dir, "documents", "doc_id").select(col("doc_id"))
        .withColumn("img", mkImg(col("doc_id")))
      val hashed = Loop.keep(new graft.multimodal.ImageDHasher()
        .setInputCol("img").setOutputCol("dhash")
        .transform(docs).head.select("doc_id", "dhash"))
      graft.dedup.HammingJoin.clusterWithRep(
        hashed, "doc_id", "dhash", maxHamming = 3, numBands = 4)
    }),

    // --- Perceptual image dedup under a planted Hamming CHAIN — the
    // transitive-closure path (HammingJoin.clusterComponents →
    // ConnectedComponents). Groups of 4: flipMask 0 → 0b111 → 0b111111
    // (consecutive distance exactly 3 = maxHamming; endpoints 6 bits
    // apart — direct-neighbor clustering would split the group) plus a
    // recolor clique member on the chain end (Hamming 0 from variant
    // 2). One component per group, canonical = the group min;
    // rep_hamming measures the closure's reach: 0, 3, 6, 6. ---
    "q_image_dedup_chain" -> ((s, dir) => {
      val mkImg = udf { id: Long =>
        val g = id / 4
        (id % 4) match {
          case 0 => graft.multimodal.ImageDHasher.syntheticCellImage(g)
          case 1 => graft.multimodal.ImageDHasher.syntheticCellImage(g, flipMask = 0x07)
          case 2 => graft.multimodal.ImageDHasher.syntheticCellImage(g, flipMask = 0x3f)
          case _ => graft.multimodal.ImageDHasher.syntheticCellImage(g, flipMask = 0x3f,
            brightness = 40)
        }
      }
      val docs = tp(s, dir, "documents", "doc_id").select(col("doc_id"))
        .withColumn("img", mkImg(col("doc_id")))
      val hashed = Loop.keep(new graft.multimodal.ImageDHasher()
        .setInputCol("img").setOutputCol("dhash")
        .transform(docs).head.select("doc_id", "dhash"))
      graft.dedup.HammingJoin.clusterComponents(
        hashed, "doc_id", "dhash", maxHamming = 3, numBands = 4)
    }),

    // --- Perceptual audio dedup: 4 planted variants per group (base,
    // gain x2 — envelope-hash-invariant by construction, time-stretch
    // x2 — windows are duration fractions, one-window flip — exactly
    // Hamming 1), REAL RIFF/WAVE PCM bytes hashed through the full
    // chunk walk; same banded Hamming join as images/text. ---
    "q_audio_dedup" -> ((s, dir) => {
      val mkWav = udf { id: Long =>
        val g = id / 4
        (id % 4) match {
          case 0 => graft.multimodal.AudioDHasher.syntheticWindowWav(g)
          case 1 => graft.multimodal.AudioDHasher.syntheticWindowWav(g, gain = 2)
          case 2 => graft.multimodal.AudioDHasher.syntheticWindowWav(g, stretch = 2)
          case _ => graft.multimodal.AudioDHasher.syntheticWindowWav(g, flip = true)
        }
      }
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("wav", mkWav(col("doc_id")))
      val hashed = Loop.keep(new graft.multimodal.AudioDHasher()
        .setInputCol("wav").setOutputCol("ahash")
        .transform(docs).head.select("doc_id", "ahash"))
      graft.dedup.HammingJoin.clusterWithRep(
        hashed, "doc_id", "ahash", maxHamming = 3, numBands = 4)
    }),

    // --- Perceptual video dedup: 4 planted variants per group (base,
    // re-grade +40 — per-frame dHash-invariant, frame-stretch ×2 —
    // position-fraction slot sampling invariant, 1-bit flip on every
    // frame — exactly Hamming 1 per slot), REAL RIFF/AVI containers
    // with 5 PNG frames each, walked + sampled + decoded through the
    // full container/ImageIO path; candidates banded on the first
    // slot, exact 3-slot filter inline. Same closed-form oracle shape
    // as images/audio. ---
    "q_video_dedup" -> ((s, dir) => {
      val mkVid = udf { id: Long =>
        val g = id / 4
        (id % 4) match {
          case 0 => graft.multimodal.VideoDHasher.syntheticCellVideo(g)
          case 1 => graft.multimodal.VideoDHasher.syntheticCellVideo(g, brightness = 40)
          case 2 => graft.multimodal.VideoDHasher.syntheticCellVideo(g, stretch = 2)
          case _ => graft.multimodal.VideoDHasher.syntheticCellVideo(g, flipMask = 1)
        }
      }
      val docs = tp(s, dir, "documents", "doc_id").select(col("doc_id"))
        .withColumn("video", mkVid(col("doc_id")))
      val hasher = new graft.multimodal.VideoDHasher()
        .setInputCol("video").setOutputCol("sig")
      val hashed = Loop.keep(hasher.transform(docs).head.select("doc_id", "sig"))
      hasher.clusterWithRep(hashed, "doc_id", maxHamming = 3, numBands = 4)
    }),

    // --- Video dedup under a planted Hamming CHAIN — the transitive-
    // closure path (VideoDHasher.clusterComponents): flipMask 0 →
    // 0b111 → 0b111111 moves EVERY slot by exactly 3 bits per hop
    // (endpoints 6 apart — direct-neighbor clustering would split the
    // group) plus a re-grade clique member on the chain end. One
    // component per group, canonical = the group min; no rep_hamming
    // (a chain's representative need not be a direct neighbor). ---
    "q_video_dedup_chain" -> ((s, dir) => {
      val mkVid = udf { id: Long =>
        val g = id / 4
        (id % 4) match {
          case 0 => graft.multimodal.VideoDHasher.syntheticCellVideo(g)
          case 1 => graft.multimodal.VideoDHasher.syntheticCellVideo(g, flipMask = 0x07)
          case 2 => graft.multimodal.VideoDHasher.syntheticCellVideo(g, flipMask = 0x3f)
          case _ => graft.multimodal.VideoDHasher.syntheticCellVideo(g, flipMask = 0x3f,
            brightness = 40)
        }
      }
      val docs = tp(s, dir, "documents", "doc_id").select(col("doc_id"))
        .withColumn("video", mkVid(col("doc_id")))
      val hasher = new graft.multimodal.VideoDHasher()
        .setInputCol("video").setOutputCol("sig")
      val hashed = Loop.keep(hasher.transform(docs).head.select("doc_id", "sig"))
      hasher.clusterComponents(hashed, "doc_id", maxHamming = 3, numBands = 4)
    }),

    // --- Shot-boundary video dedup (the 3-slot escalation path):
    // groups of 4 where the planted edits BREAK slot alignment — the
    // base [0,1,2,3] vs a trimmed+reordered [3,1,2], a half-
    // overlapping re-grade [2,3,8,9] (brightness 40 — dHash-invariant,
    // so its 2 shared shots carry the SAME longs), and a disjoint
    // stranger [4,5,6,7] that must never pair. Containment = shared /
    // min set size: 1.0 for the trim (the asymmetric-dup shape), 0.5
    // and 2/3 for the partial overlaps; closed-form oracle. ---
    "q_video_shot_dedup" -> ((s, dir) => {
      val mkVid = udf { id: Long =>
        val g = id / 4
        (id % 4) match {
          case 0 => graft.multimodal.VideoShotHasher.syntheticShotVideo(g, Seq(0, 1, 2, 3))
          case 1 => graft.multimodal.VideoShotHasher.syntheticShotVideo(g, Seq(3, 1, 2))
          case 2 => graft.multimodal.VideoShotHasher.syntheticShotVideo(g, Seq(2, 3, 8, 9),
            brightness = 40)
          case _ => graft.multimodal.VideoShotHasher.syntheticShotVideo(g, Seq(4, 5, 6, 7))
        }
      }
      val docs = tp(s, dir, "documents", "doc_id").select(col("doc_id"))
        .withColumn("video", mkVid(col("doc_id")))
      val hasher = new graft.multimodal.VideoShotHasher()
        .setInputCol("video").setOutputCol("shots").setMinOverlap(0.45)
      val hashed = hasher.transform(docs).head.select("doc_id", "shots")
      hasher.containmentJoin(hashed, "doc_id")
        .select(col("id_a"), col("id_b"), col("shared"),
          col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
          round(col("overlap"), 3).as("overlap"))
    }),

    // --- CROSS-MODAL dedup: groups of 4 docs where 4g and 4g+1 share
    // the IMAGE (texts unrelated), 4g+1 and 4g+2 share the TEXT
    // (images unrelated), 4g+3 is a singleton — no single modality
    // links the group, but the union of image-dHash and text-SimHash
    // edges closed by ConnectedComponents collapses {4g, 4g+1, 4g+2}
    // to one canonical cluster. `via` records which modalities had an
    // incident edge. Real PNG decode + real SimHash; closed-form
    // oracle (robust to a trailing partial group). The closed form
    // assumes ZERO accidental cross-group edges — honest at verify
    // scale: the 500k ScaleUp run measured ~7 accidental near-dup
    // edges across C(375k, 2) ≈ 7·10¹⁰ distinct-hash pairs
    // (P ≈ 1·10⁻¹⁰ per pair, adjacent-dHash-bit correlation included),
    // so at sf0.1's 5k docs the expectation is C(3750, 2)·10⁻¹⁰ ≈
    // 7·10⁻⁴ ≪ 1 merged groups — the bound-don't-forbid treatment
    // lives in the ScaleUp stage, where accidentals are real. ---
    "q_crossmodal_dedup" -> ((s, dir) => {
      val mkImg = udf { id: Long =>
        val g = id / 4
        (id % 4) match {
          case 0 | 1 => graft.multimodal.ImageDHasher.syntheticCellImage(g)
          case 2 => graft.multimodal.ImageDHasher.syntheticCellImage(g + 50000000L)
          case _ => graft.multimodal.ImageDHasher.syntheticCellImage(g + 100000000L)
        }
      }
      val g = (col("doc_id") / 4).cast("long")
      val prefix = when(col("doc_id") % 4 === 0, concat(lit("t"), g))
        .when(col("doc_id") % 4 <= 2, concat(lit("u"), g))
        .otherwise(concat(lit("v"), g))
      val docs = tp(s, dir, "documents", "doc_id").select(col("doc_id"))
        .withColumn("tokens", transform(sequence(lit(0), lit(15)),
          i => concat(prefix, lit("_"), i)))
        .withColumn("img", mkImg(col("doc_id")))
      val withText = new graft.dedup.SimHasher()
        .setInputCol("tokens").setOutputCol("text_fp")
        .transform(docs).head
      val hashed = Loop.keep(new graft.multimodal.ImageDHasher()
        .setInputCol("img").setOutputCol("img_fp")
        .transform(withText).head.select("doc_id", "text_fp", "img_fp"))
      graft.dedup.HammingJoin.clusterComponentsMulti(hashed, "doc_id",
        Seq(("image", "img_fp", 3, 4), ("text", "text_fp", 3, 4)))
    }),

    // --- Incremental perceptual dedup against a persisted fingerprint
    // index (HammingIndexer — the MinHashIndexer workflow for
    // perceptual hashes): index the ≡0 base images, flag batch 1 (≡1,
    // all NOVEL bases → no matches), GROW the index with it
    // (addToIndex), then flag batch 2 — its ≡2 rows are recolors of
    // batch-1 images (match proves the increment: those ids exist
    // nowhere in the original index), its ≡3 rows recolors of indexed
    // bases. Closed-form oracle on the planted structure. ---
    "q_incremental_image_dedup" -> ((s, dir) => {
      val mkImg = udf { id: Long =>
        (id % 4) match {
          case 0 | 1 => graft.multimodal.ImageDHasher.syntheticCellImage(id)
          case 2 => graft.multimodal.ImageDHasher.syntheticCellImage(id - 1, brightness = 40)
          case _ => graft.multimodal.ImageDHasher.syntheticCellImage(id - 3, brightness = 40)
        }
      }
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .withColumn("img", mkImg(col("doc_id")))
      val hashed = Loop.keep(new graft.multimodal.ImageDHasher()
        .setInputCol("img").setOutputCol("fp")
        .transform(docs).head.select("doc_id", "fp"))
      val indexer = new graft.dedup.HammingIndexer()
        .setIdCol("doc_id").setFpCol("fp").setMaxHamming(3).setNumBands(4)
      val model = indexer.fit(hashed.where(col("doc_id") % 4 === 0))
      val batch1 = hashed.where(col("doc_id") % 4 === 1)
      val out1 = model.transform(batch1).head
      val grown = model.addToIndex(batch1)
      val out2 = grown.transform(hashed.where(col("doc_id") % 4 >= 2)).head
      out1.unionByName(out2)
        .select(col("doc_id"), col("matched_id"), col("is_duplicate"))
    }),

    // --- Swing item-recall (packed top-k parsed back into rows) ---
    "q_swing" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val behavior = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      val out = new graft.recommendation.Swing().setK(10)
        .transform(behavior).head
      val entry = split(col("entry"), ",")
      out.select(col("item"), explode(split(col("output"), ";")).as("entry"))
        .select(col("item"),
          entry.getItem(0).cast("long").as("sim_item"),
          round(entry.getItem(1).cast("double"), 6).as("score"))
    }),

    // --- Swing through the ARRAYS pair strategy (the reference's own
    // bounded shape: capped-list pair enumeration + array_intersect of
    // per-user item arrays — the path auto engages on hot catalogs,
    // where the flat self-join is quadratic in the hottest item's
    // degree). Same oracle as q_swing: both strategies enumerate the
    // identical contribution multiset, and at 6-dp rounding the
    // differing float summation orders agree — verified at sf0.01
    // (oracle MATCH) and at sf0.1, where the two strategies'
    // outputs are byte-identical to each other and share exactly
    // q_swing's documented sub-1e-6 rank-tie diff vs DuckDB (the
    // scale-contract exclusion below). This row puts the arrays
    // path — exercised at scale by the swing_zipf ScaleUp stage —
    // under the driver's oracle gate, not just the SwingSpec
    // equivalence test. ---
    "q_swing_arrays" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val behavior = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      val out = new graft.recommendation.Swing().setK(10).setPairStrategy("arrays")
        .transform(behavior).head
      val entry = split(col("entry"), ",")
      out.select(col("item"), explode(split(col("output"), ";")).as("entry"))
        .select(col("item"),
          entry.getItem(0).cast("long").as("sim_item"),
          round(entry.getItem(1).cast("double"), 6).as("score"))
    }),

    // --- Swing with the reference's hot-item cap engaged
    // (maxUserNumPerItem=100, the SwingParams.java default region).
    // Measured on this workload: the most-purchased item has 49
    // qualifying users at sf0.01 and 53 at sf0.1, so the cap NEVER
    // binds — output is byte-identical to q_swing (same oracle;
    // verified empirically at sf0.1: 199,727 rows each, symmetric
    // diff 0). Round 6 measured the idle cap machinery at ~33%
    // overhead (12.4 vs 9.3 s isolated) despite never binding; since
    // round 7, Swing detects the no-hot-items case with one cheap
    // aggregation job and drops the cap plan entirely (Swing.scala
    // `capEngaged`), so this query differs from q_swing only by that
    // detection job. The cap's engaged path is exercised for real by
    // SwingSpec's two-phase-cap test and the Zipfian ScaleUp stage.
    // q_swing's wall-clock is inherent per-user breadth fan-out
    // (Σ|U_i|² with |U_i| ≤ 53), not hot items, so on THIS data the
    // cap lever cannot shrink it; the knob matters for catalogs with
    // genuinely hot items. ---
    "q_swing_capped" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val behavior = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .select(col("o_custkey").as("user"), col("l_partkey").as("item"))
      val out = new graft.recommendation.Swing().setK(10).setMaxUserNumPerItem(100)
        .transform(behavior).head
      val entry = split(col("entry"), ",")
      out.select(col("item"), explode(split(col("output"), ";")).as("entry"))
        .select(col("item"),
          entry.getItem(0).cast("long").as("sim_item"),
          round(entry.getItem(1).cast("double"), 6).as("score"))
    }),

    // --- UnivariateFeatureSelector (continuous/continuous → FValue ranking) ---
    "q_univariate_selector" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
        .withColumn("label", col("l_extendedprice"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount", "l_tax", "l_linenumber")
        .setOutputCol("features").setInputSizes(1, 1, 1, 1)
        .transform(li).head
      val model = new graft.feature.UnivariateFeatureSelector()
        .setFeatureType("continuous").setLabelType("continuous")
        .setSelectionMode("numTopFeatures").setSelectionThreshold(2)
        .fit(assembled)
      model.getModelData.head
        .select(explode(col("indices")).as("dim"))
        .select(col("dim").cast("long").as("dim"))
    }),

    // --- Online PCA, count windows: 100-row windows emit cumulative
    // model versions; latest-version scoring. The row count is a
    // multiple of 100 at every sf, so every row lands in a full window
    // and the latest version's moments equal the GLOBAL moments
    // regardless of arrival order; at full rank the projection
    // preserves each row's centered squared norm (the q_pca oracle
    // trick), and the version number is SQL-computable as n/100 - 1. ---
    "q_online_pca" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val dim = emb.head().getAs[org.apache.spark.ml.linalg.Vector]("vec").size
      val model = new graft.streaming.OnlinePCA()
        .setInputCol("vec").setK(dim)
        .setWindows(graft.streaming.CountTumblingWindows(100))
        .fit(emb)
        .setOutputCol("proj")
      model.transform(emb).head
        .select(col("vec_id"), col("version"),
          round(aggregate(org.apache.spark.ml.functions.vector_to_array(col("proj")),
            lit(0.0), (acc, x) => acc + x * x), 3).as("sq_norm"))
    }),

    // --- Online PCA, event-time windows + as-of versioned scoring:
    // vec_id is the event time, 100-id tumbling windows; each row is
    // projected by the EARLIEST version whose windowEndMs >= vec_id
    // (delay 0 — reference HasMaxAllowedModelDelayMs rule), so
    // full-rank norm preservation holds PER VERSION against that
    // version's cumulative mean — all replayable as SQL prefix means. ---
    "q_online_pca_versioned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("vec"))
      val dim = emb.head().getAs[org.apache.spark.ml.linalg.Vector]("vec").size
      val model = new graft.streaming.OnlinePCA()
        .setInputCol("vec").setK(dim).setTimeCol("vec_id")
        .setWindows(graft.streaming.EventTimeTumblingWindows(100L))
        .fit(emb)
        .setOutputCol("proj").setMaxAllowedModelDelayMs(0L)
      model.transform(emb).head
        .select(col("vec_id"), col("version"),
          round(aggregate(org.apache.spark.ml.functions.vector_to_array(col("proj")),
            lit(0.0), (acc, x) => acc + x * x), 3).as("sq_norm"))
    }),

    // --- OnlineStandardScaler: model stream over event-time windows ---
    "q_online_scaler" -> ((s, dir) => {
      val ev = eventsTsm(s, dir).select(col("tsm"), col("value"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("value").setOutputCol("features").setInputSizes(1)
        .transform(ev).head
      val model = new graft.streaming.OnlineStandardScaler()
        .setInputCol("features").setTimeCol("tsm")
        .setWindows(graft.streaming.EventTimeTumblingWindows(3600000L))
        .fit(assembled)
      model.getModelData.head.select(col("version"), col("windowEndMs"), col("count"),
        round(org.apache.spark.ml.functions.vector_to_array(col("mean")).getItem(0), 4).as("mean"),
        round(org.apache.spark.ml.functions.vector_to_array(col("std")).getItem(0), 4).as("std"))
    }),

    // --- OnlineStandardScalerModel: versioned as-of scoring (reference
    // HasMaxAllowedModelDelayMs): each row scored by the EARLIEST model
    // version with windowEndMs >= tsm - delay ---
    "q_online_scaler_versioned" -> ((s, dir) => {
      val ev = eventsTsm(s, dir).select(col("tsm"), col("value"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("value").setOutputCol("features").setInputSizes(1)
        .transform(ev).head
      val model = new graft.streaming.OnlineStandardScaler()
        .setInputCol("features").setTimeCol("tsm")
        .setWindows(graft.streaming.EventTimeTumblingWindows(3600000L))
        .fit(assembled)
        .setOutputCol("scaled")
        .setMaxAllowedModelDelayMs(7200000L)
      model.transform(assembled).head.select(col("tsm"), col("value"),
        col("version"),
        round(org.apache.spark.ml.functions.vector_to_array(col("scaled")).getItem(0), 4)
          .as("scaled"))
    }),

    // --- StreamingStats windowed moments (batch replay of the
    // readStream→watermark→window→writeStream monitoring path) ---
    "q_stream_stats" -> ((s, dir) => {
      val ev = eventsTsm(s, dir)
        .select(timestamp_millis(col("tsm")).as("tsm"), col("value"))
      graft.streaming.StreamingStats
        .windowedMoments(ev, "tsm", "value", "1 hour", "1 minute")
        .select(unix_millis(col("window_start")).as("window_start"),
          col("n"),
          round(col("mean"), 4).as("mean"),
          round(when(col("n") === 1, 0.0).otherwise(col("std")), 4).as("std"),
          col("min").as("vmin"), col("max").as("vmax"))
    }),

    // --- OnlineKMeans: one decayed mini-batch step from fixed centroids ---
    "q_online_kmeans" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      import s.implicits._
      val init = Seq((0, Array(10.0, 0.02)), (1, Array(25.0, 0.05)), (2, Array(40.0, 0.08)))
        .toDF("centroidId", "arr")
        .select(col("centroidId"),
          org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"),
          lit(1.0).as("weight"))
      val model = new graft.streaming.OnlineKMeans()
        .setK(3).setDecayFactor(0.5).setGlobalBatchSize(60000)
        .setInitialModelData(init)
        .fit(assembled)
      model.getModelData.head.select(col("centroidId"),
        round(org.apache.spark.ml.functions.vector_to_array(col("centroid")).getItem(0), 6).as("cx"),
        round(org.apache.spark.ml.functions.vector_to_array(col("centroid")).getItem(1), 6).as("cy"),
        round(col("weight"), 6).as("weight"))
    }),

    // --- OnlineKMeans, versioned delay-gated inference: two
    // count-batches over time-ordered events become model versions 1
    // and 2 stamped with each batch's max event time; every row is
    // then assigned a cluster by the EARLIEST version fresh enough for
    // its own timestamp (reference OnlineKMeansModel.java:95,126-135
    // model-data version counter + HasMaxAllowedModelDelayMs).
    // Oracle contract: exact at sf0.01 (10000 events = exactly 2
    // batches of 5000, which the SQL replays as two decay updates) ---
    "q_online_kmeans_versioned" -> ((s, dir) => {
      val ev = eventsTsm(s, dir)
        .select(col("event_id"), col("tsm"), col("value").as("x"))
        .orderBy("event_id")
      // the oracle replays batches of 5000 — exact at the sf0.01
      // verify scale (2 batches of its 10k events) and unchanged at
      // sf0.1; the clamp only matters at sf0.001, whose 1,000 events
      // are SMALLER than one batch (zero versions = versioned scoring
      // refuses — the quick-drive bench failed on exactly this)
      val batch = math.min(5000L, ev.count()).toInt
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("x").setOutputCol("features").setInputSizes(1)
        .transform(ev).head
      import s.implicits._
      val init = Seq((0, Array(20.0)), (1, Array(200.0)))
        .toDF("centroidId", "arr")
        .select(col("centroidId"),
          org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"),
          lit(1.0).as("weight"))
      val model = new graft.streaming.OnlineKMeans()
        .setK(2).setDecayFactor(0.5).setGlobalBatchSize(batch).setTimeCol("tsm")
        .setInitialModelData(init)
        .fit(assembled)
        .setMaxAllowedModelDelayMs(172800000L) // 2 days
        .setTimeCol("tsm")
        .setModelVersionCol("version")
      model.transform(assembled).head
        .select(col("event_id"), col("version"), col("prediction"))
    }),

    // --- OnlineLogisticRegression: one FTRL step from zero state ---
    "q_online_logreg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("label", (col("l_returnflag") === "R").cast("double"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      val model = new graft.streaming.OnlineLogisticRegression()
        .setAlpha(0.1).setBeta(1.0).setReg(0.0).setElasticNet(0.0)
        .setGlobalBatchSize(60000)
        .setInitialModelData(graft.streaming.OnlineLogisticRegressionModel.zeroInit(s, 2))
        .fit(assembled)
      // the model data is now a version stream; the check reads the
      // final (latest) FTRL coefficients
      model.getModelData.head.orderBy(col("version").desc).limit(1).select(
        posexplode(org.apache.spark.ml.functions.vector_to_array(col("coefficient")))
          .as(Seq("dim", "coef")))
        .select(col("dim"), round(col("coef"), 6).as("coef"))
    }),

    // --- OnlineLogisticRegression, versioned delay-gated inference:
    // two count-batches over time-ordered events become model versions
    // 1 and 2 stamped with each batch's max event time; every row is
    // then scored by the EARLIEST version fresh enough for its own
    // timestamp (reference HasMaxAllowedModelDelayMs buffering).
    // Oracle contract: exact at sf0.01 (10000 events = exactly 2
    // batches of 5000, which the SQL replays as two FTRL steps) ---
    "q_online_logreg_versioned" -> ((s, dir) => {
      val ev = eventsTsm(s, dir)
        .select(col("event_id"), col("tsm"),
          (col("value") / 100.0).as("x"),
          (col("event_type") === "click").cast("double").as("label"))
        .orderBy("event_id")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("x").setOutputCol("features").setInputSizes(1)
        .transform(ev).head
      val model = new graft.streaming.OnlineLogisticRegression()
        .setAlpha(0.1).setBeta(1.0).setReg(0.0).setElasticNet(0.0)
        .setGlobalBatchSize(5000).setTimeCol("tsm")
        .setInitialModelData(graft.streaming.OnlineLogisticRegressionModel.zeroInit(s, 1))
        .fit(assembled)
        .setMaxAllowedModelDelayMs(172800000L) // 2 days
        .setTimeCol("tsm")
        .setModelVersionCol("version")
      model.transform(assembled).head
        .select(col("event_id"), col("version"),
          // vector_to_array throws on null (it does not null-propagate):
          // rows with no qualifying version carry a null rawPrediction,
          // so the threshold must stay behind the when()
          when(col("rawPrediction").isNotNull,
            round(element_at(
              org.apache.spark.ml.functions.vector_to_array(col("rawPrediction")), 2), 6))
            .as("p"),
          col("prediction"))
    }),

    // --- AgglomerativeClustering (single linkage, 1-D, distance threshold) ---
    // With single linkage on one dimension, threshold clustering equals
    // splitting the sorted values at gaps > threshold — which the SQL
    // oracle recomputes with window functions.
    "q_agglomerative" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("s_acctbal").setOutputCol("features").setInputSizes(1)
        .transform(sup).head
      new graft.clustering.AgglomerativeClustering()
        .setLinkage("single").setDistanceThreshold(400.0)
        .transform(assembled).head
        .select(col("s_suppkey"), col("prediction"))
    }),

    // --- AgglomerativeClustering with event-time tumbling windows:
    // each 5-nation bucket is an independent clustering problem with
    // window-local labels (reference HasWindows semantics); 1-D
    // single-linkage under a threshold is a per-window gap split, so
    // the oracle is the q_agglomerative SQL partitioned by window ---
    "q_agglomerative_windowed" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("s_acctbal").setOutputCol("features").setInputSizes(1)
        .transform(sup).head
      new graft.clustering.AgglomerativeClustering()
        .setLinkage("single").setDistanceThreshold(400.0)
        .setWindows(graft.streaming.EventTimeTumblingWindows(5L))
        .setTimeCol("s_nationkey")
        .transform(assembled).head
        .select(col("s_suppkey"), col("prediction"))
    }),

    // --- MinHashLSH approxSimilarityJoin: near-duplicate document pairs ---
    // 3-word shingles → exact vocabulary indices → banded MinHash
    // signatures → equi-join on (table, signature) → true-Jaccard
    // filter. With 10 hash tables the miss probability for a pair at
    // distance ≤0.5 is ≤ 0.5^10 ≈ 1e-3 per pair (the planted near-dups
    // sit at distance ≤0.1 → miss ≤ 1e-10), so the approximate join
    // recovers exactly the exact-Jaccard pair set the oracle computes.
    "q_minhash_join" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(docs).head
      val grams = new graft.feature.NGram()
        .setInputCol("tokens").setOutputCol("shingles").setN(3)
        .transform(toks).head
        .where(size(col("shingles")) > 0)
      val cv = new graft.feature.CountVectorizer()
        .setVocabularySize(1 << 17).setInputCol("shingles").setOutputCol("tf")
        .fit(grams)
      val vecs = cv.transform(grams).head.select("doc_id", "tf")
      val model = new graft.feature.MinHashLSH()
        .setInputCol("tf").setOutputCol("hashes")
        .setSeed(2022L).setNumHashTables(10)
        .fit(vecs)
      model.approxSimilarityJoin(vecs, vecs, 0.5, "doc_id")
        .where(col("datasetA_id") < col("datasetB_id"))
        .select(col("datasetA_id").as("id_a"), col("datasetB_id").as("id_b"),
          round(col("distCol"), 6).as("jaccard_dist"))
    }),

    // --- Incremental dedup: index the even docs once, flag the odd
    // docs against the index (MinHashIndexer — the batch-over-batch
    // corpus-growth workflow; same banded-join recall argument as
    // q_minhash_join) ---
    "q_incremental_dedup" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(docs).head
      val grams = new graft.feature.NGram()
        .setInputCol("tokens").setOutputCol("shingles").setN(3)
        .transform(toks).head
        .where(size(col("shingles")) > 0)
      val cv = new graft.feature.CountVectorizer()
        .setVocabularySize(1 << 17).setInputCol("shingles").setOutputCol("tf")
        .fit(grams)
      val vecs = cv.transform(grams).head.select("doc_id", "tf")
      val model = new graft.dedup.MinHashIndexer()
        .setInputCol("tf").setOutputCol("hashes")
        .setSeed(2022L).setNumHashTables(10)
        .setIdCol("doc_id").setThreshold(0.5)
        .fit(vecs.where(col("doc_id") % 2 === 0))
      model.transform(vecs.where(col("doc_id") % 2 === 1)).head
        .select(col("doc_id"), col("matched_id"), col("is_duplicate"))
    }),

    // --- Normalizer (L2) ---
    "q_normalizer" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1, 1)
        .transform(li).head
      val out = new graft.feature.Normalizer()
        .setInputCol("features").setOutputCol("norm").setP(2.0)
        .transform(assembled).head
      val na = org.apache.spark.ml.functions.vector_to_array(col("norm"))
      out.select(col("l_orderkey"), col("l_linenumber"),
        round(na.getItem(0), 6).as("nx"),
        round(na.getItem(1), 6).as("ny"),
        round(na.getItem(2), 6).as("nz"))
    }),

    // --- DCT (orthogonal DCT-II over 3 dims) ---
    "q_dct" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1, 1)
        .transform(li).head
      val out = new graft.feature.DCT()
        .setInputCol("features").setOutputCol("dct")
        .transform(assembled).head
      val da = org.apache.spark.ml.functions.vector_to_array(col("dct"))
      out.select(col("l_orderkey"), col("l_linenumber"),
        round(da.getItem(0), 6).as("d0"),
        round(da.getItem(1), 6).as("d1"),
        round(da.getItem(2), 6).as("d2"))
    }),

    // --- ElementwiseProduct ---
    "q_elementwise" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_extendedprice").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      val out = new graft.feature.ElementwiseProduct()
        .setScalingVec(org.apache.spark.ml.linalg.Vectors.dense(0.5, 0.01))
        .setInputCol("features").setOutputCol("prod")
        .transform(assembled).head
      val pa = org.apache.spark.ml.functions.vector_to_array(col("prod"))
      out.select(col("l_orderkey"), col("l_linenumber"),
        round(pa.getItem(0), 6).as("half_qty"),
        round(pa.getItem(1), 6).as("cent_price"))
    }),

    // --- Interaction ((q, d) × (t) → (q·t, d·t)) ---
    "q_interaction" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val a1 = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount").setOutputCol("v1")
        .setInputSizes(1, 1).transform(li).head
      val a2 = new graft.feature.VectorAssembler()
        .setInputCols("l_tax").setOutputCol("v2").setInputSizes(1)
        .transform(a1).head
      val out = new graft.feature.Interaction()
        .setInputCols("v1", "v2").setOutputCol("inter")
        .transform(a2).head
      val ia = org.apache.spark.ml.functions.vector_to_array(col("inter"))
      out.select(col("l_orderkey"), col("l_linenumber"),
        round(ia.getItem(0), 6).as("qt"),
        round(ia.getItem(1), 6).as("dt"))
    }),

    // --- VectorSlicer (reorder-slice (2, 0) of a 3-dim vector) ---
    "q_vector_slicer" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1, 1)
        .transform(li).head
      val out = new graft.feature.VectorSlicer()
        .setIndices(2, 0).setInputCol("features").setOutputCol("sliced")
        .transform(assembled).head
      val sa = org.apache.spark.ml.functions.vector_to_array(col("sliced"))
      out.select(col("l_orderkey"), col("l_linenumber"),
        round(sa.getItem(0), 6).as("s_tax"),
        round(sa.getItem(1), 6).as("s_qty"))
    }),

    // --- VectorIndexer (categorical dims → ascending value indices, 0.0 first) ---
    "q_vector_indexer" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_linenumber", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      val model = new graft.feature.VectorIndexer()
        .setMaxCategories(20).setInputCol("features").setOutputCol("indexed")
        .fit(assembled)
      val out = model.transform(assembled).head
      val xa = org.apache.spark.ml.functions.vector_to_array(col("indexed"))
      out.select(col("l_orderkey"), col("l_linenumber"),
        xa.getItem(0).as("ln_idx"), xa.getItem(1).as("tax_idx"))
    }),

    // --- StopWordsRemover (english defaults) ---
    "q_stopwords" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(t(s, dir, "documents")).head
      val out = new graft.feature.StopWordsRemover()
        .setInputCols("tokens").setOutputCols("filtered")
        .transform(toks).head
      out.select(col("doc_id"), size(col("filtered")).cast("long").as("n_tokens"))
    }),

    // --- StringIndexer → IndexToString round trip ---
    "q_index_to_string" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val model = new graft.feature.StringIndexer()
        .setInputCols("c_mktsegment").setOutputCols("seg_idx")
        .setStringOrderType("frequencyDesc").fit(cust)
      val indexed = model.transform(cust).head
      val back = new graft.feature.IndexToStringModel()
        .setModelData(model.getModelData: _*)
        .setInputCols("seg_idx").setOutputCols("seg_back")
        .transform(indexed).head
      back.select(col("c_mktsegment"), col("seg_back")).distinct()
    }),

    // --- RandomSplitter (splits partition the input: no row lost or duplicated) ---
    "q_random_splitter" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val splits = new graft.feature.RandomSplitter()
        .setWeights(0.8, 0.2).setSeed(42L)
        .transform(li)
      import s.implicits._
      val counts = splits.map(_.count())
      Seq((counts.sum, counts.length)).toDF("total_rows", "n_splits")
    }),

    // --- StratifiedSampler (deterministic md5 fraction + per-lang cap) ---
    // en (218 docs) exceeds the cap, the other languages land on the
    // fraction-then-cap boundary — both the under- and over-cap plan
    // branches are exercised and the oracle reproduces the exact
    // selection from the same md5 order
    "q_stratified_sample" -> ((s, dir) => {
      new graft.feature.StratifiedSampler()
        .setIdCol("doc_id").setStrataCols("lang")
        .setSeed(2022L).setFraction(0.8).setMaxPerStratum(50)
        .transform(t(s, dir, "documents")).head
        .select("doc_id", "lang")
    }),

    // --- Decontaminator (n-gram overlap against a held-out eval split) ---
    // doc_id % 10 == 0 plays the eval suite; the planted near-dup pairs
    // cross the split, so real contamination exists to catch. 8-token
    // grams (the 8-13 window public pipelines use): an 8-gram shared by
    // chance is ~impossible, so exactly the planted overlaps flag
    "q_decontaminate" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(tp(s, dir, "documents", "doc_id")).head
      val grams = new graft.feature.NGram()
        .setInputCol("tokens").setOutputCol("shingles").setN(8)
        .transform(toks).head
        .where(size(col("shingles")) > 0)
      val train = grams.where(col("doc_id") % 10 =!= 0)
      val evalSet = grams.where(col("doc_id") % 10 === 0)
      new graft.dedup.Decontaminator()
        .setIdCol("doc_id").setInputCol("shingles")
        .transform(train, evalSet).head
        .select("doc_id", "matched_ngrams", "contaminated")
    }),

    // --- Bloom-filter decontamination: same contract as
    // q_decontaminate but the corpus side is one zero-shuffle scan
    // against a broadcast filter. The oracle is the EXACT match count:
    // Bloom has no false negatives, and at fpp 1e-6 over ~400k probed
    // grams the expected false-positive count is < 0.4 — a mismatch
    // here means real overcounting, which is the thing to catch ---
    "q_bloom_decontaminate" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(tp(s, dir, "documents", "doc_id")).head
      val grams = new graft.feature.NGram()
        .setInputCol("tokens").setOutputCol("shingles").setN(8)
        .transform(toks).head
        .where(size(col("shingles")) > 0)
      val train = grams.where(col("doc_id") % 10 =!= 0)
      val evalSet = grams.where(col("doc_id") % 10 === 0)
      new graft.dedup.BloomDecontaminator()
        .setIdCol("doc_id").setInputCol("shingles").setFpp(1e-6)
        .transform(train, evalSet).head
        .select("doc_id", "matched_ngrams", "contaminated")
    }),

    // --- Sessionizer (gap-based sessions per user over the event stream) ---
    "q_sessionize" -> ((s, dir) => {
      val ev = eventsTsm(s, dir)
      new graft.streaming.Sessionizer()
        .setKeyCols("user_id").setTimeCol("tsm").setGapMs(3600L * 1000)
        .transform(ev).head
        .select("event_id", "session", "session_start")
    }),

    // --- AsOfJoiner (point-in-time feature join: last purchase before each click) ---
    // right side deduped per (user, ts) by MAX(value) so the as-of
    // match is unambiguous on both engines; DuckDB replays with its
    // native ASOF LEFT JOIN
    "q_asof_join" -> ((s, dir) => {
      val ev = eventsTsm(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "tsm", "user_id")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "tsm").agg(max("value").as("pval"))
      new graft.join.AsOfJoiner()
        .setOnCols("user_id").setLeftTimeCol("tsm").setRightTimeCol("tsm")
        .setValueCols("pval")
        .transform(clicks, purchases).head
        .select(col("event_id"), col("matched_ts"),
          round(col("pval"), 6).as("last_purchase"))
    }),

    // --- GroupedSplitter (leakage-free train/val/test by user) ---
    // all of a user's events share a split; the oracle replays the md5
    // interval assignment with the same precomputed hex thresholds
    "q_grouped_split" -> ((s, dir) => {
      // legacy long read keeps the scan legal on nanos-era testdata
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      new graft.feature.GroupedSplitter()
        .setGroupCols("user_id").setWeights(0.8, 0.1, 0.1).setSeed(7L)
        .assign(t(s, dir, "events"), "split")
        .select("event_id", "split")
    }),

    // --- HashingTF (murmur3 bucket per distinct term; literal-pinned oracle) ---
    "q_hashing_tf" -> ((s, dir) => {
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(t(s, dir, "documents")).head
      val terms = toks.select(explode(col("tokens")).as("term")).distinct()
        .withColumn("arr", array(col("term")))
      val tf = new graft.feature.HashingTF()
        .setNumFeatures(1 << 18).setInputCol("arr").setOutputCol("vec")
        .transform(terms).head
      tf.select(col("term"),
        (array_position(org.apache.spark.ml.functions.vector_to_array(col("vec")), 1.0) - 1)
          .cast("long").as("idx"))
    }),

    // --- FeatureHasher (string + numeric columns; literal-pinned oracle) ---
    "q_feature_hasher" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
        .withColumn("nk1", col("n_nationkey") + 1)
      val out = new graft.feature.FeatureHasher()
        .setNumFeatures(1 << 18).setInputCols("n_name", "nk1").setOutputCol("vec")
        .transform(nat).head
      out.select(col("n_nationkey"),
        posexplode(org.apache.spark.ml.functions.vector_to_array(col("vec")))
          .as(Seq("idx", "val")))
        .where(col("val") =!= 0.0)
        .select(col("n_nationkey"), col("idx").cast("long").as("idx"), col("val"))
    }),

    // --- BinaryClassificationEvaluator: all four metrics on a tie-free score ---
    // (ties in the score would make the per-record trapezoid walk
    // order-dependent; the added epsilon term keyed on the unique
    // (orderkey, linenumber) makes every score distinct on both sides)
    "q_auc" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("label", (col("l_returnflag") === "R").cast("double"))
        .withColumn("score", col("l_extendedprice") +
          (col("l_orderkey") * 10 + col("l_linenumber")) * lit(1e-9))
      new graft.evaluation.BinaryClassificationEvaluator()
        .setMetricsNames("areaUnderROC", "areaUnderPR", "areaUnderLorenz", "ks")
        .setRawPredictionCol("score")
        .transform(li).head
        .select(round(col("areaUnderROC"), 6).as("areaUnderROC"),
          round(col("areaUnderPR"), 6).as("areaUnderPR"),
          round(col("areaUnderLorenz"), 6).as("areaUnderLorenz"),
          round(col("ks"), 6).as("ks"))
    }),

    // --- ChiSqTest (statistic + dof vs SQL contingency; pValue is unit-tested) ---
    "q_chisq" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("label", (col("l_returnflag") === "R").cast("double"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_linenumber", "l_quantity").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      new graft.stats.ChiSqTest().setFlatten(true).transform(assembled).head
        .select(col("featureIndex"), col("degreeOfFreedom"),
          round(col("statistic"), 4).as("statistic"))
    }),

    // --- ANOVATest (F statistic + dof vs SQL group sums) ---
    "q_anova" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("label", col("l_linenumber").cast("double"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_extendedprice", "l_discount").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      new graft.stats.ANOVATest().setFlatten(true).transform(assembled).head
        .select(col("featureIndex"), col("degreeOfFreedom"),
          round(col("fValue"), 6).as("fValue"))
    }),

    // --- FValueTest (regression F vs SQL correlation) ---
    "q_fvalue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("label", col("l_extendedprice"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1, 1)
        .transform(li).head
      new graft.stats.FValueTest().setFlatten(true).transform(assembled).head
        .select(col("featureIndex"), col("degreeOfFreedom"),
          round(col("fValue"), 6).as("fValue"))
    }),

    // --- MinHash near-dup dedup: LSH join → connected components → canonical doc ---
    "q_dedup" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val toks = new graft.feature.RegexTokenizer()
        .setInputCol("text").setOutputCol("tokens").setPattern("\\W+")
        .transform(docs).head
      val grams = new graft.feature.NGram()
        .setInputCol("tokens").setOutputCol("shingles").setN(3)
        .transform(toks).head
        .where(size(col("shingles")) > 0)
      val cv = new graft.feature.CountVectorizer()
        .setVocabularySize(1 << 17).setInputCol("shingles").setOutputCol("tf")
        .fit(grams)
      val vecs = cv.transform(grams).head.select("doc_id", "tf")
      new graft.dedup.MinHashDeduplicator()
        .setIdCol("doc_id").setInputCol("tf")
        .setSeed(2022L).setNumHashTables(10).setThreshold(0.5)
        .transform(vecs).head
        .select(col("doc_id"), col("canonical_id"), col("is_duplicate"))
    }),

    // --- KMeans (train; deterministic given seed, cluster sizes) ---
    // deterministic training: fixed initial centroids (warm start) +
    // maxIter=2 lets the DuckDB oracle replay Lloyd's two rounds
    // exactly; centroid coords chosen off every integer/step midpoint
    // so no point ever ties between two centroids
    "q_kmeans" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      import s.implicits._
      val init = Seq((0, Array(5.2, 0.095)), (1, Array(10.1, 0.013)),
          (2, Array(24.7, 0.047)), (3, Array(39.3, 0.081)))
        .toDF("centroidId", "arr")
        .select(col("centroidId"),
          org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"))
      val model = new graft.clustering.KMeans()
        .setK(4).setMaxIter(2).setInitialModelData(init).fit(assembled)
      model.getModelData.head.select(col("centroidId"),
        round(org.apache.spark.ml.functions.vector_to_array(col("centroid")).getItem(0), 6).as("cx"),
        round(org.apache.spark.ml.functions.vector_to_array(col("centroid")).getItem(1), 6).as("cy"))
    }),

    // --- LogisticRegressionModel inference with fixed coefficients ---
    "q_logreg_predict" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      import s.implicits._
      val coeffs = Seq(Tuple1(Array(0.1, -2.0))).toDF("coefficient")
        .select(org.apache.spark.ml.functions.array_to_vector(col("coefficient")).as("coefficient"))
      val model = new graft.classification.LogisticRegressionModel().setModelData(coeffs)
      model.transform(assembled).head
        .select(col("l_orderkey"), col("l_linenumber"),
          col("prediction"),
          round(org.apache.spark.ml.functions.vector_to_array(col("rawPrediction")).getItem(1), 6)
            .as("prob"))
    }),

    // --- LinearRegressionModel inference with fixed coefficients ---
    "q_linreg_predict" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      import s.implicits._
      val coeffs = Seq(Tuple1(Array(2.5, 100.0))).toDF("coefficient")
        .select(org.apache.spark.ml.functions.array_to_vector(col("coefficient")).as("coefficient"))
      val model = new graft.regression.LinearRegressionModel().setModelData(coeffs)
      model.transform(assembled).head
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("prediction"), 6).as("prediction"))
    }),

    // --- LinearSVCModel inference with fixed coefficients ---
    "q_linsvc_predict" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_extendedprice").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      import s.implicits._
      val coeffs = Seq(Tuple1(Array(1.0, -0.001))).toDF("coefficient")
        .select(org.apache.spark.ml.functions.array_to_vector(col("coefficient")).as("coefficient"))
      val model = new graft.classification.LinearSVCModel().setModelData(coeffs)
      model.transform(assembled).head
        .select(col("l_orderkey"), col("l_linenumber"), col("prediction"))
    }),

    // --- LogisticRegression training end-to-end (rows-only smoke) ---
    // full-batch gradient descent (globalBatchSize ≥ any partition ⇒
    // every step sums over ALL rows, independent of partition layout)
    // makes training deterministic and SQL-replayable; the oracle
    // unrolls the three steps
    "q_logreg_train" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("label", (col("l_quantity") > 25).cast("double"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      val model = new graft.classification.LogisticRegression()
        .setMaxIter(3).setGlobalBatchSize(1 << 22).fit(assembled)
      model.getModelData.head
        .select(posexplode(org.apache.spark.ml.functions.vector_to_array(col("coefficient")))
          .as(Seq("dim", "c")))
        .select(col("dim").cast("long").as("dim"), round(col("c"), 4).as("coefficient"))
    }),

    // --- NaiveBayes train+predict (rows-only smoke) ---
    "q_naive_bayes" -> ((s, dir) => {
      val li = tp(s, dir, "lineitem", "l_orderkey")
        .withColumn("label", (col("l_returnflag") === "R").cast("double"))
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_linenumber", "l_tax").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      val model = new graft.classification.NaiveBayes().fit(assembled)
      model.transform(assembled).head
        .groupBy("label", "prediction").agg(count(lit(1)).as("n"))
    }),

    // --- Knn predict (brute-force top-5 majority vote vs SQL rank oracle) ---
    "q_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>")).as("features"),
          col("label").cast("double").as("label"), col("vec_id"))
      val train = emb.where(col("vec_id") % 10 =!= 0)
      val test = emb.where(col("vec_id") % 10 === 0)
      val model = new graft.classification.Knn().setK(5).fit(train)
      model.transform(test).head.select("vec_id", "prediction")
    }),

    // --- KMeansModel inference with fixed centroids ---
    "q_kmeans_predict" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val assembled = new graft.feature.VectorAssembler()
        .setInputCols("l_quantity", "l_discount").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(li).head
      import s.implicits._
      val cents = Seq((0, Array(10.0, 0.02)), (1, Array(25.0, 0.05)), (2, Array(40.0, 0.08)))
        .toDF("centroidId", "arr")
        .select(col("centroidId"),
          org.apache.spark.ml.functions.array_to_vector(col("arr")).as("centroid"))
      val model = new graft.clustering.KMeansModel().setModelData(cents)
      model.transform(assembled).head
        .select(col("l_orderkey"), col("l_linenumber"), col("prediction"))
    }),

    // --- Squared-Euclidean silhouette of the embeddings' ground-truth
    // labeling (per-cluster quality rows) ---
    "q_silhouette" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("label").cast("long").as("cluster"),
          col("embedding").cast("array<double>").as("f"))
      new graft.evaluation.ClusteringEvaluator()
        .setFeaturesCol("f").setPredictionCol("cluster")
        .transform(emb).head
        .select(col("cluster"), col("n"),
          round(col("mean_silhouette"), 6).as("mean_silhouette"))
    }),

    // --- Frequency encoding of order priority (per-row broadcast-join
    // inference over the full fact table) ---
    "q_freq_encode" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val model = new graft.feature.FrequencyEncoder()
        .setInputCol("o_orderpriority").setOutputCol("enc").fit(ord)
      model.transform(ord).head
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("enc"), 6).as("enc"))
    }),

    // --- m-estimate target encoding of return flag by extended price,
    // scored on the category set plus one unseen category ---
    "q_target_encode" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val model = new graft.feature.TargetEncoder()
        .setInputCol("l_returnflag").setOutputCol("enc")
        .setLabelCol("l_extendedprice").setSmoothing(50.0).fit(li)
      val cats = li.select(col("l_returnflag").cast("string").as("category"))
        .distinct()
        .union(Seq("ZZ").toDF("category"))
      model.setInputCol("category").transform(cats).head
        .select(col("category"), round(col("enc"), 6).as("enc"))
    }),

    // --- Per-user lag/rolling featurization of the event log (one
    // shuffle + one sort; leakage-safe strictly-preceding frame) ---
    "q_lag_features" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      new graft.feature.LagFeaturizer()
        .setInputCol("value").setPartitionCols("user_id")
        .setOrderCols("ts", "event_id").setNumLags(2).setRollingWindow(5)
        .transform(ev).head
        .select(col("event_id"), col("user_id"),
          col("value_lag1"), col("value_lag2"),
          round(col("ts_delta"), 6).as("ts_delta"),
          round(col("value_roll_mean"), 6).as("roll_mean"),
          col("value_roll_count").as("roll_count"))
    }),

    // --- Rolling z-score anomaly flags over the event log (composition:
    // LagFeaturizer rolling mean/std -> per-row deviation score) ---
    "q_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val f = new graft.feature.LagFeaturizer()
        .setInputCol("value").setPartitionCols("user_id")
        .setOrderCols("ts", "event_id").setNumLags(0).setRollingWindow(20)
        .transform(ev).head
      f.where(col("value_roll_count") >= 10 && col("value_roll_std") > 0)
        .select(col("event_id"), col("user_id"),
          round(abs(col("value") - col("value_roll_mean"))
            / col("value_roll_std"), 6).as("abs_z"))
        .withColumn("anomaly", col("abs_z") > 3.0)
    }),

    // --- HTML extraction: wrap each document in a REAL page (title,
    // style block, entity, two anchors), then regex-extract it back;
    // the oracle replays the construction closed-form ---
    "q_html" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val page = docs.select(col("doc_id"),
        concat(lit("<html><head><title>Doc "), col("doc_id"),
          lit("</title><style>p { margin: 0; }</style></head><body><p>"),
          col("text"),
          lit(" &amp; more</p><a href=\"/d/"), col("doc_id"),
          lit("\">self</a><A href=\"/next\">n</A></body></html>")).as("html"))
      new graft.text.HtmlExtractor().setInputCol("html").setOutputCol("h")
        .transform(page).head
        .select(col("doc_id"), col("h_title").as("title"),
          md5(col("h_text")).as("digest"), col("h_links").as("links"))
    }),

    // --- URL decomposition + domain blocklist over deterministic
    // crawl-style URLs (1/3 on a blocked TLD) ---
    "q_url" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val urls = docs.select(col("doc_id"),
        concat(lit("HTTPS://u@www."), col("source"),
          when(col("doc_id") % 3 === 0, lit(".spam.biz"))
            .otherwise(lit(".example.com")),
          lit(":8443/docs/"), col("doc_id"),
          lit("?lang="), col("lang"), lit("#top")).as("url"))
      new graft.text.UrlParser().setInputCol("url").setOutputCol("u")
        .setBlockedDomains("spam.biz")
        .transform(urls).head
        .select(col("doc_id"), col("u_scheme"), col("u_host"),
          col("u_domain"), col("u_path"), col("u_query"), col("u_blocked"))
    }),

    // --- URL canonicalization: one messy spelling per class — case +
    // userinfo + default port + fragment + duplicate slashes +
    // tracking params + param order (m0), default http port (m1),
    // empty path with an all-dropped query (m2), non-default port
    // kept with params sorted (m3) — each with its canonical form
    // spelled closed-form in the oracle, plus the md5 dedup key. ---
    "q_url_canonical" -> ((s, dir) => {
      val m = col("doc_id") % 4
      val url = when(m === 0, concat(lit("HTTPS://User@WWW."), col("source"),
          lit(".Example.COM:443//a//b/c?utm_source=tw&b=2&a=1#frag")))
        .when(m === 1, concat(lit("http://h"), col("doc_id"),
          lit(".example.org:80/p/"), col("doc_id")))
        .when(m === 2, concat(lit("https://h"), col("doc_id"),
          lit(".example.org?fbclid=x"), col("doc_id")))
        .otherwise(concat(lit("ftp://files.example.net:2121/pub//f"),
          col("doc_id"), lit("?z=1&y=2&utm_campaign=c")))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source")).withColumn("url", url)
      new graft.text.UrlCanonicalizer().setInputCol("url").setOutputCol("cn")
        .transform(docs).head
        .select(col("doc_id"), col("cn_url").as("canon_url"),
          col("cn_key").as("canon_key"))
    }),

    // --- Dot-segment + fragment-'?' canonicalization (round-15): one
    // planted spelling class per mod-4 residue — "/a/b/../c" (m0),
    // "/./x/./y" (m1), above-root "/../../p" (m2), and an SPA hash
    // route whose '?' first appears inside the fragment and must NOT
    // be resurrected as a query (m3) — each with its canonical twin
    // spelled closed-form in the oracle. ---
    "q_url_dotsegments" -> ((s, dir) => {
      val m = col("doc_id") % 4
      val url = when(m === 0, concat(lit("https://ex."), col("source"),
          lit(".example.com/a/b/../c")))
        .when(m === 1, concat(lit("https://h"), col("doc_id"),
          lit(".example.org/./x/./y")))
        .when(m === 2, concat(lit("https://h"), col("doc_id"),
          lit(".example.org/../../p"), col("doc_id")))
        .otherwise(concat(lit("https://app.example.com/app/"),
          col("doc_id"), lit("#/search?q="), col("doc_id")))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source")).withColumn("url", url)
      new graft.text.UrlCanonicalizer().setInputCol("url").setOutputCol("cn")
        .transform(docs).head
        .select(col("doc_id"), col("cn_url").as("canon_url"),
          col("cn_key").as("canon_key"))
    }),

    // --- robots.txt parsing (round-15): one planted robots document
    // class per mod-4 residue — a wildcard section with allow/disallow
    // (m0), a named-agents section that must NOT apply to '*' plus a
    // wildcard section that must (m1), a comment + empty Disallow that
    // emits nothing (m2), a foreign-agent-only document (m3). The
    // oracle spells the surviving rules closed-form. ---
    "q_robots_rules" -> ((s, dir) => {
      val m = col("doc_id") % 4
      val txt = when(m === 0,
          lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok/"))
        .when(m === 1,
          lit("User-agent: googlebot\nUser-agent: bingbot\nDisallow: /\n\n" +
            "User-agent: *\nDisallow: /tmp/"))
        .when(m === 2, lit("# comment only\nUser-agent: *\nDisallow:"))
        .otherwise(lit("User-agent: otherbot\nDisallow: /secret/"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), col("doc_id"), lit(".example.com")).as("host"))
        .withColumn("robots", txt)
        .drop("doc_id")
      new graft.text.RobotsTxtParser().setInputCol("robots").setOutputCol("r")
        .transform(docs).head
        .select(col("host"), col("r_rule").as("rule"), col("r_prefix").as("prefix"))
    }),

    // --- robots URL filtering (round-15): the engine's two-input
    // transform — three frontier URLs per host against the
    // q_robots_rules rule table; longest prefix wins, allow beats
    // disallow on the /private/ok/ override, no-rule hosts pass.
    // Closed-form CASE oracle. ---
    "q_robots_filter" -> ((s, dir) => {
      val m = col("doc_id") % 4
      val txt = when(m === 0,
          lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok/"))
        .when(m === 1,
          lit("User-agent: googlebot\nUser-agent: bingbot\nDisallow: /\n\n" +
            "User-agent: *\nDisallow: /tmp/"))
        .when(m === 2, lit("# comment only\nUser-agent: *\nDisallow:"))
        .otherwise(lit("User-agent: otherbot\nDisallow: /secret/"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), col("doc_id"), lit(".example.com")).as("host"))
      val rules = new graft.text.RobotsTxtParser()
        .setInputCol("robots").setOutputCol("r")
        .transform(docs.withColumn("robots", txt)).head
      val urls = docs.select(col("doc_id"), col("host"),
        explode(array(
          concat(lit("/private/p"), col("doc_id")),
          concat(lit("/private/ok/p"), col("doc_id")),
          concat(lit("/tmp/p"), col("doc_id")))).as("path"))
        .withColumn("url", concat(lit("https://"), col("host"), col("path")))
      new graft.text.RobotsUrlFilter().setIdCol("url").setOutputCol("v")
        .transform(urls, rules).head
        .select(col("doc_id"), col("path"), col("v_allowed").as("allowed"),
          col("v_prefix").as("win_prefix"))
    }),

    // --- robots wildcards (round-16, RFC 9309 §2.2.3): every host
    // carries the same wildcard rule set; six planted path classes
    // per doc exercise '*' runs, trailing-'$' anchors, the longer
    // allow override and metachar escaping. Closed-form CASE oracle. ---
    "q_robots_wildcards" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), col("doc_id"), lit(".example.com")).as("host"))
      val rules = new graft.text.RobotsTxtParser()
        .setInputCol("robots").setOutputCol("r")
        .transform(docs.withColumn("robots",
          lit("User-agent: *\nDisallow: /*.pdf$\nAllow: /pub/*.pdf$\n" +
            "Disallow: /a/*/c\nDisallow: /exact$"))).head
      val urls = docs.select(col("doc_id"), col("host"),
        explode(array(
          concat(lit("/files/r"), col("doc_id"), lit(".pdf")),
          concat(lit("/pub/r"), col("doc_id"), lit(".pdf")),
          concat(lit("/files/r"), col("doc_id"), lit(".pdf.html")),
          concat(lit("/a/x"), col("doc_id"), lit("/c/d")),
          lit("/exact"),
          lit("/exactly"))).as("path"))
        .withColumn("url", concat(lit("https://"), col("host"), col("path")))
      new graft.text.RobotsUrlFilter().setIdCol("url").setOutputCol("v")
        .transform(urls, rules).head
        .select(col("doc_id"), col("path"), col("v_allowed").as("allowed"),
          col("v_prefix").as("win_prefix"))
    }),

    // --- robots group selection (round-16, RFC 9309 §2.2.1): one
    // planted document class per mod-4 residue — specific group beats
    // the '*' fallback (m0), fallback applies when the agent is
    // unnamed (m1), duplicate-token sections merge (m2), a
    // foreign-agent-only document emits nothing (m3). Parsed for
    // userAgent=googlebot; closed-form oracle. ---
    "q_robots_groups" -> ((s, dir) => {
      val m = col("doc_id") % 4
      val txt = when(m === 0,
          lit("User-agent: googlebot\nAllow: /\n\nUser-agent: *\nDisallow: /x"))
        .when(m === 1, lit("User-agent: *\nDisallow: /y"))
        .when(m === 2,
          lit("User-agent: googlebot\nDisallow: /a\n\n" +
            "User-agent: googlebot\nDisallow: /b"))
        .otherwise(lit("User-agent: otherbot\nDisallow: /z"))
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("h"), col("doc_id"), lit(".example.com")).as("host"))
        .withColumn("robots", txt)
        .drop("doc_id")
      new graft.text.RobotsTxtParser().setInputCol("robots").setOutputCol("r")
        .setUserAgent("googlebot")
        .transform(docs).head
        .select(col("host"), col("r_rule").as("rule"), col("r_prefix").as("prefix"))
    }),

    // --- incremental crawl frontier (round-16): sitemap locs + a
    // messy-spelled link feed + a second link feed unified against an
    // already-crawled key index — spellings collapse through the
    // canonicalizer (the utm-tagged link lands ON the sitemap loc's
    // key), even doc_ids' /p/ pages are already crawled and must not
    // re-enqueue. Closed-form urls/refs/sources per class. ---
    "q_frontier" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val pUrl = concat(lit("https://www."), col("source"),
        lit(".example.com/p/"), col("doc_id"))
      val sitemap = docs.select(pUrl.as("url"))
      val links = docs.select(
        concat(pUrl, lit("?utm_source=x")).as("url"))
      val extra = docs.select(concat(lit("https://www."), col("source"),
        lit(".example.com/q/"), col("doc_id")).as("url"))
      val crawled = docs.where(col("doc_id") % 2 === 0).select(pUrl.as("url"))
      val model = new graft.text.FrontierBuilder()
        .setUrlCol("url").setOutputCol("f").fit(crawled)
      model.transform(sitemap, links, extra).head
        .select(col("f_url").as("url"), col("f_key").as("key"),
          col("f_refs").as("refs"), col("f_sources").as("sources"))
    }),

    // --- crawl-tier capstone (round-16): the composition a Common
    // Crawl user actually runs, as ONE query pinning the tier's
    // column contracts against each other — WARC ingest →
    // LinkGraphExtractor (dot-segment relative + messy absolute
    // anchors) → RobotsTxtParser/RobotsUrlFilter gate (planted
    // /private/ links must die BEFORE ranking) → UrlCanonicalizer on
    // both edge ends → 3-iteration PageRank over canonical URL ids.
    // The oracle rebuilds the surviving canonical edge list
    // closed-form and replays the power iteration as CTEs. ---
    "q_crawl_pipeline" -> ((s, dir) => {
      val crlf = "\r\n"
      val docs = tp(s, dir, "documents", "doc_id")
      val warc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: <https://www."),
        col("source"), lit(".example.com/docs/"), col("doc_id"),
        lit(">" + crlf + crlf + "HTTP/1.1 200 OK" + crlf + crlf +
          "<html><a href=\"x/../r"), col("doc_id"),
        lit("\">rel</a><a href=\"HTTPS://WWW."), upper(col("source")),
        lit(".EXAMPLE.COM:443//hub?utm_source=x\">hub</a>" +
          "<a href=\"/private/s"), col("doc_id"),
        lit("\">blocked</a></html>" + crlf + crlf))
      val files = docs.select(col("doc_id"), col("source"))
        .withColumn("warc", warc)
      val recs = new graft.text.WarcParser()
        .setInputCol("warc").setOutputCol("w").transform(files).head
        .where(col("w_type") === "response")
        .select(col("w_uri").as("url"), col("w_body").as("html"))
      val links = new graft.text.LinkGraphExtractor()
        .setInputCol("html").setUrlCol("url").setOutputCol("lk")
        .transform(recs).head
        .select(col("url").as("src_raw"), col("lk_url").as("dst_raw"))
      // robots gate: one robots.txt per HOST (hosts are per-source),
      // matched on the raw dst host/path — the canonical step comes
      // AFTER politeness, like a real crawler
      val rules = new graft.text.RobotsTxtParser()
        .setInputCol("robots").setOutputCol("r")
        .transform(docs.select(col("source")).distinct()
          .select(concat(lit("www."), col("source"), lit(".example.com")).as("host"),
            lit("User-agent: *\nDisallow: /private/").as("robots"))).head
      val cands = links.withColumn("host",
          regexp_extract(col("dst_raw"), "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
        .withColumn("path",
          regexp_extract(col("dst_raw"), "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1))
      val allowed = new graft.text.RobotsUrlFilter()
        .setIdCol("dst_raw").setOutputCol("v")
        .transform(cands, rules).head
        .where(col("v_allowed"))
        .select(col("src_raw"), col("dst_raw"))
      val srcCanon = new graft.text.UrlCanonicalizer()
        .setInputCol("src_raw").setOutputCol("s")
      val dstCanon = new graft.text.UrlCanonicalizer()
        .setInputCol("dst_raw").setOutputCol("d")
      // stored before PageRank's multi-read setup (the q_url_rank lesson)
      val edges = Loop.keep(dstCanon.transform(srcCanon.transform(allowed).head).head
        .select(col("s_url").as("src"), col("d_url").as("dst")))
      graft.graph.PageRank.run(edges, "src", "dst",
          dampingFactor = 0.85, numIter = 3).state
        .select(col("id").as("url"), round(col("pagerank"), 10).as("pagerank"))
    }),

    // --- main-content extraction (round-16): the jusText-shaped
    // boilerplate separator — one planted page frame per mod-4
    // residue (nav/footer link farms, a short headline, good
    // paragraphs, a short teaser that is kept only BETWEEN goods, a
    // crumb-only page). Closed-form expected text per residue. ---
    "q_main_content" -> ((s, dir) => {
      val m = col("doc_id") % 4
      val nav = lit("<div><a href=\"/a\">Home</a> <a href=\"/b\">About</a> " +
        "<a href=\"/c\">Contact</a></div>")
      val footer = lit("<div><a href=\"/t\">Terms</a> <a href=\"/p\">Privacy</a></div>")
      val h1 = concat(lit("<h1>Doc "), col("doc_id"), lit(" title</h1>"))
      val p1 = concat(lit("<p>Paragraph one about document "), col("doc_id"),
        lit(" which continues with enough plain prose to clear the good threshold easily.</p>"))
      val p2 = concat(lit("<p>Paragraph two about document "), col("doc_id"),
        lit(" adds further commentary that is also comfortably past the threshold length.</p>"))
      val teaser = concat(lit("<p>A short aside on "), col("doc_id"), lit(".</p>"))
      val crumb = concat(lit("<p>t "), col("doc_id"), lit("</p>"))
      val html = when(m === 0, concat(nav, h1, p1, teaser, footer))
        .when(m === 1, concat(nav, h1, p1, teaser, p2, footer))
        .when(m === 2, concat(nav, crumb, footer))
        .otherwise(concat(h1, p1, p2))
      val docs = tp(s, dir, "documents", "doc_id").select(col("doc_id")).withColumn("html", html)
      new graft.text.MainContentExtractor().setIdCol("doc_id")
        .setInputCol("html").setOutputCol("mc")
        .transform(docs).head
        .select(col("doc_id"), col("mc_text").as("text"),
          col("mc_kept").as("kept"), col("mc_blocks").as("blocks"))
    }),

    // --- WARC HTTP gate (round-16): status code + media type off
    // the payload's HTTP header block — the keep-200s/keep-text-html
    // filter every Common Crawl pipeline applies first. One status /
    // Content-Type class per mod-4 residue (incl. a params-stripped
    // uppercase type and a missing header), plus a metadata record
    // that must yield nulls. ---
    "q_warc_http" -> ((s, dir) => {
      val crlf = "\r\n"
      val m = col("doc_id") % 4
      val statusLine = when(m === 0, lit("200 OK"))
        .when(m === 1, lit("301 Moved Permanently"))
        .when(m === 2, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val ctLine = when(m === 0, lit("Content-Type: TEXT/HTML; charset=utf-8" + crlf))
        .when(m === 1, lit("Content-Type: text/html" + crlf))
        .when(m === 2, lit("Content-Type: application/pdf" + crlf))
        .otherwise(lit("")) // residue 3: no Content-Type header at all
      val warc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf + crlf + "HTTP/1.1 "),
        statusLine, lit(crlf), ctLine,
        lit(crlf + "<html>doc "), col("doc_id"),
        lit(" Content-Type: body/fake</html>" + crlf + crlf +
          "WARC/1.0" + crlf + "WARC-Type: metadata" + crlf + crlf +
          "fetch: "), col("doc_id"), lit(crlf + crlf))
      val files = t(s, dir, "documents").select(col("doc_id")).withColumn("warc", warc)
      new graft.text.WarcParser().setInputCol("warc").setOutputCol("w")
        .transform(files).head
        .select(col("doc_id"), col("w_pos").cast("long").as("rec_pos"),
          col("w_status").as("status"), col("w_mime").as("mime"),
          coalesce(col("w_status") === 200 && col("w_mime") === "text/html",
            lit(false)).as("keep"))
    }),

    // --- robots.txt non-rule directives (round-16): Sitemap lines
    // are document-scoped (emit regardless of groups), Crawl-delay is
    // group-scoped with §2.2.1 selection (named group beats the '*'
    // fallback), a delay before any group drops, garbage delays keep
    // the value but cast to null. One class per mod-3 residue. ---
    "q_robots_directives" -> ((s, dir) => {
      val m = col("doc_id") % 3
      val host = concat(lit("h"), col("doc_id"), lit(".example.com"))
      val robots = when(m === 0, concat(
          lit("Sitemap: https://h"), col("doc_id"), lit(".example.com/s.xml\n" +
            "User-agent: graftbot\nCrawl-delay: "), col("doc_id") % 7 + 1,
          lit("\nUser-agent: *\nCrawl-delay: 99")))
        .when(m === 1, concat(
          lit("User-agent: *\nCrawl-delay: 0.5\nSitemap: https://h"), col("doc_id"),
          lit(".example.com/a.xml\nSitemap: https://h"), col("doc_id"),
          lit(".example.com/b.xml")))
        .otherwise(lit("Crawl-delay: 9\nUser-agent: other\nCrawl-delay: fast\n# note"))
      val docs = t(s, dir, "documents")
        .select(host.as("host"), robots.as("robots"))
      new graft.text.RobotsDirectives()
        .setInputCol("robots").setOutputCol("rd").setUserAgent("graftbot")
        .transform(docs).head
        .select(regexp_extract(col("host"), "^h(\\d+)\\.", 1).cast("long").as("doc_id"),
          col("rd_kind").as("kind"),
          // named "secs", not "delay": the driver's row sort leads with
          // the alphabetically-first column, and a null-bearing FLOAT
          // there sorts nondeterministically (NaN breaks tuple order)
          col("rd_value").as("value"), col("rd_delay").as("secs"))
    }),

    // --- crawl-round scheduling (round-16): RobotsDirectives-parsed
    // Crawl-delays tighten per-host budgets under a 90 s horizon
    // (delay classes 20/40/60 s + a garbage delay that keeps the flat
    // budget), top-3 per host by planted priority with the salted
    // pre-pass armed — the oracle replays selection as a window over
    // the same closed-form budgets. ---
    "q_crawl_schedule" -> ((s, dir) => {
      val hn = col("doc_id") % 50
      val host = concat(lit("h"), hn, lit(".example.com"))
      val frontier = t(s, dir, "documents").select(
        concat(lit("https://h"), hn, lit(".example.com/p/"), col("doc_id")).as("url"),
        host.as("host"),
        (col("doc_id") % 11).cast("double").as("priority"))
      val hn2 = regexp_extract(col("host"), "^h(\\d+)\\.", 1).cast("long")
      val delayTxt = when(hn2 % 4 === 0, lit("none"))
        .otherwise((hn2 % 4 * 20).cast("string"))
      val robots = frontier.select(col("host")).distinct()
        .withColumn("robots",
          concat(lit("User-agent: *\nCrawl-delay: "), delayTxt))
      val delays = new graft.text.RobotsDirectives()
        .setInputCol("robots").setOutputCol("rd")
        .transform(robots).head
      new graft.text.CrawlScheduler()
        .setOutputCol("cs").setBudgetPerHost(3).setHorizonSec(90.0)
        .setDelayCol("rd_delay").setSaltBuckets(4)
        .transform(frontier, delays).head
        .select(col("url"), col("host"), col("priority"),
          col("cs_rank").as("rank"))
    }),

    // --- FineWeb-shaped curation capstone (round-16): the LLM-data
    // composition a training pipeline actually runs, as ONE oracle
    // query pinning the tier's column contracts — WARC ingest → HTTP
    // status/mime gate (residue-2 pages 404 out) → main-content
    // boilerplate separation → exact dedup on the extracted text
    // (residue 3 duplicates residue 0's text and must drop) → PII
    // redaction → language ID → token budget. Survivors and every
    // output column are closed-form. ---
    "q_fineweb_pipeline" -> ((s, dir) => {
      val crlf = "\r\n"
      val m = col("doc_id") % 4
      val g = col("doc_id") - m
      val pTxt = concat(lit("Contact admin@ex"), g, lit(".org for document "), g,
        lit(" which continues with enough plain prose to clear the good threshold easily."))
      val qTxt = concat(lit("Paragraph two about document "), g,
        lit(" adds further commentary that is also comfortably past the threshold length."))
      val nav = lit("<div><a href=\"/a\">Home</a> <a href=\"/b\">About</a></div>")
      val footer = lit("<div><a href=\"/t\">Terms</a> <a href=\"/p\">Privacy</a></div>")
      val h1 = concat(lit("<h1>Doc "), g, lit(" title</h1>"))
      def p(b: org.apache.spark.sql.Column) = concat(lit("<p>"), b, lit("</p>"))
      val html = when(m === 0, concat(nav, h1, p(pTxt), footer))
        .when(m === 1, concat(h1, p(pTxt), p(qTxt)))
        .when(m === 2, concat(nav, p(concat(lit("t "), col("doc_id"))), footer))
        .otherwise(concat(nav, p(pTxt), footer))
      val status = when(m === 2, lit("404 Not Found")).otherwise(lit("200 OK"))
      val warc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: <https://www.s.example.com/d/"), col("doc_id"),
        lit(">" + crlf + crlf + "HTTP/1.1 "), status,
        lit(crlf + "Content-Type: text/html; charset=utf-8" + crlf + crlf),
        html, lit(crlf + crlf))
      val files = tp(s, dir, "documents", "doc_id").select(col("doc_id")).withColumn("warc", warc)
      val fetched = new graft.text.WarcParser()
        .setInputCol("warc").setOutputCol("w").transform(files).head
        .where(col("w_status") === 200 && col("w_mime") === "text/html")
        .select(col("doc_id"), col("w_body").as("html"))
      val mc = new graft.text.MainContentExtractor().setIdCol("doc_id")
        .setInputCol("html").setOutputCol("mc")
        .transform(fetched).head
        .select(col("doc_id"), col("mc_text"))
      val kept = new graft.text.ExactDeduplicator()
        .setIdCol("doc_id").setInputCol("mc_text")
        .transform(mc).head
        .where(!col("is_exact_duplicate"))
        .select(col("doc_id"), col("mc_text"))
      val redacted = new graft.text.PiiRedactor()
        .setInputCol("mc_text").setOutputCol("text")
        .transform(kept).head
      val lang = new graft.text.LanguageDetector()
        .setInputCol("text").setLangCol("lang")
        .transform(redacted).head
      new graft.text.TokenCounter().setInputCol("text")
        .transform(lang).head
        .select(col("doc_id"), col("text"), col("lang"),
          col("n_ws_tokens").as("tokens"), col("n_emails").as("pii_hits"))
    }),

    // --- per-domain corpus capping (round-16): CrawlScheduler
    // repurposed on the LLM-data side — the C4/RefinedWeb guard that
    // bounds any one domain's contribution to the training mix: top
    // 20 docs per source by TextQualityScorer's quality score,
    // deterministic doc_id tie-breaks. The oracle replays the exact
    // quality formula (all exact integer divisions) and the window. ---
    "q_domain_cap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stats = new graft.text.TextQualityScorer()
        .setInputCol("text").transform(docs).head
      new graft.text.CrawlScheduler()
        .setUrlCol("doc_id").setHostCol("source").setPriorityCol("quality_score")
        .setBudgetPerHost(20).setOutputCol("cap")
        .transform(stats).head
        .select(col("doc_id"), col("source"),
          round(col("quality_score"), 6).as("quality"),
          col("cap_rank").as("rank"))
    }),

    // --- model-based quality filtering (round-16): the DCLM /
    // FineWeb-Edu shape — train a logistic classifier on HEURISTIC
    // labels (GopherFilter's rule bundle), featurize with
    // TextQualityScorer's exact-integer-division ratios, score every
    // document. The oracle replays the 3-iteration full-batch GD as
    // the q_logreg_train CTE chain over the same features/labels and
    // scores each row with the trained weights. ---
    "q_quality_classifier" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val stats = new graft.text.TextQualityScorer()
        .setInputCol("text").transform(docs).head
      // minWords 30 / stopword-hits 1 — the q_gopher calibration for
      // this corpus (defaults would label every row 0 and the trained
      // separator would be vacuous)
      val labeled = new graft.text.GopherFilter()
        .setInputCol("text").setMinWords(30).setMinStopwordHits(1)
        .transform(stats).head
        .withColumn("label", col("gopher_keep").cast("double"))
      val feat = new graft.feature.VectorAssembler()
        .setInputCols("stopword_ratio", "alpha_ratio").setOutputCol("features")
        .setInputSizes(1, 1)
        .transform(labeled).head
      val model = new graft.classification.LogisticRegression()
        .setMaxIter(3).setGlobalBatchSize(1 << 22).fit(feat)
      model.transform(feat).head
        .select(col("doc_id"), col("label"), col("prediction"),
          round(org.apache.spark.ml.functions.vector_to_array(col("rawPrediction"))
            .getItem(1), 4).as("score"),
          round(col("stopword_ratio"), 6).as("x0"),
          round(col("alpha_ratio"), 6).as("x1"))
    }),

    // --- WARC record extraction (round-15): per doc a 2-record
    // archive — an HTTP response (angle-bracketed target URI, HTML
    // entity body behind the HTTP header block) and a metadata record
    // — both spelled closed-form in the oracle. ---
    "q_warc" -> ((s, dir) => {
      val crlf = "\r\n"
      val docs = t(s, dir, "documents")
      val warc = concat(
        lit("WARC/1.0" + crlf + "WARC-Type: response" + crlf +
          "WARC-Target-URI: <https://www."),
        col("source"), lit(".example.com/w/"), col("doc_id"),
        lit(">" + crlf + crlf + "HTTP/1.1 200 OK" + crlf +
          "Content-Type: text/html" + crlf + crlf +
          "<html><a href=\"/l/"), col("doc_id"),
        lit("\">x</a></html>" + crlf + crlf +
          "WARC/1.0" + crlf + "WARC-Type: metadata" + crlf + crlf +
          "fetch: "), col("doc_id"), lit(crlf + crlf))
      val files = docs.select(col("doc_id"), col("source")).withColumn("warc", warc)
      new graft.text.WarcParser().setInputCol("warc").setOutputCol("w")
        .transform(files).head
        .select(col("doc_id"), col("w_pos").cast("long").as("rec_pos"),
          col("w_type").as("rec_type"), col("w_uri").as("uri"),
          col("w_body").as("body"))
    }),

    // --- Sitemap extraction (round-15): per doc a urlset with a
    // fully-populated entry, a loc-only entry, a loc-LESS entry that
    // must drop, plus one sitemap-index entry — fields spelled
    // closed-form in the oracle. ---
    "q_sitemap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc> https://www."),
        col("source"), lit(".example.com/p/"), col("doc_id"),
        lit(" </loc><lastmod>2026-01-"), col("doc_id") % 19 + 10,
        lit("</lastmod><priority>0.8</priority></url>"),
        lit("<url><loc>https://www."), col("source"),
        lit(".example.com/q/"), col("doc_id"), lit("</loc></url>"),
        lit("<url><lastmod>2026-02-02</lastmod></url>"),
        lit("<sitemap><loc>https://www."), col("source"),
        lit(".example.com/sitemap-"), col("doc_id") % 10,
        lit(".xml</loc></sitemap></urlset>"))
      val pages = docs.select(col("doc_id"), col("source")).withColumn("xml", xml)
      new graft.text.SitemapExtractor().setInputCol("xml").setOutputCol("sm")
        .transform(pages).head
        .select(col("doc_id"), col("sm_kind").as("kind"), col("sm_loc").as("loc"),
          col("sm_lastmod").as("lastmod"), col("sm_priority").as("priority"))
    }),

    // --- Multi-source BFS hop distances (round-15): within each
    // 8-block a forward chain (off < 7) plus a 2-hop shortcut
    // (off < 6), seeds at every block start — the min-path distance is
    // the closed form (off + 1) / 2 for every document, shortcut
    // halving included; edge targets capped at max(doc_id) so a
    // trailing partial block adds no phantom vertex. ---
    "q_bfs_depth" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val maxId = docs.agg(max("doc_id")).head.getLong(0)
      val off = col("doc_id") % 8
      val chain = docs.where(off < 7 && col("doc_id") + 1 <= maxId)
        .select(col("doc_id").as("src"), (col("doc_id") + 1).as("dst"))
      val shortcut = docs.where(off < 6 && col("doc_id") + 2 <= maxId)
        .select(col("doc_id").as("src"), (col("doc_id") + 2).as("dst"))
      val seeds = docs.where(off === 0).select(col("doc_id").as("id"))
      graft.graph.Bfs.run(chain.union(shortcut), seeds, maxIter = 10).state
        .select(col("id").as("doc_id"),
          col("distance").cast("long").as("distance"))
    }),

    // --- Outlink extraction: pages with one anchor of every
    // resolution class (absolute / protocol-relative in SINGLE quotes
    // / root-relative / relative / mailto / fragment — the last two
    // dropped), resolved against a real page URL; the oracle replays
    // the construction closed-form, one UNION ALL branch per kept
    // anchor. 4 rows per document. ---
    "q_link_graph" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pages = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          col("doc_id"), lit("/page.html")).as("url"),
        concat(lit("<html><body><a href=\"https://out"), col("doc_id") % 5,
          lit(".example.org/x/\">a</a><a class='c' href='//cdn.example.net/l.js'>c</a>"),
          lit("<a href=\"/r/"), col("doc_id"),
          lit("\">r</a><a href=\"sub/p2.html\">s</a>"),
          lit("<a href=\"mailto:u@example.com\">m</a><a href=\"#top\">t</a></body></html>"))
          .as("html"))
      new graft.text.LinkGraphExtractor()
        .setInputCol("html").setUrlCol("url").setOutputCol("lk")
        .transform(pages).head
        .select(col("doc_id"), col("lk_href").as("href"), col("lk_url").as("link_url"),
          col("lk_host").as("dst_host"), col("lk_domain").as("dst_domain"))
    }),

    // --- Host-rank: the Common Crawl shape — outlinks from the
    // q_link_graph pages become a (src_host, dst_host) edge list
    // (multiplicity = link count; self-edges from the two same-host
    // anchors kept), then 3 PageRank iterations rank the hosts. The
    // oracle rebuilds the edge list closed-form and replays the
    // q_pagerank CTE chain over string vertex ids. ---
    "q_host_rank" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val pages = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          col("doc_id"), lit("/page.html")).as("url"),
        concat(lit("<html><body><a href=\"https://out"), col("doc_id") % 5,
          lit(".example.org/x/\">a</a><a class='c' href='//cdn.example.net/l.js'>c</a>"),
          lit("<a href=\"/r/"), col("doc_id"),
          lit("\">r</a><a href=\"sub/p2.html\">s</a>"),
          lit("<a href=\"mailto:u@example.com\">m</a><a href=\"#top\">t</a></body></html>"))
          .as("html"))
      val edges = graft.text.LinkGraphExtractor.hostEdges(pages)
      graft.graph.PageRank.run(edges, "src_host", "dst_host",
          dampingFactor = 0.85, numIter = 3).state
        .select(col("id").as("host"), round(col("pagerank"), 10).as("pagerank"))
    }),

    // --- URL-granularity PageRank (round-15): the other Common Crawl
    // product next to q_host_rank — vertices are CANONICAL URLS
    // (LinkGraphExtractor resolution → UrlCanonicalizer keys on BOTH
    // edge ends). The absolute anchor is planted MESSY (case +
    // default port + duplicate slash + tracking param) and the
    // relative anchor carries a dot segment, so the canonical vertex
    // set only matches the oracle's closed-form spellings if both
    // normalizations hold. 3 iterations, q_pagerank CTE chain over
    // string ids. ---
    "q_url_rank" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val pages = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          col("doc_id"), lit("/page.html")).as("url"),
        concat(lit("<html><body><a href=\"HTTPS://OUT"), col("doc_id") % 5,
          lit(".EXAMPLE.ORG:443/x//?utm_source=a\">a</a>"),
          lit("<a class='c' href='//cdn.example.net/l.js'>c</a>"),
          lit("<a href=\"/r/"), col("doc_id"),
          lit("\">r</a><a href=\"sub/../sub2/p2.html\">s</a>"),
          lit("<a href=\"mailto:u@example.com\">m</a><a href=\"#top\">t</a></body></html>"))
          .as("html"))
      val links = new graft.text.LinkGraphExtractor()
        .setInputCol("html").setUrlCol("url").setOutputCol("lk")
        .transform(pages).head
        .select(col("url").as("src_raw"), col("lk_url").as("dst_raw"))
      val srcCanon = new graft.text.UrlCanonicalizer()
        .setInputCol("src_raw").setOutputCol("s")
      val dstCanon = new graft.text.UrlCanonicalizer()
        .setInputCol("dst_raw").setOutputCol("d")
      // stored once: PageRank's setup reads the edge plan several
      // times (share weights, vertex set, dangling set) and the
      // extraction+double-canonicalization chain above it is the
      // expensive part — materialize it once (solo-measured 8.2 → 6.8 s warm, 21.4 → 13.5 cold)
      val edges = Loop.keep(dstCanon.transform(srcCanon.transform(links).head).head
        .select(col("s_url").as("src"), col("d_url").as("dst")))
      graft.graph.PageRank.run(edges, "src", "dst",
          dampingFactor = 0.85, numIter = 3).state
        .select(col("id").as("url"), round(col("pagerank"), 10).as("pagerank"))
    }),

    // --- Anchor-text aggregation over the same planted pages: "what
    // the web calls each target" — anchor texts grouped per resolved
    // registrable domain. The dropped anchors (mailto 'm', fragment
    // 't') must NOT appear; the kept classes each contribute one text
    // per document. ---
    "q_anchor_text" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pages = docs.select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example.com/docs/"),
          col("doc_id"), lit("/page.html")).as("url"),
        concat(lit("<html><body><a href=\"https://out"), col("doc_id") % 5,
          lit(".example.org/x/\">a</a><a class='c' href='//cdn.example.net/l.js'>c</a>"),
          lit("<a href=\"/r/"), col("doc_id"),
          lit("\">r</a><a href=\"sub/p2.html\">s</a>"),
          lit("<a href=\"mailto:u@example.com\">m</a><a href=\"#top\">t</a></body></html>"))
          .as("html"))
      new graft.text.LinkGraphExtractor()
        .setInputCol("html").setUrlCol("url").setOutputCol("lk")
        .transform(pages).head
        .groupBy(col("lk_domain").as("dst_domain"), col("lk_text").as("anchor_text"))
        .agg(count(lit(1)).as("n"))
    }),

    // --- Anchor-text rollup as a first-class operator (round-15):
    // per-target top-k anchor texts with exact counts and
    // deterministic tie-broken ranks. Planted: target d(doc_id%3),
    // text t(doc_id%5) — a non-uniform histogram per target whose
    // counts, ordering and rank the oracle replays with the same
    // construction + a row_number window. ---
    "q_anchor_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val links = docs.select(
        concat(lit("d"), col("doc_id") % 3).as("dst"),
        concat(lit("t"), col("doc_id") % 5).as("txt"))
      new graft.text.AnchorTextRollup()
        .setTargetCol("dst").setTextCol("txt").setOutputCol("a").setTopK(3)
        .transform(links).head
        .select(col("dst").as("target"), col("a_text").as("anchor_text"),
          col("a_count").as("n"), col("a_rank").cast("long").as("rank"))
    }),

    // --- Prequential per-user anomaly scoring (the batch plan of the
    // streaming detector: expanding frame, entire past as baseline) ---
    "q_stream_anomaly" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      new graft.streaming.StreamingAnomalyDetector()
        .setKeyCol("user_id").setOrderCol("ts").setInputCol("value")
        .setMinCount(10).setThreshold(3.0)
        .transform(ev).head
        .select(col("key"), col("order"), col("n_before"),
          round(col("z"), 6).as("z"), col("anomaly"))
    }),

    // --- Declarative data-quality validation of lineitem (two checks
    // deliberately fail: the tight discount range and line-level
    // orderkey uniqueness) ---
    "q_validate" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      new graft.stats.DataValidator()
        .addNotNull("l_shipdate")
        .addInRange("l_quantity", 1.0, 50.0)
        .addInRange("l_discount", 0.0, 0.05)
        .addMatches("l_linestatus", "^[OF]$")
        .addInSet("l_returnflag", "A", "N", "R")
        .addSatisfies("charge_consistent", "l_extendedprice >= 0 AND l_tax >= 0")
        .addUnique("l_orderkey")
        .transform(li).head
    }),

    // --- Intra-doc repetition removal: each doc planted with its body
    // repeated 1-3x plus a unique tail line; dedup keeps exactly
    // (body, tail) ---
    "q_intradoc_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val built = docs.select(col("doc_id"),
        concat(expr("repeat(concat(text, '\n'), cast(doc_id % 3 + 1 as int))"),
          lit("tail "), col("doc_id")).as("text"))
      new graft.text.IntraDocDeduplicator()
        .setInputCol("text").setOutputCol("d")
        .transform(built).head
        .select(col("doc_id"), md5(col("d_text")).as("digest"),
          col("d_kept"), col("d_removed"))
    }),

    // --- One-pass column profile of the event log (exact distinct for
    // the oracle; the default HLL mode is the 100 TB path) ---
    "q_profile" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      new graft.stats.ColumnProfiler()
        .setInputCols("user_id", "event_type", "value").setExactDistinct(true)
        .transform(ev).head
        .select(col("column"), col("total"), col("nulls"), col("distinct_cnt"),
          round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
          col("vmin"), col("vmax"), col("min_len"), col("max_len"))
    }),

    // --- Edit-distance join of supplier names against themselves
    // (digit-suffix mutations land within k=2; oracle is the full
    // quadratic ground truth) ---
    "q_fuzzy_join" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey").as("id"), col("s_name").as("nm"))
      new graft.join.FuzzyJoiner().setIdCol("id").setInputCol("nm")
        .setMaxDistance(2).setGramLength(2)
        .transform(sup, sup).head
    }),

    // --- SCD2 history from the event log: per-user event_type
    // validity intervals, no-op repeats collapsed ---
    "q_scd2" -> ((s, dir) => {
      val log = t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("ts"),
          col("event_type"))
      new graft.join.Scd2Builder().setKeyCols("user_id").setOrderCol("ts")
        .transform(log).head
        .select("user_id", "event_type", "valid_from", "valid_to", "is_current")
    }),

    // --- Reliability curve of a synthetic scorer over the event log
    // (deterministic probabilities vs the click indicator) ---
    "q_calibration" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        ((col("event_id") % 100).cast("double") / 100.0).as("p"),
        when(col("event_type") === "click", 1.0).otherwise(0.0).as("y"))
      new graft.evaluation.CalibrationEvaluator()
        .setPredictionCol("p").setLabelCol("y").setNumBins(10)
        .transform(ev).head
        .select(col("bin"), col("n"),
          round(col("mean_pred"), 6).as("mean_pred"),
          round(col("frac_pos"), 6).as("frac_pos"),
          round(col("sq_err"), 6).as("sq_err"),
          round(col("gap"), 6).as("gap"))
    }),

    // --- Entity resolution (FuzzyJoiner -> ConnectedComponents ->
    // canonical min id) over planted typo clusters. Group key digits
    // are DOUBLED so any two groups differ by >= 2 edits; inside a
    // group, members 0-3 chain at distance 1 ("", x, y, z suffixes)
    // and member 4 ("qq") sits at distance 2 from all — so the
    // closure must resolve 0-3 to the group minimum and leave 4 its
    // own entity, which the oracle states in closed form. ---
    "q_entity_resolution" -> ((s, dir) => {
      val docs = tp(s, dir, "documents", "doc_id")
      val named = docs.select(col("doc_id"),
        concat(lit("u"),
          regexp_replace((col("doc_id") - col("doc_id") % 5).cast("string"),
            "(.)", "$1$1"),
          element_at(array(lit(""), lit("x"), lit("y"), lit("z"), lit("qq")),
            (col("doc_id") % 5 + 1).cast("int"))).as("name"))
      new graft.dedup.EntityResolver()
        .setIdCol("doc_id").setInputCol("name")
        .setMaxDistance(1).setGramLength(2)
        .transform(named).head
        .select(col("doc_id"), col("name"), col("entity_id"))
    }),

    // --- Isotonic calibration: fit PAV on a planted score/label
    // relation whose 20 group means are monotone BY CONSTRUCTION
    // (mean_k = (floor(4k/20 as j-count))/5 steps upward), so the
    // fitted knots equal the group means and the oracle is a plain
    // grouped AVG; transform at the knots returns them exactly ---
    "q_isotonic" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        ((col("event_id") % 20).cast("double") / 20.0).as("p"),
        when(col("event_id") % 100 < (col("event_id") % 20) * 5, 1.0)
          .otherwise(0.0).as("y"))
      val m = new graft.regression.IsotonicCalibrator()
        .setPredictionCol("p").setLabelCol("y").fit(ev)
      m.transform(ev.select("p").distinct()).head
        .select(col("p"), round(col("calibrated"), 6).as("calibrated"))
    }),

    // --- Pairwise Pearson correlations over lineitem's numeric
    // columns: all 6 pairs in ONE scan + one global aggregation ---
    "q_correlation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      new graft.stats.CorrelationMatrix()
        .setInputCols("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .transform(li).head
        .select(col("col_a"), col("col_b"), round(col("corr"), 6).as("corr"))
    }),

    // --- Weight-proportional sampling (Efraimidis-Spiridakis) with
    // doc length as the weight: the md5 key construction is 52-bit so
    // the oracle replays every es_key bit-for-bit in SQL ---
    "q_weighted_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      new graft.feature.WeightedSampler()
        .setIdCol("doc_id").setWeightCol("w").setSampleSize(100).setSeed(42L)
        .transform(docs.withColumn("w", length(col("text")).cast("double"))).head
        .select(col("doc_id"), col("source"))
    })
  )

  /**
   * Oracle for q_ann_lsh. CosineLshKnn's buckets come from seeded
   * Gaussian hyperplanes (java.util.Random(2022).nextGaussian(), 8
   * planes × dim 64, row-major) — deterministic integer-free math we
   * can regenerate here and inline as a VALUES table, then recompute
   * bucket membership + bucket-filtered cosine top-k in SQL.
   * Double.toString round-trips, so the literals parse back to the
   * identical doubles in DuckDB.
   */
  /** Regenerate seeded Gaussian hyperplanes (row-major, matching
    * CosineLshKnn / CosineDeduplicator) as a SQL VALUES body of
    * (plane-row p, 1-based dim i, weight w) triples; Double.toString
    * round-trips so the literals parse back to identical doubles. */
  /** SQL for the Morton interleave of two bucket expressions (column 0
    * bit j at position 2j, column 1 at 2j+1) — mirrors
    * ZOrderWriter.interleaveBits for the q_zorder oracle. */
  private def mortonSql(b0: String, b1: String, bits: Int): String =
    (0 until bits).flatMap(j => Seq(
      s"((($b0 >> $j) & 1) << ${2 * j})",
      s"((($b1 >> $j) & 1) << ${2 * j + 1})")).mkString(" + ")

  private def gaussianPlanesValues(numRows: Int, dim: Int, seed: Long): String = {
    val rnd = new java.util.Random(seed)
    val planes = Array.fill(numRows, dim)(rnd.nextGaussian())
    planes.zipWithIndex.flatMap { case (row, p) =>
      row.zipWithIndex.map { case (w, i) => s"($p, ${i + 1}, $w)" }
    }.mkString(", ")
  }

  private def annLshOracleSql: String = {
    val values = gaussianPlanesValues(8, 64, 2022L)
    s"""WITH planes(p, i, w) AS (VALUES $values),
       emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       ex AS (SELECT vec_id, UNNEST(range(1, len(e) + 1)) AS i, UNNEST(e) AS x FROM emb),
       proj AS (SELECT ex.vec_id, planes.p, SUM(planes.w * ex.x) AS s
                FROM ex JOIN planes ON planes.i = ex.i
                GROUP BY ex.vec_id, planes.p),
       buck AS (SELECT vec_id,
                       SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS b
                FROM proj GROUP BY vec_id),
       tr AS (SELECT emb.vec_id, e, b FROM emb JOIN buck USING (vec_id)
              WHERE emb.vec_id % 10 <> 0),
       te AS (SELECT emb.vec_id, e, b FROM emb JOIN buck USING (vec_id)
              WHERE emb.vec_id % 10 = 0),
       pairs AS (
         SELECT te.vec_id AS q, tr.vec_id AS n,
                list_dot_product(te.e, tr.e)
                  / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(tr.e, tr.e)))
                  AS sim
         FROM te JOIN tr ON te.b = tr.b
       )
       SELECT q AS query_id, n AS neighbor_id, ROUND(sim, 6) AS similarity FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, n ASC) AS rk
         FROM pairs)
       WHERE rk <= 5"""
  }

  /**
   * Oracle for q_kbins_kmeans: with subSamples ≥ n the strategy is a
   * deterministic 1-D Lloyd from rank-based init, so we UNROLL the
   * iterations as generated CTE pairs (assign → means). Unrolling
   * more rounds than Lloyd needs is harmless — once membership
   * stabilizes the means reproduce exactly, so extra rounds are
   * no-ops at the fixed point. Edges = data min, centroid midpoints,
   * data max; binning matches the model's binarySearch rule
   * (exact-edge hits go to the upper bucket, clamped to [0, bins-1]).
   */
  private def kbinsKmeansOracleSql: String = {
    val k = 3
    val iters = 30
    val sb = new StringBuilder
    sb.append(
      """WITH pts AS MATERIALIZED (SELECT CAST(l_quantity AS DOUBLE) AS x FROM lineitem),
        |d AS MATERIALIZED (SELECT x, CAST(COUNT(*) AS DOUBLE) AS w FROM pts GROUP BY x),
        |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pts),
        |r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM pts),
        |c0 AS (""".stripMargin)
    sb.append((0 until k).map { i =>
      s"SELECT $i AS cid, x AS v FROM r, nn WHERE rn = FLOOR($i * (nn.n / $k)) + 1"
    }.mkString(" UNION ALL "))
    sb.append("),\n")
    for (t <- 1 to iters) {
      val prev = s"c${t - 1}"
      sb.append(
        s"""a$t AS MATERIALIZED (SELECT x, w, cid FROM (
           |  SELECT d.x, d.w, c.cid,
           |         ROW_NUMBER() OVER (PARTITION BY d.x ORDER BY ABS(d.x - c.v), c.cid) AS rk
           |  FROM d CROSS JOIN $prev c) WHERE rk = 1),
           |c$t AS MATERIALIZED (SELECT p.cid, COALESCE(SUM(a.w * a.x) / SUM(a.w), p.v) AS v
           |        FROM $prev p LEFT JOIN a$t a ON a.cid = p.cid GROUP BY p.cid, p.v),
           |""".stripMargin)
    }
    sb.append(
      s"""mids AS (SELECT (v + LEAD(v) OVER (ORDER BY v)) / 2 AS e FROM c$iters),
         |edges AS (SELECT DISTINCT e FROM (
         |  SELECT MIN(x) AS e FROM pts
         |  UNION ALL SELECT e FROM mids WHERE e IS NOT NULL
         |  UNION ALL SELECT MAX(x) FROM pts)),
         |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS cnt FROM edges),
         |binned AS (SELECT p.x,
         |  LEAST(GREATEST((SELECT COUNT(*) FROM edges e WHERE e.e <= p.x) - 1, 0), ne.cnt - 2) AS bin
         |  FROM pts p, ne)
         |SELECT CAST(bin AS DOUBLE) AS bin, COUNT(*) AS n FROM binned GROUP BY bin ORDER BY bin""".stripMargin)
    sb.toString
  }

  /**
   * Oracle for q_embedding_dedup: regenerate the 8×8 band/bit seeded
   * hyperplanes, recompute per-band sign buckets, band-bucket
   * candidate pairs, the exact cosine ≥ 0.45 filter, and connected
   * components via a recursive reachability CTE (component = min
   * reachable id). CTEs referenced twice are MATERIALIZED so DuckDB
   * doesn't inline them exponentially.
   */
  private def embeddingDedupOracleSql: String = {
    val values = gaussianPlanesValues(64, 64, 2022L) // 8 bands × 8 bits, band-major
    s"""WITH RECURSIVE planes(p, i, w) AS (VALUES $values),
       emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       ex AS (SELECT vec_id, UNNEST(range(1, len(e) + 1)) AS i, UNNEST(e) AS x FROM emb),
       proj AS MATERIALIZED (SELECT ex.vec_id, planes.p, SUM(planes.w * ex.x) AS s
                FROM ex JOIN planes ON planes.i = ex.i
                GROUP BY ex.vec_id, planes.p),
       buck AS MATERIALIZED (SELECT vec_id, p // 8 AS band,
                SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << (p % 8) ELSE 0 END) AS b
                FROM proj GROUP BY vec_id, p // 8),
       cand AS (SELECT DISTINCT a.vec_id AS src, bb.vec_id AS dst
                FROM buck a JOIN buck bb ON a.band = bb.band AND a.b = bb.b
                  AND a.vec_id < bb.vec_id),
       edges AS MATERIALIZED (SELECT src, dst FROM cand
                JOIN emb ea ON ea.vec_id = cand.src
                JOIN emb eb ON eb.vec_id = cand.dst
                WHERE list_dot_product(ea.e, eb.e)
                      / (sqrt(list_dot_product(ea.e, ea.e)) * sqrt(list_dot_product(eb.e, eb.e)))
                      >= 0.45),
       sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM edges
                UNION SELECT dst, src FROM edges),
       reach AS (SELECT u AS id, u AS r FROM sym
                 UNION
                 SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.id),
       comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
       SELECT emb.vec_id, COALESCE(comp.component, emb.vec_id) AS canonical_id,
              COALESCE(comp.component, emb.vec_id) <> emb.vec_id AS is_duplicate
       FROM emb LEFT JOIN comp ON comp.id = emb.vec_id"""
  }

  /**
   * Oracle for q_incremental_embedding_dedup: same seeded hyperplanes
   * and sign buckets as embeddingDedupOracleSql, but candidates only
   * between indexed (even) and batch (odd) ids; best match per batch
   * row = highest cosine ≥ 0.45, smallest id on ties.
   */
  private def incrementalEmbeddingDedupOracleSql: String = {
    val values = gaussianPlanesValues(64, 64, 2022L)
    s"""WITH planes(p, i, w) AS (VALUES $values),
       emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       ex AS (SELECT vec_id, UNNEST(range(1, len(e) + 1)) AS i, UNNEST(e) AS x FROM emb),
       proj AS MATERIALIZED (SELECT ex.vec_id, planes.p, SUM(planes.w * ex.x) AS s
                FROM ex JOIN planes ON planes.i = ex.i
                GROUP BY ex.vec_id, planes.p),
       buck AS MATERIALIZED (SELECT vec_id, p // 8 AS band,
                SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << (p % 8) ELSE 0 END) AS b
                FROM proj GROUP BY vec_id, p // 8),
       cand AS (SELECT DISTINCT a.vec_id AS ix, bb.vec_id AS bx
                FROM buck a JOIN buck bb ON a.band = bb.band AND a.b = bb.b
                WHERE a.vec_id % 2 = 0 AND bb.vec_id % 2 = 1),
       scored AS (SELECT cand.bx, cand.ix,
                    list_dot_product(ei.e, eb.e)
                      / (sqrt(list_dot_product(ei.e, ei.e)) * sqrt(list_dot_product(eb.e, eb.e))) AS sim
                  FROM cand
                  JOIN emb ei ON ei.vec_id = cand.ix
                  JOIN emb eb ON eb.vec_id = cand.bx),
       best AS (SELECT bx, ix FROM (
                  SELECT bx, ix,
                         ROW_NUMBER() OVER (PARTITION BY bx ORDER BY sim DESC, ix ASC) AS rk
                  FROM scored WHERE sim >= 0.45) WHERE rk = 1)
       SELECT o.vec_id, best.ix AS matched_id, best.ix IS NOT NULL AS is_duplicate
       FROM (SELECT vec_id FROM emb WHERE vec_id % 2 = 1) o
       LEFT JOIN best ON best.bx = o.vec_id"""
  }

  /**
   * Oracle for q_logreg_train: full-batch logistic GD from zero
   * weights, lr 0.1, no regularization — each unrolled step computes
   * the exact global gradient Σ (−ls / (exp((w·x)·ls) + 1))·x over
   * all rows and updates w ← w − lr·g/n (SGD.scala step with
   * totalWeight = n). Step 1 is exact (exp(0) = 1); later steps'
   * exp() ulp differences vanish under ROUND(4).
   */
  /**
   * Oracle for q_quality_classifier — the model-based quality filter
   * (the DCLM/FineWeb-Edu shape: train a classifier on heuristic
   * labels, score the corpus): features are TextQualityScorer's
   * stopword/alpha ratios (exact integer divisions — bit-identical
   * across engines), labels are GopherFilter's rule bundle (boolean —
   * exact), and the 3-iteration full-batch logistic GD replays as the
   * q_logreg_train CTE chain. Scoring rounds to 4: the trained
   * weights carry ~1e-12 exp/sum-order noise, far below the grid.
   */
  private def qualityClassifierOracleSql: String = {
    val iters = 3
    val lr = 0.1
    val sb = new StringBuilder
    sb.append(
      """WITH s AS MATERIALIZED (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |              t -> t IN ('the','a','an','and','or','of','to','in','is','it',
        |                         'that','for','on','with','as','was','at','by','be','this')))
        |              AS DOUBLE)
        |           / len(string_split_regex(trim(text), '\s+')) AS x0,
        |         CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
        |           / length(text) AS x1
        |  FROM documents),
        |gw AS (
        |  SELECT doc_id, text,
        |         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
        |              ELSE string_split_regex(trim(text), '\s+') END AS words,
        |         string_split(text, chr(10)) AS lines,
        |         ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ' AS padded
        |  FROM documents),
        |gm AS (
        |  SELECT doc_id,
        |         len(words) AS nw,
        |         CASE WHEN len(words) > 0
        |              THEN CAST(list_sum([len(x) FOR x IN words]) AS DOUBLE) / len(words) END AS mean_len,
        |         CASE WHEN len(words) > 0 THEN
        |           CAST((len(text) - len(replace(text, '#', '')))
        |                + (len(text) - len(replace(text, '...', ''))) // 3
        |                + (len(text) - len(replace(text, '…', ''))) AS DOUBLE) / len(words)
        |         END AS symbol_ratio,
        |         CASE WHEN len(lines) > 0 THEN
        |           CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•‣◦]'))) AS DOUBLE)
        |             / len(lines) END AS bullet_ratio,
        |         CASE WHEN len(lines) > 0 THEN
        |           CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
        |             / len(lines) END AS ellipsis_ratio,
        |         CASE WHEN len(words) > 0 THEN
        |           CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
        |             / len(words) END AS alpha_ratio,
        |         (CASE WHEN position(' the ' IN padded) > 0 THEN 1 ELSE 0 END
        |          + CASE WHEN position(' be ' IN padded) > 0 THEN 1 ELSE 0 END
        |          + CASE WHEN position(' to ' IN padded) > 0 THEN 1 ELSE 0 END
        |          + CASE WHEN position(' of ' IN padded) > 0 THEN 1 ELSE 0 END
        |          + CASE WHEN position(' and ' IN padded) > 0 THEN 1 ELSE 0 END
        |          + CASE WHEN position(' that ' IN padded) > 0 THEN 1 ELSE 0 END
        |          + CASE WHEN position(' have ' IN padded) > 0 THEN 1 ELSE 0 END
        |          + CASE WHEN position(' with ' IN padded) > 0 THEN 1 ELSE 0 END) AS stop_hits
        |  FROM gw),
        |gr AS (
        |  SELECT doc_id,
        |         (nw BETWEEN 30 AND 100000)
        |           AND COALESCE(mean_len BETWEEN 3.0 AND 10.0, FALSE)
        |           AND COALESCE(symbol_ratio <= 0.1, FALSE)
        |           AND COALESCE(bullet_ratio <= 0.9, FALSE)
        |           AND COALESCE(ellipsis_ratio <= 0.3, FALSE)
        |           AND COALESCE(alpha_ratio >= 0.8, FALSE)
        |           AND stop_hits >= 1 AS gopher_keep
        |  FROM gm),
        |d AS MATERIALIZED (
        |  SELECT s.doc_id, s.x0, s.x1,
        |         CASE WHEN gr.gopher_keep THEN 1.0 ELSE -1.0 END AS ls
        |  FROM s JOIN gr USING (doc_id)),
        |w0 AS (SELECT 0.0 AS a, 0.0 AS b),
        |""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s"""g$t AS (SELECT SUM((-d.ls / (exp((w.a * d.x0 + w.b * d.x1) * d.ls) + 1)) * d.x0) AS ga,
           |         SUM((-d.ls / (exp((w.a * d.x0 + w.b * d.x1) * d.ls) + 1)) * d.x1) AS gb,
           |         CAST(COUNT(*) AS DOUBLE) AS n, MAX(w.a) AS a, MAX(w.b) AS b
           |       FROM d CROSS JOIN w${t - 1} w),
           |w$t AS (SELECT a - $lr * ga / n AS a, b - $lr * gb / n AS b FROM g$t),
           |""".stripMargin)
    }
    sb.append(
      s"""scored AS (
         |  SELECT d.doc_id,
         |         CASE WHEN d.ls > 0 THEN 1.0 ELSE 0.0 END AS label,
         |         CASE WHEN w.a * d.x0 + w.b * d.x1 >= 0 THEN 1.0 ELSE 0.0 END AS prediction,
         |         ROUND(1.0 - 1.0 / (1.0 + EXP(w.a * d.x0 + w.b * d.x1)), 4) AS score,
         |         ROUND(d.x0, 6) AS x0, ROUND(d.x1, 6) AS x1
         |  FROM d CROSS JOIN w$iters w)
         |SELECT doc_id, label, prediction, score, x0, x1 FROM scored""".stripMargin)
    sb.toString
  }

  private def logregTrainOracleSql: String = {
    val iters = 3
    val lr = 0.1
    val sb = new StringBuilder
    sb.append(
      """WITH d AS MATERIALIZED (
        |  SELECT CAST(l_quantity AS DOUBLE) AS x0, l_discount AS x1,
        |         CASE WHEN l_quantity > 25 THEN 1.0 ELSE -1.0 END AS ls
        |  FROM lineitem),
        |w0 AS (SELECT 0.0 AS a, 0.0 AS b),
        |""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s"""g$t AS (SELECT SUM((-d.ls / (exp((w.a * d.x0 + w.b * d.x1) * d.ls) + 1)) * d.x0) AS ga,
           |         SUM((-d.ls / (exp((w.a * d.x0 + w.b * d.x1) * d.ls) + 1)) * d.x1) AS gb,
           |         CAST(COUNT(*) AS DOUBLE) AS n, MAX(w.a) AS a, MAX(w.b) AS b
           |       FROM d CROSS JOIN w${t - 1} w),
           |w$t AS (SELECT a - $lr * ga / n AS a, b - $lr * gb / n AS b FROM g$t),
           |""".stripMargin)
    }
    sb.append(
      s"""res AS (SELECT CAST(0 AS BIGINT) AS dim, ROUND(a, 4) AS coefficient FROM w$iters
         |        UNION ALL
         |        SELECT CAST(1 AS BIGINT), ROUND(b, 4) FROM w$iters)
         |SELECT dim, coefficient FROM res""".stripMargin)
    sb.toString
  }

  /**
   * DuckDB replays of every query, compared by the driver at sf0.01.
   * Contract notes (verified by a full sf0.1 cross-check in round 5):
   * the ENGINE side is scale-independent, but a few oracles are
   * sf0.01-specific by construction — q_kbins_quantile /
   * q_kbins_kmeans unroll exact ranks/iterations against the 60,000-row
   * lineitem (the SQL constants, not the operator, pin the scale),
   * q_online_logreg (+ _versioned) and q_online_kmeans replay a fixed
   * mini-batch count that only equals the engine's count-batching at
   * sf0.01, and the signature-recomputing oracles (q_minhash_join,
   * q_simhash, q_dedup family) are O(too slow) in DuckDB above
   * sf0.01. Round-6 full cross-check at sf0.1: 78/78 of the
   * scale-independent oracles re-verified green (incl. both
   * versioned-model queries); the only diffs were exactly the
   * documented fixed-constant oracles above plus q_swing's sub-1e-6
   * score tie broken by float summation order (and q_swing_capped /
   * q_swing_arrays, which are row-identical to q_swing at both
   * scales — cross-checked round 7: all three share the same single
   * tie diff at sf0.1).
   */
  /** Shared by q_dsir and q_dsir_hashed: a collision-free hash width
    * reproduces the exact bigram LM scores, so both queries replay the
    * same exact-count SQL. */
  private val dsirOracleSql: String =
    """WITH w AS (
           SELECT doc_id, lang,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\s+') END AS words
           FROM documents
         ),
         vt AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vs
                FROM (SELECT unnest(words) AS t FROM w WHERE lang = 'en')),
         vr AS (SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vs
                FROM (SELECT unnest(words) AS t FROM w)),
         flat AS (
           SELECT doc_id, lang, u.p AS p, u.w1 AS w1, u.w2 AS w2
           FROM (SELECT doc_id, lang,
                        unnest([{'p': i, 'w1': words[i], 'w2': words[i+1]}
                                FOR i IN range(1, len(words))]) AS u
                 FROM w)
         ),
         ct AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c
                FROM flat WHERE lang = 'en' GROUP BY w1, w2),
         cr AS (SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c FROM flat GROUP BY w1, w2),
         xt AS (SELECT w1, SUM(c) AS ctx FROM ct GROUP BY w1),
         xr AS (SELECT w1, SUM(c) AS ctx FROM cr GROUP BY w1),
         st AS (SELECT f.doc_id, f.p,
                       log2((COALESCE(c.c, 0) + 0.1) / (COALESCE(x.ctx, 0) + 0.1 * vt.vs)) AS lp
                FROM flat f
                LEFT JOIN ct c ON c.w1 = f.w1 AND c.w2 = f.w2
                LEFT JOIN xt x ON x.w1 = f.w1
                CROSS JOIN vt),
         sr AS (SELECT f.doc_id, f.p,
                       log2((COALESCE(c.c, 0) + 0.1) / (COALESCE(x.ctx, 0) + 0.1 * vr.vs)) AS lp
                FROM flat f
                LEFT JOIN cr c ON c.w1 = f.w1 AND c.w2 = f.w2
                LEFT JOIN xr x ON x.w1 = f.w1
                CROSS JOIN vr),
         pt AS (SELECT doc_id, COUNT(*) AS m, SUM(lp ORDER BY p) AS s FROM st GROUP BY doc_id),
         pr AS (SELECT doc_id, COUNT(*) AS m, SUM(lp ORDER BY p) AS s FROM sr GROUP BY doc_id)
         SELECT d.doc_id, d.lang,
                ROUND((-pr.s / pr.m) - (-pt.s / pt.m), 6) AS dsir_score
         FROM (SELECT doc_id, lang FROM documents) d
         LEFT JOIN pt ON pt.doc_id = d.doc_id
         LEFT JOIN pr ON pr.doc_id = d.doc_id"""

  private val swingOracleSql: String =
    """WITH p AS (SELECT DISTINCT o_custkey AS u, l_partkey AS i
                    FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ui AS (SELECT u, list_sort(list(i)) AS items, COUNT(*) AS c FROM p GROUP BY u),
         v AS (SELECT * FROM ui WHERE c BETWEEN 10 AND 1000),
         vp AS (SELECT p.i, p.u, v.items, v.c FROM p JOIN v ON p.u = v.u),
         up AS (SELECT a.i, a.items AS it1, b.items AS it2, a.c AS c1, b.c AS c2
                FROM vp a JOIN vp b ON a.i = b.i AND a.u < b.u),
         inter AS (SELECT i, list_intersect(it1, it2) AS xs, c1, c2 FROM up),
         contrib AS (
           SELECT i, unnest(list_filter(xs, x -> x <> i)) AS sim,
                  (1.0 / POWER(15 + c1, 0.3)) * (1.0 / POWER(15 + c2, 0.3))
                    / (0 + len(xs)) AS s
           FROM inter),
         scores AS (SELECT i, sim, SUM(s) AS score FROM contrib GROUP BY i, sim),
         ranked AS (SELECT i, sim, score,
                           ROW_NUMBER() OVER (PARTITION BY i ORDER BY score DESC, sim ASC) AS rk
                    FROM scores)
         SELECT i AS item, sim AS sim_item, ROUND(score, 6) AS score
         FROM ranked WHERE rk <= 10"""

  def oracleSql: Map[String, String] = {
  val m = Map(
    "q_kbins_kmeans" -> kbinsKmeansOracleSql,

    "q_logreg_train" -> logregTrainOracleSql,
    "q_quality_classifier" -> qualityClassifierOracleSql,

    // the per-source cap replayed as a window over the exact quality
    // formula (every component an exact integer division, so the
    // ordering — and therefore the selected set — replays bit-for-bit)
    "q_domain_cap" ->
      """WITH s AS (
           SELECT doc_id, source,
                  length(text) AS n_chars,
                  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                  CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS non_space,
                  CAST(len(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
                  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                  'that','for','on','with','as','was','at','by','be','this')))
                       AS DOUBLE) AS stop_hits
           FROM documents),
         q AS (
           SELECT doc_id, source,
                  (CASE WHEN n_tokens BETWEEN 5 AND 2000 THEN 1.0 ELSE 0.0 END
                   + CASE WHEN non_space / n_tokens >= 2.0 AND non_space / n_tokens <= 12.0
                          THEN 1.0 ELSE 0.0 END
                   + (1.0 - LEAST(punct / n_chars * 4.0, 1.0))
                   + LEAST(stop_hits / n_tokens * 5.0, 1.0)) / 4.0 AS quality
           FROM s),
         r AS (
           SELECT doc_id, source, quality,
                  ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY quality DESC, doc_id ASC) AS rank
           FROM q)
         SELECT doc_id, source, ROUND(quality, 6) AS quality,
                CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 20""",

    "q_embedding_dedup" -> embeddingDedupOracleSql,

    "q_incremental_embedding_dedup" -> incrementalEmbeddingDedupOracleSql,

    "q_embedding_clusters" ->
      """WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         c0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e
               FROM emb WHERE vec_id IN (3, 99, 201, 350)),
         a1 AS (SELECT vec_id, cid FROM (
                  SELECT emb.vec_id, c.cid,
                         ROW_NUMBER() OVER (PARTITION BY emb.vec_id ORDER BY
                           list_dot_product(emb.e, emb.e)
                             - 2 * list_dot_product(emb.e, c.e)
                             + list_dot_product(c.e, c.e), c.cid) AS rk
                  FROM emb CROSS JOIN c0 c) WHERE rk = 1),
         counts AS (SELECT cid, COUNT(*) AS n FROM a1 GROUP BY cid),
         ux AS (SELECT a1.cid, UNNEST(range(1, len(emb.e) + 1)) AS i, UNNEST(emb.e) AS x
                FROM emb JOIN a1 ON a1.vec_id = emb.vec_id),
         cm AS (SELECT cid, i, SUM(x) / COUNT(*) AS m FROM ux GROUP BY cid, i),
         c1 AS (SELECT cid, SQRT(SUM(m * m)) AS cn FROM cm GROUP BY cid)
         SELECT counts.cid AS cluster, counts.n, ROUND(c1.cn, 4) AS c_norm
         FROM counts JOIN c1 ON c1.cid = counts.cid""",

    // SemDeDup: euclidean assignment to the pinned data-vector
    // centroids, then within-cluster min-id greedy cosine dedup
    "q_semantic_dedup" ->
      """WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         c0 AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e
               FROM emb WHERE vec_id IN (3, 99, 201, 350)),
         a1 AS (SELECT vec_id, cid FROM (
                  SELECT emb.vec_id, c.cid,
                         ROW_NUMBER() OVER (PARTITION BY emb.vec_id ORDER BY
                           list_dot_product(emb.e, emb.e)
                             - 2 * list_dot_product(emb.e, c.e)
                             + list_dot_product(c.e, c.e), c.cid) AS rk
                  FROM emb CROSS JOIN c0 c) WHERE rk = 1),
         dups AS (SELECT DISTINCT b.vec_id
                  FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id
                  JOIN emb ea ON ea.vec_id = a.vec_id
                  JOIN emb eb ON eb.vec_id = b.vec_id
                  WHERE list_dot_product(ea.e, eb.e)
                          / (sqrt(list_dot_product(ea.e, ea.e)) * sqrt(list_dot_product(eb.e, eb.e)))
                        >= 0.42)
         SELECT a1.vec_id, CAST(a1.cid AS BIGINT) AS cluster,
                (a1.vec_id IN (SELECT vec_id FROM dups)) AS is_semantic_duplicate
         FROM a1""",

    "q_ann_ivf" ->
      """WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cents AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e
                  FROM emb WHERE vec_id IN (3, 99, 201, 350)),
         tr AS MATERIALIZED (SELECT * FROM emb WHERE vec_id % 10 <> 0),
         te AS MATERIALIZED (SELECT * FROM emb WHERE vec_id % 10 = 0),
         asg AS (SELECT vec_id, cid FROM (
                   SELECT tr.vec_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY tr.vec_id ORDER BY
                            list_dot_product(tr.e, c.e)
                              / (sqrt(list_dot_product(tr.e, tr.e)) * sqrt(list_dot_product(c.e, c.e)))
                              DESC, c.cid) AS rk
                   FROM tr CROSS JOIN cents c) WHERE rk = 1),
         probes AS (SELECT vec_id, cid FROM (
                   SELECT te.vec_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY te.vec_id ORDER BY
                            list_dot_product(te.e, c.e)
                              / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(c.e, c.e)))
                              DESC, c.cid) AS rk
                   FROM te CROSS JOIN cents c) WHERE rk <= 2),
         pairs AS (SELECT te.vec_id AS q, tr.vec_id AS n,
                          list_dot_product(te.e, tr.e)
                            / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(tr.e, tr.e)))
                            AS sim
                   FROM probes p
                   JOIN asg a ON a.cid = p.cid
                   JOIN te ON te.vec_id = p.vec_id
                   JOIN tr ON tr.vec_id = a.vec_id)
         SELECT q AS query_id, n AS neighbor_id, ROUND(sim, 6) AS similarity FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, n ASC) AS rk
           FROM pairs)
         WHERE rk <= 5""",

    "q_ivf_index" ->
      """WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cents AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e
                  FROM emb WHERE vec_id IN (3, 99, 201, 350)),
         tr AS MATERIALIZED (SELECT * FROM emb WHERE vec_id % 10 <> 0),
         te AS MATERIALIZED (SELECT * FROM emb WHERE vec_id % 10 = 0),
         asg AS (SELECT vec_id, cid FROM (
                   SELECT tr.vec_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY tr.vec_id ORDER BY
                            list_dot_product(tr.e, c.e)
                              / (sqrt(list_dot_product(tr.e, tr.e)) * sqrt(list_dot_product(c.e, c.e)))
                              DESC, c.cid) AS rk
                   FROM tr CROSS JOIN cents c) WHERE rk = 1),
         probes AS (SELECT vec_id, cid FROM (
                   SELECT te.vec_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY te.vec_id ORDER BY
                            list_dot_product(te.e, c.e)
                              / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(c.e, c.e)))
                              DESC, c.cid) AS rk
                   FROM te CROSS JOIN cents c) WHERE rk <= 2),
         pairs AS (SELECT te.vec_id AS q, tr.vec_id AS n,
                          list_dot_product(te.e, tr.e)
                            / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(tr.e, tr.e)))
                            AS sim
                   FROM probes p
                   JOIN asg a ON a.cid = p.cid
                   JOIN te ON te.vec_id = p.vec_id
                   JOIN tr ON tr.vec_id = a.vec_id)
         SELECT q AS query_id, n AS neighbor_id, ROUND(sim, 6) AS similarity FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, n ASC) AS rk
           FROM pairs)
         WHERE rk <= 5""",

    // q_ivf_index with int8 list storage: per-dim [min,max] over the
    // index side, code = clamp(floor((x-lo)*255/(hi-lo)+0.5),0,255),
    // dequant = code*(hi-lo)/255 + lo; cells from FULL-precision
    // vectors; similarity = cosine(full query, dequantized index vec)
    "q_ivf_quantized" ->
      """WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cents AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e
                  FROM emb WHERE vec_id IN (3, 99, 201, 350)),
         tr AS MATERIALIZED (SELECT * FROM emb WHERE vec_id % 10 <> 0),
         te AS MATERIALIZED (SELECT * FROM emb WHERE vec_id % 10 = 0),
         rng AS MATERIALIZED (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM (
                  SELECT unnest(e) AS x, generate_subscripts(e, 1) AS dim FROM tr)
                GROUP BY dim),
         trd AS MATERIALIZED (SELECT vec_id, list(deq ORDER BY dim) AS e FROM (
                  SELECT u.vec_id, u.dim,
                         CASE WHEN r.hi = r.lo THEN r.lo
                              ELSE least(greatest(floor((u.x - r.lo) * 255.0 / (r.hi - r.lo) + 0.5),
                                                  0.0), 255.0)
                                   * (r.hi - r.lo) / 255.0 + r.lo END AS deq
                  FROM (SELECT vec_id, unnest(e) AS x, generate_subscripts(e, 1) AS dim FROM tr) u
                  JOIN rng r ON r.dim = u.dim)
                GROUP BY vec_id),
         asg AS (SELECT vec_id, cid FROM (
                   SELECT tr.vec_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY tr.vec_id ORDER BY
                            list_dot_product(tr.e, c.e)
                              / (sqrt(list_dot_product(tr.e, tr.e)) * sqrt(list_dot_product(c.e, c.e)))
                              DESC, c.cid) AS rk
                   FROM tr CROSS JOIN cents c) WHERE rk = 1),
         probes AS (SELECT vec_id, cid FROM (
                   SELECT te.vec_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY te.vec_id ORDER BY
                            list_dot_product(te.e, c.e)
                              / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(c.e, c.e)))
                              DESC, c.cid) AS rk
                   FROM te CROSS JOIN cents c) WHERE rk <= 2),
         pairs AS (SELECT te.vec_id AS q, d.vec_id AS n,
                          list_dot_product(te.e, d.e)
                            / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(d.e, d.e)))
                            AS sim
                   FROM probes p
                   JOIN asg a ON a.cid = p.cid
                   JOIN te ON te.vec_id = p.vec_id
                   JOIN trd d ON d.vec_id = a.vec_id)
         SELECT q AS query_id, n AS neighbor_id, ROUND(sim, 6) AS similarity FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, n ASC) AS rk
           FROM pairs)
         WHERE rk <= 5""",

    // PQ encode/reconstruct under pinned codebooks: per subspace the
    // nearest of the four pinned subvectors (tie -> lower code)
    "q_pq" ->
      """WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cands AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS code, e
                  FROM emb WHERE vec_id IN (3, 99, 201, 350)),
         ms AS (SELECT UNNEST(range(0, 8)) AS m),
         subs AS (SELECT emb.vec_id, ms.m,
                         list_slice(emb.e, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
                  FROM emb CROSS JOIN ms),
         csubs AS (SELECT c.code, ms.m,
                          list_slice(c.e, ms.m * 8 + 1, ms.m * 8 + 8) AS cv
                   FROM cands c CROSS JOIN ms),
         enc AS (SELECT vec_id, m, code, d FROM (
                   SELECT s.vec_id, s.m, c.code, list_distance(s.sv, c.cv) AS d,
                          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY list_distance(s.sv, c.cv), c.code) AS rk
                   FROM subs s JOIN csubs c ON c.m = s.m) WHERE rk = 1),
         err AS (SELECT vec_id, ROUND(sqrt(SUM(d * d)), 6) AS recon_err
                 FROM enc GROUP BY vec_id)
         SELECT e.vec_id, CAST(e.m AS INT) AS m, CAST(e.code AS INT) AS code,
                err.recon_err
         FROM enc e JOIN err ON err.vec_id = e.vec_id""",

    // IVFPQ: full-precision cell routing (as q_ivf_index), PQ-encoded
    // lists, ADC scoring — sum of per-subspace partial dot products
    // against the pinned codebooks; cosine denominator uses the
    // reconstruction's norm
    "q_ivf_pq" ->
      """WITH emb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         cents AS MATERIALIZED (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, e
                  FROM emb WHERE vec_id IN (3, 99, 201, 350)),
         tr AS MATERIALIZED (SELECT * FROM emb WHERE vec_id % 10 <> 0),
         te AS MATERIALIZED (SELECT * FROM emb WHERE vec_id % 10 = 0),
         ms AS (SELECT UNNEST(range(0, 8)) AS m),
         csubs AS MATERIALIZED (SELECT c.cid AS code, ms.m,
                          list_slice(c.e, ms.m * 8 + 1, ms.m * 8 + 8) AS cv
                   FROM cents c CROSS JOIN ms),
         enc AS MATERIALIZED (SELECT vec_id, m, code FROM (
                   SELECT s.vec_id, s.m, c.code,
                          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                            ORDER BY list_distance(s.sv, c.cv), c.code) AS rk
                   FROM (SELECT tr.vec_id, ms.m,
                                list_slice(tr.e, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
                         FROM tr CROSS JOIN ms) s
                   JOIN csubs c ON c.m = s.m) WHERE rk = 1),
         vn AS (SELECT e.vec_id, sqrt(SUM(list_dot_product(c.cv, c.cv))) AS vnorm
                FROM enc e JOIN csubs c ON c.m = e.m AND c.code = e.code
                GROUP BY e.vec_id),
         asg AS (SELECT vec_id, cid FROM (
                   SELECT tr.vec_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY tr.vec_id ORDER BY
                            list_dot_product(tr.e, c.e)
                              / (sqrt(list_dot_product(tr.e, tr.e)) * sqrt(list_dot_product(c.e, c.e)))
                              DESC, c.cid) AS rk
                   FROM tr CROSS JOIN cents c) WHERE rk = 1),
         probes AS (SELECT vec_id, cid FROM (
                   SELECT te.vec_id, c.cid,
                          ROW_NUMBER() OVER (PARTITION BY te.vec_id ORDER BY
                            list_dot_product(te.e, c.e)
                              / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(c.e, c.e)))
                              DESC, c.cid) AS rk
                   FROM te CROSS JOIN cents c) WHERE rk <= 2),
         tsubs AS (SELECT te.vec_id, ms.m,
                          list_slice(te.e, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
                   FROM te CROSS JOIN ms),
         qn AS (SELECT vec_id, sqrt(list_dot_product(e, e)) AS qnorm FROM te),
         pairs AS (SELECT p.vec_id AS q, a.vec_id AS n,
                          SUM(list_dot_product(ts.sv, cs.cv)) AS dp
                   FROM probes p
                   JOIN asg a ON a.cid = p.cid
                   JOIN tsubs ts ON ts.vec_id = p.vec_id
                   JOIN enc en ON en.vec_id = a.vec_id AND en.m = ts.m
                   JOIN csubs cs ON cs.m = en.m AND cs.code = en.code
                   GROUP BY p.vec_id, a.vec_id),
         sims AS (SELECT pairs.q, pairs.n, pairs.dp / (qn.qnorm * vn.vnorm) AS sim
                  FROM pairs JOIN qn ON qn.vec_id = pairs.q JOIN vn ON vn.vec_id = pairs.n)
         SELECT q AS query_id, n AS neighbor_id, ROUND(sim, 6) AS similarity FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, n ASC) AS rk
           FROM sims)
         WHERE rk <= 5""",

    "q_sql_pricing" ->
      """SELECT l_returnflag, l_linestatus,
                ROUND(SUM(l_quantity), 2) AS sum_qty,
                ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                COUNT(*) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q_tokenizer" ->
      """SELECT doc_id, len(string_split_regex(rtrim(lower(text)), '\s')) AS n_tokens
         FROM documents""",

    "q_regex_tokenizer" ->
      """SELECT doc_id,
                len(list_filter(string_split_regex(lower(text), '\W+'),
                    t -> len(t) >= 3)) AS n_tokens
         FROM documents""",

    "q_ngram" ->
      """SELECT doc_id,
                greatest(len(list_filter(string_split_regex(lower(text), '\W+'),
                    t -> len(t) >= 1)) - 1, 0) AS n_grams
         FROM documents""",

    "q_binarizer" ->
      """SELECT CASE WHEN l_discount > 0.05 THEN 1.0 ELSE 0.0 END AS high_discount,
                COUNT(*) AS n, ROUND(SUM(l_extendedprice), 2) AS sum_price
         FROM lineitem GROUP BY 1""",

    "q_bucketizer" ->
      """SELECT CASE
                  WHEN l_quantity >= 0 AND l_quantity < 10 THEN 0.0
                  WHEN l_quantity >= 10 AND l_quantity < 20 THEN 1.0
                  WHEN l_quantity >= 20 AND l_quantity < 30 THEN 2.0
                  WHEN l_quantity >= 30 AND l_quantity < 40 THEN 3.0
                  WHEN l_quantity >= 40 AND l_quantity <= 51 THEN 4.0
                  ELSE 5.0 END AS qty_bucket,
                COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    "q_standard_scaler" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND((l_quantity - AVG(l_quantity) OVER ()) / (STDDEV_SAMP(l_quantity) OVER ()), 4)
                  AS scaled_qty
         FROM lineitem""",

    "q_minmax_scaler" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND((l_extendedprice - MIN(l_extendedprice) OVER ())
                      / (MAX(l_extendedprice) OVER () - MIN(l_extendedprice) OVER ()), 6)
                  AS scaled_price
         FROM lineitem""",

    "q_maxabs_scaler" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(l_discount / (MAX(ABS(l_discount)) OVER ()), 6) AS scaled_disc
         FROM lineitem""",

    "q_imputer" ->
      """WITH x AS (SELECT o_orderkey,
                           CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS price
                    FROM orders)
         SELECT o_orderkey,
                ROUND(COALESCE(price, AVG(price) OVER ()), 4) AS price_filled
         FROM x""",

    "q_string_indexer" ->
      """SELECT c_mktsegment,
                CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c_mktsegment ASC) - 1 AS DOUBLE)
                  AS seg_idx
         FROM customer GROUP BY c_mktsegment""",

    "q_onehot" ->
      """SELECT n_nationkey,
                CASE WHEN n_regionkey = (SELECT MAX(n_regionkey) FROM nation)
                     THEN -1 ELSE n_regionkey END AS hot_idx
         FROM nation""",

    "q_count_vectorizer" ->
      """WITH toks AS (
           SELECT doc_id, t AS term
           FROM documents,
                unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1)) AS u(t)
         ),
         counts AS (SELECT term, COUNT(*) AS tf FROM toks GROUP BY term)
         SELECT term, ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC) - 1 AS idx
         FROM counts ORDER BY idx LIMIT 200""",

    "q_idf" ->
      """WITH toks AS (
           SELECT doc_id, t AS term
           FROM documents,
                unnest(list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1)) AS u(t)
         ),
         counts AS (SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term),
         top AS (SELECT term, df, ROW_NUMBER() OVER (ORDER BY tf DESC, term ASC) - 1 AS idx
                 FROM counts ORDER BY idx LIMIT 200),
         m AS (SELECT COUNT(*) AS numdocs FROM documents)
         SELECT term, ROUND(LN((m.numdocs + 1.0) / (df + 1.0)), 6) AS idf
         FROM top, m""",

    "q_kbins_uniform" ->
      """WITH b AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi FROM lineitem)
         SELECT LEAST(GREATEST(FLOOR((l_extendedprice - b.lo) / ((b.hi - b.lo) / 5)), 0), 4) AS bin,
                COUNT(*) AS n
         FROM lineitem, b GROUP BY 1 ORDER BY 1""",

    "q_kbins_quantile" ->
      """WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
         r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v),
         e AS (SELECT
                 MAX(CASE WHEN rn = 1 THEN x END) AS e0,
                 MAX(CASE WHEN rn = 12001 THEN x END) AS e1,
                 MAX(CASE WHEN rn = 24001 THEN x END) AS e2,
                 MAX(CASE WHEN rn = 36001 THEN x END) AS e3,
                 MAX(CASE WHEN rn = 48001 THEN x END) AS e4,
                 MAX(CASE WHEN rn = 60000 THEN x END) AS e5
               FROM r)
         SELECT bin, COUNT(*) AS n FROM (
           SELECT LEAST(GREATEST(
                    (CASE WHEN x >= e0 THEN 1 ELSE 0 END) + (CASE WHEN x >= e1 THEN 1 ELSE 0 END)
                    + (CASE WHEN x >= e2 THEN 1 ELSE 0 END) + (CASE WHEN x >= e3 THEN 1 ELSE 0 END)
                    + (CASE WHEN x >= e4 THEN 1 ELSE 0 END) + (CASE WHEN x >= e5 THEN 1 ELSE 0 END),
                  1), 5) - 1.0 AS bin
           FROM v, e)
         GROUP BY bin ORDER BY bin""",

    "q_imputer_median" ->
      """WITH x AS (SELECT o_orderkey,
                           CASE WHEN o_totalprice < 50000 THEN NULL ELSE o_totalprice END AS price
                    FROM orders),
         v AS (SELECT price, ROW_NUMBER() OVER (ORDER BY price) AS rn,
                      COUNT(*) OVER () AS n
               FROM x WHERE price IS NOT NULL),
         med AS (SELECT MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN price END) AS m
                 FROM v)
         SELECT o_orderkey, ROUND(COALESCE(price, med.m), 4) AS price_filled
         FROM x, med""",

    "q_imputer_mode" ->
      """WITH x AS (SELECT l_orderkey, l_linenumber,
                           CASE WHEN l_quantity < 5 THEN NULL ELSE l_quantity END AS qty
                    FROM lineitem),
         m AS (SELECT qty AS mode_v FROM (
                 SELECT qty, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, qty ASC) AS rk
                 FROM x WHERE qty IS NOT NULL GROUP BY qty)
               WHERE rk = 1)
         SELECT l_orderkey, l_linenumber,
                ROUND(COALESCE(qty, m.mode_v), 4) AS qty_filled
         FROM x, m""",

    "q_variance_selector" ->
      """SELECT dim FROM (
           SELECT 0 AS dim, VAR_SAMP(l_quantity) AS v FROM lineitem
           UNION ALL SELECT 1, VAR_SAMP(l_discount) FROM lineitem
           UNION ALL SELECT 2, VAR_SAMP(l_tax) FROM lineitem
         ) WHERE v > 1.0""",

    "q_vector_functions" ->
      """SELECT vec_id,
                ROUND(list_sum(CAST(embedding AS DOUBLE[])), 4) AS emb_sum,
                len(embedding) AS emb_len
         FROM embeddings""",

    "q_cosine_fn" ->
      """SELECT vec_id,
                ROUND(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       list_reverse(CAST(embedding AS DOUBLE[])))
                      / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                               CAST(embedding AS DOUBLE[])))
                         * sqrt(list_dot_product(list_reverse(CAST(embedding AS DOUBLE[])),
                                                 list_reverse(CAST(embedding AS DOUBLE[]))))), 6)
                  AS cos_rev
         FROM embeddings""",

    "q_polynomial" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(l_discount, 6) AS p_x,
                ROUND(l_discount * l_discount, 6) AS p_x2,
                ROUND(l_tax, 6) AS p_y,
                ROUND(l_discount * l_tax, 6) AS p_xy,
                ROUND(l_tax * l_tax, 6) AS p_y2
         FROM lineitem""",

    "q_text_stats" ->
      """WITH s AS (
           SELECT doc_id, text,
                  length(text) AS n_chars,
                  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                  CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS non_space,
                  CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
                  CAST(len(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
                  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                  'that','for','on','with','as','was','at','by','be','this')))
                       AS DOUBLE) AS stop_hits
           FROM documents
         ),
         r AS (
           SELECT doc_id, n_chars, n_tokens,
                  non_space / n_tokens AS mean_token_len,
                  alpha / n_chars AS alpha_ratio,
                  punct / n_chars AS punct_ratio,
                  stop_hits / n_tokens AS stopword_ratio
           FROM s
         )
         SELECT doc_id, n_chars, n_tokens,
                ROUND(mean_token_len, 6) AS mean_token_len,
                ROUND(alpha_ratio, 6) AS alpha_ratio,
                ROUND(punct_ratio, 6) AS punct_ratio,
                ROUND(stopword_ratio, 6) AS stopword_ratio,
                ROUND((CASE WHEN n_tokens BETWEEN 5 AND 2000 THEN 1.0 ELSE 0.0 END
                       + CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0 THEN 1.0 ELSE 0.0 END
                       + (1.0 - LEAST(punct_ratio * 4.0, 1.0))
                       + LEAST(stopword_ratio * 5.0, 1.0)) / 4.0, 6) AS quality_score
         FROM r""",

    "q_lang_id" ->
      """WITH h AS (
           SELECT doc_id,
                  len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      t -> t IN ('the','a','of','and','to','in','is','that','it','for'))) AS h_en,
                  len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      t -> t IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS h_de,
                  len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      t -> t IN ('le','la','les','et','est','une','pour','dans','que','pas'))) AS h_fr,
                  len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                      t -> t IN ('el','la','los','y','es','una','para','en','que','no'))) AS h_es
           FROM documents
         )
         SELECT doc_id,
                CASE WHEN h_en >= h_de AND h_en >= h_fr AND h_en >= h_es AND h_en > 0 THEN 'en'
                     WHEN h_de >= h_fr AND h_de >= h_es AND h_de > 0 THEN 'de'
                     WHEN h_fr >= h_es AND h_fr > 0 THEN 'fr'
                     WHEN h_es > 0 THEN 'es'
                     ELSE 'und' END AS detected_lang,
                h_en AS lang_hits_en
         FROM h""",

    "q_token_count" ->
      """SELECT doc_id,
                len(string_split_regex(trim(text), '\s+')) AS n_ws_tokens,
                len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
                CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_est_tokens
         FROM documents""",

    "q_fingerprint" ->
      """WITH d AS (SELECT doc_id, text, len(text) - 4 AS m FROM documents),
         h AS (SELECT doc_id, m,
                      [md5(substr(text, i, 5)) FOR i IN range(1, m + 1)] AS hs
               FROM d WHERE m >= 1),
         f AS (SELECT doc_id, list_sort(list_distinct(
                 [list_min(hs[j : least(j + 3, m)])
                  FOR j IN range(1, greatest(m - 3, 1) + 1)])) AS fp
               FROM h)
         SELECT doc_id, unnest(fp) AS fingerprint FROM f""",

    "q_repetition" ->
      """WITH w AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\s+') END AS words
           FROM documents
         ),
         s AS (
           SELECT doc_id, words, len(words) AS n,
                  [words[i] || ' ' || words[i+1] FOR i IN range(1, len(words))] AS g2,
                  [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                   FOR i IN range(1, len(words) - 1)] AS g3
           FROM w
         ),
         top AS (
           SELECT doc_id, MAX(c) AS maxc
           FROM (SELECT doc_id, w, COUNT(*) AS c
                 FROM (SELECT doc_id, unnest(words) AS w FROM w) GROUP BY doc_id, w)
           GROUP BY doc_id
         )
         SELECT s.doc_id,
                CAST(s.n AS BIGINT) AS n_words,
                ROUND(CASE WHEN s.n = 0 THEN 0.0
                           ELSE len(list_distinct(s.words)) / CAST(s.n AS DOUBLE) END, 6)
                  AS distinct_word_ratio,
                ROUND(CASE WHEN s.n = 0 THEN 0.0
                           ELSE COALESCE(top.maxc, 0) / CAST(s.n AS DOUBLE) END, 6)
                  AS top_word_fraction,
                ROUND(CASE WHEN s.n < 2 THEN 0.0
                           ELSE 1.0 - len(list_distinct(s.g2)) / CAST(s.n - 1 AS DOUBLE) END, 6)
                  AS dup_2gram_fraction,
                ROUND(CASE WHEN s.n < 3 THEN 0.0
                           ELSE 1.0 - len(list_distinct(s.g3)) / CAST(s.n - 2 AS DOUBLE) END, 6)
                  AS dup_3gram_fraction
         FROM s LEFT JOIN top ON top.doc_id = s.doc_id""",

    "q_pii_redact" ->
      """WITH p AS (
           SELECT doc_id,
                  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com at 10.1.'
                       || CAST(doc_id % 200 AS VARCHAR) || '.77 or +1 555 20'
                       || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS ptext
           FROM documents
         ),
         r1 AS (
           SELECT doc_id,
                  len(regexp_extract_all(ptext,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                  regexp_replace(ptext,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
           FROM p
         ),
         r2 AS (
           SELECT doc_id, n_emails,
                  len(regexp_extract_all(t1,
                      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
                  regexp_replace(t1,
                      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
           FROM r1
         )
         SELECT doc_id,
                regexp_replace(t2, '\+\d[\d -]{6,}\d', '<PHONE>', 'g') AS redacted,
                CAST(n_emails AS BIGINT) AS n_emails,
                CAST(n_ips AS BIGINT) AS n_ips,
                CAST(len(regexp_extract_all(t2, '\+\d[\d -]{6,}\d')) AS BIGINT) AS n_phones
         FROM r2""",

    "q_bm25" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\s+') END AS words
           FROM documents
         ),
         dl AS (SELECT doc_id, CAST(len(words) AS DOUBLE) AS dl, words FROM d),
         stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
         tf AS (
           SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM (SELECT doc_id, dl,
                        unnest(list_filter(words,
                               w -> w IN ('table', 'spark', 'hash', 'window'))) AS term
                 FROM dl)
           GROUP BY doc_id, dl, term
         ),
         df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         s AS (
           SELECT tf.doc_id, tf.term,
                  ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5)) * tf.tf * (1.2 + 1.0)
                    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / stats.avgdl)) AS s
           FROM tf JOIN df USING (term) CROSS JOIN stats
         )
         SELECT d.doc_id, ROUND(COALESCE(agg.score, 0.0), 6) AS bm25_score
         FROM d LEFT JOIN (SELECT doc_id, SUM(s ORDER BY term) AS score
                           FROM s GROUP BY doc_id) agg ON agg.doc_id = d.doc_id""",

    "q_ngram_lm" ->
      """WITH w AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\s+') END AS words
           FROM documents
         ),
         v AS (
           SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vs
           FROM (SELECT unnest(words) AS t FROM w)
         ),
         flat AS (
           SELECT doc_id, u.p AS p, u.w1 AS w1, u.w2 AS w2
           FROM (SELECT doc_id,
                        unnest([{'p': i, 'w1': words[i], 'w2': words[i+1]}
                                FOR i IN range(1, len(words))]) AS u
                 FROM w)
         ),
         counts AS (
           SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c FROM flat GROUP BY w1, w2
         ),
         ctx AS (SELECT w1, SUM(c) AS ctx FROM counts GROUP BY w1),
         scored AS (
           SELECT f.doc_id, f.p,
                  log2((COALESCE(c.c, 0) + 0.1) / (COALESCE(x.ctx, 0) + 0.1 * v.vs)) AS lp
           FROM flat f
           LEFT JOIN counts c ON c.w1 = f.w1 AND c.w2 = f.w2
           LEFT JOIN ctx x ON x.w1 = f.w1
           CROSS JOIN v
         ),
         perdoc AS (
           SELECT doc_id, COUNT(*) AS m, SUM(lp ORDER BY p) AS s
           FROM scored GROUP BY doc_id
         )
         SELECT d.doc_id,
                ROUND(-p.s / p.m, 6) AS ppl_bits,
                ROUND(pow(2.0, -p.s / p.m), 2) AS ppl
         FROM (SELECT doc_id FROM documents) d
         LEFT JOIN perdoc p ON p.doc_id = d.doc_id""",

    // chain k covers ids [5k, 5k+4]; min reachable id = 5k
    "q_connected_components" ->
      """SELECT event_id AS id, event_id - event_id % 5 AS component
         FROM events""",

    // same closed-form oracle: both distributed algorithms must
    // produce identical min-labelled components
    "q_cc_minlabel" ->
      """SELECT event_id AS id, event_id - event_id % 5 AS component
         FROM events""",

    // the power iteration replayed as chained CTEs: shares = w/out
    // (single division, mirroring the operator), dangling mass summed
    // per round, (1.0 - 0.85) spelled as the same double expression
    "q_pagerank" ->
      """WITH e0 AS (
           SELECT event_id AS src, (event_id * 31) % 1000 AS dst
           FROM events WHERE event_id % 7 <> 0),
         e AS (SELECT src, dst, COUNT(*) * 1.0 AS w FROM e0 GROUP BY 1, 2),
         outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
         sh AS (SELECT e.src, e.dst, e.w / o.outw AS share
                FROM e JOIN outw o ON e.src = o.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM outw)),
         r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
         d1 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r0 r JOIN dang USING (id)),
         c1 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r0 r ON sh.src = r.id GROUP BY 1),
         r1 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c1.c, 0.0) + d1.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d1
                LEFT JOIN c1 ON nodes.id = c1.id),
         d2 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r1 r JOIN dang USING (id)),
         c2 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r1 r ON sh.src = r.id GROUP BY 1),
         r2 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c2.c, 0.0) + d2.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d2
                LEFT JOIN c2 ON nodes.id = c2.id),
         d3 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r2 r JOIN dang USING (id)),
         c3 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r2 r ON sh.src = r.id GROUP BY 1),
         r3 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c3.c, 0.0) + d3.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d3
                LEFT JOIN c3 ON nodes.id = c3.id)
         SELECT id, ROUND(r, 10) AS pagerank FROM r3""",

    // the q_pagerank chain with the teleport vector p concentrated on
    // the seed set (id ≡ 0 mod 10): r0 = p and every round's formula
    // is (1-d)·p + d·(contribs + dangling·p)
    "q_personalized_pagerank" ->
      """WITH e0 AS (
           SELECT event_id AS src, (event_id * 31) % 1000 AS dst
           FROM events WHERE event_id % 7 <> 0),
         e AS (SELECT src, dst, COUNT(*) * 1.0 AS w FROM e0 GROUP BY 1, 2),
         outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
         sh AS (SELECT e.src, e.dst, e.w / o.outw AS share
                FROM e JOIN outw o ON e.src = o.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         sd AS (SELECT id FROM nodes WHERE id % 10 = 0),
         ns AS (SELECT COUNT(*) * 1.0 AS s FROM sd),
         p AS (SELECT nodes.id,
                      CASE WHEN sd.id IS NOT NULL THEN 1.0 / ns.s ELSE 0.0 END AS p
               FROM nodes CROSS JOIN ns LEFT JOIN sd ON nodes.id = sd.id),
         dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM outw)),
         r0 AS (SELECT id, p AS r FROM p),
         d1 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r0 r JOIN dang USING (id)),
         c1 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r0 r ON sh.src = r.id GROUP BY 1),
         r1 AS (SELECT p.id, (1.0 - 0.85) * p.p + 0.85 * (COALESCE(c1.c, 0.0) + d1.dm * p.p) AS r
                FROM p CROSS JOIN d1 LEFT JOIN c1 ON p.id = c1.id),
         d2 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r1 r JOIN dang USING (id)),
         c2 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r1 r ON sh.src = r.id GROUP BY 1),
         r2 AS (SELECT p.id, (1.0 - 0.85) * p.p + 0.85 * (COALESCE(c2.c, 0.0) + d2.dm * p.p) AS r
                FROM p CROSS JOIN d2 LEFT JOIN c2 ON p.id = c2.id),
         d3 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r2 r JOIN dang USING (id)),
         c3 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r2 r ON sh.src = r.id GROUP BY 1),
         r3 AS (SELECT p.id, (1.0 - 0.85) * p.p + 0.85 * (COALESCE(c3.c, 0.0) + d3.dm * p.p) AS r
                FROM p CROSS JOIN d3 LEFT JOIN c3 ON p.id = c3.id)
         SELECT id, ROUND(r, 10) AS pagerank FROM r3""",

    // HITS replayed exactly: both L1-normalized half-steps per
    // iteration as chained CTEs (authority from hubs along edges, hubs
    // from authorities against them), ROUND(,10) absorbing the
    // scalar-sum ulp like the PageRank replays
    "q_hits" ->
      """WITH e AS (SELECT event_id AS src, (event_id * 31) % 1000 AS dst
                    FROM events WHERE event_id % 7 <> 0),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         h0 AS (SELECT id, 1.0 / nn.n AS h FROM nodes CROSS JOIN nn),
         ra1 AS (SELECT e.dst AS id, SUM(h.h) AS ra
                 FROM e JOIN h0 h ON e.src = h.id GROUP BY 1),
         za1 AS (SELECT SUM(ra) AS z FROM ra1),
         a1 AS (SELECT nodes.id, COALESCE(ra1.ra, 0.0) / za1.z AS a
                FROM nodes CROSS JOIN za1 LEFT JOIN ra1 ON nodes.id = ra1.id),
         rh1 AS (SELECT e.src AS id, SUM(a.a) AS rh
                 FROM e JOIN a1 a ON e.dst = a.id GROUP BY 1),
         zh1 AS (SELECT SUM(rh) AS z FROM rh1),
         h1 AS (SELECT nodes.id, COALESCE(rh1.rh, 0.0) / zh1.z AS h
                FROM nodes CROSS JOIN zh1 LEFT JOIN rh1 ON nodes.id = rh1.id),
         ra2 AS (SELECT e.dst AS id, SUM(h.h) AS ra
                 FROM e JOIN h1 h ON e.src = h.id GROUP BY 1),
         za2 AS (SELECT SUM(ra) AS z FROM ra2),
         a2 AS (SELECT nodes.id, COALESCE(ra2.ra, 0.0) / za2.z AS a
                FROM nodes CROSS JOIN za2 LEFT JOIN ra2 ON nodes.id = ra2.id),
         rh2 AS (SELECT e.src AS id, SUM(a.a) AS rh
                 FROM e JOIN a2 a ON e.dst = a.id GROUP BY 1),
         zh2 AS (SELECT SUM(rh) AS z FROM rh2),
         h2 AS (SELECT nodes.id, COALESCE(rh2.rh, 0.0) / zh2.z AS h
                FROM nodes CROSS JOIN zh2 LEFT JOIN rh2 ON nodes.id = rh2.id)
         SELECT h2.id, ROUND(h2.h, 10) AS hub, ROUND(a2.a, 10) AS authority
         FROM h2 JOIN a2 ON h2.id = a2.id""",

    // the q_label_prop chain with the symmetrize step dropped: votes
    // arrive along edge direction only, in-degree-0 vertices keep
    // their own label through every round
    "q_label_prop_directed" ->
      """WITH e0 AS (
           SELECT event_id AS src, (event_id * 31) % 1000 AS dst
           FROM events WHERE event_id % 7 <> 0),
         nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         es AS (SELECT src, dst FROM e0 WHERE src <> dst),
         l0 AS (SELECT id, id AS lab FROM nodes),
         c1 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l0 l ON es.src = l.id GROUP BY 1, 2),
         m1 AS (SELECT id, MAX(c) AS mc FROM c1 GROUP BY 1),
         p1 AS (SELECT c1.id, MIN(c1.lab) AS lab
                FROM c1 JOIN m1 ON c1.id = m1.id AND c1.c = m1.mc GROUP BY 1),
         l1 AS (SELECT n.id, COALESCE(p1.lab, l0.lab) AS lab
                FROM nodes n JOIN l0 ON n.id = l0.id LEFT JOIN p1 ON n.id = p1.id),
         c2 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l1 l ON es.src = l.id GROUP BY 1, 2),
         m2 AS (SELECT id, MAX(c) AS mc FROM c2 GROUP BY 1),
         p2 AS (SELECT c2.id, MIN(c2.lab) AS lab
                FROM c2 JOIN m2 ON c2.id = m2.id AND c2.c = m2.mc GROUP BY 1),
         l2 AS (SELECT n.id, COALESCE(p2.lab, l1.lab) AS lab
                FROM nodes n JOIN l1 ON n.id = l1.id LEFT JOIN p2 ON n.id = p2.id),
         c3 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l2 l ON es.src = l.id GROUP BY 1, 2),
         m3 AS (SELECT id, MAX(c) AS mc FROM c3 GROUP BY 1),
         p3 AS (SELECT c3.id, MIN(c3.lab) AS lab
                FROM c3 JOIN m3 ON c3.id = m3.id AND c3.c = m3.mc GROUP BY 1),
         l3 AS (SELECT n.id, COALESCE(p3.lab, l2.lab) AS lab
                FROM nodes n JOIN l2 ON n.id = l2.id LEFT JOIN p3 ON n.id = p3.id)
         SELECT id, lab AS label FROM l3""",

    // the q_label_prop chain with per-edge weights (src % 3 + 1):
    // votes are SUM(w) — integer-valued, so the replay stays exact
    "q_label_prop_weighted" ->
      """WITH e0 AS (
           SELECT event_id AS src, (event_id * 31) % 1000 AS dst,
                  CAST(event_id % 3 + 1 AS DOUBLE) AS w
           FROM events WHERE event_id % 7 <> 0),
         nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         er AS (SELECT src, dst, w FROM e0 WHERE src <> dst),
         es AS (SELECT src, dst, w FROM er UNION ALL SELECT dst, src, w FROM er),
         l0 AS (SELECT id, id AS lab FROM nodes),
         c1 AS (SELECT es.dst AS id, l.lab, SUM(es.w) AS c
                FROM es JOIN l0 l ON es.src = l.id GROUP BY 1, 2),
         m1 AS (SELECT id, MAX(c) AS mc FROM c1 GROUP BY 1),
         p1 AS (SELECT c1.id, MIN(c1.lab) AS lab
                FROM c1 JOIN m1 ON c1.id = m1.id AND c1.c = m1.mc GROUP BY 1),
         l1 AS (SELECT n.id, COALESCE(p1.lab, l0.lab) AS lab
                FROM nodes n JOIN l0 ON n.id = l0.id LEFT JOIN p1 ON n.id = p1.id),
         c2 AS (SELECT es.dst AS id, l.lab, SUM(es.w) AS c
                FROM es JOIN l1 l ON es.src = l.id GROUP BY 1, 2),
         m2 AS (SELECT id, MAX(c) AS mc FROM c2 GROUP BY 1),
         p2 AS (SELECT c2.id, MIN(c2.lab) AS lab
                FROM c2 JOIN m2 ON c2.id = m2.id AND c2.c = m2.mc GROUP BY 1),
         l2 AS (SELECT n.id, COALESCE(p2.lab, l1.lab) AS lab
                FROM nodes n JOIN l1 ON n.id = l1.id LEFT JOIN p2 ON n.id = p2.id),
         c3 AS (SELECT es.dst AS id, l.lab, SUM(es.w) AS c
                FROM es JOIN l2 l ON es.src = l.id GROUP BY 1, 2),
         m3 AS (SELECT id, MAX(c) AS mc FROM c3 GROUP BY 1),
         p3 AS (SELECT c3.id, MIN(c3.lab) AS lab
                FROM c3 JOIN m3 ON c3.id = m3.id AND c3.c = m3.mc GROUP BY 1),
         l3 AS (SELECT n.id, COALESCE(p3.lab, l2.lab) AS lab
                FROM nodes n JOIN l2 ON n.id = l2.id LEFT JOIN p3 ON n.id = p3.id)
         SELECT id, lab AS label FROM l3""",

    // the q_ann_cosine brute-force top-k CTE builds the kNN edge
    // list (k=6, self dropped), then the q_label_prop LPA chain runs
    // 3 rounds over the symmetrized edges
    "q_semantic_communities" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS q, b.vec_id AS n,
                  list_dot_product(a.e, b.e)
                    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
                    AS sim
           FROM emb a CROSS JOIN emb b),
         knn AS (SELECT q AS src, n AS dst FROM (
                   SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, n ASC) AS rk
                   FROM pairs)
                 WHERE rk <= 6 AND q <> n),
         nodes AS (SELECT src AS id FROM knn UNION SELECT dst FROM knn),
         es AS (SELECT src, dst FROM knn UNION ALL SELECT dst, src FROM knn),
         l0 AS (SELECT id, id AS lab FROM nodes),
         c1 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l0 l ON es.src = l.id GROUP BY 1, 2),
         m1 AS (SELECT id, MAX(c) AS mc FROM c1 GROUP BY 1),
         p1 AS (SELECT c1.id, MIN(c1.lab) AS lab
                FROM c1 JOIN m1 ON c1.id = m1.id AND c1.c = m1.mc GROUP BY 1),
         l1 AS (SELECT n.id, COALESCE(p1.lab, l0.lab) AS lab
                FROM nodes n JOIN l0 ON n.id = l0.id LEFT JOIN p1 ON n.id = p1.id),
         c2 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l1 l ON es.src = l.id GROUP BY 1, 2),
         m2 AS (SELECT id, MAX(c) AS mc FROM c2 GROUP BY 1),
         p2 AS (SELECT c2.id, MIN(c2.lab) AS lab
                FROM c2 JOIN m2 ON c2.id = m2.id AND c2.c = m2.mc GROUP BY 1),
         l2 AS (SELECT n.id, COALESCE(p2.lab, l1.lab) AS lab
                FROM nodes n JOIN l1 ON n.id = l1.id LEFT JOIN p2 ON n.id = p2.id),
         c3 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l2 l ON es.src = l.id GROUP BY 1, 2),
         m3 AS (SELECT id, MAX(c) AS mc FROM c3 GROUP BY 1),
         p3 AS (SELECT c3.id, MIN(c3.lab) AS lab
                FROM c3 JOIN m3 ON c3.id = m3.id AND c3.c = m3.mc GROUP BY 1),
         l3 AS (SELECT n.id, COALESCE(p3.lab, l2.lab) AS lab
                FROM nodes n JOIN l2 ON n.id = l2.id LEFT JOIN p3 ON n.id = p3.id)
         SELECT id, lab AS label FROM l3""",

    // synchronous LPA replayed exactly: per round, per-vertex neighbor
    // label counts (symmetrized edges, self-loops dropped, parallel
    // edges count), argmax with MIN-label tie-break, keep-own when no
    // neighbors — all integer arithmetic, so the replay is exact
    "q_label_prop" ->
      """WITH e0 AS (
           SELECT event_id AS src, (event_id * 31) % 1000 AS dst
           FROM events WHERE event_id % 7 <> 0),
         nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
         er AS (SELECT src, dst FROM e0 WHERE src <> dst),
         es AS (SELECT src, dst FROM er UNION ALL SELECT dst, src FROM er),
         l0 AS (SELECT id, id AS lab FROM nodes),
         c1 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l0 l ON es.src = l.id GROUP BY 1, 2),
         m1 AS (SELECT id, MAX(c) AS mc FROM c1 GROUP BY 1),
         p1 AS (SELECT c1.id, MIN(c1.lab) AS lab
                FROM c1 JOIN m1 ON c1.id = m1.id AND c1.c = m1.mc GROUP BY 1),
         l1 AS (SELECT n.id, COALESCE(p1.lab, l0.lab) AS lab
                FROM nodes n JOIN l0 ON n.id = l0.id LEFT JOIN p1 ON n.id = p1.id),
         c2 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l1 l ON es.src = l.id GROUP BY 1, 2),
         m2 AS (SELECT id, MAX(c) AS mc FROM c2 GROUP BY 1),
         p2 AS (SELECT c2.id, MIN(c2.lab) AS lab
                FROM c2 JOIN m2 ON c2.id = m2.id AND c2.c = m2.mc GROUP BY 1),
         l2 AS (SELECT n.id, COALESCE(p2.lab, l1.lab) AS lab
                FROM nodes n JOIN l1 ON n.id = l1.id LEFT JOIN p2 ON n.id = p2.id),
         c3 AS (SELECT es.dst AS id, l.lab, COUNT(*) AS c
                FROM es JOIN l2 l ON es.src = l.id GROUP BY 1, 2),
         m3 AS (SELECT id, MAX(c) AS mc FROM c3 GROUP BY 1),
         p3 AS (SELECT c3.id, MIN(c3.lab) AS lab
                FROM c3 JOIN m3 ON c3.id = m3.id AND c3.c = m3.mc GROUP BY 1),
         l3 AS (SELECT n.id, COALESCE(p3.lab, l2.lab) AS lab
                FROM nodes n JOIN l2 ON n.id = l2.id LEFT JOIN p3 ON n.id = p3.id)
         SELECT id, lab AS label FROM l3""",

    // the word graph rebuilt from text (toks/pairs mirror
    // q_collocations), symmetrized, then the q_pagerank CTE chain
    // verbatim — shares = w/out single division, dangling CTEs kept
    // for shape parity (dang is empty on a symmetric graph)
    "q_keywords" ->
      """WITH toks AS (
           SELECT regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
         pairs AS (
           SELECT w[i] AS w1, w[i+1] AS w2
           FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)),
         e0 AS (SELECT w1 AS src, w2 AS dst FROM pairs
                UNION ALL
                SELECT w2 AS src, w1 AS dst FROM pairs),
         e AS (SELECT src, dst, COUNT(*) * 1.0 AS w FROM e0 GROUP BY 1, 2),
         outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
         sh AS (SELECT e.src, e.dst, e.w / o.outw AS share
                FROM e JOIN outw o ON e.src = o.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM outw)),
         r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
         d1 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r0 r JOIN dang USING (id)),
         c1 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r0 r ON sh.src = r.id GROUP BY 1),
         r1 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c1.c, 0.0) + d1.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d1
                LEFT JOIN c1 ON nodes.id = c1.id),
         d2 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r1 r JOIN dang USING (id)),
         c2 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r1 r ON sh.src = r.id GROUP BY 1),
         r2 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c2.c, 0.0) + d2.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d2
                LEFT JOIN c2 ON nodes.id = c2.id),
         d3 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r2 r JOIN dang USING (id)),
         c3 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r2 r ON sh.src = r.id GROUP BY 1),
         r3 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c3.c, 0.0) + d3.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d3
                LEFT JOIN c3 ON nodes.id = c3.id)
         SELECT id AS word, ROUND(r, 10) AS rank FROM r3""",

    // q_keywords with the stopword filter applied at the token list —
    // removal happens BEFORE pairing, so dropping a stopword welds its
    // neighbors into a new adjacent pair, exactly like the Spark side's
    // StopWordsRemover → concat_ws → KeywordExtractor composition
    "q_keywords_filtered" ->
      """WITH toks AS (
           SELECT list_filter(regexp_split_to_array(trim(text), '\s+'),
                              t -> t NOT IN ('a', 'the')) AS w
           FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
         pairs AS (
           SELECT w[i] AS w1, w[i+1] AS w2
           FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)),
         e0 AS (SELECT w1 AS src, w2 AS dst FROM pairs
                UNION ALL
                SELECT w2 AS src, w1 AS dst FROM pairs),
         e AS (SELECT src, dst, COUNT(*) * 1.0 AS w FROM e0 GROUP BY 1, 2),
         outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
         sh AS (SELECT e.src, e.dst, e.w / o.outw AS share
                FROM e JOIN outw o ON e.src = o.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM outw)),
         r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
         d1 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r0 r JOIN dang USING (id)),
         c1 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r0 r ON sh.src = r.id GROUP BY 1),
         r1 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c1.c, 0.0) + d1.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d1
                LEFT JOIN c1 ON nodes.id = c1.id),
         d2 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r1 r JOIN dang USING (id)),
         c2 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r1 r ON sh.src = r.id GROUP BY 1),
         r2 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c2.c, 0.0) + d2.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d2
                LEFT JOIN c2 ON nodes.id = c2.id),
         d3 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r2 r JOIN dang USING (id)),
         c3 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r2 r ON sh.src = r.id GROUP BY 1),
         r3 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c3.c, 0.0) + d3.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d3
                LEFT JOIN c3 ON nodes.id = c3.id)
         SELECT id AS word, ROUND(r, 10) AS rank FROM r3""",

    // distinct (fingerprint, source) + self-join on the fingerprint;
    // zero-overlap pairs kept via the per-source-count cross pairs
    "q_corpus_overlap" ->
      """WITH all_docs AS (
           SELECT text, source FROM documents
           UNION ALL
           SELECT text, 'zz_eval' AS source FROM documents WHERE doc_id % 10 = 0
         ),
         s AS (SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                      source
               FROM all_docs WHERE source IS NOT NULL),
         n AS (SELECT source, COUNT(*) AS n FROM s GROUP BY source),
         sh AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS shared
                FROM s a JOIN s b ON a.fp = b.fp AND a.source < b.source
                GROUP BY 1, 2),
         p AS (SELECT na.source AS source_a, nb.source AS source_b,
                      na.n AS n_a, nb.n AS n_b
               FROM n na JOIN n nb ON na.source < nb.source)
         SELECT p.source_a, p.source_b, p.n_a, p.n_b,
                COALESCE(sh.shared, 0) AS shared,
                ROUND(CAST(COALESCE(sh.shared, 0) AS DOUBLE)
                      / (p.n_a + p.n_b - COALESCE(sh.shared, 0)), 6) AS jaccard
         FROM p LEFT JOIN sh ON sh.sa = p.source_a AND sh.sb = p.source_b""",

    // every Gopher rule replayed: whitespace words, length-diff symbol
    // counts, line-array bullet/ellipsis ratios, alpha-word fraction,
    // padded-contains stopword hits
    "q_gopher" ->
      """WITH w AS (
           SELECT doc_id, text,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\s+') END AS words,
                  string_split(text, chr(10)) AS lines,
                  ' ' || regexp_replace(lower(text), '\s+', ' ', 'g') || ' ' AS padded
           FROM documents
         ),
         m AS (
           SELECT doc_id,
                  len(words) AS nw,
                  CASE WHEN len(words) > 0
                       THEN CAST(list_sum([len(x) FOR x IN words]) AS DOUBLE) / len(words) END AS mean_len,
                  CASE WHEN len(words) > 0 THEN
                    CAST((len(text) - len(replace(text, '#', '')))
                         + (len(text) - len(replace(text, '...', ''))) // 3
                         + (len(text) - len(replace(text, '…', ''))) AS DOUBLE) / len(words)
                  END AS symbol_ratio,
                  CASE WHEN len(lines) > 0 THEN
                    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•‣◦]'))) AS DOUBLE)
                      / len(lines) END AS bullet_ratio,
                  CASE WHEN len(lines) > 0 THEN
                    CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '(\.\.\.|…)$'))) AS DOUBLE)
                      / len(lines) END AS ellipsis_ratio,
                  CASE WHEN len(words) > 0 THEN
                    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                      / len(words) END AS alpha_ratio,
                  (CASE WHEN position(' the ' IN padded) > 0 THEN 1 ELSE 0 END
                   + CASE WHEN position(' be ' IN padded) > 0 THEN 1 ELSE 0 END
                   + CASE WHEN position(' to ' IN padded) > 0 THEN 1 ELSE 0 END
                   + CASE WHEN position(' of ' IN padded) > 0 THEN 1 ELSE 0 END
                   + CASE WHEN position(' and ' IN padded) > 0 THEN 1 ELSE 0 END
                   + CASE WHEN position(' that ' IN padded) > 0 THEN 1 ELSE 0 END
                   + CASE WHEN position(' have ' IN padded) > 0 THEN 1 ELSE 0 END
                   + CASE WHEN position(' with ' IN padded) > 0 THEN 1 ELSE 0 END) AS stop_hits
           FROM w
         ),
         r AS (
           SELECT doc_id,
                  nw BETWEEN 30 AND 100000 AS rule_word_count,
                  COALESCE(mean_len BETWEEN 3.0 AND 10.0, FALSE) AS rule_mean_word_len,
                  COALESCE(symbol_ratio <= 0.1, FALSE) AS rule_symbol_ratio,
                  COALESCE(bullet_ratio <= 0.9, FALSE) AS rule_bullet_lines,
                  COALESCE(ellipsis_ratio <= 0.3, FALSE) AS rule_ellipsis_lines,
                  COALESCE(alpha_ratio >= 0.8, FALSE) AS rule_alpha_words,
                  stop_hits >= 1 AS rule_stopwords
           FROM m
         )
         SELECT doc_id, rule_word_count, rule_mean_word_len, rule_symbol_ratio,
                rule_bullet_lines, rule_ellipsis_lines, rule_alpha_words, rule_stopwords,
                rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
                  AND rule_bullet_lines AND rule_ellipsis_lines AND rule_alpha_words
                  AND rule_stopwords AS gopher_keep
         FROM r""",

    // the C4 rules replayed line by line on the same synthetic page
    "q_c4_filter" ->
      """WITH pages AS (
           SELECT doc_id,
                  concat_ws(chr(10),
                    text || '.',
                    'Too short.',
                    'no terminal punctuation on this line at all',
                    'Enable javascript to view this site properly.',
                    CASE WHEN doc_id % 7 = 0
                         THEN 'this page has lorem ipsum placeholder text inside.'
                         ELSE 'A perfectly fine closing sentence sits right here.' END,
                    CASE WHEN doc_id % 11 = 0
                         THEN 'code with a { brace drops the whole page.'
                         ELSE 'Another good ending sentence stands right here!' END) AS page
           FROM documents),
         cleaned AS (
           SELECT doc_id, page,
                  array_to_string(list_filter(string_split(page, chr(10)), l ->
                    regexp_matches(trim(l), '[.!?]["”]?$')
                    AND len(string_split_regex(trim(l), '\s+')) >= 5
                    AND NOT regexp_matches(lower(l), '\bjavascript\b')), chr(10)) AS c4,
                  len(list_filter(string_split(page, chr(10)), l ->
                    regexp_matches(trim(l), '[.!?]["”]?$')
                    AND len(string_split_regex(trim(l), '\s+')) >= 5
                    AND NOT regexp_matches(lower(l), '\bjavascript\b'))) AS nkept
           FROM pages),
         m AS (
           SELECT doc_id, c4, nkept,
                  len(c4) - len(regexp_replace(c4, '[.!?]', '', 'g')) AS nsent,
                  NOT (contains(lower(page), 'lorem ipsum')
                       OR contains(lower(page), '{')) AS not_banned
           FROM cleaned)
         SELECT doc_id,
                CAST(nkept AS INT) AS n_lines_kept,
                CAST(nsent AS INT) AS n_sentences,
                nsent >= 3 AS rule_min_sentences,
                not_banned AS rule_not_banned,
                nsent >= 3 AND not_banned AND nkept >= 1 AS c4_keep,
                md5(c4) AS c4_md5
         FROM m""",

    // per column: exact value counts, top-10 by (n desc, key asc as
    // STRING), rank + share; nulls under the <null> sentinel
    "q_skew_report" ->
      """WITH t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM events),
         u AS (
           SELECT 'user_id' AS "column",
                  COALESCE(CAST(user_id AS VARCHAR), '<null>') AS key,
                  COUNT(*) AS n
           FROM events GROUP BY 2
           ORDER BY n DESC, key ASC LIMIT 10),
         e AS (
           SELECT 'event_type' AS "column",
                  COALESCE(CAST(event_type AS VARCHAR), '<null>') AS key,
                  COUNT(*) AS n
           FROM events GROUP BY 2
           ORDER BY n DESC, key ASC LIMIT 10),
         all_rows AS (SELECT * FROM u UNION ALL SELECT * FROM e)
         SELECT "column", key, n,
                ROUND(n / t.total, 6) AS share,
                CAST(ROW_NUMBER() OVER (PARTITION BY "column"
                  ORDER BY n DESC, key ASC) AS INT) AS rank
         FROM all_rows CROSS JOIN t""",

    // bigram counts + margins from the pair table, PMI in bits, G²
    // with zero cells contributing 0 — the same expression shapes
    "q_collocations" ->
      """WITH toks AS (
           SELECT regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
         pairs AS (
           SELECT w[i] AS w1, w[i+1] AS w2
           FROM toks, unnest(generate_series(1, len(w) - 1)) AS t(i)),
         cnt AS (SELECT w1, w2, COUNT(*) AS n12 FROM pairs GROUP BY 1, 2),
         lm AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM cnt GROUP BY 1),
         rm AS (SELECT w2, CAST(SUM(n12) AS BIGINT) AS n2 FROM cnt GROUP BY 1),
         tot AS (SELECT CAST(SUM(n12) AS DOUBLE) AS nn FROM cnt),
         j AS (SELECT c.w1, c.w2, c.n12, lm.n1, rm.n2, tot.nn
               FROM cnt c JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tot
               WHERE c.n12 >= 5)
         SELECT w1, w2, n12, n1, n2,
                ROUND(log2(n12 * nn / (CAST(n1 AS DOUBLE) * n2)), 6) AS pmi,
                ROUND(2.0 * (
                  CASE WHEN CAST(n12 AS DOUBLE) > 0
                    THEN CAST(n12 AS DOUBLE) * ln(CAST(n12 AS DOUBLE) * nn / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) ELSE 0 END +
                  CASE WHEN CAST(n1 AS DOUBLE) - n12 > 0
                    THEN (CAST(n1 AS DOUBLE) - n12) * ln((CAST(n1 AS DOUBLE) - n12) * nn / (CAST(n1 AS DOUBLE) * (nn - n2))) ELSE 0 END +
                  CASE WHEN CAST(n2 AS DOUBLE) - n12 > 0
                    THEN (CAST(n2 AS DOUBLE) - n12) * ln((CAST(n2 AS DOUBLE) - n12) * nn / ((nn - n1) * CAST(n2 AS DOUBLE))) ELSE 0 END +
                  CASE WHEN nn - n1 - n2 + n12 > 0
                    THEN (nn - n1 - n2 + n12) * ln((nn - n1 - n2 + n12) * nn / ((nn - n1) * (nn - n2))) ELSE 0 END), 6) AS llr
         FROM j""",

    // gaps-and-islands replay: last obs per (user, 6h bucket), lag of
    // (bucket, value) per user, generate_series fills the hole between
    // consecutive observations; values carried exactly (no arithmetic)
    "q_resample" ->
      """WITH obs AS (
           SELECT user_id AS k, epoch_ms(ts) AS ms, value AS v,
                  epoch_ms(ts) // 21600000 AS b
           FROM events),
         dedup AS (
           SELECT k, b, ms, v,
                  ROW_NUMBER() OVER (PARTITION BY k, b ORDER BY ms DESC) AS rn
           FROM obs),
         lagged AS (
           SELECT k, b, v,
                  LAG(b) OVER (PARTITION BY k ORDER BY b) AS pb,
                  LAG(v) OVER (PARTITION BY k ORDER BY b) AS pv
           FROM dedup WHERE rn = 1),
         gser AS (
           SELECT k, b, v, pv,
                  UNNEST(generate_series(COALESCE(pb + 1, b), b)) AS g
           FROM lagged)
         SELECT k AS user_id,
                epoch_ms(g * 21600000) AS ts,
                g = b AS is_observed,
                CASE WHEN g = b THEN v ELSE pv END AS value
         FROM gser""",

    // bucketize (same expression shapes: cast-double subtraction,
    // multiply by 256.0, divide by the max-min double, floor, clamp)
    // then the 16-term bit interleave
    "q_zorder" -> {
      def bucket(v: String, mn: String, mx: String): String =
        s"COALESCE(LEAST(255, GREATEST(0, CAST(FLOOR((CAST($v AS DOUBLE) - $mn) * 256.0 / ($mx - $mn)) AS BIGINT))), 0)"
      s"""WITH d AS (SELECT doc_id, length(text) AS tl FROM documents),
         stats AS (SELECT MIN(CAST(doc_id AS DOUBLE)) AS mn0, MAX(CAST(doc_id AS DOUBLE)) AS mx0,
                          MIN(CAST(tl AS DOUBLE)) AS mn1, MAX(CAST(tl AS DOUBLE)) AS mx1
                   FROM d),
         b AS (SELECT doc_id,
                      ${bucket("doc_id", "stats.mn0", "stats.mx0")} AS b0,
                      ${bucket("tl", "stats.mn1", "stats.mx1")} AS b1
               FROM d CROSS JOIN stats)
         SELECT doc_id, ${mortonSql("b0", "b1", 8)} AS zvalue FROM b"""
    },

    // identity modulo the JSON round-trip (which must be lossless);
    // the planted corrupt line shows up ONLY in n_corrupt
    "q_jsonl_roundtrip" ->
      """SELECT doc_id, md5(text) AS text_md5, source,
                CAST(1 AS BIGINT) AS n_corrupt
         FROM documents""",

    // normalization chain replayed in the Spark operator's order:
    // control strip -> accent translate -> lower -> collapse + trim
    "q_normalize" ->
      ("""SELECT doc_id, md5(n) AS norm_md5, CAST(length(n) AS INT) AS n_chars
         FROM (SELECT doc_id,
                 trim(regexp_replace(lower(translate(
                   regexp_replace('  Héllo' || chr(9) || 'Wörld ' || upper(text) || '  à LA ÑOÑO ',
                     '[\x00-\x1f\x7f]', ' ', 'g'),
                   '""" + graft.text.TextNormalizer.AccentFrom + """', '"""
        + graft.text.TextNormalizer.AccentTo + """')),
                 '\s+', ' ', 'g')) AS n
               FROM documents)"""),

    // two q_ngram_lm replays — counts from the en-target subset and
    // from the whole corpus — then score = raw bits − target bits
    "q_dsir" -> dsirOracleSql,

    // SAME oracle on purpose: a collision-free hash width (the query
    // uses Int.MaxValue buckets over ~46k corpus bigrams) must
    // reproduce the exact scores bitwise — the end-to-end version of
    // the NgramLmHashedSpec parity property
    "q_dsir_hashed" -> dsirOracleSql,


    "q_chunks" ->
      """WITH w AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\s+') END AS words
           FROM documents
         ),
         c AS (
           SELECT doc_id,
                  [{'i': s // 16,
                    't': array_to_string(words[s+1:s+32], ' '),
                    'm': len(words[s+1:s+32])}
                   FOR s IN range(0, len(words), 16)] AS chunks
           FROM w
         )
         SELECT doc_id,
                CAST(u.i AS BIGINT) AS chunk_index,
                u.t AS chunk_text,
                CAST(u.m AS BIGINT) AS chunk_tokens
         FROM (SELECT doc_id, unnest(chunks) AS u FROM c)""",

    "q_seq_pack" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, source,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END AS n
           FROM documents
         ),
         o AS (
           SELECT doc_id, source, n,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM w
         ),
         r AS (
           SELECT doc_id, source, n, rn,
                  CAST(0 AS BIGINT) AS bin, CAST(n AS BIGINT) AS running
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.doc_id, o.source, o.n, o.rn,
                  CASE WHEN r.running > 0 AND r.running + o.n > 512
                       THEN r.bin + 1 ELSE r.bin END,
                  CASE WHEN r.running > 0 AND r.running + o.n > 512
                       THEN CAST(o.n AS BIGINT) ELSE r.running + o.n END
           FROM r JOIN o ON o.source = r.source AND o.rn = r.rn + 1
         )
         SELECT doc_id, source, CAST(n AS BIGINT) AS n_tokens, bin AS bin_index
         FROM r""",

    "q_pack_text" ->
      """WITH RECURSIVE w AS (
           SELECT doc_id, source, text,
                  CASE WHEN trim(text) = '' THEN 0
                       ELSE len(string_split_regex(trim(text), '\s+')) END AS n
           FROM documents
         ),
         o AS (
           SELECT doc_id, source, text, n,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM w
         ),
         r AS (
           SELECT doc_id, source, text, n, rn,
                  CAST(0 AS BIGINT) AS bin, CAST(n AS BIGINT) AS running
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.doc_id, o.source, o.text, o.n, o.rn,
                  CASE WHEN r.running > 0 AND r.running + o.n > 512
                       THEN r.bin + 1 ELSE r.bin END,
                  CASE WHEN r.running > 0 AND r.running + o.n > 512
                       THEN CAST(o.n AS BIGINT) ELSE r.running + o.n END
           FROM r JOIN o ON o.source = r.source AND o.rn = r.rn + 1
         )
         SELECT source, bin AS bin_index,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(SUM(n) AS BIGINT) AS bin_tokens,
                array_to_string(list(text ORDER BY doc_id), ' <eos> ') AS packed_text
         FROM r GROUP BY source, bin""",

    "q_curate" ->
      s"""WITH RECURSIVE fp AS (
           SELECT doc_id, source, text,
                  md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           FROM documents
         ),
         d AS (
           SELECT doc_id, source, text
           FROM (SELECT fp.*, MIN(doc_id) OVER (PARTITION BY fp) AS canon FROM fp)
           WHERE doc_id = canon
         ),
         st AS (
           SELECT doc_id, source, text,
                  length(text) AS n_chars,
                  len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
                  CAST(len(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) AS non_space,
                  CAST(len(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
                  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                       t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                  'that','for','on','with','as','was','at','by','be','this')))
                       AS DOUBLE) AS stop_hits
           FROM d
         ),
         q AS (
           SELECT doc_id, source, text, n_tokens,
                  (CASE WHEN n_tokens BETWEEN 5 AND 2000 THEN 1.0 ELSE 0.0 END
                   + CASE WHEN non_space / n_tokens >= 2.0 AND non_space / n_tokens <= 12.0
                          THEN 1.0 ELSE 0.0 END
                   + (1.0 - LEAST(punct / n_chars * 4.0, 1.0))
                   + LEAST(stop_hits / n_tokens * 5.0, 1.0)) / 4.0 AS quality
           FROM st
         ),
         kept AS (
           SELECT doc_id, source, n_tokens, quality FROM q
           WHERE quality >= 0.5
             AND md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), '7'))
                 < '${graft.feature.StratifiedSampler.fractionThreshold(0.7)}'
         ),
         o AS (
           SELECT doc_id, source, n_tokens, quality,
                  row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
           FROM kept
         ),
         r AS (
           SELECT doc_id, source, n_tokens, quality, rn,
                  CAST(0 AS BIGINT) AS bin, CAST(n_tokens AS BIGINT) AS running
           FROM o WHERE rn = 1
           UNION ALL
           SELECT o.doc_id, o.source, o.n_tokens, o.quality, o.rn,
                  CASE WHEN r.running > 0 AND r.running + o.n_tokens > 512
                       THEN r.bin + 1 ELSE r.bin END,
                  CASE WHEN r.running > 0 AND r.running + o.n_tokens > 512
                       THEN CAST(o.n_tokens AS BIGINT) ELSE r.running + o.n_tokens END
           FROM r JOIN o ON o.source = r.source AND o.rn = r.rn + 1
         )
         SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
                bin AS bin_index, ROUND(quality, 6) AS quality_score
         FROM r""",

    "q_shuffle" ->
      s"""WITH k AS (
           SELECT doc_id,
                  md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), '123')) AS key
           FROM documents
         ),
         s AS (
           SELECT doc_id, key,
                  (CASE WHEN key >= '${graft.feature.StratifiedSampler.fractionThreshold(0.25)}' THEN 1 ELSE 0 END
                 + CASE WHEN key >= '${graft.feature.StratifiedSampler.fractionThreshold(0.5)}' THEN 1 ELSE 0 END
                 + CASE WHEN key >= '${graft.feature.StratifiedSampler.fractionThreshold(0.75)}' THEN 1 ELSE 0 END)
                    AS shard
           FROM k
         )
         SELECT doc_id, CAST(shard AS BIGINT) AS shard,
                CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY key, doc_id) - 1 AS BIGINT)
                  AS shard_pos
         FROM s""",

    "q_ccnet" ->
      s"""WITH w AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\\s+') END AS words
           FROM documents
         ),
         v AS (
           SELECT CAST(COUNT(DISTINCT t) AS DOUBLE) AS vs
           FROM (SELECT unnest(words) AS t FROM w)
         ),
         flat AS (
           SELECT doc_id, u.p AS p, u.w1 AS w1, u.w2 AS w2
           FROM (SELECT doc_id,
                        unnest([{'p': i, 'w1': words[i], 'w2': words[i+1]}
                                FOR i IN range(1, len(words))]) AS u
                 FROM w)
         ),
         counts AS (
           SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c FROM flat GROUP BY w1, w2
         ),
         ctx AS (SELECT w1, SUM(c) AS ctx FROM counts GROUP BY w1),
         scored AS (
           SELECT f.doc_id, f.p,
                  log2((COALESCE(c.c, 0) + 0.1) / (COALESCE(x.ctx, 0) + 0.1 * v.vs)) AS lp
           FROM flat f
           LEFT JOIN counts c ON c.w1 = f.w1 AND c.w2 = f.w2
           LEFT JOIN ctx x ON x.w1 = f.w1
           CROSS JOIN v
         ),
         perdoc AS (
           SELECT doc_id, COUNT(*) AS m, SUM(lp ORDER BY p) AS s
           FROM scored GROUP BY doc_id
         ),
         ranked AS (
           SELECT doc_id, pow(2.0, -s / m) AS ppl FROM perdoc
         ),
         bucketed AS (
           SELECT doc_id, ppl,
                  CAST(CASE WHEN ppl < 29.2 THEN 0
                            WHEN ppl < 30.0 THEN 1 ELSE 2 END AS VARCHAR) AS bucket,
                  md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), '99')) AS key
           FROM ranked
         )
         SELECT doc_id, bucket, ROUND(ppl, 2) AS ppl
         FROM bucketed
         WHERE CASE bucket
                 WHEN '0' THEN TRUE
                 WHEN '1' THEN key < '${graft.feature.StratifiedSampler.fractionThreshold(0.5)}'
                 ELSE key < '${graft.feature.StratifiedSampler.fractionThreshold(0.1)}'
               END""",

    "q_bpe" ->
      """WITH w AS (
           SELECT doc_id,
                  CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                       ELSE string_split_regex(trim(text), '\s+') END AS words
           FROM documents
         ),
         wf AS (
           SELECT u AS wd, COUNT(*) AS freq
           FROM (SELECT unnest(words) AS u FROM w) GROUP BY u
         ),
         s0 AS (
           SELECT wd, freq, [wd[i] FOR i IN range(1, len(wd) + 1)] AS s FROM wf
         ),
         m1 AS (
           SELECT a, b FROM (
             SELECT u.a AS a, u.b AS b, SUM(freq) AS cnt
             FROM (SELECT freq,
                          unnest([{'a': s[i], 'b': s[i+1]} FOR i IN range(1, len(s))]) AS u
                   FROM s0)
             WHERE u.a <> u.b GROUP BY 1, 2)
           ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
         ),
         s1 AS (
           SELECT wd, freq,
                  list_filter(
                    [CASE WHEN s[i] = m1.a AND s[i+1] = m1.b THEN m1.a || m1.b
                          WHEN i > 1 AND s[i-1] = m1.a AND s[i] = m1.b THEN NULL
                          ELSE s[i] END
                     FOR i IN range(1, len(s) + 1)],
                    x -> x IS NOT NULL) AS s
           FROM s0 CROSS JOIN m1
         ),
         m2 AS (
           SELECT a, b FROM (
             SELECT u.a AS a, u.b AS b, SUM(freq) AS cnt
             FROM (SELECT freq,
                          unnest([{'a': s[i], 'b': s[i+1]} FOR i IN range(1, len(s))]) AS u
                   FROM s1)
             WHERE u.a <> u.b GROUP BY 1, 2)
           ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
         ),
         s2 AS (
           SELECT wd, freq,
                  list_filter(
                    [CASE WHEN s[i] = m2.a AND s[i+1] = m2.b THEN m2.a || m2.b
                          WHEN i > 1 AND s[i-1] = m2.a AND s[i] = m2.b THEN NULL
                          ELSE s[i] END
                     FOR i IN range(1, len(s) + 1)],
                    x -> x IS NOT NULL) AS s
           FROM s1 CROSS JOIN m2
         ),
         dw AS (SELECT doc_id, unnest(words) AS wd FROM w)
         SELECT w.doc_id,
                CAST(COALESCE(agg.n, 0) AS BIGINT) AS n_subwords,
                m1.a || '+' || m1.b AS merge1,
                m2.a || '+' || m2.b AS merge2
         FROM w
         LEFT JOIN (SELECT dw.doc_id, SUM(len(s2.s)) AS n
                    FROM dw JOIN s2 ON s2.wd = dw.wd
                    GROUP BY dw.doc_id) agg ON agg.doc_id = w.doc_id
         CROSS JOIN m1 CROSS JOIN m2""",

    "q_line_dedup" ->
      """WITH p AS (
           SELECT doc_id,
                  'doc ' || CAST(doc_id AS VARCHAR) || ' ' || substr(text, 1, 40) || chr(10)
                  || 'subscribe to our newsletter' || chr(10)
                  || 'promo ' || CAST(doc_id % 7 AS VARCHAR) || chr(10)
                  || CASE WHEN doc_id % 5 = 0
                          THEN 'rare line ' || CAST(doc_id AS VARCHAR)
                          ELSE 'footer common' END AS ptext
           FROM documents
         ),
         l AS (
           SELECT doc_id, u.p AS pos, u.l AS line
           FROM (SELECT doc_id,
                        unnest([{'p': i, 'l': ls[i]} FOR i IN range(1, len(ls) + 1)]) AS u
                 FROM (SELECT doc_id, string_split(ptext, chr(10)) AS ls FROM p))
         ),
         b AS (
           SELECT lower(trim(line)) AS norm, COUNT(*) AS c
           FROM l WHERE lower(trim(line)) <> ''
           GROUP BY 1 HAVING COUNT(*) > 1
         ),
         f AS (
           SELECT l.doc_id, l.pos, l.line, b.norm IS NOT NULL AS dropit
           FROM l LEFT JOIN b ON b.norm = lower(trim(l.line))
         )
         SELECT doc_id,
                array_to_string(list(line ORDER BY pos) FILTER (WHERE NOT dropit),
                                chr(10)) AS clean,
                CAST(COUNT(*) AS BIGINT) AS n_lines,
                CAST(SUM(CASE WHEN dropit THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
         FROM f GROUP BY doc_id""",

    "q_frequent_ngrams" ->
      """WITH tk AS (
           SELECT list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') AS t
           FROM documents
         ),
         g AS (
           SELECT array_to_string(t[i:i+2], ' ') AS gram
           FROM (SELECT t, unnest(range(1, len(t) - 1)) AS i FROM tk WHERE len(t) >= 3)
         )
         SELECT gram, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM g GROUP BY gram HAVING COUNT(*) >= 5""",

    "q_span_dedup" ->
      """WITH p AS (
           SELECT doc_id,
                  substr(text, 1, 80)
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' alpha beta gamma delta epsilon zeta eta theta iota kappa'
                          ELSE '' END
                  || CASE WHEN doc_id % 7 = 0
                          THEN ' omega psi chi phi upsilon tau sigma rho pi omicron'
                          ELSE '' END AS ptext
           FROM documents
         ),
         tk AS (
           SELECT doc_id, list_filter(string_split_regex(ptext, '\s+'), x -> x <> '') AS t
           FROM p
         ),
         w AS (
           SELECT doc_id, u.i AS pos, u.h AS h
           FROM (SELECT doc_id,
                        unnest([{'i': i - 1, 'h': md5(array_to_string(t[i:i+7], ' '))}
                                FOR i IN range(1, len(t) - 6)]) AS u
                 FROM tk WHERE len(t) >= 8)
         ),
         d AS (SELECT h FROM w GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2),
         m AS (SELECT w.doc_id, w.pos FROM w JOIN d USING (h)),
         isl AS (
           SELECT doc_id, pos,
                  CASE WHEN pos > coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                       THEN 1 ELSE 0 END AS new_isl
           FROM m
         ),
         isl2 AS (
           SELECT doc_id, pos,
                  SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
           FROM isl
         ),
         sp AS (
           SELECT doc_id, isl, MIN(pos) AS s, MAX(pos + 8) AS e, COUNT(*) AS wn
           FROM isl2 GROUP BY doc_id, isl
         ),
         agg AS (
           SELECT doc_id,
                  SUM(wn) AS dup_windows, COUNT(*) AS dup_spans, SUM(e - s) AS dup_tokens
           FROM sp GROUP BY doc_id
         )
         SELECT d0.doc_id,
                CAST(coalesce(agg.dup_windows, 0) AS BIGINT) AS dup_windows,
                CAST(coalesce(agg.dup_spans, 0) AS BIGINT) AS dup_spans,
                CAST(coalesce(agg.dup_tokens, 0) AS BIGINT) AS dup_tokens
         FROM documents d0 LEFT JOIN agg ON agg.doc_id = d0.doc_id""",

    "q_regression_eval" ->
      """WITH d AS (SELECT CAST(value AS DOUBLE) AS y,
                           CAST(value * 0.9 + 5.0 AS DOUBLE) AS p
                    FROM events WHERE value IS NOT NULL),
         a AS (SELECT COUNT(*) AS n,
                      SUM((y - p) * (y - p)) AS ss_res,
                      SUM(ABS(y - p)) AS sae,
                      SUM(y) AS sy, SUM(y * y) AS syy,
                      SUM(CASE WHEN y <> 0 THEN ABS((y - p) / y) END) AS sape,
                      SUM(CASE WHEN y <> 0 THEN 1 ELSE 0 END) AS n_nonzero
               FROM d)
         SELECT CAST(n AS BIGINT) AS n,
                ROUND(SQRT(ss_res / n), 6) AS rmse,
                ROUND(sae / n, 6) AS mae,
                ROUND(CASE WHEN ss_res = 0 THEN 1.0
                           WHEN syy - sy * sy / n <= 0 THEN 0.0
                           ELSE 1.0 - ss_res / (syy - sy * sy / n) END, 6) AS r2,
                ROUND(CASE WHEN n_nonzero = 0 THEN NULL
                           ELSE sape / n_nonzero END, 6) AS mape
         FROM a""",

    "q_multiclass_eval" ->
      """WITH d AS (SELECT CAST(user_id % 4 AS DOUBLE) AS l,
                           CAST((user_id + event_id) % 4 AS DOUBLE) AS p FROM events),
         conf AS (SELECT l, p, COUNT(*) AS n FROM d GROUP BY 1, 2),
         cls AS (SELECT l AS clazz FROM conf UNION SELECT p FROM conf),
         sup AS (SELECT l AS clazz, SUM(n) AS support FROM conf GROUP BY 1),
         prd AS (SELECT p AS clazz, SUM(n) AS predicted FROM conf GROUP BY 1),
         tp AS (SELECT l AS clazz, n AS tp FROM conf WHERE l = p),
         j AS (SELECT cls.clazz, COALESCE(tp.tp, 0) AS tp,
                      COALESCE(sup.support, 0) AS support,
                      COALESCE(prd.predicted, 0) AS predicted
               FROM cls LEFT JOIN sup USING (clazz)
                        LEFT JOIN prd USING (clazz)
                        LEFT JOIN tp USING (clazz)),
         m AS (SELECT clazz, tp, support, predicted,
                      CASE WHEN predicted = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / predicted END AS prec,
                      CASE WHEN support = 0 THEN 0.0 ELSE CAST(tp AS DOUBLE) / support END AS rec
               FROM j)
         SELECT clazz, CAST(tp AS BIGINT) AS tp, CAST(support AS BIGINT) AS support,
                CAST(predicted AS BIGINT) AS predicted,
                ROUND(prec, 6) AS "precision", ROUND(rec, 6) AS recall,
                ROUND(CASE WHEN prec + rec = 0 THEN 0.0
                           ELSE 2 * prec * rec / (prec + rec) END, 6) AS f1
         FROM m""",

    "q_epoch_mix" -> {
      val t5 = graft.feature.StratifiedSampler.fractionThreshold(0.5)
      val t25 = graft.feature.StratifiedSampler.fractionThreshold(0.25)
      s"""WITH k AS (
           SELECT doc_id, source,
                  md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), '42')) AS key
           FROM documents
         ),
         n AS (
           SELECT doc_id, source,
                  CASE source
                    WHEN 'src0' THEN 2 + CASE WHEN key < '$t5' THEN 1 ELSE 0 END
                    WHEN 'src1' THEN 1
                    WHEN 'src2' THEN 0
                    ELSE CASE WHEN key < '$t25' THEN 1 ELSE 0 END
                  END AS copies
           FROM k
         )
         SELECT doc_id, source, CAST(UNNEST(generate_series(0, copies - 1)) AS BIGINT) AS epoch
         FROM n WHERE copies > 0"""
    },

    "q_interval_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS tsm, value FROM events),
         c AS (SELECT event_id, user_id, tsm FROM e WHERE event_type = 'click'),
         w AS (SELECT user_id, tsm AS w_start, tsm + 3600000 AS w_end,
                      ROUND(value, 6) AS purchase_value
               FROM e WHERE event_type = 'purchase')
         SELECT c.event_id, w.w_start, w.purchase_value
         FROM c JOIN w ON c.user_id = w.user_id
                      AND c.tsm BETWEEN w.w_start AND w.w_end""",

    // plain overlap predicate — the grid join must match it exactly
    "q_range_join" ->
      """WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS tsm, value FROM events),
         c AS (SELECT event_id, user_id, tsm AS s_start, tsm + 1800000 AS s_end
               FROM e WHERE event_type = 'click'),
         w AS (SELECT user_id, tsm AS w_start, tsm + 3600000 AS w_end,
                      ROUND(value, 6) AS purchase_value
               FROM e WHERE event_type = 'purchase')
         SELECT c.event_id, w.w_start, w.purchase_value
         FROM c JOIN w ON c.user_id = w.user_id
                      AND c.s_start <= w.w_end AND w.w_start <= c.s_end""",

    "q_corpus_report" ->
      """WITH s AS (
           SELECT doc_id, source,
                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
                  length(text) AS n_chars,
                  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                  CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) AS non_space,
                  CAST(len(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) AS punct,
                  CAST(len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                       t -> t IN ('the','a','an','and','or','of','to','in','is','it',
                                  'that','for','on','with','as','was','at','by','be','this')))
                       AS DOUBLE) AS stop_hits
           FROM documents
         ),
         r AS (
           SELECT source, fp, n_tokens,
                  CASE WHEN n_tokens = 0 THEN 0.0 ELSE non_space / n_tokens END AS mean_token_len,
                  CASE WHEN n_chars = 0 THEN 0.0 ELSE punct / n_chars END AS punct_ratio,
                  CASE WHEN n_tokens = 0 THEN 0.0 ELSE stop_hits / n_tokens END AS stopword_ratio
           FROM s
         ),
         q AS (
           SELECT source, fp, n_tokens, stopword_ratio,
                  ((CASE WHEN n_tokens BETWEEN 5 AND 2000 THEN 1.0 ELSE 0.0 END)
                   + (CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0 THEN 1.0 ELSE 0.0 END)
                   + (1.0 - LEAST(punct_ratio * 4.0, 1.0))
                   + LEAST(stopword_ratio * 5.0, 1.0)) / 4.0 AS quality
           FROM r
         )
         SELECT source,
                CAST(COUNT(*) AS BIGINT) AS n_docs,
                CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_distinct_docs,
                CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                ROUND(AVG(quality), 6) AS mean_quality,
                ROUND(AVG(stopword_ratio), 6) AS mean_stopword_ratio
         FROM q GROUP BY 1""",

    "q_pca" ->
      """WITH u AS (SELECT vec_id,
                           CAST(unnest(embedding) AS DOUBLE) AS x,
                           unnest(range(len(embedding))) AS i
                    FROM embeddings),
         m AS (SELECT i, AVG(x) AS mu FROM u GROUP BY 1)
         SELECT u.vec_id, ROUND(SUM((u.x - m.mu) * (u.x - m.mu)), 3) AS sq_norm
         FROM u JOIN m USING (i) GROUP BY 1""",

    "q_drift" ->
      """WITH e AS (SELECT user_id, CAST(value AS DOUBLE) AS value,
                           CAST(epoch_ms(ts) AS DOUBLE) AS tsm FROM events),
         lr AS (SELECT 'value' AS feature, value AS v FROM e WHERE user_id % 2 = 0 AND value IS NOT NULL AND NOT isnan(value)
                UNION ALL
                SELECT 'tsm', tsm FROM e WHERE user_id % 2 = 0 AND tsm IS NOT NULL AND NOT isnan(tsm)),
         lc AS (SELECT 'value' AS feature, value AS v FROM e WHERE user_id % 2 = 1 AND value IS NOT NULL AND NOT isnan(value)
                UNION ALL
                SELECT 'tsm', tsm FROM e WHERE user_id % 2 = 1 AND tsm IS NOT NULL AND NOT isnan(tsm)),
         rg AS (SELECT feature, MIN(v) AS lo, MAX(v) AS hi FROM lr GROUP BY 1),
         br AS (SELECT feature, bin, COUNT(*) AS c FROM (
                  SELECT l.feature,
                         CASE WHEN r.hi = r.lo THEN 0
                              ELSE LEAST(9, GREATEST(0, CAST(FLOOR((l.v - r.lo) / ((r.hi - r.lo) / 10)) AS INT))) END AS bin
                  FROM lr l JOIN rg r USING (feature)) GROUP BY 1, 2),
         bc AS (SELECT feature, bin, COUNT(*) AS c FROM (
                  SELECT l.feature,
                         CASE WHEN r.hi = r.lo THEN 0
                              ELSE LEAST(9, GREATEST(0, CAST(FLOOR((l.v - r.lo) / ((r.hi - r.lo) / 10)) AS INT))) END AS bin
                  FROM lc l JOIN rg r USING (feature)) GROUP BY 1, 2),
         cells AS (SELECT feature, gs.g AS bin FROM rg, (SELECT UNNEST(generate_series(0, 9)) AS g) gs),
         j AS (SELECT cells.feature, cells.bin,
                      COALESCE(br.c, 0) AS c_ref, COALESCE(bc.c, 0) AS c_cur
               FROM cells LEFT JOIN br USING (feature, bin) LEFT JOIN bc USING (feature, bin)),
         t AS (SELECT feature, SUM(c_ref) AS n_ref, SUM(c_cur) AS n_cur FROM j GROUP BY 1),
         p AS (SELECT j.feature, j.bin, j.c_ref, j.c_cur, t.n_ref, t.n_cur,
                      (j.c_ref + 0.5) / (t.n_ref + 5.0) AS p_ref,
                      (j.c_cur + 0.5) / (t.n_cur + 5.0) AS p_cur,
                      SUM(j.c_ref) OVER (PARTITION BY j.feature ORDER BY j.bin) / CAST(t.n_ref AS DOUBLE) AS cdf_ref,
                      SUM(j.c_cur) OVER (PARTITION BY j.feature ORDER BY j.bin) / CAST(t.n_cur AS DOUBLE) AS cdf_cur
               FROM j JOIN t USING (feature))
         SELECT feature,
                ROUND(SUM((p_cur - p_ref) * ln(p_cur / p_ref)), 6) AS psi,
                ROUND(MAX(ABS(cdf_ref - cdf_cur)), 6) AS ks,
                CAST(ANY_VALUE(n_ref) AS BIGINT) AS n_ref,
                CAST(ANY_VALUE(n_cur) AS BIGINT) AS n_cur
         FROM p GROUP BY 1""",

    "q_stream_dedup" ->
      """WITH f AS (
           SELECT doc_id,
                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_fingerprint
           FROM documents
         )
         SELECT doc_id, content_fingerprint,
                MIN(doc_id) OVER (PARTITION BY content_fingerprint) AS canonical_id,
                doc_id <> MIN(doc_id) OVER (PARTITION BY content_fingerprint) AS is_duplicate,
                CAST(ROW_NUMBER() OVER (PARTITION BY content_fingerprint ORDER BY doc_id) AS BIGINT) AS occurrence
         FROM f""",

    "q_session_agg" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS tsm FROM events),
         l AS (SELECT user_id, tsm,
                      CASE WHEN LAG(tsm) OVER w IS NULL
                                OR tsm - LAG(tsm) OVER w > 3600000 THEN 1 ELSE 0 END AS nw
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsm)),
         s AS (SELECT user_id, tsm,
                      SUM(nw) OVER (PARTITION BY user_id ORDER BY tsm ROWS UNBOUNDED PRECEDING) AS sess
               FROM l)
         SELECT user_id,
                MIN(tsm) AS session_start,
                MAX(tsm) + 3600000 AS session_end,
                COUNT(*) AS n_events
         FROM s GROUP BY user_id, sess""",

    "q_exact_dedup" ->
      """WITH f AS (
           SELECT doc_id,
                  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_fingerprint
           FROM documents
         )
         SELECT doc_id, content_fingerprint,
                MIN(doc_id) OVER (PARTITION BY content_fingerprint) AS canonical_id,
                doc_id <> MIN(doc_id) OVER (PARTITION BY content_fingerprint) AS is_exact_duplicate
         FROM f""",

    "q_ngram_jaccard" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1) AS ws
           FROM documents
         ),
         sh AS (
           SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 FOR i IN range(1, len(ws) - 1)]) AS sg
           FROM toks WHERE len(ws) >= 3
         ),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.sg, b.sg))) AS sim
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         )
         SELECT id_a, id_b, ROUND(sim, 6) AS similarity
         FROM pairs WHERE sim >= 0.5""",

    "q_simhash" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1) AS ws
           FROM documents
         ),
         sh AS (
           SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 FOR i IN range(1, len(ws) - 1)]) AS sg
           FROM toks WHERE len(ws) >= 3
         )
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE 1.0 - CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.sg, b.sg))) <= 0.5""",

    "q_ann_lsh" -> annLshOracleSql,

    "q_ann_cosine" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         tr AS (SELECT * FROM emb WHERE vec_id % 10 <> 0),
         te AS (SELECT * FROM emb WHERE vec_id % 10 = 0),
         pairs AS (
           SELECT te.vec_id AS q, tr.vec_id AS n,
                  list_dot_product(te.e, tr.e)
                    / (sqrt(list_dot_product(te.e, te.e)) * sqrt(list_dot_product(tr.e, tr.e)))
                    AS sim
           FROM te CROSS JOIN tr
         )
         SELECT q AS query_id, n AS neighbor_id, ROUND(sim, 6) AS similarity FROM (
           SELECT *, ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, n ASC) AS rk
           FROM pairs)
         WHERE rk <= 5""",

    "q_multimodal" ->
      """SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_bytes,
                md5(text) AS digest,
                CAST(ceil(ceil(length(text) / 64.0) / 2.0) AS BIGINT) AS n_frames,
                CAST(8 + doc_id % 16 AS INT) AS png_width,
                CAST(4 + doc_id % 8 AS INT) AS png_height,
                'png' AS png_format
         FROM documents""",

    // closed-form replay of the synthetic WAV/MP4 header parameters
    // (the Spark side builds REAL container bytes from the same
    // formulas and parses them back)
    "q_multimodal_av" ->
      """SELECT doc_id,
                CAST(1 + doc_id % 2 AS INT) AS channels,
                CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
                CAST(4000 + (doc_id % 100) * 40 AS BIGINT) AS n_samples,
                ROUND((4000 + (doc_id % 100) * 40) * 1.0
                      / (8000 * (1 + doc_id % 3)), 6) AS audio_sec,
                (['isom', 'mp42', 'avc1'])[CAST(doc_id % 3 AS INT) + 1] AS brand,
                CAST(600 AS BIGINT) AS timescale,
                CAST(600 + (doc_id % 240) * 30 AS BIGINT) AS duration,
                ROUND((600 + (doc_id % 240) * 30) / 600.0, 6) AS video_sec,
                CAST(1 + doc_id % 3 AS INT) AS n_tracks
         FROM documents""",

    // closed-form replay of the planted image-variant structure:
    // groups of 4 consecutive doc_ids share a base image; variants 1/2
    // (recolor, lossless re-encode) hash identically to the base,
    // variant 3 (one-cell flip) sits at exactly Hamming 1 — so the
    // cluster is the group's min id, and distinct groups are ~32 bits
    // apart (never within the maxHamming=3 cut)
    "q_image_dedup" ->
      """SELECT doc_id,
                (doc_id // 4) * 4 AS cluster_id,
                doc_id % 4 <> 0 AS is_duplicate,
                CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS INT) AS rep_hamming
         FROM documents""",

    // closed-form replay of the planted Hamming-CHAIN structure:
    // variants 0/1/2 sit at flipMask popcount 0/3/6 from the base
    // (consecutive links exactly at maxHamming = 3, endpoints 6 > 3
    // apart), variant 3 is a recolor of variant 2 (distance 0 from it,
    // 6 from the base) — only transitive closure collapses the group
    // to one cluster rooted at the base id
    "q_image_dedup_chain" ->
      """SELECT doc_id,
                (doc_id // 4) * 4 AS cluster_id,
                doc_id % 4 <> 0 AS is_duplicate,
                CAST(CASE WHEN doc_id % 4 = 0 THEN 0
                          WHEN doc_id % 4 = 1 THEN 3
                          ELSE 6 END AS INT) AS rep_hamming
         FROM documents""",

    // closed-form replay of the planted audio-variant structure
    // (gain/stretch variants hash identically to the base, the
    // one-window flip sits at exactly Hamming 1 — mirror of
    // q_image_dedup's construction)
    "q_audio_dedup" ->
      """SELECT doc_id,
                (doc_id // 4) * 4 AS cluster_id,
                doc_id % 4 <> 0 AS is_duplicate,
                CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS INT) AS rep_hamming
         FROM documents""",

    // closed-form replay of the planted video CHAIN (same construction
    // as q_image_dedup_chain, per-slot): the closure collapses each
    // 4-variant chain to the group min
    "q_video_dedup_chain" ->
      """SELECT doc_id,
                (doc_id // 4) * 4 AS cluster_id,
                doc_id % 4 <> 0 AS is_duplicate
         FROM documents""",

    // closed-form replay of the planted shot sets: base {0,1,2,3},
    // trimmed+reordered {1,2,3}, re-graded half-overlap {2,3,8,9},
    // stranger {4,5,6,7} (pairs with nobody). Both pair members must
    // exist (the self-join on the group), so a trailing partial group
    // replays correctly
    "q_video_shot_dedup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.m AS ma, b.m AS mb
               FROM d a JOIN d b ON a.g = b.g AND a.doc_id < b.doc_id
               WHERE a.m <= 2 AND b.m <= 2)
         SELECT id_a, id_b,
                CAST(CASE WHEN ma = 0 AND mb = 1 THEN 3 ELSE 2 END AS BIGINT) AS shared,
                CAST(CASE WHEN ma = 1 THEN 3 ELSE 4 END AS BIGINT) AS n_a,
                CAST(CASE WHEN mb = 1 THEN 3 ELSE 4 END AS BIGINT) AS n_b,
                ROUND(CASE WHEN ma = 0 AND mb = 1 THEN 1.0
                           WHEN ma = 0 AND mb = 2 THEN 0.5
                           ELSE 2.0 / 3.0 END, 3) AS overlap
         FROM p""",

    // closed-form replay of the planted cross-modal structure: image
    // links 4g-(4g+1), text links (4g+1)-(4g+2), so the component is
    // {4g, 4g+1, 4g+2} with canonical 4g; 4g+3 is a singleton. The
    // CASE chain stays correct for a trailing partial group (absent
    // siblings contribute no edge)
    "q_crossmodal_dedup" ->
      """WITH n AS (SELECT COUNT(*) AS cnt FROM documents),
         d AS (SELECT doc_id, doc_id % 4 AS m, doc_id - doc_id % 4 AS base
               FROM documents)
         SELECT d.doc_id,
                CASE WHEN d.m <= 2 THEN d.base ELSE d.doc_id END AS cluster_id,
                d.m IN (1, 2) AS is_duplicate,
                CASE WHEN d.m = 0 AND d.base + 1 < n.cnt THEN 'image'
                     WHEN d.m = 1 AND d.base + 2 < n.cnt THEN 'image,text'
                     WHEN d.m = 1 THEN 'image'
                     WHEN d.m = 2 THEN 'text'
                     ELSE '' END AS via
         FROM d, n""",

    // closed-form replay of the planted incremental structure: ≡1 rows
    // are novel at flag time (matched null), ≡2 rows match the batch-1
    // image one id below (only reachable through addToIndex), ≡3 rows
    // match the originally indexed base three ids below
    "q_incremental_image_dedup" ->
      """SELECT doc_id,
                CASE WHEN doc_id % 4 = 2 THEN doc_id - 1
                     WHEN doc_id % 4 = 3 THEN doc_id - 3 END AS matched_id,
                doc_id % 4 >= 2 AS is_duplicate
         FROM documents WHERE doc_id % 4 <> 0""",

    // closed-form replay of the planted video-variant structure
    // (re-grade/stretch variants hash identically to the base on every
    // slot, the every-frame flip sits at exactly max-slot Hamming 1 —
    // mirror of q_image_dedup's construction)
    "q_video_dedup" ->
      """SELECT doc_id,
                (doc_id // 4) * 4 AS cluster_id,
                doc_id % 4 <> 0 AS is_duplicate,
                CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END AS INT) AS rep_hamming
         FROM documents""",

    "q_quantize" ->
      """WITH e AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
         ),
         d AS (
           SELECT u.dim AS dim, u.v AS v
           FROM (SELECT unnest([{'dim': i, 'v': x[i]}
                                FOR i IN range(1, len(x) + 1)]) AS u
                 FROM e)
         ),
         r AS (SELECT dim, MIN(v) AS lo, MAX(v) AS hi FROM d GROUP BY dim),
         lohi AS (SELECT list(lo ORDER BY dim) AS lows, list(hi ORDER BY dim) AS highs FROM r),
         rows_ AS (
           SELECT vec_id,
                  unnest([{'dim': i - 1,
                           'code': CASE WHEN highs[i] = lows[i] THEN -128
                                   ELSE CAST(GREATEST(LEAST(FLOOR((x[i] - lows[i]) * 255.0
                                          / (highs[i] - lows[i]) + 0.5), 255.0), 0.0) - 128 AS INT) END,
                           'dequant': ROUND(CASE WHEN highs[i] = lows[i] THEN lows[i]
                                      ELSE GREATEST(LEAST(FLOOR((x[i] - lows[i]) * 255.0
                                             / (highs[i] - lows[i]) + 0.5), 255.0), 0.0)
                                           * (highs[i] - lows[i]) / 255.0 + lows[i] END, 6)}
                          FOR i IN range(1, len(x) + 1)]) AS s
           FROM e CROSS JOIN lohi)
         SELECT vec_id, s.dim AS dim, s.code AS code, s.dequant AS dequant FROM rows_""",

    // same oracle as q_swing: the 100-user cap never binds on this
    // data (measured max 49/53 qualifying users per item), so capped
    // output == uncapped output
    "q_swing_capped" -> swingOracleSql,

    // same oracle as q_swing: identical contribution multiset through
    // the arrays pair strategy (see the queries entry)
    "q_swing_arrays" -> swingOracleSql,

    "q_swing" -> swingOracleSql,

    // full-rank orthogonal projection preserves centered norms (the
    // q_pca trick); count windows of 100 cover every row (row count is
    // a multiple of 100), so the latest version's mean is the global
    // mean and its version number is n/100 - 1
    "q_online_pca" ->
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                           unnest(range(len(embedding))) AS i
                    FROM embeddings),
         m AS (SELECT i, AVG(x) AS mu FROM u GROUP BY 1),
         v AS (SELECT COUNT(*) // 100 - 1 AS version FROM embeddings)
         SELECT u.vec_id, v.version,
                ROUND(SUM((u.x - m.mu) * (u.x - m.mu)), 3) AS sq_norm
         FROM u JOIN m USING (i), v GROUP BY 1, 2""",

    // per-version prefix means over 100-id tumbling windows; each row
    // picks the earliest version with windowEnd >= vec_id (delay 0),
    // and full-rank norm preservation holds against THAT version's mean
    "q_online_pca_versioned" ->
      """WITH u AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                           unnest(range(len(embedding))) AS i
                    FROM embeddings),
         p AS (SELECT vec_id // 100 AS win, i, COUNT(*) AS n, SUM(x) AS s
               FROM u GROUP BY 1, 2),
         c AS (SELECT win, (win + 1) * 100 AS windowEndMs, i,
                      SUM(n) OVER (PARTITION BY i ORDER BY win) AS cn,
                      SUM(s) OVER (PARTITION BY i ORDER BY win) AS cs
               FROM p),
         v AS (SELECT DENSE_RANK() OVER (ORDER BY win) - 1 AS version,
                      windowEndMs, i, cs / cn AS mu
               FROM c),
         pick AS (SELECT t.vec_id, MIN(vv.version) AS version
                  FROM (SELECT DISTINCT vec_id FROM embeddings) t
                  JOIN (SELECT DISTINCT version, windowEndMs FROM v) vv
                    ON vv.windowEndMs >= t.vec_id
                  GROUP BY 1)
         SELECT u.vec_id, pick.version,
                ROUND(SUM((u.x - v.mu) * (u.x - v.mu)), 3) AS sq_norm
         FROM u
         JOIN pick USING (vec_id)
         JOIN v ON v.version = pick.version AND v.i = u.i
         GROUP BY 1, 2""",

    "q_online_scaler" ->
      """WITH d AS (SELECT epoch_ms(ts) AS tsm, value FROM events),
         w AS (SELECT tsm // 3600000 AS win, value FROM d),
         p AS (SELECT win, COUNT(*) AS n, SUM(value) AS s, SUM(value * value) AS ss
               FROM w GROUP BY win),
         c AS (SELECT win, (win + 1) * 3600000 AS windowEndMs,
                      SUM(n) OVER (ORDER BY win) AS cn,
                      SUM(s) OVER (ORDER BY win) AS cs,
                      SUM(ss) OVER (ORDER BY win) AS css
               FROM p)
         SELECT ROW_NUMBER() OVER (ORDER BY win) - 1 AS version,
                windowEndMs,
                CAST(cn AS BIGINT) AS count,
                ROUND(cs / cn, 4) AS mean,
                ROUND(CASE WHEN cn > 1
                      THEN sqrt(greatest((css - cn * (cs / cn) * (cs / cn)) / (cn - 1), 0.0))
                      ELSE 0.0 END, 4) AS std
         FROM c""",

    "q_online_scaler_versioned" ->
      """WITH d AS (SELECT epoch_ms(ts) AS tsm, value FROM events),
         w AS (SELECT tsm // 3600000 AS win, value FROM d),
         p AS (SELECT win, COUNT(*) AS n, SUM(value) AS s, SUM(value * value) AS ss
               FROM w GROUP BY win),
         c AS (SELECT win, (win + 1) * 3600000 AS windowEndMs,
                      SUM(n) OVER (ORDER BY win) AS cn,
                      SUM(s) OVER (ORDER BY win) AS cs,
                      SUM(ss) OVER (ORDER BY win) AS css
               FROM p),
         v AS (SELECT ROW_NUMBER() OVER (ORDER BY win) - 1 AS version, windowEndMs,
                      cs / cn AS mean,
                      CASE WHEN cn > 1
                           THEN sqrt(greatest((css - cn * (cs / cn) * (cs / cn)) / (cn - 1), 0.0))
                           ELSE 0.0 END AS std
               FROM c),
         pick AS (SELECT t.tsm, MIN(v.version) AS version
                  FROM (SELECT DISTINCT tsm FROM d) t
                  JOIN v ON v.windowEndMs >= t.tsm - 7200000
                  GROUP BY t.tsm)
         SELECT d.tsm, d.value, pick.version,
                ROUND(CASE WHEN vv.std = 0 THEN 0.0
                      ELSE (d.value - vv.mean) / vv.std END, 4) AS scaled
         FROM d
         JOIN pick ON pick.tsm = d.tsm
         JOIN v vv ON vv.version = pick.version""",

    "q_stream_stats" ->
      """WITH d AS (SELECT epoch_ms(ts) AS tsm, value FROM events),
         g AS (SELECT (tsm // 3600000) * 3600000 AS window_start,
                      COUNT(*) AS n, AVG(value) AS mean, STDDEV_SAMP(value) AS std,
                      MIN(value) AS vmin, MAX(value) AS vmax
               FROM d GROUP BY 1)
         SELECT window_start, n, ROUND(mean, 4) AS mean,
                ROUND(CASE WHEN n = 1 THEN 0.0 ELSE std END, 4) AS std,
                vmin, vmax
         FROM g""",

    "q_online_kmeans" ->
      """WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS x, l_discount AS y,
                           ROW_NUMBER() OVER () - 1 AS idx
                    FROM lineitem),
         b AS (SELECT x, y FROM r WHERE idx < 60000),
         a AS (SELECT x, y,
                      CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
                           WHEN d1 <= d2 THEN 1 ELSE 2 END AS cid
               FROM (SELECT x, y,
                            (x - 10.0) * (x - 10.0) + (y - 0.02) * (y - 0.02) AS d0,
                            (x - 25.0) * (x - 25.0) + (y - 0.05) * (y - 0.05) AS d1,
                            (x - 40.0) * (x - 40.0) + (y - 0.08) * (y - 0.08) AS d2
                     FROM b)),
         g AS (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS c, SUM(x) AS sx, SUM(y) AS sy
               FROM a GROUP BY cid),
         init AS (SELECT * FROM (VALUES (0, 10.0, 0.02), (1, 25.0, 0.05), (2, 40.0, 0.08))
                  t(cid, cx, cy)),
         m AS (SELECT init.cid,
                      CASE WHEN g.c IS NULL THEN init.cx
                           ELSE (1.0 - g.c / (0.5 + g.c)) * init.cx
                                + (g.c / (0.5 + g.c)) / g.c * g.sx END AS cx,
                      CASE WHEN g.c IS NULL THEN init.cy
                           ELSE (1.0 - g.c / (0.5 + g.c)) * init.cy
                                + (g.c / (0.5 + g.c)) / g.c * g.sy END AS cy,
                      CASE WHEN g.c IS NULL THEN 0.5 ELSE 0.5 + g.c END AS weight
               FROM init LEFT JOIN g ON init.cid = g.cid)
         SELECT cid AS centroidId, ROUND(cx, 6) AS cx, ROUND(cy, 6) AS cy,
                ROUND(weight, 6) AS weight
         FROM m""",

    // two decay updates (init c = (20, 200), weight 1, decay 0.5) over
    // the two 5000-row halves of time-ordered events, then per-row
    // version pick: earliest model time >= tsm - 2 days; prediction =
    // nearest centroid of the picked version (tie -> lower id)
    "q_online_kmeans_versioned" ->
      """WITH d AS (SELECT event_id, epoch_ms(ts) AS tsm, value AS x,
                           ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS idx
                    FROM events),
         b1 AS (SELECT * FROM d WHERE idx < 5000),
         b2 AS (SELECT * FROM d WHERE idx >= 5000 AND idx < 10000),
         a1 AS (SELECT x, CASE WHEN (x - 20.0) * (x - 20.0) <= (x - 200.0) * (x - 200.0)
                               THEN 0 ELSE 1 END AS cid
                FROM b1),
         g1 AS (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS c, SUM(x) AS sx FROM a1 GROUP BY cid),
         init AS (SELECT * FROM (VALUES (0, 20.0), (1, 200.0)) t(cid, cx)),
         m1 AS (SELECT init.cid,
                       CASE WHEN g1.c IS NULL THEN init.cx
                            ELSE (1.0 - g1.c / (0.5 + g1.c)) * init.cx
                                 + (g1.c / (0.5 + g1.c)) / g1.c * g1.sx END AS cx,
                       CASE WHEN g1.c IS NULL THEN 0.5 ELSE 0.5 + g1.c END AS w
                FROM init LEFT JOIN g1 ON init.cid = g1.cid),
         a2 AS (SELECT b.x,
                       CASE WHEN (b.x - c0.cx) * (b.x - c0.cx) <= (b.x - c1.cx) * (b.x - c1.cx)
                            THEN 0 ELSE 1 END AS cid
                FROM b2 b
                CROSS JOIN (SELECT cx FROM m1 WHERE cid = 0) c0
                CROSS JOIN (SELECT cx FROM m1 WHERE cid = 1) c1),
         g2 AS (SELECT cid, CAST(COUNT(*) AS DOUBLE) AS c, SUM(x) AS sx FROM a2 GROUP BY cid),
         m2 AS (SELECT m1.cid,
                       CASE WHEN g2.c IS NULL THEN m1.cx
                            ELSE (1.0 - g2.c / (0.5 * m1.w + g2.c)) * m1.cx
                                 + (g2.c / (0.5 * m1.w + g2.c)) / g2.c * g2.sx END AS cx
                FROM m1 LEFT JOIN g2 ON m1.cid = g2.cid),
         cs AS (SELECT (SELECT cx FROM m1 WHERE cid = 0) AS m1c0,
                       (SELECT cx FROM m1 WHERE cid = 1) AS m1c1,
                       (SELECT cx FROM m2 WHERE cid = 0) AS m2c0,
                       (SELECT cx FROM m2 WHERE cid = 1) AS m2c1,
                       (SELECT MAX(tsm) FROM b1) AS t1,
                       (SELECT MAX(tsm) FROM b2) AS t2)
         SELECT d.event_id,
                CAST(CASE WHEN cs.t1 >= d.tsm - 172800000 THEN 1
                          WHEN cs.t2 >= d.tsm - 172800000 THEN 2
                          ELSE -1 END AS BIGINT) AS version,
                CASE WHEN cs.t1 >= d.tsm - 172800000 THEN
                       CASE WHEN (d.x - cs.m1c0) * (d.x - cs.m1c0)
                                 <= (d.x - cs.m1c1) * (d.x - cs.m1c1) THEN 0 ELSE 1 END
                     WHEN cs.t2 >= d.tsm - 172800000 THEN
                       CASE WHEN (d.x - cs.m2c0) * (d.x - cs.m2c0)
                                 <= (d.x - cs.m2c1) * (d.x - cs.m2c1) THEN 0 ELSE 1 END
                     ELSE NULL END AS prediction
         FROM d CROSS JOIN cs""",

    "q_online_logreg" ->
      """WITH r AS (SELECT CAST(l_quantity AS DOUBLE) AS x0, l_discount AS x1,
                           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y,
                           ROW_NUMBER() OVER () - 1 AS idx
                    FROM lineitem),
         b AS (SELECT * FROM r WHERE idx < 60000),
         g AS (SELECT 0 AS dim, SUM((0.5 - y) * x0) / COUNT(*) AS gv FROM b
               UNION ALL SELECT 1, SUM((0.5 - y) * x1) / COUNT(*) FROM b)
         SELECT dim,
                ROUND(CASE WHEN gv = 0 THEN 0.0
                      ELSE -gv / ((1.0 + sqrt(gv * gv)) / 0.1) END, 6) AS coef
         FROM g""",

    // two FTRL steps (zero init; alpha 0.1, beta 1.0, l1 = l2 = 0) over
    // the two 5000-row halves of time-ordered events, then per-row
    // version pick: earliest model time >= tsm - 2 days
    "q_online_logreg_versioned" ->
      """WITH d AS (SELECT event_id, epoch_ms(ts) AS tsm, value / 100.0 AS x,
                           CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS y,
                           ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS idx
                    FROM events),
         b1 AS (SELECT * FROM d WHERE idx < 5000),
         b2 AS (SELECT * FROM d WHERE idx >= 5000 AND idx < 10000),
         s1 AS (SELECT SUM((0.5 - y) * x) / COUNT(*) AS g1, MAX(tsm) AS t1 FROM b1),
         w1t AS (SELECT g1, t1,
                        CASE WHEN g1 = 0 THEN 0.0
                             ELSE -g1 / ((1.0 + sqrt(g1 * g1)) / 0.1) END AS w1
                 FROM s1),
         s2 AS (SELECT SUM((1.0 / (1.0 + exp(-(w.w1 * b.x))) - b.y) * b.x) / COUNT(*) AS g2,
                       MAX(b.tsm) AS t2
                FROM b2 b CROSS JOIN w1t w),
         w2t AS (SELECT w.t1, s.t2, w.w1,
                        w.g1 + s.g2
                          - ((sqrt(w.g1 * w.g1 + s.g2 * s.g2) - sqrt(w.g1 * w.g1)) / 0.1) * w.w1
                          AS z2,
                        w.g1 * w.g1 + s.g2 * s.g2 AS n2
                 FROM w1t w CROSS JOIN s2 s),
         w2f AS (SELECT t1, t2, w1,
                        CASE WHEN z2 = 0 THEN 0.0
                             ELSE -z2 / ((1.0 + sqrt(n2)) / 0.1) END AS w2
                 FROM w2t),
         pick AS (SELECT d.event_id, d.x,
                         CASE WHEN f.t1 >= d.tsm - 172800000 THEN 1
                              WHEN f.t2 >= d.tsm - 172800000 THEN 2
                              ELSE -1 END AS version,
                         CASE WHEN f.t1 >= d.tsm - 172800000 THEN f.w1
                              WHEN f.t2 >= d.tsm - 172800000 THEN f.w2 END AS w
                  FROM d CROSS JOIN w2f f)
         SELECT event_id, CAST(version AS BIGINT) AS version,
                ROUND(1.0 / (1.0 + exp(-(w * x))), 6) AS p,
                CASE WHEN w IS NULL THEN NULL
                     WHEN 1.0 / (1.0 + exp(-(w * x))) >= 0.5 THEN 1.0 ELSE 0.0 END AS prediction
         FROM pick""",

    "q_agglomerative" ->
      """WITH o AS (
           SELECT s_suppkey, s_acctbal,
                  LAG(s_acctbal) OVER (ORDER BY s_acctbal, s_suppkey) AS prev
           FROM supplier
         ),
         g AS (
           SELECT s_suppkey,
                  SUM(CASE WHEN prev IS NULL OR s_acctbal - prev > 400.0 THEN 1 ELSE 0 END)
                    OVER (ORDER BY s_acctbal, s_suppkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM o
         ),
         r AS (
           SELECT grp, ROW_NUMBER() OVER (ORDER BY MIN(s_suppkey)) - 1 AS cid
           FROM g GROUP BY grp
         )
         SELECT g.s_suppkey, CAST(r.cid AS INT) AS prediction
         FROM g JOIN r ON g.grp = r.grp""",

    "q_agglomerative_windowed" ->
      """WITH o AS (
           SELECT s_suppkey, s_acctbal,
                  CAST(FLOOR(s_nationkey / 5) AS BIGINT) AS win
           FROM supplier
         ),
         l AS (
           SELECT s_suppkey, win, s_acctbal,
                  LAG(s_acctbal) OVER (PARTITION BY win ORDER BY s_acctbal, s_suppkey) AS prev
           FROM o
         ),
         g AS (
           SELECT s_suppkey, win,
                  SUM(CASE WHEN prev IS NULL OR s_acctbal - prev > 400.0 THEN 1 ELSE 0 END)
                    OVER (PARTITION BY win ORDER BY s_acctbal, s_suppkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM l
         ),
         r AS (
           SELECT win, grp, ROW_NUMBER() OVER (PARTITION BY win ORDER BY MIN(s_suppkey)) - 1 AS cid
           FROM g GROUP BY win, grp
         )
         SELECT g.s_suppkey, CAST(r.cid AS INT) AS prediction
         FROM g JOIN r ON g.win = r.win AND g.grp = r.grp""",

    "q_univariate_selector" ->
      """WITH d AS (
           SELECT 0 AS fidx, CAST(l_quantity AS DOUBLE) AS x, l_extendedprice AS y FROM lineitem
           UNION ALL SELECT 1, l_discount, l_extendedprice FROM lineitem
           UNION ALL SELECT 2, l_tax, l_extendedprice FROM lineitem
           UNION ALL SELECT 3, CAST(l_linenumber AS DOUBLE), l_extendedprice FROM lineitem
         ),
         g AS (SELECT fidx, CAST(COUNT(*) AS DOUBLE) AS n,
                      AVG(x) AS xm, STDDEV_SAMP(x) AS xs,
                      AVG(y) AS ym, STDDEV_SAMP(y) AS ys,
                      SUM(x * y) AS sxy
               FROM d GROUP BY fidx),
         f AS (SELECT fidx,
                      POWER(((sxy - n * xm * ym) / (n - 1)) / (ys * xs), 2)
                      / (1 - POWER(((sxy - n * xm * ym) / (n - 1)) / (ys * xs), 2))
                      * (n - 2) AS fv
               FROM g)
         SELECT CAST(fidx AS BIGINT) AS dim FROM (
           SELECT fidx, ROW_NUMBER() OVER (ORDER BY fv DESC, fidx ASC) AS rk FROM f)
         WHERE rk <= 2""",

    "q_minhash_join" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1) AS ws
           FROM documents
         ),
         sh AS (
           SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 FOR i IN range(1, len(ws) - 1)]) AS sg
           FROM toks WHERE len(ws) >= 3
         ),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  1.0 - CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.sg, b.sg))) AS dist
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         )
         SELECT id_a, id_b, ROUND(dist, 6) AS jaccard_dist
         FROM pairs WHERE dist <= 0.5""",

    "q_incremental_dedup" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1) AS ws
           FROM documents
         ),
         sh AS (
           SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 FOR i IN range(1, len(ws) - 1)]) AS sg
           FROM toks WHERE len(ws) >= 3
         ),
         odd AS (SELECT * FROM sh WHERE doc_id % 2 = 1),
         even AS (SELECT * FROM sh WHERE doc_id % 2 = 0),
         m AS (
           SELECT o.doc_id, MIN(e.doc_id) AS matched_id
           FROM odd o JOIN even e
             ON 1.0 - CAST(len(list_intersect(o.sg, e.sg)) AS DOUBLE)
                      / len(list_distinct(list_concat(o.sg, e.sg))) <= 0.5
           GROUP BY o.doc_id
         )
         SELECT o.doc_id, m.matched_id, m.matched_id IS NOT NULL AS is_duplicate
         FROM odd o LEFT JOIN m ON o.doc_id = m.doc_id""",

    "q_normalizer" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(l_quantity * (1.0 / sqrt(l_quantity * l_quantity
                      + l_discount * l_discount + l_tax * l_tax)), 6) AS nx,
                ROUND(l_discount * (1.0 / sqrt(l_quantity * l_quantity
                      + l_discount * l_discount + l_tax * l_tax)), 6) AS ny,
                ROUND(l_tax * (1.0 / sqrt(l_quantity * l_quantity
                      + l_discount * l_discount + l_tax * l_tax)), 6) AS nz
         FROM lineitem""",

    "q_dct" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND((l_quantity * cos(pi() * 0.5 * 0 / 3)
                       + l_discount * cos(pi() * 1.5 * 0 / 3)
                       + l_tax * cos(pi() * 2.5 * 0 / 3)) * sqrt(1.0 / 3), 6) AS d0,
                ROUND((l_quantity * cos(pi() * 0.5 * 1 / 3)
                       + l_discount * cos(pi() * 1.5 * 1 / 3)
                       + l_tax * cos(pi() * 2.5 * 1 / 3)) * sqrt(2.0 / 3), 6) AS d1,
                ROUND((l_quantity * cos(pi() * 0.5 * 2 / 3)
                       + l_discount * cos(pi() * 1.5 * 2 / 3)
                       + l_tax * cos(pi() * 2.5 * 2 / 3)) * sqrt(2.0 / 3), 6) AS d2
         FROM lineitem""",

    "q_elementwise" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(l_quantity * 0.5, 6) AS half_qty,
                ROUND(l_extendedprice * 0.01, 6) AS cent_price
         FROM lineitem""",

    "q_interaction" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(l_quantity * l_tax, 6) AS qt,
                ROUND(l_discount * l_tax, 6) AS dt
         FROM lineitem""",

    "q_vector_slicer" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(l_tax, 6) AS s_tax,
                ROUND(l_quantity, 6) AS s_qty
         FROM lineitem""",

    "q_vector_indexer" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(DENSE_RANK() OVER (ORDER BY l_linenumber) - 1 AS DOUBLE) AS ln_idx,
                CAST(DENSE_RANK() OVER (ORDER BY l_tax) - 1 AS DOUBLE) AS tax_idx
         FROM lineitem""",

    "q_stopwords" ->
      """SELECT doc_id,
                len(list_filter(
                  list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1),
                  t -> t NOT IN ('a', 'the'))) AS n_tokens
         FROM documents""",

    "q_index_to_string" ->
      """SELECT DISTINCT c_mktsegment, c_mktsegment AS seg_back FROM customer""",

    // murmur3_32(seed 0) buckets pinned as literals (the oracle engine
    // has no murmur3); guards against hash/mod regressions
    "q_hashing_tf" ->
      """SELECT * FROM (VALUES
           ('a', 119066), ('agg', 86463), ('batch', 154047), ('big', 164857),
           ('column', 244414), ('customer', 228414), ('data', 258302), ('dup', 159249),
           ('fast', 229187), ('filter', 113002), ('group', 253378), ('hash', 18370),
           ('join', 79088), ('key', 209372), ('line', 7401), ('merge', 236478),
           ('order', 208133), ('part', 246112), ('query', 190797), ('row', 198308),
           ('scan', 45778), ('slow', 82307), ('small', 97087), ('sort', 18941),
           ('spark', 222490), ('stream', 181221), ('table', 172456), ('the', 30901),
           ('value', 250123), ('vector', 136637), ('window', 55655)
         ) t(term, idx)""",

    "q_feature_hasher" ->
      """SELECT * FROM (VALUES
           (0, 128406, 1.0), (0, 231009, 1.0), (1, 55164, 1.0), (1, 231009, 2.0),
           (2, 96511, 1.0), (2, 231009, 3.0), (3, 9046, 1.0), (3, 231009, 4.0),
           (4, 69970, 1.0), (4, 231009, 5.0), (5, 199752, 1.0), (5, 231009, 6.0),
           (6, 87432, 1.0), (6, 231009, 7.0), (7, 24314, 1.0), (7, 231009, 8.0),
           (8, 115530, 1.0), (8, 231009, 9.0), (9, 18198, 1.0), (9, 231009, 10.0),
           (10, 83858, 1.0), (10, 231009, 11.0), (11, 143484, 1.0), (11, 231009, 12.0),
           (12, 213290, 1.0), (12, 231009, 13.0), (13, 32863, 1.0), (13, 231009, 14.0),
           (14, 14515, 1.0), (14, 231009, 15.0), (15, 217583, 1.0), (15, 231009, 16.0),
           (16, 189693, 1.0), (16, 231009, 17.0), (17, 81003, 1.0), (17, 231009, 18.0),
           (18, 184401, 1.0), (18, 231009, 19.0), (19, 117297, 1.0), (19, 231009, 20.0),
           (20, 231009, 21.0), (20, 247721, 1.0), (21, 3763, 1.0), (21, 231009, 22.0),
           (22, 231009, 23.0), (22, 241650, 1.0), (23, 223189, 1.0), (23, 231009, 24.0),
           (24, 152305, 1.0), (24, 231009, 25.0)
         ) t(n_nationkey, idx, val)""",

    "q_random_splitter" ->
      """SELECT COUNT(*) AS total_rows, 2 AS n_splits FROM lineitem""",

    "q_mixer" ->
      s"""WITH k AS (
           SELECT doc_id, source,
                  md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), '77')) AS key
           FROM documents
         )
         SELECT doc_id, source FROM k
         WHERE CASE source
                 WHEN 'src0' THEN TRUE
                 WHEN 'src1' THEN key < '${graft.feature.StratifiedSampler.fractionThreshold(0.5)}'
                 WHEN 'src2' THEN key < '${graft.feature.StratifiedSampler.fractionThreshold(0.25)}'
                 WHEN 'src3' THEN FALSE
                 ELSE key < '${graft.feature.StratifiedSampler.fractionThreshold(0.6)}'
               END""",

    "q_stratified_sample" ->
      s"""WITH k AS (
           SELECT doc_id, lang,
                  md5(concat_ws(chr(1), CAST(doc_id AS VARCHAR), '2022')) AS key
           FROM documents
         ),
         f AS (SELECT * FROM k WHERE key < '${graft.feature.StratifiedSampler.fractionThreshold(0.8)}'),
         r AS (SELECT doc_id, lang,
                      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY key, doc_id) AS rn
               FROM f)
         SELECT doc_id, lang FROM r WHERE rn <= 50""",

    "q_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1) AS ws
           FROM documents
         ),
         sh AS (
           SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                 || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
                                 FOR i IN range(1, len(ws) - 6)]) AS sg
           FROM toks WHERE len(ws) >= 8
         ),
         tr AS (SELECT doc_id, sg FROM sh WHERE doc_id % 10 <> 0),
         ev AS (SELECT DISTINCT unnest(sg) AS g FROM sh WHERE doc_id % 10 = 0),
         tg AS (SELECT doc_id, unnest(sg) AS g FROM tr),
         cnt AS (SELECT tg.doc_id, COUNT(*) AS m
                 FROM tg JOIN ev ON tg.g = ev.g GROUP BY tg.doc_id)
         SELECT tr.doc_id,
                COALESCE(cnt.m, 0) AS matched_ngrams,
                COALESCE(cnt.m, 0) >= 1 AS contaminated
         FROM tr LEFT JOIN cnt ON tr.doc_id = cnt.doc_id""",

    // same oracle as q_decontaminate ON PURPOSE: Bloom membership has
    // no false negatives, and at fpp 1e-6 the expected false-positive
    // overcount on this corpus is < 0.4 grams — equality with the
    // exact join is the meaningful check
    "q_bloom_decontaminate" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1) AS ws
           FROM documents
         ),
         sh AS (
           SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
                                 || ' ' || ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]
                                 FOR i IN range(1, len(ws) - 6)]) AS sg
           FROM toks WHERE len(ws) >= 8
         ),
         tr AS (SELECT doc_id, sg FROM sh WHERE doc_id % 10 <> 0),
         ev AS (SELECT DISTINCT unnest(sg) AS g FROM sh WHERE doc_id % 10 = 0),
         tg AS (SELECT doc_id, unnest(sg) AS g FROM tr),
         cnt AS (SELECT tg.doc_id, COUNT(*) AS m
                 FROM tg JOIN ev ON tg.g = ev.g GROUP BY tg.doc_id)
         SELECT tr.doc_id,
                COALESCE(cnt.m, 0) AS matched_ngrams,
                COALESCE(cnt.m, 0) >= 1 AS contaminated
         FROM tr LEFT JOIN cnt ON tr.doc_id = cnt.doc_id""",

    "q_sessionize" ->
      """WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS tsm FROM events),
         l AS (SELECT event_id, user_id, tsm,
                      CASE WHEN LAG(tsm) OVER w IS NULL
                                OR tsm - LAG(tsm) OVER w > 3600000 THEN 1 ELSE 0 END AS nw
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsm))
         SELECT event_id,
                CAST(SUM(nw) OVER w2 AS BIGINT) AS session,
                MAX(CASE WHEN nw = 1 THEN tsm END) OVER w2 AS session_start
         FROM l WINDOW w2 AS (PARTITION BY user_id ORDER BY tsm ROWS UNBOUNDED PRECEDING)""",

    "q_asof_join" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS tsm, user_id, event_type, value FROM events),
         c AS (SELECT event_id, tsm, user_id FROM e WHERE event_type = 'click'),
         p AS (SELECT user_id, tsm, MAX(value) AS pval FROM e
               WHERE event_type = 'purchase' GROUP BY 1, 2)
         SELECT c.event_id, p.tsm AS matched_ts, ROUND(p.pval, 6) AS last_purchase
         FROM c ASOF LEFT JOIN p
           ON c.user_id = p.user_id AND c.tsm >= p.tsm""",

    "q_grouped_split" -> {
      val ts = new graft.feature.GroupedSplitter().setWeights(0.8, 0.1, 0.1).thresholds
      s"""WITH k AS (
           SELECT event_id,
                  md5(concat_ws(chr(1), CAST(user_id AS VARCHAR), '7')) AS key
           FROM events
         )
         SELECT event_id,
                CASE WHEN key < '${ts(0)}' THEN 0
                     WHEN key < '${ts(1)}' THEN 1
                     ELSE 2 END AS split
         FROM k"""
    },

    "q_auc" ->
      """WITH d AS (
           SELECT l_extendedprice + (l_orderkey * 10 + l_linenumber) * 1e-9 AS score,
                  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
           FROM lineitem
         ),
         t AS (SELECT SUM(y) AS tp, SUM(1 - y) AS tn, COUNT(*) AS n FROM d),
         w AS (
           SELECT y,
                  SUM(y) OVER (ORDER BY score DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
                  SUM(1 - y) OVER (ORDER BY score DESC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
                  ROW_NUMBER() OVER (ORDER BY score DESC) AS rn
           FROM d
         ),
         m AS (
           SELECT cp / t.tp AS tpr, cn / t.tn AS fpr,
                  cp / (cp + cn) AS prec, (cp + cn) / t.n AS rate,
                  LAG(cp / t.tp, 1, 0.0) OVER (ORDER BY rn) AS ptpr,
                  LAG(cn / t.tn, 1, 0.0) OVER (ORDER BY rn) AS pfpr,
                  LAG(cp / (cp + cn), 1, 1.0) OVER (ORDER BY rn) AS pprec,
                  LAG((cp + cn) / t.n, 1, 0.0) OVER (ORDER BY rn) AS prate
           FROM w, t
         )
         SELECT ROUND(SUM((fpr - pfpr) * (tpr + ptpr) / 2), 6) AS areaUnderROC,
                ROUND(SUM((tpr - ptpr) * (prec + pprec) / 2), 6) AS areaUnderPR,
                ROUND(SUM((rate - prate) * (tpr + ptpr) / 2), 6) AS areaUnderLorenz,
                ROUND(MAX(ABS(fpr - tpr)), 6) AS ks
         FROM m""",

    "q_chisq" ->
      """WITH d AS (
           SELECT 0 AS fidx, CAST(l_linenumber AS DOUBLE) AS v,
                  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS lab FROM lineitem
           UNION ALL
           SELECT 1, CAST(l_quantity AS DOUBLE),
                  CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END FROM lineitem
         ),
         tot AS (SELECT fidx, CAST(COUNT(*) AS DOUBLE) AS t FROM d GROUP BY fidx),
         rs AS (SELECT fidx, v, CAST(COUNT(*) AS DOUBLE) AS rv FROM d GROUP BY fidx, v),
         cs AS (SELECT fidx, lab, CAST(COUNT(*) AS DOUBLE) AS cl FROM d GROUP BY fidx, lab),
         obs AS (SELECT fidx, v, lab, CAST(COUNT(*) AS DOUBLE) AS o FROM d GROUP BY fidx, v, lab),
         cells AS (
           SELECT rs.fidx, rs.v, cs.lab, rs.rv * cs.cl / tot.t AS e, COALESCE(obs.o, 0.0) AS o
           FROM rs JOIN cs ON rs.fidx = cs.fidx JOIN tot ON tot.fidx = rs.fidx
           LEFT JOIN obs ON obs.fidx = rs.fidx AND obs.v = rs.v AND obs.lab = cs.lab
         ),
         dims AS (SELECT fidx, COUNT(DISTINCT v) AS nv, COUNT(DISTINCT lab) AS nl
                  FROM d GROUP BY fidx)
         SELECT c.fidx AS featureIndex,
                CAST((dims.nv - 1) * (dims.nl - 1) AS BIGINT) AS degreeOfFreedom,
                ROUND(SUM((c.o - c.e) * (c.o - c.e) / c.e), 4) AS statistic
         FROM cells c JOIN dims ON dims.fidx = c.fidx
         GROUP BY c.fidx, dims.nv, dims.nl""",

    "q_anova" ->
      """WITH d AS (
           SELECT 0 AS fidx, CAST(l_linenumber AS DOUBLE) AS lab, l_extendedprice AS x FROM lineitem
           UNION ALL
           SELECT 1, CAST(l_linenumber AS DOUBLE), l_discount FROM lineitem
         ),
         g AS (SELECT fidx, lab, CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS s, SUM(x * x) AS ss
               FROM d GROUP BY fidx, lab),
         tots AS (SELECT fidx, SUM(n) AS n, SUM(s) AS s, SUM(ss) AS ss,
                         CAST(COUNT(*) AS DOUBLE) AS k
                  FROM g GROUP BY fidx),
         calc AS (
           SELECT g.fidx,
                  SUM(g.n * POWER(g.s / g.n - tots.s / tots.n, 2)) AS ssb,
                  ANY_VALUE(tots.ss) - ANY_VALUE(tots.n) * POWER(ANY_VALUE(tots.s) / ANY_VALUE(tots.n), 2) AS sstot,
                  ANY_VALUE(tots.n) AS n, ANY_VALUE(tots.k) AS k
           FROM g JOIN tots ON g.fidx = tots.fidx GROUP BY g.fidx
         )
         SELECT fidx AS featureIndex,
                CAST((k - 1) + (n - k) AS BIGINT) AS degreeOfFreedom,
                ROUND((ssb / (k - 1)) / ((sstot - ssb) / (n - k)), 6) AS fValue
         FROM calc""",

    "q_fvalue" ->
      """WITH d AS (
           SELECT 0 AS fidx, CAST(l_quantity AS DOUBLE) AS x, l_extendedprice AS y FROM lineitem
           UNION ALL SELECT 1, l_discount, l_extendedprice FROM lineitem
           UNION ALL SELECT 2, l_tax, l_extendedprice FROM lineitem
         ),
         g AS (SELECT fidx, CAST(COUNT(*) AS DOUBLE) AS n,
                      AVG(x) AS xm, STDDEV_SAMP(x) AS xs,
                      AVG(y) AS ym, STDDEV_SAMP(y) AS ys,
                      SUM(x * y) AS sxy
               FROM d GROUP BY fidx)
         SELECT fidx AS featureIndex,
                CAST(n - 2 AS BIGINT) AS degreeOfFreedom,
                ROUND(POWER(((sxy - n * xm * ym) / (n - 1)) / (ys * xs), 2)
                      / (1 - POWER(((sxy - n * xm * ym) / (n - 1)) / (ys * xs), 2))
                      * (n - 2), 6) AS fValue
         FROM g""",

    "q_dedup" ->
      """WITH RECURSIVE toks AS (
           SELECT doc_id,
                  list_filter(string_split_regex(lower(text), '\W+'), x -> len(x) >= 1) AS ws
           FROM documents
         ),
         sh AS (
           SELECT doc_id,
                  list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                 FOR i IN range(1, len(ws) - 1)]) AS sg
           FROM toks WHERE len(ws) >= 3
         ),
         edges AS (
           SELECT a.doc_id AS u, b.doc_id AS v
           FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
           WHERE 1.0 - CAST(len(list_intersect(a.sg, b.sg)) AS DOUBLE)
                       / len(list_distinct(list_concat(a.sg, b.sg))) <= 0.5
         ),
         reach(s, d) AS (
           SELECT doc_id, doc_id FROM sh
           UNION
           SELECT r.s, e.v FROM reach r JOIN edges e ON r.d = e.u
         )
         SELECT s AS doc_id, MIN(d) AS canonical_id, MIN(d) <> s AS is_duplicate
         FROM reach GROUP BY s""",

    "q_logreg_predict" ->
      """SELECT l_orderkey, l_linenumber,
                CASE WHEN 0.1 * l_quantity - 2.0 * l_discount >= 0 THEN 1.0 ELSE 0.0 END AS prediction,
                ROUND(1.0 - 1.0 / (1.0 + EXP(0.1 * l_quantity - 2.0 * l_discount)), 6) AS prob
         FROM lineitem""",

    "q_linreg_predict" ->
      """SELECT l_orderkey, l_linenumber,
                ROUND(2.5 * l_quantity + 100.0 * l_tax, 6) AS prediction
         FROM lineitem""",

    "q_linsvc_predict" ->
      """SELECT l_orderkey, l_linenumber,
                CASE WHEN 1.0 * l_quantity - 0.001 * l_extendedprice >= 0 THEN 1.0 ELSE 0.0 END
                  AS prediction
         FROM lineitem""",

    "q_knn" ->
      """WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                             CAST(label AS DOUBLE) AS label
                      FROM embeddings),
         tr AS (SELECT * FROM emb WHERE vec_id % 10 <> 0),
         te AS (SELECT * FROM emb WHERE vec_id % 10 = 0),
         pairs AS (
           SELECT te.vec_id, tr.label, list_distance(te.e, tr.e) AS dist
           FROM te CROSS JOIN tr
         ),
         top AS (
           SELECT vec_id, label, dist FROM (
             SELECT vec_id, label, dist,
                    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist) AS rk
             FROM pairs)
           WHERE rk <= 5
         ),
         votes AS (SELECT vec_id, label, COUNT(*) AS c, MIN(dist) AS mind
                   FROM top GROUP BY vec_id, label)
         SELECT vec_id, label AS prediction FROM (
           SELECT vec_id, label,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY c DESC, mind ASC, label ASC) AS rk
           FROM votes)
         WHERE rk = 1""",

    "q_kmeans" ->
      """WITH pts AS (SELECT CAST(l_quantity AS DOUBLE) AS x, l_discount AS y FROM lineitem),
         d AS (SELECT x, y, CAST(COUNT(*) AS DOUBLE) AS w FROM pts GROUP BY x, y),
         c0(cid, cx, cy) AS (VALUES (0, 5.2, 0.095), (1, 10.1, 0.013),
                                    (2, 24.7, 0.047), (3, 39.3, 0.081)),
         a1 AS (SELECT x, y, w, cid FROM (
                  SELECT d.x, d.y, d.w, c.cid,
                         ROW_NUMBER() OVER (PARTITION BY d.x, d.y
                           ORDER BY (d.x - c.cx) * (d.x - c.cx)
                                  + (d.y - c.cy) * (d.y - c.cy), c.cid) AS rk
                  FROM d CROSS JOIN c0 c) WHERE rk = 1),
         c1 AS (SELECT c0.cid,
                       COALESCE(SUM(a.w * a.x) / SUM(a.w), c0.cx) AS cx,
                       COALESCE(SUM(a.w * a.y) / SUM(a.w), c0.cy) AS cy
                FROM c0 LEFT JOIN a1 a ON a.cid = c0.cid
                GROUP BY c0.cid, c0.cx, c0.cy),
         a2 AS (SELECT x, y, w, cid FROM (
                  SELECT d.x, d.y, d.w, c.cid,
                         ROW_NUMBER() OVER (PARTITION BY d.x, d.y
                           ORDER BY (d.x - c.cx) * (d.x - c.cx)
                                  + (d.y - c.cy) * (d.y - c.cy), c.cid) AS rk
                  FROM d CROSS JOIN c1 c) WHERE rk = 1),
         c2 AS (SELECT c1.cid,
                       COALESCE(SUM(a.w * a.x) / SUM(a.w), c1.cx) AS cx,
                       COALESCE(SUM(a.w * a.y) / SUM(a.w), c1.cy) AS cy
                FROM c1 LEFT JOIN a2 a ON a.cid = c1.cid
                GROUP BY c1.cid, c1.cx, c1.cy)
         SELECT cid AS centroidId, ROUND(cx, 6) AS cx, ROUND(cy, 6) AS cy FROM c2""",

    "q_kmeans_predict" ->
      """WITH d AS (SELECT l_orderkey, l_linenumber,
                           CAST(l_quantity AS DOUBLE) AS x, l_discount AS y,
                           (CAST(l_quantity AS DOUBLE) - 10.0) * (CAST(l_quantity AS DOUBLE) - 10.0)
                             + (l_discount - 0.02) * (l_discount - 0.02) AS d0,
                           (CAST(l_quantity AS DOUBLE) - 25.0) * (CAST(l_quantity AS DOUBLE) - 25.0)
                             + (l_discount - 0.05) * (l_discount - 0.05) AS d1,
                           (CAST(l_quantity AS DOUBLE) - 40.0) * (CAST(l_quantity AS DOUBLE) - 40.0)
                             + (l_discount - 0.08) * (l_discount - 0.08) AS d2
                    FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0
                     WHEN d1 <= d2 THEN 1 ELSE 2 END AS prediction
         FROM d""",

    "q_naive_bayes" ->
      """WITH d AS (SELECT CAST(l_linenumber AS DOUBLE) AS f0, l_tax AS f1,
                           CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS label
                    FROM lineitem),
         expl AS (SELECT label, 0 AS j, f0 AS v FROM d
                  UNION ALL SELECT label, 1, f1 FROM d),
         cnt AS (SELECT label, j, v, CAST(COUNT(*) AS DOUBLE) AS c FROM expl GROUP BY label, j, v),
         doc AS (SELECT label, CAST(COUNT(*) AS DOUBLE) AS n FROM d GROUP BY label),
         dist AS (SELECT j, CAST(COUNT(DISTINCT v) AS DOUBLE) AS cj FROM expl GROUP BY j),
         vals AS (SELECT DISTINCT j, v FROM expl),
         theta AS (
           SELECT doc.label, vals.j, vals.v,
                  ln(COALESCE(cnt.c, 0) + 1.0) - ln(doc.n + 1.0 * dist.cj) AS th
           FROM doc CROSS JOIN vals
           JOIN dist ON dist.j = vals.j
           LEFT JOIN cnt ON cnt.label = doc.label AND cnt.j = vals.j AND cnt.v = vals.v
         ),
         consts AS (SELECT SUM(n) AS bign, CAST(COUNT(*) AS DOUBLE) AS l, 2.0 AS f FROM doc),
         pi AS (SELECT doc.label, ln(doc.n * consts.f + 1.0)
                       - ln(consts.bign * consts.f + consts.l * 1.0) AS pi
                FROM doc, consts),
         rows_ AS (SELECT *, ROW_NUMBER() OVER () AS rid FROM d),
         scored AS (
           SELECT r.rid, r.label AS truth, pi.label AS cand, pi.pi + t0.th + t1.th AS p
           FROM rows_ r
           CROSS JOIN pi
           JOIN theta t0 ON t0.label = pi.label AND t0.j = 0 AND t0.v = r.f0
           JOIN theta t1 ON t1.label = pi.label AND t1.j = 1 AND t1.v = r.f1
         ),
         pred AS (
           SELECT rid, truth, cand AS prediction FROM (
             SELECT *, ROW_NUMBER() OVER (PARTITION BY rid ORDER BY p DESC, cand ASC) AS rk
             FROM scored)
           WHERE rk = 1
         )
         SELECT truth AS label, prediction, COUNT(*) AS n FROM pred GROUP BY truth, prediction""",

    "q_robust_scaler" ->
      """WITH ranks AS (
           SELECT l_extendedprice AS value,
                  ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn,
                  COUNT(*) OVER () AS n
           FROM lineitem
         ),
         q AS (
           SELECT MAX(CASE WHEN rn = CAST(ceil(0.25 * n) AS BIGINT) THEN value END) AS lo,
                  MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN value END) AS med,
                  MAX(CASE WHEN rn = CAST(ceil(0.75 * n) AS BIGINT) THEN value END) AS hi
           FROM ranks
         )
         SELECT l_orderkey, l_linenumber,
                ROUND((l_extendedprice - q.med) / (q.hi - q.lo), 6) AS scaled_price
         FROM lineitem, q""",

    // squared-Euclidean silhouette via the centroid decomposition:
    // sum of sq dists from x to cluster c = psi_c + n_c*||x||^2 - 2*x.Y_c
    "q_silhouette" ->
      """WITH pts AS (SELECT vec_id, CAST(label AS BIGINT) AS cluster,
                             CAST(embedding AS DOUBLE[]) AS f FROM embeddings),
         sq AS (SELECT vec_id, cluster, list_dot_product(f, f) AS sqn FROM pts),
         ex AS (SELECT vec_id, cluster, unnest(f) AS x,
                       unnest(range(1, len(f) + 1)) AS dim FROM pts),
         cdim AS (SELECT cluster, dim, SUM(x) AS y FROM ex GROUP BY 1, 2),
         cstat AS (SELECT cluster, COUNT(*) AS n, SUM(sqn) AS psi FROM sq GROUP BY 1),
         dots AS (SELECT e.vec_id, e.cluster AS pc, c.cluster AS cc, SUM(e.x * c.y) AS dot
                  FROM ex e JOIN cdim c ON e.dim = c.dim GROUP BY 1, 2, 3),
         dsum AS (SELECT d.vec_id, d.pc, d.cc, cs.n AS nc,
                         cs.psi + cs.n * s.sqn - 2 * d.dot AS ssum
                  FROM dots d JOIN cstat cs ON d.cc = cs.cluster
                              JOIN sq s ON d.vec_id = s.vec_id),
         ab AS (SELECT vec_id, pc,
                       MAX(CASE WHEN cc = pc AND nc > 1 THEN ssum / (nc - 1) END) AS a,
                       MIN(CASE WHEN cc <> pc THEN ssum / nc END) AS b,
                       MAX(CASE WHEN cc = pc THEN nc END) AS nown
                FROM dsum GROUP BY 1, 2),
         sil AS (SELECT pc AS cluster,
                        CASE WHEN nown = 1 THEN 0.0
                             WHEN b IS NULL THEN 0.0
                             WHEN GREATEST(a, b) = 0 THEN 0.0
                             ELSE (b - a) / GREATEST(a, b) END AS s
                 FROM ab)
         SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(AVG(s), 6) AS mean_silhouette
         FROM sil GROUP BY 1""",

    "q_freq_encode" ->
      """SELECT o_orderkey, o_orderpriority,
                ROUND(COUNT(*) OVER (PARTITION BY o_orderpriority) * 1.0
                        / COUNT(*) OVER (), 6) AS enc
         FROM orders""",

    "q_target_encode" ->
      """WITH stats AS (SELECT CAST(l_returnflag AS VARCHAR) AS category,
                               COUNT(*) AS n, SUM(l_extendedprice) AS sum_y
                        FROM lineitem GROUP BY 1),
         pr AS (SELECT SUM(sum_y) / SUM(n) AS prior FROM stats),
         cats AS (SELECT category FROM stats UNION ALL SELECT 'ZZ')
         SELECT c.category,
                ROUND(COALESCE((s.sum_y + 50.0 * pr.prior) / (s.n + 50.0),
                               pr.prior), 6) AS enc
         FROM cats c LEFT JOIN stats s ON c.category = s.category, pr""",

    "q_lag_features" ->
      """SELECT event_id, user_id,
                LAG(value, 1) OVER w AS value_lag1,
                LAG(value, 2) OVER w AS value_lag2,
                ROUND(EPOCH(ts) - EPOCH(LAG(ts, 1) OVER w), 6) AS ts_delta,
                ROUND(AVG(value) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 6)
                  AS roll_mean,
                COUNT(value) OVER (w ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
                  AS roll_count
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",

    "q_anomaly" ->
      """WITH f AS (
           SELECT event_id, user_id, value,
                  AVG(value) OVER fr AS m,
                  STDDEV_SAMP(value) OVER fr AS sd,
                  COUNT(value) OVER fr AS c
           FROM events
           WINDOW fr AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
         SELECT event_id, user_id,
                ROUND(ABS(value - m) / sd, 6) AS abs_z,
                ROUND(ABS(value - m) / sd, 6) > 3.0 AS anomaly
         FROM f WHERE c >= 10 AND sd > 0""",

    // closed-form replay of the page the Spark side constructs and
    // regex-extracts (title inner text + body text + decoded entity +
    // anchor texts, whitespace-canonicalized)
    "q_html" ->
      """SELECT doc_id,
                'Doc ' || doc_id AS title,
                md5(TRIM(regexp_replace(
                  'Doc ' || doc_id || ' ' || text || ' & more self n',
                  '\s+', ' ', 'g'))) AS digest,
                CAST(2 AS INT) AS links
         FROM documents""",

    // replay of UrlParser's RE2-compatible regex decomposition on the
    // same deterministic URL construction
    // closed-form replay of the planted canonical forms: each messy
    // class's canonical spelling is written out per CASE branch (no
    // regex replay needed), and the key is md5 of the same string
    "q_url_canonical" ->
      """WITH c AS (
           SELECT doc_id,
                  CASE doc_id % 4
                    WHEN 0 THEN 'https://www.' || lower(source) || '.example.com/a/b/c?a=1&b=2'
                    WHEN 1 THEN 'http://h' || doc_id || '.example.org/p/' || doc_id
                    WHEN 2 THEN 'https://h' || doc_id || '.example.org/'
                    ELSE 'ftp://files.example.net:2121/pub/f' || doc_id || '?y=2&z=1'
                  END AS canon_url
           FROM documents)
         SELECT doc_id, canon_url, md5(canon_url) AS canon_key FROM c""",

    // closed-form canonical twins of the planted dot-segment /
    // fragment-'?' spellings (the operator resolves them; the oracle
    // just spells the answer)
    "q_url_dotsegments" ->
      """WITH c AS (
           SELECT doc_id,
                  CASE doc_id % 4
                    WHEN 0 THEN 'https://ex.' || lower(source) || '.example.com/a/c'
                    WHEN 1 THEN 'https://h' || doc_id || '.example.org/x/y'
                    WHEN 2 THEN 'https://h' || doc_id || '.example.org/p' || doc_id
                    ELSE 'https://app.example.com/app/' || doc_id
                  END AS canon_url
           FROM documents)
         SELECT doc_id, canon_url, md5(canon_url) AS canon_key FROM c""",

    // surviving rules spelled closed-form: the wildcard sections'
    // allow/disallow rows; the named-agents section, the empty
    // Disallow and the foreign-agent document emit nothing
    "q_robots_rules" ->
      """WITH d AS (SELECT doc_id, 'h' || doc_id || '.example.com' AS host FROM documents)
         SELECT host, 'disallow' AS rule, '/private/' AS prefix FROM d WHERE doc_id % 4 = 0
         UNION ALL SELECT host, 'allow', '/private/ok/' FROM d WHERE doc_id % 4 = 0
         UNION ALL SELECT host, 'disallow', '/tmp/' FROM d WHERE doc_id % 4 = 1""",

    // verdicts spelled closed-form per (residue, path class):
    // /private/ blocks on m0 except the longer /private/ok/ allow;
    // /tmp/ blocks on m1; everything else passes with no winning rule
    "q_robots_filter" ->
      """WITH u AS (
           SELECT doc_id, '/private/p' || doc_id AS path, 1 AS cls FROM documents
           UNION ALL SELECT doc_id, '/private/ok/p' || doc_id, 2 FROM documents
           UNION ALL SELECT doc_id, '/tmp/p' || doc_id, 3 FROM documents)
         SELECT doc_id, path,
                CASE WHEN doc_id % 4 = 0 AND cls = 1 THEN FALSE
                     WHEN doc_id % 4 = 1 AND cls = 3 THEN FALSE
                     ELSE TRUE END AS allowed,
                CASE WHEN doc_id % 4 = 0 AND cls = 1 THEN '/private/'
                     WHEN doc_id % 4 = 0 AND cls = 2 THEN '/private/ok/'
                     WHEN doc_id % 4 = 1 AND cls = 3 THEN '/tmp/'
                     ELSE NULL END AS win_prefix
         FROM u""",

    // wildcard verdicts spelled closed-form per path class: the
    // anchored /*.pdf$ blocks class 1 but not the .pdf.html class,
    // the longer /pub allow overrides, /a/*/c spans the id segment,
    // /exact$ blocks /exact but not /exactly
    "q_robots_wildcards" ->
      """WITH u AS (
           SELECT doc_id, '/files/r' || doc_id || '.pdf' AS path, 1 AS cls FROM documents
           UNION ALL SELECT doc_id, '/pub/r' || doc_id || '.pdf', 2 FROM documents
           UNION ALL SELECT doc_id, '/files/r' || doc_id || '.pdf.html', 3 FROM documents
           UNION ALL SELECT doc_id, '/a/x' || doc_id || '/c/d', 4 FROM documents
           UNION ALL SELECT doc_id, '/exact', 5 FROM documents
           UNION ALL SELECT doc_id, '/exactly', 6 FROM documents)
         SELECT doc_id, path,
                CASE WHEN cls IN (1, 4, 5) THEN FALSE ELSE TRUE END AS allowed,
                CASE cls WHEN 1 THEN '/*.pdf$' WHEN 2 THEN '/pub/*.pdf$'
                         WHEN 4 THEN '/a/*/c' WHEN 5 THEN '/exact$' END AS win_prefix
         FROM u""",

    // group-selection rules spelled closed-form: the named group's
    // rows on m0/m2 (wildcard section suppressed on m0, duplicate
    // sections merged on m2), the '*' fallback on m1, nothing on m3
    "q_robots_groups" ->
      """WITH d AS (SELECT doc_id, 'h' || doc_id || '.example.com' AS host FROM documents)
         SELECT host, 'allow' AS rule, '/' AS prefix FROM d WHERE doc_id % 4 = 0
         UNION ALL SELECT host, 'disallow', '/y' FROM d WHERE doc_id % 4 = 1
         UNION ALL SELECT host, 'disallow', '/a' FROM d WHERE doc_id % 4 = 2
         UNION ALL SELECT host, 'disallow', '/b' FROM d WHERE doc_id % 4 = 2""",

    // the capstone's surviving canonical edge list rebuilt
    // closed-form (the blocked /private/ edge is GONE, the messy hub
    // anchor lands on its canonical spelling, the dot-segment
    // relative resolves), then the q_pagerank 3-iteration CTE chain
    // verbatim over string URL ids
    "q_crawl_pipeline" ->
      """WITH pages AS (
           SELECT doc_id, 'https://www.' || lower(source) || '.example.com' AS h
           FROM documents),
         e0 AS (
           SELECT h || '/docs/' || doc_id AS src, h || '/docs/r' || doc_id AS dst FROM pages
           UNION ALL SELECT h || '/docs/' || doc_id, h || '/hub' FROM pages),
         e AS (SELECT src, dst, COUNT(*) * 1.0 AS w FROM e0 GROUP BY 1, 2),
         outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
         sh AS (SELECT e.src, e.dst, e.w / o.outw AS share
                FROM e JOIN outw o ON e.src = o.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM outw)),
         r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
         d1 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r0 r JOIN dang USING (id)),
         c1 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r0 r ON sh.src = r.id GROUP BY 1),
         r1 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c1.c, 0.0) + d1.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d1
                LEFT JOIN c1 ON nodes.id = c1.id),
         d2 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r1 r JOIN dang USING (id)),
         c2 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r1 r ON sh.src = r.id GROUP BY 1),
         r2 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c2.c, 0.0) + d2.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d2
                LEFT JOIN c2 ON nodes.id = c2.id),
         d3 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r2 r JOIN dang USING (id)),
         c3 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r2 r ON sh.src = r.id GROUP BY 1),
         r3 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c3.c, 0.0) + d3.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d3
                LEFT JOIN c3 ON nodes.id = c3.id)
         SELECT id AS url, ROUND(r, 10) AS pagerank FROM r3""",

    // frontier rows spelled closed-form: odd /p/ pages survive with
    // the sitemap+link pair collapsed (refs 2, sources "0,1"), /q/
    // pages always new from the third feed; md5 replays the canonical
    // key exactly (q_url precedent)
    "q_frontier" ->
      """WITH p AS (SELECT 'https://www.' || lower(source) || '.example.com/p/' || doc_id AS url
                    FROM documents WHERE doc_id % 2 = 1),
            q AS (SELECT 'https://www.' || lower(source) || '.example.com/q/' || doc_id AS url
                  FROM documents)
         SELECT url, md5(url) AS key, CAST(2 AS BIGINT) AS refs, '0,1' AS sources FROM p
         UNION ALL
         SELECT url, md5(url), CAST(1 AS BIGINT), '2' FROM q""",

    // expected main content spelled closed-form per residue: the good
    // paragraphs always survive, the teaser only between two goods
    // (m1), the headline/footer/crumb frames never
    "q_main_content" ->
      """WITH b AS (
           SELECT doc_id,
                  'Paragraph one about document ' || doc_id ||
                  ' which continues with enough plain prose to clear the good threshold easily.' AS p1,
                  'Paragraph two about document ' || doc_id ||
                  ' adds further commentary that is also comfortably past the threshold length.' AS p2,
                  'A short aside on ' || doc_id || '.' AS t
           FROM documents)
         SELECT doc_id,
                CASE doc_id % 4 WHEN 0 THEN p1
                     WHEN 1 THEN p1 || chr(10) || t || chr(10) || p2
                     WHEN 2 THEN ''
                     ELSE p1 || chr(10) || p2 END AS text,
                CAST(CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3
                     WHEN 2 THEN 0 ELSE 2 END AS BIGINT) AS kept,
                CAST(CASE doc_id % 4 WHEN 0 THEN 5 WHEN 1 THEN 6
                     ELSE 3 END AS BIGINT) AS blocks
         FROM b""",

    // planted status/Content-Type classes spelled closed-form: the
    // uppercase parameterized type lowercases and drops its charset,
    // the headerless residue yields a null mime (the body's fake
    // "Content-Type:" must NOT leak into the header scope), metadata
    // records carry nulls and never pass the gate
    "q_warc_http" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS rec_pos,
                CAST(CASE doc_id % 4 WHEN 0 THEN 200 WHEN 1 THEN 301
                     WHEN 2 THEN 404 ELSE 200 END AS INTEGER) AS status,
                CASE doc_id % 4 WHEN 0 THEN 'text/html' WHEN 1 THEN 'text/html'
                     WHEN 2 THEN 'application/pdf' ELSE NULL END AS mime,
                (doc_id % 4 = 0) AS keep
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(2 AS BIGINT), NULL, NULL, false
         FROM documents""",

    // sitemap lines emit document-scoped for every residue that has
    // them; the named group's delay beats the '*' fallback (residue
    // 0), the fallback applies when no group names the agent (residue
    // 1), a delay before any group and a foreign group's rows drop
    // entirely (residue 2); garbage never appears because residue 2's
    // 'fast' sits in the non-applicable group
    "q_robots_directives" ->
      """SELECT doc_id, 'sitemap' AS kind,
                'https://h' || doc_id || '.example.com/s.xml' AS value,
                CAST(NULL AS DOUBLE) AS secs
         FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id, 'crawl-delay', CAST(doc_id % 7 + 1 AS VARCHAR),
                CAST(doc_id % 7 + 1 AS DOUBLE)
         FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id, 'sitemap',
                'https://h' || doc_id || '.example.com/a.xml', NULL
         FROM documents WHERE doc_id % 3 = 1
         UNION ALL
         SELECT doc_id, 'sitemap',
                'https://h' || doc_id || '.example.com/b.xml', NULL
         FROM documents WHERE doc_id % 3 = 1
         UNION ALL
         SELECT doc_id, 'crawl-delay', '0.5', CAST(0.5 AS DOUBLE)
         FROM documents WHERE doc_id % 3 = 1""",

    // the schedule replayed as a window over closed-form budgets:
    // host class h%4 = 0 keeps the flat budget (its delay is garbage),
    // 20 s/40 s/60 s delays under the 90 s horizon tighten to
    // min(3, floor(90/delay)) = 3/2/1
    "q_crawl_schedule" ->
      """WITH f AS (
           SELECT 'https://h' || (doc_id % 50) || '.example.com/p/' || doc_id AS url,
                  'h' || (doc_id % 50) || '.example.com' AS host,
                  CAST(doc_id % 11 AS DOUBLE) AS priority,
                  CASE (doc_id % 50) % 4 WHEN 0 THEN 3 WHEN 1 THEN 3
                       WHEN 2 THEN 2 ELSE 1 END AS budget
           FROM documents),
         r AS (
           SELECT url, host, priority, budget,
                  ROW_NUMBER() OVER (PARTITION BY host
                    ORDER BY priority DESC, url ASC) AS rank
           FROM f)
         SELECT url, host, priority, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= budget""",

    // the curation capstone spelled closed-form: residue 2 is gated
    // at HTTP (404), residue 3's main text duplicates residue 0's and
    // drops at dedup, survivors carry the redacted email sentinel,
    // 'en', exact whitespace token counts and one PII hit each
    "q_fineweb_pipeline" ->
      """WITH s AS (SELECT doc_id, doc_id - doc_id % 4 AS g
                    FROM documents WHERE doc_id % 4 IN (0, 1)),
         txt AS (
           SELECT doc_id,
                  CASE doc_id % 4 WHEN 0 THEN
                    'Contact <EMAIL> for document ' || g ||
                    ' which continues with enough plain prose to clear the good threshold easily.'
                  ELSE
                    'Contact <EMAIL> for document ' || g ||
                    ' which continues with enough plain prose to clear the good threshold easily.' ||
                    chr(10) ||
                    'Paragraph two about document ' || g ||
                    ' adds further commentary that is also comfortably past the threshold length.'
                  END AS text,
                  CASE doc_id % 4 WHEN 0 THEN 17 ELSE 33 END AS n
           FROM s)
         SELECT doc_id, text, 'en' AS lang, CAST(n AS BIGINT) AS tokens,
                CAST(1 AS BIGINT) AS pii_hits
         FROM txt""",

    // planted WARC records spelled closed-form: the response row's
    // body is the HTML behind the HTTP headers, the metadata row's
    // body is its raw payload, angle brackets gone from the URI
    "q_warc" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS rec_pos, 'response' AS rec_type,
                'https://www.' || source || '.example.com/w/' || doc_id AS uri,
                '<html><a href="/l/' || doc_id || '">x</a></html>' AS body
         FROM documents
         UNION ALL
         SELECT doc_id, CAST(2 AS BIGINT), 'metadata', NULL, 'fetch: ' || doc_id
         FROM documents""",

    // planted sitemap entries spelled closed-form: the loc-less url
    // block is absent; the sitemap-index row carries kind='sitemap'
    "q_sitemap" ->
      """SELECT doc_id, 'url' AS kind,
                'https://www.' || source || '.example.com/p/' || doc_id AS loc,
                '2026-01-' || (doc_id % 19 + 10) AS lastmod,
                CAST(0.8 AS DOUBLE) AS priority
         FROM documents
         UNION ALL
         SELECT doc_id, 'url',
                'https://www.' || source || '.example.com/q/' || doc_id,
                NULL, NULL
         FROM documents
         UNION ALL
         SELECT doc_id, 'sitemap',
                'https://www.' || source || '.example.com/sitemap-' || (doc_id % 10) || '.xml',
                NULL, NULL
         FROM documents""",

    // the closed-form min-path distance of the chain+shortcut blocks:
    // integer BFS replays exactly (the LPA integer-replay precedent)
    "q_bfs_depth" ->
      """SELECT doc_id, CAST((doc_id % 8 + 1) // 2 AS BIGINT) AS distance
         FROM documents""",

    "q_url" ->
      """WITH urls AS (
           SELECT doc_id,
                  'HTTPS://u@www.' || source ||
                  CASE WHEN doc_id % 3 = 0 THEN '.spam.biz' ELSE '.example.com' END ||
                  ':8443/docs/' || doc_id || '?lang=' || lang || '#top' AS url
           FROM documents),
         parsed AS (
           SELECT doc_id, url,
                  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS u_scheme,
                  lower(regexp_replace(regexp_replace(
                    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
                    '^.*@', ''), ':[0-9]*$', '')) AS u_host,
                  regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS u_path,
                  regexp_extract(url, '\?([^#]*)', 1) AS u_query
           FROM urls)
         SELECT doc_id, u_scheme, u_host,
                regexp_extract(u_host, '([^.]+\.[^.]+)$', 1) AS u_domain,
                u_path, u_query,
                regexp_extract(u_host, '([^.]+\.[^.]+)$', 1) = 'spam.biz' AS u_blocked
         FROM parsed""",

    // closed-form replay of the planted anchor set: one UNION ALL
    // branch per KEPT anchor class (mailto/fragment branches absent),
    // resolution spelled out against the constructed page URL
    "q_link_graph" ->
      """WITH pages AS (
           SELECT doc_id,
                  'www.' || source || '.example.com' AS host,
                  '/docs/' || doc_id || '/' AS dir
           FROM documents)
         SELECT doc_id,
                'https://out' || (doc_id % 5) || '.example.org/x/' AS href,
                'https://out' || (doc_id % 5) || '.example.org/x/' AS link_url,
                'out' || (doc_id % 5) || '.example.org' AS dst_host,
                'example.org' AS dst_domain
         FROM pages
         UNION ALL
         SELECT doc_id, '/r/' || doc_id,
                'https://' || host || '/r/' || doc_id,
                host, 'example.com'
         FROM pages
         UNION ALL
         SELECT doc_id, 'sub/p2.html',
                'https://' || host || dir || 'sub/p2.html',
                host, 'example.com'
         FROM pages
         UNION ALL
         SELECT doc_id, '//cdn.example.net/l.js',
                'https://cdn.example.net/l.js',
                'cdn.example.net', 'example.net'
         FROM pages""",

    // anchor texts per kept resolution class, closed-form: one row
    // per (domain, text) with count = the documents table size; the
    // dropped mailto/fragment anchors ('m'/'t') are absent
    "q_anchor_text" ->
      """WITH n AS (SELECT COUNT(*) AS c FROM documents)
         SELECT 'example.org' AS dst_domain, 'a' AS anchor_text, n.c AS n FROM n
         UNION ALL SELECT 'example.net', 'c', n.c FROM n
         UNION ALL SELECT 'example.com', 'r', n.c FROM n
         UNION ALL SELECT 'example.com', 's', n.c FROM n""",

    // same construction, counted and ranked with a row_number window —
    // ties (uniform residue classes) break ascending by text on both
    // sides, so the top-3 per target replays exactly
    "q_anchor_topk" ->
      """WITH e AS (
           SELECT 'd' || (doc_id % 3) AS target,
                  't' || (doc_id % 5) AS anchor_text
           FROM documents),
         c AS (SELECT target, anchor_text, COUNT(*) AS n
               FROM e GROUP BY 1, 2),
         r AS (SELECT target, anchor_text, n,
                      row_number() OVER (
                        PARTITION BY target
                        ORDER BY n DESC, anchor_text ASC) AS rank
               FROM c)
         SELECT target, anchor_text, n, rank FROM r WHERE rank <= 3""",

    // the q_link_graph host edges rebuilt closed-form (two self-edges
    // per page from the root-relative and relative anchors), then the
    // q_pagerank CTE chain verbatim over string vertex ids
    "q_host_rank" ->
      """WITH pages AS (
           SELECT doc_id, 'www.' || source || '.example.com' AS h FROM documents),
         e0 AS (
           SELECT h AS src, 'out' || (doc_id % 5) || '.example.org' AS dst FROM pages
           UNION ALL SELECT h, h FROM pages
           UNION ALL SELECT h, h FROM pages
           UNION ALL SELECT h, 'cdn.example.net' FROM pages),
         e AS (SELECT src, dst, COUNT(*) * 1.0 AS w FROM e0 GROUP BY 1, 2),
         outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
         sh AS (SELECT e.src, e.dst, e.w / o.outw AS share
                FROM e JOIN outw o ON e.src = o.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM outw)),
         r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
         d1 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r0 r JOIN dang USING (id)),
         c1 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r0 r ON sh.src = r.id GROUP BY 1),
         r1 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c1.c, 0.0) + d1.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d1
                LEFT JOIN c1 ON nodes.id = c1.id),
         d2 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r1 r JOIN dang USING (id)),
         c2 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r1 r ON sh.src = r.id GROUP BY 1),
         r2 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c2.c, 0.0) + d2.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d2
                LEFT JOIN c2 ON nodes.id = c2.id),
         d3 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r2 r JOIN dang USING (id)),
         c3 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r2 r ON sh.src = r.id GROUP BY 1),
         r3 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c3.c, 0.0) + d3.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d3
                LEFT JOIN c3 ON nodes.id = c3.id)
         SELECT id AS host, ROUND(r, 10) AS pagerank FROM r3""",

    // the URL-granularity edge list rebuilt closed-form in its
    // CANONICAL spellings (messy absolute anchor -> lowercased,
    // default port + tracking param + duplicate slash gone; relative
    // anchor -> dot segment resolved), then the q_pagerank CTE chain
    // verbatim over string URL ids
    "q_url_rank" ->
      """WITH pages AS (
           SELECT doc_id,
                  'https://www.' || lower(source) || '.example.com/docs/' || doc_id || '/page.html' AS p,
                  'https://www.' || lower(source) || '.example.com' AS h
           FROM documents),
         e0 AS (
           SELECT p AS src, 'https://out' || (doc_id % 5) || '.example.org/x/' AS dst FROM pages
           UNION ALL SELECT p, 'https://cdn.example.net/l.js' FROM pages
           UNION ALL SELECT p, h || '/r/' || doc_id FROM pages
           UNION ALL SELECT p, h || '/docs/' || doc_id || '/sub2/p2.html' FROM pages),
         e AS (SELECT src, dst, COUNT(*) * 1.0 AS w FROM e0 GROUP BY 1, 2),
         outw AS (SELECT src, SUM(w) AS outw FROM e GROUP BY 1),
         sh AS (SELECT e.src, e.dst, e.w / o.outw AS share
                FROM e JOIN outw o ON e.src = o.src),
         nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         nn AS (SELECT COUNT(*) AS n FROM nodes),
         dang AS (SELECT id FROM nodes WHERE id NOT IN (SELECT src FROM outw)),
         r0 AS (SELECT id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
         d1 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r0 r JOIN dang USING (id)),
         c1 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r0 r ON sh.src = r.id GROUP BY 1),
         r1 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c1.c, 0.0) + d1.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d1
                LEFT JOIN c1 ON nodes.id = c1.id),
         d2 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r1 r JOIN dang USING (id)),
         c2 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r1 r ON sh.src = r.id GROUP BY 1),
         r2 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c2.c, 0.0) + d2.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d2
                LEFT JOIN c2 ON nodes.id = c2.id),
         d3 AS (SELECT COALESCE(SUM(r.r), 0.0) AS dm FROM r2 r JOIN dang USING (id)),
         c3 AS (SELECT sh.dst AS id, SUM(sh.share * r.r) AS c
                FROM sh JOIN r2 r ON sh.src = r.id GROUP BY 1),
         r3 AS (SELECT nodes.id,
                       (1.0 - 0.85) / nn.n + 0.85 * (COALESCE(c3.c, 0.0) + d3.dm / nn.n) AS r
                FROM nodes CROSS JOIN nn CROSS JOIN d3
                LEFT JOIN c3 ON nodes.id = c3.id)
         SELECT id AS url, ROUND(r, 10) AS pagerank FROM r3""",

    "q_stream_anomaly" ->
      """WITH slim AS (SELECT CAST(user_id AS VARCHAR) AS key,
                              epoch_us(ts) AS "order",
                              CAST(value AS DOUBLE) AS value
                       FROM events),
         f AS (SELECT key, "order", value,
                      COUNT(value) OVER w AS n_before,
                      AVG(value) OVER w AS m,
                      STDDEV_SAMP(value) OVER w AS sd
               FROM slim
               WINDOW w AS (PARTITION BY key ORDER BY "order", value
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT key, "order", n_before,
                ROUND(CASE WHEN n_before >= 10 AND sd > 0
                           THEN ABS(value - m) / sd END, 6) AS z,
                COALESCE(CASE WHEN n_before >= 10 AND sd > 0
                              THEN ABS(value - m) / sd END > 3.0, false) AS anomaly
         FROM f""",

    "q_validate" ->
      """WITH c AS (
           SELECT '1_not_null' AS "check", 'l_shipdate' AS target,
                  COUNT(*) FILTER (l_shipdate IS NULL) AS violations, COUNT(*) AS total
           FROM lineitem
           UNION ALL
           SELECT '2_in_range', 'l_quantity',
                  COUNT(*) FILTER (l_quantity IS NULL OR l_quantity < 1.0 OR l_quantity > 50.0),
                  COUNT(*)
           FROM lineitem
           UNION ALL
           SELECT '3_in_range', 'l_discount',
                  COUNT(*) FILTER (l_discount IS NULL OR l_discount < 0.0 OR l_discount > 0.05),
                  COUNT(*)
           FROM lineitem
           UNION ALL
           SELECT '4_matches', 'l_linestatus',
                  COUNT(*) FILTER (NOT COALESCE(regexp_matches(CAST(l_linestatus AS VARCHAR), '^[OF]$'), false)),
                  COUNT(*)
           FROM lineitem
           UNION ALL
           SELECT '5_in_set', 'l_returnflag',
                  COUNT(*) FILTER (CAST(l_returnflag AS VARCHAR) NOT IN ('A', 'N', 'R')
                                   OR l_returnflag IS NULL),
                  COUNT(*)
           FROM lineitem
           UNION ALL
           SELECT '6_satisfies', 'charge_consistent',
                  COUNT(*) FILTER (NOT COALESCE(l_extendedprice >= 0 AND l_tax >= 0, false)),
                  COUNT(*)
           FROM lineitem
           UNION ALL
           SELECT '7_unique', 'l_orderkey',
                  (SELECT COALESCE(SUM(n), 0) FROM (
                     SELECT COUNT(*) AS n FROM lineitem
                     WHERE l_orderkey IS NOT NULL GROUP BY l_orderkey) g WHERE n > 1),
                  (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NOT NULL))
         SELECT "check", target, CAST(violations AS BIGINT) AS violations,
                CAST(total AS BIGINT) AS total, violations = 0 AS pass
         FROM c""",

    // closed-form replay: k repeated body lines + unique tail dedup to
    // exactly (body, tail)
    "q_intradoc_dedup" ->
      """SELECT doc_id,
                md5(text || chr(10) || 'tail ' || doc_id) AS digest,
                CAST(2 AS INT) AS d_kept,
                CAST(doc_id % 3 AS INT) AS d_removed
         FROM documents""",

    "q_profile" ->
      """SELECT 'user_id' AS "column", COUNT(*) AS total,
                COUNT(*) - COUNT(user_id) AS nulls,
                COUNT(DISTINCT user_id) AS distinct_cnt,
                ROUND(AVG(CAST(user_id AS DOUBLE)), 6) AS mean,
                ROUND(STDDEV_SAMP(CAST(user_id AS DOUBLE)), 6) AS std,
                MIN(CAST(user_id AS DOUBLE)) AS vmin,
                MAX(CAST(user_id AS DOUBLE)) AS vmax,
                CAST(NULL AS INT) AS min_len, CAST(NULL AS INT) AS max_len
         FROM events
         UNION ALL
         SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
                COUNT(DISTINCT event_type),
                NULL, NULL, NULL, NULL,
                MIN(length(event_type)), MAX(length(event_type))
         FROM events
         UNION ALL
         SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
                COUNT(DISTINCT value),
                ROUND(AVG(value), 6), ROUND(STDDEV_SAMP(value), 6),
                MIN(value), MAX(value), NULL, NULL
         FROM events""",

    // quadratic ground truth — the operator must return exactly this set
    "q_fuzzy_join" ->
      """SELECT l.s_suppkey AS left_id, r.s_suppkey AS right_id,
                CAST(levenshtein(l.s_name, r.s_name) AS INT) AS distance
         FROM supplier l CROSS JOIN supplier r
         WHERE levenshtein(l.s_name, r.s_name) <= 2""",

    "q_scd2" ->
      """WITH slim AS (SELECT user_id, epoch_us(ts) AS ts, event_type FROM events),
         flag AS (SELECT user_id, ts, event_type,
                         (event_type IS DISTINCT FROM LAG(event_type) OVER w)
                           OR LAG(ts) OVER w IS NULL AS chg
                  FROM slim WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         kept AS (SELECT user_id, ts, event_type FROM flag WHERE chg)
         SELECT user_id, event_type, ts AS valid_from,
                LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
                LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
         FROM kept""",

    "q_calibration" ->
      """WITH d AS (SELECT CAST(event_id % 100 AS DOUBLE) / 100.0 AS p,
                           CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS y
                    FROM events),
         g AS (SELECT LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS bin, COUNT(*) AS n,
                      AVG(p) AS mp, AVG(y) AS fp, SUM((p - y) * (p - y)) AS sq
               FROM d GROUP BY 1)
         SELECT bin, n, ROUND(mp, 6) AS mean_pred, ROUND(fp, 6) AS frac_pos,
                ROUND(sq, 6) AS sq_err, ROUND(ABS(mp - fp), 6) AS gap
         FROM g""",

    // closed-form oracle: the planted cluster structure pins the
    // closure — members 0-3 of each 5-group chain at distance 1 and
    // canonicalize to the group minimum, member 4 is a singleton
    "q_entity_resolution" ->
      """SELECT doc_id,
                'u' || regexp_replace(CAST(doc_id - doc_id % 5 AS VARCHAR),
                                      '(.)', '\1\1', 'g')
                    || CASE doc_id % 5 WHEN 0 THEN '' WHEN 1 THEN 'x'
                            WHEN 2 THEN 'y' WHEN 3 THEN 'z' ELSE 'qq' END AS name,
                CASE WHEN doc_id % 5 = 4 THEN doc_id
                     ELSE doc_id - doc_id % 5 END AS entity_id
         FROM documents""",

    // the planted relation's group means are monotone, so PAV pools
    // nothing and isotonic calibration IS the grouped average
    "q_isotonic" ->
      """WITH d AS (SELECT CAST(event_id % 20 AS DOUBLE) / 20.0 AS p,
                           CASE WHEN event_id % 100 < (event_id % 20) * 5
                                THEN 1.0 ELSE 0.0 END AS y
                    FROM events)
         SELECT p, ROUND(AVG(y), 6) AS calibrated
         FROM d GROUP BY p""",

    "q_correlation" ->
      """SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                ROUND(corr(l_quantity, l_extendedprice), 6) AS corr FROM lineitem
         UNION ALL
         SELECT 'l_quantity', 'l_discount', ROUND(corr(l_quantity, l_discount), 6) FROM lineitem
         UNION ALL
         SELECT 'l_quantity', 'l_tax', ROUND(corr(l_quantity, l_tax), 6) FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', 'l_discount', ROUND(corr(l_extendedprice, l_discount), 6) FROM lineitem
         UNION ALL
         SELECT 'l_extendedprice', 'l_tax', ROUND(corr(l_extendedprice, l_tax), 6) FROM lineitem
         UNION ALL
         SELECT 'l_discount', 'l_tax', ROUND(corr(l_discount, l_tax), 6) FROM lineitem""",

    // same md5 -> 13 hex chars -> (v+1)/2^52 -> ln/weight key as the
    // operator; 52 bits keep the integer exact in a double, so both
    // engines compute the identical es_key and the identical top-100
    "q_weighted_sample" ->
      """WITH k AS (
           SELECT doc_id, source,
                  ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(1) || '42'),
                                          1, 13) AS BIGINT) + 1.0)
                     / 4503599627370496.0) / length(text) AS es_key
           FROM documents),
         top AS (SELECT doc_id, es_key FROM k ORDER BY es_key DESC, doc_id LIMIT 100)
         SELECT k.doc_id, k.source FROM k JOIN top ON k.doc_id = top.doc_id"""
  )
  // batched BPE must equal sequential BPE — literally the same replay
  m + ("q_bpe_batched" -> m("q_bpe"))
  }
}
