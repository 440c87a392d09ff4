package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Estimator, Model, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Add-k-smoothed bigram language model for perplexity-based quality
 * filtering (the CCNet recipe, Wenzek et al. 2020: score web text
 * against an LM and keep the low-perplexity tail). `fit` counts the
 * corpus bigrams; `transform` appends per-document cross-entropy
 * (bits per bigram) and perplexity:
 *
 *   P(w₂|w₁) = (c(w₁w₂) + k) / (c(w₁·) + k·V)
 *   bits(d)  = −(1/m) Σᵢ log₂ P(wᵢ₊₁|wᵢ),   ppl(d) = 2^bits
 *
 * where V is the corpus vocabulary size and c(w₁·) sums the bigram
 * counts with left context w₁. Documents with fewer than two tokens
 * get null bits/perplexity.
 *
 * Scale shape: fitting is explode → count groupBy — partial
 * aggregation does the heavy lifting map-side, and the model is the
 * (w₁,w₂,c) count table, a DataFrame that never touches the driver.
 * Scoring joins each document's bigrams against that table; Spark
 * broadcasts it when small and shuffle-joins otherwise — both the
 * plans you'd want at 100 TB. Per-document log-probs are summed in
 * position order (sequential fold over the collected bigram list)
 * because FP addition is not associative and an unordered SUM would
 * flap the last ulp between runs.
 *
 * The exact table has one row per DISTINCT corpus bigram — web-scale
 * corpora have billions, so `hashBuckets > 0` applies the DSIR
 * hashing trick (Xie et al. 2023 §2: hash n-grams into a fixed
 * feature space): the bigram key becomes xxhash64(w₁,w₂) mod B and
 * the context key xxhash64(w₁) mod B, giving two count tables of at
 * most B rows each regardless of corpus vocabulary (colliding grams
 * pool their counts — the usual hashing-trick bias). With no
 * collisions the hash is a bijection on the observed grams, so the
 * hashed model's probabilities — and therefore bits/perplexity —
 * equal the exact model's ('NgramLmHashedSpec' pins this parity).
 *
 * No reference counterpart — beyond-reference LLM-data-pipeline tier.
 */
class NgramLm extends Estimator[NgramLm, NgramLmModel]
    with HasInputCol[NgramLm] with HasOutputCol[NgramLm] {

  final val smoothing: Param[Double] =
    param[Double]("smoothing", "Add-k smoothing constant.", 0.1, ParamValidators.gt(0))
  def getSmoothing: Double = get(smoothing)
  def setSmoothing(v: Double): NgramLm = set(smoothing, v)

  final val hashBuckets: Param[Int] =
    param[Int]("hashBuckets", "When > 0, hash bigram and context keys into this many " +
      "buckets (DSIR hashing trick) so each model table is bounded by hashBuckets rows; " +
      "0 = exact string keys.", 0, ParamValidators.gtEq(0))
  def getHashBuckets: Int = get(hashBuckets)
  def setHashBuckets(v: Int): NgramLm = set(hashBuckets, v)

  override def fit(inputs: DataFrame*): NgramLmModel = {
    require(inputs.size == 1)
    val spark = inputs.head.sparkSession
    import spark.implicits._
    val words = NgramLm.tokens(col(getInputCol))
    val toks = inputs.head.select(words.as("__w"))
    val m = new NgramLmModel()
    if (getHashBuckets > 0) {
      val b = getHashBuckets.toLong
      // one corpus scan: partial-agg the exploded grams down to
      // distinct (ctxBucket, bgBucket) pairs, then derive the two
      // bounded (≤ B rows each) model tables from that intermediate
      val (bgCounts, ctxCounts) = Loop.scoped { stored =>
        val pairs = stored.cache(toks
          .select(explode(NgramLm.bigrams(col("__w"))).as("__bg"))
          .groupBy(pmod(xxhash64(col("__bg.w1")), lit(b)).as("ctx"),
            pmod(xxhash64(col("__bg.w1"), col("__bg.w2")), lit(b)).as("bg"))
          .agg(count(lit(1)).as("c")))
        (Loop.keep(pairs.groupBy("bg").agg(sum("c").as("c"))),
          Loop.keep(pairs.groupBy("ctx").agg(sum("c").as("c"))))
      }
      // vocab over hashed tokens: ≤ B, and = exact vocab when collision-free
      val vocab = toks.select(explode(col("__w")).as("__t"))
        .agg(countDistinct(pmod(xxhash64(col("__t")), lit(b)))
          .cast("long").as("vocabSize")).head().getLong(0)
      m.setModelData(bgCounts, Seq(vocab).toDF("vocabSize"), ctxCounts)
    } else {
      // stored: the model table would otherwise be lineage over the
      // corpus, and transform() consumes it twice (context totals + the
      // per-document join) — each consumer would re-read and re-count the
      // whole corpus
      val bigrams = Loop.keep(toks
        .select(posexplode(NgramLm.bigrams(col("__w"))).as(Seq("__p", "__bg")))
        .groupBy(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
        .agg(count(lit(1)).as("c")))
      // vocab size collapses to one number at fit time: a local-relation
      // stats table instead of a corpus-scan lineage per transform()
      val vocab = toks.select(explode(col("__w")).as("__t"))
        .agg(countDistinct("__t").cast("long").as("vocabSize")).head().getLong(0)
      m.setModelData(bigrams, Seq(vocab).toDF("vocabSize"))
    }
    copyParamsTo(m)
    m.set(m.smoothing, getSmoothing)
    m.set(m.hashBuckets, getHashBuckets)
    m
  }
}
object NgramLm extends StageLoader[NgramLm] {
  /** Whitespace tokens; empty/blank text → empty array. */
  private[text] def tokens(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Consecutive (w1, w2) struct pairs of a token array, in order.
    * Length clamped to ≥ 0: slice() rejects negative lengths on
    * empty token arrays. */
  private[text] def bigrams(words: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val len = greatest(size(words) - 1, lit(0))
    zip_with(slice(words, lit(1), len), slice(words, lit(2), len),
      (a, b) => struct(a.as("w1"), b.as("w2")))
  }

  def load(spark: SparkSession, path: String): NgramLm =
    ReadWrite.applyParams(new NgramLm, path)
}

/**
 * Scores documents against the fitted bigram table. Model data:
 * exact mode — table 0 = (w1, w2, c) bigram counts, table 1 =
 * (vocabSize) stats; hashed mode (`hashBuckets > 0`) — table 0 =
 * (bg, c) bigram-bucket counts, table 1 = stats, table 2 = (ctx, c)
 * context-bucket counts.
 * Appends `<outputCol>_bits` (cross-entropy, bits/bigram) and
 * `<outputCol>` (perplexity, 2^bits); null for docs with < 2 tokens.
 */
class NgramLmModel extends Model[NgramLmModel]
    with HasInputCol[NgramLmModel] with HasOutputCol[NgramLmModel] {

  final val smoothing: Param[Double] =
    param[Double]("smoothing", "Add-k smoothing constant.", 0.1, ParamValidators.gt(0))
  def getSmoothing: Double = get(smoothing)

  final val hashBuckets: Param[Int] =
    param[Int]("hashBuckets", "Bucket count the model was fitted with; 0 = exact keys.",
      0, ParamValidators.gtEq(0))
  def getHashBuckets: Int = get(hashBuckets)

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): NgramLmModel = set(idCol, v)

  private var bigramCounts: DataFrame = _
  private var stats: DataFrame = _
  private var ctxCounts: DataFrame = _
  override def setModelData(data: DataFrame*): NgramLmModel = {
    require(data.size == 2 || data.size == 3,
      "expected (bigramCounts, stats) or (bgCounts, stats, ctxCounts)")
    bigramCounts = data(0); stats = data(1)
    ctxCounts = if (data.size == 3) data(2) else null
    this
  }
  override def getModelData: Array[DataFrame] =
    if (ctxCounts == null) Array(bigramCounts, stats)
    else Array(bigramCounts, stats, ctxCounts)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head
    val id = getIdCol
    val k = getSmoothing
    // vocabSize is one number; context totals are O(vocab) — derived
    // from the model table with one partial agg, never from raw data
    val vocabSize = stats.head().getLong(0)

    val words = NgramLm.tokens(col(getInputCol))
    val docBigrams = df
      .select(col(id).as("__id"), NgramLm.bigrams(words).as("__bgs"))
      .withColumn("__m", size(col("__bgs")))
      .select(col("__id"), col("__m"),
        posexplode_outer(col("__bgs")).as(Seq("__p", "__bg")))
    val logp = log(2.0,
      (coalesce(col("c"), lit(0L)).cast("double") + k) /
        (coalesce(col("ctx"), lit(0L)).cast("double") + k * vocabSize))
    // same probability formula either way; only the join keys differ
    // (strings vs hash buckets). Spurious bucket matches on the null
    // row of an empty doc are masked by the __p-null guard below.
    val joined = if (getHashBuckets > 0) {
      val b = getHashBuckets.toLong
      docBigrams
        .join(bigramCounts.withColumnRenamed("bg", "__bgk"),
          pmod(xxhash64(col("__bg.w1"), col("__bg.w2")), lit(b)) === col("__bgk"), "left")
        .join(ctxCounts.withColumnRenamed("ctx", "__ctxk").withColumnRenamed("c", "ctx"),
          pmod(xxhash64(col("__bg.w1")), lit(b)) === col("__ctxk"), "left")
    } else {
      val contexts = bigramCounts.groupBy("w1").agg(sum("c").as("ctx"))
      docBigrams
        .join(bigramCounts.withColumnRenamed("w1", "__w1").withColumnRenamed("w2", "__w2"),
          col("__bg.w1") === col("__w1") && col("__bg.w2") === col("__w2"), "left")
        .join(contexts, col("__bg.w1") === col("w1"), "left")
    }
    val perDoc = joined
      .withColumn("__logp", when(col("__p").isNull, lit(null)).otherwise(logp))
      .groupBy("__id")
      .agg(max("__m").as("__m"),
        // ordered sequential fold (see scaladoc): collect (pos, logp),
        // sort by pos, sum left-to-right
        aggregate(
          sort_array(collect_list(struct(col("__p"), col("__logp")))),
          lit(0.0), (acc, x) => acc + x.getField("__logp")).as("__sum"))
      .withColumn("__bits", when(col("__m") < 1, lit(null))
        .otherwise(-col("__sum") / col("__m")))
    Array(df
      .join(perDoc, df(id) === perDoc("__id"), "left")
      .withColumn(getOutputCol + "_bits", col("__bits"))
      .withColumn(getOutputCol, when(col("__bits").isNull, lit(null))
        .otherwise(pow(lit(2.0), col("__bits"))))
      .drop("__id", "__m", "__sum", "__bits"))
  }
}
object NgramLmModel extends StageLoader[NgramLmModel] {
  def load(spark: SparkSession, path: String): NgramLmModel = {
    val m = ReadWrite.applyParams(new NgramLmModel, path)
    if (m.getHashBuckets > 0)
      m.setModelData(ReadWrite.loadModelData(spark, path, 0),
        ReadWrite.loadModelData(spark, path, 1), ReadWrite.loadModelData(spark, path, 2))
    else
      m.setModelData(ReadWrite.loadModelData(spark, path, 0),
        ReadWrite.loadModelData(spark, path, 1))
  }
}
