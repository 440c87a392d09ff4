package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{StageLoader, Transformer}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Okapi BM25 relevance scoring of a corpus against a fixed query-term
 * set (Robertson & Zaragoza 2009, "The Probabilistic Relevance
 * Framework: BM25 and Beyond"). The retrieval primitive of a
 * training-data pipeline: rank documents by topical relevance for
 * curriculum selection or targeted decontamination.
 *
 *   score(d, q) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
 *   idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))
 *
 * Scale plan: tokens are filtered to the query vocabulary IN-ROW
 * (array `filter`, codegen'd) before the explode, so the only shuffle
 * carries query-matching tokens — a tiny fraction of the corpus — and
 * the (doc, term) count benefits from map-side partial aggregation.
 * Document frequencies (≤ |q| rows) and the corpus stats (1 row) join
 * back as broadcasts; per-document term scores are summed in sorted
 * term order for run-to-run determinism. Nothing is collected to the
 * driver. The scored frame is returned stored ([[graft.iteration.Loop.keep]],
 * one job): the caller's `unpersist` frees it, and nothing else of the
 * call remains.
 */
class Bm25Scorer extends Transformer[Bm25Scorer]
    with HasInputCol[Bm25Scorer] with HasOutputCol[Bm25Scorer] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column.", "id", ParamValidators.notNull)
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): Bm25Scorer = set(idCol, v)

  final val queryTerms: Param[Array[String]] =
    paramNoDefault[Array[String]]("queryTerms", "Query terms to score against.",
      ParamValidators.nonEmptyArray)
  def getQueryTerms: Array[String] = get(queryTerms)
  def setQueryTerms(v: String*): Bm25Scorer = set(queryTerms, v.toArray)

  final val k1: Param[Double] =
    param[Double]("k1", "Term-frequency saturation.", 1.2, ParamValidators.gtEq(0))
  def getK1: Double = get(k1)
  def setK1(v: Double): Bm25Scorer = set(k1, v)

  final val b: Param[Double] =
    param[Double]("b", "Length-normalization strength.", 0.75, ParamValidators.inRange(0, 1))
  def getB: Double = get(b)
  def setB(v: Double): Bm25Scorer = set(b, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val docs = inputs.head
    val text = col(getInputCol)
    val id = getIdCol
    val q = lit(getQueryTerms)
    val words = split(trim(text), "\\s+")
    val dl = when(length(trim(text)) === 0, 0L).otherwise(size(words)).cast("double")

    // stored: consumed by both the corpus stats and the tf explode —
    // without the cache each would re-tokenize the full corpus. The
    // cached projection is tiny (id, length, query-matching tokens
    // only) and is released once the returned frame is stored.
    Array(Loop.scoped { stored =>
      val withLen = stored.cache(docs.select(col(id), dl.as("__dl"),
        filter(words, t => array_contains(q, t)).as("__qtoks")))
      val stats = withLen.agg(
        count(lit(1)).cast("double").as("__n_docs"), avg("__dl").as("__avgdl"))
      val tf = withLen
        .select(col(id), col("__dl"), explode(col("__qtoks")).as("__term"))
        .groupBy(col(id), col("__dl"), col("__term"))
        .agg(count(lit(1)).cast("double").as("__tf"))
      val dfreq = tf.groupBy("__term").agg(count(lit(1)).cast("double").as("__df"))

      val k1v = getK1
      val bv = getB
      val perTerm = tf
        .join(broadcast(dfreq), "__term")
        .crossJoin(broadcast(stats))
        .withColumn("__idf",
          log(lit(1.0) + (col("__n_docs") - col("__df") + 0.5) / (col("__df") + 0.5)))
        .withColumn("__s",
          col("__idf") * col("__tf") * (k1v + 1.0) /
            (col("__tf") + lit(k1v) * (lit(1.0 - bv) + lit(bv) * col("__dl") / col("__avgdl"))))
      // sum per-term contributions in term order: FP addition isn't
      // associative and an unordered agg would make the score flap at
      // the last ulp between runs
      val scored = perTerm.groupBy(col(id))
        .agg(aggregate(
          sort_array(collect_list(struct(col("__term"), col("__s")))),
          lit(0.0), (acc, x) => acc + x.getField("__s")).as(getOutputCol))

      Loop.keep(docs.join(scored, Seq(id), "left")
        .withColumn(getOutputCol, coalesce(col(getOutputCol), lit(0.0))))
    })
  }
}
object Bm25Scorer extends StageLoader[Bm25Scorer] {
  def load(spark: SparkSession, path: String): Bm25Scorer =
    ReadWrite.applyParams(new Bm25Scorer, path)
}
