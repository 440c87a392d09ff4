package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{AlgoOperator, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Corpus-level collocation extraction: score every adjacent word pair
 * by pointwise mutual information and Dunning's log-likelihood ratio
 * (Manning & Schütze, "Foundations of Statistical NLP" ch. 5; Dunning
 * 1993) — the classic "which word pairs belong together" primitives
 * behind phrase detection, tokenizer seeding, and topical-corpus
 * diagnostics. The reference has no text-statistics tier —
 * beyond-reference addition.
 *
 * All probabilities are estimated from the BIGRAM table (one
 * consistent sample space): with N total bigrams, c12 the pair count,
 * c1• the count of bigrams starting with w1 and c•2 ending with w2,
 *
 *   pmi = log2( c12 · N / (c1• · c•2) )                  (bits)
 *   llr = 2 · Σ k · ln( k · N / (rowSum · colSum) )      (G², Dunning)
 *
 * over the 2×2 contingency table (k11 = c12, k12 = c1•−c12,
 * k21 = c•2−c12, k22 = N−c1•−c•2+c12; zero cells contribute 0). PMI
 * overweights rare pairs (its known failure mode); G² is the ranking
 * to trust at corpus scale — both are emitted.
 *
 * Scale shape: ONE map-side-combinable groupBy to the bigram table;
 * both margins derive FROM that table (two tiny aggregations of
 * distinct-pair rows, never a second corpus scan) and join back
 * broadcast-or-shuffle on the slim pair rows; the total is a scalar
 * aggregate. `minCount` prunes the long tail before the joins; top-k
 * by (llr desc, pair) compiles to TakeOrdered.
 */
class CollocationScorer extends AlgoOperator[CollocationScorer]
    with HasInputCol[CollocationScorer] {

  final val minCount: Param[Long] = param[Long](
    "minCount", "Drop pairs seen fewer times (also prunes the tail before the margin joins)",
    5L, ParamValidators.gt(0L))
  def getMinCount: Long = get(minCount)
  def setMinCount(v: Long): CollocationScorer = set(minCount, v)

  final val topK: Param[Int] = param[Int](
    "topK", "Collocations to keep, by (llr desc, w1, w2) — deterministic",
    1000, ParamValidators.gt(0))
  def getTopK: Int = get(topK)
  def setTopK(v: Int): CollocationScorer = set(topK, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head

    // the distinct-pair table feeds FOUR consumers (margins ×2, total,
    // survivors) — store it so the corpus explode+aggregate runs
    // once, and release it after the (≤ topK)-row result materializes
    Array(Loop.scoped { stored =>
      val pairs = stored.cache(df
        .select(explode(NgramLm.bigrams(NgramLm.tokens(col(getInputCol)))).as("p"))
        .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .agg(count(lit(1)).as("n12")))
      // margins and total from the (much smaller) distinct-pair table
      val left = pairs.groupBy("w1").agg(sum("n12").as("n1"))
      val right = pairs.groupBy("w2").agg(sum("n12").as("n2"))
      val total = pairs.agg(sum("n12").as("__cs_n"))

      val n = col("__cs_n").cast("double")
      val (k11, k12, k21) =
        (col("n12").cast("double"), col("n1").cast("double") - col("n12"),
          col("n2").cast("double") - col("n12"))
      val k22 = n - col("n1") - col("n2") + col("n12")
      // a zero cell contributes 0 (lim k→0 of k·ln(k·N/E) = 0)
      def term(k: org.apache.spark.sql.Column, row: org.apache.spark.sql.Column,
          c: org.apache.spark.sql.Column) =
        when(k > 0.0, k * log(k * n / (row * c))).otherwise(0.0)
      val llr = lit(2.0) * (
        term(k11, col("n1").cast("double"), col("n2").cast("double")) +
          term(k12, col("n1").cast("double"), n - col("n2")) +
          term(k21, n - col("n1"), col("n2").cast("double")) +
          term(k22, n - col("n1"), n - col("n2")))
      val pmi = log2(col("n12") * n / (col("n1").cast("double") * col("n2")))

      val scored = pairs
        .where(col("n12") >= getMinCount)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(broadcast(total))
        .select(col("w1"), col("w2"), col("n12"), col("n1"), col("n2"),
          pmi.as("pmi"), llr.as("llr"))
        .orderBy(col("llr").desc, col("w1"), col("w2"))
        .limit(getTopK)
      // materialize the (<= topK)-row result so the pair cache can be
      // released now rather than leaking past the operator; topK bounds
      // the driver transfer by construction (collocation lists are
      // dashboard-sized — raise topK deliberately, not by default)
      val rows = scored.collect()
      df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), scored.schema)
    })
  }
}

object CollocationScorer extends StageLoader[CollocationScorer] {
  def load(spark: SparkSession, path: String): CollocationScorer =
    ReadWrite.applyParams(new CollocationScorer, path)
}
