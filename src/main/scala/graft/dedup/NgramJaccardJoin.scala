package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{AlgoOperator, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * EXACT n-gram Jaccard similarity self-join with prefix filtering —
 * the recall-1 member of the dedup family (MinHash and SimHash trade
 * recall for speed; this one trades nothing and still avoids the
 * all-pairs product).
 *
 * Prefix-filter principle (PPJoin family): order every set's tokens
 * by ascending global frequency; a pair with Jaccard ≥ t MUST share
 * at least one token inside each side's first |A| − ⌈t·|A|⌉ + 1
 * tokens. Candidates therefore come from an equi-join on PREFIX
 * tokens only — and because prefixes prefer the RAREST tokens, hot
 * shingles (stop-phrases) never generate candidate pairs unless a
 * set consists of nothing else.
 *
 * Output: (id_a, id_b, similarity) for all unordered pairs with
 * exact Jaccard similarity ≥ threshold, returned stored
 * ([[graft.iteration.Loop.keep]]): the caller's `unpersist` frees it.
 *
 * Scale shape (100 TB design): one shuffle for token frequencies,
 * one for the per-set ordered arrays, an equi-join on (rare) prefix
 * tokens, and the exact filter on distinct candidate pairs. The
 * candidate shuffle carries (id, token) pairs only — full arrays
 * join in just for surviving candidates.
 */
class NgramJaccardJoin extends AlgoOperator[NgramJaccardJoin]
    with HasInputCol[NgramJaccardJoin] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique document id column.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): NgramJaccardJoin = set(idCol, v)

  final val threshold: Param[Double] =
    param[Double]("threshold", "Minimum Jaccard similarity of the shingle sets.",
      0.8, ParamValidators.gt(0.0))
  def getThreshold: Double = get(threshold)
  def setThreshold(v: Double): NgramJaccardJoin = set(threshold, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head
    val t = getThreshold

    // set semantics: distinct tokens, empty sets drop out. Stored:
    // this slim projection feeds four consumers (token frequencies,
    // the ranked arrays, and both sides of the exact-filter join-back),
    // and the caller's upstream lineage is typically UDF-heavy
    // (tokenize → shingle) — without the cache it would be re-evaluated
    // per consumer.
    Array(Loop.scoped { stored =>
      val sets = stored.cache(df
        .select(col(getIdCol).as("id"), array_distinct(col(getInputCol)).as("toks"))
        .where(size(col("toks")) > 0))

      // global token frequencies → rarity order (freq asc, token asc for determinism)
      val freq = sets.select(explode(col("toks")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))

      val ordered = sets.select(col("id"), explode(col("toks")).as("tok"))
        .join(freq, "tok")
        .groupBy("id")
        .agg(sort_array(collect_list(struct(col("cnt"), col("tok")))).as("ranked"))
        .select(col("id"),
          expr("transform(ranked, r -> r.tok)").as("otoks"),
          size(col("ranked")).as("sz"))

      // prefix length |A| - ceil(t*|A|) + 1
      val withPrefix = ordered.withColumn("plen",
        col("sz") - ceil(col("sz") * t).cast("int") + 1)
      val prefixes = withPrefix.select(col("id"), col("sz"),
        explode(slice(col("otoks"), lit(1), greatest(col("plen"), lit(1)))).as("tok"))

      val a = prefixes.select(col("id").as("id_a"), col("sz").as("sz_a"), col("tok"))
      val b = prefixes.select(col("id").as("id_b"), col("sz").as("sz_b"), col("tok"))
      // length filter (PPJoin): Jaccard ≥ t forces min(|A|,|B|) ≥
      // t·max(|A|,|B|) — prunes candidates before the distinct and the
      // full-array join-back, at zero recall cost
      val candidates = a.join(b, "tok")
        .where(col("id_a") < col("id_b") &&
          least(col("sz_a"), col("sz_b")) >= greatest(col("sz_a"), col("sz_b")) * t)
        .select("id_a", "id_b").distinct()

      val jac = udf { (x: Seq[String], y: Seq[String]) =>
        val sx = x.toSet; val sy = y.toSet
        val inter = sx.intersect(sy).size
        inter.toDouble / (sx.size + sy.size - inter)
      }
      Loop.keep(candidates
        .join(sets.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
        .join(sets.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
        .withColumn("similarity", jac(col("ta"), col("tb")))
        .where(col("similarity") >= t)
        .select("id_a", "id_b", "similarity"))
    })
  }
}
object NgramJaccardJoin extends StageLoader[NgramJaccardJoin] {
  def load(spark: SparkSession, path: String): NgramJaccardJoin =
    ReadWrite.applyParams(new NgramJaccardJoin, path)
}
