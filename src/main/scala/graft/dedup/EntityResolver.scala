package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{AlgoOperator, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * End-to-end entity resolution over a string key: every row gets an
 * `entityCol` naming the canonical record of its fuzzy-duplicate
 * cluster. The classic record-linkage composition, packaged as ONE
 * stage so the pieces stay correctly wired:
 *
 *  1. candidate pairs: [[graft.join.FuzzyJoiner]] self-join at
 *     `maxDistance` (exact Levenshtein recall via the Ed-Join prefix
 *     filter — no hashing loss, hot grams never explode);
 *  2. transitive closure: [[ConnectedComponents]] over the match
 *     pairs (pairs are matches, entities are the CLOSURE of matches:
 *     "J0hn Smith" links "John Smith" to "J0hn Smlth" even though
 *     those two sit at distance 2);
 *  3. canonicalization: each cluster is labeled by its MINIMUM id
 *     (ConnectedComponents' component label), unmatched rows by
 *     their own id.
 *
 * Note the semantics this inherits: edit distance is not transitive,
 * so a cluster's diameter can exceed `maxDistance` — that is the
 * POINT of the closure (fix the same typo'd entity at distance 1
 * from two different corruptions), but on low-entropy keys it can
 * chain unrelated records together. Normalize upstream
 * (TextNormalizer) and keep `maxDistance` tight.
 *
 * Scale shape: the only non-FuzzyJoiner shuffles are the component
 * loop over the MATCH PAIRS (orders of magnitude smaller than the
 * input — only colliding pairs survive the prefix filter) and one
 * broadcast-or-shuffle equi-join of the labels back to the input.
 * Ids must be unique (duplicate ids would silently merge unrelated
 * rows' labels — a limit(1) probe rejects them loudly).
 */
class EntityResolver extends AlgoOperator[EntityResolver]
    with HasInputCol[EntityResolver] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique, orderable id column.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): EntityResolver = set(idCol, v)

  final val entityCol: Param[String] =
    param[String]("entityCol", "Output column: canonical (minimum) id of the row's entity cluster.",
      "entity_id")
  def getEntityCol: String = get(entityCol)
  def setEntityCol(v: String): EntityResolver = set(entityCol, v)

  final val maxDistance: Param[Int] =
    param[Int]("maxDistance", "Maximum Levenshtein distance treated as a match.", 1,
      ParamValidators.gtEq(0.0))
  def getMaxDistance: Int = get(maxDistance)
  def setMaxDistance(v: Int): EntityResolver = set(maxDistance, v)

  final val gramLength: Param[Int] =
    param[Int]("gramLength", "q-gram length for FuzzyJoiner's count filter.", 2,
      ParamValidators.gtEq(1.0))
  def getGramLength: Int = get(gramLength)
  def setGramLength(v: Int): EntityResolver = set(gramLength, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = Loop.scoped { stored =>
    require(inputs.size == 1)
    val df = inputs.head
    val id = getIdCol
    require(!df.columns.contains(getEntityCol),
      s"EntityResolver: input already has a '$getEntityCol' column — set entityCol elsewhere")

    val dupIds = df.groupBy(col(id)).agg(count(lit(1)).as("__n"))
      .where(col("__n") > 1).limit(1).collect()
    require(dupIds.isEmpty,
      s"EntityResolver: id column '$id' is not unique — first offender: ${dupIds.head.get(0)}")

    val pairs = stored(new graft.join.FuzzyJoiner()
      .setIdCol(id).setInputCol(getInputCol)
      .setMaxDistance(getMaxDistance).setGramLength(getGramLength)
      .transform(df, df).head)
      .where(col("left_id") < col("right_id"))

    val comps = stored(ConnectedComponents.run(pairs, "left_id", "right_id").state)
      .select(col("id").as("__er_id"), col("component").as("__er_comp"))

    Array(Loop.keep(df.join(comps, df(id) === comps("__er_id"), "left_outer")
      .withColumn(getEntityCol, coalesce(col("__er_comp"), df(id)))
      .drop("__er_id", "__er_comp")))
  }
}

object EntityResolver extends StageLoader[EntityResolver] {
  def load(spark: SparkSession, path: String): EntityResolver =
    ReadWrite.applyParams(new EntityResolver, path)
}
