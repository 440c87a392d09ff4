package graft.join

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.{AlgoOperator, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Edit-distance (Levenshtein ≤ k) join between two tables of short
 * strings — record linkage over names/titles/codes where MinHash-
 * style token dedup is too coarse. `transform(left, right)` emits
 * `(left_id, right_id, distance)` for every cross-table pair within
 * `maxDistance`, with EXACT recall (no sampling, no hashing loss).
 *
 * The all-pairs product is avoided with the q-gram count bound
 * (Gravano et al., "Approximate String Joins in a Database (Almost)
 * for Free", VLDB 2001) sharpened by Ed-Join's PREFIX filter (Xiao
 * et al., VLDB 2008): strings within edit distance k must share at
 * least max(|s|,|t|) − q + 1 − k·q q-grams as a MULTISET — so,
 * ordering every string's (gram, occurrence-index) elements by
 * ascending global frequency, a qualifying pair MUST collide inside
 * each side's k·q + 1 RAREST elements. Candidates come from an
 * equi-join on those prefix elements only — hot grams (the small-
 * alphabet blow-up of the naive gram join) never generate candidates
 * because a prefix prefers whatever is rare — then the length filter
 * |len diff| ≤ k and an exact `levenshtein` verify on the surviving
 * pairs. The occurrence index makes multiset semantics exact: the
 * i-th copy of a gram is its own element, so repeated grams count
 * min(n_left, n_right) times, as the bound requires.
 *
 * Strings short enough that the count bound is vacuous
 * (max(len) ≤ q−1+k·q, including the len < q zone with no grams at
 * all) take a separate COMPLETE path: a banded length equi-join
 * (right replicates to len±k keys) + the same verify. The two paths
 * partition the pair space (a pair's max(len) is either ≤ or > the
 * bound), so every qualifying pair is found exactly once.
 *
 * Scale shape: gram extraction is in-row Column math; the occurrence
 * index and prefix selection are one window + one groupBy; the
 * candidate join carries k·q + 1 slim rows per string biased to the
 * RAREST elements; strings join back only for surviving candidates.
 * The short-string path is all-pairs WITHIN a length band — bounded
 * by the band's population, the honest cost when the filter has no
 * power.
 */
class FuzzyJoiner extends AlgoOperator[FuzzyJoiner]
    with HasInputCol[FuzzyJoiner] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique id column, present in both inputs.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): FuzzyJoiner = set(idCol, v)

  final val maxDistance: Param[Int] =
    param[Int]("maxDistance", "Maximum Levenshtein distance to join at.", 2,
      ParamValidators.gtEq(0.0))
  def getMaxDistance: Int = get(maxDistance)
  def setMaxDistance(v: Int): FuzzyJoiner = set(maxDistance, v)

  final val gramLength: Param[Int] =
    param[Int]("gramLength", "q-gram length for the count filter.", 2,
      ParamValidators.gtEq(1.0))
  def getGramLength: Int = get(gramLength)
  def setGramLength(v: Int): FuzzyJoiner = set(gramLength, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 2, "FuzzyJoiner expects (left, right) inputs")
    val k = getMaxDistance
    val q = getGramLength
    val shortBound = q - 1 + k * q

    // SELF-join detection (both query-path callers pass the same
    // DataFrame object): the gram explode, the frequency table and the
    // per-string prefix window are identical on both sides, so compute
    // them ONCE and join the shared prefix table with itself — halves
    // the gram/window work and (with the persist) the upstream scans.
    // Frequencies come from ONE side instead of the two-sided union:
    // for identical inputs the union doubles every (gram, occ) count,
    // and c -> 2c is strictly monotone, so the (cnt, gram, occ) prefix
    // ordering — and therefore the selected prefix elements and the
    // candidate set — is unchanged (ties still break on (gram, occ)).
    if (inputs(0) eq inputs(1)) return Array(selfTransform(inputs(0)))

    def prep(df: DataFrame, side: String): DataFrame =
      df.select(col(getIdCol).as(s"${side}_id"),
        col(getInputCol).cast("string").as(s"${side}_s"))
        .where(col(s"${side}_s").isNotNull)
        .withColumn(s"${side}_len", length(col(s"${side}_s")))
    val left = prep(inputs(0), "left")
    val right = prep(inputs(1), "right")

    // (gram, occ) multiset elements: occ numbers repeat grams so each
    // copy is its own element and prefix collisions respect multiset
    // intersection counts
    def grams(df: DataFrame, side: String): DataFrame = {
      val gs = expr(
        s"transform(sequence(0, ${side}_len - $q), i -> substring(${side}_s, i + 1, $q))")
      df.where(col(s"${side}_len") >= q)
        .select(col(s"${side}_id").as("id"), col(s"${side}_len").as("len"),
          posexplode(gs).as(Seq("pos", "gram")))
        .withColumn("occ", row_number().over(
          Window.partitionBy("id", "gram").orderBy("pos")))
        .drop("pos")
    }
    val leftGrams = grams(left, "left")
    val rightGrams = grams(right, "right")

    // global element frequencies over BOTH inputs (prefix completeness
    // needs one shared ordering), then each string keeps its kq+1
    // rarest elements (frequency asc, gram/occ as the tie-break)
    val freq = leftGrams.select("gram", "occ").unionAll(rightGrams.select("gram", "occ"))
      .groupBy("gram", "occ").agg(count(lit(1)).as("cnt"))
    def prefixes(g: DataFrame): DataFrame = g
      .join(freq, Seq("gram", "occ"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("cnt"), col("gram"), col("occ"))))
      .where(col("rk") <= k * q + 1)
      .select("id", "len", "gram", "occ")

    // gram path: pairs whose longer string exceeds the vacuous zone
    val gramCandidates = prefixes(leftGrams)
      .select(col("id").as("left_id"), col("len").as("left_len"), col("gram"), col("occ"))
      .join(prefixes(rightGrams)
        .select(col("id").as("right_id"), col("len").as("right_len"), col("gram"), col("occ")),
        Seq("gram", "occ"))
      .where(abs(col("left_len") - col("right_len")) <= k &&
        greatest(col("left_len"), col("right_len")) > shortBound)
      .select("left_id", "right_id").distinct()

    // short path: max(len) ≤ shortBound — banded all-pairs + verify.
    // |len diff| ≤ k via k+1 replicated band keys on the right only.
    val shortLeft = left.where(col("left_len") <= shortBound)
      .withColumn("band", col("left_len"))
    val shortRight = right.where(col("right_len") <= shortBound)
      .select(col("right_id"), col("right_len"),
        explode(sequence(col("right_len") - k, col("right_len") + k)).as("band"))
    val shortCandidates = shortLeft.join(shortRight, "band")
      // the pair belongs here only if BOTH interpretations agree the
      // longer string is inside the vacuous zone (disjoint paths)
      .where(greatest(col("left_len"), col("right_len")) <= shortBound)
      .select("left_id", "right_id")

    val candidates = gramCandidates.union(shortCandidates)
    val out = candidates
      .join(left.select("left_id", "left_s"), "left_id")
      .join(right.select("right_id", "right_s"), "right_id")
      .withColumn("distance", levenshtein(col("left_s"), col("right_s")))
      .where(col("distance") <= k)
      .select("left_id", "right_id", "distance")
    Array(out)
  }

  /** Self-join fast path: one prep, one gram explode, one frequency
    * aggregation, one prefix window — the shared tables persist and
    * both sides of the candidate join read them. Candidate set and
    * output are IDENTICAL to the two-sided path on (df, df) (see the
    * ordering argument at the dispatch site); FuzzyJoinerSpec pins the
    * equivalence. */
  private def selfTransform(df: DataFrame): DataFrame = Loop.scoped { stored =>
    val k = getMaxDistance
    val q = getGramLength
    val shortBound = q - 1 + k * q

    // slim (id, s, len) — feeds the gram path, both short-path sides
    // and both verify join-backs; persisted so the caller's upstream
    // lineage is evaluated once
    val base = stored.cache(df.select(col(getIdCol).as("id"),
        col(getInputCol).cast("string").as("s"))
      .where(col("s").isNotNull)
      .withColumn("len", length(col("s"))))

    // (gram, occ) multiset elements, as in grams() above — consumed by
    // the frequency aggregate AND the prefix join, so persisted
    val gs = expr(
      s"transform(sequence(0, len - $q), i -> substring(s, i + 1, $q))")
    val gramTable = stored.cache(base.where(col("len") >= q)
      .select(col("id"), col("len"), posexplode(gs).as(Seq("pos", "gram")))
      .withColumn("occ", row_number().over(
        Window.partitionBy("id", "gram").orderBy("pos")))
      .drop("pos"))

    val freq = gramTable.groupBy("gram", "occ").agg(count(lit(1)).as("cnt"))
    val prefixes = stored.cache(gramTable
      .join(freq, Seq("gram", "occ"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("cnt"), col("gram"), col("occ"))))
      .where(col("rk") <= k * q + 1)
      .select("id", "len", "gram", "occ"))

    val gramCandidates = prefixes
      .select(col("id").as("left_id"), col("len").as("left_len"), col("gram"), col("occ"))
      .join(prefixes
        .select(col("id").as("right_id"), col("len").as("right_len"), col("gram"), col("occ")),
        Seq("gram", "occ"))
      .where(abs(col("left_len") - col("right_len")) <= k &&
        greatest(col("left_len"), col("right_len")) > shortBound)
      .select("left_id", "right_id").distinct()

    val shortLeft = base.where(col("len") <= shortBound)
      .select(col("id").as("left_id"), col("len").as("left_len"))
      .withColumn("band", col("left_len"))
    val shortRight = base.where(col("len") <= shortBound)
      .select(col("id").as("right_id"), col("len").as("right_len"),
        explode(sequence(col("len") - k, col("len") + k)).as("band"))
    val shortCandidates = shortLeft.join(shortRight, "band")
      .where(greatest(col("left_len"), col("right_len")) <= shortBound)
      .select("left_id", "right_id")

    Loop.keep(gramCandidates.union(shortCandidates)
      .join(base.select(col("id").as("left_id"), col("s").as("left_s")), "left_id")
      .join(base.select(col("id").as("right_id"), col("s").as("right_s")), "right_id")
      .withColumn("distance", levenshtein(col("left_s"), col("right_s")))
      .where(col("distance") <= k)
      .select("left_id", "right_id", "distance"))
  }
}

object FuzzyJoiner extends StageLoader[FuzzyJoiner] {
  def load(spark: SparkSession, path: String): FuzzyJoiner =
    ReadWrite.applyParams(new FuzzyJoiner, path)
}
