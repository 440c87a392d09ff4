package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.{AlgoOperator, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Exact heavy-key report for join/partition skew diagnosis: for each
 * requested column, the top-k most frequent values with exact counts
 * and row share — the first thing to look at when one task runs 100×
 * longer than its siblings (a hot join key, a default/sentinel value,
 * a null flood). Output: (column, key, n, share, rank), rank 1 = the
 * heaviest key of that column.
 *
 * Scale shape: ONE pass over the input builds (column, value) pairs
 * in-row (posexplode of the stringified columns) into one
 * map-side-combinable groupBy; each column's top-k then comes from a
 * TakeOrdered (`orderBy.limit` — per-partition heaps) over the shared
 * aggregated table, NEVER a per-column window sort, which would drag
 * a high-cardinality column's entire distinct set into one task. The
 * total for `share` is derived from the persisted counts table (sum
 * of n over any one column = input rows, since each column contributes
 * exactly one value per row) — the input is scanned exactly once.
 *
 * Nulls are real skew (often THE skew) and are counted under the
 * sentinel `<null>`; values are compared as strings with ties broken
 * ascending, so the report is deterministic.
 */
class SkewReport extends AlgoOperator[SkewReport] {

  final val keyCols: Param[Array[String]] = param[Array[String]](
    "keyCols", "Columns to profile for heavy keys",
    Array.empty[String], (a: Array[String]) => a != null && a.nonEmpty)
  def getKeyCols: Array[String] = get(keyCols)
  def setKeyCols(v: String*): SkewReport = set(keyCols, v.toArray)

  final val topK: Param[Int] = param[Int](
    "topK", "Heavy keys reported per column", 20, ParamValidators.gt(0))
  def getTopK: Int = get(topK)
  def setTopK(v: Int): SkewReport = set(topK, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head
    val cols = getKeyCols.toSeq
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"SkewReport: no such column(s): ${missing.mkString(", ")}")

    val valueArr = array(cols.map(c => coalesce(col(c).cast("string"), lit("<null>"))): _*)
    val nameArr = array(cols.map(lit): _*)
    val k = getTopK
    Array(Loop.scoped { stored =>
      val counts = stored.cache(df
        .select(posexplode(valueArr).as(Seq("__sr_i", "key")))
        .withColumn("column", element_at(nameArr, col("__sr_i") + 1))
        .groupBy("column", "key").agg(count(lit(1)).as("n")))

      // total row count derived from the already-persisted counts table
      // (each column contributes exactly one value per row, so summing n
      // over any single column = input rows) — NOT a second scan of df;
      // this aggregate also materializes the counts cache for the
      // per-column TakeOrdereds below
      val total = counts.where(col("column") === cols.head)
        .agg(coalesce(sum("n"), lit(0L))).head.getLong(0)

      val perCol = cols.map { c =>
        counts.where(col("column") === c)
          .orderBy(col("n").desc, col("key").asc)
          .limit(k)
      }
      val ranked = perCol.reduce(_ unionByName _)
        .withColumn("rank",
          row_number().over(Window.partitionBy("column")
            .orderBy(col("n").desc, col("key").asc)))
        .withColumn("share", col("n") / lit(total.toDouble))
        .select("column", "key", "n", "share", "rank")
      // materialize the (<= cols·topK)-row report so the shared counts
      // cache releases inside the operator (the CollocationScorer
      // convention — reports are dashboard-sized by construction)
      val rows = ranked.collect()
      df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), ranked.schema)
    })
  }
}

object SkewReport extends StageLoader[SkewReport] {
  def load(spark: SparkSession, path: String): SkewReport =
    ReadWrite.applyParams(new SkewReport, path)
}
