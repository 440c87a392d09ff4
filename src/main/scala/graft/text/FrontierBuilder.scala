package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Estimator, Model, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Incremental crawl-frontier construction — the step that closes the
 * crawl loop: sitemap locs ([[SitemapExtractor]]), extracted links
 * ([[LinkGraphExtractor]]) and any other URL feed are unified into
 * ONE deduplicated list of not-yet-crawled canonical URLs, against a
 * PERSISTED already-crawled index that grows batch-over-batch (the
 * [[graft.dedup.MinHashIndexer]] incremental pattern applied to md5
 * URL keys). Candidate spellings collapse through
 * [[UrlCanonicalizer]] first, so `HTTPS://h/p?utm_source=x` and
 * `https://h/p` cannot enqueue the same page twice. Robots gating
 * composes upstream ([[RobotsUrlFilter]] filters a candidate table
 * before it is passed in). No reference counterpart —
 * beyond-reference crawl tier.
 *
 * fit(crawled) stores the DISTINCT canonical keys of the crawled
 * URLs as the model data; [[FrontierModel.addCrawled]] appends a new
 * batch's keys (through [[graft.iteration.Loop.append]], so lineage
 * stays bounded on long crawls), and save/load persists the key set —
 * a restarted crawler continues exactly where it stopped.
 *
 * transform(candidates*) takes ANY number of candidate tables (each
 * carrying `urlCol`) and emits one row per NEW canonical key:
 *  - `<o>_url`: the canonical URL (representative spelling);
 *  - `<o>_key`: its md5 canonical key (the index key);
 *  - `<o>_refs`: how many candidate rows collapsed into it (an
 *    in-degree prior — heavily referenced pages first);
 *  - `<o>_sources`: comma-joined sorted distinct input positions
 *    (provenance: "0,1" = seen in both the first and second feed).
 *
 * Scale shape (100 TB crawl state): candidates are slimmed to
 * (url, source) before anything else, canonicalized in-row, rolled
 * up by key with a map-side-combinable groupBy, and anti-joined
 * against the key index — one shuffle over the BATCH (small) plus
 * one over the index per invocation; the crawled index itself stores
 * 16-byte-hex keys, not URLs, so a 10B-page history is a ~500 GB
 * table, joinable by hash without ever touching payload columns.
 */
class FrontierBuilder extends Estimator[FrontierBuilder, FrontierModel]
    with HasOutputCol[FrontierBuilder] {

  final val urlCol: Param[String] = param[String](
    "urlCol", "URL column name, present in the crawled table and every candidate table.", "url")
  def getUrlCol: String = get(urlCol)
  def setUrlCol(v: String): FrontierBuilder = set(urlCol, v)

  override def fit(inputs: DataFrame*): FrontierModel = {
    require(inputs.size == 1, s"fit takes the crawled table, got ${inputs.size} inputs")
    val m = new FrontierModel()
      .setModelData(FrontierModel.keysOf(inputs.head, getUrlCol))
    copyParamsTo(m)
    m
  }
}

object FrontierBuilder extends StageLoader[FrontierBuilder] {
  def load(spark: SparkSession, path: String): FrontierBuilder =
    ReadWrite.applyParams(new FrontierBuilder, path)
}

class FrontierModel extends Model[FrontierModel]
    with HasOutputCol[FrontierModel] {

  final val urlCol: Param[String] = param[String](
    "urlCol", "URL column name, present in the crawled table and every candidate table.", "url")
  def getUrlCol: String = get(urlCol)
  def setUrlCol(v: String): FrontierModel = set(urlCol, v)

  private var modelData: DataFrame = _
  override def setModelData(data: DataFrame*): FrontierModel = { modelData = data.head; this }
  override def getModelData: Array[DataFrame] = Array(modelData)

  /** A new model whose crawled-key index additionally contains
    * `urls`' canonical keys — call after a batch is fetched so the
    * next transform() stops re-enqueueing it. The index grows through
    * [[graft.iteration.Loop.append]], whose rule bounds its lineage. */
  def addCrawled(urls: DataFrame): FrontierModel = {
    val m = new FrontierModel()
      .setModelData(Loop.append(modelData, FrontierModel.keysOf(urls, getUrlCol)))
    copyParamsTo(m)
    m
  }

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.nonEmpty, "transform takes at least one candidate table")
    val o = getOutputCol

    // slim + tag each feed, union, canonicalize ONCE over the union
    val tagged = inputs.zipWithIndex.map { case (df, i) =>
      df.select(col(getUrlCol).as("__u"), lit(i).as("__src"))
    }.reduce(_.unionByName(_))
    val canon = new UrlCanonicalizer().setInputCol("__u").setOutputCol("__fb")
      .transform(tagged).head

    val rolled = canon
      .groupBy(col("__fb_key").as(s"${o}_key"))
      .agg(min(col("__fb_url")).as(s"${o}_url"),
        count(lit(1)).as(s"${o}_refs"),
        concat_ws(",", sort_array(collect_set(col("__src")))).as(s"${o}_sources"))

    val fresh = rolled.join(
      modelData.select(col("crawled_key").as(s"${o}_key")),
      Seq(s"${o}_key"), "left_anti")
    Array(fresh.select(col(s"${o}_url"), col(s"${o}_key"),
      col(s"${o}_refs"), col(s"${o}_sources")))
  }
}

object FrontierModel extends StageLoader[FrontierModel] {
  private[text] def keysOf(urls: DataFrame, urlCol: String): DataFrame = {
    val canon = new UrlCanonicalizer().setInputCol(urlCol).setOutputCol("__fb")
      .transform(urls.select(col(urlCol))).head
    canon.select(col("__fb_key").as("crawled_key")).distinct()
  }

  def load(spark: SparkSession, path: String): FrontierModel = {
    val m = ReadWrite.applyParams(new FrontierModel, path)
    m.setModelData(ReadWrite.loadModelData(spark, path))
  }
}
