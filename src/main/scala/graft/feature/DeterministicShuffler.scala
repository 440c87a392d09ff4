package graft.feature

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{AlgoOperator, StageLoader}
import graft.iteration.Loop
import graft.param._
import graft.util.ReadWrite

/**
 * Reproducible corpus shuffling into training shards: every row gets
 * a `shard` in [0, numShards) and a 0-based `shard_pos` under the
 * md5(id ⊕ seed) total order — the "shuffle once, train anywhere"
 * step that makes epoch order independent of cluster size, input
 * partitioning, and rerun (unlike `orderBy(rand())`, whose order
 * changes with the partitioning). Same hash as [[StratifiedSampler]] /
 * [[WeightedMixer]], so shuffling composes with sampling and mixing.
 *
 * Shard assignment divides the md5 key space into numShards equal
 * intervals, so shards are balanced in expectation and a row's shard
 * never depends on other rows. Position is the rank within the shard
 * under (key, id).
 *
 * Scale shape: one range-partition shuffle on (shard, key) with local
 * sorts, then per-shard ranks are stitched from an O(partitions ×
 * shards-per-partition) count summary on the driver — no shard is
 * ever sorted by a single task (a `Window.partitionBy(shard)` would
 * put corpus/numShards rows in one task; with 8 shards over 100 TB
 * that is 12 TB per task). Same two-pass offset pattern as the
 * session-window builder in [[graft.streaming.OnlineStandardScaler]].
 *
 * No reference counterpart — beyond-reference LLM-data-pipeline tier.
 */
class DeterministicShuffler extends AlgoOperator[DeterministicShuffler]
    with HasSeed[DeterministicShuffler] {

  final val idCol: Param[String] =
    param[String]("idCol", "Unique row id column; (id, seed) fully determine the order.", "id")
  def getIdCol: String = get(idCol)
  def setIdCol(v: String): DeterministicShuffler = set(idCol, v)

  final val numShards: Param[Int] =
    param[Int]("numShards", "Number of output shards.", 8, ParamValidators.gt(0))
  def getNumShards: Int = get(numShards)
  def setNumShards(v: Int): DeterministicShuffler = set(numShards, v)

  override def transform(inputs: DataFrame*): Array[DataFrame] = {
    require(inputs.size == 1)
    val df = inputs.head
    val spark = df.sparkSession
    val n = getNumShards
    val key = StratifiedSampler.hashKey(col(getIdCol), getSeed)
    // shard = how many of the n−1 interval thresholds the key clears —
    // a pure comparison sum, identical math in any engine that can
    // compare the md5 hex string (no hex→int parsing needed)
    val shard = (1 until n)
      .map(s => when(key >= lit(StratifiedSampler.fractionThreshold(s.toDouble / n)), 1)
        .otherwise(0))
      .foldLeft(lit(0))(_ + _)

    // range-partition + local sort on the (shard, key, id) total
    // order; a shard may span several partitions. Stored: both passes
    // read it, and it is released once the returned frame is stored.
    Array(Loop.scoped { stored =>
      val keyed = stored.cache(df
        .withColumn("__ds_key", key)
        .withColumn("shard", shard)
        .repartitionByRange(spark.sessionState.conf.numShufflePartitions,
          col("shard"), col("__ds_key"), col(getIdCol))
        .sortWithinPartitions(col("shard"), col("__ds_key"), col(getIdCol)))
      // pass 1: per-(partition, shard) row counts — O(parts·shards) to
      // the driver, never rows
      val counts = keyed.select(col("shard")).rdd
        .mapPartitionsWithIndex { (pid, it) =>
          val m = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
          it.foreach { r => val s = r.getInt(0); m(s) = m.getOrElse(s, 0L) + 1L }
          m.iterator.map { case (s, c) => (pid, s, c) }
        }.collect()
      // driver scan in (partition, shard) order → start offset of each
      // partition's slice of each shard
      val perShardSeen = scala.collection.mutable.HashMap.empty[Int, Long]
      val offsets = counts.sortBy(t => (t._1, t._2)).map { case (pid, s, c) =>
        val off = perShardSeen.getOrElse(s, 0L)
        perShardSeen(s) = off + c
        ((pid, s), off)
      }.toMap
      val offsetsB = spark.sparkContext.broadcast(offsets)
      // pass 2: sequential scan per partition assigns global ranks.
      // mapPartitionsWithIndex bakes the TRUE partition index into the
      // closure — TaskContext.getPartitionId() would lie under a
      // downstream coalesce(), which runs parent partitions inside one
      // task and mis-keys every offset lookup.
      val shardIdx = keyed.schema.fieldIndex("shard")
      val rdd2 = keyed.rdd.mapPartitionsWithIndex { (pid, it) =>
        val base = offsetsB.value
        var cur = -1
        var pos = 0L
        it.map { r =>
          val s = r.getInt(shardIdx)
          if (s != cur) { cur = s; pos = base.getOrElse((pid, s), 0L) }
          val ranked = org.apache.spark.sql.Row.fromSeq(r.toSeq :+ pos)
          pos += 1L
          ranked
        }
      }
      val out = spark.createDataFrame(rdd2,
        keyed.schema.add("shard_pos", org.apache.spark.sql.types.LongType))
      Loop.keep(out.drop("__ds_key"))
    })
  }
}
object DeterministicShuffler extends StageLoader[DeterministicShuffler] {
  def load(spark: SparkSession, path: String): DeterministicShuffler =
    ReadWrite.applyParams(new DeterministicShuffler, path)
}
