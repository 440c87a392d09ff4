package graft.benchmark

/** Dev utility: time a single `SparkEntry.queries` entry at a given SF dir
  * (two runs, noop sink). Usage: `runMain graft.benchmark.TimeQ <sfDir> <query>`. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, name) = args
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]").config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warmup a trivial job
    spark.range(1000).count()
    var i = 0
    while (i < 2) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[timeq] $name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // the next run builds its stored frames afresh instead of reading these
      spark.catalog.clearCache()
      i += 1
    }
    spark.stop()
  }
}
