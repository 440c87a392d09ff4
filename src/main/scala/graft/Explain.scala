package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan inspection: prints the formatted physical plan of the named
  * SparkEntry queries (all of them with no args) — the review loop for
  * pushdown / broadcast / codegen coverage.
  *
  * With `--executions` first, each named query is run to the `noop` sink
  * instead, and the final plan of every SQL execution it ran is printed
  * under the action's name: the store jobs (`materialize`), probes
  * (`collect`) and checkpoints an operator runs while it builds its
  * result, whose plans the returned frame no longer shows. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val executions = args.headOption.contains("--executions")
    val named = if (executions) args.tail.toSeq else args.toSeq
    val names = if (named.nonEmpty) named else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n=== $n ===")
      try {
        if (executions) printExecutions(spark, SparkEntry.queries(n)(spark, sfDir).write
          .format("noop").mode("overwrite").save())
        else SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      } catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
    spark.stop()
  }

  private def printExecutions(spark: SparkSession, run: => Unit): Unit = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(s"--- execution: $funcName\n${qe.explainString(FormattedMode)}")
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      org.apache.spark.graft.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.forEach(p => println(p))
  }
}
