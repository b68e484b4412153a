package graftbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The corpus_ops workload: one op is one pass over the given
  * `SparkEntry.queries` (`perfbench/metrics.py` names them).
  */
object CorpusBench {
  /** One op: runs every query once and writes its full result as parquet
    * under `resultsDir` (the write reads every column of every row). Each
    * query runs inside `around`; returns (query, seconds, error).
    */
  def pass(spark: SparkSession, queries: Seq[String], dataDir: String, resultsDir: String,
      around: String => (=> Unit) => Unit): Seq[(String, Double, Option[String])] =
    queries.map { q =>
      var secs = 0.0
      var err: Option[String] = None
      around(q) {
        val t0 = System.nanoTime()
        try SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite")
          .parquet(s"$resultsDir/$q")
        catch { case e: Throwable => err = Some(Measure.describe(e)) }
        secs = (System.nanoTime() - t0) / 1e9
      }
      (q, secs, err)
    }

  /** Oracle SQL of each query; `{OUT}` stands for an op's results dir. */
  def oracleSql(queries: Seq[String]): Map[String, String] =
    queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
}
