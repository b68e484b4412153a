package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder for graft's mains and test suites: AQE with
  * skew-join splitting, UTC session time zone, UI off, WARN logging, and
  * shuffle partitions equal to the parallelism. `Bench`, `Verify`,
  * `ScaleProbe` and `LocalClusterProbe` keep their own builders: the first
  * two are the frozen measuring stick, the other two are part of what
  * `Bench` measures.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` if set, else the cores this JVM may use. */
  def defaultParallelism: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** `master` defaults to `local[par]`. */
  def build(appName: String, par: Int = defaultParallelism,
      master: Option[String] = None): SparkSession = {
    val spark = SparkSession.builder()
      .master(master.getOrElse(s"local[$par]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", par.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
