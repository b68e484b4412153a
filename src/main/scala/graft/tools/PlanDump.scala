package graft.tools

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named SparkEntry queries to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence for the
  * optimization rounds (plans/r06). Session shape mirrors Bench (local[N],
  * shuffle.partitions=N, AQE on) so the dumped plans are the plans the
  * bench actually runs.
  *
  * Run: sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1> [q2 ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val spark = graft.Session.build("graft-plandump")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"PLANDUMP $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
