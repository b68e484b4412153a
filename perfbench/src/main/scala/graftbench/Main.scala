package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import graft.KgRunner

/** Benchmark JVM: sets up a SparkSession, runs one op of a workload and
  * writes the run record (op, figures, traced per-layer figures) as JSON to
  * `--out`. `perfbench/run.py` launches it and turns the records into the
  * benchmark's result line; the output checks run there, after the JVM.
  *
  * Arguments: --workload kg_build|corpus_ops --seed n --trace 0|1
  * --work dir --out file [--pages n --sentence-pages n --kg-source file
  * --snapshots a,b,.. --meta-snapshots a,b,..]
  * [--data dir --queries a,b,.. --oracle-inputs a,b,..]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val startJiffies = Process.cpuJiffies
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String): Seq[String] = a.getOrElse(k, "").split(",").toSeq.filter(_.nonEmpty)
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, work)
    val c = Ctx(spark, cpus, work, startJiffies,
      if (a.getOrElse("trace", "0") == "1") Some(new Tracer(cpus)) else None)
    c.tracer.foreach(spark.sparkContext.addSparkListener)
    val record = try a("workload") match {
      case "kg_build" => Workloads.kgBuild(c, a("pages").toLong, a("seed").toLong,
        a("sentence-pages").toInt, KgSource.read(a.getOrElse("kg-source", "")),
        KgLayout(list("snapshots"), list("meta-snapshots").toSet))
      case "corpus_ops" => Workloads.corpusOps(c, a("data"), list("queries"),
        list("oracle-inputs"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(record ++ Map(
      "workload" -> a("workload"), "seed" -> a("seed"), "cpus" -> cpus)))
  }

  /** The session KgRunner.main builds, with its files kept under `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** `startJiffies` is the CPU time reading taken when `main` began. */
final case class Ctx(spark: SparkSession, cpus: Int, work: String,
    startJiffies: (Long, Long), tracer: Option[Tracer]) {
  def drain(): Unit = tracer.foreach(_.drain(spark.sparkContext))
}

object Workloads {
  /** The JVM's record: its op, and its set-up time, from JVM start to the
    * start of the op, without the share of CPU time the hypervisor stole
    * from the VM meanwhile (read from the start of `main`).
    */
  private def record(c: Ctx, op: OpRecord): Map[String, Any] = {
    val t0 = op.extra("t0_ms").asInstanceOf[Long]
    val wall = (t0 - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val steal = Process.stealFrac(c.startJiffies, op.extra("t0_jiffies").asInstanceOf[(Long, Long)])
    Map("ops" -> Seq(op.toMap - "t0_jiffies"), "setup_s" -> wall * (1.0 - steal))
  }

  private def window(extra: Map[String, Any]): (Long, Long) =
    (extra("t0_ms").asInstanceOf[Long], extra("t1_ms").asInstanceOf[Long])

  /** Per-layer figures of a traced KgRunner op: `stage.<s>.*` for every
    * stage some job was attributed to.
    */
  private def kgLayers(t: Tracer, c: Ctx, outDir: String, kg: KgSource, layout: KgLayout,
      extra: Map[String, Any]): Map[String, Any] = {
    c.drain()
    val (t0, t1) = window(extra)
    val js = t.jobsIn(t0, t1)
    val by = js.map(j => j -> Tracer.attribute(j, t.execsOf(j), outDir, kg, layout))
    val stageFigs = by.map(_._2._1).distinct.filter(_ != "other").flatMap { s =>
      val sj = by.collect { case (j, (st, _, _)) if st == s => j }
      val ts = t.tasksOf(sj)
      Seq(
        s"stage.$s.wall_s" -> (if (sj.isEmpty) 0.0
          else (sj.map(_.end).max - sj.map(_.start).min) / 1000.0),
        s"stage.$s.task_s" -> ts.map(_.ms).sum / 1000.0,
        s"stage.$s.jobs" -> sj.size.toDouble,
        s"stage.$s.shuffle_mb" -> ts.map(_.shuffleWrite).sum / 1e6)
    }
    val rowFigs = Seq("triples", "links", "canon", "edges").map { s =>
      s"stage.$s.rows" -> KgLayout.manifestRows(s"$outDir/$s").getOrElse(0L).toDouble
    }
    val lambda = "Annotate$$$Lambda"
    val passes = t.rootPlansIn(t0, t1).map(_.sliding(lambda.length).count(_ == lambda)).sum
    val attribution = by.map { case (j, (st, how, snap)) =>
      Map("job" -> j.id, "stage" -> st, "how" -> how, "snapshot" -> snap,
        "site" -> (if (how == "none") j.callSite.linesIterator.take(3).mkString(" | ") else ""))
    }
    val figs = (stageFigs ++ rowFigs).toMap ++
      t.sparkFigures(js, t.tasksOf(js), (t1 - t0) / 1000.0,
        extra("gc_s").asInstanceOf[Double], t.cachePeakBytes) ++
      Map("pipeline.annotate_passes" -> passes.toDouble,
        "stage.other.jobs" -> by.count(_._2._2 == "none").toDouble)
    Map("layers" -> figs, "attribution" -> attribution)
  }

  def kgBuild(c: Ctx, pages: Long, seed: Long, sentencePages: Int,
      kg: KgSource, layout: KgLayout): Map[String, Any] = {
    val dir = s"${c.work}/kg"
    c.tracer.foreach(_.mark())
    val op = Measure.op(KgRunner.run(c.spark, dir, pages, c.cpus)) { extra =>
      val layers = c.tracer.map(kgLayers(_, c, dir, kg, layout, extra)).getOrElse(Map.empty)
      (None, layers ++ Map("out_dir" -> dir, "traced" -> c.tracer.isDefined))
    }
    // the per-sentence pass runs after the op, on the pages picked by the seed
    val sentence = if (c.tracer.isEmpty) Map.empty[String, Double]
      else SentencePass.run(Math.floorMod(seed, 1000000L) * 1000000L, sentencePages, reps = 3)
    record(c, op) ++ Map("sentence" -> sentence)
  }

  def corpusOps(c: Ctx, dataDir: String, queries: Seq[String],
      oracleInputs: Seq[String]): Map[String, Any] = {
    val results = s"${c.work}/results"
    var queryFigs = Map.empty[String, Map[String, Double]]
    var opCachePeak = 0L
    // per-query span of a traced op: job group, and the bytes the query
    // added to the cache at its peak
    def around(q: String)(body: => Unit): Unit = c.tracer match {
      case Some(t) =>
        c.drain(); t.mark()
        val base = t.cachedBytes
        c.spark.sparkContext.setJobGroup(q, q)
        try body finally c.spark.sparkContext.clearJobGroup()
        c.drain()
        opCachePeak = math.max(opCachePeak, t.cachePeakBytes)
        queryFigs += q -> Map("jobs" -> t.jobsOfGroup(q).size.toDouble,
          "cache_mb" -> (t.cachePeakBytes - base) / 1e6)
      case None => body
    }
    var pass = Seq.empty[(String, Double, Option[String])]
    val op = Measure.op { pass = CorpusBench.pass(c.spark, queries, dataDir, results, around) } {
      extra =>
        val spark = c.tracer.map { t =>
          c.drain()
          val (t0, t1) = window(extra)
          val js = t.jobsIn(t0, t1)
          Map("layers" -> t.sparkFigures(js, t.tasksOf(js), (t1 - t0) / 1000.0,
            extra("gc_s").asInstanceOf[Double], opCachePeak))
        }.getOrElse(Map.empty)
        // oracle inputs read through {OUT}, written outside the op's timing
        val dumpErrs = oracleInputs.flatMap { d =>
          try {
            graft.SparkEntry.queries(d)(c.spark, dataDir).write.mode("overwrite")
              .parquet(s"$results/$d")
            None
          } catch { case e: Throwable => Some(s"$d dump threw: ${Measure.describe(e)}") }
        }
        val errs = pass.collect { case (q, _, Some(e)) => s"$q threw: $e" } ++ dumpErrs
        (if (errs.isEmpty) None else Some(errs.mkString("; ")), spark ++ Map(
          "results_dir" -> results, "traced" -> c.tracer.isDefined,
          "query_s" -> pass.map(r => r._1 -> r._2).toMap, "queries" -> queryFigs))
    }
    record(c, op) ++ Map("oracle_sql" -> CorpusBench.oracleSql(queries))
  }
}
