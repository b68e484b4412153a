package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The benchmark's own SparkListener. It keeps every job, task, SQL
  * execution and cached-block event in memory; the per-layer figures are
  * computed from them once the run ends. Spans nest op -> KgRunner stage or
  * query -> Spark job; a job belongs to the op whose window it started in.
  */
final class Tracer(cpus: Int) extends SparkListener {
  import Tracer._

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execs = mutable.Map.empty[Long, Exec]
  // cached RDD blocks: current bytes per block, and the peak since mark()
  private val blocks = mutable.Map.empty[String, Long]
  private var cacheNow = 0L
  private var cachePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val j = Job(e.jobId, e.time, prop("spark.sql.execution.id").map(_.toLong),
      prop("spark.jobGroup.id"), site)
    jobs += j
    jobById(j.id) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.id))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.diskBytesSpilled).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      cacheNow += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks(key) = size
      cachePeak = math.max(cachePeak, cacheNow)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Exec(s.executionId,
        s.rootExecutionId.getOrElse(s.executionId), s.physicalPlanDescription,
        s.details, s.time)
    }
    case _ =>
  }

  /** Restart the cached-bytes peak from the bytes cached now. */
  def mark(): Unit = synchronized { cachePeak = cacheNow }
  def cachePeakBytes: Long = synchronized { cachePeak }
  def cachedBytes: Long = synchronized { cacheNow }

  def drain(sc: SparkContext): Unit = org.apache.spark.BenchBridge.drainListenerBus(sc)

  def jobsIn(t0: Long, t1: Long): Seq[Job] = synchronized {
    jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
  }
  def jobsOfGroup(group: String): Seq[Job] = synchronized {
    jobs.filter(_.group.contains(group)).toSeq
  }
  def tasksOf(js: Seq[Job]): Seq[Task] = synchronized {
    val ids = js.map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stageId).exists(ids)).toSeq
  }
  def rootPlansIn(t0: Long, t1: Long): Seq[String] = synchronized {
    execs.values.filter(x => x.root == x.id && x.time >= t0 && x.time <= t1)
      .map(_.plan).toSeq
  }
  /** The job's SQL execution and its root execution, if any. */
  def execsOf(j: Job): Seq[Exec] = synchronized {
    j.execId.flatMap(execs.get).toSeq.flatMap { x =>
      Seq(x) ++ (if (x.root != x.id) execs.get(x.root) else None)
    }
  }

  /** Spark-level figures for a set of jobs and tasks over a wall interval. */
  def sparkFigures(js: Seq[Job], ts: Seq[Task], wallS: Double,
      gcS: Double, cacheBytes: Long): Map[String, Double] = {
    val taskS = ts.map(_.ms).sum / 1000.0
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.ms.toDouble).sorted
      val med = (d((d.size - 1) / 2) + d(d.size / 2)) / 2
      if (med <= 0) 1.0 else d.last / med
    }
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.busy_frac" -> (if (wallS > 0) taskS / (wallS * cpus) else 0.0),
      "spark.idle_s" -> Tracer.idle(ts, wallS),
      "spark.gc_s" -> gcS,
      "spark.shuffle_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "spark.spill_mb" -> ts.map(_.spill).sum / 1e6,
      "spark.cache_peak_mb" -> cacheBytes / 1e6,
      "spark.task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "spark.out_mb" -> ts.map(_.out).sum / 1e6)
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, execId: Option[Long],
      group: Option[String], callSite: String) {
    var end: Long = start
  }
  final case class Task(stageId: Int, launch: Long, finish: Long,
      shuffleWrite: Long, spill: Long, out: Long) {
    def ms: Long = finish - launch
  }
  /** A SQL execution; `site` is the call site of the action that ran it. */
  final case class Exec(id: Long, root: Long, plan: String, site: String, time: Long)

  /** Seconds of `wallS` during which no task ran: `wallS` minus the union
    * of the task intervals.
    */
  def idle(ts: Seq[Task], wallS: Double): Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ts.map(t => (t.launch, t.finish)).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallS - covered / 1000.0)
  }

  /** Attribution of one job of a KgRunner op to a stage: the snapshot its
    * SQL execution writes; else the innermost `graft.*` frame of its call
    * site, or of its SQL execution's call site for jobs run on another
    * thread (broadcasts); this catches canon's iteration jobs. A
    * `Snapshot` frame (reading a committed snapshot back) is resolved
    * through the KgRunner source line that calls it. Returns (stage, how,
    * snapshot) with how = "write" | "frame" | "none".
    */
  def attribute(j: Job, execs: Seq[Exec], outDir: String, kg: KgSource,
      layout: KgLayout): (String, String, Option[String]) =
    execs.iterator.flatMap(x => writtenSnapshot(x.plan, outDir, layout)).nextOption() match {
      case Some(snap) => (layout.stageOf(snap), "write", Some(snap))
      case None =>
        (Iterator(j.callSite) ++ execs.iterator.map(_.site))
          .flatMap(frameStage(_, kg, layout)).nextOption() match {
          case Some((st, snap)) => (st, "frame", snap)
          case None => ("other", "none", None)
        }
    }

  private val bucketTables = Map(
    "graft_mention_tokens" -> "mention_tokens", "graft_links" -> "links")

  /** The snapshot a SQL execution's plan writes under `outDir`, if any.
    * Plans are read section by section, so both the one-line and the
    * "formatted" explain layout (node header, then its Arguments) work.
    */
  def writtenSnapshot(plan: String, outDir: String, layout: KgLayout): Option[String] = {
    val prefix = "file:" + outDir + "/"
    plan.split("\\n\\s*\\n").iterator.flatMap { section =>
      val head = section.linesIterator.nextOption().getOrElse("")
      if (!head.contains("InsertIntoHadoopFsRelationCommand") &&
          !head.contains("CreateDataSourceTableAsSelectCommand")) None
      else {
        val at = section.indexOf(prefix)
        val byPath =
          if (at < 0) None
          else Some(section.substring(at + prefix.length)
            .takeWhile(c => c.isLetterOrDigit || c == '_'))
            .filter(layout.snapshots.contains)
        byPath.orElse(bucketTables.collectFirst {
          case (t, snap) if section.contains(t) => snap
        })
      }
    }.nextOption()
  }

  /** Stage (and snapshot, when known) of the innermost `graft.*` frame. */
  def frameStage(callSite: String, kg: KgSource,
      layout: KgLayout): Option[(String, Option[String])] = {
    val frames = callSite.linesIterator.map(_.trim).filter(_.startsWith("graft.")).toSeq
    frames.headOption.flatMap { top =>
      if (top.startsWith("graft.snapshot.Snapshot$"))
        frames.iterator.flatMap(kg.snapshotAt).find(layout.snapshots.contains)
          .map(snap => (layout.stageOf(snap), Some(snap)))
      else frames.iterator.flatMap(frameToStage).nextOption().map(st => (st, None))
    }
  }

  private def frameToStage(frame: String): Option[String] = {
    val obj = frame.takeWhile(_ != '(')
    if (obj.startsWith("graft.canon.Canon$")) Some("canon")
    else if (obj.startsWith("graft.canon.Materialize$.nodes")) Some("nodes")
    else if (obj.startsWith("graft.canon.Materialize$.edges")) Some("edges")
    else if (obj.startsWith("graft.link.Link$.mentionTokens")) Some("mention_tokens")
    else if (obj.startsWith("graft.link.Link$")) Some("links")
    else if (obj.startsWith("graft.canon.FinalTables$.sourceSegment")) Some("source_segment")
    else if (obj.startsWith("graft.canon.FinalTables$.corpusInfo")) Some("corpus_info")
    else if (obj.startsWith("graft.canon.FinalTables$.nerResult")) Some("ner_result")
    else if (obj.startsWith("graft.canon.FinalTables$")) Some("meta")
    else if (obj.startsWith("graft.pipeline.Triples$.groupTriples") ||
      obj.startsWith("graft.pipeline.Pipeline$.groupTriples")) Some("meta")
    else if (obj.startsWith("graft.pipeline.Triples$")) Some("triples")
    else None
  }
}

/** Which snapshot each line of KgRunner.scala names (`$outDir/<name>`), so
  * a `KgRunner.scala:N` frame can be mapped to the stage call around it.
  */
final class KgSource(lines: Seq[String]) {
  private val named: java.util.TreeMap[Integer, String] = {
    val m = new java.util.TreeMap[Integer, String]()
    val re = "\\$outDir/([a-z_]+)".r
    lines.zipWithIndex.foreach { case (l, i) =>
      re.findFirstMatchIn(l).foreach(g => m.put(i + 1, g.group(1)))
    }
    m
  }

  /** The snapshot named at or up to four lines above a KgRunner frame. */
  def snapshotAt(frame: String): Option[String] = {
    val at = frame.indexOf("(KgRunner.scala:")
    if (at < 0) None
    else frame.substring(at + 16).takeWhile(_.isDigit).toIntOption.flatMap { n =>
      Option(named.floorEntry(n)).filter(e => n - e.getKey <= 4)
        .map(_.getValue)
    }
  }
}

object KgSource {
  def read(path: String): KgSource = new KgSource(
    if (path.isEmpty || !new java.io.File(path).isFile) Nil
    else java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq)
}
