package graft.snapshot

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** Snapshot-per-stage checkpointing with per-partition lineage + counter
  * metrics (north rule: "resumable from checkpoint with per-partition
  * lineage + metrics").
  *
  * Each pipeline stage writes its output as a partitioned parquet dir plus a
  * `_manifest.json` carrying the stage name, total row count, per-partition
  * row counts and the input snapshot it derived from. A stage whose manifest
  * exists is skipped on resume (idempotent re-run = same bytes because every
  * id is a content hash — no monotonically_increasing_id anywhere).
  *
  * This emulates Iceberg snapshot commits (no iceberg jar ships in
  * /opt/spark/jars): the manifest plays the role of the snapshot metadata
  * file, and "commit" is the write-temp-then-rename of _manifest.json
  * AFTER the parquet write succeeds — readers gate on the manifest, so a
  * half-written stage is invisible, which is the same correctness contract
  * as an Iceberg MERGE commit.
  */
object Snapshot {

  final case class Manifest(
      stage: String,
      rows: Long,
      partitions: Map[String, Long],
      parent: String
  )

  def manifestPath(dir: String): String = s"$dir/_manifest.json"

  /** Hadoop conf entries that make `file:` paths resolve to
    * [[NioLocalFileSystem]], which sets permissions in-process. Spark's
    * distribution ships no libhadoop, so the stock local filesystem forks a
    * `chmod` process for every directory, parquet file and `.crc` file it
    * creates: about 1,900 processes per 200-page KgRunner build, run one
    * after another inside the writing task. The entries ride on each
    * snapshot write's own options and on the conf copy [[fs]] builds; the
    * session's Hadoop conf is left as it is. Other schemes never read
    * `fs.file.*`. The cache switch is needed because the FileSystem cache,
    * keyed by scheme, would hand back the session's cached instance.
    */
  private[graft] val localFsConf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** All manifest IO goes through the Hadoop FileSystem of the target path,
    * so snapshots gate correctly on hdfs:// and s3a:// outDirs as well as
    * local paths (the spark-submit cluster case, not just the sandbox).
    */
  private[graft] def fs(spark: SparkSession, path: String): FileSystem = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    localFsConf.foreach { case (k, v) => conf.set(k, v) }
    new HPath(path).getFileSystem(conf)
  }

  /** Manifest key of a row: its partition values joined by `/`, with a null
    * (or, for strings, empty) value written as the directory name Spark
    * gives it, `__HIVE_DEFAULT_PARTITION__`. Both the observed count and the
    * re-read fallback key rows with this one expression, so they agree.
    */
  private def partitionKey(partitionBy: Seq[String]): Column =
    if (partitionBy.isEmpty) lit("all")
    else concat_ws("/", partitionBy.map { c =>
      val v = col(c).cast("string")
      when(v.isNull || v === "", lit(ExternalCatalogUtils.DEFAULT_PARTITION_NAME))
        .otherwise(v)
    }: _*)

  /** Per-partition row counts re-read from a written snapshot: the fallback
    * when the observed metric is unavailable.
    */
  private[graft] def recount(spark: SparkSession, dir: String,
      partitionBy: Seq[String]): Map[String, Long] =
    spark.read.parquet(dir).groupBy(partitionKey(partitionBy)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new HPath(manifestPath(dir)))

  /** Commit a stage: write the manifest to `_manifest.json.tmp`, then
    * rename it over `_manifest.json`, so a crash mid-write leaves no
    * truncated manifest that [[exists]] would take as committed. The
    * leading `_` keeps the temp file out of Spark's parquet listing.
    */
  private def commit(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val target = new HPath(manifestPath(dir))
    val tmp = new HPath(s"${manifestPath(dir)}.tmp")
    val f = fs(spark, dir)
    val out = f.create(tmp, true)
    try out.write(toJson(m).getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, target))
      throw new java.io.IOException(s"manifest commit failed: rename $tmp -> $target")
  }

  /** Write df → dir (overwrite), then commit the manifest. `partitionBy`
    * columns become physical partitions (e.g. entity type + url-hash
    * bucket). Per-partition counts are computed from the data itself —
    * they double as the counter metrics the reference logs every 1000 rows
    * (EnsemblePredict_all.py:415-416), but exact and queryable.
    *
    * Counters are OBSERVED METRICS on the write query itself (CollectMetrics
    * with the TopKFreq count-by-key aggregate): the rows are counted while
    * they stream to parquet — no post-write re-read job. Round 1 re-read the
    * whole stage output per snapshot, the largest slice of the ~30 s fixed
    * end-to-end floor. A defensive fallback re-reads only if the observed
    * metric is unavailable.
    *
    * A partitioned write first hashes rows onto their partition columns, so
    * each directory gets exactly one file (without it every task writes a
    * file into every directory it sees rows for). The shuffle is given an
    * explicit partition count, `spark.sql.shuffle.partitions`: AQE coalesces
    * a small `repartition(cols)` shuffle into ONE partition, and that single
    * task then writes every directory one after another (6 s for the 320
    * edge files of a 200-page build). AQE never coalesces an explicit
    * count, so each core runs a writer task.
    *
    * Files and directories are created through [[localFsConf]] (no `chmod`
    * process per file on `file:` paths).
    */
  def write(
      df: DataFrame,
      dir: String,
      stage: String,
      partitionBy: Seq[String] = Nil,
      parent: String = ""
  ): Manifest = {
    val spark = df.sparkSession
    val arranged =
      if (partitionBy.nonEmpty)
        df.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
          partitionBy.map(col): _*)
      else df
    writeCounted(arranged, dir, stage, partitionBy, parent) { w =>
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(dir)
    }
  }

  /** The commit sequence every snapshot write shares: count rows per
    * partition key as an observed metric of the write itself, run `save`
    * (the final writer call), read the counts (re-reading `dir` if the
    * metric is missing), then [[commit]] the manifest.
    */
  private def writeCounted(
      df: DataFrame,
      dir: String,
      stage: String,
      partitionBy: Seq[String],
      parent: String
  )(save: DataFrameWriter[Row] => Unit): Manifest = {
    val spark = df.sparkSession
    val obs = org.apache.spark.sql.Observation()
    val observed = df.observe(obs,
      graft.functions.TopKFreq
        .top_k_freq(partitionKey(partitionBy), Int.MaxValue, Int.MaxValue)
        .as("part_counts"))
    save(observed.write.mode(SaveMode.Overwrite).options(localFsConf))
    val partCounts: Map[String, Long] =
      org.apache.spark.sql.GraftBridge.observedOrEmpty(obs).get("part_counts")
        .map { case rows: scala.collection.Seq[_] =>
          rows.map { case r: Row => r.getString(0) -> r.getLong(1) }.toMap
        }
        .getOrElse(recount(spark, dir, partitionBy))
    val counts =
      if (partCounts.isEmpty && partitionBy.isEmpty) Map("all" -> 0L)
      else partCounts
    val m = Manifest(stage, counts.values.sum, counts, parent)
    commit(spark, dir, m)
    m
  }

  /** Manifest-gated BUCKETED stage: the snapshot is written as an external
    * bucketed+sorted table (bucket metadata in the session catalog, files at
    * `dir`), so the NEXT stage's aggregations/joins keyed by `bucketCol`
    * read co-located data with ZERO exchange. On resume in a fresh session
    * (catalog empty) the files read back as plain parquet — same rows, the
    * bucket optimization simply re-arms once the table is re-registered.
    */
  def stageBucketed(
      spark: SparkSession,
      dir: String,
      table: String,
      name: String,
      bucketCol: String,
      buckets: Int = 16,
      parent: String = ""
  )(compute: => DataFrame): DataFrame = {
    if (!exists(spark, dir)) {
      val t0 = System.nanoTime()
      val df = compute
      spark.sql(s"DROP TABLE IF EXISTS $table")
      writeCounted(df, dir, name, Nil, parent) { w =>
        w.option("path", dir)
          .bucketBy(buckets, bucketCol)
          .sortBy(bucketCol)
          .format("parquet")
          .saveAsTable(table)
      }
      System.err.println(
        f"[snapshot] bucketed stage $name committed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    if (spark.catalog.tableExists(table)) spark.table(table)
    else spark.read.parquet(dir)
  }

  /** Manifest-gated stage: skip the compute entirely when the snapshot is
    * already committed (resume path), else run and commit.
    */
  def stage(
      spark: SparkSession,
      dir: String,
      name: String,
      partitionBy: Seq[String] = Nil,
      parent: String = ""
  )(compute: => DataFrame): DataFrame = {
    if (!exists(spark, dir)) {
      val t0 = System.nanoTime()
      write(compute, dir, name, partitionBy, parent)
      System.err.println(
        f"[snapshot] stage $name committed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    spark.read.parquet(dir)
  }

  def toJson(m: Manifest): String = {
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val parts = m.partitions.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${esc(k)}":$v""" }.mkString(",")
    s"""{"stage":"${esc(m.stage)}","rows":${m.rows},"partitions":{$parts},"parent":"${esc(m.parent)}"}"""
  }
}
