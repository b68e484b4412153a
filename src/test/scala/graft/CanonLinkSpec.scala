package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.canon.Canon
import graft.link.Link

class CanonSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import org.apache.spark.sql.DataFrame

  def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val df: DataFrame = edges.toDF("src", "dst")
    Canon.connectedComponents(df).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  def cachedEntries: Int = org.apache.spark.sql.CacheEntries.count(spark)

  test("chain collapses to min label") {
    val before = cachedEntries
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val m = cc(chain)
    assert((1L to 5L).forall(v => m(v) == 1L))
    // every frame the CC persists is released before it returns, also
    // when no round runs
    assert(cachedEntries == before)
    import spark.implicits._
    Canon.connectedComponents(chain.toDF("src", "dst"), maxIter = 0).collect()
    assert(cachedEntries == before)
  }

  test("disjoint components stay disjoint with min labels") {
    val m = cc(Seq((10L, 11L), (20L, 21L), (21L, 22L), (30L, 31L)))
    assert(m(10L) == 10L && m(11L) == 10L)
    assert(m(20L) == 20L && m(21L) == 20L && m(22L) == 20L)
    assert(m(30L) == 30L && m(31L) == 30L)
  }

  test("star with hot hub (skew shape) converges") {
    val hub = 500L
    val spokes = (1L to 200L).filter(_ != hub)
    val m = cc(spokes.map(s => (hub, s)))
    assert(m.values.toSet == Set(1L))
    assert(m.size == 201) // 200 spokes + hub
  }

  test("long path needs pointer jumping (diameter 60)") {
    val m = cc((1L to 60L).map(i => (i, i + 1)))
    assert((1L to 61L).forall(v => m(v) == 1L))
  }

  test("preContractHot preserves components and de-skews the hub") {
    import spark.implicits._
    // hub 500 with 150 spokes + a chain attached to one spoke
    val edges = (1L to 150L).map(s => (500L, s)) ++
      Seq((1L, 601L), (601L, 602L), (700L, 701L))
    val df = edges.toDF("src", "dst")
    val contracted = graft.canon.Canon.preContractHot(df, threshold = 3.0)
    // hub degree after contraction: exactly 1 (the witness edge)
    val sym = contracted.select(col("src")).union(contracted.select(col("dst")))
    val hubDeg = sym.filter(col("src") === 500L).count()
    assert(hubDeg == 1L, s"hub degree $hubDeg")
    // CC over contracted graph = CC over original
    def labels(e: org.apache.spark.sql.DataFrame) =
      graft.canon.Canon.connectedComponents(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = labels(df)
    val b = labels(contracted)
    // same partition of the original vertex set
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    assert(verts.forall(v => a(v) == b(v)),
      verts.filter(v => a(v) != b(v)).take(5).toString)
  }

  test("label is always a member of the component (partition validity)") {
    val edges = Seq((7L, 3L), (3L, 9L), (12L, 15L))
    val m = cc(edges)
    // build reachability the slow way
    assert(m(7L) == 3L && m(3L) == 3L && m(9L) == 3L)
    assert(m(12L) == 12L && m(15L) == 12L)
  }
}

class LinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("bigram jaccard") {
    assert(Link.bigramJaccard("高血压", "高血压") == 1.0)
    assert(Link.bigramJaccard("高血压病", "高血压") > 0.5)
    assert(Link.bigramJaccard("高血压", "阿司匹林") == 0.0)
  }

  test("candidates: same-type prefix within 2 chars via broadcast trie") {
    implicit val s = spark
    import s.implicits._
    val trie = graft.dict.Gazetteer.buildTrie(
      Map("高血压" -> "ds", "心脏" -> "og"))
    val trieB = spark.sparkContext.broadcast(trie)
    val surfaces = Seq(
      ("高血压病", "DIS"), // prefix + 1 char, same type → candidate
      ("高血压的治疗", "DIS"), // 3 extra chars → rejected
      ("高血压", "SYM"), // type mismatch → rejected
      ("心脏", "ORG") // exact → candidate (self)
    ).toDS()
    val out = Link.candidates(surfaces, trieB,
      graft.model.Ontology.jiebaReverse)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(out == Set(("高血压病", "高血压"), ("心脏", "心脏")))
  }

  test("context profiles are L2-normalized and idf-pruned") {
    implicit val s = spark
    import s.implicits._
    val ctx = Seq(
      ("A", "x"), ("A", "y"), ("A", "common"),
      ("B", "x"), ("B", "z"), ("B", "common"),
      ("C", "common"), ("C", "w")
    ).toDF("surface", "token")
    val prof = Link.contextProfiles(ctx, minIdf = 0.2)
    val rows = prof.collect().map(r =>
      (r.getString(0), r.getString(1), r.getDouble(2)))
    // "common" appears in all 3 surfaces → idf = ln(4/4) = 0 < 0.2 → pruned
    assert(!rows.exists(_._2 == "common"))
    // per-surface L2 norm ≈ 1
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val norm = math.sqrt(rs.map(x => x._3 * x._3).sum)
      assert(math.abs(norm - 1.0) < 1e-9)
    }
  }
}

class SnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import graft.snapshot.Snapshot

  test("stage writes manifest with per-partition counts and skips on resume") {
    implicit val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snap").toString + "/t1"
    var computes = 0
    val df1 = Snapshot.stage(spark, dir, "test", partitionBy = Seq("k")) {
      computes += 1
      Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    }
    assert(computes == 1 && df1.count() == 3)
    assert(Snapshot.exists(spark, dir))
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(Snapshot.manifestPath(dir)))
    assert(manifest.contains(""""rows":3"""))
    assert(manifest.contains(""""a":2""") && manifest.contains(""""b":1"""))
    // resume: compute must NOT run again
    val df2 = Snapshot.stage(spark, dir, "test", partitionBy = Seq("k")) {
      computes += 1
      Seq(("x", 9)).toDF("k", "v")
    }
    assert(computes == 1 && df2.count() == 3)
  }

  test("manifest commit leaves no temp file") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("snapc").toString
    Snapshot.stage(spark, s"$root/plain", "plain") { Seq(1, 2).toDF("v") }
    Snapshot.stageBucketed(spark, s"$root/bucketed", "snapc_bucketed",
      "bucketed", "v", buckets = 2) { Seq(1, 2).toDF("v") }
    spark.sql("DROP TABLE IF EXISTS snapc_bucketed")
    // the bucketed manifest counts what a re-read finds
    val m = java.nio.file.Files.readString(
      java.nio.file.Paths.get(Snapshot.manifestPath(s"$root/bucketed")))
    val n = spark.read.parquet(s"$root/bucketed").count()
    assert(n == 2)
    assert(m.contains(s""""rows":$n,"partitions":{"all":$n}"""), m)
    Seq("plain", "bucketed").foreach { d =>
      assert(Snapshot.exists(spark, s"$root/$d"))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"${Snapshot.manifestPath(s"$root/$d")}.tmp")))
    }
  }

  test("a directory holding parquet and only a temp manifest is recomputed") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("snapt").toString + "/t"
    Seq(("stale", 1)).toDF("k", "v").write.parquet(dir)
    // what a crash during the manifest write leaves behind
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${Snapshot.manifestPath(dir)}.tmp"),
      """{"stage":"test","ro""")
    var computes = 0
    val df = Snapshot.stage(spark, dir, "test") {
      computes += 1
      Seq(("fresh", 2)).toDF("k", "v")
    }
    assert(computes == 1)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("fresh"))
    assert(Snapshot.exists(spark, dir))
  }

  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  /** Every path under `root`, root included. */
  private def walk(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator.asScala.toList finally s.close()
  }

  test("partitioned snapshot: several writer tasks, one parquet file per directory") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("snapw").toString + "/t"
    // 32 partition keys over the session's 4 shuffle partitions
    Snapshot.stage(spark, dir, "writers", partitionBy = Seq("k")) {
      (0 until 96).map(i => (i % 32, i)).toDF("k", "v")
    }
    val partDirs = walk(dir).filter(_.getFileName.toString.startsWith("k="))
    assert(partDirs.size == 32)
    val files = partDirs.map(d => walk(d.toString).map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")))
    assert(files.forall(_.size == 1), files)
    val writers = files.flatten.map(_.split('-')(1)).distinct
    assert(writers.size > 1, s"one writer task wrote every directory: $writers")
  }

  test("snapshot IO sets the modes a plain write does, in-process, with .crc files") {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.hadoop.fs.permission.FsPermission
    import java.nio.file.attribute.PosixFilePermissions
    val s = spark
    import s.implicits._
    val root = Files.createTempDirectory("snapm").toString
    val df = Seq(("a", 1), ("b", 2), ("b", 3)).toDF("k", "v")
    Snapshot.write(df, s"$root/snap", "modes", Seq("k"))
    df.write.partitionBy("k").parquet(s"$root/plain")
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    // (path with task index and write uuid blanked, mode); the manifest has
    // no counterpart in a plain write
    def modes(base: String): Set[(String, String)] =
      walk(base).filterNot(_.getFileName.toString.contains("_manifest"))
        .map(p => Paths.get(base).relativize(p).toString
          .replaceAll("part-\\d+-[0-9a-f-]+", "part") -> mode(p)).toSet
    assert(modes(s"$root/snap") == modes(s"$root/plain"))
    // every parquet file keeps its checksum
    walk(s"$root/snap").filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach { p =>
        assert(Files.exists(p.resolveSibling(s".${p.getFileName}.crc")), p)
      }
    // snapshot IO resolves to the in-process filesystem; the session's own
    // Hadoop conf is left alone
    val fs = Snapshot.fs(spark, s"$root/snap")
    assert(fs.getClass == classOf[graft.snapshot.NioLocalFileSystem])
    assert(!new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .isInstanceOf[graft.snapshot.NioLocalFileSystem])
    // the POSIX mapping, beyond the 0644/0755 defaults
    val f = new HPath(s"$root/snap/_manifest.json")
    Seq("640" -> "rw-r-----", "600" -> "rw-------", "751" -> "rwxr-x--x",
      "777" -> "rwxrwxrwx", "644" -> "rw-r--r--").foreach { case (octal, want) =>
      fs.setPermission(f, new FsPermission(Integer.parseInt(octal, 8).toShort))
      assert(mode(Paths.get(f.toUri.getPath)) == want, octal)
    }
  }

  test("null partition values: manifest keys and counts equal a re-read of the parquet") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("snapn").toString + "/t"
    val df = Seq[(String, java.lang.Integer, Int)](("a", 1, 1), ("a", null, 2),
      (null, 1, 3), (null, null, 4), (null, null, 5), ("", 2, 6))
      .toDF("t", "b", "v")
    val m = Snapshot.write(df, dir, "nulls", Seq("t", "b"))
    // rows per leaf directory, each read on its own; the key is the pair of
    // directory values Spark chose (null and "" become the default name)
    val perDir = walk(dir).filter(_.getFileName.toString.startsWith("b="))
      .map { leaf =>
        val key = Seq(leaf.getParent, leaf)
          .map(_.getFileName.toString.split("=", 2)(1)).mkString("/")
        key -> spark.read.parquet(leaf.toString).count()
      }.toMap
    val d = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .DEFAULT_PARTITION_NAME
    assert(perDir == Map("a/1" -> 1L, s"a/$d" -> 1L, s"$d/1" -> 1L,
      s"$d/$d" -> 2L, s"$d/2" -> 1L))
    assert(m.partitions == perDir)
    assert(m.rows == spark.read.parquet(dir).count())
    // the re-read fallback keys rows the same way
    assert(Snapshot.recount(spark, dir, Seq("t", "b")) == m.partitions)
  }
}

class KgRunnerSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  test("full runner: snapshots commit, canon groups alias variants, resume is byte-stable") {
    val out = java.nio.file.Files.createTempDirectory("kg").toString
    graft.KgRunner.run(spark, out, nPages = 30, par = 4)
    val nodes = spark.read.parquet(s"$out/nodes")
    val edges = spark.read.parquet(s"$out/edges")
    assert(nodes.count() > 0 && edges.count() > 0)
    // every edge endpoint resolves
    assert(edges.filter(col("objId").isNull || col("subjId").isNull).count() == 0)
    // canon: a surface and its jitter-extended variant share canonId when both present
    val canon = spark.read.parquet(s"$out/canon")
    val byCanon = canon.groupBy("canonId").count()
    assert(byCanon.filter(col("count") > 1).count() > 0,
      "expected at least one multi-surface canonical group")
    // nodes carries the canon map's (surface, entType, canonId) rows as is
    val keys = Seq("surface", "entType", "canonId").map(col)
    val nodeKeys = nodes.select(keys: _*)
    val canonKeys = canon.select(keys: _*)
    assert(nodeKeys.count() == canonKeys.count())
    assert(nodeKeys.exceptAll(canonKeys).isEmpty && canonKeys.exceptAll(nodeKeys).isEmpty)
    // resume: re-run with same dir; edge bytes unchanged
    val before = edges.collect().map(_.toString).sorted.toSeq
    graft.KgRunner.run(spark, out, nPages = 30, par = 4)
    val after = spark.read.parquet(s"$out/edges")
      .collect().map(_.toString).sorted.toSeq
    assert(before == after)
  }
}
