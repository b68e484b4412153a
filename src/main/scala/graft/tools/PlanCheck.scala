package graft.tools

/** Plan-quality audit: prints the formatted physical plan of key queries and
  * greps for the properties that matter at 100 TB — PushedFilters reaching
  * the parquet scan, pruned ReadSchema, BroadcastHashJoin for dim joins,
  * WholeStageCodegen coverage. Run: sbt "runMain graft.tools.PlanCheck".
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // pinned at 4 like the test suites, so the audited plans do not depend
    // on the host's core count
    val spark = graft.Session.build("graft-plancheck", 4)

    val interesting = Seq("q1_agg", "j1_join_lineage", "j2_broadcast_dim",
      "p13_filter_guards", "a3_argmax_dedup", "u2_except",
      // round-3 reworked paths: single-pass langid (narrow, one scan),
      // capped multi-table embedding near-dup (one bucket shuffle + verify),
      // url blocklist (narrow extract + broadcast semi join on the domain)
      "tq_langid", "dedup_embedding_cos", "tq_url_blocklist",
      // composed filter: all signals in one narrow pass (no exchange
      // before the verdict projection)
      "tq_filter_pipeline",
      // ExactSubstr dedup: gram groupBy must partial-aggregate (no window)
      "dedup_substring",
      // round-4: sequence packing (ONE shuffle on shard, running-frame
      // window), domain mix (tiny histogram broadcast back, narrow
      // filter), fluency score (partial-agg bigram count + join back)
      "tq_pack_sequences", "tq_domain_mix", "tq_fluency_score",
      // the composed corpus-prep pipeline (filter -> dedup -> chunk -> pack)
      "tq_corpus_prep",
      // round-5: real BMP/WAV decode (narrow mapPartitions batch, no
      // shuffle) and SemDeDup (cached cell stage + capped intra-cell
      // pairs + CC over the checkpointed edge set)
      "mm_decode", "dedup_semantic",
      // round-5 additions: CDC chunking (pure row-local flatMap),
      // normalization (narrow codegen expression chain), bloom membership
      // (definite-new rows bypass the anti-join shuffle entirely)
      "tq_cdc_chunks", "tq_normalize_text", "dedup_bloom_membership",
      // rank-filters must rewrite to WindowGroupLimitExec
      "tq_domain_cap", "tq_keywords",
      // late round-5: classifier scoring (broadcast term join, narrow
      // corpus side), corpus stats + epoch sampler (tiny histogram
      // broadcast, narrow fan-out), bucketed shuffle (window partitioned
      // BY the bucket, broadcast offsets)
      "tq_classifier_score", "tq_corpus_stats", "tq_domain_epochs",
      "tq_corpus_shuffle",
      // final round-5 batch: temporal joins (as-of must be ONE window
      // over the union — no nested loop; range-count a plain equi-join on
      // (k, bin)), n-gram counts + HLL registers (narrow explode, one
      // partial-agg shuffle), keep-best cluster pick (struct-max agg, no
      // per-cluster window). web_host_triangles returns a checkpoint scan,
      // so its plan is pinned in PlanGuardSpec via the observe-metric
      // listener channel instead.
      "ev_asof_join", "ev_range_join",
      "tok_ngram_counts", "tq_hll_registers", "dedup_cluster_best")
    interesting.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.collect() // execute so AQE finalizes the physical plan
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val executed = df.queryExecution.executedPlan.toString
      def has(s: String) = plan.contains(s) || executed.contains(s)
      // executed-plan string renders codegen stages as "*(n) Operator"
      val codegen = has("WholeStageCodegen") ||
        executed.linesIterator.exists(_.trim.startsWith("+- *("))
      println(s"=== $name ===")
      println(s"  WholeStageCodegen : $codegen")
      println(s"  BroadcastHashJoin : ${has("BroadcastHashJoin")}")
      println(s"  SortMergeJoin     : ${has("SortMergeJoin")}")
      println(s"  PushedFilters     : ${
        plan.linesIterator.filter(_.contains("PushedFilters"))
          .map(_.trim.take(100)).mkString(" | ")}")
      println(s"  ReadSchema        : ${
        plan.linesIterator.filter(_.contains("ReadSchema"))
          .map(_.trim.take(120)).mkString(" | ")}")
    }
    // bucketed co-located join audit: zero exchanges expected
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_totalprice")
    graft.sources.Bucketing.writeBucketed(li, "pc_li_b", "l_orderkey", 8)
    graft.sources.Bucketing.writeBucketed(o, "pc_o_b", "o_orderkey", 8)
    val colocated = graft.sources.Bucketing.bucketedJoin(spark,
      "pc_li_b", "pc_o_b", "l_orderkey", "o_orderkey")
    println(s"=== bucketed_join ===")
    println(s"  shuffle-free      : ${!graft.sources.Bucketing.hasExchange(colocated)}")
    spark.sql("DROP TABLE IF EXISTS pc_li_b")
    spark.sql("DROP TABLE IF EXISTS pc_o_b")

    // canon-chain audit: context profiles over a surface-bucketed
    // mention_tokens table — tf is computed once on the bucketed read (no
    // exchange), cached, and every consumer (idf, nSurfaces, norms, the
    // norm join) reads the vocabulary-sized cache; the only data shuffles
    // are the tiny idf/nSurfaces aggregates over that cache (round 1: four
    // corpus-keyed shuffles + a separate driver count job). AQE is off for
    // the audit so the plan TREE can be walked exactly.
    implicit val s2: org.apache.spark.sql.SparkSession = spark
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val arts = graft.pipeline.Pipeline.artifacts(
      graft.corpus.Corpus.pages(spark, 40, 4))
    graft.sources.Bucketing.writeBucketed(
      graft.link.Link.mentionTokens(arts), "pc_mention_tokens", "surface", 4)
    val profiles = graft.link.Link.contextProfiles(
      spark.table("pc_mention_tokens")
        .select(org.apache.spark.sql.functions.col("surface"),
          org.apache.spark.sql.functions.col("token")),
      prePartitioned = true)
    profiles.collect()
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val plan = profiles.queryExecution.executedPlan
    val shuffles = plan.collectWithSubqueries {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    val hashShuffles = shuffles.count(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    val outerFileScans = plan.collectWithSubqueries {
      case f: FileSourceScanExec => f
    }.size
    val cacheReads = plan.collectWithSubqueries {
      case c: InMemoryTableScanExec => c
    }.size
    println(s"=== link_profiles_bucketed ===")
    println(s"  hash-shuffle exchanges : $hashShuffles (expect 1: the idf token agg; corpus-keyed: 0)")
    println(s"  total exchanges        : ${shuffles.size} (idf + the 1-row nSurfaces agg)")
    println(s"  corpus file scans      : $outerFileScans (expect 0 — tf cache serves all consumers)")
    println(s"  tf cache reads         : $cacheReads")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.sql("DROP TABLE IF EXISTS pc_mention_tokens")
    spark.stop()
  }
}
