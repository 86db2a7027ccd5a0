package graft

import org.apache.spark.sql.functions._

/** Physical-plan audits: each operator family must produce the plan
  * shape a 100 TB deployment needs — not merely a correct one.
  * (SURVEY.md §4: these are the Catalyst behaviors that replace Hive's
  * optimizer transforms; asserting them pins the engine's scale posture.)
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("q1_agg: two-phase hash aggregation (partial + final)") {
    val p = plan("q1_agg")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(800))
  }

  test("q3_topk: broadcast joins for the filtered dimension side + TakeOrdered") {
    val p = plan("q3_topk")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("q_orderby_limit: top-k via TakeOrderedAndProject, no global sort") {
    val p = plan("q_orderby_limit")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("rangepartitioning"), p.take(800))
  }

  test("q_window_topk: ranking filter pushed down as WindowGroupLimit") {
    val p = plan("q_window_topk")
    assert(p.contains("WindowGroupLimit"), p.take(800))
  }

  test("compute_stats aggregates partially (sketch merges by OR, " +
      "O(k) bytes per group cross the shuffle)") {
    functions.Registry.registerAll(spark)
    Engine.tables(spark, sfDir)
    val p = spark.sql(
      "select compute_stats(l_quantity, 16) from lineitem group by l_returnflag")
      .queryExecution.executedPlan.toString
    // TypedImperativeAggregate plans as ObjectHashAggregate; partial +
    // final instances prove the map-side combine runs before the
    // exchange (the FM sketch merges by OR, so this is lossless)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2, p.take(900))
    assert(p.contains("Exchange hashpartitioning"), p.take(900))
  }

  test("MERGE/UPDATE partition pruning: the affected-partition " +
      "predicate reaches the scan as a partition filter, so a " +
      "single-partition write reads one partition") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("merge_prune")
      .toString + "/t"
    Seq((1, "a", "p1"), (2, "b", "p2"), (3, "c", "p3"))
      .toDF("k", "v", "ds").write.partitionBy("ds").parquet(dir)
    val t = spark.read.parquet(dir)
    val aff = Seq(org.apache.spark.sql.Row("p2"))
    val pruned = operators.MergeInto.prunedTarget(t, Seq("ds"), aff)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }.getOrElse(fail("no file scan in pruned plan"))
    assert(scan.partitionFilters.nonEmpty,
      pruned.queryExecution.executedPlan.toString.take(900))
    // the pruned scan reads exactly the affected partition's rows
    assert(pruned.count() === 1)
    assert(scan.metrics.get("numFiles").isDefined)
    // end-to-end: an UPDATE touching p2 leaves p1/p3 directories
    // byte-identical (their files are never rewritten)
    def sig(p: String) = new java.io.File(s"$dir/ds=$p").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName + ":" + f.lastModified).sorted.toSeq
    val (s1, s3) = (sig("p1"), sig("p3"))
    operators.MergeInto.commit(spark.read.parquet(dir), dir,
      operators.MergeInto.Update(col("k") === 2, Map("v" -> lit("B"))),
      partitionCols = Seq("ds"))
    assert(sig("p1") === s1 && sig("p3") === s3)
    val after = spark.read.parquet(dir)
    assert(after.filter(col("v") === "B").count() === 1)
    assert(after.count() === 3)
  }

  test("q_ddl_evolve: ALTER schema evolution is lazy — no checkpoint " +
      "materialization, the parquet scan survives the rebind") {
    // Hive performs ADD/REPLACE/CHANGE COLUMNS as a metastore-only
    // edit with scan-time conversion; materializing the table (a
    // LogicalRDD from localCheckpoint) would copy 100 TB to add a
    // column. The evolved plan must still be a projection over the
    // original file scan.
    val p = plan("q_ddl_evolve")
    assert(!p.contains("ExistingRDD") && !p.contains("LogicalRDD"),
      p.take(900))
    assert(p.contains("Scan parquet") || p.contains("FileScan"),
      p.take(900))
  }

  test("scans prune columns: q1 reads only the 6 needed lineitem columns") {
    val p = plan("q1_agg")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"), read)
  }

  test("filters push to parquet: q3 date filters appear in PushedFilters") {
    val p = plan("q3_topk")
    val pushed = p.linesIterator.filter(_.contains("PushedFilters"))
      .mkString("\n")
    assert(pushed.contains("o_orderdate"), pushed)
  }

  private def codegen(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.CodegenMode)

  test("whole-stage codegen covers the hot path") {
    val p = codegen(SparkEntry.queries("q1_agg")(spark, sfDir))
    assert(p.contains("WholeStageCodegen"), p.take(400))
  }

  test("custom expressions stay inside codegen (no CodegenFallback rows)") {
    val e = Engine.tables(spark, sfDir)("embeddings")
    val q = e.select(graft.operators.Similarity.dot(
      col("embedding").cast("array<double>"),
      col("embedding").cast("array<double>")).as("d"))
    val p = codegen(q)
    // the generated java must call our static helper — proof the custom
    // expression compiled into the stage rather than falling back
    assert(p.contains("graft.functions.DotProduct.dot"), p.take(2000))
  }

  test("hive datetime arithmetic compiles into the stage (no fallback)") {
    // the HiveCasts rewrites swap Spark's datetime ops for the
    // hybrid-calendar expressions — they must stay codegen'd: the
    // generated java calls the static helpers directly
    Engine.tables(spark, sfDir)("orders")
      .createOrReplaceTempView("pa_orders")
    val q = spark.sql(
      "select cast(o_orderdate as date) - date '1995-06-07' as dd, " +
        "cast(o_orderdate as timestamp) + interval '2-2' year to month " +
        "as ym from pa_orders limit 5")
    val p = codegen(q)
    assert(p.contains("graft.functions.HiveDateTimeMath.hiveDiffMicros"),
      p.take(2000))
    assert(p.contains("graft.functions.HiveDateTimeMath.tsAddMonths"),
      p.take(2000))
  }

  test("parquet reads are vectorized (Batched columnar scan)") {
    // Hive's opt-in VectorizedRowBatch path (SURVEY.md §2.1) is Spark's
    // default columnar reader — assert it stays on for the workhorse scan
    val p = plan("q1_agg")
    val scan = p.linesIterator.find(_.contains("Batched")).getOrElse("")
    assert(scan.contains("Batched: true"), scan)
  }

  test("ivfTopK: every window is key-partitioned (no global-window funnel)") {
    val e = Engine.tables(spark, sfDir)("embeddings")
    val q = graft.operators.Similarity.ivfTopK(
      e, e.filter(col("vec_id") < 5), k = 3)
    val windows = q.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"single-partition window in ivfTopK plan: $w"))
  }

  test("AQE splits a planted skewed join at runtime (SkewJoinResolver " +
      "replacement)") {
    // one key holds ~90% of the left side; with small skew thresholds
    // the runtime re-planner must mark the sort-merge join skew-handled
    val conf = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      import spark.implicits._
      val left = spark.range(0, 200000)
        .select((when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")))
          .as("k"), col("id").as("payload"))
      val right = spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 2).as("v"))
      val joined = left.join(right, "k")
      // materialize THIS Dataset's query execution (count() would spawn
      // a separate one and leave this adaptive plan unexecuted).
      // 180000 rows collapse onto k=7; of the id%10==0 rows only
      // multiples of 10 below 1000 find a right match
      assert(joined.collect().length === 180100)
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew="),
        s"expected a skew-handled join in the adaptive plan:\n" +
          finalPlan.take(1500))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("partition pruning: static filters and dynamic (DPP) star joins " +
      "skip partitions") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_prune").toString
    Engine.tables(spark, sfDir)("orders")
      .withColumn("opart", pmod(col("o_custkey"), lit(10)))
      .write.partitionBy("opart").mode("overwrite").parquet(s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    // static: the literal partition predicate must reach PartitionFilters
    // (directory-level skip), not the data filters
    val p1 = fact.filter(col("opart") === 3).select("o_orderkey")
      .queryExecution.executedPlan.toString
    assert(p1.contains("PartitionFilters") && p1.contains("opart"),
      p1.take(1200))
    // dynamic: joining on the partition column against a filtered
    // (broadcastable) dim must plan a DPP subquery — at 100 TB this is
    // the difference between scanning one partition and all of them
    import spark.implicits._
    // partition values are directory strings, inferred INT on read; the
    // dim key must match exactly (a cast on the partition column
    // disqualifies it as a DPP key) and the build side must carry a
    // SELECTIVE FILTER that survives optimization — a filter over a
    // local relation constant-folds away, so the dim is parquet-backed
    import spark.implicits._
    (0 until 10).map(i => (i, s"t$i")).toDF("opart", "tag")
      .write.mode("overwrite").parquet(s"$base/dim")
    val dim = spark.read.parquet(s"$base/dim").filter(col("tag") === "t3")
    val q2 = fact.join(dim, "opart").select("o_orderkey", "tag")
    val p2 = q2.queryExecution.executedPlan.toString
    assert(p2.toLowerCase.contains("dynamicpruning"), p2.take(1500))
  }

  test("piiRedact and stratifiedSample are single-scan, shuffle-free") {
    for (q <- Seq("q_pii_redact", "q_sample_stratified")) {
      val p = plan(q)
      // presentSorted contributes the single terminal repartition; the
      // operator itself must add no exchange of its own
      assert("Exchange".r.findAllIn(p).length <= 1, s"$q:\n${p.take(1200)}")
      assert("Scan parquet".r.findAllIn(p).length === 1, s"$q scans once")
    }
  }

  test("packSequences: distributed prefix sum, no stratum-wide window " +
      "over documents") {
    val p = plan("q_pack_sequences")
    // two branches (local cumsums + bucket bases) over the scan, a
    // broadcast join of the tiny base table, terminal presentation sort
    assert("Scan parquet".r.findAllIn(p).length <= 2, p.take(1500))
    assert("Exchange".r.findAllIn(p).length <= 5, p.take(1500))
    // the document-stream window must partition by (stratum, bucket) —
    // a stratum-only window over docs would serialize each language
    assert(p.contains("windowspecdefinition(lang"), p.take(1500))
    assert(p.contains("__b"), p.take(1500))
    // bucket bases attach via broadcast, not a corpus shuffle join
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("tfidf joins the vocabulary without a forced broadcast") {
    // the df (document-frequency) side is one row per DISTINCT TERM —
    // a billions-of-rows table at corpus scale. The ONLY broadcast
    // hint allowed in the plan is the one-row corpus total; the
    // vocabulary join must be left to the planner (AQE may still
    // broadcast when stats say it's genuinely small).
    val df = graft.operators.TextAnalysis.tfidfTopTerms(
      Engine.tables(spark, sfDir)("documents"), k = 3)
    val hints = df.queryExecution.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
        => h
    }
    assert(hints.length === 1,
      s"expected only the corpus-total broadcast hint, got: $hints")
    assert(hints.head.child.stats.sizeInBytes < 1000,
      "the broadcast hint must sit on the one-row total, not the vocab")
  }

  test("jaccard inverted index reads the corpus exactly once") {
    val df = graft.operators.Dedup.jaccardPairs(
      Engine.tables(spark, sfDir)("documents"), threshold = 0.05)
    val p = df.queryExecution.executedPlan.toString
    // the postings groupBy replaces the shingle self-join: a second
    // "Scan parquet" would mean the tokenize+shingle pipeline (and the
    // 100 TB scan under it) runs twice
    assert("Scan parquet".r.findAllIn(p).length === 1, p.take(1500))
  }

  test("no reusable operator plans a single-partition exchange " +
      "(presentation sorts live in the query layer only)") {
    // these outputs are corpus-cardinality: a repartition(1)/global
    // sort inside the operator would funnel billions of rows through
    // one task at 100 TB. The query layer (Pipeline) adds
    // presentSorted for oracle hashing; the operators must not.
    val docs = Engine.tables(spark, sfDir)("documents")
    val ops: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "exactGroups" -> graft.operators.Dedup.exactGroups(docs),
      "jaccardPairs" -> graft.operators.Dedup
        .jaccardPairs(docs, threshold = 0.05),
      "minhashDedup" -> graft.operators.Dedup
        .minhashDedup(docs, threshold = 0.05),
      "dedupCorpus" -> graft.operators.Dedup
        .dedupCorpus(docs, threshold = 0.05))
    ops.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan.toString
      // the presentation funnel is repartition(1) —
      // RoundRobinPartitioning(1). (A bare `Exchange SinglePartition`
      // under an empty-key aggregate is fine: scalar aggregates and
      // Spark's injected runtime bloom filters merge one ROW, not the
      // row stream.)
      assert(!p.contains("RoundRobinPartitioning(1)"),
        s"$name plans a single-partition round-robin exchange:\n" +
          p.take(1500))
    }
  }

  test("presentSorted: single partition only below the provable size " +
      "bound; a provably large input keeps the scalable range sort " +
      "with the identical row order") {
    import graft.Present._
    val df = Engine.tables(spark, sfDir)("lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .filter(col("l_quantity") >= 45)
    val small = df.presentSorted("l_orderkey", "l_linenumber")
    assert(small.queryExecution.executedPlan.toString
      .contains("Exchange SinglePartition, REPARTITION_BY_NUM"))
    // a bound below the file size: the SAME sort now plans the
    // parallel range sort (what a 100 TB input gets)
    val large = Present.sorted(df, maxSmallBytes = 16,
      Seq(col("l_orderkey"), col("l_linenumber")))
    val p = large.queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning"), p.take(800))
    assert(!p.contains("Exchange SinglePartition"), p.take(800))
    assert(large.collect().toSeq === small.collect().toSeq)
  }

  test("presentSorted over a JDBC storage-handler table: the scale probe " +
      "reads the relation's own size, so a source that cannot say keeps " +
      "the range sort") {
    import graft.Present._
    val dbDir = java.nio.file.Files.createTempDirectory("graft_derby_probe")
    val url = s"jdbc:derby:$dbDir/db;create=true"
    Class.forName("org.apache.derby.iapi.jdbc.AutoloadedDriver")
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE EMP (ID INT NOT NULL, NAME VARCHAR(32))")
      st.execute("INSERT INTO EMP VALUES (3,'cat'), (1,'ann'), (2,'bob')")
    } finally conn.close()
    val h = new HiveStatements(spark)
    h.sql("DROP TABLE IF EXISTS jdbc_probe_t")
    h.sql(s"""CREATE EXTERNAL TABLE jdbc_probe_t
      STORED BY 'org.apache.hive.storage.jdbc.JdbcStorageHandler'
      TBLPROPERTIES ('hive.sql.jdbc.url' = '$url',
        'hive.sql.table' = 'EMP')""")
    try {
      val df = spark.table("jdbc_probe_t")
      val leaves = df.queryExecution.analyzed.collectLeaves()
        .flatMap(Engine.leafScale)
      assert(leaves.map(_.bytes) === Seq(Some(Long.MaxValue)))
      // two unknown-size leaves saturate the sum, never overflow it
      val twice = df.union(df)
      assert(Present.provablyLarge(twice, Present.MaxSmallBytes))
      val sorted = df.presentSorted("id")
      val p = sorted.queryExecution.executedPlan.toString
      assert(p.contains("rangepartitioning"), p.take(800))
      assert(!p.contains("Exchange SinglePartition"), p.take(800))
      assert(sorted.collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
    } finally h.sql("DROP TABLE jdbc_probe_t")
  }

  test("semi/anti joins plan as joins, not subquery re-execution") {
    assert(plan("q_join_semi").contains("LeftSemi"))
    assert(plan("q_join_anti").contains("LeftAnti"))
  }

  test("broadcast star join: no shuffle on the fact table side") {
    val p = plan("q_join_broadcast")
    // all three dimensions broadcast; the only exchanges are broadcasts
    // and the final agg/presentation shuffles
    assert("BroadcastHashJoin".r.findAllIn(p).length === 3, p.take(1200))
  }
}
