package graft

import org.apache.spark.sql.functions._

/** HiveQL-dialect surface checks (SURVEY.md §2.13/§3.5): the DDL/DML and
  * dialect constructs the reference's users write must parse and run on
  * the Spark dialect as-is.
  */
class DialectSpec extends SparkSpec {

  private lazy val views = Engine.tables(spark, sfDir)

  test("CREATE TABLE / INSERT / CREATE VIEW / DROP lifecycle") {
    views
    spark.sql("DROP TABLE IF EXISTS ddl_t")
    spark.sql("CREATE TABLE ddl_t (k INT, v STRING) USING parquet")
    spark.sql("INSERT INTO ddl_t VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT OVERWRITE TABLE ddl_t VALUES (3, 'c')")
    assert(spark.table("ddl_t").count() === 1)
    spark.sql("CREATE OR REPLACE VIEW ddl_v AS SELECT k * 2 AS k2 FROM ddl_t")
    assert(spark.sql("SELECT k2 FROM ddl_v").head().getInt(0) === 6)
    spark.sql("DROP VIEW ddl_v")
    spark.sql("DROP TABLE ddl_t")
  }

  test("public entry: DESCRIBE FORMATTED renders the Hive layout " +
      "(column block + storage descriptor) from the metadata layer") {
    val h = new HiveStatements(spark)
    h.sql("DROP TABLE IF EXISTS meta_fmt")
    h.sql("CREATE TABLE meta_fmt (k INT COMMENT 'the key', v STRING) " +
      "PARTITIONED BY (ds STRING) " +
      "CLUSTERED BY (k) SORTED BY (k ASC) INTO 4 BUCKETS " +
      "STORED AS ORC TBLPROPERTIES ('who'='me')")
    val rows = h.sql("DESCRIBE FORMATTED meta_fmt").get.collect()
      .map(r => (r.getString(0).trim, r.getString(1).trim,
        Option(r.getString(2)).map(_.trim).getOrElse("")))
    // Hive column block: %-20s padded cells, partition info section
    assert(rows.exists(r => r._1 == "k" && r._2 == "int" &&
      r._3 == "the key"), rows.mkString("\n"))
    assert(rows.exists(_._1 == "# Partition Information"))
    assert(rows.exists(r => r._1 == "ds" && r._2 == "string"))
    // storage descriptor from the metadata state machine
    assert(rows.exists(r => r._1 == "SerDe Library:" &&
      r._2 == "org.apache.hadoop.hive.ql.io.orc.OrcSerde"))
    assert(rows.exists(r => r._1 == "InputFormat:" &&
      r._2 == "org.apache.hadoop.hive.ql.io.orc.OrcInputFormat"))
    assert(rows.exists(r => r._1 == "Num Buckets:" && r._2 == "4"))
    assert(rows.exists(r => r._1 == "Bucket Columns:" && r._2 == "[k]"))
    assert(rows.exists(r => r._1 == "Sort Columns:" &&
      r._2 == "[Order(col:k, order:1)]"))
    assert(rows.exists(r => r._1 == "Table Type:" &&
      r._2 == "MANAGED_TABLE"))
    // user properties render under Table Parameters:
    assert(rows.exists(_._1 == "Table Parameters:"), rows.mkString("\n"))
    assert(rows.exists(r => r._1 == "" && r._2 == "who" &&
      r._3 == "me"), rows.mkString("\n"))
    // SHOW TBLPROPERTIES serves the user property
    val p = h.sql("SHOW TBLPROPERTIES meta_fmt ('who')").get.collect()
    assert(p.head.getString(0) === "me")
    // SHOW COLUMNS lists padded lowercase names
    val cols = h.sql("SHOW COLUMNS FROM meta_fmt").get.collect()
      .map(_.getString(0).trim)
    assert(cols.toSeq === Seq("k", "v", "ds"))
    spark.sql("DROP TABLE IF EXISTS meta_fmt")
  }

  test("public entry: SHOW DATABASES / SHOW TABLES list the session " +
      "namespace with creator-db ownership") {
    val h = new HiveStatements(spark)
    h.sql("CREATE DATABASE IF NOT EXISTS nsdb1")
    h.sql("DROP TABLE IF EXISTS ns_t1")
    h.sql("CREATE TABLE ns_t1 (k INT) USING parquet")
    h.sql("CREATE TABLE nsdb1.ns_t2 (k INT) USING parquet")
    val dbs = h.sql("SHOW DATABASES").get.collect().map(_.getString(0))
    assert(dbs.contains("default") && dbs.contains("nsdb1"),
      dbs.mkString(","))
    val dft = h.sql("SHOW TABLES").get.collect().map(_.getString(0))
    assert(dft.contains("ns_t1") && !dft.contains("ns_t2"),
      dft.mkString(","))
    val in1 = h.sql("SHOW TABLES IN nsdb1").get.collect()
      .map(_.getString(0))
    assert(in1.toSeq === Seq("ns_t2"), in1.mkString(","))
    val like = h.sql("SHOW TABLES 'ns_*'").get.collect()
      .map(_.getString(0))
    assert(like.contains("ns_t1"))
    spark.sql("DROP TABLE IF EXISTS ns_t1")
    // the always-mangle namespace binds db tables as `db__name`
    spark.sql("DROP TABLE IF EXISTS nsdb1__ns_t2")
  }

  test("public entry: cross-db same-name tables coexist under the " +
      "always-mangle namespace (USE routing, qualified refs, " +
      "SHOW TABLES per db, DESCRIBE labels)") {
    val h = new HiveStatements(spark)
    h.sql("CREATE DATABASE IF NOT EXISTS nstwin1")
    h.sql("CREATE DATABASE IF NOT EXISTS nstwin2")
    h.sql("CREATE TABLE nstwin1.twin (k INT) USING parquet")
    h.sql("CREATE TABLE nstwin2.twin (s STRING, extra INT) USING parquet")
    h.sql("INSERT INTO nstwin1.twin VALUES (7)")
    h.sql("INSERT INTO nstwin2.twin VALUES ('x', 1), ('y', 2)")
    // both coexist: distinct schemas, distinct rows
    assert(h.sql("SELECT k FROM nstwin1.twin").get.head().getInt(0) === 7)
    assert(h.sql("SELECT count(*) AS c FROM nstwin2.twin").get
      .head().getLong(0) === 2)
    // USE routes unqualified references per database
    h.sql("USE nstwin1")
    assert(h.sql("SELECT * FROM twin").get.columns.toSeq === Seq("k"))
    // cross-db qualified ref still resolves under another USE
    assert(h.sql("SELECT s FROM nstwin2.twin ORDER BY s").get
      .head().getString(0) === "x")
    h.sql("USE nstwin2")
    assert(h.sql("SELECT * FROM twin").get.columns.toSeq ===
      Seq("s", "extra"))
    h.sql("USE default")
    // SHOW TABLES lists each db's own binding, bare
    val in1 = h.sql("SHOW TABLES IN nstwin1").get.collect()
      .map(_.getString(0))
    val in2 = h.sql("SHOW TABLES IN nstwin2").get.collect()
      .map(_.getString(0))
    assert(in1.toSeq === Seq("twin"), in1.mkString(","))
    assert(in2.toSeq === Seq("twin"), in2.mkString(","))
    val dft = h.sql("SHOW TABLES").get.collect().map(_.getString(0))
    assert(!dft.contains("twin") && !dft.exists(_.contains("nstwin")),
      dft.mkString(","))
    // DESCRIBE resolves the right twin and labels its database
    val d1 = h.sql("DESCRIBE FORMATTED nstwin1.twin").get.collect()
      .map(r => (r.getString(0).trim, r.getString(1).trim))
    assert(d1.exists(r => r._1 == "k" && r._2 == "int"),
      d1.mkString("\n"))
    assert(d1.exists(r => r._1 == "Database:" && r._2 == "nstwin1"),
      d1.mkString("\n"))
    val d2 = h.sql("DESCRIBE nstwin2.twin").get.collect()
      .map(_.getString(0).trim)
    assert(d2.contains("s") && d2.contains("extra"), d2.mkString(","))
    // DROP by qualified name removes only that db's twin
    h.sql("DROP TABLE nstwin1.twin")
    assert(h.sql("SHOW TABLES IN nstwin1").get.collect().isEmpty)
    assert(h.sql("SELECT count(*) AS c FROM nstwin2.twin").get
      .head().getLong(0) === 2)
    h.sql("DROP TABLE nstwin2.twin")
    spark.sql("DROP DATABASE IF EXISTS nstwin1")
    spark.sql("DROP DATABASE IF EXISTS nstwin2")
  }

  test("public entry: DESCRIBE FORMATTED PARTITION resolves the " +
      "partition registered by a static INSERT") {
    val h = new HiveStatements(spark)
    import spark.implicits._
    Seq((0, "seed")).toDF("k", "ds").limit(0)
      .createOrReplaceTempView("ns_part")
    h.sql("ALTER TABLE ns_part ADD COLUMNS (extra INT)") // warm the path
    spark.catalog.dropTempView("ns_part")
    h.sql("CREATE TABLE ns_part2 (k INT) PARTITIONED BY (ds STRING) " +
      "STORED AS ORC")
    h.meta.tablePartCols("ns_part2") = Seq("ds")
    Seq((1, "2008")).toDF("k", "ds").createOrReplaceTempView("ns_part2")
    h.insertInto("ns_part2", overwrite = false,
      Seq((2, "2009")).toDF("k", "ds"), partSpec = "ds='2009'",
      colList = Seq("k"))
    val rows = h.sql("DESCRIBE FORMATTED ns_part2 PARTITION (ds='2009')")
      .get.collect().map(r => (r.getString(0).trim, r.getString(1).trim))
    assert(rows.exists(r => r._1 == "Partition Value:" &&
      r._2 == "[2009]"), rows.mkString("\n"))
    assert(rows.exists(r => r._1 == "SerDe Library:" &&
      r._2.contains("OrcSerde")), rows.mkString("\n"))
    spark.catalog.dropTempView("ns_part2")
    spark.sql("DROP TABLE IF EXISTS ns_part2")
  }

  test("public entry: column-level DESCRIBE drills into nested types") {
    val h = new HiveStatements(spark)
    h.sql("DROP TABLE IF EXISTS dcol_t")
    h.sql("CREATE TABLE dcol_t (k INT COMMENT 'pk', " +
      "st STRUCT<a:INT, b:ARRAY<STRING>>, " +
      "m MAP<STRING, DOUBLE>) STORED AS ORC")
    def one(sql: String) = h.sql(sql).get.collect()
      .map(r => (r.getString(0).trim, r.getString(1).trim))
    assert(one("DESCRIBE dcol_t k").head === ("k", "int"))
    // a struct column lists its fields
    val st = one("DESCRIBE dcol_t st")
    assert(st.toSeq === Seq(("a", "int"), ("b", "array<string>")), st)
    assert(one("DESCRIBE dcol_t st.b.$elem$").head ===
      ("$elem$", "string"))
    assert(one("DESCRIBE dcol_t m.$value$").head ===
      ("$value$", "double"))
    spark.sql("DROP TABLE IF EXISTS dcol_t")
  }

  test("public entry: DESCRIBE DATABASE and SHOW VIEWS") {
    val h = new HiveStatements(spark)
    val d = h.sql("DESCRIBE DATABASE default").get.collect().head
    assert(d.getString(0) === "default")
    h.sql("CREATE OR REPLACE VIEW sv_view AS SELECT 1 AS one")
    val vs = h.sql("SHOW VIEWS").get.collect().map(_.getString(0))
    assert(vs.contains("sv_view"), vs.mkString(","))
    val none = h.sql("SHOW VIEWS 'zzz*'").get.collect()
    assert(none.isEmpty)
    spark.sql("DROP VIEW IF EXISTS sv_view")
  }

  test("public entry: SHOW FUNCTIONS lists sorted resolvable names " +
      "with Hive glob patterns") {
    val h = new HiveStatements(spark)
    functions.Registry.registerAll(spark)
    val all = h.sql("SHOW FUNCTIONS").get.collect().map(_.getString(0))
    assert(all.contains("upper") && all.contains("hive_hash"),
      all.take(20).mkString(","))
    assert(all.toSeq === all.toSeq.sorted)
    val like = h.sql("SHOW FUNCTIONS LIKE 'perc*'").get.collect()
      .map(_.getString(0))
    assert(like.nonEmpty && like.forall(_.startsWith("perc")),
      like.mkString(","))
  }

  test("public entry: SHOW CREATE TABLE reconstructs the Hive DDL " +
      "from the metadata layer") {
    val h = new HiveStatements(spark)
    h.sql("DROP TABLE IF EXISTS sct_t")
    h.sql("CREATE TABLE sct_t (k INT COMMENT 'pk', v STRING) " +
      "PARTITIONED BY (ds STRING) STORED AS ORC " +
      "TBLPROPERTIES ('who'='me')")
    val txt = h.sql("SHOW CREATE TABLE sct_t").get.collect()
      .map(_.getString(0)).mkString("\n")
    assert(txt.contains("CREATE TABLE `sct_t`("), txt)
    assert(txt.contains("`k` int COMMENT 'pk',"), txt)
    assert(txt.contains("PARTITIONED BY ("), txt)
    assert(txt.contains("`ds` string"), txt)
    assert(txt.contains(
      "'org.apache.hadoop.hive.ql.io.orc.OrcSerde'"), txt)
    assert(txt.contains("'who'='me'"), txt)
    spark.sql("DROP TABLE IF EXISTS sct_t")
  }

  test("public entry: SHOW CREATE TABLE matches the reference " +
      "template byte-for-byte (DDLTask.showCreateTable ST layout)") {
    val h = new HiveStatements(spark)
    h.sql("DROP TABLE IF EXISTS sct_exact")
    h.sql("CREATE TABLE sct_exact (key int, value string, " +
      "newvalue bigint) ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' " +
      "COLLECTION ITEMS TERMINATED BY '|' MAP KEYS TERMINATED BY " +
      "'\\045' LINES TERMINATED BY '\\n' STORED AS textfile")
    val lines = h.sql("SHOW CREATE TABLE sct_exact").get.collect()
      .map(_.getString(0)).toSeq
    // the reference recording's exact lines
    // (show_create_table_delimited.q.out), up to LOCATION/DDL-time
    val stable = lines.filterNot(l =>
      l.contains("transient_lastDdlTime") ||
        (lines.indexOf(l) > 0 &&
          lines(lines.indexOf(l) - 1) == "LOCATION"))
    assert(stable.take(16) === Seq(
      "CREATE TABLE `sct_exact`(",
      "  `key` int, ",
      "  `value` string, ",
      "  `newvalue` bigint)",
      "ROW FORMAT SERDE ",
      "  'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' ",
      "WITH SERDEPROPERTIES ( ",
      "  'colelction.delim'='|', ",
      "  'field.delim'=',', ",
      "  'line.delim'='\\n', ",
      "  'mapkey.delim'='%', ",
      "  'serialization.format'=',') ",
      "STORED AS INPUTFORMAT ",
      "  'org.apache.hadoop.mapred.TextInputFormat' ",
      "OUTPUTFORMAT ",
      "  'org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat'"),
      lines.mkString("\n"))
    assert(lines.contains("LOCATION"), lines.mkString("\n"))
    assert(lines.last == "TBLPROPERTIES (" ||
      lines.exists(_.contains("transient_lastDdlTime")),
      lines.mkString("\n"))
    spark.sql("DROP TABLE IF EXISTS sct_exact")
    // a VIEW renders the one-line CREATE VIEW shape with star
    // expansion and db-qualified source (DDLTask.java:2223-2228)
    views
    h.sql("DROP VIEW IF EXISTS sct_v")
    h.sql("DROP TABLE IF EXISTS sct_vb")
    h.sql("CREATE TABLE sct_vb USING parquet AS " +
      "SELECT n_nationkey, n_name FROM nation")
    h.sql("CREATE VIEW sct_v AS SELECT * FROM sct_vb")
    val v = h.sql("SHOW CREATE TABLE sct_v").get.collect()
      .map(_.getString(0)).toSeq
    assert(v === Seq("CREATE VIEW `sct_v` AS SELECT " +
      "`sct_vb`.`n_nationkey`, `sct_vb`.`n_name` " +
      "FROM `default`.`sct_vb`"), v.mkString("\n"))
    h.sql("DROP VIEW sct_v")
    h.sql("DROP TABLE sct_vb")
    // SHOW CREATE DATABASE (DDLTask.showCreateDatabase)
    h.sql("CREATE DATABASE IF NOT EXISTS sct_db COMMENT 'db cmt' " +
      "WITH DBPROPERTIES ('a'='b')")
    val d = h.sql("SHOW CREATE DATABASE sct_db").get.collect()
      .map(_.getString(0)).toSeq
    assert(d.head === "CREATE DATABASE `sct_db`", d.mkString("\n"))
    assert(d.take(3) === Seq("CREATE DATABASE `sct_db`", "COMMENT",
      "  'db cmt'"), d.mkString("\n"))
    assert(d.takeRight(2) === Seq("WITH DBPROPERTIES (",
      "  'a'='b')"), d.mkString("\n"))
  }

  test("public entry: DESCRIBE FUNCTION [EXTENDED] renders Hive's " +
      "layout (usage, no-doc line, does-not-exist line, class line)") {
    val h = new HiveStatements(spark)
    val up = h.sql("DESCRIBE FUNCTION upper").get.collect()
      .map(_.getString(0))
    assert(up.exists(_.contains("upper")), up.mkString("\n"))
    val ext = h.sql("DESCRIBE FUNCTION EXTENDED upper").get.collect()
      .map(_.getString(0))
    assert(ext.exists(_.startsWith("Function class:")), ext.mkString("\n"))
    assert(ext.exists(_.startsWith("Function type:")), ext.mkString("\n"))
    val nope = h.sql("DESCRIBE FUNCTION no_such_fn_xyz").get.collect()
      .map(_.getString(0))
    assert(nope.toSeq === Seq("Function 'no_such_fn_xyz' does not exist."))
  }

  test("public entry: SHOW PARTITIONS lists inserted partitions ∪ " +
      "metadata-only ADD PARTITION specs with escapePathName naming, " +
      "and answers from METADATA ONLY — zero Spark jobs, no data " +
      "scan (reference ObjectStore.listPartitionNames)") {
    val h = new HiveStatements(spark)
    h.sql("DROP TABLE IF EXISTS meta_parts")
    h.sql("CREATE TABLE meta_parts (k INT) PARTITIONED BY (ds STRING)")
    // real rows in two partitions through the dialect INSERT path
    h.sql("INSERT INTO meta_parts PARTITION (ds='2008-04-08') VALUES (1)")
    h.sql("INSERT INTO meta_parts PARTITION (ds='2008-04-09') VALUES (2)")
    // a metadata-only partition (no rows)
    h.sql("ALTER TABLE meta_parts ADD PARTITION (ds='2008-04-10')")
    // count Spark jobs across the metadata query: a distinct() scan
    // would submit at least one; the metastore answer submits none
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (parts, one) = try {
      val p = h.sql("SHOW PARTITIONS meta_parts").get.collect()
        .map(_.getString(0)).toSeq
      val o = h.sql(
        "SHOW PARTITIONS meta_parts PARTITION (ds='2008-04-09')").get
        .collect().map(_.getString(0)).toSeq
      Thread.sleep(500) // listener events deliver asynchronously
      (p, o)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(parts === Seq("ds=2008-04-08", "ds=2008-04-09",
      "ds=2008-04-10"), parts.mkString("\n"))
    assert(one === Seq("ds=2008-04-09"))
    assert(jobs.get() === 0,
      s"SHOW PARTITIONS submitted ${jobs.get()} Spark job(s) — it " +
        "must answer from catalog/filesystem metadata, never a scan")
    h.sql("DROP TABLE IF EXISTS meta_parts")
  }

  test("CREATE TEMPORARY MACRO equivalent: SQL scalar function") {
    // Hive macros (CREATE TEMPORARY MACRO sigmoid(x DOUBLE) 1.0/(1.0+
    // exp(-x)), ql/ddl CreateMacroDesc) map to Spark SQL UDFs — a named
    // SQL expression usable anywhere a function is
    spark.sql("""CREATE OR REPLACE TEMPORARY FUNCTION sigmoid_m(x DOUBLE)
      RETURNS DOUBLE RETURN 1.0 / (1.0 + exp(-x))""")
    assert(spark.sql("SELECT sigmoid_m(0.0d) AS s").head().getDouble(0)
      === 0.5)
    assert(spark.sql(
      "SELECT sum(CASE WHEN sigmoid_m(CAST(id AS DOUBLE)) > 0.5 THEN 1 " +
        "ELSE 0 END) AS n FROM range(5)").head().getLong(0) === 4L)
  }

  test("CTAS with partitioning") {
    views
    spark.sql("DROP TABLE IF EXISTS ddl_ctas")
    spark.sql("""CREATE TABLE ddl_ctas USING parquet
                 PARTITIONED BY (y)
                 AS SELECT o_orderkey, year(o_orderdate) AS y FROM orders""")
    assert(spark.table("ddl_ctas").count() ===
      spark.table("orders").count())
    spark.sql("DROP TABLE ddl_ctas")
  }

  test("DISTRIBUTE BY / SORT BY / CLUSTER BY parse and execute") {
    views
    val d = spark.sql(
      "SELECT l_orderkey FROM lineitem DISTRIBUTE BY l_orderkey SORT BY l_orderkey")
    assert(d.count() > 0)
    val c = spark.sql("SELECT l_orderkey FROM lineitem CLUSTER BY l_orderkey")
    assert(c.count() > 0)
    // sortWithinPartitions invariant: each partition is sorted
    val parts = spark.table("lineitem").repartition(4, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .select("l_orderkey").rdd
      .mapPartitions { it =>
        val a = it.map(_.getLong(0)).toArray
        Iterator.single(a.zip(a.drop(1)).forall { case (x, y) => x <= y })
      }.collect()
    assert(parts.forall(identity))
  }

  test("TABLESAMPLE syntax") {
    views
    val n = spark.sql(
      "SELECT count(*) AS n FROM lineitem TABLESAMPLE (10 PERCENT)")
      .head().getLong(0)
    assert(n > 0 && n < spark.table("lineitem").count())
  }

  test("TRANSFORM ... USING pipes rows through an external script") {
    views
    val out = spark.sql(
      """SELECT TRANSFORM(l_orderkey) USING 'cat' AS (k STRING)
         FROM (SELECT l_orderkey FROM lineitem LIMIT 5)""")
    assert(out.count() === 5)
  }

  test("external partitioned table + partition recovery (MSCK)") {
    views
    val base = java.nio.file.Files.createTempDirectory("graft_msck").toString
    val o = spark.table("orders")
      .withColumn("y", year(col("o_orderdate")))
    o.write.mode("overwrite").partitionBy("y").parquet(base)
    spark.sql("DROP TABLE IF EXISTS msck_t")
    spark.sql(s"""CREATE TABLE msck_t (o_orderkey BIGINT, o_custkey BIGINT,
      o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP,
      o_orderpriority STRING) USING parquet PARTITIONED BY (y INT)
      LOCATION '$base'""")
    spark.sql("MSCK REPAIR TABLE msck_t")
    assert(spark.table("msck_t").count() === o.count())
    // partition pruning against the recovered partitions
    val one = spark.table("msck_t").filter(col("y") === 1995)
    assert(one.count() === o.filter(col("y") === 1995).count())
    spark.sql("DROP TABLE msck_t")
  }

  test("EXPLAIN and ANALYZE TABLE run") {
    views
    assert(spark.sql("EXPLAIN FORMATTED SELECT count(*) FROM orders")
      .head().getString(0).contains("Physical Plan"))
    spark.sql("DROP TABLE IF EXISTS stats_t")
    spark.sql("CREATE TABLE stats_t USING parquet AS SELECT * FROM nation")
    spark.sql("ANALYZE TABLE stats_t COMPUTE STATISTICS FOR ALL COLUMNS")
    val desc = spark.sql("DESCRIBE EXTENDED stats_t").collect().mkString
    assert(desc.contains("Statistics"))
    spark.sql("DROP TABLE stats_t")
  }

  test("broadcast and skew-handling knobs are live (AQE)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    // a dimension join actually plans as broadcast
    val m = views
    val j = m("orders").join(m("customer"),
      col("o_custkey") === col("c_custkey"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
  }

  // ---- the PUBLIC HiveQL entry point (HiveStatements.sql →
  // HiveDialect.rewrite): the dialect layer the golden corpus proves,
  // shipped in src/main — driven here through the library surface a
  // user calls, no harness involved.

  private lazy val hive = { views; new HiveStatements(spark) }

  test("public entry: WINDOW clause inheritance, forward refs and " +
      "aliases (HiveParser.g windowClause)") {
    val df = hive.sql(
      """SELECT c_custkey,
                sum(c_acctbal) OVER w1 AS s,
                avg(c_acctbal) OVER w2 AS a,
                min(c_acctbal) OVER w3 AS mn
         FROM customer
         WINDOW w1 AS (PARTITION BY c_nationkey ORDER BY c_custkey),
                w2 AS (w1 ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
                w3 AS w1""").get
    assert(df.columns.toSeq === Seq("c_custkey", "s", "a", "mn"))
    assert(df.count() === spark.table("customer").count())
  }

  test("public entry: Hive `LIMIT offset,count` sugar") {
    val all = hive.sql(
      "SELECT c_custkey FROM customer ORDER BY c_custkey").get
      .collect().map(_.getLong(0)).toSeq
    val page = hive.sql(
      "SELECT c_custkey FROM customer ORDER BY c_custkey LIMIT 5,3").get
      .collect().map(_.getLong(0)).toSeq
    assert(page === all.slice(5, 8))
  }

  test("public entry: Hive interval sugar and FLOOR(ts TO unit)") {
    // bare `2 days` interval (HiveParser intervalLiteral) — Spark's
    // parser rejects it; the entry point retries through intervalSugar.
    // cast-to-string inside SQL so the session (not JVM) timezone
    // renders the literal it parsed.
    val d = hive.sql("SELECT cast(timestamp '2001-01-01 00:00:00' " +
      "+ 2 days AS string) AS d").get.head
    assert(d.getString(0).startsWith("2001-01-03"))
    val f = hive.sql("SELECT cast(floor(timestamp '2001-03-15 " +
      "11:22:33' TO MONTH) AS string) AS m").get.head
    assert(f.getString(0).startsWith("2001-03-01"))
  }

  test("public entry: MAP/REDUCE sugar and TABLESAMPLE(BUCKET..ON)") {
    // TABLESAMPLE BUCKET x OUT OF y ON col → Hive's deterministic
    // hash predicate (SemanticAnalyzer genSamplePredicate)
    val s = hive.sql(
      "SELECT count(*) AS n FROM customer " +
        "TABLESAMPLE (BUCKET 1 OUT OF 2 ON c_custkey) c").get
      .head.getLong(0)
    val total = spark.table("customer").count()
    assert(s > 0 && s < total)
    // stddev/variance resolve to Hive's POPULATION variants
    val v = hive.sql("SELECT stddev(c_acctbal) AS sd FROM customer").get
      .head.getDouble(0)
    val vp = spark.sql(
      "SELECT stddev_pop(c_acctbal) FROM customer").head.getDouble(0)
    assert(math.abs(v - vp) < 1e-9)
  }

  test("public entry: DISTINCT window aggregate retry " +
      "(Spark rejects COUNT(DISTINCT) OVER)") {
    val df = hive.sql(
      """SELECT o_custkey,
                count(DISTINCT o_orderpriority)
                  OVER (PARTITION BY o_custkey) AS np
         FROM orders""").get
    assert(df.select(max(col("np"))).head.getInt(0) >= 1)
  }

  test("public entry: statements dispatch after dialect rewrite " +
      "(UPDATE with Hive LIMIT-free predicates)") {
    spark.range(5).selectExpr("id AS k", "CAST(id AS STRING) AS v")
      .createOrReplaceTempView("upd_t")
    assert(hive.sql("UPDATE upd_t SET v = 'x' WHERE k >= 3").isEmpty)
    assert(spark.table("upd_t").filter(col("v") === "x").count() === 2)
    spark.catalog.dropTempView("upd_t")
  }

  test("public entry: index DDL + SHOW INDEX, LOCK/UNLOCK + " +
      "SHOW LOCKS, DESCRIBE DATABASE EXTENDED") {
    val h = new HiveStatements(spark)
    h.sql("DROP TABLE IF EXISTS ix_t")
    h.sql("CREATE TABLE ix_t (k INT, v STRING) USING parquet")
    h.sql("CREATE INDEX ix1 ON TABLE ix_t(k) AS 'COMPACT' " +
      "WITH DEFERRED REBUILD COMMENT 'the idx'")
    h.sql("ALTER INDEX ix1 ON ix_t REBUILD")
    val ix = h.sql("SHOW FORMATTED INDEX ON ix_t").get.collect()
    assert(ix.exists(_.getString(0).trim == "idx_name"))
    val row = ix.find(_.getString(0).trim == "ix1").get
    assert(row.getString(2).trim === "k")
    assert(row.getString(3).trim === "default__ix_t_ix1__")
    assert(row.getString(4).trim === "compact")
    assert(row.getString(5).trim === "the idx")
    h.sql("DROP INDEX ix1 ON ix_t")
    assert(h.sql("SHOW INDEX ON ix_t").get.collect().isEmpty)
    // explicit lock ledger
    h.sql("LOCK TABLE ix_t SHARED")
    val lk = h.sql("SHOW LOCKS ix_t EXTENDED").get.collect()
    assert(lk.map(_.getString(0)).toSeq ===
      Seq("default@ix_t", "LOCK_MODE:EXPLICIT",
        "LOCK_QUERYSTRING:LOCK TABLE ix_t SHARED"))
    assert(lk.head.getString(1) === "SHARED")
    h.sql("UNLOCK TABLE ix_t")
    assert(h.sql("SHOW LOCKS").get.collect().isEmpty)
    h.sql("DROP TABLE ix_t")
    // database comment/props/owner surface
    h.sql("DROP DATABASE IF EXISTS ddb")
    h.sql("CREATE DATABASE ddb COMMENT 'a db' " +
      "WITH DBPROPERTIES ('k1'='v1')")
    h.sql("ALTER DATABASE ddb SET OWNER ROLE r1")
    val d = h.sql("DESCRIBE DATABASE EXTENDED ddb").get.collect().head
    assert(d.getString(0) === "ddb")
    assert(d.getString(1) === "a db")
    assert(d.getString(3) === "r1")
    assert(d.getString(4) === "ROLE")
    assert(d.getString(5) === "{k1=v1}")
    // non-extended: no parameters column content
    val d2 = h.sql("DESCRIBE DATABASE ddb").get.collect().head
    assert(d2.getString(5) === "")
  }

  test("public entry: SHOW TABLE EXTENDED reports schema shape and " +
      "real file statistics for a catalog table") {
    val h = new HiveStatements(spark)
    h.sql("DROP TABLE IF EXISTS ste_t")
    h.sql("CREATE TABLE ste_t (k INT, v STRING) USING parquet")
    // write through Spark's own INSERT so the files land at the
    // catalog location (the dialect INSERT rebinds a session view)
    spark.sql("INSERT INTO ste_t VALUES (1, 'a'), (2, 'b')")
    val lines = h.sql("SHOW TABLE EXTENDED LIKE ste_t").get.collect()
      .map(_.getString(0))
    assert(lines.contains("tableName:ste_t"))
    assert(lines.contains("columns:struct columns { i32 k, string v}"))
    assert(lines.contains("partitioned:false"))
    val nf = lines.find(_.startsWith("totalNumberFiles:")).get
    assert(nf.stripPrefix("totalNumberFiles:").toInt >= 1)
    val sz = lines.find(_.startsWith("totalFileSize:")).get
    assert(sz.stripPrefix("totalFileSize:").toLong > 0)
    h.sql("DROP TABLE ste_t")
  }

  test("public entry: ANALYZE FOR COLUMNS computes FM-sketch column " +
      "stats; UPDATE STATISTICS overrides; DESCRIBE FORMATTED t c " +
      "renders the stats table") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS cs_t")
    spark.sql("CREATE TABLE cs_t (k INT, v STRING) USING parquet")
    spark.sql("INSERT INTO cs_t VALUES (1,'aa'), (2,'bbb'), " +
      "(2,'aa'), (NULL, NULL)")
    h.sql("ANALYZE TABLE cs_t COMPUTE STATISTICS FOR COLUMNS k, v")
    val kRow = h.sql("DESCRIBE FORMATTED cs_t k").get.collect()
      .find(_.getString(0).trim == "k").get
    assert(kRow.getString(2).trim === "1")   // min
    assert(kRow.getString(3).trim === "2")   // max
    assert(kRow.getString(4).trim === "1")   // num_nulls
    assert(kRow.getString(5).trim === "2")   // ndv (FM estimate)
    val vRow = h.sql("DESCRIBE FORMATTED cs_t v").get.collect()
      .find(_.getString(0).trim == "v").get
    assert(vRow.getString(7).trim === "3")   // max_col_len
    h.sql("ALTER TABLE cs_t UPDATE STATISTICS FOR COLUMN k " +
      "SET ('numDVs'='42', 'lowValue'='7')")
    val k2 = h.sql("DESCRIBE FORMATTED cs_t k").get.collect()
      .find(_.getString(0).trim == "k").get
    assert(k2.getString(5).trim === "42")
    assert(k2.getString(2).trim === "7")
    spark.sql("DROP TABLE cs_t")
  }

  test("public entry: STORED AS PARQUET/AVRO/SEQUENCEFILE + LOCATION " +
      "reads pre-existing external data through the engine's sources") {
    import spark.implicits._
    val h = new HiveStatements(spark)
    val base = java.nio.file.Files
      .createTempDirectory("graft_ext").toString
    val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    df.write.mode("overwrite").parquet(s"$base/pq")
    df.write.mode("overwrite")
      .format("graft.sources.AvroDataSource").save(s"$base/av")
    df.write.mode("overwrite")
      .format("sequencefile").save(s"$base/sq")
    for ((fmt, dir) <- Seq(("PARQUET", "pq"), ("AVRO", "av"),
        ("SEQUENCEFILE", "sq"))) {
      val t = s"ext_${dir}"
      spark.sql(s"DROP TABLE IF EXISTS $t")
      h.sql(s"CREATE EXTERNAL TABLE $t (k INT, v STRING) " +
        s"STORED AS $fmt LOCATION '$base/$dir'")
      val got = spark.table(t).collect()
        .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
      assert(got.toSeq === Seq((1, "a"), (2, "b"), (3, "c")),
        s"$fmt external table mismatch: ${got.mkString(",")}")
      spark.sql(s"DROP TABLE $t")
    }
    // RCFile over a LOCATION still errors loudly instead of misreading
    val e = intercept[IllegalArgumentException] {
      h.sql("CREATE EXTERNAL TABLE ext_rc (k INT) STORED AS RCFILE " +
        s"LOCATION '$base/rc'")
    }
    assert(e.getMessage.contains("rcfile"))
  }

  test("public entry: a string literal containing \"stored by '\" " +
      "does not trip the storage-handler dispatch") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS sb_lit")
    h.sql("CREATE TABLE sb_lit STORED AS PARQUET AS " +
      "SELECT \"stored by 'x'\" AS s")
    assert(spark.table("sb_lit").head().getString(0) === "stored by 'x'")
    spark.sql("DROP TABLE IF EXISTS sb_lit")
    // a REAL clause still dispatches (and an unregistered class is a
    // clear engine error, not a Spark parse error)
    val e = intercept[IllegalArgumentException] {
      h.sql("CREATE TABLE sb_real (k INT) STORED BY " +
        "'org.example.NoSuchHandler'")
    }
    assert(e.getMessage.contains("no registered storage handler"))
  }

  test("public entry: table-level ALTER TABLE ... UPDATE STATISTICS " +
      "SET lands in Table Parameters (metadata-only)") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS ts_t")
    h.sql("CREATE TABLE ts_t (k INT) STORED AS PARQUET")
    h.sql("ALTER TABLE ts_t UPDATE STATISTICS " +
      "SET ('numRows'='42', 'rawDataSize'='1234')")
    val rows = h.sql("DESCRIBE FORMATTED ts_t").get.collect()
      .map(r => (r.getString(1).trim,
        Option(r.getString(2)).map(_.trim).getOrElse("")))
    assert(rows.contains(("numRows", "42")), rows.mkString("\n"))
    assert(rows.contains(("rawDataSize", "1234")), rows.mkString("\n"))
    spark.sql("DROP TABLE IF EXISTS ts_t")
  }

  test("public entry: DROP TABLE ... FOR REPLICATION gates on " +
      "repl.last.id (older id keeps the table, drops partitions)") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS repl_t")
    h.sql("CREATE TABLE repl_t (k INT) STORED AS PARQUET " +
      "TBLPROPERTIES ('repl.last.id'='10')")
    h.sql("INSERT INTO repl_t VALUES (1), (2)")
    // older event id: drop is gated OFF — a NON-partitioned table
    // keeps its DATA too (DDLTask.dropTable leaves a table newer
    // than the event untouched; only partitions are replaceable)
    h.sql("DROP TABLE repl_t FOR REPLICATION('5')")
    assert(spark.table("repl_t").count() === 2)
    // metadata survived the gated drop
    val props = h.sql("SHOW TBLPROPERTIES repl_t ('repl.last.id')")
      .get.collect()
    assert(props.head.getString(0) === "10")
    // newer event id: the drop applies
    h.sql("DROP TABLE repl_t FOR REPLICATION('20')")
    assert(!spark.catalog.tableExists("repl_t"))
  }

  test("public entry: SHOW TABLE EXTENDED ... PARTITION scopes file " +
      "statistics to the partition subdirectory") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS step_t")
    spark.sql("CREATE TABLE step_t (k INT, ds STRING) USING parquet " +
      "PARTITIONED BY (ds)")
    spark.sql("INSERT INTO step_t PARTITION (ds='a') VALUES (1), (2)")
    spark.sql("INSERT INTO step_t PARTITION (ds='b') VALUES (3)")
    def size(q: String): Long =
      h.sql(q).get.collect().map(_.getString(0))
        .find(_.startsWith("totalFileSize:")).get
        .stripPrefix("totalFileSize:").toLong
    val whole = size("SHOW TABLE EXTENDED LIKE step_t")
    val pa = size("SHOW TABLE EXTENDED LIKE step_t PARTITION (ds='a')")
    val pb = size("SHOW TABLE EXTENDED LIKE step_t PARTITION (ds='b')")
    assert(pa > 0 && pb > 0 && pa + pb === whole,
      s"whole=$whole a=$pa b=$pb")
    // a nonexistent partition is an error, not whole-table totals
    intercept[Exception] {
      h.sql("SHOW TABLE EXTENDED LIKE step_t PARTITION (ds='zzz')")
        .get.collect()
    }
    spark.sql("DROP TABLE step_t")
  }

  test("public entry: catalog tables take REAL file writes on INSERT " +
      "(durable under the table location), incl. self-overwrite") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS real_w")
    h.sql("CREATE TABLE real_w (k INT, v STRING) STORED AS PARQUET")
    h.sql("INSERT INTO real_w VALUES (1, 'a'), (2, 'b')")
    val loc = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst
        .TableIdentifier("real_w")).location.getPath
    def files() = Option(new java.io.File(loc).list())
      .map(_.count(_.endsWith(".parquet"))).getOrElse(0)
    assert(files() > 0, s"no parquet files under $loc")
    // the table is NOT shadowed by a session temp view
    assert(spark.sessionState.catalog.getTempView("real_w").isEmpty)
    // Hive allows overwriting a table from itself
    h.sql("INSERT OVERWRITE TABLE real_w SELECT k + 10, v FROM real_w")
    val got = spark.table("real_w").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(got.toSeq === Seq((11, "a"), (12, "b")))
    assert(files() > 0)
    // partitioned static overwrite writes only that partition's dir
    spark.sql("DROP TABLE IF EXISTS real_p")
    h.sql("CREATE TABLE real_p (k INT) PARTITIONED BY (ds STRING) " +
      "STORED AS PARQUET")
    h.sql("INSERT INTO real_p PARTITION (ds='a') VALUES (1)")
    h.sql("INSERT INTO real_p PARTITION (ds='b') VALUES (2)")
    h.sql("INSERT OVERWRITE TABLE real_p PARTITION (ds='a') VALUES (9)")
    val p = spark.table("real_p").collect()
      .map(r => (r.getInt(0), r.getString(1))).sortBy(_._2)
    assert(p.toSeq === Seq((9, "a"), (2, "b")))
    spark.sql("DROP TABLE real_w")
    spark.sql("DROP TABLE real_p")
  }

  private def tableMeta(t: String) = spark.sessionState.catalog
    .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t))

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("[", ",", "]")).sorted.toSeq

  test("public entry: dynamic-partition INSERT writes p=... directories " +
      "that a partition filter prunes") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS w_part")
    h.sql("CREATE TABLE w_part (k INT, v STRING) PARTITIONED BY (p STRING) " +
      "STORED AS PARQUET")
    h.sql("INSERT INTO w_part PARTITION (p) VALUES (1, 'x', 'a'), " +
      "(2, 'y', 'b')")
    assert(new java.io.File(tableMeta("w_part").location.getPath).list()
      .filter(_.startsWith("p=")).sorted.toSeq === Seq("p=a", "p=b"))
    val one = h.sql("SELECT k, v FROM w_part WHERE p = 'b'").get
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p"), plan)
    assert(rowsOf(one) === Seq("[2,y]"))
    spark.sql("DROP TABLE w_part")
  }

  test("public entry: INSERT OVERWRITE ... PARTITION (p) SELECT replaces " +
      "only the partitions it writes") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS w_dyn")
    h.sql("CREATE TABLE w_dyn (k INT, v STRING) PARTITIONED BY (p STRING) " +
      "STORED AS PARQUET")
    h.sql("INSERT INTO w_dyn PARTITION (p) VALUES (1, 'x', 'a'), " +
      "(2, 'y', 'b')")
    h.sql("INSERT OVERWRITE TABLE w_dyn PARTITION (p) SELECT 9, 'z', 'a'")
    assert(rowsOf(spark.table("w_dyn")) === Seq("[2,y,b]", "[9,z,a]"))
    spark.sql("DROP TABLE w_dyn")
  }

  test("public entry: CLUSTERED BY ... INTO n BUCKETS tables join on the " +
      "bucket key without an exchange") {
    val h = new HiveStatements(spark)
    Seq("w_b1", "w_b2").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq("w_b1" -> "v", "w_b2" -> "w").foreach { case (t, c) =>
      h.sql(s"CREATE TABLE $t (k INT, $c STRING) CLUSTERED BY (k) " +
        "SORTED BY (k) INTO 4 BUCKETS STORED AS PARQUET")
    }
    h.sql("INSERT INTO w_b1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    h.sql("INSERT INTO w_b2 VALUES (1, 'x'), (3, 'z')")
    assert(tableMeta("w_b1").bucketSpec.map(b =>
      (b.numBuckets, b.bucketColumnNames)) === Some((4, Seq("k"))))
    // no broadcast: the planner must co-locate the sides by bucket
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = h.sql("SELECT w_b1.k, v, w FROM w_b1 JOIN w_b2 " +
        "ON w_b1.k = w_b2.k").get
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan)
      assert(rowsOf(j) === Seq("[1,a,x]", "[3,c,z]"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    Seq("w_b1", "w_b2").foreach(t => spark.sql(s"DROP TABLE $t"))
  }

  /** A ctrl-A delimited text file in a fresh temp directory. */
  private def ctrlAFile(name: String, rows: String*): String = {
    val f = java.nio.file.Files.createTempDirectory("graft_load")
      .resolve(name)
    java.nio.file.Files.write(f, rows.mkString("", "\n", "\n").getBytes)
    f.toString
  }

  test("public entry: LOAD DATA parses ctrl-A text into the table: " +
      "append, then OVERWRITE") {
    val h = new HiveStatements(spark)
    val f1 = ctrlAFile("f1", "1\u0001a", "2\u0001\\N")
    val f2 = ctrlAFile("f2", "3\u0001c")
    spark.sql("DROP TABLE IF EXISTS w_load")
    h.sql("CREATE TABLE w_load (k INT, v STRING) STORED AS PARQUET")
    h.sql(s"LOAD DATA LOCAL INPATH '$f1' INTO TABLE w_load")
    h.sql(s"LOAD DATA LOCAL INPATH '$f2' INTO TABLE w_load")
    assert(rowsOf(spark.table("w_load")) ===
      Seq("[1,a]", "[2,null]", "[3,c]"))
    h.sql(s"LOAD DATA LOCAL INPATH '$f2' OVERWRITE INTO TABLE w_load")
    assert(rowsOf(spark.table("w_load")) === Seq("[3,c]"))
    spark.sql("DROP TABLE w_load")
  }

  test("public entry: LOAD DATA ... PARTITION (p='q') loads ctrl-A text " +
      "into that partition") {
    val h = new HiveStatements(spark)
    val f1 = ctrlAFile("f1", "1\u0001a", "2\u0001\\N")
    spark.sql("DROP TABLE IF EXISTS w_loadp")
    h.sql("CREATE TABLE w_loadp (k INT, v STRING) PARTITIONED BY " +
      "(p STRING) STORED AS PARQUET")
    h.sql(s"LOAD DATA LOCAL INPATH '$f1' INTO TABLE w_loadp " +
      "PARTITION (p='q')")
    assert(rowsOf(spark.table("w_loadp")) === Seq("[1,a,q]", "[2,null,q]"))
    spark.sql("DROP TABLE w_loadp")
  }

  test("public entry: EXPORT TABLE then IMPORT TABLE round-trips the " +
      "data and the schema") {
    val h = new HiveStatements(spark)
    val exp = s"${java.nio.file.Files.createTempDirectory("graft_exp")}/e"
    freshTable("w_exp")
    freshTable("w_imp")
    h.sql("CREATE TABLE w_exp (id BIGINT, v STRING, w DOUBLE) " +
      "STORED AS PARQUET")
    h.sql("INSERT INTO w_exp VALUES (1, 'a', 1.5), (2, 'b', 2.5)")
    h.sql(s"EXPORT TABLE w_exp TO '$exp'")
    assert(new java.io.File(s"$exp/_graft_schema.json").exists())
    h.sql(s"IMPORT TABLE w_imp FROM '$exp'")
    val imp = spark.table("w_imp")
    assert(imp.schema.map(f => f.name -> f.dataType.simpleString) ===
      Seq("id" -> "bigint", "v" -> "string", "w" -> "double"))
    assert(rowsOf(imp) === Seq("[1,a,1.5]", "[2,b,2.5]"))
    spark.sql("DROP TABLE w_exp")
    spark.sql("DROP TABLE IF EXISTS w_imp")
  }

  test("public entry: FROM src INSERT ... INSERT ... fans one source " +
      "into several tables (multi-insert)") {
    val h = new HiveStatements(spark)
    spark.range(1, 11).selectExpr("CAST(id AS INT) AS k")
      .createOrReplaceTempView("w_src")
    Seq("w_lo", "w_hi").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      h.sql(s"CREATE TABLE $t (k INT) STORED AS PARQUET")
    }
    h.sql("FROM w_src INSERT OVERWRITE TABLE w_lo SELECT k WHERE k <= 3 " +
      "INSERT OVERWRITE TABLE w_hi SELECT k WHERE k > 8")
    assert(rowsOf(spark.table("w_lo")) === Seq("[1]", "[2]", "[3]"))
    assert(rowsOf(spark.table("w_hi")) === Seq("[10]", "[9]"))
    Seq("w_lo", "w_hi").foreach(t => spark.sql(s"DROP TABLE $t"))
    spark.catalog.dropTempView("w_src")
  }

  test("public entry: bigint column-stat bounds above 2^53 render " +
      "exactly (no Double round-trip)") {
    val h = new HiveStatements(spark)
    spark.sql("DROP TABLE IF EXISTS big_t")
    spark.sql("CREATE TABLE big_t (k BIGINT) USING parquet")
    spark.sql("INSERT INTO big_t VALUES (9223372036854775805), " +
      "(9223372036854775807)")
    h.sql("ANALYZE TABLE big_t COMPUTE STATISTICS FOR COLUMNS k")
    val row = h.sql("DESCRIBE FORMATTED big_t k").get.collect()
      .find(_.getString(0).trim == "k").get
    assert(row.getString(2).trim === "9223372036854775805", "min")
    assert(row.getString(3).trim === "9223372036854775807", "max")
    spark.sql("DROP TABLE big_t")
  }

  test("public entry: string literals pass the dialect rewrite " +
      "untouched (function renames, LIMIT sugar, FLOOR, UPDATE SET)") {
    val row = hive.sql("SELECT 'call hash(x) now', 'std(y)', " +
      "'limit 5, 3', 'floor(ts to day)'").get.head
    assert(row.toSeq === Seq("call hash(x) now", "std(y)", "limit 5, 3",
      "floor(ts to day)"))
    spark.range(2).selectExpr("id", "'z' AS name")
      .createOrReplaceTempView("acct")
    assert(hive.sql("UPDATE acct SET name = 'a, b' WHERE id = 1").isEmpty)
    assert(spark.table("acct").filter(col("id") === 1).head()
      .getString(1) === "a, b")
    spark.catalog.dropTempView("acct")
  }

  test("public entry: noop PTFs and union-limit splits read parens " +
      "and escaped quotes inside literals as text") {
    val c = hive.sql("SELECT c FROM noop(on (SELECT ')' AS c, 1 AS k) " +
      "partition by k)").get.head.getString(0)
    assert(c === ")")
    val split = hive.dialect.unionLimitSplit("SELECT * FROM (SELECT " +
      "'it\\'s' AS s FROM range(9) UNION ALL SELECT 'b' AS s FROM " +
      "range(9) LIMIT 4) q")
    assert(split.contains("__ulim1"), split)
    assert(spark.sql(split).collect().map(_.getString(0)).sorted.toSeq ===
      Seq("b", "b", "it's", "it's"))
  }

  test("public entry: matchpath reads its whole argument list") {
    spark.sql("SELECT * FROM VALUES (1, 1, 'A'), (1, 2, 'A'), (1, 3, 'B') " +
      "AS v(k, t, s)").createOrReplaceTempView("mp_v")
    val rows = hive.sql("SELECT t, n FROM matchpath(on mp_v distribute " +
      "by k sort by t arg1('A+'), arg2('A'), arg3(s = 'A'), " +
      "arg4('t, size(tpath) as n'))").get.collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1))).sorted
    assert(rows === Seq((1, 2), (2, 1)))
    spark.catalog.dropTempView("mp_v")
  }
}
