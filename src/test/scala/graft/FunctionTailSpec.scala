package graft

/** Remaining scalar-function tail: Hive built-ins with no DuckDB oracle
  * equivalent, pinned against Hive-documented semantics as literal
  * assertions (ref: ql/exec/FunctionRegistry.java registrations cited
  * per case).
  */
class FunctionTailSpec extends SparkSpec {

  private def one(sql: String): Any =
    spark.sql(s"SELECT $sql").head().get(0)

  test("elt / field (FunctionRegistry.java:227,226)") {
    assert(one("elt(2, 'a', 'b', 'c')") === "b")
    assert(one("field('b', 'a', 'b', 'c')") === 2)
  }

  test("format_number / space / locate (FunctionRegistry.java:283,199,243)") {
    assert(one("format_number(1234567.891, 2)") === "1,234,567.89")
    assert(one("concat('a', space(3), 'b')") === "a   b")
    assert(one("locate('ar', 'spark')") === 3)
  }

  test("conv / bin / hex family (FunctionRegistry.java:238-241)") {
    assert(one("conv('255', 10, 16)") === "FF")
    assert(one("conv('FF', 16, 10)") === "255")
    assert(one("bin(10)") === "1010")
    assert(one("unhex(hex('hi'))") === Array[Byte]('h', 'i'))
  }

  test("initcap / sentences (FunctionRegistry.java:232,282)") {
    assert(one("initcap('spark sql engine')") === "Spark Sql Engine")
    val s = one("sentences('Hello there. How are you?')")
    assert(s.toString.contains("Hello"))
  }

  test("crc32 / xxhash64 / sha1 (FunctionRegistry.java:246-252)") {
    assert(one("crc32('ABC')") === 2743272264L)
    assert(one("sha1('abc')") === "a9993e364706816aba3e25717850c26c9cd0d89d")
    assert(one("xxhash64('abc')") !== null)
  }

  test("str_to_map / sort_array (FunctionRegistry.java:270,456)") {
    assert(one("str_to_map('a:1,b:2', ',', ':')['b']") === "2")
    assert(one("sort_array(array(3, 1, 2))")
      .asInstanceOf[scala.collection.Seq[Int]].toSeq === Seq(1, 2, 3))
  }

  test("parse_url (FunctionRegistry.java:265)") {
    assert(one("parse_url('https://h.io/p?q=1', 'HOST')") === "h.io")
    assert(one("parse_url('https://h.io/p?q=1', 'QUERY', 'q')") === "1")
  }

  test("xpath family (FunctionRegistry.java:324-332)") {
    assert(one("xpath_string('<a><b>bb</b></a>', 'a/b')") === "bb")
    assert(one("xpath_int('<a>5</a>', 'a')") === 5)
    assert(one("xpath('<a><b>1</b><b>2</b></a>', 'a/b/text()')")
      .asInstanceOf[scala.collection.Seq[String]].toSeq === Seq("1", "2"))
  }

  test("named_struct / map_keys / map_values / array fns (FunctionRegistry.java:454-478)") {
    assert(one("named_struct('k', 1, 'v', 'x').k") === 1)
    assert(one("sort_array(map_keys(map('a',1,'b',2)))")
      .asInstanceOf[scala.collection.Seq[String]].toSeq === Seq("a", "b"))
    assert(one("array_contains(array(1,2,3), 2)") === true)
    assert(one("size(array(1,2,3))") === 3)
  }

  test("java_method / reflect (FunctionRegistry.java:462-464)") {
    assert(one("java_method('java.lang.Math', 'abs', -3)") === "3")
  }

  test("histogram_numeric / percentile builtins (FunctionRegistry.java:437,434)") {
    Engine.tables(spark, sfDir)
    val h = spark.sql(
      "SELECT histogram_numeric(l_quantity, 5) FROM lineitem").head()
      .getSeq[org.apache.spark.sql.Row](0)
    assert(h.length === 5)
    val p = spark.sql(
      "SELECT percentile(l_quantity, 0.5), percentile_approx(l_quantity, 0.5) FROM lineitem")
      .head()
    assert(p.getDouble(0) > 0 && p.getDouble(1) > 0)
  }

  test("parse_url_tuple UDTF in SQL + LATERAL VIEW (FunctionRegistry.java:500)") {
    val r = spark.sql(
      "SELECT parse_url_tuple('https://h.io/p?q=1', 'HOST', 'PATH', 'QUERY')")
      .head()
    assert(r.getString(0) === "h.io")
    assert(r.getString(1) === "/p")
    assert(r.getString(2) === "q=1")
    val lv = spark.sql("""
      SELECT u, host, pth FROM (SELECT 'https://a.io/x' AS u)
      LATERAL VIEW parse_url_tuple(u, 'HOST', 'PATH') t AS host, pth""")
      .head()
    assert(lv.getString(1) === "a.io" && lv.getString(2) === "/x")
  }

  test("replicate_rows UDTF in SQL (FunctionRegistry.java:494)") {
    val rows = spark.sql("""
      SELECT n, v FROM (SELECT 3L AS k, 'x' AS s)
      LATERAL VIEW replicate_rows(k, s) t AS n, v""").collect()
    assert(rows.length === 3)
    assert(rows.forall(r => r.getLong(0) === 3L && r.getString(1) === "x"))
  }

  test("replicate_rows rejects counts outside int range") {
    val e = intercept[Exception] {
      spark.sql("""
        SELECT n, v FROM (SELECT 5000000000 AS k, 'x' AS s)
        LATERAL VIEW replicate_rows(k, s) t AS n, v""").collect()
    }
    assert(e.getMessage.toLowerCase.contains("int range") ||
      Option(e.getCause).exists(_.getMessage.contains("int range")))
  }

  test("sort_array_by as a SQL name (FunctionRegistry.java:456)") {
    val r = spark.sql("""
      SELECT sort_array_by(array(named_struct('k', 3, 'v', 'c'),
        named_struct('k', 1, 'v', 'a'), named_struct('k', 2, 'v', 'b')), 'k')
      """).head().getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(_.getInt(0)) === Seq(1, 2, 3))
    val d = spark.sql("""
      SELECT sort_array_by(array(named_struct('k', 1), named_struct('k', 3),
        named_struct('k', 2)), 'k', 'DESC')""")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(d.map(_.getInt(0)) === Seq(3, 2, 1))
  }

  test("interval_day_time / interval_year_month constructors " +
      "(FunctionRegistry.java:533)") {
    val r = spark.sql("""
      SELECT interval_day_time('2 1:2:3') = INTERVAL '2 1:2:3' DAY TO SECOND,
             interval_year_month('1-2') = INTERVAL '1-2' YEAR TO MONTH,
             CAST(TIMESTAMP'2024-01-01 00:00:00'
                  + interval_day_time('1 0:0:0') AS STRING),
             CAST(DATE'2024-01-31' + interval_year_month('0-1') AS STRING)
      """).head()
    assert(r.getBoolean(0) && r.getBoolean(1))
    assert(r.getString(2) === "2024-01-02 00:00:00")
    assert(r.getString(3) === "2024-02-29")
  }

  test("bloom_filter / in_bloom_filter (FunctionRegistry.java:446,377)") {
    Engine.tables(spark, sfDir)
    // no false negatives: every present key probes true (the bloom must
    // be a constant/scalar-subquery — Spark broadcasts it to the probe)
    val missed = spark.sql("""
      SELECT count(*) FROM customer WHERE NOT in_bloom_filter(c_custkey,
        (SELECT bloom_filter(c_custkey, 2000) FROM customer))""")
      .head().getLong(0)
    assert(missed === 0L)
    // selectivity sanity: absent key range mostly probes false
    val fp = spark.sql("""
      SELECT count(*) FROM range(1000000, 1100000)
      WHERE in_bloom_filter(id,
        (SELECT bloom_filter(c_custkey, 2000) FROM customer))""")
      .head().getLong(0)
    assert(fp < 5000L) // ~3% default fpp headroom
  }

  test("virtual columns INPUT__FILE__NAME / BLOCK__OFFSET__INSIDE__FILE " +
      "(TableScanOperator.java:110)") {
    Engine.tables(spark, sfDir)
    val r = spark.sql("""
      SELECT input__file__name() f, block__offset__inside__file() o
      FROM lineitem LIMIT 1""").head()
    assert(r.getString(0).endsWith(".parquet"))
    assert(r.getLong(1) >= 0L)
    // ROW__ID: the ACID virtual column's struct shape, unique per row
    // within a scan
    val ids = spark.sql("""
      SELECT row__id() AS rid FROM lineitem LIMIT 1000""")
      .selectExpr("rid.writeid", "rid.bucketid", "rid.rowid").collect()
    assert(ids.forall(_.getLong(0) === 0L))
    assert(ids.map(r => (r.getLong(1), r.getLong(2))).distinct.length
      === ids.length)
  }

  test("fingerprint64 and dot_product resolve via SparkSessionExtensions") {
    // Engine.session carries spark.sql.extensions=graft.GraftExtensions;
    // a sibling session with fresh state still resolves the functions
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT fingerprint64('hello')").head().getLong(0) ===
      graft.functions.Fingerprint64.hash("hello"))
    assert(fresh.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0) === 11.0)
  }

  test("dot_product resolves on a session built without " +
      "GraftExtensions once Engine.prepare has run") {
    // Spark exposes no builder for a session over a running context
    // without its configured extensions; the primary constructor takes
    // the extensions explicitly
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val plain = classOf[org.apache.spark.sql.classic.SparkSession]
      .getDeclaredConstructors.find(_.getParameterCount == 6).get
      .newInstance(classic.sparkContext, Some(classic.sharedState), None,
        new org.apache.spark.sql.SparkSessionExtensions, Map.empty, Map.empty)
      .asInstanceOf[org.apache.spark.sql.SparkSession]
    val q = "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d))"
    intercept[org.apache.spark.sql.AnalysisException](plain.sql(q))
    assert(Engine.prepare(plain).sql(q).head().getDouble(0) === 11.0)
  }

  test("driver smoke path: entry() works on a vanilla sibling session") {
    val vanilla = spark.newSession() // fresh SQLConf, no graft prep
    assert(SparkEntry.entry(vanilla).count() > 0)
  }
}
