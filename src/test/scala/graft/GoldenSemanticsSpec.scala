package graft

/** Golden-semantics ports from the reference's own clientpositive suite
  * (SURVEY.md §5): the reference's tiny fixture tables re-created
  * in-memory, its queries run through this engine, and the literal
  * result blocks from the committed `.q.out` goldens asserted row for
  * row. Each case cites the source `.q` file; queries marked
  * SORT_QUERY_RESULTS in the reference compare as sorted multisets.
  */
class GoldenSemanticsSpec extends SparkSpec {
  import spark.implicits._

  // ql/src/test/queries/clientpositive/groupby_cube1.q fixture
  // (data/files/T1.txt: ^A-delimited key,val)
  private lazy val t1cube = {
    val df = Seq(("1", "11"), ("2", "12"), ("3", "13"), ("7", "17"),
      ("8", "18"), ("8", "28")).toDF("key", "val")
    df.createOrReplaceTempView("t1_cube")
    df
  }

  // ql/src/test/queries/clientpositive/groupby_grouping_sets1.q fixture
  // (data/files/grouping_sets.txt: space-delimited a,b,c)
  private lazy val t1gs = {
    val df = Seq(("8", "1", "1"), ("5", "2", "2"), ("1", "1", "3"),
      ("2", "2", "4"), ("2", "3", "5"), ("3", "2", "8")).toDF("a", "b", "c")
    df.createOrReplaceTempView("t1_gs")
    df
  }

  private def sorted(sql: String): Seq[Seq[String]] =
    spark.sql(sql).collect().toSeq
      .map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) "NULL" else r.get(i).toString))
      .sortBy(_.mkString(""))

  private def golden(rows: String): Seq[Seq[String]] =
    rows.trim.linesIterator.map(_.trim.split("\\s+").toSeq).toSeq
      .sortBy(_.mkString(""))

  test("groupby_cube1.q: WITH CUBE null-extended rows match the golden") {
    t1cube
    assert(sorted(
      "SELECT key, val, count(1) FROM t1_cube GROUP BY key, val WITH CUBE")
      === golden("""
        1 11 1
        1 NULL 1
        2 12 1
        2 NULL 1
        3 13 1
        3 NULL 1
        7 17 1
        7 NULL 1
        8 18 1
        8 28 1
        8 NULL 2
        NULL 11 1
        NULL 12 1
        NULL 13 1
        NULL 17 1
        NULL 18 1
        NULL 28 1
        NULL NULL 6"""))
  }

  test("groupby_cube1.q: GROUPING__ID bit assignment matches Hive 2.3") {
    t1cube
    // Hive's GROUPING__ID virtual column == Spark's grouping_id():
    // first grouping column is the high bit (golden: key-aggregated
    // rows carry 2, val-aggregated rows carry 1, total row 3)
    assert(sorted("""
      SELECT key, val, grouping_id(), count(1)
      FROM t1_cube GROUP BY key, val WITH CUBE""")
      === golden("""
        1 11 0 1
        1 NULL 1 1
        2 12 0 1
        2 NULL 1 1
        3 13 0 1
        3 NULL 1 1
        7 17 0 1
        7 NULL 1 1
        8 18 0 1
        8 28 0 1
        8 NULL 1 2
        NULL 11 2 1
        NULL 12 2 1
        NULL 13 2 1
        NULL 17 2 1
        NULL 18 2 1
        NULL 28 2 1
        NULL NULL 3 6"""))
  }

  test("groupby_cube1.q: count(DISTINCT) under cube") {
    t1cube
    assert(sorted(
      "SELECT key, count(DISTINCT val) FROM t1_cube GROUP BY key WITH CUBE")
      === golden("""
        1 1
        2 1
        3 1
        7 1
        8 2
        NULL 6"""))
  }

  test("groupby_grouping_sets1.q: GROUPING SETS (a,(a,b),b,()) == cube") {
    t1gs
    val want = golden("""
      1 1 1
      1 NULL 1
      2 2 1
      2 3 1
      2 NULL 2
      3 2 1
      3 NULL 1
      5 2 1
      5 NULL 1
      8 1 1
      8 NULL 1
      NULL 1 2
      NULL 2 3
      NULL 3 1
      NULL NULL 6""")
    assert(sorted("""
      SELECT a, b, count(*) FROM t1_gs
      GROUP BY a, b GROUPING SETS (a, (a, b), b, ())""") === want)
    assert(sorted(
      "SELECT a, b, count(*) FROM t1_gs GROUP BY CUBE(a, b)") === want)
  }

  test("groupby_grouping_sets1.q: partial GROUPING SETS (a,(a,b))") {
    t1gs
    assert(sorted("""
      SELECT a, b, count(*) FROM t1_gs
      GROUP BY a, b GROUPING SETS (a, (a, b))""")
      === golden("""
        1 1 1
        1 NULL 1
        2 2 1
        2 3 1
        2 NULL 2
        3 2 1
        3 NULL 1
        5 2 1
        5 NULL 1
        8 1 1
        8 NULL 1"""))
  }

  test("groupby_grouping_sets1.q: single-column sets project NULL rows") {
    t1gs
    assert(sorted(
      "SELECT a FROM t1_gs GROUP BY a, b, c GROUPING SETS (a, b, c)")
      === golden("""
        1
        2
        3
        5
        8
        NULL
        NULL
        NULL
        NULL
        NULL
        NULL
        NULL
        NULL
        NULL"""))
  }

  // ql/src/test/queries/clientpositive/groupby_grouping_sets_grouping.q
  // fixture (data/files/groupby_groupingid.txt) — NULL VALUES in the
  // grouping columns, so data-nulls and aggregate-nulls coexist and
  // only grouping()/grouping_id() tells them apart
  private lazy val t1g = {
    val df = Seq[(Option[Int], Option[Int])]((Some(1), None),
      (Some(1), Some(1)), (Some(2), Some(2)), (Some(3), Some(3)),
      (Some(3), None), (Some(4), Some(5))).toDF("key", "value")
    df.createOrReplaceTempView("t1_grouping")
    df
  }

  test("groupby_grouping_sets_grouping.q: rollup with data-nulls — " +
      "grouping() separates them from aggregate nulls") {
    t1g
    // Hive's `grouping__id` virtual column == grouping_id()
    assert(sorted("""
      select key, value, grouping_id(), grouping(key), grouping(value)
      from t1_grouping group by rollup(key, value)""")
      === golden("""
        1 1 0 0 0
        1 NULL 0 0 0
        1 NULL 1 0 1
        2 2 0 0 0
        2 NULL 1 0 1
        3 3 0 0 0
        3 NULL 0 0 0
        3 NULL 1 0 1
        4 5 0 0 0
        4 NULL 1 0 1
        NULL NULL 3 1 1"""))
  }

  test("groupby_grouping_sets_grouping.q: cube variant (golden)") {
    t1g
    assert(sorted("""
      select key, value, grouping_id(), grouping(key), grouping(value)
      from t1_grouping group by cube(key, value)""")
      === golden("""
        1 1 0 0 0
        1 NULL 0 0 0
        1 NULL 1 0 1
        2 2 0 0 0
        2 NULL 1 0 1
        3 3 0 0 0
        3 NULL 0 0 0
        3 NULL 1 0 1
        4 5 0 0 0
        4 NULL 1 0 1
        NULL 1 2 1 0
        NULL 2 2 1 0
        NULL 3 2 1 0
        NULL 5 2 1 0
        NULL NULL 2 1 0
        NULL NULL 3 1 1"""))
  }

  test("groupby_grouping_sets_grouping.q: grouping() in HAVING (golden)") {
    t1g
    assert(sorted("""
      select key, value from t1_grouping
      group by cube(key, value) having grouping(key) = 1""")
      === golden("""
        NULL 1
        NULL 2
        NULL 3
        NULL 5
        NULL NULL
        NULL NULL"""))
    assert(sorted("""
      select key, value, grouping(key) + grouping(value) as x
      from t1_grouping group by cube(key, value)
      having grouping(key) + grouping(value) > 0""")
      === golden("""
        1 NULL 1
        2 NULL 1
        3 NULL 1
        4 NULL 1
        NULL 1 1
        NULL 2 1
        NULL 3 1
        NULL 5 1
        NULL NULL 1
        NULL NULL 2"""))
  }

  test("lateral_view.q: multiple lateral views form a cartesian product") {
    val got = spark.sql("""
      SELECT myTable.myCol, myTable2.myCol2 FROM (SELECT 1 AS k)
      LATERAL VIEW explode(array(1, 2, 3)) myTable AS myCol
      LATERAL VIEW explode(array('a', 'b', 'c')) myTable2 AS myCol2""")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sorted
    assert(got === (for (i <- 1 to 3; c <- Seq("a", "b", "c")) yield (i, c)))
  }

  test("lateral_view.q: later views can reference earlier view output") {
    val got = spark.sql("""
      SELECT myTable2.* FROM (SELECT 1 AS k)
      LATERAL VIEW explode(array(array(1, 2, 3))) myTable AS myCol
      LATERAL VIEW explode(myTable.myCol) myTable2 AS myCol2""")
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(got === Seq(1, 2, 3))
  }

  // ql/src/test/queries/clientpositive/join_nullsafe.q fixture
  // (data/files/in8.txt: ^A-delimited, empty field = NULL)
  private lazy val myinput1 = {
    val df = Seq[(Option[Int], Option[Int])](
      (None, None), (None, Some(10)), (Some(10), None), (None, Some(35)),
      (Some(48), None), (Some(100), Some(100)))
      .toDF("key", "value")
    df.createOrReplaceTempView("myinput1")
    df
  }

  test("join_nullsafe.q: <=> matches NULL keys in inner joins (golden)") {
    myinput1
    assert(sorted(
      "select * from myinput1 a join myinput1 b on a.key<=>b.value")
      === golden("""
        10 NULL NULL 10
        100 100 100 100
        NULL 10 10 NULL
        NULL 10 48 NULL
        NULL 10 NULL NULL
        NULL 35 10 NULL
        NULL 35 48 NULL
        NULL 35 NULL NULL
        NULL NULL 10 NULL
        NULL NULL 48 NULL
        NULL NULL NULL NULL"""))
  }

  test("join_nullsafe.q: three-way all-null-safe join (golden)") {
    myinput1
    assert(sorted("""
      select * from myinput1 a
      join myinput1 b on a.key<=>b.value AND a.value<=>b.key
      join myinput1 c on a.key<=>c.key AND a.value<=>c.value""")
      === golden("""
        10 NULL NULL 10 10 NULL
        100 100 100 100 100 100
        NULL 10 10 NULL NULL 10
        NULL NULL NULL NULL NULL NULL"""))
  }

  test("join_nullsafe.q: LEFT OUTER with <=> preserves unmatched 48 (golden)") {
    myinput1
    assert(sorted("""
      select * from myinput1 a LEFT OUTER JOIN myinput1 b
      on a.key<=>b.value""")
      === golden("""
        10 NULL NULL 10
        100 100 100 100
        48 NULL NULL NULL
        NULL 10 10 NULL
        NULL 10 48 NULL
        NULL 10 NULL NULL
        NULL 35 10 NULL
        NULL 35 48 NULL
        NULL 35 NULL NULL
        NULL NULL 10 NULL
        NULL NULL 48 NULL
        NULL NULL NULL NULL"""))
  }

  // ql/src/test/queries/clientpositive/windowing.q fixture: the 26-row
  // part_tiny table, read straight from the reference's data/files
  // (^A-delimited; same LOAD the .q performs)
  private lazy val partTiny = {
    val df = spark.read
      .option("sep", "")
      .schema("p_partkey LONG, p_name STRING, p_mfgr STRING, " +
        "p_brand STRING, p_type STRING, p_size INT, p_container STRING, " +
        "p_retailprice DOUBLE, p_comment STRING")
      .csv(s"${Reference.Root}/data/files/part_tiny.txt")
    df.createOrReplaceTempView("part_tiny")
    df
  }

  test("windowing.q testWindowing: rank/dense_rank/running sum " +
      "(distribute by / sort by window syntax)") {
    partTiny
    val got = sorted("""
      select p_mfgr, p_name, p_size,
      rank() over(distribute by p_mfgr sort by p_name) as r,
      dense_rank() over(distribute by p_mfgr sort by p_name) as dr,
      round(sum(p_retailprice) over (distribute by p_mfgr sort by p_name
        rows between unbounded preceding and current row), 2) as s1
      from part_tiny""")
    // golden head + tail rows from windowing.q.out (ties share rank 1
    // but the ROWS frame still advances the running sum)
    assert(got.length === 26)
    assert(got.contains(Seq("Manufacturer#1",
      "almond antique burnished rose metallic", "2", "1", "1", "1173.15")))
    assert(got.contains(Seq("Manufacturer#1",
      "almond antique burnished rose metallic", "2", "1", "1", "2346.3")))
    assert(got.contains(Seq("Manufacturer#1",
      "almond antique chartreuse lavender yellow", "34", "3", "2",
      "4100.06")))
    assert(got.contains(Seq("Manufacturer#2",
      "almond aquamarine sandy cyan gainsboro", "18", "5", "5", "8923.62")))
    assert(got.contains(Seq("Manufacturer#5",
      "almond azure blanched chiffon midnight", "23", "5", "5", "7672.66")))
  }

  test("windowing.q testGroupByWithPartitioning: group-by under windows, " +
      "lag with column default") {
    partTiny
    val got = sorted("""
      select p_mfgr, p_name, p_size, min(p_retailprice) as mn,
      rank() over(distribute by p_mfgr sort by p_name) as r,
      dense_rank() over(distribute by p_mfgr sort by p_name) as dr,
      p_size - lag(p_size, 1, p_size)
        over(distribute by p_mfgr sort by p_name) as deltaSz
      from part_tiny
      group by p_mfgr, p_name, p_size""")
    assert(got.length === 25) // dup part collapses under group by
    assert(got.contains(Seq("Manufacturer#1",
      "almond antique burnished rose metallic", "2", "1173.15", "1", "1",
      "0")))
    assert(got.contains(Seq("Manufacturer#1",
      "almond antique chartreuse lavender yellow", "34", "1753.76", "2",
      "2", "32")))
    assert(got.contains(Seq("Manufacturer#1",
      "almond antique salmon chartreuse burlywood", "6", "1602.59", "3",
      "3", "-28")))
  }

  // ql/src/test/queries/clientpositive/count.q fixture
  // (data/files/in4.txt, ^A-delimited, empty = NULL)
  private lazy val abcd = {
    val df = Seq[(Option[Int], Option[Int], Option[Int], Option[Int])](
      (None, Some(35), Some(23), Some(6)), (Some(10), Some(1000),
        Some(50), Some(1)), (Some(100), Some(100), Some(10), Some(3)),
      (Some(12), None, Some(80), Some(2)), (Some(10), Some(100), None,
        Some(5)), (Some(10), Some(100), Some(45), Some(4)),
      (Some(12), Some(100), Some(75), Some(7))).toDF("a", "b", "c", "d")
    df.createOrReplaceTempView("abcd")
    df
  }

  test("count.q: grouped multi-DISTINCT over null-bearing columns") {
    abcd
    assert(sorted("""
      select a, count(distinct b), count(distinct c), sum(d)
      from abcd group by a""")
      === golden("""
        10 2 2 10
        100 1 1 3
        12 1 2 9
        NULL 1 1 6"""))
  }

  test("count.q: the 21-aggregate sweep (multi-column DISTINCT null " +
      "semantics)") {
    abcd
    // count(distinct x,y) counts tuples with NO null component — the
    // golden encodes exactly which of the 15 column subsets drop rows
    assert(sorted("""
      select count(1), count(*), count(a), count(b), count(c), count(d),
        count(distinct a), count(distinct b), count(distinct c),
        count(distinct d), count(distinct a,b), count(distinct b,c),
        count(distinct c,d), count(distinct a,d), count(distinct a,c),
        count(distinct b,d), count(distinct a,b,c),
        count(distinct b,c,d), count(distinct a,c,d),
        count(distinct a,b,d), count(distinct a,b,c,d) from abcd""")
      === golden(
        "7 7 6 6 6 7 3 3 6 7 4 5 6 6 5 6 4 5 5 5 4"))
  }

  // ql/src/test/queries/clientpositive/subquery_notin.q semantics:
  // NOT IN is three-valued — one NULL in the subquery output makes
  // every `x NOT IN (...)` predicate UNKNOWN, so the result is empty;
  // NOT EXISTS over the same rows is unaffected
  test("subquery_notin.q: a NULL in the subquery empties NOT IN") {
    import spark.implicits._
    Seq(Some(1), Some(2), Some(3)).toDF("k")
      .createOrReplaceTempView("notin_outer")
    Seq(Some(2), None).toDF("v").createOrReplaceTempView("notin_nullv")
    Seq(Some(2)).toDF("v").createOrReplaceTempView("notin_clean")
    assert(spark.sql(
      "SELECT k FROM notin_outer WHERE k NOT IN (SELECT v FROM notin_nullv)")
      .count() === 0)
    assert(spark.sql(
      "SELECT k FROM notin_outer WHERE k NOT IN (SELECT v FROM notin_clean)")
      .as[Int].collect().sorted.toSeq === Seq(1, 3))
    // NOT EXISTS is two-valued: the NULL row never equals k, so only
    // k = 2 is excluded
    assert(spark.sql("""
      SELECT k FROM notin_outer o WHERE NOT EXISTS
        (SELECT 1 FROM notin_nullv i WHERE i.v = o.k)""")
      .as[Int].collect().sorted.toSeq === Seq(1, 3))
  }

  // ql/src/test/queries/clientpositive/order_null.q semantics: Hive
  // (and Spark) default NULLS FIRST on ASC, NULLS LAST on DESC, with
  // explicit NULLS FIRST/LAST overrides
  test("order_null.q: default and explicit null ordering") {
    import spark.implicits._
    Seq(Some(2), None, Some(1)).toDF("v").createOrReplaceTempView("ord_n")
    def run(sql: String): Seq[Option[Int]] =
      spark.sql(sql).collect().toSeq
        .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(run("SELECT v FROM ord_n ORDER BY v")
      === Seq(None, Some(1), Some(2)))
    assert(run("SELECT v FROM ord_n ORDER BY v DESC")
      === Seq(Some(2), Some(1), None))
    assert(run("SELECT v FROM ord_n ORDER BY v ASC NULLS LAST")
      === Seq(Some(1), Some(2), None))
    assert(run("SELECT v FROM ord_n ORDER BY v DESC NULLS FIRST")
      === Seq(None, Some(2), Some(1)))
  }

  // ql/src/test/queries/clientpositive/union_null.q: a bare NULL branch
  // takes the other branch's type; mixed numeric branches promote
  test("union_null.q: NULL literal and numeric type coercion in UNION") {
    val u1 = spark.sql("SELECT 'a' AS x UNION ALL SELECT NULL")
    assert(u1.schema("x").dataType ===
      org.apache.spark.sql.types.StringType)
    assert(u1.collect().map(r => Option(r.getString(0))).toSet
      === Set(Some("a"), None))
    val u2 = spark.sql("SELECT 1 AS x UNION ALL SELECT 2.5")
    assert(u2.schema("x").dataType.typeName.startsWith("decimal"))
  }

  // ql/src/test/queries/clientpositive/nullgroup.q: global aggregates
  // over an empty relation produce one row (count 0, null min/max);
  // grouped aggregates produce zero rows
  test("nullgroup.q: aggregates over empty input") {
    import spark.implicits._
    Seq.empty[(Int, Int)].toDF("k", "v").createOrReplaceTempView("empty_t")
    val g = spark.sql(
      "SELECT count(*) AS c, min(v) AS mn, max(v) AS mx FROM empty_t")
      .head()
    assert(g.getLong(0) === 0L && g.isNullAt(1) && g.isNullAt(2))
    assert(spark.sql(
      "SELECT k, count(*) FROM empty_t GROUP BY k").count() === 0)
  }

  // ql/src/test/queries/clientpositive/join_filters.q semantics: a
  // predicate in a LEFT JOIN's ON clause restricts which right rows
  // MATCH (unmatched left rows survive with nulls); the same predicate
  // in WHERE filters the joined result (dropping null-extended rows)
  test("join_filters.q: ON-clause vs WHERE predicate on outer joins") {
    import spark.implicits._
    Seq((1, 10), (2, 20)).toDF("k", "a").createOrReplaceTempView("jf_l")
    Seq((1, 100), (2, 5)).toDF("k", "b").createOrReplaceTempView("jf_r")
    val on = spark.sql("""
      SELECT l.k, r.b FROM jf_l l
      LEFT JOIN jf_r r ON l.k = r.k AND r.b > 50 ORDER BY l.k""")
      .collect().map(r => (r.getInt(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)))).toSeq
    assert(on === Seq((1, Some(100)), (2, None))) // k=2 survives, null b
    val where = spark.sql("""
      SELECT l.k, r.b FROM jf_l l
      LEFT JOIN jf_r r ON l.k = r.k WHERE r.b > 50 ORDER BY l.k""")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(where === Seq((1, 100))) // WHERE drops the null-extended row
  }

  // groupby/orderby position aliases (Hive
  // hive.groupby.position.alias / orderby.position.alias; Spark has
  // them on by default)
  test("position aliases: GROUP BY 1 and ORDER BY 1 resolve to columns") {
    import spark.implicits._
    Seq(("b", 2), ("a", 1), ("a", 3)).toDF("g", "v")
      .createOrReplaceTempView("pos_t")
    val rows = spark.sql(
      "SELECT g, sum(v) AS s FROM pos_t GROUP BY 1 ORDER BY 1 DESC")
      .as[(String, Long)].collect().toSeq
    assert(rows === Seq(("b", 2L), ("a", 4L)))
  }

  test("char_comparison.q: padded comparisons, leading vs trailing space") {
    def one(sql: String): Boolean =
      spark.sql(s"SELECT $sql").head().getBoolean(0)
    // same-length chars: full comparison set (golden: all true)
    assert(one("cast('abc' as char(10)) =  cast('abc' as char(10))"))
    assert(one("cast('abc' as char(10)) <= cast('abc' as char(10))"))
    assert(one("cast('abc' as char(10)) >= cast('abc' as char(10))"))
    assert(one("cast('abc' as char(10)) <  cast('abd' as char(10))"))
    assert(one("cast('abc' as char(10)) >  cast('abb' as char(10))"))
    assert(one("cast('abc' as char(10)) <> cast('abb' as char(10))"))
    // leading space IS significant for char (golden: true)
    assert(one("cast(' abc' as char(10)) <> cast('abc' as char(10))"))
    // trailing space is NOT significant: 'abc ' pads like 'abc'
    assert(one("cast('abc ' as char(10)) = cast('abc' as char(10))"))
  }
}
