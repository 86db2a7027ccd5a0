package graft

import org.scalatest.funsuite.AnyFunSuite

/** Unit pins for the src/main HiveQL dialect pre-processor — the
  * rewrite layer the golden corpus exercises end-to-end, checked here
  * as pure text transforms through the PUBLIC class. */
class HiveDialectSpec extends AnyFunSuite {

  private lazy val spark =
    Engine.session("dialect-unit", "local[2]", 2)
  private def d = new HiveDialect(spark)

  test("LIMIT offset,count sugar and FLOOR(ts TO unit)") {
    val r = d.rewrite("select k from t order by k limit 5,3")
    assert(r.toLowerCase.contains("limit 3 offset 5"))
    val f = d.rewrite("select floor(ts to month) from t")
    assert(f.toLowerCase.contains("date_trunc('month'"))
  }

  test("WINDOW clause inheritance: spec reuse, own frame, alias") {
    val r = d.rewrite(
      """select sum(x) over w1, avg(x) over w2, min(x) over w3 from t
         window w1 as (partition by p order by k),
                w2 as (w1 rows between 1 preceding and current row),
                w3 as w1""")
    val rl = r.toLowerCase
    assert(!rl.contains("window w1"))
    assert(rl.contains(
      "avg(x) over (partition by p order by k rows between 1 " +
        "preceding and current row)"))
    assert(rl.contains("min(x) over (partition by p order by k)"))
  }

  test("population stddev/variance names and hive_hash routing") {
    val r = d.rewrite("select stddev(x), variance(x), hash(x) from t")
    val rl = r.toLowerCase
    assert(rl.contains("stddev_pop(") && rl.contains("var_pop(") &&
      rl.contains("hive_hash("))
  }

  test("TABLESAMPLE BUCKET x OUT OF y ON cols becomes Hive's " +
      "deterministic hash predicate") {
    val r = d.rewrite(
      "select * from t tablesample (bucket 1 out of 4 on k) s")
    assert(r.toLowerCase.contains("hive_hash(k") &&
      r.contains("% 4 = 0"))
  }

  test("union-limit split spreads the limit round-robin") {
    val r = d.unionLimitSplit(
      "select * from (select a from x union all select a from y " +
        "limit 10) q")
    assert(r.toLowerCase.contains("limit 5"))
  }

  test("windowRewrites offers Hive value-frame semantics candidates") {
    val q = "select sum(s) over (partition by d order by k " +
      "range between 200 preceding and 100 preceding) from t"
    val cands = d.windowRewrites(q)
    // strict far-side: boundary-peer subtraction variant present
    assert(cands.exists(c =>
      c.contains("range between 100 preceding and 100 preceding")))
    // decimal trunc-to-int widening variant present
    assert(cands.exists(c => c.contains("201 preceding")))
    // null-order-key CASE variant present
    assert(cands.exists(_.toLowerCase.contains("(k) is null")))
  }

  test("errorRewrites: regex column specs expand from the analyzer's " +
      "suggestion list") {
    val msg = "[UNRESOLVED_COLUMN.WITH_SUGGESTION] A column, " +
      "variable, or function parameter with name `b`.`..` cannot be " +
      "resolved. Did you mean one of the following? " +
      "[`b`.`ds`, `b`.`hr`, `a`.`ds`, `a`.`hr`, `b`.`key`]"
    val out = d.errorRewrites("SELECT b.`..` FROM x a JOIN x b", msg)
    assert(out.exists(_.contains("b.ds, b.hr")))
  }

  test("errorRewrites: surplus VALUES expressions drop to the " +
      "declared width") {
    val msg = "[INVALID_INLINE_TABLE.NUM_COLUMNS_MISMATCH] Invalid " +
      "inline table. Inline table expected 3 columns but found 4 " +
      "columns in row 1."
    val out = d.errorRewrites(
      "insert into t values (4, 'bob', 6133,14),(5, 'x', 1.0)", msg)
    assert(out.exists(c => c.contains("(4, 'bob', 6133)") &&
      c.contains("(5, 'x', 1.0)")))
  }

  test("interval sugar: bare `2 days` forms") {
    val r = d.intervalSugar("select ts + 2 days from t")
    assert(r.exists(_.toLowerCase.contains("interval '2' days")))
  }

  test("escaped TRANSFORM transport wraps inputs and decodes the line") {
    val dd = d
    dd.escapeTransform = true
    val r = dd.rewrite("SELECT TRANSFORM(key, value) USING 'cat' " +
      "AS key, value FROM src limit 6")
    assert(r.contains("hive_escape_text"))
    assert(r.contains("hive_transform_field(__gline, 1)"))
    assert(r.contains("hive_transform_field(__gline, 2)"))
    assert(r.contains("as (__gline string)"))
    // off: the plain tab-delimited contract stands
    dd.escapeTransform = false
    val r2 = dd.rewrite("SELECT TRANSFORM(key, value) USING 'cat' " +
      "AS key, value FROM src limit 6")
    assert(!r2.contains("hive_transform_field"))
  }

  test("transform escape/unescape round-trips Hive's byte contract") {
    import graft.functions.GapFunctions._
    assert(transformEscape("a\tb") === "a\\tb")
    assert(transformEscape("a\nb") === "a\\nb")
    assert(transformEscape("a\\b") === "a\\\\b")
    assert(transformEscape("ab") === "a\tb")
    // '1\t2' (escaped tab) is ONE field holding a real tab
    assert(transformField("1\\t2", 1) === "1\t2")
    assert(transformField("1\\t2", 2) === null)
    // a raw TAB is the ^A field separator after unescape
    assert(transformField("a\\tb\tc", 1) === "a\tb")
    assert(transformField("a\\tb\tc", 2) === "c")
    // '1\\\t2' -> backslash + real tab preserved in one field
    assert(transformField("1\\\\\\t2", 1) === "1\\\t2")
    // '\N' is NULL
    assert(transformField("x\t\\N", 2) === null)
  }

  test("db-qualified names resolve through dbResolver") {
    val dd = d
    dd.knownDbs += "db1"
    dd.dbResolver = (_, db, t) => s"${db}__$t"
    val r = dd.rewrite("select * from db1.conflict")
    assert(r.contains("db1__conflict"))
  }

  /** Code that each text step of `rewrite` changes. */
  private val triggers = Seq("hash(k)", "std(k)", "stddev(k)",
    "variance(k)", "struct(k)", "limit 5,3", "floor(ts to day)",
    "current_user()", "current_database()", "row__id", "group by ()",
    "extract(second from ts)", "sort by k limit 1", "default.t",
    "_UTF-8 0x414243", "k in (1) = true", "sum('abc')", "k rlike ''",
    "row_number() over (partition by k)", "rank() over ()",
    "x tablesample (bucket 1 out of 2 on k)", "histogram_numeric(k, 3)",
    "stddev_samp(k)", "group by k limit 1", "logged_in_user()",
    "'$.[0]'", "using 'a\\tb'")

  test("rewrite never edits a string literal or comment; the same " +
      "tokens as code are still rewritten") {
    val dd = d
    for (t <- triggers) {
      assert(dd.rewrite(s"select $t from t") != s"select $t from t", t)
      val sq = t.replace("'", "''")
      for (q <- Seq(s"select '$sq' as s from t", s"select \"$t\" as s",
          s"select 1 as s -- $t\nfrom t", s"select 1 /* $t */ as s"))
        assert(dd.rewrite(q) === q)
    }
  }

  test("a one-character literal is not an identifier: macro " +
      "parameters and USE-db table names leave it alone") {
    val dd = d
    dd.macros("m") = (Seq("x"), "concat(x, '-')")
    assert(dd.rewrite("select m('a')") === "select (concat(('a'), '-'))")
    dd.macros.clear()
    dd.knownDbs += "db"
    dd.dbTables("db") = scala.collection.mutable.Set("x")
    dd.currentDb = "db"
    assert(dd.rewrite("select 'a', x.k from x") ===
      "select 'a', db__x.k from db__x")
  }

  test("both charset-literal spellings select the same value") {
    val dd = d
    Seq("_UTF-8 0x414243", "_utf8 0x414243").foreach(c =>
      assert(spark.sql(dd.rewrite(s"select $c")).head().getString(0) ===
        "ABC", c))
  }

  test("merge-insert-columns lists the MERGE target's columns for a " +
      "column-less INSERT VALUES, in code only") {
    spark.sql("SELECT 1 AS k, 'a' AS v, 'x' AS p")
      .createOrReplaceTempView("hd_merge_t")
    val dd = d
    val head = "MERGE INTO hd_merge_t t USING src s ON t.k = s.k WHEN " +
      "NOT MATCHED "
    assert(dd.rewrite(head + "THEN INSERT VALUES (s.k, s.v, s.p)") ===
      head + "THEN INSERT (`k`, `v`, `p`) VALUES (s.k, s.v, s.p)")
    for (q <- Seq(
        // the trigger inside a literal
        "MERGE INTO hd_merge_t t USING src s ON t.k = s.k WHEN MATCHED " +
          "THEN UPDATE SET v = 'then INSERT VALUES ('",
        // an explicit column list
        head + "THEN INSERT (k, v, p) VALUES (s.k, s.v, s.p)"))
      assert(dd.rewrite(q) === q)
  }
}
