package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row

class GapFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("mask family matches Hive semantics") {
    val r = spark.sql("""SELECT mask('Customer#042xY'),
        mask_all('Customer#042xY'),
        mask_first_n('Abc123', 4), mask_last_n('Abc123', 2),
        mask_show_first_n('Abc123', 2), mask_show_last_n('Abc123', 2),
        mask_first_n(CAST(NULL AS STRING), 3),
        mask_first_n('ab', 10)""").head() // n > length
    assert(r.toSeq === Seq("Xxxxxxxx#nnnxX", "Xxxxxxxx#nnnxX", "Xxxn23",
      "Abc1nn", "Abxnnn", "Xxxn23", null, "xx"))
  }

  test("sort_array_by sorts array of structs by field") {
    val df = Seq(1).toDF("x").selectExpr("array(named_struct('k', 3, " +
      "'v', 'c'), named_struct('k', 1, 'v', 'a'), named_struct('k', 2, " +
      "'v', 'b')) AS arr")
    val sorted = df.selectExpr("transform(sort_array_by(arr, 'k'), x -> x.v)")
      .as[Seq[String]].head()
    assert(sorted === Seq("a", "b", "c"))
  }

  test("parse_url_tuple extracts multiple parts") {
    val df = Seq("https://example.com:8080/path/p?x=1&y=2#frag").toDF("url")
    val r = df.selectExpr("parse_url_tuple(url, 'HOST', 'PATH', 'QUERY')")
      .head()
    assert(r === Row("example.com", "/path/p", "x=1&y=2"))
  }

  test("uniontype round-trip via tagged-struct encoding") {
    val df = Seq((0, 42, "ignored"), (1, -1, "hello")).toDF("tag", "i", "s")
    val u = df.selectExpr("create_union(tag, i, s) AS u")
    assert(u.selectExpr("u.tag").as[Int].collect().toSeq === Seq(0, 1))
    val f0 = u.selectExpr("extract_union(u, 0)").as[Int].collect()
    val f1 = u.selectExpr("extract_union(u, 1)").as[String].collect()
    assert(f0.toSeq === Seq(42, -1))
    assert(f1.toSeq === Seq("ignored", "hello"))
  }

  test("replicate_rows emits each row n times, distributed") {
    Seq(("a", 2L), ("b", 3L)).toDF("k", "n").repartition(2)
      .createOrReplaceTempView("gap_replicate")
    val out = spark.sql("""SELECT k, count(*) FROM gap_replicate
        LATERAL VIEW replicate_rows(n, k) t AS m, kk GROUP BY k""")
      .as[(String, Long)].collect().toMap
    assert(out === Map("a" -> 2L, "b" -> 3L))
  }

  test("field() returns 1-based index of first match, 0 if absent") {
    val df = Seq("b", "c", "z").toDF("v")
    val got = df.selectExpr("field(v, 'a', 'b', 'c')").as[Int].collect()
    assert(got.toSeq === Seq(2, 3, 0))
  }

  test("fingerprint64 is FNV-1a over UTF-8 bytes (known vectors)") {
    // Independently computed FNV-1a 64 test vectors.
    assert(Fingerprint64.hash("") === 0xcbf29ce484222325L)
    assert(Fingerprint64.hash("a") === 0xaf63dc4c8601ec8cL)
    assert(Fingerprint64.hash("hello") === 0xa430d84680aabd0bL)
    // codegen path (select over a DataFrame) agrees with direct eval
    val df = Seq("", "a", "hello", "spark engine").toDF("s")
    val viaExpr = df.select(GapFunctions.fingerprint64($"s")).as[Long].collect()
    val direct = Seq("", "a", "hello", "spark engine").map(Fingerprint64.hash)
    assert(viaExpr.toSeq === direct)
    // SQL registration
    val viaSql = df.selectExpr("fingerprint64(s)").as[Long].collect()
    assert(viaSql.toSeq === direct)
  }

  test("hive_hash is bit-compatible with Hive's ObjectInspectorUtils") {
    // expected values follow ObjectInspectorUtils.java:643-714 +
    // getBucketHashCode (31-fold): verified by hand.
    val r = spark.sql("""SELECT
        hive_hash(42) AS h_int,
        hive_hash(CAST(42 AS BIGINT)) AS h_long,
        hive_hash(CAST(-1 AS BIGINT)) AS h_neg_long,
        hive_hash('abc') AS h_str,
        hive_hash(true) AS h_bool,
        hive_hash(CAST(1.5 AS DOUBLE)) AS h_double,
        hive_hash(1, 'a') AS h_multi""").head()
    assert(r.getAs[Int]("h_int") === 42)
    assert(r.getAs[Int]("h_long") === 42)
    // (-1L >>> 32) ^ -1L = 0xFFFFFFFF ^ ...FFFF = 0xFFFFFFFF00000000 -> 0
    assert(r.getAs[Int]("h_neg_long") === 0)
    assert(r.getAs[Int]("h_str") === "abc".hashCode) // ASCII == String.hashCode
    assert(r.getAs[Int]("h_bool") === 1)
    val bits = java.lang.Double.doubleToLongBits(1.5)
    assert(r.getAs[Int]("h_double") === ((bits >>> 32) ^ bits).toInt)
    assert(r.getAs[Int]("h_multi") === 31 * 1 + 'a'.toInt)
  }

  test("hive_hash covers date/timestamp/decimal/binary writable contracts") {
    val r = spark.sql("""SELECT
        hive_hash(DATE '1970-01-02') AS h_date,
        hive_hash(TIMESTAMP '1970-01-01 00:00:01Z') AS h_ts,
        hive_hash(CAST(1.5 AS DECIMAL(4,2))) AS h_dec,
        hive_hash(CAST(1.50 AS DECIMAL(6,4))) AS h_dec_norm,
        hive_hash(CAST(X'0102' AS BINARY)) AS h_bin""").head()
    // DateWritable.hashCode = daysSinceEpoch
    assert(r.getAs[Int]("h_date") === 1)
    // TimestampWritable.hashCode: (seconds<<30 | nanos) folded
    val x = 1L << 30
    assert(r.getAs[Int]("h_ts") === ((x >>> 32) ^ x).toInt)
    // HiveDecimal normalizes trailing zeros -> same hash at any scale
    val bd = new java.math.BigDecimal("1.5").hashCode
    assert(r.getAs[Int]("h_dec") === bd)
    assert(r.getAs[Int]("h_dec_norm") === bd)
    // BytesWritable.hashCode: 31-fold, seed 1
    assert(r.getAs[Int]("h_bin") === 31 * (31 * 1 + 1) + 2)
  }
}
