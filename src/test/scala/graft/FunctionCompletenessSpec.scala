package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Automated completeness sweep: every function name the reference
  * registers (parsed from ql/exec/FunctionRegistry.java at test time)
  * must resolve in a prepared session — Spark built-in or graft
  * registration — except a short, rationale-carrying internal list.
  * A reference upgrade or a lost registration fails this test.
  */
class FunctionCompletenessSpec extends SparkSpec {

  /** Pure-syntax registrations (operators/keywords the SQL grammar
    * handles, not callable names). */
  private val syntax = Set(
    "!", "!=", "%", "&", "*", "+", "-", "/", "<", "<=", "<=>", "<>", "=",
    "==", ">", ">=", "^", "|", "~", "and", "or", "not", "in", "between",
    "case", "when", "like", "rlike", "regexp", "div")

  /** Engine-internal names a query author never calls, with why. */
  private val internal = Map(
    "$SUM0" -> "planner-internal sum-or-zero (Spark plans avg/sum itself)",
    "compute_stats" -> "ANALYZE TABLE internal (Spark ANALYZE covers)",
    "cardinality_violation" -> ("MERGE runtime guard (MergeInto raises " +
      "IllegalArgumentException instead)"),
    "get_splits" -> "LLAP split generation (no LLAP substrate)",
    "internal_interval" -> ("parser-internal interval constructor (Spark " +
      "parses INTERVAL literals natively)"),
    "sq_count_check" -> ("scalar-subquery runtime guard (Catalyst " +
      "decorrelation enforces it in the plan)"),
    "reflect2" -> ("reflection on Hive ObjectInspector-boxed values; " +
      "java_method/reflect cover the callable surface"))

  test("every reference-registered function resolves (modulo documented " +
      "internals)") {
    val src = scala.io.Source.fromFile(
      s"${Reference.Root}/ql/src/java/org/apache/hadoop/hive/ql/exec/" +
        "FunctionRegistry.java")
    val names = try {
      "register[A-Za-z]*\\(\"([^\"]+)\"".r
        .findAllMatchIn(src.mkString).map(_.group(1)).toSet
    } finally src.close()
    assert(names.size > 200, s"parsed only ${names.size} registrations")
    Engine.prepare(spark)
    val reg = spark.sessionState.functionRegistry
    val missing = (names -- syntax -- internal.keySet).toSeq.sorted
      .filterNot { n =>
        reg.functionExists(FunctionIdentifier(n)) ||
          spark.catalog.functionExists(n)
      }
    assert(missing.isEmpty,
      s"reference functions with no resolution: ${missing.mkString(", ")}")
  }

  test("alias registrations evaluate correctly") {
    Engine.prepare(spark)
    // render via date_format (session TZ), not Timestamp.toString —
    // the latter uses the JVM default zone, which the golden replays
    // pin to US/Pacific
    assert(spark.sql("SELECT date_format(floor_month(TIMESTAMP " +
      "'2024-03-15 13:45:00'), 'yyyy-MM-dd HH:mm:ss')")
      .head().getString(0) === "2024-03-01 00:00:00")
    assert(spark.sql("SELECT index(array(7, 8, 9), 1)").head().getInt(0)
      === 8) // Hive index() is 0-based, like Spark a[i]
    assert(spark.sql("SELECT index(map('a', 1), 'a')").head().getInt(0) === 1)
    assert(spark.sql("SELECT logged_in_user()").head().getString(0) != null)
    val bm = spark.sql("""
      SELECT ewah_bitmap_empty(ewah_bitmap(x)),
             ewah_bitmap_empty(ewah_bitmap_and(ewah_bitmap(x),
                                               ewah_bitmap(y)))
      FROM VALUES (1L, 10L), (2L, 20L) AS t(x, y)""").head()
    assert(!bm.getBoolean(0))
    assert(bm.getBoolean(1)) // {1,2} AND {10,20} is empty
  }

  test("ngrams / context_ngrams as SQL UDAFs (GenericUDAFnGrams shapes)") {
    Engine.prepare(spark)
    val r = spark.sql("""
      SELECT ngrams(split(t, ' '), 2, 2) FROM VALUES
        ('the cat and the cat'), ('the cat runs') AS v(t)""")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(r.map(x => (x.getSeq[String](0).mkString(" "), x.getDouble(1)))
      === Seq(("the cat", 3.0), ("and the", 1.0)))
    val c = spark.sql("""
      SELECT context_ngrams(split(t, ' '), array('the', null), 2)
      FROM VALUES ('the cat and the cat'), ('the dog barks') AS v(t)""")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(c.map(x => (x.getSeq[String](0).mkString(" "), x.getDouble(1)))
      === Seq(("cat", 2.0), ("dog", 1.0)))
    // sentences() output (array<array<string>>) is accepted directly —
    // grams never cross sentence boundaries
    val s = spark.sql("""
      SELECT ngrams(sentences('The cat sat. Cat runs fast.'), 2, 5)""")
      .head().getSeq[org.apache.spark.sql.Row](0)
    val grams = s.map(_.getSeq[String](0).mkString(" "))
    assert(grams.contains("The cat") && grams.contains("Cat runs"))
    assert(!grams.contains("sat Cat")) // no cross-sentence gram
  }

  test("create_union / extract_union as SQL names") {
    Engine.prepare(spark)
    val r = spark.sql("""
      SELECT extract_union(create_union(1, 42, 'hello')).tag,
             extract_union(create_union(1, 42, 'hello'), 1),
             extract_union(create_union(0, 42, 'hello'), 0)""").head()
    assert(r.getInt(0) === 1)
    assert(r.getString(1) === "hello")
    assert(r.getInt(2) === 42)
  }
}
