package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.{HiveStatements, SparkSpec}

/** Engine-surface schema evolution: ALTER TABLE ADD/REPLACE COLUMNS
  * through the PUBLIC HiveStatements entry point, and the
  * SchemaEvolution conversion rules they ride on (ref
  * ql/io/parquet/read/DataWritableReadSupport.java by-name matching;
  * ql/exec/FetchOperator positional partition-OI converters). */
class SchemaEvolutionSpec extends SparkSpec {

  private def stmts = new HiveStatements(spark)

  test("REPLACE COLUMNS promotes types value-wise (float widens in binary)") {
    import spark.implicits._
    Seq((150, 0.3f)).toDF("cint2", "cfloat")
      .createOrReplaceTempView("se_promo")
    val h = stmts
    assert(h.sql(
      "ALTER TABLE se_promo REPLACE COLUMNS (cint2 float, cfloat double)")
      .isEmpty)
    val r = spark.table("se_promo").head()
    assert(r.getFloat(0) === 150.0f)
    // binary widening, not text round-trip: 0.3f != 0.3d
    assert(r.getDouble(1) === 0.3f.toDouble)
    assert(r.getDouble(1) !== 0.3)
  }

  test("REPLACE COLUMNS drops surplus columns, nulls extra ones") {
    import spark.implicits._
    Seq((1, "a", 2.0)).toDF("a", "b", "c")
      .createOrReplaceTempView("se_width")
    stmts.sql("ALTER TABLE se_width REPLACE COLUMNS (a bigint, b string, " +
      "c double, d int)")
    val r1 = spark.table("se_width").head()
    assert(r1.getLong(0) === 1L && r1.isNullAt(3))
    stmts.sql("ALTER TABLE se_width REPLACE COLUMNS (a int)")
    assert(spark.table("se_width").columns.toSeq === Seq("a"))
  }

  test("nested struct fields match by NAME; arrays/maps convert element-wise") {
    val schema = StructType(Seq(
      StructField("st", StructType(Seq(
        StructField("c1", IntegerType), StructField("c2", IntegerType)))),
      StructField("l", ArrayType(IntegerType)),
      StructField("m", MapType(StringType, IntegerType))))
    val df = spark.createDataFrame(
      java.util.List.of(Row(Row(10, 20), Seq(7, 9), Map("k" -> 11))),
      schema)
    df.createOrReplaceTempView("se_nested")
    stmts.sql("ALTER TABLE se_nested REPLACE COLUMNS (" +
      "st struct<c2:bigint,c3:int>, l array<bigint>, m map<string,bigint>)")
    val r = spark.table("se_nested").head()
    val st = r.getStruct(0)
    assert(st.getLong(0) === 20L) // c2 matched by name, widened
    assert(st.isNullAt(1))        // c3 added -> null
    assert(r.getSeq[Long](1) === Seq(7L, 9L))
    assert(r.getMap[String, Long](2)("k") === 11L)
  }

  test("array<struct<k,v,..>> re-reads as map over the first two fields") {
    val schema = StructType(Seq(StructField("locs", ArrayType(
      StructType(Seq(StructField("f1", IntegerType),
        StructField("f2", IntegerType), StructField("f3", IntegerType)))))))
    spark.createDataFrame(
      java.util.List.of(Row(Seq(Row(77, 88, 99)))), schema)
      .createOrReplaceTempView("se_asm")
    stmts.sql("ALTER TABLE se_asm REPLACE COLUMNS (locs map<bigint,int>)")
    assert(spark.table("se_asm").head().getMap[Long, Int](0)(77L) === 88)
  }

  test("map KEY-type conversion drops null keys and keeps the last " +
      "occurrence of colliding keys (Hive lazy-reader contract)") {
    val schema = StructType(Seq(
      StructField("m", MapType(StringType, IntegerType))))
    spark.createDataFrame(
      java.util.List.of(
        Row(Map("1" -> 10, "01" -> 20, "x" -> 30, "2" -> 40))),
      schema).createOrReplaceTempView("se_mapkeys")
    stmts.sql("ALTER TABLE se_mapkeys REPLACE COLUMNS (m map<int,int>)")
    val m = spark.table("se_mapkeys").head().getMap[Int, Int](0)
    // '1' and '01' both cast to 1 — last occurrence wins; 'x' casts to
    // a null key and drops (Spark's map builders would throw on both)
    assert(m === Map(1 -> 20, 2 -> 40))
  }

  test("ADD COLUMNS parses a column COMMENT containing parens/cascade text") {
    import spark.implicits._
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("se_cmt")
    stmts.sql("ALTER TABLE se_cmt ADD COLUMNS (" +
      "w double COMMENT 'ratio (a) over (b)', z int) CASCADE")
    assert(spark.table("se_cmt").columns.toSeq ===
      Seq("k", "v", "w", "z"))
  }

  test("schema evolution re-binds lazily: no checkpoint materialization") {
    import spark.implicits._
    Seq((1, 2.0)).toDF("k", "v").createOrReplaceTempView("se_lazy")
    stmts.sql("ALTER TABLE se_lazy ADD COLUMNS (w int)")
    stmts.sql("ALTER TABLE se_lazy REPLACE COLUMNS (k bigint, v double, w int)")
    val p = spark.table("se_lazy").queryExecution.analyzed.toString
    // a localCheckpoint would appear as LogicalRDD; the lazy rebind
    // keeps the original LocalRelation under projections
    assert(!p.contains("LogicalRDD"), p)
  }

  test("ADD COLUMNS appends null columns without touching stored data") {
    import spark.implicits._
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("se_add")
    stmts.sql("ALTER TABLE se_add ADD COLUMNS (w double, ts timestamp)")
    val t = spark.table("se_add")
    assert(t.columns.toSeq === Seq("k", "v", "w", "ts"))
    val r = t.head()
    assert(r.getInt(0) === 1 && r.isNullAt(2) && r.isNullAt(3))
  }
}
