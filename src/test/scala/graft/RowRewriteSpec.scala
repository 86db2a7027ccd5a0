package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}

/** Statements that rewrite a table's rows (UPDATE, DELETE, MERGE,
  * TRUNCATE, DROP/RENAME PARTITION, IMPORT into an existing table) run
  * differentially: once on a partitioned catalog table, once on a
  * session temp view holding the same rows. Both must end with the
  * same rows, and the catalog table's rows must live in its files —
  * visible from a fresh session, never shadowed by a temp view, and
  * still taking later INSERTs.
  */
class RowRewriteSpec extends SparkSpec {

  private lazy val h = new HiveStatements(spark)

  private val schema = StructType(Seq(StructField("k", IntegerType),
    StructField("n", IntegerType), StructField("v", StringType),
    StructField("p", StringType)))
  private val seed = Seq((1, 10, "x", "a"), (2, 20, "y", "a"),
    (3, 30, "z", "b"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("[", ",", "]")).sorted.toSeq

  /** A catalog table `c_<name>` (PARTITIONED BY p, stored `as`) and a
    * session temp view `s_<name>` holding the same rows. */
  private def pair(name: String, as: String): (String, String) = {
    val (c, s) = (s"c_$name", s"s_$name")
    h.sql(s"DROP TABLE IF EXISTS $c")
    h.sql(s"CREATE TABLE $c (k INT, n INT, v STRING) " +
      s"PARTITIONED BY (p STRING) STORED AS $as")
    h.sql(s"INSERT INTO $c PARTITION (p) VALUES " +
      seed.map { case (k, n, v, p) => s"($k, $n, '$v', '$p')" }
        .mkString(", "))
    spark.createDataFrame(java.util.Arrays.asList(seed.map {
      case (k, n, v, p) => org.apache.spark.sql.Row(k, n, v, p) }: _*),
      schema).createOrReplaceTempView(s)
    (c, s)
  }

  /** Runs `stmt` on both tables and checks the four differential
    * properties. With no temp view named after the catalog table, this
    * session reads the same rows a fresh session does, so one read
    * from a fresh session checks both. */
  private def differential(name: String, as: String = "PARQUET")(
      stmt: String => Unit): Unit = {
    val (c, s) = pair(name, as)
    try {
      stmt(c)
      stmt(s)
      assert(spark.sessionState.catalog.getTempView(c).isEmpty,
        s"a temp view shadows catalog table $c")
      assert(rowsOf(spark.newSession().table(c)) ===
        rowsOf(spark.table(s)))
      val after = "INSERT INTO %s PARTITION (p='d') VALUES (9, 90, 'w')"
      h.sql(after.format(c))
      h.sql(after.format(s))
      assert(rowsOf(spark.newSession().table(c)) ===
        rowsOf(spark.table(s)))
    } finally {
      spark.catalog.dropTempView(c)
      spark.catalog.dropTempView(s)
      h.sql(s"DROP TABLE IF EXISTS $c")
    }
  }

  test("UPDATE on a catalog table matches the session table") {
    differential("upd")(t =>
      h.sql(s"UPDATE $t SET v = 'u', n = n + 1 WHERE k = 2"))
  }

  test("DELETE on a catalog table matches the session table") {
    differential("del")(t => h.sql(s"DELETE FROM $t WHERE n > 15"))
  }

  test("DELETE on an ORC catalog table rewrites it as ORC") {
    differential("orc", "ORC")(t => h.sql(s"DELETE FROM $t WHERE n > 15"))
  }

  test("MERGE on a catalog table matches the session table") {
    differential("mrg")(t => h.sql(s"MERGE INTO $t t USING (SELECT 2 " +
      "AS k, 99 AS n, 'm' AS v, 'a' AS p UNION ALL SELECT 4, 40, 'q', " +
      "'c') s ON t.k = s.k WHEN MATCHED THEN UPDATE SET n = s.n " +
      "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.n, s.v, s.p)"))
  }

  test("TRUNCATE PARTITION on a catalog table matches the session table") {
    differential("trp")(t => h.sql(s"TRUNCATE TABLE $t PARTITION (p='a')"))
  }

  test("TRUNCATE COLUMNS on a catalog table matches the session table") {
    differential("trc")(t =>
      h.sql(s"TRUNCATE TABLE $t PARTITION (p='a') COLUMNS (v)"))
  }

  test("DROP PARTITION (=) on a catalog table matches the session table") {
    differential("dpe")(t =>
      h.sql(s"ALTER TABLE $t DROP PARTITION (p='a')"))
  }

  test("DROP PARTITION (<) on a catalog table matches the session table") {
    differential("dpl")(t =>
      h.sql(s"ALTER TABLE $t DROP PARTITION (p < 'b')"))
  }

  test("RENAME PARTITION on a catalog table matches the session table") {
    differential("ren")(t => h.sql(s"ALTER TABLE $t PARTITION (p='a') " +
      "RENAME TO PARTITION (p='c')"))
  }

  test("IMPORT into an existing catalog table matches the session table") {
    val dir = java.nio.file.Files.createTempDirectory("rowrw_exp")
      .toString + "/e"
    h.sql("DROP TABLE IF EXISTS rowrw_src")
    h.sql("CREATE TABLE rowrw_src (k INT, n INT, v STRING) " +
      "PARTITIONED BY (p STRING) STORED AS PARQUET")
    h.sql("INSERT INTO rowrw_src PARTITION (p) VALUES (5, 50, 'e', 'b'), " +
      "(6, 60, 'f', 'e')")
    h.sql(s"EXPORT TABLE rowrw_src TO '$dir'")
    try differential("imp")(t => h.sql(s"IMPORT TABLE $t FROM '$dir'"))
    finally h.sql("DROP TABLE IF EXISTS rowrw_src")
  }

  /** An INT column of a catalog table gets `stmt`'s assigned 2.7; the
    * table must stay readable from a fresh session with the value the
    * session-table path gives (Hive's cast: 2). */
  private def assignedCast(name: String)(stmt: String => Unit): Unit = {
    h.sql(s"DROP TABLE IF EXISTS $name")
    h.sql(s"CREATE TABLE $name (k INT, n INT) PARTITIONED BY " +
      "(p STRING) STORED AS PARQUET")
    h.sql(s"INSERT INTO $name PARTITION (p='a') VALUES (1, 1), (2, 5)")
    try {
      stmt(name)
      val fresh = spark.newSession().table(name)
      assert(fresh.schema("n").dataType === IntegerType)
      assert(rowsOf(fresh) === Seq("[1,1,a]", "[2,2,a]"))
    } finally h.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("UPDATE casts the assigned value to the column's declared type") {
    assignedCast("cast_upd")(t =>
      h.sql(s"UPDATE $t SET n = 2.7 WHERE k = 2"))
  }

  test("MERGE casts a decimal source value to the column's declared type") {
    spark.sql("SELECT 2 AS k, CAST(2.7 AS DECIMAL(3,1)) AS n")
      .createOrReplaceTempView("cast_src")
    assignedCast("cast_mrg")(t => h.sql(s"MERGE INTO $t t USING cast_src " +
      "s ON t.k = s.k WHEN MATCHED THEN UPDATE SET n = s.n"))
  }

  test("MERGE with a parenthesised USING subquery casts the source " +
      "value like the source-view MERGE") {
    assignedCast("cast_mrgq")(t => h.sql(s"MERGE INTO $t t USING (" +
      "SELECT 2 AS k, CAST(2.7 AS DECIMAL(3,1)) AS n) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET n = s.n"))
  }

  // a parenthesised USING subquery ends at its balanced close
  test("MERGE reads a USING subquery past a ')' inside a literal") {
    val (c, s) = pair("mrgq", "PARQUET")
    try {
      h.sql(s"MERGE INTO $c t USING (SELECT 2 AS k, 99 AS n, 'a) b' AS v, " +
        "'a' AS p UNION ALL SELECT 4, 40, ')', 'c') s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.n, s.v, s.p)")
      // an unaliased target, an AS-aliased source
      h.sql(s"MERGE INTO $c USING (SELECT 3 AS k, ')' AS v) AS s " +
        s"ON $c.k = s.k WHEN MATCHED THEN DELETE")
      assert(rowsOf(spark.newSession().table(c)) ===
        Seq("[1,10,x,a]", "[2,20,a) b,a]", "[4,40,),c]"))
    } finally {
      spark.catalog.dropTempView(s)
      h.sql(s"DROP TABLE IF EXISTS $c")
    }
  }

  /** `pz_<name>`: (k INT, v STRING) and a column p, the partition
    * column when `partitioned`, holding `rows`; `body` runs on it. */
  private def kvp(name: String, partitioned: Boolean,
      rows: (Int, String, String)*)(body: String => Unit): Unit = {
    val t = s"pz_$name"
    freshTable(t)
    try {
      h.sql(s"CREATE TABLE $t (k INT, v STRING" + (if (partitioned)
        ") PARTITIONED BY (p STRING)" else ", p STRING)") +
        " STORED AS PARQUET")
      h.sql(s"INSERT INTO $t" + (if (partitioned) " PARTITION (p)" else "") +
        rows.map { case (k, v, p) => s"($k, '$v', '$p')" }
          .mkString(" VALUES ", ", ", ""))
      body(t)
    } finally freshTable(t)
  }

  private def kvpRows(t: String): Seq[String] =
    rowsOf(spark.newSession().table(t).select("k", "v", "p"))

  for (partitioned <- Seq(true, false)) {
    val kind = if (partitioned) "partitioned" else "unpartitioned"

    test(s"MERGE keeps every ON conjunct ($kind): one source row " +
        "updates only the target row meeting the whole ON, and a source " +
        "row meeting it nowhere inserts") {
      kvp(s"on_$partitioned", partitioned, (1, "a", "x"), (1, "b", "y")) {
        t =>
          h.sql(s"MERGE INTO $t t USING (SELECT 1 AS k, 'q' AS v, 'x' AS p) " +
            "s ON t.k = s.k AND t.p = s.p WHEN MATCHED THEN UPDATE SET v = s.v")
          assert(kvpRows(t) === Seq("[1,b,y]", "[1,q,x]"))
          h.sql(s"MERGE INTO $t t USING (SELECT 1 AS k, 'n' AS v, 'z' AS p) " +
            "s ON t.k = s.k AND t.p = s.p WHEN MATCHED THEN UPDATE SET " +
            "v = s.v WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.v, s.p)")
          assert(kvpRows(t) === Seq("[1,b,y]", "[1,n,z]", "[1,q,x]"))
      }
    }

    test(s"MERGE keeps string literals that look like its aliases " +
        s"($kind)") {
      kvp(s"lit_$partitioned", partitioned, (1, "a", "x")) { t =>
        h.sql(s"MERGE INTO $t a USING (SELECT 1 AS k) s ON a.k = s.k " +
          "WHEN MATCHED THEN UPDATE SET v = 'a.b and s.c'")
        assert(kvpRows(t) === Seq("[1,a.b and s.c,x]"))
      }
    }

    test(s"MERGE counts source matches under the whole ON ($kind): two " +
        "source rows share the target key, one meets the full ON") {
      kvp(s"card_$partitioned", partitioned, (1, "a", "x")) { t =>
        h.sql(s"MERGE INTO $t t USING (SELECT 1 AS k, 'q' AS v, 'x' AS p " +
          "UNION ALL SELECT 1, 'r', 'y') s ON t.k = s.k AND t.p = s.p " +
          "WHEN MATCHED THEN UPDATE SET v = s.v")
        assert(kvpRows(t) === Seq("[1,q,x]"))
      }
    }
  }

  test("row-level DML outside Hive's surface throws a named error and " +
      "changes nothing") {
    kvp("outside", true, (1, "a", "x")) { t =>
      val head = s"MERGE INTO $t t USING (SELECT 1 AS k, 'q' AS v, " +
        "'y' AS p) s ON t.k = s.k "
      for ((stmt, form) <- Seq(
          head + "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT " +
            "MATCHED BY SOURCE THEN DELETE" -> "WHEN NOT MATCHED BY SOURCE",
          head + "WHEN MATCHED THEN UPDATE SET *" -> "UPDATE SET *",
          head + "WHEN NOT MATCHED THEN INSERT *" -> "INSERT *",
          s"UPDATE $t SET v = 'q' WHERE (k = 1" -> "does not parse",
          s"DELETE FROM $t WHERE k =" -> "does not parse",
          // Spark's grammar reads WHERE here as a table alias
          s"DELETE FROM $t WHERE" -> "is outside Hive's row-level DML")) {
        val e = intercept[IllegalArgumentException](h.sql(stmt))
        assert(e.getMessage.contains(form), stmt)
        assert(kvpRows(t) === Seq("[1,a,x]"), stmt)
      }
    }
  }

  test("IMPORT of a new table creates a partitioned catalog table") {
    val dir = java.nio.file.Files.createTempDirectory("rowrw_dp")
      .toString + "/e"
    val tables = Seq("imp_dp", "imp_dp2", "imp_dp3", "imp_dp4")
    tables.foreach(t => h.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      h.sql("CREATE TABLE imp_dp (k INT) PARTITIONED BY (p STRING) " +
        "STORED AS PARQUET")
      h.sql("INSERT INTO imp_dp PARTITION (p) VALUES (1, 'a'), (2, 'b')")
      h.sql(s"EXPORT TABLE imp_dp TO '$dir'")
      h.sql(s"IMPORT TABLE imp_dp2 FROM '$dir'")
      assert(spark.sessionState.catalog.getTempView("imp_dp2").isEmpty)
      assert(rowsOf(h.sql("SHOW PARTITIONS imp_dp2").get) ===
        Seq("[p=a]", "[p=b]"))
      assert(rowsOf(spark.newSession().table("imp_dp2")) ===
        Seq("[1,a]", "[2,b]"))
      // a dump written without the partition file imports unpartitioned
      new java.io.File(s"$dir/_graft_partitions").delete()
      h.sql(s"IMPORT TABLE imp_dp3 FROM '$dir'")
      assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("imp_dp3"))
        .partitionColumnNames.isEmpty)
      assert(rowsOf(spark.newSession().table("imp_dp3")) ===
        Seq("[1,a]", "[2,b]"))
      assert(!h.meta.tableKind.get("imp_dp3").contains("EXTERNAL_TABLE"))
      // IMPORT EXTERNAL ... LOCATION: an EXTERNAL table holding its
      // rows at that location
      val loc = s"$dir-ext"
      h.sql(s"IMPORT EXTERNAL TABLE imp_dp4 FROM '$dir' LOCATION '$loc'")
      val ext = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("imp_dp4"))
      assert(ext.tableType ===
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL)
      assert(ext.location.getPath === loc)
      assert(h.meta.tableKind("imp_dp4") === "EXTERNAL_TABLE")
      assert(rowsOf(spark.read.parquet(loc)) === Seq("[1,a]", "[2,b]"))
    } finally tables.foreach(t => h.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("UPDATE, a CHANGE rename and DELETE rewrite a table partitioned " +
      "by CHAR and VARCHAR and leave no staging directory") {
    freshTable("pr_ch")
    def rows = rowsOf(spark.newSession().table("pr_ch"))
    try {
      h.sql("CREATE TABLE pr_ch (k INT, c CHAR(5)) PARTITIONED BY " +
        "(p CHAR(3), q VARCHAR(4)) STORED AS PARQUET")
      h.sql("INSERT INTO pr_ch PARTITION (p, q) VALUES (1, 'a', 'x', 'v'), " +
        "(2, 'b', 'y', 'w')")
      h.sql("UPDATE pr_ch SET c = 'q' WHERE k = 1")
      assert(rows === Seq("[1,q    ,x  ,v]", "[2,b    ,y  ,w]"))
      h.sql("ALTER TABLE pr_ch CHANGE c d CHAR(5)")
      assert(spark.newSession().table("pr_ch").columns.toSeq ===
        Seq("k", "d", "p", "q"))
      assert(rows === Seq("[1,q    ,x  ,v]", "[2,b    ,y  ,w]"))
      // emptying a partition removes its directories, named by the
      // padded CHAR value
      h.sql("DELETE FROM pr_ch WHERE k = 2")
      assert(rows === Seq("[1,q    ,x  ,v]"))
      assert(new java.io.File("spark-warehouse/pr_ch").list()
        .filter(_.startsWith("p=")).toSeq === Seq("p=x  "))
      assert(rowsOf(h.sql("SHOW PARTITIONS pr_ch").get) ===
        Seq("[p=x  /q=v]", "[p=y  /q=w]"))
      assert(!new java.io.File("spark-warehouse/pr_ch__cow_tmp").exists())
    } finally freshTable("pr_ch")
  }
}
