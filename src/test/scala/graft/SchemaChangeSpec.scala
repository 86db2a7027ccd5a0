package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}

/** Schema changes (ALTER TABLE ADD, CHANGE and REPLACE COLUMNS) run
  * differentially: once on a partitioned catalog table, once on a
  * session temp view holding the same rows with the same partition
  * column. Both must end with the same columns and rows, and the
  * catalog table's change must live in the catalog and its files —
  * visible from a fresh session, never shadowed by a temp view, and
  * still taking a later INSERT and UPDATE.
  */
class SchemaChangeSpec extends SparkSpec {

  private lazy val h = new HiveStatements(spark)

  private val schema = StructType(Seq(StructField("k", IntegerType),
    StructField("n", IntegerType), StructField("v", StringType),
    StructField("p", StringType)))
  private val seed = Seq((1, 10, "x", "a"), (2, 20, "y", "a"),
    (3, 30, "z", "b"))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("[", ",", "]")).sorted.toSeq

  private def typesOf(df: DataFrame): Seq[String] =
    df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .toSeq

  /** Every file under the catalog table's location, with its
    * modification time. */
  private def files(table: String): Seq[String] = {
    def walk(f: java.io.File): Seq[String] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(s"${f.getPath}@${f.lastModified}")
    walk(new java.io.File(spark.sessionState.catalog.getTableMetadata(
      TableIdentifier(table)).location)).sorted
  }

  /** A catalog table `c_<name>` (PARTITIONED BY p, with the storage
    * clause `storage`) and a session temp view `s_<name>` with the same
    * rows, whose partition column the metadata layer knows. */
  private def pair(name: String, storage: String): (String, String) = {
    val (c, s) = (s"c_sch_$name", s"s_sch_$name")
    h.sql(s"DROP TABLE IF EXISTS $c")
    h.sql(s"CREATE TABLE $c (k INT, n INT, v STRING) " +
      s"PARTITIONED BY (p STRING) $storage")
    h.sql(s"INSERT INTO $c PARTITION (p) VALUES " +
      seed.map { case (k, n, v, p) => s"($k, $n, '$v', '$p')" }
        .mkString(", "))
    spark.createDataFrame(java.util.Arrays.asList(seed.map {
      case (k, n, v, p) => org.apache.spark.sql.Row(k, n, v, p) }: _*),
      schema).createOrReplaceTempView(s)
    h.meta.tablePartCols(s) = Seq("p")
    (c, s)
  }

  /** No temp view is named after the catalog table, a fresh session
    * reads it with columns `cols`, and it holds the session table's
    * columns, types and rows. */
  private def same(c: String, s: String, cols: String): Unit = {
    assert(spark.sessionState.catalog.getTempView(c).isEmpty,
      s"a temp view shadows catalog table $c")
    val fresh = spark.newSession().table(c)
    assert(fresh.columns.mkString(",") === cols)
    assert(typesOf(fresh) === typesOf(spark.table(s)))
    assert(rowsOf(fresh) === rowsOf(spark.table(s)))
  }

  /** Runs `alter` on both tables, then a width-matched INSERT of `row`
    * into a new partition and `update`; the statements are templates
    * over the table name. `metadataOnly`: the ALTER leaves every file
    * of the catalog table as it was. */
  private def differential(name: String, alter: String, cols: String,
      row: String, update: String, storage: String = "STORED AS PARQUET",
      metadataOnly: Boolean = false): Unit = {
    val (c, s) = pair(name, storage)
    try {
      val before = files(c)
      h.sql(alter.format(c))
      if (metadataOnly) assert(files(c) === before)
      h.sql(alter.format(s))
      same(c, s, cols)
      Seq(c, s).foreach { t =>
        h.sql(s"INSERT INTO $t PARTITION (p='d') VALUES $row")
        h.sql(update.format(t))
      }
      same(c, s, cols)
    } finally {
      spark.catalog.dropTempView(c)
      spark.catalog.dropTempView(s)
      h.meta.tablePartCols.remove(s)
      h.sql(s"DROP TABLE IF EXISTS $c")
    }
  }

  test("ADD COLUMNS on a catalog table changes only its metadata, " +
      "before the partition column") {
    differential("add", "ALTER TABLE %s ADD COLUMNS (w INT)", "k,n,v,w,p",
      "(9, 90, 'w', 5)", "UPDATE %s SET w = 7 WHERE k = 1",
      metadataOnly = true)
  }

  test("CHANGE rename on a catalog table keeps the values") {
    differential("ren", "ALTER TABLE %s CHANGE v s STRING", "k,n,s,p",
      "(9, 90, 'w')", "UPDATE %s SET s = 'u' WHERE k = 1")
  }

  test("CHANGE retype INT to STRING on a catalog table stays readable") {
    differential("typ", "ALTER TABLE %s CHANGE n n STRING", "k,n,v,p",
      "(9, 'ninety', 'w')", "UPDATE %s SET n = 'seven' WHERE k = 1")
  }

  test("CHANGE ... AFTER on a catalog table changes only its metadata") {
    differential("aft", "ALTER TABLE %s CHANGE k k INT AFTER v",
      "n,v,k,p", "(90, 'w', 9)", "UPDATE %s SET k = 7 WHERE n = 10",
      metadataOnly = true)
  }

  test("REPLACE COLUMNS dropping a column on a catalog table") {
    differential("drp", "ALTER TABLE %s REPLACE COLUMNS (k INT, n INT)",
      "k,n,p", "(9, 90)", "UPDATE %s SET n = 7 WHERE k = 1")
  }

  test("REPLACE COLUMNS renaming, retyping and dropping on an ORC " +
      "catalog table rewrites it as ORC") {
    differential("orc", "ALTER TABLE %s REPLACE COLUMNS (k INT, m STRING)",
      "k,m,p", "(9, 'ninety')", "UPDATE %s SET m = 'u' WHERE k = 1",
      storage = "STORED AS ORC")
  }

  test("REPLACE COLUMNS reordering a catalog table's columns maps them " +
      "by position, as on a session table") {
    differential("ord",
      "ALTER TABLE %s REPLACE COLUMNS (n INT, k INT, v STRING)", "n,k,v,p",
      "(90, 9, 'w')", "UPDATE %s SET v = 'u' WHERE k = 10")
  }

  test("a csv catalog table takes ADD, a same-place rename and a " +
      "trailing drop as metadata, and refuses a move") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sch_csv")
    val (c, s) = pair("csv", "ROW FORMAT DELIMITED FIELDS TERMINATED " +
      s"BY ',' STORED AS TEXTFILE LOCATION '$dir/c'")
    try {
      assert(spark.sessionState.catalog.getTableMetadata(
        TableIdentifier(c)).provider === Some("csv"))
      val before = files(c)
      Seq("ALTER TABLE %s ADD COLUMNS (w INT)",
        "ALTER TABLE %s CHANGE v s STRING").foreach { alter =>
        h.sql(alter.format(c))
        h.sql(alter.format(s))
      }
      assert(files(c) === before)
      same(c, s, "k,n,s,w,p")
      Seq(c, s).foreach(t =>
        h.sql(s"ALTER TABLE $t REPLACE COLUMNS (k INT, n INT)"))
      assert(files(c) === before)
      same(c, s, "k,n,p")
      val err = intercept[IllegalArgumentException](
        h.sql(s"ALTER TABLE $c CHANGE k k INT AFTER n"))
      assert(err.getMessage.contains("csv"))
      same(c, s, "k,n,p")
    } finally {
      spark.catalog.dropTempView(s)
      h.meta.tablePartCols.remove(s)
      h.sql(s"DROP TABLE IF EXISTS $c")
    }
  }

  test("a restart through the metastore ledger reads the altered " +
      "schema") {
    val base = java.nio.file.Files.createTempDirectory("graft_sch")
    spark.conf.set("spark.graft.metastore.path", s"$base/metastore.ledger")
    try {
      val h1 = new HiveStatements(spark)
      spark.sql("DROP TABLE IF EXISTS sch_rs")
      // EXTERNAL: dropping the catalog entry below simulates a
      // restart (files survive; a managed drop would delete them)
      h1.sql("CREATE EXTERNAL TABLE sch_rs (k INT, v STRING) " +
        s"PARTITIONED BY (p STRING) STORED AS PARQUET " +
        s"LOCATION '$base/sch_rs'")
      h1.sql("INSERT INTO sch_rs PARTITION (p='a') VALUES (1, 'x')")
      h1.sql("ALTER TABLE sch_rs ADD COLUMNS (w INT)")
      h1.sql("ALTER TABLE sch_rs CHANGE v s STRING")
      h1.sql("INSERT INTO sch_rs PARTITION (p='b') VALUES (2, 'y', 5)")
      spark.sessionState.catalog.dropTable(TableIdentifier("sch_rs"),
        ignoreIfNotExists = false, purge = false)
      val got = new HiveStatements(spark).sql("SELECT * FROM sch_rs").get
      assert(got.columns.mkString(",") === "k,s,w,p")
      assert(rowsOf(got) === Seq("[1,x,null,a]", "[2,y,5,b]"))
      spark.sql("DROP TABLE IF EXISTS sch_rs")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }
}
