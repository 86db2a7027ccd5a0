package graft.meta

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.HiveStatements.{parsePartSpec, splitTop}
import MetaRender._

/** Hive's table/partition metadata layer, re-expressed as a
  * per-session state machine over the DDL statement stream: storage
  * descriptors (serde/input/output triple, bucketing, skew, table
  * kind — metastore `StorageDescriptor`), user table properties,
  * column comments, partition columns, and the full partition
  * lifecycle (ADD PARTITION registry, creation-time descriptor
  * snapshots, per-partition written schemas).
  *
  * Feeds the Hive-exact DESCRIBE/SHOW rendering
  * (ref ql/exec/DDLTask.java DESCRIBE/SHOW handling;
  * ql/metadata/formatting/MetaDataFormatUtils.getTableInformation /
  * getStorageDescriptorInfo; metastore semantics: a partition fixes
  * its descriptor at creation, later table-level ALTERs don't touch
  * it).
  *
  * Owned by [[graft.HiveStatements]] (which observes every statement
  * it executes) and by the golden-replay harness (which drives the
  * same machine from its replay loop and layers qtest-fixture
  * knowledge on the overridable hooks).
  */
class HiveMetaStore(val spark: SparkSession,
    val currentDb: () => String) {

  /** Is `db` a session-known database? Wired by the owning dialect
    * (identifies always-mangle `db__name` physical bindings). */
  def knownDb(db: String): Boolean = false

  // -----------------------------------------------------------------
  // knobs (HiveConf-equivalent session settings)
  // -----------------------------------------------------------------

  /** hive.default.rcfile.serde (HiveConf default
    * LazyBinaryColumnarSerDe; the qtest harness overrides to
    * ColumnarSerDe per data/conf/hive-site.xml:207). */
  var rcfileSerde =
    "org.apache.hadoop.hive.serde2.columnar.LazyBinaryColumnarSerDe"
  /** hive.default.fileformat (CREATE without STORED AS). */
  var defaultFileFormat = "textfile"
  /** hive.default.fileformat.managed — MANAGED tables use it when not
    * "none" (HiveConf HIVE_DEFAULT_MANAGED_FILEFORMAT). */
  var defaultManagedFormat = "none"
  /** hive.decode.partition.name: SHOW PARTITIONS prints decoded
    * (unescaped) names when true. */
  var decodePartName = false
  /** hive.display.partition.cols.separately=false drops the
    * "# Partition Information" block (desc_tbl_part_cols.q). */
  var displayPartColsSep = true

  // -----------------------------------------------------------------
  // state
  // -----------------------------------------------------------------

  /** lc → (serde, inputFormat, outputFormat). */
  val tableStorage =
    scala.collection.mutable.Map[String, (String, String, String)]()
  /** lc → (bucketCols, sortCols(name, order 1=asc/0=desc), n). */
  val bucketMeta = scala.collection.mutable
    .Map[String, (Seq[String], Seq[(String, Int)], Int)]()
  /** lc → (skewCols, skewValues, storedAsDirectories). */
  val tableSkew = scala.collection.mutable
    .Map[String, (Seq[String], Seq[Seq[String]], Boolean)]()
  /** lc → MANAGED_TABLE / EXTERNAL_TABLE / VIRTUAL_VIEW /
    * MATERIALIZED_VIEW / INDEX_TABLE. */
  val tableKind = scala.collection.mutable.Map[String, String]()
  /** (lc, partition key values) → descriptor snapshot at creation. */
  val partStorage = scala.collection.mutable
    .Map[(String, Seq[String]), (String, String, String)]()
  val partBucketMeta = scala.collection.mutable
    .Map[(String, Seq[String]), (Seq[String], Seq[(String, Int)], Int)]()
  /** Declared partition columns (metadata, not data — ADD/REPLACE
    * COLUMNS leave them untouched and last). */
  val tablePartCols =
    scala.collection.mutable.Map[String, Seq[String]]()
  /** lc → (lc column name → COMMENT text). */
  val colComments =
    scala.collection.mutable.Map[String, Map[String, String]]()
  /** User-set table properties (CREATE ... TBLPROPERTIES / ALTER SET
    * TBLPROPERTIES / UNSET), insertion-ordered. */
  val tableProps = scala.collection.mutable
    .Map[String, scala.collection.mutable.LinkedHashMap[String, String]]()
  /** db that created the current binding of each property map. */
  val tablePropsOwner =
    scala.collection.mutable.Map[String, String]()
  /** db that created each table name (namespace ownership). */
  val dbOwner = scala.collection.mutable.Map[String, String]()
  /** Partition specs registered by plain ALTER TABLE ADD PARTITION
    * (metadata only — zero data rows). */
  val addedParts = scala.collection.mutable.Map[String,
    scala.collection.mutable.LinkedHashSet[Seq[(String, String)]]]()
  /** DATA schema each partition was last WRITTEN with (ALTER ...
    * CASCADE rewrites these; plain RESTRICT leaves them — partitions
    * then read through their own schema and CONVERT, like Hive's
    * partition-OI converters). Doubles as the partition registry. */
  val partSchemas = scala.collection.mutable
    .Map[String, scala.collection.mutable.Map[Seq[String], StructType]]()
  /** lc → serde properties (ROW FORMAT DELIMITED delimiters + WITH/SET
    * SERDEPROPERTIES), stored unescaped; rendered key-sorted
    * (metastore SerDeInfo parameters). */
  val serdeProps = scala.collection.mutable
    .Map[String, scala.collection.mutable.LinkedHashMap[String, String]]()
  /** lc → table-level COMMENT clause text. */
  val tableComment = scala.collection.mutable.Map[String, String]()
  /** lc → STORED BY storage-handler class (metastore
    * META_TABLE_STORAGE parameter's clause form). */
  val storedBy = scala.collection.mutable.Map[String, String]()
  /** CREATE TEMPORARY TABLE names (no transient_lastDdlTime, not in
    * the metastore). */
  val tempTables = scala.collection.mutable.Set[String]()
  /** lc → CREATE VIEW select text (original, pre-expansion). */
  val viewText = scala.collection.mutable.Map[String, String]()

  /** lc → the view's explicit column list names (CREATE VIEW v (a, b)
    * ...): Hive's expanded text wraps the defining query to alias
    * them (SemanticAnalyzer createView column renaming). */
  val viewColList = scala.collection.mutable.Map[String, Seq[String]]()
  /** db → (comment, dbproperties) from CREATE DATABASE. */
  val dbMeta = scala.collection.mutable
    .Map[String, (String, Seq[(String, String)])]()

  /** db → (owner, USER|ROLE) from ALTER DATABASE SET OWNER; absent =
    * the session user (metastore Database owner fields). */
  val dbOwners = scala.collection.mutable
    .Map[String, (String, String)]()

  /** base-table lc → (index name → (cols, idx_type, comment)) in
    * creation order (CREATE INDEX; Hive 2.x index DDL surface). */
  val indexes = scala.collection.mutable.Map[String,
    scala.collection.mutable.LinkedHashMap[String,
      (Seq[String], String, String)]]()

  /** Explicit-lock ledger: (`db@table[@partname]`, SHARED|EXCLUSIVE,
    * the LOCK statement's own text) — the legacy lock-manager display
    * surface (LOCK/UNLOCK TABLE, SHOW LOCKS; DDLTask.showLocks over
    * ZooKeeperHiveLockManager). Re-locking a held key ADDS another
    * lock (lock1.q records two coexisting SHARED locks); UNLOCK
    * releases every lock on the exact key. */
  val locks =
    scala.collection.mutable.ListBuffer[(String, String, String)]()

  /** `PARTITION (ds='2008-04-08', hr='11')` body → the lock-name
    * suffix `ds=2008-04-08/hr=11`. */
  def lockPartName(body: String): String =
    splitTop(body, ',').map { kv =>
      val p = kv.split("=", 2).map(_.trim)
      p(0).replace("`", "").toLowerCase + "=" +
        p.lift(1).getOrElse("").stripPrefix("'").stripSuffix("'")
          .stripPrefix("\"").stripSuffix("\"")
    }.mkString("/")

  /** LOCK/UNLOCK TABLE statements against the ledger. `db`: the
    * session's current database. True when handled. */
  def recordLockDdl(q: String, db: String): Boolean = {
    val lockRe = ("(?is)^lock\\s+table\\s+`?([\\w.]+)`?\\s*" +
      "(?:partition\\s*\\(([^)]*)\\)\\s*)?(shared|exclusive)\\s*$").r
    lockRe.findFirstMatchIn(q).foreach { m =>
      val t = m.group(1).split('.').last.toLowerCase
      val key = s"$db@$t" +
        Option(m.group(2)).map(b => "@" + lockPartName(b)).getOrElse("")
      locks += ((key, m.group(3).toUpperCase, q.trim.stripSuffix(";")))
      return true
    }
    val unlockRe = ("(?is)^unlock\\s+table\\s+`?([\\w.]+)`?\\s*" +
      "(?:partition\\s*\\(([^)]*)\\))?\\s*$").r
    unlockRe.findFirstMatchIn(q).foreach { m =>
      val t = m.group(1).split('.').last.toLowerCase
      val key = s"$db@$t" +
        Option(m.group(2)).map(b => "@" + lockPartName(b)).getOrElse("")
      // a table unlock releases ONLY the table-level locks — explicit
      // partition locks stand (lock2.q)
      locks.filterInPlace(_._1 != key)
      return true
    }
    false
  }

  /** SHOW LOCKS [t [PARTITION (...)]] [EXTENDED] lines. The filter
    * is the EXACT lock object — `SHOW LOCKS t` does not list t's
    * partition locks (lock2.q). */
  def showLocksLines(table: Option[String], partBody: Option[String],
      db: String, extended: Boolean): Seq[String] = {
    val filter: String => Boolean = table match {
      case None => _ => true
      case Some(t0) =>
        val t = t0.split('.').last.toLowerCase
        val key = s"$db@$t" +
          partBody.map(b => "@" + lockPartName(b)).getOrElse("")
        k => k == key
    }
    locks.toSeq.sortBy(_._1).filter(l => filter(l._1)).flatMap {
      case (k, mode, stmt) =>
        Seq(s"$k\t$mode") ++
          (if (extended)
            Seq("LOCK_MODE:EXPLICIT\t ", s"LOCK_QUERYSTRING:$stmt\t ")
          else Nil)
    }
  }

  /** Requested compactions: (db, table, partName or " --- ", TYPE) —
    * ALTER TABLE ... COMPACT under the transactional manager; the
    * request stays `initiated` (no worker in this engine — Spark
    * rewrites handle compaction; SHOW COMPACTIONS reports it). */
  val compactions =
    scala.collection.mutable.ListBuffer[(String, String, String, String)]()

  def recordCompact(q: String, db: String): Boolean =
    ("(?is)^alter\\s+table\\s+`?([\\w.]+)`?\\s*" +
      "(?:partition\\s*\\(([^)]*)\\)\\s*)?compact\\s+" +
      "['\"](minor|major)['\"]\\s*$").r.findFirstMatchIn(q).exists { m =>
      compactions += ((db, m.group(1).split('.').last.toLowerCase,
        Option(m.group(2)).map(lockPartName).getOrElse(" --- "),
        m.group(3).toUpperCase))
      true
    }

  /** The DbTxnManager display surface (no open transactions or
    * blocked locks between statements in this engine): SHOW LOCKS /
    * TRANSACTIONS print their header; SHOW COMPACTIONS lists the
    * requested compactions as initiated. */
  val txnLocksHeader: String = Seq("Lock ID", "Database", "Table",
    "Partition", "State", "Blocked By", "Type", "Transaction ID",
    "Last Heartbeat", "Acquired At", "User", "Hostname", "Agent Info")
    .mkString("\t")
  val txnTransactionsHeader: String = Seq("Transaction ID",
    "Transaction State", "Started Time", "Last Heartbeat Time",
    "User", "Hostname").mkString("\t")

  def showCompactionsLines(): Seq[String] =
    Seq("Database", "Table", "Partition", "Type", "State", "Worker",
      "Start Time", "Duration(ms)", "HadoopJobId").mkString("\t") +:
      compactions.toSeq.map { case (db, t, p, tp) =>
        Seq(db, t, p, tp, "initiated", " --- ", " --- ", " --- ",
          " --- ").mkString("\t")
      }

  /** (lc, col) → column statistics — ANALYZE ... FOR COLUMNS results
    * and ALTER ... UPDATE STATISTICS overrides. Keys are Hive's stat
    * names: min, max, numNulls, numDVs, avgColLen, maxColLen,
    * numTrues, numFalses. */
  val colStats = scala.collection.mutable
    .Map[(String, String), scala.collection.mutable.Map[String, String]]()

  /** ALTER TABLE t UPDATE STATISTICS FOR COLUMN c SET (...): merge
    * the given stats (lowValue/highValue are the min/max aliases the
    * statement grammar uses). The TABLE-LEVEL form (no FOR COLUMN)
    * sets basic-stat table parameters (numRows/rawDataSize/...),
    * matching DDLSemanticAnalyzer's metadata-only semantics — the
    * values land in tableProps and render in DESCRIBE FORMATTED's
    * Table Parameters. True when either form matched. */
  def recordUpdateStatistics(q: String): Boolean = {
    val colForm = ("(?is)^alter\\s+table\\s+`?([\\w.]+)`?\\s+" +
      "update\\s+statistics\\s+for\\s+column\\s+`?(\\w+)`?\\s+set\\s*").r
      .findFirstMatchIn(q).exists { m =>
        val key = (resolveLc(m.group(1)), m.group(2).toLowerCase)
        val st = colStats.getOrElseUpdate(key,
          scala.collection.mutable.Map.empty)
        balancedAfter(q, m.end).foreach(body =>
          "['\"]([^'\"]+)['\"]\\s*=\\s*['\"]([^'\"]*)['\"]".r
            .findAllMatchIn(body).foreach { kv =>
              val k = kv.group(1) match {
                case "lowValue" => "min"
                case "highValue" => "max"
                case other => other
              }
              st(k) = kv.group(2)
            })
        true
      }
    colForm || ("(?is)^alter\\s+table\\s+`?([\\w.]+)`?" +
      "(?:\\s+partition\\s*\\([^)]*\\))?\\s+" +
      "update\\s+statistics\\s+set\\s*").r
      .findFirstMatchIn(q).exists { m =>
        val lc = resolveLc(m.group(1))
        val props = tableProps.getOrElseUpdate(lc,
          scala.collection.mutable.LinkedHashMap.empty)
        balancedAfter(q, m.end).foreach(body =>
          "['\"]([^'\"]+)['\"]\\s*=\\s*['\"]([^'\"]*)['\"]".r
            .findAllMatchIn(body).foreach(kv =>
              props(kv.group(1)) = kv.group(2)))
        true
      }
  }

  /** DESCRIBE FORMATTED t c — the column-statistics table
    * (MetaDataFormatUtils.getAllColumns stats shape): header +
    * separator + one %-20s-padded row; None when no stats were ever
    * computed/set for the column. */
  def describeColumnStatsLines(lc: String, col: String,
      dtype: String): Option[Seq[String]] = {
    val st0 = colStats.getOrElse((lc, col.toLowerCase), return None)
    // a column retyped since ANALYZE has INVALID statistics — the
    // row renders with empty cells (metastore invalidation)
    val st =
      if (st0.get("__dtype").exists(_ != dtype))
        scala.collection.mutable.Map.empty[String, String]
      else st0
    val header = ("# " + pad("col_name")) +: Seq("data_type", "min",
      "max", "num_nulls", "distinct_count", "avg_col_len",
      "max_col_len", "num_trues", "num_falses", "comment").map(pad)
    val longTyped = Set("tinyint", "smallint", "int", "bigint",
      "timestamp").contains(dtype)
    val dblTyped = dtype == "float" || dtype == "double"
    // the metastore stores numeric bounds TYPED: an UPDATE
    // STATISTICS text value renders back through the type ('8.00' →
    // 8.0), and unset long/double bounds default to zero
    // (LongColumnStatsData/DoubleColumnStatsData defaults —
    // colstats_all_nulls records min 0 max 0)
    def bound(k: String): String = st.get(k) match {
      case Some(v) if dblTyped =>
        v.toDoubleOption.map(_.toString).getOrElse(v)
      case Some(v) if longTyped =>
        // exact long first: bigint bounds above 2^53 must not round
        // through Double; decimal-formatted UPDATE STATISTICS
        // overrides ('8.00') still fall back to the Double path
        v.toLongOption.map(_.toString)
          .orElse(v.toDoubleOption.map(_.toLong.toString)).getOrElse(v)
      case Some(v) if dtype == "date" =>
        // date bounds store epoch DAYS; the display is the date
        v.toLongOption
          .map(d => java.time.LocalDate.ofEpochDay(d).toString)
          .getOrElse(v)
      case Some(v) => v
      case None if st.isEmpty => "" // invalidated: all cells blank
      case None if longTyped => "0"
      case None if dblTyped => "0.0"
      case None => ""
    }
    def cell(k: String): String = st.getOrElse(k, "")
    // avgColLen is stored double, maxColLen long — text overrides
    // render back through the type ('4.40' → 4.4)
    def dbl(k: String): String = st.get(k)
      .map(v => v.toDoubleOption.map(_.toString).getOrElse(v))
      .getOrElse("")
    def lng(k: String): String = st.get(k)
      .map(v => v.toLongOption.map(_.toString)
        .orElse(v.toDoubleOption.map(_.toLong.toString)).getOrElse(v))
      .getOrElse("")
    // the column cell echoes the statement's own spelling
    // (columnstats_tbllvl records `destURL` as requested)
    val row = Seq(col, dtype, bound("min"), bound("max"),
      lng("numNulls"), lng("numDVs"), dbl("avgColLen"),
      lng("maxColLen"), lng("numTrues"), lng("numFalses"),
      "from deserializer")
    Some(Seq(
      header.mkString("\t"),
      "\t \t \t \t \t \t \t \t \t \t ",
      row.map(pad).mkString("\t")))
  }

  /** Hive's thrift DDL type names (MetaStoreUtils.typeToThriftType —
    * the `columns:struct columns { i32 a, ...}` rendering). */
  def thriftTypeName(dt: DataType): String = dt match {
    case IntegerType => "i32"
    case LongType => "i64"
    case ShortType => "i16"
    case ByteType => "byte"
    case BooleanType => "bool"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case ArrayType(e, _) => s"list<${thriftTypeName(e)}>"
    case MapType(k, v, _) =>
      s"map<${thriftTypeName(k)},${thriftTypeName(v)}>"
    case s: StructType => s.fields
      .map(f => s"${thriftTypeName(f.dataType)} ${f.name.toLowerCase}")
      .mkString("struct { ", ", ", "}")
    case other => hiveTypeName(other)
  }

  /** SHOW TABLE EXTENDED section lines (DDLTask.showTableStatus →
    * MetaDataFormatUtils.getTableInformation text shape); the
    * owner/location/timestamp lines the recorder masks are omitted.
    * `fileSizes`: byte sizes of the table's (or the one queried
    * partition's) data files. */
  def showTableExtendedLines(display: String, dataFields: Seq[StructField],
      partFields: Seq[StructField], inputFormat: String,
      outputFormat: String, fileSizes: Seq[Long]): Seq[String] = {
    def cols(fs: Seq[StructField], label: String): String =
      if (fs.isEmpty) ""
      else fs.map(f =>
        s"${thriftTypeName(f.dataType)} ${f.name.toLowerCase}")
        .mkString(s"struct $label { ", ", ", "}")
    Seq(
      s"tableName:$display",
      s"inputformat:$inputFormat",
      s"outputformat:$outputFormat",
      "columns:" + cols(dataFields, "columns"),
      s"partitioned:${partFields.nonEmpty}",
      "partitionColumns:" + cols(partFields, "partition_columns")) ++
      // a table with NO data files prints no file statistics
      // (repl_1_drop records stat-less sections after partition drops)
      (if (fileSizes.isEmpty) Nil
       else Seq(
         s"totalNumberFiles:${fileSizes.size}",
         s"totalFileSize:${fileSizes.sum}",
         s"maxFileSize:${fileSizes.max}",
         s"minFileSize:${fileSizes.min}")) ++
      Seq("")
  }

  /** AS 'handler' → the rendered idx_type (HiveIndex.IndexType:
    * shorthand or handler class both print the short name). */
  def indexTypeName(handler: String): String =
    handler.toLowerCase match {
      case "compact" => "compact"
      case "bitmap" => "bitmap"
      case h if h.endsWith("compactindexhandler") => "compact"
      case h if h.endsWith("bitmapindexhandler") => "bitmap"
      case h => h
    }

  def recordIndex(tableLc: String, idx: String, cols: Seq[String],
      handler: String, comment: String): Unit =
    indexes.getOrElseUpdate(tableLc,
      scala.collection.mutable.LinkedHashMap.empty)(idx.toLowerCase) =
      (cols.map(_.toLowerCase), indexTypeName(handler),
        unescapeSql(comment))

  def dropIndex(tableLc: String, idx: String): Unit = {
    indexes.get(tableLc).foreach(_.remove(idx.toLowerCase))
    if (indexes.get(tableLc).exists(_.isEmpty)) indexes.remove(tableLc)
  }

  /** SHOW [FORMATTED] INDEX[ES] ON t lines — %-20s cells; FORMATTED
    * prepends the column header + two separator lines
    * (MetaDataFormatUtils.getIndexColumnsHeader). The index table
    * names `<db>__<table>_<index>__` (HiveIndex.getIndexTableName). */
  def showIndexLines(tableLc: String, tableDisplay: String, db: String,
      formatted: Boolean): Seq[String] = {
    val sep6 = "\t \t \t \t \t "
    val hdr =
      if (!formatted) Nil
      else Seq(Seq("idx_name", "tab_name", "col_names", "idx_tab_name",
        "idx_type", "comment").map(pad).mkString("\t"), sep6, sep6)
    hdr ++ indexes.getOrElse(tableLc,
      scala.collection.mutable.LinkedHashMap
        .empty[String, (Seq[String], String, String)])
      .toSeq.flatMap { case (n, (cols, tp, cm)) =>
        // an embedded newline in the comment wraps: continuation
        // lines carry empty leading cells (MetaDataFormatUtils)
        val frags = cm.split("\n", -1).toSeq
        val row = Seq(pad(n), pad(tableDisplay),
          pad(cols.mkString(", ")),
          pad(s"${db}__${tableDisplay}_${n}__"), pad(tp),
          if (frags.head.isEmpty) "" else pad(frags.head))
          .mkString("\t")
        row +: frags.tail.map(f => "\t\t\t\t\t" + pad(f))
      }
  }

  /** CREATE/ALTER DATABASE metadata effects: comment + dbproperties
    * at create, SET OWNER, SET DBPROPERTIES merge (DDLTask
    * createDatabase/alterDatabase). */
  def recordDatabaseDdl(q: String): Unit = {
    ("(?is)^create\\s+(?:database|schema)\\s+" +
      "(?:if\\s+not\\s+exists\\s+)?`?(\\w+)`?").r
      .findFirstMatchIn(q).foreach { m =>
        val db = m.group(1).toLowerCase
        val cmt = "(?is)\\bcomment\\s+'((?:[^'\\\\]|\\\\.)*)'".r
          .findFirstMatchIn(q).map(_.group(1)).getOrElse("")
        val props = "(?is)with\\s+dbproperties\\s*".r
          .findFirstMatchIn(q)
          .flatMap(x => balancedAfter(q, x.end)).toSeq
          .flatMap(body =>
            "['\"]([^'\"]+)['\"]\\s*=\\s*['\"]([^'\"]*)['\"]".r
              .findAllMatchIn(body)
              .map(kv => kv.group(1) -> kv.group(2)))
        if (cmt.nonEmpty || props.nonEmpty) dbMeta(db) = (cmt, props)
      }
    ("(?is)^alter\\s+(?:database|schema)\\s+`?(\\w+)`?\\s+" +
      "set\\s+owner\\s+(user|role)\\s+`?(\\w+)`?").r
      .findFirstMatchIn(q).foreach(m =>
        dbOwners(m.group(1).toLowerCase) =
          (m.group(3), m.group(2).toUpperCase))
    ("(?is)^alter\\s+(?:database|schema)\\s+`?(\\w+)`?\\s+" +
      "set\\s+dbproperties\\s*").r.findFirstMatchIn(q).foreach { m =>
        val db = m.group(1).toLowerCase
        val adds = balancedAfter(q, m.end).toSeq.flatMap(body =>
          "['\"]([^'\"]+)['\"]\\s*=\\s*['\"]([^'\"]*)['\"]".r
            .findAllMatchIn(body).map(kv => kv.group(1) -> kv.group(2)))
        val (c, old) = dbMeta.getOrElse(db, ("", Nil))
        dbMeta(db) =
          (c, old.filterNot(o => adds.exists(_._1 == o._1)) ++ adds)
      }
  }
  /** lc → creation epoch seconds (transient_lastDdlTime). */
  val createTime = scala.collection.mutable.Map[String, Long]()

  /** Name resolution hook for metadata maps — bindings with a
    * namespace-mangling scheme override. */
  def resolveLc(t: String): String = t.split('.').last.toLowerCase

  // -----------------------------------------------------------------
  // storage-descriptor construction
  // -----------------------------------------------------------------

  def fmtTriple(kind: String): (String, String, String) = {
    val lazySerde = "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe"
    kind.toLowerCase match {
      case "sequencefile" => (lazySerde,
        "org.apache.hadoop.mapred.SequenceFileInputFormat",
        "org.apache.hadoop.hive.ql.io.HiveSequenceFileOutputFormat")
      case "rcfile" => (rcfileSerde,
        "org.apache.hadoop.hive.ql.io.RCFileInputFormat",
        "org.apache.hadoop.hive.ql.io.RCFileOutputFormat")
      case "orc" | "orcfile" =>
        ("org.apache.hadoop.hive.ql.io.orc.OrcSerde",
          "org.apache.hadoop.hive.ql.io.orc.OrcInputFormat",
          "org.apache.hadoop.hive.ql.io.orc.OrcOutputFormat")
      case "parquet" | "parquetfile" =>
        ("org.apache.hadoop.hive.ql.io.parquet.serde.ParquetHiveSerDe",
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetInputFormat",
          "org.apache.hadoop.hive.ql.io.parquet.MapredParquetOutputFormat")
      case "avro" | "avrofile" =>
        ("org.apache.hadoop.hive.serde2.avro.AvroSerDe",
          "org.apache.hadoop.hive.ql.io.avro.AvroContainerInputFormat",
          "org.apache.hadoop.hive.ql.io.avro.AvroContainerOutputFormat")
      case _ => (lazySerde,
        "org.apache.hadoop.mapred.TextInputFormat",
        "org.apache.hadoop.hive.ql.io.HiveIgnoreKeyTextOutputFormat")
    }
  }

  /** The ALTER/INDEX DDL path maps named formats through IOConstants
    * (IOConstants.java:56): plain Hadoop output classes for
    * text/sequence. */
  def ioFmtTriple(kind: String): (String, String, String) = {
    val t = fmtTriple(kind)
    kind.toLowerCase match {
      case "textfile" => (t._1, t._2,
        "org.apache.hadoop.hive.ql.io.IgnoreKeyTextOutputFormat")
      case "sequencefile" => (t._1, t._2,
        "org.apache.hadoop.mapred.SequenceFileOutputFormat")
      case _ => t
    }
  }

  /** A partition fixes its storage metadata at CREATION (it inherits
    * the table's then-current descriptor; later table-level ALTERs
    * do not touch existing partitions — Hive metastore semantics). */
  def snapshotPartMeta(lc: String, key: Seq[String]): Unit = {
    if (!partStorage.contains((lc, key)))
      partStorage((lc, key)) =
        tableStorage.getOrElse(lc, fmtTriple(defaultFileFormat))
    if (!partBucketMeta.contains((lc, key)))
      partBucketMeta((lc, key)) = bucketMeta.getOrElse(lc, (Nil, Nil, -1))
  }

  /** Balanced-paren body following a keyword match end. Parens inside
    * backticks or single quotes don't count (`!@#$%^&*()_q`). */
  def balancedAfter(q: String, from: Int): Option[String] = {
    var i = from
    while (i < q.length && q(i) != '(') {
      if (!q(i).isWhitespace) return None
      i += 1
    }
    if (i >= q.length) return None
    var depth = 0; val start = i + 1
    var tick = false; var quote = false
    while (i < q.length) {
      q(i) match {
        case '`' if !quote => tick = !tick
        case '\'' if !tick => quote = !quote
        case '(' if !tick && !quote => depth += 1
        case ')' if !tick && !quote =>
          depth -= 1
          if (depth == 0) return Some(q.substring(start, i))
        case _ =>
      }
      i += 1
    }
    None
  }

  def parseBucketClause(lc: String, q: String): Boolean = {
    val cb = "(?is)clustered\\s+by\\s*".r.findFirstMatchIn(q)
      .getOrElse(return false)
    val bcols = balancedAfter(q, cb.end).getOrElse(return false)
      .split(",").map(_.trim.replace("`", "").toLowerCase)
      .filter(_.nonEmpty).toSeq
    val sb = "(?is)sorted\\s+by\\s*".r.findFirstMatchIn(q)
    val scols = sb.flatMap(m => balancedAfter(q, m.end)).map(
      _.split(",").toSeq.map { s0 =>
        val t = s0.trim.replace("`", "").split("\\s+")
        (t(0).toLowerCase,
          if (t.length > 1 && t(1).equalsIgnoreCase("desc")) 0 else 1)
      }.filter(_._1.nonEmpty)).getOrElse(Nil)
    val n = "(?is)into\\s+(\\d+)\\s+buckets".r.findFirstMatchIn(q)
      .map(_.group(1).toInt).getOrElse(-1)
    bucketMeta(lc) = (bcols, scols, n)
    true
  }

  def parseSkewClause(lc: String, q: String): Boolean = {
    val sk = "(?is)skewed\\s+by\\s*".r.findFirstMatchIn(q)
      .getOrElse(return false)
    val cols = balancedAfter(q, sk.end).getOrElse(return false)
      .split(",").map(_.trim.replace("`", "").toLowerCase)
      .filter(_.nonEmpty).toSeq
    val tail0 = q.substring(sk.end)
    val on = "(?is)\\bon\\s*".r.findFirstMatchIn(tail0)
      .getOrElse(return false)
    val body = balancedAfter(tail0, on.end).getOrElse(return false)
    val values: Seq[Seq[String]] =
      if (body.trim.startsWith("("))
        splitTop(body, ',').map(g =>
          g.trim.stripPrefix("(").stripSuffix(")")
            .split(",").map(v => unq(v)).toSeq)
      else body.split(",").map(v => Seq(unq(v))).toSeq
    val dirs = "(?is)stored\\s+as\\s+directories".r
      .findFirstIn(tail0.substring(on.end)).isDefined
    // the formatter renders NAME-sorted columns and element-wise
    // sorted value lists (MetaDataFormatUtils.sortedList)
    import scala.math.Ordering.Implicits._
    tableSkew(lc) = (cols.sorted, values.sorted, dirs)
    true
  }

  private def unq(v: String): String =
    v.trim.stripPrefix("'").stripSuffix("'")
      .stripPrefix("\"").stripSuffix("\"")

  /** Hive's unescapeSQLString for delimiter literals: standard
    * escapes plus octal `\045` (BaseSemanticAnalyzer
    * .unescapeSQLString). */
  def unescapeDelim(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 4 <= v.length &&
          v.substring(i + 1, i + 4).matches("[0-7]{3}")) {
        sb.append(Integer.parseInt(v.substring(i + 1, i + 4), 8).toChar)
        i += 4
      } else if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'n' => sb.append('\n'); case 't' => sb.append('\t')
          case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
          case 'f' => sb.append('\f')
          case o => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** ROW FORMAT DELIMITED sub-clauses and WITH/SET SERDEPROPERTIES →
    * the metastore SerDeInfo parameter map (field.delim,
    * `colelction.delim` — Hive's own typo — mapkey.delim, line.delim,
    * escape.delim, serialization.format/null.format; ref
    * serde/serdeConstants + DDLSemanticAnalyzer analyzeCreateTable
    * rowFormat handling). */
  def recordSerdeClauses(lc: String, q: String): Unit = {
    val sp = serdeProps.getOrElseUpdate(lc,
      scala.collection.mutable.LinkedHashMap.empty)
    def grab(clause: String): Option[String] =
      ("(?is)" + clause + "\\s+'((?:[^'\\\\]|\\\\.)*)'").r
        .findFirstMatchIn(q).map(m => unescapeDelim(m.group(1)))
    grab("fields\\s+terminated\\s+by").foreach { d =>
      sp("field.delim") = d; sp("serialization.format") = d
    }
    grab("escaped\\s+by").foreach(d => sp("escape.delim") = d)
    grab("collection\\s+items\\s+terminated\\s+by")
      .foreach(d => sp("colelction.delim") = d)
    grab("map\\s+keys\\s+terminated\\s+by")
      .foreach(d => sp("mapkey.delim") = d)
    grab("lines\\s+terminated\\s+by").foreach(d => sp("line.delim") = d)
    grab("null\\s+defined\\s+as")
      .foreach(d => sp("serialization.null.format") = d)
    "(?is)(?:with|set)\\s+serdeproperties\\s*".r.findAllMatchIn(q)
      .foreach { m =>
        balancedAfter(q, m.end).foreach { body =>
          ("['\"]([^'\"]+)['\"]\\s*=\\s*'((?:[^'\\\\]|\\\\.)*)'").r
            .findAllMatchIn(body)
            .foreach(kv => sp(kv.group(1)) = unescapeDelim(kv.group(2)))
        }
      }
    if (sp.isEmpty) serdeProps.remove(lc)
  }

  // -----------------------------------------------------------------
  // DDL observation: CREATE
  // -----------------------------------------------------------------

  /** CREATE-time storage metadata (all CREATE TABLE shapes route
    * here; `view` marks CREATE VIEW). */
  def recordStorageMeta(q: String, view: Boolean = false): Unit = {
    val m = ("(?is)create\\s+(?:or\\s+replace\\s+)?(temporary\\s+)?" +
      "(external\\s+)?(?:table|(?:materialized\\s+)?view)\\s+" +
      "(?:if\\s+not\\s+exists\\s+)?`?([\\w.]+)`?").r
      .findFirstMatchIn(q).getOrElse(return)
    val lc = m.group(3).split('.').last.toLowerCase
    // IF NOT EXISTS over an existing table is a NO-OP — keep the
    // original descriptor (ctas: re-create of nzhang_ctas3)
    if (q.toLowerCase.contains("if not exists") &&
        tableStorage.contains(lc)) return
    if (m.group(3).contains("."))
      dbOwner(lc) = m.group(3).split('.').head.toLowerCase
    tableKind(lc) =
      if (view && q.toLowerCase.contains("materialized"))
        "MATERIALIZED_VIEW"
      else if (view) "VIRTUAL_VIEW"
      else if (m.group(2) != null) "EXTERNAL_TABLE"
      else "MANAGED_TABLE"
    bucketMeta.remove(lc); tableSkew.remove(lc)
    partStorage.filterInPlace((k, _) => k._1 != lc)
    partBucketMeta.filterInPlace((k, _) => k._1 != lc)
    // a fresh CREATE starts with no partitions (drop_table2: recreate
    // then SHOW PARTITIONS must be empty)
    addedParts.remove(lc)
    partSchemas.remove(lc)
    serdeProps.remove(lc); tableComment.remove(lc); storedBy.remove(lc)
    viewText.remove(lc)
    createTime(lc) = System.currentTimeMillis() / 1000
    if (m.group(1) != null) tempTables += lc else tempTables -= lc
    if (view) {
      "(?is)\\bas\\s+(select.*)$".r.findFirstMatchIn(q)
        .foreach(x => viewText(lc) = x.group(1).trim.stripSuffix(";"))
      // an explicit view column list (names the expanded text wraps)
      viewColList.remove(lc)
      val afterName = m.end
      val ws = q.substring(afterName).takeWhile(_.isWhitespace).length
      if (afterName + ws < q.length && q.charAt(afterName + ws) == '(')
        graft.HiveStatements.balancedBody(q, afterName + ws)
          .foreach { case (body, _) =>
            viewColList(lc) = splitTop(body, ',')
              .map(_.trim.split("\\s+")(0).replace("`", "").toLowerCase)
              .filter(_.nonEmpty)
          }
    }
    else {
      recordSerdeClauses(lc, q)
      "(?is)stored\\s+by\\s+['\"]([^'\"]+)['\"]".r.findFirstMatchIn(q)
        .foreach(x => storedBy(lc) = x.group(1))
      // table-level COMMENT sits after the column list's close paren
      // (a head-anchored regex would hit COLUMN comments); CTAS
      // carries it right after the name
      val afterName = m.end
      val afterCols =
        if (afterName < q.length &&
            q.substring(afterName).dropWhile(_.isWhitespace)
              .startsWith("("))
          graft.HiveStatements.balancedBody(q,
            afterName + q.substring(afterName).takeWhile(_.isWhitespace)
              .length).map(_._2).getOrElse(afterName)
        else afterName
      ("(?is)^\\s*comment\\s+(?:'((?:[^'\\\\]|\\\\.)*)'|" +
        "\"((?:[^\"\\\\]|\\\\.)*)\")").r
        .findFirstMatchIn(q.substring(afterCols))
        .foreach(x => tableComment(lc) = unescapeSql(
          Option(x.group(1)).getOrElse(x.group(2))))
    }
    if (view && q.toLowerCase.contains("materialized")) {
      // a MATERIALIZED view stores real data — its storage clauses
      // parse like a table's; the default format is ORC
      // (hive.materializedview.fileformat)
      var triple = fmtTriple("orc")
      // named formats resolve through the IOConstants path here
      // (textfile -> IgnoreKeyTextOutputFormat)
      "(?is)stored\\s+as\\s+(\\w+)".r.findAllMatchIn(q)
        .map(_.group(1).toLowerCase)
        .find(k => k != "inputformat" && k != "directories")
        .foreach(k => triple = ioFmtTriple(k))
      "(?is)row\\s+format\\s+serde\\s+['\"]([^'\"]+)['\"]".r
        .findFirstMatchIn(q)
        .foreach(x => triple = (x.group(1), triple._2, triple._3))
      tableStorage(lc) = triple
      if (!lc.contains("__"))
        dbOwner.getOrElseUpdate(lc, currentDb().toLowerCase)
      return
    }
    if (view) {
      // views carry a NULL serde over the current default fileformat's
      // io classes (create_view_defaultformats: a view created under
      // hive.default.fileformat=SequenceFile records those formats)
      val t = fmtTriple(defaultFileFormat)
      tableStorage(lc) = ("null", t._2, t._3)
      if (!lc.contains("__"))
        dbOwner.getOrElseUpdate(lc, currentDb().toLowerCase)
      // PARTITIONED ON (cols): a partitioned VIEW's named columns
      // render in the partition-information block
      "(?is)partitioned\\s+on\\s*\\(([^)]*)\\)".r.findFirstMatchIn(q)
        .foreach(x => tablePartCols(lc) = x.group(1).split(",")
          .map(_.trim.replace("`", "")).filter(_.nonEmpty).toSeq)
      return
    }
    // explicit storage clauses (also present as OVERRIDES on LIKE)
    def storageOverrides(base: (String, String, String))
        : (String, String, String) = {
      var triple = base
      val io = ("(?is)stored\\s+as\\s+inputformat\\s+'([^']+)'\\s+" +
        "outputformat\\s+'([^']+)'").r.findFirstMatchIn(q)
      io match {
        case Some(x) => triple = (triple._1, x.group(1), x.group(2))
        case None =>
          // scan ALL stored-as keywords: `STORED AS DIRECTORIES`
          // (skew) may precede the real `STORED AS RCFILE`
          "(?is)stored\\s+as\\s+(\\w+)".r.findAllMatchIn(q)
            .map(_.group(1).toLowerCase)
            .find(k => k != "inputformat" && k != "directories")
            .foreach(k => triple = fmtTriple(k))
      }
      "(?is)row\\s+format\\s+serde\\s+['\"]([^'\"]+)['\"]".r
        .findFirstMatchIn(q)
        .foreach(x => triple = (x.group(1), triple._2, triple._3))
      triple
    }
    // CREATE LIKE copies the source's storage descriptor, then any
    // explicit clauses override (create_like: `like t5 stored as
    // RCFILE`)
    "(?is)\\blike\\s+`?([\\w.]+)`?".r.findFirstMatchIn(q) match {
      case Some(lm) =>
        val src = lm.group(1).split('.').last.toLowerCase
        // LIKE a VIEW materializes a default-text MANAGED table
        // (create_like_view) — nothing storage-wise copies over
        val base =
          if (tableKind.get(src).contains("VIRTUAL_VIEW"))
            fmtTriple("textfile")
          else tableStorage.getOrElse(src, fmtTriple(defaultFileFormat))
        tableStorage(lc) = storageOverrides(base)
        if (!tableKind.get(src).contains("VIRTUAL_VIEW")) {
          bucketMeta.get(src).foreach(bucketMeta(lc) = _)
          tableSkew.get(src).foreach(tableSkew(lc) = _)
        }
      case None =>
        val dflt =
          if (tableKind(lc) == "MANAGED_TABLE" &&
              defaultManagedFormat != "none") defaultManagedFormat
          else defaultFileFormat
        tableStorage(lc) = storageOverrides(fmtTriple(dflt))
        parseBucketClause(lc, q)
        parseSkewClause(lc, q)
    }
    // a registered STORED BY handler owns the storage descriptor:
    // serde from the handler, no file formats (handler tables record
    // null input/output formats — druid_basic1.q.out)
    storedBy.get(lc)
      .flatMap(graft.sources.StorageHandlers.get)
      .foreach(h => tableStorage(lc) = (h.serdeClass, "null", "null"))
  }

  // -----------------------------------------------------------------
  // DDL observation: ALTER
  // -----------------------------------------------------------------

  /** ALTER-time storage metadata. */
  def trackAlterStorage(q: String): Unit = {
    val ql = q.toLowerCase
    val lc = "(?is)alter\\s+table\\s+`?([\\w.]+)`?".r.findFirstMatchIn(q)
      .map(_.group(1).split('.').last.toLowerCase).getOrElse(return)
    val partSpec = "(?is)\\bpartition\\s*\\(([^)]*)\\)".r
      .findFirstMatchIn(q).map(_.group(1))
    def partKeys: Seq[Seq[String]] =
      partSpec.toSeq.flatMap(s => matchingPartKeys(lc, s))
    // ALTER ... SET SERDEPROPERTIES / SET SERDE ... WITH
    // SERDEPROPERTIES merge into the serde parameter map
    if (ql.contains("serdeproperties") && partSpec.isEmpty)
      recordSerdeClauses(lc, q)
    if (ql.matches("(?s).*\\bset\\s+fileformat\\b.*")) {
      val io = ("(?is)set\\s+fileformat\\s+inputformat\\s+'([^']+)'\\s+" +
        "outputformat\\s+'([^']+)'(?:\\s+serde\\s+'([^']+)')?").r
        .findFirstMatchIn(q)
      val triple = io match {
        case Some(x) =>
          val cur = tableStorage.getOrElse(lc, fmtTriple("textfile"))
          (if (x.group(3) != null) x.group(3) else cur._1,
            x.group(1), x.group(2))
        case None =>
          "(?is)set\\s+fileformat\\s+(\\w+)".r.findFirstMatchIn(q)
            .map(x => ioFmtTriple(x.group(1))).getOrElse(return)
      }
      if (partSpec.isDefined) partKeys.foreach(k =>
        partStorage((lc, k)) = triple)
      else tableStorage(lc) = triple
    } else if (ql.matches("(?s).*\\bset\\s+serde\\s+'.*")) {
      val s = "(?is)set\\s+serde\\s+'([^']+)'".r.findFirstMatchIn(q).get
        .group(1)
      if (partSpec.isDefined) partKeys.foreach { k =>
        val cur = partStorage.getOrElse((lc, k),
          tableStorage.getOrElse(lc, fmtTriple("textfile")))
        partStorage((lc, k)) = (s, cur._2, cur._3)
      } else {
        val cur = tableStorage.getOrElse(lc, fmtTriple("textfile"))
        tableStorage(lc) = (s, cur._2, cur._3)
      }
    } else if (ql.matches("(?s).*\\bnot\\s+clustered\\b.*")) {
      if (partSpec.isDefined) partKeys.foreach(k =>
        partBucketMeta((lc, k)) = (Nil, Nil, -1))
      else bucketMeta(lc) = (Nil, Nil, -1)
    } else if (ql.matches("(?s).*\\bnot\\s+sorted\\b.*")) {
      if (partSpec.isDefined) partKeys.foreach { k =>
        val (b, _, n) = partBucketMeta.getOrElse((lc, k),
          bucketMeta.getOrElse(lc, (Nil, Nil, -1)))
        partBucketMeta((lc, k)) = (b, Nil, n)
      } else {
        val (b, _, n) = bucketMeta.getOrElse(lc, (Nil, Nil, -1))
        bucketMeta(lc) = (b, Nil, n)
      }
    } else if (ql.contains("clustered by")) {
      if (partSpec.isDefined) {
        val saved = bucketMeta.get(lc)
        if (parseBucketClause(lc, q)) {
          val parsed = bucketMeta(lc)
          saved match {
            case Some(v) => bucketMeta(lc) = v
            case None => bucketMeta.remove(lc)
          }
          partKeys.foreach(k => partBucketMeta((lc, k)) = parsed)
        }
      } else parseBucketClause(lc, q)
    } else if (ql.matches("(?s).*\\binto\\s+\\d+\\s+buckets.*")) {
      val n = "(?is)into\\s+(\\d+)\\s+buckets".r.findFirstMatchIn(q).get
        .group(1).toInt
      if (partSpec.isDefined) partKeys.foreach { k =>
        val (b, sc, _) = partBucketMeta.getOrElse((lc, k),
          bucketMeta.getOrElse(lc, (Nil, Nil, -1)))
        partBucketMeta((lc, k)) = (b, sc, n)
      } else {
        val (b, s, _) = bucketMeta.getOrElse(lc, (Nil, Nil, -1))
        bucketMeta(lc) = (b, s, n)
      }
    } else if (ql.matches("(?s).*\\bnot\\s+skewed\\b.*")) {
      tableSkew.remove(lc)
    } else if (ql.matches("(?s).*\\bnot\\s+stored\\s+as\\s+directories.*")) {
      tableSkew.get(lc).foreach { case (c, v, _) =>
        tableSkew(lc) = (c, v, false) }
    } else if (ql.contains("skewed by")) {
      parseSkewClause(lc, q)
    }
  }

  /** Keys in `table`'s partition registry matching a PARTITION spec
    * (entries without a value are wildcards: `partition (p1, p2='123')`
    * addresses every partition with p2='123'). */
  def matchingPartKeys(lc: String, spec: String): Seq[Seq[String]] = {
    val pcs = tablePartCols.getOrElse(lc, Nil)
    val statics = parsePartSpec(spec).collect {
      case (n, Some(v)) => n.toLowerCase -> v }.toMap
    partSchemas.getOrElseUpdate(lc, scala.collection.mutable.Map.empty)
      .keys.filter(k => pcs.zipWithIndex.forall { case (pc, i) =>
        statics.get(pc.toLowerCase)
          .forall(v => i < k.length && v == k(i))
      }).toVector
  }

  /** ALTER TABLE ADD PARTITION specs → the metadata-only partition
    * registry; each new partition snapshots its descriptor and its
    * written schema = the CURRENT table schema (RESTRICT semantics) so
    * `desc formatted t partition(...)` resolves before any data
    * lands. */
  def recordAddedPartitions(q0: String): Unit = {
    val q = q0.trim.stripSuffix(";")
    val head = ("(?is)^\\s*alter\\s+(?:table|view)\\s+`?([\\w.]+)`?" +
      "\\s+add\\s+(?:if\\s+not\\s+exists\\s+)?(?=partition\\s*\\()").r
      .findFirstMatchIn(q).getOrElse(return)
    val t = head.group(1)
    // balanced spec parse — a backticked partition-column NAME may
    // contain parens (quotedid_alter: `!@#$%^&*()_q`)
    var i = head.end
    val specsB = Vector.newBuilder[String]
    var wellFormed = true
    while (i < q.length && wellFormed) {
      val rest = q.substring(i)
      val pm = ("(?is)^\\s*partition\\s*").r.findFirstMatchIn(rest)
      val lm = ("(?is)^\\s*location\\s+'[^']*'\\s*").r
        .findFirstMatchIn(rest)
      if (pm.isDefined) {
        balancedAfter(rest, pm.get.end) match {
          case Some(body) =>
            specsB += body
            i += pm.get.end + rest.substring(pm.get.end)
              .indexOf('(') + body.length + 2
          case None => wellFormed = false
        }
      } else if (lm.isDefined) i += lm.get.end
      else if (rest.trim.isEmpty) i = q.length
      else wellFormed = false
    }
    if (!wellFormed) return
    val set = addedParts.getOrElseUpdate(resolveLc(t),
      scala.collection.mutable.LinkedHashSet.empty)
    specsB.result().foreach { spec =>
      val kv = parsePartSpec(spec).collect {
        case (n, Some(v)) => n -> v }
      set += kv
      val lc = resolveLc(t)
      val pcs = tablePartCols.getOrElse(lc, Nil)
      if (pcs.nonEmpty && kv.size == pcs.size) {
        val key: Seq[String] = pcs.map(pc =>
          kv.collectFirst {
            case (n, v) if n.equalsIgnoreCase(pc) => v
          }.getOrElse(""))
        if (!key.contains("")) {
          val pm = partSchemas.getOrElseUpdate(lc,
            scala.collection.mutable.Map.empty)
          if (!pm.contains(key)) {
            scala.util.Try(spark.table(lc).schema)
              .foreach { sch =>
                pm(key) = StructType(sch.fields.filterNot(f =>
                  pcs.exists(_.equalsIgnoreCase(f.name)))
                  .toIndexedSeq)
                snapshotPartMeta(lc, key)
              }
          }
        }
      }
    }
  }

  /** ALTER TABLE ... DROP PARTITION: remove every matching spec from
    * the partition registry and the per-partition schema/storage
    * snapshots. Hive drops ALL partitions matching the comparator set
    * (ref ql/exec/DDLTask.java dropPartitions → metastore
    * dropPartitionsByExpr), so comparators (`p < '2014-09'`) filter
    * the registered specs, numerically when both sides parse.
    * Returns the removed specs for authorization cleanup. */
  def recordDroppedPartitions(q: String)
      : Seq[(String, Seq[(String, String)])] = {
    val m = graft.HiveStatements.dropPartRe.findFirstMatchIn(q)
      .getOrElse(return Nil)
    val lc = resolveLc(m.group(1).split('.').last)
    val condsPer = graft.HiveStatements.partitionCondRe
      .findAllMatchIn(m.group(2)).map { pm =>
        splitTop(pm.group(1), ',').flatMap { e =>
          graft.HiveStatements.partCompRe.findFirstMatchIn(e).map { c =>
            val raw = c.group(3).trim
              .replaceFirst("(?is)^(?:date|timestamp)\\s+'", "'")
              .stripPrefix("'").stripSuffix("'")
              .stripPrefix("\"").stripSuffix("\"")
            (c.group(1).toLowerCase, c.group(2), raw)
          }
        }
      }.toSeq
    def cmp(a: String, b: String): Int =
      (a.toDoubleOption, b.toDoubleOption) match {
        case (Some(x), Some(y)) => java.lang.Double.compare(x, y)
        case _ => a.compareTo(b)
      }
    def hit(kv: Seq[(String, String)]): Boolean =
      condsPer.exists(conds => conds.nonEmpty && conds.forall {
        case (n, op, v) =>
          kv.collectFirst {
            case (kn, kvv) if kn.equalsIgnoreCase(n) => kvv
          } match {
            case None => false
            case Some(x) => op match {
              case "=" => x == v
              case "<>" | "!=" => x != v
              case "<" => cmp(x, v) < 0
              case "<=" => cmp(x, v) <= 0
              case ">" => cmp(x, v) > 0
              case ">=" => cmp(x, v) >= 0
            }
          }
      })
    val removed = scala.collection.mutable
      .ArrayBuffer[Seq[(String, String)]]()
    addedParts.get(lc).foreach { set =>
      val gone = set.toVector.filter(hit)
      set --= gone
      removed ++= gone
    }
    val pcs = tablePartCols.getOrElse(lc, Nil)
    def keyOf(kv: Seq[(String, String)]): Seq[String] =
      pcs.map(pc => kv.collectFirst {
        case (n, v) if n.equalsIgnoreCase(pc) => v
      }.getOrElse(""))
    val goneKeys = removed.map(keyOf).toSet
    if (goneKeys.nonEmpty) {
      partSchemas.get(lc).foreach(pm => goneKeys.foreach(pm.remove))
      partStorage.filterInPlace((k, _) =>
        !(k._1 == lc && goneKeys.contains(k._2)))
      partBucketMeta.filterInPlace((k, _) =>
        !(k._1 == lc && goneKeys.contains(k._2)))
    }
    removed.toSeq.map(kv => (lc, kv))
  }

  /** ALTER TABLE ... PARTITION (a) RENAME TO PARTITION (b): re-key
    * the partition registry + snapshots. Returns (table, from, to)
    * when a registered spec renamed. */
  def recordRenamedPartition(q: String)
      : Option[(String, Seq[(String, String)], Seq[(String, String)])] = {
    val m = graft.HiveStatements.renamePartRe.findFirstMatchIn(q)
      .getOrElse(return None)
    val lc = resolveLc(m.group(1).split('.').last)
    val from = parsePartSpec(m.group(2)).collect {
      case (n, Some(v)) => n -> v }
    val to = parsePartSpec(m.group(3)).collect {
      case (n, Some(v)) => n -> v }
    val set = addedParts.getOrElse(lc, return None)
    val hit = set.toVector.filter(kv => kv.size == from.size &&
      from.forall { case (n, v) => kv.exists { case (kn, kvv) =>
        kn.equalsIgnoreCase(n) && kvv == v } })
    if (hit.isEmpty) return None
    set --= hit
    set ++= hit.map(_ => to)
    val pcs = tablePartCols.getOrElse(lc, Nil)
    def keyOf(kv: Seq[(String, String)]): Seq[String] =
      pcs.map(pc => kv.collectFirst {
        case (n, v) if n.equalsIgnoreCase(pc) => v
      }.getOrElse(""))
    val (fk, tk) = (keyOf(from), keyOf(to))
    partSchemas.get(lc).foreach(pm =>
      pm.remove(fk).foreach(pm(tk) = _))
    partStorage.remove((lc, fk)).foreach(partStorage((lc, tk)) = _)
    partBucketMeta.remove((lc, fk))
      .foreach(partBucketMeta((lc, tk)) = _)
    Some((lc, from, to))
  }

  // -----------------------------------------------------------------
  // table properties + column comments
  // -----------------------------------------------------------------

  def trackTblProps(q: String, create: Boolean,
      origQ: String = null): Unit = {
    val nm =
      if (create) ("(?is)create\\s+(?:or\\s+replace\\s+)?" +
        "(?:temporary\\s+)?(?:external\\s+)?" +
        "(?:table|(?:materialized\\s+)?view)\\s+" +
        "(?:if\\s+not\\s+exists\\s+)?`?([\\w.]+)`?").r
        .findFirstMatchIn(q).map(_.group(1))
      else ("(?is)alter\\s+(?:table|view)\\s+`?([\\w.]+)`?").r
        .findFirstMatchIn(q).map(_.group(1))
    val lc = nm.map(resolveLc).getOrElse(return)
    if (create) {
      tableProps.remove(lc)
      // a name-stripping rewrite may have removed the db qualifier —
      // recover the creating db from the ORIGINAL text
      val base0 = nm.get.split('.').last.toLowerCase
      // an always-mangled binding (`db__t`) matches the ORIGINAL
      // text's qualified form through its LOGICAL name
      val sep = base0.indexOf("__")
      val base = if (sep > 0) base0.substring(sep + 2) else base0
      val origQual = Option(origQ).flatMap(o =>
        ("(?is)create\\s+(?:or\\s+replace\\s+)?(?:temporary\\s+)?" +
          "(?:external\\s+)?(?:table|(?:materialized\\s+)?view)\\s+" +
          "(?:if\\s+not\\s+exists\\s+)?`?(\\w+)`?\\s*\\.\\s*`?" +
          base + "`?").r.findFirstMatchIn(o).map(_.group(1).toLowerCase))
      tablePropsOwner(lc) = nm.get.split('.') match {
        case a if a.length > 1 => a.head.toLowerCase
        case _ => origQual.getOrElse(
          if (sep > 0) base0.substring(0, sep)
          else currentDb().toLowerCase)
      }
    }
    val unset = !create &&
      q.toLowerCase.contains("unset tblproperties")
    val bodyOpt = "(?is)tblproperties\\s*(?:if\\s+exists\\s*)?".r
      .findFirstMatchIn(q)
      .flatMap(m2 => balancedAfter(q, m2.end))
    if (bodyOpt.isEmpty) return
    val body = bodyOpt.get
    val props = tableProps.getOrElseUpdate(lc,
      scala.collection.mutable.LinkedHashMap.empty)
    if (unset)
      "['\"]([^'\"]+)['\"]".r.findAllMatchIn(body)
        .foreach(m2 => props.remove(m2.group(1)))
    else
      ("['\"]([^'\"]+)['\"]\\s*=\\s*['\"]([^'\"]*)['\"]").r
        .findAllMatchIn(body)
        .foreach(m2 => props(m2.group(1)) = m2.group(2))
    // an ALTER ... SET TBLPROPERTIES stamps the modifier identity
    // (DDLTask/Hive metastore alter path: last_modified_by/_time)
    if (!create && !unset) {
      props("last_modified_by") = sys.props.getOrElse("user.name", "")
      props("last_modified_time") =
        (System.currentTimeMillis() / 1000).toString
    }
  }

  /** Column-spec string → per-column COMMENT text (lc name → comment,
    * absent when none declared). */
  def colCommentsOf(colSpec: String): Map[String, String] =
    splitTop(colSpec, ',').filterNot(isConstraintEntry).flatMap { c =>
      val t0 = c.trim
      val name =
        if (t0.startsWith("`")) {
          var close = 1
          while (close < t0.length && !(t0.charAt(close) == '`' &&
              (close + 1 >= t0.length || t0.charAt(close + 1) != '`')))
            close += (if (t0.charAt(close) == '`') 2 else 1)
          t0.substring(1, close).replace("``", "`")
        } else t0.split("\\s+", 2)(0)
      ("(?is)\\bcomment\\s+(?:'((?:[^'\\\\]|\\\\.)*)'|" +
        "\"((?:[^\"\\\\]|\\\\.)*)\")").r
        .findFirstMatchIn(t0)
        .map(m => name.toLowerCase ->
          unescapeSql(Option(m.group(1)).getOrElse(m.group(2))))
    }.toMap

  def isConstraintEntry(c: String): Boolean =
    c.trim.toLowerCase.matches(
      "(?s)(primary\\s+key|foreign\\s+key|constraint\\b|unique\\s*\\().*")

  // -----------------------------------------------------------------
  // informational PK/FK constraints (DISABLE NOVALIDATE bookkeeping —
  // ref metastore PrimaryKeyInfo/ForeignKeyInfo; rendered by DESCRIBE
  // per MetaDataFormatUtils.getConstraintsInformation:278-301)
  // -----------------------------------------------------------------

  /** lc → (constraint name, PK column names in declaration order). */
  val primaryKeys =
    scala.collection.mutable.Map[String, (String, Seq[String])]()
  /** lc → FK rels in declaration order:
    * (constraint name, parent "db.table", (parentCol, childCol)s). */
  val foreignKeys = scala.collection.mutable.Map[String,
    Vector[(String, String, Seq[(String, String)])]]()
  private var constraintSeq = 0

  /** Record every table-level constraint entry of a CREATE column
    * spec. Unnamed constraints get a generated name, like the
    * metastore's random pk_/fk_ identifiers (the goldens mask them). */
  def recordConstraints(lc: String, colSpec: String, db: String): Unit =
    splitTop(colSpec, ',').map(_.trim).filter(isConstraintEntry)
      .foreach(recordConstraintEntry(lc, _, db))

  /** Parse one `[CONSTRAINT name] PRIMARY KEY (...)` /
    * `[CONSTRAINT name] FOREIGN KEY (...) REFERENCES t(...)` entry.
    * True when recognized. */
  def recordConstraintEntry(lc: String, e: String, db: String): Boolean = {
    def cols(s: String): Seq[String] = s.split(",").toSeq
      .map(_.trim.replace("`", "").toLowerCase).filter(_.nonEmpty)
    def gen(prefix: String): String = {
      constraintSeq += 1
      s"${prefix}_${lc}_$constraintSeq"
    }
    val fkRe = ("(?is)^(?:constraint\\s+`?([\\w-]+)`?\\s+)?" +
      "foreign\\s+key\\s*\\(([^)]*)\\)\\s*references\\s+" +
      "`?([\\w.]+)`?\\s*\\(([^)]*)\\).*$").r
    val pkRe = ("(?is)^(?:constraint\\s+`?([\\w-]+)`?\\s+)?" +
      "primary\\s+key\\s*\\(([^)]*)\\).*$").r
    e.trim match {
      case fkRe(n, childCols, parent, parentCols) =>
        val name = Option(n).getOrElse(gen("fk"))
        val pl = parent.toLowerCase
        val pt = if (pl.contains(".")) pl else s"$db.$pl"
        foreignKeys(lc) = foreignKeys.getOrElse(lc, Vector.empty) :+
          ((name, pt, cols(parentCols).zip(cols(childCols))))
        true
      case pkRe(n, pkCols) =>
        primaryKeys(lc) = (Option(n).getOrElse(gen("pk")), cols(pkCols))
        true
      case _ => false
    }
  }

  /** ALTER TABLE ... DROP CONSTRAINT name. */
  def dropConstraint(lc: String, name: String): Unit = {
    if (primaryKeys.get(lc).exists(_._1.equalsIgnoreCase(name)))
      primaryKeys.remove(lc)
    foreignKeys.get(lc).foreach { v =>
      val nv = v.filterNot(_._1.equalsIgnoreCase(name))
      if (nv.isEmpty) foreignKeys.remove(lc) else foreignKeys(lc) = nv
    }
  }

  /** FK display order: explicitly-named rels before generated-name
    * rels, insertion order within each group — the recorded
    * create_with_constraints layout (the reference iterates a
    * name-keyed HashMap; its generated names are long random strings
    * that hash after short user names in every recorded file). */
  private def fkDisplayOrder(
      fks: Vector[(String, String, Seq[(String, String)])])
      : Vector[(String, String, Seq[(String, String)])] = {
    val (gen, named) = fks.partition(
      _._1.matches("(?i)(pk|fk)_.*_\\d+"))
    named ++ gen
  }

  /** An FK rel renders only while its PARENT table has a primary
    * key — the metastore's get_foreign_keys joins the FK rows to the
    * parent's PK constraint, so dropping the parent PK hides the FK
    * until a PK is re-added (recorded: table6's FK on table2
    * disappears after `table2 DROP CONSTRAINT pk1` and reappears
    * after `ADD CONSTRAINT pkt2`). */
  private def visibleFks(lc: String)
      : Vector[(String, String, Seq[(String, String)])] =
    foreignKeys.getOrElse(lc, Vector.empty).filter { f =>
      val parts = f._2.split('.')
      val (db, t) =
        if (parts.length > 1) (parts.head, parts.last)
        else ("default", parts.last)
      primaryKeys.contains(t) || primaryKeys.contains(s"${db}__$t")
    }

  private def constraintDisplayName(lc: String, db: String): String = {
    val logical = if (lc.startsWith(db + "__")) lc.substring(db.length + 2)
      else lc
    s"$db.$logical"
  }

  /** DESCRIBE FORMATTED `# Constraints` block
    * (MetaDataFormatUtils.getConstraintsInformation — blank line,
    * header, PK table/name/columns, FK table then one name + column
    * triplet group per rel, blank line after each rel). */
  def constraintsFormattedLines(lc: String, db: String): Seq[String] = {
    val pk = primaryKeys.get(lc)
    val fks = visibleFks(lc)
    if (pk.isEmpty && fks.isEmpty) return Nil
    val disp = constraintDisplayName(lc, db)
    val out = Vector.newBuilder[String]
    out += ""
    out += "# Constraints\t\t"
    pk.foreach { case (name, pkCols) =>
      out += ""
      out += "# Primary Key\t\t"
      out += s"Table:\t$disp\t"
      out += s"Constraint Name:\t$name\t"
      out += "Column Names:" + pkCols.map("\t" + _).mkString
    }
    if (fks.nonEmpty) {
      out += ""
      out += "# Foreign Keys\t\t"
      out += s"Table:\t$disp\t"
      fkDisplayOrder(fks).foreach { case (name, parent, colPairs) =>
        out += s"Constraint Name:\t$name\t"
        colPairs.zipWithIndex.foreach { case ((pc, cc), i) =>
          out += s"Parent Column Name:$parent.$pc\tColumn Name:$cc\t" +
            s"Key Sequence:${i + 1}"
        }
        out += ""
      }
    }
    out.result()
  }

  /** DESCRIBE EXTENDED constraint rendering: the `Constraints` row
    * holds PrimaryKeyInfo.toString; ForeignKeyInfo.toString follows
    * on its own line (the recorded create_with_constraints layout). */
  def constraintsExtendedLines(lc: String, db: String): Seq[String] = {
    val pk = primaryKeys.get(lc)
    val fks = visibleFks(lc)
    if (pk.isEmpty && fks.isEmpty) return Nil
    val disp = constraintDisplayName(lc, db)
    val pkText = pk.map { case (name, pkCols) =>
      s"Primary Key for $disp:[${pkCols.mkString(",")}], " +
        s"Constraint Name: $name"
    }.getOrElse("")
    val fkText =
      if (fks.isEmpty) None
      else Some("Foreign Keys for " + disp + ":[ " +
        fkDisplayOrder(fks).map {
        case (name, parent, colPairs) =>
          "{Constraint Name: " + name + ", " + colPairs.zipWithIndex
            .map { case ((pc, cc), i) =>
              s"(Parent Column Name: $parent.$pc, Column Name: $cc, " +
                s"Key Sequence: ${i + 1})"
            }.mkString(", ") + "}"
      }.mkString(", ") + "]")
    Seq(s"Constraints\t$pkText\t") ++ fkText.map(t => s"$t\t\t").toSeq
  }

  private def unescapeSql(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '\\' && i + 1 < v.length) {
        v.charAt(i + 1) match {
          case 'n' => sb.append('\n'); case 't' => sb.append('\t')
          case 'r' => sb.append('\r'); case 'b' => sb.append('\b')
          case o => sb.append(o)
        }
        i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Comment bookkeeping for ALTER CHANGE/ADD/REPLACE COLUMNS. CHANGE
    * inherits the old comment unless one is given (rename_column.q). */
  def trackAlterComments(q: String): Unit = {
    val changeRe = ("(?is)alter\\s+table\\s+`?([\\w.]+)`?\\s+change\\s+" +
      "(?:column\\s+)?`?(\\w+)`?\\s+`?(\\w+)`?\\s+[\\w()<>,\\s]+?" +
      "(?:\\s+comment\\s+(?:'((?:[^'\\\\]|\\\\.)*)'|" +
      "\"((?:[^\"\\\\]|\\\\.)*)\"))?" +
      "(?:\\s+(?:first|after\\s+`?\\w+`?))?" +
      "(?:\\s+(?:cascade|restrict))?\\s*").r
    q match {
      case changeRe(t, oldN, newN, cmtSq, cmtDq) =>
        val cmt = Option(cmtSq).getOrElse(cmtDq)
        val lc = t.split('.').last.toLowerCase
        val cur = colComments.getOrElse(lc, Map.empty)
        val inherited = Option(cmt)
          .map(_.replace("\\'", "'").replace("\\\\", "\\"))
          .orElse(cur.get(oldN.toLowerCase))
        val without = cur - oldN.toLowerCase
        colComments(lc) = inherited match {
          case Some(c) => without + (newN.toLowerCase -> c)
          case None => without
        }
      case _ =>
        graft.HiveStatements.parseAddReplaceColumns(q) match {
          case Some((t, kind, cols, _))
              if kind.equalsIgnoreCase("replace") =>
            val lc = t.split('.').last.toLowerCase
            val pcs = tablePartCols.getOrElse(lc, Nil).map(_.toLowerCase)
            val keepParts = colComments.getOrElse(lc, Map.empty)
              .filter { case (k, _) => pcs.contains(k) }
            colComments(lc) = keepParts ++ colCommentsOf(cols)
          case Some((t, _, cols, _)) =>
            val lc = t.split('.').last.toLowerCase
            colComments(lc) = colComments.getOrElse(lc, Map.empty) ++
              colCommentsOf(cols)
          case None =>
        }
    }
  }

  /** The comment DESCRIBE renders for one column — bindings with
    * fixture knowledge (qtest COMMENT 'default' seeds, deserializer
    * tables) override. */
  def commentOf(tableLc: String, col: String,
      isPartCol: Boolean = false): String =
    colComments.get(tableLc)
      .map(_.getOrElse(col.toLowerCase, "")).getOrElse("")

  // -----------------------------------------------------------------
  // rename / drop lifecycle
  // -----------------------------------------------------------------

  /** ALTER TABLE RENAME: re-key every metadata map. */
  def renameTable(fromLc: String, toLc: String): Unit = {
    if (fromLc == toLc) return
    tableStorage.remove(fromLc).foreach(tableStorage(toLc) = _)
    bucketMeta.remove(fromLc).foreach(bucketMeta(toLc) = _)
    tableSkew.remove(fromLc).foreach(tableSkew(toLc) = _)
    tableKind.remove(fromLc).foreach(tableKind(toLc) = _)
    tablePartCols.remove(fromLc).foreach(tablePartCols(toLc) = _)
    colComments.remove(fromLc).foreach(colComments(toLc) = _)
    tableProps.remove(fromLc).foreach(tableProps(toLc) = _)
    tablePropsOwner.remove(fromLc).foreach(tablePropsOwner(toLc) = _)
    addedParts.remove(fromLc).foreach(addedParts(toLc) = _)
    partSchemas.remove(fromLc).foreach(partSchemas(toLc) = _)
    serdeProps.remove(fromLc).foreach(serdeProps(toLc) = _)
    tableComment.remove(fromLc).foreach(tableComment(toLc) = _)
    storedBy.remove(fromLc).foreach(storedBy(toLc) = _)
    viewText.remove(fromLc).foreach(viewText(toLc) = _)
    viewColList.remove(fromLc).foreach(viewColList(toLc) = _)
    createTime.remove(fromLc).foreach(createTime(toLc) = _)
    primaryKeys.remove(fromLc).foreach(primaryKeys(toLc) = _)
    foreignKeys.remove(fromLc).foreach(foreignKeys(toLc) = _)
    if (tempTables.remove(fromLc)) tempTables += toLc
    val ps = partStorage.filter(_._1._1 == fromLc)
    ps.foreach { case ((_, k), v) =>
      partStorage.remove((fromLc, k)); partStorage((toLc, k)) = v }
    val pb = partBucketMeta.filter(_._1._1 == fromLc)
    pb.foreach { case ((_, k), v) =>
      partBucketMeta.remove((fromLc, k)); partBucketMeta((toLc, k)) = v }
  }

  /** DROP TABLE/VIEW: clear every metadata map. */
  def dropTable(lc: String): Unit = {
    tableStorage.remove(lc); bucketMeta.remove(lc)
    tableSkew.remove(lc); tableKind.remove(lc)
    tablePartCols.remove(lc); colComments.remove(lc)
    tableProps.remove(lc); tablePropsOwner.remove(lc)
    addedParts.remove(lc); partSchemas.remove(lc)
    dbOwner.remove(lc)
    serdeProps.remove(lc); tableComment.remove(lc); storedBy.remove(lc)
    viewText.remove(lc); viewColList.remove(lc); indexes.remove(lc)
    createTime.remove(lc); tempTables -= lc
    primaryKeys.remove(lc); foreignKeys.remove(lc)
    partStorage.filterInPlace((k, _) => k._1 != lc)
    partBucketMeta.filterInPlace((k, _) => k._1 != lc)
  }

  // -----------------------------------------------------------------
  // renderers (line-level; DataFrame assembly lives in HiveStatements)
  // -----------------------------------------------------------------

  /** DESCRIBE FORMATTED column block + whitelisted detail labels for
    * a RESOLVED table (MetaDataFormatUtils.getTableInformation /
    * getPartitionInformation). */
  def describeFormattedCore(lc: String, db: String,
      dataFields: Seq[StructField], partFieldsAll: Seq[StructField],
      partKey: Option[Seq[String]], partVals: Seq[String])
      : (Seq[String], Map[String, String]) = {
    val cols =
      Vector(colHeader, sepLine) ++
        dataFields.flatMap(f =>
          colLines(f.name.toLowerCase, hiveTypeName(f.dataType),
            commentOf(lc, f.name))) ++
        (if (partFieldsAll.isEmpty || !displayPartColsSep) Vector.empty
         else Vector(sepLine) ++ partInfoHeader ++
           partFieldsAll.flatMap(f =>
             colLines(f.name.toLowerCase, hiveTypeName(f.dataType),
               commentOf(lc, f.name, isPartCol = true)))) ++
        Vector(sepLine)
    val triple = partKey.flatMap(k => partStorage.get((lc, k)))
      .getOrElse(tableStorage.getOrElse(lc, fmtTriple("textfile")))
    val (bcols, scols, nb) =
      partKey.flatMap(k => partBucketMeta.get((lc, k)))
        .orElse(if (partKey.isDefined) bucketMeta.get(lc) else None)
        .getOrElse(
          if (partKey.isDefined) (Nil, Nil, -1)
          else bucketMeta.getOrElse(lc, (Nil, Nil, -1)))
    val kind = tableKind.getOrElse(lc, "MANAGED_TABLE")
    var labels = Map(
      "Database:" -> db,
      "Retention:" -> "0",
      "Compressed:" -> "No",
      "SerDe Library:" -> triple._1,
      "InputFormat:" -> triple._2,
      "OutputFormat:" -> triple._3,
      "Num Buckets:" -> nb.toString,
      "Bucket Columns:" -> jlist(bcols),
      "Sort Columns:" -> jlist(scols.map { case (c, o) =>
        s"Order(col:$c, order:$o)" }))
    if (partKey.isEmpty) labels += ("Table Type:" -> kind)
    else {
      // partition detail block (getPartitionMetaDataInformation) —
      // the LOGICAL name: strip the always-mangle db prefix
      labels += ("Table:" ->
        (if (lc.startsWith(db + "__")) lc.substring(db.length + 2)
         else lc))
      labels += ("Partition Value:" -> jlist(partVals))
    }
    tableSkew.get(lc).foreach { case (c, v, dirs) =>
      labels += ("Skewed Columns:" -> jlist(c))
      labels += ("Skewed Values:" -> v.map(jlist).mkString("[", ", ", "]"))
      if (dirs) labels += ("Stored As SubDirectories:" -> "Yes")
    }
    (cols, labels)
  }

  /** SHOW PARTITIONS names for a RESOLVED table, answered from
    * METADATA ONLY — the reference answers from the metastore
    * (ObjectStore.listPartitionNames), never from a table scan, and
    * at scale a metadata query must not read data. Sources, unioned:
    *  1. the session catalog's tracked partitions
    *     (CREATE TABLE ... PARTITIONED BY tables track partitions in
    *     the catalog; INSERT registers the ones it writes),
    *  2. the partition DIRECTORY names under the table location
    *     (filesystem-namespace listing, depth = #partition columns —
    *     covers writers that bypass catalog partition tracking; no
    *     file content is ever opened),
    *  3. metadata-only ADD PARTITION specs recorded by this store.
    * A temp-view-backed name falls back to the legacy distinct()
    * scan — temp views are this engine's session tables and carry
    * no catalog metadata that could answer (the reference has no
    * such object).
    * escapePathName-rendered, metastore-sorted. `isView`: a view's
    * partitions are ONLY the explicitly ADDed ones. */
  def showPartitionNames(table: String, lc: String, pcs: Seq[String],
      filter: Seq[(Int, String)], isView: Boolean): Option[Seq[String]] = {
    val df = scala.util.Try(spark.table(table)).getOrElse(return None)
    val pFields = pcs.flatMap(p => df.columns.find(_.equalsIgnoreCase(p)))
    if (pFields.size != pcs.size) return None
    val shadowed = spark.sessionState.catalog.getTempView(table).isDefined
    val catMeta: Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
      if (shadowed) None
      else scala.util.Try(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table))).toOption
    def fromCatalog: Seq[Seq[String]] = catMeta.toSeq.flatMap { _ =>
      scala.util.Try(spark.sessionState.catalog.listPartitions(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
        .getOrElse(Nil)
        .flatMap { p =>
          val vals = pcs.map(pc => p.spec.collectFirst {
            case (n, v) if n.equalsIgnoreCase(pc) => v })
          if (vals.forall(_.isDefined)) Some(vals.map(_.get)) else None
        }
    }
    def fromLocation: Seq[Seq[String]] = catMeta.toSeq.flatMap { m =>
      scala.util.Try {
        val root = new org.apache.hadoop.fs.Path(m.location)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        def walk(dir: org.apache.hadoop.fs.Path, depth: Int,
            acc: List[String]): Seq[Seq[String]] =
          if (depth == pcs.size) Seq(acc.reverse)
          else fs.listStatus(dir).toSeq
            .filter(st => st.isDirectory &&
              st.getPath.getName.toLowerCase.startsWith(
                pcs(depth).toLowerCase + "="))
            .flatMap(st => walk(st.getPath, depth + 1,
              unescapePathName(st.getPath.getName
                .substring(pcs(depth).length + 1)) :: acc))
        if (fs.exists(root)) walk(root, 0, Nil) else Nil
      }.getOrElse(Nil)
    }
    // last resort, NON-catalog objects only (temp view over a
    // DataFrame): no metadata exists, scan for distinct tuples
    def fromScan: Seq[Seq[String]] = df
      .select(pFields.map(org.apache.spark.sql.functions.col): _*)
      .distinct().collect().toSeq.map(r =>
        (0 until r.length).map(i =>
          if (r.isNullAt(i)) graft.HiveStatements.DefaultPartitionName
          else r.get(i).toString))
    val fromRows: Seq[Seq[String]] =
      if (isView) Nil
      else if (catMeta.isDefined) fromCatalog ++ fromLocation
      else fromScan
    val fromAdds: Seq[Seq[String]] =
      addedParts.getOrElse(lc, Nil).toSeq.map(kv =>
        pcs.map(pc => kv.collectFirst {
          case (n, v) if n.equalsIgnoreCase(pc) => v
        }.getOrElse(return None)))
    def esc(x: String): String =
      if (decodePartName) x else escapePathName(x)
    Some((fromRows ++ fromAdds).distinct
      .filter(k => filter.forall { case (i, v) =>
        i >= 0 && i < k.size && k(i) == v })
      .map(k => pcs.map(_.toLowerCase).zip(k).map { case (n, v) =>
        s"${esc(n)}=${esc(v)}" }.mkString("/"))
      .sorted)
  }

  /** SHOW COLUMNS lines (%-20s padded lowercase names). */
  def showColumnsLines(schema: StructType): Seq[String] =
    schema.fields.toSeq.map(f => pad(f.name.toLowerCase))

  /** SHOW TBLPROPERTIES lines: one `key\tvalue` per USER property, or
    * the single value / does-not-have line for a keyed lookup. */
  def showTblPropsLines(lc: String, db: String, tableBase: String,
      key: Option[String]): Seq[String] = {
    val props = tableProps.getOrElse(lc,
      scala.collection.mutable.LinkedHashMap.empty[String, String])
    key match {
      case Some(k) =>
        Seq(props.getOrElse(k,
          s"Table $db.$tableBase does not have property: $k"))
      case None => props.map { case (k, v) => s"$k\t$v" }.toSeq
    }
  }

  // -----------------------------------------------------------------
  // SHOW CREATE TABLE / DATABASE (DDLTask.showCreateTable:2204-2412,
  // showCreateDatabase:2156-2177 — the ST template's exact layout:
  // ", \n" column joins, trailing-space clause headers, key-sorted
  // serde/table properties, the STORED BY handler branch, and the
  // one-line CREATE VIEW shape)
  // -----------------------------------------------------------------

  /** HiveStringUtils.escapeHiveCommand: `'` `;` `\` plus the Java
    * control-char escapes. */
  def escHive(v: String): String = v.flatMap {
    case '\'' => "\\'"
    case ';' => "\\;"
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case '\r' => "\\r"
    case '\b' => "\\b"
    case '\f' => "\\f"
    case c => c.toString
  }

  /** Hive records a view's EXPANDED text (stars expanded, every
    * column backtick-qualified by its table, the table db-qualified —
    * SemanticAnalyzer viewSelect expansion). Reconstruct it for the
    * simple single-table SELECT shape; other shapes render the
    * original text. */
  def viewExpandedText(lc: String): String = {
    viewExpandedTextExact(lc).getOrElse(viewText.getOrElse(lc, ""))
  }

  /** The exact reconstruction, when the defining query is the simple
    * single-table SELECT shape; None → the caller falls back to the
    * stored original text. Inner keywords keep the AUTHOR's case
    * (Hive expands the original token stream in place); the wrapper
    * generated for an explicit view column list is Hive's own
    * uppercase `SELECT `c` AS `n` FROM (...) `db.view`` shape. */
  def viewExpandedTextExact(lc: String): Option[String] = {
    val raw = viewText.getOrElse(lc, return None)
    val m = "(?is)^(select)\\s+(.*?)\\s+(from)\\s+`?([\\w.]+)`?\\s*$".r
      .findFirstMatchIn(raw.trim).getOrElse(return None)
    // resolve (db, logical) — a db-qualified or always-mangled
    // binding names its database; a bare one asks the owner registry
    def unbind(name: String): (String, String) = {
      val base = name.split('.').last.toLowerCase
      val sep = base.indexOf("__")
      if (sep > 0 && (knownDb(base.substring(0, sep)) ||
          dbOwner.get(base).contains(base.substring(0, sep))))
        (base.substring(0, sep), base.substring(sep + 2))
      else if (name.contains("."))
        (name.split('.').head.toLowerCase, base)
      else (dbOwner.getOrElse(base, "default"), base)
    }
    val (db, t) = unbind(m.group(4))
    val items = splitTop(m.group(2), ',').map(_.trim)
    val cols: Seq[String] =
      if (items == Seq("*"))
        scala.util.Try(spark.table(resolveLc(m.group(4))).columns.toSeq)
          .getOrElse(return None)
      else items.map(_.replace("`", ""))
    if (!cols.forall(_.matches("\\w+"))) return None
    val inner = cols.map(c => s"`$t`.`${c.toLowerCase}`")
      .mkString(m.group(1) + " ", ", ", "") +
      s" ${m.group(3)} `$db`.`$t`"
    Some(viewColList.get(lc).filter(_.nonEmpty) match {
      case Some(names) if names.size == cols.size =>
        val (vdb, vname) = unbind(lc)
        cols.map(_.toLowerCase).zip(names).map { case (c, n) =>
          s"`$c` AS `$n`" }
          .mkString("SELECT ", ", ", s" FROM ($inner) `$vdb.$vname`")
      case _ => inner
    })
  }

  private def appendSerde(sb: StringBuilder,
      params: Map[String, String]): StringBuilder = {
    sb.append("WITH SERDEPROPERTIES ( \n")
    sb.append(params.toSeq.sortBy(_._1).map { case (k, v) =>
      s"  '$k'='${escHive(v)}'" }.mkString(", \n"))
    sb.append(")")
  }

  /** Statistics keys excluded from the TBLPROPERTIES render
    * (StatsSetupConst.TABLE_PARAMS_STATS_KEYS). */
  private val statsKeys = Set("COLUMN_STATS_ACCURATE", "numFiles",
    "totalSize", "numRows", "rawDataSize", "numPartitions")

  /** SHOW CREATE TABLE statement LINES (the CLI splits the written
    * statement on newline; empty template lines drop like the
    * recordings). `location`: rendered under LOCATION when defined —
    * storage-handler tables never need one
    * (DDLTask.doesTableNeedLocation). */
  def showCreateTableLines(lc: String, displayName: String,
      schema: StructType, location: Option[String]): Seq[String] = {
    val sb = new StringBuilder
    if (tableKind.get(lc).contains("VIRTUAL_VIEW"))
      sb.append(s"CREATE VIEW `$displayName` AS ${viewExpandedText(lc)}")
    else {
      val props: Map[String, String] =
        tableProps.get(lc).map(_.toMap).getOrElse(Map.empty)
      val isTemp = tempTables.contains(lc)
      val isExternal = props.get("EXTERNAL")
        .map(_.equalsIgnoreCase("TRUE"))
        .getOrElse(tableKind.get(lc).contains("EXTERNAL_TABLE"))
      val handler = storedBy.get(lc).orElse(props.get("storage_handler"))
      val pcs = tablePartCols.getOrElse(lc, Nil).map(_.toLowerCase)
      val (pFields, dFields) = schema.fields.toSeq.partition(f =>
        pcs.contains(f.name.toLowerCase))
      def colDef(f: StructField): String = {
        val cmt = commentOf(lc, f.name)
        s"  `${f.name.toLowerCase}` ${hiveTypeName(f.dataType)}" +
          (if (cmt.nonEmpty) s" COMMENT '${escHive(cmt)}'" else "")
      }
      sb.append("CREATE ")
      if (isTemp) sb.append("TEMPORARY ")
      if (isExternal) sb.append("EXTERNAL ")
      sb.append("TABLE `").append(displayName).append("`(\n")
      sb.append(dFields.map(colDef).mkString(", \n")).append(")\n")
      tableComment.get(lc).orElse(props.get("comment")).foreach(c =>
        sb.append(s"COMMENT '${escHive(c)}'\n"))
      if (pFields.nonEmpty) {
        sb.append("PARTITIONED BY ( \n")
        sb.append(pFields.map(colDef).mkString(", \n")).append(")\n")
      }
      val (bcols, scols, nbuckets) =
        bucketMeta.getOrElse(lc, (Nil, Nil, -1))
      if (bcols.nonEmpty) {
        sb.append("CLUSTERED BY ( \n  ")
        sb.append(bcols.mkString(", \n  ")).append(") \n")
        if (scols.nonEmpty) {
          sb.append("SORTED BY ( \n")
          sb.append(scols.map { case (c, o) =>
            s"  $c " + (if (o == 1) "ASC" else "DESC") }
            .mkString(", \n"))
          sb.append(") \n")
        }
        sb.append(s"INTO $nbuckets BUCKETS\n")
      }
      tableSkew.get(lc).filter(_._1.nonEmpty).foreach {
        case (cols, values, dirs) =>
          sb.append(s"SKEWED BY (${cols.mkString(",")})\n")
          sb.append("  ON (" + values.map(vs =>
            "('" + vs.mkString("','") + "')").mkString(",") + ")")
          if (dirs) sb.append("\n  STORED AS DIRECTORIES")
          sb.append("\n")
      }
      val triple = tableStorage.getOrElse(lc, fmtTriple(defaultFileFormat))
      val sp0 = serdeProps.get(lc).map(_.toMap).getOrElse(Map.empty)
      // the default serialization.format ("1") is not rendered
      val sp =
        if (sp0.get("serialization.format").contains("1"))
          sp0 - "serialization.format"
        else sp0
      sb.append(s"ROW FORMAT SERDE \n  '${escHive(triple._1)}' \n")
      handler match {
        case None =>
          if (sp.nonEmpty) appendSerde(sb, sp).append(" \n")
          sb.append(s"STORED AS INPUTFORMAT \n  '${escHive(triple._2)}' \n")
          sb.append(s"OUTPUTFORMAT \n  '${escHive(triple._3)}'\n")
        case Some(h) =>
          sb.append(s"STORED BY \n  '${escHive(h)}' \n")
          // a handler SD renders its serde params unfiltered, with
          // the implicit default format (show_create_table_alter's
          // DefaultStorageHandler block records '1')
          val spH =
            if (sp0.contains("serialization.format")) sp0
            else sp0 + ("serialization.format" -> "1")
          appendSerde(sb, spH)
          sb.append("\n")
      }
      location.foreach(p =>
        sb.append(s"LOCATION\n  '${escHive(p)}'\n"))
      val exclude = statsKeys ++ Set("comment", "storage_handler") ++
        (if (isExternal) Set("EXTERNAL") else Set.empty[String]) ++
        (if (bcols.nonEmpty) Set("SORTBUCKETCOLSPREFIX")
         else Set.empty[String])
      val renderProps0 = props -- exclude
      val renderProps =
        if (isTemp) renderProps0
        else renderProps0 + ("transient_lastDdlTime" ->
          createTime.getOrElse(lc, 0L).toString)
      sb.append("TBLPROPERTIES (\n")
      sb.append(renderProps.toSeq.sortBy(_._1).map { case (k, v) =>
        s"  '$k'='${escHive(v)}'" }.mkString(", \n"))
      sb.append(")")
    }
    sb.toString.split("\n", -1).toSeq.filter(_.nonEmpty)
  }

  /** SHOW CREATE DATABASE lines (DDLTask.showCreateDatabase). */
  def showCreateDatabaseLines(db: String, location: String)
      : Seq[String] = {
    val (cmt, props) = dbMeta.getOrElse(db, ("", Nil))
    val sb = new StringBuilder
    sb.append(s"CREATE DATABASE `$db`\n")
    if (cmt.nonEmpty) sb.append(s"COMMENT\n  '${escHive(cmt)}'\n")
    sb.append(s"LOCATION\n  '$location'\n")
    if (props.nonEmpty) {
      sb.append("WITH DBPROPERTIES (\n")
      sb.append(props.sortBy(_._1).map { case (k, v) =>
        s"  '$k'='${escHive(v)}'" }.mkString(", \n"))
      sb.append(")\n")
    }
    sb.toString.split("\n", -1).toSeq.filter(_.nonEmpty)
  }
}
