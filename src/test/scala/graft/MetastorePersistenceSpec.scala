package graft

/** Metastore persistence (`spark.graft.metastore.path`): a fresh
  * [[HiveStatements]] instance over the same conf must serve the
  * metadata read surface identically after a "restart" — the
  * reference metastore's restart contract (ObjectStore over an RDBMS;
  * here a single-file ledger next to the warehouse).
  */
class MetastorePersistenceSpec extends SparkSpec {

  private def render(h: HiveStatements, q: String): Seq[String] =
    h.sql(q).get.collect().map(_.toSeq.map {
      case null => ""
      case v => v.toString
    }.mkString("")).toSeq

  test("a fresh HiveStatements over the same ledger serves DESCRIBE " +
      "FORMATTED / SHOW PARTITIONS / column stats / namespace " +
      "identically after restart") {
    val ledger = java.nio.file.Files
      .createTempDirectory("graft_ms").toString + "/metastore.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h1 = new HiveStatements(spark)
      h1.sql("CREATE DATABASE IF NOT EXISTS perdb COMMENT 'persisted db'")
      h1.sql("DROP TABLE IF EXISTS perdb.per_t")
      h1.sql("CREATE TABLE perdb.per_t (k INT COMMENT 'the key', " +
        "v STRING) PARTITIONED BY (ds STRING) " +
        "CLUSTERED BY (k) SORTED BY (k ASC) INTO 4 BUCKETS " +
        "STORED AS ORC TBLPROPERTIES ('who'='me')")
      h1.sql("ALTER TABLE perdb.per_t ADD PARTITION (ds='2026-01-01')")
      h1.sql("ALTER TABLE perdb.per_t ADD PARTITION (ds='2026-01-02')")
      spark.sql("DROP TABLE IF EXISTS per_s")
      h1.sql("CREATE TABLE per_s (k INT, v STRING) STORED AS PARQUET")
      h1.sql("INSERT INTO per_s VALUES (1,'aa'), (2,'bbb'), (2,'aa')")
      h1.sql("ANALYZE TABLE per_s COMPUTE STATISTICS FOR COLUMNS k, v")
      h1.sql("ALTER TABLE per_s UPDATE STATISTICS " +
        "SET ('numRows'='3')")

      val queries = Seq(
        "DESCRIBE FORMATTED perdb.per_t",
        "SHOW PARTITIONS perdb.per_t",
        "SHOW CREATE TABLE perdb.per_t",
        "DESCRIBE FORMATTED per_s k",
        "DESCRIBE FORMATTED per_s v",
        "DESCRIBE FORMATTED per_s",
        "SHOW DATABASES",
        "SHOW TABLES IN perdb",
        "DESCRIBE DATABASE perdb")
      val before = queries.map(q => q -> render(h1, q)).toMap

      // "restart": a brand-new dispatcher restores from the ledger
      val h2 = new HiveStatements(spark)
      for (q <- queries)
        assert(render(h2, q) === before(q), s"after restart: $q")
      // restored stats are live metadata, not just rendering: the
      // column-stat ledger serves overrides set before the restart
      h2.sql("ALTER TABLE per_s UPDATE STATISTICS FOR COLUMN k " +
        "SET ('numDVs'='99')")
      val kRow = h2.sql("DESCRIBE FORMATTED per_s k").get.collect()
        .find(_.getString(0).trim == "k").get
      assert(kRow.getString(5).trim === "99")
      assert(kRow.getString(2).trim === "1") // min from pre-restart ANALYZE
    } finally {
      spark.conf.unset("spark.graft.metastore.path")
      val h = new HiveStatements(spark)
      h.sql("DROP TABLE IF EXISTS perdb.per_t")
      spark.sql("DROP TABLE IF EXISTS perdb__per_t")
      spark.sql("DROP TABLE IF EXISTS per_s")
    }
  }

  test("a partition that DELETE empties survives a restart: SHOW " +
      "PARTITIONS still lists it, as Hive keeps it") {
    val base = java.nio.file.Files.createTempDirectory("graft_msrs")
    spark.conf.set("spark.graft.metastore.path", s"$base/metastore.ledger")
    try {
      val h1 = new HiveStatements(spark)
      freshTable("pz_rs")
      h1.sql("CREATE EXTERNAL TABLE pz_rs (k INT) PARTITIONED BY " +
        s"(ds STRING) STORED AS PARQUET LOCATION '$base/pz_rs'")
      h1.sql("INSERT INTO pz_rs PARTITION (ds) VALUES (1, 'a'), (2, 'b'), " +
        "(3, 'c')")
      h1.sql("DELETE FROM pz_rs WHERE ds = 'a'")
      def parts(h: HiveStatements) = h.sql("SHOW PARTITIONS pz_rs").get
        .collect().map(_.getString(0)).toSeq.sorted
      assert(parts(h1) === Seq("ds=a", "ds=b", "ds=c"))
      // the "restart": catalog forgets, files + ledger survive
      spark.sessionState.catalog.dropTable(
        org.apache.spark.sql.catalyst.TableIdentifier("pz_rs"),
        ignoreIfNotExists = false, purge = false)
      val h2 = new HiveStatements(spark)
      assert(parts(h2) === Seq("ds=a", "ds=b", "ds=c"))
      assert(h2.sql("SELECT k FROM pz_rs").get.collect().map(_.getInt(0))
        .sorted.toSeq === Seq(2, 3))
    } finally {
      spark.conf.unset("spark.graft.metastore.path")
      freshTable("pz_rs")
    }
  }

  test("a renamed partition that held rows leaves SHOW PARTITIONS, in " +
      "the session and after a restart") {
    val base = java.nio.file.Files.createTempDirectory("graft_msrn")
    spark.conf.set("spark.graft.metastore.path", s"$base/metastore.ledger")
    try {
      val h1 = new HiveStatements(spark)
      freshTable("pz_rn")
      h1.sql("CREATE EXTERNAL TABLE pz_rn (k INT) PARTITIONED BY " +
        s"(ds STRING) STORED AS PARQUET LOCATION '$base/pz_rn'")
      h1.sql("INSERT INTO pz_rn PARTITION (ds) VALUES (1, 'a'), (2, 'b')")
      h1.sql("ALTER TABLE pz_rn PARTITION (ds = 'a') RENAME TO " +
        "PARTITION (ds = 'c')")
      def parts(h: HiveStatements) = h.sql("SHOW PARTITIONS pz_rn").get
        .collect().map(_.getString(0)).toSeq.sorted
      assert(parts(h1) === Seq("ds=b", "ds=c"))
      spark.sessionState.catalog.dropTable(
        org.apache.spark.sql.catalyst.TableIdentifier("pz_rn"),
        ignoreIfNotExists = false, purge = false)
      val h2 = new HiveStatements(spark)
      assert(parts(h2) === Seq("ds=b", "ds=c"))
      assert(h2.sql("SELECT k, ds FROM pz_rn").get.collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted.toSeq ===
        Seq((1, "c"), (2, "b")))
    } finally {
      spark.conf.unset("spark.graft.metastore.path")
      freshTable("pz_rn")
    }
  }

  test("catalog DATA tables re-register from the ledger: a fresh " +
      "dispatcher serves SELECT after the in-memory catalog forgot " +
      "the binding (restart recovery, not just DESCRIBE)") {
    val base = java.nio.file.Files.createTempDirectory("graft_msd")
    val ledger = s"$base/metastore.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h1 = new HiveStatements(spark)
      spark.sql("DROP TABLE IF EXISTS per_data")
      // EXTERNAL: dropping the catalog entry below simulates a
      // restart (files survive; a managed drop would delete them)
      h1.sql(s"CREATE EXTERNAL TABLE per_data (k INT, v STRING) " +
        s"STORED AS PARQUET LOCATION '$base/per_data'")
      h1.sql("INSERT INTO per_data VALUES (1,'a'), (2,'b')")
      spark.sql("DROP TABLE IF EXISTS per_part")
      h1.sql(s"CREATE EXTERNAL TABLE per_part (k INT) " +
        s"PARTITIONED BY (ds STRING) STORED AS PARQUET " +
        s"LOCATION '$base/per_part'")
      h1.sql("INSERT INTO per_part PARTITION (ds='a') VALUES (1)")
      h1.sql("INSERT INTO per_part PARTITION (ds='b') VALUES (2)")
      // the "restart": catalog forgets, warehouse files survive
      spark.sessionState.catalog.dropTable(
        org.apache.spark.sql.catalyst.TableIdentifier("per_data"),
        ignoreIfNotExists = false, purge = false)
      spark.sessionState.catalog.dropTable(
        org.apache.spark.sql.catalyst.TableIdentifier("per_part"),
        ignoreIfNotExists = false, purge = false)
      assert(!spark.catalog.tableExists("per_data"))
      val h2 = new HiveStatements(spark)
      val got = h2.sql("SELECT k, v FROM per_data ORDER BY k").get
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got === Seq((1, "a"), (2, "b")))
      // partitioned recovery: partitions rebuilt from the dir layout,
      // and partition pruning still applies to the recovered table
      val p = h2.sql("SELECT k FROM per_part WHERE ds='b'").get
        .collect().map(_.getInt(0)).toSeq
      assert(p === Seq(2))
      spark.sql("DROP TABLE IF EXISTS per_data")
      spark.sql("DROP TABLE IF EXISTS per_part")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("a DELIMITED (csv-provider) table restores its storage " +
      "OPTIONS after restart — separator and null markers read " +
      "back, not default commas") {
    val base = java.nio.file.Files.createTempDirectory("graft_msc")
    val ledger = s"$base/metastore.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h1 = new HiveStatements(spark)
      spark.sql("DROP TABLE IF EXISTS per_csv")
      h1.sql("CREATE EXTERNAL TABLE per_csv (k INT, v STRING) " +
        "ROW FORMAT DELIMITED FIELDS TERMINATED BY '|' " +
        s"STORED AS TEXTFILE LOCATION '$base/per_csv'")
      h1.sql("INSERT INTO per_csv VALUES (1,'a,b'), (2,'c')")
      val before = h1.sql("SELECT k, v FROM per_csv ORDER BY k").get
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(before === Seq((1, "a,b"), (2, "c")),
        s"pre-restart read: $before")
      // the "restart": catalog forgets, files + ledger survive
      spark.sessionState.catalog.dropTable(
        org.apache.spark.sql.catalyst.TableIdentifier("per_csv"),
        ignoreIfNotExists = false, purge = false)
      val h2 = new HiveStatements(spark)
      val after = h2.sql("SELECT k, v FROM per_csv ORDER BY k").get
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      // the defining assert: the value containing a COMMA is intact
      // (a restore that lost the '|' separator option would re-split
      // "1|a,b" on commas and corrupt both columns)
      assert(after === before, "storage options survived restart")
      assert(after.head === ((1, "a,b")))
      spark.sql("DROP TABLE IF EXISTS per_csv")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("crash between tmp-write and rename recovers: the load path " +
      "falls back to the surviving .tmp snapshot") {
    val base = java.nio.file.Files.createTempDirectory("graft_msx")
    val ledger = s"$base/ms.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h1 = new HiveStatements(spark)
      spark.sql("DROP TABLE IF EXISTS crash_t")
      h1.sql("CREATE TABLE crash_t (k INT) COMMENT 'survives' " +
        "STORED AS PARQUET")
      // simulate the worst-case crash: the primary is gone and only
      // the freshly-written temp snapshot exists
      val lf = new java.io.File(ledger)
      val tmp = new java.io.File(lf.getParentFile,
        "." + lf.getName + ".tmp")
      java.nio.file.Files.move(lf.toPath, tmp.toPath)
      assert(!lf.exists() && tmp.exists())
      val h2 = new HiveStatements(spark)
      assert(h2.meta.tableComment.get("crash_t").contains("survives"),
        "state recovered from .tmp")
      spark.sql("DROP TABLE IF EXISTS crash_t")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("format pin: a COMMITTED v2 fixture ledger loads across " +
      "upgrades (explicit JSON, not Java serialization)") {
    val url = getClass.getResource("/fixture_v2.ledger")
    assert(url != null, "fixture_v2.ledger missing from resources")
    spark.conf.set("spark.graft.metastore.path", url.getPath)
    try {
      val h = new HiveStatements(spark)
      assert(h.meta.tableComment.get("fix_t").contains("pinned comment"))
      assert(h.meta.createTime.get("fix_t").contains(1700000000L))
      assert(h.auth.roles.contains("fixrole"))
      val lines = h.sql("SHOW GRANT USER alice ON TABLE fix_t").get
        .collect().map(_.toSeq.mkString("\t"))
      assert(lines.toSeq === Seq(
        "default\tfix_t\t\t\talice\tUSER\tSELECT\ttrue\t-1\tbob"))
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("format pin v2.1: a COMMITTED per-entry ledger (sharded " +
      "partition/grant lines, a delta segment with a tombstone, " +
      "nonce-stamped segment names) loads across upgrades") {
    val url = getClass.getResource("/ledger_v21/ms.ledger")
    assert(url != null, "ledger_v21 fixture missing from resources")
    spark.conf.set("spark.graft.metastore.path", url.getPath)
    try {
      val h = new HiveStatements(spark)
      assert(h.meta.tableComment.get("fix21_t").contains("pinned v2.1"))
      // ds='a' was tombstoned in a later delta segment; ds='b' survives
      val parts = h.meta.addedParts.getOrElse("fix21_t",
        scala.collection.mutable.LinkedHashSet.empty).toSeq
      assert(parts === Seq(Seq(("ds", "b"))), parts)
      val g = h.sql("SHOW GRANT USER pinuser ON TABLE fix21_t").get
        .collect().map(_.toSeq.mkString("\t"))
      assert(g.length === 1 && g.head.contains("\tSELECT\t"),
        g.mkString("\n"))
    } finally {
      spark.conf.unset("spark.graft.metastore.path")
      // the ledger re-registers its catalog table; drop the stray
      spark.sql("DROP TABLE IF EXISTS fix21_t")
    }
  }

  test("authorization state persists: grant -> restart -> SHOW " +
      "GRANT / SHOW ROLES identical") {
    val base = java.nio.file.Files.createTempDirectory("graft_msa")
    spark.conf.set("spark.graft.metastore.path", s"$base/ms.ledger")
    try {
      val h1 = new HiveStatements(spark)
      h1.sql("CREATE ROLE pledge")
      h1.sql("GRANT ROLE pledge TO USER carol")
      h1.sql("GRANT SELECT, INSERT ON TABLE fix_auth TO USER carol " +
        "WITH GRANT OPTION")
      def dump(h: HiveStatements): Seq[String] =
        h.sql("SHOW GRANT USER carol ON TABLE fix_auth").get.collect()
          .map(_.toSeq.mkString("\t")).toSeq ++
          h.sql("SHOW ROLES").get.collect().map(_.getString(0)).toSeq ++
          h.sql("SHOW ROLE GRANT USER carol").get.collect()
            .map(_.toSeq.mkString("\t")).toSeq
      val before = dump(h1)
      assert(before.exists(_.contains("pledge")), before.mkString("\n"))
      val h2 = new HiveStatements(spark)
      assert(dump(h2) === before, "auth state survived restart")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("incremental persistence: a mass ADD PARTITION script writes " +
      "per-statement DELTA segments (changed keys only), not full " +
      "snapshots; restart merges base+deltas; compaction bounds the " +
      "segment count") {
    val base = java.nio.file.Files.createTempDirectory("graft_msi")
    val ledger = s"$base/ms.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h1 = new HiveStatements(spark)
      spark.sql("DROP TABLE IF EXISTS inc_t")
      h1.sql("CREATE TABLE inc_t (k INT) PARTITIONED BY (ds STRING) " +
        "STORED AS PARQUET")
      val lf = new java.io.File(ledger)
      val dd = new java.io.File(lf.getParentFile,
        "." + lf.getName + ".delta")
      val baseLenAfterCreate = lf.length()
      val baseModAfterCreate = lf.lastModified()
      // 40 ADD PARTITIONs: each persists durably but must cost only
      // a small delta, never a base rewrite (O(changed-keys) bytes —
      // the O(n^2) mass-migration hazard)
      (1 to 40).foreach(i =>
        h1.sql(s"ALTER TABLE inc_t ADD PARTITION (ds='d$i')"))
      assert(lf.length() === baseLenAfterCreate &&
        lf.lastModified() === baseModAfterCreate,
        "base snapshot must not rewrite per statement")
      val segs = dd.listFiles().filter(_.getName.endsWith(".json"))
      assert(segs.length === 40, s"got ${segs.length} delta segments")
      // each delta holds only the keys that changed (a handful of
      // lines), not the whole metastore
      val segLines = scala.io.Source.fromFile(segs.head)
        .getLines().size
      assert(segLines < 8, s"delta holds $segLines keys")
      // restart: base + deltas merge, last writer per key wins
      val h2 = new HiveStatements(spark)
      val parts = h2.sql("SHOW PARTITIONS inc_t").get.collect()
        .map(_.getString(0)).toSeq
      assert(parts.size === 40 && parts.contains("ds=d40"), parts.size)
      // compaction: a dispatcher with a count-only trigger (ratio 0)
      // folds everything back into one base snapshot every 16
      // segments — the segment count stays bounded
      val h2c = new HiveStatements(spark) {
        override protected def ledgerCompactEvery = 16
        override protected def ledgerCompactRatio = 0.0
      }
      (41 to 140).foreach(i =>
        h2c.sql(s"ALTER TABLE inc_t ADD PARTITION (ds='d$i')"))
      val segs2 = Option(dd.listFiles()).map(
        _.count(_.getName.endsWith(".json"))).getOrElse(0)
      assert(segs2 < 16, s"compaction never ran: $segs2 segments")
      assert(lf.lastModified() > baseModAfterCreate,
        "compaction rewrote the base")
      val h3 = new HiveStatements(spark)
      assert(h3.sql("SHOW PARTITIONS inc_t").get.collect().length === 140)
      // crash between a compaction's base-write and its segment
      // cleanup: a STALE segment (older epoch) must not replay over
      // the newer base — plant one carrying a bogus table comment
      val stale = new java.io.File(dd, "00000000.00000001.json")
      dd.mkdirs()
      val pw = new java.io.PrintWriter(stale, "UTF-8")
      try pw.println(graft.meta.LedgerJson.encodeLine("tableComment",
        scala.collection.mutable.LinkedHashMap(
          "inc_t" -> "STALE-EPOCH")))
      finally pw.close()
      val h4 = new HiveStatements(spark)
      assert(!h4.meta.tableComment.get("inc_t").contains("STALE-EPOCH"),
        "stale-epoch segment replayed over the newer base")
      assert(h4.sql("SHOW PARTITIONS inc_t").get.collect().length === 140)
      spark.sql("DROP TABLE IF EXISTS inc_t")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("per-entry deltas: 500 ADD PARTITIONs cost O(N) total bytes — " +
      "every delta holds one partition entry, not the whole registry, " +
      "and compaction is geometric (size-gated), so the mass-migration " +
      "write volume stays linear") {
    val base = java.nio.file.Files.createTempDirectory("graft_msn")
    val ledger = s"$base/ms.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h1 = new HiveStatements(spark)
      freshTable("massadd_t")
      h1.sql("CREATE TABLE massadd_t (k INT) PARTITIONED BY (ds STRING) " +
        "STORED AS PARQUET")
      val lf = new java.io.File(ledger)
      val dd = new java.io.File(lf.getParentFile,
        "." + lf.getName + ".delta")
      var totalBytes = 0L // every byte the ledger wrote, ever
      var compactions = 0
      var maxSegBytes = 0L
      val seenSegs = scala.collection.mutable.Set[String]()
      var lastBaseMod = lf.lastModified()
      (1 to 500).foreach { i =>
        h1.sql(s"ALTER TABLE massadd_t ADD PARTITION (ds='p$i')")
        Option(dd.listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.endsWith(".json") &&
            !seenSegs.contains(f.getName))
          .foreach { f =>
            seenSegs += f.getName
            totalBytes += f.length()
            maxSegBytes = math.max(maxSegBytes, f.length())
          }
        if (lf.lastModified() != lastBaseMod) {
          lastBaseMod = lf.lastModified()
          compactions += 1
          totalBytes += lf.length()
        }
      }
      // a delta carries ONE partition entry (plus the occasional
      // sibling key), never the whole registry: at statement 499 a
      // whole-map encoding would be ~50KB
      assert(maxSegBytes < 2000,
        s"a delta segment reached $maxSegBytes bytes — not per-entry")
      // geometric compaction: each base rewrite needs delta bytes >=
      // base/2, so rewrites thin out as the base grows (a fixed
      // count-trigger would rewrite the full base every 64 statements)
      assert(compactions <= 8, s"$compactions base rewrites in 500 adds")
      // the O(N) headline: 500 one-entry deltas + geometric
      // compactions; the old whole-map delta format wrote ~15MB here
      assert(totalBytes < 2500000,
        s"total ledger write volume $totalBytes bytes is super-linear")
      val h2 = new HiveStatements(spark)
      assert(h2.sql("SHOW PARTITIONS massadd_t").get.collect()
        .length === 500)
      freshTable("massadd_t")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("tombstones: DROP PARTITION and REVOKE inside delta segments " +
      "remove their entries across restart (no resurrection from the " +
      "base snapshot)") {
    val base = java.nio.file.Files.createTempDirectory("graft_mst")
    spark.conf.set("spark.graft.metastore.path", s"$base/ms.ledger")
    try {
      // compact-on-every-save setup dispatcher: everything below
      // lands in the BASE snapshot
      val h0 = new HiveStatements(spark) {
        override protected def ledgerCompactEvery = 1
        override protected def ledgerCompactRatio = 0.0
      }
      freshTable("tomb_t")
      h0.sql("CREATE TABLE tomb_t (k INT) PARTITIONED BY (ds STRING) " +
        "STORED AS PARQUET")
      h0.sql("GRANT SELECT ON TABLE tomb_t TO USER tombuser")
      (1 to 3).foreach(i =>
        h0.sql(s"ALTER TABLE tomb_t ADD PARTITION (ds='t$i')"))
      // the removals land in DELTA segments over a base that still
      // holds the entries — only a tombstone line can kill them
      val h1 = new HiveStatements(spark)
      h1.sql("ALTER TABLE tomb_t DROP PARTITION (ds='t2')")
      h1.sql("REVOKE SELECT ON TABLE tomb_t FROM USER tombuser")
      val h2 = new HiveStatements(spark)
      val parts = h2.sql("SHOW PARTITIONS tomb_t").get.collect()
        .map(_.getString(0)).toSeq
      assert(parts === Seq("ds=t1", "ds=t3"), parts)
      val g = h2.sql("SHOW GRANT USER tombuser ON TABLE tomb_t").get
        .collect()
      assert(g.isEmpty, "revoked grant resurrected across restart")
      freshTable("tomb_t")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("two dispatchers on ONE metastore path: interleaved and " +
      "concurrent writes union — nonce segment names + dir rescan + " +
      "in-JVM lock close the segment-overwrite race") {
    val base = java.nio.file.Files.createTempDirectory("graft_msw")
    val ledger = s"$base/ms.ledger"
    val sA = spark.newSession()
    val sB = spark.newSession()
    sA.conf.set("spark.graft.metastore.path", ledger)
    sB.conf.set("spark.graft.metastore.path", ledger)
    val hA = new HiveStatements(sA)
    // A writes first so B's construction sees an existing base
    hA.sql("CREATE ROLE race_role_a")
    val hB = new HiveStatements(sB)
    hB.sql("CREATE ROLE race_role_b")
    hA.sql("GRANT SELECT ON TABLE race_t TO USER userA")
    hB.sql("GRANT INSERT ON TABLE race_t TO USER userB")
    // same-sequence concurrent burst: 20 grants from each dispatcher
    // on two threads — without collision-free segment names one
    // side's rename-OVERWRITE would silently drop the other's rows
    val tA = new Thread(() => (1 to 20).foreach(i =>
      hA.sql(s"GRANT SELECT ON TABLE race_t TO USER burstA$i")))
    val tB = new Thread(() => (1 to 20).foreach(i =>
      hB.sql(s"GRANT INSERT ON TABLE race_t TO USER burstB$i")))
    tA.start(); tB.start(); tA.join(); tB.join()
    val sC = spark.newSession()
    sC.conf.set("spark.graft.metastore.path", ledger)
    val hC = new HiveStatements(sC)
    val roles = hC.sql("SHOW ROLES").get.collect()
      .map(_.getString(0)).toSet
    assert(roles.contains("race_role_a") && roles.contains("race_role_b"),
      s"roles lost in the race: $roles")
    val grants = hC.sql("SHOW GRANT ON TABLE race_t").get.collect()
      .map(_.getString(4)).toSet
    assert(grants.contains("userA") && grants.contains("userB"))
    (1 to 20).foreach { i =>
      assert(grants.contains(s"burstA$i"), s"burstA$i lost")
      assert(grants.contains(s"burstB$i"), s"burstB$i lost")
    }
    // compaction by one writer must carry the OTHER writer's entries
    // into the new base (foreign-key merge), not erase them
    val hA2 = new HiveStatements(sA) {
      override protected def ledgerCompactEvery = 2
      override protected def ledgerCompactRatio = 0.0
    }
    (1 to 6).foreach(i =>
      hA2.sql(s"GRANT SELECT ON TABLE compact_t TO USER cmp$i"))
    val sD = spark.newSession()
    sD.conf.set("spark.graft.metastore.path", ledger)
    val hD = new HiveStatements(sD)
    val after = hD.sql("SHOW GRANT ON TABLE race_t").get.collect()
      .map(_.getString(4)).toSet
    assert(after.contains("userB") && after.contains("burstB20"),
      "compaction by writer A erased writer B's grants")
    assert(hD.sql("SHOW ROLES").get.collect().map(_.getString(0))
      .toSet.contains("race_role_b"))
  }

  test("cross-PROCESS compaction window: a foreign delta landing " +
      "between the compaction's pre-read and its cleanup is folded " +
      "into the new base (re-list-and-merge), and a writer whose " +
      "epoch went stale under a foreign compaction adopts the " +
      "advanced base epoch so its next delta stays visible") {
    val base = java.nio.file.Files.createTempDirectory("graft_msx")
    val ledger = s"$base/ms.ledger"
    val sA = spark.newSession()
    val sB = spark.newSession()
    sA.conf.set("spark.graft.metastore.path", ledger)
    sB.conf.set("spark.graft.metastore.path", ledger)
    val hA = new HiveStatements(sA)
    hA.sql("GRANT SELECT ON TABLE xw_t TO USER seedA") // writes the base
    // a sibling "process" writes a delta; capture its bytes and pull
    // the file back OFF disk so the compactor's pre-read cannot see
    // it — the in-JVM lock is deliberately bypassed, exactly like a
    // second JVM whose delta lands mid-compaction
    val hB = new HiveStatements(sB)
    hB.sql("GRANT INSERT ON TABLE xw_t TO USER victimB")
    val dd = new java.io.File(s"$base/.ms.ledger.delta")
    val seg = dd.listFiles().filter(_.getName.endsWith(".json"))
      .maxBy(_.getName)
    val segBytes = java.nio.file.Files.readAllBytes(seg.toPath)
    java.nio.file.Files.delete(seg.toPath)
    // compactor: every save compacts; the seam re-lands the sibling's
    // (stale-epoch) delta exactly between base write and cleanup
    val hC = new HiveStatements(sA) {
      override protected def ledgerCompactEvery = 1
      override protected def ledgerCompactRatio = 0.0
      override protected def onCompactionBaseWritten(): Unit =
        java.nio.file.Files.write(seg.toPath, segBytes)
    }
    hC.sql("GRANT SELECT ON TABLE xw_t TO USER fromC")
    assert(!seg.exists(),
      "the folded foreign segment should be cleaned up")
    val sD = spark.newSession()
    sD.conf.set("spark.graft.metastore.path", ledger)
    val hD = new HiveStatements(sD)
    val grants = hD.sql("SHOW GRANT ON TABLE xw_t").get.collect()
      .map(_.getString(4)).toSet
    assert(grants === Set("seedA", "victimB", "fromC"),
      s"foreign delta lost in the compaction window: $grants")
    // epoch adoption: hB still believes the PRE-compaction epoch; its
    // next delta must adopt the advanced base epoch or every future
    // loader would ignore the segment
    hB.sql("GRANT INSERT ON TABLE xw_t TO USER lateB")
    val sE = spark.newSession()
    sE.conf.set("spark.graft.metastore.path", ledger)
    val hE = new HiveStatements(sE)
    val after = hE.sql("SHOW GRANT ON TABLE xw_t").get.collect()
      .map(_.getString(4)).toSet
    assert(after === Set("seedA", "victimB", "fromC", "lateB"),
      s"stale-epoch writer's delta invisible after foreign " +
        s"compaction: $after")
  }

  test("atomicReplaceFallback crash window: dst moved aside to .bak, " +
      "crash before the new file renames in — the loader recovers " +
      "the NEWEST complete snapshot from .tmp, never loses both") {
    val base = java.nio.file.Files.createTempDirectory("graft_msb")
    val ledger = s"$base/ms.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h1 = new HiveStatements(spark)
      freshTable("bak_t")
      h1.sql("CREATE TABLE bak_t (k INT) COMMENT 'v1' STORED AS PARQUET")
      val lf = new java.io.File(ledger)
      val v1 = java.nio.file.Files.readAllBytes(lf.toPath)
      // a compact-on-every-save dispatcher folds the v2 state into
      // ONE base file for a clean simulation
      val h1b = new HiveStatements(spark) {
        override protected def ledgerCompactEvery = 1
        override protected def ledgerCompactRatio = 0.0
      }
      h1b.sql("ALTER TABLE bak_t SET TBLPROPERTIES ('ver'='v2')")
      val v2 = java.nio.file.Files.readAllBytes(lf.toPath)
      // simulate the fallback's crash window: old state at .bak, new
      // complete state at .tmp, dst missing
      val tmp = new java.io.File(lf.getParentFile, "." + lf.getName + ".tmp")
      val bak = new java.io.File(lf.getParentFile, "." + lf.getName + ".bak")
      java.nio.file.Files.write(tmp.toPath, v2)
      java.nio.file.Files.write(bak.toPath, v1)
      // the deltas belong to the surviving snapshots' epoch lineage;
      // clear them so the recovered state is exactly the snapshot
      val dd = new java.io.File(lf.getParentFile, "." + lf.getName + ".delta")
      Option(dd.listFiles()).foreach(_.foreach(_.delete()))
      lf.delete()
      val h2 = new HiveStatements(spark)
      assert(h2.meta.tableProps.get("bak_t").exists(_.contains("ver")),
        ".tmp (newest complete) snapshot not recovered")
      // and when only .bak survives (crash before tmp finished is
      // impossible in the fallback ordering, but a manual wipe isn't):
      tmp.delete()
      val h3 = new HiveStatements(spark)
      assert(h3.meta.tableComment.get("bak_t").contains("v1"),
        ".bak fallback not read")
      spark.sql("DROP TABLE IF EXISTS bak_t")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("metastore path SWITCH mid-session resets delta state: the " +
      "first save against the new path never overwrites one of its " +
      "existing segments with a stale sequence number") {
    val base = java.nio.file.Files.createTempDirectory("graft_msp")
    val ledgerA = s"$base/a.ledger"
    val ledgerB = s"$base/b.ledger"
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.metastore.path", ledgerB)
    val hB = new HiveStatements(s1)
    hB.sql("GRANT SELECT ON TABLE switch_t TO USER beforeswitch")
    hB.sql("GRANT INSERT ON TABLE switch_t TO USER beforeswitch2")
    val ddB = new java.io.File(new java.io.File(ledgerB).getParentFile,
      ".b.ledger.delta")
    val segsBefore = Option(ddB.listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty)
    // a session that already persisted deltas to path A switches to B
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.metastore.path", ledgerA)
    val hA = new HiveStatements(s2)
    (1 to 5).foreach(i =>
      hA.sql(s"GRANT SELECT ON TABLE pre_t TO USER pre$i"))
    s2.conf.set("spark.graft.metastore.path", ledgerB)
    hA.sql("GRANT SELECT ON TABLE switch_t TO USER afterswitch")
    assert(Option(ddB.listFiles()).map(_.map(_.getName).toSet)
      .getOrElse(Set.empty).intersect(segsBefore) === segsBefore,
      "path switch overwrote an existing segment of the new path")
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.metastore.path", ledgerB)
    val hChk = new HiveStatements(s3)
    val who = hChk.sql("SHOW GRANT ON TABLE switch_t").get.collect()
      .map(_.getString(4)).toSet
    assert(who === Set("beforeswitch", "beforeswitch2", "afterswitch"),
      s"keys lost across the path switch: $who")
  }

  test("50k-entry ledger scale (slow; run with -Dgraft.slow=1): " +
      "per-statement SAVE latency stays flat as the metastore grows " +
      "— the identity-memoized entry encodings make each delta save " +
      "O(changed entries) + a cheap cache-hit walk, not " +
      "O(metastore) re-encoding") {
    assume(sys.props.contains("graft.slow"),
      "slow-tagged: ~6-8 min, dominated by Spark's own per-partition " +
        "catalog directory creation; enable with -Dgraft.slow=1")
    val base = java.nio.file.Files.createTempDirectory("graft_ms50k")
    val ledger = s"$base/ms.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      // measure OUR persistence layer per save — the statement wall
      // time is dominated by Spark's InMemoryCatalog mkdir-per-
      // partition (the reference metastore mkdirs per add_partition
      // too), which is not what the memoization claim is about
      val saveTimes = scala.collection.mutable.ArrayBuffer[Long]()
      val h1 = new HiveStatements(spark) {
        override def saveMetastoreLedger(): Unit = {
          val t0 = System.nanoTime()
          super.saveMetastoreLedger()
          saveTimes += System.nanoTime() - t0
        }
      }
      freshTable("big_t")
      h1.sql("CREATE TABLE big_t (k INT) PARTITIONED BY (ds STRING) " +
        "STORED AS PARQUET")
      // 1000 batched statements × 50 partitions = 50k entries, the
      // shape of a real migration
      var next = 0
      (0 until 1000).foreach { _ =>
        val specs = (1 to 50).map { _ =>
          next += 1; s"PARTITION (ds='p$next')" }.mkString(" ")
        h1.sql(s"ALTER TABLE big_t ADD IF NOT EXISTS $specs")
      }
      def medianMs(xs: Seq[Long]): Double = {
        val s = xs.sorted; s(s.size / 2) / 1e6
      }
      // early steady state (~5k-10k entries) vs late (~45k-50k);
      // median sidesteps the rare geometric compaction rewrites
      val n = saveTimes.size
      val early = medianMs(saveTimes.slice(n / 10, n / 5).toSeq)
      val late = medianMs(saveTimes.slice(n - 100, n).toSeq)
      info(f"per-save median: early(~5-10k)=$early%.1f ms, " +
        f"late(~45-50k)=$late%.1f ms over $n saves")
      assert(late < 300.0,
        f"median save latency $late%.1f ms at 50k entries — " +
          "per-entry memoization is not holding (re-encoding all " +
          "entries would sit at 1s+; the memoized walk is ~3 µs/entry)")
      assert(late < math.max(early, 5.0) * 8,
        f"save latency grew ${late / math.max(early, 5.0)}%.1fx " +
          "from 5k to 50k entries — cost is scaling with re-encoding")
      // durability: a fresh loader sees all 50k
      val h2 = new HiveStatements(spark)
      val cnt = h2.sql("SHOW PARTITIONS big_t").get.collect().length
      assert(cnt === 50000, s"$cnt partitions after restart")
      freshTable("big_t")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("5k-partition lifecycle: batched ADDs with interleaved DROP/" +
      "RENAME and real INSERTs restart-recover — SHOW PARTITIONS, " +
      "DESCRIBE, pruned SELECT all correct and the ledger directory " +
      "stays bounded") {
    val base = java.nio.file.Files.createTempDirectory("graft_ms5k")
    val ledger = s"$base/ms.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h1 = new HiveStatements(spark)
      freshTable("life_t")
      h1.sql("CREATE TABLE life_t (k INT) PARTITIONED BY (ds STRING) " +
        "STORED AS PARQUET")
      // 100 batched statements × 50 partitions — how a real migration
      // runs (the metastore API batches adds); every statement still
      // persists durably through the delta path
      var next = 0
      val dropped = scala.collection.mutable.Set[String]()
      val renamed = scala.collection.mutable.Set[(String, String)]()
      (1 to 100).foreach { b =>
        val specs = (1 to 50).map { _ =>
          next += 1; s"PARTITION (ds='p$next')" }.mkString(" ")
        h1.sql(s"ALTER TABLE life_t ADD IF NOT EXISTS $specs")
        if (b % 10 == 0) {
          val d = s"p${next - 5}"
          h1.sql(s"ALTER TABLE life_t DROP PARTITION (ds='$d')")
          dropped += d
          val r = s"p${next - 7}"
          h1.sql(s"ALTER TABLE life_t PARTITION (ds='$r') " +
            s"RENAME TO PARTITION (ds='${r}_r')")
          renamed += ((r, s"${r}_r"))
        }
      }
      h1.sql("INSERT INTO life_t PARTITION (ds='real1') VALUES (1)")
      h1.sql("INSERT INTO life_t PARTITION (ds='real2') VALUES (2)")
      // restart
      val h2 = new HiveStatements(spark)
      val parts = h2.sql("SHOW PARTITIONS life_t").get.collect()
        .map(_.getString(0)).toSet
      assert(parts.size === 5000 - dropped.size + 2, parts.size)
      dropped.foreach(d => assert(!parts.contains(s"ds=$d"), s"$d back"))
      renamed.foreach { case (f, t) =>
        assert(!parts.contains(s"ds=$f") && parts.contains(s"ds=$t"),
          s"rename $f->$t lost") }
      assert(parts.contains("ds=real1") && parts.contains("ds=real2"))
      assert(h2.sql("DESCRIBE FORMATTED life_t").get.collect().nonEmpty)
      val sel = h2.sql("SELECT k FROM life_t WHERE ds='real2'").get
        .collect().map(_.getInt(0)).toSeq
      assert(sel === Seq(2))
      // bounded footprint: one base O(#partitions × entry bytes) +
      // a compaction-bounded delta tail
      val lf = new java.io.File(ledger)
      val dd = new java.io.File(lf.getParentFile,
        "." + lf.getName + ".delta")
      val segBytes = Option(dd.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".json")).map(_.length()).sum
      assert(lf.length() < 4000000L,
        s"base snapshot ${lf.length()} bytes at 5k partitions")
      assert(segBytes < math.max(lf.length(), 200000L),
        s"delta tail $segBytes bytes not compaction-bounded")
      freshTable("life_t")
    } finally spark.conf.unset("spark.graft.metastore.path")
  }

  test("the ledger file is written on DDL and absent conf means no " +
      "writes (session-only metadata, harness-safe default)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ms2")
    val ledger = dir.toString + "/ms.ledger"
    spark.conf.set("spark.graft.metastore.path", ledger)
    try {
      val h = new HiveStatements(spark)
      spark.sql("DROP TABLE IF EXISTS led_t")
      h.sql("CREATE TABLE led_t (k INT) STORED AS PARQUET")
      assert(new java.io.File(ledger).exists(), "ledger written on DDL")
      spark.sql("DROP TABLE IF EXISTS led_t")
    } finally spark.conf.unset("spark.graft.metastore.path")
    val before = new java.io.File(ledger).lastModified()
    val h2 = new HiveStatements(spark) // no conf: no load, no writes
    spark.sql("DROP TABLE IF EXISTS led2_t")
    h2.sql("CREATE TABLE led2_t (k INT) STORED AS PARQUET")
    assert(new java.io.File(ledger).lastModified() === before)
    spark.sql("DROP TABLE IF EXISTS led2_t")
  }
}
