package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
import org.apache.spark.sql.types.{DataType, StringType, StructField,
  StructType}

import graft.HiveTypes.cvCast
import graft.operators.MergeInto
import scala.util.matching.Regex

/** Hive SQL statement dialect: the statement surface Hive accepts but
  * Spark's parser rejects — ACID `UPDATE`/`DELETE`/`MERGE INTO`
  * (ref: ql/parse/UpdateDeleteSemanticAnalyzer.java:62,86,327,594),
  * `LOAD DATA`, `EXPORT`/`IMPORT`
  * (ql/parse/ExportSemanticAnalyzer.java, ImportSemanticAnalyzer.java),
  * Hive-shaped `INSERT` (FROM-first multi-insert, WITH-prefixed
  * inserts, static/dynamic PARTITION specs, explicit column lists),
  * and `ALTER TABLE/VIEW ... RENAME` (incl. PARTITION RENAME).
  *
  * `execute(sql)` parses and runs a statement, returning false when
  * the text is not in this dialect surface (the caller then runs it as
  * a plain Spark query). Storage effects go through protected hooks so
  * one grammar+dispatch serves both bindings:
  *
  *  - production: temp views rebuild in place (localCheckpoint — no
  *    driver collect); catalog tables route UPDATE/DELETE/MERGE to
  *    [[MergeInto]]'s partition-scoped copy-on-write on the table
  *    location, and EXPORT/IMPORT move real parquet snapshots.
  *  - golden replay: the test harness overrides the hooks with its
  *    fixture machinery (delimited text views, in-memory exports).
  */
class HiveStatements(val spark: SparkSession) {
  import HiveStatements._

  /** The HiveQL dialect pre-processor bound to this dispatcher's
    * session. [[sql]] routes text through it; statement execution
    * mutates its session state (USE, CREATE DATABASE/MACRO/FUNCTION);
    * bindings may attach fixture hooks. */
  val dialect: HiveDialect = new HiveDialect(spark)
  dialect.partColsOf =
    t => meta.tablePartCols.getOrElse(meta.resolveLc(t), Nil)

  /** The session's Hive metadata layer (storage descriptors, table
    * properties, column comments, partition lifecycle) feeding the
    * DESCRIBE/SHOW read surface. Bindings with fixture knowledge
    * override the factory. */
  protected def newMetaStore: graft.meta.HiveMetaStore =
    new graft.meta.HiveMetaStore(spark, () => dialect.currentDb) {
      override def knownDb(db: String): Boolean =
        dialect.knownDbs.contains(db)
      // always-mangle namespace: a name CREATEd under a session
      // database resolves to its physical `db__name` binding
      override def resolveLc(t: String): String = {
        val base = t.split('.').last.toLowerCase
        val db = (if (t.contains(".")) t.split('.').head
          else dialect.currentDb).toLowerCase
        if (dialect.dbTables.get(db).exists(_.contains(base)))
          s"${db}__$base"
        else base
      }
    }
  lazy val meta: graft.meta.HiveMetaStore = newMetaStore

  /** The session's authorization store (GRANT/REVOKE/ROLE bookkeeping
    * + SHOW GRANT display surface; graft.meta.AuthStore). Privileges
    * persist across restarts through the metastore ledger. The
    * session user comes from `spark.graft.user` (falling back to the
    * Spark context's user), matching the reference's
    * SessionStateConfigUserAuthenticator contract. */
  val auth: graft.meta.AuthStore = {
    val a = new graft.meta.AuthStore
    a.expandAll = true // SQL-standard authorizer semantics by default
    a.currentUser = spark.conf.getOption("spark.graft.user")
      .getOrElse(spark.sparkContext.sparkUser)
    a
  }

  /** Whether [[sql]] itself observes DDL statements into [[meta]].
    * The golden-replay harness drives the store from its own replay
    * loop (with fixture-aware sequencing) and turns this off. */
  protected def autoObserveMeta: Boolean = true

  /** Whether [[sql]] serves DESCRIBE/SHOW from [[meta]] — the
    * harness asserts those statements itself and turns this off. */
  protected def serveMetaReads: Boolean = true

  // ---------------------------------------------------------------
  // metastore persistence (spark.graft.metastore.path)
  // ---------------------------------------------------------------

  /** Where the metadata ledger lives, when configured
    * (`spark.graft.metastore.path`): every metadata-mutating
    * statement rewrites the ledger, and a new [[HiveStatements]]
    * over the same conf restores the full metadata + namespace state
    * in its constructor — the restart contract of the reference's
    * metastore (ref metastore ObjectStore.java). The ledger holds
    * METADATA ONLY (storage descriptors, table/serde properties,
    * partition registry, column statistics, index/compaction
    * ledgers, database namespace bindings — KBs); table DATA
    * persists in the warehouse files independently. Session state
    * (the USE cursor, temp tables, explicit locks, macros) stays
    * session-scoped, as in HiveServer2. */
  protected def metastorePath: Option[String] =
    spark.conf.getOption("spark.graft.metastore.path")

  /** Every persistent ledger, keyed for the snapshot file. The values
    * are the LIVE collections — serialization snapshots their state;
    * [[ledgerRestore]] pours a deserialized snapshot back in. */
  private def ledgerSnapshot(): Map[String, AnyRef] = Map(
    "tableStorage" -> meta.tableStorage,
    "bucketMeta" -> meta.bucketMeta,
    "tableSkew" -> meta.tableSkew,
    "tableKind" -> meta.tableKind,
    "partStorage" -> meta.partStorage,
    "partBucketMeta" -> meta.partBucketMeta,
    "tablePartCols" -> meta.tablePartCols,
    "colComments" -> meta.colComments,
    "tableProps" -> meta.tableProps,
    "tablePropsOwner" -> meta.tablePropsOwner,
    "dbOwner" -> meta.dbOwner,
    "addedParts" -> meta.addedParts,
    "partSchemas" -> meta.partSchemas,
    "serdeProps" -> meta.serdeProps,
    "tableComment" -> meta.tableComment,
    "storedBy" -> meta.storedBy,
    "viewText" -> meta.viewText,
    "viewColList" -> meta.viewColList,
    "dbMeta" -> meta.dbMeta,
    "dbOwners" -> meta.dbOwners,
    "indexes" -> meta.indexes,
    "compactions" -> meta.compactions,
    "colStats" -> meta.colStats,
    "createTime" -> meta.createTime,
    "pkConstraints" -> meta.primaryKeys,
    "fkConstraints" -> meta.foreignKeys,
    "knownDbs" -> dialect.knownDbs,
    "dbTables" -> dialect.dbTables,
    // authorization state rides as plain string rows so the ledger
    // format stays self-describing (AuthStore.Grant is session-inner)
    "authGrants" -> auth.grants.toVector.map(g => Vector(g.db, g.table,
      g.part, g.col, g.principal, g.ptype, g.priv,
      g.grantOpt.toString, g.grantor)),
    "authRoles" -> auth.roles.toVector,
    "authRoleGrants" -> auth.roleGrants.toVector.map(e =>
      Vector(e._1, e._2, e._3, e._4.toString, e._5, e._6)),
    "authOwners" -> auth.owners,
    "catalogTables" -> catalogSnapshot())

  /** Catalog DATA tables ride in the ledger too — the in-memory
    * catalog forgets its bindings on restart even though the
    * warehouse files survive, so a fresh process re-registers each
    * table (name, schema, provider, location, partition columns,
    * type) and `SELECT` keeps working, not just DESCRIBE. The
    * reference gets this from the RDBMS metastore's TBLS/SDS rows. */
  private def catalogSnapshot()
      : Seq[(String, String, String, String, Seq[String], String,
        Seq[(String, String)], Seq[(String, String)])] = {
    val cat = spark.sessionState.catalog
    scala.util.Try {
      cat.listTables("default").flatMap { ident =>
        scala.util.Try(cat.getTableMetadata(
          ident.copy(database = Some("default")))).toOption.collect {
          case t if t.tableType !=
              org.apache.spark.sql.catalyst.catalog
                .CatalogTableType.VIEW && t.provider.isDefined =>
            (t.identifier.table, t.schema.json, t.provider.get,
              t.location.toString, t.partitionColumnNames,
              t.tableType.name,
              // storage OPTIONS decide how the files read back — a
              // csv table with sep='' restored without them
              // would silently re-read comma-split (the misread
              // hiveCreateRewrite exists to prevent)
              t.storage.properties.toSeq.sortBy(_._1),
              t.properties.toSeq.sortBy(_._1))
        }
      }
    }.getOrElse(Nil)
  }

  private def restoreCatalogTables(entries: Seq[(String, String,
      String, String, Seq[String], String, Seq[(String, String)],
      Seq[(String, String)])]): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat,
      CatalogTable, CatalogTableType}
    val cat = spark.sessionState.catalog
    entries.foreach {
      case (name, schemaJson, provider, location, partCols, typ,
          storageProps, tblProps) =>
        val ident = TableIdentifier(name, Some("default"))
        if (!cat.tableExists(ident) &&
            !spark.catalog.tableExists(name)) {
          val schema = DataType.fromJson(schemaJson)
            .asInstanceOf[StructType]
          val ct = CatalogTable(
            identifier = ident,
            tableType =
              if (typ == CatalogTableType.MANAGED.name)
                CatalogTableType.MANAGED
              else CatalogTableType.EXTERNAL,
            storage = CatalogStorageFormat.empty.copy(
              locationUri = Some(new java.net.URI(location)),
              properties = storageProps.toMap),
            schema = schema,
            provider = Some(provider),
            properties = tblProps.toMap,
            partitionColumnNames = partCols)
          scala.util.Try {
            cat.createTable(ct, ignoreIfExists = true)
            // partition registry rebuilds from the directory layout
            if (partCols.nonEmpty)
              spark.sql(s"MSCK REPAIR TABLE `$name`")
          }
        }
    }
  }

  private def ledgerRestore(s: Map[String, AnyRef]): Unit = {
    import scala.collection.mutable
    def into[E](key: String,
        dst: mutable.Growable[E] with mutable.Clearable): Unit =
      s.get(key).foreach { v =>
        dst.clear()
        dst ++= v.asInstanceOf[scala.collection.Iterable[E]]
      }
    into("tableStorage", meta.tableStorage)
    into("bucketMeta", meta.bucketMeta)
    into("tableSkew", meta.tableSkew)
    into("tableKind", meta.tableKind)
    into("partStorage", meta.partStorage)
    into("partBucketMeta", meta.partBucketMeta)
    into("tablePartCols", meta.tablePartCols)
    into("colComments", meta.colComments)
    into("tableProps", meta.tableProps)
    into("tablePropsOwner", meta.tablePropsOwner)
    into("dbOwner", meta.dbOwner)
    into("addedParts", meta.addedParts)
    into("partSchemas", meta.partSchemas)
    into("serdeProps", meta.serdeProps)
    into("tableComment", meta.tableComment)
    into("storedBy", meta.storedBy)
    into("viewText", meta.viewText)
    into("viewColList", meta.viewColList)
    into("dbMeta", meta.dbMeta)
    into("dbOwners", meta.dbOwners)
    into("indexes", meta.indexes)
    into("compactions", meta.compactions)
    into("colStats", meta.colStats)
    into("createTime", meta.createTime)
    into("pkConstraints", meta.primaryKeys)
    into("fkConstraints", meta.foreignKeys)
    into("knownDbs", dialect.knownDbs)
    into("dbTables", dialect.dbTables)
    s.get("authGrants").foreach { v =>
      auth.grants.clear()
      v.asInstanceOf[Iterable[Seq[String]]].foreach { r =>
        auth.grants += auth.Grant(r(0), r(1), r(2), r(3), r(4), r(5),
          r(6), r(7).toBoolean, r(8))
      }
    }
    s.get("authRoles").foreach { v =>
      auth.roles.clear()
      auth.roles ++= v.asInstanceOf[Iterable[String]]
    }
    s.get("authRoleGrants").foreach { v =>
      auth.roleGrants.clear()
      v.asInstanceOf[Iterable[Seq[String]]].foreach { r =>
        auth.roleGrants += ((r(0), r(1), r(2), r(3).toBoolean,
          r(4), r(5)))
      }
    }
    s.get("authOwners").foreach { v =>
      auth.owners.clear()
      auth.owners ++=
        v.asInstanceOf[Iterable[((String, String), String)]]
    }
    s.get("catalogTables").foreach(v => restoreCatalogTables(
      v.asInstanceOf[Seq[(String, String, String, String,
        Seq[String], String, Seq[(String, String)],
        Seq[(String, String)])]]))
  }

  /** Last encoded line written per ledger key — the diff base that
    * makes each statement's persist cost O(changed ENTRIES), not
    * O(whole metastore): the partition/grant/stat-scale collections
    * are persisted one line PER ENTRY ([[shardedNames]]), so a
    * 100k-`ADD PARTITION` migration writes 100k one-entry deltas +
    * periodic compactions instead of re-encoding the whole partition
    * registry per statement (the reference's RDBMS pays per-row
    * INSERTs the same way). Cleared on construction; primed by
    * load/full-write. */
  private val ledgerWritten =
    scala.collection.mutable.Map[String, String]()
  private var ledgerDeltaSeq = 0
  /** Collision-free segment naming for CONCURRENT writers: two
    * dispatchers sharing one metastore path (two Connect clients in
    * one server) each stamp their own nonce into segment file names,
    * so same-sequence writes can never rename-overwrite each other;
    * the loader applies all matching-epoch segments in sorted order
    * and [[saveMetastoreLedger]] rescans the segment dir before every
    * write to pick the next free sequence. In-JVM writers additionally
    * serialize through [[HiveStatements.ledgerLock]]. */
  private val ledgerNonce =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)
  /** Compaction epoch: the base snapshot records it and delta
    * segments carry it in their file names, so a crash between
    * base-write and segment cleanup can never replay STALE segments
    * over a newer base — the loader applies only segments whose
    * epoch matches the base it read. */
  private var ledgerEpoch = 0

  private def ledgerDeltaDir(path: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(
      Option(path.getParent)
        .getOrElse(new org.apache.hadoop.fs.Path(".")),
      "." + path.getName + ".delta")

  /** Atomic small-file write: tmp in the same dir, rename-overwrite
    * (FileContext). Filesystems without FileContext support fall back
    * to [[atomicReplaceFallback]] — move the CURRENT file aside to
    * `.bak` first, never delete-then-rename: a crash between those
    * two steps must always leave a complete snapshot recoverable
    * (the loader reads `path`, then `.tmp`, then `.bak`). */
  private def atomicWrite(fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration,
      dst: org.apache.hadoop.fs.Path, lines: Seq[String]): Unit = {
    val parent = Option(dst.getParent)
      .getOrElse(new org.apache.hadoop.fs.Path("."))
    val tmp = new org.apache.hadoop.fs.Path(parent,
      "." + dst.getName + ".tmp")
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      fs.create(tmp, true), java.nio.charset.StandardCharsets.UTF_8))
    try lines.foreach(out.println) finally out.close()
    try {
      org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
        .rename(tmp, dst,
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: Exception => atomicReplaceFallback(fs, dst, tmp)
    }
  }

  /** Replace `dst` with `tmp` without a lost-state window: the old
    * file renames ASIDE to `.bak` (crash here → `.tmp` holds the new
    * complete snapshot, `.bak` the old one — the loader prefers
    * `.tmp`), then the new file renames into place, then the backup
    * clears. Package-visible so the crash window is spec-testable. */
  private[graft] def atomicReplaceFallback(
      fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path): Unit = {
    val parent = Option(dst.getParent)
      .getOrElse(new org.apache.hadoop.fs.Path("."))
    val bak = new org.apache.hadoop.fs.Path(parent,
      "." + dst.getName + ".bak")
    if (fs.exists(dst)) {
      if (fs.exists(bak)) fs.delete(bak, false)
      fs.rename(dst, bak)
    }
    fs.rename(tmp, dst)
    if (fs.exists(bak)) fs.delete(bak, false)
  }

  /** Ledger names persisted one line PER ENTRY (`name/«md5 of entry
    * identity»`) rather than one line per map: these are the
    * collections that grow with PARTITION/GRANT/COLUMN cardinality —
    * at 100k partitions a whole-map encoding would make every delta
    * O(metastore). Entry removal writes a tombstone line. The
    * KB-scale maps (table props, storage descriptors, namespaces)
    * stay whole-map: one line each, cheap to diff. */
  private val shardedNames = Set("addedParts", "partSchemas",
    "partStorage", "partBucketMeta", "colStats", "authGrants",
    "authRoles", "authRoleGrants", "authOwners", "catalogTables")

  /** Prefix match without the per-call substring allocation — this
    * runs O(entries) times per save, so constants matter at 50k+
    * partitions. */
  private val shardedPrefixes = shardedNames.toArray.map(_ + "/")
  private def isShardKey(k: String): Boolean = {
    var i = 0
    while (i < shardedPrefixes.length) {
      if (k.startsWith(shardedPrefixes(i))) return true
      i += 1
    }
    false
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Flatten a sharded collection to (entry identity, entry value)
    * pairs. Works on both the LIVE collections and their DECODED
    * ledger forms (both expose the scala.collection interfaces), so
    * a legacy whole-map base line normalizes through the same path
    * at load. Identity excludes mutable attributes (a re-grant with
    * a different grantor overwrites its row in place). */
  private def explodeSharded(name: String, v: Any): Seq[(Any, Any)] =
    name match {
      case "addedParts" =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq.flatMap {
          case (t, ps) =>
            ps.asInstanceOf[scala.collection.Iterable[Any]].toSeq
              .map(p => ((t, p), (t, p)))
        }
      case "partSchemas" =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq.flatMap {
          case (t, m) =>
            m.asInstanceOf[scala.collection.Map[Any, Any]].toSeq.map {
              case (pv, st) => ((t, pv), (t, pv, st))
            }
        }
      case "partStorage" | "partBucketMeta" | "colStats" |
          "authOwners" =>
        v.asInstanceOf[scala.collection.Map[Any, Any]].toSeq.map {
          case (k, x) => (k, (k, x))
        }
      case "authGrants" =>
        v.asInstanceOf[scala.collection.Iterable[Any]].toSeq.map { r =>
          (r.asInstanceOf[scala.collection.Seq[Any]].take(7).toVector, r)
        }
      case "authRoles" =>
        v.asInstanceOf[scala.collection.Iterable[Any]].toSeq
          .map(r => (r, r))
      case "catalogTables" =>
        // identity = the table name (one line per catalog table —
        // 100k tables must not re-encode as one giant line per DDL)
        v.asInstanceOf[scala.collection.Iterable[Any]].toSeq.map { r =>
          (r.asInstanceOf[Product].productElement(0), r)
        }
      case "authRoleGrants" =>
        // identity = (role, principal, ptype); admin option + grantor
        // are attributes a re-grant overwrites in place
        v.asInstanceOf[scala.collection.Iterable[Any]].toSeq.map { r =>
          (r.asInstanceOf[scala.collection.Seq[Any]].take(3).toVector, r)
        }
      case other => throw new IllegalStateException(
        s"not a sharded ledger name: $other")
    }

  /** Reassemble a sharded collection from its per-entry values, in
    * line order (insertion order survives restart — SHOW PARTITIONS
    * renders in registration order like the metastore's row order). */
  private def rebuildSharded(name: String, vs: Seq[Any]): AnyRef = {
    import scala.collection.mutable
    name match {
      case "addedParts" =>
        val out = mutable.Map[String,
          mutable.LinkedHashSet[Seq[(String, String)]]]()
        vs.foreach { v =>
          val (t, p) = v.asInstanceOf[(String, Any)]
          out.getOrElseUpdate(t, mutable.LinkedHashSet()) +=
            p.asInstanceOf[Seq[(String, String)]]
        }
        out
      case "partSchemas" =>
        val out = mutable.Map[String, mutable.Map[Seq[String], StructType]]()
        vs.foreach { v =>
          val (t, pv, st) = v.asInstanceOf[(String, Any, Any)]
          out.getOrElseUpdate(t, mutable.Map())(
            pv.asInstanceOf[Seq[String]]) = st.asInstanceOf[StructType]
        }
        out
      case "partStorage" | "partBucketMeta" | "colStats" |
          "authOwners" =>
        val out = mutable.LinkedHashMap[Any, Any]()
        vs.foreach { v =>
          val (k, x) = v.asInstanceOf[(Any, Any)]
          out(k) = x
        }
        out
      case "authGrants" | "authRoles" | "authRoleGrants" |
          "catalogTables" => vs.toVector
      case other => throw new IllegalStateException(
        s"not a sharded ledger name: $other")
    }
  }

  /** Identity-memoized per-entry encodings for the PARTITION-scale
    * maps: re-encoding 100k unchanged partition lines on every save
    * would make each statement O(metastore) CPU even though the
    * bytes written are O(changed entries). Cache keys are the STORED
    * collection objects (stable across saves — a mutable Map yields
    * its stored key/element objects on every iteration); a replaced
    * value object or a re-keyed table invalidates via `tag`/`extra`
    * and re-encodes once. Grant/auth rows re-encode every save (the
    * snapshot builds fresh row vectors) — they are session-scale,
    * not partition-scale. */
  private final class ShardCacheLine(val tag: String,
      val extra: AnyRef, val kv: (String, String))
  private val shardEncodeCache =
    new java.util.IdentityHashMap[AnyRef, ShardCacheLine]()

  private def memoLine(name: String, cacheKey: AnyRef, tag: String,
      extra: AnyRef, id: => Any, value: => Any): (String, String) = {
    val hit = shardEncodeCache.get(cacheKey)
    if (hit != null && hit.tag == tag && (hit.extra eq extra)) hit.kv
    else {
      val full = name + "/" + md5hex(graft.meta.LedgerJson.encode(id))
      // the cached KEY and LINE are stable String objects, and the
      // tuple itself is cached too — a hit is pure pointer work, so
      // the per-save walk costs O(entries) identity checks, not
      // O(entries) re-encoding or allocation
      val kv = (full, graft.meta.LedgerJson.encodeLine(full, value))
      shardEncodeCache.put(cacheKey, new ShardCacheLine(tag, extra, kv))
      kv
    }
  }

  /** The current metastore state as flat persisted lines: whole-map
    * names one line each, sharded names one line per entry. */
  private def ledgerLines(): Seq[(String, String)] = {
    // direct foreach into one buffer — no intermediate per-map Lists;
    // this walk runs once per save, so at partition scale its
    // allocation profile is the save's allocation profile
    val out = new scala.collection.mutable.ArrayBuffer[(String, String)](
      1024)
    ledgerSnapshot().foreach { case (k, v) =>
      if (!shardedNames.contains(k))
        out += (k -> graft.meta.LedgerJson.encodeLine(k, v))
      else k match {
        case "addedParts" =>
          meta.addedParts.foreach { case (t, ps) =>
            ps.foreach(p => out += memoLine(k,
              p.asInstanceOf[AnyRef], t, null, (t, p), (t, p)))
          }
        case "partSchemas" =>
          meta.partSchemas.foreach { case (t, pm) =>
            pm.foreach { case (pv, st) => out += memoLine(k,
              pv.asInstanceOf[AnyRef], t, st, (t, pv), (t, pv, st)) }
          }
        case "partStorage" =>
          meta.partStorage.foreach { case (pk, x) => out += memoLine(k,
            pk.asInstanceOf[AnyRef], "", x, pk, (pk, x)) }
        case "partBucketMeta" =>
          meta.partBucketMeta.foreach { case (pk, x) => out += memoLine(
            k, pk.asInstanceOf[AnyRef], "", x, pk, (pk, x)) }
        case _ =>
          explodeSharded(k, v).foreach { case (id, value) =>
            val full =
              k + "/" + md5hex(graft.meta.LedgerJson.encode(id))
            out += (full -> graft.meta.LedgerJson.encodeLine(full, value))
          }
      }
    }
    // dropped entries leave stale cache rows behind — bound the cache
    if (shardEncodeCache.size > 2 * out.size + 1024)
      shardEncodeCache.clear()
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray)
  }

  /** How many delta segments accumulate before the ledger considers
    * compacting back to one base snapshot. Compaction additionally
    * requires the accumulated delta BYTES to be a meaningful fraction
    * of the base ([[ledgerCompactRatio]]) — a pure count trigger
    * would rewrite an O(n)-byte base every k statements during a
    * mass ADD PARTITION migration, Σ O(n²/k); the size gate makes
    * compaction geometric (each one at least grows the base by a
    * constant factor), so total bytes written stay O(final base). A
    * hard segment-count cap (16 × this) bounds directory listings
    * regardless. */
  protected def ledgerCompactEvery: Int = 64

  /** Compact only once delta bytes reach base × this ratio (subject
    * to the count floor above). */
  protected def ledgerCompactRatio: Double = 0.5

  /** Persist the metastore CRASH-ATOMICALLY and INCREMENTALLY.
    *
    * Format v2 ([[graft.meta.LedgerJson]]): a versioned header line +
    * one self-describing JSON line per metadata map — durable across
    * Scala/JVM upgrades, unlike Java serialization. Layout on disk:
    * the base snapshot at the configured path plus a
    * `.«name».delta/NNNNNNNN.json` segment per incremental save, each
    * holding only the KEYS whose encoding changed since the last
    * write (full value per key — the loader applies segments in
    * order, last writer wins, the same semantics as a full rewrite).
    * Every file lands via write-tmp + rename-with-OVERWRITE, so a
    * crash at any instant leaves either the old or the new state.
    * After [[ledgerCompactEvery]] segments the whole thing compacts
    * back to one base snapshot and the segments are removed.
    *
    * MULTI-WRITER GUARANTEE (precise): concurrent writers on one
    * path — threads in this JVM or separate JVMs — never lose each
    * other's writes to the SHARDED per-entry collections
    * (partitions, grants, roles, owners, stats, catalog-table
    * records): segment names are nonce-collision-free, every save
    * rescans the dir, compaction folds foreign shard entries into
    * the new base and re-lists before deleting anything, and a
    * writer whose epoch went stale under a foreign compaction adopts
    * the advanced base epoch from the header before its next delta.
    * The WHOLE-MAP keys (tableProps, dbTables, knownDbs, colComments,
    * view texts, …) are snapshot-encoded per session: two sessions
    * concurrently editing the SAME map merge last-writer-wins at the
    * granularity of the whole map, like HiveConf-level metadata in
    * the reference. Concurrent DDL on DISJOINT maps is safe;
    * concurrent DDL mutating the same whole-map key from two
    * sessions is not serialized — deployments needing that should
    * route DDL through one dispatcher (the Connect endpoint does).
    * Residual cross-process window: a stale-epoch delta landing
    * AFTER the compactor's final re-list pass survives on disk but
    * is ignored by loaders; the window is one directory listing
    * wide. */
  def saveMetastoreLedger(): Unit = metastorePath.foreach { p =>
    HiveStatements.ledgerLock(p).synchronized {
    val path = new org.apache.hadoop.fs.Path(p)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    val lines: Seq[(String, String)] = ledgerLines()
    // ONE pass for the key set + the changed-vs-last-write diff: a
    // java HashSet (flat, open-addressed buckets) beats rebuilding an
    // immutable trie per save — this is the per-save O(entries) walk,
    // so its constant decides the 100k-partition DDL latency
    val lineKeys = new java.util.HashSet[String](lines.size * 2)
    val changedB = Vector.newBuilder[(String, String)]
    var newKeys = 0
    lines.foreach { kv =>
      lineKeys.add(kv._1)
      // memoized entries return the SAME String object save-to-save,
      // so the unchanged case is a reference check, no Option alloc
      val prev = ledgerWritten.getOrElse(kv._1, null)
      if (prev eq null) { newKeys += 1; changedB += kv }
      else if ((prev ne kv._2) && prev != kv._2) changedB += kv
    }
    val changed = changedB.result()
    // per-entry keys we wrote before that no longer exist (DROP
    // PARTITION / REVOKE / DROP TABLE) → tombstone lines. Keys are
    // unique per entry, so set arithmetic tells whether ANY removal
    // happened — the common ADD/GRANT save skips this walk entirely,
    // and when it does run, membership is checked before the prefix
    // scan (almost every key is still live)
    val removedCount = ledgerWritten.size + newKeys - lineKeys.size
    val removed =
      if (removedCount <= 0) Vector.empty[String]
      else ledgerWritten.keysIterator
        .filter(k => !lineKeys.contains(k) && isShardKey(k)).toVector
    val dd = ledgerDeltaDir(path)
    // rescan the segment dir every save: a CONCURRENT writer on the
    // same path may have appended segments since our last write —
    // never reuse a sequence number it (or anyone) already took
    def liveSegs(): Seq[org.apache.hadoop.fs.Path] =
      scala.util.Try(fs.listStatus(dd).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".json"))).getOrElse(Nil)
    def segEpoch(p0: org.apache.hadoop.fs.Path): Option[Int] =
      p0.getName.split("\\.").headOption.flatMap(_.toIntOption)
    def segSeq(p0: org.apache.hadoop.fs.Path): Option[Int] =
      p0.getName.split("\\.").lift(1).flatMap(_.toIntOption)
    def fullWrite(): Unit = {
      // a NEW epoch supersedes every existing segment: base first
      // (crash here → loader still reads the old base + old-epoch
      // segments), cleanup after (crash here → stale segments carry
      // a non-matching epoch and are ignored). Per-entry keys another
      // writer appended since we loaded ride along into the new base —
      // a compaction must never erase a sibling session's grants/DDL.
      val segs = liveSegs()
      val preOwned = ledgerWritten.keySet.toSet
      def isForeign(k: String): Boolean =
        isShardKey(k) && !lineKeys.contains(k) && !preOwned.contains(k)
      val diskState = readLedgerRawLines(fs, path)
      val foreign = diskState.map(_._2)
        .getOrElse(scala.collection.mutable.LinkedHashMap.empty)
        .filter { case (k, _) => isForeign(k) }
      // the new epoch must supersede EVERYTHING on disk — including a
      // base a foreign compactor advanced past our in-memory epoch
      // (else that sibling's future deltas would outrank our base and
      // ours would orphan theirs)
      val existingEpochs = segs.flatMap(segEpoch) ++
        diskState.map(_._1)
      ledgerEpoch = (existingEpochs :+ ledgerEpoch).max + 1
      val allMap = scala.collection.mutable.LinkedHashMap[String, String]()
      allMap ++= lines
      allMap ++= foreign
      def writeBase(): Unit = atomicWrite(fs, conf, path,
        s"""{"graftLedgerVersion":2,"epoch":$ledgerEpoch}""" +:
          allMap.values.toSeq)
      writeBase()
      onCompactionBaseWritten()
      // CROSS-PROCESS window: a sibling JVM's delta may land between
      // our pre-read above and the cleanup below (the in-JVM per-path
      // lock cannot see another process). Deleting it unapplied would
      // lose the sibling's write, so before removing ANY segment,
      // re-list the dir and fold every segment we did not account for
      // into the base, looping until a pass discovers nothing new.
      // Cleanup then deletes exactly the accounted files — a delta
      // landing after the final pass survives on disk: if it carries
      // the new epoch (its writer adopted it from the base header) the
      // loader applies it; a stale-epoch one is the residual
      // last-instant window, documented in SURVEY's durability notes.
      val accounted = scala.collection.mutable.Set[String]()
      accounted ++= segs.map(_.getName)
      var passes = 0
      var stable = false
      while (!stable && passes < 8) {
        passes += 1
        val newcomers = liveSegs()
          .filterNot(s => accounted.contains(s.getName))
          .sortBy(_.getName)
        if (newcomers.isEmpty) stable = true
        else {
          var changed = false
          newcomers.foreach { s =>
            accounted += s.getName
            scala.util.Try {
              val rd = new java.io.BufferedReader(
                new java.io.InputStreamReader(fs.open(s),
                  java.nio.charset.StandardCharsets.UTF_8))
              try {
                var line = rd.readLine()
                while (line != null) {
                  if (line.trim.nonEmpty) {
                    val (k, _) = graft.meta.LedgerJson.decodeLine(line)
                    if (isForeign(k)) {
                      if (graft.meta.LedgerJson.isTombstone(line)) {
                        if (allMap.remove(k).isDefined) changed = true
                      } else if (!allMap.get(k).contains(line)) {
                        allMap(k) = line; changed = true
                      }
                    }
                  }
                  line = rd.readLine()
                }
              } finally rd.close()
            }
          }
          if (changed) writeBase()
        }
      }
      accounted.foreach(n => scala.util.Try(
        fs.delete(new org.apache.hadoop.fs.Path(dd, n), false)))
      scala.util.Try(
        if (fs.exists(dd) && fs.listStatus(dd).isEmpty)
          fs.delete(dd, true))
      ledgerWritten.clear()
      ledgerWritten ++= allMap
      ledgerDeltaSeq = 0
    }
    val segsNow = liveSegs()
    val segCount = segsNow.size
    def segBytes: Long = segsNow
      .map(s => scala.util.Try(fs.getFileStatus(s).getLen).getOrElse(0L))
      .sum
    def baseBytes: Long =
      scala.util.Try(fs.getFileStatus(path).getLen).getOrElse(1L)
    val compactDue = segCount + 1 >= ledgerCompactEvery &&
      (segBytes >= baseBytes * ledgerCompactRatio ||
        segCount + 1 >= ledgerCompactEvery * 16)
    if (ledgerWritten.isEmpty || !fs.exists(path) || compactDue)
      fullWrite()
    else {
      if (changed.nonEmpty || removed.nonEmpty) {
        // CROSS-PROCESS: a sibling JVM's compaction may have advanced
        // the base epoch since we loaded; a segment stamped with our
        // stale epoch would be invisible to every future loader. One
        // cheap header read per save keeps our deltas applied — the
        // sibling's compaction folded our previously-written shard
        // entries into its base, so our diff base stays valid.
        baseEpochOf(fs, path).filter(_ > ledgerEpoch).foreach { be =>
          ledgerEpoch = be
          ledgerDeltaSeq = 0
        }
        val taken = liveSegs().filter(s => segEpoch(s).contains(ledgerEpoch))
          .flatMap(segSeq)
        ledgerDeltaSeq = ((taken :+ ledgerDeltaSeq).max) + 1
        if (!fs.exists(dd)) fs.mkdirs(dd)
        atomicWrite(fs, conf, new org.apache.hadoop.fs.Path(dd,
          f"$ledgerEpoch%08d.$ledgerDeltaSeq%08d.$ledgerNonce.json"),
          changed.map(_._2) ++
            removed.map(graft.meta.LedgerJson.encodeTombstone))
        ledgerWritten ++= changed
        ledgerWritten --= removed
      }
    }
    }
  }

  /** Test seam: invoked between a compaction's base write and its
    * re-list-and-merge pass, where a concurrent writer's delta may
    * land. Production no-op. */
  protected def onCompactionBaseWritten(): Unit = ()

  /** The epoch recorded in the on-disk base snapshot's header line,
    * None when the file is missing or pre-v2. A small single-line
    * read — cheap enough to run once per delta save. */
  private def baseEpochOf(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): Option[Int] =
    scala.util.Try {
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(path),
          java.nio.charset.StandardCharsets.UTF_8))
      try {
        val h = Option(rd.readLine()).getOrElse("")
        if (!h.startsWith("""{"graftLedgerVersion""")) None
        else "\"epoch\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(h)
          .map(_.group(1).toInt)
      } finally rd.close()
    }.toOption.flatten

  /** Read the on-disk ledger (base + matching-epoch segments, `.tmp`
    * and `.bak` crash fallbacks) into RAW encoded lines keyed by
    * ledger key, with tombstones applied and any legacy whole-map
    * line for a sharded name normalized to per-entry form. None when
    * nothing is on disk or the file predates format v2. Shared by
    * [[loadMetastoreLedger]] and the compaction merge. */
  private def readLedgerRawLines(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path)
      : Option[(Int, scala.collection.mutable.LinkedHashMap[String, String])] = {
    val parent = Option(path.getParent)
      .getOrElse(new org.apache.hadoop.fs.Path("."))
    def alt(suffix: String) = new org.apache.hadoop.fs.Path(parent,
      "." + path.getName + suffix)
    // crash recovery order: the live file, else the fully-written
    // replacement (`.tmp` — newest complete state), else the moved-
    // aside previous state (`.bak`)
    val src = Seq(path, alt(".tmp"), alt(".bak")).find(fs.exists)
      .getOrElse(return None)
    val head = {
      val in = fs.open(src)
      try { val b = new Array[Byte](24); val n = in.read(b)
        new String(b, 0, math.max(n, 0),
          java.nio.charset.StandardCharsets.UTF_8) }
      finally in.close()
    }
    if (!head.startsWith("""{"graftLedgerVersion""")) return None
    val m = scala.collection.mutable.LinkedHashMap[String, String]()
    var baseEpoch = 0
    def applyLine(line: String): Unit = {
      val (k, v) = graft.meta.LedgerJson.decodeLine(line)
      if (graft.meta.LedgerJson.isTombstone(line)) m.remove(k)
      else if (shardedNames.contains(k)) {
        // legacy whole-map line for a now-sharded name: REPLACES the
        // name's accumulated entries wholesale (v2.0 semantics), then
        // later per-entry lines edit inside it
        m.filterInPlace((k0, _) => !k0.startsWith(k + "/"))
        explodeSharded(k, v).foreach { case (id, value) =>
          val full = k + "/" + md5hex(graft.meta.LedgerJson.encode(id))
          m(full) = graft.meta.LedgerJson.encodeLine(full, value)
        }
      } else m(k) = line
    }
    def readLines(file: org.apache.hadoop.fs.Path,
        header: Boolean): Unit = {
      val rd = new java.io.BufferedReader(
        new java.io.InputStreamReader(fs.open(file),
          java.nio.charset.StandardCharsets.UTF_8))
      try {
        if (header) {
          val h = rd.readLine()
          baseEpoch = "\"epoch\"\\s*:\\s*(\\d+)".r
            .findFirstMatchIn(Option(h).getOrElse(""))
            .map(_.group(1).toInt).getOrElse(0)
        }
        var line = rd.readLine()
        while (line != null) {
          if (line.trim.nonEmpty) applyLine(line)
          line = rd.readLine()
        }
      } finally rd.close()
    }
    readLines(src, header = true)
    // delta segments apply over the base in (sequence, nonce) name
    // order — last writer per key wins. Only the BASE's epoch counts:
    // a crash between a compaction's base-write and its segment
    // cleanup leaves stale segments with an older epoch, which must
    // not replay over the newer base.
    val dd = ledgerDeltaDir(path)
    if (fs.exists(dd))
      fs.listStatus(dd).map(_.getPath)
        .filter(p0 => p0.getName.endsWith(".json") &&
          p0.getName.split("\\.").headOption
            .flatMap(_.toIntOption).contains(baseEpoch))
        .sortBy(_.getName)
        .foreach(readLines(_, header = false))
    Some((baseEpoch, m))
  }

  private def loadMetastoreLedger(): Unit = metastorePath.foreach { p =>
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readLedgerRawLines(fs, path) match {
      case Some((epoch, raw)) =>
        ledgerEpoch = epoch
        val m = scala.collection.mutable.LinkedHashMap[String, AnyRef]()
        val shardVals = scala.collection.mutable
          .LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Any]]()
        raw.foreach { case (k, line) =>
          val (_, v) = graft.meta.LedgerJson.decodeLine(line)
          if (isShardKey(k)) {
            val name = k.substring(0, k.indexOf('/'))
            shardVals.getOrElseUpdate(name,
              scala.collection.mutable.ArrayBuffer[Any]()) += v
          } else m(k) = v.asInstanceOf[AnyRef]
        }
        shardVals.foreach { case (name, vs) =>
          m(name) = rebuildSharded(name, vs.toSeq)
        }
        ledgerRestore(m.toMap)
        // prime the diff base from what disk already holds: the first
        // save after a load is a small delta, not a full rewrite (and
        // a compaction by THIS session can tell its own keys from a
        // concurrent sibling's)
        ledgerWritten.clear()
        ledgerWritten ++= raw
        val dd = ledgerDeltaDir(path)
        ledgerDeltaSeq = scala.util.Try(fs.listStatus(dd).toSeq
          .map(_.getPath.getName)
          .filter(n => n.endsWith(".json") &&
            n.split("\\.").headOption.flatMap(_.toIntOption)
              .contains(epoch))
          .flatMap(_.split("\\.").lift(1).flatMap(_.toIntOption)))
          .getOrElse(Nil).foldLeft(0)(math.max)
      case None =>
        // pre-v2 ledger (Java serialization): one-time upgrade read
        if (fs.exists(path)) {
          val head = {
            val in = fs.open(path)
            try { val b = new Array[Byte](24); val n = in.read(b)
              new String(b, 0, math.max(n, 0),
                java.nio.charset.StandardCharsets.UTF_8) }
            finally in.close()
          }
          if (!head.startsWith("""{"graftLedgerVersion""")) {
            val in = new java.io.ObjectInputStream(fs.open(path))
            try ledgerRestore(
              in.readObject().asInstanceOf[Map[String, AnyRef]])
            finally in.close()
          }
        }
    }
  }

  /** The ledger path already restored into this dispatcher. The conf
    * can legitimately arrive AFTER construction (a Connect client
    * runs `SET spark.graft.metastore.path=...` as its own statement —
    * the per-session dispatcher is built while parsing that very
    * SET), so [[sql]]/[[plan]] re-check on every statement and load
    * on first sight of a path. */
  private var ledgerLoadedPath: Option[String] = None

  private def maybeLoadLedger(): Unit = {
    val p = metastorePath
    if (p.isDefined && p != ledgerLoadedPath) {
      // a path SWITCH resets all diff/sequence state FIRST: carrying
      // the previous path's sequence counter into the new path's
      // epoch would let the next delta overwrite one of the new
      // path's existing segments (its keys silently lost on reload)
      ledgerWritten.clear()
      ledgerDeltaSeq = 0
      ledgerEpoch = 0
      HiveStatements.ledgerLock(p.get).synchronized {
        loadMetastoreLedger()
      }
      ledgerLoadedPath = p
    }
  }

  // restore at construction — a fresh dispatcher over the same conf
  // serves DESCRIBE/SHOW/stats for everything created before it
  maybeLoadLedger()

  /** Can this statement head mutate metadata (→ the ledger rewrites
    * after it runs)? */
  private[graft] def persistWorthy(q: String): Boolean =
    metastorePath.isDefined && {
      val head = q.trim.takeWhile(!_.isWhitespace).toLowerCase
      !Set("select", "with", "show", "describe", "desc",
        "explain", "values", "set", "refresh", "use",
        "").contains(head)
    }

  /** Persist after any statement head that can mutate metadata. */
  private[graft] def persistAfter(q: String): Unit =
    if (persistWorthy(q)) saveMetastoreLedger()

  /** Run one HiveQL statement end-to-end: serve metadata reads
    * (DESCRIBE/SHOW) from [[meta]] in Hive's exact layout,
    * dialect-rewrite the text ([[HiveDialect.rewrite]]), dispatch
    * dialect statements (UPDATE/DELETE/MERGE/LOAD/EXPORT/IMPORT/
    * INSERT variants), and run anything else as a Spark query.
    * Analyzer rejections retry through the dialect's error-driven
    * rewrites — Hive coercions Spark refuses (timestamp-vs-number
    * compares, DISTINCT window aggregates, interval sugar, char
    * overflow). Returns the query result, or None for statements. */
  def sql(text: String): Option[DataFrame] = {
    val r = sqlImpl(text)
    persistAfter(text)
    r
  }

  private def sqlImpl(text: String): Option[DataFrame] = {
    maybeLoadLedger()
    val raw = text.trim.stripSuffix(";")
    observeSetUser(raw)
    enforceAuthorization(raw)
    if (serveMetaReads) metaQuery(raw) match {
      case Some(df) => return Some(df)
      case None =>
    }
    if (autoObserveMeta) {
      // `USE db`: session-managed databases bind flat (always-mangle
      // `db__name`), so the namespace cursor moves WITHOUT touching
      // Spark's current database; a real catalog database created
      // outside this session forwards to Spark as-is
      val useRe = "(?is)^use\\s+`?(\\w+)`?\\s*$".r
      useRe.findFirstMatchIn(raw).foreach { m =>
        val db = m.group(1).toLowerCase
        dialect.currentDb = db
        if (db != "default" && !dialect.knownDbs.contains(db))
          spark.sql(s"use `$db`")
        return None
      }
      dialect.observeNamespace(raw)
      // metadata observation keys by the PHYSICAL binding — resolve
      // names first (string literals untouched; idempotent under the
      // full rewrite below)
      val resolved = dialect.resolveNamespace(raw)
      // DROP TABLE t FOR REPLICATION('id'): the drop applies only
      // when the event id is newer than the table's repl.last.id —
      // an older (or empty) id drops the PARTITIONS but keeps the
      // table (ReplicationSpec.allowEventReplacementInto; must run
      // BEFORE observeMeta so a gated-off drop keeps its metadata)
      val replDropRe = ("(?is)^drop\\s+table\\s+(?:if\\s+exists\\s+)?" +
        "`?([\\w.]+)`?\\s+for\\s+replication\\s*" +
        "\\(\\s*'([^']*)'\\s*\\)\\s*$").r
      replDropRe.findFirstMatchIn(resolved).foreach { m =>
        val lc = m.group(1).split('.').last.toLowerCase
        val tblId = meta.tableProps.get(lc)
          .flatMap(_.get("repl.last.id")).flatMap(_.toLongOption)
          .getOrElse(-1L)
        if (m.group(2).toLongOption.exists(_ > tblId)) {
          observeMeta(s"drop table `$lc`")
          handleDrop(s"DROP TABLE IF EXISTS `$lc`")
        } else if (meta.tablePartCols.getOrElse(lc, Nil).nonEmpty) {
          // gated-off drop of a PARTITIONED table: the table survives
          // but partitions without a NEWER repl id are replaceable and
          // drop (ReplicationSpec.allowEventReplacementInto — this
          // engine keeps no per-partition repl ids, so every partition
          // is treated as older than the event, like a partition the
          // reference sees without replication state)
          scala.util.Try(rebuild(lc, spark.table(lc).limit(0)))
          meta.addedParts.remove(lc)
          meta.partSchemas.remove(lc)
          meta.partStorage.filterInPlace((k, _) => k._1 != lc)
          meta.partBucketMeta.filterInPlace((k, _) => k._1 != lc)
        }
        // gated-off drop of a NON-partitioned table: the table is
        // newer than the replication event — data and metadata stay
        // untouched (DDLTask.dropTable early return)
        return None
      }
      observeMeta(resolved)
      if (handleDrop(resolved)) return None
    }
    val q = dialect.rewrite(
      if (autoObserveMeta) hiveCreateRewrite(stripConstraintsRewrite(raw))
      else raw)
    if (execute(q)) None
    else try Some(spark.sql(q)) catch {
      case e: org.apache.spark.sql.AnalysisException =>
        val cands = (dialect.errorRewrites(q, e.getMessage) ++
          dialect.windowRewrites(q)).distinct
        cands.iterator
          .map(c => scala.util.Try(spark.sql(c)))
          .collectFirst { case scala.util.Success(df) => Some(df) }
          .getOrElse(throw e)
    }
  }

  // ---------------------------------------------------------------
  // metadata read surface (DESCRIBE / SHOW — Hive-exact layout from
  // the session's HiveMetaStore; ref ql/exec/DDLTask.java +
  // MetaDataFormatUtils)
  // ---------------------------------------------------------------

  private def metaRow3(line: String): Row = {
    val cells = line.split("\t", -1).padTo(3, "")
    Row(cells(0), cells(1), cells(2))
  }

  private def linesDf(lines: Seq[String]): DataFrame = {
    val schema = StructType(Seq(
      StructField("col_name", StringType),
      StructField("data_type", StringType),
      StructField("comment", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(lines.map(metaRow3): _*), schema)
  }

  private def oneColDf(name: String, lines: Seq[String]): DataFrame = {
    val schema = StructType(Seq(StructField(name, StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(lines.map(Row(_)): _*), schema)
  }

  /** DROP removes every layer of the flat binding — the catalog
    * table AND any temp view shadowing it (the in-place rebuild
    * binding INSERT/UPDATE leave behind); one spark.sql would drop
    * only the view and SHOW TABLES would keep listing the table.
    * True = fully handled (the statement must not run again). */
  private def handleDrop(resolved: String): Boolean = {
    val dropRe = ("(?is)^drop\\s+(table|view)\\s+" +
      "(if\\s+exists\\s+)?`?([\\w.]+)`?\\s*(?:purge\\s*)?$").r
    dropRe.findFirstMatchIn(resolved).exists { m =>
      val kind = m.group(1).toUpperCase
      val name = m.group(3)
      if (name.contains(".")) false
      else {
        val hadTemp = spark.catalog.dropTempView(name)
        val ident = org.apache.spark.sql.catalyst
          .TableIdentifier(name.toLowerCase)
        val hadObj = spark.sessionState.catalog.tableExists(ident)
        // kind mismatch (DROP TABLE on a view) surfaces Spark's own
        // error, as Hive's DDLTask would
        if (hadObj) spark.sql(s"DROP $kind IF EXISTS `$name`")
        // false + no layers + no IF EXISTS → fall through for the
        // analyzer's own NOT_FOUND error
        hadTemp || hadObj || m.group(2) != null
      }
    }
  }

  /** Parse one HiveQL statement to a LAZY logical plan — the Spark
    * Connect facade ([[graft.GraftSqlParser]]). Spark Connect
    * re-parses the statement text on every dataframe operation, so
    * this must be side-effect-free apart from idempotent metadata
    * observation: metadata reads render to a local relation, the
    * rewritten text parses through the stock grammar (commands then
    * execute exactly once via Spark's command handling), and
    * statements only the dialect understands (UPDATE/MERGE/LOAD/...)
    * come back as a lazy [[HiveStatementCommand]] that dispatches on
    * RUN — where HiveServer2's SQLOperation would run them. The
    * analyzer-retry rewrites of [[sql]] don't apply on this path. */
  def plan(text: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    maybeLoadLedger()
    val raw = text.trim.stripSuffix(";")
    observeSetUser(raw)
    enforceAuthorization(raw)
    if (serveMetaReads) metaQuery(raw) match {
      case Some(df) => return df.queryExecution.logical
      case None =>
    }
    // `USE db`: the namespace cursor is session state, not a plan
    val useRe = "(?is)^use\\s+`?(\\w+)`?\\s*$".r
    useRe.findFirstMatchIn(raw).foreach { m =>
      val db = m.group(1).toLowerCase
      dialect.currentDb = db
      if (db != "default" && !dialect.knownDbs.contains(db))
        return spark.sessionState.sqlParser.parsePlan(raw)
      return LocalRelation(Nil)
    }
    dialect.observeNamespace(raw)
    observeMeta(dialect.resolveNamespace(raw))
    val q = dialect.rewrite(hiveCreateRewrite(stripConstraintsRewrite(raw)))
    // row-level DML parses in Spark's grammar but plans only against
    // DSv2 catalogs — the dialect owns it here (MergeInto
    // copy-on-write), as for LOAD/EXPORT/IMPORT
    val ql = q.trim.take(200).split("\\s+").mkString(" ").toLowerCase
    if (ql.startsWith("update ") || ql.startsWith("delete ") ||
        ql.startsWith("merge ") || ql.startsWith("load data") ||
        ql.startsWith("export table") || ql.startsWith("import ") ||
        // authorization statements dispatch through execute() on RUN;
        // left to Spark's grammar, `SET ROLE x` would silently parse
        // as a conf assignment and GRANT/REVOKE as parse errors
        ql.startsWith("grant ") || ql.startsWith("revoke ") ||
        ql.startsWith("create role ") || ql.startsWith("drop role ") ||
        ql.startsWith("set role "))
      return HiveStatementCommand(this, q)
    try {
      val parsed = spark.sessionState.sqlParser.parsePlan(q)
      // ledger writes happen AFTER execution, not at parse time (plan()
      // is re-entered on every Connect dataframe operation and must
      // stay side-effect-free; and a parse-time snapshot cannot see
      // the table this statement is about to create) — wrap stock
      // metadata-mutating commands so persistAfter runs post-run,
      // mirroring HiveStatementCommand.run. ParsedStatement DML
      // (INSERT INTO ... SELECT parses to InsertIntoStatement, not a
      // Command) persists the same way — insert-side metadata
      // (partition tracking, stats) must not silently skip the ledger
      if (persistWorthy(raw) && (parsed.isInstanceOf[
          org.apache.spark.sql.catalyst.plans.logical.Command] ||
          parsed.isInstanceOf[
            org.apache.spark.sql.catalyst.plans.logical.ParsedStatement]))
        GraftPersistCommand(this, parsed, raw)
      else parsed
    } catch {
      case _: org.apache.spark.sql.catalyst.parser.ParseException =>
        HiveStatementCommand(this, q)
    }
  }

  /** Hive's SHOW listing pattern: '|' splits alternatives, '*'
    * becomes '.*', matched as a FULL java regex ('.' is any-char) —
    * ObjectStore.getTables / FunctionRegistry.getFunctionNames. */
  private def hiveShowPattern(p: String): scala.util.matching.Regex = {
    val subs = p.split("\\|").map { s0 =>
      val s = s0.trim.replace("*", ".*")
      if (scala.util.Try(s.r).isSuccess) s
      else java.util.regex.Pattern.quote(s0.trim)
    }
    ("(?i)^(?:" + subs.mkString("|") + ")$").r
  }

  /** The session database a PHYSICAL binding belongs to, when the
    * always-mangle prefix identifies one (`db__t` with db known). */
  protected def dbOfPhysical(lc: String): Option[String] = {
    val i = lc.indexOf("__")
    if (i <= 0) None
    else Some(lc.substring(0, i)).filter(dialect.knownDbs.contains)
  }

  /** Resolve a possibly db-qualified table name to the session
    * binding + the database label DESCRIBE renders. */
  protected def resolveMetaTable(t0: String): Option[(String, String)] = {
    val base = t0.split('.').last
    val bound = meta.resolveLc(t0)
    val db =
      if (t0.contains(".")) t0.split('.').head.toLowerCase
      else dbOfPhysical(bound).getOrElse(
        meta.dbOwner.getOrElse(base.toLowerCase,
          dialect.currentDb.toLowerCase))
    if (scala.util.Try(spark.table(bound)).isSuccess) Some((bound, db))
    else if (scala.util.Try(spark.table(base)).isSuccess)
      Some((base, db))
    else None
  }

  /** Serve DESCRIBE [EXTENDED|FORMATTED] table/function and SHOW
    * PARTITIONS/COLUMNS/TBLPROPERTIES from the metadata layer in
    * Hive's exact output layout. None → not a metadata read (or an
    * unmodeled form) — the statement falls through to Spark. */
  def metaQuery(q0: String): Option[DataFrame] = {
    val q = q0.trim.stripSuffix(";").trim
    val ql = q.toLowerCase

    // EXPLAIN LINEAGE <statement> — the dialect's surface for the
    // reference's LineageLogger post-exec hook (hive.exec.post.hooks;
    // the hook logs, this returns): one row holding the hook's JSON
    // document for the statement's column lineage, computed from the
    // ANALYZED plan (no execution, no data read). CTAS/INSERT forms
    // report the write-side target columns, like the hook.
    val elRe = "(?is)^explain\\s+lineage\\s+(.+)$".r
    elRe.findFirstMatchIn(q).foreach { m =>
      val stmt = m.group(1).trim
      val ctas = ("(?is)^create\\s+table\\s+(?:if\\s+not\\s+exists\\s+)?" +
        "`?([\\w.]+)`?\\s+as\\s+(.+)$").r
      val ins = ("(?is)^insert\\s+(?:into|overwrite)\\s+(?:table\\s+)?" +
        "`?([\\w.]+)`?\\s+(select\\b.+)$").r
      val (dest, sel) = stmt match {
        case ctas(t, s) => (Some(t), s)
        case ins(t, s) => (Some(t), s)
        case s => (None, s)
      }
      val db = dialect.currentDb.toLowerCase
      val destQualified = dest.map(t =>
        if (t.contains(".")) t else s"$db.$t")
      val df = spark.sql(dialect.rewrite(sel))
      // INSERT into an EXISTING table reports the write-side column
      // names (LineageLogger names the destination FieldSchemas);
      // CTAS targets inherit the select's own aliases
      val destCols = dest.flatMap(t => scala.util.Try(
        spark.table(meta.resolveLc(t)).schema.fieldNames.toSeq
          .take(df.schema.fieldNames.length)).toOption)
      val json = graft.plans.ColumnLineage.toJson(
        graft.plans.ColumnLineage.of(df, stmt,
          destTable = destQualified, database = db,
          destColumns = destCols))
      return Some(oneColDf("lineage", Seq(json)))
    }

    // EXPLAIN [FORMATTED] AUTHORIZATION <stmt> — the reference's
    // ExplainTask authorization output: input/output entities (with
    // per-partition rows for partitioned inputs), current user,
    // operation (ql/exec/ExplainTask.java outputDependencies /
    // getJSONLogicalPlan authorization mode)
    val eaRe = "(?is)^explain\\s+(formatted\\s+)?authorization\\s+(.+)$".r
    eaRe.findFirstMatchIn(q).foreach { m =>
      return Some(oneColDf("Explain",
        authorizationExplainLines(m.group(2), m.group(1) != null)))
    }

    // SHOW GRANT / SHOW ROLES / SHOW CURRENT ROLES / SHOW ROLE GRANT /
    // SHOW PRINCIPALS — the authorization read surface, rendered from
    // the session AuthStore in Hive's recorded layouts
    if (ql.startsWith("show grant") || ql.startsWith("show roles") ||
        ql.startsWith("show current roles") ||
        ql.startsWith("show role grant") ||
        ql.startsWith("show principals"))
      auth.showLines(q, dialect.currentDb).foreach { case (cols, lines) =>
        val schema = StructType(cols.map(StructField(_, StringType)))
        val rows = lines.map { l =>
          Row(l.split("\t", -1).padTo(cols.size, ""): _*)
        }
        return Some(spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), schema))
      }

    // DESCRIBE FUNCTION [EXTENDED] name
    val fnRe = "(?is)^desc(?:ribe)?\\s+function\\s+(extended\\s+)?(.+)$".r
    fnRe.findFirstMatchIn(q).foreach { m =>
      val lines = graft.meta.FunctionDocs.render(
        m.group(2).trim, m.group(1) != null,
        graft.meta.FunctionDocs.sparkLookup(spark))
      return Some(oneColDf("tab_name", lines))
    }

    // SHOW PARTITIONS t [partition(spec)]
    val spRe = ("(?is)^show\\s+partitions\\s+`?([\\w.]+)`?" +
      "(?:\\s+partition\\s*\\(([^)]*)\\))?$").r
    spRe.findFirstMatchIn(q).foreach { m =>
      val (table, _) = resolveMetaTable(m.group(1)).getOrElse(return None)
      val lc = table.toLowerCase
      val pcs = meta.tablePartCols.getOrElse(lc, Nil)
      if (pcs.isEmpty) return None
      val filter: Seq[(Int, String)] = Option(m.group(2)).toSeq
        .flatMap(s => parsePartSpec(s)).collect { case (n, Some(v)) =>
          pcs.indexWhere(_.equalsIgnoreCase(n)) -> v }
      val isView = meta.tableKind.get(lc).exists(_.endsWith("_VIEW"))
      return meta.showPartitionNames(table, lc, pcs, filter, isView)
        .map(oneColDf("partition", _))
    }

    // SHOW COLUMNS from|in t [from|in db]
    val scRe = ("(?is)^show\\s+columns\\s+(?:from|in)\\s+" +
      "`?([\\w.]+)`?(?:\\s+(?:from|in)\\s+`?(\\w+)`?)?$").r
    scRe.findFirstMatchIn(q).foreach { m =>
      val (table, _) = resolveMetaTable(m.group(1)).getOrElse(return None)
      return Some(oneColDf("field",
        meta.showColumnsLines(spark.table(table).schema)))
    }

    // the transactional manager has its own display surface
    def txnMode: Boolean = scala.util.Try(
      spark.conf.get("hive.txn.manager", "")).toOption
      .exists(_.contains("DbTxnManager"))

    // DESCRIBE FORMATTED t c — the column-statistics table
    val dcsRe = ("(?is)^desc(?:ribe)?\\s+formatted\\s+" +
      "`?([\\w.]+)`?\\s+`?(\\w+)`?\\s*$").r
    dcsRe.findFirstMatchIn(q).foreach { m =>
      val (table, _) = resolveMetaTable(m.group(1)).getOrElse(return None)
      val lc = table.toLowerCase
      val schema = scala.util.Try(spark.table(table).schema)
        .getOrElse(return None)
      val f = schema.fields.find(_.name.equalsIgnoreCase(m.group(2)))
        .getOrElse(return None)
      meta.describeColumnStatsLines(lc, f.name,
        graft.meta.MetaRender.hiveTypeName(f.dataType)) match {
        case Some(lines) =>
          val cols11 = Seq("col_name", "data_type", "min", "max",
            "num_nulls", "distinct_count", "avg_col_len",
            "max_col_len", "num_trues", "num_falses", "comment")
          val schema11 = StructType(cols11.map(StructField(_, StringType)))
          return Some(spark.createDataFrame(java.util.Arrays.asList(
            lines.map(l => Row.fromSeq(
              l.split("\t", -1).padTo(11, "").toSeq)): _*), schema11))
        case None => return None
      }
    }

    // SHOW LOCKS [t [PARTITION (...)]] [EXTENDED] — or any SHOW
    // LOCKS form under the txn manager (header-only; locks there are
    // query-scoped and never outstanding between statements)
    if (q.trim.toLowerCase.startsWith("show locks") && txnMode)
      return Some(oneColDf("locks", Seq(meta.txnLocksHeader)))
    val slkRe = ("(?is)^show\\s+locks" +
      "(?:\\s+`?([\\w.]+)`?)?(?:\\s*partition\\s*\\(([^)]*)\\))?" +
      "(\\s+extended)?\\s*$").r
    slkRe.findFirstMatchIn(q).foreach { m =>
      val bareExt = Option(m.group(1))
        .exists(_.equalsIgnoreCase("extended")) &&
        m.group(2) == null && m.group(3) == null
      val table = if (bareExt) None else Option(m.group(1))
      val ext = bareExt || m.group(3) != null
      val lines = meta.showLocksLines(table, Option(m.group(2)),
        dialect.currentDb.toLowerCase, ext)
      val schema = StructType(Seq(StructField("tab_name", StringType),
        StructField("mode", StringType)))
      return Some(spark.createDataFrame(java.util.Arrays.asList(
        lines.map { l =>
          val kv = l.split("\t", 2).padTo(2, "")
          Row(kv(0), kv(1))
        }: _*), schema))
    }

    // SHOW TRANSACTIONS / SHOW COMPACTIONS (DbTxnManager surface)
    if (q.trim.toLowerCase.matches("(?s)^show\\s+transactions\\s*$"))
      return Some(oneColDf("transactions",
        Seq(meta.txnTransactionsHeader)))
    if (q.trim.toLowerCase.matches("(?s)^show\\s+compactions\\s*$"))
      return Some(oneColDf("compactions", meta.showCompactionsLines()))

    // SHOW [FORMATTED] INDEX|INDEXES ON t [FROM|IN db]
    val sixRe = ("(?is)^show\\s+(formatted\\s+)?index(?:es)?\\s+on\\s+" +
      "`?([\\w.]+)`?(?:\\s+(?:from|in)\\s+`?(\\w+)`?)?$").r
    sixRe.findFirstMatchIn(q).foreach { m =>
      val (table, db) = resolveMetaTable(m.group(2)).getOrElse(return None)
      val lc = table.toLowerCase
      val display =
        if (lc.startsWith(db + "__")) lc.substring(db.length + 2) else lc
      val lines = meta.showIndexLines(lc, display, db,
        formatted = m.group(1) != null)
      val cols6 = Seq("idx_name", "tab_name", "col_names",
        "idx_tab_name", "idx_type", "comment")
      val schema = StructType(cols6.map(StructField(_, StringType)))
      return Some(spark.createDataFrame(java.util.Arrays.asList(
        lines.map(l =>
          Row.fromSeq(l.split("\t", -1).padTo(6, "").toSeq)): _*), schema))
    }

    // SHOW TABLE EXTENDED [IN|FROM db] LIKE t [PARTITION (...)] —
    // file statistics come from the table's real location when it is
    // a catalog table; session temp views carry no files
    val steRe = ("(?is)^show\\s+table\\s+extended\\s+" +
      "(?:(?:in|from)\\s+`?(\\w+)`?\\s+)?" +
      "like\\s+[`'\"]?([^`'\"\\s]+)[`'\"]?" +
      "(?:\\s+partition\\s*\\(([^)]*)\\))?\\s*$").r
    steRe.findFirstMatchIn(q).foreach { m =>
      if (!m.group(2).matches("\\w+")) return None // pattern listing
      val (table, db) = resolveMetaTable(m.group(2)).getOrElse(return None)
      val lc = table.toLowerCase
      val schema = scala.util.Try(spark.table(table).schema)
        .getOrElse(return None)
      val pcs = meta.tablePartCols.getOrElse(lc, Nil).map(_.toLowerCase)
      val dFields = schema.fields.toSeq.filterNot(f =>
        pcs.contains(f.name.toLowerCase))
      val pFields = pcs.flatMap(p =>
        schema.fields.find(_.name.equalsIgnoreCase(p))).toSeq
      val triple = meta.tableStorage.getOrElse(lc,
        meta.fmtTriple(meta.defaultFileFormat))
      // a PARTITION spec scopes the file statistics to that
      // partition's subdirectory (name=value/...), mirroring Hive's
      // per-partition descriptor; a spec naming no on-disk partition
      // yields no row rather than whole-table totals
      val partName = Option(m.group(3)).map(meta.lockPartName)
      val sizes: Seq[Long] = scala.util.Try {
        val loc = new org.apache.hadoop.fs.Path(
          spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(lc))
            .location)
        val fs = loc.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val scanRoot = partName match {
          case Some(p) => new org.apache.hadoop.fs.Path(loc, p)
          case None => loc
        }
        if (!fs.exists(scanRoot)) Nil
        else {
          val it = fs.listFiles(scanRoot, true)
          val buf = scala.collection.mutable.ListBuffer[Long]()
          while (it.hasNext) {
            val st = it.next()
            if (!st.getPath.getName.startsWith("_") &&
                !st.getPath.getName.startsWith("."))
              buf += st.getLen
          }
          buf.toSeq
        }
      }.getOrElse(Nil)
      if (partName.isDefined && sizes.isEmpty) return None
      val display =
        if (lc.startsWith(db + "__")) lc.substring(db.length + 2) else lc
      return Some(oneColDf("tab_name", meta.showTableExtendedLines(
        display, dFields, pFields, triple._2, triple._3, sizes)))
    }

    // SHOW TBLPROPERTIES t [("key")]
    val stRe = ("(?is)^show\\s+tblproperties\\s+`?([\\w.]+)`?" +
      "(?:\\s*\\(\\s*['\"]([^'\"]+)['\"]\\s*\\))?$").r
    stRe.findFirstMatchIn(q).foreach { m =>
      val (table, db) = resolveMetaTable(m.group(1)).getOrElse(return None)
      val lines = meta.showTblPropsLines(table.toLowerCase, db,
        m.group(1).split('.').last, Option(m.group(2)))
      return Some(Option(m.group(2)) match {
        case Some(_) => oneColDf("prpt_value", lines)
        case None =>
          val schema = StructType(Seq(StructField("prpt_name", StringType),
            StructField("prpt_value", StringType)))
          spark.createDataFrame(java.util.Arrays.asList(lines.map { l =>
            val kv = l.split("\t", 2).padTo(2, "")
            Row(kv(0), kv(1))
          }: _*), schema)
      })
    }

    // SHOW DATABASES|SCHEMAS [LIKE 'pattern']
    val sdRe = ("(?is)^show\\s+(?:databases|schemas)" +
      "(?:\\s+like\\s+['\"]([^'\"]*)['\"])?$").r
    sdRe.findFirstMatchIn(q).foreach { m =>
      val all = (dialect.knownDbs.toSet ++
        scala.util.Try(spark.sessionState.catalog.listDatabases()
          .map(_.toLowerCase)).getOrElse(Nil) + "default").toSeq.sorted
      val filtered = Option(m.group(1)) match {
        case Some(p) =>
          // Hive LIKE patterns here are '*' globs (DDLTask
          // showDatabases -> UDFLike-style simple pattern)
          val re = hiveShowPattern(p)
          all.filter(d => re.findFirstIn(d).isDefined)
        case None => all
      }
      return Some(oneColDf("database_name", filtered))
    }

    // table inventory per session database, always-mangle aware:
    //  - db tables bind flat as `db__name` → listed bare, per-db;
    //  - default lists bare names minus mangled/internal bindings;
    //  - a REAL catalog database (created outside this session)
    //    unions in Spark's own listing.
    def listDbTables(db: String, viewsOnly: Boolean): Seq[String] = {
      val flat = spark.sessionState.catalog.listTables("default")
        .map(_.table.toLowerCase)
        .filter(t => !viewsOnly ||
          meta.tableKind.get(t).exists(_.endsWith("_VIEW")))
      val session =
        if (db == "default")
          flat.filter(t => !t.startsWith("__") &&
            dbOfPhysical(t).isEmpty &&
            meta.dbOwner.getOrElse(t, "default") == "default")
        else flat.collect {
          case t if dbOfPhysical(t).contains(db) =>
            t.substring(db.length + 2)
          // pre-namespace sessions stamped bare bindings with a
          // creator db — honor those too
          case t if !t.contains("__") &&
              meta.dbOwner.get(t).contains(db) => t
        }
      // REAL catalog databases union in Spark's own listing —
      // resident tables only (listTables(db) also returns every
      // session temp view; those are the flat bindings above)
      val catalog =
        if (db == "default") Nil
        else scala.util.Try(
          spark.sessionState.catalog.listTables(db)
            .filter(_.database.exists(_.equalsIgnoreCase(db)))
            .map(_.table.toLowerCase)).getOrElse(Nil)
      (session ++ catalog).distinct.sorted
    }

    // SHOW TABLES [IN db] [LIKE 'pattern' | 'pattern']
    val shtRe = ("(?is)^show\\s+tables(?:\\s+(?:in|from)\\s+" +
      "`?(\\w+)`?)?(?:\\s+(?:like\\s+)?['\"]([^'\"]*)['\"])?$").r
    shtRe.findFirstMatchIn(q).foreach { m =>
      val db = Option(m.group(1)).map(_.toLowerCase)
        .getOrElse(dialect.currentDb.toLowerCase)
      val names = listDbTables(db, viewsOnly = false)
      val filtered = Option(m.group(2)) match {
        case Some(p) =>
          val re = hiveShowPattern(p)
          names.filter(t => re.findFirstIn(t).isDefined)
        case None => names
      }
      return Some(oneColDf("tab_name", filtered))
    }

    // DESCRIBE DATABASE|SCHEMA [EXTENDED] db — name, comment,
    // location, owner (DDLTask.descDatabase layout)
    val ddbRe = ("(?is)^desc(?:ribe)?\\s+(?:database|schema)\\s+" +
      "(extended\\s+)?`?(\\w+)`?$").r
    ddbRe.findFirstMatchIn(q).foreach { m =>
      val db = m.group(2).toLowerCase
      val known = dialect.knownDbs.contains(db) || db == "default" ||
        scala.util.Try(spark.sessionState.catalog
          .databaseExists(db)).getOrElse(false)
      if (!known) return None
      val loc = scala.util.Try(spark.sessionState.catalog
        .getDatabaseMetadata(db).locationUri.toString).getOrElse("")
      val (cmt, props) = meta.dbMeta.getOrElse(db, ("", Nil))
      val (owner, otype) = meta.dbOwners.getOrElse(db,
        (sys.props.getOrElse("user.name", ""), "USER"))
      // parameters render only under EXTENDED (DDLTask.descDatabase)
      val params =
        if (m.group(1) != null && props.nonEmpty)
          props.map { case (k, v) => s"$k=$v" }
            .mkString("{", ", ", "}")
        else ""
      val schema = StructType(Seq(
        StructField("db_name", StringType),
        StructField("comment", StringType),
        StructField("location", StringType),
        StructField("owner_name", StringType),
        StructField("owner_type", StringType),
        StructField("parameters", StringType)))
      return Some(spark.createDataFrame(java.util.Arrays.asList(
        Row(db, cmt, loc, owner, otype, params)), schema))
    }

    // SHOW VIEWS [IN db] ['pattern'] (HIVE-14558) — session views
    // filtered by kind + creator db
    val svRe = ("(?is)^show\\s+views(?:\\s+(?:in|from)\\s+" +
      "`?(\\w+)`?)?(?:\\s+(?:like\\s+)?['\"]([^'\"]*)['\"])?$").r
    svRe.findFirstMatchIn(q).foreach { m =>
      val db = Option(m.group(1)).map(_.toLowerCase)
        .getOrElse(dialect.currentDb.toLowerCase)
      val names = listDbTables(db, viewsOnly = true)
      val filtered = Option(m.group(2)) match {
        case Some(p) =>
          val re = hiveShowPattern(p)
          names.filter(t => re.findFirstIn(t).isDefined)
        case None => names
      }
      return Some(oneColDf("tab_name", filtered))
    }

    // SHOW FUNCTIONS [LIKE 'pattern'] — every resolvable function
    // name, sorted (DDLTask.showFunctions; Hive patterns are
    // '*'/'|' globs)
    val sfRe = ("(?is)^show\\s+functions" +
      "(?:\\s+(?:like\\s+)?['\"]([^'\"]*)['\"])?$").r
    sfRe.findFirstMatchIn(q).foreach { m =>
      val names = spark.sessionState.catalog
        .listFunctions("default").map(_._1.funcName.toLowerCase)
        .distinct.sorted
      val filtered = Option(m.group(1)) match {
        case Some(p) =>
          val re = hiveShowPattern(p)
          names.filter(f => re.findFirstIn(f).isDefined)
        case None => names
      }
      return Some(oneColDf("tab_name", filtered))
    }

    // SHOW CREATE TABLE t — reconstructed from the metadata layer in
    // Hive's exact template (ql/exec/DDLTask.showCreateTable; views
    // render the one-line CREATE VIEW shape — DDLTask.java:2223-2228)
    val sctRe = "(?is)^show\\s+create\\s+table\\s+`?([\\w.]+)`?$".r
    sctRe.findFirstMatchIn(q).foreach { m =>
      val (table, db) = resolveMetaTable(m.group(1)).getOrElse(return None)
      val lc = table.toLowerCase
      val schema = scala.util.Try(spark.table(table).schema)
        .getOrElse(return None)
      // the display name echoes the statement's own qualification
      val display = m.group(1).toLowerCase
      val isView = meta.tableKind.get(lc).contains("VIRTUAL_VIEW")
      val location =
        if (isView) None
        else Some(scala.util.Try(spark.sessionState.catalog
          .getTableMetadata(org.apache.spark.sql.catalyst
            .TableIdentifier(lc)).location.toString)
          .getOrElse(s"file:${spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse")}/$lc"))
      return Some(oneColDf("createtab_stmt",
        meta.showCreateTableLines(lc, display, schema, location)))
    }

    // SHOW CREATE DATABASE|SCHEMA db (DDLTask.showCreateDatabase)
    val scdRe =
      "(?is)^show\\s+create\\s+(?:database|schema)\\s+`?(\\w+)`?$".r
    scdRe.findFirstMatchIn(q).foreach { m =>
      val db = m.group(1).toLowerCase
      val known = dialect.knownDbs.contains(db) || db == "default" ||
        scala.util.Try(spark.sessionState.catalog
          .databaseExists(db)).getOrElse(false)
      if (!known) return None
      val loc = scala.util.Try(spark.sessionState.catalog
        .getDatabaseMetadata(db).locationUri.toString)
        .getOrElse(s"file:${spark.conf.get(
          "spark.sql.warehouse.dir", "spark-warehouse")}/$db.db")
      return Some(oneColDf("createdb_stmt",
        meta.showCreateDatabaseLines(db, loc)))
    }

    // DESCRIBE [EXTENDED|FORMATTED] table [PARTITION(...)]
    val dRe = "(?is)^desc(?:ribe)?\\s+(extended\\s+|formatted\\s+)?(.+)$".r
    dRe.findFirstMatchIn(q).foreach { m =>
      val mode = Option(m.group(1)).map(_.trim.toLowerCase).getOrElse("")
      var rest = m.group(2).trim
      val rl = rest.toLowerCase
      if (rl.startsWith("database") || rl.startsWith("schema") ||
          rl.startsWith("pretty")) return None
      val partSpec = "(?is)\\bpartition\\s*\\(([^)]*)\\)".r
        .findFirstMatchIn(rest).map(_.group(1))
      rest = "(?is)\\bpartition\\s*\\([^)]*\\)".r
        .replaceAllIn(rest, " ").trim
      val toks = rest.split("\\s+").toVector
        .map(_.replace("`", "")).filter(_.nonEmpty)
      // column-level describe: `DESCRIBE t col[.field|.$elem$|...]`
      // drills into nested types (DDLTask describe with column path)
      if (toks.size == 2) {
        val (table, _) = resolveMetaTable(toks.head).getOrElse(return None)
        val lc = table.toLowerCase
        val schema = scala.util.Try(spark.table(table).schema)
          .getOrElse(return None)
        import graft.meta.MetaRender._
        val segs = toks(1).split("\\.").toVector.filter(_.nonEmpty)
        var dt: org.apache.spark.sql.types.DataType = schema.fields
          .find(_.name.equalsIgnoreCase(segs.headOption.getOrElse(
            return None))).getOrElse(return None).dataType
        segs.tail.foreach { s =>
          dt = (s.toLowerCase, dt) match {
            case ("$elem$", org.apache.spark.sql.types
                .ArrayType(e, _)) => e
            case ("$key$", org.apache.spark.sql.types
                .MapType(k, _, _)) => k
            case ("$value$", org.apache.spark.sql.types
                .MapType(_, v, _)) => v
            case (f, st: StructType) =>
              st.fields.find(_.name.equalsIgnoreCase(f))
                .getOrElse(return None).dataType
            case _ => return None
          }
        }
        val lines = dt match {
          case st: StructType =>
            st.fields.toSeq.map(f => colLine(f.name.toLowerCase,
              hiveTypeName(f.dataType), "from deserializer"))
          case other =>
            // column-level describes echo the name AS TYPED
            Seq(colLine(segs.last, hiveTypeName(other),
              meta.commentOf(lc, segs.last) match {
                case "" => "from deserializer"
                case c => c
              }))
        }
        return Some(linesDf(lines))
      }
      if (toks.size != 1) return None
      val (table, db) = resolveMetaTable(toks.head).getOrElse(return None)
      val lc = table.toLowerCase
      val schema = scala.util.Try(spark.table(table).schema)
        .getOrElse(return None)
      val pcs = meta.tablePartCols.getOrElse(lc, Nil).map(_.toLowerCase)
      val partKey: Option[Seq[String]] = partSpec.flatMap(s =>
        meta.matchingPartKeys(lc, s).headOption)
      if (partSpec.isDefined && partKey.isEmpty) return None
      val partFieldsAll = schema.fields.toSeq
        .filter(f => pcs.contains(f.name.toLowerCase))
      val dataFields = partKey
        .flatMap(k => meta.partSchemas.get(lc).flatMap(_.get(k)))
        .map(_.fields.toSeq)
        .getOrElse(schema.fields.toSeq
          .filterNot(f => pcs.contains(f.name.toLowerCase)))
      if (mode == "formatted") {
        val partVals = partSpec.toSeq.flatMap(s =>
          parsePartSpec(s).collect { case (_, Some(v)) => v })
        val (cols, labels) = meta.describeFormattedCore(lc, db,
          dataFields, partFieldsAll, partKey, partVals)
        // Hive's label order (MetaDataFormatUtils.getTableInformation)
        val order = Seq("Database:", "Table:", "Partition Value:",
          "Table Type:", "Retention:")
        val storage = Seq("SerDe Library:", "InputFormat:",
          "OutputFormat:", "Compressed:", "Num Buckets:",
          "Bucket Columns:", "Sort Columns:", "Skewed Columns:",
          "Skewed Values:", "Stored As SubDirectories:")
        // user table properties render under Table Parameters:
        // (MetaDataFormatUtils.displayAllParameters), tab-indented
        val props = meta.tableProps.get(lc).filter(_.nonEmpty)
          .map(p => Seq("Table Parameters:\t\t") ++
            p.toSeq.sortBy(_._1).map { case (k, v) => s"\t$k\t$v" })
          .getOrElse(Nil)
        val detail =
          Seq("", "# Detailed Table Information\t\t") ++
            order.collect { case k if labels.contains(k) =>
              s"$k\t${labels(k)}\t" } ++ props ++
          Seq("", "# Storage Information\t\t") ++
            storage.collect { case k if labels.contains(k) =>
              s"$k\t${labels(k)}\t" }
        // informational PK/FK block (tables only — a partition
        // describe has no constraint section)
        val constraints =
          if (partKey.isDefined) Nil
          else meta.constraintsFormattedLines(lc, db)
        return Some(linesDf(cols ++ detail ++ constraints))
      }
      // plain / EXTENDED describe: column block (+ partition block)
      import graft.meta.MetaRender._
      val cols = dataFields.flatMap(f =>
        colLines(f.name.toLowerCase, hiveTypeName(f.dataType),
          meta.commentOf(lc, f.name))) ++
        partFieldsAll.flatMap(f =>
          colLines(f.name.toLowerCase, hiveTypeName(f.dataType),
            meta.commentOf(lc, f.name, isPartCol = true)))
      val partBlock =
        if (partFieldsAll.isEmpty || !meta.displayPartColsSep) Vector.empty
        else Vector(sepLine) ++ partInfoHeader ++
          partFieldsAll.flatMap(f =>
            colLines(f.name.toLowerCase, hiveTypeName(f.dataType),
              meta.commentOf(lc, f.name, isPartCol = true)))
      // EXTENDED appends the constraint summary rows (the plain
      // describe does not show them)
      val constraints =
        if (mode == "extended" && partKey.isEmpty)
          meta.constraintsExtendedLines(lc, db)
        else Nil
      return Some(linesDf(cols ++ partBlock ++ constraints))
    }
    None
  }

  /** Observe one statement's metadata effects into [[meta]] — the
    * engine-side equivalent of Hive's metastore writes riding every
    * DDL (the golden harness drives these from its replay loop
    * instead; see [[autoObserveMeta]]). */
  protected def observeMeta(q: String): Unit = {
    // whitespace-run-collapsed head for dispatch (see execute)
    val ql = q.trim.take(200).split("\\s+").mkString(" ").toLowerCase
    if (ql.matches("(?s)^create\\s+(?:database|schema)\\b.*")) {
      ("(?is)^create\\s+(?:database|schema)\\s+" +
        "(?:if\\s+not\\s+exists\\s+)?`?(\\w+)`?").r.findFirstMatchIn(q)
        .foreach { m =>
          val d = m.group(1).toLowerCase
          dialect.knownDbs += d
          // database ownership for the sqlstd enforcement rules —
          // recorded as the owners entry with an empty table part
          // (the metastore's DBS.OWNER_NAME; default db stays
          // everyone's, like its 'public' owner in the reference)
          if (!auth.owners.contains((d, "")))
            auth.owners((d, "")) = auth.currentUser
        }
      meta.recordDatabaseDdl(q)
    } else if (ql.startsWith("alter database") ||
        ql.startsWith("alter schema")) {
      ("(?is)^alter\\s+(?:database|schema)\\s+`?(\\w+)`?\\s+set\\s+" +
        "owner\\s+(?:user|role)\\s+`?([\\w-]+)`?").r
        .findFirstMatchIn(q).foreach { m =>
          auth.owners((m.group(1).toLowerCase, "")) = m.group(2)
        }
      meta.recordDatabaseDdl(q)
    } else if (ql.startsWith("create")) {
      val isView = ql.matches(
        "(?s)create\\s+(?:or\\s+replace\\s+)?(?:materialized\\s+)?view\\b.*")
      val isTable = ql.matches(
        "(?s)create\\s+(?:or\\s+replace\\s+)?(?:temporary\\s+)?" +
          "(?:external\\s+)?table\\b.*")
      if (isView || isTable) {
        meta.recordStorageMeta(q, view = isView)
        meta.trackTblProps(q, create = true, q)
        if (isTable) observeCreateCols(q)
        // namespace ownership: an unqualified CREATE belongs to the
        // session's current database (SHOW TABLES filters on it)
        ("(?is)create\\s+(?:or\\s+replace\\s+)?(?:temporary\\s+)?" +
          "(?:external\\s+)?(?:table|(?:materialized\\s+)?view)\\s+" +
          "(?:if\\s+not\\s+exists\\s+)?`?([\\w.]+)`?").r
          .findFirstMatchIn(q).foreach { m =>
            val parts = m.group(1).split('.')
            val phys = parts.last.toLowerCase
            meta.dbOwner(phys) = dbOfPhysical(phys).getOrElse(
              if (parts.length > 1) parts.head.toLowerCase
              else dialect.currentDb.toLowerCase)
            // under enforcement, CREATE records ownership + the
            // sqlstd automatic owner grants
            // (SQLStdHiveAccessController default table policy).
            // Grants key on the LOGICAL base name (the always-mangle
            // prefix is this engine's binding detail, not the name
            // GRANT statements use)
            if (authEnforcementOn) {
              val db = meta.dbOwner(phys)
              val baseName =
                if (phys.startsWith(db + "__"))
                  phys.substring(db.length + 2)
                else phys
              auth.ownerGrantsOnCreate(db, baseName, auth.currentUser,
                Seq("INSERT", "SELECT", "UPDATE", "DELETE"))
            }
          }
      }
    } else if (ql.startsWith("alter")) {
      meta.trackAlterComments(q)
      meta.trackAlterStorage(q)
      meta.trackTblProps(q, create = false)
      meta.recordAddedPartitions(q)
      // partition registry removals/renames carry their privilege
      // snapshots with them (ObjectStore PART_PRIVS rows share the
      // partition object's fate)
      meta.recordDroppedPartitions(q).foreach { case (lc, kv) =>
        auth.partitionDropped(authDbOf(lc), lc, kv.map(_._2).mkString("/"))
      }
      meta.recordRenamedPartition(q).foreach { case (lc, from, to) =>
        auth.partitionRenamed(authDbOf(lc), lc,
          from.map(_._2).mkString("/"), to.map(_._2).mkString("/"))
      }
      // informational constraint DDL (metadata-only; the reference's
      // metastore add/dropConstraint)
      ("(?is)^alter\\s+table\\s+`?([\\w.]+)`?\\s+add\\s+" +
        "(constraint\\s+.*)$").r.findFirstMatchIn(q).foreach { m =>
        val parts = m.group(1).split('.')
        val lc = meta.resolveLc(parts.last)
        val db = if (parts.length > 1) parts.head.toLowerCase
          else dialect.currentDb.toLowerCase
        meta.recordConstraintEntry(lc, m.group(2), db)
      }
      ("(?is)^alter\\s+table\\s+`?([\\w.]+)`?\\s+drop\\s+" +
        "constraint\\s+`?([\\w-]+)`?\\s*$").r.findFirstMatchIn(q)
        .foreach { m =>
          meta.dropConstraint(meta.resolveLc(m.group(1).split('.').last),
            m.group(2))
        }
      q match {
        case renameRe(from, to) =>
          val fromLc = from.split('.').last.toLowerCase
          val toLc = to.split('.').last.toLowerCase
          meta.renameTable(fromLc, toLc)
          auth.tableRenamed(authDbOf(toLc), fromLc, toLc)
        case _ =>
      }
    } else if (ql.startsWith("drop table") || ql.startsWith("drop view"))
      "(?is)^drop\\s+(?:table|view)\\s+(?:if\\s+exists\\s+)?`?([\\w.]+)`?"
        .r.findFirstMatchIn(q).foreach { m =>
          val parts = m.group(1).split('.')
          val lc = parts.last.toLowerCase
          meta.dropTable(lc)
          // privileges die with the table — the metastore drops the
          // TBL_PRIVS/TBL_COL_PRIVS/PART_PRIVS rows on dropTable (ref
          // metastore ObjectStore.java dropTable); without this a
          // later re-CREATE of the same name would silently inherit
          // the old table's grants
          val db = if (parts.length > 1) parts.head.toLowerCase
            else authDbOf(lc)
          auth.tableDropped(db, lc)
        }
    else if (ql.startsWith("drop database") || ql.startsWith("drop schema"))
      ("(?is)^drop\\s+(?:database|schema)\\s+" +
        "(?:if\\s+exists\\s+)?`?(\\w+)`?").r.findFirstMatchIn(q)
        .foreach { m =>
          dialect.knownDbs -= m.group(1).toLowerCase
          auth.databaseDropped(m.group(1).toLowerCase)
        }
  }

  /** The database label authorization rows carry for a physical
    * binding (grants key on the SESSION database at grant time). */
  private def authDbOf(lc: String): String =
    dbOfPhysical(lc).getOrElse(
      meta.dbOwner.getOrElse(lc, dialect.currentDb)).toLowerCase

  // ---------------------------------------------------------------
  // authorization enforcement (conf-gated; SQLStdHiveAuthorization-
  // Validator semantics — see graft.AuthEnforcement)
  // ---------------------------------------------------------------

  /** Enforcement is opt-in via the ENGINE's conf only. The scripts'
    * `hive.security.authorization.enabled` deliberately does NOT
    * engage it: the golden corpus replays those scripts against the
    * BOOKKEEPING surface (1997 files ratified against it), and
    * flipping live enforcement under them would re-litigate every
    * legacy-provider nuance at once. Deployments opt in explicitly. */
  private def authEnforcementOn: Boolean =
    spark.conf.getOption("spark.graft.authorization").contains("true")

  /** `SET user.name=...` switches the authenticated identity as a
    * SIDE effect — the semantics of the reference's TEST
    * authenticator (SessionStateConfigUserAuthenticator reads the
    * conf var), NOT a trust boundary. While ENFORCEMENT is on, an
    * unauthenticated identity switch would let any client assume any
    * owner/admin and bypass every check, so it additionally requires
    * the explicit test-authenticator opt-in
    * `spark.graft.authorization.userswitch=true`; without it the
    * statement still runs as a normal conf SET (the reference with a
    * production authenticator likewise ignores the conf var) but the
    * authenticated identity stays put. With enforcement OFF the
    * switch is always honored — the bookkeeping surface (SHOW
    * GRANT/ROLE goldens) replays the reference scripts, which all
    * assume the test authenticator. */
  private def observeSetUser(q: String): Unit =
    "(?is)^set\\s+user\\.name\\s*=\\s*(\\S+)\\s*$".r
      .findFirstMatchIn(q.trim.stripSuffix(";"))
      .foreach { x =>
        val allowed = !authEnforcementOn ||
          spark.conf.getOption("spark.graft.authorization.userswitch")
            .contains("true")
        if (allowed) auth.currentUser = x.group(1).trim
      }

  /** Input tables referenced by a query text: UnresolvedRelations of
    * the stock-parsed plan minus CTE names — INCLUDING relations that
    * appear only inside subquery expressions (IN/EXISTS/scalar
    * subqueries), which the analyzer turns into ReadEntities and the
    * reference authorizer therefore checks
    * (ql/parse/SemanticAnalyzer.java getMetaData walks subquery
    * QBs). `collect` alone stops at the relational tree, so a plain
    * traversal would let `WHERE x IN (SELECT y FROM secret)` skip
    * the SELECT check on `secret`. Regex fallback when the text is
    * dialect-only. */
  private def inputTablesOf(q: String): Seq[Seq[String]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith
    scala.util.Try {
      val plan = org.apache.spark.sql.catalyst.parser
        .CatalystSqlParser.parsePlan(q)
      val cte = plan.collectWithSubqueries { case w: UnresolvedWith =>
        w.cteRelations.map(_._1.toLowerCase) }.flatten.toSet
      plan.collectWithSubqueries { case r: UnresolvedRelation =>
        r.multipartIdentifier }
        .filterNot(id =>
          id.length == 1 && cte.contains(id.head.toLowerCase))
        .distinct
    }.getOrElse {
      "(?is)(?:\\bfrom|\\bjoin)\\s+`?([A-Za-z_][\\w.]*)`?".r
        .findAllMatchIn(q)
        .map(_.group(1).split('.').toSeq)
        .filterNot(id => Set("select", "values", "lateral")
          .contains(id.head.toLowerCase))
        .toSeq.distinct
    }
  }

  /** Partition columns for EXPLAIN AUTHORIZATION's per-partition
    * input entities (the golden harness also consults its fixture
    * registry). */
  protected def partColsForAuth(lc: String): Seq[String] =
    meta.tablePartCols.getOrElse(lc, Nil).map(_.toLowerCase)

  /** EXPLAIN [FORMATTED] AUTHORIZATION output lines: INPUTS (tables,
    * plus one entity per partition of a partitioned input — the
    * analyzer's ReadEntity set), OUTPUTS, CURRENT_USER, OPERATION —
    * the reference ExplainTask's text layout, or its one-line JSON
    * for FORMATTED. */
  private[graft] def authorizationExplainLines(stmt0: String,
      formatted: Boolean): Seq[String] = {
    val stmt = stmt0.trim.stripSuffix(";")
    val sl = stmt.toLowerCase
    def bare(t: String): Seq[String] = {
      val parts = t.replace("`", "").split('.')
      val base = parts.last.toLowerCase
      val db = if (parts.length > 1) parts.head.toLowerCase
        else authDbOf(base)
      Seq(s"$db@$base")
    }
    def entity(t: String,
        seen: Set[String] = Set.empty): Seq[String] = {
      val parts = t.replace("`", "").split('.')
      val base = parts.last.toLowerCase
      if (seen.contains(base)) return Nil
      val db = if (parts.length > 1) parts.head.toLowerCase
        else authDbOf(base)
      val resolved = meta.resolveLc(base)
      // a VIEW input expands to its underlying reads too (the
      // analyzer's ReadEntity parents): view first, then sources
      val under = meta.viewText.get(resolved).toSeq.flatMap(vt =>
        inputTablesOf(vt).map(_.mkString("."))
          .flatMap(entity(_, seen + base)))
      val pcs = partColsForAuth(resolved)
      val partEnts =
        if (pcs.isEmpty) Nil
        else meta.showPartitionNames(resolved, resolved, pcs, Nil,
          isView = false).getOrElse(Nil).map(p => s"$db@$base@$p")
      (s"$db@$base" +: partEnts) ++ under
    }
    val useRe = "(?is)^use\\s+`?(\\w+)`?$".r
    val insRe = ("(?is)insert\\s+(?:overwrite|into)\\s+" +
      "(?:table\\s+)?`?([\\w.]+)`?").r
    val exchRe = ("(?is)^alter\\s+table\\s+`?([\\w.]+)`?\\s+exchange\\s+" +
      "partition\\s*\\([^)]*\\)\\s+with\\s+table\\s+`?([\\w.]+)`?\\s*$").r
    val (ins, outs, op) = stmt match {
      case useRe(d) =>
        (Seq(s"database:${d.toLowerCase}"), Nil, "SWITCHDATABASE")
      case exchRe(dest, srcT) =>
        // the WITH table is the read side; the ALTERed table receives
        // the partition (the recorded INPUTS/OUTPUTS split)
        (bare(srcT), bare(dest), "ALTERTABLE_EXCHANGEPARTITION")
      case _ if sl.startsWith("insert") ||
          (sl.startsWith("from") && sl.contains("insert")) =>
        val targets = insRe.findAllMatchIn(stmt).map(_.group(1)).toSeq
        val inputsT = inputTablesOf(stmt).map(_.mkString("."))
          .filterNot(t => targets.exists(x =>
            x.split('.').last.equalsIgnoreCase(t.split('.').last)))
          .sorted
        (inputsT.flatMap(t => entity(t)),
          targets.sorted.flatMap(t => entity(t)), "QUERY")
      case _ if sl.startsWith("select") || sl.startsWith("with") =>
        (inputTablesOf(stmt).map(_.mkString(".")).sorted
          .flatMap(entity(_)), Nil, "QUERY")
      case _ => (Nil, Nil, "QUERY")
    }
    if (formatted)
      Seq(s"""{"INPUTS":[${ins.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""OUTPUTS":[${outs.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""CURRENT_USER":"${auth.currentUser}","OPERATION":"$op"}""")
    else
      Seq("INPUTS: ") ++ ins.map("  " + _) ++
        Seq("OUTPUTS: ") ++ outs.map("  " + _) ++
        Seq("CURRENT_USER: ", s"  ${auth.currentUser}",
          "OPERATION: ", s"  $op")
  }

  /** Check the statement's required privileges against the session
    * AuthStore (enabled via `spark.graft.authorization=true` only —
    * see [[authEnforcementOn]]); a denial raises
    * HiveAccessControlException with the reference's message. The
    * operation → privilege table mirrors Operation2Privilege.java. */
  private[graft] def enforceAuthorization(raw0: String): Unit = {
    if (!authEnforcementOn) return
    import AuthEnforcement.Check
    val q = raw0.trim.stripSuffix(";").trim
    val ql = q.take(300).split("\\s+").mkString(" ").toLowerCase
    def mk(t: String, req: Seq[String], action: String = ""): Check = {
      val parts = t.replace("`", "").split('.')
      val base = parts.last.toLowerCase
      val db = if (parts.length > 1) parts.head.toLowerCase
        else authDbOf(base)
      Check(db, base, req, action)
    }
    def inputs(text: String, req: Seq[String] = Seq("SELECT")) =
      inputTablesOf(text).map(id => mk(id.mkString("."), req))
    // DATABASE ownership (sqlstd: CREATE/DROP in a db needs db
    // ownership; the default db's owner is the public role — everyone
    // — and a db created before ownership tracking stays lenient)
    def dbCheck(db0: String): Seq[Check] = {
      val db = db0.toLowerCase
      if (db == "default" || !auth.owners.contains((db, ""))) Nil
      else Seq(Check(db, "", Seq("OBJECT OWNERSHIP"),
        objType = "DATABASE"))
    }
    def dbOfTarget(t: String): String = {
      val parts = t.replace("`", "").split('.')
      if (parts.length > 1) parts.head.toLowerCase
      else dialect.currentDb.toLowerCase
    }
    def run(op: String, cs: Seq[Check]): Unit =
      AuthEnforcement.enforce(op, cs, auth)

    val tbl = "`?([\\w.]+)`?"
    val descRe = ("(?is)^desc(?:ribe)?\\s+(?!function\\b|database\\b|" +
      s"schema\\b)(?:formatted\\s+|extended\\s+)?$tbl.*$$").r
    val showColsRe = s"(?is)^show\\s+columns\\s+(?:from|in)\\s+$tbl.*$$".r
    val showCreateRe = s"(?is)^show\\s+create\\s+table\\s+$tbl\\s*$$".r
    val showPropsRe = s"(?is)^show\\s+tblproperties\\s+$tbl.*$$".r
    val showPartsRe = s"(?is)^show\\s+partitions\\s+$tbl.*$$".r
    val analyzeRe = s"(?is)^analyze\\s+table\\s+$tbl.*$$".r
    val dropRe = s"(?is)^drop\\s+(table|view)\\s+(?:if\\s+exists\\s+)?$tbl.*$$".r
    val truncateRe = s"(?is)^truncate\\s+table\\s+$tbl.*$$".r
    val alterRe = s"(?is)^alter\\s+table\\s+$tbl\\s+(.*)$$".r
    val createViewRe = ("(?is)^create\\s+(?:or\\s+replace\\s+)?view\\s+" +
      s"(?:if\\s+not\\s+exists\\s+)?$tbl\\b.*?\\bas\\s+(.*)$$").r
    val ctasRe = ("(?is)^create\\s+(?:temporary\\s+)?(?:external\\s+)?" +
      s"table\\s+(?:if\\s+not\\s+exists\\s+)?$tbl\\b.*?\\bas\\s+" +
      "(select\\b.*)$").r
    val loadRe = ("(?is)^load\\s+data\\s+(?:local\\s+)?inpath\\s+.*?" +
      s"(?:into|overwrite\\s+into)\\s+table\\s+$tbl.*$$").r
    val updateRe = s"(?is)^update\\s+$tbl\\s.*$$".r
    val deleteRe = s"(?is)^delete\\s+from\\s+$tbl.*$$".r
    val mergeRe = s"(?is)^merge\\s+into\\s+$tbl(?:\\s+\\w+)?\\s+using\\s+(.*)$$".r
    val insertRe2 = ("(?is)insert\\s+(overwrite|into)\\s+(?:table\\s+)?" +
      s"$tbl").r

    q match {
      case _ if ql.startsWith("select") || ql.startsWith("with") ||
          ql.startsWith("(select") =>
        run("QUERY", inputs(q))
      case descRe(t) => run("DESCTABLE", Seq(mk(t, Seq("SELECT"))))
      case showColsRe(t) => run("SHOWCOLUMNS", Seq(mk(t, Seq("SELECT"))))
      case showCreateRe(t) =>
        run("SHOW_CREATETABLE", Seq(mk(t, Seq("SELECT with grant"))))
      case showPropsRe(t) =>
        run("SHOW_TBLPROPERTIES", Seq(mk(t, Seq("SELECT"))))
      case showPartsRe(t) =>
        run("SHOWPARTITIONS", Seq(mk(t, Seq("SELECT"))))
      case analyzeRe(t) =>
        run("ANALYZE_TABLE", Seq(mk(t, Seq("SELECT", "INSERT"))))
      case dropRe(kind, t) =>
        // DROPTABLE requires ownership on the INPUT only; DROPVIEW
        // lists the view as input AND output, so its denial carries
        // the object twice (Operation2Privilege DROPVIEW (OWNER,
        // OWNER) vs DROPTABLE (OWNER, null))
        if (kind.equalsIgnoreCase("view"))
          run("DROPVIEW", Seq(mk(t, Seq("OBJECT OWNERSHIP")),
            mk(t, Seq("OBJECT OWNERSHIP"))))
        else run("DROPTABLE", Seq(mk(t, Seq("OBJECT OWNERSHIP"))))
      case truncateRe(t) =>
        run("TRUNCATETABLE", Seq(mk(t, Seq("OBJECT OWNERSHIP"))))
      case createViewRe(v, sel) => run("CREATEVIEW",
        dbCheck(dbOfTarget(v)) ++ inputs(sel, Seq("SELECT with grant")))
      case ctasRe(t, sel) => run("CREATETABLE_AS_SELECT",
        dbCheck(dbOfTarget(t)) ++ inputs(sel))
      case loadRe(t) =>
        run("LOAD", Seq(mk(t, Seq("INSERT", "DELETE"))))
      // DELETE/UPDATE rewrite into INSERT..SELECT over the table
      // (UpdateDeleteSemanticAnalyzer), so the table is BOTH the
      // written output (DELETE/UPDATE priv) and a read input (SELECT)
      case updateRe(t) => run("QUERY",
        Seq(mk(t, Seq("UPDATE"), "UPDATE"), mk(t, Seq("SELECT"))) ++
          inputs(q).filterNot(_.table == mk(t, Nil).table))
      case deleteRe(t) =>
        run("QUERY", Seq(mk(t, Seq("DELETE"), "DELETE"),
          mk(t, Seq("SELECT"))))
      case mergeRe(t, rest) =>
        val restL = rest.toLowerCase
        val req = (if (restL.contains("when matched") &&
            restL.contains("update")) Seq("UPDATE") else Nil) ++
          (if (restL.contains("delete")) Seq("DELETE") else Nil) ++
          (if (restL.contains("insert")) Seq("INSERT") else Nil)
        val src = "(?is)^`?([\\w.]+)`?".r.findFirstMatchIn(rest.trim)
          .map(_.group(1)).toSeq.map(s => mk(s, Seq("SELECT")))
        run("QUERY", Seq(mk(t, req, "UPDATE")) ++ src)
      case _ if ql.startsWith("insert") || (ql.startsWith("from") &&
          ql.contains("insert")) =>
        val outs = insertRe2.findAllMatchIn(q).map { m =>
          val overwrite = m.group(1).equalsIgnoreCase("overwrite")
          mk(m.group(2),
            if (overwrite) Seq("INSERT", "DELETE") else Seq("INSERT"),
            if (overwrite) "INSERT_OVERWRITE" else "INSERT")
        }.toSeq
        val outNames = outs.map(_.table).toSet
        run("QUERY", outs ++
          inputs(q).filterNot(c => outNames.contains(c.table)))
      case alterRe(t, rest) =>
        val rl = rest.trim.toLowerCase
        if (rl.matches("(?s)add\\s+(if\\s+not\\s+exists\\s+)?partition\\b.*"))
          // the table is the OUTPUT (INSERT); the location uri would
          // be the input (Operation2Privilege ALTERTABLE_ADDPARTS)
          run("ALTERTABLE_ADDPARTS", Seq(mk(t, Seq("INSERT"))))
        else if (rl.matches("(?s)drop\\s+(if\\s+exists\\s+)?partition\\b.*"))
          run("ALTERTABLE_DROPPARTS", Seq(mk(t, Seq("DELETE"))))
        else if (rl.startsWith("add constraint") ||
          rl.startsWith("drop constraint")) ()
        else {
          val op =
            if (rl.startsWith("rename to")) "ALTERTABLE_RENAME"
            else if (rl.startsWith("add columns")) "ALTERTABLE_ADDCOLS"
            else if (rl.startsWith("replace columns"))
              "ALTERTABLE_REPLACECOLS"
            else if (rl.startsWith("change")) "ALTERTABLE_RENAMECOL"
            else if (rl.startsWith("set location")) "ALTERTABLE_LOCATION"
            else if (rl.startsWith("set serdeproperties"))
              "ALTERTABLE_SERDEPROPERTIES"
            else if (rl.startsWith("set serde")) "ALTERTABLE_SERIALIZER"
            else if (rl.startsWith("set tblproperties") ||
              rl.startsWith("unset tblproperties"))
              "ALTERTABLE_PROPERTIES"
            else if (rl.startsWith("set fileformat"))
              "ALTERTABLE_FILEFORMAT"
            else "ALTERTABLE_PROPERTIES"
          // the table is input AND output for these (both OWNER):
          // the recorded denials list the object twice
          run(op, Seq(mk(t, Seq("OBJECT OWNERSHIP")),
            mk(t, Seq("OBJECT OWNERSHIP"))))
        }
      case _ =>
        val createTblRe = ("(?is)^create\\s+(?:temporary\\s+)?" +
          "(?:external\\s+)?table\\s+(?:if\\s+not\\s+exists\\s+)?" +
          s"$tbl\\b.*$$").r
        val dropDbRe = ("(?is)^drop\\s+(?:database|schema)\\s+" +
          "(?:if\\s+exists\\s+)?`?(\\w+)`?\\s*(cascade|restrict)?\\s*$").r
        val alterDbOwnerRe = ("(?is)^alter\\s+(?:database|schema)\\s+" +
          "`?(\\w+)`?\\s+set\\s+owner\\b.*$").r
        val msckRe = ("(?is)^msck\\s+(?:repair\\s+)?table\\s+" +
          s"$tbl.*$$").r
        q match {
          case createTblRe(t) =>
            run("CREATETABLE", dbCheck(dbOfTarget(t)))
          case dropDbRe(d, _) =>
            run("DROPDATABASE", dbCheck(d))
          case alterDbOwnerRe(d) =>
            // ADMIN-only (Operation2Privilege ALTERDATABASE_OWNER);
            // satisfiable only through an active admin role
            run("ALTERDATABASE_OWNER", Seq(Check(d.toLowerCase, "",
              Seq("ADMIN PRIVILEGE"), objType = "DATABASE")))
          case msckRe(t) => run("MSCK", Seq(mk(t, Seq("INSERT"))))
          case _ => // SHOW DATABASES/TABLES (no privileges), SET,
          // USE, authorization statements (AuthStore owns their rules)
        }
    }
  }

  /** CREATE TABLE (cols...) → column comments + PARTITIONED BY →
    * declared partition columns. */
  private def observeCreateCols(q: String): Unit = {
    val m = ("(?is)create\\s+(?:or\\s+replace\\s+)?(?:temporary\\s+)?" +
      "(?:external\\s+)?table\\s+(?:if\\s+not\\s+exists\\s+)?" +
      "`?([\\w.]+)`?\\s*").r.findFirstMatchIn(q).getOrElse(return)
    val lc = m.group(1).split('.').last.toLowerCase
    meta.balancedAfter(q, m.end).foreach { cols =>
      meta.colComments(lc) = meta.colCommentsOf(cols)
      // PK/FK entries ride in the column list (table-level syntax);
      // unqualified REFERENCES parents bind to the session database
      val db = if (m.group(1).contains("."))
        m.group(1).split('.').head.toLowerCase
      else dialect.currentDb.toLowerCase
      meta.recordConstraints(lc, cols, db)
    }
    "(?is)partitioned\\s+by\\s*".r.findFirstMatchIn(q)
      .flatMap(x => meta.balancedAfter(q, x.end)).foreach { body =>
        val pcols = splitTop(body, ',').map(c =>
          c.trim.split("\\s+")(0).replace("`", "")).filter(_.nonEmpty)
        meta.tablePartCols(lc) = pcols
        meta.colComments(lc) = meta.colComments.getOrElse(lc, Map.empty) ++
          meta.colCommentsOf(body)
      }
  }

  /** Remove table-level PK/FK constraint entries from a CREATE
    * TABLE's column list before Spark parses it — Spark's grammar has
    * no `DISABLE NOVALIDATE` informational constraints; the metadata
    * layer recorded them in [[observeMeta]] and DESCRIBE renders them
    * (ref MetaDataFormatUtils `# Constraints`). */
  protected def stripConstraintsRewrite(q: String): String = {
    val ql = q.trim.toLowerCase
    if (!ql.startsWith("create")) return q
    if ("(?is)(primary\\s+key|foreign\\s+key|\\bconstraint\\b)".r
        .findFirstIn(q).isEmpty) return q
    val m = ("(?is)create\\s+(?:or\\s+replace\\s+)?(?:temporary\\s+)?" +
      "(?:external\\s+)?table\\s+(?:if\\s+not\\s+exists\\s+)?" +
      "`?[\\w.]+`?\\s*").r.findFirstMatchIn(q).getOrElse(return q)
    val open = q.indexOf('(', m.end - 1)
    if (open < 0) return q
    val (body, after) = balancedBody(q, open).getOrElse(return q)
    val entries = splitTop(body, ',')
    val kept = entries.filterNot(meta.isConstraintEntry)
    if (kept.size == entries.size) return q
    q.substring(0, open + 1) + kept.mkString(", ") + q.substring(after - 1)
  }

  /** Hive-format CREATE TABLE → Spark datasource CREATE. Spark's
    * in-memory catalog rejects Hive-serde tables (`STORED AS` / `ROW
    * FORMAT` need enableHiveSupport); the engine keeps the DECLARED
    * Hive storage descriptor in [[meta]] (DESCRIBE renders it
    * faithfully) while the physical table maps to a Spark-native
    * source: orc/parquet stay themselves, the text-family containers
    * store as parquet (at 100 TB columnar storage dominates anyway;
    * the reference's own migration guidance is the same).
    *
    * A LOCATION clause changes the contract: the table points at
    * PRE-EXISTING data in the declared format, so silently mapping
    * delimited text to parquet would read garbage. Self-describing
    * formats (orc/parquet) keep their own source; `ROW FORMAT
    * DELIMITED`/TEXTFILE over a LOCATION maps to Spark's csv source
    * with the declared field delimiter (ctrl-A default) and `\N`
    * nulls — Hive's lazy-text layout for flat schemas; Avro and
    * SequenceFile LOCATIONs route through the engine's own readers
    * (registered datasources graft.sources.{Avro,SequenceFile}
    * DataSource); only RCFile over a LOCATION raises a clear error
    * instead of misreading (use the RcFileSource reader directly). */
  protected def hiveCreateRewrite(q: String): String = {
    val ql = q.toLowerCase
    if (!ql.trim.startsWith("create")) return q
    if (!ql.matches("(?s)\\s*create\\s+(?:temporary\\s+)?" +
        "(?:external\\s+)?table\\b.*")) return q
    if (ql.matches("(?s).*\\busing\\s+\\w+.*")) return q
    if (!ql.contains("stored as") && !ql.contains("row format") &&
        !ql.contains("skewed by")) return q
    val hasLocation =
      "(?is)\\blocation\\s+['\"]".r.findFirstIn(q).isDefined
    val declared = "(?is)stored\\s+as\\s+(\\w+)".r.findAllMatchIn(q)
      .map(_.group(1).toLowerCase)
      .find(k => k != "inputformat" && k != "directories")
    val src = declared match {
      case Some("orc") | Some("orcfile") => "orc"
      case Some("parquet") | Some("parquetfile") => "parquet"
      // container formats with pre-existing data route through the
      // engine's own registered readers (sources/AvroSource.scala,
      // sources/SequenceFileSource.scala) — full class names so the
      // resolution can't collide with another registered "avro"
      case Some("avro") | Some("avrofile") if hasLocation =>
        "graft.sources.AvroDataSource"
      case Some("sequencefile") if hasLocation =>
        "graft.sources.SequenceFileDataSource"
      case Some("textfile") | None if hasLocation => "csv"
      case Some(other) if hasLocation =>
        throw new IllegalArgumentException(
          s"CREATE TABLE ... STORED AS $other with a LOCATION points " +
            "at pre-existing data this engine cannot read through a " +
            "Spark-native source; re-declare the table as orc/parquet/" +
            "avro/sequencefile/text or load through the engine's " +
            "format readers")
      case _ => "parquet"
    }
    // the declared lazy-text delimiter rides into the csv source's
    // options so pre-existing data parses with Hive's layout
    val csvOpts =
      if (src != "csv") ""
      else {
        val delim = ("(?is)fields\\s+terminated\\s+by\\s+" +
          "'((?:[^'\\\\]|\\\\.)*)'").r.findFirstMatchIn(q)
          .map(_.group(1).replace("\\t", "\t").replace("\\u0001", "\u0001"))
          .getOrElse("\u0001")
        val d = delim.replace("\\", "\\\\").replace("'", "\\'")
        s" OPTIONS (sep '$d', nullValue '\\\\N', quote '\u0000'," +
          " header 'false')"
      }
    val sq = "'(?:[^'\\\\]|\\\\.)*'"
    var r = q
    r = ("(?is)row\\s+format\\s+serde\\s+" + sq +
      "(\\s+with\\s+serdeproperties\\s*\\([^)]*\\))?").r
      .replaceAllIn(r, " ")
    r = ("(?is)row\\s+format\\s+delimited" +
      s"(\\s+fields\\s+terminated\\s+by\\s+$sq" +
      s"(\\s+escaped\\s+by\\s+$sq)?)?" +
      s"(\\s+collection\\s+items\\s+terminated\\s+by\\s+$sq)?" +
      s"(\\s+map\\s+keys\\s+terminated\\s+by\\s+$sq)?" +
      s"(\\s+lines\\s+terminated\\s+by\\s+$sq)?" +
      s"(\\s+null\\s+defined\\s+as\\s+$sq)?").r
      .replaceAllIn(r, " ")
    r = ("(?is)stored\\s+as\\s+inputformat\\s+" + sq +
      "\\s+outputformat\\s+" + sq).r.replaceAllIn(r, " ")
    r = "(?is)stored\\s+as\\s+directories".r.replaceAllIn(r, " ")
    r = "(?is)stored\\s+as\\s+\\w+".r.replaceAllIn(r, " ")
    r = ("(?is)skewed\\s+by\\s*\\([^)]*\\)\\s*on\\s*" +
      "\\((?:[^()]|\\([^)]*\\))*\\)").r.replaceAllIn(r, " ")
    // USING must follow the column list (or the name / LIKE target
    // when there is none) — Spark's clause grammar
    val nameRe = ("(?is)(create\\s+(?:temporary\\s+)?(?:external\\s+)?" +
      "table\\s+(?:if\\s+not\\s+exists\\s+)?`?[\\w.]+`?" +
      "(\\s+like\\s+`?[\\w.]+`?)?)\\s*").r
    nameRe.findFirstMatchIn(r) match {
      case Some(m) =>
        val afterName = m.end
        val insertAt =
          if (afterName < r.length && r.charAt(afterName) == '(')
            HiveStatements.balancedBody(r, afterName)
              .map(_._2).getOrElse(afterName)
          else m.group(1).length + m.start
        r.substring(0, insertAt) + s" USING $src$csvOpts " +
          r.substring(insertAt)
      case None => r
    }
  }

  // ---------------------------------------------------------------
  // hooks
  // ---------------------------------------------------------------

  /** Replace `table`'s contents with `df` (computed against the OLD
    * contents — implementations must materialize before re-binding the
    * name, or the new definition would lazily read itself). */
  protected def rebuild(table: String, df: DataFrame): Unit =
    df.localCheckpoint().createOrReplaceTempView(table)

  /** Re-bind `table` to a LAZY projection over its captured analyzed
    * plan — for pure schema changes (ALTER ADD/REPLACE/CHANGE
    * COLUMNS). Hive performs these as metastore-only edits with
    * scan-time conversion (DataWritableReadSupport matches by name at
    * read); materializing the table to apply one would be O(data)
    * where the reference is O(metadata) — a scale-killer at 100 TB.
    * Safe without a checkpoint: the Dataset was analyzed against the
    * OLD view plan, so re-binding the name cannot recurse. */
  protected def rebind(table: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(table)

  /** Bind a WITH-clause CTE for a statement being unrolled. */
  protected def bindCte(name: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(name)

  /** Move a temp view to a new name. A rename onto the same name
    * (e.g. cross-database renames under a flat namespace) is a
    * no-op rather than a destructive re-register + drop. */
  protected def renameView(from: String, to: String): Unit =
    if (!from.equalsIgnoreCase(to)) {
      spark.table(from).createOrReplaceTempView(to)
      spark.catalog.dropTempView(from)
    }

  /** Run one INSERT statement's select text into `table`. */
  protected def insertStatement(table: String, overwrite: Boolean,
      selSql: String, partSpec: String, colList: Seq[String]): Unit =
    insertInto(table, overwrite, spark.sql(selSql), partSpec, colList)

  /** One segment of a FROM-first (multi-)insert: `FROM <from>
    * INSERT ... <sel>`. */
  protected def insertSegment(from: String, table: String,
      overwrite: Boolean, sel: String, partSpec: String,
      colList: Seq[String] = Nil): Unit =
    insertStatement(table, overwrite, s"FROM $from $sel", partSpec,
      colList)

  /** LOAD DATA: append/overwrite `path`'s rows into `table`. The
    * default parses Hive's default lazy-text layout (ctrl-A delimited,
    * `\N` nulls) against the table's declared schema. */
  protected def loadStatement(path: String, table: String,
      overwrite: Boolean, partSpec: String): Unit = {
    val schema = spark.table(table).schema
    val static = parsePartSpec(partSpec).collect {
      case (n, Some(v)) => n.toLowerCase }.toSet
    val dataFields = schema.fields.filterNot(f =>
      static.contains(f.name.toLowerCase))
    val raw = spark.read.text(path)
    val cells = org.apache.spark.sql.functions.split(col("value"),
      "\u0001", -1)
    val parsed = raw.select(dataFields.zipWithIndex.map { case (f, i) =>
      val c = when(cells.getItem(i) === "\\N" || cells.getItem(i).isNull,
        lit(null)).otherwise(cells.getItem(i))
      cvCast(c, f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    insertInto(table, overwrite, parsed, partSpec,
      dataFields.map(_.name).toSeq)
  }

  /** EXPORT TABLE snapshot: write the (optionally partition-filtered)
    * rows plus the full table schema under `path`. `metadataOnly` =
    * `FOR METADATA REPLICATION(...)`: schema only, zero rows
    * (ReplicationSpec.isMetadataOnly). */
  protected def exportSnapshot(table: String, partSpec: String,
      path: String, metadataOnly: Boolean = false,
      replication: Boolean = false): Unit = {
    val df =
      if (metadataOnly) spark.table(table).limit(0)
      else partFiltered(table, partSpec)
    df.write.mode("overwrite").parquet(s"$path/data")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_graft_schema.json"), true)
    out.write(spark.table(table).schema.json.getBytes("UTF-8"))
    out.close()
    // a replication-scoped dump marks itself; IMPORT stamps the
    // replicated table's repl.last.id (ReplicationSpec — the qtest
    // metastore's event id is 0)
    if (replication)
      fs.create(new org.apache.hadoop.fs.Path(s"$path/_graft_repl"),
        true).close()
    // the dump carries the table TYPE: an EXTERNAL table's dump
    // imports as EXTERNAL (ImportSemanticAnalyzer carry-over)
    meta.tableKind.get(table.toLowerCase).foreach { k =>
      val kout = fs.create(
        new org.apache.hadoop.fs.Path(s"$path/_graft_kind"), true)
      kout.write(k.getBytes("UTF-8")); kout.close()
    }
  }

  /** IMPORT: materialize an exported snapshot as `table` (appending
    * when the table already exists with the same width — Hive adds
    * the partitions). `external` marks IMPORT EXTERNAL TABLE (the
    * imported data stays in the export directory — reference
    * ImportSemanticAnalyzer); `location` is the statement's LOCATION
    * clause (data lands there instead). The default implementation
    * copies either way; location-aware stores can override. */
  protected def importSnapshot(table: String, partSpec: String,
      path: String, external: Boolean = false,
      location: Option[String] = None): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaFile = new org.apache.hadoop.fs.Path(
      s"$path/_graft_schema.json")
    if (!fs.exists(schemaFile)) return
    val in = fs.open(schemaFile)
    val json = scala.io.Source.fromInputStream(in).mkString
    in.close()
    val schema = DataType.fromJson(json).asInstanceOf[StructType]
    var df = spark.read.schema(schema).parquet(s"$path/data")
    val statics = parsePartSpec(partSpec).collect {
      case (n, Some(v)) => n.toLowerCase -> v }.toMap
    if (statics.nonEmpty)
      df = df.filter(schema.fields.filter(f =>
        statics.contains(f.name.toLowerCase)).map(f =>
        col(f.name).cast(StringType) === statics(f.name.toLowerCase))
        .reduce(_ && _))
    val existing = scala.util.Try(spark.table(table)).toOption
    val merged = existing match {
      case Some(t) if t.columns.length == schema.fields.length =>
        t.unionByName(df)
      case _ => df
    }
    rebuild(table, merged)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/_graft_repl")))
      meta.tableProps.getOrElseUpdate(table.toLowerCase,
        scala.collection.mutable.LinkedHashMap.empty)(
        "repl.last.id") = "0"
    // a replication-scope import lands MANAGED — the replica owns
    // its copy (ImportSemanticAnalyzer replication handling); a
    // demoted external records EXTERNAL=FALSE
    val kindFile = new org.apache.hadoop.fs.Path(s"$path/_graft_kind")
    if (existing.isEmpty && fs.exists(kindFile)) {
      val kin = fs.open(kindFile)
      val kind = scala.io.Source.fromInputStream(kin).mkString.trim
      kin.close()
      val repl = fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/_graft_repl"))
      if (!repl) meta.tableKind(table.toLowerCase) = kind
      else if (kind == "EXTERNAL_TABLE")
        meta.tableProps.getOrElseUpdate(table.toLowerCase,
          scala.collection.mutable.LinkedHashMap.empty)(
          "EXTERNAL") = "FALSE"
    }
  }

  /** hive.stats.ndv.error → FM-sketch bit-vector count
    * (HiveStatsUtils.getNumBitVectorsForNDVEstimation's ladder;
    * default error 20.0 → 16 vectors). */
  protected def ndvBitVectors: Int = {
    val e = scala.util.Try(spark.conf.get("hive.stats.ndv.error",
      "20.0").toDouble).getOrElse(20.0)
    if (e <= 3.4) 1024 else if (e <= 4.8) 512 else if (e <= 6.8) 256
    else if (e <= 9.7) 128 else if (e <= 13.8) 64
    else if (e <= 19.6) 32 else if (e <= 28.2) 16
    else if (e <= 40.9) 8 else if (e <= 61.0) 4 else 2
  }

  /** ANALYZE ... FOR COLUMNS: compute the per-column statistics the
    * metastore would hold — min/max/nulls via ordinary aggregation,
    * ndv via the bit-exact FM sketch (functions.ComputeStats, the
    * same estimator ColumnStatsSemanticAnalyzer's rewritten query
    * runs) — and record them for DESCRIBE FORMATTED t c. */
  protected def analyzeColumns(table: String, cols0: Seq[String]): Unit = {
    val df = spark.table(table)
    val lc = table.toLowerCase
    val pcs = meta.tablePartCols.getOrElse(lc, Nil).map(_.toLowerCase)
    val cols =
      if (cols0.nonEmpty) cols0
      else df.columns.toSeq.filterNot(c => pcs.contains(c.toLowerCase))
    val nv = ndvBitVectors
    val row = df.selectExpr(cols.map(c =>
      s"compute_stats(`$c`, $nv)").toIndexedSeq: _*).head()
    cols.zipWithIndex.foreach { case (c, i) =>
      val json = row.getString(i)
      def g(k: String): Option[String] =
        ("\"" + k + "\":(\"(?:[^\"\\\\]|\\\\.)*\"|[^,}]*)").r
          .findFirstMatchIn(json)
          .map(_.group(1).stripPrefix("\"").stripSuffix("\""))
          .filter(_ != "null")
      val st = scala.collection.mutable.Map[String, String]()
      g("min").foreach(st("min") = _)
      g("max").foreach(st("max") = _)
      g("countnulls").foreach(st("numNulls") = _)
      g("numdistinctvalues").foreach(st("numDVs") = _)
      g("avglength").foreach(st("avgColLen") = _)
      g("maxlength").foreach(st("maxColLen") = _)
      g("counttrues").foreach(st("numTrues") = _)
      g("countfalses").foreach(st("numFalses") = _)
      // the analyzed TYPE rides along: a later ALTER that retypes the
      // column invalidates these statistics (metastore behavior —
      // alter_table_invalidate_column_stats)
      df.schema.fields.find(_.name.equalsIgnoreCase(c)).foreach(f =>
        st("__dtype") = graft.meta.MetaRender.hiveTypeName(f.dataType))
      meta.colStats((lc, c.toLowerCase)) = st
    }
  }

  /** Re-dispatch the tail of a composite statement (WITH-prefixed
    * inserts). Default: this dialect, else a plain Spark query. */
  protected def dispatchTail(sql: String): Unit =
    if (!execute(sql)) spark.sql(sql).count()

  /** Apply a schema change (ALTER ... CHANGE COLUMN) to `table`.
    * Return true when the binding handled it (e.g. by reinterpreting
    * stored bytes schema-on-read); false → the caller materializes a
    * cast of the current values instead. */
  protected def applyNewSchema(table: String, newSchema: StructType,
      cascade: Boolean): Boolean = false

  /** Partition columns of `table` (they are metadata, not data: ADD /
    * REPLACE COLUMNS leaves them untouched and last in the logical
    * schema). Bindings with a partition registry override this. */
  protected def partitionColsOf(table: String): Seq[String] = Nil

  /** Parse an ALTER column list (`a int, m map<string,int> comment
    * 'x'`). Bindings with richer name rules may override. */
  protected def parseColumnList(cols: String): StructType =
    StructType.fromDDL(cols)

  /** ALTER TABLE ... ADD COLUMNS: the new columns read null and slot
    * in before the partition columns; stored data is untouched. */
  protected def addColumns(table: String, cols: StructType,
      cascade: Boolean): Unit = {
    val df = spark.table(table)
    val pcs = partitionColsOf(table)
    val (pFields, dFields) = df.schema.fields.partition(f =>
      pcs.exists(_.equalsIgnoreCase(f.name)))
    if (!applyNewSchema(table,
        StructType(dFields ++ cols.fields ++ pFields), cascade)) {
      val sel = (dFields.map(f => col(f.name)) ++
        cols.fields.map(f => lit(null).cast(f.dataType).as(f.name)) ++
        pFields.map(f => col(f.name))).toIndexedSeq
      rebind(table, df.select(sel: _*))
    }
  }

  /** ALTER TABLE ... REPLACE COLUMNS: project onto the new DATA
    * schema — top-level columns map by POSITION, nested struct fields
    * by NAME, value-wise conversion ([[graft.sources.SchemaEvolution]]);
    * surplus stored columns drop, extra new columns read null. */
  protected def replaceColumns(table: String, newData: StructType,
      cascade: Boolean): Unit = {
    val df = spark.table(table)
    val pcs = partitionColsOf(table).filter(p =>
      df.columns.exists(_.equalsIgnoreCase(p)))
    val partFields = df.schema.fields.filter(f =>
      pcs.exists(_.equalsIgnoreCase(f.name)))
    if (!applyNewSchema(table, StructType(newData.fields ++ partFields),
        cascade))
      rebind(table,
        graft.sources.SchemaEvolution.evolveByPosition(df, newData, pcs))
  }

  // ---------------------------------------------------------------
  // shared semantics
  // ---------------------------------------------------------------

  /** Whether `name` currently resolves to a session temp view. */
  protected def isTempView(name: String): Boolean =
    spark.sessionState.catalog.getTempView(
      name.split('.').last.toLowerCase).isDefined

  /** Catalog (non-temp) parquet table → (location, partition cols). */
  private def tableLocation(name: String): Option[(String, Seq[String])] =
    scala.util.Try {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(
          name.split('.').last))
      (meta.location.toString, meta.partitionColumnNames)
    }.toOption

  /** Partition-filtered view of a table per a PARTITION(...) spec. */
  protected def partFiltered(t: String, part: String): DataFrame = {
    val df = spark.table(t)
    parsePartSpec(part).collect { case (n, Some(v)) => n -> v }
      .foldLeft(df) { case (d, (n, v)) =>
        d.filter(col(n).cast(StringType) === v)
      }
  }

  /** INSERT semantics shared by every insert form: run the select,
    * apply Hive's insert-cast to the target's declared column types by
    * position, splice static PARTITION values at their schema
    * positions (dynamic partition values ride as trailing select
    * columns — Hive's own contract; null/empty dynamic string values
    * map to `__HIVE_DEFAULT_PARTITION__`), then replace or append. An
    * OVERWRITE with a partition spec replaces only the partitions
    * present in the insert's own output. */
  def insertInto(table: String, overwrite: Boolean, sel: DataFrame,
      partSpec: String = null, colList: Seq[String] = Nil): Unit = {
    val schema = spark.table(table).schema
    val spec = parsePartSpec(partSpec)
    val static = spec.collect { case (n, Some(v)) => n -> v }.toMap
    val dynamic = spec.collect { case (n, None) => n }.toSet
    // Hive's converters read a CHAR value through getStrippedValue —
    // char→string/varchar/number conversions see the pad-stripped
    // text (HiveCharConverter), and char→char re-pads from it
    val selCols = sel.toDF(sel.columns.indices.map(i => s"__c$i"): _*)
      .select(sel.schema.fields.zipWithIndex.map { case (f, i) =>
        f.dataType match {
          case _: org.apache.spark.sql.types.CharType =>
            org.apache.spark.sql.functions.rtrim(col(s"__c$i"))
              .as(s"__c$i")
          case _ => col(s"__c$i")
        }
      }.toIndexedSeq: _*)
    val listed = colList.map(_.toLowerCase)
    var si = 0
    def dynPart(raw: Column, f: StructField): Column =
      if (f.dataType == StringType)
        // hive.exec.default.partition.name: a null or empty dynamic
        // partition value lands in the default partition
        when(raw.isNull || raw.cast(StringType) === "",
          lit(DefaultPartitionName))
          .otherwise(raw.cast(StringType)).as(f.name)
      else cvCast(raw, f.dataType).as(f.name)
    val cast = selCols.select(schema.fields.map { f =>
      static.get(f.name.toLowerCase) match {
        case Some(v) => cvCast(lit(v), f.dataType).as(f.name)
        case None if listed.nonEmpty =>
          // explicit column list: values map by LIST position
          // (including dynamic partition columns named in the list);
          // unlisted columns read NULL
          val idx = listed.indexOf(f.name.toLowerCase)
          if (idx < 0) {
            // an UNLISTED dynamic partition column is NULL-filled and
            // lands in the default partition like any null value
            if (dynamic.contains(f.name.toLowerCase))
              dynPart(lit(null).cast(f.dataType), f)
            else lit(null).cast(f.dataType).as(f.name)
          }
          else if (dynamic.contains(f.name.toLowerCase))
            dynPart(col(s"__c$idx"), f)
          else cvCast(col(s"__c$idx"), f.dataType).as(f.name)
        case None =>
          val raw = col(s"__c$si"); si += 1
          if (dynamic.contains(f.name.toLowerCase)) dynPart(raw, f)
          else cvCast(raw, f.dataType).as(f.name)
      }
    }.toIndexedSeq: _*)
    // a CATALOG table takes a REAL write — files under the table
    // location, durable across sessions (with the metastore ledger,
    // a restart then recovers both metadata AND data). The temp-view
    // rebuild below is for session tables and harness fixtures; at
    // 100 TB an in-memory shadow of a catalog table is a scale and
    // durability bug, not an optimization.
    if (!isTempView(table) &&
        scala.util.Try(spark.catalog.tableExists(table))
          .getOrElse(false)) {
      // Hive allows INSERT OVERWRITE t ... FROM t; Spark's native
      // write refuses to overwrite its own input — materialize the
      // self-reading case first (only then: a checkpoint on every
      // overwrite would double the write volume at scale)
      def readsSelf: Boolean = cast.queryExecution.analyzed.exists {
        case lr: org.apache.spark.sql.execution.datasources
              .LogicalRelation =>
          lr.catalogTable.exists(
            _.identifier.table.equalsIgnoreCase(table))
        case _ => false
      }
      val data =
        if (overwrite && readsSelf) cast.localCheckpoint() else cast
      if (overwrite && spec.nonEmpty) {
        // partition-scoped overwrite: only the partitions present in
        // the insert's output replace (Hive's dynamic contract; a
        // fully-static spec names exactly one)
        val prev = spark.conf
          .getOption("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
          "dynamic")
        try {
          if (dynamic.isEmpty && data.isEmpty)
            // Hive truncates the static partition even on zero rows
            scala.util.Try(spark.sql(
              s"ALTER TABLE `$table` DROP IF EXISTS " +
                s"PARTITION ($partSpec)"))
          else data.write.mode("overwrite").insertInto(table)
        } finally prev match {
          case Some(v) => spark.conf
            .set("spark.sql.sources.partitionOverwriteMode", v)
          case None => spark.conf
            .unset("spark.sql.sources.partitionOverwriteMode")
        }
      } else if (overwrite) data.write.mode("overwrite")
        .insertInto(table)
      else data.write.insertInto(table)
      recordInsertPartition(table, schema, static)
      return
    }
    val merged =
      if (overwrite && spec.nonEmpty && dynamic.isEmpty) {
        // fully-STATIC partition OVERWRITE clears that partition even
        // when the insert produces ZERO rows (Hive truncates the
        // partition directory before the move)
        val hit = spec.collect { case (n, Some(v)) =>
          val f = schema.fields.find(_.name.equalsIgnoreCase(n)).get
          col(f.name).cast(StringType) <=> v
        }.reduce(_ && _)
        spark.table(table).filter(!coalesce(hit, lit(false)))
          .union(cast)
      } else if (overwrite && spec.nonEmpty) {
        // dynamic (or mixed) OVERWRITE replaces only the partitions
        // present in the insert's own output — Hive's
        // dynamic-partition overwrite contract. NULL-SAFE match: the
        // default partition (a null dynamic value on a typed column)
        // must replace too, and a plain join would never pair nulls
        val pFields = spec.map { case (n, _) =>
          schema.fields.find(_.name.equalsIgnoreCase(n)).get.name }
        val cur = spark.table(table).alias("__cur")
        val aff = cast.select(pFields.map(col): _*).distinct()
          .alias("__aff")
        val cond = pFields.map(n =>
          col(s"__cur.$n") <=> col(s"__aff.$n")).reduce(_ && _)
        cur.join(aff, cond, "left_anti")
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
          .union(cast)
      } else if (overwrite) cast
      else spark.table(table).union(cast)
    rebuild(table, merged)
    recordInsertPartition(table, schema, static)
  }

  /** Partition registry: a fully-static insert creates (or refreshes)
    * its partition's written-schema entry + descriptor snapshot, so
    * `DESCRIBE FORMATTED t PARTITION(...)` resolves through the
    * public entry (metastore add_partition-on-write semantics). */
  private def recordInsertPartition(table: String, schema: StructType,
      static: Map[String, String]): Unit =
    if (autoObserveMeta && static.nonEmpty) {
      val lc = table.toLowerCase
      val pcs = meta.tablePartCols.getOrElse(lc, Nil)
      if (pcs.nonEmpty && static.size == pcs.size) {
        val key = pcs.map(pc => static.getOrElse(pc.toLowerCase, ""))
        if (!key.contains("")) {
          val pm = meta.partSchemas.getOrElseUpdate(lc,
            scala.collection.mutable.Map.empty)
          if (!pm.contains(key)) {
            pm(key) = StructType(schema.fields.filterNot(f =>
              pcs.exists(_.equalsIgnoreCase(f.name))).toIndexedSeq)
            meta.snapshotPartMeta(lc, key)
          }
        }
      }
    }

  // ---------------------------------------------------------------
  // dispatch
  // ---------------------------------------------------------------

  /** Execute `sql0` if it is a dialect statement; false = not ours. */
  def execute(sql0: String): Boolean = {
    val q = sql0.trim.stripSuffix(";")
    // dispatch on a whitespace-run-collapsed head so `update\n  t`
    // routes like `update t` (statement regexes already use \s+);
    // the head/tail joint keeps a separator so no tokens glue
    val ql = {
      val head = q.take(200)
      val joint =
        if (q.length > 200 && head.lastOption.exists(_.isWhitespace)) " "
        else ""
      (head.split("\\s+").mkString(" ") + joint + q.drop(200)).toLowerCase
    }
    // authorization statements (GRANT/REVOKE privilege-or-role,
    // CREATE/DROP ROLE, SET ROLE) mutate the session AuthStore —
    // SHOW GRANT and friends are metadata reads served by metaQuery
    if ((ql.startsWith("grant ") || ql.startsWith("revoke ") ||
        ql.startsWith("create role ") || ql.startsWith("drop role ") ||
        ql.startsWith("set role ")) &&
        auth.executeStatement(q, dialect.currentDb)) return true
    if (ql.startsWith("update ")) q match {
      case updateRe(t, sets, w) =>
        val table = t.split('.').last
        val assigns = splitTop(sets, ',').map { a =>
          val kv = a.split("=", 2)
          kv(0).trim.replace("`", "") -> kv(1).trim
        }
        val cond = Option(w).map(expr).getOrElse(lit(true))
        tableLocation(table) match {
          case Some((loc, parts)) if !isTempView(table) =>
            MergeInto.update(spark, loc, cond,
              assigns.map { case (c, e) => c -> expr(e) }.toMap, parts)
            spark.catalog.refreshTable(table)
          case _ =>
            val hit = coalesce(cond, lit(false))
            val df = spark.table(table)
            rebuild(table, df.select(df.columns.map { c =>
              assigns.find(_._1.equalsIgnoreCase(c)) match {
                case Some((_, e)) =>
                  // the assigned value coerces to the COLUMN's type
                  // (Hive casts; an unparseable value reads NULL) —
                  // without this the when() would coerce the whole
                  // column to the value's type instead
                  when(hit, cvCast(expr(e), df.schema(c).dataType))
                    .otherwise(col(c)).as(c)
                case None => col(c)
              }
            }.toIndexedSeq: _*))
        }
        true
      case _ => false
    } else if (ql.startsWith("delete from")) q match {
      case deleteRe(t, w) =>
        val table = t.split('.').last
        val cond = Option(w).map(expr).getOrElse(lit(true))
        tableLocation(table) match {
          case Some((loc, parts)) if !isTempView(table) =>
            MergeInto.delete(spark, loc, cond, parts)
            spark.catalog.refreshTable(table)
          case _ =>
            rebuild(table,
              spark.table(table).where(!coalesce(cond, lit(false))))
        }
        true
      case _ => false
    } else if (ql.startsWith("merge into")) q match {
      case mergeRe(t, tAlias, src, sAlias, on, clauses) =>
        executeMerge(t.split('.').last, Option(tAlias), src.trim,
          Option(sAlias), on, clauses)
        true
      case _ => false
    } else if (ql.startsWith("create index")) {
      // Hive 2.x index DDL: record the definition (SHOW INDEX serves
      // it); the engine's scans don't consult index tables — Spark's
      // own pruning/pushdown replaces the rebuild-era machinery
      ("(?is)^create\\s+index\\s+`?(\\w+)`?\\s+on\\s+table\\s+" +
        "`?([\\w.]+)`?\\s*\\(([^)]*)\\)\\s+as\\s+['\"]([^'\"]+)['\"]").r
        .findFirstMatchIn(q) match {
        case Some(m) =>
          val cmt = "(?is)\\bcomment\\s+['\"]([^'\"]*)['\"]".r
            .findFirstMatchIn(q.substring(m.end)).map(_.group(1))
            .getOrElse("")
          meta.recordIndex(meta.resolveLc(m.group(2)), m.group(1),
            m.group(3).split(",").map(_.trim.replace("`", ""))
              .filter(_.nonEmpty).toSeq,
            m.group(4), cmt)
          true
        case None => false
      }
    } else if (ql.startsWith("drop index")) {
      ("(?is)^drop\\s+index\\s+(?:if\\s+exists\\s+)?`?(\\w+)`?\\s+" +
        "on\\s+`?([\\w.]+)`?").r.findFirstMatchIn(q) match {
        case Some(m) =>
          meta.dropIndex(meta.resolveLc(m.group(2)), m.group(1)); true
        case None => false
      }
    } else if (ql.startsWith("alter index") &&
        ql.matches("(?s).*\\brebuild\\b.*")) {
      true // REBUILD: nothing to materialize
    } else if (ql.startsWith("lock table") ||
        ql.startsWith("unlock table")) {
      meta.recordLockDdl(q, dialect.currentDb.toLowerCase)
    } else if (ql.startsWith("analyze table") &&
        ql.matches("(?s).*\\bfor\\s+columns\\b.*")) {
      // column statistics land in the metadata layer; a bare ANALYZE
      // (no FOR COLUMNS) falls through to Spark's own command
      ("(?is)^analyze\\s+table\\s+`?([\\w.]+)`?\\s+" +
        "compute\\s+statistics\\s+for\\s+columns\\s*(.*)$").r
        .findFirstMatchIn(q) match {
        case Some(m) =>
          analyzeColumns(m.group(1).split('.').last,
            m.group(2).split(",").map(_.trim.replace("`", ""))
              .filter(_.nonEmpty).toSeq)
          true
        case None => false
      }
    } else if (ql.startsWith("alter table") &&
        ql.contains("update statistics")) {
      meta.recordUpdateStatistics(q)
    } else if (ql.startsWith("alter table") &&
        ql.matches("(?s).*\\bcompact\\s+['\"](?:minor|major)['\"]\\s*$")) {
      meta.recordCompact(q, dialect.currentDb.toLowerCase)
    } else if (ql.matches("(?s)^alter\\s+(?:database|schema)\\s+\\S+\\s+" +
        "set\\s+owner\\b.*")) {
      // SET OWNER is dialect-only syntax — the metadata layer holds
      // the owner (Spark's grammar rejects the clause)
      meta.recordDatabaseDdl(q)
      true
    } else if (ql.matches("(?s)^create\\s+(?:temporary\\s+)?" +
        "(?:external\\s+)?table\\b.*") &&
        "(?is)\\bstored\\s+by\\s+['\"]".r.findFirstIn(
          HiveStatements.maskStringLiterals(q)).isDefined) {
      // CREATE ... STORED BY 'handler.class' — a registered storage
      // handler owns the table's schema and scan (the dialect's
      // HiveStorageHandler surface; graft.sources.StorageHandlers).
      // The clause is located on the literal-MASKED text so a string
      // literal containing "stored by '" cannot claim the statement;
      // the class name reads back from the original at the same
      // offsets (masking is 1:1).
      val nm = ("(?is)^create\\s+(?:temporary\\s+)?(?:external\\s+)?" +
        "table\\s+(?:if\\s+not\\s+exists\\s+)?`?([\\w.]+)`?").r
        .findFirstMatchIn(q)
      val cls = "(?is)\\bstored\\s+by\\s+['\"]".r
        .findFirstMatchIn(HiveStatements.maskStringLiterals(q))
        .flatMap { mm =>
          val openQ = mm.end - 1
          val close = q.indexOf(q.charAt(openQ), openQ + 1)
          if (close > openQ) Some(q.substring(openQ + 1, close))
          else None
        }
      (nm, cls) match {
        case (Some(n), Some(c)) =>
          val name = n.group(1).split('.').last
          val h = graft.sources.StorageHandlers.get(c).getOrElse(
            throw new IllegalArgumentException(
              s"no registered storage handler: $c"))
          if (!(ql.contains("if not exists") && isTempView(name))) {
            val lc = name.toLowerCase
            val props = meta.tableProps.get(lc)
              .map(_.toMap).getOrElse(Map.empty[String, String])
            val df = h.scan(spark, props)
            df.createOrReplaceTempView(name)
            // a handler serde re-derives columns at describe time —
            // comments render "from deserializer" (DruidSerDe path)
            meta.colComments(lc) = df.schema.fieldNames
              .map(f => f.toLowerCase -> "from deserializer").toMap
          }
          true
        case _ => false
      }
    } else if (ql.startsWith("truncate table")) q match {
      // TRUNCATE TABLE t [PARTITION (spec)] [COLUMNS (c, ...)] —
      // COLUMNS empties the named columns' stored data (reads as NULL
      // afterwards; ref ql/parse/DDLSemanticAnalyzer truncate handling)
      case truncateRe(t, part, colsTxt) =>
        val table = t.split('.').last
        val df = spark.table(table)
        val hit: Column = parsePartSpec(part)
          .collect { case (n, Some(v)) => col(n).cast(StringType) <=> v }
          .reduceOption(_ && _).getOrElse(lit(true))
        val out =
          if (colsTxt != null) {
            val names = colsTxt.split(",").map(_.trim.replace("`", ""))
              .filter(_.nonEmpty).map(_.toLowerCase).toSet
            df.select(df.columns.map { c =>
              if (names.contains(c.toLowerCase))
                when(hit, lit(null).cast(df.schema(c).dataType))
                  .otherwise(col(c)).as(c)
              else col(c)
            }.toIndexedSeq: _*)
          } else df.filter(!hit)
        rebuild(table, out)
        true
      case _ => false
    } else if (ql.startsWith("load data")) q match {
      case loadRe(path, ow, table, part) =>
        loadStatement(path, table.split('.').last, ow != null, part)
        true
      case _ => false
    } else if (ql.startsWith("export table")) q match {
      case exportRe(t, part, path) =>
        exportSnapshot(t.split('.').last, part, path,
          metadataOnly = ql.matches(
            "(?s).*\\bfor\\s+metadata\\s+replication\\b.*"),
          replication = ql.matches(
            "(?s).*\\bfor\\s+(?:metadata\\s+)?replication\\b.*"))
        true
      case _ => false
    } else if (ql.startsWith("import")) q match {
      case importRe(ext, t, part, path, loc) =>
        val target0 = if (t == null)
          path.replaceAll("/+$", "").split('/').last.toLowerCase
        else t.split('.').last
        // IMPORT materializes in the session's current database (or
        // the statement's explicit qualifier — ImportSemanticAnalyzer
        // .java tableName resolution): bind the physical
        // always-mangle name so cross-db twins coexist
        val impDb =
          if (t != null && t.contains("."))
            t.split('.').head.toLowerCase
          else dialect.currentDb.toLowerCase
        val target =
          if (target0.contains("__") || impDb == "default" ||
              !dialect.knownDbs.contains(impDb)) target0
          else {
            dialect.dbTables.getOrElseUpdate(impDb,
              scala.collection.mutable.Set[String]()) +=
              target0.toLowerCase
            s"${impDb}__$target0"
          }
        importSnapshot(target, part, path, ext != null, Option(loc))
        true
      case _ => false
    } else if (ql.startsWith("alter table") || ql.startsWith("alter view"))
      q match {
        // informational PK/FK constraint DDL is metadata-only
        // (observeMeta recorded it; Spark's v1 grammar has no
        // ADD/DROP CONSTRAINT to forward to)
        case _ if ql.matches("(?s)alter\\s+table\\s+\\S+\\s+" +
            "(?:add|drop)\\s+constraint\\b.*") => true
        // ADD PARTITION on a session (temp-view) table is metadata-
        // only — the metadata layer recorded the spec in observeMeta;
        // there is no directory to create (Hive: metastore add_partition)
        case _ if autoObserveMeta &&
            ql.matches("(?s)alter\\s+(?:table|view)\\s+\\S+\\s+add\\s+" +
              "(?:if\\s+not\\s+exists\\s+)?partition\\b.*") &&
            "(?is)alter\\s+(?:table|view)\\s+`?([\\w.]+)`?".r
              .findFirstMatchIn(q)
              .exists(m => isTempView(m.group(1).split('.').last)) =>
          true
        case renamePartRe(t, fromSpec, toSpec) =>
          val table = t.split('.').last
          val from = parsePartSpec(fromSpec).collect {
            case (n, Some(v)) => n -> v }
          val to = parsePartSpec(toSpec).collect {
            case (n, Some(v)) => n.toLowerCase -> v }.toMap
          val df = spark.table(table)
          val hit = from.map { case (n, v) =>
            col(n).cast(StringType) <=> lit(v) }.reduce(_ && _)
          rebuild(table, df.select(df.columns.map { c =>
            to.get(c.toLowerCase) match {
              case Some(v) =>
                when(hit, cvCast(lit(v), df.schema(c).dataType))
                  .otherwise(col(c)).as(c)
              case None => col(c)
            }
          }.toIndexedSeq: _*))
          true
        case renameRe(from, to) if isTempView(from) =>
          renameView(from.split('.').last, to.split('.').last)
          true
        case dropPartRe(t, specs) =>
          // DROP PARTITION (possibly several, each with comparators:
          // Hive allows p < '2014-09-24'): drop rows matching ANY spec
          val table = t.split('.').last
          val df = spark.table(table)
          val drop = partitionCondRe.findAllMatchIn(specs).map { m =>
            splitTop(m.group(1), ',').map { e =>
              partCompRe.findFirstMatchIn(e) match {
                case Some(c) =>
                  val l = col(c.group(1))
                  // typed partition literals (dt=timestamp '...')
                  // carry the bare text value, like parsePartSpec
                  val bare0 = c.group(3).trim
                    .replaceFirst("(?is)^(?:date|timestamp)\\s+'", "'")
                  val wasQuoted = bare0.startsWith("'") ||
                    bare0.startsWith("\"")
                  val raw0 = bare0
                    .stripPrefix("'").stripSuffix("'")
                    .stripPrefix("\"").stripSuffix("\"")
                  // unquoted typed literals carry a TYPE suffix
                  // (110Y, 22000S, 330000000000L, 110BD, 3.4D)
                  val raw =
                    if (wasQuoted) raw0
                    else raw0
                      .replaceFirst("^(-?\\d+)(?:[YSLysl]|[Bb][Dd])$",
                        "$1")
                      .replaceFirst("^(-?\\d+\\.\\d+)[BbDdFf]*$", "$1")
                  val v = lit(raw).cast(df.schema(c.group(1)).dataType)
                  // the default-partition NAME addresses the NULL
                  // partition (drop_partitions_filter4); STRING
                  // partition columns store the name itself, typed
                  // ones store NULL
                  if (raw == DefaultPartitionName) {
                    val hit = l.isNull ||
                      (l.cast(StringType) <=> DefaultPartitionName)
                    c.group(2) match {
                      case "=" => hit
                      case "<>" | "!=" => !hit
                      case _ => lit(false)
                    }
                  } else c.group(2) match {
                    case "=" => l <=> v
                    // a NULL partition never matches a comparator
                    // (metastore filters skip the default partition:
                    // filter4 keeps Uganda/NULL through `d != 3`)
                    case "<>" | "!=" => l =!= v
                    case "<" => l < v
                    case "<=" => l <= v
                    case ">" => l > v
                    case ">=" => l >= v
                  }
                case None => lit(false)
              }
            }.reduce(_ && _)
          }.reduceOption(_ || _).getOrElse(lit(false))
          rebuild(table, df.filter(!coalesce(drop, lit(false))))
          true
        case changeColRe(t, oldName, newName, typ, pos, cascade) =>
          // CHANGE COLUMN: rename + retype + optional FIRST/AFTER
          // repositioning. Metadata-first: applyNewSchema lets the
          // binding reinterpret stored bytes; the fallback casts the
          // materialized values.
          val table = t.split('.').last
          val df = spark.table(table)
          val dt = org.apache.spark.sql.catalyst.parser
            .CatalystSqlParser.parseDataType(typ)
          var fields = df.schema.fields.map { f =>
            if (f.name.equalsIgnoreCase(oldName))
              StructField(newName, dt, nullable = true)
            else f
          }.toVector
          Option(pos).map(_.trim.toLowerCase).foreach { p =>
            val idx = fields.indexWhere(_.name.equalsIgnoreCase(newName))
            val f = fields(idx)
            val rest = fields.patch(idx, Nil, 1)
            fields =
              if (p == "first") f +: rest
              else {
                val after = p.stripPrefix("after").trim.replace("`", "")
                val at = rest.indexWhere(_.name.equalsIgnoreCase(after))
                if (at < 0) f +: rest
                else (rest.take(at + 1) :+ f) ++ rest.drop(at + 1)
              }
          }
          val newSchema = StructType(fields)
          if (!applyNewSchema(table, newSchema,
              cascade != null && cascade.equalsIgnoreCase("cascade"))) {
            // cast fallback keyed by OLD position: field i reads old
            // column i (Hive's positional bytes contract)
            val cols = fields.map { f =>
              val oldIdx = df.schema.fields.indexWhere(x =>
                f.name.equalsIgnoreCase(
                  if (x.name.equalsIgnoreCase(oldName)) newName
                  else x.name))
              cvCast(col(df.columns(oldIdx)), f.dataType).as(f.name)
            }
            rebind(table, df.select(cols: _*))
          }
          true
        case _ if parseAddReplaceColumns(q).isDefined =>
          val (table, kind, cols, cascade) = parseAddReplaceColumns(q).get
          if (kind.equalsIgnoreCase("add"))
            addColumns(table.split('.').last, parseColumnList(cols),
              cascade)
          else
            replaceColumns(table.split('.').last, parseColumnList(cols),
              cascade)
          true
        case _ => false
      }
    else if (ql.startsWith("with") &&
        ql.matches("(?s).*\\binsert\\s+(?:overwrite|into)\\b.*")) {
      // WITH-prefixed INSERT (Hive allows `WITH ctes FROM x INSERT
      // ...`): materialize each CTE (balanced-paren scan — CTE bodies
      // nest freely), then re-dispatch the tail
      var rest = q.substring(4)
      var more = true
      while (more) {
        more = false
        "(?is)^\\s*,?\\s*(\\w+)\\s+as\\s*\\(".r
          .findFirstMatchIn(rest).foreach { m =>
            val open = m.end - 1
            var depth = 0
            var i = open
            var close = -1
            while (i < rest.length && close < 0) {
              rest(i) match {
                case '(' => depth += 1
                case ')' => depth -= 1; if (depth == 0) close = i
                case _ =>
              }
              i += 1
            }
            if (close > 0) {
              bindCte(m.group(1), spark.sql(rest.substring(open + 1, close)))
              rest = rest.substring(close + 1)
              more = rest.matches("(?s)^\\s*,.*")
            }
          }
      }
      dispatchTail(rest.trim)
      true
    } else if (ql.startsWith("from")) q match {
      // Hive FROM-first inserts (possibly MULTI-insert: one scan, many
      // sinks); each segment replays as FROM <tree> SELECT ...
      case _ if ql.contains("insert overwrite") &&
          ql.contains("directory") => false // caller-specific
      case fromHeadRe(from, rest) =>
        rest.split("(?is)(?=insert\\s+(?:overwrite|into)\\s+)")
          .map(_.trim).filter(_.nonEmpty).foreach {
            case insertSegRe(mode, table, part, cols, sel) =>
              insertSegment(from, table,
                mode.equalsIgnoreCase("overwrite"), sel, part,
                if (cols == null) Nil
                else cols.split(",").map(_.trim.replace("`", ""))
                  .filter(_.nonEmpty).toSeq)
            case seg => throw new IllegalStateException(
              s"unhandled insert segment: $seg")
          }
        true
      case _ => false
    } else if (ql.startsWith("insert") &&
        !ql.matches("(?s)insert\\s+overwrite\\s+(?:local\\s+)?directory.*"))
      q match {
        case insertRe(mode, table, partA, ifNotExists, cols, partB, sel) =>
          val colList =
            if (cols == null) Nil
            else cols.stripPrefix("(").stripSuffix(")").split(",")
              .toSeq.map { s0 =>
                // backticked names keep inner spaces (` middle `)
                val t = s0.trim
                if (t.startsWith("`") && t.endsWith("`") && t.length > 1)
                  t.substring(1, t.length - 1)
                else t
              }.filter(_.nonEmpty)
          val part = if (partA != null) partA else partB
          // INSERT OVERWRITE ... PARTITION (...) IF NOT EXISTS is a
          // no-op when the partition already holds rows
          // (ql/parse/SemanticAnalyzer IF NOT EXISTS on static spec)
          val partExists = ifNotExists != null && part != null &&
            !partFiltered(table, part).isEmpty
          if (!partExists)
            insertStatement(table, mode.equalsIgnoreCase("overwrite"),
              sel, part, colList)
          true
        case _ => false
      }
    else false
  }

  /** MERGE INTO: parse the ON equality and the ordered WHEN clause
    * list, then route — catalog tables through [[MergeInto]]'s
    * copy-on-write, temp views through the same clause semantics with
    * an in-place rebuild. */
  private def executeMerge(table: String, tAlias: Option[String],
      srcText: String, sAlias: Option[String], on: String,
      clauseText: String): Unit = {
    val source =
      if (srcText.startsWith("("))
        spark.sql(srcText.stripPrefix("(").stripSuffix(")"))
      else spark.table(srcText.split('.').last)
    // rewrite user aliases to MergeInto's canonical t/s prefixes
    val ta = tAlias.getOrElse(table)
    val sa = sAlias.getOrElse(srcText)
    def canon(e: String): String = e
      .replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(ta) + "\\.",
        "t.")
      .replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(sa) + "\\.",
        "s.")
    var source2 = source
    // canonicalize the ON clause's aliases first: the t./s. qualifiers
    // are AUTHORITATIVE for which side owns each key name — inferring
    // from the source's column set misfires when the source carries an
    // unrelated column with the target key's name
    val onC = canon(on)
    val key = "(?is)\\s*(\\w+)\\.(\\w+)\\s*=\\s*(\\w+)\\.(\\w+)\\s*".r
      .findFirstMatchIn(onC) match {
      case Some(m) if m.group(2).equalsIgnoreCase(m.group(4)) =>
        m.group(2)
      case Some(m) =>
        // differently-named key columns (ON t.a = s.a1): expose the
        // source key under the target's name; the original column
        // stays for the WHEN clauses' s.<col> references
        val (tk, sk) =
          if (m.group(1).equalsIgnoreCase("t")) (m.group(2), m.group(4))
          else if (m.group(3).equalsIgnoreCase("t"))
            (m.group(4), m.group(2))
          else if (source.columns.exists(_.equalsIgnoreCase(m.group(4))))
            (m.group(2), m.group(4))
          else (m.group(4), m.group(2))
        // ALWAYS rebind: a pre-existing source column under the
        // target key's name is unrelated — the join must see the ON
        // clause's source key (withColumn overwrites in place)
        source2 = source2.withColumn(tk, col(sk))
        tk
      case _ => throw new IllegalArgumentException(
        s"MERGE: ON must be a single same-name key equality, got: $on")
    }
    val tCols = spark.table(table).columns.toSeq
    var matched = Seq.empty[MergeInto.MatchedAction]
    var notMatched = Seq.empty[MergeInto.InsertAction]
    whenClauseRe.findAllMatchIn(clauseText).foreach { m =>
      val not = m.group(1) != null
      val cond = Option(m.group(2)).map(c => expr(canon(c)))
      val action = m.group(3).trim
      val al = action.toLowerCase
      if (al.startsWith("delete"))
        matched :+= MergeInto.DeleteAction(cond)
      else if (al.startsWith("update")) {
        val sets = splitTop(
          action.replaceFirst("(?is)update\\s+set\\s+", ""), ',')
        matched :+= MergeInto.UpdateAction(sets.map { a =>
          val kv = a.split("=", 2)
          kv(0).trim.replace("`", "").split('.').last ->
            expr(canon(kv(1).trim))
        }.toMap, cond)
      } else if (al.startsWith("insert") && not) {
        val vals = "(?is)insert\\s+values\\s*\\((.*)\\)".r
          .findFirstMatchIn(action).map(x => splitTop(x.group(1), ','))
          .getOrElse(Nil)
        notMatched :+= MergeInto.InsertAction(
          tCols.zip(vals).map { case (c, v) =>
            c -> expr(canon(v)) }.toMap, cond)
      }
    }
    tableLocation(table) match {
      case Some((loc, parts)) if !isTempView(table) =>
        MergeInto.mergeInto(spark, loc, source2, key, matched,
          notMatched, parts)
        spark.catalog.refreshTable(table)
      case _ =>
        rebuild(table, MergeInto.mergeResult(spark.table(table),
          source2, key, matched, notMatched))
    }
  }
}

object HiveStatements {

  /** Process-wide ledger write/load serialization per metastore
    * path: multiple Connect dispatchers share one server JVM (the
    * reference serializes all metadata writes through one RDBMS).
    * CROSS-process writers additionally stay safe through nonce-named
    * delta segments + a directory rescan before every write. */
  private val ledgerLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[graft] def ledgerLock(path: String): Object =
    ledgerLocks.computeIfAbsent(path, _ => new Object)

  /** hive.exec.default.partition.name's default. */
  val DefaultPartitionName = "__HIVE_DEFAULT_PARTITION__"

  /** Split on `sep` at paren/angle-bracket depth 0 (decimal(p,s) and
    * complex types nest), outside string literals, comments and
    * backticked names ([[structureOf]]). */
  def splitTop(s: String, sep: Char): Seq[String] = {
    val m = structureOf(s)
    var depth = 0
    cutAt(s, m.indices.filter { i =>
      m(i) match {
        case '<' | '(' => depth += 1
        case '>' | ')' => depth -= 1
        case _ =>
      }
      m(i) == sep && depth == 0
    })
  }

  /** Split on `sep` outside string literals, comments and backticked
    * names, at any paren depth (a static partition value may contain
    * the separator: `hr='file,'`). */
  def splitQuoted(s: String, sep: Char): Seq[String] = {
    val m = structureOf(s)
    cutAt(s, m.indices.filter(m(_) == sep))
  }

  /** The trimmed, non-empty pieces of `s` between the `cuts` offsets. */
  private def cutAt(s: String, cuts: Seq[Int]): Seq[String] =
    (-1 +: cuts).zip(cuts :+ s.length)
      .map { case (a, b) => s.substring(a + 1, b).trim }.filter(_.nonEmpty)

  /** The engine's one lexical rule for HiveQL text (HiveLexer.g
    * StringLiteral and COMMENT): `q` with the body of every '…' or "…"
    * string literal filled with [[LiteralFill]] (quotes kept, so
    * `'[^']*'` spans a literal and a regex group reads it back from
    * `q`) and the body of every line (`--`) and block comment blanked.
    * A literal ends at its first quote that is neither
    * backslash-escaped nor SQL-doubled.
    * Optimizer hints (block comments opening with `+`) stay visible as
    * code, and so do backticked names, whose quotes open no literal.
    * The length is kept, so an offset into the masked text indexes the
    * same character of `q`; every rewrite and scanner of the dialect
    * locates code this way (`SELECT 'stored by x'` must not trip the
    * STORED BY dispatch). */
  def maskStringLiterals(q: String): String = {
    val sb = new StringBuilder(q)
    def fill(from: Int, to: Int, c: Char): Unit =
      (from until math.min(to, q.length)).foreach(sb.setCharAt(_, c))
    def endOf(at: Int) = if (at < 0) q.length else at
    var i = 0
    while (i < q.length) {
      val c = q.charAt(i)
      if (c == '\'' || c == '"') {
        var j = i + 1
        while (j < q.length && (q.charAt(j) != c ||
            j + 1 < q.length && q.charAt(j + 1) == c))
          j += (if (q.charAt(j) == '\\' || q.charAt(j) == c) 2 else 1)
        fill(i + 1, j, LiteralFill)
        i = j + 1
      } else if (c == '`') i = endOf(q.indexOf('`', i + 1)) + 1
      else if (q.startsWith("--", i)) {
        val e = endOf(q.indexOf('\n', i))
        fill(i + 2, e, ' ')
        i = e
      } else if (q.startsWith("/*", i) && !q.startsWith("/*+", i)) {
        val e = endOf(q.indexOf("*/", i + 2))
        fill(i + 2, e, ' ')
        i = e + 2
      } else i += 1
    }
    sb.toString
  }

  /** What a masked literal body holds: neither a word nor a space
    * character, so no identifier, keyword or `\s` pattern matches
    * inside a literal (`concat(x, '-')` must not read `x` twice). */
  val LiteralFill = '\u0001'

  /** [[maskStringLiterals]] with backticked names filled too: the
    * text the structural scanners read, where a paren, comma or
    * keyword inside a literal, comment or name is not structure. */
  private def structureOf(s: String): String =
    backticked.replaceAllIn(maskStringLiterals(s),
      m => m.matched.map(c => if (c == '`') c else LiteralFill))
  private val backticked = "`[^`]*`?".r

  /** Every match of `re` in the code of `q` — found in its masked text,
    * so no literal or comment matches — with groups that read `q`
    * itself at the same offsets. */
  def matchesInCode(q: String, re: Regex): Iterator[Regex.Match] = {
    val mt = re.pattern.matcher(maskStringLiterals(q))
    Iterator.continually(mt.find()).takeWhile(identity)
      .map(_ => new Regex.Match(q, mt, Nil).force)
  }

  /** `q` with each [[matchesInCode]] match replaced by `f` of it (the
    * result is spliced in as is: no `$n` expansion). */
  def replaceInCode(q: String, re: Regex)(f: Regex.Match => String)
      : String = {
    val sb = new java.lang.StringBuilder
    var last = 0
    matchesInCode(q, re).foreach { m =>
      sb.append(q, last, m.start).append(f(m))
      last = m.end
    }
    sb.append(q, last, q.length).toString
  }

  /** The matches of `re` at or after `from` that start at paren depth 0
    * (counted from `from`) in the structure of `s` — outside literals,
    * comments, backticked names and nested parens — with groups that
    * read `s`. */
  def topMatches(s: String, re: Regex, from: Int = 0)
      : Iterator[Regex.Match] = {
    val m = structureOf(s)
    val mt = re.pattern.matcher(m).region(from, m.length)
      .useTransparentBounds(true).useAnchoringBounds(false)
    var depth = 0
    var at = from
    // the filter counts parens up to the matcher's current match, so
    // each match is taken before the next find()
    Iterator.continually(mt.find()).takeWhile(identity).filter { _ =>
      (at until mt.start).foreach(i =>
        if (m(i) == '(') depth += 1 else if (m(i) == ')') depth -= 1)
      at = mt.start
      depth == 0
    }.map(_ => new Regex.Match(s, mt, Nil).force)
  }

  /** The first of [[topMatches]]. */
  def topMatch(s: String, re: Regex, from: Int = 0): Option[Regex.Match] =
    topMatches(s, re, from).nextOption()

  /** Balanced-paren body starting at the '(' at `open`, counted in the
    * structure of `s` (parens inside literals, e.g. column COMMENT
    * text, don't count). Returns (body, indexAfterClose). */
  def balancedBody(s: String, open: Int): Option[(String, Int)] = {
    var depth = 0
    val m = structureOf(s)
    (open until m.length).find { i =>
      if (m(i) == '(') depth += 1
      else if (m(i) == ')') depth -= 1
      m(i) == ')' && depth == 0
    }.map(close => (s.substring(open + 1, close), close + 1))
  }

  /** ALTER TABLE t ADD|REPLACE COLUMNS (list) [CASCADE|RESTRICT] →
    * (table, kind, column-list body, cascade). The list body comes
    * from a balanced scan, not a greedy regex — a COMMENT containing
    * ')' must not truncate it. */
  def parseAddReplaceColumns(q: String)
      : Option[(String, String, String, Boolean)] =
    addReplColsHeadRe.findFirstMatchIn(q).flatMap { m =>
      balancedBody(q, m.end).flatMap { case (cols, after) =>
        val tail = q.substring(after).trim
        if (tail.isEmpty || tail.matches("(?is)(cascade|restrict)\\s*"))
          Some((m.group(1), m.group(2), cols,
            tail.equalsIgnoreCase("cascade")))
        else None
      }
    }

  private[graft] val addReplColsHeadRe =
    ("(?is)^\\s*alter\\s+table\\s+`?([\\w.]+)`?\\s+" +
      "(add|replace)\\s+columns\\s*(?=\\()").r

  /** PARTITION clause entries in order: name -> Some(static value) or
    * None (dynamic — its value is a trailing select column). */
  def parsePartSpec(spec: String): Seq[(String, Option[String])] =
    if (spec == null || spec.trim.isEmpty) Nil
    else splitQuoted(spec, ',').map { e =>
      e.split("=", 2) match {
        case Array(n, v) =>
          // typed partition literals (`dt=date '2000-01-01'`,
          // `ts=timestamp '...'`) carry the bare text value
          val v0 = v.trim.replaceFirst("(?is)^(?:date|timestamp)\\s+'",
            "'")
          val quoted = v0.startsWith("'") || v0.startsWith("\"")
          val bare = v0
            .stripPrefix("'").stripSuffix("'")
            .stripPrefix("\"").stripSuffix("\"")
          n.trim.toLowerCase.replace("`", "") -> Some(
            // numeric literal suffixes (110Y, 22000S, 3L) denote the
            // partition TYPE, not the value — but only UNQUOTED
            // literals carry them; a quoted STRING value like '110Y'
            // is kept verbatim
            if (quoted) bare
            else bare
              .replaceFirst("^(-?\\d+)(?:[YSLysl]|[Bb][Dd])$", "$1")
              .replaceFirst("^(-?\\d+\\.\\d+)[BbDdFf]*$", "$1"))
        case Array(n) => n.trim.toLowerCase.replace("`", "") -> None
      }
    }

  private[graft] val updateRe =
    "(?is)^update\\s+`?([\\w.]+)`?\\s+set\\s+(.*?)(?:\\s+where\\s+(.*))?$"
      .r("t", "sets", "w")
  private[graft] val deleteRe =
    "(?is)^delete\\s+from\\s+`?([\\w.]+)`?(?:\\s+where\\s+(.*))?$"
      .r("t", "w")
  private[graft] val mergeRe =
    ("(?is)^merge\\s+into\\s+`?([\\w.]+)`?(?:\\s+as)?(?:\\s+(?!using\\b)" +
      "(\\w+))?\\s+using\\s+(\\([^)]*\\)|`?[\\w.]+`?)(?:\\s+as)?" +
      "(?:\\s+(?!on\\b)(\\w+))?\\s+on\\s+(.+?)\\s+(when\\s+.*)$").r
  private[graft] val whenClauseRe =
    ("(?is)when\\s+(not\\s+)?matched\\s*(?:and\\s+(.+?))?\\s*then\\s+" +
      "(update\\s+set\\s+.+?|delete|insert\\s+values\\s*\\(.+?\\))\\s*" +
      "(?=when\\s+(?:not\\s+)?matched|$)").r
  private[graft] val truncateRe =
    ("(?is)truncate\\s+table\\s+`?([\\w.]+)`?\\s*" +
      "(?:partition\\s*\\(([^)]*)\\))?\\s*" +
      "(?:columns\\s*\\(([^)]*)\\))?\\s*").r
  private[graft] val loadRe =
    ("(?is)load\\s+data\\s+(?:local\\s+)?inpath\\s+['\"]([^'\"]*)['\"]\\s+" +
      "(overwrite\\s+)?into\\s+table\\s+`?([\\w.]+)`?\\s*" +
      "(?:partition\\s*\\(([^)]*)\\))?.*").r
  private[graft] val exportRe = ("(?is)export\\s+table\\s+`?([\\w.]+)`?\\s*" +
    "(?:partition\\s*\\(([^)]*)\\))?\\s+to\\s+['\"]([^'\"]+)['\"].*").r
  private[graft] val importRe = ("(?is)import\\s+(?:(external\\s+)?table\\s+" +
    "`?([\\w.]+)`?\\s*(?:partition\\s*\\(([^)]*)\\))?\\s+)?" +
    "from\\s+['\"]([^'\"]+)['\"]" +
    "(?:\\s+location\\s+['\"]([^'\"]+)['\"])?.*").r
  private[graft] val renameRe =
    "(?is)alter\\s+(?:table|view)\\s+`?([\\w.]+)`?\\s+rename\\s+to\\s+`?([\\w.]+)`?\\s*".r
  private[graft] val renamePartRe =
    ("(?is)alter\\s+table\\s+`?([\\w.]+)`?\\s+partition\\s*\\(([^)]*)\\)\\s+" +
      "rename\\s+to\\s+partition\\s*\\(([^)]*)\\)\\s*").r
  private[graft] val dropPartRe =
    ("(?is)alter\\s+table\\s+`?([\\w.]+)`?\\s+drop\\s+(?:if\\s+exists\\s+)?" +
      "((?:partition\\s*\\([^)]*\\)\\s*,?\\s*)+)" +
      "(?:ignore\\s+protection\\s*)?(?:purge\\s*)?" +
      // a replication-scoped partition drop executes like a plain one
      // (partition objects carry no newer repl id here)
      "(?:for\\s+replication\\s*\\('[^']*'\\)\\s*)?").r
  private[graft] val partitionCondRe = "(?is)partition\\s*\\(([^)]*)\\)".r
  private[graft] val partCompRe =
    "(?s)\\s*`?(\\w+)`?\\s*(=|<>|!=|<=|>=|<|>)\\s*(.+)".r
  private[graft] val changeColRe =
    ("(?is)alter\\s+table\\s+`?([\\w.]+)`?\\s+change\\s+(?:column\\s+)?" +
      "`?(\\w+)`?\\s+`?(\\w+)`?\\s+([\\w()<>,\\s]+?)" +
      "(?:\\s+comment\\s+(?:'[^']*'|\"[^\"]*\"))?" +
      "(?:\\s+(first|after\\s+`?\\w+`?))?" +
      "(?:\\s+(cascade|restrict))?\\s*").r
  // Hive allows omitting TABLE, an explicit column list, a PARTITION
  // spec (static and/or dynamic) on either side of the column list,
  // and inserting literal VALUES rows
  // partition specs capture backtick-quoted column names that may
  // contain parens (`!@#$%^&*()_q`); column lists accept any
  // backticked name (` middle `)
  private[graft] val insertRe =
    ("(?is)insert\\s+(overwrite|into)\\s+(?:table\\s+)?`?(\\w+)`?\\s*" +
      "(?:partition\\s*\\(((?:[^()`]|`[^`]*`)*)\\))?\\s*" +
      "(if\\s+not\\s+exists\\s+)?" +
      "(\\(\\s*(?!select)(?:`[^`]*`|\\w+)(?:\\s*,\\s*(?:`[^`]*`|\\w+))*" +
      "\\s*\\))?\\s*" +
      "(?:partition\\s*\\(((?:[^()`]|`[^`]*`)*)\\))?\\s*" +
      "((?:select|values|map\\s|reduce\\s).*)").r
  // FROM-first insert: the from clause may be a whole join tree, and
  // several INSERT segments may share it (Hive multi-insert)
  private[graft] val fromHeadRe =
    "(?is)from\\s+(.+?)\\s+(insert\\s+(?:overwrite|into)\\s+.*)".r
  private[graft] val insertSegRe =
    ("(?is)insert\\s+(overwrite|into)\\s+(?:table\\s+)?" +
      "`?(\\w+)`?\\s*(?:partition\\s*\\(([^)]*)\\))?\\s*" +
      "(?:\\(\\s*([\\w`][\\w\\s,`]*)\\)\\s*)?" +
      "((?:select|map\\s|reduce\\s).*)").r
}
