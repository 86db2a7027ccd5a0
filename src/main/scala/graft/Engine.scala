package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Session facade for the engine.
  *
  * The reference (Apache Hive 2.3.2, `/root/reference`) funnels every query
  * through `ql/Driver.java:404` (compile: parse -> semantic analysis ->
  * logical optimize -> task DAG) and `ql/Driver.java:1848` (execute over
  * MR/Tez/Spark-RDD). On Spark, that whole lifecycle IS Catalyst + Tungsten,
  * so the engine owns only what Hive's `SessionState`/`HiveConf` owned:
  * session configuration, catalog/view bootstrap, and function registration
  * (ref: `ql/exec/FunctionRegistry.java:193-533`). The scale posture in
  * `conf` targets a 1000-executor / 100 TB deployment even though tests
  * run locally.
  *
  * `session()` also names the `file:` FileSystem, [[EngineLocalFileSystem]]
  * (and [[EngineLocalFs]] for FileContext). Otherwise `hive-exec`'s
  * ServiceLoader entry makes Hive's `ProxyLocalFileSystem` the `file:`
  * class, and without `libhadoop` it forks `chmod` for every file and
  * directory a write makes and `readlink` for every FileContext rename:
  * about 245 subprocesses per pass of perfbench's 21-statement HiveQL
  * script, at 1.3-1.6 ms each on a 4-core host (an in-process
  * permission set takes 0.005-0.011 ms).
  */
object Engine {

  /** The driver testdata tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The engine's dialect and planner posture, all runtime SQLConf:
    * `session()` builds it in (`newSession()` and Spark Connect sessions
    * inherit it) and `prepare()` re-applies it to any session. */
  val conf: Seq[(String, String)] = Seq(
    // Hive 2.x arithmetic is non-ANSI: '' casts to NULL, overflow wraps
    // (SURVEY.md §7.3 dialect list)
    "spark.sql.ansi.enabled" -> "false",
    // Hive char(n) semantics: CAST pads and comparisons see the padded
    // value (serde2/typeinfo/CharTypeInfo.java); without this Spark
    // treats CHAR(n)/VARCHAR(n) casts as plain STRING.
    "spark.sql.preserveCharVarcharTypeInfo" -> "true",
    // Hive's LazyMap keeps the LAST duplicate key (LinkedHashMap put)
    "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
    // (decimal allowPrecisionLoss stays at Spark's default: that IS
    // Hive 2.x's deriveResultDecimalTypeInfo rule)
    // AQE: runtime join re-planning replaces Hive's CommonJoinResolver
    // (runtime mapjoin) and SkewJoinResolver; it also coalesces the
    // session-default shuffle partitions to the data's real size
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // dimension tables (region, nation, supplier, part at TPC-H shape)
    // broadcast instead of shuffling the fact table
    "spark.sql.autoBroadcastJoinThreshold" -> "64m",
    // Local-bench sizing: testdata tables are single ~1-40 MB parquet
    // files; the 128m default would scan each in ONE task, idling the
    // other cores. (A 100 TB deployment keeps the default — files
    // there are many and block-sized.)
    "spark.sql.files.maxPartitionBytes" -> "8m",
    "spark.sql.files.openCostInBytes" -> "1m",
    // ObjectHashAggregate (collect_list/percentile/sketches) falls back
    // to SORT-based aggregation after 128 distinct keys per task, which
    // for inverted-index builds (collect_list over ~30k shingles) sorts
    // the whole exploded stream; 64k small buffers fit in task memory
    // and the sort fallback stays the safety valve beyond that.
    // Measured: the jaccard postings stage 4.1 s -> 1.6 s at sf0.1.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "65536")

  /** `SPARK_GRAFT_CPUS` as a core count: unset gives `default`; any
    * value but a positive integer fails, naming the variable and the
    * value. */
  private[graft] def parseCpus(value: Option[String], default: Int): Int =
    value match {
      case None => default
      case Some(v) => v.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** Local core budget; `SPARK_GRAFT_CPUS` sizes the deployment. */
  private val cpus: Int = parseCpus(sys.env.get("SPARK_GRAFT_CPUS"), 32)

  /** Entries in Spark's generated-code cache (Spark's default is 100).
    * Measured at sf0.1 on 4 cores: one pass over all 100
    * `SparkEntry.queries` compiles 800-980 classes, and a second pass in
    * the same JVM recompiles 974-979 of them with Janino (and
    * JIT-compiles them again) at 100 entries, 384 at 1000 and 11-24 at
    * 4096; perfbench's 13-query query_mix recompiles 90-159 per warm
    * pass at 100 and 0-4 at 4096. The cache belongs to `CodeGenerator`,
    * one per JVM, and is sized once, from the conf of the session
    * active when it is first used: `spark.sql.codegen.cache.maxEntries`
    * is a static conf, so `session()` sets it in the builder and
    * `prepare()` can only warn. */
  val CodegenCacheEntries: Int = 4096
  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  def session(appName: String = "graft",
              master: String = s"local[$cpus]",
              shufflePartitions: Int = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .config(conf.toMap)
      .appName(appName)
      .master(master)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // AQE coalesces shuffles to actual data size at runtime; the
      // pre-AQE partition count matches the local core budget, and a
      // cluster deployment passes 2-3x total executor cores
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        shufflePartitions.toString)
      // iterative operators localCheckpoint transient state; the
      // ContextCleaner only reclaims those blocks after a driver GC,
      // and the default periodic GC (30 min) lets them pile up across
      // many short queries in one JVM
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config(CodegenCacheKey, CodegenCacheEntries.toString)
      // Hadoop caches one FileSystem per scheme per JVM, made from the
      // conf of its first use, so these take effect only in the
      // builder that creates the SparkContext
      .config("spark.hadoop.fs.file.impl", classOf[EngineLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[EngineLocalFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.Registry.registerAll(spark)
    spark
  }

  /** Ensure gap functions + the engine's `conf` table on any session,
    * including externally-built ones (the driver's smoke test hands us
    * its own); per-session settings stay as the caller set them. A
    * generated-code cache smaller than `CodegenCacheEntries` cannot be
    * resized here, so it gets one WARN. Nor can the `file:` FileSystem
    * be swapped: Hadoop caches one per scheme per JVM, so a session
    * built elsewhere keeps its own (its writes fork `chmod`). */
  def prepare(spark: SparkSession): SparkSession = {
    functions.Registry.registerAll(spark)
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    codegenCacheWarning(spark.conf.get(CodegenCacheKey).toInt)
      .foreach(org.slf4j.LoggerFactory.getLogger("graft.Engine").warn(_))
    spark
  }

  /** `prepare()`'s WARN for a session whose generated-code cache holds
    * `entries`, when that is below `CodegenCacheEntries`. */
  private[graft] def codegenCacheWarning(entries: Int): Option[String] =
    Option.when(entries < CodegenCacheEntries)(
      s"$CodegenCacheKey is $entries, below the engine's " +
        s"$CodegenCacheEntries: warm statements will recompile their " +
        "generated classes. It is a static conf: set it before the first " +
        "SparkSession of the JVM is created, as Engine.session does.")

  /** The one leaf rule behind `spread` and `Present.provablyLarge`: what
    * a scan leaf proves from metadata alone — `bytes`, the relation's own
    * `sizeInBytes` (`Long.MaxValue` when the source cannot say), and
    * `tasks`, a lower bound on its scan tasks. A checkpointed
    * intermediate (LogicalRDD) proves only its partition count. */
  private[graft] final case class LeafScale(bytes: Option[Long], tasks: () => Option[Int])

  private[graft] def leafScale(p: LogicalPlan): Option[LeafScale] = p match {
    case l: LogicalRDD => Some(LeafScale(None, () => Some(l.rdd.getNumPartitions)))
    case r: LogicalRelation => Some(LeafScale(Some(r.relation.sizeInBytes),
      () => r.relation match {
        // file count is a LOWER bound on scan tasks (block splitting
        // only raises parallelism, never lowers it)
        case fs: HadoopFsRelation => Some(fs.location.inputFiles.length)
        case _ => None
      }))
    case _ => None
  }

  /** Scale-adaptive spread after an unsplittable read (optimization
    * guide §2.5: "one huge unsplittable file … repartition immediately
    * after the read"). The local testdata tables are single-row-group
    * parquet files, so every scan is exactly ONE task regardless of
    * `maxPartitionBytes`, and each per-row-heavy stage above it
    * (tokenize/shingle/explode/vector math) runs on one core of the
    * box. When the input's provable scan parallelism is well below the
    * cluster's, hash-repartition by `key` so that work uses every core;
    * when parallelism is already ample — the 100 TB case: block-sized
    * files >> total cores — this is a NO-OP and no shuffle is added.
    *
    * The decision reads plan metadata only (`leafScale` at the end of a
    * narrow Project/Filter chain), never runs a job, and deliberately
    * returns the input unchanged for plan shapes whose parallelism it
    * cannot prove cheaply (joins, aggregates): repartitioning those at
    * scale could coalesce a huge intermediate. Results are unaffected
    * at any decision: `key`-hash placement feeds only order-insensitive
    * aggregations downstream.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    def scanTasks(p: LogicalPlan): Option[Int] = p match {
      case p: Project => scanTasks(p.child)
      case f: Filter => scanTasks(f.child)
      case s: SubqueryAlias => scanTasks(s.child)
      case leaf => leafScale(leaf).flatMap(_.tasks())
    }
    scanTasks(df.queryExecution.analyzed) match {
      case Some(n) if n * 2 <= target => df.repartition(target, key)
      case _ => df
    }
  }

  /** Register every testdata table under `dir` as a temp view (idempotent)
    * and return them by name. Mirrors Hive's metastore-backed name
    * resolution (`ql/metadata/Table.java`) with Spark temp views; a real
    * deployment would use a persistent catalog + partitioned layout.
    */
  private val tableCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      Map[String, DataFrame]]()

  def tables(spark: SparkSession, dir: String): Map[String, DataFrame] =
    tableCache.computeIfAbsent((spark, dir), { _ =>
      prepare(spark)
      tableNames.map { name =>
        val df = read(spark, dir, name)
        df.createOrReplaceTempView(name)
        name -> df
      }.toMap
    })

  /** `events.ts` has shipped both as parquet TIMESTAMP(NANOS) (which
    * Spark cannot represent, SPARK-40819 — read as raw nanos and
    * truncate to micros, the truncation DuckDB applies casting
    * timestamp_ns -> TIMESTAMP) and, in newer testdata drops, plain
    * TIMESTAMP(MICROS)/NTZ. Branch on the inferred type so either
    * generation reads as a session TimestampType column.
    */
  private def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // the flag STAYS set: it only affects parquet NANOS columns
      // (which only events has), and a set/unset window would race
      // concurrent sessions sharing this SparkSession (test suites
      // run suites in parallel — an unset here mid-read elsewhere
      // flips the inferred type under that reader)
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampType}
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType => // nanos-as-long legacy layout
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => raw
        case _ => // TIMESTAMP_NTZ: same wall clock as a session
          // (UTC) timestamp
          raw.withColumn("ts", col("ts").cast(TimestampType))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }
}
