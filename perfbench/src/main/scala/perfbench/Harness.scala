package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, PerfbenchAccess, SparkSession}

import graft.{Engine, HiveStatements, SparkEntry}

/** Benchmark JVM: runs one workload plan (written by run.py) against
  * the engine's public entry points and writes every measurement to a
  * result file; run.py turns that into metrics and checks outputs.
  *
  * Usage: Harness <plan.json> <result.json>
  *
  * A run is: set-up (session, tables, warm-up), timed from JVM start;
  * an untimed check pass that writes each statement's output as parquet
  * for the reference comparison and warms the JIT and plan caches; then
  * `timed_passes` timed passes over the same statements, each in the
  * plan's order for that pass. Traced runs
  * alternate untraced and traced passes, so tracing overhead is measured
  * in the same process.
  */
object Harness {
  final case class Stmt(id: String, kind: String, text: String,
                        check: Boolean)

  /** One executed statement; `build` is the time inside the entry point
    * that returns the DataFrame, `exec` the time of the write after it. */
  final class Rec(val pass: Int, val pos: Int, val stmt: Stmt,
                  val traced: Boolean) {
    var buildStartMs = 0L
    var buildEndMs = 0L
    var execEndMs = 0L
    var latNs = 0L
    var buildNs = 0L
    var execNs = 0L
    var ok = true
    var error = ""
    var phasesMs: Map[String, Long] = Map.empty
    var rewriteNs = 0L
    var ledgerWrites = 0
    var ledgerBytes = 0L
    var filesWritten = 0
    var bytesWritten = 0L
    var build: Option[SpanTotals] = None
    var exec: Option[SpanTotals] = None
  }

  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    // System.exit either way: Spark's non-daemon threads must not keep
    // the JVM alive
    val code =
      try {
        val result = new Harness(mapper.readTree(new File(args(0)))).run()
        mapper.writerWithDefaultPrettyPrinter()
          .writeValue(new File(args(1)), result)
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.exit(code)
  }

  /** Snapshot of a directory tree: path -> (size, mtime). */
  def snapshot(root: File): Map[String, (Long, Long)] = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else Iterator(f)
    if (!root.exists()) Map.empty
    else walk(root)
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map(f => f.getPath -> ((f.length(), f.lastModified()))).toMap
  }

  /** Files new or changed between two snapshots, and their bytes. */
  def written(before: Map[String, (Long, Long)],
              after: Map[String, (Long, Long)]): (Int, Long) = {
    val changed = after.filter { case (p, v) => !before.get(p).contains(v) }
    (changed.size, changed.values.map(_._1).sum)
  }

  /** Counters read around each timed pass: this process's CPU time, JIT
    * compile time, GC time, Spark's generated-code compilations (cache
    * misses in its codegen cache), and CPU time the hypervisor took from
    * this machine (steal, in 1/100 s ticks, all CPUs), which marks a run
    * slowed by a busy host. */
  final case class Counters(cpuNs: Long, jitMs: Long, gcMs: Long,
                            codegen: Long, stealTicks: Long)

  def counters(): Counters = {
    val stat = scala.io.Source.fromFile("/proc/stat")
    val steal =
      try stat.getLines().next().trim.split("\\s+")(8).toLong
      finally stat.close()
    Counters(
      ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      steal)
  }

  /** Peak resident set size of this process (Linux). */
  def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).get
      .split("\\s+")(1).toLong
    finally src.close()
  }

  /** Largest heap occupancy right after a garbage collection, over the
    * JVM's life: the memory the program keeps, whatever size the
    * collector has grown the heap to. */
  final class HeapAfterGc extends NotificationListener {
    @volatile var peakB = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val used = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          .getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        if (used > peakB) peakB = used
      }
  }
}

final class Harness(plan: JsonNode) {
  import Harness._

  private val workload = plan.get("workload").asText
  private val cores = plan.get("cores").asInt
  private val traceRun = plan.get("trace").asBoolean
  private val dataDir = plan.get("data").asText
  private val runDir = new File(plan.get("run_dir").asText)
  private val timedPasses = plan.get("timed_passes").asInt
  private val hive = plan.get("hive").asBoolean
  private val stmts: IndexedSeq[Stmt] =
    plan.get("statements").elements.asScala.map { n =>
      Stmt(n.get("id").asText, n.get("kind").asText, n.get("text").asText,
        n.get("check").asBoolean)
    }.toIndexedSeq
  private val orders: IndexedSeq[IndexedSeq[Int]] =
    plan.get("orders").elements.asScala
      .map(_.elements.asScala.map(_.asInt).toIndexedSeq).toIndexedSeq
  private val finalTables: Seq[String] =
    plan.get("final_tables").elements.asScala.map(_.asText).toSeq
  private val cleanup: Seq[String] =
    plan.get("cleanup").elements.asScala.map(_.asText).toSeq

  private val outDir = new File(runDir, "out")
  private val warehouse = new File(runDir, "warehouse")
  private val ledgerDir = new File(runDir, "metastore")

  private var spark: SparkSession = _
  private var hs: HiveStatements = _

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Session, tables and warm-up, timed per step from JVM start. */
  private def setUp(): ObjectNode = {
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = Engine.session(appName = s"perfbench-$workload",
      master = s"local[$cores]", shufflePartitions = cores)
    val t1 = System.currentTimeMillis()
    Engine.tables(spark, dataDir)
    val t2 = System.currentTimeMillis()
    noop(spark.sql(
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag"))
    if (hive) {
      spark.conf.set("spark.graft.metastore.path",
        new File(ledgerDir, "metastore.ledger").getPath)
      hs = new HiveStatements(spark)
      hs.sql("SHOW DATABASES").foreach(noop)
    }
    val t3 = System.currentTimeMillis()
    val n = mapper.createObjectNode()
    n.put("session_s", (t1 - t0) / 1e3)
    n.put("tables_s", (t2 - t1) / 1e3)
    n.put("warmup_s", (t3 - t2) / 1e3)
    n.put("total_s", (t3 - t0) / 1e3)
    n
  }

  /** Runs one statement; `dump` writes its output as parquet there
    * instead of to the noop sink. Never throws: a failure is recorded. */
  private def execute(r: Rec, db: String, dump: Option[File]): Unit = {
    val sc = spark.sparkContext
    val key = s"${r.pass}:${r.pos}"
    val text = r.stmt.text.replace("{db}", db)
    // traced HiveQL: the dialect rewrite timed on its own, and ledger and
    // warehouse snapshots around the statement, all outside its latency
    val watch = hive && r.traced
    var ledger0, wh0 = Map.empty[String, (Long, Long)]
    var t0 = System.nanoTime()
    try {
      if (watch) {
        hs.dialect.rewrite(text)
        r.rewriteNs = System.nanoTime() - t0
        ledger0 = snapshot(ledgerDir)
        wh0 = snapshot(warehouse)
        t0 = System.nanoTime()
      }
      sc.setLocalProperty(ExecListener.KeyProp, key + ":b")
      r.buildStartMs = System.currentTimeMillis()
      val b0 = System.nanoTime()
      val df: Option[DataFrame] =
        if (r.stmt.kind == "query") Some(SparkEntry.queries(text)(spark, dataDir))
        else hs.sql(text)
      r.buildNs = System.nanoTime() - b0
      r.buildEndMs = System.currentTimeMillis()
      sc.setLocalProperty(ExecListener.KeyProp, key + ":e")
      val e0 = System.nanoTime()
      df.foreach { d =>
        dump match {
          case Some(dir) => d.coalesce(1).write.mode("overwrite")
            .parquet(dir.getPath)
          case None => noop(d)
        }
        r.phasesMs = d.queryExecution.tracker.phases
          .map { case (k, v) => k -> v.durationMs }
      }
      r.execNs = System.nanoTime() - e0
      r.latNs = System.nanoTime() - t0
      r.execEndMs = System.currentTimeMillis()
      if (watch) {
        val (lw, lb) = written(ledger0, snapshot(ledgerDir))
        r.ledgerWrites = lw; r.ledgerBytes = lb
        val (fw, fb) = written(wh0, snapshot(warehouse))
        r.filesWritten = fw; r.bytesWritten = fb
      }
    } catch {
      case NonFatal(e) =>
        if (r.latNs == 0) r.latNs = System.nanoTime() - t0
        r.ok = false
        r.error = s"${e.getClass.getName}: ${
          Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"
        System.err.println(s"[perfbench] ${r.stmt.id} failed: ${r.error}")
    } finally sc.setLocalProperty(ExecListener.KeyProp, null)
  }

  /** One pass over every statement in `order`, run one after another.
    * Returns the records and the pass wall time. */
  private def runPass(pass: Int, order: IndexedSeq[Int], traced: Boolean,
                      check: Boolean): (Seq[Rec], Long) = {
    val db = s"hs$pass"
    val w0 = System.nanoTime()
    val recs = order.zipWithIndex.map { case (s, i) =>
      val st = stmts(s)
      val r = new Rec(pass, i, st, traced)
      execute(r, db,
        if (check && st.check) Some(new File(outDir, st.id)) else None)
      r
    }
    val wall = System.nanoTime() - w0
    val tables = if (check && hive) finalTables.map { t =>
      val r = new Rec(pass, -1, Stmt(s"table_$t", "select",
        s"SELECT * FROM {db}.$t", check = true), traced = false)
      execute(r, db, Some(new File(outDir, r.stmt.id)))
      r
    } else Nil
    if (hive) cleanup.foreach(c => hs.sql(c.replace("{db}", db)))
    (tables ++ recs, wall)
  }

  def run(): ObjectNode = {
    System.setProperty("spark.sql.warehouse.dir", warehouse.getPath)
    val heap = new HeapAfterGc
    val res = mapper.createObjectNode()
    res.set[ObjectNode]("setup", setUp())

    val (checkRecs, checkWall) =
      runPass(0, orders(0), traced = false, check = true)
    val checkNode = res.putObject("check")
    checkNode.put("wall_s", checkWall / 1e9)
    val failedChecks = checkNode.putArray("failed")
    checkRecs.filterNot(_.ok).foreach(r => failedChecks.add(r.stmt.id))
    val checkLat = checkNode.putObject("lat_ms")
    checkRecs.foreach(r => checkLat.put(r.stmt.id, r.latNs / 1e6))
    val oracle = checkNode.putObject("oracle_sql")
    stmts.filter(_.kind == "query").foreach { s =>
      SparkEntry.oracleSql.get(s.text).foreach(oracle.put(s.id, _))
    }

    // timed passes; traced runs alternate untraced and traced ones
    val listener = new ExecListener
    val passNodes = res.putArray("passes")
    val recs = scala.collection.mutable.ArrayBuffer.empty[Rec]
    for (i <- 0 until timedPasses) {
      val pass = 1 + i
      val traced = traceRun && i % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(listener)
      val t0 = counters()
      val (rs, wall) = runPass(pass, orders(pass), traced, check = false)
      val t1 = counters()
      if (traced) {
        PerfbenchAccess.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        rs.foreach { r =>
          r.build = listener.get(s"${r.pass}:${r.pos}:b")
          r.exec = listener.get(s"${r.pass}:${r.pos}:e")
        }
      }
      recs ++= rs
      val p = passNodes.addObject()
      p.put("pass", pass); p.put("traced", traced); p.put("wall_s", wall / 1e9)
      p.put("cpu_s", (t1.cpuNs - t0.cpuNs) / 1e9)
      p.put("jit_s", (t1.jitMs - t0.jitMs) / 1e3)
      p.put("gc_s", (t1.gcMs - t0.gcMs) / 1e3)
      p.put("steal_s", (t1.stealTicks - t0.stealTicks) / 100.0)
      p.put("codegen_compiles", t1.codegen - t0.codegen)
    }

    val recNodes = res.putArray("records")
    recs.foreach(r => recNodes.add(recNode(r)))
    res.put("peak_rss_kb", peakRssKb())
    res.put("heap_after_gc_peak_b", heap.peakB)
    spark.stop()
    res
  }

  private def recNode(r: Rec): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("pass", r.pass); n.put("pos", r.pos); n.put("id", r.stmt.id)
    n.put("kind", r.stmt.kind)
    n.put("traced", r.traced); n.put("ok", r.ok)
    if (!r.ok) n.put("error", r.error)
    n.put("lat_ms", r.latNs / 1e6)
    n.put("build_ms", r.buildNs / 1e6)
    n.put("exec_ms", r.execNs / 1e6)
    if (r.traced) {
      val ph = n.putObject("phases_ms") // the returned DataFrame's own
      r.phasesMs.foreach { case (k, v) => ph.put(k, v) }
      n.put("rewrite_ms", r.rewriteNs / 1e6)
      n.put("ledger_writes", r.ledgerWrites)
      n.put("ledger_bytes", r.ledgerBytes)
      n.put("files_written", r.filesWritten)
      n.put("bytes_written", r.bytesWritten)
      def totals(name: String, t: Option[SpanTotals], lo: Long,
                 hi: Long): Unit = {
        val s = t.getOrElse(new SpanTotals)
        val o = n.putObject(name)
        o.put("jobs", s.jobs); o.put("stages", s.stages)
        o.put("tasks", s.tasks)
        o.put("task_cpu_s", s.taskCpuNs / 1e9)
        o.put("task_run_s", s.taskRunMs / 1e3)
        o.put("shuffle_read_b", s.shuffleReadB)
        o.put("shuffle_write_b", s.shuffleWriteB)
        o.put("spill_b", s.spillB)
        o.put("gc_s", s.gcMs / 1e3)
        o.put("task_wait_s", s.taskWaitMs / 1e3)
        o.put("job_cover_ms",
          ExecListener.covered(s.jobIntervals.toSeq, lo, hi).toDouble)
        val ph = o.putObject("phases_ms")
        s.phasesMs.foreach { case (k, v) => ph.put(k, v) }
      }
      totals("build", r.build, r.buildStartMs, r.buildEndMs)
      totals("exec", r.exec, r.buildEndMs, r.execEndMs)
    }
    n
  }
}
