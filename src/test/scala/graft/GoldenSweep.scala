package graft

import java.io.{File, FileWriter, PrintWriter}
import java.util.{Timer, TimerTask}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Offline sweep: attempt a golden REPLAY of every clientpositive
  * `.q.out` file in the reference against [[GoldenHarness]], and record
  * per file whether the whole script replays with every deterministic
  * SELECT block matching. The pass list (minus files already pinned in
  * GoldenReplaySpec) is committed as the corpus that
  * [[GoldenCorpusSpec]] replays on every `sbt test`.
  *
  * Statements that are nondeterministic BY CONSTRUCTION are skipped
  * rather than failing the file: a bare LIMIT without ORDER BY asserts
  * an engine-defined row subset, rand()/current_* change per run. A
  * file passes only if at least one SELECT block was asserted.
  *
  * Run: sbt "Test/runMain graft.GoldenSweep"   (≈30 min, resumable —
  * already-reported files are skipped on rerun).
  */
object GoldenSweep {

  private val outDir =
    new File(s"${Reference.Root}/ql/src/test/results/clientpositive")
  private val report = new File("golden_sweep_report.tsv")

  /** Nondeterministic statement shapes — skipped, not failed. Word
    * boundaries matter: a bare `contains("limit")` would skip every
    * `ROW FORMAT DELIMITED` create (and never register the table).
    *
    * A bare LIMIT without ORDER BY is NOT skipped: the fixture views
    * preserve file order and comparison is a sorted multiset, so most
    * such files replay deterministically — the sweep itself drops the
    * ones that don't. TABLESAMPLE without an ON clause samples
    * physical buckets/splits in Hive but randomly in Spark — skipped
    * (the ON form is rewritten to Hive's deterministic hash filter). */
  def autoSkip(q: String): Boolean = {
    val ql = q.toLowerCase
    // a bare LIMIT whose only ORDER/SORT BY sits inside parens (a
    // window spec or subquery) still takes an engine-defined subset —
    // strip paren groups before looking for a top-level ordering
    var top = ql
    var prev: String = null
    while (prev != top) { prev = top; top = top.replaceAll("\\([^()]*\\)", " ") }
    val bareLimit = top.matches("(?s).*\\blimit\\s+\\d.*") &&
      !top.matches("(?s).*\\b(order|sort|cluster)\\s+by\\b.*")
    bareLimit ||
      ql.matches("(?s).*\\brand\\s*\\(.*") ||
      ql.matches("(?s).*\\bcurrent_date\\b.*") ||
      ql.matches("(?s).*\\bcurrent_timestamp\\b.*") ||
      ql.matches("(?s).*\\bunix_timestamp\\s*\\(\\s*\\).*") ||
      (ql.matches("(?s).*\\btablesample\\s*\\(\\s*bucket.*") &&
        !ql.matches("(?s).*\\btablesample\\s*\\([^)]*\\bon\\b.*")) ||
      ql.matches("(?s).*\\btablesample\\s*\\([^)]*percent.*")
  }

  def main(args: Array[String]): Unit = {
    val root = Engine.session(appName = "golden-sweep",
      master = "local[16]", shufflePartitions = 4)
    val done: Set[String] =
      if (report.exists())
        scala.io.Source.fromFile(report).getLines()
          .map(_.split("\t")(0)).toSet
      else Set.empty
    val files = outDir.listFiles().map(_.getName)
      .filter(_.endsWith(".q.out")).sorted
      .filterNot(done)
    println(s"sweeping ${files.length} files (${done.size} already done)")
    val w = new PrintWriter(new FileWriter(report, true), true)
    val nPass = new AtomicInteger()
    val nDone = new AtomicInteger()
    val timer = new Timer(true)
    val pool = Executors.newFixedThreadPool(6)
    files.foreach { f =>
      pool.execute { () =>
        val spark = Engine.prepare(root.newSession())
        val sc = spark.sparkContext
        val status =
          try {
            sc.setJobGroup(f, f, interruptOnCancel = true)
            val cancel = new TimerTask {
              def run(): Unit = sc.cancelJobGroup(f)
            }
            timer.schedule(cancel, 120000L)
            try {
              val h = new GoldenHarness(spark)
              h.loadAll()
              val n = h.replay(f, skip = autoSkip)
              if (n > 0) { nPass.incrementAndGet(); s"pass\t$n" }
              else "empty\t0"
            } finally {
              cancel.cancel(); sc.clearJobGroup()
            }
          } catch {
            case e: Throwable =>
              val m = Option(e.getMessage).getOrElse(e.getClass.getName)
              s"fail\t0\t${m.replaceAll("\\s+", " ").take(200)}"
          }
        w.synchronized { w.println(s"$f\t$status") }
        val d = nDone.incrementAndGet()
        if (d % 50 == 0)
          println(s"  $d/${files.length} done, ${nPass.get()} pass")
      }
    }
    pool.shutdown()
    pool.awaitTermination(6, TimeUnit.HOURS)
    w.close()
    println(s"TOTAL pass: ${nPass.get()} of ${files.length}")
  }
}
