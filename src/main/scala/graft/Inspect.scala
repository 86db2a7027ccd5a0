package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftSqlShim
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.mutable

/** Dev tool: inspect named `SparkEntry.queries` — the formatted physical
  * plan, per-rep wall time and generated-code compilations (misses in
  * Spark's codegen cache), and the last rep's per-job / per-stage
  * breakdown (wall time, tasks, input and shuffle bytes), so
  * optimization targets the stage that actually costs.
  *
  * Usage: runMain graft.Inspect <q1,q2,...|all> --sf <dir> [--reps n]
  *          [--plan outDir] [--conf k=v]...
  *   --reps n       noop-sink runs per query (default 2; 0 only plans);
  *                  each prints its wall time and compiles, which are
  *                  near 0 once a query's classes are cached
  *   --plan outDir  write each plan to outDir/<query>.txt, not stdout
  *   --conf k=v     runtime conf over the engine's table (repeatable);
  *                  `--conf spark.sql.adaptive.enabled=false` is the
  *                  AQE-off A/B
  */
object Inspect {
  private val usage = "usage: graft.Inspect <q1,..|all> --sf dir [--reps n] [--plan dir] [--conf k=v]"

  /** ((start, end) ns, line) per job, (seconds, line) per stage, ending while registered. */
  private class Recorder extends SparkListener {
    private val started = mutable.Map[Int, (Long, Seq[Int])]()
    val jobs = mutable.Buffer[((Long, Long), String)]()
    val stages = mutable.Buffer[(Double, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started(e.jobId) = (System.nanoTime(), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (t0, st) =>
        val t1 = System.nanoTime()
        val s = (t1 - t0) / 1e9
        jobs += (t0, t1) -> f"job ${e.jobId}%3d $s%7.3f s  stages=${st.mkString(",")}"
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val (si, m) = (e.stageInfo, e.stageInfo.taskMetrics)
        val s = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1e3
        stages += s -> (f"stage ${si.stageId}%3d $s%7.3f s  tasks=${si.numTasks}%3d " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.2fMB " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fMB  " +
          si.name.takeWhile(_ != '\n').take(90))
      }
  }

  /** Seconds covered by the union of (start, end) ns intervals: AQE
    * runs stage jobs concurrently, so a plain sum counts overlap twice. */
  private def covered(spans: Seq[(Long, Long)]): Double =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (s, e)) =>
      (sum + math.max(0L, e - math.max(s, end)), math.max(end, e)) }._1 / 1e9

  def main(args: Array[String]): Unit = {
    def fail(msg: String): Nothing = { System.err.println(msg); sys.exit(2) }
    val opts = args.drop(1).grouped(2).map {
      case Array(k @ ("--sf" | "--reps" | "--plan" | "--conf"), v) => k -> v
      case _ => fail(usage)
    }.toSeq
    val dir = opts.collectFirst { case ("--sf", d) => d }.getOrElse(fail(usage))
    val reps = opts.collectFirst { case ("--reps", n) => n.toInt }.getOrElse(2)
    val planDir = opts.collectFirst { case ("--plan", d) => Paths.get(d) }
    val overrides = opts.collect { case ("--conf", kv) =>
      if (!kv.contains('=')) fail(usage)
      kv.takeWhile(_ != '=') -> kv.dropWhile(_ != '=').tail
    }
    val queries = SparkEntry.queries
    val names =
      if (args(0) == "all") queries.keys.toSeq.sorted
      else args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    names.filterNot(queries.contains).foreach(q => fail(s"unknown query: $q"))

    val spark = Engine.session(appName = "graft-inspect")
    val sc = spark.sparkContext
    Engine.tables(spark, dir) // applies the engine's table: overrides go after
    overrides.foreach { case (k, v) => spark.conf.set(k, v) }
    names.foreach { n =>
      val plan = queries(n)(spark, dir).queryExecution.explainString(FormattedMode)
      planDir match {
        case Some(d) =>
          Files.writeString(Files.createDirectories(d).resolve(s"$n.txt"), plan + "\n")
        case None => println(plan)
      }
      val rec = new Recorder
      val secs = (1 to reps).map { i =>
        if (i == reps) { GraftSqlShim.drainListenerBus(sc); sc.addSparkListener(rec) }
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
        val s = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        println(f"[inspect] $n rep $i: $s%.3f s, $compiles codegen compiles")
        s
      }
      if (reps > 0) {
        GraftSqlShim.drainListenerBus(sc) // listener events are async
        sc.removeSparkListener(rec)
        val (jobs, stages) = rec.synchronized((rec.jobs.toSeq, rec.stages.toSeq))
        println(s"[inspect] $n last rep: ${jobs.size} jobs, ${stages.size} stages, " +
          f"jobs cover ${covered(jobs.map(_._1))}%.3f s of ${secs.last}%.3f s wall")
        (jobs.map(_._2) ++ stages.sortBy(-_._1).map(_._2)).foreach(l => println(s"[inspect] $l"))
        println(f"[inspect] $n best: ${secs.min}%.3f s")
      }
    }
    spark.stop()
  }
}
