package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

class EngineSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS: unset gives the default, a positive integer " +
      "is the core count, anything else fails naming the variable") {
    assert(Engine.parseCpus(None, 32) === 32)
    assert(Engine.parseCpus(Some("4"), 32) === 4)
    Seq("", "four", "4.0", " 4", "0", "-2", "99999999999").foreach { v =>
      val e = intercept[IllegalArgumentException](Engine.parseCpus(Some(v), 32))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), v)
      assert(e.getMessage.contains(s"'$v'"), v)
    }
  }

  test("prepare() warns about a codegen cache below the engine's size, " +
      "naming the static conf") {
    assert(Engine.codegenCacheWarning(Engine.CodegenCacheEntries).isEmpty)
    val msg = Engine.codegenCacheWarning(100).get
    assert(msg.contains("spark.sql.codegen.cache.maxEntries is 100"))
    assert(msg.contains("static conf") && msg.contains("before the first SparkSession"))
  }

  // perfbench's query_mix statements (perfbench/workloads.py: OLAP + LLM)
  private val queryMix = Seq(
    "q_agg_rollup", "q_join_inner", "q_window_running", "q_setop_intersect",
    "q_subquery_corr", "q_cte", "q_char_varchar", "q_lateral_explode",
    "q_sim_ivf", "q_dedup_exact", "q_text_tokens", "q_sim_topk",
    "q_multimodal")

  test("warm statements do not recompile their generated classes") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      Engine.CodegenCacheEntries.toString)
    Engine.tables(spark, sfDir)
    // Start cold: the cache is JVM-wide and earlier suites may have
    // cached these classes. The compile counter is JVM-wide too; suites
    // in the forked test JVM run one at a time, and every job started
    // while counting must belong to this test's job group, so no other
    // work can add to the count unseen.
    val cacheField = CodeGenerator.getClass.getDeclaredField("cache")
    cacheField.setAccessible(true)
    val cache = cacheField.get(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val group = s"EngineSpec-${System.nanoTime()}"
    val foreign = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties == null ||
            e.properties.getProperty("spark.jobGroup.id") != group)
          foreign.add(e.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "two query_mix passes")
    val compiles =
      try (1 to 2).map { _ =>
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        queryMix.foreach { q =>
          SparkEntry.queries(q)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
        }
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      } finally {
        sc.clearJobGroup()
        Thread.sleep(500) // listener events are async: let the last land
        sc.removeSparkListener(listener)
      }
    assert(foreign.isEmpty, s"jobs outside this test ran while counting: $foreign")
    val Seq(cold, warm) = compiles
    info(s"compiles per pass: cold $cold, warm $warm")
    assert(cold > 0)
    assert(warm * 10 <= cold, s"compiles per pass: cold $cold, warm $warm")
  }
}
