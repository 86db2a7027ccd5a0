package graft.operators

import graft.{Engine, SparkEntry, SparkSpec}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, ResolvedHint}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** Holds the first task that reaches it until another thread has
  * planned a query (local mode: tasks run in this JVM). */
private object IvfGate {
  val entered = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  private val first = new AtomicBoolean(false)
  def hold(): Unit = if (first.compareAndSet(false, true)) {
    entered.countDown()
    release.await(60, TimeUnit.SECONDS)
  }
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("cosine: self-similarity is 1, symmetric, in [-1, 1]") {
    val sample = emb.limit(20).cache()
    val self = sample.select(
      Similarity.cosine(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>")).as("c"))
      .as[Double].collect()
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))
    val pairs = Similarity.cosinePairs(sample, threshold = -2.0).collect()
    assert(pairs.forall(r => r.getDouble(2) >= -1.0 - 1e-9 &&
      r.getDouble(2) <= 1.0 + 1e-9))
  }

  test("bruteForceTopK returns k ranked neighbors, no self-matches") {
    val q = emb.filter(col("vec_id") < 5)
    val topk = Similarity.bruteForceTopK(emb, q, k = 3).collect()
    assert(topk.length === 15)
    assert(topk.forall(r => r.getAs[Long]("neighbor_id") !=
      r.getAs[Long]("query_id")))
    // ranks are 1..3 per query and scores non-increasing
    topk.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rnk"))
      assert(sorted.map(_.getAs[Int]("rnk")).toSeq === Seq(1, 2, 3))
      val scores = sorted.map(_.getAs[Double]("cos_sim"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lshTopK results are a subset-ranking consistent with brute force") {
    val q = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, q, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.lshTopK(emb, q, k = 5).collect()
    // every LSH neighbor must be a genuine corpus vector, scored correctly;
    // recall vs exact top-10: each query finds at least one of them
    val byQuery = lsh.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    val recallHits = byQuery.count { case (qid, rows) =>
      rows.exists(r => bf.contains((qid, r.getAs[Long]("neighbor_id"))))
    }
    assert(recallHits >= byQuery.size / 2)
  }

  test("ivfTopK: probed-list ANN with sane recall vs brute force") {
    val q = emb.filter(col("vec_id") < 10)
    val bf = Similarity.bruteForceTopK(emb, q, k = 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(emb, q, k = 5, nCentroids = 8, nprobe = 3)
      .collect()
    val byQuery = ivf.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size === 10) // every query answered
    byQuery.foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Int]("rnk")).sorted.toSeq === (1 to 5))
    }
    val recallHits = byQuery.count { case (qid, rows) =>
      rows.exists(r => bf.contains((qid, r.getAs[Long]("neighbor_id"))))
    }
    assert(recallHits >= 5, s"IVF recall too low: $recallHits/10")
  }

  test("cosinePairsBlocked: every pair exact, decent recall vs O(n2) scan") {
    val exact = Similarity.cosinePairs(emb, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exactPairs = exact.map(t => (t._1, t._2)).toSet
    val blocked = Similarity.cosinePairsBlockedRaw(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // no false positives: blocked pairs are a subset with the SAME score
    val exactScore = exact.map(t => (t._1, t._2) -> t._3).toMap
    blocked.foreach { case (a, b, s) =>
      assert(exactPairs.contains((a, b)), s"($a,$b) not a true pair")
      assert(s === exactScore((a, b)))
    }
    // recall: band blocking keeps the majority of true near-dup pairs
    if (exact.nonEmpty)
      assert(blocked.length.toDouble / exact.length > 0.5,
        s"recall ${blocked.length}/${exact.length}")
  }

  test("dedupEmbeddings keeps one representative per cosine component") {
    val exact = Similarity.dedupEmbeddings(emb, threshold = 0.4,
      blocked = false).select("vec_id").as[Long].collect().toSet
    // survivors + losers partition the corpus; every dropped vector has
    // a surviving near-dup path (its component's min id survives)
    assert(exact.nonEmpty && exact.size < emb.count())
    val pairs = Similarity.cosinePairs(emb, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // directly-linked near-dups never BOTH survive
    pairs.foreach { case (a, b) =>
      assert(!(exact.contains(a) && exact.contains(b)), s"($a,$b)")
    }
    // blocked path: survivors are a superset (LSH may miss pairs, which
    // only UNDER-merges — it never drops a doc without a found dup)
    val blocked = Similarity.dedupEmbeddings(emb, threshold = 0.4)
      .select("vec_id").as[Long].collect().toSet
    assert(exact.subsetOf(blocked))
  }

  test("lsh signatures deterministic across invocations") {
    val s1 = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3), k = 3)
      .collect().toSeq
    val s2 = Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3), k = 3)
      .collect().toSeq
    assert(s1 === s2)
  }

  test("ivfTopK deterministic across invocations (driver-held Lloyd " +
      "state re-derives the same centroids, assignments and ranking)") {
    val q = emb.filter(col("vec_id") < 5)
    val r1 = Similarity.ivfTopK(emb, q, k = 5, nCentroids = 8, nprobe = 3)
      .collect().toSeq
    val r2 = Similarity.ivfTopK(emb, q, k = 5, nCentroids = 8, nprobe = 3)
      .collect().toSeq
    assert(r1 === r2)
  }

  test("ivfTopK restores the session's AQE setting after the " +
      "scoped-off training loop") {
    val before = spark.conf.get("spark.sql.adaptive.enabled")
    Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3), k = 3,
      nCentroids = 4, nprobe = 2).collect()
    assert(spark.conf.get("spark.sql.adaptive.enabled") === before)
  }

  test("ivfTopK broadcasts its probes only when the query side provably " +
      "fits the session's broadcast bound") {
    def hinted(df: DataFrame): Boolean = df.queryExecution.analyzed.exists {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      case _ => false
    }
    val s = spark.newSession()
    val vecs = s.read.parquet(s"$sfDir/embeddings.parquet")
    def ivf() = Similarity.ivfTopK(vecs, vecs.filter(col("vec_id") < 5),
      k = 3, nCentroids = 4, nprobe = 2)
    val small = ivf()
    assert(hinted(small))
    // the embeddings file is far over 1 KB: the probes join is plain
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "1k")
    val large = ivf()
    assert(!hinted(large))
    assert(large.collect().toSeq === small.collect().toSeq)
  }

  test("ivfTopK on an empty corpus returns an empty result with the " +
      "output schema") {
    val q = emb.filter(col("vec_id") < 3)
    val out = Similarity.ivfTopK(emb.limit(0), q, k = 3, nCentroids = 4,
      nprobe = 2)
    assert(out.collect().isEmpty)
    val expected = Similarity.ivfTopK(emb, q, k = 3, nCentroids = 4,
      nprobe = 2).schema
    assert(out.schema.map(f => f.name -> f.dataType) ===
      expected.map(f => f.name -> f.dataType))
  }

  test("ivfTopK scopes AQE-off to its own training collects: the " +
      "session conf is unchanged (unset keys stay unset), another thread " +
      "planning during training gets an AdaptiveSparkPlan, and the " +
      "training plans stay non-adaptive") {
    val s = spark.newSession()
    s.conf.unset("spark.sql.adaptive.enabled")
    val before = s.conf.getAll
    val trainingPlans = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "collect") trainingPlans.add(qe.executedPlan.nodeName)
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    // the corpus ids pass through a UDF whose first row holds the first
    // training job open while another thread plans on the same session
    val gate = udf { (id: Long) => IvfGate.hold(); id }
    val vecs = s.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = vecs.withColumn("vec_id", gate(col("vec_id")))
    val other = Future {
      assert(IvfGate.entered.await(60, TimeUnit.SECONDS),
        "training never reached the gate")
      try s.range(100).groupBy(col("id") % 3).count()
        .queryExecution.executedPlan
      finally IvfGate.release.countDown()
    }
    try {
      Similarity.ivfTopK(corpus, vecs.filter(col("vec_id") < 3), k = 3,
        nCentroids = 4, nprobe = 2, iters = 2)
      val planned = Await.result(other, 2.minutes)
      assert(planned.isInstanceOf[AdaptiveSparkPlanExec], planned)
      assert(s.conf.getAll === before)
      // listener events are async: the one training sample collect
      GraftSqlShim.drainListenerBus(s.sparkContext)
      assert(trainingPlans.size === 1)
      assert(!trainingPlans.contains("AdaptiveSparkPlan"), trainingPlans)
    } finally s.listenerManager.unregister(listener)
  }

  test("lloyd on a hand-checked 2-D sample: ties go to the smaller " +
      "label, a centroid no row chose is dropped for good") {
    val sample = Array(-8L -> Array(1d, 0d), 5L -> Array(1d, 0d),
      7L -> Array(0d, 1d), 20L -> Array(1d, 1d), 30L -> Array(0d, 3d))
    def trained(iters: Int) = Similarity.lloyd(sample, nCentroids = 3, iters)
      .map { case (id, c) => id -> c.toSeq }.toSeq
    // step 1: seeds -8 and 5 are equal, so every tie goes to -8 and 5
    // gets nothing; (1,1) scores 1 against all three seeds
    assert(trained(1) === Seq(-8L -> Seq(1d, 1d / 3), 7L -> Seq(0d, 2d)))
    // step 2: (1,1) now scores 4/3 against -8 and 2 against 7
    assert(trained(2) === Seq(-8L -> Seq(1d, 0d), 7L -> Seq(1d / 3, 5d / 3)))
    assert(trained(0) === Seq(-8L -> Seq(1d, 0d), 5L -> Seq(1d, 0d),
      7L -> Seq(0d, 1d)))
  }

  test("lloyd equals a groupBy reference on random samples") {
    // integer coordinates make score ties common
    val gen = for {
      dim <- Gen.choose(1, 4)
      n <- Gen.choose(1, 40)
      k <- Gen.choose(1, 8)
      iters <- Gen.choose(0, 4)
      labels <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
      vs <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-3, 3).map(_.toDouble)))
    } yield (labels.distinct.zip(vs), k, iters)
    val byScoreThenLabel =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    def reference(sample: Seq[(Long, Seq[Double])], k: Int,
                  iters: Int): Map[Long, Seq[Double]] =
      (1 to iters).foldLeft(sample.take(k).toMap) { (cs, _) =>
        sample.groupBy { case (_, v) =>
          cs.minBy { case (id, c) =>
            (-v.zip(c).map { case (a, b) => a * b }.sum, id)
          }(byScoreThenLabel)._1
        }.map { case (id, pts) =>
          id -> pts.map(_._2).transpose.map(_.sum / pts.size)
        }
      }
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(500),
      Prop.forAllNoShrink(gen) { case (sample, k, iters) =>
        Similarity.lloyd(sample.map { case (id, v) => id -> v.toArray }.toArray,
          k, iters).map { case (id, c) => id -> c.toSeq }.toMap ==
          reference(sample, k, iters)
      })
    assert(r.passed, r.status)
  }

  /** Jobs that `body` starts, counted under a job group of its own. */
  private def jobsIn(body: => Unit): Int = {
    val group = s"SimilaritySpec-${System.nanoTime()}"
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "counted")
    try body
    finally {
      sc.clearJobGroup()
      GraftSqlShim.drainListenerBus(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("building ivfTopK runs exactly one job: the training sample") {
    val q = emb.filter(col("vec_id") < 10)
    emb.schema // the corpus is resolved before counting
    assert(jobsIn(Similarity.ivfTopK(emb, q, k = 5, nprobe = 8)) === 1)
  }

  test("q_sim_ivf runs at most 10 jobs") {
    Engine.tables(spark, sfDir)
    val jobs = jobsIn(SparkEntry.queries("q_sim_ivf")(spark, sfDir)
      .write.format("noop").mode("overwrite").save())
    assert(jobs <= 10, s"q_sim_ivf ran $jobs jobs")
  }
}
