package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  // Corpus with planted exact + near duplicates.
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),     // exact dup of 1
    (3L, "THE  quick brown FOX jumps over the lazy dog again and again"),    // normalized dup of 1
    (4L, "the quick brown fox jumps over the lazy cat again and again"),     // near dup (1 token)
    (5L, "completely different content about spark engines and shuffles here"),
    (6L, "another unrelated document mentioning joins aggregates and windows today")
  ).toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates, keeps min id") {
    val g = Dedup.exactGroups(docs).collect()
    val dupGroup = g.find(_.getAs[Long]("n_dups") == 2).get
    assert(dupGroup.getAs[Long]("keep_id") === 1L)
    assert(g.length === 5) // 6 docs, one pair collapsed
  }

  test("normalized exactGroups also collapses case/whitespace variants") {
    val g = Dedup.exactGroups(docs, normalized = true).collect()
    val dupGroup = g.find(_.getAs[Long]("n_dups") == 3).get
    assert(dupGroup.getAs[Long]("keep_id") === 1L)
    assert(g.length === 4)
  }

  test("incrementalExact drops ledger hits and in-batch dups, " +
      "keeps min id per surviving content") {
    // ledger already holds doc 1's content; the batch re-ingests it
    // (2: exact dup of 1), plants an in-batch pair (2/new 7), and
    // carries clean docs
    val batch = docs.filter($"doc_id" =!= 1L).union(
      Seq((7L, "the quick brown fox jumps over the lazy dog again and again"))
        .toDF("doc_id", "text"))
    val seen = docs.filter($"doc_id" === 1L)
      .select(md5($"text").as("content_hash"))
    val out = Dedup.incrementalExact(batch, seen).collect()
    // 2 and 7 match the ledger -> dropped entirely
    assert(!out.exists(r => Set(2L, 7L)(r.getAs[Long]("keep_id"))))
    // 3 survives (exact hash differs from 1), 4/5/6 are unique
    assert(out.map(_.getAs[Long]("keep_id")).sorted.toSeq ===
      Seq(3L, 4L, 5L, 6L))
    assert(out.forall(_.getAs[Long]("n_batch") == 1L))
    // in-batch multiplicity: a fresh pair groups to min id
    val batch2 = Seq(
      (10L, "novel content alpha"), (11L, "novel content alpha"),
      (12L, "novel content beta")).toDF("doc_id", "text")
    val out2 = Dedup.incrementalExact(batch2, seen).collect()
    assert(out2.length === 2)
    assert(out2.find(_.getAs[Long]("n_batch") == 2L)
      .get.getAs[Long]("keep_id") === 10L)
  }

  test("jaccardPairs finds planted near-dups with exact scores") {
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact dups have jaccard 1.0
    assert(pairs.exists { case (a, b, j) => a == 1 && b == 2 && j == 1.0 })
    // near-dup 1-4 differs in one token -> high but < 1
    val near = pairs.find { case (a, b, _) => a == 1 && b == 4 }
    assert(near.exists { case (_, _, j) => j > 0.5 && j < 1.0 })
    // unrelated docs never pair
    assert(!pairs.exists { case (a, b, _) => b == 5 || b == 6 })
  }

  test("exact path fails loudly past the postings sanity bound") {
    // a shingle hotter than maxExactPostings means O(df²) pairs and one
    // giant agg buffer — the uncapped path must error, not OOM
    val hot = (1L to 6L).map(i => (i, s"common shingle here tail$i"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.jaccardPairs(hot, threshold = 0.1,
        maxExactPostings = 4).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("maxShingleFreq")))
    // same corpus passes under the capped path
    assert(Dedup.jaccardPairs(hot, threshold = 0.1,
      maxShingleFreq = Some(6)).count() >= 1)
  }

  test("maxShingleFreq cap drops stop-shingle fanout but keeps dups") {
    val pairs = Dedup.jaccardPairs(docs, threshold = 0.9,
        maxShingleFreq = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("minhashDedup recovers high-jaccard pairs (LSH recall)") {
    val got = Dedup.minhashDedup(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L))) // identical docs always collide
    // every reported pair must be a true pair at the threshold
    val exact = Dedup.jaccardPairs(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exact))
  }

  test("minhash signatures are deterministic across runs") {
    val s1 = Dedup.minhashSignatures(docs).orderBy("id").collect().toSeq
    val s2 = Dedup.minhashSignatures(docs).orderBy("id").collect().toSeq
    assert(s1 === s2)
  }

  test("simhash: identical docs equal, near-dups close, unrelated far") {
    val sig = Dedup.simhash(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(sig(1L) === sig(2L))
    assert(ham(sig(1L), sig(4L)) < ham(sig(1L), sig(5L)))
  }

  test("connectedComponents merges transitive chains to min label") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val groups = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) === 1L && groups(2L) === 1L && groups(3L) === 1L)
    assert(groups(5L) === 5L && groups(6L) === 5L)
    assert(groups(7L) === 7L && groups(8L) === 7L && groups(9L) === 7L)
  }

  test("connectedComponents matches driver-side union-find on the " +
      "testdata Jaccard pair graph") {
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup
      .jaccardPairs(real, threshold = 0.05, maxShingleFreq = Some(1000))
      .select("doc_a", "doc_b").localCheckpoint()
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val truth = parent.keys.toSeq.map(k => k -> find(k)).toMap
    val got = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === truth)
  }

  test("connectedComponents on a 30-node path matches union-find or " +
      "throws naming the bound, never returns unconverged labels") {
    val pairs = (1L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    scala.util.Try(Dedup.connectedComponents(pairs).collect()) match {
      case scala.util.Success(rows) =>
        assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
          (1L to 30L).map(_ -> 1L).toMap)
      case scala.util.Failure(e: IllegalStateException) =>
        assert(e.getMessage.contains("maxIter = 10") &&
          e.getMessage.contains("after 10 rounds"), e.getMessage)
      case scala.util.Failure(e) => throw e
    }
    // a bound the path fits converges to the one label
    val labels = Dedup.connectedComponents(pairs, maxIter = 40)
      .select("group_id").distinct().as[Long].collect()
    assert(labels.toSeq === Seq(1L))
  }

  test("dedupCorpus keeps one representative per near-dup group") {
    val out = Dedup.dedupCorpus(docs, threshold = 0.4)
    val ids = out.select("doc_id").as[Long].collect().toSet
    // 1,2,3,4 are one transitive group (exact+norm+near dup) -> keep 1
    assert(ids.contains(1L))
    assert(!ids.contains(2L) && !ids.contains(3L))
    assert(ids.contains(5L) && ids.contains(6L))
  }

  test("planted stop-shingle: capped dedupCorpus ignores the hot shingle " +
      "but still collapses true dups") {
    // every doc shares one degenerate header shingle; only 1/2 are real
    // dups. Uncapped, the header alone links nothing (jaccard below
    // threshold) but fans the self-join on one key; capped, the header
    // never enters the join and results are unchanged.
    val header = "shared boilerplate header"
    val d = Seq(
      (1L, s"$header alpha beta gamma delta epsilon"),
      (2L, s"$header alpha beta gamma delta epsilon"),
      (3L, s"$header completely different body about engines"),
      (4L, s"$header yet another unrelated body mentioning windows"),
      (5L, s"$header fifth body with its own unique words here")
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupCorpus(d, threshold = 0.5,
        maxShingleFreq = Some(2))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L, 4L, 5L))
    // sanity: capped candidate generation drops the header shingle rows
    val capped = Dedup.jaccardPairs(d, threshold = 0.5,
      maxShingleFreq = Some(2)).collect().map(r => (r.getLong(0),
      r.getLong(1))).toSet
    assert(capped === Set((1L, 2L)))
  }

  test("contamination flags corpus docs quoting eval n-grams; eval side " +
      "broadcasts") {
    val evalSet = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "he said the quick brown fox jumps over a fence today"),
      (2L, "entirely unrelated text about spark execution plans"),
      (3L, "pack my box with five dozen liquor jugs she replied"))
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, evalSet, n = 5, minShared = 1)
    val got = hits.select("doc_id", "eval_id")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 100L), (3L, 101L)))
    // the eval side must broadcast: the corpus never shuffles before
    // the hit aggregation
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1000))
  }

  test("jaccard pairs on real corpus match minhash verification path") {
    val real = spark.read.parquet(s"$sfDir/documents.parquet")
    val exact = Dedup.jaccardPairs(real, 0.5).count()
    val mh = Dedup.minhashDedup(real, 0.5).count()
    assert(mh <= exact)
    if (exact > 0) assert(mh.toDouble / exact > 0.5) // recall sanity
  }
}
