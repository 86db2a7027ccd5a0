package graft.operators

import graft.Present._
import graft.functions.DotProduct

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`), north-star
  * extra per BASELINE.json.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the corpus; the corpus never shuffles, each partition scores
  * locally and only (query, candidate, score) survivors move. Scale
  * path: random-hyperplane LSH bucketing — candidates share a signature
  * bucket, turning the n×m cross product into an inverted-index join.
  */
object Similarity {

  /** Index-ordered double dot product (deterministic fold order — the
    * same sequential sum every engine computes). Backed by the codegen'd
    * graft.functions.DotProduct expression, ~30x faster than the
    * interpreted HOF formulation with identical results. */
  def dot(a: Column, b: Column): Column =
    GraftSqlShim.column(DotProduct(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k neighbors for each query vector (queries broadcast;
    * ranking via TakeOrderedAndProject-style window filter). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // norms are computed once per vector, not once per pair — same doubles
    // (sqrt of the same self-dot), 3x fewer array folds in the hot loop
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(dot(col("qv"), col("qv"))))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
      .withColumn("cn", sqrt(dot(col("cv"), col("cv"))))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos_sim"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .presentSorted("query_id", "rnk")
  }

  /** All pairs above a cosine threshold (embedding near-dup detection).
    * Exact O(n²/2) scoring — a verification PRIMITIVE for small inputs
    * or pre-filtered candidate sets; the corpus-scale default is
    * [[cosinePairsBlockedRaw]]. */
  def cosinePairs(corpus: DataFrame, threshold: Double,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame =
    cosinePairsRaw(corpus, threshold, idCol, vecCol)
      .presentSorted("vec_a", "vec_b")

  /** Unsorted pair stream — the composable core (downstream operators
    * keep full parallelism). */
  def cosinePairsRaw(corpus: DataFrame, threshold: Double,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val base = graft.Engine.spread(corpus, col(idCol))
      .select(col(idCol).as("vec_a"),
        asDouble(col(vecCol)).as("va"))
      .withColumn("na", sqrt(dot(col("va"), col("va"))))
    val a = base
    val b = base.toDF("vec_b", "vb", "nb")
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Embedding-cosine near-dup corpus dedup: pairs above the cosine
    * threshold -> transitive groups (distributed min-label propagation,
    * see Dedup.connectedComponents) -> keep the smallest id per group.
    * `blocked = true` (the 100 TB default) generates candidate pairs
    * via LSH band blocking instead of the exact O(n²) scan. */
  def dedupEmbeddings(corpus: DataFrame, threshold: Double,
                      blocked: Boolean = true,
                      nPlanes: Int = 24, bands: Int = 4,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    // default banding here is 4 bands x 6 rows: corpus dedup wants
    // SELECTIVITY (64-value buckets shrink the candidate space ~16x vs
    // 8-value) and accepts the lower per-pair recall — duplicate
    // clusters are linked through many pairs, so the component usually
    // survives a missed edge. Pass bands=8 to bias recall instead.
    val pairs =
      (if (blocked)
        cosinePairsBlockedRaw(corpus, threshold, nPlanes, bands,
          idCol = idCol, vecCol = vecCol)
      else cosinePairsRaw(corpus, threshold, idCol, vecCol))
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    val groups = Dedup.connectedComponents(pairs)
    val losers = groups.filter(col("doc_id") =!= col("group_id"))
      .select(col("doc_id"))
    corpus.join(losers, corpus(idCol) === losers("doc_id"), "left_anti")
  }

  /** Embedding near-dup pairs at corpus scale, unsorted: LSH band-bucket
    * blocking generates candidates (two vectors meet only if some band
    * of their hyperplane signature matches — an equi-join on small long
    * keys, never an n² enumeration), then each candidate pair is
    * verified with the exact cosine and the threshold re-applied. Every
    * emitted pair is therefore exact; recall vs the O(n²) scan is the
    * standard LSH trade (more planes/bands => higher recall), pinned by
    * SimilaritySpec on the real corpus. */
  def cosinePairsBlockedRaw(corpus: DataFrame, threshold: Double,
                            nPlanes: Int = 24, bands: Int = 8,
                            dim: Int = 64, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(nPlanes % bands == 0)
    val rows = nPlanes / bands
    // signatures are (id, long) — tiny — and feed BOTH sides of the
    // band self-join below. The lazy checkpoint materializes the
    // nPlanes-dot-product scan once instead of once per join side.
    val sigs = corpus
      .select(col(idCol).as("id"),
        lshSignature(asDouble(col(vecCol)), nPlanes, dim).as("sig"))
      .localCheckpoint(eager = false)
    val banded = sigs
      .select(col("id"), explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * rows)
            .bitwiseAND((1L << rows) - 1).as("bucket"))): _*)).as("e"))
      .select(col("id"), col("e.band"), col("e.bucket"))
    // candidate IDs from bucket co-membership; dedup over bands BEFORE
    // vectors re-attach (the distinct shuffles 16-byte id pairs only)
    val l = banded.select(col("id").as("vec_a"), col("band"), col("bucket"))
    val r = banded.select(col("id").as("vec_b"), col("band").as("band_r"),
      col("bucket").as("bucket_r"))
    val candIds = l.join(r, col("band") === col("band_r") &&
        col("bucket") === col("bucket_r") && col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    // vectors re-attach straight from the corpus scan (column-pruned,
    // vectorized) — never from the exploded band stream, which would
    // need a distinct() shuffle carrying full vectors
    val va = corpus.select(col(idCol).as("vec_a"),
        asDouble(col(vecCol)).as("va"))
      .withColumn("na", sqrt(dot(col("va"), col("va"))))
    val vb = va.toDF("vec_b", "vb", "nb")
    candIds.join(va, "vec_a").join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Deterministic pseudo-random hyperplanes (fixed-seed LCG) — also
    * re-derived into the oracle's SQL, so keep it stable. */
  private[graft] def planes(nPlanes: Int, dim: Int): Array[Array[Double]] = {
    var s = 0x9E3779B97F4A7C15L
    def next(): Double = {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 11).toDouble / (1L << 53).toDouble) * 2d - 1d
    }
    Array.fill(nPlanes, dim)(next())
  }

  /** Random-hyperplane LSH signature (sign bits packed into a long).
    * Each projection is the codegen'd DotProduct against a literal
    * plane array — same sequential fold (and therefore the same sign
    * bits) as the interpreted HOF formulation it replaced, several
    * times faster per vector. */
  def lshSignature(vec: Column, nPlanes: Int, dim: Int): Column = {
    val ps = planes(nPlanes, dim)
    (0 until nPlanes).map { i =>
      val proj = dot(vec, array(ps(i).map(lit): _*))
      when(proj > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }.reduce(_.bitwiseOR(_))
  }

  /** IVF (inverted-file) ANN — the k-means scale path. Train a coarse
    * quantizer, assign each corpus vector to its nearest centroid
    * (inverted lists), then answer queries by exact-scoring only the
    * `nprobe` nearest lists.
    *
    * Training is ONE job and one corpus scan, not 1 + `iters`: a
    * distributed TakeOrdered collects the `nCentroids × TrainPerCentroid`
    * vectors with the smallest xxhash64(id), a uniform pseudo-random
    * sample (FAISS trains IVF on 30–256 points per centroid: Johnson,
    * Douze, Jégou, "Billion-scale similarity search with GPUs", 2017),
    * and [[lloyd]] runs on the driver over it. Driver state is bounded
    * by the parameters (0.5 MB at the defaults), never by data size. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nprobe: Int = 4, iters: Int = 3,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    // not spread: the sample's partial top-k and the lists' projection
    // both run on the scan's own partitions; a spread adds a shuffle
    val c = corpus.select(col(idCol).as("cid"), asDouble(col(vecCol)).as("v"))
    // in ascending hash order, labelled by the hash (any distinct label
    // works); without AQE, which has no shuffle here to re-plan
    val sample = GraftSqlShim.collectNonAdaptive(c
      .select(xxhash64(col("cid")).as("h"), col("v"))
      .orderBy("h").limit(nCentroids * TrainPerCentroid))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (sample.isEmpty) // empty corpus: no lists, nothing to score
      return bruteForceTopK(corpus, queries, k, idCol, vecCol)
    val centroids = lloyd(sample, nCentroids, iters)
    // (-score, centroid_id) against every centroid as literal arrays:
    // ascending order is score DESC, then the smaller id, as in [[lloyd]]
    def ranked(vec: Column): Column = array(centroids.map { case (cid, cv) =>
      struct((-dot(vec, array(cv.map(lit): _*))).as("ns"), lit(cid).as("ci"))
    }.toIndexedSeq: _*)
    // inverted lists: a pure projection over the corpus scan (nearest
    // centroid = array_min) — no shuffle, no checkpoint; vectors stay
    // on the row so scoring needs no re-join
    val lists = c.select(col("cid"), col("v"),
      array_min(ranked(col("v"))).getField("ci").as("centroid_id"))
    val q = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    // nprobe nearest centroids per query — a per-row sort of k literal
    // scores, no crossJoin, no window shuffle
    val probes = q
      .select(col("query_id"), col("qv"),
        explode(slice(array_sort(ranked(col("qv"))), 1, nprobe)).as("p"))
      .select(col("query_id"), col("qv"), col("p.ci").as("centroid_id"))
    // broadcast the probes (nprobe rows per query, vector included)
    // only when the query side provably fits the session's broadcast
    // bound after that fan-out; otherwise a plain join lets AQE choose
    val bound = queries.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val small = bound >= 0 && !provablyLarge(queries, bound / nprobe)
    val cand = lists.join(if (small) broadcast(probes) else probes, "centroid_id")
      .filter(col("cid") =!= col("query_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    cand.select(col("query_id"), col("cid").as("neighbor_id"),
        cosine(col("qv"), col("v")).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .presentSorted("query_id", "rnk")
  }

  private val TrainPerCentroid = 64 // vectors per centroid in ivfTopK's sample

  /** Lloyd's k-means over (label, vector) rows; the first `nCentroids`
    * seed the centroids under their labels. Each step assigns every row
    * to its nearest centroid (largest dot; ties to the smaller label),
    * sums each cluster in row order (deterministic on any machine),
    * divides by the count and drops centroids no row chose. */
  private[graft] def lloyd(sample: Array[(Long, Array[Double])],
                           nCentroids: Int,
                           iters: Int): Array[(Long, Array[Double])] = {
    // Spark orders (-score, label) structs alike: NaN largest; its
    // -0.0 = 0.0 never matters, as a dot summed from +0.0 is never -0.0
    import Ordering.Double.TotalOrdering
    val dim = sample.head._2.length
    (1 to iters).foldLeft(sample.take(nCentroids)) { (cs, _) =>
      val sums = Array.ofDim[Double](cs.length, dim)
      val counts = new Array[Int](cs.length)
      sample.foreach { case (_, v) =>
        val j = cs.indices.minBy(j => (-DotProduct.dot(v, cs(j)._2), cs(j)._1))
        counts(j) += 1
        for (i <- 0 until dim) sums(j)(i) += v(i)
      }
      cs.indices.filter(counts(_) > 0)
        .map(j => (cs(j)._1, sums(j).map(_ / counts(j)))).toArray
    }
  }

  /** Approximate top-k: score only candidates sharing the query's LSH
    * bucket (multi-band: `bands` sub-signatures, any-band match). At
    * corpus scale this replaces the cross join with an equi-join on
    * (band, bucket) — shuffle keys are tiny longs. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(nPlanes % bands == 0)
    val rows = nPlanes / bands
    def withBands(df: DataFrame, id: String) = {
      val sig = lshSignature(asDouble(col(vecCol)), nPlanes, dim)
      df.select(col(idCol).as(id), sig.as("sig"))
        .select(col(id), explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * rows)
              .bitwiseAND((1L << rows) - 1).as("bucket"))): _*)).as("e"))
        .select(col(id), col("e.band"), col("e.bucket"))
    }
    val c = withBands(graft.Engine.spread(corpus, col(idCol)), "neighbor_id")
    val q = withBands(queries, "query_id")
      .withColumnRenamed("band", "band_q")
      .withColumnRenamed("bucket", "bucket_q")
    // dedup candidate (query, neighbor) ID pairs BEFORE re-attaching the
    // vectors — the distinct shuffles 16-byte keys, not 2x64 doubles
    val candIds = c.select(col("neighbor_id"), col("band"), col("bucket"))
      .join(broadcast(q.select(col("query_id"), col("band_q"),
        col("bucket_q"))),
        col("band") === col("band_q") && col("bucket") === col("bucket_q") &&
          col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id")).distinct()
    // vectors re-attach from the original column-pruned scans, not from
    // the exploded band stream (which would distinct() full vectors)
    val qv = queries.select(col(idCol).as("query_id"),
      asDouble(col(vecCol)).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      asDouble(col(vecCol)).as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    candIds.join(broadcast(qv), "query_id").join(cv, "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .presentSorted("query_id", "rnk")
  }
}
