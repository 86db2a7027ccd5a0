package graft.queries

import graft.Present._

import graft.Engine
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operator inventory (north-star extras per
  * BASELINE.json): dedup (exact / normalized / n-gram Jaccard / MinHash
  * LSH / SimHash), similarity search (brute-force + LSH), text analysis,
  * multimodal feature plumbing, plus sketch aggregates. Exact variants
  * carry a DuckDB oracle; hash-family variants (xxhash64-based) are
  * Spark-deterministic and verified by ScalaTest invariants instead.
  */
object Pipeline {

  private def t(spark: SparkSession, dir: String): Map[String, DataFrame] =
    Engine.tables(spark, dir)

  def q_dedup_exact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(spark, dir)("documents")).presentSorted("keep_id")

  val q_dedup_exact_sql: String = """
    SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           count(*) AS n_dups
    FROM documents GROUP BY md5(text) ORDER BY keep_id"""

  def q_dedup_norm(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(t(spark, dir)("documents"), normalized = true)
      .presentSorted("keep_id")

  val q_dedup_norm_sql: String = """
    SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             AS content_hash,
           min(doc_id) AS keep_id, count(*) AS n_dups
    FROM documents GROUP BY 1 ORDER BY keep_id"""

  /** Continuous-ingest dedup: documents with doc_id % 3 = 0 stand in
    * for the already-ingested ledger (its md5 fingerprints), the rest
    * arrive as the new batch. */
  def q_dedup_incremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir)("documents")
    val seen = docs.filter(col("doc_id") % 3 === 0)
      .select(md5(col("text")).as("content_hash"))
    Dedup.incrementalExact(docs.filter(col("doc_id") % 3 =!= 0), seen)
      .presentSorted("keep_id")
  }

  val q_dedup_incremental_sql: String = """
    WITH seen AS (SELECT md5(text) AS h FROM documents
                  WHERE doc_id % 3 = 0),
    newd AS (SELECT doc_id, md5(text) AS content_hash FROM documents
             WHERE doc_id % 3 <> 0)
    SELECT content_hash, min(doc_id) AS keep_id, count(*) AS n_batch
    FROM newd
    WHERE NOT EXISTS (SELECT 1 FROM seen WHERE seen.h = newd.content_hash)
    GROUP BY content_hash ORDER BY keep_id"""

  def q_dedup_jaccard(spark: SparkSession, dir: String): DataFrame =
    // explicit postings width (standalone corpus-scale call): the pair
    // stage is CPU super-linear per postings row, which AQE's
    // byte-based coalescing can't see — measured 1.05 s on 5 coalesced
    // tasks vs 0.52 s on the full width at sf0.1
    Dedup.jaccardPairs(t(spark, dir)("documents"), threshold = 0.05,
        postingsWidth =
          Some(spark.sessionState.conf.numShufflePartitions))
      .presentSorted("doc_a", "doc_b")

  val q_dedup_jaccard_sql: String = """
    WITH toks AS (SELECT doc_id,
                         string_split_regex(trim(text), '\s+') AS l
                  FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(l) - 2),
                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS s
           FROM toks WHERE len(l) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT da AS doc_a, db AS doc_b,
           CAST(ni AS DOUBLE)/(sa.n + sb.n - ni) AS jaccard
    FROM inter JOIN sizes sa ON sa.doc_id = da
               JOIN sizes sb ON sb.doc_id = db
    WHERE CAST(ni AS DOUBLE)/(sa.n + sb.n - ni) >= 0.05
    ORDER BY doc_a, doc_b"""

  /** MinHash LSH dedup. Ground-truth oracle: the 64 affine-permutation
    * slot minima are recomputed in SQL from the SAME (a,b) constants
    * (interpolated below from Dedup.perms), candidate pairs come from
    * direct band-slot equality (what the engine's bucket hash encodes),
    * and candidates are verified with exact Jaccard — the full LSH
    * pipeline checked end to end, not just its invariants. */
  def q_dedup_minhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashDedup(t(spark, dir)("documents"), threshold = 0.05)
      .presentSorted("doc_a", "doc_b")

  val q_dedup_minhash_sql: String = {
    val fnv = """list_reduce(
        list_prepend(CAST(14695981039346656037 AS HUGEINT),
          list_transform(range(1, length(s) + 1),
            i -> CAST(unicode(s[i]) AS HUGEINT))),
        (acc, b) -> ((acc - acc % 256 +
                      xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
                     * 1099511628211) % 18446744073709551616)"""
    val slotMins = Dedup.perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((h * CAST($a AS BIGINT) + $b) % 2147483647) AS m$i"
    }.mkString(",\n             ")
    val bandEq = (0 until Dedup.Bands).map { bi =>
      (0 until Dedup.RowsPerBand)
        .map(r => s"a.m${bi * Dedup.RowsPerBand + r} = " +
          s"b.m${bi * Dedup.RowsPerBand + r}")
        .mkString("(", " AND ", ")")
    }.mkString("\n          OR ")
    s"""
    WITH toks AS (SELECT doc_id,
                         string_split_regex(trim(text), '\\s+') AS l
                  FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(l) - 2),
                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS s
           FROM toks WHERE len(l) >= 3),
    hh AS (SELECT doc_id, s,
             CAST((((CASE WHEN hu >= 9223372036854775808
                     THEN hu - 18446744073709551616 ELSE hu END)
                    % 2147483647) + 2147483647) % 2147483647 AS BIGINT) AS h
           FROM (SELECT doc_id, s, $fnv AS hu FROM sh)),
    sigs AS (SELECT doc_id,
             $slotMins
             FROM hh GROUP BY doc_id),
    cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
             WHERE $bandEq),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    exact AS (SELECT da AS doc_a, db AS doc_b,
                     CAST(ni AS DOUBLE)/(sa.n + sb.n - ni) AS jaccard
              FROM inter JOIN sizes sa ON sa.doc_id = da
                         JOIN sizes sb ON sb.doc_id = db
              WHERE CAST(ni AS DOUBLE)/(sa.n + sb.n - ni) >= 0.05)
    SELECT e.doc_a, e.doc_b, e.jaccard
    FROM exact e JOIN cand c
      ON e.doc_a = c.doc_a AND e.doc_b = c.doc_b
    ORDER BY e.doc_a, e.doc_b"""
  }

  /** End-to-end corpus dedup: pairs -> transitive groups -> survivors.
    * Oracle: the same exact-Jaccard pair graph closed transitively with
    * a recursive CTE (min-label per component). The default stop-shingle
    * cap (1000) cannot trigger at the oracle scale (500 docs), so capped
    * Spark output == uncapped SQL ground truth. */
  def q_dedup_corpus(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupCorpus(t(spark, dir)("documents"), threshold = 0.05)
      .select(col("doc_id"), col("n_chars")).presentSorted("doc_id")

  val q_dedup_corpus_sql: String = """
    WITH RECURSIVE toks AS (SELECT doc_id,
                                   string_split_regex(trim(text), '\s+') AS l
                            FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(l) - 2),
                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS s
           FROM toks WHERE len(l) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS ni
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT da, db
              FROM inter JOIN sizes sa ON sa.doc_id = da
                         JOIN sizes sb ON sb.doc_id = db
              WHERE CAST(ni AS DOUBLE)/(sa.n + sb.n - ni) >= 0.05),
    edges AS (SELECT da AS u, db AS v FROM pairs
              UNION SELECT db, da FROM pairs),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.v, r.label FROM reach r JOIN edges e ON e.u = r.node),
    labels AS (SELECT node, min(label) AS label FROM reach GROUP BY node)
    SELECT doc_id, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT node FROM labels WHERE node <> label)
    ORDER BY doc_id"""

  def q_dedup_simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(spark, dir)("documents")).presentSorted("id")

  /** Ground-truth SimHash: FNV-1a per token (HUGEINT modular math),
    * frequency-weighted bit votes, 64-bit signature — byte-for-byte the
    * operator's contract, derived independently. */
  val q_dedup_simhash_sql: String = """
    WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
                  FROM documents),
    tf AS (SELECT doc_id, tok, count(*) AS cnt
           FROM (SELECT doc_id, unnest(l) AS tok FROM toks)
           GROUP BY doc_id, tok),
    fp AS (SELECT doc_id, cnt, list_reduce(
             list_prepend(CAST(14695981039346656037 AS HUGEINT),
               list_transform(range(1, length(tok) + 1),
                 i -> CAST(unicode(tok[i]) AS HUGEINT))),
             (acc, b) -> ((acc - acc % 256 +
                           xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
                          * 1099511628211) % 18446744073709551616) AS hu
           FROM tf),
    votes AS (SELECT doc_id, i,
                     sum(CASE WHEN (hu // CAST(power(2, i) AS HUGEINT)) % 2
                            = 1 THEN cnt ELSE -cnt END) AS v
              FROM fp CROSS JOIN range(0, 64) AS r(i)
              GROUP BY doc_id, i),
    sig AS (SELECT doc_id,
                   sum(CASE WHEN v > 0 THEN CAST(power(2, i) AS HUGEINT)
                       ELSE CAST(0 AS HUGEINT) END) AS hu
            FROM votes GROUP BY doc_id)
    SELECT doc_id AS id,
           CAST(CASE WHEN hu >= 9223372036854775808
                THEN hu - 18446744073709551616 ELSE hu END AS BIGINT)
             AS simhash
    FROM sig ORDER BY id"""

  def q_text_stats(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.textStats(t(spark, dir)("documents")).presentSorted("doc_id")

  val q_text_stats_sql: String = """
    WITH t AS (SELECT doc_id, text,
                      string_split_regex(trim(text), '\s+') AS l
               FROM documents)
    SELECT doc_id,
           CAST(len(l) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars,
           CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
             / len(l) AS avg_token_len,
           CAST(len(list_filter(l,
             x -> x IN ('the','a','and','of','to'))) AS DOUBLE)/len(l)
             AS stop_ratio,
           CAST(len(list_distinct(l)) AS DOUBLE)/len(l) AS uniq_ratio,
           (CAST(len(list_distinct(l)) AS DOUBLE)/len(l)) *
             least(CAST(len(l) AS DOUBLE)/50, CAST(1 AS DOUBLE))
             AS quality_score
    FROM t ORDER BY doc_id"""

  def q_text_tokens(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenCounts(t(spark, dir)("documents"))
      .presentSorted("doc_id")

  val q_text_tokens_sql: String = """
    WITH t AS (SELECT doc_id,
                 string_split_regex(trim(text), '\s+') AS ws,
                 regexp_extract_all(text,
                   ' ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+') AS pre
               FROM documents)
    SELECT doc_id,
           CAST(len(ws) AS INT) AS n_ws_tokens,
           CAST(len(pre) AS INT) AS n_pretokens,
           CAST(COALESCE(list_sum(list_transform(pre,
             x -> (length(x) + 3) // 4)), 0) AS INT) AS n_bpeish_tokens
    FROM t ORDER BY doc_id"""

  def q_text_langid(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langId(t(spark, dir)("documents")).presentSorted("doc_id")

  val q_text_langid_sql: String = """
    WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
               FROM documents),
    s AS (SELECT doc_id,
      CAST(len(list_filter(l, x -> x IN ('the','a','and','of','to')))
        AS INT) AS en_hits,
      CAST(len(list_filter(l, x -> x IN ('der','die','das','und')))
        AS INT) AS de_hits,
      CAST(len(list_filter(l, x -> x IN ('el','los','las','y')))
        AS INT) AS es_hits,
      CAST(len(list_filter(l, x -> x IN ('le','les','et','ou')))
        AS INT) AS fr_hits
      FROM t)
    SELECT doc_id, en_hits, de_hits, es_hits, fr_hits,
           CASE WHEN greatest(en_hits, de_hits, es_hits, fr_hits) = 0
                  THEN 'und'
                WHEN en_hits >= greatest(de_hits, es_hits, fr_hits)
                  THEN 'en'
                WHEN de_hits >= greatest(es_hits, fr_hits) THEN 'de'
                WHEN es_hits >= fr_hits THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM s ORDER BY doc_id"""

  def q_text_ngrams(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.topNgrams(t(spark, dir)("documents"), n = 2, k = 20)

  val q_text_ngrams_sql: String = """
    WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS l
                  FROM documents),
    g AS (SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                   i -> l[i] || ' ' || l[i+1])) AS gram
          FROM toks WHERE len(l) >= 2)
    SELECT gram, count(*) AS cnt FROM g
    GROUP BY gram ORDER BY cnt DESC, gram LIMIT 20"""

  /** fingerprint64 — custom codegen'd expression. The oracle recomputes
    * FNV-1a from first principles in SQL (HUGEINT modular arithmetic
    * over the normalized text's bytes; the corpus is ASCII so
    * codepoints ARE the UTF-8 bytes), so the hash contract itself is
    * ground-truth-checked, not just self-consistent. */
  def q_text_fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.fingerprints(t(spark, dir)("documents")).presentSorted("doc_id")

  val q_text_fingerprint_sql: String = """
    WITH n AS (SELECT doc_id,
                      regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
               FROM documents),
    h AS (SELECT doc_id, list_reduce(
            list_prepend(CAST(14695981039346656037 AS HUGEINT),
              list_transform(range(1, length(s) + 1),
                i -> CAST(unicode(s[i]) AS HUGEINT))),
            (acc, b) -> ((acc - acc % 256 +
                          xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT)))
                         * 1099511628211) % 18446744073709551616) AS hu
          FROM n)
    SELECT doc_id,
           CAST(CASE WHEN hu >= 9223372036854775808
                THEN hu - 18446744073709551616 ELSE hu END AS BIGINT) AS fp
    FROM h ORDER BY doc_id"""

  def q_sim_topk(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir)("embeddings")
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
  }

  val q_sim_topk_sql: String = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
    scored AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
      list_dot_product(q.v, e.v) /
        (sqrt(list_dot_product(q.v, q.v)) *
         sqrt(list_dot_product(e.v, e.v))) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.vec_id)
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
      FROM scored)
    WHERE rnk <= 5 ORDER BY query_id, rnk"""

  def q_sim_pairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosinePairs(t(spark, dir)("embeddings"), threshold = 0.4)

  val q_sim_pairs_sql: String = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) *
              sqrt(list_dot_product(b.v, b.v))) AS cos_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) *
             sqrt(list_dot_product(b.v, b.v))) >= 0.4
    ORDER BY vec_a, vec_b"""

  /** LSH-bucketed ANN. Ground-truth oracle: the 16 hyperplanes are
    * interpolated below from the SAME fixed-seed generator, band
    * buckets recomputed from dot-product signs (bit-exact sequential
    * folds on both engines), candidates from bucket equality, then the
    * exact cosine ranking — the whole approximate index checked end to
    * end. SimilaritySpec additionally pins recall vs brute force. */
  def q_sim_lsh(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir)("embeddings")
    Similarity.lshTopK(e, e.filter(col("vec_id") < 10), k = 5)
  }

  val q_sim_lsh_sql: String = {
    val nPlanes = 16; val bands = 4; val rows = 4; val dim = 64
    val ps = Similarity.planes(nPlanes, dim)
    def planeArr(i: Int): String =
      ps(i).map(_.toString).mkString("[", ", ", "]")
    val buckets = (0 until bands).map { b =>
      (0 until rows).map { r =>
        val i = b * rows + r
        s"(CASE WHEN list_dot_product(v, ${planeArr(i)}) > 0 " +
          s"THEN ${1 << r} ELSE 0 END)"
      }.mkString("(", " +\n          ", s") AS k$b")
    }.mkString(",\n        ")
    val bandOr = (0 until bands).map(b => s"q.k$b = c.k$b")
      .mkString(" OR ")
    s"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (SELECT vec_id, v,
        $buckets
      FROM e),
    q AS (SELECT * FROM sig WHERE vec_id < 10),
    cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
             FROM q JOIN sig c ON c.vec_id <> q.vec_id
             WHERE $bandOr),
    scored AS (SELECT cand.query_id, cand.neighbor_id,
        list_dot_product(qe.v, ce.v) /
          (sqrt(list_dot_product(qe.v, qe.v)) *
           sqrt(list_dot_product(ce.v, ce.v))) AS cos_sim
      FROM cand JOIN e qe ON qe.vec_id = cand.query_id
                JOIN e ce ON ce.vec_id = cand.neighbor_id)
    SELECT query_id, neighbor_id, cos_sim, rnk FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rnk
      FROM scored)
    WHERE rnk <= 5 ORDER BY query_id, rnk"""
  }

  /** Embedding-cosine near-dup corpus dedup, on the LSH-BLOCKED scale
    * path (the one a 100 TB corpus runs). The oracle recomputes the
    * same pipeline exactly: hyperplane band buckets from the same
    * generator constants, candidate pairs by bucket equality, exact
    * cosine verification, recursive-CTE closure — deterministic on both
    * engines, so even the approximate index hash-matches. */
  def q_dedup_embedding(spark: SparkSession, dir: String): DataFrame =
    Similarity.dedupEmbeddings(t(spark, dir)("embeddings"),
        threshold = 0.4)
      .select(col("vec_id")).presentSorted("vec_id")

  val q_dedup_embedding_sql: String = {
    val nPlanes = 24; val bands = 4; val rows = 6; val dim = 64
    val ps = Similarity.planes(nPlanes, dim)
    def planeArr(i: Int): String =
      ps(i).map(_.toString).mkString("[", ", ", "]")
    val buckets = (0 until bands).map { b =>
      (0 until rows).map { r =>
        val i = b * rows + r
        s"(CASE WHEN list_dot_product(v, ${planeArr(i)}) > 0 " +
          s"THEN ${1 << r} ELSE 0 END)"
      }.mkString("(", " +\n          ", s") AS k$b")
    }.mkString(",\n        ")
    val bandOr = (0 until bands).map(b => s"a.k$b = b.k$b").mkString(" OR ")
    s"""
    WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                         FROM embeddings),
    sig AS (SELECT vec_id, v,
        $buckets
      FROM e),
    cand AS (SELECT DISTINCT a.vec_id AS u, b.vec_id AS w
             FROM sig a JOIN sig b ON a.vec_id < b.vec_id
             WHERE $bandOr),
    pairs AS (SELECT u, w
              FROM cand JOIN e ea ON ea.vec_id = u
                        JOIN e eb ON eb.vec_id = w
              WHERE list_dot_product(ea.v, eb.v) /
                    (sqrt(list_dot_product(ea.v, ea.v)) *
                     sqrt(list_dot_product(eb.v, eb.v))) >= 0.4),
    edges AS (SELECT u, w FROM pairs UNION SELECT w, u FROM pairs),
    reach(node, label) AS (
      SELECT u, u FROM edges
      UNION
      SELECT ed.w, r.label FROM reach r JOIN edges ed ON ed.u = r.node),
    labels AS (SELECT node, min(label) AS label FROM reach GROUP BY node)
    SELECT vec_id FROM embeddings
    WHERE vec_id NOT IN (SELECT node FROM labels WHERE node <> label)
    ORDER BY vec_id"""
  }

  /** Decontamination sweep: corpus docs sharing 5-grams with a
    * held-out "eval" slice (doc_id < 20 stands in for a benchmark
    * set). */
  def q_decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir)("documents")
    Dedup.contamination(d.filter(col("doc_id") >= 20),
        d.filter(col("doc_id") < 20), n = 5, minShared = 2)
      .presentSorted("doc_id", "eval_id")
  }

  val q_decontaminate_sql: String = """
    WITH toks AS (SELECT doc_id,
                         string_split_regex(trim(text), '\s+') AS l
                  FROM documents),
    sh AS (SELECT doc_id,
                  unnest(list_distinct(list_transform(
                    generate_series(1, len(l) - 4),
                    i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2] || ' ' ||
                         l[i+3] || ' ' || l[i+4]))) AS s
           FROM toks WHERE len(l) >= 5)
    SELECT c.doc_id, e.doc_id AS eval_id, count(*) AS shared
    FROM sh c JOIN sh e ON c.s = e.s
    WHERE c.doc_id >= 20 AND e.doc_id < 20
    GROUP BY 1, 2 HAVING count(*) >= 2
    ORDER BY c.doc_id, eval_id"""

  /** Characteristic terms per document (tf-idf with rational idf —
    * log-free so both engines produce bit-identical doubles). */
  def q_text_tfidf(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(t(spark, dir)("documents"), k = 3)
      .presentSorted("doc_id", "rnk")

  val q_text_tfidf_sql: String = """
    WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(text),
                    '\s+')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
    s AS (SELECT tf.doc_id, tf.term,
            CAST(tf.tf AS DOUBLE) * (CAST(n.n AS DOUBLE) / df.df) AS score
          FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                         ORDER BY score DESC, term) AS INT) AS rnk
          FROM s)
    SELECT doc_id, term, score, rnk FROM r WHERE rnk <= 3
    ORDER BY doc_id, rnk"""

  /** IVF (k-means inverted-file) ANN — the trained-quantizer scale
    * path. The raw top-k is approximate by construction, so instead of
    * the neighbor lists the query emits per-query EXACT-CHECKABLE
    * invariants: the result count equals k, and recall@5 against the
    * brute-force top-5 (itself plain SQL — the q_sim_topk oracle
    * computes the identical set) clears a floor the index must meet.
    * The oracle states the same invariants as constants, so a hash
    * match certifies the ANN contract, not a float accident. */
  def q_sim_ivf(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir)("embeddings")
    val q = e.filter(col("vec_id") < 10)
    // nprobe=8 of 16 lists: measured recall@5 is 78-84% at sf0.001-0.1
    // and 74-88% on tools/gen_scaling_data.py's sf0.5/sf1 (per-query min
    // 2/5 hits); training is deterministic, and the gates below sit well
    // under those floors to certify the ANN contract, not one corpus
    val ivf = Similarity.ivfTopK(e, q, k = 5, nprobe = 8)
      .select(col("query_id"), col("neighbor_id"))
    val brute = Similarity.bruteForceTopK(e, q, k = 5)
      .select(col("query_id"), col("neighbor_id").as("exact_id"))
    val hits = ivf.join(brute,
        ivf("query_id") === brute("query_id") &&
          col("neighbor_id") === col("exact_id"), "left")
      .groupBy(ivf("query_id"))
      .agg(count(lit(1)).as("n_results"),
        count(col("exact_id")).as("hits"))
    // the corpus-wide sum: one one-row aggregate carrying the per-query
    // rows (a one-partition window warns per run; a join back adds a job)
    hits.agg(collect_list(struct("query_id", "n_results", "hits")).as("q"),
        sum("hits").as("total_hits"))
      .select(inline(col("q")), col("total_hits"))
      .select(col("query_id"),
        (col("n_results") === 5).as("k_complete"),
        (col("hits") >= 1).as("recall_ok"),
        (col("total_hits") >= 30).as("corpus_recall_ok"))
      .presentSorted("query_id")
  }

  val q_sim_ivf_sql: String = """
    SELECT vec_id AS query_id, TRUE AS k_complete, TRUE AS recall_ok,
           TRUE AS corpus_recall_ok
    FROM embeddings WHERE vec_id < 10 ORDER BY query_id"""

  /** context_ngrams: top fillers after 'the' (Hive
    * GenericUDAFContextNGrams re-expression). */
  def q_text_context_ngrams(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.contextNgrams(t(spark, dir)("documents"),
      Seq(Some("the"), None), k = 10)

  val q_text_context_ngrams_sql: String = """
    WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS l
                  FROM documents),
    w AS (SELECT unnest(list_transform(
            list_filter(generate_series(1, len(l) - 1), i -> l[i] = 'the'),
            i -> l[i+1])) AS gram
          FROM toks WHERE len(l) >= 2)
    SELECT gram, count(*) AS cnt FROM w
    GROUP BY gram ORDER BY cnt DESC, gram LIMIT 10"""

  /** MatchPath PTF: click-streak-then-purchase funnels per user.
    * Oracle: gaps-and-islands SQL — for pattern c+p the greedy
    * non-overlapping regex matches are exactly "each maximal click run
    * immediately followed by a purchase", so the SQL ground truth is
    * exact. MatchPathSpec additionally pins the general regex engine on
    * planted sequences. */
  def q_matchpath(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir)("events")
    graft.operators.MatchPath.matchPath(e,
      partitionCols = Seq("user_id"),
      orderCols = Seq("ts", "event_id"),
      symbols = Seq('c' -> (col("event_type") === "click"),
        'p' -> (col("event_type") === "purchase")),
      pattern = "c+p",
      keep = Seq("user_id", "event_id", "event_type"))
      .presentSorted("user_id", "match_id", "match_pos")
  }

  val q_matchpath_sql: String = """
    WITH e AS (SELECT user_id, event_id, event_type,
                      make_timestamp(epoch_ns(ts) // 1000) AS tsx,
                      CASE WHEN event_type = 'click' THEN 'c'
                           WHEN event_type = 'purchase' THEN 'p'
                           ELSE '.' END AS sym
               FROM events),
    o AS (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY tsx, event_id) AS rn
          FROM e),
    runs AS (SELECT *, CASE WHEN sym = 'c' AND
                 coalesce(lag(sym) OVER (PARTITION BY user_id
                                         ORDER BY rn), 'x') <> 'c'
               THEN 1 ELSE 0 END AS run_start FROM o),
    grp AS (SELECT *, sum(run_start) OVER (PARTITION BY user_id
                                           ORDER BY rn) AS run_id
            FROM runs),
    cruns AS (SELECT user_id, run_id, min(rn) AS c_start, max(rn) AS c_end
              FROM grp WHERE sym = 'c' GROUP BY user_id, run_id),
    matches AS (SELECT p.user_id, c.c_start, p.rn AS p_rn
                FROM grp p JOIN cruns c
                  ON p.user_id = c.user_id AND p.rn = c.c_end + 1
                WHERE p.sym = 'p'),
    numbered AS (SELECT *, CAST(row_number() OVER (PARTITION BY user_id
                   ORDER BY c_start) - 1 AS INT) AS match_id
                 FROM matches)
    SELECT g.user_id, g.event_id, g.event_type, n.match_id,
           CAST(g.rn - n.c_start AS INT) AS match_pos
    FROM numbered n JOIN grp g
      ON g.user_id = n.user_id AND g.rn BETWEEN n.c_start AND n.p_rn
    ORDER BY g.user_id, n.match_id, match_pos"""

  /** As-of join: purchases pick up the latest prior click per user.
    * Clicks are deduped to one per (user, ts) first — at equal
    * timestamps "the" as-of match is otherwise arbitrary in ANY engine,
    * and determinism is what lets this hash-match DuckDB's native
    * ASOF JOIN. */
  def q_asof(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir)("events")
    val clicks = e.filter(col("event_type") === "click")
      .groupBy("user_id", "ts")
      .agg(max(col("event_id")).as("click_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select("user_id", "ts", "event_id", "value")
    graft.operators.AsOfJoin.asof(purchases, clicks, "user_id", "ts",
        payload = Seq("click_id"))
      .select(col("user_id"), col("event_id"), col("asof_click_id"))
      .presentSorted("user_id", "event_id")
  }

  val q_asof_sql: String = """
    WITH e AS (SELECT user_id, event_id, event_type,
                      make_timestamp(epoch_ns(ts) // 1000) AS tsx
               FROM events),
    c AS (SELECT user_id, tsx, max(event_id) AS click_id FROM e
          WHERE event_type = 'click' GROUP BY user_id, tsx),
    p AS (SELECT user_id, event_id, tsx FROM e
          WHERE event_type = 'purchase')
    SELECT p.user_id, p.event_id, c.click_id AS asof_click_id
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.tsx >= c.tsx
    ORDER BY p.user_id, p.event_id"""

  def q_multimodal(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.mediaTable(t(spark, dir)("documents"))).presentSorted("doc_id")

  /** The decode step is a stub, but it is a DETERMINISTIC stub — so the
    * whole mapPartitions plumbing (schema, batching, per-byte feature
    * math) is ground-truth checked by recomputing the same byte
    * statistics in SQL (ASCII corpus: codepoints are the bytes;
    * wrapping 64-bit checksum via HUGEINT modular fold). */
  val q_multimodal_sql: String = """
    WITH b AS (SELECT doc_id, length(text) AS n,
                      list_transform(range(1, length(text) + 1),
                        i -> unicode(text[i])) AS bs
               FROM documents),
    agg AS (SELECT doc_id, n,
      list_reduce(list_prepend(CAST(17 AS HUGEINT),
          list_transform(bs, x -> CAST(x AS HUGEINT))),
        (h, x) -> (h * 31 + x) % 18446744073709551616) AS cs,
      list_sum(bs) AS sb,
      len(list_filter(bs, x -> x % 4 = 0)) AS h0,
      len(list_filter(bs, x -> x % 4 = 1)) AS h1,
      len(list_filter(bs, x -> x % 4 = 2)) AS h2,
      len(list_filter(bs, x -> x % 4 = 3)) AS h3
      FROM b)
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE WHEN cs >= 9223372036854775808
                THEN cs - 18446744073709551616 ELSE cs END AS BIGINT)
             AS checksum,
           CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(sb AS DOUBLE) / n END AS mean_byte,
           CAST(h0 AS DOUBLE) AS f0, CAST(h1 AS DOUBLE) AS f1,
           CAST(h2 AS DOUBLE) AS f2, CAST(h3 AS DOUBLE) AS f3
    FROM agg ORDER BY doc_id"""

  /** Resize plumbing end-to-end: stride-subsample stub scaler, then the
    * same deterministic byte statistics as q_multimodal — the oracle
    * recomputes the subsampled byte list and its folds in SQL, so the
    * whole binary-in/binary-out mapPartitions tier is hash-checked. */
  def q_multimodal_resize(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
        Multimodal.resize(
          Multimodal.mediaTable(t(spark, dir)("documents")), targetBytes = 64))
      .presentSorted("doc_id")

  val q_multimodal_resize_sql: String = """
    WITH b0 AS (SELECT doc_id, length(text) AS n0,
                       list_transform(range(1, length(text) + 1),
                         i -> unicode(text[i])) AS bs0
                FROM documents),
    rs AS (SELECT doc_id,
             CASE WHEN n0 <= 64 THEN bs0
                  ELSE list_transform(range(0, 64),
                    i -> bs0[CAST(floor(i * (n0 / 64.0)) AS INT) + 1]) END
               AS bs
           FROM b0),
    agg AS (SELECT doc_id, len(bs) AS n,
      list_reduce(list_prepend(CAST(17 AS HUGEINT),
          list_transform(bs, x -> CAST(x AS HUGEINT))),
        (h, x) -> (h * 31 + x) % 18446744073709551616) AS cs,
      list_sum(bs) AS sb,
      len(list_filter(bs, x -> x % 4 = 0)) AS h0,
      len(list_filter(bs, x -> x % 4 = 1)) AS h1,
      len(list_filter(bs, x -> x % 4 = 2)) AS h2,
      len(list_filter(bs, x -> x % 4 = 3)) AS h3
      FROM rs)
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE WHEN cs >= 9223372036854775808
                THEN cs - 18446744073709551616 ELSE cs END AS BIGINT)
             AS checksum,
           CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(sb AS DOUBLE) / n END AS mean_byte,
           CAST(h0 AS DOUBLE) AS f0, CAST(h1 AS DOUBLE) AS f1,
           CAST(h2 AS DOUBLE) AS f2, CAST(h3 AS DOUBLE) AS f3
    FROM agg ORDER BY doc_id"""

  /** REAL audio decode, oracle-checked end-to-end: each document's
    * bytes are wrapped as a genuine 8-bit unsigned mono 8 kHz WAV
    * (Multimodal.audioTable), decoded through javax.sound.sampled —
    * header parse, PCM read, per-sample math — and the oracle
    * re-derives every output arithmetically from the same bytes:
    * f0 = 8000 (rate), f1 = 1 (channels), f2 = n/8000 (duration s),
    * f3 = mean_byte = RMS of (b-128)/128, checksum = the signed
    * sample fold h*31+s mod 2^64. */
  def q_multimodal_audio(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(
      Multimodal.audioTable(t(spark, dir)("documents")))
      .presentSorted("doc_id")

  val q_multimodal_audio_sql: String = """
    WITH b AS (SELECT doc_id, length(text) AS n,
                      list_transform(range(1, length(text) + 1),
                        i -> unicode(text[i]) - 128) AS ss
               FROM documents),
    agg AS (SELECT doc_id, n,
      list_reduce(list_prepend(CAST(17 AS HUGEINT),
          list_transform(ss, x -> CAST(x AS HUGEINT))),
        (h, x) -> (((h * 31 + x) % 18446744073709551616)
                   + 18446744073709551616) % 18446744073709551616)
        AS cs,
      list_sum(list_transform(ss, x -> x * x)) AS ssq
      FROM b)
    SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE WHEN cs >= 9223372036854775808
                THEN cs - 18446744073709551616 ELSE cs END AS BIGINT)
             AS checksum,
           CAST(sqrt(ssq / (n * 16384.0)) AS DOUBLE) AS mean_byte,
           CAST(8000 AS DOUBLE) AS f0, CAST(1 AS DOUBLE) AS f1,
           CAST(n / 8000.0 AS DOUBLE) AS f2,
           CAST(sqrt(ssq / (n * 16384.0)) AS DOUBLE) AS f3
    FROM agg ORDER BY doc_id"""

  /** Frame-sample plumbing: one payload -> 4 contiguous byte-range
    * "frames", one row each, digested per frame under a composite
    * frame_id = doc_id * 4 + frame_no; the oracle slices the same
    * ranges in SQL (every testdata doc is >= 4 bytes, so the frame
    * count is always 4 on both sides). */
  def q_multimodal_frames(spark: SparkSession, dir: String): DataFrame = {
    val frames = Multimodal.sampleFrames(
      Multimodal.mediaTable(t(spark, dir)("documents")), nFrames = 4)
    Multimodal.extractFeatures(
        frames.select((col("doc_id") * 4 + col("frame_no")).as("doc_id"),
          col("media"), col("format"), col("n_bytes")))
      .withColumnRenamed("doc_id", "frame_id")
      .presentSorted("frame_id")
  }

  val q_multimodal_frames_sql: String = """
    WITH b0 AS (SELECT doc_id, length(text) AS n0,
                       list_transform(range(1, length(text) + 1),
                         i -> unicode(text[i])) AS bs0
                FROM documents),
    fr AS (SELECT doc_id, f,
             bs0[(n0 * f) // 4 + 1 : (n0 * (f + 1)) // 4] AS bs
           FROM b0 CROSS JOIN (SELECT unnest(range(0, 4)) AS f) fs),
    agg AS (SELECT doc_id, f, len(bs) AS n,
      list_reduce(list_prepend(CAST(17 AS HUGEINT),
          list_transform(bs, x -> CAST(x AS HUGEINT))),
        (h, x) -> (h * 31 + x) % 18446744073709551616) AS cs,
      list_sum(bs) AS sb,
      len(list_filter(bs, x -> x % 4 = 0)) AS h0,
      len(list_filter(bs, x -> x % 4 = 1)) AS h1,
      len(list_filter(bs, x -> x % 4 = 2)) AS h2,
      len(list_filter(bs, x -> x % 4 = 3)) AS h3
      FROM fr)
    SELECT doc_id * 4 + f AS frame_id, CAST(n AS BIGINT) AS n_bytes,
           CAST(CASE WHEN cs >= 9223372036854775808
                THEN cs - 18446744073709551616 ELSE cs END AS BIGINT)
             AS checksum,
           CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(sb AS DOUBLE) / n END AS mean_byte,
           CAST(h0 AS DOUBLE) AS f0, CAST(h1 AS DOUBLE) AS f1,
           CAST(h2 AS DOUBLE) AS f2, CAST(h3 AS DOUBLE) AS f3
    FROM agg ORDER BY frame_id"""

  /** Bloom-prefiltered exact dedup: build a bloom filter over the
    * duplicate content hashes (tiny side), probe every document against
    * it BEFORE the exact semijoin — the Hive semijoin-reduction pattern
    * (bloom_filter/in_bloom_filter, FunctionRegistry.java:446,377). At
    * 100 TB only bloom-passing docs (true dups + ~1% false positives)
    * enter the shuffle; the exact semijoin then removes false positives,
    * so the result is EXACTLY the un-prefiltered semijoin — which is
    * what the oracle checks. */
  def q_dedup_bloom(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir) // registers temp views + functions
    spark.sql("""
      WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
      d AS (SELECT content_hash FROM h
            GROUP BY content_hash HAVING count(*) > 1)
      SELECT doc_id, content_hash FROM h
      WHERE in_bloom_filter(xxhash64(content_hash),
              (SELECT bloom_filter(xxhash64(content_hash), 100000) FROM d))
        AND content_hash IN (SELECT content_hash FROM d)
      ORDER BY doc_id""")
  }

  val q_dedup_bloom_sql: String = """
    WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
    d AS (SELECT content_hash FROM h
          GROUP BY content_hash HAVING count(*) > 1)
    SELECT doc_id, content_hash FROM h
    WHERE content_hash IN (SELECT content_hash FROM d)
    ORDER BY doc_id"""

  /** Sketch aggregates (HLL / approx_percentile): approximate by
    * design, so the query emits the sketches' ERROR CONTRACTS as
    * exact-checkable columns instead of the raw approximations: the
    * exact distinct counts (plain SQL), a boolean per HLL that its
    * estimate sits within the advertised relative error, and a boolean
    * per percentile that the returned value's rank is within the
    * accuracy bound. The oracle computes the same exact counts and
    * states the booleans as constants — a hash match certifies the
    * sketch guarantees, which is the testable part of an approximate
    * aggregate. HLL default rsd = 5% (one sigma), so the gate is 3x
    * sigma; approx_percentile default accuracy 10000 → rank error 1e-4,
    * gated at a generous 1%. */
  def q_agg_approx(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir)("lineitem")
    val approx = li.groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("acd_part"),
        approx_count_distinct(col("l_suppkey")).as("acd_supp"),
        expr("approx_percentile(l_quantity, 0.5)").as("ap50"),
        expr("approx_percentile(l_extendedprice, array(0.25, 0.75))")
          .as("ap_price"))
      .select(col("l_returnflag"), col("acd_part"), col("acd_supp"),
        col("ap50"), element_at(col("ap_price"), 1).as("ap25"),
        element_at(col("ap_price"), 2).as("ap75"))
    val exact = li.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_part"),
        countDistinct(col("l_suppkey")).as("exact_supp"))
    // rank-bound check: the fraction of rows <= the returned percentile
    // must bracket the target within eps (sound for duplicate-heavy
    // columns: count(<=v)/n >= p-eps and count(<v)/n <= p+eps)
    val j = approx.join(exact, "l_returnflag")
    val withRanks = li
      .join(j.select(col("l_returnflag").as("rf"), col("ap50"),
        col("ap25"), col("ap75")), col("l_returnflag") === col("rf"))
      .groupBy(col("l_returnflag"))
      .agg(
        (sum(when(col("l_quantity") <= col("ap50"), 1L).otherwise(0L)) /
          count(lit(1))).as("f50_le"),
        (sum(when(col("l_quantity") < col("ap50"), 1L).otherwise(0L)) /
          count(lit(1))).as("f50_lt"),
        (sum(when(col("l_extendedprice") <= col("ap25"), 1L)
          .otherwise(0L)) / count(lit(1))).as("f25_le"),
        (sum(when(col("l_extendedprice") < col("ap25"), 1L)
          .otherwise(0L)) / count(lit(1))).as("f25_lt"),
        (sum(when(col("l_extendedprice") <= col("ap75"), 1L)
          .otherwise(0L)) / count(lit(1))).as("f75_le"),
        (sum(when(col("l_extendedprice") < col("ap75"), 1L)
          .otherwise(0L)) / count(lit(1))).as("f75_lt"))
    val eps = 0.01
    j.join(withRanks, "l_returnflag")
      .select(col("l_returnflag"), col("exact_part"), col("exact_supp"),
        (abs(col("acd_part") - col("exact_part")) <=
          col("exact_part") * 0.15).as("acd_part_ok"),
        (abs(col("acd_supp") - col("exact_supp")) <=
          col("exact_supp") * 0.15).as("acd_supp_ok"),
        (col("f50_le") >= 0.5 - eps && col("f50_lt") <= 0.5 + eps)
          .as("ap50_ok"),
        (col("f25_le") >= 0.25 - eps && col("f25_lt") <= 0.25 + eps)
          .as("ap25_ok"),
        (col("f75_le") >= 0.75 - eps && col("f75_lt") <= 0.75 + eps)
          .as("ap75_ok"))
      .presentSorted("l_returnflag")
  }

  val q_agg_approx_sql: String = """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_part,
           count(DISTINCT l_suppkey) AS exact_supp,
           TRUE AS acd_part_ok, TRUE AS acd_supp_ok,
           TRUE AS ap50_ok, TRUE AS ap25_ok, TRUE AS ap75_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact" -> (q_dedup_exact _),
    "q_dedup_norm" -> (q_dedup_norm _),
    "q_dedup_incremental" -> (q_dedup_incremental _),
    "q_dedup_jaccard" -> (q_dedup_jaccard _),
    "q_dedup_minhash" -> (q_dedup_minhash _),
    "q_dedup_corpus" -> (q_dedup_corpus _),
    "q_dedup_bloom" -> (q_dedup_bloom _),
    "q_dedup_embedding" -> (q_dedup_embedding _),
    "q_dedup_simhash" -> (q_dedup_simhash _),
    "q_text_stats" -> (q_text_stats _),
    "q_text_tokens" -> (q_text_tokens _),
    "q_text_langid" -> (q_text_langid _),
    "q_text_ngrams" -> (q_text_ngrams _),
    "q_text_context_ngrams" -> (q_text_context_ngrams _),
    "q_matchpath" -> (q_matchpath _),
    "q_asof" -> (q_asof _),
    "q_text_fingerprint" -> (q_text_fingerprint _),
    "q_sim_topk" -> (q_sim_topk _),
    "q_sim_pairs" -> (q_sim_pairs _),
    "q_sim_lsh" -> (q_sim_lsh _),
    "q_sim_ivf" -> (q_sim_ivf _),
    "q_text_tfidf" -> (q_text_tfidf _),
    "q_decontaminate" -> (q_decontaminate _),
    "q_multimodal_resize" -> (q_multimodal_resize _),
    "q_multimodal_frames" -> (q_multimodal_frames _),
    "q_multimodal_audio" -> (q_multimodal_audio _),
    "q_multimodal" -> (q_multimodal _),
    "q_agg_approx" -> (q_agg_approx _))

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" -> q_dedup_exact_sql,
    "q_dedup_norm" -> q_dedup_norm_sql,
    "q_dedup_incremental" -> q_dedup_incremental_sql,
    "q_dedup_jaccard" -> q_dedup_jaccard_sql,
    "q_dedup_bloom" -> q_dedup_bloom_sql,
    "q_dedup_corpus" -> q_dedup_corpus_sql,
    "q_dedup_embedding" -> q_dedup_embedding_sql,
    "q_asof" -> q_asof_sql,
    "q_matchpath" -> q_matchpath_sql,
    "q_text_fingerprint" -> q_text_fingerprint_sql,
    "q_dedup_simhash" -> q_dedup_simhash_sql,
    "q_dedup_minhash" -> q_dedup_minhash_sql,
    "q_sim_lsh" -> q_sim_lsh_sql,
    "q_multimodal" -> q_multimodal_sql,
    "q_text_stats" -> q_text_stats_sql,
    "q_text_tokens" -> q_text_tokens_sql,
    "q_text_langid" -> q_text_langid_sql,
    "q_text_ngrams" -> q_text_ngrams_sql,
    "q_text_context_ngrams" -> q_text_context_ngrams_sql,
    "q_sim_topk" -> q_sim_topk_sql,
    "q_sim_pairs" -> q_sim_pairs_sql,
    "q_text_tfidf" -> q_text_tfidf_sql,
    "q_decontaminate" -> q_decontaminate_sql,
    "q_multimodal_resize" -> q_multimodal_resize_sql,
    "q_multimodal_frames" -> q_multimodal_frames_sql,
    "q_multimodal_audio" -> q_multimodal_audio_sql,
    "q_sim_ivf" -> q_sim_ivf_sql,
    "q_agg_approx" -> q_agg_approx_sql)
}
