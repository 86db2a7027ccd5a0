package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB corpus pipelines (north-star
  * extras, BASELINE.json): exact, normalized-exact, exact n-gram Jaccard,
  * MinHash+LSH, and SimHash.
  *
  * Scale design: every variant is a constant number of shuffles over
  * keys much smaller than documents (hashes, shingles, band buckets) —
  * no driver-side collection, no O(n²) pair enumeration. Candidate-pair
  * generation goes through inverted-index joins (shared shingle / shared
  * LSH bucket) so the quadratic blowup is bounded per key; `maxShingleFreq`
  * drops degenerate stop-shingles the way prefix-filtering systems do.
  */
object Dedup {

  /** Default sanity bound for the exact (uncapped) Jaccard path: a
    * shingle whose postings list exceeds this produces O(df²) pairs AND
    * a single aggregation buffer holding the whole list — the exact
    * path fails loudly at this bound rather than OOM. Overridable per
    * call via `maxExactPostings`. */
  val DefaultMaxExactPostings: Int = 1 << 16

  /** Whitespace-normalize + lowercase. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact duplicate groups by content hash: one shuffle on md5(text),
    * map-side partial agg. Output: smallest doc id kept per group +
    * multiplicity. Unsorted — output is corpus-cardinality (one row per
    * distinct content), so any presentation ordering belongs in the
    * query layer, never inside the reusable operator. */
  def exactGroups(docs: DataFrame, textCol: String = "text",
                  idCol: String = "doc_id",
                  normalized: Boolean = false): DataFrame = {
    val key = if (normalized) md5(normalize(col(textCol)))
              else md5(col(textCol))
    docs.groupBy(key.as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
  }

  /** Incremental exact dedup for a continuous-ingest pipeline: keep
    * each NEW document whose content hash is neither in the persisted
    * fingerprint ledger of prior ingests (`seen`, one hash column) nor
    * claimed by an earlier document in the same batch. Output: one row
    * per surviving content (`content_hash`, smallest `keep_id`, batch
    * multiplicity `n_batch`).
    *
    * Scale: the ledger holds hashes, not documents — orders of
    * magnitude smaller than the corpus — and the left-anti join + the
    * in-batch group shuffle ONLY hashes. When the ledger is still
    * small enough to sketch, prefilter with the engine's
    * `bloom_filter`/`in_bloom_filter` aggregates before this call so
    * clean batches skip the ledger join entirely; hash keys are
    * uniform so neither shuffle can skew. */
  def incrementalExact(newDocs: DataFrame, seen: DataFrame,
                       textCol: String = "text", idCol: String = "doc_id",
                       seenHashCol: String = "content_hash",
                       normalized: Boolean = false): DataFrame = {
    val key = if (normalized) md5(normalize(col(textCol)))
              else md5(col(textCol))
    newDocs.select(key.as("content_hash"), col(idCol))
      .join(seen.select(col(seenHashCol).as("content_hash")).distinct(),
        Seq("content_hash"), "left_anti")
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_batch"))
  }

  /** Distinct word n-gram shingles per document: (id, shingle). */
  def shingles(docs: DataFrame, n: Int = 3, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame =
    shinglesWithSize(docs, n, textCol, idCol).select("id", "shingle")

  /** Shingles carrying the document's distinct-shingle count computed at
    * explode time: (id, shingle, sz). Carrying sz on each exploded row
    * costs one long and removes the two sizes-aggregation joins from the
    * Jaccard pipeline — and lets the size-ratio prune run BEFORE the
    * pair groupBy. */
  def shinglesWithSize(docs: DataFrame, n: Int = 3, textCol: String = "text",
                       idCol: String = "doc_id"): DataFrame = {
    // codegen'd native shingle build (graft.functions.WordShingles);
    // identical output to the interpreted HOF chain it replaced
    def grams: Column = {
      import org.apache.spark.sql.GraftSqlShim
      GraftSqlShim.column(graft.functions.WordShingles(
        GraftSqlShim.expression(col("tks")), n))
    }
    // plan-shape note: the generator child must stay the INLINE gram
    // expression. Aliasing the array into a column first looks cleaner
    // but makes Catalyst (a) infer a size(g)>0 filter from the Generate
    // and push it to the scan with the whole HOF expression inlined —
    // computing shingles twice more per doc outside codegen — and (b)
    // carry the array through the generate. sz as a sibling projection
    // costs one extra per-DOC gram build; the explode itself stays the
    // only per-shingle work.
    // conditional spread BEFORE tokenization: the regex split + gram
    // build + explode is the corpus-scan hot loop, and an unsplittable
    // local input would otherwise run it all on one task (guide §2.5)
    graft.Engine.spread(docs, col(idCol))
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("tks"))
      .filter(size(col("tks")) >= n)
      .select(col("id"), size(grams).cast("long").as("sz"), col("tks"))
      .select(col("id"), col("sz"), explode(grams).as("shingle"))
      .select("id", "shingle", "sz")
  }

  /** Exact n-gram Jaccard near-duplicate pairs via inverted-index join:
    * explode shingles -> self-join on shingle (only docs sharing one
    * meet) -> intersection counts -> |A|+|B|-∩ union. Jaccard is an
    * exact integer ratio — bit-identical at any parallelism.
    *
    * @param maxShingleFreq drop shingles appearing in more docs than
    *   this (stop-shingle cap bounding join fanout at corpus scale);
    *   None = exact result.
    */
  /** @param postingsWidth explicit partition count for the postings
    *   exchange. The stage ABOVE that exchange emits O(df²) pair rows
    *   per postings list — CPU super-linear in its input bytes — which
    *   AQE's byte-based partition coalescing cannot see: left implicit
    *   (None), AQE folded a 6 MB postings stream to 5 partitions (1
    *   for a post-LSH verification subset) and the pair explode ran
    *   near-serial (measured 1.05 s / 0.73 s at sf0.1). Standalone
    *   corpus-scale callers pass the session's shuffle-partition knob;
    *   None (the default) keeps AQE coalescing for pipelines whose
    *   pair stage is provably tiny (post-dedup chains), where extra
    *   task launches cost more than the parallelism wins — both
    *   choices measured, see CHANGES.md. */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                   maxShingleFreq: Option[Int] = None,
                   textCol: String = "text",
                   idCol: String = "doc_id",
                   maxExactPostings: Int = DefaultMaxExactPostings,
                   postingsWidth: Option[Int] = None)
      : DataFrame = maxShingleFreq match {
    // Both paths build the inverted index as ONE groupBy(shingle)
    // instead of a self-join: the tokenize+shingle pipeline runs once
    // (a self-join computes each side from scratch), the shingle stream
    // shuffles once instead of twice, df=1 shingles (the long-tail
    // majority of a real corpus) never reach pair generation, and the
    // shingle strings are dropped at the group boundary so only id/size
    // longs flow on.
    case None =>
      // exact path: per-doc sizes are known at explode time, so they
      // ride inside the postings structs and the size-ratio prefilter
      // runs BEFORE the pair groupBy: since ni <= min(sa, sb),
      // jaccard <= min/max — pairs whose sizes alone cap jaccard below
      // the threshold never enter the shuffle-heavy co-occurrence
      // count. Exact: it only removes pairs that cannot pass the final
      // filter.
      // The exact path materializes each shingle's postings in one agg
      // buffer — fine for bounded-df corpora (every df counts toward the
      // O(df²) pair output anyway), hopeless for a degenerate hot
      // shingle. Fail loudly at the sanity bound instead of OOMing the
      // buffer; corpora with hot shingles take the capped path.
      // repartition by shingle BEFORE the groupBy: partial collect_list
      // does not reduce data (lists only concatenate), so map-side
      // partials just fragment each shingle's postings across mappers
      // and the final agg pays a per-fragment merge. Shuffling the raw
      // (id, shingle, sz) stream once and building each postings list
      // COMPLETE in a single pass is strictly less work at any scale —
      // the exchange carries the same rows either way. (Measured at
      // sf0.1 with a 32-task map side: 18.9 MB fragmented partials +
      // 1.5 s merge -> complete lists built where they're consumed.)
      val sh = shinglesWithSize(docs, n, textCol, idCol)
      val grouped = (postingsWidth match {
          case Some(w) => sh.repartition(w, col("shingle"))
          case None => sh.repartition(col("shingle"))
        })
        .groupBy("shingle")
        .agg(collect_list(struct(col("id"), col("sz"))).as("ds"))
        .filter(size(col("ds")) >= 2)
        // assert_true yields NULL whenever it passes, so isNull keeps
        // every surviving row; a bare `… || lit(true)` would be
        // constant-folded away along with the assertion
        .filter(assert_true(size(col("ds")) <= maxExactPostings,
          concat(lit("jaccard exact path: a shingle occurs in "),
            size(col("ds")),
            lit(s" docs (> $maxExactPostings); use maxShingleFreq"))).isNull)
        .select("ds")
      grouped
        .select(col("ds"), explode(col("ds")).as("a"))
        .select(col("a"), explode(col("ds")).as("b"))
        .filter(col("a.id") < col("b.id") &&
          least(col("a.sz"), col("b.sz")) >=
            lit(threshold) * greatest(col("a.sz"), col("b.sz")))
        .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"),
          col("a.sz").as("sa"), col("b.sz").as("sb"))
        .agg(count(lit(1)).as("ni"))
        .select(col("doc_a"), col("doc_b"),
          (col("ni").cast("double") / (col("sa") + col("sb") - col("ni")))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
    case Some(cap) =>
      // stop-shingle cap: a shingle shared by f docs contributes O(f²)
      // co-occurrence rows; dropping degenerate high-df shingles bounds
      // the fanout per key. The cap is applied AT the postings groupBy
      // (no separate hot-list aggregation or anti-join pass), and
      // per-doc sizes are recomputed from the surviving postings — an
      // id-only shuffle — so Jaccard stays a true ratio of the filtered
      // shingle space (identical docs still score 1.0 under any cap).
      // raw-row repartition before the postings groupBy — same
      // fragmentation argument (and same optional explicit width) as
      // the exact path above
      val shs = shingles(docs, n, textCol, idCol)
      val groups = (postingsWidth match {
          case Some(w) => shs.repartition(w, col("shingle"))
          case None => shs.repartition(col("shingle"))
        })
        .groupBy("shingle").agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")) <= cap)
        .select("ids")
        .localCheckpoint(eager = false) // feeds sizes AND pair-gen once
      val sizes = groups.select(explode(col("ids")).as("id"))
        .groupBy("id").agg(count(lit(1)).as("sz"))
      val inter = groups.filter(size(col("ids")) >= 2)
        .select(col("ids"), explode(col("ids")).as("a"))
        .select(col("a"), explode(col("ids")).as("b"))
        .filter(col("a") < col("b"))
        .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
        .agg(count(lit(1)).as("ni"))
      // sizes re-attach on the post-aggregation pair stream (tiny
      // relative to co-occurrences)
      inter
        .join(sizes.toDF("doc_a", "sa"), "doc_a")
        .join(sizes.toDF("doc_b", "sb"), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          (col("ni").cast("double") / (col("sa") + col("sb") - col("ni")))
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
  }

  // --- MinHash + LSH ---------------------------------------------------

  /** Mersenne prime modulus for the affine hash family. */
  private val P = 2147483647L // 2^31 - 1
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Deterministic (a, b) parameters: fixed-seed 64-bit LCG, no runtime
    * randomness — signatures are reproducible across runs/clusters
    * (and by the oracle, which re-derives them into SQL). */
  private[graft] val perms: Seq[(Long, Long)] = {
    var s = 0x5DEECE66DL
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L
      (s >>> 16) % (P - 1) }
    Seq.fill(NumHashes)((next() + 1, next()))
  }

  /** 64-slot MinHash signature per doc: shingle -> 31-bit base hash ->
    * 64 affine permutations -> columnar min per slot (64 codegen'd agg
    * expressions; one shuffle on doc id). The base hash is the engine's
    * own FNV-1a fingerprint (not a Spark-internal hash) so signatures
    * are reproducible by any engine, including the oracle. */
  def minhashSignatures(docs: DataFrame, n: Int = 3,
                        textCol: String = "text",
                        idCol: String = "doc_id"): DataFrame = {
    val sh = shingles(docs, n, textCol, idCol)
      .withColumn("h", pmod(
        graft.functions.GapFunctions.fingerprint64(col("shingle")), lit(P)))
    val mins = perms.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(P))).as(s"m$i")
    }
    sh.groupBy("id").agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: 16 bands x 4 rows; docs sharing any band bucket are
    * candidates. Returns (band, bucket, id). */
  def minhashBands(sigs: DataFrame): DataFrame = {
    val bands = (0 until Bands).map { bIdx =>
      val slots = (0 until RowsPerBand)
        .map(r => col(s"m${bIdx * RowsPerBand + r}"))
      struct(lit(bIdx).as("band"),
        xxhash64(slots: _*).as("bucket"), col("id").as("id"))
    }
    sigs.select(explode(array(bands: _*)).as("e")).select("e.*")
  }

  /** Candidate pairs from band buckets (distinct over bands). */
  def minhashCandidates(sigs: DataFrame): DataFrame = {
    // (band, bucket, id) longs feed both sides of the self-join; the
    // lazy checkpoint runs the signature pipeline once, not twice
    val bands = minhashBands(sigs).localCheckpoint(eager = false)
    val l = bands.select(col("band"), col("bucket"), col("id").as("doc_a"))
    val r = bands.select(col("band").as("band_r"),
      col("bucket").as("bucket_r"), col("id").as("doc_b"))
    l.join(r, col("band") === col("band_r") &&
        col("bucket") === col("bucket_r") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Full MinHash dedup: LSH candidates verified with exact Jaccard
    * (verification joins only candidate docs' shingles — the exact pass
    * never touches non-candidate pairs). Unsorted pair stream: the
    * presentation sort, if any, belongs in the query layer. */
  def minhashDedup(docs: DataFrame, threshold: Double, n: Int = 3,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    // candidate pairs are tiny (post-LSH); materialize them eagerly so
    // the signature pipeline runs exactly once and the verification
    // stage re-shingles only candidate documents, not the corpus
    val cands = minhashCandidates(minhashSignatures(docs, n, textCol, idCol))
      .localCheckpoint()
    val candDocs = cands.select(col("doc_a").as("id"))
      .union(cands.select(col("doc_b").as("id"))).distinct()
    // spread BEFORE the join: the verification re-shingle inherits this
    // partitioning (the join output is opaque to spread's probe)
    val spreadDocs = graft.Engine.spread(docs, docs(idCol))
    val subset = spreadDocs.join(candDocs,
        spreadDocs(idCol) === candDocs("id"))
      .drop(candDocs("id"))
    // explicit postings width: the verification subset is byte-tiny, so
    // AQE would coalesce its pair stage to ONE task (measured 0.73 s
    // near-serial at sf0.1) despite the O(df²) per-row work
    jaccardPairs(subset, threshold, n, None, textCol, idCol,
        postingsWidth =
          Some(docs.sparkSession.sessionState.conf.numShufflePartitions))
      .join(cands, Seq("doc_a", "doc_b"), "left_semi")
  }

  /** Connected components over a near-dup pair graph: docs linked
    * transitively (a~b, b~c => {a,b,c}) collapse to one group labeled by
    * the smallest member id.
    *
    * Distributed min-label propagation: each round joins every node to
    * its neighbors' current labels and keeps the minimum, so a label
    * moves one hop per round: convergence takes as many rounds as the
    * farthest node is hops from its component's min (dup clusters are
    * shallow in practice; a 30-node path needs more than the default
    * bound). Labels still changing after `maxIter` rounds throw rather
    * than come back unconverged.
    * No driver-side union-find, no collect: state is a (node, label)
    * table re-shuffled per round.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10): DataFrame = {
    // materialize the pair list ONCE — the input is typically an
    // expensive similarity pipeline, and every propagation round below
    // would otherwise re-execute it from scratch
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint()
    val edges = p.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .union(p.select(col("doc_b").as("u"), col("doc_a").as("v")))
    // init fused with round one: every node appears as `u` in the
    // symmetric edge list, so one groupBy yields both the node set and
    // its first min-label propagation (label = min(self, neighbors)) —
    // a full distinct + join round cheaper than starting from
    // label = node
    var labels = edges.groupBy(col("u").as("node"))
      .agg(least(col("node"), min(col("v"))).as("label"))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "v")
          .withColumnRenamed("label", "vlabel"), "v")
        .groupBy(col("u").as("node"))
        .agg(min(col("vlabel")).as("nmin"))
      val newLabel = least(col("label"), coalesce(col("nmin"), col("label")))
      // lazy checkpoint + a max(chg) probe: ONE job per round both
      // materializes the round's state into the block store and answers
      // convergence — no separate probe job per iteration
      val next = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), newLabel.as("label"),
          (newLabel =!= col("label")).as("chg"))
        .localCheckpoint(eager = false)
      val anyChange = next.agg(coalesce(max(col("chg")), lit(false)))
        .head.getBoolean(0)
      labels = next.select("node", "label")
      converged = !anyChange
      i += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents: labels still changing after $i rounds " +
        s"(maxIter = $maxIter); a pair chain is longer than the bound")
    labels.select(col("node").as("doc_id"), col("label").as("group_id"))
  }

  /** End-to-end corpus dedup: near-dup pairs (exact Jaccard) ->
    * transitive groups -> keep the smallest doc id per group. Returns the
    * surviving documents (the pipeline's "clean corpus" output).
    *
    * The stop-shingle cap defaults ON here: on a real corpus one
    * degenerate shingle ("in the the") appears in a large fraction of
    * documents and makes the inverted-index self-join quadratic on that
    * key. A shingle shared by >1000 docs carries ~no Jaccard signal;
    * pass None only when bit-exactness against an uncapped oracle is
    * required. */
  def dedupCorpus(docs: DataFrame, threshold: Double, n: Int = 3,
                  maxShingleFreq: Option[Int] = Some(1000),
                  textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val pairs =
      jaccardPairs(docs, threshold, n, maxShingleFreq, textCol, idCol)
    val groups = connectedComponents(pairs)
    val losers = groups.filter(col("doc_id") =!= col("group_id"))
      .select(col("doc_id"))
    docs.join(losers, docs(idCol) === losers("doc_id"), "left_anti")
  }

  /** Benchmark decontamination: which corpus documents share at least
    * `minShared` distinct word n-grams with any eval-set document (the
    * pre-training hygiene pass that keeps eval data out of training
    * corpora). Eval sets are small, so their shingles BROADCAST — the
    * corpus side streams through the scan with no shuffle; only actual
    * overlap hits reach the (doc, eval) aggregation. */
  def contamination(corpus: DataFrame, evalSet: DataFrame, n: Int = 8,
                    minShared: Int = 1, textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    val ev = shingles(evalSet, n, textCol, idCol)
      .select(col("id").as("eval_id"), col("shingle"))
    val cs = shingles(corpus, n, textCol, idCol)
    cs.join(broadcast(ev), "shingle")
      .groupBy(col("id").as("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  // --- SimHash ---------------------------------------------------------

  /** 64-bit SimHash per document: token-frequency-weighted bit votes of
    * fingerprint64(token); 64 codegen'd sum expressions, one shuffle on
    * doc id. Near-dup = small Hamming distance. The token hash is the
    * engine's own FNV-1a expression (not a Spark-internal hash) so the
    * full signature is reproducible by any engine — the DuckDB oracle
    * recomputes it from first principles. */
  def simhash(docs: DataFrame, textCol: String = "text",
              idCol: String = "doc_id"): DataFrame = {
    val tf = graft.Engine.spread(docs, col(idCol))
      .select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("h", graft.functions.GapFunctions.fingerprint64(col("tok")))
    val votes = (0 until 64).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, col("cnt"))
        .otherwise(-col("cnt"))).as(s"v$i")
    }
    val bits = (0 until 64).map { i =>
      when(col(s"v$i") > 0, shiftleft(lit(1L), i)).otherwise(0L)
    }
    tf.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), bits.reduce(_.bitwiseOR(_)).as("simhash"))
  }
}
