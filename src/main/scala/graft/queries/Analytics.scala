package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Dedup, HeavyHitters, Multimodal, Similarity}
import graft.sources.Tables

/** Large-scale training-data-pipeline operators (BASELINE.json north star):
  * dedup, similarity search, text analysis, multimodal plumbing, event
  * rollups — demonstrated on the documents/embeddings/events tables.
  * SQL-expressible ones carry DuckDB oracles ([[AnalyticsOracles]]); the
  * hash-based ones (minhash/simhash/LSH internals use xxhash64, which DuckDB
  * lacks) get the rows-only gate plus ScalaTest coverage.
  */
object Analytics {
  private def t(s: SparkSession, dir: String)(name: String): DataFrame =
    Tables(s, dir, name)

  private def cents(c: org.apache.spark.sql.Column) =
    round(c * 100, 0).cast("long")

  // Exact dedup: canonical row per distinct text (hash aggregate).
  def q20DedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir)("documents"), "text", "doc_id")
      .select(col("doc_id"), col("copies"))
      .orderBy(col("doc_id"))

  // All-pairs 3-gram Jaccard within a bounded id universe.
  def q21NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir)("documents"), "doc_id", "text",
      n = 3, threshold = 0.2, pred = col("doc_id") < 200)
      .orderBy(col("id1"), col("id2"))

  // MinHash-LSH candidates + exact verification at τ=0.8 over the FULL
  // table — oracle is the exact pairwise computation (recall at τ≥0.8 with
  // 16 bands × 4 rows is ~1, and the data's jaccard distribution is bimodal:
  // planted near-dups ≈0.99, background <0.2).
  def q22MinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir)("documents"), "doc_id", "text",
      shingleSize = 3, numPerms = 64, bands = 16, threshold = 0.8)
      .orderBy(col("id1"), col("id2"))

  // SimHash near-dup pairs, portable-hash mode: per-token bits from md5
  // (PortableHashKernel) so the DuckDB oracle recomputes the exact simhash —
  // its all-pairs Hamming filter equals the banded join by the pigeonhole
  // recall-1 guarantee. The xxhash64 default stays spec-covered
  // (TextExpressionsSpec parity + RecallSpec floor).
  def q23SimhashNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(t(s, dir)("documents"), "doc_id", "text",
      maxHamming = 3, portable = true)
      .orderBy(col("id1"), col("id2"))

  // Exact cosine top-5 for 8 query vectors against the whole corpus.
  def q24KnnBruteForce(s: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(t(s, dir)("embeddings"), "vec_id", "embedding",
      queryPred = col("id") < 8, k = 5)
      .orderBy(col("qid"), col("rank"))

  // LSH-bucketed ANN, exact rerank of candidates, portable-hash mode: the
  // hyperplane grid derives from md5('hp:p:d') so the DuckDB oracle rebuilds
  // the same planes, signatures, buckets, and therefore the same candidate
  // set — hash-matched end to end (RecallSpec still pins recall >= 0.9 vs
  // brute force at these parameters). 21 tables × 3 bits: sized for this
  // table's near-random neighbor structure (top-1 cos ≈ 0.36) — see the
  // lshTopK scaladoc for the parameter math.
  def q25KnnLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(s, dir)("embeddings"), "vec_id", "embedding",
      dim = 64, queryPred = col("id") < 8, k = 5,
      tables = 21, bitsPerTable = 3, portable = true)
      .orderBy(col("qid"), col("rank"))

  // IVF-bucketed ANN, portable-hash mode: seed centroids picked by the
  // md5-derived id hash so the DuckDB oracle re-picks the same cells and
  // replays assignment → probing → rerank exactly (hash-matched). nProbe =
  // 14 of 16: the embeddings table is near-random, so recall tracks
  // nProbe/nCentroids (the md5 seed draw measured 0.825 at 12/16 — below
  // the 0.9 floor RecallSpec pins); clustered corpora reach the same
  // recall at far smaller probe ratios.
  def q39KnnIvf(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir)("embeddings"), "vec_id", "embedding",
      nCentroids = 16, nProbe = 14, queryPred = col("id") < 8, k = 5,
      portable = true)
      .orderBy(col("qid"), col("rank"))

  // Refined IVF: 2 spherical-k-means rounds tighten the seed cells before
  // assignment — the index-build path a clustered 100 TB corpus would use.
  // Rows-only gate (iterated float centroid means are not reproducible
  // cross-engine at the last ulp); RecallSpec pins recall >= 0.9 vs brute
  // force at these parameters.
  def q73KnnIvfRefined(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(t(s, dir)("embeddings"), "vec_id", "embedding",
      nCentroids = 16, nProbe = 12, queryPred = col("id") < 8, k = 5,
      kmeansIters = 2)
      .orderBy(col("qid"), col("rank"))

  /** Index roots for the stored-ANN trio, derived from the data dir so
    * every sf/stress dir gets its own index (and a regenerated dir fails
    * the fingerprint and rebuilds). `role` separates the build/search
    * pair's base index from the extend query's — q145 mutates its posting
    * lists, and sharing would let a filtered run (e.g. compare.py q144
    * alone after a q145 run) search an extended index against a
    * base-corpus oracle. */
  private[queries] def vindex(s: SparkSession, dir: String, role: String) =
    new graft.sources.VectorIndex(s,
      s"target/graft_vindex/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}/$role")

  // OFFLINE half of the production ANN split: build the portable IVF
  // index (md5-seeded cells, decimal-packed nearest-cell assignment) and
  // PERSIST centroids + cid-clustered posting lists via the swap-write
  // VectorIndex store. Readout is the per-cell census read back from the
  // stored lists — the gate verifies the bytes on disk, and the DuckDB
  // twin replays the same assignment from the raw corpus.
  def q143IvfBuildStored(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfBuildStored(t(s, dir)("embeddings"), "vec_id", "embedding",
      nCentroids = 16, index = vindex(s, dir, "base"), portable = true)

  // ONLINE half: search the PREBUILT index — the executed plan is parquet
  // scans (centroids broadcast, postings row-group-pruned by cid) + probe
  // window + rerank join, with NO k-means/seed/assignment stages (pinned
  // in PlanSpec). Shares the "base" index with q143 (whose build always
  // rewrites it from the raw corpus, so it never drifts); a missing/stale
  // index self-heals with one synchronous build, which min-of-2 benching
  // keeps out of the recorded time (the second attempt hits the
  // fresh-index path). Distinct query set and probe width from q39 so the
  // two gates are independent.
  def q144IvfSearchStored(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfSearchStored(t(s, dir)("embeddings"), "vec_id", "embedding",
      nCentroids = 16, nProbe = 12,
      queryPred = col("id") >= 8 && col("id") < 16, k = 5,
      index = vindex(s, dir, "base"), portable = true)
      .orderBy(col("qid"), col("rank"))

  // INCREMENTAL maintenance: a deterministic ingest batch (every 13th
  // vector, elements negated — cosine-distant from its source — ids offset
  // by max+1, the q127 clone recipe) is assigned to the STORED centroid
  // grid and upserted into the posting lists; no re-seed, no k-means.
  // Readout: the updated per-cell census from disk. Idempotent: re-running
  // upserts the same keyed rows. Uses its OWN index root ("extendable"):
  // the clone rows it plants must never surface as candidates in q143's
  // build census or q144's search rerank, whose oracles replay the base
  // corpus only.
  def q145IvfExtendStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = vindex(s, dir, "extendable")
    Similarity.ivfEnsureStored(emb, "vec_id", "embedding",
      nCentroids = 16, index = idx, portable = true)
    val off = emb.agg(max(col("vec_id"))).first().getLong(0) + 1L
    val batch = emb.where(col("vec_id") % 13 === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx)
  }

  // INDEX DELETION (the lifecycle's forget path): every 11th corpus
  // vector is removed from its posting list — physically, not
  // tombstoned — and the census read back from disk proves it. Own index
  // root ("deletable"): the build/search pair's base index must keep the
  // full corpus. Idempotent: an already-deleted id is a no-op, so
  // re-running reproduces the same census.
  def q149IvfDeleteStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = vindex(s, dir, "deletable")
    Similarity.ivfEnsureStored(emb, "vec_id", "embedding",
      nCentroids = 16, index = idx, portable = true)
    Similarity.ivfDeleteStored(
      emb.where(col("vec_id") % 11 === 0).select(col("vec_id").as("id")),
      idx)
  }

  // Exact-substring dedup signal (Dedup.crossDocSpanCoverage): per doc,
  // the token mass covered by 5-gram windows appearing verbatim in OTHER
  // docs — the boilerplate-paragraph regime doc-level q20 and chunk-level
  // q85 can't see (q85's chunks are aligned to 8-token boundaries; a
  // sliding window catches spans at any offset). Planted dup/near-dup docs
  // land near full coverage, the random background near zero.
  def q148SpanCoverage(s: SparkSession, dir: String): DataFrame =
    Dedup.crossDocSpanCoverage(t(s, dir)("documents"), "doc_id", "text",
      n = 5)
      .orderBy(col("id"))

  // MMR diverse top-5 (Similarity.mmrDiverseTopK): greedy
  // relevance-vs-redundancy selection over a brute-force top-12
  // shortlist, λ = 70% — the diversity-aware sampling that keeps plain
  // top-k from returning k near-copies. Integer ppm arithmetic after the
  // rounded sims, so the full greedy trajectory hash-matches the
  // generated-round DuckDB twin.
  def q153MmrDiverse(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrDiverseTopK(t(s, dir)("embeddings"), "vec_id",
      "embedding", queryPred = col("id") < 8, shortlist = 12, k = 5,
      lambdaPct = 70)
      .orderBy(col("qid"), col("rank"))

  // Vocabulary-growth audit (the Heaps-law diagnostic a corpus snapshot
  // pipeline tracks between versions): each distinct BIGRAM is attributed
  // to the ingest decile (doc_id-order) where it FIRST appears; per
  // decile, the new-term count, its share of term occurrences, and the
  // cumulative vocabulary. A collapsing tail (few new terms, high repeat
  // mass) signals the crawl is exhausting its sources. Bigrams, not
  // unigrams: the unigram vocabulary saturates in the first decile on
  // any corpus with a bounded token set, which would make the decile
  // machinery vacuous. All integer: decile = first_doc·10 div
  // (max_id+1); bigrams via the q148 explode+codegen recipe; one
  // min/count agg per term; the running total rides the ≤10-row decile
  // rollup (allowlisted unpartitioned window — the frame is 10 rows by
  // construction). At corpus scale the term would be the q126-style
  // 60-bit hashed bigram; the audit's vocabulary semantics keep the
  // string here.
  def q154VocabGrowth(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val maxId = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
    val firstSeen = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("a"))
      .withColumn("n", size(col("a")))
      .where(col("n") >= 2)
      .select(col("doc_id"), col("a"),
        explode(sequence(lit(0), col("n") - 2)).as("pos"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("a"), col("pos") + lit(1), lit(2)))
          .as("term"))
      .groupBy(col("term"))
      .agg(min(col("doc_id")).as("first_doc"),
        count(lit(1)).as("occurrences"))
    val perDecile = firstSeen
      .groupBy(expr(s"first_doc * 10 div ${maxId}L").as("decile"))
      .agg(count(lit(1)).as("n_new_terms"),
        sum(col("occurrences")).as("occ_of_new"))
    perDecile
      .withColumn("cum_vocab", sum(col("n_new_terms")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("decile"))
  }

  // q154's CORPUS-SCALE twin: identical vocabulary-growth semantics, but
  // the groupBy key is the 60-bit portable hash of the bigram, not the
  // string — 8-byte keys through the exchange instead of arbitrary-width
  // text (the q126/q148 discipline q154's own scaladoc promises). The
  // readout is the ≤10-row decile rollup, which never contained term
  // strings, so the output is IDENTICAL to q154 whenever the hash is
  // collision-free on the vocabulary — and the oracle replays the same
  // hash, so even a collision is gated, not hidden. A/B vs q154 at the
  // 100× decade recorded in NOTES_r15.
  def q159VocabGrowthHashed(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val maxId = docs.agg(max(col("doc_id"))).first().getLong(0) + 1L
    val firstSeen = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("a"))
      .withColumn("n", size(col("a")))
      .where(col("n") >= 2)
      .select(col("doc_id"), col("a"),
        explode(sequence(lit(0), col("n") - 2)).as("pos"))
      .select(col("doc_id"),
        graft.functions.PortableHash.md5Head60(
          concat_ws(" ", slice(col("a"), col("pos") + lit(1), lit(2))))
          .as("term"))
      .groupBy(col("term"))
      .agg(min(col("doc_id")).as("first_doc"),
        count(lit(1)).as("occurrences"))
    val perDecile = firstSeen
      .groupBy(expr(s"first_doc * 10 div ${maxId}L").as("decile"))
      .agg(count(lit(1)).as("n_new_terms"),
        sum(col("occurrences")).as("occ_of_new"))
    perDecile
      .withColumn("cum_vocab", sum(col("n_new_terms")).over(
        Window.orderBy(col("decile"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy(col("decile"))
  }

  // O(batch) LSM-style APPEND ingest (q145's rewrite-free sibling): a
  // genuinely-new batch (every 23rd vector negated, ids offset by
  // max+1 — distinct recipe from q145's %13 so the gates stay
  // independent) assigns to the STORED grid and its files land INSIDE
  // the cid bands — no existing byte rewritten, files and token under
  // ONE commit marker. Own index root ("appendable"). Idempotent across
  // driver re-runs via the append-once contract: expectToken is the
  // pre-batch corpus version, so a run that finds the batch already
  // folded in skips the append with an O(1) token read — the production
  // retry discipline, replacing the old per-append id-presence scan.
  // Readout: the per-cell census from disk — identical by construction
  // to what the upsert path would produce for new ids, which is exactly
  // what the oracle replays.
  def q161IvfAppendStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = vindex(s, dir, "appendable")
    Similarity.ivfEnsureStored(emb, "vec_id", "embedding",
      nCentroids = 16, index = idx, portable = true)
    val token = Similarity.ivfCorpusToken(emb, "vec_id", "embedding",
      nCentroids = 16, index = idx, portable = true)
    val off = emb.agg(max(col("vec_id"))).first().getLong(0) + 1L
    val batch = emb.where(col("vec_id") % 23 === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Similarity.ivfAppendStored(batch, "vec_id", "embedding", idx,
      expectToken = Some(token))
  }

  // COMPACTION, oracle-gated: fold the append-accumulated files back
  // into the clustered layout and read the census from the compacted
  // bytes — equality with q161's census (same oracle text) proves
  // compaction preserves every row through the rewrite. Shares q161's
  // "appendable" role safely: append is idempotent and compact is
  // row-preserving, so the two queries commute in any driver order.
  def q164IvfCompactStored(s: SparkSession, dir: String): DataFrame = {
    q161IvfAppendStored(s, dir).collect()
    val idx = vindex(s, dir, "appendable")
    idx.compact()
    idx.readPostings()
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("id")).as("sum_ids"))
      .orderBy(col("cid"))
  }

  // REBUILD WITH CARRY-OVER (the grid-refresh migration the frozen-grid
  // ingest contract defers drift to): extend the "rebuildable" index
  // with a %17 clone batch against the FROZEN base grid, then
  // ivfRebuildStored re-seeds and re-assigns from the index's OWN
  // posting lists — zero corpus access — and the census must equal a
  // from-scratch build on the MERGED corpus (the oracle re-picks seeds
  // over base ∪ batch), proving the documented rebuild cadence is a
  // callable op that converges to build-from-scratch. Own role: the
  // rebuild replaces the whole grid, which must never touch q143/q144's.
  def q167IvfRebuildStored(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = vindex(s, dir, "rebuildable")
    Similarity.ivfEnsureStored(emb, "vec_id", "embedding",
      nCentroids = 16, index = idx, portable = true)
    val off = emb.agg(max(col("vec_id"))).first().getLong(0) + 1L
    val batch = emb.where(col("vec_id") % 17 === 0)
      .select((col("vec_id") + off).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx).collect()
    Similarity.ivfRebuildStored(nCentroids = 16, index = idx,
      portable = true)
  }

  // TOKEN-GATED serving (the O(1)-freshness production path): the caller
  // holds its corpus version token (here via ivfCorpusToken — memoized
  // under the corpus's file-manifest identity, so warm calls launch no
  // corpus job) and the search compares it against the index's stored
  // covered-corpus token instead of fingerprint-scanning the corpus.
  // Shares the read-only "base" grid; query window 32..40 keeps every
  // stored-search gate independent (q144 owns 8..16, q158 16..24,
  // q160 24..32).
  def q169IvfTokenSearch(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir)("embeddings")
    val idx = vindex(s, dir, "base")
    val token = Similarity.ivfCorpusToken(emb, "vec_id", "embedding",
      nCentroids = 16, index = idx, portable = true)
    Similarity.ivfSearchStored(emb, "vec_id", "embedding",
      nCentroids = 16, nProbe = 12,
      queryPred = col("id") >= 32 && col("id") < 40, k = 5,
      index = idx, portable = true, corpusToken = Some(token))
      .orderBy(col("qid"), col("rank"))
  }

  // MMR served end to end from the STORED index (q153's serving twin,
  // the full production stack): the relevance shortlist is
  // ivfSearchStored over q143's "base" grid — index scans only — and
  // the diversity stage's pair vectors come from the index's own
  // posting lists, so the corpus is touched only for the 8 query
  // vectors. Query window 24..32 keeps every stored-search gate
  // independent (q144 owns 8..16, q158 16..24).
  def q160MmrStored(s: SparkSession, dir: String): DataFrame =
    Similarity.mmrDiverseTopKStored(t(s, dir)("embeddings"), "vec_id",
      "embedding", nCentroids = 16, nProbe = 12,
      queryPred = col("id") >= 24 && col("id") < 32, shortlist = 12,
      k = 5, lambdaPct = 70, index = vindex(s, dir, "base"),
      portable = true)
      .orderBy(col("qid"), col("rank"))

  // Language-ID heuristic.
  //
  // THE FINAL-SORT DOUBLE-EXECUTION NOTE (applied in q27/q28/q72/q84):
  // a range sort EXECUTES ITS CHILD TWICE — the range partitioner's
  // sampling pass runs the full child plan before the shuffle's write
  // pass runs it again — so a corpus-sized expensive projection (text
  // kernels, regexes, JSON parses) directly under the final sort
  // silently costs 2x its scan at any scale. Materializing the NARROW
  // projected rows once (localCheckpoint before the orderBy) caps the
  // double execution at the cheap checkpointed frame; rows, schema,
  // and ordering are unchanged. (The operators already do this before
  // their range-sampled clustered writes — same fix, query tails.)
  // Deliberately NOT applied here or in q29: their kernels are cheap
  // enough that the checkpoint write measured flat-to-worse at BOTH
  // sf0.1 and the 100x dir (q26 1.06x, q29 1.41x at 100x) — the fix
  // pays only when the doubled projection outweighs storing the rows.
  def q26LangId(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  // Quality signals + combined score.
  def q27TextQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.avgTokenLengthBp(col("text")).as("avg_token_len_bp"),
        TextFunctions.stopwordRatioBp(col("text")).as("stopword_ratio_bp"),
        TextFunctions.symbolCount(col("text")).as("symbol_count"),
        TextFunctions.qualityScoreBp(col("text")).as("quality_bp"))
      .localCheckpoint(true) // run the 5 kernels once, not 2x (q26 note)
      .orderBy(col("doc_id"))

  // Token counting: whitespace + BPE-ish regex runs.
  def q28TokenCount(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).as("n_ws"),
        TextFunctions.regexTokenCount(col("text")).as("n_re"))
      .localCheckpoint(true) // run both tokenizers once, not 2x (q26 note)
      .orderBy(col("doc_id"))

  // Cross-engine-stable document fingerprint.
  def q29Fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
      .orderBy(col("doc_id")) // no checkpoint: measured flat (q26 note)

  // Tumbling-window event rollup (batch twin of the streaming ingest).
  def q30EventHourly(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("events")
      .groupBy(
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm")
          .as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(cents(col("value"))) / 100.0, 2).as("total"))
      .orderBy(col("hour"), col("event_type"))

  // Embedding-cosine near-duplicate pairs: hyperplane-LSH candidates
  // (banding derived from the threshold) + exact verify — every join an
  // equi-join. The oracle stays the exact all-pairs computation: at the
  // derived (2-bit × 28-table) banding the miss probability at sim = 0.4
  // is ≤ 1e-6, so the candidate set covers every true pair (RecallSpec
  // pins exact agreement with the brute-force reference).
  def q31EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(t(s, dir)("embeddings"), "vec_id",
      "embedding", dim = 64, threshold = 0.4, pred = col("vec_id") < 256)
      .orderBy(col("id1"), col("id2"))

  // Keep-first dedup of events by (user, type) — the batch twin of
  // streaming dropDuplicates.
  def q32EventDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir)("events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"))
      .orderBy(col("user_id"), col("event_type"))
  }

  // Batch twin of streaming gap-sessionization (gaps-and-islands: lag flags
  // a >30-min gap, running sum numbers the sessions, then one grouped
  // rollup). The streaming twin is EventsStream.sessionize.
  def q34Sessionize(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts"))
    val newSess = when(lag(us, 1).over(w).isNull ||
      us - lag(us, 1).over(w) > 1800000000L, 1).otherwise(0)
    t(s, dir)("events")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        sum(newSess).over(run).cast("int").as("session_id"))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        round(sum(cents(col("value"))) / 100.0, 2).as("total"))
      .orderBy(col("user_id"), col("session_id"))
  }

  // Conversion funnel: users whose first purchase follows their first
  // signup within 7 days (per-user conditional min aggregation — one pass,
  // no self-join).
  def q47Funnel(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("events")
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "signup", col("ts"))).as("first_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("first_purchase"))
      .select(col("user_id"),
        (col("first_signup").isNotNull && col("first_purchase").isNotNull &&
          col("first_purchase") >= col("first_signup") &&
          col("first_purchase") <= col("first_signup") + expr("INTERVAL 7 DAYS"))
          .as("converted_7d"),
        date_format(col("first_signup"), "yyyy-MM-dd HH:mm:ss").as("signup_at"),
        date_format(col("first_purchase"), "yyyy-MM-dd HH:mm:ss").as("purchase_at"))
      .orderBy(col("user_id"))

  // Value histogram via exact integer bucketing (floor of an IEEE division —
  // bit-stable cross-engine, unlike width_bucket variants).
  def q48Histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("events")
      .groupBy(floor(col("value") / 25.0).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(sum(cents(col("value"))) / 100.0, 2).as("total"))
      .orderBy(col("bucket"))

  // CUBE over both rollup dimensions (all four grouping combinations).
  def q44Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))
      .orderBy(col("flag"), col("status"))

  // RANGE-frame moving window (value-based frame, not row-based): per
  // customer, sum of order cents across the orderkey range [k−1000, k].
  def q45RangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      .rangeBetween(-1000L, Window.currentRow)
    t(s, dir)("orders")
      .select(col("o_custkey"), col("o_orderkey"),
        round(sum(cents(col("o_totalprice"))).over(w) / 100.0, 2)
          .as("nearby_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  // Duplicate clusters: MinHash-LSH pairs at τ=0.8 → connected components
  // (iterative min-label propagation; oracle is a recursive-CTE transitive
  // closure over the exact pairwise jaccard edges).
  def q46DedupClusters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.minhashLshPairs(t(s, dir)("documents"),
        "doc_id", "text", shingleSize = 3, numPerms = 64, bands = 16,
        threshold = 0.8))
      .orderBy(col("id"))

  // Cluster dedup with retention policy: near-dup clusters (q46's CC), then
  // KEEP the best-quality member per cluster (argmax quality_bp, smallest id
  // on ties) — the canonical "dedup keeping the canonical document" step of
  // a training-data pipeline. Singleton docs keep themselves. The argmax is
  // DECIMAL-PACKED (max(q·2⁶³ + (2⁶³−1−id)) — the q95 pattern; the old
  // max_by(struct) buffer silently planned SortAggregateExec over the
  // corpus-sized assignment rows) with 2⁶³ as the packing base, exact for
  // any long id with q ≤ ~10²⁰ — no plan-time max(id) job needed. One
  // map-side-combining hash agg per cluster; no windows over the corpus.
  def q53DedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    val clusters = graft.operators.Dedup.connectedComponents(
      graft.operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
        shingleSize = 3, numPerms = 64, bands = 16, threshold = 0.8))
    val base = lit(new java.math.BigDecimal("9223372036854775808"))
    docs.select(col("doc_id").as("id"),
        TextFunctions.qualityScoreBp(col("text")).as("q"))
      .join(clusters, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"),
        col("q"))
      .groupBy(col("cluster"))
      .agg(
        max(col("q").cast("decimal(38,0)") * base
          + (base - 1 - col("id"))).as("pd"),
        count(lit(1)).as("n_members"))
      .select(col("cluster"),
        (base - 1 - (col("pd") % base)).cast("long").as("kept_id"),
        expr("CAST(pd div 9223372036854775808BD AS INT)")
          .as("kept_quality_bp"),
        col("n_members"))
      .orderBy(col("cluster"))
  }

  // Deterministic stratified sampling for corpus curation: stratum =
  // predicted language, per-stratum keep rate, membership decided by an md5
  // of the salted id — reproducible across engines and runs (no RNG state),
  // embarrassingly parallel (pure map over the scan). Rates: ~30% of the
  // dominant 'en' stratum, ~80% of everything else (hex prefix compare).
  def q54StratifiedSample(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("documents")
      .select(col("doc_id"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        substring(md5(concat(lit("graft:"), col("doc_id").cast("string"))),
          1, 4).as("hh"))
      .where((col("lang_pred") === "en" && col("hh") < "4ccd") ||
        (col("lang_pred") =!= "en" && col("hh") < "cccc"))
      .select(col("doc_id"), col("lang_pred"))
      .orderBy(col("doc_id"))

  // Contamination check (decontamination): flag corpus docs sharing >= K
  // distinct trigram shingles with any document of a benchmark set (here:
  // doc_id < 50 stands in for the eval benchmark). Inverted-index equi-join
  // on the shingle — identical scale shape to the jaccard join: quadratic
  // only within a shingle's posting list, never a cross join; benchmark side
  // is small and broadcast by AQE.
  def q55Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents")
    def sh(pred: org.apache.spark.sql.Column) = docs.where(pred)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.shingles(col("text"), 3)).as("sh"))
    val corpus = sh(col("doc_id") >= 50)
    val bench = sh(col("doc_id") < 50)
    corpus.as("c")
      .join(bench.as("b"), col("c.sh") === col("b.sh"))
      .groupBy(col("c.doc_id").as("doc_id"),
        col("b.doc_id").as("bench_id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .where(col("shared_shingles") >= 10)
      .orderBy(col("doc_id"), col("bench_id"))
  }

  // Sequence packing for pretraining (concatenate the id-ordered token
  // stream, chunk at a 2048-token context boundary): each doc gets its
  // global start offset, context-chunk id, and offset within the chunk.
  // The bucket count scales with the cluster (×4 over defaultParallelism
  // for scheduling headroom, floor 8) — the within-bucket running sum is
  // the only serial-per-bucket stage, so its parallelism must grow with
  // the executors, and the output is bucket-count-invariant (pinned in
  // ScaleOpsSpec), so the oracle hash is unchanged by the derivation.
  /** End-to-end training-data curation: language filter (en) + quality
    * floor → exact dedup (canonical = min doc_id per distinct text) → pack
    * the survivors into fixed 2048-token contexts. Every stage is one of
    * the engine's own operators (TextFunctions kernels, [[Dedup.exact]],
    * [[sequencePack]]) composed in a single declarative plan: Catalyst
    * fuses the per-doc scoring into the scan that feeds the dedup
    * aggregate, so the whole curation costs one corpus pass + the dedup
    * shuffle + the packing's tiny bucket aggregation. */
  def q67Pipeline(s: SparkSession, dir: String): DataFrame = {
    val kept = t(s, dir)("documents").where(
      TextFunctions.langId(col("text")) === "en" &&
        TextFunctions.qualityScoreBp(col("text")) >= 5000)
    // token counts are computed BEFORE the dedup and the dedup keys on the
    // dual text fingerprint, so the exchange carries (24B fingerprint,
    // id, n_tok) per row — the document text never travels past the
    // filter's scan. n_tok is a function of the text, so carrying it
    // through the fingerprint groupBy is exact.
    val canonical = Dedup.exactByFingerprint(
      kept.withColumn("n_tok",
        TextFunctions.tokenCount(col("text")).cast("long")),
      "text", "doc_id", carry = Seq("n_tok"))
    // sequencePackCounts runs TWO eager stats jobs (max id, bucket sums)
    // before the returned frame's own execution — unbarriered, each would
    // recompute the corpus scan + dedup shuffle above. The post-dedup
    // frame is 2 longs/row, so an eager localCheckpoint pays one tiny
    // materialization to run the expensive upstream ONCE (A/B at sf0.1:
    // 0.86–0.93 s vs 1.63–1.71 s for the 3-pass shape).
    sequencePackCounts(
      canonical.select(col("doc_id"), col("n_tok")).localCheckpoint(),
      contextTokens = 2048,
      nBuckets = packBuckets(s.sparkContext.defaultParallelism))
  }

  /** Corpus-wide frequent word-bigrams by DOCUMENT frequency (each doc
    * contributes a bigram once — the boilerplate-detection notion), ranked
    * exactly through the Misra-Gries candidates-then-verify operator. The
    * per-partition capacity is sized from the guarantee, not the data:
    * the result is exact while the true 20th doc-frequency exceeds
    * N/(m+1) ≈ 0.1% of gram instances (measured floor here is ~4×
    * that, scale-invariant since the vocabulary is fixed). */
  /** q69's input stream, named so PlanSpec can sweep the DISTRIBUTED
    * topK pipeline directly: the catalog entry below returns the winning
    * attempt as a collected k-row local relation (adaptive sizing), so
    * its own plan is a LocalTableScan and would blind the whole-catalog
    * plan audits to the sketch/count jobs underneath. */
  private[graft] def q69Grams(s: SparkSession, dir: String) = {
    import s.implicits._
    t(s, dir)("documents")
      .select(explode(TextFunctions.shingles(col("text"), 2)).as("g"))
      .select(col("g")).as[String]
  }

  def q69HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    // adaptive capacity: m0=1024 clears the guarantee at the driver's sf
    // scales in one attempt; a flatter corpus (the 10× stress run, where
    // fixed m=1024 hard-failed) converges in ONE measured resize — the
    // failed attempt's k-th count sizes the next capacity directly
    HeavyHitters.topKAdaptive(q69Grams(s, dir), k = 20, m0 = 1024)
      .select(col("item").as("gram"), col("cnt").as("n_docs"))
  }

  def q56SequencePack(s: SparkSession, dir: String): DataFrame =
    sequencePack(
      t(s, dir)("documents"),
      contextTokens = 2048,
      nBuckets = packBuckets(s.sparkContext.defaultParallelism))

  /** q56's bucket-count derivation, named so ScaleOpsSpec pins the REAL
    * scaling law (×4 over the cluster's parallelism for scheduling
    * headroom, floor 8) instead of re-deriving the formula in-test. */
  private[graft] def packBuckets(parallelism: Int): Long =
    math.max(parallelism.toLong * 4L, 8L)

  // The global prefix sum is computed the scale-safe way — deterministic
  // id-range buckets, per-bucket token totals (one tiny row each) cumulated
  // on the DRIVER (an O(nBuckets) exclusive scan over already-aggregated
  // rows, not a data collect) and broadcast back, then a WITHIN-bucket
  // running sum. A bare Window.orderBy with no partitioning would drag the
  // whole table through one task — and even an nBuckets-row unpartitioned
  // window adds a single-partition exchange stage for work a driver fold
  // does for free. The bucket is an EXPLICIT monotone function of doc_id,
  // not spark_partition_id over repartitionByRange — the sampled range
  // boundaries are seeded per physical plan, so two evaluations of the
  // same frame can disagree at scale, silently corrupting the offsets
  // wherever the two subtrees placed a boundary differently.
  private[graft] def sequencePack(docs: DataFrame, contextTokens: Int,
                                  nBuckets: Long): DataFrame =
    sequencePackCounts(
      docs.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tok")),
      contextTokens, nBuckets)

  /** [[sequencePack]] over an already-counted (doc_id, n_tok) frame — the
    * entry point for pipelines that computed token counts upstream (q67
    * counts before its dedup so the text never travels past the filter). */
  private[graft] def sequencePackCounts(toks: DataFrame, contextTokens: Int,
                                        nBuckets: Long): DataFrame = {
    val B = contextTokens
    import org.apache.spark.sql.expressions.Window
    val maxId = toks.agg(max(col("doc_id"))).first().getLong(0)
    val span = math.max((maxId + nBuckets) / nBuckets, 1L) // ceil((max+1)/n)
    val parts = toks.withColumn("pid",
      expr(s"CAST(doc_id div $span AS INT)")) // monotone, deterministic
    val bucketSums = parts.groupBy(col("pid"))
      .agg(sum(col("n_tok")).as("psum"))
      .orderBy(col("pid"))
      .collect() // ≤ nBuckets aggregated rows — NOT a data collect
    var acc = 0L
    val offsetRows = bucketSums.map { r =>
      val off = acc; acc += r.getLong(1); (r.getInt(0), off)
    }.toSeq
    import toks.sparkSession.implicits._
    val offsets = offsetRows.toDF("pid", "poffset")
    val local = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    parts.join(broadcast(offsets), "pid")
      .withColumn("start",
        col("poffset") + coalesce(sum(col("n_tok")).over(local), lit(0L)))
      .select(col("doc_id"), col("n_tok").cast("int").as("n_tok"),
        expr(s"CAST(start div $B AS INT)").as("chunk_id"),
        expr(s"CAST(start % $B AS INT)").as("chunk_offset"))
      .orderBy(col("doc_id"))
  }

  // Frame sampling over multimodal binary payloads (every 4th 64-byte
  // frame), emitted as hex for cross-engine comparison — DuckDB cannot
  // slice BLOBs, so the oracle slices the hex projection of the same bytes.
  def q57FrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(
        Multimodal.fromDocuments(t(s, dir)("documents")),
        frameBytes = 64, stride = 4)
      .select(col("media_id"), col("frame_idx"),
        upper(hex(col("frame_bytes"))).as("frame_hex"))
      .orderBy(col("media_id"), col("frame_idx"))

  // Forward as-of with tolerance: each view's NEXT purchase within one hour
  // — click-through attribution as a single merge-shaped join (the batch
  // twin of the streaming attribution). Same union-sort-carry as q38
  // reversed: first-ignoreNulls over (current..following), matches beyond
  // 3600 s nulled, the view row kept (merge_asof tolerance semantics).
  def q63AsofForward(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir)("events")
    val views = events.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("tb_id"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
        col("event_id").as("purchase_id"), col("event_id").as("tb_id"))
    graft.operators.AsOf.asofJoin(views, purchases, "user_id", "ts", "ts",
        Seq("purchase_id"), tiebreakCol = "tb_id",
        direction = "forward", maxGapSeconds = Some(3600L))
      .select(col("event_id"), col("asof_purchase_id").as("purchase_id"))
      .orderBy(col("event_id"))
  }

  // TF-IDF top-3 terms per doc (three partial aggregations + term join).
  def q35TfIdf(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.topTerms(t(s, dir)("documents"), "doc_id", "text", 3)
      .orderBy(col("id"), col("rank"))

  // Exact interpolated percentiles per group. Restricted to the integral
  // l_quantity column: quantile neighbors are equal or integer-adjacent, so
  // interpolation is exact in both engines (percentiles of arbitrary doubles
  // would differ at the last ulp between interpolation formulas).
  def q36Percentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 2).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 2).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 2).as("p75"),
        round(expr("percentile(l_quantity, 0.9)"), 2).as("p90"))
      .orderBy(col("l_returnflag"))

  // ROLLUP hierarchy totals (beyond the reference's surface — free via the
  // relational layer). Group markers coalesced to 'ALL' so the cross-engine
  // NULL-ordering difference can't bite.
  def q37Rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))
      .orderBy(col("flag"), col("status"))

  // As-of join: each purchase matched to the user's most recent view at or
  // before it (union-sort-carry — no range join).
  def q38AsOf(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir)("events")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_id").as("tb_id"))
    val views = events.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"),
        col("event_id").as("tb_id"))
    graft.operators.AsOf.asofJoin(purchases, views, "user_id",
      "ts", "ts", Seq("view_id"), tiebreakCol = "tb_id")
      .select(col("event_id"), col("asof_view_id").as("view_id"))
      .orderBy(col("event_id"))
  }

  // Pivot: one row per user, one count column per event type (Spark's
  // pivot API; the oracle spells the equivalent conditional aggregation).
  def q50Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_id"))

  // Calendar gap-fill: every (day, event_type) cell over the observed span,
  // zero-filled — the D13 date generator composed with a grid cross join
  // and left-outer lookup (J4).
  def q51GapFill(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir)("events")
    val days = events
      .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
      .select(date_format(col("d"), "yyyy-MM-dd").as("day"))
    val types = events.select(col("event_type")).distinct()
    val counts = events
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("cday"),
        col("event_type").as("ctype"))
      .agg(count(lit(1)).as("cnt"))
    days.crossJoin(types)
      .join(counts,
        col("day") === col("cday") && col("event_type") === col("ctype"),
        "left_outer")
      .select(col("day"), col("event_type"),
        coalesce(col("cnt"), lit(0L)).as("n"))
      .orderBy(col("day"), col("event_type"))
  }

  // Deterministic train/val/test split: a multiplicative-mix bucket on the
  // stable doc id (no RNG state — the property a reproducible training-data
  // pipeline needs; engine-agnostic integer arithmetic, unlike hash- or
  // rand-based sampling). 80/10/10 by bucket.
  def q52Split(s: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(col("doc_id") * 1000003L + 12345L, lit(100L))
    val split = when(bucket < 80, "train")
      .when(bucket < 90, "val").otherwise("test")
    t(s, dir)("documents")
      .select(col("lang"), split.as("split"), col("n_chars"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"), col("split"))
  }

  // Approximate profiling aggregates — the 100 TB first-look over a fact
  // table: HyperLogLog++ distinct counts and a quantile sketch per group,
  // one partial-aggregating pass, sketch-sized shuffle rows regardless of
  // cardinality. Sketch internals are engine-specific (rows-only gate;
  // ApproxSpec pins |approx − exact| within the configured error at these
  // exact parameters on the same tables).
  def q70ApproxAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.02)
          .as("approx_orders"),
        approx_count_distinct(col("l_partkey"), rsd = 0.02)
          .as("approx_parts"),
        // One shared sketch pass; flattened to SCALAR columns (the driver
        // harness records scalar results; an array column left it err'd).
        expr("approx_percentile(l_quantity, array(0.5, 0.9), 10000)")
          .as("qty_pcts"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("approx_orders"), col("approx_parts"),
        element_at(col("qty_pcts"), 1).as("qty_p50"),
        element_at(col("qty_pcts"), 2).as("qty_p90"),
        col("n"))
      .orderBy(col("l_returnflag"))

  // Int8 quantization, driver-gated: per-vector integer checksums over the
  // quantized codes. Every output column is integral, so the result
  // hash-matches DuckDB despite float inputs: float→double casts are
  // value-exact, the x/scale*127 arithmetic is IEEE-identical in both
  // engines, and both round ties away from zero. QuantizeCompactSpec pins
  // the reconstruction-error bound; this pins the CODES cross-engine.
  def q75Quantize(s: SparkSession, dir: String): DataFrame =
    t(s, dir)("embeddings")
      .where(col("embedding").isNotNull)
      .select(col("vec_id"),
        graft.functions.VectorFunctions.quantizeInt8(col("embedding"))
          .getField("q").as("q"))
      .select(col("vec_id"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x.cast("long"))
          .as("qsum"),
        array_min(col("q")).cast("int").as("qmin"),
        array_max(col("q")).cast("int").as("qmax"),
        size(col("q")).as("dim"))
      .orderBy(col("vec_id"))

  // Exact twin of q70's shapes (the approx-agg anchor): the same columns
  // the approximate profiling pass estimates — distinct orders/parts and
  // the 0.5/0.9 quantity quantiles per returnflag — computed EXACTLY, so
  // the driver's hash gate covers every shape q70's sketches approximate
  // (q70 itself stays rows-only: HLL/quantile-sketch internals differ by
  // engine). ApproxSpec pins |approx − exact| between the two on the same
  // tables. percentile stays on integral l_quantity (q36's convention:
  // quantile neighbors are equal or integer-adjacent, so interpolation is
  // exact in both engines).
  // Shape note (the 100 TB plan): the naive single groupBy with two
  // countDistinct + percentile plans an Expand (×3 row duplication) and an
  // object aggregate that buffers EVERY l_quantity for only 3 groups — 3
  // fat tasks own the whole table (15.6 s at sf0.1). Instead each piece is
  // its own map-side-combining hash aggregate: the distinct counts as
  // (flag, key) dedup → count, and the exact percentile reconstructed from
  // a (flag, quantity) histogram — l_quantity has ~50 distinct values, so
  // the post-shuffle state is O(flags × values), not O(rows), at any SF.
  // percentile(v, p) over sorted v_0..v_{n-1}: pos = p(n-1), result =
  // v_lo + (pos-⌊pos⌋)(v_hi - v_lo) where v_r = min value with cum > r.
  def q78ExactDistinctPct(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir)("lineitem")
      .select(col("l_returnflag"), col("l_orderkey"), col("l_partkey"),
        col("l_quantity"))
    def distinctCount(key: String, as: String) =
      li.select(col("l_returnflag"), col(key))
        .where(col(key).isNotNull) // countDistinct-equivalent: nulls excluded
        .distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as(as))
    val hist = li
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
    // nulls sort first and carry cum = null, so they occupy no rank and
    // nn counts only rankable values (n keeps the all-rows count(*))
    val wOrd = Window.partitionBy("l_returnflag")
      .orderBy(col("l_quantity").asc_nulls_first)
    val wAll = Window.partitionBy("l_returnflag")
    val ranked = hist
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("nn",
        sum(when(col("l_quantity").isNotNull, col("c"))).over(wAll))
      .withColumn("cum",
        when(col("l_quantity").isNotNull,
          sum(when(col("l_quantity").isNotNull, col("c"))).over(wOrd)))
    def vAtRank(rank: org.apache.spark.sql.Column) =
      min(when(col("cum") > rank, col("l_quantity")))
    def pos(p: Double) = lit(p) * (col("nn") - 1)
    val pcts = ranked
      .groupBy(col("l_returnflag"), col("n"), col("nn"))
      .agg(
        vAtRank(floor(pos(0.5))).as("lo50"), vAtRank(ceil(pos(0.5))).as("hi50"),
        vAtRank(floor(pos(0.9))).as("lo90"), vAtRank(ceil(pos(0.9))).as("hi90"))
      .select(col("l_returnflag"), col("n"),
        round(col("lo50") + (pos(0.5) - floor(pos(0.5)))
          * (col("hi50") - col("lo50")), 2).as("qty_p50"),
        round(col("lo90") + (pos(0.9) - floor(pos(0.9)))
          * (col("hi90") - col("lo90")), 2).as("qty_p90"))
    distinctCount("l_orderkey", "n_orders")
      .join(distinctCount("l_partkey", "n_parts"), Seq("l_returnflag"))
      .join(pcts, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_orders"), col("n_parts"),
        col("qty_p50"), col("qty_p90"), col("n"))
      .orderBy(col("l_returnflag"))
  }

  // Fixed-point anchor for q73's refinement loop: ONE scaled-integer
  // k-means update over the same embeddings, md5-portable seeds, integer
  // distances and floor-ratio centroid coordinates — bit-reproducible
  // cross-engine, so the driver hash-gates the exact arithmetic shape
  // whose float twin (q73's iterated means) is rows-only by physics.
  // scale = 1e6 bounds every intermediate far below 2^53/2^63 for these
  // unit-scale vectors (|x| < 0.6, dim 64).
  def q79KmeansStep(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansStepFixedPoint(t(s, dir)("embeddings"), "vec_id",
      "embedding", nCentroids = 16, scale = 1000000L)

  // The adaptive heavy-hitters EXACT-FALLBACK regime, driver-visible: the
  // key is the (orderkey, linenumber) composite — near-unique (the
  // regenerated driver data carries multiplicity ≤ 6, ~0.76 distinct
  // pairs per row), the extreme of the flat-frequency regime (the
  // "100 TB corpus of near-unique items" design point). The k-th
  // frequency is a small constant, so the required capacity N/f_k — and
  // with it the candidate union partitions × m — rivals the HLL
  // vocabulary estimate at every scale, and topKAdaptive must choose the
  // exact fallback (strategy pinned by name in HeavyHittersSpec on this
  // corpus; q69 keeps the sketch paths). Exact by construction — the
  // oracle is the plain groupBy/order/limit, ties broken by key string.
  def q80HeavyFallback(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    HeavyHitters.topKAdaptive(q80Keys(s, dir), k = 20, m0 = 64)
      .select(col("item").as("line_key"), col("cnt").as("n_rows"))
  }

  /** q80's near-unique key stream, named so the spec pins the strategy on
    * exactly the catalog corpus. */
  private[graft] def q80Keys(s: SparkSession, dir: String) = {
    import s.implicits._
    t(s, dir)("lineitem")
      .select(concat(col("l_orderkey").cast("string"), lit(":"),
        col("l_linenumber").cast("string")).as("k"))
      .as[String]
  }

  // Multimodal plumbing: opaque binary payload + typed metadata → codegen
  // feature projection (decode itself is the stubbed mapPartitions path,
  // exercised in ScalaTest).
  def q33Multimodal(s: SparkSession, dir: String): DataFrame =
    Multimodal.columnFeatures(
      Multimodal.fromDocuments(t(s, dir)("documents")))
      .orderBy(col("media_id"))

  // BM25 top-3 terms per doc — the retrieval-grade ranking the corpus-side
  // of a training-data search index needs (tf-idf q35 plus per-doc length
  // normalization; same partial-agg scale shape, one more small join).
  def q81Bm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.TfIdf.bm25TopTerms(
      t(s, dir)("documents"), "doc_id", "text", 3)
      .orderBy(col("id"), col("rank"))

  // Per-source quota sampling (domain balancing): cap every source at 10
  // docs picked by portable-md5 rank. Routed through the k-bounded typed
  // aggregator, NOT a window — the shuffle carries quota·partitions rows
  // per source at any corpus size (see QuotaSampler's scale note). Output
  // is O(sources · quota) — constant as the corpus grows.
  def q82SourceQuota(s: SparkSession, dir: String): DataFrame =
    graft.operators.QuotaSampler.sample(
      t(s, dir)("documents"), "source", "doc_id", "text", quota = 10)
      .select(col("grp").as("source"), col("rank"),
        col("id").as("doc_id"))
      .orderBy(col("source"), col("rank"))

  // Intra-document repetition filter (the Gopher/C4-style quality gate):
  // distinct-token ratio per doc, kept iff ≥ 0.55. ZERO shuffles — the
  // ratio is a per-row array expression (size/array_distinct over the
  // token split), so the whole filter is one codegen'd map over the corpus
  // scan; the oracle's explode + groupBy shape is the same math. The kept
  // flag compares the UNROUNDED single-division double, identical IEEE in
  // both engines.
  def q83RepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val ratio = col("n_uniq").cast("double") / col("n_tok")
    t(s, dir)("documents")
      .select(col("doc_id"),
        size(toks).as("n_tok"),
        size(array_distinct(toks)).as("n_uniq"))
      .select(col("doc_id"), col("n_tok"), col("n_uniq"),
        round(ratio, 4).as("uniq_ratio"),
        (ratio >= lit(0.55)).as("kept"))
      .orderBy(col("doc_id"))
  }

  // PII redaction (the compliance scrub every web-scale corpus needs):
  // regex counts + in-place replacement of emails, IPv4 addresses, and
  // phone-shaped digit runs. The corpus text is synthetic words, so each
  // row APPENDS a deterministically-constructed contact line (q72's
  // per-row-document pattern) — the regexes then fire for real and the
  // md5 of the redacted string catches any cross-engine regex divergence.
  // Patterns stay in the Java∩RE2 dialect (q60's convention: no
  // backreferences, no lookaround). ZERO shuffles — one codegen'd map.
  def q84PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val contact = concat_ws(" ",
      lit("contact"),
      concat(lit("user"), col("doc_id").cast("string"),
        lit("@mail-"), col("source"), lit(".example")),
      when(col("doc_id") % 3 =!= 0,
        concat(lit("call 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit("nocall")),
      when(col("doc_id") % 5 === 0,
        concat(lit("host 10."), (col("doc_id") % 200).cast("string"),
          lit("."), ((col("doc_id") * 7) % 250).cast("string"), lit(".9")))
        .otherwise(lit("nohost")))
    val raw = concat(col("text"), lit(" "), contact)
    t(s, dir)("documents")
      .select(col("doc_id"), raw.as("s"))
      .select(col("doc_id"),
        regexp_count(col("s"), lit(TextFunctions.emailRe)).as("n_email"),
        regexp_count(col("s"), lit(TextFunctions.phoneRe)).as("n_phone"),
        regexp_count(col("s"), lit(TextFunctions.ipv4Re)).as("n_ip"),
        TextFunctions.redactPii(col("s")).as("r"))
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        md5(col("r")).as("redacted_md5"),
        length(col("r")).as("redacted_len"))
      // run the 3 regex counts + redaction once, not 2x (the q26 note:
      // the final sort's sampling pass re-executes the child) — at scale
      // this halves the operator's regex bill
      .localCheckpoint(true)
      .orderBy(col("doc_id"))
  }

  // Sub-document exact dedup (chunk granularity — the "repeated boilerplate
  // paragraph" regime doc-level q20 can't see): consecutive 8-token chunks,
  // corpus-wide keep-first by (doc_id, pos). One shuffle on the chunk text
  // (hash agg with map-side combine); per-doc kept counts come back from
  // the OWNER side (chunk-level min key → owner doc → count), so the join
  // closing the loop is doc-cardinality × doc-cardinality — the corpus
  // text itself is never joined back. The (doc_id, pos) composite rides a
  // single BIGINT (pos < 2^20 ≡ docs under ~8M tokens), so the keep-first
  // argmin is one min() partial agg, not a struct ordering.
  def q85ChunkDedup(s: SparkSession, dir: String): DataFrame = {
    val C = 8
    val enc = 1L << 20
    val base = t(s, dir)("documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("a"))
      .withColumn("n_chunks", floor(size(col("a")) / lit(C)).cast("int"))
      .where(col("n_chunks") >= 1)
    // materialized ONCE (r17, the q93 discipline): occ feeds the owner
    // census and — via the distinct below — the per-doc chunk count, so
    // the tokenize → chunk-explode pipeline runs once instead of twice.
    // The chunk key is the portable 60-bit md5 hash computed IN the
    // exploding projection (r18; the q93/q126/q148 recipe, oracle updated
    // in lockstep): the checkpoint carries 28-byte rows instead of the
    // chunk STRINGS (a corpus-sized executor-storage payload at 100 TB —
    // VERDICT r17 §4), and the keep-first census shuffles 8-byte keys.
    // A key collision would merge two chunks identically in BOTH engines
    // (the oracle replays the same hash); odds ~(distinct chunks)²/2⁶¹.
    val occ = base.select(col("doc_id"), col("n_chunks"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => concat_ws(" ", slice(col("a"), i * C + 1, lit(C))))))
      .toDF("doc_id", "n_chunks", "pos", "chunk")
      .select(col("doc_id"), col("n_chunks"), col("pos"),
        graft.functions.PortableHash.md5Head60(col("chunk")).as("h"))
      .localCheckpoint()
    val owners = occ
      .groupBy(col("h"))
      .agg(min(col("doc_id") * enc + col("pos")).as("k0"))
      .select(expr(s"CAST(k0 div $enc AS BIGINT)").as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("kept"))
    occ.select(col("doc_id"), col("n_chunks")).distinct()
      .join(owners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("kept"), lit(0L)).cast("int").as("n_kept"))
      .withColumn("dup_ppm",
        expr("CAST(((n_chunks - n_kept) * 1000000L) div n_chunks AS INT)"))
      .orderBy(col("doc_id"))
  }

  // Length-bucket batching stats (the padding-efficiency ledger a training
  // dataloader is sized from): docs grouped into power-of-two context
  // buckets (16..2048, docs past the context count as truncated), per
  // bucket the padded-token bill and the waste ppm. The bucket ladder is
  // an explicit CASE — integer-exact in both engines, where a float
  // pow/log2 round-trip can flip the boundary buckets. All-integer
  // arithmetic end to end; one map-side-combining hash agg over 8 groups.
  def q86LengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val n = TextFunctions.tokenCount(col("text"))
    val bucket = when(n <= 16, 16).when(n <= 32, 32).when(n <= 64, 64)
      .when(n <= 128, 128).when(n <= 256, 256).when(n <= 512, 512)
      .when(n <= 1024, 1024).otherwise(2048)
    t(s, dir)("documents")
      .select(bucket.cast("int").as("bucket"),
        least(n, lit(2048)).cast("long").as("n_tok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tok"))
      .withColumn("padded", col("n_docs") * col("bucket"))
      .withColumn("waste_ppm",
        expr("CAST(((padded - sum_tok) * 1000000L) div padded AS INT)"))
      .orderBy(col("bucket"))
  }

  // Deterministic training-order shuffle + sharding: every doc gets a
  // portable-md5 shuffle key, a shard (key mod 8), and its exact 1-based
  // position in the shard's key order. The position is computed the
  // sequencePack way — NOT one window per shard (8 sort tasks each owning
  // 1/8th of a 100 TB corpus): the 60-bit key's high bits give 128
  // deterministic monotone sub-buckets per shard, the within-bucket
  // row_number runs partitioned by (shard, bkt), and the per-bucket
  // offsets are an O(shards × buckets) driver scan over aggregated counts
  // broadcast back. Same answer as the per-shard window, 1024-way
  // parallel sort instead of 8.
  def q87ShardAssign(s: SparkSession, dir: String): DataFrame =
    shardAssign(t(s, dir)("documents"), nShards = 8)

  // PQ-ADC search, integer-exact end to end (see Similarity.pqAdcTopK):
  // 16 subspaces × 16-entry md5-seeded codebooks over the fixed-point
  // embeddings (16 bytes per vector in production — 16× compression),
  // asymmetric-distance shortlist of 50, exact integer rerank to top-5
  // for 8 query vectors. Every distance is a long, so unlike the float
  // kNN paths the FULL ranking hash-matches a DuckDB twin — the driver
  // gate covers the PQ encode, the codebook choice, the ADC join shape,
  // and the rerank all at once. Recall vs exact L2 is pinned in PQSpec.
  def q88PqAdc(s: SparkSession, dir: String): DataFrame =
    Similarity.pqAdcTopK(t(s, dir)("embeddings"), "vec_id", "embedding",
      m = 16, kCodes = 16, scale = 1000000L,
      queryPred = col("id") < 8, rerank = 50, k = 5)
      .orderBy(col("qid"), col("rank"))

  // Data-quality audit (the Deequ-style validation gate a corpus passes
  // before training sees it): completeness, domain and range violations,
  // key uniqueness, and referential orphans as one (metric, value) ledger.
  // Shape: every constant-state metric (counts, conditional counts,
  // min/max) rides ONE map-side-combining pass over the fact — a single
  // aggregated row, unpivoted by stack(); the two exact distinct counts
  // shuffle only deduplicated keys (the q78 lesson: never a multi-
  // countDistinct Expand over the corpus); the orphan check dedups the
  // fact keys BEFORE the anti join so the join moves key cardinality, not
  // row cardinality. Branches meet in a union of one-row frames.
  def q89QualityAudit(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir)("lineitem")
    val viol = (c: org.apache.spark.sql.Column) =>
      sum(when(c, 1L).otherwise(0L))
    val onePass = li.agg(
        count(lit(1)).as("row_count"),
        viol(col("l_shipdate").isNull).as("null_shipdate"),
        viol(col("l_returnflag").isNull).as("null_returnflag"),
        viol(!col("l_returnflag").isin("A", "N", "R")).as("flag_domain_viol"),
        viol(col("l_quantity") < 1 || col("l_quantity") > 50)
          .as("qty_range_viol"),
        viol(col("l_quantity") > 45).as("qty_over_45"),
        viol(col("l_discount") > 0.08).as("discount_over_8pct"),
        min(col("l_quantity")).cast("long").as("min_quantity"),
        max(col("l_quantity")).cast("long").as("max_quantity"))
      .selectExpr("""stack(9,
        'row_count', row_count,
        'null_shipdate', null_shipdate,
        'null_returnflag', null_returnflag,
        'flag_domain_viol', flag_domain_viol,
        'qty_range_viol', qty_range_viol,
        'qty_over_45', qty_over_45,
        'discount_over_8pct', discount_over_8pct,
        'min_quantity', min_quantity,
        'max_quantity', max_quantity) AS (metric, value)""")
    val distinctOrders = li.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("value"))
      .select(lit("distinct_orderkey").as("metric"), col("value"))
    val distinctPairs = li.select(col("l_orderkey"), col("l_linenumber"))
      .distinct().agg(count(lit(1)).as("value"))
      .select(lit("distinct_line_pairs").as("metric"), col("value"))
    val orphans = li.select(col("l_orderkey")).distinct()
      .join(t(s, dir)("orders").select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("value"))
      .select(lit("orphan_orderkeys").as("metric"), col("value"))
    onePass.unionByName(distinctOrders).unionByName(distinctPairs)
      .unionByName(orphans)
      .orderBy(col("metric"))
  }

  // Bloom-pruned semi join: membership in the hot-order key set is tested
  // with a 16 KB plan-literal Bloom mask IN THE SCAN STAGE, so only
  // survivors (true matches + the tiny false-positive mass) reach the
  // exchange; the exact semi join that follows makes the result
  // bit-identical to the unpruned plan — which is exactly what the DuckDB
  // twin computes, so the hash gate covers the whole pattern. See
  // BloomPrune's scaladoc for why this exists alongside Spark's own
  // InjectRuntimeFilter (PlanSpec pins that one separately).
  def q90BloomPrune(s: SparkSession, dir: String): DataFrame = {
    val hot = t(s, dir)("orders")
      .where(col("o_totalprice") > 480000)
      .select(col("o_orderkey"))
    val mask = graft.operators.BloomPrune.buildSized(hot, "o_orderkey")
    t(s, dir)("lineitem")
      .where(mask.mightContain(col("l_orderkey")))
      .join(hot, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_lines"),
        sum(cents(col("l_extendedprice"))).as("revenue_c"),
        countDistinct(col("l_orderkey")).as("n_orders"))
      .orderBy(col("l_returnflag"))
  }

  // Bigram-rarity quality score (the KenLM-proxy filter, integer-exact):
  // pass 1 builds the corpus model — top-256 token bigrams by frequency,
  // ranks assigned on the driver from the ≤V aggregated rows the partial
  // top-k ships (a window over the full vocab would be an unpartitioned
  // sort; the vocab TABLE is the bounded thing, so rank there) — pass 2
  // broadcast-joins the model onto the exploded bigrams and re-aggregates
  // per doc. Out-of-vocabulary bigrams pay rank 512; the kept gate is an
  // integer centirank threshold, so the whole score hash-matches DuckDB.
  def q91BigramRarity(s: SparkSession, dir: String): DataFrame = {
    val V = 256
    val docs = t(s, dir)("documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("a"))
      .where(size(col("a")) >= 2)
    val bigrams = docs.select(col("doc_id"),
      explode(transform(sequence(lit(0), size(col("a")) - 2),
        i => concat_ws(" ", element_at(col("a"), i + 1),
          element_at(col("a"), i + 2)))).as("bg"))
    val top = bigrams.groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("bg")).limit(V)
      .collect() // bounded: ≤ V aggregated vocab rows — NOT a data collect
    import s.implicits._
    val vocab = top.iterator.zipWithIndex
      .map { case (r, i) => (r.getString(0), i + 1) }.toSeq
      .toDF("bg", "rank")
    bigrams.join(broadcast(vocab), Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("rank").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("rank"), lit(2 * V)).cast("long")).as("sum_rank"))
      .withColumn("avg_rank_c",
        expr("CAST(sum_rank * 100 div n_bigrams AS INT)"))
      .withColumn("kept", col("avg_rank_c") <= 12000)
      .orderBy(col("doc_id"))
  }

  // Token-budget mixture planning (the dataset-mixing recipe step): given
  // per-language token inventories and a training budget of half the
  // corpus split uniformly across languages, compute each language's
  // corpus share, sampling rate, and expected token yield — low-resource
  // languages cap at 1.0 (take everything) and surface their shortfall.
  // All-integer ppm arithmetic; one 5-group aggregate plus a single-row
  // totals broadcast (the q35/q81 scalar-crossJoin pattern).
  def q92MixturePlan(s: SparkSession, dir: String): DataFrame = {
    val perLang = t(s, dir)("documents")
      .select(col("lang"),
        TextFunctions.tokenCount(col("text")).cast("long").as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("tok"))
    val totals = perLang.agg(sum(col("tok")).as("tot_tok"),
      count(lit(1)).as("n_langs"))
    perLang.crossJoin(broadcast(totals))
      .withColumn("share_ppm", expr("CAST(tok * 1000000 div tot_tok AS INT)"))
      .withColumn("target_tok", expr("tot_tok div (2 * n_langs)"))
      .withColumn("sample_ppm",
        expr("CAST(least(1000000, target_tok * 1000000 div tok) AS INT)"))
      .withColumn("expect_tok", expr("tok * sample_ppm div 1000000"))
      .select(col("lang"), col("n_docs"), col("tok"), col("share_ppm"),
        col("target_tok"), col("sample_ppm"), col("expect_tok"))
      .orderBy(col("lang"))
  }

  // Boilerplate removal (the CCNet-style line-frequency scrub): a chunk
  // appearing in ≥ 3 DISTINCT docs is boilerplate; docs are rebuilt
  // without those chunks. The corpus is synthetic prose, so boilerplate
  // is PLANTED the q84 way — a deterministic 8-token banner prepended
  // (prepended, not appended: chunk windows are 8-aligned from the
  // front, so only a prefix plant lands on identical chunk boundaries in
  // every doc) to every 4th doc and a footer line to every 10th.
  // Shape: chunk occurrences carry a portable-md5 60-bit chunk key, so
  // the frequency count and the membership anti-join move 8 bytes per
  // chunk, not the text; the boilerplate set (small by construction —
  // it's the FREQUENT chunks) broadcasts into the anti join; the one
  // corpus-text shuffle is the per-doc reconstruction groupBy, which any
  // rebuild needs. md5 of the rebuilt text pins cross-engine equality of
  // the whole pipeline including chunk order restoration.
  def q93Boilerplate(s: SparkSession, dir: String): DataFrame = {
    val C = 8
    val banner = "subscribe to our newsletter for daily updates now"
    val footer = "all rights reserved by the site owner today"
    val planted = when(col("doc_id") % 4 === 0,
        concat(lit(banner + " "), col("text")))
      .when(col("doc_id") % 10 === 0, concat(lit(footer + " "), col("text")))
      .otherwise(col("text"))
    val base = t(s, dir)("documents")
      .select(col("doc_id"), TextFunctions.tokens(planted).as("a"))
      .withColumn("n_chunks", floor(size(col("a")) / lit(C)).cast("int"))
      .where(col("n_chunks") >= 1)
    // materialized ONCE (r17): occ feeds the boilerplate census AND the
    // anti-join rebuild — un-checkpointed each consumer re-ran the
    // tokenize → chunk-explode → md5 pipeline, and the final join added
    // a third tokenize for n_chunks. One text pass remains; the doc
    // list below derives n_chunks from the checkpointed chunk rows
    // (pos ∈ [0, n_chunks), so max(pos)+1 is exact — every base doc has
    // n_chunks ≥ 1 and therefore appears).
    val occ = base.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_chunks") - 1),
          i => concat_ws(" ", slice(col("a"), i * C + 1, lit(C))))))
      .toDF("doc_id", "pos", "chunk")
      .withColumn("h", graft.functions.PortableHash.md5Head60(col("chunk")))
      .localCheckpoint()
    val boiler = occ.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 3).select(col("h"))
    val rebuilt = occ.join(broadcast(boiler), Seq("h"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x.getField("chunk")), " ").as("cleaned"))
    occ.groupBy(col("doc_id"))
      .agg((max(col("pos")) + 1).cast("int").as("n_chunks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).cast("int").as("n_kept"),
        md5(coalesce(col("cleaned"), lit(""))).as("cleaned_md5"))
      .orderBy(col("doc_id"))
  }

  // Shingle containment (asymmetric near-dup): |A ∩ B| / |A| ≥ 0.5 over
  // 3-gram shingle sets — the "short doc swallowed by a long one" regime
  // symmetric Jaccard (q21/q22) can't see. Ordered pairs, bounded id
  // universe like q21; see Dedup.containmentPairs for the index shape.
  def q94Containment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(t(s, dir)("documents"), "doc_id", "text",
      n = 3, threshold = 0.5, pred = col("doc_id") < 200)
      .orderBy(col("id1"), col("id2"))

  // Co-occurrence PMI top-k (the collocation/phrase-mining pass): token
  // pairs within a +1/+2 text window, scored by the PMI-monotone integer
  // ratio trunc(c_xy·T·10⁶ / (c_x·c_y)) — log never enters, so ordering
  // and values are cross-engine exact (decimal/HUGEINT integral divide).
  // Shape: the pair stream is 2 rows per token (bounded window, not a
  // per-doc cross join); counts map-side-combine; the vocab-sized
  // unigram table broadcast-joins twice; final global top-50 is a
  // bounded TakeOrdered.
  def q105CooccurPmi(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir)("documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("a"))
    // size guard: sequence(0, n-2) DESCENDS when n < 2 — never feed it
    val pairs = toks.where(size(col("a")) >= 2).select(explode(flatten(
        transform(sequence(lit(0), size(col("a")) - 2), i => array(
          struct(element_at(col("a"), i + 1).as("w1"),
            element_at(col("a"), i + 2).as("w2")),
          struct(element_at(col("a"), i + 1).as("w1"),
            // +2 skip-gram: the last window position has no i+3 element —
            // ANSI element_at THROWS past the tail, so probe with
            // try_element_at and drop the null below
            try_element_at(col("a"), i + 3).as("w2")))))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .where(col("w2").isNotNull) // +2 window walks off the array tail
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_xy"))
    // materialized ONCE (r17): uni feeds TWO broadcast joins (w1 and w2
    // sides) plus the corpus-total scalar — each with its own projection,
    // so exchange reuse never fires and the tokenize → explode → count
    // pipeline ran once per consumer. The relation is vocabulary-sized.
    val uni = toks
      .select(explode(col("a")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val total = uni.agg(sum(col("c")).as("t"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    pairs
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c_x"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c_y"))),
        Seq("w2"))
      .crossJoin(broadcast(total))
      .where(col("c_xy") >= 5)
      .withColumn("pmi_ppm",
        expr("CAST((CAST(c_xy AS DECIMAL(38,0)) * t * 1000000)" +
          " div (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)"))
      .select(col("w1"), col("w2"), col("c_xy"), col("pmi_ppm"))
      .orderBy(col("pmi_ppm").desc, col("w1"), col("w2"))
      .limit(50)
  }

  // A/B significance readout (the experimentation query every event
  // pipeline serves): deterministic arm assignment (user_id parity), per
  // event_type the two-proportion pooled z-test on a conversion proxy
  // (value > 250), cross-multiplied into exact integer arithmetic —
  //   z² > 3.8416  ⟺  10⁴·(c_a·n_b − c_b·n_a)²·n > 38416·n_a·n_b·c·(n−c)
  // in decimal(38,0)/HUGEINT, so the flag hash-matches bit for bit (the
  // q96 no-sqrt move applied to hypothesis testing). ONE map-side-
  // combining pass over events — the arms fold as conditional sums, no
  // join, no pivot shuffle.
  def q104AbTest(s: SparkSession, dir: String): DataFrame = {
    val conv = col("value") > 250.0
    val armA = col("user_id") % 2 === 0
    def cnt(p: org.apache.spark.sql.Column) =
      sum(when(p, 1L).otherwise(0L))
    val base = t(s, dir)("events")
      .groupBy(col("event_type"))
      .agg(cnt(armA).as("n_a"), cnt(armA && conv).as("c_a"),
        cnt(!armA).as("n_b"), cnt(!armA && conv).as("c_b"))
    val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val diff = d(col("c_a")) * d(col("n_b")) - d(col("c_b")) * d(col("n_a"))
    val n = d(col("n_a")) + d(col("n_b"))
    val c = d(col("c_a")) + d(col("c_b"))
    base
      .withColumn("significant",
        lit(10000L) * diff * diff * n >
          lit(38416L) * d(col("n_a")) * d(col("n_b")) * c * (n - c))
      .orderBy(col("event_type"))
  }

  // Fixed-point PageRank over a synthesized deterministic link graph
  // (3 modular out-links per doc — the corpus has no real link column;
  // the derivation rides a single-row max broadcast, the q92 scalar
  // pattern). 3 iterations of the integer recurrence — every division
  // integral, so the full rank vector hash-matches the chained-CTE twin.
  // See PageRank.iterate for the per-iteration scale shape.
  def q103PageRank(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    graft.operators.PageRank.iterate(linkEdges(docs), docs, iters = 3,
        dampingPct = 85, scale = 1000000L)
      .orderBy(col("id"))
  }

  /** The q103/q109/q140 directed link-graph synthesis (3 modular
    * out-links per doc — the corpus has no real link column; the max-id
    * derivation rides a single-row broadcast, the q92 scalar pattern).
    * ONE definition; its oracle twin is the shared linkGraphCtes text. */
  private[graft] def linkEdges(docs: DataFrame): DataFrame = {
    val m = docs.agg((max(col("id")) + 1).as("m"))
    docs.crossJoin(broadcast(m))
      .select(col("id").as("src"), explode(array(
        (col("id") * 7 + 3) % col("m"),
        (col("id") * 13 + 5) % col("m"),
        (col("id") + 1) % col("m"))).as("dst"))
  }

  // Per-dimension robust-scaling stats (the feature-normalization prep
  // step): min/max plus nearest-rank p25/p50/p75 and IQR per embedding
  // dimension, all over 1e3 fixed-point "millibins". The quantization IS
  // the scale design: raw floats are near-unique (exact percentile state
  // would be O(rows) per dim — the q78 anti-shape), millibins bound the
  // histogram at O(dims × bins) at any corpus size, and the declared
  // precision makes the result deterministic and hash-matchable instead
  // of sketch-approximate. Nearest-rank (k = ⌈n·q/100⌉) keeps rank
  // selection pure-integer — no interpolation arithmetic to diverge.
  def q102RobustScale(s: SparkSession, dir: String): DataFrame = {
    val el = t(s, dir)("embeddings").where(col("embedding").isNotNull)
      .select(posexplode(transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")))
        .as(Seq("pos", "mb")))
    val hist = el.groupBy(col("pos"), col("mb")).agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy("pos").orderBy("mb")
    val wAll = Window.partitionBy("pos")
    val ranked = hist
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("cum", sum(col("c")).over(wOrd))
    def k(q: Int) = expr(s"(n * $q + 99) div 100")
    def vAt(q: Int) = min(when(col("cum") >= k(q), col("mb")))
    ranked.groupBy(col("pos"), col("n"))
      .agg(min(col("mb")).as("min_mb"), max(col("mb")).as("max_mb"),
        vAt(25).as("p25_mb"), vAt(50).as("p50_mb"), vAt(75).as("p75_mb"))
      .withColumn("iqr_mb", col("p75_mb") - col("p25_mb"))
      .orderBy(col("pos"))
  }

  // CDC merge (the change-feed apply every lakehouse table lives by):
  // a deterministic feed derived from orders — price updates at seq 1,
  // deletes at seq 2, re-inserts of half the deleted keys at seq 3 —
  // rolled into the snapshot by CdcMerge's single keyed max_by agg.
  // Output folds the merged snapshot to per-status counts and exact
  // cent sums, so the hash gate pins update/delete/reinsert semantics.
  def q101CdcMerge(s: SparkSession, dir: String): DataFrame = {
    val key = col("o_orderkey")
    val base = t(s, dir)("orders")
      .select(key, col("o_orderstatus"),
        cents(col("o_totalprice")).as("price_c"))
    // the synthetic change feed from ONE pruned scan instead of a
    // 3-branch union that re-read orders per op kind (4 orders scans in
    // the executed plan; guide §1.2 — don't run passes you can fuse):
    // each matching row emits its (seq, op, price) variants via a
    // null-compacted array explode — identical feed rows, and row order
    // is irrelevant to the keyed (key, seq) merge downstream
    def opS(pred: org.apache.spark.sql.Column, seq: Long, o: String,
            price: org.apache.spark.sql.Column) =
      when(pred, struct(price.as("price_c"), lit(seq).as("seq"),
        lit(o).as("op")))
    val feed = t(s, dir)("orders")
      .where(key % 5 === 0 || key % 7 === 0)
      .select(key, col("o_orderstatus"),
        explode(array_compact(array(
          opS(key % 5 === 0, 1L, "U", cents(col("o_totalprice")) + 100000L),
          opS(key % 7 === 0, 2L, "D", lit(0L)),
          opS(key % 14 === 0, 3L, "I", lit(9999L))))).as("c"))
      .select(key, col("o_orderstatus"), col("c.price_c"), col("c.seq"),
        col("c.op"))
    graft.operators.CdcMerge.merge(base, feed,
        "o_orderkey", "seq", "op")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price_c")).as("sum_c"))
      .orderBy(col("o_orderstatus"))
  }

  // Retention cohort triangle (the product-analytics staple): users
  // grouped by first-seen week, per (cohort_week, weeks_since) the count
  // of distinct users still active. Week indices are integer day-diffs
  // from an anchored Monday — cross-engine date_trunc('week') semantics
  // never enter the query. Shape: per-user min (map-side combine), a
  // user-keyed join carrying the cohort back onto activity (co-hashed on
  // user), distinct (user, offset) then a tiny cell count — every
  // shuffle is user-cardinality or smaller, none is event-cardinality.
  def q100RetentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val anchor = lit(java.sql.Date.valueOf("2024-01-01"))
    val ev = t(s, dir)("events")
      .select(col("user_id"), to_date(col("ts")).as("day"))
    val first = ev.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
      .withColumn("cohort_week",
        floor(datediff(col("cohort_day"), anchor) / 7).cast("int"))
    ev.distinct()
      .join(first, Seq("user_id"))
      .select(col("user_id"), col("cohort_week"),
        floor(datediff(col("day"), col("cohort_day")) / 7)
          .cast("int").as("weeks_since"))
      .distinct()
      .groupBy(col("cohort_week"), col("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("weeks_since"))
  }

  // Inverted-index build (the retrieval side of a corpus search stack):
  // per term its document frequency, collection frequency, and the top-3
  // postings by in-doc tf (ties to lowest doc), serialized "doc:tf". Two
  // map-side-combining aggs over the exploded (term, doc) stream; the
  // top-3 rides the partial WindowGroupLimit (k-bounded shuffle per
  // term, same as every kNN ranking here); stats and postings meet in a
  // vocab-sized join — the corpus text never shuffles twice.
  def q99InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val tf = t(s, dir)("documents")
      .select(col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
    val w = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id"))
    val posts = tf
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .groupBy(col("term"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rank"), col("doc_id"),
          col("tf")))),
        x => concat(x.getField("doc_id").cast("string"), lit(":"),
          x.getField("tf").cast("string"))), ",").as("top_postings"))
    stats.join(posts, Seq("term"))
      .where(col("df") >= 5)
      .orderBy(col("term"))
  }

  // Blocked fuzzy record linkage: dirty-title pairs within an edit
  // distance of 2, candidates blocked on the first token so the
  // quadratic bill is per block, never corpus-wide. The edit-distance
  // regime q21/q94's shingle-set ops can't see: one typo in a short
  // title barely moves Levenshtein but destroys every 3-gram it touches.
  def q98FuzzyJoin(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    Dedup.blockedFuzzyPairs(t(s, dir)("documents"), "doc_id",
        blockCol = element_at(toks, 1),
        nameCol = concat_ws(" ", slice(toks, 1, 3)),
        maxDist = 2, pred = col("doc_id") < 1000)
      .orderBy(col("id1"), col("id2"))
  }

  // URL canonicalization + dedup (the crawl frontier's first filter):
  // scheme/www/tracking-param/trailing-slash variants of the same page
  // collapse to one canonical key; per key, the copy count and the
  // keep-lowest doc. URLs are synthesized per doc the q84 way (the corpus
  // has no url column), with every variant axis driven off doc_id so the
  // canonicalizer's branches all fire. One hash agg on the canonical
  // string — the same scale shape as exact dedup q20.
  def q97UrlCanonical(s: SparkSession, dir: String): DataFrame = {
    val url = concat(
      when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("http://")),
      when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
      lit("site-"), col("source"), lit(".example/p/"),
      (col("doc_id") % 40).cast("string"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
      when(col("doc_id") % 2 === 0, lit("?utm_source=feed&ref=a"))
        .otherwise(when(col("doc_id") % 5 === 0,
          concat(lit("?id="), (col("doc_id") % 7).cast("string")))
          .otherwise(lit(""))))
    t(s, dir)("documents")
      .select(col("doc_id"),
        TextFunctions.canonicalizeUrl(url).as("canonical"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keeper"))
      .orderBy(col("canonical"))
  }

  // Rolling z-score anomaly detection over the event stream (the metric-
  // monitoring op a pipeline runs over its own telemetry): per user, a
  // trailing window of the 8 preceding values; an event is anomalous when
  // its deviation from the window mean exceeds 3 sigma. The z-test is
  // cross-multiplied into pure integer arithmetic — (n·v − S)² > 9·(n·Q −
  // S²) over value-cents — so no sqrt, no float variance, and the flag
  // hash-matches DuckDB bit for bit. Scale shape: ONE window partitioned
  // by user_id (millions of parallel partitions on a real corpus, no
  // global sort), trailing-rows frame evaluated incrementally by Spark's
  // sliding-frame aggregator — O(1) per row, O(N) total.
  def q96RollingAnomaly(s: SparkSession, dir: String): DataFrame =
    rollingAnomaly(t(s, dir)("events")).orderBy(col("event_id"))

  private[graft] def rollingAnomaly(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-8, -1)
    events
      .select(col("event_id"), col("user_id"), col("ts"),
        cents(col("value")).as("c"))
      .select(col("event_id"), col("c"),
        count(lit(1)).over(w).as("n_prev"),
        coalesce(sum(col("c")).over(w), lit(0L)).as("s_prev"),
        coalesce(sum(col("c") * col("c")).over(w), lit(0L)).as("q_prev"))
      .withColumn("dev", col("n_prev") * col("c") - col("s_prev"))
      .withColumn("anomaly",
        col("n_prev") >= 4 &&
          col("dev") * col("dev") >
            lit(9L) * (col("n_prev") * col("q_prev") -
              col("s_prev") * col("s_prev")))
      .select(col("event_id"), col("n_prev"), col("s_prev"), col("anomaly"))
  }

  // SemDeDup-style semantic dedup: embedding-space cells (adaptive K, so
  // the intra-cell pair count is O(N · targetCell) at any corpus size),
  // integer cosine ≥ 0.45 within a cell, keep-lowest-id. The embedding
  // counterpart of q20/q22: catches paraphrase-level duplicates exact and
  // shingle dedup can't see. Integer-exact → full hash gate (unlike
  // q31's float LSH); see Similarity.semanticDedup for the scale bills.
  def q95SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(s, dir)("embeddings"), "vec_id", "embedding",
      scale = 1000000L, targetCell = 64, minK = 8, thresholdPct = 45)

  // Fixed-point covariance matrix over the first 16 embedding dimensions
  // (the PCA/whitening prep pass before any projection-based index): the
  // upper triangle of n·Σxy − Σx·Σy in exact millibin integers. Scale
  // shape: each row's 136 pair products stream THROUGH a map-side-
  // combining hash agg — post-shuffle state is O(d²) at any corpus size,
  // the classic "Gram matrix is tiny even when the matrix isn't" move —
  // and the 16-row per-dim sum table broadcasts onto the pair frame
  // twice. Bounds: |mb| ≤ ~2e3, so n·Σxy at the 1000× decade is ~2.5e17
  // — inside long; the decimal(38,0) cross-multiply never rounds.
  def q106Covariance(s: SparkSession, dir: String): DataFrame = {
    val d = 16
    val rows = t(s, dir)("embeddings").where(col("embedding").isNotNull)
      .select(transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("v"))
    val pairs = rows.select(explode(flatten(
        transform(sequence(lit(0), lit(d - 1)), i =>
          transform(sequence(i, lit(d - 1)), j => struct(
            i.cast("int").as("i"), j.cast("int").as("j"),
            (element_at(col("v"), i + 1) * element_at(col("v"), j + 1))
              .as("p")))))).as("e"))
      .select(col("e.i"), col("e.j"), col("e.p"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sxy"))
    val dims = rows.select(posexplode(slice(col("v"), 1, d))
        .as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(sum(col("x")).as("sx"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    pairs
      .join(broadcast(dims.select(col("pos").as("i"), col("sx").as("sx_i"))),
        Seq("i"))
      .join(broadcast(dims.select(col("pos").as("j"), col("sx").as("sx_j"))),
        Seq("j"))
      .select(col("i"), col("j"), col("n"),
        (dec(col("n")) * dec(col("sxy")) - dec(col("sx_i")) * dec(col("sx_j")))
          .cast("long").as("cov_num"))
      .orderBy(col("i"), col("j"))
  }

  // Hashing-trick featurization (the fixed-width bag-of-words projection
  // linear probes train on): token -> portable-md5 bucket mod 256. The
  // catalog readout is the corpus-level bucket census — occurrences plus
  // exact distinct-doc counts — so the driver gate pins the hash, the
  // bucketing, and the dedup shape at once. Occurrence counts map-side-
  // combine to 256 rows; the distinct-doc count dedups (bucket, doc)
  // pairs BEFORE counting (the q78/q89 lesson: never countDistinct-Expand
  // over the corpus).
  def q107FeatureHash(s: SparkSession, dir: String): DataFrame = {
    val tok = t(s, dir)("documents")
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text")))
        .as("w"))
      .where(length(col("w")) > 0)
      .select(col("doc_id"),
        (graft.functions.PortableHash.md5Head60(concat(lit("fh:"), col("w")))
          % 256).cast("int").as("bucket"))
    // ONE aggregation (r17): the occurrence count and the distinct-doc
    // count previously ran as two aggregations over separate plans of
    // tok — two tokenize+hash passes — joined back on bucket.
    // count_distinct inside the same groupBy is the identical result
    // (Spark plans it as a (bucket, doc_id) partial expand, still one
    // scan) with zero joins.
    tok.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        count_distinct(col("doc_id")).as("n_docs"))
      .orderBy(col("bucket"))
  }

  // Incremental rollup maintenance (see operators/IncrAgg): the orders
  // fact split at a cutover date into a "base" slice (the pre-aggregated
  // state a production table would already hold) and a "delta" slice (the
  // new day's partition); the readout merges the two partial states and
  // derives avg from them. The oracle recomputes the rollup from the full
  // fact — hash equality IS the proof that state-merge refresh ≡ full
  // rescan. Money through exact cents; avg as integral div.
  def q108IncrAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrAgg
    val o = t(s, dir)("orders").select(col("o_orderpriority"),
      (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("int").as("ym"),
      cents(col("o_totalprice")).as("price_c"),
      col("o_orderdate"))
    val keys = Seq("o_orderpriority", "ym")
    val sums = Map("st_price_c" -> col("price_c"))
    val base = IncrAgg.state(
      o.where(col("o_orderdate") < lit("1997-06-01")), keys, sums)
    val delta = IncrAgg.state(
      o.where(col("o_orderdate") >= lit("1997-06-01")), keys, sums)
    IncrAgg.merge(Seq(base, delta), keys)
      .select(col("o_orderpriority"), col("ym"),
        col("st_cnt").as("n_orders"), col("st_price_c").as("total_c"),
        expr("st_price_c div st_cnt").as("avg_c"))
      .orderBy(col("o_orderpriority"), col("ym"))
  }

  // Triangle census over the q103 synthesized link graph (see
  // operators/Graphs): oriented wedge join + closing-edge mark, one row
  // out. The integer counts hash-match the DuckDB twin exactly.
  def q109Triangles(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    graft.operators.Graphs.triangleStats(linkEdges(docs))
  }

  // BPE-style merge-candidate counting (the inner loop of tokenizer
  // training): within-word adjacent character pairs over every token
  // occurrence, global top-30 by count. Pair extraction is a per-row
  // array expression (zero pre-shuffle blowup reaches the exchange — the
  // pairs stream into the partial agg); the top-30 is a bounded
  // TakeOrdered. One merge iteration's candidate table; production loops
  // this against a vocabulary table, same shape each round.
  def q110BpePairs(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir)("documents")
      .select(explode(TextFunctions.tokens(col("text"))).as("w"))
      .where(length(col("w")) >= 2)
    toks.select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(30)
  }

  // Canonical text normalization (the pre-dedup scrub every pipeline
  // runs): lowercase, non-alphanumerics to spaces, whitespace collapse,
  // trim — fingerprinted with md5 so the driver gate pins every rule.
  // Pure per-row map: zero shuffles besides the output sort. The rule
  // chain runs as ONE codegen'd byte scan (plans/NormalizeAscii) — the
  // composed 4-rewrite chain measured 25.4 s at the 100× dir and runs
  // TWICE under the output sort (range-partition sampling re-executes
  // the projection), so fusing it is the whole ballgame here.
  def q111Normalize(s: SparkSession, dir: String): DataFrame = {
    val norm = TextFunctions.normalizeAscii(col("text"))
    t(s, dir)("documents")
      .select(col("doc_id"), md5(norm).as("fp"),
        (length(col("text")) - length(norm)).cast("int").as("delta"))
      .orderBy(col("doc_id"))
  }

  private[graft] def shardAssign(docs: DataFrame, nShards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hi = 1L << 53 // 60-bit key → 128 buckets
    val keyed = docs.select(col("doc_id"),
        graft.functions.PortableHash.md5Head60(
          concat(lit("shuf:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard", (col("k") % nShards).cast("int"))
      .withColumn("bkt", expr(s"CAST(k div $hi AS INT)"))
    val counts = keyed.groupBy(col("shard"), col("bkt"))
      .agg(count(lit(1)).as("c"))
      .orderBy(col("shard"), col("bkt"))
      .collect() // ≤ nShards × 128 aggregated rows — NOT a data collect
    var prevShard = Int.MinValue
    var acc = 0L
    val offsetRows = counts.map { r =>
      val sh = r.getInt(0)
      if (sh != prevShard) { prevShard = sh; acc = 0L }
      val off = acc; acc += r.getLong(2); (sh, r.getInt(1), off)
    }.toSeq
    import docs.sparkSession.implicits._
    val offsets = offsetRows.toDF("shard", "bkt", "off")
    val w = Window.partitionBy(col("shard"), col("bkt"))
      .orderBy(col("k"), col("doc_id"))
    keyed.join(broadcast(offsets), Seq("shard", "bkt"))
      .withColumn("pos", (col("off") + row_number().over(w)).cast("int"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  // Exact substring-window duplication census (the char-level flavor of
  // training-data dedup: repeated 40-char passages, not whole-doc or
  // token-chunk copies — complements q85's token chunks): 40-char windows
  // at stride 20 over the normalized text; a window is "duplicated" when
  // it occurs in ≥2 DISTINCT docs. One text scan; windows shuffle as
  // 60-bit md5Head60 LONGS (8 B — the full-hex md5 string key measured
  // 310 s at the 1000× dir, ~30× the 100× time, purely from pushing
  // 105M × 50 B string keys through three exchanges; collision odds at
  // 1e12 windows are ~4e-8 per window, and the oracle applies the same
  // truncation so parity is exact). Distinct-doc counts come from the
  // already-deduped (window, doc) occurrence frame — no countDistinct
  // Expand over the corpus (the q78 lesson) — and the whole census runs
  // on ONE exchange by wh: after the explicit repartition, the
  // (wh, doc_id) and (wh) aggregations and their join all reuse
  // HashPartitioning(wh) (it satisfies each one's clustering), so only
  // the final per-doc rollup shuffles again.
  def q112WindowDup(s: SparkSession, dir: String): DataFrame = {
    val W = 40; val S = 20
    val occ = t(s, dir)("documents")
      .select(col("doc_id"),
        TextFunctions.normalizeAscii(col("text")).as("nt"))
      .where(length(col("nt")) >= W)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), floor((length(col("nt")) - W) / S).cast("int")),
        i => graft.functions.PortableHash.md5Head60(
          col("nt").substr(i * S + 1, lit(W))))).as("wh"))
      .repartition(col("wh"))
    // per-(window, doc) occurrence counts: the ONLY pass over text
    val perDoc = occ.groupBy(col("wh"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    val winDocs = perDoc.groupBy(col("wh"))
      .agg(count(lit(1)).as("nd"))
    perDoc.join(winDocs, Seq("wh"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("int").as("n_windows"),
        sum(when(col("nd") >= 2, col("c")).otherwise(lit(0L)))
          .cast("int").as("n_dup_windows"))
      .orderBy(col("doc_id"))
  }

  // Deterministic weighted systematic sampling (the mixture-executor: a
  // target number of docs drawn proportionally to token weight, stable
  // across runs and engines): docs laid out on a md5-shuffled line, one
  // pick per `step` weight units. The global cumulative weight uses q56's
  // scale pattern — 256 hash-prefix buckets, per-bucket totals cumulated
  // on the DRIVER (O(256) rows, not a data collect), WITHIN-bucket window
  // only; no unpartitioned window ever sees a data row.
  def q113SystematicSample(s: SparkSession, dir: String): DataFrame = {
    val target = 100L
    val keyed = t(s, dir)("documents")
      .select(col("doc_id"),
        md5(concat(lit("sys:"), col("doc_id").cast("string"))).as("h"),
        TextFunctions.tokenCount(col("text")).cast("long").as("w"))
      .withColumn("pid", conv(substring(col("h"), 1, 2), 16, 10).cast("int"))
    val bucketSums = keyed.groupBy(col("pid")).agg(sum(col("w")).as("ps"))
      .orderBy(col("pid"))
      .collect() // ≤ 256 aggregated rows — NOT a data collect
    var acc = 0L
    val offsetRows = bucketSums.map { r =>
      val off = acc; acc += r.getLong(1); (r.getInt(0), off)
    }.toSeq
    val step = math.max(acc / target, 1L)
    import s.implicits._
    val offsets = offsetRows.toDF("pid", "poff")
    val wLoc = Window.partitionBy(col("pid")).orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    keyed.join(broadcast(offsets), Seq("pid"))
      .withColumn("cb", col("poff") + coalesce(sum(col("w")).over(wLoc), lit(0L)))
      .where(expr(s"(cb + w) div $step > cb div $step"))
      .select(col("doc_id"), col("w").cast("int").as("n_tok"),
        expr(s"CAST((cb + w) div $step AS INT)").as("tick"))
      .orderBy(col("doc_id"))
  }

  // Grouped OLS (y = extendedprice cents on x = quantity) from EXACT
  // integer moment sums: every Σ is a decimal(38,0) over integer inputs
  // (order-independent, overflow-checked to ~1e38 — headroom past the
  // 10000× decade), and only the FINAL slope/intercept/r² arithmetic runs
  // in doubles, where both engines execute the identical IEEE op sequence
  // on identical correctly-rounded inputs — so micro-unit outputs
  // hash-match. One map-side-combining pass, 3 rows out.
  def q114Ols(s: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val li = t(s, dir)("lineitem").select(col("l_returnflag"),
      col("l_quantity").cast("long").as("x"),
      cents(col("l_extendedprice")).as("y"))
    val sums = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
      sum(dec(col("x")) * dec(col("y"))).as("sxy"),
      sum(dec(col("x")) * dec(col("x"))).as("sxx"),
      sum(dec(col("y")) * dec(col("y"))).as("syy"))
    val d = (name: String) => col(name).cast("double")
    sums.select(col("l_returnflag"), col("n"),
        (d("n") * d("sxy") - d("sx") * d("sy")).as("num"),
        (d("n") * d("sxx") - d("sx") * d("sx")).as("den"),
        (d("n") * d("syy") - d("sy") * d("sy")).as("deny"),
        d("n").as("nd"), d("sx").as("sxd"), d("sy").as("syd"))
      .select(col("l_returnflag"), col("n"),
        when(col("den") =!= 0.0,
          round(col("num") / col("den") * 1e6, 0).cast("long"))
          .as("slope_micro"),
        when(col("den") =!= 0.0,
          round((col("syd") * col("den") - col("num") * col("sxd"))
            / (col("nd") * col("den")) * 1e6, 0).cast("long"))
          .as("icept_micro"),
        when(col("den") * col("deny") =!= 0.0,
          round(col("num") * col("num") / (col("den") * col("deny")) * 1e6, 0)
            .cast("long"))
          .as("r2_ppm"))
      .orderBy(col("l_returnflag"))
  }

  // Corpus drift monitor: total-variation distance between the unigram
  // distributions of two corpus snapshots (even/odd doc_id halves stand in
  // for yesterday/today). Per-token drift numerator |c0·N1 − c1·N0| is
  // INTEGER-exact (decimal against the 10000× decade); the readout is the
  // top-25 drifting tokens plus the corpus-level TVD in ppb — one
  // conditional-agg pass over tokens (absent-in-one-half tokens fall out
  // of the same groupBy with c=0, no outer join), one single-row totals
  // broadcast (PlanSpec-allowlisted).
  def q115TvDrift(s: SparkSession, dir: String): DataFrame = {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val tok = t(s, dir)("documents")
      .select((col("doc_id") % 2 === 0).as("h0"),
        explode(TextFunctions.tokens(col("text"))).as("w"))
      .where(length(col("w")) > 0)
    val counts = tok.groupBy(col("w")).agg(
      sum(when(col("h0"), 1L).otherwise(0L)).as("c0"),
      sum(when(!col("h0"), 1L).otherwise(0L)).as("c1"))
    val totals = counts.agg(sum(col("c0")).as("n0"), sum(col("c1")).as("n1"))
    val drift = counts.crossJoin(broadcast(totals))
      .select(col("w"), col("c0"), col("c1"),
        abs(dec(col("c0")) * dec(col("n1")) - dec(col("c1")) * dec(col("n0")))
          .as("dnum"), col("n0"), col("n1"))
    // corpus TVD in ppb: exact decimal numerator, then ONE double divide
    // executed with the identical IEEE op order in the oracle
    val tvd = drift.agg(
        floor(sum(col("dnum")).cast("double") * lit(1e9)
          / (lit(2.0) * max(col("n0")).cast("double")
            * max(col("n1")).cast("double")))
          .cast("long").as("tvd_ppb"))
    drift
      .orderBy(col("dnum").desc, col("w"))
      .limit(25)
      .crossJoin(broadcast(tvd))
      .select(col("w"), col("c0"), col("c1"),
        col("dnum").cast("long").as("drift_num"), col("tvd_ppb"))
      .orderBy(col("drift_num").desc, col("w"))
  }

  // Schema-wide data profiler (the first thing a pipeline runs on a new
  // drop): per-column row/null/distinct counts and min/max reprs for the
  // documents table. Values travel as md5 digests for the distinct count
  // (16 B on the wire regardless of column width) and the (col, digest)
  // frame is deduped BEFORE counting; min/max reduce over the raw repr in
  // a partial agg. One scan, two compact shuffles.
  def q116Profile(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
    val docs = t(s, dir)("documents")
    val pairs = docs.select(explode(array(cols.map(c =>
        struct(lit(c).as("name"), col(c).cast("string").as("v"))): _*))
        .as("e"))
      .select(col("e.name").as("name"), col("e.v").as("v"))
    val basic = pairs.groupBy(col("name")).agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
      min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    val distincts = pairs.where(col("v").isNotNull)
      .select(col("name"), md5(col("v")).as("d")).distinct()
      .groupBy(col("name")).agg(count(lit(1)).as("n_distinct"))
    basic.join(distincts, Seq("name"), "left")
      .select(col("name"), col("n_rows"), col("n_null"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_v"), col("max_v"))
      .orderBy(col("name"))
  }

  // Mergeable exact-percentile state (q108's refresh guarantee extended to
  // order statistics): per-slice (key, value, count) histogram states from
  // a shipdate-split fact, merged by one keyed sum — hash equality against
  // the full-rescan oracle IS the proof that percentile state-merge ≡
  // rescan. Post-shuffle state is O(keys × distinct values), not O(rows),
  // at any SF; interpolation follows q78's exact lo/hi rank reconstruction.
  def q117PctlStateMerge(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir)("lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_shipdate"))
    def state(pred: org.apache.spark.sql.Column) =
      li.where(pred).groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
    val merged = state(col("l_shipdate") < lit("1996-01-01"))
      .unionByName(state(col("l_shipdate") >= lit("1996-01-01")))
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(sum(col("c")).as("c"))
    val wOrd = Window.partitionBy("l_returnflag")
      .orderBy(col("l_quantity").asc_nulls_first)
    val wAll = Window.partitionBy("l_returnflag")
    val ranked = merged
      .withColumn("nn",
        sum(when(col("l_quantity").isNotNull, col("c"))).over(wAll))
      .withColumn("cum",
        when(col("l_quantity").isNotNull,
          sum(when(col("l_quantity").isNotNull, col("c"))).over(wOrd)))
    def vAtRank(rank: org.apache.spark.sql.Column) =
      min(when(col("cum") > rank, col("l_quantity")))
    def pos(p: Double) = lit(p) * (col("nn") - 1)
    def interp(p: Double) =
      round(vAtRank(floor(pos(p))) + (pos(p) - floor(pos(p)))
        * (vAtRank(ceil(pos(p))) - vAtRank(floor(pos(p)))), 2)
    ranked.groupBy(col("l_returnflag"), col("nn"))
      .agg(interp(0.25).as("p25"), interp(0.5).as("p50"),
        interp(0.75).as("p75"), interp(0.95).as("p95"))
      .select(col("l_returnflag"), col("nn").as("n"),
        col("p25"), col("p50"), col("p75"), col("p95"))
      .orderBy(col("l_returnflag"))
  }

  // Tokenizer-apply (one BPE inference pass over the fixed ordered merge
  // table in plans/BpeMerges — the production shape loops this against a
  // learned vocabulary, same rewrite each round): each rule is one
  // left-to-right non-overlapping pass over the token's unit sequence,
  // where a freshly merged unit is not re-eligible within the same pass.
  // Runs as ONE codegen'd kernel over a local unit array
  // (plans/BpeKernel) — the composed char-lattice replace() chain it
  // replaces allocated ~3× the corpus per rule and measured 237 s at the
  // 1000× dir (~28× its 100× time, pure GC churn); the kernel's
  // semantics equal the lattice chain, parity-pinned in SampleStatsSpec,
  // and the DuckDB oracle still replays the lattice form — the engines'
  // hash equality therefore also re-proves kernel ≡ chain per run.
  // Readout: top-30 subword units.
  def q118BpeApply(s: SparkSession, dir: String): DataFrame = {
    graft.plans.TextExpressions.register(s)
    val toks = t(s, dir)("documents")
      .select(explode(TextFunctions.tokens(
        TextFunctions.normalizeAscii(col("text")))).as("w"))
      .where(length(col("w")) > 0)
    toks.select(explode(call_function("bpe_units", col("w"))).as("unit"))
      .groupBy(col("unit")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("unit"))
      .limit(30)
  }

  /** The char-lattice replace-chain twin of plans/BpeKernel (the q118
    * SampleStatsSpec parity pin; double-space separators keep EVERY
    * adjacent occurrence mergeable under a left-to-right replace-all). */
  private[graft] def bpeApplyComposed(w: org.apache.spark.sql.Column) = {
    val lattice = regexp_replace(w, "(.)", " $1 ")
    val merged = graft.plans.BpeMerges.table.foldLeft(lattice) {
      case (acc, (a, b)) => replace(acc, lit(s" $a  $b "), lit(s" $a$b "))
    }
    split(trim(merged), "  ")
  }

  /** q121's sparse block-local link graph: 8-node blocks, one in-block
    * edge per doc except every third doc (so blocks fragment into
    * multiple non-trivial components — unlike q103's +1 ring, which is
    * one giant component and useless for CC work). The dst semi-join
    * against the doc universe is LOAD-BEARING: a corpus whose max id is
    * not 8-aligned synthesizes dst ids past the end (sf0.01's 500 docs
    * → phantom 500–503), which the engine's doc-rooted readout would
    * drop while a closure that walks raw edges would count — the round-10
    * debug hunt's exact mismatch. Canonical undirected distinct edges. */
  private[graft] def blockEdges(docs: DataFrame): DataFrame =
    docs.where(col("id") % 3 =!= 0)
      .select(col("id").as("src"),
        ((col("id") - (col("id") % 8)) + (col("id") * 5 + 1) % 8).as("dst"))
      .where(col("src") =!= col("dst"))
      .join(docs.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .select(least(col("src"), col("dst")).as("id1"),
        greatest(col("src"), col("dst")).as("id2"))
      .distinct()

  // Incremental connected components (the graph member of the q108/q117
  // mergeable-state family): the base slice's components collapse to
  // min-id super-nodes, the delta batch's endpoints REMAP to those reps
  // (two left joins), and a second CC runs over the rep-graph — which is
  // component-count-sized, not corpus-sized. Hash equality with the
  // full-graph oracle proves refresh ≡ recompute: every base member's
  // id ≥ its rep, so the merged rep-graph's min-id equals the full
  // component's min-id. Readout: (cluster, size) over ALL docs
  // (isolated docs are their own singleton cluster).
  def q121CcIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    val canon = blockEdges(docs)
    val base = canon.where((col("id1") + col("id2")) % 5 =!= 0)
    val delta = canon.where((col("id1") + col("id2")) % 5 === 0)
    val baseCC = graft.operators.Dedup.connectedComponents(base)
    val d1 = delta
      .join(baseCC.withColumnRenamed("id", "id1")
        .withColumnRenamed("cluster", "c1"), Seq("id1"), "left")
      .join(baseCC.withColumnRenamed("id", "id2")
        .withColumnRenamed("cluster", "c2"), Seq("id2"), "left")
      .select(coalesce(col("c1"), col("id1")).as("r1"),
        coalesce(col("c2"), col("id2")).as("r2"))
      .where(col("r1") =!= col("r2"))
      .select(least(col("r1"), col("r2")).as("id1"),
        greatest(col("r1"), col("r2")).as("id2"))
      .distinct()
    val mergeCC = graft.operators.Dedup.connectedComponents(d1)
    docs
      .join(baseCC, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("r"))
      .join(mergeCC.select(col("id").as("r"), col("cluster").as("mc")),
        Seq("r"), "left")
      .select(col("id"), coalesce(col("mc"), col("r")).as("cluster"))
      .groupBy(col("cluster")).agg(count(lit(1)).as("size"))
      .orderBy(col("cluster"))
  }

  // ECDF binning for feature preparation: within each returnflag, the
  // extendedprice distribution in $100 units (bounded ~O(1k) distinct
  // bins — raw cents would be the q78 anti-shape) mapped to deciles by
  // exact cumulative rank. Post-shuffle state O(flags × bins) at any SF;
  // the decile of a bin is decided by its FIRST row's cumulative
  // position, integer arithmetic end to end.
  def q122PriceBands(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir)("lineitem").select(col("l_returnflag"),
      expr("CAST(CAST(round(l_extendedprice * 100) AS BIGINT) div 10000 AS BIGINT)")
        .as("usd100"))
    val hist = li.groupBy(col("l_returnflag"), col("usd100"))
      .agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy("l_returnflag").orderBy("usd100")
    val wAll = Window.partitionBy("l_returnflag")
    hist
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("cum", sum(col("c")).over(wOrd))
      .withColumn("band",
        expr("CAST(((cum - c) * 10) div n AS INT)"))
      .groupBy(col("l_returnflag"), col("band"))
      .agg(sum(col("c")).as("n_rows"),
        min(col("usd100")).as("lo_usd100"),
        max(col("usd100")).as("hi_usd100"))
      .orderBy(col("l_returnflag"), col("band"))
  }

  // Late-data audit (the batch twin of a watermark health check): an
  // event is LATE when it lands more than 10 minutes behind the maximum
  // timestamp its user had already produced, in event_id arrival order.
  // One partitioned running-max window (per-user state), exact integer
  // second arithmetic; per-type rates and worst lateness.
  def q123LateData(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir)("events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("prev_max", max(col("sec")).over(w))
      .withColumn("late_s",
        when(col("prev_max") - col("sec") > 600, col("prev_max") - col("sec")))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("late_s")).as("n_late"),
        coalesce(max(col("late_s")), lit(0L)).as("max_late_s"))
      .orderBy(col("event_type"))
  }

  // k-core peeling over the synthesized link graph (q103/q109's edges):
  // four deterministic peel rounds at k=3 — degree census (both endpoints
  // stream into one map-side-combining agg), drop nodes under k, keep
  // edges whose BOTH endpoints survive (two left-semi hash joins on node
  // id). Per-round survivor counts are single-row aggregates; the whole
  // sweep shuffles node-id/degree pairs only, never adjacency lists.
  // Each round's edge/alive frames are LOCALCHECKPOINTED (the Dedup.
  // connectedComponents iteration pattern): round r's plan references
  // round r-1 in FIVE places (two degree arms, one join input, alive on
  // both semi sides), so an untruncated lineage is a ~5^rounds-node tree —
  // the analyzer/AQE re-optimization walked it into a driver heap OOM at
  // 8 GiB, data size irrelevant. Checkpointing caps every round's plan at
  // a LogicalRDD leaf; the materialized frames are edge/node-id pairs,
  // tiny relative to the corpus at any SF.
  def q119Kcore(s: SparkSession, dir: String): DataFrame = {
    val k = 3; val rounds = 4
    val docs = t(s, dir)("documents").select(col("doc_id").as("id"))
    val raw = linkEdges(docs)
    var edges = raw.where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint()
    val stats = (1 to rounds).map { r =>
      val deg = edges.select(col("a").as("n"))
        .unionAll(edges.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("deg"))
      val alive = deg.where(col("deg") >= k).select(col("n"))
        .localCheckpoint()
      edges = edges
        .join(alive.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(alive.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .localCheckpoint()
      alive.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(edges.agg(count(lit(1)).as("n_edges")))
        .select(lit(r).as("round"), col("n_nodes"), col("n_edges"))
    }
    stats.reduce(_ unionAll _).orderBy(col("round"))
  }

  // Exponential time-decay rollup with a 7-day half-life in EXACT integer
  // arithmetic (the recency weighting every freshness-aware mixture
  // uses): weight 2^-⌊age/7⌋ applied as a right-shift — cents and
  // milli-counts divide by a power of two BEFORE the sum, so the result
  // is order-independent and hash-matchable, no float decay drift. One
  // map-side-combining pass; the max-date anchor is a single-row
  // broadcast (PlanSpec-allowlisted).
  def q120Decay(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir)("events")
    val mx = ev.agg(max(to_date(col("ts"))).as("d0"))
    ev.crossJoin(broadcast(mx))
      .select(col("event_type"),
        expr("datediff(d0, to_date(ts))").as("age"),
        cents(col("value")).as("vc"))
      .withColumn("k", least(expr("age div 7"), lit(62)).cast("int"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("vc div shiftleft(CAST(1 AS BIGINT), k)"))
          .as("decayed_cents"),
        sum(expr("1000 div shiftleft(CAST(1 AS BIGINT), k)"))
          .as("decayed_n_milli"))
      .orderBy(col("event_type"))
  }
}
