package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TfIdf}
import graft.sources.{CorpusToken, PqIndex, TextIndex, VectorIndex}

/** The covered-corpus version token — the O(1) freshness contract.
  *
  * Two halves: (1) every maintenance op FOLDS its delta so the stored
  * `_token` stays equal to what a fresh fingerprint scan over the
  * corpus-as-maintained would compute (fold ≡ scan, per family); (2) the
  * serving path never scans the corpus — explicitly-passed tokens are
  * compared O(1) (pinned with a poisoned corpus that explodes if any
  * non-query row's content is evaluated), and the audit path memoizes its
  * scan under the corpus's file-manifest identity. */
class TokenSpec extends SparkSpec {
  import sqlImplicits._

  private lazy val emb = (0L until 40L).map { i =>
    val base = if (i % 2 == 0) Array(1f, 0f, 0f, 0f, 1f, 0f, 0f, 0f)
    else Array(0f, 1f, 0f, 0f, 0f, 1f, 0f, 0f)
    (i, base.zipWithIndex.map { case (x, d) =>
      x + ((i * 7 + d * 3) % 11).toFloat / 23f }.toSeq)
  }.toDF("vec_id", "embedding")

  test("IVF: extend/append/delete fold the token ≡ a fresh corpus scan") {
    val idx = new VectorIndex(spark, tmpDir("tok-ivf"))
    def scan(corpus: DataFrame) = Similarity.ivfScanToken(
      corpus, "vec_id", "embedding", 5, 0, true, idx.nBands)
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    assert(idx.storedToken().contains(scan(emb)), "build seeds the token")

    // extend with genuinely-new ids
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx).collect()
    val cov1 = emb.unionByName(batch)
    assert(idx.storedToken().contains(scan(cov1)),
      "extend must fold new ids in")
    // a FULL retry of the same op nets zero (added ≡ removed)
    Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx).collect()
    assert(idx.storedToken().contains(scan(cov1)), "retry must net zero")

    // re-ingest an existing id with a CHANGED vector: old term out, new in
    val moved = Seq((100L, Seq(0f, 0f, 0f, 1f, 0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    Similarity.ivfExtendStored(moved, "vec_id", "embedding", idx).collect()
    val cov2 = cov1.where(col("vec_id") =!= 100L).unionByName(moved)
    assert(idx.storedToken().contains(scan(cov2)),
      "a changed vector must swap its content term")

    // O(batch) append
    val app = emb.where(col("vec_id") % 7 === 3)
      .select((col("vec_id") + 200L).as("vec_id"), col("embedding"))
    Similarity.ivfAppendStored(app, "vec_id", "embedding", idx).collect()
    val cov3 = cov2.unionByName(app)
    assert(idx.storedToken().contains(scan(cov3)),
      "append must fold new ids in")

    // forget path
    Similarity.ivfDeleteStored(Seq(0L, 100L, 203L).toDF("id"), idx)
      .collect()
    val cov4 = cov3.where(!col("vec_id").isin(0L, 100L, 203L))
    assert(idx.storedToken().contains(scan(cov4)),
      "delete must fold forgotten terms out")
    // compaction moves no rows — token untouched
    idx.compact()
    assert(idx.storedToken().contains(scan(cov4)))
  }

  test("text: extend/append/delete fold the token ≡ a fresh corpus scan") {
    val docs = Seq(
      (1L, "alpha beta gamma common"), (2L, "alpha beta delta common"),
      (3L, "epsilon zeta eta common"), (4L, "theta iota kappa common"))
      .toDF("doc_id", "text")
    val idx = new TextIndex(spark, tmpDir("tok-text"))
    def scan(d: DataFrame) =
      TfIdf.textScanToken(d, "doc_id", "text", 10000L, idx.nBands)
    TfIdf.sparseBuildStored(docs, "doc_id", "text", idx).collect()
    assert(idx.storedToken().contains(scan(docs)))

    val batch = Seq((10L, "alpha omega fresh common")).toDF("doc_id", "text")
    TfIdf.sparseExtendStored(batch, "doc_id", "text", idx).collect()
    val cov1 = docs.unionByName(batch)
    assert(idx.storedToken().contains(scan(cov1)))

    // re-post an existing doc with EDITED text
    val edited = Seq((2L, "totally rewritten body")).toDF("doc_id", "text")
    TfIdf.sparseExtendStored(edited, "doc_id", "text", idx).collect()
    val cov2 = cov1.where(col("doc_id") =!= 2L).unionByName(edited)
    assert(idx.storedToken().contains(scan(cov2)),
      "edited text must swap its content term")

    TfIdf.sparseAppendStored(
      Seq((11L, "psi chi phi common")).toDF("doc_id", "text"),
      "doc_id", "text", idx).collect()
    val cov3 = cov2.unionByName(
      Seq((11L, "psi chi phi common")).toDF("doc_id", "text"))
    assert(idx.storedToken().contains(scan(cov3)))

    TfIdf.sparseDeleteStored(Seq(1L, 11L).toDF("id"), idx).collect()
    val cov4 = cov3.where(!col("doc_id").isin(1L, 11L))
    assert(idx.storedToken().contains(scan(cov4)))

    // re-post a doc with NULL text: it leaves the covered corpus — the
    // eviction set must come from the batch's ids, not the ledger (a
    // null-text doc yields no ledger row), so its old posting + norm
    // rows are dropped and the token folds its term out
    val nulled = Seq((3L, null: String)).toDF("doc_id", "text")
    TfIdf.sparseExtendStored(nulled, "doc_id", "text", idx).collect()
    val cov5 = cov4.where(col("doc_id") =!= 3L)
    assert(idx.readPostings().where(col("id") === 3L).count() == 0,
      "a null-text re-post must evict the doc's posting rows")
    assert(idx.readNorms().where(col("id") === 3L).count() == 0,
      "a null-text re-post must evict the doc's ledger row")
    assert(idx.storedToken().contains(scan(cov5)),
      "the token must fold a null-text re-post out of the covered corpus")
  }

  test("PQ: extend/append/delete fold the token ≡ a fresh corpus scan") {
    val idx = new PqIndex(spark, tmpDir("tok-pq"))
    def scan(corpus: DataFrame) = Similarity.pqScanToken(
      corpus, "vec_id", "embedding", 5, 4, 6, 1000000L, idx.nBands)
    Similarity.ivfPqBuildStored(emb, "vec_id", "embedding",
      nCells = 5, m = 4, kCodes = 6, scale = 1000000L, index = idx)
      .collect()
    assert(idx.storedToken().contains(scan(emb)))

    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Similarity.ivfPqExtendStored(batch, "vec_id", "embedding",
      m = 4, scale = 1000000L, index = idx).collect()
    val cov1 = emb.unionByName(batch)
    assert(idx.storedToken().contains(scan(cov1)))

    val app = emb.where(col("vec_id") % 7 === 3)
      .select((col("vec_id") + 200L).as("vec_id"), col("embedding"))
    Similarity.ivfPqAppendStored(app, "vec_id", "embedding",
      m = 4, scale = 1000000L, index = idx).collect()
    val cov2 = cov1.unionByName(app)
    assert(idx.storedToken().contains(scan(cov2)))

    Similarity.ivfPqDeleteStored(Seq(2L, 100L).toDF("id"), idx).collect()
    val cov3 = cov2.where(!col("vec_id").isin(2L, 100L))
    assert(idx.storedToken().contains(scan(cov3)))
  }

  private def census3(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("IVF rebuild with carry-over ≡ from-scratch build on merged corpus") {
    val idx = new VectorIndex(spark, tmpDir("reb-ivf"))
    val twin = new VectorIndex(spark, tmpDir("reb-ivf-twin"))
    Similarity.ivfBuildStored(emb, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val batch = emb.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Similarity.ivfExtendStored(batch, "vec_id", "embedding", idx).collect()
    // rebuild touches NO corpus frame — everything comes from the index
    val reb = census3(Similarity.ivfRebuildStored(
      nCentroids = 5, index = idx, portable = true))
    val merged = emb.unionByName(batch)
    val scratch = census3(Similarity.ivfBuildStored(merged, "vec_id",
      "embedding", nCentroids = 5, index = twin, portable = true))
    assert(reb == scratch,
      s"rebuild must converge to build-from-scratch: $reb vs $scratch")
    // the reconstructed fingerprint equals the merged corpus's scan form:
    // the rebuilt index reads FRESH for the merged corpus
    val mergedTok = Similarity.ivfScanToken(merged, "vec_id", "embedding",
      5, 0, true, idx.nBands)
    assert(idx.isFresh(mergedTok), "rebuilt index must be fresh for merged")
    assert(idx.storedToken().contains(mergedTok))
  }

  test("text rebuild with carry-over ≡ from-scratch build on merged docs") {
    val docs = Seq(
      (1L, "alpha beta gamma common"), (2L, "alpha beta delta common"),
      (3L, "epsilon zeta eta common"), (4L, "theta iota kappa common"))
      .toDF("doc_id", "text")
    val idx = new TextIndex(spark, tmpDir("reb-text"))
    val twin = new TextIndex(spark, tmpDir("reb-text-twin"))
    TfIdf.sparseBuildStored(docs, "doc_id", "text", idx).collect()
    // a NEW doc and an EDITED re-post, both under the stale-IDF contract
    val batch = Seq((10L, "alpha omega fresh common"),
      (2L, "alpha rewritten body common")).toDF("doc_id", "text")
    TfIdf.sparseExtendStored(batch, "doc_id", "text", idx).collect()
    val reb = census3(TfIdf.sparseRebuildStored(idx))
    val merged = docs.where(col("doc_id") =!= 2L).unionByName(batch)
    val scratch = census3(
      TfIdf.sparseBuildStored(merged, "doc_id", "text", twin))
    assert(reb == scratch,
      s"stats refresh must converge to build-from-scratch: $reb vs $scratch")
    val mergedTok =
      TfIdf.textScanToken(merged, "doc_id", "text", 10000L, idx.nBands)
    assert(idx.isFresh(mergedTok), "rebuilt index must be fresh for merged")
    assert(idx.storedToken().contains(mergedTok))
  }

  test("corpus token memoizes under file-manifest identity") {
    CorpusToken.invalidate()
    val dir = tmpDir("tok-cache")
    emb.write.mode("overwrite").parquet(dir)
    var computes = 0
    def tok(df: DataFrame): String =
      CorpusToken.cachedToken(df, "params") { computes += 1; s"T$computes" }
    // two SEPARATE reads of the same path share one computation — this is
    // what makes the catalog's per-query table reads hit the cache
    assert(tok(spark.read.parquet(dir)) == "T1")
    assert(tok(spark.read.parquet(dir)) == "T1" && computes == 1,
      "second read of the same files must not recompute")
    // a semantically different frame over the same files must not collide
    assert(tok(spark.read.parquet(dir).where(col("vec_id") < 5)) == "T2"
      && computes == 2)
    // a different params string must not collide
    assert(CorpusToken.cachedToken(spark.read.parquet(dir), "other") {
      computes += 1; s"T$computes" } == "T3")
    // rewriting the corpus changes the manifest and invalidates
    emb.where(col("vec_id") < 30).write.mode("overwrite").parquet(dir)
    assert(tok(spark.read.parquet(dir)) == "T4" && computes == 4,
      "a rewritten corpus must recompute")
    // frames with no source files are never cached
    assert(tok(emb) == "T5" && tok(emb) == "T6",
      "in-memory frames must always recompute")
  }

  test("token search: fresh index serves with ZERO corpus fingerprint scan") {
    val dir = tmpDir("tok-poison")
    emb.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val idx = new VectorIndex(spark, tmpDir("tok-poison-idx"))
    val token = Similarity.ivfCorpusToken(corpus, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true)
    Similarity.ivfBuildStored(corpus, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    assert(idx.isCurrent(token))
    // poisoned corpus: evaluating the embedding of any row OUTSIDE the
    // query window raises — a fingerprint scan must touch every row, so
    // it cannot survive this frame; the token path never scans
    val poisoned = spark.read.parquet(dir).select(col("vec_id"),
      when(col("vec_id") < 4, col("embedding"))
        .otherwise(raise_error(concat(lit("poison row "),
          col("vec_id").cast("string")))).as("embedding"))
    val got = Similarity.ivfSearchStored(poisoned, "vec_id", "embedding",
      nCentroids = 5, nProbe = 3, queryPred = col("id") < 4, k = 3,
      index = idx, portable = true, corpusToken = Some(token))
      .collect()
    assert(got.nonEmpty,
      "token-gated search must serve without evaluating non-query rows")
    // the audit path (no token) DOES fingerprint the corpus — and trips
    val ex = intercept[Exception] {
      Similarity.ivfSearchStored(poisoned, "vec_id", "embedding",
        nCentroids = 5, nProbe = 3, queryPred = col("id") < 4, k = 3,
        index = idx, portable = true).collect()
    }
    assert(ex.getMessage != null)
  }

  test("text token search: serving never evaluates document text") {
    val docs = Seq(
      (1L, "alpha beta gamma common"), (2L, "alpha beta delta common"),
      (3L, "epsilon zeta eta common"), (4L, "theta iota kappa common"))
      .toDF("doc_id", "text")
    val dir = tmpDir("tok-text-poison")
    docs.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val idx = new TextIndex(spark, tmpDir("tok-text-poison-idx"))
    val token = TfIdf.sparseCorpusToken(corpus, "doc_id", "text", idx)
    TfIdf.sparseBuildStored(corpus, "doc_id", "text", idx).collect()
    assert(idx.isCurrent(token))
    // the sparse serving path reads postings + norms ONLY — queries are
    // drawn from the posting id column — so with a held token, EVERY
    // text row can be poisoned and the search must still serve
    val poisoned = spark.read.parquet(dir).select(col("doc_id"),
      raise_error(concat(lit("poison doc "),
        col("doc_id").cast("string"))).cast("string").as("text"))
    val got = TfIdf.sparseSearchStored(poisoned, "doc_id", "text",
      queryPred = col("id") <= 2, k = 3, index = idx, maxDf = 10L,
      corpusToken = Some(token)).collect()
    assert(got.nonEmpty,
      "token-gated sparse search must serve from the index alone")
    // the audit path (no token) fingerprints text — and trips
    val ex = intercept[Exception] {
      TfIdf.sparseSearchStored(poisoned, "doc_id", "text",
        queryPred = col("id") <= 2, k = 3, index = idx, maxDf = 10L)
        .collect()
    }
    assert(ex.getMessage != null)
  }

  test("absent/behind token is conservative: token search self-heals") {
    val dir = tmpDir("tok-heal")
    emb.write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val idxRoot = tmpDir("tok-heal-idx")
    val idx = new VectorIndex(spark, idxRoot)
    Similarity.ivfBuildStored(corpus, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true).collect()
    val token = Similarity.ivfCorpusToken(corpus, "vec_id", "embedding",
      nCentroids = 5, index = idx, portable = true)
    // simulate a maintenance op crashed between its swap and its fold:
    // the token file is gone/behind — the gate must rebuild, not serve
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idxRoot/_token"), false)
    assert(idx.storedToken().isEmpty)
    val got = Similarity.ivfSearchStored(corpus, "vec_id", "embedding",
      nCentroids = 5, nProbe = 3, queryPred = col("id") < 4, k = 3,
      index = idx, portable = true, corpusToken = Some(token))
      .collect()
    assert(got.nonEmpty && idx.isCurrent(token),
      "self-heal must rebuild and re-seed the token")
    // a WRONG caller token (different params) fails actionably instead of
    // serving silently
    val wrong = Similarity.ivfCorpusToken(corpus, "vec_id", "embedding",
      nCentroids = 7, index = idx, portable = true)
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfSearchStored(corpus, "vec_id", "embedding",
        nCentroids = 5, nProbe = 3, queryPred = col("id") < 4, k = 3,
        index = idx, portable = true, corpusToken = Some(wrong)).collect()
    }
    assert(ex.getMessage.contains("corpus token"))
  }

  test("token memo is bounded: endless corpus versions hold the map at " +
      "O(capacity), and live entries still hit") {
    CorpusToken.invalidate()
    // one real file-backed frame (a stable signature); version churn is
    // modeled by the params axis of the cache key — each distinct
    // (signature, params) pair is one entry, exactly what a rewritten
    // corpus produces via a changed manifest digest
    val dir = tmpDir("tok-lru")
    emb.write.mode("overwrite").parquet(s"$dir/emb")
    val df = spark.read.parquet(s"$dir/emb")
    var computes = 0
    def ask(i: Int): String =
      CorpusToken.cachedToken(df, s"v$i") { computes += 1; s"tok$i" }
    val n = CorpusToken.MaxEntries + 64
    (0 until n).foreach(ask)
    assert(CorpusToken.cacheSize <= CorpusToken.MaxEntries,
      s"memo must stay bounded: ${CorpusToken.cacheSize}")
    assert(computes == n)
    // the most recent entries survived (LRU evicts the oldest): asking
    // again must hit, not recompute
    ask(n - 1)
    assert(computes == n, "a live entry must be served from the memo")
    // the evicted oldest entry recomputes — correctness never depended
    // on residency
    assert(ask(0) == "tok0")
    assert(computes == n + 1)
    CorpusToken.invalidate()
  }
}
