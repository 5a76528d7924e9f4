package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Registry of the library's STANDING relations — the session-memoized
  * build-once artifacts (co-purchase graph, decontamination n-gram sets,
  * positional postings, IVF/PQ indexes, Jaccard prefix index) that queries
  * share through the one session memo in [[graft.Checkpoints]].
  *
  * Why a registry (round-10 VERDICT, "Next" #3): in a bench sweep the cost
  * of each standing build lands on whichever query happens to run FIRST, so
  * per-query medians shift with phase order (q308 read 0.79 → 1.84 s purely
  * because heavy-first reordering moved the shared q119-family n-gram build
  * onto it). [[graft.Bench]] now forces every registered build up front,
  * timed as its own `standing_*` row, so query rows price steady-state
  * consumer work regardless of order — the accounting a 1000-executor
  * deployment would also want (index builds are scheduled jobs; probes are
  * the online path).
  *
  * Each entry calls the SAME factored builder its consuming queries call,
  * so the semantics-keyed memo is guaranteed to hit (a re-derived plan
  * with a different semanticHash would silently double-build).
  */
object Standing {

  /** Force a standing relation that materializes eagerly on construction. */
  private def force(df: DataFrame): Unit = ()

  /** name → builder; builders are idempotent (cache hits after the first). */
  val builds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // co-purchase graph family (q81/q165/q176/q208/q275 + q218/q343/q358)
    "standing_co_edges" ->
      ((s: SparkSession, d: String) => force(Graph.coEdges(s, d))),
    "standing_co_degrees" ->
      ((s: SparkSession, d: String) => force(Graph.coDegrees(s, d))),
    "standing_co_contrib" ->
      ((s: SparkSession, d: String) => force(Graph.coContrib(s, d))),
    "standing_co_edges_by_u" ->
      ((s: SparkSession, d: String) => force(Graph.coEdgesByU(s, d))),
    "standing_co_pairs" ->
      ((s: SparkSession, d: String) => force(Graph.coPairs(s, d))),
    // decontamination / span-rewrite n-gram kernels (q119/q308, q156/q159,
    // q149/q157) and the streaming twins' benchmark set (q152/q158)
    "standing_doc_src_ngrams" ->
      ((s: SparkSession, d: String) => force(NorthStar.docSourceNgrams(s, d))),
    "standing_pos_ngrams" ->
      ((s: SparkSession, d: String) => force(NorthStar.posNgrams(s, d))),
    "standing_pos_ngrams_src" ->
      ((s: SparkSession, d: String) => force(NorthStar.posNgramsSrc(s, d))),
    "standing_bench_ngrams" ->
      ((s: SparkSession, d: String) =>
        force(graft.streaming.Windows.benchNgramSet(s, d))),
    // positional postings index (q211)
    "standing_postings" ->
      ((s: SparkSession, d: String) => force(Text.positionalPostings(s, d))),
    // ANN indexes: full-corpus IVF (q124 and q188's probe path), the
    // frozen-corpus IVF q153 folds into, and the √n-cell blocked-dedup
    // index (q113/q114)
    "standing_ivf_index" ->
      ((s: SparkSession, d: String) => force(graft.similarity.Ann.ivfIndexCached(
        graft.Tables(s, d, "embeddings"), "vec_id", "embedding",
        k = 16, refineIters = 1, assignReplicas = 2)._1)),
    "standing_ivf_corpus" ->
      ((s: SparkSession, d: String) => force(graft.similarity.Ann.ivfIndexCached(
        graft.Tables(s, d, "embeddings").filter(col("vec_id") >= 100),
        "vec_id", "embedding", k = 16, refineIters = 1, assignReplicas = 2)._1)),
    "standing_ivf_blocked" ->
      ((s: SparkSession, d: String) =>
        force(NorthStar.blockedAssigned(graft.Tables(s, d, "embeddings")))),
    // the r = 6 co-assignment variant q486/q507/q508 share (a DIFFERENT
    // cache entry than r = 4 — replicas is part of the index key); without
    // this row the build lands on whichever of the three runs first
    "standing_ivf_blocked6" ->
      ((s: SparkSession, d: String) =>
        force(NorthStar.blockedAssigned(graft.Tables(s, d, "embeddings"),
          replicas = 6))),
    // PQ codebook (q172/q173/q188)
    "standing_pq_codebook" ->
      ((s: SparkSession, d: String) => force(graft.similarity.Pq.codebookCached(
        graft.Tables(s, d, "embeddings"), "vec_id", "embedding")._1)),
    // Jaccard prefix indexes: q116/q121's one-day corpus and q125's two-day one
    "standing_jaccard_index" ->
      ((s: SparkSession, d: String) => { NorthStar.dayCorpusIndex(s, d); () }),
    "standing_jaccard_2day" ->
      ((s: SparkSession, d: String) => { NorthStar.twoDayCorpusIndex(s, d); () }),
    // the corpus's complete exact-Jaccard (t = 1/2) near-dup pair set —
    // consumed by nine declared queries (q56/q107/q115/q147/q248/q285/
    // q293/q294/q301), each of which was re-running the full
    // shingle/rank/join/verify pipeline per run (opt r14; the round-9
    // coEdges finding, one family over)
    "standing_doc_pairs" ->
      ((s: SparkSession, d: String) => force(NorthStar.corpusDupPairs(s, d))),
    // the banded MinHash-LSH candidate relation (q37 + q294)
    "standing_minhash_pairs" ->
      ((s: SparkSession, d: String) => force(NorthStar.minhashCandidates(s, d))),
    // the leakage-free holdout recommender run (q234 + q253): training
    // items, anchors, ranked recs, held-out parts
    "standing_holdout_rec" ->
      ((s: SparkSession, d: String) => Graph.holdoutRecStanding(s, d)),
    // the distinct (custkey, item) interaction relation (q298 + q307)
    "standing_interactions" ->
      ((s: SparkSession, d: String) => force(NorthStar.custItemInteractions(s, d)))
  )
}
