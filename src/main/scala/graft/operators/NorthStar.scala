package graft.operators

import graft.{Dsl, Tables}
import graft.Dsl._
import graft.dedup.{Components, JaccardJoin, MinHashLSH, SimHash}
import graft.multimodal.Multimodal
import graft.similarity.Ann
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** North-star operators. Oracle-checked: language ID (q42), rolling
  * fingerprints (q43), multimodal decode (q44, since round 3), train/test
  * split (q53) and full dedup resolution (q56) — each formulated over
  * engine-portable primitives (md5, mod-prime integer arithmetic, exact set
  * Jaccard, GM1 blob construct/decode) so DuckDB can replicate them
  * bit-for-bit. Engine-only (rows-only check, property-tested in
  * NorthStarSpec): only the inherently approximate ones — HLL distinct
  * (q35), MinHash estimation (q37), SimHash bucketing (q39), LSH/IVF ANN
  * (q40/q41).
  */
object NorthStar {
  type Q = (SparkSession, String) => DataFrame

  /** Q35: approx_count_distinct (HLL) next to the exact count — the scale
    * path for D6; the spec asserts the documented error bound.
    */
  def q35ApproxDistinct: Q = (s, d) => {
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy(col("event_type"))
  }

  /** The corpus's banded MinHash-LSH candidate-pair relation (default
    * k = 32 / 8 bands) — a STANDING artifact (opt r14): q37 and q294 both
    * derive it, and the signature aggregate (32 hashes per exploded
    * shingle) is the expensive part. Explicit-key memo for the same
    * reason as [[corpusDupPairs]]: candidatePairs materializes its
    * signature relation eagerly during construction.
    */
  private[operators] def minhashCandidates(s: SparkSession, d: String): DataFrame =
    graft.Checkpoints.materializeCachedByKey(s, s"minhashCandidates|$d") {
      MinHashLSH.candidatePairs(Tables(s, d, "documents"), "doc_id", "text")
    }

  /** Q37: MinHash-LSH near-duplicate candidates over documents — top pairs
    * by estimated Jaccard (banded LSH; no O(n²) cross join).
    */
  def q37MinhashPairs: Q = (s, d) => {
    minhashCandidates(s, d)
      .orderBy(col("est_jaccard").desc, col("id1"), col("id2"))
      .limit(50)
  }

  /** Q39: SimHash fingerprints — all candidate pairs within Hamming radius 7
    * via 8-bit-chunk bucketing. maxDist (7) < blocks (8) keeps the pigeonhole
    * completeness guarantee: every pair within the radius collides on ≥1
    * exact chunk, so the result is the COMPLETE ≤7-bit pair set, not a
    * partial-recall sample (the round-1 maxDist=40/blocks=4 combination
    * silently missed pairs beyond distance 3).
    */
  def q39SimhashPairs: Q = (s, d) => {
    SimHash.candidatePairs(Tables(s, d, "documents"), "doc_id", "text",
        maxDist = 7, blocks = 8)
      .orderBy(col("hamming"), col("id1"), col("id2"))
      .limit(50)
  }

  /** Q40: embedding near-dup pairs via random-hyperplane LSH buckets,
    * exact-cosine verified.
    */
  def q40AnnLsh: Q = (s, d) => {
    Ann.lshNearDupPairs(Tables(s, d, "embeddings"), "vec_id", "embedding")
      .orderBy(col("cos").desc, col("id1"), col("id2"))
      .limit(50)
  }

  /** Q41: IVF top-k probe around vec_id 0 — searches only the nearest
    * clusters (the 100 TB path where brute force stops being free).
    */
  def q41AnnIvf: Q = (s, d) =>
    Ann.ivfTopK(Tables(s, d, "embeddings"), "vec_id", "embedding", probeId = 0L)

  /** Q124: BATCHED IVF probe — the ANN twin of q69's exact multi-probe: a
    * probe RELATION (vec_id < 5, q69's probe set) resolved against one
    * prebuilt IVF index in a single pass, instead of q41's
    * build-and-probe-per-call. Same index params as q41's cold path
    * (k=16, one refinement, 2 assignment replicas), built through the
    * session cache so repeated sweeps pay the k-means once. Engine-only
    * (IVF is not SQL-reproducible); NorthStarSpec pins each qid's rows
    * equal to a loop of single [[Ann.ivfProbe]] calls and recall vs q69's
    * exact answers.
    */
  def q124AnnIvfBatch: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings")
    val index = Ann.ivfIndexCached(emb, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 2)
    Ann.ivfProbeAll(index,
      emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid")))
  }

  /** Q153: IVF fold-in ingest — the ANN half of q125's two-day lifecycle:
    * the standing index is built on yesterday's corpus (vec_id ≥ 100,
    * session-cached k-means), today's delta (vec_id < 100) FOLDS IN via
    * [[Ann.foldInIvf]] — one bounded assignment join against the frozen
    * centroids, never a re-cluster — and the q124 probe batch then runs
    * against the merged index, finding neighbors from BOTH sides. Same
    * index params as q41/q124 (k=16, 1 refinement, 2 replicas).
    * Engine-only (IVF is not SQL-reproducible); NorthStarSpec pins
    * fold-in≡full-assignment equality, fold-in order invariance, and
    * recall vs q69's exact answers.
    */
  def q153AnnIvfFoldin: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") < 100)
    val standing = Ann.ivfIndexCached(corpus, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 2)
    val folded = Ann.foldInIvf(standing, delta, "vec_id", "embedding",
      assignReplicas = 2)
    Ann.ivfProbeAll(folded,
      emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid")))
  }

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "zh" -> Seq("的", "是", "了", "在", "和"))

  /** Q42: heuristic language ID — stopword-profile scoring, highest score
    * wins (ties break to the lexicographically larger tag, deterministically).
    */
  def q42LangId: Q = (s, d) => {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // score is cast to long INSIDE the struct: struct comparison is
    // field-order lexicographic in both engines, and DuckDB's len() is
    // BIGINT, so the typed hash needs long here too
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).cast("long").as("score"),
        lit(lang).as("lang"))
    }
    // the winning struct is computed ONCE in its own projection; the field
    // extractions live in a second one. CollapseProject declines to merge
    // them (the producer expression is non-cheap and referenced twice), so
    // the 5-language stopword-filter fold appears exactly once in the
    // physical plan instead of being inlined per consumer — the projection
    // -collapse trap BENCH.md documents (MinHash's 46× case).
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang").as("labeled_lang"),
        array_max(array(scored: _*)).as("best"))
      .select(col("doc_id"), col("labeled_lang"),
        col("best").getField("lang").as("pred_lang"),
        col("best").getField("score").as("score"))
      .orderBy(col("doc_id"))
  }

  /** Q43: rolling-hash document fingerprint (position-sensitive, unlike the
    * md5 content hash of Q36): left-to-right polynomial fold of token hashes
    * modulo a large prime — every step stays within long range (Spark 4's
    * ANSI mode raises on silent wraparound; acc < 2^30, ×1000003 < 2^50).
    * The per-token hash is the first 8 hex digits of md5 — md5 is the one
    * strong hash every engine spells identically, which is what makes this
    * fingerprint DuckDB-oracle-checkable (xxhash64 isn't portable).
    */
  def rollingFingerprint(textCol: Column): Column = {
    val toks = filter(split(textCol, " "), t => t =!= "")
    val p = lit(1000000007L)
    val tokHash = (t: Column) =>
      pmod(conv(substring(md5(t.cast("binary")), 1, 8), 16, 10).cast("long"), p)
    aggregate(toks, lit(0L), (acc, t) => pmod(acc * 1000003L + tokHash(t), p))
  }

  def q43RollingFp: Q = (s, d) => {
    Tables(s, d, "documents")
      .select(col("doc_id"), rollingFingerprint(col("text")).as("rolling_fp"))
      .groupBy(col("rolling_fp"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))
  }

  /** Q44: multimodal decode pipeline — GM1 binary payloads decoded with
    * native expressions (header metadata + body byte stats, all read from
    * the blob), aggregated per format. Oracle-checked end-to-end: DuckDB
    * constructs bit-identical blobs and decodes them with its own BLOB
    * functions (octet_length / hex / byte extraction), so the whole
    * construct→decode→aggregate chain is hash-pinned. Integer byte sums
    * keep the aggregate exact; the single final division is the only
    * float op (D5 rounding).
    */
  def q44Multimodal: Q = (s, d) => {
    Multimodal.decode(Multimodal.mediaTable(Tables(s, d, "documents")))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("n_bytes")).as("total_bytes"),
        round(sum(col("byte_sum")) / sum(col("n_bytes")), 6).as("avg_byte"),
        max(col("width")).as("max_w"),
        max(col("height")).as("max_h"),
        sum(col("frames")).as("total_frames"))
      .orderBy(col("format"))
  }

  /** Q122: video frame sampling — [[Multimodal.sampleFrames]] as a declared
    * query: every 4th 16-byte body block of each mp4 payload stands in for
    * a decoded frame (the stride-sampling pattern a real pipeline applies
    * before feature extraction), then per-video frame count / bytes / byte
    * sums — all decoded FROM the sampled binary slices, so the DuckDB twin
    * (same GM1 construction, same blob slicing) hash-checks the sampling
    * offsets and the extraction end-to-end. Metadata pruning runs before
    * any body byte is touched (non-video payloads never reach the slicer).
    */
  def q122FrameSample: Q = (s, d) => {
    val frames = Multimodal.sampleFrames(
      Multimodal.mediaTable(Tables(s, d, "documents")), stride = 4)
    val fhx = hex(col("frame_bytes"))
    frames
      .select(col("doc_id"), col("frame_no"),
        length(col("frame_bytes")).cast("long").as("flen"),
        aggregate(sequence(lit(0), length(col("frame_bytes")) - 1), lit(0L),
          (acc, j) => acc + conv(fhx.substr((j * 2 + 1).cast("int"), lit(2)), 16, 10)
            .cast("long")).as("fsum"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("flen")).as("total_frame_bytes"),
        sum(col("fsum")).as("frames_byte_sum"))
      .orderBy(col("doc_id"))
  }

  /** Q53: deterministic hash-based train/test split + per-split stats —
    * training-pipeline plumbing (reproducible at any parallelism, unlike
    * rand(seed); see [[TrainingOps]]).
    */
  def q53TrainTestSplit: Q = (s, d) => {
    Tables(s, d, "documents")
      .withColumn("split", TrainingOps.portableSplitLabel("doc_id", 0.2))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_id"))
      .orderBy(col("split"))
  }

  /** Q56: full dedup resolution — EXACT 3-gram-Jaccard ≥ 1/2 pairs (complete
    * prefix-filtered self-join, [[JaccardJoin]]) → connected components →
    * one canonical survivor per near-dup group; reports group-size stats.
    * Exact pairs make the whole resolution oracle-checkable end-to-end
    * (DuckDB: all-pairs Jaccard + recursive-CTE closure); the estimated
    * MinHash-LSH candidate path remains q37 for the super-scale regime.
    */
  /** The corpus's COMPLETE exact-Jaccard (3-gram shingles, t = 1/2)
    * near-dup pair relation — a STANDING artifact (opt r14): nine declared
    * queries (q56/q107/q115/q147/q248/q285/q293/q294/q301) consume the
    * IDENTICAL `JaccardJoin.pairs(documents, 1/2)` output, and each was
    * re-running the full shingle/rank/join/verify pipeline (~2-2.5 s at
    * sf0.1) per run — the round-9 coEdges finding, one family over. In a
    * production corpus pipeline the dedup pair set is computed once per
    * corpus snapshot and read by every downstream audit; here it gets the
    * same [[graft.Checkpoints.materializeCached]] treatment as the
    * co-purchase graph and the decontamination n-gram sets, priced as its
    * own `standing_doc_pairs` bench row ([[Standing]]).
    */
  private[operators] def corpusDupPairs(s: SparkSession, d: String): DataFrame =
    // explicit-key memo, NOT the semanticHash cache: pairs() localCheckpoints
    // its shingle/prefix intermediates during plan CONSTRUCTION, so a
    // semanticHash key is only computable after the expensive part already
    // ran (and hashes uniquely per call — measured as a total cache miss)
    graft.Checkpoints.materializeCachedByKey(s, s"corpusDupPairs|$d") {
      JaccardJoin.pairs(Tables(s, d, "documents"), "doc_id", "text",
        tNum = 1L, tDen = 2L)
    }

  def q56DedupResolve: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val pairs = corpusDupPairs(s, d)
      .select(col("id1"), col("id2"))
    Components.resolveDuplicates(docs, "doc_id", pairs)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("group_size"),
        min(col("doc_id")).as("survivor"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))
  }

  /** Q115: cross-source near-dup leakage — the contamination report for
    * multi-corpus training sets: the same COMPLETE exact-Jaccard pair set
    * as q56 (prefix-filtered self-join, shuffle ∝ rare-shingle joins),
    * joined back to document provenance and reduced to pairs whose two
    * members live in DIFFERENT sources — content leaking between corpora
    * (dataset overlap / benchmark contamination across files). Per
    * unordered source pair: leak-pair count and distinct leaked documents.
    * The pair relation is materialized once for its two aggregations
    * (pair generation is the expensive part; the pair set itself is tiny).
    */
  def q115CrossSourceLeakage: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    val tagged = graft.Checkpoints.materialize(
      corpusDupPairs(s, d)
        .select(col("id1"), col("id2"))
        .join(src.toDF("id1", "src1"), Seq("id1"))
        .join(src.toDF("id2", "src2"), Seq("id2"))
        .filter(col("src1") =!= col("src2"))
        .select(least(col("src1"), col("src2")).as("source_a"),
          greatest(col("src1"), col("src2")).as("source_b"),
          col("id1"), col("id2")))
    val nPairs = tagged.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = tagged
      .select(col("source_a"), col("source_b"),
        explode(array(col("id1"), col("id2"))).as("docid"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(countDistinct(col("docid")).as("n_docs"))
    nPairs.join(nDocs, Seq("source_a", "source_b"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** Q293: dedup threshold sweep — the "how aggressive should dedup be"
    * calibration report: ONE exact-Jaccard pair pass at the LOOSEST
    * threshold (0.5, the complete prefix-filtered q56 kernel), then pairs
    * banded by integer similarity predicates (J ≥ t ⟺ i·(td+tn) ≥
    * tn·(n1+n2), no float compare) into [0.5,0.7) / [0.7,0.9) / [0.9,1],
    * with pair and distinct-document counts per band. Running the kernel
    * once at the loosest setting and slicing is the production shape — a
    * per-threshold rerun would pay the candidate join three times (the
    * q283 sensitivity-sweep discipline applied to dedup).
    *
    * Scale shape: the q56 join (shuffle ∝ rare-shingle joins) plus two
    * aggregations over the materialized tiny pair set.
    */
  def q293DedupThresholdSweep: Q = (s, d) => {
    val u = col("n1") + col("n2")
    val banded = graft.Checkpoints.materialize(
      corpusDupPairs(s, d)
        .select(col("id1"), col("id2"),
          when(col("inter") * 19L >= u * 9L, ">=0.9")
            .when(col("inter") * 17L >= u * 7L, "0.7-0.9")
            .otherwise("0.5-0.7").as("band")))
    val nPairs = banded.groupBy(col("band"))
      .agg(big(count(lit(1))).as("n_pairs"))
    val nDocs = banded
      .select(col("band"), explode(array(col("id1"), col("id2"))).as("docid"))
      .groupBy(col("band"))
      .agg(big(countDistinct(col("docid"))).as("n_docs"))
    nPairs.join(nDocs, Seq("band")).orderBy(col("band"))
  }

  /** Q294: approximate-dedup quality evaluation — the gate that decides
    * whether the CHEAP kernel may replace the exact one at the next scale
    * jump: MinHash-LSH candidate pairs scored against the complete exact
    * pair set at the same threshold (precision / recall / F1 of the
    * candidate stage). Engine-only: the MinHash signature seeds aren't
    * portable SQL; correctness is pinned by NorthStarSpec's recall floor
    * and a precision identity against the exact set.
    *
    * Scale shape: both kernels are the library's scale-proven shapes; the
    * comparison itself is one semi-join + three 1-row counts over tiny
    * pair sets.
    */
  def q294MinhashQualityEval: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val exact = corpusDupPairs(s, d).select(col("id1"), col("id2"))
    val cand = minhashCandidates(s, d).select(col("id1"), col("id2"))
    val tp = cand.join(exact, Seq("id1", "id2"), "left_semi")
    val m = exact.agg(count(lit(1)).as("n_exact"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(tp.agg(count(lit(1)).as("n_true_pos")))
    val p = col("n_true_pos").cast("double") / col("n_candidates").cast("double")
    val r = col("n_true_pos").cast("double") / col("n_exact").cast("double")
    m.select(big(col("n_exact")).as("n_exact"),
      big(col("n_candidates")).as("n_candidates"),
      big(col("n_true_pos")).as("n_true_pos"),
      round(p, 6).as("precision"),
      round(r, 6).as("recall"),
      round(lit(2.0) * p * r / (p + r), 6).as("f1"))
  }

  /** The standing day-corpus Jaccard index (t = 1/2) over every source but
    * src18, today's delta: q116 probes it in one batch, q121 per
    * micro-batch, and `standing_jaccard_index` builds it up front. All three
    * call this one builder, so the session cache key cannot drift (a
    * re-derived corpus plan would silently rebuild the index).
    */
  def dayCorpusIndex(s: SparkSession, d: String): JaccardJoin.Index =
    JaccardJoin.buildIndexCached(
      Tables(s, d, "documents").filter(col("source") =!= "src18"),
      "doc_id", "text", tNum = 1L, tDen = 2L)

  /** q125's two-day base corpus index: every source but the delta days
    * src18 and src19; shared with `standing_jaccard_2day`.
    */
  def twoDayCorpusIndex(s: SparkSession, d: String): JaccardJoin.Index =
    JaccardJoin.buildIndexCached(
      Tables(s, d, "documents")
        .filter(col("source") =!= "src18" && col("source") =!= "src19"),
      "doc_id", "text", tNum = 1L, tDen = 2L)

  /** The incremental-dedup decision record over (id1, id2, jaccard) match
    * rows: per id1 with ≥1 match, its match count and best match (highest
    * jaccard, smallest id2 tiebreak). The windows are per document and
    * bounded by its match count, never global.
    */
  private[graft] def bestMatches(matches: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id1")).orderBy(col("jaccard").desc, col("id2"))
    matches
      .withColumn("rk", row_number().over(w))
      .withColumn("n_matches", count(lit(1)).over(Window.partitionBy(col("id1"))))
      .filter(col("rk") === 1)
      .select(col("id1").as("doc_id"), col("n_matches"),
        col("id2").as("best_match_id"), col("jaccard").as("best_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** Q116: INCREMENTAL dedup — the production crawl pattern q56's batch
    * resolution doesn't cover: a new delta (here source src18, "today's
    * crawl") checked against the standing corpus (every other source)
    * WITHOUT re-comparing the corpus against itself. The delta probes the
    * standing day-corpus index ([[dayCorpusIndex]], session-cached and
    * shared with q121's micro-batch probes) with [[JaccardJoin
    * .pairsAgainst]] — the complete prefix-filtered exact-Jaccard join,
    * delta-prefix × corpus-prefix only — so the daily cost scales with the
    * increment's rare-shingle joins; the corpus is neither re-shingled nor
    * re-ranked. Per delta document with ≥1 match: match count and the best
    * corpus match ([[bestMatches]]) — the keep/drop/canonical-link decision
    * record an ingest pipeline writes.
    */
  def q116IncrementalDedup: Q = (s, d) => {
    val delta = Tables(s, d, "documents").filter(col("source") === "src18")
    bestMatches(JaccardJoin.pairsAgainst(dayCorpusIndex(s, d), delta, "doc_id", "text"))
  }

  /** Q123: COMPLETE incremental dedup — q116 with the intra-delta hole
    * closed: a real crawl ingest must catch two near-dup documents that
    * BOTH arrive in today's delta (neither is in the standing corpus yet),
    * which q116's declared delta × corpus scope silently admits.
    * [[JaccardJoin.incrementalPairs]] unions the cross pairs with the
    * delta's self-pairs, reusing ONE shingling/ranking of each side; the
    * self-join is delta-prefix × delta-prefix, so the daily cost stays
    * ∝ the increment. Delta here is src7 — the one source with an
    * intra-source near-dup pair in the sf0.01 fixtures, so the oracle hash
    * pins the delta-delta path on real data, not vacuously. The decision
    * record matches q116's shape, with delta-delta matches counted from
    * BOTH ends (each same-day twin sees the other as its match — the
    * symmetrize step is one broadcast semi-join against the delta ids).
    */
  def q123IncrementalDedupFull: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val delta = docs.filter(col("source") === "src7")
    val corpus = docs.filter(col("source") =!= "src7")
    val p = JaccardJoin.incrementalPairs(delta, corpus, "doc_id", "text",
      tNum = 1L, tDen = 2L)
    // intra-delta pairs (id2 ∈ delta) are matches for BOTH members; cross
    // pairs only for their delta end. The delta-id relation is tiny →
    // broadcast semi-join, no shuffle of the pair relation.
    val deltaIds = delta.select(col("doc_id").cast("long").as("id2"))
    val reversed = p.join(broadcast(deltaIds), Seq("id2"), "left_semi")
      .select(col("id2").as("id1"), col("id1").as("id2"), col("jaccard"))
    bestMatches(p.select(col("id1"), col("id2"), col("jaccard")).unionByName(reversed))
  }

  /** Q125: TWO-DAY ingest via standing-index fold-in — the continuous
    * lifecycle q121 starts and [[JaccardJoin.foldIn]] completes: day 1's
    * accepted delta (src19) is folded INTO the standing corpus index
    * (frequencies merged, sets unioned, prefixes re-ranked — the corpus is
    * NOT re-shingled), then day 2's delta (src18) probes the folded index.
    * Because the fold is exact (probe-equal to a full rebuild, pinned in
    * JaccardJoinSpec), day 2's decision record is IDENTICAL to checking
    * src18 against all other sources at once — so this query shares q116's
    * DuckDB oracle verbatim, which hash-checks the fold-in path end-to-end
    * on the declared surface (the q121 batch≡stream trick, applied to
    * index mutation). The base corpus index is session-memoized
    * ([[twoDayCorpusIndex]]); each run then pays fold + probe,
    * the daily steady state.
    */
  def q125FoldinIngest: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val day2 = docs.filter(col("source") === "src18")
    val day1 = docs.filter(col("source") === "src19")
    val folded = JaccardJoin.foldIn(twoDayCorpusIndex(s, d), day1, "doc_id", "text")
    bestMatches(JaccardJoin.pairsAgainst(folded, day2, "doc_id", "text"))
  }

  /** Distinct (doc_id, source, 8-gram xxhash64) relation over documents —
    * the STANDING n-gram set behind the q119/q308 decontamination family
    * (one shared semantics-cached copy per session). Factored so the
    * [[Standing]] bench row forces the same plan the queries consume.
    */
  private[operators] def docSourceNgrams(s: SparkSession, d: String): DataFrame = {
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("source"),
        explode(MinHashLSH.shingles(toks, w)).as("g"))
      .select(col("doc_id"), col("source"), xxhash64(col("g")).as("h"))
      .distinct()
      .transform(graft.Checkpoints.materializeCached)
  }

  /** Position-indexed 8-gram window relation (doc_id, n_tokens, i, h) —
    * the STANDING kernel behind the q156/q159 span-rewrite family.
    */
  private[operators] def posNgrams(s: SparkSession, d: String): DataFrame = {
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        posexplode(MinHashLSH.shingles(col("tk"), w)))
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("long").as("i"),
        xxhash64(col("col")).as("h"))
      .transform(graft.Checkpoints.materializeCached)
  }

  /** [[posNgrams]] carrying `source` — the STANDING kernel behind the
    * q149/q157 contamination-coverage/rewrite family.
    */
  private[operators] def posNgramsSrc(s: SparkSession, d: String): DataFrame = {
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("source"), toks.as("tk"))
      .select(col("doc_id"), col("source"),
        size(col("tk")).cast("long").as("n_tokens"),
        posexplode(MinHashLSH.shingles(col("tk"), w)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("pos").cast("long").as("i"), xxhash64(col("col")).as("h"))
      .transform(graft.Checkpoints.materializeCached)
  }

  /** Q119: benchmark decontamination — the n-gram overlap filter run
    * before training so eval data can't leak into the train set (the
    * GPT-3-style 13-gram method, here 8-gram on short synthetic docs):
    * treating source src0 as the BENCHMARK, report every training doc
    * (any other source) whose distinct-8-gram set overlaps the benchmark's
    * union 8-gram set, with the contaminated fraction. Distinct from
    * q78/q115: those score doc-PAIR similarity; decontamination asks set
    * membership against the benchmark union, which is why a doc quoting
    * one benchmark passage is caught even when pair-Jaccard stays tiny.
    * Shape: one equi-join of (doc, ngram-hash) against the distinct
    * benchmark set — at 100 TB the benchmark side is an eval set (small,
    * broadcast-able) while shuffle is bounded by the match relation;
    * n-grams compare through xxhash64 (the q56-family collision argument:
    * P(any colliding pair) ≈ k²/2⁶⁵). Docs with < 8 tokens carry a single
    * whole-text shingle (exact short-text match still caught).
    *
    * The n-gram relation is a STANDING set (a pure function of the input
    * tables) and is session-memoized via [[graft.Checkpoints
    * .materializeCached]]: per-run materialization was the round-7 `weak`
    * finding — orphaned localCheckpoint copies accumulating across runs
    * until the async ContextCleaner raced the next run, a 6x same-JVM
    * runtime spread with zero correctness impact (adjudicated with a
    * same-JVM q119 probe, BENCH.md). Steady state now measures the membership
    * join against the standing set, the shape q125 already declares for
    * the Jaccard index.
    */
  def q119BenchmarkDecontamination: Q = (s, d) => {
    val ng = docSourceNgrams(s, d)
    val bench = ng.filter(col("source") === "src0").select(col("h")).distinct()
    val train = ng.filter(col("source") =!= "src0")
    val hits = train.join(bench, Seq("h"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
    train.groupBy(col("doc_id")).agg(count(lit(1)).as("n_ngrams"))
      .join(hits, Seq("doc_id"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_ngrams"), 6).as("contaminated_frac"))
      .orderBy(col("doc_id"))
  }

  /** Q308: contamination matrix — q119's benchmark-overlap kernel rolled
    * up BY TRAINING SOURCE: per corpus, how many docs carry any benchmark
    * 8-gram, total overlapping n-grams, and the flagged rate — the view
    * that tells a curation team WHICH upstream feed is leaking the eval
    * set, not just that something is.
    *
    * Scale shape: the q119 shingle + membership semi-join (standing
    * cached n-gram relation), then two source-keyed aggregates; output is
    * one row per training source.
    */
  def q308ContaminationMatrix: Q = (s, d) => {
    val ng = docSourceNgrams(s, d)
    val bench = ng.filter(col("source") === "src0").select(col("h")).distinct()
    val train = ng.filter(col("source") =!= "src0")
    val flagged = train.join(bench, Seq("h"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_flagged"),
        count(lit(1)).as("n_hit_ngrams"))
    train.groupBy(col("source")).agg(countDistinct(col("doc_id")).as("n_docs"))
      .join(flagged, Seq("source"), "left")
      .select(col("source"), big(col("n_docs")).as("n_docs"),
        big(coalesce(col("n_flagged"), lit(0L))).as("n_flagged"),
        big(coalesce(col("n_hit_ngrams"), lit(0L))).as("n_hit_ngrams"),
        round(coalesce(col("n_flagged"), lit(0L)).cast("double")
          / col("n_docs").cast("double"), 6).as("flagged_rate"))
      .orderBy(col("source"))
  }

  /** Q283: decontamination n-gram sensitivity — the tuning table behind
    * q119's fixed width-8 policy: the same benchmark-overlap kernel swept
    * over shingle widths {5, 8, 13}, reporting per width how many training
    * docs would be flagged, the total overlapping n-grams, and the
    * contamination rate. Short widths over-flag boilerplate; long widths
    * miss edited copies — this is the measurement that justifies the
    * production width instead of folklore.
    *
    * Scale shape: three independent runs of q119's shingle/semi-join
    * pipeline, each reduced to a 1-row summary before the union (never a
    * per-doc output); the train-doc total is a 1-row broadcast. Cost is
    * ~3× the q119 kernel, the declared price of the sweep.
    */
  def q283DecontamSensitivity: Q = (s, d) => {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val docs = Tables(s, d, "documents")
    val trainTotal = docs.filter(col("source") =!= "src0")
      .agg(count(lit(1)).as("n_train_docs"))
    // repartition ONCE before the per-width explodes (the shingleRel
    // discipline): the single-row-group documents scan is one task, so
    // each width's tokenize+shingle+hash pass ran single-threaded
    // (measured 3 × 2.4 s single-task stages at sf0.1 — opt r14)
    val fanned = docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
    Seq(5, 8, 13).map { w =>
      // the w = 8 rung IS the standing [[docSourceNgrams]] relation —
      // reuse it (opt r14); the 5/13 rungs are this sweep's own declared
      // price and stay per-run
      val ng = if (w == 8) docSourceNgrams(s, d) else fanned
        .select(col("doc_id"), col("source"),
          explode(MinHashLSH.shingles(toks, w)).as("g"))
        .select(col("doc_id"), col("source"), xxhash64(col("g")).as("h"))
        .distinct()
      val bench = ng.filter(col("source") === "src0").select(col("h")).distinct()
      val hits = ng.filter(col("source") =!= "src0").join(bench, Seq("h"))
      hits
        .agg(countDistinct(col("doc_id")).as("n_contaminated"),
          count(lit(1)).as("n_hit_ngrams"))
        .crossJoin(broadcast(trainTotal))
        .select(lit(w.toLong).as("ngram_w"), col("n_train_docs"),
          col("n_contaminated"), col("n_hit_ngrams"),
          round(col("n_contaminated").cast("double")
            / col("n_train_docs").cast("double"), 6).as("contamination_rate"))
    }.reduce(_ unionByName _).orderBy(col("ngram_w"))
  }

  /** Q285: duplicate-growth curve over ingest order — the accretion-side
    * twin of q126's novelty curve: as sources are ingested in rank order
    * (the numeric suffix of `source`), how many documents have become
    * near-duplicates WITHIN the corpus-so-far. A document first becomes a
    * duplicate at rank `min over its near-dup pairs of max(own rank,
    * partner rank)` — the rank at which its first partner is present.
    * Reports the cumulative corpus size, cumulative duplicated docs and
    * dup rate per rank: the curve that says when dedup stops being
    * optional for a growing crawl.
    *
    * Scale shape: the complete q56 exact-Jaccard pair relation (shuffle ∝
    * rare-shingle joins), two source-rank joins, one per-doc min, then
    * counting on the BOUNDED rank grid (~20 rows): the cumulative window
    * is grid-sized, never doc-sized.
    */
  def q285DupGrowth: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, d, "documents")
    val rk = docs.select(col("doc_id"),
      expr("CAST(substring(source, 4) AS LONG)").as("rank"))
    val pairs = corpusDupPairs(s, d)
      .select(col("id1"), col("id2"))
      .join(rk.toDF("id1", "r1"), Seq("id1"))
      .join(rk.toDF("id2", "r2"), Seq("id2"))
    val firstDup = pairs
      .select(explode(array(
        struct(col("id1").as("doc_id"), greatest(col("r1"), col("r2")).as("fr")),
        struct(col("id2").as("doc_id"), greatest(col("r1"), col("r2")).as("fr"))))
        .as("e"))
      .select(col("e.doc_id").as("doc_id"), col("e.fr").as("fr"))
      .groupBy(col("doc_id")).agg(min(col("fr")).as("f"))
    val perRankDocs = rk.groupBy(col("rank")).agg(count(lit(1)).as("nd"))
    val perRankDups = firstDup.groupBy(col("f").as("rank"))
      .agg(count(lit(1)).as("nf"))
    // the cumulative window runs over the bounded source-rank grid (~20
    // rows at any volume), never the documents
    val cum = Window.orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perRankDocs.join(perRankDups, Seq("rank"), "left")
      .na.fill(0L, Seq("nf"))
      .withColumn("corpus_docs", sum(col("nd")).over(cum).cast("long"))
      .withColumn("dup_docs", sum(col("nf")).over(cum).cast("long"))
      .select(col("rank"), col("corpus_docs"), col("dup_docs"),
        round(col("dup_docs").cast("double")
          / col("corpus_docs").cast("double"), 6).as("dup_rate"))
      .orderBy(col("rank"))
  }

  /** Q286: per-source curation dashboard — the one table a mixture
    * designer actually reads before pulling a source into a training mix:
    * every TRAIN doc (src0 is the held-out benchmark, not corpus) gets the
    * three independent doc-grain curation flags — duplicate (q134's global
    * vocabulary-fingerprint dedup, min-doc_id survivorship), contaminated
    * (q119's width-8 benchmark n-gram overlap, any hit), short (n_chars
    * < 150, the length-floor quality gate) — and the per-source rollup
    * reports how many docs and characters actually SURVIVE the full
    * curation policy (survivor ∧ ¬contaminated ∧ ¬short), beside each
    * individual flag's count. q134/q119/q135 measure one axis each; this
    * is their intersection, which is what the mix actually trains on.
    *
    * Determinism: all-integer flag counts; the one rounded division is the
    * final clean_rate. Scale shape: the fingerprint window partitions by
    * fp (bounded by the dup cluster), the contamination join is q119's
    * hash-keyed semi-join with the benchmark side distinct-reduced first,
    * and the rollup is one keyed aggregate — nothing driver-side, nothing
    * quadratic.
    */
  def q286CurationDashboard: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val docs = Tables(s, d, "documents")
    // the per-doc w=8 hash relation IS the standing [[docSourceNgrams]]
    // (same projection, same distinct) — q286 was re-deriving it per run
    // on the one-task scan (measured 2.1 s single-task at sf0.1 — opt r14)
    val ng = docSourceNgrams(s, d)
    val bench = ng.filter(col("source") === "src0").select(col("h")).distinct()
    val contam = ng.filter(col("source") =!= "src0").join(bench, Seq("h"))
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(true))
    val fp = array_join(array_sort(array_distinct(toks)), " ")
    docs.filter(col("source") =!= "src0")
      .select(col("doc_id"), col("source"), col("n_chars"), fp.as("fp"))
      .withColumn("survivor",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .join(contam, Seq("doc_id"), "left")
      .withColumn("is_contam", coalesce(col("hit"), lit(false)))
      .withColumn("is_short", col("n_chars") < 150)
      .withColumn("clean",
        col("survivor") && !col("is_contam") && !col("is_short"))
      .groupBy(col("source"))
      .agg(big(count(lit(1))).as("n_docs"),
        big(sum(when(!col("survivor"), 1L).otherwise(0L))).as("dup_docs"),
        big(sum(when(col("is_contam"), 1L).otherwise(0L))).as("contam_docs"),
        big(sum(when(col("is_short"), 1L).otherwise(0L))).as("short_docs"),
        big(sum(when(col("clean"), 1L).otherwise(0L))).as("clean_docs"),
        big(sum(when(col("clean"), col("n_chars")).otherwise(0L))).as("clean_chars"))
      .withColumn("clean_rate", round(col("clean_docs").cast("double")
        / col("n_docs").cast("double"), 4))
      .orderBy(col("source"))
  }

  /** Q120: padding-waste analysis for length-bucketed batching — the
    * MEASURED motivation for q96/q110's sequence packing: bucket each doc's
    * token count up to the next multiple of 32 (the naive dynamic-batching
    * policy), and report per bucket the docs, real tokens, padding tokens
    * and utilization. Map-only derivation + one keyed aggregate; the
    * integer bucket arithmetic and one final rounded division keep it
    * exact cross-engine.
    */
  def q120PaddingWaste: Q = (s, d) => {
    val b = 32
    val n = size(filter(split(col("text"), " "), t => t =!= "")).cast("long")
    val bucket = (((n + (b - 1)) / b).cast("long") * b).as("bucket_len")
    Tables(s, d, "documents")
      .select(n.as("n"), bucket)
      .groupBy(col("bucket_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        sum(col("bucket_len") - col("n")).as("n_padding"),
        round(sum(col("n")).cast("double")
          / sum(col("bucket_len")).cast("double"), 6).as("utilization"))
      .orderBy(col("bucket_len"))
  }

  /** Q126: marginal n-gram novelty per source — the "value of the next
    * crawl source" curve curation teams use to order acquisitions: sources
    * are ranked by ingest order (the numeric suffix of `source`), and each
    * source is scored by how many of its distinct 3-gram shingles occur in
    * NO earlier-ranked source — the diminishing-returns measure that says
    * when more of the same crawl stops adding information. Shape: the same
    * hashed shingle relation q119 shuffles (explode → distinct (rank,
    * hash)), then ONE window-min partitioned by shingle hash for the
    * first-occurrence rank and one keyed aggregate per source; per-source
    * doc counts join back as a ~20-row broadcast. At 100 TB the shingle
    * relation is the dedup family's working set — nothing here exceeds
    * what q116/q119 already shuffle.
    */
  def q126NgramNovelty: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val rank = substring(col("source"), 4, 10).cast("long").as("src_rank")
    val docs = Tables(s, d, "documents")
    val gr = docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(rank, explode(MinHashLSH.shingles(toks, 3)).as("g"))
      .select(col("src_rank"), xxhash64(col("g")).as("h"))
      .distinct()
    val perSource = gr
      .withColumn("first_rank", min(col("src_rank")).over(Window.partitionBy(col("h"))))
      .groupBy(col("src_rank"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("src_rank") === col("first_rank"), 1L).otherwise(0L)).as("n_novel"))
    val nd = docs.groupBy(rank).agg(count(lit(1)).as("n_docs"))
    perSource.join(broadcast(nd), Seq("src_rank"))
      .select(col("src_rank"), col("n_docs"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_shingles"), 6).as("novelty"))
      .orderBy(col("src_rank"))
  }

  /** Q128: exact-substring duplication coverage — the window-level dedup
    * signal doc-level Jaccard misses (two long documents sharing one
    * verbatim paragraph have low Jaccard but a real duplication problem):
    * per document, how many token positions are covered by an 8-token
    * window that also occurs verbatim in ANOTHER document. Positions under
    * overlapping duplicated windows are counted ONCE via merged-interval
    * arithmetic — a running `max(i+len)` over one window partitioned by
    * doc — not by exploding the 8 positions per window. Shape: the q119
    * position-indexed window-hash relation (explode → (doc, pos, hash)),
    * one two-phase count-distinct per hash to find recurring windows, one
    * hash-keyed join back, one partitioned window + keyed aggregate. Docs
    * shorter than the window contribute their whole text as one window —
    * q119's convention — so exact short-doc duplicates still count.
    */
  def q128SubstringDup: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val base = Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tokens"),
        posexplode(MinHashLSH.shingles(col("tk"), w)))
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("long").as("i"),
        xxhash64(col("col")).as("h"))
      .transform(graft.Checkpoints.materialize(_))
    val dup = base.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val winLen = least(lit(w.toLong), col("n_tokens"))
    val prevEnd = max(col("i") + winLen).over(
      Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val dstats = base.join(dup, Seq("h"))
      .withColumn("c", greatest(lit(0L),
        col("i") + winLen - greatest(coalesce(prevEnd, lit(0L)), col("i"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("c")).as("covered"))
    base.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"), count(lit(1)).as("n_windows"))
      .join(dstats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_coverage"))
      .orderBy(col("doc_id"))
  }

  /** Q301: duplicate-span EXPLAIN — for every near-duplicate pair (the
    * complete q56 exact-Jaccard set at 0.5), WHERE the overlap lives: the
    * longest run of consecutively shared tokens, found as the longest
    * DIAGONAL run of matching positioned 3-grams (p1 − p2 constant,
    * consecutive p1 — the dedup reviewer's "show me the shared passage").
    * A run of c consecutive shared 3-grams spans c + 2 tokens; ties break
    * on (start_a, start_b). Pairs whose members have < 3 tokens carry no
    * positioned grams and drop — declared.
    *
    * Scale shape: the q56 pair kernel plus a gram join RESTRICTED to the
    * tiny pair set (pairs broadcast into the positioned-gram relation —
    * never grams × grams); run-grouping windows partition by
    * (pair, diagonal). All-integer output.
    */
  def q301DupSpanExplain: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val docs = Tables(s, d, "documents")
    val pairs = corpusDupPairs(s, d)
      .select(col("id1"), col("id2"))
    val pg = docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), posexplode(MinHashLSH.shingles(col("tk"), 3)))
      .select(col("doc_id"), col("pos").cast("long").as("p"), col("col").as("g"))
      .transform(graft.Checkpoints.materialize(_))
    val matches = pg.select(col("doc_id").as("id1"), col("p").as("p1"), col("g"))
      .join(broadcast(pairs), Seq("id1"))
      .join(pg.select(col("doc_id").as("id2"), col("p").as("p2"), col("g")),
        Seq("id2", "g"))
      .select(col("id1"), col("id2"), col("p1"), col("p2"),
        (col("p1") - col("p2")).as("diag"))
    val wd = Window.partitionBy(col("id1"), col("id2"), col("diag"))
      .orderBy(col("p1"))
    val runs = matches
      .withColumn("grp", col("p1") - row_number().over(wd))
      .groupBy(col("id1"), col("id2"), col("diag"), col("grp"))
      .agg((count(lit(1)) + 2L).as("run_tokens"),
        min(col("p1")).as("start_a"), min(col("p2")).as("start_b"))
    val wr = Window.partitionBy(col("id1"), col("id2"))
      .orderBy(col("run_tokens").desc, col("start_a"), col("start_b"))
    runs.withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1)
      .select(col("id1"), col("id2"), big(col("run_tokens")).as("longest_run_tokens"),
        big(col("start_a")).as("start_a"), big(col("start_b")).as("start_b"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Q156: span REWRITE — the production step q128's measurement exists to
    * drive (round-7 VERDICT item 5): cut every token position covered by a
    * cross-document duplicated 8-gram window out of the text, emitting the
    * rewritten corpus with per-doc removed-token counts — dedup below the
    * document level, where boilerplate headers/footers and quoted passages
    * live. The cut list is exactly q128's merged-interval coverage (union
    * of dup windows [i, i+winLen)); the rewrite keeps every uncovered
    * token in order.
    *
    * Shape: token positions and dup-window STARTS union into one
    * per-doc position-ordered relation; coverage is one RANGE window
    * (`max(marker) over rangeBetween(-(w-1), 0)`) — a token at j is
    * covered iff some dup window starts in [j-winLen+1, j], and the
    * constant -(w-1) bound is exact for short docs too (their single
    * whole-text window starts at 0 and every j ≤ n-1 < w falls in range).
    * No token×window join, no per-position interval explode: cost is the
    * token relation's one partitioned window plus the doc-bounded
    * collect_list rebuild (q132's bounded-session precedent). At 100 TB
    * every stage is doc-partitioned; the dup-hash relation is the q128
    * working set already priced.
    *
    * The oracle rebuilds the cut text arithmetically in DuckDB (q136's
    * technique: `string_agg(tok ORDER BY j)` over the anti-joined
    * position relation), so the hash proves the rewritten CONTENT, not
    * just the removal counts.
    */
  def q156SpanRewrite: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val base = posNgrams(s, d)
    val dup = base.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val dupStarts = base.join(dup, Seq("h"))
      .select(col("doc_id"), col("i").as("j"),
        lit(null).cast("string").as("tok"), lit(1L).as("marker"))
    val pos = Tables(s, d, "documents")
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        posexplode(toks))
      .select(col("doc_id"), col("n_tokens"), col("pos").cast("long").as("j"),
        col("col").as("tok"), lit(null).cast("long").as("marker"))
    val covWin = Window.partitionBy(col("doc_id")).orderBy(col("j"))
      .rangeBetween(-(w - 1L), 0L)
    val kept = pos.select(col("doc_id"), col("j"), col("tok"), col("marker"))
      .unionByName(dupStarts)
      .withColumn("covered", max(col("marker")).over(covWin))
      .filter(col("tok").isNotNull && col("covered").isNull)
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("j"), col("tok")))),
          x => x.getField("tok")), " ").as("text_clean"))
    Tables(s, d, "documents")
      .select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** Q159: INCREMENTAL span rewrite — the q116/q123 incremental axis
    * applied to the span-rewrite family: only the arriving delta (src7,
    * "today's crawl") is rewritten, cutting every token position under an
    * 8-gram window that also occurs in ANY other document — the standing
    * corpus or a same-day sibling — the ingest-time boilerplate strip a
    * crawl pipeline runs before the accepted docs are published. The dup
    * criterion is exactly [[q156SpanRewrite]]'s (a window in ≥2 distinct
    * docs), and the position-indexed window relation is q156's VERBATIM —
    * `materializeCached` serves both queries (and repeated delta runs)
    * from one standing copy, so the daily cost is the delta's coverage
    * window + rebuild, not a corpus re-shingle: the q125 steady-state
    * story at the span level. Output shape is q156's, restricted to the
    * delta.
    */
  def q159IncrementalSpanRewrite: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // q156's base plan VERBATIM (shared memoized standing relation)
    val base = posNgrams(s, d)
    val dup = base.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val delta = Tables(s, d, "documents").filter(col("source") === "src7")
    val deltaIds = delta.select(col("doc_id"))
    val dupStarts = base.join(dup, Seq("h"))
      .join(broadcast(deltaIds), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("i").as("j"),
        lit(null).cast("string").as("tok"), lit(1L).as("marker"))
    val pos = delta
      .select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), col("pos").cast("long").as("j"),
        col("col").as("tok"), lit(null).cast("long").as("marker"))
    val covWin = Window.partitionBy(col("doc_id")).orderBy(col("j"))
      .rangeBetween(-(w - 1L), 0L)
    val kept = pos.unionByName(dupStarts)
      .withColumn("covered", max(col("marker")).over(covWin))
      .filter(col("tok").isNotNull && col("covered").isNull)
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("j"), col("tok")))),
          x => x.getField("tok")), " ").as("text_clean"))
    delta.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** Q157: decontamination REWRITE — [[q156SpanRewrite]]'s coverage kernel
    * pointed at q149's measurement: instead of flagging or dropping a
    * training document that quotes a benchmark passage, cut exactly the
    * token positions lying under a benchmark 8-gram (src0's union set) and
    * keep the rest — the surgical alternative to q119's doc-level drop
    * that saves the un-contaminated remainder of long documents. Same
    * range-window coverage (marker rows at benchmark-hit window starts,
    * `max(marker) over rangeBetween(-(w-1), 0)`), train docs only; the
    * benchmark side is the q119-family standing set (session-memoized,
    * broadcast-able at 100 TB). Output: every train doc with its token
    * count, removed-token count and the rewritten text; the oracle
    * reassembles the cut text arithmetically (q156's technique), so the
    * hash pins the rewrite content.
    */
  def q157DecontamRewrite: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // q149's position-indexed kernel VERBATIM — the plans are semantically
    // equal, so materializeCached serves both queries from ONE standing copy
    val ng = posNgramsSrc(s, d)
    val bench = ng.filter(col("source") === "src0").select(col("h")).distinct()
    val hitStarts = ng.filter(col("source") =!= "src0")
      .join(bench, Seq("h"), "left_semi")
      .select(col("doc_id"), col("i").as("j"),
        lit(null).cast("string").as("tok"), lit(1L).as("marker"))
    val train = Tables(s, d, "documents").filter(col("source") =!= "src0")
    val pos = train
      .select(col("doc_id"), posexplode(toks))
      .select(col("doc_id"), col("pos").cast("long").as("j"),
        col("col").as("tok"), lit(null).cast("long").as("marker"))
    val covWin = Window.partitionBy(col("doc_id")).orderBy(col("j"))
      .rangeBetween(-(w - 1L), 0L)
    val kept = pos.unionByName(hitStarts)
      .withColumn("covered", max(col("marker")).over(covWin))
      .filter(col("tok").isNotNull && col("covered").isNull)
    val keptAgg = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("j"), col("tok")))),
          x => x.getField("tok")), " ").as("text_clean"))
    train.select(col("doc_id"), size(toks).cast("long").as("n_tokens"))
      .join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept_tokens"), lit(0L))).as("removed_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy(col("doc_id"))
  }

  /** Q129: corpus snapshot diff — the dataset-versioning primitive a
    * managed training corpus needs between releases: classify every
    * document as added / removed / changed / unchanged across two snapshot
    * versions by comparing content FINGERPRINTS, never texts. The two
    * versions are derived deterministically from the one fixture corpus:
    * v1 ("yesterday") lacks the doc_id%7==0 docs and carries doc_id%5==0
    * texts reversed (modeling in-place edits); v2 ("today") lacks the
    * doc_id%11==0 docs. Shape: each side reduces map-side to
    * (doc_id, md5, source) before one full-outer join on doc_id — at
    * 100 TB the shuffle carries ids + 16-byte fingerprints, not documents,
    * and in production the v1 side IS the previous run's stored manifest,
    * so yesterday's corpus is never re-scanned at all.
    */
  def q129CorpusDiff: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val v1 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source").as("src1"),
        md5(when(col("doc_id") % 5 === 0, reverse(col("text")))
          .otherwise(col("text"))).as("fp1"))
    val v2 = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source").as("src2"),
        md5(col("text")).as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("src2"), col("src1")).as("source"),
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") =!= col("fp2"), "changed")
          .otherwise("unchanged").as("status"))
      .orderBy(col("doc_id"))
  }

  /** Q280: snapshot drift report — q129's per-document version diff rolled
    * up to the RELEASE DATASHEET a dataset owner reads before shipping v2:
    * per source, how many documents were added / removed / changed /
    * unchanged, both versions' doc and character masses, and the net
    * character drift. The per-doc classification is q129's fingerprint
    * full-outer join verbatim (v1 lacks doc_id%7==0 and carries doc_id%5==0
    * texts edited; v2 lacks doc_id%11==0); this query adds the per-source
    * aggregation layer — the actual review artifact, where q129 is the
    * drill-down.
    *
    * Scale shape: identical to q129 (id + 16-byte fingerprint shuffle,
    * never texts) plus one keyed rollup to the bounded source grain; in
    * production the v1 side is the previous release's manifest, so
    * yesterday's corpus is never re-scanned.
    */
  def q280SnapshotDrift: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val v1 = docs.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), col("source").as("src1"),
        col("n_chars").as("ch1"),
        md5(when(col("doc_id") % 5 === 0, reverse(col("text")))
          .otherwise(col("text"))).as("fp1"))
    val v2 = docs.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("source").as("src2"),
        col("n_chars").as("ch2"),
        md5(col("text")).as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src2"), col("src1")).as("source"),
        col("ch1"), col("ch2"),
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") =!= col("fp2"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"))
      .agg(
        big(count(col("ch1"))).as("docs_v1"),
        big(count(col("ch2"))).as("docs_v2"),
        big(count(when(col("status") === "added", 1))).as("added"),
        big(count(when(col("status") === "removed", 1))).as("removed"),
        big(count(when(col("status") === "changed", 1))).as("changed"),
        big(count(when(col("status") === "unchanged", 1))).as("unchanged"),
        big(coalesce(sum(col("ch1")), lit(0L))).as("chars_v1"),
        big(coalesce(sum(col("ch2")), lit(0L))).as("chars_v2"))
      .withColumn("chars_delta", col("chars_v2") - col("chars_v1"))
      .orderBy(col("source"))
  }

  /** Q130: epoch shard shuffle — the data-loader manifest a training run
    * reads: every document hash-assigned to a fixed shard (epoch-invariant,
    * so shard files are written once), and within each shard given a fresh
    * deterministic pseudo-random position per epoch (the global shuffle
    * between epochs), with positions contiguous 1..n so a crashed run can
    * resume at (epoch, shard, pos). Hashes are [[TrainingOps.portableBucket]]'s
    * exact MINSTD arithmetic — a pure function of (doc_id, epoch), so the
    * permutation is reproducible at any parallelism and replicable by a
    * DuckDB oracle, unlike `orderBy(rand(seed))` which silently re-deals
    * under AQE re-planning. The ranking window is partitioned by
    * (epoch, shard) — bounded by shard size, never a global sort; at 100 TB
    * each shard's manifest ranks independently and the output is written
    * `partitionBy(shard)` exactly like q110's packed shards.
    */
  def q130ShardShuffle: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val p = 2147483647L
    val h1 = pmod(pmod(col("doc_id"), lit(p)) * 48271L, lit(p))
    val h2 = pmod((h1 + 1L) * 16807L, lit(p))
    Tables(s, d, "documents")
      .select(col("doc_id"), pmod(h2, lit(16L)).as("shard"), h2.as("h"))
      .withColumn("epoch", explode(array(lit(0L), lit(1L))))
      // the epoch must enter MULTIPLICATIVELY: an additive salt is an
      // affine shift mod p, which preserves intra-shard order except at
      // the single wrap point — i.e. no reshuffle at all between epochs
      .withColumn("oh", pmod(
        pmod((col("h") + col("epoch") + 1L) * 48271L, lit(p))
          * (col("epoch") + 16807L), lit(p)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("epoch"), col("shard"))
          .orderBy(col("oh"), col("doc_id"))).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  /** Q163 (north-star): curriculum ordering — the deterministic easy→hard
    * schedule a training run consumes. Difficulty is an exact integer metric
    * (per-mille average token length), banded by FIXED portable thresholds —
    * a pure map with no distribution pass (quantile banding would add an
    * approx-quantile scan; fixed cut points are what production curricula
    * pin anyway, so reruns are stable under corpus growth). Within a band,
    * docs land in a MINSTD-shuffled shard and take their position from a
    * window partitioned by (band, shard) — q130's bounded-manifest shape,
    * never one global sequence. Shard count scales with corpus size
    * (n / target shard rows); 8 here.
    */
  def q163Curriculum: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val p = 2147483647L
    val docs = Tables(s, d, "documents")
      .select(col("doc_id"),
        expr("CAST(length(replace(text, ' ', '')) * 1000 AS BIGINT) DIV " +
          "size(filter(split(text, ' '), t -> t != ''))").as("diff"))
    val h1 = pmod(pmod(col("doc_id"), lit(p)) * 48271L, lit(p))
    val h2 = pmod((h1 + 1L) * 16807L, lit(p))
    docs
      .withColumn("band", when(col("diff") < 4350, 0L).when(col("diff") < 4500, 1L)
        .when(col("diff") < 4650, 2L).otherwise(3L))
      .withColumn("shard", pmod(h2, lit(8L)))
      .withColumn("oh", pmod((h2 + col("band") + 1L) * 48271L, lit(p)))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("band"), col("shard"))
          .orderBy(col("oh"), col("doc_id"))).cast("long"))
      .select(col("band"), col("shard"), col("pos"), col("doc_id"), col("diff"))
      .orderBy(col("band"), col("shard"), col("pos"))
  }

  /** Q107: dedup with KEEP-BEST survivor policy — q56's resolution with the
    * survivor rule production pipelines actually use: within each near-dup
    * component keep the highest-quality copy (longest text, id tiebreak),
    * not the smallest id. Same prefix-filtered pair generation and
    * pointer-jumping components; the policy is one window over components
    * (state ∝ component size). Output is per-document, so the oracle hash
    * pins every survivor decision, not just the histogram.
    */
  def q107DedupKeepBest: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, d, "documents")
    val pairs = corpusDupPairs(s, d)
      .select(col("id1"), col("id2"))
    val resolved = Components.resolveDuplicates(docs, "doc_id", pairs)
      .select(col("doc_id"), col("component"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    resolved.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("is_survivor", row_number().over(w) === 1)
      .select(col("doc_id"), col("component"), col("n_chars"), col("is_survivor"))
      .orderBy(col("doc_id"))
  }

  /** Q72: embedding-space dedup resolution — the vector twin of q56's
    * lexical pipeline: exact cosine pairs over the bounded chunked scan
    * ([[Similarity.exactCosinePairs]]) thresholded at 0.4, connected
    * components, group-size histogram. Oracle-checked end-to-end (DuckDB:
    * all-pairs cosine + recursive-CTE closure). The LSH candidate path
    * (q40) remains the super-scale regime; this is its exactness baseline
    * with the same downstream resolution machinery.
    */
  def q72EmbedDedup: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings")
      .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ev"))
      .withColumn("nrm", sqrt(Similarity.dot(col("ev"), col("ev"))))
    val pairs = Similarity.exactCosinePairs(emb)
      .filter(round(col("cos"), 6) >= 0.4)
      .select(col("id1"), col("id2"))
    Components.resolveDuplicates(
        Tables(s, d, "embeddings").select(col("vec_id")), "vec_id", pairs)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))
  }

  /** Candidate pairs for [[q113EmbedDedupBlocked]]: vectors co-assigned to
    * any shared IVF cluster (4-replica multi-assignment so near-boundary
    * vectors co-occur with EVERY neighborhood they straddle), exact-verified
    * at the q72 threshold. K grows as √n so the EXPECTED CLUSTER SIZE —
    * and with it the per-cluster pair quadratic — stays bounded relative
    * to the corpus: compare volume ~r²·n²/2K = r²·n^1.5/2, against the
    * baseline's n²/2. (A fixed K would quietly decay to all-pairs as the
    * corpus grows — the silent blocking regression.) r=4 is the measured
    * operating point (DebugBlocked curve, sf0.01): recall 0.644/0.847/
    * 0.983/1.000 at r=2/3/4/5 for 21k/44k/69k/91k candidate pairs — the
    * r=4 step buys +13.6 recall points for 1.57× compare volume (still
    * ~n^1.5) at flat sf0.1 wall-clock; r=5's last 1.7 points cost another
    * 1.33× and are left to callers who need exactness. Factored out so
    * ScaleTwinsSpec can pin precision and recall against the exact
    * all-pairs baseline.
    */
  /** The session-cached IVF assignment behind [[ivfBlockedPairs]] (k =
    * √n seeded, 4 assignment replicas) — exposed so the [[Standing]] bench
    * row can force the index build with the exact params q113/q114 use.
    */
  private[operators] def blockedAssigned(emb: DataFrame,
                                         replicas: Int = 4): DataFrame = {
    val k = math.max(16, math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    graft.similarity.Ann.ivfIndexCached(
      emb, "vec_id", "embedding", k = k, refineIters = 1,
      assignReplicas = replicas)._1
  }

  def ivfBlockedPairs(emb: DataFrame, minCos: Double = 0.4,
                      replicas: Int = 4): DataFrame = {
    // build-once: q113 and q114 run over the same embeddings relation in
    // one sweep; the memoized index makes the second caller pay only the
    // pair join, not the k-means seeding + 3 materializations (the
    // dominant fixed cost in the sf0.1 crossover table)
    val assigned = blockedAssigned(emb, replicas)
    val a = assigned.select(col("cid"), col("id").as("id1"), col("ev").as("ev1"))
    val b = assigned.select(col("cid"), col("id").as("id2"), col("ev").as("ev2"))
    a.join(b, Seq("cid"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        graft.functions.VectorFunctions.cosineSim(col("ev1"), col("ev2")).as("cos"))
      .filter(round(col("cos"), 6) >= minCos)
      // replica co-assignments emit the same pair up to r² times (same cos
      // — it's the exact verify); one survivor per pair
      .dropDuplicates("id1", "id2")
  }

  /** Q113: IVF-blocked embedding dedup — [[q72EmbedDedup]]'s scale twin
    * (the last `weak`-by-design pair's scale path, same move as
    * q108/q109/q110 for the window trio): candidate pairs are generated
    * only WITHIN shared IVF cluster assignments instead of the exact
    * all-pairs compare, cutting compare volume from n²/2 to ~r²·n^1.5/2
    * (K grows as √n so cluster size stays bounded — a fixed K would decay
    * to all-pairs as the corpus grows; r=4 replicas per the measured
    * recall/cost curve — see [[ivfBlockedPairs]]), then exact-verified at
    * the same threshold and resolved with the SAME
    * components + histogram machinery. Precision is 1.0 by construction
    * (every emitted pair passes the exact cosine test); recall < 1 by
    * design is the blocking trade, pinned in the spec. Engine-only; the
    * exactness baseline remains q72.
    */
  def q113EmbedDedupBlocked: Q = (s, d) => {
    val emb = Tables(s, d, "embeddings")
    Components.resolveDuplicates(
        emb.select(col("vec_id")), "vec_id", ivfBlockedPairs(emb))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("group_size"))
      .groupBy(col("group_size"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("group_size"))
  }

  /** Q114: blocked top-k cosine pairs — [[Similarity.q60CosinePairs]]'
    * scale twin, closing the weak-by-design list entirely: the same
    * top-50 most-similar-pairs report, with candidates from the IVF
    * blocking (exact scores — cosine is verified, not estimated) instead
    * of the exact all-pairs compare. Recall@50 vs the exact baseline is
    * pinned in ScaleTwinsSpec; q60 remains the exactness reference.
    */
  def q114CosineTopkBlocked: Q = (s, d) => {
    ivfBlockedPairs(Tables(s, d, "embeddings"), minCos = -1.0)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("score"))
      .orderBy(col("score").desc, col("id1"), col("id2"))
      .limit(50)
  }

  /** Q74: the end-to-end training-data prep pipeline — the composition a
    * reference user actually runs, as ONE declarative query: quality filter
    * (≥ 40 tokens) → exact content dedup (md5 keep-first) → language tag
    * (q42's stopword profiles, single-eval) → deterministic split (q53's
    * portable hash) → per-(split, lang) corpus stats. Every stage is an
    * already-oracle-pinned operator; this query pins their COMPOSITION
    * (filter ordering, dedup-before-tag semantics) end-to-end. One shuffle
    * per aggregation boundary: the dedup window and the final group.
    */
  def q74PrepPipeline: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toksQ = filter(split(col("text"), " "), t => t =!= "")
    val quality = Tables(s, d, "documents").filter(size(toksQ) >= 40)
    val deduped = quality
      .withColumn("fp", md5(col("text")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, t => t.isin(words: _*))).cast("long").as("score"),
        lit(lang).as("lang"))
    }
    deduped
      .select(col("doc_id"), col("n_chars"),
        array_max(array(scored: _*)).as("best"))
      .select(col("doc_id"), col("n_chars"), col("best").getField("lang").as("pred_lang"))
      .withColumn("split", TrainingOps.portableSplitLabel("doc_id", 0.2))
      .groupBy(col("split"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"), col("pred_lang"))
  }

  /** Q78: train/test contamination detection — the eval-hygiene op every
    * training pipeline needs before publishing a split: which TEST documents
    * share enough rare word-3-shingles with some TRAIN document that the
    * eval set leaks training content. Report = one row per contaminated test
    * doc with its best-matching train doc (most shared rare shingles,
    * train_id tiebreak).
    *
    * Scale shape: shingles join only through the docfreq ≤ 4 filter, the
    * same stop-shingle removal that makes [[graft.dedup.JaccardJoin]]
    * sub-quadratic — per-shingle join fan-out is capped at docfreq², so the
    * candidate volume is ≤ 16× the rare-shingle count no matter how hot the
    * corpus vocabulary is. The shingle relation is materialized once via
    * [[graft.Checkpoints]] (reliable mode via `graft.checkpointDir`) and
    * feeds both join sides (the round-2 lesson: an uncached subplan behind a
    * self-join re-executes per branch). The docfreq count is a window over
    * the one exchange on `sh`; at extreme corpus scale swap it for a
    * partial-agg groupBy + join-back (map-side combine absorbs hot
    * stop-shingles) at the price of a second materialization — downstream is
    * identical since the cap removes those keys anyway.
    */
  def q78Contamination: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val tk = filter(split(col("text"), " "), t => t =!= "")
    val shingles = when(size(tk) < lit(3), array(array_join(tk, " ")))
      .otherwise(transform(sequence(lit(0), size(tk) - 3),
        i => array_join(slice(tk, i + lit(1), lit(3)), " ")))
    val sh = Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        TrainingOps.portableSplitLabel("doc_id", 0.2).as("split"),
        explode(array_distinct(shingles)).as("sh"))
    val rare = graft.Checkpoints.materialize(sh
      .withColumn("docfreq", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .filter(col("docfreq") <= 4)
      .select(col("doc_id"), col("split"), col("sh")))
    val te = rare.filter(col("split") === "test")
      .select(col("doc_id").as("test_id"), col("sh"))
    val tr = rare.filter(col("split") === "train")
      .select(col("doc_id").as("train_id"), col("sh"))
    val hits = te.join(tr, Seq("sh"))
      .groupBy(col("test_id"), col("train_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    val w = Window.partitionBy(col("test_id")).orderBy(col("shared").desc, col("train_id"))
    hits.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("test_id"), col("train_id"), big(col("shared")).as("shared"))
      .orderBy(col("test_id"))
  }

  /** Q90: changeset merge (MERGE INTO / CDC apply) — the incremental-refresh
    * operator a continuously-updated training corpus needs: apply a batch of
    * upserts and deletes to the base table in ONE relational pass instead of
    * rewriting the corpus. The changeset is derived deterministically from
    * the base (updates: doc_id ≡ 0 mod 10 — re-crawled docs get truncated
    * uppercase text; deletes: doc_id ≡ 0 mod 17, delete wins over update;
    * inserts: fresh ids at +1,000,000 for doc_id ≡ 0 mod 23), then applied
    * with a single FULL OUTER join on the key: base-only rows pass through,
    * matched rows take the new text or drop (delete), changeset-only rows
    * are inserts. One shuffle on the key; at 100 TB this co-partitions with
    * a bucketed base table and the small changeset side broadcasts.
    */
  /** The deterministic synthetic changeset over a documents base — shared by
    * the batch MERGE (q90) and its streaming foreachBatch twin (q98).
    */
  def changeset(base: DataFrame): DataFrame = base
    .filter(col("doc_id") % 10 === 0 || col("doc_id") % 17 === 0 || col("doc_id") % 23 === 0)
    .select(
      when(col("doc_id") % 17 === 0, col("doc_id"))
        .when(col("doc_id") % 10 === 0, col("doc_id"))
        .otherwise(col("doc_id") + 1000000L).as("cs_id"),
      when(col("doc_id") % 17 === 0, lit("delete"))
        .when(col("doc_id") % 10 === 0, lit("update"))
        .otherwise(lit("insert")).as("op"),
      when(col("doc_id") % 17 === 0, lit(null).cast("string"))
        .when(col("doc_id") % 10 === 0, upper(substring(col("text"), 1, 50)))
        .otherwise(concat(lit("synthetic refresh "), col("doc_id"))).as("new_text"))

  def q90MergeUpsert: Q = (s, d) => {
    val base = Tables(s, d, "documents").select(col("doc_id"), col("text"), col("lang"))
    val cs = changeset(base)
    base.join(cs, col("doc_id") === col("cs_id"), "full_outer")
      .filter(!(col("op") <=> "delete"))
      .select(
        coalesce(col("doc_id"), col("cs_id")).as("doc_id"),
        coalesce(col("op"), lit("keep")).as("provenance"),
        big(length(coalesce(col("new_text"), col("text")))).as("n_chars_new"))
      .orderBy(col("doc_id"))
  }

  /** Q96: sequence packing — the pretraining batch-construction operator:
    * documents are concatenated in a deterministic order (doc_id) and
    * chopped into fixed token-budget sequences (budget 2048), documents
    * splitting across boundaries exactly as a packed pretraining loader
    * does. Pure window arithmetic: one running-sum exchange gives each doc
    * its token interval [start, end); the sequences it touches are
    * `floor(start/B) .. floor((end−1)/B)`, exploded with `sequence()`
    * (fan-out = spans, ≈ 1 for typical docs ≪ B). Per sequence: docs
    * touching it, tokens filling it (= B everywhere but the tail), and how
    * many docs were split at its boundaries. The global cumsum order is the
    * exactness spine; at 100 TB packing runs per shard with shard-local
    * budgets (the loaders' actual practice), which is this same plan inside
    * a partitionBy.
    */
  def q96SamplePacking: Q = (s, d) => {
    val budget = 2048L
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val toksCol = filter(split(col("text"), " "), t => t =!= "")
    val spans = Tables(s, d, "documents")
      .select(col("doc_id"), big(size(toksCol)).as("n_tok"))
      .withColumn("st", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("en", col("st") + col("n_tok"))
      .filter(col("n_tok") > 0)
      // integer div, not `/`: Spark's `/` on longs is double division
      .select(col("doc_id"), col("st"), col("en"),
        explode(sequence(expr(s"st div $budget"),
          expr(s"(en - 1) div $budget"))).as("seq_id"))
    spans
      .select(col("seq_id"), col("doc_id"),
        (least(col("en"), (col("seq_id") + 1) * budget) -
          greatest(col("st"), col("seq_id") * budget)).as("tok_in_seq"),
        (col("st") < col("seq_id") * budget ||
          col("en") > (col("seq_id") + 1) * budget).as("split"))
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_in_seq")).as("n_tokens"),
        sum(when(col("split"), 1L).otherwise(0L)).as("n_split_docs"))
      .orderBy(col("seq_id"))
  }

  /** Q110: shard-local sequence packing — [[q96SamplePacking]]'s 100 TB
    * twin and the pretraining loaders' real practice: the corpus shards
    * deterministically (doc_id mod 8 here; in production the input-file
    * grouping), each shard packs independently with its own token-budget
    * running sum, and sequence ids are per-shard. The cumsum window runs
    * INSIDE `partitionBy(shard)` — a hash shuffle on shard, never a global
    * single-partition sort — so the plan scales out linearly with shard
    * count. The shard function is portable SQL, so unlike the other scale
    * twins this one carries a full DuckDB hash oracle.
    */
  def q110PackingShard: Q = (s, d) => {
    val budget = 2048L
    val nShards = 8
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val toksCol = filter(split(col("text"), " "), t => t =!= "")
    val spans = Tables(s, d, "documents")
      .select(col("doc_id"), big(size(toksCol)).as("n_tok"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards)).cast("long"))
      .withColumn("st", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("en", col("st") + col("n_tok"))
      .filter(col("n_tok") > 0)
      .select(col("shard"), col("doc_id"), col("st"), col("en"),
        explode(sequence(expr(s"st div $budget"),
          expr(s"(en - 1) div $budget"))).as("seq_id"))
    spans
      .select(col("shard"), col("seq_id"), col("doc_id"),
        (least(col("en"), (col("seq_id") + 1) * budget) -
          greatest(col("st"), col("seq_id") * budget)).as("tok_in_seq"),
        (col("st") < col("seq_id") * budget ||
          col("en") > (col("seq_id") + 1) * budget).as("split"))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_in_seq")).as("n_tokens"),
        sum(when(col("split"), 1L).otherwise(0L)).as("n_split_docs"))
      .orderBy(col("shard"), col("seq_id"))
  }

  /** Q111: temperature-resampled corpus mixing weights — the multi-source
    * sampling schedule a pretraining run derives before reading a byte:
    * per-source exact token counts, sampling weight w ∝ n_tokens^alpha
    * (alpha = 0.3 flattens the head exactly as multilingual/multi-domain
    * recipes do), and the expected document draw from a 10k-doc budget.
    * One aggregate + a 1-row broadcast total — embeds at any corpus size.
    * Float discipline: pow values are rounded to 6 dp and summed as exact
    * DECIMAL(18,6) (order-independent), then the weight division runs in
    * doubles with the same arithmetic shape in both engines, D4-rounded.
    */
  def q111MixWeights: Q = (s, d) => {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val perSource = Tables(s, d, "documents")
      .select(col("source"), big(size(toks)).as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .withColumn("wraw", round(pow(col("n_tokens").cast("double"), 0.3), 6)
        .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
    val total = perSource.agg(sum(col("wraw")).as("wsum"))
    perSource.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("wraw").cast("double") / col("wsum").cast("double"), 4).as("mix_weight"),
        round(lit(10000) * col("wraw").cast("double") / col("wsum").cast("double"), 2).as("target_docs"))
      .orderBy(col("source"))
  }

  /** Q112: quality-gate funnel — the per-source observability report a
    * cleaning pipeline emits every batch: documents passing each gate
    * (length ≥ 40 tokens, stopword ratio ≥ 2%, distinct-token ratio
    * ≥ 0.4) and all three together. Division-free integer comparisons on
    * exact token counts, so the report is portable to the oracle verbatim;
    * map + one aggregate at any scale.
    */
  def q112FilterFunnel: Q = (s, d) => {
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val en = Seq("the", "a", "of", "and", "to")
    val gLen = col("n_tok") >= 40
    val gStop = col("n_stop") * 50 >= col("n_tok")
    val gRep = col("n_uniq") * 5 >= col("n_tok") * 2
    Tables(s, d, "documents")
      .select(col("source"),
        big(size(toks)).as("n_tok"),
        big(size(array_distinct(toks))).as("n_uniq"),
        big(size(filter(toks, t => t.isin(en: _*)))).as("n_stop"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(gLen, 1L).otherwise(0L)).as("pass_len"),
        sum(when(gStop, 1L).otherwise(0L)).as("pass_stop"),
        sum(when(gRep, 1L).otherwise(0L)).as("pass_rep"),
        sum(when(gLen && gStop && gRep, 1L).otherwise(0L)).as("pass_all"))
      .orderBy(col("source"))
  }

  /** Q100: weight-proportional corpus sampling — build a training subsample
    * where longer (higher-weight) documents are proportionally more likely
    * to be kept: p = 0.25 · min(n_chars, 800)/800 via
    * [[TrainingOps.portableWeightedSample]]'s division-free integer
    * comparison on the portable id-hash. Map-only (embeds in any scan),
    * exact kept-row set at any parallelism.
    */
  /** Q298: deterministic negative sampling — the contrastive-training
    * primitive: for every customer, 8 pseudo-random candidate items drawn
    * by the PORTABLE two-round MINSTD hash of (custkey, slot) (q100's
    * arithmetic — a pure function of the row, so the draw is identical at
    * any parallelism and in the oracle), anti-joined against the true
    * co-purchase interactions so only genuine negatives survive. Slots
    * that hash onto a real interaction are dropped, not resampled — the
    * declared semantics (resampling loops don't distribute; a production
    * run over-draws instead).
    *
    * Scale shape: one distinct interaction collapse, a 1-row max-key
    * broadcast, an 8-way per-customer explode, one anti-join keyed on
    * (custkey, item) — every step shuffles on its key, no global state.
    */
  /** The distinct (custkey, item) true-interaction relation — a STANDING
    * artifact (opt r14): q298 and its streaming twin q307 both anti-join
    * against it, and each was re-running the orders⋈lineitem distinct
    * per run (~2.5 s of q307's drain "fixed" cost at sf0.1).
    */
  private[graft] def custItemInteractions(s: SparkSession, d: String): DataFrame =
    graft.Checkpoints.materializeCachedByKey(s, s"custItemInteractions|$d") {
      Tables(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"))
        .join(Tables(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("custkey"), col("l_partkey").as("item"))
        .distinct()
    }

  def q298NegativeSampling: Q = (s, d) => {
    val p = 2147483647L
    val inter = custItemInteractions(s, d)
    val np = Tables(s, d, "part").agg(max(col("p_partkey")).as("np"))
    Tables(s, d, "customer").select(col("c_custkey").as("custkey"))
      .crossJoin(broadcast(np))
      .select(col("custkey"), explode(sequence(lit(1L), lit(8L))).as("slot"),
        col("np"))
      .withColumn("h1",
        pmod(pmod(col("custkey") * 8L + col("slot"), lit(p)) * 48271L, lit(p)))
      .withColumn("item", pmod(pmod((col("h1") + 1L) * 16807L, lit(p)), col("np")) + 1L)
      .join(inter, Seq("custkey", "item"), "left_anti")
      .select(col("custkey"), big(col("slot")).as("slot"), big(col("item")).as("item"))
      .orderBy(col("custkey"), col("slot"))
  }

  def q100WeightedSample: Q = (s, d) => {
    TrainingOps.portableWeightedSample(
        Tables(s, d, "documents"), "doc_id", "n_chars")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Q145: preference-pair construction — the DPO/RLHF-style (chosen,
    * rejected) pairing: within each source, rank docs by a deterministic
    * quality score (distinct-token count, doc_id tiebreak), pair the i-th
    * best with the i-th worst for i ≤ ⌊n/2⌋ (top half vs bottom half, so a
    * doc never appears on both sides), and report the score margin. Scale/
    * determinism design: both rank windows and the count window partition by
    * source — work per group, never per corpus (the production key is the
    * prompt/task id; source stands in); the half-cutoff is the pure-integer
    * predicate 2·rank ≤ n, so no float division anywhere; the pair join is
    * keyed on (source, pair_id). All-integer output — hash-exact in any
    * engine.
    */
  def q145PreferencePairs: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val scored = Tables(s, d, "documents")
      .select(col("doc_id"), col("source"),
        big(size(array_distinct(toks))).as("score"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
    val wBot = Window.partitionBy(col("source"))
      .orderBy(col("score").asc, col("doc_id").desc)
    val ranked = scored
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("r_top", big(row_number().over(wTop)))
      .withColumn("r_bot", big(row_number().over(wBot)))
    val chosen = ranked.filter(col("r_top") * lit(2L) <= col("cnt"))
      .select(col("source"), col("r_top").as("pair_id"),
        col("doc_id").as("chosen_id"), col("score").as("chosen_score"))
    val rejected = ranked.filter(col("r_bot") * lit(2L) <= col("cnt"))
      .select(col("source"), col("r_bot").as("pair_id"),
        col("doc_id").as("rejected_id"), col("score").as("rejected_score"))
    chosen.join(rejected, Seq("source", "pair_id"))
      .select(col("source"), col("pair_id"), col("chosen_id"),
        col("rejected_id"), col("chosen_score"), col("rejected_score"),
        (col("chosen_score") - col("rejected_score")).as("margin"))
      .orderBy(col("source"), col("pair_id"))
  }

  /** Q147: split-leakage audit — measures what q141 fixes: over the COMPLETE
    * exact 3-gram-Jaccard ≥ ½ near-dup pair relation (q56's kernel), count
    * pairs that straddle train/test under (a) the naive per-doc hash split
    * (q53's assignment) and (b) the cluster-hash split (q141's assignment,
    * vocabulary-fingerprint cluster key). A pair straddling the split means
    * a test document has a near-duplicate in train — memorization leaking
    * into eval. Scale/determinism: the pair relation is built once and
    * joined twice to the tiny per-doc label relation (keyed joins); split
    * labels are the portable MINSTD hash, so the whole audit is
    * integer-exact. One-row output: pair total + straddle count per method.
    * By construction, identical-fingerprint pairs can never straddle the
    * cluster split; residual cluster straddles are Jaccard-near-dups whose
    * vocabularies differ — the audit reports them honestly.
    */
  def q147SplitLeakage: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, d, "documents")
    val pairs = corpusDupPairs(s, d)
      .select(col("id1"), col("id2"))
    val toks = filter(split(col("text"), " "), t => t =!= "")
    val fp = array_join(array_sort(array_distinct(toks)), " ")
    val splitOf = (k: Column) =>
      when(TrainingOps.portableBucket(k) < 2000, "test").otherwise("train")
    val labels = docs
      .withColumn("ck", min(col("doc_id")).over(Window.partitionBy(fp)))
      .select(col("doc_id"), splitOf(col("doc_id")).as("naive_split"),
        splitOf(col("ck")).as("cluster_split"))
    pairs
      .join(labels.select(col("doc_id").as("id1"),
        col("naive_split").as("n1"), col("cluster_split").as("c1")), Seq("id1"))
      .join(labels.select(col("doc_id").as("id2"),
        col("naive_split").as("n2"), col("cluster_split").as("c2")), Seq("id2"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("n1") =!= col("n2"), 1L).otherwise(0L)).as("naive_straddle"),
        sum(when(col("c1") =!= col("c2"), 1L).otherwise(0L)).as("cluster_straddle"))
  }

  /** Q248: duplication rate by source — the provenance diagnostic a
    * mixture owner reads before re-weighting (q111): per source, the
    * share of documents involved in any near-dup pair (the q56/q147
    * exact-Jaccard kernel at threshold 1/2), split into cross-source
    * involvement (this source copies / is copied by others — a licensing
    * and leakage question) and intra-source (internal redundancy — a
    * crawler-quality question). Pair relation built once; the rest is
    * label joins and keyed aggregates.
    */
  def q248DupRateBySource: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val pairs = corpusDupPairs(s, d)
      .select(col("id1"), col("id2"))
    val src = docs.select(col("doc_id"), col("source"))
    val lab = pairs
      .join(src.select(col("doc_id").as("id1"), col("source").as("s1")), Seq("id1"))
      .join(src.select(col("doc_id").as("id2"), col("source").as("s2")), Seq("id2"))
    val involved = lab.select(col("id1").as("doc_id"), col("s1").as("source"),
      (col("s1") =!= col("s2")).as("cross"))
      .union(lab.select(col("id2"), col("s2"), col("s1") =!= col("s2")))
    val perDoc = involved.groupBy(col("source"), col("doc_id"))
      .agg(max(when(col("cross"), 1L).otherwise(0L)).as("has_cross"),
        max(when(!col("cross"), 1L).otherwise(0L)).as("has_intra"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_dup_docs"),
          sum(col("has_cross")).as("n_cross"),
          sum(col("has_intra")).as("n_intra")), Seq("source"), "left")
      .select(col("source"), big(col("n_docs")).as("n_docs"),
        big(coalesce(col("n_dup_docs"), lit(0L))).as("n_dup_docs"),
        big(coalesce(col("n_cross"), lit(0L))).as("n_cross_source"),
        big(coalesce(col("n_intra"), lit(0L))).as("n_intra_source"),
        round(coalesce(col("n_dup_docs"), lit(0L)).cast("double")
          / col("n_docs").cast("double"), 6).as("dup_rate"))
      .orderBy(col("source"))
  }

  /** Q149: contamination COVERAGE — the decontamination decision rule
    * production filters actually apply (Llama/PaLM-style): not "does the
    * doc share ANY 8-gram with the benchmark" (q119's membership test) but
    * "what FRACTION of the doc's token positions lies under a benchmark
    * 8-gram", counting positions under overlapping hits once via q128's
    * merged-interval arithmetic. A doc quoting one benchmark passage
    * verbatim scores high; a doc that happens to share scattered common
    * 8-grams scores low — the coverage threshold separates them where
    * q119's any-hit rule can't. Shape: the position-indexed window-hash
    * relation, one hash-keyed semi-join against the distinct benchmark
    * union set (small, broadcast-able at 100 TB), one per-doc window +
    * keyed aggregate; short docs carry their whole text as one window
    * (q119's convention).
    */
  def q149ContaminationCoverage: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = 8
    val toks = filter(split(col("text"), " "), t => t =!= "")
    // standing relation — memoized for the q119 reasons (shared kernel)
    val base = posNgramsSrc(s, d)
    val bench = base.filter(col("source") === "src0").select(col("h")).distinct()
    val train = base.filter(col("source") =!= "src0")
    val winLen = least(lit(w.toLong), col("n_tokens"))
    val prevEnd = max(col("i") + winLen).over(
      Window.partitionBy(col("doc_id")).orderBy(col("i"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val hits = train.join(bench, Seq("h"), "left_semi")
      .withColumn("c", greatest(lit(0L),
        col("i") + winLen - greatest(coalesce(prevEnd, lit(0L)), col("i"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_windows"), sum(col("c")).as("covered"))
    train.groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_hit_windows"), lit(0L)).as("n_hit_windows"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        round(coalesce(col("covered"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("contam_coverage"))
      .filter(col("n_hit_windows") > 0L)
      .orderBy(col("doc_id"))
  }

  /** Q150: fixed-budget eval-set apportionment — the held-out-set
    * construction q62's per-stratum FRACTIONS can't express: a fixed total
    * budget (200 docs) allocated across (lang, source) cells by
    * largest-remainder (Hamilton) apportionment — floor(B·n/N) seats per
    * cell exactly (integer div/mod, no float quotas), the leftover seats
    * to the cells with the largest remainders — then filled per cell by
    * the portable MINSTD hash order (deterministic at any parallelism).
    * Σ quota = B exactly, and quota ≤ n per cell whenever B < N (floor
    * strictly below n), so the set is always exactly B docs. Shape: the
    * cell relation is bounded (|langs|×|sources|), so its apportionment
    * window is a few-row driver-side-scale sort (allow-listed); the
    * per-cell fill is a keyed window over docs — the only corpus-sized
    * work, partitioned by cell.
    */
  def q150EvalQuota: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val B = 200L
    val docs = Tables(s, d, "documents")
    val cells = docs.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("nn"))))
      .withColumn("f", (lit(B) * col("n") - pmod(lit(B) * col("n"), col("nn"))) / col("nn"))
      .withColumn("f", col("f").cast("long"))
      .withColumn("r", pmod(lit(B) * col("n"), col("nn")))
    val quotas = cells
      .crossJoin(broadcast(cells.agg(sum(col("f")).as("sf"))))
      .withColumn("cr", row_number().over(
        Window.orderBy(col("r").desc, col("lang"), col("source"))))
      .withColumn("quota",
        col("f") + when(col("cr") <= lit(B) - col("sf"), 1L).otherwise(0L))
      .select(col("lang"), col("source"), col("quota"))
    val drk = row_number().over(
      Window.partitionBy(col("lang"), col("source"))
        .orderBy(TrainingOps.portableBucket(col("doc_id")), col("doc_id")))
    docs.select(col("lang"), col("source"), col("doc_id"))
      .withColumn("rk", drk.cast("long"))
      .join(quotas, Seq("lang", "source"))
      .filter(col("rk") <= col("quota"))
      .select(col("lang"), col("source"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("source"), col("rk"))
  }

  /** Q154: language rebalancing — the downsample-to-target pass between
    * q111 (which only DERIVES mixing weights) and q62 (which needs
    * configured fractions): rebalance the corpus toward a UNIFORM
    * per-language share computed from the data itself, by accepting each
    * doc iff its portable MINSTD bucket clears the language's acceptance
    * threshold t_l = min(10000, (10000·N) div (L·n_l)) — pure integer
    * arithmetic, so overrepresented languages are thinned to ≈ N/L docs
    * while minority languages keep everything, deterministically at any
    * parallelism. Shape: one keyed per-lang count, a 1-row (N, L)
    * broadcast, the tiny threshold relation broadcast back against the
    * corpus for a map-side accept predicate, one final keyed aggregate —
    * nothing corpus-sized ever shuffles twice.
    */
  def q154LangRebalance: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_before"))
    val tot = counts.agg(sum(col("n_before")).as("nn"),
      count(lit(1)).as("nl"))
    val thresholds = counts.crossJoin(broadcast(tot))
      .withColumn("denom", col("nl") * col("n_before"))
      .withColumn("threshold", least(lit(10000L),
        (lit(10000L) * col("nn") - pmod(lit(10000L) * col("nn"), col("denom")))
          .cast("long") / col("denom")))
      .withColumn("threshold", col("threshold").cast("long"))
      .select(col("lang"), col("n_before"), col("threshold"))
    docs.select(col("lang"), col("doc_id"))
      .join(broadcast(thresholds), Seq("lang"))
      .withColumn("accept",
        when(TrainingOps.portableBucket(col("doc_id")) < col("threshold"), 1L)
          .otherwise(0L))
      .groupBy(col("lang"))
      .agg(max(col("n_before")).as("n_before"),
        max(col("threshold")).as("threshold"),
        sum(col("accept")).as("n_after"))
      .orderBy(col("lang"))
  }

  /** Q345: Efraimidis–Spirakis weighted top-k sample WITHOUT replacement —
    * the one-pass distributed answer to "give me exactly 100 docs, long
    * docs proportionally more likely": each doc draws the deterministic
    * MINSTD uniform u ∈ (0,1] and keeps key = ln(u)/w (monotone with the
    * A-ES u^(1/w)); the global top-100 keys ARE the without-replacement
    * weighted sample. q100's Bernoulli keep gives a RANDOM-SIZED sample;
    * this gives an exact-size one — the distinction that matters when
    * the budget is fixed.
    *
    * Determinism: u is the portable 31-bit hash shifted to (0,1] by one
    * exact double division; keys are 6-dp-rounded before ranking with a
    * doc_id tiebreak; selection is one TakeOrdered — no window, no
    * shuffle beyond top-k.
    */
  def q345WeightedReservoir: Q = (s, d) => {
    val p = 2147483647L
    val h = pmod((pmod(pmod(col("doc_id"), lit(p)) * 48271L, lit(p)) + 1L)
      * 16807L, lit(p))
    Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(log((h + 1L).cast("double") / lit(2147483648.0))
          / col("n_chars").cast("double"), 6).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(100)
  }

  /** Q386: language-ID confusion matrix — q42's stopword classifier
    * EVALUATED against the labeled `lang` column: per-class TP/FP/FN,
    * precision/recall/F1 and the macro-F1, the "is the cheap langid good
    * enough to gate the corpus" audit a pipeline needs before trusting
    * q42's tags for mixing (q111) or splits (q150). Counting is pure
    * integer; the per-class ratios are one IEEE expression each, and
    * macro-F1 averages the 6-dp-rounded per-class F1s (deterministic:
    * bounded class count, rounded terms, decimal sum).
    */
  def q386LangConfusion: Q = (s, d) => {
    val toksC = filter(split(col("text"), " "), t => t =!= "")
    val scored = stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toksC, t => t.isin(words: _*))).cast("long").as("score"),
        lit(lang).as("lang"))
    }
    val pred = Tables(s, d, "documents")
      .select(col("lang").as("labeled"),
        array_max(array(scored: _*)).getField("lang").as("pred"))
    val tpfn = pred.groupBy(col("labeled").as("cls"))
      .agg(sum(when(col("pred") === col("labeled"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") =!= col("labeled"), 1L).otherwise(0L)).as("fn"))
    val fpRel = pred.filter(col("pred") =!= col("labeled"))
      .groupBy(col("pred").as("cls")).agg(count(lit(1)).as("fp"))
    val perClass = tpfn.join(fpRel, Seq("cls"), "left")
      .select(col("cls"), col("tp"),
        coalesce(col("fp"), lit(0L)).as("fp"), col("fn"))
    val f1 = round(lit(2.0) * col("tp").cast("double") /
      (lit(2.0) * col("tp").cast("double") + col("fp").cast("double")
        + col("fn").cast("double")), 6)
    val rows = perClass.select(col("cls").as("lang"),
      big(col("tp")).as("tp"), big(col("fp")).as("fp"), big(col("fn")).as("fn"),
      when(col("tp") + col("fp") === 0L, lit(0.0))
        .otherwise(round(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
      round(col("tp").cast("double") /
        (col("tp") + col("fn")).cast("double"), 6).as("recall"),
      f1.as("f1"))
    val macroF1 = rows.agg(
      sum(col("f1").cast(org.apache.spark.sql.types.DecimalType(18, 6)))
        .cast("double").as("sf"),
      count(lit(1)).as("k"))
      .select(round(col("sf") / col("k").cast("double"), 6).as("macro_f1"))
    rows.crossJoin(broadcast(macroF1)).orderBy(col("lang"))
  }

  /** Q389: media resize — the typed codec-boundary
    * [[graft.multimodal.Multimodal.resize]] (stride-4 body sampling + a
    * genuine header dim rewrite, output again a valid GM1 container) run
    * over the media table and RE-DECODED, reported per format. Closes the
    * multimodal op set as declared queries (decode q44 / frame-sample
    * q122 / resize here). The GM1 body is deterministic byte arithmetic
    * from doc_id, so the oracle replays the stride-sampled byte sums and
    * rewritten dims in plain SQL — the `mapPartitions` resize itself sits
    * under the hash gate, not just a shape pin.
    */
  def q389MediaResize: Q = (s, d) => {
    import s.implicits._
    val media = Multimodal.mediaTable(Tables(s, d, "documents"))
      .as[graft.multimodal.MediaRow]
    val resized = Multimodal.resize(media, factor = 4)
    Multimodal.decodeFeatures(resized).toDF()
      .groupBy(col("format"))
      .agg(big(count(lit(1))).as("n_media"),
        big(sum(col("width"))).as("sum_width"),
        big(sum(col("height"))).as("sum_height"),
        big(sum(col("n_bytes"))).as("sum_bytes"),
        big(sum(col("byte_sum"))).as("sum_byte_values"),
        big(sum(col("frames"))).as("sum_frames"))
      .orderBy(col("format"))
  }

  /** Q476: sampled-quantile error audit — how far do deciles estimated
    * from a deterministic 5% sample drift from the exact ones? The
    * question every "profile on a sample" shortcut must answer before a
    * pipeline trusts it. The sample is the portable LCG bucket (q53's
    * reproducible-split contract, so BOTH engines draw the SAME rows);
    * both exact and sampled deciles are lower quantiles from the bounded
    * cent-support collapse (the q363 argument); output is one row per
    * decile with the signed cent error. Scale shape: two keyed
    * aggregates + two bounded-support windows — never a global sort of
    * the rows.
    */
  def q476SampledQuantileError: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select((dec(col("value")) * 100).cast("long").as("c"),
        TrainingOps.portableBucket(col("event_id"), 100).as("bk"))
    def deciles(byC: DataFrame, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("c"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val tot = byC.agg(sum(col("t")).cast("long").as("n"))
      byC.withColumn("cum", sum(col("t")).over(w))
        .crossJoin(broadcast(tot))
        .withColumn("q", explode(array((1L to 9L).map(lit): _*)))
        .filter(expr("cum >= (q * n + 9) div 10"))
        .groupBy(col("q")).agg(min(col("c")).as(out))
    }
    val exact = deciles(ev.groupBy(col("c")).agg(count(lit(1)).as("t")), "exact_cents")
    val est = deciles(ev.filter(col("bk") < 5)
      .groupBy(col("c")).agg(count(lit(1)).as("t")), "est_cents")
    exact.join(est, Seq("q"))
      .select(col("q").as("decile"), col("exact_cents"), col("est_cents"),
        (col("est_cents") - col("exact_cents")).as("err_cents"),
        abs(col("est_cents") - col("exact_cents")).as("abs_err_cents"))
      .orderBy(col("decile"))
  }

  val queries: Map[String, Q] = Map(
    "q476_sampled_quantile_error" -> q476SampledQuantileError,
    "q389_media_resize" -> q389MediaResize,
    "q386_lang_confusion" -> q386LangConfusion,
    "q345_weighted_reservoir" -> q345WeightedReservoir,
    "q283_decontam_sensitivity" -> q283DecontamSensitivity,
    "q285_dup_growth" -> q285DupGrowth,
    "q286_curation_dashboard" -> q286CurationDashboard,
    "q280_snapshot_drift" -> q280SnapshotDrift,
    "q163_curriculum" -> q163Curriculum,
    "q154_lang_rebalance" -> q154LangRebalance,
    "q150_eval_quota" -> q150EvalQuota,
    "q149_contamination_coverage" -> q149ContaminationCoverage,
    "q248_dup_rate_by_source" -> q248DupRateBySource,
    "q147_split_leakage" -> q147SplitLeakage,
    "q145_preference_pairs" -> q145PreferencePairs,
    "q100_weighted_sample" -> q100WeightedSample,
    "q298_negative_sampling" -> q298NegativeSampling,
    "q96_sample_packing" -> q96SamplePacking,
    "q110_packing_shard" -> q110PackingShard,
    "q111_mix_weights" -> q111MixWeights,
    "q112_filter_funnel" -> q112FilterFunnel,
    "q113_embed_dedup_blocked" -> q113EmbedDedupBlocked,
    "q114_cosine_topk_blocked" -> q114CosineTopkBlocked,
    "q115_cross_source_leakage" -> q115CrossSourceLeakage,
    "q116_incremental_dedup" -> q116IncrementalDedup,
    "q123_incremental_dedup_full" -> q123IncrementalDedupFull,
    "q125_foldin_ingest" -> q125FoldinIngest,
    "q119_benchmark_decontamination" -> q119BenchmarkDecontamination,
    "q308_contamination_matrix" -> q308ContaminationMatrix,
    "q120_padding_waste" -> q120PaddingWaste,
    "q126_ngram_novelty" -> q126NgramNovelty,
    "q128_substring_dup" -> q128SubstringDup,
    "q156_span_rewrite" -> q156SpanRewrite,
    "q157_decontam_rewrite" -> q157DecontamRewrite,
    "q159_incremental_span_rewrite" -> q159IncrementalSpanRewrite,
    "q129_corpus_diff" -> q129CorpusDiff,
    "q130_shard_shuffle" -> q130ShardShuffle,
    "q90_merge_upsert" -> q90MergeUpsert,
    "q78_contamination" -> q78Contamination,
    "q53_train_test_split" -> q53TrainTestSplit,
    "q72_embed_dedup" -> q72EmbedDedup,
    "q74_prep_pipeline" -> q74PrepPipeline,
    "q56_dedup_resolve" -> q56DedupResolve,
    "q293_dedup_threshold_sweep" -> q293DedupThresholdSweep,
    "q294_minhash_quality_eval" -> q294MinhashQualityEval,
    "q301_dup_span_explain" -> q301DupSpanExplain,
    "q107_dedup_keep_best" -> q107DedupKeepBest,
    "q35_approx_distinct" -> q35ApproxDistinct,
    "q37_minhash_pairs" -> q37MinhashPairs,
    "q39_simhash_pairs" -> q39SimhashPairs,
    "q40_ann_lsh" -> q40AnnLsh,
    "q41_ann_ivf" -> q41AnnIvf,
    "q124_ann_ivf_batch" -> q124AnnIvfBatch,
    "q153_ann_ivf_foldin" -> q153AnnIvfFoldin,
    "q42_langid" -> q42LangId,
    "q43_rolling_fp" -> q43RollingFp,
    "q44_multimodal" -> q44Multimodal,
    "q122_frame_sample" -> q122FrameSample,
    "q269_frame_dedup" -> q269FrameDedup)

  /** Q269: cross-video frame deduplication — fingerprint every sampled
    * frame (q122's stride-4 slices through the typed codec boundary) by
    * its byte content and report frames repeated across the corpus: the
    * multimodal analog of q28's exact text dedup, the check a video
    * pipeline runs for duplicated footage/test patterns before training.
    * Fingerprint = the frame's hex byte string (16 bytes — at production
    * frame sizes this becomes md5, same plan).
    *
    * Scale shape: one decode pass (mapPartitions only at the documented
    * codec boundary), one fingerprint-keyed map-side-combined aggregate,
    * TakeOrdered(50). The oracle rebuilds the same frames arithmetically
    * from the GM1 layout (q122's technique) and groups in SQL.
    */
  def q269FrameDedup: Q = (s, d) => {
    val frames = Multimodal.sampleFrames(
      Multimodal.mediaTable(Tables(s, d, "documents")), stride = 4)
    frames.select(col("doc_id"), lower(hex(col("frame_bytes"))).as("fp"))
      .groupBy(col("fp"))
      .agg(big(count(lit(1))).as("n_occurrences"),
        big(countDistinct(col("doc_id"))).as("n_docs"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_occurrences") >= 2)
      .orderBy(col("n_occurrences").desc, col("fp"))
      .limit(50)
  }

  /** DuckDB twins of the deterministic north-star queries (q35/q37/q39/q40/
    * q41 stay engine-only: approximate by design).
    */
  /** The q283 oracle: q119's shingle/semi-join SQL swept over the three
    * widths, each reduced to scalar subqueries (COUNT over an empty hit
    * relation still yields a row — matching Spark's agg-on-empty).
    */
  private val decontamSensSql: String = {
    def ctes(w: Int) =
      s"""ng$w AS MATERIALIZED (SELECT DISTINCT doc_id, source, u.g FROM toks,
         |  unnest(CASE WHEN len(tk) < $w THEN [array_to_string(tk, ' ')]
         |    ELSE list_transform(range(0, len(tk) - ${w - 1}),
         |                        i -> array_to_string(tk[i+1:i+$w], ' ')) END) AS u(g)),
         |bench$w AS (SELECT DISTINCT g FROM ng$w WHERE source = 'src0'),
         |j$w AS MATERIALIZED (SELECT t.doc_id FROM ng$w t
         |       JOIN bench$w USING (g) WHERE t.source <> 'src0')"""
    def block(w: Int) =
      s"""SELECT CAST($w AS BIGINT) AS ngram_w,
         |  (SELECT n_train FROM td) AS n_train_docs,
         |  (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM j$w) AS n_contaminated,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM j$w) AS n_hit_ngrams,
         |  (SELECT ROUND(CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
         |     / (SELECT n_train FROM td), 6) FROM j$w) AS contamination_rate"""
    val ws = Seq(5, 8, 13)
    s"""WITH toks AS MATERIALIZED (SELECT doc_id, source,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
       |td AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM documents
       |       WHERE source <> 'src0'),
       |${ws.map(ctes).mkString(",\n")}
       |${ws.map(block).mkString("\nUNION ALL\n")}
       |ORDER BY ngram_w""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q476_sampled_quantile_error" ->
      """WITH ev AS (SELECT
        |    CAST(CAST(value AS DECIMAL(18,4)) * 100 AS BIGINT) AS c,
        |    ((((event_id % 2147483647) * 48271) % 2147483647 + 1)
        |      * 16807) % 2147483647 % 100 AS bk
        |  FROM events),
        |exc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS t FROM ev GROUP BY 1),
        |exn AS (SELECT CAST(SUM(t) AS BIGINT) AS n FROM exc),
        |exq AS (SELECT q, MIN(c) AS exact_cents
        |  FROM (SELECT c, SUM(t) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM exc) s, exn,
        |    (SELECT CAST(u.q AS BIGINT) AS q FROM unnest(range(1, 10)) u(q)) qs
        |  WHERE cum >= (q * n + 9) // 10 GROUP BY 1),
        |smc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS t FROM ev
        |  WHERE bk < 5 GROUP BY 1),
        |smn AS (SELECT CAST(SUM(t) AS BIGINT) AS n FROM smc),
        |smq AS (SELECT q, MIN(c) AS est_cents
        |  FROM (SELECT c, SUM(t) OVER (ORDER BY c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |    FROM smc) s, smn,
        |    (SELECT CAST(u.q AS BIGINT) AS q FROM unnest(range(1, 10)) u(q)) qs
        |  WHERE cum >= (q * n + 9) // 10 GROUP BY 1)
        |SELECT exq.q AS decile, exact_cents, est_cents,
        |  est_cents - exact_cents AS err_cents,
        |  ABS(est_cents - exact_cents) AS abs_err_cents
        |FROM exq JOIN smq ON exq.q = smq.q
        |ORDER BY 1""".stripMargin,
    // the GM1 container is deterministic byte arithmetic from doc_id
    // (syntheticPayload), so the typed mapPartitions resize replays in SQL:
    // stride-4 body bytes, dim bytes integer-divided with a floor of 1
    "q389_media_resize" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 4 AS fc,
        |    (doc_id % 97 + 32 + 3) // 4 AS outn
        |  FROM documents),
        |sums AS (
        |  SELECT doc_id,
        |    CAST(SUM((doc_id * 31 + 4 * u.j * 17) % 256) AS BIGINT)
        |      AS byte_sum
        |  FROM m, unnest(range(0, outn)) AS u(j) GROUP BY doc_id),
        |per AS (
        |  SELECT m.doc_id,
        |    ['png','jpeg','wav','mp4'][fc + 1] AS format,
        |    GREATEST(1, (m.doc_id % 8 + 1) // 4) * 64 AS width,
        |    GREATEST(1, (m.doc_id % 4 + 1) // 4) * 64 AS height,
        |    outn AS n_bytes, byte_sum,
        |    CASE WHEN fc = 3 THEN GREATEST(1, outn // 16)
        |         ELSE 1 END AS frames
        |  FROM m JOIN sums ON m.doc_id = sums.doc_id)
        |SELECT format, CAST(COUNT(*) AS BIGINT) AS n_media,
        |  CAST(SUM(width) AS BIGINT) AS sum_width,
        |  CAST(SUM(height) AS BIGINT) AS sum_height,
        |  CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
        |  CAST(SUM(byte_sum) AS BIGINT) AS sum_byte_values,
        |  CAST(SUM(frames) AS BIGINT) AS sum_frames
        |FROM per GROUP BY format ORDER BY format""".stripMargin,
    "q386_lang_confusion" ->
      """WITH t AS (SELECT lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |p AS (SELECT lang AS labeled, (list_max([
        |    {'score': len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))), 'lang': 'de'},
        |    {'score': len(list_filter(tk, x -> x IN ('the','a','of','and','to'))), 'lang': 'en'},
        |    {'score': len(list_filter(tk, x -> x IN ('el','la','de','los','que'))), 'lang': 'es'},
        |    {'score': len(list_filter(tk, x -> x IN ('le','la','et','les','des'))), 'lang': 'fr'},
        |    {'score': len(list_filter(tk, x -> x IN ('的','是','了','在','和'))), 'lang': 'zh'}])).lang AS pred
        |  FROM t),
        |tpfn AS (
        |  SELECT labeled AS cls,
        |    CAST(SUM(CASE WHEN pred = labeled THEN 1 ELSE 0 END) AS BIGINT)
        |      AS tp,
        |    CAST(SUM(CASE WHEN pred <> labeled THEN 1 ELSE 0 END) AS BIGINT)
        |      AS fn
        |  FROM p GROUP BY 1),
        |fprel AS (
        |  SELECT pred AS cls, CAST(COUNT(*) AS BIGINT) AS fp
        |  FROM p WHERE pred <> labeled GROUP BY 1),
        |rws AS (
        |  SELECT cls AS lang, tp, COALESCE(fp, 0) AS fp, fn,
        |    CASE WHEN tp + COALESCE(fp, 0) = 0 THEN CAST('0.0' AS DOUBLE)
        |      ELSE ROUND(CAST(tp AS DOUBLE)
        |        / CAST(tp + COALESCE(fp, 0) AS DOUBLE), 6) END AS precision,
        |    ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE), 6) AS recall,
        |    ROUND(CAST('2.0' AS DOUBLE) * CAST(tp AS DOUBLE)
        |      / (CAST('2.0' AS DOUBLE) * CAST(tp AS DOUBLE)
        |        + CAST(COALESCE(fp, 0) AS DOUBLE) + CAST(fn AS DOUBLE)), 6)
        |      AS f1
        |  FROM tpfn LEFT JOIN fprel USING (cls)),
        |mac AS (
        |  SELECT ROUND(CAST(SUM(CAST(f1 AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS macro_f1
        |  FROM rws)
        |SELECT lang, tp, fp, fn, precision, recall, f1, macro_f1
        |FROM rws, mac ORDER BY lang""".stripMargin,
    "q345_weighted_reservoir" ->
      """SELECT doc_id, lang, n_chars,
        |  ROUND(LN(CAST(((((doc_id % 2147483647) * 48271) % 2147483647 + 1)
        |      * 16807) % 2147483647 + 1 AS DOUBLE)
        |    / CAST('2147483648.0' AS DOUBLE))
        |    / CAST(n_chars AS DOUBLE), 6) AS es_key
        |FROM documents ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,
    "q283_decontam_sensitivity" -> decontamSensSql,
    "q286_curation_dashboard" ->
      """WITH toks AS (SELECT doc_id, source, n_chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |ng AS (SELECT DISTINCT doc_id, source, u.g FROM toks,
        |  unnest(CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 7),
        |                        i -> array_to_string(tk[i+1:i+8], ' ')) END) AS u(g)),
        |bench AS (SELECT DISTINCT g FROM ng WHERE source = 'src0'),
        |contam AS (SELECT DISTINCT ng.doc_id FROM ng
        |  JOIN bench USING (g) WHERE ng.source <> 'src0'),
        |train AS (SELECT doc_id, source, n_chars,
        |    array_to_string(list_sort(list_distinct(tk)), ' ') AS fp
        |  FROM toks WHERE source <> 'src0'),
        |flags AS (SELECT source, n_chars,
        |    doc_id = min(doc_id) OVER (PARTITION BY fp) AS survivor,
        |    doc_id IN (SELECT doc_id FROM contam) AS is_contam,
        |    n_chars < 150 AS is_short
        |  FROM train),
        |f2 AS (SELECT source, n_chars, survivor, is_contam, is_short,
        |    survivor AND NOT is_contam AND NOT is_short AS clean FROM flags)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN NOT survivor THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
        |  CAST(SUM(CASE WHEN is_contam THEN 1 ELSE 0 END) AS BIGINT) AS contam_docs,
        |  CAST(SUM(CASE WHEN is_short THEN 1 ELSE 0 END) AS BIGINT) AS short_docs,
        |  CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS BIGINT) AS clean_docs,
        |  CAST(SUM(CASE WHEN clean THEN n_chars ELSE 0 END) AS BIGINT) AS clean_chars,
        |  ROUND(CAST(SUM(CASE WHEN clean THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 4) AS clean_rate
        |FROM f2 GROUP BY source ORDER BY source""".stripMargin,
    "q285_dup_growth" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |          WHERE 3 * i >= a.n + b.n),
        |rk AS (SELECT doc_id, CAST(substr(source, 4) AS BIGINT) AS rank
        |       FROM documents),
        |pr AS (SELECT p.id1, p.id2, GREATEST(a.rank, b.rank) AS fr
        |       FROM pairs p JOIN rk a ON p.id1 = a.doc_id
        |                    JOIN rk b ON p.id2 = b.doc_id),
        |fd AS (SELECT doc_id, MIN(fr) AS f FROM (
        |         SELECT id1 AS doc_id, fr FROM pr
        |         UNION ALL SELECT id2, fr FROM pr) GROUP BY 1),
        |prd AS (SELECT rank, COUNT(*) AS nd FROM rk GROUP BY 1),
        |prf AS (SELECT f AS rank, COUNT(*) AS nf FROM fd GROUP BY 1),
        |g AS (SELECT prd.rank, prd.nd, COALESCE(prf.nf, 0) AS nf
        |      FROM prd LEFT JOIN prf USING (rank))
        |SELECT rank,
        |  CAST(SUM(nd) OVER w AS BIGINT) AS corpus_docs,
        |  CAST(SUM(nf) OVER w AS BIGINT) AS dup_docs,
        |  ROUND(CAST(SUM(nf) OVER w AS DOUBLE)
        |    / CAST(SUM(nd) OVER w AS DOUBLE), 6) AS dup_rate
        |FROM g
        |WINDOW w AS (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY rank""".stripMargin,
    "q280_snapshot_drift" ->
      """WITH v1 AS (SELECT doc_id, source AS src1, n_chars AS ch1,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN reverse(text) ELSE text END) AS fp1
        |  FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT doc_id, source AS src2, n_chars AS ch2, md5(text) AS fp2
        |  FROM documents WHERE doc_id % 11 <> 0),
        |cls AS (
        |  SELECT COALESCE(src2, src1) AS source, ch1, ch2,
        |    CASE WHEN fp1 IS NULL THEN 'added'
        |         WHEN fp2 IS NULL THEN 'removed'
        |         WHEN fp1 <> fp2 THEN 'changed' ELSE 'unchanged' END AS status
        |  FROM v1 FULL OUTER JOIN v2 USING (doc_id))
        |SELECT source,
        |  CAST(COUNT(ch1) AS BIGINT) AS docs_v1,
        |  CAST(COUNT(ch2) AS BIGINT) AS docs_v2,
        |  CAST(COUNT(CASE WHEN status = 'added' THEN 1 END) AS BIGINT) AS added,
        |  CAST(COUNT(CASE WHEN status = 'removed' THEN 1 END) AS BIGINT) AS removed,
        |  CAST(COUNT(CASE WHEN status = 'changed' THEN 1 END) AS BIGINT) AS changed,
        |  CAST(COUNT(CASE WHEN status = 'unchanged' THEN 1 END) AS BIGINT) AS unchanged,
        |  CAST(COALESCE(SUM(ch1), 0) AS BIGINT) AS chars_v1,
        |  CAST(COALESCE(SUM(ch2), 0) AS BIGINT) AS chars_v2,
        |  CAST(COALESCE(SUM(ch2), 0) - COALESCE(SUM(ch1), 0) AS BIGINT)
        |    AS chars_delta
        |FROM cls GROUP BY source ORDER BY source""".stripMargin,
    "q163_curriculum" ->
      """WITH t AS (SELECT doc_id,
        |    (length(replace(text, ' ', '')) * 1000)
        |      // len(list_filter(string_split(text, ' '), x -> x <> '')) AS diff
        |  FROM documents),
        |b AS (SELECT doc_id, diff,
        |    CASE WHEN diff < 4350 THEN 0 WHEN diff < 4500 THEN 1
        |         WHEN diff < 4650 THEN 2 ELSE 3 END AS band,
        |    ((doc_id % 2147483647) * 48271 % 2147483647 + 1) * 16807 % 2147483647 AS h2
        |  FROM t)
        |SELECT CAST(band AS BIGINT) AS band, CAST(h2 % 8 AS BIGINT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY band, h2 % 8
        |    ORDER BY (h2 + band + 1) * 48271 % 2147483647, doc_id) AS BIGINT) AS pos,
        |  doc_id, CAST(diff AS BIGINT) AS diff
        |FROM b ORDER BY band, shard, pos""".stripMargin,
    "q154_lang_rebalance" ->
      """WITH counts AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_before
        |                FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(SUM(n_before) AS BIGINT) AS nn,
        |               CAST(COUNT(*) AS BIGINT) AS nl FROM counts),
        |th AS (SELECT lang, n_before,
        |         LEAST(10000, (10000 * nn) // (nl * n_before)) AS threshold
        |       FROM counts, tot)
        |SELECT d.lang, MAX(th.n_before) AS n_before,
        |  CAST(MAX(th.threshold) AS BIGINT) AS threshold,
        |  CAST(SUM(CASE WHEN
        |      ((((d.doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |        % 2147483647 % 10000 < th.threshold
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_after
        |FROM documents d JOIN th USING (lang)
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    "q150_eval_quota" ->
      """WITH cells AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        |               FROM documents GROUP BY 1, 2),
        |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
        |c2 AS (SELECT lang, source, n,
        |         CAST((200 * n) // nn AS BIGINT) AS f,
        |         CAST((200 * n) % nn AS BIGINT) AS r
        |       FROM cells, tot),
        |lv AS (SELECT CAST(SUM(f) AS BIGINT) AS sf FROM c2),
        |rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY r DESC, lang, source) AS cr
        |       FROM c2),
        |q AS (SELECT lang, source,
        |        f + CASE WHEN cr <= 200 - sf THEN 1 ELSE 0 END AS quota
        |      FROM rk, lv),
        |scored AS (SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY
        |      ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |        % 2147483647 % 10000, doc_id) AS drk
        |  FROM documents)
        |SELECT s.lang, s.source, CAST(s.drk AS BIGINT) AS rk, s.doc_id
        |FROM scored s JOIN q USING (lang, source)
        |WHERE s.drk <= q.quota
        |ORDER BY s.lang, s.source, s.drk""".stripMargin,
    "q149_contamination_coverage" ->
      """WITH toks AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |sized AS (SELECT doc_id, source, tk,
        |    CAST(len(tk) AS BIGINT) AS n_tokens FROM toks),
        |base AS (SELECT doc_id, source, n_tokens, u.j AS i,
        |    CASE WHEN n_tokens < 8 THEN array_to_string(tk, ' ')
        |         ELSE array_to_string(tk[u.j+1:u.j+8], ' ') END AS g
        |  FROM sized, unnest(range(0, greatest(n_tokens - 7, 1))) AS u(j)),
        |bench AS (SELECT DISTINCT g FROM base WHERE source = 'src0'),
        |train AS (SELECT * FROM base WHERE source <> 'src0'),
        |hw AS (SELECT t.doc_id, t.i, LEAST(8, t.n_tokens) AS L
        |       FROM train t SEMI JOIN bench USING (g)),
        |cov AS (SELECT doc_id,
        |          GREATEST(0, i + L - GREATEST(COALESCE(
        |            MAX(i + L) OVER (PARTITION BY doc_id ORDER BY i
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), i)) AS c
        |        FROM hw),
        |hstats AS (SELECT doc_id, COUNT(*) AS n_hit_windows,
        |             CAST(SUM(c) AS BIGINT) AS covered FROM cov GROUP BY doc_id),
        |stats AS (SELECT doc_id, MAX(n_tokens) AS n_tokens FROM train GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  h.n_hit_windows, h.covered AS covered_tokens,
        |  ROUND(CAST(h.covered AS DOUBLE) / s.n_tokens, 6) AS contam_coverage
        |FROM stats s JOIN hstats h USING (doc_id)
        |WHERE h.n_hit_windows > 0 ORDER BY s.doc_id""".stripMargin,
    "q248_dup_rate_by_source" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |          WHERE 3 * i >= a.n + b.n),
        |lab AS (
        |  SELECT p.id1, p.id2, a.source AS s1, b.source AS s2
        |  FROM pairs p JOIN documents a ON p.id1 = a.doc_id
        |  JOIN documents b ON p.id2 = b.doc_id),
        |inv AS (
        |  SELECT id1 AS doc_id, s1 AS source, s1 <> s2 AS crs FROM lab
        |  UNION ALL SELECT id2, s2, s1 <> s2 FROM lab),
        |perdoc AS (
        |  SELECT source, doc_id,
        |    MAX(CASE WHEN crs THEN 1 ELSE 0 END) AS has_cross,
        |    MAX(CASE WHEN crs THEN 0 ELSE 1 END) AS has_intra
        |  FROM inv GROUP BY 1, 2),
        |agg AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_dup_docs,
        |    CAST(SUM(has_cross) AS BIGINT) AS n_cross,
        |    CAST(SUM(has_intra) AS BIGINT) AS n_intra
        |  FROM perdoc GROUP BY 1),
        |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
        |        FROM documents GROUP BY 1)
        |SELECT tot.source, n_docs,
        |  COALESCE(n_dup_docs, 0) AS n_dup_docs,
        |  COALESCE(n_cross, 0) AS n_cross_source,
        |  COALESCE(n_intra, 0) AS n_intra_source,
        |  ROUND(CAST(COALESCE(n_dup_docs, 0) AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE), 6) AS dup_rate
        |FROM tot LEFT JOIN agg ON tot.source = agg.source
        |ORDER BY tot.source""".stripMargin,
    "q147_split_leakage" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |          WHERE 3 * i >= a.n + b.n),
        |ck AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY
        |         array_to_string(list_sort(list_distinct(
        |           list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS ck
        |       FROM documents),
        |lab AS (SELECT doc_id,
        |  CASE WHEN ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |         % 2147483647 % 10000 < 2000 THEN 'test' ELSE 'train' END AS naive_split,
        |  CASE WHEN ((((ck % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |         % 2147483647 % 10000 < 2000 THEN 'test' ELSE 'train' END AS cluster_split
        |  FROM ck)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0 END) AS BIGINT)
        |    AS naive_straddle,
        |  CAST(SUM(CASE WHEN a.cluster_split <> b.cluster_split THEN 1 ELSE 0 END) AS BIGINT)
        |    AS cluster_straddle
        |FROM pairs JOIN lab a ON id1 = a.doc_id JOIN lab b ON id2 = b.doc_id""".stripMargin,
    "q145_preference_pairs" ->
      """WITH scored AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |      x -> x <> ''))) AS BIGINT) AS score
        |  FROM documents),
        |ranked AS (
        |  SELECT doc_id, source, score,
        |    COUNT(*) OVER (PARTITION BY source) AS cnt,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score DESC, doc_id) AS BIGINT) AS r_top,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY score ASC, doc_id DESC) AS BIGINT) AS r_bot
        |  FROM scored),
        |chosen AS (
        |  SELECT source, r_top AS pair_id, doc_id AS chosen_id,
        |    score AS chosen_score
        |  FROM ranked WHERE r_top * 2 <= cnt),
        |rejected AS (
        |  SELECT source, r_bot AS pair_id, doc_id AS rejected_id,
        |    score AS rejected_score
        |  FROM ranked WHERE r_bot * 2 <= cnt)
        |SELECT source, pair_id, chosen_id, rejected_id, chosen_score,
        |  rejected_score, chosen_score - rejected_score AS margin
        |FROM chosen JOIN rejected USING (source, pair_id)
        |ORDER BY source, pair_id""".stripMargin,
    "q298_negative_sampling" ->
      """WITH np AS (SELECT MAX(p_partkey) AS np FROM part),
        |inter AS (SELECT DISTINCT o_custkey AS custkey, l_partkey AS item
        |          FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |cand AS (
        |  SELECT c_custkey AS custkey, CAST(u.s AS BIGINT) AS slot,
        |    (((((c_custkey * 8 + u.s) % 2147483647) * 48271) % 2147483647 + 1)
        |      * 16807) % 2147483647 % np + 1 AS item
        |  FROM customer, np, unnest(range(1, 9)) AS u(s))
        |SELECT custkey, slot, item FROM cand
        |WHERE NOT EXISTS (SELECT 1 FROM inter
        |                  WHERE inter.custkey = cand.custkey
        |                    AND inter.item = cand.item)
        |ORDER BY custkey, slot""".stripMargin,
    "q100_weighted_sample" ->
      """WITH h AS (
        |  SELECT doc_id, lang, n_chars,
        |    ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |      % 2147483647 % 10000 AS b
        |  FROM documents)
        |SELECT doc_id, lang, n_chars FROM h
        |WHERE b * 800 < 2500 * least(n_chars, 800)
        |ORDER BY doc_id""".stripMargin,
    "q96_sample_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, n_tok,
        |    CAST(coalesce(SUM(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM t),
        |x AS (
        |  SELECT doc_id, s AS st, s + n_tok AS en, u.q AS seq_id
        |  FROM sp, unnest(range(s // 2048, (s + n_tok - 1) // 2048 + 1)) AS u(q)
        |  WHERE n_tok > 0)
        |SELECT seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(least(en, (seq_id + 1) * 2048) - greatest(st, seq_id * 2048)) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN st < seq_id * 2048 OR en > (seq_id + 1) * 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    "q110_packing_shard" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS BIGINT) AS shard,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, shard, n_tok,
        |    CAST(coalesce(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
        |  FROM t),
        |x AS (
        |  SELECT shard, doc_id, s AS st, s + n_tok AS en, u.q AS seq_id
        |  FROM sp, unnest(range(s // 2048, (s + n_tok - 1) // 2048 + 1)) AS u(q)
        |  WHERE n_tok > 0)
        |SELECT shard, seq_id, COUNT(*) AS n_docs,
        |  CAST(SUM(least(en, (seq_id + 1) * 2048) - greatest(st, seq_id * 2048)) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN st < seq_id * 2048 OR en > (seq_id + 1) * 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
        |FROM x GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin,
    "q115_cross_source_leakage" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |          WHERE 3 * i >= a.n + b.n),
        |d AS (SELECT doc_id, source FROM documents),
        |tagged AS (
        |  SELECT least(d1.source, d2.source) AS source_a,
        |         greatest(d1.source, d2.source) AS source_b, id1, id2
        |  FROM pairs JOIN d d1 ON id1 = d1.doc_id JOIN d d2 ON id2 = d2.doc_id
        |  WHERE d1.source <> d2.source),
        |np AS (SELECT source_a, source_b, COUNT(*) AS n_pairs
        |       FROM tagged GROUP BY 1, 2),
        |nd AS (SELECT source_a, source_b, COUNT(DISTINCT docid) AS n_docs FROM (
        |         SELECT source_a, source_b, id1 AS docid FROM tagged
        |         UNION ALL SELECT source_a, source_b, id2 FROM tagged)
        |       GROUP BY 1, 2)
        |SELECT np.source_a, np.source_b, n_pairs, n_docs
        |FROM np JOIN nd ON np.source_a = nd.source_a AND np.source_b = nd.source_b
        |ORDER BY np.source_a, np.source_b""".stripMargin,
    "q116_incremental_dedup" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh
        |          JOIN documents d1 ON s1.doc_id = d1.doc_id
        |          JOIN documents d2 ON s2.doc_id = d2.doc_id
        |          WHERE d1.source = 'src18' AND d2.source <> 'src18'
        |          GROUP BY 1, 2),
        |matched AS (SELECT id1, id2, i, a.n AS n1, b.n AS n2 FROM inter
        |            JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |            WHERE 3 * i >= a.n + b.n),
        |scored AS (SELECT id1, id2,
        |             ROUND(CAST(i AS DOUBLE) / (n1 + n2 - i), 6) AS j FROM matched),
        |best AS (SELECT id1, id2, j,
        |           row_number() OVER (PARTITION BY id1 ORDER BY j DESC, id2) AS rk,
        |           COUNT(*) OVER (PARTITION BY id1) AS nm
        |         FROM scored)
        |SELECT id1 AS doc_id, nm AS n_matches, id2 AS best_match_id,
        |       j AS best_jaccard
        |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // q125 probes src18 against corpus ∪ folded-in src19 = all non-src18
    // sources — exactly q116's relation, so the oracle is q116's verbatim
    // (the fold-in exactness IS what the shared hash then checks)
    "q125_foldin_ingest" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh
        |          JOIN documents d1 ON s1.doc_id = d1.doc_id
        |          JOIN documents d2 ON s2.doc_id = d2.doc_id
        |          WHERE d1.source = 'src18' AND d2.source <> 'src18'
        |          GROUP BY 1, 2),
        |matched AS (SELECT id1, id2, i, a.n AS n1, b.n AS n2 FROM inter
        |            JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |            WHERE 3 * i >= a.n + b.n),
        |scored AS (SELECT id1, id2,
        |             ROUND(CAST(i AS DOUBLE) / (n1 + n2 - i), 6) AS j FROM matched),
        |best AS (SELECT id1, id2, j,
        |           row_number() OVER (PARTITION BY id1 ORDER BY j DESC, id2) AS rk,
        |           COUNT(*) OVER (PARTITION BY id1) AS nm
        |         FROM scored)
        |SELECT id1 AS doc_id, nm AS n_matches, id2 AS best_match_id,
        |       j AS best_jaccard
        |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q123_incremental_dedup_full" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh
        |          JOIN documents d1 ON s1.doc_id = d1.doc_id
        |          WHERE d1.source = 'src7' AND s1.doc_id <> s2.doc_id
        |          GROUP BY 1, 2),
        |matched AS (SELECT id1, id2, i, a.n AS n1, b.n AS n2 FROM inter
        |            JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |            WHERE 3 * i >= a.n + b.n),
        |scored AS (SELECT id1, id2,
        |             ROUND(CAST(i AS DOUBLE) / (n1 + n2 - i), 6) AS j FROM matched),
        |best AS (SELECT id1, id2, j,
        |           row_number() OVER (PARTITION BY id1 ORDER BY j DESC, id2) AS rk,
        |           COUNT(*) OVER (PARTITION BY id1) AS nm
        |         FROM scored)
        |SELECT id1 AS doc_id, nm AS n_matches, id2 AS best_match_id,
        |       j AS best_jaccard
        |FROM best WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q308_contamination_matrix" ->
      """WITH toks AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |ng AS (SELECT DISTINCT doc_id, source, u.g FROM toks,
        |  unnest(CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 7),
        |                        i -> array_to_string(tk[i+1:i+8], ' ')) END) AS u(g)),
        |bench AS (SELECT DISTINCT g FROM ng WHERE source = 'src0'),
        |train AS (SELECT doc_id, source, g FROM ng WHERE source <> 'src0'),
        |flagged AS (
        |  SELECT source, COUNT(DISTINCT doc_id) AS n_flagged,
        |    COUNT(*) AS n_hit_ngrams
        |  FROM train JOIN bench USING (g) GROUP BY source),
        |tot AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs
        |        FROM train GROUP BY source)
        |SELECT t.source, CAST(t.n_docs AS BIGINT) AS n_docs,
        |  CAST(COALESCE(f.n_flagged, 0) AS BIGINT) AS n_flagged,
        |  CAST(COALESCE(f.n_hit_ngrams, 0) AS BIGINT) AS n_hit_ngrams,
        |  ROUND(CAST(COALESCE(f.n_flagged, 0) AS DOUBLE)
        |        / CAST(t.n_docs AS DOUBLE), 6) AS flagged_rate
        |FROM tot t LEFT JOIN flagged f ON t.source = f.source
        |ORDER BY t.source""".stripMargin,
    "q119_benchmark_decontamination" ->
      """WITH toks AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |ng AS (SELECT DISTINCT doc_id, source, u.g FROM toks,
        |  unnest(CASE WHEN len(tk) < 8 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 7),
        |                        i -> array_to_string(tk[i+1:i+8], ' ')) END) AS u(g)),
        |bench AS (SELECT DISTINCT g FROM ng WHERE source = 'src0'),
        |train AS (SELECT doc_id, g FROM ng WHERE source <> 'src0'),
        |tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM train GROUP BY 1),
        |hits AS (SELECT doc_id, COUNT(*) AS n_hits
        |         FROM train JOIN bench USING (g) GROUP BY 1)
        |SELECT t.doc_id, t.n_ngrams, h.n_hits,
        |       ROUND(CAST(h.n_hits AS DOUBLE) / t.n_ngrams, 6) AS contaminated_frac
        |FROM tot t JOIN hits h USING (doc_id) ORDER BY t.doc_id""".stripMargin,
    "q120_padding_waste" ->
      """WITH t AS (SELECT len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
        |           FROM documents),
        |b AS (SELECT n, ((n + 31) // 32) * 32 AS bucket_len FROM t)
        |SELECT CAST(bucket_len AS BIGINT) AS bucket_len, COUNT(*) AS n_docs,
        |  CAST(SUM(n) AS BIGINT) AS n_tokens,
        |  CAST(SUM(bucket_len - n) AS BIGINT) AS n_padding,
        |  ROUND(CAST(SUM(n) AS DOUBLE) / SUM(bucket_len), 6) AS utilization
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // the oracle dedups shingle STRINGS where Spark dedups xxhash64 values —
    // counts agree exactly unless a 64-bit collision occurs in-corpus
    "q126_ngram_novelty" ->
      """WITH toks AS (SELECT CAST(substr(source, 4) AS BIGINT) AS src_rank,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |sh AS (SELECT DISTINCT src_rank, u.g FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(g)),
        |fo AS (SELECT src_rank, MIN(src_rank) OVER (PARTITION BY g) AS first_rank
        |       FROM sh),
        |per AS (SELECT src_rank, COUNT(*) AS n_shingles,
        |          CAST(SUM(CASE WHEN src_rank = first_rank THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_novel
        |        FROM fo GROUP BY 1),
        |nd AS (SELECT CAST(substr(source, 4) AS BIGINT) AS src_rank,
        |         COUNT(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT src_rank, n_docs, n_shingles, n_novel,
        |  ROUND(CAST(n_novel AS DOUBLE) / n_shingles, 6) AS novelty
        |FROM per JOIN nd USING (src_rank) ORDER BY src_rank""".stripMargin,
    // positions are 0-based window-start indices in both engines; the oracle
    // dedups window STRINGS where Spark counts distinct docs per xxhash64
    "q128_substring_dup" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |sized AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM toks),
        |base AS (SELECT doc_id, n_tokens, u.j AS i,
        |    CASE WHEN n_tokens < 8 THEN array_to_string(tk, ' ')
        |         ELSE array_to_string(tk[u.j+1:u.j+8], ' ') END AS g
        |  FROM sized, unnest(range(0, greatest(n_tokens - 7, 1))) AS u(j)),
        |dup AS (SELECT g FROM base GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |dw AS (SELECT b.doc_id, b.i, LEAST(8, b.n_tokens) AS L
        |       FROM base b JOIN dup USING (g)),
        |cov AS (SELECT doc_id,
        |          GREATEST(0, i + L - GREATEST(COALESCE(
        |            MAX(i + L) OVER (PARTITION BY doc_id ORDER BY i
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0), i)) AS c
        |        FROM dw),
        |dstats AS (SELECT doc_id, COUNT(*) AS n_dup_windows,
        |             CAST(SUM(c) AS BIGINT) AS covered FROM cov GROUP BY doc_id),
        |stats AS (SELECT doc_id, MAX(n_tokens) AS n_tokens, COUNT(*) AS n_windows
        |          FROM base GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens, s.n_windows,
        |  COALESCE(d.n_dup_windows, 0) AS n_dup_windows,
        |  COALESCE(d.covered, 0) AS covered_tokens,
        |  ROUND(CAST(COALESCE(d.covered, 0) AS DOUBLE) / s.n_tokens, 6) AS dup_coverage
        |FROM stats s LEFT JOIN dstats d USING (doc_id) ORDER BY s.doc_id""".stripMargin,
    // q128's dup-window detection (n-gram STRINGS stand in for the hashes —
    // equality of strings == equality of hashes, no collisions at fixture
    // scale), then the rewrite rebuilt arithmetically: token j survives iff
    // no dup window starts in [j-L+1, j]; string_agg(... ORDER BY j)
    // reassembles the kept tokens so the hash pins the rewritten content
    "q156_span_rewrite" ->
      """WITH toksrc AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |sized AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_tokens FROM toksrc),
        |base AS (SELECT doc_id, n_tokens, u.j AS i,
        |    CASE WHEN n_tokens < 8 THEN array_to_string(tk, ' ')
        |         ELSE array_to_string(tk[u.j+1:u.j+8], ' ') END AS g
        |  FROM sized, unnest(range(0, greatest(n_tokens - 7, 1))) AS u(j)),
        |dup AS (SELECT g FROM base GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |dw AS (SELECT b.doc_id, b.i, LEAST(8, b.n_tokens) AS L
        |       FROM base b JOIN dup USING (g)),
        |tok AS (SELECT doc_id, n_tokens, u.j AS j, tk[CAST(u.j AS INT)+1] AS tok
        |        FROM sized, unnest(range(0, n_tokens)) AS u(j)),
        |cov AS (SELECT DISTINCT t.doc_id, t.j
        |        FROM tok t JOIN dw d ON t.doc_id = d.doc_id
        |          AND t.j BETWEEN d.i AND d.i + d.L - 1),
        |kept AS (SELECT t.doc_id, t.j, t.tok
        |         FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j
        |         WHERE c.j IS NULL),
        |kagg AS (SELECT doc_id, COUNT(*) AS kept_tokens,
        |           string_agg(tok, ' ' ORDER BY j) AS text_clean
        |         FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  s.n_tokens - COALESCE(k.kept_tokens, 0) AS removed_tokens,
        |  COALESCE(k.text_clean, '') AS text_clean
        |FROM (SELECT doc_id, n_tokens FROM sized) s
        |LEFT JOIN kagg k USING (doc_id) ORDER BY s.doc_id""".stripMargin,
    // q156's dup rule and rebuild arithmetic, output restricted to the
    // src7 delta (dup detection still spans ALL documents)
    "q159_incremental_span_rewrite" ->
      """WITH toksrc AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |sized AS (SELECT doc_id, source, tk,
        |    CAST(len(tk) AS BIGINT) AS n_tokens FROM toksrc),
        |base AS (SELECT doc_id, source, n_tokens, u.j AS i,
        |    CASE WHEN n_tokens < 8 THEN array_to_string(tk, ' ')
        |         ELSE array_to_string(tk[u.j+1:u.j+8], ' ') END AS g
        |  FROM sized, unnest(range(0, greatest(n_tokens - 7, 1))) AS u(j)),
        |dup AS (SELECT g FROM base GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2),
        |dw AS (SELECT b.doc_id, b.i, LEAST(8, b.n_tokens) AS L
        |       FROM base b JOIN dup USING (g) WHERE b.source = 'src7'),
        |tok2 AS (SELECT s.doc_id, s.n_tokens, u.j AS j, s.tk[CAST(u.j AS INT)+1] AS tok
        |        FROM sized s, unnest(range(0, s.n_tokens)) AS u(j)
        |        WHERE s.source = 'src7'),
        |cov AS (SELECT DISTINCT t.doc_id, t.j
        |        FROM tok2 t JOIN dw d ON t.doc_id = d.doc_id
        |          AND t.j BETWEEN d.i AND d.i + d.L - 1),
        |kept AS (SELECT t.doc_id, t.j, t.tok
        |         FROM tok2 t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j
        |         WHERE c.j IS NULL),
        |kagg AS (SELECT doc_id, COUNT(*) AS kept_tokens,
        |           string_agg(tok, ' ' ORDER BY j) AS text_clean
        |         FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  s.n_tokens - COALESCE(k.kept_tokens, 0) AS removed_tokens,
        |  COALESCE(k.text_clean, '') AS text_clean
        |FROM (SELECT doc_id, n_tokens FROM sized WHERE source = 'src7') s
        |LEFT JOIN kagg k USING (doc_id) ORDER BY s.doc_id""".stripMargin,
    // q156's rebuild arithmetic with q119/q149's benchmark membership rule:
    // cut positions lie under a window whose 8-gram is in src0's union set;
    // only train (non-src0) docs are rewritten
    "q157_decontam_rewrite" ->
      """WITH toksrc AS (SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |sized AS (SELECT doc_id, source, tk,
        |    CAST(len(tk) AS BIGINT) AS n_tokens FROM toksrc),
        |base AS (SELECT doc_id, source, n_tokens, u.j AS i,
        |    CASE WHEN n_tokens < 8 THEN array_to_string(tk, ' ')
        |         ELSE array_to_string(tk[u.j+1:u.j+8], ' ') END AS g
        |  FROM sized, unnest(range(0, greatest(n_tokens - 7, 1))) AS u(j)),
        |bench AS (SELECT DISTINCT g FROM base WHERE source = 'src0'),
        |dw AS (SELECT b.doc_id, b.i, LEAST(8, b.n_tokens) AS L
        |       FROM base b JOIN bench USING (g) WHERE b.source <> 'src0'),
        |tok2 AS (SELECT s.doc_id, s.n_tokens, u.j AS j, s.tk[CAST(u.j AS INT)+1] AS tok
        |        FROM sized s, unnest(range(0, s.n_tokens)) AS u(j)
        |        WHERE s.source <> 'src0'),
        |cov AS (SELECT DISTINCT t.doc_id, t.j
        |        FROM tok2 t JOIN dw d ON t.doc_id = d.doc_id
        |          AND t.j BETWEEN d.i AND d.i + d.L - 1),
        |kept AS (SELECT t.doc_id, t.j, t.tok
        |         FROM tok2 t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.j = c.j
        |         WHERE c.j IS NULL),
        |kagg AS (SELECT doc_id, COUNT(*) AS kept_tokens,
        |           string_agg(tok, ' ' ORDER BY j) AS text_clean
        |         FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.n_tokens,
        |  s.n_tokens - COALESCE(k.kept_tokens, 0) AS removed_tokens,
        |  COALESCE(k.text_clean, '') AS text_clean
        |FROM (SELECT doc_id, n_tokens FROM sized WHERE source <> 'src0') s
        |LEFT JOIN kagg k USING (doc_id) ORDER BY s.doc_id""".stripMargin,
    // both engines: md5 emits lowercase hex of the raw string bytes;
    // reverse() reverses the string; v1/v2 membership is pure modular
    // arithmetic on the non-negative doc_id, so the derived snapshots agree
    "q129_corpus_diff" ->
      """WITH v1 AS (SELECT doc_id, source AS src1,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN reverse(text) ELSE text END) AS fp1
        |  FROM documents WHERE doc_id % 7 <> 0),
        |v2 AS (SELECT doc_id, source AS src2, md5(text) AS fp2
        |  FROM documents WHERE doc_id % 11 <> 0)
        |SELECT doc_id, COALESCE(src2, src1) AS source,
        |  CASE WHEN fp1 IS NULL THEN 'added'
        |       WHEN fp2 IS NULL THEN 'removed'
        |       WHEN fp1 <> fp2 THEN 'changed' ELSE 'unchanged' END AS status
        |FROM v1 FULL OUTER JOIN v2 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // same exact MINSTD arithmetic as q100's oracle; all operands stay
    // below 2^48 so 64-bit integer math agrees bit-for-bit across engines
    "q130_shard_shuffle" ->
      """WITH h1 AS (SELECT doc_id,
        |    ((doc_id % 2147483647) * 48271) % 2147483647 AS h1 FROM documents),
        |h2 AS (SELECT doc_id, ((h1 + 1) * 16807) % 2147483647 AS h FROM h1),
        |e AS (SELECT doc_id, h, h % 16 AS shard, CAST(u.e AS BIGINT) AS epoch,
        |    ((((h + u.e + 1) * 48271) % 2147483647) * (u.e + 16807))
        |      % 2147483647 AS oh
        |  FROM h2, unnest([0, 1]) AS u(e))
        |SELECT epoch, shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, shard
        |    ORDER BY oh, doc_id) AS BIGINT) AS pos, doc_id
        |FROM e ORDER BY epoch, shard, pos""".stripMargin,
    "q111_mix_weights" ->
      """WITH t AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |    CAST(SUM(CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source),
        |w AS (
        |  SELECT source, n_docs, n_tokens,
        |    CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.3), 6) AS DECIMAL(18,6)) AS wraw
        |  FROM t),
        |s AS (SELECT SUM(wraw) AS wsum FROM w)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(wraw AS DOUBLE) / CAST(wsum AS DOUBLE), 4) AS mix_weight,
        |  round(10000 * CAST(wraw AS DOUBLE) / CAST(wsum AS DOUBLE), 2) AS target_docs
        |FROM w, s ORDER BY source""".stripMargin,
    "q112_filter_funnel" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tok,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS n_uniq,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS n_stop
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN n_tok >= 40 THEN 1 ELSE 0 END) AS BIGINT) AS pass_len,
        |  CAST(SUM(CASE WHEN n_stop * 50 >= n_tok THEN 1 ELSE 0 END) AS BIGINT) AS pass_stop,
        |  CAST(SUM(CASE WHEN n_uniq * 5 >= n_tok * 2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_rep,
        |  CAST(SUM(CASE WHEN n_tok >= 40 AND n_stop * 50 >= n_tok AND n_uniq * 5 >= n_tok * 2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "q90_merge_upsert" ->
      """WITH cs AS (
        |  SELECT CASE WHEN doc_id % 17 = 0 THEN doc_id
        |              WHEN doc_id % 10 = 0 THEN doc_id
        |              ELSE doc_id + 1000000 END AS cs_id,
        |         CASE WHEN doc_id % 17 = 0 THEN 'delete'
        |              WHEN doc_id % 10 = 0 THEN 'update'
        |              ELSE 'insert' END AS op,
        |         CASE WHEN doc_id % 17 = 0 THEN NULL
        |              WHEN doc_id % 10 = 0 THEN upper(substr(text, 1, 50))
        |              ELSE 'synthetic refresh ' || doc_id END AS new_text
        |  FROM documents
        |  WHERE doc_id % 10 = 0 OR doc_id % 17 = 0 OR doc_id % 23 = 0)
        |SELECT coalesce(d.doc_id, cs.cs_id) AS doc_id,
        |  coalesce(cs.op, 'keep') AS provenance,
        |  CAST(length(coalesce(cs.new_text, d.text)) AS BIGINT) AS n_chars_new
        |FROM documents d FULL JOIN cs ON d.doc_id = cs.cs_id
        |WHERE NOT (cs.op IS NOT DISTINCT FROM 'delete')
        |ORDER BY doc_id""".stripMargin,
    "q78_contamination" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |              FROM documents),
        |split AS (SELECT doc_id, tk,
        |    CASE WHEN ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |           % 2147483647 % 10000 < 2000
        |         THEN 'test' ELSE 'train' END AS split FROM toks),
        |sh AS (SELECT DISTINCT doc_id, split, u.s AS sh FROM split,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |df AS (SELECT sh, COUNT(*) AS docfreq FROM sh GROUP BY sh),
        |rare AS (SELECT s.doc_id, s.split, s.sh FROM sh s JOIN df USING (sh)
        |         WHERE df.docfreq <= 4),
        |hits AS (
        |  SELECT te.doc_id AS test_id, tr.doc_id AS train_id, COUNT(*) AS shared
        |  FROM rare te JOIN rare tr ON te.sh = tr.sh AND te.split = 'test' AND tr.split = 'train'
        |  GROUP BY 1, 2)
        |SELECT test_id, train_id, shared FROM (
        |  SELECT test_id, train_id, shared,
        |    row_number() OVER (PARTITION BY test_id ORDER BY shared DESC, train_id) AS rn
        |  FROM hits WHERE shared >= 2)
        |WHERE rn = 1 ORDER BY test_id""".stripMargin,
    "q74_prep_pipeline" ->
      """WITH q AS (
        |  SELECT doc_id, text, n_chars FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 40),
        |d AS (
        |  SELECT doc_id, text, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM q),
        |t AS (
        |  SELECT doc_id, n_chars,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM d WHERE rn = 1),
        |p AS (
        |  SELECT doc_id, n_chars,
        |    list_max([
        |      {'score': len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))), 'lang': 'de'},
        |      {'score': len(list_filter(tk, x -> x IN ('the','a','of','and','to'))), 'lang': 'en'},
        |      {'score': len(list_filter(tk, x -> x IN ('el','la','de','los','que'))), 'lang': 'es'},
        |      {'score': len(list_filter(tk, x -> x IN ('le','la','et','les','des'))), 'lang': 'fr'},
        |      {'score': len(list_filter(tk, x -> x IN ('的','是','了','在','和'))), 'lang': 'zh'}]) AS best,
        |    CASE WHEN ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |           % 2147483647 % 10000 < 2000
        |         THEN 'test' ELSE 'train' END AS split
        |  FROM t)
        |SELECT split, best.lang AS pred_lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |FROM p GROUP BY split, best.lang ORDER BY split, pred_lang""".stripMargin,
    "q72_embed_dedup" ->
      """WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE ROUND(ROUND(list_dot_product(a.ev, b.ev)
        |    / (sqrt(list_dot_product(a.ev, a.ev)) * sqrt(list_dot_product(b.ev, b.ev))), 6), 6) >= 0.4),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
        |walk(node, lab) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT w.node, e2.b FROM walk w JOIN edges e2 ON e2.a = w.lab),
        |comp AS (SELECT node, MIN(lab) AS mn FROM walk GROUP BY node),
        |labeled AS (SELECT v.vec_id, COALESCE(LEAST(c.node, c.mn), v.vec_id) AS component
        |            FROM embeddings v LEFT JOIN comp c ON v.vec_id = c.node),
        |groups AS (SELECT component, COUNT(*) AS group_size FROM labeled GROUP BY component)
        |SELECT group_size, COUNT(*) AS n_groups FROM groups
        |GROUP BY group_size ORDER BY group_size""".stripMargin,
    "q44_multimodal" ->
      """WITH m AS (SELECT doc_id,
        |    unhex('474D01' || printf('%02x', doc_id % 4) ||
        |      printf('%02x', 1 + doc_id % 8) || printf('%02x', 1 + doc_id % 4) ||
        |      array_to_string(list_transform(range(0, 32 + doc_id % 97),
        |        i -> printf('%02x', (doc_id * 31 + i * 17) % 256)), '')) AS payload
        |  FROM documents),
        |d AS (SELECT doc_id, payload, hex(payload) AS hx,
        |    octet_length(payload) - 6 AS n_bytes FROM m),
        |f AS (SELECT doc_id,
        |    list_extract(['png','jpeg','wav','mp4'],
        |      CAST(('0x' || substr(hx, 7, 2)) AS INT) + 1) AS format,
        |    CAST(('0x' || substr(hx, 9, 2)) AS INT) * 64 AS width,
        |    CAST(('0x' || substr(hx, 11, 2)) AS INT) * 64 AS height,
        |    n_bytes,
        |    CAST(list_sum(list_transform(range(0, n_bytes),
        |      i -> CAST(('0x' || substr(hx, i*2+13, 2)) AS BIGINT))) AS BIGINT) AS byte_sum,
        |    CASE WHEN CAST(('0x' || substr(hx, 7, 2)) AS INT) = 3
        |         THEN GREATEST(1, n_bytes // 16) ELSE 1 END AS frames
        |  FROM d)
        |SELECT format, COUNT(*) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  ROUND(CAST(SUM(byte_sum) AS DOUBLE) / CAST(SUM(n_bytes) AS BIGINT), 6) AS avg_byte,
        |  MAX(width) AS max_w, MAX(height) AS max_h,
        |  CAST(SUM(frames) AS BIGINT) AS total_frames
        |FROM f GROUP BY format ORDER BY format""".stripMargin,
    "q269_frame_dedup" ->
      """WITH m AS (SELECT doc_id,
        |    unhex('474D01' || printf('%02x', doc_id % 4) ||
        |      printf('%02x', 1 + doc_id % 8) || printf('%02x', 1 + doc_id % 4) ||
        |      array_to_string(list_transform(range(0, 32 + doc_id % 97),
        |        i -> printf('%02x', (doc_id * 31 + i * 17) % 256)), '')) AS payload
        |  FROM documents),
        |d AS (SELECT doc_id, hex(payload) AS hx,
        |    octet_length(payload) - 6 AS n_bytes FROM m
        |  WHERE doc_id % 4 = 3),
        |fr AS (SELECT doc_id, hx, u.i AS frame_no FROM d,
        |    unnest(range(0, GREATEST(n_bytes // 64, 1))) AS u(i)),
        |fp AS (SELECT doc_id,
        |    lower(substr(hx, CAST(frame_no * 128 + 13 AS INT), 32)) AS fp
        |  FROM fr)
        |SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  MIN(doc_id) AS first_doc
        |FROM fp GROUP BY fp HAVING COUNT(*) >= 2
        |ORDER BY n_occurrences DESC, fp LIMIT 50""".stripMargin,
    "q122_frame_sample" ->
      """WITH m AS (SELECT doc_id,
        |    unhex('474D01' || printf('%02x', doc_id % 4) ||
        |      printf('%02x', 1 + doc_id % 8) || printf('%02x', 1 + doc_id % 4) ||
        |      array_to_string(list_transform(range(0, 32 + doc_id % 97),
        |        i -> printf('%02x', (doc_id * 31 + i * 17) % 256)), '')) AS payload
        |  FROM documents),
        |d AS (SELECT doc_id, hex(payload) AS hx,
        |    octet_length(payload) - 6 AS n_bytes FROM m
        |  WHERE doc_id % 4 = 3),
        |fr AS (SELECT doc_id, hx, u.i AS frame_no FROM d,
        |    unnest(range(0, GREATEST(n_bytes // 64, 1))) AS u(i)),
        |fb AS (SELECT doc_id, frame_no,
        |    CAST(list_sum(list_transform(range(0, 16),
        |      j -> CAST(('0x' || substr(hx, CAST((frame_no*64 + j)*2 + 13 AS INT), 2)) AS BIGINT)))
        |      AS BIGINT) AS fsum
        |  FROM fr)
        |SELECT doc_id, COUNT(*) AS n_frames,
        |  CAST(16 * COUNT(*) AS BIGINT) AS total_frame_bytes,
        |  CAST(SUM(fsum) AS BIGINT) AS frames_byte_sum
        |FROM fb GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q42_langid" ->
      """WITH t AS (SELECT doc_id, lang,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |p AS (SELECT doc_id, lang, list_max([
        |    {'score': len(list_filter(tk, x -> x IN ('der','die','und','das','ist'))), 'lang': 'de'},
        |    {'score': len(list_filter(tk, x -> x IN ('the','a','of','and','to'))), 'lang': 'en'},
        |    {'score': len(list_filter(tk, x -> x IN ('el','la','de','los','que'))), 'lang': 'es'},
        |    {'score': len(list_filter(tk, x -> x IN ('le','la','et','les','des'))), 'lang': 'fr'},
        |    {'score': len(list_filter(tk, x -> x IN ('的','是','了','在','和'))), 'lang': 'zh'}]) AS best
        |  FROM t)
        |SELECT doc_id, lang AS labeled_lang, best.lang AS pred_lang, best.score AS score
        |FROM p ORDER BY doc_id""".stripMargin,
    "q43_rolling_fp" ->
      """WITH f AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(list_filter(string_split(text, ' '), x -> x <> ''),
        |        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % 1000000007)),
        |      (a, h) -> (a * 1000003 + h) % 1000000007) AS rolling_fp
        |  FROM documents)
        |SELECT rolling_fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        |FROM f GROUP BY rolling_fp ORDER BY keep_id""".stripMargin,
    "q53_train_test_split" ->
      """SELECT split, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS min_id
        |FROM (SELECT *,
        |  CASE WHEN ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |         % 2147483647 % 10000 < 2000
        |       THEN 'test' ELSE 'train' END AS split
        |  FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin,
    "q301_dup_span_explain" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |          WHERE 3 * i >= a.n + b.n),
        |pg AS (
        |  SELECT doc_id, CAST(u.i AS BIGINT) AS p,
        |    array_to_string(tk[u.i+1:u.i+3], ' ') AS g
        |  FROM toks, unnest(range(0, GREATEST(len(tk) - 2, 0))) AS u(i)
        |  WHERE len(tk) >= 3),
        |m AS (
        |  SELECT id1, id2, g1.p AS p1, g2.p AS p2, g1.p - g2.p AS diag
        |  FROM pairs
        |  JOIN pg g1 ON g1.doc_id = id1
        |  JOIN pg g2 ON g2.doc_id = id2 AND g2.g = g1.g),
        |runs AS (
        |  SELECT id1, id2, diag,
        |    p1 - ROW_NUMBER() OVER (PARTITION BY id1, id2, diag ORDER BY p1) AS grp,
        |    p1, p2
        |  FROM m),
        |agg AS (
        |  SELECT id1, id2, COUNT(*) + 2 AS run_tokens,
        |    MIN(p1) AS start_a, MIN(p2) AS start_b
        |  FROM runs GROUP BY id1, id2, diag, grp),
        |best AS (
        |  SELECT id1, id2, run_tokens, start_a, start_b,
        |    ROW_NUMBER() OVER (PARTITION BY id1, id2
        |      ORDER BY run_tokens DESC, start_a, start_b) AS rk
        |  FROM agg)
        |SELECT id1, id2, CAST(run_tokens AS BIGINT) AS longest_run_tokens,
        |  CAST(start_a AS BIGINT) AS start_a, CAST(start_b AS BIGINT) AS start_b
        |FROM best WHERE rk = 1 ORDER BY id1, id2""".stripMargin,
    "q293_dedup_threshold_sweep" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        |          GROUP BY 1, 2),
        |banded AS (
        |  SELECT id1, id2,
        |    CASE WHEN 19 * i >= 9 * (a.n + b.n) THEN '>=0.9'
        |         WHEN 17 * i >= 7 * (a.n + b.n) THEN '0.7-0.9'
        |         ELSE '0.5-0.7' END AS band
        |  FROM inter
        |  JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |  WHERE 3 * i >= a.n + b.n),
        |np AS (SELECT band, COUNT(*) AS n_pairs FROM banded GROUP BY band),
        |nd AS (SELECT band, COUNT(DISTINCT docid) AS n_docs
        |       FROM (SELECT band, id1 AS docid FROM banded
        |             UNION ALL SELECT band, id2 FROM banded)
        |       GROUP BY band)
        |SELECT np.band, n_pairs, n_docs
        |FROM np JOIN nd ON np.band = nd.band ORDER BY np.band""".stripMargin,
    "q56_dedup_resolve" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |          WHERE 3 * i >= a.n + b.n),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
        |walk(node, lab) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.lab),
        |comp AS (SELECT node, MIN(lab) AS mn FROM walk GROUP BY node),
        |labeled AS (SELECT d.doc_id, COALESCE(LEAST(c.node, c.mn), d.doc_id) AS component
        |            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |groups AS (SELECT component, COUNT(*) AS group_size FROM labeled GROUP BY component)
        |SELECT group_size, COUNT(*) AS n_groups FROM groups
        |GROUP BY group_size ORDER BY group_size""".stripMargin,
    "q107_dedup_keep_best" ->
      """WITH RECURSIVE
        |toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |         FROM documents),
        |sh AS (SELECT DISTINCT doc_id, u.s AS sh FROM toks,
        |  unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(0, len(tk) - 2),
        |                        i -> array_to_string(tk[i+1:i+3], ' ')) END) AS u(s)),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT s1.doc_id AS id1, s2.doc_id AS id2, COUNT(*) AS i
        |          FROM sh s1 JOIN sh s2 ON s1.sh = s2.sh AND s1.doc_id < s2.doc_id
        |          GROUP BY 1, 2),
        |pairs AS (SELECT id1, id2 FROM inter
        |          JOIN sizes a ON id1 = a.doc_id JOIN sizes b ON id2 = b.doc_id
        |          WHERE 3 * i >= a.n + b.n),
        |edges AS (SELECT id1 AS a, id2 AS b FROM pairs UNION SELECT id2, id1 FROM pairs),
        |walk(node, lab) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT w.node, e.b FROM walk w JOIN edges e ON e.a = w.lab),
        |comp AS (SELECT node, MIN(lab) AS mn FROM walk GROUP BY node),
        |labeled AS (SELECT d.doc_id, COALESCE(LEAST(c.node, c.mn), d.doc_id) AS component
        |            FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
        |sel AS (SELECT l.doc_id, l.component, d.n_chars,
        |          row_number() OVER (PARTITION BY l.component
        |            ORDER BY d.n_chars DESC, l.doc_id) AS rk
        |        FROM labeled l JOIN documents d USING (doc_id))
        |SELECT doc_id, component, n_chars, rk = 1 AS is_survivor
        |FROM sel ORDER BY doc_id""".stripMargin)
}
