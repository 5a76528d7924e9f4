package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT Jaccard similarity self-join via prefix filtering (the AllPairs /
  * PPJoin family) — the complete counterpart to [[MinHashLSH]]'s estimated
  * candidates: every unordered document pair with shingle-set Jaccard ≥ t is
  * returned, with its exact score.
  *
  * Why this scales where naive formulations don't:
  *   - joining on "any shared shingle" is complete but quadratic in the
  *     hottest shingle's document frequency (stop-shingles pair everything);
  *   - prefix filtering orders each document's shingles by ascending global
  *     document frequency (rarest first) and joins only on each document's
  *     first `|S| - ceil(t·|S|) + 1` shingles. Completeness: J(A,B) ≥ t
  *     implies |A∩B| ≥ t·|A| (since |B| ≥ |A∩B|), so fewer than
  *     `|A| - ceil(t·|A|) + 1` prefix elements can't swallow the whole
  *     intersection — the globally-smallest shared shingle lands in BOTH
  *     prefixes and the prefix-prefix equi-join finds the pair. Rare-first
  *     ordering makes those join keys the LOW-frequency shingles, so bucket
  *     sizes (and shuffle fan-out) collapse;
  *   - candidates are pruned IN the join condition by the PPJoin length
  *     filter (t·|A| ≤ |B| when |A| ≤ |B|) and positional filter (at the
  *     globally-smallest shared shingle, ranked i in A and j in B, overlap
  *     can't exceed 1 + min(|A|−i, |B|−j) — every other shared shingle sits
  *     after it in BOTH lists because the order is global);
  *   - verification joins each surviving pair to two per-document sorted
  *     shingle-hash arrays and counts `array_intersect` in one codegen'd
  *     expression — no row-explosion re-join of the shingle table.
  *
  * Shingles are compared through xxhash64: deterministic, and with k
  * distinct shingles the probability of ANY colliding pair is ≈ k²/2⁶⁵
  * (< 10⁻⁷ even at 10⁹ shingles), in which case the oracle cross-check
  * would flag it — observed exact on all test corpora.
  *
  * All set arithmetic is integer-exact; the Jaccard threshold is applied as
  * `(tNum+tDen)·|A∩B| ≥ tNum·(|A|+|B|)` on longs, so an oracle engine
  * reproduces the pair set bit-for-bit with no float-boundary flakes.
  */
object JaccardJoin {

  /** (id, shingle-hash), deduped and materialized — it feeds sizes,
    * frequencies, ranking AND verification (localCheckpoint caches the
    * shuffle output and truncates lineage; on a production cluster with
    * executor churn, prefer checkpoint() to reliable storage).
    * Repartition BEFORE the explode: a small-file corpus otherwise tokenizes
    * on however few input splits the scan produced (1 task for a single
    * parquet file); the raw-text shuffle is cheap relative to shingling and
    * a no-op burden at scale where the scan already has thousands of splits.
    * The partition count is EXPLICIT because AQE would coalesce a
    * byte-small exchange back to one partition — the work here is CPU per
    * row (tokenize + shingle + hash), which byte-based coalescing can't see.
    */
  private def shingleRel(df: DataFrame, idCol: String, textCol: String,
                         shingleWidth: Int): DataFrame = {
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    df.repartition(df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        explode(MinHashLSH.shingles(toks, shingleWidth)).as("shs"))
      .select(col("id"), xxhash64(col("shs")).as("sh"))
      .distinct()
      .transform(graft.Checkpoints.materialize(_))
  }

  /** Precompute the materialized (id, shingle-hash) relation of a delta
    * ONCE for reuse across [[pairsAgainst]] + [[pairs]] + [[foldInFrozen]]
    * on the SAME data (the q155 ingest loop probes, self-joins AND folds
    * every micro-batch — without the seam each call re-ran the
    * tokenize+shingle+hash+distinct pipeline on identical rows; neutral
    * at bench sf where a micro-batch shingles in ~0.1 s, but shingling is
    * the CPU-dominant per-batch cost at corpus scale, where the re-runs
    * would triple the drain). The relation handed back is exactly what
    * each callee would have built itself, so passing it changes no
    * semantics.
    */
  private[graft] def shingleRelOf(df: DataFrame, idCol: String, textCol: String,
                                  shingleWidth: Int): DataFrame =
    shingleRel(df, idCol, textCol, shingleWidth)

  /** Per-document sorted shingle-hash array + set size (verification side). */
  private def setsOf(sh: DataFrame): DataFrame =
    sh.groupBy(col("id"))
      .agg(sort_array(collect_list(col("sh"))).as("hs"), count(lit(1)).as("n"))

  /** The one rank-and-cut of the prefix filter: the prefix relation
    * (id, sh, rk, n) of `sh` under the order (`freq` df, shingle hash),
    * keeping each document's first |S| - ceil(t·|S|) + 1 shingles.
    * Shingles missing from `freq` take df 0 and rank rarest-first — how a
    * delta ranks under a standing index's order. Completeness needs both
    * sides of a joined pair ranked under the SAME order; any fixed total
    * order serves. Lazy: a caller that feeds the prefix to more than one
    * consumer materializes it.
    */
  private def prefixOf(sh: DataFrame, freq: DataFrame, sets: DataFrame,
                       tNum: Long, tDen: Long): DataFrame = {
    val ranked = sh.join(freq, Seq("sh"), "left_outer")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(coalesce(col("df"), lit(0L)), col("sh"))))
      .drop("df")
      .join(sets.select(col("id"), col("n")), Seq("id"))
    // prefix length |S| - ceil(t|S|) + 1; ceil on longs (Spark's `/` is
    // double division, so `div`)
    val ceilTn = expr(s"(n * $tNum + ${tDen - 1L}) div $tDen")
    ranked
      .filter(col("rk") <= col("n") - ceilTn + 1L)
      .select(col("id"), col("sh"), col("rk"), col("n"))
  }

  /** PPJoin candidate join + exact verify between two prefix relations;
    * `cond` carries the caller's pair constraint (id1 < id2 for the
    * symmetric self-join; none for the asymmetric two-corpus join).
    */
  private def joinVerified(prefixA: DataFrame, prefixB: DataFrame,
                           setsA: DataFrame, setsB: DataFrame,
                           tNum: Long, tDen: Long,
                           symmetric: Boolean): DataFrame = {
    val a = prefixA.select(col("id").as("id1"), col("sh"),
      col("rk").as("rk1"), col("n").as("n1"))
    val b = prefixB.select(col("id").as("id2"), col("sh"),
      col("rk").as("rk2"), col("n").as("n2"))
    val minSuffix = least(col("n1") - col("rk1"), col("n2") - col("rk2"))
    val base = a("sh") === b("sh") &&
      // length filter: t·max ≤ min
      col("n1") * tNum <= col("n2") * tDen && col("n2") * tNum <= col("n1") * tDen &&
      // positional filter at this (possibly smallest) shared shingle
      (minSuffix + 1L) * (tNum + tDen) >= (col("n1") + col("n2")) * tNum
    val cand = a.join(b, if (symmetric) base && col("id1") < col("id2") else base)
      .select(col("id1"), col("id2"))
      .distinct()
    // verify: one sorted-array intersection per candidate pair
    val s1 = setsA.select(col("id").as("id1"), col("hs").as("hs1"), col("n").as("n1"))
    val s2 = setsB.select(col("id").as("id2"), col("hs").as("hs2"), col("n").as("n2"))
    cand.join(s1, Seq("id1")).join(s2, Seq("id2"))
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))).cast("long"))
      .filter(col("inter") * (tNum + tDen) >= (col("n1") + col("n2")) * tNum)
      .select(col("id1"), col("id2"), col("inter"), col("n1"), col("n2"),
        round(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
  }

  /** Exact-Jaccard pairs (id1 < id2, jaccard ≥ tNum/tDen) over word-level
    * w-shingles of `textCol`. Returns (id1, id2, inter, n1, n2, jaccard)
    * with jaccard rounded to 6 dp (D5) — the threshold itself is integer.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String,
            tNum: Long, tDen: Long, shingleWidth: Int = 3,
            precomputedSh: Option[DataFrame] = None): DataFrame = {
    val sh = precomputedSh.getOrElse(shingleRel(df, idCol, textCol, shingleWidth))
    val sets = setsOf(sh)
    // global rare-first order; ties broken by hash value for determinism
    val freq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val prefix = graft.Checkpoints.materialize(prefixOf(sh, freq, sets, tNum, tDen))
    joinVerified(prefix, prefix, sets, sets, tNum, tDen, symmetric = true)
  }

  /** Session-conf key enabling the (job-running) disjoint-id precondition
    * guard in [[pairsBetween]]/[[incrementalPairs]]/[[pairsAgainst]]. Off by
    * default — the check is one extra join job per call, which a production
    * run should not pay — and turned on in tests so a violated contract
    * fails loudly instead of emitting plausible self-pairs (jaccard 1.0)
    * and skewed union frequencies.
    */
  val CheckDisjointConf = "graft.dedup.checkDisjoint"

  private def assertDisjoint(left: DataFrame, leftId: String,
                             right: DataFrame, rightId: String,
                             caller: String): Unit =
    if (left.sparkSession.conf.getOption(CheckDisjointConf).contains("true")) {
      val overlap = left.select(col(leftId).cast("long").as("id")).distinct()
        .join(right.select(col(rightId).cast("long").as("id")).distinct(), Seq("id"))
        .limit(1).count()
      require(overlap == 0L,
        s"$caller: left/right id sets overlap — the two corpora must be " +
          "disjoint (an overlapping id would emit a jaccard-1.0 self-pair " +
          "and double-count its shingles in the shared frequency order)")
    }

  /** Asymmetric exact-Jaccard join: every (left id, right id) pair with
    * jaccard ≥ tNum/tDen — the INCREMENTAL dedup shape (today's crawl delta
    * vs the standing corpus): compare volume is delta-prefix × corpus-prefix
    * joins, never corpus × corpus, so a daily increment against a 100 TB
    * standing index costs ∝ |delta|'s rare-shingle joins, not the corpus
    * quadratic. It is [[pairsAgainst]] over a fresh, uncached
    * [[buildIndex]] of `right`; a pipeline that probes one corpus more than
    * once builds (or caches) the index itself. Left and right ids must be
    * disjoint (they are distinct corpora) — guarded when
    * [[CheckDisjointConf]] is set. Note this emits CROSS pairs only; an
    * ingest that must also catch two near-dups arriving in the same delta
    * wants [[incrementalPairs]].
    */
  def pairsBetween(left: DataFrame, right: DataFrame,
                   idCol: String, textCol: String,
                   tNum: Long, tDen: Long, shingleWidth: Int = 3): DataFrame =
    pairsAgainst(buildIndex(right, idCol, textCol, tNum, tDen, shingleWidth),
      left, idCol, textCol)

  /** The COMPLETE incremental-dedup pair set: [[pairsBetween]]'s delta ×
    * corpus cross pairs UNIONED with the delta's self-pairs (id1 < id2,
    * both in the delta) — closing the hole where two near-dup documents
    * that both arrive in today's crawl are never compared (neither is in
    * the standing corpus yet). Cost stays incremental: the self-join is
    * delta-prefix × delta-prefix (|delta| ≪ |corpus|), and both joins
    * share ONE ranking of the delta under the corpus index's order — any
    * fixed total order satisfies the prefix completeness theorem, for the
    * self-join exactly as for the cross join. Output: cross pairs carry
    * (id1 ∈ delta, id2 ∈ corpus); self-pairs carry (id1 < id2, both ∈
    * delta) — each unordered pair exactly once, like [[pairs]].
    */
  def incrementalPairs(delta: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String,
                       tNum: Long, tDen: Long, shingleWidth: Int = 3): DataFrame = {
    val index = buildIndex(corpus, idCol, textCol, tNum, tDen, shingleWidth)
    assertDisjoint(delta, idCol, index.sets, "id", "incrementalPairs")
    val shD = shingleRel(delta, idCol, textCol, shingleWidth)
    val setsD = setsOf(shD)
    // two consumers: the cross probe and the self-join
    val prefixD = graft.Checkpoints.materialize(
      prefixOf(shD, index.freq, setsD, tNum, tDen))
    joinVerified(prefixD, index.prefix, setsD, index.sets, tNum, tDen, symmetric = false)
      .unionByName(joinVerified(prefixD, prefixD, setsD, setsD, tNum, tDen, symmetric = true))
  }

  /** A prebuilt standing-corpus index for repeated [[pairsAgainst]] probes:
    * the corpus's shingle frequencies (which DEFINE the rare-first order),
    * verification sets, prefix relation, and the raw (id, shingle-hash)
    * relation (kept so [[foldIn]] can re-rank after a frequency shift),
    * each materialized once.
    */
  final case class Index(freq: DataFrame, sets: DataFrame, prefix: DataFrame,
                         sh: DataFrame,
                         tNum: Long, tDen: Long, shingleWidth: Int,
                         frozenFolds: Int = 0)

  /** Build the standing-corpus side once — the continuous-ingest shape:
    * every arriving delta batch probes this index instead of re-shingling
    * and re-ranking the corpus per batch.
    */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
                 tNum: Long, tDen: Long, shingleWidth: Int = 3): Index = {
    val sh = shingleRel(corpus, idCol, textCol, shingleWidth)
    val freq = graft.Checkpoints.materialize(
      sh.groupBy(col("sh")).agg(count(lit(1)).as("df")))
    val sets = setsOf(sh)
    Index(freq, sets, graft.Checkpoints.materialize(prefixOf(sh, freq, sets, tNum, tDen)),
      sh, tNum, tDen, shingleWidth)
  }

  /** Fold accepted delta documents INTO a standing index — the update half
    * of the continuous-ingest story: after today's delta is deduped and
    * accepted, tomorrow's delta must be able to match today's docs without
    * a full corpus rebuild. The merge is EXACT — the result probes
    * identically to `buildIndex(corpus ∪ delta)` (pinned in
    * JaccardJoinSpec):
    *   - the delta is shingled fresh (the only per-doc CPU paid);
    *   - frequencies merge by one outer join of the standing `freq` with
    *     the delta's counts — never a re-aggregate of the corpus shingles;
    *   - verification sets union (ids are disjoint corpora);
    *   - the PREFIX relation is recomputed over the merged shingle relation:
    *     a document-frequency shift can change ANY document's rare-first
    *     ranking (and thereby its prefix), so an exact fold-in cannot patch
    *     prefixes locally. This is the priced part of the merge — one
    *     join + per-doc rank window over the merged (id, sh) relation,
    *     skipping only the corpus re-shingling (the CPU-dominant cost at
    *     scale: tokenize + shingle + hash + distinct of every document).
    *     A pipeline that wants per-batch cost ∝ the batch takes
    *     [[foldInFrozen]] instead — still EXACT (the prefix completeness
    *     theorem holds for ANY total order applied consistently to both
    *     sides), paying only degraded PRUNING power as the frozen order's
    *     stale rarities diverge from the true ones; re-rank with this
    *     method every N deltas as the measured-candidate-volume cadence.
    */
  def foldIn(index: Index, delta: DataFrame,
             idCol: String, textCol: String): Index = {
    assertDisjoint(delta, idCol, index.sets, "id", "foldIn")
    val shD = shingleRel(delta, idCol, textCol, index.shingleWidth)
    val shNew = graft.Checkpoints.materialize(index.sh.union(shD))
    val freqD = shD.groupBy(col("sh")).agg(count(lit(1)).as("dfD"))
    val freqNew = graft.Checkpoints.materialize(
      index.freq.join(freqD, Seq("sh"), "full_outer")
        .select(col("sh"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("dfD"), lit(0L))).as("df")))
    val setsNew = graft.Checkpoints.materialize(
      index.sets.unionByName(setsOf(shD)))
    Index(freqNew, setsNew,
      graft.Checkpoints.materialize(
        prefixOf(shNew, freqNew, setsNew, index.tNum, index.tDen)), shNew,
      index.tNum, index.tDen, index.shingleWidth)
  }

  /** FROZEN-ORDER fold-in — per-batch cost ∝ the batch, the shape a
    * per-micro-batch ingest loop (q155) needs where [[foldIn]]'s exact
    * frequency merge + full prefix re-rank is corpus-relation-sized per
    * call: the delta is shingled and ranked under the STANDING frequency
    * order (corpus-unseen shingles get df 0 — rarest — exactly
    * [[pairsAgainst]]'s probe ranking), its prefix/sets rows are appended,
    * and `freq` / the corpus prefixes are left untouched. Still EXACT:
    * the PPJoin prefix completeness theorem requires only that both join
    * sides rank under the SAME total order — (frozen df, shingle-hash) is
    * one — so the candidate set stays a superset and the verify step
    * emits the identical pair set (pinned ≡ [[foldIn]] in
    * JaccardJoinSpec). The trade is PRUNING power, not correctness: as
    * true frequencies drift from the frozen ones, prefixes stop being
    * truly rare-first and candidate volume grows. Re-rank by folding the
    * accumulated `sh` through [[foldIn]] (or rebuilding) every N deltas —
    * candidate-volume growth is the measured cadence trigger.
    */
  def foldInFrozen(index: Index, delta: DataFrame,
                   idCol: String, textCol: String,
                   compactEvery: Int = 32,
                   precomputedSh: Option[DataFrame] = None): Index = {
    assertDisjoint(delta, idCol, index.sets, "id", "foldInFrozen")
    // shingleRel already ends materialized, so no extra materialize here
    val shD = precomputedSh.getOrElse(
      shingleRel(delta, idCol, textCol, index.shingleWidth))
    val setsD = graft.Checkpoints.materialize(setsOf(shD))
    val prefixD = graft.Checkpoints.materialize(
      prefixOf(shD, index.freq, setsD, index.tNum, index.tDen))
    // sets/prefix/sh accumulate LAZILY (unioned plans over materialized
    // legs): each fold adds ONE leg, so logical-plan depth — and with it
    // per-batch analyzer time and driver stack — grows with the fold count
    // until [[compactFrozen]] merges the legs. The auto-trigger below
    // bounds the leg count at `compactEvery` (round-7 VERDICT item 3: a
    // 10⁴-micro-batch stream would otherwise pay O(N) analysis per batch
    // and eventually OOM the driver on plan trees).
    val folded = Index(index.freq, index.sets.unionByName(setsD),
      index.prefix.unionByName(prefixD), index.sh.union(shD),
      index.tNum, index.tDen, index.shingleWidth,
      frozenFolds = index.frozenFolds + 1)
    if (compactEvery > 0 && folded.frozenFolds >= compactEvery)
      compactFrozen(folded)
    else folded
  }

  /** Merge the lazy union legs a chain of [[foldInFrozen]] calls
    * accumulates into ONE materialized leg per relation, resetting the
    * fold counter — plan-depth compaction, NOT a re-rank: the frozen
    * order (and so the prefix relation's CONTENT) is untouched, only its
    * plan shape changes, so probe equality is trivially preserved (pinned
    * across 50 chained folds in JaccardJoinSpec). Cost is one pass over
    * the accumulated relations — corpus-sized, paid every `compactEvery`
    * folds, so amortized per batch at corpus/compactEvery: the same
    * cadence arithmetic as a table format's compaction pass, and strictly
    * cheaper than [[foldIn]]'s exact re-rank at the same cadence (no
    * frequency merge, no rank window — just the union scans). Pipelines
    * re-ranking with [[foldIn]] at their candidate-volume cadence get
    * compaction for free there (foldIn materializes everything fresh);
    * this is the bound for streams BETWEEN re-ranks.
    *
    * Cadence choice (measured, BENCH.md round 8): the compaction pass is
    * corpus-sized while the per-fold union-analysis overhead it removes
    * grows only with LEG COUNT, so aggressive cadences overpay — at
    * sf0.01, cadence 8 over a 50-fold chain costs 18.8 s vs 10.4 s
    * uncompacted, while cadence 32 over a 300-fold chain costs 57.4 s vs
    * 67.6 s uncompacted (compaction paying for itself once chains run
    * deep) with leaf count bounded at cadence+2 vs 301 and climbing. The
    * default 32 takes the deep-chain win; a pipeline whose corpus is huge
    * relative to its batch rate should raise it — the bound only needs to
    * hold BELOW driver plan-depth limits, not minimize leg count.
    */
  def compactFrozen(index: Index): Index =
    Index(index.freq,
      graft.Checkpoints.materialize(index.sets),
      graft.Checkpoints.materialize(index.prefix),
      graft.Checkpoints.materialize(index.sh),
      index.tNum, index.tDen, index.shingleWidth, frozenFolds = 0)

  /** Build-once view of [[buildIndex]]: repeated probes in one session — a
    * streaming drain's micro-batches, a sweep running several delta checks —
    * pay the corpus shingling/ranking once. Memoized per (corpus plan,
    * params) under the [[graft.Checkpoints]] session-memo contract.
    */
  def buildIndexCached(corpus: DataFrame, idCol: String, textCol: String,
                       tNum: Long, tDen: Long, shingleWidth: Int = 3): Index =
    graft.Checkpoints.memo(corpus.sparkSession,
        s"jaccard|$idCol|$textCol|$tNum|$tDen|$shingleWidth", Some(corpus)) {
      buildIndex(corpus, idCol, textCol, tNum, tDen, shingleWidth)
    }

  /** Exact-Jaccard pairs between a (small) delta and a prebuilt corpus
    * index: (delta id, corpus id, inter, n1, n2, jaccard ≥ tNum/tDen).
    * The total order here is the INDEX's — corpus document frequency with
    * hash tiebreak; delta shingles unseen in the corpus take df = 0 and
    * rank rarest-first. Any fixed total order satisfies the prefix-filter
    * completeness theorem (the globally-smallest shared shingle of a
    * qualifying pair lands in both prefixes), and the exact verify step
    * makes the emitted pair set identical to the delta × corpus pairs of
    * the symmetric [[pairs]] over both corpora, whichever order generated
    * the candidates — pinned in JaccardJoinSpec. This is also why
    * per-micro-batch probes compose: the pair set is a per-pair predicate,
    * so probing batch-by-batch unions to exactly the whole-delta result at
    * any batch slicing.
    */
  def pairsAgainst(index: Index, delta: DataFrame,
                   idCol: String, textCol: String,
                   precomputedSh: Option[DataFrame] = None): DataFrame = {
    assertDisjoint(delta, idCol, index.sets, "id", "pairsAgainst")
    val shL = precomputedSh.getOrElse(
      shingleRel(delta, idCol, textCol, index.shingleWidth))
    val setsL = setsOf(shL)
    joinVerified(prefixOf(shL, index.freq, setsL, index.tNum, index.tDen), index.prefix,
      setsL, index.sets, index.tNum, index.tDen, symmetric = false)
  }

  /** An empty relation typed exactly like [[pairsAgainst]]'s output. The
    * schema comes from analysing the verify kernel over the index's
    * relations; no job runs and nothing is read.
    */
  def emptyPairs(index: Index): DataFrame = {
    val spark = index.prefix.sparkSession
    val schema = joinVerified(index.prefix, index.prefix, index.sets, index.sets,
      index.tNum, index.tDen, symmetric = false).schema
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  /** Cheap order-independent corpus fingerprint for persisted-index
    * validation: row count + sum of per-row hash residues (residues mod a
    * prime keep the sum inside a long up to ~9×10⁹ rows; xxhash64 over
    * (id, text) so any changed/added/dropped document moves it). One scan
    * of the raw corpus — NO shingling — so validation stays cheap enough
    * to run on every load.
    */
  private def corpusFingerprint(corpus: DataFrame,
                                idCol: String, textCol: String): (Long, Long) = {
    val r = corpus.agg(
      count(lit(1)),
      coalesce(sum(pmod(xxhash64(col(idCol), col(textCol)), lit(1000000007L))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Persist a standing index to `dir` (freq/sets/prefix/sh parquet + a
    * one-row meta relation carrying the build params and the CORPUS
    * fingerprint) — so a daily pipeline stops paying the per-session
    * corpus rebuild ([[buildIndexCached]] only memoizes within one
    * session). The fingerprint is computed from the corpus the index was
    * built from; [[loadIndexValidated]] recomputes it on load and refuses
    * an index whose corpus has drifted.
    */
  def saveIndex(index: Index, corpus: DataFrame,
                idCol: String, textCol: String, dir: String): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (fpN, fpSum) = corpusFingerprint(corpus, idCol, textCol)
    index.freq.write.mode("overwrite").parquet(s"$dir/freq")
    index.sets.write.mode("overwrite").parquet(s"$dir/sets")
    index.prefix.write.mode("overwrite").parquet(s"$dir/prefix")
    index.sh.write.mode("overwrite").parquet(s"$dir/sh")
    Seq((index.tNum, index.tDen, index.shingleWidth, fpN, fpSum))
      .toDF("tNum", "tDen", "shingleWidth", "fpCount", "fpSum")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted index; relations are served straight from the parquet
    * scans (that IS the point of persistence — the scan replaces the
    * rebuild; wrap in [[buildIndexCached]]-style memoization only if a
    * session probes it very many times and the scans show up).
    */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    val m = spark.read.parquet(s"$dir/meta").head()
    Index(spark.read.parquet(s"$dir/freq"),
      spark.read.parquet(s"$dir/sets"),
      spark.read.parquet(s"$dir/prefix"),
      spark.read.parquet(s"$dir/sh"),
      m.getAs[Long]("tNum"), m.getAs[Long]("tDen"), m.getAs[Int]("shingleWidth"))
  }

  /** [[loadIndex]] + validity check: recompute the corpus fingerprint and
    * refuse (IllegalStateException) when it no longer matches what the
    * index was built from — a stale index would silently emit an incomplete
    * pair set (candidates ranked under dead frequencies), which is worse
    * than failing.
    */
  def loadIndexValidated(spark: org.apache.spark.sql.SparkSession, dir: String,
                         corpus: DataFrame,
                         idCol: String, textCol: String): Index = {
    val m = spark.read.parquet(s"$dir/meta").head()
    val (fpN, fpSum) = corpusFingerprint(corpus, idCol, textCol)
    if (m.getAs[Long]("fpCount") != fpN || m.getAs[Long]("fpSum") != fpSum)
      throw new IllegalStateException(
        s"persisted index at $dir was built from a different corpus " +
          s"(stored fingerprint (${m.getAs[Long]("fpCount")}, ${m.getAs[Long]("fpSum")}) " +
          s"vs current ($fpN, $fpSum)) — rebuild with buildIndex/foldIn " +
          "or point at the matching corpus snapshot")
    loadIndex(spark, dir)
  }
}
