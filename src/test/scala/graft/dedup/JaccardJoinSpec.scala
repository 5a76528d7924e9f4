package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Prefix-filtered exact Jaccard join: completeness + exactness against a
  * brute-force all-pairs computation, both on crafted docs and on real
  * sf0.001 documents.
  */
class JaccardJoinSpec extends SparkSpec {
  import spark.implicits._

  private def bruteForce(df: org.apache.spark.sql.DataFrame, t: Double,
                         w: Int): Set[(Long, Long, Long)] = {
    val toks = filter(split(col("text"), " "), x => x =!= "")
    val sh = df.select(col("doc_id").cast("long").as("id"),
      explode(MinHashLSH.shingles(toks, w)).as("sh")).distinct()
    val sets = sh.as[(Long, String)].collect().groupBy(_._1)
      .map { case (id, rows) => id -> rows.map(_._2).toSet }
    val ids = sets.keys.toSeq.sorted
    (for {
      i <- ids; j <- ids if i < j
      inter = (sets(i) & sets(j)).size
      if inter.toDouble / (sets(i).size + sets(j).size - inter) >= t
    } yield (i, j, inter.toLong)).toSet
  }

  test("crafted corpus: exact pairs, no false negatives from the prefix filter") {
    val docs = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g x"),      // near-dup of 0
      (2L, "a b c d e f g h"),      // exact dup of 0
      (3L, "p q r s t u v w"),      // unrelated
      (4L, "p q r s t u zz ww"),    // borderline vs 3
      (5L, "short"),                // < w tokens -> whole-text shingle
      (6L, "short"),                // exact dup of 5
      (7L, "the the the the a a")   // repeated tokens collapse via distinct
    ).toDF("doc_id", "text")
    val got = JaccardJoin.pairs(docs, "doc_id", "text", 1L, 2L, shingleWidth = 3)
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    assert(got === bruteForce(docs, 0.5, 3))
  }

  test("sf0.001 documents match brute force at t=1/2, w=3") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val got = JaccardJoin.pairs(docs, "doc_id", "text", 1L, 2L)
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    assert(got === bruteForce(docs, 0.5, 3))
    assert(got.nonEmpty) // fixtures plant near-dups; empty would be vacuous
  }

  test("pairsBetween equals the delta-filtered symmetric pair set (complete)") {
    // the asymmetric incremental join must find EXACTLY the symmetric pairs
    // that cross the delta/corpus boundary — no corpus×corpus compare, no
    // missed boundary pair (the shared global frequency order is what makes
    // the prefix-filter completeness proof carry over)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val delta = docs.filter($"source" === "src18")
    val corpus = docs.filter($"source" =!= "src18")
    val deltaIds = delta.select($"doc_id").as[Long].collect().toSet
    val sym = JaccardJoin.pairs(docs, "doc_id", "text", 1L, 2L)
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect()
      .collect {
        case (a, b, i) if deltaIds(a) && !deltaIds(b) => (a, b, i)
        case (a, b, i) if deltaIds(b) && !deltaIds(a) => (b, a, i)
      }.toSet
    val asym = JaccardJoin.pairsBetween(delta, corpus, "doc_id", "text", 1L, 2L)
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    assert(asym === sym)
    assert(asym.nonEmpty, "fixtures plant cross-source near-dups; empty would be vacuous")
  }

  test("pairsAgainst a prebuilt index equals pairsBetween (order-invariance)") {
    // the index ranks by corpus-only frequency (delta-unseen shingles df=0);
    // pairsBetween probes a fresh build of the same index, so a prebuilt
    // index must emit exactly its pair set (the order-invariance against the
    // symmetric join's full-corpus order is pinned by the test above)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val delta = docs.filter($"source" === "src18")
    val corpus = docs.filter($"source" =!= "src18")
    val viaIndex = JaccardJoin.pairsAgainst(
      JaccardJoin.buildIndex(corpus, "doc_id", "text", 1L, 2L),
      delta, "doc_id", "text")
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    val direct = JaccardJoin.pairsBetween(delta, corpus, "doc_id", "text", 1L, 2L)
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    assert(viaIndex === direct)
    assert(viaIndex.nonEmpty, "empty pair set would make this vacuous")
  }

  test("buildIndexCached: one corpus build per (plan, params); results equal cold") {
    graft.Checkpoints.clearMaterializeCache()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val corpus = docs.filter($"source" =!= "src18")
    val delta = docs.filter($"source" === "src18")
    val i1 = JaccardJoin.buildIndexCached(corpus, "doc_id", "text", 1L, 2L)
    val i2 = JaccardJoin.buildIndexCached(
      docs.filter($"source" =!= "src18"), "doc_id", "text", 1L, 2L)
    assert(i1.prefix eq i2.prefix, "same plan+params must reuse the built index")
    val i3 = JaccardJoin.buildIndexCached(corpus, "doc_id", "text", 1L, 3L)
    assert(!(i3.prefix eq i1.prefix), "different threshold must not share an index")
    val cached = JaccardJoin.pairsAgainst(i2, delta, "doc_id", "text")
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    val cold = JaccardJoin.pairsAgainst(
      JaccardJoin.buildIndex(corpus, "doc_id", "text", 1L, 2L),
      delta, "doc_id", "text")
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    assert(cached === cold, "cached index must give the cold build's pairs")
    graft.Checkpoints.clearMaterializeCache()
  }

  test("incrementalPairs: crafted delta-delta twins are caught, corpus self-pairs are not") {
    // the production-crawl hole q116's declared scope admits: docs 100/101
    // are near-dups that BOTH arrive in today's delta — pairsBetween never
    // compares them; incrementalPairs must. Corpus docs 0/1 are near-dups
    // of EACH OTHER and must NOT be re-compared (that's the standing
    // corpus's own batch resolution, already done).
    val corpus = Seq(
      (0L, "a b c d e f g h"),
      (1L, "a b c d e f g x"),
      (2L, "p q r s t u v w")).toDF("doc_id", "text")
    val delta = Seq(
      (100L, "m n o p q r s t"),
      (101L, "m n o p q r s z"),   // same-day twin of 100
      (102L, "a b c d e f g h")    // cross dup of corpus doc 0
    ).toDF("doc_id", "text")
    spark.conf.set(JaccardJoin.CheckDisjointConf, "true")
    try {
      val got = JaccardJoin.incrementalPairs(delta, corpus, "doc_id", "text", 1L, 2L)
        .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
      val deltaIds = Set(100L, 101L, 102L)
      val want = bruteForce(corpus.unionByName(delta), 0.5, 3)
        .collect {
          case (a, b, i) if deltaIds(a) && deltaIds(b) => (a, b, i)
          case (a, b, i) if deltaIds(a) => (a, b, i)
          case (a, b, i) if deltaIds(b) => (b, a, i)
        }
      assert(got === want)
      assert(got.exists { case (a, b, _) => deltaIds(a) && deltaIds(b) },
        "the delta-delta twin pair must be present")
      assert(got.exists { case (a, b, _) => deltaIds(a) && !deltaIds(b) },
        "cross delta-corpus pairs must be present")
      assert(!got.exists { case (a, b, _) => !deltaIds(a) && !deltaIds(b) },
        "no corpus-corpus pair may be emitted")
    } finally spark.conf.unset(JaccardJoin.CheckDisjointConf)
  }

  test("incrementalPairs on sf0.001 equals the delta-restricted symmetric set (delta=src0)") {
    // src0 is a source with an INTRA-source near-dup pair in the sf0.001
    // fixtures, so both components of the union are exercised on real data
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val delta = docs.filter($"source" === "src0")
    val corpus = docs.filter($"source" =!= "src0")
    val deltaIds = delta.select($"doc_id").as[Long].collect().toSet
    val sym = JaccardJoin.pairs(docs, "doc_id", "text", 1L, 2L)
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect()
      .collect {
        case (a, b, i) if deltaIds(a) && deltaIds(b) => (a, b, i)
        case (a, b, i) if deltaIds(a) && !deltaIds(b) => (a, b, i)
        case (a, b, i) if deltaIds(b) && !deltaIds(a) => (b, a, i)
      }.toSet
    val got = JaccardJoin.incrementalPairs(delta, corpus, "doc_id", "text", 1L, 2L)
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    assert(got === sym)
    assert(got.exists { case (a, b, _) => deltaIds(a) && deltaIds(b) },
      "fixtures plant an intra-src0 near-dup at sf0.001; empty would be vacuous")
    assert(got.exists { case (a, b, _) => !deltaIds(b) },
      "cross pairs must be present too")
  }

  test("foldIn(indexA, corpusB) probes identically to buildIndex(corpusA ∪ corpusB)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val corpusA = docs.filter($"source" =!= "src18" && $"source" =!= "src19")
    val corpusB = docs.filter($"source" === "src19")
    val delta = docs.filter($"source" === "src18")
    val folded = JaccardJoin.foldIn(
      JaccardJoin.buildIndex(corpusA, "doc_id", "text", 1L, 2L),
      corpusB, "doc_id", "text")
    val full = JaccardJoin.buildIndex(
      corpusA.unionByName(corpusB), "doc_id", "text", 1L, 2L)
    // the merged relations are EXACTLY the full build's (frequencies sum,
    // sets union, prefixes re-rank under the merged order)
    def sym(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Long =
      a.except(b).count() + b.except(a).count()
    assert(sym(folded.freq, full.freq) === 0L, "merged freq must equal full-build freq")
    assert(sym(folded.prefix, full.prefix) === 0L, "re-ranked prefix must equal full-build prefix")
    val viaFold = JaccardJoin.pairsAgainst(folded, delta, "doc_id", "text")
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    val viaFull = JaccardJoin.pairsAgainst(full, delta, "doc_id", "text")
      .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    assert(viaFold === viaFull)
    assert(viaFold.nonEmpty, "src18 has cross-source near-dups; empty would be vacuous")
  }

  test("foldInFrozen probes the identical pair set as the exact foldIn") {
    // the frozen order is a DIFFERENT total order than the merged one, so
    // prefixes (and candidate sets) may differ — but the verified pair set
    // must be identical: completeness holds for any consistently applied
    // order, and the verify step is exact either way
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val corpusA = docs.filter($"source" =!= "src18" && $"source" =!= "src19")
    val corpusB = docs.filter($"source" === "src19")
    val delta = docs.filter($"source" === "src18")
    val standing = JaccardJoin.buildIndex(corpusA, "doc_id", "text", 1L, 2L)
    val frozen = JaccardJoin.foldInFrozen(standing, corpusB, "doc_id", "text")
    val exact = JaccardJoin.foldIn(standing, corpusB, "doc_id", "text")
    // frozen leaves the standing order untouched...
    def sym(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame): Long =
      a.except(b).count() + b.except(a).count()
    assert(sym(frozen.freq, standing.freq) === 0L, "frozen fold must not touch freq")
    // ...and still yields the exact probe answer
    def probe(ix: JaccardJoin.Index): Set[(Long, Long, Long)] =
      JaccardJoin.pairsAgainst(ix, delta, "doc_id", "text")
        .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    val viaFrozen = probe(frozen)
    assert(viaFrozen === probe(exact))
    assert(viaFrozen.nonEmpty, "src18 has cross-source near-dups; empty would be vacuous")
    // and chained frozen folds keep the exactness (the q155 batch loop)
    val b1 = corpusB.filter($"doc_id" % 2 === 0)
    val b2 = corpusB.filter($"doc_id" % 2 =!= 0)
    val chained = JaccardJoin.foldInFrozen(
      JaccardJoin.foldInFrozen(standing, b1, "doc_id", "text"), b2, "doc_id", "text")
    assert(probe(chained) === viaFrozen)
  }

  test("50 chained frozen folds: plan depth bounded by compaction, probe exact throughout") {
    // round-7 VERDICT item 3: each frozen fold adds one lazy union leg per
    // relation, so an uncompacted chain grows logical-plan depth O(#folds)
    // — correct but a driver-side time/stack bomb at 10⁴ micro-batches.
    // The auto-trigger (compactEvery, default 8) must (a) keep the leaf
    // count of every index relation bounded by the cadence regardless of
    // chain length, (b) reset the fold counter on exactly the cadence
    // arithmetic, and (c) change NOTHING about the probe answer — at the
    // halfway checkpoint and at the end, the chain must still equal the
    // exact foldIn of the same documents.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val corpusA = docs.filter($"source" =!= "src18" && $"source" =!= "src19")
    val corpusB = docs.filter($"source" === "src19")
    val delta = docs.filter($"source" === "src18")
    val standing = JaccardJoin.buildIndex(corpusA, "doc_id", "text", 1L, 2L)
    def probe(ix: JaccardJoin.Index): Set[(Long, Long, Long)] =
      JaccardJoin.pairsAgainst(ix, delta, "doc_id", "text")
        .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
    def leaves(ix: JaccardJoin.Index): Int =
      Seq(ix.sets, ix.prefix, ix.sh)
        .map(_.queryExecution.logical.collectLeaves().size).max
    val nFolds = 50
    var ix = standing
    var maxLeaves = 0
    var halfProbe: Set[(Long, Long, Long)] = Set.empty
    (0 until nFolds).foreach { i =>
      // slice by id hash residue: batches are key-disjoint, sizes uneven,
      // some empty — the real micro-batch shape
      val batch = corpusB.filter(abs(xxhash64($"doc_id")) % nFolds === i)
      // cadence 8 explicitly: the spec pins the MECHANISM tightly (6
      // compactions inside 50 folds); the production default is 32 (the
      // measured deep-chain sweet spot, see foldInFrozen's scaladoc)
      ix = JaccardJoin.foldInFrozen(ix, batch, "doc_id", "text", compactEvery = 8)
      maxLeaves = math.max(maxLeaves, leaves(ix))
      if (i == 24) halfProbe = probe(ix)
    }
    // (a) plan depth: every relation's leaf count stays ≤ cadence + 1
    // standing leg + 1 (compaction lands as a single leaf) at ANY point in
    // a 50-fold chain; uncompacted it would reach 50+
    assert(maxLeaves <= 10,
      s"plan leaves grew to $maxLeaves — compaction cadence not bounding depth")
    // (b) the trigger arithmetic: 50 folds at cadence 8 → 6 compactions,
    // counter left at 50 - 6*8 = 2
    assert(ix.frozenFolds === 2,
      s"fold counter ${ix.frozenFolds} — compaction did not reset on cadence")
    // (c) exactness mid-chain and at the end, against the exact foldIn of
    // the same documents (halfway: the batches folded so far)
    val halfDocs = corpusB.filter(abs(xxhash64($"doc_id")) % nFolds <= 24)
    assert(halfProbe === probe(JaccardJoin.foldIn(standing, halfDocs, "doc_id", "text")),
      "halfway probe diverged from exact foldIn of the same docs")
    val endExact = probe(JaccardJoin.foldIn(standing, corpusB, "doc_id", "text"))
    assert(probe(ix) === endExact, "post-50-fold probe diverged from exact foldIn")
    assert(endExact.nonEmpty, "src18 has cross-source near-dups; empty would be vacuous")
  }

  test("persisted index: loaded probe equals fresh probe; corpus drift refuses") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val corpus = docs.filter($"source" =!= "src18")
    val delta = docs.filter($"source" === "src18")
    val dir = java.nio.file.Files.createTempDirectory("graft_jidx_").toString
    try {
      val fresh = JaccardJoin.buildIndex(corpus, "doc_id", "text", 1L, 2L)
      JaccardJoin.saveIndex(fresh, corpus, "doc_id", "text", dir)
      val loaded = JaccardJoin.loadIndexValidated(spark, dir, corpus, "doc_id", "text")
      assert((loaded.tNum, loaded.tDen, loaded.shingleWidth) === (1L, 2L, 3))
      val viaLoaded = JaccardJoin.pairsAgainst(loaded, delta, "doc_id", "text")
        .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
      val viaFresh = JaccardJoin.pairsAgainst(fresh, delta, "doc_id", "text")
        .select($"id1", $"id2", $"inter").as[(Long, Long, Long)].collect().toSet
      assert(viaLoaded === viaFresh)
      assert(viaLoaded.nonEmpty, "empty pair set would make this vacuous")
      // a drifted corpus (dropped docs) must refuse, not silently emit an
      // incomplete pair set
      intercept[IllegalStateException] {
        JaccardJoin.loadIndexValidated(spark, dir,
          corpus.filter($"doc_id" % 2 === 0), "doc_id", "text")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("disjoint-id precondition guard fails loudly under the debug conf") {
    val docs = Seq((0L, "a b c d e"), (1L, "f g h i j")).toDF("doc_id", "text")
    spark.conf.set(JaccardJoin.CheckDisjointConf, "true")
    try {
      val e = intercept[IllegalArgumentException] {
        JaccardJoin.pairsBetween(docs, docs, "doc_id", "text", 1L, 2L)
      }
      assert(e.getMessage.contains("disjoint"))
    } finally spark.conf.unset(JaccardJoin.CheckDisjointConf)
  }

  test("threshold is applied with integer arithmetic (no float boundary)") {
    // J exactly 1/2: |A|=|B|=3 shingles, inter=2 -> 2/(3+3-2) = 0.5 kept
    val docs = Seq(
      (0L, "a b c d e"),   // shingles: abc bcd cde
      (1L, "a b c d x")    // shingles: abc bcd cdx -> inter=2, union 4
    ).toDF("doc_id", "text")
    val got = JaccardJoin.pairs(docs, "doc_id", "text", 1L, 2L)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(got === Set((0L, 1L)))
  }
}
