package graft.operators

import graft.SparkSpec
import graft.dedup.{MinHashLSH, SimHash}
import graft.multimodal.{MediaRow, Multimodal}
import graft.similarity.Ann
import org.apache.spark.sql.functions._

/** Property/golden tests for the engine-only north-star operators
  * (SURVEY.md §2.3 "engine-only capabilities"): these are the correctness
  * checks the DuckDB oracle can't provide.
  */
class NorthStarSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force word-3-shingle sets, exactly [[MinHashLSH.shingles]]'
    * semantics (single-space split, empties dropped, len<3 → whole text).
    */
  private def shingleSets(): Map[Long, Set[String]] =
    graft.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map { r =>
        val tk = r.getString(1).split(" ").filter(_.nonEmpty).toSeq
        val sh = if (tk.length < 3) Set(tk.mkString(" "))
          else tk.sliding(3).map(_.mkString(" ")).toSet
        r.getLong(0) -> sh
      }.toMap

  test("q293 threshold sweep: bands match a brute-force all-pairs jaccard replay") {
    val sets = shingleSets()
    val ids = sets.keys.toSeq.sorted
    val bands = collection.mutable.Map.empty[String, (Long, Set[Long])]
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val (a, b) = (ids(i), ids(j))
      val inter = (sets(a) & sets(b)).size.toLong
      val (n1, n2) = (sets(a).size.toLong, sets(b).size.toLong)
      if (3 * inter >= n1 + n2) { // J >= 0.5: in the sweep
        val band =
          if (19 * inter >= 9 * (n1 + n2)) ">=0.9"
          else if (17 * inter >= 7 * (n1 + n2)) "0.7-0.9"
          else "0.5-0.7"
        val (np, docs) = bands.getOrElse(band, (0L, Set.empty[Long]))
        bands(band) = (np + 1, docs + a + b)
      }
    }
    val got = NorthStar.q293DedupThresholdSweep(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet === bands.keySet)
    assert(bands.values.map(_._1).sum > 0, "no pairs at all - vacuous corpus")
    bands.foreach { case (band, (np, docs)) =>
      assert(got(band) === ((np, docs.size.toLong)), s"band $band")
    }
  }

  test("q116 equals the decision record of the symmetric pair set's src18 × other-source pairs") {
    val docs = graft.Tables(spark, sf0001, "documents")
    val delta = docs.filter($"source" === "src18").select($"doc_id").as[Long].collect().toSet
    val cross = graft.dedup.JaccardJoin.pairs(docs, "doc_id", "text", 1L, 2L)
      .select($"id1", $"id2", $"jaccard").as[(Long, Long, Double)].collect()
      .collect {
        case (a, b, j) if delta(a) && !delta(b) => (a, b, j)
        case (a, b, j) if delta(b) && !delta(a) => (b, a, j)
      }
    // per delta doc: match count, best match by highest jaccard, smallest id
    val want = cross.groupBy(_._1).toSeq.map { case (id, ms) =>
      val (_, best, j) = ms.minBy { case (_, b, j) => (-j, b) }
      (id, ms.length.toLong, best, j)
    }.sortBy(_._1)
    val got = NorthStar.q116IncrementalDedup(spark, sf0001)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(want.nonEmpty, "src18 has cross-source near-dups at sf0.001; empty would be vacuous")
    assert(got === want)
  }

  test("q298 negative sampling: LCG draws replay exactly and no negative is a true interaction") {
    val inter = graft.Tables(spark, sf0001, "orders")
      .join(graft.Tables(spark, sf0001, "lineitem"),
        $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey", $"l_partkey").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val np = graft.Tables(spark, sf0001, "part")
      .agg(max($"p_partkey")).collect().head.getLong(0)
    val custs = graft.Tables(spark, sf0001, "customer")
      .select($"c_custkey").collect().map(_.getLong(0))
    val p = 2147483647L
    val want = (for {
      c <- custs; r <- 1L to 8L
      h1 = ((c * 8 + r) % p) * 48271 % p
      item = (h1 + 1) * 16807 % p % np + 1
      if !inter((c, item))
    } yield (c, r, item)).sortBy(t => (t._1, t._2))
    val got = NorthStar.q298NegativeSampling(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want.toSeq)
    assert(got.size < custs.length * 8,
      "no candidate hit a true interaction - anti-join untested (vacuous)")
    got.foreach { case (c, _, i) => assert(!inter((c, i))) }
  }

  test("q299 maxsim: scores replay from slice cosines and top-10 ranks hold per probe") {
    val emb = graft.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def slices(v: Array[Double]) = (0 until 4).map(i => v.slice(i * 16, i * 16 + 16))
    def r6(x: Double) = BigDecimal.valueOf(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    def maxsim(p: Array[Double], c: Array[Double]): Double =
      slices(p).map(ps => slices(c).map(cs => cos(ps, cs)).max).sum
    val got = Similarity.q299MaxsimRerank(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.length === 50)
    (0L until 5L).foreach { pid =>
      val want = emb.keys.filter(_ != pid).toSeq
        .map(id => (id, r6(maxsim(emb(pid), emb(id)))))
        .sortBy { case (id, s) => (-s, id) }.take(10)
      val g = got.filter(_._1 == pid).sortBy(_._4)
      assert(g.map(t => (t._2, t._3)).toSeq === want, s"probe $pid top-10")
      assert(g.map(_._4).toSeq === (1L to 10L), s"probe $pid ranks")
    }
  }

  test("q301 dup-span explain: longest shared token run matches a brute-force diagonal replay") {
    val toks = graft.Tables(spark, sf0001, "documents")
      .select($"doc_id", $"text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toIndexedSeq)
      .toMap
    val got = NorthStar.q301DupSpanExplain(spark, sf0001).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.nonEmpty, "no explained pairs - vacuous corpus")
    got.foreach { case ((a, b), (run, sa, sb)) =>
      val (ta, tb) = (toks(a), toks(b))
      // brute-force: longest common consecutive-token run across all diagonals
      var best = 0L; var bestSa = Long.MaxValue; var bestSb = Long.MaxValue
      for (d <- -(tb.length - 1) to (ta.length - 1)) {
        var i = math.max(0, d); var cur = 0L; var curStart = -1L
        while (i < ta.length && (i - d) < tb.length) {
          if (i - d >= 0 && ta(i) == tb(i - d)) {
            if (cur == 0) curStart = i
            cur += 1
            if (cur >= 3) {
              val cand = (cur, curStart, curStart - d)
              if (cur > best || (cur == best &&
                  (cand._2 < bestSa || (cand._2 == bestSa && cand._3 < bestSb)))) {
                best = cur; bestSa = cand._2; bestSb = cand._3
              }
            }
          } else cur = 0
          i += 1
        }
      }
      assert(run === best, s"pair ($a,$b) run length: got $run want $best")
      assert(sa === bestSa && sb === bestSb, s"pair ($a,$b) starts")
    }
  }

  test("q302 ranker agreement: sum_d2 replays from both rankings; rho formula holds") {
    val emb = graft.Tables(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def slices(v: Array[Double]) = (0 until 4).map(i => v.slice(i * 16, i * 16 + 16))
    def r6(x: Double) = BigDecimal.valueOf(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    val got = Similarity.q302RankerAgreement(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq === (0L until 5L))
    got.foreach { case (pid, n, sumd2, rho) =>
      val cands = emb.keys.filter(_ != pid).toSeq
      assert(n === cands.length.toLong)
      def ranksBy(score: Long => Double): Map[Long, Long] =
        cands.map(id => (id, r6(score(id))))
          .sortBy { case (id, s) => (-s, id) }
          .zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
      val r1 = ranksBy(id => cos(emb(pid), emb(id)))
      val r2 = ranksBy(id => slices(emb(pid))
        .map(ps => slices(emb(id)).map(cs => cos(ps, cs)).max).sum)
      val want = cands.map(id => { val dd = r1(id) - r2(id); dd * dd }).sum
      assert(sumd2 === want, s"probe $pid sum_d2")
      val nD = n.toDouble
      assert(math.abs(rho - (1.0 - 6.0 * want / (nD * (nD * nD - 1.0)))) < 2e-6,
        s"probe $pid rho")
      assert(rho >= -1.0 - 1e-9 && rho <= 1.0 + 1e-9)
      assert(sumd2 > 0, s"probe $pid identical rankings - vacuous agreement test")
    }
  }

  test("q308 contamination matrix: source rollup sums to q119's per-doc report") {
    val q119 = NorthStar.q119BenchmarkDecontamination(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val got = NorthStar.q308ContaminationMatrix(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.nonEmpty && !got.exists(_._1 == "src0"),
      "benchmark source must not appear as a training row")
    assert(got.map(_._3).sum === q119.length.toLong,
      "sum of flagged docs must equal q119's row count")
    assert(got.map(_._4).sum === q119.map(_._2).sum,
      "sum of hit n-grams must equal q119's totals")
    got.foreach { case (src, nd, nf, _, rate) =>
      assert(nf <= nd)
      assert(math.abs(rate - nf.toDouble / nd) < 2e-6, s"$src rate")
    }
    assert(got.exists(_._3 > 0), "no flagged source - vacuous")
  }

  test("q294 minhash quality eval: counts are containment-consistent and recall holds the floor") {
    val g = NorthStar.q294MinhashQualityEval(spark, sf0001).collect().head
    val (nExact, nCand, nTp) = (g.getLong(0), g.getLong(1), g.getLong(2))
    // cross-check the exact side against the brute-force pair count
    val sets = shingleSets()
    val ids = sets.keys.toSeq.sorted
    var want = 0L
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      val inter = (sets(ids(i)) & sets(ids(j))).size.toLong
      if (3 * inter >= sets(ids(i)).size + sets(ids(j)).size) want += 1
    }
    assert(nExact === want, "exact pair count disagrees with brute force")
    assert(nExact > 0, "vacuous corpus")
    assert(nTp <= math.min(nExact, nCand))
    def r6(x: Double) = BigDecimal.valueOf(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    assert(g.getDouble(3) === r6(nTp.toDouble / nCand))
    assert(g.getDouble(4) === r6(nTp.toDouble / nExact))
    // LSH with the library's default banding recovers >=0.5-sim pairs well
    assert(g.getDouble(4) >= 0.9, s"recall ${g.getDouble(4)} below floor")
  }

  test("minhash estimate tracks exact jaccard on crafted near-dups") {
    // two near-identical docs (1 token changed of 20), one unrelated
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val nearDup = ((1 to 19).map(i => s"tok$i") :+ "changed").mkString(" ")
    val other = (100 to 119).map(i => s"zz$i").mkString(" ")
    val docs = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val pairs = MinHashLSH.candidatePairs(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // near-dup pair must be found with a high estimate...
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing: $pairs")
    assert(pairs((1L, 2L)) > 0.5)
    // ...and the unrelated doc must not pair with a high score
    assert(!pairs.contains((1L, 3L)) || pairs((1L, 3L)) < 0.3)
  }

  test("simhash: identical docs collide at distance 0; unrelated docs are far") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "completely different words entirely other thing")).toDF("doc_id", "text")
    val fp = docs.select(SimHash.simhash(split($"text", " ")).as("fp")).as[Long].collect()
    assert(fp(0) === fp(1))
    val pairs = SimHash.candidatePairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!pairs.exists(p => p._2 == 3L))
  }

  test("hll approx distinct within documented error bound of exact") {
    val rows = NorthStar.q35ApproxDistinct(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.1,
        s"${r.getString(0)}: approx=$approx exact=$exact")
    }
  }

  test("approx_percentile within rank-error bound of exact percentile") {
    // the sketch path for q47's exact percentiles: with accuracy a, the
    // documented rank error is n/a — at a=10000 and sf0.001 sizes that means
    // the approximate p50/p90 must land within a few ranks of exact, so
    // value error is bounded by the local value spread; assert a loose 5%
    // relative band, far wider than the rank bound implies
    import org.apache.spark.sql.functions._
    val o = graft.Tables(spark, sf0001, "orders")
    val r = o.agg(
      expr("percentile(o_totalprice, 0.5)").as("p50"),
      expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap50"),
      expr("percentile(o_totalprice, 0.9)").as("p90"),
      expr("approx_percentile(o_totalprice, 0.9, 10000)").as("ap90")).head()
    assert(math.abs(r.getDouble(1) - r.getDouble(0)) / r.getDouble(0) <= 0.05,
      s"p50 approx=${r.getDouble(1)} exact=${r.getDouble(0)}")
    assert(math.abs(r.getDouble(3) - r.getDouble(2)) / r.getDouble(2) <= 0.05,
      s"p90 approx=${r.getDouble(3)} exact=${r.getDouble(2)}")
  }

  test("ivf top-k finds the probe itself and overlaps brute-force top-10") {
    val ivf = Ann.ivfTopK(Tables_embeddings, "vec_id", "embedding", probeId = 0L)
      .select("id").as[Long].collect().toSet
    val brute = Similarity.q30CosineTopK(spark, sf0001)
      .select("vec_id").as[Long].collect().toSet
    assert(ivf.contains(0L)) // probe's own cluster is always searched
    // nprobe=4/16 clusters: expect meaningful overlap with exact top-10
    assert((ivf intersect brute).size >= 3, s"ivf=$ivf brute=$brute")
  }
  private def Tables_embeddings = graft.Tables(spark, sf0001, "embeddings")

  test("ivfIndexCached: one build per (plan, params) per session") {
    graft.Checkpoints.clearMaterializeCache()
    val emb = Tables_embeddings
    val (a1, c1) = Ann.ivfIndexCached(emb, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 3)
    // a fresh DataFrame over the SAME plan hits the cache: the handles are
    // the very same materialized objects, so no second index build ran
    val (a2, c2) = Ann.ivfIndexCached(Tables_embeddings, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 3)
    assert((a1 eq a2) && (c1 eq c2), "same plan+params must reuse the built index")
    // different params miss (a different index is a different index)
    val (a3, _) = Ann.ivfIndexCached(emb, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 1)
    assert(!(a3 eq a1), "different params must not share an index")
    // different plan misses
    val (a4, _) = Ann.ivfIndexCached(emb.filter(col("vec_id") < 250),
      "vec_id", "embedding", k = 16, refineIters = 1, assignReplicas = 3)
    assert(!(a4 eq a1), "different input plan must not share an index")
    // and the cached index is the real thing: same assignments as a cold build
    val cold = Ann.ivfIndex(emb, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 3)._1
      .select("id", "cid", "crank").collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cached = a2.select("id", "cid", "crank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cached === cold, "cached index must equal a cold build bit-for-bit")
    graft.Checkpoints.clearMaterializeCache()
  }

  test("ivfProbe on a prebuilt index equals build-per-call ivfTopK") {
    // the batch-probe API: one index, many probes — each probe must return
    // exactly what the cold path returns for the same parameters
    val emb = Tables_embeddings
    val index = Ann.ivfIndex(emb, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 2)
    for (p <- Seq(0L, 101L, 250L)) {
      val cold = Ann.ivfTopK(emb, "vec_id", "embedding", probeId = p)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val warm = Ann.ivfProbe(index, probeId = p)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(warm === cold, s"probe $p diverged between prebuilt and cold index")
    }
  }

  test("ivfProbeAll equals a loop of single ivfProbe calls, probe by probe") {
    // the batched relation API must be a pure vectorization: each qid's
    // (id, score) rows in rank order are exactly the single-probe answer
    val emb = Tables_embeddings
    val index = Ann.ivfIndex(emb, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 2)
    val probeIds = Seq(0L, 1L, 2L, 3L, 4L)
    val batched = Ann.ivfProbeAll(index,
        emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    for (p <- probeIds) {
      val single = Ann.ivfProbe(index, probeId = p)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batched(p) === single, s"qid $p diverged from the single-probe path")
    }
  }

  test("IVF fold drift: trigger fires on dispersed drift, quiet in-distribution; mild-drift recall floor") {
    // round-7 VERDICT item 6, pinned at sf0.001 (full curve in BENCH.md):
    // assignQuality is the rebuild trigger — it must stay quiet for an
    // in-distribution delta, stay quiet at mild drift (where recall is
    // measured fine), and FIRE for a dispersed heavy-drift delta.
    val emb = Tables_embeddings.select(col("vec_id"), col("embedding"))
    def drifted(idOff: Long, a: Double) = emb.filter(col("vec_id") < 50)
      .select((col("vec_id") + lit(idOff)).as("vec_id"),
        transform(col("embedding"), (x, i) => lit(1.0 - a) * x + lit(a) *
          element_at(col("embedding"), ((i + 7) % 64 + 1).cast("int")))
          .as("embedding"))
    val standing = Ann.ivfIndex(emb, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 2)
    val base = Ann.assignQuality(standing._1, standing._2)
    val mild = drifted(100000L, 0.2)
    val heavy = drifted(200000L, 0.9)
    var idx = Ann.foldInIvf(standing, mild, "vec_id", "embedding", assignReplicas = 2)
    idx = Ann.foldInIvf(idx, heavy, "vec_id", "embedding", assignReplicas = 2)
    val qMild = Ann.assignQuality(
      idx._1.filter(col("id") >= 100000L && col("id") < 200000L), idx._2)
    val qHeavy = Ann.assignQuality(idx._1.filter(col("id") >= 200000L), idx._2)
    val qCtrl = Ann.assignQuality( // in-distribution: the corpus itself re-checked
      idx._1.filter(col("id") < 100000L), idx._2)
    assert(!Ann.shouldRebuildIvf(base, qCtrl), s"in-distribution tripped: $qCtrl vs $base")
    assert(!Ann.shouldRebuildIvf(base, qMild), s"mild drift tripped early: $qMild vs $base")
    assert(Ann.shouldRebuildIvf(base, qHeavy),
      s"dispersed heavy drift must trip the trigger: $qHeavy vs $base")
    // recall floor at the production probe budget while the trigger is
    // quiet: the mild fold's own probes against brute-force exact top-10
    // over corpus + both folds (self included on both sides)
    val all = graft.Checkpoints.materialize(
      emb.select(col("vec_id").as("id"), col("embedding").cast("array<double>").as("ev"))
        .unionByName(mild.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("ev")))
        .unionByName(heavy.select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("ev"))))
    val probes = (0 until 5).map(i => 100000L + i)
    val pv = all.filter(col("id").isin(probes: _*))
      .select(col("id").as("qid"), col("ev").as("pv"))
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    val exact = all.crossJoin(broadcast(pv))
      .select(col("qid"), col("id"),
        graft.functions.VectorFunctions.cosineSim(col("ev"), col("pv")).as("score"))
      .withColumn("rk", row_number().over(wK)).filter(col("rk") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Ann.ivfProbeAll(idx,
        spark.createDataFrame(probes.map(Tuple1(_))).toDF("qid"))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val hits = probes.map(p => (got.getOrElse(p, Set.empty[Long])
      intersect exact.getOrElse(p, Set.empty[Long])).size)
    assert(hits.sum >= 35, s"mild-drift recall ${hits.sum}/50 below floor, per-probe $hits")
    graft.Checkpoints.clearMaterializeCache()
  }

  test("q124 batched-probe recall vs q69's exact multi-probe answers") {
    // same probes, same k=10: the IVF answer set per probe must overlap the
    // exact set at the q41-class recall (nprobe=4/k=16/replicas=2 measured
    // 0.8 average at sf0.01 — see the recall curve in BENCH.md); integer
    // hit-counting keeps the floor float-exact. sf0.001 here measures 39/50
    // (per-probe 10/7/6/8/8); floor 35 leaves headroom for nothing — the
    // index is deterministic, the floor just documents the margin class.
    val batched = NorthStar.q124AnnIvfBatch(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = Similarity.q69MultiTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val hits = exact.keys.toSeq.sorted.map(p => (batched(p) intersect exact(p)).size)
    assert(hits.sum >= 35, s"recall ${hits.sum}/50, per-probe $hits")
    assert(hits.forall(_ >= 5), s"per-probe $hits")
  }

  test("foldInIvf: corpus rows untouched, delta assigned argmax-exact, order-invariant; q153 recall") {
    val emb = Tables_embeddings
    val corpus = emb.filter(col("vec_id") >= 100)
    val delta = emb.filter(col("vec_id") < 100)
    val standing = Ann.ivfIndex(corpus, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 2)
    def snap(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.select("id", "cid", "crank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val folded = Ann.foldInIvf(standing, delta, "vec_id", "embedding", assignReplicas = 2)
    val foldedSnap = snap(folded._1)
    // the standing corpus assignments pass through bit-identical
    assert(foldedSnap.filter(_._1 >= 100L) === snap(standing._1))
    // every delta vector lands on its TRUE argmax centroid (brute force on
    // the collected 16-centroid relation; ties toward the smaller cid)
    val cents = folded._2.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val dvecs = delta.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dp / (math.sqrt(na) * math.sqrt(nb))
    }
    val primary = foldedSnap.filter(t => t._1 < 100L && t._3 == 1)
      .map(t => (t._1, t._2)).toMap
    dvecs.foreach { case (id, v) =>
      val best = cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .maxBy { case (cid, sim) => (sim, -cid) }._1
      assert(primary(id) === best, s"delta vec $id assigned to ${primary(id)}, argmax is $best")
    }
    // fold-in is order-invariant: one shot == two half-deltas, either order
    val d1 = delta.filter(col("vec_id") < 50)
    val d2 = delta.filter(col("vec_id") >= 50)
    val twoStep = Ann.foldInIvf(Ann.foldInIvf(standing, d1, "vec_id", "embedding", 2),
      d2, "vec_id", "embedding", 2)
    val twoStepRev = Ann.foldInIvf(Ann.foldInIvf(standing, d2, "vec_id", "embedding", 2),
      d1, "vec_id", "embedding", 2)
    assert(snap(twoStep._1) === foldedSnap)
    assert(snap(twoStepRev._1) === foldedSnap)
    // q153's probe over the folded index reaches q124-class recall vs exact
    val got = NorthStar.q153AnnIvfFoldin(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val exact = Similarity.q69MultiTopK(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val hits = exact.keys.toSeq.sorted.map(p => (got(p) intersect exact(p)).size)
    assert(hits.sum >= 30, s"recall ${hits.sum}/50, per-probe $hits")
    graft.Checkpoints.clearMaterializeCache()
  }

  test("persisted IVF index: loaded probe equals fresh probe; corpus drift refuses") {
    val emb = Tables_embeddings
    val index = Ann.ivfIndex(emb, "vec_id", "embedding",
      k = 16, refineIters = 1, assignReplicas = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_").toString
    try {
      Ann.saveIvfIndex(index, emb, "vec_id", "embedding", dir)
      val loaded = Ann.loadIvfIndexValidated(spark, dir, emb, "vec_id", "embedding")
      for (p <- Seq(0L, 101L, 250L)) {
        val fresh = Ann.ivfProbe(index, probeId = p)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val persisted = Ann.ivfProbe(loaded, probeId = p)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(persisted === fresh, s"probe $p diverged after a save/load round-trip")
      }
      intercept[IllegalStateException] {
        Ann.loadIvfIndexValidated(spark, dir,
          emb.filter(col("vec_id") < 250), "vec_id", "embedding")
      }
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("ivf recall@10 vs exact top-10 at sf0.01 (nprobe=4 of k=16)") {
    graft.functions.VectorFunctions.register(spark)
    val sf001 = "/root/testdata/sf0.01"
    val emb = graft.Tables(spark, sf001, "embeddings")
    def exactTop10(probe: Long): Set[Long] = {
      val e = emb.withColumn("ev", Similarity.asDouble(col("embedding")))
      val p = e.filter(col("vec_id") === probe).select(col("ev").as("pv"))
      e.crossJoin(broadcast(p))
        .select(col("vec_id"),
          graft.functions.VectorFunctions.cosineSim(col("ev"), col("pv")).as("score"))
        .orderBy(col("score").desc, col("vec_id")).limit(10)
        .select("vec_id").as[Long].collect().toSet
    }
    val probes = Seq(0L, 101L, 250L, 499L)
    val hits = probes.map { p =>
      val ivf = Ann.ivfTopK(emb, "vec_id", "embedding", probeId = p)
        .select("id").as[Long].collect().toSet
      (ivf intersect exactTop10(p)).size
    }
    // defaults (nprobe=4 of k=16, assignReplicas=2): measured 32/40 hits —
    // recall@10 = 0.8 average. Single assignment measures 0.65 and
    // assignReplicas=3 reaches 0.95 (curve in BENCH.md); integer hit
    // counting keeps the 0.8 threshold float-exact.
    assert(hits.sum >= 32, s"recall ${hits.sum}/40, per-probe ${probes.zip(hits)}")
    assert(hits.forall(_ >= 5), s"per-probe ${probes.zip(hits)}")
  }

  test("ann lsh pairs are exact-cosine-verified and deduplicated") {
    val pairs = Ann.lshNearDupPairs(Tables_embeddings, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty) // 8-bit signatures over 500 vectors must collide
    assert(pairs.distinct.length === pairs.length)
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("multimodal GM1: expression and typed decoders agree over a binary parquet fixture") {
    val docs = graft.Tables(spark, sf0001, "documents")
    // real binary fixture: the media table (binary payload column) round-trips
    // through parquet; every decode below reads the fixture, not the builder
    val dir = java.nio.file.Files.createTempDirectory("graft_media").toString
    try {
    Multimodal.mediaTable(docs).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    val exprF = Multimodal.decode(back)
      .select("doc_id", "format", "width", "height", "n_bytes", "byte_sum", "frames")
      .as[(Long, String, Int, Int, Long, Long, Long)].collect().sortBy(_._1)
    val typedF = Multimodal.decodeFeatures(back.as[MediaRow]).collect()
      .map(f => (f.doc_id, f.format, f.width, f.height, f.n_bytes, f.byte_sum, f.frames))
      .sortBy(_._1)
    assert(exprF.length === 500)
    assert(exprF.toSeq === typedF.toSeq) // codegen'd path == codec-boundary path
    exprF.foreach { case (_, fmt, w, h, n, sum, frames) =>
      assert(Multimodal.Formats.contains(fmt))
      assert(w >= 64 && w <= 512 && h >= 64 && h <= 256)
      assert(n >= 32 && n < 32 + 97)
      assert(sum > 0 && sum <= 255L * n)
      if (fmt == "mp4") assert(frames >= 2) else assert(frames === 1L)
    }
    // frame sampling + header-rewriting resize keep their contracts
    val frames = Multimodal.sampleFrames(back)
    assert(frames.count() > 0)
    assert(frames.columns.toSeq === Seq("doc_id", "frame_no", "frame_bytes"))
    val resized = Multimodal.resize(back.as[MediaRow], 2).collect().map(m => m.doc_id -> m).toMap
    back.as[MediaRow].collect().foreach { m =>
      val r = resized(m.doc_id)
      assert(r.payload.length - 6 === (m.payload.length - 6 + 1) / 2)
      assert((r.payload(4) & 0xff) === math.max(1, (m.payload(4) & 0xff) / 2))
      assert(r.payload(0) == 0x47 && r.payload(1) == 0x4d) // still a valid GM1 blob
    }
    } finally {
      // every consumer above collects eagerly, so the fixture dir can go
      // (it used to leak one graft_media dir per suite run)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }

  test("rolling fingerprint is position-sensitive where md5 groups only exact dups") {
    val docs = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("doc_id", "text")
    val fps = docs.select(NorthStar.rollingFingerprint($"text").as("fp"))
      .as[Long].collect()
    assert(fps(0) === fps(2)) // identical docs agree
    assert(fps(0) !== fps(1)) // permuted tokens differ
  }

  test("engine-only five are bit-reproducible across shuffle parallelisms") {
    // the 5 non-hash-checked queries (inherently approximate) must still be
    // DETERMINISTIC: same rows, same order, bit-equal floats, whether every
    // exchange lands on 8 or 32 partitions (VERDICT r3 item 6). All seeds
    // are hash/id-derived and every aggregation is order-independent, so a
    // difference here would mean a hidden partition-order dependence.
    val five = Seq("q35_approx_distinct", "q37_minhash_pairs",
      "q39_simhash_pairs", "q40_ann_lsh", "q41_ann_ivf")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def runAll(): Map[String, Seq[org.apache.spark.sql.Row]] =
      five.map(n => n -> NorthStar.queries(n)(spark, sf0001).collect().toSeq).toMap
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      val at8 = runAll()
      spark.conf.set("spark.sql.shuffle.partitions", "32")
      val at32 = runAll()
      five.foreach { n =>
        assert(at8(n).nonEmpty, s"$n returned no rows")
        assert(at8(n) === at32(n), s"$n rows differ across shuffle parallelisms")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("q96 packing invariants: token conservation, full sequences, contiguity") {
    val rows = NorthStar.q96SamplePacking(spark, sf0001).collect()
    val totalTok = graft.Tables(spark, sf0001, "documents")
      .select(size(filter(split($"text", " "), t => t =!= "")).cast("long").as("n"))
      .agg(sum($"n")).head().getLong(0)
    // every token lands in exactly one sequence
    assert(rows.map(_.getLong(2)).sum === totalTok, "token mass not conserved")
    // sequences are contiguous 0..N-1 and all but the last are exactly full
    val seqIds = rows.map(_.getLong(0))
    assert(seqIds.sameElements(seqIds.indices.map(_.toLong)), "sequence ids not contiguous")
    rows.init.foreach(r => assert(r.getLong(2) === 2048L,
      s"non-tail sequence ${r.getLong(0)} not full: ${r.getLong(2)}"))
    assert(rows.last.getLong(2) <= 2048L)
  }

  test("q89 quantization invariants: codes in [0,255], rmse within half a step") {
    Similarity.q89EmbedQuant(spark, sf0001).collect().foreach { r =>
      val (lo, hi) = (r.getLong(3), r.getLong(4)) // q_first, q_last sanity via bounds below
      assert(lo >= 0 && lo <= 255 && hi >= 0 && hi <= 255)
      // per-dim |err| <= scale/2 => rmse <= scale/2; with 64 dims and values
      // in ~[-1,1], scale <= 2/255 so rmse < 0.004
      assert(r.getDouble(5) <= 0.004, s"vec ${r.getLong(0)} rmse ${r.getDouble(5)}")
    }
  }

  test("langid predicts from stopword profiles deterministically") {
    val rows = NorthStar.q42LangId(spark, sf0001).limit(5).collect()
    assert(rows.length === 5)
    assert(rows.forall(r => Set("en", "es", "de", "fr", "zh").contains(r.getString(2))))
  }

  test("q126 novelty invariants: rank-0 fully novel, novel mass = corpus distinct") {
    // columns: src_rank, n_docs, n_shingles, n_novel, novelty
    val rows = NorthStar.q126NgramNovelty(spark, sf0001).collect()
    val byRank = rows.map(r => r.getLong(0) -> r).toMap
    // the first-ranked source has no predecessors: every shingle is novel
    val first = byRank(byRank.keySet.min)
    assert(first.getLong(3) === first.getLong(2), "first source not fully novel")
    assert(first.getDouble(4) === 1.0)
    // each distinct shingle is novel in EXACTLY one source (its first), so
    // the novel counts partition the corpus-wide distinct shingle set
    val corpusDistinct = graft.Tables(spark, sf0001, "documents")
      .select(explode(graft.dedup.MinHashLSH.shingles(
        filter(split($"text", " "), t => t =!= ""), 3)).as("g"))
      .select(xxhash64($"g")).distinct().count()
    assert(rows.map(_.getLong(3)).sum === corpusDistinct,
      "novel counts do not partition the corpus distinct-shingle set")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(2), "novel exceeds distinct")
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("q128 merged-interval coverage on a crafted shared-paragraph fixture") {
    // doc0/doc1 share the 12-token run a4..a15 (5 overlapping dup 8-windows
    // merging to exactly 12 covered positions on each side); doc2 is unique;
    // doc3/doc4 are identical 5-token docs (whole-doc window, coverage 1.0)
    val shared = (4 to 15).map(i => s"a$i").mkString(" ")
    val rows = Seq(
      (0L, ((0 to 19).map(i => s"a$i")).mkString(" "), "en", "src0", 0L),
      (1L, s"b0 b1 b2 $shared b3 b4", "en", "src0", 0L),
      (2L, (0 to 19).map(i => s"c$i").mkString(" "), "en", "src1", 0L),
      (3L, "d0 d1 d2 d3 d4", "en", "src1", 0L),
      (4L, "d0 d1 d2 d3 d4", "en", "src2", 0L))
    val dir = java.nio.file.Files.createTempDirectory("q128fix").toString
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = NorthStar.q128SubstringDup(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc0: 20 tokens, 13 windows, dup windows start at 4..8, union [4,16) = 12
    assert(out(0L).getLong(2) === 13L)
    assert(out(0L).getLong(3) === 5L, "doc0 dup-window count")
    assert(out(0L).getLong(4) === 12L, "doc0 merged coverage")
    assert(out(0L).getDouble(5) === 0.6)
    // doc1: 17 tokens, dup windows start at 3..7, union [3,15) = 12 of 17
    assert(out(1L).getLong(3) === 5L, "doc1 dup-window count")
    assert(out(1L).getLong(4) === 12L, "doc1 merged coverage")
    // doc2: untouched
    assert(out(2L).getLong(3) === 0L && out(2L).getLong(4) === 0L)
    assert(out(2L).getDouble(5) === 0.0)
    // doc3/doc4: whole-doc window duplicated, full coverage
    Seq(3L, 4L).foreach { id =>
      assert(out(id).getLong(2) === 1L && out(id).getLong(3) === 1L)
      assert(out(id).getLong(4) === 5L && out(id).getDouble(5) === 1.0)
    }
  }

  test("q156 span rewrite cuts exactly the merged dup intervals from the text") {
    // q128's crafted fixture, now asserting the REWRITE: the cut list is
    // the merged coverage, and the surviving tokens keep their order
    val shared = (4 to 15).map(i => s"a$i").mkString(" ")
    val rows = Seq(
      (0L, ((0 to 19).map(i => s"a$i")).mkString(" "), "en", "src0", 0L),
      (1L, s"b0 b1 b2 $shared b3 b4", "en", "src0", 0L),
      (2L, (0 to 19).map(i => s"c$i").mkString(" "), "en", "src1", 0L),
      (3L, "d0 d1 d2 d3 d4", "en", "src1", 0L),
      (4L, "d0 d1 d2 d3 d4", "en", "src2", 0L))
    val dir = java.nio.file.Files.createTempDirectory("q156fix").toString
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = NorthStar.q156SpanRewrite(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc0: covered [4,16) of 20 → head + tail survive in order
    assert(out(0L).getLong(1) === 20L)
    assert(out(0L).getLong(2) === 12L, "doc0 removed tokens")
    assert(out(0L).getString(3) === "a0 a1 a2 a3 a16 a17 a18 a19")
    // doc1: covered [3,15) of 17 → the b-frame survives
    assert(out(1L).getLong(2) === 12L, "doc1 removed tokens")
    assert(out(1L).getString(3) === "b0 b1 b2 b3 b4")
    // doc2: untouched
    assert(out(2L).getLong(2) === 0L)
    assert(out(2L).getString(3) === (0 to 19).map(i => s"c$i").mkString(" "))
    // doc3/doc4: whole-doc dup → everything cut, empty rewrite
    Seq(3L, 4L).foreach { id =>
      assert(out(id).getLong(2) === 5L && out(id).getString(3) === "")
    }
  }

  test("q157 decontam rewrite cuts exactly the benchmark-covered spans from train docs") {
    // src0 is the benchmark; doc1 quotes its 8-gram verbatim mid-text,
    // doc2 is clean, doc4 is a short doc identical to a short benchmark
    // doc (whole-text window). Benchmark docs themselves are not emitted.
    val rows = Seq(
      (0L, (0 to 9).map(i => s"e$i").mkString(" "), "en", "src0", 0L),
      (1L, "t0 t1 " + (0 to 7).map(i => s"e$i").mkString(" ") + " t2 t3", "en", "src1", 0L),
      (2L, (0 to 11).map(i => s"c$i").mkString(" "), "en", "src1", 0L),
      (3L, "s0 s1 s2", "en", "src0", 0L),
      (4L, "s0 s1 s2", "en", "src2", 0L))
    val dir = java.nio.file.Files.createTempDirectory("q157fix").toString
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = NorthStar.q157DecontamRewrite(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(1L, 2L, 4L), "only train docs are rewritten")
    // doc1: the quoted passage [2,10) is cut, the frame survives in order
    assert(out(1L).getLong(1) === 12L && out(1L).getLong(2) === 8L)
    assert(out(1L).getString(3) === "t0 t1 t2 t3")
    // doc2: untouched
    assert(out(2L).getLong(2) === 0L)
    assert(out(2L).getString(3) === (0 to 11).map(i => s"c$i").mkString(" "))
    // doc4: whole-doc benchmark hit → everything cut
    assert(out(4L).getLong(2) === 3L && out(4L).getString(3) === "")
  }

  test("q159 incremental span rewrite cuts delta docs only, against corpus AND same-day siblings") {
    // doc2 quotes a corpus paragraph (cut against the standing corpus);
    // doc3/doc4 share an 8-gram that exists NOWHERE in the corpus (the
    // intra-delta path); doc5 is clean; corpus docs are not emitted
    val rows = Seq(
      (0L, (0 to 19).map(i => s"a$i").mkString(" "), "en", "src1", 0L),
      (1L, (0 to 19).map(i => s"c$i").mkString(" "), "en", "src1", 0L),
      (2L, "x0 x1 " + (4 to 15).map(i => s"a$i").mkString(" ") + " x2", "en", "src7", 0L),
      (3L, (0 to 7).map(i => s"p$i").mkString(" ") + " z0", "en", "src7", 0L),
      (4L, "y0 " + (0 to 7).map(i => s"p$i").mkString(" "), "en", "src7", 0L),
      (5L, (0 to 9).map(i => s"w$i").mkString(" "), "en", "src7", 0L))
    val dir = java.nio.file.Files.createTempDirectory("q159fix").toString
    spark.createDataFrame(rows).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = NorthStar.q159IncrementalSpanRewrite(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.keySet === Set(2L, 3L, 4L, 5L), "only delta docs are rewritten")
    // doc2: quoted corpus run a4..a15 → dup windows start 2..6, covered [2,14)
    assert(out(2L).getLong(1) === 15L && out(2L).getLong(2) === 12L)
    assert(out(2L).getString(3) === "x0 x1 x2")
    // doc3/doc4: the shared intra-delta 8-gram is cut from BOTH members
    assert(out(3L).getLong(2) === 8L && out(3L).getString(3) === "z0")
    assert(out(4L).getLong(2) === 8L && out(4L).getString(3) === "y0")
    // doc5: untouched
    assert(out(5L).getLong(2) === 0L)
    assert(out(5L).getString(3) === (0 to 9).map(i => s"w$i").mkString(" "))
  }

  test("q129 snapshot diff statuses follow the modular version definition") {
    val rows = NorthStar.q129CorpusDiff(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(2)))
    rows.foreach { case (id, st) =>
      val inV1 = id % 7 != 0
      val inV2 = id % 11 != 0
      val expected =
        if (!inV1 && inV2) "added"
        else if (inV1 && !inV2) "removed"
        else if (id % 5 == 0) "changed"
        else "unchanged"
      assert(st === expected, s"doc $id")
      assert(inV1 || inV2, s"doc $id present in neither version")
    }
    // non-degenerate: all four decision classes occur in the fixture corpus
    assert(rows.map(_._2).distinct.sorted ===
      Seq("added", "changed", "removed", "unchanged"))
  }

  test("q280 snapshot drift: per-source rollup matches a q129-classification replay") {
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    case class Acc(d1: Long = 0, d2: Long = 0, a: Long = 0, r: Long = 0,
      c: Long = 0, u: Long = 0, ch1: Long = 0, ch2: Long = 0)
    val want = docs.foldLeft(Map.empty[String, Acc]) { case (m, (id, src, ch)) =>
      val inV1 = id % 7 != 0
      val inV2 = id % 11 != 0
      if (!inV1 && !inV2) m
      else {
        val acc = m.getOrElse(src, Acc())
        val st =
          if (!inV1) "added" else if (!inV2) "removed"
          else if (id % 5 == 0) "changed" else "unchanged"
        m + (src -> acc.copy(
          d1 = acc.d1 + (if (inV1) 1 else 0),
          d2 = acc.d2 + (if (inV2) 1 else 0),
          a = acc.a + (if (st == "added") 1 else 0),
          r = acc.r + (if (st == "removed") 1 else 0),
          c = acc.c + (if (st == "changed") 1 else 0),
          u = acc.u + (if (st == "unchanged") 1 else 0),
          ch1 = acc.ch1 + (if (inV1) ch else 0),
          ch2 = acc.ch2 + (if (inV2) ch else 0)))
      }
    }
    val got = NorthStar.q280SnapshotDrift(spark, sf0001).collect()
    assert(got.length === want.size)
    got.foreach { row =>
      val w = want(row.getString(0))
      assert(row.getLong(1) === w.d1 && row.getLong(2) === w.d2, row.getString(0))
      assert(row.getLong(3) === w.a && row.getLong(4) === w.r
        && row.getLong(5) === w.c && row.getLong(6) === w.u, row.getString(0))
      assert(row.getLong(7) === w.ch1 && row.getLong(8) === w.ch2
        && row.getLong(9) === w.ch2 - w.ch1, row.getString(0))
      // accounting identity: every v2 doc is added, changed or unchanged
      assert(w.d2 === w.a + w.c + w.u)
      assert(w.d1 === w.r + w.c + w.u)
    }
  }

  test("q283 decontam sensitivity: per-width counts match a shingle replay; flagging shrinks with width") {
    def r6(x: Double) = BigDecimal.valueOf(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def sh(text: String, w: Int): Set[String] = {
      val tk = text.split(" ").filter(_.nonEmpty).toSeq
      if (tk.length < w) Set(tk.mkString(" "))
      else tk.sliding(w).map(_.mkString(" ")).toSet
    }
    val nTrain = docs.count(_._2 != "src0").toLong
    val want = Seq(5, 8, 13).map { w =>
      val bench = docs.filter(_._2 == "src0").flatMap(d => sh(d._3, w)).toSet
      val hits = docs.filter(_._2 != "src0")
        .map(d => sh(d._3, w).count(bench))
      val nCont = hits.count(_ > 0).toLong
      val nHit = hits.map(_.toLong).sum
      (w.toLong, nTrain, nCont, nHit, r6(nCont.toDouble / nTrain))
    }
    val got = NorthStar.q283DecontamSensitivity(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq === want)
    // a doc sharing a 13-token span shares its 8- and 5-token sub-spans:
    // flagged docs can only shrink as the width grows
    assert(got(0)._3 >= got(1)._3 && got(1)._3 >= got(2)._3)
    assert(got.forall(_._3 > 0), "no contamination at some width - vacuous")
  }

  test("q285 dup growth: cumulative curve matches an exact-jaccard inverted-index replay") {
    def r6(x: Double) = BigDecimal.valueOf(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).doubleValue
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def sh3(text: String): Set[String] = {
      val tk = text.split(" ").filter(_.nonEmpty).toSeq
      if (tk.length < 3) Set(tk.mkString(" "))
      else tk.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map(d => d._1 -> sh3(d._3)).toMap
    val rank = docs.map(d => d._1 -> d._2.drop(3).toLong).toMap
    // inverted index: candidate pairs = docs sharing any shingle
    val inter = scala.collection.mutable.Map.empty[(Long, Long), Int]
    docs.flatMap(d => sets(d._1).map(_ -> d._1)).groupBy(_._1).values
      .foreach { g =>
        val ids = g.map(_._2).sorted
        for (i <- ids.indices; j <- i + 1 until ids.length) {
          val k = (ids(i), ids(j))
          inter(k) = inter.getOrElse(k, 0) + 1
        }
      }
    val pairs = inter.toSeq.collect {
      case ((a, b), i) if 3 * i >= sets(a).size + sets(b).size => (a, b)
    }
    val firstDup = (pairs.map { case (a, b) =>
      a -> math.max(rank(a), rank(b))
    } ++ pairs.map { case (a, b) => b -> math.max(rank(a), rank(b)) })
      .groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).min }
    val ranks = rank.values.toSeq.distinct.sorted
    var cd = 0L
    var cf = 0L
    val want = ranks.map { r =>
      cd += rank.values.count(_ == r)
      cf += firstDup.values.count(_ == r)
      (r, cd, cf, r6(cf.toDouble / cd))
    }
    val got = NorthStar.q285DupGrowth(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === want)
    // the curve is monotone in both coordinates and ends with every doc counted
    assert(got.last._2 === docs.length.toLong)
    assert(got.map(_._3).toSeq === got.map(_._3).sorted.toSeq)
    assert(got.last._3 > 0, "no duplicates ever formed - vacuous fixture")
  }

  test("q286 curation dashboard: per-source flag counts match a sequential three-flag replay") {
    val docs = graft.Tables(spark, sf0001, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("source"),
        org.apache.spark.sql.functions.col("n_chars"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    def sh(text: String): Set[String] = {
      val tk = text.split(" ").filter(_.nonEmpty).toSeq
      if (tk.length < 8) Set(tk.mkString(" ")) else tk.sliding(8).map(_.mkString(" ")).toSet
    }
    val bench = docs.filter(_._2 == "src0").flatMap(d => sh(d._4)).toSet
    val train = docs.filter(_._2 != "src0")
    val fpOf = train.map(d =>
      d._1 -> d._4.split(" ").filter(_.nonEmpty).distinct.sorted.mkString(" ")).toMap
    val survivorOf = train.groupBy(d => fpOf(d._1)).values
      .flatMap { g => val keep = g.map(_._1).min; g.map(d => d._1 -> (d._1 == keep)) }
      .toMap
    val flags = train.map { d =>
      (d._2, survivorOf(d._1), sh(d._4).exists(bench), d._3 < 150)
    }
    val want = flags.groupBy(_._1).map { case (src, g) =>
      val clean = g.count(f => f._2 && !f._3 && !f._4).toLong
      src -> (g.length.toLong, g.count(!_._2).toLong, g.count(_._3).toLong,
        g.count(_._4).toLong, clean)
    }
    val got = NorthStar.q286CurationDashboard(spark, sf0001).collect()
    assert(got.map(_.getString(0)).toSet === want.keySet)
    got.foreach { r =>
      val (nd, dd, cd, sd, cl) = want(r.getString(0))
      assert(r.getLong(1) === nd && r.getLong(2) === dd && r.getLong(3) === cd
        && r.getLong(4) === sd && r.getLong(5) === cl, s"source ${r.getString(0)}")
      // clean docs can never exceed any single filter's survivors
      assert(cl <= nd - dd && cl <= nd - cd && cl <= nd - sd, r.getString(0))
    }
    // the dashboard must be non-vacuous on every axis at this fixture
    assert(got.map(_.getLong(2)).sum > 0, "no duplicates flagged - vacuous")
    assert(got.map(_.getLong(3)).sum > 0, "no contamination flagged - vacuous")
    assert(got.map(_.getLong(4)).sum > 0, "no short docs flagged - vacuous")
    assert(got.map(_.getLong(5)).sum > 0, "nothing survives curation - degenerate")
  }

  test("q130 shard shuffle: stable shards, contiguous positions, epoch reshuffle") {
    val rows = NorthStar.q130ShardShuffle(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byEpoch = rows.groupBy(_._1)
    assert(byEpoch.keySet === Set(0L, 1L))
    // shard assignment is epoch-invariant (shard files written once)
    val shardOf = (e: Long) => byEpoch(e).map(t => t._4 -> t._2).toMap
    assert(shardOf(0L) === shardOf(1L))
    // positions are contiguous 1..n within every (epoch, shard) — resumable
    byEpoch.values.flatten.groupBy(t => (t._1, t._2)).foreach { case (k, g) =>
      assert(g.map(_._3).toSeq.sorted === (1L to g.size).toSeq, s"gap in $k")
    }
    // the epochs actually reshuffle: some shard's intra-shard order differs
    val orderOf = (e: Long) => byEpoch(e).toSeq.sortBy(t => (t._2, t._3)).map(_._4)
    assert(orderOf(0L) !== orderOf(1L), "epoch reshuffle degenerate")
    // and membership is the whole corpus, no dupes per epoch
    assert(shardOf(0L).size === byEpoch(0L).length)
  }

  test("q131 hard negatives: every mined neighbor crosses the label boundary") {
    val emb = graft.Tables(spark, sf0001, "embeddings")
      .select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Similarity.q131HardNegatives(spark, sf0001).collect()
    assert(rows.length === 50) // 5 probes × k=10: enough cross-label corpus
    rows.foreach { r =>
      val (pid, id) = (r.getLong(0), r.getLong(2))
      assert(emb(pid) !== emb(id), s"probe $pid mined same-label $id")
    }
  }

  test("q127 outlier gate: cutoff is the per-label p05 order statistic") {
    // columns: vec_id, label, cos_centroid, cutoff_p05
    val flagged = Similarity.q127EmbedOutliers(spark, sf0001).collect()
    assert(flagged.nonEmpty)
    flagged.foreach(r => assert(r.getDouble(2) <= r.getDouble(3),
      s"vec ${r.getLong(0)} flagged above its label cutoff"))
    // against the full scored relation: strictly-below-cutoff count stays
    // under ceil(0.05 n) (the discrete-percentile definition), and every
    // label flags at least its rank-1 vector
    val scored = Similarity.q92LabelCentroid(spark, sf0001).collect()
      .groupBy(_.getLong(1))
    val cutoffByLabel = flagged.map(r => r.getLong(1) -> r.getDouble(3)).toMap
    cutoffByLabel.foreach { case (label, cut) =>
      val cs = scored(label).map(_.getDouble(2))
      val below = cs.count(_ < cut)
      val atOrBelow = cs.count(_ <= cut)
      val k = math.ceil(cs.length * 0.05).toLong
      assert(below < k, s"label $label: $below scores strictly below the p05 pick")
      assert(atOrBelow >= k, s"label $label: cutoff excludes the p05 position")
      val nFlagged = flagged.count(_.getLong(1) == label)
      assert(nFlagged === atOrBelow, s"label $label: flagged $nFlagged != $atOrBelow at-or-below")
    }
  }

  test("q137 margin: cos_own matches q92, best-other beats every other centroid") {
    // columns: vec_id, label, cos_own, best_other_label, cos_best_other,
    //          margin, misassigned
    val rows = Similarity.q137EmbedMargin(spark, sf0001).collect()
    assert(rows.nonEmpty)
    // cross-query consistency: the own-centroid score IS q92's cos_centroid
    val q92 = Similarity.q92LabelCentroid(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    rows.foreach { r =>
      assert(r.getDouble(2) === q92(r.getLong(0)),
        s"vec ${r.getLong(0)}: cos_own disagrees with q92")
      assert(r.getLong(3) !== r.getLong(1), s"best OTHER label equals own: $r")
      assert(math.abs((r.getDouble(2) - r.getDouble(4)) - r.getDouble(5)) < 1e-6,
        s"margin != cos_own - cos_best_other: $r")
      assert(r.getBoolean(6) === (r.getDouble(4) > r.getDouble(2)),
        s"misassigned flag inconsistent: $r")
    }
  }

  test("q476 sampled deciles: exact deciles replay + sane sample errors") {
    val vals = graft.Tables.events(spark, sf0001)
      .select((col("value").cast("decimal(18,4)") * 100).cast("long")).collect()
      .map(_.getLong(0)).sorted
    val n = vals.length
    val got = NorthStar.q476SampledQuantileError(spark, sf0001).collect()
    assert(got.map(_.getLong(0)).toSeq == (1L to 9L))
    got.foreach { r =>
      val q = r.getLong(0)
      val pos = (q * n + 9) / 10
      assert(r.getLong(1) == vals(pos.toInt - 1), s"decile $q exact")
    }
    // estimates must be monotone in the decile and exactly reproducible
    val ests = got.map(_.getLong(2)).toSeq
    assert(ests == ests.sorted, "sampled deciles must be monotone")
    assert(got.forall(r => r.getLong(4) == math.abs(r.getLong(3))))
  }
}
