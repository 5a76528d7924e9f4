package graft.operators

import graft.{Dsl, Tables}
import graft.Dsl._
import graft.importer.Enrich
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis surface over `documents`: string functions, reference
  * enrich/array-parse parity, exact dedup, token analytics, quality scoring,
  * fingerprinting, n-gram Jaccard (SURVEY.md §2.3 Q21, Q26-Q29 + north-star
  * text ops). All tokenization is native `split`/`explode` — codegen'd, no UDFs.
  */
object Text {
  type Q = (SparkSession, String) => DataFrame

  /** Non-empty whitespace tokens of `text`. */
  private def toks = filter(split(col("text"), " "), t => t =!= "")

  /** Positional postings (doc_id, pos, token) over documents — the
    * STANDING positional index behind q211's phrase search, factored so
    * the [[Standing]] bench row forces the same semantics-cached plan.
    */
  private[operators] def positionalPostings(s: SparkSession, d: String): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    graft.Checkpoints.materializeCached(Tables(s, d, "documents")
      .repartition(par, col("doc_id"))
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "token"))))
  }

  /** Q21: string function battery (substr/concat/upper/lower/trim/replace/
    * length/split/regexp_extract/array_contains).
    */
  def q21StringFuncs: Q = (s, d) => {
    Tables(s, d, "documents").select(
      col("doc_id"),
      substring(col("text"), 1, 10).as("sub10"),
      upper(substring(col("text"), 1, 10)).as("up10"),
      lower(col("lang")).as("lang_lo"),
      concat(col("lang"), lit(":"), col("source")).as("lang_src"),
      trim(concat(lit("  "), col("source"), lit("  "))).as("src_trim"),
      regexp_replace(col("source"), "src", "s-").as("src_repl"),
      big(length(col("text"))).as("text_len"),
      big(size(split(col("text"), " "))).as("n_splits"),
      regexp_extract(col("text"), "([a-z]+)", 1).as("first_word"),
      array_contains(split(col("text"), " "), "spark").as("has_spark"))
      .orderBy(col("doc_id"))
  }

  /** Q26: reference date-enrich parity (R9-R12) — a `yyyy-MM-dd HH:mm` string
    * column derived from event time, enriched via [[Enrich]]'s native
    * expressions (incl. the `""` sentinel contract).
    */
  def q26DateEnrich: Q = (s, d) => {
    val e = Tables.events(s, d)
      .select(col("event_id"), date_format(col("ts2"), "yyyy-MM-dd HH:mm").as("tstr"))
    Enrich.dateEnrich("tstr", e)
      .select(col("event_id"), col("tstr"), col("date"), col("year"), col("month"))
      .orderBy(col("event_id"))
  }

  /** Q27: reference array-parse parity (R13) + generator surface — bracketed
    * list string → array → explode → count by token.
    */
  def q27ArrayParse: Q = (s, d) => {
    // the per-row regex parse dominates IO here; explicit-count repartition
    // of the two short columns keeps it parallel on single-row-group inputs
    // (AQE byte-coalescing can't see per-row CPU cost — see BENCH.md)
    val li = Tables(s, d, "lineitem")
      .select(concat(lit("["), col("l_returnflag"), lit(", "), col("l_linestatus"), lit("]")).as("tags"))
      .repartition(s.sparkContext.defaultParallelism)
    // explode_outer + null filter, not explode: InferFiltersFromGenerate would
    // duplicate the whole parse expression into a pre-Generate filter,
    // evaluating the regex work twice per row (measured 2x at sf0.1); the
    // outer variant skips that rule, and no array here is null/empty anyway.
    Enrich.parseAndAppendArrayCol("tags", li)
      .select(explode_outer(col("tags_array")).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("token"))
  }

  /** Q28: exact dedup — keep-first row per (lang, source) key by smallest
    * doc_id (window dedup generalizing `SELECT DISTINCT`).
    */
  def q28DedupExact: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"), col("source")).orderBy(col("doc_id"))
    Tables(s, d, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("lang"), col("source"), col("doc_id"))
      .orderBy(col("lang"), col("source"))
  }

  /** Q29: token analytics — explode + count, global top-20 (TakeOrdered). */
  def q29TokenTopK: Q = (s, d) => {
    Tables(s, d, "documents")
      .select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(20)
  }

  /** Q34 (north-star): text quality scoring — token counts, average token
    * length, stopword ratio. Everything from native higher-order functions.
    */
  def q34TextQuality: Q = (s, d) => {
    val stop = Seq("the", "a", "of", "and")
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t.isin(stop: _*)))
    // BPE-ish subword segmentation: letter runs, digit runs, single symbols
    val bpeTokens = regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))
    Tables(s, d, "documents").select(
      col("doc_id"),
      big(nTok).as("n_tokens"),
      big(size(bpeTokens)).as("n_bpe_tokens"),
      big(length(regexp_replace(col("text"), " ", ""))).as("n_chars_nospace"),
      (length(regexp_replace(col("text"), " ", "")).cast("double") / nTok).as("avg_token_len"),
      (nStop.cast("double") / nTok).as("stop_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Q160 (north-star): PII redaction — the corpus-hygiene rewrite a training
    * pipeline runs before anything else. The synthetic corpus carries no real
    * contact strings, so a contact surface is synthesized deterministically
    * from doc fields first (the q26/q27 input-synthesis technique), then
    * scrubbed: emails, IPv4s, and phone-shaped tokens replaced by typed
    * placeholders via codegen'd `regexp_replace`, with per-category match
    * counts taken from `regexp_extract_all` BEFORE rewriting. All three
    * patterns are RE2-safe (no backtracking, no lookaround) so Java and
    * DuckDB agree, and none can match inside another's replacement. Narrow
    * projection, zero shuffle — at 100 TB this is a pure map over the scan.
    */
  def q160PiiRedaction: Q = (s, d) => {
    val emailRe = "[A-Za-z0-9._%-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val phoneRe = "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}"
    def m(k: Int, mod: Int, add: Int) =
      (pmod(col("doc_id") * k, lit(mod)) + add).cast("string")
    val email = concat(col("source"), lit("."), col("doc_id").cast("string"),
      lit("@mail.example.org"))
    val ip = concat(m(1, 223, 10), lit("."), m(7, 256, 0), lit("."),
      m(13, 256, 0), lit("."), m(17, 254, 1))
    val phone = concat(lit("+1-"), m(1, 900, 100), lit("-"), m(3, 900, 100),
      lit("-"), m(11, 9000, 1000))
    Tables(s, d, "documents")
      .withColumn("body", concat(substring(col("text"), 1, 60), lit(" "),
        email, lit(" "), ip, lit(" "), phone, lit(" "),
        substring(col("text"), 61, 60)))
      .select(col("doc_id"),
        big(size(regexp_extract_all(col("body"), lit(emailRe), lit(0)))).as("n_emails"),
        big(size(regexp_extract_all(col("body"), lit(ipRe), lit(0)))).as("n_ips"),
        big(size(regexp_extract_all(col("body"), lit(phoneRe), lit(0)))).as("n_phones"),
        regexp_replace(regexp_replace(regexp_replace(col("body"),
          emailRe, "<EMAIL>"), ipRe, "<IP>"), phoneRe, "<PHONE>").as("clean"))
      .orderBy(col("doc_id"))
  }

  /** Q161 (north-star): Gopher-style repetition filters — the multi-n
    * complement to q77's unigram ratios. Per doc: duplicate-bigram and
    * duplicate-trigram fractions, the top bigram's share, and the longest
    * consecutive-token repeat run. EVERYTHING is per-row array arithmetic:
    * n-grams via `slice`+`zip_with`, distinct counts via `array_distinct`,
    * and both the max n-gram multiplicity and the max repeat run via a
    * single `aggregate` longest-run fold (over the sorted array for
    * multiplicity, the raw array for runs) — zero shuffles, zero windows;
    * at 100 TB the whole filter battery rides the document scan.
    */
  def q161GopherRepetition: Q = (s, d) => {
    // longest run of equal adjacent elements in `arr` (0 for empty)
    def maxRun(arr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = aggregate(
      arr,
      struct(lit("").as("prev"), lit(0L).as("cur"), lit(0L).as("best")),
      (acc, t) => {
        val cur = when(t === acc.getField("prev"), acc.getField("cur") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), cur.as("cur"),
          greatest(acc.getField("best"), cur).as("best"))
      },
      acc => acc.getField("best"))
    def grams(n: Int): org.apache.spark.sql.Column = {
      val len = greatest(lit(0), size(col("tk")) - (n - 1))
      val parts = (0 until n).map(i => slice(col("tk"), lit(i + 1), len))
      parts.reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    }
    // fan out the per-doc HOF work (interpreted `aggregate` lambdas over
    // every bigram array): the one-row-group scan ran it single-task
    // (measured 2 × ~0.9 s at sf0.1 — opt r14)
    val docs = Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("tk"))
      .withColumn("bi", grams(2)).withColumn("tri", grams(3))
    docs.select(
      col("doc_id"),
      big(size(col("tk"))).as("n_tokens"),
      big(size(col("bi"))).as("n_bigrams"),
      round(lit(1.0) - size(array_distinct(col("bi"))).cast("double")
        / size(col("bi")), 6).as("dup_bi_frac"),
      round(maxRun(array_sort(col("bi"))).cast("double")
        / size(col("bi")), 6).as("top_bi_share"),
      round(lit(1.0) - size(array_distinct(col("tri"))).cast("double")
        / size(col("tri")), 6).as("dup_tri_frac"),
      big(maxRun(col("tk"))).as("max_run"))
      .orderBy(col("doc_id"))
  }

  /** The BPE merge fixpoint on a word-frequency dictionary: at each step,
    * count adjacent symbol pairs weighted by word frequency, take the
    * (freq desc, lhs asc, rhs asc)-best pair, splice it left-to-right into
    * every word. Pure function of the dict — independently unit-testable
    * against hand-computed merges.
    */
  def bpeMergeLoop(dict0: Array[(Array[String], Long)], steps: Int)
      : Seq[(Long, String, String, String, Long)] = {
    var dict = dict0
    val out = collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Long)]
    for (r <- 1 to steps) {
      val pc = collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      dict.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) { pc((syms(i), syms(i + 1))) += n; i += 1 }
      }
      if (pc.nonEmpty) {
        val ((l, rr), f) = pc.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        out += ((r.toLong, l, rr, l + rr, f))
        dict = dict.map { case (syms, n) =>
          val buf = collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == rr) {
              buf += l + rr; i += 2
            } else { buf += syms(i); i += 1 }
          }
          (buf.toArray, n)
        }
      }
    }
    out.toSeq
  }

  /** Q166 (north-star, engine-only): BPE merge training — the first 10 merge
    * rules learned from the corpus, the step that sits between raw text and
    * every token count downstream. The DISTRIBUTED stage is the corpus-wide
    * word-frequency aggregate (one shuffle, map-side combined — at 100 TB
    * this is the only corpus-proportional cost); the merge fixpoint then
    * runs on the top-V word dictionary (TakeOrdered, V=1000 — bounded by
    * construction like q69's probe set), which is how production BPE
    * trainers work: pair statistics over a word-freq dict, never a corpus
    * rescan per merge. Engine-only: a 10-step fixpoint has no single-SQL
    * twin; the spec pins hand-computed merges on a crafted corpus and
    * invariants on the real one. Ties broken (freq desc, lhs, rhs); dict
    * cut by (freq desc, word).
    */
  def q166BpeMerges: Q = (s, d) => {
    import s.implicits._
    val words = Tables(s, d, "documents")
      .select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(1000)
      .as[(String, Long)].collect() // bounded: <= V rows by construction
    val dict = words.map { case (w, n) => (w.map(_.toString).toArray, n) }
    bpeMergeLoop(dict, 10).toDF("rank", "lhs", "rhs", "merged", "pair_freq")
  }

  /** Q167 (north-star): winnowing fingerprints (the MOSS scheme) — the
    * position-robust dup/plagiarism signature q43's whole-doc rolling hash
    * can't give: from every window of `w`=4 consecutive 5-gram hashes,
    * select the minimum (rightmost on ties, the winnowing guarantee that
    * any shared run of ≥ w+k-1 tokens shares a fingerprint), dedup
    * repeated selections. The (hash, rightmost-pos) argmin rides ONE
    * portable integer encoding — `h·2²⁰ + (2²⁰−1−pos)` — so a plain
    * window MIN computes it in both engines with no struct/min_by
    * portability risk. Per-doc windows only (bounded), gram hashes are the
    * md5-prefix technique q43 pinned; at 100 TB the whole selection is one
    * doc-partitioned window over the scan, and the emitted fingerprint
    * relation is the ~2/(w+1)-density index a cross-doc match joins on.
    */
  def q167Winnowing: Q = (s, d) =>
    winnowedSelections(s, d).orderBy(col("doc_id"), col("sel_pos"))

  /** The winnowed (doc_id, sel_pos, fp) selection relation — q167's body,
    * shared with q169's cross-doc matcher.
    */
  def winnowedSelections(s: SparkSession, d: String): DataFrame = {
    val w = 4
    val prime = lit(1000000007L)
    val len5 = greatest(lit(0), size(col("tk")) - 4)
    val gramArr = (0 until 5).map(i => slice(col("tk"), lit(i + 1), len5))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    val g = Tables(s, d, "documents")
      .select(col("doc_id"), toks.as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("ntk"),
        posexplode(gramArr).as(Seq("pos0", "gram")))
    val h = pmod(conv(substring(md5(col("gram").cast("binary")), 1, 8), 16, 10)
      .cast("long"), prime)
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    g.select(col("doc_id"), col("ntk"), (col("pos0") + 1L).as("pos"),
        (h * 1048576L + (lit(1048575L) - (col("pos0") + 1L))).as("key"))
      .withColumn("wmin", min(col("key")).over(win))
      // only full windows select: starts 1 .. n_grams - (w-1), n_grams = ntk-4
      .where(col("pos") <= col("ntk") - 4L - (w - 1))
      .select(col("doc_id"),
        (lit(1048575L) - pmod(col("wmin"), lit(1048576L))).as("sel_pos"),
        expr("wmin DIV 1048576").as("fp"))
      .distinct()
  }

  /** Q169 (north-star): cross-doc near-dup matching over q167's winnowed
    * fingerprints — the index-side half of the MOSS scheme. Per-doc distinct
    * fingerprints self-join on fp, doc pairs sharing ≥ 5 survive, scored by
    * overlap coefficient (shared / smaller retained set). The join is
    * guarded the way a 100 TB index must be: fingerprints appearing in > 64
    * documents are DROPPED FIRST (non-discriminative boilerplate shingles
    * are exactly what makes an inverted-index self-join quadratic — the
    * df-cap is the winnowing twin of the q56 family's prefix filter), so
    * per-fp fan-out is bounded and the shuffle stays edge-proportional.
    */
  def q169WinnowMatch: Q = (s, d) => {
    val sel = winnowedSelections(s, d).select(col("doc_id"), col("fp")).distinct()
    val rare = sel.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .where(col("df") <= 64).select(col("fp"))
    val kept = sel.join(rare, Seq("fp"))
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= 5)
      .join(sizes.select(col("doc_id").as("id1"), col("nfp").as("na")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("nfp").as("nb")), Seq("id2"))
      .select(col("id1"), col("id2"), col("shared"),
        big(col("na")).as("na"), big(col("nb")).as("nb"),
        round(col("shared").cast("double") / least(col("na"), col("nb")), 6)
          .as("overlap"))
      .orderBy(col("shared").desc, col("id1"), col("id2"))
  }

  /** Q168 (north-star): corpus distribution drift — triangular
    * discrimination Δ(P,Q) = Σ (p−q)²/(p+q) of the per-language token
    * distribution between two dataset snapshots (id-parity split here, the
    * deterministic stand-in for two version manifests; q129 is the
    * identity-level diff, this is the distribution-level one a mixture
    * dashboard tracks). Δ is the transcendental-FREE f-divergence (bounded
    * by 2, same drift-detection role as Jensen–Shannon): log-based JS would
    * hinge on cross-engine `log2` BIT-parity, which only holds behind
    * coarse rounding — Δ's +,−,×,÷ are IEEE-identical everywhere. Per-token
    * contributions need only the token's two counts and the broadcast
    * per-language totals, so the measure is one (lang, token) count
    * aggregate + one tiny join — shuffle ∝ distinct vocabulary, never
    * corpus size. D5 float-sum determinism: each contribution is rounded to
    * 12 dp and summed as DECIMAL(28,12) — exact, associative,
    * order-independent; Δ ≤ 2 keeps the scaled integer < 2⁵³ so the final
    * decimal→double cast is exact in both engines.
    */
  def q168DistributionDrift: Q = (s, d) => {
    val tc = Tables(s, d, "documents")
      .select(col("lang"), pmod(col("doc_id"), lit(2L)).as("v"), explode(toks).as("token"))
      .groupBy(col("lang"), col("token"))
      .agg(sum(when(col("v") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("v") === 1, 1L).otherwise(0L)).as("cb"))
    val tot = tc.groupBy(col("lang")).agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val p = col("ca").cast("double") / col("ta")
    val q = col("cb").cast("double") / col("tb")
    val term = (p - q) * (p - q) / (p + q) // ca+cb >= 1 by construction
    tc.join(broadcast(tot), Seq("lang"))
      .select(col("lang"), col("ta"), col("tb"),
        round(term, 12).cast(org.apache.spark.sql.types.DecimalType(28, 12)).as("t12"))
      .groupBy(col("lang"), col("ta"), col("tb"))
      .agg(round(sum(col("t12")).cast("double"), 6).as("delta_div"))
      .select(col("lang"), big(col("ta")).as("tok_a"), big(col("tb")).as("tok_b"),
        col("delta_div"))
      .orderBy(col("lang"))
  }

  /** Q36 (north-star): document fingerprinting — md5 content hash (identical
    * across engines) for exact-dup detection at scale; engine-only rolling
    * hashes live in [[graft.dedup]].
    */
  def q36Fingerprint: Q = (s, d) => {
    Tables(s, d, "documents")
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))
  }

  /** Q38 (north-star): exact n-gram (token) Jaccard similarity between each
    * doc and its successor — the exactness oracle that MinHash approximates.
    * Token-level join keeps it linear in corpus size (no cross product).
    */
  def q38NgramJaccard: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    // Each doc's distinct-token SET is computed once as an array column —
    // successor Jaccard then needs only a 1:1 equi-join on the shifted id
    // plus one hash-set array_intersect per pair. This replaces the r2
    // token-relation plan (explode → distinct shuffle → token-level join →
    // re-aggregate), which shuffled one row per token occurrence; here the
    // shuffle is one row per DOCUMENT (the token set riding along), linear
    // at any corpus size. The explicit-count repartition keeps tokenizing
    // parallel on a single-file corpus (BENCH.md round-2 finding).
    val sets = docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), array_distinct(toks).as("tkset"))
    val a = sets.select(col("doc_id").as("id1"), col("tkset").as("s1"))
    val b = sets.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2"),
      col("tkset").as("s2"))
    a.join(b, Seq("id1"))
      .select(col("id1"), col("id2"),
        size(col("s1")).as("n1"), size(col("s2")).as("n2"),
        size(array_intersect(col("s1"), col("s2"))).as("inter"))
      // pairs sharing ZERO tokens never existed in the token-level INNER
      // join (and the oracle's), so the set-column plan must drop them too
      // — caught by the sf0.1 all-SF sweep, the only SF with disjoint
      // successor pairs
      .filter(col("inter") > 0)
      .select(col("id1"), col("id2"),
        round(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 6).as("jaccard"))
      .orderBy(col("id1"))
  }

  /** Q63: fuzzy lexical matching — Levenshtein distance between successive
    * documents' 40-char prefixes (the successor condition is IN the join key,
    * as in q38, so no quadratic pair space). Both engines implement the same
    * character-based DP, so distances hash-match exactly.
    */
  def q63EditDistance: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("head"))
    val a = docs.select(col("doc_id").as("id1"), col("head").as("h1"))
    val b = docs.select((col("doc_id") - 1).as("id1"), col("doc_id").as("id2"),
      col("head").as("h2"))
    a.join(b, Seq("id1"))
      .select(col("id1"), col("id2"), big(levenshtein(col("h1"), col("h2"))).as("edit_dist"))
      .orderBy(col("id1"))
  }

  /** Q70: regex token counting — the BPE-ish path next to q29's whitespace
    * path: word tokens by regex, greedy fixed-width subword chunks (a greedy
    * `[a-z]{1,4}` scan approximates a fixed-vocab subword tokenizer's
    * max-munch), alpha char mass, and mean subword length. Map-only native
    * regex expressions (regexp_extract_all / regexp_replace), codegen'd.
    */
  def q70RegexTokens: Q = (s, d) => {
    Tables(s, d, "documents")
      .select(col("doc_id"),
        big(size(regexp_extract_all(col("text"), lit("[a-z]+"), lit(0)))).as("n_words"),
        big(size(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0)))).as("n_subwords"),
        big(length(regexp_replace(col("text"), "[^a-z]", ""))).as("n_alpha"))
      // guard the empty-alpha corner: Spark's x/0 yields NULL while DuckDB
      // float division yields inf — both engines take the explicit NULL branch
      .withColumn("avg_subword_len",
        when(col("n_subwords") > 0,
          round(col("n_alpha").cast("double") / col("n_subwords"), 6)))
      .orderBy(col("doc_id"))
  }

  /** Q95: bigram collocation strength — phrase-mining for tokenizer/vocab
    * construction: which adjacent word pairs co-occur far more than their
    * unigram frequencies predict. Lift = n(l,r) · N_bigrams / (n(l) · n(r)),
    * kept EXACT-deterministic: every factor is an integer count (products
    * stay < 2^53, so the doubles are exact and the single division is
    * correctly rounded identically in both engines — no log, the q82
    * lesson). Bigram relation is materialized once ([[graft.Checkpoints]])
    * since it feeds both the pair counts and the corpus total; unigram
    * counts join in with one exchange each, rows ∝ distinct tokens.
    */
  def q95Collocations: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val pairs = graft.Checkpoints.materialize(docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(explode(when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("l"), b.as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("bg"))
      .select(col("bg.l").as("l"), col("bg.r").as("r")))
    val uni = docs.select(explode(toks).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    val bg = pairs.groupBy(col("l"), col("r")).agg(count(lit(1)).as("nxy"))
    val nb = pairs.agg(count(lit(1)).as("total_bg"))
    bg.filter(col("nxy") >= 3)
      .join(uni.select(col("t").as("l"), col("n").as("nl")), Seq("l"))
      .join(uni.select(col("t").as("r"), col("n").as("nr")), Seq("r"))
      .crossJoin(broadcast(nb))
      .select(col("l"), col("r"), col("nxy"),
        round(col("nxy").cast("double") * col("total_bg") / (col("nl") * col("nr")), 6).as("lift"))
      .orderBy(col("lift").desc, col("l"), col("r"))
      .limit(25)
  }

  /** Q103: array SET operations — union/intersect/except with dedup
    * semantics (the §2.2 array-function surface q24/q58 left untouched).
    * Engines order set-op results differently, so outputs are array_sort'd
    * and joined to strings for the hash.
    */
  def q103ArraySetOps: Q = (s, d) => {
    val a = slice(toks, lit(1), lit(10))
    val b = filter(toks, t => t.contains("a"))
    Tables(s, d, "documents")
      .select(col("doc_id"),
        array_sort(array_union(a, b)).as("u"),
        array_sort(array_intersect(a, b)).as("i"),
        array_sort(array_except(a, b)).as("x"))
      .select(col("doc_id"),
        big(size(col("u"))).as("n_union"),
        big(size(col("i"))).as("n_inter"),
        big(size(col("x"))).as("n_except"),
        array_join(col("i"), "|").as("inter_str"),
        array_join(col("x"), "|").as("except_str"))
      .orderBy(col("doc_id"))
  }

  /** Q104: string shaping battery — lpad/rpad/translate/repeat/reverse/
    * ascii, the formatting surface q21 didn't cover, hash-pinned.
    */
  def q104StringShape: Q = (s, d) => {
    Tables(s, d, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 12).as("s12"))
      .select(col("doc_id"),
        lpad(col("s12"), 16, "*").as("lp"),
        rpad(col("s12"), 16, "-").as("rp"),
        translate(col("s12"), "aeiou", "AEIOU").as("tr"),
        repeat(substring(col("s12"), 1, 3), 3).as("rep"),
        reverse(col("s12")).as("rev"),
        big(ascii(col("s12"))).as("first_code"))
      .orderBy(col("doc_id"))
  }

  /** Q73: subword vocabulary build — the corpus-level companion of q70's
    * per-doc counts: explode the greedy `[a-z]{1,4}` subword chunks, count
    * corpus-wide, keep the top 20 (count desc, chunk asc — deterministic).
    * This is the vocab-construction step of a fixed-width subword
    * tokenizer; partial aggregation does the heavy lifting map-side, the
    * exchange carries one row per DISTINCT chunk.
    */
  def q73SubwordVocab: Q = (s, d) => {
    Tables(s, d, "documents")
      .select(explode(regexp_extract_all(col("text"), lit("[a-z]{1,4}"), lit(0))).as("chunk"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("chunk"))
      .limit(20)
  }

  /** Q77: within-document repetition scoring — the Gopher/C4-style
    * boilerplate filters: distinct-token ratio and most-frequent-token share
    * per document. Two-level aggregation with ONE exchange: the explicit
    * repartition on doc_id parallelizes tokenizing on a small-file corpus
    * AND satisfies ClusteredDistribution for BOTH aggregations (grouping by
    * (doc_id, token) then doc_id — hash partitioning on the doc_id subset
    * co-locates each), so the token-count rows never shuffle. At scale the
    * map-side partial aggregate bounds the exchange at one row per distinct
    * (doc, token).
    */
  def q77DocRepetition: Q = (s, d) => {
    val tc = Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("doc_id"))
      .agg(big(sum(col("c"))).as("n_tokens"),
        big(count(lit(1))).as("n_distinct"),
        round(count(lit(1)).cast("double") / sum(col("c")), 6).as("distinct_ratio"),
        round(max(col("c")).cast("double") / sum(col("c")), 6).as("top_share"))
      .orderBy(col("doc_id"))
  }

  /** Q80: positional tokenization — the `posexplode` Generator surface
    * (position-aware explode, the one generator variant q27/q29 don't
    * exercise): per document, token count, 0-based position of the first
    * "the" (−1 when absent), and the final token via `max_by` over
    * positions. Same one-exchange shape as q77: repartition on doc_id
    * parallelizes the generator and co-locates the aggregation.
    */
  def q80PosExplode: Q = (s, d) => {
    Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), posexplode(toks).as(Seq("pos", "token")))
      .groupBy(col("doc_id"))
      .agg(big(count(lit(1))).as("n_tokens"),
        big(coalesce(min(when(col("token") === "the", col("pos"))), lit(-1L))).as("first_the_pos"),
        max_by(col("token"), col("pos")).as("last_token"))
      .orderBy(col("doc_id"))
  }

  /** Q82: distinctive-term extraction — TF-IDF-shaped relevance with an
    * EXACT portable score: `tf · N / df` (inverse document frequency without
    * the log — same ranking for fixed tf, and the integer numerator
    * `tf · N` is float-exact, so the single double division is bit-identical
    * in any engine; a `log`-based idf would hang the oracle on libm ulp
    * differences). Top-5 most distinctive tokens per document.
    *
    * Scale shape: tf is the q77 one-exchange two-level aggregate; df is one
    * aggregate over distinct (doc, token) pairs, one row per distinct token;
    * N is a 1-row broadcast (no driver round-trip). The tf⋈df join carries
    * one row per distinct (doc, token) — linear in corpus size. tf feeds
    * BOTH the df aggregate and the join, so it is materialized once via
    * [[graft.Checkpoints]] — the plan audit showed the full
    * tokenize+aggregate subtree evaluated twice otherwise (the recorded
    * uncached-reuse trap); `graft.checkpointDir` selects reliable
    * durable-storage checkpoints for production clusters.
    */
  def q82Tfidf: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val tf = graft.Checkpoints.materialize(docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    tf.join(df, Seq("token"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("token"), col("tf"),
        round((col("tf") * col("n")).cast("double") / col("df"), 6).as("score"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("doc_id"), big(col("rn")).as("rnk"), col("token"), big(col("tf")).as("tf"),
        col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** Q117: context-window chunking — splitting long documents into
    * overlapping token windows (chunk 40 tokens, stride 30 ⇒ 10-token
    * overlap), the other half of sequence preparation next to q96/q110's
    * PACKING (packing concatenates short docs; chunking splits long ones).
    * The chunks are REAL (`transform` over chunk starts + `slice`), built
    * entirely inside the row — the chunking itself is a projection over the
    * scan with no shuffle (the query's one exchange is the presentation
    * sort on doc_id), so it runs at any corpus size. The aggregate
    * columns read off the materialized chunk array and must equal the
    * closed form (n_chunks = 1 + ⌈(n−40)/30⌉, total = n + 10·(k−1) — each
    * overlap region is counted twice, the token-duplication cost of
    * training on overlapped windows), which is exactly what the DuckDB
    * oracle computes arithmetically: the hash match proves the chunker
    * against the formula.
    */
  def q117ContextChunks: Q = (s, d) => {
    val chunkLen = 40
    val stride = 30
    val n = size(toks)
    // dense chunk count: 1 + ceil((n - chunk)/stride) on longs; single
    // chunk when the doc fits
    // integer ceil division on the positive branch: double-exact at any
    // document length (int sizes << 2^53), truncating cast = floor
    val nChunks = when(n <= chunkLen, lit(1L)).otherwise(
      lit(1L) + ((n - chunkLen + stride - 1).cast("double") / stride).cast("long"))
    val chunks = transform(sequence(lit(0L), nChunks - 1L),
      i => slice(toks, (i * stride + 1L).cast("int"), lit(chunkLen)))
    Tables(s, d, "documents")
      .select(col("doc_id"), big(n).as("n_tokens"), chunks.as("chunks"))
      .select(col("doc_id"), col("n_tokens"),
        big(size(col("chunks"))).as("n_chunks"),
        aggregate(col("chunks"), lit(0L), (a, c) => a + size(c)).as("total_chunk_tokens"),
        big(size(element_at(col("chunks"), -1))).as("last_chunk_len"))
      .orderBy(col("doc_id"))
  }

  /** Q118: token-distribution entropy — the gibberish/boilerplate quality
    * signal next to q77's repetition ratios: Shannon entropy of each
    * document's token frequencies, in the sum-preserving form
    * H = log2(n) − (Σ c·log2 c)/n so both engines evaluate the same
    * per-term values (c are small integers) before one division. One
    * shuffle to the (doc, token) counts, one to the per-doc aggregate —
    * both keyed, no global funnel.
    */
  def q118TokenEntropy: Q = (s, d) => {
    val tc = Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("c"))
    tc.groupBy(col("doc_id"))
      .agg(big(sum(col("c"))).as("n_tokens"),
        round(log(2.0, sum(col("c")).cast("double"))
          - sum(col("c").cast("double") * log(2.0, col("c").cast("double")))
            / sum(col("c")).cast("double"), 4).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Q133: per-domain quality rank blending — the multi-signal quality
    * score every curation pipeline ends with: three cheap signals (chars,
    * distinct-token ratio, token count) each rank-normalized to [0,1] with
    * `percent_rank` WITHIN (lang, source), then blended 0.5/0.3/0.2 and
    * bucketed into deciles. The window is partitioned by (lang, domain)
    * deliberately: domain count grows with corpus size, so each partition
    * stays bounded at 100 TB — a GLOBAL percent_rank would sort the world
    * (and PlanAuditSpec would reject it); cross-domain comparability comes
    * from rank-normalizing per bucket, which is also the statistically
    * honest choice (quality signals aren't comparable across domains).
    * Determinism: rank ratios are int/int single divisions and the blend is
    * one fixed-shape double expression, bit-identical in both engines;
    * singleton partitions yield percent_rank 0 in both (verified).
    */
  def q133QualityBlend: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"), col("source"))
    val sig = Tables(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        size(toks).as("n_toks"), size(array_distinct(toks)).as("n_distinct"))
      .withColumn("distinct_ratio",
        col("n_distinct").cast("double") / col("n_toks").cast("double"))
    val blend = lit(0.5) * percent_rank().over(w.orderBy(col("n_chars"))) +
      lit(0.3) * percent_rank().over(w.orderBy(col("distinct_ratio"))) +
      lit(0.2) * percent_rank().over(w.orderBy(col("n_toks")))
    sig.select(col("doc_id"), col("lang"), col("source"), blend.as("blend"))
      .select(col("doc_id"), col("lang"), col("source"),
        round(col("blend"), 4).as("quality_blend"),
        big(least(floor(col("blend") * 10), lit(9.0))).as("decile"))
      .orderBy(col("doc_id"))
  }

  /** Q134: duplicate-aware source attribution — global vocabulary-set dedup
    * (fingerprint = the sorted DISTINCT token set; docs reusing the same
    * vocabulary are one group) with min-doc_id survivorship, rolled up into
    * the per-source dedup report a mixture designer reads: how many docs
    * each source REALLY contributes after global dedup, and how much
    * character mass it wastes on duplicates. All-integer aggregates (the
    * one ratio is an int/int division) — no float-order hazard. Scale: the
    * survivor window partitions by fingerprint (group size bounded by the
    * dup cluster, never the corpus) and the rollup is a keyed aggregate.
    */
  def q134DupAttribution: Q = (s, d) => {
    val fp = array_join(array_sort(array_distinct(toks)), " ")
    val marked = Tables(s, d, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), fp.as("fp"))
      .withColumn("survivor",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("fp"))))
    marked.groupBy(col("source"))
      .agg(big(count(lit(1))).as("n_docs"),
        big(sum(when(col("survivor"), 1L).otherwise(0L))).as("n_survivors"),
        big(sum(when(col("survivor"), 0L).otherwise(1L))).as("dup_docs"),
        big(sum(when(col("survivor"), 0L).otherwise(col("n_chars")))).as("dup_chars"))
      .withColumn("dup_ratio",
        round(col("dup_docs").cast("double") / col("n_docs").cast("double"), 4))
      .orderBy(col("source"))
  }

  /** Q135: corpus datasheet — the one-row-per-source dataset-card table
    * (docs, chars, tokens, vocabulary size, type-token ratio, language-mix
    * entropy, share of corpus characters) that documents a training mix.
    * Three keyed aggregates joined on source plus ONE 1-row broadcast for
    * the corpus total (q111's pattern); the lang-entropy uses q118's
    * sum-preserving H = log2 n − (Σ c·log2 c)/n form over the ≤|langs|
    * per-source language counts. Every join side after aggregation is
    * |sources| rows — at 100 TB the only big operations are the two scans'
    * partial aggregates.
    */
  def q135CorpusDatasheet: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val base = docs.groupBy(col("source"))
      .agg(big(count(lit(1))).as("n_docs"), big(sum(col("n_chars"))).as("total_chars"))
    val tok = docs.select(col("source"), explode(toks).as("token"))
      .groupBy(col("source"))
      .agg(big(count(lit(1))).as("total_tokens"),
        big(countDistinct(col("token"))).as("distinct_tokens"))
    val ent = docs.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(round(log(2.0, sum(col("c")).cast("double"))
        - sum(col("c").cast("double") * log(2.0, col("c").cast("double")))
          / sum(col("c")).cast("double"), 4).as("lang_entropy"))
    val total = docs.agg(sum(col("n_chars")).as("corpus_chars"))
    base.join(tok, Seq("source")).join(ent, Seq("source"))
      .crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("total_chars"),
        col("total_tokens"), col("distinct_tokens"),
        round(col("distinct_tokens").cast("double")
          / col("total_tokens").cast("double"), 4).as("ttr"),
        col("lang_entropy"),
        round(col("total_chars").cast("double")
          / col("corpus_chars").cast("double"), 4).as("share_chars"))
      .orderBy(col("source"))
  }

  /** Q136: contrastive chunk pairs — SimCSE-style (anchor, positive)
    * training pairs from ADJACENT context windows of the same document,
    * built on q117's exact chunker (len 40, stride 30, so each pair shares
    * a 10-token overlap — the hard-positive signal). Map-only: chunk array
    * per doc, posexplode of the first k−1 chunks as anchors, positive
    * looked up at index+2 in the same array — no join, no shuffle beyond
    * the final sort. The oracle rebuilds both slices arithmetically in
    * DuckDB, so the hash proves the chunk CONTENT, not just counts
    * (q117 proved the counts).
    */
  def q136ChunkPairs: Q = (s, d) => {
    val chunkLen = 40
    val stride = 30
    val n = size(toks)
    val nChunks = when(n <= chunkLen, lit(1L)).otherwise(
      lit(1L) + ((n - chunkLen + stride - 1).cast("double") / stride).cast("long"))
    val chunks = transform(sequence(lit(0L), nChunks - 1L),
      i => slice(toks, (i * stride + 1L).cast("int"), lit(chunkLen)))
    Tables(s, d, "documents")
      .select(col("doc_id"), chunks.as("chunks"))
      .filter(size(col("chunks")) >= 2)
      .select(col("doc_id"), col("chunks"),
        posexplode(slice(col("chunks"), lit(1), size(col("chunks")) - 1)))
      .toDF("doc_id", "chunks", "pair_idx", "anchor_arr")
      .select(col("doc_id"), big(col("pair_idx")).as("pair_idx"),
        array_join(col("anchor_arr"), " ").as("anchor"),
        array_join(element_at(col("chunks"), (col("pair_idx") + 2).cast("int")), " ")
          .as("positive"))
      .orderBy(col("doc_id"), col("pair_idx"))
  }

  /** Q138: vocabulary coverage curve — for each candidate vocab size k, the
    * fraction of corpus token OCCURRENCES covered by the k most frequent
    * tokens: the measurement behind choosing a tokenizer vocab size (the
    * knee of this curve). Scale design is the point: never rank the vocab
    * relation directly. Token→count is a keyed aggregate; counts collapse
    * to the count-of-counts summary (distinct frequency VALUES — O(√mass)
    * rows); the global cumulative sum runs over THAT bounded summary
    * (q109's window-over-boundary-summary pattern), and per-k coverage is
    * exact integer arithmetic over tie groups: a threshold k inside a tie
    * group takes (k − prev_cum) tokens × count, so coverage is independent
    * of which equal-frequency tokens are "chosen".
    */
  def q138VocabCoverage: Q = (s, d) => {
    import s.implicits._
    val tc = Tables(s, d, "documents")
      .select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
    val cc = tc.groupBy(col("c")).agg(count(lit(1)).as("n_toks"))
    // distinct c values → no window ties; bounded summary → global window OK
    val cum = cc.withColumn("cum_toks",
      sum(col("n_toks")).over(Window.orderBy(col("c").desc)))
    val total = tc.agg(sum(col("c")).as("total_mass"), count(lit(1)).as("vocab_size"))
    Seq(1L, 5L, 10L, 25L, 50L, 100L).toDF("k")
      .crossJoin(broadcast(cum))
      .withColumn("take", greatest(lit(0L),
        least(col("n_toks"), col("k") - (col("cum_toks") - col("n_toks")))))
      .groupBy(col("k"))
      .agg(sum(col("c") * col("take")).as("covered_mass"))
      .crossJoin(broadcast(total))
      .select(big(col("k")).as("k"),
        big(col("covered_mass")).as("covered_mass"),
        big(col("vocab_size")).as("vocab_size"),
        round(col("covered_mass").cast("double")
          / col("total_mass").cast("double"), 4).as("coverage"))
      .orderBy(col("k"))
  }

  /** Q139: duplicate-cluster capping — the SOFT dedup between "keep all"
    * and q107's "keep best 1": at most 3 documents survive per
    * vocabulary-set cluster (q134's fingerprint), chosen by a portable
    * MINSTD hash of doc_id (TrainingOps.portableBucket's arithmetic, so the
    * oracle replicates the selection exactly) — the standard curation move
    * when templated near-dups carry SOME signal but shouldn't dominate.
    * Both windows partition by fingerprint: work per cluster, never per
    * corpus.
    */
  def q139ClusterCap: Q = (s, d) => {
    val p = 2147483647L
    val h1 = pmod(pmod(col("doc_id"), lit(p)) * 48271L, lit(p))
    val h2 = pmod((h1 + 1L) * 16807L, lit(p))
    val fp = array_join(array_sort(array_distinct(toks)), " ")
    Tables(s, d, "documents")
      .select(col("doc_id"), col("source"), fp.as("fp"), h2.as("h"))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .withColumn("keep_rank", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("h"), col("doc_id"))))
      .filter(col("keep_rank") <= 3)
      .select(col("doc_id"), col("source"),
        big(col("cluster_size")).as("cluster_size"),
        big(col("keep_rank")).as("keep_rank"))
      .orderBy(col("doc_id"))
  }

  /** Q141: leakage-safe group-wise train/test split — q53 splits by doc_id,
    * which lets near-duplicates straddle train and test (the classic eval
    * contamination); q141 splits by DUP CLUSTER instead: every doc carries
    * its vocabulary-set cluster's key (min doc_id over the fingerprint
    * partition — an integer, so TrainingOps' portable MINSTD hash applies
    * verbatim), the 20% test cut hashes THAT key, and whole clusters land
    * on one side by construction. Output is the per-(split, source)
    * manifest with doc and cluster counts — all-integer. Scale: one
    * fingerprint-partitioned window + one keyed rollup; the split is a
    * pure map function of the cluster key at any parallelism.
    */
  def q141GroupSplit: Q = (s, d) => {
    val fp = array_join(array_sort(array_distinct(toks)), " ")
    Tables(s, d, "documents")
      .select(col("doc_id"), col("source"), fp.as("fp"))
      .withColumn("ck", min(col("doc_id")).over(Window.partitionBy(col("fp"))))
      .withColumn("split",
        when(TrainingOps.portableBucket(col("ck")) < 2000, "test").otherwise("train"))
      .groupBy(col("split"), col("source"))
      .agg(big(count(lit(1))).as("n_docs"),
        big(countDistinct(col("ck"))).as("n_clusters"))
      .orderBy(col("split"), col("source"))
  }

  /** Q142: BM25 retrieval ranking — the classic lexical scorer (k1 = 1.2,
    * b = 0.75, Lucene's idf = ln(1 + (N − df + ½)/(df + ½))) for a fixed
    * 3-term query, top 20 documents. Scale/determinism design:
    *   - the tf relation is filtered to the probe terms BEFORE aggregation,
    *     so the scored relation is |matching docs| × ≤3, never the corpus
    *     posting list;
    *   - df (3 rows) and the (N, avgdl) totals (1 row) broadcast;
    *   - the per-term score SUM is the double-summation-order trap: instead
    *     of sum(score) over an unordered group, each term's contribution
    *     becomes its own conditional-aggregate column and the final score
    *     adds the three columns in FIXED left-to-right order — bit-identical
    *     in both engines at any parallelism;
    *   - top-20 is TakeOrdered (score desc, doc_id), never a global sort.
    */
  def q142Bm25: Q = (s, d) =>
    bm25Scored(s, d).orderBy(col("score").desc, col("doc_id")).limit(20)

  /** Q142/Q144 kernel: (doc_id, score) BM25 relation for the fixed 3-term
    * probe query, score rounded to 4 decimals. See [[q142Bm25]] for the
    * scale/determinism notes.
    */
  private def bm25Scored(s: SparkSession, d: String): DataFrame = {
    val terms = Seq("spark", "window", "merge")
    val k1 = 1.2
    val b = 0.75
    val docs = Tables(s, d, "documents")
    val lens = docs.select(col("doc_id"), size(toks).cast("long").as("dl"))
    val tf = docs.select(col("doc_id"), explode(toks).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val totals = lens.agg(count(lit(1)).as("n"), sum(col("dl")).as("total_dl"))
    val scored = tf.join(broadcast(df), Seq("token"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(totals))
      .withColumn("avgdl", col("total_dl").cast("double") / col("n").cast("double"))
      .withColumn("idf", log(lit(1.0)
        + (col("n").cast("double") - col("df").cast("double") + lit(0.5))
          / (col("df").cast("double") + lit(0.5))))
      // literals written as the same decimal text the oracle parses: a
      // Scala-side k1+1 could land one ulp off DuckDB's literal 2.2
      .withColumn("contrib", col("idf") * (col("tf").cast("double") * lit(2.2))
        / (col("tf").cast("double")
          + lit(k1) * (lit(0.25) + lit(b) * col("dl").cast("double") / col("avgdl"))))
    // one conditional-aggregate column per term: ≤1 non-zero value each, so
    // the "sum" never actually adds floats across rows
    val cols = terms.map(t =>
      sum(when(col("token") === t, col("contrib")).otherwise(lit(0.0))).as(s"c_$t"))
    scored.groupBy(col("doc_id"))
      .agg(cols.head, cols.tail: _*)
      .select(col("doc_id"),
        round(terms.map(t => col(s"c_$t")).reduceLeft(_ + _), 4).as("score"))
  }

  /** Q144: hybrid-retrieval fusion — reciprocal rank fusion (k = 60) of two
    * lexical rankers' top-100 lists: BM25 ([[bm25Scored]], frequency-aware)
    * and query-token-set Jaccard (set-based, frequency-blind). The fusion is
    * the operator: in a production retrieval pipeline the fused lists come
    * from BM25 + a dense ANN ranker, and RRF is how they combine without
    * score calibration. Scale/determinism design:
    *   - each ranker's candidate list is cut to top-100 by TakeOrdered
    *     (score desc, doc_id) BEFORE ranking — the un-partitioned
    *     `row_number` window then runs over a bounded ≤100-row relation
    *     (PlanAuditSpec allow-list), never the corpus;
    *   - Jaccard = inter/union where inter counts probe terms present
    *     (three 0/1 ints) and union = |distinct tokens| + 3 − inter: all
    *     integer until ONE division;
    *   - the RRF score adds exactly two doubles in fixed order
    *     (1/(60+r_bm25) + 1/(60+r_jac), absent rank → 0) — bit-identical
    *     in both engines; ranks themselves are integers over already-
    *     deterministic (rounded score, doc_id) orderings.
    */
  def q144RrfFusion: Q = (s, d) => {
    val terms = Seq("spark", "window", "merge")
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    val topBm = bm25Scored(s, d)
      .orderBy(col("score").desc, col("doc_id")).limit(100)
      .select(col("doc_id"), big(row_number().over(w)).as("rank_bm25"))
    val docs = Tables(s, d, "documents")
    val inter = terms.map(t =>
      when(array_contains(toks, t), 1L).otherwise(0L)).reduceLeft(_ + _)
    val jac = docs
      .select(col("doc_id"), inter.as("inter"),
        big(size(array_distinct(toks))).as("n_distinct"))
      .select(col("doc_id"), (col("inter").cast("double")
        / (col("n_distinct") + lit(3L) - col("inter")).cast("double")).as("score"))
    val topJac = jac.orderBy(col("score").desc, col("doc_id")).limit(100)
      .select(col("doc_id"), big(row_number().over(w)).as("rank_jac"))
    topBm.join(topJac, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_bm25"), col("rank_jac"),
        round(
          coalesce(lit(1.0) / (lit(60.0) + col("rank_bm25").cast("double")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60.0) + col("rank_jac").cast("double")), lit(0.0)),
          6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(20)
  }

  /** Q143: denylist scrubbing — blocklist-based token redaction (the
    * mechanics of PII / banned-term scrubbing, with a fixed 3-token
    * denylist standing in for the pattern bank): per document, the token
    * count, the number of redacted hits, and the scrubbed text with each
    * hit replaced by `[REDACTED]`. Pure projection — tokenize, count
    * membership, regexp-replace with word boundaries — no shuffle but the
    * presentation sort; runs at any corpus size.
    */
  def q143DenylistScrub: Q = (s, d) => {
    val deny = Seq("customer", "vector", "secret")
    val pattern = "\\b(" + deny.mkString("|") + ")\\b"
    Tables(s, d, "documents")
      .select(col("doc_id"),
        big(size(toks)).as("n_tokens"),
        big(size(filter(toks, t => t.isin(deny: _*)))).as("n_hits"),
        regexp_replace(col("text"), pattern, "[REDACTED]").as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** Q146: heavy hitters — the two-pass sketch-then-verify pattern for
    * frequent-item mining at corpus scale: pass 1 runs Spark's bounded
    * counting sketch (`stat.freqItems`, Karp/Shenker/Papadimitriou — ≤ 1/s
    * candidates, guaranteed SUPERSET of every token with share > s = 2%);
    * pass 2 broadcast-semi-joins the token stream to the candidate set and
    * takes exact counts for candidates only. The sketch's false positives
    * are removed by the exact integer share gate (50·cnt > N), so the final
    * answer EQUALS the true heavy-hitter set — deterministic and
    * oracle-checkable even though the sketch itself is partition-order
    * dependent. No full token-frequency shuffle ever happens: the grouped
    * relation is candidates-only (≤ 50 keys), and the total-count row
    * broadcasts.
    */
  def q146HeavyHitters: Q = (s, d) => {
    val tokens = Tables(s, d, "documents").select(explode(toks).as("token"))
    val cand = tokens.stat.freqItems(Seq("token"), 0.02)
      .select(explode(col("token_freqItems")).as("token"))
    val totals = tokens.agg(count(lit(1)).as("n_total"))
    tokens.join(broadcast(cand), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(totals))
      .filter(col("cnt") * lit(50L) > col("n_total"))
      .select(col("token"), col("cnt"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** Q148: bigram-LM quality scoring — the perplexity-proxy filter every
    * curation pipeline runs (CCNet/Gopher-style: score text under a cheap
    * corpus LM, drop the tails): train an add-one-smoothed bigram model ON
    * the corpus itself and report each doc's mean log2 conditional
    * probability, P(w2|w1) = (c(w1 w2)+1)/(c(w1)+V). Shape: one map-side
    * zip of consecutive tokens (no position self-join), doc-keyed and
    * corpus-keyed counts off the same instance relation, two keyed joins
    * ((w1,w2) then w1), the vocab size V as a 1-row broadcast, one keyed
    * final aggregate — every shuffle is on bigram/doc keys, so the model
    * "training" is just the aggregation a 100 TB corpus already pays for
    * its frequency tables. Per-term values (c are small integers, V a
    * constant) are identical in both engines before the single rounded
    * division (q118's discipline). Docs with < 2 tokens have no bigrams
    * and drop out by construction.
    */
  def q148BigramLm: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), toks.as("tk"))
    val bi = docs.filter(size(col("tk")) >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (x, y) => struct(x.as("w1"), y.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .transform(graft.Checkpoints.materialize(_))
    val docBi = bi.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val cb = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cu = bi.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val v = docs.select(explode(col("tk")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    docBi.join(cb, Seq("w1", "w2")).join(cu, Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(big(sum(col("m"))).as("n_bigrams"),
        round(sum(col("m").cast("double")
            * log(2.0, (col("cb") + lit(1L)).cast("double")
              / (col("cu") + col("v")).cast("double")))
          / sum(col("m")).cast("double"), 4).as("avg_logp2"))
      .orderBy(col("doc_id"))
  }

  /** Q209: cross-source vocabulary overlap matrix — pairwise Jaccard and
    * overlap coefficients between the distinct token sets of every source
    * pair: the corpus-level similarity report behind mixture design and
    * contamination triage (q129 compares document SNAPSHOTS; this
    * compares corpus VOCABULARIES). Per-source vocab relations join on
    * token, so fan-out per token is bounded by (#sources carrying it)² —
    * sources are few by construction; all ratios integer-over-integer.
    */
  def q209SourceOverlap: Q = (s, d) => {
    val vocab = Tables(s, d, "documents")
      .select(col("source"), explode(toks).as("tok")).distinct()
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("vs"))
    val inter = vocab.select(col("source").as("sa"), col("tok"))
      .join(vocab.select(col("source").as("sb"), col("tok")), Seq("tok"))
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("sa"), col("vs").as("va"))), Seq("sa"))
      .join(broadcast(sizes.select(col("source").as("sb"), col("vs").as("vb"))), Seq("sb"))
      .select(col("sa"), col("sb"), col("inter"), col("va"), col("vb"),
        round(col("inter").cast("double")
          / (col("va") + col("vb") - col("inter")).cast("double"), 6).as("jaccard"),
        round(col("inter").cast("double")
          / least(col("va"), col("vb")).cast("double"), 6).as("overlap_coef"))
      .orderBy(col("sa"), col("sb"))
  }

  /** Q211: phrase search through a POSITIONAL inverted index — the
    * retrieval shape BM25 (q142) can't express: exact multi-word phrase
    * occurrence, answered by joining per-term posting lists on adjacent
    * positions instead of scanning text. The probe phrase is the corpus's
    * most frequent word trigram (computed first, so the query is fully
    * deterministic and self-contained), then each of its three words pulls
    * its postings (doc_id, pos), aligned by shifting the 2nd/3rd lists'
    * positions back and equi-joining on (doc_id, pos) — the standard
    * positional-index intersection.
    *
    * Scale shape: postings are built once per doc partition (posexplode
    * behind one doc_id exchange, the q80 layout); the trigram count is a
    * per-doc lag window + one aggregate; the probe joins touch only the
    * three terms' postings (each term's list is ~1/|vocab| of the corpus —
    * at 100 TB with a real vocab that's the entire point of the index),
    * and the phrase row is a 1-row broadcast. Top-20 matching docs.
    */
  def q211PhraseSearch: Q = (s, d) => {
    // the positional index is a STANDING relation: built once per
    // (session, corpus) via the semantics-keyed cache — the q119/PQ
    // discipline — and consumed four times here (trigram election + three
    // posting probes); an uncached subplan would re-run the corpus explode
    // per consumer and per run
    val postings = positionalPostings(s, d)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val ph = postings
      .withColumn("w1", lag(col("token"), 2).over(wd))
      .withColumn("w2", lag(col("token"), 1).over(wd))
      .filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2"), col("token").as("w3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w1"), col("w2"), col("w3"))
      .limit(1)
      .select(col("w1"), col("w2"), col("w3"))
    val p0 = postings.join(broadcast(ph), col("token") === col("w1"))
      .select(col("doc_id"), col("pos"))
    val p1 = postings.join(broadcast(ph), col("token") === col("w2"))
      .select(col("doc_id"), (col("pos") - 1).as("pos"))
    val p2 = postings.join(broadcast(ph), col("token") === col("w3"))
      .select(col("doc_id"), (col("pos") - 2).as("pos"))
    p0.join(p1, Seq("doc_id", "pos")).join(p2, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"))
      .agg(big(count(lit(1))).as("n_occurrences"))
      .crossJoin(broadcast(ph.select(
        concat_ws(" ", col("w1"), col("w2"), col("w3")).as("phrase"))))
      .select(col("phrase"), col("doc_id"), col("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("doc_id"))
      .limit(20)
  }

  /** Q214 (north-star, engine-only): tokenizer APPLICATION — q166 trains the
    * BPE merges; this runs them over the corpus through the codegen'd
    * [[graft.functions.BpeEncode]] expression and reports the metrics a
    * tokenizer owner watches per source: fertility (BPE tokens per word)
    * and compression (chars per BPE token).
    *
    * Scale shape: training stays q166's (corpus-proportional word count,
    * bounded top-V dict on the driver); application encodes each DISTINCT
    * (source, word) once — the per-(source,word) count aggregate comes
    * first, so the encoder runs over the vocab relation, not every token
    * occurrence — and the merge rules ride the plan as one foldable array
    * literal, parsed once per executor, looped in generated Java. All
    * aggregates are exact integer sums; the two ratios are single double
    * divisions. Engine-only: sequential merge application has no SQL twin
    * (q166's argument); the spec replays encoding in Scala at sf0.001 and
    * pins crafted-merge cases + the round-trip property.
    */
  def q214BpeFertility: Q = (s, d) => {
    import s.implicits._
    val words = Tables(s, d, "documents")
      .select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(1000)
      .as[(String, Long)].collect() // bounded: <= V rows by construction
    val dict = words.map { case (w, n) => (w.map(_.toString).toArray, n) }
    val rules = bpeMergeLoop(dict, 30).map { case (_, l, r, _, _) => s"$l $r" }
    graft.functions.VectorFunctions.register(s)
    Tables(s, d, "documents")
      .select(col("source"), explode(toks).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("n"))
      .withColumn("tok", size(graft.functions.VectorFunctions.bpe(
        col("w"), typedLit(rules))).cast("long"))
      .withColumn("chars", length(col("w")).cast("long"))
      .groupBy(col("source"))
      .agg(big(sum(col("n"))).as("n_words"),
        big(count(lit(1))).as("n_distinct_words"),
        big(sum(col("n") * col("tok"))).as("n_tokens"),
        round(sum(col("n") * col("tok")).cast("double")
          / sum(col("n")), 6).as("fertility"),
        round(sum(col("n") * col("chars")).cast("double")
          / sum(col("n") * col("tok")), 6).as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** Q228: held-out perplexity — the evaluation step q148's bigram LM
    * exists for: train add-1-smoothed bigram statistics on the EVEN
    * doc_ids, score the ODD docs' bigrams, report per source the held-out
    * cross-entropy (bits/bigram) and perplexity 2^H. Unseen contexts fall
    * back to 1/V exactly as add-1 smoothing dictates (left joins +
    * coalesce-0, not dropped rows — dropping unseen mass is the classic
    * perplexity bug this oracle would catch).
    *
    * Scale shape: two corpus passes (train counts, eval counts), the join
    * carries eval bigrams against train statistics keyed by bigram/unigram,
    * V is a 1-row broadcast. Determinism: per-bigram log2 terms rounded
    * to 6 dp and weighted into exact decimal sums (NOT the raw
    * double-sum-over-groups shortcut), one closing division and one
    * `pow(2, ·)` in identical IEEE shapes.
    */
  def q228PerplexityEval: Q = (s, d) => {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val docs = Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("source"), toks.as("tk"))
      .filter(size(col("tk")) >= 2)
    def bigrams(df: DataFrame) = df.select(col("source"),
      explode(zip_with(
        slice(col("tk"), lit(1), size(col("tk")) - 1),
        slice(col("tk"), lit(2), size(col("tk")) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("b"))
      .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // split on the portable MINSTD bucket, NOT doc_id parity — the fixture
    // assigns sources round-robin by id, so a parity split would put every
    // source entirely in one side and the eval would score only unseen
    // contexts (caught at landing: 10 of 20 sources in the output)
    val bucket = pmod(TrainingOps.portableBucket(col("doc_id")), lit(2L))
    val train = docs.filter(bucket === 0)
    val heldOut = docs.filter(bucket === 1)
    val tb = graft.Checkpoints.materialize(bigrams(train))
    val cb = tb.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val cu = tb.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val v = train.select(explode(col("tk")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val eb = bigrams(heldOut).groupBy(col("source"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("m"))
    val h = (sum(col("m") * col("lp"))
      .cast(org.apache.spark.sql.types.DecimalType(38, 6)).cast("double")
      * lit(-1.0)) / sum(col("m")).cast("double")
    eb.join(cb, Seq("w1", "w2"), "left").join(cu, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .withColumn("lp", round(log(2.0,
        (coalesce(col("cb"), lit(0L)) + 1L).cast("double")
          / (coalesce(col("cu"), lit(0L)) + col("v")).cast("double")), 6)
        .cast(dec6))
      .groupBy(col("source"))
      .agg(big(sum(col("m"))).as("n_bigrams"),
        round(h, 6).as("bits_per_bigram"),
        round(pow(lit(2.0), h), 4).as("perplexity"))
      .orderBy(col("source"))
  }

  /** Q231: feature hashing (the hashing trick) — each document's token
    * counts folded into a FIXED 64-dim signed feature vector: dimension
    * `h(token) mod 64`, sign from the next hash bit, value Σ ±count. The
    * featurizer that makes unbounded vocabularies trainable at fixed
    * width; reported per doc as the summary a feature-QA pass checks
    * (nnz, l1 mass, dominant dimension) rather than the raw vector.
    * All integer arithmetic over the q43 portable md5-prefix hash; ties
    * on the dominant dimension break low.
    *
    * Scale shape: one (doc, token) count aggregate, one (doc, dim)
    * aggregate, one per-doc rollup — three map-side-combined shuffles on
    * the doc key, no windows, no broadcasts.
    */
  def q231HashFeatures: Q = (s, d) => {
    val h = conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
    val tc = Tables(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), explode(toks).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      .withColumn("h64", h)
      .withColumn("dim", pmod(col("h64"), lit(64L)))
      .withColumn("sgn", when(pmod(expr("h64 div 64"), lit(2L)) === 0L, 1L).otherwise(-1L))
    tc.groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("c") * col("sgn")).as("v"))
      .filter(col("v") =!= 0L)
      .groupBy(col("doc_id"))
      .agg(big(count(lit(1))).as("nnz"),
        big(sum(abs(col("v")))).as("l1"),
        min_by(col("dim"), struct((-abs(col("v"))).as("na"), col("dim"))).as("top_dim"),
        max(abs(col("v"))).as("top_abs"))
      .orderBy(col("doc_id"))
  }

  /** Q240: asymmetric containment dedup — the "quote inclusion" case
    * symmetric Jaccard (q56) under-scores: doc A wholly contained in a
    * larger B has high C(A,B) = |A∩B|/|A| but mediocre J(A,B). Ordered
    * pairs with 5-gram shingle containment ≥ 0.5, candidates generated
    * through shared shingles GUARDED to document frequency ≤ 64 (the
    * q169/q221 index discipline — a stop-shingle's fan-out is quadratic
    * and its evidence nil). Integer set arithmetic; one double ratio.
    */
  def q240ContainmentDedup: Q = (s, d) => {
    val len5 = greatest(lit(0), size(col("tk")) - 4)
    val gramArr = (0 until 5).map(i => slice(col("tk"), lit(i + 1), len5))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    val sh = graft.Checkpoints.materialize(
      Tables(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), explode(gramArr).as("g")).distinct())
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val rare = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64).select(col("g"))
    val guarded = sh.join(rare, Seq("g"))
    val shared = guarded.select(col("g"), col("doc_id").as("a"))
      .join(guarded.select(col("g"), col("doc_id").as("b")), Seq("g"))
      .filter(col("a") =!= col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    shared.join(broadcast(sizes.select(col("doc_id").as("a"), col("sz").as("size_a"))), Seq("a"))
      .withColumn("containment",
        round(col("inter").cast("double") / col("size_a").cast("double"), 6))
      .filter(col("containment") >= 0.5)
      .select(col("a"), col("b"), col("inter"), big(col("size_a")).as("size_a"),
        col("containment"))
      .orderBy(col("a"), col("b"))
  }

  /** Q258: blocked fuzzy join — entity-resolution-style near-match of
    * 40-char document heads (q63's fixture, generalized from adjacent-id
    * pairs to a real candidate join) under a BLOCKING key (first two raw
    * tokens), the standard trick that turns an O(n²) string-similarity
    * join into a block-keyed equi-join whose fan-out is bounded by block
    * size (token-vocabulary² blocks); candidates ranked by Levenshtein
    * distance (integer DP — bit-identical across engines), global top-20
    * under the (dist, k1, k2) total order, with a normalized similarity
    * alongside. The distance is computed ONCE and the similarity derived
    * from the carried column — a second levenshtein call would double the
    * hot-path cost.
    *
    * Scale shape: one shuffle on the blocking key, per-block bounded pair
    * fan-out, TakeOrdered(20) — no cartesian product ever reaches the
    * plan; at 100 TB the block histogram (q205's skew report) is the knob
    * that keeps fan-out flat, and a too-common token pair shows up there
    * before it shows up as a straggler.
    */
  /** 40-char heads with the (first-token, second-token) blocking key from
    * any (k, text) relation — the q258/q262/q517 candidate-generation shape.
    */
  private def headCols(df: DataFrame): DataFrame =
    df.select(col("k"), substring(col("text"), 1, 40).as("nm"),
      coalesce(element_at(split(col("text"), " "), 1), lit("")).as("w0"),
      coalesce(element_at(split(col("text"), " "), 2), lit("")).as("w1"))

  /** 40-char document heads with the (first-token, second-token) blocking
    * key — the q258/q262 candidate-generation relation.
    */
  private def docHeads(s: SparkSession, d: String): DataFrame =
    headCols(Tables(s, d, "documents")
      .select(col("doc_id").as("k"), col("text")))

  def q258FuzzyBlockedJoin: Q = (s, d) => {
    val names = docHeads(s, d)
    val a = names.select(col("k").as("k1"), col("nm").as("n1"),
      col("w0"), col("w1"))
    val b = names.select(col("k").as("k2"), col("nm").as("n2"),
      col("w0"), col("w1"))
    a.join(b, Seq("w0", "w1")).filter(col("k1") < col("k2"))
      .select(col("k1"), col("k2"),
        big(levenshtein(col("n1"), col("n2"))).as("dist"),
        greatest(length(col("n1")), length(col("n2"))).as("mxl"))
      .select(col("k1"), col("k2"), col("dist"),
        round(lit(1.0) - col("dist").cast("double")
          / col("mxl").cast("double"), 6).as("sim"))
      .orderBy(col("dist"), col("k1"), col("k2"))
      .limit(20)
  }

  /** q517's curated multibyte battery: within-block variant groups across
    * Cyrillic, CJK, kana, umlaut/transliteration, combining-mark, emoji
    * and Cyrillic-ё scripts. Rows in a group share their first two tokens
    * (the q258 blocking key) so they pair under the SAME candidate join;
    * keys are negative so they can never collide with doc_ids. The
    * combining-mark row uses the escaped sequence (source-file safety —
    * invisible combining chars are fragile as raw literals).
    */
  private[graft] def multibyteBattery(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      -1L -> "Иванов Сергей Петрович",
      -2L -> "Иванов Сергей Петрову",
      -3L -> "Иванов Сергей Пвтрович",
      -4L -> "山田 太郎 東京都",
      -5L -> "山田 太郎 京都府",
      -6L -> "Kunde Herr Müller",
      -7L -> "Kunde Herr Mueller",
      -8L -> "Kunde Herr Muller",
      -9L -> "ja greeting こんにちは",
      -10L -> "ja greeting こんばんは",
      -11L -> "menu item cafe\u0301", // decomposed e + combining acute
      -12L -> "menu item café",       // precomposed U+00E9
      -13L -> "menu item cafe",       // ASCII control
      -14L -> "emoji row 😀😁😂",
      -15L -> "emoji row 😀😂😁",
      -16L -> "город один Орёл",
      -17L -> "город один Орел")
      .toDF("k", "text")
  }

  /** Q517: multibyte fuzzy blocked join — [[q258FuzzyBlockedJoin]]'s
    * candidate-join kernel extended past ASCII: document heads union the
    * curated [[multibyteBattery]], blocked on the first two tokens, and
    * the MULTIBYTE-SUSPECT candidate pairs (either side has byte length ≠
    * char length — the rows where engine edit-distance semantics can
    * diverge) are scored by the codegen'd
    * [[graft.functions.ByteLevenshtein]] expression. The oracle twin is
    * DuckDB's own `levenshtein` (UTF-8 byte walk), so the multibyte
    * semantic is CROSS-ENGINE pinned every round — the oracle extension
    * the round-13 q510 conformance work called for: Spark's built-in
    * `levenshtein` counts codepoints and CANNOT take this oracle
    * (divergence pinned in UtilitiesSpec). Similarity is byte-normalized
    * (1 − dist/max byte length) to stay on the same scale as the
    * distance. The ASCII documents corpus (its purity is itself pinned in
    * UtilitiesSpec) flows through the same blocked join but contributes
    * no multibyte-suspect pairs, so the audit rows are exactly the
    * battery's — deterministic at any sf.
    *
    * Scale shape: identical to q258 — one shuffle on the blocking key,
    * bounded per-block fan-out, byte-length filter BEFORE the scorer so
    * only suspect pairs pay the DP, TakeOrdered(20).
    */
  def q517MultibyteFuzzyJoin: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s)
    val names = docHeads(s, d).unionByName(headCols(multibyteBattery(s)))
    val a = names.select(col("k").as("k1"), col("nm").as("n1"),
      col("w0"), col("w1"))
    val b = names.select(col("k").as("k2"), col("nm").as("n2"),
      col("w0"), col("w1"))
    a.join(b, Seq("w0", "w1")).filter(col("k1") < col("k2"))
      .filter(octet_length(col("n1")) =!= length(col("n1")) ||
        octet_length(col("n2")) =!= length(col("n2")))
      .select(col("k1"), col("k2"),
        big(graft.functions.VectorFunctions
          .byteLevenshtein(col("n1"), col("n2"))).as("dist"),
        greatest(octet_length(col("n1")), octet_length(col("n2"))).as("mxl"))
      .select(col("k1"), col("k2"), col("dist"),
        round(lit(1.0) - col("dist").cast("double")
          / col("mxl").cast("double"), 6).as("sim"))
      .orderBy(col("dist"), col("k1"), col("k2"))
      .limit(20)
  }

  /** Q259: TextRank keyword extraction — q81's integer fixed-point PageRank
    * run over the word CO-OCCURRENCE graph instead of the co-purchase
    * graph: undirected edges between adjacent tokens (q95's bigram kernel)
    * that co-occur ≥ 2 times, 3 damped iterations in pure long arithmetic
    * (init 10⁶ micro-units, `150000 + (85·Σ r div d) div 100`), top-25
    * tokens by stationary weight — the classic unsupervised keyword scorer.
    *
    * Scale shape: edge build = one token-adjacency pass + one count
    * aggregate; each iteration one edges⋈rank join + dst-keyed aggregate
    * (edge-proportional shuffle); the edge relation is materialized once
    * for the degree pass and all three iterations (q81's discipline).
    */
  def q259TextrankKeywords: Q = (s, d) => {
    val bg = Tables(s, d, "documents")
      .select(explode(when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("l"), b.as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))).as("bg"))
      .select(col("bg.l").as("l"), col("bg.r").as("r"))
      .filter(col("l") =!= col("r"))
    val edges = graft.Checkpoints.materialize(
      bg.select(col("l").as("src"), col("r").as("dst"))
        .union(bg.select(col("r"), col("l")))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
        .select(col("src"), col("dst")))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    val contrib = graft.Checkpoints.materialize(edges.join(deg, Seq("src")))
    var rank = deg.select(col("src").as("node"), lit(1000000L).as("r"))
    for (_ <- 1 to 3) {
      rank = contrib.join(rank, contrib("src") === rank("node"))
        .groupBy(col("dst"))
        .agg((lit(150000L) + expr("(85 * sum(r div d)) div 100")).as("r"))
        .select(col("dst").as("node"), col("r"))
    }
    rank.select(col("node").as("token"), big(col("r")).as("r"))
      .orderBy(col("r").desc, col("token"))
      .limit(25)
  }

  /** Q309: templated-text detection via lexical diversity — the curation
    * heuristic that catches boilerplate/generated documents: per doc, the
    * type-token ratio (distinct tokens / total tokens), flagged TEMPLATE-
    * LIKE when it falls below the ADAPTIVE corpus-mean threshold (a 1-row
    * broadcast — fixed thresholds go stale per corpus; the mean split is
    * deterministic and self-calibrating), rolled up per source. Per-doc
    * ratios are 6-dp-rounded decimals BEFORE the source average — the
    * declared order-independent float discipline.
    *
    * Scale shape: one map pass per doc (tokenize + distinct count), a
    * 1-row mean broadcast, one source-keyed aggregate.
    */
  def q309LexicalDiversity: Q = (s, d) => {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val perDoc = Tables(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(array_distinct(toks)).cast("long").as("dt"),
        size(toks).cast("long").as("nt"))
      .filter(col("nt") > 0)
      .select(col("doc_id"), col("source"),
        round(col("dt").cast("double") / col("nt").cast("double"), 6)
          .cast(dec6).as("r"))
    val thr = perDoc.agg(
      (sum(col("r")).cast(org.apache.spark.sql.types.DecimalType(38, 6))
        .cast("double") / count(lit(1)).cast("double")).as("mean_r"))
    perDoc.crossJoin(broadcast(thr))
      .groupBy(col("source"))
      .agg(big(count(lit(1))).as("n_docs"),
        big(sum(when(col("r").cast("double") < col("mean_r"), 1L)
          .otherwise(0L))).as("n_templated"),
        round(sum(col("r")).cast(org.apache.spark.sql.types.DecimalType(38, 6))
          .cast("double") / count(lit(1)).cast("double"), 6).as("avg_ttr"),
        round(max(col("mean_r")), 6).as("corpus_mean_ttr"))
      .orderBy(col("source"))
  }

  /** Q261: greedy max-coverage selection — pick 8 documents that together
    * cover the most distinct RARE 5-grams (q240's shingle kernel, df ≤ 64),
    * the classic (1−1/e) submodular-greedy a curation pipeline uses to
    * assemble a maximally-diverse seed set. Each step selects the document
    * with the largest count of still-uncovered grams (ties by doc_id),
    * then removes every occurrence of its grams from the candidate
    * relation; the output carries per-step marginal gain and the running
    * covered total — the diminishing-returns trace.
    *
    * Scale shape: the gram relation is built and materialized once; each
    * step is one doc-keyed count aggregate + TakeOrdered(1) + one anti-join
    * on the selected grams, with the relation SHRINKING monotonically —
    * edge-proportional shuffles, no cross products. The 1-row per-step
    * reads are bounded driver state (the q255 greedy discipline).
    */
  def q261GreedyMaxcover: Q = (s, d) => {
    val len5 = greatest(lit(0), size(col("tk")) - 4)
    val gramArr = (0 until 5).map(i => slice(col("tk"), lit(i + 1), len5))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    val sh = graft.Checkpoints.materialize(
      Tables(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("doc_id"), toks.as("tk"))
        .select(col("doc_id"), explode(gramArr).as("g")).distinct())
    val rare = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 64).select(col("g"))
    var gg = graft.Checkpoints.materialize(sh.join(rare, Seq("g")))
    var total = 0L
    var out = Seq.empty[DataFrame]
    // empty-step schema template: the greedy loop degrades gracefully to
    // fewer rows when the rare-gram relation is exhausted before 8 steps
    // (a corpus with < 8 docs holding rare 5-grams), matching the unrolled
    // oracle instead of throwing on head() of an empty relation
    def stepFrame(sel: DataFrame, t: Long, tot: Long): DataFrame =
      sel.select(lit(t).as("step"), col("doc_id"),
        big(col("gain")).as("gain"), lit(tot).as("covered_total"))
    var t = 1
    var exhausted = false
    var template = Option.empty[DataFrame]
    while (t <= 8 && !exhausted) {
      val sel = graft.Checkpoints.materialize(
        gg.groupBy(col("doc_id")).agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("doc_id")).limit(1))
      if (template.isEmpty) template = Some(stepFrame(sel, 0L, 0L).limit(0))
      sel.collect().headOption match {
        case None => exhausted = true
        case Some(row) =>
          total += row.getLong(1)
          out = out :+ stepFrame(sel, t.toLong, total)
          if (t < 8) {
            val cg = gg.join(sel.select(col("doc_id")), Seq("doc_id"))
              .select(col("g"))
            gg = graft.Checkpoints.materialize(gg.join(cg, Seq("g"), "left_anti"))
          }
          t += 1
      }
    }
    (template.toSeq ++ out).reduce(_ unionByName _).orderBy(col("step"))
  }

  /** Q262: fuzzy dedup clusters — the end-to-end entity-resolution pipeline
    * q258's candidate join feeds: blocked Levenshtein pairs at distance
    * ≤ 16 become edges, connected components
    * ([[graft.dedup.Components]]' label propagation — min reachable id)
    * merge transitive matches into clusters, and the report is one row per
    * cluster (canonical id = the component label = the smallest member)
    * with its member count. Singletons (no fuzzy pair) are not clusters by
    * construction.
    *
    * Scale shape: q258's block-keyed candidate join (never n²) + the
    * iterated small-label-propagation joins over the ≤|pairs| edge set —
    * each round one edge-keyed shuffle, checkpointed per round.
    */
  def q262FuzzyDedupClusters: Q = (s, d) => {
    val names = docHeads(s, d)
    val a = names.select(col("k").as("k1"), col("nm").as("n1"),
      col("w0"), col("w1"))
    val b = names.select(col("k").as("k2"), col("nm").as("n2"),
      col("w0"), col("w1"))
    val pairs = a.join(b, Seq("w0", "w1")).filter(col("k1") < col("k2"))
      .filter(levenshtein(col("n1"), col("n2")) <= 16)
      .select(col("k1").as("u"), col("k2").as("v"))
    graft.dedup.Components.connectedComponents(pairs, "u", "v")
      .groupBy(col("comp"))
      .agg(big(count(lit(1))).as("n_members"))
      .select(big(col("comp")).as("cluster"), col("n_members"))
      .orderBy(col("n_members").desc, col("cluster"))
  }

  /** Q272: saturation-aware blocked fuzzy join — the production fix for
    * the slope DebugWaveScale measured on q258: blocks are HIERARCHICAL.
    * Pairs form under the (token₁ × token₂) key only where that block
    * holds ≤ 64 members; oversized blocks refine to (token₁ × token₂ ×
    * token₃) before pairing, so per-block fan-out stays capped as the
    * corpus grows and the quadratic term never materializes (at the cost
    * of missing cross-refined-block matches inside saturated keys — the
    * declared recall trade every production blocker makes). Same ranking
    * surface as q258: Levenshtein over 40-char heads, global top-20 under
    * the (dist, k1, k2) total order.
    *
    * Scale shape: one block histogram (the q205-style gate, INSIDE the
    * operator), two block-keyed equi-joins over disjoint member sets,
    * TakeOrdered(20). The round-8 4× volume stress ran this next to q258
    * (BENCH.md) so the slope difference is measured, not asserted.
    */
  def q272FuzzyJoinCapped: Q = (s, d) => {
    val cap = 64L
    val names = Tables(s, d, "documents")
      .select(col("doc_id").as("k"), substring(col("text"), 1, 40).as("nm"),
        coalesce(element_at(split(col("text"), " "), 1), lit("")).as("w0"),
        coalesce(element_at(split(col("text"), " "), 2), lit("")).as("w1"),
        coalesce(element_at(split(col("text"), " "), 3), lit("")).as("w2"))
    val sizes = names.groupBy(col("w0"), col("w1"))
      .agg(count(lit(1)).as("bsz"))
    val tagged = names.join(sizes, Seq("w0", "w1"))
    val small = tagged.filter(col("bsz") <= cap)
    val bigBlocks = tagged.filter(col("bsz") > cap)
    def pairsOf(df: DataFrame, keys: Seq[String]): DataFrame = {
      val a = df.select(
        (Seq(col("k").as("k1"), col("nm").as("n1")) ++ keys.map(col)): _*)
      val b = df.select(
        (Seq(col("k").as("k2"), col("nm").as("n2")) ++ keys.map(col)): _*)
      a.join(b, keys).filter(col("k1") < col("k2"))
        .select(col("k1"), col("k2"),
          big(levenshtein(col("n1"), col("n2"))).as("dist"),
          greatest(length(col("n1")), length(col("n2"))).as("mxl"))
    }
    pairsOf(small, Seq("w0", "w1"))
      .unionByName(pairsOf(bigBlocks, Seq("w0", "w1", "w2")))
      .select(col("k1"), col("k2"), col("dist"),
        round(lit(1.0) - col("dist").cast("double")
          / col("mxl").cast("double"), 6).as("sim"))
      .orderBy(col("dist"), col("k1"), col("k2"))
      .limit(20)
  }

  /** Q339: Zipf slope of the token frequency distribution — OLS fit of
    * ln(freq) against ln(rank) over the top-1000 tokens (natural text
    * sits near −1; templated/synthetic text drifts shallow). The corpus-
    * statistics fingerprint a data-quality dashboard tracks per source
    * snapshot, next to q309's lexical diversity.
    *
    * Determinism: both logs are 6-dp-rounded into dec6 per point (the
    * q221 log discipline), all five OLS moments are EXACT decimal sums —
    * the (38,12) products stay below 2⁵³ scaled, so the double casts are
    * exactly correct in both engines — and slope/intercept/R² are one
    * fixed IEEE tree.
    *
    * Scale shape: one token count (map-side combined), one TakeOrdered
    * top-1000, a rank window over those 1000 rows only, one reduction.
    */
  def q339ZipfSlope: Q = (s, d) => {
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 12)
    val freq = Tables(s, d, "documents").select(explode(toks).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("token")).limit(1000)
    val w = Window.orderBy(col("f").desc, col("token"))
    val pts = freq.withColumn("r", row_number().over(w).cast("long"))
      .select(round(log(col("r").cast("double")), 6).cast(dec6).as("x"),
        round(log(col("f").cast("double")), 6).cast(dec6).as("y"))
    val m = pts.agg(count(lit(1)).as("n"),
      sum(col("x")).cast("double").as("sx"),
      sum(col("y")).cast("double").as("sy"),
      sum(col("x") * col("x")).cast(dec38).cast("double").as("sxx"),
      sum(col("x") * col("y")).cast(dec38).cast("double").as("sxy"),
      sum(col("y") * col("y")).cast(dec38).cast("double").as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy") - col("sx") * col("sy")
    val den = nD * col("sxx") - col("sx") * col("sx")
    val slope = num / den
    m.select(big(col("n")).as("n_tokens"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / nD, 6).as("intercept"),
      round(num * num / (den * (nD * col("syy") - col("sy") * col("sy"))), 6)
        .as("r2"))
  }

  /** Q349: Juilland's D dispersion — for the top-50 tokens, how EVENLY is
    * each spread across the 20 source feeds? D = 1 − CV/√(n−1) over the
    * per-source frequency vector WITH zero-fill (a token absent from 15
    * sources must score low even if frequent in the rest) — the corpus-
    * linguistics complement to raw frequency: high-cf/low-D tokens are
    * source-idiosyncratic boilerplate, exactly what q309's templated-text
    * detector wants corroborated per token.
    *
    * Determinism: zero-fill is FREE in moment space (Σf and Σf² over
    * present cells equal the zero-filled sums), so both moments are exact
    * integers and D is one fixed IEEE tree per token.
    *
    * Scale shape: one (token × source) count, one keyed moment collapse,
    * a 1-row source-count broadcast, TakeOrdered 50.
    */
  def q349Dispersion: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val tf = docs.select(col("source"), explode(toks).as("token"))
      .groupBy(col("token"), col("source")).agg(count(lit(1)).as("f"))
    val mom = tf.groupBy(col("token"))
      .agg(sum(col("f")).cast("long").as("cf"),
        sum(col("f") * col("f")).cast("long").as("sf2"),
        count(lit(1)).as("df"))
    val nsrc = docs.agg(countDistinct(col("source")).as("ns"))
    val nD = col("ns").cast("double")
    val mean = col("cf").cast("double") / nD
    val vr = (col("sf2").cast("double")
      - col("cf").cast("double") * col("cf").cast("double") / nD) / nD
    mom.crossJoin(broadcast(nsrc))
      .select(col("token"), big(col("cf")).as("cf"),
        big(col("df")).as("df_sources"),
        round(lit(1.0) - sqrt(vr) / mean / sqrt(nD - lit(1.0)), 6)
          .as("dispersion"))
      .orderBy(col("cf").desc, col("token"))
      .limit(50)
  }

  /** Q360: per-source self-BLEU-2 — each source feed scored as a BLEU
    * candidate against the REST of the corpus as reference: clipped
    * unigram/bigram precision (counts clipped at the other-sources
    * totals), brevity penalty against the mean other-source token mass,
    * and the geometric BLEU-2 combine. High self-BLEU = the feed repeats
    * what everyone else says (templated/boilerplate); the cross-source
    * triangulation for q309's lexical diversity and q349's dispersion.
    *
    * Determinism: clipped counts are exact integers (reference counts are
    * global − own, one global pass — never 20 rescans); precisions, BP
    * and the exp/ln combine are one fixed IEEE tree per source, rounded
    * at the output.
    *
    * Scale shape: two gram collapses (vocab/bigram-domain bounded), two
    * broadcast joins of per-source against global counts, a 20-row
    * report.
    */
  def q360SelfBleu: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
      .select(col("source"), toks.as("tk"))
    val uni = docs.select(col("source"), explode(col("tk")).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
    val g1 = uni.groupBy(col("g")).agg(sum(col("c")).as("gt"))
    val clip1 = uni.join(g1, Seq("g"))
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("t1"),
        sum(least(col("c"), col("gt") - col("c"))).cast("long").as("cl1"))
    val bi = docs.filter(size(col("tk")) >= 2)
      .select(col("source"),
        explode(zip_with(
          slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (x, y) => concat_ws(" ", x, y))).as("g"))
      .groupBy(col("source"), col("g")).agg(count(lit(1)).as("c"))
    val g2 = bi.groupBy(col("g")).agg(sum(col("c")).as("gt"))
    val clip2 = bi.join(g2, Seq("g"))
      .groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("t2"),
        sum(least(col("c"), col("gt") - col("c"))).cast("long").as("cl2"))
    val totals = clip1.agg(sum(col("t1")).as("tt"),
      count(lit(1)).as("ns"))
    val j = clip1.join(clip2, Seq("source")).crossJoin(broadcast(totals))
    val p1 = col("cl1").cast("double") / col("t1").cast("double")
    val p2 = col("cl2").cast("double") / col("t2").cast("double")
    val rlen = (col("tt") - col("t1")).cast("double") /
      (col("ns").cast("double") - lit(1.0))
    val bp = when(col("t1").cast("double") >= rlen, lit(1.0))
      .otherwise(exp(lit(1.0) - rlen / col("t1").cast("double")))
    j.select(col("source"), big(col("t1")).as("n_unigrams"),
      big(col("t2")).as("n_bigrams"),
      round(p1, 6).as("p1"), round(p2, 6).as("p2"),
      round(bp, 6).as("brevity_penalty"),
      round(when(col("cl1") === 0L || col("cl2") === 0L, lit(0.0))
        .otherwise(bp * exp(lit(0.5) * (log(p1) + log(p2)))), 6)
        .as("self_bleu2"))
      .orderBy(col("source"))
  }

  /** Q385: Heaps'-law vocabulary growth — per source, distinct types seen
    * at power-of-two token checkpoints plus the fitted log-log slope β
    * (vocab ≈ K·Nᵝ; natural text sits at β≈0.4-0.6, template/boilerplate
    * corpora collapse lower) — the vocabulary-richness twin of q339's
    * Zipf slope, and a direct "is this source worth tokenizing" signal
    * for a training-data mix. Stream positions and first-occurrence
    * indexes are exact integer windows PARTITIONED BY SOURCE; the
    * checkpoint join is a ≤16-row broadcast; the fit is q208's rounded
    * log-log OLS over the checkpoint summary.
    */
  def q385HeapsLaw: Q = (s, d) => {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"), col("idx"))
    val stream = Tables(s, d, "documents")
      .select(col("source"), col("doc_id"), posexplode(toks).as(Seq("idx", "tok")))
      .withColumn("rn", row_number().over(w))
    val firstPos = stream.groupBy(col("source"), col("tok"))
      .agg(min(col("rn")).as("fp"))
    val totals = stream.groupBy(col("source"))
      .agg(max(col("rn")).as("n_tokens"))
    val cps = s.range(5L, 21L).toDF("e")
      .select(expr("CAST(1 AS BIGINT) << CAST(e AS INT)").as("cp")) // 32..2^20
    val grid = totals.crossJoin(broadcast(cps))
      .filter(col("cp") <= col("n_tokens"))
    val curve = firstPos.join(grid, Seq("source"))
      .filter(col("fp") <= col("cp"))
      .groupBy(col("source"), col("cp"))
      .agg(count(lit(1)).as("types"))
    val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
    val pts = curve.select(col("source"),
      round(log(col("cp").cast("double")), 6).cast(dec6).as("lx"),
      round(log(col("types").cast("double")), 6).cast(dec6).as("ly"))
    val fit = pts.groupBy(col("source"))
      .agg(count(lit(1)).as("k"),
        sum(col("lx")).cast("double").as("sx"),
        sum(col("ly")).cast("double").as("sy"),
        // FULL scale-12 sums (k <= 16 points, scaled ints < 2^53): a cast
        // down to scale 6 rescales a true midpoint half-up in Spark but
        // half-even in DuckDB (the recorded decimal-midpoint trap — it bit
        // here on src10's sxx)
        sum(col("lx") * col("lx")).cast(org.apache.spark.sql.types.DecimalType(38, 12))
          .cast("double").as("sxx"),
        sum(col("lx") * col("ly")).cast(org.apache.spark.sql.types.DecimalType(38, 12))
          .cast("double").as("sxy"))
    val kD = col("k").cast("double")
    val beta = (kD * col("sxy") - col("sx") * col("sy")) /
      (kD * col("sxx") - col("sx") * col("sx"))
    curve.join(broadcast(fit.select(col("source"),
        round(beta, 6).as("heaps_beta"))), Seq("source"))
      .select(col("source"), big(col("cp")).as("tokens_seen"),
        big(col("types")).as("types_seen"), col("heaps_beta"))
      .orderBy(col("source"), col("tokens_seen"))
  }

  /** Q388: character-bigram conditional entropy — per source,
    * H(c₂|c₁) = −Σ p(c₁,c₂)·log₂ p(c₂|c₁) over the raw text characters:
    * the compression-rate proxy that separates natural prose (~3-4 bits)
    * from templated/generated filler (low) and noise (high), cheaper than
    * any model-based perplexity (q228) because it needs only one bigram
    * count per source. Counts are exact integers; each bigram's term is
    * one IEEE log₂ expression rounded to 6 dp under a decimal sum (the
    * q208 battery). Shuffle ∝ distinct (source, bigram), never characters.
    */
  def q388CharBigramEntropy: Q = (s, d) => {
    // bigrams WITHIN a document (no cross-document seam): substring pairs
    // via transform over positions — codegen'd, no UDF
    // repartition before the explode (the shingleRel discipline): the
    // single-row-group documents scan is one task, and the per-character
    // substring explode is the query's CPU (measured 2×2.1 s single-task
    // at sf0.1 — opt r14); materialize `counts` because it feeds three
    // consumers, one of them a broadcast build whose subtree otherwise
    // re-runs the whole extraction in its own job (the q392 pattern)
    val big2 = Tables(s, d, "documents")
      .filter(length(col("text")) >= 2) // sequence() DESCENDS when stop<start
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("source"),
        explode(expr(
          "transform(sequence(1, length(text) - 1), " +
            "i -> substring(text, i, 2))")).as("bg"))
    val counts = graft.Checkpoints.materialize(
      big2.groupBy(col("source"), col("bg"))
        .agg(count(lit(1)).as("n12")))
    val c1tot = counts
      .select(col("source"), substring(col("bg"), 1, 1).as("c1"), col("n12"))
      .groupBy(col("source"), col("c1"))
      .agg(sum(col("n12")).cast("long").as("n1"))
    val tot = counts.groupBy(col("source"))
      .agg(sum(col("n12")).cast("long").as("nn"))
    counts
      .select(col("source"), substring(col("bg"), 1, 1).as("c1"),
        col("bg"), col("n12"))
      .join(c1tot, Seq("source", "c1"))
      .join(broadcast(tot), Seq("source"))
      .groupBy(col("source"))
      .agg(max(col("nn")).as("n_bigrams"),
        count(lit(1)).as("distinct_bigrams"),
        sum(round(-(col("n12").cast("double") / col("nn").cast("double"))
          * (log(col("n12").cast("double") / col("n1").cast("double"))
            / log(lit(2.0))), 6)
          .cast(org.apache.spark.sql.types.DecimalType(28, 6)))
          .cast("double").as("h"))
      .select(col("source"), big(col("n_bigrams")).as("n_bigrams"),
        big(col("distinct_bigrams")).as("distinct_bigrams"),
        round(col("h"), 6).as("cond_entropy_bits"))
      .orderBy(col("source"))
  }

  /** Q392: Burrows' Delta — the stylometric distance between sources:
    * z-score each source's relative frequency of the top-50 corpus tokens
    * (ties by token) across sources, then Delta(a,b) = mean |z_a − z_b|
    * over the 50 tokens. The classic "same author/template?" audit for
    * corpus provenance — two sources with near-zero Delta are one
    * boilerplate generator wearing two names. Frequencies are one IEEE
    * division each (exact <2^53 integers), 8-dp rounded into decimal
    * moment sums across the bounded source set; pair terms are 6-dp
    * rounded into a decimal mean. Everything downstream of the token
    * count rides bounded relations (50 tokens × |sources|).
    */
  def q392BurrowsDelta: Q = (s, d) => {
    val tok = Tables(s, d, "documents")
      .select(col("source"), explode(toks).as("tok"))
    val counts = graft.Checkpoints.materialize(
      tok.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("tot"))
    val top = counts.groupBy(col("tok"))
      .agg(sum(col("c")).cast("long").as("gc"))
      .orderBy(col("gc").desc, col("tok")).limit(50)
      .select(col("tok"))
    // relative frequency per (source, token in top-50); absent pairs are 0
    val f = totals.crossJoin(broadcast(top))
      .join(counts, Seq("source", "tok"), "left")
      .select(col("source"), col("tok"),
        round(coalesce(col("c"), lit(0L)).cast("double")
          / col("tot").cast("double"), 8).as("fr"))
    val mom = f.groupBy(col("tok"))
      .agg(count(lit(1)).as("ns"),
        sum(col("fr").cast(DecimalType(18, 8))).cast("double").as("sf"),
        sum((col("fr") * col("fr")).cast(DecimalType(28, 16)))
          .cast("double").as("sff"))
    val nD = col("ns").cast("double")
    // zero-variance guard: a top-50 token with identical 8-dp relative
    // frequency in every source (templated/degenerate corpora, or a single
    // source) has sff − sf²/ns == 0 and the z division yields NaN/Inf whose
    // handling diverges across engines — pin z = 0. The guard condition is
    // the SAME IEEE expression in the oracle SQL, so the branch is portable.
    val varNum = col("sff") - col("sf") * col("sf") / nD
    val z = f.join(broadcast(mom), Seq("tok"))
      .select(col("source"), col("tok"),
        round(when(varNum <= 0.0, lit(0.0))
          .otherwise((col("fr") - col("sf") / nD)
            / sqrt(varNum / (nD - 1.0))), 6)
          .as("z"))
    val pairs = z.select(col("source").as("src_a"), col("tok"), col("z").as("za"))
      .join(z.select(col("source").as("src_b"), col("tok"), col("z").as("zb")),
        Seq("tok"))
      .filter(col("src_a") < col("src_b"))
    pairs.groupBy(col("src_a"), col("src_b"))
      .agg(sum(round(abs(col("za") - col("zb")), 6).cast(DecimalType(18, 6)))
        .cast("double").as("ds"), count(lit(1)).as("nt"))
      .select(col("src_a"), col("src_b"),
        round(col("ds") / col("nt").cast("double"), 6).as("delta"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Q395: Good–Turing unseen mass + Chao1 richness — per source, the
    * probability the NEXT token is a never-seen type (P₀ = n₁/N, hapax
    * share) and the Chao1 total-vocabulary estimate V + n₁²/(2n₂): the
    * "how much of this source's vocabulary have we actually seen"
    * companion to q385's growth curve, and the standard smoothing mass
    * behind q148/q228's LM evaluations. Two keyed aggregates (token
    * counts → count-of-counts); the estimators are exact-integer ratios
    * with one rounded division each.
    */
  def q395GoodTuring: Q = (s, d) => {
    val counts = Tables(s, d, "documents")
      .select(col("source"), explode(toks).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("source"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum(when(col("c") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("c") === 2L, 1L).otherwise(0L)).as("n2"))
      .select(col("source"), big(col("n_tokens")).as("n_tokens"),
        big(col("v_types")).as("v_types"),
        big(col("n1")).as("hapax"), big(col("n2")).as("dis"),
        round(col("n1").cast("double") / col("n_tokens").cast("double"), 6)
          .as("p_unseen"),
        when(col("n2") === 0L, lit(null).cast("double"))
          .otherwise(round(col("v_types").cast("double")
            + col("n1").cast("double") * col("n1").cast("double")
            / (lit(2.0) * col("n2").cast("double")), 2)).as("chao1_vocab"))
      .orderBy(col("source"))
  }

  /** (source, tok, cnt) whitespace-token counts plus per-source totals —
    * the shared corpus-distribution kernel behind q401/q402/q403. One
    * map-side-combined aggregate riding the documents scan; rows are
    * bounded by |sources| × |vocab|, never the token stream.
    */
  private def srcTokenCounts(s: SparkSession, d: String): DataFrame =
    graft.Checkpoints.materializeCached(
      Tables(s, d, "documents")
        .select(col("source"), explode(toks).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("cnt")))

  /** Q401: Dunning log-likelihood KEYNESS — which tokens are
    * over-represented in each source vs the rest of the corpus? The
    * corpus-linguistics statistic (G² on the 2×2 token/source table,
    * signed by over/under-use) behind "what makes this source different",
    * the per-source complement of q95's corpus-wide PMI collocations.
    * Top-3 keywords per source by G², ties by token. All eight table
    * cells are exact integer counts; G² is one scalar double expression
    * per (source, token) row (x·ln(x/E) terms drop exactly at x = 0).
    *
    * Scale shape: one map-side-combined (source × vocab) aggregate, two
    * ~|vocab|-row broadcasts; the rank window partitions by source.
    */
  def q401Keyness: Q = (s, d) => {
    val stc = srcTokenCounts(s, d)
    val srcTot = stc.groupBy(col("source")).agg(sum(col("cnt")).as("c_tot"))
    val tokTot = stc.groupBy(col("tok")).agg(sum(col("cnt")).as("g_cnt"))
    val all = stc.agg(sum(col("cnt")).as("g_tot"))
    val j = stc.join(srcTot, Seq("source")).join(broadcast(tokTot), Seq("tok"))
      .crossJoin(broadcast(all))
    val aD = col("cnt").cast("double")
    val bD = (col("g_cnt") - col("cnt")).cast("double")
    val cD = col("c_tot").cast("double")
    val dD = (col("g_tot") - col("c_tot")).cast("double")
    val e1 = cD * col("g_cnt").cast("double") / col("g_tot").cast("double")
    val e2 = dD * col("g_cnt").cast("double") / col("g_tot").cast("double")
    val t1 = when(col("cnt") > 0, aD * log(aD / e1)).otherwise(lit(0.0))
    val t2 = when(col("g_cnt") > col("cnt"), bD * log(bD / e2)).otherwise(lit(0.0))
    // over/under-use sign via the EXACT decimal cross-product a·d ≥ b·c
    // (rate comparison without division — portable at any count magnitude)
    val dec19 = DecimalType(19, 0)
    val scored = j.select(col("source"), col("tok").as("token"),
      round(lit(2.0) * (t1 + t2), 4).as("g2"),
      when(col("cnt").cast(dec19) * (col("g_tot") - col("c_tot")).cast(dec19)
        >= (col("g_cnt") - col("cnt")).cast(dec19) * col("c_tot").cast(dec19),
        lit(1L)).otherwise(lit(-1L)).as("direction"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("g2").desc, col("token"))
    scored.withColumn("keyword_rank", row_number().over(w).cast("long"))
      .filter(col("keyword_rank") <= 3)
      .orderBy(col("source"), col("keyword_rank"))
  }

  /** Q402: pairwise Jensen–Shannon divergence between source unigram
    * distributions — the bounded symmetric distance data-mixing uses to
    * pick complementary sources (0 = identical mix, ln 2 = disjoint).
    * Token probabilities are exact count ratios; each p·ln(2p/(p+q)) term
    * is 12-dp rounded under a decimal sum (order-independent), zero terms
    * dropped by the same integer guard in both engines.
    *
    * Scale shape: the pair grid is |sources|² × |vocab| — model-sized,
    * never corpus-sized; the only data pass is the shared q401 kernel.
    */
  def q402JsDivergence: Q = (s, d) =>
    jsDivergenceKernel(srcTokenCounts(s, d))

  /** The q402 JS kernel over a (source, tok, cnt) count relation — factored
    * so the q418 streaming twin can run the SAME kernel over micro-batch-
    * merged token-count cells (counts merge additively).
    */
  private[graft] def jsDivergenceKernel(stc: DataFrame): DataFrame = {
    val tots = stc.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
    val p = stc.join(tots, Seq("source"))
      .select(col("source"), col("tok"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("p"))
    // explicit (pair × vocab) grid: a tok-keyed self-join would DROP the
    // tokens one side lacks — exactly the rows that drive JS upward
    val srcs = tots.select(col("source"))
    val grid = srcs.select(col("source").as("src_a"))
      .crossJoin(broadcast(srcs.select(col("source").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
      .crossJoin(broadcast(stc.select(col("tok")).distinct()))
    val pairs = grid
      .join(p.select(col("source").as("src_a"), col("tok"), col("p").as("pa")),
        Seq("src_a", "tok"), "left")
      .join(p.select(col("source").as("src_b"), col("tok"), col("p").as("pb")),
        Seq("src_b", "tok"), "left")
      .filter(col("pa").isNotNull || col("pb").isNotNull)
    val pa = coalesce(col("pa"), lit(0.0))
    val pb = coalesce(col("pb"), lit(0.0))
    val term =
      when(col("pa").isNotNull, pa * log(lit(2.0) * pa / (pa + pb))).otherwise(lit(0.0)) +
        when(col("pb").isNotNull, pb * log(lit(2.0) * pb / (pa + pb))).otherwise(lit(0.0))
    pairs.groupBy(col("src_a"), col("src_b"))
      .agg(round(sum(round(lit(0.5) * term, 12).cast(DecimalType(28, 12)))
        .cast("double"), 6).as("js"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Q403: cross-source unigram cross-entropy matrix — train an add-1
    * smoothed unigram LM on source A, evaluate on source B:
    * CE(A→B) = −Σ_w p_B(w) · ln((cnt_A(w)+1)/(N_A+V)). The transfer
    * matrix a data-mixing pipeline reads to find which sources model
    * which (the diagonal is each source's own smoothed entropy) — the
    * multi-source generalization of q148's bigram LM and q228's
    * perplexity eval. Exact integer counts; 12-dp-rounded terms under a
    * decimal sum.
    */
  def q403CrossEntropy: Q = (s, d) => {
    val stc = srcTokenCounts(s, d)
    val tots = stc.groupBy(col("source")).agg(sum(col("cnt")).as("tot"))
    val vocab = stc.select(col("tok")).distinct().agg(count(lit(1)).as("v"))
    val evalSide = stc.join(tots, Seq("source"))
      .select(col("source").as("eval_src"), col("tok"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("pb"))
    val trainTot = tots.select(col("source").as("train_src"), col("tot").as("n_a"))
    val trainCnt = stc.select(col("source").as("train_src"), col("tok"),
      col("cnt").as("cnt_a"))
    evalSide.crossJoin(broadcast(trainTot))
      .join(trainCnt, Seq("train_src", "tok"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("train_src"), col("eval_src"),
        (col("pb") * log((coalesce(col("cnt_a"), lit(0L)) + 1).cast("double")
          / (col("n_a") + col("v")).cast("double"))).as("term"))
      .groupBy(col("train_src"), col("eval_src"))
      .agg(round(negate(sum(round(col("term"), 12).cast(DecimalType(28, 12)))
        .cast("double")), 6).as("ce"))
      .orderBy(col("train_src"), col("eval_src"))
  }

  /** Q404: Fleiss' kappa across three deterministic document raters —
    * the inter-annotator-agreement statistic run over three heuristic
    * "keep" classifiers (token count ≥ 30, distinct tokens ≥ 25,
    * n_chars ≥ 150), the multi-rater generalization of q315's Cohen
    * kappa. Per-item agreement P_i has denominator 6 exactly, so the sum
    * is carried as an exact integer numerator; marginals are exact
    * ratios; κ is one scalar double expression on the 1-row moment
    * relation.
    */
  def q404FleissKappa: Q = (s, d) => {
    val rated = Tables(s, d, "documents")
      .select(
        when(size(toks) >= 30, 1L).otherwise(0L).as("r1"),
        when(size(array_distinct(toks)) >= 25, 1L).otherwise(0L).as("r2"),
        when(col("n_chars") >= 150L, 1L).otherwise(0L).as("r3"))
      .select((col("r1") + col("r2") + col("r3")).as("n1"))
    // P_i = (n1² + (3−n1)² − 3) / 6 — keep the integer numerator exact
    val mom = rated.agg(count(lit(1)).as("n_items"),
      sum(col("n1") * col("n1")
        + (lit(3L) - col("n1")) * (lit(3L) - col("n1")) - lit(3L)).as("pnum"),
      sum(col("n1")).as("s1"))
    val nD = col("n_items").cast("double")
    val pBar = col("pnum").cast("double") / (lit(6.0) * nD)
    val p1 = col("s1").cast("double") / (lit(3.0) * nD)
    val pe = p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)
    mom.select(col("n_items"),
      round(pBar, 6).as("p_bar"), round(pe, 6).as("p_e"),
      round((pBar - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** Q405: syllable-based readability (Flesch reading ease) per source —
    * 206.835 − 1.015·(words/docs) − 84.6·(syllables/words), with
    * vowel-group runs as the syllable proxy and the document as the
    * sentence unit (the corpus has no sentence punctuation — same regex,
    * same unit, both engines). Every input is an exact integer count
    * summed map-side; the score is one scalar double expression on the
    * per-source moment row.
    */
  def q405Readability: Q = (s, d) => {
    val perDoc = Tables(s, d, "documents")
      .select(col("source"), size(toks).cast("long").as("w"),
        regexp_count(col("text"), lit("[aeiouy]+")).cast("long").as("y"))
    perDoc.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("y")).as("syllables"))
      .select(col("source"), col("n_docs"), col("words"), col("syllables"),
        round(lit(206.835)
          - lit(1.015) * (col("words").cast("double") / col("n_docs").cast("double"))
          - lit(84.6) * (col("syllables").cast("double") / col("words").cast("double")),
          4).as("flesch"))
      .orderBy(col("source"))
  }

  /** Q419: Cochran's Q across the three q404 binary raters — do the
    * heuristic "keep" classifiers differ systematically in their pass
    * rates? The binary repeated-measures complement to q404's agreement
    * (κ asks "do they agree"; Q asks "is one biased"). Q = (k−1)·
    * (k·ΣG_j² − T²)/(k·T − ΣL_i²) — every cell an exact int64 until one
    * double division; one map-side pass over documents.
    */
  def q419CochranQ: Q = (s, d) => {
    val rated = Tables(s, d, "documents")
      .select(
        when(size(toks) >= 30, 1L).otherwise(0L).as("r1"),
        when(size(array_distinct(toks)) >= 25, 1L).otherwise(0L).as("r2"),
        when(col("n_chars") >= 150L, 1L).otherwise(0L).as("r3"))
    val li = col("r1") + col("r2") + col("r3")
    val m = rated.agg(count(lit(1)).as("n_items"),
      sum(col("r1")).as("g1"), sum(col("r2")).as("g2"), sum(col("r3")).as("g3"),
      sum(li).as("t"), sum(li * li).as("sl2"))
    val num = lit(3L) * (col("g1") * col("g1") + col("g2") * col("g2")
      + col("g3") * col("g3")) - col("t") * col("t")
    val den = lit(3L) * col("t") - col("sl2")
    m.select(col("n_items"),
      round(lit(2.0) * num.cast("double") / den.cast("double"), 6).as("q_cochran"),
      lit(2L).as("df"))
  }

  /** Q421: Cronbach's alpha over three per-document "quality item" scores
    * (token count, distinct-token count, n_chars) — the internal-
    * consistency coefficient: do the items measure one underlying
    * document-quality construct? α = k/(k−1)·(1 − Σσ²_item/σ²_total),
    * all variances from exact int64 moments in one map-side pass.
    */
  def q421CronbachAlpha: Q = (s, d) => {
    val items = Tables(s, d, "documents")
      .select(size(toks).cast("long").as("x1"),
        size(array_distinct(toks)).cast("long").as("x2"),
        col("n_chars").cast("long").as("x3"))
      .withColumn("xt", col("x1") + col("x2") + col("x3"))
    val m = items.agg(count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x1") * col("x1")).as("s11"),
      sum(col("x2")).as("s2"), sum(col("x2") * col("x2")).as("s22"),
      sum(col("x3")).as("s3"), sum(col("x3") * col("x3")).as("s33"),
      sum(col("xt")).as("st"), sum(col("xt") * col("xt")).as("stt"))
    val nD = col("n").cast("double")
    def v(ss: org.apache.spark.sql.Column,
          sl: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (ss.cast("double") - sl.cast("double") * sl.cast("double") / nD) /
        (nD - lit(1.0))
    val v1 = v(col("s11"), col("s1"))
    val v2 = v(col("s22"), col("s2"))
    val v3 = v(col("s33"), col("s3"))
    val vt = v(col("stt"), col("st"))
    m.select(col("n"), round(v1, 4).as("var_tokens"),
      round(v2, 4).as("var_distinct"), round(v3, 4).as("var_chars"),
      round(lit(1.5) * (lit(1.0) - (v1 + v2 + v3) / vt), 6).as("alpha"))
  }

  /** Q430: corpus dispersion battery for the top-10 tokens — is a token's
    * mass spread evenly across sources or clumped? Three standard
    * measures per token: Juilland's D = 1 − CV/√(k−1) on per-source
    * relative frequencies, Gries' DP = Σ|token share − source-size
    * share|/2, and the count variance-to-mean ratio (Fano). The
    * per-source dimension of q310's per-document burstiness — the signal
    * a mixing pipeline reads to spot source-idiosyncratic vocabulary.
    * Everything runs on the bounded (top-10 × sources) grid over the
    * shared [[srcTokenCounts]] kernel; ratio terms are 8/10/14-dp rounded
    * under decimal sums.
    */
  def q430TokenDispersion: Q = (s, d) => {
    val stc = srcTokenCounts(s, d)
    val srcTot = stc.groupBy(col("source")).agg(sum(col("cnt")).as("stot"))
    val all = srcTot.agg(sum(col("stot")).as("gtot"), count(lit(1)).as("k"))
    val top = stc.groupBy(col("tok")).agg(sum(col("cnt")).as("gcnt"))
      .orderBy(col("gcnt").desc, col("tok")).limit(10)
    val grid = top.crossJoin(broadcast(srcTot))
      .join(stc, Seq("tok", "source"), "left")
      .select(col("tok"), col("gcnt"), col("source"), col("stot"),
        coalesce(col("cnt"), lit(0L)).as("c"))
    val terms = grid.crossJoin(broadcast(all))
      .select(col("tok"), col("k"),
        round(abs(col("c").cast("double") / col("gcnt").cast("double")
          - col("stot").cast("double") / col("gtot").cast("double")), 8)
          .cast(DecimalType(28, 8)).as("dpterm"),
        round(col("c").cast("double") / col("stot").cast("double"), 10)
          .cast(DecimalType(28, 10)).as("v"),
        round((col("c").cast("double") / col("stot").cast("double"))
          * (col("c").cast("double") / col("stot").cast("double")), 14)
          .cast(DecimalType(30, 14)).as("vv"),
        col("c"))
    val m = terms.groupBy(col("tok"), col("k"))
      .agg(sum(col("dpterm")).cast("double").as("dp2"),
        sum(col("v")).cast("double").as("sv"),
        sum(col("vv")).cast("double").as("svv"),
        sum(col("c")).as("sc"), sum(col("c") * col("c")).as("scc"))
    val kD = col("k").cast("double")
    val meanV = col("sv") / kD
    val sdV = sqrt((col("svv") - col("sv") * col("sv") / kD) / (kD - lit(1.0)))
    val meanC = col("sc").cast("double") / kD
    val varC = (col("scc").cast("double")
      - col("sc").cast("double") * col("sc").cast("double") / kD) / (kD - lit(1.0))
    m.select(col("tok").as("token"),
      round(lit(1.0) - (sdV / meanV) / sqrt(kD - lit(1.0)), 6).as("d_juilland"),
      round(col("dp2") / lit(2.0), 6).as("dp_gries"),
      round(varC / meanC, 6).as("vmr"))
      .orderBy(col("token"))
  }

  /** Q463: Jaro–Winkler blocked name-dedup audit — the entity-resolution
    * scorer q258's edit-distance join can't express (JW weights prefix
    * agreement and transpositions, the right bias for product/person
    * names): part names blocked on their first token, within-block pairs
    * scored by the codegen'd [[graft.functions.JaroWinkler]] expression,
    * top-20 near-duplicates at jw ≥ 0.94 in deterministic (jw desc, key)
    * order. Skew handling is the distinct-name collapse below (the block
    * count is SMALL — 8 first tokens — but after the collapse each block
    * holds only its distinct names, so the scorer input is tiny and
    * whole-stage-codegen'd; no salting needed at this shape). The oracle
    * twin is DuckDB's own `jaro_winkler_similarity`, so the expression's
    * semantics are cross-engine pinned, not self-certified.
    */
  def q463JaroWinklerPairs: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s)
    val p = Tables(s, d, "part").select(col("p_partkey").as("k"),
      col("p_name").as("nm"), substring_index(col("p_name"), " ", 1).as("blk"))
    // distinct-name collapse: score each DISTINCT name pair once, not each
    // row pair — the scorer cost drops from Σ|block|² row pairs to
    // Σ|distinct names in block|², and only the winning jw tiers are
    // expanded back to part keys (rank() keeps whole tiers, so tie
    // boundaries can't clip the global top-20)
    val names = p.groupBy(col("blk"), col("nm")).agg(count(lit(1)).as("cnt"))
    // degenerate self-pairs are dropped BEFORE ranking: a na==nb row with
    // cnt<2 expands to ZERO key pairs (the ka<kb filter kills the single
    // self key), yet scores jw=1.0 and would occupy the top rank tiers —
    // on near-unique names that pushes every real 0.94≤jw<1.0 tier past
    // the rank cut and silently empties the result. Keeping na==nb only
    // when cnt≥2 makes every ranked row expand to ≥1 key pair, so
    // rank()≤40 genuinely over-covers the global top-20.
    val np = names.select(col("blk"), col("nm").as("na"), col("cnt").as("ca"))
      .join(names.select(col("blk"), col("nm").as("nb"), col("cnt").as("cb")),
        Seq("blk"))
      .filter(col("na") < col("nb") ||
        (col("na") === col("nb") && col("ca") >= 2))
    val jw = round(graft.functions.VectorFunctions
      .jaroWinkler(col("na"), col("nb")), 6)
    val scored = np.withColumn("jw", jw).filter(col("jw") >= 0.94)
    val cand = scored
      .withColumn("rk", rank().over(Window.orderBy(col("jw").desc)))
      .filter(col("rk") <= 40)
    val expanded = cand
      .join(p.select(col("blk"), col("nm").as("na"), col("k").as("ka")),
        Seq("blk", "na"))
      .join(p.select(col("blk"), col("nm").as("nb"), col("k").as("kb")),
        Seq("blk", "nb"))
      .filter(col("na") =!= col("nb") || col("ka") < col("kb"))
    expanded.select(least(col("ka"), col("kb")).as("k1"),
        greatest(col("ka"), col("kb")).as("k2"), col("jw"))
      .orderBy(col("jw").desc, col("k1"), col("k2"))
      .limit(20)
  }

  /** Q510: multibyte fuzzy-match conformance battery (round-12 VERDICT
    * #3: the corpus fixtures are ASCII-biased, so no oracle row exercised
    * the fuzzy family on multibyte names — yet a real training-data
    * pipeline is multilingual). A FIXED battery of Cyrillic / CJK / kana /
    * Greek / accented-Latin / supplementary-plane (emoji) / confusable
    * name pairs, identical literals on both engines, scored by the
    * codegen'd [[graft.functions.JaroWinkler]] expression against
    * DuckDB's `jaro_winkler_similarity` — which walks UTF-8 BYTES, same
    * as the expression (verified: 'Пётр'/'Петр' = 0.822222 byte-walk on
    * both engines, where a codepoint walk gives 0.85). This makes the
    * q463/q272 scorer's multibyte behavior ORACLE-PINNED every round
    * instead of deterministic-but-unchecked. The q258/q262 `levenshtein`
    * side CANNOT join this battery: Spark's levenshtein is
    * codepoint-based while DuckDB's is byte-based ('é'→'e' reads 1 vs 2)
    * — equal on ASCII (their pinned corpus), divergent on multibyte;
    * UtilitiesSpec pins that divergence with recorded values.
    */
  def q510MultibyteFuzzy: Q = (s, d) => {
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    val battery = Seq(
      (1L, "Иванов", "Иванова"),   // Cyrillic: feminine suffix
      (2L, "Пётр", "Петр"),        // Cyrillic: ё/е variant spelling
      (3L, "müller", "mueller"),   // umlaut vs transliteration
      (4L, "garcía", "garcia"),    // accented Latin
      (5L, "山田太郎", "山田花子"), // CJK kanji given names
      (6L, "こんにちは", "こんばんは"), // kana
      (7L, "ABC", "АВС"),          // Latin vs Cyrillic confusables
      (8L, "😀😁😂", "😀😂😁"),    // supplementary plane, transposition
      (9L, "café", "cafe"),
      (10L, "Ελλάδα", "Ελλαδα"),   // Greek diacritic
      (11L, "Müller-Lüdenscheidt", "Mueller-Ludenscheidt"),
      (12L, "東京都渋谷区", "東京都北区")) // CJK shared prefix
    battery.toDF("pair_id", "a", "b")
      .select(col("pair_id"), col("a"), col("b"),
        round(graft.functions.VectorFunctions.jaroWinkler(col("a"), col("b")), 6)
          .as("jw"))
      .orderBy(col("pair_id"))
  }

  /** Q511: Unicode NFC normalization audit — the canonical-composition
    * conformance battery for the multilingual-dedup prerequisite: 'café'
    * composed (U+00E9) and decomposed (e + U+0301) are the same text to
    * every reader but different bytes to every hash, so an unnormalized
    * exact/minhash dedup keeps both copies. Scored by the codegen'd
    * [[graft.functions.NfcNormalize]] expression (java.text.Normalizer)
    * against DuckDB's utf8proc `nfc_normalize` — same Unicode data,
    * verified equal on composed/decomposed/reordering/compat samples
    * (NFC keeps the ﬁ ligature; only NFKC folds it). Also reports
    * codepoint counts before/after so the composition is visible.
    */
  def q511NfcAudit: Q = (s, d) => {
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    val battery = Seq(
      (1L, "café"),            // composed é
      (2L, "cafe\u0301"),           // decomposed e + combining acute → composes
      (3L, "\u212B"),               // ANGSTROM SIGN → Å (singleton)
      (4L, "A\u030A"),              // A + combining ring → Å
      (5L, "ﬁle"),             // ﬁ ligature: NFC identity (NFKC-only fold)
      (6L, "\u30AB\u3099"),         // カ + voiced mark → ガ
      (7L, "plain ascii"),          // ASCII fast path: identity
      (8L, "\u0438\u0306"),         // Cyrillic и + breve → й
      (9L, "Ångström"),   // already NFC: identity
      (10L, "q\u0307\u0323"))       // canonical REORDER: ccc 230 after ccc 220
    val nfc = graft.functions.VectorFunctions.nfc(col("s"))
    battery.toDF("id", "s")
      .select(col("id"), col("s"), nfc.as("nfc"),
        (col("s") =!= nfc).as("changed"),
        big(length(col("s"))).as("cp_before"),
        big(length(nfc)).as("cp_after"))
      .orderBy(col("id"))
  }

  /** Q516: NFC-normalized exact dedup — the operational payoff of q511:
    * the same exact-dup scan as q28, run on md5(NFC(text)) NEXT TO
    * md5(text), reporting how many duplicate documents the raw-byte hash
    * MISSES because the copies differ only in canonical form (composed vs
    * decomposed accents — routine when corpora mix macOS/NFD and
    * Linux/NFC sources). Raw-equal implies NFC-equal, so
    * `nfc_only_dup_docs = nfc_dup_docs − raw_dup_docs` is exactly the
    * missed set. Runs over documents ∪ a fixed battery of canonically
    * divergent twins (plus one raw-dup control pair) so the missed set is
    * nonzero on the ASCII-biased corpus.
    */
  /** q516/q522's shared battery of canonically divergent twins + one
    * raw-dup control pair (factored so the count report and the
    * resolution op can never drift apart).
    */
  private[graft] def nfcDedupBattery(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (9000001L, "café menu"),                     // composed
      (9000002L, "cafe\u0301 menu"),               // decomposed twin
      (9000003L, "Ångström units"),                // composed Å, ö
      (9000004L, "A\u030Angstro\u0308m units"),    // decomposed twin
      (9000005L, "plain duplicate"),               // raw-dup control pair
      (9000006L, "plain duplicate"))
      .toDF("doc_id", "text")
  }

  def q516NfcDedup: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s)
    val battery = nfcDedupBattery(s)
    val docs = Tables(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(battery)
    val h = docs.select(col("doc_id"), md5(col("text")).as("hr"),
      md5(graft.functions.VectorFunctions.nfc(col("text"))).as("hn"))
    def dupDocs(c: org.apache.spark.sql.Column) = h.groupBy(c.as("g"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c")), lit(0L)).as("dd"))
    val raw = dupDocs(col("hr")).select(col("dd").as("raw_dup_docs"))
    val nfc = dupDocs(col("hn")).select(col("dd").as("nfc_dup_docs"))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(raw)).crossJoin(broadcast(nfc))
      .select(col("n_docs"), col("raw_dup_docs"), col("nfc_dup_docs"),
        (col("nfc_dup_docs") - col("raw_dup_docs")).as("nfc_only_dup_docs"))
  }

  /** Q522: NFC-normalized dedup RESOLUTION — the operational step q516's
    * counts exist to drive (the q156/q157 measurement→rewrite pattern):
    * documents group by their NFC content hash, the smallest doc_id per
    * group survives, and every other member is emitted as a (dropped,
    * survivor, kind) action row — `kind` distinguishes 'exact' copies
    * (raw bytes equal to the survivor's) from 'canonical' copies (NFC-
    * equal only: the composed/decomposed twins a raw-byte dedup silently
    * keeps). This is the row a curation pipeline actually executes.
    * Oracle-checked: DuckDB `nfc_normalize` == java.text.Normalizer NFC
    * (the q511 pin).
    *
    * Scale shape: one hash aggregate for survivors, two hash-keyed
    * equi-joins (group key, survivor id) — no window over the corpus, no
    * broadcast of anything data-sized.
    */
  def q522NfcDedupResolve: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s)
    val docs = Tables(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(nfcDedupBattery(s))
    val h = docs.select(col("doc_id"), md5(col("text")).as("hr"),
      md5(graft.functions.VectorFunctions.nfc(col("text"))).as("hn"))
    val surv = h.groupBy(col("hn")).agg(min(col("doc_id")).as("survivor"))
    h.join(surv, Seq("hn"))
      .filter(col("doc_id") =!= col("survivor"))
      .join(h.select(col("doc_id").as("survivor"), col("hr").as("hr_surv")),
        Seq("survivor"))
      .select(col("doc_id").as("dropped"), col("survivor"),
        when(col("hr") === col("hr_surv"), lit("exact"))
          .otherwise(lit("canonical")).as("kind"))
      .orderBy(col("dropped"))
  }

  /** q523's battery: consistent and mislabeled rows for the non-Latin
    * langs (the corpus's own zh rows are romanized ASCII — the audit's
    * headline finding — so the battery supplies the consistent zh/ru/ja
    * positives the corpus lacks).
    */
  private[graft] def langScriptBattery(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      (9200001L, "zh", "汉字文本在这里"),
      (9200002L, "zh", "romanized pinyin only"),
      (9200003L, "ru", "русский текст"),
      (9200004L, "ru", "translit russkiy"),
      (9200005L, "ja", "ひらがなと漢字"),
      (9200006L, "en", "plain english text"))
      .toDF("doc_id", "lang", "text")
  }

  /** Q523: language/script consistency audit — the label-hygiene check a
    * multilingual curation pipeline runs against its OWN metadata: a doc
    * whose declared `lang` expects a script (zh→Han, ru→Cyrillic,
    * ja→Han/kana, Latin langs→Latin) but whose text contains zero
    * codepoints of it is mislabeled, romanized, or mis-routed. Per lang:
    * doc count, mismatch count + fraction, first offending doc_id. On
    * THIS corpus the zh rows are ASCII-romanized, so the audit's honest
    * reading is "every zh row mismatches" — exactly the signal that
    * pages a real ingest. Same script-table posture as q512 (battery
    * positives + ASCII-corpus pin); unknown langs pass vacuously.
    */
  /** q523's per-lang MERGEABLE cells — doc/mismatch sums + min offender,
    * all associative, so micro-batch cells merge exactly (streaming twin
    * q524, the q375 pattern).
    */
  private[graft] def langScriptCells(docs: DataFrame): DataFrame = {
    val ok = when(col("lang").isin("en", "es", "de", "fr"),
        col("text").rlike("\\p{IsLatin}"))
      .when(col("lang") === "zh", col("text").rlike("\\p{IsHan}"))
      .when(col("lang") === "ru", col("text").rlike("\\p{IsCyrillic}"))
      .when(col("lang") === "ja",
        col("text").rlike("[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]"))
      .otherwise(lit(true))
    docs.withColumn("ok", ok)
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        big(sum(when(!col("ok"), 1L).otherwise(0L))).as("n_mismatch"),
        min(when(!col("ok"), col("doc_id"))).as("first_mismatch"))
  }

  /** Merge [[langScriptCells]] and attach the derived fraction — shared
    * verbatim by batch q523 and streaming q524.
    */
  private[graft] def langScriptReport(cells: DataFrame): DataFrame =
    cells.groupBy(col("lang")).agg(
        big(sum(col("n_docs"))).as("n_docs"),
        big(sum(col("n_mismatch"))).as("n_mismatch"),
        min(col("first_mismatch")).as("first_mismatch"))
      .withColumn("mismatch_frac",
        round(col("n_mismatch").cast("double") / col("n_docs").cast("double"), 4))
      .orderBy(col("lang"))

  def q523LangScriptConsistency: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
      .unionByName(langScriptBattery(s))
    langScriptReport(langScriptCells(docs))
  }

  /** Q518: match-normalized dedup — the canonicalization ladder COMPLETED
    * (round-13 VERDICT #3): q516's dup scan run at THREE normalization
    * levels — raw bytes, NFC ([[graft.functions.NfcNormalize]]), and
    * match-normalization ([[graft.functions.NormalizeForMatch]]: NFKC +
    * locale-free casefold) — reporting what each rung catches that the
    * one below misses. raw-equal ⇒ NFC-equal ⇒ match-equal (canonical
    * equivalence is preserved by NFKC, and folding is deterministic), so
    * both deltas are ≥ 0 by construction. The battery adds the compat/
    * case twins a real mixed-source corpus carries: ligature vs letters,
    * fullwidth vs ASCII, case-only variants, ß vs ss, unit glyphs vs
    * letter sequences — each invisible to NFC, caught by match-norm.
    *
    * ENGINE-ONLY by design: DuckDB's utf8proc case folding measurably
    * diverges from Java's (upper('ß') ẞ vs SS; lower('İ') — recorded in
    * UtilitiesSpec at round-13 pin time), so no portable SQL twin exists;
    * the UtilitiesSpec battery pins the expression's values, idempotency,
    * and this query's exact counts instead (QueriesGoldenSpec documents
    * the engine-only membership).
    *
    * Scale shape: q516's — two map-side hash aggregations over md5 keys
    * plus three broadcast 1-row attachments; the codegen'd ASCII fast
    * path (identity + in-place lowercase) keeps the normalized passes
    * ~free on ASCII-majority corpora.
    */
  def q518MatchNormDedup: Q = (s, d) => {
    import s.implicits._
    graft.functions.VectorFunctions.register(s)
    val battery = Seq(
      (9100001L, "office ﬁle pack"),       // fi ligature
      (9100002L, "office file pack"),           // compat twin (NFC-distinct)
      (9100003L, "STRASSE 12 BERLIN"),          // case-only vs ß twin below
      (9100004L, "straße 12 berlin"),           // ß → ss under full folding
      (9100005L, "route ㎛ marker"),        // ㎞-class unit glyph (µm)
      (9100006L, "route µm marker"),       // letter sequence twin
      (9100007L, "ＦＵＬＬ width text"),         // fullwidth Latin
      (9100008L, "full width text"),            // ASCII twin
      (9100009L, "cafe\u0301 menu deux"),      // decomposed e+acute: NFC-level dup
      (9100010L, "café menu deux"),        // composed twin (NFC catches)
      (9100011L, "shared raw copy"),            // raw-dup control pair
      (9100012L, "shared raw copy"))
      .toDF("doc_id", "text")
    val docs = Tables(s, d, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .unionByName(battery)
    val fns = graft.functions.VectorFunctions
    val h = docs.select(col("doc_id"), md5(col("text")).as("hr"),
      md5(fns.nfc(col("text"))).as("hn"),
      md5(fns.normMatch(col("text"))).as("hm"))
    def dupDocs(c: org.apache.spark.sql.Column, as: String) = h.groupBy(c.as("g"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .agg(coalesce(sum(col("c")), lit(0L)).as(as))
    docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(dupDocs(col("hr"), "raw_dup_docs")))
      .crossJoin(broadcast(dupDocs(col("hn"), "nfc_dup_docs")))
      .crossJoin(broadcast(dupDocs(col("hm"), "match_dup_docs")))
      .select(col("n_docs"), col("raw_dup_docs"), col("nfc_dup_docs"),
        col("match_dup_docs"),
        (col("nfc_dup_docs") - col("raw_dup_docs")).as("nfc_only_dup_docs"),
        (col("match_dup_docs") - col("nfc_dup_docs")).as("match_only_dup_docs"))
  }

  /** Q512: per-source Unicode script profile — the corpus-composition
    * report a multilingual curation pipeline reads first: how many
    * codepoints of Latin / Cyrillic / Han / Greek / decimal-digit each
    * source contributes, plus the byte-per-codepoint inflation (the
    * multibyte share estimator that sizes UTF-8 storage against token
    * budgets). Runs over the REAL documents table union a fixed
    * multilingual battery source, so the script counters are exercised on
    * nonzero multibyte input even on an ASCII-biased corpus. Engine note:
    * Spark counts with Java script classes (`\p{IsCyrillic}`), the oracle
    * with RE2's (`\p{Cyrillic}`) — same Unicode script data; the battery
    * sticks to unambiguous script members.
    */
  /** The fixed multilingual battery source shared by q512/q513 and their
    * streaming twins.
    */
  private[graft] def scriptBattery(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("_battery", "Привет мир Hello"),
      ("_battery", "山田太郎 reads 漢字 daily"),
      ("_battery", "αβγ mixed with Latin123"),
      ("_battery", "чисто кириллица"))
      .toDF("source", "text")
  }

  /** q512's per-source ADDITIVE cells — pure sums, so micro-batch cells
    * merge exactly (the q375 mergeable-kernel pattern; the streaming twin
    * q514 ships these per batch and [[scriptProfileReport]] merges).
    */
  private[graft] def scriptCells(docs: DataFrame): DataFrame = {
    def cps(pat: String) = sum(regexp_count(col("text"), lit(pat)))
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      big(sum(length(col("text")))).as("n_cp"),
      big(sum(octet_length(col("text")))).as("n_bytes"),
      big(cps("\\p{IsLatin}")).as("latin_cp"),
      big(cps("\\p{IsCyrillic}")).as("cyrillic_cp"),
      big(cps("\\p{IsHan}")).as("han_cp"),
      big(cps("\\p{IsGreek}")).as("greek_cp"),
      big(cps("\\p{Nd}")).as("digit_cp"))
  }

  /** Merge additive [[scriptCells]] (one or many per source) and attach
    * the derived inflation ratio — shared verbatim by batch q512 and
    * streaming q514, so the twins agree at ANY trigger slicing.
    */
  private[graft] def scriptProfileReport(cells: DataFrame): DataFrame =
    cells.groupBy(col("source")).agg(
        big(sum(col("n_docs"))).as("n_docs"),
        big(sum(col("n_cp"))).as("n_cp"),
        big(sum(col("n_bytes"))).as("n_bytes"),
        big(sum(col("latin_cp"))).as("latin_cp"),
        big(sum(col("cyrillic_cp"))).as("cyrillic_cp"),
        big(sum(col("han_cp"))).as("han_cp"),
        big(sum(col("greek_cp"))).as("greek_cp"),
        big(sum(col("digit_cp"))).as("digit_cp"))
      .withColumn("byte_inflation",
        round(col("n_bytes").cast("double") / col("n_cp").cast("double"), 4))
      .orderBy(col("source"))

  def q512ScriptProfile: Q = (s, d) => {
    val docs = Tables(s, d, "documents").select(col("source"), col("text"))
      .unionByName(scriptBattery(s))
    scriptProfileReport(scriptCells(docs))
  }

  /** Q513: mixed-script (homoglyph) token audit — the spoof/spam signal a
    * multilingual curation pipeline filters on: a token mixing Latin and
    * Cyrillic letters ("pаypal" with Cyrillic а) is near-always
    * an attack or OCR artifact, never natural text. Whitespace tokens over
    * documents union a crafted battery source; per source: token count,
    * mixed-token count, and the lexicographically-first mixed token as the
    * audit exemplar (binary collation on both engines).
    */
  /** q513's homoglyph battery source (shared by the streaming twin). */
  private[graft] def homoglyphBattery(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("_battery", "pаypal is sаfe"),          // Cyrillic а homoglyphs
      ("_battery", "обычный русский текст"),
      ("_battery", "normal latin text"),
      ("_battery", "смешанный tокен here"))
      .toDF("source", "text")
  }

  /** q513's per-source MERGEABLE cells: token/mixed counts are pure sums
    * and the exemplar is a min — all associative, so micro-batch cells
    * merge exactly (streaming twin q515).
    */
  private[graft] def mixedScriptCells(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("source"), explode(toks).as("t"))
    val mixed = col("t").rlike("\\p{IsLatin}") && col("t").rlike("\\p{IsCyrillic}")
    tok.groupBy(col("source")).agg(
      count(lit(1)).as("n_tokens"),
      big(sum(when(mixed, 1L).otherwise(0L))).as("n_mixed"),
      min(when(mixed, col("t"))).as("first_mixed"))
  }

  /** Merge [[mixedScriptCells]] — shared verbatim by batch q513 and
    * streaming q515.
    */
  private[graft] def mixedScriptReport(cells: DataFrame): DataFrame =
    cells.groupBy(col("source")).agg(
        big(sum(col("n_tokens"))).as("n_tokens"),
        big(sum(col("n_mixed"))).as("n_mixed"),
        min(col("first_mixed")).as("first_mixed"))
      .orderBy(col("source"))

  def q513MixedScript: Q = (s, d) => {
    val docs = Tables(s, d, "documents").select(col("source"), col("text"))
      .unionByName(homoglyphBattery(s))
    mixedScriptReport(mixedScriptCells(docs))
  }

  /** q519's curated CJK battery (shared by the streaming twin q521): Han +
    * Hiragana + Katakana text with and without spaces, so the CJK counter
    * is exercised on nonzero input even on the ASCII-biased corpus. The
    * KATAKANA-HIRAGANA PROLONGED SOUND MARK (script=Common) is
    * deliberately absent — it classifies differently from letter kana and
    * would couple the oracle to punctuation-script edge tables.
    */
  private[graft] def tokenBudgetBattery(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("_battery", "東京は日本の首都です"),
      ("_battery", "カタカナのテキスト"),
      ("_battery", "mixed 日本語テキスト and english words"),
      ("_battery", "plain ascii words only here"))
      .toDF("source", "text")
  }

  /** q519's per-source MERGEABLE cells — pure sums (docs, whitespace
    * tokens, CJK codepoints, bytes), so micro-batch cells merge exactly
    * (streaming twin q521, the q375 pattern).
    */
  private[graft] def tokenBudgetCells(docs: DataFrame): DataFrame =
    docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      big(sum(size(toks))).as("ws_tokens"),
      big(sum(regexp_count(col("text"),
        lit("[\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}]")))).as("cjk_cp"),
      big(sum(octet_length(col("text")))).as("n_bytes"))

  /** Merge [[tokenBudgetCells]] and attach the derived estimates — shared
    * verbatim by batch q519 and streaming q521.
    */
  private[graft] def tokenBudgetReport(cells: DataFrame): DataFrame =
    cells.groupBy(col("source")).agg(
        big(sum(col("n_docs"))).as("n_docs"),
        big(sum(col("ws_tokens"))).as("ws_tokens"),
        big(sum(col("cjk_cp"))).as("cjk_cp"),
        big(sum(col("n_bytes"))).as("n_bytes"))
      .withColumn("est_tokens", col("ws_tokens") + col("cjk_cp"))
      .withColumn("bytes_per_token",
        round(col("n_bytes").cast("double") / col("est_tokens").cast("double"), 4))
      .orderBy(col("source"))

  /** Q519: multilingual token-budget estimator — the tokenizer-cost
    * forecast a training pipeline needs BEFORE running the tokenizer at
    * 100 TB: whitespace token counts are a fine proxy for space-delimited
    * scripts but miss CJK entirely (unsegmented text is one giant
    * "token"), so the standard heuristic adds ~1 token per CJK codepoint.
    * Declared estimate: `est_tokens = ws_tokens + cjk_cp` (a pure-CJK run
    * of n chars inside one whitespace token estimates n+1 — the +1 is
    * accepted and documented; the point is the ORDER OF MAGNITUDE that
    * whitespace counting gets wrong by 10-50x on CJK). Per source: doc /
    * token / CJK-codepoint / byte sums plus bytes-per-estimated-token —
    * the budget row a corpus-mixing plan reads. Same script-table
    * agreement posture as q512 (curated battery + ASCII-corpus pin).
    */
  def q519TokenBudget: Q = (s, d) => {
    val docs = Tables(s, d, "documents").select(col("source"), col("text"))
      .unionByName(tokenBudgetBattery(s))
    tokenBudgetReport(tokenBudgetCells(docs))
  }

  /** The unambiguous Cyrillic→Latin homoglyph map (UTS#39-style skeleton,
    * restricted to the pairs whose glyphs are identical in common fonts):
    * 10 lowercase + 14 uppercase confusables, as parallel translate()
    * strings shared VERBATIM by the q520 plan and its DuckDB oracle.
    */
  private[graft] val ConfusablesCyr: String =
    "аеорсухіјѕ" +
      "АВЕКМНОРСТХЅІЈ"
  private[graft] val ConfusablesLat: String = "aeopcyxijs" + "ABEKMHOPCTXSIJ"

  /** q520's battery: spoofed tokens NEXT TO their legitimate ASCII twins
    * (so the vocabulary join has real hits), an all-caps all-confusable
    * word whose skeleton is NOT a corpus word (masquerading without a
    * vocab hit), and genuine Russian text (Cyrillic that does NOT fold to
    * pure Latin — the negative control).
    */
  private[graft] def confusableBattery(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(
      ("_battery", "pаypal аccount login"),
      ("_battery", "paypal account login secure"),
      ("_battery", "сlick mе now"),
      ("_battery", "click me now please"),
      ("_battery", "обычный русский текст"),
      ("_battery", "МОСКВА calling"))
      .toDF("source", "text")
  }

  /** Q520: confusable-skeleton spoof audit — q513's operational payoff
    * (the q516-for-q511 pattern): q513 DETECTS mixed-script tokens; this
    * resolves them — each token is skeleton-folded through the
    * [[ConfusablesCyr]]→[[ConfusablesLat]] translate map, a token is
    * MASQUERADING when it contains Cyrillic yet folds to a pure
    * `[A-Za-z]+` skeleton (real Russian keeps unmapped Cyrillic and never
    * qualifies — the negative control), and a masquerading token whose
    * skeleton EXISTS in the corpus's own ASCII vocabulary is a confirmed
    * spoof of a real word ("pаypal"→"paypal"). Per source: token count,
    * masquerading count, vocabulary-hit count, first confirmed exemplar
    * as `orig=>skeleton`. Cross-engine: translate() is codepoint-parallel
    * on both engines (verified on the battery), the skeleton regex is
    * ASCII, and the min exemplar compares bytewise on both.
    *
    * Scale shape: one token explode, one broadcastable distinct ASCII
    * vocab (bounded by corpus vocabulary, not corpus size), the
    * vocabulary join restricted to the (tiny) masquerading subset.
    */
  def q520ConfusableSkeleton: Q = (s, d) => {
    val docs = Tables(s, d, "documents").select(col("source"), col("text"))
      .unionByName(confusableBattery(s))
    val tok = docs.select(col("source"), explode(toks).as("t"))
    val tk = tok
      .withColumn("skel", translate(col("t"), ConfusablesCyr, ConfusablesLat))
      .withColumn("masq", col("t").rlike("\\p{IsCyrillic}") &&
        col("skel").rlike("^[A-Za-z]+$"))
    val vocab = tok.filter(col("t").rlike("^[A-Za-z]+$"))
      .select(col("t").as("skel")).distinct()
    // broadcast discipline at 100 TB: the ASCII vocabulary is
    // corpus-vocabulary-sized (too big to broadcast at scale), but the
    // masquerading subset is tiny — so the vocab is first SEMI-JOINED
    // down to the masquerading skeletons (broadcasting the tiny probe
    // set), and only that bounded hit set is broadcast back. Every
    // broadcast side is ≤ |masquerading tokens| at any corpus size.
    val masq = tk.filter(col("masq"))
    val masqSkel = masq.select(col("skel")).distinct()
    val vocabHits = vocab.join(broadcast(masqSkel), Seq("skel"), "left_semi")
    val hits = masq
      .join(broadcast(vocabHits.withColumn("vhit", lit(1L))), Seq("skel"), "left")
    val agg = tk.groupBy(col("source")).agg(
      count(lit(1)).as("n_tokens"),
      big(sum(when(col("masq"), 1L).otherwise(0L))).as("n_masq"))
    val hagg = hits.groupBy(col("source")).agg(
      big(sum(when(col("vhit").isNotNull, 1L).otherwise(0L))).as("n_vocab_hits"),
      min(when(col("vhit").isNotNull,
        concat(col("t"), lit("=>"), col("skel")))).as("first_spoof"))
    agg.join(hagg, Seq("source"), "left")
      .select(col("source"), col("n_tokens"), col("n_masq"),
        coalesce(col("n_vocab_hits"), lit(0L)).as("n_vocab_hits"),
        col("first_spoof"))
      .orderBy(col("source"))
  }

  /** Q464: lexical-richness battery per source — Yule's K (repeat-rate,
    * length-robust), Simpson's D (collision probability) and Herdan's C
    * (log-log type/token slope), all from ONE (source, token) frequency
    * collapse: Σₘm²Vₘ = Σ_types f² and Σf(f−1) = Σf²−N, so the three
    * statistics need only (N, V, Σf²) per source — exact integers until
    * the final divisions. The authorship/templating fingerprint q309's
    * TTR-style signals can't give (K is invariant to corpus length).
    */
  def q464YulesK: Q = (s, d) => {
    val tf = Tables(s, d, "documents")
      .select(col("source"), explode(toks).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("f"))
    val per = tf.groupBy(col("source"))
      .agg(sum(col("f")).cast("long").as("n"),
        count(lit(1)).as("v"),
        sum(col("f") * col("f")).cast("long").as("s2"))
    val nD = col("n").cast("double")
    per.select(col("source"), col("n").as("n_tokens"), big(col("v")).as("v_types"),
      round(lit(10000.0) * (col("s2").cast("double") - nD) / (nD * nD), 4)
        .as("yules_k"),
      round((col("s2").cast("double") - nD) / (nD * (nD - 1.0)), 6)
        .as("simpson_d"),
      round(log(col("v").cast("double")) / log(nD), 6).as("herdan_c"))
      .orderBy(col("source"))
  }

  /** Q488: interpolated Kneser–Ney bigram perplexity per source — the
    * smoothed-LM fluency score q403's raw cross-entropy (unsmoothed MLE)
    * and q395's Good–Turing (unigram mass re-estimation only) don't
    * give: p(w|v) = (c(vw)−D)/c(v·) + D·N₁₊(v·)/c(v·)·N₁₊(·w)/B with
    * absolute discount D = 0.75 — the continuation-count backoff that
    * makes KN the standard n-gram baseline. The model is trained on the
    * whole corpus and each source is scored under it (every evaluated
    * bigram is in-vocabulary by construction, so no zero-prob branch).
    * All counts are exact ints; each log p is ONE IEEE expression from
    * ints mirrored shape-for-shape in the oracle, rounded 8 dp, and the
    * per-source sum is an exact DECIMAL product·sum (cs quantized as
    * DECIMAL(10,0) so both engines multiply decimals, not floats).
    * Aggregation shape: one bigram explode (data-sized), three bounded
    * count collapses, broadcast totals.
    */
  def q488KneserNey: Q = (s, d) => {
    val docs = Tables(s, d, "documents")
    val bgOcc = graft.Checkpoints.materialize(docs
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("source"), explode(when(size(toks) >= 2,
        zip_with(slice(toks, lit(1), size(toks) - 1),
          slice(toks, lit(2), size(toks) - 1),
          (a, b) => struct(a.as("v"), b.as("w"))))
        .otherwise(array().cast("array<struct<v:string,w:string>>"))).as("bg"))
      .select(col("source"), col("bg.v").as("v"), col("bg.w").as("w")))
    val bg = bgOcc.groupBy(col("v"), col("w")).agg(count(lit(1)).as("cvw"))
    val lft = bg.groupBy(col("v"))
      .agg(sum(col("cvw")).cast("long").as("cv"), count(lit(1)).as("n1v"))
    val rgt = bg.groupBy(col("w")).agg(count(lit(1)).as("n1w"))
    val btot = bg.agg(count(lit(1)).as("bb"))
    val gs = bgOcc.groupBy(col("source"), col("v"), col("w"))
      .agg(count(lit(1)).as("cs"))
    val dD = lit(0.75)
    val p = (col("cvw").cast("double") - dD) / col("cv").cast("double") +
      dD * col("n1v").cast("double") / col("cv").cast("double") *
        (col("n1w").cast("double") / col("bb").cast("double"))
    val terms = gs.join(bg, Seq("v", "w")).join(lft, Seq("v"))
      .join(rgt, Seq("w")).crossJoin(broadcast(btot))
      .select(col("source"), col("cs"),
        (round(log(p), 8).cast(DecimalType(18, 8))
          * col("cs").cast(DecimalType(10, 0))).as("t"))
    val sumD = sum(col("t")).cast(DecimalType(38, 8)).cast("double")
    val per = terms.groupBy(col("source"))
      .agg(sum(col("cs")).cast("long").as("n_bigrams"), sumD.as("lsum"))
    per.select(col("source"), col("n_bigrams"),
        round(col("lsum") * -1.0 / col("n_bigrams").cast("double"), 6)
          .as("cross_entropy_nats"),
        round(exp(col("lsum") * -1.0 / col("n_bigrams").cast("double")), 4)
          .as("perplexity"))
      .orderBy(col("source"))
  }

  /** Q491: UMass topic coherence per source — do a source's top terms
    * actually CO-OCCUR in its documents (the corpus-health signal q95's
    * global collocation lift and q401's cross-corpus keyness don't give:
    * a source whose frequent terms never share a document is template
    * noise, not topical text)? C = Σᵢ<ⱼ ln((D(wᵢ,wⱼ)+1)/D(wⱼ)) over the
    * source's top-10 document-frequency terms, rank-ordered (the +1
    * smoothing is the published UMass form). Counts are exact ints; each
    * log term is one IEEE expression rounded 8 dp, decimal-summed. The
    * co-occurrence join runs over the TOP-TERM-FILTERED doc-term
    * relation (≤10 terms × docs per source), never the full vocabulary —
    * the rank cut happens before the pair explosion.
    */
  def q491UmassCoherence: Q = (s, d) => {
    val dt = graft.Checkpoints.materialize(Tables(s, d, "documents")
      .select(col("source"), col("doc_id"), explode(toks).as("tok"))
      .distinct())
    val df = dt.groupBy(col("source"), col("tok")).agg(count(lit(1)).as("df"))
    val wr = Window.partitionBy(col("source"))
      .orderBy(col("df").desc, col("tok"))
    val top = graft.Checkpoints.materialize(df
      .withColumn("rk", row_number().over(wr)).filter(col("rk") <= 10))
    val dtTop = dt.join(top.select(col("source"), col("tok"), col("rk")),
      Seq("source", "tok"))
    val co = dtTop.select(col("source"), col("doc_id"),
        col("tok").as("wi"), col("rk").as("ri"))
      .join(dtTop.select(col("source"), col("doc_id"),
        col("tok").as("wj"), col("rk").as("rj")), Seq("source", "doc_id"))
      .filter(col("ri") < col("rj"))
      .groupBy(col("source"), col("wi"), col("wj"))
      .agg(count(lit(1)).as("dij"))
    // the FULL rank-pair grid (≤45 rows per source), LEFT-joined to the
    // observed co-occurrences: a pair that never shares a document still
    // contributes ln(1/D(wj)) — dropping it would bias C upward exactly
    // on the template-noise sources this query exists to flag
    val grid = top.select(col("source"), col("tok").as("wi"), col("rk").as("ri"))
      .join(top.select(col("source"), col("tok").as("wj"),
        col("rk").as("rj"), col("df").as("dj")), Seq("source"))
      .filter(col("ri") < col("rj"))
    val terms = grid
      .join(co, Seq("source", "wi", "wj"), "left")
      .select(col("source"),
        round(log((coalesce(col("dij"), lit(0L)).cast("double") + 1.0)
          / col("dj").cast("double")), 8)
          .cast(DecimalType(18, 8)).as("t"))
    terms.groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        round(sum(col("t")).cast(DecimalType(38, 8)).cast("double"), 6)
          .as("coherence"))
      .orderBy(col("source"))
  }

  val queries: Map[String, Q] = Map(
    "q523_lang_script_consistency" -> q523LangScriptConsistency,
    "q522_nfc_dedup_resolve" -> q522NfcDedupResolve,
    "q520_confusable_skeleton" -> q520ConfusableSkeleton,
    "q519_token_budget" -> q519TokenBudget,
    "q518_match_norm_dedup" -> q518MatchNormDedup,
    "q517_multibyte_fuzzy_join" -> q517MultibyteFuzzyJoin,
    "q491_umass_coherence" -> q491UmassCoherence,
    "q488_kneser_ney" -> q488KneserNey,
    "q464_yules_k" -> q464YulesK,
    "q463_jaro_winkler_pairs" -> q463JaroWinklerPairs,
    "q430_token_dispersion" -> q430TokenDispersion,
    "q419_cochran_q" -> q419CochranQ,
    "q421_cronbach_alpha" -> q421CronbachAlpha,
    "q401_keyness" -> q401Keyness,
    "q402_js_divergence" -> q402JsDivergence,
    "q403_cross_entropy" -> q403CrossEntropy,
    "q404_fleiss_kappa" -> q404FleissKappa,
    "q405_readability" -> q405Readability,
    "q395_good_turing" -> q395GoodTuring,
    "q392_burrows_delta" -> q392BurrowsDelta,
    "q385_heaps_law" -> q385HeapsLaw,
    "q516_nfc_dedup" -> q516NfcDedup,
    "q513_mixed_script" -> q513MixedScript,
    "q512_script_profile" -> q512ScriptProfile,
    "q511_nfc_audit" -> q511NfcAudit,
    "q510_multibyte_fuzzy" -> q510MultibyteFuzzy,
    "q388_char_bigram_entropy" -> q388CharBigramEntropy,
    "q360_self_bleu" -> q360SelfBleu,
    "q349_dispersion" -> q349Dispersion,
    "q339_zipf_slope" -> q339ZipfSlope,
    "q272_fuzzy_join_capped" -> q272FuzzyJoinCapped,
    "q262_fuzzy_dedup_clusters" -> q262FuzzyDedupClusters,
    "q261_greedy_maxcover" -> q261GreedyMaxcover,
    "q309_lexical_diversity" -> q309LexicalDiversity,
    "q258_fuzzy_blocked_join" -> q258FuzzyBlockedJoin,
    "q259_textrank_keywords" -> q259TextrankKeywords,
    "q240_containment_dedup" -> q240ContainmentDedup,
    "q231_hash_features" -> q231HashFeatures,
    "q228_perplexity_eval" -> q228PerplexityEval,
    "q214_bpe_fertility" -> q214BpeFertility,
    "q211_phrase_search" -> q211PhraseSearch,
    "q209_source_overlap" -> q209SourceOverlap,
    "q148_bigram_lm" -> q148BigramLm,
    "q146_heavy_hitters" -> q146HeavyHitters,
    "q117_context_chunks" -> q117ContextChunks,
    "q118_token_entropy" -> q118TokenEntropy,
    "q133_quality_blend" -> q133QualityBlend,
    "q138_vocab_coverage" -> q138VocabCoverage,
    "q139_cluster_cap" -> q139ClusterCap,
    "q141_group_split" -> q141GroupSplit,
    "q142_bm25" -> q142Bm25,
    "q143_denylist_scrub" -> q143DenylistScrub,
    "q144_rrf_fusion" -> q144RrfFusion,
    "q134_dup_attribution" -> q134DupAttribution,
    "q135_corpus_datasheet" -> q135CorpusDatasheet,
    "q136_chunk_pairs" -> q136ChunkPairs,
    "q82_tfidf" -> q82Tfidf,
    "q80_posexplode" -> q80PosExplode,
    "q77_doc_repetition" -> q77DocRepetition,
    "q63_edit_distance" -> q63EditDistance,
    "q70_regex_tokens" -> q70RegexTokens,
    "q73_subword_vocab" -> q73SubwordVocab,
    "q95_collocations" -> q95Collocations,
    "q103_array_setops" -> q103ArraySetOps,
    "q104_string_shape" -> q104StringShape,
    "q21_string_funcs" -> q21StringFuncs,
    "q26_date_enrich" -> q26DateEnrich,
    "q27_array_parse" -> q27ArrayParse,
    "q28_dedup_exact" -> q28DedupExact,
    "q29_token_topk" -> q29TokenTopK,
    "q34_text_quality" -> q34TextQuality,
    "q36_fingerprint" -> q36Fingerprint,
    "q38_ngram_jaccard" -> q38NgramJaccard,
    "q160_pii_redaction" -> q160PiiRedaction,
    "q161_gopher_repetition" -> q161GopherRepetition,
    "q166_bpe_merges" -> q166BpeMerges,
    "q167_winnowing" -> q167Winnowing,
    "q168_distribution_drift" -> q168DistributionDrift,
    "q169_winnow_match" -> q169WinnowMatch)

  /** The q261 oracle: the same 8 greedy max-cover steps unrolled as
    * MATERIALIZED CTEs over q240's rare-5-gram kernel, running covered
    * total as a window sum over the 8-row trace.
    */
  private val maxcoverSql: String = {
    val steps = (1 to 8).map { t =>
      val base =
        s"""s$t AS MATERIALIZED (SELECT doc_id, COUNT(*) AS gain FROM g${t - 1}
           |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1)""".stripMargin
      if (t < 8) base + s""",
        |c$t AS MATERIALIZED (SELECT g FROM g${t - 1}
        |  WHERE doc_id = (SELECT doc_id FROM s$t)),
        |g$t AS MATERIALIZED (SELECT a.doc_id, a.g FROM g${t - 1} a
        |  LEFT JOIN c$t ON a.g = c$t.g WHERE c$t.g IS NULL)""".stripMargin
      else base
    }.mkString(",\n")
    val unions = (1 to 8)
      .map(t => s"SELECT $t AS step, doc_id, gain FROM s$t")
      .mkString(" UNION ALL ")
    s"""WITH tk AS (
       |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |  FROM documents),
       |shg AS MATERIALIZED (
       |  SELECT DISTINCT doc_id,
       |    tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] || ' ' ||
       |    tk[i + 3] || ' ' || tk[i + 4] AS g
       |  FROM tk, UNNEST(range(1, GREATEST(len(tk) - 3, 1))) AS u(i)),
       |rare AS (SELECT g FROM shg GROUP BY g HAVING COUNT(*) <= 64),
       |g0 AS MATERIALIZED (
       |  SELECT shg.doc_id, shg.g FROM shg JOIN rare ON shg.g = rare.g),
       |$steps
       |SELECT CAST(step AS BIGINT) AS step, doc_id, CAST(gain AS BIGINT) AS gain,
       |  CAST(SUM(gain) OVER (ORDER BY step) AS BIGINT) AS covered_total
       |FROM ($unions) ORDER BY step""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "q519_token_budget" ->
      """WITH b(source, text) AS (VALUES
        |  ('_battery', '東京は日本の首都です'),
        |  ('_battery', 'カタカナのテキスト'),
        |  ('_battery', 'mixed 日本語テキスト and english words'),
        |  ('_battery', 'plain ascii words only here')),
        |d AS (SELECT source, text FROM documents
        |  UNION ALL SELECT source, text FROM b),
        |c AS (SELECT source,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS wt,
        |    len(regexp_extract_all(text,
        |      '[\p{Han}\p{Hiragana}\p{Katakana}]')) AS cc,
        |    strlen(text) AS nb
        |  FROM d)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(wt) AS BIGINT) AS ws_tokens,
        |  CAST(SUM(cc) AS BIGINT) AS cjk_cp,
        |  CAST(SUM(nb) AS BIGINT) AS n_bytes,
        |  CAST(SUM(wt) + SUM(cc) AS BIGINT) AS est_tokens,
        |  ROUND(CAST(SUM(nb) AS DOUBLE)
        |    / CAST(SUM(wt) + SUM(cc) AS DOUBLE), 4) AS bytes_per_token
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q520_confusable_skeleton" ->
      raw"""WITH b(source, text) AS (VALUES
        |  ('_battery', 'pаypal аccount login'),
        |  ('_battery', 'paypal account login secure'),
        |  ('_battery', 'сlick mе now'),
        |  ('_battery', 'click me now please'),
        |  ('_battery', 'обычный русский текст'),
        |  ('_battery', 'МОСКВА calling')),
        |d AS (SELECT source, text FROM documents
        |  UNION ALL SELECT source, text FROM b),
        |tok AS (SELECT source, t
        |  FROM d, unnest(string_split(text, ' ')) AS u(t) WHERE t <> ''),
        |mq AS (SELECT source, t,
        |    translate(t, '$ConfusablesCyr', '$ConfusablesLat') AS skel,
        |    (regexp_matches(t, '\p{Cyrillic}') AND regexp_matches(
        |      translate(t, '$ConfusablesCyr', '$ConfusablesLat'),
        |      '^[A-Za-z]+$$')) AS masq
        |  FROM tok),
        |vocab AS (SELECT DISTINCT t AS skel FROM tok
        |  WHERE regexp_matches(t, '^[A-Za-z]+$$')),
        |hits AS (SELECT m.source, m.t, m.skel, (v.skel IS NOT NULL) AS vhit
        |  FROM mq m LEFT JOIN vocab v ON m.skel = v.skel WHERE m.masq),
        |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN masq THEN 1 ELSE 0 END) AS BIGINT) AS n_masq
        |  FROM mq GROUP BY source),
        |hagg AS (SELECT source,
        |    CAST(SUM(CASE WHEN vhit THEN 1 ELSE 0 END) AS BIGINT) AS n_vocab_hits,
        |    MIN(CASE WHEN vhit THEN t || '=>' || skel END) AS first_spoof
        |  FROM hits GROUP BY source)
        |SELECT a.source, a.n_tokens, a.n_masq,
        |  CAST(COALESCE(h.n_vocab_hits, 0) AS BIGINT) AS n_vocab_hits,
        |  h.first_spoof
        |FROM agg a LEFT JOIN hagg h ON a.source = h.source
        |ORDER BY a.source""".stripMargin,
    "q517_multibyte_fuzzy_join" ->
      """WITH batt(k, text) AS (VALUES
        |  (-1, 'Иванов Сергей Петрович'),
        |  (-2, 'Иванов Сергей Петрову'),
        |  (-3, 'Иванов Сергей Пвтрович'),
        |  (-4, '山田 太郎 東京都'),
        |  (-5, '山田 太郎 京都府'),
        |  (-6, 'Kunde Herr Müller'),
        |  (-7, 'Kunde Herr Mueller'),
        |  (-8, 'Kunde Herr Muller'),
        |  (-9, 'ja greeting こんにちは'),
        |  (-10, 'ja greeting こんばんは'),
        |  (-11, 'menu item cafe' || chr(769)),
        |  (-12, 'menu item café'),
        |  (-13, 'menu item cafe'),
        |  (-14, 'emoji row 😀😁😂'),
        |  (-15, 'emoji row 😀😂😁'),
        |  (-16, 'город один Орёл'),
        |  (-17, 'город один Орел')),
        |src AS (SELECT doc_id AS k, text FROM documents
        |        UNION ALL SELECT k, text FROM batt),
        |nm AS (SELECT k, substring(text, 1, 40) AS nm,
        |    split_part(text, ' ', 1) AS w0, split_part(text, ' ', 2) AS w1
        |  FROM src),
        |pairs AS (
        |  SELECT a.k AS k1, b.k AS k2,
        |    CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
        |    GREATEST(strlen(a.nm), strlen(b.nm)) AS mxl
        |  FROM nm a JOIN nm b ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.k < b.k
        |  WHERE strlen(a.nm) <> length(a.nm) OR strlen(b.nm) <> length(b.nm))
        |SELECT k1, k2, dist,
        |  ROUND(CAST(1 AS DOUBLE) - CAST(dist AS DOUBLE)
        |    / CAST(mxl AS DOUBLE), 6) AS sim
        |FROM pairs ORDER BY dist, k1, k2 LIMIT 20""".stripMargin,
    "q491_umass_coherence" ->
      """WITH dt AS MATERIALIZED (SELECT DISTINCT source, doc_id, u.t AS tok
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |df AS MATERIALIZED (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM dt GROUP BY 1, 2),
        |top AS MATERIALIZED (SELECT source, tok, df, rk FROM (
        |  SELECT source, tok, df, CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY df DESC, tok) AS BIGINT) AS rk FROM df)
        |  WHERE rk <= 10),
        |dtt AS MATERIALIZED (SELECT dt.source, dt.doc_id, dt.tok, top.rk
        |  FROM dt JOIN top ON dt.source = top.source AND dt.tok = top.tok),
        |co AS MATERIALIZED (SELECT a.source, a.tok AS wi, b.tok AS wj,
        |    CAST(COUNT(*) AS BIGINT) AS dij
        |  FROM dtt a JOIN dtt b ON a.source = b.source
        |    AND a.doc_id = b.doc_id AND a.rk < b.rk
        |  GROUP BY 1, 2, 3),
        |grid AS (SELECT a.source, a.tok AS wi, b.tok AS wj, b.df AS dj
        |  FROM top a JOIN top b ON a.source = b.source AND a.rk < b.rk),
        |terms AS (SELECT grid.source,
        |    CAST(ROUND(LN((CAST(COALESCE(dij, 0) AS DOUBLE)
        |      + CAST('1.0' AS DOUBLE)) / CAST(dj AS DOUBLE)), 8)
        |      AS DECIMAL(18,8)) AS t
        |  FROM grid LEFT JOIN co ON grid.source = co.source
        |    AND grid.wi = co.wi AND grid.wj = co.wj)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  ROUND(CAST(CAST(SUM(t) AS DECIMAL(38,8)) AS DOUBLE), 6) AS coherence
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "q488_kneser_ney" ->
      """WITH tk AS (SELECT source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |bgo AS MATERIALIZED (SELECT source, tk[u.i] AS v, tk[u.i + 1] AS w
        |  FROM tk, unnest(range(1, len(tk))) AS u(i)),
        |bg AS MATERIALIZED (SELECT v, w, CAST(COUNT(*) AS BIGINT) AS cvw
        |  FROM bgo GROUP BY 1, 2),
        |lft AS MATERIALIZED (SELECT v, CAST(SUM(cvw) AS BIGINT) AS cv,
        |    CAST(COUNT(*) AS BIGINT) AS n1v FROM bg GROUP BY 1),
        |rgt AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS n1w
        |  FROM bg GROUP BY 1),
        |btot AS (SELECT CAST(COUNT(*) AS BIGINT) AS bb FROM bg),
        |gs AS MATERIALIZED (SELECT source, v, w,
        |    CAST(COUNT(*) AS BIGINT) AS cs FROM bgo GROUP BY 1, 2, 3),
        |terms AS (SELECT gs.source, cs,
        |    CAST(ROUND(LN((CAST(cvw AS DOUBLE) - CAST('0.75' AS DOUBLE))
        |        / CAST(cv AS DOUBLE)
        |      + CAST('0.75' AS DOUBLE) * CAST(n1v AS DOUBLE)
        |        / CAST(cv AS DOUBLE)
        |        * (CAST(n1w AS DOUBLE) / CAST(bb AS DOUBLE))), 8)
        |      AS DECIMAL(18,8)) * CAST(cs AS DECIMAL(10,0)) AS t
        |  FROM gs JOIN bg USING (v, w) JOIN lft USING (v)
        |    JOIN rgt USING (w) CROSS JOIN btot)
        |SELECT source, CAST(SUM(cs) AS BIGINT) AS n_bigrams,
        |  ROUND(CAST(CAST(SUM(t) AS DECIMAL(38,8)) AS DOUBLE)
        |    * CAST('-1.0' AS DOUBLE) / CAST(SUM(cs) AS DOUBLE), 6)
        |    AS cross_entropy_nats,
        |  ROUND(EXP(CAST(CAST(SUM(t) AS DECIMAL(38,8)) AS DOUBLE)
        |    * CAST('-1.0' AS DOUBLE) / CAST(SUM(cs) AS DOUBLE)), 4)
        |    AS perplexity
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,
    "q464_yules_k" ->
      """WITH tf AS (SELECT source, t AS tok, CAST(COUNT(*) AS BIGINT) AS f
        |  FROM (SELECT source, u.t FROM documents,
        |      unnest(string_split(text, ' ')) AS u(t))
        |  WHERE t <> ''
        |  GROUP BY 1, 2),
        |per AS (SELECT source, CAST(SUM(f) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS v,
        |    CAST(SUM(f * f) AS BIGINT) AS s2
        |  FROM tf GROUP BY 1)
        |SELECT source, n AS n_tokens, v AS v_types,
        |  ROUND(CAST('10000.0' AS DOUBLE)
        |    * (CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 4) AS yules_k,
        |  ROUND((CAST(s2 AS DOUBLE) - CAST(n AS DOUBLE))
        |    / (CAST(n AS DOUBLE)
        |      * (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE))), 6) AS simpson_d,
        |  ROUND(LN(CAST(v AS DOUBLE)) / LN(CAST(n AS DOUBLE)), 6) AS herdan_c
        |FROM per ORDER BY source""".stripMargin,
    "q522_nfc_dedup_resolve" ->
      """WITH b(doc_id, text) AS (VALUES
        |  (9000001, 'café menu'),
        |  (9000002, 'cafe' || chr(769) || ' menu'),
        |  (9000003, 'Ångström units'),
        |  (9000004, 'A' || chr(778) || 'ngstro' || chr(776) || 'm units'),
        |  (9000005, 'plain duplicate'),
        |  (9000006, 'plain duplicate')),
        |d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |  UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM b),
        |h AS (SELECT doc_id, md5(text) AS hr,
        |    md5(nfc_normalize(text)) AS hn FROM d),
        |s AS (SELECT hn, MIN(doc_id) AS survivor FROM h GROUP BY hn)
        |SELECT x.doc_id AS dropped, s.survivor,
        |  CASE WHEN x.hr = hs.hr THEN 'exact' ELSE 'canonical' END AS kind
        |FROM h x JOIN s ON x.hn = s.hn AND x.doc_id <> s.survivor
        |JOIN h hs ON hs.doc_id = s.survivor
        |ORDER BY dropped""".stripMargin,
    "q523_lang_script_consistency" ->
      """WITH b(doc_id, lang, text) AS (VALUES
        |  (9200001, 'zh', '汉字文本在这里'),
        |  (9200002, 'zh', 'romanized pinyin only'),
        |  (9200003, 'ru', 'русский текст'),
        |  (9200004, 'ru', 'translit russkiy'),
        |  (9200005, 'ja', 'ひらがなと漢字'),
        |  (9200006, 'en', 'plain english text')),
        |d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, text
        |    FROM documents
        |  UNION ALL SELECT CAST(doc_id AS BIGINT), lang, text FROM b),
        |f AS (SELECT doc_id, lang,
        |    CASE WHEN lang IN ('en','es','de','fr')
        |        THEN regexp_matches(text, '\p{Latin}')
        |      WHEN lang = 'zh' THEN regexp_matches(text, '\p{Han}')
        |      WHEN lang = 'ru' THEN regexp_matches(text, '\p{Cyrillic}')
        |      WHEN lang = 'ja' THEN regexp_matches(text,
        |        '[\p{Han}\p{Hiragana}\p{Katakana}]')
        |      ELSE TRUE END AS ok
        |  FROM d)
        |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_mismatch,
        |  MIN(CASE WHEN NOT ok THEN doc_id END) AS first_mismatch,
        |  ROUND(CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 4) AS mismatch_frac
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,
    "q516_nfc_dedup" ->
      """WITH b(doc_id, text) AS (VALUES
        |  (9000001, 'café menu'),
        |  (9000002, 'cafe' || chr(769) || ' menu'),
        |  (9000003, 'Ångström units'),
        |  (9000004, 'A' || chr(778) || 'ngstro' || chr(776) || 'm units'),
        |  (9000005, 'plain duplicate'),
        |  (9000006, 'plain duplicate')),
        |d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
        |  UNION ALL SELECT CAST(doc_id AS BIGINT), text FROM b),
        |h AS (SELECT doc_id, md5(text) AS hr,
        |    md5(nfc_normalize(text)) AS hn FROM d),
        |r AS (SELECT COALESCE(CAST(SUM(c) AS BIGINT), 0) AS raw_dup_docs
        |  FROM (SELECT COUNT(*) AS c FROM h GROUP BY hr) g WHERE c > 1),
        |n AS (SELECT COALESCE(CAST(SUM(c) AS BIGINT), 0) AS nfc_dup_docs
        |  FROM (SELECT COUNT(*) AS c FROM h GROUP BY hn) g WHERE c > 1)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
        |  raw_dup_docs, nfc_dup_docs,
        |  nfc_dup_docs - raw_dup_docs AS nfc_only_dup_docs
        |FROM r CROSS JOIN n""".stripMargin,
    "q511_nfc_audit" ->
      """WITH p(id, s) AS (VALUES
        |  (1, 'café'),
        |  (2, 'cafe' || chr(769)),
        |  (3, chr(8491)),
        |  (4, 'A' || chr(778)),
        |  (5, chr(64257) || 'le'),
        |  (6, chr(12459) || chr(12441)),
        |  (7, 'plain ascii'),
        |  (8, chr(1080) || chr(774)),
        |  (9, 'Ångström'),
        |  (10, 'q' || chr(775) || chr(803)))
        |SELECT CAST(id AS BIGINT) AS id, s, nfc_normalize(s) AS nfc,
        |  (s <> nfc_normalize(s)) AS changed,
        |  CAST(length(s) AS BIGINT) AS cp_before,
        |  CAST(length(nfc_normalize(s)) AS BIGINT) AS cp_after
        |FROM p ORDER BY id""".stripMargin,
    "q512_script_profile" ->
      """WITH b(source, text) AS (VALUES
        |  ('_battery', 'Привет мир Hello'),
        |  ('_battery', '山田太郎 reads 漢字 daily'),
        |  ('_battery', 'αβγ mixed with Latin123'),
        |  ('_battery', 'чисто кириллица')),
        |d AS (SELECT source, text FROM documents
        |  UNION ALL SELECT source, text FROM b)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_cp,
        |  CAST(SUM(strlen(text)) AS BIGINT) AS n_bytes,
        |  CAST(SUM(len(regexp_extract_all(text, '\p{Latin}'))) AS BIGINT) AS latin_cp,
        |  CAST(SUM(len(regexp_extract_all(text, '\p{Cyrillic}'))) AS BIGINT) AS cyrillic_cp,
        |  CAST(SUM(len(regexp_extract_all(text, '\p{Han}'))) AS BIGINT) AS han_cp,
        |  CAST(SUM(len(regexp_extract_all(text, '\p{Greek}'))) AS BIGINT) AS greek_cp,
        |  CAST(SUM(len(regexp_extract_all(text, '\p{Nd}'))) AS BIGINT) AS digit_cp,
        |  ROUND(CAST(SUM(strlen(text)) AS DOUBLE)
        |    / CAST(SUM(length(text)) AS DOUBLE), 4) AS byte_inflation
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q513_mixed_script" ->
      """WITH b(source, text) AS (VALUES
        |  ('_battery', 'pаypal is sаfe'),
        |  ('_battery', 'обычный русский текст'),
        |  ('_battery', 'normal latin text'),
        |  ('_battery', 'смешанный tокен here')),
        |d AS (SELECT source, text FROM documents
        |  UNION ALL SELECT source, text FROM b),
        |tok AS (SELECT source, t
        |  FROM d, unnest(string_split(text, ' ')) AS u(t) WHERE t <> ''),
        |m AS (SELECT source, t,
        |    (regexp_matches(t, '\p{Latin}')
        |      AND regexp_matches(t, '\p{Cyrillic}')) AS mixed
        |  FROM tok)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN mixed THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed,
        |  MIN(CASE WHEN mixed THEN t END) AS first_mixed
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q510_multibyte_fuzzy" ->
      """WITH p(pair_id, a, b) AS (VALUES
        |  (1, 'Иванов', 'Иванова'),
        |  (2, 'Пётр', 'Петр'),
        |  (3, 'müller', 'mueller'),
        |  (4, 'garcía', 'garcia'),
        |  (5, '山田太郎', '山田花子'),
        |  (6, 'こんにちは', 'こんばんは'),
        |  (7, 'ABC', 'АВС'),
        |  (8, '😀😁😂', '😀😂😁'),
        |  (9, 'café', 'cafe'),
        |  (10, 'Ελλάδα', 'Ελλαδα'),
        |  (11, 'Müller-Lüdenscheidt', 'Mueller-Ludenscheidt'),
        |  (12, '東京都渋谷区', '東京都北区'))
        |SELECT CAST(pair_id AS BIGINT) AS pair_id, a, b,
        |  ROUND(jaro_winkler_similarity(a, b), 6) AS jw
        |FROM p ORDER BY pair_id""".stripMargin,
    "q463_jaro_winkler_pairs" ->
      """WITH p AS (SELECT p_partkey AS k, p_name AS nm,
        |    split_part(p_name, ' ', 1) AS blk FROM part),
        |pr AS (SELECT a.k AS k1, b.k AS k2,
        |    ROUND(jaro_winkler_similarity(a.nm, b.nm), 6) AS jw
        |  FROM p a JOIN p b ON a.blk = b.blk AND a.k < b.k)
        |SELECT k1, k2, jw FROM pr
        |WHERE jw >= CAST('0.94' AS DOUBLE)
        |ORDER BY jw DESC, k1, k2
        |LIMIT 20""".stripMargin,
    "q430_token_dispersion" ->
      """WITH tk AS (
        |  SELECT source, u.t AS tok
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |stc AS MATERIALIZED (
        |  SELECT source, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
        |srct AS MATERIALIZED (SELECT source, CAST(SUM(cnt) AS BIGINT) AS stot
        |  FROM stc GROUP BY 1),
        |alls AS (SELECT CAST(SUM(stot) AS BIGINT) AS gtot,
        |    CAST(COUNT(*) AS BIGINT) AS k FROM srct),
        |top AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM stc
        |  GROUP BY 1 ORDER BY gcnt DESC, tok LIMIT 10),
        |grid AS (SELECT top.tok, top.gcnt, srct.source, srct.stot,
        |    COALESCE(stc.cnt, 0) AS c
        |  FROM top CROSS JOIN srct
        |  LEFT JOIN stc ON stc.tok = top.tok AND stc.source = srct.source),
        |terms AS (SELECT tok, k,
        |    CAST(ROUND(ABS(CAST(c AS DOUBLE) / CAST(gcnt AS DOUBLE)
        |      - CAST(stot AS DOUBLE) / CAST(gtot AS DOUBLE)), 8)
        |      AS DECIMAL(28,8)) AS dpterm,
        |    CAST(ROUND(CAST(c AS DOUBLE) / CAST(stot AS DOUBLE), 10)
        |      AS DECIMAL(28,10)) AS v,
        |    CAST(ROUND((CAST(c AS DOUBLE) / CAST(stot AS DOUBLE))
        |      * (CAST(c AS DOUBLE) / CAST(stot AS DOUBLE)), 14)
        |      AS DECIMAL(30,14)) AS vv,
        |    c
        |  FROM grid CROSS JOIN alls),
        |m AS (SELECT tok, k, CAST(SUM(dpterm) AS DOUBLE) AS dp2,
        |    CAST(SUM(v) AS DOUBLE) AS sv, CAST(SUM(vv) AS DOUBLE) AS svv,
        |    CAST(SUM(c) AS BIGINT) AS sc, CAST(SUM(c * c) AS BIGINT) AS scc
        |  FROM terms GROUP BY 1, 2)
        |SELECT tok AS token,
        |  ROUND(CAST('1.0' AS DOUBLE)
        |    - (SQRT((svv - sv * sv / CAST(k AS DOUBLE))
        |        / (CAST(k AS DOUBLE) - CAST('1.0' AS DOUBLE)))
        |      / (sv / CAST(k AS DOUBLE)))
        |      / SQRT(CAST(k AS DOUBLE) - CAST('1.0' AS DOUBLE)), 6) AS d_juilland,
        |  ROUND(dp2 / CAST('2.0' AS DOUBLE), 6) AS dp_gries,
        |  ROUND(((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
        |      / CAST(k AS DOUBLE)) / (CAST(k AS DOUBLE) - CAST('1.0' AS DOUBLE)))
        |    / (CAST(sc AS DOUBLE) / CAST(k AS DOUBLE)), 6) AS vmr
        |FROM m ORDER BY token""".stripMargin,
    "q419_cochran_q" ->
      """WITH r AS (SELECT
        |    (CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) >= 30
        |      THEN 1 ELSE 0 END) AS r1,
        |    (CASE WHEN len(list_distinct(list_filter(string_split(text, ' '),
        |        x -> x <> ''))) >= 25 THEN 1 ELSE 0 END) AS r2,
        |    (CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END) AS r3
        |  FROM documents),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(r1) AS BIGINT) AS g1, CAST(SUM(r2) AS BIGINT) AS g2,
        |    CAST(SUM(r3) AS BIGINT) AS g3,
        |    CAST(SUM(r1 + r2 + r3) AS BIGINT) AS t,
        |    CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS sl2 FROM r)
        |SELECT n_items,
        |  ROUND(CAST('2.0' AS DOUBLE)
        |    * CAST(3 * (g1 * g1 + g2 * g2 + g3 * g3) - t * t AS DOUBLE)
        |    / CAST(3 * t - sl2 AS DOUBLE), 6) AS q_cochran,
        |  CAST(2 AS BIGINT) AS df
        |FROM m""".stripMargin,
    "q421_cronbach_alpha" ->
      """WITH it AS (SELECT
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS x1,
        |    CAST(len(list_distinct(list_filter(string_split(text, ' '),
        |      x -> x <> ''))) AS BIGINT) AS x2,
        |    CAST(n_chars AS BIGINT) AS x3
        |  FROM documents),
        |it2 AS (SELECT x1, x2, x3, x1 + x2 + x3 AS xt FROM it),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x1 * x1) AS BIGINT) AS s11,
        |    CAST(SUM(x2) AS BIGINT) AS s2, CAST(SUM(x2 * x2) AS BIGINT) AS s22,
        |    CAST(SUM(x3) AS BIGINT) AS s3, CAST(SUM(x3 * x3) AS BIGINT) AS s33,
        |    CAST(SUM(xt) AS BIGINT) AS st, CAST(SUM(xt * xt) AS BIGINT) AS stt
        |  FROM it2),
        |v AS (SELECT n,
        |    (CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE)) AS v1,
        |    (CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE)) AS v2,
        |    (CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE)) AS v3,
        |    (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
        |      / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - CAST('1.0' AS DOUBLE)) AS vt
        |  FROM m)
        |SELECT n, ROUND(v1, 4) AS var_tokens, ROUND(v2, 4) AS var_distinct,
        |  ROUND(v3, 4) AS var_chars,
        |  ROUND(CAST('1.5' AS DOUBLE)
        |    * (CAST('1.0' AS DOUBLE) - (v1 + v2 + v3) / vt), 6) AS alpha
        |FROM v""".stripMargin,
    "q401_keyness" ->
      """WITH tk AS (
        |  SELECT source, u.t AS tok
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |stc AS MATERIALIZED (
        |  SELECT source, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
        |ct AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS c_tot FROM stc GROUP BY 1),
        |gt AS (SELECT tok, CAST(SUM(cnt) AS BIGINT) AS g_cnt FROM stc GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS g_tot FROM stc),
        |j AS (SELECT stc.source, stc.tok, cnt, c_tot, g_cnt, g_tot
        |  FROM stc JOIN ct USING (source) JOIN gt USING (tok) CROSS JOIN tot),
        |sc AS (SELECT source, tok AS token,
        |    ROUND(CAST('2.0' AS DOUBLE) * (
        |      CASE WHEN cnt > 0 THEN CAST(cnt AS DOUBLE)
        |        * LN(CAST(cnt AS DOUBLE) / (CAST(c_tot AS DOUBLE)
        |          * CAST(g_cnt AS DOUBLE) / CAST(g_tot AS DOUBLE)))
        |        ELSE CAST('0.0' AS DOUBLE) END
        |      + CASE WHEN g_cnt > cnt THEN CAST(g_cnt - cnt AS DOUBLE)
        |        * LN(CAST(g_cnt - cnt AS DOUBLE) / (CAST(g_tot - c_tot AS DOUBLE)
        |          * CAST(g_cnt AS DOUBLE) / CAST(g_tot AS DOUBLE)))
        |        ELSE CAST('0.0' AS DOUBLE) END), 4) AS g2,
        |    CASE WHEN CAST(cnt AS DECIMAL(19,0)) * CAST(g_tot - c_tot AS DECIMAL(19,0))
        |        >= CAST(g_cnt - cnt AS DECIMAL(19,0)) * CAST(c_tot AS DECIMAL(19,0))
        |      THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS direction
        |  FROM j),
        |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY g2 DESC, token) AS BIGINT) AS keyword_rank FROM sc)
        |SELECT source, token, g2, direction, keyword_rank
        |FROM rk WHERE keyword_rank <= 3 ORDER BY source, keyword_rank""".stripMargin,
    "q402_js_divergence" ->
      """WITH tk AS (
        |  SELECT source, u.t AS tok
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |stc AS MATERIALIZED (
        |  SELECT source, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
        |tots AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM stc GROUP BY 1),
        |p AS MATERIALIZED (SELECT source, tok,
        |    CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS p
        |  FROM stc JOIN tots USING (source)),
        |grid AS (SELECT a.source AS src_a, b.source AS src_b, v.tok
        |  FROM tots a CROSS JOIN tots b
        |    CROSS JOIN (SELECT DISTINCT tok FROM stc) v
        |  WHERE a.source < b.source),
        |pr AS (SELECT g.src_a, g.src_b, pa.p AS pa, pb.p AS pb
        |  FROM grid g
        |    LEFT JOIN p pa ON pa.source = g.src_a AND pa.tok = g.tok
        |    LEFT JOIN p pb ON pb.source = g.src_b AND pb.tok = g.tok
        |  WHERE pa.p IS NOT NULL OR pb.p IS NOT NULL)
        |SELECT src_a, src_b,
        |  ROUND(CAST(SUM(CAST(ROUND(CAST('0.5' AS DOUBLE) * (
        |    CASE WHEN pa IS NOT NULL THEN COALESCE(pa, CAST('0.0' AS DOUBLE))
        |      * LN(CAST('2.0' AS DOUBLE) * COALESCE(pa, CAST('0.0' AS DOUBLE))
        |        / (COALESCE(pa, CAST('0.0' AS DOUBLE)) + COALESCE(pb, CAST('0.0' AS DOUBLE))))
        |      ELSE CAST('0.0' AS DOUBLE) END
        |    + CASE WHEN pb IS NOT NULL THEN COALESCE(pb, CAST('0.0' AS DOUBLE))
        |      * LN(CAST('2.0' AS DOUBLE) * COALESCE(pb, CAST('0.0' AS DOUBLE))
        |        / (COALESCE(pa, CAST('0.0' AS DOUBLE)) + COALESCE(pb, CAST('0.0' AS DOUBLE))))
        |      ELSE CAST('0.0' AS DOUBLE) END), 12) AS DECIMAL(28,12))) AS DOUBLE), 6) AS js
        |FROM pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q403_cross_entropy" ->
      """WITH tk AS (
        |  SELECT source, u.t AS tok
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |stc AS MATERIALIZED (
        |  SELECT source, tok, COUNT(*) AS cnt FROM tk GROUP BY 1, 2),
        |tots AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS tot FROM stc GROUP BY 1),
        |vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM stc),
        |ev AS (SELECT source AS eval_src, tok,
        |    CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS pb
        |  FROM stc JOIN tots USING (source)),
        |tr AS (SELECT source AS train_src, tot AS n_a FROM tots),
        |tc AS (SELECT source AS train_src, tok, cnt AS cnt_a FROM stc)
        |SELECT tr.train_src, ev.eval_src,
        |  ROUND(-CAST(SUM(CAST(ROUND(pb * LN(CAST(COALESCE(cnt_a, 0) + 1 AS DOUBLE)
        |    / CAST(n_a + v AS DOUBLE)), 12) AS DECIMAL(28,12))) AS DOUBLE), 6) AS ce
        |FROM ev CROSS JOIN tr
        |  LEFT JOIN tc ON tc.train_src = tr.train_src AND tc.tok = ev.tok
        |  CROSS JOIN vocab
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q404_fleiss_kappa" ->
      """WITH r AS (SELECT
        |    (CASE WHEN len(list_filter(string_split(text, ' '), x -> x <> '')) >= 30
        |      THEN 1 ELSE 0 END)
        |    + (CASE WHEN len(list_distinct(list_filter(string_split(text, ' '),
        |        x -> x <> ''))) >= 25 THEN 1 ELSE 0 END)
        |    + (CASE WHEN n_chars >= 150 THEN 1 ELSE 0 END) AS n1
        |  FROM documents),
        |mom AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
        |    CAST(SUM(n1 * n1 + (3 - n1) * (3 - n1) - 3) AS BIGINT) AS pnum,
        |    CAST(SUM(n1) AS BIGINT) AS s1 FROM r)
        |SELECT n_items,
        |  ROUND(CAST(pnum AS DOUBLE)
        |    / (CAST('6.0' AS DOUBLE) * CAST(n_items AS DOUBLE)), 6) AS p_bar,
        |  ROUND((CAST(s1 AS DOUBLE) / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |      * (CAST(s1 AS DOUBLE) / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |    + (CAST('1.0' AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |      * (CAST('1.0' AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE))), 6) AS p_e,
        |  ROUND((CAST(pnum AS DOUBLE) / (CAST('6.0' AS DOUBLE) * CAST(n_items AS DOUBLE))
        |    - ((CAST(s1 AS DOUBLE) / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |      * (CAST(s1 AS DOUBLE) / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |    + (CAST('1.0' AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |      * (CAST('1.0' AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))))
        |  / (CAST('1.0' AS DOUBLE)
        |    - ((CAST(s1 AS DOUBLE) / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |      * (CAST(s1 AS DOUBLE) / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |    + (CAST('1.0' AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE)))
        |      * (CAST('1.0' AS DOUBLE) - CAST(s1 AS DOUBLE)
        |        / (CAST('3.0' AS DOUBLE) * CAST(n_items AS DOUBLE))))), 6) AS kappa
        |FROM mom""".stripMargin,
    "q405_readability" ->
      """WITH pd AS (SELECT source,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS y
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(w) AS BIGINT) AS words,
        |  CAST(SUM(y) AS BIGINT) AS syllables,
        |  ROUND(CAST('206.835' AS DOUBLE)
        |    - CAST('1.015' AS DOUBLE) * (CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |    - CAST('84.6' AS DOUBLE) * (CAST(SUM(y) AS DOUBLE) / CAST(SUM(w) AS DOUBLE)),
        |    4) AS flesch
        |FROM pd GROUP BY 1 ORDER BY 1""".stripMargin,
    "q395_good_turing" ->
      """WITH counts AS (
        |  SELECT source, u.t AS tok, COUNT(*) AS c
        |  FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) u(t)
        |  GROUP BY 1, 2)
        |SELECT source,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS v_types,
        |  CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis,
        |  ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(c) AS DOUBLE), 6) AS p_unseen,
        |  CASE WHEN SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) = 0 THEN NULL
        |    ELSE ROUND(CAST(COUNT(*) AS DOUBLE)
        |      + CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |        * CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |      / (CAST('2.0' AS DOUBLE)
        |        * CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS DOUBLE)),
        |      2) END AS chao1_vocab
        |FROM counts GROUP BY source ORDER BY source""".stripMargin,
    "q392_burrows_delta" ->
      """WITH tok AS (
        |  SELECT source, u.t AS tok
        |  FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) u(t)),
        |counts AS MATERIALIZED (
        |  SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tot
        |           FROM counts GROUP BY 1),
        |topt AS (SELECT tok FROM (
        |  SELECT tok, CAST(SUM(c) AS BIGINT) AS gc
        |  FROM counts GROUP BY 1 ORDER BY gc DESC, tok LIMIT 50)),
        |f AS (
        |  SELECT totals.source, topt.tok,
        |    ROUND(CAST(COALESCE(c, 0) AS DOUBLE) / CAST(tot AS DOUBLE), 8)
        |      AS fr
        |  FROM totals CROSS JOIN topt
        |  LEFT JOIN counts ON counts.source = totals.source
        |    AND counts.tok = topt.tok),
        |mom AS (
        |  SELECT tok, COUNT(*) AS ns,
        |    CAST(SUM(CAST(fr AS DECIMAL(18,8))) AS DOUBLE) AS sf,
        |    CAST(SUM(CAST(fr * fr AS DECIMAL(28,16))) AS DOUBLE) AS sff
        |  FROM f GROUP BY 1),
        |z AS (
        |  SELECT source, f.tok,
        |    ROUND(CASE
        |      WHEN sff - sf * sf / CAST(ns AS DOUBLE) <= 0
        |        THEN CAST('0.0' AS DOUBLE)
        |      ELSE (fr - sf / CAST(ns AS DOUBLE))
        |        / SQRT((sff - sf * sf / CAST(ns AS DOUBLE))
        |          / (CAST(ns AS DOUBLE) - CAST('1.0' AS DOUBLE))) END, 6) AS z
        |  FROM f JOIN mom ON f.tok = mom.tok),
        |pairs AS (
        |  SELECT a.source AS src_a, b.source AS src_b, a.z AS za, b.z AS zb
        |  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source)
        |SELECT src_a, src_b,
        |  ROUND(CAST(SUM(CAST(ROUND(ABS(za - zb), 6) AS DECIMAL(18,6)))
        |    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS delta
        |FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q385_heaps_law" ->
      """WITH toksrc AS (
        |  SELECT source, doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |st AS (
        |  SELECT source, doc_id, u.s.i AS idx, u.s.tok AS tok
        |  FROM toksrc, unnest(list_transform(range(1, len(tk) + 1),
        |    i -> {'i': i, 'tok': tk[i]})) AS u(s)),
        |rn AS (
        |  SELECT source, tok,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id, idx)
        |      AS rn
        |  FROM st),
        |fp AS (SELECT source, tok, MIN(rn) AS fp FROM rn GROUP BY 1, 2),
        |totals AS (SELECT source, MAX(rn) AS n_tokens FROM rn GROUP BY 1),
        |cps AS (SELECT CAST(1 AS BIGINT) << CAST(u.e AS INT) AS cp
        |        FROM unnest(range(5, 21)) u(e)),
        |grid AS (SELECT source, cp FROM totals, cps WHERE cp <= n_tokens),
        |curve AS (
        |  SELECT fp.source, cp, COUNT(*) AS types
        |  FROM fp JOIN grid ON fp.source = grid.source
        |  WHERE fp <= cp GROUP BY 1, 2),
        |pts AS (
        |  SELECT source,
        |    CAST(ROUND(LN(CAST(cp AS DOUBLE)), 6) AS DECIMAL(18,6)) AS lx,
        |    CAST(ROUND(LN(CAST(types AS DOUBLE)), 6) AS DECIMAL(18,6)) AS ly
        |  FROM curve),
        |fit AS (
        |  SELECT source, COUNT(*) AS k,
        |    CAST(SUM(lx) AS DOUBLE) AS sx, CAST(SUM(ly) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(lx * lx) AS DECIMAL(38,12)) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(lx * ly) AS DECIMAL(38,12)) AS DOUBLE) AS sxy
        |  FROM pts GROUP BY 1)
        |SELECT curve.source, cp AS tokens_seen,
        |  CAST(types AS BIGINT) AS types_seen,
        |  ROUND((CAST(k AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) AS heaps_beta
        |FROM curve JOIN fit ON curve.source = fit.source
        |ORDER BY curve.source, tokens_seen""".stripMargin,
    "q388_char_bigram_entropy" ->
      """WITH big2 AS (
        |  SELECT source, u.bg AS bg
        |  FROM documents,
        |    unnest(list_transform(range(1, length(text)),
        |      i -> substr(text, i, 2))) AS u(bg)
        |  WHERE length(text) >= 2),
        |counts AS (SELECT source, bg, COUNT(*) AS n12 FROM big2 GROUP BY 1, 2),
        |c1tot AS (
        |  SELECT source, substr(bg, 1, 1) AS c1, CAST(SUM(n12) AS BIGINT) AS n1
        |  FROM counts GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(SUM(n12) AS BIGINT) AS nn
        |        FROM counts GROUP BY 1)
        |SELECT counts.source, MAX(nn) AS n_bigrams,
        |  CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
        |  ROUND(CAST(SUM(CAST(ROUND(
        |    -(CAST(n12 AS DOUBLE) / CAST(nn AS DOUBLE))
        |      * (LN(CAST(n12 AS DOUBLE) / CAST(n1 AS DOUBLE))
        |        / LN(CAST('2.0' AS DOUBLE))), 6) AS DECIMAL(28,6)))
        |    AS DOUBLE), 6) AS cond_entropy_bits
        |FROM counts
        |JOIN c1tot ON counts.source = c1tot.source
        |  AND substr(bg, 1, 1) = c1
        |JOIN tot ON counts.source = tot.source
        |GROUP BY counts.source
        |ORDER BY counts.source""".stripMargin,
    "q360_self_bleu" ->
      """WITH toksr AS (
        |  SELECT source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |uni AS (
        |  SELECT source, u.t AS g, COUNT(*) AS c
        |  FROM toksr, unnest(tk) AS u(t) GROUP BY 1, 2),
        |g1 AS (SELECT g, SUM(c) AS gt FROM uni GROUP BY 1),
        |clip1 AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS t1,
        |    CAST(SUM(LEAST(c, gt - c)) AS BIGINT) AS cl1
        |  FROM uni JOIN g1 USING (g) GROUP BY 1),
        |bi AS (
        |  SELECT source, tk[u.i+1] || ' ' || tk[u.i+2] AS g, COUNT(*) AS c
        |  FROM toksr, unnest(range(0, len(tk) - 1)) AS u(i)
        |  WHERE len(tk) >= 2 GROUP BY 1, 2),
        |g2 AS (SELECT g, SUM(c) AS gt FROM bi GROUP BY 1),
        |clip2 AS (
        |  SELECT source, CAST(SUM(c) AS BIGINT) AS t2,
        |    CAST(SUM(LEAST(c, gt - c)) AS BIGINT) AS cl2
        |  FROM bi JOIN g2 USING (g) GROUP BY 1),
        |tots AS (SELECT SUM(t1) AS tt, COUNT(*) AS ns FROM clip1)
        |SELECT source, t1 AS n_unigrams, t2 AS n_bigrams,
        |  ROUND(CAST(cl1 AS DOUBLE) / CAST(t1 AS DOUBLE), 6) AS p1,
        |  ROUND(CAST(cl2 AS DOUBLE) / CAST(t2 AS DOUBLE), 6) AS p2,
        |  ROUND(CASE WHEN CAST(t1 AS DOUBLE)
        |      >= CAST(tt - t1 AS DOUBLE) / (CAST(ns AS DOUBLE) - CAST('1.0' AS DOUBLE))
        |    THEN CAST('1.0' AS DOUBLE)
        |    ELSE EXP(CAST('1.0' AS DOUBLE)
        |      - (CAST(tt - t1 AS DOUBLE) / (CAST(ns AS DOUBLE) - CAST('1.0' AS DOUBLE)))
        |        / CAST(t1 AS DOUBLE)) END, 6) AS brevity_penalty,
        |  ROUND(CASE WHEN cl1 = 0 OR cl2 = 0 THEN CAST('0.0' AS DOUBLE)
        |    ELSE (CASE WHEN CAST(t1 AS DOUBLE)
        |        >= CAST(tt - t1 AS DOUBLE) / (CAST(ns AS DOUBLE) - CAST('1.0' AS DOUBLE))
        |      THEN CAST('1.0' AS DOUBLE)
        |      ELSE EXP(CAST('1.0' AS DOUBLE)
        |        - (CAST(tt - t1 AS DOUBLE) / (CAST(ns AS DOUBLE) - CAST('1.0' AS DOUBLE)))
        |          / CAST(t1 AS DOUBLE)) END)
        |      * EXP(CAST('0.5' AS DOUBLE)
        |        * (LN(CAST(cl1 AS DOUBLE) / CAST(t1 AS DOUBLE))
        |          + LN(CAST(cl2 AS DOUBLE) / CAST(t2 AS DOUBLE)))) END, 6)
        |    AS self_bleu2
        |FROM clip1 JOIN clip2 USING (source), tots
        |ORDER BY source""".stripMargin,
    "q349_dispersion" ->
      """WITH tf AS (
        |  SELECT token, source, COUNT(*) AS f FROM (
        |    SELECT source, u.t AS token
        |    FROM documents, unnest(string_split(text, ' ')) AS u(t))
        |  WHERE token <> '' GROUP BY 1, 2),
        |mom AS (
        |  SELECT token, CAST(SUM(f) AS BIGINT) AS cf,
        |    CAST(SUM(f * f) AS BIGINT) AS sf2, COUNT(*) AS df
        |  FROM tf GROUP BY 1),
        |ns AS (SELECT COUNT(DISTINCT source) AS ns FROM documents)
        |SELECT token, cf, CAST(df AS BIGINT) AS df_sources,
        |  ROUND(CAST('1.0' AS DOUBLE)
        |    - SQRT((CAST(sf2 AS DOUBLE)
        |        - CAST(cf AS DOUBLE) * CAST(cf AS DOUBLE) / CAST(ns AS DOUBLE))
        |      / CAST(ns AS DOUBLE))
        |      / (CAST(cf AS DOUBLE) / CAST(ns AS DOUBLE))
        |      / SQRT(CAST(ns AS DOUBLE) - CAST('1.0' AS DOUBLE)), 6)
        |    AS dispersion
        |FROM mom, ns ORDER BY cf DESC, token LIMIT 50""".stripMargin,
    "q339_zipf_slope" ->
      """WITH f AS (
        |  SELECT token, COUNT(*) AS f FROM (
        |    SELECT u.t AS token FROM documents, unnest(string_split(text, ' ')) AS u(t))
        |  WHERE token <> ''
        |  GROUP BY token ORDER BY f DESC, token LIMIT 1000),
        |pts AS (
        |  SELECT
        |    CAST(ROUND(LN(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, token)
        |      AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
        |    CAST(ROUND(LN(CAST(f AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        |  FROM f),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
        |    CAST(CAST(SUM(x * x) AS DECIMAL(38,12)) AS DOUBLE) AS sxx,
        |    CAST(CAST(SUM(x * y) AS DECIMAL(38,12)) AS DOUBLE) AS sxy,
        |    CAST(CAST(SUM(y * y) AS DECIMAL(38,12)) AS DOUBLE) AS syy
        |  FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_tokens,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS slope,
        |  ROUND((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
        |    / CAST(n AS DOUBLE), 6) AS intercept,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |    * (CAST(n AS DOUBLE) * sxy - sx * sy)
        |    / ((CAST(n AS DOUBLE) * sxx - sx * sx)
        |      * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) AS r2
        |FROM m""".stripMargin,
    "q272_fuzzy_join_capped" ->
      """WITH nm AS (
        |  SELECT doc_id AS k, substring(text, 1, 40) AS nm,
        |    split_part(text, ' ', 1) AS w0,
        |    split_part(text, ' ', 2) AS w1,
        |    split_part(text, ' ', 3) AS w2
        |  FROM documents),
        |sz AS (SELECT w0, w1, COUNT(*) AS bsz FROM nm GROUP BY 1, 2),
        |t AS (SELECT nm.*, bsz FROM nm JOIN sz USING (w0, w1)),
        |p2 AS (
        |  SELECT a.k AS k1, b.k AS k2,
        |    CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
        |    GREATEST(length(a.nm), length(b.nm)) AS mxl
        |  FROM t a JOIN t b ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.k < b.k
        |  WHERE a.bsz <= 64 AND b.bsz <= 64),
        |p3 AS (
        |  SELECT a.k AS k1, b.k AS k2,
        |    CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
        |    GREATEST(length(a.nm), length(b.nm)) AS mxl
        |  FROM t a JOIN t b ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.w2 = b.w2
        |    AND a.k < b.k
        |  WHERE a.bsz > 64 AND b.bsz > 64),
        |u AS (SELECT * FROM p2 UNION ALL SELECT * FROM p3)
        |SELECT k1, k2, dist,
        |  ROUND(CAST(1 AS DOUBLE) - CAST(dist AS DOUBLE)
        |    / CAST(mxl AS DOUBLE), 6) AS sim
        |FROM u ORDER BY dist, k1, k2 LIMIT 20""".stripMargin,
    "q262_fuzzy_dedup_clusters" ->
      """WITH RECURSIVE nm AS (
        |  SELECT doc_id AS k, substring(text, 1, 40) AS nm,
        |    split_part(text, ' ', 1) AS w0,
        |    split_part(text, ' ', 2) AS w1
        |  FROM documents),
        |pe AS (
        |  SELECT a.k AS u, b.k AS v
        |  FROM nm a JOIN nm b ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.k < b.k
        |  WHERE levenshtein(a.nm, b.nm) <= 16),
        |e AS (SELECT u, v FROM pe UNION ALL SELECT v, u FROM pe),
        |reach(node, r) AS (
        |  SELECT u AS node, u AS r FROM e
        |  UNION
        |  SELECT e.u AS node, reach.r FROM e JOIN reach ON reach.node = e.v),
        |comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
        |SELECT component AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members
        |FROM comp GROUP BY component
        |ORDER BY n_members DESC, cluster""".stripMargin,
    "q261_greedy_maxcover" -> maxcoverSql,
    "q309_lexical_diversity" ->
      """WITH perdoc AS (
        |  SELECT doc_id, source,
        |    CAST(ROUND(CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS DOUBLE)
        |         / CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS DOUBLE), 6) AS DECIMAL(18,6)) AS r
        |  FROM documents
        |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) > 0),
        |thr AS (SELECT CAST(CAST(SUM(r) AS DECIMAL(38,6)) AS DOUBLE)
        |               / CAST(COUNT(*) AS DOUBLE) AS mean_r FROM perdoc)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN CAST(r AS DOUBLE) < mean_r THEN 1 ELSE 0 END) AS BIGINT) AS n_templated,
        |  ROUND(CAST(CAST(SUM(r) AS DECIMAL(38,6)) AS DOUBLE)
        |        / CAST(COUNT(*) AS DOUBLE), 6) AS avg_ttr,
        |  ROUND(MAX(mean_r), 6) AS corpus_mean_ttr
        |FROM perdoc, thr GROUP BY source ORDER BY source""".stripMargin,
    "q258_fuzzy_blocked_join" ->
      """WITH nm AS (
        |  SELECT doc_id AS k, substring(text, 1, 40) AS nm,
        |    split_part(text, ' ', 1) AS w0,
        |    split_part(text, ' ', 2) AS w1
        |  FROM documents),
        |pairs AS (
        |  SELECT a.k AS k1, b.k AS k2,
        |    CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist,
        |    GREATEST(length(a.nm), length(b.nm)) AS mxl
        |  FROM nm a JOIN nm b ON a.w0 = b.w0 AND a.w1 = b.w1 AND a.k < b.k)
        |SELECT k1, k2, dist,
        |  ROUND(CAST(1 AS DOUBLE) - CAST(dist AS DOUBLE)
        |    / CAST(mxl AS DOUBLE), 6) AS sim
        |FROM pairs ORDER BY dist, k1, k2 LIMIT 20""".stripMargin,
    "q259_textrank_keywords" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |bg AS (SELECT tk[u.i] AS l, tk[u.i + 1] AS r
        |       FROM tk, unnest(range(1, len(tk))) AS u(i)),
        |sym AS (SELECT l AS src, r AS dst FROM bg WHERE l <> r
        |        UNION ALL SELECT r, l FROM bg WHERE l <> r),
        |e AS MATERIALIZED (
        |  SELECT src, dst FROM (SELECT src, dst, COUNT(*) AS c FROM sym
        |    GROUP BY 1, 2) WHERE c >= 2),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS d FROM e GROUP BY src),
        |r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
        |r1 AS MATERIALIZED (
        |  SELECT e.dst AS node, CAST(150000 + (85 * SUM(r.r // d.d)) // 100 AS BIGINT) AS r
        |  FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r2 AS MATERIALIZED (
        |  SELECT e.dst AS node, CAST(150000 + (85 * SUM(r.r // d.d)) // 100 AS BIGINT) AS r
        |  FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst),
        |r3 AS (
        |  SELECT e.dst AS node, CAST(150000 + (85 * SUM(r.r // d.d)) // 100 AS BIGINT) AS r
        |  FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src
        |  GROUP BY e.dst)
        |SELECT node AS token, r FROM r3 ORDER BY r DESC, token LIMIT 25""".stripMargin,
    "q240_containment_dedup" ->
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |g5 AS (
        |  SELECT DISTINCT doc_id,
        |    tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] || ' ' ||
        |    tk[i + 3] || ' ' || tk[i + 4] AS g
        |  FROM tk, UNNEST(range(1, GREATEST(len(tk) - 3, 1))) AS u(i)),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM g5 GROUP BY 1),
        |rare AS (SELECT g FROM g5 GROUP BY g HAVING COUNT(*) <= 64),
        |gg AS (SELECT g5.doc_id, g5.g FROM g5 JOIN rare ON g5.g = rare.g),
        |shared AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS inter
        |  FROM gg a JOIN gg b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT a, b, CAST(inter AS BIGINT) AS inter,
        |  CAST(sz AS BIGINT) AS size_a,
        |  ROUND(CAST(inter AS DOUBLE) / CAST(sz AS DOUBLE), 6) AS containment
        |FROM shared JOIN sizes ON a = sizes.doc_id
        |WHERE ROUND(CAST(inter AS DOUBLE) / CAST(sz AS DOUBLE), 6) >= 0.5
        |ORDER BY a, b""".stripMargin,
    "q231_hash_features" ->
      """WITH tok AS (
        |  SELECT doc_id, u.t AS token FROM documents,
        |       UNNEST(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)),
        |tc AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        |hv AS (SELECT doc_id, c,
        |         CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS h64
        |       FROM tc),
        |dv AS (
        |  SELECT doc_id, h64 % 64 AS dim,
        |    CAST(SUM(c * (CASE WHEN (h64 // 64) % 2 = 0 THEN 1 ELSE -1 END))
        |      AS BIGINT) AS v
        |  FROM hv GROUP BY 1, 2),
        |nz AS (SELECT * FROM dv WHERE v <> 0),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |         ORDER BY ABS(v) DESC, dim) AS rn FROM nz)
        |SELECT n.doc_id, n.nnz, n.l1, r.dim AS top_dim, r.top_abs
        |FROM (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nnz,
        |        CAST(SUM(ABS(v)) AS BIGINT) AS l1 FROM nz GROUP BY 1) n
        |JOIN (SELECT doc_id, dim, CAST(ABS(v) AS BIGINT) AS top_abs
        |      FROM rk WHERE rn = 1) r ON n.doc_id = r.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "q228_perplexity_eval" ->
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 2),
        |sp AS (
        |  SELECT *, ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |    % 2147483647 % 2 AS bkt
        |  FROM docs),
        |tb AS MATERIALIZED (
        |  SELECT tk[i] AS w1, tk[i + 1] AS w2
        |  FROM (SELECT tk FROM sp WHERE bkt = 0),
        |       UNNEST(range(1, len(tk))) AS u(i)),
        |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM tb GROUP BY 1, 2),
        |cu AS (SELECT w1, COUNT(*) AS cu FROM tb GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT u.t) AS v
        |      FROM (SELECT tk FROM sp WHERE bkt = 0), UNNEST(tk) AS u(t)),
        |eb AS (
        |  SELECT source, tk[i] AS w1, tk[i + 1] AS w2, COUNT(*) AS m
        |  FROM (SELECT source, tk FROM sp WHERE bkt = 1),
        |       UNNEST(range(1, len(tk))) AS u(i)
        |  GROUP BY 1, 2, 3),
        |sc AS (
        |  SELECT eb.source, eb.m,
        |    CAST(ROUND(LN(CAST(COALESCE(cb.cb, 0) + 1 AS DOUBLE)
        |      / CAST(COALESCE(cu.cu, 0) + v.v AS DOUBLE)) / LN(2.0), 6) AS DECIMAL(18,6)) AS lp
        |  FROM eb LEFT JOIN cb ON eb.w1 = cb.w1 AND eb.w2 = cb.w2
        |  LEFT JOIN cu ON eb.w1 = cu.w1, v)
        |SELECT source, CAST(SUM(m) AS BIGINT) AS n_bigrams,
        |  ROUND(-(CAST(CAST(SUM(m * lp) AS DECIMAL(38,6)) AS DOUBLE))
        |    / CAST(SUM(m) AS DOUBLE), 6) AS bits_per_bigram,
        |  ROUND(POW(2.0, -(CAST(CAST(SUM(m * lp) AS DECIMAL(38,6)) AS DOUBLE))
        |    / CAST(SUM(m) AS DOUBLE)), 4) AS perplexity
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,
    "q211_phrase_search" ->
      """WITH tok AS (
        |  SELECT doc_id, tk, u.i AS i
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents),
        |       unnest(range(1, len(tk) + 1)) AS u(i)),
        |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[i] AS token FROM tok),
        |tri AS (
        |  SELECT a.token AS w1, b.token AS w2, c.token AS w3, COUNT(*) AS cnt
        |  FROM p a
        |  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        |  JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
        |  GROUP BY 1, 2, 3),
        |ph AS (SELECT w1, w2, w3 FROM tri
        |       ORDER BY cnt DESC, w1, w2, w3 LIMIT 1),
        |m AS (
        |  SELECT a.doc_id, COUNT(*) AS n
        |  FROM p a JOIN ph ON a.token = ph.w1
        |  JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1 AND b.token = ph.w2
        |  JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2 AND c.token = ph.w3
        |  GROUP BY 1)
        |SELECT (SELECT w1 || ' ' || w2 || ' ' || w3 FROM ph) AS phrase,
        |       doc_id, CAST(n AS BIGINT) AS n_occurrences
        |FROM m ORDER BY n DESC, doc_id LIMIT 20""".stripMargin,
    "q209_source_overlap" ->
      """WITH v AS (
        |  SELECT DISTINCT source, tok
        |  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents)
        |  WHERE tok <> ''),
        |sz AS (SELECT source, COUNT(*) AS vs FROM v GROUP BY source),
        |i AS (
        |  SELECT a.source AS sa, b.source AS sb, COUNT(*) AS inter
        |  FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, inter, x.vs AS va, y.vs AS vb,
        |  ROUND(CAST(inter AS DOUBLE) / CAST(x.vs + y.vs - inter AS DOUBLE), 6) AS jaccard,
        |  ROUND(CAST(inter AS DOUBLE) / CAST(LEAST(x.vs, y.vs) AS DOUBLE), 6) AS overlap_coef
        |FROM i JOIN sz x ON i.sa = x.source JOIN sz y ON i.sb = y.source
        |ORDER BY sa, sb""".stripMargin,
    "q169_winnow_match" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |g AS (SELECT doc_id, len(tk) - 4 AS ng, u.i AS pos,
        |        array_to_string(tk[u.i:u.i+4], ' ') AS gram
        |      FROM toks, unnest(range(1, len(tk) - 3)) AS u(i)
        |      WHERE len(tk) >= 5),
        |k AS (SELECT doc_id, ng, pos,
        |        (CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1000000007)
        |          * 1048576 + (1048575 - pos) AS key
        |      FROM g),
        |wm AS (SELECT doc_id, ng, pos,
        |        MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |       FROM k),
        |sel AS (SELECT DISTINCT doc_id, wmin // 1048576 AS fp
        |        FROM wm WHERE pos <= ng - 3),
        |rare AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM sel GROUP BY 1)
        |         WHERE df <= 64),
        |kept AS (SELECT doc_id, fp FROM sel JOIN rare USING (fp)),
        |sizes AS (SELECT doc_id, COUNT(*) AS nfp FROM kept GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS shared
        |          FROM kept a JOIN kept b
        |            ON a.fp = b.fp AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT id1, id2, CAST(shared AS BIGINT) AS shared,
        |  CAST(sa.nfp AS BIGINT) AS na, CAST(sb.nfp AS BIGINT) AS nb,
        |  ROUND(CAST(shared AS DOUBLE) / least(sa.nfp, sb.nfp), 6) AS overlap
        |FROM pairs JOIN sizes sa ON sa.doc_id = id1
        |  JOIN sizes sb ON sb.doc_id = id2
        |WHERE shared >= 5
        |ORDER BY shared DESC, id1, id2""".stripMargin,
    "q168_distribution_drift" ->
      """WITH tok AS (SELECT lang, doc_id % 2 AS v, u.t AS token
        |             FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |             WHERE u.t <> ''),
        |tc AS (SELECT lang, token,
        |         SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS ca,
        |         SUM(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS cb
        |       FROM tok GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(ca) AS ta, SUM(cb) AS tb FROM tc GROUP BY 1),
        |terms AS (SELECT t.lang, ta, tb,
        |    CAST(ROUND(
        |      (CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)
        |        * (CAST(ca AS DOUBLE) / ta - CAST(cb AS DOUBLE) / tb)
        |        / (CAST(ca AS DOUBLE) / ta + CAST(cb AS DOUBLE) / tb),
        |      12) AS DECIMAL(28,12)) AS t12
        |  FROM tc t JOIN tot USING (lang))
        |SELECT lang, CAST(ta AS BIGINT) AS tok_a, CAST(tb AS BIGINT) AS tok_b,
        |  ROUND(CAST(SUM(t12) AS DOUBLE), 6) AS delta_div
        |FROM terms GROUP BY lang, ta, tb ORDER BY lang""".stripMargin,
    "q167_winnowing" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |g AS (SELECT doc_id, len(tk) - 4 AS ng, u.i AS pos,
        |        array_to_string(tk[u.i:u.i+4], ' ') AS gram
        |      FROM toks, unnest(range(1, len(tk) - 3)) AS u(i)
        |      WHERE len(tk) >= 5),
        |k AS (SELECT doc_id, ng, pos,
        |        (CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1000000007)
        |          * 1048576 + (1048575 - pos) AS key
        |      FROM g),
        |wm AS (SELECT doc_id, ng, pos,
        |        MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |       FROM k)
        |SELECT DISTINCT doc_id, 1048575 - (wmin % 1048576) AS sel_pos,
        |  wmin // 1048576 AS fp
        |FROM wm WHERE pos <= ng - 3
        |ORDER BY doc_id, sel_pos""".stripMargin,
    "q160_pii_redaction" ->
      """WITH b AS (SELECT doc_id,
        |  substr(text, 1, 60) || ' '
        |    || source || '.' || CAST(doc_id AS VARCHAR) || '@mail.example.org' || ' '
        |    || CAST(doc_id % 223 + 10 AS VARCHAR) || '.'
        |    || CAST(doc_id * 7 % 256 AS VARCHAR) || '.'
        |    || CAST(doc_id * 13 % 256 AS VARCHAR) || '.'
        |    || CAST(doc_id * 17 % 254 + 1 AS VARCHAR) || ' '
        |    || '+1-' || CAST(doc_id % 900 + 100 AS VARCHAR) || '-'
        |    || CAST(doc_id * 3 % 900 + 100 AS VARCHAR) || '-'
        |    || CAST(doc_id * 11 % 9000 + 1000 AS VARCHAR) || ' '
        |    || substr(text, 61, 60) AS body
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(body, '[A-Za-z0-9._%-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(body, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(body, '\+\d{1,2}-\d{3}-\d{3}-\d{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(body,
        |    '[A-Za-z0-9._%-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d{1,2}-\d{3}-\d{3}-\d{4}', '<PHONE>', 'g') AS clean
        |FROM b ORDER BY doc_id""".stripMargin,
    "q161_gopher_repetition" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |bi AS (SELECT doc_id, tk[u.i] || ' ' || tk[u.i+1] AS g, u.i AS i
        |       FROM toks, unnest(range(1, len(tk))) AS u(i)),
        |tri AS (SELECT doc_id, tk[u.i] || ' ' || tk[u.i+1] || ' ' || tk[u.i+2] AS g
        |        FROM toks, unnest(range(1, len(tk) - 1)) AS u(i)),
        |bis AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bi,
        |          COUNT(*) AS d_bi, MAX(c) AS top_bi
        |        FROM (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2)
        |        GROUP BY doc_id),
        |tris AS (SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS d_tri
        |         FROM tri GROUP BY doc_id),
        |runs AS (SELECT doc_id, CAST(MAX(rl) AS BIGINT) AS max_run
        |         FROM (SELECT doc_id, COUNT(*) AS rl
        |               FROM (SELECT doc_id, t, i,
        |                       i - ROW_NUMBER() OVER (PARTITION BY doc_id, t ORDER BY i) AS grp
        |                     FROM (SELECT doc_id, tk[u.i] AS t, u.i AS i
        |                           FROM toks, unnest(range(1, len(tk) + 1)) AS u(i)))
        |               GROUP BY doc_id, t, grp)
        |         GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, n_bi AS n_bigrams,
        |  ROUND(1.0 - CAST(d_bi AS DOUBLE) / n_bi, 6) AS dup_bi_frac,
        |  ROUND(CAST(top_bi AS DOUBLE) / n_bi, 6) AS top_bi_share,
        |  ROUND(1.0 - CAST(d_tri AS DOUBLE) / n_tri, 6) AS dup_tri_frac,
        |  max_run
        |FROM toks t JOIN bis USING (doc_id) JOIN tris USING (doc_id)
        |  JOIN runs USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,
    "q148_bigram_lm" ->
      """WITH toks AS (SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS tk FROM documents),
        |bi AS (SELECT doc_id, tk[u.i+1] AS w1, tk[u.i+2] AS w2
        |       FROM toks, unnest(range(0, len(tk) - 1)) AS u(i)
        |       WHERE len(tk) >= 2),
        |db AS (SELECT doc_id, w1, w2, COUNT(*) AS m FROM bi GROUP BY 1, 2, 3),
        |cb AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY 1, 2),
        |cu AS (SELECT w1, COUNT(*) AS cu FROM bi GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT u.t) AS v FROM toks, unnest(tk) AS u(t))
        |SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
        |  ROUND(SUM(CAST(m AS DOUBLE)
        |      * log2(CAST(cb + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE)))
        |    / CAST(SUM(m) AS DOUBLE), 4) AS avg_logp2
        |FROM db JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q146_heavy_hitters" ->
      """WITH t AS (
        |  SELECT u.t AS token
        |  FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)),
        |c AS (SELECT token, COUNT(*) AS cnt FROM t GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_total FROM t)
        |SELECT token, cnt FROM c, n
        |WHERE cnt * 50 > n_total
        |ORDER BY cnt DESC, token""".stripMargin,
    "q144_rrf_fusion" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, u.t AS token, COUNT(*) AS tf
        |  FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)
        |  WHERE u.t IN ('spark', 'window', 'merge')
        |  GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM lens),
        |sc AS (
        |  SELECT tf.doc_id, tf.token,
        |    ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |             / (CAST(df AS DOUBLE) + 0.5))
        |    * (CAST(tf AS DOUBLE) * 2.2)
        |    / (CAST(tf AS DOUBLE)
        |       + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
        |                       / (CAST(total_dl AS DOUBLE) / CAST(n AS DOUBLE)))) AS contrib
        |  FROM tf JOIN df USING (token) JOIN lens USING (doc_id), tot),
        |bm AS (
        |  SELECT doc_id,
        |    ROUND(SUM(CASE WHEN token = 'spark' THEN contrib ELSE 0.0 END)
        |        + SUM(CASE WHEN token = 'window' THEN contrib ELSE 0.0 END)
        |        + SUM(CASE WHEN token = 'merge' THEN contrib ELSE 0.0 END), 4) AS score
        |  FROM sc GROUP BY doc_id),
        |topbm AS (SELECT doc_id, score FROM bm ORDER BY score DESC, doc_id LIMIT 100),
        |rbm AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |    AS rank_bm25
        |  FROM topbm),
        |jac AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN list_contains(tk, 'spark') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(tk, 'window') THEN 1 ELSE 0 END
        |       + CASE WHEN list_contains(tk, 'merge') THEN 1 ELSE 0 END AS BIGINT) AS inter,
        |    CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents)),
        |jsc AS (
        |  SELECT doc_id,
        |    CAST(inter AS DOUBLE) / CAST(n_distinct + 3 - inter AS DOUBLE) AS score
        |  FROM jac),
        |topj AS (SELECT doc_id, score FROM jsc ORDER BY score DESC, doc_id LIMIT 100),
        |rj AS (
        |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
        |    AS rank_jac
        |  FROM topj)
        |SELECT COALESCE(rbm.doc_id, rj.doc_id) AS doc_id, rank_bm25, rank_jac,
        |  ROUND(COALESCE(1.0 / (60.0 + CAST(rank_bm25 AS DOUBLE)), 0.0)
        |      + COALESCE(1.0 / (60.0 + CAST(rank_jac AS DOUBLE)), 0.0), 6) AS rrf_score
        |FROM rbm FULL OUTER JOIN rj ON rbm.doc_id = rj.doc_id
        |ORDER BY rrf_score DESC, COALESCE(rbm.doc_id, rj.doc_id) LIMIT 20""".stripMargin,
    "q142_bm25" ->
      """WITH lens AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS dl
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, u.t AS token, COUNT(*) AS tf
        |  FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)
        |  WHERE u.t IN ('spark', 'window', 'merge')
        |  GROUP BY 1, 2),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n, SUM(dl) AS total_dl FROM lens),
        |sc AS (
        |  SELECT tf.doc_id, tf.token,
        |    ln(1.0 + (CAST(n AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |             / (CAST(df AS DOUBLE) + 0.5))
        |    * (CAST(tf AS DOUBLE) * 2.2)
        |    / (CAST(tf AS DOUBLE)
        |       + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
        |                       / (CAST(total_dl AS DOUBLE) / CAST(n AS DOUBLE)))) AS contrib
        |  FROM tf JOIN df USING (token) JOIN lens USING (doc_id), tot)
        |SELECT doc_id,
        |  ROUND(SUM(CASE WHEN token = 'spark' THEN contrib ELSE 0.0 END)
        |      + SUM(CASE WHEN token = 'window' THEN contrib ELSE 0.0 END)
        |      + SUM(CASE WHEN token = 'merge' THEN contrib ELSE 0.0 END), 4) AS score
        |FROM sc GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q143_denylist_scrub" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    x -> x IN ('customer', 'vector', 'secret'))) AS BIGINT) AS n_hits,
        |  regexp_replace(text, '\b(customer|vector|secret)\b', '[REDACTED]', 'g') AS scrubbed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q141_group_split" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_sort(list_distinct(
        |      list_filter(string_split(text, ' '), x -> x <> ''))), ' ') AS fp
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, MIN(doc_id) OVER (PARTITION BY fp) AS ck FROM f),
        |s AS (
        |  SELECT doc_id, source, ck,
        |    CASE WHEN ((((ck % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |           % 2147483647 % 10000 < 2000
        |         THEN 'test' ELSE 'train' END AS split
        |  FROM c)
        |SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_clusters
        |FROM s GROUP BY 1, 2 ORDER BY split, source""".stripMargin,
    "q138_vocab_coverage" ->
      """WITH tc AS (
        |  SELECT u.t AS token, COUNT(*) AS c
        |  FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)
        |  GROUP BY 1),
        |cc AS (SELECT c, COUNT(*) AS n_toks FROM tc GROUP BY c),
        |cum AS (SELECT c, n_toks,
        |    SUM(n_toks) OVER (ORDER BY c DESC) AS cum_toks FROM cc),
        |total AS (SELECT SUM(c) AS total_mass, COUNT(*) AS vocab_size FROM tc),
        |ks AS (SELECT unnest([1, 5, 10, 25, 50, 100]) AS k)
        |SELECT CAST(k AS BIGINT) AS k,
        |  CAST(SUM(c * GREATEST(0, LEAST(n_toks, k - (cum_toks - n_toks)))) AS BIGINT) AS covered_mass,
        |  CAST(vocab_size AS BIGINT) AS vocab_size,
        |  ROUND(CAST(SUM(c * GREATEST(0, LEAST(n_toks, k - (cum_toks - n_toks)))) AS DOUBLE)
        |    / CAST(total_mass AS DOUBLE), 4) AS coverage
        |FROM ks, cum, total
        |GROUP BY k, vocab_size, total_mass ORDER BY k""".stripMargin,
    "q139_cluster_cap" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    array_to_string(list_sort(list_distinct(
        |      list_filter(string_split(text, ' '), x -> x <> ''))), ' ') AS fp,
        |    ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807) % 2147483647 AS h
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    COUNT(*) OVER (PARTITION BY fp) AS cluster_size,
        |    row_number() OVER (PARTITION BY fp ORDER BY h, doc_id) AS keep_rank
        |  FROM f)
        |SELECT doc_id, source, CAST(cluster_size AS BIGINT) AS cluster_size,
        |  CAST(keep_rank AS BIGINT) AS keep_rank
        |FROM r WHERE keep_rank <= 3 ORDER BY doc_id""".stripMargin,
    "q133_quality_blend" ->
      """WITH sig AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_toks,
        |    len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS n_distinct
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, source,
        |    0.5 * percent_rank() OVER (PARTITION BY lang, source ORDER BY n_chars)
        |    + 0.3 * percent_rank() OVER (PARTITION BY lang, source
        |        ORDER BY CAST(n_distinct AS DOUBLE) / CAST(n_toks AS DOUBLE))
        |    + 0.2 * percent_rank() OVER (PARTITION BY lang, source ORDER BY n_toks) AS blend
        |  FROM sig)
        |SELECT doc_id, lang, source, ROUND(blend, 4) AS quality_blend,
        |  CAST(LEAST(FLOOR(blend * 10), 9) AS BIGINT) AS decile
        |FROM r ORDER BY doc_id""".stripMargin,
    "q134_dup_attribution" ->
      """WITH f AS (
        |  SELECT doc_id, source, n_chars,
        |    array_to_string(list_sort(list_distinct(
        |      list_filter(string_split(text, ' '), x -> x <> ''))), ' ') AS fp
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, source, n_chars,
        |    doc_id = min(doc_id) OVER (PARTITION BY fp) AS survivor
        |  FROM f)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN survivor THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
        |  CAST(SUM(CASE WHEN survivor THEN 0 ELSE 1 END) AS BIGINT) AS dup_docs,
        |  CAST(SUM(CASE WHEN survivor THEN 0 ELSE n_chars END) AS BIGINT) AS dup_chars,
        |  ROUND(CAST(SUM(CASE WHEN survivor THEN 0 ELSE 1 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 4) AS dup_ratio
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q135_corpus_datasheet" ->
      """WITH base AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
        |  FROM documents GROUP BY source),
        |tok AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS total_tokens,
        |    CAST(COUNT(DISTINCT u.t) AS BIGINT) AS distinct_tokens
        |  FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)
        |  GROUP BY source),
        |lc AS (SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2),
        |ent AS (
        |  SELECT source,
        |    ROUND(log2(CAST(SUM(c) AS DOUBLE))
        |      - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
        |        / CAST(SUM(c) AS DOUBLE), 4) AS lang_entropy
        |  FROM lc GROUP BY source),
        |total AS (SELECT SUM(n_chars) AS corpus_chars FROM documents)
        |SELECT base.source, n_docs, total_chars, total_tokens, distinct_tokens,
        |  ROUND(CAST(distinct_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE), 4) AS ttr,
        |  lang_entropy,
        |  ROUND(CAST(total_chars AS DOUBLE) / CAST(corpus_chars AS DOUBLE), 4) AS share_chars
        |FROM base JOIN tok USING (source) JOIN ent USING (source), total
        |ORDER BY base.source""".stripMargin,
    // the slices are rebuilt arithmetically: anchor = tokens[i·30+1 .. i·30+40],
    // positive = the next chunk = tokens[i·30+31 .. i·30+70], both clamped by
    // the engines' slice semantics — hash proves chunk CONTENT equality
    "q136_chunk_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) <= 40 THEN 1
        |         ELSE 1 + (len(toks) - 40 + 29) // 30 END AS n_chunks
        |  FROM t),
        |p AS (
        |  SELECT doc_id, toks,
        |    unnest(generate_series(0, CAST(n_chunks AS BIGINT) - 2)) AS pair_idx
        |  FROM k WHERE n_chunks >= 2)
        |SELECT doc_id, CAST(pair_idx AS BIGINT) AS pair_idx,
        |  array_to_string(toks[CAST(pair_idx * 30 + 1 AS BIGINT):CAST(pair_idx * 30 + 40 AS BIGINT)], ' ') AS anchor,
        |  array_to_string(toks[CAST(pair_idx * 30 + 31 AS BIGINT):CAST(pair_idx * 30 + 70 AS BIGINT)], ' ') AS positive
        |FROM p ORDER BY doc_id, pair_idx""".stripMargin,
    // closed-form twin of the real chunker: n_chunks = 1 + ceil((n-40)/30),
    // total = n + overlap·(k−1), last = n − stride·(k−1) — the hash match
    // proves the slice-built chunks against the arithmetic
    "q117_context_chunks" ->
      """WITH t AS (SELECT doc_id,
        |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n
        |  FROM documents),
        |k AS (SELECT doc_id, n,
        |    CASE WHEN n <= 40 THEN 1 ELSE 1 + (n - 40 + 29) // 30 END AS n_chunks
        |  FROM t)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
        |  CAST(n_chunks AS BIGINT) AS n_chunks,
        |  CAST(n + 10 * (n_chunks - 1) AS BIGINT) AS total_chunk_tokens,
        |  CAST(n - 30 * (n_chunks - 1) AS BIGINT) AS last_chunk_len
        |FROM k ORDER BY doc_id""".stripMargin,
    "q118_token_entropy" ->
      """WITH tc AS (
        |  SELECT doc_id, u.t AS token, COUNT(*) AS c
        |  FROM documents,
        |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS u(t)
        |  GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  ROUND(log2(CAST(SUM(c) AS DOUBLE))
        |    - SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)))
        |      / CAST(SUM(c) AS DOUBLE), 4) AS entropy
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q82_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, u.t AS token
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
        |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.token, tf.tf,
        |    ROUND(CAST(tf.tf * n.n AS DOUBLE) / df.df, 6) AS score
        |  FROM tf JOIN df USING (token), n)
        |SELECT doc_id, CAST(rn AS BIGINT) AS rnk, token, CAST(tf AS BIGINT) AS tf, score FROM (
        |  SELECT doc_id, token, tf, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        |  FROM scored)
        |WHERE rn <= 5 ORDER BY doc_id, rnk""".stripMargin,
    "q80_posexplode" ->
      """WITH tok AS (
        |  SELECT doc_id, tk, u.i AS i
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |        FROM documents),
        |       unnest(range(1, len(tk) + 1)) AS u(i))
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(MIN(CASE WHEN tk[i] = 'the' THEN i - 1 END), -1) AS BIGINT) AS first_the_pos,
        |  arg_max(tk[i], i) AS last_token
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q77_doc_repetition" ->
      """WITH tok AS (
        |  SELECT doc_id, u.t AS token
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |tc AS (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS distinct_ratio,
        |  ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_share
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q63_edit_distance" ->
      """SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS edit_dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY id1""".stripMargin,
    "q21_string_funcs" ->
      """SELECT doc_id,
        |  substr(text, 1, 10) AS sub10,
        |  upper(substr(text, 1, 10)) AS up10,
        |  lower(lang) AS lang_lo,
        |  lang || ':' || source AS lang_src,
        |  trim('  ' || source || '  ') AS src_trim,
        |  regexp_replace(source, 'src', 's-') AS src_repl,
        |  CAST(length(text) AS BIGINT) AS text_len,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_splits,
        |  regexp_extract(text, '([a-z]+)', 1) AS first_word,
        |  list_contains(string_split(text, ' '), 'spark') AS has_spark
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q26_date_enrich" ->
      """SELECT event_id, tstr,
        |  split_part(tstr, ' ', 1) AS date,
        |  regexp_extract(tstr, '([0-9]{4})-([0-9]{2})-([0-9]{2}) ([0-9]{2}):([0-9]{2})', 1) AS year,
        |  regexp_extract(tstr, '([0-9]{4})-([0-9]{2})-([0-9]{2}) ([0-9]{2}):([0-9]{2})', 2) AS month
        |FROM (SELECT event_id, strftime(date_trunc('second', ts), '%Y-%m-%d %H:%M') AS tstr FROM events)
        |ORDER BY event_id""".stripMargin,
    "q27_array_parse" ->
      """SELECT token, COUNT(*) AS cnt FROM (
        |  SELECT trim(u.t) AS token
        |  FROM (SELECT '[' || l_returnflag || ', ' || l_linestatus || ']' AS tags FROM lineitem),
        |       unnest(string_split(regexp_replace(tags, '^\[|\]$', '', 'g'), ',')) AS u(t))
        |GROUP BY token ORDER BY token""".stripMargin,
    "q28_dedup_exact" ->
      """SELECT lang, source, doc_id FROM (
        |  SELECT lang, source, doc_id,
        |    row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY lang, source""".stripMargin,
    "q29_token_topk" ->
      """SELECT token, COUNT(*) AS cnt FROM (
        |  SELECT u.t AS token FROM documents, unnest(string_split(text, ' ')) AS u(t))
        |WHERE token <> ''
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q34_text_quality" ->
      """SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
        |  CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars_nospace,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(list_filter(string_split(text, ' '), t -> t <> '')) AS avg_token_len,
        |  CAST(len(list_filter(string_split(text, ' '),
        |         t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)
        |    / len(list_filter(string_split(text, ' '), t -> t <> '')) AS stop_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q36_fingerprint" ->
      """SELECT fp, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        |FROM (SELECT doc_id, md5(text) AS fp FROM documents)
        |GROUP BY fp ORDER BY keep_id""".stripMargin,
    "q70_regex_tokens" ->
      """WITH b AS (SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words,
        |    CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_subwords,
        |    CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha
        |  FROM documents)
        |SELECT doc_id, n_words, n_subwords, n_alpha,
        |  CASE WHEN n_subwords > 0
        |       THEN ROUND(CAST(n_alpha AS DOUBLE) / n_subwords, 6) END AS avg_subword_len
        |FROM b ORDER BY doc_id""".stripMargin,
    "q73_subword_vocab" ->
      """SELECT u.c AS chunk, COUNT(*) AS n
        |FROM documents, unnest(regexp_extract_all(text, '[a-z]{1,4}')) AS u(c)
        |GROUP BY u.c ORDER BY n DESC, chunk LIMIT 20""".stripMargin,
    "q103_array_setops" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |  FROM documents),
        |ab AS (
        |  SELECT doc_id, tk[1:10] AS a, list_filter(tk, x -> contains(x, 'a')) AS b
        |  FROM t),
        |so AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_cat(a, b))) AS u,
        |    list_sort(list_intersect(a, b)) AS i,
        |    list_sort(list_filter(list_distinct(a), x -> NOT list_contains(b, x))) AS x
        |  FROM ab)
        |SELECT doc_id,
        |  CAST(len(u) AS BIGINT) AS n_union,
        |  CAST(len(i) AS BIGINT) AS n_inter,
        |  CAST(len(x) AS BIGINT) AS n_except,
        |  coalesce(array_to_string(i, '|'), '') AS inter_str,
        |  coalesce(array_to_string(x, '|'), '') AS except_str
        |FROM so ORDER BY doc_id""".stripMargin,
    "q104_string_shape" ->
      """WITH s AS (SELECT doc_id, substr(text, 1, 12) AS s12 FROM documents)
        |SELECT doc_id,
        |  lpad(s12, 16, '*') AS lp,
        |  rpad(s12, 16, '-') AS rp,
        |  translate(s12, 'aeiou', 'AEIOU') AS tr,
        |  repeat(substr(s12, 1, 3), 3) AS rep,
        |  reverse(s12) AS rev,
        |  CAST(ascii(s12) AS BIGINT) AS first_code
        |FROM s ORDER BY doc_id""".stripMargin,
    "q95_collocations" ->
      """WITH tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
        |            FROM documents),
        |bg AS (SELECT u.i AS i, tk[u.i] AS l, tk[u.i + 1] AS r
        |       FROM tk, unnest(range(1, len(tk))) AS u(i)),
        |uni AS (SELECT u.t AS t, COUNT(*) AS n
        |        FROM tk, unnest(tk.tk) AS u(t) GROUP BY u.t),
        |bgc AS (SELECT l, r, COUNT(*) AS nxy FROM bg GROUP BY l, r),
        |tot AS (SELECT COUNT(*) AS total_bg FROM bg)
        |SELECT b.l, b.r, b.nxy,
        |  ROUND(CAST(b.nxy AS DOUBLE) * tot.total_bg / (ul.n * ur.n), 6) AS lift
        |FROM bgc b
        |JOIN uni ul ON b.l = ul.t
        |JOIN uni ur ON b.r = ur.t
        |CROSS JOIN tot
        |WHERE b.nxy >= 3
        |ORDER BY lift DESC, b.l, b.r LIMIT 25""".stripMargin,
    "q38_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT DISTINCT doc_id, u.t AS token
        |  FROM documents, unnest(string_split(text, ' ')) AS u(t)
        |  WHERE u.t <> ''),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
        |inter AS (
        |  SELECT t1.doc_id AS id1, t2.doc_id AS id2, COUNT(*) AS inter
        |  FROM t t1 JOIN t t2 ON t1.token = t2.token AND t2.doc_id = t1.doc_id + 1
        |  GROUP BY 1, 2)
        |SELECT id1, id2,
        |  ROUND(CAST(inter AS DOUBLE) / (s1.n + s2.n - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes s1 ON s1.doc_id = id1
        |JOIN sizes s2 ON s2.doc_id = id2
        |ORDER BY id1""".stripMargin)
}
