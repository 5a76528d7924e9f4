package graft.operators

import graft.Tables
import graft.Dsl._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inventory extensions beyond SURVEY §2.3 Q01-Q33: percentiles, moment
  * statistics, FILTER aggregation, PIVOT, ordered string aggregation, and
  * correlated scalar subqueries (Catalyst decorrelation, SURVEY §4.3).
  *
  * Determinism notes: variance/stddev are NOT computed with the built-in
  * aggregates (double sum-of-squares is order-dependent) but from exact
  * decimal moments surfaced as doubles with an identical arithmetic shape in
  * both engines; percentiles interpolate between the same sorted doubles and
  * are D5-rounded to absorb formula-association differences.
  */
object Extras {
  type Q = (SparkSession, String) => DataFrame

  /** Q47: exact interpolated percentiles (median / p90) per group. */
  def q47Percentile: Q = (s, d) => {
    Tables(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q48: sample variance / stddev from exact decimal moments. */
  def q48Stats: Q = (s, d) => {
    val x = col("l_quantity")
    val s1 = sum(dec(x)).cast("double")
    val s2 = sum(dec12(x) * dec12(x)).cast(org.apache.spark.sql.types.DecimalType(38, 4)).cast("double")
    val n = count(lit(1)).cast("double")
    Tables(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(s1.as("s1"), s2.as("s2"), count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"), col("s1"), col("s2"),
        round((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), 4).as("var_samp"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)), 4).as("stddev_samp"))
      .orderBy(col("l_returnflag"))
  }

  /** Q49: conditional (FILTER-clause) aggregation in one pass. */
  def q49FilterAgg: Q = (s, d) => {
    Tables(s, d, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_all"),
        count(when(col("o_totalprice") > 250000, 1)).as("n_big"),
        moneySum(col("o_totalprice")).as("sum_all"),
        sum(when(col("o_orderstatus") === "F", dec(col("o_totalprice")))).cast("double").as("sum_f"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q50: PIVOT — revenue by priority pivoted over return flags. */
  def q50Pivot: Q = (s, d) => {
    val li = Tables(s, d, "lineitem")
    val orders = Tables(s, d, "orders")
    li.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sumExactDouble(revenueTerm(col("l_extendedprice"), col("l_discount"))))
      .orderBy(col("o_orderpriority"))
  }

  /** Q51: ordered string aggregation (listagg) per group. */
  def q51StringAgg: Q = (s, d) => {
    Tables(s, d, "documents")
      .select(col("source"), col("lang")).distinct()
      .groupBy(col("source"))
      .agg(concat_ws(",", array_sort(collect_list(col("lang")))).as("langs"))
      .orderBy(col("source"))
  }

  /** Q52: correlated scalar subquery — orders above their customer's own
    * (exact-decimal) average; Catalyst decorrelates to an aggregate + join.
    */
  def q52CorrSubquery: Q = (s, d) => {
    Tables(s, d, "orders").createOrReplaceTempView("graft_q52_orders")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM graft_q52_orders o
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |  FROM graft_q52_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Q57: distribution window functions — ntile / percent_rank / cume_dist
    * (rank-derived ratios of exact ints: cross-engine deterministic).
    */
  def q57WindowExtras: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal"), col("c_custkey"))
    Tables(s, d, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        big(ntile(4).over(w)).as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** Q67: window navigation — first_value / nth_value / last_value over an
    * explicit full-partition frame (UNBOUNDED PRECEDING → UNBOUNDED
    * FOLLOWING; the default frame would make last_value the running row).
    * Total order inside the frame (acctbal DESC, custkey) keeps every
    * navigator deterministic.
    */
  def q67WindowNav: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_mktsegment")).orderBy(col("c_acctbal").desc, col("c_custkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    Tables(s, d, "customer")
      .select(col("c_mktsegment"), col("c_custkey"),
        big(first(col("c_custkey")).over(w)).as("richest"),
        big(nth_value(col("c_custkey"), 3).over(w)).as("third_richest"),
        big(last(col("c_custkey")).over(w)).as("poorest"))
      .orderBy(col("c_mktsegment"), col("c_custkey"))
  }

  /** Q68: UNPIVOT — wide per-flag money aggregates melted to (flag, metric,
    * value) rows, the inverse reshaping of q50's pivot. All measures are
    * exact decimal sums surfaced as double, so values hash-match.
    */
  def q68Unpivot: Q = (s, d) => {
    val base = Tables(s, d, "lineitem").groupBy(col("l_returnflag"))
      .agg(moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        moneySum(col("l_discount")).as("sum_disc"))
    base.unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")), "metric", "value")
      .orderBy(col("l_returnflag"), col("metric"))
  }

  /** Q58: array-function battery — sort / distinct / slice / contains-all
    * reductions over tokenized text, output as scalars (D-rule: no array
    * columns in oracle-compared output).
    *
    * Two projections, measured fastest of three formulations (DebugQ58:
    * 0.58 s vs 0.82 s single-projection vs 0.89 s fully staged at sf0.1).
    * Array higher-order functions are CodegenFallback — no codegen
    * subexpression elimination — so the r2 single-select evaluated
    * array_sort(filter(...)) three times per row; but every extra
    * projection boundary also pays an UnsafeRow copy of the array columns
    * crossing it. The sweet spot materializes exactly ONE array (`sorted`)
    * across ONE boundary, and exploits array_distinct preserving order —
    * distinct-after-sort is already sorted, deleting the second sort.
    */
  def q58ArrayFuncs: Q = (s, d) => {
    val toks = split(col("text"), " ")
    Tables(s, d, "documents")
      .select(col("doc_id"),
        big(size(array_distinct(toks))).as("n_distinct"),
        big(size(slice(toks, 1, 5))).as("n_head5"),
        array_sort(filter(toks, t => t =!= "")).as("sorted"))
      .select(col("doc_id"), col("n_distinct"),
        element_at(col("sorted"), 1).as("first_sorted"),
        element_at(col("sorted"), -1).as("last_sorted"),
        col("n_head5"),
        array_join(slice(array_distinct(col("sorted")), 1, 3), "|").as("top3_alpha"))
      .orderBy(col("doc_id"))
  }

  /** Q59: conditional expressions — CASE, coalesce, nullif, greatest, least. */
  def q59Conditionals: Q = (s, d) => {
    Tables(s, d, "lineitem").select(
      col("l_orderkey"), big(col("l_linenumber")).as("l_linenumber"),
      when(col("l_quantity") >= 40, "high").when(col("l_quantity") >= 15, "mid")
        .otherwise("low").as("qty_band"),
      coalesce(nullif(col("l_returnflag"), lit("N")), lit("none")).as("flag_or_none"),
      greatest(col("l_discount"), col("l_tax")).as("max_rate"),
      least(col("l_discount"), col("l_tax")).as("min_rate"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Q61: skew-resistant two-phase salted aggregation — `event_type` has 5
    * values, so a direct groupBy of 100 TB lands on 5 reducers; salting
    * spreads each hot key over 16 partial groups first. The final result is
    * salt-count- and partitioning-independent because the money sum is exact
    * decimal (D3, associative), which is exactly what the direct-GROUP-BY
    * oracle certifies.
    */
  def q61SkewSalted: Q = (s, d) =>
    Skew.saltedSumCount(graft.Tables.events(s, d), col("event_type"), col("value"))
      .select(col("key").as("event_type"), col("sum_v").as("sum_value"), col("cnt"))
      .orderBy(col("event_type"))

  /** Q62: deterministic stratified sampling over the portable id-hash — each
    * language keeps its configured fraction; reproducible at any parallelism
    * and replicated row-for-row by the oracle's arithmetic.
    */
  def q62Stratified: Q = (s, d) => {
    val fractions = Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.25, "fr" -> 0.1, "zh" -> 0.75)
    TrainingOps.portableStratifiedSample(
        Tables(s, d, "documents"), "lang", "doc_id", fractions)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
  }

  /** Q79: equi-width histogram of `l_extendedprice` — fixed bins of width
    * 5200.00 from 0, top edge clamped into bin 20. The bin id is computed in
    * INTEGER CENTS (`DECIMAL(18,4) · 100 → BIGINT`, then integer division):
    * double→bigint casts truncate in Spark but round in DuckDB, and
    * double division puts bin-edge values on either side of the boundary
    * depending on the engine's rounding — integer arithmetic is exact and
    * portable. One partial+final aggregate over 21 groups; the scan reads
    * exactly one column.
    */
  def q79Histogram: Q = (s, d) => {
    Tables(s, d, "lineitem")
      .select(col("l_extendedprice"),
        (dec(col("l_extendedprice")) * 100).cast("long").as("cents"))
      .select(col("l_extendedprice"),
        least(expr("cents div 520000"), lit(20L)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        moneySum(col("l_extendedprice")).as("total"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy(col("bucket"))
  }

  /** Q84: recursive CTE — dense calendar fill, the canonical WITH RECURSIVE
    * use in analytics (Spark supports recursive CTEs since 4.0): generate
    * every month between min and max order date, LEFT JOIN the monthly
    * order aggregate, zero-fill the gaps. Recursion depth is the number of
    * months in the data's time span — bounded and SF-independent (~80 for
    * this corpus, under Spark's default 100-level recursion limit), unlike
    * row-recursive formulations whose depth grows with the data. The
    * per-month aggregate is an ordinary partial+final HashAggregate; the
    * generated spine is tiny and broadcast.
    *
    * The recursion CARRIES the stop bound as a column instead of testing a
    * scalar subquery in the step: Spark re-evaluates the step's subplan —
    * including any scalar subquery and its table scan — at EVERY recursion
    * level, so a `WHERE m < (SELECT max(..) ..)` step costs one aggregate
    * job per month (measured 12.7 s at sf0.1; carried bound 0.68 s, 19×).
    * Where a spine needs no per-row recursion at all, non-recursive
    * `explode(sequence(lo, hi, interval))` is cheaper still (0.21 s) — the
    * recursive form is the general tool for genuinely self-referential
    * steps.
    */
  def q84RecursiveCte: Q = (s, d) => {
    Tables(s, d, "orders").createOrReplaceTempView("graft_q84_orders")
    s.sql(
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
        |         date_trunc('month', MAX(o_orderdate)) AS hi
        |  FROM graft_q84_orders),
        |months(m, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi),
        |agg AS (
        |  SELECT date_trunc('month', o_orderdate) AS mm, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM graft_q84_orders GROUP BY mm)
        |SELECT CAST(CAST(m AS DATE) AS STRING) AS month,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
        |  coalesce(total, 0.0) AS total
        |FROM months LEFT JOIN agg ON months.m = agg.mm ORDER BY month""".stripMargin)
  }

  /** Q88: bloom-prefiltered semi-join — the explicit runtime-filter pattern.
    * The selective dim side (orders over a price threshold) builds a compact
    * bloom filter in a SCALAR SUBQUERY (one aggregate job, a few hundred KB
    * at this key count); the fact side applies the codegen'd
    * `might_contain` BEFORE its exchange, so the semi-join shuffle carries
    * only candidate rows; the exact IN-subquery (left semi join) then
    * closes the bloom's false positives. Result is EXACTLY the plain
    * semi-join — which is the oracle — making the bloom a pure plan
    * transform under the hash gate. At 100 TB this prunes the fact scan's
    * shuffle by the dim selectivity without waiting for the optimizer's
    * own InjectRuntimeFilter heuristics to fire.
    */
  def q88BloomSemi: Q = (s, d) => {
    graft.functions.BloomFunctions.register(s)
    Tables(s, d, "orders").filter(col("o_totalprice") > 200000)
      .select(col("o_orderkey")).createOrReplaceTempView("graft_q88_keys")
    Tables(s, d, "lineitem").createOrReplaceTempView("graft_q88_li")
    s.sql(
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM graft_q88_li
        |WHERE graft_bloom_contains(
        |        (SELECT graft_bloom_agg(o_orderkey, 100000) FROM graft_q88_keys),
        |        l_orderkey)
        |  AND l_orderkey IN (SELECT o_orderkey FROM graft_q88_keys)
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  /** Q91: exact equi-depth binning — decile cuts via a global ntile window
    * with a total order (price, key tiebreak), then per-bin stats. The
    * global window is the EXACTNESS baseline (one range-partitioned sort —
    * fine when the binned relation is an aggregate or sample); at full
    * 100 TB fact scale the approximate path is percentile cutoffs +
    * width_bucket, which needs no global sort.
    */
  def q91EquidepthBins: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("bin", big(ntile(10).over(w)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("bin"))
  }

  /** Q93: key-continuity audit (gaps-and-islands over an id space) — the
    * data-integrity report an ingestion pipeline runs after every batch:
    * which id ranges are missing from a slice, and where the largest holes
    * are (top-20, so the report is bounded at any corpus size). Audited
    * space: event ids of the `purchase` slice — sparse by construction
    * since types interleave in the id sequence. One lag over the globally
    * ordered distinct keys; the global-order window is the exactness
    * baseline, and at full scale the same report computes per
    * range-partition with a one-row boundary exchange (partition i's first
    * key closes partition i−1's last gap).
    */
  def q93KeyGaps: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("k"))
    Tables.events(s, d).filter(col("event_type") === "purchase")
      .select(col("event_id").as("k")).distinct()
      .withColumn("prev", lag(col("k"), 1).over(w))
      .filter(col("k") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"), (col("k") - 1).as("gap_end"),
        (col("k") - col("prev") - 1).as("n_missing"))
      .orderBy(col("n_missing").desc, col("gap_start"))
      .limit(20)
  }

  /** Q108: scale-safe equi-depth binning — [[q91EquidepthBins]]' 100 TB
    * twin. The global ntile sort (every row through ONE partition) is
    * replaced by (a) one partial-aggregate pass building a bounded-memory
    * GK sketch (`approx_percentile`, accuracy 10000 ⇒ rank error ≤ n/10000)
    * for the nine decile cutoffs, and (b) a map-only second scan binning
    * each row against the broadcast 1-row cutoff array — no row ever leaves
    * its input partition. Bin populations are n/10 ± sketch error (ties
    * land in ONE bin where ntile splits them by key); ScaleTwinsSpec pins
    * the equivalence envelope vs the exact baseline at sf0.01. Engine-only:
    * DuckDB's approx_quantile is a different sketch, so cutoffs differ by
    * design.
    *
    * Heavy-tie inputs: a value spanning more than one decile makes
    * `approx_percentile` return DUPLICATE cutoffs. Those are deduplicated
    * (`array_distinct`), and cutoffs equal to the global minimum are
    * dropped (they would bound an unconditionally empty "below the first
    * decile" bin), so the affected deciles MERGE into one wider bin — bin
    * ids stay dense 1..m with m < 10 (guaranteed: every surviving cutoff
    * is an observed value strictly above the min, so each bin contains at
    * least the cutoff that closes it) and every row still lands in exactly
    * one bin — rather than leaving empty bins and skipping tied values to
    * the highest duplicate. Equi-depth binning cannot split a tie group
    * without an arbitrary secondary key, so merged bins are the honest
    * answer; ScaleTwinsSpec pins this contract on a heavy-tie input.
    * On o_totalprice (near-unique) all nine cutoffs are distinct and the
    * result is exactly bins 1..10.
    */
  def q108EquidepthScale: Q = (s, d) => {
    val orders = Tables(s, d, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val cuts = orders.agg(expr(
        "approx_percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9), 10000)")
        .as("rawcuts"), min(col("o_totalprice")).as("mn"))
      .select(expr("filter(array_distinct(rawcuts), c -> c > mn)").as("cuts"))
    orders.crossJoin(broadcast(cuts))
      .select(col("o_orderkey"), col("o_totalprice"),
        (lit(1L) + expr("aggregate(cuts, 0, (a, c) -> a + IF(o_totalprice >= c, 1, 0))")
          .cast("long")).as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("bin"))
  }

  /** Q109: scale-safe key-gap audit — [[q93KeyGaps]]' 100 TB twin,
    * implementing the boundary-exchange plan q93's scaladoc promises: the
    * distinct keys range-partition across the cluster, each partition
    * computes its own gaps under a `partitionBy(pid)` window (no global
    * sort), and the cross-partition boundaries close via a per-partition
    * summary relation — ONE row per partition, so the only un-partitioned
    * window runs over ≤ numPartitions rows, bounded by CLUSTER size, not
    * data size. The gap set of a key sequence is partition-invariant, so
    * the result is identical to q93's at any partitioning — it shares q93's
    * DuckDB oracle verbatim, which IS the equivalence check.
    */
  def q109KeyGapsScale: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // within-partition gaps: the window shuffles by hash(pid), keeping each
    // range-partition's keys together — never a single-partition sort. The
    // windowed relation is materialized ONCE (the library's reused-relation
    // discipline): its two consumers below would otherwise each re-run the
    // scan → distinct → range exchange → window chain, doubling the
    // dominant cost at scale (spark_partition_id's non-determinism blocks
    // Catalyst's own exchange reuse here — verified in the plan).
    val wIn = Window.partitionBy(col("pid")).orderBy(col("k"))
    val withPrev = graft.Checkpoints.materialize(
      Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("event_id").as("k")).distinct()
        .repartitionByRange(32, col("k"))
        .withColumn("pid", spark_partition_id())
        .withColumn("prev", lag(col("k"), 1).over(wIn)))
    val inner = withPrev
      .filter(col("k") - col("prev") > 1)
      .select((col("prev") + 1).as("gap_start"), (col("k") - 1).as("gap_end"),
        (col("k") - col("prev") - 1).as("n_missing"))
    // boundary exchange: partition i's min closes partition i-1's last gap;
    // lag (not a pid self-join) so empty partitions can't hide a boundary
    val bounds = withPrev.groupBy(col("pid"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
    val wB = Window.orderBy(col("pid")) // ≤ numPartitions summary rows
    val boundary = bounds.withColumn("prev_hi", lag(col("hi"), 1).over(wB))
      .filter(col("lo") - col("prev_hi") > 1)
      .select((col("prev_hi") + 1).as("gap_start"), (col("lo") - 1).as("gap_end"),
        (col("lo") - col("prev_hi") - 1).as("n_missing"))
    inner.union(boundary)
      .orderBy(col("n_missing").desc, col("gap_start")).limit(20)
  }

  /** Q102: DISCRETE percentiles (order statistics) — q47's interpolated
    * `percentile` returns values not in the data; the disc variant returns
    * the ceil(p·n)-th smallest actual value. Engines disagree on
    * `quantile_disc` index conventions, so BOTH run the same relational
    * formulation (row_number pick over a per-group sort) — the value at a
    * sorted position is deterministic even among duplicate values.
    */
  def q102PercentileDisc: Q = (s, d) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("o_totalprice"), col("o_orderkey"))
    def pick(p: Double) =
      max(when(col("rn") === ceil(col("n") * p).cast("long"), col("o_totalprice")))
    Tables(s, d, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("o_orderpriority"))))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        pick(0.25).as("p25_disc"), pick(0.5).as("p50_disc"), pick(0.9).as("p90_disc"))
      .orderBy(col("o_orderpriority"))
  }

  /** Q105: bitwise function battery — AND/OR/XOR/shifts/bit_count over the
    * event id space (the hash/partition-arithmetic primitives every custom
    * bucketing scheme builds on), hash-pinned across engines.
    */
  def q105Bitwise: Q = (s, d) => {
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"))
      .select(col("event_id"),
        (col("event_id").bitwiseAND(col("user_id"))).as("b_and"),
        (col("event_id").bitwiseOR(col("user_id"))).as("b_or"),
        (col("event_id").bitwiseXOR(col("user_id"))).as("b_xor"),
        expr("shiftleft(event_id, 3)").as("shl3"),
        expr("shiftright(event_id, 2)").as("shr2"),
        big(bit_count(col("event_id"))).as("popcount"))
      .orderBy(col("event_id"))
      .limit(5000)
  }

  /** Q213: exponentially time-decayed popularity top-k — the trending
    * leaderboard where last month's purchase counts double next month's:
    * each lineitem contributes `quantity · 2^-age`, age in months from the
    * corpus horizon, capped at 12 (beyond a year everything weighs the
    * floor). The decay stays EXACT by scaling to INTEGERS: the per-line
    * term is `qty · 2^(12−age)` (a long), the sum is associative long
    * arithmetic, and the single float op is the final division by 4096 —
    * exact dyadic division of a < 2^53 integer, bit-identical in any
    * engine and partitioning, unlike the usual `sum(qty · exp(-λ·age))`
    * (or a decimal reduction, whose midpoint rounding Spark and DuckDB
    * disagree on: HALF_UP vs half-even, measured at landing).
    *
    * Scale shape: one fact-fact join on the order key (AQE/broadcast
    * decides by sf), a 1-row broadcast horizon, then one map-side-combined
    * aggregate per part and TakeOrdered(25) — no global sort, no window.
    */
  def q213DecayedTopk: Q = (s, d) => {
    val om = Tables(s, d, "orders")
      .select(col("o_orderkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
          .cast("long").as("m"))
    val horizon = om.agg(max(col("m")).as("mmax"))
    Tables(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .join(om, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(horizon))
      .withColumn("age", least(col("mmax") - col("m"), lit(12L)))
      .withColumn("term", col("l_quantity").cast("long")
        * pow(lit(2.0), lit(12L) - col("age")).cast("long"))
      .groupBy(col("l_partkey"))
      .agg((sum(col("term")).cast("double") / lit(4096.0)).as("decayed_qty"),
        big(count(lit(1))).as("n_lines"))
      .orderBy(col("decayed_qty").desc, col("l_partkey"))
      .limit(25)
  }

  /** Q224: federated multi-format query — one join across a CSV export, a
    * JSON export, and an ORC export of three dimension tables, proving
    * the source surface end-to-end (write → schema-applied read → joined
    * aggregate) inside a declared oracle-checked query: the oracle runs
    * the same join on the ORIGINAL tables, so any round-trip corruption
    * (header loss, JSON type widening, ORC logical types) breaks the
    * hash. Sides are dimension-sized; the joins broadcast. The result is
    * materialized before the staging directory is deleted (the q121
    * temp-dir lesson).
    */
  def q224FederatedFormats: Q = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q224_").toString
    try {
      val nation = Tables(s, d, "nation")
      val region = Tables(s, d, "region")
      val supplier = Tables(s, d, "supplier")
      graft.sources.Writers.csv(nation, s"$tmp/nation")
      graft.sources.Writers.json(region, s"$tmp/region")
      graft.sources.Writers.orc(supplier, s"$tmp/supplier")
      val n2 = s.read.schema(nation.schema).option("header", "true")
        .csv(s"$tmp/nation")
      val r2 = s.read.schema(region.schema).json(s"$tmp/region")
      val s2 = s.read.orc(s"$tmp/supplier")
      graft.Checkpoints.materialize(
        s2.join(n2, col("s_nationkey") === col("n_nationkey"))
          .join(r2, col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"))
          .agg(big(count(lit(1))).as("n_suppliers"),
            round(moneySum(col("s_acctbal")), 4).as("total_bal"))
          .orderBy(col("r_name")))
    } finally graft.Checkpoints.deleteRecursively(tmp)
  }

  /** Q225: schema-evolution read — the v1/v2 parquet situation every
    * long-lived dataset hits: v1 files lack a column later added in v2.
    * Writes the two generations (even order keys as v1 without
    * `o_orderstatus`, odd as v2 with it), reads them back as ONE relation
    * via `mergeSchema`, and aggregates with the absent column surfacing
    * as NULL → 'unknown'. The oracle reconstructs the same view from the
    * original table, so a wrong merge (column misalignment, type clash,
    * silent drop) hash-fails. Result materialized before staging cleanup.
    */
  def q225SchemaEvolution: Q = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q225_").toString
    try {
      val o = Tables(s, d, "orders")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/t/gen=1")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$tmp/t/gen=2")
      val merged = s.read.option("mergeSchema", "true").parquet(s"$tmp/t")
      graft.Checkpoints.materialize(
        merged
          .withColumn("status", coalesce(col("o_orderstatus"), lit("unknown")))
          .groupBy(col("status"))
          .agg(big(count(lit(1))).as("n"),
            round(moneySum(col("o_totalprice")), 4).as("total"))
          .orderBy(col("status")))
    } finally graft.Checkpoints.deleteRecursively(tmp)
  }

  /** Q229: order-independent table content fingerprints — the replication
    * / migration audit: per table, row count plus an additive content
    * hash (sum of per-row md5-prefix integers over a canonical
    * `'|'`-joined projection), so two copies of a table can be compared
    * without sorting either. Canonicalization uses only portably-cast
    * types (longs, strings, date strings, integer cents) — the q43
    * md5-prefix technique — and the sum is an exact DECIMAL(38,0):
    * associative, partition-independent, engine-independent.
    *
    * Scale shape: one map-side-combined aggregate per table; the hash is
    * computed in the scan projection. This is the cheap first-line check
    * before a row-level diff (q129) is worth running.
    */
  def q229TableFingerprint: Q = (s, d) => {
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def fp(canon: Column): Column =
      sum(conv(substring(md5(canon), 1, 8), 16, 10).cast("long").cast(dec38))
        .cast(dec38).cast("string")
    def row(name: String, df: DataFrame, key: Column, canon: Column): DataFrame =
      // fan the md5-per-row hash out of the one-row-group scan task: the
      // projection runs with the partial aggregate, so without this the
      // whole table hashes single-threaded (measured 0.5 s on lineitem at
      // sf0.1 — opt r14); keyed (not round-robin) so no pre-shuffle local
      // sort, and the additive fingerprint is partition-independent anyway
      df.repartition(df.sparkSession.sparkContext.defaultParallelism, key)
        .agg(big(count(lit(1))).as("n_rows"), fp(canon).as("fingerprint"))
        .select(lit(name).as("table_name"), col("n_rows"), col("fingerprint"))
    val orders = Tables(s, d, "orders")
    val customer = Tables(s, d, "customer")
    val li = Tables(s, d, "lineitem")
    row("customer", customer, col("c_custkey"), concat_ws("|",
      col("c_custkey"), col("c_name"), col("c_nationkey").cast("long"),
      (col("c_acctbal").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
        .cast("long"), col("c_mktsegment")))
      .unionAll(row("orders", orders, col("o_orderkey"), concat_ws("|",
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        (col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long"), dateStr(col("o_orderdate")), col("o_orderpriority"))))
      .unionAll(row("lineitem", li, col("l_orderkey"), concat_ws("|",
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber").cast("long"), col("l_quantity").cast("long"),
        col("l_returnflag"), col("l_linestatus"), dateStr(col("l_shipdate")))))
      .orderBy(col("table_name"))
  }

  /** Q230: generated calendar dimension — `sequence()` builds every day
    * in the order-date span (the generator surface: a relation from no
    * table), enriched with year/quarter, LEFT-joined to the daily order
    * aggregate so inactive days survive as zeros, rolled up per (year,
    * quarter): calendar days vs active days vs volume. The zero-fill via
    * generated dimension is what a plain `GROUP BY date` silently gets
    * wrong (absent days just vanish).
    */
  def q230CalendarDim: Q = (s, d) => {
    val o = Tables(s, d, "orders")
    val span = o.agg(min(col("o_orderdate").cast("date")).as("d0"),
      max(col("o_orderdate").cast("date")).as("d1"))
    val cal = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val dec384 = org.apache.spark.sql.types.DecimalType(38, 4)
    val daily = o.groupBy(col("o_orderdate").cast("date").as("day"))
      .agg(count(lit(1)).as("n"), sum(dec(col("o_totalprice"))).as("rev"))
    cal.join(daily, Seq("day"), "left")
      .groupBy(year(col("day")).cast("long").as("yr"),
        quarter(col("day")).cast("long").as("qtr"))
      .agg(big(count(lit(1))).as("n_days"),
        big(sum(when(col("n").isNotNull, 1L).otherwise(0L))).as("n_active_days"),
        big(sum(coalesce(col("n"), lit(0L)))).as("n_orders"),
        round(sum(coalesce(col("rev"), lit(0).cast(dec384)))
          .cast(dec384).cast("double"), 4).as("revenue"))
      .orderBy(col("yr"), col("qtr"))
  }

  /** Q239: rank movers — which parts moved most between the early era
    * (< 1998) and the late era, by RANK rather than raw volume (rank
    * deltas are what a merchandiser reads; volume deltas just restate
    * scale). Ranks are computed WITHIN the top-100-by-total set — the
    * TakeOrdered cut comes first, so the global rank windows run over a
    * bounded 100-row relation, never the catalog — and the top-20
    * movers by |Δrank| are reported. All integer arithmetic, total
    * tie orders everywhere.
    */
  def q239RankMovers: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val li = Tables(s, d, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity").cast("long").as("q"))
    val om = Tables(s, d, "orders").select(col("o_orderkey"),
      (col("o_orderdate") < lit("1998-01-01").cast("timestamp")).as("early"))
    val per = li.join(om, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(col("q")).as("qt"),
        sum(when(col("early"), col("q")).otherwise(0L)).as("qa"),
        sum(when(!col("early"), col("q")).otherwise(0L)).as("qb"))
    val top = per.orderBy(col("qt").desc, col("l_partkey")).limit(100)
    val wa = Window.orderBy(col("qa").desc, col("l_partkey"))
    val wb = Window.orderBy(col("qb").desc, col("l_partkey"))
    top.withColumn("rank_early", big(row_number().over(wa)))
      .withColumn("rank_late", big(row_number().over(wb)))
      .withColumn("delta", col("rank_early") - col("rank_late"))
      .orderBy(abs(col("delta")).desc, col("l_partkey"))
      .limit(20)
      .select(col("l_partkey"), col("qa"), col("qb"),
        col("rank_early"), col("rank_late"), col("delta"))
  }

  /** Q251: nested-parquet round-trip — orders denormalized into
    * `array<struct>` line documents (the document-shaped export every
    * API/feature-store handoff wants), written to parquet, read back,
    * EXPLODED and re-aggregated; the oracle computes the same aggregate
    * from the flat relational tables, so schema mangling anywhere in the
    * nested write/read path (struct field order, array element nulls,
    * decimal logical types) breaks the hash. Line arrays are
    * `array_sort`ed before writing so the document form is
    * deterministic. Result materialized before staging cleanup.
    */
  def q251NestedRoundtrip: Q = (s, d) => {
    val tmp = java.nio.file.Files.createTempDirectory("graft_q251_").toString
    try {
      val lines = Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_list(struct(
          col("l_linenumber").cast("long").as("line"),
          col("l_partkey").as("part"),
          col("l_quantity").cast("long").as("qty"),
          dec(col("l_extendedprice")).as("price")))).as("lines"))
      Tables(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .join(lines, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("lines"))
        // pinned width on the nested write: AQE coalesced the join output
        // to 1-2 tasks, serializing the struct-array encode + parquet
        // write (opt r14); keyed so rows of an order stay together
        .repartition(s.sparkContext.defaultParallelism, col("o_orderkey"))
        .write.mode("overwrite").parquet(s"$tmp/docs")
      val back = s.read.parquet(s"$tmp/docs")
      graft.Checkpoints.materialize(
        back.select(col("o_orderkey"), col("o_orderstatus"),
          explode(col("lines")).as("ln"))
          .groupBy(col("o_orderstatus"))
          .agg(big(countDistinct(col("o_orderkey"))).as("n_orders"),
            big(count(lit(1))).as("n_lines"),
            big(sum(col("ln.qty"))).as("total_qty"),
            round(sum(col("ln.price")).cast("double"), 4).as("revenue"))
          .orderBy(col("o_orderstatus")))
    } finally graft.Checkpoints.deleteRecursively(tmp)
  }

  /** Q287: order/line reconciliation audit — the warehouse consistency
    * check that catches silent pipeline corruption: per order status, how
    * many orders' header `o_totalprice` agrees with the sum of their line
    * `l_extendedprice` (within one cent), how many disagree and by how
    * much, and how many headers have no lines at all. On this synthetic
    * fixture the header totals are NOT derived from the lines — the audit
    * honestly reports that, which is exactly its job.
    *
    * Determinism: both sides are exact DECIMAL(18,2); the absolute error
    * is exact decimal subtraction, compared against an exact 0.01
    * literal; only the mean error takes one rounded IEEE division.
    *
    * Scale shape: one line-side keyed sum (map-side combined), one
    * orderkey equi-join, one status-grain aggregate — no window, no
    * broadcastable assumption violated at any volume.
    */
  def q287Reconciliation: Q = (s, d) => {
    val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    val lt = Tables(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_extendedprice").cast(dec2)).as("lsum"))
    val tol = lit("0.01").cast(dec2)
    Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(dec2).as("tp"))
      .join(lt, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("err", abs(col("tp") - col("lsum")))
      .groupBy(col("o_orderstatus"))
      .agg(big(count(lit(1))).as("n_orders"),
        big(count(col("lsum"))).as("n_with_lines"),
        big(count(when(col("err") <= tol, 1))).as("n_matched"),
        big(count(when(col("err") > tol, 1))).as("n_mismatched"),
        max(col("err")).cast("double").as("max_abs_err"),
        round(sum(col("err")).cast("double")
          / count(col("err")).cast("double"), 6).as("mean_abs_err"))
      .orderBy(col("o_orderstatus"))
  }

  /** Q330: Bloom-filter false-positive audit — build a deterministic
    * 65536-bit, 4-hash Bloom set over the part keys (four MINSTD chains
    * with distinct multipliers — the portable-hash discipline, so both
    * engines materialize the IDENTICAL bit set), probe it with 5000 keys
    * provably outside the member domain, and report the MEASURED false-
    * positive rate against the fill-ratio prediction fill⁴. The sizing
    * audit behind q88's Bloom semi-join: "is my m/k budget actually
    * delivering the FPR I planned capacity around?"
    *
    * Scale shape: the bit set is value-domain bounded (≤65536 rows —
    * broadcast side by construction); members and probes each scan once
    * through a 4-way explode; exact integer hit counts, predicted FPR is
    * one fixed (f·f)·(f·f) tree.
    */
  def q330BloomFpr: Q = (s, d) => {
    val p = 2147483647L
    val m = 65536L
    val mults = Seq(48271L, 69621L, 40692L, 62089L)
    def h(x: Column, i: Int): Column = {
      val h1 = pmod(pmod(x, lit(p)) * mults(i), lit(p))
      pmod(pmod((h1 + 1L) * 16807L, lit(p)), lit(m))
    }
    val members = Tables(s, d, "part").select(col("p_partkey").as("k"))
    val bits = members
      .select(explode(array((0 until 4).map(i => h(col("k"), i)): _*)).as("bit"))
      .distinct()
    val nb = bits.agg(count(lit(1)).as("bits_set"))
    val nm = members.agg(count(lit(1)).as("n_members"))
    // probes start beyond any generated part key domain: disjoint by
    // construction, so every hit is a true false positive
    val probes = s.range(10000001L, 10005001L).toDF("pid")
    val probeBits = probes
      .select(col("pid"), explode(array((0 until 4).map(i => h(col("pid"), i)): _*)).as("bit"))
    val fp = probeBits.join(broadcast(bits), Seq("bit"))
      .groupBy(col("pid")).agg(count(lit(1)).as("nhit"))
      .filter(col("nhit") === 4)
      .agg(count(lit(1)).as("false_positives"))
    val fill = col("bits_set").cast("double") / lit(65536.0)
    fp.crossJoin(broadcast(nb)).crossJoin(broadcast(nm))
      .select(big(col("n_members")).as("n_members"),
        big(col("bits_set")).as("bits_set"),
        round(fill, 6).as("fill_ratio"),
        lit(5000L).as("n_probes"),
        big(col("false_positives")).as("false_positives"),
        round(col("false_positives").cast("double") / lit(5000.0), 6)
          .as("measured_fpr"),
        round((fill * fill) * (fill * fill), 6).as("predicted_fpr"))
  }

  /** Q338: consistent-hashing rebalance audit — a 16-node × 4-vnode MINSTD
    * ring takes a 17th node; what fraction of order keys actually move,
    * against the 4/68 ideal, and how balanced are the post-move node
    * loads? The shard-topology question every stateful service answers
    * before scaling out; consistent hashing's whole point is that ONLY
    * keys claimed by the new vnodes move, and this measures it.
    *
    * Determinism & scale shape: ring positions are made UNIQUE by
    * arithmetic (pos·100 + vnodeId — ties broken without structs, so the
    * successor is pure integer math both engines share); the 68-position
    * ring travels as ONE sorted-array row, each key finds its successor
    * with an array filter+min expression — no fan-out join, one pass over
    * the keys, exact integer counts.
    */
  def q338ConsistentHashing: Q = (s, d) => {
    val p = 2147483647L
    def mh(x: Column): Column =
      pmod((pmod(pmod(x, lit(p)) * 48271L, lit(p)) + 1L) * 16807L, lit(p))
    val ring = s.range(0L, 68L).toDF("rid")
      .select((mh(col("rid")) * 100L + col("rid")).as("pos"))
    val arr1 = ring.agg(sort_array(collect_list(col("pos"))).as("arr"))
    val keys = Tables(s, d, "orders")
      .select((mh(col("o_orderkey")) * 100L + 99L).as("h"))
    val succ = keys.crossJoin(broadcast(arr1))
      .select(coalesce(
        array_min(filter(col("arr"), e => e >= col("h"))),
        element_at(col("arr"), 1)).as("sp"))
      .select(pmod(col("sp"), lit(100L)).as("rid"))
      .select((col("rid") / 4L).cast("long").as("node"),
        (col("rid") >= 64L).as("moved"))
    val loads = succ.groupBy(col("node")).agg(count(lit(1)).as("ld"))
    val loadAgg = loads.agg(max(col("ld")).as("max_load"),
      min(col("ld")).as("min_load"), count(lit(1)).as("n_nodes"))
    succ.agg(count(lit(1)).as("n_keys"),
      sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved"))
      .crossJoin(broadcast(loadAgg))
      .select(big(col("n_keys")).as("n_keys"), big(col("n_moved")).as("n_moved"),
        round(col("n_moved").cast("double") / col("n_keys").cast("double"), 6)
          .as("moved_frac"),
        round(lit(4.0) / lit(68.0), 6).as("ideal_frac"),
        big(col("n_nodes")).as("n_nodes"),
        big(col("max_load")).as("max_load"), big(col("min_load")).as("min_load"))
  }

  /** Q473: knee/elbow detection on the part-revenue concentration curve —
    * the principled "where does the top-N cutoff stop paying" answer a
    * curation pipeline needs when q374's Lorenz curve only plots the
    * concentration: over the top-1000 revenue parts, the knee is the rank
    * maximizing distance to the (0,0)→(1,1) chord, i.e. argmax of
    * share(r) − r/K, computed in EXACT cleared integers
    * (cum·10⁴·K − r·X·10⁴, both < 2⁶³) with (gain desc, rank asc)
    * tie-break. Windows run over the TakeOrdered-bounded 1000-row
    * relation (the q239/q339 argument), never the catalog.
    */
  def q473KneeDetection: Q = (s, d) => {
    val rev = Tables(s, d, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(revenueTerm(col("l_extendedprice"), col("l_discount")))
        .cast(org.apache.spark.sql.types.DecimalType(18, 4)).as("rev"))
      .orderBy(col("rev").desc, col("l_partkey")).limit(1000)
    val wOrd = org.apache.spark.sql.expressions.Window
      .orderBy(col("rev").desc, col("l_partkey"))
    val wCum = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val tot = rev.agg(count(lit(1)).as("k"),
      sum(col("rev")).cast(org.apache.spark.sql.types.DecimalType(28, 4)).as("x"))
    val stepped = rev
      .withColumn("r", row_number().over(wOrd).cast("long"))
      .withColumn("cum", sum(col("rev")).over(wCum)
        .cast(org.apache.spark.sql.types.DecimalType(28, 4)))
      .crossJoin(broadcast(tot))
      .withColumn("gain2",
        (col("cum") * 10000).cast("long") * col("k")
          - col("r") * (col("x") * 10000).cast("long"))
    stepped.orderBy(col("gain2").desc, col("r")).limit(1)
      .select(big(col("k")).as("k_total"), col("r").as("knee_rank"),
        round(col("cum").cast("double") / col("x").cast("double"), 6)
          .as("share_at_knee"),
        round(col("cum").cast("double") / col("x").cast("double")
          - col("r").cast("double") / col("k").cast("double"), 6).as("gain"))
  }

  val queries: Map[String, Q] = Map(
    "q473_knee_detection" -> q473KneeDetection,
    "q338_consistent_hashing" -> q338ConsistentHashing,
    "q330_bloom_fpr" -> q330BloomFpr,
    "q287_reconciliation" -> q287Reconciliation,
    "q251_nested_roundtrip" -> q251NestedRoundtrip,
    "q239_rank_movers" -> q239RankMovers,
    "q229_table_fingerprint" -> q229TableFingerprint,
    "q230_calendar_dim" -> q230CalendarDim,
    "q224_federated_formats" -> q224FederatedFormats,
    "q225_schema_evolution" -> q225SchemaEvolution,
    "q213_decayed_topk" -> q213DecayedTopk,
    "q88_bloom_semi" -> q88BloomSemi,
    "q91_equidepth_bins" -> q91EquidepthBins,
    "q93_key_gaps" -> q93KeyGaps,
    "q108_equidepth_scale" -> q108EquidepthScale,
    "q109_key_gaps_scale" -> q109KeyGapsScale,
    "q102_percentile_disc" -> q102PercentileDisc,
    "q105_bitwise" -> q105Bitwise,
    "q84_recursive_cte" -> q84RecursiveCte,
    "q79_histogram" -> q79Histogram,
    "q61_skew_salted" -> q61SkewSalted,
    "q62_stratified" -> q62Stratified,
    "q57_window_extras" -> q57WindowExtras,
    "q67_window_nav" -> q67WindowNav,
    "q68_unpivot" -> q68Unpivot,
    "q58_array_funcs" -> q58ArrayFuncs,
    "q59_conditionals" -> q59Conditionals,
    "q47_percentile" -> q47Percentile,
    "q48_stats" -> q48Stats,
    "q49_filter_agg" -> q49FilterAgg,
    "q50_pivot" -> q50Pivot,
    "q51_string_agg" -> q51StringAgg,
    "q52_corr_subquery" -> q52CorrSubquery)

  val oracles: Map[String, String] = Map(
    "q473_knee_detection" ->
      """WITH rev AS MATERIALIZED (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
        |      * CAST(1 - l_discount AS DECIMAL(12,4))) AS DECIMAL(18,4))
        |      AS rev
        |  FROM lineitem GROUP BY 1
        |  ORDER BY rev DESC, l_partkey LIMIT 1000),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
        |    CAST(SUM(rev) AS DECIMAL(28,4)) AS x FROM rev),
        |stepped AS (SELECT
        |    CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey)
        |      AS BIGINT) AS r,
        |    CAST(SUM(rev) OVER (ORDER BY rev DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DECIMAL(28,4)) AS cum
        |  FROM rev),
        |g AS (SELECT r, cum, k, x,
        |    CAST(cum * 10000 AS BIGINT) * k
        |      - r * CAST(x * 10000 AS BIGINT) AS gain2
        |  FROM stepped, tot)
        |SELECT k AS k_total, r AS knee_rank,
        |  ROUND(CAST(cum AS DOUBLE) / CAST(x AS DOUBLE), 6) AS share_at_knee,
        |  ROUND(CAST(cum AS DOUBLE) / CAST(x AS DOUBLE)
        |    - CAST(r AS DOUBLE) / CAST(k AS DOUBLE), 6) AS gain
        |FROM g ORDER BY gain2 DESC, r LIMIT 1""".stripMargin,
    "q338_consistent_hashing" ->
      """WITH ring AS (
        |  SELECT ((((rid % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |    % 2147483647 * 100 + rid AS pos
        |  FROM (SELECT CAST(u.r AS BIGINT) AS rid
        |        FROM unnest(range(0, 68)) u(r))),
        |a AS (SELECT list_sort(list(pos)) AS arr FROM ring),
        |keys AS (
        |  SELECT ((((o_orderkey % 2147483647) * 48271) % 2147483647 + 1)
        |    * 16807) % 2147483647 * 100 + 99 AS h
        |  FROM orders),
        |sc AS (
        |  SELECT COALESCE(list_min(list_filter(arr, e -> e >= h)), arr[1]) AS sp
        |  FROM keys, a),
        |nd AS (SELECT (sp % 100) // 4 AS node, (sp % 100) >= 64 AS moved
        |       FROM sc),
        |loads AS (SELECT node, COUNT(*) AS ld FROM nd GROUP BY 1),
        |la AS (SELECT MAX(ld) AS max_load, MIN(ld) AS min_load,
        |         COUNT(*) AS n_nodes FROM loads),
        |agg AS (SELECT COUNT(*) AS n_keys,
        |          SUM(CASE WHEN moved THEN 1 ELSE 0 END) AS n_moved FROM nd)
        |SELECT CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(n_moved AS BIGINT) AS n_moved,
        |  ROUND(CAST(n_moved AS DOUBLE) / CAST(n_keys AS DOUBLE), 6)
        |    AS moved_frac,
        |  ROUND(CAST('4.0' AS DOUBLE) / CAST('68.0' AS DOUBLE), 6) AS ideal_frac,
        |  CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(max_load AS BIGINT) AS max_load,
        |  CAST(min_load AS BIGINT) AS min_load
        |FROM agg, la""".stripMargin,
    "q330_bloom_fpr" ->
      """WITH members AS (SELECT p_partkey AS k FROM part),
        |bits AS (
        |  SELECT DISTINCT
        |    ((((k % 2147483647) * m.a) % 2147483647 + 1) * 16807)
        |      % 2147483647 % 65536 AS bit
        |  FROM members, (VALUES (48271), (69621), (40692), (62089)) m(a)),
        |nb AS (SELECT COUNT(*) AS bits_set FROM bits),
        |nm AS (SELECT COUNT(*) AS n_members FROM members),
        |probes AS (SELECT CAST(u.r AS BIGINT) AS pid
        |           FROM unnest(range(10000001, 10005001)) u(r)),
        |pb AS (
        |  SELECT pid,
        |    ((((pid % 2147483647) * m.a) % 2147483647 + 1) * 16807)
        |      % 2147483647 % 65536 AS bit
        |  FROM probes, (VALUES (48271), (69621), (40692), (62089)) m(a)),
        |fp AS (
        |  SELECT COUNT(*) AS false_positives FROM (
        |    SELECT pid FROM pb JOIN bits USING (bit)
        |    GROUP BY pid HAVING COUNT(*) = 4))
        |SELECT CAST(n_members AS BIGINT) AS n_members,
        |  CAST(bits_set AS BIGINT) AS bits_set,
        |  ROUND(CAST(bits_set AS DOUBLE) / CAST('65536.0' AS DOUBLE), 6)
        |    AS fill_ratio,
        |  CAST(5000 AS BIGINT) AS n_probes,
        |  CAST(false_positives AS BIGINT) AS false_positives,
        |  ROUND(CAST(false_positives AS DOUBLE) / CAST('5000.0' AS DOUBLE), 6)
        |    AS measured_fpr,
        |  ROUND(((CAST(bits_set AS DOUBLE) / CAST('65536.0' AS DOUBLE))
        |       * (CAST(bits_set AS DOUBLE) / CAST('65536.0' AS DOUBLE)))
        |      * ((CAST(bits_set AS DOUBLE) / CAST('65536.0' AS DOUBLE))
        |       * (CAST(bits_set AS DOUBLE) / CAST('65536.0' AS DOUBLE))), 6)
        |    AS predicted_fpr
        |FROM fp, nb, nm""".stripMargin,
    "q287_reconciliation" ->
      """WITH l AS (
        |  SELECT l_orderkey,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS lsum
        |  FROM lineitem GROUP BY 1
        |), j AS (
        |  SELECT o.o_orderstatus, l.lsum,
        |    ABS(CAST(o.o_totalprice AS DECIMAL(18,2)) - l.lsum) AS err
        |  FROM orders o LEFT JOIN l ON o.o_orderkey = l.l_orderkey
        |)
        |SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(COUNT(lsum) AS BIGINT) AS n_with_lines,
        |  CAST(COUNT(CASE WHEN err <= CAST('0.01' AS DECIMAL(18,2))
        |    THEN 1 END) AS BIGINT) AS n_matched,
        |  CAST(COUNT(CASE WHEN err > CAST('0.01' AS DECIMAL(18,2))
        |    THEN 1 END) AS BIGINT) AS n_mismatched,
        |  CAST(MAX(err) AS DOUBLE) AS max_abs_err,
        |  ROUND(CAST(SUM(err) AS DOUBLE) / CAST(COUNT(err) AS DOUBLE), 6)
        |    AS mean_abs_err
        |FROM j GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q251_nested_roundtrip" ->
      """SELECT o_orderstatus,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
        |  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q239_rank_movers" ->
      """WITH per AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qt,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT) AS qa,
        |    CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN 0 ELSE CAST(l_quantity AS BIGINT) END) AS BIGINT) AS qb
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |top AS (SELECT * FROM per ORDER BY qt DESC, l_partkey LIMIT 100),
        |rk AS (
        |  SELECT l_partkey, qa, qb,
        |    CAST(ROW_NUMBER() OVER (ORDER BY qa DESC, l_partkey) AS BIGINT)
        |      AS rank_early,
        |    CAST(ROW_NUMBER() OVER (ORDER BY qb DESC, l_partkey) AS BIGINT)
        |      AS rank_late
        |  FROM top)
        |SELECT l_partkey, qa, qb, rank_early, rank_late,
        |  rank_early - rank_late AS delta
        |FROM rk ORDER BY ABS(rank_early - rank_late) DESC, l_partkey
        |LIMIT 20""".stripMargin,
    "q229_table_fingerprint" ->
      """WITH c AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(CAST(SUM(CAST(('0x' || substr(md5(
        |      c_custkey || '|' || c_name || '|' || CAST(c_nationkey AS BIGINT)
        |      || '|' || CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      || '|' || c_mktsegment), 1, 8)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)
        |      AS fingerprint
        |  FROM customer),
        |o AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(CAST(SUM(CAST(('0x' || substr(md5(
        |      o_orderkey || '|' || o_custkey || '|' || o_orderstatus
        |      || '|' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      || '|' || CAST(CAST(o_orderdate AS DATE) AS VARCHAR)
        |      || '|' || o_orderpriority), 1, 8)) AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR)
        |      AS fingerprint
        |  FROM orders),
        |l AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(CAST(SUM(CAST(('0x' || substr(md5(
        |      l_orderkey || '|' || l_partkey || '|' || l_suppkey
        |      || '|' || CAST(l_linenumber AS BIGINT)
        |      || '|' || CAST(l_quantity AS BIGINT)
        |      || '|' || l_returnflag || '|' || l_linestatus
        |      || '|' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR)), 1, 8))
        |      AS BIGINT)) AS DECIMAL(38,0)) AS VARCHAR) AS fingerprint
        |  FROM lineitem)
        |SELECT 'customer' AS table_name, n_rows, fingerprint FROM c
        |UNION ALL SELECT 'lineitem', n_rows, fingerprint FROM l
        |UNION ALL SELECT 'orders', n_rows, fingerprint FROM o
        |ORDER BY table_name""".stripMargin,
    "q230_calendar_dim" ->
      """WITH span AS (
        |  SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
        |         CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders),
        |cal AS (SELECT CAST(u.d AS DATE) AS day
        |        FROM span, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS u(d)),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1)
        |SELECT CAST(YEAR(cal.day) AS BIGINT) AS yr,
        |  CAST(QUARTER(cal.day) AS BIGINT) AS qtr,
        |  CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(CASE WHEN daily.n IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_active_days,
        |  CAST(SUM(COALESCE(daily.n, 0)) AS BIGINT) AS n_orders,
        |  ROUND(CAST(CAST(SUM(COALESCE(daily.rev, 0)) AS DECIMAL(38,4)) AS DOUBLE), 4)
        |    AS revenue
        |FROM cal LEFT JOIN daily ON cal.day = daily.day
        |GROUP BY 1, 2 ORDER BY yr, qtr""".stripMargin,
    "q224_federated_formats" ->
      """SELECT r_name,
        |  CAST(COUNT(*) AS BIGINT) AS n_suppliers,
        |  ROUND(CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4) AS total_bal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q225_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'unknown'
        |            ELSE o_orderstatus END AS status,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    "q213_decayed_topk" ->
      """WITH om AS (
        |  SELECT o_orderkey,
        |    YEAR(o_orderdate) * 12 + MONTH(o_orderdate) AS m
        |  FROM orders),
        |h AS (SELECT MAX(m) AS mmax FROM om),
        |t AS (
        |  SELECT l.l_partkey,
        |    CAST(l.l_quantity AS BIGINT) *
        |    CAST(POW(2, 12 - LEAST(mmax - m, 12)) AS BIGINT) AS term
        |  FROM lineitem l JOIN om ON l.l_orderkey = om.o_orderkey, h)
        |SELECT l_partkey,
        |  CAST(SUM(term) AS DOUBLE) / 4096.0 AS decayed_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM t GROUP BY 1
        |ORDER BY decayed_qty DESC, l_partkey LIMIT 25""".stripMargin,
    "q102_percentile_disc" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderpriority, COUNT(*) AS n_rows,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN o_totalprice END) AS p25_disc,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN o_totalprice END) AS p50_disc,
        |  MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN o_totalprice END) AS p90_disc
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q105_bitwise" ->
      """SELECT event_id,
        |  event_id & user_id AS b_and,
        |  event_id | user_id AS b_or,
        |  xor(event_id, user_id) AS b_xor,
        |  event_id << 3 AS shl3,
        |  event_id >> 2 AS shr2,
        |  CAST(bit_count(event_id) AS BIGINT) AS popcount
        |FROM events ORDER BY event_id LIMIT 5000""".stripMargin,
    "q93_key_gaps" ->
      """WITH k AS (SELECT DISTINCT event_id AS k FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT k, lag(k) OVER (ORDER BY k) AS prev FROM k)
        |SELECT prev + 1 AS gap_start, k - 1 AS gap_end, k - prev - 1 AS n_missing
        |FROM g WHERE k - prev > 1 ORDER BY n_missing DESC, gap_start LIMIT 20""".stripMargin,
    // q109 is the partition-parallel plan for the SAME report: the gap set
    // of a key sequence is partition-invariant, so q93's oracle applies
    // verbatim — the hash compare IS the scale-twin equivalence proof
    "q109_key_gaps_scale" ->
      """WITH k AS (SELECT DISTINCT event_id AS k FROM events WHERE event_type = 'purchase'),
        |g AS (SELECT k, lag(k) OVER (ORDER BY k) AS prev FROM k)
        |SELECT prev + 1 AS gap_start, k - 1 AS gap_end, k - prev - 1 AS n_missing
        |FROM g WHERE k - prev > 1 ORDER BY n_missing DESC, gap_start LIMIT 20""".stripMargin,
    "q88_bloom_semi" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 200000)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q91_equidepth_bins" ->
      """WITH b AS (
        |  SELECT o_totalprice,
        |    CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bin
        |  FROM orders)
        |SELECT bin, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    "q84_recursive_cte" ->
      """WITH RECURSIVE bounds AS (
        |  SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
        |         date_trunc('month', MAX(o_orderdate)) AS hi
        |  FROM orders),
        |months(m, hi) AS (
        |  SELECT lo, hi FROM bounds
        |  UNION ALL
        |  SELECT m + INTERVAL 1 MONTH, hi FROM months WHERE m < hi),
        |agg AS (
        |  SELECT date_trunc('month', o_orderdate) AS mm, COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        |  FROM orders GROUP BY mm)
        |SELECT CAST(CAST(m AS DATE) AS VARCHAR) AS month,
        |  CAST(coalesce(n, 0) AS BIGINT) AS n_orders,
        |  coalesce(total, 0.0) AS total
        |FROM months LEFT JOIN agg ON months.m = agg.mm ORDER BY month""".stripMargin,
    "q79_histogram" ->
      """SELECT CAST(least(CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT) // 520000, 20) AS BIGINT) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
        |  MIN(l_extendedprice) AS lo,
        |  MAX(l_extendedprice) AS hi
        |FROM lineitem GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q68_unpivot" ->
      """WITH base AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |    CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, metric, value
        |FROM base UNPIVOT (value FOR metric IN (sum_qty, sum_price, sum_disc))
        |ORDER BY l_returnflag, metric""".stripMargin,
    "q67_window_nav" ->
      """SELECT c_mktsegment, c_custkey,
        |  CAST(first_value(c_custkey) OVER w AS BIGINT) AS richest,
        |  CAST(nth_value(c_custkey, 3) OVER w AS BIGINT) AS third_richest,
        |  CAST(last_value(c_custkey) OVER w AS BIGINT) AS poorest
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q61_skew_salted" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q62_stratified" ->
      """WITH b AS (SELECT *,
        |    ((((doc_id % 2147483647) * 48271) % 2147483647 + 1) * 16807)
        |      % 2147483647 % 10000 AS bucket
        |  FROM documents),
        |kept AS (SELECT * FROM b WHERE bucket <
        |  CASE lang WHEN 'en' THEN 5000 WHEN 'es' THEN 2500 WHEN 'de' THEN 2500
        |            WHEN 'fr' THEN 1000 WHEN 'zh' THEN 7500 ELSE 0 END)
        |SELECT lang, COUNT(*) AS n_sampled, MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    "q57_window_extras" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS pr,
        |  ROUND(cume_dist() OVER w, 6) AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,
    "q58_array_funcs" ->
      """SELECT doc_id,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        |  list_sort(list_filter(string_split(text, ' '), t -> t <> ''))[1] AS first_sorted,
        |  list_sort(list_filter(string_split(text, ' '), t -> t <> ''))[-1] AS last_sorted,
        |  CAST(len(string_split(text, ' ')[1:5]) AS BIGINT) AS n_head5,
        |  array_to_string(list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t <> '')))[1:3], '|') AS top3_alpha
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q59_conditionals" ->
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  CASE WHEN l_quantity >= 40 THEN 'high'
        |       WHEN l_quantity >= 15 THEN 'mid' ELSE 'low' END AS qty_band,
        |  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS flag_or_none,
        |  GREATEST(l_discount, l_tax) AS max_rate,
        |  LEAST(l_discount, l_tax) AS min_rate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q47_percentile" ->
      """SELECT o_orderpriority,
        |  ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
        |  ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p90
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q48_stats" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS s1,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)) * CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DOUBLE) AS s2,
        |  ROUND((CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)) * CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DOUBLE)
        |         - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |        / (CAST(COUNT(*) AS DOUBLE) - 1), 4) AS var_samp,
        |  ROUND(sqrt((CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4)) * CAST(l_quantity AS DECIMAL(12,4))) AS DECIMAL(38,4)) AS DOUBLE)
        |         - CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) * CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |        / (CAST(COUNT(*) AS DOUBLE) - 1)), 4) AS stddev_samp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q49_filter_agg" ->
      """SELECT o_orderpriority, COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE o_totalprice > 250000) AS n_big,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_all,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sum_f
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q50_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))) FILTER (WHERE l_returnflag = 'A'), 4) AS DOUBLE) AS "A",
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))) FILTER (WHERE l_returnflag = 'N'), 4) AS DOUBLE) AS "N",
        |  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,4)) * CAST(1 - l_discount AS DECIMAL(12,4))) FILTER (WHERE l_returnflag = 'R'), 4) AS DOUBLE) AS "R"
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q51_string_agg" ->
      """SELECT source, string_agg(lang, ',' ORDER BY lang) AS langs
        |FROM (SELECT DISTINCT source, lang FROM documents)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q52_corr_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (
        |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
        |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
}
