package graft.operators

import graft.Tables
import graft.Dsl.big
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Physical-layout analytics: multi-dimensional clustering (Z-order), the
  * min-max pruning audit that justifies it, and the Pareto-front (skyline)
  * operator — the data-layout toolbox a 100 TB table lives or dies by.
  *
  * At cluster scale the Z-value is the clustering key a writer feeds to
  * `repartitionByRange(z).sortWithinPartitions(z)` so every output file
  * gets TIGHT min/max ranges on BOTH dimensions; these queries compute the
  * index arithmetic and audit the resulting skip rates, all in exact
  * integer arithmetic a DuckDB oracle replays bit-for-bit.
  */
object Layout {
  type Q = (SparkSession, String) => DataFrame

  /** 16-bit × 16-bit Morton (Z-order) interleave as one codegen'd integer
    * expression: bit i of x lands at position 2i, bit i of y at 2i+1.
    */
  private def zval(x: Column, y: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  private def zSqlOn(x: String, y: String): String =
    (0 until 16).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  private val zSql: String = zSqlOn("xb", "yb")

  /** Orders mapped to the (custkey, order-day) plane, plus each dimension
    * NORMALIZED to the full 16-bit range via a 1-row min/max broadcast —
    * `xb = (x − xmin)·65535 div (xmax − xmin)` in pure integer arithmetic.
    * Without the normalization the curve degenerates: at sf0.01 custkey
    * fills 11 bits and order-day 12, so the raw interleave never exceeds
    * 2²⁴ and every row lands in Z-bucket 0 (caught by the first verify
    * run); at another scale the occupied prefix shifts again. Normalizing
    * by the observed range keeps all 64 buckets populated at ANY scale.
    */
  private def xy(s: SparkSession, d: String): DataFrame = {
    val raw = Tables(s, d, "orders").select(
      col("o_custkey").as("x"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
        .cast("long").as("y"))
    val stats = raw.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    raw.crossJoin(broadcast(stats))
      .withColumn("xb", expr("((x - xmin) * 65535) div greatest(xmax - xmin, 1)"))
      .withColumn("yb", expr("((y - ymin) * 65535) div greatest(ymax - ymin, 1)"))
      .select(col("x"), col("y"), col("xb"), col("yb"))
  }

  /** Q182: Z-order layout index — Morton-interleave (custkey, order-day)
    * into a 32-bit Z-value, derive 64 range buckets (the file boundaries a
    * writer would use), and audit each bucket's min/max envelope on BOTH
    * dimensions. Pure map + one 64-group aggregate; the interleave is a
    * single codegen'd integer expression (no UDF). The per-bucket extent
    * shows the locality the curve buys: every bucket is tight in x AND y
    * simultaneously, which no single-column sort achieves.
    */
  def q182Zorder: Q = (s, d) => {
    xy(s, d)
      .withColumn("z", zval(col("xb"), col("yb")))
      .withColumn("bucket", expr("z div 67108864"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("xmin"), max(col("x")).as("xmax"),
        min(col("y")).as("ymin"), max(col("y")).as("ymax"))
      .select(col("bucket"), col("n"), col("xmin"), col("xmax"),
        col("ymin"), col("ymax"),
        (col("xmax") - col("xmin") + col("ymax") - col("ymin")).as("extent"))
      .orderBy(col("bucket"))
  // n.b. per-bucket min/max are reported on the RAW dimensions — the
  // envelope a file footer would carry
  }

  /** Q183: min-max pruning audit — the measured case for Z-ordering. The
    * same rows are laid out two ways (single-dimension date buckets vs
    * q182's Z-order buckets); for the conjunctive predicate
    * `x ∈ [100,199] AND y ∈ [730,1094]` the audit counts which buckets a
    * min/max-pruning reader must scan under each layout. The date layout
    * prunes only the date dimension — every kept bucket still carries all
    * customers; the Z layout is tight in both, so `rows_scanned`
    * collapses toward `true_rows`. This is file-skipping arithmetic,
    * computed exactly, with the reader simulated by the overlap predicate.
    */
  def q183MinmaxPrune: Q = (s, d) => {
    val base = xy(s, d)
    val (x0, x1, y0, y1) = (100L, 199L, 730L, 1094L)
    val pred = col("x").between(x0, x1) && col("y").between(y0, y1)
    val truth = base.agg(count(when(pred, 1)).as("true_rows"))
    def audit(name: String, bucketed: DataFrame): DataFrame = {
      val st = bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("xmin"), max(col("x")).as("xmax"),
          min(col("y")).as("ymin"), max(col("y")).as("ymax"))
      val kept = col("xmin") <= x1 && col("xmax") >= x0 &&
        col("ymin") <= y1 && col("ymax") >= y0
      st.agg(count(lit(1)).as("n_buckets"),
        count(when(kept, 1)).as("kept_buckets"),
        sum(when(kept, col("n")).otherwise(0L)).as("rows_scanned"))
        .crossJoin(broadcast(truth))
        .select(lit(name).as("layout"), col("n_buckets"), col("kept_buckets"),
          col("rows_scanned"), col("true_rows"))
    }
    audit("date", base.withColumn("bucket", expr("y div 38")))
      .unionAll(audit("zorder",
        base.withColumn("z", zval(col("xb"), col("yb")))
          .withColumn("bucket", expr("z div 67108864"))))
      .orderBy(col("layout"))
  }

  /** Q181: 2-D skyline (Pareto front) of parts — minimize retail price,
    * maximize size — in the two-phase form that survives scale. Phase 1 is
    * a GRID PRUNE: 256 price buckets, per-bucket max size, and a running
    * max over strictly-cheaper buckets (a window over the ≤256-row bucket
    * summary, never the parts); any part whose size doesn't exceed that
    * prior max is provably dominated (a strictly cheaper part is at least
    * as large) and is dropped before the exact pass. Phase 2 runs the
    * exact dominance anti-join among the few survivors only — correct
    * because dominance is transitive, so every dominated survivor has a
    * SKYLINE dominator, and phase 1 never drops a skyline point. On
    * anti-correlated data the survivor set is the skyline itself; the
    * naive all-pairs NOT EXISTS the oracle runs is O(n²).
    */
  def q181Skyline: Q = (s, d) => {
    val p = Tables(s, d, "part")
      .select(col("p_partkey"), col("p_retailprice").as("price"),
        col("p_size").cast("long").as("sz"))
    val stats = p.agg(min(col("price")).as("pmin"), max(col("price")).as("pmax"))
    val b = p.crossJoin(broadcast(stats))
      .withColumn("bucket", least(lit(255L),
        floor((col("price") - col("pmin")) * 256
          / (col("pmax") - col("pmin") + lit(1e-9))).cast("long")))
    val bstats = b.groupBy(col("bucket")).agg(max(col("sz")).as("bmax"))
    val prior = bstats.withColumn("prior",
      max(col("bmax")).over(Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, -1)))
    val phase1 = b.join(broadcast(prior.select(col("bucket"), col("prior"))), Seq("bucket"))
      .filter(col("prior").isNull || col("sz") > col("prior"))
      .select(col("p_partkey"), col("price"), col("sz"))
    val sv = phase1.alias("x")
    val dominators = phase1.select(col("p_partkey").as("yk"),
      col("price").as("yp"), col("sz").as("ys"))
    sv.join(broadcast(dominators),
      col("yp") <= col("price") && col("ys") >= col("sz") &&
        (col("yp") < col("price") || col("ys") > col("sz")), "left_anti")
      .select(col("p_partkey"), col("price"), col("sz"))
      .orderBy(col("price"), col("p_partkey"))
  }

  /** Q196: Hilbert vs Morton locality — the same normalized rows bucketed
    * by q182's Z-index and by the Hilbert index
    * ([[graft.functions.HilbertIndex]], the codegen'd custom Expression —
    * unrolled column CASEs would triple per rotation step into a 3¹⁶-node
    * projection), then each curve summarized to (buckets, Σ extent,
    * max extent) over the RAW dimensions. Bucket width matters: at a
    * power-of-4 bucket count both curves partition into the SAME aligned
    * sub-squares and the comparison is vacuous (measured: identical
    * extents at 64 buckets); at 100 buckets the ranges straddle block
    * boundaries, where Z takes its diagonal jumps — measured at sf0.01:
    * Σextent 58 701 (Z) vs 46 785 (Hilbert), max 1 046 vs 562. The claim
    * is hash-verified, because the oracle replays the full 16-step
    * rotation arithmetic as a chained-CTE SQL program.
    */
  def q196Hilbert: Q = (s, d) => {
    graft.functions.VectorFunctions.register(s)
    val base = xy(s, d)
    def summarize(name: String, bucketed: DataFrame): DataFrame =
      bucketed.groupBy(col("bucket"))
        .agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
          min(col("y")).as("ymin"), max(col("y")).as("ymax"))
        .select((col("xmax") - col("xmin") + col("ymax") - col("ymin")).as("extent"))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("extent")).cast("long").as("sum_extent"),
          max(col("extent")).as("max_extent"))
        .select(lit(name).as("curve"), col("n_buckets"), col("sum_extent"),
          col("max_extent"))
    summarize("hilbert", base
      .withColumn("hd", graft.functions.VectorFunctions.hilbert(col("xb"), col("yb")))
      .withColumn("bucket", expr("hd div 42949673")))
      .unionAll(summarize("zorder", base
        .withColumn("z", zval(col("xb"), col("yb")))
        .withColumn("bucket", expr("z div 42949673"))))
      .orderBy(col("curve"))
  }

  /** The 16-step Hilbert xy→d rotation as a chained-CTE SQL program (the
    * oracle twin of [[graft.functions.HilbertIndex]]): each step computes
    * the quadrant digit and rotates, exactly the generated-Java loop.
    */
  private val hilbertCtes: String =
    (0 until 16).map { i =>
      val s = 32768L >> i
      s"""h${i + 1} AS (
         |  SELECT x, y, xb, yb,
         |    hd + CAST(${s * s} AS BIGINT) * (CASE WHEN hrx = 0 AND hry = 0 THEN 0
         |      WHEN hrx = 0 THEN 1 WHEN hry = 1 THEN 2 ELSE 3 END) AS hd,
         |    CASE WHEN hry = 1 THEN hx WHEN hrx = 1 THEN ${s - 1} - hy ELSE hy END AS hx,
         |    CASE WHEN hry = 1 THEN hy WHEN hrx = 1 THEN ${s - 1} - hx ELSE hx END AS hy
         |  FROM (SELECT *,
         |    CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS hrx,
         |    CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS hry FROM h$i))""".stripMargin
    }.mkString(",\n")

  /** Q200: small-file compaction — the lakehouse OPTIMIZE primitive. A
    * fragmented ingest (64 files for a corpus that needs a handful) is
    * compacted by sizing the output partition count from the data
    * (`ceil(total_chars / target)` — the 128 MB-per-file knob scaled to
    * the fixture) and rewriting; the audit row carries file counts before
    * and after plus a full-content symmetric difference (`exceptAll` both
    * ways), so "compaction changed nothing but the layout" is an asserted
    * property, not an assumption. Engine-only: file counts live outside
    * SQL's data model; LayoutSpec pins rows/content preserved and
    * `files_after = target ≤ files_before`. At cluster scale the knob is
    * bytes from the file footers and the rewrite is per-partition-dir —
    * same shape, bigger constants.
    */
  def q200Compaction: Q = (s, d) => {
    import s.implicits._
    val docs = Tables(s, d, "documents")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_q200_").toString
    try {
      val frag = s"$tmp/fragmented"
      val comp = s"$tmp/compacted"
      docs.repartition(64).write.mode("overwrite").parquet(frag)
      val in = s.read.parquet(frag)
      val filesBefore = in.select(input_file_name()).distinct().count()
      val rowsBefore = in.count()
      val totalChars = in.agg(sum(col("n_chars")).cast("long")).head().getLong(0)
      val target = 200000L
      val nOut = math.max(1L, (totalChars + target - 1) / target)
      in.repartition(nOut.toInt).write.mode("overwrite").parquet(comp)
      val out = s.read.parquet(comp)
      val filesAfter = out.select(input_file_name()).distinct().count()
      val rowsAfter = out.count()
      val diff = in.exceptAll(out).count() + out.exceptAll(in).count()
      Seq((filesBefore, filesAfter, rowsBefore, rowsAfter, totalChars, diff, nOut))
        .toDF("files_before", "files_after", "rows_before", "rows_after",
          "total_chars", "content_diff", "target_files")
    } finally graft.Checkpoints.deleteRecursively(tmp)
  }

  /** Q270: storage layout advisor — the partition-count planning pass a
    * 100 TB deployment runs before writing: per table, estimate in-memory
    * row width from the DATA (fixed 8/4-byte widths for
    * numeric/timestamp columns, measured string bytes + 4-byte overhead
    * per string column — a declared model, all integer arithmetic), then
    * recommend the partition count that lands each shuffle partition near
    * the 128 MiB target and the rows-per-partition that implies. The
    * numbers feed `spark.sql.shuffle.partitions` /
    * `spark.sql.files.maxPartitionBytes` sizing — the two knobs the
    * builder prompt calls out for spill-aware scale.
    *
    * Scale shape: one map-side-combined aggregate per table (4 scans,
    * each one row out); everything downstream is 4-row arithmetic.
    */
  def q270StorageAdvisor: Q = (s, d) => {
    val target = 134217728L // 128 MiB
    def advise(table: String, strCols: Seq[String], fixedBytes: Long): DataFrame = {
      val t = Tables(s, d, table)
      val strSum = strCols.map(c => sum(length(col(c)).cast("long")))
        .reduce(_ + _)
      t.agg(count(lit(1)).as("n_rows"), strSum.as("str_bytes"))
        .select(lit(table).as("table_name"), big(col("n_rows")).as("n_rows"),
          (col("str_bytes")
            + col("n_rows") * lit(fixedBytes + 4L * strCols.size))
            .as("total_bytes"))
    }
    val base = Seq(
      advise("lineitem", Seq("l_returnflag", "l_linestatus"), 76L),
      advise("orders", Seq("o_orderstatus", "o_orderpriority"), 32L),
      advise("customer", Seq("c_name", "c_mktsegment"), 20L),
      advise("documents", Seq("text", "lang", "source"), 16L))
      .reduce(_ unionByName _)
    val rec = expr(s"(total_bytes + ${target - 1}) div $target")
    base.select(col("table_name"), col("n_rows"),
      big(col("total_bytes")).as("total_bytes"),
      round(col("total_bytes").cast("double")
        / col("n_rows").cast("double"), 2).as("est_row_bytes"),
      big(rec).as("rec_partitions"),
      big(expr(s"n_rows div ((total_bytes + ${target - 1}) div $target)"))
        .as("rows_per_partition"))
      .orderBy(col("table_name"))
  }

  /** Q274: dictionary-encoding advisor — q270's sibling for COLUMN
    * encoding: per declared string column, measure raw bytes vs the
    * dictionary cost (distinct-value bytes + 2-byte codes per row, the
    * declared model) and recommend encoding where it wins. Low-cardinality
    * columns (flags, segments, priorities) win by orders of magnitude;
    * near-unique ones (names) lose — the report shows both, measured.
    *
    * Scale shape: one value-keyed count per column (map-side combined —
    * the group count carries both the distinct set and the row mass), one
    * 1-row reduction each; output is |columns| rows of integer arithmetic.
    */
  def q274DictionaryAdvisor: Q = (s, d) => {
    def colAdvice(t: String, c: String): DataFrame = {
      val g = Tables(s, d, t).groupBy(col(c))
        .agg(count(lit(1)).as("cnt"))
      val codeBytes = when(col("n_distinct") <= 256L, lit(1L)).otherwise(lit(2L))
      g.agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_distinct"),
        sum(col("cnt") * length(col(c)).cast("long")).as("raw_bytes"),
        sum(length(col(c)).cast("long")).as("dict_val_bytes"))
        .select(lit(s"$t.$c").as("column_name"),
          big(col("n_rows")).as("n_rows"),
          big(col("n_distinct")).as("n_distinct"),
          big(col("raw_bytes")).as("raw_bytes"),
          big(col("dict_val_bytes") + codeBytes * col("n_rows"))
            .as("dict_bytes"),
          big(col("raw_bytes")
            - (col("dict_val_bytes") + codeBytes * col("n_rows")))
            .as("savings_bytes"),
          (col("raw_bytes")
            - (col("dict_val_bytes") + codeBytes * col("n_rows")) > 0L)
            .as("recommend"))
    }
    Seq(
      colAdvice("lineitem", "l_returnflag"),
      colAdvice("orders", "o_orderpriority"),
      colAdvice("customer", "c_mktsegment"),
      colAdvice("customer", "c_name"),
      colAdvice("part", "p_brand"),
      colAdvice("part", "p_type"),
      colAdvice("documents", "lang"),
      colAdvice("documents", "source"))
      .reduce(_ unionByName _)
      .orderBy(col("column_name"))
  }

  /** Q350: range-partitioner balance audit — assign every order to one of
    * 32 price ranges cut at exact n/32 row quantiles (10.00-bucket
    * resolution, the real sampled-boundary behavior of
    * `repartitionByRange`) and report each partition's row count, share
    * and skew vs the n/32 ideal. The pre-flight check before committing a
    * sort key: a partitioner whose max skew is 3× ships one straggler
    * task per stage.
    *
    * Scale shape: the cumulative window runs over the bounded
    * 10.00-bucket collapse (price-domain bounded, the q312/q344
    * argument), never the orders; partition ids are pure integer
    * arithmetic on the prefix counts.
    */
  def q350RangePartitionAudit: Q = (s, d) => {
    val bk = Tables(s, d, "orders")
      .select(((graft.Dsl.dec(col("o_totalprice")) * 100).cast("long") / 1000L)
        .cast("long").as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bk.select(col("b"), col("c"), sum(col("c")).over(w).as("cum"))
    val tot = bk.agg(sum(col("c")).as("n"))
    val pid = least(lit(31L),
      (((col("cum") - col("c")) * 32L) / col("n")).cast("long"))
    cum.crossJoin(broadcast(tot))
      .select(pid.as("pid"), col("c"))
      .groupBy(col("pid"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("c")).as("n_rows"))
      .crossJoin(broadcast(tot))
      .select(big(col("pid")).as("pid"), big(col("n_buckets")).as("n_buckets"),
        big(col("n_rows")).as("n_rows"),
        round(col("n_rows").cast("double") / col("n").cast("double"), 6)
          .as("share"),
        round(col("n_rows").cast("double") * 32.0 / col("n").cast("double"), 6)
          .as("skew_vs_ideal"))
      .orderBy(col("pid"))
  }

  /** Q474: pruning-selectivity curve — q183's single-predicate audit
    * generalized to a 16-probe grid of conjunctive (custkey × order-day)
    * range predicates over the SAME two layouts (single-dimension date
    * files vs q182's Z-order files): per probe and layout, the file and
    * row counts a min/max-skipping reader must touch. The curve is what a
    * layout decision actually needs — one predicate can flatter either
    * layout; sixteen spread across the plane can't. Exact integer
    * envelope/overlap arithmetic throughout; cost is two 64-file
    * summaries × a 16-row probe broadcast.
    */
  def q474PruningSelectivity: Q = (s, d) => {
    val base = xy(s, d)
    def files(bucketed: DataFrame, name: String): DataFrame =
      bucketed.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("x")).as("fxmin"), max(col("x")).as("fxmax"),
          min(col("y")).as("fymin"), max(col("y")).as("fymax"))
        .withColumn("layout", lit(name))
    val zf = files(base.withColumn("z", zval(col("xb"), col("yb")))
      .withColumn("bucket", expr("z div 67108864")), "zorder")
    val df = files(base.withColumn("bucket", expr("(yb * 64) div 65536")),
      "date_sort")
    val st = base.agg(min(col("x")).as("xmin"), max(col("x")).as("xmax"),
      min(col("y")).as("ymin"), max(col("y")).as("ymax"))
    val probes = s.range(0L, 16L).toDF("i").crossJoin(broadcast(st))
      .select(col("i"),
        expr("xmin + ((xmax - xmin) * ((i * 5) % 16)) div 16").as("pxlo"),
        expr("xmin + ((xmax - xmin) * (((i * 5) % 16) + 2)) div 16").as("pxhi"),
        expr("ymin + ((ymax - ymin) * i) div 16").as("pylo"),
        expr("ymin + ((ymax - ymin) * (i + 2)) div 16").as("pyhi"))
    val ov = col("fxmin") <= col("pxhi") && col("fxmax") >= col("pxlo") &&
      col("fymin") <= col("pyhi") && col("fymax") >= col("pylo")
    zf.unionByName(df).crossJoin(broadcast(probes))
      .groupBy(col("layout"), col("i"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(ov, 1L).otherwise(0L)).as("files_scanned"),
        sum(when(ov, col("n")).otherwise(0L)).cast("long").as("rows_scanned"))
      .select(col("layout"), col("i").as("probe"), big(col("n_files")).as("n_files"),
        col("files_scanned"), col("rows_scanned"))
      .orderBy(col("layout"), col("probe"))
  }

  val queries: Map[String, Q] = Map(
    "q474_pruning_selectivity" -> q474PruningSelectivity,
    "q350_range_partition_audit" -> q350RangePartitionAudit,
    "q274_dictionary_advisor" -> q274DictionaryAdvisor,
    "q270_storage_advisor" -> q270StorageAdvisor,
    "q181_skyline" -> q181Skyline,
    "q182_zorder" -> q182Zorder,
    "q183_minmax_prune" -> q183MinmaxPrune,
    "q196_hilbert" -> q196Hilbert,
    "q200_compaction" -> q200Compaction)

  val oracles: Map[String, String] = Map(
    "q474_pruning_selectivity" ->
      s"""WITH raw AS (
        |  SELECT o_custkey AS x,
        |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders),
        |st AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax FROM raw),
        |o AS (
        |  SELECT x, y,
        |    ((x - xmin) * 65535) // GREATEST(xmax - xmin, 1) AS xb,
        |    ((y - ymin) * 65535) // GREATEST(ymax - ymin, 1) AS yb
        |  FROM raw, st),
        |zz AS (SELECT x, y, $zSql AS z FROM o),
        |zf AS (SELECT 'zorder' AS layout, z // 67108864 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    MIN(x) AS fxmin, MAX(x) AS fxmax,
        |    MIN(y) AS fymin, MAX(y) AS fymax
        |  FROM zz GROUP BY 1, 2),
        |df AS (SELECT 'date_sort' AS layout, (yb * 64) // 65536 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    MIN(x) AS fxmin, MAX(x) AS fxmax,
        |    MIN(y) AS fymin, MAX(y) AS fymax
        |  FROM o GROUP BY 1, 2),
        |f AS (SELECT * FROM zf UNION ALL SELECT * FROM df),
        |probes AS (SELECT CAST(u.i AS BIGINT) AS i,
        |    xmin + ((xmax - xmin) * ((i * 5) % 16)) // 16 AS pxlo,
        |    xmin + ((xmax - xmin) * (((i * 5) % 16) + 2)) // 16 AS pxhi,
        |    ymin + ((ymax - ymin) * i) // 16 AS pylo,
        |    ymin + ((ymax - ymin) * (i + 2)) // 16 AS pyhi
        |  FROM unnest(range(0, 16)) u(i), st)
        |SELECT layout, i AS probe, CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(CASE WHEN fxmin <= pxhi AND fxmax >= pxlo
        |    AND fymin <= pyhi AND fymax >= pylo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS files_scanned,
        |  CAST(SUM(CASE WHEN fxmin <= pxhi AND fxmax >= pxlo
        |    AND fymin <= pyhi AND fymax >= pylo THEN n ELSE 0 END)
        |    AS BIGINT) AS rows_scanned
        |FROM f, probes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q350_range_partition_audit" ->
      """WITH bk AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT)
        |    // 1000 AS b, COUNT(*) AS c
        |  FROM orders GROUP BY 1),
        |cum AS (
        |  SELECT b, c, SUM(c) OVER (ORDER BY b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM bk),
        |tot AS (SELECT SUM(c) AS n FROM bk),
        |pp AS (
        |  SELECT LEAST(31, (cum - c) * 32 // n) AS pid, c FROM cum, tot)
        |SELECT CAST(pid AS BIGINT) AS pid,
        |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(c) AS BIGINT) AS n_rows,
        |  ROUND(CAST(SUM(c) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 6) AS share,
        |  ROUND(CAST(SUM(c) AS DOUBLE) * CAST('32.0' AS DOUBLE)
        |        / CAST(MAX(n) AS DOUBLE), 6) AS skew_vs_ideal
        |FROM pp, tot GROUP BY pid ORDER BY pid""".stripMargin,
    "q274_dictionary_advisor" ->
      """WITH a AS (
        |  SELECT 'lineitem.l_returnflag' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt * length(l_returnflag)) AS BIGINT) AS raw_bytes,
        |    CAST(SUM(length(l_returnflag)) + (CASE WHEN COUNT(*) <= 256 THEN 1 ELSE 2 END) * SUM(cnt) AS BIGINT) AS dict_bytes
        |  FROM (SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY 1)
        |  UNION ALL
        |  SELECT 'orders.o_orderpriority' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt * length(o_orderpriority)) AS BIGINT) AS raw_bytes,
        |    CAST(SUM(length(o_orderpriority)) + (CASE WHEN COUNT(*) <= 256 THEN 1 ELSE 2 END) * SUM(cnt) AS BIGINT) AS dict_bytes
        |  FROM (SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY 1)
        |  UNION ALL
        |  SELECT 'customer.c_mktsegment' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt * length(c_mktsegment)) AS BIGINT) AS raw_bytes,
        |    CAST(SUM(length(c_mktsegment)) + (CASE WHEN COUNT(*) <= 256 THEN 1 ELSE 2 END) * SUM(cnt) AS BIGINT) AS dict_bytes
        |  FROM (SELECT c_mktsegment, COUNT(*) AS cnt FROM customer GROUP BY 1)
        |  UNION ALL
        |  SELECT 'customer.c_name' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt * length(c_name)) AS BIGINT) AS raw_bytes,
        |    CAST(SUM(length(c_name)) + (CASE WHEN COUNT(*) <= 256 THEN 1 ELSE 2 END) * SUM(cnt) AS BIGINT) AS dict_bytes
        |  FROM (SELECT c_name, COUNT(*) AS cnt FROM customer GROUP BY 1)
        |  UNION ALL
        |  SELECT 'part.p_brand' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt * length(p_brand)) AS BIGINT) AS raw_bytes,
        |    CAST(SUM(length(p_brand)) + (CASE WHEN COUNT(*) <= 256 THEN 1 ELSE 2 END) * SUM(cnt) AS BIGINT) AS dict_bytes
        |  FROM (SELECT p_brand, COUNT(*) AS cnt FROM part GROUP BY 1)
        |  UNION ALL
        |  SELECT 'part.p_type' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt * length(p_type)) AS BIGINT) AS raw_bytes,
        |    CAST(SUM(length(p_type)) + (CASE WHEN COUNT(*) <= 256 THEN 1 ELSE 2 END) * SUM(cnt) AS BIGINT) AS dict_bytes
        |  FROM (SELECT p_type, COUNT(*) AS cnt FROM part GROUP BY 1)
        |  UNION ALL
        |  SELECT 'documents.lang' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt * length(lang)) AS BIGINT) AS raw_bytes,
        |    CAST(SUM(length(lang)) + (CASE WHEN COUNT(*) <= 256 THEN 1 ELSE 2 END) * SUM(cnt) AS BIGINT) AS dict_bytes
        |  FROM (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1)
        |  UNION ALL
        |  SELECT 'documents.source' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(cnt * length(source)) AS BIGINT) AS raw_bytes,
        |    CAST(SUM(length(source)) + (CASE WHEN COUNT(*) <= 256 THEN 1 ELSE 2 END) * SUM(cnt) AS BIGINT) AS dict_bytes
        |  FROM (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY 1))
        |SELECT column_name, n_rows, n_distinct, raw_bytes, dict_bytes,
        |  CAST(raw_bytes - dict_bytes AS BIGINT) AS savings_bytes,
        |  raw_bytes - dict_bytes > 0 AS recommend
        |FROM a ORDER BY column_name""".stripMargin,
    "q270_storage_advisor" ->
      """WITH a AS (
        |  SELECT 'lineitem' AS table_name, COUNT(*) AS n_rows,
        |    CAST(SUM(length(l_returnflag)) + SUM(length(l_linestatus))
        |      AS BIGINT) + COUNT(*) * 84 AS total_bytes
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders', COUNT(*),
        |    CAST(SUM(length(o_orderstatus)) + SUM(length(o_orderpriority))
        |      AS BIGINT) + COUNT(*) * 40
        |  FROM orders
        |  UNION ALL
        |  SELECT 'customer', COUNT(*),
        |    CAST(SUM(length(c_name)) + SUM(length(c_mktsegment))
        |      AS BIGINT) + COUNT(*) * 28
        |  FROM customer
        |  UNION ALL
        |  SELECT 'documents', COUNT(*),
        |    CAST(SUM(length(text)) + SUM(length(lang)) + SUM(length(source))
        |      AS BIGINT) + COUNT(*) * 28
        |  FROM documents)
        |SELECT table_name, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(total_bytes AS BIGINT) AS total_bytes,
        |  ROUND(CAST(total_bytes AS DOUBLE) / CAST(n_rows AS DOUBLE), 2)
        |    AS est_row_bytes,
        |  CAST((total_bytes + 134217727) // 134217728 AS BIGINT)
        |    AS rec_partitions,
        |  CAST(n_rows // ((total_bytes + 134217727) // 134217728) AS BIGINT)
        |    AS rows_per_partition
        |FROM a ORDER BY table_name""".stripMargin,
    "q196_hilbert" ->
      s"""WITH raw AS (
        |  SELECT o_custkey AS x,
        |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders),
        |st AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax FROM raw),
        |o AS (
        |  SELECT x, y,
        |    ((x - xmin) * 65535) // GREATEST(xmax - xmin, 1) AS xb,
        |    ((y - ymin) * 65535) // GREATEST(ymax - ymin, 1) AS yb
        |  FROM raw, st),
        |h0 AS (SELECT x, y, xb, yb, xb AS hx, yb AS hy, CAST(0 AS BIGINT) AS hd FROM o),
        |$hilbertCtes,
        |hb AS (SELECT x, y, hd // 42949673 AS bucket FROM h16),
        |zb AS (SELECT x, y, ($zSql) // 42949673 AS bucket FROM o),
        |hs AS (
        |  SELECT 'hilbert' AS curve, COUNT(*) AS n_buckets,
        |    CAST(SUM(extent) AS BIGINT) AS sum_extent, MAX(extent) AS max_extent
        |  FROM (SELECT bucket, MAX(x) - MIN(x) + MAX(y) - MIN(y) AS extent
        |        FROM hb GROUP BY bucket)),
        |zs AS (
        |  SELECT 'zorder' AS curve, COUNT(*) AS n_buckets,
        |    CAST(SUM(extent) AS BIGINT) AS sum_extent, MAX(extent) AS max_extent
        |  FROM (SELECT bucket, MAX(x) - MIN(x) + MAX(y) - MIN(y) AS extent
        |        FROM zb GROUP BY bucket))
        |SELECT * FROM hs UNION ALL SELECT * FROM zs ORDER BY curve""".stripMargin,
    "q181_skyline" ->
      """SELECT p_partkey, p_retailprice AS price, CAST(p_size AS BIGINT) AS sz
        |FROM part x
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part y
        |  WHERE y.p_retailprice <= x.p_retailprice AND y.p_size >= x.p_size
        |    AND (y.p_retailprice < x.p_retailprice OR y.p_size > x.p_size))
        |ORDER BY price, p_partkey""".stripMargin,
    "q182_zorder" ->
      s"""WITH raw AS (
        |  SELECT o_custkey AS x,
        |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders),
        |st AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax FROM raw),
        |o AS (
        |  SELECT x, y,
        |    ((x - xmin) * 65535) // GREATEST(xmax - xmin, 1) AS xb,
        |    ((y - ymin) * 65535) // GREATEST(ymax - ymin, 1) AS yb
        |  FROM raw, st),
        |zz AS (SELECT x, y, $zSql AS z FROM o),
        |b AS (SELECT x, y, z // 67108864 AS bucket FROM zz)
        |SELECT bucket, COUNT(*) AS n,
        |  MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax,
        |  MAX(x) - MIN(x) + MAX(y) - MIN(y) AS extent
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q183_minmax_prune" ->
      s"""WITH raw AS (
        |  SELECT o_custkey AS x,
        |    CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS y
        |  FROM orders),
        |st AS (SELECT MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax FROM raw),
        |o AS (
        |  SELECT x, y,
        |    ((x - xmin) * 65535) // GREATEST(xmax - xmin, 1) AS xb,
        |    ((y - ymin) * 65535) // GREATEST(ymax - ymin, 1) AS yb
        |  FROM raw, st),
        |truth AS (
        |  SELECT COUNT(*) FILTER (WHERE x BETWEEN 100 AND 199 AND y BETWEEN 730 AND 1094) AS true_rows
        |  FROM o),
        |datestats AS (
        |  SELECT y // 38 AS bucket, COUNT(*) AS n,
        |    MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax
        |  FROM o GROUP BY 1),
        |zstats AS (
        |  SELECT z // 67108864 AS bucket, COUNT(*) AS n,
        |    MIN(x) AS xmin, MAX(x) AS xmax, MIN(y) AS ymin, MAX(y) AS ymax
        |  FROM (SELECT x, y, $zSql AS z FROM o) GROUP BY 1),
        |d AS (
        |  SELECT 'date' AS layout, COUNT(*) AS n_buckets,
        |    COUNT(*) FILTER (WHERE xmin <= 199 AND xmax >= 100 AND ymin <= 1094 AND ymax >= 730) AS kept_buckets,
        |    CAST(COALESCE(SUM(n) FILTER (WHERE xmin <= 199 AND xmax >= 100 AND ymin <= 1094 AND ymax >= 730), 0) AS BIGINT) AS rows_scanned
        |  FROM datestats),
        |z AS (
        |  SELECT 'zorder' AS layout, COUNT(*) AS n_buckets,
        |    COUNT(*) FILTER (WHERE xmin <= 199 AND xmax >= 100 AND ymin <= 1094 AND ymax >= 730) AS kept_buckets,
        |    CAST(COALESCE(SUM(n) FILTER (WHERE xmin <= 199 AND xmax >= 100 AND ymin <= 1094 AND ymax >= 730), 0) AS BIGINT) AS rows_scanned
        |  FROM zstats)
        |SELECT layout, n_buckets, kept_buckets, rows_scanned, (SELECT true_rows FROM truth) AS true_rows
        |FROM (SELECT * FROM d UNION ALL SELECT * FROM z)
        |ORDER BY layout""".stripMargin)
}
