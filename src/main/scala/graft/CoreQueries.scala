package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** The relational operator surface (SURVEY.md §2.2): everything the
  * reference delegates to its host engine, expressed Spark-first with
  * the DataFrame API and verified against a DuckDB oracle.
  *
  * Determinism rules (the driver hash-compares values):
  *   - Aggregated doubles are cast to DECIMAL before SUM so partial-sum
  *     ordering across partitions cannot change the result, then cast
  *     back to DOUBLE for a stable schema. Identical expressions appear
  *     in the oracle SQL.
  *   - Every result has a total ORDER BY on a unique key set.
  *   - Column aliases match the oracle SQL exactly.
  */
object CoreQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.table(s, dir, name)

  /** SUM over an exact decimal image of a double column, returned as
    * double: deterministic under any partitioning / AQE re-ordering.
    *
    * Round-14 spelling: [[graft.functions.FixedPointSum]] — the exact
    * long-backed fixed-point sum, BIT-identical to
    * `sum(c.cast(DECIMAL(p,s))).cast(DOUBLE)` (Round14OpsSpec pins it
    * across scales/signs/orders/boundaries) but ~6× cheaper per row:
    * the wide-decimal buffer (precision p+10 > 18) forced a java
    * BigDecimal deserialize/add/reserialize per row in the hash-agg
    * buffer, where the fixed-point buffer is two plain longs. The `p`
    * parameter remains for the ORACLE spelling (sqlDsum) and as the
    * documented precision contract; per-row values past DECIMAL(18,s)
    * throw instead of widening (6 orders above the q01-family range). */
  private def dsum(c: Column, p: Int = 25, s: Int = 6): Column =
    graft.functions.native.fixed_point_sum(c.cast(DoubleType), s)

  private def davg(c: Column, p: Int = 25, s: Int = 6): Column =
    graft.functions.native.fixed_point_sum(c.cast(DoubleType), s) /
      count(lit(1))

  // Oracle-side equivalents (DuckDB SQL)
  private def sqlDsum(e: String, p: Int = 25, s: Int = 6): String =
    s"CAST(sum(CAST($e AS DECIMAL($p,$s))) AS DOUBLE)"
  private def sqlDavg(e: String, p: Int = 25, s: Int = 6): String =
    s"CAST(sum(CAST($e AS DECIMAL($p,$s))) AS DOUBLE) / count(*)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- aggregation (hash agg, partial+final) ------------------------
    "q01_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax")), 30, 8).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- filter + projection (parquet pushdown) -----------------------
    "q02_filter_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.filter(col("l_shipdate") >= to_timestamp(lit("1994-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1995-01-01")) &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // ---- 3-way join + agg + top-k (broadcast dims) --------------------
    "q03_join_topk" -> ((s, dir) => {
      val cu = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") < to_timestamp(lit("1995-03-15")))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1995-03-15")))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(broadcast(cu), o("o_custkey") === cu("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // ---- window functions ---------------------------------------------
    "q04_window" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_suppkey") < 20)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      li.select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).as("rn"),
          sum(col("l_quantity").cast(DecimalType(25, 6)))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast(DoubleType).as("running_qty"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty"))
        .orderBy(col("l_suppkey"), col("rn"))
    }),

    // ---- global sort + limit (TakeOrderedAndProject) ------------------
    "q05_topk" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"),
          col("l_linenumber"))
        .limit(100)),

    // ---- set operations ------------------------------------------------
    "q06_setops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey"))
      val big = o.filter(col("o_totalprice") > 150000.0).select(col("o_custkey"))
      val done = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
      open.intersect(big).except(done).orderBy(col("o_custkey"))
    }),

    // ---- distinct aggregation ------------------------------------------
    "q07_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
          countDistinct(col("o_orderpriority")).as("n_prio"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("o_orderstatus"))),

    // ---- scalar functions (string/math/date) ---------------------------
    "q08_scalar" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          substring(col("p_name"), 1, 8).as("pfx"),
          length(col("p_name")).as("nlen"),
          concat_ws("/", col("p_brand"), col("p_type")).as("bt"),
          floor(col("p_retailprice")).cast(LongType).as("fl_price"),
          ceil(col("p_retailprice")).cast(LongType).as("cl_price"),
          abs(col("p_size") - lit(25)).as("size_dist"))
        .orderBy(col("p_partkey"))
        .limit(500)),

    "q09_datefns" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("oy"),
          month(col("o_orderdate")).as("om"),
          dayofmonth(col("o_orderdate")).as("od"),
          col("o_orderdate").cast(DateType).as("odate"))
        .orderBy(col("o_orderkey"))
        .limit(1000)),

    // ---- conditional aggregation ---------------------------------------
    "q10_case_agg" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_totalprice") > 100000.0, 1).otherwise(0)).as("n_big"),
          count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),

    // ---- rollup / grouping sets ----------------------------------------
    "q11_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"),
          grouping(col("l_returnflag")).as("g1"),
          grouping(col("l_linestatus")).as("g2"))
        .orderBy(col("g1"), col("g2"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- cube ----------------------------------------------------------
    "q25_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 30, 6).as("tot"),
          grouping(col("o_orderpriority")).as("g1"),
          grouping(col("o_orderstatus")).as("g2"))
        .orderBy(col("g1"), col("g2"),
          col("o_orderpriority").asc_nulls_first,
          col("o_orderstatus").asc_nulls_first)),

    // ---- approximate distinct (HLL). The raw sketch value is
    // implementation-defined, so the gated output is the exact count plus a
    // deterministic accuracy assertion: |approx-exact|/exact <= 5%, which the
    // DuckDB oracle emits as a constant TRUE (rsd=0.01 ⇒ ~1% expected error,
    // comfortably inside the 5% bound on these cardinalities).
    // Round-14 (guide §2.3 "aggregate before you shuffle" /
    // measurement-first): countDistinct + approx_count_distinct in ONE
    // aggregate planned through planAggregateWithOneDistinct, which
    // keys the partial phases by (status, custkey) — so the rsd=0.01
    // HLL sketch buffer (2¹⁴ registers, ~16 KB) was allocated and
    // merged PER DISTINCT CUSTKEY (~100 k buffers, ~1.6 GB of churn:
    // measured 5.4 s, single 5.5 s compute stage). Deduplicate pairs
    // FIRST, then aggregate: HLL register updates are idempotent per
    // distinct value, so the estimate over the deduped pairs is
    // bit-identical to the multiset estimate, count(custkey) over the
    // deduped pairs IS countDistinct — and only 3 sketch buffers ever
    // exist.
    "q26_approx" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_custkey"))
        .distinct()
        .groupBy(col("o_orderstatus"))
        .agg(approx_count_distinct(col("o_custkey"), rsd = 0.01).as("approx_cust"),
          count(col("o_custkey")).as("exact_cust"))
        .select(col("o_orderstatus"), col("exact_cust"),
          (abs(col("approx_cust") - col("exact_cust")).cast(DoubleType) /
            col("exact_cust") <= 0.05).as("within_5pct"))
        .orderBy(col("o_orderstatus"))),

    // ---- MERGEABLE distinct sketches (incremental analytics) -----------
    // the production incremental-distinct shape: per-day HLL sketches
    // (a materialized daily sketch table at scale) UNIONED into the
    // total — "distinct users this quarter" costs a union of 90 tiny
    // sketches, never a re-scan of history. Gate: the merged estimate
    // lands within 5% of the exact distinct (q26's tolerance-boolean
    // pattern); per-day exact counts pin that the daily grouping is
    // real, n_days pins the sketch count that merged.
    "q46_hll_merge" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // Round-14: hll_sketch_agg + countDistinct in one aggregate is
      // the q26 pathology — planAggregateWithOneDistinct keys the
      // partial phases by (day, user_id), building an HLL sketch
      // buffer PER DISTINCT USER. Deduplicate (day, user) first:
      // sketch updates are idempotent per distinct value, so the
      // merged estimate is identical, count over the deduped pairs IS
      // the per-day countDistinct, and the total exact count rides
      // the same deduped frame (distinct user_id across days).
      val dayUser = ev
        .select(to_date(col("ts")).as("day"), col("user_id"))
        .distinct()
      val daily = dayUser.groupBy(col("day"))
        .agg(expr("hll_sketch_agg(user_id)").as("sk"),
          count(col("user_id")).as("exact_day"))
      val merged = daily.agg(count(lit(1)).as("n_days"),
        sum(col("exact_day")).as("sum_daily_exact"),
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"))
      val exact = dayUser.agg(
        countDistinct(col("user_id")).as("exact_users"))
      merged.crossJoin(exact)
        .select(col("n_days"), col("sum_daily_exact"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast(DoubleType) /
            col("exact_users") <= 0.05).as("within_5pct"))
    }),

    // ---- ordered string aggregation (LISTAGG class) --------------------
    // collect_list order is partition-nondeterministic, so the
    // deterministic form is array_sort before the join — the exact
    // equivalent of LISTAGG(... ORDER BY). Per-group state is bounded
    // by group cardinality (here nations per region), not corpus size.
    "q47_listagg" -> ((s, dir) => {
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      r.join(n, r("r_regionkey") === n("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(concat_ws(",", array_sort(collect_list(col("n_name"))))
            .as("nations"),
          count(lit(1)).as("n_nations"))
        .orderBy(col("r_name"))
    }),

    // ---- GROUPING SETS (the general grouping form under rollup/cube) ---
    // an explicit non-hierarchical set list — (flag, status), (status),
    // () — which neither rollup nor cube expresses; grouping() columns
    // disambiguate real NULLs from subtotal rows
    "q48_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"),
          grouping(col("l_returnflag")).as("g1"),
          grouping(col("l_linestatus")).as("g2"))
        .orderBy(col("g1"), col("g2"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // ---- statistical aggregates (variance/stddev/correlation) ----------
    // built-in corr()/var_samp() accumulate co-moments in partial-merge
    // order — float results drift across partitionings and retries. The
    // deterministic spelling: EXACT decimal sums of x, y, x², y², xy
    // (the dsum trick), then the closed forms in one pinned double
    // expression tree. Same category, reproducible bit-for-bit.
    "q49_stats_agg" -> ((s, dir) => {
      // co-moment sums quantize each FACTOR to decimal before the
      // multiply (a double PRODUCT cast to decimal lands on rounding
      // boundaries where engines disagree), and the variable pair is
      // (quantity, discount) DELIBERATELY: every co-moment's unscaled
      // decimal stays below 2^53, where decimal→double is a single
      // correctly-rounded operation in any engine. Measured: the
      // (quantity, price) pair's Σy² has a 26-digit unscaled value and
      // Spark's Decimal.toDouble and DuckDB's hugeint cast disagree by
      // 1 ulp on it (both double-round) — magnitude discipline, not a
      // wider type, is the fix.
      // Round-14 spelling: the exact long-backed fixed-point product
      // sum ([[graft.functions.FixedPointProductSum]]) — bit-identical
      // to sum(a.cast(DECIMAL(18,6)) * b.cast(DECIMAL(18,6)))
      // .cast(DOUBLE) (spec-pinned), but the DECIMAL(37,12) sum
      // buffer's per-row BigDecimal deserialize/add/reserialize
      // becomes two plain-long ops (the q01-family dsum fix applied
      // to co-moments; measured ~2× on this gate). Out-of-range
      // factors/products throw instead of widening.
      def dprod(a: Column, b: Column): Column =
        graft.functions.native.fixed_point_product_sum(
          a.cast(DoubleType), b.cast(DoubleType), 6, 6)
      val base = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).cast(DoubleType).as("n"),
          dsum(col("l_quantity")).as("sx"),
          dsum(col("l_discount")).as("sy"),
          dprod(col("l_quantity"), col("l_quantity")).as("sxx"),
          dprod(col("l_discount"), col("l_discount")).as("syy"),
          dprod(col("l_quantity"), col("l_discount")).as("sxy"))
      base.select(col("l_returnflag"), col("n").cast("long").as("n_rows"),
          ((col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("var_qty"),
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) /
            (col("n") - 1)).as("std_qty"),
          ((col("sxy") - col("sx") * col("sy") / col("n")) /
            sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
              (col("syy") - col("sy") * col("sy") / col("n"))))
            .as("corr_qty_disc"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- sliding ROWS frames + frame-sensitive window functions ---------
    // the window surface q04/q40/q44 leave uncovered: a bounded moving
    // frame (ROWS 2 PRECEDING), percent_rank, and nth_value evaluated
    // WITHIN a growing frame. The moving sum quantizes to decimal
    // first (dsum discipline): engines are free to fold a sliding
    // frame in any order (DuckDB segment-trees it), and only exact
    // decimal addition is order-free. max is order-insensitive as-is.
    "q53_sliding_window" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val sliding = w.rowsBetween(-2, Window.currentRow)
      val growing = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem").filter(col("l_suppkey") < 20)
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum(col("l_quantity").cast(DecimalType(25, 6))).over(sliding)
            .cast(DoubleType).as("mov_qty"),
          max(col("l_quantity")).over(sliding).as("mov_max"),
          percent_rank().over(w).as("pr"),
          nth_value(col("l_orderkey"), 2).over(growing).as("second_ok"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    // ---- array function suite (construction/dedup/sort/set algebra) -----
    // per-row array algebra over the tokenized documents — all
    // functions with exact DuckDB list twins; order-unspecified results
    // (distinct, intersect) are sorted before comparison so only the
    // SET semantics are gated, not an engine's internal ordering.
    // Everything is a scan-level projection: zero shuffles before the
    // output sort at any corpus size.
    "q54_array_fns" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val vocab = array_sort(array_distinct(toks))
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          size(toks).as("n_toks"),
          size(vocab).as("n_vocab"),
          // arrays joined to scalars: the driver's pandas canonicalizer
          // cannot sort array columns, so gate outputs stay scalar —
          // set semantics are unchanged (sorted-then-joined)
          array_join(slice(vocab, 1, 5), ",").as("first5"),
          array_contains(toks, "spark").as("has_spark"),
          array_position(vocab, "spark").as("spark_pos"),
          array_join(array_sort(array_intersect(vocab,
            lit(Array("spark", "join", "table", "scan")))), ",").as("kw_hits"),
          element_at(vocab, -1).as("last_word"))
        .orderBy(col("doc_id"))
    }),

    // ---- bitwise + boolean aggregates -----------------------------------
    // bit_and/bit_or/bit_xor fold per-group integer masks (flag
    // compaction, permission-mask analytics) and bool_and/bool_or are
    // the ANSI every/any. All four are commutative+associative, so
    // partial/final merge order cannot change the result — no decimal
    // discipline needed, unlike float sums.
    "q55_bitwise" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(bit_and(col("l_linenumber")).as("ba"),
          bit_or(col("l_linenumber")).as("bo"),
          bit_xor(col("l_linenumber")).as("bx"),
          bool_and(col("l_quantity") > 0).as("all_pos"),
          bool_or(col("l_discount") > lit(0.05)).as("any_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // ---- Z-ORDER clustering key (data-layout primitive) -----------------
    // bit-interleaved (customer-bucket, order-day-bucket) Morton code —
    // the OPTIMIZE ZORDER BY layout key: sorting by z makes per-file
    // min/max stats selective for predicates on EITHER column. The
    // gate pins the interleave arithmetic + the induced total order;
    // at scale the same key drives the writer's repartitionByRange +
    // sortWithinPartitions (the one exchange belongs to the write).
    "q57_zorder" -> ((s, dir) => {
      val bx = col("o_custkey") % 256
      val by = datediff(to_date(col("o_orderdate")),
        to_date(lit("1970-01-01"))) % 256
      t(s, dir, "orders")
        .select(col("o_orderkey"), bx.as("bx"), by.cast(LongType).as("by"))
        .withColumn("z", graft.operators.LayoutOps.zorderKey(
          col("bx"), col("by"), bits = 8))
        .orderBy(col("z"), col("o_orderkey"))
    }),

    // ---- recursive CTE (iterative self-referencing query) ---------------
    // WITH RECURSIVE (Spark 4.x UnionLoop execution): a data-dependent
    // walk over nation — each step joins the frontier row back to the
    // table to pick the next key, so the recursion CANNOT be unrolled
    // at plan time and the engine must iterate to the fixpoint. The
    // relational surface DuckDB/Postgres users expect for hierarchy /
    // graph-reachability queries; bounded depth keeps each iteration a
    // 1-row broadcast join against the dimension. Depth 12: each
    // UnionLoop iteration costs a fixed ~120 ms of job scheduling
    // regardless of data size (measured: 41 steps = 5.0 s at BOTH
    // sf0.1 and sf1) — the recursion mechanics are fully exercised by
    // 12 steps at a quarter of the wall-clock.
    "q51_recursive" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      s.sql(
        """WITH RECURSIVE walk(step, nkey, acc) AS (
          | SELECT 0, 0, CAST(0 AS BIGINT)
          | UNION ALL
          | SELECT w.step + 1,
          |  CAST((w.nkey * 7 + n.n_regionkey + 3) % 25 AS INT),
          |  w.acc + n.n_regionkey
          | FROM walk w JOIN nation_v n ON n.n_nationkey = w.nkey
          | WHERE w.step < 12)
          |SELECT step, nkey, acc FROM walk ORDER BY step""".stripMargin)
    }),

    // ---- time-series gap fill + forward fill ---------------------------
    // the resample/as-known-at query: a complete per-user daily spine
    // (users × sequence(min_day, max_day)), observed daily totals left-
    // joined on, and missing days carried forward with last(ignoreNulls)
    // — the standard dashboard/feature-store shape. The spine bounds
    // come from ONE global aggregate; the window is per-user by day.
    "q50_gapfill" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("user_id") < 20)
      val daily = ev.groupBy(col("user_id"),
          date_trunc("day", col("ts")).cast(DateType).as("day"))
        .agg(dsum(col("value")).as("total"))
      val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val spine = daily.select(col("user_id")).distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left_outer")
        .select(col("user_id"), col("day"), col("total"),
          last(col("total"), ignoreNulls = true).over(w).as("carried"),
          col("total").isNull.as("was_gap"))
        .orderBy(col("user_id"), col("day"))
    }),

    // ---- exact percentiles (linear interpolation, both engines) --------
    // Round-14: the two l_extendedprice percentiles each built their
    // own value-counts map (~200 k distinct doubles per group) inside
    // Spark's TypedImperativeAggregate — the array-percentile form
    // computes both from ONE shared map with the identical
    // interpolation arithmetic, so the doubles are bit-equal and one
    // of the two big buffers (build + serialize + merge) disappears.
    "q27_percentile" -> ((s, dir) =>
      Tables.spread(t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_quantity"),
          col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("med_qty"),
          expr("percentile(l_extendedprice, array(0.25, 0.75))").as("pp"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("med_qty"),
          element_at(col("pp"), 1).as("p25_price"),
          element_at(col("pp"), 2).as("p75_price"), col("n"))
        .orderBy(col("l_returnflag"))),

    // ---- semi / anti joins (EXISTS / NOT EXISTS) -----------------------
    "q12_semijoin" -> ((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q13_antijoin" -> ((s, dir) => {
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_nationkey"))
        .orderBy(col("c_custkey"))
    }),

    // ---- outer join + agg ----------------------------------------------
    "q14_outerjoin" -> ((s, dir) => {
      val n = t(s, dir, "nation")
      val cu = t(s, dir, "customer")
      n.join(cu, col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(col("n_nationkey"), col("n_name"))
        .agg(count(col("c_custkey")).as("n_cust"),
          dsum(coalesce(col("c_acctbal"), lit(0.0))).as("bal"))
        .orderBy(col("n_nationkey"))
    }),

    // ---- events: date_trunc agg (ns-ts handled via day granularity) ----
    "q15_events_day" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).cast(DateType).as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .orderBy(col("day"), col("event_type"))),

    // ---- scalar subquery (filter vs global aggregate) -------------------
    "q16_subquery" -> ((s, dir) => {
      val p = t(s, dir, "part")
      val thr = p.agg(davg(col("p_retailprice")).as("a"))
      p.join(broadcast(thr))
        .filter(col("p_retailprice") > col("a") + 30.0)
        .select(col("p_partkey"), col("p_retailprice"))
        .orderBy(col("p_partkey"))
    }),

    // ---- 6-way join through region (TPC-H Q5 shape) ---------------------
    "q17_join6" -> ((s, dir) => {
      val re = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val na = t(s, dir, "nation")
      val cu = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cu, col("o_custkey") === col("c_custkey"))
        .join(su, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(na), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(re), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("n_name"))
    }),

    // ---- string functions ----------------------------------------------
    "q22_stringfns" -> ((s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          lpad(col("p_brand"), 12, "*").as("lp"),
          regexp_replace(col("p_type"), " ", "_").as("rt"),
          reverse(col("p_name")).as("rev"),
          instr(col("p_name"), "a").as("ia"),
          trim(concat(lit(" "), col("p_name"), lit(" "))).as("tr"))
        .orderBy(col("p_partkey"))
        .limit(400)),

    // ---- conditional functions -----------------------------------------
    "q23_conditional" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("OTHER"))
            .as("seg"),
          greatest(col("c_acctbal"), lit(0.0)).as("g"),
          least(col("c_acctbal"), lit(5000.0)).as("l"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("band"))
        .orderBy(col("c_custkey"))),

    // ---- range join (bucketed point-in-interval, no nested loop) --------
    "q24_rangejoin" -> ((s, dir) => {
      val bands = s.range(20)
        .select(col("id").as("band_id"), (col("id") * 25000L).as("lo"),
          (col("id") * 25000L + 30000L).as("hi"))
      graft.operators.RangeJoin.pointInInterval(
          t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
          "o_totalprice", bands, "lo", "hi", bucketWidth = 25000L)
        .select(col("o_orderkey"), col("band_id"))
        .orderBy(col("o_orderkey"), col("band_id"))
    }),

    // ---- range join via the OPTIMIZER RULE ------------------------------
    // Same semantics as q24, but written the way a user naturally would —
    // a plain inner join with an inequality-only condition. The injected
    // RangeJoinRewrite rule (GraftExtensions) turns the would-be
    // BroadcastNestedLoopJoin into the bucketed equi-join automatically;
    // RangeJoinRuleSpec asserts no nested-loop/cartesian node survives.
    "q28_rangejoin_auto" -> ((s, dir) => {
      s.conf.set(graft.plans.RangeJoinRewrite.WidthKey, "25000")
      val bands = s.range(20)
        .select(col("id").as("band_id"), (col("id") * 25000L).as("lo"),
          (col("id") * 25000L + 30000L).as("hi"))
      t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .join(bands, col("o_totalprice") >= col("lo") &&
          col("o_totalprice") < col("hi"))
        .select(col("o_orderkey"), col("band_id"))
        .orderBy(col("o_orderkey"), col("band_id"))
    }),

    // ---- top-k per key via the CUSTOM PHYSICAL OPERATOR ----------------
    // TopKPerKeyPlan/-Exec (plans/TopKPerKey.scala): bounded-heap partial
    // before the shuffle + final merge — no full sort, no Window, shuffle
    // carries at most partitions x k rows per key. TopKPerKeySpec asserts
    // the plan shape; this gate asserts exact rows vs a DuckDB window
    // oracle.
    "q30_topk_per_key" -> ((s, dir) =>
      graft.plans.TopK.perKey(
          t(s, dir, "orders").select(col("o_orderkey"),
            col("o_orderpriority"), col("o_totalprice")),
          keys = Seq(col("o_orderpriority")),
          order = Seq(col("o_totalprice").desc, col("o_orderkey")),
          k = 3)
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc,
          col("o_orderkey"))),

    // ---- skew-salted join ----------------------------------------------
    // Same rows as the plain equi-join (the oracle), but the plan joins
    // on (key, salt) so a hot customer key spreads over `salts` reducers
    // instead of serializing into one.
    "q31_salted_join" -> ((s, dir) => {
      val ords = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      val cust = t(s, dir, "customer").select(col("c_custkey").as("o_custkey"),
        col("c_nationkey"))
      graft.operators.SkewJoin.saltedEquiJoin(ords, cust, "o_custkey", salts = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_ord"), dsum(col("o_totalprice")).as("rev"))
        .orderBy(col("c_nationkey"))
    }),

    // ---- pivot (wide conditional aggregation) ---------------------------
    // explicit value list => no extra distinct-values job; each cell is a
    // decimal-exact conditional sum (one shuffle, same as a plain groupBy)
    "q33_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy(col("o_orderpriority"))),

    // ---- explode / lateral flattening -----------------------------------
    // per-row fan-out with ordinal position; generator stays inside
    // whole-stage codegen, no shuffle at all
    "q34_explode" -> ((s, dir) =>
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .orderBy(col("doc_id"), col("pos"))),

    // ---- approximate percentile (q26 within-tolerance pattern) ----------
    // Round-14: spread before the aggregate — the exact-percentile
    // partial map dominates and is partition-invariant; approx_med is
    // NOT emitted (only the within_1pct flag, whose rsd margin is
    // ~100× the bound), so the summary-merge order cannot reach the
    // verified output.
    "q35_approx_percentile" -> ((s, dir) =>
      Tables.spread(t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice")))
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("exact_med"),
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx_med"))
        .select(col("l_returnflag"), col("exact_med"),
          (abs(col("approx_med") - col("exact_med")) / col("exact_med") <= 0.01)
            .as("within_1pct"))
        .orderBy(col("l_returnflag"))),

    // ---- co-located bucketed join ---------------------------------------
    // both sides pre-bucketed on the join key (BucketedTables.ensure is
    // fixture setup, like the remote Derby fixture) => SortMergeJoin
    // with NO Exchange and NO Sort under it — the join itself is
    // shuffle-free; the only shuffle in the plan is the groupBy after.
    // The merge hint keeps the demo honest at tiny SF (broadcast would
    // hide the co-location); values must match the plain-parquet oracle.
    "q36_bucketed_join" -> ((s, dir) => {
      BucketedTables.ensure(s, dir)
      val o = s.table(BucketedTables.ordersTable(dir))
      val l = s.table(BucketedTables.lineitemTable(dir))
      o.join(l.hint("merge"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // ---- unpivot / melt (wide -> long) -----------------------------------
    // the inverse of q33's pivot: per-key metric columns melt into
    // (metric, val) rows — Expand node, per-row fan-out, no extra shuffle
    // beyond the aggregate that feeds it
    "q37_unpivot" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"),
          min(col("c_custkey")).as("min_key"),
          max(col("c_custkey")).as("max_key"))
        .unpivot(Array(col("c_nationkey")),
          Array(col("n_cust"), col("min_key"), col("max_key")),
          "metric", "val")
        .orderBy(col("c_nationkey"), col("metric"))),

    // ---- JSON functions ---------------------------------------------------
    // parse-side surface: get_json_object path extraction plus a typed
    // from_json struct read, over a JSON column both engines construct
    // identically (all per-row codegen; filter pushes to the parquet scan)
    "q38_json" -> ((s, dir) =>
      t(s, dir, "orders").filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey"),
          concat(lit("{\"k\":"), col("o_orderkey"),
            lit(",\"s\":\""), col("o_orderstatus"),
            lit("\",\"c\":"), col("o_custkey"), lit("}")).as("js"))
        .select(col("o_orderkey"),
          get_json_object(col("js"), "$.k").cast(LongType).as("k"),
          get_json_object(col("js"), "$.s").as("s"),
          from_json(col("js"), StructType(Seq(
            StructField("k", LongType), StructField("s", StringType),
            StructField("c", LongType)))).getField("c").as("c"))
        .orderBy(col("o_orderkey"))),

    // ---- VARIANT semi-structured type (Spark 4.x) --------------------------
    // parse_json -> open VARIANT -> typed path extraction with
    // variant_get ('$.k', '$.a[1]', '$.o.t') — the schema-on-read path
    // for semi-structured ingest, complementing q38's schema-on-write
    // from_json/get_json_object. The binary variant encoding replaces
    // per-row JSON re-parsing at every extraction site, which is the
    // 100 TB difference between parsing once and parsing per column.
    "q52_variant" -> ((s, dir) =>
      t(s, dir, "events").filter(col("event_id") < 2000)
        .select(col("event_id"),
          concat(lit("{\"k\":"), get_json_object(col("props"), "$.k"),
            lit(",\"a\":["), col("event_id"), lit(","), col("user_id"),
            lit("],\"o\":{\"t\":\""), col("event_type"), lit("\"}}"))
            .as("js"))
        .select(col("event_id"),
          expr("variant_get(parse_json(js), '$.k', 'bigint')").as("k"),
          expr("variant_get(parse_json(js), '$.a[1]', 'bigint')").as("a1"),
          expr("variant_get(parse_json(js), '$.o.t', 'string')").as("t"))
        .orderBy(col("event_id"))),

    // ---- higher-order array functions --------------------------------------
    // transform/filter/aggregate/zip_with/exists over the embedding
    // arrays; double accumulation is left-to-right in both engines, and
    // comparisons go through exact-in-both-types constants (0.0, 0.5)
    "q39_hof" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("size(filter(embedding, x -> CAST(x AS DOUBLE) > 0.0D))")
            .as("n_pos"),
          expr("aggregate(embedding, 0.0D, " +
            "(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))").as("l2sq"),
          expr("aggregate(zip_with(embedding, reverse(embedding), " +
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, " +
            "(a, v) -> a + v)").as("dot_rev"),
          expr("exists(embedding, x -> CAST(x AS DOUBLE) > 0.5D)")
            .as("has_big"))
        .orderBy(col("vec_id"))),

    // ---- window-function variety -------------------------------------------
    // lag/lead/ntile/cume_dist/first_value/dense_rank in one pass — one
    // shuffle on the partition key serves every frame
    "q40_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders").filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
          lead(col("o_orderkey"), 1).over(w).as("next_ok"),
          ntile(4).over(w).as("quartile"),
          cume_dist().over(w).as("cd"),
          first(col("o_orderkey")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_ok"),
          dense_rank().over(
            Window.partitionBy(col("o_custkey")).orderBy(col("o_orderstatus")))
            .as("dr"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---- LATERAL correlated subquery --------------------------------------
    // top-1-per-group via LATERAL ... ORDER BY ... LIMIT 1 — the SQL
    // spelling Catalyst decorrelates into a join + per-key window (the
    // same plan q30's custom operator optimizes); exercises correlated
    // LIMIT decorrelation end-to-end
    "q41_lateral" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation_v")
      t(s, dir, "customer").createOrReplaceTempView("customer_v")
      s.sql(
        """SELECT n_nationkey, n_name, t.top_cust, t.top_bal
          |FROM nation_v n,
          |LATERAL (SELECT c_custkey AS top_cust, c_acctbal AS top_bal
          |         FROM customer_v
          |         WHERE c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t
          |ORDER BY n_nationkey""".stripMargin)
    }),

    // ---- bag-semantics set operations ------------------------------------
    // INTERSECT ALL / EXCEPT ALL keep multiplicities (q06 covers the
    // distinct forms); counts verify the bag semantics exactly
    "q42_setops_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val hi = o.filter(col("o_totalprice") > 150000.0)
        .select(col("o_custkey").as("ck"))
      val recent = o.filter(col("o_orderdate") >=
          to_timestamp(lit("1996-01-01")))
        .select(col("o_custkey").as("ck"))
      hi.intersectAll(recent).groupBy(col("ck"))
        .agg(count(lit(1)).as("n_both"))
        .join(hi.exceptAll(recent).groupBy(col("ck"))
          .agg(count(lit(1)).as("n_only_hi")), Seq("ck"), "full_outer")
        .orderBy(col("ck"))
    }),

    // ---- correlated scalar subquery in the SELECT list --------------------
    // a distinct decorrelation path from q16's WHERE-clause scalar:
    // Catalyst rewrites the per-row subquery into a left outer join +
    // aggregate
    "q43_select_subquery" -> ((s, dir) => {
      t(s, dir, "nation").createOrReplaceTempView("nation_v43")
      t(s, dir, "supplier").createOrReplaceTempView("supplier_v43")
      s.sql(
        """SELECT n_nationkey, n_name,
          | (SELECT count(*) FROM supplier_v43
          |  WHERE s_nationkey = n_nationkey) AS n_sup,
          | (SELECT coalesce(max(s_acctbal), -1.0) FROM supplier_v43
          |  WHERE s_nationkey = n_nationkey) AS max_bal
          |FROM nation_v43 ORDER BY n_nationkey""".stripMargin)
    }),

    // ---- RANGE-frame window (moving event-time aggregate) ----------------
    // the sliding value-based frame (30-day trailing revenue per
    // customer) — a distinct window class from q04's ROWS frames and
    // q40's ranking functions: the frame bound is a VALUE offset on the
    // ordering column (peers included), the standard moving-average /
    // trailing-metric shape. Ordering on an integer day number keeps
    // Spark's rangeBetween and the SQL RANGE frame bit-identical.
    "q44_range_window" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_custkey") < 200)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          datediff(col("o_orderdate").cast(DateType),
            to_date(lit("1990-01-01"))).as("day_num"))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_num"))
        .rangeBetween(-29, Window.currentRow)
      o.select(col("o_orderkey"), col("o_custkey"), col("day_num"),
          sum(col("o_totalprice").cast(DecimalType(25, 6))).over(w)
            .cast(DoubleType).as("sum_30d"),
          count(lit(1)).over(w).as("n_30d"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- union all + dedup ----------------------------------------------
    "q18_unionall" -> ((s, dir) => {
      val cu = t(s, dir, "customer").select(col("c_nationkey").as("nk"))
      val su = t(s, dir, "supplier").select(col("s_nationkey").as("nk"))
      cu.unionAll(su).groupBy(col("nk")).agg(count(lit(1)).as("n"))
        .orderBy(col("nk"))
    }),

    // ---- typed UDAF (Aggregator) surface --------------------------------
    // SURVEY §2.2's UDF/UDAF row, gated explicitly: a custom
    // Aggregator[Long,Long,Long] registered via functions.udaf plans as
    // a regular partial+final aggregate pair (map-side combine intact).
    // GCD is commutative+associative over exact integers, so the fold
    // is partitioning/retry/AQE-invariant — the determinism bar custom
    // aggregates must clear; DuckDB replays it as list_reduce(gcd).
    "q59_udaf_gcd" -> ((s, dir) => {
      val g = udaf(graft.functions.GcdAggregator)
      t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(g((col("l_orderkey") + 3L) * 12L).as("g"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- typed flatMap (the Scala UDTF analogue) ------------------------
    // SURVEY §2.2's UDTF row: one input row → N typed output rows via
    // Dataset.flatMap with a product encoder — the Spark-native
    // generator surface (a Hive-style GenericUDTF would deopt codegen;
    // for SQL-expressible expansion, explode remains the built-in path
    // the other gates use). Output is deterministic positional
    // tokenization, so DuckDB replays it from string_split alone.
    "q60_typed_flatmap" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          text.split(" ").iterator.zipWithIndex.map {
            case (w, i) => (id, i, w)
          }
        }
        .toDF("doc_id", "pos", "word")
        .orderBy(col("doc_id"), col("pos"))
    }))

  /** Range-join oracle shared by q24 (hand-built operator) and q28
    * (optimizer-rule rewrite of the plain join). */
  private val rangeJoinOracle: String =
    """WITH bands AS (
        | SELECT i AS band_id, i * 25000 AS lo, i * 25000 + 30000 AS hi
        | FROM range(20) t(i))
        |SELECT o_orderkey, band_id FROM orders
        |JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        |ORDER BY o_orderkey, band_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q01_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         | ${sqlDsum("l_quantity")} AS sum_qty,
         | ${sqlDsum("l_extendedprice")} AS sum_base_price,
         | ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         | ${sqlDsum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 30, 8)} AS sum_charge,
         | ${sqlDavg("l_quantity")} AS avg_qty,
         | ${sqlDavg("l_extendedprice")} AS avg_price,
         | ${sqlDavg("l_discount")} AS avg_disc,
         | count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_agg" ->
      s"""SELECT ${sqlDsum("l_extendedprice * l_discount")} AS revenue,
         | count(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
         |  AND l_shipdate < TIMESTAMP '1995-01-01'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin,

    "q03_join_topk" ->
      s"""SELECT l_orderkey,
         | ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-03-15'
         |  AND l_shipdate > TIMESTAMP '1995-03-15'
         |GROUP BY l_orderkey
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q04_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | row_number() OVER w AS rn,
        | CAST(sum(CAST(l_quantity AS DECIMAL(25,6)))
        |   OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber
        |         ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty,
        | lag(l_quantity, 1) OVER w AS prev_qty
        |FROM lineitem WHERE l_suppkey < 20
        |WINDOW w AS (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |ORDER BY l_suppkey, rn""".stripMargin,

    "q05_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,

    "q06_setops" ->
      """(SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        | INTERSECT
        | SELECT o_custkey FROM orders WHERE o_totalprice > 150000.0)
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_custkey""".stripMargin,

    "q07_distinct" ->
      """SELECT o_orderstatus,
        | count(DISTINCT o_custkey) AS n_cust,
        | count(DISTINCT o_orderpriority) AS n_prio,
        | count(*) AS n_rows
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q08_scalar" ->
      """SELECT p_partkey, upper(p_name) AS uname,
        | substring(p_name, 1, 8) AS pfx, length(p_name) AS nlen,
        | concat_ws('/', p_brand, p_type) AS bt,
        | CAST(floor(p_retailprice) AS BIGINT) AS fl_price,
        | CAST(ceil(p_retailprice) AS BIGINT) AS cl_price,
        | abs(p_size - 25) AS size_dist
        |FROM part ORDER BY p_partkey LIMIT 500""".stripMargin,

    "q09_datefns" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INT) AS oy,
        | CAST(month(o_orderdate) AS INT) AS om,
        | CAST(day(o_orderdate) AS INT) AS od,
        | CAST(o_orderdate AS DATE) AS odate
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin,

    "q10_case_agg" ->
      """SELECT o_orderpriority,
        | CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        | CAST(sum(CASE WHEN o_totalprice > 100000.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q11_rollup" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         | ${sqlDsum("l_quantity")} AS qty,
         | CAST(grouping(l_returnflag) AS TINYINT) AS g1,
         | CAST(grouping(l_linestatus) AS TINYINT) AS g2
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY g1, g2, l_returnflag NULLS FIRST,
         | l_linestatus NULLS FIRST""".stripMargin,

    "q25_cube" ->
      s"""SELECT o_orderpriority, o_orderstatus, count(*) AS n,
         | ${sqlDsum("o_totalprice", 30, 6)} AS tot,
         | CAST(grouping(o_orderpriority) AS TINYINT) AS g1,
         | CAST(grouping(o_orderstatus) AS TINYINT) AS g2
         |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
         |ORDER BY g1, g2, o_orderpriority NULLS FIRST,
         | o_orderstatus NULLS FIRST""".stripMargin,

    "q26_approx" ->
      """SELECT o_orderstatus,
        | count(DISTINCT o_custkey) AS exact_cust,
        | TRUE AS within_5pct
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q46_hll_merge" ->
      """SELECT count(DISTINCT CAST(ts AS DATE)) AS n_days,
        | CAST((SELECT sum(n) FROM (
        |   SELECT count(DISTINCT user_id) AS n FROM events
        |   GROUP BY CAST(ts AS DATE))) AS BIGINT) AS sum_daily_exact,
        | count(DISTINCT user_id) AS exact_users,
        | TRUE AS within_5pct
        |FROM events""".stripMargin,

    "q49_stats_agg" -> {
      // DECIMAL(19,6) not 18: DuckDB multiplies int64-backed decimals
      // in int64 and overflows; 19 forces int128 backing. The width
      // differs from Spark's (18,6) but both sides are EXACT, which is
      // all the equality needs.
      def dprod(a: String, b: String) =
        s"CAST(sum(CAST($a AS DECIMAL(19,6)) * CAST($b AS DECIMAL(19,6))) AS DOUBLE)"
      val sxx = dprod("l_quantity", "l_quantity")
      val syy = dprod("l_discount", "l_discount")
      val sxy = dprod("l_quantity", "l_discount")
      s"""WITH b AS (
         | SELECT l_returnflag,
         |  CAST(count(*) AS DOUBLE) AS n,
         |  ${sqlDsum("l_quantity")} AS sx,
         |  ${sqlDsum("l_discount")} AS sy,
         |  $sxx AS sxx, $syy AS syy, $sxy AS sxy
         | FROM lineitem GROUP BY l_returnflag)
         |SELECT l_returnflag, CAST(n AS BIGINT) AS n_rows,
         | (sxx - sx * sx / n) / (n - 1) AS var_qty,
         | sqrt((sxx - sx * sx / n) / (n - 1)) AS std_qty,
         | (sxy - sx * sy / n)
         |  / sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
         |  AS corr_qty_disc
         |FROM b ORDER BY l_returnflag""".stripMargin
    },

    "q50_gapfill" ->
      s"""WITH daily AS (
         | SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         |  ${sqlDsum("value")} AS total
         | FROM events WHERE user_id < 20 GROUP BY 1, 2),
         |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
         |spine AS (
         | SELECT u.user_id, CAST(d.day AS DATE) AS day
         | FROM (SELECT DISTINCT user_id FROM daily) u
         | CROSS JOIN (SELECT unnest(generate_series(d0, d1,
         |   INTERVAL 1 DAY)) AS day FROM b) d)
         |SELECT s.user_id, s.day, daily.total,
         | last_value(daily.total IGNORE NULLS)
         |  OVER (PARTITION BY s.user_id ORDER BY s.day) AS carried,
         | daily.total IS NULL AS was_gap
         |FROM spine s LEFT JOIN daily
         | ON s.user_id = daily.user_id AND s.day = daily.day
         |ORDER BY s.user_id, s.day""".stripMargin,

    "q51_recursive" ->
      """WITH RECURSIVE walk(step, nkey, acc) AS (
        | SELECT 0, 0, CAST(0 AS BIGINT)
        | UNION ALL
        | SELECT w.step + 1,
        |  CAST((w.nkey * 7 + n.n_regionkey + 3) % 25 AS INT),
        |  w.acc + n.n_regionkey
        | FROM walk w JOIN nation n ON n.n_nationkey = w.nkey
        | WHERE w.step < 12)
        |SELECT step, nkey, acc FROM walk ORDER BY step""".stripMargin,

    "q52_variant" ->
      """WITH j AS (
        | SELECT event_id,
        |  '{"k":' || json_extract_string(props, '$.k') ||
        |  ',"a":[' || event_id || ',' || user_id ||
        |  '],"o":{"t":"' || event_type || '"}}' AS js
        | FROM events WHERE event_id < 2000)
        |SELECT event_id,
        | CAST(json_extract(js, '$.k') AS BIGINT) AS k,
        | CAST(json_extract(js, '$.a[1]') AS BIGINT) AS a1,
        | json_extract_string(js, '$.o.t') AS t
        |FROM j ORDER BY event_id""".stripMargin,

    "q47_listagg" ->
      """SELECT r_name,
        | string_agg(n_name, ',' ORDER BY n_name) AS nations,
        | count(*) AS n_nations
        |FROM region JOIN nation ON r_regionkey = n_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,

    "q48_grouping_sets" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         | ${sqlDsum("l_quantity")} AS qty,
         | CAST(grouping(l_returnflag) AS TINYINT) AS g1,
         | CAST(grouping(l_linestatus) AS TINYINT) AS g2
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
         | (l_linestatus), ())
         |ORDER BY g1, g2, l_returnflag NULLS FIRST,
         | l_linestatus NULLS FIRST""".stripMargin,

    // sliding-frame decimal sum spelled identically; DuckDB may fold
    // the frame via a segment tree, which is why only the exact
    // decimal image is comparable
    "q53_sliding_window" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        | CAST(sum(CAST(l_quantity AS DECIMAL(25,6))) OVER
        |   (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |  AS mov_qty,
        | max(l_quantity) OVER
        |   (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS mov_max,
        | percent_rank() OVER
        |   (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber) AS pr,
        | nth_value(l_orderkey, 2) OVER
        |   (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_ok
        |FROM lineitem WHERE l_suppkey < 20
        |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    // list twins: order-unspecified results sorted on both sides;
    // Spark's array_position returns 0 for a miss where DuckDB's
    // list_position returns NULL — coalesce pins the same convention
    "q54_array_fns" ->
      """WITH base AS (
        | SELECT doc_id, string_split(text, ' ') AS toks,
        |  list_sort(list_distinct(string_split(text, ' '))) AS vocab
        | FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        | CAST(len(toks) AS INT) AS n_toks,
        | CAST(len(vocab) AS INT) AS n_vocab,
        | array_to_string(vocab[1:5], ',') AS first5,
        | list_contains(toks, 'spark') AS has_spark,
        | CAST(coalesce(list_position(vocab, 'spark'), 0) AS BIGINT)
        |  AS spark_pos,
        | coalesce(array_to_string(list_sort(list_intersect(vocab,
        |   ['spark', 'join', 'table', 'scan'])), ','), '') AS kw_hits,
        | vocab[-1] AS last_word
        |FROM base ORDER BY doc_id""".stripMargin,

    // same interleave spelled with >>/&/<< over the identical buckets
    "q57_zorder" ->
      """WITH b AS (
        | SELECT o_orderkey,
        |  o_custkey % 256 AS bx,
        |  CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 256
        |       AS BIGINT) AS by
        | FROM orders)
        |SELECT o_orderkey, bx, by,
        | CAST(list_sum(list_transform(range(0, 8), i ->
        |   ((bx >> CAST(i AS INT)) & 1) * (CAST(1 AS BIGINT) << (2 * CAST(i AS INT)))
        |   + ((by >> CAST(i AS INT)) & 1) * (CAST(1 AS BIGINT) << (2 * CAST(i AS INT) + 1))))
        |  AS BIGINT) AS z
        |FROM b ORDER BY z, o_orderkey""".stripMargin,

    "q55_bitwise" ->
      """SELECT l_returnflag,
        | bit_and(l_linenumber) AS ba,
        | bit_or(l_linenumber) AS bo,
        | bit_xor(l_linenumber) AS bx,
        | bool_and(l_quantity > 0) AS all_pos,
        | bool_or(l_discount > 0.05) AS any_disc,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q27_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.5) AS med_qty,
        | quantile_cont(l_extendedprice, 0.25) AS p25_price,
        | quantile_cont(l_extendedprice, 0.75) AS p75_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q33_pivot" -> {
      def cell(status: String) =
        sqlDsum(s"CASE WHEN o_orderstatus = '$status' THEN o_totalprice END")
      s"""SELECT o_orderpriority,
         | ${cell("F")} AS "F", ${cell("O")} AS "O", ${cell("P")} AS "P"
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
    },

    "q34_explode" ->
      """SELECT doc_id, u.pos AS pos, u.token AS token FROM (
        | SELECT doc_id, unnest([{'pos': CAST(i - 1 AS INT), 'token': s[i]}
        |   for i in range(1, len(s) + 1)]) AS u
        | FROM (SELECT doc_id, string_split(text, ' ') AS s FROM documents
        |       WHERE doc_id < 100))
        |ORDER BY doc_id, pos""".stripMargin,

    "q35_approx_percentile" ->
      """SELECT l_returnflag,
        | quantile_cont(l_extendedprice, 0.5) AS exact_med,
        | TRUE AS within_1pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q36_bucketed_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_lines,
         | ${sqlDsum("l_quantity")} AS sum_qty
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q37_unpivot" ->
      """WITH a AS (
        | SELECT c_nationkey, count(*) AS n_cust,
        |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
        | FROM customer GROUP BY c_nationkey)
        |SELECT c_nationkey, metric, val FROM (
        | SELECT c_nationkey, 'n_cust' AS metric, n_cust AS val FROM a
        | UNION ALL SELECT c_nationkey, 'min_key', min_key FROM a
        | UNION ALL SELECT c_nationkey, 'max_key', max_key FROM a)
        |ORDER BY c_nationkey, metric""".stripMargin,

    "q38_json" ->
      """SELECT o_orderkey,
        | CAST(json_extract(js, '$.k') AS BIGINT) AS k,
        | json_extract_string(js, '$.s') AS s,
        | CAST(json_extract(js, '$.c') AS BIGINT) AS c
        |FROM (SELECT o_orderkey,
        |  '{"k":' || o_orderkey || ',"s":"' || o_orderstatus || '","c":'
        |    || o_custkey || '}' AS js
        | FROM orders WHERE o_orderkey < 3000)
        |ORDER BY o_orderkey""".stripMargin,

    "q39_hof" ->
      """SELECT vec_id,
        | CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.0))
        |   AS INT) AS n_pos,
        | list_sum(list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS l2sq,
        | list_sum(list_transform(range(1, len(embedding) + 1),
        |   i -> CAST(embedding[i] AS DOUBLE)
        |     * CAST(embedding[len(embedding) - i + 1] AS DOUBLE))) AS dot_rev,
        | len(list_filter(embedding, x -> CAST(x AS DOUBLE) > 0.5)) > 0
        |   AS has_big
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q40_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        | lag(o_orderkey, 1) OVER w AS prev_ok,
        | lead(o_orderkey, 1) OVER w AS next_ok,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | cume_dist() OVER w AS cd,
        | first_value(o_orderkey) OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_ok,
        | CAST(dense_rank() OVER
        |   (PARTITION BY o_custkey ORDER BY o_orderstatus) AS INT) AS dr
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q43_select_subquery" ->
      """SELECT n_nationkey, n_name,
        | (SELECT count(*) FROM supplier
        |  WHERE s_nationkey = n_nationkey) AS n_sup,
        | (SELECT coalesce(max(s_acctbal), -1.0) FROM supplier
        |  WHERE s_nationkey = n_nationkey) AS max_bal
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q44_range_window" ->
      """SELECT o_orderkey, o_custkey,
        | date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        |  AS day_num,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) OVER w AS DOUBLE)
        |  AS sum_30d,
        | count(*) OVER w AS n_30d
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey
        | ORDER BY date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE))
        | RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q42_setops_all" ->
      """WITH hi AS (SELECT o_custkey AS ck FROM orders
        |            WHERE o_totalprice > 150000.0),
        |recent AS (SELECT o_custkey AS ck FROM orders
        |           WHERE o_orderdate >= TIMESTAMP '1996-01-01'),
        |both_n AS (SELECT ck, count(*) AS n_both
        |           FROM (SELECT ck FROM hi INTERSECT ALL
        |                 SELECT ck FROM recent) GROUP BY ck),
        |only_hi AS (SELECT ck, count(*) AS n_only_hi
        |            FROM (SELECT ck FROM hi EXCEPT ALL
        |                  SELECT ck FROM recent) GROUP BY ck)
        |SELECT coalesce(b.ck, o.ck) AS ck, b.n_both, o.n_only_hi
        |FROM both_n b FULL OUTER JOIN only_hi o ON b.ck = o.ck
        |ORDER BY ck""".stripMargin,

    "q41_lateral" ->
      """SELECT n_nationkey, n_name, t.top_cust, t.top_bal
        |FROM nation n,
        |LATERAL (SELECT c_custkey AS top_cust, c_acctbal AS top_bal
        |         FROM customer
        |         WHERE c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey LIMIT 1) t
        |ORDER BY n_nationkey""".stripMargin,

    "q12_semijoin" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 200000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q13_antijoin" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,

    "q14_outerjoin" ->
      s"""SELECT n_nationkey, n_name, count(c_custkey) AS n_cust,
         | ${sqlDsum("coalesce(c_acctbal, 0.0)")} AS bal
         |FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
         |GROUP BY n_nationkey, n_name ORDER BY n_nationkey""".stripMargin,

    "q15_events_day" ->
      s"""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         | count(*) AS n, ${sqlDsum("value")} AS total
         |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "q16_subquery" ->
      s"""SELECT p_partkey, p_retailprice FROM part
         |WHERE p_retailprice > (SELECT ${sqlDavg("p_retailprice")}
         |                       FROM part) + 30.0
         |ORDER BY p_partkey""".stripMargin,

    "q17_join6" ->
      s"""SELECT n_name,
         | ${sqlDsum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q22_stringfns" ->
      """SELECT p_partkey, lpad(p_brand, 12, '*') AS lp,
        | replace(p_type, ' ', '_') AS rt, reverse(p_name) AS rev,
        | CAST(instr(p_name, 'a') AS INT) AS ia,
        | trim(' ' || p_name || ' ') AS tr
        |FROM part ORDER BY p_partkey LIMIT 400""".stripMargin,

    "q23_conditional" ->
      """SELECT c_custkey,
        | coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg,
        | greatest(c_acctbal, 0.0) AS g, least(c_acctbal, 5000.0) AS l,
        | CASE WHEN c_acctbal < 0 THEN 'neg'
        |      WHEN c_acctbal < 5000 THEN 'mid'
        |      ELSE 'high' END AS band
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q24_rangejoin" -> rangeJoinOracle,

    // identical semantics to q24 (the rule rewrites the plain join into the
    // same bucketed plan) — shared val, zero drift possible
    "q28_rangejoin_auto" -> rangeJoinOracle,

    "q31_salted_join" ->
      """SELECT c_nationkey, count(*) AS n_ord,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q30_topk_per_key" ->
      """WITH ranked AS (
        | SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  row_number() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders)
        |SELECT o_orderkey, o_orderpriority, o_totalprice
        |FROM ranked WHERE rn <= 3
        |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin,

    "q18_unionall" ->
      """SELECT nk, count(*) AS n FROM (
        | SELECT c_nationkey AS nk FROM customer
        | UNION ALL
        | SELECT s_nationkey AS nk FROM supplier) u
        |GROUP BY nk ORDER BY nk""".stripMargin,

    // gcd is order-free, so folding DuckDB's group list replays the
    // distributed partial/merge fold exactly; CAST dodges HUGEINT-free
    // but keeps the q46 dtype lesson explicit
    "q59_udaf_gcd" ->
      """SELECT l_returnflag,
        | CAST(list_reduce(list((l_orderkey + 3) * 12), (a, b) -> gcd(a, b))
        |  AS BIGINT) AS g,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // positional tokenization replayed from string_split (struct-list
    // unnest carries (pos, word) pairs)
    "q60_typed_flatmap" ->
      """WITH t AS (
        | SELECT doc_id, string_split(text, ' ') AS s FROM documents
        | WHERE doc_id < 100)
        |SELECT doc_id, CAST(u.pos AS INT) AS pos, u.word
        |FROM (
        | SELECT doc_id, unnest(list_transform(range(1, len(s) + 1),
        |   i -> {'pos': i - 1, 'word': s[i]})) AS u
        | FROM t)
        |ORDER BY doc_id, pos""".stripMargin)
}
