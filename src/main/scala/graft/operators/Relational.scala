package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A — the relational engine substrate.
  *
  * Every query is a declarative DataFrame plan: filters/projections reach
  * the parquet scan, dims are broadcast, aggregates run partial+final, and
  * top-n goes through TakeOrderedAndProject. Deterministic ORDER BY with a
  * unique tie-break key on every result (oracle parity contract).
  */
object Relational extends QueryModule {

  private def ts(s: String): Column = to_timestamp(lit(s))

  // q01: TPC-H Q1-shaped pricing summary. Partial aggregation makes the
  // shuffle carry only |groups| rows per task regardless of fact size.
  private def q01(t: Tables): DataFrame =
    t.lineitem
      .filter(col("l_shipdate") <= ts("1998-09-02 00:00:00"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2)
          .as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 2).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // q02: proves predicate + projection pushdown — the scan must read only
  // 5 columns and skip row groups via the shipdate/quantity filters.
  private def q02(t: Tables): DataFrame =
    t.lineitem
      .filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00") &&
          col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  // q03: fact⋈dim with an explicit broadcast — customer is tiny relative
  // to orders at any SF, so the join runs shuffle-free on the fact side.
  private def q03(t: Tables): DataFrame =
    t.orders
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)

  // q04: EXISTS as a left-semi join — no row duplication, build side is
  // the filtered lineitem keys only.
  private def q04(t: Tables): DataFrame =
    t.orders
      .filter(col("o_orderdate") >= ts("1996-01-01 00:00:00") && col("o_orderdate") < ts("1997-01-01 00:00:00"))
      .join(
        t.lineitem.filter(col("l_quantity") >= 49).select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  // q05: 5-way star join. region/nation/customer broadcast; the only
  // shuffle is lineitem⋈orders on orderkey (AQE can further re-plan).
  private def q05(t: Tables): DataFrame =
    t.lineitem
      .join(
        t.orders.filter(
          col("o_orderdate") >= ts("1995-01-01 00:00:00") && col("o_orderdate") < ts("1997-01-01 00:00:00")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region.filter(col("r_name") === "ASIA")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  // q06: tight-range scan-aggregate; whole query is one codegen stage.
  private def q06(t: Tables): DataFrame =
    t.lineitem
      .filter(
        col("l_shipdate") >= ts("1996-01-01 00:00:00") &&
          col("l_shipdate") < ts("1997-01-01 00:00:00") &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  // q07: NOT EXISTS as left-anti join (customers inactive since 1999).
  private def q07(t: Tables): DataFrame =
    t.customer
      .join(
        t.orders.filter(col("o_orderdate") >= ts("1999-01-01 00:00:00")).select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"),
        "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  // q08: left-outer join + null-aware aggregation (count(col) skips nulls).
  private def q08(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spend"))
      .orderBy(col("c_custkey"))

  // q09: multi-distinct aggregation (Expand-based plan).
  private def q09(t: Tables): DataFrame =
    t.customer
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("c_nationkey")).as("n_nations"),
        countDistinct(col("c_custkey")).as("n_cust"),
        round(sum(col("c_acctbal")), 2).as("bal"))
      .orderBy(col("c_mktsegment"))

  // q10: per-key top-n via row_number window — one shuffle on the
  // partition key; never a global sort.
  private def q10(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t.orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .drop("rn")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  // q11: running total (rows-frame window). Accumulation order is pinned
  // by (o_orderdate, o_orderkey) so partial sums are reproducible.
  private def q11(t: Tables): DataFrame = {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  // q12: global top-n — planned as TakeOrderedAndProject (per-partition
  // heaps + driver merge), not a full sort.
  private def q12(t: Tables): DataFrame =
    t.lineitem
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(25)

  // q13: INTERSECT / EXCEPT set semantics (distinct).
  private def q13(t: Tables): DataFrame = {
    val early = t.orders
      .filter(col("o_orderdate") < ts("1997-01-01 00:00:00"))
      .select(col("o_custkey").as("custkey"))
    val late = t.orders
      .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00"))
      .select(col("o_custkey").as("custkey"))
    val negative = t.customer.filter(col("c_acctbal") < 0).select(col("c_custkey").as("custkey"))
    early.intersect(late).except(negative).orderBy(col("custkey"))
  }

  // q14: pivot-style conditional aggregation, fully codegen'd.
  private def q14(t: Tables): DataFrame =
    t.orders
      .groupBy(col("o_custkey"))
      .agg(
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        count(when(col("o_orderstatus") === "O", 1)).as("n_o"),
        count(when(col("o_orderstatus") === "P", 1)).as("n_p"),
        round(sum(when(col("o_orderpriority") === "1-URGENT", col("o_totalprice")).otherwise(0.0)), 2)
          .as("urgent_value"))
      .orderBy(col("o_custkey"))

  // q15: HAVING against a scalar subquery (broadcast single-row cross).
  private def q15(t: Tables): DataFrame = {
    val globalAvg = t.part.agg(avg(col("p_retailprice")).as("global_avg"))
    t.part
      .groupBy(col("p_brand"))
      .agg(avg(col("p_retailprice")).as("brand_avg"), count(lit(1)).as("n"))
      .join(broadcast(globalAvg))
      .filter(col("brand_avg") > col("global_avg"))
      .select(col("p_brand"), round(col("brand_avg"), 2).as("avg_price"), col("n"))
      .orderBy(col("p_brand"))
  }

  // q16: ROLLUP over the region→nation hierarchy (Expand-based).
  private def q16(t: Tables): DataFrame =
    t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("bal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region_name"),
        coalesce(col("n_name"), lit("ALL")).as("nation_name"),
        col("n_cust"),
        col("bal"))
      .orderBy(col("region_name"), col("nation_name"))

  /** Full CUBE with grouping_id — the grouping-sets class q16's rollup
    * leaves unproven (new r16): rollup emits the prefix hierarchy only;
    * CUBE(status, priority) emits all four grouping sets including the
    * priority-only marginal, and `grouping_id()` is the bit vector
    * (first cube column = MSB) that distinguishes a subtotal row from a
    * genuine value — the disambiguation every BI consumer of coalesced
    * 'ALL' labels actually keys on. Prices e2-quantize per row BEFORE
    * the sum (q141's rule). Spark's Expand rewrite turns the cube into
    * ONE shuffle over 4× map-side-expanded rows — the same plan class as
    * countDistinct; output is the ≤ (|status|+1)·(|priority|+1) grid.
    */
  private def q218(t: Tables): DataFrame =
    t.orders
      .withColumn("price_e2", expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"))
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        sum(col("price_e2")).as("total_price_e2"))
      .select(
        col("gid").cast("long").as("gid"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n_orders"), col("total_price_e2"))
      .orderBy(col("gid"), col("status"), col("priority"))

  /** Multiset (bag) set operations — `intersectAll`/`exceptAll`, the ALL
    * variants q13's distinct set ops leave unproven (new r16): the
    * early-vs-late order streams compared WITH multiplicity — INTERSECT
    * ALL keeps min(occurrences) per customer (the retained order volume
    * a set-intersect undercounts to 1), EXCEPT ALL the clamped surplus.
    * Rolled per branch to rows, distinct customers, and the largest
    * per-customer multiplicity. Probed: 4348 intersect-all rows vs 173
    * except-all at sf0.01 — both populated, and far from the distinct
    * counts. Spark plans both as a single-shuffle aggregate on the key
    * with min/(a−b) multiplicity arithmetic — no join, no explode.
    */
  private def q222(t: Tables): DataFrame = {
    val early = t.orders
      .filter(col("o_orderdate") < ts("1997-01-01 00:00:00"))
      .select(col("o_custkey").as("custkey"))
    val late = t.orders
      .filter(col("o_orderdate") >= ts("1997-01-01 00:00:00"))
      .select(col("o_custkey").as("custkey"))
    def roll(name: String, d: DataFrame): DataFrame =
      d.groupBy(col("custkey")).agg(count(lit(1)).as("m"))
        .agg(
          sum(col("m")).as("n_rows"),
          count(lit(1)).as("n_custs"),
          max(col("m")).as("max_mult"))
        .select(lit(name).as("op"), coalesce(col("n_rows"), lit(0L)).as("n_rows"),
          col("n_custs"), coalesce(col("max_mult"), lit(0L)).as("max_mult"))
    roll("except_all", early.exceptAll(late))
      .unionAll(roll("intersect_all", early.intersectAll(late)))
      .orderBy(col("op"))
  }

  /** TPC-H Q13-shaped customer order-count histogram (new r16 — the
    * count-of-counts Q-shape famous as the skew-join benchmark): per
    * order count (zero INCLUDED via the left join — count(o_orderkey)
    * counts non-null), how many customers. The two-level aggregation is
    * the signature: fact collapses onto the customer key (one shuffle,
    * partial map-side), then the |customers|-row relation collapses
    * onto the tiny count domain.
    */
  private def q223(t: Tables): DataFrame =
    t.customer
      .join(t.orders, col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("c_count"))

  /** TPC-H Q18-shaped large-volume-customer report (new r16 — the
    * HAVING-driven semi-join shape the Q-family still lacked: an
    * aggregate PREDICATE on the fact selects the keys, which then
    * enrich through two dimension hops): orders whose line quantity
    * total exceeds 200 units (corpus-probed: ~4.4% of orders at every
    * SF — selective but populated), top 20 by volume. Quantities
    * e2-quantize per line BEFORE the sum; the HAVING filter runs on the
    * aggregated |orders|-row relation (map-side partials collapse the
    * fact first); the survivors join orders co-partitioned on the
    * bucket key and broadcast-enrich through customer; top-20 is
    * TakeOrdered, never a global sort.
    */
  private def q227(t: Tables): DataFrame = {
    val big = t.lineitem
      .select(
        col("l_orderkey"),
        expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)").as("q_e2"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("q_e2")).as("total_qty_e2"))
      .filter(col("total_qty_e2") > 20000L)
    big
      .join(t.orders, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(t.customer), col("c_custkey") === col("o_custkey"))
      .select(
        col("o_orderkey"), col("c_name"), col("o_orderstatus"),
        col("total_qty_e2"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("total_price_e2"))
      .orderBy(col("total_qty_e2").desc, col("o_orderkey"))
      .limit(20)
  }

  /** TPC-H Q19-shaped disjunctive predicate (new r16 wave 24 — the OR of
    * conjunctive bands spanning BOTH join sides, the predicate class the
    * substrate had not proven: q02 pushes a conjunction, this the
    * disjunction `(A1∧B1)∨(A2∧B2)∨(A3∧B3)` where the A's constrain the
    * dimension and the B's the fact): per brand/size/quantity band, line
    * count, distinct parts, e2 revenue. Catalyst's
    * PushExtraPredicateThroughJoin derives each side's implied
    * disjunction — `(brand1∧size1-15)∨…` reaches the part scan and
    * `(qty1-20)∨(qty10-30)∨(qty20-50)` the lineitem scan as
    * PushedFilters — so the join builds and probes only band-eligible
    * rows (explain-verified). Bands are brand-disjoint, so the
    * first-match CASE label after the OR filter partitions exactly.
    * Revenue e2-quantizes per line before the sum (q208's rule); part
    * dim broadcasts; the rollup lands on 3 keys.
    */
  private def q229(t: Tables): DataFrame = {
    def band(b: String, sLo: Int, sHi: Int, qLo: Int, qHi: Int): Column =
      col("p_brand") === b && col("p_size").between(sLo, sHi) &&
        col("l_quantity").between(qLo, qHi)
    val b1 = band("Brand#1", 1, 15, 1, 20)
    val b2 = band("Brand#2", 16, 30, 10, 30)
    val b3 = band("Brand#3", 31, 50, 20, 50)
    t.lineitem
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .join(
        broadcast(t.part.select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .filter(b1 || b2 || b3)
      .select(
        when(b1, "band1_small").when(b2, "band2_mid").otherwise("band3_large").as("band"),
        col("p_partkey"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("rev_e2"))
      .groupBy(col("band"))
      .agg(
        count(lit(1)).as("n_lines"),
        countDistinct(col("p_partkey")).as("n_parts"),
        sum(col("rev_e2")).as("revenue_e2"))
      .orderBy(col("band"))
  }

  /** Stale-part inventory audit via `NOT IN` (new r16 wave 24 — the
    * null-aware anti-join class: q07's NOT EXISTS plans a plain LeftAnti,
    * but `NOT IN (subquery)` carries three-valued logic — one NULL in the
    * inner set empties the result — and Spark plans it as a DEDICATED
    * physical shape, BroadcastHashJoin LeftAnti with
    * isNullAwareAntiJoin=true; this is also the suite's only
    * `spark.sql(...)` + temp-view entry, proving that API surface): per
    * brand, parts with NO shipment in the trailing 30 days of the
    * corpus (probed 1373/13730 parts at sf0.01/sf0.1 — populated, unlike
    * the all-time variant the r17 ledger rules out), stale share (e4),
    * and the e2 retail value parked in them. The cutoff is a scalar
    * subquery off max(l_shipdate) so the window tracks the data.
    *
    * Scale shape: the inner side collapses to distinct recently-shipped
    * partkeys — dimension-bounded (≤|part|), which is what makes the
    * NAAJ's mandatory broadcast safe at 100 TB (an unbounded inner side
    * would have to fall back to the non-broadcast plan); the date
    * predicate pushes to the fact scan; the brand rollup runs on the
    * |part|-row relation. Views are query-prefixed so concurrent Verify
    * sessions cannot collide.
    */
  private def q230(s: SparkSession, d: String): DataFrame = {
    val t = Tables(s, d)
    // graft_-prefixed view names, registered only for the duration of
    // sql() analysis and dropped immediately after: the analyzed plan
    // holds the resolved relations, so the query stays runnable while
    // the session catalog is left exactly as found (every other entry
    // in the suite is construction-side-effect-free; this one must be
    // too)
    t.part.createOrReplaceTempView("graft_q230_part")
    t.lineitem.createOrReplaceTempView("graft_q230_lineitem")
    try s.sql("""
      WITH stale AS (
        SELECT p_brand, p_retailprice FROM graft_q230_part
        WHERE p_partkey NOT IN (
          SELECT l_partkey FROM graft_q230_lineitem
          WHERE l_shipdate >= (SELECT max(l_shipdate) - INTERVAL 30 DAYS
                              FROM graft_q230_lineitem))),
      sa AS (
        SELECT p_brand, count(*) AS n_stale,
          sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS stale_value_e2
        FROM stale GROUP BY p_brand),
      tot AS (SELECT p_brand, count(*) AS n_parts FROM graft_q230_part GROUP BY p_brand)
      SELECT tot.p_brand, n_parts,
        coalesce(n_stale, 0) AS n_stale,
        (2 * 10000 * coalesce(n_stale, 0) + n_parts) DIV (2 * n_parts) AS stale_share_e4,
        coalesce(stale_value_e2, 0) AS stale_value_e2
      FROM tot LEFT JOIN sa ON tot.p_brand = sa.p_brand
      ORDER BY tot.p_brand""")
    finally {
      s.catalog.dropTempView("graft_q230_part")
      s.catalog.dropTempView("graft_q230_lineitem")
    }
  }

  /** TPC-H Q8-shaped market-share-by-year report (new r16 wave 24 — the
    * SHARE-over-time Q-shape: q214 rolls the two-fact star onto the
    * nation-pair grid, this onto the TIME axis with a flagged-subset
    * ratio per group): per order year, line count, total e2 revenue, the
    * slice supplied by EUROPE-region suppliers, and its e4 share — the
    * supply-concentration trend a sourcing review reads. Only the
    * lineitem⋈orders spine shuffles (on l_orderkey, the co-bucket key —
    * exchange-free on bucketed storage); the supplier→nation→region arm
    * collapses to a broadcast EU-supplier key set probed with a LEFT
    * join so non-EU lines still count in the denominator; revenue
    * e2-quantizes per line BEFORE the sum (q208's rule); the rollup
    * lands on the ≤|years| grid. The e4 share's 2·10⁴·Σrev product
    * passes 2⁶³ once a year's e2 revenue reaches ~4.6·10¹⁴ (≈ $4.6
    * trillion/year), so it runs in DECIMAL(38,0) on the |years|-row
    * relation (q173's guard pattern).
    */
  private def q233(t: Tables): DataFrame = {
    val big: Column => Column = _.cast("decimal(38,0)")
    val euSup = t.supplier
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(
        broadcast(t.nation.select(col("n_nationkey"), col("n_regionkey"))),
        col("s_nationkey") === col("n_nationkey"))
      .join(
        broadcast(t.region.filter(col("r_name") === "EUROPE").select(col("r_regionkey"))),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey").as("eu_suppkey"))
    t.lineitem
      .select(
        col("l_orderkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("rev_e2"))
      .join(
        t.orders.select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(euSup), col("l_suppkey") === col("eu_suppkey"), "left")
      .groupBy(col("o_year"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("rev_e2")).as("revenue_e2"),
        sum(when(col("eu_suppkey").isNotNull, col("rev_e2")).otherwise(0L))
          .as("eu_revenue_e2"))
      .withColumn("share_num", big(col("eu_revenue_e2")) * lit(20000L) + col("revenue_e2"))
      .withColumn("eu_share_e4", expr("CAST(share_num DIV (2 * revenue_e2) AS BIGINT)"))
      .drop("share_num")
      .orderBy(col("o_year"))
  }

  /** LATERAL correlated top-k (new r16 wave 31 — the SQL-standard LATERAL
    * subquery surface, the second `spark.sql` entry after q230's NAAJ:
    * a correlated ORDER BY + LIMIT subquery evaluated per outer row, the
    * "top N per group" idiom ANSI SQL spells natively; q10 proves the
    * window-function formulation, this proves the engine accepts and
    * decorrelates the LATERAL form — Spark analyzes it as a LateralJoin
    * and rewrites the correlated limit into a partitioned rank, so the
    * executed plan is the same scalable shape as q10's, not a per-row
    * re-scan): per nation, the top-3 customers by account balance.
    * Deterministic under ties by the unique c_name tiebreak; balances
    * e2-quantized in the OUTPUT only (the ordering key is the raw column
    * both engines hold bit-identical).
    *
    * Scale shape: after decorrelation this is ONE customer-side shuffle
    * keyed on c_nationkey with a rank window and the dim join — no
    * per-nation re-scan survives; the output is ≤ 3·|nations| rows.
    * Views are query-prefixed and dropped after analysis (q230's rule).
    */
  private def q241(s: SparkSession, d: String): DataFrame = {
    val t = Tables(s, d)
    t.nation.createOrReplaceTempView("graft_q241_nation")
    t.customer.createOrReplaceTempView("graft_q241_customer")
    try s.sql("""
      SELECT n.n_name, t.c_name, t.bal_e2
      FROM graft_q241_nation n,
      LATERAL (
        SELECT c_name, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2
        FROM graft_q241_customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_name
        LIMIT 3) t
      ORDER BY n.n_name, t.bal_e2 DESC, t.c_name""")
    finally {
      s.catalog.dropTempView("graft_q241_nation")
      s.catalog.dropTempView("graft_q241_customer")
    }
  }

  /** TPC-H Q9-shaped profit-by-nation-and-year report (new r16 wave 31 —
    * the PRODUCT-LINE PROFIT Q-shape: a part-name-filtered five-relation
    * star rolled onto the (supplier nation × order year) grid; Q5 (q05)
    * rolls revenue onto the customer-region arm, this rolls MARGIN onto
    * the supplier arm). This testdata carries no partsupp relation, so
    * ps_supplycost is the declared deterministic proxy 60% of
    * p_retailprice (e2-exact: unit_cost_e2 = floor(p_retailprice·60 +
    * 0.5)) — the Q-shape's join/aggregation structure is what's being
    * proven, and the margin varies per line through quantity, discount,
    * and price exactly as Q9's does. Probed 70/175/175 (nation, year)
    * cells at sf0.001/0.01/0.1.
    *
    * Scale shape: the bolt-part key set and the supplier→nation map are
    * dimension-bounded broadcasts (the part filter culls the fact
    * map-side BEFORE any exchange); the one corpus-scale shuffle is
    * lineitem⋈orders on the co-bucket key l_orderkey (exchange-free on
    * bucketed storage); the rollup lands on the ≤|nations|·|years| grid.
    * Quantities are integral by generator contract — floor(q + 0.5)
    * casts them identically in both engines (never a raw double→int
    * cast, whose rounding differs between Spark and DuckDB).
    */
  private def q242(t: Tables): DataFrame = {
    val boltParts = t.part
      .filter(col("p_name").like("%bolt%"))
      .select(
        col("p_partkey"),
        expr("CAST(floor(p_retailprice * 60 + 0.5) AS BIGINT)").as("unit_cost_e2"))
    val supNation = t.supplier
      .select(col("s_suppkey"), col("s_nationkey"))
      .join(
        broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    t.lineitem
      .select(
        col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("rev_e2"),
        expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").as("qty"))
      .join(broadcast(boltParts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supNation), col("l_suppkey") === col("s_suppkey"))
      .join(
        t.orders.select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("rev_e2")).as("revenue_e2"),
        sum(col("qty") * col("unit_cost_e2")).as("cost_e2"),
        sum(col("rev_e2") - col("qty") * col("unit_cost_e2")).as("profit_e2"))
      .orderBy(col("n_name"), col("o_year"))
  }

  /** TPC-H Q10-shaped returned-revenue customer ranking (new r16 wave 31
    * — the RETURNS-TRIAGE Q-shape: which customers sent back the most
    * value; q03 ranks open orders, this ranks customers on the
    * l_returnflag='R' slice through the customer→nation arm, the report a
    * fulfilment review opens with): top-20 customers by e2 returned
    * revenue with their nation, line count, and distinct returned orders.
    * Ties (none probed, but possible at bigger SFs) break on the unique
    * c_custkey.
    *
    * Scale shape: the returnflag predicate pushes to the fact scan; the
    * one corpus-scale shuffle is lineitem⋈orders on l_orderkey
    * (co-bucket key); the per-customer rollup is |customers|-bounded and
    * partial-aggregable; customer and nation attach as dimension
    * broadcasts AFTER the rollup (attribute join on the collapsed
    * relation, never the fact); the global top-20 is a TakeOrdered, no
    * full sort.
    */
  private def q243(t: Tables): DataFrame = {
    val perCust = t.lineitem
      .filter(col("l_returnflag") === "R")
      .select(
        col("l_orderkey"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("rev_e2"))
      .join(
        t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_ret_lines"),
        countDistinct(col("o_orderkey")).as("n_ret_orders"),
        sum(col("rev_e2")).as("ret_rev_e2"))
    perCust
      .join(
        broadcast(t.customer.select(col("c_custkey"), col("c_name"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(
        broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(
        col("c_custkey"), col("c_name"), col("n_name"),
        col("n_ret_orders"), col("n_ret_lines"), col("ret_rev_e2"))
      .orderBy(col("ret_rev_e2").desc, col("c_custkey"))
      .limit(20)
  }

  // q17: tumbling time bucket == streaming window().start on a batch plan.
  private def q17(t: Tables): DataFrame =
    t.events
      .groupBy(window(col("ts"), "1 hour").getField("start").as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .orderBy(col("hour_start"), col("event_type"))

  // q18: string expression block (LIKE / substr / upper / concat).
  private def q18(t: Tables): DataFrame =
    t.part
      .filter(col("p_name").like("%blue%") || col("p_name").like("%green%"))
      .groupBy(col("p_brand"), upper(substring(col("p_type"), 1, 8)).as("type_prefix"))
      .agg(count(lit(1)).as("n"), round(max(col("p_retailprice")), 2).as("max_price"))
      .orderBy(col("p_brand"), col("type_prefix"))

  // q19: three-valued-logic audit — outer-join-induced nulls through
  // count/coalesce/avg(nullif).
  private def q19(t: Tables): DataFrame =
    t.customer
      .join(
        t.orders,
        col("o_custkey") === col("c_custkey") && col("o_totalprice") > 450000,
        "left")
      .groupBy(coalesce(col("o_orderstatus"), lit("NONE")).as("status"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(avg(nullif(col("o_totalprice"), lit(0.0))), lit(-1.0)), 2).as("avg_big_price"))
      .orderBy(col("status"))

  // q20: gap-based sessionization (30 min) — the batch twin of the
  // streaming session operator. Two windows over one shuffle on user_id.
  private def q20(t: Tables): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val marked = t.events
      .select(col("user_id"), col("event_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .withColumn("prev_us", lag(col("us"), 1).over(byUser))
      .withColumn(
        "is_new",
        when(col("prev_us").isNull || col("us") - col("prev_us") > 1800L * 1000000L, 1L).otherwise(0L))
    marked
      .withColumn("session_id", sum(col("is_new")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("us")).as("start_us"),
        max(col("us")).as("end_us"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** TPC-H Q17-shaped small-quantity revenue audit (r16 wave 4 — the
    * correlated-scalar-subquery plan shape the q01–q20 substrate did not
    * yet prove: a per-key aggregate rejoined to its own fact rows):
    * lines whose quantity is under 20% of their part's average, priced
    * per brand. Spark-first the correlation is an aggregate + self-join
    * on l_partkey — the two sides share the key, so on bucketed storage
    * the join is exchange-free and here AQE co-partitions one shuffle;
    * the part dim broadcasts for the brand label. The 0.2·avg threshold
    * is one character-identical double expression in both engines.
    */
  private def q199(t: Tables): DataFrame = {
    val avgQty = t.lineitem
      .groupBy(col("l_partkey").as("pk"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    t.lineitem
      .join(avgQty, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("avg_qty") * 0.2)
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_small_lines"),
        round(sum(col("l_extendedprice")), 2).as("small_revenue"))
      .orderBy(col("p_brand"))
  }

  /** TPC-H Q21-shaped sole-blocker audit (r16 wave 4 — the
    * double-correlated EXISTS / NOT EXISTS shape): suppliers who were
    * the ONLY late shipper (> 90 days after the order date) on a
    * multi-supplier finished order. The classic formulation self-joins
    * lineitem twice; the Spark-first re-expression folds both
    * correlations into ONE per-order aggregate — distinct suppliers,
    * distinct late suppliers, and the (late-count = 1 ∧ suppliers > 1)
    * gate read off the same pass — so the fact table is scanned and
    * shuffled once on l_orderkey (the lake's co-bucket key). The oracle
    * keeps the EXISTS/NOT EXISTS derivation as the independent check.
    */
  private def q200(t: Tables): DataFrame = {
    val lines = t.lineitem
      .join(
        t.orders.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("late"))
    // r17: collapse lines once onto (order, supplier) — max(late) per
    // pair — instead of running the fact-fact join twice (once for the
    // double countDistinct, once for the late-pair distinct). The pair
    // rollup, the per-order fold, and the final self-join all reuse the
    // join's l_orderkey partitioning (hash(ok) satisfies every (ok, ...)
    // clustering downstream), so the restructure removes a whole join
    // pass AND its exchanges; counts are identical (countDistinct over
    // lines ≡ count over the distinct-pair relation, any-late per pair ≡
    // the late-line distinct). The pair relation is checkpointed: both
    // downstream branches read the materialization, not the join.
    val pairAgg = graft.Iterate.cutLineage(
      lines
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("late")).as("late_any")))
    val perOrder = pairAgg
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supp"),
        sum(when(col("late_any"), 1L).otherwise(0L)).as("n_late_supp"))
    pairAgg
      .filter(col("late_any"))
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(
        perOrder.filter(col("n_supp") > 1 && col("n_late_supp") === 1),
        Seq("l_orderkey"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_blocked_orders"))
      .join(broadcast(t.supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_name"), col("l_suppkey").as("suppkey"), col("n_blocked_orders"))
      .orderBy(col("n_blocked_orders").desc, col("suppkey"))
      .limit(20)
  }

  /** Time-RANGE window frames (r16 wave 5 — the one window frame class
    * q01–q20 left unproven: q11's running totals use ROWS frames, this
    * is `RANGE BETWEEN INTERVAL ... PRECEDING AND CURRENT ROW`, the
    * frame that follows event TIME, not row position): per order, the
    * customer's trailing-30-day order count and spend — the recency
    * feature a feature store materializes per fact row. Peers (equal
    * timestamps) are in-frame in both engines by RANGE semantics, so
    * ties cannot reorder results; prices quantize half-up to e2 longs
    * BEFORE the frame sum (a double frame-sum's addition order is
    * engine-internal — the established rule). One shuffle on o_custkey
    * carries both frame aggregates.
    */
  private def q202(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("us"))
      .rangeBetween(-30L * 86400L * 1000000L, 0L)
    t.orders
      .select(
        col("o_orderkey"), col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("us"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("price_e2"))
      .withColumn("n_trailing_30d", count(lit(1)).over(w))
      .withColumn("spend_trailing_30d_e2", sum(col("price_e2")).over(w))
      .select(
        col("o_orderkey"), col("o_custkey"),
        col("n_trailing_30d"), col("spend_trailing_30d_e2"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H Q7-shaped cross-nation trade volume (r16 wave 10 — the
    * two-fact multi-dim join tree the Q-shape family still lacked: Q17
    * (q199) is a self-correlated aggregate, Q21 (q200) a folded
    * double-EXISTS; Q7 is the star join BOTH fact tables participate
    * in, with two independent dimension arms hanging off different
    * fact keys): revenue shipped between distinct (customer nation,
    * supplier nation) pairs, top 20. The interesting plan property is
    * that the two nation arms join on DIFFERENT keys (o_custkey →
    * customer → nation vs l_suppkey → supplier → nation), so only the
    * lineitem⋈orders spine shuffles — on l_orderkey, the lake's
    * co-bucket key (exchange-free on bucketed storage) — and all four
    * dimension hops broadcast. Revenue quantizes half-up to e2 longs
    * per line BEFORE the sum (q208's rule); the rollup lands on the
    * ≤ |nations|² pair grid; top-20 is TakeOrderedAndProject.
    */
  /** Price–volume–mix revenue bridge (the standard FP&A decomposition,
    * e.g. Horngren's cost-accounting treatment of sales variances): the
    * year-over-year revenue delta per part type split into a PRICE
    * effect (ΔP·Q₂) and a VOLUME effect (ΔQ·P₁), where P is the
    * period's average unit price Σext/Σqty — the "why did revenue move"
    * table behind every revenue review, answered from the same
    * P₂Q₂−P₁Q₁ = (P₂−P₁)Q₂ + (Q₂−Q₁)P₁ identity that makes the two
    * effects sum EXACTLY to the delta. New/discontinued groups take the
    * whole delta as volume (no price to compare).
    *
    * Exactness: prices quantize e2 (they are 2-decimal), quantities are
    * integral; the price effect is one half-up rational
    * E₂ − rhu(E₁·Q₂, Q₁) and the volume effect is defined RESIDUALLY, so
    * additivity is exact by construction and the spec pins the
    * closed-form (Q₂−Q₁)·P₁ against it instead. Scale shape: the only
    * corpus-scale exchange is the fact-fact l⋈o join on the co-bucket
    * spine key (orderkey — exchange-free on bucketed storage) feeding
    * the (type, year) partial-aggregable rollup; part broadcasts;
    * everything after is |types|-bounded.
    */
  private def q288(t: Tables): DataFrame = {
    val base = t.lineitem
      .join(t.orders.select(col("o_orderkey"), expr("year(o_orderdate)").as("yr")),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("yr").isin(1996, 1997))
      .join(broadcast(t.part.select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"), col("yr"))
      .agg(
        sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("e"),
        sum(col("l_quantity").cast("long")).as("q"))
    base.groupBy(col("p_type"))
      .agg(
        sum(when(col("yr") === 1996, col("e"))).as("e1"),
        sum(when(col("yr") === 1996, col("q"))).as("q1"),
        sum(when(col("yr") === 1997, col("e"))).as("e2"),
        sum(when(col("yr") === 1997, col("q"))).as("q2"))
      .na.fill(0L, Seq("e1", "q1", "e2", "q2"))
      .withColumn("delta_e2", col("e2") - col("e1"))
      .withColumn("price_eff_e2", expr(
        "CASE WHEN q1 > 0 AND q2 > 0 " +
          "THEN e2 - (2 * e1 * q2 + q1) DIV (2 * q1) ELSE 0L END"))
      .withColumn("vol_eff_e2", col("delta_e2") - col("price_eff_e2"))
      .select(col("p_type"), col("q1"), col("q2"), col("e1").as("rev1_e2"),
        col("e2").as("rev2_e2"), col("delta_e2"), col("price_eff_e2"),
        col("vol_eff_e2"))
      .orderBy(col("p_type"))
  }

  private def q214(t: Tables): DataFrame =
    t.lineitem
      .select(
        col("l_orderkey"), col("l_suppkey"),
        expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("rev_e2"))
      .join(t.orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(
        col("n_nationkey").as("cnk"), col("n_name").as("cust_nation"))),
        col("c_nationkey") === col("cnk"))
      .join(broadcast(t.supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t.nation.select(
        col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
        col("s_nationkey") === col("snk"))
      .filter(col("cust_nation") =!= col("supp_nation"))
      .groupBy(col("cust_nation"), col("supp_nation"))
      .agg(count(lit(1)).as("n_lines"), sum(col("rev_e2")).as("revenue_e2"))
      .orderBy(col("revenue_e2").desc, col("cust_nation"), col("supp_nation"))
      .limit(20)

  /** Insert-only incremental view maintenance via the delta rule
    * (Blakeley, Larson & Tompa 1986; Gupta & Mumick's classic Δ(R⋈S) =
    * ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS — the mechanism that keeps a 100 TB
    * materialized join-aggregate current for the cost of the DELTA, not
    * a recompute; q107 applies the idea to dedup state, this is the
    * relational original): the per-nation revenue view over
    * orders⋈lineitem, maintained across a batch boundary at 2001-01-01
    * where BOTH facts grow on ORTHOGONAL axes (new orders by order
    * date, new shipments by ship date — so all three delta terms are
    * live: base orders keep shipping lines, new orders ship against
    * both sides). Per nation: the view before, the three delta terms,
    * the view after (base + Δ), a recompute column, and the equality
    * boolean.
    *
    * Scale shape (r17 fold — the shape ScaleSpec pins): this query's
    * declared output always includes the recompute column, so the full
    * O⋈L join is paid regardless, and ALL FIVE sums (base, the three
    * delta terms, recompute) are conditional sums over the disjoint
    * (o_old, l_old) partition of that ONE join — one fact-fact join on
    * o_orderkey (the co-bucket key; exchange-free on bucketed storage),
    * dims broadcast, rollup on the |nations| grid. Honest caveat on the
    * certificate: in this folded form `ivm_ok` holds by arithmetic
    * identity (the four terms partition the same join the recompute
    * sums), so it certifies the DELTA-RULE DECOMPOSITION, not an
    * independent execution — the cross-engine audit is the DuckDB
    * oracle, which derives the terms via separate flag-joins and must
    * hash-match. Production IVM maintains the view from pruned delta
    * scans WITHOUT a recompute; each term's former per-Δ join (cost
    * ∝ |Δ|, base side bucket-pruned) remains the deployment shape — this
    * query just stops paying the same join five times to print one
    * table that includes the audit column.
    */
  private def q268(t: Tables): DataFrame = {
    val cut = lit(java.sql.Date.valueOf("2001-01-01")).cast("timestamp")
    val o = t.orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val l = t.lineitem.select(
      col("l_orderkey"), col("l_shipdate"),
      expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
        .as("rev_e2"))
    val dim = t.customer.select(col("c_custkey"), col("c_nationkey"))
      .join(t.nation.select(col("n_nationkey"), col("n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name"))
    // r17 session 2: the four (o_old, l_old) terms are a disjoint
    // partition of the recompute join, and the recompute column is part
    // of this query's declared output — so the full O⋈L join is paid
    // regardless, and deriving every term as a conditional sum OVER that
    // one join replaces FIVE fact-fact joins with one (guide §2.4/§1.2:
    // don't compute things twice). Values are bit-identical: each term's
    // former inner join selects exactly the rows its (o_old, l_old)
    // predicate selects here, sums are exact longs, and a nation absent
    // from a term yields NULL → the same coalesce-to-0. (Production IVM
    // maintains the view from pruned delta scans WITHOUT the recompute —
    // that per-term shape is still the one the doc-comment describes and
    // the delta terms still certify; this query simply stops paying it
    // five times to produce one table that always includes the audit.)
    val joined = o
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .withColumn("o_old", col("o_orderdate") < cut)
      .withColumn("l_old", col("l_shipdate") < cut)
    joined
      .groupBy(col("n_name"))
      .agg(
        sum(when(col("o_old") && col("l_old"), col("rev_e2"))).as("base_raw"),
        sum(when(!col("o_old") && col("l_old"), col("rev_e2"))).as("d_new_orders_raw"),
        sum(when(col("o_old") && !col("l_old"), col("rev_e2"))).as("d_new_lines_raw"),
        sum(when(!col("o_old") && !col("l_old"), col("rev_e2"))).as("d_both_raw"),
        sum(col("rev_e2")).as("recompute_raw"))
      .select(
        col("n_name"),
        coalesce(col("base_raw"), lit(0L)).as("base_e2"),
        coalesce(col("d_new_orders_raw"), lit(0L)).as("d_new_orders_e2"),
        coalesce(col("d_new_lines_raw"), lit(0L)).as("d_new_lines_e2"),
        coalesce(col("d_both_raw"), lit(0L)).as("d_both_e2"),
        coalesce(col("recompute_raw"), lit(0L)).as("recompute_e2"))
      .withColumn(
        "view_after_e2",
        expr("base_e2 + d_new_orders_e2 + d_new_lines_e2 + d_both_e2"))
      .withColumn("ivm_ok", col("view_after_e2") === col("recompute_e2"))
      .select(
        col("n_name"), col("base_e2"), col("d_new_orders_e2"), col("d_new_lines_e2"),
        col("d_both_e2"), col("view_after_e2"), col("recompute_e2"), col("ivm_ok"))
      .orderBy(col("n_name"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q268_ivm_delta" -> ((s, d) => q268(Tables(s, d))),
    "q229_disjunctive_bands" -> ((s, d) => q229(Tables(s, d))),
    "q230_stale_parts" -> ((s, d) => q230(s, d)),
    "q233_market_share" -> ((s, d) => q233(Tables(s, d))),
    "q214_nation_trade" -> ((s, d) => q214(Tables(s, d))),
    "q288_pvm_bridge" -> ((s, d) => q288(Tables(s, d))),
    "q202_trailing_orders" -> ((s, d) => q202(Tables(s, d))),
    "q199_small_orders" -> ((s, d) => q199(Tables(s, d))),
    "q200_blocked_orders" -> ((s, d) => q200(Tables(s, d))),
    "q01_pricing_summary" -> ((s, d) => q01(Tables(s, d))),
    "q02_filter_project" -> ((s, d) => q02(Tables(s, d))),
    "q03_top_revenue" -> ((s, d) => q03(Tables(s, d))),
    "q04_order_priority" -> ((s, d) => q04(Tables(s, d))),
    "q05_region_revenue" -> ((s, d) => q05(Tables(s, d))),
    "q06_revenue_delta" -> ((s, d) => q06(Tables(s, d))),
    "q07_customers_no_orders" -> ((s, d) => q07(Tables(s, d))),
    "q08_order_fill" -> ((s, d) => q08(Tables(s, d))),
    "q09_distinct_agg" -> ((s, d) => q09(Tables(s, d))),
    "q10_top_orders_per_cust" -> ((s, d) => q10(Tables(s, d))),
    "q11_running_totals" -> ((s, d) => q11(Tables(s, d))),
    "q12_global_top" -> ((s, d) => q12(Tables(s, d))),
    "q13_set_ops" -> ((s, d) => q13(Tables(s, d))),
    "q14_conditional_agg" -> ((s, d) => q14(Tables(s, d))),
    "q15_above_avg_groups" -> ((s, d) => q15(Tables(s, d))),
    "q16_rollup_sales" -> ((s, d) => q16(Tables(s, d))),
    "q218_cube_sales" -> ((s, d) => q218(Tables(s, d))),
    "q222_multiset_ops" -> ((s, d) => q222(Tables(s, d))),
    "q227_big_orders" -> ((s, d) => q227(Tables(s, d))),
    "q223_cust_order_histogram" -> ((s, d) => q223(Tables(s, d))),
    "q17_hourly_events" -> ((s, d) => q17(Tables(s, d))),
    "q18_string_report" -> ((s, d) => q18(Tables(s, d))),
    "q19_null_audit" -> ((s, d) => q19(Tables(s, d))),
    "q20_user_sessions" -> ((s, d) => q20(Tables(s, d))),
    "q241_lateral_topk" -> ((s, d) => q241(s, d)),
    "q242_nation_profit" -> ((s, d) => q242(Tables(s, d))),
    "q243_returned_topk" -> ((s, d) => q243(Tables(s, d)))
  )

  override def oracleSql: Map[String, String] = Map(
    "q268_ivm_delta" ->
      """WITH o AS (
        | SELECT o_orderkey, o_custkey, o_orderdate >= TIMESTAMP '2001-01-01' AS o_new
        | FROM orders),
        | l AS (
        | SELECT l_orderkey, l_shipdate >= TIMESTAMP '2001-01-01' AS l_new,
        |  CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_e2
        | FROM lineitem),
        | dim AS (
        | SELECT c_custkey, n_name FROM customer JOIN nation ON n_nationkey = c_nationkey),
        | j AS (
        | SELECT n_name, o_new, l_new, rev_e2
        | FROM o JOIN l ON l_orderkey = o_orderkey JOIN dim ON c_custkey = o_custkey),
        | agg AS (
        | SELECT n_name,
        |  CAST(sum(CASE WHEN NOT o_new AND NOT l_new THEN rev_e2 ELSE 0 END) AS BIGINT)
        |    AS base_e2,
        |  CAST(sum(CASE WHEN o_new AND NOT l_new THEN rev_e2 ELSE 0 END) AS BIGINT)
        |    AS d_new_orders_e2,
        |  CAST(sum(CASE WHEN NOT o_new AND l_new THEN rev_e2 ELSE 0 END) AS BIGINT)
        |    AS d_new_lines_e2,
        |  CAST(sum(CASE WHEN o_new AND l_new THEN rev_e2 ELSE 0 END) AS BIGINT) AS d_both_e2,
        |  CAST(sum(rev_e2) AS BIGINT) AS recompute_e2
        | FROM j GROUP BY 1)
        |SELECT n_name, base_e2, d_new_orders_e2, d_new_lines_e2, d_both_e2,
        | base_e2 + d_new_orders_e2 + d_new_lines_e2 + d_both_e2 AS view_after_e2,
        | recompute_e2,
        | base_e2 + d_new_orders_e2 + d_new_lines_e2 + d_both_e2 = recompute_e2 AS ivm_ok
        |FROM agg ORDER BY n_name""".stripMargin,
    "q241_lateral_topk" ->
      """SELECT n.n_name, t.c_name, t.bal_e2
        |FROM nation n,
        |LATERAL (
        | SELECT c_name, CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_e2
        | FROM customer c
        | WHERE c.c_nationkey = n.n_nationkey
        | ORDER BY c_acctbal DESC, c_name
        | LIMIT 3) t
        |ORDER BY n.n_name, t.bal_e2 DESC, t.c_name""".stripMargin,
    "q242_nation_profit" ->
      """WITH l AS (
        | SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_e2,
        |  CAST(floor(l_quantity + 0.5) AS BIGINT)
        |   * CAST(floor(p_retailprice * 60 + 0.5) AS BIGINT) AS cost_e2
        | FROM lineitem
        | JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN orders ON l_orderkey = o_orderkey
        | WHERE p_name LIKE '%bolt%')
        |SELECT n_name, o_year, count(*) AS n_lines,
        | CAST(sum(rev_e2) AS BIGINT) AS revenue_e2,
        | CAST(sum(cost_e2) AS BIGINT) AS cost_e2,
        | CAST(sum(rev_e2 - cost_e2) AS BIGINT) AS profit_e2
        |FROM l GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q243_returned_topk" ->
      """WITH pc AS (
        | SELECT o_custkey, count(*) AS n_ret_lines,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_ret_orders,
        |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT))
        |   AS BIGINT) AS ret_rev_e2
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE l_returnflag = 'R'
        | GROUP BY 1)
        |SELECT c_custkey, c_name, n_name, n_ret_orders, n_ret_lines, ret_rev_e2
        |FROM pc
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY ret_rev_e2 DESC, c_custkey
        |LIMIT 20""".stripMargin,
    "q229_disjunctive_bands" ->
      """WITH j AS (
        | SELECT CASE
        |   WHEN p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20 THEN 'band1_small'
        |   WHEN p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
        |    AND l_quantity BETWEEN 10 AND 30 THEN 'band2_mid'
        |   ELSE 'band3_large' END AS band,
        |  p_partkey,
        |  CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_e2
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 20)
        |  OR (p_brand = 'Brand#2' AND p_size BETWEEN 16 AND 30
        |    AND l_quantity BETWEEN 10 AND 30)
        |  OR (p_brand = 'Brand#3' AND p_size BETWEEN 31 AND 50
        |    AND l_quantity BETWEEN 20 AND 50))
        |SELECT band, count(*) AS n_lines,
        | CAST(count(DISTINCT p_partkey) AS BIGINT) AS n_parts,
        | CAST(sum(rev_e2) AS BIGINT) AS revenue_e2
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q230_stale_parts" ->
      """WITH stale AS (
        | SELECT p_brand, p_retailprice FROM part
        | WHERE p_partkey NOT IN (
        |  SELECT l_partkey FROM lineitem
        |  WHERE l_shipdate >= (SELECT max(l_shipdate) - INTERVAL 30 DAY FROM lineitem))),
        | sa AS (
        | SELECT p_brand, count(*) AS n_stale,
        |  CAST(sum(CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |   AS stale_value_e2
        | FROM stale GROUP BY p_brand),
        | tot AS (SELECT p_brand, count(*) AS n_parts FROM part GROUP BY p_brand)
        |SELECT tot.p_brand, n_parts,
        | coalesce(n_stale, 0) AS n_stale,
        | (2 * 10000 * coalesce(n_stale, 0) + n_parts) // (2 * n_parts) AS stale_share_e4,
        | coalesce(stale_value_e2, 0) AS stale_value_e2
        |FROM tot LEFT JOIN sa ON tot.p_brand = sa.p_brand
        |ORDER BY tot.p_brand""".stripMargin,
    "q233_market_share" ->
      """WITH eu AS (
        | SELECT s_suppkey FROM supplier
        | JOIN nation ON n_nationkey = s_nationkey
        | JOIN region ON r_regionkey = n_regionkey
        | WHERE r_name = 'EUROPE'),
        | l AS (
        | SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_e2,
        |  CASE WHEN eu.s_suppkey IS NOT NULL THEN 1 ELSE 0 END AS is_eu
        | FROM lineitem
        | JOIN orders ON o_orderkey = l_orderkey
        | LEFT JOIN eu ON eu.s_suppkey = l_suppkey)
        |SELECT o_year, count(*) AS n_lines,
        | CAST(sum(rev_e2) AS BIGINT) AS revenue_e2,
        | CAST(sum(CASE WHEN is_eu = 1 THEN rev_e2 ELSE 0 END) AS BIGINT) AS eu_revenue_e2,
        | (2 * 10000 * CAST(sum(CASE WHEN is_eu = 1 THEN rev_e2 ELSE 0 END) AS BIGINT)
        |  + CAST(sum(rev_e2) AS BIGINT))
        |  // (2 * CAST(sum(rev_e2) AS BIGINT)) AS eu_share_e4
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,
    "q288_pvm_bridge" ->
      """WITH base AS (
        | SELECT p_type, year(o_orderdate) AS yr,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS e,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        | FROM lineitem
        | JOIN orders ON o_orderkey = l_orderkey
        | JOIN part ON p_partkey = l_partkey
        | WHERE year(o_orderdate) IN (1996, 1997)
        | GROUP BY 1, 2),
        | p AS (
        | SELECT p_type,
        |  CAST(coalesce(sum(CASE WHEN yr = 1996 THEN e END), 0) AS BIGINT) AS e1,
        |  CAST(coalesce(sum(CASE WHEN yr = 1996 THEN q END), 0) AS BIGINT) AS q1,
        |  CAST(coalesce(sum(CASE WHEN yr = 1997 THEN e END), 0) AS BIGINT) AS e2,
        |  CAST(coalesce(sum(CASE WHEN yr = 1997 THEN q END), 0) AS BIGINT) AS q2
        | FROM base GROUP BY 1)
        |SELECT p_type, q1, q2, e1 AS rev1_e2, e2 AS rev2_e2,
        | e2 - e1 AS delta_e2,
        | CAST(CASE WHEN q1 > 0 AND q2 > 0
        |   THEN e2 - (2 * e1 * q2 + q1) // (2 * q1) ELSE 0 END AS BIGINT)
        |  AS price_eff_e2,
        | CAST((e2 - e1) - CASE WHEN q1 > 0 AND q2 > 0
        |   THEN e2 - (2 * e1 * q2 + q1) // (2 * q1) ELSE 0 END AS BIGINT)
        |  AS vol_eff_e2
        |FROM p ORDER BY p_type""".stripMargin,
    "q214_nation_trade" ->
      """SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
        | count(*) AS n_lines,
        | CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5)
        |  AS BIGINT)) AS BIGINT) AS revenue_e2
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation n1 ON n1.n_nationkey = c_nationkey
        |JOIN nation n2 ON n2.n_nationkey = s_nationkey
        |WHERE n1.n_name <> n2.n_name
        |GROUP BY 1, 2
        |ORDER BY revenue_e2 DESC, cust_nation, supp_nation
        |LIMIT 20""".stripMargin,
    "q202_trailing_orders" ->
      """WITH o AS (
        | SELECT o_orderkey, o_custkey, epoch_us(ts) AS us,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_e2
        | FROM (SELECT *, CAST(o_orderdate AS TIMESTAMP) AS ts FROM orders))
        |SELECT o_orderkey, o_custkey,
        | count(*) OVER w AS n_trailing_30d,
        | CAST(sum(price_e2) OVER w AS BIGINT) AS spend_trailing_30d_e2
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY us
        | RANGE BETWEEN 2592000000000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q199_small_orders" ->
      """WITH a AS (
        | SELECT l_partkey AS pk, avg(l_quantity) AS avg_qty
        | FROM lineitem GROUP BY 1)
        |SELECT p_brand, count(*) AS n_small_lines,
        | round(sum(l_extendedprice), 2) AS small_revenue
        |FROM lineitem JOIN a ON l_partkey = pk
        | JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity < avg_qty * 0.2
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q200_blocked_orders" ->
      """WITH l AS (
        | SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE o_orderstatus = 'F')
        |SELECT s_name, l_suppkey AS suppkey, count(*) AS n_blocked_orders FROM (
        | SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        | FROM l l1
        | WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
        |  AND EXISTS (
        |   SELECT 1 FROM l l2
        |   WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |   SELECT 1 FROM l l3
        |   WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |    AND l3.l_shipdate > l3.o_orderdate + INTERVAL 90 DAY)
        |) b JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name, l_suppkey
        |ORDER BY n_blocked_orders DESC, suppkey LIMIT 20""".stripMargin,
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
        | round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | round(avg(l_quantity),2) AS avg_qty,
        | round(avg(l_extendedprice),2) AS avg_price,
        | round(avg(l_discount),2) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_top_revenue" ->
      """SELECT c_custkey, c_name, round(sum(o_totalprice),2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY revenue DESC, c_custkey LIMIT 10""".stripMargin,
    "q04_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q05_region_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q06_revenue_delta" ->
      """SELECT round(sum(l_extendedprice*l_discount),2) AS revenue FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q07_customers_no_orders" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '1999-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q08_order_fill" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q09_distinct_agg" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
        | count(DISTINCT c_custkey) AS n_cust, round(sum(c_acctbal),2) AS bal
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q10_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    "q11_running_totals" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q12_global_top" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25""".stripMargin,
    "q13_set_ops" ->
      """SELECT custkey FROM (
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        | INTERSECT
        | SELECT o_custkey AS custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |) EXCEPT SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin,
    "q14_conditional_agg" ->
      """SELECT o_custkey,
        | count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        | count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        | count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p,
        | round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END),2) AS urgent_value
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q15_above_avg_groups" ->
      """SELECT p_brand, round(avg(p_retailprice),2) AS avg_price, count(*) AS n
        |FROM part GROUP BY p_brand
        |HAVING avg(p_retailprice) > (SELECT avg(p_retailprice) FROM part)
        |ORDER BY p_brand""".stripMargin,
    "q16_rollup_sales" ->
      """SELECT coalesce(r_name,'ALL') AS region_name, coalesce(n_name,'ALL') AS nation_name,
        | count(*) AS n_cust, round(sum(c_acctbal),2) AS bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY region_name, nation_name""".stripMargin,
    "q227_big_orders" ->
      """WITH b AS (
        | SELECT l_orderkey,
        |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_qty_e2
        | FROM lineitem GROUP BY 1
        | HAVING sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) > 20000)
        |SELECT o_orderkey, c_name, o_orderstatus, total_qty_e2,
        | CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS total_price_e2
        |FROM b JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY total_qty_e2 DESC, o_orderkey LIMIT 20""".stripMargin,
    "q222_multiset_ops" ->
      """WITH e AS (SELECT o_custkey AS custkey FROM orders
        |  WHERE o_orderdate < TIMESTAMP '1997-01-01'),
        | l AS (SELECT o_custkey AS custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
        | xa AS (SELECT * FROM e EXCEPT ALL SELECT * FROM l),
        | ia AS (SELECT * FROM e INTERSECT ALL SELECT * FROM l),
        | rx AS (SELECT custkey, count(*) AS m FROM xa GROUP BY 1),
        | ri AS (SELECT custkey, count(*) AS m FROM ia GROUP BY 1)
        |SELECT 'except_all' AS op,
        | CAST(coalesce(sum(m), 0) AS BIGINT) AS n_rows,
        | count(*) AS n_custs,
        | CAST(coalesce(max(m), 0) AS BIGINT) AS max_mult FROM rx
        |UNION ALL
        |SELECT 'intersect_all',
        | CAST(coalesce(sum(m), 0) AS BIGINT),
        | count(*),
        | CAST(coalesce(max(m), 0) AS BIGINT) FROM ri
        |ORDER BY op""".stripMargin,
    "q223_cust_order_histogram" ->
      """SELECT c_count, count(*) AS n_cust FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        | GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY c_count""".stripMargin,
    "q218_cube_sales" ->
      """SELECT CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        | coalesce(o_orderstatus, 'ALL') AS status,
        | coalesce(o_orderpriority, 'ALL') AS priority,
        | count(*) AS n_orders,
        | CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_price_e2
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,
    "q17_hourly_events" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
        | count(*) AS n, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type""".stripMargin,
    "q18_string_report" ->
      """SELECT p_brand, upper(substr(p_type,1,8)) AS type_prefix, count(*) AS n,
        | round(max(p_retailprice),2) AS max_price
        |FROM part WHERE p_name LIKE '%blue%' OR p_name LIKE '%green%'
        |GROUP BY p_brand, upper(substr(p_type,1,8))
        |ORDER BY p_brand, type_prefix""".stripMargin,
    "q19_null_audit" ->
      """SELECT coalesce(o_orderstatus,'NONE') AS status, count(*) AS n_rows,
        | count(o_orderkey) AS n_orders,
        | round(coalesce(avg(nullif(o_totalprice, 0.0)), -1.0), 2) AS avg_big_price
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey AND o_totalprice > 450000
        |GROUP BY coalesce(o_orderstatus,'NONE') ORDER BY status""".stripMargin,
    "q20_user_sessions" ->
      """WITH marked AS (
        | SELECT user_id, event_id, epoch_us(ts) AS us,
        |  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800 * 1000000
        |       THEN 1 ELSE 0 END AS is_new
        | FROM events
        | WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        | SELECT user_id, us,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM marked
        |)
        |SELECT user_id, session_id, count(*) AS n_events,
        | min(us) AS start_us, max(us) AS end_us
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin
  )
}
