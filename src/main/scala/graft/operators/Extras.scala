package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.I — extended coverage: geospatial primitives (the
  * reference's domain), JSON/STAC property extraction, as-of join,
  * bucketed range join, the window-function suite, exact group
  * statistics, and sketch-based distinct counting.
  */
object Extras extends QueryModule {

  // ---- synthetic deterministic coordinates (the test tables carry no
  // geo columns; same integer-arithmetic formula on both engines) ----
  // shared with Lake.q157 (the STAC-extent computation must see the SAME
  // synthetic point cloud the cell/bbox/tile family shards)
  private[operators] val lonSql = "CAST((c_custkey * 7919) % 360000 AS DOUBLE) / 1000 - 180"
  private[operators] val latSql = "CAST((c_custkey * 104729) % 170000 AS DOUBLE) / 1000 - 85"
  private def sLon = "CAST((s_suppkey * 7919) % 360000 AS DOUBLE) / 1000 - 180"
  private def sLat = "CAST((s_suppkey * 104729) % 170000 AS DOUBLE) / 1000 - 85"

  /** Geohash-style spatial bucketing: 5°×5° grid cells, occupancy counts.
    * Pure integer/double arithmetic — the partition key a geo lake shards
    * on (geostore's datasets are spatially tiled the same way).
    */
  private def q48(t: Tables): DataFrame =
    t.customer
      .withColumn("lon", expr(lonSql))
      .withColumn("lat", expr(latSql))
      .withColumn("cell_id", expr("CAST(floor((lon + 180) / 5) AS BIGINT) * 100 + CAST(floor((lat + 85) / 5) AS BIGINT)"))
      .groupBy(col("cell_id"))
      // sum, not avg: cell groups are small, and an avg of 2-decimal money
      // can land exactly on a .005 rounding boundary where engine sum order
      // decides the rounded digit; sums of 2-decimal data round stably
      .agg(count(lit(1)).as("n_points"), round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("cell_id"))

  /** Bounding-box filter — the STAC item spatial-extent query
    * (`check_stac_metadata` validates exactly these bbox fields).
    */
  private def q49(t: Tables): DataFrame =
    t.customer
      .withColumn("lon", expr(lonSql))
      .withColumn("lat", expr(latSql))
      .filter(col("lon").between(-30.0, 30.0) && col("lat").between(-20.0, 40.0))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_in_bbox"))
      .orderBy(col("n_name"))

  /** Haversine distance: suppliers × customers within 3000 km. Trig is
    * last-ulp engine-dependent, so outputs round to 3 decimals.
    */
  private def q50(t: Tables): DataFrame = {
    // radians and cos(lat) precompute per SIDE, not per pair: the join
    // evaluates the distance |cust|·|supp| times, so hoisting 5 of the 10
    // trig calls out of the pair expression halves the hot-loop trig.
    // (The oracle mirrors this exact expression tree — FP is not
    // associative, so both engines must build the same tree.)
    val cust = t.customer.select(
      col("c_custkey"),
      expr(s"radians($lonSql)").as("clon_r"),
      expr(s"radians($latSql)").as("clat_r"),
      expr(s"cos(radians($latSql))").as("cos_clat"))
    val supp = t.supplier.select(
      col("s_suppkey"),
      expr(s"radians($sLon)").as("slon_r"),
      expr(s"radians($sLat)").as("slat_r"),
      expr(s"cos(radians($sLat))").as("cos_slat"))
    val hav =
      """2 * 6371 * asin(sqrt(
        |  pow(sin((clat_r - slat_r) / 2), 2) +
        |  cos_slat * cos_clat * pow(sin((clon_r - slon_r) / 2), 2)))""".stripMargin
    // Lossless spatial prejoin: haversine ≥ R·|Δlat|, so a pair > 27° of
    // latitude apart can never be within 3000 km. Banding latitude at 27°
    // and equi-joining (supplier replicated to ±1 band) turns the
    // cartesian BNLJ with an interpreted trig condition into a codegen'd
    // BroadcastHashJoin over ~half the pairs — the exact filter below
    // keeps results identical to the all-pairs formula (and the oracle).
    val bandWidth = 27.0
    val custB = cust.withColumn("band", floor((expr(latSql) + 85) / bandWidth).cast("long"))
    val suppB = supp
      .withColumn("off", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("band", floor((expr(sLat) + 85) / bandWidth).cast("long") + col("off"))
    custB
      .join(broadcast(suppB), Seq("band"))
      // r18: exact Δlat prefilter BEFORE the trig — haversine ≥ R·|Δlat|,
      // so any pair with |Δlat| ≥ 3000/6371 rad (≈ 0.47088) fails
      // dist < 3000 outright; 0.4709 leaves a 0.1 km slack so last-ulp
      // FP noise in either expression can never flip a boundary pair
      // (the band join only bounds Δlat to < 54°, so about half the
      // banded pairs skip the sin/asin/sqrt entirely). Results identical:
      // the predicate is a strict superset of the survivors.
      .filter(abs(col("clat_r") - col("slat_r")) < 0.4709)
      .withColumn("dist_km", expr(hav))
      .filter(col("dist_km") < 3000)
      .groupBy(col("s_suppkey"))
      .agg(count(lit(1)).as("n_within"), round(min(col("dist_km")), 3).as("min_km"))
      .orderBy(col("s_suppkey"))
  }

  /** JSON property extraction — STAC items/collections are JSON documents;
    * geostore's validators read typed properties out of them
    * (`check_stac_metadata/utils.py`). events.props is the JSON column.
    */
  private def q51(t: Tables): DataFrame =
    t.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        round(avg(col("k")), 2).as("avg_k"),
        countDistinct(col("k")).as("n_distinct_k"))
      .orderBy(col("event_type"))

  /** As-of join: for each purchase, the most recent prior click of the
    * same user — the point-in-time feature join every training pipeline
    * needs. Implemented as union+window (one shuffle on user_id), the
    * formulation that scales; a sort-merge per key would shuffle twice.
    */
  private def q52(t: Tables): DataFrame = {
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.events
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("last_click_us", max(when(col("event_type") === "click", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .select(
        col("user_id"),
        col("event_id").as("purchase_id"),
        col("us").as("purchase_us"),
        coalesce(col("last_click_us"), lit(-1L)).as("last_click_us"))
      .orderBy(col("user_id"), col("purchase_id"))
  }

  /** Attribution-window sweep (new r12 — the q114/q116 sweep discipline
    * applied to q52/q73's as-of attribution: BEFORE a pipeline fixes the
    * 30-minute click→purchase window, this table prices every candidate
    * — too narrow loses real conversions, too wide claims coincidences):
    * per window arm {5 m, 30 m, 2 h}, purchases attributed to a prior
    * same-user click, the share, and the median click→purchase gap among
    * the attributed. The per-purchase latest-prior-click is
    * window-INDEPENDENT (q52's one as-of pass), so the whole sweep costs
    * one q52: one user-keyed shuffle, a 3-arm map-side explode, a
    * |arms|-row rollup. Gaps stay integer µs until the final rounded
    * seconds (q134's discipline, `percentile` ≡ `quantile_cont` parity).
    */
  private def q148(t: Tables): DataFrame = {
    val armsUs = Seq(300L, 1800L, 7200L).map(_ * 1000000L)
    val w = Window
      .partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.events
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), col("event_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("last_click_us", max(when(col("event_type") === "click", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("gap_us", col("us") - col("last_click_us"))
      .select(
        col("gap_us"),
        explode(array(armsUs.map(lit(_)): _*)).as("window_us"))
      .withColumn(
        "attributed", col("gap_us").isNotNull && col("gap_us") <= col("window_us"))
      .groupBy((col("window_us") / 1000000L).cast("long").as("window_s"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(when(col("attributed"), 1L).otherwise(0L)).as("n_attributed"),
        round(
          sum(when(col("attributed"), 1L).otherwise(0L)) / count(lit(1)), 4).as("attr_share"),
        round(
          expr("percentile(CASE WHEN attributed THEN gap_us END, 0.5)") / 1000000.0, 2)
          .as("p50_gap_s"))
      .orderBy(col("window_s"))
  }

  /** Bucketed range join (see RangeJoin): orders priced into quadratic
    * price bands via bucket equi-join instead of a nested-loop BETWEEN.
    */
  private def q53(t: Tables): DataFrame = {
    val spark = t.spark
    val bands = spark
      .range(0, 20)
      .select(
        col("id").as("band"),
        (col("id") * col("id") * 2000).as("lo"),
        ((col("id") + 1) * (col("id") + 1) * 2000).as("hi"))
    RangeJoin
      .bucketed(t.orders, col("o_totalprice"), bands, col("lo"), col("hi"), 25000L)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy(col("band"))
  }

  /** Window-function suite: lead/lag/ntile/percent_rank/first/last over
    * one partitioning — all share a single shuffle+sort.
    */
  private def q54(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t.orders
      .select(
        col("o_custkey"),
        col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        first(col("o_orderkey")).over(wFull).as("first_order"),
        last(col("o_orderkey")).over(wFull).as("last_order"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** Exact group statistics: interpolated percentiles, sample stddev. */
  private def q55(t: Tables): DataFrame =
    t.customer
      .groupBy(col("c_mktsegment"))
      .agg(
        round(expr("percentile(c_acctbal, 0.5)"), 4).as("p50"),
        round(expr("percentile(c_acctbal, 0.95)"), 4).as("p95"),
        round(stddev_samp(col("c_acctbal")), 4).as("sd"),
        round(min(col("c_acctbal")), 2).as("lo"),
        round(max(col("c_acctbal")), 2).as("hi"))
      .orderBy(col("c_mktsegment"))

  /** Sketch-based distinct counting: HLL approx vs exact, asserted within
    * 10% — the only cross-engine-stable way to oracle-check an approx
    * aggregate (the sketches themselves differ by implementation).
    */
  private def q56(t: Tables): DataFrame =
    t.events
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id")).as("approx"))
      .select(
        col("event_type"),
        col("n_exact"),
        (abs(col("approx") - col("n_exact")) <= col("n_exact") * 0.1).as("approx_ok"))
      .orderBy(col("event_type"))

  /** Pivot: long→wide reshape (`.pivot()` with explicit values so the
    * plan avoids the extra distinct-values job).
    */
  private def q59(t: Tables): DataFrame =
    t.orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(round(sum(col("o_totalprice")), 2))
      .orderBy(col("o_orderpriority"))

  /** Typed Aggregator UDAF (functions.GeoMean): geometric mean of order
    * value per priority — partial-aggregable custom aggregation.
    */
  private def q60(t: Tables): DataFrame = {
    val geoMean = udaf(graft.functions.GeoMean)
    t.orders
      .groupBy(col("o_orderpriority"))
      .agg(round(geoMean(col("o_totalprice")), 4).as("geo_price"), count(lit(1)).as("n"))
      .orderBy(col("o_orderpriority"))
  }

  /** Deterministic train/val/test split assignment — hash-mod bucketing
    * (Knuth multiplicative) so the split is stable across runs, machines,
    * and engines; THE way a 100 TB corpus gets split without a shuffle or
    * a random seed dependency. 80/10/10 per dataset.
    */
  /** Ordered-stage conversion funnel over the event stream: view →
    * click-after-view → purchase-after-click, each stage's timestamp the
    * user's FIRST qualifying event strictly after the prior stage (the
    * sequence-pattern query behind product funnels; geostore's analog is
    * the import state machine's stage progression, q57). Three chained
    * per-user window minima share ONE user_id shuffle (each references
    * the previous stage's column, so Catalyst stacks the Window nodes on
    * the same partitioning), and the rollup is a global single-row
    * summary. Time math in integer microseconds end to end — sums stay
    * below 2^53, so cross-engine double aggregation is exact.
    */
  private def q96(t: Tables): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
    val staged = t.events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .withColumn("t1", min(when(col("event_type") === "view", col("us"))).over(byUser))
      .withColumn(
        "t2",
        min(when(col("event_type") === "click" && col("us") > col("t1"), col("us"))).over(byUser))
      .withColumn(
        "t3",
        min(when(col("event_type") === "purchase" && col("us") > col("t2"), col("us"))).over(byUser))
    staged
      .groupBy(col("user_id"))
      .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("t1").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("n_click"),
        sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("n_purchase"),
        round(avg(col("t3") - col("t1")) / 1000000.0, 2).as("avg_secs_to_convert"))
      .withColumn("conv_rate", round(col("n_purchase") / col("n_view"), 4))
  }

  /** Weekly retention-cohort matrix over the event stream — the engagement
    * governance readout next to q96's funnel: cohort = ISO week (Monday
    * truncation, identical in both engines) of a user's FIRST event; cell
    * (cohort, k) = distinct users active k weeks later, with retention as
    * the share of the cohort. Scale shape: the corpus-scale pass is ONE
    * partial-aggregable min per user (first touch); events re-join the
    * first-touch relation user-keyed — the same key a 100 TB event lake
    * would bucket by, so on bucketed storage the join is exchange-free;
    * the matrix aggregate runs after a (cohort, offset, user) distinct
    * (|users|·|weeks active| rows, far below event volume); cohort sizes
    * are a |cohorts|-row broadcast. Week offsets are exact date-integer
    * arithmetic (both sides are Mondays, so the day delta is an exact
    * multiple of 7) — no float anywhere until the final rounded ratio.
    */
  private def q119(t: Tables): DataFrame = {
    val ev = t.events
      .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
    val first = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort"))
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    ev.join(first, Seq("user_id"))
      .select(
        col("cohort"),
        (datediff(col("wk"), col("cohort")) / 7).cast("long").as("offset_weeks"),
        col("user_id"))
      .distinct()
      .groupBy(col("cohort"), col("offset_weeks"))
      .agg(count(lit(1)).as("n_active"))
      .join(broadcast(sizes), Seq("cohort"))
      .withColumn("retention", round(col("n_active") / col("cohort_size"), 4))
      .select(
        col("cohort"), col("offset_weeks"), col("n_active"),
        col("cohort_size"), col("retention"))
      .orderBy(col("cohort"), col("offset_weeks"))
  }

  /** Balanced per-source cap — the "no source dominates" curation step: at
    * most 15 documents survive per source, selected by the
    * q64 seedless Knuth hash (deterministic, engine-stable, no RNG state),
    * with yield accounting per source. Selection runs on the bounded
    * bottom-k Aggregator ([[graft.functions.BottomK]]), NOT a per-source
    * window: a `Window.partitionBy(source)` would hash the whole corpus
    * into |sources| reducers (a handful, AQE-unsplittable), while the
    * typed aggregate partial-merges size-k buffers map-side — every map
    * task reduces its slice to ≤k candidate rows before the one
    * source-keyed shuffle, which also carries the count/char rollup.
    * That IS how a 1000-executor ingest caps each source's stream.
    *
    * Id-domain safety: ids pre-fold through `% 2147483647` (Mersenne
    * prime 2^31−1) before the Knuth product, so the multiply stays in
    * int64 for EVERY non-negative int64 id — no engine divergence
    * (Spark-ANSI and DuckDB both raise on overflow; non-ANSI Spark
    * silently wraps). The fold is the identity below 2^31, so hashes at
    * test scale are unchanged; CorpusAuditSpec pins the folded hash at
    * id = 2^33.
    */
  private def q94(t: Tables): DataFrame = {
    val k = 15
    val sel = graft.functions.BottomK.agg(k, distinctK1 = false)(
      col("h"), col("doc_id"), col("n_chars").cast("long"))
    t.documents
      .select(col("doc_id").cast("long").as("doc_id"), col("source"), col("n_chars"))
      .withColumn("h", expr("((doc_id % 2147483647) * 2654435761) % 4294967296"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sel.as("sel"),
        sum(col("n_chars")).as("total_chars"))
      .select(
        col("source"), col("n_docs"),
        size(col("sel.items")).cast("long").as("n_kept"),
        expr("aggregate(sel.items, CAST(0 AS BIGINT), (acc, x) -> acc + x.v)")
          .as("kept_chars"),
        col("total_chars"))
      .orderBy(col("source"))
  }

  /** Temporal train/val/test split over the event stream — the
    * time-ordered counterpart of q103's id-hash split: event data must
    * split by TIME (train on the past, evaluate on the future), or the
    * eval window leaks signal that postdates the training cut. Cutoffs
    * are the exact interpolated p80/p90 of event time — ONE single-row
    * aggregate, broadcast onto the stream (q15's scalar pattern); every
    * event classifies by two ≤-comparisons map-side; the per-split
    * report (volume, distinct users, event-time envelope, purchase mix)
    * is one split-keyed rollup. At 100 TB swap the exact percentile for
    * `approx_percentile` (q91's conf discipline); everything else is
    * already the scale shape.
    */
  private def q112(t: Tables): DataFrame = {
    val e = t.events
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val cuts = e.agg(
      expr("percentile(us, 0.8)").as("p80"),
      expr("percentile(us, 0.9)").as("p90"))
    e.join(broadcast(cuts))
      .withColumn(
        "split",
        when(col("us") <= col("p80"), "train")
          .when(col("us") <= col("p90"), "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("us")).as("us_min"),
        max(col("us")).as("us_max"),
        round(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) / count(lit(1)),
          4).as("purchase_share"))
      .orderBy(col("split"))
  }

  private def q64(t: Tables): DataFrame =
    t.documents
      .withColumn("h", expr("((doc_id % 2147483647) * 2654435761) % 100"))
      .withColumn(
        "split",
        when(col("h") < 80, "train").when(col("h") < 90, "val").otherwise("test"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars_total"))
      .orderBy(col("source"), col("split"))

  /** Priority sampling with the threshold subset-sum estimator
    * (Duffield, Lund & Thorup 2007 JACM; Szegedy 2006 proved the scheme
    * variance-optimal): draw ONE size-k weight-proportional sample of
    * the corpus (weight = n_chars) and answer per-source total-chars
    * questions from the sample alone via ŵᵢ = max(wᵢ, τ), τ = the
    * (k+1)-th priority — the machinery a 100 TB pipeline uses to answer
    * arbitrary-stratum size questions from one fixed sample instead of
    * a corpus scan per question. Reported per source: exact total (the
    * audit baseline a deployment would NOT pay for), the sample
    * estimate, and the relative error (e6).
    *
    * Exactness: priorities are seedless integers — uᵢ =
    * Knuth-hash(doc_id) in [1, 2^20] (q64's hash), pᵢ = (wᵢ·2^20) DIV uᵢ
    * ≈ wᵢ/(uᵢ/2^20), i.e. the priority is ALREADY in weight units — so
    * both engines draw the identical sample and every estimate is an
    * exact long in chars; only err_e6 quantizes (half-up). Scale shape:
    * the sample is
    * TakeOrderedAndProject (per-partition top-(k+1) then a k-bounded
    * driver merge — NO corpus shuffle, NO corpus-wide window; the τ pick
    * and the exclusion of the (k+1)-th row are 1-row/k-row operations on
    * the already-bounded relation); the only corpus-scale exchange is
    * the per-source exact rollup the audit compares against.
    */
  private def q275(t: Tables): DataFrame = {
    val k = 100
    val docs = t.documents.select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("w"))
      .withColumn("u", expr("((doc_id % 2147483647) * 2654435761) % 1048576 + 1"))
      .withColumn("p", expr("(w * 1048576) DIV u"))
    val top = docs.orderBy(col("p").desc, col("doc_id")).limit(k + 1)
    // the (k+1)-th row under the sample's total order: its priority is τ,
    // and it is excluded from the sample itself
    val tauRow = top.orderBy(col("p"), col("doc_id").desc).limit(1)
      .select(col("p").as("tau"), col("doc_id").as("excl_id"))
    // p = w·2^20 DIV u ≈ w / (u/2^20) is ALREADY in weight units, so the
    // threshold estimate is max(w, τ) directly — integer chars, no rescale
    val perSrc = top.crossJoin(broadcast(tauRow))
      .filter(col("doc_id") =!= col("excl_id"))
      .withColumn("est", greatest(col("w"), col("tau")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("est")).as("est_sum"))
    t.documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("exact_chars"))
      .join(perSrc, Seq("source"), "left")
      .withColumn("n_sampled", coalesce(col("n_sampled"), lit(0L)))
      .withColumn("est_chars", coalesce(col("est_sum"), lit(0L)))
      .withColumn("err_e6", expr(
        "(2 * 1000000 * abs(est_chars - exact_chars) + exact_chars) " +
          "DIV (2 * exact_chars)"))
      .select(col("source"), col("n_docs"), col("n_sampled"),
        col("exact_chars"), col("est_chars"), col("err_e6"))
      .orderBy(col("source"))
  }

  /** Selectivity-estimation audit: equi-width vs equi-depth histograms
    * (Piatetsky-Shapiro & Connell 1984 established the equi-depth
    * advantage; every cost-based optimizer since System R carries one of
    * the two) — build BOTH 8-bucket histograms over the event-value
    * domain, answer a fixed grid of range predicates from each by the
    * uniform-within-bucket assumption, and compare against exact counts:
    * the table that says which statistics object a 100 TB optimizer
    * should maintain for THIS column — measured, not presupposed: on
    * this smooth exponential-decay density equi-WIDTH wins (probed 5.5×
    * lower total error at sf0.001), because equi-depth's mass-balanced
    * tail bucket spans half the value range and the uniform assumption
    * collapses for narrow tail predicates; on point-skew columns the
    * verdict flips — which is exactly why the audit exists.
    *
    * Exactness: values collapse to the whole-unit cell DOMAIN first
    * (value-bounded, q194's class), so bucket assignment, overlap
    * lengths and counts are exact longs; each bucket's interpolated
    * contribution is ONE half-up e6 division, summed. Scale shape: ONE
    * corpus-scale exchange (the cell rollup); the cum window, bucket
    * summaries, the |preds|×|buckets| estimation grid and the
    * |preds|×|cells| truth join all ride the bounded cell domain.
    */
  private def q283(t: Tables): DataFrame = {
    val b = 8
    val h = t.events.select(expr("CAST(floor(value) AS BIGINT)").as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("cnt"))
    val w = Window.orderBy(col("cell")).rowsBetween(Window.unboundedPreceding, 0)
    val hc = h.withColumn("cum", sum(col("cnt")).over(w))
    val tot = hc.agg(max(col("cum")).as("n"),
      min(col("cell")).as("vmin"), max(col("cell")).as("vmax"))
    val cells = hc.crossJoin(broadcast(tot))
      .withColumn("bw",
        expr(s"least((cell - vmin) DIV ((vmax - vmin) DIV $b + 1), ${b - 1})"))
      .withColumn("bd", expr(s"least(((cum - cnt) * $b) DIV n, ${b - 1})"))
    val buckets = cells
      .select(lit("equi_width").as("method"), col("bw").as("bk"), col("cell"), col("cnt"))
      .unionByName(cells
        .select(lit("equi_depth").as("method"), col("bd").as("bk"), col("cell"), col("cnt")))
      .groupBy(col("method"), col("bk"))
      .agg(min(col("cell")).as("lo"), max(col("cell")).as("hi"),
        sum(col("cnt")).as("bcnt"))
    val predDf = t.spark.range(6).select(col("id").as("pid"),
      (col("id") * 50L).as("a"), (col("id") * 50L + 75L).as("bnd"))
    val est = buckets.crossJoin(broadcast(predDf))
      .withColumn("ovl", expr("greatest(0L, least(hi + 1, bnd) - greatest(lo, a))"))
      .withColumn("term", expr(
        "(2 * 1000000 * ovl * bcnt + (hi - lo + 1)) DIV (2 * (hi - lo + 1))"))
      .groupBy(col("method"), col("pid"), col("a"), col("bnd"))
      .agg(sum(col("term")).as("est_e6"))
    val truth = h.crossJoin(broadcast(predDf))
      .filter(col("cell") >= col("a") && col("cell") < col("bnd"))
      .groupBy(col("pid")).agg(sum(col("cnt")).as("actual"))
    est.join(truth, Seq("pid"), "left")
      .withColumn("actual", coalesce(col("actual"), lit(0L)))
      .withColumn("abs_err_e6", abs(col("est_e6") - col("actual") * 1000000L))
      .select(col("method"), col("pid"), col("a").as("lo_v"), col("bnd").as("hi_v"),
        col("actual"), col("est_e6"), col("abs_err_e6"))
      .orderBy(col("method"), col("pid"))
  }

  /** Experiment-sizing table: minimum detectable effect + required
    * sample size per metric segment (the standard two-sample power
    * formula, e.g. Kohavi et al.'s "Trustworthy Online Controlled
    * Experiments" ch. 17: MDE = (z_{α/2}+z_β)·√(2σ²/n) at α=0.05,
    * power=0.8) — the table an experimentation platform computes from
    * production data BEFORE any A/B test runs: per event type, the
    * user-level metric's n/mean/variance, the absolute and relative MDE
    * at the current population, and the users-per-arm needed to detect
    * a 10% lift. (A CUPED variance-reduction twin was probed and ruled
    * out on this corpus: pre/post per-entity correlation is ≈ 0.01–0.1
    * for both events and orders — no persistence, nothing to reduce.)
    *
    * Exactness: the per-user metric quantizes half-up to WHOLE value
    * units (deliberately coarser than the usual e2 — keeps n·Σx² inside
    * long range out to corpus scale), so n/Σx/Σx² are exact longs and
    * the variance numerator n·Σx²−(Σx)² is an exact long; only the
    * final MDE/required-n step takes ONE √ of a double built from those
    * longs (IEEE-correctly-rounded in both engines — q65's sqrt
    * precedent), then quantizes. Scale shape: one (event_type, user)
    * rollup, one |types| rollup — both partial-aggregable; nothing else.
    */
  private def q284(t: Tables): DataFrame = {
    // z_{0.025} + z_{0.2} = 1.9600 + 0.8416; every fractional literal is
    // an explicit DOUBLE on both engines (a bare 2.8016 parses as
    // DECIMAL in each, with engine-specific scale rules)
    val z = "CAST(2.8016 AS DOUBLE)"
    t.events.filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v"))
      .groupBy(col("event_type"), col("user_id"))
      .agg(expr("(2 * sum(v) + 100) DIV 200").as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2)
      .withColumn("mean_e2", expr("(2 * 100 * sx + n) DIV (2 * n)"))
      .withColumn("var_num", expr("n * sxx - sx * sx"))
      .withColumn("mde_abs_e2", expr(
        s"CAST(floor($z * sqrt(CAST(2 AS DOUBLE) * var_num / (n * (n - CAST(1 AS DOUBLE))) / n) " +
          s"* 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      .withColumn("mde_rel_e4", expr(
        "(2 * 10000 * mde_abs_e2 + mean_e2) DIV (2 * mean_e2)"))
      .withColumn("n_per_arm_10pct", expr(
        s"CAST(ceil(CAST(2 AS DOUBLE) * $z * $z * (var_num / (n * (n - CAST(1 AS DOUBLE)))) " +
          s"/ ((CAST(0.1 AS DOUBLE) * sx / n) * (CAST(0.1 AS DOUBLE) * sx / n))) AS BIGINT)"))
      .select(col("event_type"), col("n"), col("mean_e2"), col("mde_abs_e2"),
        col("mde_rel_e4"), col("n_per_arm_10pct"))
      .orderBy(col("event_type"))
  }

  /** Column-profile summary — the Deequ/Great-Expectations-style
    * profiling table (Schelter et al. 2018, "Automating large-scale data
    * quality verification") a data platform computes on ingest, and the
    * input its constraint-suggestion step reads: for every orders
    * column, row/null/distinct counts, the uniqueness and constancy
    * verdicts, the modal value with its share, and the value-distribution
    * entropy — one pass tells you which columns are keys (entropy =
    * ln n, unique), which are enums (tiny distinct set), and which are
    * degenerate (constant).
    *
    * Engine parity: every column renders through an EXPLICIT string
    * encoding (keys via integer cast, the date via its yyyy-MM-dd
    * format, the price via e2 integer cast) — never a raw double/
    * timestamp cast, whose formatting differs between engines. Entropy
    * terms c·ln c quantize e6 PER VALUE GROUP then sum as longs
    * (float-order rule; one ln of an exact integer per group — q102's
    * discipline). Scale shape: the 6-arm explode collapses map-side
    * into ONE (column, value) rollup; per-column summaries, modal picks
    * and the entropy fold ride the distinct-value relations.
    */
  private def q287(t: Tables): DataFrame = {
    val cols = Seq(
      "o_orderkey" -> "CAST(o_orderkey AS STRING)",
      "o_custkey" -> "CAST(o_custkey AS STRING)",
      "o_orderstatus" -> "o_orderstatus",
      "o_orderpriority" -> "o_orderpriority",
      "o_orderdate" -> "date_format(o_orderdate, 'yyyy-MM-dd')",
      "o_totalprice" -> "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)")
    columnProfile(t.orders.select(explode(map(
      cols.flatMap { case (n, e) => Seq(lit(n), expr(e)) }: _*)).as(Seq("column", "value"))))
  }

  /** q287's per-column fold over stacked (column, value) pairs.
    *
    * r18: the modal pick rides the SAME per-column aggregate as the
    * summary — min(struct(-c, value)) over the non-null values is exactly
    * the old row_number-over-(c DESC, value ASC) = 1 winner (struct
    * order: largest count, then smallest value) ONLY when the column has
    * no nulls: the window ranked a null value group too (nulls first),
    * the fold never does. q287's six columns are non-null by
    * construction; a column holding nulls fails the query loudly instead
    * of silently profiling a different modal value. The fold drops the
    * window's exchange+sort and the 6-row join — one (column, value)
    * rollup, one per-column fold, nothing else.
    */
  private[graft] def columnProfile(stacked: DataFrame): DataFrame = {
    val vals = stacked.groupBy(col("column"), col("value")).agg(count(lit(1)).as("c"))
    val summary = vals
      .withColumn("t_e6", expr(
        "CASE WHEN value IS NULL THEN 0L " +
          "ELSE CAST(floor(1000000 * c * ln(c) + CAST(0.5 AS DOUBLE)) AS BIGINT) END"))
      .groupBy(col("column"))
      .agg(sum(col("c")).as("n"),
        sum(when(col("value").isNull, col("c")).otherwise(0L)).as("n_null"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("n_distinct"),
        sum(col("t_e6")).as("sum_clnc_e6"),
        min(when(col("value").isNotNull,
          struct((-col("c")).as("neg_c"), col("value").as("value")))).as("top"))
    summary
      .withColumn("top_value", when(col("n_null") > 0, raise_error(concat(
        lit("q287 modal fold: column '"), col("column"),
        lit("' holds nulls; the fold is exact only over non-null columns"))))
        .otherwise(col("top.value")))
      .withColumn("top_c", -col("top.neg_c"))
      .drop("top")
      .withColumn("nn", col("n") - col("n_null"))
      .withColumn("is_unique", col("n_distinct") === col("nn") && col("n_null") === 0)
      .withColumn("is_constant", col("n_distinct") === 1)
      .withColumn("top_share_e6", expr("(2 * 1000000 * top_c + nn) DIV (2 * nn)"))
      .withColumn("entropy_e6", expr(
        "CAST(floor(1000000 * ln(nn) + CAST(0.5 AS DOUBLE)) AS BIGINT) " +
          "- (2 * sum_clnc_e6 + nn) DIV (2 * nn)"))
      .select(col("column"), col("n"), col("n_null"), col("n_distinct"),
        col("is_unique"), col("is_constant"), col("top_value"),
        col("top_share_e6"), col("entropy_e6"))
      .orderBy(col("column"))
  }

  /** Weighted corpus mixing: per-source sampling rates applied via the
    * same seedless hash — up-weight the `src1*` family to 100%, keep the
    * rest at 40%. The mixing step of every multi-source training run,
    * shuffle-free and reproducible.
    */
  private def q65(t: Tables): DataFrame =
    t.documents
      .withColumn("h", expr("((doc_id % 2147483647) * 2654435761) % 100"))
      .withColumn("rate", when(col("source").like("src1%"), 100).otherwise(40))
      .withColumn("kept", col("h") < col("rate"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_sampled"),
        max(col("rate")).as("rate_pct"))
      .orderBy(col("source"))

  /** Temperature-sampling mix table — the source re-weighting plan every
    * multilingual/multi-source pretraining run computes before q65
    * applies rates (Arivazhagan et al. 2019's temperature sampling;
    * UniMax is the T→∞ end): target share ∝ size^(1/T) for
    * T ∈ {1, 2, ∞} — natural, square-root-flattened, uniform — with the
    * implied per-source epoch count (target mass / natural mass, the
    * repeat factor low-resource sources pay). Weights are kept
    * integer-exact per engine-parity discipline: size^(1/T) is rendered
    * as chars / round(sqrt(chars)) / 1 — IEEE sqrt is correctly rounded
    * in both engines and the round makes it an exact BIGINT, so share
    * sums are integer arithmetic and only the final share/epoch
    * divisions quantize (round 4).
    *
    * Scale shape: ONE source-keyed rollup off the scan; the T explode,
    * per-T weight totals, and shares all run on the |T|·|sources|-row
    * metadata relation (a window over ≤ 3·|sources| rows, partitioned
    * by T).
    */
  private def q128(t: Tables): DataFrame = {
    val bySrc = t.documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast("long").as("chars"))
    val byT = Window.partitionBy(col("t_label"))
    bySrc
      .select(
        col("source"), col("n_docs"), col("chars"),
        explode(array(
          struct(lit("T=1").as("t_label"), col("chars").as("w")),
          struct(lit("T=2").as("t_label"),
            round(sqrt(col("chars").cast("double"))).cast("long").as("w")),
          struct(lit("T=inf").as("t_label"), lit(1L).as("w")))).as("tw"))
      .select(col("source"), col("n_docs"), col("chars"),
        col("tw.t_label").as("t_label"), col("tw.w").as("w"))
      .withColumn("natural_share", round(col("chars") / sum(col("chars")).over(byT), 4))
      .withColumn("target_share", round(col("w") / sum(col("w")).over(byT), 4))
      // products through DOUBLE in both engines: long×long would wrap in
      // Spark (non-ANSI) but raise in DuckDB once w·Σchars passes int64 —
      // the q94 id-domain divergence class; double is deterministic and
      // unbounded here, and the output quantizes to 4 anyway
      .withColumn(
        "epochs",
        round(
          (col("w").cast("double") * sum(col("chars")).over(byT).cast("double"))
            / (sum(col("w")).over(byT).cast("double") * col("chars").cast("double")),
          4))
      .select(
        col("t_label"), col("source"), col("n_docs"), col("chars"),
        col("natural_share"), col("target_share"), col("epochs"))
      .orderBy(col("t_label"), col("source"))
  }

  /** Per-event-type user-concentration audit (new r12 — the Pareto
    * readout next to q119's cohorts and q125's streaks): how much of each
    * event type's volume the top decile of its users generates. A
    * concentration shift is the canary for bot traffic, scraper storms,
    * or a power-user feature change — the governance readout consulted
    * before per-user event data feeds training.
    *
    * Scale shape: the corpus-scale pass is the partial-aggregable
    * (event_type, user) count — output |users|·|types| ≪ event volume.
    * The decile rank is an ntile window over that AGG table, partitioned
    * by type: each partition holds |users active in that type| rows (the
    * residual skew point at billions of users — swap the exact ntile for
    * an `approx_percentile` count cutoff per q91's conf discipline when
    * the per-type user set outgrows a partition); integer sums end to
    * end, one final rounded division.
    */
  private def q133(t: Tables): DataFrame = {
    val perUser = t.events
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("n").desc, col("user_id"))
    perUser
      .withColumn("tile", ntile(10).over(w))
      .groupBy(col("event_type"))
      .agg(
        sum(col("n")).as("n_events"),
        count(lit(1)).as("n_users"),
        sum(when(col("tile") === 1, col("n")).otherwise(0L)).as("top_decile_events"))
      .withColumn("top_decile_share", round(col("top_decile_events") / col("n_events"), 4))
      .orderBy(col("event_type"))
  }

  /** Supplier-concentration HHI per nation (the Herfindahl–Hirschman
    * index antitrust and supply-chain risk reads; Rhoades 1993): per
    * supplier nation, each supplier's share of the nation's lineitem
    * volume, HHI = Σ shareᵢ² in e6 units plus the single largest share.
    * HHI → 1e6/n is a balanced supplier pool; → 1e6 is single-supplier
    * dependence — the fragility table a 100 TB procurement lake rolls up
    * before anything downstream trusts "many suppliers" as redundancy.
    * Next to q133's top-decile event concentration this is the exact
    * (not decile-binned) concentration functional, on the retail axis.
    *
    * Integer-exact: counts only, Σc² and the two half-up divisions —
    * no transcendental, no float. Scale shape: one corpus-scale
    * partial-aggregable (nation, supplier) count (the fact table's
    * natural pre-agg), a |suppliers|-row rollup, and two broadcast dims.
    * Σc² ≤ (Σc)² overflows 2⁶³ once a nation holds ~3·10⁹ lineitems,
    * so the squares run in DECIMAL (q163's guard pattern).
    */
  /** Theil-T inequality decomposition (Theil 1967; the decomposition
    * treatment in Shorrocks 1980) — the inequality index whose
    * BETWEEN/WITHIN split is exactly additive, which is why economists
    * use it over Gini for group attribution (q133/q173 measure
    * concentration; this says WHERE the inequality lives): customer
    * revenue inequality per nation — each nation's population/income
    * share, its own within-group Theil, its between-group term — plus
    * the global index and both components on every row; T = between +
    * within holds exactly by residual construction and the spec pins
    * the closed-form Σ s_g·T_g against the residual.
    *
    * Exactness: every term is ONE ln of a ratio of exact integer
    * products ((x·N/Σx)·ln(x·N/Σx) from e2 revenue longs), quantized e9
    * PER CUSTOMER/GROUP then summed as longs (float-order rule, q102's
    * discipline); means are half-up divisions. Scale shape: one
    * customer-revenue rollup (corpus-scale), nation broadcast onto it,
    * group + 1-row global rollups; |nations|-bounded after.
    */
  private def q289(t: Tables): DataFrame = {
    val cust = t.orders
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("x"))
      .filter(col("x") > 0)
      .join(broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("x"))
    val glob = cust.agg(count(lit(1)).as("n_all"), sum(col("x")).as("sx_all"))
    val grp = cust.groupBy(col("nation"))
      .agg(count(lit(1)).as("n_g"), sum(col("x")).as("sx_g"))
    // per-customer terms against the GLOBAL and the GROUP mean, each one
    // ln of exact-integer ratios, quantized e9 before summing
    val terms = cust.crossJoin(broadcast(glob)).join(broadcast(grp), Seq("nation"))
      .withColumn("t_glob_e9", expr(
        "CAST(floor(1000000000 * (CAST(x AS DOUBLE) * n_all / sx_all) " +
          "* ln(CAST(x AS DOUBLE) * n_all / sx_all) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      .withColumn("t_grp_e9", expr(
        "CAST(floor(1000000000 * (CAST(x AS DOUBLE) * n_g / sx_g) " +
          "* ln(CAST(x AS DOUBLE) * n_g / sx_g) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
    val perGroup = terms.groupBy(col("nation"))
      .agg(max(col("n_g")).as("n_cust"), max(col("sx_g")).as("sx_g"),
        sum(col("t_glob_e9")).as("sum_glob"), sum(col("t_grp_e9")).as("sum_grp"))
      .crossJoin(broadcast(glob))
      .withColumn("share_e6", expr("(2 * 1000000 * sx_g + sx_all) DIV (2 * sx_all)"))
      .withColumn("theil_g_e9", expr("(2 * sum_grp + n_cust) DIV (2 * n_cust)"))
      .withColumn("between_term_e9", expr(
        "CAST(floor(1000000000 * (CAST(sx_g AS DOUBLE) / sx_all) " +
          "* ln(CAST(sx_g AS DOUBLE) * n_all / (CAST(sx_all AS DOUBLE) * n_cust)) " +
          "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"))
    val totals = perGroup
      .agg(sum(col("sum_glob")).as("sg"), max(col("n_all")).as("na"),
        sum(col("between_term_e9")).as("between_e9"))
      .withColumn("theil_e9", expr("(2 * sg + na) DIV (2 * na)"))
      .withColumn("within_e9", col("theil_e9") - col("between_e9"))
      .select(col("theil_e9"), col("between_e9"), col("within_e9"))
    perGroup
      .crossJoin(broadcast(totals))
      .select(col("nation"), col("n_cust"), col("share_e6"), col("theil_g_e9"),
        col("between_term_e9"), col("theil_e9"), col("between_e9"), col("within_e9"))
      .orderBy(col("nation"))
  }

  private def q173(t: Tables): DataFrame = {
    val big: Column => Column = _.cast("decimal(19,0)")
    t.lineitem
      .select(col("l_suppkey"))
      .join(
        broadcast(t.supplier.select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"), col("s_suppkey"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_suppliers"),
        sum(col("c")).as("n_items"),
        sum(big(col("c")) * big(col("c"))).as("sq"),
        max(col("c")).as("top_c"))
      .join(
        broadcast(t.nation.select(col("n_nationkey"), col("n_name"))),
        col("s_nationkey") === col("n_nationkey"))
      .withColumn(
        "hhi_e6",
        expr("CAST((2 * 1000000 * sq + n_items * n_items) DIV (2 * n_items * n_items) AS BIGINT)"))
      .withColumn("top_share_e4", expr("(2 * 10000 * top_c + n_items) DIV (2 * n_items)"))
      .select(
        col("n_name").as("nation"), col("n_suppliers"), col("n_items"),
        col("hhi_e6"), col("top_share_e4"))
      .orderBy(col("nation"))
  }

  /** Inter-event idle-gap distribution (new r12 — the latency-shaped
    * companion of q20's gap sessionization: the same lag gaps, profiled
    * instead of thresholded): for each event, the time since its user's
    * previous activity, rolled up per the ARRIVING event's type — exact
    * interpolated p50/p95/max idle seconds. The table that tells an
    * engagement stack what session timeout (q20's 30 min) and watermark
    * delay (q83's) the data actually justifies.
    *
    * Scale shape: ONE user-keyed shuffle carries the lag window (the key
    * a 100 TB event lake buckets by — exchange-free on bucketed storage);
    * gaps stay integer µs until the final divide-and-round; the rollup is
    * |types|-row. Exact `percentile` over the per-type gap multiset is the
    * q55 parity pair (DuckDB `quantile_cont`); swap `approx_percentile`
    * per q91's conf discipline at extreme gap volumes.
    */
  private def q134(t: Tables): DataFrame = {
    val e = t.events.select(
      col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    e.withColumn("prev", lag(col("us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("gap_us", col("us") - col("prev"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_gaps"),
        round(expr("percentile(gap_us, 0.5)") / 1000000.0, 2).as("p50_s"),
        round(expr("percentile(gap_us, 0.95)") / 1000000.0, 2).as("p95_s"),
        round(max(col("gap_us")) / 1000000.0, 2).as("max_s"))
      .orderBy(col("event_type"))
  }

  /** Join-key skew audit — the salting/AQE-skew-split planning table for
    * the relational star (q180's readout, on the JOIN axis instead of
    * the LSH buckets): for each fact-side join key, distinct keys, max
    * and exact-p99 multiplicity, and the hottest key's share (e6). A
    * max/p99 ratio ≫ 1 is the key that stalls a 1000-executor
    * sort-merge join until it is salted or AQE-split; flat multiplicity
    * means plain co-partitioning wins. Each branch is one corpus-scale
    * key count (partial map-side) + a key-table-bounded rollup (exact
    * `percentile` over the multiplicity multiset — the q55/q134 DuckDB
    * `quantile_cont` parity pair); 4 rows out.
    */
  private def q182(t: Tables): DataFrame = {
    def branch(name: String, rel: DataFrame, key: Column): DataFrame =
      rel.select(key.as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          max(col("c")).as("max_mult"),
          round(expr("percentile(c, 0.99)"), 2).as("p99_mult"))
        .select(
          lit(name).as("join_key"), col("n_keys"), col("n_rows"), col("max_mult"),
          col("p99_mult"),
          expr("(2 * 1000000 * max_mult + n_rows) DIV (2 * n_rows)").as("top_share_e6"))
    branch("lineitem.l_orderkey", t.lineitem, col("l_orderkey"))
      .unionAll(branch("lineitem.l_partkey", t.lineitem, col("l_partkey")))
      .unionAll(branch("lineitem.l_suppkey", t.lineitem, col("l_suppkey")))
      .unionAll(branch("orders.o_custkey", t.orders, col("o_custkey")))
      .orderBy(col("join_key"))
  }

  /** Point-in-time feature snapshot audit (the feature-store join every
    * training pipeline must get right — Kakade-free leakage rule: a
    * feature computed at time T may only read events strictly before T):
    * at three cutoffs (25/50/75% of the event span), each user's LAST
    * event strictly before the cutoff, rolled up per (cutoff, last event
    * type) with user counts and share. The distribution shift across
    * cutoffs is the training-serving drift a PIT-correct store must
    * reproduce; computing it in ONE pass proves the snapshot plan shape
    * (q52's as-of machinery, swept). The zero-padded max-string trick
    * picks the latest event without a second window.
    *
    * Scale shape: the span agg is a single-row broadcast; the ×3 cutoff
    * explode rides the scan; ONE corpus-scale (user, cutoff) conditional
    * agg (partial map-side); the rollup is ≤ 3·|types| rows.
    */
  private def q184(t: Tables): DataFrame = {
    val e = t.events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val span = e.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
    e.join(broadcast(span))
      .select(
        col("user_id"), col("event_type"), col("us"),
        explode(expr(
          "array(t0 + (t1 - t0) DIV 4, t0 + (t1 - t0) DIV 2, t0 + 3 * ((t1 - t0) DIV 4))"))
          .as("cutoff"))
      .filter(col("us") < col("cutoff"))
      .groupBy(col("user_id"), col("cutoff"))
      .agg(max(expr("concat(lpad(CAST(us AS STRING), 20, '0'), '|', event_type)")).as("last"))
      .withColumn("last_type", expr("substring_index(last, '|', -1)"))
      .groupBy(col("cutoff"), col("last_type"))
      .agg(count(lit(1)).as("n_users"))
      .withColumn(
        "share_e4",
        expr("(2 * 10000 * n_users + sum(n_users) OVER (PARTITION BY cutoff)) DIV (2 * sum(n_users) OVER (PARTITION BY cutoff))"))
      .orderBy(col("cutoff"), col("last_type"))
  }

  /** Hour-of-day seasonality profile (new r12 — q17's timeline FOLDED
    * onto the clock: capacity planning and anomaly baselines need the
    * diurnal shape, not the calendar sequence — q138's per-day z-scores
    * over-flag types with strong diurnal cycles unless this profile is
    * the baseline): per (event type, UTC hour-of-day), volume and the
    * share of the type's traffic, plus the type's peak hour flagged.
    *
    * Scale shape: hour extraction is map-side; the corpus-scale pass is
    * ONE partial-aggregable (type, hour) count (≤ 24·|types| rows out);
    * share and peak derive from windows over that tiny agg relation,
    * partitioned by type. Integer counts; one rounded division.
    */
  private def q149(t: Tables): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    t.events
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(byType))
      .withColumn("share", round(col("n") / col("total"), 4))
      .withColumn("peak", col("n") === max(col("n")).over(byType))
      .select(col("event_type"), col("hod"), col("n"), col("share"), col("peak"))
      .orderBy(col("event_type"), col("hod"))
  }

  /** Daily volume-anomaly profile per event type (new r12 — the ops
    * canary next to q133's concentration audit: a day whose volume sits
    * ≥ 2σ from its type's mean is an outage, a bot storm, or a
    * double-ingest, and event data feeds training only after those days
    * are adjudicated): per (type, day), the count, the type's daily mean,
    * the z-score, and the anomaly flag. All days report (the profile IS
    * the deliverable; the flag column is the filter a consumer applies).
    *
    * Scale shape: the corpus-scale pass is the partial-aggregable
    * (type, day) count — |types|·|days| rows out; the per-type mean/σ is
    * a |types|-row agg broadcast back; everything after is
    * profile-relation-scale. Float discipline: z rounds to 4 BEFORE the
    * flag comparison (q101's round-then-compare rule — `avg`/
    * `stddev_samp` parity is the q55 pair); a single-day or
    * constant-volume type has no defined σ and flags nothing.
    */
  private def q138(t: Tables): DataFrame = {
    val daily = t.events
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily
      .groupBy(col("event_type"))
      .agg(
        avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"),
        count(lit(1)).as("n_days"))
    daily
      .join(broadcast(stats), Seq("event_type"))
      // n_days >= 2 makes the single-day guard conf-independent: with
      // spark.sql.legacy.statisticalAggregate=true, stddev_samp(n=1) is
      // NaN (not NULL) and NaN-is-largest ordering would satisfy sd > 0,
      // flagging z=NaN rows as anomalous — diverging from the oracle.
      .withColumn(
        "z",
        when(col("n_days") >= 2 && col("sd") > 0,
          round((col("n") - col("mu")) / col("sd"), 4)))
      .select(
        col("event_type"), col("day"), col("n"),
        round(col("mu"), 2).as("mu"), col("z"),
        (abs(coalesce(col("z"), lit(0.0))) >= 2.0).as("anomalous"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Z-order curve cell statistics — the read-side audit of
    * [[graft.sources.SpatialLayout]]'s write-side clustering: every point's
    * Morton z-value (16 bits/dim, built-in bitwise ops only — codegen'd
    * mask/shift ladder, no UDF), bucketed by the top 4 bits per dimension
    * (z >> 24 → a 16×16 curve-cell grid), with per-cell occupancy and the
    * lon/lat envelope. Tight per-cell envelopes are exactly why a z-sorted
    * layout lets parquet footer stats prune bbox scans at 100 TB. Map-side
    * expression work + one cell-keyed rollup shuffle.
    */
  private def q93(t: Tables): DataFrame =
    t.customer
      .withColumn("lon", expr(lonSql))
      .withColumn("lat", expr(latSql))
      .withColumn("z", graft.sources.SpatialLayout.zValue(col("lon"), col("lat")))
      .withColumn("cell", shiftright(col("z"), 24))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n_points"),
        round(min(col("lon")), 4).as("min_lon"),
        round(max(col("lon")), 4).as("max_lon"),
        round(min(col("lat")), 4).as("min_lat"),
        round(max(col("lat")), 4).as("max_lat"))
      .orderBy(col("cell"))

  /** Zone-map data-skipping effectiveness audit (new r16 wave 24 — the
    * read-side number behind q93/SpatialLayout's write-side clustering:
    * min/max block statistics — parquet row-group stats, Delta/Iceberg
    * file stats — prune a scan only where the layout CLUSTERS the
    * predicate column, and this measures exactly that on the natural
    * event_id layout): per audited predicate, 512-row blocks total,
    * blocks a max-stat zone map must still read, rows matching, the
    * touched share (e4), and the perfectly-clustered lower bound
    * ceil(matches/512). Probed non-degenerate in BOTH directions: ts is
    * ingest-clustered (last-7-days matches 23% of rows but touches only
    * 30% of blocks, ideal 25% — skipping works), while value ≥ 150 is
    * unclustered (matches ~4.7% of rows yet touches 100% of blocks at
    * every SF, ideal ~5% — the why-you-sort/z-order number).
    *
    * Scale shape: thresholds are a broadcast 1-row scalar aggregate;
    * block stats are ONE corpus-scale partial-aggregable rollup onto
    * |blocks| = n/512 keys; everything after runs on the block relation
    * and a 2-row explode. All integer (µs epochs and e2-quantized
    * values) — nothing engine-ordered.
    */
  private def q232(t: Tables): DataFrame = {
    val ev = t.events.select(
      expr("event_id DIV 512").as("blk"),
      unix_micros(col("ts")).as("tsu"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v_e2"))
    val bounds = ev.agg(
      (max(col("tsu")) - lit(604800000000L)).as("thr_ts"),
      lit(15000L).as("thr_v"))
    val blocks = ev
      .crossJoin(broadcast(bounds))
      .groupBy(col("blk"))
      .agg(
        max(col("tsu")).as("blk_max_ts"),
        max(col("v_e2")).as("blk_max_v"),
        sum(when(col("tsu") >= col("thr_ts"), 1L).otherwise(0L)).as("ts_rows"),
        sum(when(col("v_e2") >= col("thr_v"), 1L).otherwise(0L)).as("v_rows"),
        max(col("thr_ts")).as("thr_ts"),
        max(col("thr_v")).as("thr_v"))
    blocks
      .agg(
        count(lit(1)).as("blocks_total"),
        sum(when(col("blk_max_ts") >= col("thr_ts"), 1L).otherwise(0L)).as("ts_blocks"),
        sum(col("ts_rows")).as("ts_match"),
        sum(when(col("blk_max_v") >= col("thr_v"), 1L).otherwise(0L)).as("v_blocks"),
        sum(col("v_rows")).as("v_match"))
      .select(explode(array(
        struct(
          lit("ts_last7d").as("predicate"), col("blocks_total"),
          col("ts_blocks").as("blocks_touched"), col("ts_match").as("rows_match")),
        struct(
          lit("value_ge150").as("predicate"), col("blocks_total"),
          col("v_blocks").as("blocks_touched"), col("v_match").as("rows_match")))).as("r"))
      .select(col("r.predicate").as("predicate"), col("r.blocks_total").as("blocks_total"),
        col("r.blocks_touched").as("blocks_touched"), col("r.rows_match").as("rows_match"))
      .withColumn(
        "touched_share_e4",
        expr("(2 * 10000 * blocks_touched + blocks_total) DIV (2 * blocks_total)"))
      .withColumn("ideal_blocks", expr("(rows_match + 511) DIV 512"))
      .orderBy(col("predicate"))
  }

  /** Repeat-purchase cadence per market segment (new r16 wave 27 — the
    * ORDER-stream twin of q134's event gaps, on the business axis a
    * demand forecast actually segments by): per segment, repeat-order
    * count, nearest-rank p25/p50/p90 inter-order gap in days, and the
    * maximum — the reorder-cycle table a replenishment model is seeded
    * with (probed: median ~150 days, spread to ~2300 — wide and
    * non-degenerate at every SF). Gaps are exact integer day diffs off
    * the per-customer lag; percentiles are q197's distribution-counting
    * rule over the (segment, gap) day-domain histogram — no fact-table
    * sort anywhere.
    *
    * Scale shape: ONE o_custkey-keyed window (thousands of customers —
    * AQE-splittable, q20's class) with the customer dim broadcast; the
    * histogram collapses map-side onto ≤|segment|·|day domain| keys and
    * is localCheckpointed there (q220's pattern — six downstream
    * branches consume it, and a checkpoint guarantees the fact-window
    * pass runs ONCE rather than leaning on AQE exchange reuse); every
    * branch after is domain-scale (q224's chain).
    */
  private def q236(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = t.orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .join(
        broadcast(t.customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(
        col("c_mktsegment").as("seg"),
        datediff(col("o_orderdate").cast("date"), col("prev").cast("date"))
          .cast("long").as("gap"))
    val hist = gaps.groupBy(col("seg"), col("gap")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val stats = hist.groupBy(col("seg"))
      .agg(sum(col("c")).as("n_gaps"), max(col("gap")).as("max_gap"))
    val cum = Window.partitionBy(col("seg")).orderBy(col("gap"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("cum", sum(col("c")).over(cum))
      .join(broadcast(stats.select(col("seg").as("s2"), col("n_gaps"))),
        col("seg") === col("s2"))
    // r17 session 2: the three nearest-rank probes are conditional mins
    // over the SAME ranked relation — one aggregation computes all three
    // (min(when(cum ≥ rank, gap)) ≡ min over the filtered rows), saving
    // two domain-scale jobs and two joins per run.
    def pctCol(p: Int) =
      min(when(expr(s"cum >= ($p * n_gaps + 99) DIV 100"), col("gap"))).as(s"p${p}_gap")
    val pcts = ranked.groupBy(col("seg"))
      .agg(pctCol(25), pctCol(50), pctCol(90))
    stats
      .join(broadcast(pcts), Seq("seg"))
      .select(
        col("seg"), col("n_gaps"), col("p25_gap"), col("p50_gap"),
        col("p90_gap"), col("max_gap"))
      .orderBy(col("seg"))
  }

  /** Cohort lifetime-value curve (new r16 wave 27 — q119's retention
    * cohorts moved from the ACTIVITY axis to the REVENUE axis: retention
    * says who came back, LTV says what coming back was worth): per
    * (first-order-year cohort, age in years), orders, e2 spend, the
    * cohort's cumulative spend, cohort size, and cumulative LTV per
    * cohort customer (e2, half-up) — the payback-horizon curve an
    * acquisition budget is judged against. Spend e2-quantizes per order
    * BEFORE any sum (q208's rule).
    *
    * Scale shape: the per-customer first-year agg rejoins its own fact
    * co-partitioned on o_custkey (q199's exchange-free-on-bucketed
    * class); the (cohort, age) rollup partial-aggregates map-side onto
    * ≤|years|² keys; the cumulative window and the size join run on
    * that domain grid.
    */
  private def q237(t: Tables): DataFrame = {
    val o = t.orders.select(
      col("o_custkey"),
      year(col("o_orderdate")).cast("long").as("yr"),
      expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("sp_e2"))
    val fo = o.groupBy(col("o_custkey")).agg(min(col("yr")).as("cohort"))
    val size = fo.groupBy(col("cohort")).agg(count(lit(1)).as("n_customers"))
    val cum = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.join(fo, Seq("o_custkey"))
      .groupBy(col("cohort"), (col("yr") - col("cohort")).as("age"))
      .agg(count(lit(1)).as("n_orders"), sum(col("sp_e2")).as("spend_e2"))
      .withColumn("cum_spend_e2", sum(col("spend_e2")).over(cum))
      .join(broadcast(size), Seq("cohort"))
      .withColumn(
        "ltv_per_cust_e2",
        expr("(2 * cum_spend_e2 + n_customers) DIV (2 * n_customers)"))
      .select(
        col("cohort"), col("age"), col("n_orders"), col("spend_e2"),
        col("cum_spend_e2"), col("n_customers"), col("ltv_per_cust_e2"))
      .orderBy(col("cohort"), col("age"))
  }

  /** Rolling 7-day active users + DAU/WAU stickiness (new r16 wave 25 —
    * the SLIDING COUNT DISTINCT class: no window-function frame can
    * express "distinct users over the trailing 7 days" because distinct
    * doesn't decompose over frames; the scalable form is the domain
    * explode — each (user, day) active pair covers the 7 window-ENDS it
    * contributes to, then one distinct + count per end): per observed
    * day, DAU, trailing-7-day WAU, and the e4 stickiness ratio DAU/WAU —
    * the engagement number every analytics stack reports (probed
    * non-constant at every SF: WAU spans 134–150 at sf0.01). Days are
    * exact epoch-day integers (µs DIV 86 400 000 000 — never a date
    * cast); the first six days carry their clipped partial windows
    * (standard trailing-WAU semantics, declared); window-ends past the
    * series are dropped by the inner join with the observed-day DAU.
    *
    * Scale shape: ONE corpus-scale (user, day) distinct (map-side
    * partial — repeat events collapse before the exchange); the ×7
    * explode rides that DOMAIN relation, never the raw events; both
    * counts and the final join are |users·days|- or |days|-scale.
    */
  private def q234(t: Tables): DataFrame = {
    val ud = t.events
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(col("day"), col("day") + lit(6L))).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau7"))
    dau
      .join(broadcast(wau), Seq("day"))
      .withColumn("stickiness_e4", expr("(2 * 10000 * dau + wau7) DIV (2 * wau7)"))
      .select(col("day"), col("dau"), col("wau7"), col("stickiness_e4"))
      .orderBy(col("day"))
  }

  /** Consecutive-day activity streaks — the gaps-and-islands kernel every
    * engagement stack runs (DAU streak badges, churn-risk run lengths):
    * distinct (user, day) actives, island key = epoch-day − per-user day
    * rank (constant within a consecutive run, the classic Tabibitosan
    * trick — exact integer arithmetic, no session-gap floats), then the
    * streak-length histogram with user attribution.
    *
    * Scale shape: the corpus-scale pass is the (user, day) distinct —
    * partial-aggregable map-side, output |users|·|active days| ≪ events;
    * the rank window and island rollup both ride ONE user-keyed shuffle
    * (thousands of users — AQE-splittable, unlike a per-source window);
    * the histogram agg is |streaks|-scale.
    */
  private def q125(t: Tables): DataFrame = {
    val d = t.events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val streaks = d
      .withColumn(
        "grp",
        datediff(col("day"), lit(java.sql.Date.valueOf("1970-01-01")))
          - row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    streaks
      .groupBy(col("len"))
      .agg(count(lit(1)).as("n_streaks"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("len"))
  }

  /** Quasi-identifier k-anonymity audit (Sweeney 2002) over the event
    * stream — the privacy gate a training pipeline runs before user-derived
    * data feeds a model: bucket every event by the quasi-identifier triple
    * (event_type, hour-of-day, value band of 50) and flag combinations
    * observed for fewer than k=5 distinct users; a row in such a
    * combination re-identifies its user by attribute intersection alone.
    * Scope: user-ATTRIBUTED events only (a null user_id row has no one to
    * re-identify; unfiltered it would make countDistinct report a 0-user
    * combo as maximally risky). All counts are integers — nothing to
    * round.
    *
    * Scale shape: the combo aggregate's distinct-user rewrite is two-level
    * (partial on (combo, user) map-side — per-user event locality collapses
    * most duplicates before the exchange); the combo table is bounded by
    * |types|·24·|bands|, not event volume, so the per-type rollup is
    * metadata-scale.
    */
  private def q153(t: Tables): DataFrame =
    t.events
      .filter(col("user_id").isNotNull)
      .select(
        col("event_type"),
        hour(col("ts")).cast("long").as("hod"),
        expr("CAST(floor(value / 50) AS BIGINT)").as("band"),
        col("user_id"))
      .groupBy(col("event_type"), col("hod"), col("band"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("user_id")).as("n_users"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_combos"),
        sum(when(col("n_users") < 5, 1L).otherwise(0L)).as("risky_combos"),
        sum(when(col("n_users") < 5, col("n_rows")).otherwise(0L)).as("rows_at_risk"),
        min(col("n_users")).as("min_combo_users"))
      .orderBy(col("event_type"))

  /** l-diversity audit over q153's quasi-identifier combos (Machanavajjhala
    * et al. 2007 — the homogeneity-attack check k-anonymity alone misses):
    * a combo can be k-anonymous yet reveal everyone's SENSITIVE value when
    * all its rows share one. Sensitive attribute: the payload band
    * (props.k DIV 25); per event type, combos whose k-anonymous rows
    * (≥ 5 distinct users, q153's k) carry fewer than l = 3 distinct
    * sensitive bands, with rows at risk and the worst (min) diversity.
    * Same combo table as q153 exactly (bounded by |types|·24·|bands|);
    * the sensitive distinct rides the same two-level rewrite.
    */
  private def q175(t: Tables): DataFrame =
    t.events
      .filter(col("user_id").isNotNull)
      .select(
        col("event_type"),
        hour(col("ts")).cast("long").as("hod"),
        expr("CAST(floor(value / 50) AS BIGINT)").as("band"),
        col("user_id"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT) DIV 25").as("sens"))
      .groupBy(col("event_type"), col("hod"), col("band"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("sens")).as("l"))
      .filter(col("n_users") >= 5)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_anon_combos"),
        sum(when(col("l") < 3, 1L).otherwise(0L)).as("low_l_combos"),
        sum(when(col("l") < 3, col("n_rows")).otherwise(0L)).as("rows_at_risk"),
        min(col("l")).as("min_l"))
      .orderBy(col("event_type"))

  /** Referential-integrity audit — the dbt-style FK test pack as one
    * relation: for each declared child→parent relationship, child volume,
    * orphan rows (no matching parent key) and the orphan share (e6). A
    * lake ingesting 100 TB of upstream extracts runs exactly this before
    * any join-shaped query trusts its keys: a non-zero share here is
    * silent row loss in every inner join downstream. Six relationships
    * cover the star: orders→customer, lineitem→{orders, part, supplier},
    * supplier→nation, customer→nation.
    *
    * Scale shape: each check is one left-anti probe — dim parents
    * broadcast; the one fact-fact check (lineitem→orders) shuffles on
    * l_orderkey, the key a 100 TB lake co-buckets those tables by
    * (exchange-free on bucketed storage). Orphan counts are conditional
    * aggs off the anti side; the output is 6 rows.
    */
  private def q176(t: Tables): DataFrame = {
    // one left-join + conditional agg per relationship: a separate
    // anti-join branch would need a second child pass (or a 1×1 cross)
    // for the denominator; a null child key counts as an orphan (the
    // not-null and FK checks collapse into one column, mirrored by the
    // oracle's NOT EXISTS)
    def check(name: String, child: DataFrame, key: Column,
              parent: DataFrame, pkey: Column, bcast: Boolean): DataFrame = {
      val p = parent.select(pkey.as("pk")).distinct()
      child.select(key.as("ck"))
        .join(if (bcast) broadcast(p) else p, col("ck") === col("pk"), "left")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_orphans"))
        .select(lit(name).as("relationship"), col("n_rows"), col("n_orphans"))
    }
    check("customer->nation", t.customer, col("c_nationkey"), t.nation, col("n_nationkey"), bcast = true)
      .unionAll(check("lineitem->orders", t.lineitem, col("l_orderkey"), t.orders, col("o_orderkey"), bcast = false))
      .unionAll(check("lineitem->part", t.lineitem, col("l_partkey"), t.part, col("p_partkey"), bcast = true))
      .unionAll(check("lineitem->supplier", t.lineitem, col("l_suppkey"), t.supplier, col("s_suppkey"), bcast = true))
      .unionAll(check("orders->customer", t.orders, col("o_custkey"), t.customer, col("c_custkey"), bcast = true))
      .unionAll(check("supplier->nation", t.supplier, col("s_nationkey"), t.nation, col("n_nationkey"), bcast = true))
      .withColumn("orphan_share_e6", expr("(2 * 1000000 * n_orphans + n_rows) DIV (2 * n_rows)"))
      .orderBy(col("relationship"))
  }

  /** Per-user activity-mix entropy histogram — the bot/script detector on
    * the COMPOSITION axis (q166 reads the transition axis, q20 the
    * timing): a user whose event-type distribution has near-zero entropy
    * does one thing forever (scraper, monitor, stuck client); organic
    * users mix. Per user, Shannon entropy of the type mix in e3 bits
    * (each term quantized half-up BEFORE the sum — q151's rule), then a
    * 0.25-bit-binned histogram with user counts, event volume, and the
    * half-up mean events per user — the table that says how much of the
    * event lake single-behavior accounts own.
    *
    * Scale shape: ONE corpus-scale (user, type) count agg (partial
    * map-side); the per-user rollup is |users|-bounded; the histogram is
    * ≤ ⌈log₂|types|·4⌉+1 rows.
    */
  private def q178(t: Tables): DataFrame =
    t.events
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("user_id"))))
      .withColumn(
        "bits_e3",
        expr("CAST(floor(-log2(CAST(c AS DOUBLE) / n) * 1000 + 0.5) AS BIGINT)"))
      .groupBy(col("user_id"))
      .agg(
        max(col("n")).as("n_events"),
        expr("(2 * sum(c * bits_e3) + max(n)) DIV (2 * max(n))").as("entropy_e3"))
      .withColumn("bin", expr("least(entropy_e3 DIV 250, CAST(9 AS BIGINT))"))
      .groupBy(col("bin"))
      .agg(
        count(lit(1)).as("n_users"),
        sum(col("n_events")).as("n_events"),
        expr("(2 * 100 * sum(n_events) + count(1)) DIV (2 * count(1))").as("mean_events_e2"))
      .orderBy(col("bin"))

  /** Tile-pyramid occupancy profile — the multi-zoom sharding readout a
    * geo lake plans its layout from (geostore's datasets are map tiles;
    * the z/x/y scheme here is the slippy-map grid on an equirectangular
    * projection, so every cell edge is exact decimal arithmetic — no
    * Mercator transcendentals to desync engines). For zooms {2, 4, 6}:
    * occupied-tile count, point total, the hottest tile, and the half-up
    * integer mean per occupied tile — the skew table that decides whether
    * a zoom level shards evenly. Complements q48 (single-resolution cells)
    * and q93 (z-order addressing within a level).
    *
    * Scale shape: the zoom explode is a constant ×3 fan-out; the tile
    * aggregate partial-aggregates map-side (points cluster spatially
    * within scan partitions) onto ≤ 4^z + ... bounded keys; the per-zoom
    * rollup is 3 rows.
    */
  private def q156(t: Tables): DataFrame =
    t.customer
      .select(expr(lonSql).as("lon"), expr(latSql).as("lat"))
      .select(explode(expr("array(2, 4, 6)")).as("z"), col("lon"), col("lat"))
      .withColumn("n_side", expr("shiftleft(CAST(1 AS BIGINT), z)"))
      .withColumn("tile_x", expr("CAST(floor((lon + 180) / 360 * n_side) AS BIGINT)"))
      .withColumn("tile_y", expr("CAST(floor((90 - lat) / 180 * n_side) AS BIGINT)"))
      .groupBy(col("z"), col("tile_x"), col("tile_y"))
      .agg(count(lit(1)).as("n_points"))
      .groupBy(col("z"))
      .agg(
        count(lit(1)).as("n_tiles"),
        sum(col("n_points")).as("total_points"),
        max(col("n_points")).as("max_tile_points"),
        expr("(2 * sum(n_points) + count(1)) DIV (2 * count(1))").as("mean_tile_points"))
      .orderBy(col("z"))

  /** Frequent part-pair co-occurrence within orders (Agrawal & Srikant
    * 1994's support/lift readout, the market-basket classic): for each
    * part pair bought together in ≥ 2 distinct orders, the support count
    * and the lift against independence — the cross-sell/association
    * readout every retail-shaped lake runs, and the same blocked
    * self-join shape a curation pipeline uses for co-occurring tag/label
    * mining. Lift is an exact integer e4 ratio: lift = n_pair·N /
    * (n_p1·n_p2), one half-up division of long products (n_pair·N ≤
    * ~10⁹·10⁹ overflows past ~10¹⁸ order-pairs — far beyond any real
    * basket table; q110's DECIMAL guard pattern applies if ever needed).
    * Top-25 by (support desc, p1, p2) — a unique total order.
    *
    * Scale shape: the self-join blocks on the ORDER key, so pair work is
    * Σ|basket|² — basket-bounded, never catalog² (q101's blocking
    * argument); the pair aggregate is co-occurrence-bounded; part
    * marginals are a |parts|-row agg broadcast onto the survivors; the
    * order total is a single-row broadcast; top-25 is TakeOrdered.
    */
  private def q162(t: Tables): DataFrame = {
    // r17: `items` feeds four branches (both self-join sides, the part
    // marginals, the order total) — checkpoint it once, PRE-PARTITIONED
    // on the basket key so the self-join plans with zero exchange on
    // either side (q271's shape; guide §2.4).
    val items = graft.Iterate.cutLineage(
      Tables.bucketAligned(
        t.lineitem.select(col("l_orderkey"), col("l_partkey")), col("l_orderkey"))
        .dropDuplicates(Seq("l_orderkey", "l_partkey")))
    val pairs = items.as("a")
      .join(items.as("b"), Seq("l_orderkey"))
      .filter(col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("p1"), col("b.l_partkey").as("p2"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= 2)
    val marg = items.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
    val totals = items.agg(countDistinct(col("l_orderkey")).as("n_orders"))
    pairs
      .join(marg.select(col("l_partkey").as("p1"), col("n_part").as("n_p1")), Seq("p1"))
      .join(marg.select(col("l_partkey").as("p2"), col("n_part").as("n_p2")), Seq("p2"))
      .join(broadcast(totals))
      .withColumn(
        "lift_e4",
        expr("(2 * 10000 * n_pair * n_orders + n_p1 * n_p2) DIV (2 * n_p1 * n_p2)"))
      .select(col("p1"), col("p2"), col("n_pair"), col("n_p1"), col("n_p2"), col("lift_e4"))
      .orderBy(col("n_pair").desc, col("p1"), col("p2"))
      .limit(25)
  }

  /** Event-type Markov transition audit — q159's branching-entropy
    * discipline applied to the BEHAVIORAL sequence (the event-stream
    * quality gate next to q96's fixed funnel): per source event type,
    * the successor-type distribution's Shannon entropy in e3 bits, the
    * transition count, and the modal next type with its share. A state
    * whose entropy collapses is a scripted/bot flow; the modal-successor
    * share is the same signal as a ratio. Per-user ordering is
    * (ts, event_id) — a unique total order, so lag() is deterministic.
    *
    * Numeric discipline: each −log2(n/n_from) quantizes half-up to e3
    * BEFORE the weighted mean (q151's rule); the modal pick is the
    * zero-padded max-string trick (q110's) — one agg, no second window,
    * deterministic ties; share is an e4 half-up integer ratio.
    *
    * Scale shape: ONE corpus-scale shuffle on user_id carries the lag
    * window (q20's sessionize shape — per-user partitions); the
    * transition aggregate partial-aggregates onto ≤ |types|² keys, and
    * everything after is transition-matrix-scale.
    */
  private def q166(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    // user-attributed events only (q153's rule — a null-user partition
    // would chain unrelated anonymous rows into one fake session)
    val trans = t.events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    trans
      .withColumn("n_from", sum(col("n")).over(Window.partitionBy(col("prev"))))
      .withColumn(
        "bits_e3",
        expr("CAST(floor(-log2(CAST(n AS DOUBLE) / n_from) * 1000 + 0.5) AS BIGINT)"))
      .groupBy(col("prev"))
      .agg(
        max(col("n_from")).as("n_from"),
        count(lit(1)).as("n_successors"),
        expr("(2 * sum(n * bits_e3) + max(n_from)) DIV (2 * max(n_from))").as("entropy_e3"),
        max(concat(lpad(col("n").cast("string"), 19, "0"), lit(":"), col("event_type")))
          .as("modal"))
      .withColumn("top_next", expr("substr(modal, 21)"))
      // CAST eats the zero-padding directly (Spark's two-arg ltrim takes
      // (trimStr, str) — reversed vs DuckDB — so neither engine trims)
      .withColumn("top_next_n", expr("CAST(substr(modal, 1, 19) AS BIGINT)"))
      .withColumn("top_share_e4", expr("(2 * 10000 * top_next_n + n_from) DIV (2 * n_from)"))
      .select(
        col("prev"), col("n_from"), col("n_successors"), col("entropy_e3"),
        col("top_next"), col("top_next_n"), col("top_share_e4"))
      .orderBy(col("prev"))
  }

  /** Second-order event-transition audit (r16 — q166 lifted to
    * (prev2, prev1) context states; the order-2 Markov readout a
    * scripted flow cannot hide from): per two-event context, the
    * successor distribution's entropy in e3 bits, the modal next type
    * with its share, and `gain_e3` — the first-order context's entropy
    * MINUS this one's, i.e. how much remembering one more step tells
    * you. A healthy organic stream gains little (near-memoryless); a
    * bot's scripted loop looks diverse at order 1 and collapses to
    * near-zero entropy (large gain) once the second step is in the
    * state. Gain can be negative per-context — conditioning reduces
    * entropy only in expectation (Shannon 1948), not pointwise.
    *
    * For an apples-to-apples gain, the first-order reference is the
    * MARGINAL of the trigram counts (Σ over prev2), not q166's bigram
    * table — both distributions then describe the same event subset
    * (each user's first transition has no prev2 and is out of both).
    *
    * Numeric discipline is q166's verbatim: e3 half-up quantization
    * BEFORE the weighted mean, zero-padded max-string modal pick, e4
    * half-up share. Scale shape: ONE corpus-scale shuffle on user_id
    * carries the lag window; the trigram aggregate partial-aggregates
    * onto ≤ |types|³ keys and everything after — both context windows,
    * the marginal rollup, the |types|-row broadcast join — is
    * transition-matrix-scale.
    */
  private def q190(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val tri = t.events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev1", lag(col("event_type"), 1).over(w))
      .withColumn("prev2", lag(col("event_type"), 2).over(w))
      .filter(col("prev2").isNotNull)
      .groupBy(col("prev2"), col("prev1"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val second = tri
      .withColumn(
        "n_from", sum(col("n")).over(Window.partitionBy(col("prev2"), col("prev1"))))
      .withColumn(
        "bits_e3",
        expr("CAST(floor(-log2(CAST(n AS DOUBLE) / n_from) * 1000 + 0.5) AS BIGINT)"))
      .groupBy(col("prev2"), col("prev1"))
      .agg(
        max(col("n_from")).as("n_from"),
        count(lit(1)).as("n_successors"),
        expr("(2 * sum(n * bits_e3) + max(n_from)) DIV (2 * max(n_from))").as("entropy_e3"),
        max(concat(lpad(col("n").cast("string"), 19, "0"), lit(":"), col("event_type")))
          .as("modal"))
      .withColumn("top_next", expr("substr(modal, 21)"))
      .withColumn("top_next_n", expr("CAST(substr(modal, 1, 19) AS BIGINT)"))
      .withColumn("top_share_e4", expr("(2 * 10000 * top_next_n + n_from) DIV (2 * n_from)"))
    val first = tri
      .groupBy(col("prev1"), col("event_type"))
      .agg(sum(col("n")).as("n"))
      .withColumn("m_from", sum(col("n")).over(Window.partitionBy(col("prev1"))))
      .withColumn(
        "bits_e3",
        expr("CAST(floor(-log2(CAST(n AS DOUBLE) / m_from) * 1000 + 0.5) AS BIGINT)"))
      .groupBy(col("prev1"))
      .agg(expr("(2 * sum(n * bits_e3) + max(m_from)) DIV (2 * max(m_from))").as("entropy1_e3"))
    second
      .join(broadcast(first), Seq("prev1"))
      .withColumn("gain_e3", col("entropy1_e3") - col("entropy_e3"))
      .select(
        col("prev2"), col("prev1"), col("n_from"), col("n_successors"),
        col("entropy_e3"), col("top_next"), col("top_next_n"), col("top_share_e4"),
        col("gain_e3"))
      .orderBy(col("prev2"), col("prev1"))
  }

  /** Fact-vs-dim price-integrity audit (r16 wave 3 — the VALUE-level
    * companion to q176's referential fk_audit: keys can all resolve
    * while the numbers are nonsense): per part brand, how line pricing
    * relates to the catalog price — ratio = extendedprice /
    * (quantity · retailprice), banded under (< 0.5×), par, over (> 2×) —
    * plus the e4 ratio extremes. A brand whose mass sits in a band edge
    * is a feed using different units or an upstream join bug; this is
    * the reconciliation table a lake runs after every fact ingest
    * against its dimension snapshot.
    *
    * Cross-engine exactness with DOUBLES: the ratio is ONE expression
    * written character-identically in both engines (identical IEEE ops
    * → bit-identical result), band predicates compare that double to
    * literals, and the extreme columns quantize half-up to e4 integers
    * BEFORE min/max (floor is exact on identical doubles; never round()
    * a computed double — SURVEY §7). Scale shape: one fact-scale scan
    * with the part dim broadcast; the rollup partial-aggregates onto
    * |brands| keys map-side; the share division is half-up integer.
    */
  private def q196(t: Tables): DataFrame =
    t.lineitem
      .join(broadcast(t.part), col("l_partkey") === col("p_partkey"))
      .withColumn("ratio", expr("l_extendedprice / (l_quantity * p_retailprice)"))
      .withColumn("ratio_e4", expr("CAST(floor(ratio * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("ratio") < 0.5, 1L).otherwise(0L)).as("n_under"),
        sum(when(col("ratio") >= 0.5 && col("ratio") <= 2.0, 1L).otherwise(0L)).as("n_par"),
        sum(when(col("ratio") > 2.0, 1L).otherwise(0L)).as("n_over"),
        min(col("ratio_e4")).as("min_ratio_e4"),
        max(col("ratio_e4")).as("max_ratio_e4"))
      .withColumn(
        "over_share_e4", expr("(2 * 10000 * n_over + n_lines) DIV (2 * n_lines)"))
      .select(
        col("p_brand"), col("n_lines"), col("n_under"), col("n_par"), col("n_over"),
        col("over_share_e4"), col("min_ratio_e4"), col("max_ratio_e4"))
      .orderBy(col("p_brand"))

  /** Self-join size forecast (r16 wave 6 — q182's skew table extended
    * with the number a cost-based optimizer actually plans on: the
    * EXACT equi-self-join cardinality Σc(k)² per candidate key, next to
    * the uniform-assumption estimate n²/d every independence-based CBO
    * would use, and their e4 inflation ratio — the factor by which skew
    * blows past the estimate, i.e. the why-you-salt number; q180
    * measures the same Σb(b−1)/2 forecast for LSH buckets, this is its
    * relational twin): one |keys|-bounded count per branch, exact long
    * arithmetic (Σc² at ~10¹⁸ runs through q163's DECIMAL guard), the
    * estimate's single half-up division, a 4-row output.
    */
  /** Long-form metric export via `unpivot` (new r16 — the MELT operator,
    * q59's pivot inverted; the wide→long reshape every metric store and
    * plotting layer ingests): the four lineitem measures unpivoted to
    * (metric, value) rows, rolled to count + e2 sum/min/max per metric.
    * Measures e2-quantize to longs BEFORE the unpivot (one shared value
    * type is what the operator requires anyway — and integer sums are
    * the cross-engine rule). Spark compiles unpivot to the same Expand
    * node as q218's cube: a constant 4× map-side row fan-out, partial
    * aggregation collapses it onto 4 metric keys before the ONE
    * exchange — no join, no corpus-width shuffle.
    */
  private def q219(t: Tables): DataFrame = {
    def e2(c: String) = expr(s"CAST(floor($c * 100 + 0.5) AS BIGINT)").as(c)
    t.lineitem
      .select(e2("l_quantity"), e2("l_extendedprice"), e2("l_discount"), e2("l_tax"))
      .unpivot(
        Array.empty[org.apache.spark.sql.Column],
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "v")
      .groupBy(col("metric"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("v")).as("sum_e2"),
        min(col("v")).as("min_e2"),
        max(col("v")).as("max_e2"))
      .orderBy(col("metric"))
  }

  private def q204(t: Tables): DataFrame = {
    // DECIMAL(38,0), not (19,0): the guard must absorb the DERIVED
    // products too — 2·10⁴·Σc²·n_keys passes 10¹⁹ around sf10 (r16
    // review fix: the old guard ended at a .cast("long") on Σc², so the
    // estimate/inflation arithmetic re-entered int64 and could wrap)
    val big: org.apache.spark.sql.Column => org.apache.spark.sql.Column = _.cast("decimal(38,0)")
    def branch(name: String, rel: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
      rel.select(key.as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("c"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("c")).as("n_rows"),
          sum(big(col("c")) * big(col("c"))).as("exact_big"))
        .withColumn("nr2", big(col("n_rows")) * col("n_rows"))
        .withColumn(
          "uniform_estimate",
          expr("CAST((2 * nr2 + n_keys) DIV (2 * n_keys) AS BIGINT)"))
        .withColumn(
          "inflation_e4",
          expr("CAST((2 * 10000 * exact_big * n_keys + nr2) DIV (2 * nr2) AS BIGINT)"))
        .withColumn("exact_join_rows", col("exact_big").cast("long"))
        .select(
          lit(name).as("join_key"), col("n_keys"), col("n_rows"),
          col("exact_join_rows"), col("uniform_estimate"), col("inflation_e4"))
    branch("lineitem.l_orderkey", t.lineitem, col("l_orderkey"))
      .unionAll(branch("lineitem.l_partkey", t.lineitem, col("l_partkey")))
      .unionAll(branch("lineitem.l_suppkey", t.lineitem, col("l_suppkey")))
      .unionAll(branch("orders.o_custkey", t.orders, col("o_custkey")))
      .orderBy(col("join_key"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian 2007 — the
    * distribution-skew attack the k-anonymity (q153) / l-diversity
    * (q175) pair still misses: a combo can be k-anonymous AND
    * l-diverse while its sensitive-value DISTRIBUTION differs so much
    * from the table's that observing the combo is itself a disclosure):
    * per event type, among q153's k-anonymous quasi-identifier combos,
    * how many sit farther than t = 0.15 from the global sensitive
    * distribution (q175's payload band), rows at risk, and the worst
    * distance. Distance is the ordered-attribute EMD of the paper —
    * (1/(m−1))·Σᵢ|Σ_{j≤i}(p_j − q_j)| over the m sensitive values.
    * Threshold corpus-probed: t_e6 spans ~10k–336k with median ~74k at
    * sf0.01, so 150000 flags the genuine upper tail.
    *
    * Exactness: each cumulative gap is the INTEGER cross-product
    * |cum_c·N − cum_g·n| (q194's ECDF discipline); one half-up e6
    * division per combo at the very end. The products and the division
    * run in DECIMAL(38,0), exact past ~10¹⁸.
    *
    * Scale shape: two corpus-scale partial-aggregable aggs (the
    * (combo, sens) counts and q153's distinct-user gate); everything
    * after runs on the |combos|·m grid — bounded by |types|·24·|bands|
    * times the sensitive DOMAIN, never event volume. The global
    * cumulative is a broadcast triangular self-join on the m-row
    * distribution (no unpartitioned window anywhere); the per-combo
    * cumulative window is combo-partitioned.
    */
  private def q205(t: Tables): DataFrame = {
    val big: Column => Column = _.cast("decimal(38,0)")
    val ev = t.events
      .filter(col("user_id").isNotNull)
      .select(
        col("event_type"),
        hour(col("ts")).cast("long").as("hod"),
        expr("CAST(floor(value / 50) AS BIGINT)").as("band"),
        col("user_id"),
        expr("CAST(get_json_object(props, '$.k') AS BIGINT) DIV 25").as("sens"))
      .filter(col("sens").isNotNull)
    val comboSens = ev
      .groupBy(col("event_type"), col("hod"), col("band"), col("sens"))
      .agg(count(lit(1)).as("c"))
    val anon = ev
      .groupBy(col("event_type"), col("hod"), col("band"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .filter(col("n_users") >= 5)
      .drop("n_users")
    val glob = comboSens.groupBy(col("sens")).agg(sum(col("c")).as("g"))
    val globCum = glob.as("a")
      .join(broadcast(glob.as("b")), col("b.sens") <= col("a.sens"))
      .groupBy(col("a.sens").as("sens"))
      .agg(sum(col("b.g")).as("cum_g"))
    // derived off the BOUNDED (combo, sens) relation, not a third
    // corpus-scale pass (its exchange AQE-reuses comboSens's)
    val total = comboSens.agg(sum(col("c")).as("n_all"), countDistinct(col("sens")).as("m"))
    anon
      .crossJoin(broadcast(globCum))
      .join(comboSens, Seq("event_type", "hod", "band", "sens"), "left")
      .na.fill(0L, Seq("c"))
      .withColumn("cum_c", sum(col("c")).over(
        Window.partitionBy(col("event_type"), col("hod"), col("band"))
          .orderBy(col("sens"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(total))
      .withColumn("gap", abs(big(col("cum_c")) * col("n_all") - big(col("cum_g")) * col("n")))
      .groupBy(col("event_type"), col("hod"), col("band"))
      .agg(
        max(col("n")).as("n"), sum(col("gap")).as("s"),
        max(col("n_all")).as("n_all"), max(col("m")).as("m"))
      .withColumn("den", big(col("n")) * col("n_all") * (col("m") - lit(1)))
      .withColumn("t_e6", expr("CAST((2 * 1000000 * s + den) DIV (2 * den) AS BIGINT)"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_anon_combos"),
        sum(when(col("t_e6") >= 150000L, 1L).otherwise(0L)).as("breached_combos"),
        sum(when(col("t_e6") >= 150000L, col("n")).otherwise(0L)).as("rows_at_risk"),
        max(col("t_e6")).as("max_t_e6"))
      .orderBy(col("event_type"))
  }

  /** Functional-dependency violation audit (the g₃ error measure of
    * Kivinen & Mannila 1995 — the dbt-style "unique/accepted-values"
    * test pack generalized to column DEPENDENCIES): for each declared
    * candidate FD lhs→rhs, how many lhs groups carry more than one rhs
    * value and the minimum fraction of rows (e6) that would have to be
    * deleted for the dependency to hold (g₃ = 1 − Σ_lhs max_rhs c / n).
    * A lake promotes a column pair to a join/partition invariant only
    * after this table says the dependency actually holds; a high-g₃
    * "dependency" embedded in a dedup or rollup rule is silent data
    * loss. Six declared candidates span dim-scale and fact-scale lhs.
    *
    * Scale shape: per branch, one (lhs, rhs) partial-aggregable count
    * collapsing corpus scale onto the attribute domain, one lhs-keyed
    * rollup riding the same partitioning prefix, and a single-row fold;
    * the union is |branches| rows. No joins anywhere.
    */
  private def q207(t: Tables): DataFrame = {
    def branch(name: String, rel: DataFrame, lhs: Column, rhs: Column): DataFrame =
      rel.filter(lhs.isNotNull)
        .select(lhs.as("l"), rhs.as("r"))
        .groupBy(col("l"), col("r"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("l"))
        .agg(sum(col("c")).as("n"), max(col("c")).as("mx"), count(lit(1)).as("nr"))
        .agg(
          count(lit(1)).as("n_lhs"),
          sum(col("n")).as("n_rows"),
          sum(when(col("nr") > 1, 1L).otherwise(0L)).as("violating_lhs"),
          (sum(col("n")) - sum(col("mx"))).as("violation_rows"))
        .withColumn(
          "g3_e6",
          expr("CAST((2 * 1000000 * violation_rows + n_rows) DIV (2 * n_rows) AS BIGINT)"))
        .select(
          lit(name).as("dependency"), col("n_rows"), col("n_lhs"),
          col("violating_lhs"), col("violation_rows"), col("g3_e6"))
    branch("customer.c_nationkey->c_mktsegment", t.customer,
        col("c_nationkey"), col("c_mktsegment"))
      .unionAll(branch("documents.source->lang", t.documents, col("source"), col("lang")))
      .unionAll(branch("events.user_id->event_type", t.events,
        col("user_id"), col("event_type")))
      .unionAll(branch("lineitem.l_partkey->l_returnflag", t.lineitem,
        col("l_partkey"), col("l_returnflag")))
      .unionAll(branch("orders.o_custkey->o_orderpriority", t.orders,
        col("o_custkey"), col("o_orderpriority")))
      .unionAll(branch("part.p_brand->p_type", t.part, col("p_brand"), col("p_type")))
      .orderBy(col("dependency"))
  }

  /** Order-header vs line-detail reconciliation (r16 wave 8 — the
    * last leg of the relational-integrity pack: q176 checks the KEYS
    * resolve, q196 the unit PRICES, q207 the declared DEPENDENCIES;
    * this checks the header AMOUNT against what its own lines sum to,
    * the first thing a finance-shaped ingest reconciles): per order
    * status, orders whose o_totalprice is under half / within [0.5×,
    * 2×] / over double the line total Σ extendedprice·(1+tax)·(1−disc),
    * orders with NO lines at all (q176's orphan class seen from the
    * parent side), and the ratio extremes (e4). Corpus-probed: every
    * band is populated at every SF — the synthetic generator does NOT
    * enforce TPC-H's header-total invariant, which is exactly what
    * makes the audit report non-trivial.
    *
    * Exactness: each line amount quantizes half-up to an e2 long BEFORE
    * the per-order sum (a double Σ's addition order is engine-internal
    * — the q202 rule); header prices quantize the same way; band tests
    * and the ratio are pure integer comparisons/divisions after that.
    *
    * Scale shape: the per-order line sum shuffles on l_orderkey and the
    * header join is fact-fact co-partitioned on the same key — the key
    * a 100 TB lake co-buckets these tables by (exchange-free on
    * bucketed storage, ScaleSpec's evidence); the status rollup is
    * |statuses|-keyed map-side.
    */
  private def q208(t: Tables): DataFrame = {
    val ls = t.lineitem
      .select(
        col("l_orderkey"),
        expr("CAST(floor(l_extendedprice * (1 + l_tax) * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
          .as("amt_e2"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("amt_e2")).as("s_e2"))
    t.orders
      .select(
        col("o_orderkey"), col("o_orderstatus"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("tp_e2"))
      .join(ls, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn(
        "ratio_e4",
        when(col("s_e2").isNotNull, expr("(2 * 10000 * tp_e2 + s_e2) DIV (2 * s_e2)")))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(when(col("s_e2").isNull, 1L).otherwise(0L)).as("no_lines"),
        sum(when(col("s_e2").isNotNull && col("tp_e2") * 2 < col("s_e2"), 1L).otherwise(0L))
          .as("under_half"),
        sum(when(col("s_e2").isNotNull && col("tp_e2") > col("s_e2") * 2, 1L).otherwise(0L))
          .as("over_double"),
        sum(when(
          col("s_e2").isNotNull && col("tp_e2") * 2 >= col("s_e2") &&
            col("tp_e2") <= col("s_e2") * 2, 1L).otherwise(0L)).as("par_band"),
        min(col("ratio_e4")).as("min_ratio_e4"),
        max(col("ratio_e4")).as("max_ratio_e4"))
      .orderBy(col("o_orderstatus"))
  }

  /** Markov stationary-flow audit (the Perron–Frobenius fixed point of
    * q166's transition matrix, power-iterated — Kemeny & Snell 1960;
    * r16 wave 8, the order-∞ closure of the q166/q190 Markov family):
    * per event type, the occupancy the observed TRANSITION FLOWS imply
    * after three power-iteration steps from uniform, next to the
    * occupancy actually observed — a positive delta marks an absorbing
    * hub (flows pile into it faster than the mix shows), a negative one
    * a transient state propped up by entry traffic. Three steps is the
    * declared horizon: each is an exact integer map over the matrix, so
    * the iterate is reproducible to the last digit (a "converged"
    * float fixed point would be engine-dependent).
    *
    * Exactness: probabilities live in e6 longs; each step's term
    * (p_i·c_ij)/r_i half-up-rounds PER TERM — (2·p·c + r) DIV (2·r) —
    * then sums, identically in both engines; uniform start is the
    * floor division 10⁶ DIV k (mass may undershoot 10⁶ by < k, carried
    * through both engines identically). A target state whose mass is
    * unreachable within the horizon reports stationary 0 on BOTH sides:
    * here every state stays in the row set with p = 0, and the oracle's
    * final join is LEFT + coalesce for the same reason (its iteration
    * CTEs drop zero-mass states, which is value-equivalent mid-chain
    * but would lose the output row on an inner join — r16 review fix).
    *
    * Scale shape: q166's one corpus-scale user-keyed lag window and the
    * transition agg collapsing onto ≤ |types|² keys map-side are the
    * ONLY distributed work — the corpus is scanned exactly once. The
    * matrix itself is then a bounded control-plane gather (q67's BFS
    * class: |types|² rows of metadata), and the three iterations are
    * driver Long arithmetic; a declarative formulation re-deriving the
    * matrix subtree per iteration measured 30 static exchanges against
    * this one's 3 and bought nothing — no engine should power-iterate a
    * 25-row matrix distributively.
    */
  private def q209(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val mRel = t.events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("nxt"))
      .agg(count(lit(1)).as("c"))
    val m = graft.Iterate
      .gatherBoundedMatrix(mRel, 10000, "q209 |types|² transition matrix")
      .map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(2)))
    val r = m.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val states = m.map(_._2).distinct.sorted
    val tot = m.map(_._3).sum
    var p: Map[String, Long] = states.map(_ -> 1000000L / states.length).toMap
    for (_ <- 1 to 3)
      p = states.map { j =>
        j -> m.collect {
          case (i, jj, c) if jj == j && p.contains(i) =>
            (2 * p(i) * c + r(i)) / (2 * r(i))
        }.sum
      }.toMap
    import t.spark.implicits._
    states.map { j =>
      val obs = (2 * 1000000L * m.filter(_._2 == j).map(_._3).sum + tot) / (2 * tot)
      (j, obs, p(j), p(j) - obs)
    }.toSeq
      .toDF("event_type", "observed_e6", "stationary_e6", "delta_e6")
      .orderBy(col("event_type"))
  }

  /** Markov entropy rate of the event chain (Shannon 1948's
    * H = Σᵢ πᵢ·Hᵢ; new r16 — the order-∞ one-number closure of the
    * transition family: q166 scores each state's exits, q190 the
    * second-order contexts, q209 the stationary occupancy, THIS the
    * bits-per-event the whole chain emits and which states carry them):
    * per state, stationary mass (q209's 3-step power iteration,
    * verbatim), outgoing conditional entropy (q166's e3 expression,
    * verbatim), and `contribution_e3` = πᵢ·Hᵢ — the chain's entropy
    * rate is the column sum (spec-pinned). A low-rate chain is a
    * scripted flow no matter how flat its marginals look; the
    * contribution column names the states to read first.
    *
    * Numeric discipline: π is exact integer (per-term half-up products,
    * q209's rule); entropy is the family's single-transcendental log2
    * written character-identically in both engines; the contribution
    * product is one more exact long (π·H ≤ 2·10¹⁰) with one half-up e6
    * division. A state with no outgoing edges contributes 0 (declared:
    * its rows exit the chain).
    *
    * Scale shape: ONE corpus pass — the matrix relation is
    * localCheckpointed at ≤|types|² rows and feeds BOTH the π gather
    * (q209's bounded control-plane class) and the in-engine entropy
    * branch; everything downstream is |types|-row arithmetic.
    */
  private def q220(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val m = t.events
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type").as("nxt"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val rows = graft.Iterate
      .gatherBoundedMatrix(m, 10000, "q220 |types|² transition matrix")
      .map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(2)))
    val r = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val states = rows.map(_._2).distinct.sorted
    var p: Map[String, Long] = states.map(_ -> 1000000L / states.length).toMap
    for (_ <- 1 to 3)
      p = states.map { j =>
        j -> rows.collect {
          case (i, jj, c) if jj == j && p.contains(i) =>
            (2 * p(i) * c + r(i)) / (2 * r(i))
        }.sum
      }.toMap
    import t.spark.implicits._
    val pi = states.map(j => (j, p(j))).toSeq.toDF("state", "stationary_e6")
    val ent = m
      .withColumn("n_from", sum(col("c")).over(Window.partitionBy(col("prev"))))
      .withColumn(
        "bits_e3",
        expr("CAST(floor(-log2(CAST(c AS DOUBLE) / n_from) * 1000 + 0.5) AS BIGINT)"))
      .groupBy(col("prev"))
      .agg(expr("(2 * sum(c * bits_e3) + max(n_from)) DIV (2 * max(n_from))").as("entropy_e3"))
    pi.join(broadcast(ent), col("state") === col("prev"), "left")
      .select(
        col("state").as("event_type"), col("stationary_e6"),
        coalesce(col("entropy_e3"), lit(0L)).as("entropy_e3"))
      .withColumn(
        "contribution_e3",
        expr("(2 * stationary_e6 * entropy_e3 + 1000000) DIV (2 * 1000000)"))
      .orderBy(col("event_type"))
  }

  /** Ship-lead-time integrity audit (new r16 — q208's header-vs-lines
    * reconciliation moved to the TIME axis: keys can resolve and amounts
    * reconcile while the dates are impossible): per order priority,
    * lines shipped BEFORE their order date (probed ~49% at every SF —
    * the generator enforces no temporal invariant, which is exactly what
    * an ingest gate must detect), the e4 negative share, and nearest-rank
    * p50/p95/max lead-time days. Day differences are exact integers;
    * percentiles are q197's distribution-counting rule — one (priority,
    * lead) count, a priority-partitioned cumulative over the bounded
    * day domain, rank thresholds read off the cumulative; NO sort of the
    * fact table anywhere.
    *
    * Scale shape: the lineitem⋈orders spine joins on l_orderkey (the
    * co-bucket key — exchange-free on bucketed storage); the lead
    * histogram collapses onto ≤|priority|·|day domain| keys map-side;
    * everything after is domain-scale.
    */
  private def q224(t: Tables): DataFrame = {
    val leads = t.lineitem
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(
        t.orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        col("o_orderpriority").as("priority"),
        datediff(col("l_shipdate").cast("date"), col("o_orderdate").cast("date"))
          .cast("long").as("lead"))
    // r17 session 2: NOT checkpointed — a cutLineage here hid the
    // orderkey join spine inside the checkpoint job, which made the
    // PlanAudit bucketed-mode pin on this query vacuous
    // ("bucketed-tables-not-read") and bought nothing: the two branch
    // exchanges over this histogram are mirrored, so AQE exchange reuse
    // already runs the fact join once (the q92/q143 lesson). With the
    // percentile probes folded into one aggregation below, the relation
    // has exactly two consumers.
    val hist = leads.groupBy(col("priority"), col("lead")).agg(count(lit(1)).as("c"))
    val stats = hist.groupBy(col("priority"))
      .agg(
        sum(col("c")).as("n_lines"),
        sum(when(col("lead") < 0, col("c")).otherwise(0L)).as("n_negative"),
        max(col("lead")).as("max_lead"))
    val cum = Window.partitionBy(col("priority")).orderBy(col("lead"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("cum", sum(col("c")).over(cum))
      .join(broadcast(stats.select(col("priority").as("sp"), col("n_lines"))),
        col("priority") === col("sp"))
    // r17 session 2: both nearest-rank probes fold into one conditional-
    // min aggregation over `ranked` (q236's rewrite) — one job + one join
    // instead of two of each.
    def pctCol(p: Int) =
      min(when(col("cum") >= expr(s"($p * n_lines + 99) DIV 100"), col("lead")))
        .as(s"p${p}_lead")
    val pcts = ranked.groupBy(col("priority")).agg(pctCol(50), pctCol(95))
    stats
      .join(broadcast(pcts), Seq("priority"))
      .withColumn(
        "neg_share_e4",
        expr("(2 * 10000 * n_negative + n_lines) DIV (2 * n_lines)"))
      .select(
        col("priority"), col("n_lines"), col("n_negative"), col("neg_share_e4"),
        col("p50_lead"), col("p95_lead"), col("max_lead"))
      .orderBy(col("priority"))
  }

  /** Order-backlog curve (new r16 wave 33 — the event-sourced INVENTORY
    * readout the order-flow family still lacked: q201 tracks batch
    * validation progress, q224 prices per-line lead time, this walks the
    * ORDER-level open-vs-done balance through time, the ops chart a
    * fulfilment review opens with): per order month, orders placed,
    * orders fully shipped (finish = max l_shipdate over the order's
    * lines), both cumulative, and the end-of-month backlog = placed −
    * done (probed ramping 1737→67413 open orders across 80 months at
    * sf0.1 — strong curve structure at every SF). Orders with NO lines
    * (probed 2764 at sf0.1) never finish and sit in the backlog forever
    * — declared semantics, exactly how an order-sourced system sees a
    * never-fulfilled order. Months are integer yyyymm keys (year·100 +
    * month — never a date cast into the hash).
    *
    * Scale shape: two corpus-scale partial-aggregable passes — the
    * placed-per-month count collapses orders map-side onto the ≤|months|
    * domain, and the per-order finish is ONE max-agg shuffle on
    * l_orderkey (the co-bucket key — exchange-free on bucketed storage)
    * whose result collapses onto the same month domain; the cumulative
    * windows and the outer-join assembly run on the ~80-row month grid
    * (the q194-class declared metadata-scale global window).
    */
  private def q245(t: Tables): DataFrame = {
    val byM = Window.orderBy(col("ym")).rowsBetween(Window.unboundedPreceding, 0)
    val placed = t.orders
      .groupBy((year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
        .cast("long").as("ym"))
      .agg(count(lit(1)).as("n_placed"))
    val done = t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(max(col("l_shipdate")).as("fin"))
      .groupBy((year(col("fin")) * 100 + month(col("fin"))).cast("long").as("ym"))
      .agg(count(lit(1)).as("n_done"))
    placed
      .join(done, Seq("ym"), "full_outer")
      .select(
        col("ym"),
        coalesce(col("n_placed"), lit(0L)).as("n_placed"),
        coalesce(col("n_done"), lit(0L)).as("n_done"))
      .withColumn("placed_cum", sum(col("n_placed")).over(byM))
      .withColumn("done_cum", sum(col("n_done")).over(byM))
      .withColumn("backlog", col("placed_cum") - col("done_cum"))
      .orderBy(col("ym"))
  }

  /** Hierarchical share-of-parent revenue rollup (new r16 wave 33 — the
    * two-level PERCENT-OF-PARENT readout every BI hierarchy renders and
    * no existing entry computes: q05 prices the region arm flat, q192
    * profiles the tree's fan-out, this prices each level AGAINST its
    * parent): per nation, order revenue (e2), its e4 share of the
    * region's revenue, and the region's e4 share of global revenue —
    * the drill-down table where a mix shift is read level by level.
    *
    * Scale shape: ONE corpus-scale pass — the customer map (custkey →
    * nationkey) is a DIMENSION broadcast, so the fact rolls straight
    * onto the ≤|nations| key under partial aggregation with no
    * fact-scale exchange at all;
    * the nation/region attach and both share windows run on the 25-row
    * dim relation (declared metadata-scale global window, q194's class).
    */
  private def q246(t: Tables): DataFrame = {
    val byRegion = Window.partitionBy(col("r_name"))
    val global = Window.partitionBy()
    t.orders
      .select(
        col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("tp_e2"))
      .join(
        broadcast(t.customer.select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"), sum(col("tp_e2")).as("revenue_e2"))
      .join(
        broadcast(t.nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .join(
        broadcast(t.region.select(col("r_regionkey"), col("r_name"))),
        col("n_regionkey") === col("r_regionkey"))
      .withColumn("region_rev_e2", sum(col("revenue_e2")).over(byRegion))
      .withColumn("global_rev_e2", sum(col("revenue_e2")).over(global))
      .withColumn(
        "nation_share_e4",
        expr("(2 * 10000 * revenue_e2 + region_rev_e2) DIV (2 * region_rev_e2)"))
      .withColumn(
        "region_share_e4",
        expr("(2 * 10000 * region_rev_e2 + global_rev_e2) DIV (2 * global_rev_e2)"))
      .select(
        col("n_name"), col("r_name"), col("n_orders"), col("revenue_e2"),
        col("region_rev_e2"), col("nation_share_e4"), col("region_share_e4"))
      .orderBy(col("n_name"))
  }

  /** RFM customer segmentation (Hughes 1994's recency/frequency/monetary
    * scoring — new r16 wave 37, the classic CRM operator the
    * customer-analytics family still lacked: q119 tracks cohort
    * retention, q237 cohort value, q133 concentration — this is the
    * SEGMENTATION table a lifecycle campaign reads, every customer
    * scored 1–5 on each axis by corpus quintiles): per (r, f, m) score
    * cell, customers, mean recency days, mean order count (e2), total
    * e2 spend. Probed live structure at every SF: F spans 1–24 orders
    * (boundaries 7/9/11/13), recency 0–2083 days.
    *
    * Quintile machinery is the q231/q235 distribution-counting class —
    * NO |customers|-row global rank window: each metric's histogram
    * collapses onto its VALUE domain (≤ |distinct values| rows), one
    * domain-ordered cumulative picks the four nearest-rank boundaries,
    * and the three 1-row boundary relations broadcast back (the
    * declared q232-class scalar cross). Scores are 1 + Σ[v > b_k]
    * (ascending), recency flipped (6 − q) so 5 always reads "best".
    * All integer: spend e2-quantizes per order before the sum, means
    * are half-up integer divisions.
    *
    * Scale shape: ONE corpus-scale pass (the o_custkey rollup, partial-
    * aggregable); histograms, cumulatives, boundary folds, and the
    * ≤125-cell rollup are all customer- or domain-scale.
    */
  private def q249(t: Tables): DataFrame = {
    val cust = t.orders
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("f"),
        sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("m_e2"),
        max(col("o_orderdate")).as("last_o"))
    val maxD = t.orders.agg(max(col("o_orderdate")).as("corpus_max"))
    val base = cust
      .join(broadcast(maxD))
      .withColumn(
        "r",
        datediff(col("corpus_max").cast("date"), col("last_o").cast("date")).cast("long"))
      .select(col("o_custkey"), col("r"), col("f"), col("m_e2"))
    def bounds(c: String): DataFrame = {
      val cumW = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
      base.groupBy(col(c).as("v")).agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(cumW))
        .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
        .agg(
          min(when(col("cum") * 5 >= col("n"), col("v"))).as(s"${c}_b1"),
          min(when(col("cum") * 5 >= col("n") * 2, col("v"))).as(s"${c}_b2"),
          min(when(col("cum") * 5 >= col("n") * 3, col("v"))).as(s"${c}_b3"),
          min(when(col("cum") * 5 >= col("n") * 4, col("v"))).as(s"${c}_b4"))
    }
    val bnd = broadcast(bounds("r").join(bounds("f")).join(bounds("m_e2")))
    def score(c: String): Column =
      expr(s"CAST(1 + CASE WHEN $c > ${c}_b1 THEN 1 ELSE 0 END " +
        s"+ CASE WHEN $c > ${c}_b2 THEN 1 ELSE 0 END " +
        s"+ CASE WHEN $c > ${c}_b3 THEN 1 ELSE 0 END " +
        s"+ CASE WHEN $c > ${c}_b4 THEN 1 ELSE 0 END AS BIGINT)")
    base
      .join(bnd)
      .withColumn("r_score", lit(6L) - score("r"))
      .withColumn("f_score", score("f"))
      .withColumn("m_score", score("m_e2"))
      .groupBy(col("r_score"), col("f_score"), col("m_score"))
      .agg(
        count(lit(1)).as("n_customers"),
        expr("(2 * sum(r) + count(1)) DIV (2 * count(1))").as("mean_rec_days"),
        expr("(2 * 100 * sum(f) + count(1)) DIV (2 * count(1))").as("mean_orders_e2"),
        sum(col("m_e2")).as("total_m_e2"))
      .orderBy(col("r_score"), col("f_score"), col("m_score"))
  }

  /** Supplier Pareto-frontier (skyline) query (Börzsönyi, Kossmann &
    * Stocker 2001 — new r16 wave 38: the PREFERENCE-QUERY operator
    * class, first of its kind in the suite; every prior supplier
    * readout ranks on ONE axis, this returns the suppliers no one
    * strictly beats on BOTH): per supplier, mean ship-lead days (e2,
    * SIGNED — this generator ships some lines before the order date)
    * and mean unit price (e4); the skyline = suppliers not dominated
    * (∃ other ≤ on both axes, < on one). Probed 2/1000→16/1000
    * frontier members across SFs — real curve structure. Output is the
    * frontier with per-supplier metrics plus the global
    * (n_suppliers, n_skyline) pair repeated (q221's convention).
    *
    * The dominance test is NOT the textbook O(n²) EXISTS self-join: with
    * two criteria, sort by lead and keep two running minima of price —
    * dominated(s) ⟺ min{price' : lead' < lead} ≤ price  (value-RANGE
    * frame to 1 PRECEDING)  ∨  min{price' : lead' ≤ lead} < price.
    * Exact under ties and duplicates (identical pairs never dominate
    * each other — both conditions need a strict side). Signed lead
    * means run on the +10⁷-shifted non-negative form (q158's rule).
    *
    * Scale shape: ONE corpus-scale l_suppkey rollup (partial-aggregable;
    * the lineitem⋈orders spine shuffles on the co-bucket key); the sort,
    * both RANGE windows, and the frontier filter run on the SUPPLIER
    * DIMENSION (the declared dim-scale global-window class — at any
    * corpus size this relation is |suppliers| rows); the name attach is
    * a dim broadcast.
    */
  private def q250(t: Tables): DataFrame = {
    val Shift = 10000000L
    val per = t.lineitem
      .select(
        col("l_orderkey"), col("l_suppkey"), col("l_shipdate"),
        expr("CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT)").as("unit_e2"))
      .join(t.orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(expr("CAST(datediff(CAST(l_shipdate AS DATE), CAST(o_orderdate AS DATE)) AS BIGINT)"))
          .as("lead_sum"),
        sum(col("unit_e2")).as("price_sum"))
      .withColumn(
        "lead_e2",
        expr(s"(2 * (100 * lead_sum + n_lines * $Shift) + n_lines) DIV (2 * n_lines) - $Shift"))
      .withColumn("price_e4", expr("(2 * 100 * price_sum + n_lines) DIV (2 * n_lines)"))
      .select(col("l_suppkey"), col("n_lines"), col("lead_e2"), col("price_e4"))
    val byLeadStrict = Window.orderBy(col("lead_e2")).rangeBetween(Window.unboundedPreceding, -1)
    val byLeadIncl = Window.orderBy(col("lead_e2")).rangeBetween(Window.unboundedPreceding, 0)
    val flagged = per
      .withColumn("min_strict", min(col("price_e4")).over(byLeadStrict))
      .withColumn("min_incl", min(col("price_e4")).over(byLeadIncl))
      .withColumn(
        "dominated",
        (col("min_strict").isNotNull && col("min_strict") <= col("price_e4")) ||
          col("min_incl") < col("price_e4"))
    val totals = flagged.agg(
      count(lit(1)).as("n_suppliers"),
      sum(when(!col("dominated"), 1L).otherwise(0L)).as("n_skyline"))
    flagged
      .filter(!col("dominated"))
      .join(
        broadcast(t.supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(totals))
      .select(
        col("s_suppkey"), col("s_name"), col("n_lines"), col("lead_e2"),
        col("price_e4"), col("n_suppliers"), col("n_skyline"))
      .orderBy(col("lead_e2"), col("price_e4"), col("s_suppkey"))
  }

  /** Theil's uncertainty coefficient over the (declared lang × source)
    * matrix (Theil 1970 — new r16 wave 39: the DIRECTIONAL association
    * statistic completing the trio on q31's confusion surface: q206's
    * chi² says the two columns are associated, q238's kappa says how
    * far declared agrees with detected, this says WHICH WAY the
    * information flows — U(lang|source) is the share of language
    * entropy the source identity removes, U(source|lang) the reverse,
    * and they differ exactly when one attribute is a refinement of the
    * other): per source, docs and the conditional language entropy
    * H(lang|s) in e3 bits, plus the four global readouts repeated per
    * row (q221's convention): H(lang), H(lang|source), and both e4
    * U directions.
    *
    * Numerics: q166's entropy discipline exactly — per-cell bits
    * quantize half-up to e3 BEFORE the weighted sums, every division is
    * a half-up integer op. Theoretically H(lang|source) ≤ H(lang); e3
    * rounding can flip a near-equality by one unit, so the U numerator
    * clamps at 0 (greatest — declared, the statistic is ≥ 0 by
    * definition).
    *
    * Scale shape: ONE corpus-scale (lang, source) count whose exchange
    * every marginal/conditional branch AQE-reuses (q238's class);
    * marginals, both conditional-entropy rollups, and the global folds
    * are all ≤|langs|·|sources| grid-scale.
    */
  private def q251(t: Tables): DataFrame = {
    val bits = (den: String) =>
      expr(s"CAST(floor(-log2(CAST(n AS DOUBLE) / $den) * 1000 + 0.5) AS BIGINT)")
    val cells = t.documents.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    val srcMarg = cells.groupBy(col("source")).agg(sum(col("n")).as("n_s"))
    val langMarg = cells.groupBy(col("lang")).agg(sum(col("n")).as("n_l"))
    val tot = srcMarg.agg(sum(col("n_s")).as("nn"))
    val hS = cells
      .join(broadcast(srcMarg), Seq("source"))
      .withColumn("bits_e3", bits("n_s"))
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_docs"),
        expr("(2 * sum(n * bits_e3) + max(n_s)) DIV (2 * max(n_s))").as("h_lang_s_e3"))
    val hCondLang = hS
      .agg(sum(col("n_docs") * col("h_lang_s_e3")).as("wsum"), sum(col("n_docs")).as("nn2"))
      .select(expr("(2 * wsum + nn2) DIV (2 * nn2)").as("h_lang_cond_e3"))
    val hL = cells
      .join(broadcast(langMarg), Seq("lang"))
      .withColumn("bits_e3", bits("n_l"))
      .groupBy(col("lang"))
      .agg(
        max(col("n_l")).as("n_l"),
        expr("(2 * sum(n * bits_e3) + max(n_l)) DIV (2 * max(n_l))").as("h_src_l_e3"))
    val hCondSrc = hL
      .agg(sum(col("n_l") * col("h_src_l_e3")).as("wsum"), sum(col("n_l")).as("nn2"))
      .select(expr("(2 * wsum + nn2) DIV (2 * nn2)").as("h_src_cond_e3"))
    val hLang = langMarg
      .join(broadcast(tot))
      .select(col("n_l").as("n"), col("nn"))
      .withColumn("bits_e3", bits("nn"))
      .agg(expr("(2 * sum(n * bits_e3) + max(nn)) DIV (2 * max(nn))").as("h_lang_e3"))
    val hSrc = srcMarg
      .join(broadcast(tot))
      .select(col("n_s").as("n"), col("nn"))
      .withColumn("bits_e3", bits("nn"))
      .agg(expr("(2 * sum(n * bits_e3) + max(nn)) DIV (2 * max(nn))").as("h_src_e3"))
    val globals = hLang
      .join(broadcast(hCondLang))
      .join(broadcast(hSrc))
      .join(broadcast(hCondSrc))
      .withColumn(
        "u_lang_src_e4",
        expr("(2 * 10000 * greatest(h_lang_e3 - h_lang_cond_e3, 0) + h_lang_e3) " +
          "DIV (2 * h_lang_e3)"))
      .withColumn(
        "u_src_lang_e4",
        expr("(2 * 10000 * greatest(h_src_e3 - h_src_cond_e3, 0) + h_src_e3) " +
          "DIV (2 * h_src_e3)"))
      .select(
        col("h_lang_e3"), col("h_lang_cond_e3"), col("u_lang_src_e4"), col("u_src_lang_e4"))
    hS.join(broadcast(globals))
      .select(
        col("source"), col("n_docs"), col("h_lang_s_e3"),
        col("h_lang_e3"), col("h_lang_cond_e3"), col("u_lang_src_e4"), col("u_src_lang_e4"))
      .orderBy(col("source"))
  }

  /** Mergeable-sketch distinct rollup (new r16 wave 40 — the INCREMENTAL
    * distinct-count pattern a 100 TB deployment actually runs: q56
    * checks the one-shot estimator, q234 pays an exact distinct per
    * window; this proves the LEDGER form — one DataSketches HLL sketch
    * per day, any date range answered by REGISTER-MAX UNION of stored
    * sketches, no raw re-scan): per epoch WEEK (day DIV 7 — the corpus
    * spans one calendar month, so weeks are the populated range axis;
    * probed 5 rows at every SF), attributed days, exact distinct users,
    * and whether the union-of-day-sketches estimate lands within 10%
    * (≈6σ at lgK=12 — chosen so a correct estimator NEVER trips the
    * boolean; q56's both-engines-check-their-own-estimator oracle
    * convention, the exact mergeability pin lives in HllStoreSpec:
    * estimate(union of day sketches) ≡ estimate(direct range sketch)).
    * With `graft.hll.store` set the per-day sketch relation reads the
    * persistent [[graft.sources.HllStore]] ledger instead of
    * re-deriving — the store consumer a dashboard session is.
    *
    * Scale shape: derived path is ONE corpus-scale (day) sketch agg
    * (partial-aggregable — HLL buffers merge map-side) plus the exact
    * audit's (week, user) distinct; store path replaces the first with
    * a ≤|days|-row ledger read. The week rollup unions ≤7 sketches per
    * group.
    */
  private def q252(t: Tables): DataFrame = {
    val store = t.spark.conf.get("graft.hll.store", "")
    val daySk =
      if (store.isEmpty) graft.sources.HllStore.daySketches(t.events)
      // provenance-checked read (r16 advice): a graft.hll.store pointing
      // at a ledger built from a DIFFERENT corpus/SF fails loudly instead
      // of silently inner-joining wrong merged_est_ok rows
      else graft.sources.HllStore.sketches(t.spark, store, expectCorpus = Some(t.dir))
    val weekly = daySk
      .withColumn("wk", expr("day DIV 7"))
      .groupBy(col("wk"))
      .agg(
        count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = t.events
      .filter(col("user_id").isNotNull)
      .groupBy(expr("(unix_micros(ts) DIV 86400000000) DIV 7").as("wk"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact
      .join(weekly, Seq("wk"))
      .select(
        col("wk"), col("n_days"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <= col("exact_users") * 0.1)
          .as("merged_est_ok"))
      .orderBy(col("wk"))
  }

  /** Line-sequence integrity audit (new r16 wave 42 — the ROW-SEQUENCE
    * completeness check an ingest validator runs next to q176's key
    * resolution, q207's FD conformance and q208's amount reconciliation:
    * a multi-row business object's child rows carry a dense 1..n
    * sequence by contract, and a dup/gap/late-start in it is a lost or
    * double-applied row the amount checks can miss): every order
    * classified by its l_linenumber sequence — `clean` (exactly 1..n),
    * `duplicate` (a repeated number — dup wins classification: a dup
    * means a possible double-apply regardless of span), `late_start`
    * (distinct numbers, first > 1 — leading rows lost), `gap` (starts at
    * 1, distinct, but the span overshoots — interior rows lost); per
    * class, orders, lines, the worst sequence span, and the smallest
    * example order key for triage. Probed all four classes live at
    * every SF (37/833/412/191 at sf0.001 — this generator does NOT
    * honor the dense contract, which is exactly what the audit is for).
    *
    * Scale shape: ONE corpus-scale l_orderkey rollup (the co-bucket key
    * — exchange-free on bucketed storage, partial-aggregable: count,
    * min, max, distinct-count of a small int); the classification and
    * the 4-row class rollup ride the |orders|-scale relation.
    */
  private def q253(t: Tables): DataFrame =
    t.lineitem
      .groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n"),
        min(col("l_linenumber")).as("mn"),
        max(col("l_linenumber")).as("mx"),
        countDistinct(col("l_linenumber")).as("nd"))
      .withColumn(
        "class",
        when(col("nd") < col("n"), "duplicate")
          .when(col("mn") > 1, "late_start")
          .when(col("mx") > col("n"), "gap")
          .otherwise("clean"))
      .groupBy(col("class"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("n")).as("n_lines"),
        max(col("mx") - col("mn")).cast("long").as("max_span"),
        min(col("l_orderkey")).as("example_orderkey"))
      .orderBy(col("class"))

  /** Cumulative gains (Lorenz) table over customer revenue (new r16
    * wave 43 — the CURVE the concentration family's single numbers
    * summarize: q173's HHI, q163's Gini and q133's top-decile share
    * each collapse inequality to one scalar; this is the 10-row
    * decile-by-decile cumulative-share table a campaign-targeting or
    * key-account review actually reads, "the top k/10 of customers
    * carry X% of revenue" for every k): customers ranked by e2 spend
    * descending, per spend-decile the customers, revenue, cumulative
    * revenue, and both e4 cumulative shares (customers, revenue).
    *
    * Tie discipline: customers with EQUAL spend are never split across
    * deciles — each spend-value group lands in the decile of its last
    * cumulative position (((cum−1)·10) DIV N + 1; declared, and the
    * reason n_customers per decile can wobble around N/10). This keeps
    * the whole derivation on the VALUE DOMAIN: a spend histogram, one
    * domain-ordered cumulative, no |customers|-row rank window (q249's
    * distribution-counting class).
    *
    * Scale shape: ONE corpus-scale o_custkey rollup (partial-
    * aggregable); the histogram collapses onto distinct spend values,
    * the descending cumulative and decile rollup ride the value domain
    * (declared metadata-scale window class); output ≤ 10 rows.
    */
  private def q254(t: Tables): DataFrame = {
    val hist = t.orders
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("spend_e2"))
      .groupBy(col("spend_e2"))
      .agg(count(lit(1)).as("cnt"))
    val cumW = Window.orderBy(col("spend_e2").desc).rowsBetween(Window.unboundedPreceding, 0)
    hist
      .withColumn("cum_cnt", sum(col("cnt")).over(cumW))
      .withColumn("cum_rev", sum(col("spend_e2") * col("cnt")).over(cumW))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
      .withColumn("total_rev", sum(col("spend_e2") * col("cnt")).over(Window.partitionBy()))
      .withColumn("decile", expr("((cum_cnt - 1) * 10) DIV n + 1"))
      .groupBy(col("decile"))
      .agg(
        sum(col("cnt")).as("n_customers"),
        sum(col("spend_e2") * col("cnt")).as("rev_e2"),
        max(col("cum_cnt")).as("cum_customers"),
        max(col("cum_rev")).as("cum_rev_e2"),
        max(col("n")).as("n_total"),
        max(col("total_rev")).as("rev_total"))
      .withColumn(
        "cum_cust_share_e4",
        expr("(2 * 10000 * cum_customers + n_total) DIV (2 * n_total)"))
      .withColumn(
        "cum_rev_share_e4",
        expr("(2 * 10000 * cum_rev_e2 + rev_total) DIV (2 * rev_total)"))
      .select(
        col("decile"), col("n_customers"), col("rev_e2"), col("cum_rev_e2"),
        col("cum_cust_share_e4"), col("cum_rev_share_e4"))
      .orderBy(col("decile"))
  }

  /** Quantile-ledger rollup (new r17 — q252's mergeable-sketch pattern on
    * the PERCENTILE axis, the third partial-state family: counts re-add
    * (FreqStore), HLL registers re-max (q252), KLL retained sets
    * re-merge (this)): per epoch week, attributed events, exact
    * nearest-rank p50/p95 of the e2-quantized event value (q224's
    * distribution-counting rule — never a fact sort), and whether the
    * UNION-OF-DAY-SKETCHES estimates land within the declared bound
    * (10% of the week's value span, floor 100 e2 — ≥6x KLL k=200's
    * ~1.65% rank error for this distribution, so a correct estimator
    * never trips the boolean; q56/q252's both-engines-check-their-own-
    * estimator oracle convention, DuckDB grading its t-digest
    * `approx_quantile` the same way). With `graft.kll.store` set the
    * per-day sketch relation reads the persistent
    * [[graft.sources.KllStore]] ledger (provenance-checked) instead of
    * re-deriving — "p50 over any window" with zero raw re-scan.
    *
    * Scale shape: derived path is ONE corpus-scale (day) sketch agg
    * (partial-aggregable — KLL buffers merge map-side) + ONE corpus-
    * scale (wk, v) histogram (collapses onto the value domain map-side,
    * q197/q235's class); store path replaces the sketch agg with a
    * ≤|days|-row ledger read. Week merges union ≤7 sketches; the
    * cumulative/rank-pick chain rides the value-domain histogram.
    */
  private def q255(t: Tables): DataFrame = {
    import graft.functions.GraftFunctions.{kll_merge_agg, kll_quantile}
    val store = t.spark.conf.get("graft.kll.store", "")
    val daySk =
      if (store.isEmpty) graft.sources.KllStore.daySketches(t.events)
      else graft.sources.KllStore.sketches(t.spark, store, expectCorpus = Some(t.dir))
    val weekly = daySk
      .withColumn("wk", expr("day DIV 7"))
      .groupBy(col("wk"))
      .agg(kll_merge_agg(col("sk")).as("sk"))
      .select(
        col("wk").as("wwk"),
        kll_quantile(col("sk"), 0.5).cast("long").as("a50"),
        kll_quantile(col("sk"), 0.95).cast("long").as("a95"))
    val ev = t.events
      .filter(col("value").isNotNull)
      .select(
        expr("(unix_micros(ts) DIV 86400000000) DIV 7").as("wk"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v"))
    val hist = ev.groupBy(col("wk"), col("v")).agg(count(lit(1)).as("c"))
    val stats = hist.groupBy(col("wk"))
      .agg(sum(col("c")).as("n_events"), min(col("v")).as("mn"), max(col("v")).as("mx"))
    val cum = Window.partitionBy(col("wk")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist
      .withColumn("cum", sum(col("c")).over(cum))
      .join(broadcast(stats.select(col("wk").as("sw"), col("n_events"))), col("wk") === col("sw"))
    // r17 session 2: one conditional-min aggregation computes both
    // nearest-rank probes (q236/q224's rewrite) — the ranked relation and
    // the corpus histogram under it run once instead of per-percentile.
    def pctCol(p: Int) =
      min(when(col("cum") >= expr(s"($p * n_events + 99) DIV 100"), col("v")))
        .as(s"p${p}_v")
    val pcts = ranked.groupBy(col("wk")).agg(pctCol(50), pctCol(95))
    stats
      .join(broadcast(pcts), Seq("wk"))
      .join(broadcast(weekly), col("wk") === col("wwk"))
      .withColumn("tol", greatest(lit(100L), expr("(mx - mn) DIV 10")))
      .select(
        col("wk"), col("n_events"), col("p50_v"), col("p95_v"),
        (abs(col("a50") - col("p50_v")) <= col("tol") &&
          abs(col("a95") - col("p95_v")) <= col("tol")).as("ledger_ok"))
      .orderBy(col("wk"))
  }

  /** Kaplan-Meier fulfilment-survival curve in log space (Kaplan & Meier
    * 1958 — SURVIVAL ANALYSIS, a class the suite lacked: q224 prices the
    * lead-time distribution of COMPLETED lines, q245 counts the open
    * backlog; this is the censoring-correct "how long until an order
    * fully ships" curve both of those approximate): per fulfilment WEEK
    * (floor((max ship − order date)/7) — explicit floor, never DIV,
    * because ~half the synthetic fulfilments land BEFORE the order date
    * and truncating division would disagree between engines on negative
    * weeks), completions d_t, the risk set n_t (orders not yet complete
    * at t, plus the never-completing orders — no lineitem rows, probed
    * 257 at sf0.01 — which stay at risk forever: right-censoring, the
    * thing a naive completed-only average silently drops), the KM hazard
    * term −ln(1 − d/n) in e6, and the cumulative negative log survival
    * (log-space so the running statistic is an exact integer SUM — a
    * per-step rounded PRODUCT would compound rounding engine-side).
    * The d=n guard (survival hits zero, term infinite) is declared NULL
    * on both engines; it cannot fire while any order is censored.
    *
    * Scale shape: per-order max-ship is ONE l_orderkey agg (the
    * co-bucket key; proven r17, see "Bucketed layout proof"); the week
    * histogram collapses map-side onto the ≤|week domain| keys; the
    * single-row totals broadcast back (q232's scalar class) and the
    * cumulative runs on the week-domain relation (q136's bounded class).
    */
  private def q257(t: Tables): DataFrame = {
    val fin = t.lineitem
      .select(col("l_orderkey"), col("l_shipdate"))
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("ship"))
    val per = t.orders
      .select(col("o_orderkey"), col("o_orderdate"))
      .join(fin, col("o_orderkey") === col("l_orderkey"), "left")
      .select(
        when(col("ship").isNotNull,
          expr("CAST(floor(datediff(CAST(ship AS DATE), CAST(o_orderdate AS DATE)) / 7.0) AS BIGINT)"))
          .as("wk"))
    val tot = per.agg(
      sum(when(col("wk").isNotNull, 1L).otherwise(0L)).as("ct"),
      sum(when(col("wk").isNull, 1L).otherwise(0L)).as("cen"))
    val cum = Window.orderBy(col("wk")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.filter(col("wk").isNotNull)
      .groupBy(col("wk")).agg(count(lit(1)).as("d"))
      .withColumn("cumd", sum(col("d")).over(cum))
      .join(broadcast(tot))
      .withColumn("n_at_risk", col("ct") - (col("cumd") - col("d")) + col("cen"))
      .withColumn(
        "km_term_e6",
        when(col("n_at_risk") > col("d"),
          expr("CAST(floor(-ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)) " +
            "* 1000000 + 0.5) AS BIGINT)")))
      .withColumn("cum_neg_log_surv_e6", sum(col("km_term_e6")).over(cum))
      .select(
        col("wk"), col("d").as("n_events"), col("n_at_risk"),
        col("km_term_e6"), col("cum_neg_log_surv_e6"))
      .orderBy(col("wk"))
  }

  /** SCD2 validity intervals from the event stream (Kimball's type-2
    * slowly-changing dimension — the TEMPORAL-TABLE build every lake
    * runs to turn a change stream into point-in-time joinable history;
    * q184 CONSUMES such intervals for PIT snapshots, this BUILDS them):
    * per user, consecutive same-type event runs collapse to one row with
    * [valid_from, valid_to) in exact epoch µs (valid_to = next run's
    * start; NULL = the open current interval), run sequence number, and
    * the run's event count. Gaps-and-islands via the lag-flag cumulative
    * (q125's kernel on the TYPE-change axis instead of the day axis).
    *
    * Scale shape: ONE user_id shuffle carries everything — the lag/flag
    * window, the cumulative run-id, the (user, run) rollup (subset of
    * the window key — no re-exchange) and the lead() that closes each
    * interval; user_id is the event-lake bucket key (proven r17, see
    * "Bucketed layout proof").
    */
  private def q260(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val runs = t.events
      .filter(col("user_id").isNotNull)
      .select(
        col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("us"))
      .withColumn(
        "flag",
        when(lag(col("event_type"), 1).over(w).isNull
          .or(lag(col("event_type"), 1).over(w) =!= col("event_type")), 1L)
          .otherwise(0L))
      .withColumn(
        "run_id",
        sum(col("flag")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val byRun = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
    runs
      .groupBy(col("user_id"), col("run_id"))
      .agg(
        min(col("event_type")).as("event_type"),
        min(col("us")).as("valid_from_us"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(byRun))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select(
        col("user_id"), col("run_id"), col("event_type"), col("valid_from_us"),
        col("valid_to_us"), col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("run_id"))
  }

  /** Neyman-allocation stratified sampling design (Neyman 1934 — the
    * SAMPLING-DESIGN table the mix family stops short of: q65/q128 set
    * corpus mix targets by size, q94 caps, q104 samples clusters; this
    * allocates a fixed audit budget of 1000 docs OPTIMALLY, n_h ∝
    * N_h·σ_h, so high-variance strata get the samples that minimize the
    * estimator's variance): per source, docs, the length stddev, the
    * Neyman weight and the integer allocation by LARGEST REMAINDER
    * (Hamilton apportionment — floor quotas, then +1 to the biggest
    * remainders until the budget is exact; Σ alloc = 1000 by
    * construction, spec-pinned).
    *
    * Exactness: σ is computed from exact integer moments — n·Σx²−(Σx)²
    * is an exact long in both engines, sqrt of that single integer is
    * the suite's one-transcendental rule (a naive stddev_pop's double
    * accumulation order is engine-internal and could flip the e3
    * quantization); quotas/remainders are pure integer arithmetic from
    * there, ties broken by source name.
    *
    * Scale shape: ONE corpus-scale source rollup (partial-aggregable
    * moments); the apportionment windows run on the |sources| relation
    * (domain-bounded global-window class, q136's exemption).
    */
  private def q258(t: Tables): DataFrame = {
    val st = t.documents
      .select(col("source"), length(col("text")).cast("long").as("len"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("len")).as("sx"),
        sum(col("len") * col("len")).as("sxx"))
      .withColumn("varnum", col("n_docs") * col("sxx") - col("sx") * col("sx"))
      .withColumn(
        "sigma_e3",
        expr("CAST(floor(1000.0 * sqrt(CAST(varnum AS DOUBLE)) / n_docs + 0.5) AS BIGINT)"))
      .withColumn("weight", col("n_docs") * col("sigma_e3"))
    val all = Window.partitionBy()
    st
      .withColumn("w_total", sum(col("weight")).over(all))
      .withColumn("base", expr("(1000 * weight) DIV w_total"))
      .withColumn("rem", expr("(1000 * weight) % w_total"))
      .withColumn("base_total", sum(col("base")).over(all))
      .withColumn("rk", row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      .withColumn(
        "alloc",
        col("base") + when(col("rk") <= lit(1000L) - col("base_total"), 1L).otherwise(0L))
      .select(col("source"), col("n_docs"), col("sigma_e3"), col("weight"), col("alloc"))
      .orderBy(col("source"))
  }

  /** Benford first-digit audit over order amounts (Newcomb 1881 /
    * Benford 1938; Nigrini's forensic-accounting staple — the
    * FRAUD/FABRICATION screen the amount-integrity family lacked: q208
    * reconciles sums, q207 checks FDs, this tests whether the amounts
    * LOOK like organically-grown numbers): per leading digit 1–9 of
    * o_totalprice, observed orders, observed share (e6), the Benford
    * expectation log10(1 + 1/d) (e6), and the signed deviation. The
    * synthetic generator draws prices from a bounded uniform-ish range,
    * so the table SHOWS a massive 1–4 excess (probed ~10:1 over 5–9 at
    * every SF) — exactly the signature the audit exists to surface; on
    * organic multi-scale amounts the deltas flatten.
    *
    * Exactness: the leading digit comes from the e2-quantized integer's
    * decimal string (identical in both engines — never from double
    * formatting); the expectation is log2((d+1)/d)/log2(10) — the
    * family's log2 on 1-digit rationals, quantized e6 half-up once.
    *
    * Scale shape: ONE corpus-scale 9-key rollup (partial map-side);
    * the share join rides a single-row totals broadcast.
    */
  private def q261(t: Tables): DataFrame = {
    val digits = t.orders
      .select(expr(
        "CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING), 1, 1) AS INT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_orders"))
    val tot = digits.agg(sum(col("n_orders")).as("n_total"))
    digits
      .join(broadcast(tot))
      .withColumn("share_e6", expr("(2 * 1000000 * n_orders + n_total) DIV (2 * n_total)"))
      .withColumn(
        "benford_e6",
        expr("CAST(floor(log2((CAST(digit AS DOUBLE) + 1.0) / CAST(digit AS DOUBLE)) " +
          "/ log2(10.0D) * 1000000 + 0.5) AS BIGINT)"))
      .withColumn("delta_e6", col("share_e6") - col("benford_e6"))
      .select(col("digit"), col("n_orders"), col("share_e6"), col("benford_e6"), col("delta_e6"))
      .orderBy(col("digit"))
  }

  /** Poisson-bootstrap confidence intervals for per-source mean document
    * length (Efron 1979; the Poisson(1)-weight streaming form is the
    * standard distributed bootstrap — Chamandy et al. 2012 — because it
    * needs no sampling WITH replacement across partitions: each (doc,
    * replicate) draws an independent Poisson(1) multiplicity): per
    * source, the full-sample mean and the nearest-rank 2.5%/97.5%
    * bounds over B=200 resampled means — the UNCERTAINTY-QUANTIFICATION
    * operator the point-estimate family (q30 means, q91 outliers, q231
    * MAD) stops short of: it answers "is src3's mean REALLY higher than
    * src7's, or is that noise at n=250".
    *
    * Determinism (the whole trick): the Poisson draw is a pure integer
    * function of (doc_id, b) — two rounds of Knuth multiplicative
    * hashing mod 2³¹ (q64's engine-stable class; high bits taken via
    * (h·10⁷) DIV 2³¹), then the weight counts fixed integer thresholds
    * (the Poisson(1) CDF at e7: 3678794, 7357589, … — CONSTANTS, so no
    * engine ever evaluates exp(−1)). Probed: weight distribution
    * matches Poisson(1) to 3 decimals; resample means of one source
    * spread ±7% around the point estimate. Resample means are half-up
    * e3 integers; an all-zero-weight replicate (P ≈ e^−n) is dropped by
    * both engines identically.
    *
    * Scale shape: the ×B explode is map-side next to the scan; ONE
    * corpus-scale (source, b) partial-aggregable shuffle carries the
    * weighted sums; the rank pick runs per source on B-row groups
    * (domain-bounded window class) and the full-sample rollup reuses
    * the source key.
    */
  private def q262(t: Tables): DataFrame = {
    val B = 200
    val docs = t.documents
      .select(col("doc_id"), col("source"), length(col("text")).cast("long").as("len"))
    val weighted = docs
      .select(col("doc_id"), col("source"), col("len"),
        explode(expr(s"sequence(0, ${B - 1})")).as("b"))
      .withColumn(
        "u",
        expr("((((((doc_id * 131071 + b + 1) % 2147483648) * 2654435761) % 2147483648) " +
          "* 2654435761 % 2147483648) * 10000000) DIV 2147483648"))
      .withColumn(
        "w",
        expr(Seq(3678794L, 7357589L, 9196986L, 9810118L, 9963402L, 9994058L, 9999168L)
          .map(th => s"CASE WHEN u >= $th THEN 1L ELSE 0L END").mkString(" + ")))
    val means = weighted
      .groupBy(col("source"), col("b"))
      .agg(sum(col("w") * col("len")).as("swl"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .withColumn("mean_e3", expr("(2 * 1000 * swl + sw) DIV (2 * sw)"))
      .withColumn("n_reps", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn(
        "rn",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("mean_e3"), col("b"))))
    val ci = means
      .groupBy(col("source"))
      .agg(
        max(col("n_reps")).as("n_reps"),
        min(when(col("rn") >= expr("CAST(ceil(0.025 * n_reps) AS BIGINT)"), col("mean_e3")))
          .as("boot_lo_e3"),
        min(when(col("rn") >= expr("CAST(ceil(0.975 * n_reps) AS BIGINT)"), col("mean_e3")))
          .as("boot_hi_e3"))
    docs
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("(2 * 1000 * sum(len) + count(1)) DIV (2 * count(1))").as("mean_e3"))
      .join(ci, Seq("source"))
      .select(
        col("source"), col("n_docs"), col("mean_e3"),
        col("boot_lo_e3"), col("boot_hi_e3"),
        (col("boot_hi_e3") - col("boot_lo_e3")).as("ci_width_e3"))
      .orderBy(col("source"))
  }

  /** Shard-rebalance audit — rendezvous (highest-random-weight) hashing
    * vs modulo placement when the shard count grows 16 → 17 (Thaler &
    * Ravishankar 1998; the consistent-placement property Karger et al.
    * 1997 made famous — the PLACEMENT-DESIGN operator the split family
    * stops short of: q64/q103 assign static splits, this measures what a
    * topology CHANGE costs each scheme): per method, docs, docs whose
    * shard changes, the movement share (e6), how many of the moved land
    * on the NEW shard (for HRW that is ALL of them — minimal disruption
    * is the theorem, spec-pinned), and the max/min shard load after the
    * grow. Modulo placement reshuffles ~16/17 of the corpus for the same
    * event; at 100 TB that asymmetry is the difference between a
    * one-evening topology change and a week of cluster I/O.
    *
    * Determinism: the per-(doc, shard) weight is q64's seedless Knuth
    * multiplicative hash re-mixed per shard (pure BIGINT arithmetic,
    * engine-stable); the argmax packs the weight and the shard id into
    * ONE long (h·32 + s) so list-max needs no struct ordering and ties
    * resolve to the larger shard id identically in both engines.
    *
    * Scale shape: both argmaxes are per-row array folds NEXT TO THE SCAN
    * (codegen'd transform/array_max over a 16/17-element literal range —
    * no explode, no join, no shuffle for candidate weights); the 2×
    * method unpivot rides the same map side, and the ONLY exchange is
    * the partial-aggregable rollup onto ≤ 2·17 (method, shard) keys plus
    * the 2-row method fold.
    */
  private def q266(t: Tables): DataFrame = {
    // the per-shard weight must be NONLINEAR in s: a single multiplicative
    // round makes the 16/17 weights an arithmetic progression mod p, whose
    // argmax barely moves when a term is appended (probed 2/500 moved,
    // loads 2..40). Squaring the mixed value mod p (mid-square) breaks the
    // linearity: probed 37/500 moved (E = 500/17 ~ 29), loads 19..38.
    def hrwPick(n: Int): String = {
      val m1 = "((h0 + (s + 1) * 40503) * 2654435761) % 2147483647"
      s"array_max(transform(sequence(0, ${n - 1}), " +
        s"s -> ($m1) * ($m1) % 2147483647 * 32 + s)) % 32"
    }
    val assigned = t.documents
      .select(col("doc_id"))
      .withColumn("h0", expr("(doc_id % 2147483647) * 2654435761 % 2147483647"))
      .withColumn("r16", expr(hrwPick(16)))
      .withColumn("r17", expr(hrwPick(17)))
      .select(
        explode(array(
          struct(lit("rendezvous").as("method"), col("r16").as("s_old"), col("r17").as("s_new")),
          struct(lit("mod").as("method"),
            expr("h0 % 16").as("s_old"), expr("h0 % 17").as("s_new")))).as("a"))
      .select(col("a.method"), col("a.s_old"), col("a.s_new"))
    assigned
      .groupBy(col("method"), col("s_new"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("s_old") =!= col("s_new"), 1L).otherwise(0L)).as("mv"),
        sum(when(col("s_old") =!= col("s_new") && col("s_new") === 16, 1L).otherwise(0L))
          .as("mvn"))
      .groupBy(col("method"))
      .agg(
        sum(col("n")).as("n_docs"), sum(col("mv")).as("n_moved"),
        sum(col("mvn")).as("moved_to_new"),
        max(col("n")).as("max_load"), min(col("n")).as("min_load"))
      .withColumn("moved_share_e6", expr("(2 * 1000000 * n_moved + n_docs) DIV (2 * n_docs)"))
      .select(
        col("method"), col("n_docs"), col("n_moved"), col("moved_share_e6"),
        col("moved_to_new"), col("max_load"), col("min_load"))
      .orderBy(col("method"))
  }

  /** Mann-Kendall trend test + Theil-Sen slope on monthly order volume
    * per priority (Mann 1945 / Kendall 1948; Sen 1968 — the ROBUST
    * nonparametric trend pair every monitoring stack runs before
    * alerting on "volume is drifting": q138 flags single anomalous
    * days against a global band, q204 scores a seasonal-naive
    * forecast; this answers the third question — is there a MONOTONE
    * drift, with a significance statistic that no single outlier month
    * can swing): per order priority, months observed, the exact integer
    * S statistic (Σ sign of all pairwise monthly-revenue differences —
    * revenue, not order counts: the integer-count series' pairwise
    * slopes are mostly exact ties, collapsing the Sen median to a
    * constant 0), the EXACT 18·Var(S) integer (tie-corrected:
    * m(m−1)(2m+5) − Σ t(t−1)(2t+5) over tied value groups — kept as
    * the un-divided integer so the hash compare is exact), the
    * continuity-corrected Z in e4, and the Theil-Sen slope
    * (nearest-rank lower median of all pairwise slopes) in cents/month.
    *
    * Exactness: S and 18·Var(S) are pure integer arithmetic; Z is one
    * sqrt + one division on the same integers both engines (the
    * one-transcendental rule); each pairwise slope is an IEEE division
    * of two small exact integers, the median PICKS one such value by
    * row_number over (slope, m1, m2) — a unique total order — and only
    * the picked value quantizes e4.
    *
    * Scale shape: ONE corpus-scale partial-aggregable rollup onto the
    * ≤|priorities|·|months| grid; the pair self-join, tie rollup, and
    * median window all run on that bounded relation (q204's |days|²
    * metadata-grid class — the corpus is never touched again).
    */
  private def q267(t: Tables): DataFrame = {
    val monthly = t.orders
      .select(col("o_orderpriority").as("prio"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").cast("long").as("mi"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("rev"))
      .groupBy(col("prio"), col("mi"))
      .agg(sum(col("rev")).as("n"))
    val pairs = monthly.as("a")
      .join(monthly.as("b"), col("a.prio") === col("b.prio") && col("a.mi") < col("b.mi"))
      .select(
        col("a.prio").as("prio"), col("a.mi").as("m1"), col("b.mi").as("m2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .withColumn("sgn", when(col("n2") > col("n1"), 1L).when(col("n2") < col("n1"), -1L).otherwise(0L))
      .withColumn("slope", (col("n2") - col("n1")).cast("double") / (col("m2") - col("m1")).cast("double"))
    val sStat = pairs.groupBy(col("prio")).agg(sum(col("sgn")).as("s_stat"))
    val ties = monthly
      .groupBy(col("prio"), col("n")).agg(count(lit(1)).as("tt"))
      .groupBy(col("prio"))
      .agg(
        sum(col("tt")).as("n_months"),
        sum(expr("tt * (tt - 1) * (2 * tt + 5)")).as("tie_term"))
      .withColumn(
        "var18",
        expr("n_months * (n_months - 1) * (2 * n_months + 5) - tie_term"))
    val medW = Window.partitionBy(col("prio")).orderBy(col("slope"), col("m1"), col("m2"))
    val sen = pairs
      .withColumn("rn", row_number().over(medW))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("prio"))))
      .filter(col("rn") === expr("(cnt + 1) DIV 2"))
      .select(col("prio"),
        expr("CAST(floor(slope + 0.5) AS BIGINT)").as("sen_slope_c_mo"))
    sStat
      .join(ties, Seq("prio"))
      .join(sen, Seq("prio"))
      .withColumn(
        "z_e4",
        expr("""CAST(floor(CASE
          | WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)
          | WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)
          | ELSE 0.0 END * 10000 + 0.5) AS BIGINT)""".stripMargin))
      .select(
        col("prio"), col("n_months"), col("s_stat"), col("var18"),
        col("z_e4"), col("sen_slope_c_mo"))
      .orderBy(col("prio"))
  }

  /** Apriori lattice step — the frequent-itemset candidate-generation
    * funnel from pairs to triples (Agrawal & Srikant 1994's
    * apriori-gen: join frequent k-itemsets on a shared (k−1)-prefix,
    * then prune candidates with ANY infrequent subset — the
    * anti-monotonicity that makes market-basket mining tractable; new
    * beside q162, which scores the 2-itemset level with lift and stops):
    * one row per lattice stage — frequent items, frequent pairs,
    * generated+subset-pruned triple candidates, verified frequent
    * triples — with stage support maxima. The FUNNEL is the output
    * (candidate counts collapse ~3258→94 at sf0.001 and to 1→0 at
    * sf0.1 as the part domain grows 10×): it prices the next lattice
    * level BEFORE paying for it, q180/q204's forecast discipline
    * applied to itemset mining.
    *
    * Scale shape: basket normalization is ONE corpus-scale (order,
    * part) distinct; the pair generation self-joins on l_orderkey —
    * the co-bucket key (exchange-free on bucketed storage; see
    * "Bucketed layout proof") — and collapses onto the frequent-pair
    * relation; the apriori-gen join + closure prune run ENTIRELY on
    * that candidate-bounded relation (never corpus²); verification
    * re-probes the basket stream only for surviving candidates
    * (Θ(support · |candidates|)); the funnel is four 1-row folds.
    */
  private def q271(t: Tables): DataFrame = {
    // r17: `items` feeds FIVE downstream branches (the item census, both
    // sides of the pair self-join, and the three verification probes) and
    // `pairs` four (the stage-2 fold and three apriori-gen/prune legs) —
    // un-checkpointed, each branch re-paid the corpus distinct and the
    // o-keyed self-join per use. Checkpoint each once; `items` is
    // checkpointed PRE-PARTITIONED on the basket key `o` (localCheckpoint
    // preserves outputPartitioning), so the pair self-join plans with
    // ZERO exchange on either side (guide §2.4), and the verification
    // probes ride the same materialized relation with the tiny candidate
    // side broadcast.
    // r17 session 2: repartition BEFORE the dedup, not after — hash(o)
    // satisfies the distinct's (o, p) clustering, so the alignment and
    // the dedup share ONE exchange (was: hash(o,p) distinct exchange +
    // a second full repartition). Under a bucketed session the scan is
    // already hash(o)-partitioned and bucketAligned is a no-op: zero
    // exchanges end to end.
    val items = graft.Iterate.cutLineage(
      Tables.bucketAligned(
        t.lineitem.select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        col("o"))
        .dropDuplicates(Seq("o", "p")))
    val itemCnt = items.groupBy(col("p")).agg(count(lit(1)).as("c")).filter(col("c") >= 2)
    val pairs = graft.Iterate.cutLineage(
      items.as("a")
        .join(items.as("b"), Seq("o"))
        .filter(col("a.p") < col("b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2))
    val cands = pairs.select(col("p1"), col("p2")).as("t1")
      .join(
        pairs.select(col("p1").as("q1"), col("p2").as("q2")).as("t2"),
        col("t1.p1") === col("q1") && col("t1.p2") < col("q2"))
      .select(col("t1.p1").as("ia"), col("t1.p2").as("ib"), col("q2").as("ic"))
      .join(
        pairs.select(col("p1").as("r1"), col("p2").as("r2")),
        col("ib") === col("r1") && col("ic") === col("r2"))
      .select(col("ia"), col("ib"), col("ic"))
    val verified = cands
      .join(items.select(col("o").as("xo"), col("p").as("xp")), col("xp") === col("ia"))
      .join(items.select(col("o").as("yo"), col("p").as("yp")),
        col("yo") === col("xo") && col("yp") === col("ib"))
      .join(items.select(col("o").as("zo"), col("p").as("zp")),
        col("zo") === col("xo") && col("zp") === col("ic"))
      .groupBy(col("ia"), col("ib"), col("ic"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2)
    itemCnt.agg(
      lit(1L).as("stage_id"), lit("items_2plus").as("stage"),
      count(lit(1)).as("n"), max(col("c")).as("max_support"))
      .unionAll(pairs.agg(
        lit(2L).as("stage_id"), lit("pairs_2plus").as("stage"),
        count(lit(1)).as("n"), max(col("c")).as("max_support")))
      .unionAll(cands.agg(
        lit(3L).as("stage_id"), lit("triple_candidates").as("stage"),
        count(lit(1)).as("n"), lit(null).cast("long").as("max_support")))
      .unionAll(verified.agg(
        lit(4L).as("stage_id"), lit("triples_2plus").as("stage"),
        count(lit(1)).as("n"), max(col("c")).as("max_support")))
      .orderBy(col("stage_id"))
  }

  /** AMS "tug-of-war" second-frequency-moment sketch (Alon, Matias &
    * Szegedy 1996 — the F₂ = Σc² estimator that started streaming-sketch
    * theory; F₂ is the self-join size / repeat-rate moment, the number a
    * planner wants BEFORE shuffling a key: q56 sketches distinct (F₀),
    * q130 point counts (CMS), this completes the moment family): 64
    * deterministic ±1 estimators Z_j = Σ_x c_x·s_j(x) in 8
    * median-of-means groups over per-user event counts; per group, the
    * mean-of-8 estimate, plus the exact F₂, the median-of-groups
    * estimate, its e4 ratio to exact, and the declared [0.4×, 2.5×]
    * sanity bound (probed 0.52/0.92/0.93 at the three SFs; each group
    * mean has sd ≈ 0.5·F₂ by the AMS variance bound, so the
    * median-of-8 lands inside with overwhelming margin — and the whole
    * pipeline is a deterministic integer function, so both engines
    * compute the IDENTICAL estimate, q56/q252's
    * check-your-own-estimator convention).
    *
    * Determinism (and an honest negative result recorded): the sign bit
    * must come from a NONLINEAR mix — one multiplicative round's bit 10
    * over sequential user ids is so structured the estimator collapsed
    * to 0.05·F₂ (adjacent ids cancel in pairs); the mid-square re-mix
    * mod the prime 2³¹−1 (q266's fix) restores AMS behavior.
    *
    * Scale shape: ONE corpus-scale partial-aggregable per-user rollup;
    * the ×64 estimator explode rides the |users| relation into a 64-key
    * partial-aggregable fold; groups/median/ratio are ≤8-row relations
    * (the median window is a declared bounded-domain global window).
    */
  private def q273(t: Tables): DataFrame = {
    val perUser = t.events
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    val exact = perUser.agg(sum(col("c") * col("c")).as("exact_f2"))
    val mix = "((((user_id % 2147483647) * 131071 + j + 1) * 2654435761) % 2147483647)"
    val z = perUser
      .select(col("user_id"), col("c"), explode(expr("sequence(0, 63)")).as("j"))
      .withColumn(
        "s",
        expr(s"CASE WHEN (($mix * $mix) % 2147483647 DIV 1024) % 2 = 0 THEN 1 ELSE -1 END"))
      .groupBy(col("j")).agg(sum(col("c") * col("s")).as("zj"))
    val groups = z
      .withColumn("grp", expr("j DIV 8"))
      .groupBy(col("grp"))
      .agg(expr("(2 * sum(zj * zj) + 8) DIV 16").as("est_mean_f2"))
    val med = groups
      .withColumn(
        "rn",
        row_number().over(Window.orderBy(col("est_mean_f2"), col("grp"))))
      .filter(col("rn") === 4)
      .select(col("est_mean_f2").as("median_f2"))
    groups
      .join(broadcast(exact))
      .join(broadcast(med))
      .withColumn("ratio_e4", expr("(2 * 10000 * median_f2 + exact_f2) DIV (2 * exact_f2)"))
      .withColumn("within_bound", col("ratio_e4") >= 4000 && col("ratio_e4") <= 25000)
      .select(
        col("grp"), col("est_mean_f2"), col("exact_f2"), col("median_f2"),
        col("ratio_e4"), col("within_bound"))
      .orderBy(col("grp"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q254_gains_curve" -> ((s, d) => q254(Tables(s, d))),
    "q253_line_sequence" -> ((s, d) => q253(Tables(s, d))),
    "q252_hll_rollup" -> ((s, d) => q252(Tables(s, d))),
    "q255_kll_quantiles" -> ((s, d) => q255(Tables(s, d))),
    "q257_km_survival" -> ((s, d) => q257(Tables(s, d))),
    "q261_benford_audit" -> ((s, d) => q261(Tables(s, d))),
    "q262_bootstrap_ci" -> ((s, d) => q262(Tables(s, d))),
    "q266_shard_rebalance" -> ((s, d) => q266(Tables(s, d))),
    "q267_trend_audit" -> ((s, d) => q267(Tables(s, d))),
    "q271_apriori_funnel" -> ((s, d) => q271(Tables(s, d))),
    "q273_ams_f2" -> ((s, d) => q273(Tables(s, d))),
    "q258_neyman_allocation" -> ((s, d) => q258(Tables(s, d))),
    "q260_scd2_intervals" -> ((s, d) => q260(Tables(s, d))),
    "q251_theils_u" -> ((s, d) => q251(Tables(s, d))),
    "q250_supplier_skyline" -> ((s, d) => q250(Tables(s, d))),
    "q249_rfm_segments" -> ((s, d) => q249(Tables(s, d))),
    "q245_order_backlog" -> ((s, d) => q245(Tables(s, d))),
    "q246_share_of_parent" -> ((s, d) => q246(Tables(s, d))),
    "q224_lead_time" -> ((s, d) => q224(Tables(s, d))),
    "q220_markov_entropy_rate" -> ((s, d) => q220(Tables(s, d))),
    "q208_order_reconcile" -> ((s, d) => q208(Tables(s, d))),
    "q209_stationary_flow" -> ((s, d) => q209(Tables(s, d))),
    "q205_t_closeness" -> ((s, d) => q205(Tables(s, d))),
    "q207_fd_audit" -> ((s, d) => q207(Tables(s, d))),
    "q204_selfjoin_forecast" -> ((s, d) => q204(Tables(s, d))),
    "q219_fact_unpivot" -> ((s, d) => q219(Tables(s, d))),
    "q196_price_bands" -> ((s, d) => q196(Tables(s, d))),
    "q190_transitions2" -> ((s, d) => q190(Tables(s, d))),
    "q153_k_anonymity" -> ((s, d) => q153(Tables(s, d))),
    "q162_basket_pairs" -> ((s, d) => q162(Tables(s, d))),
    "q166_event_transitions" -> ((s, d) => q166(Tables(s, d))),
    "q156_tile_pyramid" -> ((s, d) => q156(Tables(s, d))),
    "q125_activity_streaks" -> ((s, d) => q125(Tables(s, d))),
    "q234_rolling_actives" -> ((s, d) => q234(Tables(s, d))),
    "q236_order_cadence" -> ((s, d) => q236(Tables(s, d))),
    "q237_cohort_ltv" -> ((s, d) => q237(Tables(s, d))),
    "q128_temperature_mix" -> ((s, d) => q128(Tables(s, d))),
    "q133_user_concentration" -> ((s, d) => q133(Tables(s, d))),
    "q173_supplier_hhi" -> ((s, d) => q173(Tables(s, d))),
    "q175_l_diversity" -> ((s, d) => q175(Tables(s, d))),
    "q176_fk_audit" -> ((s, d) => q176(Tables(s, d))),
    "q178_session_entropy" -> ((s, d) => q178(Tables(s, d))),
    "q182_join_skew" -> ((s, d) => q182(Tables(s, d))),
    "q184_pit_snapshot" -> ((s, d) => q184(Tables(s, d))),
    "q134_event_gaps" -> ((s, d) => q134(Tables(s, d))),
    "q138_volume_anomaly" -> ((s, d) => q138(Tables(s, d))),
    "q148_attribution_sweep" -> ((s, d) => q148(Tables(s, d))),
    "q149_hourly_seasonality" -> ((s, d) => q149(Tables(s, d))),
    "q93_zorder_cells" -> ((s, d) => q93(Tables(s, d))),
    "q232_zonemap_skipping" -> ((s, d) => q232(Tables(s, d))),
    "q65_corpus_mix" -> ((s, d) => q65(Tables(s, d))),
    "q275_priority_sample" -> ((s, d) => q275(Tables(s, d))),
    "q283_selectivity_audit" -> ((s, d) => q283(Tables(s, d))),
    "q284_mde_sizing" -> ((s, d) => q284(Tables(s, d))),
    "q287_column_profile" -> ((s, d) => q287(Tables(s, d))),
    "q289_theil_decomp" -> ((s, d) => q289(Tables(s, d))),
    "q96_funnel" -> ((s, d) => q96(Tables(s, d))),
    "q119_cohort_retention" -> ((s, d) => q119(Tables(s, d))),
    "q94_balanced_cap" -> ((s, d) => q94(Tables(s, d))),
    "q64_hash_split" -> ((s, d) => q64(Tables(s, d))),
    "q59_pivot" -> ((s, d) => q59(Tables(s, d))),
    "q60_typed_agg" -> ((s, d) => q60(Tables(s, d))),
    "q48_geo_cells" -> ((s, d) => q48(Tables(s, d))),
    "q49_bbox_filter" -> ((s, d) => q49(Tables(s, d))),
    "q50_haversine" -> ((s, d) => q50(Tables(s, d))),
    "q51_json_props" -> ((s, d) => q51(Tables(s, d))),
    "q52_asof_join" -> ((s, d) => q52(Tables(s, d))),
    "q53_range_join" -> ((s, d) => q53(Tables(s, d))),
    "q54_window_suite" -> ((s, d) => q54(Tables(s, d))),
    "q55_group_stats" -> ((s, d) => q55(Tables(s, d))),
    "q56_approx_distinct" -> ((s, d) => q56(Tables(s, d))),
    "q112_temporal_split" -> ((s, d) => q112(Tables(s, d)))
  )

  override def oracleSql: Map[String, String] = Map(
    "q254_gains_curve" ->
      """WITH cust AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spend_e2
        | FROM orders GROUP BY 1),
        | h AS (SELECT spend_e2, count(*) AS cnt FROM cust GROUP BY 1),
        | c AS (
        | SELECT spend_e2, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY spend_e2 DESC) AS BIGINT) AS cum_cnt,
        |  CAST(sum(spend_e2 * cnt) OVER (ORDER BY spend_e2 DESC) AS BIGINT) AS cum_rev,
        |  CAST(sum(cnt) OVER () AS BIGINT) AS n,
        |  CAST(sum(spend_e2 * cnt) OVER () AS BIGINT) AS total_rev
        | FROM h),
        | d AS (SELECT *, ((cum_cnt - 1) * 10) // n + 1 AS decile FROM c)
        |SELECT decile, CAST(sum(cnt) AS BIGINT) AS n_customers,
        | CAST(sum(spend_e2 * cnt) AS BIGINT) AS rev_e2,
        | max(cum_rev) AS cum_rev_e2,
        | (2 * 10000 * max(cum_cnt) + max(n)) // (2 * max(n)) AS cum_cust_share_e4,
        | (2 * 10000 * max(cum_rev) + max(total_rev)) // (2 * max(total_rev))
        |  AS cum_rev_share_e4
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q253_line_sequence" ->
      """WITH o AS (
        | SELECT l_orderkey, count(*) AS n,
        |  min(l_linenumber) AS mn, max(l_linenumber) AS mx,
        |  count(DISTINCT l_linenumber) AS nd
        | FROM lineitem GROUP BY 1),
        | c AS (
        | SELECT l_orderkey, n, mn, mx,
        |  CASE WHEN nd < n THEN 'duplicate'
        |       WHEN mn > 1 THEN 'late_start'
        |       WHEN mx > n THEN 'gap'
        |       ELSE 'clean' END AS class
        | FROM o)
        |SELECT class, count(*) AS n_orders, CAST(sum(n) AS BIGINT) AS n_lines,
        | CAST(max(mx - mn) AS BIGINT) AS max_span,
        | min(l_orderkey) AS example_orderkey
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q261_benford_audit" ->
      """WITH d AS (
        | SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
        |  AS VARCHAR), 1, 1) AS INTEGER) AS digit
        | FROM orders),
        | h AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_orders FROM d GROUP BY 1),
        | t AS (SELECT CAST(sum(n_orders) AS BIGINT) AS n_total FROM h)
        |SELECT digit, n_orders,
        | (2 * 1000000 * n_orders + n_total) // (2 * n_total) AS share_e6,
        | CAST(floor(log2((CAST(digit AS DOUBLE) + 1.0) / CAST(digit AS DOUBLE))
        |  / log2(CAST(10.0 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS benford_e6,
        | (2 * 1000000 * n_orders + n_total) // (2 * n_total)
        |  - CAST(floor(log2((CAST(digit AS DOUBLE) + 1.0) / CAST(digit AS DOUBLE))
        |   / log2(CAST(10.0 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS delta_e6
        |FROM h CROSS JOIN t ORDER BY digit""".stripMargin,
    "q262_bootstrap_ci" ->
      """WITH d AS (
        | SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len FROM documents),
        | g AS (SELECT doc_id, source, len, unnest(range(0, 200)) AS b FROM d),
        | u AS (
        | SELECT source, len,
        |  ((((((doc_id * 131071 + b + 1) % 2147483648) * 2654435761) % 2147483648)
        |   * 2654435761 % 2147483648) * 10000000) // 2147483648 AS u, b
        | FROM g),
        | w AS (
        | SELECT source, len, b,
        |  (CASE WHEN u >= 3678794 THEN 1 ELSE 0 END
        |   + CASE WHEN u >= 7357589 THEN 1 ELSE 0 END
        |   + CASE WHEN u >= 9196986 THEN 1 ELSE 0 END
        |   + CASE WHEN u >= 9810118 THEN 1 ELSE 0 END
        |   + CASE WHEN u >= 9963402 THEN 1 ELSE 0 END
        |   + CASE WHEN u >= 9994058 THEN 1 ELSE 0 END
        |   + CASE WHEN u >= 9999168 THEN 1 ELSE 0 END) AS w
        | FROM u),
        | m AS (
        | SELECT source, b,
        |  CAST((2 * 1000 * sum(w * len) + sum(w)) // (2 * sum(w)) AS BIGINT) AS mean_e3
        | FROM w GROUP BY 1, 2 HAVING sum(w) > 0),
        | r AS (
        | SELECT source, mean_e3,
        |  CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_reps,
        |  row_number() OVER (PARTITION BY source ORDER BY mean_e3, b) AS rn
        | FROM m),
        | ci AS (
        | SELECT source, max(n_reps) AS n_reps,
        |  min(CASE WHEN rn >= CAST(ceil(0.025 * n_reps) AS BIGINT) THEN mean_e3 END)
        |   AS boot_lo_e3,
        |  min(CASE WHEN rn >= CAST(ceil(0.975 * n_reps) AS BIGINT) THEN mean_e3 END)
        |   AS boot_hi_e3
        | FROM r GROUP BY 1),
        | pt AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST((2 * 1000 * sum(len) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_e3
        | FROM d GROUP BY 1)
        |SELECT pt.source, n_docs, mean_e3, boot_lo_e3, boot_hi_e3,
        | boot_hi_e3 - boot_lo_e3 AS ci_width_e3
        |FROM pt JOIN ci ON ci.source = pt.source
        |ORDER BY pt.source""".stripMargin,
    "q266_shard_rebalance" ->
      """WITH d AS (
        | SELECT doc_id, (doc_id % 2147483647) * 2654435761 % 2147483647 AS h0 FROM documents),
        | a AS (
        | SELECT doc_id, h0,
        |  list_max(list_transform(range(0, 16),
        |   s -> (((h0 + (s + 1) * 40503) * 2654435761) % 2147483647)
        |        * (((h0 + (s + 1) * 40503) * 2654435761) % 2147483647)
        |        % 2147483647 * 32 + s)) % 32 AS r16,
        |  list_max(list_transform(range(0, 17),
        |   s -> (((h0 + (s + 1) * 40503) * 2654435761) % 2147483647)
        |        * (((h0 + (s + 1) * 40503) * 2654435761) % 2147483647)
        |        % 2147483647 * 32 + s)) % 32 AS r17
        | FROM d),
        | u AS (
        | SELECT 'rendezvous' AS method, r16 AS s_old, r17 AS s_new FROM a
        | UNION ALL
        | SELECT 'mod' AS method, h0 % 16 AS s_old, h0 % 17 AS s_new FROM a),
        | g AS (
        | SELECT method, s_new, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN s_old <> s_new THEN 1 ELSE 0 END) AS BIGINT) AS mv,
        |  CAST(sum(CASE WHEN s_old <> s_new AND s_new = 16 THEN 1 ELSE 0 END) AS BIGINT) AS mvn
        | FROM u GROUP BY 1, 2)
        |SELECT method, CAST(sum(n) AS BIGINT) AS n_docs,
        | CAST(sum(mv) AS BIGINT) AS n_moved,
        | (2 * 1000000 * CAST(sum(mv) AS BIGINT) + CAST(sum(n) AS BIGINT))
        |   // (2 * CAST(sum(n) AS BIGINT)) AS moved_share_e6,
        | CAST(sum(mvn) AS BIGINT) AS moved_to_new,
        | max(n) AS max_load, min(n) AS min_load
        |FROM g GROUP BY method ORDER BY method""".stripMargin,
    "q267_trend_audit" ->
      """WITH m AS (
        | SELECT o_orderpriority AS prio,
        |  CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS mi,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS n
        | FROM orders GROUP BY 1, 2),
        | p AS (
        | SELECT a.prio, a.mi AS m1, b.mi AS m2, a.n AS n1, b.n AS n2,
        |  CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END AS sgn,
        |  CAST(b.n - a.n AS DOUBLE) / CAST(b.mi - a.mi AS DOUBLE) AS slope
        | FROM m a JOIN m b ON a.prio = b.prio AND a.mi < b.mi),
        | s AS (SELECT prio, CAST(sum(sgn) AS BIGINT) AS s_stat FROM p GROUP BY 1),
        | tg AS (SELECT prio, n, CAST(count(*) AS BIGINT) AS tt FROM m GROUP BY 1, 2),
        | t AS (
        | SELECT prio, CAST(sum(tt) AS BIGINT) AS n_months,
        |  CAST(sum(tt) AS BIGINT) * (CAST(sum(tt) AS BIGINT) - 1)
        |    * (2 * CAST(sum(tt) AS BIGINT) + 5)
        |   - CAST(sum(tt * (tt - 1) * (2 * tt + 5)) AS BIGINT) AS var18
        | FROM tg GROUP BY 1),
        | r AS (
        | SELECT prio, slope,
        |  row_number() OVER (PARTITION BY prio ORDER BY slope, m1, m2) AS rn,
        |  count(*) OVER (PARTITION BY prio) AS cnt
        | FROM p),
        | sen AS (
        | SELECT prio, CAST(floor(slope + 0.5) AS BIGINT) AS sen_slope_c_mo
        | FROM r WHERE rn = (cnt + 1) // 2)
        |SELECT s.prio, n_months, s_stat, var18,
        | CAST(floor(CASE
        |  WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)
        |  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)
        |  ELSE 0.0 END * 10000 + 0.5) AS BIGINT) AS z_e4,
        | sen_slope_c_mo
        |FROM s JOIN t ON t.prio = s.prio JOIN sen ON sen.prio = s.prio
        |ORDER BY s.prio""".stripMargin,
    "q271_apriori_funnel" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        | ic AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1 HAVING count(*) >= 2),
        | pairs AS (
        | SELECT a.p AS p1, b.p AS p2, CAST(count(*) AS BIGINT) AS c
        | FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        | cands AS (
        | SELECT t1.p1 AS ia, t1.p2 AS ib, t2.p2 AS ic
        | FROM pairs t1
        | JOIN pairs t2 ON t1.p1 = t2.p1 AND t1.p2 < t2.p2
        | JOIN pairs t3 ON t3.p1 = t1.p2 AND t3.p2 = t2.p2),
        | verified AS (
        | SELECT cands.ia, cands.ib, cands.ic, CAST(count(*) AS BIGINT) AS c
        | FROM cands
        | JOIN items x ON x.p = cands.ia
        | JOIN items y ON y.o = x.o AND y.p = cands.ib
        | JOIN items z ON z.o = x.o AND z.p = cands.ic
        | GROUP BY 1, 2, 3 HAVING count(*) >= 2)
        |SELECT * FROM (
        | SELECT CAST(1 AS BIGINT) AS stage_id, 'items_2plus' AS stage,
        |  CAST(count(*) AS BIGINT) AS n, max(c) AS max_support FROM ic
        | UNION ALL
        | SELECT CAST(2 AS BIGINT), 'pairs_2plus', CAST(count(*) AS BIGINT), max(c) FROM pairs
        | UNION ALL
        | SELECT CAST(3 AS BIGINT), 'triple_candidates', CAST(count(*) AS BIGINT),
        |  CAST(NULL AS BIGINT) FROM cands
        | UNION ALL
        | SELECT CAST(4 AS BIGINT), 'triples_2plus', CAST(count(*) AS BIGINT), max(c)
        | FROM verified)
        |ORDER BY stage_id""".stripMargin,
    "q273_ams_f2" ->
      """WITH pu AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events
        | WHERE user_id IS NOT NULL GROUP BY 1),
        | ex AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM pu),
        | z AS (
        | SELECT j, CAST(sum(c * s) AS BIGINT) AS zj FROM (
        |  SELECT c, j,
        |   CASE WHEN ((((((user_id % 2147483647) * 131071 + j + 1) * 2654435761) % 2147483647)
        |      * ((((user_id % 2147483647) * 131071 + j + 1) * 2654435761) % 2147483647))
        |      % 2147483647 // 1024) % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM pu, (SELECT unnest(range(0, 64)) AS j))
        | GROUP BY 1),
        | g AS (
        | SELECT j // 8 AS grp,
        |  CAST((2 * sum(zj * zj) + 8) // 16 AS BIGINT) AS est_mean_f2
        | FROM z GROUP BY 1),
        | m AS (
        | SELECT est_mean_f2 AS median_f2 FROM (
        |  SELECT est_mean_f2, row_number() OVER (ORDER BY est_mean_f2, grp) AS rn FROM g)
        | WHERE rn = 4)
        |SELECT grp, est_mean_f2, exact_f2, median_f2,
        | (2 * 10000 * median_f2 + exact_f2) // (2 * exact_f2) AS ratio_e4,
        | (2 * 10000 * median_f2 + exact_f2) // (2 * exact_f2) BETWEEN 4000 AND 25000
        |   AS within_bound
        |FROM g CROSS JOIN ex CROSS JOIN m ORDER BY grp""".stripMargin,
    "q257_km_survival" ->
      """WITH fin AS (
        | SELECT l_orderkey, max(l_shipdate) AS ship FROM lineitem GROUP BY 1),
        | per AS (
        | SELECT CASE WHEN ship IS NULL THEN NULL
        |  ELSE CAST(floor(date_diff('day', CAST(o_orderdate AS DATE), CAST(ship AS DATE))
        |   / 7.0) AS BIGINT) END AS wk
        | FROM orders LEFT JOIN fin ON o_orderkey = l_orderkey),
        | tot AS (
        | SELECT CAST(count(*) FILTER (wk IS NOT NULL) AS BIGINT) AS ct,
        |  CAST(count(*) FILTER (wk IS NULL) AS BIGINT) AS cen FROM per),
        | h AS (SELECT wk, CAST(count(*) AS BIGINT) AS d FROM per
        |       WHERE wk IS NOT NULL GROUP BY 1),
        | c AS (
        | SELECT wk, d, CAST(sum(d) OVER (ORDER BY wk
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumd FROM h),
        | r AS (
        | SELECT wk, d, ct - (cumd - d) + cen AS n_at_risk FROM c CROSS JOIN tot),
        | tm AS (
        | SELECT wk, d, n_at_risk,
        |  CASE WHEN n_at_risk > d THEN
        |   CAST(floor(-ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
        |    * 1000000 + 0.5) AS BIGINT) END AS km_term_e6
        | FROM r)
        |SELECT wk, d AS n_events, n_at_risk, km_term_e6,
        | CAST(sum(km_term_e6) OVER (ORDER BY wk
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS cum_neg_log_surv_e6
        |FROM tm ORDER BY wk""".stripMargin,
    "q258_neyman_allocation" ->
      """WITH st AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sx,
        |  CAST(sum(length(text) * length(text)) AS BIGINT) AS sxx
        | FROM documents GROUP BY 1),
        | sg AS (
        | SELECT source, n_docs,
        |  CAST(floor(1000.0 * sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)) / n_docs
        |   + 0.5) AS BIGINT) AS sigma_e3
        | FROM st),
        | w AS (
        | SELECT source, n_docs, sigma_e3, n_docs * sigma_e3 AS weight FROM sg),
        | g AS (
        | SELECT *, CAST(sum(weight) OVER () AS BIGINT) AS w_total FROM w),
        | q AS (
        | SELECT *, (1000 * weight) // w_total AS base,
        |  (1000 * weight) % w_total AS rem FROM g),
        | rk AS (
        | SELECT *, CAST(sum(base) OVER () AS BIGINT) AS base_total,
        |  row_number() OVER (ORDER BY rem DESC, source) AS rk FROM q)
        |SELECT source, n_docs, sigma_e3, weight,
        | CAST(base + CASE WHEN rk <= 1000 - base_total THEN 1 ELSE 0 END AS BIGINT)
        |  AS alloc
        |FROM rk ORDER BY source""".stripMargin,
    "q260_scd2_intervals" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        | FROM events WHERE user_id IS NOT NULL),
        | s AS (
        | SELECT *, CASE WHEN lag(event_type) OVER
        |   (PARTITION BY user_id ORDER BY us, event_id) IS NULL
        |  OR lag(event_type) OVER
        |   (PARTITION BY user_id ORDER BY us, event_id) <> event_type
        |  THEN 1 ELSE 0 END AS flag
        | FROM e),
        | r AS (
        | SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY us, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        | FROM s),
        | iv AS (
        | SELECT user_id, run_id, min(event_type) AS event_type,
        |  min(us) AS valid_from_us, CAST(count(*) AS BIGINT) AS n_events
        | FROM r GROUP BY 1, 2)
        |SELECT user_id, run_id, event_type, valid_from_us,
        | lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id) AS valid_to_us,
        | n_events,
        | lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY run_id) IS NULL
        |  AS is_current
        |FROM iv ORDER BY user_id, run_id""".stripMargin,
    "q255_kll_quantiles" ->
      """WITH ev AS (
        | SELECT (epoch_us(ts) // 86400000000) // 7 AS wk,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
        | FROM events WHERE value IS NOT NULL),
        | h AS (SELECT wk, v, count(*) AS c FROM ev GROUP BY 1, 2),
        | st AS (
        | SELECT wk, CAST(sum(c) AS BIGINT) AS n_events,
        |  min(v) AS mn, max(v) AS mx
        | FROM h GROUP BY 1),
        | cm AS (
        | SELECT wk, v,
        |  sum(c) OVER (PARTITION BY wk ORDER BY v
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM h),
        | p50 AS (
        | SELECT cm.wk, min(v) AS p50_v FROM cm JOIN st ON st.wk = cm.wk
        | WHERE cum >= (50 * n_events + 99) // 100 GROUP BY 1),
        | p95 AS (
        | SELECT cm.wk, min(v) AS p95_v FROM cm JOIN st ON st.wk = cm.wk
        | WHERE cum >= (95 * n_events + 99) // 100 GROUP BY 1),
        | apx AS (
        | SELECT wk, CAST(approx_quantile(v, 0.5) AS BIGINT) AS a50,
        |  CAST(approx_quantile(v, 0.95) AS BIGINT) AS a95
        | FROM ev GROUP BY 1)
        |SELECT st.wk, n_events, p50_v, p95_v,
        | (abs(a50 - p50_v) <= greatest(100, (mx - mn) // 10)
        |  AND abs(a95 - p95_v) <= greatest(100, (mx - mn) // 10)) AS ledger_ok
        |FROM st JOIN p50 ON p50.wk = st.wk JOIN p95 ON p95.wk = st.wk
        | JOIN apx ON apx.wk = st.wk
        |ORDER BY st.wk""".stripMargin,
    "q252_hll_rollup" ->
      """WITH e AS (SELECT * FROM events WHERE user_id IS NOT NULL),
        | m AS (
        | SELECT (epoch_us(ts) // 86400000000) // 7 AS wk,
        |  CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT) AS n_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  approx_count_distinct(user_id) AS apx
        | FROM e GROUP BY 1)
        |SELECT wk, n_days, exact_users,
        | abs(apx - exact_users) <= exact_users * 0.1 AS merged_est_ok
        |FROM m ORDER BY wk""".stripMargin,
    "q251_theils_u" ->
      """WITH cells AS (
        | SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
        | sm AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_s FROM cells GROUP BY 1),
        | lm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_l FROM cells GROUP BY 1),
        | tt AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn FROM sm),
        | hs AS (
        | SELECT source, max(n_s) AS n_docs,
        |  CAST((2 * sum(n * CAST(floor(-log2(CAST(n AS DOUBLE) / n_s) * 1000 + 0.5)
        |    AS BIGINT)) + max(n_s)) // (2 * max(n_s)) AS BIGINT) AS h_lang_s_e3
        | FROM cells JOIN sm USING (source) GROUP BY 1),
        | hcl AS (
        | SELECT CAST((2 * sum(n_docs * h_lang_s_e3) + sum(n_docs))
        |   // (2 * sum(n_docs)) AS BIGINT) AS h_lang_cond_e3 FROM hs),
        | hl AS (
        | SELECT lang, max(n_l) AS n_l,
        |  CAST((2 * sum(n * CAST(floor(-log2(CAST(n AS DOUBLE) / n_l) * 1000 + 0.5)
        |    AS BIGINT)) + max(n_l)) // (2 * max(n_l)) AS BIGINT) AS h_src_l_e3
        | FROM cells JOIN lm USING (lang) GROUP BY 1),
        | hcs AS (
        | SELECT CAST((2 * sum(n_l * h_src_l_e3) + sum(n_l))
        |   // (2 * sum(n_l)) AS BIGINT) AS h_src_cond_e3 FROM hl),
        | hlg AS (
        | SELECT CAST((2 * sum(n_l * CAST(floor(-log2(CAST(n_l AS DOUBLE) / nn) * 1000
        |    + 0.5) AS BIGINT)) + max(nn)) // (2 * max(nn)) AS BIGINT) AS h_lang_e3
        | FROM lm CROSS JOIN tt),
        | hsg AS (
        | SELECT CAST((2 * sum(n_s * CAST(floor(-log2(CAST(n_s AS DOUBLE) / nn) * 1000
        |    + 0.5) AS BIGINT)) + max(nn)) // (2 * max(nn)) AS BIGINT) AS h_src_e3
        | FROM sm CROSS JOIN tt),
        | g AS (
        | SELECT h_lang_e3, h_lang_cond_e3,
        |  CAST((2 * 10000 * greatest(h_lang_e3 - h_lang_cond_e3, 0) + h_lang_e3)
        |   // (2 * h_lang_e3) AS BIGINT) AS u_lang_src_e4,
        |  CAST((2 * 10000 * greatest(h_src_e3 - h_src_cond_e3, 0) + h_src_e3)
        |   // (2 * h_src_e3) AS BIGINT) AS u_src_lang_e4
        | FROM hlg CROSS JOIN hcl CROSS JOIN hsg CROSS JOIN hcs)
        |SELECT source, n_docs, h_lang_s_e3,
        | h_lang_e3, h_lang_cond_e3, u_lang_src_e4, u_src_lang_e4
        |FROM hs CROSS JOIN g ORDER BY source""".stripMargin,
    "q250_supplier_skyline" ->
      """WITH per AS (
        | SELECT l_suppkey, count(*) AS n_lines,
        |  CAST(sum(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT) AS lead_sum,
        |  CAST(sum(CAST(floor(l_extendedprice / l_quantity * 100 + 0.5) AS BIGINT))
        |   AS BIGINT) AS price_sum
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | GROUP BY 1),
        | m AS (
        | SELECT l_suppkey, n_lines,
        |  CAST((2 * (100 * lead_sum + n_lines * 10000000) + n_lines)
        |   // (2 * n_lines) - 10000000 AS BIGINT) AS lead_e2,
        |  CAST((2 * 100 * price_sum + n_lines) // (2 * n_lines) AS BIGINT) AS price_e4
        | FROM per),
        | f AS (
        | SELECT *,
        |  min(price_e4) OVER (ORDER BY lead_e2
        |   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_strict,
        |  min(price_e4) OVER (ORDER BY lead_e2
        |   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_incl
        | FROM m),
        | d AS (
        | SELECT *,
        |  ((min_strict IS NOT NULL AND min_strict <= price_e4) OR min_incl < price_e4)
        |   AS dominated
        | FROM f),
        | tot AS (
        | SELECT count(*) AS n_suppliers,
        |  CAST(sum(CASE WHEN NOT dominated THEN 1 ELSE 0 END) AS BIGINT) AS n_skyline
        | FROM d)
        |SELECT s_suppkey, s_name, n_lines, lead_e2, price_e4, n_suppliers, n_skyline
        |FROM d JOIN supplier ON s_suppkey = l_suppkey CROSS JOIN tot
        |WHERE NOT dominated
        |ORDER BY lead_e2, price_e4, s_suppkey""".stripMargin,
    "q249_rfm_segments" ->
      """WITH cust AS (
        | SELECT o_custkey, count(*) AS f,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS m_e2,
        |  CAST(date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders))
        |   AS BIGINT) AS r
        | FROM orders GROUP BY 1),
        | rb AS (
        | SELECT min(CASE WHEN 5 * cum >= n THEN v END) AS r_b1,
        |  min(CASE WHEN 5 * cum >= 2 * n THEN v END) AS r_b2,
        |  min(CASE WHEN 5 * cum >= 3 * n THEN v END) AS r_b3,
        |  min(CASE WHEN 5 * cum >= 4 * n THEN v END) AS r_b4
        | FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n
        |  FROM (SELECT r AS v, count(*) AS cnt FROM cust GROUP BY 1))),
        | fb AS (
        | SELECT min(CASE WHEN 5 * cum >= n THEN v END) AS f_b1,
        |  min(CASE WHEN 5 * cum >= 2 * n THEN v END) AS f_b2,
        |  min(CASE WHEN 5 * cum >= 3 * n THEN v END) AS f_b3,
        |  min(CASE WHEN 5 * cum >= 4 * n THEN v END) AS f_b4
        | FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n
        |  FROM (SELECT f AS v, count(*) AS cnt FROM cust GROUP BY 1))),
        | mb AS (
        | SELECT min(CASE WHEN 5 * cum >= n THEN v END) AS m_b1,
        |  min(CASE WHEN 5 * cum >= 2 * n THEN v END) AS m_b2,
        |  min(CASE WHEN 5 * cum >= 3 * n THEN v END) AS m_b3,
        |  min(CASE WHEN 5 * cum >= 4 * n THEN v END) AS m_b4
        | FROM (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum, sum(cnt) OVER () AS n
        |  FROM (SELECT m_e2 AS v, count(*) AS cnt FROM cust GROUP BY 1))),
        | scored AS (
        | SELECT 6 - (1 + CASE WHEN r > r_b1 THEN 1 ELSE 0 END
        |   + CASE WHEN r > r_b2 THEN 1 ELSE 0 END
        |   + CASE WHEN r > r_b3 THEN 1 ELSE 0 END
        |   + CASE WHEN r > r_b4 THEN 1 ELSE 0 END) AS r_score,
        |  1 + CASE WHEN f > f_b1 THEN 1 ELSE 0 END
        |   + CASE WHEN f > f_b2 THEN 1 ELSE 0 END
        |   + CASE WHEN f > f_b3 THEN 1 ELSE 0 END
        |   + CASE WHEN f > f_b4 THEN 1 ELSE 0 END AS f_score,
        |  1 + CASE WHEN m_e2 > m_b1 THEN 1 ELSE 0 END
        |   + CASE WHEN m_e2 > m_b2 THEN 1 ELSE 0 END
        |   + CASE WHEN m_e2 > m_b3 THEN 1 ELSE 0 END
        |   + CASE WHEN m_e2 > m_b4 THEN 1 ELSE 0 END AS m_score,
        |  r, f, m_e2
        | FROM cust CROSS JOIN rb CROSS JOIN fb CROSS JOIN mb)
        |SELECT CAST(r_score AS BIGINT) AS r_score, CAST(f_score AS BIGINT) AS f_score,
        | CAST(m_score AS BIGINT) AS m_score, count(*) AS n_customers,
        | CAST((2 * sum(r) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_rec_days,
        | CAST((2 * 100 * sum(f) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_orders_e2,
        | CAST(sum(m_e2) AS BIGINT) AS total_m_e2
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q245_order_backlog" ->
      """WITH placed AS (
        | SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT) AS ym,
        |  count(*) AS n_placed
        | FROM orders GROUP BY 1),
        | fin AS (
        | SELECT l_orderkey, max(l_shipdate) AS fin FROM lineitem GROUP BY 1),
        | done AS (
        | SELECT CAST(year(fin) * 100 + month(fin) AS BIGINT) AS ym, count(*) AS n_done
        | FROM fin GROUP BY 1),
        | m AS (
        | SELECT coalesce(placed.ym, done.ym) AS ym,
        |  coalesce(n_placed, 0) AS n_placed, coalesce(n_done, 0) AS n_done
        | FROM placed FULL OUTER JOIN done ON placed.ym = done.ym)
        |SELECT ym, n_placed, n_done,
        | CAST(sum(n_placed) OVER (ORDER BY ym
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS placed_cum,
        | CAST(sum(n_done) OVER (ORDER BY ym
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS done_cum,
        | CAST(sum(n_placed) OVER (ORDER BY ym
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  - sum(n_done) OVER (ORDER BY ym
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
        |FROM m ORDER BY ym""".stripMargin,
    "q246_share_of_parent" ->
      """WITH nrev AS (
        | SELECT c_nationkey, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e2
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY 1),
        | x AS (
        | SELECT n_name, r_name, n_orders, revenue_e2,
        |  CAST(sum(revenue_e2) OVER (PARTITION BY r_name) AS BIGINT) AS region_rev_e2,
        |  CAST(sum(revenue_e2) OVER () AS BIGINT) AS global_rev_e2
        | FROM nrev
        | JOIN nation ON n_nationkey = c_nationkey
        | JOIN region ON r_regionkey = n_regionkey)
        |SELECT n_name, r_name, n_orders, revenue_e2, region_rev_e2,
        | (2 * 10000 * revenue_e2 + region_rev_e2) // (2 * region_rev_e2) AS nation_share_e4,
        | (2 * 10000 * region_rev_e2 + global_rev_e2) // (2 * global_rev_e2) AS region_share_e4
        |FROM x ORDER BY n_name""".stripMargin,
    "q236_order_cadence" ->
      """WITH g AS (
        | SELECT c_mktsegment AS seg,
        |  CAST(date_diff('day',
        |   CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
        |     ORDER BY o_orderdate, o_orderkey) AS DATE),
        |   CAST(o_orderdate AS DATE)) AS BIGINT) AS gap
        | FROM orders JOIN customer ON c_custkey = o_custkey),
        | h AS (SELECT seg, gap, count(*) AS c FROM g WHERE gap IS NOT NULL GROUP BY 1, 2),
        | st AS (
        | SELECT seg, CAST(sum(c) AS BIGINT) AS n_gaps, max(gap) AS max_gap
        | FROM h GROUP BY 1),
        | cm AS (
        | SELECT h.seg, gap,
        |  CAST(sum(c) OVER (PARTITION BY h.seg ORDER BY gap
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  n_gaps
        | FROM h JOIN st ON st.seg = h.seg),
        | p25 AS (SELECT seg, min(gap) AS p25_gap FROM cm
        |  WHERE cum >= (25 * n_gaps + 99) // 100 GROUP BY 1),
        | p50 AS (SELECT seg, min(gap) AS p50_gap FROM cm
        |  WHERE cum >= (50 * n_gaps + 99) // 100 GROUP BY 1),
        | p90 AS (SELECT seg, min(gap) AS p90_gap FROM cm
        |  WHERE cum >= (90 * n_gaps + 99) // 100 GROUP BY 1)
        |SELECT st.seg, n_gaps, p25_gap, p50_gap, p90_gap, max_gap
        |FROM st JOIN p25 ON p25.seg = st.seg JOIN p50 ON p50.seg = st.seg
        | JOIN p90 ON p90.seg = st.seg
        |ORDER BY st.seg""".stripMargin,
    "q237_cohort_ltv" ->
      """WITH o AS (
        | SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS sp_e2
        | FROM orders),
        | fo AS (SELECT o_custkey, min(yr) AS cohort FROM o GROUP BY 1),
        | sz AS (SELECT cohort, count(*) AS n_customers FROM fo GROUP BY 1),
        | cells AS (
        | SELECT cohort, yr - cohort AS age, count(*) AS n_orders,
        |  CAST(sum(sp_e2) AS BIGINT) AS spend_e2
        | FROM o JOIN fo USING (o_custkey) GROUP BY 1, 2),
        | cc AS (
        | SELECT cohort, age, n_orders, spend_e2,
        |  CAST(sum(spend_e2) OVER (PARTITION BY cohort ORDER BY age
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_spend_e2
        | FROM cells)
        |SELECT cc.cohort, age, n_orders, spend_e2, cum_spend_e2, n_customers,
        | (2 * cum_spend_e2 + n_customers) // (2 * n_customers) AS ltv_per_cust_e2
        |FROM cc JOIN sz ON sz.cohort = cc.cohort
        |ORDER BY cc.cohort, age""".stripMargin,
    "q234_rolling_actives" ->
      """WITH ud AS (
        | SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        | cov AS (
        | SELECT DISTINCT user_id, day + i AS day
        | FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) t),
        | wau AS (SELECT day, count(*) AS wau7 FROM cov GROUP BY 1)
        |SELECT dau.day, dau, wau7,
        | (2 * 10000 * dau + wau7) // (2 * wau7) AS stickiness_e4
        |FROM dau JOIN wau ON dau.day = wau.day ORDER BY 1""".stripMargin,
    "q232_zonemap_skipping" ->
      """WITH ev AS (
        | SELECT event_id // 512 AS blk, epoch_us(ts) AS tsu,
        |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_e2
        | FROM events),
        | th AS (
        | SELECT max(tsu) - 604800000000 AS thr_ts, CAST(15000 AS BIGINT) AS thr_v FROM ev),
        | blocks AS (
        | SELECT blk, max(tsu) AS blk_max_ts, max(v_e2) AS blk_max_v,
        |  CAST(sum(CASE WHEN tsu >= thr_ts THEN 1 ELSE 0 END) AS BIGINT) AS ts_rows,
        |  CAST(sum(CASE WHEN v_e2 >= thr_v THEN 1 ELSE 0 END) AS BIGINT) AS v_rows,
        |  max(thr_ts) AS thr_ts2, max(thr_v) AS thr_v2
        | FROM ev CROSS JOIN th GROUP BY 1),
        | one AS (
        | SELECT count(*) AS blocks_total,
        |  CAST(sum(CASE WHEN blk_max_ts >= thr_ts2 THEN 1 ELSE 0 END) AS BIGINT) AS ts_blocks,
        |  CAST(sum(ts_rows) AS BIGINT) AS ts_match,
        |  CAST(sum(CASE WHEN blk_max_v >= thr_v2 THEN 1 ELSE 0 END) AS BIGINT) AS v_blocks,
        |  CAST(sum(v_rows) AS BIGINT) AS v_match
        | FROM blocks),
        | r AS (
        | SELECT 'ts_last7d' AS predicate, blocks_total,
        |  ts_blocks AS blocks_touched, ts_match AS rows_match FROM one
        | UNION ALL
        | SELECT 'value_ge150', blocks_total, v_blocks, v_match FROM one)
        |SELECT predicate, blocks_total, blocks_touched, rows_match,
        | (2 * 10000 * blocks_touched + blocks_total) // (2 * blocks_total)
        |  AS touched_share_e4,
        | (rows_match + 511) // 512 AS ideal_blocks
        |FROM r ORDER BY predicate""".stripMargin,
    "q208_order_reconcile" ->
      """WITH ls AS (
        | SELECT l_orderkey,
        |  sum(CAST(floor(l_extendedprice * (1 + l_tax) * (1 - l_discount) * 100 + 0.5)
        |   AS BIGINT)) AS s_e2
        | FROM lineitem GROUP BY 1),
        | j AS (
        | SELECT o_orderstatus,
        |  CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS tp_e2, s_e2
        | FROM orders o LEFT JOIN ls ON o_orderkey = l_orderkey)
        |SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(sum(CASE WHEN s_e2 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_lines,
        | CAST(sum(CASE WHEN s_e2 IS NOT NULL AND 2 * tp_e2 < s_e2 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS under_half,
        | CAST(sum(CASE WHEN s_e2 IS NOT NULL AND tp_e2 > 2 * s_e2 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS over_double,
        | CAST(sum(CASE WHEN s_e2 IS NOT NULL AND 2 * tp_e2 >= s_e2 AND tp_e2 <= 2 * s_e2
        |  THEN 1 ELSE 0 END) AS BIGINT) AS par_band,
        | CAST(min((2 * 10000 * tp_e2 + s_e2) // (2 * s_e2)) AS BIGINT) AS min_ratio_e4,
        | CAST(max((2 * 10000 * tp_e2 + s_e2) // (2 * s_e2)) AS BIGINT) AS max_ratio_e4
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q224_lead_time" ->
      """WITH ld AS (
        | SELECT o_orderpriority AS priority,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS BIGINT) AS lead
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | h AS (SELECT priority, lead, count(*) AS c FROM ld GROUP BY 1, 2),
        | st AS (
        | SELECT priority, CAST(sum(c) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN lead < 0 THEN c ELSE 0 END) AS BIGINT) AS n_negative,
        |  max(lead) AS max_lead
        | FROM h GROUP BY 1),
        | cm AS (
        | SELECT priority, lead,
        |  sum(c) OVER (PARTITION BY priority ORDER BY lead
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM h),
        | p50 AS (
        | SELECT cm.priority, min(lead) AS p50_lead FROM cm JOIN st ON st.priority = cm.priority
        | WHERE cum >= (50 * n_lines + 99) // 100 GROUP BY 1),
        | p95 AS (
        | SELECT cm.priority, min(lead) AS p95_lead FROM cm JOIN st ON st.priority = cm.priority
        | WHERE cum >= (95 * n_lines + 99) // 100 GROUP BY 1)
        |SELECT st.priority, n_lines, n_negative,
        | CAST((2 * 10000 * n_negative + n_lines) // (2 * n_lines) AS BIGINT) AS neg_share_e4,
        | p50_lead, p95_lead, max_lead
        |FROM st JOIN p50 ON p50.priority = st.priority JOIN p95 ON p95.priority = st.priority
        |ORDER BY st.priority""".stripMargin,
    "q220_markov_entropy_rate" ->
      """WITH seqd AS (
        | SELECT event_type AS nxt,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events WHERE user_id IS NOT NULL),
        | m AS (SELECT prev, nxt, count(*) AS c FROM seqd WHERE prev IS NOT NULL
        |       GROUP BY 1, 2),
        | r AS (SELECT prev, sum(c) AS r FROM m GROUP BY 1),
        | mat AS (SELECT m.prev, m.nxt, m.c, r.r FROM m JOIN r USING (prev)),
        | ty AS (SELECT nxt, sum(c) AS tmass FROM m GROUP BY 1),
        | kk AS (SELECT count(*) AS k FROM ty),
        | p0 AS (SELECT nxt AS state, 1000000 // (SELECT k FROM kk) AS p FROM ty),
        | p1 AS (SELECT mat.nxt AS state, sum((2 * p0.p * mat.c + mat.r) // (2 * mat.r)) AS p
        |        FROM mat JOIN p0 ON p0.state = mat.prev GROUP BY 1),
        | p2 AS (SELECT mat.nxt AS state, sum((2 * p1.p * mat.c + mat.r) // (2 * mat.r)) AS p
        |        FROM mat JOIN p1 ON p1.state = mat.prev GROUP BY 1),
        | p3 AS (SELECT mat.nxt AS state, sum((2 * p2.p * mat.c + mat.r) // (2 * mat.r)) AS p
        |        FROM mat JOIN p2 ON p2.state = mat.prev GROUP BY 1),
        | b AS (
        | SELECT prev, c, r,
        |  CAST(floor(-log2(CAST(c AS DOUBLE) / r) * 1000 + 0.5) AS BIGINT) AS bits_e3
        | FROM mat),
        | ent AS (
        | SELECT prev,
        |  CAST((2 * sum(c * bits_e3) + max(r)) // (2 * max(r)) AS BIGINT) AS entropy_e3
        | FROM b GROUP BY prev)
        |SELECT ty.nxt AS event_type,
        | CAST(coalesce(p3.p, 0) AS BIGINT) AS stationary_e6,
        | CAST(coalesce(ent.entropy_e3, 0) AS BIGINT) AS entropy_e3,
        | CAST((2 * coalesce(p3.p, 0) * coalesce(ent.entropy_e3, 0) + 1000000)
        |  // (2 * 1000000) AS BIGINT) AS contribution_e3
        |FROM ty LEFT JOIN p3 ON p3.state = ty.nxt LEFT JOIN ent ON ent.prev = ty.nxt
        |ORDER BY event_type""".stripMargin,
    "q209_stationary_flow" ->
      """WITH seqd AS (
        | SELECT event_type AS nxt,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events WHERE user_id IS NOT NULL),
        | m AS (SELECT prev, nxt, count(*) AS c FROM seqd WHERE prev IS NOT NULL
        |       GROUP BY 1, 2),
        | r AS (SELECT prev, sum(c) AS r FROM m GROUP BY 1),
        | mat AS (SELECT m.prev, m.nxt, m.c, r.r FROM m JOIN r USING (prev)),
        | ty AS (SELECT nxt, sum(c) AS tmass FROM m GROUP BY 1),
        | tot AS (SELECT sum(c) AS tot FROM m),
        | kk AS (SELECT count(*) AS k FROM ty),
        | p0 AS (SELECT nxt AS state, 1000000 // (SELECT k FROM kk) AS p FROM ty),
        | p1 AS (SELECT mat.nxt AS state, sum((2 * p0.p * mat.c + mat.r) // (2 * mat.r)) AS p
        |        FROM mat JOIN p0 ON p0.state = mat.prev GROUP BY 1),
        | p2 AS (SELECT mat.nxt AS state, sum((2 * p1.p * mat.c + mat.r) // (2 * mat.r)) AS p
        |        FROM mat JOIN p1 ON p1.state = mat.prev GROUP BY 1),
        | p3 AS (SELECT mat.nxt AS state, sum((2 * p2.p * mat.c + mat.r) // (2 * mat.r)) AS p
        |        FROM mat JOIN p2 ON p2.state = mat.prev GROUP BY 1),
        | obs AS (
        | SELECT nxt,
        |  (2 * 1000000 * tmass + (SELECT tot FROM tot)) // (2 * (SELECT tot FROM tot))
        |   AS observed_e6
        | FROM ty)
        |SELECT obs.nxt AS event_type,
        | CAST(obs.observed_e6 AS BIGINT) AS observed_e6,
        | CAST(coalesce(p3.p, 0) AS BIGINT) AS stationary_e6,
        | CAST(coalesce(p3.p, 0) - obs.observed_e6 AS BIGINT) AS delta_e6
        |FROM obs LEFT JOIN p3 ON p3.state = obs.nxt
        |ORDER BY event_type""".stripMargin,
    "q205_t_closeness" ->
      """WITH ev AS (
        | SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
        |  CAST(floor(value / 50) AS BIGINT) AS band, user_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS sens
        | FROM events WHERE user_id IS NOT NULL),
        | ev2 AS (SELECT * FROM ev WHERE sens IS NOT NULL),
        | cs AS (
        | SELECT event_type, hod, band, sens, count(*) AS c
        | FROM ev2 GROUP BY 1, 2, 3, 4),
        | anon AS (
        | SELECT event_type, hod, band, count(*) AS n
        | FROM ev2 GROUP BY 1, 2, 3 HAVING count(DISTINCT user_id) >= 5),
        | gdist AS (SELECT sens, sum(c) AS g FROM cs GROUP BY 1),
        | gcum AS (
        | SELECT a.sens, sum(b.g) AS cum_g
        | FROM gdist a JOIN gdist b ON b.sens <= a.sens GROUP BY a.sens),
        | tot AS (SELECT count(*) AS n_all, count(DISTINCT sens) AS m FROM ev2),
        | grid AS (
        | SELECT a.event_type, a.hod, a.band, a.n, d.sens, d.cum_g,
        |  coalesce(c.c, 0) AS c
        | FROM anon a CROSS JOIN gcum d
        | LEFT JOIN cs c ON c.event_type = a.event_type AND c.hod = a.hod
        |  AND c.band = a.band AND c.sens = d.sens),
        | cum AS (
        | SELECT event_type, hod, band, n, cum_g,
        |  sum(c) OVER (PARTITION BY event_type, hod, band ORDER BY sens) AS cum_c
        | FROM grid),
        | emd AS (
        | SELECT event_type, hod, band, any_value(n) AS n,
        |  sum(abs(cum_c * (SELECT n_all FROM tot) - cum_g * n)) AS s
        | FROM cum GROUP BY 1, 2, 3),
        | tv AS (
        | SELECT event_type, n,
        |  (2 * 1000000 * s + n * (SELECT n_all FROM tot) * ((SELECT m FROM tot) - 1))
        |   // (2 * n * (SELECT n_all FROM tot) * ((SELECT m FROM tot) - 1)) AS t_e6
        | FROM emd)
        |SELECT event_type, count(*) AS n_anon_combos,
        | CAST(sum(CASE WHEN t_e6 >= 150000 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS breached_combos,
        | CAST(sum(CASE WHEN t_e6 >= 150000 THEN n ELSE 0 END) AS BIGINT)
        |  AS rows_at_risk,
        | CAST(max(t_e6) AS BIGINT) AS max_t_e6
        |FROM tv GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q207_fd_audit" -> {
      def fd(name: String, tbl: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS dependency, CAST(sum(n) AS BIGINT) AS n_rows,
           | count(*) AS n_lhs,
           | CAST(sum(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating_lhs,
           | CAST(sum(n) - sum(mx) AS BIGINT) AS violation_rows,
           | CAST((2 * 1000000 * (sum(n) - sum(mx)) + sum(n)) // (2 * sum(n))
           |  AS BIGINT) AS g3_e6
           | FROM (
           |  SELECT l, sum(c) AS n, max(c) AS mx, count(*) AS nr
           |  FROM (SELECT $lhs AS l, $rhs AS r, count(*) AS c FROM $tbl
           |        WHERE $lhs IS NOT NULL GROUP BY 1, 2)
           |  GROUP BY l)""".stripMargin
      s"""WITH u AS (
         | ${fd("customer.c_nationkey->c_mktsegment", "customer", "c_nationkey", "c_mktsegment")}
         | UNION ALL
         | ${fd("documents.source->lang", "documents", "source", "lang")}
         | UNION ALL
         | ${fd("events.user_id->event_type", "events", "user_id", "event_type")}
         | UNION ALL
         | ${fd("lineitem.l_partkey->l_returnflag", "lineitem", "l_partkey", "l_returnflag")}
         | UNION ALL
         | ${fd("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority")}
         | UNION ALL
         | ${fd("part.p_brand->p_type", "part", "p_brand", "p_type")})
         |SELECT * FROM u ORDER BY dependency""".stripMargin
    },
    "q219_fact_unpivot" ->
      """WITH q AS (
        | SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS l_quantity,
        |  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS l_extendedprice,
        |  CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS l_discount,
        |  CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS l_tax
        | FROM lineitem),
        | u AS (
        | SELECT 'l_quantity' AS metric, l_quantity AS v FROM q
        | UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM q
        | UNION ALL SELECT 'l_discount', l_discount FROM q
        | UNION ALL SELECT 'l_tax', l_tax FROM q)
        |SELECT metric, count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_e2,
        | min(v) AS min_e2, max(v) AS max_e2
        |FROM u GROUP BY metric ORDER BY metric""".stripMargin,
    "q204_selfjoin_forecast" -> {
      def arm(name: String, tbl: String, key: String) =
        s"""SELECT '$name' AS join_key, count(*) AS n_keys,
           | CAST(sum(c) AS BIGINT) AS n_rows,
           | CAST(sum(c * c) AS BIGINT) AS exact_join_rows,
           | CAST((2 * CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT) + count(*))
           |  // (2 * count(*)) AS BIGINT) AS uniform_estimate,
           | CAST((2 * 10000 * CAST(sum(c * c) AS BIGINT) * count(*)
           |   + CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT))
           |  // (2 * CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS BIGINT)
           |  AS inflation_e4
           |FROM (SELECT $key AS k, count(*) AS c FROM $tbl GROUP BY 1)""".stripMargin
      Seq(
        arm("lineitem.l_orderkey", "lineitem", "l_orderkey"),
        arm("lineitem.l_partkey", "lineitem", "l_partkey"),
        arm("lineitem.l_suppkey", "lineitem", "l_suppkey"),
        arm("orders.o_custkey", "orders", "o_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY join_key")
    },
    "q196_price_bands" ->
      """WITH r AS (
        | SELECT p_brand,
        |  l_extendedprice / (l_quantity * p_retailprice) AS ratio
        | FROM lineitem JOIN part ON l_partkey = p_partkey),
        | q AS (
        | SELECT p_brand, ratio,
        |  CAST(floor(ratio * 10000 + 0.5) AS BIGINT) AS ratio_e4 FROM r)
        |SELECT p_brand, count(*) AS n_lines,
        | CAST(sum(CASE WHEN ratio < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
        | CAST(sum(CASE WHEN ratio >= 0.5 AND ratio <= 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_par,
        | CAST(sum(CASE WHEN ratio > 2.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
        | CAST((2 * 10000 * sum(CASE WHEN ratio > 2.0 THEN 1 ELSE 0 END) + count(*))
        |  // (2 * count(*)) AS BIGINT) AS over_share_e4,
        | min(ratio_e4) AS min_ratio_e4, max(ratio_e4) AS max_ratio_e4
        |FROM q GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q190_transitions2" ->
      """WITH e AS (
        | SELECT user_id, event_type, ts, event_id,
        |  lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev1,
        |  lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev2
        | FROM events WHERE user_id IS NOT NULL),
        | tri AS (
        | SELECT prev2, prev1, event_type, count(*) AS n FROM e
        | WHERE prev2 IS NOT NULL GROUP BY prev2, prev1, event_type),
        | wn AS (
        | SELECT prev2, prev1, event_type, n,
        |  CAST(sum(n) OVER (PARTITION BY prev2, prev1) AS BIGINT) AS n_from FROM tri),
        | b AS (
        | SELECT prev2, prev1, event_type, n, n_from,
        |  CAST(floor(-log2(CAST(n AS DOUBLE) / n_from) * 1000 + 0.5) AS BIGINT) AS bits_e3
        | FROM wn),
        | h2 AS (
        | SELECT prev2, prev1, max(n_from) AS n_from, count(*) AS n_successors,
        |  CAST((2 * sum(n * bits_e3) + max(n_from)) // (2 * max(n_from)) AS BIGINT) AS entropy_e3,
        |  max(lpad(CAST(n AS VARCHAR), 19, '0') || ':' || event_type) AS modal
        | FROM b GROUP BY prev2, prev1),
        | m AS (
        | SELECT prev1, event_type, CAST(sum(n) AS BIGINT) AS n FROM tri
        | GROUP BY prev1, event_type),
        | mw AS (
        | SELECT prev1, event_type, n,
        |  CAST(sum(n) OVER (PARTITION BY prev1) AS BIGINT) AS m_from FROM m),
        | mb AS (
        | SELECT prev1, n, m_from,
        |  CAST(floor(-log2(CAST(n AS DOUBLE) / m_from) * 1000 + 0.5) AS BIGINT) AS bits_e3
        | FROM mw),
        | h1 AS (
        | SELECT prev1,
        |  CAST((2 * sum(n * bits_e3) + max(m_from)) // (2 * max(m_from)) AS BIGINT) AS entropy1_e3
        | FROM mb GROUP BY prev1)
        |SELECT prev2, prev1, n_from, n_successors, entropy_e3,
        | substr(modal, 21) AS top_next,
        | CAST(substr(modal, 1, 19) AS BIGINT) AS top_next_n,
        | (2 * 10000 * CAST(substr(modal, 1, 19) AS BIGINT) + n_from)
        |  // (2 * n_from) AS top_share_e4,
        | entropy1_e3 - entropy_e3 AS gain_e3
        |FROM h2 JOIN h1 USING (prev1)
        |ORDER BY prev2, prev1""".stripMargin,
    "q182_join_skew" -> {
      def branch(name: String, table: String, key: String) =
        s"""SELECT '$name' AS join_key, count(*) AS n_keys,
           |  CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_mult,
           |  round(quantile_cont(c, 0.99), 2) AS p99_mult,
           |  (2 * 1000000 * max(c) + CAST(sum(c) AS BIGINT)) // (2 * CAST(sum(c) AS BIGINT)) AS top_share_e6
           | FROM (SELECT $key, count(*) AS c FROM $table GROUP BY $key)""".stripMargin
      s"""WITH u AS (
         | ${branch("lineitem.l_orderkey", "lineitem", "l_orderkey")}
         | UNION ALL
         | ${branch("lineitem.l_partkey", "lineitem", "l_partkey")}
         | UNION ALL
         | ${branch("lineitem.l_suppkey", "lineitem", "l_suppkey")}
         | UNION ALL
         | ${branch("orders.o_custkey", "orders", "o_custkey")})
         |SELECT * FROM u ORDER BY join_key""".stripMargin
    },
    "q184_pit_snapshot" ->
      """WITH e AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us FROM events
        | WHERE user_id IS NOT NULL),
        | span AS (SELECT min(us) AS t0, max(us) AS t1 FROM e),
        | cut AS (
        | SELECT unnest(ARRAY[t0 + (t1 - t0) // 4, t0 + (t1 - t0) // 2,
        |   t0 + 3 * ((t1 - t0) // 4)]) AS cutoff
        | FROM span),
        | lastev AS (
        | SELECT user_id, cutoff,
        |  max(concat(lpad(CAST(us AS VARCHAR), 20, '0'), '|', event_type)) AS last
        | FROM e JOIN cut ON e.us < cut.cutoff
        | GROUP BY user_id, cutoff),
        | agg AS (
        | SELECT cutoff, split_part(last, '|', 2) AS last_type,
        |  count(*) AS n_users
        | FROM lastev GROUP BY cutoff, split_part(last, '|', 2))
        |SELECT cutoff, last_type, n_users,
        | (2 * 10000 * n_users + CAST(sum(n_users) OVER (PARTITION BY cutoff) AS BIGINT))
        |  // (2 * CAST(sum(n_users) OVER (PARTITION BY cutoff) AS BIGINT)) AS share_e4
        |FROM agg ORDER BY cutoff, last_type""".stripMargin,
    "q175_l_diversity" ->
      """WITH e AS (
        | SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
        |  CAST(floor(value / 50) AS BIGINT) AS band, user_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) // 25 AS sens
        | FROM events WHERE user_id IS NOT NULL),
        | combos AS (
        | SELECT event_type, hod, band, count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users, count(DISTINCT sens) AS l
        | FROM e GROUP BY event_type, hod, band)
        |SELECT event_type, count(*) AS n_anon_combos,
        | CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT) AS low_l_combos,
        | CAST(sum(CASE WHEN l < 3 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_at_risk,
        | min(l) AS min_l
        |FROM combos WHERE n_users >= 5
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q176_fk_audit" ->
      """WITH checks AS (
        | SELECT 'customer->nation' AS relationship,
        |  (SELECT count(*) FROM customer) AS n_rows,
        |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)) AS n_orphans
        | UNION ALL
        | SELECT 'lineitem->orders',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        | UNION ALL
        | SELECT 'lineitem->part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        | UNION ALL
        | SELECT 'lineitem->supplier',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        | UNION ALL
        | SELECT 'orders->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        | UNION ALL
        | SELECT 'supplier->nation',
        |  (SELECT count(*) FROM supplier),
        |  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
        |    (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey)))
        |SELECT relationship, CAST(n_rows AS BIGINT) AS n_rows,
        | CAST(n_orphans AS BIGINT) AS n_orphans,
        | (2 * 1000000 * n_orphans + n_rows) // (2 * n_rows) AS orphan_share_e6
        |FROM checks ORDER BY relationship""".stripMargin,
    "q178_session_entropy" ->
      """WITH c AS (
        | SELECT user_id, event_type, count(*) AS c FROM events
        | WHERE user_id IS NOT NULL GROUP BY user_id, event_type),
        | w AS (
        | SELECT user_id, c,
        |  CAST(sum(c) OVER (PARTITION BY user_id) AS BIGINT) AS n
        | FROM c),
        | b AS (
        | SELECT user_id, c, n,
        |  CAST(floor(-log2(CAST(c AS DOUBLE) / n) * 1000 + 0.5) AS BIGINT) AS bits_e3
        | FROM w),
        | u AS (
        | SELECT user_id, max(n) AS n_events,
        |  (2 * sum(c * bits_e3) + max(n)) // (2 * max(n)) AS entropy_e3
        | FROM b GROUP BY user_id),
        | h AS (SELECT CAST(least(entropy_e3 // 250, 9) AS BIGINT) AS bin, n_events FROM u)
        |SELECT bin, count(*) AS n_users, CAST(sum(n_events) AS BIGINT) AS n_events,
        | (2 * 100 * CAST(sum(n_events) AS BIGINT) + count(*)) // (2 * count(*)) AS mean_events_e2
        |FROM h GROUP BY bin ORDER BY bin""".stripMargin,
    "q173_supplier_hhi" ->
      """WITH per AS (
        | SELECT s.s_nationkey, l.l_suppkey, count(*) AS c
        | FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        | GROUP BY s.s_nationkey, l.l_suppkey),
        | agg AS (
        | SELECT s_nationkey, count(*) AS n_suppliers,
        |  CAST(sum(c) AS BIGINT) AS n_items,
        |  CAST(sum(c * c) AS BIGINT) AS sq, max(c) AS top_c
        | FROM per GROUP BY s_nationkey)
        |SELECT n.n_name AS nation, n_suppliers, n_items,
        | (2 * 1000000 * sq + n_items * n_items) // (2 * n_items * n_items) AS hhi_e6,
        | (2 * 10000 * top_c + n_items) // (2 * n_items) AS top_share_e4
        |FROM agg JOIN nation n ON agg.s_nationkey = n.n_nationkey
        |ORDER BY nation""".stripMargin,
    "q162_basket_pairs" ->
      """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        | p AS (
        | SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_pair
        | FROM i a JOIN i b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY a.l_partkey, b.l_partkey HAVING count(*) >= 2),
        | m AS (SELECT l_partkey, count(*) AS n_part FROM i GROUP BY l_partkey),
        | t AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM i)
        |SELECT p1, p2, n_pair, m1.n_part AS n_p1, m2.n_part AS n_p2,
        | (2 * 10000 * n_pair * n_orders + m1.n_part * m2.n_part)
        |  // (2 * m1.n_part * m2.n_part) AS lift_e4
        |FROM p
        |JOIN m m1 ON p.p1 = m1.l_partkey
        |JOIN m m2 ON p.p2 = m2.l_partkey
        |CROSS JOIN t
        |ORDER BY n_pair DESC, p1, p2 LIMIT 25""".stripMargin,
    "q166_event_transitions" ->
      """WITH e AS (
        | SELECT user_id, event_type, ts, event_id,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events WHERE user_id IS NOT NULL),
        | tr AS (
        | SELECT prev, event_type, count(*) AS n FROM e
        | WHERE prev IS NOT NULL GROUP BY prev, event_type),
        | wn AS (
        | SELECT prev, event_type, n,
        |  CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT) AS n_from FROM tr),
        | b AS (
        | SELECT prev, event_type, n, n_from,
        |  CAST(floor(-log2(CAST(n AS DOUBLE) / n_from) * 1000 + 0.5) AS BIGINT) AS bits_e3
        | FROM wn),
        | h AS (
        | SELECT prev, max(n_from) AS n_from, count(*) AS n_successors,
        |  CAST((2 * sum(n * bits_e3) + max(n_from)) // (2 * max(n_from)) AS BIGINT) AS entropy_e3,
        |  max(lpad(CAST(n AS VARCHAR), 19, '0') || ':' || event_type) AS modal
        | FROM b GROUP BY prev)
        |SELECT prev, n_from, n_successors, entropy_e3,
        | substr(modal, 21) AS top_next,
        | CAST(substr(modal, 1, 19) AS BIGINT) AS top_next_n,
        | (2 * 10000 * CAST(substr(modal, 1, 19) AS BIGINT) + n_from)
        |  // (2 * n_from) AS top_share_e4
        |FROM h ORDER BY prev""".stripMargin,
    "q133_user_concentration" ->
      """WITH pu AS (
        | SELECT event_type, user_id, count(*) AS n FROM events GROUP BY 1, 2),
        | tl AS (
        | SELECT event_type, n,
        |  ntile(10) OVER (PARTITION BY event_type ORDER BY n DESC, user_id) AS tile
        | FROM pu)
        |SELECT event_type,
        | CAST(sum(n) AS BIGINT) AS n_events,
        | count(*) AS n_users,
        | CAST(sum(CASE WHEN tile = 1 THEN n ELSE 0 END) AS BIGINT) AS top_decile_events,
        | round(sum(CASE WHEN tile = 1 THEN n ELSE 0 END) / sum(n), 4) AS top_decile_share
        |FROM tl GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q138_volume_anomaly" ->
      """WITH d AS (
        | SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        | FROM events GROUP BY 1, 2),
        | s AS (
        | SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
        | FROM d GROUP BY event_type),
        | z AS (
        | SELECT d.event_type, day, n, mu,
        |  CASE WHEN sd > 0 THEN round((n - mu) / sd, 4) END AS z
        | FROM d JOIN s ON d.event_type = s.event_type)
        |SELECT event_type, day, n, round(mu, 2) AS mu, z,
        | abs(coalesce(z, 0.0)) >= 2.0 AS anomalous
        |FROM z ORDER BY event_type, day""".stripMargin,
    "q149_hourly_seasonality" ->
      """WITH h AS (
        | SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod, count(*) AS n
        | FROM events GROUP BY 1, 2),
        | x AS (
        | SELECT event_type, hod, n,
        |  CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total,
        |  CAST(max(n) OVER (PARTITION BY event_type) AS BIGINT) AS mx
        | FROM h)
        |SELECT event_type, hod, n, round(n / total, 4) AS share, n = mx AS peak
        |FROM x ORDER BY event_type, hod""".stripMargin,
    "q148_attribution_sweep" ->
      """WITH e AS (
        | SELECT user_id, event_id, event_type, epoch_us(ts) AS us
        | FROM events WHERE event_type IN ('purchase', 'click')),
        | a AS (
        | SELECT user_id, event_type, us,
        |  max(CASE WHEN event_type = 'click' THEN us END)
        |    OVER (PARTITION BY user_id ORDER BY us, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        | FROM e),
        | p AS (SELECT us - last_click_us AS gap_us FROM a WHERE event_type = 'purchase'),
        | x AS (
        | SELECT gap_us, unnest([300000000, 1800000000, 7200000000]) AS window_us FROM p),
        | f AS (
        | SELECT CAST(window_us // 1000000 AS BIGINT) AS window_s, gap_us,
        |  gap_us IS NOT NULL AND gap_us <= window_us AS attributed
        | FROM x)
        |SELECT window_s, count(*) AS n_purchases,
        | CAST(sum(CASE WHEN attributed THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed,
        | round(sum(CASE WHEN attributed THEN 1 ELSE 0 END) / count(*), 4) AS attr_share,
        | round(quantile_cont(CASE WHEN attributed THEN gap_us END, 0.5) / 1000000.0, 2)
        |   AS p50_gap_s
        |FROM f GROUP BY window_s ORDER BY window_s""".stripMargin,
    "q134_event_gaps" ->
      """WITH e AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
        | g AS (
        | SELECT event_type,
        |  us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap_us
        | FROM e)
        |SELECT event_type, count(*) AS n_gaps,
        | round(quantile_cont(gap_us, 0.5) / 1000000.0, 2) AS p50_s,
        | round(quantile_cont(gap_us, 0.95) / 1000000.0, 2) AS p95_s,
        | round(max(gap_us) / 1000000.0, 2) AS max_s
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q128_temperature_mix" ->
      """WITH s AS (
        | SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
        | FROM documents GROUP BY source),
        | x AS (
        | SELECT source, n_docs, chars, u.t_label, u.w FROM s, LATERAL (
        |  SELECT 'T=1' AS t_label, chars AS w
        |  UNION ALL SELECT 'T=2', CAST(round(sqrt(CAST(chars AS DOUBLE))) AS BIGINT)
        |  UNION ALL SELECT 'T=inf', 1) u),
        | tot AS (
        | SELECT t_label, CAST(sum(chars) AS BIGINT) AS tc, CAST(sum(w) AS BIGINT) AS tw
        | FROM x GROUP BY t_label)
        |SELECT x.t_label, source, n_docs, chars,
        | round(chars / tc, 4) AS natural_share,
        | round(w / tw, 4) AS target_share,
        | round((CAST(w AS DOUBLE) * CAST(tc AS DOUBLE))
        |   / (CAST(tw AS DOUBLE) * CAST(chars AS DOUBLE)), 4) AS epochs
        |FROM x JOIN tot ON x.t_label = tot.t_label
        |ORDER BY x.t_label, source""".stripMargin,
    "q125_activity_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        | r AS (
        | SELECT user_id,
        |  datediff('day', DATE '1970-01-01', day)
        |   - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
        | FROM d),
        | s AS (SELECT user_id, grp, count(*) AS len FROM r GROUP BY user_id, grp)
        |SELECT len, count(*) AS n_streaks, count(DISTINCT user_id) AS n_users
        |FROM s GROUP BY len ORDER BY len""".stripMargin,
    "q119_cohort_retention" ->
      """WITH e AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        | f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id),
        | sz AS (SELECT cohort, count(*) AS cohort_size FROM f GROUP BY cohort),
        | c AS (SELECT DISTINCT f.cohort AS cohort,
        |   CAST(datediff('day', f.cohort, e.wk) / 7 AS BIGINT) AS offset_weeks, e.user_id AS user_id
        |  FROM e JOIN f USING (user_id)),
        | m AS (SELECT cohort, offset_weeks, count(*) AS n_active
        |   FROM c GROUP BY cohort, offset_weeks)
        |SELECT m.cohort AS cohort, m.offset_weeks AS offset_weeks, m.n_active AS n_active,
        | sz.cohort_size AS cohort_size,
        | round(m.n_active / sz.cohort_size, 4) AS retention
        |FROM m JOIN sz USING (cohort)
        |ORDER BY cohort, offset_weeks""".stripMargin,
    "q96_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        | s1 AS (SELECT user_id, event_type, us,
        |   min(CASE WHEN event_type = 'view' THEN us END)
        |     OVER (PARTITION BY user_id) AS t1 FROM e),
        | s2 AS (SELECT user_id, event_type, us, t1,
        |   min(CASE WHEN event_type = 'click' AND us > t1 THEN us END)
        |     OVER (PARTITION BY user_id) AS t2 FROM s1),
        | s3 AS (SELECT user_id, us, t1, t2,
        |   min(CASE WHEN event_type = 'purchase' AND us > t2 THEN us END)
        |     OVER (PARTITION BY user_id) AS t3 FROM s2),
        | u AS (SELECT user_id, min(t1) AS t1, min(t2) AS t2, min(t3) AS t3
        |   FROM s3 GROUP BY user_id),
        | f AS (SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
        |  CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
        |  round(avg(t3 - t1) / 1000000.0, 2) AS avg_secs_to_convert
        | FROM u)
        |SELECT n_users, n_view, n_click, n_purchase, avg_secs_to_convert,
        | round(n_purchase / n_view, 4) AS conv_rate
        |FROM f""".stripMargin,
    "q94_balanced_cap" ->
      """WITH h AS (
        | SELECT doc_id, source, n_chars, ((doc_id % 2147483647) * 2654435761) % 4294967296 AS h
        | FROM documents),
        | r AS (
        | SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) <= 15 AS kept
        | FROM h)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        | CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q93_zorder_cells" ->
      """WITH p AS (
        | SELECT CAST((c_custkey * 7919) % 360000 AS DOUBLE) / 1000 - 180 AS lon,
        |        CAST((c_custkey * 104729) % 170000 AS DOUBLE) / 1000 - 85 AS lat
        | FROM customer),
        | q AS (
        | SELECT lon, lat,
        |  CAST(least(greatest(floor((lon - (-180.0)) / 360.0 * 65536.0), 0.0), 65535.0) AS BIGINT) AS x1,
        |  CAST(least(greatest(floor((lat - (-90.0)) / 180.0 * 65536.0), 0.0), 65535.0) AS BIGINT) AS y1
        | FROM p),
        | s2 AS (SELECT lon, lat, ((x1 | (x1 << 8)) & 16711935) AS x2, ((y1 | (y1 << 8)) & 16711935) AS y2 FROM q),
        | s3 AS (SELECT lon, lat, ((x2 | (x2 << 4)) & 252645135) AS x3, ((y2 | (y2 << 4)) & 252645135) AS y3 FROM s2),
        | s4 AS (SELECT lon, lat, ((x3 | (x3 << 2)) & 858993459) AS x4, ((y3 | (y3 << 2)) & 858993459) AS y4 FROM s3),
        | s5 AS (SELECT lon, lat, ((x4 | (x4 << 1)) & 1431655765) AS x5, ((y4 | (y4 << 1)) & 1431655765) AS y5 FROM s4),
        | z AS (SELECT lon, lat, (x5 | (y5 << 1)) >> 24 AS cell FROM s5)
        |SELECT cell, count(*) AS n_points,
        | round(min(lon), 4) AS min_lon, round(max(lon), 4) AS max_lon,
        | round(min(lat), 4) AS min_lat, round(max(lat), 4) AS max_lat
        |FROM z GROUP BY cell ORDER BY cell""".stripMargin,
    "q65_corpus_mix" ->
      """WITH m AS (SELECT source, ((doc_id % 2147483647) * 2654435761) % 100 AS h,
        |  CASE WHEN source LIKE 'src1%' THEN 100 ELSE 40 END AS rate FROM documents)
        |SELECT source, count(*) AS n_total,
        | CAST(sum(CASE WHEN h < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        | max(rate) AS rate_pct
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q289_theil_decomp" ->
      """WITH cust AS (
        | SELECT n_name AS nation, x FROM (
        |  SELECT o_custkey,
        |   CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY 1) c
        | JOIN customer ON c_custkey = o_custkey
        | JOIN nation ON n_nationkey = c_nationkey
        | WHERE x > 0),
        | gtot AS (SELECT count(*) AS n_all, CAST(sum(x) AS BIGINT) AS sx_all FROM cust),
        | grp AS (
        | SELECT nation, count(*) AS n_g, CAST(sum(x) AS BIGINT) AS sx_g
        | FROM cust GROUP BY 1),
        | terms AS (
        | SELECT cust.nation, n_all, sx_all, n_g, sx_g,
        |  CAST(floor(1000000000 * (CAST(x AS DOUBLE) * n_all / sx_all)
        |    * ln(CAST(x AS DOUBLE) * n_all / sx_all) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |   AS t_glob_e9,
        |  CAST(floor(1000000000 * (CAST(x AS DOUBLE) * n_g / sx_g)
        |    * ln(CAST(x AS DOUBLE) * n_g / sx_g) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |   AS t_grp_e9
        | FROM cust CROSS JOIN gtot JOIN grp ON grp.nation = cust.nation),
        | pg AS (
        | SELECT nation, max(n_g) AS n_cust, max(sx_g) AS sx_g,
        |  CAST(sum(t_glob_e9) AS BIGINT) AS sum_glob,
        |  CAST(sum(t_grp_e9) AS BIGINT) AS sum_grp,
        |  max(n_all) AS n_all, max(sx_all) AS sx_all
        | FROM terms GROUP BY 1),
        | pg2 AS (
        | SELECT nation, n_cust,
        |  CAST((2 * 1000000 * sx_g + sx_all) // (2 * sx_all) AS BIGINT) AS share_e6,
        |  CAST((2 * sum_grp + n_cust) // (2 * n_cust) AS BIGINT) AS theil_g_e9,
        |  CAST(floor(1000000000 * (CAST(sx_g AS DOUBLE) / sx_all)
        |    * ln(CAST(sx_g AS DOUBLE) * n_all / (CAST(sx_all AS DOUBLE) * n_cust))
        |    + CAST(0.5 AS DOUBLE)) AS BIGINT) AS between_term_e9,
        |  sum_glob, n_all
        | FROM pg),
        | tt AS (
        | SELECT
        |  CAST((2 * sum(sum_glob) + max(n_all)) // (2 * max(n_all)) AS BIGINT) AS theil_e9,
        |  CAST(sum(between_term_e9) AS BIGINT) AS between_e9
        | FROM pg2)
        |SELECT nation, n_cust, share_e6, theil_g_e9, between_term_e9,
        | theil_e9, between_e9, CAST(theil_e9 - between_e9 AS BIGINT) AS within_e9
        |FROM pg2 CROSS JOIN tt ORDER BY nation""".stripMargin,
    "q287_column_profile" ->
      """WITH stacked AS (
        | SELECT 'o_orderkey' AS "column", CAST(o_orderkey AS VARCHAR) AS value FROM orders
        | UNION ALL SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
        | UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
        | UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
        | UNION ALL SELECT 'o_orderdate', strftime(o_orderdate, '%Y-%m-%d') FROM orders
        | UNION ALL SELECT 'o_totalprice',
        |  CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR) FROM orders),
        | vals AS (SELECT "column", value, count(*) AS c FROM stacked GROUP BY 1, 2),
        | top AS (
        | SELECT "column", value AS top_value, c AS top_c FROM (
        |  SELECT *, row_number() OVER (PARTITION BY "column" ORDER BY c DESC, value) AS rn
        |  FROM vals) WHERE rn = 1),
        | summary AS (
        | SELECT "column", CAST(sum(c) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN value IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_null,
        |  CAST(sum(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct,
        |  CAST(sum(CASE WHEN value IS NULL THEN 0
        |    ELSE CAST(floor(1000000 * c * ln(c) + CAST(0.5 AS DOUBLE)) AS BIGINT) END)
        |   AS BIGINT) AS sum_clnc_e6
        | FROM vals GROUP BY 1)
        |SELECT s."column", n, n_null, n_distinct,
        | (n_distinct = n - n_null AND n_null = 0) AS is_unique,
        | (n_distinct = 1) AS is_constant,
        | top_value,
        | CAST((2 * 1000000 * top_c + (n - n_null)) // (2 * (n - n_null)) AS BIGINT)
        |  AS top_share_e6,
        | CAST(CAST(floor(1000000 * ln(n - n_null) + CAST(0.5 AS DOUBLE)) AS BIGINT)
        |   - (2 * sum_clnc_e6 + (n - n_null)) // (2 * (n - n_null)) AS BIGINT)
        |  AS entropy_e6
        |FROM summary s JOIN top ON top."column" = s."column"
        |ORDER BY s."column"""".stripMargin,
    "q284_mde_sizing" ->
      """WITH u AS (
        | SELECT event_type, user_id,
        |  (2 * sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) + 100) // 200 AS x
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        | s AS (
        | SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
        |  CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM u GROUP BY 1),
        | m AS (
        | SELECT event_type, n, sx, sxx,
        |  (2 * 100 * sx + n) // (2 * n) AS mean_e2,
        |  n * sxx - sx * sx AS var_num
        | FROM s WHERE n >= 2),
        | f AS (
        | SELECT event_type, n, mean_e2, var_num, sx,
        |  CAST(floor(CAST(2.8016 AS DOUBLE)
        |    * sqrt(CAST(2 AS DOUBLE) * var_num / (n * (n - CAST(1 AS DOUBLE))) / n)
        |    * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mde_abs_e2
        | FROM m)
        |SELECT event_type, n, mean_e2, mde_abs_e2,
        | CAST((2 * 10000 * mde_abs_e2 + mean_e2) // (2 * mean_e2) AS BIGINT) AS mde_rel_e4,
        | CAST(ceil(CAST(2 AS DOUBLE) * CAST(2.8016 AS DOUBLE) * CAST(2.8016 AS DOUBLE)
        |   * (var_num / (n * (n - CAST(1 AS DOUBLE))))
        |   / ((CAST(0.1 AS DOUBLE) * sx / n) * (CAST(0.1 AS DOUBLE) * sx / n)))
        |  AS BIGINT) AS n_per_arm_10pct
        |FROM f ORDER BY event_type""".stripMargin,
    "q283_selectivity_audit" ->
      """WITH h AS (
        | SELECT CAST(floor(value) AS BIGINT) AS cell, count(*) AS cnt
        | FROM events GROUP BY 1),
        | hc AS (SELECT cell, cnt,
        |  CAST(sum(cnt) OVER (ORDER BY cell) AS BIGINT) AS cum FROM h),
        | tot AS (
        | SELECT CAST(max(cum) AS BIGINT) AS n, min(cell) AS vmin, max(cell) AS vmax
        | FROM hc),
        | cells AS (
        | SELECT cell, cnt, cum,
        |  least((cell - vmin) // ((vmax - vmin) // 8 + 1), 7) AS bw,
        |  least(((cum - cnt) * 8) // n, 7) AS bd
        | FROM hc CROSS JOIN tot),
        | buckets AS (
        | SELECT method, bk, min(cell) AS lo, max(cell) AS hi,
        |  CAST(sum(cnt) AS BIGINT) AS bcnt
        | FROM (
        |  SELECT 'equi_width' AS method, bw AS bk, cell, cnt FROM cells
        |  UNION ALL
        |  SELECT 'equi_depth', bd, cell, cnt FROM cells)
        | GROUP BY 1, 2),
        | preds AS (
        | SELECT CAST(p AS BIGINT) AS pid, CAST(p * 50 AS BIGINT) AS a,
        |  CAST(p * 50 + 75 AS BIGINT) AS bnd
        | FROM (SELECT unnest(range(0, 6)) AS p)),
        | est AS (
        | SELECT method, pid, a, bnd,
        |  CAST(sum((2 * 1000000 * greatest(0, least(hi + 1, bnd) - greatest(lo, a)) * bcnt
        |    + (hi - lo + 1)) // (2 * (hi - lo + 1))) AS BIGINT) AS est_e6
        | FROM buckets CROSS JOIN preds GROUP BY 1, 2, 3, 4),
        | truth AS (
        | SELECT pid, CAST(sum(cnt) AS BIGINT) AS actual
        | FROM h CROSS JOIN preds WHERE cell >= a AND cell < bnd GROUP BY 1)
        |SELECT method, est.pid, a AS lo_v, bnd AS hi_v,
        | CAST(coalesce(actual, 0) AS BIGINT) AS actual, est_e6,
        | CAST(abs(est_e6 - coalesce(actual, 0) * 1000000) AS BIGINT) AS abs_err_e6
        |FROM est LEFT JOIN truth ON truth.pid = est.pid
        |ORDER BY method, est.pid""".stripMargin,
    "q275_priority_sample" ->
      """WITH d AS (
        | SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
        |  ((doc_id % 2147483647) * 2654435761) % 1048576 + 1 AS u
        | FROM documents),
        | p AS (SELECT doc_id, source, w, (w * 1048576) // u AS p FROM d),
        | top AS (
        |  SELECT * FROM (
        |   SELECT doc_id, source, w, p,
        |    row_number() OVER (ORDER BY p DESC, doc_id) AS rk
        |   FROM p) WHERE rk <= 101),
        | tau AS (SELECT p AS tau FROM top WHERE rk = 101),
        | smp AS (
        |  SELECT source, greatest(w, tau) AS est
        |  FROM top CROSS JOIN tau WHERE rk <= 100),
        | ps AS (
        |  SELECT source, count(*) AS n_sampled, CAST(sum(est) AS BIGINT) AS est_sum
        |  FROM smp GROUP BY 1),
        | ex AS (
        |  SELECT source, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS exact_chars
        |  FROM p GROUP BY 1),
        | j AS (
        |  SELECT ex.source, n_docs,
        |   CAST(coalesce(n_sampled, 0) AS BIGINT) AS n_sampled, exact_chars,
        |   CAST(coalesce(est_sum, 0) AS BIGINT) AS est_chars
        |  FROM ex LEFT JOIN ps ON ps.source = ex.source)
        |SELECT source, n_docs, n_sampled, exact_chars, est_chars,
        | CAST((2 * 1000000 * abs(est_chars - exact_chars) + exact_chars)
        |   // (2 * exact_chars) AS BIGINT) AS err_e6
        |FROM j ORDER BY source""".stripMargin,
    "q64_hash_split" ->
      """WITH s AS (SELECT source, n_chars, ((doc_id % 2147483647) * 2654435761) % 100 AS h FROM documents)
        |SELECT source,
        | CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
        | count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin,
    "q59_pivot" ->
      """SELECT o_orderpriority,
        | round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
        | round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
        | round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q60_typed_agg" ->
      """SELECT o_orderpriority, round(exp(avg(ln(o_totalprice))), 4) AS geo_price,
        | count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q153_k_anonymity" ->
      """WITH c AS (
        | SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
        |  CAST(floor(value / 50) AS BIGINT) AS band,
        |  count(*) AS n_rows, count(DISTINCT user_id) AS n_users
        | FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT event_type, count(*) AS n_combos,
        | CAST(sum(CASE WHEN n_users < 5 THEN 1 ELSE 0 END) AS BIGINT) AS risky_combos,
        | CAST(sum(CASE WHEN n_users < 5 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_at_risk,
        | CAST(min(n_users) AS BIGINT) AS min_combo_users
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q156_tile_pyramid" ->
      s"""WITH g AS (SELECT $lonSql AS lon, $latSql AS lat FROM customer),
         | zs AS (SELECT lon, lat, unnest([2, 4, 6]) AS z FROM g),
         | t AS (
         | SELECT z,
         |  CAST(floor((lon + 180) / 360 * (CAST(1 AS BIGINT) << z)) AS BIGINT) AS tile_x,
         |  CAST(floor((90 - lat) / 180 * (CAST(1 AS BIGINT) << z)) AS BIGINT) AS tile_y,
         |  count(*) AS n_points
         | FROM zs GROUP BY 1, 2, 3)
         |SELECT z, count(*) AS n_tiles,
         | CAST(sum(n_points) AS BIGINT) AS total_points,
         | CAST(max(n_points) AS BIGINT) AS max_tile_points,
         | (2 * CAST(sum(n_points) AS BIGINT) + count(*)) // (2 * count(*)) AS mean_tile_points
         |FROM t GROUP BY z ORDER BY z""".stripMargin,
    "q48_geo_cells" ->
      s"""WITH g AS (SELECT c_acctbal, $lonSql AS lon, $latSql AS lat FROM customer)
         |SELECT CAST(floor((lon + 180) / 5) AS BIGINT) * 100 + CAST(floor((lat + 85) / 5) AS BIGINT) AS cell_id,
         | count(*) AS n_points, round(sum(c_acctbal), 2) AS sum_bal
         |FROM g GROUP BY cell_id ORDER BY cell_id""".stripMargin,
    "q49_bbox_filter" ->
      s"""WITH g AS (SELECT c_nationkey, $lonSql AS lon, $latSql AS lat FROM customer)
         |SELECT n_name, count(*) AS n_in_bbox
         |FROM g JOIN nation ON c_nationkey = n_nationkey
         |WHERE lon BETWEEN -30 AND 30 AND lat BETWEEN -20 AND 40
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q50_haversine" ->
      s"""WITH c AS (SELECT c_custkey, radians($lonSql) AS clon_r, radians($latSql) AS clat_r,
         |   cos(radians($latSql)) AS cos_clat FROM customer),
         | s AS (SELECT s_suppkey, radians($sLon) AS slon_r, radians($sLat) AS slat_r,
         |   cos(radians($sLat)) AS cos_slat FROM supplier),
         | d AS (SELECT s_suppkey,
         |   2 * 6371 * asin(sqrt(
         |     pow(sin((clat_r - slat_r) / 2), 2) +
         |     cos_slat * cos_clat * pow(sin((clon_r - slon_r) / 2), 2))) AS dist_km
         |  FROM c, s)
         |SELECT s_suppkey, count(*) AS n_within, round(min(dist_km), 3) AS min_km
         |FROM d WHERE dist_km < 3000
         |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,
    "q51_json_props" ->
      """WITH j AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, count(k) AS n_with_k, round(avg(k), 2) AS avg_k,
        | count(DISTINCT k) AS n_distinct_k
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q52_asof_join" ->
      """WITH t AS (
        | SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        |  max(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        | FROM events WHERE event_type IN ('purchase', 'click'))
        |SELECT user_id, event_id AS purchase_id, us AS purchase_us,
        | coalesce(last_click_us, -1) AS last_click_us
        |FROM t WHERE event_type = 'purchase'
        |ORDER BY user_id, purchase_id""".stripMargin,
    "q53_range_join" ->
      """WITH bands AS (SELECT b AS band, b*b*2000 AS lo, (b+1)*(b+1)*2000 AS hi FROM range(0, 20) t(b))
        |SELECT band, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM bands JOIN orders ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin,
    "q54_window_suite" ->
      """SELECT o_custkey, o_orderkey,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        | round(percent_rank() OVER w, 6) AS pct_rank,
        | first_value(o_orderkey) OVER wf AS first_order,
        | last_value(o_orderkey) OVER wf AS last_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q55_group_stats" ->
      """SELECT c_mktsegment,
        | round(quantile_cont(c_acctbal, 0.5), 4) AS p50,
        | round(quantile_cont(c_acctbal, 0.95), 4) AS p95,
        | round(stddev_samp(c_acctbal), 4) AS sd,
        | round(min(c_acctbal), 2) AS lo,
        | round(max(c_acctbal), 2) AS hi
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q56_approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        | abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |   <= count(DISTINCT user_id) * 0.1 AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q112_temporal_split" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        | c AS (SELECT quantile_cont(us, 0.8) AS p80, quantile_cont(us, 0.9) AS p90 FROM e),
        | s AS (
        | SELECT user_id, event_type, us,
        |  CASE WHEN us <= p80 THEN 'train' WHEN us <= p90 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM e CROSS JOIN c)
        |SELECT split, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | CAST(min(us) AS BIGINT) AS us_min, CAST(max(us) AS BIGINT) AS us_max,
        | round(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / count(*), 4) AS purchase_share
        |FROM s GROUP BY split ORDER BY split""".stripMargin
  )
}
