package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .config(
        "spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every declared query runs and returns rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("every query with an oracle is declared, and vice-versa keys align") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os.diff(qs)}")
  }

  test("q01 pricing summary has the 4 flag/status groups with sane sums") {
    val rows = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    assert(rows.length >= 4)
    rows.foreach { r =>
      assert(r.getAs[Double]("sum_qty") > 0)
      assert(r.getAs[Long]("count_order") > 0)
    }
  }

  test("q10 emits at most 3 orders per customer") {
    val df = SparkEntry.queries("q10_top_orders_per_cust")(spark, sf)
    val max = df.groupBy("o_custkey").count().agg(org.apache.spark.sql.functions.max("count"))
      .collect()(0).getLong(0)
    assert(max <= 3)
  }

  test("q20 sessions never have a within-session gap > 30 minutes") {
    // session end-start bounded by (n_events-1)*gap is implied; check ids are dense from 1
    val df = SparkEntry.queries("q20_user_sessions")(spark, sf)
    val bad = df
      .groupBy("user_id")
      .agg(
        org.apache.spark.sql.functions.max("session_id").as("max_sid"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter(org.apache.spark.sql.functions.col("max_sid") =!= org.apache.spark.sql.functions.col("n"))
      .count()
    assert(bad == 0, "session ids are not dense 1..n per user")
  }

  test("q222 bag set-ops match per-key min/clamped-difference multiplicities") {
    import org.apache.spark.sql.functions._
    val cutUs = java.time.Instant.parse("1997-01-01T00:00:00Z").toEpochMilli * 1000L
    val os = Tables(spark, sf).orders
      .select(col("o_custkey"), unix_micros(col("o_orderdate").cast("timestamp")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val e = os.filter(_._2 < cutUs).groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val l = os.filter(_._2 >= cutUs).groupBy(_._1).view.mapValues(_.length.toLong).toMap
    def roll(ms: Map[Long, Long]) = {
      val pos = ms.filter(_._2 > 0)
      (pos.values.sum, pos.size.toLong, if (pos.isEmpty) 0L else pos.values.max)
    }
    val ex = roll(e.map { case (k, c) => k -> math.max(0L, c - l.getOrElse(k, 0L)) })
    val in = roll(e.collect { case (k, c) if l.contains(k) => k -> math.min(c, l(k)) }.toMap)
    val expected = Set(
      ("except_all", ex._1, ex._2, ex._3), ("intersect_all", in._1, in._2, in._3))
    val got = SparkEntry.queries("q222_multiset_ops")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    // bag identity: |e| = |e ∩all l| + |e \all l|
    assert(ex._1 + in._1 == e.values.sum)
  }

  test("q223 order-count histogram conserves the customer dimension") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val perCust = t.orders.select(col("o_custkey")).collect().map(_.getLong(0))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val custs = t.customer.select(col("c_custkey")).collect().map(_.getLong(0))
    val expected = custs.map(c => perCust.getOrElse(c, 0L))
      .groupBy(identity).map { case (cc, xs) => (cc, xs.size.toLong) }.toSet
    val got = SparkEntry.queries("q223_cust_order_histogram")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    assert(got.toSeq.map(_._2).sum == custs.length.toLong)
  }

  test("q227 big orders match an independent HAVING-threshold recomputation") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val qty = t.lineitem.select(col("l_orderkey"), col("l_quantity")).collect()
      .map(r => (r.getLong(0), math.floor(r.getDouble(1) * 100 + 0.5).toLong))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val ords = t.orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        math.floor(r.getDouble(3) * 100 + 0.5).toLong))
    val names = t.customer.select(col("c_custkey"), col("c_name")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val expected = ords
      .collect { case (ok, ck, st, tp) if qty.getOrElse(ok, 0L) > 20000L =>
        (ok, names(ck), st, qty(ok), tp)
      }
      .sortBy(x => (-x._4, x._1))
      .take(20)
      .toSeq
    val got = SparkEntry.queries("q227_big_orders")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected)
    assert(got.nonEmpty, "degenerate: threshold selects nothing")
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q229 disjunctive bands match an independent OR-of-conjunctions fold") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val parts = t.part.select(col("p_partkey"), col("p_brand"), col("p_size")).collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    val lines = t.lineitem
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1),
        math.floor(r.getDouble(2) * (1 - r.getDouble(3)) * 100 + 0.5).toLong))
    def bandOf(brand: String, size: Int, qty: Double): Option[String] =
      if (brand == "Brand#1" && size >= 1 && size <= 15 && qty >= 1 && qty <= 20)
        Some("band1_small")
      else if (brand == "Brand#2" && size >= 16 && size <= 30 && qty >= 10 && qty <= 30)
        Some("band2_mid")
      else if (brand == "Brand#3" && size >= 31 && size <= 50 && qty >= 20 && qty <= 50)
        Some("band3_large")
      else None
    val tagged = lines.flatMap { case (pk, qty, rev) =>
      val (brand, size) = parts(pk)
      bandOf(brand, size, qty).map(b => (b, pk, rev))
    }
    val expected = tagged.groupBy(_._1).map { case (b, xs) =>
      (b, xs.length.toLong, xs.map(_._2).distinct.length.toLong, xs.map(_._3).sum)
    }.toSet
    val got = SparkEntry.queries("q229_disjunctive_bands")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    assert(got.size == 3, "degenerate: a band selects nothing")
  }

  test("q230 stale parts match an independent NOT-IN fold and plan null-aware") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val ship = t.lineitem
      .select(col("l_partkey"), unix_micros(col("l_shipdate").cast("timestamp"))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cutoff = ship.map(_._2).max - 2592000000000L // 30 days in µs
    val recent = ship.collect { case (pk, d) if d >= cutoff => pk }.toSet
    val parts = t.part.select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), math.floor(r.getDouble(2) * 100 + 0.5).toLong))
    val expected = parts.groupBy(_._2).map { case (brand, xs) =>
      val stale = xs.filterNot(p => recent.contains(p._1))
      val n = xs.length.toLong
      val ns = stale.length.toLong
      (brand, n, ns, (2 * 10000 * ns + n) / (2 * n), stale.map(_._3).sum)
    }.toSet
    val df = SparkEntry.queries("q230_stale_parts")(spark, sf)
    val got = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    assert(got.exists(_._3 > 0), "degenerate: no stale parts anywhere")
    // the NOT IN carries three-valued logic: the optimizer must keep the
    // null-aware disjunct on the anti join (the physical planner then
    // pairs it to BroadcastHashJoin with isNullAwareAntiJoin=true)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("Join LeftAnti") && opt.contains("OR isnull("),
      "NOT IN did not plan as a null-aware anti join")
    // construction must leave the session catalog as it found it — the
    // scratch views are dropped once the plan is analyzed
    assert(!spark.catalog.tableExists("graft_q230_part") &&
      !spark.catalog.tableExists("graft_q230_lineitem"),
      "q230 leaked its scratch temp views into the session catalog")
  }

  test("q233 market share matches an independent EU-supplier recomputation") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val euNations = t.nation.join(t.region,
        col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "EUROPE")
      .select(col("n_nationkey")).collect().map(_.getInt(0)).toSet
    val euSup = t.supplier.select(col("s_suppkey"), col("s_nationkey")).collect()
      .collect { case r if euNations.contains(r.getInt(1)) => r.getLong(0) }.toSet
    val years = t.orders.select(col("o_orderkey"), year(col("o_orderdate"))).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    val lines = t.lineitem
      .select(col("l_orderkey"), col("l_suppkey"), col("l_extendedprice"), col("l_discount"))
      .collect()
      .map(r => (years(r.getLong(0)), euSup.contains(r.getLong(1)),
        math.floor(r.getDouble(2) * (1 - r.getDouble(3)) * 100 + 0.5).toLong))
    val expected = lines.groupBy(_._1).map { case (y, xs) =>
      val rev = xs.map(_._3).sum
      val eu = xs.collect { case (_, true, r) => r }.sum
      (y, xs.length.toLong, rev, eu, (2 * 10000 * eu + rev) / (2 * rev))
    }.toSet
    def run() = SparkEntry.queries("q233_market_share")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val got = run()
    assert(got == expected)
    // shares live strictly inside (0, 1): both EU and non-EU supply exists
    got.foreach { case (y, _, _, _, s) => assert(s > 0 && s < 10000, s"year $y") }
  }

  test("IGNORE NULLS window surface: forward-fill and null-skipping lag match a direct scan") {
    // the gap-fill idiom a sparse sensor/metric series needs at 100 TB:
    // last_value(...) IGNORE NULLS over an unbounded-preceding frame is
    // the scalable forward-fill (one keyed window, no self-join). The
    // corpus has no natural null-bearing series (events are dense; the
    // only nullable column is user_id, where filling would fabricate
    // attribution — ledgered), so the ENGINE SURFACE is proven on a
    // fixture against a direct scan, in both the Column API and the SQL
    // IGNORE NULLS syntax.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq[(Long, Long, Option[Double])](
      (1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, None), (1L, 4L, Some(40.0)),
      (1L, 5L, None), (2L, 1L, None), (2L, 2L, Some(5.0)), (2L, 3L, None))
    val df = rows.toDF("k", "t", "v")
    val w = Window.partitionBy(col("k")).orderBy(col("t"))
    val got = df
      .withColumn("ffill", last(col("v"), ignoreNulls = true)
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("prev_obs", lag(col("v"), 1, null, ignoreNulls = true).over(w))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double]))))
      .toMap
    // direct per-key scan: running last non-null, and the value before it
    val expected = rows.groupBy(_._1).flatMap { case (k, xs) =>
      var lastSeen: Option[Double] = None
      xs.sortBy(_._2).map { case (_, t, v) =>
        val prev = lastSeen // strictly-before non-null
        if (v.isDefined) lastSeen = v
        ((k, t), (if (v.isDefined) v else prev, prev))
      }
    }
    expected.foreach { case (key, (ff, prev)) =>
      assert(got(key)._1 == ff, s"ffill at $key")
      assert(got(key)._2 == prev, s"prev_obs at $key")
    }
    // the SQL spelling parses and agrees with the Column API
    df.createOrReplaceTempView("graft_ffill_fixture")
    try {
      val sqlGot = spark.sql("""
        SELECT k, t, last_value(v) IGNORE NULLS OVER (
          PARTITION BY k ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill
        FROM graft_ffill_fixture""")
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), Option(r.get(2)).map(_.asInstanceOf[Double])))
        .toMap
      expected.foreach { case (key, (ff, _)) => assert(sqlGot(key) == ff, s"SQL ffill at $key") }
    } finally spark.catalog.dropTempView("graft_ffill_fixture")
  }

  test("listagg WITHIN GROUP produces deterministic ordered concatenations") {
    // the SQL:2016 ordered string aggregation (Spark 4 surface): WITHOUT
    // the WITHIN GROUP order clause a distributed concat is
    // merge-order-dependent and can never pass a hash-exact oracle —
    // the ordered form is the only spelling this engine contract allows
    // into a deterministic pipeline. Pinned against a collect-and-sort
    // fold over the real dim table.
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    t.nation.createOrReplaceTempView("graft_listagg_nation")
    try {
      val got = spark.sql("""
        SELECT n_regionkey, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names
        FROM graft_listagg_nation GROUP BY n_regionkey""")
        .collect().map(r => (r.getInt(0), r.getString(1))).toMap
      val expected = t.nation.select(col("n_regionkey"), col("n_name")).collect()
        .map(r => (r.getInt(0), r.getString(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.mkString(",")).toMap
      assert(got == expected)
      assert(got.values.exists(_.contains(",")), "degenerate: single-member groups only")
    } finally spark.catalog.dropTempView("graft_listagg_nation")
  }

  test("q241 lateral top-k matches a per-nation sort fold and analyzes as LateralJoin") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val nations = t.nation.select(col("n_nationkey"), col("n_name")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    val custs = t.customer.select(col("c_nationkey"), col("c_name"), col("c_acctbal"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    val expected = custs.groupBy(_._1).toSeq.flatMap { case (nk, xs) =>
      xs.sortBy(c => (-c._3, c._2)).take(3)
        .map(c => (nations(nk), c._2, math.floor(c._3 * 100 + 0.5).toLong))
    }.sortBy(x => (x._1, -x._3, x._2)).toSeq
    val df = SparkEntry.queries("q241_lateral_topk")(spark, sf)
    // engine-surface pin: the correlated LIMIT subquery must arrive as a
    // LATERAL join, not get hand-rewritten before the engine sees it
    assert(df.queryExecution.analyzed.toString.contains("LateralJoin"),
      "q241 did not analyze as a LATERAL join")
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expected)
    // every nation present with exactly 3 rows (all nations have ≥3 customers)
    assert(got.groupBy(_._1).forall(_._2.length == 3))
    // construction leaves the session catalog as found
    assert(!spark.catalog.tableExists("graft_q241_nation") &&
      !spark.catalog.tableExists("graft_q241_customer"))
  }

  test("q242 nation profit matches an independent five-relation fold") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val boltCost = t.part.select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .collect()
      .collect { case r if r.getString(1).contains("bolt") =>
        (r.getLong(0), math.floor(r.getDouble(2) * 60 + 0.5).toLong)
      }.toMap
    val supNation = {
      val nn = t.nation.select(col("n_nationkey"), col("n_name")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toMap
      t.supplier.select(col("s_suppkey"), col("s_nationkey")).collect()
        .map(r => (r.getLong(0), nn(r.getInt(1)))).toMap
    }
    val years = t.orders.select(col("o_orderkey"), year(col("o_orderdate"))).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    val cells = t.lineitem
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"), col("l_quantity"))
      .collect()
      .flatMap { r =>
        boltCost.get(r.getLong(1)).map { unit =>
          val rev = math.floor(r.getDouble(3) * (1 - r.getDouble(4)) * 100 + 0.5).toLong
          val cost = math.floor(r.getDouble(5) + 0.5).toLong * unit
          ((supNation(r.getLong(2)), years(r.getLong(0))), (rev, cost))
        }
      }
    val expected = cells.groupBy(_._1).map { case ((n, y), xs) =>
      val rev = xs.map(_._2._1).sum
      val cost = xs.map(_._2._2).sum
      (n, y, xs.length.toLong, rev, cost, rev - cost)
    }.toSet
    val got = SparkEntry.queries("q242_nation_profit")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    assert(got.size > 10, "degenerate: the bolt slice collapsed")
  }

  test("q243 returned-revenue top-20 matches an independent returnflag fold") {
    import org.apache.spark.sql.functions._
    val t = Tables(spark, sf)
    val custOf = t.orders.select(col("o_orderkey"), col("o_custkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val perCust = t.lineitem
      .select(col("l_orderkey"), col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
      .collect()
      .collect { case r if r.getString(1) == "R" =>
        (custOf(r.getLong(0)), r.getLong(0),
          math.floor(r.getDouble(2) * (1 - r.getDouble(3)) * 100 + 0.5).toLong)
      }
      .groupBy(_._1)
    val names = t.customer.select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    val nations = t.nation.select(col("n_nationkey"), col("n_name")).collect()
      .map(r => (r.getInt(0), r.getString(1))).toMap
    val expected = perCust.toSeq.map { case (ck, xs) =>
      val (nm, nk) = names(ck)
      (ck, nm, nations(nk), xs.map(_._2).distinct.length.toLong,
        xs.length.toLong, xs.map(_._3).sum)
    }.sortBy(x => (-x._6, x._1)).take(20).toSeq
    val got = SparkEntry.queries("q243_returned_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    assert(got.length == 20, "degenerate: fewer than 20 returned-revenue customers")
  }
}
