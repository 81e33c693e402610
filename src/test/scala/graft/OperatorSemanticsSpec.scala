package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants per operator family — properties the DuckDB hash
  * compare can't express (recall, containment, monotonicity).
  */
class DedupSemanticsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("LSH candidates recall the high-Jaccard pairs") {
    // every verified pair with jaccard >= 0.5 should be surfaced by the
    // 8-band LSH with overwhelming probability: P(miss) = (1-j)^8 <= 0.4%
    val jac = SparkEntry.queries("q38_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val lsh = SparkEntry.queries("q37_lsh_pairs")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val recalled = jac.intersect(lsh).size
    assert(jac.nonEmpty)
    assert(recalled >= math.ceil(jac.size * 0.9).toInt,
      s"LSH recalled $recalled of ${jac.size} true near-dup pairs")
  }

  test("q265 cluster-aware split NEVER spans a dup cluster; naive split provably leaks") {
    val rows = SparkEntry.queries("q265_cluster_split")(spark, sf).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_train"), r.getAs[Long]("n_val"), r.getAs[Long]("n_test"),
          r.getAs[Long]("spanning_clusters"), r.getAs[Long]("docs_in_spanning"))).toMap
    val aware = rows("cluster_aware")
    val naive = rows("naive")
    // the structural guarantee: hashing the cluster label cannot split a
    // cluster — and on this corpus the naive doc-hash demonstrably does
    assert(aware._4 == 0L && aware._5 == 0L, "cluster-aware split leaked")
    assert(naive._4 > 0L, "fixture lost its leak signal — naive split spans no cluster")
    // both methods conserve the corpus and keep the 80/10/10 shape
    Seq(aware, naive).foreach { m =>
      assert(m._1 + m._2 + m._3 == 500L)
      assert(m._1 > m._2 && m._1 > m._3)
    }
  }

  test("exact-dedup counts are consistent with corpus size") {
    val rows = SparkEntry.queries("q35_exact_dedup")(spark, sf).collect()
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == 500)
    rows.foreach(r => assert(r.getAs[Long]("n_dup_docs") >= 0))
  }

  test("simhash of near-identical docs is closer than of unrelated docs") {
    val sh = SparkEntry.queries("q39_simhash")(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash"))).toMap
    // top verified near-dup pair vs a far pair
    val top = SparkEntry.queries("q38_ngram_jaccard")(spark, sf)
      .orderBy(col("jaccard").desc).limit(1).collect()(0)
    val (a, b) = (top.getAs[Long]("doc_a"), top.getAs[Long]("doc_b"))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    val nearDist = ham(sh(a), sh(b))
    val farDists = (0L to 20L).filter(i => i != a && i != b).map(i => ham(sh(a), sh(i)))
    assert(nearDist <= farDists.min,
      s"near pair hamming $nearDist vs min unrelated ${farDists.min}")
  }
}

class SimilaritySemanticsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("sign-LSH ANN recalls planted near-duplicate vectors") {
    // The testdata embeddings are near-random (max pairwise cos ≈ 0.5), so
    // sign-LSH top-1 recall there is the ~1/16 bucket-collision baseline —
    // not a correctness signal. The operator's actual contract: genuinely
    // similar vectors share sign buckets. Plant scaled copies (cos = 1,
    // identical signs) and require the bucketed search to pair them.
    import spark.implicits._
    val base = (0 until 20).map { i =>
      (i.toLong, Seq.tabulate(8)(d => (((i * 31 + d * 7) % 13) - 6).toFloat + 0.5f))
    }
    val dups = base.map { case (i, v) => (i + 100L, v.map(_ * 1.001f)) }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val e = df.withColumn(
      "bucket",
      expr("""(CASE WHEN element_at(embedding, 1) >= 0 THEN 8 ELSE 0 END) +
             |(CASE WHEN element_at(embedding, 2) >= 0 THEN 4 ELSE 0 END) +
             |(CASE WHEN element_at(embedding, 3) >= 0 THEN 2 ELSE 0 END) +
             |(CASE WHEN element_at(embedding, 4) >= 0 THEN 1 ELSE 0 END)""".stripMargin))
    val a = e.select(col("bucket"), col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("bucket").as("bb"), col("vec_id").as("ib"), col("embedding").as("vb"))
    val found = a
      .join(b, col("bucket") === col("bb") && col("ia") < col("ib"))
      .withColumn("cos", graft.functions.GraftFunctions.cosine_sim(col("va"), col("vb")))
      .filter(col("cos") > 0.9999)
      .select(col("ia"), col("ib"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    base.foreach { case (i, _) =>
      assert(found.contains((i, i + 100L)), s"planted near-dup pair ($i, ${i + 100}) not recalled")
    }
  }

  test("cosine top-k ranks are dense and bounded") {
    val rows = SparkEntry.queries("q40_cosine_topk")(spark, sf).collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("nn_rank")).sorted.sameElements(1 to 5))
      val sims = rs.sortBy(_.getAs[Int]("nn_rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y }, "similarity not monotone in rank")
    }
  }
}

class MrlFidelitySpec extends AnyFunSuite {
  import SparkTestSession._

  test("q269 truncation fidelity: d=64 is the exact identity; fidelity grows with dim") {
    val rows = SparkEntry.queries("q269_mrl_fidelity")(spark, sf).collect()
      .map(r => (r.getAs[Int]("d"), r.getAs[Long]("mean_recall_e4"), r.getAs[Long]("mean_tau_e4")))
      .sortBy(_._1)
    assert(rows.map(_._1) sameElements Array(8, 16, 32, 64))
    // identity anchor: ranking a set by the metric that DEFINED it is a no-op
    val id = rows.last
    assert(id._2 == 10000L && id._3 == 10000L, s"d=64 anchor drifted: $id")
    // more prefix dims never lose ranking information on this corpus
    rows.sliding(2).foreach { case Array((d1, r1, t1), (d2, r2, t2)) =>
      assert(r2 >= r1, s"recall fell from d=$d1 to d=$d2")
      assert(t2 >= t1, s"tau fell from d=$d1 to d=$d2")
    }
    // tau is a correlation: bounded by the identity on both sides
    rows.foreach { case (_, r, t) =>
      assert(r >= 0 && r <= 10000)
      assert(t >= -10000 && t <= 10000)
    }
  }
}

class MmrRerankSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q272 MMR trajectory replays exactly from a scalar greedy on the same integers") {
    val rows = SparkEntry.queries("q272_mmr_rerank")(spark, sf).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("pick"), r.getAs[Long]("vec_id"),
        r.getAs[Long]("rel_e6"), r.getAs[Long]("score_x10_e6")))
    // rebuild pool + sims with the engine's own kernels, then replay greedily
    import graft.functions.GraftFunctions.cosine_sim
    val e = Tables(spark, sf).embeddings.withColumnRenamed("embedding", "v")
    val q = e.filter(col("vec_id") < 16).select(col("vec_id").as("qid"), col("v").as("qv"))
    val cand = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
      .withColumn("rel_e6",
        floor(cosine_sim(col("qv"), col("v")) * 1000000 + 0.5).cast("long"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("rel_e6").desc, col("vec_id"))))
      .filter(col("rk") <= 20)
      .select(col("qid"), col("vec_id"), col("v"), col("rel_e6"))
    val pool = cand.collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id"),
        r.getSeq[Float](2).toArray, r.getAs[Long]("rel_e6")))
    def cosE6(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1000000 + 0.5).toLong
    }
    pool.groupBy(_._1).foreach { case (qid, members) =>
      val byId = members.map(m => m._2 -> m).toMap
      var sel = Vector(members.minBy(m => (-m._4, m._2)))
      for (k <- 2 to 4) {
        val rest = members.filterNot(m => sel.exists(_._2 == m._2))
        val scored = rest.map { m =>
          val maxSim = sel.map(s => cosE6(m._3, s._3)).max
          (m, m._4 * 7 - maxSim * 3)
        }
        val best = scored.minBy { case (m, sc) => (-sc, m._2) }
        sel = sel :+ best._1
        val got = rows.find(r => r._1 == qid && r._2 == k).get
        assert(got._3 == best._1._2, s"qid=$qid pick=$k: engine ${got._3} vs scalar ${best._1._2}")
        assert(got._5 == best._2, s"qid=$qid pick=$k score mismatch")
      }
      // pick 1 is the pure-relevance argmax; picks are distinct
      val p1 = rows.find(r => r._1 == qid && r._2 == 1).get
      assert(p1._3 == members.minBy(m => (-m._4, m._2))._2)
      assert(byId.contains(p1._3))
      assert(rows.filter(_._1 == qid).map(_._3).distinct.length == 4)
    }
  }
}

class IsotonicCalibrationSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q270 isotonic fit equals an independent scalar minimax; monotone; pooling fires") {
    val rows = SparkEntry.queries("q270_isotonic_calibration")(spark, sf).collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n_docs"), r.getAs[Long]("raw_rep_e9"),
        r.getAs[Long]("iso_rep_e9"), r.getAs[Boolean]("pooled")))
      .sortBy(_._1)
    // scalar recompute from the same bin aggregates: reconstruct (n, pos)
    // from the reported raw mean is lossy, so recompute pos via the same
    // engine rollup the query starts from
    val agg = Tables(spark, sf).documents
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("n_stop", size(expr("filter(words, w -> w IN ('the', 'a', 'of', 'and'))")))
      .withColumn("score", round(
        least(col("n_words") / lit(100.0), lit(1.0)) * 0.5
          + (col("n_stop") / col("n_words")) * 2.0
          + when(col("n_chars") >= 100, 0.2).otherwise(0.0), 4))
      .withColumn("total_sh", greatest(size(col("words")) - 2, lit(0)).cast("long"))
      .withColumn("distinct_sh",
        size(graft.functions.GraftFunctions.shingle_set(col("text"))).cast("long"))
      .withColumn("rep", when(col("total_sh") > 0,
        lit(1.0) - col("distinct_sh") / col("total_sh")).otherwise(lit(0.0)))
      .select(
        expr("CAST(least(floor(score / 0.125), 15) AS BIGINT)").as("bin"),
        expr("CAST(floor(rep * 1000000 + 0.5) AS BIGINT)").as("rep_e6"))
      .groupBy("bin").agg(count(lit(1)).as("n"), sum("rep_e6").as("pos"))
      .collect().map(r => (r.getAs[Long]("bin"), r.getAs[Long]("n"), r.getAs[Long]("pos")))
      .sortBy(_._1)
    val n = agg.map(_._2)
    val pos = agg.map(_._3)
    def avgE9(j: Int, k: Int): Long = {
      val p = (j to k).map(pos).sum; val q = (j to k).map(n).sum
      (2 * 1000 * p + q) / (2 * q)
    }
    val b = agg.length
    val iso = (0 until b).map(i =>
      (0 to i).map(j => (i until b).map(k => avgE9(j, k)).min).max)
    assert(rows.map(_._1).toSeq == agg.map(_._1).toSeq, "bin domains diverged")
    rows.zipWithIndex.foreach { case ((_, nd, raw, isoQ, pooled), i) =>
      assert(nd == n(i))
      assert(raw == avgE9(i, i))
      assert(isoQ == iso(i), s"bin $i: engine $isoQ vs scalar ${iso(i)}")
      assert(pooled == (raw != isoQ))
    }
    // fit is monotone non-decreasing, and PAVA genuinely pooled somewhere
    iso.sliding(2).foreach { case Seq(a2, b2) => assert(a2 <= b2) }
    assert(rows.exists(_._5), "no pooling fired — the fixture lost its non-monotone signal")
  }
}

class LakeSemanticsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("checksum validation flags exactly the synthesized corruptions") {
    val rows = SparkEntry.queries("q23_checksum_validate")(spark, sf).collect()
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val expectInvalid = id % 25 == 0
      assert(r.getAs[Boolean]("valid") == !expectInvalid)
      if (id % 2 == 0) {
        assert(r.getAs[String]("algo") == "sha2-256")
        assert(r.getAs[String]("digest256").startsWith("1220"))
        assert(r.getAs[Int]("multihash_len") == 4 + 64)
      } else {
        assert(r.getAs[String]("algo") == "sha2-512")
        assert(r.isNullAt(r.fieldIndex("digest256")))
        assert(r.getAs[Int]("multihash_len") == 4 + 128)
      }
    }
  }

  test("sha2-512 branch matches java.security.MessageDigest") {
    // the DuckDB oracle has no sha512, so pin Spark's sha2(·,512) — the
    // exact function q23's 0x13-prefix dispatch uses — to the JDK here
    val rows = Tables(spark, sf).documents
      .filter(col("doc_id") % 2 === 1)
      .limit(5)
      .select(col("text"), sha2(col("text"), 512).as("d"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("SHA-512")
      val hex = md.digest(r.getAs[String]("text").getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(r.getAs[String]("d") == hex)
    }
  }

  test("content batches respect MAX_ITERATION_SIZE and tile the assets") {
    val rows = SparkEntry.queries("q24_content_batches")(spark, sf).collect()
    rows.foreach(r => assert(r.getAs[Long]("n_items") <= 25))
    val total = rows.map(_.getAs[Long]("n_items")).sum
    assert(total == 500)
  }

  test("q258 Neyman allocation apportions EXACTLY the 1000-doc budget") {
    val rows = SparkEntry.queries("q258_neyman_allocation")(spark, sf).collect()
    assert(rows.map(_.getAs[Long]("alloc")).sum == 1000L)
    // largest-remainder never strays more than 1 from the real quota
    val wTotal = rows.map(_.getAs[Long]("weight")).sum
    rows.foreach { r =>
      val quota = 1000.0 * r.getAs[Long]("weight") / wTotal
      val a = r.getAs[Long]("alloc")
      assert(math.abs(a - quota) < 1.0 + 1e-9,
        s"${r.getAs[String]("source")}: alloc $a vs quota $quota")
    }
  }

  test("q266 rendezvous rebalance moves ONLY to the new shard; modulo reshuffles the corpus") {
    val rows = SparkEntry.queries("q266_shard_rebalance")(spark, sf).collect()
      .map(r => r.getAs[String]("method") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_moved"), r.getAs[Long]("moved_to_new"),
          r.getAs[Long]("max_load"), r.getAs[Long]("min_load"))).toMap
    val hrw = rows("rendezvous")
    val mod = rows("mod")
    assert(hrw._1 == mod._1, "both methods place the same corpus")
    // the HRW theorem: a doc moves iff the NEW shard wins its argmax — no
    // doc ever moves between two pre-existing shards
    assert(hrw._2 == hrw._3, "rendezvous moved a doc to a pre-existing shard")
    // minimal disruption: HRW moves ~1/17, modulo ~16/17 — an order of
    // magnitude apart at any corpus size
    assert(hrw._2 * 5 < mod._2, s"HRW moved ${hrw._2} vs modulo ${mod._2}")
    // every shard is populated after the grow (placement is usable)
    assert(hrw._5 > 0 && mod._5 > 0)
  }

  test("q267 Mann-Kendall S and Theil-Sen median match a scalar recompute") {
    val rows = SparkEntry.queries("q267_trend_audit")(spark, sf).collect()
    val monthly = Tables(spark, sf).orders
      .select(col("o_orderpriority").as("prio"),
        expr("year(o_orderdate) * 12 + month(o_orderdate)").cast("long").as("mi"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("rev"))
      .groupBy("prio", "mi").agg(sum("rev").as("n")).collect()
      .map(r => (r.getAs[String]("prio"), r.getAs[Long]("mi"), r.getAs[Long]("n")))
      .groupBy(_._1)
    rows.foreach { r =>
      val series = monthly(r.getAs[String]("prio")).map(x => (x._2, x._3)).sortBy(_._1)
      val pairs = for {
        Seq((m1, n1), (m2, n2)) <- series.combinations(2).toSeq.map(_.toSeq)
      } yield (math.signum((n2 - n1).toDouble).toLong, (n2 - n1).toDouble / (m2 - m1))
      val m = series.length.toLong
      assert(r.getAs[Long]("n_months") == m)
      assert(r.getAs[Long]("s_stat") == pairs.map(_._1).sum)
      assert(math.abs(r.getAs[Long]("s_stat")) <= m * (m - 1) / 2)
      assert(r.getAs[Long]("var18") <= m * (m - 1) * (2 * m + 5))
      // Z carries S's sign; Sen median equals the scalar nearest-rank pick
      assert(java.lang.Long.signum(r.getAs[Long]("z_e4")) ==
        java.lang.Long.signum(r.getAs[Long]("s_stat")))
      val slopes = pairs.map(_._2).sorted
      val med = slopes((slopes.length + 1) / 2 - 1)
      assert(r.getAs[Long]("sen_slope_c_mo") == math.floor(med + 0.5).toLong)
    }
  }

  test("q268 IVM: delta-maintained view equals recompute; all three delta terms are live") {
    val rows = SparkEntry.queries("q268_ivm_delta")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ivm_ok"), s"${r.getAs[String]("n_name")}: IVM drifted")
      assert(r.getAs[Long]("view_after_e2") ==
        r.getAs[Long]("base_e2") + r.getAs[Long]("d_new_orders_e2") +
          r.getAs[Long]("d_new_lines_e2") + r.getAs[Long]("d_both_e2"))
    }
    // the orthogonal-axis split keeps every delta term globally live —
    // a split on ONE shared axis would zero two of them
    assert(rows.map(_.getAs[Long]("d_new_orders_e2")).sum > 0)
    assert(rows.map(_.getAs[Long]("d_new_lines_e2")).sum > 0)
    assert(rows.map(_.getAs[Long]("d_both_e2")).sum > 0)
  }

  test("q271 Apriori funnel: anti-monotone supports and a subset-closed candidate set") {
    val rows = SparkEntry.queries("q271_apriori_funnel")(spark, sf).collect()
      .map(r => r.getAs[String]("stage") ->
        (r.getAs[Long]("n"), Option(r.get(3)).map(_.asInstanceOf[Long]))).toMap
    assert(rows.size == 4)
    // anti-monotonicity: a k-itemset's support never exceeds any subset's
    val maxItem = rows("items_2plus")._2.get
    val maxPair = rows("pairs_2plus")._2.get
    assert(maxPair <= maxItem)
    rows("triples_2plus")._2.foreach(mt => assert(mt <= maxPair))
    // verified triples are a subset of the generated candidates
    assert(rows("triples_2plus")._1 <= rows("triple_candidates")._1)
    // the lattice has something to mine at the test SF
    assert(rows("pairs_2plus")._1 > 0 && rows("triple_candidates")._1 > 0)
  }

  test("q273 AMS F2: exact moment matches a scalar recompute; estimator inside its bound") {
    val rows = SparkEntry.queries("q273_ams_f2")(spark, sf).collect()
    assert(rows.length == 8)
    val t = Tables(spark, sf)
    val counts = t.events.filter(col("user_id").isNotNull)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .collect().map(_.getAs[Long]("c"))
    val exactF2 = counts.map(c => c * c).sum
    rows.foreach { r =>
      assert(r.getAs[Long]("exact_f2") == exactF2)
      assert(r.getAs[Boolean]("within_bound"),
        s"median ratio ${r.getAs[Long]("ratio_e4")} outside [4000, 25000]")
    }
    // the median column really is the nearest-rank-4 group mean
    val ests = rows.map(_.getAs[Long]("est_mean_f2")).sorted
    assert(rows.head.getAs[Long]("median_f2") == ests(3))
  }

  test("q257 KM curve: risk set is monotone non-increasing and starts at the full cohort") {
    val rows = SparkEntry.queries("q257_km_survival")(spark, sf).collect()
      .map(r => (r.getAs[Long]("wk"), r.getAs[Long]("n_events"), r.getAs[Long]("n_at_risk"),
        r.getAs[Long]("cum_neg_log_surv_e6")))
    // first risk set = every order (completed + censored)
    val t = Tables(spark, sf)
    assert(rows.head._3 == t.orders.count())
    // risk decreases by exactly the prior completions; cum log-survival
    // is monotone non-decreasing (survival never recovers)
    rows.sliding(2).foreach { case Array((_, d, n, c), (_, _, n2, c2)) =>
      assert(n2 == n - d, "risk set must shrink by the completions")
      assert(c2 >= c, "negative log survival must be monotone")
    }
    // completions are conserved: every order with lines completes once
    assert(rows.map(_._2).sum == t.lineitem.select(col("l_orderkey")).distinct().count())
  }

  test("q260 SCD2 intervals tile each user's event history exactly") {
    val rows = SparkEntry.queries("q260_scd2_intervals")(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("run_id"),
        r.getAs[Long]("valid_from_us"),
        if (r.isNullAt(4)) None else Some(r.getLong(4)),
        r.getAs[Long]("n_events"), r.getAs[Boolean]("is_current")))
    val t = Tables(spark, sf)
    // event conservation across intervals
    assert(rows.map(_._5).sum ==
      t.events.filter(col("user_id").isNotNull).count())
    rows.groupBy(_._1).foreach { case (_, ivs) =>
      val sorted = ivs.sortBy(_._2)
      // run ids are dense from 1; exactly one open (current) interval,
      // and it is the last; intervals abut: valid_to == next valid_from
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq)
      assert(sorted.count(_._6) == 1 && sorted.last._6)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4.contains(b._3), "intervals must abut")
        case _ => ()
      }
    }
  }

  test("q256 retrieval metrics are internally consistent (nDCG=1 iff perfect prefix)") {
    val rows = SparkEntry.queries("q256_retrieval_quality")(spark, sf).collect()
    assert(rows.length == 32)
    rows.foreach { r =>
      val (nCand, nRel) = (r.getAs[Long]("n_cand"), r.getAs[Long]("n_rel_top10"))
      val (first, rr) = (r.getAs[Int]("first_hit_rank"), r.getAs[Long]("rr_e6"))
      val ndcg = r.getAs[Long]("ndcg_e6")
      assert(nRel <= math.min(10L, nCand))
      if (first == 0) assert(rr == 0L && nRel == 0L && ndcg == 0L)
      else {
        assert(rr == math.floor(1000000.0 / first + 0.5).toLong)
        assert(first <= 10 && nRel >= 1)
      }
      assert(ndcg >= 0L && ndcg <= 1000000L)
      // a perfect 10-for-10 prefix in truth order is exactly nDCG 1
      if (ndcg == 1000000L) assert(nRel == 10L)
    }
    // the sample must contain real signal: some queries retrieve hits
    assert(rows.count(_.getAs[Long]("n_rel_top10") > 0) >= 10)
  }

  test("catalog tree has exactly one root level and consistent parents") {
    val rows = SparkEntry.queries("q27_catalog_tree")(spark, sf).collect()
    val byDepth = rows.groupBy(_.getAs[Int]("depth"))
    assert(byDepth(0).length == 5) // regions
    assert(byDepth(0).forall(_.isNullAt(3)))
    val regionIds = byDepth(0).map(_.getAs[Long]("node_id")).toSet
    assert(byDepth(1).forall(r => regionIds.contains(r.getAs[Long]("parent_id"))))
  }
}

class QuantileNormSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q274 picks match a scalar recompute; KS never worse and lands on the rank-granularity floor") {
    val rows = SparkEntry.queries("q274_quantile_norm")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("norm_mean_e3"), r.getAs[Long]("ks_before_e6"),
        r.getAs[Long]("ks_after_e6")))
    val docs = Tables(spark, sf).documents
      .select(col("source"), length(col("text")).cast("long").as("len"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val pooled = docs.map(_._2).sorted
    val nAll = pooled.length.toLong
    assert(rows.map(_._2).sum == nAll, "normalization must conserve the corpus")
    val bySource = docs.groupBy(_._1)
    rows.foreach { case (src, nd, normMean, ksB, ksA) =>
      val lens = bySource(src).sortBy(d => (d._2, d._3)).map(_._2)
      assert(nd == lens.length)
      // scalar recompute of the Bolstad pick: rank r maps to the pooled
      // order statistic at k = ceil((2r-1)N / (2n_s))
      val picks = (1 to lens.length).map { r =>
        val k = ((2L * r - 1) * nAll + 2 * nd - 1) / (2 * nd)
        pooled((k - 1).toInt)
      }
      val expMean = (2 * 1000L * picks.sum + nd) / (2 * nd)
      assert(normMean == expMean, s"$src: engine $normMean vs scalar $expMean")
      // the operator's own certificate: never worse, and bounded by the
      // source's 1/(2n) rank granularity after normalization
      assert(ksA <= ksB, s"$src: normalization worsened KS ($ksB -> $ksA)")
      assert(ksA <= 1000000L / (2 * nd) + 1, s"$src: ks_after $ksA above the 1/(2n) floor")
    }
    assert(rows.exists(r => r._5 < r._4),
      "normalization changed nothing — fixture lost its drift signal")
  }
}

class PrioritySampleSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q275 sample and threshold estimates match a scalar recompute; global estimate is tight") {
    val rows = SparkEntry.queries("q275_priority_sample")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_sampled"), r.getAs[Long]("exact_chars"),
        r.getAs[Long]("est_chars")))
    val k = 100
    assert(rows.map(_._3).sum == k, "sample size must be exactly k")
    // scalar recompute of the full scheme
    val docs = Tables(spark, sf).documents
      .select(col("doc_id"), col("source"), col("n_chars").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val prio = docs.map { case (id, src, w) =>
      val u = ((id % 2147483647L) * 2654435761L) % 1048576L + 1
      (id, src, w, (w * 1048576L) / u)
    }.sortBy(p => (-p._4, p._1))
    val tau = prio(k)._4
    val sample = prio.take(k)
    val estBySrc = sample.groupBy(_._2)
      .map { case (s2, ms) => s2 -> (ms.length.toLong, ms.map(m => math.max(m._3, tau)).sum) }
    rows.foreach { case (src, _, ns, exact, est) =>
      val (expN, expEst) = estBySrc.getOrElse(src, (0L, 0L))
      assert(ns == expN, s"$src: n_sampled $ns vs scalar $expN")
      assert(est == expEst, s"$src: est $est vs scalar $expEst")
      assert(exact == docs.filter(_._2 == src).map(_._3).sum)
    }
    // the subset-sum estimator is tight in aggregate (probed 0.9% here;
    // theory: se ≈ 1/sqrt(k) ≈ 10%)
    val (g, e) = (rows.map(_._5).sum.toDouble, rows.map(_._4).sum.toDouble)
    assert(math.abs(g - e) / e < 0.05, s"global estimate $g vs exact $e")
  }
}

class SourceAblationSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q276 LOO marginals match a scalar recompute; unique+shared partition each source's types") {
    val rows = SparkEntry.queries("q276_source_ablation")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_types"), r.getAs[Long]("unique_types"),
        r.getAs[Long]("loo_types"), r.getAs[Long]("loo_mean_chars_e3"),
        r.getAs[Long]("delta_mean_e3")))
    // scalar recompute from the same shingle kernel
    val m = Tables(spark, sf).documents
      .select(col("source"),
        explode(graft.functions.GraftFunctions.shingle_set(col("text"))).as("sh"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val bySh = m.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val vTotal = bySh.size.toLong
    rows.foreach { case (src, _, nT, uT, looT, _, _) =>
      val types = m.filter(_._1 == src).map(_._2).distinct
      assert(nT == types.length.toLong, s"$src n_types")
      val uniq = types.count(sh => bySh(sh) == Set(src)).toLong
      assert(uT == uniq, s"$src unique_types: engine $uT vs scalar $uniq")
      // the delta rule: LOO corpus types = types whose source list is not {src}
      assert(looT == vTotal - uniq)
      assert(looT == bySh.count { case (_, ss) => ss != Set(src) }.toLong)
    }
    // real signal at the fixture: single-source content exists but is not everything
    assert(rows.forall(_._4 > 0) && rows.forall(r => r._4 < r._3))
    // the mean deltas are centered: LOO means straddle the global mean
    assert(rows.exists(_._7 > 0) && rows.exists(_._7 < 0))
  }
}

class LinkageScoreSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q277 conserves the candidate set; FS scores separate verified dups from non-dups") {
    val rows = SparkEntry.queries("q277_linkage_score")(spark, sf).collect()
      .map(r => (r.getAs[Long]("band"), r.getAs[Long]("lo_e4"),
        r.getAs[Long]("n_pairs"), r.getAs[Long]("n_dup"),
        r.getAs[Long]("dup_share_e6")))
    // every LSH candidate pair is scored exactly once
    val nCand = SparkEntry.queries("q37_lsh_pairs")(spark, sf).count()
    assert(rows.map(_._3).sum == nCand, "scored pairs must equal the candidate set")
    val nDup = rows.map(_._4).sum
    assert(nDup > 0 && nDup < nCand, "fixture lost its dup/non-dup mix")
    // dup-mass concentrates in higher bands than non-dup mass
    val dupMean = rows.map(r => r._1 * r._4).sum.toDouble / nDup
    val nonMean = rows.map(r => r._1 * (r._3 - r._4)).sum.toDouble / (nCand - nDup)
    assert(dupMean > nonMean, s"dup band mean $dupMean <= non-dup $nonMean")
    // the FS thresholding property at this fixture: pure-dup bands sit at
    // positive log-likelihood, pure-non-dup bands at negative
    rows.filter(_._5 == 1000000L).foreach(r => assert(r._2 > 0, s"dup band at lo ${r._2}"))
    rows.filter(_._5 == 0L).foreach(r => assert(r._2 < 0, s"non-dup band at lo ${r._2}"))
    // share bounds + internal consistency of the e6 division
    rows.foreach { case (_, _, np, nd, sh) =>
      assert(nd <= np)
      assert(sh == (2 * 1000000L * nd + np) / (2 * np))
    }
  }
}

class MerkleManifestSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q278 roots replay from a scalar Merkle build; tampering localizes to its group") {
    val rows = SparkEntry.queries("q278_merkle_manifest")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_assets"),
        r.getAs[Long]("n_groups"), r.getAs[String]("root"),
        r.getAs[Long]("tampered_groups"), r.getAs[Boolean]("tamper_detected")))
    val docs = Tables(spark, sf).documents
      .select(col("source"), col("doc_id"), col("text"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(rows.map(_._2).sum == docs.length.toLong)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    rows.foreach { case (src, nA, nG, root, tg, det) =>
      val mine = docs.filter(_._1 == src).sortBy(_._2)
      assert(nA == mine.length.toLong)
      // scalar fanout-32 build, pristine leaves
      def build(leaf: (Long, String) => String): String = {
        val l1 = mine.groupBy(_._2 / 32).toSeq.sortBy(_._1)
          .map { case (g, ds) => (g, md5hex(ds.sortBy(_._2).map(d => leaf(d._2, d._3)).mkString)) }
        val l2 = l1.groupBy(_._1 / 32).toSeq.sortBy(_._1)
          .map { case (g2, ns) => (g2, md5hex(ns.sortBy(_._1).map(_._2).mkString)) }
        md5hex(l2.sortBy(_._1).map(_._2).mkString)
      }
      assert(root == build((_, txt) => md5hex(txt)), s"$src root mismatch")
      assert(nG == mine.groupBy(_._2 / 32).size.toLong)
      // tamper localization: detection fires iff the source holds a %97 doc,
      // and the tampered-group count equals the distinct groups those docs occupy
      val hot = mine.filter(_._2 % 97 == 0)
      assert(det == hot.nonEmpty, s"$src detection verdict")
      assert(tg == hot.map(_._2 / 32).distinct.length.toLong, s"$src localization")
      assert(det == (tg > 0))
    }
    assert(rows.exists(_._6) && rows.exists(!_._6), "fixture lost its tamper mix")
  }
}

class BlockingBenchSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q279 block combinatorics match a scalar recompute; the production band dominates lang") {
    val rows = SparkEntry.queries("q279_blocking_bench")(spark, sf).collect()
      .map(r => r.getAs[String]("scheme") ->
        (r.getAs[Long]("n_blocks"), r.getAs[Long]("cand_pairs"), r.getAs[Long]("rr_e6"),
          r.getAs[Long]("captured"), r.getAs[Long]("pc_e6"), r.getAs[Long]("pq_e6"))).toMap
    assert(rows.keySet == Set("lang", "len_bucket", "head16", "minhash_band0"))
    // scalar recompute of the two cheap schemes' block combinatorics
    val docs = Tables(spark, sf).documents
      .select(col("lang"), expr("n_chars DIV 100").as("lb"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val n = docs.length.toLong
    def comb(cs: Iterable[Int]): Long = cs.map(c => c.toLong * (c - 1) / 2).sum
    val byLang = docs.groupBy(_._1).map(_._2.length)
    val byLen = docs.groupBy(_._2).map(_._2.length)
    assert(rows("lang")._1 == byLang.size.toLong && rows("lang")._2 == comb(byLang))
    assert(rows("len_bucket")._1 == byLen.size.toLong && rows("len_bucket")._2 == comb(byLen))
    val tot = n * (n - 1) / 2
    rows.values.foreach { case (_, cp, rr, cap, pc, pq) =>
      assert(cp <= tot && cap >= 0)
      assert(rr == (2 * 1000000L * (tot - cp) + tot) / (2 * tot))
      assert(pc >= 0 && pc <= 1000000L && pq >= 0 && pq <= 1000000L)
    }
    // the benchmark's point: the engineered keys dominate the naive one —
    // better reduction AND better recall than lang blocking
    val (lang, band) = (rows("lang"), rows("minhash_band0"))
    assert(band._3 > lang._3 && band._5 > lang._5,
      s"band0 (rr=${band._3}, pc=${band._5}) must dominate lang (rr=${lang._3}, pc=${lang._5})")
    // the production band captures (essentially) all verified truth: by
    // construction every verified pair shares >= 1 of 8 bands, and the
    // fixture's pairs overwhelmingly share band 0
    assert(band._5 >= 900000L)
  }
}

class ConformalCoverageSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q280 median, radius and coverage replay from a scalar conformal build") {
    val rows = SparkEntry.queries("q280_conformal_coverage")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_cal"), r.getAs[Long]("n_test"),
        r.getAs[Long]("med"), r.getAs[Long]("qhat"), r.getAs[Long]("covered"),
        r.getAs[Long]("coverage_e6")))
    val docs = Tables(spark, sf).documents
      .select(col("doc_id"), col("source"), length(col("text")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val bySrc = docs.groupBy(_._2)
    rows.foreach { case (src, nCal, nTest, med, qhat, covered, covE6) =>
      val mine = bySrc(src)
      val (cal, test) = mine.partition(d => ((d._1 % 2147483647L) * 2654435761L) % 100 < 50)
      assert(nCal == cal.length.toLong && nTest == test.length.toLong)
      // lower median by (len, doc_id) order statistic
      val calSorted = cal.sortBy(d => (d._3, d._1))
      val expMed = calSorted(((cal.length + 1) / 2 - 1).toInt)._3
      assert(med == expMed, s"$src median")
      // conformal radius: ceil(0.9 (n+1))-th smallest |len - med|
      val scores = cal.sortBy(d => (math.abs(d._3 - expMed), d._1))
      val k = ((cal.length + 1) * 9 + 9) / 10
      val expQ = if (k > cal.length) -1L else math.abs(scores(k - 1)._3 - expMed)
      assert(qhat == expQ, s"$src qhat")
      val expCov =
        if (expQ < 0) test.length.toLong
        else test.count(d => math.abs(d._3 - expMed) <= expQ).toLong
      assert(covered == expCov, s"$src coverage count")
      assert(covE6 == (2 * 1000000L * covered + nTest) / (2 * nTest))
    }
    // the marginal conformal guarantee, up to finite-sample noise at
    // these strata sizes (probed 88.8% / 89.5% across SFs)
    val meanCov = rows.map(_._7).sum.toDouble / rows.length
    assert(meanCov >= 850000.0, s"mean coverage $meanCov below the noisy-guarantee floor")
  }
}

class JlDistortionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q281 distortion replays from a scalar projection; JL unbiasedness + concentration hold") {
    val rows = SparkEntry.queries("q281_jl_distortion")(spark, sf).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Long]("n_pairs"), r.getAs[Long]("mean_ratio_e6"),
        r.getAs[Long]("min_ratio_e6"), r.getAs[Long]("max_ratio_e6"),
        r.getAs[Long]("within_band_e6"))).sortBy(_._1)
    assert(rows.map(_._1) sameElements Array(4, 8, 16, 32))
    // scalar recompute of the full audit on the same integers
    val vecs = Tables(spark, sf).embeddings.filter(col("vec_id") < 48)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x * 10000.0 + 0.5).toLong).toArray))
      .sortBy(_._1)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val signs = Array.tabulate(32, 64) { (j, i) =>
      if (Integer.parseInt(md5hex(s"${i}_$j").substring(0, 1), 16) % 2 == 0) 1L else -1L
    }
    val ratios = for {
      a <- vecs.indices; b <- (a + 1) until vecs.length
      d = vecs(a)._2.zip(vecs(b)._2).map { case (x, y) => x - y }
      dist2 = d.map(x => x * x).sum if dist2 > 0
    } yield {
      val pj = Array.tabulate(32)(j => d.indices.map(i => signs(j)(i) * d(i)).sum)
      Seq(4, 8, 16, 32).map { k =>
        val pd2 = pj.take(k).map(p => p * p).sum
        k -> ((2 * 1000000L * pd2 + k * dist2) / (2 * k * dist2))
      }
    }
    val byK = ratios.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.foreach { case (k, np, mean, mn, mx, wb) =>
      val rs = byK(k)
      assert(np == rs.length.toLong)
      assert(mean == (2 * rs.sum + rs.length) / (2L * rs.length), s"k=$k mean")
      assert(mn == rs.min && mx == rs.max, s"k=$k extrema")
      val w = rs.count(r => r >= 500000L && r <= 1500000L).toLong
      assert(wb == (2 * 1000000L * w + rs.length) / (2L * rs.length), s"k=$k band")
    }
    // JL unbiasedness: every arm's mean ratio within 10% of 1
    rows.foreach(r => assert(math.abs(r._3 - 1000000L) < 100000L, s"k=${r._1} biased: ${r._3}"))
    // the JL lemma live: concentration strictly improves along the ladder
    rows.map(_._6).sliding(2).foreach { case Array(a, b) => assert(b > a, "concentration not improving") }
    assert(rows.last._6 >= 950000L, "k=32 should concentrate within the band")
  }
}

class KCenterSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q282 trajectory replays from a scalar greedy; separation invariant certifies the 2-approx") {
    val rows = SparkEntry.queries("q282_kcenter_greedy")(spark, sf).collect()
      .map(r => (r.getAs[Int]("k"), r.getAs[Long]("center_id"), r.getAs[Long]("radius2")))
      .sortBy(_._1)
    assert(rows.map(_._1) sameElements Array(1, 2, 3, 4))
    val vecs = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x * 10000.0 + 0.5).toLong).toArray))
      .sortBy(_._1)
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // scalar greedy replay
    var centers = List(vecs.head)
    var dmin = vecs.map(v => d2(v._2, centers.head._2))
    rows.foreach { case (k, cid, r2) =>
      assert(cid == centers.head._1, s"k=$k center")
      assert(r2 == dmin.max, s"k=$k radius")
      if (k < 4) {
        val next = vecs.indices.maxBy(i => (dmin(i), -vecs(i)._1))
        centers ::= vecs(next)
        dmin = vecs.indices.map(i => math.min(dmin(i), d2(vecs(i)._2, vecs(next)._2))).toArray
      }
    }
    // Gonzalez separation invariant = the 2-approx certificate: every
    // pair among the first k+1 picks is >= r_k apart (squared compare)
    val picks = centers.reverse.toArray // in pick order
    rows.dropRight(1).foreach { case (k, _, r2) =>
      val firstK1 = picks.take(k + 1)
      for (i <- firstK1.indices; j <- (i + 1) until firstK1.length)
        assert(d2(firstK1(i)._2, firstK1(j)._2) >= r2,
          s"picks ${firstK1(i)._1},${firstK1(j)._1} closer than r_$k")
    }
    // radii are monotone non-increasing (more centers never cover worse)
    rows.map(_._3).sliding(2).foreach { case Array(a, b) => assert(b <= a) }
  }
}

class SelectivityAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q283 estimates replay from scalar histograms; equi-depth balances mass; width wins here") {
    val rows = SparkEntry.queries("q283_selectivity_audit")(spark, sf).collect()
      .map(r => ((r.getAs[String]("method"), r.getAs[Long]("pid")),
        (r.getAs[Long]("lo_v"), r.getAs[Long]("hi_v"), r.getAs[Long]("actual"),
          r.getAs[Long]("est_e6"), r.getAs[Long]("abs_err_e6")))).toMap
    assert(rows.size == 12)
    val cellCnt = Tables(spark, sf).events
      .select(expr("CAST(floor(value) AS BIGINT)").as("c")).collect()
      .map(_.getLong(0)).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val cells = cellCnt.keys.toArray.sorted
    val n = cellCnt.values.sum
    val (vmin, vmax) = (cells.min, cells.max)
    val wWidth = (vmax - vmin) / 8 + 1
    var cum = 0L
    val assign = cells.map { c =>
      val before = cum; cum += cellCnt(c)
      (c, math.min((c - vmin) / wWidth, 7L), math.min(before * 8 / n, 7L))
    }
    def bucketize(pick: ((Long, Long, Long)) => Long) =
      assign.groupBy(pick).map { case (_, cs) =>
        (cs.map(_._1).min, cs.map(_._1).max, cs.map(x => cellCnt(x._1)).sum) }
    def estimate(bks: Iterable[(Long, Long, Long)], a: Long, b: Long): Long =
      bks.map { case (lo, hi, cnt) =>
        val ovl = math.max(0L, math.min(hi + 1, b) - math.max(lo, a))
        val len = hi - lo + 1
        (2 * 1000000L * ovl * cnt + len) / (2 * len)
      }.sum
    val (wb, db) = (bucketize(_._2), bucketize(_._3))
    // equi-depth's defining property: bucket masses are balanced
    assert(db.map(_._3).max <= 2 * n / 8 + cellCnt.values.max,
      "equi-depth bucket mass unbalanced")
    (0L until 6L).foreach { p =>
      val (a, b) = (p * 50, p * 50 + 75)
      val actual = cells.filter(c => c >= a && c < b).map(cellCnt).sum
      Seq("equi_width" -> wb, "equi_depth" -> db).foreach { case (m, bks) =>
        val (loV, hiV, act, est, err) = rows((m, p))
        assert((loV, hiV) == (a, b))
        assert(act == actual, s"$m pred $p actual")
        assert(est == estimate(bks, a, b), s"$m pred $p estimate")
        assert(err == math.abs(est - 1000000L * actual))
      }
    }
    // the fixture's verdict (probed both SFs): smooth density -> width wins
    val totW = (0L until 6L).map(p => rows(("equi_width", p))._5).sum
    val totD = (0L until 6L).map(p => rows(("equi_depth", p))._5).sum
    assert(totW < totD, s"equi-width $totW should beat equi-depth $totD on this column")
  }
}

class MdeSizingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q284 replays from a scalar power computation; formula monotonicities hold") {
    val rows = SparkEntry.queries("q284_mde_sizing")(spark, sf).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n"), r.getAs[Long]("mean_e2"),
        r.getAs[Long]("mde_abs_e2"), r.getAs[Long]("mde_rel_e4"), r.getAs[Long]("n_per_arm_10pct")))
    assert(rows.nonEmpty)
    val evs = Tables(spark, sf).events.filter(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("v"))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
    val xByTU = evs.groupBy(_._1).map { case (k, vs) => k -> ((2 * vs.map(_._2).sum + 100) / 200) }
    rows.foreach { case (et, n, meanE2, mdeAbs, mdeRel, nArm) =>
      val xs = xByTU.collect { case ((t2, _), x) if t2 == et => x }.toArray
      assert(n == xs.length.toLong)
      val (sx, sxx) = (xs.sum, xs.map(x => x * x).sum)
      assert(meanE2 == (2 * 100 * sx + n) / (2 * n))
      val varNum = n * sxx - sx * sx
      val mde = 2.8016 * math.sqrt(2.0 * varNum / (n * (n - 1.0)) / n)
      assert(mdeAbs == math.floor(mde * 100 + 0.5).toLong, s"$et mde")
      assert(mdeRel == (2 * 10000L * mdeAbs + meanE2) / (2 * meanE2))
      val mean = sx.toDouble / n
      val expArm = math.ceil(2.0 * 2.8016 * 2.8016 * (varNum / (n * (n - 1.0)))
        / ((0.1 * mean) * (0.1 * mean))).toLong
      assert(nArm == expArm, s"$et n/arm")
      // detecting a 10% lift of THIS mean at THIS n would need nArm users:
      // the implied MDE at nArm is <= 10% of the mean (+1 user granularity)
      val mdeAtArm = 2.8016 * math.sqrt(2.0 * (varNum.toDouble / (n * (n - 1.0))) / nArm)
      assert(mdeAtArm <= 0.1 * mean * 1.02, s"$et power formula inverted wrong")
    }
    // real per-segment spread at the fixture
    assert(rows.map(_._5).distinct.length > 1, "MDE table is flat — no segment signal")
  }
}

class BudgetMixSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q285 greedy plan is feasible, prefix-shaped, and knapsack-optimal among alternatives") {
    val rows = SparkEntry.queries("q285_budget_mix")(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Int]("rank"), r.getAs[Long]("density_e6"),
        r.getAs[Long]("cap"), r.getAs[Long]("alloc"), r.getAs[Boolean]("fully_taken")))
      .sortBy(_._2)
    val total = rows.map(_._4).sum
    val budget = total * 40 / 100
    // feasibility + budget exhaustion (budget < total here)
    assert(rows.forall(r => r._5 >= 0 && r._5 <= r._4))
    assert(rows.map(_._5).sum == budget, "greedy must exhaust the budget exactly")
    // prefix shape: fully-taken sources, then at most one fractional, then zeros
    val pattern = rows.map(r =>
      if (r._5 == r._4) 'F' else if (r._5 == 0L) 'Z' else 'P').mkString
    assert("^F*P?Z*$".r.matches(pattern), s"allocation not prefix-shaped: $pattern")
    // ranks follow density (ties by source name)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1), "rank order violates density")
    }
    // Dantzig optimality spot-check: utility (density-weighted chars) beats
    // a proportional allocation of the same budget
    def utility(alloc: Map[String, Long]) = rows.map(r => r._3 * alloc(r._1)).sum
    val greedy = rows.map(r => r._1 -> r._5).toMap
    val proportional = rows.map(r => r._1 -> budget * r._4 / total).toMap
    assert(utility(greedy) >= utility(proportional), "greedy lost to proportional")
  }
}

class RepSelectionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q286 longest-keep dominates arbitrary on chars and coverage; both keep one per cluster") {
    val rows = SparkEntry.queries("q286_rep_selection")(spark, sf).collect()
      .map(r => r.getAs[String]("policy") ->
        (r.getAs[Long]("n_clusters"), r.getAs[Long]("n_kept"), r.getAs[Long]("chars_total"),
          r.getAs[Long]("chars_kept"), r.getAs[Long]("types_total"),
          r.getAs[Long]("types_covered"), r.getAs[Long]("coverage_e6"))).toMap
    val (arb, lng) = (rows("arbitrary"), rows("longest"))
    // identical cluster universe, exactly one representative each
    assert(arb._1 == lng._1 && arb._2 == arb._1 && lng._2 == lng._1)
    assert(arb._3 == lng._3 && arb._5 == lng._5)
    // the policy's point: longest never retains fewer chars, and here
    // strictly dominates on both axes (fixture-probed)
    assert(lng._4 >= arb._4, "longest kept fewer chars than arbitrary")
    assert(lng._6 >= arb._6, "longest covered fewer types")
    assert(lng._4 > arb._4 || lng._6 > arb._6, "fixture lost its policy signal")
    // coverage quantization consistency + bounds
    rows.values.foreach { v =>
      assert(v._6 <= v._5 && v._4 <= v._3)
      assert(v._7 == (2 * 1000000L * v._6 + v._5) / (2 * v._5))
    }
  }
}

class ColumnProfileSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q287 profile replays from a scalar pass; key/enum verdicts read correctly") {
    val rows = SparkEntry.queries("q287_column_profile")(spark, sf).collect()
      .map(r => r.getAs[String]("column") ->
        (r.getAs[Long]("n"), r.getAs[Long]("n_null"), r.getAs[Long]("n_distinct"),
          r.getAs[Boolean]("is_unique"), r.getAs[Boolean]("is_constant"),
          r.getAs[String]("top_value"), r.getAs[Long]("top_share_e6"),
          r.getAs[Long]("entropy_e6"))).toMap
    assert(rows.size == 6)
    val o = Tables(spark, sf).orders
    val n = o.count()
    // the key column: unique, entropy exactly ln n
    val key = rows("o_orderkey")
    assert(key._1 == n && key._3 == n && key._4 && !key._5)
    val lnN = math.floor(1000000 * math.log(n.toDouble) + 0.5).toLong
    assert(key._8 == lnN - (2 * lnN / n + n) / (2 * n) ||
      math.abs(key._8 - lnN) <= 1, s"key entropy ${key._8} vs ln n $lnN")
    // the enum column: scalar recompute of every profile field
    val st = o.groupBy(col("o_orderstatus")).count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(p => (-p._2, p._1))
    val enm = rows("o_orderstatus")
    assert(enm._3 == st.length.toLong && !enm._4)
    assert(enm._6 == st.head._1)
    assert(enm._7 == (2 * 1000000L * st.head._2 + n) / (2 * n))
    val sumClnc = st.map { case (_, c) =>
      math.floor(1000000 * c * math.log(c.toDouble) + 0.5).toLong }.sum
    assert(enm._8 == lnN - (2 * sumClnc + n) / (2 * n), "enum entropy")
    // ordering: enum entropy far below the key's
    assert(enm._8 < key._8 / 2)
    rows.values.foreach { v =>
      assert(v._2 == 0 && v._3 <= v._1 && v._7 >= 0 && v._7 <= 1000000L)
      assert(!v._5, "no orders column is constant")
    }
  }

  test("q287's modal fold fails loudly on a column holding nulls") {
    import spark.implicits._
    val clean = Seq(("a", "x"), ("a", "x"), ("a", "y")).toDF("column", "value")
    val top = graft.operators.Extras.columnProfile(clean).collect()
    assert(top.map(_.getAs[String]("top_value")).toSeq == Seq("x"))
    // nulls outnumber every value: the old window would have picked null,
    // the fold would silently pick "x" — it must refuse instead
    val nulls = clean.union(Seq(("a", null), ("a", null), ("a", null)).toDF("column", "value"))
    val e = intercept[Exception](graft.operators.Extras.columnProfile(nulls).collect())
    assert(e.getMessage.contains("column 'a' holds nulls"), s"unexpected: ${e.getMessage}")
  }
}

class PvmBridgeSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q288 effects sum exactly to the delta and match the closed-form decomposition") {
    val rows = SparkEntry.queries("q288_pvm_bridge")(spark, sf).collect()
      .map(r => (r.getAs[String]("p_type"), r.getAs[Long]("q1"), r.getAs[Long]("q2"),
        r.getAs[Long]("rev1_e2"), r.getAs[Long]("rev2_e2"), r.getAs[Long]("delta_e2"),
        r.getAs[Long]("price_eff_e2"), r.getAs[Long]("vol_eff_e2")))
    assert(rows.nonEmpty)
    rows.foreach { case (tp, q1, q2, e1, e2, d, pe, ve) =>
      // exact additivity (the identity the bridge is built on)
      assert(d == e2 - e1 && pe + ve == d, s"$tp bridge does not close")
      if (q1 > 0 && q2 > 0) {
        // price effect is the half-up rational E2 - E1*Q2/Q1
        assert(pe == e2 - (2 * e1 * q2 + q1) / (2 * q1), s"$tp price effect")
        // and the residual volume effect equals the closed form (Q2-Q1)*P1
        // up to the single quantization of P1 (bounded by |Q2-Q1| half-units)
        val closed = (q2 - q1).toDouble * e1 / q1
        assert(math.abs(ve - closed) <= math.abs(q2 - q1) / 2.0 + 1.0,
          s"$tp volume effect $ve vs closed form $closed")
      } else assert(pe == 0L && ve == d, s"$tp one-sided group")
    }
    // the fixture has both price and volume movement somewhere
    assert(rows.exists(_._7 != 0) && rows.exists(_._8 != 0), "bridge is flat")
  }
}

class TheilDecompSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q289 decomposition closes exactly; residual within matches the closed form") {
    val rows = SparkEntry.queries("q289_theil_decomp")(spark, sf).collect()
      .map(r => (r.getAs[String]("nation"), r.getAs[Long]("n_cust"), r.getAs[Long]("share_e6"),
        r.getAs[Long]("theil_g_e9"), r.getAs[Long]("between_term_e9"),
        r.getAs[Long]("theil_e9"), r.getAs[Long]("between_e9"), r.getAs[Long]("within_e9")))
    assert(rows.nonEmpty)
    val (t, b, w) = (rows.head._6, rows.head._7, rows.head._8)
    // global columns constant; the decomposition closes exactly
    rows.foreach(r => assert((r._6, r._7, r._8) == (t, b, w)))
    assert(t == b + w, "T != between + within")
    assert(rows.map(_._5).sum == b, "between is not the sum of its terms")
    // the residual within equals the share-weighted within-group Theils
    // up to the per-group e9 quantizations
    val closedW = rows.map(r => r._3 / 1e6 * r._4).sum
    assert(math.abs(w - closedW) < 5000.0 + rows.length,
      s"within $w vs closed form $closedW")
    // Theil nonnegativity: global, every group, and within
    assert(t >= 0 && w >= -rows.length && rows.forall(_._4 >= 0))
    // shares sum to one (e6, up to per-group half-ups)
    assert(math.abs(rows.map(_._3).sum - 1000000L) <= rows.length)
    // inequality genuinely present in the fixture
    assert(t > 0, "fixture has no revenue inequality")
  }
}

class CompressProbeSpec extends AnyFunSuite {
  import SparkTestSession._

  test("q290 kernel stats replay from a scalar byte walk; conservation laws hold") {
    val rows = SparkEntry.queries("q290_compress_probe")(spark, sf).collect()
      .map(r => ((r.getAs[String]("source"), r.getAs[String]("media_type")),
        (r.getAs[Long]("n_blobs"), r.getAs[Long]("bytes_total"), r.getAs[Long]("adj_total"),
          r.getAs[Long]("runs_total"), r.getAs[Long]("max_run"),
          r.getAs[Long]("rle_ratio_e6"), r.getAs[Long]("mean_bigram_rich_e6")))).toMap
    val docs = Tables(spark, sf).documents.select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def mt(t: String) = (t.head.toInt % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    val byCell = docs.filter(_._2.length >= 2).groupBy(d => (d._1, mt(d._2)))
    assert(rows.keySet == byCell.keySet)
    byCell.foreach { case (cell, ds) =>
      val (nb, bt, adj, runs, mr, rle, rich) = rows(cell)
      assert(nb == ds.length.toLong)
      assert(bt == ds.map(_._2.length.toLong).sum)
      val stats = ds.map { case (_, t) =>
        val a = (1 until t.length).count(i => t(i) == t(i - 1)).toLong
        var (rr, mx, cur) = (1L, 1L, 1L)
        (1 until t.length).foreach { i =>
          if (t(i) == t(i - 1)) { cur += 1; mx = math.max(mx, cur) }
          else { cur = 1; rr += 1 }
        }
        val bg = (1 until t.length).map(i => t.substring(i - 1, i + 1)).distinct.length.toLong
        (a, rr, mx, bg, t.length.toLong)
      }
      assert(adj == stats.map(_._1).sum, s"$cell adjacent pairs")
      assert(runs == stats.map(_._2).sum, s"$cell runs")
      assert(mr == stats.map(_._3).max, s"$cell max run")
      // conservation: runs + adjacent pairs = total bytes (per blob: r + a = n)
      assert(runs + adj == bt, s"$cell run/adjacency conservation")
      assert(rle == (2 * 1000000L * 2 * runs + bt) / (2 * bt))
      val richExp = stats.map { case (_, _, _, bg, n) =>
        (2 * 1000000L * bg + (n - 1)) / (2 * (n - 1)) }
      assert(rich == (2 * richExp.sum + nb) / (2 * nb), s"$cell bigram richness")
    }
    // signal: richness genuinely varies across cells
    val riches = rows.values.map(_._7).toSeq
    assert(riches.max - riches.min > 50000, "bigram richness is flat")
  }
}
