package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic invariants for the round-10 corpus-audit operators (q90–q92):
  * exact from-scratch recomputation on the collected corpus (independent
  * Scala derivation, no Spark expressions), plus the structural bounds the
  * DuckDB hash compare can't phrase.
  */
class CorpusAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  // Spark's round() is BigDecimal HALF_UP — rint's half-even would drift
  // on exact .5 scale boundaries
  private def rnd(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private lazy val docs: Seq[(Long, String, String, Long)] =
    Tables(spark, sf).documents
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  test("q90 tf-idf matches an independent per-doc recomputation") {
    val byDoc = docs.map { case (id, text, _, _) =>
      id -> text.split(" ").filter(_.nonEmpty).groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    }.toMap
    val dfreq = byDoc.values.flatMap(_.keys).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val n = docs.size.toDouble
    val expected = byDoc.flatMap { case (id, tf) =>
      tf.toSeq
        .map { case (term, f) =>
          val score = rnd(f * math.log(n / dfreq(term)), 4)
          (id, term, f, dfreq(term), score)
        }
        .sortBy { case (_, term, _, _, score) => (-score, term) }
        .take(3)
    }.toSet
    val got = SparkEntry.queries("q90_tfidf")(spark, sf).collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("term"), r.getAs[Long]("tf"),
        r.getAs[Long]("df"), r.getAs[Double]("tfidf"))
    }.toSet
    assert(got == expected)
  }

  test("q91 trim accounting matches exact interpolated percentiles") {
    def pctl(sorted: Seq[Long], p: Double): Double = {
      val pos = p * (sorted.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 < sorted.length) sorted(lo) * (1 - frac) + sorted(lo + 1) * frac
      else sorted(lo).toDouble
    }
    val expected = docs.groupBy(_._3).map { case (src, ds) =>
      val lens = ds.map(_._4).sorted
      val (p05, p95) = (pctl(lens, 0.05), pctl(lens, 0.95))
      val below = ds.count(_._4 < p05)
      val above = ds.count(_._4 > p95)
      val trimmed = ds.filter(d => d._4 < p05 || d._4 > p95).map(_._4).sum
      (src, ds.size.toLong, rnd(p05, 2), rnd(p95, 2), below.toLong, above.toLong, trimmed)
    }.toSet
    val got = SparkEntry.queries("q91_length_outliers")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"), r.getAs[Double]("p05"),
        r.getAs[Double]("p95"), r.getAs[Long]("n_below"), r.getAs[Long]("n_above"),
        r.getAs[Long]("chars_trimmed"))
    }.toSet
    assert(got == expected)
  }

  test("q91 approx-percentile scale path keeps schema and brackets the exact bounds") {
    val exact = SparkEntry.queries("q91_length_outliers")(spark, sf)
    val exactRows = exact.collect().map(r => r.getAs[String]("source") ->
      (r.getAs[Double]("p05"), r.getAs[Double]("p95"))).toMap
    spark.conf.set("graft.pctl.approx", "true")
    try {
      val approx = SparkEntry.queries("q91_length_outliers")(spark, sf)
      assert(approx.schema == exact.schema, "approx path must not change the output schema")
      val rows = approx.collect()
      assert(rows.length == exactRows.size)
      rows.foreach { r =>
        val (p05, p95) = exactRows(r.getAs[String]("source"))
        // accuracy=10000 on ~25-value groups: the sketch is effectively
        // exact up to interpolation (it returns a member value, the exact
        // percentile interpolates between two) — bound by the nearest
        // observed neighbors, generous slack for the small-group edges
        assert(math.abs(r.getAs[Double]("p05") - p05) <= math.max(20.0, p05 * 0.2))
        assert(math.abs(r.getAs[Double]("p95") - p95) <= math.max(20.0, p95 * 0.2))
        assert(r.getAs[Long]("n_below") + r.getAs[Long]("n_above") <= r.getAs[Long]("n_docs") / 4)
      }
    } finally spark.conf.unset("graft.pctl.approx")
  }

  test("q94 balanced cap matches an independent per-source selection") {
    val expected = docs.groupBy(_._3).map { case (src, ds) =>
      val kept = ds
        .sortBy(d => (((d._1 % 2147483647L) * 2654435761L) % 4294967296L, d._1))
        .take(15)
      (src, ds.size.toLong, kept.size.toLong, kept.map(_._4).sum, ds.map(_._4).sum)
    }.toSet
    val got = SparkEntry.queries("q94_balanced_cap")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_kept"),
        r.getAs[Long]("kept_chars"), r.getAs[Long]("total_chars"))
    }.toSet
    assert(got == expected)
  }

  test("the folded Knuth hash is total over int64 ids: exact value pinned at id = 2^33") {
    import spark.implicits._
    // Without the % 2147483647 pre-fold, 2^33 * 2654435761 overflows int64
    // (Spark-ANSI and DuckDB would both raise; non-ANSI Spark would wrap
    // and silently diverge from the oracle). Folded: 2^33 % (2^31-1) = 4,
    // 4 * 2654435761 = 10617743044, % 2^32 = 2027808452 — same arithmetic
    // in both engines.
    val h = Seq(8589934592L).toDF("doc_id")
      .selectExpr("((doc_id % 2147483647) * 2654435761) % 4294967296 AS h")
      .head().getLong(0)
    assert(h === 2027808452L)
    // identity below the fold boundary: small ids hash exactly as before
    val small = Seq(12345L).toDF("doc_id")
      .selectExpr("((doc_id % 2147483647) * 2654435761) % 4294967296 AS h")
      .head().getLong(0)
    assert(small === (12345L * 2654435761L) % 4294967296L)
  }

  private def shingles(text: String): Set[String] = {
    val ws = text.split(" ")
    if (ws.length < 3) Set.empty
    else (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
  }

  test("q92 source-overlap matrix matches exact pairwise shingle sets") {
    val bySrc = docs.groupBy(_._3).map { case (src, ds) =>
      src -> ds.map(d => shingles(d._2)).reduce(_ ++ _)
    }
    val expected = (for {
      (s1, a) <- bySrc; (s2, b) <- bySrc if s1 < s2
      inter = (a & b).size if inter > 0
    } yield {
      val jac = rnd(inter.toDouble / (a.size + b.size - inter), 4)
      (s1, s2, inter.toLong, a.size.toLong, b.size.toLong, jac)
    }).toSet
    val got = SparkEntry.queries("q92_source_overlap")(spark, sf).collect().map { r =>
      (r.getAs[String]("s1"), r.getAs[String]("s2"), r.getAs[Long]("n_shared"),
        r.getAs[Long]("sz1"), r.getAs[Long]("sz2"), r.getAs[Double]("jaccard"))
    }.toSet
    assert(got == expected)
    // pairwise bounds: shared never exceeds either side's set size
    got.foreach { case (_, _, sh, sz1, sz2, jac) =>
      assert(sh <= math.min(sz1, sz2) && jac > 0.0 && jac <= 1.0)
    }
  }

  test("q97 rare-bigram filter matches an independent recomputation") {
    val docBigrams = docs.map { case (id, text, src, _) =>
      // pair THEN drop empty-sided bigrams — the operator's (and q77's)
      // order of operations, not filter-then-pair
      val ws = text.split(" ")
      (id, src, ws.zip(ws.tail).filter(p => p._1.nonEmpty && p._2.nonEmpty).toSeq)
    }.filter(_._3.nonEmpty)
    val corpus = docBigrams.flatMap(_._3).groupBy(identity).map { case (b, xs) => b -> xs.size }
    val perDoc = docBigrams.map { case (_, src, bgs) =>
      (src, bgs.size.toLong, bgs.count(corpus(_) < 10).toLong)
    }
    val expected = perDoc.groupBy(_._1).map { case (src, ds) =>
      val total = ds.map(_._2).sum
      val rare = ds.map(_._3).sum
      (src, ds.size.toLong, total, rare, rnd(rare.toDouble / total, 4),
        ds.count(d => d._3 * 10 > d._2 * 3).toLong)
    }.toSet
    val got = SparkEntry.queries("q97_rare_bigrams")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"), r.getAs[Long]("total_bigrams"),
        r.getAs[Long]("rare_bigrams"), r.getAs[Double]("rare_ratio"), r.getAs[Long]("n_flagged"))
    }.toSet
    assert(got == expected)
  }

  private def expectedSketch(k: Int): Set[(String, String, Double, Double, Double)] = {
    def h32(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 8), 16)
    }
    val bySrc = docs.groupBy(_._3).map { case (src, ds) =>
      src -> ds.map(d => shingles(d._2)).reduce(_ ++ _)
    }
    val sketches = bySrc.map { case (src, set) =>
      // k smallest DISTINCT hash values — the textbook bottom-k sketch
      // (a shingle collision must not occupy two slots)
      src -> set.toSeq.map(h32).distinct.sorted.take(k)
    }
    val exactJac = (for {
      (s1, a) <- bySrc; (s2, b) <- bySrc if s1 < s2
      inter = (a & b).size if inter > 0
    } yield (s1, s2) -> rnd(inter.toDouble / (a.size + b.size - inter), 4)).toMap
    (for {
      (s1, kha) <- sketches; (s2, khb) <- sketches if s1 < s2
    } yield {
      val u = (kha ++ khb).distinct.sorted.take(k)
      val est = rnd(
        u.count(x => kha.contains(x) && khb.contains(x)).toDouble / u.size, 4)
      val exact = exactJac.getOrElse((s1, s2), 0.0)
      (s1, s2, est, exact, rnd(math.abs(est - exact), 4))
    }).toSet
  }

  private def gotSketch(): Set[(String, String, Double, Double, Double)] =
    SparkEntry.queries("q95_overlap_sketch")(spark, sf).collect().map { r =>
      (r.getAs[String]("s1"), r.getAs[String]("s2"), r.getAs[Double]("est_jaccard"),
        r.getAs[Double]("jaccard"), r.getAs[Double]("abs_err"))
    }.toSet

  test("q95 bottom-k sketch matches an independent estimator recomputation") {
    assert(gotSketch() == expectedSketch(64))
  }

  test("q95 under a non-default graft.sketch.k retunes without recompile") {
    spark.conf.set("graft.sketch.k", "16")
    try assert(gotSketch() == expectedSketch(16))
    finally spark.conf.unset("graft.sketch.k")
  }

  test("q98 BM25 matches an independent integer-quantized recomputation") {
    val terms = Set("dup", "vector", "spark")
    val words = docs.map { case (id, text, _, _) => id -> text.split(" ", -1).toSeq }
    val n = words.size.toLong
    val avgdl = words.map(_._2.size.toLong).sum.toDouble / n
    val tf = words.flatMap { case (id, ws) =>
      ws.filter(terms).groupBy(identity).map { case (t, xs) => (id, t, xs.size.toLong, ws.size.toLong) }
    }
    val dfreq = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val perDoc = tf
      .map { case (id, t, f, dl) =>
        val df = dfreq(t)
        val idf = math.log(((n - df) + 0.5) / (df + 0.5) + 1.0)
        val sat = (f * 2.2) / (f + (1.2 * (0.25 + ((0.75 * dl) / avgdl))))
        (id, rnd(idf * sat * 10000, 0).toLong)
      }
      .groupBy(_._1)
      .map { case (id, xs) => (id, xs.size.toLong, xs.map(_._2).sum) }
    val expected = perDoc.toSeq.sortBy { case (id, _, s) => (-s, id) }.take(20).toSet
    val got = SparkEntry.queries("q98_bm25")(spark, sf).collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hit_terms"), r.getAs[Long]("bm25_e4"))
    }.toSet
    assert(got == expected)
    // the rank cut itself is stable: the 20th score strictly exceeds the 21st
    // or ties are broken inside the kept set by doc_id — re-derive the 21st
    val all = perDoc.toSeq.sortBy { case (id, _, s) => (-s, id) }
    assert(all.take(20).map(_._3).min >= all.drop(20).headOption.map(_._3).getOrElse(Long.MinValue))
  }

  test("q99 chunking conserves words and prices the overlap exactly") {
    val (w, s) = (32, 24)
    val perDoc = docs.map { case (_, text, src, _) =>
      val nWords = text.split(" ", -1).length
      val nChunks = if (nWords <= w) 1 else (nWords - w + s - 1) / s + 1
      val chunkLens = (0 until nChunks).map(i => math.min(w, nWords - i * s).toLong)
      // every chunk is non-empty and starts inside the doc
      assert(chunkLens.forall(_ >= 1))
      (src, nWords.toLong, nChunks.toLong, chunkLens.sum)
    }
    val expected = perDoc.groupBy(_._1).map { case (src, ds) =>
      val totalChunkWords = ds.map(_._4).sum
      val totalWords = ds.map(_._2).sum
      (src, ds.size.toLong, ds.map(_._3).sum, totalChunkWords,
        totalChunkWords - totalWords, ds.map(_._3).max.toInt,
        rnd(totalChunkWords.toDouble / (ds.map(_._3).sum * w), 4))
    }.toSet
    val got = SparkEntry.queries("q99_doc_chunks")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_chunks"),
        r.getAs[Long]("total_chunk_words"), r.getAs[Long]("overlap_words"),
        r.getAs[Int]("max_chunks_per_doc"), r.getAs[Double]("avg_fill"))
    }.toSet
    assert(got == expected)
  }

  test("q102 DSIR importance scores match an independent LM-ratio recomputation") {
    val target = "src0"
    val toks = docs.map { case (id, text, src, _) => (id, src, text.split(" ", -1).toSeq) }
    val cc = toks.flatMap(_._3).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val ct = toks.filter(_._2 == target).flatMap(_._3)
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val v = cc.size.toLong
    val tcTotal = cc.values.sum
    val ttTotal = ct.values.sum
    val w = cc.map { case (t, c) =>
      t -> rnd(math.log(
        ((ct.getOrElse(t, 0L) + 1).toDouble * (tcTotal + v).toDouble) /
          ((c + 1).toDouble * (ttTotal + v).toDouble)) * 10000, 0).toLong
    }
    val perDoc = toks.filter(_._2 != target).map { case (id, src, ws) =>
      (id, src, ws.size.toLong, ws.map(w).sum)
    }
    val all = perDoc.sortBy { case (id, _, _, s) => (-s, id) }
    val expected = all.take(20).toSet
    val got = SparkEntry.queries("q102_dsir")(spark, sf).collect().map { r =>
      (r.getAs[Long]("doc_id"), r.getAs[String]("source"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("score_e4"))
    }.toSet
    assert(got == expected)
    // the rank cut is stable at the boundary
    assert(all.take(20).map(_._4).min >= all.drop(20).headOption.map(_._4).getOrElse(Long.MinValue))
  }

  test("q103 hash split matches an independent md5-bucket recomputation and partitions the corpus") {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val perDoc = docs.map { case (id, text, src, _) =>
      val b = bucket(id)
      assert(b >= 0 && b < 100)
      val split = if (b < 90) "train" else if (b < 95) "val" else "test"
      (src, split, text.split(" ", -1).length.toLong)
    }
    val bySrc = perDoc.groupBy(_._1)
    val expected = bySrc.flatMap { case (src, ds) =>
      ds.groupBy(_._2).map { case (split, xs) =>
        (src, split, xs.size.toLong, xs.map(_._3).sum,
          rnd(xs.size.toDouble / ds.size, 4))
      }
    }.toSet
    val got = SparkEntry.queries("q103_hash_split")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[String]("split"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_words"), r.getAs[Double]("doc_share"))
    }.toSet
    assert(got == expected)
    // splits partition every source's docs (shares sum to 1 per source)
    bySrc.foreach { case (src, ds) =>
      // toSeq before summing: two splits with EQUAL doc counts must not
      // collapse under Set.map
      val splits = expected.filter(_._1 == src).toSeq
      assert(splits.map(_._3).sum == ds.size.toLong)
    }
  }

  test("q105 winnowing matches an independent recomputation and respects the coverage bound") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val w = 4
    val perDoc = docs.map { case (_, text, src, _) =>
      val ws = text.split(" ", -1).toSeq
      val grams =
        if (ws.length >= 3) (0 to ws.length - 3).map(i => md5hex(ws.slice(i, i + 3).mkString(" ")))
        else Seq.empty[String]
      val nWin = math.max(grams.length - w + 1, 1)
      val fps =
        if (grams.isEmpty) Seq.empty[String]
        else (0 until nWin).map(j => grams.slice(j, j + w).min).distinct
      (src, grams.length.toLong, fps)
    }
    val expected = perDoc.groupBy(_._1).map { case (src, ds) =>
      val grams = ds.map(_._2).sum
      val sel = ds.map(_._3.size.toLong).sum
      (src, ds.size.toLong, grams, sel,
        ds.flatMap(_._3).distinct.size.toLong,
        if (grams > 0) rnd(sel.toDouble / grams, 4) else 0.0)
    }.toSet
    val got = SparkEntry.queries("q105_winnow")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_selected"), r.getAs[Long]("n_distinct_fp"), r.getAs[Double]("density"))
    }.toSet
    assert(got == expected)
    // the winnowing guarantee, per doc: every window contributes one
    // fingerprint and one fingerprint covers ≤ w windows, so
    // ⌈windows/w⌉ ≤ selected ≤ windows
    perDoc.filter(_._2 > 0).foreach { case (_, g, fps) =>
      val nWin = math.max(g - w + 1, 1)
      assert(fps.size <= nWin)
      assert(fps.size >= math.ceil(nWin.toDouble / w).toInt)
    }
  }

  test("q106 funnel matches an independent gate+dedup recomputation and agrees with q84") {
    val stop = Set("the", "a", "of", "and")
    val staged = docs.map { case (id, text, src, nc) =>
      val ws = text.split(" ", -1).toSeq
      val score = rnd(
        math.min(ws.size / 100.0, 1.0) * 0.5
          + (ws.count(stop).toDouble / ws.size) * 2.0
          + (if (nc >= 100) 0.2 else 0.0), 4)
      val totalSh = math.max(ws.size - 2, 0)
      val distinctSh =
        if (ws.size >= 3) (0 to ws.size - 3).map(i => ws.slice(i, i + 3).mkString(" ")).distinct.size
        else 0
      val rep = if (totalSh > 0) 1.0 - distinctSh.toDouble / totalSh else 0.0
      (id, src, nc, nc >= 50 && rep <= 0.2 && score >= 0.45, text)
    }
    val canonIds = staged.filter(_._4).groupBy(_._5).map { case (_, xs) => xs.map(_._1).min }.toSet
    val expected = staged.groupBy(_._2).map { case (src, ds) =>
      val unique = ds.filter(d => d._4 && canonIds(d._1))
      (src, ds.size.toLong, ds.count(_._4).toLong, unique.size.toLong,
        ds.map(_._3).sum, unique.map(_._3).sum,
        rnd(unique.size.toDouble / ds.size, 4))
    }.toSet
    val got = SparkEntry.queries("q106_curation_funnel")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_raw"), r.getAs[Long]("n_gate"),
        r.getAs[Long]("n_unique"), r.getAs[Long]("chars_raw"), r.getAs[Long]("chars_kept"),
        r.getAs[Double]("yield_share"))
    }.toSet
    assert(got == expected)
    // the funnel's gate stage is exactly q84's kept bucket, per source
    val kept = SparkEntry.queries("q84_quality_gate")(spark, sf).collect()
      .filter(_.getAs[String]("reason") == "kept")
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("n_docs")).toMap
    expected.foreach { case (src, _, nGate, _, _, _, _) =>
      assert(kept.getOrElse(src, 0L) == nGate)
    }
  }

  test("q144 score-calibration bands match an independent recomputation") {
    val stop = Set("the", "a", "of", "and")
    val perDoc = docs.map { case (_, text, _, nc) =>
      val ws = text.split(" ", -1).toSeq
      val score = rnd(
        math.min(ws.size / 100.0, 1.0) * 0.5
          + (ws.count(stop).toDouble / ws.size) * 2.0
          + (if (nc >= 100) 0.2 else 0.0), 4)
      val totalSh = math.max(ws.size - 2, 0)
      val distinctSh =
        if (ws.size >= 3) (0 to ws.size - 3).map(i => ws.slice(i, i + 3).mkString(" ")).distinct.size
        else 0
      val rep = if (totalSh > 0) 1.0 - distinctSh.toDouble / totalSh else 0.0
      val kept = nc >= 50 && rep <= 0.2 && score >= 0.45
      (math.min(math.floor(score / 0.25).toLong, 7L), kept, text)
    }
    val copies = perDoc.groupBy(_._3).map { case (t, xs) => t -> xs.size }
    val expected = perDoc.groupBy(_._1).map { case (b, xs) =>
      val dups = xs.count(x => copies(x._3) >= 2).toLong
      val kept = xs.count(_._2).toLong
      (b, xs.size.toLong, dups, kept,
        rnd(dups.toDouble / xs.size, 4), rnd(kept.toDouble / xs.size, 4))
    }.toSet
    val got = SparkEntry.queries("q144_score_calibration")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSet
    assert(got == expected)
    // band membership partitions the corpus
    assert(got.toSeq.map(_._2).sum == docs.size.toLong)
  }

  test("q110 split shift matches an independent total-variation recomputation") {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16) % 100
    }
    val bySplit = docs
      .map { case (id, text, _, _) =>
        val b = bucket(id)
        val split = if (b < 90) "train" else if (b < 95) "val" else "test"
        split -> text.split(" ", -1).toSeq
      }
      .groupBy(_._1).map { case (s, xs) =>
        s -> xs.flatMap(_._2).groupBy(identity).map { case (t, ys) => t -> ys.size.toLong }
      }
    def counts(s: String) = bySplit.getOrElse(s, Map.empty[String, Long])
    val expected = Seq(("train", "val"), ("train", "test"), ("val", "test")).map {
      case (a, b) =>
        val (ca, cb) = (counts(a), counts(b))
        val (ta, tb) = (ca.values.sum, cb.values.sum)
        val support = (ca.keySet ++ cb.keySet).toSeq
        val crosses = support.map { t =>
          t -> math.abs(ca.getOrElse(t, 0L) * tb - cb.getOrElse(t, 0L) * ta)
        }
        val top = crosses.maxBy { case (t, c) => (c, t) }
        (a, b, support.size.toLong, ta, tb,
          rnd(crosses.map(_._2).sum.toDouble / (2.0 * ta * tb), 6), top._1)
    }.toSet
    val got = SparkEntry.queries("q110_split_shift")(spark, sf).collect().map { r =>
      (r.getAs[String]("split_a"), r.getAs[String]("split_b"), r.getAs[Long]("n_terms"),
        r.getAs[Long]("tokens_a"), r.getAs[Long]("tokens_b"), r.getAs[Double]("tv"),
        r.getAs[String]("top_term"))
    }.toSet
    assert(got == expected)
    // TV is a [0,1] metric; an unbiased hash split should sit FAR from 1
    expected.foreach { case (_, _, _, _, _, tv, _) => assert(tv >= 0.0 && tv <= 1.0) }
  }

  test("q111 cluster quality matches an independent gate+join recomputation") {
    val stop = Set("the", "a", "of", "and")
    val labels = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("label").intValue).toMap
    val staged = docs.flatMap { case (id, text, _, nc) =>
      labels.get(id).map { label =>
        val ws = text.split(" ", -1).toSeq
        val score = rnd(
          math.min(ws.size / 100.0, 1.0) * 0.5
            + (ws.count(stop).toDouble / ws.size) * 2.0
            + (if (nc >= 100) 0.2 else 0.0), 4)
        val totalSh = math.max(ws.size - 2, 0)
        val distinctSh =
          if (ws.size >= 3) (0 to ws.size - 3).map(i => ws.slice(i, i + 3).mkString(" ")).distinct.size
          else 0
        val rep = if (totalSh > 0) 1.0 - distinctSh.toDouble / totalSh else 0.0
        (label, nc, rnd(score * 10000, 0).toLong,
          nc >= 50 && rep <= 0.2 && score >= 0.45)
      }
    }
    val expected = staged.groupBy(_._1).map { case (label, ds) =>
      val nPass = ds.count(_._4).toLong
      (label, ds.size.toLong, nPass,
        rnd(nPass.toDouble / ds.size, 4),
        rnd(ds.map(_._3).sum.toDouble / ds.size, 2),
        rnd(ds.map(_._2).sum.toDouble / ds.size, 2))
    }.toSet
    val got = SparkEntry.queries("q111_cluster_quality")(spark, sf).collect().map { r =>
      (r.getAs[Number]("label").intValue, r.getAs[Long]("n_docs"), r.getAs[Long]("n_pass"),
        r.getAs[Double]("pass_rate"), r.getAs[Double]("avg_score_e4"), r.getAs[Double]("avg_chars"))
    }.toSet
    assert(got == expected)
  }

  test("q113 substring windows match an independent recomputation and the K conf retunes") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def expected(k: Int) = {
      val pos = docs.flatMap { case (id, text, src, _) =>
        val ws = text.split(" ", -1)
        if (ws.length < k) Seq.empty
        else (0 to ws.length - k).map(i => (id, src, md5hex(ws.slice(i, i + k).mkString(" "))))
      }
      val repeats = pos.groupBy(_._3).filter(_._2.size > 1).keySet
      pos.groupBy(_._2).map { case (src, xs) =>
        val dup = xs.filter(p => repeats(p._3))
        (src, xs.size.toLong, dup.size.toLong, dup.map(_._1).distinct.size.toLong,
          rnd(dup.size.toDouble / xs.size, 4))
      }.toSet
    }
    def got() = SparkEntry.queries("q113_substring_windows")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
        r.getAs[Long]("n_docs_affected"), r.getAs[Double]("dup_share"))
    }.toSet
    assert(got() == expected(8))
    // K is a runtime conf; a smaller window can only flag MORE positions
    spark.conf.set("graft.dedup.windowTokens", "5")
    try {
      val g5 = got()
      assert(g5 == expected(5))
      val d8 = expected(8).map(r => r._1 -> r._3).toMap
      g5.foreach { case (src, _, dup5, _, _) => assert(dup5 >= d8.getOrElse(src, 0L)) }
    } finally spark.conf.unset("graft.dedup.windowTokens")
  }

  test("q100 entropy matches an independent recomputation and is bounded by ln(26)") {
    val perDoc = docs.map { case (_, text, src, _) =>
      val cnts = ('a' to 'z').map(c => text.count(_ == c).toLong)
      val total = cnts.sum.toDouble
      // fold left-to-right over the alphabet, the operator's (and oracle's)
      // exact accumulation order
      val ent = rnd(
        cnts.foldLeft(0.0)((acc, c) =>
          acc + (if (c > 0) -((c / total) * math.log(c / total)) else 0.0)),
        4)
      assert(ent >= 0.0 && ent <= math.log(26) + 1e-9)
      src -> ent
    }
    val expected = perDoc.groupBy(_._1).map { case (src, es) =>
      (src, es.size.toLong, rnd(es.map(_._2).sum / es.size, 4),
        rnd(es.map(_._2).min, 4), rnd(es.map(_._2).max, 4),
        es.count(_._2 < 2.9).toLong)
    }.toSet
    val got = SparkEntry.queries("q100_char_entropy")(spark, sf).collect().map { r =>
      (r.getAs[String]("source"), r.getAs[Long]("n_docs"), r.getAs[Double]("avg_entropy"),
        r.getAs[Double]("min_entropy"), r.getAs[Double]("max_entropy"), r.getAs[Long]("n_low"))
    }.toSet
    assert(got == expected)
  }

  test("q248 b-bit minhash calibration matches an independent full recomputation") {
    val dd = docs.map { case (id, text, _, _) => (id, text) }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def shingles(text: String): Seq[String] = {
      val w = text.split(" ", -1).toSeq
      if (w.length < 3) Seq.empty
      else (0 until w.length - 2).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
    }
    val h = 8
    def sigsOf(text: String): Option[Array[Long]] = {
      val hs = shingles(text).map(s => java.lang.Long.parseLong(md5hex(s).take(8), 16))
      if (hs.isEmpty) None
      else Some(Array.tabulate(h)(b => hs.map(x => (x * (2 * b + 1) + 7919L * b) % 2147483647L).min))
    }
    val sigs = dd.flatMap { case (id, tx) => sigsOf(tx).map(id -> _) }.toMap
    val sets = dd.map { case (id, tx) => id -> shingles(tx).distinct.toSet }.toMap
    val cand = (for {
      (a, sa) <- sigs.toSeq; (b, sb) <- sigs.toSeq
      if a < b && (0 until h).exists(i => sa(i) == sb(i))
    } yield (a, b)).distinct
    def hdiv2(num: Long, den: Long) = (2 * num + den) / (2 * den)
    def corrected(m: Long, b: Int): Long = {
      val p = 1L << b
      hdiv2(10000L * (p * (m + h) - 2 * h), h * (p - 1)) - 10000L
    }
    val perPair = cand.flatMap { case (a, b) =>
      val (s1, s2) = (sets(a), sets(b))
      val shared = (s1 & s2).size.toLong
      val u = s1.size.toLong + s2.size.toLong - shared
      if (u <= 0) None
      else {
        val j = hdiv2(10000L * shared, u)
        val (ga, gb) = (sigs(a), sigs(b))
        val mf = (0 until h).count(i => ga(i) == gb(i)).toLong
        val m2 = (0 until h).count(i => (ga(i) & 3) == (gb(i) & 3)).toLong
        val m1 = (0 until h).count(i => (ga(i) & 1) == (gb(i) & 1)).toLong
        Some((j, hdiv2(10000L * mf, h), corrected(m2, 2), corrected(m1, 1)))
      }
    }
    val expected = perPair.groupBy { case (j, _, _, _) => math.min(j / 1000, 9L) }
      .map { case (dec, xs) =>
        val n = xs.length.toLong
        def mean(f: ((Long, Long, Long, Long)) => Long) = hdiv2(xs.map(f).sum, n)
        def meanS(f: ((Long, Long, Long, Long)) => Long) =
          hdiv2(xs.map(x => f(x) + 10000L).sum, n) - 10000L
        (dec, n, mean(_._1), mean(_._2), meanS(_._3), meanS(_._4),
          mean(x => math.abs(x._2 - x._1)), mean(x => math.abs(x._3 - x._1)),
          mean(x => math.abs(x._4 - x._1)))
      }.toSet
    val got = SparkEntry.queries("q248_bbit_minhash")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8)))
      .toSet
    assert(got == expected)
    // per-pair structure that must survive truncation: dropping bits can
    // only ADD collisions, so m_full ≤ m_b2 ≤ m_b1 on every pair
    perPair.foreach { case (j, ef, _, _) =>
      assert(j >= 0L && j <= 10000L && ef >= 0L && ef <= 10000L)
    }
    assert(got.nonEmpty && got.size <= 10)
  }

  test("q116 band sweep is monotone and its widest arm IS q38's verified pair set") {
    val rows = SparkEntry.queries("q116_lsh_tuning")(spark, sf).collect()
      .map(r => (r.getAs[Int]("bands"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_verified"), r.getAs[Double]("recall")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(2, 4, 8))
    // prefix family ⇒ candidates and verified both nondecreasing in bands
    assert(rows.sliding(2).forall { case Array(a, b) => a._2 <= b._2 && a._3 <= b._3 })
    // the widest arm is exactly the default pipeline's verified set (q38)
    val q38Pairs = SparkEntry.queries("q38_ngram_jaccard")(spark, sf).count()
    assert(rows.last._3 == q38Pairs, s"widest-arm verified ${rows.last._3} != q38 $q38Pairs")
    assert(rows.last._4 == 1.0, "recall is defined relative to the widest arm")
  }

  test("q117 threshold pricing is monotone in tau and its 0.5 row prices q38's pairs") {
    val rows = SparkEntry.queries("q117_dedup_sweep")(spark, sf).collect()
      .map(r => (r.getAs[Double]("tau"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_docs_dropped"), r.getAs[Long]("chars_dropped")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(0.5, 0.7, 0.9))
    // a stricter cutoff can only qualify fewer pairs and delete less
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 >= b._2 && a._3 >= b._3 && a._4 >= b._4
    })
    // τ=0.5 is the default pipeline: pairs = q38's rows, drops = its
    // distinct larger-id docs under the keep-smallest-id rule
    val q38Rows = SparkEntry.queries("q38_ngram_jaccard")(spark, sf).collect()
    assert(rows.head._2 == q38Rows.length.toLong)
    val dropped = q38Rows.map(_.getAs[Long]("doc_b")).distinct.length.toLong
    assert(rows.head._3 == dropped, s"0.5-row drops ${rows.head._3} != q38-derived $dropped")
  }

  test("q115 recall curve is monotone in nprobe and bounded like a recall must be") {
    val rows = SparkEntry.queries("q115_ivf_recall")(spark, sf).collect()
      .map(r => (r.getAs[Int]("nprobe"), r.getAs[Long]("n_queries"),
        r.getAs[Double]("avg_recall"), r.getAs[Double]("min_recall"),
        r.getAs[Double]("cand_frac")))
      .sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4))
    assert(rows.forall(r => r._2 == 10L), "the deterministic query sample is vec_id < 10")
    // probing MORE cells can only add candidates, so recall and read
    // fraction are nondecreasing, and every recall sits in [0, 1]
    assert(rows.sliding(2).forall { case Array(a, b) => a._3 <= b._3 && a._5 <= b._5 })
    assert(rows.forall(r => r._3 >= 0.0 && r._3 <= 1.0 && r._4 >= 0.0 && r._4 <= r._3))
    // the curve must actually climb somewhere or the audit measures nothing
    assert(rows.last._3 > rows.head._3 || rows.head._3 == 1.0)
  }

  test("q118 BPE pair counts match an independent word-frequency recomputation") {
    val wordFreq = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val pairCounts = wordFreq.toSeq.filter(_._1.length >= 2).flatMap { case (w, f) =>
      w.toSeq.zip(w.toSeq.tail).map { case (a, b) => (a.toString, b.toString) -> f }
    }.groupBy(_._1).map { case (p, fs) => p -> fs.map(_._2).sum }
    val expected = pairCounts.toSeq
      .sortBy { case ((c1, c2), n) => (-n, c1, c2) }
      .take(50)
      .zipWithIndex
      .map { case (((c1, c2), n), i) => (c1, c2, n, (i + 1).toLong) }
    val got = SparkEntry.queries("q118_bpe_pairs")(spark, sf).collect().map { r =>
      (r.getAs[String]("c1"), r.getAs[String]("c2"),
        r.getAs[Long]("pair_count"), r.getAs[Long]("pair_rank"))
    }.toSeq
    assert(got == expected)
    // conservation bound: counted pair mass never exceeds the corpus's
    // adjacent-slot count (len-1 slots per word occurrence)
    val slots = wordFreq.collect { case (w, f) if w.length >= 2 => (w.length - 1).toLong * f }.sum
    assert(got.map(_._3).sum <= slots)
  }

  test("trainBpe reproduces the sequential BPE merge sequence") {
    val wordFreq = docs.flatMap(_._2.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
      }
    // the sequential reference algorithm, plain Scala
    var vocab = wordFreq.toSeq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val expMerges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (_ <- 1 to 5) {
      val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      vocab.foreach { case (syms, f) => syms.zip(syms.tail).foreach(p => counts(p) += f) }
      if (counts.nonEmpty) {
        val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        expMerges += best
        vocab = vocab.map { case (syms, f) => (applyMerge(syms, best._1, best._2), f) }
      }
    }
    val model = operators.TextAnalysis.trainBpe(Tables(spark, sf), 5)
    assert(model.merges == expMerges.toSeq)
    assert(model.symbolCount == vocab.flatMap(_._1).toSet.size.toLong)
    // round 1 of the trainer IS q118's rank-1 row
    val top = SparkEntry.queries("q118_bpe_pairs")(spark, sf).collect()(0)
    assert(model.merges.head == ((top.getAs[String]("c1"), top.getAs[String]("c2"))))
  }

  test("batched trainBpe equals sequential greedy, overlap trap included, in fewer rounds") {
    import spark.implicits._
    // "xab" is the classic batching trap: round-1 candidates are
    // (a,b):100, (x,a):100, (c,d):60, … — after merging (a,b) the CREATED
    // pair (x,ab):100 is sequential's merge 2, so a naive "top-m by count"
    // batch that skipped overlapping (x,a) and took (c,d) would diverge.
    // The prefix-stop rule must cut round 1 at the (x,a) overlap; round 2
    // may then batch (x,ab) with every remaining disjoint pair at once.
    val words =
      Seq.fill(100)("xab") ++ Seq.fill(60)("cd") ++ Seq.fill(55)("ef") ++
        Seq.fill(50)("gh") ++ Seq.fill(45)("ij")
    val dir = java.nio.file.Files.createTempDirectory("bpe_crafted").toString
    words.toDF("text").write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
      }
    var vocab = words.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (w, xs) => (w.map(_.toString).toVector, xs.size.toLong) }
    val expMerges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (_ <- 1 to 6) {
      val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      vocab.foreach { case (syms, f) => syms.zip(syms.tail).foreach(p => counts(p) += f) }
      if (counts.nonEmpty) {
        val best = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        expMerges += best
        vocab = vocab.map { case (syms, f) => (applyMerge(syms, best._1, best._2), f) }
      }
    }
    assert(expMerges(1) == (("x", "ab")), "crafted trap must make the created pair merge 2")

    val batched = operators.TextAnalysis.trainBpe(Tables(spark, dir), 6, maxBatch = 8)
    val oneByOne = operators.TextAnalysis.trainBpe(Tables(spark, dir), 6, maxBatch = 1)
    assert(batched.merges == expMerges.toSeq)
    assert(oneByOne.merges == expMerges.toSeq)
    // batching must actually compress the schedule: round 1 stops at the
    // trap, round 2 takes the other five merges together
    assert(batched.rounds == 2, s"expected 2 rounds, got ${batched.rounds}")
    assert(oneByOne.rounds == 6)
  }

  test("batched trainBpe equals sequential greedy on randomized corpora") {
    import spark.implicits._
    // the batching guards (prefix stop, symbol/concat disjointness,
    // created-pair bound) are subtle enough that two crafted corpora are
    // not proof — randomized small-alphabet corpora generate dense symbol
    // collisions, ties, and created-pair races far beyond hand-built cases
    def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b) else acc :+ x
      }
    for (seed <- 1 to 5) {
      val rnd = new scala.util.Random(seed)
      val alphabet = "abcde"
      val words = (0 until (15 + rnd.nextInt(15))).map { _ =>
        (1 to (1 + rnd.nextInt(5))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }.distinct
      val corpus = words.flatMap(w => Seq.fill(1 + rnd.nextInt(30))(w))
      val dir = java.nio.file.Files.createTempDirectory(s"bpe_rand_$seed").toString
      corpus.toDF("text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val n = 8
      var vocab = corpus.groupBy(identity).toSeq.sortBy(_._1)
        .map { case (w, xs) => (w.map(_.toString).toVector, xs.size.toLong) }
      val exp = scala.collection.mutable.ArrayBuffer[(String, String)]()
      var break = false
      for (_ <- 1 to n if !break) {
        val counts = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
        vocab.foreach { case (syms, f) => syms.zip(syms.tail).foreach(p => counts(p) += f) }
        if (counts.isEmpty) break = true
        else {
          val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          exp += best
          vocab = vocab.map { case (syms, f) => (applyMerge(syms, best._1, best._2), f) }
        }
      }
      val got = operators.TextAnalysis.trainBpe(Tables(spark, dir), n, maxBatch = 4)
      assert(got.merges == exp.toSeq,
        s"seed=$seed: batched ${got.merges} != sequential ${exp.toSeq} (corpus ${words.mkString(",")})")
    }
  }

  test("q126 pack sweep's 2048 row equals the q80 rollup; caps behave monotonically") {
    val sweep = SparkEntry.queries("q126_pack_sweep")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val q80 = SparkEntry.queries("q80_seq_pack")(spark, sf).collect()
    val row2048 = sweep.find(_._1 == 2048L).get
    // the sweep's 2048 arm IS q80 aggregated over sources — same policy,
    // same kernel, so the numbers must be identical, not merely close
    assert(row2048._2 == q80.map(_.getAs[Long]("n_bins")).sum)
    assert(row2048._3 == q80.map(_.getAs[Long]("total_tokens")).sum)
    assert(row2048._4 == q80.map(_.getAs[Long]("max_docs_per_bin")).max)
    // structural sanity across the sweep: token mass is cap-invariant,
    // larger contexts never need more bins, fill stays in (0, 1]
    assert(sweep.map(_._3).distinct.length == 1)
    assert(sweep.sortBy(_._1).map(_._2).sliding(2).forall { case Array(a, b) => b <= a })
    sweep.foreach { case (_, _, _, _, fill) => assert(fill > 0.0 && fill <= 1.0) }
  }

  test("q127 flags an embedded quote as the containment-missed class") {
    import spark.implicits._
    // doc 2 is a verbatim 20-word slice of doc 1: containment of the small
    // side is 1.0 while Jaccard ~ 18/98 — exactly the pair a Jaccard-
    // thresholded dedup pass leaves behind. docs 3/4 are exact duplicates:
    // containment 1.0 AND Jaccard 1.0 — same bucket, NOT missed.
    val big = (1 to 100).map(i => s"w$i").mkString(" ")
    val quote = (41 to 60).map(i => s"w$i").mkString(" ")
    val dup = (1 to 10).map(i => s"x$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("q127_crafted").toString
    Seq((1L, big), (2L, quote), (3L, dup), (4L, dup))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q127_containment")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    // both pairs land in the top containment quartile — the quote pair is
    // missed (jaccard < 0.8), the exact dup is not
    val (nPairs, nMissed, maxGap, _) = rows(3L)
    assert(nPairs == 2L, s"expected the quote pair AND the dup pair as candidates: $rows")
    assert(nMissed == 1L, s"exactly the quote pair is the missed class: $rows")
    assert(maxGap > 0.7, s"quote pair's containment-jaccard gap should be ~0.82: $rows")
  }

  test("q128 temperature mix: T=1 identity, T=inf uniform, T=2 strictly flattens") {
    val rows = SparkEntry.queries("q128_temperature_mix")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val byT = rows.groupBy(_._1)
    assert(byT.keySet == Set("T=1", "T=2", "T=inf"))
    val nSrc = byT("T=1").length
    byT.foreach { case (t, rs) =>
      assert(math.abs(rs.map(_._6).sum - 1.0) < 0.01, s"$t target shares don't sum to 1")
      rs.foreach { case (_, src, _, _, _, _, ep) => assert(ep > 0, s"$t/$src epochs") }
    }
    // T=1 is the natural distribution: every source runs exactly one epoch
    byT("T=1").foreach { case (_, src, _, _, nat, tgt, ep) =>
      assert(nat == tgt, s"T=1 target must equal natural for $src")
      assert(ep == 1.0, s"T=1 epochs must be 1.0 for $src")
    }
    // T=inf is uniform regardless of size
    val unif = rnd(1.0 / nSrc, 4)
    byT("T=inf").foreach { case (_, src, _, _, _, tgt, _) =>
      assert(math.abs(tgt - unif) <= 0.0002, s"T=inf share for $src: $tgt vs $unif")
    }
    // T=2 sits between: the biggest source loses mass, the smallest gains,
    // and epoch counts are monotone DECREASING in source size
    val n2 = byT("T=2").sortBy(_._4)
    assert(n2.last._6 <= n2.last._5, "largest source must flatten down at T=2")
    assert(n2.head._6 >= n2.head._5, "smallest source must flatten up at T=2")
    assert(n2.map(_._7).sliding(2).forall { case Array(a, b) => b <= a + 1e-9 },
      "epochs must decrease with source size at T=2")
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def winHashes(text: String, k: Int = 8): Seq[String] = {
    val ws = text.split(" ", -1).toSeq
    if (ws.size < k) Seq.empty
    else (0 to ws.size - k).map(i => md5hex(ws.slice(i, i + k).mkString(" ")))
  }

  test("q121 token rarity matches an independent recomputation") {
    val toks = docs.flatMap { case (id, text, src, _) =>
      text.split(" ", -1).filter(_.nonEmpty).map(w => (id, src, w))
    }
    val freq = toks.groupBy(_._3).map { case (w, xs) => w -> xs.size.toLong }
    val perDoc = toks.groupBy(t => (t._1, t._2)).map { case ((id, src), xs) =>
      val tfs = xs.map(x => freq(x._3))
      (id, src, xs.size.toLong, tfs.count(_ <= 2).toLong, tfs.min)
    }
    val expected = perDoc.groupBy(_._2).map { case (src, ds) =>
      val totalTok = ds.map(_._3).sum
      val totalRare = ds.map(_._4).sum
      (src, ds.size.toLong, totalTok, totalRare, ds.count(_._4 > 0).toLong,
        ds.map(_._5).min, rnd(totalRare.toDouble / totalTok, 4))
    }.toSet
    val got = SparkEntry.queries("q121_token_rarity")(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getDouble(6))
    }.toSet
    assert(got == expected)
  }

  test("q122 window novelty matches an independent recomputation") {
    val pairs = docs.flatMap { case (_, text, src, _) => winHashes(text).map(h => (src, h)) }.distinct
    val spread = pairs.groupBy(_._2).map { case (h, xs) => h -> xs.size }
    val expected = pairs.groupBy(_._1).map { case (src, ps) =>
      val n = ps.size.toLong
      val excl = ps.count(p => spread(p._2) == 1).toLong
      (src, n, excl, n - excl, rnd(excl.toDouble / n, 4))
    }.toSet
    val got = SparkEntry.queries("q122_window_novelty")(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    }.toSet
    assert(got == expected)
  }

  test("q123 quality keep matches an independent recomputation and beats arbitrary keep") {
    val stop = Set("the", "a", "of", "and")
    val scored = docs.map { case (id, text, src, nc) =>
      val ws = text.split(" ", -1).toSeq
      val score = rnd(
        math.min(ws.size / 100.0, 1.0) * 0.5
          + (ws.count(stop).toDouble / ws.size) * 2.0
          + (if (nc >= 100) 0.2 else 0.0), 4)
      (id, src, nc, score, text)
    }
    // per exact-dup group: best score wins, smallest id breaks ties
    val keptIds = scored.groupBy(_._5).map { case (_, xs) =>
      xs.minBy(d => (-d._4, d._1))._1
    }.toSet
    val expected = scored.groupBy(_._2).map { case (src, ds) =>
      val kept = ds.filter(d => keptIds(d._1))
      (src, ds.size.toLong, kept.size.toLong,
        ds.filterNot(d => keptIds(d._1)).map(_._3).sum,
        rnd(kept.map(_._4).sum / kept.size, 4))
    }.toSet
    val got = SparkEntry.queries("q123_quality_keep")(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    }.toSet
    assert(got == expected)
    // the quality rule never keeps a worse copy than the smallest-id rule
    val byText = scored.groupBy(_._5)
    byText.foreach { case (_, xs) =>
      val q = xs.find(d => keptIds(d._1)).get._4
      val arbitrary = xs.minBy(_._1)._4
      assert(q >= arbitrary)
    }
  }

  test("q120 split leakage invariants: bounded shares, q103-consistent split sizes") {
    val rows = SparkEntry.queries("q120_split_leakage")(spark, sf).collect().map { r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    }
    assert(rows.map(_._1).toSet == Set("val", "test"))
    rows.foreach { case (_, nw, leakW, nd, leakD, share) =>
      assert(leakW >= 0 && leakW <= nw, "leaked windows exceed distinct windows")
      assert(leakD >= 0 && leakD <= nd, "leaked docs exceed split docs")
      assert(share == rnd(leakW.toDouble / nw, 4))
    }
    // split membership agrees with the q103 bucket rule recomputed per doc
    val bucket = docs.map { case (id, text, _, _) =>
      val h = md5hex(id.toString).take(8)
      val b = java.lang.Long.parseLong(h, 16) % 100
      (id, if (b < 90) "train" else if (b < 95) "val" else "test",
        text.split(" ", -1).size >= 8)
    }
    val expectedDocs = bucket.filter(d => d._2 != "train" && d._3)
      .groupBy(_._2).map { case (s, xs) => s -> xs.size.toLong }
    rows.foreach { case (s, _, _, nd, _, _) => assert(expectedDocs(s) == nd, s"split $s") }
  }

  test("q129 separates reorder-duplicates from template-edit duplicates") {
    import spark.implicits._
    // three candidate pairs with DISJOINT vocabularies (so no cross-pair
    // shares a shingle and the class table is exact):
    //  - docs 1/2: byte-identical -> jaccard 1, edit_sim 1 -> 'both'
    //  - docs 3/4: half-swapped block move -> shingles mostly survive
    //    (jaccard ~0.85) but no positional alignment (edit_sim ~0) ->
    //    'jaccard_only', the reordered duplicate an edit threshold misses
    //  - docs 5/6: slot-filled template (every 6th word's digit swapped) ->
    //    every containing 3-gram breaks (jaccard ~0.33) while the word
    //    stream differs in 5 single-word substitutions over 30 words
    //    (edit_sim = 1 - 5/30 = 0.8333) -> 'edit_only', the template
    //    duplicate a shingle threshold misses
    val dup = (1 to 20).map(i => s"d$i").mkString(" ")
    val reorderA = (1 to 30).map(i => s"a$i").mkString(" ")
    val reorderB = ((16 to 30) ++ (1 to 15)).map(i => s"a$i").mkString(" ")
    val tmplA = (1 to 30).map(i => s"b${i}x1y").mkString(" ")
    val tmplB = (1 to 30).map(i => if (i % 6 == 0) s"b${i}x2y" else s"b${i}x1y").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("q129_crafted").toString
    Seq((1L, dup), (2L, dup), (3L, reorderA), (4L, reorderB), (5L, tmplA), (6L, tmplB))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q129_edit_verify")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rows.keySet == Set("both", "jaccard_only", "edit_only"),
      s"expected exactly the three crafted classes: $rows")
    assert(rows("both") == ((1L, 1.0, 1.0)), s"exact dup pair: $rows")
    val (nJ, jJac, jEdit) = rows("jaccard_only")
    assert(nJ == 1L && jJac >= 0.8 && jEdit < 0.5, s"reorder pair: $rows")
    val (nE, eJac, eEdit) = rows("edit_only")
    assert(nE == 1L && eJac < 0.5 && eEdit == 0.8333, s"template pair: $rows")
  }

  test("q130 CMS estimates match a scalar sketch; narrow widths overcount, never under") {
    // independent CMS recomputation on the collected corpus: the family's
    // md5-fragment int32 + per-row linear rehash, d=4 rows
    def cms(w: Int): (Map[String, Long], Map[(Int, Long), Long]) = {
      val counts = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
      val sketch = scala.collection.mutable.Map[(Int, Long), Long]().withDefaultValue(0L)
      counts.foreach { case (t, n) =>
        val h = java.lang.Long.parseLong(md5hex(t).take(8), 16)
        (0 until 4).foreach { i =>
          sketch((i, ((h * (2 * i + 1) + 7919L * i) % 2147483647L) % w)) += n
        }
      }
      (counts, sketch.toMap)
    }
    def estimate(t: String, w: Int, sketch: Map[(Int, Long), Long]): Long = {
      val h = java.lang.Long.parseLong(md5hex(t).take(8), 16)
      (0 until 4).map(i => sketch((i, ((h * (2 * i + 1) + 7919L * i) % 2147483647L) % w))).min
    }
    for (w <- Seq(256, 2)) {
      spark.conf.set("graft.cms.width", w.toString)
      try {
        val (counts, sketch) = cms(w)
        val rows = SparkEntry.queries("q130_cms_calibration")(spark, sf).collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        assert(rows.length == math.min(50, counts.size))
        rows.foreach { case (tok, exact, est, over) =>
          assert(exact == counts(tok), s"w=$w exact($tok)")
          assert(est == estimate(tok, w, sketch), s"w=$w est($tok)")
          assert(over == est - exact && over >= 0, s"w=$w CMS must never undercount: $tok")
        }
        // at w=2 every token shares a bucket with most of the vocabulary —
        // the overcount arm is genuinely exercised
        if (w == 2) assert(rows.exists(_._4 > 0), "w=2 should collide somewhere")
        else assert(rows.forall(_._4 == 0), "w=256 holds this vocab collision-free")
      } finally spark.conf.unset("graft.cms.width")
    }
  }

  test("q135 fertility conserves q32's subword totals and stays in sane bounds") {
    val rows = SparkEntry.queries("q135_tokenizer_fertility")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getDouble(6)))
    // cross-query conservation: the per-lang rollup and q32's per-source
    // rollup aggregate the SAME kernel counts, so corpus totals must match
    val q32 = SparkEntry.queries("q32_token_count")(spark, sf).collect()
    assert(rows.map(_._4).sum == q32.map(_.getAs[Long]("total_subword_tokens")).sum)
    assert(rows.map(_._3).sum == q32.map(_.getAs[Long]("total_ws_tokens")).sum)
    assert(rows.map(_._2).sum == docs.size.toLong)
    rows.foreach { case (lang, _, words, toks, chars, fert, cpt) =>
      // a greedy subword vocab never splits below 1 token/word on this
      // single-space corpus, and a token is at most a whole word
      assert(fert >= 1.0, s"$lang fertility < 1")
      assert(rnd(toks.toDouble / words, 4) == fert, s"$lang fertility arithmetic")
      assert(rnd(chars.toDouble / toks, 4) == cpt, s"$lang compression arithmetic")
    }
  }

  test("q136 coverage matches a fully-ranked scalar recomputation") {
    val counts = docs.flatMap(_._2.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    // the reference derivation ranks the WHOLE vocab (the thing the
    // histogram formulation avoids doing distributedly) and takes exact
    // top-N prefix sums under the (freq desc, token asc) tie-break
    val ranked = counts.toSeq.sortBy { case (t, n) => (-n, t) }
    val totalOcc = ranked.map(_._2).sum
    val expected = Seq(100L, 1000L, 10000L).map { c =>
      val used = math.min(c, ranked.size.toLong)
      val covered = ranked.take(used.toInt).map(_._2).sum
      (c, used, covered, rnd(covered.toDouble / totalOcc, 4))
    }.toSet
    val got = SparkEntry.queries("q136_vocab_coverage")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
    // coverage is monotone in the budget and caps at 1.0
    val sorted = got.toSeq.sortBy(_._1)
    assert(sorted.map(_._4).sliding(2).forall { case Seq(a, b) => b >= a; case _ => true })
    assert(sorted.forall(_._4 <= 1.0))
  }

  test("q139 PMI collocations match a scalar recomputation") {
    val bigrams = docs.flatMap { case (_, text, _, _) =>
      val w = text.split(" ", -1)
      w.zip(w.tail).filter { case (a, b) => a.nonEmpty && b.nonEmpty }
    }
    val c12 = bigrams.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val c1 = c12.groupBy(_._1._1).map { case (w, xs) => w -> xs.values.sum }
    val c2 = c12.groupBy(_._1._2).map { case (w, xs) => w -> xs.values.sum }
    val n = c12.values.sum
    val expected = c12.toSeq
      .filter(_._2 >= 10)
      .map { case ((w1, w2), c) =>
        val pmi = BigDecimal(
          math.log((c.toDouble * n.toDouble) / (c1(w1).toDouble * c2(w2).toDouble)) * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (w1, w2, c, c1(w1), c2(w2), pmi)
      }
      .sortBy { case (w1, w2, _, _, _, pmi) => (-pmi, w1, w2) }
      .take(50)
    val got = SparkEntry.queries("q139_pmi")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // PMI of an always-together pair is maximal: every pair's pmi is
    // bounded by ln(N / c12) (c1, c2 >= c12)
    got.foreach { case (w1, w2, c, _, _, pmi) =>
      assert(pmi <= math.ceil(math.log(n.toDouble / c) * 10000).toLong, s"$w1 $w2") }
  }

  test("q140 shared heads match a scalar recomputation; shorter prefixes collide more") {
    def share(k: Int): Map[String, (Long, Long, Long, Long)] = {
      val pre = docs.map { case (id, text, src, _) =>
        (id, src, text.split(" ", -1).take(k).mkString(" "))
      }
      val groups = pre.groupBy(_._3).map { case (p, xs) => p -> xs.size.toLong }
      pre.groupBy(_._2).map { case (src, xs) =>
        src -> (
          xs.size.toLong,
          xs.map(_._3).distinct.size.toLong,
          xs.map(x => groups(x._3)).max,
          xs.count(x => groups(x._3) >= 2).toLong)
      }
    }
    for (k <- Seq(8, 3)) {
      spark.conf.set("graft.dedup.prefixWords", k.toString)
      try {
        val expected = share(k)
        val got = SparkEntry.queries("q140_prefix_boilerplate")(spark, sf).collect()
          .map(r => r.getString(0) ->
            (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .toMap
        assert(got == expected, s"k=$k")
      } finally spark.conf.unset("graft.dedup.prefixWords")
    }
    // monotonicity: identical 8-word heads are identical 3-word heads,
    // so the shared-head doc count can only grow as k shrinks
    val s8 = share(8)
    val s3 = share(3)
    s8.keys.foreach(src => assert(s3(src)._4 >= s8(src)._4, src))
  }

  test("q141 payload entropy matches a scalar histogram-fold recomputation") {
    def rnd4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perBlob = docs.map { case (_, text, src, _) =>
      val mt = (text.head.toInt % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val cnts = new Array[Long](16)
      text.foreach(c => cnts(c.toInt / 16) += 1)
      val total = cnts.sum.toDouble
      // the query's exact fold: left-to-right over the fixed 16-bin array
      var acc = 0.0
      cnts.foreach { c =>
        if (c > 0) acc += -((c.toDouble / total) * math.log(c.toDouble / total))
      }
      // the query's quantization: integer 1e-4 units BEFORE aggregation
      (src, mt, BigDecimal(acc * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
    val expected = perBlob.groupBy(p => (p._1, p._2)).map { case ((src, mt), xs) =>
      val es = xs.map(_._3)
      (src, mt, xs.size.toLong,
        ((2 * es.sum + es.size) / (2 * es.size)) / 10000.0,
        es.min / 10000.0, es.max / 10000.0, es.count(_ < 10000L).toLong)
    }.toSet
    val got = SparkEntry.queries("q141_payload_entropy")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6))).toSet
    assert(got == expected)
    // entropy over 16 bins is bounded by ln 16
    got.foreach { case (src, mt, _, _, _, mx, _) =>
      assert(mx <= math.log(16.0) + 1e-6, s"$src/$mt exceeds ln 16") }
  }

  test("q142 planted recall matches a scalar minhash recomputation at k=10") {
    def h32(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    def sigs(shingles: Seq[String]): Seq[Option[Long]] = {
      val hs = shingles.map(h32)
      (0 until 8).map { b =>
        if (hs.isEmpty) None
        else Some(hs.map(h => (h * (2 * b + 1) + 7919L * b) % 2147483647L).min)
      }
    }
    def shingle3(ws: Seq[String]): Seq[String] =
      if (ws.length < 3) Seq.empty
      else ws.sliding(3).map(_.mkString(" ")).toSeq
    val perDoc = docs.map { case (id, text, _, _) =>
      val ws = text.split(" ", -1).toSeq
      val pws = ws.zipWithIndex.map { case (w, i) => if (i % 10 == 0) s"zz$id" else w }
      val (sa, sb) = (shingle3(ws).distinct, shingle3(pws).distinct)
      val shared = sa.count(sb.contains)
      val nAgree = sigs(shingle3(ws)).zip(sigs(shingle3(pws)))
        .count { case (a, b) => a.isDefined && a == b }
      val jE4 = BigDecimal(shared.toDouble / (sa.size + sb.size - shared) * 10000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      (nAgree, jE4)
    }
    val n = perDoc.size.toLong
    val expected = (
      10L, n,
      perDoc.count(_._1 >= 1).toLong,
      perDoc.count(_._2 >= 5000L).toLong,
      perDoc.count(p => p._1 >= 1 && p._2 >= 5000L).toLong,
      perDoc.map(_._2).sum)
    val rows = SparkEntry.queries("q142_planted_recall")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Double]), r.getDouble(5)))
    val k10 = rows.find(_._1 == 10L).get
    assert((k10._2, k10._3, k10._4) == ((expected._2, expected._3, expected._4)),
      s"k=10 counts: got $k10 want $expected")
    val wantRecall =
      if (expected._4 == 0) None
      else Some(BigDecimal(expected._5.toDouble / expected._4)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(k10._5 == wantRecall, s"k=10 recall")
    assert(k10._6 == ((2 * expected._6 + n) / (2 * n)) / 10000.0, s"k=10 avg jaccard")
    // lighter perturbation keeps strictly more shared shingles per doc
    // (perturbed positions at k=20 are a subset of k=10's), so the mean
    // planted Jaccard must rise with k
    val byK = rows.sortBy(_._1).map(_._6)
    assert(byK.sliding(2).forall { case Array(a, b) => b > a }, s"jaccard not monotone: $byK")
  }

  test("q143 leakage attribution matches a scalar recomputation and covers q120's total") {
    def rnd4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val perDoc = docs.map { case (id, text, src, _) =>
      val bucket = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 100
      val split = if (bucket < 90) "train" else if (bucket < 95) "val" else "test"
      val ws = text.split(" ", -1)
      val hs = if (ws.length >= 8) ws.sliding(8).map(w => md5hex(w.mkString(" "))).toSet
        else Set.empty[String]
      (split, src, hs)
    }
    val trainBySrc = perDoc.filter(_._1 == "train")
      .flatMap { case (_, src, hs) => hs.map(h => (h, src)) }.distinct
    val evalWindows = perDoc.filter(_._1 != "train")
      .flatMap { case (split, _, hs) => hs.map(h => (split, h)) }.distinct
    val pairs = for {
      (split, h) <- evalWindows
      (th, src) <- trainBySrc if th == h
    } yield (split, src, h)
    val totals = pairs.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).distinct.size }
    val expected = pairs.groupBy(p => (p._1, p._2)).map { case ((split, src), xs) =>
      (split, src, xs.size.toLong, rnd4(xs.size.toDouble / totals(split)))
    }.toSet
    val got = SparkEntry.queries("q143_leakage_by_source")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
    // consistency with q120: each split's distinct leaked-window total is
    // exactly q120's n_leaked_windows for that split
    val q120 = SparkEntry.queries("q120_split_leakage")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_leaked_windows")).toMap
    totals.foreach { case (split, n) => assert(q120(split) == n.toLong, split) }
    // per-source counts cover the total (shares may sum past 1 by design)
    got.groupBy(_._1).foreach { case (split, rows) =>
      assert(rows.map(_._3).sum >= totals(split).toLong, split) }
  }

  test("q146 leak severity matches a scalar IDF recomputation and q120's totals") {
    val perDoc = docs.map { case (id, text, _, _) =>
      val bucket = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 100
      val split = if (bucket < 90) "train" else if (bucket < 95) "val" else "test"
      val ws = text.split(" ", -1)
      val hs = if (ws.length >= 8) ws.sliding(8).map(w => md5hex(w.mkString(" "))).toSet
        else Set.empty[String]
      (id, split, hs)
    }
    val train = perDoc.filter(_._2 == "train")
    val nTrain = train.size
    val dfm = train.flatMap { case (id, _, hs) => hs.map(h => (h, id)) }
      .distinct.groupBy(_._1).map { case (h, xs) => h -> xs.size }
    def sevE4(df: Int): Long = BigDecimal(math.log(nTrain.toDouble / df) * 10000)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val expected = perDoc.filter(_._2 != "train")
      .flatMap { case (_, split, hs) => hs.map(h => (split, h)) }
      .distinct
      .flatMap { case (split, h) => dfm.get(h).map(df => (split, df)) }
      .groupBy(_._1).map { case (split, xs) =>
        (split, xs.size.toLong, xs.count(_._2 == 1).toLong,
          xs.map(x => sevE4(x._2)).sum, xs.map(x => sevE4(x._2)).max)
      }.toSet
    val got = SparkEntry.queries("q146_leak_severity")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    // the leaked-window totals are exactly q120's per split
    val q120 = SparkEntry.queries("q120_split_leakage")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_leaked_windows")).toMap
    got.foreach { case (split, n, nv, _, _) =>
      assert(q120(split) == n, split)
      assert(nv <= n, split)
    }
  }

  test("q147 cluster-size histogram is exactly q62's component table re-binned") {
    val comp = SparkEntry.queries("q62_dup_clusters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = comp.groupBy(_._2).map(_._2.size).groupBy(identity)
      .map { case (sz, xs) => (sz.toLong, xs.size.toLong, sz.toLong * xs.size) }.toSet
    val got = SparkEntry.queries("q147_cluster_sizes")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected)
    // every clustered doc lands in exactly one histogram cell
    assert(got.toSeq.map(_._3).sum == comp.length.toLong)
    // components are pair-or-larger by construction
    assert(got.forall(_._1 >= 2))
  }

  test("q195 dedup saturation is q62's component table re-cut at doc_id checkpoints") {
    val comp = SparkEntry.queries("q62_dup_clusters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val ids = Tables(spark, sf).documents.select(col("doc_id")).collect().map(_.getLong(0))
    val cps = (6 to 40).map(k => 1L << k).filter(_ < 2L * ids.length)
    val expected = cps.map { cp =>
      val pre = ids.filter(_ < cp)
      val red = pre.filter(id => comp.get(id).exists(_ != id))
      (cp, pre.length.toLong, red.length.toLong,
        red.map(comp).distinct.length.toLong,
        if (pre.isEmpty) 0L else (2 * 1000000L * red.length + pre.length) / (2L * pre.length))
    }.filter(_._2 > 0).toSet
    val got = SparkEntry.queries("q195_dedup_saturation")(spark, sf).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    // cumulative counts are monotone over checkpoints and the last row
    // covers the whole corpus
    val ordered = got.toSeq.sortBy(_._1)
    ordered.sliding(2).foreach {
      case Seq(a, b) =>
        assert(b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4, s"${a._1} -> ${b._1}")
      case _ =>
    }
    assert(ordered.last._2 == ids.length.toLong, "last checkpoint misses docs")
    assert(ordered.last._3 > 0L, "degenerate: no redundant members at full corpus")
  }

  test("q203 CDC chunk dedup matches an independent chunker") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def hv(s: String) = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val docsRows = Tables(spark, sf).documents
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // chunk every doc: a word opens a chunk when hexint32(md5(word)) % 8 == 0
    val occurrences = docsRows.flatMap { case (id, src, text) =>
      val words = text.split(" ", -1)
      val chunks = words.tail.foldLeft(Vector(Vector(words.head))) { (acc, w) =>
        if (hv(w) % 8 == 0) acc :+ Vector(w) else acc.init :+ (acc.last :+ w)
      }
      chunks.zipWithIndex.map { case (c, i) =>
        val s = c.mkString(" ")
        (src, id * 1000000L + (i + 1), md5hex(s), s.length.toLong)
      }
    }
    val firstKey = occurrences.groupBy(_._3).map { case (h, xs) => h -> xs.map(_._2).min }
    val expected = occurrences.groupBy(_._1).map { case (src, xs) =>
      val dup = xs.filter(o => firstKey(o._3) != o._2)
      (src, xs.length.toLong, (xs.length - dup.length).toLong,
        dup.map(_._4).sum, xs.map(_._4).sum,
        hdivC(10000L * dup.map(_._4).sum, xs.map(_._4).sum))
    }.toSet
    val got = SparkEntry.queries("q203_cdc_chunks")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSet
    assert(got == expected)
    // the CDC property pays: some cross-doc chunk reuse exists (probed
    // 8.3% at sf0.01 — the number doc-level dedup cannot see)
    assert(got.exists(_._4 > 0L), "degenerate: no duplicate chunks anywhere")
  }

  private def hdivC(num: Long, den: Long): Long = (2 * num + den) / (2 * den)

  test("q210 chunk league matches an independent chunker league table") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String) = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def hv(s: String) = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val docsRows = Tables(spark, sf).documents
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val occurrences = docsRows.flatMap { case (id, src, text) =>
      val words = text.split(" ", -1)
      val chunks = words.tail.foldLeft(Vector(Vector(words.head))) { (acc, w) =>
        if (hv(w) % 8 == 0) acc :+ Vector(w) else acc.init :+ (acc.last :+ w)
      }
      chunks.map { c =>
        val s = c.mkString(" ")
        (src, id, md5hex(s), s.length.toLong)
      }
    }
    val expected = occurrences.groupBy(_._3).toSeq
      .filter(_._2.length >= 2)
      .map { case (h, xs) =>
        (h, xs.length.toLong, xs.map(_._2).distinct.length.toLong,
          xs.map(_._1).distinct.length.toLong, xs.head._4,
          (xs.length - 1) * xs.head._4)
      }
      .sortBy { case (h, _, _, _, _, dup) => (-dup, h) }
      .take(20)
    val got = SparkEntry.queries("q210_chunk_league")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected)
    // identical text => identical length; occurrence count bounds both
    // distinct counts; the league is genuinely multi-doc boilerplate
    got.foreach { case (h, occ, nd, ns, _, _) =>
      assert(nd <= occ && ns <= nd, h)
    }
    assert(got.exists(_._3 > 1L), "degenerate: no cross-doc chunk in the league")
  }

  test("q131 normalization collapses the synthesized messy twins exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q131_crafted").toString
    // doc 2 is a pre-messy case/spacing variant of doc 1: raw md5 keeps all
    // four renditions (2 docs + their 2 synthesized twins) apart, the
    // normalized hash folds every one onto 'hello world'
    Seq(("s1", 1L, "hello world"), ("s1", 2L, "HELLO  WORLD"), ("s2", 3L, "solo doc"))
      .toDF("source", "doc_id", "text").write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q131_norm_dedup")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(rows("s1") == ((4L, 4L, 1L, 3L, 0.75)), s"s1: $rows")
    assert(rows("s2") == ((2L, 2L, 1L, 1L, 0.5)), s"s2: $rows")
    // invariant on the real corpus: every synthesized twin must collapse,
    // so distinct_norm equals the ORIGINAL corpus's distinct text count
    val got = SparkEntry.queries("q131_norm_dedup")(spark, sf).collect()
    val origDistinct = docs.groupBy(_._3).map { case (s, xs) =>
      s -> xs.map(_._2).distinct.size.toLong
    }
    got.foreach { r =>
      assert(r.getAs[Long]("distinct_norm") == origDistinct(r.getAs[String]("source")))
      assert(r.getAs[Long]("n_docs") == 2 * docs.count(_._3 == r.getAs[String]("source")))
    }
  }

  // half-up integer division, the q141/q142 mean rule both engines share
  private def hdiv(num: Long, den: Long): Long = (2 * num + den) / (2 * den)

  // Spark's split('text', ' ') keeps trailing empties (Java limit -1);
  // the word-pair filters then drop empty w1/w2 — mirror both exactly
  private def rawWords(text: String): Array[String] = text.split(" ", -1)

  test("q151 perplexity bins match an independent LM + tertile recomputation") {
    val langs = Tables(spark, sf).documents
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val docBgs: Seq[(Long, (String, String))] = docs.flatMap { case (id, text, _, _) =>
      val ws = rawWords(text)
      if (ws.length >= 2)
        ws.sliding(2).collect { case Array(a, b) if a.nonEmpty && b.nonEmpty => (id, (a, b)) }.toSeq
      else Seq.empty[(Long, (String, String))]
    }
    val pairCnt = docBgs.groupBy(_._2).map { case (bg, xs) => bg -> xs.size.toLong }
    val w1Cnt = docBgs.groupBy(_._2._1).map { case (w1, xs) => w1 -> xs.size.toLong }
    def bitsE3(bg: (String, String)): Long = {
      val p = pairCnt(bg).toDouble / w1Cnt(bg._1)
      math.floor(-(math.log(p) / math.log(2.0)) * 1000 + 0.5).toLong
    }
    val perDoc: Map[(String, Long), Long] = docBgs.groupBy(_._1).map { case (id, xs) =>
      (langs(id), id) -> hdiv(xs.map(x => bitsE3(x._2)).sum, xs.size.toLong)
    }
    // exact interpolated percentile, Spark's index formula
    def pctl(sorted: IndexedSeq[Long], p: Double): Double = {
      val idx = p * (sorted.size - 1)
      val lo = math.floor(idx).toInt
      val hi = math.ceil(idx).toInt
      sorted(lo) + (idx - lo) * (sorted(hi) - sorted(lo))
    }
    val expected = perDoc.toSeq.groupBy(_._1._1).flatMap { case (lang, xs) =>
      val sorted = xs.map(_._2).sorted.toIndexedSeq
      val (p33, p66) = (pctl(sorted, 1.0 / 3), pctl(sorted, 2.0 / 3))
      xs.map(_._2).groupBy { s =>
        if (s <= p33) "head" else if (s <= p66) "middle" else "tail"
      }.map { case (bin, ss) =>
        (lang, bin, ss.size.toLong, hdiv(ss.sum, ss.size.toLong), ss.min, ss.max)
      }
    }.toSet
    val got = SparkEntry.queries("q151_lm_ppl_bins")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
    // bins partition each language's scored docs; head never averages
    // above tail (the cut is BY score)
    got.groupBy(_._1).foreach { case (lang, rows) =>
      val n = rows.toSeq.map(_._3).sum
      assert(n == perDoc.count(_._1._1 == lang), lang)
      for {
        h <- rows.find(_._2 == "head")
        t <- rows.find(_._2 == "tail")
      } assert(h._4 <= t._4, lang)
    }
  }

  test("q152 distinct-n diversity matches an independent recomputation") {
    val expected = docs.groupBy(_._3).map { case (src, xs) =>
      val unis = xs.flatMap(d => rawWords(d._2)).filter(_.nonEmpty)
      val bis = xs.flatMap { d =>
        val ws = rawWords(d._2)
        if (ws.length >= 2)
          ws.sliding(2).collect { case Array(a, b) if a.nonEmpty && b.nonEmpty => a + " " + b }.toSeq
        else Seq.empty[String]
      }
      val (ut, ud) = (unis.size.toLong, unis.distinct.size.toLong)
      val (bt, bd) = (bis.size.toLong, bis.distinct.size.toLong)
      (src, ut, ud, hdiv(10000L * ud, ut), bt, bd,
        if (bt == 0) 0L else hdiv(10000L * bd, bt))
    }.toSet
    val got = SparkEntry.queries("q152_distinct_ngrams")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == expected)
    // ratios are valid e4 proportions, and a corpus always repeats SOME
    // unigram (ratio strictly below 1) while bigrams are more distinct
    // than unigrams — the diversity ordering the metric exists to show
    got.foreach { case (src, _, _, ur, _, _, br) =>
      assert(ur > 0 && ur < 10000, src)
      assert(br > 0 && br <= 10000, src)
      assert(br >= ur, src)
    }
  }

  test("q159 context entropy matches an independent recomputation with its log2 bound") {
    val bgs = docs.flatMap { case (_, text, _, _) =>
      val ws = rawWords(text)
      if (ws.length >= 2)
        ws.sliding(2).collect { case Array(a, b) if a.nonEmpty && b.nonEmpty => (a, b) }.toSeq
      else Seq.empty[(String, String)]
    }
    val pairCnt = bgs.groupBy(identity).map { case (bg, xs) => bg -> xs.size.toLong }
    val w1Cnt = bgs.groupBy(_._1).map { case (w, xs) => w -> xs.size.toLong }
    val nTotal = bgs.size.toLong
    val expected = w1Cnt.map { case (w1, n1) =>
      // toSeq first: collect on a Map producing (np, bits) pairs would
      // rebuild a Map and silently merge equal-count successors
      val terms = pairCnt.toSeq.collect { case ((a, _), np) if a == w1 =>
        val bits = math.floor(-(math.log(np.toDouble / n1) / math.log(2.0)) * 1000 + 0.5).toLong
        (np, bits)
      }.toSeq
      (w1, n1, terms.size.toLong,
        hdiv(terms.map { case (np, b) => np * b }.sum, n1),
        hdiv(10000L * n1, nTotal))
    }.toSeq.sortBy { case (w1, _, _, h, _) => (-h, w1) }.take(30)
    val got = SparkEntry.queries("q159_context_entropy")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected)
    // H(w2|w1) is bounded by log2 of the successor count (+1 for the e3
    // per-term quantization drift)
    got.foreach { case (w1, _, ns, h, share) =>
      assert(h >= 0, w1)
      assert(h <= math.ceil(math.log(ns.toDouble) / math.log(2.0) * 1000).toLong + ns, w1)
      assert(share >= 0 && share <= 10000, w1)
    }
  }

  test("q152 reports explicit zeros, not NULLs, for a bigram-free source") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q152_crafted").toString
    // s1's docs are all single-word: unigrams exist, bigrams cannot
    Seq(("s1", 1L, "alpha"), ("s1", 2L, "alpha"), ("s2", 3L, "beta gamma beta gamma"))
      .toDF("source", "doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q152_distinct_ngrams")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(rows("s1") == ((2L, 1L, 5000L, 0L, 0L, 0L)), s"s1: $rows")
    assert(rows("s2") == ((4L, 2L, 5000L, 3L, 2L, 6667L)), s"s2: $rows")
  }

  test("q155 token burstiness matches an independent recomputation") {
    val tf = docs.flatMap { case (id, text, _, _) =>
      rawWords(text).filter(_.nonEmpty).map(t => (t, id))
    }.groupBy(identity).map { case ((t, id), xs) => (t, id, xs.size.toLong) }
    val expected = tf.groupBy(_._1).collect { case (tok, xs) if xs.size >= 20 =>
      val df = xs.size.toLong
      val multi = xs.count(_._3 >= 2).toLong
      val tft = xs.map(_._3).sum
      (tok, df, multi, hdiv(10000L * multi, df), hdiv(100L * tft, df))
    }.toSeq.sortBy { case (tok, df, _, burst, _) => (-burst, -df, tok) }.take(30)
    val got = SparkEntry.queries("q155_token_burstiness")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected)
    // burstiness is a conditional probability; mean tf of a multi-doc
    // token is at least 1.00 (e2)
    got.foreach { case (tok, df, multi, burst, mtf) =>
      assert(multi <= df, tok)
      assert(burst >= 0 && burst <= 10000, tok)
      assert(mtf >= 100, tok)
    }
  }

  // the q160/q163 shared input: per-source token frequencies
  private def srcCounts: Map[String, Map[String, Long]] =
    docs.groupBy(_._3).map { case (src, xs) =>
      src -> xs.flatMap(d => rawWords(d._2)).filter(_.nonEmpty)
        .groupBy(identity).map { case (t, ys) => t -> ys.size.toLong }
    }

  test("q160 zipf slope matches an independent OLS recomputation") {
    val expected = srcCounts.map { case (src, cnt) =>
      val pts = cnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(100).zipWithIndex
        .map { case ((_, c), i) =>
          (math.floor(math.log((i + 1).toDouble) * 10000 + 0.5).toLong,
            math.floor(math.log(c.toDouble) * 10000 + 0.5).toLong)
        }
      val n = pts.size.toLong
      val sx = pts.map(_._1).sum
      val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val num = sx * sy - n * sxy
      val den = n * sxx - sx * sx
      (src, n, cnt.values.max, if (den == 0) 0L else hdiv(10000L * num, den))
    }.toSet
    val got = SparkEntry.queries("q160_zipf_slope")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expected)
    // Chebyshev's sum inequality: the slope magnitude of desc-ranked
    // counts is never negative
    got.foreach { case (src, n, top, s) =>
      assert(s >= 0, src)
      assert(n >= 1 && top >= 1, src)
    }
  }

  test("q163 token gini matches an independent rank recomputation, decimal path identical") {
    val expected = srcCounts.map { case (src, cnt) =>
      val asc = cnt.toSeq.sortBy { case (t, c) => (c, t) }
      val n = asc.size.toLong
      val s = asc.map(_._2).sum
      val si = asc.zipWithIndex.map { case ((_, c), i) => (i + 1).toLong * c }.sum
      (src, n, s, hdiv(1000000L * (2 * si - (n + 1) * s), n * s))
    }.toSet
    def run() = SparkEntry.queries("q163_token_gini")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = run()
    assert(got == expected)
    // Gini lives in [0, 1); 0 exactly iff all counts equal
    got.foreach { case (src, _, _, g) => assert(g >= 0 && g < 1000000, src) }
  }

  test("q164 continuation counts match an independent recomputation") {
    val bgs = docs.flatMap { case (_, text, _, _) =>
      val ws = rawWords(text)
      if (ws.length >= 2)
        ws.sliding(2).collect { case Array(a, b) if a.nonEmpty && b.nonEmpty => (a, b) }.toSeq
      else Seq.empty[(String, String)]
    }
    val pairCnt = bgs.groupBy(identity).map { case (bg, xs) => bg -> xs.size.toLong }
    val tTypes = pairCnt.size.toLong
    val leftCtx = pairCnt.keys.toSeq.groupBy(_._2).map { case (w, xs) => w -> xs.size.toLong }
    val asSecond = pairCnt.toSeq.groupBy(_._1._2).map { case (w, xs) => w -> xs.map(_._2).sum }
    val rightCtx = pairCnt.keys.toSeq.groupBy(_._1).map { case (w, xs) => w -> xs.size.toLong }
    val expected = (leftCtx.keySet ++ rightCtx.keySet).toSeq.map { tok =>
      val nl = leftCtx.getOrElse(tok, 0L)
      val nas = asSecond.getOrElse(tok, 0L)
      val nr = rightCtx.getOrElse(tok, 0L)
      (tok, nl, nr, nas, hdiv(1000000L * nl, tTypes),
        if (nl == 0) 0L else hdiv(100L * nas, nl))
    }.sortBy { case (tok, _, _, _, ce, _) => (-ce, tok) }.take(30)
    val got = SparkEntry.queries("q164_kn_continuation")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected)
    // continuation probability is a share of bigram TYPES; a token's
    // occurrence count as a second element is ≥ its context count (each
    // context contributes ≥ 1 occurrence) — the clump ratio's floor
    got.foreach { case (tok, nl, _, nas, ce, clump) =>
      assert(ce >= 0 && ce <= 1000000, tok)
      assert(nas >= nl, tok)
      assert(nl == 0 || clump >= 100, tok)
    }
  }

  test("q161 source JSD matches an independent recomputation inside its [0,1] bound") {
    val cnt = docs.groupBy(_._3).map { case (src, xs) =>
      src -> xs.flatMap(d => rawWords(d._2)).filter(_.nonEmpty)
        .groupBy(identity).map { case (t, ys) => t -> ys.size.toLong }
    }
    val top = cnt.values.flatten.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
      .toSeq.sortBy { case (t, c) => (-c, t) }.take(200).map(_._1).toSet
    val rc = cnt.map { case (s, m) => s -> m.filter(kv => top(kv._1)) }
    val n = rc.map { case (s, m) => s -> m.values.sum }
    val srcs = rc.keys.toSeq.sorted
    def log2(x: Double) = math.log(x) / math.log(2.0)
    val expected = (for {
      a <- srcs; b <- srcs if a < b
    } yield {
      val (ma, mb) = (rc(a), rc(b))
      val (na, nb) = (n(a), n(b))
      val shared = (ma.keySet & mb.keySet).toSeq
      val sharedE6 = shared.map { t =>
        val (ca, cb) = (ma(t), mb(t))
        val den = ca.toDouble * nb + cb.toDouble * na
        math.floor(ca.toDouble / na * log2(2.0 * ca * nb / den) * 500000 + 0.5).toLong +
          math.floor(cb.toDouble / nb * log2(2.0 * cb * na / den) * 500000 + 0.5).toLong
      }.sum
      val shA = shared.map(ma).sum
      val shB = shared.map(mb).sum
      (a, b, shared.size.toLong, na, nb,
        sharedE6 + hdiv(500000L * (na - shA), na) + hdiv(500000L * (nb - shB), nb))
    }).sortBy { case (a, b, _, _, _, j) => (-j, a, b) }.take(20)
    val got = SparkEntry.queries("q161_source_jsd")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSeq
    assert(got == expected)
    // JSD in bits lives in [0, 1]; same-generator synthetic sources sit
    // far from either end's degenerate cases
    got.foreach { case (a, b, ns, _, _, j) =>
      assert(j >= 0 && j <= 1000000 + ns, s"$a/$b")
    }
  }
  test("q167 Good-Turing tail mass matches an independent N_r recomputation") {
    val expected = srcCounts.map { case (src, cnt) =>
      val nTypes = cnt.size.toLong
      val nTokens = cnt.values.sum
      val n1 = cnt.values.count(_ == 1L).toLong
      val n2 = cnt.values.count(_ == 2L).toLong
      (src, nTypes, nTokens, n1, n2,
        hdiv(1000000L * n1, nTokens), hdiv(1000000L * n1, nTypes),
        if (n1 == 0) 0L else hdiv(10000L * 2 * n2, n1))
    }.toSet
    val got = SparkEntry.queries("q167_good_turing")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSet
    assert(got == expected)
    // Turing bounds: unseen mass and hapax share both live in [0, 1e6];
    // hapaxes never exceed types or tokens
    got.foreach { case (src, nt, ntok, n1, _, um, hs, _) =>
      assert(n1 <= nt && n1 <= ntok, src)
      assert(um >= 0 && um <= 1000000 && hs >= 0 && hs <= 1000000, src)
    }
  }

  test("q168 Heaps fit matches an independent vocabulary-growth recomputation") {
    val expected = docs.groupBy(_._3).flatMap { case (src, ds) =>
      // doc_id order; docs with zero non-empty tokens drop out (no rows
      // in the token stream), exactly as both engines' aggregations do
      val ordered = ds.sortBy(_._1)
        .map { case (id, text, _, _) => id -> rawWords(text).filter(_.nonEmpty) }
        .filter(_._2.nonEmpty)
      val seen = collection.mutable.Set[String]()
      var cumTok = 0L
      val pts = ordered.zipWithIndex.flatMap { case ((_, ws), idx) =>
        val r = idx + 1
        cumTok += ws.length
        ws.foreach(seen.add)
        val cumTypes = seen.size.toLong
        if (r >= 2 && (r & (r - 1)) == 0)
          Some((cumTok,
            cumTypes,
            math.floor(math.log(cumTok.toDouble) * 10000 + 0.5).toLong,
            math.floor(math.log(cumTypes.toDouble) * 10000 + 0.5).toLong))
        else None
      }
      if (pts.isEmpty) None
      else {
        val n = pts.size.toLong
        val sx = pts.map(_._3).sum
        val sy = pts.map(_._4).sum
        val sxy = pts.map(p => p._3 * p._4).sum
        val sxx = pts.map(p => p._3 * p._3).sum
        val num = n * sxy - sx * sy
        val den = n * sxx - sx * sx
        Some((src, n, pts.last._1, pts.last._2,
          if (den == 0) 0L else hdiv(10000L * num, den)))
      }
    }.toSet
    val got = SparkEntry.queries("q168_heaps_law")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    // Chebyshev: both series non-decreasing in rank, so beta >= 0; types
    // never outgrow tokens, so beta of a real corpus stays <= 1e4 + slack
    got.foreach { case (src, _, tok, typ, beta) =>
      assert(beta >= 0, src)
      assert(typ <= tok, src)
    }
  }

  test("q169 cluster spans are exactly q62's components joined to provenance") {
    val comp = SparkEntry.queries("q62_dup_clusters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bySrc = docs.map(d => d._1 -> d._3).toMap
    val langs = Tables(spark, sf).documents
      .select(col("doc_id"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val expected = comp.groupBy(_._2).map { case (_, members) =>
      val ids = members.map(_._1)
      (ids.map(bySrc).distinct.size.toLong, ids.map(langs).distinct.size.toLong,
        ids.size.toLong)
    }.groupBy { case (ns, nl, _) => (ns, nl) }
      .map { case ((ns, nl), xs) =>
        (ns, nl, xs.size.toLong, xs.map(_._3).sum, xs.map(_._3).max)
      }.toSet
    val got = SparkEntry.queries("q169_cluster_span")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    // spans conserve the component table; a cluster spans at least one
    // source and lang, never more sources than docs
    assert(got.toSeq.map(_._4).sum == comp.length.toLong)
    got.foreach { case (ns, nl, _, _, mx) =>
      assert(ns >= 1 && nl >= 1 && ns <= mx)
    }
  }

  test("q171 shingle reuse matches an independent distinct-membership recomputation") {
    val expected = docs.groupBy(_._3).map { case (src, ds) =>
      val perDoc = ds.map { case (_, text, _, _) =>
        val ws = rawWords(text)
        (0 until math.max(0, ws.length - 2))
          .map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").distinct
      }
      val df = perDoc.flatten.groupBy(identity).map { case (_, xs) => xs.size.toLong }
      val nTypes = df.size.toLong
      val nMem = df.sum
      val rTypes = df.count(_ > 1).toLong
      val rOcc = df.filter(_ > 1).sum
      (src, nTypes, nMem, rTypes, rOcc,
        hdiv(10000L * rTypes, nTypes), hdiv(10000L * rOcc, nMem))
    }.toSet
    val got = SparkEntry.queries("q171_shingle_reuse")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    assert(got == expected)
    // reused occurrences dominate reused types (each reused type occurs
    // at least twice); both ratios live in [0, 1e4]
    got.foreach { case (src, _, _, rt, ro, tr, or_) =>
      assert(ro >= 2 * rt, src)
      assert(tr >= 0 && tr <= 10000 && or_ >= 0 && or_ <= 10000, src)
    }
  }

  test("q172 transitivity matches an independent triangle count on both graphs") {
    def graphStats(edges: Set[(Long, Long)]): (Long, Long, Long, Long, Long) = {
      val deg = (edges.toSeq.map(_._1) ++ edges.toSeq.map(_._2))
        .groupBy(identity).map { case (_, xs) => xs.size.toLong }
      val wedges = deg.map(d => d * (d - 1) / 2).sum
      // inner generator must be a Seq: a Set-typed inner comprehension
      // would collapse the per-edge triangle multiplicity
      val tris = (for {
        (a, b) <- edges.toSeq
        (b2, c) <- edges.toSeq if b2 == b && edges.contains((a, c))
      } yield (a, b, c)).size.toLong
      (deg.size.toLong, edges.size.toLong, wedges, tris,
        if (wedges == 0) 0L else hdiv(10000L * 3 * tris, wedges))
    }
    val cand = SparkEntry.queries("q37_lsh_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ver = SparkEntry.queries("q38_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set(
      ("candidates" +: graphStats(cand).productIterator.toSeq).toList,
      ("verified" +: graphStats(ver).productIterator.toSeq).toList)
    val got = SparkEntry.queries("q172_dup_transitivity")(spark, sf).collect()
      .map(r => List[Any](r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
      .toSet
    assert(got == expected)
    // the verified graph is a subgraph of the candidate graph on every axis
    val byName = got.map(l => l.head -> l.tail).toMap
    (byName("verified"), byName("candidates")) match {
      case (v, c) =>
        assert(v(0).asInstanceOf[Long] <= c(0).asInstanceOf[Long])
        assert(v(1).asInstanceOf[Long] <= c(1).asInstanceOf[Long])
        assert(v(3).asInstanceOf[Long] <= c(3).asInstanceOf[Long])
    }
  }

  test("q212 assortativity matches an independent Newman recomputation") {
    def stats(edges: Set[(Long, Long)]): (Long, Long, Long, Long) = {
      val es = edges.toSeq
      val deg = (es.map(_._1) ++ es.map(_._2))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val mm = es.size.toLong
      val sjk = es.map { case (a, b) => deg(a) * deg(b) }.sum
      val sj = es.map { case (a, b) => deg(a) + deg(b) }.sum
      val s2 = es.map { case (a, b) => deg(a) * deg(a) + deg(b) * deg(b) }.sum
      val num = 4 * mm * sjk - sj * sj
      val den = 2 * mm * s2 - sj * sj
      val r =
        if (den == 0L) 0L
        else if (num >= 0L) hdivC(1000000L * num, den)
        else -hdivC(1000000L * (-num), den)
      (deg.size.toLong, mm, deg.values.max, r)
    }
    val cand = SparkEntry.queries("q37_lsh_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ver = SparkEntry.queries("q38_ngram_jaccard")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set(
      ("candidates" +: stats(cand).productIterator.toSeq).toList,
      ("verified" +: stats(ver).productIterator.toSeq).toList)
    def run() = SparkEntry.queries("q212_assortativity")(spark, sf).collect()
      .map(r => List[Any](r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    val got = run()
    assert(got == expected)
    // r is a correlation coefficient in [-1, 1] (e6 units)
    got.foreach { l =>
      val r = l(4).asInstanceOf[Long]
      assert(r >= -1000000L && r <= 1000000L, l.head)
    }
  }

  test("q177 top prefixes match an independent per-source count") {
    val expected = docs.groupBy(_._3).flatMap { case (src, ds) =>
      val prefixes = ds.map { case (_, text, _, _) =>
        rawWords(text).take(5).mkString(" ")
      }
      val counts = prefixes.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      val total = ds.size.toLong
      counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(3).zipWithIndex.map {
        case ((p, n), idx) =>
          (src, (idx + 1).toLong, p, n, hdiv(10000L * n, total))
      }
    }.toSet
    val got = SparkEntry.queries("q177_top_prefixes")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    // rank-1 coverage bounds every later rank's
    val byKey = got.groupBy(_._1)
    byKey.values.foreach { rs =>
      val sorted = rs.toSeq.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._4 >= b._4, a._1)
        case _         =>
      }
    }
  }

  test("q179 char classes match an independent per-source count") {
    val expected = docs.groupBy(_._3).map { case (src, ds) =>
      val texts = ds.map(_._2)
      val nChars = texts.map(_.length.toLong).sum
      val nAlpha = texts.map(_.count(_.isLetter).toLong).sum
      val nDigit = texts.map(_.count(_.isDigit).toLong).sum
      val nSpace = texts.map(_.count(_ == ' ').toLong).sum
      (src, ds.size.toLong, nChars,
        hdiv(10000L * nAlpha, nChars), hdiv(10000L * nDigit, nChars),
        hdiv(10000L * nSpace, nChars),
        hdiv(10000L * (nChars - nAlpha - nDigit - nSpace), nChars),
        hdiv(100L * nChars, ds.size.toLong))
    }.toSet
    val got = SparkEntry.queries("q179_char_classes")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
      .toSet
    assert(got == expected)
    // the four shares partition the character mass (rounding slack ≤ 2)
    got.foreach { case (src, _, _, a, d, sp, o, _) =>
      assert(math.abs(a + d + sp + o - 10000L) <= 2, src)
    }
  }

  test("q180 occupancy is exactly q36's signature table re-bucketed") {
    val sigRows = SparkEntry.queries("q36_minhash_sigs")(spark, sf).collect()
    val nBands = sigRows.head.length - 1
    // per band, the multiset of bucket sizes
    val sizes = sigRows.flatMap { r =>
      (0 until nBands).map(b => (b.toLong, r.getLong(b + 1)))
    }.groupBy(identity).toSeq.map { case ((band, _), xs) => band -> xs.size.toLong }
      .groupBy(_._1).map { case (band, bs) => band -> bs.map(_._2) }
    val expected = sizes.map { case (band, bs) =>
      val nb = bs.size.toLong
      (band, nb, bs.sum, bs.max,
        bs.map(b => b * (b - 1) / 2).sum, bs.count(_ == 1L).toLong,
        hdiv(10000L * bs.count(_ == 1L), nb))
    }.toSet
    val got = SparkEntry.queries("q180_lsh_occupancy")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSet
    assert(got == expected)
    // every band sees every doc exactly once, and the predicted pair
    // volume bounds q37's observed candidate pairs from above per band
    val nDocs = sigRows.length.toLong
    got.foreach { case (band, _, total, _, _, _, _) =>
      assert(total == nDocs, s"band $band")
    }
    val observedPairs = SparkEntry.queries("q37_lsh_pairs")(spark, sf).count()
    assert(got.toSeq.map(_._5).sum >= observedPairs)
  }

  test("q183 dedup byte accounting matches q79's decisions re-weighted by chars") {
    val comp = SparkEntry.queries("q62_dup_clusters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keeper = docs.groupBy(d => md5hex(d._2)).values
      .flatMap { grp => val k = grp.map(_._1).min; grp.map(d => d._1 -> k) }.toMap
    val expected = docs.groupBy(_._3).map { case (src, ds) =>
      val total = ds.map(_._4).sum
      val exact = ds.filter(d => keeper(d._1) != d._1).map(_._4).sum
      val near = ds.filter { d =>
        keeper(d._1) == d._1 && comp.get(d._1).exists(_ != d._1)
      }.map(_._4).sum
      (src, total, exact, near, hdiv(10000L * (exact + near), total))
    }.toSet
    val got = SparkEntry.queries("q183_dedup_bytes")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    // reclaim never exceeds the source's bytes
    got.foreach { case (src, tot, e, n, _) => assert(e + n <= tot, src) }
  }

  test("q185 MATTR matches an independent sliding-window recomputation") {
    val expected = docs.groupBy(_._3).flatMap { case (src, ds) =>
      val perDoc = ds.flatMap { case (_, text, _, _) =>
        val ws = rawWords(text)
        if (ws.length < 25) None
        else {
          val nw = (ws.length - 24).toLong
          val sd = (0 until ws.length - 24)
            .map(i => ws.slice(i, i + 25).distinct.length.toLong).sum
          Some((nw, hdiv(10000L * sd, 25L * nw)))
        }
      }
      if (perDoc.isEmpty) None
      else Some((src, perDoc.size.toLong, perDoc.map(_._1).sum,
        hdiv(perDoc.map(_._2).sum, perDoc.size.toLong)))
    }.toSet
    val got = SparkEntry.queries("q185_mattr")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    // a width-25 window holds at most 25 types: MATTR lives in (0, 1e4]
    got.foreach { case (src, _, _, m) => assert(m > 0 && m <= 10000, src) }
  }

  test("q186 length tail matches an independent OLS recomputation") {
    val expected = docs.groupBy(_._3).map { case (src, ds) =>
      val top = ds.sortBy(d => (-d._4, d._1)).take(100).zipWithIndex
      val pts = top.map { case (d, i) =>
        (math.floor(math.log((i + 1).toDouble) * 10000 + 0.5).toLong,
          math.floor(math.log(d._4.toDouble) * 10000 + 0.5).toLong)
      }
      val n = pts.size.toLong
      val sx = pts.map(_._1).sum
      val sy = pts.map(_._2).sum
      val sxy = pts.map(p => p._1 * p._2).sum
      val sxx = pts.map(p => p._1 * p._1).sum
      val num = sx * sy - n * sxy
      val den = n * sxx - sx * sx
      (src, n, ds.map(_._4).max, if (den == 0) 0L else hdiv(10000L * num, den))
    }.toSet
    val got = SparkEntry.queries("q186_length_tail")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    got.foreach { case (src, _, _, m) => assert(m >= 0, src) }
  }

  test("q187 window-K sweep matches an independent recomputation, flagged docs monotone") {
    def winStats(k: Int) = {
      val pos = docs.flatMap { case (id, text, _, _) =>
        val ws = rawWords(text)
        if (ws.length < k) Nil
        else (0 to ws.length - k).map(i => (id, ws.slice(i, i + k).mkString(" ")))
      }
      val occ = pos.groupBy(_._2).map { case (w, xs) => w -> xs.size }
      val dupPos = pos.filter(p => occ(p._2) > 1)
      (pos.size.toLong, dupPos.size.toLong,
        dupPos.map(_._1).toSet,
        hdiv(10000L * dupPos.size, pos.size.toLong))
    }
    val ks = Seq(4, 8, 16)
    val stats = ks.map(k => k.toLong -> winStats(k)).toMap
    val expected = stats.map { case (k, (nw, nd, ds, share)) =>
      (k, nw, nd, ds.size.toLong, share)
    }.toSet
    val got = SparkEntry.queries("q187_window_k_sweep")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == expected)
    // any repeated 2K-window contains repeated K-windows: the flagged doc
    // SET is monotone shrinking in K (the q113 containment, swept)
    assert(stats(16L)._3.subsetOf(stats(8L)._3))
    assert(stats(8L)._3.subsetOf(stats(4L)._3))
  }

  test("q188 copy matrix is exactly q62's components under the keep-min origin rule") {
    val comp = SparkEntry.queries("q62_dup_clusters")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bySrc = docs.map(d => d._1 -> d._3).toMap
    val expected = comp.filter { case (id, cid) => id != cid }
      .map { case (id, cid) => (bySrc(cid), bySrc(id), cid) }
      .groupBy { case (from, to, _) => (from, to) }
      .map { case ((from, to), xs) =>
        (from, to, xs.length.toLong, xs.map(_._3).distinct.length.toLong)
      }.toSet
    val got = SparkEntry.queries("q188_copy_matrix")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == expected)
    // copies conserve the non-origin member count
    assert(got.toSeq.map(_._3).sum == comp.count { case (id, cid) => id != cid }.toLong)
  }

}
