package graft

import graft.sources.FreqStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The FreqStore family extensions (Bigram, WindowSrc, WindowDoc) and
  * their consumer wiring: q77/q97/q139 reading a Bigram store
  * (`graft.bigram.store`), the q120/q143/q146 leakage family probing a
  * train-slice WindowSrc store (`graft.leak.store`), q122 reading a
  * corpus-wide window store, and q113 reading the finer WindowDoc
  * relation (`graft.win.store`, either family) — each proven
  * output-identical to its derived run, plus the frozen-train
  * projection bootstrap (`initWinSrcProjection` ≡ from-docs build,
  * before AND after a maintenance append), batched ≡ one-shot builds
  * for both window families, and the loud K-mismatch and
  * family-mismatch failures (the band-family rule).
  */
class LeakStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_leakstore").toString

  private def docs = Tables(spark, sf).documents
    .select(col("doc_id"), col("source"), col("text"))

  // q103/q120's engine-stable split bucket (the first 8 md5 hex chars as
  // an integer) — conv() renders the same value hexint32 hand-rolls
  private val bucket =
    expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")

  private def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect().toSeq

  test("store-backed q120/q143/q146 equal derived (train-slice WindowSrc store)") {
    val dir = tmp()
    val st = FreqStore.init(spark, dir, docs.filter(bucket < 90), FreqStore.WindowSrc(8))
    assert(st.kind == "base" && st.family == "winsrc:8" && st.totalDocs > 0)
    val qs = Seq("q120_split_leakage", "q143_leakage_by_source", "q146_leak_severity")
    val derived = qs.map(q => q -> rows(q)).toMap
    derived.foreach { case (q, r) => assert(r.nonEmpty, s"$q derived run empty") }
    spark.conf.set("graft.leak.store", dir)
    try qs.foreach { q =>
      assert(rows(q) == derived(q), s"$q diverges when probing the stored train windows")
    } finally spark.conf.unset("graft.leak.store")
  }

  test("train-slice store maintained in batches equals the one-shot build") {
    val (incr, oneshot) = (tmp(), tmp())
    val train = docs.filter(bucket < 90)
    val ids = train.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, b1) = ids.splitAt(ids.length / 2)
    FreqStore.init(spark, incr, train.filter(col("doc_id").isin(b0: _*)), FreqStore.WindowSrc(8))
    FreqStore.append(spark, incr, train.filter(col("doc_id").isin(b1: _*)))
    FreqStore.init(spark, oneshot, train, FreqStore.WindowSrc(8))
    def view(d: String) = FreqStore.counts(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(view(incr) == view(oneshot), "batched WindowSrc store diverges from one-shot")
    assert(FreqStore.totalDocs(spark, incr) == FreqStore.totalDocs(spark, oneshot),
      "doc totals diverge between batched and one-shot builds")
  }

  test("store-backed q122 equals derived (corpus-wide WindowSrc store)") {
    val dir = tmp()
    FreqStore.init(spark, dir, docs, FreqStore.WindowSrc(8))
    val derived = rows("q122_window_novelty")
    assert(derived.nonEmpty)
    spark.conf.set("graft.win.store", dir)
    try assert(rows("q122_window_novelty") == derived,
      "q122 diverges when reading the stored corpus windows")
    finally spark.conf.unset("graft.win.store")
  }

  test("store-backed q122's plan reads ZERO corpus — only the store") {
    val dir = tmp()
    FreqStore.init(spark, dir, docs, FreqStore.WindowSrc(8))
    spark.conf.set("graft.win.store", dir)
    try {
      val plan = SparkEntry.queries("q122_window_novelty")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        "store-backed q122 still scans the corpus — the whole point is a window-vocabulary-scale read")
      assert(plan.contains(dir.split('/').last) || plan.contains("v=1"),
        s"plan doesn't show the store scan:\n$plan")
    } finally spark.conf.unset("graft.win.store")
  }

  test("store-backed q77/q97/q139/q151/q159/q164 equal derived (Bigram store)") {
    val dir = tmp()
    val st = FreqStore.init(spark, dir, docs, FreqStore.Bigram)
    assert(st.family == "bigram")
    val qs = Seq("q77_bigram_lm", "q97_rare_bigrams", "q139_pmi", "q151_lm_ppl_bins",
      "q159_context_entropy", "q164_kn_continuation")
    val derived = qs.map(q => q -> rows(q)).toMap
    spark.conf.set("graft.bigram.store", dir)
    try qs.foreach { q =>
      assert(rows(q) == derived(q), s"$q diverges when reading the stored pair table")
    } finally spark.conf.unset("graft.bigram.store")
  }

  test("store-backed q164's plan reads ZERO corpus — only the store") {
    val dir = tmp()
    FreqStore.init(spark, dir, docs, FreqStore.Bigram)
    spark.conf.set("graft.bigram.store", dir)
    try {
      val plan = SparkEntry.queries("q164_kn_continuation")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        "store-backed q164 still scans the corpus — the pair table IS its whole input")
    } finally spark.conf.unset("graft.bigram.store")
  }

  test("window-K mismatch fails loudly instead of probing a foreign window family") {
    val dir = tmp()
    FreqStore.init(spark, dir, docs.filter(bucket < 90), FreqStore.WindowSrc(8))
    spark.conf.set("graft.leak.store", dir)
    spark.conf.set("graft.dedup.windowTokens", "5")
    try {
      val e = intercept[IllegalArgumentException](rows("q120_split_leakage"))
      assert(e.getMessage.contains("rebuild"))
    } finally {
      spark.conf.unset("graft.leak.store")
      spark.conf.unset("graft.dedup.windowTokens")
    }
  }

  test("family mismatches fail loudly instead of serving a foreign table") {
    val dir = tmp()
    FreqStore.init(spark, dir, docs, FreqStore.Bigram)
    spark.conf.set("graft.leak.store", dir)
    try {
      val e = intercept[IllegalArgumentException](rows("q120_split_leakage"))
      assert(e.getMessage.contains("rebuild"))
    } finally spark.conf.unset("graft.leak.store")
    // a unigram consumer pointed at a bigram store refuses too
    val e2 = intercept[IllegalArgumentException](FreqStore.frequencies(spark, dir))
    assert(e2.getMessage.contains("wrong store"))
  }

  test("WindowDoc-backed q113 and q122 equal derived; q113 plan reads zero corpus") {
    val dir = tmp()
    // built in TWO batches so the store serves a real base+delta CHAIN:
    // q113's raw-chain read (no merge shuffle) must stay exact when a
    // window's occurrences span versions
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, b1) = ids.splitAt(ids.length / 2)
    val st0 = FreqStore.init(
      spark, dir, docs.filter(col("doc_id").isin(b0: _*)), FreqStore.WindowDoc(8))
    assert(st0.family == "windoc:8")
    val st = FreqStore.append(spark, dir, docs.filter(col("doc_id").isin(b1: _*)))
    assert(st.version == 2L && st.totalDocs > 0)
    val derived113 = rows("q113_substring_windows")
    val derived122 = rows("q122_window_novelty")
    assert(derived113.nonEmpty && derived122.nonEmpty)
    spark.conf.set("graft.win.store", dir)
    try {
      assert(rows("q113_substring_windows") == derived113,
        "q113 diverges when reading the stored per-doc window relation")
      assert(rows("q122_window_novelty") == derived122,
        "q122 diverges when rolling up the WindowDoc store")
      val plan = SparkEntry.queries("q113_substring_windows")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("documents.parquet"),
        "store-backed q113 still scans the corpus")
      // q113 reads the RAW chain rows (its aggregates are additive /
      // distinct-based) — the per-(wh, source, doc) merge shuffle must
      // not appear AT ALL: the plan consumes the relation in two
      // branches, and the merge would run once per branch (the join
      // side's null filter defeats AQE exchange reuse)
      val mergeExchanges = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning(wh") &&
          l.contains("source") && l.contains("doc_id"))
      assert(mergeExchanges == 0,
        s"q113's store path pays $mergeExchanges chain-merge shuffle(s):\n$plan")
    } finally spark.conf.unset("graft.win.store")
  }

  test("frozen-train WindowSrc projection from WindowDoc equals the from-docs build") {
    val (windocDir, projDir, fromDocsDir) = (tmp(), tmp(), tmp())
    FreqStore.init(spark, windocDir, docs, FreqStore.WindowDoc(8))
    val pj = FreqStore.initWinSrcProjection(
      spark, projDir, windocDir, graft.operators.Dedup.leakTrainSlice)
    val fd = FreqStore.init(
      spark, fromDocsDir, graft.operators.Dedup.leakTrainSlice(docs),
      FreqStore.WindowSrc(8))
    assert(pj.family == "winsrc:8")
    def view(d: String) = FreqStore.counts(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(view(projDir) == view(fromDocsDir),
      "projected train rollup diverges from the from-docs WindowSrc build")
    assert(pj.totalDocs == fd.totalDocs,
      s"projected nd ${pj.totalDocs} != from-docs nd ${fd.totalDocs} (q146 n_train)")
    // the leakage family reads it exactly like a from-docs store
    val derived = Seq("q120_split_leakage", "q146_leak_severity")
      .map(q => q -> rows(q)).toMap
    spark.conf.set("graft.leak.store", projDir)
    try derived.foreach { case (q, r) =>
      assert(rows(q) == r, s"$q diverges on the projected train store")
    } finally spark.conf.unset("graft.leak.store")
    // the projection stays maintainable AFTER bootstrap: the SAME sliced
    // batch appended to both stores keeps them identical (ingest
    // maintenance composes with a projection bootstrap — the production
    // shape; runs LAST because the extra counts intentionally change the
    // view the store≡derived comparison above pinned)
    // pinned by id, not limit(): an unordered limit can pick DIFFERENT
    // rows on its two executions (one per append) once the slice spans
    // several partitions — the stores would diverge flakily
    val batchIds = graft.operators.Dedup.leakTrainSlice(docs)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.take(40)
    val batch = docs.filter(col("doc_id").isin(batchIds: _*))
    FreqStore.append(spark, projDir, batch)
    FreqStore.append(spark, fromDocsDir, batch)
    assert(view(projDir) == view(fromDocsDir),
      "projected store diverges from the from-docs build after a maintenance append")
    assert(FreqStore.totalDocs(spark, projDir) == FreqStore.totalDocs(spark, fromDocsDir),
      "doc totals diverge after a maintenance append")
  }

  test("WindowDoc store maintained in batches equals the one-shot build") {
    val (incr, oneshot) = (tmp(), tmp())
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, b1) = ids.splitAt(ids.length / 2)
    FreqStore.init(
      spark, incr, docs.filter(col("doc_id").isin(b0: _*)), FreqStore.WindowDoc(8))
    FreqStore.append(spark, incr, docs.filter(col("doc_id").isin(b1: _*)))
    FreqStore.init(spark, oneshot, docs, FreqStore.WindowDoc(8))
    def view(d: String) = FreqStore.counts(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(view(incr) == view(oneshot), "batched WindowDoc store diverges from one-shot")
    assert(FreqStore.totalDocs(spark, incr) == FreqStore.totalDocs(spark, oneshot),
      "doc totals diverge between batched and one-shot WindowDoc builds")
  }

  test("session-cached store views: q139's four branches read ONE materialized merge") {
    val dir = tmp()
    FreqStore.init(spark, dir, docs, FreqStore.Bigram)
    val derived = rows("q139_pmi") // no store, no cache — the oracle's path
    spark.conf.set("graft.bigram.store", dir)
    spark.conf.set("graft.lsh.cache", "true")
    try {
      assert(rows("q139_pmi") == derived,
        "q139 diverges under the session-cached store view")
      val plan = SparkEntry.queries("q139_pmi")(spark, sf)
        .queryExecution.executedPlan.toString
      // all four pair-table consumptions must read the persisted merge —
      // without the session cache each branch pays its own vocab-scale
      // chain-merge shuffle (subtree differences defeat AQE reuse)
      assert(plan.contains("InMemoryTableScan"),
        s"store view not materialized — branches re-merge per consumption:\n$plan")
    } finally {
      spark.conf.unset("graft.bigram.store")
      spark.conf.unset("graft.lsh.cache")
      graft.operators.SessionCache.clear()
    }
  }

  test("a WindowSrc store cannot source a projection — loud, not a wrong rollup") {
    val (srcDir, projDir) = (tmp(), tmp())
    FreqStore.init(spark, srcDir, docs.limit(30), FreqStore.WindowSrc(8))
    val e = intercept[IllegalArgumentException](
      FreqStore.initWinSrcProjection(spark, projDir, srcDir))
    assert(e.getMessage.contains("not windoc"), s"unexpected: ${e.getMessage}")
  }
}
