package graft

import org.scalatest.funsuite.AnyFunSuite

/** The provisioned store set (graft.StoreSet, which BuildStores, Bench and
  * PlanAudit `stores` mode all call) and the fully provisioned session: all
  * nine store confs set AT ONCE, every store-backed consumer still
  * output-identical to its derived run — the stores must compose, not just
  * work one at a time.
  */
class BuildStoresSpec extends AnyFunSuite {
  import SparkTestSession._

  test("a fully provisioned session: every store-backed consumer equals derived") {
    val out = java.nio.file.Files.createTempDirectory("graft_provision").toString
    val built = StoreSet.provision(spark, sf, out)
    assert(built.map(_.conf).toSet == Set(
      "graft.delta.index", "graft.freq.store", "graft.bigram.store", "graft.win.store",
      "graft.leak.store", "graft.ivf.index", "graft.hll.store", "graft.kll.store",
      "graft.catalog.store"))
    val t = Tables(spark, sf)

    val consumers = Seq(
      "q121_token_rarity", "q130_cms_calibration", "q136_vocab_coverage", // unigram
      "q77_bigram_lm", "q97_rare_bigrams", "q139_pmi", "q151_lm_ppl_bins",
      "q159_context_entropy", "q164_kn_continuation",                     // bigram
      "q120_split_leakage", "q143_leakage_by_source", "q146_leak_severity", // leak
      "q122_window_novelty", "q113_substring_windows",                    // windoc
      "q107_delta_dedup",                                                 // dedup index
      "q74_ivf_multiprobe",                                               // ivf index
      "q252_hll_rollup",                                                  // hll
      "q255_kll_quantiles",                                               // kll
      "q68_dataset_upsert")                                               // catalog
    val derived = consumers.map(q =>
      q -> SparkEntry.queries(q)(spark, sf).collect().toSeq).toMap
    built.foreach(s => spark.conf.set(s.conf, s.path))
    // the session pair/component cache composes with the stores (the
    // Bench session runs with ALL of these on at once)
    spark.conf.set("graft.lsh.cache", "true")
    // the priced view-prime must build every configured store view
    assert(graft.operators.Dedup.primeStoreViews(t) > 0L,
      "primeStoreViews materialized nothing in a fully provisioned session")
    try {
      consumers.foreach { q =>
        assert(SparkEntry.queries(q)(spark, sf).collect().toSeq == derived(q),
          s"$q diverges in the fully provisioned session")
      }
      // Bench's prime sequence persists every session artifact; the one
      // clear() must leave nothing in Spark's CacheManager, where a
      // conf-off run would still find it
      graft.operators.Dedup.primePairCache(t)
      graft.operators.Similarity.primeCellTop2(t)
      graft.operators.Similarity.primeKnnEdges(t)
      graft.operators.Dedup.primeLeakEval(t)
      graft.operators.Dedup.primeStoreViews(t)
      assert(!spark.sharedState.cacheManager.isEmpty, "the prime sequence cached nothing")
      graft.operators.SessionCache.clear()
      assert(spark.sharedState.cacheManager.isEmpty,
        "SessionCache.clear() left a persisted plan in the CacheManager")
    } finally {
      built.foreach(s => spark.conf.unset(s.conf))
      spark.conf.unset("graft.lsh.cache")
      graft.operators.SessionCache.clear()
    }
  }
}
