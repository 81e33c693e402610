package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared LSH pair-statistics artifact (`graft.lsh.cache`): the
  * q37/q38/q86/q116/q117/q127/q129 family riding one persisted candidate
  * relation instead of re-deriving the signature explode + band self-join
  * + shingle fetches per query — proven output-identical, query by query.
  */
class PairCacheSpec extends AnyFunSuite {
  import SparkTestSession._

  private val family = Seq(
    "q37_lsh_pairs", "q38_ngram_jaccard", "q86_minhash_estimate",
    "q116_lsh_tuning", "q117_dedup_sweep", "q127_containment",
    "q129_edit_verify", "q62_dup_clusters", "q79_dedup_report",
    "q147_cluster_sizes",
    // the shared (source, shingle) membership relation (q92/q95 — r14)
    "q92_source_overlap", "q95_overlap_sketch",
    // r15: q169/q172 join the component/pair families; q170/q174 ride the
    // embeddings-side cellTop2 relation (same conf, Similarity-owned)
    "q169_cluster_span", "q172_dup_transitivity", "q188_copy_matrix",
    "q170_ann_margin", "q174_intrinsic_dim",
    // r16: q195 rides the session components relation; q203/q210 the
    // shared cdcChunks chunk relation
    "q195_dedup_saturation", "q203_cdc_chunks", "q210_chunk_league",
    // r16 wave 9: q212 reads pairStats for both of its edge sets
    "q212_assortativity",
    // r16 wave 11: q154/q215 share the within-cell kNN edge relation
    "q154_knn_reciprocity", "q215_knn_hubness")

  test("every pair-family query is identical with the session pair cache on") {
    val derived = family.map(q =>
      q -> SparkEntry.queries(q)(spark, sf).collect().toSeq).toMap
    derived.foreach { case (q, r) => assert(r.nonEmpty, s"$q derived run empty") }
    spark.conf.set("graft.lsh.cache", "true")
    try family.foreach { q =>
      val cached = SparkEntry.queries(q)(spark, sf).collect().toSeq
      assert(cached == derived(q), s"$q diverges with graft.lsh.cache=true")
    } finally {
      spark.conf.unset("graft.lsh.cache")
      // persist() registers the plan in the session CacheManager — drop it
      // so later suites' derived-plan pins don't silently read the cache
      graft.operators.SessionCache.clear()
    }
  }
}
