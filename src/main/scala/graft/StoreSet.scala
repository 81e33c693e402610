package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.operators.{CatalogOps, Dedup, Similarity}
import graft.sources.{CatalogStore, DedupIndex, FreqStore, HllStore, IvfIndex, KllStore}

/** The provisioned store set: every persistent store the query library can
  * probe, built from scratch under one directory — the one list Bench's
  * prep, BuildStores and PlanAudit `stores` mode share, so the bench times
  * the store-backed plans the audit checks.
  *
  * Artifacts (each an LSM/CAS store under `<out>/<name>`, see SURVEY.md;
  * the session conf that points consumers at it in parens):
  *   - `dedup`   — sources.DedupIndex: content hashes + minhash bands +
  *                 window hashes of the CURATED BASE — the corpus minus
  *                 the `incoming` source pattern (default `src1%`,
  *                 `graft.delta.incoming`'s default), because the index's
  *                 contract is that arriving batches are NOT yet in it
  *                 (`graft.delta.index`; q107 probes it, q181 calibrates
  *                 its Bloom front against it, Dedup.deltaSubstring).
  *                 Pass an unmatchable pattern to index everything.
  *   - `freq`    — FreqStore Unigram (`graft.freq.store`;
  *                 q121/q130/q136).
  *   - `bigram`  — FreqStore Bigram (`graft.bigram.store`;
  *                 q77/q97/q139).
  *   - `windoc`  — FreqStore WindowDoc over the corpus
  *                 (`graft.win.store`; q113 reads it directly, q122
  *                 through the (wh, source) group-size rollup).
  *   - `leak`    — FreqStore WindowSrc over the frozen train slice
  *                 (`graft.leak.store`; q120/q143/q146), PROJECTED from
  *                 `windoc` (leakTrainSlice is a pure doc_id predicate)
  *                 so provisioning explodes the corpus windows once,
  *                 not twice.
  *   - `ivf`     — sources.IvfIndex from the corpus identity quantizer
  *                 (`graft.ivf.index`; q74).
  *   - `hll`     — sources.HllStore: per-day mergeable HLL distinct-user
  *                 sketches (`graft.hll.store`; q252 answers week windows
  *                 by register-max union of the stored days).
  *   - `kll`     — sources.KllStore: per-day mergeable quantile sketches
  *                 (`graft.kll.store`; q255 answers week-window p50/p95 by
  *                 merging the stored days).
  *   - `catalog` — sources.CatalogStore: the published dataset catalog
  *                 (`graft.catalog.store`; q68's base loads the v=1
  *                 snapshot through the DSv2 time-travel read).
  */
object StoreSet {

  /** One built store: its directory name, the session conf that points
    * consumers at it, its path, and its version-1 stats as JSON members.
    */
  final case class Built(name: String, conf: String, path: String, stats: String) {
    def json: String = s"""{"store":"$name",$stats}"""
  }

  /** Builds all nine stores under `out` (each must not exist yet: this is
    * a bootstrap, not a sync — incremental maintenance is the stores'
    * `append`) and returns them in build order. Sets no conf.
    */
  def provision(
      spark: SparkSession, sfDir: String, out: String,
      bands: Int = 8, windowK: Int = 8, incoming: String = "src1%"): Seq[Built] = {
    val t = Tables(spark, sfDir)
    val docs = t.documents
      .select(col("doc_id"), col("source"), col("text"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def store(name: String, conf: String)(build: String => String): Built = {
      val path = s"$out/$name"
      Built(name, conf, path, build(path))
    }
    def freq(s: FreqStore.Stats): String =
      s""""family":"${s.family}","version":${s.version},""" +
        s""""rows":${s.newVocab},"n":${s.totalTokens},"docs":${s.totalDocs}"""
    // Seq's arguments build in order: `leak` projects the `windoc` before it
    try Seq(
      store("dedup", "graft.delta.index") { p =>
        val d = DedupIndex.init(spark, p, docs.filter(!col("source").like(incoming)),
          bands = bands, windowK = windowK)
        s""""version":${d.version},"hashes":${d.totalHashes},""" +
          s""""sigs":${d.totalSigs},"windows":${d.totalWindows}"""
      },
      store("freq", "graft.freq.store")(p => freq(FreqStore.init(spark, p, docs))),
      store("bigram", "graft.bigram.store")(p =>
        freq(FreqStore.init(spark, p, docs, FreqStore.Bigram))),
      store("windoc", "graft.win.store")(p =>
        freq(FreqStore.init(spark, p, docs, FreqStore.WindowDoc(windowK)))),
      store("leak", "graft.leak.store")(p =>
        freq(FreqStore.initWinSrcProjection(spark, p, s"$out/windoc", Dedup.leakTrainSlice))),
      store("ivf", "graft.ivf.index") { p =>
        val (assign, centroids) = Similarity.corpusQuantizer(t)
        val iv = IvfIndex.init(spark, p, assign, centroids)
        s""""version":${iv.version},"k":${iv.k},"assigned":${iv.totalAssigned}"""
      },
      store("hll", "graft.hll.store") { p =>
        val h = HllStore.init(spark, p, t.events, corpus = sfDir)
        s""""version":${h.version},"days":${h.totalDays}"""
      },
      store("kll", "graft.kll.store") { p =>
        val k = KllStore.init(spark, p, t.events, corpus = sfDir)
        s""""version":${k.version},"days":${k.totalDays}"""
      },
      store("catalog", "graft.catalog.store")(p =>
        s""""version":${CatalogStore.init(spark, p, CatalogOps.catalogBase(t))}"""))
    finally docs.unpersist()
  }
}
