package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

private[sources] final case class DedupMeta(
    kind: String, bands: Int, wk: Int, nh: Long, ns: Long, nw: Long,
    override val tag: Option[String]) extends VersionMeta {
  def counts: Seq[Long] = Seq(nh, ns, nw)
}

/** Persistent incremental dedup index — the precomputed artifacts
  * q107_delta_dedup and Dedup.deltaSubstring assume a real lake keeps
  * next to the corpus: the distinct content-hash SET, the distinct
  * minhash (band, sig) index, and the distinct K-token window-hash set
  * (q113's substring kernel) of the curated base. With the index stored,
  * a delta run derives NOTHING from the base — its cost is
  * ∝ |arriving batch| plus an index read, at any base size.
  *
  * Storage is LSM-shaped, because that is what incremental maintenance
  * means at 100 TB: each committed version holds only its NEW entries
  * (a delta — appends anti-join the current view, so the union of
  * committed versions is distinct by construction), reads union the
  * last base with every later delta, and `compact` folds the chain back
  * into one base version. The chain mechanics (publish through the
  * shared CAS protocol, marker cache, repair, gc, compaction guard) are
  * the [[VersionedStore]] core's; the band count is pinned in the v=1
  * marker so an append can never silently mix signature families
  * (`graft.lsh.bands` changing requires a rebuild, loudly).
  *
  * Reference anchor: geostore keeps per-file checksums as import-time
  * metadata (`check_files_checksums`) rather than re-hashing the lake
  * per batch — this is that discipline applied to content dedup.
  */
object DedupIndex extends VersionedStore[DedupMeta]("dedup index", "index update") {

  final case class IndexStats(
      version: Long, kind: String, bands: Int, windowK: Int,
      newHashes: Long, newSigs: Long, newWindows: Long,
      totalHashes: Long, totalSigs: Long, totalWindows: Long)

  type Stats = IndexStats

  private val MarkerRe =
    ("""\{"kind":"(base|delta)","bands":(\d+),"wk":(\d+),"nh":(\d+),"ns":(\d+),"nw":(\d+)""" +
      """(?:,"tag":"([^"]*)")?\}""").r

  protected def parseMarker(body: String): Option[DedupMeta] = body.trim match {
    case MarkerRe(kind, bands, wk, nh, ns, nw, tag) =>
      Some(DedupMeta(kind, bands.toInt, wk.toInt, nh.toLong, ns.toLong, nw.toLong, Option(tag)))
    case _ => None
  }

  protected def statsOf(v: Long, m: DedupMeta, t: Seq[Long]): IndexStats =
    IndexStats(v, m.kind, m.bands, m.wk, m.nh, m.ns, m.nw, t(0), t(1), t(2))

  /** The band count this store was built at (pinned at init). */
  def storeBands(spark: SparkSession, dir: String): Int = firstMeta(spark, dir).bands

  /** The window token count K this store was built at (pinned at init). */
  def storeWindowK(spark: SparkSession, dir: String): Int = firstMeta(spark, dir).wk

  /** Distinct content hashes, (band, sig) signature rows, and K-token
    * window hashes of a corpus frame — the exact fragments
    * q107/deltaSubstring derive in-query when no stored index exists.
    */
  private def derive(docs: DataFrame, bands: Int, wk: Int): (DataFrame, DataFrame, DataFrame) = {
    val hashes = docs.select(md5(col("text")).as("h")).distinct()
    val sigs = docs
      .select(posexplode(
        graft.functions.GraftFunctions.minhash_sigs(col("text"), bands))
        .as(Seq("band", "sig")))
      .distinct()
    val windows = docs
      .select(explode(graft.operators.Dedup.windowHashes(wk)).as("wh"))
      .distinct()
    (hashes, sigs, windows)
  }

  /** The current distinct content-hash view (column `h`). */
  def hashes(spark: SparkSession, dir: String): DataFrame = chainRead(spark, dir, "hashes")

  /** The current distinct (band, sig) view. */
  def sigs(spark: SparkSession, dir: String): DataFrame = chainRead(spark, dir, "sigs")

  /** The current distinct K-token window-hash view (column `wh`). */
  def windows(spark: SparkSession, dir: String): DataFrame = chainRead(spark, dir, "windows")

  private def stageIndex(
      spark: SparkSession, dir: String, v: Long, kind: String, bands: Int, wk: Int,
      hashes: DataFrame, sigs: DataFrame, windows: DataFrame,
      tag: Option[String] = None): Path =
    stage(spark, dir, v) { st =>
      val nh = st.put("hashes", hashes).count()
      val ns = st.put("sigs", sigs).count()
      val nw = st.put("windows", windows).count()
      val tagField = tag.map(t => s""","tag":"$t"""").getOrElse("")
      s"""{"kind":"$kind","bands":$bands,"wk":$wk,"nh":$nh,"ns":$ns,"nw":$nw$tagField}"""
    }

  protected def stageBase(spark: SparkSession, dir: String, v: Long, before: IndexStats): Path =
    stageIndex(spark, dir, v, "base", before.bands, before.windowK,
      hashes(spark, dir), sigs(spark, dir), windows(spark, dir))

  /** Build v=1 (a base) from the curated corpus. Fails if initialized. */
  def init(
      spark: SparkSession, dir: String, docs: DataFrame, bands: Int,
      windowK: Int = 8): IndexStats = {
    require(bands >= 1 && bands <= 64, s"bands out of range: $bands")
    require(windowK >= 2 && windowK <= 64, s"windowK out of range: $windowK")
    initWith(spark, dir) {
      val (h, s, w) = derive(docs, bands, windowK)
      stageIndex(spark, dir, 1L, "base", bands, windowK, h, s, w)
    }
  }

  /** Incremental maintenance: publish the arriving batch's NEW hashes and
    * signatures as a delta version. Cost ∝ |batch| (derive) plus one
    * anti-join against the current view per relation — the base corpus is
    * never re-derived. A batch contributing nothing new is a no-op (no
    * version published).
    */
  def append(
      spark: SparkSession, dir: String, batch: DataFrame,
      tag: Option[String] = None): IndexStats = {
    val cur = head(spark, dir)
    // Set-union appends are naturally replay-idempotent (nothing new →
    // no version), but the tag short-circuit keeps a replayed batch from
    // paying the derive+anti-join at all and pins provenance in the
    // marker, mirroring FreqStore's exactly-once discipline.
    if (tag.exists(tagApplied(spark, dir, _))) return stats(spark, dir, cur)
    val bands = storeBands(spark, dir)
    val wk = storeWindowK(spark, dir)
    val (bh, bs, bw) = derive(batch, bands, wk)
    val newH = bh.join(hashes(spark, dir), Seq("h"), "left_anti")
    val newS = bs.join(sigs(spark, dir), Seq("band", "sig"), "left_anti")
    val newW = bw.join(windows(spark, dir), Seq("wh"), "left_anti")
    // No pre-commit visibility check here: a concurrent appender may
    // legitimately commit cur+1 between our stage and commit — the
    // commit's marker-CAS is the arbiter, and the loser's staging is
    // deleted there.
    publishOrDrop(spark, dir, cur,
      stageIndex(spark, dir, cur + 1, "delta", bands, wk, newH, newS, newW, tag))
  }

  /** Fold the chain into one base version, the view unchanged (a chain
    * of one is a no-op).
    */
  def compact(spark: SparkSession, dir: String): IndexStats = foldChain(spark, dir)

  /** Maintenance policy: fold the chain once it exceeds `maxChain`
    * versions — what ingest applies after appends so read fan-in stays
    * bounded as batches accumulate. Content-preserving by compact's
    * invariant; a replayed compact of an already-short chain is a no-op.
    */
  def compactIfNeeded(spark: SparkSession, dir: String, maxChain: Int = 8): IndexStats =
    compactIfLonger(spark, dir, maxChain)

  /** Drop published versions no longer in the read chain (history
    * strictly before the newest base), keeping the most recent
    * `keepHistory` for forensics. Never touches the chain; returns the
    * dropped versions. CatalogStore's retention-GC discipline.
    *
    * Replay-idempotence caveat: append TAGS live in version markers, so
    * GC'ing a tagged version forgets that its batch was applied. Keep
    * `keepHistory` at least as deep as the ingest replay horizon (for
    * Structured Streaming that is ONLY the in-flight batch, whose delta
    * is by definition still in the read chain — so the default is safe
    * for the wired pipeline; an explicit external re-send protocol needs
    * a deeper history).
    */
  def gc(spark: SparkSession, dir: String, keepHistory: Int = 0): Seq[Long] =
    gcHistory(spark, dir, keepHistory)
}
