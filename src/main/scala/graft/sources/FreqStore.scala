package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

private[sources] final case class FreqMeta(
    kind: String, family: String, nt: Long, nv: Long, nd: Long,
    override val tag: Option[String]) extends VersionMeta {
  def counts: Seq[Long] = Seq(nt, nd)
}

/** Persistent corpus count store — the precomputed keyed count tables the
  * frequency/collocation/leakage consumers otherwise re-derive from the
  * corpus in-query (the one corpus-scale shuffle every one of them pays).
  * A real lake computes each table ONCE per ingested batch and maintains
  * it; with the store, a consumer reads a vocab-scale relation and never
  * touches the token stream.
  *
  * One count-merge LSM mechanism, four FAMILIES (the keyed table the
  * store maintains, pinned in the v=1 marker exactly like DedupIndex's
  * band count — an append can never silently mix families):
  *   - [[Unigram]]  (token, n): q76/q121/q130/q136's frequency table.
  *   - [[Bigram]]   (w1, w2, n): q77/q97/q139/q151/q159's adjacent-pair table.
  *   - [[WindowSrc]] (wh, source, n): per K-token window hash and source,
  *     the distinct documents carrying it — the train/corpus window stats
  *     q120/q122/q143/q146 probe (K pinned in the family name).
  *   - [[WindowDoc]] (wh, source, doc_id, n): the finest window relation
  *     (per-document occurrence counts) — serves q113's occurrence-
  *     weighted audit directly, serves every WindowSrc consumer through a
  *     group-size rollup, and projects frozen-slice WindowSrc stores
  *     without a corpus re-explode ([[initWinSrcProjection]]).
  *
  * The [[VersionedStore]] chain [[DedupIndex]]/[[IvfIndex]] run on, but
  * with COUNT-MERGE semantics instead of set-union: counts are additive, so an
  * append commits the arriving batch's OWN count table verbatim as a
  * delta — no anti-join probe of the base at all, cost is purely
  * ∝ |batch| — and the read view is `groupBy(keys).sum` over the
  * base+delta chain. Compaction folds the chain back into one base; the
  * additive invariant (total occurrences are merge-invariant) is checked
  * from the staged manifest before anything publishes, CatalogStore's
  * rule. Of two racing writers exactly one wins and the loser fails
  * loudly with nothing written.
  *
  * Semantics contract: the store tracks the ACCEPTED ingest stream —
  * appending the same documents twice doubles their counts, exactly as
  * re-ingesting them into the corpus would; dedup belongs upstream
  * (q107 / [[DedupIndex]]). That contract is also what makes the
  * WindowSrc family's per-(wh, source) doc counts and the `nd` doc
  * totals exact: each document arrives once, so per-batch distinct-doc
  * counts sum to the global distinct count.
  *
  * Reference anchor: geostore stores per-file metadata at import time
  * (`check_files_checksums` reads precomputed multihashes) instead of
  * re-deriving it per query — this is that discipline applied to the
  * corpus count tables.
  */
object FreqStore extends VersionedStore[FreqMeta]("count store", "count update") {

  /** A count family: which keyed count table the store maintains. The
    * `derive` is byte-for-byte the fragment its consumers build in-query
    * (same tokenizer split, same guards), so store-backed ≡ derived is a
    * join-key identity, not an approximation.
    */
  sealed trait Family {
    def name: String
    def keyCols: Seq[String]
    /** The pre-aggregation occurrence relation: doc_id + the family's key
      * columns, one row per counted occurrence. init/append persist it
      * ONCE so the count table and the `nd` doc count (distinct
      * contributing docs — [[totalDocs]] sums it; WindowSrc consumers
      * need it exact) both come from a single corpus pass.
      */
    def rows(docs: DataFrame): DataFrame
    /** The (keys..., n) count table over [[rows]]. */
    def aggregate(pos: DataFrame): DataFrame
    /** One-shot convenience (two passes); the store itself goes through
      * rows→persist→aggregate instead.
      */
    final def derive(docs: DataFrame): DataFrame = aggregate(rows(docs))
  }

  /** (token, n) unigram occurrences — the q76-family aggregate (same
    * space split, same empty-token filter).
    */
  case object Unigram extends Family {
    val name = "unigram"
    val keyCols = Seq("token")
    def rows(docs: DataFrame): DataFrame =
      docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token") =!= "")
    def aggregate(pos: DataFrame): DataFrame =
      pos.groupBy(col("token")).agg(count(lit(1)).as("n"))
  }

  /** (w1, w2, n) adjacent word-pair occurrences — q77/q97/q139/q151/q159's pair
    * table verbatim: ≥2-words guard (Spark's sequence(1, 0) descends),
    * pairs over the RAW word array, empty-member pairs dropped after.
    */
  case object Bigram extends Family {
    val name = "bigram"
    val keyCols = Seq("w1", "w2")
    def rows(docs: DataFrame): DataFrame =
      docs
        .withColumn("words", split(col("text"), " "))
        .filter(size(col("words")) >= 2)
        .select(
          col("doc_id"),
          explode(
            expr(
              """transform(sequence(1, size(words) - 1),
                |  i -> struct(element_at(words, i) AS w1, element_at(words, i + 1) AS w2))"""
                .stripMargin)).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
    def aggregate(pos: DataFrame): DataFrame =
      pos.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
  }

  /** (wh, source, n) — per K-token window hash (q113's kernel, K pinned
    * in the family name) and source, the DISTINCT documents carrying it
    * within the batch; cross-batch sums are exact distinct-doc counts
    * under the ingest-once contract. Σn over sources per wh is the train
    * document frequency q146 weights by; the key set per wh is the
    * source-membership set q122/q143 collect; distinct wh is the window
    * set q120 probes.
    */
  final case class WindowSrc(k: Int) extends Family {
    require(k >= 2 && k <= 64, s"windowK out of range: $k")
    val name = s"winsrc:$k"
    val keyCols = Seq("wh", "source")
    def rows(docs: DataFrame): DataFrame =
      docs
        .select(
          col("doc_id"), col("source"),
          explode(graft.operators.Dedup.windowHashes(k)).as("wh"))
    def aggregate(pos: DataFrame): DataFrame =
      pos.groupBy(col("wh"), col("source"))
        .agg(countDistinct(col("doc_id")).as("n"))
  }

  /** (wh, source, doc_id, n) — the FINEST window relation: per K-token
    * window hash, source, and document, the occurrence count within the
    * document. Strictly finer than [[WindowSrc]]: doc_id is a key here,
    * so WindowSrc's per-(wh, source) distinct-doc count is simply the
    * GROUP SIZE of this relation — [[initWinSrcProjection]] materializes
    * that rollup (optionally doc-filtered, e.g. the frozen-train slice)
    * without re-exploding any corpus. It is also the only family that
    * can serve q113's repeated-substring audit, which needs occurrence
    * counts AND doc attribution, not doc counts.
    *
    * The trade: WindowDoc storage is token-scale (≈ one row per distinct
    * (wh, doc)) where WindowSrc is window-vocabulary-scale. A lake
    * maintains either the compact per-consumer rollups, or this one
    * finer store plus projected rollups where consumers need repeated
    * vocab-scale reads.
    */
  final case class WindowDoc(k: Int) extends Family {
    require(k >= 2 && k <= 64, s"windowK out of range: $k")
    val name = s"windoc:$k"
    val keyCols = Seq("wh", "source", "doc_id")
    def rows(docs: DataFrame): DataFrame =
      docs
        .select(
          col("doc_id"), col("source"),
          explode(graft.operators.Dedup.windowHashes(k)).as("wh"))
    def aggregate(pos: DataFrame): DataFrame =
      pos.groupBy(col("wh"), col("source"), col("doc_id"))
        .agg(count(lit(1)).as("n"))
  }

  private def familyOf(name: String): Family = name match {
    case "unigram"                    => Unigram
    case "bigram"                     => Bigram
    case s if s.startsWith("winsrc:") => WindowSrc(s.stripPrefix("winsrc:").toInt)
    case s if s.startsWith("windoc:") => WindowDoc(s.stripPrefix("windoc:").toInt)
    case other => throw new IllegalStateException(s"unknown FreqStore family: $other")
  }

  final case class FreqStats(
      version: Long, kind: String, family: String,
      newTokens: Long, newVocab: Long, newDocs: Long,
      totalTokens: Long, totalDocs: Long)

  type Stats = FreqStats

  private val MetaRe =
    ("""\{"kind":"(base|delta)","family":"([a-z0-9:]+)","nt":(\d+),"nv":(\d+),"nd":(\d+)""" +
      """(?:,"tag":"([^"]*)")?\}""").r
  // Pre-family marker format (the store's original unigram-only era:
  // {"kind","nt","nv"}). Accepted on READ so an existing store doesn't
  // silently vanish — and, fatally, get its committed versions reaped by
  // repair() as "debris" — after the format gained family/nd. A legacy
  // marker pins family=unigram (the only family that era could hold) and
  // an UNKNOWN doc count ([[NdUnknown]]): reads work, doc-count APIs and
  // mutations fail loudly instead of silently summing a wrong nd.
  private val LegacyMetaRe =
    ("""\{"kind":"(base|delta)","nt":(\d+),"nv":(\d+)""" +
      """(?:,"tag":"([^"]*)")?\}""").r
  private val NdUnknown = -1L

  protected def parseMarker(body: String): Option[FreqMeta] = body.trim match {
    case MetaRe(kind, fam, nt, nv, nd, tag) =>
      Some(FreqMeta(kind, fam, nt.toLong, nv.toLong, nd.toLong, Option(tag)))
    case LegacyMetaRe(kind, nt, nv, tag) =>
      Some(FreqMeta(kind, "unigram", nt.toLong, nv.toLong, NdUnknown, Option(tag)))
    case _ => None
  }

  protected def statsOf(v: Long, m: FreqMeta, t: Seq[Long]): FreqStats =
    FreqStats(v, m.kind, m.family, m.nt, m.nv, m.nd, t(0), t(1))

  /** Mutations and doc-count stats need every marker's `nd`; a legacy
    * (pre-family) chain serves reads only — appending to it would poison
    * every later total with the unknown sentinel.
    */
  override protected def requireWritable(spark: SparkSession, dir: String, vs: Seq[Long]): Unit =
    require(
      vs.forall(meta(spark, dir, _).nd != NdUnknown),
      s"count store at $dir has legacy (pre-family) markers — read-only; " +
        "rebuild the store at a fresh path to mutate it")

  /** The family this store was built at (pinned at init). */
  def storeFamily(spark: SparkSession, dir: String): Family =
    familyOf(firstMeta(spark, dir).family)

  /** The current merged count view (columns = family keys + `n`) — the
    * base+delta chain count-merged. One vocab-scale aggregate over at
    * most |chain| stored relations; compact to keep |chain| small.
    */
  def counts(spark: SparkSession, dir: String): DataFrame =
    rawCounts(spark, dir)
      .groupBy(storeFamily(spark, dir).keyCols.map(col): _*)
      .agg(sum(col("n")).as("n"))

  /** The UN-merged chain rows (same columns as [[counts]], but a key may
    * appear once per chain version). For a consumer whose downstream
    * aggregates are all ADDITIVE in `n` or distinct-based over key
    * columns — q113's Σn totals and countDistinct doc attribution — this
    * is sufficient and skips the merge shuffle entirely; a plan that
    * consumes the relation in several branches would otherwise pay the
    * full key-wide merge aggregate once PER BRANCH (subtree differences
    * from join-key null filters defeat AQE exchange reuse). Anything
    * keyed on per-key totals (thresholds, group sizes) must use
    * [[counts]].
    */
  def rawCounts(spark: SparkSession, dir: String): DataFrame = chainRead(spark, dir, "freq")

  /** The unigram view (`token`, `n`) — fails loudly on a non-unigram
    * store instead of serving a foreign count family.
    */
  def frequencies(spark: SparkSession, dir: String): DataFrame = {
    val fam = storeFamily(spark, dir)
    require(fam == Unigram,
      s"count store at $dir holds family '${fam.name}', not unigram — wrong store")
    counts(spark, dir)
  }

  /** Total distinct contributing documents across the chain (Σ marker
    * `nd`) — exact under the ingest-once contract; q146's n_train.
    */
  def totalDocs(spark: SparkSession, dir: String): Long = {
    val nds = readChain(spark, dir).map(meta(spark, dir, _).nd)
    require(nds.forall(_ != NdUnknown),
      s"count store at $dir has legacy (pre-family) markers with no doc counts — " +
        "totalDocs would be wrong; rebuild the store at a fresh path")
    nds.sum
  }

  private def stageFreq(
      spark: SparkSession, dir: String, v: Long, kind: String, fam: Family,
      freq: DataFrame, nd: Long, tag: Option[String] = None): Path =
    stage(spark, dir, v) { st =>
      val row = st.put("freq", freq).agg(
        coalesce(sum(col("n")), lit(0L)).as("nt"), count(lit(1)).as("nv")).head()
      val tagField = tag.map(t => s""","tag":"$t"""").getOrElse("")
      s"""{"kind":"$kind","family":"${fam.name}","nt":${row.getLong(0)},""" +
        s""""nv":${row.getLong(1)},"nd":$nd$tagField}"""
    }

  protected def stageBase(spark: SparkSession, dir: String, v: Long, before: FreqStats): Path =
    stageFreq(spark, dir, v, "base", storeFamily(spark, dir), counts(spark, dir), before.totalDocs)

  // one corpus pass per publish: the family's occurrence relation is
  // persisted so the count table and the nd doc count both read it
  private def stageOnePass(
      spark: SparkSession, dir: String, v: Long, kind: String, fam: Family,
      docs: DataFrame, tag: Option[String]): Path = {
    val pos = fam.rows(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nd = pos.agg(countDistinct(col("doc_id"))).head().getLong(0)
      stageFreq(spark, dir, v, kind, fam, fam.aggregate(pos), nd, tag)
    } finally pos.unpersist()
  }

  /** Build v=1 (a base) from the curated corpus. Fails if initialized. */
  def init(
      spark: SparkSession, dir: String, docs: DataFrame,
      family: Family = Unigram): FreqStats =
    initWith(spark, dir)(stageOnePass(spark, dir, 1L, "base", family, docs, None))

  // a windoc store's window size, or a loud refusal naming `role`
  private def windocK(spark: SparkSession, windocDir: String, role: String): Int =
    storeFamily(spark, windocDir) match {
      case WindowDoc(wk) => wk
      case other => throw new IllegalArgumentException(
        s"projection $role at $windocDir holds family '${other.name}', not windoc")
    }

  /** Materialize a [[WindowSrc]] store as a PROJECTION of a committed
    * [[WindowDoc]] store's current view, optionally doc-filtered (e.g.
    * [[graft.operators.Dedup.leakTrainSlice]] for the frozen-train leak
    * store). Because doc_id is a key of the finer relation, the
    * per-(wh, source) distinct-doc count is the group SIZE — one
    * store-scale aggregate, no corpus re-explode; `nd` (the doc total
    * q146's n_train reads from markers) is the filtered view's distinct
    * doc count. The projection is a snapshot of the source store's
    * current chain; it stays maintainable afterwards through ordinary
    * [[append]]s of (sliced) batches, exactly like an init-from-docs
    * store — BuildStoresSpec pins projection ≡ from-docs equivalence.
    */
  def initWinSrcProjection(
      spark: SparkSession, dir: String, windocDir: String,
      docFilter: DataFrame => DataFrame = identity): FreqStats =
    initWith(spark, dir) {
      val k = windocK(spark, windocDir, "source")
      val rel = docFilter(counts(spark, windocDir))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val nd = rel.agg(countDistinct(col("doc_id"))).head().getLong(0)
        val proj = rel.groupBy(col("wh"), col("source")).agg(count(lit(1)).as("n"))
        stageFreq(spark, dir, 1L, "base", WindowSrc(k), proj, nd)
      } finally rel.unpersist()
    }

  /** Incremental projection maintenance — [[initWinSrcProjection]]'s
    * per-batch analog: append to a [[WindowSrc]] projection store the
    * rollup of its SOURCE [[WindowDoc]] store's version tagged `tag`
    * (the batch an ingest pipeline just appended there), doc-filtered
    * the same way the projection was built. The batch's window explode
    * already happened once, in the source append — this reads the
    * committed delta back (batch-token-scale rows, no corpus touch) and
    * pays one batch-scale rollup, so maintaining windoc + its train
    * projection costs ONE explode per batch, not two.
    *
    * Idempotence: if THIS store already carries `tag`, no-op (the
    * replay contract [[append]] documents). If the SOURCE has no
    * version with `tag`, the source append was itself a no-op (a
    * window-less batch — the filtered slice is a subset, so there is
    * nothing to project) and nothing publishes. That no-op is
    * indistinguishable from a tagged source version a too-eager [[gc]]
    * already dropped — which is why gc's contract forbids running it
    * between a batch's source append and its projection append and
    * requires `keepHistory >= 1` on a projection source.
    */
  def appendWinSrcProjection(
      spark: SparkSession, dir: String, windocDir: String, tag: String,
      docFilter: DataFrame => DataFrame = identity): FreqStats = {
    requireValidTag(tag)
    val cur = head(spark, dir)
    val k = storeFamily(spark, dir) match {
      case WindowSrc(wk) => wk
      case other => throw new IllegalArgumentException(
        s"projection target at $dir holds family '${other.name}', not winsrc")
    }
    val srcK = windocK(spark, windocDir, "source")
    require(srcK == k,
      s"projection source at $windocDir was built at windowK=$srcK, target pins $k — rebuild")
    if (tagApplied(spark, dir, tag)) return stats(spark, dir, cur)
    taggedVersion(spark, windocDir, tag) match {
      case None => stats(spark, dir, cur)
      case Some(srcV) =>
        val delta = docFilter(relation(spark, windocDir, srcV, "freq"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val nd = delta.agg(countDistinct(col("doc_id"))).head().getLong(0)
          // doc_id is a key of the finer relation, so the per-(wh,
          // source) distinct-doc count is the group SIZE — same rollup
          // as the init-time projection
          val proj = delta.groupBy(col("wh"), col("source")).agg(count(lit(1)).as("n"))
          publishOrDrop(spark, dir, cur,
            stageFreq(spark, dir, cur + 1, "delta", WindowSrc(k), proj, nd, Some(tag)))
        } finally delta.unpersist()
    }
  }

  /** Incremental maintenance: commit the arriving batch's own count
    * table as a delta. Counts merge additively on read, so no probe of
    * the base happens at all — cost is purely ∝ |batch|. A batch with no
    * counted rows is a no-op (no version published).
    */
  def append(
      spark: SparkSession, dir: String, batch: DataFrame,
      tag: Option[String] = None): FreqStats = {
    val cur = head(spark, dir)
    // Exactly-once under batch REPLAY (count-merge is NOT naturally
    // idempotent the way DedupIndex's set-union is): a caller that tags
    // each append with its batch id makes the tag the idempotence key —
    // an already-committed tag means this exact batch's counts are
    // already in the chain, so the replay is a no-op.
    if (tag.exists(tagApplied(spark, dir, _))) return stats(spark, dir, cur)
    val fam = storeFamily(spark, dir)
    publishOrDrop(spark, dir, cur, stageOnePass(spark, dir, cur + 1, "delta", fam, batch, tag))
  }

  /** Fold the chain into one base version, the view unchanged (a chain
    * of one is a no-op).
    */
  def compact(spark: SparkSession, dir: String): FreqStats = foldChain(spark, dir)

  /** Maintenance policy: fold the chain once it exceeds `maxChain`
    * versions — what ingest applies after appends so read fan-in stays
    * bounded as batches accumulate (an unbounded delta chain turns every
    * read into a |batches|-way union at 100 TB). Content-preserving by
    * compact's invariant; safe under crash-replay (a replayed compact of
    * an already-short chain is a no-op).
    */
  def compactIfNeeded(spark: SparkSession, dir: String, maxChain: Int = 8): FreqStats =
    compactIfLonger(spark, dir, maxChain)

  /** Drop published versions that are no longer in the read chain
    * (history strictly before the newest base), keeping the most recent
    * `keepHistory` of them for forensics. Never touches the chain, so
    * reads are unaffected; returns the dropped versions. The storage
    * analog of CatalogStore's retention GC.
    *
    * Replay-idempotence caveat: append TAGS live in version markers, so
    * GC'ing a tagged version forgets that its batch was applied. Keep
    * `keepHistory` at least as deep as the ingest replay horizon. For
    * Structured Streaming appends that is ONLY the in-flight batch,
    * whose delta is by definition still in the read chain — so the
    * default is safe for a plain append-maintained store. It is NOT
    * safe for a WindowDoc store that feeds `trainProjections`
    * ([[appendWinSrcProjection]]): the in-flight batch's tagged delta
    * can leave the read chain at the same batch's compactIfNeeded while
    * the projection append is still pending across a crash — gc'ing it
    * then turns the replayed projection into a silent no-op that
    * permanently under-counts the projection store. With projections
    * configured, run gc only between batches (like the reference runs
    * maintenance) and keep `keepHistory >= 1`. An explicit external
    * re-send protocol needs a deeper history still.
    */
  def gc(spark: SparkSession, dir: String, keepHistory: Int = 0): Seq[Long] =
    gcHistory(spark, dir, keepHistory)
}
