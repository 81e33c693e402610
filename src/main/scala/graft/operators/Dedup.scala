package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.D — deduplication for the training-data pipeline.
  *
  * Scale shape: every op buckets before it pairs. Signatures/minhashes are
  * computed map-side inside codegen (no shuffle), candidate generation
  * joins on (band, signature) buckets — never a global cross join — and
  * exact Jaccard verification runs only on bucket-cohabiting pairs.
  */
object Dedup extends QueryModule {

  private val DefaultBands = 8

  /** LSH band count, runtime-tunable like q42's sign bits: more bands =
    * more recall and more candidate pairs. The oracle (and q36's widened
    * sig_b schema) renders at the default; a non-default conf re-tunes
    * every LSH consumer (q37/q38/q62/q79/q86) without a recompile.
    */
  private def bands(t: Tables): Int = {
    val b = t.spark.conf.get("graft.lsh.bands", DefaultBands.toString).toInt
    require(b >= 1 && b <= 64, s"graft.lsh.bands out of range: $b")
    b
  }

  /** Array of md5 hashes of every K-consecutive-token window of `text` —
    * the shared kernel of q113's corpus-wide repeated-substring scan and
    * [[graft.sources.DedupIndex]]'s persistent `windows` relation. One
    * definition so a stored window set and an in-query derivation can
    * never disagree on hashing.
    */
  private[graft] def windowHashesSql(k: Int): String =
    s"""CASE WHEN size(split(text, ' ')) >= $k THEN
       |  transform(sequence(1, size(split(text, ' ')) - $k + 1),
       |    i -> md5(concat_ws(' ', slice(split(text, ' '), i, $k))))
       |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin

  private[graft] def windowHashes(k: Int): Column = expr(windowHashesSql(k))

  private def windowK(t: Tables): Int = {
    val k = t.spark.conf.get("graft.dedup.windowTokens", "8").toInt
    require(k >= 2 && k <= 64, s"graft.dedup.windowTokens out of range: $k")
    k
  }

  // word-3-gram shingle fragment for the DuckDB oracles (the Spark side
  // runs the native kernels in graft.functions with identical semantics)
  private val shinglesDuck =
    "list_transform(range(1, len(words) - 1), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])"

  /** Exact dedup via content hash — the distributed analogue of geostore's
    * per-file checksum identity (`check_files_checksums`). groupBy on
    * md5(text) is one narrow shuffle of (hash → count).
    */
  private def q35(t: Tables): DataFrame =
    t.documents
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"))
      .withColumn("n_dup_docs", col("n_docs") - col("n_distinct_texts"))
      .orderBy(col("source"))

  // 32-bit int from the first 8 hex chars of an md5 string — the same
  // ascii-arithmetic rendered to both engines (no hex→int builtin in both).
  private[operators] def hexint32(m: String): String =
    (1 to 8)
      .map(p => s"CAST(${hexval(s"substr($m, $p, 1)")} AS BIGINT) * ${1L << ((8 - p) * 4)}")
      .mkString("(", " + ", ")")

  // band-b linear rehash of the base shingle hash (classic k-minhash from
  // one strong hash): h_b(x) = (a_b·x + c_b) mod (2³¹−1)
  private[operators] def bandHash(b: Int, h: String): String =
    s"(($h * ${2 * b + 1} + ${7919 * b}) % 2147483647)"

  // q129's word→chars compression: `n` printable-ASCII chars (33..126, so
  // byte ≡ char in every engine) per word from its md5's leading bytes —
  // the same arithmetic rendered to both engines. At the default n=2 the
  // effective word alphabet is 94² ≈ 8.8k (pairwise collision odds
  // 1/8836, hardened from the r12 single-char cut's 1/94) and one word
  // edit costs exactly n DP cells, so lev/maxlen stays the word-granular
  // ratio (up to the ≤1/94-odds partial char match at an edit boundary).
  // `graft.dedup.edit.charsPerWord` (1 or 2, default 2): the r12 1/94
  // single-char compression stays reachable so the collision-sensitivity
  // spec can quantify how much the class table moves between alphabets;
  // the oracle always renders the default.
  private def charsPerWord(t: Tables): Int = {
    val n = t.spark.conf.get("graft.dedup.edit.charsPerWord", "2").toInt
    require(n == 1 || n == 2, s"graft.dedup.edit.charsPerWord must be 1 or 2: $n")
    n
  }
  private def wordChar(w: String, i: Int): String = {
    val h = s"(${hexval(s"substr(md5($w), ${2 * i + 1}, 1)")} * 16 + " +
      s"${hexval(s"substr(md5($w), ${2 * i + 2}, 1)")})"
    s"chr(33 + $h % 94)"
  }
  private def wordChars(w: String, n: Int): String =
    if (n == 1) wordChar(w, 0)
    else s"concat(${(0 until n).map(wordChar(w, _)).mkString(", ")})"
  private def wordString(textCol: String, cap: Int, n: Int): String =
    s"concat_ws('', transform(slice(split($textCol, ' '), 1, $cap), w -> ${wordChars("w", n)}))"
  private def wordStringDuck(cap: Int, n: Int): String =
    s"array_to_string(list_transform(array_slice(string_split(text, ' '), 1, $cap), " +
      s"w -> ${wordChars("w", n)}), '')"

  /** Per-doc minhash signatures via the native one-pass kernel
    * (functions.MinHashSigs) — identical semantics to the expression
    * pipeline the oracle mirrors (md5 per shingle → 32-bit int → Bands
    * linear rehashes), but one codegen'd loop per row instead of k
    * interpreted array passes. Entirely map-side (zero shuffle).
    */
  private def q36(t: Tables): DataFrame = {
    val base = Tables.localSplit(t.documents, col("doc_id"))
      .withColumn("sigs", graft.functions.GraftFunctions.minhash_sigs(col("text"), bands(t)))
    val cols = (0 until bands(t)).map(b => element_at(col("sigs"), b + 1).as(s"sig_$b"))
    base.select(col("doc_id") +: cols: _*).orderBy(col("doc_id"))
  }

  /** LSH banding: candidate pairs = docs agreeing on ≥1 band signature.
    * The self-join shuffles on (band, sig) — bucket-local, so cost scales
    * with bucket occupancy, not corpus².
    */
  /** Unsorted LSH candidate pairs — shared by q37 (which adds the
    * presentation sort) and the q38/q62 consumers (which don't need it, so
    * the range exchange + sort never runs inside their pipelines). With
    * the pair cache on, rides the shared [[pairStats]] artifact instead
    * of re-deriving the band join.
    */
  private def lshCandidates(t: Tables): DataFrame =
    if (SessionCache.on(t.spark))
      pairStats(t).select(col("doc_a"), col("doc_b"), col("n_shared_bands"))
    else {
      // (band, sig) rows straight off the kernel array via posexplode —
      // same values q36 widens into sig_b columns, minus q36's per-band
      // projection and presentation sort
      val narrow = Tables.localSplit(t.documents, col("doc_id"))
        .select(
          col("doc_id"),
          posexplode(graft.functions.GraftFunctions.minhash_sigs(col("text"), bands(t)))
            .as(Seq("band", "sig")))
      val a = narrow.as("a")
      val b = narrow.as("b")
      a.join(
          b,
          col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared_bands"))
    }

  // -- the shared LSH verify artifact ----------------------------------
  // q38/q86/q116/q117/q127/q129 are all functions of ONE integer relation:
  // the LSH candidate pairs with their band stats and exact shingle-set
  // intersection sizes. Deriving it per query re-pays the signature
  // explode + band self-join + two shingle-set fetches five times over;
  // `graft.lsh.cache=true` derives it ONCE per (corpus, bands) and
  // persists it for the session — the audit-session shape at 100 TB,
  // where the verify family runs as a batch over one materialized
  // candidate relation. Cached ≡ derived is pinned in DedupSpec's
  // pair-cache test; every consumer computes its own floats from the
  // integers, so rounding disciplines are untouched.

  /** (doc_a, doc_b, n_shared_bands, first_band, shared, nsh_a, nsh_b) —
    * every LSH candidate pair with its integer statistics: bands agreeing
    * (and the first, for q116's prefix-band sweep), the exact shingle
    * intersection size, and both set sizes. All downstream similarity
    * notions (Jaccard, containment, band-agreement estimate) are pure
    * expressions over these integers.
    */
  private def pairStatsDerive(t: Tables): DataFrame = {
    val narrow = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("doc_id"),
        posexplode(graft.functions.GraftFunctions.minhash_sigs(col("text"), bands(t)))
          .as(Seq("band", "sig")))
    val cand = narrow.as("a")
      .join(
        narrow.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_bands"), min(col("a.band")).as("first_band"))
    val arrs = Tables.localSplit(t.documents, col("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions.shingle_set(col("text")).as("arr"))
      .withColumn("nsh", size(col("arr")).cast("long"))
    cand
      .join(arrs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(arrs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(
        col("doc_a"), col("doc_b"), col("n_shared_bands"), col("first_band"),
        size(array_intersect(col("a.arr"), col("b.arr"))).cast("long").as("shared"),
        col("a.nsh").as("nsh_a"), col("b.nsh").as("nsh_b"))
  }

  /** Materialize the session's shared corpus relations (no-op when
    * `graft.lsh.cache` is off) — the pair statistics, the component
    * labels, and the (source, shingle) membership relation — so their
    * one-time build cost can be priced explicitly: Bench calls this
    * before timing the consumers instead of letting min-of-2 silently
    * discard the build from whichever family query ran first.
    */
  def primePairCache(t: Tables): Long =
    if (SessionCache.on(t.spark))
      pairStats(t).count() + components(t).count() + sourceShingles(t).count() +
        cdcChunks(t).count()
    else 0L

  /** Materialize the shared eval window stream (no-op unless the session
    * cache AND a leak store are configured — only then do q120/q143/q146
    * read it). Bench prices this with the store prep instead of letting
    * min-of-2 discard the first consumer's build.
    */
  def primeLeakEval(t: Tables): Long =
    if (SessionCache.on(t.spark) && t.spark.conf.get("graft.leak.store", "").nonEmpty)
      evalPos(t, windowK(t)).count()
    else 0L

  /** Materialize every configured session store VIEW (no-op when the
    * session cache is off): the merged chain views of the freq/bigram
    * stores and the (wh, source) window-stats views of the win/leak
    * stores. Bench prices these with the store prep — min-of-2 would
    * otherwise hide each view's one-time build in whichever consumer's
    * discarded first rep happened to trigger it.
    */
  def primeStoreViews(t: Tables): Long =
    if (!SessionCache.on(t.spark)) 0L
    else {
      val k = windowK(t)
      // family-validate BEFORE building each view (the consumers'
      // require), so a misconfigured store fails here at prep — not
      // after its wrong-family view was already persisted and priced
      Seq(
        "graft.freq.store" -> graft.sources.FreqStore.Unigram,
        "graft.bigram.store" -> graft.sources.FreqStore.Bigram)
        .flatMap { case (c, want) =>
          Option(t.spark.conf.get(c, "")).filter(_.nonEmpty).map { dir =>
            val fam = graft.sources.FreqStore.storeFamily(t.spark, dir)
            require(fam == want,
              s"$c at $dir holds family '${fam.name}', not ${want.name} — wrong store")
            SessionCache.storeCounts(t.spark, dir).count()
          }
        }
        .sum +
        Seq("graft.win.store", "graft.leak.store")
          .flatMap(c => storedWinStats(t, c, k))
          .map(_.count())
          .sum
    }

  /** The q103/q120-family train slice (md5 doc_id bucket < 90) of a
    * documents frame — the frozen-train corpus a `graft.leak.store`
    * WindowSrc artifact is built over (Bench builds one; LeakStoreSpec
    * pins the equivalent conv() rendering).
    */
  /** q103's deterministic md5 doc_id bucket (0–99) and its train/val/test
    * label — shared by q103's rollup, [[leakTrainSlice]], and
    * [[graft.Curate]]'s split stage (one expression, no drift).
    */
  private[graft] def splitBucket: Column =
    expr(hexint32("md5(CAST(doc_id AS STRING))")) % 100

  private[graft] def splitLabel: Column =
    when(splitBucket < 90, "train").when(splitBucket < 95, "val").otherwise("test")

  def leakTrainSlice(docs: DataFrame): DataFrame =
    docs.filter(splitBucket < 90)

  private def pairStats(t: Tables): DataFrame =
    SessionCache.cached(t.spark, "pairStats", t.dir, bands(t))(pairStatsDerive(t))

  // Jaccard from the pair integers, with the union-size-0 guard (two
  // shingle-less docs) that would otherwise divide by zero under ANSI
  private val pairJaccard: Column =
    when(
      col("nsh_a") + col("nsh_b") > col("shared"),
      col("shared") / (col("nsh_a") + col("nsh_b") - col("shared")))

  private def q37(t: Tables): DataFrame =
    lshCandidates(t).orderBy(col("doc_a"), col("doc_b"))

  /** b-bit minhash compression calibration (Li & König 2010 — new r16
    * wave 36, the MINHASH leg of the sketch-calibration family: q130
    * grades the CMS, q181 the Bloom filter, q226 the sign sketch, q228
    * the PQ's ADC; this one prices what STORING ONLY THE LOW b BITS of
    * each minhash — the 64×/32× signature-storage cut production dedup
    * runs at 100 TB — costs in estimator quality): per exact-Jaccard
    * decile over the LSH candidate pairs, the mean full-width
    * band-agreement estimate (q86's), the bias-CORRECTED b=2 and b=1
    * estimates Ĵ_b = (m_b/H − 2⁻ᵇ)/(1 − 2⁻ᵇ), and each estimator's mean
    * absolute error — the table that says how many extra hashes b-bit
    * storage must buy back at a given similarity band.
    *
    * Numerics: everything is integer e4 — exact Jaccard from the pair's
    * shingle-count integers, estimates from band-match counts m_b ∈
    * [0, H]. Ĵ_b is SIGNED (m_b below the 2⁻ᵇ collision baseline), so
    * the divide runs on the +1-shifted non-negative form
    * (2ᵇ·(m_b+H) − 2H)/(H·(2ᵇ−1)) and shifts back (q158's rule —
    * Spark DIV truncates, DuckDB // floors, equal only ≥ 0); the
    * signed-mean rollups shift by +10⁴ the same way. Low-b matches
    * compare `sig & mask` — two's-complement AND, identical in both
    * engines, where a `% 2ᵇ` would diverge on negative signatures.
    *
    * Scale shape: q38's candidate-bounded class — the per-band
    * signature relation joins the candidate pair set twice (|cand|·H
    * rows, never corpus²); the decile rollup is ≤ 10 rows. Rides the
    * session pairStats cache like every verify-family consumer.
    */
  private def q248(t: Tables): DataFrame = {
    val h = bands(t)
    val pairs = pairStats(t)
      .filter(col("nsh_a") + col("nsh_b") > col("shared"))
      .withColumn(
        "j_e4",
        expr("(2 * 10000 * shared + (nsh_a + nsh_b - shared)) " +
          "DIV (2 * (nsh_a + nsh_b - shared))"))
      .select(col("doc_a"), col("doc_b"), col("j_e4"))
      // |cand| rows, three consumers (the id set + both sig joins) —
      // without the cut a cache-off session re-derives the full LSH
      // verify chain per consumer (solo-timed 12.9 s; with it 4.6 s
      // derived / 1.34 s at bench cadence on the session pair cache)
      .localCheckpoint()
    // the signature kernel runs only over docs that actually appear in a
    // candidate pair (left-semi against the pair id set — |cand|·2
    // distinct ids, not the corpus; the un-filtered draft re-signed ALL
    // documents once per consuming side: 2.5 s at bench cadence vs
    // 1.34 s here), and the signatures stay ARRAYS compared by codegen'd
    // HOFs — no ×H band explode, no band-keyed shuffle
    val pairDocs = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val arrs = Tables.localSplit(t.documents, col("doc_id"))
      .join(pairDocs, Seq("doc_id"), "left_semi")
      .select(
        col("doc_id"),
        graft.functions.GraftFunctions.minhash_sigs(col("text"), h).as("sg"))
    def matches(mask: Long): String =
      s"aggregate(zip_with(sa, sb, (x, y) -> " +
        s"CAST(CASE WHEN (x & $mask) = (y & $mask) THEN 1 ELSE 0 END AS BIGINT)), " +
        s"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    def corrected(mCol: String, b: Int): Column = {
      val p = 1 << b
      expr(s"((2 * 10000 * ($p * ($mCol + $h) - 2 * $h) + $h * ${p - 1}) " +
        s"DIV (2 * $h * ${p - 1})) - 10000")
    }
    val perPair = pairs
      .join(arrs.select(col("doc_id").as("doc_a"), col("sg").as("sa")), Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("sg").as("sb")), Seq("doc_b"))
      .withColumn("m_full", expr(matches(-1L)))
      .withColumn("m_b2", expr(matches(3L)))
      .withColumn("m_b1", expr(matches(1L)))
      .withColumn("est_full_e4", expr(s"(2 * 10000 * m_full + $h) DIV (2 * $h)"))
      .withColumn("est_b2_e4", corrected("m_b2", 2))
      .withColumn("est_b1_e4", corrected("m_b1", 1))
    perPair
      .withColumn("decile", least(expr("j_e4 DIV 1000"), lit(9L)))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("(2 * sum(j_e4) + count(1)) DIV (2 * count(1))").as("mean_j_e4"),
        expr("(2 * sum(est_full_e4) + count(1)) DIV (2 * count(1))").as("mean_full_e4"),
        expr("(2 * sum(est_b2_e4 + 10000) + count(1)) DIV (2 * count(1)) - 10000")
          .as("mean_b2_e4"),
        expr("(2 * sum(est_b1_e4 + 10000) + count(1)) DIV (2 * count(1)) - 10000")
          .as("mean_b1_e4"),
        expr("(2 * sum(abs(est_full_e4 - j_e4)) + count(1)) DIV (2 * count(1))")
          .as("err_full_e4"),
        expr("(2 * sum(abs(est_b2_e4 - j_e4)) + count(1)) DIV (2 * count(1))")
          .as("err_b2_e4"),
        expr("(2 * sum(abs(est_b1_e4 - j_e4)) + count(1)) DIV (2 * count(1))")
          .as("err_b1_e4"))
      .orderBy(col("decile"))
  }

  /** Exact word-3-gram Jaccard on the q37 LSH candidates (the verify
    * stage after LSH). The pair work is bounded by band collisions, NOT by
    * shingle frequency: each candidate pair fetches both docs' distinct
    * shingle sets (computed map-side by the native kernel, no explode) via
    * two key-joins and intersects them locally — a stop-word shingle
    * shared by k docs never produces k² rows anywhere. |A∩B| via
    * array_intersect, |A∪B| by inclusion-exclusion. At 100 TB the
    * candidate side is orders of magnitude smaller than the corpus, so
    * the two joins move candidate-count·|shingles| bytes, not corpus².
    */
  private def jaccardPairs(t: Tables): DataFrame =
    pairStats(t)
      .withColumn("jaccard", pairJaccard)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  private def q38(t: Tables): DataFrame =
    jaccardPairs(t).orderBy(col("doc_a"), col("doc_b"))

  /** Estimator audit: the minhash band-agreement rate (n_shared_bands /
    * Bands — each band signature is an independent 1-permutation minhash,
    * so agreement probability ≈ Jaccard) against the exact shingle-set
    * Jaccard, per LSH candidate pair. This is the calibration query an
    * LSH deployment runs before trusting its thresholds at 100 TB: same
    * candidate-bounded cost shape as q38, with the absolute estimator
    * error alongside.
    */
  private def q86(t: Tables): DataFrame = {
    pairStats(t)
      .withColumn("jaccard", pairJaccard)
      .filter(col("jaccard").isNotNull)
      .withColumn("est_jaccard", col("n_shared_bands") / lit(bands(t).toDouble))
      .select(
        col("doc_a"),
        col("doc_b"),
        round(col("est_jaccard"), 4).as("est_jaccard"),
        round(col("jaccard"), 4).as("jaccard"),
        round(abs(col("est_jaccard") - col("jaccard")), 4).as("abs_err"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Asymmetric-containment audit over the LSH candidate pairs (Broder
    * 1997's containment coefficient c(A→B) = |A∩B|/|A|): per containment
    * quartile, how many candidate pairs sit there, how many are the
    * MISSED class — max one-sided containment ≥ τ
    * (τ = 0.8) while Jaccard < τ, the
    * embedded-quote/subset duplicates a Jaccard-thresholded dedup pass
    * structurally leaves behind (the union is dominated by the larger
    * doc) — plus the worst containment−Jaccard gap per quartile. A
    * non-zero `n_missed` row is the signal to run q113's window pass.
    *
    * Scale shape: q38's candidate-bounded verify verbatim (band join →
    * slim pair set → two keyed shingle-set fetches → per-pair
    * array_intersect); the quartile rollup is |buckets|-row. Declared
    * recall caveat: candidates come from symmetric minhash LSH, which
    * under-recalls extreme-containment pairs (that is WHY they are the
    * missed class) — this query audits the candidate set the dedup pass
    * actually had; the window index is the production recall path.
    */
  private def q127(t: Tables): DataFrame = {
    val tau = 0.8
    pairStats(t)
      .filter(col("shared") > 0)
      // per-pair values round to 6 BEFORE any cross-row agg (q33's
      // discipline: never accumulate unrounded floats across rows)
      .withColumn(
        "cont",
        round(greatest(col("shared") / col("nsh_a"), col("shared") / col("nsh_b")), 6))
      .withColumn(
        "jaccard",
        round(col("shared") / (col("nsh_a") + col("nsh_b") - col("shared")), 6))
      .withColumn("bucket", least(floor(col("cont") * 4), lit(3L)).cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("cont") >= tau && col("jaccard") < tau, 1L).otherwise(0L)).as("n_missed"),
        round(max(col("cont") - col("jaccard")), 4).as("max_gap"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"))
      .orderBy(col("bucket"))
  }

  /** Edit-distance verify over the LSH candidates — the order-SENSITIVE
    * second opinion next to q38's order-insensitive shingle Jaccard (new
    * r12): per agreement class, how the two similarity notions co-vote on
    * the same candidate pairs. Shingle Jaccard survives block moves and
    * sentence reordering but a slot-filled template (every value token
    * swapped) breaks all its containing 3-grams; WORD-level edit distance
    * is the mirror image. The classes are the audit: `jaccard_only` pairs
    * are reordered/moved-block duplicates an edit threshold would miss,
    * `edit_only` pairs are template/slot-edit duplicates a shingle
    * threshold would miss — a non-empty `edit_only` row is the signal that
    * a Jaccard-only dedup pass is leaving template boilerplate behind.
    *
    * Word-level, not char-level, by construction: each of the first
    * 128 words maps to TWO
    * printable-ASCII chars (`chr(33 + md5-byte % 94)` per leading md5
    * byte — the identical arithmetic rendered to both engines, ASCII so
    * byte ≡ char under every levenshtein implementation), and the DP runs
    * on the compressed string: one word edit costs exactly 2 DP cells, so
    * lev/maxlen is the word-granular ratio, at (2·capWords)² per-pair
    * cost — still ~6× below the char-level DP that made the first cut of
    * this operator the bench's worst query (35 s at sf0.1 for 66 K
    * candidate pairs of 256-char DPs), and the granularity the
    * reorder/slot classes are actually defined at. Declared
    * approximation: distinct words collide at 1/8836 per pair of words
    * (94² alphabet — hardened in r13 from the 1/94 single-char cut, whose
    * ~1.4 expected spurious word matches per fully-distinct 128-word pair
    * could nudge edit_sim near the τ boundary; EditCollisionSpec
    * quantifies the class-table movement between the two alphabets),
    * deterministically and identically in both engines.
    *
    * Scale shape: q38's candidate-bounded verify verbatim — ONE documents
    * projection carries both per-doc features (shingle set from the
    * native kernel + the compressed word string, both map-side), so the
    * pair stage is still two key joins. Per-pair values round to 6 BEFORE
    * the class rollup (q127's discipline); the rollup is ≤4 rows.
    */
  private def q129(t: Tables): DataFrame = {
    val tau = 0.5
    val cap = 128
    // the shingle integers ride the shared pairStats relation; only the
    // DP input (the compressed word string) needs its own slim projection
    val feats = Tables.localSplit(t.documents, col("doc_id"))
      .select(col("doc_id"), expr(wordString("text", cap, charsPerWord(t))).as("cap_text"))
    pairStats(t)
      .filter(col("shared") > 0)
      .join(feats.as("a"), col("doc_a") === col("a.doc_id"))
      .join(feats.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn(
        "jaccard",
        round(col("shared") / (col("nsh_a") + col("nsh_b") - col("shared")), 6))
      .withColumn(
        // bit-parallel exact Levenshtein (Myers) — value-identical to the
        // built-in levenshtein() the oracle mirrors, ~20× less kernel work
        // per pair (EditDistance scaladoc; EditDistanceSpec pins equality)
        "lev",
        graft.functions.GraftFunctions
          .levenshtein_bp(col("a.cap_text"), col("b.cap_text")).cast("long"))
      .withColumn(
        "maxlen",
        greatest(length(col("a.cap_text")), length(col("b.cap_text"))).cast("long"))
      .withColumn(
        "edit_sim",
        when(col("maxlen") > 0, round(lit(1.0) - col("lev") / col("maxlen"), 6))
          .otherwise(lit(1.0)))
      .withColumn(
        "cls",
        when(col("jaccard") >= tau && col("edit_sim") >= tau, lit("both"))
          .when(col("jaccard") >= tau, lit("jaccard_only"))
          .when(col("edit_sim") >= tau, lit("edit_only"))
          .otherwise(lit("neither")))
      .groupBy(col("cls"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 4).as("avg_jaccard"),
        round(avg(col("edit_sim")), 4).as("avg_edit_sim"),
        round(max(abs(col("jaccard") - col("edit_sim"))), 4).as("max_gap"))
      .orderBy(col("cls"))
  }

  /** Normalization-aware dedup uplift — how many extra duplicate docs a
    * canonicalization pass (lowercase, collapse whitespace runs, trim)
    * surfaces over raw byte-identity (new r12): the C4/CCNet
    * normalize-before-hash step, priced per source. The corpus ships
    * pre-normalized, so the messy renditions real crawls carry (case
    * variants, doubled spaces, padding) are synthesized DETERMINISTICALLY
    * in-query (q72's synthetic-PII trick, both engines verbatim): each doc
    * gains an uppercased, double-spaced, edge-padded twin that raw md5
    * cannot collapse and normalized md5 must.
    *
    * Scale shape: normalization + both hashes are map-side codegen string
    * work next to the scan; the only shuffle is the per-source rollup
    * whose two countDistincts ride one Expand-based multi-distinct (q09's
    * machinery). At 100 TB this is scan-speed.
    */
  private def q131(t: Tables): DataFrame = {
    val docs = t.documents.select(col("source"), col("text"))
    val messy = docs.select(
      col("source"),
      concat(
        lit("  "),
        upper(regexp_replace(col("text"), lit(" "), lit("  "))),
        lit(" ")).as("text"))
    docs.union(messy)
      .withColumn("raw_h", md5(col("text")))
      .withColumn(
        "norm_h",
        md5(trim(regexp_replace(lower(col("text")), lit(" +"), lit(" ")))))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("distinct_raw"),
        countDistinct(col("norm_h")).as("distinct_norm"))
      .withColumn("uplift", col("distinct_raw") - col("distinct_norm"))
      .withColumn("uplift_share", round(col("uplift") / col("distinct_raw"), 4))
      .orderBy(col("source"))
  }

  /** Planted-duplicate recall audit (new r12 — the self-test a dedup
    * deployment runs to MEASURE its recall instead of trusting the
    * minhash formula: every other recall number in the family is
    * relative to the widest config (q116) or sample-bounded (q115);
    * here ground truth exists BY CONSTRUCTION): each doc gets a
    * deterministic perturbed twin (every k-th word replaced with a
    * doc-unique marker, k swept over {5, 10, 20} — heavier perturbation
    * = lower true Jaccard), and the audit reports, per k, how many
    * planted (doc, twin) pairs the LSH band stage would CANDIDATE (≥ 1
    * agreeing band signature) and how many the verify stage would
    * confirm (exact Jaccard ≥ 0.5) — measured recall on known positives,
    * the table that says whether `graft.lsh.bands` actually delivers at
    * each duplication strength.
    *
    * Scale shape: the planted pair is doc-keyed, so NOTHING joins — both
    * signature vectors and both shingle sets are computed in ONE
    * projection per (doc, arm) row and compared element-wise map-side
    * (zip_with band agreement, per-row array intersection); the only
    * shuffle is the |arms|-row rollup. Kernel work is (1 + |arms|) ×
    * corpus-linear. Per-pair Jaccards quantize to integer 1e-4 units and
    * the mean uses half-up integer division (q141's rule — no double
    * accumulation anywhere).
    */
  private def q142(t: Tables): DataFrame = {
    val arms = Seq(5, 10, 20)
    val nb = bands(t)
    val base = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("doc_id"), col("text"),
        graft.functions.GraftFunctions.minhash_sigs(col("text"), nb).as("so"),
        graft.functions.GraftFunctions.shingle_set(col("text")).as("sa"))
      .select(
        col("doc_id"), col("so"), col("sa"),
        explode(array(arms.map(k => struct(
          lit(k.toLong).as("k"),
          expr(
            s"""concat_ws(' ', transform(split(text, ' '),
               |  (w, i) -> IF(i % $k = 0, concat('zz', CAST(doc_id AS STRING)), w)))"""
              .stripMargin).as("pert"))): _*)).as("arm"))
      .select(col("doc_id"), col("so"), col("sa"), col("arm.k").as("k"), col("arm.pert").as("pert"))
      .withColumn("sp", graft.functions.GraftFunctions.minhash_sigs(col("pert"), nb))
      .withColumn("sb", graft.functions.GraftFunctions.shingle_set(col("pert")))
      .withColumn(
        "n_agree",
        expr("size(filter(zip_with(so, sp, (x, y) -> x = y), v -> v))").cast("long"))
      .withColumn("shared", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("na", size(col("sa")).cast("long"))
      .withColumn("nbs", size(col("sb")).cast("long"))
      .filter(col("na") + col("nbs") > col("shared")) // shingle-less pairs drop
      .withColumn(
        "j_e4",
        expr("CAST(round(CAST(shared AS DOUBLE) / (na + nbs - shared) * 10000, 0) AS BIGINT)"))
    base
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_planted"),
        sum(when(col("n_agree") >= 1, 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("j_e4") >= 5000L, 1L).otherwise(0L)).as("n_true_dups"),
        sum(when(col("n_agree") >= 1 && col("j_e4") >= 5000L, 1L).otherwise(0L))
          .as("n_recalled"),
        sum(col("j_e4")).as("sum_j_e4"))
      .select(
        col("k"), col("n_planted"), col("n_candidates"), col("n_true_dups"),
        when(col("n_true_dups") > 0, round(col("n_recalled") / col("n_true_dups"), 4))
          .as("recall"),
        (expr("(2 * sum_j_e4 + n_planted) DIV (2 * n_planted)") / 10000.0)
          .as("avg_jaccard"))
      .orderBy(col("k"))
  }

  /** Shared-head boilerplate detection (new r12 — the crawl-pipeline
    * complement of q89's line dedup: scraped pages from one template
    * share their OPENING — navigation, cookie banner, license header —
    * while their bodies differ, so whole-doc and line-level dedup both
    * under-report it): docs grouped by the md5 of their first
    * `graft.dedup.prefixWords` (default 8) words, corpus-WIDE (template
    * heads cross source boundaries), rolled up per source — distinct
    * heads, the largest head-sharing group, docs whose head is shared
    * (≥ 2 docs), and the shared-head share. A high share with low q35
    * exact-dup counts is the template signature.
    *
    * Scale shape: the prefix hash is map-side next to the scan; ONE
    * corpus-scale shuffle on the hash (partial agg collapses hot heads
    * map-side — the boilerplate head IS the hot key, and it arrives
    * pre-counted); membership re-joins hash-keyed (q89's
    * join-not-window); one source rollup.
    */
  private def q140(t: Tables): DataFrame = {
    val k = t.spark.conf.get("graft.dedup.prefixWords", "8").toInt
    require(k >= 1 && k <= 64, s"graft.dedup.prefixWords out of range: $k")
    val pre = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("doc_id"), col("source"),
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, k))).as("p"))
    val groups = pre.groupBy(col("p")).agg(count(lit(1)).as("n_docs_p"))
    pre
      .join(groups, Seq("p"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("p")).as("n_heads"),
        max(col("n_docs_p")).as("max_head_docs"),
        sum(when(col("n_docs_p") >= 2, 1L).otherwise(0L)).as("n_shared_head_docs"))
      .withColumn("shared_share", round(col("n_shared_head_docs") / col("n_docs"), 4))
      .orderBy(col("source"))
  }

  /** LSH band-count tuning table — the calibration consulted BEFORE
    * `graft.lsh.bands` was fixed (q114's sweep pattern applied to the
    * dedup family's own knob): for each candidate band budget, the
    * candidate-pair volume (the cost: pairs the verify stage must fetch),
    * verified pairs (exact Jaccard ≥ 0.5 among them), precision, and
    * recall relative to the widest budget swept. Band hashes form a
    * PREFIX family (band b's rehash depends only on b), so candidates at
    * fewer bands are a subset of candidates at more bands, and ONE kernel
    * pass at the current `graft.lsh.bands` prices every narrower budget:
    * a pair's `first_band` (smallest agreeing band) decides membership in
    * every config by a map-side comparison. No extra kernel work, no
    * extra pair join — the sweep costs exactly one q38.
    *
    * Scale shape: q38's candidate-bounded discipline verbatim (bucket
    * self-join on (band, sig), slim pair rows, two key-joins for shingle
    * sets); the sweep explode is |configs|×|pairs| straight into a
    * |configs|-row rollup. Recall is RELATIVE to the widest config (true
    * recall needs all-pairs ground truth — q41's cost); labeled as such.
    */
  private def q116(t: Tables): DataFrame = {
    val nb = bands(t)
    val cfgs = (Seq(2, 4) :+ nb).distinct.sorted
    pairStats(t)
      .withColumn("jaccard", pairJaccard)
      .filter(col("jaccard").isNotNull)
      .select(col("first_band"), col("jaccard"), explode(array(cfgs.map(lit(_)): _*)).as("bands"))
      .withColumn("cand", col("first_band") < col("bands"))
      .groupBy(col("bands"))
      .agg(
        sum(when(col("cand"), 1L).otherwise(0L)).as("n_candidates"),
        sum(when(col("cand") && col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_verified"),
        sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_verified_max"))
      .select(
        col("bands"), col("n_candidates"), col("n_verified"),
        when(col("n_candidates") > 0, round(col("n_verified") / col("n_candidates"), 4))
          .as("precision"),
        when(col("n_verified_max") > 0, round(col("n_verified") / col("n_verified_max"), 4))
          .as("recall"))
      .orderBy(col("bands"))
  }

  /** Dedup-threshold pricing — what each candidate Jaccard cutoff would
    * actually DELETE (q114's sweep pattern applied to the near-dup
    * decision): per τ, qualifying pairs, documents dropped under the
    * family's canonical keep-smallest-id rule (a doc is dropped iff it is
    * the larger id of ANY pair at ≥ τ — q35/q89's ownership, pair-local
    * so no connected components needed), the chars those docs carry, and
    * both as corpus shares. The table a curation run consults before
    * committing to 0.5: "0.7 keeps 3 more docs per thousand and leaves
    * this much boilerplate".
    *
    * Scale shape: one q38-cost candidate+verify pass; the τ explode is
    * |τ|×|pairs| into a distinct on (τ, doc) and a |τ|-row rollup; the
    * chars lookup joins the (slim) documents projection on the dropped
    * ids. The τ dimension rides a single-row cross join so all |τ| rows
    * appear even when a cutoff drops nothing.
    */
  private def q117(t: Tables): DataFrame = {
    val taus = Seq(0.5, 0.7, 0.9)
    val pairsJ = jaccardPairsAll(t)
    val tauOf = explode(array(taus.map(lit(_)): _*)).as("tau")
    val pairTau = pairsJ
      .select(tauOf, col("doc_b"), col("jaccard"))
      .filter(col("jaccard") >= col("tau"))
    val pairCounts = pairTau.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
    val chars = t.documents.select(col("doc_id"), col("n_chars"))
    val drops = pairTau
      .select(col("tau"), col("doc_b")).distinct()
      .join(chars, col("doc_b") === col("doc_id"))
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_docs_dropped"), sum(col("n_chars")).as("chars_dropped"))
    val totals = t.documents
      .agg(count(lit(1)).as("n_docs_total"), sum(col("n_chars")).as("chars_total"))
    totals
      .select(tauOf, col("n_docs_total"), col("chars_total"))
      .join(broadcast(pairCounts), Seq("tau"), "left")
      .join(broadcast(drops), Seq("tau"), "left")
      .select(
        col("tau"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_dropped"), lit(0L)).as("n_docs_dropped"),
        coalesce(col("chars_dropped"), lit(0L)).as("chars_dropped"),
        round(coalesce(col("n_docs_dropped"), lit(0L)) / col("n_docs_total"), 4).as("drop_share"),
        round(coalesce(col("chars_dropped"), lit(0L)) / col("chars_total"), 4).as("chars_share"))
      .orderBy(col("tau"))
  }

  /** q38's candidate+verify pairs WITHOUT the ≥0.5 cutoff — the τ-sweep's
    * input (every LSH candidate with its exact Jaccard).
    */
  private def jaccardPairsAll(t: Tables): DataFrame =
    pairStats(t)
      .withColumn("jaccard", pairJaccard)
      .filter(col("jaccard").isNotNull)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  // -- simhash: 16-bit, bit-majority over token md5s -------------------
  // The arithmetic is generated once and rendered to BOTH engines so the
  // semantics cannot drift. (A native 64-bit Catalyst Expression variant
  // lives in graft.functions.SimHash64.)

  private def hexval(c: String) =
    s"(CASE WHEN ascii($c) >= 97 THEN ascii($c) - 87 ELSE ascii($c) - 48 END)"

  // 16-bit int from the first 4 hex chars of md5(word)
  private def wordVal(h: String) =
    s"(${hexval(s"substr($h, 1, 1)")} * 4096 + ${hexval(s"substr($h, 2, 1)")} * 256 + " +
      s"${hexval(s"substr($h, 3, 1)")} * 16 + ${hexval(s"substr($h, 4, 1)")})"

  private def onesExprs(intDiv: String): Seq[String] =
    (0 until 16).map(j => s"sum((v $intDiv ${1 << j}) % 2) AS ones_$j")

  private val simhashExpr: String =
    "CAST(" + (0 until 16)
      .map(j => s"(CASE WHEN 2 * ones_$j >= nw THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ") + " AS BIGINT)"

  private def q39(t: Tables): DataFrame = {
    val words = Tables.localSplit(t.documents, col("doc_id"))
      .withColumn("w", explode(split(col("text"), " ")))
      .select(col("doc_id"), expr(wordVal("substr(md5(w), 1, 4)")).as("v"))
    val aggs = count(lit(1)).as("nw") +: onesExprs("div").map(e => expr(e.replace(" AS ", " AS ")))
    val bits = words
      .groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
    bits
      .select(col("doc_id"), expr(simhashExpr).as("simhash"))
      .withColumn("bucket", expr("CAST(simhash div 16 AS BIGINT)"))
      .orderBy(col("doc_id"))
  }

  /** Dup-cluster assignment: connected components over the verified
    * near-dup pairs (jaccard ≥ 0.5) — the step that turns pairwise LSH
    * output into "keep one per group" at corpus scale. Iterative min-label
    * propagation; each round is one shuffle and the loop converges in
    * O(component diameter) rounds (near-dup components are tiny, so ≤ the
    * fixed bound here; production graphs use the same loop with
    * large-star/small-star contraction).
    */
  private def cutLineage(df: DataFrame): DataFrame = graft.Iterate.cutLineage(df)

  // The component labels are a pure function of (corpus, bands, τ) —
  // like pairStats, the q62/q79/q147 consumers share one derivation per
  // session under graft.lsh.cache (primed and priced in Bench's prep).
  // exposed to [[graft.Curate]]: the near-dup stage drops exactly the
  // docs q62/q79 label as non-representatives of their component
  private[graft] def components(t: Tables): DataFrame =
    SessionCache.cached(t.spark, "components", t.dir, bands(t))(componentsDerive(t))

  private def componentsDerive(t: Tables): DataFrame = {
    val pairs = jaccardPairs(t).select(col("doc_a"), col("doc_b"))
    // materialize once: every loop action would otherwise re-run the whole
    // Jaccard pipeline through the edges lineage. Symmetrize with one
    // explode pass — a self-union would embed (and run) the Jaccard
    // pipeline's tail twice.
    val raw = pairs
      .select(
        explode(
          array(
            struct(col("doc_a").as("u"), col("doc_b").as("v")),
            struct(col("doc_b").as("u"), col("doc_a").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .persist()
    // the candidate-pair graph is orders of magnitude smaller than the
    // corpus — size the loop's partitioning to the measured edge count
    // (~250k edges/partition), not the session default, or fixed per-job
    // overhead dominates the tiny iterations; cap at session parallelism
    val maxParts = t.spark.conf.get("spark.sql.shuffle.partitions").toInt
    val nParts = math.min(math.max(maxParts, 4), math.max(4, (raw.count() / 250000L + 1).toInt))
    val edges = cutLineage(raw.repartition(nParts))
    raw.unpersist()
    val nodes = edges.select(col("u")).distinct()
    var labels = nodes.select(col("u"), col("u").as("comp"))
    var iter = 0
    var converged = false
    while (iter < 15 && !converged) {
      // min label among self and neighbours' labels
      val fromNeighbours = edges
        .join(labels.withColumnRenamed("u", "v2"), col("v") === col("v2"))
        .select(col("u"), col("comp"))
      val oneHop = labels
        .unionAll(fromNeighbours)
        .groupBy(col("u"))
        .agg(min(col("comp")).as("comp"))
      // path compression (pointer jumping): follow comp → label(comp)
      // inside the same round's job. Labels are node ids, label(c) ≤ c and
      // stays within the component, so the fixpoint (min node id per
      // component) is unchanged while convergence drops from O(diameter)
      // to O(log diameter) rounds.
      val next = oneHop
        .as("x")
        .join(
          oneHop.select(col("u").as("cu"), col("comp").as("ccomp")).as("m"),
          col("x.comp") === col("cu"),
          "left")
        .select(
          col("x.u").as("u"),
          least(col("x.comp"), coalesce(col("ccomp"), col("x.comp"))).as("comp"))
        .coalesce(nParts)
      // one scheduled job per round: the convergence probe doubles as the
      // action that materializes the (lazy) checkpoint. Round 0 cannot have
      // converged (any edge forces a label change), so it checkpoints
      // eagerly without the probe.
      val nextCp =
        if (iter == 0) cutLineage(next)
        else {
          val cp = graft.Iterate.cutLineageLazy(next)
          val changed = cp
            .join(labels.withColumnRenamed("comp", "old"), Seq("u"))
            .filter(col("comp") =!= col("old"))
            .limit(1)
            .count()
          converged = changed == 0
          cp
        }
      labels = nextCp
      iter += 1
    }
    labels.select(col("u").as("doc_id"), col("comp").as("component_id"))
  }

  private def q62(t: Tables): DataFrame =
    components(t).orderBy(col("doc_id"))

  /** Near-dup component-size histogram (new r12 — the shape readout over
    * q62's clusters: a dedup pass whose components are all pairs is
    * normal near-duplication; a giant component is a template/boilerplate
    * family (or an LSH threshold set too low) and deserves a human look
    * before keep-one deletes most of it): per component size, how many
    * components and how many docs they hold. Rides the verified q62
    * machinery unchanged; both rollups are component-table-scale (≪
    * corpus — only docs IN a component appear).
    */
  private def q147(t: Tables): DataFrame =
    components(t)
      .groupBy(col("component_id"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("sz"))
      .agg(count(lit(1)).as("n_components"))
      .withColumn("n_docs", col("sz") * col("n_components"))
      .orderBy(col("sz"))

  /** Dup-cluster span audit (the provenance readout over q62's
    * components, next to q147's size histogram): per (distinct sources,
    * distinct langs) a cluster spans, how many clusters and docs sit
    * there and the largest one. Single-source clusters are in-source
    * templates the source owner can fix upstream; cross-source clusters
    * are syndication/mirroring — the evidence that dedup MUST run
    * globally, never per source shard; cross-lang clusters flag
    * boilerplate that survives translation (markup, banners). Rides the
    * verified q62 machinery unchanged: the component table is
    * dup-bounded (≪ corpus), the provenance join is key-equi on doc_id,
    * and both rollups are cluster- then span-bounded.
    */
  private def q169(t: Tables): DataFrame =
    components(t)
      .join(t.documents.select(col("doc_id"), col("source"), col("lang")), Seq("doc_id"))
      .groupBy(col("component_id"))
      .agg(
        count(lit(1)).as("sz"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"))
      .groupBy(col("n_sources"), col("n_langs"))
      .agg(
        count(lit(1)).as("n_components"),
        sum(col("sz")).as("n_docs"),
        max(col("sz")).as("max_sz"))
      .orderBy(col("n_sources"), col("n_langs"))

  /** Per-source shingle-reuse audit — the within-source template-ness
    * rate at 3-gram granularity, between q140's prefix-window lens and
    * q113's corpus-wide ≥K-token windows: of each source's distinct
    * (doc, shingle) memberships, how many shingle TYPES recur across
    * docs and how much of the membership VOLUME those recurring types
    * own. A high occ share with a low type share is classic boilerplate
    * (few shared fragments, stamped everywhere); both high is a template
    * mill. Uses the SAME native [[graft.functions]] shingle kernel as
    * q38's verify stage (distinct within doc, computed map-side, no
    * explode of raw positions), so the numbers sit on the exact
    * vocabulary the dedup pass hashes.
    *
    * Scale shape: one corpus-scale (source, shingle) partial-aggregable
    * shuffle; the rollup is |source| rows; all ratios are half-up
    * integer divisions (q33's float discipline).
    */
  private def q171(t: Tables): DataFrame =
    Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("source"),
        explode(graft.functions.GraftFunctions.shingle_set(col("text"))).as("sh"))
      .groupBy(col("source"), col("sh"))
      .agg(count(lit(1)).as("df"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_shingle_types"),
        sum(col("df")).as("n_doc_shingles"),
        sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_reused_types"),
        sum(when(col("df") > 1, col("df")).otherwise(0L)).as("n_reused_occurrences"))
      .withColumn(
        "type_reuse_e4",
        expr("(2 * 10000 * n_reused_types + n_shingle_types) DIV (2 * n_shingle_types)"))
      .withColumn(
        "occ_reuse_e4",
        expr("(2 * 10000 * n_reused_occurrences + n_doc_shingles) DIV (2 * n_doc_shingles)"))
      .orderBy(col("source"))

  /** Leave-one-source-out content ablation — each source's MARGINAL
    * contribution to the corpus's distinct content, the "what do we lose
    * if we drop this feed" table a curation run consults before cutting
    * a source (the ablation twin of q92/q95's pairwise overlap): per
    * source, distinct word-3-shingle types, the types appearing in NO
    * other source (the content that disappears with it), the
    * leave-one-out corpus type count, the shared-content share (the
    * boilerplate indicator — high share means the source adds little
    * novel text), and the leave-one-out mean doc length with its delta
    * against the global mean (the delta rule: LOO aggregates are the
    * global totals minus the source's own, never a per-source recount).
    *
    * Scale shape: ONE shingle explode collapsing map-side onto
    * (shingle, source) — the q171 relation — then a shingle-keyed
    * multiplicity census; every downstream relation is |sources|- or
    * 1-row-bounded (two scalar broadcasts). All columns exact longs;
    * the share and the two means are half-up e6/e3 quantizations.
    */
  private def q276(t: Tables): DataFrame = {
    val shx = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("source"),
        explode(graft.functions.GraftFunctions.shingle_set(col("text"))).as("sh"))
      .groupBy(col("sh"), col("source")).agg(count(lit(1)).as("df"))
    val census = shx.groupBy(col("sh"))
      .agg(count(lit(1)).as("n_src"), min(col("source")).as("only_src"))
    val vTotal = census.agg(count(lit(1)).as("v_total"))
    val uniq = census.filter(col("n_src") === 1)
      .groupBy(col("only_src").as("source"))
      .agg(count(lit(1)).as("unique_types"))
    val perSrcTypes = shx.groupBy(col("source")).agg(count(lit(1)).as("n_types"))
    val corpus = t.documents
      .agg(count(lit(1)).as("n_all"), sum(col("n_chars")).as("sum_all"))
    t.documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_s"))
      .join(perSrcTypes, Seq("source"))
      .join(uniq, Seq("source"), "left")
      .crossJoin(broadcast(vTotal))
      .crossJoin(broadcast(corpus))
      .withColumn("unique_types", coalesce(col("unique_types"), lit(0L)))
      .withColumn("loo_types", col("v_total") - col("unique_types"))
      .withColumn("shared_share_e6", expr(
        "(2 * 1000000 * (n_types - unique_types) + n_types) DIV (2 * n_types)"))
      .withColumn("loo_mean_chars_e3", expr(
        "(2 * 1000 * (sum_all - sum_s) + (n_all - n_docs)) DIV (2 * (n_all - n_docs))"))
      .withColumn("delta_mean_e3", col("loo_mean_chars_e3") -
        expr("(2 * 1000 * sum_all + n_all) DIV (2 * n_all)"))
      .select(col("source"), col("n_docs"), col("n_types"), col("unique_types"),
        col("loo_types"), col("shared_share_e6"), col("loo_mean_chars_e3"),
        col("delta_mean_e3"))
      .orderBy(col("source"))
  }

  /** Token-budget mix plan: fractional knapsack by novelty density
    * (Dantzig 1957's greedy is OPTIMAL for linear utility with one
    * capacity — new r17 session 2, the allocation step between q276's
    * marginal audit and q65's mixing rates): given a char budget (40% of
    * the corpus), take sources in order of unique-shingle density until
    * the budget fills, the last source fractionally — the plan that
    * maximizes retained novel content per budgeted char. Per source:
    * rank, density e6, capacity, allocation, fully-taken flag.
    *
    * Scale shape: q276's one corpus-scale (shingle, source) census
    * feeds a |sources|-row plan relation; the ranking windows run on
    * that domain-bounded relation (|sources| rows — never the corpus);
    * the budget is a 1-row scalar broadcast. All integer; density and
    * nothing else quantizes (e6 half-up).
    */
  private def q285(t: Tables): DataFrame = {
    // r17: the (sh, source) rollup here was a third private derivation of
    // the distinct (source, shingle) relation q92/q95 already share — the
    // per-pair df count it computed was never read (uniq re-counts by sh).
    // Ride sourceShingles instead: under the bench's session cache the
    // corpus shingle explode + dedup shuffle now runs once for all three
    // consumers (sourceShingles' isNotNull is neutral here: source is
    // non-null by data generation at every SF, verified before the swap).
    val shx = sourceShingles(t)
    val uniq = shx.groupBy(col("sh"))
      .agg(count(lit(1)).as("n_src"), min(col("source")).as("only_src"))
      .filter(col("n_src") === 1)
      .groupBy(col("only_src").as("source"))
      .agg(count(lit(1)).as("unique_types"))
    val caps = t.documents.groupBy(col("source"))
      .agg(sum(col("n_chars")).cast("long").as("cap"))
    val tot = caps.agg(sum(col("cap")).as("total"))
    val wRank = Window.orderBy(col("density_e6").desc, col("source"))
    val wCum = wRank.rowsBetween(Window.unboundedPreceding, -1)
    caps.join(uniq, Seq("source"), "left")
      .withColumn("unique_types", coalesce(col("unique_types"), lit(0L)))
      .withColumn("density_e6",
        expr("(2 * 1000000 * unique_types + cap) DIV (2 * cap)"))
      .crossJoin(broadcast(tot))
      .withColumn("budget", expr("(total * 40) DIV 100"))
      .withColumn("rank", row_number().over(wRank))
      .withColumn("cum_before", coalesce(sum(col("cap")).over(wCum), lit(0L)))
      .withColumn("alloc",
        expr("greatest(0L, least(cap, budget - cum_before))"))
      .select(col("source"), col("rank"), col("density_e6"), col("cap"),
        col("alloc"), (col("alloc") === col("cap")).as("fully_taken"))
      .orderBy(col("rank"))
  }

  /** Cluster-representative selection audit — WHICH member keep-one
    * keeps matters (Lee et al. 2022 keep arbitrary; practitioners keep
    * the longest variant): against q62's verified near-dup components,
    * price both policies — arbitrary (min doc_id, q79's rule) vs
    * longest (max chars) — on chars retained and on distinct-shingle
    * coverage of the clustered content (the share of the clusters'
    * union content the kept representatives still contain). Per policy:
    * clusters, chars total/kept, shingle types total/covered, coverage
    * e6 — the table that justifies (or refutes) a keep-longest default.
    *
    * Scale shape: rides the session-cached component relation (docs IN
    * components only — candidate-bounded, ≪ corpus); per-cluster picks
    * are component-partitioned window ranks; the shingle coverage join
    * explodes ONLY member docs. All integer.
    */
  private def q286(t: Tables): DataFrame = {
    val mem = components(t)
      .join(t.documents.select(col("doc_id"), col("n_chars"), col("text")), Seq("doc_id"))
    val keeps = Seq(
      ("arbitrary", Window.partitionBy(col("component_id")).orderBy(col("doc_id"))),
      ("longest", Window.partitionBy(col("component_id"))
        .orderBy(col("n_chars").desc, col("doc_id").desc)))
      .map { case (name, w) =>
        mem.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(lit(name).as("policy"), col("doc_id"), col("n_chars"))
      }.reduce(_ unionByName _)
    val shMem = mem.select(col("doc_id"),
      explode(graft.functions.GraftFunctions.shingle_set(col("text"))).as("sh"))
    val totals = mem
      .agg(sum(col("n_chars")).as("chars_total"),
        countDistinct(col("component_id")).as("n_clusters"))
      .crossJoin(shMem.agg(countDistinct(col("sh")).as("types_total")))
    keeps.join(shMem, Seq("doc_id"))
      .groupBy(col("policy"))
      .agg(countDistinct(col("sh")).as("types_covered"))
      .join(keeps.groupBy(col("policy"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept")),
        Seq("policy"))
      .crossJoin(broadcast(totals))
      .withColumn("coverage_e6",
        expr("(2 * 1000000 * types_covered + types_total) DIV (2 * types_total)"))
      .select(col("policy"), col("n_clusters"), col("n_kept"), col("chars_total"),
        col("chars_kept"), col("types_total"), col("types_covered"), col("coverage_e6"))
      .orderBy(col("policy"))
  }

  /** Dup-graph transitivity audit (Watts & Strogatz 1998's global
    * clustering coefficient, on the dedup pass's own graphs): for the
    * LSH candidate graph and its Jaccard-verified subgraph, nodes,
    * edges, wedges (Σ d(d−1)/2), triangles, and transitivity
    * 3·triangles/wedges. The comparison is the readout: verified-graph
    * transitivity far above the candidate graph's means verification
    * prunes accidental band-collision wedges and keeps clique-like
    * template families (q147's giant components will be dense); a LOW
    * verified transitivity is chain-shaped near-duplication (drift
    * copies) where keep-one-per-component (q79) deletes docs that were
    * never pairwise similar — the signal to re-cluster at a higher τ.
    *
    * Both edge sets are filters of the session-cached pairStats
    * relation (a < b by construction). Wedge counts are a degree agg;
    * triangles enumerate ordered (a < b < c) via one wedge join plus a
    * closing-edge semi-join — work Σ d², candidate-bounded (the q62/
    * q101 Σ|cluster|² class), never corpus². All-integer end to end.
    */
  /** Blocking-scheme benchmark (Christen 2012's indexing survey is the
    * standard framing) — the table an entity-resolution deployment
    * consults BEFORE choosing its blocking key, pricing four candidate
    * schemes (lang, 100-char length bucket, 16-char head, the production
    * minhash band-0 signature) on the two axes that matter at 100 TB:
    * REDUCTION RATIO (how much of the n²/2 pair space the scheme
    * refuses to generate — the cost axis) and PAIRS COMPLETENESS (the
    * share of Jaccard-verified true dup pairs whose endpoints share a
    * block — the recall axis), plus pair quality (precision of the
    * candidate set). The readout: a head/band block with RR ≈ 1 and
    * PC ≈ 1 dominates a lang block whose RR is poor at equal recall.
    *
    * Exactness: candidate-pair counts are exact block combinatorics
    * Σ c(c−1)/2 (longs); truth is q277's integer label (3·shared ≥
    * nshₐ+nshᵦ) on the candidate-bounded pairStats relation; the three
    * rates are half-up e6. Scale shape: ONE corpus-scale exchange — the
    * 4-scheme (scheme, key) rollup, fed by a map-side explode — prices
    * every scheme's block histogram without materializing ANY candidate
    * pair (the whole point: cost is priced before it is paid, q180/q204's
    * discipline); truth capture joins the ≤|verified| pair relation onto
    * slim per-doc keys; scalars (truth size, n(n−1)/2) are 1-row
    * broadcasts (q232's class).
    */
  private def q279(t: Tables): DataFrame = {
    val sigs = Tables.localSplit(t.documents, col("doc_id"))
      .select(col("doc_id"),
        element_at(graft.functions.GraftFunctions.minhash_sigs(col("text"), bands(t)), 1)
          .cast("string").as("band0"))
    val keys = t.documents
      .select(col("doc_id"), col("lang"),
        expr("CAST(n_chars DIV 100 AS STRING)").as("lenb"),
        substring(col("text"), 1, 16).as("head16"))
      .join(sigs, Seq("doc_id"))
      .select(col("doc_id"), explode(map(
        lit("lang"), col("lang"), lit("len_bucket"), col("lenb"),
        lit("head16"), col("head16"), lit("minhash_band0"), col("band0")))
        .as(Seq("scheme", "key")))
    val cand = keys.groupBy(col("scheme"), col("key")).agg(count(lit(1)).as("c"))
      .groupBy(col("scheme"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("(c * (c - 1)) DIV 2")).as("cand_pairs"))
    val truth = pairStats(t)
      .filter(col("nsh_a") + col("nsh_b") > col("shared"))
      .filter(col("shared") * 3 >= col("nsh_a") + col("nsh_b"))
      .select(col("doc_a"), col("doc_b"))
    val cap = truth
      .join(keys.as("ka"), col("doc_a") === col("ka.doc_id"))
      .join(keys.as("kb"),
        col("doc_b") === col("kb.doc_id") && col("ka.scheme") === col("kb.scheme"))
      .groupBy(col("ka.scheme").as("scheme"))
      .agg(sum(when(col("ka.key") === col("kb.key"), 1L).otherwise(0L)).as("captured"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    val tot = t.documents.agg(expr("(count(1) * (count(1) - 1)) DIV 2").as("total_pairs"))
    cand.join(cap, Seq("scheme"))
      .crossJoin(broadcast(nTruth))
      .crossJoin(broadcast(tot))
      .withColumn("rr_e6", expr(
        "(2 * 1000000 * (total_pairs - cand_pairs) + total_pairs) DIV (2 * total_pairs)"))
      .withColumn("pc_e6", expr("(2 * 1000000 * captured + n_truth) DIV (2 * n_truth)"))
      .withColumn("pq_e6", expr(
        "CASE WHEN cand_pairs > 0 " +
          "THEN (2 * 1000000 * captured + cand_pairs) DIV (2 * cand_pairs) ELSE 0L END"))
      .select(col("scheme"), col("n_blocks"), col("cand_pairs"), col("rr_e6"),
        col("captured"), col("pc_e6"), col("pq_e6"))
      .orderBy(col("scheme"))
  }

  /** Fellegi–Sunter probabilistic record-linkage calibration (Fellegi &
    * Sunter 1969 JASA; Winkler 2006's survey is the modern standard) —
    * the scorer behind every entity-resolution system, here trained and
    * evaluated on the dedup pass's own candidate pairs: per comparison
    * field f (lang, source, length bucket, 16-char head), estimate
    * m_f = P(agree | dup) from the Jaccard-verified pairs and
    * u_f = P(agree | non-dup) from the rest (Laplace-smoothed), score
    * every LSH candidate pair by Σ_f ln(m/u) over agreeing fields +
    * Σ_f ln((1−m)/(1−u)) over disagreeing, and report the calibration
    * table per 2.0-wide log-likelihood band: pairs, verified dups, dup
    * share — a calibrated scorer shows dup share rising monotonically
    * with the band (the evidence the match/non-match thresholds are
    * set from).
    *
    * Exactness: the dup label is integer (jaccard ≥ 0.5 ⇔ 3·shared ≥
    * nsh_a+nsh_b); each weight is ONE ln of a ratio of exact integer
    * products quantized e4 half-up (q102's discipline), so per-pair
    * scores are long sums; bands are floor divisions of min-shifted
    * (non-negative) scores — engine-identical.
    *
    * Scale shape: pairs ride the session-cached candidate-bounded
    * [[pairStats]] relation (never corpus²); the four attributes join
    * onto the slim pair keys (AQE-sized); the m/u count table, the
    * 8-weight relation and the score min are 1-row broadcasts (q232's
    * scalar class); the band rollup is ≤ dozens of keys.
    */
  private def q277(t: Tables): DataFrame = {
    val attrs = t.documents.select(
      col("doc_id"), col("lang"), col("source"),
      expr("n_chars DIV 100").as("lenb"), substring(col("text"), 1, 16).as("head"))
    val labeled = pairStats(t)
      .filter(col("nsh_a") + col("nsh_b") > col("shared"))
      .select(col("doc_a"), col("doc_b"),
        (col("shared") * 3 >= col("nsh_a") + col("nsh_b")).as("dup"))
      .join(attrs.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(attrs.as("fb"), col("doc_b") === col("fb.doc_id"))
      .select(col("dup"),
        (col("fa.lang") === col("fb.lang")).as("ag1"),
        (col("fa.source") === col("fb.source")).as("ag2"),
        (col("fa.lenb") === col("fb.lenb")).as("ag3"),
        (col("fa.head") === col("fb.head")).as("ag4"))
    val fields = Seq("1", "2", "3", "4")
    val cntCols =
      Seq(sum(when(col("dup"), 1L).otherwise(0L)).as("m_tot"),
        count(lit(1)).as("all_tot")) ++
        fields.flatMap(f => Seq(
          sum(when(col("dup") && col(s"ag$f"), 1L).otherwise(0L)).as(s"am$f"),
          sum(when(!col("dup") && col(s"ag$f"), 1L).otherwise(0L)).as(s"au$f")))
    val cnt = labeled.agg(cntCols.head, cntCols.tail: _*)
      .withColumn("u_tot", col("all_tot") - col("m_tot"))
    // one ln of a ratio of exact integer products per weight (e4 half-up)
    val weights = cnt.select(
      fields.flatMap(f => Seq(
        expr(s"CAST(floor(10000 * ln(((am$f + 1) * (u_tot + 2)) / " +
          s"((m_tot + 2) * (au$f + 1))) + 0.5) AS BIGINT)").as(s"wa$f"),
        expr(s"CAST(floor(10000 * ln(((m_tot + 1 - am$f) * (u_tot + 2)) / " +
          s"((m_tot + 2) * (u_tot + 1 - au$f))) + 0.5) AS BIGINT)").as(s"wd$f"))): _*)
    val scored = labeled.crossJoin(broadcast(weights))
      .withColumn("score",
        fields.map(f => when(col(s"ag$f"), col(s"wa$f")).otherwise(col(s"wd$f")))
          .reduce(_ + _))
    val smin = scored.agg(min(col("score")).as("smin"))
    scored.crossJoin(broadcast(smin))
      .withColumn("band", expr("(score - smin) DIV 20000"))
      .withColumn("lo_e4", col("smin") + col("band") * 20000L)
      .groupBy(col("band"), col("lo_e4"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_share_e6",
        expr("(2 * 1000000 * n_dup + n_pairs) DIV (2 * n_pairs)"))
      .orderBy(col("band"))
  }

  private def q172(t: Tables): DataFrame = {
    // r17: six consumers of `edges` (degree union ×2, the edge count,
    // and all three legs of the triangle join) each re-derived the
    // signature/verify chain — checkpoint the candidate-bounded edge
    // list once and let every leg scan the materialized relation.
    val edges = graft.Iterate.cutLineage(
      pairStats(t)
        .select(col("doc_a").as("a"), col("doc_b").as("b"), lit("candidates").as("graph"))
        .unionAll(
          jaccardPairs(t)
            .select(col("doc_a").as("a"), col("doc_b").as("b"), lit("verified").as("graph"))))
    val deg = edges.select(col("graph"), col("a").as("x"))
      .unionAll(edges.select(col("graph"), col("b").as("x")))
      .groupBy(col("graph"), col("x"))
      .agg(count(lit(1)).as("d"))
    val nodesWedges = deg
      .groupBy(col("graph"))
      .agg(
        count(lit(1)).as("n_nodes"),
        sum(expr("(d * (d - 1)) DIV 2")).as("n_wedges"))
    val edgeCounts = edges.groupBy(col("graph")).agg(count(lit(1)).as("n_edges"))
    val triangles = edges.as("e1")
      .join(
        edges.as("e2"),
        col("e1.graph") === col("e2.graph") && col("e1.b") === col("e2.a"))
      .join(
        edges.as("e3"),
        col("e1.graph") === col("e3.graph") && col("e1.a") === col("e3.a") &&
          col("e2.b") === col("e3.b"))
      .groupBy(col("e1.graph").as("graph"))
      .agg(count(lit(1)).as("n_triangles"))
    edgeCounts
      .join(nodesWedges, Seq("graph"))
      .join(triangles, Seq("graph"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .withColumn(
        "transitivity_e4",
        expr("CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 10000 * 3 * n_triangles + n_wedges) DIV (2 * n_wedges) END"))
      .select(
        col("graph"), col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"), col("transitivity_e4"))
      .orderBy(col("graph"))
  }

  /** Degree-assortativity audit of the dedup pass's own graphs (Newman
    * 2002's r coefficient, r16 wave 9 — the last unread structural
    * number next to q172's transitivity, q147's component sizes and
    * q169's spans: do high-degree duplicates attach to OTHER
    * high-degree duplicates?): for the LSH candidate graph and its
    * Jaccard-verified subgraph side by side, nodes, edges, max degree,
    * and r in e6 — strongly positive r marks a core-periphery template
    * family (one mega-hub of mutual near-dups, the re-cluster-at-
    * higher-τ signal q172 reads from LOW transitivity), negative r the
    * star-shaped boilerplate pattern where one canonical page is copied
    * by many otherwise-unrelated docs (keep-one dedup is cheap there).
    *
    * Exactness: r multiplies out to the all-integer
    * (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²) over per-edge
    * endpoint degrees; the one signed e6 division splits into
    * sign·half-up-on-abs (Spark DIV truncates where DuckDB // floors —
    * never divide a signed integer). The degree products run in
    * DECIMAL(38,0), exact past ~10¹⁸ (q163's guard pattern). Constant-degree
    * graphs have den = 0 and report r = 0, declared.
    *
    * Scale shape: both edge sets filter the session-cached pairStats
    * relation (candidate-bounded, never corpus²); degrees are one agg
    * over edge endpoints; the two degree fetches join back edge-keyed;
    * everything after is a |graphs|-row fold.
    */
  /** PageRank over the LSH candidate graph (Brin & Page 1998; 3 damped
    * iterations, d = 0.85 — new r17, the GRAPH-CENTRALITY closure of the
    * dup-graph family: q62 labels components, q147/q169 size them, q172
    * measures transitivity, q212 degree mixing; this ranks WHICH
    * documents sit at the center of the duplication structure — the
    * boilerplate hubs a curation pass should inspect first, where raw
    * degree (q212's axis) over-counts tight cliques): per node of the
    * candidate-pair graph, degree and the e6 rank after 3 synchronous
    * iterations from the uniform start, top-50 by rank.
    *
    * Exactness: ranks live in e6 longs; each neighbor contribution
    * 0.85·r(u)/deg(u) half-up-rounds PER TERM — (2·850000·r +
    * 10⁶·deg) DIV (2·10⁶·deg) — then sums exactly (q209's rule), plus
    * the teleport (2·150000 + N) DIV (2·N); every quantity is ≥ 0, so
    * Spark's truncating DIV and DuckDB's floor `//` agree. The
    * undirected graph has no dangling nodes (every node has its own
    * edges back), so no leaked-mass correction is needed.
    *
    * Scale shape: UNLIKE the |types|²-bounded q209/q220 chains, this
    * graph is data-scale — so the iteration stays IN THE ENGINE: three
    * unrolled edge-keyed join+agg rounds over the candidate-bounded
    * edge list (each exchange is |edges| rows, never corpus²), the
    * node/degree relations broadcast-scale joins, and the session
    * pairStats cache feeds the edge list like every verify-family
    * consumer. Top-50 is TakeOrderedAndProject.
    */
  private def q263(t: Tables): DataFrame = {
    val edges = lshCandidates(t).select(col("doc_a"), col("doc_b"))
    // ONE LSH derivation feeds all three iterations: the directed edge
    // list is checkpointed (candidate-bounded — q248's class) so the
    // unrolled rounds join a materialized relation instead of
    // re-printing (and without the session cache, re-paying) the
    // signature chain once per consuming branch. r17: checkpointed
    // PRE-PARTITIONED and PRE-SORTED on src (localCheckpoint preserves
    // outputPartitioning/ordering through LogicalRDD), so the rank join
    // of EVERY round and the degree rollup need no edge-side exchange
    // or sort — three per-round edge shuffles collapse into this one
    // (guide §2.4: operations keyed the same way share one exchange);
    // each round pays only the slim (dst, c) contrib shuffle that
    // pagerank fundamentally requires.
    val dir = graft.Iterate.cutLineage(
      edges
        .unionAll(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .repartition(col("src"))
        .sortWithinPartitions(col("src")))
    // exchange-free on dir's src partitioning
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // |nodes| is a 1-row control-plane scalar: folding it in as a literal
    // (through the audited bounded-gather seam) removes the per-round
    // broadcast exchange + join the old plan paid four times. Scala Long
    // division truncates exactly like Spark's DIV on these non-negative
    // values, so the initial vector and the teleport term are
    // bit-identical to the old in-plan expressions.
    val nn = graft.Iterate
      .gatherBoundedMatrix(deg.agg(count(lit(1)).as("nn")), 1, "q263 node count")
      .head.getLong(0)
    // empty candidate graph (a corpus with no LSH pairs): the old
    // plan-side `DIV nn` degraded to an empty result; the driver-side
    // fold must not turn that into an ArithmeticException at build time
    // (r17 ADVICE) — return the empty ranked relation directly
    if (nn == 0L)
      return deg.select(
        col("src").as("doc_id"), col("deg").as("degree"), lit(0L).as("pr_e6"))
    val teleport = (2L * 150000L + nn) / (2L * nn)
    var r = deg.select(col("src").as("node"), col("deg"), lit(1000000L / nn).as("r"))
    for (_ <- 1 to 3) {
      val contrib = dir
        .join(
          r.select(col("node").as("src"), col("deg").as("sdeg"), col("r").as("sr")),
          Seq("src"))
        .select(
          col("dst").as("node"),
          expr("(2 * 850000 * sr + 1000000 * sdeg) DIV (2 * 1000000 * sdeg)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      // cut lineage per round (node-scale relation): the rank vector's
      // plan would otherwise double per iteration — both the contrib
      // branch and the teleport/base branch re-print it (q62's loop
      // discipline; 3 rounds measured 24 textual exchanges uncut, 7 cut)
      r = graft.Iterate.cutLineage(
        r.select(col("node"), col("deg"))
          .join(contrib, Seq("node"), "left")
          .withColumn("r", lit(teleport) + coalesce(col("contrib"), lit(0L)))
          .select(col("node"), col("deg"), col("r")))
    }
    r.select(col("node").as("doc_id"), col("deg").as("degree"), col("r").as("pr_e6"))
      .orderBy(col("pr_e6").desc, col("doc_id"))
      .limit(50)
  }

  /** Leakage-FREE group split assignment (scikit-learn's GroupShuffleSplit
    * discipline applied to dup clusters — new r17, the FIX the
    * leakage-measurement family diagnoses the need for: q120/q143/q146
    * quantify how much a naive per-doc split leaks through near-dup
    * windows, q110 the distribution shift; this is the OPERATOR that
    * makes the leak structurally zero — hash the dup-cluster LABEL, not
    * the document, so a cluster's members can never straddle splits):
    * per assignment method (naive doc-hash vs cluster-aware), the
    * train/val/test doc counts, clusters, clusters SPANNING splits and
    * the docs inside them — cluster_aware spanning is 0 BY CONSTRUCTION
    * (spec-pinned), while the naive row shows the live leak surface.
    * Singleton docs (outside the dup graph) are their own cluster, so
    * both methods agree on them and the 80/10/10 shape is preserved.
    *
    * Determinism: the split hash is q64's seedless Knuth multiplicative
    * form verbatim, applied to doc_id or the cluster's min-label id;
    * components are q62's (min-label propagation ≡ the oracle's
    * recursive reachability min).
    *
    * Scale shape: q62's component machinery (session-cached; its loop
    * runs on checkpointed edges outside this plan, q147's class) + one
    * left join onto the corpus + a (method, cluster) rollup and the
    * 2-row method fold — everything after the components is
    * corpus-linear, keyed on cluster.
    */
  private def q265(t: Tables): DataFrame = {
    def splitOf(c: Column): Column = {
      val h = c % lit(2147483647L) * lit(2654435761L) % lit(100L)
      when(h < 80, "train").when(h < 90, "val").otherwise("test")
    }
    val docs = t.documents.select(col("doc_id"))
      .join(
        components(t).select(col("doc_id"), col("component_id")), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("component_id"), col("doc_id")))
    val long = docs
      .select(col("doc_id"), col("cluster"), lit("naive").as("method"),
        splitOf(col("doc_id")).as("split"))
      .unionAll(docs.select(col("doc_id"), col("cluster"), lit("cluster_aware").as("method"),
        splitOf(col("cluster")).as("split")))
    long
      .groupBy(col("method"), col("cluster"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("split")).as("n_splits"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("tr"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("va"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("te"))
      .groupBy(col("method"))
      .agg(
        sum(col("tr")).as("n_train"),
        sum(col("va")).as("n_val"),
        sum(col("te")).as("n_test"),
        count(lit(1)).as("n_clusters"),
        sum(when(col("n_splits") > 1, 1L).otherwise(0L)).as("spanning_clusters"),
        sum(when(col("n_splits") > 1, col("n_docs")).otherwise(0L)).as("docs_in_spanning"))
      .orderBy(col("method"))
  }

  private def q212(t: Tables): DataFrame = {
    val big: Column => Column = _.cast("decimal(38,0)")
    // r17: `edges` feeds three branches and `deg` three consumers
    // (nodeStats + both endpoint-degree joins) — un-checkpointed, every
    // consumer re-paid the signature/verify derivation and the
    // endpoint-union shuffle. Both relations are candidate-bounded
    // (never corpus²); checkpointing each once turns the plan into one
    // edge materialization + one degree shuffle + the final edge-keyed
    // joins.
    val edges = graft.Iterate.cutLineage(
      pairStats(t)
        .select(col("doc_a").as("a"), col("doc_b").as("b"), lit("candidates").as("graph"))
        .unionAll(
          jaccardPairs(t)
            .select(col("doc_a").as("a"), col("doc_b").as("b"), lit("verified").as("graph"))))
    val deg = graft.Iterate.cutLineage(
      edges.select(col("graph"), col("a").as("x"))
        .unionAll(edges.select(col("graph"), col("b").as("x")))
        .groupBy(col("graph"), col("x"))
        .agg(count(lit(1)).as("d")))
    val nodeStats = deg
      .groupBy(col("graph"))
      .agg(count(lit(1)).as("n_nodes"), max(col("d")).as("max_degree"))
    val sums = edges
      .join(deg.select(col("graph").as("g1"), col("x"), col("d").as("da")),
        col("graph") === col("g1") && col("a") === col("x"))
      .drop("g1", "x")
      .join(deg.select(col("graph").as("g2"), col("x"), col("d").as("db")),
        col("graph") === col("g2") && col("b") === col("x"))
      .groupBy(col("graph"))
      .agg(
        count(lit(1)).as("m_edges"),
        sum(big(col("da")) * col("db")).as("sjk"),
        sum(col("da") + col("db")).as("sj"),
        sum(big(col("da")) * col("da") + big(col("db")) * col("db")).as("s2"))
    nodeStats
      .join(sums, Seq("graph"))
      .withColumn("num", lit(4) * col("m_edges") * col("sjk") - big(col("sj")) * col("sj"))
      .withColumn("den", lit(2) * col("m_edges") * col("s2") - big(col("sj")) * col("sj"))
      .withColumn(
        "assort_e6",
        expr("""CASE WHEN den = 0 THEN CAST(0 AS BIGINT)
          | WHEN num >= 0 THEN CAST((2 * 1000000 * num + den) DIV (2 * den) AS BIGINT)
          | ELSE CAST(-((2 * 1000000 * (-num) + den) DIV (2 * den)) AS BIGINT)
          | END""".stripMargin))
      .select(
        col("graph"), col("n_nodes"), col("m_edges").as("n_edges"),
        col("max_degree"), col("assort_e6"))
      .orderBy(col("graph"))
  }

  /** LSH band-bucket occupancy audit — the SHUFFLE-COST forecast for the
    * dedup pass itself: per band, how many (band, sig) buckets exist, the
    * hottest bucket, the singleton share, and Σ b(b−1)/2 — the EXACT
    * candidate-pair volume the q37 self-join will produce. This is the
    * number every "candidate-bounded" budget in this module leans on,
    * measured instead of assumed: a hot bucket here is tomorrow's skewed
    * reducer (AQE skew-split feeds on this distribution), and the
    * pred_pairs column is the capacity-planning input for the verify
    * stage's cluster sizing at 100 TB. Same native minhash kernel as
    * q36/q37; one (band, sig) agg (partial map-side), |bands|-row rollup.
    */
  private def q180(t: Tables): DataFrame =
    Tables.localSplit(t.documents, col("doc_id"))
      .select(
        posexplode(graft.functions.GraftFunctions.minhash_sigs(col("text"), bands(t)))
          .as(Seq("band", "sig")))
      .groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("b"))
      .groupBy(col("band").cast("long").as("band"))
      .agg(
        count(lit(1)).as("n_buckets"),
        sum(col("b")).as("n_docs"),
        max(col("b")).as("max_bucket"),
        sum(expr("(b * (b - 1)) DIV 2")).as("pred_pairs"),
        sum(when(col("b") === 1, 1L).otherwise(0L)).as("n_singletons"))
      .withColumn(
        "singleton_share_e4",
        expr("(2 * 10000 * n_singletons + n_buckets) DIV (2 * n_buckets)"))
      .orderBy(col("band"))

  /** Window-size sweep for the exact-substring detector — q113's audit at
    * K ∈ {4, 8, 16} side by side: total windows, repeated windows, the
    * dup share (e4), docs flagged. The table that PICKS K before the
    * window store is provisioned at 100 TB: smaller K detects shorter
    * repeats at a strictly-larger index (every repeated 2K-window
    * contains repeated K-windows, so flagged docs are monotone in K —
    * spec-pinned); the knee of this curve is where the recall stops
    * paying for the index bytes. Three explode branches (one per K)
    * union into one stream; each (K, hash) agg partial-aggregates
    * map-side; rollups are |K|-row. Formulation ADJUDICATED with the
    * Time A/B knob: a fused single-scan draft (concat of three tagged
    * transform arrays, one explode) measured ~2× SLOWER (4.7-5.2 s vs
    * 2.3 s solo min at sf0.1, interleaved runs) — the concat
    * materializes all three window arrays per row before the explode,
    * tripling row width through the projection, while the union streams
    * each explode independently; re-reading the (cached-hot) scan three
    * times is the cheaper side of that trade.
    */
  private def q187(t: Tables): DataFrame = {
    val ks = Seq(4, 8, 16)
    val pos = ks.map { k =>
      Tables.localSplit(t.documents, col("doc_id"))
        .select(lit(k.toLong).as("k"), col("doc_id"), explode(windowHashes(k)).as("h"))
    }.reduce(_ unionAll _)
    // r17: the old three-branch shape (repeated-hash agg + totals agg +
    // semi-join back) re-derived `pos` per branch — NINE corpus window
    // explodes and two position-scale (k, h) shuffles. One count window
    // over (k, h) tags every occurrence with its hash's multiplicity in
    // a single derivation + single position-scale exchange; totals,
    // dup-occurrence counts and affected-doc counts all fold off that
    // one stream (count DISTINCT ignores the null the `when` leaves on
    // non-repeated rows, reproducing the old left-join + fill-0 exactly).
    val wOcc = Window.partitionBy(col("k"), col("h"))
    pos
      .withColumn("n_occ", count(lit(1)).over(wOcc))
      .groupBy(col("k"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_windows"),
        countDistinct(when(col("n_occ") > 1, col("doc_id"))).as("n_docs_affected"))
      .withColumn(
        "dup_share_e4",
        expr("(2 * 10000 * n_dup_windows + n_windows) DIV (2 * n_windows)"))
      .orderBy(col("k"))
  }

  /** Copy flow matrix — WHO copies WHOM: for every near-dup component
    * (q62), the ORIGIN's source (the component label IS the minimum
    * member doc_id — the keep-one canonical q79/q183 retain) × each
    * other member's source, with copy and component counts. The
    * directional complement of q92's symmetric shingle overlap and
    * q169's span histogram: a heavy off-diagonal row is a mirror site
    * to cut at INGEST (cheaper than dedup ever is), a heavy diagonal is
    * in-source re-crawling. Rides the verified q62 machinery unchanged;
    * both joins are component-keyed and dup-bounded; the matrix is
    * ≤ |sources|² rows.
    */
  private def q188(t: Tables): DataFrame = {
    val labeled = components(t)
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
    val origins = labeled
      .filter(col("doc_id") === col("component_id"))
      .select(col("component_id").as("cid"), col("source").as("src_from"))
    labeled
      .filter(col("doc_id") =!= col("component_id"))
      .join(origins, col("component_id") === col("cid"))
      .groupBy(col("src_from"), col("source").as("src_to"))
      .agg(count(lit(1)).as("n_copies"), countDistinct(col("component_id")).as("n_groups"))
      .orderBy(col("src_from"), col("src_to"))
  }

  /** Bloom-filter calibration audit (Bloom 1970) — MEASURED false-positive
    * rates for the membership filter a 100 TB dedup deployment puts in
    * front of its exact-hash index (a DedupIndex probe that can answer
    * "definitely new" from an in-memory bit array skips the store read
    * entirely). Members are the BASE corpus's distinct content hashes —
    * the same base/incoming split q107's delta-dedup path runs on
    * (`graft.delta.incoming`, default src1%), so the filter being
    * calibrated is exactly the one q107's `graft.delta.bloom` fast path
    * builds over the base hash set. Probes are the incoming batch's
    * hashes MINUS true members, so every probe hit is a false positive
    * by construction. Three (m, k) configs sweep the size/accuracy
    * trade: observed fill ratio and FPR per config, ALL-integer (no
    * pow/exp theory column — the measured number is the one that
    * matters and the only one two engines agree on exactly).
    *
    * With `graft.delta.index` set (r16, the ledger's 17th store
    * consumer), the member half READS the stored hash family from the
    * [[graft.sources.DedupIndex]] LSM instead of re-deriving it from the
    * base corpus — the production shape, where the calibration audit
    * prices the filter against the index it would actually front. The
    * stored `h` is the same md5 hex the derived path hashes, so hv =
    * hexint32(h) and store-backed ≡ derived (DedupIndexSpec pins it).
    *
    * Hashing: position i of hash hv is bandHash(i, hv) mod m — the same
    * one-strong-hash linear-rehash family the minhash bands use
    * (hexint32 of md5(text), both engines verbatim). Scale shape: bit
    * tables are distinct (config, pos) ≤ Σm rows; probe work is
    * k·|probes| positions joined on the (config, pos) key; per-probe
    * verdicts partial-aggregate onto the probe hash.
    */
  // (m bits, k hashes) sweep shared by q181 and its oracle renderer
  private val bloomConfigs = Seq((4096, 2), (16384, 3), (65536, 5))

  private def q181(t: Tables): DataFrame = {
    val configs = bloomConfigs
    val incoming = t.spark.conf.get("graft.delta.incoming", "src1%")
    require(incoming.nonEmpty && !incoming.contains("'"),
      s"graft.delta.incoming invalid: $incoming")
    val hv = s"(${hexint32("md5(text)")})"
    val docs = Tables.localSplit(t.documents, col("doc_id"))
      .select(col("doc_id"), expr(hv).as("hv"), col("source").like(incoming).as("incoming"))
    val indexDir = t.spark.conf.get("graft.delta.index", "")
    val members =
      if (indexDir.isEmpty)
        docs.filter(!col("incoming")).select(col("hv")).distinct()
      else
        graft.sources.DedupIndex.hashes(t.spark, indexDir)
          .select(expr(s"(${hexint32("h")})").as("hv")).distinct()
    val probes = docs.filter(col("incoming")).select(col("hv")).distinct()
      .join(members.withColumnRenamed("hv", "mhv"), col("hv") === col("mhv"), "left_anti")
    def positions(rel: DataFrame): DataFrame =
      rel.select(
        col("hv"),
        explode(expr(
          configs.zipWithIndex.map { case ((m, k), c) =>
            (0 until k).map(i => s"struct($c AS cfg, ${bandHash(i, "hv")} % $m AS pos)")
          }.flatten.mkString("array(", ", ", ")"))).as("p"))
        .select(col("hv"), col("p.cfg").as("cfg"), col("p.pos").as("pos"))
    val bits = positions(members).select(col("cfg"), col("pos")).distinct()
    val verdicts = positions(probes)
      .join(
        bits.select(col("cfg").as("bcfg"), col("pos").as("bpos")),
        col("cfg") === col("bcfg") && col("pos") === col("bpos"), "left_semi")
      .groupBy(col("cfg"), col("hv"))
      .agg(count(lit(1)).as("n_hit"))
    val kOf = configs.zipWithIndex
      .map { case ((_, k), c) => s"WHEN cfg = $c THEN $k" }.mkString("CASE ", " ", " END")
    val fp = verdicts.filter(expr(s"n_hit = $kOf"))
      .groupBy(col("cfg")).agg(count(lit(1)).as("n_false_pos"))
    val nm = members.agg(count(lit(1)).as("n_members"))
    val np = probes.agg(count(lit(1)).as("n_probes"))
    val bitCounts = bits.groupBy(col("cfg")).agg(count(lit(1)).as("n_bits_set"))
    val cfgRel = expr(
      configs.zipWithIndex
        .map { case ((m, k), c) => s"struct($c AS cfg, CAST($m AS BIGINT) AS m, CAST($k AS BIGINT) AS k)" }
        .mkString("array(", ", ", ")"))
    t.documents.sparkSession.range(1).select(explode(cfgRel).as("c"))
      .select(col("c.cfg").as("cfg"), col("c.m").as("m"), col("c.k").as("k"))
      .join(bitCounts, Seq("cfg"))
      .join(fp, Seq("cfg"), "left")
      .na.fill(0L, Seq("n_false_pos"))
      .join(broadcast(nm))
      .join(broadcast(np))
      .withColumn("fill_e6", expr("(2 * 1000000 * n_bits_set + m) DIV (2 * m)"))
      .withColumn("fpr_e6", expr("(2 * 1000000 * n_false_pos + n_probes) DIV (2 * n_probes)"))
      .select(
        col("m"), col("k"), col("n_members"), col("n_bits_set"), col("fill_e6"),
        col("n_probes"), col("n_false_pos"), col("fpr_e6"))
      .orderBy(col("m"))
  }

  /** Dedup storage-ROI report — q79's drop decisions re-weighted by
    * BYTES: per source, total corpus chars, chars held by exact-dup
    * drops and by near-dup drops, and the reclaim share (e4). Doc counts
    * (q79) understate what boilerplate-heavy sources cost a 100 TB lake;
    * this is the number the storage bill and the training-token budget
    * actually move by. Same plan as q79 (one content-hash window + the
    * tiny component join); the char sums ride the existing rollup.
    */
  /** Near-dup saturation curve (r16 — the GROWTH view of the dup-graph
    * family: q62/q147 describe the components, q79/q183 price the drops,
    * this one says WHEN the redundancy arrived): at power-of-two doc_id
    * prefixes of the ingest order, the count and e6 rate of redundant
    * docs (non-canonical members of a near-dup component — the corpus
    * has zero byte-identical dups, so near-dup components are the only
    * duplicate structure, per the r15 probe) and the components touched.
    * A crawl whose redundancy rate climbs with corpus size is
    * re-visiting itself — the marginal-value readout that decides when
    * to stop ingesting a source; a flat curve means the dup mass is
    * endemic, not saturation. Heaps-law machinery (q168's power-of-two
    * checkpoints) pointed at the dedup axis.
    *
    * Prefixes are doc_id VALUE thresholds (ingest ids), so no global
    * rank window exists anywhere: each doc map-side emits its matching
    * checkpoints via a filter HOF (geometric — ~2 rows/doc total), the
    * rollup partial-aggregates onto ≤ |checkpoints| keys. Redundancy
    * flags ride the session-cached [[components]] relation (the
    * candidate-bounded pair graph, never corpus²). Saturated
    * checkpoints (≥ 2× corpus) are cut by the broadcast 1-row total so
    * the last row is the first full-corpus prefix.
    */
  private def q195(t: Tables): DataFrame = {
    // ladder top is 2^40 (~10¹² docs): a corpus larger than the top rung
    // would silently lose its full-corpus prefix row — the silent-cap
    // class this repo's discipline forbids (r16 review raised the r15
    // top of 2^20, reachable around sf100). Rungs above 2·|corpus| are
    // trimmed after the rollup, so the wider ladder costs only the
    // extra per-doc filter matches, map-side.
    val cps = (6 to 40).map(k => 1L << k)
    val comp = components(t)
    val total = t.documents.agg(count(lit(1)).as("n_all"))
    t.documents.select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .withColumn(
        "redundant",
        (col("component_id").isNotNull && col("component_id") =!= col("doc_id")).cast("long"))
      .withColumn(
        "cp",
        explode(expr(s"filter(array(${cps.mkString(", ")}), c -> doc_id < c)")))
      .groupBy(col("cp"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("redundant")).as("n_redundant"),
        countDistinct(when(col("redundant") === 1L, col("component_id"))).as("n_components"))
      .withColumn(
        "rate_e6", expr("(2 * 1000000 * n_redundant + n_docs) DIV (2 * n_docs)"))
      .join(broadcast(total))
      .filter(col("cp") < lit(2L) * col("n_all"))
      .select(
        col("cp").as("checkpoint"), col("n_docs"), col("n_redundant"),
        col("n_components"), col("rate_e6"))
      .orderBy(col("checkpoint"))
  }

  /** Content-defined-chunking dedup audit (Muthitacharoen et al. 2001's
    * LBFS chunking, r16 wave 5 — the STORAGE-level reclaim number that
    * document-level dedup cannot see: two near-dup docs share most of
    * their bytes, and boilerplate prefixes recur across docs that are
    * not duplicates at all; a chunk store deduplicates both): documents
    * split at content-defined boundaries (a word starts a chunk when
    * hexint32(md5(word)) % 8 == 0 — boundaries follow CONTENT, so an
    * insertion shifts only its own chunk, the CDC property; expected
    * chunk ≈ 8 words), chunks hashed, every occurrence after the
    * corpus-first one is reclaimable. Per source: chunks, canonical
    * chunks, duplicate chars, total chars, reclaim share (e4). Probed:
    * 8.3% chunk-level reclaim at sf0.01 — well above the doc-level
    * near-dup reclaim, which is the operator's point.
    *
    * Scale shape: boundary flags are map-side hash arithmetic; the
    * chunk-id running sum is a doc-partitioned window (q20's class);
    * chunk assembly groups on (doc, chunk) with an array_sort-ordered
    * join (collect_list order is not guaranteed — sort by pos before
    * joining); ownership is the groupBy(h)+join idiom (q35/q123's,
    * AQE-skew-splittable). Chunk keys pack as doc_id·10⁶ + chunk_id —
    * guarded: a doc with ≥ 10⁶ chunks fails loudly rather than collide.
    *
    * A "pure map-side" rewrite — boundary positions via a filter HOF
    * over the word array, chunk strings via transform+slice, no window
    * and no explode-until-chunks — was A/B-REJECTED: higher-order-
    * function lambdas run INTERPRETED (no whole-stage codegen, no
    * common-subexpression elimination), and per-word md5 inside a
    * lambda measured 13× slower than this exploded + codegen'd form at
    * sf0.01 (127 s vs 9.7 s Verify; a md5-hoisted variant was no
    * better). Same lesson as q187's fused-scan rejection: the shape
    * that looks shuffle-optimal can lose to codegen by an order of
    * magnitude — measure with the Time knob before switching.
    */
  /** (doc_id, source, cid, hh, nch) — every content-defined chunk with
    * its md5 and char length; see q203's scaladoc for the boundary rule
    * and the rejected HOF formulation.
    */
  private def cdcChunksDerive(t: Tables): DataFrame =
    Tables.localSplit(t.documents, col("doc_id"))
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .withColumn(
        "flag",
        when(col("pos") === 0, 1L)
          .when(expr(s"(${hexint32("md5(word)")}) % 8 = 0"), 1L)
          .otherwise(0L))
      .withColumn("cid", sum(col("flag")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("source"), col("cid"))
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(pos, word))), s -> s.word), ' ')")
        .as("chunk"))
      .select(
        col("doc_id"), col("source"), col("cid"),
        md5(col("chunk")).as("hh"), length(col("chunk")).as("nch"))

  // q203/q210's shared chunk relation — session-cached under
  // `graft.lsh.cache` (primed in Bench prep, cached ≡ derived in
  // PairCacheSpec) so the two CDC consumers pay the corpus chunking pass
  // once
  private def cdcChunks(t: Tables): DataFrame =
    SessionCache.cached(t.spark, "cdcChunks", t.dir)(cdcChunksDerive(t))

  private def q203(t: Tables): DataFrame = {
    val chunks = cdcChunks(t)
    val key = {
      val k = col("doc_id") * 1000000L + col("cid")
      when(col("cid") >= 1000000L, raise_error(lit("q203: chunk id overflows the pack key")))
        .otherwise(k)
    }
    val keepers = chunks.select(col("hh"), key.as("k"))
      .groupBy(col("hh")).agg(min(col("k")).as("mk"))
    chunks
      .withColumn("k", key)
      .join(keepers, Seq("hh"))
      .withColumn("canon", col("k") === col("mk"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("canon").cast("long")).as("n_canonical"),
        sum(when(!col("canon"), col("nch")).otherwise(0L)).as("dup_chars"),
        sum(col("nch")).as("total_chars"))
      .withColumn(
        "reclaim_e4", expr("(2 * 10000 * dup_chars + total_chars) DIV (2 * total_chars)"))
      .orderBy(col("source"))
  }

  /** Boilerplate chunk league table (r16 wave 8 — q203's reclaim number
    * answered at the CHUNK level: WHICH text is the repeated mass? q140
    * names the shared prefixes, q97 the stamp bigrams; this names the
    * content-defined chunks, the granularity a chunk store actually
    * deduplicates): the top-20 repeated chunks by reclaimable chars
    * (occurrences − 1)·len, with occurrence, distinct-doc and
    * distinct-source counts — a high-source-count row is cross-site
    * boilerplate to strip at INGEST; a single-source one is that site's
    * template. Chunk hashes identify content (identical text ⇒
    * identical nch, so max(nch) is exact, not a summary).
    *
    * Scale shape: rides the session-cached [[cdcChunks]] relation (the
    * chunking pass is paid once across q203/q210 under
    * `graft.lsh.cache`); one (hh)-keyed partial-aggregable agg with the
    * two distincts riding the same Expand rewrite; top-20 is
    * TakeOrderedAndProject — nothing after the agg is corpus-scale.
    */
  private def q210(t: Tables): DataFrame =
    cdcChunks(t)
      .groupBy(col("hh"))
      .agg(
        count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        max(col("nch")).cast("long").as("chunk_chars"))
      .filter(col("n_occ") >= 2)
      .withColumn("dup_chars", (col("n_occ") - 1) * col("chunk_chars"))
      .orderBy(col("dup_chars").desc, col("hh"))
      .limit(20)

  private def q183(t: Tables): DataFrame = {
    val comp = components(t)
    val docs = t.documents
      .select(col("doc_id"), col("source"), col("n_chars"), md5(col("text")).as("h"))
    val keeperW = Window.partitionBy(col("h"))
    docs
      .withColumn("keeper", min(col("doc_id")).over(keeperW))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("exact_drop", col("doc_id") =!= col("keeper"))
      .withColumn(
        "near_drop",
        !col("exact_drop") && col("component_id").isNotNull && col("component_id") =!= col("doc_id"))
      .groupBy(col("source"))
      .agg(
        sum(col("n_chars")).as("total_chars"),
        sum(when(col("exact_drop"), col("n_chars")).otherwise(0L)).as("exact_drop_chars"),
        sum(when(col("near_drop"), col("n_chars")).otherwise(0L)).as("near_drop_chars"))
      .withColumn(
        "reclaim_share_e4",
        expr("(2 * 10000 * (exact_drop_chars + near_drop_chars) + total_chars) DIV (2 * total_chars)"))
      .orderBy(col("source"))
  }

  /** End-to-end dedup report — the pipeline deliverable the individual
    * stages (q35 exact, q37/q38 candidates+verify, q62 clusters) feed: per
    * source, how many documents survive deduplication. Drop policy is the
    * standard keep-minimum: a doc is an exact drop if it isn't the
    * smallest doc_id of its md5(text) group, else a near-dup drop if its
    * q62 component labels a smaller doc. One window over the content hash
    * + one left join of the (tiny) component table — the corpus itself is
    * scanned once and shuffled once on the hash.
    */
  private def q79(t: Tables): DataFrame = {
    val comp = components(t)
    val docs = t.documents.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
    val keeperW = Window.partitionBy(col("h"))
    docs
      .withColumn("keeper", min(col("doc_id")).over(keeperW))
      .join(comp, Seq("doc_id"), "left")
      .withColumn("exact_drop", col("doc_id") =!= col("keeper"))
      .withColumn(
        "near_drop",
        !col("exact_drop") && col("component_id").isNotNull && col("component_id") =!= col("doc_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("exact_drop").cast("long")).as("n_exact_drop"),
        sum(col("near_drop").cast("long")).as("n_near_drop"),
        (count(lit(1)) - sum(col("exact_drop").cast("long")) - sum(col("near_drop").cast("long")))
          .as("n_keep"))
      .orderBy(col("source"))
  }

  /** Simhash candidate pairing with GUARANTEED recall at radius 3:
    * pigeonhole blocking (Charikar-style) over the native 64-bit kernel
    * (`functions.SimHash64`, FNV-1a per token + bit majority, codegen'd
    * next to the scan). The 64-bit simhash splits into 4 blocks of 16
    * bits; a pair differing in ≤ 3 bits must agree on at least one whole
    * block, so the union of the four block-joins contains every radius-3
    * pair. Each block join key ranges over 4·65,536 values — bucket
    * occupancy (and so pair work) keeps shrinking as the corpus grows
    * past the key space, instead of freezing at a constant bucket count.
    * Candidates dedup via distinct and the exact Hamming filter
    * (`bit_count(a^b)`) prunes block-collision noise.
    */
  private def q63(t: Tables): DataFrame = {
    val sims = Tables.localSplit(t.documents, col("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions.simhash64(col("text")).as("simhash"))
    val blockArgs = (0 until 4)
      .map(k => s"$k, CAST(shiftrightunsigned(simhash, ${16 * k}) & 65535 AS BIGINT)")
      .mkString(", ")
    val blocks = sims.select(col("doc_id"), col("simhash"), expr(s"stack(4, $blockArgs)").as(Seq("blk", "bval")))
    val cand = blocks
      .as("a")
      .join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS INT)").as("hamming"))
      // filter BEFORE distinct: block-collision noise is the bulk of the
      // candidate stream; deduping only the surviving close pairs shrinks
      // the distinct's shuffle by orders of magnitude (same result set)
      .filter(col("hamming") <= 3)
      .distinct()
    cand.orderBy(col("doc_a"), col("doc_b"))
  }

  /** Benchmark decontamination: find training documents that share enough
    * word-3-gram shingles with a held-out eval set (doc_id % 97 == 0 here)
    * — the overlap check every serious training-data pipeline runs before
    * training. Scale shape: the eval side is a small fraction of the
    * corpus, shingle sets are distinct-per-doc (native kernel, map-side),
    * and shingles that occur in more than `HotShingleCap` eval docs are
    * dropped before the join — the standard frequency cap that keeps a
    * stop-word shingle from fanning every training doc out to the whole
    * eval set. Join work is then |train shingles| · (bounded eval
    * occupancy), linear in corpus size.
    */
  private val HotShingleCap = 50
  private val MinSharedShingles = 2

  /** q75's contamination pairs pre-sort — (train_doc, eval_doc, n_shared)
    * — shared with [[graft.Curate]]'s decontamination stage, which drops
    * every distinct `train_doc` appearing here (one expression tree, the
    * stages cannot drift).
    */
  private[graft] def contaminationPairs(t: Tables): DataFrame = {
    val shingled = Tables.localSplit(t.documents, col("doc_id"))
      .select(col("doc_id"), graft.functions.GraftFunctions.shingle_set(col("text")).as("arr"))
    val evalSh = shingled
      .filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("eval_doc"), explode(col("arr")).as("s"))
    val hot = evalSh
      .groupBy(col("s")).agg(count(lit(1)).as("nf"))
      .filter(col("nf") > HotShingleCap)
      .select(col("s"))
    val evalKept = evalSh.join(broadcast(hot), Seq("s"), "left_anti")
    val trainSh = shingled
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id").as("train_doc"), explode(col("arr")).as("s"))
    trainSh
      .join(evalKept, Seq("s"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MinSharedShingles)
  }

  private def q75(t: Tables): DataFrame =
    contaminationPairs(t).orderBy(col("train_doc"), col("eval_doc"))

  /** C4-style LINE-level exact dedup (Raffel et al. 2020 dedup occurrences
    * of repeated "lines" across the whole corpus, keeping one): a line
    * here is a fixed-width word chunk (6 words
    * — this corpus is single-line token text, so fixed windows stand in
    * for sentence boundaries; the operator is separator-agnostic). The
    * canonical copy of a repeated line is the one in the smallest doc_id;
    * every other occurrence counts as removed. Per-source rollup: lines
    * seen, lines a dedup pass would delete, canonical (doc, line) groups
    * owned.
    *
    * Scale shape: chunking is map-side next to the scan; per-(doc, line)
    * counts partial-agg into one keyed shuffle; canonical ownership is a
    * groupBy(min) + join on the line key — deliberately NOT a window, so
    * a Zipfian hot line (boilerplate at 100 TB) lands on AQE's
    * skew-join splitting instead of a single window partition, the q77
    * lesson applied from the start.
    */
  private def q89(t: Tables): DataFrame = {
    val w = 6
    val occ = t.documents
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("words"))
      .select(
        col("doc_id"), col("source"),
        // the short-doc guard lives INSIDE the expression (empty array →
        // explode emits nothing): a derived-column Filter would never
        // push to the scan and sequence(0, -1) is DESCENDING, the q77 trap
        explode(expr(
          s"""CASE WHEN size(words) >= $w THEN
             |  transform(sequence(0, size(words) div $w - 1),
             |    i -> array_join(slice(words, i * $w + 1, $w), ' '))
             |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)).as("line"))
      .groupBy(col("source"), col("doc_id"), col("line"))
      .agg(count(lit(1)).as("cnt"))
    val owners = occ.groupBy(col("line")).agg(min(col("doc_id")).as("min_doc"))
    occ.join(owners, Seq("line"))
      .groupBy(col("source"))
      .agg(
        sum(col("cnt")).as("n_lines"),
        sum(when(col("doc_id") === col("min_doc"), col("cnt") - 1).otherwise(col("cnt")))
          .as("n_removed"),
        sum(when(col("doc_id") === col("min_doc"), lit(1L)).otherwise(lit(0L)))
          .as("n_canonical"))
      .orderBy(col("source"))
  }

  /** Cross-source contamination matrix: pairwise shingle-set overlap
    * between sources (distinct word-3-grams, the q34/q36 shingle space) —
    * the audit that finds mirrored / cross-posted content BETWEEN corpus
    * slices before mixing weights are chosen (q65's input). Only pairs
    * sharing at least one shingle appear (an inner join — disjoint
    * sources have jaccard 0 by construction and are omitted).
    *
    * Scale shape: the shingle kernel runs map-side; distinct
    * (source, shingle) is one keyed shuffle; then each shingle collapses
    * to its SORTED source membership list (≤|sources| entries — bounded
    * by the slice count, not occurrence frequency) and emits its
    * source-pair combinations directly, so there is NO self-join at all
    * and per-shingle fan-out is bounded by |sources|²/2 — a constant,
    * never corpus². Both the pair counts and the per-source set sizes
    * derive from the same grouped relation (one corpus derivation, AQE
    * exchange reuse collapses the two branches); sizes broadcast onto the
    * |sources|²-row pair table.
    */
  /** The distinct (source, shingle) relation both overlap operators build
    * on: shingle kernel map-side, one keyed dedup shuffle. The explicit
    * isNotNull matches the filter q95's source-comparison join would infer
    * into ITS branch anyway — stating it here keeps every consumer's scan
    * canonically identical, so AQE's exchange reuse sees one subtree and
    * the corpus scan + kernel run once per query (ScaleSpec pins this for
    * both q92 and q95).
    */
  // session-cached under graft.lsh.cache like pairStats/evalPos: q92 AND
  // q95 each rebuild this relation otherwise (AQE reuse only spans ONE
  // query's plan) — within the audit session the corpus scan + shingle
  // kernel + dedup shuffle run once, both consumers read the persisted
  // relation
  private def sourceShingles(t: Tables): DataFrame =
    SessionCache.cached(t.spark, "sourceShingles", t.dir)(sourceShinglesDerive(t))

  private def sourceShinglesDerive(t: Tables): DataFrame =
    Tables.localSplit(t.documents, col("doc_id"))
      .filter(col("source").isNotNull)
      .select(
        col("source"),
        explode(graft.functions.GraftFunctions.shingle_set(col("text"))).as("sh"))
      .distinct()

  /** q92's unsorted kernel — (s1, s2, n_shared, sz1, sz2, jaccard) for
    * every source pair sharing ≥1 shingle; q95 joins its exact jaccard
    * column as the estimator-audit reference.
    */
  private def overlapPairs(t: Tables): DataFrame = {
    val sh = sourceShingles(t)
    val bySh = sh
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(col("source"))).as("srcs"))
    // sizes derive from bySh, NOT from `sh` directly: |source's set| =
    // number of membership lists containing it, and hanging both branches
    // off the same post-aggregation subtree is what lets AQE's exchange
    // reuse run the corpus scan + shingle kernel ONCE (a branch off `sh`
    // inherits join-inferred IsNotNull filters that break canonical
    // equality — measured, not theorized; ScaleSpec pins the reuse)
    val sizes = bySh
      .select(explode(col("srcs")).as("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("sz"))
    bySh
      .filter(size(col("srcs")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(2, size(srcs)),
          |  i -> transform(sequence(1, i - 1),
          |    j -> struct(element_at(srcs, j) AS s1, element_at(srcs, i) AS s2))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("s1"), col("sz").as("sz1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("sz").as("sz2"))), "s2")
      .withColumn("jaccard", round(col("n_shared") / (col("sz1") + col("sz2") - col("n_shared")), 4))
      .select(col("s1"), col("s2"), col("n_shared"), col("sz1"), col("sz2"), col("jaccard"))
  }

  private def q92(t: Tables): DataFrame =
    overlapPairs(t).orderBy(col("s1"), col("s2"))

  /** Bottom-k sketch estimate of the q92 overlap matrix, audited against
    * the exact answer — q86's estimator-calibration pattern applied to
    * cross-source contamination. At 100 TB per-source distinct-shingle
    * sets outgrow exact set intersection; a bottom-k signature (the k
    * smallest values of a shared hash over the distinct shingle space —
    * coordinated sampling: the same shingle hashes identically in every
    * source) estimates Jaccard as |S ∩ A_k ∩ B_k| / |S|, S = bottom-k of
    * the union. Per-source sketch size is fixed (`graft.sketch.k`,
    * default 64), so the pairwise stage moves |sources|·k values and the
    * estimate is set arithmetic on two tiny sorted arrays.
    *
    * The hash is the q36/q37 hex-arithmetic int32 of md5 — the SAME
    * fragment rendered to both engines, so the sketch (and therefore the
    * estimate) is bit-reproducible cross-engine, like every other
    * estimator audit in the suite.
    *
    * Scale shape (round 11): the sketch BUILD runs on the bounded
    * bottom-k Aggregator ([[graft.functions.BottomK]]) — map-side size-k
    * buffers merging associatively into the one source-keyed shuffle —
    * NOT a `row_number` window over the source partition, which would
    * serialize the per-source distinct-shingle stream (≈ tokens, the
    * biggest input in the family) through one reducer per source: the
    * exact bottleneck this operator exists to avoid.
    */
  private def q95(t: Tables): DataFrame = {
    val k = t.spark.conf.get("graft.sketch.k", "64").toInt
    require(k >= 1 && k <= 65536, s"graft.sketch.k out of range: $k")
    // distinct on the hash VALUE (round 11): two distinct shingles
    // colliding on the same int32 must occupy ONE sketch slot, the
    // textbook bottom-k definition — without it a collision biases the
    // estimator by wasting a slot on a duplicate value
    val sel = graft.functions.BottomK.agg(k, distinctK1 = true)(
      col("h"), col("h"), lit(0L))
    val bottomK = sourceShingles(t)
      .withColumn("m", md5(col("sh")))
      .withColumn("h", expr(hexint32("m")))
      .groupBy(col("source"))
      .agg(sel.as("sel"))
      .select(col("source"), expr("transform(sel.items, x -> x.k1)").as("kh"))
    val est = bottomK.as("a")
      .join(bottomK.as("b"), col("a.source") < col("b.source"))
      .select(
        col("a.source").as("s1"), col("b.source").as("s2"),
        col("a.kh").as("kha"), col("b.kh").as("khb"))
      .withColumn("u", expr(s"slice(array_sort(array_union(kha, khb)), 1, $k)"))
      .withColumn(
        "inter",
        expr("size(filter(u, x -> array_contains(kha, x) AND array_contains(khb, x)))"))
      .withColumn("est_jaccard", round(col("inter") / size(col("u")), 4))
    est
      .join(
        broadcast(overlapPairs(t).select(col("s1"), col("s2"), col("jaccard"))),
        Seq("s1", "s2"), "left")
      .withColumn("jaccard", coalesce(col("jaccard"), lit(0.0)))
      .withColumn("abs_err", round(abs(col("est_jaccard") - col("jaccard")), 4))
      .select(col("s1"), col("s2"), col("est_jaccard"), col("jaccard"), col("abs_err"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Deterministic id-hash train/val/test assignment — the split
    * step every training pipeline runs before anything trains: each doc
    * lands in a split by hashing its STABLE id (md5 → first-8-hex int,
    * the q36/q95 cross-engine fragment), so membership is reproducible
    * across runs, machines, and engines with no stored split table, and
    * adding data never reshuffles existing assignments (the property a
    * random() split lacks). Buckets 0–89 train / 90–94 val / 95–99 test.
    *
    * Scale shape: the hash + bucket + word count are all map-side next to
    * the scan; ONE shuffle carries the (source, split) rollup; the
    * per-source share divides long sums from a window over the 3·|sources|
    * -row aggregate (metadata-scale, not corpus-scale).
    */
  private def q103(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("source"))
    Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("source"),
        size(split(col("text"), " ")).cast("long").as("n_words"),
        splitLabel.as("split"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_words")).as("n_words"))
      .withColumn("doc_share", round(col("n_docs") / sum(col("n_docs")).over(w), 4))
      .orderBy(col("source"), col("split"))
  }

  /** Incremental (delta) dedup — the PRODUCTION dedup shape: a new crawl
    * batch (the `src1*` source family) deduped against the already-curated
    * base corpus, not corpus-wide from scratch. At 100 TB nobody re-pays
    * Θ(corpus) per arriving batch: the base side of every probe here is
    * exactly the artifact a real lake keeps precomputed (the distinct
    * content-hash set and the distinct (band, sig) minhash index — both
    * incremental-maintainable), so delta cost scales with |batch|, and
    * this query IS the batch-side plan against those indexes (derived
    * in-query here because the test lake stores none).
    *
    * Classification per incoming doc, first match wins: `exact_dup_base`
    * (md5 ∈ base hash set), `exact_dup_batch` (q89's canonical rule
    * within the batch — smallest doc_id owns), `near_dup_base` (≥1
    * shared minhash band signature with ANY base doc — q37's LSH
    * bucketing made ASYMMETRIC: incoming sigs probe the base index, so
    * the join is |batch|-scale, never base×base), else `new_unique`.
    *
    * Scale shape: every shuffle is keyed on h, (band, sig), or doc_id and
    * bounded by the batch or the (deduplicated) index — no self-join of
    * the base side anywhere. `graft.lsh.bands` retunes recall at runtime
    * (q36/q37's conf).
    *
    * `graft.delta.bloom=true` (round 11) enables the beyond-memory
    * tightening for when even the distinct base hash SET outgrows a
    * shuffle join's comfort: Spark's native Bloom-filter sketch
    * (`BloomFilterAggregate`, the engine's own runtime-join-filter
    * machinery) is built over the base hashes and probed as a CONSTANT
    * pre-filter on the arriving side — only `might_contain` hits pay the
    * exact hash join (false positives are re-checked by that same join,
    * so classification is provably unchanged; misses are definitively
    * not in base — Bloom has no false negatives). Sizing expects 2²⁰
    * distinct base hashes (Spark
    * caps bits at its runtime-filter maximum). At 100 TB the filter is
    * the incremental index artifact a lake keeps next to the hash set —
    * derived in-query here because the test lake stores none, which is
    * why the build shows as a one-row eager aggregate at plan
    * construction.
    */
  private def q107(t: Tables): DataFrame = {
    // which source family is "the arriving batch" — a runtime conf like
    // the family's other knobs (oracle renders the default)
    val incoming = t.spark.conf.get("graft.delta.incoming", "src1%")
    require(incoming.nonEmpty && !incoming.contains("'"),
      s"graft.delta.incoming invalid: $incoming")
    val docs = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("doc_id"), col("source"), col("text"), col("n_chars"),
        md5(col("text")).as("h"), col("source").like(incoming).as("incoming"))
    val base = docs.filter(!col("incoming"))
    val inc = docs.filter(col("incoming"))
    def sigRows(df: DataFrame) = df.select(
      col("doc_id"),
      posexplode(graft.functions.GraftFunctions.minhash_sigs(col("text"), bands(t)))
        .as(Seq("band", "sig")))
    // `graft.delta.index` (round 11) points at a sources.DedupIndex store:
    // the base-side probes then READ the precomputed artifacts instead of
    // deriving them from the base corpus — the docstring's "indexes a real
    // lake keeps", now an actual code path. Band-family mismatch fails
    // loudly (the store pins its bands at init).
    val indexDir = t.spark.conf.get("graft.delta.index", "")
    val (baseHashes, baseSigs) =
      if (indexDir.isEmpty)
        (base.select(col("h")).distinct().withColumn("in_base", lit(true)),
          sigRows(base).select(col("band"), col("sig")).distinct())
      else {
        val sb = graft.sources.DedupIndex.storeBands(t.spark, indexDir)
        require(sb == bands(t),
          s"graft.delta.index at $indexDir was built at bands=$sb, session wants ${bands(t)} — rebuild")
        (graft.sources.DedupIndex.hashes(t.spark, indexDir).withColumn("in_base", lit(true)),
          graft.sources.DedupIndex.sigs(t.spark, indexDir))
      }
    val canon = inc.groupBy(col("h")).agg(min(col("doc_id")).as("canon_id"))
    val nearIds = sigRows(inc)
      .join(baseSigs, Seq("band", "sig"))
      .select(col("doc_id")).distinct()
      .withColumn("near_base", lit(true))
    val useBloom = t.spark.conf.get("graft.delta.bloom", "false").toBoolean
    val withBase =
      if (!useBloom) inc.join(baseHashes, Seq("h"), "left")
      else {
        val items = 1048576L
        // one-row eager aggregate: the serialized filter becomes a plan
        // CONSTANT (BloomFilterMightContain's contract), broadcast with
        // the closure like Spark's own evaluated runtime-filter subquery
        // built over baseHashes (the distinct set), so it composes with
        // graft.delta.index: with a store configured, the filter derives
        // from the stored artifact too — zero base-corpus reads
        val bfRow = baseHashes
          .select(graft.functions.GraftFunctions
            .bloom_agg(xxhash64(col("h")), items).as("bf"))
          .head()
        if (bfRow.isNullAt(0)) inc.join(baseHashes, Seq("h"), "left")
        else {
          val probe = graft.functions.GraftFunctions
            .bloom_might_contain(lit(bfRow.getAs[Array[Byte]](0)), xxhash64(col("h")))
          val pre = inc.withColumn("maybe", probe)
          pre.filter(col("maybe"))
            .join(baseHashes, Seq("h"), "left")
            .unionByName(pre.filter(!col("maybe"))
              .withColumn("in_base", lit(null).cast("boolean")))
            .drop("maybe")
        }
      }
    withBase
      .join(canon, Seq("h"))
      .join(nearIds, Seq("doc_id"), "left")
      .withColumn(
        "cls",
        when(coalesce(col("in_base"), lit(false)), "exact_dup_base")
          .when(col("doc_id") =!= col("canon_id"), "exact_dup_batch")
          .when(coalesce(col("near_base"), lit(false)), "near_dup_base")
          .otherwise("new_unique"))
      .groupBy(col("source"), col("cls"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .orderBy(col("source"), col("cls"))
  }

  /** Train→eval contamination audit — the governance readout run BEFORE
    * shipping a split: which K-token windows of the val/test slices also
    * appear in train (membership-inference / eval-inflation leakage,
    * the Lee et al. 2022 dedup-before-split concern). Splits are q103's
    * engine-stable md5 buckets; windows are q113's kernel, so this is
    * the composition of two already-verified fragments.
    *
    * Scale shape: window hashes + split flag are map-side next to the
    * scan; the train window SET is distinct-reduced before probing
    * (vocab-scale, never the raw occurrence stream); both rollups are
    * h-keyed then split-keyed shuffles — no cross join, no window
    * functions. At 100 TB the train side is a persisted artifact: with
    * `graft.leak.store` pointing at a [[graft.sources.FreqStore.WindowSrc]]
    * store of the frozen train corpus, this query probes the stored
    * window stats and only the eval slices scan (LeakStoreSpec pins
    * store-backed ≡ derived).
    */
  // `graft.leak.store` / `graft.win.store` point the window-leakage
  // family at a [[graft.sources.FreqStore.WindowSrc]] count store instead
  // of the in-query stride-1 window-hash explode — deltaSubstring's
  // `graft.delta.index` discipline applied to governance: the TRAIN split
  // is a frozen corpus in production, so its window stats are a persisted
  // artifact maintained ∝ |batch| (leak.store, probed by q120/q143/q146 —
  // only the audited eval slices still derive in-query); the corpus-wide
  // store (win.store, q122) replaces the full scan outright. Window K
  // must match the store's pinned value — mismatch fails loudly, the
  // band-family rule. The oracle always renders the derived form;
  // LeakStoreSpec pins store-backed ≡ derived.
  private def storedWinStats(t: Tables, conf: String, k: Int): Option[DataFrame] =
    t.spark.conf.get(conf, "") match {
      case "" => None
      case dir =>
        graft.sources.FreqStore.storeFamily(t.spark, dir) match {
          case graft.sources.FreqStore.WindowSrc(sk) =>
            require(sk == k,
              s"$conf at $dir was built at windowK=$sk, session wants $k — rebuild")
            Some(SessionCache.storeCounts(t.spark, dir))
          case graft.sources.FreqStore.WindowDoc(sk) =>
            require(sk == k,
              s"$conf at $dir was built at windowK=$sk, session wants $k — rebuild")
            // the finer per-doc relation serves the same (wh, source,
            // n_docs) stats by GROUP SIZE: doc_id is a key there, so the
            // distinct-doc count per (wh, source) is count(*), no
            // countDistinct shuffle; the rollup itself is session-cached
            // (several consumers, several branches)
            Some(SessionCache.storeView(t.spark, "winsrcview", dir)(
              graft.sources.FreqStore.counts(t.spark, dir)
                .groupBy(col("wh"), col("source"))
                .agg(count(lit(1)).as("n"))))
          case other =>
            throw new IllegalArgumentException(
              s"$conf at $dir holds family '${other.name}', not winsrc:$k — rebuild")
        }
    }

  // the per-document window relation (wh, source, doc_id, n), served only
  // when `graft.win.store` holds the finer WindowDoc family — q113 needs
  // occurrence counts AND doc attribution, which the WindowSrc rollup
  // cannot give (a WindowSrc-backed session just derives q113 in-query,
  // exactly as before the store existed)
  private def storedWindowDoc(t: Tables, k: Int): Option[DataFrame] =
    t.spark.conf.get("graft.win.store", "") match {
      case "" => None
      case dir =>
        graft.sources.FreqStore.storeFamily(t.spark, dir) match {
          case graft.sources.FreqStore.WindowDoc(sk) =>
            require(sk == k,
              s"graft.win.store at $dir was built at windowK=$sk, session wants $k — rebuild")
            // RAW chain rows, not the merged view: q113's aggregates are
            // all additive in n (Σ occurrence totals) or distinct-based
            // (doc attribution), so the per-(wh, source, doc) merge
            // shuffle is unnecessary — and the plan consumes the relation
            // in two branches, which would pay that merge TWICE (the join
            // side's null filter defeats AQE exchange reuse; spec pins
            // the merge-free shape)
            Some(graft.sources.FreqStore.rawCounts(t.spark, dir))
          case graft.sources.FreqStore.WindowSrc(_) =>
            // a WindowSrc store legitimately serves the doc-count
            // consumers but CANNOT serve q113 (no occurrence counts, no
            // doc attribution) — fall back to the derived path
            None
          case other =>
            // a non-window family here is a misconfiguration, not a
            // fallback case — the band-family rule: fail loudly instead
            // of silently paying the corpus derivation the store was
            // configured to eliminate
            throw new IllegalArgumentException(
              s"graft.win.store at $dir holds family '${other.name}', not a window " +
                "family — rebuild")
        }
    }

  // the q120-family eval slice: (doc_id, split, h) for val/test docs only
  // — the split flag is doc-level, so the filter lands BEFORE the window
  // explode and the scan-side cost is the eval share of the corpus, not
  // all of it (the store-backed path's scale win). Under graft.lsh.cache
  // (the session-artifact gate) the three store-backed consumers
  // (q120/q143/q146) share ONE materialized eval window stream instead
  // of re-exploding it each — the same audit-session discipline as
  // pairStats; BuildStoresSpec runs the family with cache + stores on.
  private def evalPos(t: Tables, k: Int): DataFrame =
    SessionCache.cached(t.spark, "evalPos", t.dir, k)(evalPosDerive(t, k))

  private def evalPosDerive(t: Tables, k: Int): DataFrame =
    Tables.localSplit(t.documents, col("doc_id"))
      .withColumn(
        "bucket", expr(hexint32("md5(CAST(doc_id AS STRING))")) % 100)
      .filter(col("bucket") >= 90)
      .select(
        col("doc_id"), col("source"),
        when(col("bucket") < 95, "val").otherwise("test").as("split"),
        explode(windowHashes(k)).as("h"))

  private def q120(t: Tables): DataFrame = {
    val k = windowK(t)
    val (leakW, leakD) = storedWinStats(t, "graft.leak.store", k) match {
      case Some(ws) =>
        // train membership = the stored train-corpus window set (wh
        // distinct is vocab-scale); only the eval slices pay a scan.
        val trainH = ws.select(col("wh").as("h")).distinct()
          .withColumn("in_train", lit(true))
        val pos = evalPos(t, k)
        val spread = pos
          .groupBy(col("h"))
          .agg(collect_set(col("split")).as("splits"))
          .join(trainH, Seq("h"), "left")
        val lw = spread
          .select(
            explode(col("splits")).as("split"),
            coalesce(col("in_train"), lit(false)).as("in_train"))
          .groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_distinct_windows"),
            sum(when(col("in_train"), 1L).otherwise(0L)).as("n_leaked_windows"))
        val ld = pos
          .join(trainH, Seq("h"), "left")
          .groupBy(col("split"))
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(when(col("in_train"), col("doc_id"))).as("n_docs_leaked"))
        (lw, ld)
      case None =>
        val pos = Tables.localSplit(t.documents, col("doc_id"))
          .select(
            col("doc_id"),
            (expr(hexint32("md5(CAST(doc_id AS STRING))")) % 100).as("bucket"),
            explode(windowHashes(k)).as("h"))
          .withColumn(
            "split",
            when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
        // q92/q122's membership-set trick: each window collapses to its
        // distinct split set in one h-keyed agg; window-level leakage then
        // explodes ≤|splits| rows per window — no distinct+join round trip.
        // The doc-attribution rollup still probes the train set h-keyed (doc
        // sets are unbounded, membership sets are not); its train side
        // filters the SAME spread relation, so the exchange is reusable.
        val spread = pos.select(col("split"), col("h"))
          .groupBy(col("h"))
          .agg(collect_set(col("split")).as("splits"))
        val lw = spread
          .select(
            explode(col("splits")).as("split"),
            array_contains(col("splits"), "train").as("in_train"))
          .filter(col("split") =!= "train")
          .groupBy(col("split"))
          .agg(
            count(lit(1)).as("n_distinct_windows"),
            sum(when(col("in_train"), 1L).otherwise(0L)).as("n_leaked_windows"))
        val trainH = spread.filter(array_contains(col("splits"), "train"))
          .select(col("h"), lit(true).as("in_train"))
        val ld = pos.filter(col("split") =!= "train")
          .join(trainH, Seq("h"), "left")
          .groupBy(col("split"))
          .agg(
            countDistinct(col("doc_id")).as("n_docs"),
            countDistinct(when(col("in_train"), col("doc_id"))).as("n_docs_leaked"))
        (lw, ld)
    }
    leakW.join(leakD, Seq("split"))
      .withColumn("leak_share", round(col("n_leaked_windows") / col("n_distinct_windows"), 4))
      .orderBy(col("split"))
  }

  /** Leakage attribution by train source (new r12 — the follow-up q120
    * demands: q120 says HOW MUCH of each eval split leaks from train,
    * this says FROM WHERE, the actionable readout — "drop/re-split
    * source X" needs the per-source attribution): per (eval split, train
    * source), the distinct K-token windows of the split that also appear
    * in that source's train docs, and the share of the split's total
    * leaked windows the source accounts for (shares can sum past 1 — a
    * window leaked by two sources attributes to both; that is the point,
    * each row prices removing ONE source).
    *
    * Scale shape: q92/q120's membership-set trick extended to (split,
    * train-source) jointly — each window collapses to its distinct eval
    * splits AND distinct train sources in ONE h-keyed agg (both sets
    * bounded: ≤|splits| and ≤|sources|, never doc-scale), then explodes
    * the ≤|splits|·|sources| cross pairs straight into the rollup; the
    * per-split leaked-total denominator rides the same spread relation.
    */
  private def q143(t: Tables): DataFrame = {
    val k = windowK(t)
    storedWinStats(t, "graft.leak.store", k).foreach { ws =>
      // store-backed: per-window train source sets come from the stored
      // (wh, source) keys (vocab-scale); only the eval slices scan.
      val trainSrcs = ws
        .groupBy(col("wh"))
        .agg(collect_set(col("source")).as("srcs"))
      val spread = evalPos(t, k)
        .groupBy(col("h"))
        .agg(collect_set(col("split")).as("evs"))
        .join(trainSrcs, col("h") === col("wh"))
      val perSource = spread
        .select(explode(col("evs")).as("split"), col("srcs"))
        .select(col("split"), explode(col("srcs")).as("train_source"))
        .groupBy(col("split"), col("train_source"))
        .agg(count(lit(1)).as("n_leaked_windows"))
      val totals = spread
        .select(explode(col("evs")).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("total_leaked"))
      return perSource
        .join(broadcast(totals), Seq("split"))
        .withColumn("source_share", round(col("n_leaked_windows") / col("total_leaked"), 4))
        .select(
          col("split"), col("train_source"), col("n_leaked_windows"), col("source_share"))
        .orderBy(col("split"), col("train_source"))
    }
    val pos = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("doc_id"), col("source"),
        (expr(hexint32("md5(CAST(doc_id AS STRING))")) % 100).as("bucket"),
        explode(windowHashes(k)).as("h"))
      .withColumn(
        "split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
    val spread = pos
      .groupBy(col("h"))
      .agg(
        collect_set(when(col("split") =!= "train", col("split"))).as("evs"),
        collect_set(when(col("split") === "train", col("source"))).as("srcs"))
      .filter(size(col("evs")) > 0 && size(col("srcs")) > 0)
    val perSource = spread
      .select(explode(col("evs")).as("split"), col("srcs"))
      .select(col("split"), explode(col("srcs")).as("train_source"))
      .groupBy(col("split"), col("train_source"))
      .agg(count(lit(1)).as("n_leaked_windows"))
    val totals = spread
      .select(explode(col("evs")).as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("total_leaked"))
    perSource
      .join(broadcast(totals), Seq("split"))
      .withColumn("source_share", round(col("n_leaked_windows") / col("total_leaked"), 4))
      .select(col("split"), col("train_source"), col("n_leaked_windows"), col("source_share"))
      .orderBy(col("split"), col("train_source"))
  }

  /** Leakage severity weighting (new r12 — the third leg of the q120
    * family: q120 says HOW MUCH leaks, q143 FROM WHERE, this says HOW
    * BAD — not every leaked window is equal. A window present in half
    * the train corpus is boilerplate; a window in exactly ONE train doc
    * is a verbatim eval passage sitting in train, the leak that
    * actually inflates benchmarks): per eval split, the leaked-window
    * count, the verbatim subset (train document frequency 1), and the
    * IDF-weighted severity mass Σ ln(N_train_docs / df) over leaked
    * windows — quantized per window to integer 1e-4 units (q90's one-ln
    * discipline) so the sum is an order-independent long add.
    *
    * Scale shape: the train df table is an h-keyed countDistinct over
    * the window stream (vocab-scale output); eval distinct windows join
    * it h-keyed; the train doc count is a single-row broadcast (q15's
    * scalar pattern); the rollup is |splits|-row.
    */
  private def q146(t: Tables): DataFrame = {
    val k = windowK(t)
    storedWinStats(t, "graft.leak.store", k).foreach { ws =>
      // store-backed: train document frequency per window is Σn over the
      // stored (wh, source) counts (a doc has ONE source, so the sum is
      // the distinct-doc count); n_train is the marker-summed doc total —
      // a metadata read, not a scan. Only the eval slices derive.
      val dir = t.spark.conf.get("graft.leak.store")
      val df = ws.groupBy(col("wh").as("h")).agg(sum(col("n")).as("df"))
      val nTrain = t.spark.range(1)
        .select(lit(graft.sources.FreqStore.totalDocs(t.spark, dir)).as("n_train"))
      val evalW = evalPos(t, k).select(col("split"), col("h")).distinct()
      return evalW
        .join(df, Seq("h"))
        .join(broadcast(nTrain))
        .withColumn(
          "sev_e4",
          expr(
            "CAST(round(ln(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE)) * 10000, 0) AS BIGINT)"))
        .groupBy(col("split"))
        .agg(
          count(lit(1)).as("n_leaked_windows"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_verbatim"),
          sum(col("sev_e4")).as("total_severity_e4"),
          max(col("sev_e4")).as("max_severity_e4"))
        .orderBy(col("split"))
    }
    val pos = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("doc_id"),
        (expr(hexint32("md5(CAST(doc_id AS STRING))")) % 100).as("bucket"),
        explode(windowHashes(k)).as("h"))
      .withColumn(
        "split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
    val train = pos.filter(col("split") === "train")
    val df = train.groupBy(col("h")).agg(countDistinct(col("doc_id")).as("df"))
    val nTrain = train.agg(countDistinct(col("doc_id")).as("n_train"))
    val evalW = pos.filter(col("split") =!= "train").select(col("split"), col("h")).distinct()
    evalW
      .join(df, Seq("h"))
      .join(broadcast(nTrain))
      .withColumn(
        "sev_e4",
        expr("CAST(round(ln(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE)) * 10000, 0) AS BIGINT)"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_leaked_windows"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_verbatim"),
        sum(col("sev_e4")).as("total_severity_e4"),
        max(col("sev_e4")).as("max_severity_e4"))
      .orderBy(col("split"))
  }

  /** Per-source window novelty — the inverse readout of q92's overlap
    * matrix at substring granularity: how much of each source's distinct
    * K-token window vocabulary appears in NO other source. The corpus-mix
    * signal for up/down-weighting a source (q65): a source whose windows
    * are mostly shared buys nothing the mix doesn't already have.
    *
    * Scale shape: q92's membership-set trick — each window collapses to
    * its distinct source set in ONE h-keyed agg (collect_set partials
    * dedup the occurrence stream map-side), then explodes ≤|sources|
    * rows per window into the source rollup: two shuffles total, no
    * distinct+join round trip. Work is bounded by the distinct window
    * vocabulary × |sources| — never |sources|² and never the raw
    * occurrence stream.
    */
  private def q122(t: Tables): DataFrame = {
    val k = windowK(t)
    // store-backed (`graft.win.store`, corpus-wide WindowSrc family): the
    // source-membership sets ARE the stored (wh, source) keys — zero
    // corpus reads, the whole query runs at window-vocabulary scale.
    val spread = storedWinStats(t, "graft.win.store", k)
      .map(_.groupBy(col("wh"))
        .agg(collect_set(col("source")).as("srcs"))
        .select(explode(col("srcs")).as("source"), size(col("srcs")).as("n_sources")))
      .getOrElse(Tables.localSplit(t.documents, col("doc_id"))
        .select(col("source"), explode(windowHashes(k)).as("h"))
        .groupBy(col("h"))
        .agg(collect_set(col("source")).as("srcs"))
        .select(explode(col("srcs")).as("source"), size(col("srcs")).as("n_sources")))
    spread
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_distinct_windows"),
        sum(when(col("n_sources") === 1, 1L).otherwise(0L)).as("n_exclusive"),
        sum(when(col("n_sources") > 1, 1L).otherwise(0L)).as("n_shared"))
      .withColumn("novelty_share", round(col("n_exclusive") / col("n_distinct_windows"), 4))
      .orderBy(col("source"))
  }

  /** Incremental substring decontamination — q113's repeated-window scan
    * restructured the way q107 restructures exact/near dedup: the arriving
    * batch (`graft.delta.incoming`) probes the BASE corpus's window-hash
    * set instead of re-scanning the whole corpus, so per-batch cost is
    * ∝ |batch| windows at any base size. With `graft.delta.index` pointing
    * at a [[graft.sources.DedupIndex]] store, the base side reads the
    * persistent `windows` relation (maintained incrementally, appends
    * ∝ |batch|) — zero base-corpus reads; without it the base set derives
    * in-query (the test-lake fallback, q107's rule). Window K must match
    * the store's pinned value — mismatch fails loudly, the band-family
    * rule. This IS the 100 TB shape for eval-set / boilerplate
    * contamination checks on every arriving crawl batch.
    *
    * Per incoming window, first match wins: `base_dup` (window present in
    * the curated base), `batch_dup` (repeated within the batch), else
    * fresh; per-source rollup.
    */
  def deltaSubstring(t: Tables): DataFrame = {
    val k = windowK(t)
    val incoming = t.spark.conf.get("graft.delta.incoming", "src1%")
    require(incoming.nonEmpty && !incoming.contains("'"),
      s"graft.delta.incoming invalid: $incoming")
    val docs = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("doc_id"), col("source"), col("text"),
        col("source").like(incoming).as("incoming"))
    val incPos = docs.filter(col("incoming"))
      .select(col("doc_id"), col("source"), explode(windowHashes(k)).as("h"))
    val indexDir = t.spark.conf.get("graft.delta.index", "")
    val baseWin =
      if (indexDir.isEmpty)
        docs.filter(!col("incoming"))
          .select(explode(windowHashes(k)).as("h")).distinct()
          .withColumn("in_base", lit(true))
      else {
        val sk = graft.sources.DedupIndex.storeWindowK(t.spark, indexDir)
        require(sk == k,
          s"graft.delta.index at $indexDir was built at windowK=$sk, session wants $k — rebuild")
        graft.sources.DedupIndex.windows(t.spark, indexDir)
          .select(col("wh").as("h"), lit(true).as("in_base"))
      }
    val rep = incPos.groupBy(col("h")).agg(count(lit(1)).as("n_occ"))
    incPos
      .join(baseWin, Seq("h"), "left")
      .join(rep, Seq("h"))
      .withColumn(
        "cls",
        when(coalesce(col("in_base"), lit(false)), "base_dup")
          .when(col("n_occ") > 1, "batch_dup")
          .otherwise("fresh"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("cls") === "base_dup", 1L).otherwise(0L)).as("n_base_dup"),
        sum(when(col("cls") === "batch_dup", 1L).otherwise(0L)).as("n_batch_dup"),
        countDistinct(when(col("cls") =!= "fresh", col("doc_id"))).as("n_docs_affected"))
      .withColumn(
        "contaminated_share",
        round((col("n_base_dup") + col("n_batch_dup")) / col("n_windows"), 4))
      .orderBy(col("source"))
  }

  /** Split-shift audit — the governance check after q103 assigns splits:
    * is the test distribution actually exchangeable with train, or did
    * the hash land a skewed slice? Total-variation distance between each
    * split pair's unigram term distributions, computed ENTIRELY in
    * integer arithmetic: TV = Σ|c_a·t_b − c_b·t_a| / (2·t_a·t_b), so
    * unlike a KL/JS audit there is no transcendental anywhere — the sum
    * is exact cross-engine and only the final one-division quantizes
    * (round 6). The most-shifted term rides along via the zero-padded
    * max-string trick (numeric-then-term lexicographic max — one agg, no
    * window, deterministic ties). The cross-products and their sum run
    * in DECIMAL (exact to 10³⁸), so TV stays exact past the ~10¹³ tokens
    * where |c_a·t_b| would leave 2^53.
    *
    * Scale shape: the ONLY corpus-scale shuffle is the (term) count agg
    * (q77's vocabulary-bounded discipline — the split flag collapses into
    * three conditional sums, not three passes); totals are a single-row
    * broadcast; the 3-pair explode is vocab-scale.
    */
  private def q110(t: Tables): DataFrame = {
    // >2^53-token guard: DECIMAL(19,0) factors → DECIMAL(38,0) products
    val big: Column => Column = _.cast("decimal(19,0)")
    val base = Tables.localSplit(t.documents, col("doc_id"))
      .withColumn(
        "bucket",
        expr(s"${hexint32("md5(CAST(doc_id AS STRING))")}") % 100)
      .withColumn(
        "split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
      .select(col("split"), explode(split(col("text"), " ")).as("term"))
    val counts = base
      .groupBy(col("term"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("c_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("c_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("c_test"))
    val totals = counts.agg(
      sum(col("c_train")).as("t_train"),
      sum(col("c_val")).as("t_val"),
      sum(col("c_test")).as("t_test"))
    def arm(a: String, b: String) = struct(
      lit(a).as("split_a"), lit(b).as("split_b"),
      col(s"c_$a").as("ca"), col(s"c_$b").as("cb"),
      col(s"t_$a").as("ta"), col(s"t_$b").as("tb"), col("term").as("term"))
    counts
      .join(broadcast(totals))
      .select(explode(array(arm("train", "val"), arm("train", "test"), arm("val", "test"))).as("p"))
      .select(col("p.*"))
      .filter(col("ca") + col("cb") > 0)
      .withColumn("cross", abs(big(col("ca")) * big(col("tb")) - big(col("cb")) * big(col("ta"))))
      .groupBy(col("split_a"), col("split_b"))
      .agg(
        count(lit(1)).as("n_terms"),
        max(col("ta")).as("tokens_a"),
        max(col("tb")).as("tokens_b"),
        sum(col("cross")).as("cross_sum"),
        max(concat(lpad(col("cross").cast("string"), 20, "0"), lit(":"), col("term"))).as("topk"))
      .select(
        col("split_a"), col("split_b"), col("n_terms"), col("tokens_a"), col("tokens_b"),
        round(col("cross_sum") / (lit(2.0) * col("tokens_a") * col("tokens_b")), 6).as("tv"),
        expr("substr(topk, 22)").as("top_term"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Population-stability-index drift audit over the splits' LENGTH
    * structure (the PSI the credit-scoring world standardized; Siddiqi
    * 2006) — the companion to q110's term-identity TV distance: two
    * splits can agree on vocabulary yet differ in document SHAPE (one
    * inherited the long-tail docs), which shifts loss curves without any
    * term drift. Documents bucket by n_chars into width-100 bins capped
    * at bin 9; per split pair, PSI = Σ(p−q)·ln(p/q) over Laplace-
    * smoothed bin shares (+1 per bin — the standard PSI guard, making
    * every bin total over empty cells), with the industry read
    * (<0.1 stable, <0.25 moderate, else shifted) as a flag column.
    *
    * Numeric discipline: per (pair, bin) the term is ONE expression with
    * one transcendental — (c⁺a/N⁺a − c⁺b/N⁺b)·ln(c⁺a·N⁺b/(c⁺b·N⁺a)) —
    * written character-identically in both engines and quantized half-up
    * to e6 BEFORE the sum (q151's rule); (p−q) and ln(p/q) share sign,
    * so every term is ≥ 0 and psi_e6 is an exact sum with no division
    * after it. The worst bin rides the zero-padded max-string trick
    * (q110's).
    *
    * Scale shape: the corpus-scale work is ONE partial-aggregable
    * (bin) count with the split flag collapsed into conditional sums
    * (q110's discipline — never three passes); everything after runs on
    * a ≤ 10-row histogram × 3 pairs. The md5 split rule is q103/q110's
    * exactly, so the audit binds to the split family it governs.
    */
  private def q165(t: Tables): DataFrame = {
    val counts = Tables.localSplit(t.documents, col("doc_id"))
      .withColumn(
        "bucket",
        expr(s"${hexint32("md5(CAST(doc_id AS STRING))")}") % 100)
      .withColumn(
        "split",
        when(col("bucket") < 90, "train").when(col("bucket") < 95, "val").otherwise("test"))
      .withColumn("bin", expr("least(n_chars DIV 100, 9)"))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("c_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("c_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("c_test"))
    val totals = counts.agg(
      sum(col("c_train")).as("t_train"),
      sum(col("c_val")).as("t_val"),
      sum(col("c_test")).as("t_test"),
      count(lit(1)).as("n_bins"))
    def arm(a: String, b: String) = struct(
      lit(a).as("split_a"), lit(b).as("split_b"),
      (col(s"c_$a") + lit(1L)).as("ca"), (col(s"c_$b") + lit(1L)).as("cb"),
      (col(s"t_$a") + col("n_bins")).as("na"), (col(s"t_$b") + col("n_bins")).as("nb"),
      col("bin").as("bin"))
    counts
      .join(broadcast(totals))
      .select(explode(array(arm("train", "val"), arm("train", "test"), arm("val", "test"))).as("p"))
      .select(col("p.*"))
      .withColumn(
        "term_e6",
        expr(
          "CAST(floor((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) * " +
            "ln(CAST(ca AS DOUBLE) * nb / (CAST(cb AS DOUBLE) * na)) * 1000000 + 0.5) AS BIGINT)"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(
        count(lit(1)).as("n_bins"),
        max(col("na")).as("na_smoothed"),
        max(col("nb")).as("nb_smoothed"),
        sum(col("term_e6")).as("psi_e6"),
        max(concat(lpad(col("term_e6").cast("string"), 19, "0"), lit(":"), col("bin").cast("string")))
          .as("worst"))
      .withColumn("worst_bin", expr("CAST(substr(worst, 21) AS BIGINT)"))
      .withColumn(
        "verdict",
        when(col("psi_e6") < 100000, "stable")
          .when(col("psi_e6") < 250000, "moderate")
          .otherwise("shifted"))
      .select(
        col("split_a"), col("split_b"), col("n_bins"), col("na_smoothed"), col("nb_smoothed"),
        col("psi_e6"), col("worst_bin"), col("verdict"))
      .orderBy(col("split_a"), col("split_b"))
  }

  /** Exact-substring repeat detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the detection phase):
    * any substring of ≥ K tokens repeated ANYWHERE in the corpus is
    * caught, because every such run must contain a full stride-1 K-token
    * window, and those windows are deduped corpus-wide. This is the
    * guarantee q89's fixed-stride chunks cannot give (a repeat straddling
    * a chunk boundary hides from stride=width; stride-1 has no
    * boundaries). The suffix-array machinery of the paper buys the same
    * detection in O(n log n) single-machine; the window-hash formulation
    * is its shuffle-native equivalent — linear rows, all keyed.
    *
    * Scale shape: one md5 per token position (the shingle family's cost,
    * map-side next to the scan); repeated windows = one hash-keyed agg
    * (partial agg collapses hot windows map-side — a boilerplate window
    * repeated k times shuffles once per partition, not k rows); position
    * attribution joins back on the hash (q89's join-not-window
    * discipline); one source rollup. `graft.dedup.windowTokens`
    * (default 8) is K.
    */
  private def q113(t: Tables): DataFrame = {
    val k = windowK(t)
    // store-backed (`graft.win.store` holding the WindowDoc family): the
    // stored (wh, source, doc_id, n) relation replaces the corpus
    // tokenize+md5 explode outright — occurrence totals are Σn per wh,
    // per-source occurrence rollups are Σn per source, and doc
    // attribution rides the doc_id key. Zero corpus reads; the audit
    // runs at stored-relation scale (maintained ∝ |batch| at ingest).
    storedWindowDoc(t, k).foreach { rel =>
      val repeated = rel
        .groupBy(col("wh"))
        .agg(sum(col("n")).as("n_occ"))
        .filter(col("n_occ") > 1)
      return rel
        .join(repeated, Seq("wh"), "left")
        .groupBy(col("source"))
        .agg(
          sum(col("n")).as("n_windows"),
          sum(when(col("n_occ").isNotNull, col("n")).otherwise(0L)).as("n_dup_windows"),
          countDistinct(when(col("n_occ").isNotNull, col("doc_id"))).as("n_docs_affected"))
        .withColumn("dup_share", round(col("n_dup_windows") / col("n_windows"), 4))
        .orderBy(col("source"))
    }
    val pos = Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("doc_id"), col("source"),
        explode(windowHashes(k)).as("h"))
    val repeated = pos
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    pos
      .join(repeated, Seq("h"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("n_occ").isNotNull, 1L).otherwise(0L)).as("n_dup_windows"),
        countDistinct(when(col("n_occ").isNotNull, col("doc_id"))).as("n_docs_affected"))
      .withColumn("dup_share", round(col("n_dup_windows") / col("n_windows"), 4))
      .orderBy(col("source"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q116_lsh_tuning" -> ((s, d) => q116(Tables(s, d))),
    "q117_dedup_sweep" -> ((s, d) => q117(Tables(s, d))),
    "q103_hash_split" -> ((s, d) => q103(Tables(s, d))),
    "q113_substring_windows" -> ((s, d) => q113(Tables(s, d))),
    "q120_split_leakage" -> ((s, d) => q120(Tables(s, d))),
    "q122_window_novelty" -> ((s, d) => q122(Tables(s, d))),
    "q110_split_shift" -> ((s, d) => q110(Tables(s, d))),
    "q165_length_psi" -> ((s, d) => q165(Tables(s, d))),
    "q107_delta_dedup" -> ((s, d) => q107(Tables(s, d))),
    "q95_overlap_sketch" -> ((s, d) => q95(Tables(s, d))),
    "q92_source_overlap" -> ((s, d) => q92(Tables(s, d))),
    "q89_line_dedup" -> ((s, d) => q89(Tables(s, d))),
    "q86_minhash_estimate" -> ((s, d) => q86(Tables(s, d))),
    "q248_bbit_minhash" -> ((s, d) => q248(Tables(s, d))),
    "q127_containment" -> ((s, d) => q127(Tables(s, d))),
    "q129_edit_verify" -> ((s, d) => q129(Tables(s, d))),
    "q131_norm_dedup" -> ((s, d) => q131(Tables(s, d))),
    "q140_prefix_boilerplate" -> ((s, d) => q140(Tables(s, d))),
    "q142_planted_recall" -> ((s, d) => q142(Tables(s, d))),
    "q143_leakage_by_source" -> ((s, d) => q143(Tables(s, d))),
    "q146_leak_severity" -> ((s, d) => q146(Tables(s, d))),
    "q147_cluster_sizes" -> ((s, d) => q147(Tables(s, d))),
    "q79_dedup_report" -> ((s, d) => q79(Tables(s, d))),
    "q75_decontaminate" -> ((s, d) => q75(Tables(s, d))),
    "q63_simhash_pairs" -> ((s, d) => q63(Tables(s, d))),
    "q62_dup_clusters" -> ((s, d) => q62(Tables(s, d))),
    "q169_cluster_span" -> ((s, d) => q169(Tables(s, d))),
    "q171_shingle_reuse" -> ((s, d) => q171(Tables(s, d))),
    "q276_source_ablation" -> ((s, d) => q276(Tables(s, d))),
    "q277_linkage_score" -> ((s, d) => q277(Tables(s, d))),
    "q279_blocking_bench" -> ((s, d) => q279(Tables(s, d))),
    "q285_budget_mix" -> ((s, d) => q285(Tables(s, d))),
    "q286_rep_selection" -> ((s, d) => q286(Tables(s, d))),
    "q172_dup_transitivity" -> ((s, d) => q172(Tables(s, d))),
    "q212_assortativity" -> ((s, d) => q212(Tables(s, d))),
    "q180_lsh_occupancy" -> ((s, d) => q180(Tables(s, d))),
    "q181_bloom_calibration" -> ((s, d) => q181(Tables(s, d))),
    "q183_dedup_bytes" -> ((s, d) => q183(Tables(s, d))),
    "q195_dedup_saturation" -> ((s, d) => q195(Tables(s, d))),
    "q203_cdc_chunks" -> ((s, d) => q203(Tables(s, d))),
    "q210_chunk_league" -> ((s, d) => q210(Tables(s, d))),
    "q187_window_k_sweep" -> ((s, d) => q187(Tables(s, d))),
    "q188_copy_matrix" -> ((s, d) => q188(Tables(s, d))),
    "q35_exact_dedup" -> ((s, d) => q35(Tables(s, d))),
    "q36_minhash_sigs" -> ((s, d) => q36(Tables(s, d))),
    "q37_lsh_pairs" -> ((s, d) => q37(Tables(s, d))),
    "q263_pagerank" -> ((s, d) => q263(Tables(s, d))),
    "q265_cluster_split" -> ((s, d) => q265(Tables(s, d))),
    "q38_ngram_jaccard" -> ((s, d) => q38(Tables(s, d))),
    "q39_simhash" -> ((s, d) => q39(Tables(s, d)))
  )

  private val duckWords = "SELECT doc_id, string_split(text, ' ') AS words FROM documents"

  // q203/q210's shared chunk derivation — the oracle-side mirror of
  // [[cdcChunksDerive]] ending at the ch (doc_id, source, cid, hh, nch)
  // relation
  private def duckCdcChunkCtes: String = {
    val hx = hexint32("md5(word)")
    s"""w AS (
       | SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
       | p AS (
       | SELECT doc_id, source, unnest(range(1, len(words) + 1)) AS i,
       |  unnest(words) AS word FROM w),
       | fl AS (
       | SELECT doc_id, source, i, word,
       |  CASE WHEN i = 1 THEN 1 WHEN ($hx) % 8 = 0 THEN 1 ELSE 0 END AS flag
       | FROM p),
       | c AS (
       | SELECT doc_id, source, i, word,
       |  sum(flag) OVER (PARTITION BY doc_id ORDER BY i
       |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cid
       | FROM fl),
       | ch AS (
       | SELECT doc_id, source, cid,
       |  md5(string_agg(word, ' ' ORDER BY i)) AS hh,
       |  length(string_agg(word, ' ' ORDER BY i)) AS nch
       | FROM c GROUP BY 1, 2, 3)""".stripMargin
  }

  // q142 fragments: shingles/perturbation over an arbitrary word-list
  // column (shinglesDuck is pinned to the name `words`)
  private def duckShinglesOf(c: String): String =
    s"list_transform(range(1, len($c) - 1), i -> $c[i] || ' ' || $c[i+1] || ' ' || $c[i+2])"
  private def duckPertWords(k: Int): String =
    s"""list_transform(range(1, len(words) + 1),
       |   i -> CASE WHEN (i - 1) % $k = 0 THEN 'zz' || CAST(doc_id AS VARCHAR)
       |        ELSE words[i] END)""".stripMargin
  // per-band min signature list from an int32-hash list column — the
  // bandHash family with the band index as a lambda variable
  private def duckSigsOf(c: String): String =
    s"""list_transform(range(0, $DefaultBands),
       |   b -> list_aggregate(list_transform($c,
       |     h -> ((h * (2 * b + 1) + 7919 * b) % 2147483647)), 'min'))""".stripMargin
  private val duckHashes =
    s"list_transform(list_transform(shingles, s -> md5(s)), m -> ${hexint32("m")})"
  private val duckShingleArms = (0 until DefaultBands)
    .map(b =>
      s"SELECT doc_id, $b AS band, list_aggregate(list_transform(hashes, h -> ${bandHash(b, "h")}), 'min') AS sig FROM sh")
    .mkString("\n UNION ALL\n ")

  // shared CTE chain for q38/q62: LSH candidates (q37's pair set) then
  // exact Jaccard restricted to those candidates — the same restriction
  // the Spark plans apply
  private val duckJpairsCtes =
    s"""w AS ($duckWords),
       | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
       | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
       | sigs AS (
       | $duckShingleArms
       | ),
       | cand AS (
       |  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
       |  FROM sigs s1 JOIN sigs s2
       |   ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id),
       | shx AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS s FROM w),
       | sizes AS (SELECT doc_id, count(*) AS nsh FROM shx GROUP BY doc_id),
       | inter AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS shared
       |  FROM cand c
       |  JOIN shx a ON a.doc_id = c.doc_a
       |  JOIN shx b ON b.doc_id = c.doc_b AND b.s = a.s
       |  GROUP BY c.doc_a, c.doc_b),
       | jpairs AS (
       |  SELECT doc_a, doc_b, round(shared / (sa.nsh + sb.nsh - shared), 4) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE shared / (sa.nsh + sb.nsh - shared) >= 0.5)""".stripMargin

  // shared oracle CTE chain for the q92/q95 overlap family: distinct
  // (source, shingle), per-source set sizes, exact pairwise intersections
  private val overlapDuckCtes =
    s"""w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
       | sh AS (
       |  SELECT DISTINCT source, sh FROM (
       |   SELECT source, unnest($shinglesDuck) AS sh FROM w)),
       | sz AS (SELECT source, count(*) AS sz FROM sh GROUP BY source),
       | itr AS (
       |  SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
       |  GROUP BY a.source, b.source)""".stripMargin

  // shared oracle CTE tail for q116/q117: every LSH candidate pair with
  // its exact Jaccard (q38's chain minus the 0.5 cutoff), plus the
  // first agreeing band for the band sweep
  private val sweepPairCtes =
    s"""w AS ($duckWords),
       | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
       | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
       | sigs AS (
       | $duckShingleArms
       | ),
       | cand AS (
       |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, min(s1.band) AS first_band
       |  FROM sigs s1 JOIN sigs s2
       |   ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id
       |  GROUP BY 1, 2),
       | shx AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS s FROM w),
       | sizes AS (SELECT doc_id, count(*) AS nsh FROM shx GROUP BY doc_id),
       | ps AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS shared
       |  FROM cand c
       |  JOIN shx a ON a.doc_id = c.doc_a
       |  JOIN shx b ON b.doc_id = c.doc_b AND b.s = a.s
       |  GROUP BY c.doc_a, c.doc_b),
       | pj AS (
       |  SELECT c.doc_a, c.doc_b, c.first_band, coalesce(p.shared, 0) AS shared,
       |   sa.nsh AS na, sb.nsh AS nb
       |  FROM cand c
       |  LEFT JOIN ps p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
       |  JOIN sizes sa ON sa.doc_id = c.doc_a
       |  JOIN sizes sb ON sb.doc_id = c.doc_b
       |  WHERE sa.nsh + sb.nsh > coalesce(p.shared, 0)),
       | x AS (SELECT doc_a, doc_b, first_band, shared / (na + nb - shared) AS jaccard FROM pj)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q116_lsh_tuning" ->
      s"""WITH $sweepPairCtes,
         | cfg AS (SELECT unnest([2, 4, 8]) AS bands),
         | e AS (SELECT bands, (first_band < bands) AS cand, jaccard FROM x CROSS JOIN cfg),
         | g AS (SELECT bands,
         |   CAST(sum(CASE WHEN cand THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
         |   CAST(sum(CASE WHEN cand AND jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified,
         |   CAST(sum(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_verified_max
         |  FROM e GROUP BY bands)
         |SELECT bands, n_candidates, n_verified,
         | CASE WHEN n_candidates > 0 THEN round(n_verified / n_candidates, 4) END AS "precision",
         | CASE WHEN n_verified_max > 0 THEN round(n_verified / n_verified_max, 4) END AS recall
         |FROM g ORDER BY bands""".stripMargin,
    "q117_dedup_sweep" ->
      s"""WITH $sweepPairCtes,
         | cfg AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.7 AS DOUBLE),
         |                        CAST(0.9 AS DOUBLE)]) AS tau),
         | pt AS (SELECT tau, doc_b, jaccard FROM x CROSS JOIN cfg WHERE jaccard >= tau),
         | pc AS (SELECT tau, count(*) AS n_pairs FROM pt GROUP BY tau),
         | dr AS (
         |  SELECT tau, count(*) AS n_docs_dropped,
         |   CAST(sum(n_chars) AS BIGINT) AS chars_dropped
         |  FROM (SELECT DISTINCT tau, doc_b FROM pt) d
         |  JOIN documents ON doc_id = d.doc_b GROUP BY tau),
         | tot AS (SELECT count(*) AS n_docs_total,
         |   CAST(sum(n_chars) AS BIGINT) AS chars_total FROM documents)
         |SELECT tau,
         | CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         | CAST(coalesce(n_docs_dropped, 0) AS BIGINT) AS n_docs_dropped,
         | CAST(coalesce(chars_dropped, 0) AS BIGINT) AS chars_dropped,
         | round(coalesce(n_docs_dropped, 0) / n_docs_total, 4) AS drop_share,
         | round(coalesce(chars_dropped, 0) / chars_total, 4) AS chars_share
         |FROM cfg CROSS JOIN tot
         |LEFT JOIN pc USING (tau) LEFT JOIN dr USING (tau)
         |ORDER BY tau""".stripMargin,
    "q113_substring_windows" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        | p AS (
        | SELECT doc_id, source,
        |  unnest(CASE WHEN len(ws) >= 8 THEN
        |    list_transform(range(1, len(ws) - 8 + 2),
        |      i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))
        |   ELSE CAST([] AS VARCHAR[]) END) AS h
        | FROM w),
        | r AS (SELECT h, count(*) AS n_occ FROM p GROUP BY h HAVING count(*) > 1)
        |SELECT source, count(*) AS n_windows,
        | CAST(sum(CASE WHEN n_occ IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
        | count(DISTINCT CASE WHEN n_occ IS NOT NULL THEN doc_id END) AS n_docs_affected,
        | round(sum(CASE WHEN n_occ IS NOT NULL THEN 1 ELSE 0 END) / count(*), 4) AS dup_share
        |FROM p LEFT JOIN r USING (h)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q146_leak_severity" ->
      s"""WITH w AS (
         | SELECT doc_id, string_split(text, ' ') AS ws,
         |  ${hexint32("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         | FROM documents),
         | s AS (
         | SELECT doc_id,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split, ws
         | FROM w),
         | p AS (
         | SELECT doc_id, split,
         |  unnest(CASE WHEN len(ws) >= 8 THEN
         |    list_transform(range(1, len(ws) - 8 + 2),
         |      i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))
         |   ELSE CAST([] AS VARCHAR[]) END) AS h
         | FROM s),
         | dfq AS (
         | SELECT h, count(DISTINCT doc_id) AS df FROM p WHERE split = 'train' GROUP BY h),
         | nt AS (
         | SELECT count(DISTINCT doc_id) AS n_train FROM p WHERE split = 'train'),
         | ev AS (SELECT DISTINCT split, h FROM p WHERE split <> 'train'),
         | sv AS (
         | SELECT split, df,
         |  CAST(round(ln(CAST(n_train AS DOUBLE) / CAST(df AS DOUBLE)) * 10000, 0) AS BIGINT)
         |    AS sev_e4
         | FROM ev JOIN dfq USING (h) CROSS JOIN nt)
         |SELECT split, count(*) AS n_leaked_windows,
         | CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_verbatim,
         | CAST(sum(sev_e4) AS BIGINT) AS total_severity_e4,
         | CAST(max(sev_e4) AS BIGINT) AS max_severity_e4
         |FROM sv GROUP BY split ORDER BY split""".stripMargin,
    "q143_leakage_by_source" ->
      s"""WITH w AS (
         | SELECT doc_id, source, string_split(text, ' ') AS ws,
         |  ${hexint32("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         | FROM documents),
         | s AS (
         | SELECT doc_id, source,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split, ws
         | FROM w),
         | p AS (
         | SELECT doc_id, source, split,
         |  unnest(CASE WHEN len(ws) >= 8 THEN
         |    list_transform(range(1, len(ws) - 8 + 2),
         |      i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))
         |   ELSE CAST([] AS VARCHAR[]) END) AS h
         | FROM s),
         | ev AS (SELECT DISTINCT split, h FROM p WHERE split <> 'train'),
         | tr AS (SELECT DISTINCT h, source AS train_source FROM p WHERE split = 'train'),
         | pairs AS (
         | SELECT ev.split, tr.train_source, ev.h FROM ev JOIN tr ON ev.h = tr.h),
         | per AS (
         | SELECT split, train_source, count(*) AS n_leaked_windows
         | FROM pairs GROUP BY split, train_source),
         | tot AS (
         | SELECT split, count(DISTINCT h) AS total_leaked FROM pairs GROUP BY split)
         |SELECT split, train_source, n_leaked_windows,
         | round(n_leaked_windows / total_leaked, 4) AS source_share
         |FROM per JOIN tot USING (split)
         |ORDER BY split, train_source""".stripMargin,
    "q120_split_leakage" ->
      s"""WITH w AS (
         | SELECT doc_id, string_split(text, ' ') AS ws,
         |  ${hexint32("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         | FROM documents),
         | s AS (
         | SELECT doc_id,
         |  CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |       ELSE 'test' END AS split, ws
         | FROM w),
         | p AS (
         | SELECT doc_id, split,
         |  unnest(CASE WHEN len(ws) >= 8 THEN
         |    list_transform(range(1, len(ws) - 8 + 2),
         |      i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))
         |   ELSE CAST([] AS VARCHAR[]) END) AS h
         | FROM s),
         | tr AS (SELECT DISTINCT h AS th FROM p WHERE split = 'train'),
         | ev AS (SELECT * FROM p WHERE split <> 'train'),
         | dw AS (SELECT DISTINCT split, h FROM ev),
         | lw AS (
         | SELECT split, count(*) AS n_distinct_windows,
         |  CAST(sum(CASE WHEN th IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_windows
         | FROM dw LEFT JOIN tr ON dw.h = tr.th GROUP BY split),
         | ld AS (
         | SELECT split, count(DISTINCT doc_id) AS n_docs,
         |  count(DISTINCT CASE WHEN th IS NOT NULL THEN doc_id END) AS n_docs_leaked
         | FROM ev LEFT JOIN tr ON ev.h = tr.th GROUP BY split)
         |SELECT split, n_distinct_windows, n_leaked_windows, n_docs, n_docs_leaked,
         | round(n_leaked_windows / n_distinct_windows, 4) AS leak_share
         |FROM lw JOIN ld USING (split) ORDER BY split""".stripMargin,
    "q122_window_novelty" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
        | p AS (
        | SELECT source,
        |  unnest(CASE WHEN len(ws) >= 8 THEN
        |    list_transform(range(1, len(ws) - 8 + 2),
        |      i -> md5(array_to_string(list_slice(ws, i, i + 7), ' ')))
        |   ELSE CAST([] AS VARCHAR[]) END) AS h
        | FROM w),
        | d AS (SELECT DISTINCT source, h FROM p),
        | sp AS (SELECT h, count(*) AS n_sources FROM d GROUP BY h)
        |SELECT source, count(*) AS n_distinct_windows,
        | CAST(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_exclusive,
        | CAST(sum(CASE WHEN n_sources > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        | round(sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) / count(*), 4) AS novelty_share
        |FROM d JOIN sp USING (h) GROUP BY source ORDER BY source""".stripMargin,
    "q165_length_psi" ->
      s"""WITH d AS (
         | SELECT ${hexint32("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket, n_chars
         | FROM documents),
         | s AS (
         | SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |        ELSE 'test' END AS split,
         |  least(n_chars // 100, 9) AS bin FROM d),
         | c AS (
         | SELECT bin,
         |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_train,
         |  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS c_val,
         |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS c_test
         | FROM s GROUP BY bin),
         | t AS (
         | SELECT CAST(sum(c_train) AS BIGINT) AS t_train,
         |  CAST(sum(c_val) AS BIGINT) AS t_val,
         |  CAST(sum(c_test) AS BIGINT) AS t_test,
         |  count(*) AS n_bins FROM c),
         | p AS (
         | SELECT 'train' AS split_a, 'val' AS split_b, c_train + 1 AS ca, c_val + 1 AS cb,
         |  t_train + n_bins AS na, t_val + n_bins AS nb, bin FROM c CROSS JOIN t
         | UNION ALL
         | SELECT 'train', 'test', c_train + 1, c_test + 1,
         |  t_train + n_bins, t_test + n_bins, bin FROM c CROSS JOIN t
         | UNION ALL
         | SELECT 'val', 'test', c_val + 1, c_test + 1,
         |  t_val + n_bins, t_test + n_bins, bin FROM c CROSS JOIN t),
         | f AS (
         | SELECT *,
         |  CAST(floor((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) * ln(CAST(ca AS DOUBLE) * nb / (CAST(cb AS DOUBLE) * na)) * 1000000 + 0.5) AS BIGINT) AS term_e6
         | FROM p),
         | g AS (
         | SELECT split_a, split_b, count(*) AS n_bins,
         |  max(na) AS na_smoothed, max(nb) AS nb_smoothed,
         |  CAST(sum(term_e6) AS BIGINT) AS psi_e6,
         |  max(lpad(CAST(term_e6 AS VARCHAR), 19, '0') || ':' || CAST(bin AS VARCHAR)) AS worst
         | FROM f GROUP BY split_a, split_b)
         |SELECT split_a, split_b, n_bins, na_smoothed, nb_smoothed, psi_e6,
         | CAST(substr(worst, 21) AS BIGINT) AS worst_bin,
         | CASE WHEN psi_e6 < 100000 THEN 'stable'
         |      WHEN psi_e6 < 250000 THEN 'moderate' ELSE 'shifted' END AS verdict
         |FROM g ORDER BY split_a, split_b""".stripMargin,
    "q110_split_shift" ->
      s"""WITH d AS (
         | SELECT ${hexint32("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket, text
         | FROM documents),
         | s AS (
         | SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |        ELSE 'test' END AS split,
         |  unnest(string_split(text, ' ')) AS term FROM d),
         | c AS (
         | SELECT term,
         |  CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS c_train,
         |  CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS c_val,
         |  CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS c_test
         | FROM s GROUP BY term),
         | t AS (
         | SELECT CAST(sum(c_train) AS BIGINT) AS t_train,
         |  CAST(sum(c_val) AS BIGINT) AS t_val,
         |  CAST(sum(c_test) AS BIGINT) AS t_test FROM c),
         | p AS (
         | SELECT 'train' AS split_a, 'val' AS split_b, c_train AS ca, c_val AS cb,
         |  t_train AS ta, t_val AS tb, term FROM c CROSS JOIN t
         | UNION ALL
         | SELECT 'train', 'test', c_train, c_test, t_train, t_test, term FROM c CROSS JOIN t
         | UNION ALL
         | SELECT 'val', 'test', c_val, c_test, t_val, t_test, term FROM c CROSS JOIN t),
         | f AS (SELECT *, abs(ca * tb - cb * ta) AS crs FROM p WHERE ca + cb > 0)
         |SELECT split_a, split_b, count(*) AS n_terms,
         | max(ta) AS tokens_a, max(tb) AS tokens_b,
         | round(CAST(sum(crs) AS DOUBLE) / (2.0 * max(ta) * max(tb)), 6) AS tv,
         | substr(max(lpad(CAST(crs AS VARCHAR), 20, '0') || ':' || term), 22) AS top_term
         |FROM f GROUP BY split_a, split_b ORDER BY split_a, split_b""".stripMargin,
    "q107_delta_dedup" ->
      s"""WITH w AS (
         | SELECT doc_id, source, n_chars, string_split(text, ' ') AS words,
         |  md5(text) AS h, source LIKE 'src1%' AS incoming
         | FROM documents),
         | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
         | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
         | sigs AS (
         | $duckShingleArms
         | ),
         | bh AS (SELECT DISTINCT h FROM w WHERE NOT incoming),
         | cn AS (SELECT h, min(doc_id) AS canon_id FROM w WHERE incoming GROUP BY h),
         | bs AS (
         |  SELECT DISTINCT band, sig FROM sigs JOIN w USING (doc_id)
         |  WHERE NOT incoming AND sig IS NOT NULL),
         | nr AS (
         |  SELECT DISTINCT s.doc_id FROM sigs s
         |  JOIN w ww ON ww.doc_id = s.doc_id AND ww.incoming
         |  JOIN bs ON bs.band = s.band AND bs.sig = s.sig),
         | cls AS (
         | SELECT w.source, w.n_chars,
         |  CASE WHEN bh.h IS NOT NULL THEN 'exact_dup_base'
         |       WHEN w.doc_id <> cn.canon_id THEN 'exact_dup_batch'
         |       WHEN nr.doc_id IS NOT NULL THEN 'near_dup_base'
         |       ELSE 'new_unique' END AS cls
         | FROM w
         | LEFT JOIN bh ON bh.h = w.h
         | JOIN cn ON cn.h = w.h
         | LEFT JOIN nr ON nr.doc_id = w.doc_id
         | WHERE w.incoming)
         |SELECT source, cls, count(*) AS n_docs,
         | CAST(sum(n_chars) AS BIGINT) AS n_chars
         |FROM cls GROUP BY source, cls ORDER BY source, cls""".stripMargin,
    "q103_hash_split" ->
      s"""WITH d AS (
         | SELECT source, len(string_split(text, ' ')) AS n_words,
         |  ${hexint32("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
         | FROM documents),
         | s AS (SELECT source, n_words,
         |   CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val'
         |        ELSE 'test' END AS split FROM d),
         | g AS (SELECT source, split, count(*) AS n_docs,
         |   CAST(sum(n_words) AS BIGINT) AS n_words FROM s GROUP BY source, split)
         |SELECT source, split, n_docs, n_words,
         | round(n_docs / (sum(n_docs) OVER (PARTITION BY source)), 4) AS doc_share
         |FROM g ORDER BY source, split""".stripMargin,
    "q92_source_overlap" ->
      s"""WITH $overlapDuckCtes
         |SELECT s1, s2, n_shared, z1.sz AS sz1, z2.sz AS sz2,
         | round(n_shared / (z1.sz + z2.sz - n_shared), 4) AS jaccard
         |FROM itr JOIN sz z1 ON z1.source = itr.s1 JOIN sz z2 ON z2.source = itr.s2
         |ORDER BY s1, s2""".stripMargin,
    "q95_overlap_sketch" ->
      s"""WITH $overlapDuckCtes,
         | hv AS (SELECT DISTINCT source, ${hexint32("md5(sh)")} AS h FROM sh),
         | r AS (SELECT source, h,
         |   row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM hv),
         | bk AS (SELECT source, list_sort(list(h)) AS kh FROM r WHERE rn <= 64 GROUP BY source),
         | pr AS (SELECT a.source AS s1, b.source AS s2, a.kh AS kha, b.kh AS khb
         |   FROM bk a JOIN bk b ON a.source < b.source),
         | eu AS (SELECT s1, s2, kha, khb,
         |   list_slice(list_sort(list_distinct(list_concat(kha, khb))), 1, 64) AS u FROM pr),
         | ej AS (SELECT s1, s2,
         |   round(len(list_filter(u, x -> list_contains(kha, x) AND list_contains(khb, x)))
         |     / len(u), 4) AS est_jaccard
         |  FROM eu),
         | ex AS (
         |  SELECT s1, s2, round(n_shared / (z1.sz + z2.sz - n_shared), 4) AS jaccard
         |  FROM itr JOIN sz z1 ON z1.source = itr.s1 JOIN sz z2 ON z2.source = itr.s2)
         |SELECT ej.s1, ej.s2, est_jaccard,
         | coalesce(ex.jaccard, 0.0) AS jaccard,
         | round(abs(est_jaccard - coalesce(ex.jaccard, 0.0)), 4) AS abs_err
         |FROM ej LEFT JOIN ex ON ej.s1 = ex.s1 AND ej.s2 = ex.s2
         |ORDER BY ej.s1, ej.s2""".stripMargin,
    "q89_line_dedup" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
        | f AS (SELECT * FROM w WHERE len(words) >= 6),
        | c AS (SELECT doc_id, source,
        |   unnest(list_transform(range(CAST(len(words) // 6 AS BIGINT)),
        |     i -> array_to_string(words[i * 6 + 1 : i * 6 + 6], ' '))) AS line
        |  FROM f),
        | o AS (SELECT source, doc_id, line, count(*) AS cnt FROM c GROUP BY 1, 2, 3),
        | m AS (SELECT line, min(doc_id) AS min_doc FROM o GROUP BY 1)
        |SELECT source, CAST(sum(cnt) AS BIGINT) AS n_lines,
        | CAST(sum(CASE WHEN doc_id = min_doc THEN cnt - 1 ELSE cnt END) AS BIGINT) AS n_removed,
        | CAST(sum(CASE WHEN doc_id = min_doc THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical
        |FROM o JOIN m USING (line) GROUP BY source ORDER BY source""".stripMargin,
    "q127_containment" ->
      s"""WITH w AS ($duckWords),
         | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
         | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
         | sigs AS (
         | $duckShingleArms
         | ),
         | cand AS (
         |  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
         |  FROM sigs s1 JOIN sigs s2
         |   ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id),
         | shx AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS s FROM w),
         | sizes AS (SELECT doc_id, count(*) AS nsh FROM shx GROUP BY doc_id),
         | inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS shared
         |  FROM cand c
         |  JOIN shx a ON a.doc_id = c.doc_a
         |  JOIN shx b ON b.doc_id = c.doc_b AND b.s = a.s
         |  GROUP BY c.doc_a, c.doc_b),
         | p AS (
         | SELECT round(greatest(shared / sa.nsh, shared / sb.nsh), 6) AS cont,
         |        round(shared / (sa.nsh + sb.nsh - shared), 6) AS jaccard
         | FROM inter
         | JOIN sizes sa ON sa.doc_id = doc_a
         | JOIN sizes sb ON sb.doc_id = doc_b),
         | bk AS (SELECT CAST(least(floor(cont * 4), 3) AS BIGINT) AS bucket, cont, jaccard FROM p)
         |SELECT bucket, count(*) AS n_pairs,
         | CAST(sum(CASE WHEN cont >= 0.8 AND jaccard < 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS n_missed,
         | round(max(cont - jaccard), 4) AS max_gap,
         | round(avg(jaccard), 4) AS avg_jaccard
         |FROM bk GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q129_edit_verify" ->
      s"""WITH w AS ($duckWords),
         | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
         | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
         | sigs AS (
         | $duckShingleArms
         | ),
         | cand AS (
         |  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
         |  FROM sigs s1 JOIN sigs s2
         |   ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id),
         | shx AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS s FROM w),
         | sizes AS (SELECT doc_id, count(*) AS nsh FROM shx GROUP BY doc_id),
         | inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS shared
         |  FROM cand c
         |  JOIN shx a ON a.doc_id = c.doc_a
         |  JOIN shx b ON b.doc_id = c.doc_b AND b.s = a.s
         |  GROUP BY c.doc_a, c.doc_b),
         | tx AS (SELECT doc_id, ${wordStringDuck(128, 2)} AS cap_text FROM documents),
         | p AS (
         |  SELECT round(shared / (sa.nsh + sb.nsh - shared), 6) AS jaccard,
         |   levenshtein(ta.cap_text, tb.cap_text) AS lev,
         |   greatest(length(ta.cap_text), length(tb.cap_text)) AS maxlen
         |  FROM inter
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  JOIN tx ta ON ta.doc_id = doc_a
         |  JOIN tx tb ON tb.doc_id = doc_b),
         | e AS (
         |  SELECT jaccard,
         |   CASE WHEN maxlen > 0 THEN round(1.0 - lev / maxlen, 6) ELSE 1.0 END AS edit_sim
         |  FROM p),
         | c AS (
         |  SELECT jaccard, edit_sim,
         |   CASE WHEN jaccard >= 0.5 AND edit_sim >= 0.5 THEN 'both'
         |        WHEN jaccard >= 0.5 THEN 'jaccard_only'
         |        WHEN edit_sim >= 0.5 THEN 'edit_only'
         |        ELSE 'neither' END AS cls
         |  FROM e)
         |SELECT cls, count(*) AS n_pairs,
         | round(avg(jaccard), 4) AS avg_jaccard,
         | round(avg(edit_sim), 4) AS avg_edit_sim,
         | round(max(abs(jaccard - edit_sim)), 4) AS max_gap
         |FROM c GROUP BY cls ORDER BY cls""".stripMargin,
    "q142_planted_recall" -> {
      val armSelects = Seq(5, 10, 20)
        .map(k => s"SELECT doc_id, $k AS k, words, ${duckPertWords(k)} AS pwords FROM w")
        .mkString("\n UNION ALL\n ")
      s"""WITH w AS ($duckWords),
         | arms AS (
         | $armSelects
         | ),
         | sh AS (
         | SELECT doc_id, k, ${duckShinglesOf("words")} AS sho,
         |  ${duckShinglesOf("pwords")} AS shp
         | FROM arms),
         | hx AS (
         | SELECT doc_id, k,
         |  list_transform(list_transform(sho, s -> md5(s)), m -> ${hexint32("m")}) AS ho,
         |  list_transform(list_transform(shp, s -> md5(s)), m -> ${hexint32("m")}) AS hp,
         |  list_distinct(sho) AS dso, list_distinct(shp) AS dsp
         | FROM sh),
         | sg AS (
         | SELECT k, ${duckSigsOf("ho")} AS so, ${duckSigsOf("hp")} AS sp, dso, dsp
         | FROM hx),
         | m AS (
         | SELECT k,
         |  len(list_filter(range(1, $DefaultBands + 1), i -> so[i] = sp[i])) AS n_agree,
         |  len(list_filter(dso, x -> list_contains(dsp, x))) AS shared,
         |  len(dso) AS na, len(dsp) AS nbs
         | FROM sg),
         | f AS (
         | SELECT k, n_agree,
         |  CAST(round(CAST(shared AS DOUBLE) / (na + nbs - shared) * 10000, 0) AS BIGINT) AS j_e4
         | FROM m WHERE na + nbs > shared),
         | g AS (
         | SELECT k, count(*) AS n_planted,
         |  CAST(sum(CASE WHEN n_agree >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN j_e4 >= 5000 THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dups,
         |  CAST(sum(CASE WHEN n_agree >= 1 AND j_e4 >= 5000 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_recalled,
         |  CAST(sum(j_e4) AS BIGINT) AS sum_j_e4
         | FROM f GROUP BY k)
         |SELECT CAST(k AS BIGINT) AS k, n_planted, n_candidates, n_true_dups,
         | CASE WHEN n_true_dups > 0 THEN round(n_recalled / n_true_dups, 4) END AS recall,
         | ((2 * sum_j_e4 + n_planted) // (2 * n_planted)) / 10000.0 AS avg_jaccard
         |FROM g ORDER BY k""".stripMargin
    },
    "q140_prefix_boilerplate" ->
      """WITH pre AS (
        | SELECT doc_id, source,
        |  md5(array_to_string(array_slice(string_split(text, ' '), 1, 8), ' ')) AS p
        | FROM documents),
        | g AS (SELECT p, count(*) AS n_docs_p FROM pre GROUP BY p),
        | j AS (SELECT source, pre.p, n_docs_p FROM pre JOIN g ON pre.p = g.p)
        |SELECT source, count(*) AS n_docs,
        | CAST(count(DISTINCT p) AS BIGINT) AS n_heads,
        | CAST(max(n_docs_p) AS BIGINT) AS max_head_docs,
        | CAST(sum(CASE WHEN n_docs_p >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared_head_docs,
        | round(sum(CASE WHEN n_docs_p >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS shared_share
        |FROM j GROUP BY source ORDER BY source""".stripMargin,
    "q131_norm_dedup" ->
      """WITH orig AS (SELECT source, text FROM documents),
        | messy AS (
        |  SELECT source,
        |   '  ' || upper(regexp_replace(text, ' ', '  ', 'g')) || ' ' AS text
        |  FROM documents),
        | al AS (SELECT * FROM orig UNION ALL SELECT * FROM messy),
        | h AS (
        |  SELECT source, md5(text) AS raw_h,
        |   md5(trim(regexp_replace(lower(text), ' +', ' ', 'g'))) AS norm_h
        |  FROM al),
        | g AS (
        |  SELECT source, count(*) AS n_docs,
        |   CAST(count(DISTINCT raw_h) AS BIGINT) AS distinct_raw,
        |   CAST(count(DISTINCT norm_h) AS BIGINT) AS distinct_norm
        |  FROM h GROUP BY source)
        |SELECT source, n_docs, distinct_raw, distinct_norm,
        | distinct_raw - distinct_norm AS uplift,
        | round((distinct_raw - distinct_norm) / distinct_raw, 4) AS uplift_share
        |FROM g ORDER BY source""".stripMargin,
    "q248_bbit_minhash" ->
      s"""WITH w AS ($duckWords),
         | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
         | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
         | sigs AS (
         | $duckShingleArms
         | ),
         | cand AS (
         |  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
         |  FROM sigs s1 JOIN sigs s2
         |   ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id),
         | shx AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS s FROM w),
         | sizes AS (SELECT doc_id, count(*) AS nsh FROM shx GROUP BY doc_id),
         | ps AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS shared
         |  FROM cand c
         |  JOIN shx a ON a.doc_id = c.doc_a
         |  JOIN shx b ON b.doc_id = c.doc_b AND b.s = a.s
         |  GROUP BY 1, 2),
         | pj AS (
         |  SELECT c.doc_a, c.doc_b,
         |   CAST((2 * 10000 * coalesce(shared, 0)
         |     + (sa.nsh + sb.nsh - coalesce(shared, 0)))
         |    // (2 * (sa.nsh + sb.nsh - coalesce(shared, 0))) AS BIGINT) AS j_e4
         |  FROM cand c
         |  LEFT JOIN ps ON ps.doc_a = c.doc_a AND ps.doc_b = c.doc_b
         |  JOIN sizes sa ON sa.doc_id = c.doc_a
         |  JOIN sizes sb ON sb.doc_id = c.doc_b
         |  WHERE sa.nsh + sb.nsh > coalesce(shared, 0)),
         | pm AS (
         |  SELECT pj.doc_a, pj.doc_b, j_e4,
         |   CAST(sum(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END) AS BIGINT) AS m_full,
         |   CAST(sum(CASE WHEN (a.sig & 3) = (b.sig & 3) THEN 1 ELSE 0 END) AS BIGINT) AS m_b2,
         |   CAST(sum(CASE WHEN (a.sig & 1) = (b.sig & 1) THEN 1 ELSE 0 END) AS BIGINT) AS m_b1
         |  FROM pj
         |  JOIN sigs a ON a.doc_id = pj.doc_a
         |  JOIN sigs b ON b.doc_id = pj.doc_b AND b.band = a.band
         |  GROUP BY 1, 2, 3),
         | pe AS (
         |  SELECT j_e4,
         |   (2 * 10000 * m_full + $DefaultBands) // (2 * $DefaultBands) AS ef,
         |   ((2 * 10000 * (4 * (m_b2 + $DefaultBands) - 2 * $DefaultBands)
         |     + $DefaultBands * 3) // (2 * $DefaultBands * 3)) - 10000 AS e2,
         |   ((2 * 10000 * (2 * (m_b1 + $DefaultBands) - 2 * $DefaultBands)
         |     + $DefaultBands) // (2 * $DefaultBands)) - 10000 AS e1
         |  FROM pm)
         |SELECT CAST(least(j_e4 // 1000, 9) AS BIGINT) AS decile, count(*) AS n_pairs,
         | CAST((2 * sum(j_e4) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_j_e4,
         | CAST((2 * sum(ef) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_full_e4,
         | CAST((2 * sum(e2 + 10000) + count(*)) // (2 * count(*)) - 10000 AS BIGINT)
         |  AS mean_b2_e4,
         | CAST((2 * sum(e1 + 10000) + count(*)) // (2 * count(*)) - 10000 AS BIGINT)
         |  AS mean_b1_e4,
         | CAST((2 * sum(abs(ef - j_e4)) + count(*)) // (2 * count(*)) AS BIGINT)
         |  AS err_full_e4,
         | CAST((2 * sum(abs(e2 - j_e4)) + count(*)) // (2 * count(*)) AS BIGINT)
         |  AS err_b2_e4,
         | CAST((2 * sum(abs(e1 - j_e4)) + count(*)) // (2 * count(*)) AS BIGINT)
         |  AS err_b1_e4
         |FROM pe GROUP BY 1 ORDER BY 1""".stripMargin,
    "q86_minhash_estimate" ->
      s"""WITH w AS ($duckWords),
         | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
         | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
         | sigs AS (
         | $duckShingleArms
         | ),
         | cand AS (
         |  SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS n_shared_bands
         |  FROM sigs s1 JOIN sigs s2
         |   ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id
         |  GROUP BY 1, 2),
         | shx AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS s FROM w),
         | sizes AS (SELECT doc_id, count(*) AS nsh FROM shx GROUP BY doc_id),
         | ps AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS shared
         |  FROM cand c
         |  JOIN shx a ON a.doc_id = c.doc_a
         |  JOIN shx b ON b.doc_id = c.doc_b AND b.s = a.s
         |  GROUP BY c.doc_a, c.doc_b),
         | f AS (
         |  SELECT c.doc_a, c.doc_b, c.n_shared_bands, coalesce(p.shared, 0) AS shared
         |  FROM cand c LEFT JOIN ps p ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b)
         |SELECT f.doc_a, f.doc_b,
         | round(n_shared_bands / ${DefaultBands}.0, 4) AS est_jaccard,
         | round(shared / (sa.nsh + sb.nsh - shared), 4) AS jaccard,
         | round(abs(n_shared_bands / ${DefaultBands}.0 - shared / (sa.nsh + sb.nsh - shared)), 4) AS abs_err
         |FROM f
         |JOIN sizes sa ON sa.doc_id = f.doc_a
         |JOIN sizes sb ON sb.doc_id = f.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q75_decontaminate" ->
      s"""WITH w AS ($duckWords),
         | shx AS (SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS s FROM w),
         | ev AS (SELECT doc_id AS eval_doc, s FROM shx WHERE doc_id % 97 = 0),
         | hot AS (SELECT s FROM ev GROUP BY s HAVING count(*) > $HotShingleCap),
         | evk AS (SELECT * FROM ev WHERE s NOT IN (SELECT s FROM hot)),
         | tr AS (SELECT doc_id AS train_doc, s FROM shx WHERE doc_id % 97 <> 0)
         |SELECT train_doc, eval_doc, count(*) AS n_shared
         |FROM tr JOIN evk USING (s)
         |GROUP BY train_doc, eval_doc
         |HAVING count(*) >= $MinSharedShingles
         |ORDER BY train_doc, eval_doc""".stripMargin,
    "q63_simhash_pairs" -> {
      // FNV-1a 64-bit per token (the exact arithmetic of
      // functions.SimHashImpl) folded in HUGEINT mod 2^64, bit-majority,
      // then the same 4×16-bit pigeonhole blocking as the Spark plan
      val fnvFold =
        "(acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT"
      val ones64 = (0 until 64)
        .map(j => s"sum(CAST((hu // ${BigInt(1) << j}::HUGEINT) % 2 AS BIGINT)) AS ones_$j")
        .mkString(",\n  ")
      val simExpr = (0 until 64)
        .map(j => s"(CASE WHEN 2 * ones_$j >= nw THEN ${BigInt(1) << j}::HUGEINT ELSE 0::HUGEINT END)")
        .mkString(" + ")
      val blockArms = (0 until 4)
        .map(k =>
          s"SELECT doc_id, simhash, $k AS blk, CAST((hu // ${BigInt(1) << (16 * k)}::HUGEINT) % 65536 AS BIGINT) AS bval FROM sims2")
        .mkString("\n  UNION ALL\n  ")
      // the kernel folds raw UTF-8 BYTES; ascii() would fold code points
      // and diverge on any non-ASCII token, so the oracle walks the hex
      // encoding of each word byte-by-byte (hex() emits uppercase)
      val uhex = (c: String) =>
        s"(CASE WHEN ascii($c) >= 65 THEN ascii($c) - 55 ELSE ascii($c) - 48 END)"
      s"""WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         | wx AS (SELECT doc_id, hex(encode(w)) AS hx FROM words WHERE w <> ''),
         | hv AS (SELECT doc_id, list_reduce(
         |   [14695981039346656037::HUGEINT] ||
         |     list_transform(range(1, len(hx) // 2 + 1),
         |       i -> (${uhex("substr(hx, 2*i-1, 1)")} * 16 + ${uhex("substr(hx, 2*i, 1)")})::HUGEINT),
         |   $fnvFold) AS hu FROM wx),
         | bits AS (SELECT doc_id, count(*) AS nw,
         |  $ones64
         | FROM hv GROUP BY doc_id),
         | sims AS (SELECT doc_id, ($simExpr) AS hu FROM bits),
         | sims2 AS (SELECT doc_id, hu,
         |   CAST(hu - (CASE WHEN hu >= 9223372036854775808::HUGEINT
         |     THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END) AS BIGINT) AS simhash
         |  FROM sims),
         | blocks AS (
         |  $blockArms
         | ),
         | cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |   CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |  FROM blocks a JOIN blocks b
         |   ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin
    },
    "q79_dedup_report" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | nodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         | comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
         | d AS (SELECT doc_id, source, md5(text) AS h FROM documents),
         | k AS (SELECT doc_id, source, min(doc_id) OVER (PARTITION BY h) AS keeper FROM d),
         | f AS (
         |  SELECT k.source,
         |   (k.doc_id <> keeper) AS exact_drop,
         |   (k.doc_id = keeper AND c.component_id IS NOT NULL AND c.component_id <> k.doc_id) AS near_drop
         |  FROM k LEFT JOIN comp c ON c.doc_id = k.doc_id)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(CASE WHEN exact_drop THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_drop,
         | CAST(sum(CASE WHEN near_drop THEN 1 ELSE 0 END) AS BIGINT) AS n_near_drop,
         | CAST(count(*) - sum(CASE WHEN exact_drop THEN 1 ELSE 0 END)
         |   - sum(CASE WHEN near_drop THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
         |FROM f GROUP BY source ORDER BY source""".stripMargin,
    "q147_cluster_sizes" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | nodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         | comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
         | szs AS (SELECT component_id, count(*) AS sz FROM comp GROUP BY component_id)
         |SELECT sz, count(*) AS n_components,
         | CAST(sz * count(*) AS BIGINT) AS n_docs
         |FROM szs GROUP BY sz ORDER BY sz""".stripMargin,
    "q62_dup_clusters" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | nodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
         |SELECT u AS doc_id, min(v) AS component_id
         |FROM reach GROUP BY u ORDER BY doc_id""".stripMargin,
    "q265_cluster_split" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | gnodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM gnodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         | comp AS (SELECT u, min(v) AS comp FROM reach GROUP BY u),
         | d AS (
         | SELECT doc_id, coalesce(comp, doc_id) AS cluster
         | FROM documents LEFT JOIN comp ON comp.u = doc_id),
         | a AS (
         | SELECT doc_id, cluster, 'naive' AS method,
         |  CASE WHEN ((doc_id % 2147483647) * 2654435761) % 100 < 80 THEN 'train'
         |       WHEN ((doc_id % 2147483647) * 2654435761) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         | FROM d
         | UNION ALL
         | SELECT doc_id, cluster, 'cluster_aware' AS method,
         |  CASE WHEN ((cluster % 2147483647) * 2654435761) % 100 < 80 THEN 'train'
         |       WHEN ((cluster % 2147483647) * 2654435761) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         | FROM d),
         | pc AS (
         | SELECT method, cluster, count(*) AS n_docs,
         |  count(DISTINCT split) AS n_splits,
         |  sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS tr,
         |  sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS va,
         |  sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS te
         | FROM a GROUP BY 1, 2)
         |SELECT method,
         | CAST(sum(tr) AS BIGINT) AS n_train,
         | CAST(sum(va) AS BIGINT) AS n_val,
         | CAST(sum(te) AS BIGINT) AS n_test,
         | CAST(count(*) AS BIGINT) AS n_clusters,
         | CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |  AS spanning_clusters,
         | CAST(sum(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
         |  AS docs_in_spanning
         |FROM pc GROUP BY 1 ORDER BY method""".stripMargin,
    "q187_window_k_sweep" -> {
      def arm(k: Int) =
        s"""SELECT CAST($k AS BIGINT) AS k, doc_id,
           |  unnest(CASE WHEN len(ws) >= $k THEN
           |    list_transform(range(1, len(ws) - $k + 2),
           |      i -> md5(array_to_string(list_slice(ws, i, i + ${k - 1}), ' ')))
           |   ELSE CAST([] AS VARCHAR[]) END) AS h
           | FROM w""".stripMargin
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         | p AS (
         | ${Seq(4, 8, 16).map(arm).mkString("\n UNION ALL\n ")}),
         | r AS (SELECT k, h FROM p GROUP BY k, h HAVING count(*) > 1),
         | d AS (
         | SELECT p.k, count(*) AS n_dup_windows,
         |  count(DISTINCT p.doc_id) AS n_docs_affected
         | FROM p JOIN r ON r.k = p.k AND r.h = p.h GROUP BY p.k),
         | tot AS (SELECT k, count(*) AS n_windows FROM p GROUP BY k)
         |SELECT tot.k AS k, n_windows,
         | COALESCE(n_dup_windows, CAST(0 AS BIGINT)) AS n_dup_windows,
         | COALESCE(n_docs_affected, CAST(0 AS BIGINT)) AS n_docs_affected,
         | (2 * 10000 * COALESCE(n_dup_windows, 0) + n_windows) // (2 * n_windows) AS dup_share_e4
         |FROM tot LEFT JOIN d ON d.k = tot.k
         |ORDER BY k""".stripMargin
    },
    "q188_copy_matrix" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | nodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         | comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
         | lab AS (
         | SELECT comp.doc_id, comp.component_id, d.source
         | FROM comp JOIN documents d USING (doc_id)),
         | org AS (
         | SELECT component_id AS cid, source AS src_from FROM lab
         | WHERE doc_id = component_id)
         |SELECT src_from, lab.source AS src_to, count(*) AS n_copies,
         | count(DISTINCT lab.component_id) AS n_groups
         |FROM lab JOIN org ON lab.component_id = org.cid
         |WHERE lab.doc_id <> lab.component_id
         |GROUP BY src_from, lab.source ORDER BY src_from, src_to""".stripMargin,
    "q181_bloom_calibration" -> {
      val hv = hexint32("md5(text)")
      def arms(src: String) = bloomConfigs.zipWithIndex.flatMap { case ((m, k), c) =>
        (0 until k).map(i =>
          s"SELECT hv, $c AS cfg, ${bandHash(i, "hv")} % $m AS pos FROM $src")
      }.mkString("\n  UNION ALL\n  ")
      val kCase = bloomConfigs.zipWithIndex
        .map { case ((_, k), c) => s"WHEN cfg = $c THEN $k" }.mkString("CASE ", " ", " END")
      val cfgVals = bloomConfigs.zipWithIndex
        .map { case ((m, k), c) => s"($c, $m, $k)" }.mkString(", ")
      s"""WITH d AS (SELECT source, $hv AS hv FROM documents),
         | mem AS (SELECT DISTINCT hv FROM d WHERE source NOT LIKE 'src1%'),
         | prb AS (
         |  SELECT DISTINCT hv FROM d WHERE source LIKE 'src1%'
         |   AND hv NOT IN (SELECT hv FROM mem)),
         | mpos AS (SELECT DISTINCT cfg, pos FROM (
         |  ${arms("mem")})),
         | ppos AS (
         |  ${arms("prb")}),
         | hits AS (
         |  SELECT p.cfg, p.hv, count(*) AS n_hit
         |  FROM ppos p JOIN mpos b ON b.cfg = p.cfg AND b.pos = p.pos
         |  GROUP BY p.cfg, p.hv),
         | fp AS (
         |  SELECT cfg, count(*) AS n_false_pos FROM hits
         |  WHERE n_hit = $kCase GROUP BY cfg),
         | bc AS (SELECT cfg, count(*) AS n_bits_set FROM mpos GROUP BY cfg),
         | cfgs AS (SELECT * FROM (VALUES $cfgVals) AS t(cfg, m, k))
         |SELECT CAST(m AS BIGINT) AS m, CAST(k AS BIGINT) AS k,
         | (SELECT count(*) FROM mem) AS n_members, n_bits_set,
         | (2 * 1000000 * n_bits_set + m) // (2 * m) AS fill_e6,
         | (SELECT count(*) FROM prb) AS n_probes,
         | COALESCE(n_false_pos, CAST(0 AS BIGINT)) AS n_false_pos,
         | (2 * 1000000 * COALESCE(n_false_pos, 0) + (SELECT count(*) FROM prb))
         |  // (2 * (SELECT count(*) FROM prb)) AS fpr_e6
         |FROM cfgs JOIN bc USING (cfg) LEFT JOIN fp USING (cfg)
         |ORDER BY m""".stripMargin
    },
    "q203_cdc_chunks" -> {
      s"""WITH $duckCdcChunkCtes,
         | k AS (SELECT hh, min(doc_id * 1000000 + cid) AS mk FROM ch GROUP BY 1)
         |SELECT source, count(*) AS n_chunks,
         | CAST(sum(CASE WHEN doc_id * 1000000 + cid = mk THEN 1 ELSE 0 END) AS BIGINT)
         |  AS n_canonical,
         | CAST(sum(CASE WHEN doc_id * 1000000 + cid = mk THEN 0 ELSE nch END) AS BIGINT)
         |  AS dup_chars,
         | CAST(sum(nch) AS BIGINT) AS total_chars,
         | CAST((2 * 10000 * sum(CASE WHEN doc_id * 1000000 + cid = mk THEN 0 ELSE nch END)
         |  + sum(nch)) // (2 * sum(nch)) AS BIGINT) AS reclaim_e4
         |FROM ch JOIN k USING (hh)
         |GROUP BY source ORDER BY source""".stripMargin
    },
    "q210_chunk_league" ->
      s"""WITH $duckCdcChunkCtes
         |SELECT hh, count(*) AS n_occ,
         | CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         | CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         | CAST(max(nch) AS BIGINT) AS chunk_chars,
         | CAST((count(*) - 1) * max(nch) AS BIGINT) AS dup_chars
         |FROM ch GROUP BY hh HAVING count(*) >= 2
         |ORDER BY dup_chars DESC, hh LIMIT 20""".stripMargin,
    "q195_dedup_saturation" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | nodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         | comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
         | f AS (
         | SELECT d.doc_id,
         |  CASE WHEN c.component_id IS NOT NULL AND c.component_id <> d.doc_id
         |   THEN 1 ELSE 0 END AS redundant,
         |  c.component_id
         | FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         | x AS (
         | SELECT unnest(list_filter(${(6 to 40).map(k => 1L << k).mkString("[", ", ", "]")},
         |   c -> doc_id < c)) AS cp, redundant, component_id
         | FROM f),
         | agg AS (
         | SELECT cp, count(*) AS n_docs,
         |  CAST(sum(redundant) AS BIGINT) AS n_redundant,
         |  CAST(count(DISTINCT CASE WHEN redundant = 1 THEN component_id END) AS BIGINT)
         |   AS n_components
         | FROM x GROUP BY cp)
         |SELECT cp AS checkpoint, n_docs, n_redundant, n_components,
         | CAST((2 * 1000000 * n_redundant + n_docs) // (2 * n_docs) AS BIGINT) AS rate_e6
         |FROM agg
         |WHERE cp < 2 * (SELECT count(*) FROM documents)
         |ORDER BY checkpoint""".stripMargin,
    "q183_dedup_bytes" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | nodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         | comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
         | k AS (
         | SELECT doc_id, source, n_chars,
         |  min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
         | FROM documents),
         | cls AS (
         | SELECT k.source, k.n_chars,
         |  (k.doc_id <> k.keeper) AS exact_drop,
         |  (k.doc_id = k.keeper AND comp.component_id IS NOT NULL
         |   AND comp.component_id <> k.doc_id) AS near_drop
         | FROM k LEFT JOIN comp ON comp.doc_id = k.doc_id)
         |SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_chars,
         | CAST(sum(CASE WHEN exact_drop THEN n_chars ELSE 0 END) AS BIGINT) AS exact_drop_chars,
         | CAST(sum(CASE WHEN near_drop THEN n_chars ELSE 0 END) AS BIGINT) AS near_drop_chars,
         | CAST((2 * 10000 * (sum(CASE WHEN exact_drop THEN n_chars ELSE 0 END)
         |   + sum(CASE WHEN near_drop THEN n_chars ELSE 0 END))
         |  + sum(n_chars)) // (2 * sum(n_chars)) AS BIGINT) AS reclaim_share_e4
         |FROM cls GROUP BY source ORDER BY source""".stripMargin,
    "q180_lsh_occupancy" ->
      s"""WITH w AS ($duckWords),
         | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
         | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
         | sigs AS (
         | $duckShingleArms
         | ),
         | bk AS (SELECT band, sig, count(*) AS b FROM sigs GROUP BY band, sig),
         | s AS (
         | SELECT CAST(band AS BIGINT) AS band, count(*) AS n_buckets,
         |  CAST(sum(b) AS BIGINT) AS n_docs, max(b) AS max_bucket,
         |  CAST(sum((b * (b - 1)) // 2) AS BIGINT) AS pred_pairs,
         |  CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons
         | FROM bk GROUP BY band)
         |SELECT band, n_buckets, n_docs, max_bucket, pred_pairs, n_singletons,
         | (2 * 10000 * n_singletons + n_buckets) // (2 * n_buckets) AS singleton_share_e4
         |FROM s ORDER BY band""".stripMargin,
    "q169_cluster_span" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | nodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         | comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
         | cl AS (
         | SELECT component_id, count(*) AS sz,
         |  count(DISTINCT source) AS n_sources, count(DISTINCT lang) AS n_langs
         | FROM comp JOIN documents USING (doc_id) GROUP BY component_id)
         |SELECT n_sources, n_langs, count(*) AS n_components,
         | CAST(sum(sz) AS BIGINT) AS n_docs, max(sz) AS max_sz
         |FROM cl GROUP BY n_sources, n_langs
         |ORDER BY n_sources, n_langs""".stripMargin,
    "q171_shingle_reuse" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
         | shx AS (SELECT source, unnest(list_distinct($shinglesDuck)) AS sh FROM w),
         | c AS (SELECT source, sh, count(*) AS df FROM shx GROUP BY source, sh),
         | s AS (
         | SELECT source, count(*) AS n_shingle_types,
         |  CAST(sum(df) AS BIGINT) AS n_doc_shingles,
         |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reused_types,
         |  CAST(sum(CASE WHEN df > 1 THEN df ELSE 0 END) AS BIGINT) AS n_reused_occurrences
         | FROM c GROUP BY source)
         |SELECT source, n_shingle_types, n_doc_shingles, n_reused_types,
         | n_reused_occurrences,
         | (2 * 10000 * n_reused_types + n_shingle_types) // (2 * n_shingle_types) AS type_reuse_e4,
         | (2 * 10000 * n_reused_occurrences + n_doc_shingles) // (2 * n_doc_shingles) AS occ_reuse_e4
         |FROM s ORDER BY source""".stripMargin,
    // INVARIANT (r17 ADVICE): q285's Spark side rides sourceShingles,
    // which filters source IS NOT NULL; this oracle groups null sources
    // like any other value. The two agree only because `source` is
    // non-null by data generation at every SF — a future dataset with
    // null sources would diverge here LOUDLY (hash mismatch), which is
    // the desired failure mode.
    "q285_budget_mix" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
         | shx AS (SELECT source, unnest(list_distinct($shinglesDuck)) AS sh FROM w),
         | c AS (SELECT sh, source FROM shx GROUP BY 1, 2),
         | unq AS (
         | SELECT only_src AS source, count(*) AS unique_types FROM (
         |  SELECT sh, count(*) AS n_src, min(source) AS only_src FROM c GROUP BY 1)
         | WHERE n_src = 1 GROUP BY 1),
         | caps AS (
         | SELECT source, CAST(sum(n_chars) AS BIGINT) AS cap FROM documents GROUP BY 1),
         | tot AS (SELECT CAST(sum(cap) AS BIGINT) AS total FROM caps),
         | plan AS (
         | SELECT caps.source, cap,
         |  CAST(coalesce(unique_types, 0) AS BIGINT) AS unique_types,
         |  CAST((2 * 1000000 * coalesce(unique_types, 0) + cap) // (2 * cap) AS BIGINT)
         |   AS density_e6
         | FROM caps LEFT JOIN unq ON unq.source = caps.source),
         | ranked AS (
         | SELECT source, cap, density_e6, (total * 40) // 100 AS budget,
         |  CAST(row_number() OVER (ORDER BY density_e6 DESC, source) AS INTEGER) AS rank,
         |  CAST(coalesce(sum(cap) OVER (ORDER BY density_e6 DESC, source
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         | FROM plan CROSS JOIN tot)
         |SELECT source, rank, density_e6, cap,
         | CAST(greatest(0, least(cap, budget - cum_before)) AS BIGINT) AS alloc,
         | (greatest(0, least(cap, budget - cum_before)) = cap) AS fully_taken
         |FROM ranked ORDER BY rank""".stripMargin,
    "q286_rep_selection" ->
      s"""WITH RECURSIVE $duckJpairsCtes,
         | edges AS (SELECT doc_a AS u, doc_b AS v FROM jpairs
         |           UNION ALL SELECT doc_b, doc_a FROM jpairs),
         | nodes AS (SELECT DISTINCT u FROM edges),
         | reach(u, v) AS (
         |  SELECT u, u AS v FROM nodes
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
         | comp AS (SELECT u AS doc_id, min(v) AS component_id FROM reach GROUP BY u),
         | mem AS (
         |  SELECT c.doc_id, component_id, d.n_chars
         |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         | keeps AS (
         |  SELECT 'arbitrary' AS policy, doc_id, n_chars FROM (
         |   SELECT doc_id, n_chars,
         |    row_number() OVER (PARTITION BY component_id ORDER BY doc_id) AS rn
         |   FROM mem) WHERE rn = 1
         |  UNION ALL
         |  SELECT 'longest', doc_id, n_chars FROM (
         |   SELECT doc_id, n_chars,
         |    row_number() OVER (PARTITION BY component_id ORDER BY n_chars DESC, doc_id DESC) AS rn
         |   FROM mem) WHERE rn = 1),
         | shm AS (
         |  SELECT s.doc_id, sh FROM (
         |   SELECT doc_id, unnest(list_distinct($shinglesDuck)) AS sh FROM w) s
         |  JOIN mem m ON m.doc_id = s.doc_id),
         | totals AS (
         |  SELECT (SELECT CAST(sum(n_chars) AS BIGINT) FROM mem) AS chars_total,
         |   (SELECT count(DISTINCT component_id) FROM mem) AS n_clusters,
         |   (SELECT count(DISTINCT sh) FROM shm) AS types_total)
         |SELECT policy, n_clusters,
         | (SELECT count(*) FROM keeps k2 WHERE k2.policy = k.policy) AS n_kept,
         | chars_total,
         | (SELECT CAST(sum(n_chars) AS BIGINT) FROM keeps k3 WHERE k3.policy = k.policy)
         |  AS chars_kept,
         | types_total,
         | CAST(count(DISTINCT sh) AS BIGINT) AS types_covered,
         | CAST((2 * 1000000 * count(DISTINCT sh) + types_total) // (2 * types_total)
         |  AS BIGINT) AS coverage_e6
         |FROM keeps k JOIN shm ON shm.doc_id = k.doc_id CROSS JOIN totals
         |GROUP BY policy, n_clusters, chars_total, types_total
         |ORDER BY policy""".stripMargin,
    "q279_blocking_bench" ->
      s"""WITH $sweepPairCtes,
         | truth AS (SELECT doc_a, doc_b FROM pj WHERE 3 * shared >= na + nb),
         | b0 AS (SELECT doc_id, CAST(sig AS VARCHAR) AS key FROM sigs WHERE band = 0),
         | keys AS (
         |  SELECT doc_id, 'lang' AS scheme, lang AS key FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'len_bucket', CAST(n_chars // 100 AS VARCHAR) FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'head16', substr(text, 1, 16) FROM documents
         |  UNION ALL
         |  SELECT doc_id, 'minhash_band0', key FROM b0),
         | blk AS (SELECT scheme, key, count(*) AS c FROM keys GROUP BY 1, 2),
         | cnd AS (
         |  SELECT scheme, count(*) AS n_blocks,
         |   CAST(sum((c * (c - 1)) // 2) AS BIGINT) AS cand_pairs
         |  FROM blk GROUP BY 1),
         | cap AS (
         |  SELECT ka.scheme,
         |   CAST(sum(CASE WHEN ka.key = kb.key THEN 1 ELSE 0 END) AS BIGINT) AS captured
         |  FROM truth
         |  JOIN keys ka ON ka.doc_id = truth.doc_a
         |  JOIN keys kb ON kb.doc_id = truth.doc_b AND kb.scheme = ka.scheme
         |  GROUP BY 1),
         | nt AS (SELECT count(*) AS n_truth FROM truth),
         | tot AS (SELECT (count(*) * (count(*) - 1)) // 2 AS total_pairs FROM documents)
         |SELECT cnd.scheme, n_blocks, cand_pairs,
         | CAST((2 * 1000000 * (total_pairs - cand_pairs) + total_pairs)
         |   // (2 * total_pairs) AS BIGINT) AS rr_e6,
         | captured,
         | CAST((2 * 1000000 * captured + n_truth) // (2 * n_truth) AS BIGINT) AS pc_e6,
         | CAST(CASE WHEN cand_pairs > 0
         |   THEN (2 * 1000000 * captured + cand_pairs) // (2 * cand_pairs)
         |   ELSE 0 END AS BIGINT) AS pq_e6
         |FROM cnd JOIN cap ON cap.scheme = cnd.scheme
         |CROSS JOIN nt CROSS JOIN tot
         |ORDER BY cnd.scheme""".stripMargin,
    "q277_linkage_score" ->
      s"""WITH $sweepPairCtes,
         | lab AS (SELECT doc_a, doc_b, (3 * shared >= na + nb) AS dup FROM pj),
         | attrs AS (
         |  SELECT doc_id, lang, source, n_chars // 100 AS lenb,
         |   substr(text, 1, 16) AS head
         |  FROM documents),
         | ap AS (
         |  SELECT dup,
         |   (fa.lang = fb.lang) AS ag1, (fa.source = fb.source) AS ag2,
         |   (fa.lenb = fb.lenb) AS ag3, (fa.head = fb.head) AS ag4
         |  FROM lab
         |  JOIN attrs fa ON fa.doc_id = lab.doc_a
         |  JOIN attrs fb ON fb.doc_id = lab.doc_b),
         | cnt AS (
         |  SELECT CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS m_tot,
         |   count(*) AS all_tot,
         |   CAST(sum(CASE WHEN dup AND ag1 THEN 1 ELSE 0 END) AS BIGINT) AS am1,
         |   CAST(sum(CASE WHEN NOT dup AND ag1 THEN 1 ELSE 0 END) AS BIGINT) AS au1,
         |   CAST(sum(CASE WHEN dup AND ag2 THEN 1 ELSE 0 END) AS BIGINT) AS am2,
         |   CAST(sum(CASE WHEN NOT dup AND ag2 THEN 1 ELSE 0 END) AS BIGINT) AS au2,
         |   CAST(sum(CASE WHEN dup AND ag3 THEN 1 ELSE 0 END) AS BIGINT) AS am3,
         |   CAST(sum(CASE WHEN NOT dup AND ag3 THEN 1 ELSE 0 END) AS BIGINT) AS au3,
         |   CAST(sum(CASE WHEN dup AND ag4 THEN 1 ELSE 0 END) AS BIGINT) AS am4,
         |   CAST(sum(CASE WHEN NOT dup AND ag4 THEN 1 ELSE 0 END) AS BIGINT) AS au4
         |  FROM ap),
         | cnt2 AS (SELECT *, all_tot - m_tot AS u_tot FROM cnt),
         | wts AS (
         |  SELECT
         |   CAST(floor(10000 * ln(((am1 + 1) * (u_tot + 2)) / ((m_tot + 2) * (au1 + 1))) + 0.5) AS BIGINT) AS wa1,
         |   CAST(floor(10000 * ln(((m_tot + 1 - am1) * (u_tot + 2)) / ((m_tot + 2) * (u_tot + 1 - au1))) + 0.5) AS BIGINT) AS wd1,
         |   CAST(floor(10000 * ln(((am2 + 1) * (u_tot + 2)) / ((m_tot + 2) * (au2 + 1))) + 0.5) AS BIGINT) AS wa2,
         |   CAST(floor(10000 * ln(((m_tot + 1 - am2) * (u_tot + 2)) / ((m_tot + 2) * (u_tot + 1 - au2))) + 0.5) AS BIGINT) AS wd2,
         |   CAST(floor(10000 * ln(((am3 + 1) * (u_tot + 2)) / ((m_tot + 2) * (au3 + 1))) + 0.5) AS BIGINT) AS wa3,
         |   CAST(floor(10000 * ln(((m_tot + 1 - am3) * (u_tot + 2)) / ((m_tot + 2) * (u_tot + 1 - au3))) + 0.5) AS BIGINT) AS wd3,
         |   CAST(floor(10000 * ln(((am4 + 1) * (u_tot + 2)) / ((m_tot + 2) * (au4 + 1))) + 0.5) AS BIGINT) AS wa4,
         |   CAST(floor(10000 * ln(((m_tot + 1 - am4) * (u_tot + 2)) / ((m_tot + 2) * (u_tot + 1 - au4))) + 0.5) AS BIGINT) AS wd4
         |  FROM cnt2),
         | sc AS (
         |  SELECT dup,
         |   (CASE WHEN ag1 THEN wa1 ELSE wd1 END
         |    + CASE WHEN ag2 THEN wa2 ELSE wd2 END
         |    + CASE WHEN ag3 THEN wa3 ELSE wd3 END
         |    + CASE WHEN ag4 THEN wa4 ELSE wd4 END) AS score
         |  FROM ap CROSS JOIN wts),
         | mn AS (SELECT min(score) AS smin FROM sc)
         |SELECT CAST((score - smin) // 20000 AS BIGINT) AS band,
         | CAST(smin + ((score - smin) // 20000) * 20000 AS BIGINT) AS lo_e4,
         | count(*) AS n_pairs,
         | CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         | CAST((2 * 1000000 * sum(CASE WHEN dup THEN 1 ELSE 0 END) + count(*))
         |   // (2 * count(*)) AS BIGINT) AS dup_share_e6
         |FROM sc CROSS JOIN mn
         |GROUP BY 1, 2 ORDER BY band""".stripMargin,
    "q276_source_ablation" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
         | shx AS (SELECT source, unnest(list_distinct($shinglesDuck)) AS sh FROM w),
         | c AS (SELECT sh, source FROM shx GROUP BY 1, 2),
         | ps AS (SELECT source, count(*) AS n_types FROM c GROUP BY 1),
         | census AS (SELECT sh, count(*) AS n_src, min(source) AS only_src FROM c GROUP BY 1),
         | vt AS (SELECT count(*) AS v_total FROM census),
         | unq AS (
         | SELECT only_src AS source, count(*) AS unique_types
         | FROM census WHERE n_src = 1 GROUP BY 1),
         | corp AS (
         | SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(n_chars) AS BIGINT) AS sum_all
         | FROM documents),
         | base AS (
         | SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_s
         | FROM documents GROUP BY 1)
         |SELECT b.source, n_docs, n_types,
         | CAST(coalesce(unique_types, 0) AS BIGINT) AS unique_types,
         | CAST(v_total - coalesce(unique_types, 0) AS BIGINT) AS loo_types,
         | CAST((2 * 1000000 * (n_types - coalesce(unique_types, 0)) + n_types)
         |   // (2 * n_types) AS BIGINT) AS shared_share_e6,
         | CAST((2 * 1000 * (sum_all - sum_s) + (n_all - n_docs))
         |   // (2 * (n_all - n_docs)) AS BIGINT) AS loo_mean_chars_e3,
         | CAST((2 * 1000 * (sum_all - sum_s) + (n_all - n_docs))
         |   // (2 * (n_all - n_docs))
         |  - (2 * 1000 * sum_all + n_all) // (2 * n_all) AS BIGINT) AS delta_mean_e3
         |FROM base b
         |JOIN ps ON ps.source = b.source
         |LEFT JOIN unq ON unq.source = b.source
         |CROSS JOIN vt CROSS JOIN corp
         |ORDER BY b.source""".stripMargin,
    "q172_dup_transitivity" ->
      s"""WITH $duckJpairsCtes,
         | eg AS (
         |  SELECT 'candidates' AS graph, doc_a AS a, doc_b AS b FROM cand
         |  UNION ALL
         |  SELECT 'verified', doc_a, doc_b FROM jpairs),
         | und AS (SELECT graph, a AS x FROM eg UNION ALL SELECT graph, b FROM eg),
         | deg AS (SELECT graph, x, count(*) AS d FROM und GROUP BY graph, x),
         | nw AS (
         | SELECT graph, count(*) AS n_nodes,
         |  CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges
         | FROM deg GROUP BY graph),
         | ne AS (SELECT graph, count(*) AS n_edges FROM eg GROUP BY graph),
         | tri AS (
         | SELECT e1.graph AS graph, count(*) AS n_triangles
         | FROM eg e1
         | JOIN eg e2 ON e2.graph = e1.graph AND e1.b = e2.a
         | JOIN eg e3 ON e3.graph = e1.graph AND e3.a = e1.a AND e3.b = e2.b
         | GROUP BY e1.graph)
         |SELECT ne.graph AS graph, n_nodes, n_edges, n_wedges,
         | COALESCE(n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
         | CASE WHEN n_wedges = 0 THEN CAST(0 AS BIGINT)
         |  ELSE (2 * 10000 * 3 * COALESCE(n_triangles, 0) + n_wedges) // (2 * n_wedges) END AS transitivity_e4
         |FROM ne JOIN nw USING (graph) LEFT JOIN tri USING (graph)
         |ORDER BY graph""".stripMargin,
    "q212_assortativity" ->
      s"""WITH $duckJpairsCtes,
         | eg AS (
         |  SELECT 'candidates' AS graph, doc_a AS a, doc_b AS b FROM cand
         |  UNION ALL
         |  SELECT 'verified', doc_a, doc_b FROM jpairs),
         | und AS (SELECT graph, a AS x FROM eg UNION ALL SELECT graph, b FROM eg),
         | deg AS (SELECT graph, x, count(*) AS d FROM und GROUP BY graph, x),
         | dd AS (
         | SELECT eg.graph AS graph, da.d AS dja, db.d AS djb
         | FROM eg
         | JOIN deg da ON da.graph = eg.graph AND da.x = eg.a
         | JOIN deg db ON db.graph = eg.graph AND db.x = eg.b),
         | s AS (
         | SELECT graph, count(*) AS m, sum(dja * djb) AS sjk,
         |  sum(dja + djb) AS sj, sum(dja * dja + djb * djb) AS s2
         | FROM dd GROUP BY graph),
         | ns AS (
         | SELECT graph, count(*) AS n_nodes, max(d) AS max_degree
         | FROM deg GROUP BY graph),
         | f AS (
         | SELECT ns.graph AS graph, n_nodes, m AS n_edges, max_degree,
         |  4 * m * sjk - sj * sj AS num, 2 * m * s2 - sj * sj AS den
         | FROM ns JOIN s USING (graph))
         |SELECT graph, n_nodes, CAST(n_edges AS BIGINT) AS n_edges, max_degree,
         | CAST(CASE WHEN den = 0 THEN 0
         |  WHEN num >= 0 THEN (2 * 1000000 * num + den) // (2 * den)
         |  ELSE -((2 * 1000000 * (-num) + den) // (2 * den)) END AS BIGINT) AS assort_e6
         |FROM f ORDER BY graph""".stripMargin,
    "q35_exact_dedup" ->
      """SELECT source, count(*) AS n_docs,
        | count(DISTINCT md5(text)) AS n_distinct_texts,
        | count(*) - count(DISTINCT md5(text)) AS n_dup_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q36_minhash_sigs" -> {
      val cols = (0 until DefaultBands)
        .map(b => s"list_aggregate(list_transform(hashes, h -> ${bandHash(b, "h")}), 'min') AS sig_$b")
        .mkString(",\n ")
      s"""SELECT doc_id,
         | $cols
         |FROM (SELECT doc_id, $duckHashes AS hashes
         |      FROM (SELECT doc_id, $shinglesDuck AS shingles FROM ($duckWords)))
         |ORDER BY doc_id""".stripMargin
    },
    "q37_lsh_pairs" ->
      s"""WITH w AS ($duckWords),
         | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
         | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
         | sigs AS (
         | $duckShingleArms
         | )
         |SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS n_shared_bands
         |FROM sigs s1 JOIN sigs s2
         |  ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id
         |GROUP BY s1.doc_id, s2.doc_id ORDER BY doc_a, doc_b""".stripMargin,
    "q38_ngram_jaccard" ->
      s"""WITH $duckJpairsCtes
         |SELECT doc_a, doc_b, jaccard FROM jpairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    "q263_pagerank" -> {
      def step(k: Int): String = {
        val prev = s"r${k - 1}"
        s""" s$k AS (
           | SELECT e.dst AS node,
           |  CAST(sum((2 * 850000 * $prev.r + 1000000 * $prev.deg)
           |   // (2 * 1000000 * $prev.deg)) AS BIGINT) AS contrib
           | FROM e JOIN $prev ON $prev.node = e.src GROUP BY 1),
           | r$k AS (
           | SELECT $prev.node, $prev.deg,
           |  (2 * 150000 + nn) // (2 * nn) + coalesce(contrib, 0) AS r
           | FROM $prev LEFT JOIN s$k ON s$k.node = $prev.node CROSS JOIN nn)"""
          .stripMargin
      }
      s"""WITH w AS ($duckWords),
         | shl AS (SELECT doc_id, $shinglesDuck AS shingles FROM w),
         | sh AS (SELECT doc_id, $duckHashes AS hashes FROM shl),
         | sigs AS (
         | $duckShingleArms
         | ),
         | cand AS (
         |  SELECT DISTINCT s1.doc_id AS doc_a, s2.doc_id AS doc_b
         |  FROM sigs s1 JOIN sigs s2
         |   ON s1.band = s2.band AND s1.sig = s2.sig AND s1.doc_id < s2.doc_id),
         | e AS (SELECT doc_a AS src, doc_b AS dst FROM cand
         |       UNION ALL SELECT doc_b, doc_a FROM cand),
         | deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
         | nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM deg),
         | r0 AS (SELECT src AS node, deg, 1000000 // nn AS r FROM deg CROSS JOIN nn),
         |${step(1)},
         |${step(2)},
         |${step(3)}
         |SELECT node AS doc_id, deg AS degree, CAST(r AS BIGINT) AS pr_e6
         |FROM r3 ORDER BY pr_e6 DESC, doc_id LIMIT 50""".stripMargin
    },
    "q39_simhash" -> {
      val ones = onesExprs("//").mkString(",\n  ")
      s"""WITH wv AS (
         | SELECT doc_id, ${wordVal("substr(md5(w), 1, 4)")} AS v
         | FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
         | bits AS (
         | SELECT doc_id, count(*) AS nw,
         |  $ones
         | FROM wv GROUP BY doc_id)
         |SELECT doc_id, $simhashExpr AS simhash,
         | CAST(($simhashExpr) // 16 AS BIGINT) AS bucket
         |FROM bits ORDER BY doc_id""".stripMargin
    }
  )
}
