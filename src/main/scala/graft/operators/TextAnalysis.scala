package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.C — text analysis for the training-data pipeline.
  *
  * All operators are pure per-row expression pipelines (split / lambda
  * higher-order functions / hash), so they run inside whole-stage codegen
  * next to the scan and only the final rollup shuffles. At 100 TB this is
  * the shape you want: CPU-bound map work, no wide intermediate state.
  */
object TextAnalysis extends QueryModule {

  // Function-word list for the synthetic corpus (full vocab is 31 terms).
  private val stopList = Seq("the", "a", "of", "and")
  private val stopSqlIn = stopList.map(w => s"'$w'").mkString(", ")

  // the subword vocab as a longest-first regex alternation — the oracle's
  // closed-form mirror of the native maximal-munch kernel (Subword.scala)
  private val subwordAlt = graft.functions.SubwordKernel.regexAlternation
  private val subwordTokensSql =
    s"length(regexp_replace(text, '$subwordAlt', '#', 'g')) - (length(text) - length(replace(text, ' ', '')))"

  // `graft.freq.store=<dir>` points the corpus-frequency consumers
  // (q121/q130/q136) at sources.FreqStore's maintained vocab table instead
  // of the in-query token-count aggregate — the incremental path: the one
  // corpus-scale shuffle those queries pay becomes a vocab-scale read. A
  // store initialized from the same corpus is output-identical
  // (FreqStoreSpec pins it); the oracle always renders the derived form.
  private def storedFreq(t: Tables): Option[DataFrame] =
    t.spark.conf.get("graft.freq.store", "") match {
      case "" => None
      case dir =>
        val fam = graft.sources.FreqStore.storeFamily(t.spark, dir)
        require(fam == graft.sources.FreqStore.Unigram,
          s"graft.freq.store at $dir holds family '${fam.name}', not unigram — wrong store")
        // session-cached merged view: the consumers read it in several
        // branches, and per-branch chain merges defeat AQE reuse
        Some(SessionCache.storeCounts(t.spark, dir))
    }

  // `graft.bigram.store=<dir>` points the pair-table consumers
  // (q77/q97/q139) at a sources.FreqStore Bigram-family store instead of
  // the in-query (w1, w2) aggregate — the same incremental discipline as
  // `graft.freq.store`: the corpus-scale pair shuffle becomes a
  // vocab²-bounded read maintained ∝ |batch| at ingest. Family mismatch
  // fails loudly (the band-family rule); the oracle always renders the
  // derived form.
  private def storedBigrams(t: Tables): Option[DataFrame] =
    t.spark.conf.get("graft.bigram.store", "") match {
      case "" => None
      case dir =>
        val fam = graft.sources.FreqStore.storeFamily(t.spark, dir)
        require(fam == graft.sources.FreqStore.Bigram,
          s"graft.bigram.store at $dir holds family '${fam.name}', not bigram — rebuild")
        // session-cached: q139 alone reads the pair table four ways
        Some(SessionCache.storeCounts(t.spark, dir))
    }

  // words/doc as a reusable fragment (identical split semantics both engines
  // for single-space-separated corpora).
  // map-side only — no repartition by default (Tables.localSplit is the
  // conf-gated local-mode crutch; at scale the scan split parallelizes)
  private def withWords(t: Tables): DataFrame =
    Tables.localSplit(t.documents, col("doc_id")).withColumn("words", split(col("text"), " "))

  /** The doc-bigram stream — ONE definition of adjacent-pair semantics for
    * every TextAnalysis consumer (q77/q97/q139's derived paths, q151,
    * q152): docs with ≥ 2 raw words only (Spark's sequence(1, 0) yields a
    * DESCENDING [1, 0] for a single-word doc — index 0 then faults under
    * ANSI; such docs have no bigrams, mirroring the oracle's empty
    * range(1, 1)), adjacent (w1, w2) pairs, empty members dropped.
    * `sources/FreqStore.Bigram.rows` is the store-side twin of this
    * definition (sources cannot depend on operators); the LeakStoreSpec /
    * BuildStoresSpec store-backed ≡ derived pins keep the two in lockstep.
    */
  private def docBigrams(t: Tables, keep: Seq[String]): DataFrame =
    withWords(t)
      .filter(size(col("words")) >= 2)
      .select(
        keep.map(col) :+
          explode(
            expr(
              """transform(sequence(1, size(words) - 1),
                |  i -> struct(element_at(words, i) AS w1, element_at(words, i + 1) AS w2))""".stripMargin))
            .as("bg"): _*)
      .select(keep.map(col) ++ Seq(col("bg.w1").as("w1"), col("bg.w2").as("w2")): _*)
      .filter(col("w1") =!= "" && col("w2") =!= "")

  /** Per-language corpus statistics: doc counts, length distribution,
    * stopword ratio. avg-word-length derived arithmetically from chars so
    * no second pass over the tokens is needed.
    */
  private def q30(t: Tables): DataFrame =
    withWords(t)
      .withColumn("n_words", size(col("words")))
      .withColumn(
        "n_stop",
        size(expr(s"filter(words, w -> w IN ($stopSqlIn))")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 2).as("avg_chars"),
        round(avg(col("n_words")), 2).as("avg_words"),
        round(avg((col("n_chars") - (col("n_words") - 1)) / col("n_words")), 4).as("avg_word_len"),
        round(avg(col("n_stop") / col("n_words")), 4).as("stop_ratio"))
      .orderBy(col("lang"))

  /** Stopword-profile language ID vs the labeled lang (confusion counts).
    * Profiles are tiny broadcast-free literal sets; classification is a
    * deterministic argmax with a fixed tie order.
    */
  // ONE definition of the stopword language detector for q31 (the
  // confusion matrix) and q238 (its chance-corrected agreement) — the
  // classifications cannot drift apart.
  private def langPredicted(t: Tables): DataFrame = {
    def score(words: String*) =
      s"size(filter(words, w -> w IN (${words.map(w => s"'$w'").mkString(", ")})))"
    withWords(t)
      .withColumn("en_s", expr(score("the", "a", "of", "and", "is")))
      .withColumn("es_s", expr(score("el", "la", "de", "y", "es")))
      .withColumn("de_s", expr(score("der", "die", "das", "und", "ist")))
      .withColumn("fr_s", expr(score("le", "la", "de", "et", "est")))
      .withColumn(
        "predicted",
        expr("""CASE WHEN en_s >= es_s AND en_s >= de_s AND en_s >= fr_s AND en_s > 0 THEN 'en'
               |     WHEN es_s >= de_s AND es_s >= fr_s AND es_s > 0 THEN 'es'
               |     WHEN de_s >= fr_s AND de_s > 0 THEN 'de'
               |     WHEN fr_s > 0 THEN 'fr'
               |     ELSE 'und' END""".stripMargin))
  }

  private def q31(t: Tables): DataFrame =
    langPredicted(t)
      .groupBy(col("lang").as("labeled"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("labeled"), col("predicted"))

  /** Cohen's kappa of declared vs detected language per source (Cohen
    * 1960; new r16 wave 28 — the chance-corrected one-number summary of
    * q31's confusion matrix, per source: raw agreement po flatters any
    * detector on a skewed language mix, kappa subtracts the agreement a
    * label-marginal-respecting coin would get — the metric that decides
    * whether the declared `lang` column can be TRUSTED per source):
    * per source, docs, agreeing docs, po (e4), chance agreement pe
    * (e4), and kappa (e4, SIGNED — ≤ 0 means the detector does no
    * better than chance on that source). All integer: kappa =
    * (N·agree − Σ_l row_l·col_l) / (N² − Σ_l row_l·col_l) cross-
    * multiplied, the one signed division split as sign·half-up-on-abs
    * (q212's rule — Spark DIV truncates where DuckDB // floors, so
    * never divide signed); a degenerate pe = 1 source reports 0
    * (declared). N² and the marginal products run in DECIMAL(38,0),
    * exact past ~3·10⁹ docs/source (q173's guard pattern).
    *
    * Scale shape: ONE corpus-scale (source, lang, predicted) count
    * (map-side partial next to the scan); marginals, the
    * class-matched marginal join and the kappa arithmetic all run on
    * the ≤|sources|·|langs|² grid.
    */
  private def q238(t: Tables): DataFrame = {
    val big: Column => Column = _.cast("decimal(38,0)")
    val cells = langPredicted(t)
      .groupBy(col("source"), col("lang"), col("predicted"))
      .agg(count(lit(1)).as("c"))
    val stats = cells.groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_docs"),
        sum(when(col("lang") === col("predicted"), col("c")).otherwise(0L)).as("n_agree"))
    val rows = cells.groupBy(col("source"), col("lang")).agg(sum(col("c")).as("rn"))
    val cls = cells.groupBy(col("source"), col("predicted")).agg(sum(col("c")).as("cn"))
    val rc = rows
      .join(cls.withColumnRenamed("source", "s2"),
        col("source") === col("s2") && col("lang") === col("predicted"))
      .groupBy(col("source"))
      .agg(sum(big(col("rn")) * col("cn")).as("rc"))
    stats
      .join(broadcast(rc), Seq("source"), "left")
      .withColumn("rc", coalesce(col("rc"), lit(0L)))
      .withColumn("po_e4", expr("(2 * 10000 * n_agree + n_docs) DIV (2 * n_docs)"))
      .withColumn("nn", big(col("n_docs")) * col("n_docs"))
      .withColumn("pe_e4", expr("CAST((2 * 10000 * rc + nn) DIV (2 * nn) AS BIGINT)"))
      .withColumn("knum", big(col("n_docs")) * col("n_agree") - col("rc"))
      .withColumn("kden", col("nn") - col("rc"))
      .withColumn(
        "kappa_e4",
        expr("""CAST(CASE WHEN kden = 0 THEN 0
               |     WHEN knum < 0 THEN -((2 * 10000 * -knum + kden) DIV (2 * kden))
               |     ELSE (2 * 10000 * knum + kden) DIV (2 * kden) END AS BIGINT)""".stripMargin))
      .select(
        col("source"), col("n_docs"), col("n_agree"), col("po_e4"),
        col("pe_e4"), col("kappa_e4"))
      .orderBy(col("source"))
  }

  /** Token counting: whitespace tokens, regex word tokens, and REAL
    * subword tokens from the native greedy longest-match vocab kernel
    * (functions/Subword.scala) — corpus totals per source. The oracle
    * reproduces maximal munch in closed form: the vocab rendered as a
    * longest-first regex alternation, each match collapsed to one char,
    * `tokens = length(after) − n_spaces`.
    */
  private def q32(t: Tables): DataFrame =
    withWords(t)
      .withColumn("ws_tokens", size(col("words")))
      .withColumn(
        "re_tokens",
        size(expr("filter(split(text, '[^a-z0-9]+'), x -> x != '')")))
      .withColumn("subword_tokens", graft.functions.GraftFunctions.subword_count(col("text")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("re_tokens")).as("total_re_tokens"),
        sum(col("subword_tokens")).as("total_subword_tokens"))
      .orderBy(col("source"))

  /** Tokenizer-fertility profile per language (new r12 — the
    * tokenizer-eval readout a multilingual mix is weighed by: fertility,
    * subword tokens per word, is the classic metric for how well a merge
    * vocab fits a language, and a high-fertility language pays more
    * context budget per sentence): per lang, docs, words, REAL subword
    * tokens (q32's native greedy longest-match kernel — same vocab, same
    * maximal munch), chars, fertility = tokens/words and compression =
    * chars/token. The table consulted together with q128's temperature
    * mix: a language can be upweighted by sampling AND still starve in
    * effective tokens if its fertility is 2×.
    *
    * Scale shape: all per-doc counts are map-side kernel work next to the
    * scan; the only shuffle is the |langs|-row rollup; integer sums, two
    * final rounded divisions.
    */
  private def q135(t: Tables): DataFrame =
    withWords(t)
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn(
        "n_sub", graft.functions.GraftFunctions.subword_count(col("text")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("total_words"),
        sum(col("n_sub")).as("total_tokens"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("fertility", round(col("total_tokens") / col("total_words"), 4))
      .withColumn("chars_per_token", round(col("total_chars") / col("total_tokens"), 4))
      .orderBy(col("lang"))

  /** Vocabulary-coverage curve (new r12 — the vocab-size sizing table,
    * q114's sweep discipline applied to tokenizer/embedding-table budget:
    * "what share of the token stream do the top-N vocab entries cover"
    * decides N before an embedding table is allocated): per candidate
    * vocab budget {100, 1 000, 10 000}, the covered occurrence count and
    * share under frequency-descending, token-ascending ranking.
    *
    * The scale trick: the curve is computed off the COUNT-OF-COUNTS
    * histogram, never a ranked vocab. Ranking the vocab needs a global
    * sort/window over |vocab| rows (100 M+ at corpus scale); but every
    * token in a frequency bucket contributes the same occurrence mass, so
    * the cumulative at any cutoff is `occ_before + (cutoff − tok_before)
    * · n` read off the bucket containing the cutoff — exact under the
    * tie-break by construction. The histogram has ≤ √(2·Σtokens)
    * distinct frequencies (k distinct counts force Σ ≥ k(k+1)/2), so the
    * one unpartitioned cumulative window runs over provably-sublinear
    * rows (≈6 M at 2·10¹³ tokens) — the declared q83-class exemption.
    * Corpus-scale work is exactly q76's partial-aggregable token count.
    */
  private def q136(t: Tables): DataFrame = {
    val cutoffs = Seq(100L, 1000L, 10000L)
    val counts = storedFreq(t).getOrElse(
      withWords(t)
        .select(explode(col("words")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n")))
    val hist = counts.groupBy(col("n")).agg(count(lit(1)).as("nt"))
    val w = Window.orderBy(col("n").desc).rowsBetween(Window.unboundedPreceding, -1)
    val cum = hist
      .withColumn("tok_before", coalesce(sum(col("nt")).over(w), lit(0L)))
      .withColumn("occ_before", coalesce(sum(col("nt") * col("n")).over(w), lit(0L)))
    val tot = counts.agg(sum(col("n")).as("total_occ"), count(lit(1)).as("total_vocab"))
    cum.join(broadcast(tot))
      .select(
        col("n"), col("nt"), col("tok_before"), col("occ_before"),
        col("total_occ"), col("total_vocab"),
        explode(array(cutoffs.map(lit(_)): _*)).as("cutoff"))
      .withColumn("vocab_used", least(col("cutoff"), col("total_vocab")))
      .filter(
        col("tok_before") < col("vocab_used") &&
          col("vocab_used") <= col("tok_before") + col("nt"))
      .withColumn(
        "covered_occ",
        col("occ_before") + (col("vocab_used") - col("tok_before")) * col("n"))
      .withColumn("coverage_share", round(col("covered_occ") / col("total_occ"), 4))
      .select(col("cutoff"), col("vocab_used"), col("covered_occ"), col("coverage_share"))
      .orderBy(col("cutoff"))
  }

  /** Composite quality score + keep/drop rates per source. The score is a
    * fixed expression tree so both engines produce bit-identical doubles.
    */
  /** The composite quality score over a words'd frame — ONE expression
    * tree shared by q33 and the q84 gate (and mirrored verbatim in both
    * oracles), so the two operators cannot drift.
    */
  private def withQualityScore(df: DataFrame): DataFrame =
    df.withColumn("n_words", size(col("words")))
      .withColumn(
        "n_stop",
        size(expr(s"filter(words, w -> w IN ($stopSqlIn))")))
      .withColumn(
        "score",
        round(
          least(col("n_words") / lit(100.0), lit(1.0)) * 0.5
            + (col("n_stop") / col("n_words")) * 2.0
            + when(col("n_chars") >= 100, 0.2).otherwise(0.0),
          4))

  /** The repetition ratio (1 − distinct/total word-3-grams) — shared by
    * q81 and the q84 gate the same way.
    */
  private def withRepRatio(df: DataFrame): DataFrame =
    df.withColumn("total_sh", greatest(size(col("words")) - 2, lit(0)).cast("long"))
      .withColumn(
        "distinct_sh",
        size(graft.functions.GraftFunctions.shingle_set(col("text"))).cast("long"))
      .withColumn(
        "rep_ratio",
        when(col("total_sh") > 0, lit(1.0) - col("distinct_sh") / col("total_sh")).otherwise(lit(0.0)))

  /** Adjacent-bigram PMI collocations (new r12 — Church & Hanks 1990, the
    * distributional-statistics readout over q77's LM counts: the top-PMI
    * pairs ARE the corpus's multi-word expressions, the candidates a
    * tokenizer vocab or a phrase-aware index wants as single units):
    * top-50 pairs by pointwise mutual information ln(N·c12/(c1·c2)) at
    * support ≥ 10, with both marginals reported. PMI quantizes to integer
    * 1e-4 units via ONE ln of a ratio of exact integer products (q102's
    * discipline — never a difference of four ln's, whose fp error order
    * differs per engine; round-4 absorbs the single ln's ulp).
    *
    * Scale shape: the one corpus-scale shuffle is q77's bigram pair agg;
    * both marginals derive from the PAIR table (vocab-bounded — c1 is
    * Σ_w2 c12, never a second pass over tokens), the total is a
    * single-row broadcast, and top-50 is TakeOrderedAndProject.
    */
  private def q139(t: Tables): DataFrame = {
    val pairCounts = storedBigrams(t).map(_.withColumnRenamed("n", "c12")).getOrElse(
      docBigrams(t, Nil).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12")))
    val m1 = pairCounts.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val m2 = pairCounts.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val tot = pairCounts.agg(sum(col("c12")).as("n_total"))
    pairCounts
      .filter(col("c12") >= 10)
      .join(m1, Seq("w1"))
      .join(m2, Seq("w2"))
      .join(broadcast(tot))
      .withColumn(
        "pmi_e4",
        expr("""CAST(round(ln((CAST(c12 AS DOUBLE) * CAST(n_total AS DOUBLE))
                | / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 10000, 0) AS BIGINT)"""
          .stripMargin))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"), col("pmi_e4"))
      .orderBy(col("pmi_e4").desc, col("w1"), col("w2"))
      .limit(50)
  }

  /** Corpus-frequency token rarity audit — the OOV/noise readout of a
    * tokenizer-bound corpus: per source, how much of the token stream is
    * hapax-or-near (corpus frequency ≤ 2), how many documents carry any.
    * A source dominated by rare tokens is OCR noise, markup, or a
    * language the corpus can't support; a source with none adds no
    * lexical coverage. Integer-exact end to end — the only division is
    * the final rounded share (q110's discipline).
    *
    * Scale shape: the frequency table is the q77/q118 vocab-scale
    * aggregate (map-side combine collapses repeated tokens before the
    * exchange); the stream re-joins it token-keyed — the one
    * corpus-scale shuffle, the natural key a token lake would bucket by.
    * The per-doc and per-source rollups run on doc-keyed partials.
    */
  private def q121(t: Tables): DataFrame = {
    val tok = withWords(t)
      .select(col("doc_id"), col("source"), explode(col("words")).as("w"))
      .filter(col("w") =!= "")
    val freq = storedFreq(t).map(_.select(col("token").as("w"), col("n").as("tf")))
      .getOrElse(tok.groupBy(col("w")).agg(count(lit(1)).as("tf")))
    val perDoc = tok
      .join(freq, Seq("w"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        count(lit(1)).as("n_tok"),
        sum(when(col("tf") <= 2, 1L).otherwise(0L)).as("n_rare"),
        min(col("tf")).as("min_tf"))
    perDoc
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        sum(col("n_rare")).as("total_rare"),
        sum(when(col("n_rare") > 0, 1L).otherwise(0L)).as("n_docs_with_rare"),
        min(col("min_tf")).as("min_tf"))
      .withColumn("rare_share", round(col("total_rare") / col("total_tokens"), 4))
      .orderBy(col("source"))
  }

  /** Quality-aware canonical selection — the dedup family's keep rule
    * upgraded from "smallest doc_id owns" (q89/q107) to "best copy owns":
    * within each exact-duplicate group (md5(text)), the highest
    * quality-score copy survives, doc_id breaking ties. Real pipelines
    * keep the best-formatted mirror of a duplicated page, not an
    * arbitrary one; this is that selection with per-source yield
    * accounting.
    *
    * Scale shape: the canonical pick is a groupBy(h) struct-max — a
    * partial-aggregable agg on the hash key, NOT a per-group window
    * (q89's join-not-window discipline); members re-join the 1-row-per-
    * group result h-keyed. Score comparisons are per-row rounded doubles
    * (q33's kernel) — no cross-row float accumulation anywhere except
    * the final rounded average.
    */
  private def q123(t: Tables): DataFrame = {
    val scored = withQualityScore(withWords(t))
      .select(col("doc_id"), col("source"), col("n_chars"), col("score"),
        md5(col("text")).as("h"))
    // max over (score, -doc_id): best score wins, smallest id breaks ties
    val canon = scored.groupBy(col("h"))
      .agg(max(struct(col("score"), (-col("doc_id")).as("neg_id"))).as("m"))
      .select(col("h"), (-col("m.neg_id")).as("canon_id"))
    scored.join(canon, Seq("h"))
      .withColumn("kept", col("doc_id") === col("canon_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(!col("kept"), col("n_chars").cast("long")).otherwise(0L)).as("chars_dropped"),
        round(avg(when(col("kept"), col("score"))), 4).as("avg_kept_score"))
      .orderBy(col("source"))
  }

  /** Context-length pricing for sequence packing — q80's streaming-pack
    * policy swept across candidate caps {512, 2048, 8192}: bins consumed,
    * fill ratio, and worst per-bin doc fan-in at each context length (the
    * table consulted BEFORE committing to a context window, q114/q116/
    * q117's sweep discipline). The per-source running token sum is
    * cap-INDEPENDENT, so the whole sweep costs one q80: one window pass,
    * a |caps|-way map-side explode, one (cap, source, bin) rollup.
    * Integer arithmetic until each cap's final fill division.
    */
  private def q126(t: Tables): DataFrame = {
    val caps = Seq(512L, 2048L, 8192L)
    val bySrc = Window
      .partitionBy(col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    t.documents
      .select(
        col("doc_id"), col("source"),
        greatest(graft.functions.GraftFunctions.subword_count(col("text")), lit(1L)).as("toks"))
      .withColumn("cum", sum(col("toks")).over(bySrc))
      .select(
        col("source"), col("toks"), col("cum"),
        explode(array(caps.map(lit): _*)).as("cap"))
      .withColumn("bin", expr("CAST((cum - 1) div cap AS BIGINT)"))
      .groupBy(col("cap"), col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
      .groupBy(col("cap"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("bin_tokens")).as("total_tokens"),
        max(col("n_docs")).as("max_docs_per_bin"),
        round(sum(col("bin_tokens")) / (count(lit(1)) * col("cap")), 4).as("fill_ratio"))
      .orderBy(col("cap"))
  }

  private def q33(t: Tables): DataFrame =
    withQualityScore(withWords(t))
      .withColumn("keep", col("score") >= 0.45)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
        round(avg(col("score")), 4).as("avg_score"))
      .orderBy(col("source"))

  /** Per-document fingerprint: lexicographic min of md5 over word-3-gram
    * shingles (a 1-perm minhash — reference-free analogue of geostore's
    * content hashing, usable for near-dup grouping).
    */
  private def q34(t: Tables): DataFrame =
    withWords(t)
      .withColumn(
        "fingerprint",
        // CASE guard: sequence(1, n) runs DESCENDING for n < 1 (a <3-word
        // doc), which would touch index 0 and fault under ANSI; such docs
        // have no shingles so their fingerprint is null
        expr(
          """CASE WHEN size(words) >= 3 THEN
            |  array_min(transform(sequence(1, size(words) - 2),
            |    i -> md5(concat(element_at(words, i), ' ',
            |                    element_at(words, i + 1), ' ',
            |                    element_at(words, i + 2)))))
            |ELSE NULL END""".stripMargin))
      .select(col("doc_id"), col("fingerprint"))
      .orderBy(col("doc_id"))

  // PII patterns shared by Spark and the oracle: plain RE2-compatible
  // character classes so Java regex and DuckDB RE2 agree exactly
  private val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PhoneRe = """\+1-555-[0-9]+"""
  private val UrlRe = """https://[A-Za-z0-9./]+"""

  /** PII scrubbing — the redaction pass a training-data pipeline runs
    * before anything else sees the text. The synthetic corpus carries no
    * PII, so each doc gets a deterministic injected email/phone/URL (built
    * identically in the oracle) and the operator detects and redacts them:
    * per-doc match counts via regexp_extract_all and placeholder
    * substitution via chained regexp_replace. Pure codegen string work
    * next to the scan — at 100 TB this runs at scan speed with zero
    * shuffle before the output ordering.
    */
  private def q72(t: Tables): DataFrame = {
    val raw = concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com call +1-555-"), col("doc_id").cast("string"),
      lit(" at https://ex.com/u/"), col("doc_id").cast("string"))
    Tables.localSplit(t.documents, col("doc_id"))
      .withColumn("raw", raw)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("raw"), lit(EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("raw"), lit(PhoneRe), lit(0))).as("n_phones"),
        size(regexp_extract_all(col("raw"), lit(UrlRe), lit(0))).as("n_urls"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("raw"), lit(EmailRe), lit("<EMAIL>")),
            lit(PhoneRe), lit("<PHONE>")),
          lit(UrlRe), lit("<URL>")).as("scrubbed"))
      .orderBy(col("doc_id"))
  }

  /** Exact corpus heavy hitters: top-50 tokens by frequency with a stable
    * tie-break. The two-level aggregate is the scale shape — map-side
    * partial counts collapse each partition's token stream before the one
    * narrow (token → count) shuffle, and the top-k runs as
    * TakeOrderedAndProject (per-partition heaps + driver merge of 50-row
    * heads), never a global sort. The sketch alternative (count-min) only
    * pays off when the vocabulary itself outgrows executor memory.
    *
    * Token frequency is Zipfian — at 100 TB the head tokens each carry
    * billions of rows, and map-side partial aggregation alone leaves one
    * reducer holding every partial for the hottest key. `graft.skew.salt=N`
    * (default 0 = off) reroutes the count through [[Skew.saltedSumCount]]'s
    * two-stage salted aggregate: N×-fanned evenly-sized partial groups,
    * then a |vocab|-row merge. Same output, hash-identical.
    */
  private def q76(t: Tables): DataFrame = {
    val tokens = withWords(t)
      .select(explode(col("words")).as("token"))
      .filter(col("token") =!= "")
    val saltBuckets = t.spark.conf.get("graft.skew.salt", "0").toInt
    require(saltBuckets >= 0, s"graft.skew.salt out of range: $saltBuckets")
    val counts =
      if (saltBuckets > 0)
        Skew.saltedSumCount(tokens, col("token"), lit(1L), saltBuckets)
          .select(col("key").as("token"), col("n"))
      else
        tokens.groupBy(col("token")).agg(count(lit(1)).as("n"))
    counts
      .orderBy(col("n").desc, col("token"))
      .limit(50)
  }

  /** Count-min-sketch frequency-estimator calibration (new r12 — q86's
    * estimator-audit pattern applied to the counting sketch, completing
    * the sketch family next to q56's HLL and q95's bottom-k): a d=4 ×
    * w=256 CMS (Cormode & Muthukrishnan 2005) built over the corpus token
    * frequencies, audited against the exact counts of the q76 top-50
    * tokens — per token, exact count, CMS estimate (min over the d cells
    * its row hashes land in), and the overcount (the one-sided CMS error:
    * est ≥ exact always; the table says whether w=256 is enough before a
    * deployment trusts the sketch where the exact vocab no longer fits).
    *
    * Scale shape: the sketch is a function of the VOCAB frequency table,
    * not the token stream — Σ_{tokens in bucket} count(token) ≡ the
    * stream's bucket count — so the only corpus-scale shuffle is q76's
    * partial-aggregable token count; the cell explode and (row, bucket)
    * rollup are vocab-scale, the sketch itself is d·w = 1024 rows
    * (broadcast onto the top-50 probes), and every value is an exact
    * integer both engines. Row hashes are the family's md5-fragment int32
    * + per-row linear rehash (q36's k-minhash-from-one-hash trick).
    */
  private def q130(t: Tables): DataFrame = {
    // sketch geometry: 4 rows; the width is runtime-tunable (the oracle
    // renders at 256): narrower widths force collisions — how the spec
    // exercises the overcount arm on a corpus whose vocab fits 256 buckets
    val d = 4
    val w = t.spark.conf.get("graft.cms.width", "256").toInt
    require(w >= 2 && w <= 65536, s"graft.cms.width out of range: $w")
    val counts = storedFreq(t).getOrElse(
      withWords(t)
        .select(explode(col("words")).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n")))
    val hashed = counts
      .withColumn("m", md5(col("token")))
      .withColumn("h", expr(Dedup.hexint32("m")))
    val cellCols = (0 until d).map(i => expr(s"${Dedup.bandHash(i, "h")} % $w"))
    val cells = hashed.select(
      col("token"),
      col("n"),
      posexplode(array(cellCols: _*)).as(Seq("row", "bucket")))
    val sketch = cells.groupBy(col("row"), col("bucket")).agg(sum(col("n")).as("cell"))
    // the 50 probes re-derive their 4 cell keys from scratch (50·4 rows of
    // map-side hashing) rather than re-joining the vocab-scale cells
    // relation — the sketch, d·w rows, broadcasts onto them
    val probes = counts
      .orderBy(col("n").desc, col("token"))
      .limit(50)
      .withColumn("m", md5(col("token")))
      .withColumn("h", expr(Dedup.hexint32("m")))
      .select(col("token"), col("n"), posexplode(array(cellCols: _*)).as(Seq("row", "bucket")))
    probes
      .join(broadcast(sketch), Seq("row", "bucket"))
      .groupBy(col("token"))
      .agg(max(col("n")).as("n_exact"), min(col("cell")).as("n_est"))
      .withColumn("overcount", col("n_est") - col("n_exact"))
      .orderBy(col("n_exact").desc, col("token"))
  }

  /** Bigram language-model counts: n(w1 w2), n(w1·) and the conditional
    * probability p(w2|w1) — the statistics behind perplexity-style quality
    * filters and contamination n-gram checks. One narrow shuffle on
    * (w1, w2) for the pair counts; n(w1·) comes from a window sum over the
    * already-partial-agg'd pairs (w1-partitioned), so the raw token stream
    * is never shuffled twice.
    *
    * Skew: the default window's per-w1 partition is vocabulary-bounded
    * (its input is the (w1, w2) PAIR table, never raw tokens — a stopword
    * w1's partition holds |distinct w2| rows, not its billions of
    * occurrences), so the window survives scale. Still, under
    * `graft.skew.salt=N` the marginal reroutes through
    * [[Skew.saltedSumCount]] (q76's two-stage family) and joins back on
    * w1 — turning the residual hot partition into join skew, which AQE's
    * skew-join splitting DOES handle. Hash-identical output either way.
    */
  private def q77(t: Tables): DataFrame = {
    val pairs = storedBigrams(t).map(_.withColumnRenamed("n", "n_bigram")).getOrElse(
      docBigrams(t, Nil).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_bigram")))
    val saltBuckets = t.spark.conf.get("graft.skew.salt", "0").toInt
    require(saltBuckets >= 0, s"graft.skew.salt out of range: $saltBuckets")
    val withMarginal =
      if (saltBuckets > 0) {
        val marginals = Skew.saltedSumCount(pairs, col("w1"), col("n_bigram"), saltBuckets)
          .select(col("key").as("w1"), col("total").as("n_w1"))
        pairs.join(marginals, "w1")
      } else {
        val byW1 = Window.partitionBy(col("w1"))
        pairs.withColumn("n_w1", sum(col("n_bigram")).over(byW1))
      }
    withMarginal
      .filter(col("n_bigram") >= 10)
      .withColumn("p", round(col("n_bigram") / col("n_w1"), 4))
      .select(col("w1"), col("w2"), col("n_bigram"), col("n_w1"), col("p"))
      .orderBy(col("w1"), col("w2"))
  }

  /** Rare-bigram quality filter — the integer-exact proxy for the
    * perplexity filters (CCNet-style) that score documents against a
    * corpus LM: a document whose bigrams are mostly corpus-rare
    * (count < 10, q77's support threshold) is boilerplate-mangled,
    * OCR-damaged, or off-distribution. True log-perplexity would average
    * floats in engine-dependent order; rare-bigram counting keeps every
    * aggregate integral (ratios are a single division of long sums, the
    * flag is an integer cross-multiplication), so the result is
    * bit-reproducible cross-engine like q64/q94's hash arithmetic.
    *
    * Scale shape: the doc-side explode is linear in corpus tokens (each
    * occurrence must count toward its doc's total, so no pre-join
    * collapse); the corpus LM side is the q77 pair aggregation
    * (vocabulary-bounded); their join is equi on (w1, w2) — a Zipfian-hot
    * bigram lands on AQE skew splitting, never a window — and the per-doc
    * rollup partial-aggregates map-side. Docs with no bigram (<2 words)
    * have nothing to score and are absent, both engines alike.
    */
  private def q97(t: Tables): DataFrame = {
    val stream = docBigrams(t, Seq("doc_id", "source"))
    val corpusCounts = storedBigrams(t).map(_.withColumnRenamed("n", "n_corpus")).getOrElse(
      stream
        .groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("n_corpus")))
    val perDoc = stream
      .join(corpusCounts, Seq("w1", "w2"))
      .groupBy(col("source"), col("doc_id"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("n_corpus") < 10, 1L).otherwise(0L)).as("n_rare"))
    perDoc
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("total_bigrams"),
        sum(col("n_rare")).as("rare_bigrams"),
        round(sum(col("n_rare")) / sum(col("n_bigrams")), 4).as("rare_ratio"),
        sum(when(col("n_rare") * 10 > col("n_bigrams") * 3, 1L).otherwise(0L)).as("n_flagged"))
      .orderBy(col("source"))
  }

  /** CCNet-style perplexity binning (Wenzek et al. 2020, the head/middle/
    * tail cut CCNet prunes Common Crawl with — the TRUE-log companion to
    * q97's integer-exact rare-bigram proxy): score every document in bits
    * per bigram against the corpus bigram LM, cut each language's score
    * distribution at its exact tertiles, and report the per-(lang, bin)
    * population. "head" is the in-distribution third a curator keeps
    * first.
    *
    * Numeric discipline: p = n_bigram/n_w1 is an exactly-rounded IEEE
    * division of two longs, −log2(p) quantizes half-up to e3 integers
    * BEFORE any aggregation (never average raw doubles — the q141/q142
    * rule; a last-ulp log2 difference flips an e3 floor only within
    * ~1e-12 of a boundary), and every downstream mean is half-up integer
    * division. The tertile cutoffs are exact interpolated percentiles
    * (q91's recipe) over the quantized scores — and BECAUSE the scores
    * are e3 integers, the exact-percentile state is bounded by the score
    * range (thousands of distinct values), not the corpus, so the exact
    * form survives 100 TB where a raw-double percentile would not.
    *
    * Scale shape: the doc-side bigram explode is linear; the LM side is
    * q77's vocabulary-bounded pair table — store-backed under
    * `graft.bigram.store` (this is the store's 4th consumer), with the
    * w1-marginal a window over the PAIR table (vocab-bounded partitions);
    * the doc⋈LM equi-join skew-splits under AQE; the per-doc rollup
    * partial-aggregates map-side; the cutoff table is |lang|-rows and
    * broadcasts back.
    */
  private def q151(t: Tables): DataFrame = {
    val stream = docBigrams(t, Seq("doc_id", "lang"))
    val pairs = storedBigrams(t).map(_.withColumnRenamed("n", "n_bigram")).getOrElse(
      stream.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_bigram")))
    val byW1 = Window.partitionBy(col("w1"))
    val lm = pairs.withColumn("n_w1", sum(col("n_bigram")).over(byW1))
    val perDoc = stream
      .join(lm, Seq("w1", "w2"))
      .withColumn(
        "bits_e3",
        expr("CAST(floor(-log2(CAST(n_bigram AS DOUBLE) / n_w1) * 1000 + 0.5) AS BIGINT)"))
      .groupBy(col("lang"), col("doc_id"))
      .agg(count(lit(1)).as("n_bg"), sum(col("bits_e3")).as("sum_bits"))
      .withColumn("score_e3", expr("(2 * sum_bits + n_bg) DIV (2 * n_bg)"))
    val cuts = perDoc
      .groupBy(col("lang"))
      .agg(
        expr("percentile(score_e3, CAST(1 AS DOUBLE) / 3)").as("p33"),
        expr("percentile(score_e3, CAST(2 AS DOUBLE) / 3)").as("p66"))
    perDoc
      .join(broadcast(cuts), Seq("lang"))
      .withColumn(
        "bin",
        when(col("score_e3") <= col("p33"), "head")
          .when(col("score_e3") <= col("p66"), "middle")
          .otherwise("tail"))
      .groupBy(col("lang"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("(2 * sum(score_e3) + count(1)) DIV (2 * count(1))").as("mean_bits_e3"),
        min(col("score_e3")).as("min_bits_e3"),
        max(col("score_e3")).as("max_bits_e3"))
      .orderBy(col("lang"), col("bin"))
  }

  /** Min-K% Prob memorization screen (Shi et al. 2024's pretraining-data
    * membership-inference statistic, the bigram-LM form — new r17, the
    * score-level closure of the decontamination family: q75/q120/q143
    * detect VERBATIM window overlap, q105/q113 fingerprint spans; this
    * flags documents whose LEAST-predictable fifth is still predictable,
    * the profile of text the model/corpus has effectively memorized
    * where a mean over all tokens (q151's perplexity) lets a few rare
    * words hide it): per document, the mean surprise (e3 bits) of its
    * k=20% HIGHEST-surprise bigrams — low even there ⇒ memorized/
    * boilerplate; top-30 most-suspicious (ascending score, doc_id
    * tie-break) with source and the full-doc mean for contrast.
    *
    * Exactness: per-bigram bits are q151's exact convention verbatim
    * (one -log2 on the exact count ratio, e3 half-up); the k-subset is
    * deterministic — k = ceil(n/5) as the integer (n+4) DIV 5, ranked
    * by (bits DESC, w1, w2) so ties cannot reorder across engines; both
    * means are half-up integer divisions.
    *
    * Scale shape: q151's LM chain (stored-bigram-backed under
    * `graft.bigram.store`); ONE doc-keyed window ranks each document's
    * own bigrams (corpus-linear, q10's class); top-30 is TakeOrdered.
    */
  private def q264(t: Tables): DataFrame = {
    val stream = docBigrams(t, Seq("doc_id", "source"))
    val pairs = storedBigrams(t).map(_.withColumnRenamed("n", "n_bigram")).getOrElse(
      stream.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_bigram")))
    val byW1 = Window.partitionBy(col("w1"))
    val lm = pairs.withColumn("n_w1", sum(col("n_bigram")).over(byW1))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("bits_e3").desc, col("w1"), col("w2"))
    stream
      .join(lm, Seq("w1", "w2"))
      .withColumn(
        "bits_e3",
        expr("CAST(floor(-log2(CAST(n_bigram AS DOUBLE) / n_w1) * 1000 + 0.5) AS BIGINT)"))
      .withColumn("rn", row_number().over(byDoc))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("k", expr("(n + 4) DIV 5"))
      .groupBy(col("doc_id"), col("source"))
      .agg(
        max(col("n")).as("n_bigrams"),
        max(col("k")).as("k_top"),
        expr("(2 * sum(CASE WHEN rn <= k THEN bits_e3 ELSE 0 END) + max(k)) DIV (2 * max(k))")
          .as("mink_bits_e3"),
        expr("(2 * sum(bits_e3) + count(1)) DIV (2 * count(1))").as("mean_bits_e3"))
      .orderBy(col("mink_bits_e3"), col("doc_id"))
      .limit(30)
  }

  /** Distinct-n lexical diversity per source (Li et al. 2016's distinct-1/
    * distinct-2, the generation-diversity metric applied corpus-side): the
    * share of unigram and bigram occurrences that are distinct types. A
    * source whose ratio collapses is template-stamped or mode-collapsed
    * synthetic data — the corpus-level complement of q81's WITHIN-doc
    * repetition signal. Ratios are e4 half-up integer divisions of long
    * counts (bit-reproducible cross-engine).
    *
    * Scale shape: one linear explode per n; both streams union into ONE
    * (source, kind, token) relation so the count-distinct rewrite is a
    * single two-level aggregate — partial map-side on the token key,
    * final on (source, kind) — and the per-source pivot runs on the
    * |source|×2-row result. No window, no join.
    */
  private def q152(t: Tables): DataFrame = {
    val words = withWords(t)
    val uni = words
      .select(col("source"), explode(col("words")).as("token"))
      .filter(col("token") =!= "")
      .withColumn("kind", lit("uni"))
    val bi = docBigrams(t, Seq("source"))
      .select(col("source"), concat(col("w1"), lit(" "), col("w2")).as("token"))
      .withColumn("kind", lit("bi"))
    uni.unionByName(bi)
      .groupBy(col("source"), col("kind"))
      .agg(count(lit(1)).as("total"), countDistinct(col("token")).as("n_distinct"))
      .groupBy(col("source"))
      .agg(
        max(when(col("kind") === "uni", col("total"))).as("uni_total"),
        max(when(col("kind") === "uni", col("n_distinct"))).as("uni_distinct"),
        // a source whose docs are all single-word has unigrams but no
        // bigrams — its bi columns are an explicit 0, not NULL (both
        // engines; edge pinned by the crafted-fixture spec)
        coalesce(max(when(col("kind") === "bi", col("total"))), lit(0L)).as("bi_total"),
        coalesce(max(when(col("kind") === "bi", col("n_distinct"))), lit(0L)).as("bi_distinct"))
      .withColumn("uni_ratio_e4", expr("(2 * 10000 * uni_distinct + uni_total) DIV (2 * uni_total)"))
      .withColumn(
        "bi_ratio_e4",
        expr("CASE WHEN bi_total = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 10000 * bi_distinct + bi_total) DIV (2 * bi_total) END"))
      .select(
        col("source"), col("uni_total"), col("uni_distinct"), col("uni_ratio_e4"),
        col("bi_total"), col("bi_distinct"), col("bi_ratio_e4"))
      .orderBy(col("source"))
  }

  /** Token burstiness (Church & Gale 1995): for each corpus token, the
    * probability it recurs WITHIN a document given it appears at all —
    * P(tf ≥ 2 | tf ≥ 1) — plus its mean within-doc tf. Function words
    * spread evenly (low burst); content and boilerplate terms clump
    * (high burst). Curators read this next to q76's raw frequencies: a
    * high-frequency token that is also high-burst is a template artifact,
    * not vocabulary. Ratios are e4/e2 half-up integer divisions; the
    * top-30 gather is ordered by (burst desc, df desc, token) — a unique
    * total order.
    *
    * Scale shape: the (token, doc) tf aggregate partial-aggregates
    * map-side (each scan partition holds whole documents, so within-doc
    * repeats collapse before the exchange); the per-token rollup is
    * vocabulary-bounded; top-30 is TakeOrdered, never a global sort or
    * window.
    */
  private def q155(t: Tables): DataFrame =
    withWords(t)
      .select(col("doc_id"), explode(col("words")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
      .groupBy(col("token"))
      .agg(
        count(lit(1)).as("df"),
        sum(when(col("tf") >= 2, 1L).otherwise(0L)).as("multi_df"),
        sum(col("tf")).as("tf_total"))
      .filter(col("df") >= 20)
      .withColumn("burst_e4", expr("(2 * 10000 * multi_df + df) DIV (2 * df)"))
      .withColumn("mean_tf_e2", expr("(2 * 100 * tf_total + df) DIV (2 * df)"))
      .select(col("token"), col("df"), col("multi_df"), col("burst_e4"), col("mean_tf_e2"))
      .orderBy(col("burst_e4").desc, col("df").desc, col("token"))
      .limit(30)

  /** Per-context conditional entropy H(w2|w1) — the context-diversity
    * readout next to q77's LM and q139's PMI (and the signal branching-
    * entropy tokenizers like Unigram-LM segmentation weigh): for each
    * context word w1, the Shannon entropy of its successor distribution
    * in e3 bits, with its corpus share. A high-frequency context with
    * near-zero entropy is a frozen template collocation; high-entropy
    * contexts are where subword merges stop paying. Top-30 by
    * (entropy desc, w1) — a unique total order.
    *
    * Numeric discipline: q151's exactly — each successor's −log2(p)
    * quantizes half-up to e3 BEFORE aggregation, H(w1) is the
    * n_pair-weighted half-up integer mean of those terms, share is an
    * e4 integer ratio. Nothing fractional ever aggregates.
    *
    * Scale shape: the ONLY corpus-scale work is the pair aggregation —
    * and under `graft.bigram.store` (5th consumer) even that disappears:
    * the whole operator is then vocab²-bounded reads + a w1-partitioned
    * window over the PAIR table (q77's bounded-partition argument) + a
    * TakeOrdered top-30. The cheapest deep-audit in the text family.
    */
  private def q159(t: Tables): DataFrame = {
    val pairs = storedBigrams(t).map(_.withColumnRenamed("n", "n_pair")).getOrElse(
      docBigrams(t, Nil).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair")))
    val byW1 = Window.partitionBy(col("w1"))
    val total = pairs.agg(sum(col("n_pair")).as("n_total"))
    pairs
      .withColumn("n_w1", sum(col("n_pair")).over(byW1))
      .withColumn(
        "bits_e3",
        expr("CAST(floor(-log2(CAST(n_pair AS DOUBLE) / n_w1) * 1000 + 0.5) AS BIGINT)"))
      .groupBy(col("w1"))
      .agg(
        max(col("n_w1")).as("n_w1"),
        count(lit(1)).as("n_successors"),
        expr("(2 * sum(n_pair * bits_e3) + max(n_w1)) DIV (2 * max(n_w1))").as("entropy_e3"))
      .join(broadcast(total))
      .withColumn("share_e4", expr("(2 * 10000 * n_w1 + n_total) DIV (2 * n_total)"))
      .select(col("w1"), col("n_w1"), col("n_successors"), col("entropy_e3"), col("share_e4"))
      .orderBy(col("entropy_e3").desc, col("w1"))
      .limit(30)
  }

  /** The per-source (token, count) vocabulary table — the shared input of
    * the q160/q163 distribution-shape audits. One corpus-scale shuffle on
    * the (source, token) key, partial-aggregable map-side; the result is
    * per-source-vocab-bounded, which is what both consumers' windows
    * partition on.
    */
  private def sourceVocab(t: Tables): DataFrame =
    withWords(t)
      .select(col("source"), explode(col("words")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))

  /** Per-source Zipf rank-frequency fit (Zipf 1949; the power-law
    * diagnostic Piantadosi 2014 surveys): OLS slope magnitude of
    * ln(freq) on ln(rank) over each source's top-100 vocabulary. Natural
    * text sits near slope 1; a source far below is vocabulary-flat
    * (lists, logs, templates), far above is dominated by a few stamped
    * tokens — either way not prose, and a mix curator wants the number
    * per source next to q152's distinct-n and q33's quality score.
    *
    * Numeric discipline: both lns quantize half-up to e4 integers FIRST
    * (q151's quantize-before-aggregate rule), so every OLS sum is an
    * exact long and the one slope division is the only rounding step.
    * num = ΣxΣy − nΣxy and den = nΣx² − (Σx)² are both ≥ 0 exactly: x
    * increases with rank while y is non-increasing (Chebyshev's sum
    * inequality), and floor-quantization preserves the monotonicity.
    * |2·10⁴·num| ≲ 2·10⁴·n·Σxy stays under 2⁶³ through count ~10¹² —
    * corpus-size-safe because only the top-100 ranks enter the sums.
    *
    * Scale shape: the one corpus-scale shuffle is the shared
    * [[sourceVocab]] agg; the rank window partitions BY source (per-
    * partition size = that source's vocab — spillable, never global);
    * only 100 rows per source survive into the OLS sums.
    */
  private def q160(t: Tables): DataFrame =
    sourceVocab(t)
      .withColumn(
        "rank",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("c").desc, col("token"))))
      .filter(col("rank") <= 100)
      .withColumn("x", expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000 + 0.5) AS BIGINT)"))
      .withColumn("y", expr("CAST(floor(ln(CAST(c AS DOUBLE)) * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_ranks"),
        max(col("c")).as("top_freq"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("sx") * col("sy") - col("n_ranks") * col("sxy"))
      .withColumn("den", col("n_ranks") * col("sxx") - col("sx") * col("sx"))
      .withColumn(
        "slope_mag_e4",
        expr("CASE WHEN den = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 10000 * num + den) DIV (2 * den) END"))
      .select(col("source"), col("n_ranks"), col("top_freq"), col("slope_mag_e4"))
      .orderBy(col("source"))

  /** Per-source Gini coefficient of the token-frequency distribution —
    * the single-number concentration readout next to q160's power-law
    * slope and q136's coverage curve: 0 is a uniform vocabulary, →1 is
    * a handful of tokens owning the mass. The classic rank formula over
    * ascending-sorted counts, G = (2·Σi·cᵢ − (n+1)·Σc)/(n·Σc), is
    * integer-EXACT end to end — no transcendental anywhere — and the
    * numerator is ≥ 0 by the same Chebyshev argument as q160 (i
    * ascending, cᵢ ascending). Only the final e6 division rounds.
    *
    * Scale shape: [[sourceVocab]] is the one corpus-scale shuffle; the
    * ascending-rank window partitions by source (vocab-bounded,
    * spillable); the rollup is |source| rows. Σi·cᵢ ≤ vocab·Σc overflows
    * 2⁶³ past ~10¹⁸ token·rank products, so the rank products and their
    * sum run in DECIMAL (q110's guard pattern).
    */
  private def q163(t: Tables): DataFrame = {
    val big: Column => Column = _.cast("decimal(19,0)")
    sourceVocab(t)
      .withColumn(
        "i",
        row_number().over(Window.partitionBy(col("source")).orderBy(col("c").asc, col("token"))))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(big(col("i")) * big(col("c"))).as("si"))
      .withColumn("num", lit(2) * col("si") - (col("n_types") + lit(1)) * col("n_tokens"))
      .withColumn("den", col("n_types") * col("n_tokens"))
      .withColumn("gini_e6", expr("CAST((2 * 1000000 * num + den) DIV (2 * den) AS BIGINT)"))
      .select(col("source"), col("n_types"), col("n_tokens"), col("gini_e6"))
      .orderBy(col("source"))
  }

  /** Good-Turing frequency-of-frequencies audit (Good 1953; Gale &
    * Sampson 1995's Simple GT): per source, the head of the N_r table —
    * hapaxes N₁, dis legomena N₂ — and the estimates every smoothed LM
    * and coverage planner reads off it: Turing's unseen-token mass
    * P₀ = N₁/N (the probability the NEXT token drawn is novel), the
    * hapax share of the vocabulary, and the GT-smoothed count for
    * once-seen tokens r*₁ = 2·N₂/N₁. A source whose unseen mass stays
    * high keeps minting vocabulary (open-domain prose); one near zero is
    * a closed template vocabulary — q160's slope and q152's distinct-n
    * read the same table's SHAPE, this reads its TAIL mass.
    *
    * All-integer off [[sourceVocab]]: conditional counts, then three
    * half-up integer divisions. Scale shape: the one corpus-scale
    * shuffle is the shared sourceVocab agg (partial-aggregable
    * map-side); the rollup is |source| rows.
    */
  private def q167(t: Tables): DataFrame =
    sourceVocab(t)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_types"),
        sum(col("c")).as("n_tokens"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("c") === 2, 1L).otherwise(0L)).as("n_dis"))
      .withColumn(
        "unseen_mass_e6",
        expr("(2 * 1000000 * n_hapax + n_tokens) DIV (2 * n_tokens)"))
      .withColumn(
        "hapax_share_e6",
        expr("(2 * 1000000 * n_hapax + n_types) DIV (2 * n_types)"))
      .withColumn(
        "r1_star_e4",
        expr("CASE WHEN n_hapax = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 10000 * 2 * n_dis + n_hapax) DIV (2 * n_hapax) END"))
      .orderBy(col("source"))

  /** Heaps'-law vocabulary-growth fit (Heaps 1978 / Herdan): per source,
    * V(N) ≈ K·N^β sampled at power-of-two document checkpoints in
    * deterministic doc_id order, β by OLS of ln V on ln N (q160's
    * quantize-before-aggregate discipline: e4 integer lns, exact long
    * OLS sums, one rounded division at the end). Open-domain prose sits
    * near β ≈ 0.5; β → 0 is a closed vocabulary (templates, logs) — the
    * GROWTH version of q167's unseen-mass readout, and the exponent a
    * tokenizer-budget planner extrapolates full-corpus vocabulary from.
    *
    * Cumulative distinct WITHOUT a quadratic pass: a token's first
    * occurrence is min(doc_id) per (source, token) — a vocab-bounded
    * agg — so per-doc new-type counts key onto that doc, and both
    * running sums (tokens, types) ride ONE per-source doc-ordered
    * window over |docs-per-source| rows. Checkpoints are the ranks with
    * a single set bit (r & (r−1) = 0, r ≥ 2) — O(log n_docs) of them,
    * evenly spaced in ln N, which is the fit's x-axis. β ≥ 0 exactly:
    * x and y are both non-decreasing in rank (Chebyshev, as q160; the
    * e4 floor-quantization preserves monotonicity).
    *
    * Scale shape: two corpus-scale partial-aggregable shuffles (the
    * (source, doc) token counts and the (source, token) first-occurrence
    * agg); everything after is doc- or vocab-bounded; the OLS rollup is
    * |source| rows.
    */
  private def q168(t: Tables): DataFrame = {
    val tok = withWords(t)
      .select(col("source"), col("doc_id"), explode(col("words")).as("token"))
      .filter(col("token") =!= "")
    val docTok = tok.groupBy(col("source"), col("doc_id")).agg(count(lit(1)).as("n_tok"))
    val newTypes = tok
      .groupBy(col("source"), col("token"))
      .agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("new_types"))
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    docTok
      .join(newTypes, Seq("source", "doc_id"), "left")
      .na.fill(0L, Seq("new_types"))
      .withColumn("r", row_number().over(w))
      .withColumn("cum_tokens", sum(col("n_tok")).over(w))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .filter(expr("r >= 2 AND (r & (r - 1)) = 0"))
      .withColumn("x", expr("CAST(floor(ln(CAST(cum_tokens AS DOUBLE)) * 10000 + 0.5) AS BIGINT)"))
      .withColumn("y", expr("CAST(floor(ln(CAST(cum_types AS DOUBLE)) * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_checkpoints"),
        max(col("cum_tokens")).as("tokens_last"),
        max(col("cum_types")).as("types_last"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("n_checkpoints") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n_checkpoints") * col("sxx") - col("sx") * col("sx"))
      .withColumn(
        "beta_e4",
        expr("CASE WHEN den = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 10000 * num + den) DIV (2 * den) END"))
      .select(
        col("source"), col("n_checkpoints"), col("tokens_last"), col("types_last"),
        col("beta_e4"))
      .orderBy(col("source"))
  }

  /** Moving-average type-token ratio, MATTR (Covington & McFall 2010) —
    * the length-invariant lexical-diversity measure raw TTR is not
    * (longer docs repeat more, so plain distinct/total punishes length):
    * a width-25 window slides over each doc at stride 1, per-window TTR
    * = distinct/25, per-doc MATTR = mean over windows — and because the
    * per-window distinct counts are integers, the per-doc mean is ONE
    * exact integer division (Σ distinct / (25 · windows), e4 half-up);
    * the per-source mean of doc MATTRs is a second. Complements q81's
    * within-doc repetition (which detects the anomaly; this scores the
    * whole corpus on a comparable scale) and q152's corpus-level
    * distinct-n.
    *
    * Scale shape: the window sweep is MAP-SIDE list arithmetic next to
    * the scan (O(25·tokens) per doc, no explode leaves the task); the
    * only shuffle is the |source|-row rollup. Docs under 25 tokens have
    * no window and drop out (the paper's rule), counted via n_docs.
    */
  private def q185(t: Tables): DataFrame =
    withWords(t)
      .filter(size(col("words")) >= 25)
      .select(
        col("source"),
        size(col("words")).as("n_words"),
        expr("""aggregate(
               |  transform(sequence(1, size(words) - 24),
               |    i -> size(array_distinct(slice(words, i, 25)))),
               |  0L, (acc, x) -> acc + x)""".stripMargin).as("sum_distinct"),
        (size(col("words")) - 24).cast("long").as("n_windows"))
      .withColumn(
        "mattr_e4",
        expr("(2 * 10000 * sum_distinct + 25 * n_windows) DIV (2 * 25 * n_windows)"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_windows")).as("n_windows"),
        expr("(2 * sum(mattr_e4) + count(1)) DIV (2 * count(1))").as("mattr_e4"))
      .orderBy(col("source"))

  /** Doc-length tail exponent per source (Clauset, Shalizi & Newman 2009's
    * power-law diagnosis, on the LENGTH axis — q160's OLS machinery
    * verbatim, applied to the length rank-size plot): slope magnitude of
    * ln(n_chars) on ln(rank) over each source's 100 longest docs. A
    * heavy tail (slope ≫ 0) means a handful of giant docs dominate the
    * source's bytes — the skew that decides packing (q80) and per-task
    * memory; a near-zero slope is a uniform template length. Same
    * quantize-before-aggregate exactness (e4 integer lns, exact long OLS
    * sums, one rounded division; num, den ≥ 0 by Chebyshev). One
    * doc-scale (source) rank window; only 100 rows/source enter the sums.
    */
  private def q186(t: Tables): DataFrame =
    t.documents
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn(
        "rank",
        row_number().over(
          Window.partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rank") <= 100)
      .withColumn("x", expr("CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000 + 0.5) AS BIGINT)"))
      .withColumn("y", expr("CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 10000 + 0.5) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_ranks"),
        max(col("n_chars")).as("max_chars"),
        sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("num", col("sx") * col("sy") - col("n_ranks") * col("sxy"))
      .withColumn("den", col("n_ranks") * col("sxx") - col("sx") * col("sx"))
      .withColumn(
        "tail_mag_e4",
        expr("CASE WHEN den = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 10000 * num + den) DIV (2 * den) END"))
      .select(col("source"), col("n_ranks"), col("max_chars"), col("tail_mag_e4"))
      .orderBy(col("source"))

  /** Kolmogorov–Smirnov length-drift audit (Massey 1951's statistic,
    * r16 — the sup-norm companion to q165's binned PSI: PSI needs bin
    * edges and misses shape shifts inside a bin; the KS D is binless and
    * exactly computable on integer lengths): per source, D = sup over
    * lengths of |ECDF_source − ECDF_rest| in e6, the length at which the
    * gap peaks, and which side is heavier below it (+1 = the source has
    * MORE short-doc mass than the rest of the corpus) — the
    * ingest-regression readout that catches a truncating parser or a
    * boilerplate injection by its length signature alone.
    *
    * Exactness: candidate points are the corpus's distinct lengths;
    * |F₁−F₂| at each is the INTEGER cross-product |cum_src·n_rest −
    * cum_rest·n_src| — the max is exact, the single e6 division rounds
    * once, and the peak-length argmax is the zero-padded max-string
    * pick. The cross-products run in DECIMAL, exact past ~10¹⁸ (q163's
    * guard).
    *
    * Scale shape: two corpus-scale partial-aggregable counts ((len) and
    * (source, len)); the evaluation grid is |sources| × |distinct
    * lengths| — bounded by the LENGTH DOMAIN, not the corpus (q161's
    * declared dim-grid class), with the one unpartitioned cumulative
    * window running on the distinct-length relation only.
    */
  // ONE construction of the source-vs-rest length ECDF grid (|sources| ×
  // |distinct lengths|, the declared q161-class dim grid) for q194's KS
  // sup-norm and q239's Mann-Whitney integral — the two-sample tests
  // read one definition of the cumulatives.
  private def lenEcdfGrid(t: Tables): DataFrame = {
    val docs = t.documents.select(col("source"), col("n_chars"))
    val lens = docs.groupBy(col("n_chars").as("len")).agg(count(lit(1)).as("c_all"))
      .withColumn("cum_all", sum(col("c_all")).over(
        Window.orderBy(col("len")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val srcLen = docs.groupBy(col("source"), col("n_chars").as("len"))
      .agg(count(lit(1)).as("c_src"))
    val sources = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val total = docs.agg(count(lit(1)).as("n_all"))
    sources.crossJoin(broadcast(lens))
      .join(srcLen, Seq("source", "len"), "left")
      .na.fill(0L, Seq("c_src"))
      .withColumn("cum_src", sum(col("c_src")).over(
        Window.partitionBy(col("source")).orderBy(col("len"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(total))
  }

  private def q194(t: Tables): DataFrame = {
    val big: Column => Column = _.cast("decimal(19,0)")
    lenEcdfGrid(t)
      .withColumn(
        "num",
        big(col("cum_src")) * (col("n_all") - col("n_src"))
          - big(col("cum_all") - col("cum_src")) * col("n_src"))
      .withColumn(
        "pick",
        concat(
          lpad(abs(col("num")).cast("string"), 19, "0"), lit(":"),
          lpad(col("len").cast("string"), 10, "0"), lit(":"),
          expr("CASE WHEN num > 0 THEN '+' WHEN num < 0 THEN '-' ELSE '0' END")))
      .groupBy(col("source"))
      .agg(
        max(col("n_src")).as("n_docs"),
        max(col("n_all") - col("n_src")).as("n_rest"),
        max(col("pick")).as("pick"))
      .withColumn("d_num", expr("CAST(substr(pick, 1, 19) AS BIGINT)"))
      .withColumn(
        "ks_e6",
        expr("(2 * 1000000 * d_num + n_docs * n_rest) DIV (2 * n_docs * n_rest)"))
      .withColumn("at_len", expr("CAST(substr(pick, 21, 10) AS BIGINT)"))
      .withColumn(
        "heavier_below",
        expr("CASE substr(pick, 32, 1) WHEN '+' THEN 1 WHEN '-' THEN -1 ELSE 0 END")
          .cast("long"))
      .select(
        col("source"), col("n_docs"), col("ks_e6"), col("at_len"), col("heavier_below"))
      .orderBy(col("source"))
  }

  /** Mann–Whitney probability of superiority per source (Mann & Whitney
    * 1947; new r16 wave 29 — the INTEGRAL two-sample statistic next to
    * q194's KS sup-norm and q165's binned PSI: KS reports the single
    * worst ECDF gap, this the rank-based EFFECT SIZE P(src doc longer
    * than rest doc), the number that says whether a drift is a spike or
    * a systematic shift): per source, docs, rest size, the tie-halved
    * 2U statistic, superiority in e6 (probed 0.44–0.65 across sources
    * at every SF — real two-sided spread), and the ±1 direction flag.
    * Exact integer throughout: ties carry the standard half weight kept
    * doubled (2U = Σ_len c_src·(2·rest_below + rest_ties)), one half-up
    * e6 division; the products run in DECIMAL(38,0), exact past ~3·10⁹
    * docs (q173's guard pattern).
    *
    * Scale shape: rides the SAME |sources| × |distinct lengths| ECDF
    * grid as q194 (the lenEcdfGrid helper — one definition, the
    * declared dim-grid class bounded by the length value domain); the
    * fold collapses it to |sources| rows.
    */
  private def q239(t: Tables): DataFrame = {
    val big: Column => Column = _.cast("decimal(38,0)")
    lenEcdfGrid(t)
      .withColumn("c_rest", col("c_all") - col("c_src"))
      .withColumn("rest_below", col("cum_all") - col("cum_src") - col("c_rest"))
      .groupBy(col("source"))
      .agg(
        max(col("n_src")).as("n_src"),
        max(col("n_all") - col("n_src")).as("n_rest"),
        sum(big(col("c_src")) * (lit(2L) * col("rest_below") + col("c_rest"))).as("two_u"))
      .withColumn("n1n2", big(col("n_src")) * col("n_rest"))
      .withColumn(
        "superiority_e6",
        expr("CAST((1000000 * two_u + n1n2) DIV (2 * n1n2) AS BIGINT)"))
      .withColumn("two_u", expr("CAST(two_u AS BIGINT)"))
      .withColumn(
        "longer",
        expr("""CAST(CASE WHEN two_u > n1n2 THEN 1
               |     WHEN two_u < n1n2 THEN -1 ELSE 0 END AS BIGINT)""".stripMargin))
      .select(
        col("source"), col("n_src"), col("n_rest"), col("two_u"),
        col("superiority_e6"), col("longer"))
      .orderBy(col("source"))
  }

  /** Exact per-source length quantiles WITHOUT a sort (r16 wave 3 — the
    * order-statistics primitive the pipeline's sizing decisions read:
    * q80/q126's packing caps, per-task memory, and q91's outlier fences
    * all want "the p95 doc length", and at 100 TB an exact global sort
    * per source is exactly the plan you must not run): per source, the
    * nearest-rank p25/p50/p75/p95 of n_chars plus the IQR, computed by
    * DISTRIBUTION COUNTING — one (source, len) count, a per-source
    * cumulative over its distinct lengths, and rank thresholds read off
    * the cumulative (q136's histogram trick on the length axis). Exact
    * because lengths are integers: no quantization is even needed.
    *
    * Nearest-rank rule (both engines verbatim): rank_p = ceil(p·n/100)
    * rendered as (p·n + 99) DIV 100; the quantile is the smallest
    * length whose cumulative count reaches it. The ×4 target explode
    * rides the (source, len) TYPE relation, never the corpus; the only
    * corpus-scale work is the one partial-aggregable count.
    */
  /** Split-conformal prediction coverage audit (Vovk et al. 2005;
    * Papadopoulos et al. 2002 introduced the split form; Angelopoulos &
    * Bates 2023 is the modern tutorial) — the distribution-free interval
    * machinery a pipeline uses to put GUARANTEED error bars on a per-doc
    * prediction before acting on it: deterministically split each source
    * 50/50 into calibration/test (the q64 seedless hash, mod-100 arm),
    * predict each doc's length by its source's calibration median,
    * calibrate the conformal radius q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest
    * calibration nonconformity |len − med| at α = 0.1, and report the
    * TEST-side empirical coverage — exchangeability alone guarantees
    * E[coverage] ≥ 90%, no distributional assumption, which is exactly
    * what makes the technique deployable on arbitrary corpora.
    *
    * Exactness: the median and q̂ are ORDER STATISTICS (source-keyed
    * row_number with doc_id tie-break, integer rank formulas
    * (n+1) DIV 2 and ((n+1)·9+9) DIV 10) — no interpolation, no
    * doubles; a rank beyond n_cal (tiny strata) yields the infinite
    * radius, reported as q̂ = −1 with full coverage. Scale shape: the
    * corpus-scale work is two source-keyed window ranks + the test
    * rollup on the SAME key (one partitioning reused); med/q̂/counts are
    * |sources|-row relations broadcast back.
    */
  private def q280(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("len"))
      .withColumn("cal", expr("((doc_id % 2147483647) * 2654435761) % 100 < 50"))
    val cal = docs.filter(col("cal"))
    // r17: calCnt/med/qhat are |sources|-row relations, but each is read
    // by several branches (qhat's chain alone replays cal + med + a
    // window; the final presentation join replays all three) —
    // checkpoint each once so every corpus-scale calibration window runs
    // exactly once.
    val calCnt = graft.Iterate.cutLineage(
      cal.groupBy(col("source")).agg(count(lit(1)).as("n_cal")))
    val wLen = Window.partitionBy(col("source")).orderBy(col("len"), col("doc_id"))
    val med = graft.Iterate.cutLineage(
      cal.withColumn("rn", row_number().over(wLen))
        .join(broadcast(calCnt), Seq("source"))
        .filter(col("rn") === expr("(n_cal + 1) DIV 2"))
        .select(col("source"), col("len").as("med")))
    val calScores = cal.join(broadcast(med), Seq("source"))
      .withColumn("score", abs(col("len") - col("med")))
    val wSc = Window.partitionBy(col("source")).orderBy(col("score"), col("doc_id"))
    val qhat = graft.Iterate.cutLineage(
      calScores.withColumn("rn", row_number().over(wSc))
        .join(broadcast(calCnt), Seq("source"))
        .filter(col("rn") === expr("((n_cal + 1) * 9 + 9) DIV 10"))
        .select(col("source"), col("score").as("qhat")))
    val agg = docs.filter(!col("cal"))
      .join(broadcast(med), Seq("source"))
      .join(broadcast(qhat), Seq("source"), "left")
      .withColumn("cov",
        col("qhat").isNull || abs(col("len") - col("med")) <= col("qhat"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("cov"), 1L).otherwise(0L)).as("covered"))
    agg.join(calCnt, Seq("source"))
      .join(med, Seq("source"))
      .join(qhat, Seq("source"), "left")
      .withColumn("qhat", coalesce(col("qhat"), lit(-1L)))
      .withColumn("coverage_e6",
        expr("(2 * 1000000 * covered + n_test) DIV (2 * n_test)"))
      .select(col("source"), col("n_cal"), col("n_test"), col("med"),
        col("qhat"), col("covered"), col("coverage_e6"))
      .orderBy(col("source"))
  }

  private def q197(t: Tables): DataFrame = {
    val targets = Seq(25, 50, 75, 95)
    val counts = t.documents
      .groupBy(col("source"), col("n_chars").as("len"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("source")).orderBy(col("len"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    counts
      .withColumn("p", explode(expr(s"array(${targets.mkString(", ")})")))
      .filter(expr("cum >= (p * n + 99) DIV 100"))
      .groupBy(col("source"))
      .agg(
        max(col("n")).as("n_docs"),
        min(when(col("p") === 25, col("len"))).as("p25"),
        min(when(col("p") === 50, col("len"))).as("p50"),
        min(when(col("p") === 75, col("len"))).as("p75"),
        min(when(col("p") === 95, col("len"))).as("p95"))
      .withColumn("iqr", col("p75") - col("p25"))
      .orderBy(col("source"))
  }

  /** Robust length-outlier census via median/MAD (Hampel 1974's robust
    * scale estimator; new r16 wave 24 — the ROBUST companion to q91's
    * percentile trim and q197's quantiles: mean/stddev fences move with
    * the very outliers they hunt, the median absolute deviation does
    * not): per source, nearest-rank median length, MAD, docs beyond
    * 1.5×/2× MAD (strict, integer cross-multiplied — 2·|x−m| > 3·MAD
    * and |x−m| > 2·MAD; the classic 3× band is identically zero at
    * sf0.1 on this corpus, probed, so the populated bands ship), the
    * 1.5× share (e4), and the worst absolute deviation.
    *
    * Scale shape: ONE corpus-scale (source, len) count; the deviation
    * histogram is a broadcast-median regroup of that LENGTH-TYPE
    * relation (never the corpus), both rank reads are q197's
    * distribution-counting rule on source-partitioned windows, and the
    * census folds the same domain-scale relation — four logical passes,
    * zero additional corpus scans.
    */
  private def q231(t: Tables): DataFrame = {
    val hist = t.documents
      .groupBy(col("source"), col("n_chars").as("len"))
      .agg(count(lit(1)).as("c"))
    def rankMin(h: DataFrame, v: String, out: String): DataFrame =
      h.withColumn("cum", sum(col("c")).over(
          Window.partitionBy(col("source")).orderBy(col(v))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
        .filter(expr("cum >= (50 * n + 99) DIV 100"))
        .groupBy(col("source")).agg(min(col(v)).as(out))
    val med = rankMin(hist, "len", "med")
    val adHist = hist
      .join(broadcast(med), Seq("source"))
      .groupBy(col("source"), abs(col("len") - col("med")).as("ad"))
      .agg(sum(col("c")).as("c"), max(col("med")).as("med"))
    val mad = rankMin(adHist.select(col("source"), col("ad"), col("c")), "ad", "mad")
    adHist
      .join(broadcast(mad), Seq("source"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_docs"),
        max(col("med")).as("median_len"),
        max(col("mad")).as("mad"),
        sum(when(expr("2 * ad > 3 * mad"), col("c")).otherwise(0L)).as("out_15mad"),
        sum(when(expr("ad > 2 * mad"), col("c")).otherwise(0L)).as("out_20mad"),
        max(col("ad")).as("max_abs_dev"))
      .withColumn("out15_share_e4", expr("(2 * 10000 * out_15mad + n_docs) DIV (2 * n_docs)"))
      .select(
        col("source"), col("n_docs"), col("median_len"), col("mad"),
        col("out_15mad"), col("out_20mad"), col("out15_share_e4"), col("max_abs_dev"))
      .orderBy(col("source"))
  }

  /** Byte-mass length percentiles per source (new r16 wave 26 — the
    * STORAGE-planning order statistic q197/q231 do not give: those rank
    * DOCS, this ranks the CHARS they hold; "90% of this source's bytes
    * sit in docs ≤ X chars" is the number that sizes pack buffers
    * (q80), shard splits and per-task memory, and it sits far above the
    * doc median on any heavy-tailed source — probed wmed−med = 14–192
    * at every SF, strictly positive for all 20 sources): per source,
    * docs, total chars, the count-p50 length, the byte-p50/p90 lengths
    * (smallest length whose cumulative CHAR mass reaches 50%/90%,
    * integer cross-multiplied — 2·cum ≥ tot and 10·cum ≥ 9·tot both
    * engines verbatim), and the e4 share of chars held by docs longer
    * than the count-median (the mass the "typical doc" view never
    * sees).
    *
    * Scale shape: ONE corpus-scale (source, len) count; both cumulative
    * windows and the threshold picks run on that LENGTH-TYPE relation
    * (q197's class, source-partitioned); the heavy-mass branch re-folds
    * the same domain relation against the broadcast per-source picks.
    */
  private def q235(t: Tables): DataFrame = {
    val hist = t.documents
      .groupBy(col("source"), col("n_chars").as("len"))
      .agg(count(lit(1)).as("c"))
      .withColumn("mass", col("c") * col("len"))
    val byLen = Window.partitionBy(col("source")).orderBy(col("len"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col("source"))
    val w = hist
      .withColumn("cum", sum(col("mass")).over(byLen))
      .withColumn("tot", sum(col("mass")).over(all))
      .withColumn("ccum", sum(col("c")).over(byLen))
      .withColumn("n", sum(col("c")).over(all))
    val picks = w.groupBy(col("source"))
      .agg(
        max(col("n")).as("n_docs"),
        max(col("tot")).as("total_chars"),
        min(when(expr("2 * ccum >= n"), col("len"))).as("med_len"),
        min(when(expr("2 * cum >= tot"), col("len"))).as("bytep50_len"),
        min(when(expr("10 * cum >= 9 * tot"), col("len"))).as("bytep90_len"))
    hist
      .join(broadcast(picks), Seq("source"))
      .groupBy(col("source"))
      .agg(sum(when(col("len") > col("med_len"), col("mass")).otherwise(0L)).as("heavy"))
      .join(broadcast(picks), Seq("source"))
      .withColumn(
        "heavy_mass_e4",
        expr("(2 * 10000 * heavy + total_chars) DIV (2 * total_chars)"))
      .select(
        col("source"), col("n_docs"), col("total_chars"), col("med_len"),
        col("bytep50_len"), col("bytep90_len"), col("heavy_mass_e4"))
      .orderBy(col("source"))
  }

  /** Top document prefixes per source — the ACTIONABLE face of the
    * boilerplate detectors: q140 counts window-hash collisions and q171
    * rates shingle reuse, but a curation operator fixing a source needs
    * the actual offending strings. Per source, the three most common
    * 5-token prefixes with doc counts and corpus coverage (e4) — the
    * strip-list a C4-style cleaner is seeded with. One corpus-scale
    * (source, prefix) agg (partial map-side — boilerplate collapses
    * before the exchange); the rank and total windows run on the
    * prefix-TYPE table (≪ docs for boilerplate-heavy sources, ≤ docs
    * always); 3 rows per source survive.
    */
  private def q177(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("n_docs").desc, col("prefix"))
    withWords(t)
      .select(col("source"), expr("concat_ws(' ', slice(words, 1, 5))").as("prefix"))
      .groupBy(col("source"), col("prefix"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("src_docs", sum(col("n_docs")).over(Window.partitionBy(col("source"))))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .withColumn("coverage_e4", expr("(2 * 10000 * n_docs + src_docs) DIV (2 * src_docs)"))
      .select(col("source"), col("rank"), col("prefix"), col("n_docs"), col("coverage_e4"))
      .orderBy(col("source"), col("rank"))
  }

  /** Per-source character-class profile — the cheapest structural
    * fingerprint next to q100's entropy: alpha/digit/space shares (e4)
    * and chars per doc. Code and log sources sit digit- and
    * punctuation-heavy, prose sits alpha-heavy; a share that drifts
    * between crawl batches is a parser or encoding regression upstream
    * (the Gopher-style symbol-ratio gate reads exactly these counts).
    * All counting is map-side regexp length arithmetic next to the
    * scan; the single shuffle is the |source|-row rollup.
    */
  private def q179(t: Tables): DataFrame =
    t.documents
      .select(
        col("source"),
        length(col("text")).cast("long").as("n_chars"),
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long").as("n_alpha"),
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long").as("n_digit"),
        length(regexp_replace(col("text"), "[^ ]", "")).cast("long").as("n_space"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        sum(col("n_alpha")).as("n_alpha"),
        sum(col("n_digit")).as("n_digit"),
        sum(col("n_space")).as("n_space"))
      .withColumn("alpha_share_e4", expr("(2 * 10000 * n_alpha + n_chars) DIV (2 * n_chars)"))
      .withColumn("digit_share_e4", expr("(2 * 10000 * n_digit + n_chars) DIV (2 * n_chars)"))
      .withColumn("space_share_e4", expr("(2 * 10000 * n_space + n_chars) DIV (2 * n_chars)"))
      .withColumn(
        "other_share_e4",
        expr("(2 * 10000 * (n_chars - n_alpha - n_digit - n_space) + n_chars) DIV (2 * n_chars)"))
      .withColumn("chars_per_doc_e2", expr("(2 * 100 * n_chars + n_docs) DIV (2 * n_docs)"))
      .select(
        col("source"), col("n_docs"), col("n_chars"), col("alpha_share_e4"),
        col("digit_share_e4"), col("space_share_e4"), col("other_share_e4"),
        col("chars_per_doc_e2"))
      .orderBy(col("source"))

  /** Kneser-Ney continuation-count audit (Kneser & Ney 1995; the count
    * that replaces raw frequency in every modern smoothed LM): for each
    * token, how many DISTINCT left contexts it follows — continuation
    * probability P_cont = |{w1 : c(w1,w) > 0}| / |bigram types| — next
    * to its raw occurrence count as a bigram second element. The
    * separation is the classic "Francisco" diagnostic: a high-frequency
    * token with few left contexts is a frozen-collocation element that a
    * unigram back-off would badly over-weight, and in a training corpus
    * it marks template stamping that raw q76 frequencies cannot see.
    * `clump_e2` (mean occurrences per distinct context) is the same
    * signal as a ratio.
    *
    * All-integer off the distinct PAIR table: counts, one broadcast
    * |types| scalar, two half-up integer divisions. Top-30 by
    * (cont_e6 desc, token) — a unique total order.
    *
    * Scale shape: 6th `graft.bigram.store` consumer — store-backed the
    * operator is CORPUS-FREE (q159's class, pinned in the stores-mode
    * audit): two vocab-bounded aggs over the pair table, a vocab-scale
    * full-outer join on the token key, a single-row broadcast, TakeOrdered
    * top-30. Derived, the pair agg is the one corpus-scale shuffle.
    */
  private def q164(t: Tables): DataFrame = {
    val pairs = storedBigrams(t).map(_.withColumnRenamed("n", "n_pair")).getOrElse(
      docBigrams(t, Nil).groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair")))
    val tot = pairs.agg(count(lit(1)).as("n_types"))
    // both sides derive from the same pair table — alias before the
    // self-join or the analyzer rejects the join keys as ambiguous
    val left = pairs
      .groupBy(col("w2"))
      .agg(count(lit(1)).as("n_left_ctx"), sum(col("n_pair")).as("n_as_second"))
      .as("l")
    val right = pairs.groupBy(col("w1")).agg(count(lit(1)).as("n_right_ctx")).as("r")
    left
      .join(right, col("l.w2") === col("r.w1"), "full_outer")
      .select(
        coalesce(col("l.w2"), col("r.w1")).as("token"),
        coalesce(col("n_left_ctx"), lit(0L)).as("n_left_ctx"),
        coalesce(col("n_as_second"), lit(0L)).as("n_as_second"),
        coalesce(col("n_right_ctx"), lit(0L)).as("n_right_ctx"))
      .join(broadcast(tot))
      .withColumn("cont_e6", expr("(2 * 1000000 * n_left_ctx + n_types) DIV (2 * n_types)"))
      .withColumn(
        "clump_e2",
        expr("CASE WHEN n_left_ctx = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 100 * n_as_second + n_left_ctx) DIV (2 * n_left_ctx) END"))
      .select(
        col("token"), col("n_left_ctx"), col("n_right_ctx"), col("n_as_second"),
        col("cont_e6"), col("clump_e2"))
      .orderBy(col("cont_e6").desc, col("token"))
      .limit(30)
  }

  /** Pairwise Jensen-Shannon divergence between source unigram
    * distributions (Lin 1991; the symmetric, bounded [0,1]-bit mix
    * distance DoReMi-style reweighting and dataset-mix audits read):
    * which sources are interchangeable and which contribute a genuinely
    * distinct distribution. Distributions are restricted to the corpus
    * top-200 vocabulary and renormalized (declared semantic — JSD over
    * open vocabulary would put the whole mass question in the tail);
    * top-20 most-divergent pairs.
    *
    * Numeric discipline: for tokens BOTH sources carry, each of the two
    * pointwise KL terms — (c_a/n_a)·log2(2·c_a·n_b / (c_a·n_b +
    * c_b·n_a)), its ½ factor folded into the quantizer — is ONE
    * expression with one transcendental, written CHARACTER-identically
    * in both engines, quantized half-up to ½e6 units BEFORE aggregation
    * (q151's rule; e6 rather than e9 keeps a last-ulp log2 disagreement
    * ~10⁻¹⁶ nine orders of magnitude away from a rounding boundary).
    * Tokens EXCLUSIVE to one side need no log at all: their pointwise
    * term collapses to p·log2(2p/p) = p, so each side's whole exclusive
    * mass enters as ONE exact integer division, (n−sh)/n in ½e6 units —
    * which is also what lets the plan skip the zero-padded token grid
    * entirely. The pointwise pair-sum is ≥ 0 by the log-sum inequality.
    *
    * Scale shape: the one corpus-scale shuffle is [[sourceVocab]];
    * top-200 vocab is a TakeOrdered broadcast; shared terms come from a
    * token-keyed self-join of the restricted (|src|·200)-row relation;
    * the |src|²/2 totals grid is the declared dim×dim cross (sources
    * are a mix-audit's handful, never data-scale) and exists only so a
    * hypothetical zero-overlap pair still reports (its jsd is the two
    * exclusive lumps).
    */
  private def q161(t: Tables): DataFrame = {
    val cnt = sourceVocab(t)
    val topv = cnt
      .groupBy(col("token"))
      .agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("token"))
      .limit(200)
      .select(col("token"))
    val restricted = cnt
      .join(broadcast(topv), Seq("token"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("source"))))
    val totals = restricted.groupBy(col("source")).agg(max(col("n")).as("n"))
    val grid = totals
      .select(col("source").as("src_a"), col("n").as("n_a"))
      .crossJoin(totals.select(col("source").as("src_b"), col("n").as("n_b")))
      .filter(col("src_a") < col("src_b"))
    val term = (side: String, other: String) =>
      s"""CAST(floor(CAST(c_$side AS DOUBLE) / n_$side *
         | log2(2.0 * c_$side * n_$other /
         |  (CAST(c_a AS DOUBLE) * n_b + CAST(c_b AS DOUBLE) * n_a)) *
         | 500000 + 0.5) AS BIGINT)""".stripMargin.replace("\n", "")
    val shared = restricted.as("a")
      .join(
        restricted.as("b"),
        col("a.token") === col("b.token") && col("a.source") < col("b.source"))
      .select(
        col("a.source").as("src_a"), col("b.source").as("src_b"),
        col("a.c").as("c_a"), col("b.c").as("c_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .withColumn("t_ab", expr(term("a", "b")))
      .withColumn("t_ba", expr(term("b", "a")))
      .groupBy(col("src_a"), col("src_b"))
      .agg(
        count(lit(1)).as("n_shared"),
        sum(col("c_a")).as("sh_a"),
        sum(col("c_b")).as("sh_b"),
        sum(col("t_ab") + col("t_ba")).as("shared_e6"))
    grid
      .join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("sh_a", coalesce(col("sh_a"), lit(0L)))
      .withColumn("sh_b", coalesce(col("sh_b"), lit(0L)))
      .withColumn(
        "jsd_e6",
        coalesce(col("shared_e6"), lit(0L))
          + expr("(2 * 500000 * (n_a - sh_a) + n_a) DIV (2 * n_a)")
          + expr("(2 * 500000 * (n_b - sh_b) + n_b) DIV (2 * n_b)"))
      .select(
        col("src_a"), col("src_b"), col("n_shared"),
        col("n_a").as("tokens_a"), col("n_b").as("tokens_b"), col("jsd_e6"))
      .orderBy(col("jsd_e6").desc, col("src_a"), col("src_b"))
      .limit(20)
  }

  /** Distributed BPE merge-pair counting — the inner step of byte-pair-
    * encoding tokenizer training (Sennrich et al. 2016): count adjacent
    * character-pair occurrences weighted by word frequency and surface the
    * top merge candidates. The scale fact the whole trainer rests on: pair
    * statistics are a function of the DISTINCT-WORD frequency table, not
    * the corpus — the only corpus-scale shuffle is the partial-aggregable
    * word count (map-side combine collapses repeated words before the
    * exchange); the pair explode, the pair aggregate, and every subsequent
    * merge iteration run at vocab scale (millions of rows at 100 TB, not
    * trillions of tokens). Top-50 is a TakeOrdered gather — no global
    * sort — and the rank window runs on that bounded 50-row result.
    * (c1, c2) ties break on the pair bytes, so output is deterministic
    * cross-engine.
    */
  private def q118(t: Tables): DataFrame = {
    val wf = t.documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))
    val pairs = wf
      .filter(length(col("w")) >= 2)
      .select(
        col("freq"),
        explode(
          expr(
            """transform(sequence(1, length(w) - 1),
              |  i -> struct(substring(w, i, 1) AS c1, substring(w, i + 1, 1) AS c2))""".stripMargin))
          .as("p"))
      .select(col("p.c1").as("c1"), col("p.c2").as("c2"), col("freq"))
    pairs
      .groupBy(col("c1"), col("c2"))
      .agg(sum(col("freq")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("c1"), col("c2"))
      .limit(50)
      .withColumn(
        "pair_rank",
        row_number()
          .over(Window.orderBy(col("pair_count").desc, col("c1"), col("c2")))
          .cast("long"))
      .orderBy(col("pair_rank"))
  }

  final case class BpeModel(
      merges: Seq[(String, String)], symbolCount: Long, vocab: DataFrame, rounds: Int)

  /** Train a BPE merge table — the full tokenizer-training loop q118 is
    * one step of (Sennrich et al. 2016, algorithm 1). The corpus is
    * scanned ONCE (the partial-aggregable word-frequency aggregate);
    * every merge round after that is vocab-scale: pair counting over the
    * symbol arrays (map-side explode + agg), a bounded loop-control
    * gather, and a left-fold merge apply (an `aggregate` higher-order
    * function, pure map work).
    *
    * Merges are BATCHED per round — the fix for the driver-paced
    * sequential chain a 30k–50k-merge real train would otherwise be (one
    * Spark job per merge, wall-clock bound by driver latency, not data).
    * Each round gathers the top-`maxBatch` candidates (count desc,
    * byte-order tie-break) and applies the longest PREFIX of that order
    * that provably commutes with the sequential greedy algorithm:
    *
    *  - prefix-contiguous: stop at the first rejected candidate, never
    *    skip past it — a skipped overlapping pair could be sequential's
    *    genuine next pick once earlier merges reduce its count;
    *  - pairwise symbol-disjoint, and no candidate symbol equals another
    *    batch merge's concatenated output — so batch members never
    *    compete for an adjacency and existing counts of later members
    *    are untouched by earlier ones;
    *  - created-pair bound: merging (a,b) can only create pairs
    *    (p, ab) with count ≤ max count of pairs ending at `a`, and
    *    (ab, s) with count ≤ max count of pairs starting at `b` — both
    *    read off the round's own pair table; a later batch member must
    *    STRICTLY beat every earlier member's bound, or the round stops
    *    there (a created pair might outrank it in the sequential order).
    *
    * Under those guards the batch equals `|batch|` steps of sequential
    * greedy exactly (spec-pinned against a scalar reference, traps
    * included), while driver round-trips drop ~`maxBatch`-fold — at 50k
    * merges and maxBatch=64 that is ~800 rounds instead of 50k jobs.
    * Loop discipline is trainIvf's ([[graft.operators.Similarity]]):
    * lineage cuts per round on the vocab relation only; driver gathers
    * are ≤ maxBatch rows of loop control, never data.
    */
  def trainBpe(t: Tables, nMerges: Int = 10, maxBatch: Int = 16): BpeModel = {
    require(nMerges >= 1, s"nMerges out of range: $nMerges")
    require(maxBatch >= 1, s"maxBatch out of range: $maxBatch")
    val wf = t.documents
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("freq"))
      .select(
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"),
        col("freq"))
    var vocab = graft.Iterate.cutLineage(wf)
    val merges = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var rounds = 0
    var exhausted = false
    while (merges.length < nMerges && !exhausted) {
      val want = math.min(maxBatch, nMerges - merges.length)
      val pairs = vocab
        .filter(size(col("syms")) >= 2)
        .select(
          col("freq"),
          explode(expr(
            """transform(sequence(1, size(syms) - 1),
              |  i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b))""".stripMargin))
            .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("n"))
        .persist()
      // created-pair bounds off the same vocab-scale table: pairs ending
      // at a candidate's left symbol / starting at its right symbol
      val maxIn = pairs.groupBy(col("b").as("s")).agg(max(col("n")).as("max_in"))
      val maxOut = pairs.groupBy(col("a").as("s")).agg(max(col("n")).as("max_out"))
      val cands = pairs
        .orderBy(col("n").desc, col("a"), col("b")).limit(want).as("t")
        .join(maxIn.as("mi"), col("t.a") === col("mi.s"), "left")
        .join(maxOut.as("mo"), col("t.b") === col("mo.s"), "left")
        .select(
          col("t.a"), col("t.b"), col("t.n"),
          greatest(coalesce(col("mi.max_in"), lit(0L)),
            coalesce(col("mo.max_out"), lit(0L))).as("bound"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .collect()
      pairs.unpersist()
      if (cands.isEmpty) exhausted = true
      else {
        rounds += 1
        final case class C(a: String, b: String, n: Long, bound: Long)
        val ordered = cands.map(r => C(r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        val sel = scala.collection.mutable.ArrayBuffer[C]()
        var stop = false
        for (c <- ordered if !stop) {
          val syms = sel.iterator.flatMap(s => Iterator(s.a, s.b)).toSet
          val outs = sel.iterator.map(s => s.a + s.b).toSet
          val ok = sel.isEmpty || (
            !syms(c.a) && !syms(c.b) && !outs(c.a) && !outs(c.b) &&
              !syms(c.a + c.b) && !outs(c.a + c.b) &&
              sel.forall(s => c.n > s.bound))
          if (ok) sel += c else stop = true
        }
        merges ++= sel.map(c => (c.a, c.b))
        // one fold pass applies the whole batch: disjointness means at most
        // one rule can match at any position (all left symbols distinct and
        // no merged output collides with a rule symbol), so a single
        // left-to-right pass ≡ applying the merges one after another.
        // CASE branches keep element_at off the empty accumulator; a merged
        // last element ("ab") no longer equals any rule's `a`, so each rule
        // is the standard non-overlapping left-to-right BPE application.
        val folded = aggregate(
          col("syms"),
          array().cast("array<string>"),
          (acc, x) => {
            val onMerge = sel.foldLeft(when(lit(false), acc)) { (w, c) =>
              w.when(
                element_at(acc, -1) === lit(c.a) && x === lit(c.b),
                concat(
                  slice(acc, lit(1), size(acc) - 1),
                  array(concat(element_at(acc, -1), x))))
            }
            when(size(acc) === 0, array(x))
              .otherwise(onMerge.otherwise(concat(acc, array(x))))
          })
        vocab = graft.Iterate.cutLineage(vocab.withColumn("syms", folded))
      }
    }
    val symbolCount = vocab.select(explode(col("syms")).as("s")).distinct().count()
    BpeModel(merges.toSeq, symbolCount, vocab, rounds)
  }

  /** Packing bin capacity in (real, q32-vocab) tokens, the context length:
    * q80's bins and the curated corpus's (Curate). */
  private[graft] val PackTokens = 2048L

  /** Sequence packing for pretraining batch prep: documents stream into
    * fixed [[PackTokens]]-token bins per source in deterministic doc_id
    * order (a doc is never split; its bin is the block its cumulative
    * token end falls in — the streaming-pack policy). Token counts come from the
    * native subword kernel (q32's greedy longest-match vocab,
    * functions/Subword.scala), floored at one token per document. One
    * shuffle on source carries both the running-sum window and the rollup;
    * per-source
    * streams pack independently, which is exactly how packing parallelizes
    * across a 1000-executor ingest.
    */
  private def q80(t: Tables): DataFrame = {
    val bySrc = Window
      .partitionBy(col("source"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // real token counts from the native subword kernel (q32's vocab);
    // floor at one token: an empty document still occupies a slot, and the
    // running sum stays ≥ 1 so the integer bin floor-division can never see
    // a non-positive argument (Spark div truncates, DuckDB // floors — they
    // disagree below zero)
    t.documents
      .select(
        col("doc_id"),
        col("source"),
        greatest(graft.functions.GraftFunctions.subword_count(col("text")), lit(1L)).as("toks"))
      .withColumn("cum", sum(col("toks")).over(bySrc))
      .withColumn("bin", expr(s"CAST((cum - 1) div $PackTokens AS BIGINT)"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("bin_tokens"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_bins"),
        sum(col("bin_tokens")).as("total_tokens"),
        max(col("n_docs")).as("max_docs_per_bin"),
        round(sum(col("bin_tokens")) / (count(lit(1)) * PackTokens), 4).as("fill_ratio"))
      .orderBy(col("source"))
  }

  /** TF-IDF top-3 terms per document — the classic salient-term extraction
    * a corpus-exploration / topic-drilldown pipeline runs over every doc.
    * Term frequencies aggregate map-side after the explode (one narrow
    * (doc, term) shuffle); document frequency is a second vocabulary-
    * bounded aggregate over the already-collapsed tf table (never the raw
    * token stream); the corpus doc count joins as a single-row broadcast
    * (q15's scalar pattern). The top-k is a per-doc row_number window over
    * the ROUNDED score with a total (score desc, term) order, so ranking is
    * deterministic cross-engine. At 100 TB every shuffle here is
    * (doc × distinct-terms-in-doc)- or vocabulary-scale — never corpus².
    */
  private def q90(t: Tables): DataFrame = {
    val tf = withWords(t)
      .select(col("doc_id"), explode(col("words")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = t.documents.agg(count(lit(1)).as("n_docs"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, "term")
      .join(broadcast(nDocs))
      // round-4 BEFORE ranking: ln is the one transcendental in the suite,
      // and ranking on the rounded value keeps a sub-ulp engine difference
      // from ever flipping the top-k order
      .withColumn("tfidf", round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rn", row_number().over(byDoc))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"))
      // the global sort is the deterministic-dump contract (SURVEY §5) —
      // a parallel range sort of the 3·|docs|-row OUTPUT, not a plan
      // stage; at 100 TB the deliverable would be written partitioned
      // and unsorted instead
      .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
  }

  /** Per-source length-outlier trim accounting: exact interpolated p05/p95
    * character-length bounds per source, then below/above classification
    * and the chars a p05–p95 trim would drop — the length-filter sizing
    * query a pipeline runs before committing to a cutoff.
    *
    * Scale shape (round 11): the bounds come from a
    * `groupBy(source).agg(percentile)` — partial-aggregable (map-side
    * buffer/sketch merge) — broadcast back onto a second slim
    * (source, n_chars) scan for the per-row classification. The previous
    * window form (`percentile(..).over(partitionBy(source))`) funneled
    * the whole corpus into |sources| reducer partitions, which AQE
    * cannot split; a second two-column scan is the cheap price for
    * keeping classification map-side at 100 TB.
    *
    * Memory note: `percentile` is exact (it buffers each group's value
    * COUNTS); at 100 TB per-source value sets are huge, so
    * `graft.pctl.approx=true` reroutes both bounds through
    * `approx_percentile(…, 10000)` — same plan shape and output schema,
    * bounded sketch memory (the q76-salt pattern: the scale path is a
    * conf, not a fork). The oracle pins the exact default; the approx
    * path is spec-bounded against it.
    */
  private def q91(t: Tables): DataFrame = {
    val approx = t.spark.conf.get("graft.pctl.approx", "false").toBoolean
    def pctl(p: Double) =
      if (approx) expr(s"approx_percentile(n_chars, $p, 10000)").cast("double")
      else expr(s"percentile(n_chars, $p)")
    val docs = Tables.localSplit(t.documents, col("doc_id"))
      .select(col("source"), col("n_chars"))
    val bounds = docs
      .groupBy(col("source"))
      .agg(pctl(0.05).as("p05"), pctl(0.95).as("p95"))
    docs
      .join(broadcast(bounds), Seq("source"))
      .withColumn(
        "cls",
        when(col("n_chars") < col("p05"), "below")
          .when(col("n_chars") > col("p95"), "above")
          .otherwise("within"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(min(col("p05")), 2).as("p05"),
        round(min(col("p95")), 2).as("p95"),
        sum(when(col("cls") === "below", 1L).otherwise(0L)).as("n_below"),
        sum(when(col("cls") === "above", 1L).otherwise(0L)).as("n_above"),
        sum(when(col("cls") =!= "within", col("n_chars")).otherwise(0L)).as("chars_trimmed"))
      .orderBy(col("source"))
  }

  /** Intra-document repetition filter (the Gopher-style quality signal):
    * repetition ratio = 1 − |distinct word-3-grams| / |word-3-grams|. The
    * distinct count comes from the native shingle-set kernel next to the
    * scan — no explode, no shuffle before the per-source rollup.
    */
  private def q81(t: Tables): DataFrame =
    withRepRatio(withWords(t))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rep_ratio") > 0.2, 1L).otherwise(0L)).as("n_flagged"),
        round(avg(col("rep_ratio")), 4).as("avg_rep_ratio"))
      .orderBy(col("source"))

  /** The composed preprocessing gate — the decision a real ingest makes
    * per document, with a reason code for observability: first matching
    * rule wins (too_short → repetitive → low_quality → kept). Reuses the
    * q33 score and the q81 repetition ratio verbatim (one expression tree,
    * both engines), all computed next to the scan in one pass; the only
    * shuffle is the (source, reason) rollup. Reason-coded drop accounting
    * is what lets a 100 TB pipeline explain WHERE its yield went.
    */
  /** The q84 gate per DOCUMENT — (doc_id, source, text, n_chars, reason),
    * first matching rule wins. q84 is its rollup; [[graft.Curate]]'s gate
    * stage FILTERS on it, so the executable pipeline and the audit query
    * share one expression tree and cannot drift.
    */
  private[graft] def gateVerdicts(t: Tables): DataFrame =
    withRepRatio(withQualityScore(withWords(t)))
      .withColumn(
        "reason",
        when(col("n_chars") < 50, "too_short")
          .when(col("rep_ratio") > 0.2, "repetitive")
          .when(col("score") < 0.45, "low_quality")
          .otherwise("kept"))
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"), col("reason"))

  private def q84(t: Tables): DataFrame =
    gateVerdicts(t)
      .groupBy(col("source"), col("reason"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"), col("reason"))

  /** Quality-score calibration against duplication and the gate (new r12
    * — the audit that asks whether the q33 score MEANS anything before
    * q84 thresholds on it: per fixed 0.25-wide score band, how many docs
    * land there, what fraction are exact duplicates (q35's md5
    * identity), and what fraction the q84 gate keeps. A well-calibrated
    * score shows dup share falling as score rises; a flat curve says the
    * score is noise and the 0.45 cutoff is arbitrary).
    *
    * Scale shape: score/repetition/hash are the SHARED map-side helpers
    * (nothing re-derived); buckets are FIXED-width score bands, not
    * ntile deciles — a decile rank would need an unpartitioned window
    * over the corpus, a band is a map-side floor. The md5 group count is
    * one hash-keyed shuffle (q35's), membership re-joins hash-keyed
    * (q89's join-not-window), the rollup is ≤8 rows.
    */
  private def q144(t: Tables): DataFrame = {
    val scored = withRepRatio(withQualityScore(withWords(t)))
      .withColumn("h", md5(col("text")))
      .withColumn(
        "kept",
        col("n_chars") >= 50 && col("rep_ratio") <= 0.2 && col("score") >= 0.45)
      .withColumn("bucket", least(floor(col("score") / 0.25), lit(7L)).cast("long"))
    val groups = scored.groupBy(col("h")).agg(count(lit(1)).as("n_copies"))
    scored
      .join(groups, Seq("h"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_copies") >= 2, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .withColumn("dup_share", round(col("n_dup_docs") / col("n_docs"), 4))
      .withColumn("keep_share", round(col("n_kept") / col("n_docs"), 4))
      .orderBy(col("bucket"))
  }

  /** Isotonic (PAVA) calibration of the quality score against mean
    * repetition (Ayer et al. 1955's pool-adjacent-violators, computed by
    * the Robertson–Wright minimax characterization ŷᵢ = max_{j≤i}
    * min_{k≥i} avg(y over bins j..k) — the CALIBRATION-fit class the
    * suite lacked: q144 tabulates raw per-bin rates, q84/q114 gate on
    * fixed thresholds; this produces the best monotone curve through the
    * noisy per-bin means, the step every score consumer (Zadrozny &
    * Elkan 2002) runs before trusting a score as a probability. The
    * monotone fit also answers a gate-design question: where PAVA pools
    * adjacent score bins into one level (`pooled`), the score does NOT
    * separate repetition there — the q84 gate's independent rep_ratio
    * leg is load-bearing exactly in those bins): per score bin (width
    * 0.125, capped at 15), docs, raw mean repetition e9, the isotonic
    * fit e9, and the pooled flag.
    *
    * Exactness: per-doc rep_ratio quantizes half-up to e6 FIRST (q141's
    * rule), so every interval average is a ratio of two exact longs;
    * each candidate average quantizes e9 by half-up INTEGER division
    * (no doubles anywhere in the fit), and the nested max-min runs over
    * those integers identically in both engines. The minimax form is
    * O(B³) — a non-starter on data, exactly right on the ≤16-row bin
    * relation (the spec recomputes it scalar-side and pins equality +
    * monotonicity + that pooling actually fires on this corpus).
    *
    * Scale shape: ONE corpus-scale rollup onto ≤16 (bin) keys; the
    * prefix window, interval self-join (≤136 rows), triple join (≤816)
    * and folds are all bin-domain relations (q136's bounded class; the
    * inequality joins are declared metadata-grid crosses).
    */
  private def q270(t: Tables): DataFrame = {
    val scored = withRepRatio(withQualityScore(withWords(t)))
      .select(
        expr("CAST(least(floor(score / 0.125), 15) AS BIGINT)").as("bin"),
        expr("CAST(floor(rep_ratio * 1000000 + 0.5) AS BIGINT)").as("rep_e6"))
    val bins = scored.groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("rep_e6")).as("pos"))
    val wc = Window.orderBy(col("bin")).rowsBetween(Window.unboundedPreceding, 0)
    val pre = bins
      .withColumn("cumn", sum(col("n_docs")).over(wc))
      .withColumn("cump", sum(col("pos")).over(wc))
    val iv = pre.as("a")
      .join(pre.as("b"), col("a.bin") <= col("b.bin"))
      .select(
        col("a.bin").as("j"), col("b.bin").as("k"),
        (col("b.cump") - col("a.cump") + col("a.pos")).as("p"),
        (col("b.cumn") - col("a.cumn") + col("a.n_docs")).as("q"))
      .withColumn("a_e9", expr("(2 * 1000 * p + q) DIV (2 * q)"))
    val fit = iv
      .join(bins.select(col("bin").as("i")), col("j") <= col("i") && col("i") <= col("k"))
      .groupBy(col("i"), col("j")).agg(min(col("a_e9")).as("mn"))
      .groupBy(col("i")).agg(max(col("mn")).as("iso_rep_e9"))
    bins
      .join(fit, col("bin") === col("i"))
      .withColumn("raw_rep_e9", expr("(2 * 1000 * pos + n_docs) DIV (2 * n_docs)"))
      .select(
        col("bin"), col("n_docs"), col("raw_rep_e9"), col("iso_rep_e9"),
        (col("raw_rep_e9") =!= col("iso_rep_e9")).as("pooled"))
      .orderBy(col("bin"))
  }

  /** Quantile normalization of per-source length distributions onto the
    * pooled reference (Bolstad et al. 2003 — the batch-effect correction
    * standard: replace each source's i-th order statistic by the pooled
    * distribution's value at the same quantile; the NORMALIZATION class
    * the drift family stops short of — q194/q165/q239 MEASURE
    * distribution gaps between sources, this REMOVES them, the
    * preprocessing step a mixed-corpus feature pipeline runs so "length"
    * means the same thing for every source): per source, docs, raw mean
    * e3, normalized mean e3, the pooled mean e3 it should converge to,
    * and the KS distance to the pooled ECDF BEFORE and AFTER (e6) — the
    * after column is the operator's own correctness certificate
    * (spec-pinned: never worse, and bounded by the source's 1/n rank
    * granularity).
    *
    * Exactness: per-doc rank r in source is a row_number with doc_id
    * tie-break; the pooled pick k = ⌈(2r−1)·N/(2n_s)⌉ is one integer
    * ceiling division; the pick itself joins k into the pooled rank
    * BLOCKS [cum−cnt+1, cum] through [[RangeJoin.bucketed]] — the
    * repo's own interval-join operator (bucket equi-join + post-filter,
    * never a nested-loop scan); both KS numerators are exact integer
    * cross-products on the pooled len grid (q194's discipline).
    *
    * Scale shape: ONE corpus-scale source-keyed shuffle carries the
    * rank window (the per-source order statistic is the semantics);
    * the pooled histogram collapses map-side onto the len DOMAIN
    * (bounded — its cum window is the declared bounded global-window
    * class); the rank-pick join shuffles on bucket id (RangeJoin's
    * point: O(1) buckets per row, not O(|blocks|)); both ECDF passes
    * ride the |sources|·|len domain| grid (q194's class).
    */
  private def q274(t: Tables): DataFrame = {
    val docs = t.documents.select(
      col("doc_id"), col("source"), length(col("text")).cast("long").as("len"))
    val nAll = docs.agg(count(lit(1)).as("n_all"), sum(col("len")).as("sum_all"))
    val srcStats = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_src"), sum(col("len")).as("sum_src"))
    val wLen = Window.orderBy(col("len")).rowsBetween(Window.unboundedPreceding, 0)
    val pooledCum = docs.groupBy(col("len")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wLen))
    val blocks = pooledCum
      .select(col("len").as("plen"),
        (col("cum") - col("cnt") + 1).as("lo"), (col("cum") + 1).as("hi"))
    val wSrc = Window.partitionBy(col("source")).orderBy(col("len"), col("doc_id"))
    val ranked = docs
      .withColumn("r", row_number().over(wSrc))
      .join(broadcast(srcStats.select(col("source"), col("n_src"))), Seq("source"))
      .join(broadcast(nAll.select(col("n_all"))))
      .withColumn("k", expr("((2 * r - 1) * n_all + 2 * n_src - 1) DIV (2 * n_src)"))
    val normalized = RangeJoin
      .bucketed(ranked, col("k"), broadcast(blocks), col("lo"), col("hi"), 256L)
      .select(col("source"), col("plen").as("nlen"))
    // both ECDF passes on the |sources| x |pooled len| grid
    def ksVsPooled(hist: DataFrame): DataFrame = {
      val grid = srcStats.select(col("source"), col("n_src"))
        .crossJoin(pooledCum.select(col("len"), col("cum")))
        .join(hist, Seq("source", "len"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val wg = Window.partitionBy(col("source")).orderBy(col("len"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid
        .withColumn("cum_src", sum(col("c")).over(wg))
        .join(broadcast(nAll.select(col("n_all"))))
        .withColumn("num", abs(col("cum_src") * col("n_all") - col("cum") * col("n_src")))
        .groupBy(col("source"))
        .agg(max(col("num")).as("d_num"), max(col("n_src")).as("ns"), max(col("n_all")).as("na"))
        .withColumn("ks_e6", expr("(2 * 1000000 * d_num + ns * na) DIV (2 * ns * na)"))
        .select(col("source"), col("ks_e6"))
    }
    val ksBefore = ksVsPooled(
      docs.groupBy(col("source"), col("len")).agg(count(lit(1)).as("c")))
      .withColumnRenamed("ks_e6", "ks_before_e6")
    val ksAfter = ksVsPooled(
      normalized.groupBy(col("source"), col("nlen").as("len")).agg(count(lit(1)).as("c")))
      .withColumnRenamed("ks_e6", "ks_after_e6")
    val normMean = normalized.groupBy(col("source"))
      .agg(expr("(2 * 1000 * sum(nlen) + count(1)) DIV (2 * count(1))").as("norm_mean_e3"))
    srcStats
      .withColumn("mean_e3", expr("(2 * 1000 * sum_src + n_src) DIV (2 * n_src)"))
      .join(broadcast(nAll))
      .withColumn("pooled_mean_e3", expr("(2 * 1000 * sum_all + n_all) DIV (2 * n_all)"))
      .join(normMean, Seq("source"))
      .join(ksBefore, Seq("source"))
      .join(ksAfter, Seq("source"))
      .select(
        col("source"), col("n_src").as("n_docs"), col("mean_e3"), col("norm_mean_e3"),
        col("pooled_mean_e3"), col("ks_before_e6"), col("ks_after_e6"))
      .orderBy(col("source"))
  }

  /** Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
    * algorithm): from each document's positional word-3-gram hash stream,
    * keep the minimum hash of every 4
    * consecutive grams — the provably-bounded fingerprint subset that
    * still detects any shared run of ≥ window+2 words. The selection
    * knob a substring-robust near-dup index is built on: density is
    * guaranteed ≈ 2/(window+1) regardless of content, so index size is
    * a dial, not a hope. Hash order is lexicographic md5 (q34's
    * fingerprint order — identical bits both engines, no int conversion).
    *
    * Scale shape: grams, window minima, and the per-doc distinct are all
    * array HOFs NEXT TO THE SCAN (zero pre-rollup shuffle, the whole
    * selection is codegen'd map work) — and the corpus is read ONCE: the
    * per-doc stats ride the posexplode_outer'd fingerprint stream on the
    * pos=0 row (docs with no grams keep their null-fp row), so one
    * (source, fp) aggregation feeds one |vocab|-scale source rollup —
    * no second scan, no join, no Expand. The md5-per-gram kernel and the
    * scan are the dominant costs at 100 TB; the earlier two-branch shape
    * paid both twice (plus a join) for the same answer.
    */
  private def q105(t: Tables): DataFrame = {
    val w = 4
    val perDoc = withWords(t)
      .withColumn("n_grams", greatest(size(col("words")) - 2, lit(0)).cast("long"))
      .withColumn(
        "hs",
        // CASE guard: sequence(1, n) runs DESCENDING for n < 1 (q34's rule)
        expr(
          """CASE WHEN size(words) >= 3 THEN
            |  transform(sequence(1, size(words) - 2),
            |    i -> md5(concat_ws(' ', slice(words, i, 3))))
            |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .withColumn(
        "fps",
        // slice clamps at the array end, so a short doc (n_grams < w)
        // yields its single all-grams window
        expr(
          s"""CASE WHEN size(hs) > 0 THEN
             |  array_distinct(transform(
             |    sequence(1, greatest(size(hs) - $w + 1, 1)),
             |    j -> array_min(slice(hs, j, $w))))
             |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
      .select(col("doc_id"), col("source"), col("n_grams"), col("fps"))
    val exploded = perDoc
      .select(
        col("source"), col("n_grams"),
        posexplode_outer(col("fps")).as(Seq("pos", "fp")))
      .withColumn("first_row", coalesce(col("pos"), lit(0)) === 0)
    val byFp = exploded
      .groupBy(col("source"), col("fp"))
      .agg(
        count(col("fp")).as("n_sel_f"),
        sum(when(col("first_row"), col("n_grams")).otherwise(0L)).as("g0"),
        sum(when(col("first_row"), 1L).otherwise(0L)).as("d0"))
    byFp
      .groupBy(col("source"))
      .agg(
        sum(col("d0")).as("n_docs"),
        sum(col("g0")).as("n_grams"),
        sum(col("n_sel_f")).as("n_selected"),
        sum(when(col("fp").isNotNull, 1L).otherwise(0L)).as("n_distinct_fp"))
      .withColumn(
        "density",
        when(col("n_grams") > 0, round(col("n_selected") / col("n_grams"), 4))
          .otherwise(lit(0.0)))
      .orderBy(col("source"))
  }

  /** The composed curation funnel: per-source yield accounting across the
    * standard pipeline stages — raw → quality gate → exact dedup — the
    * end-to-end report a curation run publishes (each stage exists as its
    * own audited operator; this is the composition that prices them
    * together, so "where did my corpus go" has one answer). The gate is
    * q84's exact decision tree via the SAME shared expression helpers
    * (the stages cannot drift); dedup is q35's md5 text identity with
    * q89's canonical rule — smallest doc_id corpus-wide among GATE
    * SURVIVORS (dedup after filtering, the conventional order: a
    * boilerplate doc must not survive because its canonical twin was
    * dropped for quality).
    *
    * Scale shape: the gate is map-side expression work next to the scan
    * and runs ONCE — the canonical branch needs no gate at all, because
    * the gate verdict is a pure function of `text`: every doc sharing a
    * hash shares the verdict, so "min doc_id among gate survivors with
    * this hash" equals "min doc_id among ALL docs with this hash"
    * whenever the group passes (and is irrelevant when it fails). The
    * ownership branch is therefore a slim 2-column scan → md5 →
    * groupBy(min), and the join keeps q89's join-not-window discipline
    * (hot boilerplate lands on AQE skew-join splitting, not one window
    * partition); the rollup is one source-keyed shuffle. Nothing is
    * corpus².
    */
  private def q106(t: Tables): DataFrame = {
    val gated = withRepRatio(withQualityScore(withWords(t)))
      .withColumn(
        "pass_gate",
        col("n_chars") >= 50 && col("rep_ratio") <= 0.2 && col("score") >= 0.45)
      .select(
        col("doc_id"), col("source"), col("n_chars"), col("pass_gate"),
        md5(col("text")).as("h"))
    val canon = t.documents
      .select(md5(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("canon_id"))
    gated
      .join(canon, Seq("h"), "left")
      .withColumn("unique_kept", col("pass_gate") && col("doc_id") === col("canon_id"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("pass_gate"), 1L).otherwise(0L)).as("n_gate"),
        sum(when(col("unique_kept"), 1L).otherwise(0L)).as("n_unique"),
        sum(col("n_chars")).as("chars_raw"),
        sum(when(col("unique_kept"), col("n_chars")).otherwise(0L)).as("chars_kept"))
      .withColumn("yield_share", round(col("n_unique") / col("n_raw"), 4))
      .orderBy(col("source"))
  }

  /** Cross-modal cluster-quality profile — the analysis that links the
    * text-quality family (§C) to the embedding clusters (§E): embedding
    * clusters concentrate boilerplate (the SemDeDup observation), so a
    * per-cluster quality profile tells a curation run which clusters to
    * drop wholesale, which to sample harder, and which are clean. Joins
    * each vector's cluster label to its document's q84 gate verdict and
    * q33 score (the SAME shared expression helpers — nothing re-derived).
    *
    * Exactness: the round-4 score quantizes to integer 1e-4 units before
    * aggregation (q90's discipline), so per-cluster sums are long adds —
    * order-independent cross-engine; the three output ratios are single
    * divisions of exact longs.
    *
    * Scale shape: the gate is map-side next to the documents scan; the
    * embeddings side prunes to (vec_id, label); one doc_id-keyed shuffle
    * join + one label rollup. At 100 TB co-bucket both tables on the id
    * to make the join exchange-free — proven end-to-end in ScaleSpec
    * (bucketed doc/emb tables leave ONLY the label-rollup exchange).
    */
  private def q111(t: Tables): DataFrame = {
    val gated = withRepRatio(withQualityScore(withWords(t)))
      .withColumn(
        "pass_gate",
        col("n_chars") >= 50 && col("rep_ratio") <= 0.2 && col("score") >= 0.45)
      .select(
        col("doc_id"), col("n_chars"),
        expr("CAST(round(score * 10000, 0) AS BIGINT)").as("score_e4"), col("pass_gate"))
    t.embeddings
      .select(col("vec_id").as("doc_id"), col("label"))
      .join(gated, Seq("doc_id"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("pass_gate"), 1L).otherwise(0L)).as("n_pass"),
        sum(col("score_e4")).as("sum_score_e4"),
        sum(col("n_chars")).as("sum_chars"))
      .select(
        col("label"), col("n_docs"), col("n_pass"),
        round(col("n_pass") / col("n_docs"), 4).as("pass_rate"),
        round(col("sum_score_e4") / col("n_docs"), 2).as("avg_score_e4"),
        round(col("sum_chars") / col("n_docs"), 2).as("avg_chars"))
      .orderBy(col("label"))
  }

  /** Gate-threshold sweep — the calibration table consulted BEFORE q84's
    * 0.45 cutoff was fixed: every candidate score threshold priced
    * (docs kept, chars kept, keep share) in ONE corpus pass. The score
    * and repetition trees are the q33/q84 shared helpers (nothing
    * re-derived); each doc emits one row per candidate threshold via a
    * 3-struct explode (q110's arm trick — map-side, |thresholds|×
    * corpus rows straight into a partial agg, never materialized); the
    * only shuffle is the (threshold, source) rollup. Tuning tables like
    * this are why the engine quantizes scores: the sweep is
    * bit-reproducible, so picking a cutoff from it is too.
    */
  private def q114(t: Tables): DataFrame = {
    val cuts = Seq(0.35, 0.45, 0.55)
    val scored = withRepRatio(withQualityScore(withWords(t)))
      .withColumn("base_pass", col("n_chars") >= 50 && col("rep_ratio") <= 0.2)
      .select(col("source"), col("n_chars"), col("score"), col("base_pass"))
    val arms = array(cuts.map(c =>
      struct(lit(c).as("cut"), (col("base_pass") && col("score") >= c).as("kept"))): _*)
    scored
      .select(col("source"), col("n_chars"), explode(arms).as("a"))
      .select(col("source"), col("n_chars"), col("a.cut").as("cut"), col("a.kept").as("kept"))
      .groupBy(col("cut"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("kept_chars"))
      .withColumn("keep_share", round(col("n_kept") / col("n_docs"), 4))
      .orderBy(col("cut"), col("source"))
  }

  // BM25 constants (Robertson k1/b defaults; the +1-inside-the-log idf is
  // Lucene's non-negative variant). The query mixes the corpus's one rare
  // term with two common ones so idf actually separates documents.
  private val Bm25Terms = Seq("dup", "vector", "spark")

  /** BM25 relevance ranking — corpus search scoring against a fixed query
    * term set (the retrieval step of a RAG / data-curation pipeline).
    *
    * Scale shape: the explode filters to the query terms IMMEDIATELY
    * (map-side, before any shuffle), so the (doc, term) aggregate moves at
    * most |docs|·|query| rows, never the token stream; document frequency
    * is a |query|-row aggregate over the collapsed tf table; corpus stats
    * (N, avgdl) are a single-row broadcast (q15's scalar pattern); the
    * top-k is TakeOrderedAndProject, never a global sort.
    *
    * Exactness: per-(doc, term) scores quantize to integer 1e4 units
    * (round half-up, the q90 discipline — ln is the one transcendental) so
    * the per-doc SUM is integer arithmetic, bit-reproducible cross-engine
    * regardless of aggregation order; `bm25_e4` stays a long in the
    * output.
    */
  private def q98(t: Tables): DataFrame = {
    val docs = withWords(t)
      .select(col("doc_id"), col("words"))
      .withColumn("dl", size(col("words")).cast("long"))
    // N and avgdl: long sum / long count in ONE division — both engines
    // produce the identical double
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("words")).as("term"))
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    // fixed association mirrored textually in the oracle: idf first, then
    // the saturation fraction, multiplied last
    val idf = log(
      ((col("n_docs") - col("df")) + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val sat = (col("tf").cast("double") * lit(2.2)) /
      (col("tf").cast("double") + (lit(1.2) * (lit(0.25) + ((lit(0.75) * col("dl")) / col("avgdl")))))
    tf.join(broadcast(dfreq), "term")
      .join(broadcast(stats))
      .withColumn("score_e4", round(idf * sat * 10000, 0).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_terms"), sum(col("score_e4")).as("bm25_e4"))
      .orderBy(col("bm25_e4").desc, col("doc_id"))
      .limit(20)
  }

  /** Query-likelihood retrieval with Dirichlet smoothing (Ponte & Croft
    * 1998; Zhai & Lafferty 2001's Bayesian-smoothing form, μ=2000 — the
    * LANGUAGE-MODEL ranking family's other classic next to q98's BM25:
    * same inverted-index shape, probabilistic scoring instead of
    * tf-idf saturation): for every document containing at least one
    * query term, score = Σ_{w∈Q} −ln p(w|d) with p(w|d) =
    * (tf + μ·cf_w/C)/(dl + μ) — MISSING query terms in a candidate doc
    * contribute their background (collection) probability, the
    * smoothing's whole point and what BM25's sum-over-hits cannot
    * express; top-20 by likelihood (ascending negative log), doc_id
    * tie-break.
    *
    * Exactness: p(w|d) is evaluated as the ratio of two EXACT longs —
    * (tf·C + μ·cf)/(C·(dl + μ)) — so both engines divide the same two
    * integers, take the suite's one transcendental (ln), and quantize
    * e3 per term half-up BEFORE the sum (q151's rule).
    *
    * Scale shape: tf and cf are vocab-/query-bounded aggs off one
    * exploded token stream (printed per consuming branch, AQE reuses —
    * q98's class); the candidate×term grid is |cands|·|Q| (query-
    * bounded, the declared dim-grid class) with cf/C broadcast; top-20
    * is TakeOrderedAndProject.
    */
  private def q259(t: Tables): DataFrame = {
    val mu = 2000L
    val docs = withWords(t)
      .select(col("doc_id"), col("words"))
      .withColumn("dl", size(col("words")).cast("long"))
    val toks = docs.select(col("doc_id"), col("dl"), explode(col("words")).as("term"))
    val totals = toks.agg(sum(lit(1L)).as("c_total"))
    val cf = toks
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("cf"))
    val tf = toks
      .filter(col("term").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    import t.spark.implicits._
    val qdf = Bm25Terms.map(Tuple1(_)).toDF("term")
    val cands = tf.select(col("doc_id")).distinct()
      .join(docs.select(col("doc_id"), col("dl")), "doc_id")
    cands
      .crossJoin(broadcast(qdf))
      .join(tf.select(col("doc_id"), col("term"), col("tf")), Seq("doc_id", "term"), "left")
      .join(broadcast(cf), Seq("term"))
      .join(broadcast(totals))
      .withColumn("tf0", coalesce(col("tf"), lit(0L)))
      .withColumn(
        "term_e3",
        expr(s"CAST(floor(-1000.0 * ln(CAST(tf0 * c_total + $mu * cf AS DOUBLE) " +
          s"/ CAST(c_total * (dl + $mu) AS DOUBLE)) + 0.5) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(
        sum(when(col("tf").isNotNull, 1L).otherwise(0L)).as("n_hit_terms"),
        sum(col("term_e3")).as("neg_log_ql_e3"))
      .orderBy(col("neg_log_ql_e3"), col("doc_id"))
      .limit(20)
  }

  /** Overlapping fixed-window chunking accounting — the RAG / context-
    * window prep step: every document splits into 32-word windows
    * advancing by 24 words (width 32 / stride 24 ⇒ 8
    * words of overlap carrying context across boundaries), and the rollup
    * prices that choice per source: chunk counts, the duplicated words the
    * overlap costs at storage/training time, and mean window fill.
    *
    * All integer math (chunk count and lengths are closed-form in
    * n_words), the explode materializes the chunk relation map-side next
    * to the scan, and ONE shuffle on source carries the rollup.
    */
  private def q99(t: Tables): DataFrame = {
    val w = 32
    val s = 24
    withWords(t)
      .select(col("doc_id"), col("source"), size(col("words")).as("n_words"))
      .withColumn(
        "n_chunks",
        when(col("n_words") <= w, 1)
          .otherwise(expr(s"CAST((n_words - $w + ${s - 1}) div $s AS INT) + 1")))
      .select(
        col("source"), col("n_words"), col("n_chunks"),
        explode(expr("sequence(0, n_chunks - 1)")).as("chunk_id"))
      .withColumn("chunk_len", least(lit(w), col("n_words") - col("chunk_id") * s).cast("long"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("chunk_id") === 0, 1L).otherwise(0L)).as("n_docs"),
        count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("total_chunk_words"),
        (sum(col("chunk_len")) - sum(when(col("chunk_id") === 0, col("n_words")).otherwise(0L)))
          .as("overlap_words"),
        max(col("n_chunks")).as("max_chunks_per_doc"),
        round(sum(col("chunk_len")) / (count(lit(1)) * w), 4).as("avg_fill"))
      .orderBy(col("source"))
  }

  // the entropy alphabet: the corpus is lowercase-ASCII word text, so the
  // 26 letters cover every non-space byte; rendered identically into both
  // engines' transform lists
  private val EntropyAlphabet = ('a' to 'z').map(_.toString)

  /** Character-entropy quality signal — Shannon entropy (nats) of each
    * document's letter distribution. Mojibake, binary spill, and
    * single-character spam all collapse the distribution (low entropy);
    * encrypted/compressed junk saturates it — a standard cheap filter
    * column next to q33/q81 in a quality gate.
    *
    * Per-letter counts come from the length-delta-of-replace idiom — 26
    * codegen'd string passes next to the scan, zero shuffle before the
    * source rollup. (At 100 TB a single-pass native histogram Expression
    * — ByteHistogram's shape with a 26-way bin — halves the scan CPU; the
    * replace form keeps the oracle bit-identical and the plan shape is
    * the same either way.) The entropy fold is an `aggregate` HOF with a
    * FIXED left-to-right order over the literal alphabet, mirrored by a
    * seeded list_reduce in DuckDB, so both engines accumulate the same
    * doubles in the same order; round-4 absorbs the ln ulp.
    */
  private def q100(t: Tables): DataFrame = {
    val alphaArr = s"array(${EntropyAlphabet.map(c => s"'$c'").mkString(", ")})"
    Tables.localSplit(t.documents, col("doc_id"))
      .select(col("doc_id"), col("source"), col("text"))
      .withColumn("cnts", expr(s"transform($alphaArr, c -> length(text) - length(replace(text, c, '')))"))
      .withColumn("total", expr("aggregate(cnts, 0L, (a, x) -> a + x)"))
      .withColumn(
        "entropy",
        expr(
          """round(aggregate(cnts, CAST(0.0 AS DOUBLE),
            |  (acc, c) -> acc + IF(c > 0,
            |    -((CAST(c AS DOUBLE) / total) * ln(CAST(c AS DOUBLE) / total)),
            |    CAST(0.0 AS DOUBLE))), 4)""".stripMargin))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("entropy")), 4).as("avg_entropy"),
        round(min(col("entropy")), 4).as("min_entropy"),
        round(max(col("entropy")), 4).as("max_entropy"),
        sum(when(col("entropy") < 2.9, 1L).otherwise(0L)).as("n_low"))
      .orderBy(col("source"))
  }

  /** DSIR-style importance scoring (Xie et al. 2023, data selection via
    * importance resampling): score every non-target document by how much
    * more likely its tokens are under the TARGET slice's unigram LM than
    * under the whole-corpus LM — the cheap proxy that selects "looks like
    * the target domain" data at corpus scale. The target slice is src0.
    *
    * Scale shape: both LMs are vocabulary-bounded aggregates (the q77
    * discipline — raw tokens collapse map-side before any shuffle);
    * corpus totals are a single-row broadcast (q15's scalar pattern); the
    * per-term weight table is vocabulary-sized and broadcasts onto the
    * exploded token stream, so the only corpus-scale shuffle is the
    * per-doc sum; top-20 is TakeOrderedAndProject. Three passes over
    * (source, text) — an LM build and a scoring pass are inherently
    * separate reads; each prunes to two columns.
    *
    * Exactness: Laplace-smoothed probs stay RATIONAL — the weight is one
    * ln of a ratio of exactly-representable integer products (products
    * < 2^53 at any SF here; at true 100-TB token counts the same weight
    * splits into ln-difference form), quantized to integer 1e-4 units
    * (round half-up, q90's discipline) so per-doc sums are long adds,
    * bit-reproducible cross-engine regardless of order.
    */
  private def q102(t: Tables): DataFrame = {
    val target = "src0"
    val tok = withWords(t)
      .select(col("doc_id"), col("source"), explode(col("words")).as("term"))
    val corpusLm = tok.groupBy(col("term")).agg(count(lit(1)).as("cc"))
    val targetLm = tok
      .filter(col("source") === target)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("ct"))
    // V (vocab), corpus tokens, target tokens: vocabulary-bounded aggs
    // collapsed to ONE scalar row, broadcast everywhere
    val scalars = corpusLm
      .agg(count(lit(1)).as("v"), sum(col("cc")).as("tc_total"))
      .join(broadcast(targetLm.agg(coalesce(sum(col("ct")), lit(0L)).as("tt_total"))))
    val weights = corpusLm
      .join(broadcast(targetLm), Seq("term"), "left")
      .join(broadcast(scalars))
      .withColumn(
        "w_e4",
        round(
          log(
            ((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") *
              (col("tc_total") + col("v")).cast("double")) /
              ((col("cc") + lit(1L)).cast("double") *
                (col("tt_total") + col("v")).cast("double"))) * 10000, 0)
          .cast("long"))
      .select(col("term"), col("w_e4"))
    tok
      .filter(col("source") =!= target)
      .join(broadcast(weights), Seq("term"))
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w_e4")).as("score_e4"))
      .orderBy(col("score_e4").desc, col("doc_id"))
      .limit(20)
  }

  /** Pearson chi-square independence audit (Pearson 1900) of the corpus's
    * language × source contingency table — the one-number answer to "do my
    * sources have materially different language mixes?" that the
    * per-source distributions (q65's corpus mix, q161's pairwise JSD)
    * never collapse to: per language, its document mass, its share of the
    * χ² statistic, and the source cell contributing most (the cell to
    * read first when the audit fires). The full R×C grid participates —
    * a (lang, source) cell with zero observed documents still carries
    * its expected-count term, exactly as the statistic requires.
    *
    * Exactness: the per-cell term (O−E)²/E rewrites to the all-integer
    * (O·N − R·C)²/(N·R·C); cross-products run in DECIMAL(38,0)
    * unconditionally because (O·N − R·C)² exceeds 2⁶³ already at sf0.1
    * (no conf gate — the overflow is reachable at tested scale, unlike
    * the q194-family guards). Each cell's term half-up-rounds to e4 ONCE
    * and the χ² pieces are integer sums of those — deterministic in both
    * engines. DECIMAL(38,0) bounds the audit at ~2·10⁸ documents — the
    * binding term is 2·10⁴·(O·N − R·C)² ≤ 10³⁸, i.e. |O·N − R·C| ≤
    * ~7·10¹⁶, and a worst-case skewed cell reaches |dnum| ≈ N·R (r16
    * review corrected the first ~10⁹ claim); past that the contingency
    * table is built from a stratified sample (a declared bound, not a
    * silent cap). Argmax source is the zero-padded
    * max-string pick. df = (R−1)(C−1) rides along for the reader.
    *
    * Scale shape: ONE corpus-scale partial-aggregable (lang, source)
    * count; marginals, the crossed grid (|langs|·|sources| rows), the
    * decimal arithmetic, and the rollup are all contingency-table-scale.
    */
  private def q206(t: Tables): DataFrame = {
    val cells = t.documents
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o"))
    val rowsM = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val colsM = cells.groupBy(col("source")).agg(sum(col("o")).as("cc"))
    val tot = cells.agg(
      sum(col("o")).as("n"),
      countDistinct(col("lang")).as("nl"),
      countDistinct(col("source")).as("ns"))
    rowsM
      .crossJoin(broadcast(colsM))
      .join(cells, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("o"))
      .join(broadcast(tot))
      .withColumn(
        "dnum",
        col("o").cast("decimal(38,0)") * col("n") - col("r").cast("decimal(38,0)") * col("cc"))
      .withColumn("den", col("n").cast("decimal(38,0)") * col("r") * col("cc"))
      .withColumn(
        "cell_e4",
        expr("CAST((2 * 10000 * dnum * dnum + den) DIV (2 * den) AS BIGINT)"))
      .withColumn(
        "pick",
        concat(lpad(col("cell_e4").cast("string"), 19, "0"), lit(":"), col("source")))
      .groupBy(col("lang"))
      .agg(
        max(col("r")).as("n_docs"),
        count(lit(1)).as("n_cells"),
        sum(col("cell_e4")).as("chi2_part_e4"),
        max(col("pick")).as("pick"),
        max((col("nl") - 1) * (col("ns") - 1)).as("df"))
      .withColumn("top_source", expr("substr(pick, 21)"))
      .withColumn("top_cell_e4", expr("CAST(substr(pick, 1, 19) AS BIGINT)"))
      .select(
        col("lang"), col("n_docs"), col("n_cells"), col("chi2_part_e4"),
        col("top_source"), col("top_cell_e4"), col("df"))
      .orderBy(col("lang"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q206_chi_square" -> ((s, d) => q206(Tables(s, d))),
    "q102_dsir" -> ((s, d) => q102(Tables(s, d))),
    "q98_bm25" -> ((s, d) => q98(Tables(s, d))),
    "q259_ql_dirichlet" -> ((s, d) => q259(Tables(s, d))),
    "q264_min_k_prob" -> ((s, d) => q264(Tables(s, d))),
    "q99_doc_chunks" -> ((s, d) => q99(Tables(s, d))),
    "q100_char_entropy" -> ((s, d) => q100(Tables(s, d))),
    "q80_seq_pack" -> ((s, d) => q80(Tables(s, d))),
    "q84_quality_gate" -> ((s, d) => q84(Tables(s, d))),
    "q105_winnow" -> ((s, d) => q105(Tables(s, d))),
    "q106_curation_funnel" -> ((s, d) => q106(Tables(s, d))),
    "q111_cluster_quality" -> ((s, d) => q111(Tables(s, d))),
    "q114_gate_sweep" -> ((s, d) => q114(Tables(s, d))),
    "q81_repetition" -> ((s, d) => q81(Tables(s, d))),
    "q76_heavy_hitters" -> ((s, d) => q76(Tables(s, d))),
    "q77_bigram_lm" -> ((s, d) => q77(Tables(s, d))),
    "q72_pii_scrub" -> ((s, d) => q72(Tables(s, d))),
    "q97_rare_bigrams" -> ((s, d) => q97(Tables(s, d))),
    "q118_bpe_pairs" -> ((s, d) => q118(Tables(s, d))),
    "q90_tfidf" -> ((s, d) => q90(Tables(s, d))),
    "q91_length_outliers" -> ((s, d) => q91(Tables(s, d))),
    "q30_text_stats" -> ((s, d) => q30(Tables(s, d))),
    "q31_lang_id" -> ((s, d) => q31(Tables(s, d))),
    "q32_token_count" -> ((s, d) => q32(Tables(s, d))),
    "q33_quality_score" -> ((s, d) => q33(Tables(s, d))),
    "q34_doc_fingerprint" -> ((s, d) => q34(Tables(s, d))),
    "q121_token_rarity" -> ((s, d) => q121(Tables(s, d))),
    "q130_cms_calibration" -> ((s, d) => q130(Tables(s, d))),
    "q135_tokenizer_fertility" -> ((s, d) => q135(Tables(s, d))),
    "q139_pmi" -> ((s, d) => q139(Tables(s, d))),
    "q144_score_calibration" -> ((s, d) => q144(Tables(s, d))),
    "q270_isotonic_calibration" -> ((s, d) => q270(Tables(s, d))),
    "q274_quantile_norm" -> ((s, d) => q274(Tables(s, d))),
    "q136_vocab_coverage" -> ((s, d) => q136(Tables(s, d))),
    "q123_quality_keep" -> ((s, d) => q123(Tables(s, d))),
    "q126_pack_sweep" -> ((s, d) => q126(Tables(s, d))),
    "q151_lm_ppl_bins" -> ((s, d) => q151(Tables(s, d))),
    "q152_distinct_ngrams" -> ((s, d) => q152(Tables(s, d))),
    "q155_token_burstiness" -> ((s, d) => q155(Tables(s, d))),
    "q159_context_entropy" -> ((s, d) => q159(Tables(s, d))),
    "q160_zipf_slope" -> ((s, d) => q160(Tables(s, d))),
    "q161_source_jsd" -> ((s, d) => q161(Tables(s, d))),
    "q163_token_gini" -> ((s, d) => q163(Tables(s, d))),
    "q167_good_turing" -> ((s, d) => q167(Tables(s, d))),
    "q168_heaps_law" -> ((s, d) => q168(Tables(s, d))),
    "q177_top_prefixes" -> ((s, d) => q177(Tables(s, d))),
    "q179_char_classes" -> ((s, d) => q179(Tables(s, d))),
    "q185_mattr" -> ((s, d) => q185(Tables(s, d))),
    "q186_length_tail" -> ((s, d) => q186(Tables(s, d))),
    "q194_ks_drift" -> ((s, d) => q194(Tables(s, d))),
    "q197_length_quantiles" -> ((s, d) => q197(Tables(s, d))),
    "q280_conformal_coverage" -> ((s, d) => q280(Tables(s, d))),
    "q231_robust_outliers" -> ((s, d) => q231(Tables(s, d))),
    "q235_byte_percentiles" -> ((s, d) => q235(Tables(s, d))),
    "q238_cohens_kappa" -> ((s, d) => q238(Tables(s, d))),
    "q239_mann_whitney" -> ((s, d) => q239(Tables(s, d))),
    "q164_kn_continuation" -> ((s, d) => q164(Tables(s, d)))
  )

  // The q33/q84 gate inputs (score + repetition ratio) as shared CTEs —
  // one SQL fragment for every oracle that applies the gate (q84, q106),
  // mirroring the shared withQualityScore/withRepRatio expression tree on
  // the Spark side so the operators cannot drift in either engine.
  private val gateCtesSql =
    s"""w AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS words, md5(text) AS h FROM documents),
       | s AS (
       | SELECT doc_id, source, n_chars, h,
       |  round(
       |   least(len(words) / 100.0, 1.0) * 0.5
       |    + (len(list_filter(words, x -> x IN ($stopSqlIn))) / len(words)) * 2.0
       |    + CASE WHEN n_chars >= 100 THEN 0.2 ELSE 0.0 END, 4) AS score,
       |  CAST(greatest(len(words) - 2, 0) AS BIGINT) AS total_sh,
       |  CAST(len(list_distinct(list_transform(range(1, len(words) - 1),
       |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS BIGINT) AS distinct_sh
       | FROM w),
       | r AS (
       | SELECT doc_id, source, n_chars, h, score,
       |  CASE WHEN total_sh > 0 THEN 1.0 - distinct_sh / total_sh ELSE 0.0 END AS rep_ratio
       | FROM s)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q206_chi_square" ->
      """WITH cells AS (
        | SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
        | rm AS (SELECT lang, sum(o) AS r FROM cells GROUP BY 1),
        | cm AS (SELECT source, sum(o) AS cc FROM cells GROUP BY 1),
        | tot AS (
        | SELECT sum(o) AS n, count(DISTINCT lang) AS nl,
        |  count(DISTINCT source) AS ns
        | FROM cells),
        | grid AS (
        | SELECT rm.lang, cm.source, rm.r, cm.cc, coalesce(c.o, 0) AS o,
        |  t.n, t.nl, t.ns
        | FROM rm CROSS JOIN cm
        | LEFT JOIN cells c ON c.lang = rm.lang AND c.source = cm.source
        | CROSS JOIN tot t),
        | terms AS (
        | SELECT lang, source, r, nl, ns,
        |  (2 * 10000 * (o * n - r * cc) * (o * n - r * cc) + n * r * cc)
        |   // (2 * n * r * cc) AS cell_e4
        | FROM grid)
        |SELECT lang, CAST(max(r) AS BIGINT) AS n_docs, count(*) AS n_cells,
        | CAST(sum(cell_e4) AS BIGINT) AS chi2_part_e4,
        | substr(max(concat(lpad(CAST(cell_e4 AS VARCHAR), 19, '0'), ':', source)), 21)
        |  AS top_source,
        | CAST(substr(max(concat(lpad(CAST(cell_e4 AS VARCHAR), 19, '0'), ':', source)),
        |  1, 19) AS BIGINT) AS top_cell_e4,
        | CAST(max((nl - 1) * (ns - 1)) AS BIGINT) AS df
        |FROM terms GROUP BY lang ORDER BY lang""".stripMargin,
    "q280_conformal_coverage" ->
      """WITH d AS (
        | SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len,
        |  ((doc_id % 2147483647) * 2654435761) % 100 < 50 AS cal
        | FROM documents),
        | c AS (SELECT * FROM d WHERE cal),
        | cc AS (SELECT source, count(*) AS n_cal FROM c GROUP BY 1),
        | cr AS (
        | SELECT source, len,
        |  row_number() OVER (PARTITION BY source ORDER BY len, doc_id) AS rn
        | FROM c),
        | med AS (
        | SELECT cr.source, len AS med
        | FROM cr JOIN cc ON cc.source = cr.source WHERE rn = (n_cal + 1) // 2),
        | cs AS (
        | SELECT c.source, c.doc_id, abs(len - med) AS score
        | FROM c JOIN med ON med.source = c.source),
        | sr AS (
        | SELECT source, score,
        |  row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rn
        | FROM cs),
        | qh AS (
        | SELECT sr.source, score AS qhat
        | FROM sr JOIN cc ON cc.source = sr.source
        | WHERE rn = ((n_cal + 1) * 9 + 9) // 10),
        | agg AS (
        | SELECT d.source, count(*) AS n_test,
        |  CAST(sum(CASE WHEN qh.qhat IS NULL OR abs(len - med) <= qh.qhat
        |    THEN 1 ELSE 0 END) AS BIGINT) AS covered
        | FROM d
        | JOIN med ON med.source = d.source
        | LEFT JOIN qh ON qh.source = d.source
        | WHERE NOT cal GROUP BY 1)
        |SELECT a.source, n_cal, n_test, med,
        | CAST(coalesce(qhat, -1) AS BIGINT) AS qhat, covered,
        | CAST((2 * 1000000 * covered + n_test) // (2 * n_test) AS BIGINT) AS coverage_e6
        |FROM agg a
        |JOIN cc ON cc.source = a.source
        |JOIN med ON med.source = a.source
        |LEFT JOIN qh ON qh.source = a.source
        |ORDER BY a.source""".stripMargin,
    "q197_length_quantiles" ->
      """WITH c AS (
        | SELECT source, n_chars AS len, count(*) AS c FROM documents GROUP BY 1, 2),
        | w AS (
        | SELECT source, len, c,
        |  CAST(sum(c) OVER (PARTITION BY source ORDER BY len
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        | FROM c),
        | x AS (
        | SELECT source, len, cum, n, unnest([25, 50, 75, 95]) AS p FROM w),
        | hit AS (SELECT * FROM x WHERE cum >= (p * n + 99) // 100)
        |SELECT source, max(n) AS n_docs,
        | min(CASE WHEN p = 25 THEN len END) AS p25,
        | min(CASE WHEN p = 50 THEN len END) AS p50,
        | min(CASE WHEN p = 75 THEN len END) AS p75,
        | min(CASE WHEN p = 95 THEN len END) AS p95,
        | min(CASE WHEN p = 75 THEN len END) - min(CASE WHEN p = 25 THEN len END) AS iqr
        |FROM hit GROUP BY source ORDER BY source""".stripMargin,
    "q239_mann_whitney" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        | lens AS (SELECT n_chars AS len, count(*) AS c_all FROM d GROUP BY 1),
        | cl AS (
        | SELECT len, c_all,
        |  CAST(sum(c_all) OVER (ORDER BY len
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
        | FROM lens),
        | sl AS (SELECT source, n_chars AS len, count(*) AS c_src FROM d GROUP BY 1, 2),
        | src AS (SELECT source, count(*) AS n_src FROM d GROUP BY 1),
        | tot AS (SELECT count(*) AS n_all FROM d),
        | grid AS (
        | SELECT source, n_src, len, c_all, cum_all, COALESCE(c_src, 0) AS c_src
        | FROM src CROSS JOIN cl LEFT JOIN sl USING (source, len)),
        | cum AS (
        | SELECT source, n_src, len, c_all, cum_all, c_src,
        |  CAST(sum(c_src) OVER (PARTITION BY source ORDER BY len
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_src
        | FROM grid),
        | u AS (
        | SELECT source, max(n_src) AS n_src,
        |  max((SELECT n_all FROM tot) - n_src) AS n_rest,
        |  CAST(sum(c_src * (2 * (cum_all - cum_src - (c_all - c_src))
        |   + (c_all - c_src))) AS BIGINT) AS two_u
        | FROM cum GROUP BY 1)
        |SELECT source, n_src, n_rest, two_u,
        | (1000000 * two_u + n_src * n_rest) // (2 * n_src * n_rest) AS superiority_e6,
        | CAST(CASE WHEN two_u > n_src * n_rest THEN 1
        |  WHEN two_u < n_src * n_rest THEN -1 ELSE 0 END AS BIGINT) AS longer
        |FROM u ORDER BY source""".stripMargin,
    "q238_cohens_kappa" ->
      """WITH w AS (SELECT source, lang, string_split(text, ' ') AS words FROM documents),
        | s AS (SELECT source, lang,
        |  len(list_filter(words, x -> x IN ('the','a','of','and','is'))) AS en_s,
        |  len(list_filter(words, x -> x IN ('el','la','de','y','es'))) AS es_s,
        |  len(list_filter(words, x -> x IN ('der','die','das','und','ist'))) AS de_s,
        |  len(list_filter(words, x -> x IN ('le','la','de','et','est'))) AS fr_s
        | FROM w),
        | p AS (SELECT source, lang,
        |  CASE WHEN en_s >= es_s AND en_s >= de_s AND en_s >= fr_s AND en_s > 0 THEN 'en'
        |       WHEN es_s >= de_s AND es_s >= fr_s AND es_s > 0 THEN 'es'
        |       WHEN de_s >= fr_s AND de_s > 0 THEN 'de'
        |       WHEN fr_s > 0 THEN 'fr'
        |       ELSE 'und' END AS predicted
        | FROM s),
        | cells AS (SELECT source, lang, predicted, count(*) AS c FROM p GROUP BY 1, 2, 3),
        | st AS (
        | SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN lang = predicted THEN c ELSE 0 END) AS BIGINT) AS n_agree
        | FROM cells GROUP BY 1),
        | r AS (SELECT source, lang, CAST(sum(c) AS BIGINT) AS rn FROM cells GROUP BY 1, 2),
        | cl AS (SELECT source, predicted, CAST(sum(c) AS BIGINT) AS cn
        |  FROM cells GROUP BY 1, 2),
        | rcj AS (
        | SELECT r.source, CAST(sum(rn * cn) AS BIGINT) AS rc
        | FROM r JOIN cl ON cl.source = r.source AND cl.predicted = r.lang GROUP BY 1),
        | k AS (
        | SELECT st.source, n_docs, n_agree,
        |  coalesce(rc, 0) AS rc, n_docs * n_docs AS nn,
        |  n_docs * n_agree - coalesce(rc, 0) AS knum,
        |  n_docs * n_docs - coalesce(rc, 0) AS kden
        | FROM st LEFT JOIN rcj ON rcj.source = st.source)
        |SELECT source, n_docs, n_agree,
        | (2 * 10000 * n_agree + n_docs) // (2 * n_docs) AS po_e4,
        | (2 * 10000 * rc + nn) // (2 * nn) AS pe_e4,
        | CASE WHEN kden = 0 THEN 0
        |  WHEN knum < 0 THEN -((2 * 10000 * -knum + kden) // (2 * kden))
        |  ELSE (2 * 10000 * knum + kden) // (2 * kden) END AS kappa_e4
        |FROM k ORDER BY source""".stripMargin,
    "q235_byte_percentiles" ->
      """WITH h AS (
        | SELECT source, n_chars AS len, count(*) AS c FROM documents GROUP BY 1, 2),
        | hm AS (SELECT source, len, c, c * len AS mass FROM h),
        | w AS (
        | SELECT source, len, mass,
        |  CAST(sum(mass) OVER (PARTITION BY source ORDER BY len
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(mass) OVER (PARTITION BY source) AS BIGINT) AS tot,
        |  CAST(sum(c) OVER (PARTITION BY source ORDER BY len
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ccum,
        |  CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        | FROM hm),
        | picks AS (
        | SELECT source, max(n) AS n_docs, max(tot) AS total_chars,
        |  min(CASE WHEN 2 * ccum >= n THEN len END) AS med_len,
        |  min(CASE WHEN 2 * cum >= tot THEN len END) AS bytep50_len,
        |  min(CASE WHEN 10 * cum >= 9 * tot THEN len END) AS bytep90_len
        | FROM w GROUP BY 1),
        | hv AS (
        | SELECT hm.source,
        |  CAST(sum(CASE WHEN len > med_len THEN mass ELSE 0 END) AS BIGINT) AS heavy
        | FROM hm JOIN picks ON hm.source = picks.source GROUP BY 1)
        |SELECT picks.source, n_docs, total_chars, med_len, bytep50_len, bytep90_len,
        | (2 * 10000 * heavy + total_chars) // (2 * total_chars) AS heavy_mass_e4
        |FROM picks JOIN hv ON picks.source = hv.source
        |ORDER BY picks.source""".stripMargin,
    "q231_robust_outliers" ->
      """WITH h AS (
        | SELECT source, n_chars AS len, count(*) AS c FROM documents GROUP BY 1, 2),
        | hw AS (
        | SELECT source, len, c,
        |  CAST(sum(c) OVER (PARTITION BY source ORDER BY len
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        | FROM h),
        | med AS (
        | SELECT source, min(len) AS med FROM hw
        | WHERE cum >= (50 * n + 99) // 100 GROUP BY source),
        | ah AS (
        | SELECT h.source, abs(len - med) AS ad, CAST(sum(c) AS BIGINT) AS c,
        |  max(med) AS med
        | FROM h JOIN med ON h.source = med.source GROUP BY 1, 2),
        | aw AS (
        | SELECT source, ad, c,
        |  CAST(sum(c) OVER (PARTITION BY source ORDER BY ad
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
        |  CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        | FROM ah),
        | mad AS (
        | SELECT source, min(ad) AS mad FROM aw
        | WHERE cum >= (50 * n + 99) // 100 GROUP BY source)
        |SELECT ah.source, CAST(sum(c) AS BIGINT) AS n_docs,
        | max(med) AS median_len, max(mad) AS mad,
        | CAST(sum(CASE WHEN 2 * ad > 3 * mad THEN c ELSE 0 END) AS BIGINT) AS out_15mad,
        | CAST(sum(CASE WHEN ad > 2 * mad THEN c ELSE 0 END) AS BIGINT) AS out_20mad,
        | (2 * 10000 * CAST(sum(CASE WHEN 2 * ad > 3 * mad THEN c ELSE 0 END) AS BIGINT)
        |  + CAST(sum(c) AS BIGINT)) // (2 * CAST(sum(c) AS BIGINT)) AS out15_share_e4,
        | max(ad) AS max_abs_dev
        |FROM ah JOIN mad ON ah.source = mad.source
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q194_ks_drift" ->
      """WITH d AS (SELECT source, n_chars FROM documents),
        | lens AS (
        | SELECT n_chars AS len, count(*) AS c_all FROM d GROUP BY 1),
        | cl AS (
        | SELECT len, c_all,
        |  CAST(sum(c_all) OVER (ORDER BY len
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_all
        | FROM lens),
        | sl AS (SELECT source, n_chars AS len, count(*) AS c_src FROM d GROUP BY 1, 2),
        | src AS (SELECT source, count(*) AS n_src FROM d GROUP BY 1),
        | tot AS (SELECT count(*) AS n_all FROM d),
        | grid AS (
        | SELECT source, n_src, len, cum_all, COALESCE(c_src, 0) AS c_src
        | FROM src CROSS JOIN cl LEFT JOIN sl USING (source, len)),
        | cum AS (
        | SELECT source, n_src, len, cum_all,
        |  CAST(sum(c_src) OVER (PARTITION BY source ORDER BY len
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_src
        | FROM grid),
        | pts AS (
        | SELECT source, n_src, n_all,
        |  cum_src * (n_all - n_src) - (cum_all - cum_src) * n_src AS num,
        |  lpad(CAST(abs(cum_src * (n_all - n_src) - (cum_all - cum_src) * n_src)
        |    AS VARCHAR), 19, '0')
        |   || ':' || lpad(CAST(len AS VARCHAR), 10, '0')
        |   || ':' || (CASE WHEN cum_src * (n_all - n_src) - (cum_all - cum_src) * n_src > 0
        |        THEN '+' WHEN cum_src * (n_all - n_src) - (cum_all - cum_src) * n_src < 0
        |        THEN '-' ELSE '0' END) AS pick
        | FROM cum, tot),
        | agg AS (
        | SELECT source, max(n_src) AS n_docs, max(n_all - n_src) AS n_rest,
        |  max(pick) AS pick
        | FROM pts GROUP BY source)
        |SELECT source, n_docs,
        | CAST((2 * 1000000 * CAST(substr(pick, 1, 19) AS BIGINT) + n_docs * n_rest)
        |  // (2 * n_docs * n_rest) AS BIGINT) AS ks_e6,
        | CAST(substr(pick, 21, 10) AS BIGINT) AS at_len,
        | CAST(CASE substr(pick, 32, 1) WHEN '+' THEN 1 WHEN '-' THEN -1 ELSE 0 END
        |  AS BIGINT) AS heavier_below
        |FROM agg ORDER BY source""".stripMargin,
    "q274_quantile_norm" ->
      """WITH d AS (
        | SELECT doc_id, source, CAST(length(text) AS BIGINT) AS len FROM documents),
        | na AS (SELECT CAST(count(*) AS BIGINT) AS n_all, CAST(sum(len) AS BIGINT) AS sum_all FROM d),
        | ss AS (
        | SELECT source, CAST(count(*) AS BIGINT) AS n_src, CAST(sum(len) AS BIGINT) AS sum_src
        | FROM d GROUP BY 1),
        | ph AS (SELECT len, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1),
        | pc AS (SELECT len, cnt, CAST(sum(cnt) OVER (ORDER BY len) AS BIGINT) AS cum FROM ph),
        | rk AS (
        | SELECT d.source, row_number() OVER (PARTITION BY d.source ORDER BY len, doc_id) AS r,
        |  n_src, n_all
        | FROM d JOIN ss ON ss.source = d.source CROSS JOIN na),
        | norm AS (
        | SELECT rk.source, pc.len AS nlen
        | FROM rk JOIN pc
        |  ON ((2 * r - 1) * n_all + 2 * n_src - 1) // (2 * n_src) > pc.cum - pc.cnt
        |  AND ((2 * r - 1) * n_all + 2 * n_src - 1) // (2 * n_src) <= pc.cum),
        | grid_b AS (
        | SELECT ss.source, ss.n_src, pc.len, pc.cum,
        |  CAST(coalesce(h.c, 0) AS BIGINT) AS c
        | FROM ss CROSS JOIN pc
        | LEFT JOIN (SELECT source, len, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2) h
        |  ON h.source = ss.source AND h.len = pc.len),
        | ks_b AS (
        | SELECT source,
        |  CAST((2 * 1000000 * max(abs(cum_src * n_all - cum * n_src))
        |    + max(n_src) * max(n_all)) // (2 * max(n_src) * max(n_all)) AS BIGINT)
        |   AS ks_before_e6
        | FROM (SELECT source, n_src, cum, n_all,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY len) AS BIGINT) AS cum_src
        |   FROM grid_b CROSS JOIN na)
        | GROUP BY 1),
        | grid_a AS (
        | SELECT ss.source, ss.n_src, pc.len, pc.cum,
        |  CAST(coalesce(h.c, 0) AS BIGINT) AS c
        | FROM ss CROSS JOIN pc
        | LEFT JOIN (SELECT source, nlen AS len, CAST(count(*) AS BIGINT) AS c
        |   FROM norm GROUP BY 1, 2) h
        |  ON h.source = ss.source AND h.len = pc.len),
        | ks_a AS (
        | SELECT source,
        |  CAST((2 * 1000000 * max(abs(cum_src * n_all - cum * n_src))
        |    + max(n_src) * max(n_all)) // (2 * max(n_src) * max(n_all)) AS BIGINT)
        |   AS ks_after_e6
        | FROM (SELECT source, n_src, cum, n_all,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY len) AS BIGINT) AS cum_src
        |   FROM grid_a CROSS JOIN na)
        | GROUP BY 1),
        | nm AS (
        | SELECT source,
        |  CAST((2 * 1000 * sum(nlen) + count(*)) // (2 * count(*)) AS BIGINT) AS norm_mean_e3
        | FROM norm GROUP BY 1)
        |SELECT ss.source, n_src AS n_docs,
        | (2 * 1000 * sum_src + n_src) // (2 * n_src) AS mean_e3,
        | norm_mean_e3,
        | (2 * 1000 * sum_all + n_all) // (2 * n_all) AS pooled_mean_e3,
        | ks_before_e6, ks_after_e6
        |FROM ss CROSS JOIN na
        |JOIN nm ON nm.source = ss.source
        |JOIN ks_b ON ks_b.source = ss.source
        |JOIN ks_a ON ks_a.source = ss.source
        |ORDER BY ss.source""".stripMargin,
    "q270_isotonic_calibration" ->
      s"""WITH $gateCtesSql,
         | d AS (
         | SELECT CAST(least(floor(score / 0.125), 15) AS BIGINT) AS bin,
         |  CAST(floor(rep_ratio * 1000000 + 0.5) AS BIGINT) AS rep_e6
         | FROM r),
         | bins AS (
         | SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(rep_e6) AS BIGINT) AS pos
         | FROM d GROUP BY 1),
         | pre AS (
         | SELECT bin, n_docs, pos,
         |  CAST(sum(n_docs) OVER (ORDER BY bin) AS BIGINT) AS cumn,
         |  CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cump
         | FROM bins),
         | ive AS (
         | SELECT a.bin AS j, b.bin AS k,
         |  (2 * 1000 * (b.cump - a.cump + a.pos) + (b.cumn - a.cumn + a.n_docs))
         |    // (2 * (b.cumn - a.cumn + a.n_docs)) AS a_e9
         | FROM pre a JOIN pre b ON a.bin <= b.bin),
         | fit AS (
         | SELECT i, max(mn) AS iso_rep_e9 FROM (
         |  SELECT bins.bin AS i, ive.j, min(a_e9) AS mn
         |  FROM ive JOIN bins ON ive.j <= bins.bin AND bins.bin <= ive.k
         |  GROUP BY 1, 2)
         | GROUP BY 1)
         |SELECT bin, n_docs,
         | (2 * 1000 * pos + n_docs) // (2 * n_docs) AS raw_rep_e9,
         | iso_rep_e9,
         | (2 * 1000 * pos + n_docs) // (2 * n_docs) <> iso_rep_e9 AS pooled
         |FROM bins JOIN fit ON fit.i = bins.bin ORDER BY bin""".stripMargin,
    "q144_score_calibration" ->
      s"""WITH $gateCtesSql,
         | b AS (
         | SELECT h, CAST(least(floor(score / 0.25), 7) AS BIGINT) AS bucket,
         |  CASE WHEN n_chars >= 50 AND rep_ratio <= 0.2 AND score >= 0.45
         |       THEN 1 ELSE 0 END AS kept
         | FROM r),
         | g AS (SELECT h, count(*) AS n_copies FROM w GROUP BY h),
         | j AS (SELECT bucket, kept, n_copies FROM b JOIN g USING (h))
         |SELECT bucket, count(*) AS n_docs,
         | CAST(sum(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         | CAST(sum(kept) AS BIGINT) AS n_kept,
         | round(sum(CASE WHEN n_copies >= 2 THEN 1 ELSE 0 END) / count(*), 4) AS dup_share,
         | round(sum(kept) / count(*), 4) AS keep_share
         |FROM j GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q102_dsir" ->
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS term FROM documents),
        | cc AS (SELECT term, count(*) AS cc FROM tok GROUP BY term),
        | tc AS (SELECT term, count(*) AS ct FROM tok WHERE source = 'src0' GROUP BY term),
        | sc AS (SELECT count(*) AS v, CAST(sum(cc) AS BIGINT) AS tc_total FROM cc),
        | st AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS tt_total FROM tc),
        | w AS (
        |  SELECT cc.term,
        |   CAST(round(ln(
        |     (CAST(coalesce(ct, 0) + 1 AS DOUBLE) * CAST(tc_total + v AS DOUBLE)) /
        |     (CAST(cc + 1 AS DOUBLE) * CAST(tt_total + v AS DOUBLE))) * 10000, 0) AS BIGINT) AS w_e4
        |  FROM cc LEFT JOIN tc ON tc.term = cc.term CROSS JOIN sc CROSS JOIN st)
        |SELECT doc_id, source, count(*) AS n_tokens,
        | CAST(sum(w_e4) AS BIGINT) AS score_e4
        |FROM tok JOIN w ON w.term = tok.term
        |WHERE source <> 'src0'
        |GROUP BY doc_id, source
        |ORDER BY score_e4 DESC, doc_id LIMIT 20""".stripMargin,
    "q98_bm25" -> {
      val qIn = Bm25Terms.map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         | stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM w),
         | tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         | tf AS (
         |  SELECT tok.doc_id, tok.term, count(*) AS tf, max(w.dl) AS dl
         |  FROM tok JOIN w ON w.doc_id = tok.doc_id
         |  WHERE tok.term IN ($qIn)
         |  GROUP BY tok.doc_id, tok.term),
         | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         | s AS (
         |  SELECT tf.doc_id,
         |   CAST(round(
         |     ln(((n_docs - df) + 0.5) / (df + 0.5) + 1.0) *
         |     ((CAST(tf AS DOUBLE) * 2.2) /
         |      (CAST(tf AS DOUBLE) + (1.2 * (0.25 + ((0.75 * dl) / avgdl)))))
         |     * 10000, 0) AS BIGINT) AS score_e4
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
         |SELECT doc_id, count(*) AS n_hit_terms,
         | CAST(sum(score_e4) AS BIGINT) AS bm25_e4
         |FROM s GROUP BY doc_id
         |ORDER BY bm25_e4 DESC, doc_id LIMIT 20""".stripMargin
    },
    "q259_ql_dirichlet" -> {
      val qIn = Bm25Terms.map(w => s"'$w'").mkString(", ")
      s"""WITH w AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
         | tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
         | tot AS (SELECT CAST(count(*) AS BIGINT) AS c_total FROM tok),
         | cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tok
         |        WHERE term IN ($qIn) GROUP BY 1),
         | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
         |        WHERE term IN ($qIn) GROUP BY 1, 2),
         | cands AS (SELECT DISTINCT tf.doc_id, w.dl FROM tf JOIN w USING (doc_id)),
         | grid AS (SELECT cands.doc_id, cands.dl, cf.term, cf.cf
         |          FROM cands CROSS JOIN cf),
         | sc AS (
         | SELECT grid.doc_id, tf.tf,
         |  CAST(floor(-1000.0 * ln(
         |    CAST(coalesce(tf.tf, 0) * c_total + 2000 * grid.cf AS DOUBLE)
         |    / CAST(c_total * (grid.dl + 2000) AS DOUBLE)) + 0.5) AS BIGINT) AS term_e3
         | FROM grid
         | LEFT JOIN tf ON tf.doc_id = grid.doc_id AND tf.term = grid.term
         | CROSS JOIN tot)
         |SELECT doc_id,
         | CAST(sum(CASE WHEN tf IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_terms,
         | CAST(sum(term_e3) AS BIGINT) AS neg_log_ql_e3
         |FROM sc GROUP BY 1
         |ORDER BY neg_log_ql_e3, doc_id LIMIT 20""".stripMargin
    },
    "q99_doc_chunks" ->
      """WITH w AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_words FROM documents),
        | c AS (SELECT doc_id, source, n_words,
        |   CASE WHEN n_words <= 32 THEN 1
        |        ELSE CAST((n_words - 32 + 23) // 24 AS INTEGER) + 1 END AS n_chunks
        |  FROM w),
        | x AS (SELECT source, n_words, n_chunks,
        |   unnest(range(0, n_chunks)) AS chunk_id FROM c),
        | y AS (SELECT source, n_words, n_chunks, chunk_id,
        |   CAST(least(32, n_words - chunk_id * 24) AS BIGINT) AS chunk_len FROM x)
        |SELECT source,
        | CAST(sum(CASE WHEN chunk_id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
        | count(*) AS n_chunks,
        | CAST(sum(chunk_len) AS BIGINT) AS total_chunk_words,
        | CAST(sum(chunk_len) - sum(CASE WHEN chunk_id = 0 THEN n_words ELSE 0 END) AS BIGINT)
        |   AS overlap_words,
        | CAST(max(n_chunks) AS INTEGER) AS max_chunks_per_doc,
        | round(sum(chunk_len) / (count(*) * 32), 4) AS avg_fill
        |FROM y GROUP BY source ORDER BY source""".stripMargin,
    "q100_char_entropy" -> {
      val alphaList = s"[${EntropyAlphabet.map(c => s"'$c'").mkString(", ")}]"
      s"""WITH c AS (
         | SELECT doc_id, source,
         |  list_transform($alphaList,
         |    ch -> length(text) - length(replace(text, ch, ''))) AS cnts
         | FROM documents),
         | tot AS (SELECT doc_id, source, cnts,
         |   list_reduce([0] || cnts, (a, x) -> a + x) AS total FROM c),
         | e AS (
         |  SELECT source, round(list_reduce(
         |    [0.0] || list_transform(cnts,
         |      ch -> CASE WHEN ch > 0
         |        THEN -((CAST(ch AS DOUBLE) / total) * ln(CAST(ch AS DOUBLE) / total))
         |        ELSE 0.0 END),
         |    (acc, x) -> acc + x), 4) AS entropy
         |  FROM tot)
         |SELECT source, count(*) AS n_docs,
         | round(avg(entropy), 4) AS avg_entropy,
         | round(min(entropy), 4) AS min_entropy,
         | round(max(entropy), 4) AS max_entropy,
         | CAST(sum(CASE WHEN entropy < 2.9 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
         |FROM e GROUP BY source ORDER BY source""".stripMargin
    },
    "q118_bpe_pairs" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        | wf AS (SELECT w, count(*) AS freq FROM tok WHERE w <> '' GROUP BY w),
        | pr AS (
        |  SELECT freq,
        |   unnest(list_transform(range(1, length(w)),
        |     i -> {'c1': substring(w, i, 1), 'c2': substring(w, i + 1, 1)})) AS p
        |  FROM wf WHERE length(w) >= 2),
        | pc AS (SELECT p.c1 AS c1, p.c2 AS c2, CAST(sum(freq) AS BIGINT) AS pair_count
        |   FROM pr GROUP BY 1, 2)
        |SELECT c1, c2, pair_count,
        | CAST(row_number() OVER (ORDER BY pair_count DESC, c1, c2) AS BIGINT) AS pair_rank
        |FROM pc ORDER BY pair_count DESC, c1, c2 LIMIT 50""".stripMargin,
    "q97_rare_bigrams" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
        | bg AS (
        |  SELECT doc_id, source,
        |   unnest(list_transform(range(1, len(words)),
        |     i -> {'w1': words[i], 'w2': words[i + 1]})) AS b
        |  FROM w),
        | p AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bg
        |   WHERE b.w1 <> '' AND b.w2 <> ''),
        | cc AS (SELECT w1, w2, count(*) AS n_corpus FROM p GROUP BY w1, w2),
        | d AS (
        |  SELECT p.source, p.doc_id, count(*) AS n_bigrams,
        |   CAST(sum(CASE WHEN cc.n_corpus < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |  FROM p JOIN cc USING (w1, w2)
        |  GROUP BY p.source, p.doc_id)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_bigrams) AS BIGINT) AS total_bigrams,
        | CAST(sum(n_rare) AS BIGINT) AS rare_bigrams,
        | round(sum(n_rare) / sum(n_bigrams), 4) AS rare_ratio,
        | CAST(sum(CASE WHEN n_rare * 10 > n_bigrams * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q90_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        | tf AS (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term <> '' GROUP BY doc_id, term),
        | dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        | n AS (SELECT count(*) AS n_docs FROM documents),
        | s AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |   round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        | r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM s)
        |SELECT doc_id, term, tf, df, tfidf
        |FROM r WHERE rn <= 3 ORDER BY doc_id, tfidf DESC, term""".stripMargin,
    "q91_length_outliers" ->
      """WITH b AS (
        | SELECT source, n_chars,
        |  quantile_cont(n_chars, 0.05) OVER (PARTITION BY source) AS p05,
        |  quantile_cont(n_chars, 0.95) OVER (PARTITION BY source) AS p95
        | FROM documents),
        | c AS (SELECT source, n_chars, p05, p95,
        |  CASE WHEN n_chars < p05 THEN 'below'
        |       WHEN n_chars > p95 THEN 'above' ELSE 'within' END AS cls
        | FROM b)
        |SELECT source, count(*) AS n_docs,
        | round(min(p05), 2) AS p05, round(min(p95), 2) AS p95,
        | CAST(sum(CASE WHEN cls = 'below' THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
        | CAST(sum(CASE WHEN cls = 'above' THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        | CAST(sum(CASE WHEN cls <> 'within' THEN n_chars ELSE 0 END) AS BIGINT) AS chars_trimmed
        |FROM c GROUP BY source ORDER BY source""".stripMargin,
    "q84_quality_gate" ->
      s"""WITH $gateCtesSql,
         | g AS (
         | SELECT source, n_chars,
         |  CASE WHEN n_chars < 50 THEN 'too_short'
         |       WHEN rep_ratio > 0.2 THEN 'repetitive'
         |       WHEN score < 0.45 THEN 'low_quality'
         |       ELSE 'kept' END AS reason
         | FROM r)
         |SELECT source, reason, count(*) AS n_docs,
         | CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM g GROUP BY source, reason ORDER BY source, reason""".stripMargin,
    "q114_gate_sweep" ->
      s"""WITH $gateCtesSql,
         | g AS (
         | SELECT source, n_chars, score,
         |  (n_chars >= 50 AND rep_ratio <= 0.2) AS base_pass
         | FROM r),
         | a AS (
         | SELECT source, n_chars, CAST(0.35 AS DOUBLE) AS cut,
         |  (base_pass AND score >= 0.35) AS kept FROM g
         | UNION ALL
         | SELECT source, n_chars, CAST(0.45 AS DOUBLE), (base_pass AND score >= 0.45) FROM g
         | UNION ALL
         | SELECT source, n_chars, CAST(0.55 AS DOUBLE), (base_pass AND score >= 0.55) FROM g)
         |SELECT cut, source, count(*) AS n_docs,
         | CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | CAST(sum(CASE WHEN kept THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
         | round(sum(CASE WHEN kept THEN 1 ELSE 0 END) / count(*), 4) AS keep_share
         |FROM a GROUP BY cut, source ORDER BY cut, source""".stripMargin,
    "q111_cluster_quality" ->
      s"""WITH $gateCtesSql,
         | g AS (
         | SELECT doc_id, n_chars, CAST(round(score * 10000, 0) AS BIGINT) AS score_e4,
         |  (n_chars >= 50 AND rep_ratio <= 0.2 AND score >= 0.45) AS pass_gate
         | FROM r),
         | e AS (SELECT vec_id AS doc_id, label FROM embeddings)
         |SELECT label, count(*) AS n_docs,
         | CAST(sum(CASE WHEN pass_gate THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         | round(sum(CASE WHEN pass_gate THEN 1 ELSE 0 END) / count(*), 4) AS pass_rate,
         | round(CAST(sum(score_e4) AS DOUBLE) / count(*), 2) AS avg_score_e4,
         | round(CAST(sum(n_chars) AS DOUBLE) / count(*), 2) AS avg_chars
         |FROM e JOIN g USING (doc_id)
         |GROUP BY label ORDER BY label""".stripMargin,
    "q106_curation_funnel" ->
      s"""WITH $gateCtesSql,
         | g AS (
         | SELECT doc_id, source, n_chars, h,
         |  (n_chars >= 50 AND rep_ratio <= 0.2 AND score >= 0.45) AS pass_gate
         | FROM r),
         | c AS (SELECT h, min(doc_id) AS canon_id FROM g WHERE pass_gate GROUP BY h)
         |SELECT source, count(*) AS n_raw,
         | CAST(sum(CASE WHEN pass_gate THEN 1 ELSE 0 END) AS BIGINT) AS n_gate,
         | CAST(sum(CASE WHEN pass_gate AND doc_id = canon_id THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
         | CAST(sum(n_chars) AS BIGINT) AS chars_raw,
         | CAST(sum(CASE WHEN pass_gate AND doc_id = canon_id THEN n_chars ELSE 0 END) AS BIGINT) AS chars_kept,
         | round(sum(CASE WHEN pass_gate AND doc_id = canon_id THEN 1 ELSE 0 END) / count(*), 4) AS yield_share
         |FROM g LEFT JOIN c ON c.h = g.h
         |GROUP BY source ORDER BY source""".stripMargin,
    "q105_winnow" ->
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        | g AS (
        | SELECT doc_id, source, CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS n_grams,
        |  CASE WHEN len(ws) >= 3 THEN
        |    list_transform(range(1, len(ws) - 1),
        |      i -> md5(array_to_string(list_slice(ws, i, i + 2), ' ')))
        |  ELSE CAST([] AS VARCHAR[]) END AS hs
        | FROM d),
        | f AS (
        | SELECT doc_id, source, n_grams,
        |  CASE WHEN len(hs) > 0 THEN
        |    list_distinct(list_transform(range(1, greatest(len(hs) - 4 + 1, 1) + 1),
        |      j -> list_min(list_slice(hs, j, j + 3))))
        |  ELSE CAST([] AS VARCHAR[]) END AS fps
        | FROM g),
        | s AS (
        | SELECT source, count(*) AS n_docs, CAST(sum(n_grams) AS BIGINT) AS n_grams,
        |  CAST(sum(len(fps)) AS BIGINT) AS n_selected
        | FROM f GROUP BY source),
        | x AS (
        | SELECT source, count(DISTINCT fp) AS n_distinct_fp
        | FROM (SELECT source, unnest(fps) AS fp FROM f) GROUP BY source)
        |SELECT s.source, n_docs, n_grams, n_selected,
        | CAST(coalesce(n_distinct_fp, 0) AS BIGINT) AS n_distinct_fp,
        | CASE WHEN n_grams > 0 THEN round(n_selected / n_grams, 4) ELSE 0.0 END AS density
        |FROM s LEFT JOIN x ON x.source = s.source
        |ORDER BY s.source""".stripMargin,
    "q80_seq_pack" ->
      s"""WITH d AS (
         | SELECT doc_id, source, CAST(greatest($subwordTokensSql, 1) AS BIGINT) AS toks FROM documents),
        | c AS (
        | SELECT source, toks,
        |  sum(toks) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM d),
        | b AS (SELECT source, CAST((cum - 1) // 2048 AS BIGINT) AS bin, toks FROM c),
        | g AS (
        | SELECT source, bin, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens
        | FROM b GROUP BY source, bin)
        |SELECT source, count(*) AS n_bins,
        | CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
        | max(n_docs) AS max_docs_per_bin,
        | round(sum(bin_tokens) / (count(*) * 2048), 4) AS fill_ratio
        |FROM g GROUP BY source ORDER BY source""".stripMargin,
    "q126_pack_sweep" ->
      s"""WITH d AS (
         | SELECT doc_id, source, CAST(greatest($subwordTokensSql, 1) AS BIGINT) AS toks FROM documents),
        | c AS (
        | SELECT source, toks,
        |  sum(toks) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
        | FROM d),
        | x AS (SELECT source, toks, cum, unnest([512, 2048, 8192]) AS cap FROM c),
        | b AS (SELECT cap, source, CAST((cum - 1) // cap AS BIGINT) AS bin, toks FROM x),
        | g AS (
        | SELECT cap, source, bin, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS bin_tokens
        | FROM b GROUP BY cap, source, bin)
        |SELECT CAST(cap AS BIGINT) AS cap, count(*) AS n_bins,
        | CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
        | max(n_docs) AS max_docs_per_bin,
        | round(sum(bin_tokens) / (count(*) * cap), 4) AS fill_ratio
        |FROM g GROUP BY cap ORDER BY cap""".stripMargin,
    "q81_repetition" ->
      """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
        | s AS (
        | SELECT doc_id, source,
        |  CAST(greatest(len(words) - 2, 0) AS BIGINT) AS total_sh,
        |  CAST(len(list_distinct(list_transform(range(1, len(words) - 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))) AS BIGINT) AS distinct_sh
        | FROM w),
        | r AS (
        | SELECT source,
        |  CASE WHEN total_sh > 0 THEN 1.0 - distinct_sh / total_sh ELSE 0.0 END AS rep_ratio
        | FROM s)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN rep_ratio > 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        | round(avg(rep_ratio), 4) AS avg_rep_ratio
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q76_heavy_hitters" ->
      """WITH tok AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS n FROM tok WHERE token <> ''
        |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin,
    "q135_tokenizer_fertility" ->
      s"""WITH d AS (
         | SELECT lang, n_chars,
         |  len(string_split(text, ' ')) AS n_words,
         |  $subwordTokensSql AS n_sub
         | FROM documents),
         | g AS (
         | SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS total_words,
         |  CAST(sum(n_sub) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         | FROM d GROUP BY lang)
         |SELECT lang, n_docs, total_words, total_tokens, total_chars,
         | round(total_tokens / total_words, 4) AS fertility,
         | round(total_chars / total_tokens, 4) AS chars_per_token
         |FROM g ORDER BY lang""".stripMargin,
    "q136_vocab_coverage" ->
      """WITH tok AS (
        | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        | cnt AS (SELECT token, count(*) AS n FROM tok WHERE token <> '' GROUP BY token),
        | hist AS (SELECT n, count(*) AS nt FROM cnt GROUP BY n),
        | cum AS (
        | SELECT n, nt,
        |  COALESCE(CAST(sum(nt) OVER (ORDER BY n DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_before,
        |  COALESCE(CAST(sum(nt * n) OVER (ORDER BY n DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS occ_before
        | FROM hist),
        | tot AS (
        | SELECT CAST(sum(n) AS BIGINT) AS total_occ, count(*) AS total_vocab FROM cnt),
        | arms AS (SELECT unnest([100, 1000, 10000]) AS cutoff),
        | sel AS (
        | SELECT cutoff, least(cutoff, total_vocab) AS vocab_used,
        |  n, nt, tok_before, occ_before, total_occ
        | FROM arms, tot, cum
        | WHERE tok_before < least(cutoff, total_vocab)
        |  AND least(cutoff, total_vocab) <= tok_before + nt)
        |SELECT CAST(cutoff AS BIGINT) AS cutoff,
        | CAST(vocab_used AS BIGINT) AS vocab_used,
        | CAST(occ_before + (vocab_used - tok_before) * n AS BIGINT) AS covered_occ,
        | round((occ_before + (vocab_used - tok_before) * n) / total_occ, 4) AS coverage_share
        |FROM sel ORDER BY cutoff""".stripMargin,
    "q130_cms_calibration" -> {
      val arms = (0 until 4)
        .map(i => s"SELECT token, n, $i AS row, (${Dedup.bandHash(i, "h")}) % 256 AS bucket FROM hx")
        .mkString("\n UNION ALL\n ")
      s"""WITH tok AS (
         | SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         | cnt AS (
         |  SELECT token, count(*) AS n FROM tok WHERE token <> '' GROUP BY token),
         | hx AS (
         |  SELECT token, n, ${Dedup.hexint32("m")} AS h
         |  FROM (SELECT token, n, md5(token) AS m FROM cnt)),
         | cells AS (
         | $arms
         | ),
         | sk AS (
         |  SELECT row, bucket, CAST(sum(n) AS BIGINT) AS cell
         |  FROM cells GROUP BY row, bucket),
         | top AS (SELECT token, n FROM cnt ORDER BY n DESC, token LIMIT 50),
         | est AS (
         |  SELECT c.token, max(c.n) AS n_exact, min(sk.cell) AS n_est
         |  FROM top t
         |  JOIN cells c ON c.token = t.token
         |  JOIN sk ON sk.row = c.row AND sk.bucket = c.bucket
         |  GROUP BY c.token)
         |SELECT token, n_exact, n_est, n_est - n_exact AS overcount
         |FROM est ORDER BY n_exact DESC, token""".stripMargin
    },
    "q139_pmi" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        | bg AS (
        |  SELECT unnest(list_transform(range(1, len(words)),
        |    i -> {'w1': words[i], 'w2': words[i + 1]})) AS b
        |  FROM w),
        | p AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bg WHERE b.w1 <> '' AND b.w2 <> ''),
        | cnt AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY w1, w2),
        | m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cnt GROUP BY w1),
        | m2 AS (SELECT w2, CAST(sum(c12) AS BIGINT) AS c2 FROM cnt GROUP BY w2),
        | tot AS (SELECT CAST(sum(c12) AS BIGINT) AS n_total FROM cnt)
        |SELECT w1, w2, c12, c1, c2,
        | CAST(round(ln((CAST(c12 AS DOUBLE) * CAST(n_total AS DOUBLE))
        |   / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))) * 10000, 0) AS BIGINT) AS pmi_e4
        |FROM cnt JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN tot
        |WHERE c12 >= 10
        |ORDER BY pmi_e4 DESC, w1, w2 LIMIT 50""".stripMargin,
    "q77_bigram_lm" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        | bg AS (
        |  SELECT unnest(list_transform(range(1, len(words)),
        |    i -> {'w1': words[i], 'w2': words[i + 1]})) AS b
        |  FROM w),
        | p AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bg WHERE b.w1 <> '' AND b.w2 <> ''),
        | cnt AS (SELECT w1, w2, count(*) AS n_bigram FROM p GROUP BY w1, w2),
        | tot AS (
        |  SELECT w1, w2, n_bigram,
        |   CAST(sum(n_bigram) OVER (PARTITION BY w1) AS BIGINT) AS n_w1
        |  FROM cnt)
        |SELECT w1, w2, n_bigram, n_w1, round(n_bigram / n_w1, 4) AS p
        |FROM tot WHERE n_bigram >= 10 ORDER BY w1, w2""".stripMargin,
    "q72_pii_scrub" ->
      s"""WITH r AS (
         | SELECT doc_id,
         |  text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@example.com call +1-555-' || CAST(doc_id AS VARCHAR) ||
         |  ' at https://ex.com/u/' || CAST(doc_id AS VARCHAR) AS raw
         | FROM documents)
         |SELECT doc_id,
         | CAST(len(regexp_extract_all(raw, '$EmailRe')) AS INTEGER) AS n_emails,
         | CAST(len(regexp_extract_all(raw, '$PhoneRe')) AS INTEGER) AS n_phones,
         | CAST(len(regexp_extract_all(raw, '$UrlRe')) AS INTEGER) AS n_urls,
         | regexp_replace(regexp_replace(regexp_replace(raw,
         |   '$EmailRe', '<EMAIL>', 'g'),
         |   '$PhoneRe', '<PHONE>', 'g'),
         |   '$UrlRe', '<URL>', 'g') AS scrubbed
         |FROM r ORDER BY doc_id""".stripMargin,
    "q30_text_stats" ->
      s"""WITH w AS (SELECT lang, n_chars, string_split(text, ' ') AS words FROM documents),
         | d AS (SELECT lang, n_chars, len(words) AS n_words,
         |   len(list_filter(words, w -> w IN ($stopSqlIn))) AS n_stop FROM w)
         |SELECT lang, count(*) AS n_docs,
         | round(avg(n_chars),2) AS avg_chars,
         | round(avg(n_words),2) AS avg_words,
         | round(avg((n_chars - (n_words - 1)) / n_words),4) AS avg_word_len,
         | round(avg(n_stop / n_words),4) AS stop_ratio
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q31_lang_id" ->
      """WITH w AS (SELECT lang, string_split(text, ' ') AS words FROM documents),
        | s AS (SELECT lang,
        |  len(list_filter(words, x -> x IN ('the','a','of','and','is'))) AS en_s,
        |  len(list_filter(words, x -> x IN ('el','la','de','y','es'))) AS es_s,
        |  len(list_filter(words, x -> x IN ('der','die','das','und','ist'))) AS de_s,
        |  len(list_filter(words, x -> x IN ('le','la','de','et','est'))) AS fr_s
        | FROM w),
        | p AS (SELECT lang,
        |  CASE WHEN en_s >= es_s AND en_s >= de_s AND en_s >= fr_s AND en_s > 0 THEN 'en'
        |       WHEN es_s >= de_s AND es_s >= fr_s AND es_s > 0 THEN 'es'
        |       WHEN de_s >= fr_s AND de_s > 0 THEN 'de'
        |       WHEN fr_s > 0 THEN 'fr'
        |       ELSE 'und' END AS predicted
        | FROM s)
        |SELECT lang AS labeled, predicted, count(*) AS n
        |FROM p GROUP BY lang, predicted ORDER BY labeled, predicted""".stripMargin,
    "q32_token_count" ->
      s"""WITH d AS (SELECT source, n_chars,
         |  len(string_split(text, ' ')) AS ws_tokens,
         |  len(list_filter(regexp_split_to_array(text, '[^a-z0-9]+'), x -> x != '')) AS re_tokens,
         |  $subwordTokensSql AS subword_tokens
         | FROM documents)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
         | CAST(sum(re_tokens) AS BIGINT) AS total_re_tokens,
         | CAST(sum(subword_tokens) AS BIGINT) AS total_subword_tokens
         |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q33_quality_score" ->
      s"""WITH w AS (SELECT source, n_chars, string_split(text, ' ') AS words FROM documents),
         | d AS (SELECT source, n_chars, len(words) AS n_words,
         |   len(list_filter(words, w -> w IN ($stopSqlIn))) AS n_stop FROM w),
         | sc AS (SELECT source,
         |   round(least(n_words / 100.0, 1.0) * 0.5
         |     + (n_stop / n_words) * 2.0
         |     + CASE WHEN n_chars >= 100 THEN 0.2 ELSE 0.0 END, 4) AS score
         | FROM d)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(CASE WHEN score >= 0.45 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         | round(avg(score),4) AS avg_score
         |FROM sc GROUP BY source ORDER BY source""".stripMargin,
    "q121_token_rarity" ->
      """WITH tk AS (
        | SELECT doc_id, source, unnest(string_split(text, ' ')) AS w FROM documents),
        | t2 AS (SELECT * FROM tk WHERE w <> ''),
        | f AS (SELECT w, count(*) AS tf FROM t2 GROUP BY w),
        | pd AS (
        | SELECT doc_id, source, count(*) AS n_tok,
        |  CAST(sum(CASE WHEN tf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |  min(tf) AS min_tf
        | FROM t2 JOIN f USING (w) GROUP BY doc_id, source)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(n_tok) AS BIGINT) AS total_tokens,
        | CAST(sum(n_rare) AS BIGINT) AS total_rare,
        | CAST(sum(CASE WHEN n_rare > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_rare,
        | min(min_tf) AS min_tf,
        | round(sum(n_rare) / sum(n_tok), 4) AS rare_share
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,
    "q123_quality_keep" ->
      s"""WITH w AS (
         | SELECT doc_id, source, n_chars, text, string_split(text, ' ') AS words
         | FROM documents),
         | d AS (
         | SELECT doc_id, source, n_chars, text, len(words) AS n_words,
         |  len(list_filter(words, x -> x IN ($stopSqlIn))) AS n_stop
         | FROM w),
         | sc AS (
         | SELECT doc_id, source, n_chars, md5(text) AS h,
         |  round(least(n_words / 100.0, 1.0) * 0.5 + (n_stop / n_words) * 2.0
         |   + CASE WHEN n_chars >= 100 THEN 0.2 ELSE 0.0 END, 4) AS score
         | FROM d),
         | r AS (
         | SELECT *, row_number() OVER (PARTITION BY h ORDER BY score DESC, doc_id) AS rk
         | FROM sc)
         |SELECT source, count(*) AS n_docs,
         | CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | CAST(sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT) AS chars_dropped,
         | round(avg(CASE WHEN rk = 1 THEN score END), 4) AS avg_kept_score
         |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q34_doc_fingerprint" ->
      """SELECT doc_id,
        | list_aggregate(list_transform(range(1, len(words) - 1),
        |   i -> md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2])), 'min') AS fingerprint
        |FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q151_lm_ppl_bins" ->
      """WITH w AS (
        | SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
        | WHERE len(string_split(text, ' ')) >= 2),
        | bg AS (
        | SELECT doc_id, lang, unnest(list_transform(range(1, len(words)),
        |   i -> {'w1': words[i], 'w2': words[i + 1]})) AS b
        | FROM w),
        | db AS (SELECT doc_id, lang, b.w1 AS w1, b.w2 AS w2 FROM bg
        |  WHERE b.w1 <> '' AND b.w2 <> ''),
        | cnt AS (SELECT w1, w2, count(*) AS n_bigram FROM db GROUP BY w1, w2),
        | lm AS (SELECT w1, w2, n_bigram,
        |   CAST(sum(n_bigram) OVER (PARTITION BY w1) AS BIGINT) AS n_w1 FROM cnt),
        | bits AS (
        | SELECT db.doc_id, db.lang,
        |  CAST(floor(-log2(CAST(n_bigram AS DOUBLE) / n_w1) * 1000 + 0.5) AS BIGINT) AS bits_e3
        | FROM db JOIN lm ON db.w1 = lm.w1 AND db.w2 = lm.w2),
        | pd AS (
        | SELECT lang, doc_id,
        |  (2 * sum(bits_e3) + count(*)) // (2 * count(*)) AS score_e3
        | FROM bits GROUP BY lang, doc_id),
        | cuts AS (
        | SELECT lang, quantile_cont(score_e3, CAST(1 AS DOUBLE) / 3) AS p33,
        |  quantile_cont(score_e3, CAST(2 AS DOUBLE) / 3) AS p66
        | FROM pd GROUP BY lang),
        | binned AS (
        | SELECT pd.lang, score_e3,
        |  CASE WHEN score_e3 <= p33 THEN 'head'
        |       WHEN score_e3 <= p66 THEN 'middle' ELSE 'tail' END AS bin
        | FROM pd JOIN cuts ON pd.lang = cuts.lang)
        |SELECT lang, bin, count(*) AS n_docs,
        | CAST((2 * sum(score_e3) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_bits_e3,
        | CAST(min(score_e3) AS BIGINT) AS min_bits_e3,
        | CAST(max(score_e3) AS BIGINT) AS max_bits_e3
        |FROM binned GROUP BY lang, bin ORDER BY lang, bin""".stripMargin,
    "q264_min_k_prob" ->
      """WITH w AS (
        | SELECT doc_id, source, string_split(text, ' ') AS words FROM documents
        | WHERE len(string_split(text, ' ')) >= 2),
        | bg AS (
        | SELECT doc_id, source, unnest(list_transform(range(1, len(words)),
        |   i -> {'w1': words[i], 'w2': words[i + 1]})) AS b
        | FROM w),
        | db AS (SELECT doc_id, source, b.w1 AS w1, b.w2 AS w2 FROM bg
        |  WHERE b.w1 <> '' AND b.w2 <> ''),
        | cnt AS (SELECT w1, w2, count(*) AS n_bigram FROM db GROUP BY w1, w2),
        | lm AS (SELECT w1, w2, n_bigram,
        |   CAST(sum(n_bigram) OVER (PARTITION BY w1) AS BIGINT) AS n_w1 FROM cnt),
        | bits AS (
        | SELECT db.doc_id, db.source, db.w1, db.w2,
        |  CAST(floor(-log2(CAST(n_bigram AS DOUBLE) / n_w1) * 1000 + 0.5) AS BIGINT)
        |   AS bits_e3
        | FROM db JOIN lm ON db.w1 = lm.w1 AND db.w2 = lm.w2),
        | rk AS (
        | SELECT doc_id, source, bits_e3,
        |  row_number() OVER (PARTITION BY doc_id
        |   ORDER BY bits_e3 DESC, w1, w2) AS rn,
        |  CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n
        | FROM bits),
        | pd AS (
        | SELECT doc_id, source, max(n) AS n_bigrams, max((n + 4) // 5) AS k_top,
        |  (2 * sum(CASE WHEN rn <= (n + 4) // 5 THEN bits_e3 ELSE 0 END)
        |   + max((n + 4) // 5)) // (2 * max((n + 4) // 5)) AS mink_bits_e3,
        |  (2 * sum(bits_e3) + count(*)) // (2 * count(*)) AS mean_bits_e3
        | FROM rk GROUP BY 1, 2)
        |SELECT doc_id, source, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        | CAST(k_top AS BIGINT) AS k_top,
        | CAST(mink_bits_e3 AS BIGINT) AS mink_bits_e3,
        | CAST(mean_bits_e3 AS BIGINT) AS mean_bits_e3
        |FROM pd ORDER BY mink_bits_e3, doc_id LIMIT 30""".stripMargin,
    "q152_distinct_ngrams" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
        | uni AS (
        | SELECT source, 'uni' AS kind, unnest(words) AS token FROM w),
        | bi AS (
        | SELECT source, 'bi' AS kind,
        |  unnest(list_transform(range(1, len(words)),
        |    i -> words[i] || ' ' || words[i + 1])) AS token
        | FROM w WHERE len(words) >= 2),
        | u AS (
        | SELECT * FROM uni WHERE token <> ''
        | UNION ALL
        | SELECT * FROM bi
        |  WHERE NOT starts_with(token, ' ') AND NOT ends_with(token, ' ')),
        | g AS (
        | SELECT source, kind, count(*) AS total, count(DISTINCT token) AS n_distinct
        | FROM u GROUP BY source, kind),
        | p AS (
        | SELECT source,
        |  CAST(max(CASE WHEN kind = 'uni' THEN total END) AS BIGINT) AS uni_total,
        |  CAST(max(CASE WHEN kind = 'uni' THEN n_distinct END) AS BIGINT) AS uni_distinct,
        |  CAST(COALESCE(max(CASE WHEN kind = 'bi' THEN total END), 0) AS BIGINT) AS bi_total,
        |  CAST(COALESCE(max(CASE WHEN kind = 'bi' THEN n_distinct END), 0) AS BIGINT) AS bi_distinct
        | FROM g GROUP BY source)
        |SELECT source, uni_total, uni_distinct,
        | (2 * 10000 * uni_distinct + uni_total) // (2 * uni_total) AS uni_ratio_e4,
        | bi_total, bi_distinct,
        | CASE WHEN bi_total = 0 THEN CAST(0 AS BIGINT)
        |  ELSE (2 * 10000 * bi_distinct + bi_total) // (2 * bi_total) END AS bi_ratio_e4
        |FROM p ORDER BY source""".stripMargin,
    "q155_token_burstiness" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        | tf AS (
        | SELECT token, doc_id, count(*) AS tf FROM tok
        | WHERE token <> '' GROUP BY token, doc_id),
        | s AS (
        | SELECT token, count(*) AS df,
        |  CAST(sum(CASE WHEN tf >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS multi_df,
        |  CAST(sum(tf) AS BIGINT) AS tf_total
        | FROM tf GROUP BY token)
        |SELECT token, df, multi_df,
        | (2 * 10000 * multi_df + df) // (2 * df) AS burst_e4,
        | (2 * 100 * tf_total + df) // (2 * df) AS mean_tf_e2
        |FROM s WHERE df >= 20
        |ORDER BY burst_e4 DESC, df DESC, token LIMIT 30""".stripMargin,
    "q159_context_entropy" ->
      """WITH w AS (
        | SELECT string_split(text, ' ') AS words FROM documents
        | WHERE len(string_split(text, ' ')) >= 2),
        | bg AS (
        | SELECT unnest(list_transform(range(1, len(words)),
        |   i -> {'w1': words[i], 'w2': words[i + 1]})) AS b
        | FROM w),
        | p AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bg WHERE b.w1 <> '' AND b.w2 <> ''),
        | cnt AS (SELECT w1, w2, count(*) AS n_pair FROM p GROUP BY w1, w2),
        | tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n_total FROM cnt),
        | lm AS (
        | SELECT w1, n_pair,
        |  CAST(sum(n_pair) OVER (PARTITION BY w1) AS BIGINT) AS n_w1
        | FROM cnt),
        | bits AS (
        | SELECT w1, n_pair, n_w1,
        |  CAST(floor(-log2(CAST(n_pair AS DOUBLE) / n_w1) * 1000 + 0.5) AS BIGINT) AS bits_e3
        | FROM lm),
        | h AS (
        | SELECT w1, max(n_w1) AS n_w1, count(*) AS n_successors,
        |  CAST((2 * sum(n_pair * bits_e3) + max(n_w1)) // (2 * max(n_w1)) AS BIGINT) AS entropy_e3
        | FROM bits GROUP BY w1)
        |SELECT w1, n_w1, n_successors, entropy_e3,
        | (2 * 10000 * n_w1 + n_total) // (2 * n_total) AS share_e4
        |FROM h, tot
        |ORDER BY entropy_e3 DESC, w1 LIMIT 30""".stripMargin,
    "q160_zipf_slope" ->
      """WITH tok AS (
        | SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        | c AS (
        | SELECT source, token, count(*) AS c FROM tok WHERE token <> ''
        | GROUP BY source, token),
        | r AS (
        | SELECT source, token, c,
        |  row_number() OVER (PARTITION BY source ORDER BY c DESC, token) AS rank
        | FROM c),
        | q AS (
        | SELECT source, c,
        |  CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS x,
        |  CAST(floor(ln(CAST(c AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS y
        | FROM r WHERE rank <= 100),
        | s AS (
        | SELECT source, count(*) AS n_ranks, max(c) AS top_freq,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM q GROUP BY source)
        |SELECT source, n_ranks, top_freq,
        | CASE WHEN n_ranks * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
        |  ELSE (2 * 10000 * (sx * sy - n_ranks * sxy) + (n_ranks * sxx - sx * sx))
        |       // (2 * (n_ranks * sxx - sx * sx)) END AS slope_mag_e4
        |FROM s ORDER BY source""".stripMargin,
    "q161_source_jsd" ->
      """WITH tok AS (
        | SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        | c AS (
        | SELECT source, token, count(*) AS c FROM tok WHERE token <> ''
        | GROUP BY source, token),
        | topv AS (
        | SELECT token FROM (
        |  SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM c GROUP BY token) t
        | ORDER BY ct DESC, token LIMIT 200),
        | rc AS (SELECT c.source, c.token, c.c FROM c JOIN topv USING (token)),
        | tt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM rc GROUP BY source),
        | grid AS (
        | SELECT a.source AS src_a, a.n AS n_a, b.source AS src_b, b.n AS n_b
        | FROM tt a JOIN tt b ON a.source < b.source),
        | terms AS (
        | SELECT a.source AS src_a, b.source AS src_b, a.c AS c_a, b.c AS c_b,
        |  ta.n AS n_a, tb.n AS n_b
        | FROM rc a
        | JOIN rc b ON a.token = b.token AND a.source < b.source
        | JOIN tt ta ON ta.source = a.source
        | JOIN tt tb ON tb.source = b.source),
        | q AS (
        | SELECT src_a, src_b,
        |  CAST(floor(CAST(c_a AS DOUBLE) / n_a * log2(2.0 * c_a * n_b / (CAST(c_a AS DOUBLE) * n_b + CAST(c_b AS DOUBLE) * n_a)) * 500000 + 0.5) AS BIGINT) AS t_ab,
        |  CAST(floor(CAST(c_b AS DOUBLE) / n_b * log2(2.0 * c_b * n_a / (CAST(c_a AS DOUBLE) * n_b + CAST(c_b AS DOUBLE) * n_a)) * 500000 + 0.5) AS BIGINT) AS t_ba,
        |  c_a, c_b
        | FROM terms),
        | sh AS (
        | SELECT src_a, src_b, count(*) AS n_shared,
        |  CAST(sum(c_a) AS BIGINT) AS sh_a, CAST(sum(c_b) AS BIGINT) AS sh_b,
        |  CAST(sum(t_ab + t_ba) AS BIGINT) AS shared_e6
        | FROM q GROUP BY src_a, src_b)
        |SELECT grid.src_a, grid.src_b,
        | COALESCE(n_shared, 0) AS n_shared,
        | n_a AS tokens_a, n_b AS tokens_b,
        | COALESCE(shared_e6, 0)
        |  + (2 * 500000 * (n_a - COALESCE(sh_a, 0)) + n_a) // (2 * n_a)
        |  + (2 * 500000 * (n_b - COALESCE(sh_b, 0)) + n_b) // (2 * n_b) AS jsd_e6
        |FROM grid
        |LEFT JOIN sh ON grid.src_a = sh.src_a AND grid.src_b = sh.src_b
        |ORDER BY jsd_e6 DESC, grid.src_a, grid.src_b LIMIT 20""".stripMargin,
    "q163_token_gini" ->
      """WITH tok AS (
        | SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        | c AS (
        | SELECT source, token, count(*) AS c FROM tok WHERE token <> ''
        | GROUP BY source, token),
        | r AS (
        | SELECT source, c,
        |  row_number() OVER (PARTITION BY source ORDER BY c ASC, token) AS i
        | FROM c),
        | s AS (
        | SELECT source, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(i * c) AS BIGINT) AS si
        | FROM r GROUP BY source)
        |SELECT source, n_types, n_tokens,
        | (2 * 1000000 * (2 * si - (n_types + 1) * n_tokens) + n_types * n_tokens)
        |  // (2 * n_types * n_tokens) AS gini_e6
        |FROM s ORDER BY source""".stripMargin,
    "q185_mattr" ->
      """WITH w AS (
        | SELECT source, string_split(text, ' ') AS words FROM documents
        | WHERE len(string_split(text, ' ')) >= 25),
        | d AS (
        | SELECT source,
        |  CAST(list_sum(list_transform(range(1, len(words) - 23),
        |    i -> len(list_distinct(list_slice(words, i, i + 24))))) AS BIGINT) AS sum_distinct,
        |  CAST(len(words) - 24 AS BIGINT) AS n_windows
        | FROM w),
        | m AS (
        | SELECT source, n_windows,
        |  (2 * 10000 * sum_distinct + 25 * n_windows) // (2 * 25 * n_windows) AS mattr_e4
        | FROM d)
        |SELECT source, count(*) AS n_docs, CAST(sum(n_windows) AS BIGINT) AS n_windows,
        | (2 * CAST(sum(mattr_e4) AS BIGINT) + count(*)) // (2 * count(*)) AS mattr_e4
        |FROM m GROUP BY source ORDER BY source""".stripMargin,
    "q186_length_tail" ->
      """WITH r AS (
        | SELECT source, n_chars,
        |  row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rank
        | FROM documents),
        | q AS (
        | SELECT source, n_chars,
        |  CAST(floor(ln(CAST(rank AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS x,
        |  CAST(floor(ln(CAST(n_chars AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS y
        | FROM r WHERE rank <= 100),
        | s AS (
        | SELECT source, count(*) AS n_ranks, max(n_chars) AS max_chars,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM q GROUP BY source)
        |SELECT source, n_ranks, max_chars,
        | CASE WHEN n_ranks * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
        |  ELSE (2 * 10000 * (sx * sy - n_ranks * sxy) + (n_ranks * sxx - sx * sx))
        |       // (2 * (n_ranks * sxx - sx * sx)) END AS tail_mag_e4
        |FROM s ORDER BY source""".stripMargin,
    "q177_top_prefixes" ->
      """WITH w AS (SELECT source, string_split(text, ' ') AS words FROM documents),
        | p AS (
        | SELECT source,
        |  list_aggregate(list_slice(words, 1, 5), 'string_agg', ' ') AS prefix
        | FROM w),
        | c AS (SELECT source, prefix, count(*) AS n_docs FROM p GROUP BY source, prefix),
        | r AS (
        | SELECT source, prefix, n_docs,
        |  CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS src_docs,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY n_docs DESC, prefix) AS BIGINT) AS rank
        | FROM c)
        |SELECT source, rank, prefix, n_docs,
        | (2 * 10000 * n_docs + src_docs) // (2 * src_docs) AS coverage_e4
        |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin,
    "q179_char_classes" ->
      """WITH d AS (
        | SELECT source, CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT) AS n_alpha,
        |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(length(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT) AS n_space
        | FROM documents),
        | s AS (
        | SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(sum(n_alpha) AS BIGINT) AS n_alpha, CAST(sum(n_digit) AS BIGINT) AS n_digit,
        |  CAST(sum(n_space) AS BIGINT) AS n_space
        | FROM d GROUP BY source)
        |SELECT source, n_docs, n_chars,
        | (2 * 10000 * n_alpha + n_chars) // (2 * n_chars) AS alpha_share_e4,
        | (2 * 10000 * n_digit + n_chars) // (2 * n_chars) AS digit_share_e4,
        | (2 * 10000 * n_space + n_chars) // (2 * n_chars) AS space_share_e4,
        | (2 * 10000 * (n_chars - n_alpha - n_digit - n_space) + n_chars) // (2 * n_chars) AS other_share_e4,
        | (2 * 100 * n_chars + n_docs) // (2 * n_docs) AS chars_per_doc_e2
        |FROM s ORDER BY source""".stripMargin,
    "q167_good_turing" ->
      """WITH tok AS (
        | SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        | c AS (
        | SELECT source, token, count(*) AS c FROM tok WHERE token <> ''
        | GROUP BY source, token),
        | s AS (
        | SELECT source, count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
        | FROM c GROUP BY source)
        |SELECT source, n_types, n_tokens, n_hapax, n_dis,
        | (2 * 1000000 * n_hapax + n_tokens) // (2 * n_tokens) AS unseen_mass_e6,
        | (2 * 1000000 * n_hapax + n_types) // (2 * n_types) AS hapax_share_e6,
        | CASE WHEN n_hapax = 0 THEN CAST(0 AS BIGINT)
        |  ELSE (2 * 10000 * 2 * n_dis + n_hapax) // (2 * n_hapax) END AS r1_star_e4
        |FROM s ORDER BY source""".stripMargin,
    "q168_heaps_law" ->
      """WITH tok AS (
        | SELECT source, doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        | tk AS (SELECT source, doc_id, token FROM tok WHERE token <> ''),
        | dt AS (SELECT source, doc_id, count(*) AS n_tok FROM tk GROUP BY source, doc_id),
        | nt AS (
        | SELECT source, doc_id, count(*) AS new_types FROM (
        |  SELECT source, token, min(doc_id) AS doc_id FROM tk GROUP BY source, token) f
        | GROUP BY source, doc_id),
        | cum AS (
        | SELECT dt.source AS source,
        |  row_number() OVER (PARTITION BY dt.source ORDER BY dt.doc_id) AS r,
        |  CAST(sum(dt.n_tok) OVER (PARTITION BY dt.source ORDER BY dt.doc_id) AS BIGINT) AS cum_tokens,
        |  CAST(sum(COALESCE(nt.new_types, 0)) OVER (PARTITION BY dt.source ORDER BY dt.doc_id) AS BIGINT) AS cum_types
        | FROM dt LEFT JOIN nt ON dt.source = nt.source AND dt.doc_id = nt.doc_id),
        | cp AS (
        | SELECT source, cum_tokens, cum_types,
        |  CAST(floor(ln(CAST(cum_tokens AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS x,
        |  CAST(floor(ln(CAST(cum_types AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS y
        | FROM cum WHERE r >= 2 AND (r & (r - 1)) = 0),
        | s AS (
        | SELECT source, count(*) AS n_checkpoints,
        |  max(cum_tokens) AS tokens_last, max(cum_types) AS types_last,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        | FROM cp GROUP BY source)
        |SELECT source, n_checkpoints, tokens_last, types_last,
        | CASE WHEN n_checkpoints * sxx - sx * sx = 0 THEN CAST(0 AS BIGINT)
        |  ELSE (2 * 10000 * (n_checkpoints * sxy - sx * sy) + (n_checkpoints * sxx - sx * sx))
        |   // (2 * (n_checkpoints * sxx - sx * sx)) END AS beta_e4
        |FROM s ORDER BY source""".stripMargin,
    "q164_kn_continuation" ->
      """WITH w AS (
        | SELECT string_split(text, ' ') AS words FROM documents
        | WHERE len(string_split(text, ' ')) >= 2),
        | bg AS (
        | SELECT unnest(list_transform(range(1, len(words)),
        |   i -> {'w1': words[i], 'w2': words[i + 1]})) AS b
        | FROM w),
        | p AS (SELECT b.w1 AS w1, b.w2 AS w2 FROM bg WHERE b.w1 <> '' AND b.w2 <> ''),
        | cnt AS (SELECT w1, w2, count(*) AS n_pair FROM p GROUP BY w1, w2),
        | tot AS (SELECT count(*) AS n_types FROM cnt),
        | l AS (
        | SELECT w2, count(*) AS n_left_ctx, CAST(sum(n_pair) AS BIGINT) AS n_as_second
        | FROM cnt GROUP BY w2),
        | r AS (SELECT w1, count(*) AS n_right_ctx FROM cnt GROUP BY w1),
        | j AS (
        | SELECT COALESCE(l.w2, r.w1) AS token,
        |  COALESCE(n_left_ctx, 0) AS n_left_ctx,
        |  COALESCE(n_as_second, 0) AS n_as_second,
        |  COALESCE(n_right_ctx, 0) AS n_right_ctx
        | FROM l FULL OUTER JOIN r ON l.w2 = r.w1)
        |SELECT token, n_left_ctx, n_right_ctx, n_as_second,
        | (2 * 1000000 * n_left_ctx + n_types) // (2 * n_types) AS cont_e6,
        | CASE WHEN n_left_ctx = 0 THEN CAST(0 AS BIGINT)
        |  ELSE (2 * 100 * n_as_second + n_left_ctx) // (2 * n_left_ctx) END AS clump_e2
        |FROM j, tot ORDER BY cont_e6 DESC, token LIMIT 30""".stripMargin
  )
}
