package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.sources.{DedupIndex, FreqStore}

/** The END-TO-END curation pipeline as one artifact-producing executable —
  * the flow q106 reports but nothing previously executed:
  *
  *   gate (q84) → exact dedup (q35/q89 canonical rule) → near-dup drop
  *   (q62 components) → decontaminate (q75 n-gram + q137 semantic, with
  *   the 1/97 benchmark slice held out) → split (q103 buckets) → pack
  *   (q80 bins)
  *
  * writing the curated corpus, a per-source per-stage yield report, and
  * the lake artifacts a maintained session probes (DedupIndex +
  * unigram FreqStore over the curated output). Every stage decision
  * reuses the audited operators' OWN expression trees (gateVerdicts /
  * components / contaminationPairs / semanticContaminationHits /
  * splitLabel), so the executable flow and the audit queries cannot
  * drift — CurateSpec pins stage counts against the query family's
  * reports.
  *
  * Idempotence: outputs land in deterministic overwrite paths under
  * `outDir`; the `_CURATED` marker (carrying the run tag) is written
  * LAST, so a crash anywhere earlier makes the re-run redo the same
  * deterministic work, and a re-run after completion is a NO-OP that
  * re-reads the report from the artifacts (a different tag against a
  * completed dir refuses loudly — curated corpora are immutable
  * deliverables, re-curation goes to a fresh dir). The stores are
  * crash-safe by presence: they live under `outDir`, so an existing
  * store can only be this run's own earlier attempt and is kept as-is.
  * Ongoing ingest maintains these same artifacts through
  * [[graft.streaming.ImportPipeline]]'s MAINTAIN step (tag-idempotent
  * appends); Curate is the bootstrap that publishes their v=1.
  *
  * Scale shape: one corpus pass derives the gate verdicts + content
  * hashes; the canonical rule is a hash-keyed groupBy(min)+join (q89's
  * join-not-window discipline — boilerplate lands on AQE skew splitting);
  * components / contamination relations are the operators' own bounded
  * shapes; split+pack are map-side expressions plus one
  * (source, split)-partitioned window. Nothing is corpus².
  *
  * Reference anchor: geostore's import chain validates → records →
  * publishes per batch (`import_dataset/task.py`); this is that
  * execute-don't-just-report discipline applied to the training-data
  * curation funnel.
  */
object Curate {

  final case class CurateReport(
      runTag: String,
      noop: Boolean,
      nRaw: Long,
      gate: Map[String, Long],
      nGate: Long,
      nUnique: Long,
      nNearDropped: Long,
      nBenchmarkHeldOut: Long,
      nContaminatedNgram: Long,
      nContaminatedSemantic: Long,
      nCurated: Long,
      split: Map[String, Long],
      nBins: Long,
      totalTokens: Long,
      dedupVersion: Long,
      freqVersion: Long) {
    def toJson: String = {
      def m(mm: Map[String, Long]) =
        mm.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      s"""{"run":"$runTag","noop":$noop,"n_raw":$nRaw,"gate":${m(gate)},""" +
        s""""n_gate":$nGate,"n_unique":$nUnique,"n_near_dropped":$nNearDropped,""" +
        s""""n_benchmark_held_out":$nBenchmarkHeldOut,""" +
        s""""n_contaminated_ngram":$nContaminatedNgram,""" +
        s""""n_contaminated_semantic":$nContaminatedSemantic,"n_curated":$nCurated,""" +
        s""""split":${m(split)},"n_bins":$nBins,"total_tokens":$totalTokens,""" +
        s""""dedup_version":$dedupVersion,"freq_version":$freqVersion}"""
    }
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val Marker = "_CURATED"

  def run(spark: SparkSession, sfDir: String, outDir: String, runTag: String): CurateReport = {
    // the stores' shared tag grammar — one rule, not a third copy
    graft.sources.FreqStore.requireValidTag(runTag)
    val f = fs(spark, outDir)
    val markerPath = new Path(outDir, Marker)
    if (f.exists(markerPath)) {
      val in = f.open(markerPath)
      val prev = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      require(prev == runTag,
        s"$outDir already holds a completed curation run '$prev' — a curated corpus is " +
          s"immutable; re-curate into a fresh dir (got tag '$runTag')")
      return reportFromArtifacts(spark, outDir, runTag, noop = true)
    }

    val t = Tables(spark, sfDir)
    val staged = stagedDecisions(t)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bySource = staged.groupBy(col("source")).agg(
        count(lit(1)).as("n_raw"),
        sum(when(col("reason") === "too_short", 1L).otherwise(0L)).as("n_too_short"),
        sum(when(col("reason") === "repetitive", 1L).otherwise(0L)).as("n_repetitive"),
        sum(when(col("reason") === "low_quality", 1L).otherwise(0L)).as("n_low_quality"),
        sum(when(col("pass_gate"), 1L).otherwise(0L)).as("n_gate"),
        sum(when(col("is_unique"), 1L).otherwise(0L)).as("n_unique"),
        sum(when(col("near_drop"), 1L).otherwise(0L)).as("n_near_dropped"),
        sum(when(col("after_near") && col("benchmark"), 1L).otherwise(0L)).as("n_benchmark"),
        sum(when(col("contam_ngram"), 1L).otherwise(0L)).as("n_contam_ngram"),
        sum(when(col("contam_sem"), 1L).otherwise(0L)).as("n_contam_semantic"),
        sum(when(col("curated"), 1L).otherwise(0L)).as("n_curated"))

      packedCorpus(staged).write.mode("overwrite").parquet(s"$outDir/corpus")
      bySource.coalesce(1).write.mode("overwrite").parquet(s"$outDir/report_by_source")
      // opt-in governance ledger (r16): the per-source yield table also
      // publishes as a CAS-committed v=N TSV snapshot through the DSv2
      // VersionedSink — the export a curation audit trail ships to
      // systems that don't read parquet
      if (spark.conf.get("graft.curate.ledger", "false").toBoolean)
        bySource.orderBy(col("source")).coalesce(1)
          .write.format("graft.sources.VersionedSink")
          .option("path", s"$outDir/ledger").mode("append").save()
    } finally staged.unpersist()

    // maintain the lake artifacts over what actually LANDED (read-back,
    // CatalogStore's certify-the-disk rule); presence = this run's own
    // earlier attempt, keep it
    val curatedCorpus = spark.read.parquet(s"$outDir/corpus")
      .select(col("doc_id"), col("source"), col("text"))
    val dedupDir = s"$outDir/stores/dedup"
    val freqDir = s"$outDir/stores/freq"
    // single-writer self-repair (CasProtocol.selfRepairing): Curate owns
    // everything under its outDir, so a blocked slot is its own debris
    if (DedupIndex.currentVersion(spark, dedupDir).isEmpty)
      graft.sources.CasProtocol.selfRepairing(DedupIndex.repair(spark, dedupDir)) {
        DedupIndex.init(spark, dedupDir, curatedCorpus, bands = 8)
      }
    if (FreqStore.currentVersion(spark, freqDir).isEmpty)
      graft.sources.CasProtocol.selfRepairing(FreqStore.repair(spark, freqDir)) {
        FreqStore.init(spark, freqDir, curatedCorpus)
      }

    val report = reportFromArtifacts(spark, outDir, runTag, noop = false)
    f.delete(new Path(outDir, "report.json"), false)
    val rep = f.create(new Path(outDir, "report.json"), true)
    try rep.write(report.toJson.getBytes("UTF-8")) finally rep.close()
    // marker LAST: its presence is completion
    val out = f.create(markerPath, false)
    try out.write(runTag.getBytes("UTF-8")) finally out.close()
    report
  }

  /** ONE staged relation carrying every per-doc stage decision — each
    * stage's predicate comes from the audited operator's own kernel.
    * Exposed so CurateSpec can gate the PLAN SHAPE (no cartesian, no
    * corpus² join) the way PlanAudit gates the query entries.
    */
  private[graft] def stagedDecisions(t: Tables): DataFrame = {
    val withH = TextAnalysis.gateVerdicts(t).withColumn("h", md5(col("text")))
    val canon = withH.filter(col("reason") === "kept")
      .groupBy(col("h")).agg(min(col("doc_id")).as("canon_id"))
    val comp = Dedup.components(t)
    val ngramBad = Dedup.contaminationPairs(t)
      .select(col("train_doc").as("doc_id")).distinct()
      .withColumn("ngram_bad", lit(true))
    val semBad = Similarity.semanticContaminationHits(t)
      .select(col("train_id").as("doc_id")).distinct()
      .withColumn("sem_bad", lit(true))
    withH
      .join(canon, Seq("h"), "left")
      .join(comp, Seq("doc_id"), "left")
      .join(ngramBad, Seq("doc_id"), "left")
      .join(semBad, Seq("doc_id"), "left")
      .withColumn("pass_gate", col("reason") === "kept")
      // q106's unique_kept: canonical-among-gate-survivors ≡ canonical
      // corpus-wide on passing groups (the verdict is a pure function of
      // text, so hash twins share it)
      .withColumn("is_unique", col("pass_gate") && col("doc_id") === col("canon_id"))
      // q62/q79's keep rule: the component representative (its min
      // doc_id) survives, everything else in the component drops
      .withColumn("near_drop",
        col("is_unique") && col("component_id").isNotNull &&
          col("component_id") =!= col("doc_id"))
      .withColumn("after_near", col("is_unique") && !col("near_drop"))
      // the 1/97 slice IS the held-out benchmark (q75/q137's eval side) —
      // it never enters the curated training corpus
      .withColumn("benchmark", col("doc_id") % 97 === 0)
      .withColumn("contam_ngram",
        col("after_near") && !col("benchmark") && coalesce(col("ngram_bad"), lit(false)))
      .withColumn("contam_sem",
        col("after_near") && !col("benchmark") && coalesce(col("sem_bad"), lit(false)))
      .withColumn("curated",
        col("after_near") && !col("benchmark") &&
          !coalesce(col("ngram_bad"), lit(false)) && !coalesce(col("sem_bad"), lit(false)))
  }

  /** Split (q103's deterministic buckets) + pack (q80's running-token
    * bins, applied per (source, split) so no training shard mixes
    * splits) over the curated survivors — both expressions shared with
    * the audited queries.
    */
  private[graft] def packedCorpus(staged: DataFrame): DataFrame = {
    val byBin = Window
      .partitionBy(col("source"), col("split"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    staged.filter(col("curated"))
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .withColumn("split", Dedup.splitLabel)
      .withColumn("toks",
        greatest(graft.functions.GraftFunctions.subword_count(col("text")), lit(1L)))
      .withColumn("cum", sum(col("toks")).over(byBin))
      .withColumn("bin", expr(s"CAST((cum - 1) div ${TextAnalysis.PackTokens} AS BIGINT)"))
      .drop("cum")
  }

  /** The report, rebuilt from the written artifacts — the no-op re-run
    * path and the tail of a fresh run share it, so the two can never
    * disagree about what the artifacts say.
    */
  private def reportFromArtifacts(
      spark: SparkSession, outDir: String, runTag: String, noop: Boolean): CurateReport = {
    val by = spark.read.parquet(s"$outDir/report_by_source")
    val tot = by.agg(
      sum(col("n_raw")), sum(col("n_too_short")), sum(col("n_repetitive")),
      sum(col("n_low_quality")), sum(col("n_gate")), sum(col("n_unique")),
      sum(col("n_near_dropped")), sum(col("n_benchmark")),
      sum(col("n_contam_ngram")), sum(col("n_contam_semantic")),
      sum(col("n_curated"))).head()
    val corpus = spark.read.parquet(s"$outDir/corpus")
    val splitCounts = corpus.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val packRow = corpus.agg(
      countDistinct(col("source"), col("split"), col("bin")).as("n_bins"),
      coalesce(sum(col("toks")), lit(0L)).as("total_tokens")).head()
    CurateReport(
      runTag = runTag,
      noop = noop,
      nRaw = tot.getLong(0),
      gate = Map(
        "kept" -> tot.getLong(4), "too_short" -> tot.getLong(1),
        "repetitive" -> tot.getLong(2), "low_quality" -> tot.getLong(3)),
      nGate = tot.getLong(4),
      nUnique = tot.getLong(5),
      nNearDropped = tot.getLong(6),
      nBenchmarkHeldOut = tot.getLong(7),
      nContaminatedNgram = tot.getLong(8),
      nContaminatedSemantic = tot.getLong(9),
      nCurated = tot.getLong(10),
      split = splitCounts,
      nBins = packRow.getLong(0),
      totalTokens = packRow.getLong(1),
      dedupVersion = DedupIndex.currentVersion(spark, s"$outDir/stores/dedup").getOrElse(0L),
      freqVersion = FreqStore.currentVersion(spark, s"$outDir/stores/freq").getOrElse(0L))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Curate <sfDir> <outDir> [runTag]")
    val (sfDir, outDir) = (args(0), args(1))
    val runTag = args.lift(2).getOrElse("curate-1")
    val spark = Session(extra = Session.Timed)
    val report = run(spark, sfDir, outDir, runTag)
    spark.stop()
    println(report.toJson)
    Console.out.flush()
  }
}
