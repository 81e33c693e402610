package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The executable curation pipeline (graft.Curate) against the audited
  * query family it composes: per-stage counts must equal the family's
  * own reports (q84 gate, q106 funnel, q62 components, q75/q137
  * contamination), the written artifacts must obey the q103 split and
  * q80 pack rules row by row, and a re-run must be a no-op.
  */
class CurateSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("graft_curate_spec").toString + "/run"
  private lazy val report = Curate.run(spark, sf, outDir, "spec-run")

  private def corpus = spark.read.parquet(s"$outDir/corpus")

  private def corpusIds: Set[Long] =
    corpus.select(col("doc_id")).collect().map(_.getLong(0)).toSet

  test("gate and funnel stage counts equal q84/q106's reports") {
    val q84 = SparkEntry.queries("q84_quality_gate")(spark, sf).collect()
    val byReason = q84.groupBy(_.getAs[String]("reason"))
      .map { case (r, rows) => r -> rows.map(_.getAs[Long]("n_docs")).sum }
    assert(report.nRaw == byReason.values.sum)
    Seq("kept", "too_short", "repetitive", "low_quality").foreach { r =>
      assert(report.gate(r) == byReason.getOrElse(r, 0L), s"gate[$r] diverges from q84")
    }
    val q106 = SparkEntry.queries("q106_curation_funnel")(spark, sf).collect()
    assert(report.nRaw == q106.map(_.getAs[Long]("n_raw")).sum)
    assert(report.nGate == q106.map(_.getAs[Long]("n_gate")).sum)
    assert(report.nUnique == q106.map(_.getAs[Long]("n_unique")).sum)
  }

  test("near-dup drops equal q62's non-representatives within the unique set") {
    val comps = SparkEntry.queries("q62_dup_clusters")(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("component_id")).toMap
    // the unique set, restated from first principles: gate survivors
    // owning their md5 group's min doc_id (q106's rule)
    val verdicts = graft.operators.TextAnalysis.gateVerdicts(Tables(spark, sf))
      .withColumn("h", md5(col("text")))
    val unique = verdicts.filter(col("reason") === "kept")
      .withColumn("canon", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .filter(col("doc_id") === col("canon"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expectedNearDrop = unique.count(id => comps.get(id).exists(_ != id))
    assert(report.nNearDropped == expectedNearDrop,
      s"near drops ${report.nNearDropped} != q62-derived $expectedNearDrop")
    // and none of them reached the curated corpus
    assert(corpusIds.forall(id => comps.get(id).forall(_ == id)),
      "a q62 non-representative survived into the curated corpus")
  }

  test("decontamination: benchmark slice and q75/q137-flagged docs are absent") {
    assert(corpusIds.forall(_ % 97 != 0), "a benchmark (1/97) doc entered the corpus")
    val q75train = SparkEntry.queries("q75_decontaminate")(spark, sf)
      .select(col("train_doc")).distinct().collect().map(_.getLong(0)).toSet
    assert(corpusIds.intersect(q75train).isEmpty,
      "a q75 n-gram-contaminated doc survived into the curated corpus")
    val semIds = graft.operators.Similarity.semanticContaminationHits(Tables(spark, sf))
      .select(col("train_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(corpusIds.intersect(semIds).isEmpty,
      "a q137 semantically-contaminated doc survived into the curated corpus")
    assert(report.nCurated == corpusIds.size)
    // funnel arithmetic closes: after-near survivors fully accounted
    // (ngram/semantic flags may overlap, so use the written per-source
    // report's own columns for the disjoint check instead)
    assert(report.nUnique - report.nNearDropped >= report.nCurated)
  }

  test("split and pack columns obey the q103/q80 rules row by row") {
    // q103's bucket, restated via conv() (LeakStoreSpec's independent
    // rendering of the md5 bucket)
    val bad = corpus
      .withColumn("b",
        expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"))
      .withColumn("want",
        when(col("b") < 90, "train").when(col("b") < 95, "val").otherwise("test"))
      .filter(col("split") =!= col("want")).count()
    assert(bad == 0, "a curated doc carries a split label violating the q103 bucket rule")
    val splitCounts = corpus.groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(report.split == splitCounts)
    // q80's running-token bin, re-derived from the artifact's own toks
    val w = Window.partitionBy(col("source"), col("split")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val badBins = corpus
      .withColumn("cum", sum(col("toks")).over(w))
      .withColumn("want_bin", expr("CAST((cum - 1) div 2048 AS BIGINT)"))
      .filter(col("bin") =!= col("want_bin")).count()
    assert(badBins == 0, "a curated doc carries a bin violating the q80 packing rule")
    assert(report.totalTokens ==
      corpus.agg(sum(col("toks"))).head().getLong(0))
    assert(report.nBins ==
      corpus.select(col("source"), col("split"), col("bin")).distinct().count())
  }

  test("the maintained stores hold exactly the curated corpus") {
    import graft.sources.{DedupIndex, FreqStore}
    assert(report.dedupVersion == 1L && report.freqVersion == 1L)
    assert(FreqStore.totalDocs(spark, s"$outDir/stores/freq") == report.nCurated)
    assert(DedupIndex.currentVersion(spark, s"$outDir/stores/dedup").contains(1L))
  }

  test("the staged/packed plans carry no cartesian product and no unpartitioned window") {
    val t = Tables(spark, sf)
    val stagedPlan = Curate.stagedDecisions(t).queryExecution.executedPlan.toString
    assert(!stagedPlan.contains("CartesianProduct"),
      s"curation staging plan went cartesian:\n$stagedPlan")
    val packedPlan = Curate.packedCorpus(Curate.stagedDecisions(t))
      .queryExecution.executedPlan.toString
    assert(!packedPlan.contains("CartesianProduct"),
      s"pack plan went cartesian:\n$packedPlan")
    // the pack window partitions by (source, split) — a global window
    // here would funnel the curated corpus through one partition
    assert(!packedPlan.contains("Window [") ||
      packedPlan.contains("windowspecdefinition(source"),
      s"pack window lost its partitioning:\n$packedPlan")
  }

  test("a re-run is a no-op with an identical report; a foreign tag refuses") {
    val again = Curate.run(spark, sf, outDir, "spec-run")
    assert(again.noop, "re-run must report noop")
    assert(again.copy(noop = false) == report.copy(noop = false),
      s"no-op report diverges:\n$again\nvs\n$report")
    assert(graft.sources.FreqStore.currentVersion(spark, s"$outDir/stores/freq").contains(1L),
      "re-run advanced a store version")
    val e = intercept[IllegalArgumentException](Curate.run(spark, sf, outDir, "other-tag"))
    assert(e.getMessage.contains("immutable"))
  }

  test("graft.curate.ledger publishes the yield table as a CAS snapshot") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_ledger").toString
    spark.conf.set("graft.curate.ledger", "true")
    try {
      val rep = Curate.run(spark, sf, dir, "ledger-run")
      assert(!rep.noop)
      assert(graft.sources.VersionedSink.latestVersion(spark, s"$dir/ledger") == 1L)
      assert(new java.io.File(s"$dir/ledger/v=1/_COMMITTED").exists())
      // one ledger row per source in the parquet report, same key set
      val sources = spark.read.parquet(s"$dir/report_by_source")
        .select(col("source")).collect().map(_.getString(0)).toSet
      val ledger = spark.read.option("sep", "\t")
        .csv(s"$dir/ledger/v=1")
        .collect().map(_.getString(0)).toSet
      assert(ledger == sources)
    } finally spark.conf.unset("graft.curate.ledger")
  }
}
