package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.CatalogStore
import graft.streaming.ImportPipeline

/** The wired END-TO-END lake-manager flow — the reference's whole import
  * pipeline (`import_metadata_file/task.py` → `check_stac_metadata/task.py`
  * → `populate_catalog/task.py`) as ONE running chain: streaming file
  * source → link rewrite → q87 rules validation → accept/quarantine split
  * → CatalogStore upsert → read-back, including an exactly-once restart
  * from a crash that happened AFTER the side-effects but BEFORE the
  * streaming commit (the replayed batch must publish nothing new).
  */
class ImportPipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  // the q87 keyword subset this spec exercises: a required field and an
  // enum — enough to force both sides of the accept/quarantine split
  private val rules = Seq(
    graft.operators.Lake.Rule(1, "id", "required", ""),
    graft.operators.Lake.Rule(2, "stac_version", "enum", "1.0.0|0.9.0"))

  /** A STAC-ish arriving doc; `valid=false` drops the required `id`. */
  private def doc(docId: Long, key: String, title: String, rev: Long, valid: Boolean)
      : (Long, String, String, Long, String) = {
    val idField = if (valid) s""""id":"item-$docId",""" else ""
    val j =
      s"""{$idField"stac_version":"1.0.0","links":[
         |{"rel":"self","href":"s3://staging/src/$docId.json"},
         |{"rel":"root","href":"s3://staging/src/catalog.json"},
         |{"rel":"data","href":"s3://staging/src/asset-$docId.tif"}]}"""
        .stripMargin.replace("\n", "")
    (docId, key, title, rev, j)
  }

  private def writeBatch(dir: String, docs: Seq[(Long, String, String, Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "dataset_key", "title", "revision", "j")
      .coalesce(1)
      .write.mode("append").parquet(dir)
  }

  private def runOnce(root: String): Unit = {
    val q = ImportPipeline.start(
      spark,
      sourceDir = s"$root/in",
      catalogDir = s"$root/catalog",
      acceptedDir = s"$root/accepted",
      quarantineDir = s"$root/quarantine",
      checkpointDir = s"$root/ckpt",
      rules = Some(rules))
    q.processAllAvailable()
    q.stop()
  }

  private def catalogMap(root: String): Map[String, (String, Long)] =
    CatalogStore.read(spark, s"$root/catalog").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap

  test("end-to-end import: source → validate → quarantine split → upsert → read-back, exactly-once across a mid-flow restart") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_import").toString

    // the pre-existing root catalog the reference imports into
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L), ("ds-b", "Beta v1", 1L))
        .toDF("dataset_key", "title", "revision"))

    // ---- batch 0: two valid docs (one update, one insert) + one invalid
    writeBatch(s"$root/in", Seq(
      doc(1L, "ds-a", "Alpha v2", 2L, valid = true),
      doc(2L, "ds-c", "Gamma v1", 1L, valid = true),
      doc(3L, "ds-d", "Delta v1", 1L, valid = false)))
    runOnce(root)

    // read-back: the accepted changes are published, the invalid one is not
    assert(CatalogStore.currentVersion(spark, s"$root/catalog").contains(2L))
    val cat1 = catalogMap(root)
    assert(cat1 == Map(
      "ds-a" -> ("Alpha v2", 2L),
      "ds-b" -> ("Beta v1", 1L),
      "ds-c" -> ("Gamma v1", 1L)), s"catalog after batch 0: $cat1")

    // quarantine holds exactly the invalid doc, with the violated rule ids
    val quar = spark.read.parquet(s"$root/quarantine/batch=0")
    val quarRows = quar.select(col("doc_id"), col("violated_rules")).collect()
    assert(quarRows.map(_.getLong(0)).toSeq == Seq(3L))
    assert(quarRows.head.getSeq[Int](1) == Seq(1), "only the `id required` rule fires")

    // accepted lake carries the importer's link rewrite: self dropped,
    // root relativized, data href reduced to its basename
    val acc = spark.read.parquet(s"$root/accepted/batch=0")
    assert(acc.count() == 2)
    val links = acc.filter(col("doc_id") === 1L)
      .select(explode(col("links")).as("l"))
      .select(col("l.rel"), col("l.href"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(links == Set("root" -> "../catalog.json", "data" -> "asset-1.tif"),
      s"rewritten links: $links")

    // ---- simulate a crash AFTER batch 0's side-effects but BEFORE the
    // streaming commit marker: Spark then REPLAYS batch 0 on restart —
    // the exactly-once claim rests on every side-effect being a replay
    // no-op (deterministic overwrite dirs + revision-tie upsert)
    val committed = new java.io.File(s"$root/ckpt/commits/0")
    assert(committed.exists, "checkpoint layout changed — commits/0 missing")
    assert(committed.delete())
    // the local ChecksumFs sidecar would block Spark's re-write of the
    // commit marker; a real HDFS crash leaves no such residue
    new java.io.File(s"$root/ckpt/commits/.0.crc").delete()

    // batch 1 arrives while we're "down": ds-a advances to rev 3
    writeBatch(s"$root/in", Seq(doc(4L, "ds-a", "Alpha v3", 3L, valid = true)))
    runOnce(root)

    // the replay of batch 0 published NOTHING (version went 2→3, not 2→4):
    // its changes tie the catalog's revisions and base wins ties
    assert(CatalogStore.currentVersion(spark, s"$root/catalog").contains(3L))
    val cat2 = catalogMap(root)
    assert(cat2 == Map(
      "ds-a" -> ("Alpha v3", 3L),
      "ds-b" -> ("Beta v1", 1L),
      "ds-c" -> ("Gamma v1", 1L)), s"catalog after restart: $cat2")

    // quarantine and accepted lakes are unchanged by the replay — same
    // rows, same per-batch dirs, no duplicates
    assert(spark.read.parquet(s"$root/quarantine/batch=0").count() == 1)
    assert(spark.read.parquet(s"$root/accepted/batch=0").count() == 2)
    assert(spark.read.parquet(s"$root/accepted/batch=1")
      .select(col("doc_id")).as[Long].collect().toSeq == Seq(4L))

    // time travel still sees every published step of the import history
    assert(CatalogStore.listVersions(spark, s"$root/catalog") == Seq(1L, 2L, 3L))
    assert(CatalogStore.readVersion(spark, s"$root/catalog", 2L)
      .filter(col("dataset_key") === "ds-a")
      .select(col("revision")).as[Long].head() == 2L)
  }

  test("index maintenance: ingest advances DedupIndex+FreqStore exactly once per accepted batch, replay-proof") {
    import spark.implicits._
    import graft.sources.{DedupIndex, FreqStore}
    val root = java.nio.file.Files.createTempDirectory("graft_import_idx").toString
    val (dedupDir, freqDir, leakDir) =
      (s"$root/dedup_idx", s"$root/freq_store", s"$root/leak_store")
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L)).toDF("dataset_key", "title", "revision"))
    // seed the indexes from a pre-existing curated corpus (v=1 base);
    // seed ids: 101/102 hash to TRAIN buckets (72, 23), 100 to eval (97)
    val seed = Seq(
      (101L, "seed", "alpha beta gamma delta epsilon zeta eta theta"),
      (102L, "seed", "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "source", "text")
    DedupIndex.init(spark, dedupDir, seed, bands = 8)
    FreqStore.init(spark, freqDir, seed)
    // Unigram family (the arriving docs' j payload is one token — a
    // WindowSrc store would no-op); what this store TESTS is the
    // train-slice discipline, which is family-independent
    FreqStore.init(spark, leakDir, graft.operators.Dedup.leakTrainSlice(seed))
    val maintain = ImportPipeline.MaintainedIndexes(
      dedupIndexDir = Some(dedupDir), freqStoreDirs = Seq(freqDir),
      trainFreqStoreDirs = Seq(leakDir))
    def run(): Unit = {
      val q = ImportPipeline.start(
        spark,
        sourceDir = s"$root/in", catalogDir = s"$root/catalog",
        acceptedDir = s"$root/accepted", quarantineDir = s"$root/quarantine",
        checkpointDir = s"$root/ckpt", rules = Some(rules), maintain = maintain)
      q.processAllAvailable(); q.stop()
    }
    // batch 0: three accepted docs — ids 1/2 hash to TRAIN buckets (60,
    // 5), id 100 to an EVAL bucket (97) — and one quarantined doc, which
    // must NOT index anywhere
    writeBatch(s"$root/in", Seq(
      doc(1L, "ds-a", "Alpha v2", 2L, valid = true),
      doc(2L, "ds-c", "Gamma v1", 1L, valid = true),
      doc(100L, "ds-e", "Eps v1", 1L, valid = true),
      doc(3L, "ds-d", "Delta v1", 1L, valid = false)))
    run()
    assert(DedupIndex.currentVersion(spark, dedupDir).contains(2L),
      "dedup index should advance exactly once for batch 0")
    assert(FreqStore.currentVersion(spark, freqDir).contains(2L),
      "freq store should advance exactly once for batch 0")
    // the frozen-train store got ONLY the train-bucket accepted docs:
    // seed 101+102 plus ids 1 and 2 — the eval-bucket id 100 is excluded
    assert(FreqStore.totalDocs(spark, leakDir) == 4L,
      s"leak store holds ${FreqStore.totalDocs(spark, leakDir)} docs — eval doc leaked in?")
    val countsAfter0 = FreqStore.frequencies(spark, freqDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // crash AFTER side-effects, BEFORE the streaming commit → replay
    val committed = new java.io.File(s"$root/ckpt/commits/0")
    assert(committed.exists && committed.delete())
    new java.io.File(s"$root/ckpt/commits/.0.crc").delete()
    writeBatch(s"$root/in", Seq(doc(4L, "ds-a", "Alpha v3", 3L, valid = true)))
    run()
    // replayed batch 0 is a tag no-op on BOTH stores (count-merge would
    // otherwise double batch 0's counts); batch 1 appends once
    assert(DedupIndex.currentVersion(spark, dedupDir).contains(3L),
      s"dedup chain after replay: ${DedupIndex.listVersions(spark, dedupDir)}")
    assert(FreqStore.currentVersion(spark, freqDir).contains(3L),
      s"freq chain after replay: ${FreqStore.listVersions(spark, freqDir)}")
    // train store: replayed batch 0 was a no-op; batch 1's id 4 (bucket
    // 57 — train) appended once → 5 docs, still excluding eval id 100
    assert(FreqStore.totalDocs(spark, leakDir) == 5L,
      s"leak store after replay holds ${FreqStore.totalDocs(spark, leakDir)} docs")
    // a session that both ingests AND audits: materialize the session-
    // cached store view, ingest one more batch, and prove the next read
    // serves the new version (the view's key carries the store's
    // committed version, observed on each access)
    spark.conf.set("graft.lsh.cache", "true")
    try {
      val before = graft.operators.SessionCache.storeCounts(spark, freqDir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      writeBatch(s"$root/in", Seq(doc(5L, "ds-b", "Beta v1", 1L, valid = true)))
      run()
      val after = graft.operators.SessionCache.storeCounts(spark, freqDir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val fresh = FreqStore.frequencies(spark, freqDir).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(after == fresh,
        "session-cached store view is stale after an ingested batch — " +
          "its key must observe the store's new version")
      assert(after != before, "batch 2 should have changed the store view")
    } finally {
      spark.conf.unset("graft.lsh.cache")
      graft.operators.SessionCache.clear()
    }

    // the maintained view equals a one-shot rebuild from seed + accepted lake
    val scratch = s"$root/freq_rebuild"
    FreqStore.init(spark, scratch,
      seed.unionByName(spark.read.parquet(s"$root/accepted")
        .select(col("doc_id"), col("dataset_key").as("source"), col("j").as("text"))))
    def view(d: String) = FreqStore.frequencies(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(view(freqDir) == view(scratch),
      "stream-maintained store diverges from one-shot rebuild — replay double-counted?")
    // batch 0's counts were not doubled by the replay
    countsAfter0.foreach { case (t, n) =>
      assert(view(freqDir).getOrElse(t, 0L) >= n, s"token $t lost counts") }
  }

  test("projected frozen-train store stays current through ingest and a replay (windoc → winsrc)") {
    import spark.implicits._
    import graft.sources.FreqStore
    val root = java.nio.file.Files.createTempDirectory("graft_import_proj").toString
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L)).toDF("dataset_key", "title", "revision"))
    val (windocDir, projDir) = (s"$root/windoc", s"$root/leak_proj")
    // seed ids 101/102 hash to TRAIN buckets (72, 23); ≥10 tokens each so
    // the K=8 window family has rows
    val seed = Seq(
      (101L, "seed", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (102L, "seed", "iota kappa lambda mu nu xi omicron pi rho sigma"))
      .toDF("doc_id", "source", "text")
    FreqStore.init(spark, windocDir, seed, FreqStore.WindowDoc(8))
    FreqStore.initWinSrcProjection(
      spark, projDir, windocDir, graft.operators.Dedup.leakTrainSlice)
    val maintain = ImportPipeline.MaintainedIndexes(
      freqStoreDirs = Seq(windocDir),
      trainProjections = Seq(ImportPipeline.TrainProjection(projDir, windocDir)))
    def run(): Unit = {
      val q = ImportPipeline.start(
        spark,
        sourceDir = s"$root/in", catalogDir = s"$root/catalog",
        acceptedDir = s"$root/accepted", quarantineDir = s"$root/quarantine",
        checkpointDir = s"$root/ckpt", rules = Some(rules), maintain = maintain)
      q.processAllAvailable(); q.stop()
    }
    // valid docs whose j carries ≥8 whitespace tokens (the corpus text IS
    // the raw doc payload)
    def wideDoc(docId: Long, key: String, title: String, words: String) = {
      val j = s"""{"id":"item-$docId","stac_version":"1.0.0","description":"$words"}"""
      (docId, key, title, 1L, j)
    }
    // winsrc content as a comparable map
    def winsrcMap(d: String): Map[(String, String), Long] =
      FreqStore.counts(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // one-shot rebuild oracle: a WindowSrc store over the train slice of
    // seed + everything the lake accepted so far
    def rebuilt(tag: String): Map[(String, String), Long] = {
      val scratch = s"$root/rebuild_$tag"
      val corpus = seed.unionByName(spark.read.parquet(s"$root/accepted")
        .select(col("doc_id"), col("dataset_key").as("source"), col("j").as("text")))
      FreqStore.init(
        spark, scratch, graft.operators.Dedup.leakTrainSlice(corpus), FreqStore.WindowSrc(8))
      winsrcMap(scratch)
    }
    // batch 0: ids 1/2 are TRAIN buckets (60, 5), id 100 is EVAL (97)
    writeBatch(s"$root/in", Seq(
      wideDoc(1L, "ds-a", "Alpha v2", "one two three four five six seven eight nine ten"),
      wideDoc(2L, "ds-c", "Gamma v1", "ten nine eight seven six five four three two one"),
      wideDoc(100L, "ds-e", "Eps v1", "red orange yellow green blue indigo violet gray pink teal")))
    run()
    assert(FreqStore.currentVersion(spark, windocDir).contains(2L),
      "windoc source should advance exactly once for batch 0")
    assert(FreqStore.currentVersion(spark, projDir).contains(2L),
      "projection should advance exactly once for batch 0")
    assert(FreqStore.totalDocs(spark, projDir) == 4L,
      s"projection holds ${FreqStore.totalDocs(spark, projDir)} docs — eval doc 100 leaked in?")
    assert(winsrcMap(projDir) == rebuilt("b0"),
      "incrementally projected store diverges from a one-shot train-slice rebuild")
    // crash AFTER side-effects, BEFORE the streaming commit → replay must
    // be a tag no-op on source AND projection
    val committed = new java.io.File(s"$root/ckpt/commits/0")
    assert(committed.exists && committed.delete())
    new java.io.File(s"$root/ckpt/commits/.0.crc").delete()
    writeBatch(s"$root/in", Seq(
      wideDoc(4L, "ds-b", "Beta v1", "uno dos tres cuatro cinco seis siete ocho nueve diez")))
    run()
    assert(FreqStore.currentVersion(spark, windocDir).contains(3L),
      s"windoc chain after replay: ${FreqStore.listVersions(spark, windocDir)}")
    assert(FreqStore.currentVersion(spark, projDir).contains(3L),
      s"projection chain after replay: ${FreqStore.listVersions(spark, projDir)}")
    // id 4 is a TRAIN bucket (57): 5 docs now, replay did not double batch 0
    assert(FreqStore.totalDocs(spark, projDir) == 5L,
      s"projection after replay holds ${FreqStore.totalDocs(spark, projDir)} docs")
    assert(winsrcMap(projDir) == rebuilt("b1"),
      "projection after replay diverges from a one-shot train-slice rebuild — double-counted?")
  }

  test("a projection target missing its windoc source in freqStoreDirs is refused at construction") {
    intercept[IllegalArgumentException] {
      ImportPipeline.MaintainedIndexes(
        trainProjections = Seq(ImportPipeline.TrainProjection("/tmp/p", "/tmp/windoc")))
    }
    intercept[IllegalArgumentException] {
      ImportPipeline.MaintainedIndexes(
        freqStoreDirs = Seq("/tmp/windoc", "/tmp/p"),
        trainProjections = Seq(ImportPipeline.TrainProjection("/tmp/p", "/tmp/windoc")))
    }
  }

  test("mid-publish crash debris self-repairs: the pipeline is its own single writer") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_import_repair").toString
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L)).toDF("dataset_key", "title", "revision"))
    // a crashed previous publish left a marker-less v=2 occupying the slot
    Seq(("junk", "GARBAGE", 9L)).toDF("dataset_key", "title", "revision")
      .write.parquet(s"$root/catalog/v=2/shard=0")
    writeBatch(s"$root/in", Seq(doc(1L, "ds-a", "Alpha v2", 2L, valid = true)))
    runOnce(root) // must self-repair the debris and publish, not wedge
    assert(CatalogStore.currentVersion(spark, s"$root/catalog").contains(2L))
    assert(catalogMap(root) == Map("ds-a" -> ("Alpha v2", 2L)),
      s"catalog after self-repair: ${catalogMap(root)}")
  }

  test("a store dir listed as both corpus-wide and frozen-train is refused at construction") {
    val e = intercept[IllegalArgumentException](
      ImportPipeline.MaintainedIndexes(
        freqStoreDirs = Seq("/tmp/x"), trainFreqStoreDirs = Seq("/tmp/x")))
    assert(e.getMessage.contains("disjoint"))
  }

  test("asset checksum stage: a corrupt or missing staged payload quarantines its doc") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_import3").toString
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L)).toDF("dataset_key", "title", "revision"))

    def sha256hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(b)
        .map("%02x".format(_)).mkString
    val good = "good asset bytes".getBytes("UTF-8")
    val corrupt = "original bytes".getBytes("UTF-8")
    def docWithAssets(docId: Long, key: String, rev: Long, assets: (String, String)*) = {
      val assetJson = assets
        .map { case (name, mh) =>
          s""""$name":{"href":"s3://staging/$name","file:checksum":"$mh"}""" }
        .mkString(",")
      (docId, key, s"Title $docId", rev,
        s"""{"id":"item-$docId","stac_version":"1.0.0","assets":{$assetJson}}""")
    }
    writeBatch(s"$root/in", Seq(
      // all assets verify: accepted
      docWithAssets(1L, "ds-b", 1L, "a1" -> s"1220${sha256hex(good)}"),
      // declared multihash was computed over DIFFERENT bytes: quarantined
      docWithAssets(2L, "ds-c", 1L, "a2" -> s"1220${sha256hex(corrupt)}"),
      // asset never staged: quarantined
      docWithAssets(3L, "ds-d", 1L, "missing" -> s"1220${sha256hex(good)}"),
      // no assets at all: nothing to verify, accepted
      (4L, "ds-e", "Title 4", 1L, """{"id":"item-4","stac_version":"1.0.0"}""")))

    val payloads = Seq(
      ("s3://staging/a1", good),
      ("s3://staging/a2", "tampered bytes".getBytes("UTF-8")))
      .toDF("href", "payload")
    def runWithAssets(): Unit = {
      val q = ImportPipeline.start(
        spark,
        sourceDir = s"$root/in",
        catalogDir = s"$root/catalog",
        acceptedDir = s"$root/accepted",
        quarantineDir = s"$root/quarantine",
        checkpointDir = s"$root/ckpt",
        rules = Some(rules),
        assetPayloads = Some(payloads),
        assetLakeDir = Some(s"$root/assets"))
      q.processAllAvailable()
      q.stop()
    }
    runWithAssets()

    val cat = catalogMap(root)
    assert(cat.keySet == Set("ds-a", "ds-b", "ds-e"), s"catalog: $cat")
    val quar = spark.read.parquet(s"$root/quarantine/batch=0")
      .select(col("doc_id"), col("violated_rules"), col("n_bad_assets")).collect()
      .map(r => r.getLong(0) -> (r.getSeq[Int](1), r.getLong(2))).toMap
    assert(quar == Map(
      2L -> (Seq.empty[Int], 1L),   // checksum-only failure: no rule ids
      3L -> (Seq.empty[Int], 1L)), s"quarantine: $quar")
    // the import_asset_file execute step: exactly the accepted doc's
    // verified asset landed at its q26-shaped target key with its bytes
    def lake(): Map[String, (String, Long, Seq[Byte])] =
      spark.read.parquet(s"$root/assets")
        .select(col("target_key"), col("checksum"), col("doc_id"), col("payload")).collect()
        .map(r => r.getString(0) ->
          ((r.getString(1), r.getLong(2), r.getAs[Array[Byte]](3).toSeq))).toMap
    val l0 = lake()
    assert(l0.keySet == Set("datasets/ds-b/a1"), s"asset lake keys: ${l0.keySet}")
    assert(l0("datasets/ds-b/a1") == ((s"1220${sha256hex(good)}", 1L, good.toSeq)))
    // crash replay: the copy is a deterministic-overwrite rewrite, not a
    // second copy
    val committed = new java.io.File(s"$root/ckpt/commits/0")
    assert(committed.exists && committed.delete())
    new java.io.File(s"$root/ckpt/commits/.0.crc").delete()
    runWithAssets()
    assert(lake() == l0, "replay changed the asset lake")
    // point reads push the target_key predicate to the scan
    val plan = spark.read.parquet(s"$root/assets")
      .filter(col("target_key") === "datasets/ds-b/a1").select(col("checksum"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("target_key"), plan)

    // the copy FAILS LOUDLY (before any publish) if a gate-accepted
    // asset no longer verifies at copy time — a doc must never publish
    // with its manifest pointing at an asset the lake doesn't hold
    val acceptedLike = Seq(docWithAssets(9L, "ds-x", 1L, "a9" -> s"1220${sha256hex(good)}"))
      .toDF("doc_id", "dataset_key", "title", "revision", "j")
    val e1 = intercept[IllegalStateException] {
      ImportPipeline.copyAssets(
        acceptedLike,
        Seq(("s3://staging/a9", "drifted bytes".getBytes("UTF-8"))).toDF("href", "payload"),
        s"$root/assets2", "9")
    }
    assert(e1.getMessage.contains("re-verification"), e1.getMessage)
    // distinct hrefs colliding on one target key are refused, not merged
    val collide = Seq((10L, "ds-y", "T", 1L,
      s"""{"id":"item-10","stac_version":"1.0.0","assets":{
         |"b1":{"href":"s3://staging/p/same","file:checksum":"1220${sha256hex(good)}"},
         |"b2":{"href":"s3://staging/q/same","file:checksum":"1220${sha256hex(good)}"}}}"""
        .stripMargin.replace("\n", "")))
      .toDF("doc_id", "dataset_key", "title", "revision", "j")
    val e2 = intercept[IllegalStateException] {
      ImportPipeline.copyAssets(
        collide,
        Seq(("s3://staging/p/same", good), ("s3://staging/q/same", good)).toDF("href", "payload"),
        s"$root/assets2", "10")
    }
    assert(e2.getMessage.contains("collide"), e2.getMessage)
  }

  test("quarantine reprocess: a doc rejected under rule set A is promoted after the rules fix, catalog advances once") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_reproc").toString
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L)).toDF("dataset_key", "title", "revision"))

    // rule set A is over-strict: it also requires a `license` field no doc carries
    val rulesA = rules :+ graft.operators.Lake.Rule(3, "license", "required", "")
    writeBatch(s"$root/in", Seq(
      doc(1L, "ds-n", "New v1", 1L, valid = true),   // fails only the license rule
      doc(2L, "ds-m", "Malformed v1", 1L, valid = false))) // genuinely bad: no id
    val q = ImportPipeline.start(
      spark,
      sourceDir = s"$root/in",
      catalogDir = s"$root/catalog",
      acceptedDir = s"$root/accepted",
      quarantineDir = s"$root/quarantine",
      checkpointDir = s"$root/ckpt",
      rules = Some(rulesA))
    q.processAllAvailable()
    q.stop()

    // both docs quarantined, nothing published
    assert(CatalogStore.currentVersion(spark, s"$root/catalog").contains(1L))
    assert(spark.read.parquet(s"$root/quarantine/batch=0").count() == 2)

    // the fix: reprocess against the CORRECTED rule set (license rule dropped)
    val stats = ImportPipeline.reprocessQuarantine(
      spark,
      catalogDir = s"$root/catalog",
      acceptedDir = s"$root/accepted",
      quarantineDir = s"$root/quarantine",
      reprocessId = 1L,
      rules = Some(rules))
    assert(stats == ImportPipeline.BatchStats(1L, 1L, 1L, 2L), s"stats: $stats")

    // the now-clean doc is promoted through the SAME upsert: version 1→2
    assert(CatalogStore.currentVersion(spark, s"$root/catalog").contains(2L))
    val cat = catalogMap(root)
    assert(cat == Map("ds-a" -> ("Alpha v1", 1L), "ds-n" -> ("New v1", 1L)), s"catalog: $cat")
    assert(spark.read.parquet(s"$root/accepted/batch=reproc-1")
      .select(col("doc_id")).as[Long].collect().toSeq == Seq(1L))

    // the genuinely-bad doc stays quarantined, attribution RECOMPUTED
    // against the current rules ([1], not the stale [1, 3]); the consumed
    // batch dirs are swept
    val quarDirs = new java.io.File(s"$root/quarantine").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(quarDirs == Set("batch=reproc-1"), s"quarantine dirs: $quarDirs")
    val still = spark.read.parquet(s"$root/quarantine/batch=reproc-1")
      .select(col("doc_id"), col("violated_rules")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(still == Map(2L -> Seq(1)), s"still quarantined: $still")

    // replaying the SAME reprocess id is a complete no-op: its own output
    // dir is not input, nothing publishes, the version holds at 2
    val replay = ImportPipeline.reprocessQuarantine(
      spark,
      catalogDir = s"$root/catalog",
      acceptedDir = s"$root/accepted",
      quarantineDir = s"$root/quarantine",
      reprocessId = 1L,
      rules = Some(rules))
    assert(replay == ImportPipeline.BatchStats(1L, 0L, 0L, 2L), s"replay: $replay")
    assert(CatalogStore.listVersions(spark, s"$root/catalog") == Seq(1L, 2L))
  }

  test("occupancy from the accepted lake guards CatalogStore.delete end-to-end") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_occ").toString
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L), ("ds-idle", "Idle v1", 1L))
        .toDF("dataset_key", "title", "revision"))

    // before any import: the lake is empty, both datasets are deletable-shaped
    assert(ImportPipeline.occupancy(spark, s"$root/accepted").isEmpty)

    // import a doc for ds-a only
    writeBatch(s"$root/in", Seq(doc(1L, "ds-a", "Alpha v2", 2L, valid = true)))
    runOnce(root)
    val occ = ImportPipeline.occupancy(spark, s"$root/accepted")
    assert(occ.collect().map(_.getString(0)).toSeq == Seq("ds-a"))

    // ds-a still holds accepted objects: delete CONFLICTs, like the
    // reference's storage-prefix listing; the idle dataset deletes fine
    val e = intercept[IllegalArgumentException](CatalogStore.delete(
      spark, s"$root/catalog", Seq("ds-a").toDF("dataset_key"), occ))
    assert(e.getMessage.contains("conflict_nonempty"), e.getMessage)
    val s = CatalogStore.delete(
      spark, s"$root/catalog", Seq("ds-idle").toDF("dataset_key"), occ)
    assert(s.deleted == 1L)
    assert(!catalogMap(root).contains("ds-idle"))
  }

  test("a doc violating multiple rules quarantines once with all rule ids; an all-invalid batch publishes nothing") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_import2").toString
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L)).toDF("dataset_key", "title", "revision"))

    // missing id AND an off-enum stac_version → both rules fire on one doc
    val bad = (9L, "ds-z", "Zeta v1", 1L,
      """{"stac_version":"2.0.0","links":[{"rel":"self","href":"s3://x/y.json"}]}""")
    writeBatch(s"$root/in", Seq(bad))
    runOnce(root)

    // nothing publishable: catalog stays at v1 (no empty snapshot churn)
    assert(CatalogStore.currentVersion(spark, s"$root/catalog").contains(1L))
    val quar = spark.read.parquet(s"$root/quarantine/batch=0")
    assert(quar.count() == 1)
    assert(quar.select(col("violated_rules")).head().getSeq[Int](0) == Seq(1, 2))
    assert(spark.read.parquet(s"$root/accepted/batch=0").isEmpty)
  }

  /** A catalog at `root/catalog` plus three maintained stores seeded from
    * a two-doc corpus (ids 101/102, TRAIN buckets): a dedup index, a
    * corpus-wide count store and a frozen-train count store.
    */
  private def maintainedLake(root: String): ImportPipeline.MaintainedIndexes = {
    import spark.implicits._
    import graft.sources.{DedupIndex, FreqStore}
    CatalogStore.init(spark, s"$root/catalog",
      Seq(("ds-a", "Alpha v1", 1L)).toDF("dataset_key", "title", "revision"))
    val seed = Seq(
      (101L, "seed", "alpha beta gamma delta epsilon zeta eta theta"),
      (102L, "seed", "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "source", "text")
    DedupIndex.init(spark, s"$root/dedup", seed, bands = 8)
    FreqStore.init(spark, s"$root/freq", seed)
    FreqStore.init(spark, s"$root/leak", graft.operators.Dedup.leakTrainSlice(seed))
    ImportPipeline.MaintainedIndexes(
      dedupIndexDir = Some(s"$root/dedup"), freqStoreDirs = Seq(s"$root/freq"),
      trainFreqStoreDirs = Seq(s"$root/leak"))
  }

  /** Batch 0 of the maintained-lake tests: two accepted docs (ids 1 and
    * 2, TRAIN buckets) and one quarantined.
    */
  private def batch0: DataFrame = {
    import spark.implicits._
    Seq(
      doc(1L, "ds-a", "Alpha v2", 2L, valid = true),
      doc(2L, "ds-c", "Gamma v1", 1L, valid = true),
      doc(3L, "ds-d", "Delta v1", 1L, valid = false))
      .toDF("doc_id", "dataset_key", "title", "revision", "j")
  }

  private def process(root: String, maintain: ImportPipeline.MaintainedIndexes) =
    ImportPipeline.processBatch(
      spark, batch0, 0L, s"$root/catalog", s"$root/accepted", s"$root/quarantine", rules,
      maintain = maintain)

  test("a maintained batch times each stage and tags every job with exactly one stage") {
    val root = java.nio.file.Files.createTempDirectory("graft_import_stages").toString
    val maintain = maintainedLake(root)
    val (out, jobs) = JobProbe.probe(spark)(process(root, maintain))
    val stats = out.get
    assert(stats == ImportPipeline.BatchStats(0L, 2L, 1L, 2L), s"stats: $stats")
    val stages =
      Set("quarantine", "accepted", "catalog", s"$root/dedup", s"$root/freq", s"$root/leak")
    assert(stats.stageMs.keySet == stages, s"stages: ${stats.stageMs}")
    val stageTags = jobs.map(_.tags.filter(_.startsWith(ImportPipeline.StageTag)))
    assert(jobs.nonEmpty && stageTags.forall(_.size == 1),
      s"jobs without exactly one stage tag: ${jobs.zip(stageTags).filter(_._2.size != 1).map(_._1)}")
    assert(stageTags.flatten.toSet == stages.map(ImportPipeline.StageTag + _),
      "every stage runs jobs under its own tag")
    assert(jobs.forall(_.endedInBlock), "a job outlived the batch")
  }

  test("a failing store branch fails the batch after its siblings commit; a replay completes it once") {
    import graft.sources.{DedupIndex, FreqStore}
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_import_fail").toString
    val lake = maintainedLake(root)
    // a store this JVM has not listed yet (its markers are not memoized),
    // with its committed marker made unreadable: its listing fails loudly
    val broken = s"$root/freq_moved"
    Files.move(Paths.get(s"$root/freq"), Paths.get(broken))
    val maintain = lake.copy(freqStoreDirs = Seq(broken))
    val marker = Paths.get(s"$broken/v=1/_COMMITTED")
    val good = Files.readAllBytes(marker)
    Files.deleteIfExists(Paths.get(s"$broken/v=1/._COMMITTED.crc"))
    Files.write(marker, "not a marker".getBytes("UTF-8"))

    val (out, jobs) = JobProbe.probe(spark)(process(root, maintain))
    val e = out.failed.get
    assert(e.isInstanceOf[IllegalStateException] && e.getMessage.contains(s"$broken/v=1"),
      s"the broken store's own exception: $e")
    // the catalog published first, and the sibling branches had finished
    // when the batch threw: their versions are out, no job still runs
    assert(CatalogStore.currentVersion(spark, s"$root/catalog").contains(2L))
    assert(DedupIndex.currentVersion(spark, s"$root/dedup").contains(2L))
    assert(FreqStore.currentVersion(spark, s"$root/leak").contains(2L))
    assert(jobs.nonEmpty && jobs.forall(_.endedInBlock), "a job outlived the failed batch")

    // the marker restored, the batch's replay commits it to the broken
    // store once and is a no-op everywhere else
    Files.write(marker, good)
    assert(process(root, maintain) == ImportPipeline.BatchStats(0L, 2L, 1L, 2L))
    assert(CatalogStore.listVersions(spark, s"$root/catalog") == Seq(1L, 2L))
    assert(DedupIndex.listVersions(spark, s"$root/dedup") == Seq(1L, 2L))
    assert(FreqStore.listVersions(spark, broken) == Seq(1L, 2L))
    assert(FreqStore.listVersions(spark, s"$root/leak") == Seq(1L, 2L))
    assert(DedupIndex.hashes(spark, s"$root/dedup").count() == 4L)
    assert(FreqStore.totalDocs(spark, broken) == 4L)
    assert(FreqStore.totalDocs(spark, s"$root/leak") == 4L)
  }
}
