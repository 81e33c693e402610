package graft.streaming

import java.util.concurrent.{
  Callable, ConcurrentHashMap, ConcurrentLinkedQueue, Executors, Future, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Lake
import graft.sources.CatalogStore

/** The reference's END-TO-END import pipeline as one wired streaming flow —
  * `import_metadata_file/task.py:34-58` (fetch + link rewrite) →
  * `check_stac_metadata/task.py` (schema validation, results recorded per
  * URL via `validation_results_model.py`) → `populate_catalog/task.py:74+`
  * (catalog update), which the reference chains as step-function states
  * over SQS/Lambda. Here the chain is a Structured Streaming file source
  * feeding one `foreachBatch` stage per micro-batch:
  *
  *   1. IMPORT — rewrite each arriving doc's links the way the importer
  *      does before `put_object` (`import_metadata_file/task.py:46-53`:
  *      drop `self` links, point `root` at the parent catalog, reduce
  *      other hrefs to basenames).
  *   2. VALIDATE — the q87 rules relation + dispatch (`Lake
  *      .stacViolations`), the same map-side stage batch q87 uses.
  *   3. CHECKSUM (optional) — every asset each doc declares is verified
  *      against the staged payloads by multihash (`check_files_checksums/
  *      utils.py:89-110`, q23's dispatch); a missing or corrupt asset
  *      fails its doc like a rule violation does.
  *   4. SPLIT — docs with zero violations and zero bad assets are
  *      accepted; the rest land in a quarantine lake with their offending
  *      rule ids and bad-asset counts (the reference's per-URL
  *      validation-results records; a failed check routes the step
  *      function away from import — `check_stac_metadata/task.py` saves
  *      the error and the state machine stops the dataset version).
  *   5. PUBLISH — accepted docs are written to the storage lake and their
  *      (dataset_key, title, revision) rows upserted into the
  *      `CatalogStore` (populate_catalog's root-catalog update).
  *
  * A batch's side-effects run as a small fixed set of concurrent
  * branches (nothing reads another branch's output except where noted):
  *   - the ACCEPTED chain, on the batch thread, writes the accepted docs,
  *     copies their assets, then upserts the catalog;
  *   - the QUARANTINE branch, started once the accepted write has cached
  *     the validated batch, writes and counts the quarantined docs;
  *   - after that publish, one MAINTAIN branch per maintained store
  *     appends and compacts it (a train projection runs in its windoc
  *     store's branch, after the delta it reads is committed).
  * Every branch has joined before the batch returns or throws.
  *
  * EXACTLY-ONCE across restarts, without a transactional sink: the
  * streaming checkpoint makes batch REPLAY the only failure mode (a crash
  * after side-effects but before the commit marker re-runs the same batch
  * id with the same file list), and every side-effect is idempotent under
  * replay, in whatever order the branches reached it —
  *   - accepted/quarantine parquet goes to a DETERMINISTIC per-batch dir
  *     (`batch=<id>`) in overwrite mode: a replay rewrites the same rows
  *     at the same path. Nothing reads the quarantine dir inside the
  *     batch, so its write may land before or after the catalog publish;
  *   - `CatalogStore.upsert` keeps the base row on revision ties, so
  *     re-applying an already-published change batch publishes nothing
  *     (the store's documented replays-are-no-ops contract);
  *   - the catalog publishes before any maintained store is touched (the
  *     order readers rely on: no store holds a batch the catalog has not
  *     published), and each store append carries the batch tag, so on
  *     replay a store that already committed the batch is a marker-scan
  *     no-op while a sibling whose branch failed commits it once. The
  *     stores have separate dirs, commit markers and tags, so no store's
  *     outcome depends on another's.
  *
  * Scale shape: everything before the upsert is map-side per micro-batch
  * (the rules relation rides inside an explode); the upsert is the
  * store's single keyed shuffle. A 1000-executor ingest partitions by
  * arriving file, exactly like the reference fans Lambda invocations out
  * per metadata URL.
  */
object ImportPipeline {

  /** Arriving-metadata schema: one row per staged STAC doc. */
  val inputSchema: StructType = StructType.fromDDL(
    "doc_id BIGINT, dataset_key STRING, title STRING, revision BIGINT, j STRING")

  /** What one batch did. `stageMs` is each stage's wall time in ms —
    * `quarantine`, `accepted`, `assets` (when assets are copied),
    * `catalog`, and one entry per maintained store dir (projections
    * included) when the batch maintained its stores. Branches overlap, so
    * the times do not add up to the batch's. Timings are not part of a
    * batch's identity: two stats compare equal on their counts alone.
    */
  final case class BatchStats(
      batchId: Long, accepted: Long, quarantined: Long, publishedVersion: Long,
      assetsCopied: Long)(val stageMs: Map[String, Long])

  object BatchStats {
    /** Stats of a batch that ran no timed stage. */
    def apply(
        batchId: Long, accepted: Long, quarantined: Long, publishedVersion: Long,
        assetsCopied: Long = 0L): BatchStats =
      new BatchStats(batchId, accepted, quarantined, publishedVersion, assetsCopied)(Map.empty)
  }

  /** The reference's `import_asset_file/task.py` EXECUTE step (S3 Batch
    * copy of each staged asset to its storage-bucket target key,
    * re-expressed on the parquet lake): for every asset an ACCEPTED doc
    * declares, re-verify the staged payload against its `file:checksum`
    * multihash (q23's dispatch — the copy never trusts the earlier gate)
    * and land (target_key, payload, checksum, size) rows in the asset
    * lake under the batch's deterministic overwrite dir, so a crash
    * replay rewrites the same rows at the same path — idempotent like
    * every other side-effect here. A re-verification failure or a
    * target-key collision FAILS the batch loudly BEFORE the catalog
    * publish (the reference's import_asset_file likewise raises) — an
    * accepted doc must never publish with its manifest pointing at an
    * asset the lake doesn't hold. Target keys follow q26's manifest
    * rule: `datasets/<dataset_key>/<basename(href)>` (geostore's
    * `<dataset>/<version>/<basename>` shape). Readers point-read with a
    * target_key predicate pushed to the parquet scan.
    *
    * Map-side end to end: the manifest explode, the href equi-join
    * against the staged payloads, the sha2 re-hash, and the write — no
    * shuffle beyond the join, which at 100 TB is keyed on href exactly
    * like the reference fans its batch-copy manifest out per object.
    */
  private[graft] def copyAssets(
      accepted: DataFrame, payloads: DataFrame, assetLakeDir: String, tag: String): Long = {
    val checked = declaredAssets(accepted)
      .join(accepted.select(col("doc_id"), col("dataset_key")), Seq("doc_id"))
      .join(payloads.select(col("href"), col("payload")), Seq("href"), "left")
      .withColumn("ok", col("payload").isNotNull && multihashOk(col("expected"), col("payload")))
      .withColumn(
        "target_key",
        concat(lit("datasets/"), col("dataset_key"), lit("/"),
          regexp_replace(col("href"), ".*/", "")))
      .persist()
    try {
      // an accepted doc's assets all verified at the gate, so a failure
      // HERE means the staging area changed under the batch — the
      // reference fails the import (import_asset_file raises); silently
      // skipping would publish a doc whose manifest points at nothing
      val bad = checked.filter(!col("ok"))
        .select(col("doc_id"), col("asset_name"), col("href")).limit(5).collect()
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"asset copy for batch $tag: staged payloads failed copy-time re-verification " +
            s"(gate-accepted assets changed mid-batch?) — e.g. " +
            bad.map(r => s"doc ${r.getLong(0)} asset '${r.getString(1)}' @ ${r.getString(2)}")
              .mkString("; ") + "; nothing copied, batch fails before publish")
      // distinct hrefs sharing a basename under one dataset would
      // silently land two payloads at one key — refuse, like a manifest
      // with duplicate targets
      val dupKeys = checked.groupBy(col("target_key")).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1).select(col("target_key")).limit(5).collect()
      if (dupKeys.nonEmpty)
        throw new IllegalStateException(
          s"asset copy for batch $tag: distinct asset hrefs collide on target key(s) " +
            dupKeys.map(_.getString(0)).mkString(", ") +
            " — disambiguate the basenames; nothing copied, batch fails before publish")
      checked.select(
          col("target_key"),
          col("href").as("source_key"),
          col("doc_id"), col("asset_name"),
          col("expected").as("checksum"),
          length(col("payload")).cast("long").as("size"),
          col("payload"))
        .write.mode("overwrite").parquet(s"$assetLakeDir/batch=$tag")
      // count what LANDED (read back), not what the plan promised
      checked.sparkSession.read.parquet(s"$assetLakeDir/batch=$tag").count()
    } finally { checked.unpersist(); () }
  }

  /** A frozen-train [[graft.sources.FreqStore.WindowSrc]] store that is a
    * PROJECTION of a maintained WindowDoc store (built by
    * `initWinSrcProjection`): per accepted batch, MAINTAIN appends the
    * train-slice rollup of the windoc store's OWN just-committed delta
    * (`appendWinSrcProjection`) — the batch's window explode happens
    * once, in the windoc append, instead of once per store. `windocDir`
    * must itself be in `freqStoreDirs`, or the source delta this
    * projection reads would never exist.
    */
  final case class TrainProjection(dir: String, windocDir: String)

  /** Which lake indexes ingest maintains per ACCEPTED batch (step 6 of the
    * flow) — the artifacts the dedup/leakage/frequency queries probe, kept
    * current the way geostore stores per-file checksums at import time
    * instead of re-hashing the lake per query:
    *   - `dedupIndexDir`: a [[graft.sources.DedupIndex]] (content hashes,
    *     minhash bands, window hashes — q107/deltaSubstring's probe).
    *   - `freqStoreDirs`: any number of [[graft.sources.FreqStore]]s fed
    *     the WHOLE accepted batch; each applies its own pinned family
    *     (unigram/bigram/corpus-wide winsrc).
    *   - `trainFreqStoreDirs`: FreqStores fed only the accepted batch's
    *     FROZEN-TRAIN slice (`Dedup.leakTrainSlice`, the q103/q120 md5
    *     bucket < 90) — the `graft.leak.store` artifact. Eval-bucket docs
    *     must NEVER reach a train-window store: count-merge cannot be
    *     undone, and a single eval doc appended there reads back as 100%
    *     leaked in q120/q143/q146.
    * Accepted docs map to the corpus shape (doc_id, source=dataset_key,
    * text=j). Appends are tagged with the batch tag, so a crash-replay of
    * a committed batch is a marker-scan no-op — the count-merge stores
    * stay exactly-once without a transactional sink.
    *
    * `maxChain` bounds read fan-in: after each append the store folds its
    * base+delta chain once it exceeds this many versions
    * (`compactIfNeeded` — content-preserving and replay-safe, so it can
    * sit inside the batch path). History GC is deliberately NOT automatic
    * here: append tags live in version markers, and the explicit `gc` op
    * documents its replay-horizon contract.
    */
  final case class MaintainedIndexes(
      dedupIndexDir: Option[String] = None,
      freqStoreDirs: Seq[String] = Nil,
      trainFreqStoreDirs: Seq[String] = Nil,
      trainProjections: Seq[TrainProjection] = Nil,
      maxChain: Int = 8) {
    // a dir in BOTH lists would get the full batch under the batch tag
    // first, turning the train-slice append into a tag no-op — the
    // frozen-train store silently keeps eval-bucket windows forever
    require(freqStoreDirs.toSet.intersect(trainFreqStoreDirs.toSet).isEmpty,
      "freqStoreDirs and trainFreqStoreDirs must be disjoint: " +
        freqStoreDirs.toSet.intersect(trainFreqStoreDirs.toSet).mkString(","))
    // same tag-no-op hazard for a projection target that also receives
    // direct appends
    require(trainProjections.map(_.dir).toSet
        .intersect((freqStoreDirs ++ trainFreqStoreDirs).toSet).isEmpty,
      "a projection target dir must not also receive direct appends")
    require(trainProjections.forall(p => freqStoreDirs.contains(p.windocDir)),
      "each TrainProjection.windocDir must be a maintained freqStoreDirs entry — " +
        "otherwise the projection has no per-batch source delta to read")
    def isEmpty: Boolean =
      dedupIndexDir.isEmpty && freqStoreDirs.isEmpty && trainFreqStoreDirs.isEmpty &&
        trainProjections.isEmpty
  }

  /** The importer's link rewrite (`import_metadata_file/task.py:46-53`) as
    * one codegen'd expression over the raw doc JSON: `self` links are
    * dropped, the `root` link is re-pointed at the parent catalog, every
    * other href becomes its basename. Returns the rewritten links as a
    * TYPED array column (the Spark-idiomatic form of the importer's
    * in-place JSON mutation — stored next to the raw doc, so downstream
    * readers get parsed links without re-parsing JSON); NULL when the doc
    * has no `links` array (the importer's `.get(STAC_LINKS_KEY, [])`).
    */
  private[graft] def rewriteLinks(j: Column): Column = {
    val links = from_json(
      get_json_object(j, "$.links"),
      "array<struct<rel:string,href:string>>",
      Map.empty[String, String])
    transform(
      filter(links, x => x.getField("rel") =!= lit("self")),
      x => struct(
        x.getField("rel").as("rel"),
        when(x.getField("rel") === lit("root"), lit("../catalog.json"))
          .otherwise(regexp_replace(x.getField("href"), ".*/", ""))
          .as("href")))
  }

  /** Declared assets extracted from a doc's STAC `assets` dict — one row
    * per (doc, asset) with the href and the `file:checksum` multihash the
    * reference's checksum step verifies (`check_stac_metadata/utils.py`
    * registers each asset as a ProcessingAssetType.DATA item;
    * `check_files_checksums/utils.py:89-110` validates it). Docs without
    * an `assets` object produce no rows (nothing to verify).
    */
  private[graft] def declaredAssets(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        explode(from_json(
          get_json_object(col("j"), "$.assets"),
          "map<string,struct<href:string,`file:checksum`:string>>",
          Map.empty[String, String])).as(Seq("asset_name", "a")))
      .select(
        col("doc_id"), col("asset_name"),
        col("a.href").as("href"), col("a.`file:checksum`").as("expected"))

  /** Multihash verification, q23's dispatch (`check_files_checksums/
    * utils.py:27`): prefix 0x12 ⇒ sha2-256 (`1220` + 32-byte digest),
    * 0x13 ⇒ sha2-512 (`1340` + 64-byte digest); unknown prefixes never
    * verify. Codegen'd sha2 next to the scan — no shuffle.
    */
  private[graft] def multihashOk(expected: Column, payload: Column): Column =
    when(substring(expected, 1, 2) === "12",
      concat(lit("1220"), sha2(payload, 256)) === expected)
      .when(substring(expected, 1, 2) === "13",
        concat(lit("1340"), sha2(payload, 512)) === expected)
      .otherwise(lit(false))

  /** Duplicate rule ids would silently corrupt the composite-flags
    * map_from_entries fold and quarantine attribution; `loadRules`
    * enforces uniqueness for file-loaded rule sets, and this mirrors that
    * require for caller-supplied ones (ADVICE r8).
    */
  private def requireUniqueRuleIds(rules: Seq[Lake.Rule]): Seq[Lake.Rule] = {
    val dups = rules.groupBy(_.id).collect { case (id, rs) if rs.size > 1 => id }
    require(dups.isEmpty,
      s"duplicate rule_id(s) in resolved rule set: ${dups.toSeq.sorted.mkString(",")}")
    rules
  }

  /** The Spark job tag every job of a batch stage carries:
    * `graft.ingest.<stage>`, the stage named as in [[BatchStats.stageMs]].
    */
  val StageTag = "graft.ingest."

  /** Starts a batch branch: `op` runs on a pool thread of its own; the
    * result is readable once the batch has joined.
    */
  private trait Fork { def apply[T](op: => T): Future[T] }

  /** Runs `body` on the calling thread with a [[Fork]] onto a pool of
    * `size` threads made for this call, then joins every forked branch
    * before it returns or throws, so nothing a branch reads is released
    * under it. A pool thread is made when its branch is forked, by the
    * forking thread, so it inherits that thread's Spark local properties:
    * the streaming query's job group (which `stop()` cancels), the SQL
    * execution id and any caller's tags. The first failure in time is
    * rethrown as it was thrown, the others attached to it as suppressed.
    * A join interrupted by `stop()` interrupts the branches and still
    * waits them out.
    */
  private def inBranches[A](name: String, size: Int)(body: Fork => A): A = {
    val pool = Executors.newFixedThreadPool(size, (r: Runnable) => {
      val t = new Thread(r, s"graft-ingest-$name")
      t.setDaemon(true)
      t
    })
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val out =
      try Some(body(new Fork {
        def apply[T](op: => T): Future[T] = pool.submit(new Callable[T] {
          def call(): T = try op catch { case t: Throwable => failures.add(t); throw t }
        })
      }))
      catch { case t: Throwable => failures.add(t); None }
    pool.shutdown()
    var interrupted = false
    while (!pool.isTerminated)
      try pool.awaitTermination(1, TimeUnit.MINUTES)
      catch { case _: InterruptedException => interrupted = true; pool.shutdownNow() }
    if (interrupted) Thread.currentThread().interrupt()
    failures.asScala.toList match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => out.get
    }
  }

  /** One micro-batch through validate → checksum → split → publish.
    * Exposed so the spec can drive a replay directly; `start` wires it
    * into foreachBatch. `assetPayloads` is the staged-object lookup
    * (href, payload) the reference's checksum Lambda reads from the
    * staging bucket; when supplied, a doc is accepted only if EVERY
    * declared asset's payload is present and its multihash verifies —
    * failures quarantine the doc with `n_bad_assets` alongside any rule
    * violations (the reference likewise fails the dataset version on
    * either check).
    */
  private[graft] def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      batchId: Long,
      catalogDir: String,
      acceptedDir: String,
      quarantineDir: String,
      rules: Seq[Lake.Rule],
      assetPayloads: Option[DataFrame] = None,
      maintain: MaintainedIndexes = MaintainedIndexes(),
      assetLakeDir: Option[String] = None): BatchStats =
    processTagged(
      spark, batch, batchId, batchId.toString, catalogDir, acceptedDir, quarantineDir,
      rules, assetPayloads, maintain, assetLakeDir)

  /** The batch kernel, keyed by an output-dir `tag` so streaming batches
    * (`batch=<id>`) and quarantine reprocess runs (`batch=reproc-<id>`)
    * can never collide on a path.
    */
  private def processTagged(
      spark: SparkSession,
      batch: DataFrame,
      statsId: Long,
      tag: String,
      catalogDir: String,
      acceptedDir: String,
      quarantineDir: String,
      rules: Seq[Lake.Rule],
      assetPayloads: Option[DataFrame],
      maintain: MaintainedIndexes,
      assetLakeDir: Option[String] = None): BatchStats = {
    requireUniqueRuleIds(rules)
    val imported = batch
      .withColumn("links", rewriteLinks(col("j")))
      .persist()
    try {
      val badRules = Lake
        .stacViolations(imported.select(col("doc_id"), col("j")), rules)
        .filter(col("violated") === 1)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_set(col("rule_id"))).as("violated_rules"))
      val badDocs = assetPayloads match {
        case None =>
          badRules.withColumn("n_bad_assets", lit(0L))
        case Some(payloads) =>
          val badAssets = declaredAssets(imported)
            .join(payloads.select(col("href"), col("payload")), Seq("href"), "left")
            .filter(col("payload").isNull || !multihashOk(col("expected"), col("payload")))
            .groupBy(col("doc_id"))
            .agg(count(lit(1)).as("n_bad_assets"))
          badRules.join(badAssets, Seq("doc_id"), "full_outer")
            .select(
              col("doc_id"),
              coalesce(col("violated_rules"), array().cast("array<int>")).as("violated_rules"),
              coalesce(col("n_bad_assets"), lit(0L)).as("n_bad_assets"))
      }
      val quarantined = imported.join(badDocs, Seq("doc_id")).persist()
      val accepted = imported
        .join(badDocs.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .persist()
      try {
        val stageMs = new ConcurrentHashMap[String, Long]()
        // a job tag, not a job group: a group would replace the streaming
        // query's own, which stop() cancels
        def stage[A](name: String)(op: => A): A = {
          val jobTag = StageTag + name.replace(',', '_') // tags hold no commas
          spark.sparkContext.addJobTag(jobTag)
          val t0 = System.nanoTime()
          try op
          finally {
            spark.sparkContext.removeJobTag(jobTag)
            stageMs.put(name, (System.nanoTime() - t0) / 1000000L)
          }
        }
        // The pipeline is the SINGLE serialized writer of the catalog it
        // publishes to and of its maintained stores (micro-batches run one
        // at a time off one checkpoint), so a blocked version claim here
        // can only be its OWN crash debris — a marker-less v=N left by a
        // mid-publish crash. Self-repair once and retry instead of wedging
        // every checkpoint replay behind 'run repair()'; outside this
        // single-writer context the stores' loud-loss contract stands (a
        // foreign writer's in-flight rename must never be reaped).
        // by TYPE, not message text (the shared CasProtocol.selfRepairing
        // catches the dedicated SlotBlockedException class, so a message
        // rewording can never silently disable self-repair)
        def withSelfRepair[A](repair: => Seq[String])(op: => A): A =
          graft.sources.CasProtocol.selfRepairing(repair)(op)
        val storeDirs =
          maintain.dedupIndexDir.toSeq ++ maintain.freqStoreDirs ++ maintain.trainFreqStoreDirs
        val (nAccepted, nQuarantined, version, nAssets) =
          inBranches(tag, 1 + storeDirs.size) { fork =>
            // deterministic per-batch dirs + overwrite = idempotent replay
            val nAccepted = stage("accepted") {
              accepted.write.mode("overwrite").parquet(s"$acceptedDir/batch=$tag")
              accepted.count()
            }
            // forked once the accepted write has cached the validated
            // batch: started beside it, both writes would validate it
            val nQuarantined = fork(stage("quarantine") {
              quarantined.write.mode("overwrite").parquet(s"$quarantineDir/batch=$tag")
              quarantined.count()
            })
            // the import_asset_file EXECUTE step: accepted docs' verified
            // asset payloads land at their manifest target keys
            val nAssets = (assetPayloads, assetLakeDir) match {
              case (Some(p), Some(lake)) => stage("assets")(copyAssets(accepted, p, lake, tag))
              case _                     => 0L
            }
            val published = stage("catalog") {
              withSelfRepair(CatalogStore.repair(spark, catalogDir)) {
                CatalogStore.upsert(
                  spark, catalogDir,
                  accepted.select(col("dataset_key"), col("title"), col("revision")))
              }
            }
            // 6. MAINTAIN — append the accepted batch to the configured lake
            // indexes, one branch per store, tagged with this batch's output
            // tag so a replay after a crash-between-side-effects is a
            // marker-scan no-op (exactly-once for the count-merge stores;
            // the set stores are idempotent anyway)
            if (!maintain.isEmpty && nAccepted > 0) {
              val corpus = accepted.select(
                col("doc_id"), col("dataset_key").as("source"), col("j").as("text"))
              maintain.dedupIndexDir.foreach { d =>
                fork(stage(d)(withSelfRepair(graft.sources.DedupIndex.repair(spark, d)) {
                  graft.sources.DedupIndex.append(spark, d, corpus, tag = Some(tag))
                  graft.sources.DedupIndex.compactIfNeeded(spark, d, maintain.maxChain)
                }))
              }
              maintain.freqStoreDirs.foreach { d =>
                fork {
                  stage(d)(withSelfRepair(graft.sources.FreqStore.repair(spark, d)) {
                    graft.sources.FreqStore.append(spark, d, corpus, tag = Some(tag))
                    graft.sources.FreqStore.compactIfNeeded(spark, d, maintain.maxChain)
                  })
                  // projected frozen-train stores ride the windoc append
                  // just committed: one explode per batch, the train slice
                  // comes from the committed delta, not the corpus
                  maintain.trainProjections.filter(_.windocDir == d).foreach { p =>
                    stage(p.dir)(withSelfRepair(graft.sources.FreqStore.repair(spark, p.dir)) {
                      graft.sources.FreqStore.appendWinSrcProjection(
                        spark, p.dir, p.windocDir, tag, graft.operators.Dedup.leakTrainSlice)
                      graft.sources.FreqStore.compactIfNeeded(spark, p.dir, maintain.maxChain)
                    })
                  }
                }
              }
              // frozen-train stores get ONLY the train-bucket slice — an
              // eval-bucket doc in a train-window store is unremovable
              // contamination of the leakage audits (count-merge is additive)
              maintain.trainFreqStoreDirs.foreach { d =>
                fork(stage(d)(withSelfRepair(graft.sources.FreqStore.repair(spark, d)) {
                  graft.sources.FreqStore.append(
                    spark, d, graft.operators.Dedup.leakTrainSlice(corpus), tag = Some(tag))
                  graft.sources.FreqStore.compactIfNeeded(spark, d, maintain.maxChain)
                }))
              }
            }
            (nAccepted, nQuarantined, published.version, nAssets)
          }
        new BatchStats(statsId, nAccepted, nQuarantined.get(), version, nAssets)(
          stageMs.asScala.toMap)
      } finally {
        quarantined.unpersist()
        accepted.unpersist()
      }
    } finally imported.unpersist()
  }

  /** Start the wired pipeline over a streaming file source of arriving
    * metadata. The `CatalogStore` at `catalogDir` must already be
    * initialized (the reference likewise imports into an existing root
    * catalog). Restart with the same `checkpointDir` resumes exactly-once.
    */
  def start(
      spark: SparkSession,
      sourceDir: String,
      catalogDir: String,
      acceptedDir: String,
      quarantineDir: String,
      checkpointDir: String,
      rules: Option[Seq[Lake.Rule]] = None,
      assetPayloads: Option[DataFrame] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      maintain: MaintainedIndexes = MaintainedIndexes(),
      assetLakeDir: Option[String] = None): StreamingQuery = {
    // fail BEFORE the stream starts, not per-batch inside foreachBatch
    val resolved = requireUniqueRuleIds(rules.getOrElse(Lake.loadRules(spark)))
    spark.readStream
      .schema(inputSchema)
      .parquet(sourceDir)
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(
          spark, batch, batchId, catalogDir, acceptedDir, quarantineDir, resolved,
          assetPayloads, maintain, assetLakeDir)
        ()
      }
      .start()
  }

  /** The storage-side occupancy relation for `CatalogStore.delete`'s
    * emptiness guard — reference `datasets/delete.py:53-61` lists the
    * dataset's storage-bucket prefix before allowing a delete; here the
    * storage analog is the accepted-docs lake, so occupancy = the
    * distinct dataset keys it still holds (empty when the lake doesn't
    * exist yet). One column-pruned scan, distinct is metadata-scale.
    */
  def occupancy(spark: SparkSession, acceptedDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(acceptedDir)
    val hfs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(p) || !hfs.listStatus(p).exists(_.isDirectory))
      spark.range(0).select(lit("").as("dataset_key"))
    else spark.read.parquet(acceptedDir).select(col("dataset_key")).distinct()
  }

  /** Re-validate everything in quarantine against the CURRENT rules
    * relation and promote now-clean docs through the exact same
    * split/publish kernel — the reference's fix-and-reupload loop (a
    * failed dataset version re-enters the state machine and re-runs
    * `check_stac_metadata` after the metadata or the schema registry is
    * fixed). Docs that still fail re-quarantine under `batch=reproc-<id>`
    * with their violation attribution RECOMPUTED against the current
    * rules; the consumed quarantine dirs are removed last.
    *
    * Idempotent under crash-replay at every window, provided the caller
    * reuses the same `reprocessId` until a run completes (and picks a new
    * one after): outputs go to deterministic overwrite dirs keyed by the
    * id, the publish is the store's replays-are-no-op upsert, and a crash
    * before the final dir sweep just means the rerun re-reads the
    * originals plus its own still-bad output — deduplicated by doc_id —
    * and converges to the same state. The catalog version advances at
    * most once per actual promotion, never on replay.
    *
    * Scale shape: identical to a streaming batch (map-side validate, one
    * keyed upsert shuffle); the quarantine read is a plain parquet scan
    * over the per-batch dirs.
    */
  def reprocessQuarantine(
      spark: SparkSession,
      catalogDir: String,
      acceptedDir: String,
      quarantineDir: String,
      reprocessId: Long,
      rules: Option[Seq[Lake.Rule]] = None,
      assetPayloads: Option[DataFrame] = None,
      maintain: MaintainedIndexes = MaintainedIndexes(),
      assetLakeDir: Option[String] = None): BatchStats = {
    val resolved = requireUniqueRuleIds(rules.getOrElse(Lake.loadRules(spark)))
    val tag = s"reproc-$reprocessId"
    val qRoot = new org.apache.hadoop.fs.Path(quarantineDir)
    val hfs = qRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val currentVersion = CatalogStore.currentVersion(spark, catalogDir)
      .getOrElse(throw new IllegalStateException(s"no published catalog at $catalogDir"))
    val consumed =
      if (!hfs.exists(qRoot)) Seq.empty
      else hfs.listStatus(qRoot).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch="))
        .map(_.getPath)
        .filterNot(_.getName == s"batch=$tag")
    if (consumed.isEmpty) return BatchStats(reprocessId, 0L, 0L, currentVersion)
    // a crashed earlier attempt's own still-bad output re-enters the input
    // so the rerun converges instead of forgetting its re-attribution
    val own = new org.apache.hadoop.fs.Path(qRoot, s"batch=$tag")
    val inputDirs = (consumed ++ (if (hfs.exists(own)) Seq(own) else Nil)).map(_.toString)
    val input = spark.read.parquet(inputDirs: _*)
      .select(col("doc_id"), col("dataset_key"), col("title"), col("revision"), col("j"))
      .dropDuplicates("doc_id")
      // cut from the source files: the kernel's writes and the sweep below
      // must not race a lazy re-scan of dirs we are about to delete
      .localCheckpoint(true)
    val stats = processTagged(
      spark, input, reprocessId, tag, catalogDir, acceptedDir, quarantineDir,
      resolved, assetPayloads, maintain, assetLakeDir)
    consumed.foreach(p => hfs.delete(p, true))
    stats
  }
}
