package graftbench

import java.io.File
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.CatalogOps
import graft.sources.{CatalogStore, DedupIndex, FreqStore}
import graft.streaming.ImportPipeline

/** What every workload shares: the session, the inputs, the op recorder. */
final class Ctx(
    val spark: SparkSession, val data: String, val work: String, val seed: Long, val k: Int,
    val tracer: Tracer, val rec: Recorder) {
  val rng = new scala.util.Random(seed)
  private val entry = graft.SparkEntry.queries
  /** Queries whose warm-up output the harness checks against the oracle. */
  val checked = mutable.ArrayBuffer.empty[(String, String)]

  /** A query op: from the call into the query function until its rows are
    * written to the `noop` sink, which reads every column (unlike count()).
    */
  def query(name: String): Unit = read(name)(build(name))

  /** The DataFrame of SparkEntry query `name`. */
  def build(name: String): DataFrame = entry(name)(spark, data)

  /** A query op over any DataFrame, e.g. a store view. */
  def read(name: String)(df: => DataFrame): Unit =
    rec.op("query", name) {
      val d = tracer.span("build")(df)
      tracer.span("execute")(d.write.format("noop").mode("overwrite").save())
    }(_ => None)

  /** The warm-up pass over `names`, run `k` at a time. Each query's rows are
    * written as parquet for the oracle check, which therefore sees every
    * column of every query the timed ops run.
    */
  def warmQueries(names: Seq[String]): Unit = {
    val pool = Executors.newFixedThreadPool(k)
    try {
      names.map { n =>
        n -> pool.submit(new Callable[Either[Throwable, Double]] {
          def call(): Either[Throwable, Double] = {
            val t0 = tracer.now()
            try {
              build(n).write.mode("overwrite").parquet(s"$work/check/$n")
              Right(tracer.now() - t0)
            } catch { case e: Throwable if scala.util.control.NonFatal(e) => Left(e) }
          }
        })
      }.foreach { case (n, f) =>
        val res = f.get()
        res.left.foreach(e =>
          rec.fail(s"query:$n", s"warm-up threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
        rec.samples += Sample(rec.samples.size, "query", n, 0.0, res.getOrElse(0.0), res.isRight,
          timed = false)
        if (res.isRight) checked += (n -> s"$work/check/$n")
      }
    } finally pool.shutdown()
  }
}

/** A workload: set-up (`init`, then one warm-up pass), then rounds of ops
  * until the run's time is up. Each round holds the same multiset of ops in
  * a seeded order, so the mix does not drift with the seed.
  */
trait Workload {
  def init(): Unit = ()
  def warmUp(): Unit
  def ops(r: Int): Seq[() => Unit]
  /** Checks of the final state against the model; outside any timing. */
  def finish(): Unit = ()
  /** Workload figures: user-visible ones plus per-layer observations. */
  def facts: Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, c: Ctx): Workload = name match {
    case "geostore-api" => new GeostoreApi(c)
    case "corpus-batch" => new CorpusBatch(c)
    case "ingest-mixed" => new IngestMixed(c)
    case other          => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** (bytes, files) under `dir`. */
  def du(dir: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk)
        .foldLeft((0L, 0L)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }
      else if (f.isFile) (f.length, 1L)
      else (0L, 0L)
    walk(new File(dir))
  }

  /** The mismatch between the model's and the store's rows, if any. */
  def sameMap[K, V](what: String, model: Map[K, V], got: Map[K, V]): Option[String] =
    if (got == model) None
    else Some(s"$what holds ${got.size} rows, model ${model.size}; " +
      s"e.g. store ${(got.toSet diff model.toSet).take(2)} model ${(model.toSet diff got.toSet).take(2)}")

  /** The `kind` of each committed version of a versioned store, by version. */
  def storeKinds(dir: String): Seq[String] = {
    val Kind = """"kind":"(\w+)"""".r.unanchored
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
      .sortBy(_.getName.stripPrefix("v=").toLong)
      .flatMap { v =>
        val m = new File(v, "_COMMITTED")
        if (!m.isFile) None
        else Kind.findFirstMatchIn(new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8"))
          .map(_.group(1))
      }
  }
}

/** The reference's API traffic: catalog point reads (hits and misses),
  * small catalog writes, and the status/summary queries.
  */
final class GeostoreApi(c: Ctx) extends Workload {
  import c._

  // q67 is the STAC catalog walk of import validation; its BFS rounds run
  // through graft.Iterate, so the driver-loop layer is measured here too
  val statusQueries = Seq(
    "q21_dataset_list", "q22_current_versions", "q57_import_status", "q67_catalog_walk",
    "q68_dataset_upsert", "q87_schema_validate", "q189_retention_sweep", "q278_merkle_manifest")

  private var dir = ""
  // the model: catalogBase as the benchmark computes it from the raw table
  private val model = mutable.HashMap.empty[Long, (String, Int)]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private var created = 0
  private var writeBytes = 0L
  private var writesTimed = 0

  locally {
    spark.read.parquet(s"$data/documents.parquet").select(col("doc_id"), col("source"))
      .collect().foreach { r =>
        val key = r.getLong(0)
        model(key) = (s"${r.getString(1)}/$key", 1)
        keys += key
      }
  }

  override def init(): Unit = {
    dir = s"$work/catalog"
    CatalogStore.init(spark, dir, CatalogOps.catalogBase(Tables(spark, data)))
  }

  // the checked pass runs the queries k at a time; then each catalog op
  // kind runs once, untimed
  def warmUp(): Unit = {
    warmQueries(statusQueries)
    get(hit = true); get(hit = false); find(hit = true); find(hit = false); create(); upsert()
  }

  // the counts per round are assumptions, not measured traffic (README.md,
  // "Traffic mix")
  def ops(r: Int): Seq[() => Unit] = rng.shuffle(
    statusQueries.map(q => () => query(q)) ++
      Seq.fill(4)(() => get(hit = true)) ++ Seq.fill(2)(() => get(hit = false)) ++
      Seq.fill(2)(() => find(hit = true)) ++
      Seq(() => find(hit = false), () => create(), () => upsert(), () => upsert()))

  private def pick(): Long = keys(rng.nextInt(keys.size))

  private def get(hit: Boolean): Unit = {
    val key = if (hit) pick() else -(1L + rng.nextInt(1000000000))
    val want = model.get(key).map { case (t, rev) => (t, rev.toLong) }
    rec.op("lookup", "catalog.get") {
      tracer.span("catalog.get")(CatalogStore.get(spark, dir, key))
    }(got => Recorder.expect(s"get($key)", want, got))
  }

  private def find(hit: Boolean): Unit = {
    val (title, want) =
      if (hit) { val key = pick(); val (t, rev) = model(key); (t, Some((key: Any, rev.toLong))) }
      else (s"absent-${rng.nextInt(1000000000)}", None)
    rec.op("lookup", "catalog.find") {
      tracer.span("catalog.find")(CatalogStore.findByTitle(spark, dir, title))
    }(got => Recorder.expect(s"findByTitle($title)", want, got))
  }

  private def write(name: String, key: Long, title: String, rev: Int, want: (Long, Long)): Unit = {
    val row = spark.createDataFrame(Seq((key, title, rev))).toDF("dataset_key", "title", "revision")
    val before = Workload.du(dir)._1
    rec.op("write", name) {
      tracer.span("catalog.write") {
        if (name == "catalog.create") CatalogStore.create(spark, dir, row)
        else CatalogStore.upsert(spark, dir, row)
      }
    }(st => Recorder.expect(name, want, (st.inserted, st.updated))).foreach { _ =>
      if (!model.contains(key)) keys += key
      model(key) = (title, rev)
    }
    if (rec.timed) { writeBytes += Workload.du(dir)._1 - before; writesTimed += 1 }
  }

  private def create(): Unit = {
    created += 1
    // far above every doc_id, so a create never collides with the base catalog
    write("catalog.create", 1000000000L + created, s"bench-${seed}-$created", 1, (1L, 0L))
  }

  private def upsert(): Unit = {
    val key = pick()
    val (title, rev) = model(key)
    write("catalog.upsert", key, title, rev + 1, (0L, 1L))
  }

  override def finish(): Unit =
    rec.op("check", "catalog.final") {
      CatalogStore.read(spark, dir).collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    }(got => Workload.sameMap("catalog", model.toMap, got))

  override def facts: Map[String, Double] = Map(
    "catalog.versions" -> CatalogStore.listVersions(spark, dir).size.toDouble,
    "catalog.bytes_per_write" -> (if (writesTimed == 0) 0.0 else writeBytes.toDouble / writesTimed))
}

/** The training-data operators on the derived paths (no stores, no
  * `graft.lsh.cache`), one seeded order per round.
  */
final class CorpusBatch(c: Ctx) extends Workload {
  import c._

  val operators = Seq(
    // execution-bound: kernels and shuffle carry the time
    "q41_embedding_neardup", "q187_window_k_sweep",
    // driver-loop-bound: eager jobs in the query function, Iterate rounds
    "q240_recursive_paths", "q263_pagerank")

  def warmUp(): Unit = warmQueries(operators)
  def ops(r: Int): Seq[() => Unit] = rng.shuffle(operators).map(q => () => query(q))
}

/** The import pipeline: seeded batches of STAC docs (some invalid, keys
  * skewed, revisions increasing, descriptions drawn from the corpus so
  * near-duplicates are real) arrive in the source dir of one running
  * `ImportPipeline` that maintains a dedup index and two count stores. A
  * batch op runs from the batch's arrival until `processAllAvailable()`
  * returns; catalog point reads and store reads follow each batch, against
  * what it just changed.
  */
final class IngestMixed(c: Ctx) extends Workload {
  import c._

  // batch size and the shares below are assumptions, not measured traffic
  // (README.md, "Traffic mix")
  val batchDocs = 40
  val maxChain = 2
  val nKeys = 16
  private val invalidShare = 0.125
  private val newKeyShare = 0.1

  private val lake = s"$work/lake"
  private val catalog = s"$lake/catalog"
  private val dedup = s"$lake/dedup"
  private val unigram = s"$lake/freq_unigram"
  private val window = s"$lake/freq_window"
  private val storeDirs = Seq(dedup, unigram, window)
  tracer.storeRoots = storeDirs

  private val descriptions: IndexedSeq[String] =
    spark.read.parquet(s"$data/documents.parquet").select(col("text")).collect()
      .map(_.getString(0)).toIndexedSeq
  private val keyCdf = {
    val w = (1 to nKeys).map(i => 1.0 / i)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private val initialKeys = (0 until nKeys).map(k => f"ds-$k%02d")
  private val revs = mutable.HashMap.from(initialKeys.map(_ -> 1L))
  private val model = mutable.HashMap.from(initialKeys.map(k => k -> (s"$k-r1", 1L)))
  private var nextDoc = 1000000L
  private var accepted, quarantined = 0L
  private var baseHashes, baseDocs = 0L
  private var pipeline: org.apache.spark.sql.streaming.StreamingQuery = null
  private val seenBatches = mutable.HashSet.empty[Long]

  // figures of the timed phase
  private var timedDocs, timedAccepted, timedInputBytes = 0L
  private var timedBatchMs = 0.0
  private val progressMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private var lakeBefore, storesBefore = (0L, 0L)
  private var catalogBefore = 0L
  private var basesBefore = 0

  override def init(): Unit = {
    CatalogStore.init(spark, catalog, spark.createDataFrame(initialKeys.map(k => (k, s"$k-r1", 1L)))
      .toDF("dataset_key", "title", "revision"))
    val corpus = Tables(spark, data).documents.select(col("doc_id"), col("source"), col("text"))
    DedupIndex.init(spark, dedup, corpus, bands = 8)
    FreqStore.init(spark, unigram, corpus)
    FreqStore.init(spark, window, corpus, FreqStore.WindowDoc(8))
  }

  def warmUp(): Unit = {
    baseHashes = DedupIndex.hashes(spark, dedup).count()
    baseDocs = FreqStore.totalDocs(spark, unigram)
    new File(s"$lake/in").mkdirs()
    pipeline = ImportPipeline.start(spark, s"$lake/in", catalog, s"$lake/accepted",
      s"$lake/quarantine", s"$lake/checkpoint",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100),
      maintain = ImportPipeline.MaintainedIndexes(
        dedupIndexDir = Some(dedup), freqStoreDirs = Seq(unigram, window), maxChain = maxChain))
    ops(-1).foreach(_())
  }

  private val storeViews: Seq[(String, () => DataFrame)] = Seq(
    "stores.frequencies" -> (() => FreqStore.frequencies(spark, unigram)),
    "stores.window_counts" -> (() => FreqStore.counts(spark, window)),
    "stores.hashes" -> (() => DedupIndex.hashes(spark, dedup)))

  // with maxChain 2 every second append compacts each store: after the
  // warm-up batch, the timed batch is the one that compacts

  def ops(r: Int): Seq[() => Unit] = {
    if (r == 0) {
      lakeBefore = Workload.du(lake)
      storesBefore = storeDirs.map(Workload.du).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      catalogBefore = Workload.du(catalog)._1
      basesBefore = storeDirs.map(d => Workload.storeKinds(d).count(_ == "base")).sum
    }
    val docs = generate()
    Seq(
      () => batch(docs),
      () => lookup(touched(docs)),
      () => lookup(touched(docs)),
      () => lookup(s"ds-missing-${rng.nextInt(1000000)}"),
      () => find(),
      () => find()) ++
      Seq.fill(2)(storeViews.map { case (n, df) => () => read(n)(df()) }).flatten
  }

  private def pickKey(): String = {
    val u = rng.nextDouble()
    f"ds-${keyCdf.indexWhere(_ >= u) max 0}%02d"
  }

  /** One generated batch: (doc_id, dataset_key, title, revision, j, valid). */
  private def generate(): Seq[(Long, String, String, Long, String, Boolean)] =
    (0 until batchDocs).map { _ =>
      nextDoc += 1
      val id = nextDoc
      val key = if (rng.nextDouble() < newKeyShare) s"ds-n$id" else pickKey()
      val rev = revs.getOrElse(key, 0L) + 1
      revs(key) = rev
      val valid = rng.nextDouble() >= invalidShare
      val desc = Json.str(descriptions(rng.nextInt(descriptions.size)))
      val links =
        s"""[{"rel":"self","href":"https://data.example.com/$id/a"},""" +
          s"""{"rel":"item","href":"https://data.example.com/$id/b"}]"""
      val when = f"2024-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02dT${rng.nextInt(24)}%02d:15:00Z"
      // an invalid doc breaks exactly one rule: a missing id, an unknown
      // stac_version, or a gsd below the minimum
      val (idField, version, gsd) =
        if (valid) (s""""id":"item-$id",""", "1.0.0", 10 + rng.nextInt(90))
        else rng.nextInt(3) match {
          case 0 => ("", "1.0.0", 10 + rng.nextInt(90))
          case 1 => (s""""id":"item-$id",""", "2.0.0", 10 + rng.nextInt(90))
          case _ => (s""""id":"item-$id",""", "1.0.0", rng.nextInt(10))
        }
      val j = s"""{$idField"stac_version":"$version","type":"Feature","description":$desc,""" +
        s""""links":$links,"properties":{"datetime":"$when","gsd":$gsd}}"""
      (id, key, s"$key-r$rev", rev, j, valid)
    }

  private def touched(docs: Seq[(Long, String, String, Long, String, Boolean)]): String = {
    val good = docs.filter(_._6)
    if (good.isEmpty) pickKey() else good(rng.nextInt(good.size))._2
  }

  private def batch(docs: Seq[(Long, String, String, Long, String, Boolean)]): Unit = {
    // the batch arrives: one parquet file in the pipeline's source dir
    spark.createDataFrame(docs.map(d => (d._1, d._2, d._3, d._4, d._5)))
      .toDF("doc_id", "dataset_key", "title", "revision", "j")
      .coalesce(1).write.mode("append").parquet(s"$lake/in")
    val good = docs.filter(_._6)
    val versionBefore = CatalogStore.currentVersion(spark, catalog).getOrElse(0L)
    val done = rec.op("batch", "ingest.batch") {
      tracer.span("batch")(pipeline.processAllAvailable())
    } { _ =>
      Recorder.expect("catalog version after batch",
        if (good.nonEmpty) versionBefore + 1 else versionBefore,
        CatalogStore.currentVersion(spark, catalog).getOrElse(0L))
    }
    good.foreach(d => model(d._2) = (d._3, d._4))
    accepted += good.size
    quarantined += docs.size - good.size
    val progress = pipeline.recentProgress.filter(p => p.numInputRows > 0 && seenBatches.add(p.batchId))
    if (rec.timed && done.isDefined) {
      timedDocs += docs.size
      timedAccepted += good.size
      timedInputBytes += docs.map(_._5.getBytes("UTF-8").length.toLong).sum
      timedBatchMs += rec.samples.last.ms
      progress.foreach(_.durationMs.asScala.foreach { case (k, v) => progressMs(k) += v.doubleValue })
    }
  }

  private def lookup(key: String): Unit =
    rec.op("lookup", "catalog.get") {
      tracer.span("catalog.get")(CatalogStore.get(spark, catalog, key))
    }(got => Recorder.expect(s"get($key)", model.get(key), got))

  private def find(): Unit = {
    val key = model.keys.toSeq.sorted.apply(rng.nextInt(model.size))
    val (title, rev) = model(key)
    rec.op("lookup", "catalog.find") {
      tracer.span("catalog.find")(CatalogStore.findByTitle(spark, catalog, title))
    }(got => Recorder.expect(s"findByTitle($title)", Some((key: Any, rev)), got))
  }

  override def finish(): Unit = {
    pipeline.stop()
    rec.op("check", "catalog.final") {
      CatalogStore.read(spark, catalog).collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    }(got => Workload.sameMap("catalog", model.toMap, got))
    def expectCount(what: String, want: Long)(got: => Long): Unit =
      rec.op("check", what)(got)(g => Recorder.expect(what, want, g))
    expectCount("accepted docs", accepted)(spark.read.parquet(s"$lake/accepted").count())
    expectCount("quarantined docs", quarantined)(spark.read.parquet(s"$lake/quarantine").count())
    expectCount("unigram store docs", baseDocs + accepted)(FreqStore.totalDocs(spark, unigram))
    // every accepted doc's JSON is unique (it carries its id), so each adds one hash
    expectCount("dedup index hashes", baseHashes + accepted)(DedupIndex.hashes(spark, dedup).count())
  }

  override def facts: Map[String, Double] = {
    val lakeAfter = Workload.du(lake)
    val storesAfter = storeDirs.map(Workload.du).reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val kinds = storeDirs.map(Workload.storeKinds)
    val timedBatches = rec.samples.count(s => s.timed && s.kind == "batch")
    Map(
      "docs_per_s" -> (if (timedBatchMs > 0) timedDocs / (timedBatchMs / 1000) else 0.0),
      "stored_bytes_per_input_byte" ->
        (if (timedInputBytes > 0) (lakeAfter._1 - lakeBefore._1).toDouble / timedInputBytes else 0.0),
      "catalog.versions" -> CatalogStore.listVersions(spark, catalog).size.toDouble,
      "catalog.bytes_per_write" ->
        (if (timedBatches == 0) 0.0 else (Workload.du(catalog)._1 - catalogBefore).toDouble / timedBatches),
      "stores.chain_len" -> kinds.map(ks => ks.size - ks.lastIndexOf("base")).max.toDouble,
      "stores.compactions" -> (kinds.map(_.count(_ == "base")).sum - basesBefore).toDouble,
      "stores.bytes_written_mb" -> (storesAfter._1 - storesBefore._1) / (1024.0 * 1024.0),
      "stores.files_written" -> (storesAfter._2 - storesBefore._2).toDouble,
      "pipeline.add_batch_ms" -> progressMs("addBatch"),
      "pipeline.plan_ms" -> progressMs("queryPlanning"),
      "pipeline.wal_ms" -> progressMs("walCommit"),
      "pipeline.accepted_ratio" -> (if (timedDocs == 0) 0.0 else timedAccepted.toDouble / timedDocs))
  }
}
