package graft.sources

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, sources => pushed}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, Cast, EqualTo, EvalMode, Literal, Murmur3Hash, Predicate, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** A catalog version's manifest: row count and content hash. Every catalog
  * version is a base, so its read chain is the version alone and the
  * chain's "sums" are its own rows and xor.
  */
private[sources] final case class CatalogMeta(rows: Long, xor: Long) extends VersionMeta {
  def kind: String = "base"
  def counts: Seq[Long] = Seq(rows, xor)
}

/** The EXECUTE path for catalog maintenance — where q68 (upsert) and q85
  * (retention GC) stop being plan-as-query and actually mutate durable
  * state, re-expressing reference `datasets/update.py:14-58` (dataset
  * attribute update) and `update_root_catalog/task.py` (batched root-
  * catalog changes) on a parquet lake instead of DynamoDB/S3 objects.
  *
  * Layout under `dir`:
  * {{{
  *   v=1/shard=0..15/part-*.parquet   immutable catalog snapshots
  *   v=1/_COMMITTED                   marker: the snapshot is published
  *   _staging/v2-<uuid>/...           a writer's private, in-flight snapshot
  * }}}
  *
  * The store is a [[VersionedStore]] whose one relation is the ROOT
  * relation (the snapshot at `v=N`, partitioned by `shard`) and whose
  * every version is a base. The core owns the listing, the marker's
  * schema field, the CAS publish, repair and the gc walk; this object
  * keeps only what is the catalog's: the marker body `{"rows":N,"xor":X}`
  * (the snapshot manifest, see [[manifestOf]]), the keep-latest merge,
  * create/delete validation, the verifying reads and the driver-side
  * [[get]], and file compaction. The marker's schema is the snapshot's
  * read schema (data columns plus `shard`); a marker written before the
  * schema was carried resolves it through the core's one inference per
  * file identity. Anything else in the marker is corruption: listing,
  * repair and every read fail on it loudly.
  *
  * Write protocol (crash-safe, idempotent, COMPARE-AND-SWAP — the batch
  * analog of the exactly-once streaming sink spec'd in SourcesSpec):
  *   1. merge change batch against the current snapshot (keep-latest by
  *      revision; base wins ties so replays are no-ops),
  *   2. if the batch changes nothing, short-circuit: no new version,
  *   3. else write snapshot + `_COMMITTED` marker into a PRIVATE staging
  *      dir (unique per attempt — concurrent writers never share a path),
  *   4. publish by atomically claiming `v=N` through the core's
  *      [[CasProtocol]] committer, so of two writers that both merged
  *      against v=N−1, exactly one wins and the loser throws — a
  *      concurrent batch can be REJECTED but never LOST. The reference
  *      gets this serialization from its step-function executions; the
  *      store supplies its own.
  *
  * The published version is derived, never pointed at: current = max v
  * whose dir holds `_COMMITTED`. A crash before the claim leaves only
  * private staging junk (reclaimed by GC); there is no pointer file to
  * tear and no recheck-then-publish window. Listing may serve memoized
  * markers; the verifying reads re-read the marker of the version they
  * serve.
  *
  * Scale shape: the merge is one |catalog|+|batch| union → per-key window
  * (single shuffle on dataset_key); snapshots are sharded by key hash so
  * reads partition-prune and a 1000-executor write has no hot partition.
  * Version history means GC (q85's execute side) is directory removal,
  * never row rewrites.
  */
object CatalogStore extends VersionedStore[CatalogMeta]("catalog", "batch") {

  final case class UpsertStats(version: Long, inserted: Long, updated: Long, unchanged: Long)

  final case class DeleteStats(version: Long, deleted: Long)

  /** The core's per-version figure: the version number. */
  type Stats = Long

  /** Legal dataset titles — reference `dataset_properties.py:4`
    * (TITLE_PATTERN): ASCII alphanumerics, underscore, hyphen, plus the
    * macron vowels (āēīōūĀĒĪŌŪ) te reo Māori placenames need. Anchored
    * whole-string match, one or more characters.
    */
  val TitlePattern: String = "^[āēīōūĀĒĪŌŪA-Za-z0-9_-]+$"

  private val Shards = 16

  // strict: a marker with anything after its one object is corruption
  private val Json = new ObjectMapper().enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  protected def parseMarker(body: String): Option[CatalogMeta] =
    scala.util.Try(Json.readTree(body)).toOption.collect {
      case n if n.size == 2 && n.path("rows").isIntegralNumber && n.path("xor").isIntegralNumber =>
        CatalogMeta(n.get("rows").asLong, n.get("xor").asLong)
    }

  protected def statsOf(v: Long, m: CatalogMeta, totals: Seq[Long]): Long = v

  /** Snapshot manifest: row count + order-independent content hash
    * (bit_xor of per-row xxhash64 — commutative, so shard/task order
    * can't change it; per-key uniqueness in every snapshot rules out the
    * xor pair-cancellation degeneracy). Computed from the files as
    * written and carried INSIDE the `_COMMITTED` marker, so publication
    * and integrity are one atomic artifact.
    */
  private def manifestOf(df: DataFrame): (Long, Long) = {
    val r = df.agg(manifestCols.head, manifestCols.tail: _*).head()
    (r.getLong(0), r.getLong(1))
  }

  private val manifestCols: Seq[Column] = Seq(
    count(lit(1)),
    coalesce(expr("bit_xor(xxhash64(dataset_key, title, revision))"), lit(0L)))

  /** Write the snapshot into a private staging dir, sharded, with its
    * manifest computed by reading BACK the staged files (so it certifies
    * what landed on disk, not what the writer meant to write) — everything
    * after this is the CAS claim.
    */
  private[graft] def stage(df: DataFrame, dir: String, version: Long): Path =
    stage(df.sparkSession, dir, version) { st =>
      val sharded = df.select(
        col("dataset_key"),
        col("title"),
        col("revision"),
        pmod(hash(col("dataset_key")), lit(Shards)).as("shard"))
      val (rows, x) = manifestOf(
        st.put("", sharded, "shard").select("dataset_key", "title", "revision"))
      s"""{"rows":$rows,"xor":$x}"""
    }

  /** The CAS publish: claim `v=N` with the staged snapshot. Exactly one
    * claimant of a version succeeds; the loser throws loudly with its
    * batch unpublished (re-read and retry is the caller's move). A
    * marker-less `v=N` dir occupying the slot blocks the claim — clearing
    * it is the explicit [[repair]] op, never this path.
    */
  private[graft] def commit(spark: SparkSession, dir: String, staging: Path, version: Long): Unit =
    publish(spark, dir, staging, version)

  /** Stage version `v` as the snapshot of version `before`, rewritten with
    * one task per shard: HashPartitioning's partition id is
    * pmod(murmur3(keys, seed 42), n) — the very expression the writer
    * uses for the shard column (SQL hash() is the same murmur3/42) — so
    * repartition(Shards, dataset_key) lands partition i == shard i
    * exactly, and each shard is one file. A repartitionByRange(shard)
    * only samples boundaries: with 16 distinct values two shards can
    * coalesce into one partition and the co-location silently degrades.
    */
  protected def stageBase(spark: SparkSession, dir: String, v: Long, before: Long): Path =
    stageShards(readVersion(spark, dir, before), dir, v)

  private def stageShards(snapshot: DataFrame, dir: String, v: Long): Path =
    stage(snapshot.repartition(Shards, col("dataset_key")), dir, v)

  /** Create the store with an initial catalog of (dataset_key, title,
    * revision) rows. Fails if already initialized.
    */
  def init(spark: SparkSession, dir: String, initial: DataFrame): Long =
    initWith(spark, dir)(stage(initial, dir, 1L))

  /** The published version; a catalog that was never initialized fails. */
  private def published(spark: SparkSession, dir: String): Long =
    currentVersion(spark, dir)
      .getOrElse(throw new IllegalStateException(s"no published catalog at $dir"))

  /** The published snapshot (shard column dropped — storage detail). */
  def read(spark: SparkSession, dir: String): DataFrame =
    readVersion(spark, dir, published(spark, dir))

  /** A published snapshot and the marker it is served under, re-read
    * from disk (never the memo), so what a read verifies is the manifest
    * as it stands now — the shared front half of every read path.
    */
  private def served(spark: SparkSession, dir: String, version: Long): (CatalogMeta, DataFrame) = {
    val (m, schema) = servedSchema(spark, dir, version, "")
    (m, spark.read.schema(schema).parquet(versionPath(dir, version)))
  }

  /** The data columns of a published snapshot — its marker's schema minus
    * the `shard` storage detail. Runs no job unless the marker predates
    * the schema field and its files were never resolved.
    */
  private[sources] def snapshotSchema(spark: SparkSession, dir: String, version: Long): StructType =
    StructType(servedSchema(spark, dir, version, "")._2.fields.filterNot(_.name == "shard"))

  private def verify(dir: String, version: Long, m: CatalogMeta, rows: Long, xor: Long): Unit =
    if (rows != m.rows || xor != m.xor)
      throw new IllegalStateException(
        s"v=$version at $dir is CORRUPT: manifest says rows=${m.rows} xor=${m.xor}, " +
          s"snapshot reads rows=$rows xor=$xor — refusing to serve")

  /** Time travel: read a specific PUBLISHED snapshot. Published versions
    * are immutable, so any one GC hasn't reclaimed is a consistent
    * point-in-time catalog. Marker-less dirs are refused — crash debris is
    * not data (it may be partial; the next claimant clears it).
    *
    * Integrity: the snapshot is re-counted and re-hashed against the
    * manifest its `_COMMITTED` marker carries, so a silently-partial
    * snapshot (a lost part file reads as a smaller, VALID parquet
    * dataset) or a rewritten row fails LOUDLY here instead of serving
    * wrong answers. Catalogs are metadata-scale, so the verification
    * scan is cheap; an unparseable marker is treated as corruption, not
    * leniency.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame =
    verified(spark, dir, version)._2

  private def verified(spark: SparkSession, dir: String, version: Long): (CatalogMeta, DataFrame) = {
    val (m, files) = served(spark, dir, version)
    val df = files.select("dataset_key", "title", "revision")
    val (gotRows, gotXor) = manifestOf(df)
    verify(dir, version, m, gotRows, gotXor)
    (m, df)
  }

  /** The DSv2 snapshot scan's driver materialization: the same loud-fail
    * integrity contract as [[readVersion]] but paid as ONE scan job — the
    * rows come back through a bounded collect and the manifest count+hash
    * are recomputed DRIVER-SIDE from the collected rows, evaluating the
    * identical Catalyst `xxhash64(dataset_key, title, revision)`
    * expression the writer's bit_xor aggregated (so the check can never
    * drift from the written manifest's definition). readVersion's shape —
    * a verification AGGREGATE job followed by the caller's own collect of
    * the same files — paid two full scans per time-travel read; for a
    * metadata-scale catalog both scans were pure per-read overhead
    * (measured 2.5× on q68's bench path, r17 verdict #1). Returns the
    * full-column rows plus their schema; callers prune.
    */
  private[graft] def readVersionRowsVerified(
      spark: SparkSession, dir: String, version: Long,
      maxRows: Int, what: String)
      : (Array[org.apache.spark.sql.Row], StructType) = {
    val (m, files) = served(spark, dir, version)
    // the metadata-scale bound is checked against the MANIFEST before
    // anything is collected (the published row count is part of the
    // atomic commit artifact), and the collect itself stops at maxRows+1
    // rows, so a snapshot whose files hold more rows than the manifest
    // (an extra or duplicated part file) fails the count check below
    // without being materialized on the driver. One partition, so the
    // limit is one job, not executeTake's 1→4→16-partition ladder.
    require(m.rows <= maxRows,
      s"$what: control-plane gather exceeded its declared domain bound of $maxRows rows " +
        s"(manifest says ${m.rows}) — the relation is not metadata-scale; keep it in the engine")
    val df = files.select("dataset_key", "title", "revision")
    val rows = df.coalesce(1).limit(maxRows + 1).collect()
    if (rows.length > m.rows)
      throw new IllegalStateException(
        s"v=$version at $dir is CORRUPT: manifest says rows=${m.rows}, snapshot holds more " +
          s"(the collect stopped at ${rows.length} rows) — refusing to serve")
    val schema = df.schema
    val hashExpr = new org.apache.spark.sql.catalyst.expressions.XxHash64(
      schema.fields.zipWithIndex.map { case (fd, i) =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(i, fd.dataType, fd.nullable)
      }.toIndexedSeq)
    val toInternal =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(schema)
    var gotXor = 0L
    rows.foreach { r =>
      gotXor ^= hashExpr
        .eval(toInternal(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
        .asInstanceOf[Long]
    }
    verify(dir, version, m, rows.length.toLong, gotXor)
    (rows, schema)
  }

  /** Keep-latest merge of the current snapshot with a change batch —
    * q68's kernel with explicit per-key actions: a change wins only with a
    * strictly higher revision (base wins ties, so re-applying a batch is a
    * no-op), absent keys insert. One shuffle on dataset_key.
    */
  private def merged(base: DataFrame, changes: DataFrame): DataFrame = {
    val byKey = Window.partitionBy(col("dataset_key"))
    // title as the final tie-break: a malformed batch carrying two rows for
    // one key at the same revision still yields a DETERMINISTIC snapshot
    // (same input → same durable catalog), instead of task-scheduling luck
    val latest = byKey.orderBy(col("revision").desc, col("origin"), col("title"))
    base.select(col("dataset_key"), col("title"), col("revision")).withColumn("origin", lit("base"))
      .unionByName(
        changes.select(col("dataset_key"), col("title"), col("revision"))
          .withColumn("origin", lit("change")))
      .withColumn("rn", row_number().over(latest))
      .withColumn("base_rev", max(when(col("origin") === "base", col("revision"))).over(byKey))
      .filter(col("rn") === 1)
      .withColumn(
        "action",
        when(col("base_rev").isNull, "inserted")
          .when(col("origin") === "change" && col("revision") > col("base_rev"), "updated")
          .otherwise("unchanged"))
      .select(col("dataset_key"), col("title"), col("revision"), col("action"))
  }

  /** CREATE-mode validation — reference `datasets/create.py:19-39`. The
    * reference rejects a create whose title fails TITLE_PATTERN
    * (BAD_REQUEST, jsonschema `pattern`) or whose title already exists in
    * the `datasets_title_idx` GSI (CONFLICT). Returned as a violations
    * relation — (dataset_key, title, violation) with violation ∈
    * {"title_pattern", "title_conflict"} — the same classify-don't-throw
    * shape as the STAC rules engine (Lake.scala), so callers can report
    * every bad row in one pass instead of failing on the first.
    *
    * A title held by the SAME dataset_key does not conflict (an idempotent
    * replay of a create must stay a no-op); a title held by a different
    * key — in the published snapshot or by another row of this batch — does.
    *
    * Scale shape: pattern check is an rlike next to the scan; the conflict
    * check is one shuffle on title (union snapshot+batch, count distinct
    * keys per title via a window) — no per-row index probe, no driver loop.
    */
  def createViolations(spark: SparkSession, dir: String, newDatasets: DataFrame): DataFrame = {
    val batch = newDatasets.select(col("dataset_key"), col("title"))
    val badPattern = batch
      .filter(col("title").isNull || !col("title").rlike(TitlePattern))
      .withColumn("violation", lit("title_pattern"))
    val existing = read(spark, dir).select(col("dataset_key"), col("title"))
    val byTitle = Window.partitionBy(col("title"))
    val conflicts = existing.withColumn("origin", lit("base"))
      .unionByName(batch.withColumn("origin", lit("new")))
      .withColumn("n_keys", size(collect_set(col("dataset_key")).over(byTitle)))
      .filter(col("origin") === "new" && col("n_keys") > 1)
      .select(col("dataset_key"), col("title"))
      .withColumn("violation", lit("title_conflict"))
    badPattern.unionByName(conflicts)
  }

  /** Create new datasets — the batch analog of reference
    * `datasets/create.py` POST. Validates titles (pattern + uniqueness vs
    * the published snapshot AND within the batch) and fails LOUDLY with a
    * violation summary before anything is staged; a clean batch publishes
    * through the same CAS [[upsert]] path. Replaying an already-applied
    * create is a no-op (no conflict, no new version).
    */
  def create(spark: SparkSession, dir: String, newDatasets: DataFrame): UpsertStats = {
    val bad = createViolations(spark, dir, newDatasets)
      .groupBy(col("violation")).agg(count(lit(1)).as("n"), min(col("title")).as("example"))
      .collect() // violation kinds only: ≤2 rows
    if (bad.nonEmpty) {
      val detail = bad.map(r =>
        s"${r.getAs[String]("violation")}: ${r.getAs[Long]("n")} row(s), e.g. '${r.getAs[String]("example")}'")
      throw new IllegalArgumentException(
        s"create rejected at $dir — ${detail.mkString("; ")}")
    }
    upsert(spark, dir, newDatasets)
  }

  /** Apply a change batch. Returns the published version and action
    * counts; a batch that changes nothing publishes nothing.
    *
    * Concurrency contract: optimistic CAS. The merge runs against the
    * current snapshot; publishing claims version current+1 atomically. If
    * another writer publishes in between, this batch FAILS LOUDLY with
    * nothing written — never silently lost, never merged against a stale
    * base. Callers retry by re-invoking (the merge then sees the new
    * current).
    */
  def upsert(spark: SparkSession, dir: String, changes: DataFrame): UpsertStats = {
    val current = published(spark, dir)
    val m = merged(readVersion(spark, dir, current), changes).localCheckpoint()
    val counts = m.groupBy(col("action")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (ins, upd) = (counts.getOrElse("inserted", 0L), counts.getOrElse("updated", 0L))
    val unch = counts.getOrElse("unchanged", 0L)
    if (ins + upd == 0) UpsertStats(current, 0L, 0L, unch)
    else {
      val next = current + 1
      publish(spark, dir, stage(m, dir, next), next)
      UpsertStats(next, ins, upd, unch)
    }
  }

  /** Point lookup by dataset_key — the DynamoDB get-item analog
    * (reference `datasets/get.py:28-55`, `get_dataset_single`). No plan,
    * no Spark job: the catalog is metadata-scale, so the get is served on
    * the driver from one shard's files, the way a table log serves
    * metadata reads from small files. The published version and its
    * marker's schema are resolved as every verifying read does (the
    * marker re-read from disk); the shard is computed DRIVER-SIDE with
    * the same Murmur3 hash the writer partitioned by; only
    * `v=N/shard=k` is listed (no directory: the key is absent), and its
    * part files are read through Spark's own Parquet reader under the
    * marker's data schema with the key equality pushed down. The key
    * match and the `revision` cast are Catalyst expressions, so they are
    * the DataFrame API's `col === lit(key)` and `.cast("long")`.
    *
    * Verified: a key held by two rows fails loudly (snapshots are unique
    * per key). NOT verified: the manifest — a lost or extra file in this
    * or another shard is `readVersion`'s and `findByTitle`'s to catch.
    * `key` must carry the snapshot's key TYPE (a Long-keyed store probes
    * with a Long): another type hashes to another shard, so it is refused.
    * Returns (title, revision-as-long), None when absent (the reference's
    * 404).
    */
  def get(spark: SparkSession, dir: String, key: Any): Option[(String, Long)] = {
    val version = published(spark, dir)
    val schema = snapshotSchema(spark, dir, version)
    def bound(name: String) = {
      val i = schema.fieldIndex(name)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    val probe = Literal(key)
    val keyCol = bound("dataset_key")
    require(keyCol.dataType == probe.dataType,
      s"get at $dir: key $key is ${probe.dataType.simpleString}, " +
        s"the snapshot's dataset_key is ${keyCol.dataType.simpleString}")
    // seed 42 = the default of SQL hash(), which stage()'s pmod(hash(key))
    // partitioned by
    val h = Murmur3Hash(Seq(probe), 42).eval(null).asInstanceOf[Int]
    val shard = ((h % Shards) + Shards) % Shards
    val files =
      try fs(spark, dir).listStatus(new Path(versionPath(dir, version), s"shard=$shard"))
      catch { case _: java.io.FileNotFoundException => Array.empty[FileStatus] }
    // the files a DataFrame read of the directory serves: hidden (`.`) and
    // metadata (`_`) names are not data
    val parts = files.filter(f => f.isFile && !f.getPath.getName.startsWith(".") &&
      !f.getPath.getName.startsWith("_"))
    if (parts.isEmpty) return None
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Seq(pushed.EqualTo("dataset_key", key)),
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), spark.sessionState.newHadoopConf())
    // interpreted: a generated predicate inlines a numeric key, so every
    // new key would compile a class
    val hit = Predicate.createInterpreted(EqualTo(keyCol, probe))
    val conf = spark.sessionState.conf
    val out = UnsafeProjection.create(Seq(bound("title"), Cast(
      bound("revision"), LongType, Option(conf.sessionLocalTimeZone), EvalMode.fromSQLConf(conf))))
    val toRow = CatalystTypeConverters.createToScalaConverter(
      new StructType().add("title", schema("title").dataType).add("revision", LongType))
    val hits = parts.toSeq.flatMap { f =>
      val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0L,
        f.getLen, Array.empty[String], f.getModificationTime, f.getLen))
      // no task closes it on the driver: a read that throws mid-file would
      // leave the file open
      try rows.filter(hit.eval).map(r => toRow(out(r)).asInstanceOf[Row]).toList
      finally rows match {
        case c: java.io.Closeable => c.close()
        case _                    =>
      }
    }
    if (hits.size > 1)
      throw new IllegalStateException(
        s"v=$version at $dir: ${hits.size} rows hold dataset_key '$key' — keys must be unique")
    hits.headOption.map(r => (r.getString(0), r.getLong(1)))
  }

  /** Lookup by title — the `datasets_title_idx` GSI analog (reference
    * `datasets/get.py:58+`, `get_dataset_filter`). Titles are NOT the
    * shard key, so this scans the (metadata-scale) snapshot — the honest
    * cost of a secondary index the store doesn't materialize. The scan is
    * ONE aggregate that computes the manifest check (as [[readVersion]]
    * does) and the title match together, so a corrupt snapshot still
    * fails loudly; it runs over one partition, so the global aggregate
    * plans no exchange and the whole lookup is one job (AQE would run a
    * partial-then-final aggregate as two). [[createViolations]] keeps
    * titles unique; a snapshot where two rows hold the title fails
    * loudly too.
    */
  def findByTitle(spark: SparkSession, dir: String, title: String): Option[(Any, Long)] = {
    val current = published(spark, dir)
    val (m, files) = served(spark, dir, current)
    val hit = col("title") === lit(title)
    val r = files.coalesce(1)
      .agg(manifestCols.head, manifestCols.tail :+ count(when(hit, lit(1))) :+
        max(when(hit, struct(col("dataset_key"), col("revision").cast("long")))): _*)
      .head()
    verify(dir, current, m, r.getLong(0), r.getLong(1))
    if (r.getLong(2) > 1)
      throw new IllegalStateException(
        s"v=$current at $dir: ${r.getLong(2)} rows hold title '$title' — titles must be unique")
    Option(r.getStruct(3)).map(s => (s.get(0), s.getLong(1)))
  }

  /** DELETE-mode validation — reference `datasets/delete.py:46-61`. The
    * reference 404s a delete whose id doesn't exist and CONFLICTs when the
    * dataset still owns storage objects (it lists the bucket prefix before
    * deleting — "dataset versions still exist"). Returned as the same
    * classify-don't-throw relation as [[createViolations]]:
    * (dataset_key, violation) with violation ∈ {"not_found",
    * "conflict_nonempty"}. `occupied` is the storage-side occupancy
    * relation — dataset_key rows for datasets that still hold data (e.g.
    * the accepted-docs lake keyed by dataset), the prefix-listing's
    * relational analog. One broadcast-able key join each; no driver loop.
    */
  def deleteViolations(
      spark: SparkSession, dir: String, keys: DataFrame, occupied: DataFrame): DataFrame = {
    val k = keys.select(col("dataset_key")).distinct()
    val existing = read(spark, dir).select(col("dataset_key"))
    val notFound = k.join(existing, Seq("dataset_key"), "left_anti")
      .withColumn("violation", lit("not_found"))
    val conflict = k.join(existing, Seq("dataset_key"), "left_semi")
      .join(occupied.select(col("dataset_key")).distinct(), Seq("dataset_key"), "left_semi")
      .withColumn("violation", lit("conflict_nonempty"))
    notFound.unionByName(conflict)
  }

  /** Delete datasets — the batch analog of reference `datasets/delete.py`
    * DELETE. Every key must exist and be unoccupied (see
    * [[deleteViolations]]) or the whole batch fails LOUDLY with a per-kind
    * summary and nothing staged; a clean batch publishes the surviving
    * snapshot through the same CAS path as upsert. Completes the CRUD set:
    * create / read+time-travel / upsert / delete.
    */
  def delete(
      spark: SparkSession, dir: String, keys: DataFrame, occupied: DataFrame): DeleteStats = {
    val bad = deleteViolations(spark, dir, keys, occupied)
      .groupBy(col("violation"))
      .agg(count(lit(1)).as("n"), min(col("dataset_key").cast("string")).as("example"))
      .collect() // violation kinds only: ≤2 rows
    if (bad.nonEmpty) {
      val detail = bad.map(r =>
        s"${r.getAs[String]("violation")}: ${r.getAs[Long]("n")} key(s), e.g. '${r.getAs[String]("example")}'")
      throw new IllegalArgumentException(s"delete rejected at $dir — ${detail.mkString("; ")}")
    }
    val current = published(spark, dir)
    val k = keys.select(col("dataset_key")).distinct()
    val nDoomed = k.count()
    if (nDoomed == 0) return DeleteStats(current, 0L)
    val survivors = readVersion(spark, dir, current).join(k, Seq("dataset_key"), "left_anti")
    val next = current + 1
    publish(spark, dir, stage(survivors, dir, next), next)
    DeleteStats(next, nDoomed)
  }

  final case class CompactStats(version: Long, filesBefore: Long, filesAfter: Long, rows: Long)

  private def dataFileCount(spark: SparkSession, dir: String, version: Long): Long = {
    val it = fs(spark, dir).listFiles(new Path(versionPath(dir, version)), true)
    var n = 0L
    while (it.hasNext) {
      val s = it.next()
      if (s.isFile && s.getPath.getName.startsWith("part-")) n += 1
    }
    n
  }

  /** Small-files compaction — the maintenance pass every parquet lake
    * needs: each upsert's snapshot carries tasks×shards part files, and
    * after N batches a metadata-scale catalog is thousands of tiny files
    * whose open/footer cost dominates reads. Rewrites the CURRENT
    * snapshot with exactly one file per shard (as [[stageBase]] does) and
    * publishes it through the SAME CAS path as any other writer, so
    * compaction serializes against concurrent upserts instead of
    * clobbering them — a racing batch makes the compactor lose loudly,
    * like any optimistic writer.
    *
    * Content is proven unchanged, not assumed: the source is
    * manifest-verified, and the core's compaction guard publishes the
    * rewrite only if its staged manifest (rows + order-independent xor)
    * equals the source's. No-ops when the snapshot is already at ≤ one
    * file per shard.
    */
  def compact(spark: SparkSession, dir: String): CompactStats = {
    val current = published(spark, dir)
    val before = dataFileCount(spark, dir, current)
    val (m, snapshot) = verified(spark, dir, current)
    if (before <= Shards) return CompactStats(current, before, before, m.rows)
    val next = current + 1
    // stage from the frame just verified: a second readVersion would
    // re-run the same count+xor scan over the same immutable files
    publishUnchanged(spark, dir, next, m.counts, stageShards(snapshot, dir, next))
    CompactStats(next, before, dataFileCount(spark, dir, next), m.rows)
  }

  /** Version-retention GC — q85's execute side: drop all but the newest
    * `keep` snapshots (the published one always survives: every version
    * is a base, so the core's read chain is the current version alone)
    * and sweep abandoned staging dirs. Pure directory removal; returns
    * the versions reclaimed, ascending. Not concurrency-safe against
    * in-flight writers (their staging may be swept) — run it like the
    * reference runs maintenance, between imports.
    */
  def gcVersions(spark: SparkSession, dir: String, keep: Int): Seq[Long] = {
    require(keep >= 1, "must keep at least one version")
    if (currentVersion(spark, dir).isEmpty) return Seq.empty
    val doomed = gcHistory(spark, dir, keep - 1)
    fs(spark, dir).delete(new Path(dir, "_staging"), true)
    doomed
  }
}
