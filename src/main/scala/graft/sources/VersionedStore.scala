package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What the versioned-store core reads off a parsed `_COMMITTED` marker. */
private[sources] trait VersionMeta {
  /** "base" (the start of a read chain) or "delta". */
  def kind: String
  /** The marker's merge-invariant manifest counts, in a fixed order: the
    * store's totals sum them over the read chain, a delta whose counts
    * are all zero publishes nothing, and a compaction publishes only if
    * its staged base parses to exactly the chain's sums.
    */
  def counts: Seq[Long]
  /** The batch tag a replay-idempotent append recorded, if any. */
  def tag: Option[String] = None
}

/** The ONE versioned-store implementation all six stores share: the
  * LSM chains ([[DedupIndex]], [[FreqStore]], [[IvfIndex]] and the
  * day-sketch ledgers [[HllStore]] / [[KllStore]]) and the dataset
  * catalog ([[CatalogStore]], every version a base). A store keeps only
  * its marker codec (`parseMarker` plus the body its `stage` payload
  * returns), its relations and its derive/merge rule; the mechanics live
  * here:
  *
  *  - Layout: `dir/v=N` holds one version — its relations plus a
  *    `_COMMITTED` marker whose presence IS publication; marker-less
  *    `v=N` dirs are crash debris, `_staging/` is private to writers.
  *    A relation lives in `v=N/<rel>/`, or — the ROOT relation `""`, a
  *    version's only relation when it has one — at `v=N/` itself,
  *    possibly partitioned (the catalog's `v=N/shard=k/part-*`). The
  *    marker is the store's own JSON body with one last field the core
  *    owns, `"schema"`: each relation's read schema (the written schema
  *    with every field nullable, as parquet reads it back), as
  *    `{"<rel>":<StructType json>,…}`, or the root relation's bare
  *    StructType json. Every relation read declares it, so no read runs
  *    a footer-reading inference job — the schema lives in the commit,
  *    as in Delta's log. The core splits the field off before the
  *    store's grammar parses the rest. A marker written before the field
  *    existed still reads: its relations resolve through
  *    [[graft.Tables.parquetSchema]] (one inference per file identity).
  *  - Read chain: the newest base plus every later delta; a relation's
  *    view is the union of its chain copies, merged by the store.
  *  - Publish: stage into `_staging` through [[Staging.put]], read the
  *    manifest counts BACK from the staged files into the marker (under
  *    the recorded schemas), then claim `v=N` through the
  *    shared [[CasProtocol]] committer under this store's own in-JVM
  *    commit lock. A delta that adds nothing publishes no version.
  *  - Compaction rewrites the view as one base and publishes only when
  *    the staged marker's parsed counts equal the source's exactly.
  *
  * Marker-cache contract: committed markers are IMMUTABLE (a version is
  * created or deleted whole, never rewritten), so successful marker reads
  * memoize per JVM — without that every append/read re-fetches O(chain)
  * marker files, real round-trips on an object store. The cache is
  * invalidated only by THIS JVM's init, gc and repair: a store deleted and
  * re-initialized by another process at the same path can serve the
  * previous incarnation's markers for reused version numbers here (the
  * single-writer, no-out-of-band-deletion contract; route a foreign
  * re-init through this JVM's init/repair). The commit and repair
  * predicates, and [[servedSchema]], always re-read the marker uncached,
  * so publishes are safe regardless.
  *
  * `noun` names the store in messages ("dedup index"); `what` names a
  * publish in a lost race's message ("index update").
  */
private[sources] abstract class VersionedStore[M <: VersionMeta](noun: String, what: String) {

  /** The per-version figures a store's public operations return. */
  type Stats

  /** This store's marker grammar — None when the body does not parse. */
  protected def parseMarker(body: String): Option[M]

  /** Stats of version `v` (marker `m`) given the read chain's summed counts. */
  protected def statsOf(v: Long, m: M, totals: Seq[Long]): Stats

  /** Stage version `v` as a base holding the current chain's merged view. */
  protected def stageBase(spark: SparkSession, dir: String, v: Long, before: Stats): Path

  /** Mutation guard over the committed versions `vs` (the listing the
    * caller already fetched); a store whose chain can be read-only
    * overrides it.
    */
  protected def requireWritable(spark: SparkSession, dir: String, vs: Seq[Long]): Unit = ()

  /** A parsed marker: the store's body and each relation's declared read
    * schema (None for a marker written before schemas were carried).
    */
  private final class Committed(val meta: M, val schemas: Option[Map[String, StructType]])

  private val metaCache = new java.util.concurrent.ConcurrentHashMap[String, Committed]()
  private val commitLock = new Object

  protected final def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  protected final def versionPath(dir: String, v: Long): String = s"$dir/v=$v"

  private def readBody(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
  }

  private val SchemaField = ""","schema":{"""
  private val Json = new ObjectMapper()

  private def structOf(json: String): StructType = DataType.fromJson(json).asInstanceOf[StructType]

  // the schema field is the body's last; the store's own fields never
  // hold `,"schema":{` (tags and corpus names are quote-free), so its
  // first occurrence is the split point. A bare StructType (a textual
  // "type") is the root relation's; a relation map's values are objects
  private def parse(body: String): Option[Committed] = {
    val b = body.trim
    b.indexOf(SchemaField) match {
      case -1 => parseMarker(b).map(new Committed(_, None))
      case i if b.endsWith("}") =>
        for {
          m <- parseMarker(b.substring(0, i) + "}")
          s <- scala.util.Try {
            val field = Json.readTree(b.substring(i + SchemaField.length - 1, b.length - 1))
            if (field.path("type").isTextual) Map("" -> structOf(field.toString))
            else field.properties().asScala.map(e => e.getKey -> structOf(e.getValue.toString)).toMap
          }.toOption
        } yield new Committed(m, Some(s))
      case _ => None
    }
  }

  private def readMetaUncached(f: FileSystem, dir: String, v: Long): Option[Committed] = {
    val p = new Path(versionPath(dir, v), CasProtocol.Marker)
    if (!f.exists(p)) return None
    // present-but-unparseable is CORRUPTION OR MIGRATION, never absence:
    // treating it as uncommitted hides the version from listVersions and
    // turns repair() into a committed-data reaper
    parse(readBody(f, p)).orElse(
      throw new IllegalStateException(
        s"committed marker at $p is unreadable — $noun format migrated or manifest " +
          "corrupt; refusing to treat the version as uncommitted (repair would reap " +
          s"committed data). Restore the marker or rebuild the $noun at a fresh path."))
  }

  private def readMeta(f: FileSystem, dir: String, v: Long): Option[Committed] = {
    val cached = metaCache.get(s"$dir|$v")
    if (cached != null) return Some(cached)
    val out = readMetaUncached(f, dir, v)
    out.foreach(m => metaCache.put(s"$dir|$v", m))
    out
  }

  private def committed(spark: SparkSession, dir: String)(v: Long): Boolean =
    readMetaUncached(fs(spark, dir), dir, v).isDefined

  // drop every cached marker under `dir`, so a deleted-and-recreated store
  // is never served from a previous incarnation's metadata
  private def invalidate(dir: String): Unit =
    metaCache.keySet.removeIf(_.startsWith(s"$dir|"))

  /** The committed marker of `v` (memoized). */
  protected final def meta(spark: SparkSession, dir: String, v: Long): M =
    readMeta(fs(spark, dir), dir, v).get.meta

  /** Committed versions ascending — marker presence IS publication. */
  def listVersions(spark: SparkSession, dir: String): Seq[Long] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) return Seq.empty
    f.listStatus(new Path(dir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.stripPrefix("v=").toLong }
      .filter(v => readMeta(f, dir, v).isDefined)
      .sorted
  }

  def currentVersion(spark: SparkSession, dir: String): Option[Long] =
    listVersions(spark, dir).lastOption

  /** The newest version, for a mutation: the store must exist and pass
    * [[requireWritable]].
    */
  protected final def head(spark: SparkSession, dir: String): Long = {
    val vs = listVersions(spark, dir)
    val cur = vs.lastOption.getOrElse(
      throw new IllegalStateException(s"no $noun at $dir — init first"))
    requireWritable(spark, dir, vs)
    cur
  }

  /** The v=1-era marker holding what init pinned (bands, family, k). */
  protected final def firstMeta(spark: SparkSession, dir: String): M =
    meta(spark, dir, listVersions(spark, dir).headOption.getOrElse(
      throw new IllegalStateException(s"no $noun at $dir")))

  /** The version chain to read: the newest base and every later delta. */
  protected final def readChain(spark: SparkSession, dir: String): Seq[Long] = {
    val vs = listVersions(spark, dir)
    require(vs.nonEmpty, s"no $noun at $dir")
    val lastBase = vs.filter(meta(spark, dir, _).kind == "base").lastOption
    vs.filter(v => lastBase.forall(v >= _))
  }

  /** Where relation `rel` of version `v` lives: `v=N/<rel>`, or `v=N`
    * itself for the root relation `""`.
    */
  private def relationPath(dir: String, v: Long, rel: String): String =
    if (rel.isEmpty) versionPath(dir, v) else s"${versionPath(dir, v)}/$rel"

  // the schema marker `c` declares for `rel`; a pre-schema marker's
  // relation resolves through the one footer-inference cache
  private def schemaOf(
      spark: SparkSession, dir: String, v: Long, rel: String, c: Committed): StructType =
    c.schemas match {
      case Some(s) => s.getOrElse(rel, throw new IllegalStateException(
        s"$noun version $v at $dir holds no relation '$rel'"))
      case None => graft.Tables.parquetSchema(spark, relationPath(dir, v, rel))
    }

  /** Relation `rel` of committed version `v`, read under the schema its
    * (memoized) marker declares.
    */
  protected final def relation(
      spark: SparkSession, dir: String, v: Long, rel: String): DataFrame =
    spark.read.schema(schemaOf(spark, dir, v, rel, readMeta(fs(spark, dir), dir, v).get))
      .parquet(relationPath(dir, v, rel))

  /** Version `v`'s marker re-read from disk, bypassing the memo, and
    * relation `rel`'s read schema under it — for a read that verifies
    * what it serves against the marker as it stands now. A `v` that was
    * never published fails (IllegalArgumentException).
    */
  protected final def servedSchema(
      spark: SparkSession, dir: String, v: Long, rel: String): (M, StructType) = {
    val c = readMetaUncached(fs(spark, dir), dir, v)
    require(c.isDefined, s"v=$v was never published at $dir")
    (c.get.meta, schemaOf(spark, dir, v, rel, c.get))
  }

  /** Relation `rel`'s copies over the read chain, unioned (not merged). */
  protected final def chainRead(spark: SparkSession, dir: String, rel: String): DataFrame =
    readChain(spark, dir).map(relation(spark, dir, _, rel)).reduce(_.unionByName(_))

  private def totals(spark: SparkSession, dir: String): Seq[Long] =
    readChain(spark, dir).map(meta(spark, dir, _).counts).transpose.map(_.sum)

  protected final def stats(spark: SparkSession, dir: String, v: Long): Stats =
    statsOf(v, meta(spark, dir, v), totals(spark, dir))

  /** The writer a [[stage]] payload publishes its relations through. */
  protected final class Staging private[VersionedStore] (spark: SparkSession, dir: String) {
    private[VersionedStore] val schemas = mutable.LinkedHashMap.empty[String, StructType]

    /** Write `df` as relation `rel` (`""`: the root relation, alone in its
      * version), partitioned by `partitionBy`, record its read schema for
      * the marker, and return the staged relation read back under it.
      */
    def put(rel: String, df: DataFrame, partitionBy: String*): DataFrame = {
      val path = if (rel.isEmpty) dir else s"$dir/$rel"
      df.write.partitionBy(partitionBy: _*).mode("overwrite").parquet(path)
      // file reads are nullable whatever the writer declared
      val schema = StructType(df.schema.fields.map(_.copy(nullable = true)))
      schemas(rel) = schema
      spark.read.schema(schema).parquet(path)
    }
  }

  /** Stage version `v`: `payload` puts the relations through the
    * [[Staging]] writer it is given, reads their counts back from the
    * staged relations `put` returns, and returns the store's marker body.
    * The core appends the recorded schemas as the body's last field and
    * writes the marker last.
    */
  protected final def stage(spark: SparkSession, dir: String, v: Long)(
      payload: Staging => String): Path = {
    val staging = new Path(dir, s"_staging/v$v-${java.util.UUID.randomUUID()}")
    val writer = new Staging(spark, staging.toString)
    val body = payload(writer).trim
    require(body.endsWith("}"), s"$noun marker body is not a JSON object: $body")
    val schemas = writer.schemas.toSeq match {
      case Seq(("", root)) => root.json
      case rels => rels.map { case (rel, s) => s""""$rel":${s.json}""" }.mkString("{", ",", "}")
    }
    val out = fs(spark, dir).create(new Path(staging, CasProtocol.Marker), false)
    try out.write((body.dropRight(1) + SchemaField.dropRight(1) + schemas + "}").getBytes("UTF-8"))
    finally out.close()
    staging
  }

  private def stagedMeta(spark: SparkSession, dir: String, staging: Path): M =
    parse(readBody(fs(spark, dir), new Path(staging, CasProtocol.Marker))).map(_.meta).getOrElse(
      throw new IllegalStateException(s"staged marker at $staging unreadable"))

  /** Claim `v` with the staged version `staging` through the CAS
    * protocol; a lost race throws with nothing published.
    */
  protected final def publish(spark: SparkSession, dir: String, staging: Path, v: Long): Unit =
    CasProtocol.claim(
      spark, dir, staging, new Path(versionPath(dir, v)), v, commitLock,
      () => committed(spark, dir)(v), what)

  /** Build v=1 from `staged` (evaluated after the emptiness check). */
  protected final def initWith(spark: SparkSession, dir: String)(staged: => Path): Stats = {
    invalidate(dir)
    require(currentVersion(spark, dir).isEmpty, s"$noun at $dir already initialized")
    publish(spark, dir, staged, 1L)
    stats(spark, dir, 1L)
  }

  /** Publish a staged delta as `cur + 1` — or, when every staged count is
    * zero (nothing new), drop it and publish no version.
    */
  protected final def publishOrDrop(
      spark: SparkSession, dir: String, cur: Long, staging: Path): Stats =
    if (stagedMeta(spark, dir, staging).counts.forall(_ == 0L)) {
      fs(spark, dir).delete(staging, true)
      stats(spark, dir, cur)
    } else {
      publish(spark, dir, staging, cur + 1)
      stats(spark, dir, cur + 1)
    }

  /** Quiesced-writers crash-debris cleanup — [[CasProtocol.repair]]. */
  def repair(spark: SparkSession, dir: String): Seq[String] = {
    invalidate(dir)
    CasProtocol.repair(spark, dir, committed(spark, dir))
  }

  /** The compaction guard: publish the staged rewrite `staging` as `v`
    * only if its marker's parsed counts equal `want` (the source's)
    * exactly; otherwise delete it and throw, nothing published.
    */
  protected final def publishUnchanged(
      spark: SparkSession, dir: String, v: Long, want: Seq[Long], staging: Path): Unit = {
    val got = stagedMeta(spark, dir, staging).counts
    if (got != want) {
      fs(spark, dir).delete(staging, true)
      throw new IllegalStateException(
        s"compaction would CHANGE the $noun view (source counts ${want.mkString(",")}, " +
          s"staged ${got.mkString(",")}) — aborted")
    }
    publish(spark, dir, staging, v)
  }

  /** Fold the base+delta chain into a single base version, keeping read
    * fan-in bounded as deltas accumulate. The view is unchanged: the
    * staged marker's parsed counts must equal the chain's sums, or
    * nothing publishes. Earlier versions stay readable history. A chain
    * of one is a no-op.
    */
  protected final def foldChain(spark: SparkSession, dir: String): Stats = {
    val cur = head(spark, dir)
    if (readChain(spark, dir).size <= 1) return stats(spark, dir, cur) // already one base
    val want = totals(spark, dir)
    val before = statsOf(cur, meta(spark, dir, cur), want)
    publishUnchanged(spark, dir, cur + 1, want, stageBase(spark, dir, cur + 1, before))
    stats(spark, dir, cur + 1)
  }

  /** Maintenance policy: fold the chain once it exceeds `maxChain`
    * versions. Content-preserving by the fold's invariant; a replayed
    * fold of an already-short chain is a no-op.
    */
  protected final def compactIfLonger(spark: SparkSession, dir: String, maxChain: Int): Stats = {
    require(maxChain >= 2, s"maxChain must be >= 2: $maxChain")
    val cur = head(spark, dir)
    if (readChain(spark, dir).size > maxChain) foldChain(spark, dir)
    else stats(spark, dir, cur)
  }

  /** Drop published versions no longer in the read chain (history
    * strictly before the newest base), keeping the most recent
    * `keepHistory`; returns the dropped versions.
    */
  protected final def gcHistory(spark: SparkSession, dir: String, keepHistory: Int): Seq[Long] = {
    require(keepHistory >= 0, s"keepHistory must be >= 0: $keepHistory")
    val f = fs(spark, dir)
    val chain = readChain(spark, dir).toSet
    val doomed = listVersions(spark, dir).filterNot(chain).dropRight(keepHistory)
    doomed.foreach(v => f.delete(new Path(versionPath(dir, v)), true))
    doomed.foreach(v => metaCache.remove(s"$dir|$v"))
    doomed
  }

  // the tag lands verbatim in the marker JSON: restrict it to a
  // quote/backslash-free charset or the committed marker would be
  // unparseable — the version would vanish from listVersions and
  // repair() would reap committed data as debris
  private[graft] final def requireValidTag(tg: String): Unit =
    require(tg.nonEmpty && tg.length <= 128 && tg.forall(c =>
      (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || "._:-".contains(c)),
      s"append tag must be 1..128 chars of [A-Za-z0-9._:-]: '$tg'")

  /** The committed version carrying batch tag `tg`, if any (a marker scan;
    * markers are memoized).
    */
  protected final def taggedVersion(spark: SparkSession, dir: String, tg: String): Option[Long] =
    listVersions(spark, dir).find(meta(spark, dir, _).tag.contains(tg))

  /** The batch-replay idempotence probe: whether a committed version
    * already carries the (validated) tag `tg`.
    */
  protected final def tagApplied(spark: SparkSession, dir: String, tg: String): Boolean = {
    requireValidTag(tg)
    taggedVersion(spark, dir, tg).isDefined
  }
}
