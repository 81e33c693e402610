package graft.sources

import org.apache.hadoop.fs.{FileContext, FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** The ONE compare-and-swap publish protocol every versioned lake
  * artifact shares (VersionedSink snapshots, and the six stores —
  * CatalogStore, DedupIndex, FreqStore, IvfIndex, HllStore, KllStore —
  * through their shared [[VersionedStore]] core): claim `v=N` atomically, and
  * clear crash debris only through the explicit quiesced-writers repair
  * op. The claim semantics — including the TOCTOU fix that removed the
  * inline orphan-delete — have exactly one implementation to keep correct.
  *
  * Store-specific knowledge stays out of this object: what a marker
  * contains is injected as the `committed` predicate, which must re-read
  * the marker uncached ([[VersionedStore]] states the marker-cache
  * contract the stores share); this object owns only the
  * claim/lose/repair mechanics.
  *
  * HOW the slot is claimed is a per-filesystem [[VersionCommitter]] seam
  * (r15) — the publish CONTRACT is identical under both committers, only
  * the atomic primitive differs:
  *
  *  - [[RenameCommitter]] (HDFS, POSIX, viewfs): the staged dir — payload
  *    plus its `_COMMITTED` marker — is renamed onto `v=N` with NO
  *    overwrite in one atomic filesystem op. Requires rename to be an
  *    atomic claim (HDFS: atomic in the NameNode; local FS via
  *    FileContext's no-overwrite guard under the store's in-JVM lock).
  *  - [[ConditionalPutCommitter]] (s3/s3a/gs/abfs/…): object-store
  *    "rename" is a per-object LIST+COPY+DELETE with no exclusivity — two
  *    racers MERGE into the destination and both report success
  *    (double-publish; CasProtocolSpec proves this against a non-atomic
  *    FS shim). The claim is instead a whole-object conditional put
  *    (create-exclusive, S3 `If-None-Match: *` / GCS precondition /
  *    ABFS etag) of a `_CLAIM` file at `v=N/_CLAIM`; only the winner then
  *    copies the staged payload in, marker LAST. Requires the
  *    filesystem's `create(path, overwrite=false)` to be a true
  *    conditional put (Hadoop 3.4.1+ S3A `fs.s3a.create.conditional
  *    .enabled`) and single-object puts to be all-or-nothing — both are
  *    object-store native guarantees, which is exactly why this committer
  *    exists.
  *
  * Selection is by the store directory's filesystem scheme
  * ([[CasProtocol.ObjectStoreSchemes]]), overridable with hadoop conf
  * `graft.cas.committer` ∈ {rename, conditional} for schemes the table
  * doesn't know. Readers never change: under either committer, marker
  * presence IS publication, marker-less `v=N` content is debris, and
  * `_`-prefixed protocol files (`_COMMITTED`, `_CLAIM`) are invisible to
  * parquet scans.
  *
  * Reference fidelity: geostore is S3-native (`geostore/s3.py`,
  * `import_dataset/task.py` writes straight to bucket keys) — a committer
  * that is only safe on HDFS would not deploy where the reference lives.
  */
/** A version slot occupied by a marker-less directory — crash debris (or
  * a cross-process publish in flight). Thrown by [[CasProtocol.claim]] so
  * callers that are provably the ONLY writer (ImportPipeline's serialized
  * foreachBatch) can self-repair by TYPE instead of matching message
  * text, which silently breaks on any rewording.
  */
private[graft] final class SlotBlockedException(msg: String, cause: Throwable)
  extends IllegalStateException(msg, cause)

/** One way of atomically claiming a version slot — see [[CasProtocol]]'s
  * scaladoc for the two implementations and the primitive each requires.
  * `publish` runs with the store's in-JVM commit lock held and the
  * `committed()` pre-check already false; it must either return with
  * payload AND marker visible at `dst`, or throw with the staging dir
  * removed and nothing published.
  */
private[graft] sealed trait VersionCommitter {
  def publish(
      spark: SparkSession, f: FileSystem, dir: String, staging: Path, dst: Path,
      version: Long, committed: () => Boolean, what: String): Unit
}

private[graft] object CasProtocol {

  /** Marker filename every versioned store drops at the root of its
    * staged payload; its arrival at `dst` IS publication.
    */
  private[graft] val Marker = "_COMMITTED"

  /** The conditional-put committer's claim file — a whole-object
    * create-exclusive put that serializes claimants where rename can't.
    * Lives inside the committed dir afterwards; `_`-prefixed, so parquet
    * scans ignore it like the marker.
    */
  private[graft] val Claim = "_CLAIM"

  /** Filesystem schemes whose rename is a non-atomic per-object
    * copy+delete emulation (no claim semantics): the object stores.
    */
  private[graft] val ObjectStoreSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos", "swift", "o3fs")

  private[graft] def committerFor(spark: SparkSession, dir: String): VersionCommitter = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.get("graft.cas.committer") match {
      case "rename"      => RenameCommitter
      case "conditional" => ConditionalPutCommitter
      case null =>
        val scheme = fs(spark, dir).getUri.getScheme
        if (scheme != null && ObjectStoreSchemes(scheme.toLowerCase(java.util.Locale.ROOT)))
          ConditionalPutCommitter
        else RenameCommitter
      case other =>
        throw new IllegalArgumentException(
          s"graft.cas.committer=$other — expected 'rename' or 'conditional'")
    }
  }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def lost(
      dir: String, version: Long, what: String, cause: Throwable): Nothing =
    throw new IllegalStateException(
      s"concurrent writer committed v=$version at $dir first — $what NOT published",
      cause)

  /** Single-writer self-repair around a publish: a caller that is
    * provably the ONLY writer of its stores (ImportPipeline's serialized
    * foreachBatch, Curate's private outDir) may treat a blocked slot as
    * its OWN crash debris — repair once and retry. Shared here so the
    * idiom has one implementation; outside a single-writer context the
    * loud-loss contract stands.
    */
  private[graft] def selfRepairing[A](repair: => Seq[String])(op: => A): A =
    try op
    catch { case _: SlotBlockedException => repair; op }

  /** Best-effort staging removal that never masks the in-flight
    * diagnosis: `committed()` itself can throw (an unparseable marker is
    * corruption, not leniency), and before r15 that path leaked the
    * staged dir.
    */
  private[sources] def dropStaging(f: FileSystem, staging: Path): Unit =
    try f.delete(staging, true)
    catch { case _: Exception => () }

  /** The CAS claim. `committed()` must re-read THIS version's marker
    * (never a cached pre-check); `lock` is the store's in-JVM commit
    * coordinator (cross-process safety rests on the committer's atomic
    * primitive — see the object scaladoc); `what` names the payload for
    * the loser's message ("batch", "count update", …).
    *
    * NO inline orphan-delete: a cross-JVM writer may commit v=N between
    * the marker check and the claim, and deleting its dir as an
    * "orphan" would silently discard the winner. The committer's atomic
    * primitive is the sole claim mechanism; on failure the marker is
    * re-checked and the loser fails loudly with its staging removed. True
    * crash debris (a marker-less destination) blocks the slot until
    * [[repair]].
    */
  def claim(
      spark: SparkSession, dir: String, staging: Path, dst: Path, version: Long,
      lock: AnyRef, committed: () => Boolean, what: String): Unit =
    claimWith(committerFor(spark, dir), spark, dir, staging, dst, version, lock, committed, what)

  private[graft] def claimWith(
      committer: VersionCommitter, spark: SparkSession, dir: String, staging: Path,
      dst: Path, version: Long, lock: AnyRef, committed: () => Boolean, what: String): Unit =
    lock.synchronized {
      val f = fs(spark, dir)
      val already =
        try committed()
        catch { case t: Throwable => dropStaging(f, staging); throw t }
      if (already) {
        dropStaging(f, staging)
        lost(dir, version, what, new java.nio.file.FileAlreadyExistsException(dst.toString))
      }
      committer.publish(spark, f, dir, staging, dst, version, committed, what)
    }

  /** Explicit crash-debris cleanup: deletes marker-less `v=N` dirs (a
    * crashed writer's partial claim — under the conditional committer,
    * possibly a won `_CLAIM` whose payload copy never finished) and
    * everything under `_staging`. MUST run with writers quiesced — a
    * marker-less dir is indistinguishable from a publish in flight. Never
    * touches committed versions (`committed(v)` re-reads the marker).
    * Returns the deleted paths.
    */
  def repair(
      spark: SparkSession, dir: String, committed: Long => Boolean): Seq[String] = {
    val f = fs(spark, dir)
    if (!f.exists(new Path(dir))) return Seq.empty
    val doomed = f.listStatus(new Path(dir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter { p =>
        val n = p.getName
        n == "_staging" ||
          (n.startsWith("v=") &&
            scala.util.Try(n.stripPrefix("v=").toLong).toOption
              .exists(v => !committed(v)))
      }
    doomed.foreach(p => f.delete(p, true))
    doomed.map(_.toString)
  }
}

/** Claim-by-rename: the staged dir (payload + marker together) renames
  * onto `v=N` with NO overwrite; the rename IS the claim. Correct exactly
  * where rename is an atomic exclusive op — HDFS (atomic in the
  * NameNode), POSIX local paths via FileContext. NOT correct on object
  * stores, whose copy-emulated rename merges into an occupied slot;
  * [[CasProtocol.committerFor]] routes those to
  * [[ConditionalPutCommitter]], and CasProtocolSpec demonstrates the
  * double-publish this committer would suffer there.
  */
private[graft] object RenameCommitter extends VersionCommitter {
  def publish(
      spark: SparkSession, f: FileSystem, dir: String, staging: Path, dst: Path,
      version: Long, committed: () => Boolean, what: String): Unit = {
    val fc = FileContext.getFileContext(
      new Path(dir).toUri, spark.sparkContext.hadoopConfiguration)
    try fc.rename(staging, dst)
    catch {
      case e: java.io.IOException =>
        // every failure diagnosis below — including a committed() that
        // THROWS on an unparseable marker — must still remove the staged
        // dir, or the loser leaks it until a manual repair()
        try {
          val won = committed()
          if (!won && f.exists(dst))
            throw new SlotBlockedException(
              s"marker-less $dst occupies the v=$version slot (crash debris or a commit " +
                "in flight) — not overwriting; quiesce writers and run repair()", e)
          if (won) CasProtocol.lost(dir, version, what, e)
          // slot empty AND no marker: the rename itself failed (a
          // transient filesystem error) — nobody won, so don't
          // misattribute a concurrent winner; the caller may retry
          throw new IllegalStateException(
            s"rename of staged $what into v=$version at $dir failed with the slot " +
              "empty — transient filesystem error, not a lost race; nothing " +
              "published, safe to retry", e)
        } finally CasProtocol.dropStaging(f, staging)
    }
  }
}

/** Claim-by-conditional-put for object stores: create-exclusive of
  * `v=N/_CLAIM` (an atomic whole-object put with an existence
  * precondition — the one exclusivity primitive object stores DO offer)
  * is the claim; only the winner copies the staged payload into `v=N`,
  * with the `_COMMITTED` marker put LAST so readers never observe a
  * half-copied version as published. The loser of the put fails loudly
  * with its staging removed, exactly like a lost rename.
  *
  * Crash anatomy (all repaired by the standard quiesced
  * [[CasProtocol.repair]], no new states): before the claim → private
  * staging debris; after the claim, before the marker → a marker-less
  * `v=N` holding `_CLAIM` + partial payload, invisible to readers and
  * blocking the slot; after the marker → committed, staging swept later.
  * A NON-crash failure after the claim self-heals: the claim holder
  * owns `v=N` outright (no other writer can have published it), so it
  * deletes its own partial dst and staging and rethrows as retryable.
  *
  * Mixed-committer writers are a MISCONFIGURATION (every writer of a
  * store must resolve the same committer — same conf, same scheme
  * table): a rename-writer on an object store has no claim semantics at
  * all, and nothing can defend the store from it. This committer still
  * limits the blast radius: a post-claim marker re-check withdraws
  * cleanly if such a writer committed inside our claim window, so a
  * published version is never merged over.
  */
private[graft] object ConditionalPutCommitter extends VersionCommitter {
  def publish(
      spark: SparkSession, f: FileSystem, dir: String, staging: Path, dst: Path,
      version: Long, committed: () => Boolean, what: String): Unit = {
    // Static-debris guard: live claimants create _CLAIM before any payload
    // byte lands, so dst content WITHOUT a claim file can only be a dead
    // writer's leavings (or rename-era debris) — check-then-act is
    // race-free against the dead. With a claim file it is a racer:
    // committed or still copying.
    if (f.exists(dst)) {
      try {
        if (f.exists(new Path(dst, CasProtocol.Claim))) {
          if (committed()) CasProtocol.lost(dir, version, what, null)
          throw new SlotBlockedException(
            s"$dst already claimed for v=$version (commit in flight or crashed mid-copy) — " +
              "quiesce writers and run repair()", null)
        }
        throw new SlotBlockedException(
          s"claim-less, marker-less $dst occupies the v=$version slot (crash debris) — " +
            "not merging into it; quiesce writers and run repair()", null)
      } finally CasProtocol.dropStaging(f, staging)
    }
    // THE claim: whole-object conditional put of the claim file.
    // create(path, overwrite=false) must map to the store's atomic
    // existence-preconditioned put — the committer's one requirement.
    // Only the CREATE is the race; once it succeeds the slot is OURS, so
    // any later failure rolls our own dst back and rethrows retryable
    // instead of blaming a phantom concurrent writer.
    def rollbackOwned(phase: String, e: Throwable): Nothing = {
      try f.delete(dst, true) catch { case _: Exception => () }
      CasProtocol.dropStaging(f, staging)
      throw new IllegalStateException(
        s"$phase for v=$version at $dir failed after winning the claim — " +
          "own partial destination removed, nothing published, safe to retry", e)
    }
    val out =
      try f.create(new Path(dst, CasProtocol.Claim), false)
      catch {
        case e: java.io.IOException => // FileAlreadyExistsException included
          try {
            if (committed()) CasProtocol.lost(dir, version, what, e)
            throw new SlotBlockedException(
              s"lost the conditional put of v=$version at $dir (claim in flight or crashed) — " +
                s"$what NOT published", e)
          } finally CasProtocol.dropStaging(f, staging)
      }
    try {
      try out.write(
        s"""{"what":"$what","attempt":"${java.util.UUID.randomUUID()}"}""".getBytes("UTF-8"))
      finally out.close()
    } catch { case e: Exception => rollbackOwned(s"claim body write of $what", e) }
    // Mixed-committer guard: a MISCONFIGURED rename-writer racing this
    // store could have committed v=N between our exists() precheck and
    // the claim put (its dirs carry no claim file, so the put lands
    // inside its committed dir). Re-check before any payload byte does
    // damage: committed ⇒ the slot is theirs — withdraw our claim file
    // only and lose cleanly instead of merging over a published version.
    val theirs =
      try committed()
      catch { case t: Throwable => rollbackOwned(s"marker re-read after claiming $what", t) }
    if (theirs) {
      try f.delete(new Path(dst, CasProtocol.Claim), false) catch { case _: Exception => () }
      CasProtocol.dropStaging(f, staging)
      CasProtocol.lost(dir, version, what, null)
    }
    // We own the slot. Copy payload, marker strictly last.
    try {
      val files = {
        val it = f.listFiles(staging, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[Path]
        while (it.hasNext) { val s = it.next(); if (s.isFile) buf += s.getPath }
        buf.toSeq
      }
      // relative paths via the URI *path* component on both sides — the
      // listing may qualify paths differently from the passed-in prefix,
      // and java's URI.relativize truncates a no-trailing-slash base to
      // its PARENT dir ("v1-uuid/part" instead of "part")
      val stagePrefix = staging.toUri.getPath + "/"
      val rel = files.map(p => p -> p.toUri.getPath.stripPrefix(stagePrefix))
      val (markerLast, payload) = rel.partition(_._2 == CasProtocol.Marker)
      require(markerLast.nonEmpty, s"staged $what at $staging carries no ${CasProtocol.Marker}")
      (payload ++ markerLast).foreach { case (src, r) =>
        FileUtil.copy(f, src, f, new Path(dst, r), false, spark.sparkContext.hadoopConfiguration)
      }
    } catch { case e: Exception => rollbackOwned(s"copy of staged $what", e) }
    // Published (marker visible). The staging sweep is pure hygiene and
    // must NEVER trigger the rollback above — a transient delete failure
    // here leaves only private staging debris for repair()/GC.
    CasProtocol.dropStaging(f, staging)
  }
}
