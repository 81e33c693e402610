package graft

import graft.sources.CatalogStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SURVEY.md §2.H — the catalog-maintenance EXECUTE path (versioned
  * partitioned-parquet store with atomic publish): upsert → write →
  * read-back → re-upsert idempotence, crash-orphan tolerance, retention
  * GC. Reference `datasets/update.py:14-58`, `update_root_catalog/task.py`.
  */
class CatalogStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String = java.nio.file.Files.createTempDirectory("graft_cat").toString

  private def base(): DataFrame = Tables(spark, sf).documents.select(
    col("doc_id").as("dataset_key"),
    concat(col("source"), lit("/"), col("doc_id")).as("title"),
    lit(1).as("revision"))

  // q68's fixture shape: revision bumps for doc_id%3, inserts in the
  // negative key namespace for doc_id%10==7
  private def changes(): DataFrame = {
    val t = Tables(spark, sf)
    t.documents.filter(col("doc_id") % 3 === 0).select(
        col("doc_id").as("dataset_key"),
        concat(col("source"), lit("-v2")).as("title"),
        lit(2).as("revision"))
      .unionAll(t.documents.filter(col("doc_id") % 10 === 7).select(
        (-(col("doc_id") + 1)).as("dataset_key"),
        concat(lit("new-"), col("source")).as("title"),
        lit(1).as("revision")))
  }

  private def snapshot(dir: String): Set[(Long, String, Int)] =
    CatalogStore.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("dataset_key"), r.getAs[String]("title"), r.getAs[Int]("revision")))
      .toSet

  test("upsert order-convergence: distinct-revision batches reach one state in any order") {
    // the replay/merge contract at its core: with revisions totally
    // ordered per key, the final catalog is the max-revision row per key
    // REGARDLESS of batch application order — the property that makes
    // out-of-order batch redelivery safe. (Revision TIES are the one
    // documented exception: base wins, so ties are order-dependent by
    // design — this fixture keeps revisions unique per key.)
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val updates = (0 until 24).map { i =>
      (rnd.nextInt(6).toLong, s"title_r${i + 2}", i + 2) // 6 keys, unique revisions
    }
    val batches: Seq[DataFrame] = updates.grouped(8).map(
      _.toDF("dataset_key", "title", "revision")).toSeq
    def applyAll(order: Seq[Int]): Set[(Long, String, Int)] = {
      val dir = tmp()
      CatalogStore.init(spark, dir,
        (0L until 6L).map(k => (k, s"title_r1", 1)).toDF("dataset_key", "title", "revision"))
      order.foreach(i => CatalogStore.upsert(spark, dir, batches(i)))
      snapshot(dir)
    }
    val forward = applyAll(batches.indices)
    val backward = applyAll(batches.indices.reverse)
    val shuffled = applyAll(rnd.shuffle(batches.indices.toList))
    assert(forward == backward && forward == shuffled)
    // and the converged state is exactly max-revision-per-key
    val expected = (updates ++ (0L until 6L).map(k => (k, "title_r1", 1)))
      .groupBy(_._1).map { case (_, xs) => xs.maxBy(_._3) }.toSet
    assert(forward == expected)
  }

  test("init + read-back round-trips the initial catalog, sharded for pruning") {
    val dir = tmp()
    assert(CatalogStore.currentVersion(spark, dir).isEmpty)
    assert(CatalogStore.init(spark, dir, base()) == 1L)
    assert(CatalogStore.currentVersion(spark, dir).contains(1L))
    assert(snapshot(dir) == base().collect().map(r =>
      (r.getAs[Long]("dataset_key"), r.getAs[String]("title"), r.getAs[Int]("revision"))).toSet)
    // storage is hash-sharded: a key-filtered read partition-prunes
    val v = spark.read.parquet(s"$dir/v=1").filter(col("shard") === 3)
    assert(v.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("upsert applies a change batch and re-upsert of the same batch is a no-op") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    val nBase = base().count()
    val nUpd = base().filter(col("dataset_key") % 3 === 0).count()
    val nIns = changes().filter(col("dataset_key") < 0).count()

    val s1 = CatalogStore.upsert(spark, dir, changes())
    assert(s1 == CatalogStore.UpsertStats(2L, nIns, nUpd, nBase - nUpd))
    val after = snapshot(dir)
    assert(after.size == nBase + nIns)
    assert(after.count(_._2.endsWith("-v2")) == nUpd)
    assert(after.count(_._2.startsWith("new-")) == nIns)

    // idempotence: same batch again → nothing inserted/updated, no new
    // version published, content identical
    val s2 = CatalogStore.upsert(spark, dir, changes())
    assert(s2.version == 2L && s2.inserted == 0L && s2.updated == 0L)
    assert(s2.unchanged == nBase + nIns)
    assert(CatalogStore.currentVersion(spark, dir).contains(2L))
    assert(snapshot(dir) == after)
  }

  test("an orphan snapshot dir from a crashed writer is never read; claiming its slot needs repair()") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    // simulate crash debris occupying the v=2 slot WITHOUT a _COMMITTED
    // marker (a pre-CAS writer that died mid-write, or manual garbage)
    base().limit(3).withColumn("title", lit("GARBAGE")).withColumn("shard", lit(0))
      .write.partitionBy("shard").parquet(s"$dir/v=2")
    assert(CatalogStore.currentVersion(spark, dir).contains(1L))
    assert(!snapshot(dir).exists(_._2 == "GARBAGE")) // reads ignore the orphan
    // the orphan is not data: time travel refuses it, listings omit it
    intercept[IllegalArgumentException](CatalogStore.readVersion(spark, dir, 2L))
    assert(CatalogStore.listVersions(spark, dir) == Seq(1L))
    // r13 (ADVICE r12): the claim path must NOT delete the occupant — a
    // marker-less dir is indistinguishable from a cross-JVM rename in
    // flight, and inline deletion could discard a concurrent winner. The
    // writer loses loudly and is pointed at the explicit repair op.
    val e = intercept[IllegalStateException](CatalogStore.upsert(spark, dir, changes()))
    assert(e.getMessage.contains("repair"), s"unexpected failure: ${e.getMessage}")
    assert(CatalogStore.currentVersion(spark, dir).contains(1L), "failed claim must publish nothing")
    // explicit repair (writers quiesced) clears the debris; the slot claims
    val cleared = CatalogStore.repair(spark, dir)
    assert(cleared.exists(_.endsWith("v=2")), s"repair cleared: $cleared")
    val s = CatalogStore.upsert(spark, dir, changes())
    assert(s.version == 2L)
    assert(snapshot(dir).count(_._2.endsWith("-v2")) > 0)
    assert(!snapshot(dir).exists(_._2 == "GARBAGE"))
  }

  test("CAS publish: two writers racing for one version — exactly one wins, the loser fails loudly") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    // both writers merged against v=1 and stage their v=2 privately —
    // staging dirs are unique, so neither sees the other's files
    def batchOf(tag: String, off: Long) = base().limit(1)
      .select((col("dataset_key") - off).as("dataset_key"),
        lit(tag).as("title"), lit(1).as("revision"))
    val sA = CatalogStore.stage(batchOf("winner", 10000L), dir, 2L)
    val sB = CatalogStore.stage(batchOf("loser", 10001L), dir, 2L)
    CatalogStore.commit(spark, dir, sA, 2L)
    val e = intercept[IllegalStateException](CatalogStore.commit(spark, dir, sB, 2L))
    assert(e.getMessage.contains("NOT published"))
    // the slot holds exactly the winner's snapshot; the loser's staging is
    // reclaimed and nothing it wrote is visible anywhere
    assert(CatalogStore.currentVersion(spark, dir).contains(2L))
    val titles = CatalogStore.readVersion(spark, dir, 2L)
      .collect().map(_.getAs[String]("title")).toSet
    assert(titles == Set("winner"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/_staging")).isEmpty)
    // the loser retries the FULL upsert: it re-merges against the winner's
    // catalog and lands v=3 — rejected, re-applied, never lost
    val retry = CatalogStore.upsert(spark, dir, batchOf("loser", 10001L))
    assert(retry.version == 3L && retry.inserted == 1L)
    assert(snapshot(dir).map(_._2).count(t => t == "winner" || t == "loser") == 2)
  }

  test("concurrent upserts from many threads: published batches are all applied, failures are loud") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val outcomes = Await.result(
      Future.sequence((1 to 4).map { i =>
        Future(scala.util.Try(CatalogStore.upsert(spark, dir,
          base().limit(1).select((col("dataset_key") - 20000L - i).as("dataset_key"),
            lit(s"writer-$i").as("title"), lit(1).as("revision")))))
      }),
      Duration.Inf)
    val wins = outcomes.collect { case scala.util.Success(s) => s }
    val losses = outcomes.collect { case scala.util.Failure(e) => e }
    assert(wins.nonEmpty, "at least one writer must win")
    losses.foreach { e =>
      assert(e.isInstanceOf[IllegalStateException] && e.getMessage.contains("NOT published"),
        s"a loser must fail loudly, got: $e")
    }
    // winners claimed DISTINCT versions and every winner's row is in the
    // final catalog — a published batch is never lost
    assert(wins.map(_.version).distinct.length == wins.length)
    val titles = snapshot(dir).map(_._2)
    wins.foreach(w => assert(w.inserted == 1L))
    val applied = titles.count(_.startsWith("writer-"))
    assert(applied == wins.length, s"expected ${wins.length} applied batches, found $applied")
  }

  test("snapshot manifest: losing a part file post-publish fails reads loudly instead of serving a partial catalog") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    CatalogStore.upsert(spark, dir, changes()) // v=2, the published snapshot
    val before = snapshot(dir)

    // silent corruption: delete ONE shard's part file — the remaining
    // files still read as a perfectly valid (smaller) parquet dataset
    val v2 = new java.io.File(s"$dir/v=2")
    val part = v2.listFiles().filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).head
    assert(part.delete())

    val e = intercept[IllegalStateException](CatalogStore.read(spark, dir).collect())
    assert(e.getMessage.contains("CORRUPT"), s"got: ${e.getMessage}")
    // time travel to the corrupted version refuses too; older versions still serve
    intercept[IllegalStateException](CatalogStore.readVersion(spark, dir, 2L))
    assert(CatalogStore.readVersion(spark, dir, 1L).count() == base().count())

    // a rewritten marker (manifest itself damaged) is corruption, not leniency
    val dir2 = tmp()
    CatalogStore.init(spark, dir2, base())
    val marker = new java.io.File(s"$dir2/v=1/_COMMITTED")
    new java.io.File(s"$dir2/v=1/._COMMITTED.crc").delete() // local ChecksumFs sidecar
    val w = new java.io.FileWriter(marker); w.write("garbage"); w.close()
    val e2 = intercept[IllegalStateException](CatalogStore.read(spark, dir2).collect())
    assert(e2.getMessage.contains("manifest"), s"got: ${e2.getMessage}")

    assert(before.nonEmpty) // sanity: the store really had published data
  }

  // r18: the DSv2 snapshot scan verifies the manifest DRIVER-SIDE from the
  // one collected row set (readVersionRowsVerified) instead of running a
  // separate verification aggregate — pin that the integrity contract
  // survived the optimization: corruption still fails loudly through the
  // DSv2 path, and the healthy read stays row-identical to readVersion.
  test("DSv2 snapshot read: driver-side manifest fold serves verified rows, refuses corruption") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    def dsv2() = spark.read.format("graft.sources.CatalogSnapshotSource")
      .option("path", dir).option("version", "1").load()
    val got = dsv2().collect().map(_.toString).sorted.toSeq
    val want = CatalogStore.readVersion(spark, dir, 1L).collect().map(_.toString).sorted.toSeq
    assert(got == want, "DSv2 read diverges from readVersion")
    // silent corruption: drop one shard's part file — the survivors still
    // read as a valid (smaller) parquet dataset, so only the manifest
    // count/xor fold can notice
    val part = new java.io.File(s"$dir/v=1").listFiles()
      .filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).head
    assert(part.delete())
    val e = intercept[Throwable](dsv2().collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("CORRUPT")),
      s"expected loud CORRUPT refusal, got: ${messages(e).mkString(" | ")}")
  }

  // reference datasets/create.py:19-39 — POST rejects a title failing
  // TITLE_PATTERN (BAD_REQUEST) or already held by another dataset
  // (CONFLICT via datasets_title_idx); pinned by
  // tests/test_datasets_endpoint.py:61-62 and tests/test_cli.py:142
  test("create: duplicate title under a different key is a CONFLICT; pattern violations are BAD_REQUEST-classified") {
    val dir = tmp()
    def row(key: Long, title: String) = spark.range(1)
      .select(lit(key).as("dataset_key"), lit(title).as("title"), lit(1).as("revision"))
    CatalogStore.init(spark, dir, row(1L, "Wellington_Aerial-2024"))

    // clean create: macron vowels are legal TITLE_PATTERN characters
    val ok = CatalogStore.create(spark, dir, row(2L, "Ōtāhuhu_LiDAR-2026"))
    assert(ok.version == 2L && ok.inserted == 1L)

    // CONFLICT: same title, different dataset_key — rejected, nothing published
    val conflict = intercept[IllegalArgumentException](
      CatalogStore.create(spark, dir, row(3L, "Wellington_Aerial-2024")))
    assert(conflict.getMessage.contains("title_conflict"))
    assert(CatalogStore.currentVersion(spark, dir).contains(2L))

    // BAD_REQUEST analog: spaces/punctuation fail TITLE_PATTERN
    val bad = intercept[IllegalArgumentException](
      CatalogStore.create(spark, dir, row(4L, "bad title!")))
    assert(bad.getMessage.contains("title_pattern"))
    assert(CatalogStore.currentVersion(spark, dir).contains(2L))

    // replaying an applied create is a no-op, not a conflict (same key holds it)
    val replay = CatalogStore.create(spark, dir, row(2L, "Ōtāhuhu_LiDAR-2026"))
    assert(replay.version == 2L && replay.inserted == 0L && replay.updated == 0L)
  }

  test("createViolations classifies every bad row in one pass, including intra-batch duplicate titles") {
    val dir = tmp()
    def rows(t: (Long, String)*) = {
      import spark.implicits._
      t.toDF("dataset_key", "title").withColumn("revision", lit(1))
    }
    CatalogStore.init(spark, dir, rows(1L -> "existing-title"))
    val batch = rows(
      2L -> "existing-title",   // conflicts with the snapshot
      3L -> "twin", 4L -> "twin", // intra-batch duplicate: both flagged
      5L -> "has space",        // pattern
      6L -> "fine_Title-ā")     // clean
    val v = CatalogStore.createViolations(spark, dir, batch)
      .collect().map(r => (r.getAs[Long]("dataset_key"), r.getAs[String]("violation"))).toSet
    assert(v == Set((2L, "title_conflict"), (3L, "title_conflict"),
      (4L, "title_conflict"), (5L, "title_pattern")))
  }

  // reference datasets/get.py — point get by id (DynamoDB get-item) and
  // lookup by title (the datasets_title_idx GSI)
  test("point get probes only the key's shard and agrees with the writer's hash; title lookup finds unique titles") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    // every sampled key must resolve — this pins the driver-side Murmur3
    // shard derivation to the writer's pmod(hash(key)) partitioning: a
    // seed or type mismatch would probe the wrong shard and return None
    val sample = base().limit(25).collect()
    sample.foreach { r =>
      val (k, t) = (r.getAs[Long]("dataset_key"), r.getAs[String]("title"))
      assert(CatalogStore.get(spark, dir, k).contains((t, 1L)), s"key $k missed its shard")
    }
    assert(CatalogStore.get(spark, dir, -987654321L).isEmpty) // the 404 path
    val (k0, t0) = (sample.head.getAs[Long]("dataset_key"), sample.head.getAs[String]("title"))
    assert(CatalogStore.findByTitle(spark, dir, t0).contains((k0, 1L)))
    assert(CatalogStore.findByTitle(spark, dir, "no-such-title").isEmpty)
  }

  // reference datasets/delete.py:46-61 — DELETE 404s a missing id and
  // CONFLICTs when the dataset still owns storage objects ("dataset
  // versions still exist", checked by listing the bucket prefix)
  test("delete: guarded by existence and occupancy, publishes the surviving snapshot") {
    val dir = tmp()
    def rows(keys: Long*) = {
      import spark.implicits._
      keys.toDF("dataset_key")
    }
    def cat(t: (Long, String)*) = {
      import spark.implicits._
      t.toDF("dataset_key", "title").withColumn("revision", lit(1))
    }
    CatalogStore.init(spark, dir, cat(1L -> "keep-me", 2L -> "empty-one", 3L -> "occupied-one"))
    val occupied = rows(3L) // dataset 3 still holds objects in the storage lake

    // clean delete of an empty dataset: version advances, row gone
    val s = CatalogStore.delete(spark, dir, rows(2L), occupied)
    assert(s == CatalogStore.DeleteStats(2L, 1L))
    assert(snapshot(dir).map(_._1) == Set(1L, 3L))

    // NOT_FOUND: already deleted (a replay is loud, like the reference's 404)
    val e404 = intercept[IllegalArgumentException](
      CatalogStore.delete(spark, dir, rows(2L), occupied))
    assert(e404.getMessage.contains("not_found"), e404.getMessage)

    // CONFLICT: still-occupied dataset; nothing published either way
    val e409 = intercept[IllegalArgumentException](
      CatalogStore.delete(spark, dir, rows(3L), occupied))
    assert(e409.getMessage.contains("conflict_nonempty"), e409.getMessage)
    assert(CatalogStore.currentVersion(spark, dir).contains(2L))

    // the violations relation reports every bad key in one pass
    val v = CatalogStore.deleteViolations(spark, dir, rows(2L, 3L, 1L), occupied)
      .collect().map(r => (r.getAs[Long]("dataset_key"), r.getAs[String]("violation"))).toSet
    assert(v == Set((2L, "not_found"), (3L, "conflict_nonempty")), s"got $v")

    // time travel still serves the pre-delete catalog
    assert(CatalogStore.readVersion(spark, dir, 1L).count() == 3)
  }

  test("delete races an upsert through the same CAS: exactly one publishes, the loser is loud, state stays consistent") {
    import spark.implicits._
    val dir = tmp()
    CatalogStore.init(spark, dir,
      Seq((1L, "stay", 1), (2L, "doomed", 1)).toDF("dataset_key", "title", "revision"))
    val empty = spark.range(0).select(col("id").as("dataset_key"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val (delOut, upOut) = Await.result(
      Future(scala.util.Try(
        CatalogStore.delete(spark, dir, Seq(2L).toDF("dataset_key"), empty)))
        .zip(Future(scala.util.Try(CatalogStore.upsert(spark, dir,
          Seq((3L, "newcomer", 1)).toDF("dataset_key", "title", "revision"))))),
      Duration.Inf)
    val failures = Seq(delOut, upOut).collect { case scala.util.Failure(e) => e }
    failures.foreach(e => assert(
      e.isInstanceOf[IllegalStateException] && e.getMessage.contains("NOT published"),
      s"loser must fail loudly: $e"))
    // whatever interleaving happened, the surviving catalog is one of the
    // two serializable outcomes and every published version reads clean
    val keys = snapshot(dir).map(_._1)
    assert(Seq(delOut, upOut).count(_.isSuccess) >= 1)
    if (failures.isEmpty) assert(keys == Set(1L, 3L)) // both serialized
    else assert(keys == Set(1L, 3L) || keys == Set(1L) || keys == Set(1L, 2L, 3L), s"keys: $keys")
    CatalogStore.listVersions(spark, dir).foreach(v =>
      CatalogStore.readVersion(spark, dir, v).collect()) // manifests all verify
  }

  test("compaction rewrites the snapshot to one file per shard, content-identical, through the CAS") {
    val dir = tmp()
    // fragment the snapshot the way a real cluster does: the merge's task
    // count (shuffle partitions) is co-prime with the 16 shards, so every
    // task holds rows of MANY shards and partitionBy fans out tasks×shards
    // files (at the spec default of 4 partitions, task = hash(key) % 4
    // correlates with shard = hash(key) % 16 and every snapshot lands
    // accidentally compact; AQE coalescing off so the 25 tasks survive)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "25")
    try {
      CatalogStore.init(spark, dir, base())
      CatalogStore.upsert(spark, dir, changes())
      CatalogStore.upsert(spark, dir, changes()
        .withColumn("revision", col("revision") + 10))
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    val vBefore = CatalogStore.currentVersion(spark, dir).get
    val rowsBefore = snapshot(dir)
    val (st, compactJobs) = JobProbe.jobs(spark)(CatalogStore.compact(spark, dir))
    // the rewrite stages from the frame the manifest check verified: a
    // second snapshot read would re-run the count+xor scan (8 jobs)
    assert(compactJobs.size == 6, s"compaction ran ${compactJobs.size} jobs, want 6")
    assert(st.filesBefore > 16,
      s"fixture failed to fragment (only ${st.filesBefore} files) — the test proves nothing")
    assert(st.version == vBefore + 1, "compaction publishes a NEW version via the CAS")
    assert(st.filesAfter < st.filesBefore,
      s"expected fewer files, got ${st.filesBefore} -> ${st.filesAfter}")
    // EXACTLY one file per occupied shard: the compaction shuffle's
    // partition id equals the writer's shard id (same pmod(murmur3, 16)
    // expression), so no two shards can coalesce into one task — this is
    // a guarantee, not the best-effort a sampled range partitioning gives
    val occupiedShards = CatalogStore.readVersion(spark, dir, st.version)
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(col("dataset_key")), lit(16)))
      .distinct().count()
    assert(st.filesAfter == occupiedShards,
      s"one file per occupied shard expected: $occupiedShards shards, ${st.filesAfter} files")
    // content byte-identical (manifest-verified read agrees row-for-row)
    assert(snapshot(dir) == rowsBefore)
    assert(st.rows == rowsBefore.size)
    // the pre-compaction version is still readable (time travel intact)
    assert(CatalogStore.readVersion(spark, dir, vBefore).count() == rowsBefore.size)
    // a second compaction is a no-op: already at <= one file per shard
    val st2 = CatalogStore.compact(spark, dir)
    assert(st2.version == st.version && st2.filesAfter == st.filesAfter)
    // and a point get still prunes to the key's shard after the rewrite
    val probe = rowsBefore.head
    assert(CatalogStore.get(spark, dir, probe._1).contains((probe._2, probe._3.toLong)))
  }

  test("compaction races an upsert through the same CAS: one version slot, loud loser, clean state") {
    val dir = tmp()
    // fragment the snapshot (same fixture trick as the compaction test) so
    // the compactor has real work and a real stage→commit window to race in
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "25")
    try {
      CatalogStore.init(spark, dir, base())
      CatalogStore.upsert(spark, dir, changes())
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    val v0 = CatalogStore.currentVersion(spark, dir).get
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.global
    val racerUpsert = Seq((-999999L, "racer", 1)).toDF("dataset_key", "title", "revision")
    val (cOut, uOut) = Await.result(
      Future(scala.util.Try(CatalogStore.compact(spark, dir)))
        .zip(Future(scala.util.Try(CatalogStore.upsert(spark, dir, racerUpsert)))),
      Duration.Inf)
    // any loser fails LOUDLY with nothing published, and at least one wins
    Seq(cOut, uOut).collect { case scala.util.Failure(e) => e }.foreach(e => assert(
      e.isInstanceOf[IllegalStateException] && e.getMessage.contains("NOT published"),
      s"loser must fail loudly: $e"))
    assert(Seq(cOut, uOut).count(_.isSuccess) >= 1)
    // every published version still manifest-verifies, and the racer's row
    // is present iff its upsert reported success
    CatalogStore.listVersions(spark, dir).foreach(v =>
      CatalogStore.readVersion(spark, dir, v).collect())
    val keys = snapshot(dir).map(_._1)
    assert(keys.contains(-999999L) == uOut.isSuccess, s"racer row vs outcome: $uOut")
    // a compaction that won preserved content exactly (its stats say so and
    // the manifest check inside compact proved it); one that lost left no
    // version behind — either way the chain is v0 + the winners only
    val expectedVersions = v0 + Seq(cOut, uOut).count(_.isSuccess)
    assert(CatalogStore.currentVersion(spark, dir).contains(expectedVersions))
    // staging left clean: losers deleted their dirs
    val stagingPath = new org.apache.hadoop.fs.Path(dir, "_staging")
    val f = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = if (f.exists(stagingPath)) f.listStatus(stagingPath).length else 0
    assert(leftover == 0, s"$leftover staged dirs left behind")
    // the store remains fully operational after the race: compact to quiescence
    val st = CatalogStore.compact(spark, dir)
    assert(st.rows == snapshot(dir).size.toLong)
  }

  test("retention GC drops old snapshots, never the published one") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    CatalogStore.upsert(spark, dir, changes()) // v=2
    val more = changes().withColumn("revision", lit(3)) // v=3
    CatalogStore.upsert(spark, dir, more)
    assert(CatalogStore.currentVersion(spark, dir).contains(3L))
    assert(CatalogStore.listVersions(spark, dir) == Seq(1L, 2L, 3L))

    // time travel: v=1 is still the pristine initial catalog
    val v1 = CatalogStore.readVersion(spark, dir, 1L).collect()
    assert(v1.length == base().count() && !v1.exists(_.getAs[String]("title").endsWith("-v2")))

    val reclaimed = CatalogStore.gcVersions(spark, dir, keep = 1)
    assert(reclaimed.toSet == Set(1L, 2L))
    assert(CatalogStore.currentVersion(spark, dir).contains(3L))
    assert(snapshot(dir).nonEmpty) // current still fully readable
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/v=1")))
  }

  // the bounded control-plane collect: files holding MORE rows than the
  // manifest (a duplicated part file) fail CORRUPT, and the driver stops
  // fetching at maxRows + 1 rows instead of materializing every file
  test("a duplicated part file fails CORRUPT with the collect stopped at maxRows + 1 rows") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    val n = base().count().toInt
    val part = new java.io.File(s"$dir/v=1").listFiles()
      .filter(_.getName.startsWith("shard="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    java.nio.file.Files.copy(
      part.toPath, new java.io.File(part.getParentFile, "part-99999-dup.parquet").toPath)
    val onDisk = spark.read.parquet(s"$dir/v=1").count()
    assert(onDisk > n + 1, s"fixture: the duplicate must add at least two rows ($onDisk vs $n)")
    val e = intercept[IllegalStateException](
      CatalogStore.readVersionRowsVerified(spark, dir, 1L, n, "duplicate probe"))
    assert(e.getMessage.contains("CORRUPT"), s"got: ${e.getMessage}")
    assert(e.getMessage.contains(s"stopped at ${n + 1} rows"), s"got: ${e.getMessage}")
  }

  // the snapshot schema lives in the commit marker, not in a JVM cache: a
  // store deleted and re-published at the same dir with another key type
  // serves the new schema through both the DSv2 read and the point get
  test("a store re-initialized at the same dir with a new key type serves the new schema") {
    import spark.implicits._
    val dir = tmp()
    def dsv2() = spark.read.format("graft.sources.CatalogSnapshotSource")
      .option("path", dir).option("version", "1").load()
    CatalogStore.init(spark, dir, Seq((1L, "long-key", 1)).toDF("dataset_key", "title", "revision"))
    assert(dsv2().schema("dataset_key").dataType == org.apache.spark.sql.types.LongType)
    assert(CatalogStore.get(spark, dir, 1L).contains(("long-key", 1L)))
    val f = new org.apache.hadoop.fs.Path(dir)
    f.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(f, true)
    CatalogStore.init(spark, dir, Seq(("k1", "string-key", 1)).toDF("dataset_key", "title", "revision"))
    val again = dsv2()
    assert(again.schema("dataset_key").dataType == org.apache.spark.sql.types.StringType)
    assert(again.collect().map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("k1", "string-key")))
    assert(CatalogStore.get(spark, dir, "k1").contains(("string-key", 1L)))
  }

  test("reads declare the marker's schema: get runs no job, findByTitle is one job and infers nothing") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    val r = base().orderBy(col("dataset_key")).head()
    val (k, t) = (r.getAs[Long]("dataset_key"), r.getAs[String]("title"))
    val marker = scala.io.Source.fromFile(s"$dir/v=1/_COMMITTED", "UTF-8").mkString
    assert(marker.contains("\"schema\":{"), s"marker: $marker")
    val (got, getJobs) = JobProbe.jobs(spark)(CatalogStore.get(spark, dir, k))
    assert(got.contains((t, 1L)))
    assert(getJobs.isEmpty, s"get ran ${getJobs.size} jobs:\n${getJobs.mkString("\n--\n")}")
    // a miss is served on the driver too
    val (miss, missJobs) = JobProbe.jobs(spark)(CatalogStore.get(spark, dir, -987654321L))
    assert(miss.isEmpty && missJobs.isEmpty, s"miss jobs:\n${missJobs.mkString("\n--\n")}")
    // the scan, the manifest check and the title match: one job
    val (found, findJobs) = JobProbe.jobs(spark)(CatalogStore.findByTitle(spark, dir, t))
    assert(found.contains((k, 1L)))
    assert(findJobs.size == 1 && !findJobs.exists(JobProbe.isInference),
      s"findByTitle jobs:\n${findJobs.mkString("\n--\n")}")
  }

  /** The shard the writer's pmod(hash(key), 16) puts `key` in. */
  private def shardOf(key: Any): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash}
    val h = Murmur3Hash(Seq(Literal(key)), 42).eval(null).asInstanceOf[Int]
    ((h % 16) + 16) % 16
  }

  test("a get whose shard has no directory is a miss") {
    import spark.implicits._
    val dir = tmp()
    CatalogStore.init(spark, dir, Seq((1L, "only", 1)).toDF("dataset_key", "title", "revision"))
    val absent = (2L to 1000L).find(k => shardOf(k) != shardOf(1L)).get
    assert(!new java.io.File(s"$dir/v=1/shard=${shardOf(absent)}").exists,
      "fixture: the probed shard must have no directory")
    val (got, jobs) = JobProbe.jobs(spark)(CatalogStore.get(spark, dir, absent))
    assert(got.isEmpty && jobs.isEmpty, s"jobs:\n${jobs.mkString("\n--\n")}")
    assert(CatalogStore.get(spark, dir, 1L).contains(("only", 1L)))
  }

  test("a String-keyed store serves gets; a probe of another key type is refused") {
    import spark.implicits._
    val dir = tmp()
    val rows = (1 to 40).map(i => (s"ds-$i", s"title-$i", i % 3 + 1))
    CatalogStore.init(spark, dir, rows.toDF("dataset_key", "title", "revision"))
    rows.foreach { case (k, t, rev) =>
      assert(CatalogStore.get(spark, dir, k).contains((t, rev.toLong)), s"key $k")
    }
    assert(CatalogStore.get(spark, dir, "ds-404").isEmpty)
    val e = intercept[IllegalArgumentException](CatalogStore.get(spark, dir, 1L))
    assert(e.getMessage.contains("dataset_key is string"), s"got: ${e.getMessage}")
  }

  test("get agrees with a DataFrame probe for every key of a multi-file snapshot, before and after compaction") {
    val dir = tmp()
    // the compaction test's fragmentation: 25 merge tasks, co-prime with
    // the 16 shards, so a shard holds several part files
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "25")
    try {
      CatalogStore.init(spark, dir, base())
      CatalogStore.upsert(spark, dir, changes())
      CatalogStore.upsert(spark, dir, changes().withColumn("revision", col("revision") + 10))
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    // the reference: the DataFrame API's key match and cast over the same
    // files, every row at once
    def agrees(): Unit = {
      val v = CatalogStore.currentVersion(spark, dir).get
      val rows = spark.read.parquet(s"$dir/v=$v")
        .select(col("dataset_key"), col("title"), col("revision").cast("long")).collect()
      val want = rows.map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(want.size == rows.length && rows.nonEmpty)
      (want.keys ++ Seq(-987654321L, 123456789L)).foreach { k =>
        assert(CatalogStore.get(spark, dir, k) == want.get(k), s"key $k at v=$v")
      }
    }
    val shardFiles = new java.io.File(s"$dir/v=3").listFiles()
      .filter(_.getName.startsWith("shard="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet")))
    assert(shardFiles.exists(_ > 1), "fixture: some shard must hold several part files")
    agrees()
    assert(CatalogStore.compact(spark, dir).version == 4L)
    agrees()
  }

  test("a get of a key held by two rows fails loudly") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    val k = base().orderBy(col("dataset_key")).head().getAs[Long]("dataset_key")
    val part = new java.io.File(s"$dir/v=1/shard=${shardOf(k)}").listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    java.nio.file.Files.copy(
      part.toPath, new java.io.File(part.getParentFile, "part-99999-dup.parquet").toPath)
    val e = intercept[IllegalStateException](CatalogStore.get(spark, dir, k))
    assert(e.getMessage.contains(s"2 rows hold dataset_key '$k'"), s"got: ${e.getMessage}")
  }

  test("a marker written without a schema still reads, through one inference") {
    val dir = tmp()
    CatalogStore.init(spark, dir, base())
    val want = snapshot(dir)
    val marker = new java.io.File(s"$dir/v=1/_COMMITTED")
    val body = scala.io.Source.fromFile(marker, "UTF-8").mkString
    val legacy = body.replaceFirst(""","schema":\{.*\}\}$""", "}")
    assert(legacy.matches("""\{"rows":\d+,"xor":-?\d+\}"""), s"legacy marker: $legacy")
    new java.io.File(s"$dir/v=1/._COMMITTED.crc").delete() // local ChecksumFs sidecar
    val w = new java.io.FileWriter(marker); w.write(legacy); w.close()
    // the first read after the rewrite resolves the snapshot's schema: one
    // inference, cached per file identity
    val (k, t, rev) = want.head
    val (got, jobs) = JobProbe.jobs(spark)(CatalogStore.get(spark, dir, k))
    assert(got.contains((t, rev.toLong)))
    assert(jobs.count(JobProbe.isInference) == 1, s"get jobs:\n${jobs.mkString("\n--\n")}")
    // every later read, through every read path, reuses it
    val (_, later) = JobProbe.jobs(spark) {
      assert(snapshot(dir) == want)
      assert(CatalogStore.get(spark, dir, k).contains((t, rev.toLong)))
      assert(CatalogStore.findByTitle(spark, dir, t).contains((k, rev.toLong)))
      val dsv2 = spark.read.format("graft.sources.CatalogSnapshotSource")
        .option("path", dir).option("version", "1").load()
      assert(dsv2.collect().length == want.size)
    }
    assert(!later.exists(JobProbe.isInference), s"later jobs:\n${later.mkString("\n--\n")}")
  }
}
