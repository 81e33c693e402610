package graft

import graft.sources.DedupIndex
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent incremental dedup index (sources.DedupIndex): LSM
  * base+delta versioning through the versioned-store core's CAS publish, q107
  * reading the stored artifacts instead of deriving the base, and the
  * incremental == rebuild equivalence that makes "maintain, don't
  * re-derive" an actual theorem about this code rather than a docstring.
  */
class DedupIndexSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dedupidx").toString

  private def docsAll = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
  private def baseDocs = Tables(spark, sf).documents
    .filter(!col("source").like("src1%")).select(col("doc_id"), col("text"))

  private def view(dir: String): (Set[String], Set[(Int, Long)], Set[String]) = (
    DedupIndex.hashes(spark, dir).collect().map(_.getString(0)).toSet,
    DedupIndex.sigs(spark, dir).collect()
      .map(r => (r.getAs[Number]("band").intValue, r.getAs[Number]("sig").longValue)).toSet,
    DedupIndex.windows(spark, dir).collect().map(_.getString(0)).toSet)

  test("incremental appends converge to exactly the from-scratch rebuild") {
    val (incr, scratch) = (tmp(), tmp())
    // split the base corpus into an initial load and two arriving batches
    val ids = baseDocs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, rest) = ids.splitAt(ids.length / 2)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    def slice(s: Array[Long]) = baseDocs.filter(col("doc_id").isin(s: _*))
    val st0 = DedupIndex.init(spark, incr, slice(b0), bands = 8)
    assert(st0.version == 1L && st0.kind == "base" && st0.bands == 8)
    val st1 = DedupIndex.append(spark, incr, slice(b1))
    val st2 = DedupIndex.append(spark, incr, slice(b2))
    assert(st2.version >= st1.version)
    DedupIndex.init(spark, scratch, baseDocs, bands = 8)
    assert(view(incr) == view(scratch), "delta chain diverges from a rebuild")
    // totals in the stats equal the actual view sizes
    val (h, s, w) = view(incr)
    val cur = DedupIndex.append(spark, incr, slice(b0)) // nothing new: no-op
    assert(cur.totalHashes == h.size.toLong && cur.totalSigs == s.size.toLong)
    assert(cur.totalWindows == w.size.toLong)
  }

  test("an arriving batch with nothing new publishes NO version") {
    val dir = tmp()
    DedupIndex.init(spark, dir, baseDocs, bands = 8)
    val before = DedupIndex.listVersions(spark, dir)
    val st = DedupIndex.append(spark, dir, baseDocs.limit(50))
    assert(DedupIndex.listVersions(spark, dir) == before, "no-op append grew the version chain")
    assert(st.version == before.last)
  }

  test("compact folds the chain into one base with an identical view; history stays readable") {
    val dir = tmp()
    val ids = baseDocs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, b1) = ids.splitAt(ids.length / 2)
    DedupIndex.init(spark, dir, baseDocs.filter(col("doc_id").isin(b0: _*)), bands = 8)
    DedupIndex.append(spark, dir, baseDocs.filter(col("doc_id").isin(b1: _*)))
    val before = view(dir)
    val st = DedupIndex.compact(spark, dir)
    assert(st.kind == "base")
    assert(view(dir) == before, "compaction changed the index view")
    // the chain now reads from the single new base
    assert(DedupIndex.listVersions(spark, dir).size == 3) // v1 base, v2 delta, v3 base
    // idempotent: already one base → no new version
    assert(DedupIndex.compact(spark, dir).version == st.version)
  }

  test("q107 over the stored index classifies identically to the derived base") {
    val dir = tmp()
    def run() = SparkEntry.queries("q107_delta_dedup")(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val direct = rows(run())
    DedupIndex.init(spark, dir, baseDocs, bands = 8)
    spark.conf.set("graft.delta.index", dir)
    try {
      assert(rows(run()) == direct, "index-backed q107 diverges from the derived-base run")
      // and it composes with the Bloom pre-pass (filter built from the store)
      spark.conf.set("graft.delta.bloom", "true")
      try assert(rows(run()) == direct, "index+bloom q107 diverges")
      finally spark.conf.unset("graft.delta.bloom")
    } finally spark.conf.unset("graft.delta.index")
  }

  test("q181 over the stored hash set calibrates identically to the derived base") {
    val dir = tmp()
    def run() = SparkEntry.queries("q181_bloom_calibration")(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7))).toSeq
    val direct = rows(run())
    assert(direct.nonEmpty)
    DedupIndex.init(spark, dir, baseDocs, bands = 8)
    spark.conf.set("graft.delta.index", dir)
    try {
      assert(rows(run()) == direct, "index-backed q181 diverges from the derived-base run")
      // the production shape reads the stored hash family, not the corpus:
      // the member half's plan must carry a versioned store path
      val plan = run().queryExecution.executedPlan.toString
      assert(plan.contains("v="), "store-backed q181 plan reads no versioned artifact")
    } finally spark.conf.unset("graft.delta.index")
  }

  test("deltaSubstring over the stored windows classifies identically to the derived base") {
    val dir = tmp()
    def run() = graft.operators.Dedup.deltaSubstring(Tables(spark, sf))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5))).toSeq
    val direct = rows(run())
    assert(direct.nonEmpty)
    DedupIndex.init(spark, dir, baseDocs, bands = 8, windowK = 8)
    spark.conf.set("graft.delta.index", dir)
    try assert(rows(run()) == direct, "index-backed deltaSubstring diverges from derived-base run")
    finally spark.conf.unset("graft.delta.index")
  }

  test("window-K mismatch fails loudly instead of probing a foreign window family") {
    val dir = tmp()
    DedupIndex.init(spark, dir, baseDocs, bands = 8, windowK = 8)
    spark.conf.set("graft.delta.index", dir)
    spark.conf.set("graft.dedup.windowTokens", "5")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.operators.Dedup.deltaSubstring(Tables(spark, sf)).collect()
      }
      assert(e.getMessage.contains("rebuild"))
    } finally {
      spark.conf.unset("graft.delta.index")
      spark.conf.unset("graft.dedup.windowTokens")
    }
  }

  test("band-family mismatch fails loudly instead of silently mixing signatures") {
    val dir = tmp()
    DedupIndex.init(spark, dir, baseDocs, bands = 4)
    spark.conf.set("graft.delta.index", dir)
    try {
      val e = intercept[IllegalArgumentException] {
        SparkEntry.queries("q107_delta_dedup")(spark, sf).collect()
      }
      assert(e.getMessage.contains("rebuild"))
    } finally spark.conf.unset("graft.delta.index")
  }

  test("compactIfNeeded bounds read fan-in; gc drops only pre-base history") {
    val dir = tmp()
    val ids = baseDocs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    def slice(s: Seq[Long]) = baseDocs.filter(col("doc_id").isin(s: _*))
    val batches = ids.grouped(math.max(1, ids.length / 6)).toSeq
    DedupIndex.init(spark, dir, slice(batches.head), bands = 8)
    batches.tail.foreach { b =>
      DedupIndex.append(spark, dir, slice(b))
      DedupIndex.compactIfNeeded(spark, dir, maxChain = 3)
    }
    val before = view(dir)
    val vs = DedupIndex.listVersions(spark, dir)
    assert(vs.size > 3, s"expected folded history, got $vs")
    val dropped = DedupIndex.gc(spark, dir)
    assert(dropped.nonEmpty, "no history to gc — compaction never folded?")
    assert(DedupIndex.listVersions(spark, dir) == vs.filterNot(dropped.contains),
      "gc touched chain versions")
    assert(view(dir) == before, "gc changed the index view")
    assert(DedupIndex.gc(spark, dir).isEmpty)
  }

  test("marker-less debris blocks the slot until explicit repair(); replay tags short-circuit") {
    val dir = tmp()
    val ids = baseDocs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, b1) = ids.splitAt(ids.length / 2)
    def slice(s: Array[Long]) = baseDocs.filter(col("doc_id").isin(s: _*))
    DedupIndex.init(spark, dir, slice(b0), bands = 8)
    // crash debris: a v=2 dir with data but NO _COMMITTED marker
    slice(b1).limit(1).select(md5(col("text")).as("h")).write.parquet(s"$dir/v=2/hashes")
    val e = intercept[IllegalStateException](DedupIndex.append(spark, dir, slice(b1)))
    assert(e.getMessage.contains("repair"), s"unexpected: ${e.getMessage}")
    // the TYPE is the contract ImportPipeline self-repairs on — a message
    // rewording must never silently disable that path
    assert(e.isInstanceOf[graft.sources.SlotBlockedException],
      s"blocked slot threw ${e.getClass.getName}, not SlotBlockedException")
    assert(DedupIndex.listVersions(spark, dir) == Seq(1L), "blocked claim published something")
    val cleared = DedupIndex.repair(spark, dir)
    assert(cleared.exists(_.endsWith("v=2")), s"repair cleared: $cleared")
    val st = DedupIndex.append(spark, dir, slice(b1), tag = Some("batch-3"))
    assert(st.version == 2L)
    val replay = DedupIndex.append(spark, dir, slice(b1), tag = Some("batch-3"))
    assert(replay.version == 2L, "replayed tag re-published")
  }

  test("concurrent version claim: exactly one writer publishes, the loser keeps nothing staged") {
    val dir = tmp()
    DedupIndex.init(spark, dir, baseDocs.limit(100), bands = 8)
    // two racers append DIFFERENT novel batches toward the same v=2 slot
    val ids = docsAll.filter(col("source").like("src1%")).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted
    val (r1, r2) = ids.splitAt(ids.length / 2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val results = Await.result(
      Future.sequence(Seq(r1, r2).map(s => Future {
        try Right(DedupIndex.append(spark, dir,
          docsAll.filter(col("doc_id").isin(s: _*))))
        catch { case e: IllegalStateException => Left(e) }
      })),
      5.minutes).toList
    val wins = results.collect { case Right(st) => st }
    assert(wins.nonEmpty, "no writer succeeded")
    // whatever committed is a consistent chain; no staging debris remains
    val staging = new org.apache.hadoop.fs.Path(dir, "_staging")
    val f = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover =
      if (f.exists(staging)) f.listStatus(staging).length else 0
    assert(leftover == 0, s"$leftover staged dirs left behind")
    DedupIndex.hashes(spark, dir).count() // chain readable
  }

  test("a present-but-unparseable marker is corruption, not absence — nothing reaps it") {
    val dir = tmp()
    DedupIndex.init(spark, dir, baseDocs.limit(20), bands = 8)
    val mp = java.nio.file.Paths.get(s"$dir/v=1/_COMMITTED")
    java.nio.file.Files.write(mp, """{"not":"a marker"}""".getBytes("UTF-8"))
    // the rewrite bypasses Hadoop's LocalFileSystem, so drop its CRC
    // sidecar or every marker read fails on checksum, not content
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/v=1/._COMMITTED.crc"))
    // repair must fail loudly INSTEAD of deleting the committed version
    val e = intercept[IllegalStateException](DedupIndex.repair(spark, dir))
    assert(e.getMessage.contains("unreadable"), s"unexpected: ${e.getMessage}")
    val e2 = intercept[IllegalStateException](DedupIndex.listVersions(spark, dir))
    assert(e2.getMessage.contains("unreadable"), s"unexpected: ${e2.getMessage}")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/v=1/hashes")),
      "corrupt-marker handling deleted committed data")
  }
}
