package graft

import graft.sources.FreqStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persistent corpus-frequency store (sources.FreqStore): count-MERGE
  * LSM versioning through the family CAS protocol — additive appends with
  * no base probe at all — plus the consumer wiring (`graft.freq.store`)
  * that turns q121/q130/q136's corpus-scale token shuffle into a
  * vocab-scale read, proven output-identical.
  */
class FreqStoreSpec extends AnyFunSuite {
  import SparkTestSession._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_freqstore").toString

  private def docsAll = Tables(spark, sf).documents.select(col("doc_id"), col("text"))

  private def scalarFreq(rows: Seq[String]): Map[String, Long] =
    rows.flatMap(_.split(" ").filter(_.nonEmpty))
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }

  private def view(dir: String): Map[String, Long] =
    FreqStore.frequencies(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("incremental appends count-merge to exactly the from-scratch table") {
    val dir = tmp()
    val ids = docsAll.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, rest) = ids.splitAt(ids.length / 2)
    val (b1, b2) = rest.splitAt(rest.length / 2)
    def slice(s: Array[Long]) = docsAll.filter(col("doc_id").isin(s: _*))
    val st0 = FreqStore.init(spark, dir, slice(b0))
    assert(st0.version == 1L && st0.kind == "base")
    FreqStore.append(spark, dir, slice(b1))
    val st2 = FreqStore.append(spark, dir, slice(b2))
    val expected = scalarFreq(docsAll.collect().map(_.getString(1)).toSeq)
    assert(view(dir) == expected, "merged chain diverges from scratch derivation")
    assert(st2.totalTokens == expected.values.sum)
    // additive semantics: re-appending an already-counted batch DOUBLES
    // its counts (the store tracks the accepted stream; dedup is upstream)
    FreqStore.append(spark, dir, slice(b2))
    val doubled = view(dir)
    val b2freq = scalarFreq(slice(b2).collect().map(_.getString(1)).toSeq)
    b2freq.foreach { case (t, n) =>
      assert(doubled(t) == expected(t) + n, s"token $t not re-counted additively") }
  }

  test("a token-free batch publishes NO version") {
    import spark.implicits._
    val dir = tmp()
    FreqStore.init(spark, dir, docsAll.limit(50))
    val before = FreqStore.listVersions(spark, dir)
    val st = FreqStore.append(
      spark, dir, Seq((9999L, ""), (9998L, " ")).toDF("doc_id", "text"))
    assert(FreqStore.listVersions(spark, dir) == before, "empty delta published")
    assert(st.version == before.last)
  }

  test("compact folds the chain into one base; view and history intact") {
    val dir = tmp()
    val ids = docsAll.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, b1) = ids.splitAt(ids.length / 2)
    def slice(s: Array[Long]) = docsAll.filter(col("doc_id").isin(s: _*))
    FreqStore.init(spark, dir, slice(b0))
    FreqStore.append(spark, dir, slice(b1))
    val before = view(dir)
    val st = FreqStore.compact(spark, dir)
    assert(st.kind == "base")
    assert(view(dir) == before, "compaction changed the merged view")
    // one more compact is a no-op (already a single base at the head)
    assert(FreqStore.compact(spark, dir).version == st.version)
    // history stays readable: the original base version still lists
    assert(FreqStore.listVersions(spark, dir).contains(1L))
  }

  test("store-backed q121/q130/q136 equal their derived-table runs") {
    val dir = tmp()
    FreqStore.init(spark, dir, docsAll)
    val consumers = Seq("q121_token_rarity", "q130_cms_calibration", "q136_vocab_coverage")
    val derived = consumers.map(q => q -> SparkEntry.queries(q)(spark, sf).collect().toSeq).toMap
    spark.conf.set("graft.freq.store", dir)
    try consumers.foreach { q =>
      val stored = SparkEntry.queries(q)(spark, sf).collect().toSeq
      assert(stored == derived(q), s"$q diverges when reading the stored table")
    } finally spark.conf.unset("graft.freq.store")
  }

  test("a stream maintains the store: foreachBatch appends equal a one-shot rebuild") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tmp()
    val rows = docsAll.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val (seed, arriving) = rows.splitAt(rows.size / 2)
    FreqStore.init(spark, dir, seed.toDF("doc_id", "text"))
    // the live ingest side: each micro-batch appends its own frequency
    // delta — FreqStore.append is a no-op for token-free batches and the
    // count-merge is additive, so batch boundaries cannot matter
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDS().toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        FreqStore.append(spark, dir, batch); ()
      }
      .start()
    val (w1, w2) = arriving.splitAt(arriving.size / 2)
    ms.addData(w1: _*)
    q.processAllAvailable()
    ms.addData(w2: _*)
    q.processAllAvailable()
    q.stop()
    val scratch = tmp()
    FreqStore.init(spark, scratch, rows.toDF("doc_id", "text"))
    assert(view(dir) == view(scratch),
      "stream-maintained store diverges from the one-shot rebuild")
  }

  test("compactIfNeeded bounds read fan-in; gc drops only pre-base history") {
    val dir = tmp()
    val ids = docsAll.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    def slice(s: Seq[Long]) = docsAll.filter(col("doc_id").isin(s: _*))
    val batches = ids.grouped(math.max(1, ids.length / 6)).toSeq
    FreqStore.init(spark, dir, slice(batches.head))
    batches.tail.foreach { b =>
      FreqStore.append(spark, dir, slice(b))
      FreqStore.compactIfNeeded(spark, dir, maxChain = 3)
    }
    val before = view(dir)
    // the chain (newest base + later deltas) never exceeded maxChain, so
    // at least one fold happened and more versions exist than the chain
    val vs = FreqStore.listVersions(spark, dir)
    assert(vs.size > 3, s"expected folded history, got $vs")
    // gc drops exactly the pre-base history; the merged view is untouched
    val dropped = FreqStore.gc(spark, dir)
    assert(dropped.nonEmpty, "no history to gc — compaction never folded?")
    assert(FreqStore.listVersions(spark, dir) == vs.filterNot(dropped.contains),
      "gc touched chain versions")
    assert(view(dir) == before, "gc changed the merged view")
    // idempotent: nothing left to drop
    assert(FreqStore.gc(spark, dir).isEmpty)
  }

  test("marker-less debris blocks the slot until explicit repair(); replay tags are no-ops") {
    import spark.implicits._
    val dir = tmp()
    val ids = docsAll.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    def slice(s: Array[Long]) = docsAll.filter(col("doc_id").isin(s: _*))
    val (seed, rest) = ids.splitAt(ids.length / 2)
    FreqStore.init(spark, dir, slice(seed))
    // crash debris: a v=2 dir with data but NO _COMMITTED marker
    slice(rest).limit(1).write.parquet(s"$dir/v=2/freq")
    val e = intercept[IllegalStateException](FreqStore.append(spark, dir, slice(rest)))
    assert(e.getMessage.contains("repair"), s"unexpected: ${e.getMessage}")
    // the TYPE is the contract ImportPipeline self-repairs on — a message
    // rewording must never silently disable that path
    assert(e.isInstanceOf[graft.sources.SlotBlockedException],
      s"blocked slot threw ${e.getClass.getName}, not SlotBlockedException")
    assert(FreqStore.listVersions(spark, dir) == Seq(1L), "blocked claim published something")
    val cleared = FreqStore.repair(spark, dir)
    assert(cleared.exists(_.endsWith("v=2")), s"repair cleared: $cleared")
    // tagged append publishes once; the replayed tag is a marker-scan no-op
    val st = FreqStore.append(spark, dir, slice(rest), tag = Some("batch-7"))
    assert(st.version == 2L)
    val replay = FreqStore.append(spark, dir, slice(rest), tag = Some("batch-7"))
    assert(replay.version == 2L, "replayed tag re-published — counts doubled")
    assert(FreqStore.listVersions(spark, dir) == Seq(1L, 2L))
  }

  test("concurrent version claim: exactly one writer publishes, no staging debris") {
    val dir = tmp()
    val ids = docsAll.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (seed, rest) = ids.splitAt(ids.length / 2)
    val (r1, r2) = rest.splitAt(rest.length / 2)
    def slice(s: Array[Long]) = docsAll.filter(col("doc_id").isin(s: _*))
    FreqStore.init(spark, dir, slice(seed))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val results = Await.result(
      Future.sequence(Seq(r1, r2).map(s => Future {
        try Right(FreqStore.append(spark, dir, slice(s)))
        catch { case e: IllegalStateException => Left(e) }
      })),
      5.minutes).toList
    assert(results.exists(_.isRight), "no writer succeeded")
    val staging = new org.apache.hadoop.fs.Path(dir, "_staging")
    val f = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = if (f.exists(staging)) f.listStatus(staging).length else 0
    assert(leftover == 0, s"$leftover staged dirs left behind")
    FreqStore.frequencies(spark, dir).count() // chain readable
  }

  test("legacy pre-family markers: readable as unigram, repair-safe, mutations fail loudly") {
    val dir = tmp()
    FreqStore.init(spark, dir, docsAll)
    val expected = view(dir)
    // rewrite v=1's marker into the store's original pre-family format
    val mp = java.nio.file.Paths.get(s"$dir/v=1/_COMMITTED")
    val modern = new String(java.nio.file.Files.readAllBytes(mp), "UTF-8")
    val legacy = modern
      .replaceAll(""","family":"unigram"""", "")
      .replaceAll(""","nd":\d+""", "")
    assert(legacy != modern, "marker rewrite did nothing")
    java.nio.file.Files.write(mp, legacy.getBytes("UTF-8"))
    // the rewrite bypasses Hadoop's LocalFileSystem, so drop its CRC
    // sidecar or every marker read fails on checksum, not content
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/v=1/._COMMITTED.crc"))
    // repair (writers quiesced) must re-read the marker and KEEP the
    // legacy version — the r13 format would have reaped it as debris
    assert(!FreqStore.repair(spark, dir).exists(_.contains("v=1")),
      "repair reaped a committed legacy version")
    assert(FreqStore.listVersions(spark, dir) == Seq(1L), "legacy version vanished")
    assert(FreqStore.storeFamily(spark, dir) == FreqStore.Unigram,
      "legacy marker did not pin the unigram family")
    assert(view(dir) == expected, "legacy store reads a different count table")
    // doc counts and mutations would silently mis-sum the unknown nd: loud
    val eT = intercept[IllegalArgumentException](FreqStore.totalDocs(spark, dir))
    assert(eT.getMessage.contains("legacy"), s"unexpected: ${eT.getMessage}")
    val eA = intercept[IllegalArgumentException](
      FreqStore.append(spark, dir, docsAll.limit(3)))
    assert(eA.getMessage.contains("legacy"), s"unexpected: ${eA.getMessage}")
    val eC = intercept[IllegalArgumentException](FreqStore.compact(spark, dir))
    assert(eC.getMessage.contains("legacy"), s"unexpected: ${eC.getMessage}")
  }

  test("a present-but-unparseable marker is corruption, not absence — nothing reaps it") {
    val dir = tmp()
    FreqStore.init(spark, dir, docsAll.limit(20))
    val mp = java.nio.file.Paths.get(s"$dir/v=1/_COMMITTED")
    java.nio.file.Files.write(mp, """{"not":"a marker"}""".getBytes("UTF-8"))
    // the rewrite bypasses Hadoop's LocalFileSystem, so drop its CRC
    // sidecar or every marker read fails on checksum, not content
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dir/v=1/._COMMITTED.crc"))
    // repair must fail loudly INSTEAD of deleting the committed version
    val e = intercept[IllegalStateException](FreqStore.repair(spark, dir))
    assert(e.getMessage.contains("unreadable"), s"unexpected: ${e.getMessage}")
    // reads fail loudly too (the repair attempt above already invalidated
    // the memoized good marker, so this is a genuine disk re-read)
    val e2 = intercept[IllegalStateException](FreqStore.listVersions(spark, dir))
    assert(e2.getMessage.contains("unreadable"), s"unexpected: ${e2.getMessage}")
    // the committed payload is untouched on disk
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/v=1/freq")),
      "corrupt-marker handling deleted committed data")
  }

  test("StoreViews serves a cross-JVM append WITHOUT clearPairCache (version-observed keys)") {
    val dir = tmp()
    val ids = docsAll.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val (b0, b1) = ids.splitAt(ids.length / 2)
    def slice(s: Array[Long]) = docsAll.filter(col("doc_id").isin(s: _*))
    FreqStore.init(spark, dir, slice(b0))
    spark.conf.set("graft.lsh.cache", "true")
    try {
      def counts(): Map[String, Long] =
        graft.operators.SessionCache.storeCounts(spark, dir).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts() == scalarFreq(slice(b0).collect().map(_.getString(1)).toSeq),
        "v=1 view wrong before the append")
      // the "second store handle": an append straight through the store
      // API with NO session-cache invalidation — models another JVM
      // mutating the same directory while this session holds a cached view
      FreqStore.append(spark, dir, slice(b1))
      assert(counts() == scalarFreq(docsAll.collect().map(_.getString(1)).toSeq),
        "cached view served the pre-append version — the key must observe the marker listing")
    } finally {
      spark.conf.unset("graft.lsh.cache")
      graft.operators.SessionCache.clear()
    }
  }
}
