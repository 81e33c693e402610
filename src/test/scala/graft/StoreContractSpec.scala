package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.sources.{CatalogStore, DedupIndex, FreqStore, HllStore, IvfIndex, KllStore}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The contract every versioned store shares, checked table-driven over
  * all six (DedupIndex, FreqStore, IvfIndex, HllStore, KllStore and
  * CatalogStore, whose one relation is the root relation at `v=N`):
  * unreadable markers fail loudly and survive repair, marker-less debris
  * blocks a publish until repair, a deleted-and-re-initialized store
  * serves its new markers, and each store's v=1 marker bytes are pinned.
  * Reads declare the schema the marker carries (no inference job), that
  * schema is what the files read back as, and a marker written before
  * the schema was carried still reads, through one inference.
  * Plus the compaction guard: a staged base whose count merely STARTS
  * with the chain's sum (2 vs 20) must not publish.
  */
class StoreContractSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_contract").toString

  private val dayUs = 86400L * 1000000L

  private def docs(ids: Long*): DataFrame =
    ids.map(i => (i, Seq.tabulate(4)(j => s"w${i}x$j").mkString(" "))).toDF("doc_id", "text")

  private def events(days: Long*): DataFrame =
    days.map(d => (d * dayUs + 1L, d + 1L, d + 0.5)).toDF("t", "user_id", "value")
      .select(timestamp_micros(col("t")).as("ts"), col("user_id"), col("value"))

  private val centroids: DataFrame =
    Seq((0, 0, 10L, 1L), (1, 0, 20L, 1L)).toDF("clabel", "cdim", "sq", "cnt")

  private def assignment(ids: Long*): DataFrame =
    ids.map(i => (i, (i % 2).toInt)).toDF("vec_id", "label")

  private def vectors(ids: Long*): DataFrame =
    ids.map(i => (i, 0, 10L + i)).toDF("vec_id", "dim", "q")

  private def catalog(keys: Long*): DataFrame =
    keys.map(k => (k, s"t$k", 1)).toDF("dataset_key", "title", "revision")

  /** One store under the contract. `init(dir, n)` builds v=1 from n units
    * of input and returns the chain total its stats report (the catalog:
    * its snapshot's row count); `append` adds one unit no earlier input
    * holds; `rel` is a payload relation (`""`: the root relation);
    * `reads` are the store's public relation views. `marker` is the v=1
    * marker `init(dir, 2)` writes; `preSchema` is the same marker as
    * written before markers carried relation schemas.
    */
  private final case class Store(
      name: String, rel: String, marker: String, preSchema: String,
      init: (String, Int) => Long, append: String => Long,
      list: String => Seq[Long], repair: String => Seq[String],
      reads: String => Seq[DataFrame])

  private val stores = Seq(
    Store("DedupIndex", "hashes",
      """{"kind":"base","bands":4,"wk":2,"nh":2,"ns":8,"nw":6,""" +
        """"schema":{"hashes":{"type":"struct","fields":[{"name":"h","type":"string",""" +
        """"nullable":true,"metadata":{}}]},"sigs":{"type":"struct",""" +
        """"fields":[{"name":"band","type":"integer","nullable":true,"metadata":{}},""" +
        """{"name":"sig","type":"long","nullable":true,"metadata":{}}]},""" +
        """"windows":{"type":"struct","fields":[{"name":"wh","type":"string",""" +
        """"nullable":true,"metadata":{}}]}}}""",
      """{"kind":"base","bands":4,"wk":2,"nh":2,"ns":8,"nw":6}""",
      (d, n) => DedupIndex.init(spark, d, docs(1L to n.toLong: _*), bands = 4, windowK = 2)
        .totalHashes,
      d => DedupIndex.append(spark, d, docs(100L)).totalHashes,
      DedupIndex.listVersions(spark, _), DedupIndex.repair(spark, _),
      d => Seq(DedupIndex.hashes(spark, d), DedupIndex.sigs(spark, d),
        DedupIndex.windows(spark, d))),
    Store("FreqStore", "freq",
      """{"kind":"base","family":"unigram","nt":8,"nv":8,"nd":2,""" +
        """"schema":{"freq":{"type":"struct","fields":[{"name":"token","type":"string",""" +
        """"nullable":true,"metadata":{}},{"name":"n","type":"long","nullable":true,""" +
        """"metadata":{}}]}}}""",
      """{"kind":"base","family":"unigram","nt":8,"nv":8,"nd":2}""",
      (d, n) => FreqStore.init(spark, d, docs(1L to n.toLong: _*)).totalDocs,
      d => FreqStore.append(spark, d, docs(100L)).totalDocs,
      FreqStore.listVersions(spark, _), FreqStore.repair(spark, _),
      d => Seq(FreqStore.counts(spark, d))),
    Store("IvfIndex", "assign",
      """{"kind":"base","k":2,"na":2,"schema":{"assign":{"type":"struct",""" +
        """"fields":[{"name":"vec_id","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"label","type":"integer","nullable":true,"metadata":{}}]},""" +
        """"centroids":{"type":"struct","fields":[{"name":"clabel","type":"integer",""" +
        """"nullable":true,"metadata":{}},{"name":"cdim","type":"integer","nullable":true,""" +
        """"metadata":{}},{"name":"sq","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"cnt","type":"long","nullable":true,"metadata":{}}]}}}""",
      """{"kind":"base","k":2,"na":2}""",
      (d, n) => IvfIndex.init(spark, d, assignment(1L to n.toLong: _*), centroids)
        .totalAssigned,
      d => IvfIndex.append(spark, d, vectors(100L)).totalAssigned,
      IvfIndex.listVersions(spark, _), IvfIndex.repair(spark, _),
      d => Seq(IvfIndex.assign(spark, d), IvfIndex.centroids(spark, d))),
    Store("HllStore", "sketches",
      """{"kind":"base","nd":2,"corpus":"contract","schema":{"sketches":{"type":"struct",""" +
        """"fields":[{"name":"day","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"sk","type":"binary","nullable":true,"metadata":{}}]}}}""",
      """{"kind":"base","nd":2,"corpus":"contract"}""",
      (d, n) => HllStore.init(spark, d, events(0L until n.toLong: _*), "contract").totalDays,
      d => HllStore.append(spark, d, events(100L), "contract").totalDays,
      HllStore.listVersions(spark, _), HllStore.repair(spark, _),
      d => Seq(HllStore.sketches(spark, d))),
    Store("KllStore", "sketches",
      """{"kind":"base","nd":2,"corpus":"contract","schema":{"sketches":{"type":"struct",""" +
        """"fields":[{"name":"day","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"sk","type":"binary","nullable":true,"metadata":{}}]}}}""",
      """{"kind":"base","nd":2,"corpus":"contract"}""",
      (d, n) => KllStore.init(spark, d, events(0L until n.toLong: _*), "contract").totalDays,
      d => KllStore.append(spark, d, events(100L), "contract").totalDays,
      KllStore.listVersions(spark, _), KllStore.repair(spark, _),
      d => Seq(KllStore.sketches(spark, d))),
    Store("CatalogStore", "",
      """{"rows":2,"xor":3189361229453205932,"schema":{"type":"struct","fields":[""" +
        """{"name":"dataset_key","type":"long","nullable":true,"metadata":{}},""" +
        """{"name":"title","type":"string","nullable":true,"metadata":{}},""" +
        """{"name":"revision","type":"integer","nullable":true,"metadata":{}},""" +
        """{"name":"shard","type":"integer","nullable":true,"metadata":{}}]}}""",
      """{"rows":2,"xor":3189361229453205932}""",
      (d, n) => {
        CatalogStore.init(spark, d, catalog(1L to n.toLong: _*))
        CatalogStore.read(spark, d).count()
      },
      d => {
        val st = CatalogStore.upsert(spark, d, catalog(100L))
        st.inserted + st.updated + st.unchanged
      },
      CatalogStore.listVersions(spark, _), CatalogStore.repair(spark, _),
      d => Seq(CatalogStore.read(spark, d))))

  private def markerBody(dir: String, v: Long): String =
    new String(Files.readAllBytes(Paths.get(s"$dir/v=$v/_COMMITTED")), "UTF-8")

  /** The relation schemas a marker declares, by relation name; a bare
    * StructType is the root relation's (`""`).
    */
  private def declared(body: String): Map[String, StructType] = {
    val field = ""","schema":{"""
    val i = body.indexOf(field)
    assert(i > 0 && body.endsWith("}}"), s"marker carries no schema field: $body")
    val tree = new ObjectMapper().readTree(body.substring(i + field.length - 1, body.length - 1))
    def struct(json: String) = DataType.fromJson(json).asInstanceOf[StructType]
    if (tree.path("type").isTextual) Map("" -> struct(tree.toString))
    else tree.properties().asScala.map(e => e.getKey -> struct(e.getValue.toString)).toMap
  }

  /** Where relation `rel` of version `v` lives (the root relation: `v=N`). */
  private def relDir(dir: String, v: Long, rel: String): String =
    if (rel.isEmpty) s"$dir/v=$v" else s"$dir/v=$v/$rel"

  /** Overwrite `dir`'s v=`v` marker in place, dropping the CRC sidecar
    * Hadoop's LocalFileSystem would check it against.
    */
  private def rewriteMarker(dir: String, v: Long, body: String): Unit = {
    Files.write(Paths.get(s"$dir/v=$v/_COMMITTED"), body.getBytes("UTF-8"))
    Files.deleteIfExists(Paths.get(s"$dir/v=$v/._COMMITTED.crc"))
  }

  private def deleteTree(dir: String): Unit =
    Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))

  for (s <- stores) {
    test(s"${s.name}: v=1 marker bytes are pinned") {
      val dir = tmp()
      s.init(dir, 2)
      assert(markerBody(dir, 1L) == s.marker)
    }

    test(s"${s.name}: an unparseable committed marker fails loudly and repair leaves it") {
      val dir = tmp()
      s.init(dir, 2)
      rewriteMarker(dir, 1L, """{"not":"a marker"}""")
      val e = intercept[IllegalStateException](s.repair(dir))
      assert(e.getMessage.contains("unreadable"), s"unexpected: ${e.getMessage}")
      val e2 = intercept[IllegalStateException](s.list(dir))
      assert(e2.getMessage.contains("unreadable"), s"unexpected: ${e2.getMessage}")
      assert(Files.exists(Paths.get(relDir(dir, 1L, s.rel))), "repair reaped committed data")
      assert(markerBody(dir, 1L) == """{"not":"a marker"}""")
    }

    test(s"${s.name}: marker-less debris blocks an append until repair reaps it") {
      val dir = tmp()
      val before = s.init(dir, 2)
      Seq(1L).toDF("x").write.parquet(relDir(dir, 2L, s.rel))
      val e = intercept[IllegalStateException](s.append(dir))
      assert(e.getMessage.contains("repair"), s"unexpected: ${e.getMessage}")
      assert(s.list(dir) == Seq(1L), "a blocked claim published something")
      assert(s.repair(dir).exists(_.endsWith("v=2")), "repair left the debris")
      assert(s.append(dir) == before + 1)
      assert(s.list(dir) == Seq(1L, 2L))
    }

    test(s"${s.name}: delete and re-init in one JVM serves the new markers, not cached ones") {
      val dir = tmp()
      val small = s.init(dir, 2)
      assert(s.append(dir) == small + 1)
      deleteTree(dir)
      val large = s.init(dir, 3)
      assert(large > small, s"re-init reported $large, the old incarnation had $small")
      assert(s.list(dir) == Seq(1L))
      assert(s.append(dir) == large + 1)
    }

    test(s"${s.name}: reads of a 2-version chain declare the marker's schema (no inference)") {
      val dir = tmp()
      s.init(dir, 2)
      s.append(dir)
      assert(s.list(dir) == Seq(1L, 2L))
      val (warm, warmJobs) = JobProbe.jobs(spark)(s.reads(dir).map(_.count()))
      assert(warm.forall(_ > 0L), s"empty view: $warm")
      assert(!warmJobs.exists(JobProbe.isInference),
        s"warm read inferred a schema:\n${warmJobs.mkString("\n--\n")}")
      // markers re-read from disk (repair drops the memoized ones) declare it too
      assert(!s.repair(dir).exists(_.contains("v=")))
      val (cold, coldJobs) = JobProbe.jobs(spark)(s.reads(dir).map(_.count()))
      assert(cold == warm)
      assert(!coldJobs.exists(JobProbe.isInference),
        s"cold read inferred a schema:\n${coldJobs.mkString("\n--\n")}")
    }

    test(s"${s.name}: every relation's declared schema is what its files read back as") {
      val dir = tmp()
      s.init(dir, 2)
      s.append(dir)
      for (v <- Seq(1L, 2L)) {
        val schemas = declared(markerBody(dir, v))
        val subdirs = Files.list(Paths.get(s"$dir/v=$v")).toArray
          .map(_.asInstanceOf[java.nio.file.Path]).filter(Files.isDirectory(_))
          .map(_.getFileName.toString).toSet
        // a version whose subdirectories are all partition dirs (`k=v`)
        // holds the root relation
        val rels = if (subdirs.forall(_.contains("="))) Set("") else subdirs
        assert(schemas.keySet == rels, s"v=$v declares ${schemas.keySet}, holds $rels")
        schemas.foreach { case (rel, declaredSchema) =>
          assert(declaredSchema == spark.read.parquet(relDir(dir, v, rel)).schema, s"v=$v/$rel")
        }
      }
    }

    test(s"${s.name}: a pre-schema marker reads through one inference; repair keeps it") {
      val dir = tmp()
      val before = s.init(dir, 2)
      val want = s.reads(dir).head.count()
      rewriteMarker(dir, 1L, s.preSchema)
      assert(!s.repair(dir).exists(_.contains("v=")),
        "repair reaped a committed pre-schema version")
      assert(s.list(dir) == Seq(1L))
      // one inference per relation read
      val ((views, got), jobs) = JobProbe.jobs(spark) {
        val vs = s.reads(dir)
        (vs.size, vs.head.count())
      }
      assert(got == want)
      assert(jobs.count(JobProbe.isInference) == views,
        s"read jobs:\n${jobs.mkString("\n--\n")}")
      // the inferred schema is resolved once per file identity
      val (_, again) = JobProbe.jobs(spark)(s.reads(dir).head.count())
      assert(!again.exists(JobProbe.isInference))
      assert(markerBody(dir, 1L) == s.preSchema)
      // still writable: the next version carries its schema
      assert(s.append(dir) == before + 1)
      assert(declared(markerBody(dir, 2L)).contains(s.rel))
      assert(s.reads(dir).forall(_.count() > 0L))
    }
  }

  /** Copy one committed one-row part file of `relDir` next to itself until
    * `rows()` lands in [20, 29]: a chain sum of 2 against a staged 2x.
    */
  private def inflateTo2x(relDir: String, rows: () => Long): Unit = {
    val one = Files.list(Paths.get(relDir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .find(p => spark.read.parquet(p.toString).count() == 1L)
      .getOrElse(fail(s"no one-row part file in $relDir"))
    var i = 0
    while (rows() < 20L) {
      Files.copy(one, Paths.get(relDir, s"part-copy$i.parquet"))
      i += 1
    }
    assert(rows() <= 29L)
  }

  test("IvfIndex.compact refuses a staged count that only starts with the chain's sum") {
    val dir = tmp()
    IvfIndex.init(spark, dir, assignment(1L), centroids)
    assert(IvfIndex.append(spark, dir, vectors(2L)).totalAssigned == 2L)
    inflateTo2x(s"$dir/v=1/assign", () => IvfIndex.assign(spark, dir).count())
    val e = intercept[IllegalStateException](IvfIndex.compact(spark, dir))
    assert(e.getMessage.contains("CHANGE"), s"unexpected: ${e.getMessage}")
    assert(IvfIndex.listVersions(spark, dir) == Seq(1L, 2L), "a corrupt base was published")
  }

  test("DedupIndex.compact refuses a staged count that only starts with the chain's sum") {
    val dir = tmp()
    val pair = Seq((1L, "a b"), (2L, "c d")).toDF("doc_id", "text")
    DedupIndex.init(spark, dir, pair.filter(col("doc_id") === 1L), bands = 4, windowK = 2)
    val st = DedupIndex.append(spark, dir, pair.filter(col("doc_id") === 2L))
    assert(st.totalWindows == 2L)
    inflateTo2x(s"$dir/v=1/windows", () => DedupIndex.windows(spark, dir).count())
    val e = intercept[IllegalStateException](DedupIndex.compact(spark, dir))
    assert(e.getMessage.contains("CHANGE"), s"unexpected: ${e.getMessage}")
    assert(DedupIndex.listVersions(spark, dir) == Seq(1L, 2L), "a corrupt base was published")
  }
}
