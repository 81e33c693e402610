package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guards over `src/main/scala/graft`: every driver
  * `.collect()` is an audited, bounded site, every main's session comes
  * from the one factory, no versioned-store reader infers a parquet
  * schema except the core's one pre-schema fallback, and only the
  * versioned-store core and the sink call the CAS protocol, only the
  * catalog's point get reads Parquet on the driver, thread
  * pools are made only where audited, only the session cache reads
  * the session-artifact gate, and every `graft.*` conf read is an
  * allowlisted knob that some caller sets. Comment
  * lines and imports are ignored; counts are per file,
  * so moving a site within its file needs no edit here, and adding or
  * removing one does.
  */
class SourceGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  /** Code lines of every main source file, keyed by path under `root`. */
  private lazy val sources: Map[String, Seq[String]] =
    Files.walk(root).iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".scala"))
      .map { p =>
        root.relativize(p).toString -> Files.readAllLines(p).asScala.toSeq.filterNot { l =>
          val t = l.trim
          t.startsWith("//") || t.startsWith("*") || t.startsWith("/*") || t.startsWith("import ")
        }
      }.toMap

  private def sites(files: Map[String, Seq[String]], re: scala.util.matching.Regex) =
    files.map { case (f, ls) => f -> ls.map(re.findAllMatchIn(_).size).sum }.filter(_._2 > 0)

  /** The audited `.collect()` sites, each bounded before it materializes. */
  private val collectAllowlist = Map(
    "Curate.scala" -> 1, // one row per split
    "Iterate.scala" -> 1, // limit(maxRows + 1), checked after
    "PlanAudit.scala" -> 2, // the bucketed-vs-plain answer compare at sf0.001
    "operators/Lake.scala" -> 1, // rules file, limit(10001)
    "operators/TextAnalysis.scala" -> 1, // limit(want) candidate pairs
    // verified collect limit(maxRows + 1); violation kinds (≤ 2 rows, twice);
    // one row per merge action
    "sources/CatalogStore.scala" -> 4,
    "streaming/ImportPipeline.scala" -> 2) // limit(5) error samples, twice

  test("every driver .collect() is one of the audited, bounded sites") {
    assert(root.toFile.isDirectory, s"run from the repository root (no $root)")
    val got = sites(sources, """\.collect(?:AsList)?\(\)""".r)
    assert(got == collectAllowlist,
      s"collect sites changed: ${(got.toSet diff collectAllowlist.toSet).mkString(", ")} " +
        s"(allowlist: ${(collectAllowlist.toSet diff got.toSet).mkString(", ")}) — bound the " +
        "new collect (limit(n + 1) and check) and add it to the allowlist with its bound")
  }

  test("SparkSession.builder appears only in the session factory") {
    assert(sites(sources, """SparkSession\s*\.builder\b""".r) == Map("Session.scala" -> 1),
      "build main sessions with graft.Session, passing only the confs that differ")
  }

  test("store readers declare their schema: the core's fallback is the one inference") {
    val stores = sources.filter(_._1.startsWith("sources/"))
    // a DataFrameReader not followed by .schema(...) infers from footers
    assert(sites(stores, """\.read\b(?!\.schema\()""".r) == Map.empty)
    // every store's pre-schema fallback: one resolution, in the core
    assert(sites(stores, """parquetSchema\(""".r) == Map("sources/VersionedStore.scala" -> 1))
  }

  test("only the catalog's point get reads Parquet on the driver") {
    // one shard's files of a metadata-scale store; anything bigger is a
    // Spark job's to read
    assert(sites(sources, """buildReader(?:WithPartitionValues)?\(""".r) ==
      Map("sources/CatalogStore.scala" -> 1))
  }

  test("thread pools are made only at the audited sites") {
    // Verify's 8 query threads for the run; ImportPipeline's per-batch
    // branch pool, shut down and joined before each batch returns
    assert(sites(sources, """Executors\.new""".r) ==
      Map("Verify.scala" -> 1, "streaming/ImportPipeline.scala" -> 1),
      "a new pool must be bounded and short-lived: audit it and add it here")
  }

  test("the session-artifact gate is read only by the one session cache") {
    // a relation cached behind a private gate read would escape
    // SessionCache.clear() and stay in Spark's CacheManager
    assert(sites(sources, """conf\.get\("graft\.lsh\.cache"""".r) ==
      Map("operators/SessionCache.scala" -> 1),
      "cache a session artifact through SessionCache.cached (or storeView), not a private map")
  }

  test("the CAS claim and repair run only in the versioned-store core and the sink") {
    assert(sites(sources, """CasProtocol\.(?:claim|repair)\(""".r) ==
      Map("sources/VersionedStore.scala" -> 2, "sources/VersionedSink.scala" -> 1),
      "publish through VersionedStore (or VersionedSink), not a store's own CAS calls")
  }

  /** Every `graft.*` session conf `src/main` reads, with who sets it. A
    * parameter no main, store set or spec varies is a constant at its read
    * site, not a conf: each unvaried knob is a configuration nothing runs.
    */
  private val confAllowlist = Map(
    // store paths, set by StoreSet.provision for Bench and PlanAudit stores mode
    "graft.bigram.store" -> "FreqStore Bigram consumers (q77/q97/q139)",
    "graft.catalog.store" -> "q68's catalog snapshot read",
    "graft.delta.index" -> "DedupIndex consumers (q107 and the delta family)",
    "graft.freq.store" -> "FreqStore Unigram consumers (q121/q130/q136)",
    "graft.hll.store" -> "HllStore consumer (q252)",
    "graft.ivf.index" -> "IvfIndex consumers (q74, the q191/q193 centroids)",
    "graft.kll.store" -> "KllStore consumer (q255)",
    "graft.leak.store" -> "frozen-train window store (q120/q143/q146)",
    "graft.win.store" -> "WindowDoc store (q113/q122)",
    // session modes that a main sets
    "graft.bucketed" -> "bucketBy-written facts: Bench, PlanAudit and ScaleProbe",
    "graft.bucketed.sf" -> "the sf the bucketed facts came from: Tables.provisionBucketed",
    "graft.local.split" -> "local-mode scan repartition: Session.Timed",
    "graft.lsh.cache" -> "the session-artifact gate: Bench and PlanAudit stores mode",
    "graft.curate.ledger" -> "Curate's opt-in yield ledger: CurateSpec",
    "graft.stac.rulesPath" -> "a rules file replacing the built-ins: CatalogOpsSpec, StacRefTreeSpec",
    "graft.cas.committer" -> "Hadoop conf forcing the conditional-put publish: CasProtocolSpec",
    // algorithm parameters and alternate paths that specs vary
    "graft.ann.signBits" -> "sign-LSH bucket bits: PipelineOpsSpec",
    "graft.ann.signProjections" -> "sign projections unioned: PipelineOpsSpec",
    "graft.cms.width" -> "count-min width, narrowed to force collisions: CorpusAuditSpec",
    "graft.decon.tau" -> "semantic decontamination threshold: PipelineOpsSpec",
    "graft.dedup.edit.charsPerWord" -> "q129's alphabet width: EditCollisionSpec",
    "graft.dedup.prefixWords" -> "prefix-filter words: CorpusAuditSpec",
    "graft.dedup.windowTokens" -> "window width: CorpusAuditSpec, DedupIndexSpec, LeakStoreSpec",
    "graft.delta.bloom" -> "q107's Bloom pre-filter path: DedupIndexSpec, ScaleSpec",
    "graft.delta.incoming" -> "the arriving batch's source pattern: PipelineOpsSpec",
    "graft.lsh.bands" -> "minhash-LSH band count: PipelineOpsSpec",
    "graft.pctl.approx" -> "q91's approx_percentile path: CorpusAuditSpec",
    "graft.pq.k" -> "product-quantizer codebook size: PipelineOpsSpec",
    "graft.pq.m" -> "product-quantizer subspaces: PipelineOpsSpec",
    "graft.sample.perCluster" -> "diversity sampling cap: PipelineOpsSpec",
    "graft.semdedup.tau" -> "SemDeDup threshold: PipelineOpsSpec",
    "graft.sketch.k" -> "bottom-k sketch size: CorpusAuditSpec",
    "graft.skew.salt" -> "salted-aggregation fan-out: ScaleSpec")

  test("every graft.* conf read is an allowlisted knob that some caller sets") {
    // a read may break the line before `.get(`, so match over each file's code
    val read = """conf\s*\.(?:get|getOption)\(\s*"((?:spark\.)?graft\.[\w.]+)"""".r
    val got = sources.values.flatMap(ls => read.findAllMatchIn(ls.mkString("\n")).map(_.group(1))).toSet
    assert(got == confAllowlist.keySet,
      s"conf reads changed: new ${(got diff confAllowlist.keySet).mkString(", ")}; " +
        s"gone ${(confAllowlist.keySet diff got).mkString(", ")} — make a parameter no caller " +
        "varies a constant at its read site, or allowlist the knob with who sets it")
  }
}
