package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guards over `src/main/scala/graft`: every driver
  * `.collect()` is an audited, bounded site, every main's session comes
  * from the one factory, and no versioned-store reader infers a parquet
  * schema except the core's one pre-schema fallback. Comment lines and imports are ignored; counts are per file,
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
    // one row per merge action; a point get (≤ 1 row)
    "sources/CatalogStore.scala" -> 5,
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
    // a DataFrameReader not followed by .schema(...) infers from footers;
    // CatalogStore's pre-schema snapshot fallback is its one such reader
    assert(sites(stores, """\.read\b(?!\.schema\()""".r) == Map("sources/CatalogStore.scala" -> 1))
    // the LSM stores' pre-schema fallback: one resolution, in the core
    assert(sites(stores, """parquetSchema\(""".r) == Map("sources/VersionedStore.scala" -> 1))
  }
}
