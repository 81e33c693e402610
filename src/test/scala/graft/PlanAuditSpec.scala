package graft

import org.scalatest.funsuite.AnyFunSuite

/** PlanAudit's default-mode gates: every query's physical plan at sf0.001
  * within its exchange budget, broadcasting where declared, with no
  * cartesian product, unpushed scan filter or unpartitioned window beyond
  * the audited allowances — the lines `runMain graft.PlanAudit <sf>`
  * prints. And its `stores` mode: every store consumer's plan over the
  * provisioned store set reads a store within its store budget — the
  * first, uncached pass of `runMain graft.PlanAudit <sf> stores`.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every query passes PlanAudit's default-mode gates at sf0.001") {
    val lines = PlanAudit.auditLines(spark, sf, scaleMode = false, storesMode = false)
    assert(lines.size == SparkEntry.queries.size)
    val warns = lines.filter(_.startsWith("WARN"))
    assert(warns.isEmpty, s"${warns.size} PlanAudit warnings:\n${warns.mkString("\n")}")
  }

  test("every store consumer passes PlanAudit's stores-mode gates at sf0.001") {
    val out = java.nio.file.Files.createTempDirectory("graft_planaudit_stores").toString
    try {
      val built = StoreSet.provision(spark, sf, out)
      // the test session is shared: every store conf set here is unset after
      try {
        built.foreach(s => spark.conf.set(s.conf, s.path))
        val lines = PlanAudit.auditLines(spark, sf, scaleMode = false, storesMode = true)
        assert(lines.nonEmpty)
        val warns = lines.filter(_.startsWith("WARN"))
        assert(warns.isEmpty, s"${warns.size} PlanAudit stores warnings:\n${warns.mkString("\n")}")
      } finally built.foreach(s => spark.conf.unset(s.conf))
    } finally Util.deleteRecursively(out)
  }
}
