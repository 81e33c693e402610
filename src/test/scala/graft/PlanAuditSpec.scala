package graft

import org.scalatest.funsuite.AnyFunSuite

/** PlanAudit's default-mode gates: every query's physical plan at sf0.001
  * within its exchange budget, broadcasting where declared, with no
  * cartesian product, unpushed scan filter or unpartitioned window beyond
  * the audited allowances — the lines `runMain graft.PlanAudit <sf>`
  * prints.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every query passes PlanAudit's default-mode gates at sf0.001") {
    val lines = PlanAudit.auditLines(spark, sf, scaleMode = false, storesMode = false)
    assert(lines.size == SparkEntry.queries.size)
    val warns = lines.filter(_.startsWith("WARN"))
    assert(warns.isEmpty, s"${warns.size} PlanAudit warnings:\n${warns.mkString("\n")}")
  }
}
