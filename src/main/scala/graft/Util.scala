package graft

/** Small shared helpers for the driver-side mains. */
private[graft] object Util {

  /** Best-effort recursive delete of a local directory tree — the
    * temp-artifact cleanup Bench and PlanAudit share (one implementation
    * to keep correct, the CasProtocol extraction rule). Closes the
    * Files.walk stream (it holds directory handles until then).
    */
  def deleteRecursively(root: String): Unit =
    try {
      import java.nio.file.{Files, Path => JPath}
      import java.util.Comparator
      scala.util.Using.resource(Files.walk(JPath.of(root))) { walk =>
        walk.sorted(Comparator.reverseOrder[JPath]())
          .forEach(p => Files.deleteIfExists(p))
      }
    } catch { case _: Throwable => () } // never fail the caller's output

  /** The session confs `GRAFT_TIME_CONFS="k=v,k=v"` names, in order — the
    * store-backed-vs-derived A/B switch `graft.Time` and `graft.Explain`
    * both apply before their first query.
    */
  def timeConfs: Seq[(String, String)] =
    sys.env.get("GRAFT_TIME_CONFS").toSeq
      .flatMap(_.split(',').filter(_.nonEmpty).toSeq)
      .map { kv =>
        require(kv.contains("="), s"GRAFT_TIME_CONFS entry has no '=': '$kv'")
        val Array(k, v) = kv.split("=", 2)
        k -> v
      }
}
