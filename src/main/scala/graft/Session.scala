package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory of the graft mains: every main runs
  * `local[cpus]` with `cpus` shuffle partitions, UTC, adaptive execution,
  * no UI and [[graft.plans.GraftExtensions]], plus the few confs it
  * really differs in.
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, default 4 — parsed up front, so a non-numeric
    * value fails at startup, not as malformed output at the end of a run.
    */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The timed profile (Bench, Time, Curate; perfbench's session runs the
    * same two confs). The generated test tables are
    * single-row-group parquet files, so a scan is ONE task no matter how
    * small maxPartitionBytes gets — heavy map stages (window/shingle
    * explodes, minhash) would run single-threaded until the first
    * exchange. `graft.local.split` is the local-mode crutch for exactly
    * this ([[Tables.localSplit]]): one key-repartition buys local[32]-wide
    * map work. At cluster scale the scan itself splits (many files / row
    * groups), the 128 MB split default is correct and the conf stays off —
    * PlanAudit audits the conf-off plans.
    */
  val Timed: Map[String, String] = Map(
    "spark.sql.files.maxPartitionBytes" -> "2m",
    "graft.local.split" -> "true")

  /** Every conf a session built by [[apply]] starts with: the shared base,
    * then `extra`.
    */
  def confs(cpus: Int, extra: Map[String, String] = Map.empty): Map[String, String] =
    Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.ui.enabled" -> "false") ++ extra

  def apply(
      cpus: Int = Session.cpus,
      extra: Map[String, String] = Map.empty,
      logLevel: String = "WARN"): SparkSession = {
    val spark = confs(cpus, extra)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
