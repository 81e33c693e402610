package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // a relative outDir lands query-result debris in the repo working tree
    // (once polluted the LoC/copy sweeps when a query name was passed as
    // outDir by mistake). Refuse the obvious misuse — an outDir that looks
    // like a query name — and warn on any other relative path; a hard
    // failure on all relative paths could zero a driver run over hygiene.
    require(
      !SparkEntry.queries.contains(outDir),
      s"outDir '$outDir' is a query name — pass <sfDir> <outDir> [query ...]")
    if (!new java.io.File(outDir).isAbsolute)
      System.err.println(
        s"[verify] WARNING: relative outDir '$outDir' writes into the working tree")
    val only = args.drop(2).toSet // dev convenience; driver passes 2 args
    // scheduler mode is a SparkConf read at context creation (a local
    // property would be a no-op); FAIR keeps one slow query from
    // starving the rest when several run concurrently below
    val spark = Session(extra = Map("spark.scheduler.mode" -> "FAIR"))
    new java.io.File(outDir).mkdirs()
    // Queries are independent jobs; run several concurrently so the 32
    // local cores aren't idle between the small per-query jobs (Spark's
    // scheduler is thread-safe).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val todo = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    val futures = todo.map { case (name, fn) =>
      scala.concurrent.Future {
        // FAIR scheduling applies BETWEEN pools and the default pool is
        // FIFO inside — each query needs its own pool or a long job
        // submitted first still starves the rest
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        val t0 = System.nanoTime()
        // one retry: under 8 concurrent queries a localCheckpoint block
        // can be evicted before its consumer runs (observed once in a
        // 214-query sweep — q188 dropped, solo re-run passed). A missing
        // output zeroes the query in the driver's compare, so a single
        // in-process retry is cheap insurance; a retry can only succeed
        // by producing the same hash-checked parquet, never mask a wrong
        // value.
        def attempt(remaining: Int): Unit =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
          } catch {
            case e: Throwable if remaining > 0 =>
              System.err.println(s"[verify] $name failed (${e.getMessage}); retrying")
              attempt(remaining - 1)
            case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        attempt(1)
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
