package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: time named queries N times each (warm JVM, median-friendly
  * output) — `runMain graft.Time <sfDir> <reps> q62_dup_clusters ...`.
  *
  * `GRAFT_TIME_CONFS="k=v,k=v"` applies session confs before the warmup —
  * the controlled store-backed-vs-derived A/B: provision once with
  * `BuildStores`, then run Time twice (with and without the store confs)
  * in otherwise identical sessions. Solo numbers, same host, same data —
  * the adjudication-grade comparison cross-round bench artifacts can't
  * give (host load dominates those).
  */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // single-file test tables: split scans so map work parallelizes
      // (SURVEY §5 — at cluster scale the 128 MB default is correct)
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Util.timeConfs.foreach { case (k, v) =>
      spark.conf.set(k, v)
      println(s"[time] conf $k=$v")
    }
    SparkEntry.queries.get("q01_pricing_summary").foreach(_(spark, sfDir).count())
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[time] $name reps=${ts.map(t => f"$t%.2f").mkString(",")} min=${ts.min}%.2f")
    }
    spark.stop()
  }
}
