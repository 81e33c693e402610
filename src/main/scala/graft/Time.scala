package graft

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
    // the bench's session, so a solo time is of the plan the bench runs
    val spark = Session(extra = Session.Timed)
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
