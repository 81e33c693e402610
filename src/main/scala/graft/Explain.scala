package graft

import org.apache.spark.sql.SparkSession

/** Dev harness: print the formatted physical plan of named queries —
  * `runMain graft.Explain <sfDir> q38_ngram_jaccard ...`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // same session-conf hook as Time: store-backed plan dumps need the
    // consumer confs the bench session sets
    Util.timeConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
