package graft

/** One-shot lake-artifact provisioner: builds every persistent store the
  * query library can probe — the from-scratch bootstrap a deployment runs
  * ONCE before ingest takes over incremental maintenance
  * (`streaming.ImportPipeline`'s MAINTAIN step / the stores' `append`).
  *
  *   sbt "runMain graft.BuildStores <sfDir> <outDir> [bands] [windowK] [incoming]"
  *
  * The artifacts, and the session conf that points consumers at each, are
  * [[StoreSet]]'s one list. Prints one JSON line per artifact with its
  * version-1 stats so the bootstrap is auditable; reruns fail loudly on
  * already-initialized stores (this is a bootstrap, not a sync —
  * incremental maintenance is the stores' `append`).
  */
object BuildStores {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: BuildStores <sfDir> <outDir> [bands] [windowK] [incoming]")
    val (sfDir, outDir) = (args(0), args(1))
    val bands = args.lift(2).map(_.toInt).getOrElse(8)
    val windowK = args.lift(3).map(_.toInt).getOrElse(8)
    val incoming = args.lift(4).getOrElse("src1%")
    val spark = Session()
    StoreSet.provision(spark, sfDir, outDir, bands, windowK, incoming)
      .foreach(s => println(s.json))
    spark.stop()
  }
}
