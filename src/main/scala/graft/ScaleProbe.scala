package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured-parallelism probe (r18 — r17 verdict #3): the sf0.1 bench
  * cannot demonstrate core scaling at all (per-job scheduling/plan floor
  * on MB-scale data swamps it; 8 cores ≈ 32 cores on every query), so
  * "scale-safe" rested on plan pins alone. This main builds a
  * deterministically SCALED dataset from a base SF dir and times the
  * shuffle-heavy query families at two core counts, each in its own
  * `local[N]` session, with Bench's min-of-reps `count()` methodology.
  *
  *   sbt "runMain graft.ScaleProbe <baseSfDir> [mult] [query ...]"
  *   GRAFT_SCALE_CPUS="8,32"   (default) core counts to compare
  *
  * Scaling is ×mult row replication with rep-local keys, so per-query
  * WORK scales linearly — the honest scale shape, not a hot-key blowup:
  *   - lineitem: rep r offsets l_orderkey by r·10⁸ (baskets replicate,
  *     basket sizes unchanged, pair work ∝ corpus);
  *   - documents: rep r offsets doc_id by r·10⁸ and Caesar-shifts the
  *     text alphabet by r (`translate`), so shingle/minhash signatures
  *     are rep-local and LSH candidate pairs scale ∝ corpus instead of
  *     quadratically colliding identical replicas (mult ≤ 26).
  * Both are written as multi-file parquet (64 files) so scans
  * parallelize the way a real lake's file count does — the probe runs
  * WITHOUT Bench's single-file local-split crutch and at the default
  * 128 MB split size.
  *
  * Prints ONE JSON line:
  *   {"probe":"scale","mult":M,"cpus":[lo,hi],"reps":2,"agg":"min",
  *    "gen_s":…,"rows":{…},"q_s":{name:[lo_s,hi_s],…},
  *    "speedup":{name:r,…},"speedup_geomean":…}
  * where speedup = t(lo cores)/t(hi cores).
  *
  * BUCKET MODE (`GRAFT_SCALE_BUCKETS=<n>`, r17 verdict #8): instead of
  * two core counts, provisions the co-bucket layout
  * ([[Tables.provisionBucketed]]) over the SCALED facts and times the
  * orderkey join-spine family plain/bucketed/plain (bracketed, same
  * session, conf flip) at the high core count — the measurement of the
  * claimed sf0.1 trade inversion: at sf0.1 the bucketed session lost
  * (per-file overhead on MB-scale facts); the probe asks whether data
  * ×mult is already past the crossover. Prints
  *   {"probe":"buckets","mult":M,"buckets":n,"cpus":c,
  *    "q_s":{name:[plain1,bucketed,plain2]},"ratio":{name:r},…}
  * with ratio = bucketed / min(plain1, plain2).
  */
object ScaleProbe {

  /** The orderkey join-spine family — the queries whose exchanges the
    * bucketed layout exists to remove (PlanAudit `bucketed` mode pins
    * q224/q253's spine; q162/q271/q200 carry the r17 bucketAligned seam).
    */
  private val BucketQueries = Seq(
    "q162_basket_pairs", "q271_apriori_funnel", "q200_blocked_orders",
    "q224_lead_time", "q253_line_sequence", "q245_order_backlog")

  /** The default probe set: the shuffle-heavy families the r17 verdict
    * named (basket self-joins, shingle-pair explodes, window sweeps,
    * tf-idf) — all touching only the two scaled relations.
    */
  private val DefaultQueries = Seq(
    "q271_apriori_funnel", "q162_basket_pairs",
    "q92_source_overlap", "q212_assortativity",
    "q187_window_k_sweep", "q90_tfidf")

  private def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // the scaled tables are 64 files of a few MB each: 4 MB splits give
    // one scan task per file (the probe's stand-in for a real lake's
    // file count) — the default 128 MB split would pack the whole scan
    // into ~4 tasks and starve the 32-core session at the map stage
    Session(cpus, Map("spark.sql.files.maxPartitionBytes" -> "4m"))
  }

  /** Replica key stride: rep r's copy of a base key k is k + r·KeyOffset. */
  private[graft] val KeyOffset = 100000000L

  /** `base` replicated `mult` times with rep-local `key`s, plus a `rep`
    * column. Replica key ranges are disjoint only while every base key is
    * below [[KeyOffset]], so a larger base fails here instead of silently
    * building the hot-key collision shape the probe exists to avoid.
    */
  private[graft] def replicate(base: DataFrame, key: String, mult: Int): DataFrame = {
    val top = Option(base.agg(max(col(key))).head().getAs[Number](0)).map(_.longValue)
    require(top.forall(_ < KeyOffset),
      s"max $key ${top.get} is not below the replica key offset $KeyOffset — " +
        "replica key ranges would overlap")
    base
      .withColumn("rep", explode(array((0 until mult).map(lit(_)): _*)))
      .withColumn(key, col(key) + col("rep") * KeyOffset)
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <baseSfDir> [mult] [query ...]")
    val baseDir = args(0)
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    require(mult >= 1 && mult <= 26, s"mult out of range (1..26): $mult")
    val buckets = sys.env.get("GRAFT_SCALE_BUCKETS").map(_.toInt)
    val queries =
      if (args.length > 2) args.drop(2).toSeq
      else if (buckets.isDefined) BucketQueries
      else DefaultQueries
    val cpusList = sys.env.getOrElse("GRAFT_SCALE_CPUS", "8,32")
      .split(',').map(_.trim.toInt).toSeq.sorted
    require(cpusList.length == 2, s"GRAFT_SCALE_CPUS needs exactly two counts, got $cpusList")

    val out = java.nio.file.Files.createTempDirectory("graft_scaleprobe").toString
    try {
      // ---- generate (not timed against the probe: priced in gen_s) ----
      val tGen = System.nanoTime()
      val rowCounts = {
        val spark = session(32)
        spark.sparkContext.setJobDescription(s"scaleprobe: generate x$mult")
        val li = replicate(spark.read.parquet(s"$baseDir/lineitem.parquet"), "l_orderkey", mult)
          .drop("rep")
        li.repartition(64).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
        // orders scale with the same rep-offset key so the orderkey join
        // spine (bucket mode) sees matched facts; dims and events are
        // copied as-is — the fact/dim ratio grows ×mult, which is the
        // direction real lakes grow
        val ord = replicate(spark.read.parquet(s"$baseDir/orders.parquet"), "o_orderkey", mult)
          .drop("rep")
        ord.repartition(64).write.mode("overwrite").parquet(s"$out/orders.parquet")
        for (smallT <- Seq("region", "nation", "customer", "supplier", "part",
            "events", "embeddings")) {
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(s"$baseDir/$smallT.parquet"),
            java.nio.file.Paths.get(s"$out/$smallT.parquet"))
        }
        val alpha = "abcdefghijklmnopqrstuvwxyz"
        val shifted = (0 until mult).map(r => alpha.drop(r) + alpha.take(r))
        val docs = replicate(spark.read.parquet(s"$baseDir/documents.parquet"), "doc_id", mult)
        val translated = docs.withColumn(
          "text",
          (0 until mult).foldLeft(lit(null).cast("string")) { (acc, r) =>
            when(col("rep") === r, translate(col("text"), alpha, shifted(r))).otherwise(acc)
          }).drop("rep")
        translated.repartition(64).write.mode("overwrite").parquet(s"$out/documents.parquet")
        val counts = Map(
          "lineitem" -> spark.read.parquet(s"$out/lineitem.parquet").count(),
          "documents" -> spark.read.parquet(s"$out/documents.parquet").count())
        spark.stop()
        counts
      }
      val genS = math.rint((System.nanoTime() - tGen) / 1e7) / 100

      // ---- bucket mode: plain/bucketed/plain bracket, one session ----
      buckets.foreach { n =>
        val cpus = cpusList.last
        val spark = session(cpus)
        Tables.provisionBucketed(spark, out, s"$out/bucketed", n)
        def timeAll(tag: String): Map[String, Double] = queries.map { name =>
          val fn = SparkEntry.queries(name)
          val ts = (1 to 2).map { rep =>
            spark.sparkContext.setJobDescription(s"bucketprobe $tag $name rep$rep")
            val t0 = System.nanoTime()
            fn(spark, out).count()
            (System.nanoTime() - t0) / 1e9
          }
          name -> math.rint(ts.min * 100) / 100
        }.toMap
        spark.read.parquet(s"$out/lineitem.parquet").count() // warm
        val p1 = timeAll("plain1")
        spark.conf.set("graft.bucketed", "true")
        val bk = timeAll("bucketed")
        spark.conf.set("graft.bucketed", "false")
        val p2 = timeAll("plain2")
        spark.stop()
        val qs = queries.map(q => s""""$q":[${p1(q)},${bk(q)},${p2(q)}]""")
          .mkString("{", ",", "}")
        val ratios = queries.map { q =>
          q -> math.rint(bk(q) / math.max(0.01, math.min(p1(q), p2(q))) * 100) / 100
        }
        val rs = ratios.map { case (q, r) => s""""$q":$r""" }.mkString("{", ",", "}")
        val geo = math.rint(math.exp(
          ratios.map(r => math.log(math.max(0.01, r._2))).sum / ratios.length) * 100) / 100
        val rows = rowCounts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        println(
          s"""{"probe":"buckets","base":"${new java.io.File(baseDir).getName}",""" +
            s""""mult":$mult,"buckets":$n,"cpus":$cpus,"reps":2,"agg":"min",""" +
            s""""gen_s":$genS,"rows":$rows,"q_s":$qs,"bucketed_over_plain":$rs,""" +
            s""""ratio_geomean":$geo}""")
        Console.out.flush()
        return
      }

      // ---- time each core count in its own session ----
      def run(cpus: Int): Map[String, Double] = {
        val spark = session(cpus)
        // JIT/codegen warmup on the scaled relations (not timed)
        spark.read.parquet(s"$out/lineitem.parquet").count()
        spark.read.parquet(s"$out/documents.parquet").count()
        val res = queries.map { name =>
          val fn = SparkEntry.queries(name)
          val ts = (1 to 2).map { rep =>
            spark.sparkContext.setJobDescription(s"scaleprobe c$cpus $name rep$rep")
            val t0 = System.nanoTime()
            fn(spark, out).count()
            (System.nanoTime() - t0) / 1e9
          }
          name -> math.rint(ts.min * 100) / 100
        }.toMap
        spark.stop()
        res
      }
      val lo = run(cpusList.head)
      val hi = run(cpusList.last)
      val speedups = queries.map { q =>
        q -> math.rint(lo(q) / math.max(0.01, hi(q)) * 100) / 100
      }
      val geo = math.rint(math.exp(
        speedups.map(s => math.log(math.max(0.01, s._2))).sum / speedups.length) * 100) / 100
      val qs = queries.map(q => s""""$q":[${lo(q)},${hi(q)}]""").mkString("{", ",", "}")
      val sp = speedups.map { case (q, r) => s""""$q":$r""" }.mkString("{", ",", "}")
      val rows = rowCounts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(
        s"""{"probe":"scale","base":"${new java.io.File(baseDir).getName}","mult":$mult,""" +
          s""""cpus":[${cpusList.mkString(",")}],"reps":2,"agg":"min","gen_s":$genS,""" +
          s""""rows":$rows,"q_s":$qs,"speedup":$sp,"speedup_geomean":$geo}""")
      Console.out.flush()
    } finally Util.deleteRecursively(out)
  }
}
