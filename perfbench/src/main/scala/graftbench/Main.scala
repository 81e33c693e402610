package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: build the session, set up the workload,
  * run its closed loop (one client thread) for the given seconds, check
  * the final state, and write every sample and figure to a JSON file that
  * `perfbench/run.py` turns into metrics.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --data <dir> --work <dir> --out <file> [--spans <file>]
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    // local[k] with k no larger than the host: an oversubscribed local
    // master measures the OS scheduler, not graft
    val k = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", k.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("graft.local.split", "true")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tracer = new Tracer(spark, traced)
    val rec = new Recorder(tracer)
    val ctx = new Ctx(spark, opt("data"), work, seed, k, tracer, rec)
    val w = Workload(workload, ctx)

    def secs(body: => Unit): Double = { val t = tracer.now(); body; (tracer.now() - t) / 1000 }
    val initS = secs(w.init())
    val warmS = secs(w.warmUp())

    // the closed loop: whole rounds, at least one, until the time is up;
    // every round holds the same ops, so rates and medians do not depend on
    // where the time ran out
    rec.timed = true
    val m0 = tracer.now()
    var rounds = 0
    while (rounds == 0 || tracer.now() - m0 < seconds * 1000) {
      w.ops(rounds).foreach(_())
      rounds += 1
    }
    val measureS = (tracer.now() - m0) / 1000
    rec.timed = false

    w.finish()
    val facts = w.facts
    tracer.drain()
    val timedOps = rec.samples.filter(_.timed).toSeq
    val layers = if (!traced) Map.empty[String, Double] else {
      val (spans, jobs, phases) = tracer.snapshot
      Layers.parent(spans, jobs)
      opt.get("spans").foreach { path =>
        val self = Layers.selfTimes(spans, jobs)
        val spanRows = spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
          "name" -> s.name, "start_ms" -> s.start, "dur_ms" -> (s.end - s.start), "self_ms" -> self(s.id)))
        val jobRows = jobs.map(j => Map("job" -> j.id, "span" -> j.span, "start_ms" -> j.start,
          "dur_ms" -> (j.end - j.start), "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
          "site" -> j.site.linesIterator.take(3).mkString(" | ")))
        Files.write(Paths.get(path), Json(Map("spans" -> spanRows, "jobs" -> jobRows)).getBytes("UTF-8"))
      }
      Layers.compute(timedOps, spans, jobs, phases, k) ++ Map("trace.spans" -> spans.size.toDouble)
    }

    val result = Map(
      "workload" -> workload, "seed" -> seed, "k" -> k, "rounds" -> rounds,
      "setup" -> Map("session_s" -> sessionS, "init_s" -> initS, "warmup_s" -> warmS,
        "setup_s" -> (sessionS + initS + warmS)),
      "measure_s" -> measureS,
      "samples" -> rec.samples.map(s => Map("kind" -> s.kind, "name" -> s.name, "ms" -> s.ms,
        "ok" -> s.ok, "timed" -> s.timed)),
      "checked" -> ctx.checked.map { case (name, dir) =>
        Map("name" -> name, "dir" -> dir, "oracle" -> graft.SparkEntry.oracleSql.get(name)) },
      "facts" -> facts,
      "layers" -> layers,
      "peak_rss_mb" -> peakRssMb())
    Files.write(Paths.get(opt("out")), Json(result).getBytes("UTF-8"))
    spark.stop()
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
