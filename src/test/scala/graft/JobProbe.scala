package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code launches, one entry per job.
  * Jobs are matched by a local property the block's thread sets, so jobs
  * other threads run at the same time are not counted; threads the block
  * starts inherit the property, so their jobs are.
  */
object JobProbe {
  private val Tag = "graft.test.jobProbe"

  /** One job the block launched: the long call sites of its stages (the
    * driver stack that submitted it, e.g.
    * `org.apache.spark.sql.DataFrameReader.parquet(...)` for a schema
    * inference), its Spark job tags, and whether it had ended by the time
    * the block returned or threw.
    */
  final case class Job(site: String, tags: Set[String], endedInBlock: Boolean)

  /** Runs `body` and returns its outcome, failed or not, with its jobs. */
  def probe[T](spark: SparkSession)(body: => T): (Try[T], Seq[Job]) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val fence = s"$id-fence"
    val seen = new ConcurrentLinkedQueue[(Int, String, Set[String])]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty(Tag)).foreach {
          case `id` =>
            val tags = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
              .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)
            seen.add((e.jobId, e.stageInfos.map(_.details).mkString("\n"), tags))
          case `fence` => fenced.countDown()
          case _       =>
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.put(e.jobId, e.time); () }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, id)
      val out = try Try(body) finally sc.setLocalProperty(Tag, fence)
      val returned = System.currentTimeMillis()
      // the listener bus delivers in order: once the fence job's start
      // arrives, every job the body launched has been seen, and every end
      // posted before the body returned too
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not deliver the fence job")
      (out, seen.asScala.toSeq.map { case (job, site, tags) =>
        Job(site, tags, ended.asScala.get(job).exists(_ <= returned))
      })
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** The long call sites of the jobs `body` launches, with its result. */
  def jobs[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val (out, seen) = probe(spark)(body)
    (out.get, seen.map(_.site))
  }

  def isInference(site: String): Boolean = site.contains("DataFrameReader.parquet")
}
