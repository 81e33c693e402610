package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of driver code launches, one entry per job: the
  * long call sites of its stages (the driver stack that submitted it, e.g.
  * `org.apache.spark.sql.DataFrameReader.parquet(...)` for a schema
  * inference). Jobs are matched by a thread-local property, so jobs other
  * threads run at the same time are not counted.
  */
object JobProbe {
  private val Tag = "graft.test.jobProbe"

  def jobs[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    val fence = s"$id-fence"
    val seen = new ConcurrentLinkedQueue[String]()
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(Tag)).foreach {
          case `id`    => seen.add(e.stageInfos.map(_.details).mkString("\n"))
          case `fence` => fenced.countDown()
          case _       =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Tag, id)
      val out = try body finally sc.setLocalProperty(Tag, fence)
      // the listener bus delivers in order: once the fence job's start
      // arrives, every job the body launched has been seen
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(60, TimeUnit.SECONDS), "listener bus did not deliver the fence job")
      (out, seen.asScala.toSeq)
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }

  def isInference(site: String): Boolean = site.contains("DataFrameReader.parquet")
}
