package graft.sources

import java.util
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{
  BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 versioned TSV sink — the WRITE half of the connector
  * surface (SynthSource is the read half), wired onto the repo's one CAS
  * publish protocol: `df.write.format("graft.sources.VersionedSink")
  * .option("path", dir).mode("append").save()` stages every task's
  * output, and the driver-side `BatchWrite.commit(messages)` assembles
  * ONLY task-committed files and publishes them as the next `v=N`
  * snapshot through [[CasProtocol.claim]] — marker-last, atomic rename on
  * HDFS/POSIX, conditional-put claim on object stores, exactly like
  * the six stores on the [[VersionedStore]] core.
  *
  * Why DSv2 here: Spark's connector commit protocol is the idiomatic
  * answer to partial-write visibility — speculative or failed task
  * attempts write distinct files that never appear in any commit message,
  * so the assembled payload contains exactly one file per COMMITTED task
  * attempt; `abort()` removes the whole staging area. The CAS layer then
  * makes the snapshot-level publish atomic across writers: concurrent
  * in-JVM writes serialize on the dir's commit lock and land as
  * consecutive versions; a cross-JVM race loses loudly (the standing
  * store contract).
  *
  * Scope: TSV payload over primitive columns (long/int/double/string/
  * boolean — a ledger/export sink, not a parquet replacement); readers
  * use `spark.read.csv(sep='\t')` on `dir/v=N` (the `_`-prefixed marker
  * is invisible to scans, the standing layout rule). TSV has no quoting
  * layer, so a string value carrying a tab/newline FAILS the task loudly
  * rather than silently corrupting the row (spec-pinned); nulls
  * serialize as the empty field and read back as null — the standard
  * csv-source convention, declared.
  */
class VersionedSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  // write-only: schema comes from the dataframe being written
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = StructType(Nil)
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val dir = properties.get("path")
    require(dir != null && dir.nonEmpty, "graft.sources.VersionedSink requires option(\"path\", dir)")
    new VersionedSinkTable(dir, schema)
  }
}

object VersionedSink {
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[sources] def lockFor(dir: String): Object =
    locks.computeIfAbsent(dir, _ => new Object)

  /** Largest committed version under `dir`, 0 if none. */
  def latestVersion(spark: SparkSession, dir: String): Long = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(new Path(dir))) return 0L
    f.listStatus(new Path(dir)).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.stripPrefix("v=").toLong }
      .filter(v => f.exists(new Path(s"$dir/v=$v/${CasProtocol.Marker}")))
      .sorted.lastOption.getOrElse(0L)
  }
}

private[sources] class VersionedSinkTable(dir: String, writeSchema: StructType)
    extends Table with SupportsWrite {
  override def name(): String = s"graft_versioned_sink($dir)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new VersionedBatchWrite(dir, info.schema())
      }
    }
}

private[sources] final case class PartFile(path: String, rows: Long) extends WriterCommitMessage

private[sources] class VersionedBatchWrite(dir: String, schema: StructType) extends BatchWrite {
  private val writeId = UUID.randomUUID().toString
  private val tasksDir = s"$dir/_staging/$writeId/tasks"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // hadoop conf is not serializable — ship its entries and rebuild on
    // the executor (the public-API route; SerializableConfiguration is
    // private[spark])
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val entries = {
      val it = conf.iterator()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); b += (e.getKey -> e.getValue) }
      b.result()
    }
    new VersionedWriterFactory(tasksDir, schema, entries)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val f: FileSystem = new Path(dir).getFileSystem(conf)
    // assemble ONLY task-committed files (stray attempt files in tasksDir
    // belong to failed/speculative attempts and must not publish)
    val staging = new Path(s"$dir/_staging/$writeId/payload")
    f.mkdirs(staging)
    var rows = 0L
    messages.zipWithIndex.foreach { case (m, i) =>
      val pf = m.asInstanceOf[PartFile]
      // Hadoop rename reports failure by RETURNING FALSE, not throwing —
      // an unchecked move would publish a marker whose row count includes
      // a part that never arrived (r16 review)
      if (!f.rename(new Path(pf.path), new Path(staging, f"part-$i%05d.tsv"))) {
        CasProtocol.dropStaging(f, new Path(s"$dir/_staging/$writeId"))
        throw new java.io.IOException(
          s"versioned sink: staging move failed for task part ${pf.path} — snapshot NOT published")
      }
      rows += pf.rows
    }
    val lock = VersionedSink.lockFor(dir)
    // version selection must be atomic with the claim for in-JVM writers
    // to land on consecutive versions; JVM monitors are reentrant, so
    // claim's own sync on the same lock nests cleanly
    lock.synchronized {
      val version = VersionedSink.latestVersion(spark, dir) + 1
      val dst = new Path(s"$dir/v=$version")
      val marker = new Path(staging, CasProtocol.Marker)
      val out = f.create(marker, false)
      out.write(s"""{"version":$version,"rows":$rows,"parts":${messages.length}}""".getBytes("UTF-8"))
      out.close()
      CasProtocol.claim(
        spark, dir, staging, dst, version, lock,
        committed = () => f.exists(new Path(dst, CasProtocol.Marker)),
        what = s"versioned sink write $writeId")
    }
    // drop the now-empty write staging area
    CasProtocol.dropStaging(f, new Path(s"$dir/_staging/$writeId"))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    CasProtocol.dropStaging(f, new Path(s"$dir/_staging/$writeId"))
  }
}

private[sources] class VersionedWriterFactory(
    tasksDir: String, schema: StructType, hadoopConf: Map[String, String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new VersionedDataWriter(tasksDir, schema, hadoopConf, partitionId, taskId)
}

/** Each task ATTEMPT writes its own file (partitionId + taskId are unique
  * per attempt) — a retried or speculative attempt can never collide with
  * the committed one, and only the file named in this writer's commit
  * message reaches the payload.
  */
private[sources] class VersionedDataWriter(
    tasksDir: String, schema: StructType, hadoopConf: Map[String, String],
    partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val path = new Path(f"$tasksDir/attempt-$partitionId%05d-$taskId")
  private lazy val f = {
    val conf = new org.apache.hadoop.conf.Configuration(false)
    hadoopConf.foreach { case (k, v) => conf.set(k, v) }
    path.getFileSystem(conf)
  }
  private var opened = false
  private lazy val out = { opened = true; f.create(path, true) }
  private var rows = 0L

  override def write(record: InternalRow): Unit = {
    val line = schema.fields.zipWithIndex.map { case (fd, i) =>
      if (record.isNullAt(i)) ""
      else fd.dataType match {
        case LongType => record.getLong(i).toString
        case IntegerType => record.getInt(i).toString
        case DoubleType => record.getDouble(i).toString
        case BooleanType => record.getBoolean(i).toString
        case StringType =>
          val s = record.getUTF8String(i).toString
          // TSV has no quoting layer: a delimiter inside a value would
          // silently corrupt the row for every reader. Fail the task
          // loudly instead — the ledger/export columns this sink is for
          // (identifiers, counts) never carry them legitimately.
          if (s.indexOf('\t') >= 0 || s.indexOf('\n') >= 0 || s.indexOf('\r') >= 0)
            throw new IllegalArgumentException(
              s"graft.sources.VersionedSink: value in column ${fd.name} contains a " +
                "tab/newline — TSV rows cannot carry raw delimiters; escape upstream")
          s
        case dt => throw new IllegalArgumentException(
          s"graft.sources.VersionedSink supports primitive columns only, got $dt for ${fd.name}")
      }
    }.mkString("\t")
    out.write((line + "\n").getBytes("UTF-8"))
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    PartFile(path.toString, rows)
  }

  override def abort(): Unit =
    // only touch the filesystem if write() ever opened the stream — an
    // abort before the first row would otherwise CREATE the attempt file
    // just to delete it (r16 review)
    if (opened) {
      try out.close() catch { case _: Exception => () }
      try f.delete(path, false) catch { case _: Exception => () }
      ()
    }

  override def close(): Unit = ()
}
