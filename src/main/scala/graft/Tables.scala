package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Schema'd loaders for the driver-generated test tables (TESTDATA.md).
  *
  * Every operator takes `(SparkSession, sfDir)` and loads through here so
  * scans stay plain parquet relations Catalyst can push filters/projections
  * into. At 100 TB these would be partitioned/bucketed external tables; the
  * call sites only depend on the logical schema.
  *
  * Each load declares its table's schema ([[Tables.parquetSchema]]), so it
  * runs no schema-inference job: a file's footer is read once per file
  * identity and inference-relevant session confs, not once per load.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.parquetSchema(spark, path)).parquet(path)
  }

  /** Conf-gated BUCKETED loader (r16 verdict #1: the "exchange-free on
    * bucketed storage" claim must be a demonstrable plan, not a comment).
    * With `graft.bucketed=true` the two big fact tables load from the
    * catalog tables [[Tables.provisionBucketed]] wrote with
    * `bucketBy(N, orderkey)` + `sortBy` — their scans report
    * HashPartitioning(orderkey, N), so the fact-fact joins and orderkey
    * rollups of q176/q208/q224/q245/q253 plan with ZERO exchange on the
    * join spine (PlanAudit `bucketed` mode pins it). Provenance-checked:
    * the provisioner records its source dir in `graft.bucketed.sf`, and
    * a session pointing at a different SF fails loudly instead of
    * silently answering from the wrong corpus.
    */
  private def bucketedOr(table: String, plain: => DataFrame): DataFrame =
    if (!spark.conf.get("graft.bucketed", "false").toBoolean) plain
    else {
      val provisionedFrom = spark.conf.get("graft.bucketed.sf", "")
      require(provisionedFrom == dir,
        s"bucketed tables were provisioned from '$provisionedFrom' but this query reads " +
          s"'$dir' — re-run Tables.provisionBucketed for this SF")
      spark.table(table)
    }

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = bucketedOr(Tables.BucketedOrders, t("orders"))
  def lineitem: DataFrame = bucketedOr(Tables.BucketedLineitem, t("lineitem"))

  /** The events table's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (unrepresentable in Spark's µs timestamp;
    * loadable only as a raw nanos long under
    * `spark.sql.legacy.parquet.nanosAsLong`), then timestamp[us] with
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Adapt to whatever the
    * files carry instead of binding to one generation: branch on the loaded
    * schema and normalize `ts` to a session-TZ (UTC everywhere in this repo)
    * TimestampType so downstream `window()`/`unix_micros`/oracle hashes are
    * identical across physical encodings.
    *
    *  - LongType (nanos-as-long): integer-divide to µs — never through a
    *    double, which can't hold an epoch-nanos value exactly.
    *  - TimestampNTZType: cast; with the UTC session this is µs-identical.
    *  - TimestampType: pass through.
    *
    * The legacy conf is set only on the retry path a NANOS file forces
    * (plain schema inference throws on TIMESTAMP(NANOS)), and must then stay
    * set for the session: the vectorized reader re-checks it per batch at
    * execution time, so un-setting it after load would break the scan.
    */
  def events: DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // the bucketed table was written post-normalization (ts is already
    // TimestampType), so it flows through the match below unchanged
    val raw = bucketedOr(
      Tables.BucketedEvents,
      try t("events")
      catch {
        case _: Exception =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          t("events")
      })
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other =>
        throw new IllegalArgumentException(s"events.ts: unsupported physical type $other")
    }
  }
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")
}

object Tables {
  val BucketedLineitem = "graft_lineitem_b"
  val BucketedOrders = "graft_orders_b"
  val BucketedEvents = "graft_events_b"

  /** Session confs that change the schema parquet inference yields. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** (qualified path, [[InferenceConfs]] values) → (file identity, schema). */
  private val resolved =
    new ConcurrentHashMap[(String, Seq[Option[String]]), (Seq[(String, Long, Long)], StructType)]()

  /** Every file under `p` (or `p` itself) as (path, length, mtime). */
  private def fileIdentity(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    val files = fs.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long, Long)]
    while (files.hasNext) {
      val f = files.next()
      out += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    out.result().sorted
  }

  /** The schema of the parquet table at `path`, inferred from its footers
    * once and reused while the cache key still holds. The key is the
    * qualified path plus the session values of [[InferenceConfs]]; the
    * entry is valid only for the file identity it was inferred from (each
    * file's path, length and mtime), so a rewritten table re-resolves and
    * a stale schema is never served. An inference that throws caches
    * nothing (`events`' TIMESTAMP(NANOS) retry depends on it).
    */
  private[graft] def parquetSchema(spark: SparkSession, path: String): StructType = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qualified = fs.makeQualified(p)
    val id = fileIdentity(fs, qualified)
    val key = (qualified.toString, InferenceConfs.map(spark.conf.getOption))
    Option(resolved.get(key)).collect { case (`id`, schema) => schema }.getOrElse {
      val schema = spark.read.parquet(path).schema
      resolved.put(key, (id, schema))
      schema
    }
  }

  /** Write `lineitem`/`orders` as bucket-by-orderkey catalog tables — the
    * ONE-TIME layout investment a 100 TB lake makes so every orderkey
    * join/rollup afterwards is exchange-free (each side's scan reports
    * HashPartitioning(orderkey, buckets); `sortBy` additionally spares
    * the sort-merge sorts). `path` keeps the bucket files external
    * (under the caller's temp root), never in the process CWD; the
    * source dir is recorded in `graft.bucketed.sf` for the loader's
    * provenance check. Idempotent per session via overwrite.
    */
  def provisionBucketed(
      spark: SparkSession, sfDir: String, path: String, buckets: Int): Unit = {
    // read the plain parquet directly — never through the conf-gated
    // loader (a session with graft.bucketed already set must not
    // provision FROM the bucketed tables). events goes through the
    // ts-normalizing loader (safe: events itself gates only on the
    // bucketed conf, which cannot be set while provisioning runs) so the
    // bucketed table carries the session-normal TimestampType.
    require(!spark.conf.get("graft.bucketed", "false").toBoolean,
      "unset graft.bucketed before provisioning — the provisioner must read plain parquet")
    Seq(
      (spark.read.parquet(s"$sfDir/lineitem.parquet"), "l_orderkey",
        BucketedLineitem, "lineitem_b"),
      (spark.read.parquet(s"$sfDir/orders.parquet"), "o_orderkey",
        BucketedOrders, "orders_b"),
      (Tables(spark, sfDir).events, "user_id", BucketedEvents, "events_b")
    ).foreach { case (df, key, table, sub) =>
      spark.sql(s"DROP TABLE IF EXISTS $table")
      // r17 session 2: align the write on the bucket hash FIRST —
      // repartition(buckets, key) uses the same Murmur3 pmod as the
      // bucket id, so every task holds exactly one bucket and each
      // bucket lands in ONE file. Unaligned, every upstream scan task
      // wrote a file per bucket it touched (tasks × buckets tiny
      // files — measured as a regression on plain-scan consumers), and
      // multi-file buckets also make the reader distrust sortBy, forcing
      // SMJ re-sorts the layout exists to skip.
      df.repartition(buckets, org.apache.spark.sql.functions.col(key))
        .write
        .bucketBy(buckets, key)
        .sortBy(key)
        .option("path", s"$path/$sub")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    }
    spark.conf.set("graft.bucketed.sf", sfDir)
  }

  /** Local-mode crutch, OFF by default: a single parquet file arrives as
    * one scan partition on local[n], serializing lambda-heavy map work —
    * `graft.local.split=true` buys back parallelism with an explicit
    * repartition. At cluster scale the scan's own splitting
    * (`spark.sql.files.maxPartitionBytes`) already parallelizes, and an
    * unconditional corpus-wide repartition would be a full extra shuffle
    * before map-side work that needs no co-partitioning — so the default
    * plan carries no exchange here. Bench/Time instead split local scans
    * via maxPartitionBytes=2m.
    */
  def localSplit(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    if (df.sparkSession.conf.get("graft.local.split", "false").toBoolean) df.repartition(key)
    else df

  /** Align a fact projection on its co-bucket key (r17). When the session
    * reads bucketed fact tables (`graft.bucketed=true`) the scan already
    * reports HashPartitioning(key) and an explicit repartition would ADD
    * the exchange it exists to remove — so this is a no-op there. On the
    * plain path it is one explicit key repartition placed BEFORE the
    * downstream key-clustered operators (dedup/agg/self-join), which then
    * all satisfy their distribution from this single exchange
    * (hash(key) ⊆ any (key, …) clustering — guide §2.4's shared-exchange
    * rule).
    */
  def bucketAligned(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    if (df.sparkSession.conf.get("graft.bucketed", "false").toBoolean) df
    else df.repartition(key)
}

/** A bundle of named queries plus their DuckDB oracle SQL. SparkEntry
  * assembles the full inventory from these (SURVEY.md §2).
  */
trait QueryModule {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracleSql: Map[String, String]
}
