package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session-artifact cache: every relation an audit session shares
  * across queries, behind one gate, one map and one [[clear]].
  *
  * `graft.lsh.cache=true` marks the session as a maintained-lake audit
  * session (Bench, PlanAudit `stores` mode): each shared relation — the
  * LSH pair statistics, the component labels, the CDC chunks, the
  * (source, shingle) relation, the eval window stream, the embeddings'
  * cellTop2 and kNN edges, and the merged store views — is derived ONCE
  * per (application, artifact, parameters), persisted MEMORY_AND_DISK on
  * first use, and read by every consumer branch after. Conf off → every
  * call derives fresh and nothing is cached: the correctness gate's path.
  *
  * Store views ([[storeView]]) also key on the store's latest COMMITTED
  * version, observed from the marker listing at each access, so an append
  * from another process (or from ImportPipeline's MAINTAIN step) is seen
  * by the next access, which derives a fresh view and unpersists the
  * superseded one. One observation per access = one metadata listing; all
  * branches of a query share the one DataFrame that access returned, so a
  * query never reads two versions. Derived artifacts are functions of
  * `t.dir`'s corpus tables, which ingest never writes.
  *
  * Builds run under the object's lock: a build may read another artifact
  * (components reads pairStats), which a ConcurrentHashMap's
  * computeIfAbsent refuses as a recursive update.
  */
private[graft] object SessionCache {

  /** One cached relation: `storeVersion` is set for store views only,
    * so superseded-version eviction can never match a derived artifact.
    */
  private final case class Key(
      app: String, artifact: String, params: Seq[Any], storeVersion: Option[Long])

  private val artifacts = scala.collection.mutable.HashMap.empty[Key, DataFrame]

  /** The session-artifact gate. */
  def on(spark: SparkSession): Boolean =
    spark.conf.get("graft.lsh.cache", "false").toBoolean

  private def memo(key: Key)(build: => DataFrame): DataFrame = synchronized {
    artifacts.getOrElseUpdate(key, build.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** `build`'s result, persisted and memoized per (application,
    * `artifact`, `params`) when the gate is on; derived fresh when off.
    * The artifact name is part of the key: two artifacts over the same
    * parameters never share an entry.
    */
  def cached(spark: SparkSession, artifact: String, params: Any*)(
      build: => DataFrame): DataFrame =
    if (!on(spark)) build
    else memo(Key(spark.sparkContext.applicationId, artifact, params, None))(build)

  /** [[cached]] for a view over the count store at `dir`, keyed also by
    * the store's latest committed version; the same view's entries for
    * superseded versions are unpersisted on observation, so a cross-JVM
    * append does not strand the old view in executor memory.
    */
  def storeView(spark: SparkSession, artifact: String, dir: String)(
      build: => DataFrame): DataFrame =
    if (!on(spark)) build
    else {
      val v = graft.sources.FreqStore.currentVersion(spark, dir).getOrElse(0L)
      val key = Key(spark.sparkContext.applicationId, artifact, Seq(dir), Some(v))
      synchronized {
        artifacts.keys.toSeq
          .filter(k => k.storeVersion.exists(_ != v) && k.copy(storeVersion = Some(v)) == key)
          .foreach(k => artifacts.remove(k).foreach(_.unpersist()))
        memo(key)(build)
      }
    }

  /** The store's merged count view ([[graft.sources.FreqStore.counts]]),
    * session-cached per committed version. Consumers read it in several
    * plan branches (q139 four ways) whose column pruning and join-key
    * null filters defeat AQE exchange reuse, so uncached each branch
    * pays its own chain-merge shuffle.
    */
  def storeCounts(spark: SparkSession, dir: String): DataFrame =
    storeView(spark, "counts", dir)(graft.sources.FreqStore.counts(spark, dir))

  /** Unpersist and forget every cached artifact — required when turning
    * the gate off mid-session: persist registers the plan in Spark's
    * CacheManager, so even conf-off runs would silently read it (the
    * suites pin derived-plan shapes and must not inherit a cache from an
    * earlier cache-on consumer).
    */
  def clear(): Unit = synchronized {
    artifacts.valuesIterator.foreach(_.unpersist())
    artifacts.clear()
  }
}
