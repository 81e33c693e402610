package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

private[sources] final case class IvfMeta(kind: String, k: Long, na: Long) extends VersionMeta {
  def counts: Seq[Long] = Seq(na)
}

/** Persistent IVF coarse-quantizer index — the ANN artifact an embedding
  * service ships: the frozen centroid table (the integer-quantized
  * (clabel, cdim, sq, cnt) shape q43/q74 probe) plus the (vec_id, label)
  * assignment of every indexed vector. With the index stored, adding a
  * batch of new vectors costs ∝ |batch| (each scores against the
  * broadcast centroids — the same integer distance the search probes
  * with), and a search session reads assignments instead of re-deriving
  * them; the training corpus is never re-touched.
  *
  * Storage is the shared [[VersionedStore]] chain: version v=1 (a base)
  * carries the centroids and the initial assignment; each append
  * publishes ONLY the newly-indexed vectors' assignment rows (idempotent
  * re-sends anti-join away); `compact` folds the chain. The cell count is
  * pinned in the v=1 marker and the centroids are FROZEN (standard IVF
  * discipline: re-training the quantizer is a rebuild, loudly, never a
  * silent drift of cell boundaries under existing assignments).
  */
object IvfIndex extends VersionedStore[IvfMeta]("IVF index", "index update") {

  final case class IvfIndexStats(
      version: Long, kind: String, k: Long, newAssigned: Long, totalAssigned: Long)

  type Stats = IvfIndexStats

  private val MarkerRe = """\{"kind":"(base|delta)","k":(\d+),"na":(\d+)\}""".r

  protected def parseMarker(body: String): Option[IvfMeta] = body.trim match {
    case MarkerRe(kind, k, na) => Some(IvfMeta(kind, k.toLong, na.toLong))
    case _ => None
  }

  protected def statsOf(v: Long, m: IvfMeta, totals: Seq[Long]): IvfIndexStats =
    IvfIndexStats(v, m.kind, m.k, m.na, totals.head)

  /** The frozen centroid table (clabel, cdim, sq, cnt) — stored with the
    * chain's newest base version.
    */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    relation(spark, dir, readChain(spark, dir).head, "centroids")

  /** The current (vec_id, label) assignment view. */
  def assign(spark: SparkSession, dir: String): DataFrame = chainRead(spark, dir, "assign")

  /** The number of cells the quantizer was built with (pinned at init). */
  def storeK(spark: SparkSession, dir: String): Long = firstMeta(spark, dir).k

  private def stageIvf(
      spark: SparkSession, dir: String, v: Long, kind: String, k: Long,
      assign: DataFrame, centroids: Option[DataFrame]): Path =
    stage(spark, dir, v) { st =>
      val na = st.put("assign", assign).count()
      centroids.foreach(st.put("centroids", _))
      s"""{"kind":"$kind","k":$k,"na":$na}"""
    }

  protected def stageBase(spark: SparkSession, dir: String, v: Long, before: IvfIndexStats): Path =
    stageIvf(spark, dir, v, "base", before.k, assign(spark, dir), Some(centroids(spark, dir)))

  /** Fold the chain into one base version, the view unchanged (a chain
    * of one is a no-op).
    */
  def compact(spark: SparkSession, dir: String): IvfIndexStats = foldChain(spark, dir)

  /** Build v=1 from a quantizer: the (vec_id, label) assignment and its
    * (clabel, cdim, sq, cnt) centroid table — either the corpus's own
    * labels (`Similarity.corpusQuantizer`, the identity quantizer q74
    * probes by default) or a trained `IvfModel`'s pair. Fails if
    * initialized.
    */
  def init(
      spark: SparkSession, dir: String,
      assignment: DataFrame, centroidTable: DataFrame): IvfIndexStats =
    initWith(spark, dir) {
      val a = assignment.select(col("vec_id"), col("label"))
      val c = centroidTable.select(col("clabel"), col("cdim"), col("sq"), col("cnt"))
      val k = c.select(col("clabel")).distinct().count()
      require(k >= 1, "quantizer has no centroids")
      stageIvf(spark, dir, 1L, "base", k, a, Some(c))
    }

  /** Index a batch of NEW vectors: each scores against the broadcast
    * frozen centroids with the family's integer distance
    * (diff = q·cnt − sq, dist = Σdiff² / cnt² — bit-identical to the
    * q43/q74 probe and the Lloyd step), takes the argmin cell with the
    * deterministic label tie-break, and publishes as a delta. Already-
    * indexed vec_ids anti-join away, so re-sending a batch is a no-op —
    * cost is ∝ |batch| at any index size.
    *
    * `batchEv` is the quantized exploded view (vec_id, dim, q) —
    * `Similarity.quantizedEv`'s shape.
    */
  def append(spark: SparkSession, dir: String, batchEv: DataFrame): IvfIndexStats = {
    val cur = head(spark, dir)
    val k = storeK(spark, dir)
    val cent = centroids(spark, dir)
    val diff = col("q") * col("cnt") - col("sq")
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("clabel"))
    val assigned = batchEv
      .join(broadcast(cent), col("dim") === col("cdim"))
      .groupBy(col("vec_id"), col("clabel"))
      .agg(sum(diff * diff).as("num"), max(col("cnt")).as("cnt"))
      .withColumn("dist", col("num").cast("double") / (col("cnt") * col("cnt")).cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("clabel").as("label"))
    val fresh = assigned.join(assign(spark, dir), Seq("vec_id"), "left_anti")
    // the commit's marker-CAS arbitrates concurrent appenders
    publishOrDrop(spark, dir, cur, stageIvf(spark, dir, cur + 1, "delta", k, fresh, None))
  }
}
