package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

private[sources] final case class DayMeta(kind: String, nd: Long, corpus: String)
    extends VersionMeta {
  def counts: Seq[Long] = Seq(nd)
}

/** What a day-sketch ledger operation returns: the version, its kind, the
  * days it added and the days the read chain holds.
  */
final case class DayLedgerStats(version: Long, kind: String, newDays: Long, totalDays: Long)

/** The persistent per-epoch-day sketch ledger [[HllStore]] and
  * [[KllStore]] are instances of: one mergeable sketch per day, so a
  * statistic over any date range merges exactly the stored days the range
  * covers instead of re-scanning raw events. An instance supplies only
  * its sketch `aggregate` (over the non-null `input` column) and its
  * `sketch` noun.
  *
  * Storage is the [[VersionedStore]] chain: v=1 base; appends publish ONLY
  * complete NEW days (a day already in the ledger is frozen — re-sending
  * it anti-joins away; daily ledgers append whole closed days, never
  * partial updates, and a sketch merge of a re-sent day would double its
  * mass); `compact` folds the chain after proving the day count
  * unchanged. The marker carries the corpus tag the ledger was built
  * from, which provenance-checked reads and every append enforce.
  */
private[sources] abstract class DaySketchLedger(sketch: String, input: String)
    extends VersionedStore[DayMeta](s"$sketch store", s"$sketch ledger update") {

  type Stats = DayLedgerStats

  /** The per-day sketch aggregate (evaluated per call, after the
    * instance's own fields are initialized).
    */
  protected def aggregate: Column

  private val MarkerRe = """\{"kind":"(base|delta)","nd":(\d+),"corpus":"([^"]*)"\}""".r

  protected def parseMarker(body: String): Option[DayMeta] = body.trim match {
    case MarkerRe(kind, nd, corpus) => Some(DayMeta(kind, nd.toLong, corpus))
    case _ => None
  }

  protected def statsOf(v: Long, m: DayMeta, totals: Seq[Long]): DayLedgerStats =
    DayLedgerStats(v, m.kind, m.nd, totals.head)

  /** Per-(epoch-day) sketch of the attributed `input` values — the ONE
    * definition the store build and any in-query derivation share (no
    * drift; null values carry nothing to sketch). Input must hold `ts`
    * (timestamp) and the `input` column.
    */
  def daySketches(events: DataFrame): DataFrame =
    events
      .filter(col(input).isNotNull)
      .groupBy(expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(aggregate.as("sk"))

  /** The corpus tag the ledger at `dir` was built from. */
  def corpus(spark: SparkSession, dir: String): String =
    meta(spark, dir, readChain(spark, dir).head).corpus

  /** The (day, sk) ledger view — one committed sketch per epoch day.
    * `expectCorpus` is the read-time provenance check: a consumer that
    * knows which corpus it queries passes the tag the ledger MUST have
    * been built from, and a ledger built from another corpus/SF fails
    * loudly instead of silently joining wrong estimates into the answer.
    */
  def sketches(
      spark: SparkSession, dir: String, expectCorpus: Option[String] = None): DataFrame = {
    expectCorpus.foreach { want =>
      val have = corpus(spark, dir)
      require(have == want,
        s"$sketch ledger at $dir was built from corpus '$have' but the query reads " +
          s"corpus '$want' — refusing to merge sketches across corpora")
    }
    chainRead(spark, dir, "sketches")
  }

  private def stageDays(
      spark: SparkSession, dir: String, v: Long, kind: String, sk: DataFrame,
      corpus: String): Path = {
    require(!corpus.contains("\"") && !corpus.contains("\\"),
      s"corpus tag must be quote/backslash-free (it is embedded in the marker JSON): $corpus")
    stage(spark, dir, v) { st =>
      val nd = st.put("sketches", sk).count()
      s"""{"kind":"$kind","nd":$nd,"corpus":"$corpus"}"""
    }
  }

  protected def stageBase(spark: SparkSession, dir: String, v: Long, before: DayLedgerStats): Path =
    stageDays(spark, dir, v, "base", sketches(spark, dir), corpus(spark, dir))

  /** Fold the chain into one base version, the view unchanged (a chain
    * of one is a no-op).
    */
  def compact(spark: SparkSession, dir: String): DayLedgerStats = foldChain(spark, dir)

  /** Build v=1 from an events frame. Fails if already initialized.
    * `corpus` names the event corpus (e.g. the source dir) — recorded in
    * the marker and enforced on provenance-checked reads and appends.
    */
  def init(
      spark: SparkSession, dir: String, events: DataFrame, corpus: String): DayLedgerStats =
    initWith(spark, dir)(stageDays(spark, dir, 1L, "base", daySketches(events), corpus))

  /** Append a batch of complete NEW days: days already in the ledger are
    * frozen and anti-join away (idempotent re-send); an empty remainder
    * publishes nothing. The batch must carry the ledger's corpus tag —
    * mixing corpora in one ledger is refused, not averaged.
    */
  def append(
      spark: SparkSession, dir: String, events: DataFrame, corpus: String): DayLedgerStats = {
    val cur = head(spark, dir)
    val have = this.corpus(spark, dir)
    require(have == corpus,
      s"$sketch ledger at $dir holds corpus '$have'; refusing to append batch tagged '$corpus'")
    val fresh = daySketches(events)
      .join(sketches(spark, dir).select(col("day")), Seq("day"), "left_anti")
    publishOrDrop(spark, dir, cur, stageDays(spark, dir, cur + 1, "delta", fresh, corpus))
  }
}
