package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Persistent per-day KLL quantile-sketch ledger — [[HllStore]]'s exact
  * storage discipline applied to the PERCENTILE axis: one mergeable
  * DataSketches `KllDoublesSketch` per epoch day over the attributed
  * event VALUE stream (e2-quantized — the suite's exact-integer unit),
  * so "p50/p95 of value over any date range" is answered by merging
  * exactly the stored day sketches a window covers, never by re-scanning
  * raw events. Counts (FreqStore) re-ADD, HLL registers re-MAX, KLL
  * retained-item sets re-MERGE — the third mergeable-partial-state
  * family a 100 TB incremental-analytics deployment keeps next to its
  * data (q255 is the consumer; q134/q224/q236's derived histograms are
  * the one-shot form this ledger amortizes).
  *
  * Determinism contract (weaker than HLL's, by the sketch's nature):
  * KLL compaction is randomized, so serialized bytes AND estimates may
  * vary across aggregation orders — within the k=200 ~1.65% normalized
  * rank error. Consumers therefore bound estimates against exact values
  * with a ≥6x-margin tolerance (q255's `ledger_ok`), and the spec pins
  * union-of-days against the direct range sketch at the RANK level.
  *
  * Storage discipline is [[HllStore]]'s: both are instances of the
  * shared [[DaySketchLedger]] (on the [[VersionedStore]] core), and this
  * object supplies only the sketch.
  */
object KllStore extends DaySketchLedger("KLL", "value") {

  /** The sketch accuracy parameter every ledger in the suite uses. */
  val K = 200

  type KllStoreStats = DayLedgerStats

  /** The per-day sketch of the attributed e2-quantized event value. */
  protected def aggregate: Column = graft.functions.GraftFunctions.kll_sketch_agg(
    expr("CAST(CAST(floor(value * 100 + 0.5) AS BIGINT) AS DOUBLE)"), K)
}
