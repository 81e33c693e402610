package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Persistent per-day HLL sketch ledger — the MERGEABLE-AGGREGATE store a
  * 100 TB analytics deployment keeps so "distinct users over any date
  * range" never re-scans raw events: one Apache DataSketches HLL sketch
  * per epoch day (Spark's `hll_sketch_agg` family, the public
  * `datasketches-java` wire format), unioned at read time with
  * `hll_union_agg` over exactly the days a query asks for. The sketch is
  * the only aggregate in the suite whose PARTIAL STATE is the stored
  * artifact — counts (FreqStore) re-add, HLL registers re-MAX, which is
  * what makes a day ledger answer arbitrary windows without a raw pass.
  *
  * Determinism contract: an HLL sketch's REGISTER/COUPON SET is a pure
  * function of the hashed value set (updates are max/set-union —
  * insertion- and merge-order-independent), so every ESTIMATE read off
  * this store is deterministic for a given day's user set even though
  * the serialized byte layout may vary with aggregation order. Consumers
  * therefore compare estimates, never sketch bytes (HllStoreSpec pins
  * union-of-days ≡ direct-sketch-of-range at the estimate level).
  *
  * Storage, appends of whole new days, compaction and the corpus
  * provenance check are the shared [[DaySketchLedger]]'s (on the
  * [[VersionedStore]] core); this object supplies only the sketch.
  */
object HllStore extends DaySketchLedger("HLL", "user_id") {

  type HllStoreStats = DayLedgerStats

  /** The per-day sketch of the attributed user set. */
  protected def aggregate: Column = hll_sketch_agg(col("user_id"))
}
