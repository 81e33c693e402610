package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.B — the linz/geostore data-lake semantics, Spark-first.
  *
  * Mapping (SURVEY §4): `documents.source` ≡ dataset id, documents ≡ the
  * dataset's assets, `events` ≡ the version/status log. Each operator cites
  * the reference module whose behavior it re-expresses.
  */
object Lake extends QueryModule {

  private def ts(s: String) = to_timestamp(lit(s))

  /** Dataset catalog listing w/ stats — reference `datasets/list.py` +
    * `datasets_model.py` (title-indexed scan). A pure partial-agg groupBy:
    * shuffles |datasets| rows, never the asset rows.
    */
  private def q21(t: Tables): DataFrame =
    t.documents
      .groupBy(col("source").as("dataset_id"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("n_chars")).as("total_bytes"),
        min(col("doc_id")).as("first_asset"),
        max(col("doc_id")).as("last_asset"))
      .orderBy(col("dataset_id"))

  /** `current_dataset_version` pointer — reference
    * `dataset_versions/create.py:datasets_model` (latest ULID wins). ULID
    * time-ordering ≡ (ts, event_id) ordering here; argmax via row_number
    * so ties resolve deterministically.
    */
  private def q22(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    t.events
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("user_id").as("dataset_id"),
        col("event_id").as("current_version"),
        unix_micros(col("ts")).as("created_us"))
      .orderBy(col("dataset_id"))
  }

  /** Multihash checksum verification — reference
    * `check_files_checksums/utils.py:27` (get_multihash_digest dispatches
    * on the multihash prefix byte: 0x12 ⇒ sha2-256, 0x13 ⇒ sha2-512) +
    * `utils.py:89-110` (validate_url_multihash). Expected multihashes are
    * synthesized per asset (`1220`+sha256 / `1340`+sha512, alternating by
    * doc_id, deterministic corruption at doc_id % 25 == 0 so both match
    * and mismatch paths execute on both algorithms); verification decodes
    * the prefix and computes the dispatched digest. Both hashes run
    * codegen'd (sha2) next to the scan — no shuffle at all. The driver's
    * DuckDB has no sha512, so the oracle checks sha256 digests exactly and
    * the sha512 branch structurally (prefix, algo, digest length, valid);
    * `LakeSpec` pins Spark's sha2(·,512) to java.security.MessageDigest.
    */
  private def q23(t: Tables): DataFrame = {
    val body = when(col("doc_id") % 25 === 0, concat(col("text"), lit("X"))).otherwise(col("text"))
    val base = t.documents.select(
      col("doc_id"),
      col("text"),
      when(col("doc_id") % 2 === 0, concat(lit("1220"), sha2(body, 256)))
        .otherwise(concat(lit("1340"), sha2(body, 512)))
        .as("expected"))
    base
      .withColumn(
        "computed",
        when(substring(col("expected"), 1, 2) === "12", concat(lit("1220"), sha2(col("text"), 256)))
          .when(substring(col("expected"), 1, 2) === "13", concat(lit("1340"), sha2(col("text"), 512))))
      .select(
        col("doc_id"),
        when(substring(col("expected"), 1, 2) === "12", lit("sha2-256"))
          .otherwise(lit("sha2-512"))
          .as("algo"),
        when(substring(col("expected"), 1, 2) === "12", col("computed")).as("digest256"),
        length(col("computed")).as("multihash_len"),
        (col("computed") === col("expected")).as("valid"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-size batch assignment — reference `content_iterator/task.py:9`
    * (MAX_ITERATION_SIZE pagination). One shuffle on dataset_id; batch ids
    * derived with integer math (never a double).
    */
  /** Merkle manifest root per dataset with tamper localization (Merkle
    * 1988; the fanout-tree form is what object stores ship as multipart
    * "ETag of ETags" and what transparency logs use for subtree proofs)
    * — the VERSION-level integrity fingerprint the reference keeps
    * per-file multihashes for (reference `import_dataset` checksums each
    * asset; this rolls them into one root so two dataset versions
    * compare by ONE string, and a mismatch localizes to the differing
    * fanout group without re-hashing the payload bytes): per dataset
    * (source), assets, level-1 group count, the Merkle root over asset
    * md5 leaves, and — against a planted doc_id%97 payload flip — the
    * count of level-1 groups whose subtree hash moved plus the
    * root-level detection verdict.
    *
    * Tree shape: fixed THREE levels of fanout 32 (32³ = 32k
    * assets/dataset; a fanout of 1024 gives 10⁹) — plan-static depth, no
    * data-dependent iteration. Every node
    * hash is md5 of the ordered concat of its children via listagg
    * WITHIN GROUP (the repo's pinned merge-order-independent ordered
    * aggregation — an unordered distributed concat could never pass a
    * hash-exact oracle). ONE corpus-scale exchange (the level-1 group
    * rollup, printing on the pristine and tamper-census branches);
    * levels 2/3 and the census are group-domain-bounded.
    */
  private def q278(t: Tables): DataFrame = {
    val fanout = 32
    val leaves = t.documents.select(
      col("source"), col("doc_id"),
      md5(col("text")).as("h"),
      md5(when(col("doc_id") % 97 === 0, concat(col("text"), lit("X")))
        .otherwise(col("text"))).as("ht"))
    val l1 = leaves
      .withColumn("g", expr(s"doc_id DIV $fanout"))
      .groupBy(col("source"), col("g"))
      .agg(
        expr("md5(listagg(h, '') WITHIN GROUP (ORDER BY doc_id))").as("h1"),
        expr("md5(listagg(ht, '') WITHIN GROUP (ORDER BY doc_id))").as("h1t"),
        count(lit(1)).as("n"))
    val l2 = l1
      .withColumn("g2", expr(s"g DIV $fanout"))
      .groupBy(col("source"), col("g2"))
      .agg(
        expr("md5(listagg(h1, '') WITHIN GROUP (ORDER BY g))").as("h2"),
        expr("md5(listagg(h1t, '') WITHIN GROUP (ORDER BY g))").as("h2t"),
        sum(col("n")).as("n"), count(lit(1)).as("ng"))
    val root = l2.groupBy(col("source"))
      .agg(
        expr("md5(listagg(h2, '') WITHIN GROUP (ORDER BY g2))").as("root"),
        expr("md5(listagg(h2t, '') WITHIN GROUP (ORDER BY g2))").as("root_t"),
        sum(col("n")).as("n_assets"), sum(col("ng")).as("n_groups"))
    val census = l1.groupBy(col("source"))
      .agg(sum(when(col("h1") =!= col("h1t"), 1L).otherwise(0L)).as("tampered_groups"))
    root.join(census, Seq("source"))
      .select(col("source"), col("n_assets"), col("n_groups"), col("root"),
        col("tampered_groups"), (col("root") =!= col("root_t")).as("tamper_detected"))
      .orderBy(col("source"))
  }

  private def q24(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    t.documents
      .select(col("source"), col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_id", expr("CAST((rn - 1) div 25 AS BIGINT)"))
      .groupBy(col("source").as("dataset_id"), col("batch_id"))
      .agg(count(lit(1)).as("n_items"), min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("dataset_id"), col("batch_id"))
  }

  /** Validation summary rollup — reference `validation_summary/task.py`
    * (success = no check failed). bool_and is a partial-aggregable
    * reduction, so the rollup is one narrow shuffle.
    */
  /** Per-batch validation progress (r16 wave 4 — reference
    * `content_iterator/task.py` hands q24's fixed-size batches to the
    * checksum fleet and `import_status/get.py` reports on them; this is
    * the per-BATCH reconciliation between the two: the progress table a
    * step-function console shows mid-import): per (dataset, batch), the
    * item count, how many passed the REAL multihash verification (q23's
    * sha2-256/512 compare, not a re-derivation of the corruption
    * model), the failure count, the first failing asset (the retry
    * cursor), and VALIDATED/FAILED. Corpus-probed: 4 of 20 batches fail
    * at sf0.01, 40 of 200 at sf0.1 — both verdicts populated.
    *
    * Scale shape: checksum work is map-side next to the scan; the batch
    * assignment is q24's source-partitioned row_number window (one
    * shuffle); the rollup reuses the (source, batch) keys.
    */
  private def q201(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val body = when(col("doc_id") % 25 === 0, concat(col("text"), lit("X"))).otherwise(col("text"))
    t.documents
      .select(
        col("source"), col("doc_id"), col("text"),
        when(col("doc_id") % 2 === 0, concat(lit("1220"), sha2(body, 256)))
          .otherwise(concat(lit("1340"), sha2(body, 512)))
          .as("expected"))
      .withColumn(
        "computed",
        when(col("doc_id") % 2 === 0, concat(lit("1220"), sha2(col("text"), 256)))
          .otherwise(concat(lit("1340"), sha2(col("text"), 512))))
      .withColumn("valid", col("computed") === col("expected"))
      .withColumn("rn", row_number().over(w))
      .withColumn("batch_id", expr("CAST((rn - 1) div 25 AS BIGINT)"))
      .groupBy(col("source").as("dataset_id"), col("batch_id"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("valid").cast("long")).as("n_valid"),
        sum((!col("valid")).cast("long")).as("n_failed"),
        min(when(!col("valid"), col("doc_id"))).as("first_failed_doc"))
      .withColumn(
        "batch_status",
        when(col("n_failed") === 0L, lit("VALIDATED")).otherwise(lit("FAILED")))
      .orderBy(col("dataset_id"), col("batch_id"))
  }

  private def q25(t: Tables): DataFrame =
    t.documents
      .groupBy(col("source").as("dataset_id"))
      .agg(
        expr("bool_and(n_chars = length(text))").as("sizes_ok"),
        expr("bool_and(n_chars >= 60)").as("min_size_ok"),
        sum(when(col("n_chars") < 60, 1L).otherwise(0L)).as("n_too_small"),
        count(lit(1)).as("n_checked"))
      .orderBy(col("dataset_id"))

  /** Import manifest generation — reference `import_dataset/task.py`
    * (S3 batch-copy manifest rows, source key → target key). Pure
    * projection: stays in one codegen stage with the scan.
    */
  private def q26(t: Tables): DataFrame =
    t.documents
      .select(
        col("doc_id"),
        concat(lit("s3://src-bucket/"), col("source"), lit("/"), col("doc_id").cast("string"))
          .as("source_key"),
        concat(lit("datasets/"), col("source"), lit("/"), col("doc_id").cast("string"), lit(".json"))
          .as("target_key"),
        col("n_chars").as("size"))
      .orderBy(col("doc_id"))

  /** Catalog-tree fan-out profile (r16 — the capacity readout over
    * q27's three fixed levels; reference `check_stac_metadata/utils.py`
    * again, but the PLANNING view: the walker's frontier at depth d+1 is
    * exactly this table's fan-out row, and at lake scale the per-level
    * skew decides whether a traversal partitions by parent or needs a
    * salt). Per child level: parents (childless included), children,
    * min/max fan-out, mean fan-out (e2 half-up), the max-to-mean skew
    * (e4 — q182's multiplicity-skew number on the tree axis), and how
    * many parents have no children at all (dead catalog branches — the
    * rows a retention GC (q85) or catalog merge (q58) should prune).
    *
    * Scale shape: one fact-scale partial-aggregable count per level
    * (customer collapses onto ≤|nation| keys map-side); the childless
    * outer join and both rollups are dim-scale; the final table is one
    * row per level. All-integer; the two ratio divisions are half-up.
    */
  private def q192(t: Tables): DataFrame = {
    def level(depth: Int, parents: DataFrame, childKeys: DataFrame): DataFrame = {
      val fan = childKeys.groupBy(col("pid")).agg(count(lit(1)).as("fan"))
      parents
        .join(fan, Seq("pid"), "left")
        .na.fill(0L, Seq("fan"))
        .agg(
          count(lit(1)).as("n_parents"),
          sum(col("fan")).as("n_children"),
          min(col("fan")).as("min_fanout"),
          max(col("fan")).as("max_fanout"),
          expr("(2 * 100 * sum(fan) + count(1)) DIV (2 * count(1))").as("mean_fanout_e2"),
          expr("(2 * 10000 * max(fan) * count(1) + sum(fan)) DIV (2 * sum(fan))")
            .as("skew_e4"),
          sum(when(col("fan") === 0L, 1L).otherwise(0L)).as("n_childless"))
        .select(lit(depth).as("child_depth"), col("*"))
    }
    level(
      1,
      t.region.select(col("r_regionkey").cast("long").as("pid")),
      t.nation.select(col("n_regionkey").cast("long").as("pid")))
      .unionAll(level(
        2,
        t.nation.select(col("n_nationkey").cast("long").as("pid")),
        t.customer.select(col("c_nationkey").cast("long").as("pid"))))
      .orderBy(col("child_depth"))
  }

  /** Catalog tree walk — reference `check_stac_metadata/utils.py`
    * (catalog→collection→item traversal w/ depth). The fixed-depth STAC
    * hierarchy maps to level-wise joins unioned with depth labels; dims
    * broadcast so each level is shuffle-free.
    */
  private def q27(t: Tables): DataFrame = {
    val roots = t.region.select(
      lit(0).as("depth"),
      col("r_regionkey").cast("long").as("node_id"),
      col("r_name").as("name"),
      lit(null).cast("long").as("parent_id"))
    val collections = t.nation
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .select(
        lit(1).as("depth"),
        col("n_nationkey").cast("long").as("node_id"),
        col("n_name").as("name"),
        col("r_regionkey").cast("long").as("parent_id"))
    val items = t.customer
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        lit(2).as("depth"),
        col("c_custkey").as("node_id"),
        col("c_name").as("name"),
        col("n_nationkey").cast("long").as("parent_id"))
    roots.unionAll(collections).unionAll(items).orderBy(col("depth"), col("node_id"))
  }

  /** Per-dataset asset inventory — reference `processing_assets_model.py`
    * (asset counts/sizes by type).
    */
  private def q28(t: Tables): DataFrame =
    t.documents
      .groupBy(col("source").as("dataset_id"), col("lang").as("asset_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_chars")).as("bytes"),
        round(avg(col("n_chars")), 2).as("avg_bytes"))
      .orderBy(col("dataset_id"), col("asset_type"))

  /** Version diff — reference `dataset_versions/` + `import_dataset/`
    * (assets added/removed between consecutive versions). Set differences
    * as anti-join EXCEPTs, labeled and unioned.
    */
  private def q29(t: Tables): DataFrame = {
    // one scan + one shuffle: membership in each version is a per-key max
    // over presence flags (partial-aggregable), then the diff is a flag
    // comparison — the anti-join formulation scanned orders twice and
    // shuffled the distinct sets two more times; the oracle deliberately
    // keeps the EXCEPT form as an independent derivation of the same set
    t.orders
      .filter(
        col("o_orderdate") >= ts("1996-01-01 00:00:00") &&
          col("o_orderdate") < ts("1998-01-01 00:00:00"))
      .groupBy(col("o_custkey").as("custkey"))
      .agg(
        max(when(col("o_orderdate") < ts("1997-01-01 00:00:00"), 1).otherwise(0)).as("in_v1"),
        max(when(col("o_orderdate") >= ts("1997-01-01 00:00:00"), 1).otherwise(0)).as("in_v2"))
      .withColumn(
        "change",
        when(col("in_v2") === 1 && col("in_v1") === 0, "added")
          .when(col("in_v1") === 1 && col("in_v2") === 0, "removed"))
      .filter(col("change").isNotNull)
      .select(col("change"), col("custkey"))
      .orderBy(col("change"), col("custkey"))
  }

  /** Import status join — reference `import_status/get.py` +
    * `upload_status/` (one status row per dataset version from step
    * state + validation + upload counters). The three aspects derive from
    * the version log: latest step state (argmax), error counts, and
    * asset-upload progress — joined on the dataset key, dims broadcast.
    */
  private def q57(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    val stepState = t.events
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id").as("dataset_id"), col("event_type").as("step_state"))
    val counters = t.events
      .groupBy(col("user_id").as("dataset_id"))
      .agg(
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_errors"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_uploads"),
        count(lit(1)).as("n_events"))
    counters
      .join(stepState, Seq("dataset_id"))
      .withColumn(
        "status",
        // rate, not count: a count threshold would flip with scale factor
        when(col("n_errors") > col("n_events") * 0.2, "FAILED")
          .when(col("step_state") === "purchase", "COMPLETE")
          .otherwise("IN_PROGRESS"))
      .select(col("dataset_id"), col("step_state"), col("n_errors"), col("n_uploads"),
        col("n_events"), col("status"))
      .orderBy(col("dataset_id"))
  }

  /** Root-catalog merge — reference `populate_catalog/task.py` (add child
    * links for new datasets, keep existing, no duplicates). Existing =
    * catalog rows already linked; incoming = current dataset listing;
    * merge = union-distinct with a provenance flag (append-if-absent).
    */
  private def q58(t: Tables): DataFrame = {
    val existing = t.documents
      .filter(col("source").like("src1%"))
      .select(col("source").as("child_id"))
      .distinct()
    val incoming = t.documents.select(col("source").as("child_id")).distinct()
    existing
      .withColumn("provenance", lit("existing"))
      .unionAll(
        incoming.join(existing, Seq("child_id"), "left_anti").withColumn("provenance", lit("added")))
      .orderBy(col("child_id"))
  }

  /** STAC-document schema validation — reference
    * `check_stac_metadata/stac_validators.py` (jsonschema checks per
    * document: required property present, typed, in range). Runs as pure
    * JSON-path expressions next to the scan; per-type failure-class
    * counts roll up map-side (the validation_results shape).
    */
  private def q66(t: Tables): DataFrame =
    t.events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("k").isNotNull && col("k") >= 80, 1L).otherwise(0L)).as("n_out_of_range"),
        sum(when(col("k").isNotNull && col("k") < 80, 1L).otherwise(0L)).as("n_valid"))
      .orderBy(col("event_type"))

  // ---------------------------------------------------------------------
  // q87/q88 — Draft7-fidelity STAC validation, schema-as-data.
  //
  // Reference `check_stac_metadata/stac_validators.py:1-103` validates each
  // metadata document with a jsonschema Draft7Validator over the published
  // STAC/LINZ schemas. A Draft7 schema is itself data — a set of
  // (field, keyword, argument) constraints — so the Spark-first rendering
  // is a RULES RELATION evaluated against every document, not hand-rolled
  // per-field code: adding a schema row changes validation without a
  // recompile, exactly like dropping a new schema.json into the store.
  // Rule rows below carry the STAC 1.0.0 catalog/item-spec keywords the
  // reference resolves (required/enum on stac_version & type, the
  // datetime format, numeric gsd ≥ minimum, id pattern).
  //
  // The document corpus is synthesized deterministically from `documents`
  // via ONE shared SQL fragment rendered into both engines (same trick as
  // q42's bucket layout), so the oracle parses byte-identical JSON.

  /** One validation rule row. `enum` args are
    * '|'-separated; `pattern` is anchored, backslash-free regex (identical
    * dialect subset in Spark and DuckDB); '' = keyword takes no argument.
    * `items_pattern` is the nested-array keyword class (Draft7 `items` +
    * `pattern` composed): field carries a `#` placeholder for the array
    * index (`links[#].href` = every element's href must match the arg
    * regex); the check validates EVERY element of the array (full Draft7
    * `items` semantics — see `itemsOf`), with no probe bound.
    *
    * `format` is the Draft7 format checker the reference attaches to its
    * validators (`stac_validators.py:88-89`: `FormatChecker()`), going
    * beyond what a `pattern` rule can say — arg names the format:
    * `date-time` = RFC3339 UTC shape AND a real calendar check (a
    * shape-perfect Feb 30 fails, which no regex can decide); `uri` =
    * scheme://non-space. Absent fields pass vacuously like every
    * value keyword.
    *
    * `contains` is Draft7's array-existential applicator: field takes the
    * same `<array>[#].<path>` form as `items_pattern`, and the doc passes
    * iff AT LEAST ONE element's value matches the arg regex. An empty
    * array fails (Draft7: `contains` over `[]` is invalid); a missing or
    * non-array property is vacuous, exactly like `items`.
    *
    * `one_of` / `any_of` / `all_of` / `not` (field unused) are the
    * COMPOSITE branch keywords, Draft7's applicators — arg names groups of
    * leaf rule ids ('|' between branches, ',' within; see
    * `stacViolations`): the doc passes iff exactly one / at least one /
    * every / NO branch is fully satisfied (`not` inverts its subschema:
    * `not` over a branch {required: x} forbids x).
    *
    * `no_dup_keys` (field and arg unused) flags documents whose JSON
    * repeats a key within one object scope at ANY nesting depth (array
    * elements are index-disambiguated) — the reference rejects these at
    * parse time via an `object_pairs_hook` walking every object
    * (`check_stac_metadata/utils.py:297-314`,
    * `report_duplicate_object_names`), because `json.load`, like every
    * JSON-path extractor, silently keeps only one of the pair. The
    * check rides the native `json_key_paths` kernel (one streaming
    * Jackson pass per doc). Malformed and non-object docs are NOT this
    * rule's concern (that's the parse check) and pass it vacuously.
    *
    * `additional_properties` is Draft7's CLOSED-OBJECT keyword
    * (`additionalProperties: false` with an enumerated `properties` set —
    * the reference's Draft7Validator enforces whatever the schema says,
    * closed objects included, `check_stac_metadata/stac_validators.py:
    * 90-103`): `field` names the object scope ('' = the document root),
    * `arg` the '|'-separated allowed key set, and the doc fails iff ANY
    * key sits DIRECTLY under that scope without being in the set. Keys
    * come from the same native `json_key_paths` kernel as `no_dup_keys`
    * (one streaming Jackson pass; a direct child of scope S is a path
    * `S.<key>` whose remainder holds no further '.'/'[' — so nested and
    * array-element keys never leak into an outer scope's check).
    * Malformed/non-object docs pass vacuously (the parse check's
    * concern). Known limit: a key literally containing '.'/'[' arrives
    * path-escaped and is treated as non-direct (never falsely flagged);
    * such keys can't collide with legal STAC names.
    *
    * `property_names` is Draft7's other open-key keyword: same scope
    * semantics, but `arg` is a regex every direct-child key NAME must
    * match (jsonschema's `propertyNames: {pattern: …}`) — the same
    * anchored backslash-free dialect as the `pattern` keyword.
    *
    * `appliesTo` TYPE-SCOPES the rule — the Spark rendering of the
    * reference's per-type validator selection (`check_stac_metadata/
    * stac_validators.py:90-103` composes a distinct validator for Catalog
    * / Collection / Item and `utils.py:191` dispatches on the document's
    * `type`): a '|'-separated list of `type` values the rule validates,
    * '' = every document. A doc outside the rule's scope (including one
    * with no `type` at all) is never flagged by it.
    */
  private[graft] final case class Rule(
      id: Int, field: String, kind: String, arg: String, appliesTo: String = "")

  /** The built-in STAC 1.0.0 rows, type-scoped the way the reference's
    * schemas are: `description` is required by the catalog-spec and
    * collection-spec (not the item-spec); `datetime` and `gsd` live in the
    * item-spec's `properties`. Core `id`/`stac_version`/`type`/link
    * keywords are common to all three composed validators.
    */
  private val stacRules: Seq[Rule] = Seq(
    Rule(1, "id", "required", ""),
    Rule(2, "id", "pattern", "^item-[0-9]+$"),
    Rule(3, "stac_version", "required", ""),
    Rule(4, "stac_version", "enum", "1.0.0|0.9.0"),
    Rule(5, "type", "enum", "Catalog|Collection|Feature"),
    Rule(6, "description", "required", "", appliesTo = "Catalog|Collection"),
    Rule(7, "properties.datetime", "pattern",
      "^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}Z$",
      appliesTo = "Feature"),
    Rule(8, "properties.gsd", "type_number", "", appliesTo = "Feature"),
    Rule(9, "properties.gsd", "minimum", "10", appliesTo = "Feature"),
    Rule(10, "links[#].href", "items_pattern",
      "^https://data[.]example[.]com/[0-9]+/[a-z]$"),
    Rule(11, "", "no_dup_keys", ""),
    Rule(12, "properties.datetime", "format", "date-time", appliesTo = "Feature"),
    // Draft7 `contains`: the links array (when present) must hold at least
    // one canonical-host /b link — fails exactly the %43 insecure-mirror
    // stride (its only /b link is http) and the Draft7 empty-array case
    Rule(13, "links[#].href", "contains", "^https://data[.]example[.]com/[0-9]+/b$"),
    // Draft7 closed root object: the %47 stride's injected "extra" key is
    // outside the core STAC key set — the open-key-set keyword the r10
    // survey deferred, now riding the same json_key_paths explode
    Rule(14, "", "additional_properties",
      "id|stac_version|type|description|links|properties"),
    // Draft7 propertyNames: every root key must MATCH the name regex —
    // the regex rendering of the same closed-key demand (fails the %47
    // stride's "extra" through the other open-key dispatch arm)
    Rule(15, "", "property_names",
      "^(id|stac_version|type|description|links|properties)$"))

  private[graft] val knownKinds =
    Set("required", "enum", "type_number", "pattern", "minimum", "items_pattern",
      "no_dup_keys", "one_of", "any_of", "all_of", "format", "contains", "not",
      "min_items", "min_length", "max_length", "additional_properties",
      "property_names")

  private[graft] val compositeKinds = Set("one_of", "any_of", "all_of", "not")

  private[graft] val knownFormats = Set("date-time", "uri")

  /** The validation rules RELATION — by default the built-in STAC 1.0.0
    * rows above, but overridable at RUNTIME via `graft.stac.rulesPath`
    * (a parquet or JSON-lines file of (rule_id, field, kind, arg) rows):
    * the Spark rendering of the reference's drop-a-schema-file workflow
    * (`check_stac_metadata/stac_validators.py:45-103` registers schema
    * FILES in a FileObjectStore — new rules are data, never a deploy).
    *
    * A rule of kind `ref` composes rule stores the way the reference's
    * `RefResolver` composes schema files (`stac_validators.py:1-60`: a
    * Draft7Validator over a directory where one schema `$ref`s another,
    * resolved locally): its `arg` names ANOTHER rules file whose rows
    * splice in at that point, resolved recursively at load time (relative
    * `arg`s resolve against the including file's directory; include cycles
    * and duplicate rule_ids across the closure fail loudly).
    *
    * Rules are schema-scale metadata (tens of rows), so they load on the
    * driver at plan-build time and compile into literal JSON-path
    * expressions — the rules file changes the PLAN, not a join side, and
    * the per-document work stays one codegen'd map-side stage.
    */
  private[graft] def loadRules(spark: SparkSession): Seq[Rule] = {
    val path = spark.conf.get("graft.stac.rulesPath", "")
    if (path.isEmpty) stacRules
    else {
      val rules = loadRulesFile(spark, new org.apache.hadoop.fs.Path(path), Set.empty)
      val dups = rules.groupBy(_.id).collect { case (id, rs) if rs.size > 1 => id }
      require(dups.isEmpty,
        s"graft.stac.rulesPath=$path: duplicate rule_id(s) after ref resolution: ${dups.toSeq.sorted.mkString(",")}")
      require(rules.length <= 10000,
        s"graft.stac.rulesPath=$path resolves to ${rules.length} rules, max 10000")
      rules.sortBy(_.id)
    }
  }

  private def loadRulesFile(
      spark: SparkSession,
      p: org.apache.hadoop.fs.Path,
      visiting: Set[String]): Seq[Rule] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val canonical = fs.makeQualified(p)
    require(!visiting(canonical.toString),
      s"rules ref cycle: $canonical is already on the include path ${visiting.mkString(" -> ")}")
    val path = canonical.toString
    // applies_to is OPTIONAL in the file (4-column stores predate it):
    // absent column or null cell defaults to '' = rule applies to all types
    val raw =
      if (path.endsWith(".json") || path.endsWith(".jsonl"))
        spark.read
          .schema("rule_id INT, field STRING, kind STRING, arg STRING, applies_to STRING")
          .json(path)
      else {
        val pq = spark.read.parquet(path)
        val applies =
          if (pq.columns.contains("applies_to")) col("applies_to") else lit(null).cast("string")
        pq.select(
          col("rule_id").cast("int").as("rule_id"),
          col("field"), col("kind"), col("arg"), applies.as("applies_to"))
      }
    val df = raw.withColumn("applies_to", coalesce(col("applies_to"), lit("")))
    // metadata-scale: a schema store, not a data table — the fetch stops
    // one row past the bound, so an oversized file fails without being
    // materialized on the driver
    val rows = df.limit(10001).collect()
    require(rows.nonEmpty && rows.length <= 10000,
      s"rules file $path must hold 1..10000 rules, got ${if (rows.isEmpty) "none" else "more than 10000"}")
    rows.toSeq.flatMap { r =>
      require(!r.anyNull, s"rules file $path has a null rule column")
      val rule = Rule(r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))
      rule.kind match {
        case "ref" =>
          val target = new org.apache.hadoop.fs.Path(rule.arg)
          val resolved = if (target.isAbsolute) target
            else new org.apache.hadoop.fs.Path(canonical.getParent, rule.arg)
          loadRulesFile(spark, resolved, visiting + canonical.toString)
        case kind =>
          require(knownKinds(kind), s"rule ${rule.id}: unknown Draft7 keyword kind '$kind'")
          Seq(rule)
      }
    }
  }

  /** STAC-item-ish JSON per document row, with every failure class the
    * rules can flag injected on deterministic doc_id strides (missing id,
    * bad pattern, wrong version, invalid type enum, absent description,
    * malformed datetime, string-typed / below-minimum gsd, a links array
    * with a non-conforming href, docs with no links array at all —
    * the absent-field skip path of the `items_pattern` keyword — and a
    * duplicated top-level key on the %47 stride, duplicating a key no
    * OTHER rule extracts so the engines' first-vs-last duplicate-pick
    * behavior can never skew a value check).
    */
  private[graft] val stacDocJson: String =
    """'{' ||
      |CASE WHEN doc_id % 47 = 0 THEN '"extra":1,"extra":2,' ELSE '' END ||
      |CASE WHEN doc_id % 23 = 0 THEN ''
      |     ELSE '"id":"' || CASE WHEN doc_id % 11 = 0 THEN 'Item_' ELSE 'item-' END || doc_id || '",' END ||
      |CASE WHEN doc_id % 41 = 0 THEN ''
      |     ELSE '"stac_version":"' || CASE WHEN doc_id % 7 = 0 THEN '2.0-beta' ELSE '1.0.0' END || '",' END ||
      |'"type":"' || CASE WHEN doc_id % 13 = 0 THEN 'Item'
      |              WHEN doc_id % 3 = 0 THEN 'Catalog'
      |              WHEN doc_id % 3 = 1 THEN 'Collection'
      |              ELSE 'Feature' END || '",' ||
      |CASE WHEN doc_id % 5 = 0 THEN '' ELSE '"description":"asset ' || doc_id || '",' END ||
      |CASE WHEN doc_id % 53 = 0 THEN ''
      |     ELSE '"links":[{"href":"https://data.example.com/' || doc_id || '/a"},{"href":"' ||
      |          CASE WHEN doc_id % 43 = 0 THEN 'http://insecure.example.org/'
      |               ELSE 'https://data.example.com/' END || doc_id || '/b"}],' END ||
      |'"properties":{"datetime":"' ||
      |CASE WHEN doc_id % 17 = 0 THEN '2024-13-99'
      |     ELSE '2024-01-' || lpad('' || (doc_id % 28 + 1), 2, '0') || 'T00:00:00Z' END ||
      |'","gsd":' ||
      |CASE WHEN doc_id % 19 = 0 THEN '"high"'
      |     WHEN doc_id % 29 = 0 THEN '-5'
      |     ELSE '' || (doc_id % 97) END ||
      |'}}'""".stripMargin

  /** Draft7 keyword dispatch over (kind, arg, v=extracted scalar value,
    * items=extracted array values). Keywords are independent (a null value
    * only fails `required`, matching jsonschema: absent fields skip
    * type/enum/pattern/minimum checks; an absent or non-array `items`
    * renders NULL/empty and skips the same way — Draft7 `items` is vacuous
    * over a missing or non-array property, and a null ELEMENT — an array
    * entry missing the sub-field — is vacuous for that element).
    * `rlikePredicate` / `anyItemFails` abstract the two engine
    * differences: RLIKE vs regexp_matches, and the any-element-fails
    * lambda over the FULL extracted `items` array (Spark `exists` vs
    * DuckDB `list_filter`; both may reference the outer `arg` column).
    *
    * The outer CASE is the TYPE-SCOPE gate (see [[Rule.appliesTo]]): a
    * non-'' `applies_to` only fires on docs whose `doc_type` is in its
    * '|'-list — the reference's dispatch of each document to its own
    * type's composed validator. Shared verbatim by both engines, so the
    * oracle scope-checks identically.
    */
  /** The `format` keyword's violated predicate, parameterized on the
    * engine's literal-regex matcher (`v RLIKE '<pat>'` vs
    * `regexp_matches(v, '<pat>')`). `date-time` composes the RFC3339 UTC
    * shape with TRY_CAST's calendar validation (both engines null out
    * impossible dates like Feb 30); the shape check runs first so
    * cast-leniency (date-only strings parse in both engines) can't leak
    * through. Patterns stay in the backslash-free dialect both engines'
    * string literals pass through unescaped.
    */
  private def formatViolatedSql(matches: String => String): String = {
    val dateTimeShape =
      "^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2}([.][0-9]+)?Z$"
    val uriShape = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^ ]+$"
    s"""CASE arg
       |  WHEN 'date-time' THEN NOT (${matches(dateTimeShape)})
       |    OR TRY_CAST(v AS TIMESTAMP) IS NULL
       |  WHEN 'uri' THEN NOT (${matches(uriShape)})
       |  ELSE false END""".stripMargin
  }

  private def stacDispatch(
      rlikePredicate: String, anyItemFails: String, anyItemMatches: String,
      hasDupKeys: String, formatViolated: String, hasExtraKeys: String,
      hasBadKeyNames: String): String =
    s"""CASE
       | WHEN applies_to <> '' AND (doc_type IS NULL
       |   OR instr('|' || applies_to || '|', '|' || doc_type || '|') = 0) THEN 0
       | ELSE CASE kind
       |  WHEN 'required' THEN CASE WHEN v IS NULL THEN 1 ELSE 0 END
       |  WHEN 'enum' THEN CASE WHEN v IS NOT NULL
       |    AND instr('|' || arg || '|', '|' || v || '|') = 0 THEN 1 ELSE 0 END
       |  WHEN 'type_number' THEN CASE WHEN v IS NOT NULL
       |    AND TRY_CAST(v AS DOUBLE) IS NULL THEN 1 ELSE 0 END
       |  WHEN 'pattern' THEN CASE WHEN v IS NOT NULL
       |    AND NOT ($rlikePredicate) THEN 1 ELSE 0 END
       |  WHEN 'minimum' THEN CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL
       |    AND TRY_CAST(v AS DOUBLE) < CAST(arg AS DOUBLE) THEN 1 ELSE 0 END
       |  WHEN 'min_items' THEN CASE WHEN json_array_length(v) IS NOT NULL
       |    AND json_array_length(v) < CAST(arg AS BIGINT) THEN 1 ELSE 0 END
       |  WHEN 'min_length' THEN CASE WHEN v IS NOT NULL
       |    AND length(v) < CAST(arg AS BIGINT) THEN 1 ELSE 0 END
       |  WHEN 'max_length' THEN CASE WHEN v IS NOT NULL
       |    AND length(v) > CAST(arg AS BIGINT) THEN 1 ELSE 0 END
       |  WHEN 'items_pattern' THEN CASE WHEN items IS NOT NULL
       |    AND ($anyItemFails) THEN 1 ELSE 0 END
       |  WHEN 'contains' THEN CASE WHEN items IS NOT NULL
       |    AND NOT ($anyItemMatches) THEN 1 ELSE 0 END
       |  WHEN 'no_dup_keys' THEN CASE WHEN items IS NOT NULL
       |    AND ($hasDupKeys) THEN 1 ELSE 0 END
       |  WHEN 'additional_properties' THEN CASE WHEN items IS NOT NULL
       |    AND ($hasExtraKeys) THEN 1 ELSE 0 END
       |  WHEN 'property_names' THEN CASE WHEN items IS NOT NULL
       |    AND ($hasBadKeyNames) THEN 1 ELSE 0 END
       |  WHEN 'format' THEN CASE WHEN v IS NOT NULL
       |    AND ($formatViolated) THEN 1 ELSE 0 END
       |  ELSE 0 END
       |END""".stripMargin

  /** Full-array element extraction for an `items_pattern` rule whose field
    * is `<array>[#].<path>` (e.g. `links[#].href`): parse the WHOLE array
    * with `from_json` and project each element's sub-path, so validation
    * covers EVERY element (Draft7 `items` semantics — a bad href at index
    * 40 fails just like index 0) and element values are never round-tripped
    * through a joined scalar (a legal ';' or any other character in the
    * value cannot split or merge elements). Still one codegen'd map-side
    * expression per rule; a scalar/object under the array key parses to
    * NULL → vacuous, matching jsonschema.
    */
  private def itemsOf(f: String): Column = {
    import org.apache.spark.sql.types._
    val sep = f.indexOf("[#].")
    require(sep > 0 && sep + 4 < f.length,
      s"items_pattern field must be '<array>[#].<path>', got '$f'")
    val (base, sub) = (f.substring(0, sep), f.substring(sep + 4).split('.').toSeq)
    val elemSchema = sub.foldRight(StringType: DataType)((n, inner) =>
      StructType(Seq(StructField(n, inner))))
    transform(
      from_json(get_json_object(col("j"), s"$$.$base"), ArrayType(elemSchema)),
      e => sub.foldLeft(e)((c, n) => c.getField(n)))
  }

  /** Per-(doc, rule) violation flags over any (doc_id, j) frame — the
    * map-side stage shared by batch q87 and its streaming twin in
    * `StreamingSpec` (the reference validates at import time, i.e. on a
    * stream of arriving metadata; the same rules relation and dispatch
    * serve both). Values are extracted with literal JSON paths before the
    * explode, so each path parses once per row inside codegen.
    *
    * Rules of kind `one_of`/`any_of`/`all_of` are COMPOSITE — the Draft7
    * branch applicators the reference's schemas use to accept alternative
    * document shapes (`stac_validators.py:87-103` composes validators
    * whose schemas carry `oneOf`/`allOf` branches). The composite's `arg`
    * names groups of LEAF rule ids — '|' between branches, ',' within one
    * (`"1,2|3"` = the branch {rules 1 AND 2} and the branch {rule 3}):
    * the doc satisfies the composite iff exactly one (`one_of`) / at
    * least one (`any_of`) / every (`all_of`) / no (`not`) branch's rules
    * all pass, Draft7's applicator semantics. Branch members may be LEAF
    * rules or OTHER COMPOSITES — applicators nest to arbitrary depth
    * (oneOf over anyOf over allOf, the reference schemas' real shape),
    * resolved by dependency-ordered column substitution with reference
    * cycles refused at plan time. Branch
    * members are consulted as they stand, own scope gates included, and
    * the composite carries its own `applies_to` like any rule. Composites
    * add one narrow per-doc shuffle to fold leaf flags — nesting depth
    * adds NOTHING further; a rule set without
    * them (the built-ins) keeps the pure map-side plan.
    */
  private[graft] def stacViolations(docs: DataFrame): DataFrame =
    stacViolations(docs, loadRules(docs.sparkSession))

  /** Shared Spark fragment for the open-key keywords: true iff ANY key
    * path in `items` is a DIRECT child of scope `field` whose bare key
    * name fails `violatedTest` (which sees the name as `__key`).
    */
  private def anyDirectChildKey(violatedTest: String): String = {
    val key = "(CASE WHEN field = '' THEN p ELSE substr(p, length(field) + 2) END)"
    s"""exists(items, p ->
       |  (CASE WHEN field = '' THEN instr(p, '.') = 0 AND instr(p, '[') = 0
       |        ELSE startswith(p, field || '.')
       |             AND instr(substr(p, length(field) + 2), '.') = 0
       |             AND instr(substr(p, length(field) + 2), '[') = 0 END)
       |  AND ${violatedTest.replace("__key", key)})""".stripMargin
  }

  private[graft] def stacViolations(
      docs: DataFrame, allRules: Seq[Rule]): DataFrame = {
    // duplicate ids would silently drop a composite from the dependency
    // map and corrupt the per-doc flag fold — refuse them here so EVERY
    // entry path (file load, ImportPipeline, direct calls) is guarded
    val dupIds = allRules.groupBy(_.id).collect { case (id, rs) if rs.size > 1 => id }
    require(dupIds.isEmpty,
      s"duplicate rule_id(s) in rule set: ${dupIds.toSeq.sorted.mkString(",")}")
    val (composites, rules) = allRules.partition(r => compositeKinds(r.kind))
    // validate composite branch refs and format names BEFORE any plan is
    // built, so a bad rules file fails loudly at load, not mid-query
    rules.filter(_.kind == "format").foreach(r =>
      require(knownFormats(r.arg), s"rule ${r.id}: unknown format '${r.arg}'"))
    val leafIds = rules.map(_.id).toSet
    val compositeIds = composites.map(_.id).toSet
    val parsedComposites = composites.map { c =>
      val branches = c.arg.split('|').toSeq.map(_.split(',').toSeq.map { s =>
        val id = s.trim.toInt
        require(leafIds(id) || compositeIds(id),
          s"${c.kind} rule ${c.id}: branch member $id is not a known rule id")
        require(id != c.id, s"${c.kind} rule ${c.id}: a composite cannot reference itself")
        id
      })
      require(branches.nonEmpty && branches.forall(_.nonEmpty),
        s"${c.kind} rule ${c.id}: arg must be '|'-separated groups of rule ids, got '${c.arg}'")
      c -> branches
    }
    // Draft7 applicators NEST (oneOf over anyOf over allOf …): a branch
    // member may be another composite. Order them so every member is
    // evaluated first, refusing reference cycles loudly at plan time.
    val topoComposites = {
      val byId = parsedComposites.map { case (c, b) => c.id -> ((c, b)) }.toMap
      val done = scala.collection.mutable.LinkedHashMap.empty[Int, (Rule, Seq[Seq[Int]])]
      def visit(id: Int, path: List[Int]): Unit =
        if (!done.contains(id)) {
          require(!path.contains(id),
            s"composite rule cycle: ${(id :: path.takeWhile(_ != id) ::: List(id)).reverse.mkString(" -> ")}")
          val (c, branches) = byId(id)
          branches.flatten.filter(compositeIds).foreach(visit(_, id :: path))
          done += id -> ((c, branches))
        }
      parsedComposites.foreach { case (c, _) => visit(c.id, Nil) }
      done.values.toSeq
    }
    // per-rule value extraction, literal JSON paths so each parses once per
    // row inside codegen; scalar keywords read `v`, items_pattern reads the
    // full `items` array (the other slot stays NULL — one uniform struct
    // schema across the exploded rules array)
    def valueOf(f: String, kind: String): Column =
      if (kind == "items_pattern" || kind == "contains" || kind == "no_dup_keys"
        || kind == "additional_properties" || kind == "property_names")
        lit(null).cast("string")
      else get_json_object(col("j"), s"$$.$f")
    // no_dup_keys reuses the `items` slot for the key-PATH list at EVERY
    // nesting depth (the native json_key_paths kernel keeps repeats and
    // index-disambiguates array elements, so a repeated path ⇔ a duplicate
    // key within one object scope — the reference's object_pairs_hook
    // fires at every depth, check_stac_metadata/utils.py:297-314; NULL on
    // malformed/non-object docs). The oracle twin checks top-level
    // json_keys — the corpus's injected duplicates are top-level, and the
    // nested semantics are pinned engine-side in CatalogOpsSpec.
    def arrayOf(f: String, kind: String): Column = kind match {
      case "items_pattern" | "contains" => itemsOf(f)
      case "no_dup_keys" | "additional_properties" | "property_names" =>
        // cast unifies containsNull with the other branches' slot type;
        // the open-key kinds scope the path list in the dispatch
        graft.functions.GraftFunctions.json_key_paths(col("j")).cast("array<string>")
      case _                            => lit(null).cast("array<string>")
    }
    val ruleStructs = rules.map { r =>
      struct(
        lit(r.id).as("rule_id"), lit(r.field).as("field"), lit(r.kind).as("kind"),
        lit(r.arg).as("arg"), lit(r.appliesTo).as("applies_to"),
        valueOf(r.field, r.kind).as("v"), arrayOf(r.field, r.kind).as("items"))
    }
    val leafFlags = docs
      // doc-level type, extracted ONCE per row for the scope gate
      .select(
        col("doc_id"),
        get_json_object(col("j"), "$.type").as("doc_type"),
        explode(array(ruleStructs: _*)).as("r"))
      .select(
        col("doc_id"), col("doc_type"), col("r.rule_id"), col("r.field"), col("r.kind"),
        col("r.arg"), col("r.applies_to"), col("r.v"), col("r.items"))
      .withColumn("violated", expr(stacDispatch(
        "v RLIKE arg",
        "exists(items, e -> e IS NOT NULL AND NOT (e RLIKE arg))",
        "exists(items, e -> e IS NOT NULL AND (e RLIKE arg))",
        "size(items) > size(array_distinct(items))",
        formatViolatedSql(p => s"v RLIKE '$p'"),
        // a key path is a DIRECT child of scope `field` iff it extends it
        // by exactly one segment (no further '.' or '['); the closed-set
        // test is the same '|'-membership instr as the enum keyword, the
        // name test the same RLIKE as the pattern keyword
        anyDirectChildKey("instr('|' || arg || '|', '|' || __key || '|') = 0"),
        anyDirectChildKey("NOT (__key RLIKE arg)"))))
    if (topoComposites.isEmpty) leafFlags
    else leafFlags.unionByName(compositeFlags(leafFlags, topoComposites))
  }

  /** Composite (`one_of`/`any_of`/`all_of`/`not`) flags derived from the
    * leaf flags: fold each doc's leaf verdicts into a map (the one narrow
    * |docs|-key shuffle composites cost), then evaluate every composite's
    * branch groups against it — violated unless the kind's quota of fully
    * passing branches is met (exactly one / at least one / all / none).
    *
    * `parsed` arrives in dependency order, so NESTED applicators — a
    * branch member that is itself a composite, Draft7's oneOf-over-anyOf
    * shape at any depth — resolve as plain column-expression substitution:
    * each composite's violated column is memoized and inlined into its
    * consumers. Arbitrary nesting costs NO extra shuffle or pass; the
    * whole applicator tree evaluates in the one projection over the
    * per-doc flag map. Output schema matches the leaf frame so the rollup
    * sees one uniform relation.
    */
  private def compositeFlags(
      leafFlags: DataFrame, parsed: Seq[(Rule, Seq[Seq[Int]])]): DataFrame = {
    val perDoc = leafFlags
      .groupBy(col("doc_id"), col("doc_type"))
      .agg(map_from_entries(collect_list(struct(col("rule_id"), col("violated")))).as("flags"))
    val memo = scala.collection.mutable.Map.empty[Int, Column]
    def violatedOf(id: Int): Column =
      memo.getOrElse(id, element_at(col("flags"), lit(id)))
    val compStructs = parsed.map { case (c, branches) =>
      val passed = branches
        .map(b => when(b.map(id => violatedOf(id) === 0).reduce(_ && _), 1).otherwise(0))
        .reduce(_ + _)
      val satisfied = c.kind match {
        case "one_of" => passed === 1
        case "any_of" => passed >= 1
        case "all_of" => passed === branches.length
        // Draft7 `not`: the doc is valid iff it FAILS the subschema — here,
        // iff no branch's rules all pass
        case "not"    => passed === 0
      }
      val inScope =
        if (c.appliesTo.isEmpty) lit(true)
        else col("doc_type").isNotNull &&
          lit(s"|${c.appliesTo}|").contains(concat(lit("|"), col("doc_type"), lit("|")))
      val violated = when(!inScope, 0).when(satisfied, 0).otherwise(1)
      memo += c.id -> violated
      struct(
        lit(c.id).as("rule_id"), lit(c.field).as("field"), lit(c.kind).as("kind"),
        lit(c.arg).as("arg"), lit(c.appliesTo).as("applies_to"),
        lit(null).cast("string").as("v"), lit(null).cast("array<string>").as("items"),
        violated.as("violated"))
    }
    perDoc
      .select(col("doc_id"), col("doc_type"), explode(array(compStructs: _*)).as("r"))
      .select(
        col("doc_id"), col("doc_type"), col("r.rule_id"), col("r.field"), col("r.kind"),
        col("r.arg"), col("r.applies_to"), col("r.v"), col("r.items"), col("r.violated"))
  }

  /** The deterministic STAC-ish doc corpus as (doc_id, j) — shared by q87
    * and the streaming-twin spec.
    */
  private[graft] def stacDocs(t: Tables): DataFrame =
    t.documents.select(col("doc_id"), expr(stacDocJson).as("j"))

  /** Schema-driven validation rollup: one row per rule with doc and
    * violation counts plus the first offending doc. Scale shape: the rules
    * relation is constant-size and rides inside a map-side explode — the
    * only shuffle is the |rules|-row final aggregate. Linear in corpus at
    * any SF.
    */
  private def q87(t: Tables): DataFrame =
    stacViolations(stacDocs(t))
      .groupBy(col("rule_id"), col("field"), col("kind"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("violated")).as("n_violations"),
        min(when(col("violated") === 1, col("doc_id"))).as("first_bad_doc"))
      .orderBy(col("rule_id"))

  /** Latest-version-per-extension resolution — reference
    * `check_stac_metadata/stac_validators.py:37-44`
    * (`get_latest_extension_schema_version`: scandir, fullmatch
    * `v\d+\.\d+\.\d+`, sort by parsed version descending, take the head;
    * pinned by reference `tests/test_get_latest_extension_schema_version
    * .py`). Candidate directory names are synthesized per dataset with the
    * shared fragment (including non-version names the fullmatch must
    * ignore); parse = regexp_extract of the three numeric components (''
    * on no match → TRY_CAST null in both engines, standing in for
    * fullmatch). One distinct + one |extensions|-row aggregate + one
    * window over ≤ |versions| rows per extension — nothing corpus-wide.
    */
  private val q88Dirname: String =
    """CASE WHEN doc_id % 31 = 0 THEN 'draft'
      |     WHEN doc_id % 37 = 0 THEN 'v1.2'
      |     ELSE 'v' || (doc_id % 4) || '.' || (doc_id % 12) || '.' || (doc_id % 10) END""".stripMargin
  private val q88Pattern = "^v([0-9]+)[.]([0-9]+)[.]([0-9]+)$"

  private def q88(t: Tables): DataFrame = {
    val cand = t.documents
      .select(col("source").as("extension"), expr(q88Dirname).as("dirname"))
      .distinct()
    val m = cand
      .withColumn("maj", expr(s"TRY_CAST(regexp_extract(dirname, '$q88Pattern', 1) AS BIGINT)"))
      .withColumn("mn", expr(s"TRY_CAST(regexp_extract(dirname, '$q88Pattern', 2) AS BIGINT)"))
      .withColumn("pt", expr(s"TRY_CAST(regexp_extract(dirname, '$q88Pattern', 3) AS BIGINT)"))
    // one partial-aggregable pass: the head-of-sort is a lexicographic
    // struct max over (maj, mn, pt) — no window, no self-join; the triple
    // uniquely determines the dirname so no tie-break is needed
    m.groupBy(col("extension"))
      .agg(
        max(when(col("maj").isNotNull, struct(col("maj"), col("mn"), col("pt"), col("dirname"))))
          .as("best"),
        sum(when(col("maj").isNotNull, 1L).otherwise(0L)).as("n_versions"),
        sum(when(col("maj").isNull, 1L).otherwise(0L)).as("n_ignored"))
      .select(
        col("extension"),
        expr("substr(best.dirname, 2)").as("latest_version"),
        col("n_versions"),
        col("n_ignored"))
      .orderBy(col("extension"))
  }

  /** STAC collection extent rollup — the `extent.spatial.bbox` +
    * `extent.temporal.interval` every STAC collection must publish
    * (reference: the collection metadata geostore's
    * `populate_catalog/task.py` merges into the root catalog, and
    * `check_stac_metadata/stac_validators.py` validates via the vendored
    * collection-spec schema's required `extent`): per collection (nation),
    * the bounding box of its item points, the temporal interval of its
    * assets, and item/asset counts. Items are customers holding at least
    * one order (an itemless collection publishes no extent); coordinates
    * are the shared synthetic point cloud (Extras.lonSql — q48/q49/q156
    * shard the same points).
    *
    * Numeric discipline: min/max select among bit-identical doubles (both
    * engines build the same coordinate expression), so rounding AFTER the
    * extremes is stable; dates and counts are exact.
    *
    * Scale shape: the per-customer order rollup is the ONE fact-scale
    * shuffle (partial-agg map-side); its join to customer is equi on the
    * key both sides can co-partition on; the nation dim broadcasts; the
    * extent aggregate is |collection| rows.
    */
  private def q157(t: Tables): DataFrame = {
    val perCust = t.orders
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_assets"),
        min(col("o_orderdate")).as("d_min"),
        max(col("o_orderdate")).as("d_max"))
    val cust = t.customer.select(
      col("c_custkey"), col("c_nationkey"),
      expr(Extras.lonSql).as("lon"), expr(Extras.latSql).as("lat"))
    cust.join(perCust, col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(col("n_assets")).as("n_assets"),
        round(min(col("lon")), 3).as("lon_min"),
        round(max(col("lon")), 3).as("lon_max"),
        round(min(col("lat")), 3).as("lat_min"),
        round(max(col("lat")), 3).as("lat_max"),
        min(col("d_min")).as("dt_min"),
        max(col("d_max")).as("dt_max"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("n_name").as("collection"), col("n_items"), col("n_assets"),
        col("lon_min"), col("lon_max"), col("lat_min"), col("lat_max"),
        col("dt_min"), col("dt_max"))
      .orderBy(col("collection"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q157_stac_extent" -> ((s, d) => q157(Tables(s, d))),
    "q87_schema_validate" -> ((s, d) => q87(Tables(s, d))),
    "q88_latest_schema_version" -> ((s, d) => q88(Tables(s, d))),
    "q66_stac_validation" -> ((s, d) => q66(Tables(s, d))),
    "q57_import_status" -> ((s, d) => q57(Tables(s, d))),
    "q58_catalog_merge" -> ((s, d) => q58(Tables(s, d))),
    "q21_dataset_list" -> ((s, d) => q21(Tables(s, d))),
    "q22_current_versions" -> ((s, d) => q22(Tables(s, d))),
    "q23_checksum_validate" -> ((s, d) => q23(Tables(s, d))),
    "q278_merkle_manifest" -> ((s, d) => q278(Tables(s, d))),
    "q24_content_batches" -> ((s, d) => q24(Tables(s, d))),
    "q201_batch_progress" -> ((s, d) => q201(Tables(s, d))),
    "q25_validation_summary" -> ((s, d) => q25(Tables(s, d))),
    "q26_import_manifest" -> ((s, d) => q26(Tables(s, d))),
    "q27_catalog_tree" -> ((s, d) => q27(Tables(s, d))),
    "q192_catalog_fanout" -> ((s, d) => q192(Tables(s, d))),
    "q28_asset_inventory" -> ((s, d) => q28(Tables(s, d))),
    "q29_version_diff" -> ((s, d) => q29(Tables(s, d)))
  )

  private val stacRulesSql: String = stacRules
    .map { r =>
      if (r.id == 1)
        s"SELECT ${r.id} AS rule_id, '${r.field}' AS field, '${r.kind}' AS kind, " +
          s"'${r.arg}' AS arg, '${r.appliesTo}' AS applies_to"
      else s"SELECT ${r.id}, '${r.field}', '${r.kind}', '${r.arg}', '${r.appliesTo}'"
    }
    .mkString("\n  UNION ALL ")

  override def oracleSql: Map[String, String] = Map(
    "q157_stac_extent" ->
      s"""WITH pc AS (
         | SELECT o_custkey, count(*) AS n_assets,
         |  min(o_orderdate) AS d_min, max(o_orderdate) AS d_max
         | FROM orders GROUP BY o_custkey),
         | g AS (
         | SELECT c_nationkey, ${Extras.lonSql} AS lon, ${Extras.latSql} AS lat,
         |  n_assets, d_min, d_max
         | FROM customer JOIN pc ON c_custkey = o_custkey),
         | x AS (
         | SELECT c_nationkey, count(*) AS n_items,
         |  CAST(sum(n_assets) AS BIGINT) AS n_assets,
         |  round(min(lon), 3) AS lon_min, round(max(lon), 3) AS lon_max,
         |  round(min(lat), 3) AS lat_min, round(max(lat), 3) AS lat_max,
         |  min(d_min) AS dt_min, max(d_max) AS dt_max
         | FROM g GROUP BY c_nationkey)
         |SELECT n_name AS collection, n_items, n_assets,
         | lon_min, lon_max, lat_min, lat_max, dt_min, dt_max
         |FROM x JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY collection""".stripMargin,
    "q87_schema_validate" ->
      s"""WITH docs AS (SELECT doc_id, $stacDocJson AS j FROM documents),
         | rules AS (
         |  $stacRulesSql),
         | ev AS (SELECT doc_id, rule_id, field, kind, arg, applies_to,
         |   json_extract_string(j, '$$.type') AS doc_type,
         |   CASE WHEN kind IN ('items_pattern', 'contains', 'no_dup_keys',
         |                      'additional_properties', 'property_names') THEN NULL
         |   ELSE json_extract_string(j, '$$.' || field) END AS v,
         |   CASE WHEN kind IN ('items_pattern', 'contains') THEN
         |     list_transform(
         |       range(CAST(json_array_length(j, '$$.' || split_part(field, '[', 1)) AS BIGINT)),
         |       i -> json_extract_string(j, '$$.' || replace(field, '#', CAST(i AS VARCHAR))))
         |   WHEN kind IN ('no_dup_keys', 'additional_properties', 'property_names')
         |     THEN json_keys(TRY_CAST(j AS JSON))
         |   ELSE NULL END AS items
         |  FROM docs CROSS JOIN rules),
         | x AS (SELECT doc_id, rule_id, field, kind,
         |   ${stacDispatch(
              "regexp_matches(v, arg)",
              "len(list_filter(items, e -> e IS NOT NULL AND NOT regexp_matches(e, arg))) > 0",
              "len(list_filter(items, e -> e IS NOT NULL AND regexp_matches(e, arg))) > 0",
              "len(items) > len(list_distinct(items))",
              formatViolatedSql(p => s"regexp_matches(v, '$p')"),
              // the oracle's items slot holds TOP-LEVEL json_keys, which
              // matches the built-in root-scope rules; nested scopes are
              // engine-side semantics pinned in CatalogOpsSpec
              "len(list_filter(items, p -> instr('|' || arg || '|', '|' || p || '|') = 0)) > 0",
              "len(list_filter(items, p -> NOT regexp_matches(p, arg))) > 0")} AS violated
         |  FROM ev)
         |SELECT rule_id, field, kind, count(*) AS n_docs,
         | CAST(sum(violated) AS BIGINT) AS n_violations,
         | min(CASE WHEN violated = 1 THEN doc_id END) AS first_bad_doc
         |FROM x GROUP BY rule_id, field, kind ORDER BY rule_id""".stripMargin,
    "q88_latest_schema_version" ->
      s"""WITH cand AS (SELECT DISTINCT source AS extension, $q88Dirname AS dirname FROM documents),
         | m AS (SELECT extension, dirname,
         |   TRY_CAST(regexp_extract(dirname, '$q88Pattern', 1) AS BIGINT) AS maj,
         |   TRY_CAST(regexp_extract(dirname, '$q88Pattern', 2) AS BIGINT) AS mn,
         |   TRY_CAST(regexp_extract(dirname, '$q88Pattern', 3) AS BIGINT) AS pt
         |  FROM cand),
         | s AS (SELECT extension,
         |   CAST(sum(CASE WHEN maj IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_versions,
         |   CAST(sum(CASE WHEN maj IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_ignored
         |  FROM m GROUP BY extension),
         | r AS (SELECT extension, dirname,
         |   row_number() OVER (PARTITION BY extension
         |     ORDER BY maj DESC, mn DESC, pt DESC, dirname) AS rn
         |  FROM m WHERE maj IS NOT NULL),
         | l AS (SELECT extension, substr(dirname, 2) AS latest_version FROM r WHERE rn = 1)
         |SELECT s.extension, latest_version, n_versions, n_ignored
         |FROM s LEFT JOIN l ON s.extension = l.extension ORDER BY s.extension""".stripMargin,
    "q66_stac_validation" ->
      """WITH j AS (SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |SELECT event_type, count(*) AS n_docs,
        | CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        | CAST(sum(CASE WHEN k IS NOT NULL AND k >= 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_range,
        | CAST(sum(CASE WHEN k IS NOT NULL AND k < 80 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q57_import_status" ->
      """WITH latest AS (
        | SELECT user_id AS dataset_id, event_type AS step_state FROM (
        |  SELECT user_id, event_type,
        |   row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1),
        | counters AS (
        | SELECT user_id AS dataset_id,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_uploads,
        |  count(*) AS n_events
        | FROM events GROUP BY user_id)
        |SELECT c.dataset_id, step_state, n_errors, n_uploads, n_events,
        | CASE WHEN n_errors > n_events * 0.2 THEN 'FAILED'
        |      WHEN step_state = 'purchase' THEN 'COMPLETE'
        |      ELSE 'IN_PROGRESS' END AS status
        |FROM counters c JOIN latest l ON c.dataset_id = l.dataset_id
        |ORDER BY c.dataset_id""".stripMargin,
    "q58_catalog_merge" ->
      """WITH existing AS (SELECT DISTINCT source AS child_id FROM documents WHERE source LIKE 'src1%'),
        | incoming AS (SELECT DISTINCT source AS child_id FROM documents)
        |SELECT child_id, 'existing' AS provenance FROM existing
        |UNION ALL
        |SELECT child_id, 'added' AS provenance FROM incoming
        |WHERE child_id NOT IN (SELECT child_id FROM existing)
        |ORDER BY child_id""".stripMargin,
    "q21_dataset_list" ->
      """SELECT source AS dataset_id, count(*) AS n_assets,
        | CAST(sum(n_chars) AS BIGINT) AS total_bytes,
        | min(doc_id) AS first_asset, max(doc_id) AS last_asset
        |FROM documents GROUP BY source ORDER BY dataset_id""".stripMargin,
    "q22_current_versions" ->
      """SELECT user_id AS dataset_id, event_id AS current_version, epoch_us(ts) AS created_us
        |FROM (SELECT user_id, event_id, ts,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) WHERE rn = 1
        |ORDER BY dataset_id""".stripMargin,
    "q278_merkle_manifest" ->
      """WITH leaves AS (
        | SELECT source, doc_id, md5(text) AS h,
        |  md5(CASE WHEN doc_id % 97 = 0 THEN text || 'X' ELSE text END) AS ht
        | FROM documents),
        | l1 AS (
        |  SELECT source, doc_id // 32 AS g,
        |   md5(string_agg(h, '' ORDER BY doc_id)) AS h1,
        |   md5(string_agg(ht, '' ORDER BY doc_id)) AS h1t,
        |   count(*) AS n
        |  FROM leaves GROUP BY 1, 2),
        | l2 AS (
        |  SELECT source, g // 32 AS g2,
        |   md5(string_agg(h1, '' ORDER BY g)) AS h2,
        |   md5(string_agg(h1t, '' ORDER BY g)) AS h2t,
        |   CAST(sum(n) AS BIGINT) AS n, count(*) AS ng
        |  FROM l1 GROUP BY 1, 2),
        | rt AS (
        |  SELECT source,
        |   md5(string_agg(h2, '' ORDER BY g2)) AS root,
        |   md5(string_agg(h2t, '' ORDER BY g2)) AS root_t,
        |   CAST(sum(n) AS BIGINT) AS n_assets, CAST(sum(ng) AS BIGINT) AS n_groups
        |  FROM l2 GROUP BY 1),
        | tg AS (
        |  SELECT source,
        |   CAST(sum(CASE WHEN h1 <> h1t THEN 1 ELSE 0 END) AS BIGINT) AS tampered_groups
        |  FROM l1 GROUP BY 1)
        |SELECT r.source, n_assets, n_groups, root, tampered_groups,
        | (root <> root_t) AS tamper_detected
        |FROM rt r JOIN tg ON tg.source = r.source
        |ORDER BY r.source""".stripMargin,
    "q23_checksum_validate" ->
      """SELECT doc_id,
        | CASE WHEN doc_id % 2 = 0 THEN 'sha2-256' ELSE 'sha2-512' END AS algo,
        | CASE WHEN doc_id % 2 = 0 THEN '1220' || sha256(text) ELSE NULL END AS digest256,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 68 ELSE 132 END AS INTEGER) AS multihash_len,
        | CASE WHEN doc_id % 2 = 0 THEN
        |   sha256(text) = (CASE WHEN doc_id % 25 = 0 THEN sha256(text || 'X') ELSE sha256(text) END)
        | ELSE doc_id % 25 <> 0 END AS valid
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q24_content_batches" ->
      """WITH b AS (
        | SELECT source, doc_id,
        |  CAST((row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) // 25 AS BIGINT) AS batch_id
        | FROM documents)
        |SELECT source AS dataset_id, batch_id, count(*) AS n_items,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM b GROUP BY source, batch_id ORDER BY dataset_id, batch_id""".stripMargin,
    "q201_batch_progress" ->
      """WITH v AS (
        | SELECT source, doc_id,
        |  CAST((row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1) // 25 AS BIGINT)
        |   AS batch_id,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    sha256(text) = (CASE WHEN doc_id % 25 = 0 THEN sha256(text || 'X') ELSE sha256(text) END)
        |  ELSE doc_id % 25 <> 0 END AS valid
        | FROM documents)
        |SELECT source AS dataset_id, batch_id, count(*) AS n_items,
        | CAST(sum(CASE WHEN valid THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        | CAST(sum(CASE WHEN valid THEN 0 ELSE 1 END) AS BIGINT) AS n_failed,
        | min(CASE WHEN NOT valid THEN doc_id END) AS first_failed_doc,
        | CASE WHEN sum(CASE WHEN valid THEN 0 ELSE 1 END) = 0
        |  THEN 'VALIDATED' ELSE 'FAILED' END AS batch_status
        |FROM v GROUP BY source, batch_id ORDER BY dataset_id, batch_id""".stripMargin,
    "q25_validation_summary" ->
      """SELECT source AS dataset_id,
        | bool_and(n_chars = length(text)) AS sizes_ok,
        | bool_and(n_chars >= 60) AS min_size_ok,
        | CAST(sum(CASE WHEN n_chars < 60 THEN 1 ELSE 0 END) AS BIGINT) AS n_too_small,
        | count(*) AS n_checked
        |FROM documents GROUP BY source ORDER BY dataset_id""".stripMargin,
    "q26_import_manifest" ->
      """SELECT doc_id,
        | 's3://src-bucket/' || source || '/' || CAST(doc_id AS VARCHAR) AS source_key,
        | 'datasets/' || source || '/' || CAST(doc_id AS VARCHAR) || '.json' AS target_key,
        | n_chars AS size
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q27_catalog_tree" ->
      """SELECT 0 AS depth, CAST(r_regionkey AS BIGINT) AS node_id, r_name AS name,
        |  CAST(NULL AS BIGINT) AS parent_id FROM region
        |UNION ALL
        |SELECT 1, CAST(n_nationkey AS BIGINT), n_name, CAST(r_regionkey AS BIGINT)
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |UNION ALL
        |SELECT 2, c_custkey, c_name, CAST(n_nationkey AS BIGINT)
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY depth, node_id""".stripMargin,
    "q192_catalog_fanout" ->
      """WITH l1 AS (
        | SELECT CAST(r_regionkey AS BIGINT) AS pid FROM region),
        | c1 AS (SELECT CAST(n_regionkey AS BIGINT) AS pid, count(*) AS fan
        |        FROM nation GROUP BY 1),
        | l2 AS (SELECT CAST(n_nationkey AS BIGINT) AS pid FROM nation),
        | c2 AS (SELECT CAST(c_nationkey AS BIGINT) AS pid, count(*) AS fan
        |        FROM customer GROUP BY 1),
        | f1 AS (SELECT l1.pid, COALESCE(fan, 0) AS fan FROM l1 LEFT JOIN c1 USING (pid)),
        | f2 AS (SELECT l2.pid, COALESCE(fan, 0) AS fan FROM l2 LEFT JOIN c2 USING (pid)),
        | r AS (
        | SELECT 1 AS child_depth, count(*) AS n_parents, CAST(sum(fan) AS BIGINT) AS n_children,
        |  CAST(min(fan) AS BIGINT) AS min_fanout, CAST(max(fan) AS BIGINT) AS max_fanout,
        |  CAST((2 * 100 * sum(fan) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_fanout_e2,
        |  CAST((2 * 10000 * max(fan) * count(*) + sum(fan)) // (2 * sum(fan)) AS BIGINT) AS skew_e4,
        |  CAST(sum(CASE WHEN fan = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_childless
        | FROM f1
        | UNION ALL
        | SELECT 2, count(*), CAST(sum(fan) AS BIGINT),
        |  CAST(min(fan) AS BIGINT), CAST(max(fan) AS BIGINT),
        |  CAST((2 * 100 * sum(fan) + count(*)) // (2 * count(*)) AS BIGINT),
        |  CAST((2 * 10000 * max(fan) * count(*) + sum(fan)) // (2 * sum(fan)) AS BIGINT),
        |  CAST(sum(CASE WHEN fan = 0 THEN 1 ELSE 0 END) AS BIGINT)
        | FROM f2)
        |SELECT * FROM r ORDER BY child_depth""".stripMargin,
    "q28_asset_inventory" ->
      """SELECT source AS dataset_id, lang AS asset_type, count(*) AS n,
        | CAST(sum(n_chars) AS BIGINT) AS bytes, round(avg(n_chars),2) AS avg_bytes
        |FROM documents GROUP BY source, lang ORDER BY dataset_id, asset_type""".stripMargin,
    "q29_version_diff" ->
      """WITH v1 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
        | v2 AS (SELECT DISTINCT o_custkey AS custkey FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
        |SELECT 'added' AS change, custkey FROM (SELECT custkey FROM v2 EXCEPT SELECT custkey FROM v1)
        |UNION ALL
        |SELECT 'removed' AS change, custkey FROM (SELECT custkey FROM v1 EXCEPT SELECT custkey FROM v2)
        |ORDER BY change, custkey""".stripMargin
  )
}
