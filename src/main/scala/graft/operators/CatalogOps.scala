package graft.operators

import graft.{Iterate, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.B (extension) — catalog *maintenance* semantics from the
  * reference that round-2 review flagged as missing: arbitrary-depth
  * traversal, upsert, metadata rewrite, and status-change notification.
  *
  * These four are the write/maintenance half of the geostore surface (the
  * read half lives in `Lake`): a lake engine that can only query its
  * catalog but not walk, merge, rewrite, or watch it cannot replace the
  * reference.
  */
object CatalogOps extends QueryModule {

  /** The synthetic link graph for q67: a binary tree over doc_ids
    * (arbitrary depth — grows with the corpus) plus deterministic
    * back-edges every 17th node, which create cycles so the visited-set
    * semantics of the reference traversal are actually exercised.
    */
  private def linkEdges(t: Tables): DataFrame = {
    val docs = t.documents.select(col("doc_id"))
    val tree = docs
      .select(col("doc_id").as("src"), explode(array(col("doc_id") * 2 + 1, col("doc_id") * 2 + 2)).as("dst"))
      // keep only links whose target document exists (≡ a child/item link
      // pointing at a real object); semi-join stays broadcast-size on dims
      .join(docs.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
    val back = docs
      .filter(col("doc_id") % 17 === 0 && col("doc_id") > 0)
      .select(col("doc_id").as("src"), ((col("doc_id") - 1) / 2).cast("long").as("dst"))
    tree.select(col("src"), col("dst")).unionAll(back)
  }

  /** Arbitrary-depth recursive catalog traversal with visited-URL dedup —
    * reference `check_stac_metadata/utils.py:191-258` (`validate()`
    * recurses through child/item links; `traversed_urls` at :257 prevents
    * revisiting, which also makes link cycles safe). Spark shape: a
    * level-synchronous frontier BFS — each round is one join of the
    * (small) frontier against the edge relation plus an anti-join against
    * the visited set, with lineage cut per round (`Iterate.cutLineage`).
    * Rounds = graph depth (log-scale in catalog size), not row count, and
    * every round's join is frontier-sized — the loop never rescans the
    * corpus. Output: every reachable node with its BFS depth (min link
    * distance from the root), which is exactly the traversal order class
    * the reference's recursion produces.
    */
  /** Hops batched per scheduled round: each round's job chains `Hops`
    * frontier expansions before the one checkpoint, so the per-round
    * scheduling/checkpoint overhead — which dominates when the frontier is
    * small — is paid depth/Hops times, not depth times. The chain carries
    * NO per-hop dedup (that would make hop h's plan re-embed hops 1..h-1
    * and blow the plan up exponentially); duplicate walks within a round
    * are bounded by out-degree^Hops and collapse in the round's single
    * min-depth groupBy, after which one anti-join removes already-visited
    * nodes. A node's min walk depth within the round equals its true BFS
    * depth (the shortest path's prefix ends on the previous frontier), so
    * the semantics are exactly those of the 1-hop loop.
    *
    * 8 measured as the knee (r13, sf0.1 depth ≈ 16): 4→8 hops cut the
    * solo min 2.67 s → 1.54 s (half the checkpoint/collect rounds);
    * 16 gained nothing further (1.51 s) while doubling per-round plan
    * compile cost (cold rep 5.1 s → 6.1 s). Binary-tree catalogs keep
    * out-degree ≤ 2, so out-degree^Hops stays ≤ 256 walks per node-round.
    */
  private val Hops = 8

  private def q67(t: Tables): DataFrame = {
    // partitioned by src — the key every hop probes — so the (large) edge
    // side never re-shuffles; only the frontier moves
    val edges = Iterate.cutLineage(linkEdges(t).repartition(col("src")))
    val root = t.documents
      .filter(col("doc_id") === 0)
      .select(col("doc_id").as("node_id"), lit(0).as("depth"))
    // visited = union of per-round checkpointed frontiers: each leaf has
    // cut lineage already, so the union needs no O(|visited|) re-write per
    // round and the plan stays depth-wide (bounded by the 64-round cap)
    var visited = Iterate.cutLineage(root)
    var frontier = visited
    var d = 0
    var done = false
    while (d < 64 && !done) {
      // depth rides along as a column (frontier.depth + 1 per hop) instead
      // of a per-round lit(d+h), keeping every round's plan shape — and
      // generated code — identical. Hop joins stay shuffle joins: the
      // frontier side is the only thing that moves (edges are
      // src-partitioned), and AQE already turns tiny frontiers into
      // broadcasts at runtime without a per-hop BroadcastExchange
      // round-trip in the driver.
      var hops = Vector.empty[DataFrame]
      var hopF = frontier
      for (h <- 1 to Hops) {
        val nxt = hopF
          .join(edges, col("node_id") === col("src"))
          .select(col("dst").as("node_id"), (col("depth") + 1).as("depth"))
        hops = hops :+ nxt
        hopF = nxt
      }
      val roundNew = hops
        .reduce(_ unionAll _)
        .groupBy(col("node_id"))
        .agg(min(col("depth")).as("depth"))
        .join(visited.select(col("node_id")), Seq("node_id"), "left_anti")
      // r18: LAZY cut — the bounded stats gather right below is the
      // round's action anyway, so the checkpoint materializes inside it
      // instead of paying a dedicated eager job per round (cutLineageLazy's
      // documented use case; solo A/B 3.30 -> 2.19 s). `edges` stays EAGER:
      // it feeds all eight hop joins of every round, and a lazy first
      // materialization under that fan-out measured 0.65 s SLOWER.
      val roundCp = Iterate.cutLineageLazy(roundNew)
      // loop-control statistics only (≤ Hops rows off checkpointed data,
      // not a data collect): new-node count per depth this round
      val stats = graft.Iterate
        .gatherBoundedMatrix(
          roundCp.groupBy(col("depth")).count(), Hops + 1, "q67 per-depth BFS counters")
        .map(r => (r.getInt(0), r.getLong(1)))
      if (stats.isEmpty) done = true
      else {
        visited = visited.unionAll(roundCp)
        // every node deeper than d+Hops has a predecessor at exactly
        // d+Hops (all of which are first discovered this round); if that
        // last hop found nothing the traversal is complete
        val lastHop = stats.toMap.getOrElse(d + Hops, 0L)
        if (lastHop == 0L) done = true
        else frontier = roundCp.filter(col("depth") === d + Hops)
        d += Hops
      }
    }
    visited.orderBy(col("node_id"))
  }

  /** Idempotent catalog upsert (keep-latest merge) — reference
    * `datasets/update.py:14-58` (update_dataset: fetch → mutate attributes
    * → save) and `datasets/create.py`/`delete.py`. The distributed
    * re-expression: merge a change batch (updates at a higher revision +
    * brand-new keys) into the catalog in ONE shuffle — union both sides,
    * then a single window over the key resolves keep-latest (row_number on
    * revision) and classifies the action (insert/update/unchanged) from
    * the per-key source count. No read-modify-write per row, no second
    * pass.
    */
  /** The base-catalog relation q68 merges into — ONE definition shared
    * with the store provisioners (Bench/PlanAudit stores mode), so the
    * pinned CatalogStore snapshot the DSv2 time-travel read serves IS
    * this relation and the store-backed q68 keeps the unchanged oracle.
    */
  def catalogBase(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id").as("dataset_key"),
      concat(col("source"), lit("/"), col("doc_id").cast("string")).as("title"),
      lit(1).as("revision"))

  private def q68(t: Tables): DataFrame = {
    // with `graft.catalog.store` set, the base catalog loads through the
    // DSv2 snapshot source PINNED at v=1 (VERSION AS OF in the plan):
    // later upserts to the store cannot move this query's input — time
    // travel as a query-plan fact (r16 next-round #7)
    val storeDir = t.spark.conf.get("graft.catalog.store", "")
    val base = (
      if (storeDir.isEmpty) catalogBase(t)
      else t.spark.read.format("graft.sources.CatalogSnapshotSource")
        .option("path", storeDir).option("version", "1").load()
      ).withColumn("origin", lit("base"))
    val changes = t.documents
      .filter(col("doc_id") % 3 === 0)
      .select(
        col("doc_id").as("dataset_key"),
        concat(col("source"), lit("-v2")).as("title"),
        lit(2).as("revision"),
        lit("change").as("origin"))
      .unionAll(
        t.documents
          .filter(col("doc_id") % 10 === 7)
          .select(
            // negative namespace: disjoint from real doc_id keys at ANY corpus
            // size (an additive offset collides once doc_id exceeds it)
            (-(col("doc_id") + 1)).as("dataset_key"),
            concat(lit("new-"), col("source")).as("title"),
            lit(1).as("revision"),
            lit("change").as("origin")))
    val byKey = Window.partitionBy(col("dataset_key"))
    val latest = byKey.orderBy(col("revision").desc, col("origin"))
    base
      .unionAll(changes)
      .withColumn("rn", row_number().over(latest))
      .withColumn("n_src", count(lit(1)).over(byKey))
      .filter(col("rn") === 1)
      .select(
        col("dataset_key"),
        col("title"),
        col("revision"),
        when(col("n_src") === 2, "updated")
          .when(col("origin") === "change", "inserted")
          .otherwise("unchanged")
          .as("action"))
      .orderBy(col("dataset_key"))
  }

  /** Import-time STAC metadata rewrite — reference
    * `import_metadata_file/task.py:34-70`: drop rel=self links
    * (delete_self_links), rewrite hrefs to their basename
    * (change_href_to_basename), and point the root link at
    * `../catalog.json` (update_root_link). The JSON plumbing is real:
    * each document's links render through to_json, parse back with
    * from_json, and the rewrite runs as filter/transform HOFs inside the
    * parsed structure — all codegen-adjacent expression work next to the
    * scan, no shuffle until the final ordering. Output is the rewritten
    * link list exploded to rows (the JSON-serialization-agnostic form both
    * engines can hash-compare).
    */
  private def q69(t: Tables): DataFrame = {
    val built = t.documents.select(
      col("doc_id"),
      to_json(
        struct(
          array(
            struct(
              lit("self").as("rel"),
              concat(lit("s3://staging/"), col("source"), lit("/"), col("doc_id").cast("string"), lit(".json"))
                .as("href")),
            struct(
              lit("root").as("rel"),
              concat(lit("s3://staging/"), col("source"), lit("/catalog.json")).as("href")),
            struct(
              lit("child").as("rel"),
              concat(lit("s3://staging/"), col("source"), lit("/"), (col("doc_id") + 1).cast("string"), lit(".json"))
                .as("href"))).as("links"))).as("stac_json"))
    built
      .withColumn(
        "doc",
        from_json(col("stac_json"), "struct<links:array<struct<rel:string,href:string>>>", Map.empty[String, String]))
      .withColumn(
        "links2",
        expr("""transform(
               |  filter(doc.links, x -> x.rel <> 'self'),
               |  x -> named_struct('rel', x.rel, 'href',
               |    CASE WHEN x.rel = 'root' THEN '../catalog.json'
               |         ELSE regexp_replace(x.href, '.*/', '') END))""".stripMargin))
      .select(col("doc_id"), posexplode(col("links2")).as(Seq("pos", "link")))
      .select(col("doc_id"), col("pos"), col("link.rel").as("rel"), col("link.href").as("href"))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Status-change notification rows — reference
    * `notify_status_update/task.py:63-110` (SNS publish + Slack post when
    * a dataset's step-function state changes). Batch form of the stream
    * detector: one window over (dataset, time) finds every state
    * transition and emits one notification row with the message the
    * reference would post. The streaming twin (flatMapGroupsWithState
    * carrying last-seen state) is spec-tested in `StreamingSpec`.
    */
  private def q70(t: Tables): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    t.events
      .withColumn("from_state", lag(col("event_type"), 1).over(w))
      .filter(col("from_state").isNotNull && col("from_state") =!= col("event_type"))
      .select(
        col("user_id").as("dataset_id"),
        col("event_id"),
        unix_micros(col("ts")).as("at_us"),
        col("from_state"),
        col("event_type").as("to_state"),
        concat(
          lit("dataset "),
          col("user_id").cast("string"),
          lit(": "),
          col("from_state"),
          lit(" -> "),
          col("event_type")).as("message"))
      .orderBy(col("dataset_id"), col("at_us"), col("event_id"))
  }

  /** Version-retention GC planning — the maintenance pass a lake that
    * keeps every dataset version (reference `dataset_versions/create.py`
    * appends forever; `datasets/delete.py` only deletes whole datasets)
    * eventually needs: keep the newest K versions per dataset, report what
    * the rest would reclaim. One window over the (dataset, version-time)
    * log — the same single shuffle as the q22 latest-pointer — then a
    * per-dataset rollup of the tail. Nothing is deleted here; the output
    * is the GC work list (which is exactly how a 100 TB lake runs it:
    * plan as a query, execute as a storage batch job).
    */
  private def q85(t: Tables): DataFrame = {
    // retention depth: the newest 3 versions survive
    val Keep = 3
    val byDataset = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t.events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("vrank", row_number().over(byDataset))
      .filter(col("vrank") > Keep)
      .groupBy(col("user_id").as("dataset_id"))
      .agg(
        count(lit(1)).as("n_gc_versions"),
        round(sum(col("value")), 2).as("reclaim_bytes"),
        min(col("event_id")).as("oldest_version"),
        max(col("event_id")).as("newest_gc_version"))
      .orderBy(col("dataset_id"))
  }

  /** Retention-policy sweep — q85's GC priced at keep ∈ {1, 3, 5} in ONE
    * pass: per policy, datasets touched, versions reclaimed, bytes
    * reclaimed. The table a lake operator reads BEFORE committing a
    * retention config (q85 executes one policy; this prices the
    * alternatives — the same sweep-before-commit shape as q117's dedup
    * τ-pricing and q126's packing sweep). One dataset-keyed rank window
    * (q85's exactly), the ×3 keep explode rides only rows already past
    * the loosest policy (vrank > 1), and the rollup is 3 rows.
    */
  private def q189(t: Tables): DataFrame = {
    val byDataset = Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t.events
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("vrank", row_number().over(byDataset))
      .filter(col("vrank") > 1)
      .select(
        col("user_id"), col("value"), col("vrank"),
        explode(expr("array(CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(5 AS BIGINT))"))
          .as("keep"))
      .filter(col("vrank") > col("keep"))
      .groupBy(col("keep"))
      .agg(
        countDistinct(col("user_id")).as("n_datasets"),
        count(lit(1)).as("n_gc_versions"),
        round(sum(col("value")), 2).as("reclaim_bytes"))
      .orderBy(col("keep"))
  }

  /** Recursive-CTE catalog path rollup (new r16 wave 30 — the engine's
    * native `WITH RECURSIVE` surface, planned as `UnionLoopExec`: q67
    * proves arbitrary-depth traversal as a driver-batched frontier loop,
    * this proves the DECLARATIVE form the SQL standard and the reference's
    * nested-catalog model imply — reference
    * `check_stac_metadata/utils.py:191-258` recurses child links; here the
    * recursion is pushed INTO the engine instead of driven from outside
    * it). Semantics are new, not q67's reachability: each node carries its
    * accumulated ROOT-PATH character mass (Σ n_chars of every ancestor
    * plus itself — the "how much metadata must a client parse to reach
    * this object" number), rolled up per depth into node count and
    * min/total/max path mass. Rides the cycle-free parent tree (doc i>0 is
    * child of (i−1) div 2 — ids are contiguous, so the parent always
    * exists and every document is reached exactly once; UNION ALL
    * recursion over the cyclic q67 link graph would not terminate, which
    * is WHY the visited-set loop exists — the two entries are the two
    * halves of the traversal story). Depth guard 64 mirrors q67's round
    * cap; actual depth is ⌈log₂|docs|⌉ (13 at sf0.1), far under Spark's
    * 100-level recursion default.
    *
    * Scale shape: each UnionLoop iteration joins the previous LEVEL
    * (frontier-sized, halving the corpus each level down) against the
    * child relation on the derived parent key — an equi-join Spark plans
    * per-iteration with AQE, never a rescan of anything but the one
    * parquet relation; the rollup output is ⌈log₂ n⌉ rows. Views are
    * query-prefixed and dropped after analysis (q230's rule: the analyzed
    * plan holds the resolved relation, the session catalog is left as
    * found).
    */
  private def q240(s: SparkSession, d: String): DataFrame = {
    val t = Tables(s, d)
    t.documents.createOrReplaceTempView("graft_q240_documents")
    try s.sql("""
      WITH RECURSIVE reach(node_id, depth, path_chars) AS (
        SELECT CAST(doc_id AS BIGINT), 0, CAST(n_chars AS BIGINT)
        FROM graft_q240_documents WHERE doc_id = 0
        UNION ALL
        SELECT CAST(d.doc_id AS BIGINT), r.depth + 1, r.path_chars + d.n_chars
        FROM reach r JOIN graft_q240_documents d
          ON (d.doc_id - 1) DIV 2 = r.node_id AND d.doc_id > 0
        WHERE r.depth < 64
      )
      SELECT depth, count(*) AS n_nodes,
        min(path_chars) AS min_path_chars,
        sum(path_chars) AS total_path_chars,
        max(path_chars) AS max_path_chars
      FROM reach GROUP BY depth ORDER BY depth""")
    finally s.catalog.dropTempView("graft_q240_documents")
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q85_retention_gc" -> ((s, d) => q85(Tables(s, d))),
    "q240_recursive_paths" -> ((s, d) => q240(s, d)),
    "q189_retention_sweep" -> ((s, d) => q189(Tables(s, d))),
    "q67_catalog_walk" -> ((s, d) => q67(Tables(s, d))),
    "q68_dataset_upsert" -> ((s, d) => q68(Tables(s, d))),
    "q69_href_rewrite" -> ((s, d) => q69(Tables(s, d))),
    "q70_status_notify" -> ((s, d) => q70(Tables(s, d)))
  )

  override def oracleSql: Map[String, String] = Map(
    "q240_recursive_paths" ->
      """WITH RECURSIVE reach(node_id, depth, path_chars) AS (
        | SELECT CAST(doc_id AS BIGINT), 0, CAST(n_chars AS BIGINT)
        | FROM documents WHERE doc_id = 0
        | UNION ALL
        | SELECT CAST(d.doc_id AS BIGINT), r.depth + 1, r.path_chars + d.n_chars
        | FROM reach r JOIN documents d
        |  ON (d.doc_id - 1) // 2 = r.node_id AND d.doc_id > 0
        | WHERE r.depth < 64)
        |SELECT depth, count(*) AS n_nodes,
        | min(path_chars) AS min_path_chars,
        | CAST(sum(path_chars) AS BIGINT) AS total_path_chars,
        | max(path_chars) AS max_path_chars
        |FROM reach GROUP BY depth ORDER BY depth""".stripMargin,
    "q189_retention_sweep" ->
      """WITH v AS (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS vrank
        | FROM events),
        | x AS (
        | SELECT user_id, value, vrank, unnest(ARRAY[CAST(1 AS BIGINT), CAST(3 AS BIGINT), CAST(5 AS BIGINT)]) AS keep
        | FROM v WHERE vrank > 1)
        |SELECT keep, count(DISTINCT user_id) AS n_datasets,
        | count(*) AS n_gc_versions, round(sum(value), 2) AS reclaim_bytes
        |FROM x WHERE vrank > keep
        |GROUP BY keep ORDER BY keep""".stripMargin,
    "q85_retention_gc" ->
      """WITH v AS (
        | SELECT user_id, event_id, value,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS INTEGER) AS vrank
        | FROM events)
        |SELECT user_id AS dataset_id, count(*) AS n_gc_versions,
        | round(sum(value), 2) AS reclaim_bytes,
        | min(event_id) AS oldest_version,
        | max(event_id) AS newest_gc_version
        |FROM v WHERE vrank > 3
        |GROUP BY user_id ORDER BY dataset_id""".stripMargin,
    "q67_catalog_walk" ->
      """WITH RECURSIVE docs AS (SELECT doc_id FROM documents),
        | tree AS (
        |  SELECT doc_id AS src, 2 * doc_id + 1 AS dst FROM docs
        |  UNION ALL SELECT doc_id, 2 * doc_id + 2 FROM docs),
        | edges AS (
        |  SELECT src, dst FROM tree WHERE dst IN (SELECT doc_id FROM docs)
        |  UNION ALL
        |  SELECT doc_id, (doc_id - 1) // 2 FROM docs WHERE doc_id % 17 = 0 AND doc_id > 0),
        | walk(node_id, depth) AS (
        |  SELECT CAST(doc_id AS BIGINT) AS node_id, 0 AS depth FROM docs WHERE doc_id = 0
        |  UNION
        |  SELECT e.dst, w.depth + 1 FROM walk w JOIN edges e ON e.src = w.node_id
        |  WHERE w.depth < 64)
        |SELECT node_id, min(depth) AS depth FROM walk
        |GROUP BY node_id ORDER BY node_id""".stripMargin,
    "q68_dataset_upsert" ->
      """WITH base AS (
        |  SELECT doc_id AS dataset_key, source || '/' || CAST(doc_id AS VARCHAR) AS title,
        |   1 AS revision FROM documents),
        | changes AS (
        |  SELECT doc_id AS dataset_key, source || '-v2' AS title, 2 AS revision
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT -(doc_id + 1), 'new-' || source, 1 FROM documents WHERE doc_id % 10 = 7)
        |SELECT coalesce(c.dataset_key, b.dataset_key) AS dataset_key,
        | coalesce(c.title, b.title) AS title,
        | coalesce(c.revision, b.revision) AS revision,
        | CASE WHEN b.dataset_key IS NULL THEN 'inserted'
        |      WHEN c.dataset_key IS NULL THEN 'unchanged'
        |      ELSE 'updated' END AS action
        |FROM base b FULL OUTER JOIN changes c ON b.dataset_key = c.dataset_key
        |ORDER BY dataset_key""".stripMargin,
    "q69_href_rewrite" ->
      """WITH built AS (
        | SELECT doc_id,
        |  [{'rel': 'self', 'href': 's3://staging/' || source || '/' || CAST(doc_id AS VARCHAR) || '.json'},
        |   {'rel': 'root', 'href': 's3://staging/' || source || '/catalog.json'},
        |   {'rel': 'child', 'href': 's3://staging/' || source || '/' || CAST(doc_id + 1 AS VARCHAR) || '.json'}] AS links
        | FROM documents),
        | rewritten AS (
        | SELECT doc_id,
        |  list_transform(
        |   list_filter(links, x -> x.rel <> 'self'),
        |   x -> {'rel': x.rel,
        |         'href': CASE WHEN x.rel = 'root' THEN '../catalog.json'
        |                      ELSE regexp_replace(x.href, '.*/', '') END}) AS lks
        | FROM built)
        |SELECT doc_id,
        | unnest(list_transform(range(1, len(lks) + 1), i -> CAST(i - 1 AS INTEGER))) AS pos,
        | unnest(list_transform(lks, x -> x.rel)) AS rel,
        | unnest(list_transform(lks, x -> x.href)) AS href
        |FROM rewritten ORDER BY doc_id, pos""".stripMargin,
    "q70_status_notify" ->
      """WITH x AS (
        | SELECT user_id, event_id, ts, event_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_state
        | FROM events)
        |SELECT user_id AS dataset_id, event_id, epoch_us(ts) AS at_us,
        | from_state, event_type AS to_state,
        | 'dataset ' || CAST(user_id AS VARCHAR) || ': ' || from_state || ' -> ' || event_type AS message
        |FROM x WHERE from_state IS NOT NULL AND from_state <> event_type
        |ORDER BY dataset_id, at_us, event_id""".stripMargin
  )
}
