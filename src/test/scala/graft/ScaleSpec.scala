package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-mechanics evidence (SURVEY.md §5): bucketed co-located joins,
  * salted aggregation, AQE presence.
  */
class ScaleSpec extends AnyFunSuite {
  import SparkTestSession._

  test("bucketed tables co-locate: join plans with zero shuffle exchanges") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    assert(warehouse.nonEmpty)
    Tables(spark, sf).orders.write
      .bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables(spark, sf).customer.write
      .bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("customer_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val j = spark
        .table("orders_b")
        .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"))
        .agg(sum(col("o_totalprice")).as("t"))
      val plan = j.queryExecution.executedPlan.toString
      assert(
        !plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q268 computes all IVM terms from one fact join (r17 restructure pin)") {
    // the four (o_old, l_old) delta terms are a disjoint partition of the
    // recompute join the query must pay anyway — the r17 optimization
    // folds them into conditional sums over ONE O⋈L join. Pin the shape:
    // exactly one fact-fact join plus the broadcast dim hop (the pre-r17
    // form planned five fact joins); OperatorSemanticsSpec pins values.
    val df = SparkEntry.queries("q268_ivm_delta")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val fin = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i  => plan.substring(0, i)
    }
    val joins = "SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r.findAllIn(fin).length
    // one O⋈L fact join + the dim attach + the customer⋈nation hop
    // inside dim = 3; the pre-r17 five-branch form planned ≥ 10
    assert(joins <= 3, s"q268 must plan one fact join (+2 dim hops), found $joins joins:\n$fin")
  }

  test("graft.bucketed: real queries plan orderkey-exchange-free with identical answers") {
    // the r16 verdict-#1 pin IN THE QUERY LIBRARY (PlanAudit's `bucketed`
    // mode covers all five claimants): q224's lineitem⋈orders spine and
    // q253's per-order rollup — the exchanges the six SURVEY claims are
    // about — vanish when Tables loads the bucketBy-written facts, and
    // the answers are row-identical to the plain-parquet path
    val tmp = java.nio.file.Files.createTempDirectory("graft_bucketed_spec").toString
    Tables.provisionBucketed(spark, sf, tmp, buckets = 4)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val spine = """Exchange hashpartitioning\([^)]*orderkey""".r
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Seq("q224_lead_time", "q253_line_sequence").foreach { name =>
        val fn = SparkEntry.queries(name)
        spark.conf.set("graft.bucketed", "false")
        val plain = fn(spark, sf)
        assert(spine.findFirstIn(plain.queryExecution.executedPlan.toString).isDefined,
          s"$name plain path has no orderkey exchange to eliminate")
        val plainRows = plain.collect().map(_.toString).sorted.toSeq
        spark.conf.set("graft.bucketed", "true")
        val bucketed = fn(spark, sf)
        val bPlan = bucketed.queryExecution.executedPlan.toString
        assert(spine.findFirstIn(bPlan).isEmpty,
          s"$name still shuffles on the orderkey over bucketed storage:\n$bPlan")
        assert(bPlan.contains("lineitem_b"), s"$name did not read the bucketed table")
        assert(bucketed.collect().map(_.toString).sorted.toSeq == plainRows,
          s"$name answers diverge between bucketed and plain paths")
      }
      // provenance: a session pointing the bucketed loader at a different
      // SF than the provisioned one fails loudly
      spark.conf.set("graft.bucketed", "true")
      intercept[IllegalArgumentException] {
        Tables(spark, "/root/testdata/sf0.01").lineitem
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("graft.bucketed", "false")
      spark.sql(s"DROP TABLE IF EXISTS ${Tables.BucketedLineitem}")
      spark.sql(s"DROP TABLE IF EXISTS ${Tables.BucketedOrders}")
      Util.deleteRecursively(tmp)
    }
  }

  test("runtime bloom-filter injection prunes the fact side of a selective shuffle join") {
    // the 100 TB mechanism the §5 story leans on between bucketing and
    // AQE: a selective dim predicate turns into a bloom filter evaluated
    // ON THE FACT SCAN SIDE before the shuffle, so the exchange carries
    // only candidate rows. Thresholds are lowered because the local
    // fixture is far below the 10 GiB default application-side gate —
    // the INJECTION RULE (InjectRuntimeFilter) is what's being proven,
    // not the size heuristic.
    val t = Tables(spark, sf)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val sel = t.part.filter(col("p_brand") === "Brand#1")
      val j = t.lineitem
        .join(sel, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.executedPlan.toString
      assert(
        plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n${plan.take(3000)}")
      // and the filtered semantics are unchanged
      val n = j.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val direct = t.lineitem
        .join(t.part.filter(col("p_brand") === "Brand#1"), col("l_partkey") === col("p_partkey"))
        .count()
      assert(n("Brand#1") == direct && direct > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }

  test("dynamic partition pruning: a dim filter prunes fact partitions at runtime") {
    // the fourth §5 scale mechanism next to bucketing, salting, and
    // runtime bloom filters: on a PARTITIONED fact table, a selective
    // predicate on the dim side of a partition-key join becomes a runtime
    // partition filter on the fact SCAN — at 100 TB the difference between
    // reading one year and reading the decade. The fact is stored
    // partitioned by order year (the storage layout a date-keyed lake
    // uses); the dim is a year attribute relation filtered to one row.
    Tables(spark, sf).orders
      .withColumn("o_year", year(col("o_orderdate")))
      .write.partitionBy("o_year")
      .mode("overwrite").saveAsTable("orders_part_dpp")
    val yearVals = Tables(spark, sf).orders
      .select(year(col("o_orderdate")).as("yr")).distinct()
      .collect().map(_.getInt(0)).sorted
    val focus = yearVals.max
    // the dim's filter column must be DATA, not an expression over the
    // join key — a literal `yr = X` predicate constant-folds into a
    // STATIC partition filter and DPP never needs to fire (observed);
    // a tag attribute forces the pruning decision to runtime
    spark.createDataFrame(
      yearVals.toSeq.map(y => (y, if (y == focus) "focus" else "other")))
      .toDF("yr", "tag")
      .write.mode("overwrite").saveAsTable("dim_years_dpp")
    val j = spark.table("orders_part_dpp")
      .join(spark.table("dim_years_dpp").filter(col("tag") === "focus"),
        col("o_year") === col("yr"))
      .agg(count(lit(1)).as("n"))
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning in the fact scan:\n${plan.take(3000)}")
    // and the pruned semantics are unchanged
    val n = j.head().getLong(0)
    val direct = spark.table("orders_part_dpp").filter(col("o_year") === focus).count()
    assert(n == direct && n > 0)
  }

  test("Observation collects pipeline metrics in the same pass as the action") {
    // the production-monitoring surface a 100 TB pipeline uses instead
    // of re-running count() per stage: Dataset.observe attaches metric
    // expressions that accumulate DURING the one action, for free
    import org.apache.spark.sql.Observation
    val obs = Observation("gate_metrics")
    val t = Tables(spark, sf)
    val gated = t.documents
      .observe(obs,
        count(lit(1)).as("n_raw"),
        sum(when(col("n_chars") >= 100, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_chars")).as("total_chars"))
      .filter(col("n_chars") >= 100)
    val kept = gated.count() // the ONE action; metrics ride it
    val m = obs.get
    assert(m("n_kept") == kept)
    assert(m("n_raw") == t.documents.count())
    assert(m("total_chars") == t.documents.agg(sum(col("n_chars"))).head().getLong(0))
  }

  test("salted aggregation merges to the same totals as direct groupBy") {
    val li = Tables(spark, sf).lineitem
    val direct = li
      .groupBy(col("l_returnflag").as("key"))
      .agg(sum(col("l_quantity")).as("total"), count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2))))
      .toMap
    val salted = operators.Skew
      .saltedSumCount(li, col("l_returnflag"), col("l_quantity"), saltBuckets = 7)
      .collect()
      .map(r => (r.getString(0), (r.getDouble(1), r.getLong(2))))
      .toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (t, n)) =>
      assert(n == direct(k)._2, s"count mismatch for $k")
      assert(math.abs(t - direct(k)._1) < 1e-6, s"sum mismatch for $k")
    }
  }

  test("q76 under graft.skew.salt: identical top-50, two-stage salted plan") {
    def run() = SparkEntry.queries("q76_heavy_hitters")(spark, sf)
    val direct = run()
    val directRows = direct.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(!direct.queryExecution.executedPlan.toString.contains("__salt"),
      "default plan must not salt")
    spark.conf.set("graft.skew.salt", "8")
    try {
      val salted = run()
      // plan shape: stage 1 groups on (token, __salt), stage 2 merges per
      // token — the hot key is spread across 8 evenly-sized partials
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), s"salted plan missing the salt stage:\n$plan")
      val saltedRows = salted.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(saltedRows == directRows, "salted top-50 diverges from direct")
    } finally spark.conf.unset("graft.skew.salt")
  }

  test("q77 under graft.skew.salt: identical rows, marginal reroutes through the salted two-stage + join") {
    def run() = SparkEntry.queries("q77_bigram_lm")(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    val direct = run()
    assert(!direct.queryExecution.executedPlan.toString.contains("__salt"),
      "default plan must not salt")
    val directRows = rows(direct)
    spark.conf.set("graft.skew.salt", "8")
    try {
      val salted = run()
      val plan = salted.queryExecution.executedPlan.toString
      assert(plan.contains("__salt"), s"salted plan missing the salt stage:\n$plan")
      // the window is gone: the marginal comes back as a JOIN on w1, the
      // skew shape AQE can split at runtime
      assert(!plan.contains("Window"), s"salted path must not keep the w1 window:\n$plan")
      assert(rows(salted) == directRows, "salted bigram LM diverges from direct")
    } finally spark.conf.unset("graft.skew.salt")
  }

  test("q89's canonical-ownership is a join, never a per-line window") {
    // a Zipfian hot line (boilerplate at 100 TB) must land on AQE's
    // skew-join splitting — a Window.partitionBy(line) would pin every
    // occurrence of the hottest line to one task with no runtime remedy
    val df = SparkEntry.queries("q89_line_dedup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"q89 must not window over the line key:\n$plan")
    assert(plan.contains("Join"), "canonical ownership joins on the line key")
  }

  test("q38's mirrored self-join sides reuse one exchange: each kernel runs once") {
    // the LSH verify joins the same kernel-derived frame on both sides
    // (minhash sigs for candidates, shingle sets for a/b). AQE dedupes the
    // mirrored exchanges ONLY while the kernels canonicalize equal — if a
    // refactor breaks Expression equality (e.g. an Array-typed field),
    // corpus-wide kernel work and shuffle bytes silently DOUBLE at 100 TB.
    // Pin the reuse on the executed final plan, auto-broadcast off.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q38_ngram_jaccard")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val fin = plan.indexOf("== Initial Plan ==") match {
        case -1 => plan
        case i  => plan.substring(0, i)
      }
      assert(fin.contains("isFinalPlan=true") || fin.contains("Final Plan"),
        s"expected an executed adaptive plan:\n$fin")
      val reused = "ReusedExchange".r.findAllIn(fin).length
      assert(reused >= 2, s"expected both mirrored exchanges reused, got $reused:\n$fin")
      assert("minhash_sigs".r.findAllIn(fin).length == 1, "minhash kernel must run once")
      assert("shingle_set".r.findAllIn(fin).length == 1, "shingle kernel must run once")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q92's pair and size branches reuse one shingle derivation at runtime") {
    // both branches of q92 (per-shingle membership pairs, per-source set
    // sizes) hang off the same distinct (source, shingle) relation — AQE
    // must dedupe the mirrored exchanges or the corpus-wide shingle kernel
    // and distinct shuffle run twice at 100 TB
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q92_source_overlap")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val fin = plan.indexOf("== Initial Plan ==") match {
        case -1 => plan
        case i  => plan.substring(0, i)
      }
      assert(fin.contains("isFinalPlan=true") || fin.contains("Final Plan"),
        s"expected an executed adaptive plan:\n$fin")
      assert("ReusedExchange".r.findAllIn(fin).length >= 1,
        s"expected the distinct (source, shingle) exchange reused:\n$fin")
      assert("shingle_set".r.findAllIn(fin).length == 1,
        "shingle kernel must run once")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q95's sketch and audit branches share the corpus derivation at runtime") {
    // q95 hangs three consumers off the distinct (source, shingle)
    // relation: the bottom-k sketch aggregate, q92's membership pairs,
    // and the set sizes. The kernel+distinct must run once, not per
    // branch.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q95_overlap_sketch")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val fin = plan.indexOf("== Initial Plan ==") match {
        case -1 => plan
        case i  => plan.substring(0, i)
      }
      assert(fin.contains("isFinalPlan=true") || fin.contains("Final Plan"),
        s"expected an executed adaptive plan:\n$fin")
      val kernels = "shingle_set".r.findAllIn(fin).length
      assert(kernels == 1, s"shingle kernel must run once, ran $kernels times")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q143's per-source and totals branches reuse one spread derivation at runtime") {
    // both consumers of the joint membership-set relation (the
    // (split, source) pair rollup and the per-split leaked totals) hang
    // off the same h-keyed aggregate — AQE must dedupe the mirrored
    // exchanges or the corpus-wide window kernel and its shuffle run
    // twice at 100 TB
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q143_leakage_by_source")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val fin = plan.indexOf("== Initial Plan ==") match {
        case -1 => plan
        case i  => plan.substring(0, i)
      }
      assert("ReusedExchange".r.findAllIn(fin).length >= 1,
        s"expected the h-keyed spread exchange reused:\n$fin")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("q142 plants pairs doc-keyed: no join anywhere in the plan") {
    // the planted pair compares both signature vectors inside ONE
    // projection — any Join node means the audit regressed to a pair join
    val plan = SparkEntry.queries("q142_planted_recall")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"q142 must not join:\n$plan")
  }

  test("q106's ownership branch carries no gate kernel: shingle_set runs once") {
    // the canonical branch is a slim (md5, min doc_id) derivation — the
    // gate verdict is text-determined, so re-running the quality kernel on
    // the ownership side would be pure waste; pin that it never creeps in
    val df = SparkEntry.queries("q106_curation_funnel")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val fin = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i  => plan.substring(0, i)
    }
    val kernels = "shingle_set".r.findAllIn(fin).length
    assert(kernels == 1, s"gate kernel must run once, ran $kernels times")
  }

  test("q107's asymmetric probe signs each side once: minhash kernel appears exactly twice") {
    // base index + incoming probe each compute signatures over THEIR half —
    // together one kernel pass over the corpus. A third occurrence means a
    // branch re-derives a side (e.g. the near-id distinct re-signing the
    // batch), which doubles kernel work at 100 TB.
    val df = SparkEntry.queries("q107_delta_dedup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val fin = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i  => plan.substring(0, i)
    }
    val kernels = "minhash_sigs".r.findAllIn(fin).length
    assert(kernels == 2, s"minhash kernel must run once per side, found $kernels")
  }

  test("q107 under graft.delta.bloom: identical classification, bloom pre-filter in plan") {
    // the beyond-memory path: a Bloom sketch of the base hash set probes
    // the arriving side BEFORE the exact join; false positives re-check
    // through that join, misses skip it entirely — so the rollup must be
    // bit-identical with the conf on, and the probe must actually be in
    // the plan (not just documented)
    def run() = SparkEntry.queries("q107_delta_dedup")(spark, sf)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val direct = run()
    assert(!direct.queryExecution.executedPlan.toString.contains("might_contain"),
      "default plan must not carry the bloom probe")
    val directRows = rows(direct)
    spark.conf.set("graft.delta.bloom", "true")
    try {
      val bloomed = run()
      val plan = bloomed.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"), s"bloom pre-filter missing from plan:\n$plan")
      assert(rows(bloomed) == directRows, "bloom path diverges from the exact classification")
    } finally spark.conf.unset("graft.delta.bloom")
  }

  test("q101's within-cluster self-join reads the embedding table once per side at most") {
    // the pair join's two sides are the same (label, vec_id, v) relation —
    // the wide vector column must not be scanned more than twice (once per
    // join side); a regression that re-derives a side (e.g. for the size
    // rollup) would re-read corpus×dim floats
    val df = SparkEntry.queries("q101_semdedup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val fin = plan.indexOf("== Initial Plan ==") match {
      case -1 => plan
      case i  => plan.substring(0, i)
    }
    val reused = "ReusedExchange".r.findAllIn(fin).length
    val scans = "Scan parquet".r.findAllIn(fin).length
    assert(reused >= 1 || scans <= 2,
      s"embedding scan fans out: $scans scans, $reused reuses\n$fin")
  }

  test("q111's doc_id join goes exchange-free on co-bucketed tables, as the docstring promises") {
    // q111 joins the gated documents projection to (vec_id, label) on the
    // id; its docstring claims "at 100 TB co-bucket both tables on the id
    // to make the join exchange-free". Prove it end-to-end: write both
    // sides bucketed by the join id, run q111's join+rollup tail, and pin
    // that the ONLY hash exchange left is the |labels|-keyed rollup — the
    // corpus-scale doc_id shuffle is gone.
    Tables(spark, sf).documents
      .select(col("doc_id"), col("n_chars")).write
      .bucketBy(8, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("docs_q111_b")
    Tables(spark, sf).embeddings
      .select(col("vec_id").as("doc_id"), col("label")).write
      .bucketBy(8, "doc_id").sortBy("doc_id")
      .mode("overwrite").saveAsTable("emb_q111_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val j = spark.table("emb_q111_b")
        .join(spark.table("docs_q111_b"), Seq("doc_id"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      val plan = j.queryExecution.executedPlan.toString
      val hashExchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(hashExchanges == 1,
        s"expected only the label-rollup exchange, got $hashExchanges:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(doc_id"),
        s"the doc_id join still shuffles on bucketed tables:\n$plan")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("per-source selection runs on the bounded bottom-k aggregate, never a source window") {
    // q91/q94/q95 select or bound per SOURCE — a key set of a handful of
    // values. Window.partitionBy(source) would funnel the whole corpus
    // into |sources| reducers (AQE cannot split a window partition); the
    // BottomK/percentile groupBy shape partial-aggregates map-side, so
    // only size-k buffers (or percentile sketches) shuffle. Pin: no
    // Window operator anywhere in these plans, and the typed aggregate
    // runs as ObjectHashAggregate with a partial stage below the
    // exchange.
    for (q <- Seq("q91_length_outliers", "q94_balanced_cap", "q95_overlap_sketch")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$q funnels the corpus through a source window:\n$plan")
    }
    for (q <- Seq("q94_balanced_cap", "q95_overlap_sketch")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("partial_bottomk"),
        s"$q lost the map-side partial bottom-k stage:\n$plan")
    }
  }

  test("graft.local.split gates the local-mode repartition crutch, default off") {
    val docs = Tables(spark, sf).documents
    def hasRepartition(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.logical.toString.contains("RepartitionByExpression")
    // default: no conf set → the plan must carry NO corpus-wide shuffle
    assert(!hasRepartition(Tables.localSplit(docs, col("doc_id"))))
    spark.conf.set("graft.local.split", "true")
    try assert(hasRepartition(Tables.localSplit(docs, col("doc_id"))))
    finally spark.conf.unset("graft.local.split")
    // and a representative map-side operator inherits the default-off plan
    val q36 = SparkEntry.queries("q36_minhash_sigs")(spark, sf)
    assert(!hasRepartition(q36))
  }

  test("adaptive query execution is on in the bench/verify sessions") {
    // Bench/Verify build their own sessions with AQE; the shared test
    // session inherits Spark 4 defaults where AQE is enabled.
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("SynthSource drives a 2M-doc dedup-shaped pipeline storage-free") {
    // the scale-probe path (r16): the DSv2 generator stands in for a
    // corpus 400x the sf0.1 testdata WITHOUT materializing it, and the
    // representative pipeline keeps the map-side-partial shapes the real
    // operators use — the substrate evidence that the q35/q32-class plans
    // survive a row-count jump, not a wall-clock benchmark (this box's
    // CPU quota makes timing assertions flaky by design)
    val n = 2000000L
    val docs = spark.read.format("graft.sources.SynthSource")
      .option("rows", n.toString).option("partitions", "32").load()
    // exact-dedup rollup (q35's shape): hash-groupBy on content
    val dup = docs
      .select(md5(col("text")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("n_distinct"), sum(col("c")).as("n_docs"))
      .head()
    assert(dup.getAs[Long]("n_docs") == n)
    assert(dup.getAs[Long]("n_distinct") > 0L && dup.getAs[Long]("n_distinct") <= n)
    // token-count + gate (q32/q84's map-side shape): one pass, no shuffle
    // beyond the single-row fold
    val toks = docs
      .select(size(split(col("text"), " ")).cast("long").as("t"))
      .agg(sum(col("t")).as("total"), count(lit(1)).as("rows"))
      .head()
    assert(toks.getAs[Long]("rows") == n)
    // generator contract: 8..32 words per doc
    assert(toks.getAs[Long]("total") >= 8 * n && toks.getAs[Long]("total") <= 32 * n)
  }

  test("ScaleProbe replicas get disjoint key ranges; a base key at the offset fails loudly") {
    import spark.implicits._
    val ok = ScaleProbe.replicate(Seq(1L, ScaleProbe.KeyOffset - 1).toDF("k"), "k", 2)
    assert(ok.select(col("k")).as[Long].collect().sorted.toSeq ==
      Seq(1L, ScaleProbe.KeyOffset - 1, ScaleProbe.KeyOffset + 1, 2 * ScaleProbe.KeyOffset - 1))
    val e = intercept[IllegalArgumentException](
      ScaleProbe.replicate(Seq(7L, ScaleProbe.KeyOffset).toDF("k"), "k", 2))
    assert(e.getMessage.contains("overlap"), e.getMessage)
  }
}
