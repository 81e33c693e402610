package graft.operators

import graft.{QueryModule, Tables}
import graft.functions.GraftFunctions.cosine_sim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.E — similarity search over the embedding column.
  *
  * All cosine math runs in double with fixed left-to-right accumulation so
  * both engines produce the same bits; outputs carry round(·,6). Scale
  * shape: q40/q43 broadcast the (small) query set against the corpus,
  * q41 is the exactness baseline, q42 is the 100 TB path — sign-LSH
  * buckets so the self-join shuffles corpus²/buckets, not corpus².
  */
object Similarity extends QueryModule {

  private val Dim = 64

  // raw float[] vectors; the cosine kernel (graft.functions.CosineSim,
  // native codegen) widens to double and accumulates left-to-right, so
  // results are bit-identical to the oracle's double formula.
  private def vectors(t: Tables): DataFrame = t.embeddings.withColumnRenamed("embedding", "v")

  /** Brute-force cosine top-k: the correctness baseline every ANN variant
    * is judged against. Query set broadcasts; the corpus is scanned once.
    */
  private def q40(t: Tables): DataFrame = {
    val corpus = vectors(t)
    val queries = corpus
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    corpus
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= 5)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"), col("nn_rank"))
      .orderBy(col("query_id"), col("nn_rank"))
  }

  /** All near-dup pairs ≥ 0.35 cosine — exact all-pairs baseline (the
    * bucketed q42 is the production path at scale).
    */
  private def q41(t: Tables): DataFrame = {
    val e = vectors(t).select(col("vec_id"), col("v"))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    a.crossJoin(broadcast(b))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(cosine_sim(col("va"), col("vb")), 6))
      .filter(col("cos_sim") >= 0.35)
      .select(col("id_a"), col("id_b"), col("cos_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Sign-LSH tuning, runtime-configurable (no recompile at scale):
    *
    *   - `graft.ann.signBits` (default 8): bucket count = 2^bits, so pair
    *     work in the bucketed self-join is ~corpus²/2^bits. At 100 TB set
    *     ~log2(n/target_occupancy) — 16+ bits for billions of rows.
    *   - `graft.ann.signProjections` (default 2): K independent sign
    *     projections whose candidate sets are unioned, exactly like q37's
    *     minhash bands — raising bits cuts per-bucket cost, raising K
    *     recovers the recall that sharper buckets lose.
    *
    * Each projection p reads its own coordinate window (dims p·bits+1 …
    * p·bits+bits, mod Dim) — an axis-aligned random-hyperplane family,
    * deterministic so the oracle renders the identical bit layout.
    */
  private val DefaultSignBits = 8
  private val DefaultSignProjections = 2

  private def signBucket(elem: Int => String, bits: Int, proj: Int): String =
    (0 until bits)
      .map { i =>
        val dim = (proj * bits + i) % Dim + 1
        s"(CASE WHEN ${elem(dim)} >= 0 THEN ${1 << (bits - 1 - i)} ELSE 0 END)"
      }
      .mkString(" +\n")

  /** Sign-LSH ANN, candidate-bounded (q38's shape): slim (proj, bucket,
    * vec_id) rows self-join per projection, candidate pairs dedup across
    * projections, and only then do two key-joins fetch the vectors for the
    * cosine pass — a hot bucket never drags 2·|v| floats per pair through
    * the shuffle, and pair work is Θ(Σ bucket²) over K·2^bits buckets.
    */
  private def q42(t: Tables): DataFrame = {
    val bits = t.spark.conf.get("graft.ann.signBits", DefaultSignBits.toString).toInt
    val projs = t.spark.conf.get("graft.ann.signProjections", DefaultSignProjections.toString).toInt
    require(bits >= 1 && bits <= 30, s"graft.ann.signBits out of range: $bits")
    require(projs >= 1 && projs <= Dim, s"graft.ann.signProjections out of range: $projs")
    val e = vectors(t)
    val bucketCols = (0 until projs).map(p => expr(signBucket(i => s"element_at(v, $i)", bits, p)))
    val keyed = e.select(col("vec_id"), posexplode(array(bucketCols: _*)).as(Seq("proj", "bucket")))
    val cand = keyed
      .join(
        keyed.select(col("proj").as("p2"), col("bucket").as("b2"), col("vec_id").as("qid")),
        col("proj") === col("p2") && col("bucket") === col("b2"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    cand
      .join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= 3)
      .select(col("qid").as("query_id"), col("vec_id").as("neighbor_id"), col("cos_sim"), col("nn_rank"))
      .orderBy(col("query_id"), col("nn_rank"))
  }

  /** Sign-LSH calibration audit (Charikar 2002's SimHash angle estimator
    * graded against measured cosines — new r16; the q181/q115-class
    * quality arm for q42's sketch): over the q115 query sample, every
    * (query, other) pair's 16-bit sketch Hamming distance vs its true
    * cosine — per Hamming bucket, pairs, the measured mean cosine (e6),
    * and the random-hyperplane theory value cos(π·h/16) (e6). Probed:
    * the measured curve is monotone in h (the sketch RANKS correctly —
    * q42's candidate recall is sound) while sitting far inside the
    * theory envelope (0.12 vs 0.98 at h=1): the axis-aligned projections
    * are a valid bucketing hash but NOT an angle estimator — the audit
    * that says "bucket with it, never score with it".
    *
    * Numerics: cosines round to 6dp (the family contract), shift by +1e6
    * for the signed integer mean (q158's rule); the theory column is the
    * family's single-transcendental cos written character-identically —
    * evaluated only on the 17 constant grid points. Hamming is exact
    * integer bit_count over XOR.
    *
    * Scale shape: q115's declared sample-bounded brute class — the
    * |Q|-row query set broadcasts and pair work is |Q|·n, never n²; the
    * bucket rollup collapses onto ≤ 17 keys map-side.
    */
  private def q226(t: Tables): DataFrame = {
    val bits = DefaultSignBits
    val projs = DefaultSignProjections
    val sketch = (0 until projs)
      .map(p => s"(${signBucket(i => s"element_at(v, $i)", bits, p)}) * ${1L << ((projs - 1 - p) * bits)}")
      .mkString(" + ")
    val e = vectors(t).select(col("vec_id"), col("v")).withColumn("sk", expr(sketch))
    val qset = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("sk").as("qsk"))
    e.join(broadcast(qset), col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .select(
        expr("bit_count(sk ^ qsk)").cast("long").as("h"),
        expr("CAST(floor(cos_sim * 1000000 + 0.5) AS BIGINT)").as("c_e6"))
      .groupBy(col("h"))
      .agg(
        count(lit(1)).as("n_pairs"),
        expr("(2 * sum(c_e6 + 1000000) + count(1)) DIV (2 * count(1)) - 1000000")
          .as("mean_cos_e6"))
      .withColumn(
        "theory_cos_e6",
        expr(s"CAST(floor(cos(CAST(h AS DOUBLE) * pi() / ${bits * projs}) * 1000000 + 0.5) AS BIGINT)"))
      .select(col("h"), col("n_pairs"), col("mean_cos_e6"), col("theory_cos_e6"))
      .orderBy(col("h"))
  }

  /** Matryoshka dimension-truncation fidelity (Kusupati et al. 2022's
    * MRL question asked of a STORED index: how much ranking quality
    * survives if the 64-d embeddings are truncated to their 8/16/32-d
    * prefixes — the storage/recall dial a 100 TB vector lake tunes
    * before anything else, since a d/8 prefix is an 8× smaller index):
    * per truncation dim, sample queries, mean recall@10 of the
    * truncated ranking against the full-dim top-10 (e4), and the mean
    * Kendall tau between the full-dim ORDER of the top-10 and their
    * order under the truncated metric (e4) — set overlap says the right
    * docs surface, tau says they surface in the right ORDER (q256's
    * set-vs-order distinction, applied to the truncation axis). The
    * d=64 row runs through the same machinery and must come out exactly
    * (10000, 10000) — the identity anchor, spec-pinned.
    *
    * Numerics: cosines round to 6dp (family contract) with vec_id
    * tie-break, so ranks are deterministic integers; per-query C−D is
    * exact integer pair-counting over those ranks (no tie class: ranks
    * are a permutation of 1..10 by construction); only the two MEANS
    * touch doubles — one multiply + one divide on exact integers, then
    * half-up floor (the one-transcendental-class rule).
    *
    * Scale shape: ONE |Q|·n broadcast sample cross computes all four
    * cosines per pair in a single scan (declared truth-baseline class,
    * q115/q226's precedent — at index scale the truncated rankings come
    * from the IVF/PQ stores instead); the ×4 dim explode and both rank
    * windows ride the sample relation keyed on (qid, d); the tau pair
    * join runs on the |Q|·4·10 top-set (45 pairs per group).
    */
  /** Johnson–Lindenstrauss random-projection distortion audit (Johnson &
    * Lindenstrauss 1984; Achlioptas 2003 proved the database-friendly
    * ±1 form used here) — the data-INDEPENDENT dimension-reduction twin
    * of q269's Matryoshka truncation: project the 64-d embeddings to
    * k ∈ {4, 8, 16, 32} dims with a seedless ±1 sign matrix and measure,
    * over a fixed sample-pair grid, the squared-distance distortion
    * ratio ‖Pd‖²/(k·‖d‖²) — E[ratio] = 1 for ANY data (the JL
    * unbiasedness), with concentration tightening as k grows (the JL
    * lemma); the table says which k preserves neighborhoods well enough
    * to run ANN on.
    *
    * Exactness: ALL-INTEGER — each coordinate quantizes to e4 longs
    * first (the repo's float-order rule: never sum doubles across rows),
    * so difference vectors, sign-projected coordinates and both squared
    * norms are exact long sums; the per-pair ratio and the per-k mean
    * are half-up e6. Signs are the parity of md5(i||'_'||j)'s first hex
    * digit (q38's ascii-hex arithmetic) — a LINEAR-congruential sign
    * grid was probed first and REJECTED: its rows are rotations of one
    * base sequence, the projections correlate, and within-band
    * concentration stalls at ~50% where md5 signs reach 99% at k=32.
    * The 32 projections are computed ONCE; arm k scores its PREFIX
    * (the same nesting as Matryoshka truncation — one projection pass
    * serves every k). Scale shape: the pair grid is a declared
    * broadcast sample cross (q269's class) — production projects once
    * and stores; the dim explode joins the broadcast 2048-row sign
    * matrix and collapses map-side onto (pair, j).
    */
  private def q281(t: Tables): DataFrame = {
    val ks = Seq(4, 8, 16, 32)
    val hx = "ascii(substr(md5(concat(i, '_', j)), 1, 1))"
    val signs = t.spark.range(32).select(col("id").cast("int").as("j"))
      .select(col("j"), explode(expr(s"sequence(0, ${Dim - 1})")).as("i"))
      .withColumn("s", expr(
        s"CASE WHEN (CASE WHEN $hx >= 97 THEN $hx - 87 ELSE $hx - 48 END) % 2 = 0 " +
          "THEN 1L ELSE -1L END"))
    val quant = "transform(embedding, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))"
    val s = t.embeddings.filter(col("vec_id") < 48)
      .select(col("vec_id"), expr(quant).as("vq"))
    val dims = s.select(col("vec_id").as("ida"), col("vq").as("va"))
      .join(broadcast(s.select(col("vec_id").as("idb"), col("vq").as("vb"))),
        col("ida") < col("idb"))
      .withColumn("d", expr("zip_with(va, vb, (x, y) -> x - y)"))
      .withColumn("dist2", expr("aggregate(d, 0L, (acc, x) -> acc + x * x)"))
      .filter(col("dist2") > 0)
      .select(col("ida"), col("idb"), col("dist2"),
        posexplode(col("d")).as(Seq("i", "di")))
    val proj = dims.join(broadcast(signs), Seq("i"))
      .groupBy(col("ida"), col("idb"), col("dist2"), col("j"))
      .agg(sum(col("s") * col("di")).as("pj"))
    val arms = proj.select(col("ida"), col("idb"), col("dist2"), col("j"), col("pj"),
        explode(array(ks.map(lit(_)): _*)).as("k"))
      .filter(col("j") < col("k"))
      .groupBy(col("ida"), col("idb"), col("k"), col("dist2"))
      .agg(sum(col("pj") * col("pj")).as("pd2"))
      .withColumn("ratio_e6", expr(
        "(2 * 1000000 * pd2 + k * dist2) DIV (2 * k * dist2)"))
    arms.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("(2 * sum(ratio_e6) + count(1)) DIV (2 * count(1))").as("mean_ratio_e6"),
        min(col("ratio_e6")).as("min_ratio_e6"),
        max(col("ratio_e6")).as("max_ratio_e6"),
        expr("(2 * 1000000 * sum(CASE WHEN ratio_e6 BETWEEN 500000 AND 1500000 " +
          "THEN 1 ELSE 0 END) + count(1)) DIV (2 * count(1))").as("within_band_e6"))
      .orderBy(col("k"))
  }

  /** Gonzalez farthest-point k-center seeding (Gonzalez 1985 — the
    * 2-approximation greedy every coreset/diversity-selection pipeline
    * starts from, and the seeding k-means++ descends from): pick an
    * arbitrary first center (min vec_id), then K−1 times pick the point
    * FARTHEST from its nearest chosen center; after each round report
    * the covering radius max_v min_c d²(v, c). The guarantee is
    * machine-checkable from the output alone: the k+1 picks are
    * pairwise ≥ r_k apart, so ANY k-clustering co-locates two of them
    * and OPT ≥ r_k/2 — greedy is within 2× of optimal, certified by its
    * own trajectory (the spec pins the pairwise-separation invariant).
    *
    * Exactness: q281's e4-quantized coordinates make every distance an
    * exact long; argmax ties break on vec_id. Scale shape: K
    * plan-unrolled rounds (q272's pattern — K is a constant, never
    * data-dependent); each round is ONE broadcast of the 1-row new
    * center onto the running min-distance relation (O(n) work per
    * round, no pairwise materialization) + a TakeOrdered pick and a
    * 1-row radius agg.
    */
  private def q282(t: Tables): DataFrame = {
    val K = 4
    val quant = "transform(embedding, x -> CAST(floor(x * 10000 + 0.5) AS BIGINT))"
    val e = t.embeddings.select(col("vec_id"), expr(quant).as("vq"))
    val d2 = "aggregate(zip_with(vq, cv, (x, y) -> x - y), 0L, (acc, z) -> acc + z * z)"
    var cur = e.orderBy(col("vec_id")).limit(1)
      .select(col("vec_id").as("cid"), col("vq").as("cv"))
    var dist: DataFrame = null
    var out: DataFrame = null
    for (k <- 1 to K) {
      // cut lineage per round (q62/q263's loop discipline): each round's
      // running min-distance relation feeds THREE consumers — the radius
      // agg, the next argmax pick, and the next round's update — so
      // uncut, every branch re-printed (and re-ran) the whole crossJoin
      // chain back to round 1; checkpointed, a round is one O(n)
      // broadcast-update over the materialized relation.
      dist = graft.Iterate.cutLineage(
        if (k == 1)
          e.crossJoin(broadcast(cur))
            .select(col("vec_id"), col("vq"), expr(d2).as("dmin"))
        else
          dist.crossJoin(broadcast(cur))
            .select(col("vec_id"), col("vq"),
              least(col("dmin"), expr(d2)).as("dmin")))
      val row = cur.select(lit(k).as("k"), col("cid").as("center_id"))
        .crossJoin(dist.agg(max(col("dmin")).as("radius2")))
      out = if (out == null) row else out.unionByName(row)
      if (k < K)
        cur = dist.orderBy(col("dmin").desc, col("vec_id")).limit(1)
          .select(col("vec_id").as("cid"), col("vq").as("cv"))
    }
    out.orderBy(col("k"))
  }

  private def q269(t: Tables): DataFrame = {
    val dims = Seq(8, 16, 32, 64)
    val e = vectors(t)
    val q = e.filter(col("vec_id") < 16).select(col("vec_id").as("qid"), col("v").as("qv"))
    val cand = e
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(Seq(col("qid"), col("vec_id")) ++ dims.map(d =>
        round(cosine_sim(slice(col("qv"), 1, d), slice(col("v"), 1, d)), 6).as(s"c$d")): _*)
    val wFull = Window.partitionBy(col("qid")).orderBy(col("c64").desc, col("vec_id"))
    val byDim = cand
      .withColumn("rk_full", row_number().over(wFull))
      .select(
        col("qid"), col("vec_id"), col("rk_full"),
        explode(array(dims.map(d =>
          struct(lit(d).as("d"), col(s"c$d").as("cosd"))): _*)).as("x"))
      .select(col("qid"), col("vec_id"), col("rk_full"), col("x.d"), col("x.cosd"))
    val wD = Window.partitionBy(col("qid"), col("d")).orderBy(col("cosd").desc, col("vec_id"))
    val ranked = byDim.withColumn("rk_d", row_number().over(wD))
    val hits = ranked
      .groupBy(col("d"))
      .agg(
        countDistinct(col("qid")).as("n_queries"),
        sum(when(col("rk_full") <= 10 && col("rk_d") <= 10, 1L).otherwise(0L)).as("hits"))
    // the full-dim top-10, re-ranked among THEMSELVES under each metric
    val wSet = Window.partitionBy(col("qid"), col("d")).orderBy(col("cosd").desc, col("vec_id"))
    val top = ranked
      .filter(col("rk_full") <= 10)
      .withColumn("rr", row_number().over(wSet))
      .select(col("qid"), col("d"), col("rk_full"), col("rr"))
    val cd = top.as("a")
      .join(top.as("b"),
        col("a.qid") === col("b.qid") && col("a.d") === col("b.d") &&
          col("a.rk_full") < col("b.rk_full"))
      .groupBy(col("a.d").as("d"))
      .agg(sum(when(col("b.rr") > col("a.rr"), 1L).otherwise(-1L)).as("sum_cd"))
    hits
      .join(cd, Seq("d"))
      .withColumn(
        "mean_recall_e4",
        expr("(2 * 10000 * hits + 10 * n_queries) DIV (2 * 10 * n_queries)"))
      .withColumn(
        "mean_tau_e4",
        expr("CAST(floor(sum_cd * 10000.0 / (45.0 * n_queries) + 0.5) AS BIGINT)"))
      .select(col("d"), col("n_queries"), col("mean_recall_e4"), col("mean_tau_e4"))
      .orderBy(col("d"))
  }

  /** Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    * Goldstein 1998, λ = 0.7, 4 greedy picks from the top-20 relevance
    * pool — the DIVERSIFICATION closure of the retrieval family:
    * q40/q256 rank by pure relevance, q150 measures source diversity
    * after the fact; MMR is the operator that TRADES the two, the
    * rerank every RAG/retrieval stack runs so the context window isn't
    * four near-copies of the same document): per sample query
    * (vec_id < 16) and pick 1..4, the selected vector, its relevance
    * (e6 cosine), and the marginal score that won the pick
    * (×10 e6: 7·rel − 3·max-sim-to-already-selected; pick 1 is pure
    * relevance, the standard seed).
    *
    * Exactness: relevance and pairwise similarity quantize half-up to
    * exact e6 longs straight off the cosine (q226's rule), so every
    * marginal score is
    * the INTEGER 7·rel_e6 − 3·maxsim_e6 and each argmax breaks ties by
    * vec_id — the greedy trajectory is a deterministic function of the
    * integer inputs on both engines (the oracle unrolls the same four
    * steps as CTEs, q263's unrolled-iteration precedent).
    *
    * Scale shape: ONE |Q|·n broadcast sample cross (declared
    * truth-baseline class) feeds the top-20 pool window; the pool's
    * pairwise-similarity grid is |Q|·20² and every greedy round is a
    * join+argmax on that bounded relation — the loop unrolls in the
    * PLAN (4 rounds), never in a driver collect.
    */
  private def q272(t: Tables): DataFrame = {
    val e = vectors(t)
    val q = e.filter(col("vec_id") < 16).select(col("vec_id").as("qid"), col("v").as("qv"))
    def cosE6(a: Column, b: Column): Column =
      floor(cosine_sim(a, b) * 1000000 + 0.5).cast("long")
    // ONE pool derivation feeds the seed, every greedy round, and the
    // pairwise grid: checkpoint it (|Q|·20 rows) so the unrolled rounds
    // join a materialized relation instead of re-printing the sample
    // cross per round (q263's loop discipline — uncut, the 4-round plan
    // printed 145 textual exchanges)
    val pool0 = graft.Iterate.cutLineage(
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("rel_e6", cosE6(col("qv"), col("v")))
        .withColumn(
          "rk",
          row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("rel_e6").desc, col("vec_id"))))
        .filter(col("rk") <= 20)
        .select(col("qid"), col("vec_id"), col("v"), col("rel_e6")))
    val members = pool0.select(col("qid"), col("vec_id"), col("rel_e6"))
    val sims = graft.Iterate.cutLineage(
      pool0.as("x")
        .join(pool0.select(col("qid").as("sq"), col("vec_id").as("sid"), col("v").as("sv")).as("y"),
          col("qid") === col("sq") && col("vec_id") =!= col("sid"))
        .select(col("qid"), col("vec_id").as("cid"), col("sid"),
          cosE6(col("v"), col("sv")).as("sim_e6")))
    val seed = members
      .withColumn(
        "pk",
        row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("rel_e6").desc, col("vec_id"))))
      .filter(col("pk") === 1)
      .select(col("qid"), col("vec_id"), lit(1L).as("pick"), col("rel_e6"),
        (col("rel_e6") * 7).as("score_x10_e6"))
    var selected = seed
    for (k <- 2 to 4) {
      val selSet = selected.select(col("qid").as("zq"), col("vec_id").as("zid"))
      val maxSim = sims
        .join(selSet, col("qid") === col("zq") && col("sid") === col("zid"))
        .groupBy(col("qid").as("mq"), col("cid"))
        .agg(max(col("sim_e6")).as("maxsim_e6"))
      val pick = members
        .join(selSet, col("qid") === col("zq") && col("vec_id") === col("zid"), "left_anti")
        .join(maxSim, col("qid") === col("mq") && col("vec_id") === col("cid"))
        .withColumn("score_x10_e6", col("rel_e6") * 7 - col("maxsim_e6") * 3)
        .withColumn(
          "pk",
          row_number().over(
            Window.partitionBy(col("qid")).orderBy(col("score_x10_e6").desc, col("vec_id"))))
        .filter(col("pk") === 1)
        .select(col("qid"), col("vec_id"), lit(k.toLong).as("pick"), col("rel_e6"),
          col("score_x10_e6"))
      // cut per round: the selected set feeds both the anti-join and the
      // max-sim probe of every LATER round — uncut its plan doubles per
      // iteration (q62/q263's loop discipline; |Q|·k rows)
      selected = graft.Iterate.cutLineage(selected.unionAll(pick))
    }
    selected.orderBy(col("qid"), col("pick"))
  }

  /** Graded retrieval-quality scorecard — nDCG@10 + MRR@10 of the
    * sign-LSH ANN against exact-cosine truth (Järvelin & Kekäläinen
    * 2002; new r17 — the RANKED-eval closure of the recall family:
    * q115/q211 grade set overlap, q170 margins, q226 the hash's angle
    * fidelity; this grades the ORDER the index returns, which is what a
    * retrieval consumer actually sees): per sample query (vec_id < 32),
    * candidates retrieved, relevant-in-top-10 (relevance graded by exact
    * truth position: gain = 11 − truth_rank), first-hit rank, reciprocal
    * rank e6, DCG/IDCG/nDCG e6. A query whose buckets yield nothing
    * reports zeros — the honest miss, not a dropped row.
    *
    * Numerics: cosines round to 6dp (family contract) with vec_id
    * tie-break; each DCG term quantizes e6 HALF-UP before the sum
    * (q151's rule) with the family's log2; IDCG is the same expression
    * over ranks 1..10 evaluated in-engine on both sides (never a
    * driver-computed constant — JVM log vs libm log2 may differ in the
    * last ulp); nDCG is one half-up integer division.
    *
    * Scale shape: the truth branch is the q115/q226 declared |Q|·n
    * broadcast sample cross; the retrieved branch is q42's
    * candidate-bounded bucket join with the query side pre-filtered to
    * the sample; everything after is |Q|·10-scale.
    */
  private def q256(t: Tables): DataFrame = {
    val e = vectors(t)
    val qset = e.filter(col("vec_id") < 32)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wQ = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    val truth = e.join(broadcast(qset), col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("truth_rank", row_number().over(wQ))
      .filter(col("truth_rank") <= 10)
      .select(col("qid"), col("vec_id"), col("truth_rank"))
    val bucketCols = (0 until DefaultSignProjections)
      .map(p => expr(signBucket(i => s"element_at(v, $i)", DefaultSignBits, p)))
    val keyed = e.select(col("vec_id"), posexplode(array(bucketCols: _*)).as(Seq("proj", "bucket")))
    val cand = keyed
      .join(
        keyed.filter(col("vec_id") < 32)
          .select(col("proj").as("p2"), col("bucket").as("b2"), col("vec_id").as("qid")),
        col("proj") === col("p2") && col("bucket") === col("b2"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"))
      .distinct()
    val ret = cand
      .join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(qset), Seq("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("ret_rank", row_number().over(wQ))
    val nCand = ret.groupBy(col("qid")).agg(count(lit(1)).as("n_cand"))
    val perQ = ret
      .filter(col("ret_rank") <= 10)
      .join(truth, Seq("qid", "vec_id"))
      .withColumn("gain", lit(11L) - col("truth_rank"))
      .withColumn(
        "dcg_term",
        expr("CAST(floor(gain * 1000000 / log2(CAST(ret_rank + 1 AS DOUBLE)) + 0.5) AS BIGINT)"))
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_rel_top10"),
        min(col("ret_rank")).as("first_hit"),
        sum(col("dcg_term")).as("dcg"))
    qset.select(col("qid").as("query_id"))
      .join(nCand.select(col("qid").as("query_id"), col("n_cand")), Seq("query_id"), "left")
      .join(
        perQ.select(
          col("qid").as("query_id"), col("n_rel_top10"), col("first_hit"), col("dcg")),
        Seq("query_id"), "left")
      .withColumn(
        "idcg_e6",
        expr("aggregate(sequence(1, 10), CAST(0 AS BIGINT), (acc, r) -> acc + " +
          "CAST(floor((11 - r) * 1000000 / log2(CAST(r + 1 AS DOUBLE)) + 0.5) AS BIGINT))"))
      .select(
        col("query_id"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_rel_top10"), lit(0L)).as("n_rel_top10"),
        coalesce(col("first_hit"), lit(0)).as("first_hit_rank"),
        coalesce(
          expr("CAST(floor(1000000.0 / first_hit + 0.5) AS BIGINT)"), lit(0L)).as("rr_e6"),
        coalesce(col("dcg"), lit(0L)).as("dcg_e6"),
        expr("(2 * 1000000 * coalesce(dcg, 0) + idcg_e6) DIV (2 * idcg_e6)").as("ndcg_e6"))
      .orderBy(col("query_id"))
  }

  /** IVF-style coarse search: `label` is the coarse cluster id; probe the
    * query's own partition only (nprobe=1). Query set broadcasts, corpus
    * partition-prunes on the cluster key.
    */
  private def q43(t: Tables): DataFrame = {
    val corpus = vectors(t).select(col("label"), col("vec_id"), col("v"))
    val queries = vectors(t)
      .filter(col("vec_id") < 10)
      .select(col("label").as("qlabel"), col("vec_id").as("qid"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    corpus
      .join(broadcast(queries), col("label") === col("qlabel"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= 5)
      .select(
        col("qid").as("query_id"),
        col("label"),
        col("vec_id").as("neighbor_id"),
        col("cos_sim"),
        col("nn_rank"))
      .orderBy(col("query_id"), col("nn_rank"))
  }

  /** Nearest-neighbor margin audit (the confidence readout over the
    * vector index, next to q158's centroid-level silhouette): for every
    * vector, the gap between its best and second-best within-cell cosine
    * neighbor, rolled up per cell. A wide mean margin means top-1
    * retrieval is stable under quantization/noise; a fat `n_ambiguous`
    * band (margin < 1e-3) is the population where PQ/int8 quantization
    * (q78/q132) will flip retrieval results and where SemDeDup's
    * keep-one choice (q101) is effectively arbitrary — the audit to read
    * BEFORE trusting either. Hubness-adjacent but orthogonal to q154's
    * reciprocity: this measures the VALUE gap, not the graph structure.
    *
    * Cost shape: the pair work blocks per cell (Σ|cell|², the q41/q154
    * bound — never global n²); the top-2 window partitions by query
    * vector within the cell join; the rollup is |cells| rows. Margins
    * are exact: both sims round to 6dp (the q43 contract both engines
    * share) so their difference scaled to e6 is integer-exact.
    */
  /** The (label, a_id, s1, s2) within-cell top-2 neighbor relation —
    * the shared input of q170's margin audit and q174's TwoNN intrinsic
    * dimension. Pair work blocks per cell (Σ|cell|²); the top-2 window
    * partitions by query vector; s2 is null for cells of size 2.
    * Under `graft.lsh.cache` (the bench/audit session conf) the relation
    * is computed ONCE and session-cached — pairStats' pattern exactly —
    * so the two consumers never pay the pair scan twice; the build is
    * priced in Bench's prep, and [[SessionCache.clear]] drops it before
    * any derived-plan assertion.
    */
  private def cellTop2(t: Tables): DataFrame =
    SessionCache.cached(t.spark, "cellTop2", t.dir)(cellTop2Derive(t))

  /** Materialize the session cellTop2 relation (no-op when the cache is
    * off) so its one-time pair-scan cost is priced in Bench's prep, not
    * hidden in whichever of q170/q174 min-of-2 happens to discard.
    */
  def primeCellTop2(t: Tables): Long =
    if (SessionCache.on(t.spark)) cellTop2(t).count() else 0L

  /** The (label, src, dst) within-cell k=5 nearest-neighbor edge list —
    * q154's reciprocity base, extracted in r16 so q215's hubness census
    * reads the SAME edges instead of re-running the Σ|cell|² pair scan.
    * Under `graft.lsh.cache` (the bench/audit session conf) it is
    * computed once and session-cached (cellTop2's pattern: primed in
    * Bench prep, dropped by [[SessionCache.clear]]).
    */
  private def knnEdges(t: Tables): DataFrame =
    SessionCache.cached(t.spark, "knnEdges", t.dir)(knnEdgesDerive(t))

  private def knnEdgesDerive(t: Tables): DataFrame = {
    val e = vectors(t).select(col("label"), col("vec_id"), col("v"))
    val byQuery = Window.partitionBy(col("label"), col("src")).orderBy(col("cos_sim").desc, col("dst"))
    e.select(col("label"), col("vec_id").as("src"), col("v").as("vs"))
      .join(
        e.select(col("label").as("lb"), col("vec_id").as("dst"), col("v").as("vd")),
        col("label") === col("lb") && col("src") =!= col("dst"))
      .withColumn("cos_sim", round(cosine_sim(col("vs"), col("vd")), 6))
      .withColumn("rk", row_number().over(byQuery))
      .filter(col("rk") <= 5)
      .select(col("label"), col("src"), col("dst"))
  }

  /** Materialize the session kNN-edge relation (no-op when the cache is
    * off) — same pricing rule as [[primeCellTop2]].
    */
  def primeKnnEdges(t: Tables): Long =
    if (SessionCache.on(t.spark)) knnEdges(t).count() else 0L

  private def cellTop2Derive(t: Tables): DataFrame = {
    val corpus = vectors(t).select(col("label"), col("vec_id"), col("v"))
    val w = Window.partitionBy(col("a_id")).orderBy(col("cos_sim").desc, col("b_id"))
    corpus.as("a")
      .join(
        corpus.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") =!= col("b.vec_id"))
      .select(
        col("a.label").as("label"),
        col("a.vec_id").as("a_id"),
        col("b.vec_id").as("b_id"),
        round(cosine_sim(col("a.v"), col("b.v")), 6).as("cos_sim"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy(col("label"), col("a_id"))
      .agg(
        max(when(col("rk") === 1, col("cos_sim"))).as("s1"),
        max(when(col("rk") === 2, col("cos_sim"))).as("s2"))
      .filter(col("s2").isNotNull)
  }

  private def q170(t: Tables): DataFrame =
    cellTop2(t)
      .withColumn("margin_e6", expr("CAST(floor((s1 - s2) * 1000000 + 0.5) AS BIGINT)"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        expr("(2 * sum(margin_e6) + count(1)) DIV (2 * count(1))").as("mean_margin_e6"),
        sum(when(col("margin_e6") < 1000, 1L).otherwise(0L)).as("n_ambiguous"),
        max(col("margin_e6")).as("max_margin_e6"))
      .orderBy(col("label"))

  /** TwoNN intrinsic-dimension estimate per IVF cell (Facco et al. 2017,
    * "Estimating the intrinsic dimension of datasets by a minimal
    * neighborhood information"): μ = d₂/d₁ over each vector's two
    * nearest within-cell cosine distances, ID ≈ n / Σ ln μ. The single
    * number that says whether a cell's vectors actually occupy the
    * ambient dimension or sit on a far-thinner manifold — LOW ID means
    * PQ/IVF (q132/q43) have headroom and SemDeDup thresholds transfer
    * across cells; an ID outlier cell is structurally different data
    * (mixed modality, corrupt embeddings) that q109's validity stats
    * can't see. Degenerate vectors (d₁ = 0 after the 6dp rounding
    * contract — exact-duplicate embeddings) are excluded and counted.
    *
    * Numeric discipline: distances are 1 − s over the 6dp-rounded sims
    * both engines share; each ln(μ) is ONE transcendental written
    * character-identically in both engines, e6-quantized half-up BEFORE
    * the sum (q151's rule); the final ID division is half-up integer in
    * e3 units. ln μ ≥ 0 exactly (s₁ ≥ s₂ ⇒ d₂ ≥ d₁, floor preserves).
    *
    * Scale shape: rides the shared [[cellTop2]] relation (Σ|cell|²
    * blocked pair work, q170's bound exactly); the rollup is |cells|
    * rows.
    */
  private def q174(t: Tables): DataFrame =
    cellTop2(t)
      .withColumn("degenerate", col("s1") >= 1.0)
      .withColumn(
        "ln_mu_e6",
        when(col("degenerate"), 0L).otherwise(
          expr("CAST(floor(ln((1.0 - s2) / (1.0 - s1)) * 1000000 + 0.5) AS BIGINT)")))
      .groupBy(col("label"))
      .agg(
        sum(when(!col("degenerate"), 1L).otherwise(0L)).as("n_vecs"),
        sum(col("degenerate").cast("long")).as("n_degenerate"),
        sum(when(!col("degenerate"), col("ln_mu_e6")).otherwise(0L)).as("sum_ln_e6"))
      .withColumn(
        "id_e3",
        expr("CASE WHEN sum_ln_e6 = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 1000 * 1000000 * n_vecs + sum_ln_e6) DIV (2 * sum_ln_e6) END"))
      .select(col("label"), col("n_vecs"), col("n_degenerate"), col("sum_ln_e6"), col("id_e3"))
      .orderBy(col("label"))

  /** One Lloyd (k-means) refinement round for the IVF coarse quantizer —
    * the build step q43 assumes: recompute per-cluster centroids, then
    * reassign every vector to its nearest centroid. Distributed shape:
    * centroid sums are partial-aggregable (one narrow shuffle of
    * |labels|·|dims| rows), the 640-row centroid table broadcasts, and
    * reassignment is a map-side join + one narrow (vec, label) shuffle —
    * nothing quadratic, nothing driver-side.
    *
    * Determinism: FP centroid averaging is sum-order-dependent, so this
    * runs the whole metric in integer arithmetic — coordinates quantize to
    * q = floor(1000·v) and the comparison metric is
    * Σ_d (q·cnt − Σq)² / cnt² ≡ cnt²·‖v − c‖², which both engines compute
    * bit-identically (ties broken by label). At production scale swap the
    * quantized metric for plain double centroids — the reassignment loop
    * and plan shape stay the same; only the exactness guarantee (needed
    * here for the cross-engine oracle) is quantization's job.
    */
  /** Integer-quantized (vec_id, label, dim, q) exploded view — the shared
    * exactness contract of q71/q74/q78 (one expression tree, mirrored by
    * the `duckEv` oracle fragment below).
    */
  private[graft] def quantizedEv(t: Tables): DataFrame =
    quantizedEvFrom(Tables.localSplit(t.embeddings, col("vec_id")))

  /** [[quantizedEv]] over an explicit (vec_id, label, embedding) source —
    * the seam that lets a store-backed assignment swap in BEFORE the
    * per-dim explode (see [[ivfSearch]]).
    */
  private def quantizedEvFrom(src: DataFrame): DataFrame =
    src
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(
        col("vec_id"),
        col("label"),
        col("dim"),
        floor(col("v").cast("double") * 1000).cast("long").as("q"))

  /** Per-(cluster, dim) centroid sums over the quantized view — shared by
    * the q71 Lloyd step and the q74 probe scoring.
    */
  private def centroidsOf(ev: DataFrame): DataFrame =
    ev.groupBy(col("label").as("clabel"), col("dim").as("cdim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))

  /** One Lloyd reassignment against an explicit (vec_id, label)
    * assignment — the kernel q71 exposes as a query and [[trainIvf]]
    * iterates to a fixed point. Centroids recompute from the CURRENT
    * assignment, broadcast, and every vector re-scores against all of
    * them in the shared integer-quantized metric.
    */
  private[graft] def lloydStep(ev: DataFrame, assign: DataFrame): DataFrame = {
    val evA = ev.drop("label").join(assign.select(col("vec_id"), col("label")), Seq("vec_id"))
    val cent = centroidsOf(evA)
    val diff = col("q") * col("cnt") - col("sq")
    val scored = evA
      .join(broadcast(cent), col("dim") === col("cdim"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum(diff * diff).as("num"), max(col("cnt")).as("cnt"))
      .withColumn("dist", col("num").cast("double") / (col("cnt") * col("cnt")).cast("double"))
    val w = Window.partitionBy(col("vec_id")).orderBy(col("dist"), col("clabel"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(
        col("vec_id"),
        col("label").as("old_label"),
        col("clabel").as("new_label"),
        floor(col("dist") * 10000).cast("long").as("dist_e4"))
  }

  /** The corpus's own labels as a (vec_id, label) assignment — q71's
    * starting point and [[trainIvf]]'s default initialization.
    */
  private[graft] def initialAssign(ev: DataFrame): DataFrame =
    ev.select(col("vec_id"), col("label")).distinct()

  /** The identity quantizer of the stored labels: the corpus's own
    * assignment plus its centroid table — exactly what q43/q74 derive
    * in-query, exposed as the pair [[graft.sources.IvfIndex]] persists.
    */
  private[graft] def corpusQuantizer(t: Tables): (DataFrame, DataFrame) = {
    val ev = quantizedEv(t)
    (initialAssign(ev), centroidsOf(ev))
  }

  private def q71(t: Tables): DataFrame = {
    val ev = quantizedEv(t)
    lloydStep(ev, initialAssign(ev)).orderBy(col("vec_id"))
  }

  /** A trained IVF coarse quantizer: the converged assignment, its
    * centroid table (the (clabel, cdim, sq, cnt) shape q43/q74 probe),
    * rounds actually run, and the per-round reassignment counts (the
    * convergence trace — last entry 0 iff a fixed point was reached).
    */
  final case class IvfModel(
      assign: DataFrame, centroids: DataFrame, rounds: Int, movedPerRound: Seq[Long])

  /** Train the IVF coarse quantizer: iterate [[lloydStep]] until no
    * vector changes cluster (or `maxRounds`). The §2.E pipeline-completeness
    * step q71 is one round of — no reference analog.
    *
    * Loop discipline is q62's (connected components): each round cuts
    * lineage on the ASSIGNMENT ONLY — a |corpus|-row (vec_id, label)
    * frame, never the |corpus|·|dims| exploded view, which recomputes
    * from the columnar scan each round exactly as distributed k-means
    * re-reads (or caches) its training set. The driver sees one Long per
    * round (the moved count, which doubles as the convergence probe and
    * materializes the lazy checkpoint); centroids broadcast; nothing
    * quadratic, nothing driver-side.
    *
    * Termination: Lloyd's algorithm monotonically decreases the quantized
    * objective and the argmin tie-break (label order) is deterministic,
    * so a fixed point exists; `maxRounds` bounds the worst case.
    */
  def trainIvf(t: Tables, maxRounds: Int = 25, init: Option[DataFrame] = None): IvfModel = {
    require(maxRounds >= 1, s"maxRounds out of range: $maxRounds")
    val ev = quantizedEv(t)
    var assign = graft.Iterate.cutLineage(init.getOrElse(initialAssign(ev)))
    val moved = scala.collection.mutable.ArrayBuffer[Long]()
    var converged = false
    while (moved.length < maxRounds && !converged) {
      val step = graft.Iterate.cutLineageLazy(lloydStep(ev, assign))
      // loop-control statistic only (one Long), not a data collect; this
      // count is also the action that materializes the lazy checkpoint
      val m = step.filter(col("old_label") =!= col("new_label")).count()
      moved += m
      assign = step.select(col("vec_id"), col("new_label").as("label"))
      converged = m == 0L
    }
    IvfModel(
      assign,
      centroidsOf(ev.drop("label").join(assign, Seq("vec_id"))),
      moved.length,
      moved.toSeq)
  }

  /** IVF search with multi-probe (nprobe=2): q43 probes only the query's
    * own coarse cell, which loses neighbors that fall just across the cell
    * boundary; probing the nprobe closest centroids is how IVF recovers
    * recall at scale without widening to a full scan. Distances to
    * centroids run in the same integer-quantized metric as q71 (exact in
    * both engines); the 2·|queries|-row probe list broadcasts, and the
    * corpus join stays equi on the cluster label — partition-prunable,
    * nprobe/|cells| of the corpus read per query batch.
    */
  /** `graft.ivf.index=<dir>` points q74's assignment at a stored
    * [[graft.sources.IvfIndex]] instead of the corpus's label column —
    * the production wiring (a search session reads the index artifact,
    * never re-derives assignments). An index initialized from
    * [[corpusQuantizer]] yields byte-identical output, so the oracle
    * contract is unchanged; IvfIndexSpec pins the equality.
    */
  private def q74(t: Tables): DataFrame = {
    val idx = t.spark.conf.get("graft.ivf.index", "")
    val relabel =
      if (idx.isEmpty) None
      else Some(graft.sources.IvfIndex.assign(t.spark, idx))
    ivfSearch(t, relabel)
  }

  /** The q74 search, parameterized on the coarse assignment: `relabel`
    * swaps the corpus's stored labels for a trained [[IvfModel]]'s
    * assignment — the centroid table and probe list then derive from the
    * trained quantizer while every join/broadcast/window below stays
    * byte-identical. This is how a [[trainIvf]] output feeds the search
    * unchanged.
    */
  private[graft] def ivfSearch(t: Tables, relabel: Option[DataFrame]): DataFrame = {
    // IVF cells probed per query (recall vs cells read; q115 audits the
    // trade-off across nprobe)
    val nprobe = 2
    // the stored (vec_id, label) swaps in BEFORE the per-dim explode —
    // the join probes one row per VECTOR, not per (vector, dim): at dim
    // coordinates per embedding that is a dim× smaller join, and it is
    // the store-backed session's only extra work over inline labels
    // (IvfIndex.assign is already a merge-free raw chain union)
    def relabeled(df: DataFrame): DataFrame = relabel match {
      case Some(a) => df.drop("label").join(a.select(col("vec_id"), col("label")), Seq("vec_id"))
      case None    => df
    }
    val ev = quantizedEvFrom(relabeled(Tables.localSplit(t.embeddings, col("vec_id"))))
    val cent = centroidsOf(ev)
    val qv = ev.filter(col("vec_id") < 10)
    val diff = col("q") * col("cnt") - col("sq")
    val probes = qv
      .join(broadcast(cent), col("dim") === col("cdim"))
      .groupBy(col("vec_id").as("qid"), col("clabel"))
      .agg(sum(diff * diff).as("num"), max(col("cnt")).as("cnt"))
      .withColumn("dist", col("num").cast("double") / (col("cnt") * col("cnt")).cast("double"))
      .withColumn("probe_rank", row_number().over(Window.partitionBy(col("qid")).orderBy(col("dist"), col("clabel"))))
      .filter(col("probe_rank") <= nprobe)
      .select(col("qid"), col("clabel"), col("probe_rank"))
    val corpus = relabeled(vectors(t)).select(col("label"), col("vec_id"), col("v"))
    val queries = vectors(t).filter(col("vec_id") < 10).select(col("vec_id").as("qid2"), col("v").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    corpus
      .join(broadcast(probes), col("label") === col("clabel"))
      .join(broadcast(queries), col("qid") === col("qid2"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("nn_rank", row_number().over(w))
      .filter(col("nn_rank") <= 5)
      .select(
        col("qid").as("query_id"),
        col("label"),
        col("probe_rank"),
        col("vec_id").as("neighbor_id"),
        col("cos_sim"),
        col("nn_rank"))
      .orderBy(col("query_id"), col("nn_rank"))
  }

  /** IVF recall/cost audit — the calibration every ANN deployment runs
    * BEFORE trusting an nprobe (q86's estimator-audit pattern
    * applied to the index itself): for each candidate nprobe, the
    * recall@10 of the IVF search against brute-force ground truth on the
    * deterministic query sample, alongside the fraction of the corpus
    * each probe budget actually reads — the recall-vs-cost curve the
    * nprobe dial trades along.
    *
    * Probe ranking is q74's integer centroid-distance machinery
    * verbatim; ranks are computed ONCE up to the widest budget and each
    * narrower config selects by a map-side `probe_rank <= nprobe`
    * comparison (the q116 prefix trick — sweeping costs one probe pass).
    * Ground truth is the q40 brute-force shape: |queries| × corpus with
    * the query set broadcast — the audit's declared cost, bounded by the
    * sample (at 100 TB this sample IS how you'd run it). All recall and
    * fraction arithmetic is integer sums with one final division, so the
    * curve is bit-reproducible cross-engine.
    */
  private def q115(t: Tables): DataFrame = {
    val k = 10
    val cfgs = Seq(1, 2, 4)
    val e = vectors(t).select(col("label"), col("vec_id"), col("v"))
    val queries = vectors(t)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("vec_id"))
    val truth = e
      .crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"))
      .withColumn("in_truth", lit(true))
    val ev = quantizedEv(t)
    val cent = centroidsOf(ev)
    val diff = col("q") * col("cnt") - col("sq")
    val probes = ev
      .filter(col("vec_id") < 10)
      .join(broadcast(cent), col("dim") === col("cdim"))
      .groupBy(col("vec_id").as("qid"), col("clabel"))
      .agg(sum(diff * diff).as("num"), max(col("cnt")).as("cnt"))
      .withColumn("dist", col("num").cast("double") / (col("cnt") * col("cnt")).cast("double"))
      .withColumn(
        "probe_rank",
        row_number().over(Window.partitionBy(col("qid")).orderBy(col("dist"), col("clabel"))))
      .filter(col("probe_rank") <= cfgs.max)
      .select(col("qid"), col("clabel"), col("probe_rank"))
    val cand = e
      .join(broadcast(probes), col("label") === col("clabel"))
      .join(broadcast(queries), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", round(cosine_sim(col("qv"), col("v")), 6))
      .select(col("qid"), col("vec_id"), col("cos_sim"), col("probe_rank"))
    val swept = cand
      .select(
        col("qid"), col("vec_id"), col("cos_sim"), col("probe_rank"),
        explode(array(cfgs.map(lit(_)): _*)).as("nprobe"))
      .filter(col("probe_rank") <= col("nprobe"))
    val wc = Window.partitionBy(col("qid"), col("nprobe"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val perQuery = swept
      .withColumn("rk", row_number().over(wc))
      .join(truth, Seq("qid", "vec_id"), "left")
      .groupBy(col("nprobe"), col("qid"))
      .agg(
        sum(when(col("rk") <= k && col("in_truth"), 1L).otherwise(0L)).as("hits"),
        count(lit(1)).as("n_cand"))
    val nCorpus = e.agg(count(lit(1)).as("n_corpus"))
    perQuery
      .join(broadcast(nCorpus))
      .groupBy(col("nprobe"))
      .agg(
        count(lit(1)).as("n_queries"),
        round(sum(col("hits")) / (count(lit(1)) * k), 4).as("avg_recall"),
        round(min(col("hits")) / lit(k.toDouble), 4).as("min_recall"),
        round(sum(col("n_cand")) / (count(lit(1)) * max(col("n_corpus"))), 4).as("cand_frac"))
      .orderBy(col("nprobe"))
  }

  /** Int8 scalar quantization of the embedding corpus — the compression
    * step an ANN index at 100 TB actually ships (4× smaller vectors, one
    * (scale, zero-point) pair per dimension). Entirely integer arithmetic
    * (coordinates pre-quantized to q=floor(1000·v), affine-mapped to
    * 0..255 with integer floor division, reconstructed the same way) so
    * both engines agree bit-for-bit. Per-dim aggregation is narrow
    * (64·|corpus| rows partial-agg to 64); the stats broadcast back for
    * the error pass — two narrow shuffles total, nothing quadratic.
    */
  private def q78(t: Tables): DataFrame = {
    val ev = Tables.localSplit(t.embeddings, col("vec_id"))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"), floor(col("v").cast("double") * 1000).cast("long").as("q"))
    val stats = ev.groupBy(col("dim")).agg(min(col("q")).as("mn"), max(col("q")).as("mx"))
    ev.join(broadcast(stats), Seq("dim"))
      .withColumn(
        "q8",
        when(col("mx") > col("mn"), expr("((q - mn) * 255) div (mx - mn)")).otherwise(lit(0L)))
      .withColumn("dq", col("mn") + expr("(q8 * (mx - mn)) div 255"))
      .withColumn("err", abs(col("dq") - col("q")))
      .groupBy(col("dim"))
      .agg(
        max(col("mn")).as("mn"),
        max(col("mx")).as("mx"),
        sum(col("err")).as("total_abs_err"),
        count(lit(1)).as("n"))
      .orderBy(col("dim"))
  }

  /** Product-quantization assignment audit (new r12 — Jégou et al. 2011,
    * the PQ codebook step next to q78's scalar quantization: PQ is the 8×+
    * compression an ANN index ships when int8-per-dim is still too big):
    * the vector splits into `graft.pq.m` subspaces (default 4×16 dims),
    * each sub-vector snaps to its nearest of `graft.pq.k` codewords
    * (default 8), and the audit reports per-(subspace, codeword) occupancy
    * and mean squared quantization error — the table that says whether the
    * codebook covers the distribution before the index trusts it (an
    * unused codeword = wasted code space; one catch-all cell = lost
    * recall).
    *
    * Codebook: the K vectors with the smallest family Knuth hash of
    * vec_id (q104's seedless selection — deterministic, RNG-free,
    * engine-stable), codewords identified by their source vec_id. That is
    * declared: a deterministic sample in place of a trained codebook — a
    * real deployment runs q71's Lloyd machinery per subspace, which swaps
    * the codebook relation and nothing else.
    *
    * Scale shape: selection is one TakeOrdered-K gather; the M·K-row
    * codebook broadcasts; distances are integer-exact map-side folds
    * (per-dim e6 quantization FIRST — q124's discipline — then long
    * arithmetic; per-pair sums ≤ 16·(4e6)² ≈ 2.6e14, no overflow); the
    * argmin is a partial-aggregable min(struct) groupBy — the one narrow
    * corpus-scale shuffle, M·n slim (ids, dist) rows — and the rollup is
    * M·K rows.
    */
  /** PQ recall@k audit (Jégou, Douze & Schmid 2011's ADC evaluated the
    * way an ANN deployment actually grades it — r16 wave 9, the missing
    * arm of the ANN-quality family: q115 measures the IVF ROUTING's
    * recall, q132 the codebook's reconstruction error; neither says
    * whether the COMPRESSED distances still rank the true neighbors
    * first, which is the number a PQ index lives or dies by): per query
    * (q115's deterministic vec_id < 10 sample), how many of the exact
    * integer-L2 top-10 survive into the ADC top-10, the e4 recall, and
    * whether the single true nearest neighbor is retrieved at all.
    * Shares q132's codebook and assignment definitions verbatim (same
    * `graft.pq.m`/`graft.pq.k` confs) — this audits the exact artifact
    * q132 ships, not a private re-derivation.
    *
    * Exactness: everything is integer — coordinates live on q132's e6
    * grid, exact and ADC distances are integer sums of squared diffs,
    * rankings break ties on (dist, vec_id), recall divides once (e4,
    * half-up).
    *
    * Scale shape: the lookup-table trick is the point — ADC costs
    * |corpus|·m joins against a BROADCAST |Q|·m·k LUT (the classic PQ
    * scan: linear in corpus, never corpus×query×dim), and only the
    * |Q|-sample truth pass is quadratic-per-query (the declared q40/q115
    * brute class). Assignments ride q132's min-struct argmin; top-10s
    * are per-query windows over sample-bounded relations.
    */
  /** The (qid, vec_id, adc) ADC distances and (qid, vec_id, tdist) exact
    * distances over the q115 query sample — q211's construction,
    * extracted in r16 so q228's calibration audit reads the SAME
    * codebook/assignment/LUT definitions instead of duplicating them
    * (the q191/q193 lesson).
    */
  // --- the ONE PQ definition (e6 grid, Knuth-hash codebook, argmin
  // assignment) shared by q132's reconstruction audit and q211/q228's
  // calibration pair — a retune of the hash, rounding, or tie-break now
  // changes all three together (r16 review 3 closed the last copy) ---
  private def pqConf(t: Tables): (Int, Int, Int) = {
    val m = t.spark.conf.get("graft.pq.m", "4").toInt
    require(m >= 1 && m <= Dim && Dim % m == 0, s"graft.pq.m must divide $Dim: $m")
    val kcb = t.spark.conf.get("graft.pq.k", "8").toInt
    require(kcb >= 1 && kcb <= 256, s"graft.pq.k out of range: $kcb")
    (m, kcb, Dim / m)
  }

  private def pqE6(t: Tables): DataFrame =
    Tables.localSplit(t.embeddings, col("vec_id"))
      .select(
        col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("ve6"))

  private def pqSubspaces(m: Int, sub: Int, vecCol: String, outCol: String) =
    explode(array((0 until m).map(i =>
      struct(
        lit(i).cast("long").as("subspace"),
        expr(s"slice($vecCol, ${i * sub + 1}, $sub)").as(outCol))): _*))

  private def pqSqdist(a: String, b: String) =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS BIGINT), (acc, e) -> acc + e)")

  private def pqCodebook(t: Tables, e6: DataFrame): DataFrame = {
    val (m, kcb, sub) = pqConf(t)
    e6
      .withColumn("h", expr("((vec_id % 2147483647) * 2654435761) % 4294967296"))
      .orderBy(col("h"), col("vec_id"))
      .limit(kcb)
      .select(col("vec_id").as("cw"), pqSubspaces(m, sub, "ve6", "csub").as("s"))
      .select(col("cw"), col("s.subspace").as("subspace"), col("s.csub").as("csub"))
  }

  /** (vec_id, subspace, cw, dist): every vector's winning codeword per
    * subspace plus its quantization distance (q132 reads both columns).
    */
  private def pqAssign(t: Tables, e6: DataFrame, codebook: DataFrame): DataFrame = {
    val (m, _, sub) = pqConf(t)
    e6
      .select(col("vec_id"), pqSubspaces(m, sub, "ve6", "vsub").as("s"))
      .select(col("vec_id"), col("s.subspace").as("subspace"), col("s.vsub").as("vsub"))
      .join(broadcast(codebook), Seq("subspace"))
      .withColumn("dist", pqSqdist("vsub", "csub"))
      .groupBy(col("vec_id"), col("subspace"))
      .agg(min(struct(col("dist"), col("cw"))).as("best"))
      .select(col("vec_id"), col("subspace"), col("best.cw").as("cw"), col("best.dist").as("dist"))
  }

  private def adcTruthPairs(t: Tables): (DataFrame, DataFrame) = {
    val (m, _, sub) = pqConf(t)
    val e6 = pqE6(t)
    def subspaces(vecCol: String, outCol: String) = pqSubspaces(m, sub, vecCol, outCol)
    val codebook = pqCodebook(t, e6)
    val sqdist = (a: String, b: String) => pqSqdist(a, b)
    val assign = pqAssign(t, e6, codebook).drop("dist")
    val qsubs = e6
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), subspaces("ve6", "qsub").as("s"))
      .select(col("qid"), col("s.subspace").as("subspace"), col("s.qsub").as("qsub"))
    val lut = qsubs
      .join(broadcast(codebook), Seq("subspace"))
      .withColumn("d", sqdist("qsub", "csub"))
      .select(col("qid"), col("subspace"), col("cw"), col("d"))
    val adc = assign
      .join(broadcast(lut), Seq("subspace", "cw"))
      .filter(col("vec_id") =!= col("qid"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d")).as("adc"))
    val truthAll = e6
      .crossJoin(broadcast(
        e6.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("ve6").as("qv"))))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("tdist", sqdist("ve6", "qv"))
      .select(col("qid"), col("vec_id"), col("tdist"))
    (adc, truthAll)
  }

  /** ADC distance-calibration audit (new r16 — the PQ leg of the
    * calibration trio: q181 grades the Bloom filter's FPR, q226 the sign
    * sketch's angle estimates, THIS whether the product quantizer's
    * asymmetric distances still ORDER and ESTIMATE the true distances):
    * per q115-sample query, Spearman's footrule between the ADC ranking
    * and the exact ranking of ALL sample pairs (e4 of the n²/2 maximum —
    * 0 is perfect order preservation), and the total distance bias
    * Σadc/Σtrue − 1 (e4, signed — ADC on a tiny codebook inflates
    * distances by the quantization residual). Reads the SAME
    * codebook/assignment/LUT relations as q211 via [[adcTruthPairs]].
    *
    * Numerics: ranks are row_numbers with the family's (value, vec_id)
    * tie-break; the footrule sum is exact integer (max n²/2 — 10⁴·F
    * int64-safe to ~10⁶ pairs/query, the declared sample bound); the
    * bias division runs in DECIMAL(38,0)/HUGEINT (distance sums are
    * ~10¹⁷ already at sf0.1) with the q212 signed split.
    *
    * Scale shape: q211's exactly — the pair relations are the declared
    * |Q|·n sample-bounded brute class; both rank windows partition by
    * query; the rollup is |Q| rows.
    */
  private def q228(t: Tables): DataFrame = {
    val (adc, truthAll) = adcTruthPairs(t)
    val pr = Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))
    val tr = Window.partitionBy(col("qid")).orderBy(col("tdist"), col("vec_id"))
    adc.join(truthAll, Seq("qid", "vec_id"))
      .withColumn("prk", row_number().over(pr).cast("long"))
      .withColumn("trk", row_number().over(tr).cast("long"))
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(abs(col("prk") - col("trk"))).as("footrule"),
        // the SUMS need the widening too — per-pair distances reach
        // 2.56e14, so Σ crosses 2⁶³ near the declared pair bound (r16
        // review 3); mirrors the oracle's CAST(sum(..) AS HUGEINT)
        sum(col("adc").cast("decimal(38,0)")).as("s_adc"),
        sum(col("tdist").cast("decimal(38,0)")).as("s_true"))
      // greatest(..,1): one pair per query gives max_f = 0 and the
      // footrule is provably 0 there — don't divide by zero (review 3)
      .withColumn("max_f", expr("greatest((n_pairs * n_pairs) DIV 2, 1)"))
      .withColumn(
        "footrule_e4",
        expr("(2 * 10000 * footrule + max_f) DIV (2 * max_f)"))
      .withColumn("dnum", col("s_adc") - col("s_true"))
      .withColumn(
        "bias_e4",
        expr("CASE WHEN dnum < 0 THEN " +
          "-CAST((2 * 10000 * CAST(-dnum AS DECIMAL(38,0)) + s_true) DIV (2 * s_true) AS BIGINT) " +
          "ELSE CAST((2 * 10000 * CAST(dnum AS DECIMAL(38,0)) + s_true) DIV (2 * s_true) AS BIGINT) END"))
      .select(col("qid"), col("n_pairs"), col("footrule_e4"), col("bias_e4"))
      .orderBy(col("qid"))
  }

  private def q211(t: Tables): DataFrame = {
    val K = 10
    val (adc, truthAll) = adcTruthPairs(t)
    val pq = adc
      .withColumn(
        "prk",
        row_number().over(Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("prk") <= K)
    val truth = truthAll
      .withColumn(
        "trk",
        row_number().over(Window.partitionBy(col("qid")).orderBy(col("tdist"), col("vec_id"))))
      .filter(col("trk") <= K)
      .select(col("qid"), col("vec_id"), col("trk"))
    pq
      .join(truth, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(
        sum(when(col("trk").isNotNull, 1L).otherwise(0L)).as("hits_at_10"),
        max(when(col("trk") === 1, 1L).otherwise(0L)).as("nn_hit"))
      .withColumn("recall_e4", expr(s"(2 * 10000 * hits_at_10 + $K) DIV (2 * $K)"))
      .select(col("qid"), col("hits_at_10"), col("recall_e4"), col("nn_hit"))
      .orderBy(col("qid"))
  }

  private def q132(t: Tables): DataFrame = {
    val e6 = pqE6(t)
    pqAssign(t, e6, pqCodebook(t, e6))
      .select(col("subspace"), col("cw").as("codeword"), col("dist"))
      .groupBy(col("subspace"), col("codeword"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("dist")).as("sum_dist"))
      .withColumn(
        "avg_sq_err",
        round(col("sum_dist").cast("double") / col("n_assigned") / 1000000000000.0, 6))
      .select(col("subspace"), col("codeword"), col("n_assigned"), col("avg_sq_err"))
      .orderBy(col("subspace"), col("codeword"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): near-duplicate
    * detection restricted to WITHIN coarse clusters — the scale path that
    * makes embedding dedup feasible at 100 TB. q41's all-pairs baseline is
    * Θ(n²); clustering first (here the `label` coarse assignment the IVF
    * family already probes — q71's trained centroids at build time) bounds
    * pair work to Σ|cluster|² ≈ n²/k, and the join is a keyed shuffle on
    * the cluster id, so each cluster's quadratic runs data-local inside
    * one partition, never a global cartesian. A pathological mega-cluster
    * is the residual risk: AQE's skew-join splitting spreads its probe
    * side across tasks, and the real fix is upstream — retrain the
    * quantizer (q71) with more centroids until cluster sizes are sane,
    * which is the knob SemDeDup itself turns.
    *
    * The drop rule is the deterministic greedy: within a cluster a vector
    * is dropped iff some LOWER-id vector sits within the similarity
    * threshold (`graft.semdedup.tau`, default 0.25 — calibrated to this
    * corpus's intra-cluster similarity band; production embeddings run
    * ~0.95+). Keep-lowest-id needs no iterative graph pass — one distinct
    * over the pair relation — and the per-label report prices the dedup:
    * pair volume, drops, survivors, tightest pair. The threshold compares
    * the ROUNDED similarity (round-6, the family's contract) so the cut
    * is bit-reproducible cross-engine; `sim_e6` sums are integer.
    */
  private def q101(t: Tables): DataFrame = {
    val tau = t.spark.conf.get("graft.semdedup.tau", "0.25").toDouble
    require(tau > 0.0 && tau < 1.0, s"graft.semdedup.tau out of range: $tau")
    val e = vectors(t).select(col("label"), col("vec_id"), col("v"))
    val pairs = e
      .select(col("label"), col("vec_id").as("id_a"), col("v").as("va"))
      .join(
        e.select(col("label").as("lb"), col("vec_id").as("id_b"), col("v").as("vb")),
        col("label") === col("lb") && col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(cosine_sim(col("va"), col("vb")), 6))
      .filter(col("cos_sim") >= tau)
      .select(col("label"), col("id_a"), col("id_b"), col("cos_sim"))
    val dropped = pairs
      .groupBy(col("label"))
      .agg(countDistinct(col("id_b")).as("n_dropped"))
    val dupStats = pairs
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_dup_pairs"),
        max(col("cos_sim")).as("max_sim"))
    e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"))
      .join(broadcast(dupStats), Seq("label"), "left")
      .join(broadcast(dropped), Seq("label"), "left")
      .select(
        col("label"),
        col("n_vecs"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
        coalesce(col("max_sim"), lit(0.0)).as("max_sim"))
      .orderBy(col("label"))
  }

  /** Semantic decontamination (new r12 — the embedding twin of q75's
    * n-gram benchmark decontamination, the pass that catches PARAPHRASED
    * eval leakage n-gram overlap structurally cannot): train vectors with
    * cosine ≥ `graft.decon.tau` (default 0.25, corpus-calibrated) against
    * any held-out eval vector (q75's deterministic 1/97 id slice), rolled
    * up per coarse cluster label — contaminated count, hit pairs, worst
    * similarity. A non-zero row after q75 runs clean is exactly the
    * paraphrase class.
    *
    * Scale shape: the eval slice is 1/97 of the corpus and BROADCASTS;
    * the comparison is label-bucketed (q101's blocking — pair work
    * Σ|cluster|·|eval∩cluster|, never corpus×eval), with the same
    * declared recall caveat as q101: a cross-label paraphrase is missed,
    * and the IVF assignment is the dial. Sims round to 6 BEFORE the τ
    * cut and the rollup (q101's discipline).
    */
  /** q137's contamination hits pre-rollup — (label, train_id, eval_id,
    * cos_sim ≥ τ) — shared with [[graft.Curate]]'s decontamination stage,
    * which drops every distinct `train_id` appearing here (the paraphrase
    * class q75's n-gram overlap cannot see; one expression tree, the
    * stages cannot drift).
    */
  private[graft] def semanticContaminationHits(t: Tables): DataFrame = {
    val tau = t.spark.conf.get("graft.decon.tau", "0.25").toDouble
    require(tau > 0.0 && tau < 1.0, s"graft.decon.tau out of range: $tau")
    val e = vectors(t).select(col("label"), col("vec_id"), col("v"))
    val eval = e.filter(col("vec_id") % 97 === 0)
      .select(col("label"), col("vec_id").as("eval_id"), col("v").as("ev"))
    val train = e.filter(col("vec_id") % 97 =!= 0)
      .select(col("label"), col("vec_id").as("train_id"), col("v").as("tv"))
    train
      .join(broadcast(eval), Seq("label"))
      .withColumn("cos_sim", round(cosine_sim(col("tv"), col("ev")), 6))
      .filter(col("cos_sim") >= tau)
  }

  private def q137(t: Tables): DataFrame = {
    val e = vectors(t).select(col("label"), col("vec_id"), col("v"))
    val hits = semanticContaminationHits(t)
    val flagged = hits
      .groupBy(col("label"))
      .agg(
        countDistinct(col("train_id")).as("n_contaminated"),
        count(lit(1)).as("n_hit_pairs"),
        max(col("cos_sim")).as("max_sim"))
    e.groupBy(col("label"))
      .agg(
        sum(when(col("vec_id") % 97 === 0, 1L).otherwise(0L)).as("n_eval"),
        sum(when(col("vec_id") % 97 =!= 0, 1L).otherwise(0L)).as("n_train"))
      .join(broadcast(flagged), Seq("label"), "left")
      .select(
        col("label"), col("n_eval"), col("n_train"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("n_hit_pairs"), lit(0L)).as("n_hit_pairs"),
        coalesce(col("max_sim"), lit(0.0)).as("max_sim"))
      .orderBy(col("label"))
  }

  /** Per-source topical-diversity entropy (new r12 — the mixing-decision
    * readout that closes the cross-modal loop q111 opened: q111 profiles
    * quality per CLUSTER, this profiles cluster ENTROPY per SOURCE — a
    * source whose docs all land in one embedding cluster is topically
    * redundant however large it is, and q65/q128's mixing weights should
    * know that; max-entropy sources buy coverage): per source, Shannon
    * entropy (nats) of its label distribution, label count, and the top
    * label's share.
    *
    * Float discipline: each (source, label) entropy term −p·ln p
    * quantizes to integer 1e-6 units BEFORE the cross-label sum (q141's
    * rule — the label set is variable, so an unquantized double sum
    * would be order-dependent); p itself is one exact-integer ratio in
    * double (identical bits both engines). Scale shape: the doc_id-keyed
    * docs⋈embeddings join (co-bucket at 100 TB — q111's story), one
    * partial-aggregable (source, label) count, windows over that tiny
    * agg relation, |sources|-row rollup.
    */
  private def q150(t: Tables): DataFrame = {
    val byS = Window.partitionBy(col("source"))
    t.embeddings
      .select(col("vec_id").as("doc_id"), col("label"))
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"), col("label"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(byS))
      .withColumn(
        "term_e6",
        expr("""CAST(round(-(CAST(n AS DOUBLE) / total)
               | * ln(CAST(n AS DOUBLE) / total) * 1000000, 0) AS BIGINT)""".stripMargin))
      .groupBy(col("source"))
      .agg(
        max(col("total")).as("n_docs"),
        count(lit(1)).as("n_labels"),
        sum(col("term_e6")).as("entropy_e6"),
        round(max(col("n")) / max(col("total")), 4).as("top_label_share"))
      .orderBy(col("source"))
  }

  /** Embedding-drift audit between ingest batches (new r12 — the MLOps
    * canary next to q109's validity gate: an encoder version bump or a
    * silent preprocessing change shifts the embedding DISTRIBUTION while
    * every vector stays individually valid, and an ANN index built
    * across the shift ranks inconsistently): per cluster label, the
    * squared L2 gap between the per-dimension means of two ingest halves
    * (vec_id parity — the deterministic stand-in for batch A/B), plus
    * the worst single-dimension gap. A label whose drift is orders above
    * its peers is the re-embed signal.
    *
    * Integer-exact end to end: per-dim e6 quantization FIRST (q124's
    * rule), per-(label, half, dim) LONG sums, the mean gap computed as
    * one cross-multiplied integer ratio evaluated in double (the same
    * two exact longs both engines — identical bits), per-dim squares
    * rounded to integers BEFORE the cross-dim sum (order-independent
    * long adds). The one corpus-scale shuffle is the (label, half, dim)
    * partial-aggregable sum; everything after is |labels|·|dims|-scale.
    * Only labels present in BOTH halves report (the join is the filter).
    */
  private def q145(t: Tables): DataFrame = {
    val ev = Tables.localSplit(t.embeddings, col("vec_id"))
      .select(
        col("label"), (col("vec_id") % 2 === 0).as("is_a"),
        posexplode(expr(
          "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"))
          .as(Seq("d0", "v")))
      .select(col("label"), col("is_a"), (col("d0") + 1).cast("long").as("dim"), col("v"))
    val sums = ev
      .groupBy(col("label"), col("is_a"), col("dim"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val a = sums.filter(col("is_a"))
      .select(col("label"), col("dim"), col("s").as("sa"), col("n").as("na"))
    val b = sums.filter(!col("is_a"))
      .select(col("label"), col("dim"), col("s").as("sb"), col("n").as("nb"))
    a.join(b, Seq("label", "dim"))
      .withColumn(
        "d",
        (col("sa") * col("nb") - col("sb") * col("na")).cast("double")
          / (col("na") * col("nb")).cast("double"))
      .groupBy(col("label"))
      .agg(
        max(col("na")).as("n_a"),
        max(col("nb")).as("n_b"),
        sum(expr("CAST(round(d * d, 0) AS BIGINT)")).as("drift_e12"),
        max(expr("CAST(round(abs(d), 0) AS BIGINT)")).as("max_dim_gap_e6"))
      .orderBy(col("label"))
  }

  /** Cluster-balanced diversity sampling: after SemDeDup-style pruning,
    * curation pipelines cap how many examples any one embedding cluster
    * contributes (over-dense clusters are redundant; coverage of the
    * tail matters more than more of the head). At most
    * `graft.sample.perCluster` (default 8) vectors survive per coarse
    * cluster (the IVF `label` the family already keys on), selected by
    * the q64/q94 seedless Knuth multiplicative hash — deterministic,
    * RNG-free, reproducible across runs and engines. Ids pre-fold
    * through `% 2147483647` (q94's rule) so the product fits int64 for
    * every non-negative int64 id in both engines.
    *
    * Scale shape: ONE shuffle on the cluster label carries both the
    * selection window and the rollup (the groupBy reuses the window's
    * partitioning); the hash is map-side next to the scan. `kept_id_sum`
    * is an integer checksum of the selected ids so the oracle pins the
    * exact selection, not just its size.
    */
  private def q104(t: Tables): DataFrame = {
    val k = t.spark.conf.get("graft.sample.perCluster", "8").toInt
    require(k >= 1, s"graft.sample.perCluster out of range: $k")
    val byLabel = Window.partitionBy(col("label")).orderBy(col("h"), col("vec_id"))
    vectors(t)
      .select(col("vec_id"), col("label"))
      .withColumn("h", expr("((vec_id % 2147483647) * 2654435761) % 4294967296"))
      .withColumn("kept", row_number().over(byLabel) <= k)
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("vec_id")).otherwise(0L)).as("kept_id_sum"))
      .withColumn("sample_rate", round(col("n_kept") / col("n_vecs"), 4))
      .orderBy(col("label"))
  }

  /** Embedding-table audit — the validation gate an ANN index build runs
    * BEFORE trusting its vectors (one NaN poisons every distance it
    * touches; zero vectors make cosine undefined; wild norms signal a
    * broken encoder batch). Per cluster label: vector count, non-finite
    * count (x−x ≠ 0 ⇔ NaN/±Inf, one engine-portable predicate — no isinf
    * builtin needed), zero-vector count, and the squared-norm envelope
    * (min/max/avg) quantized to integer 1e6 units so aggs are long-exact
    * cross-engine (the q90 discipline; sums of squares accumulate
    * left-to-right in double first, the family's contract).
    *
    * Scale shape: all per-vector math is map-side array HOFs next to the
    * scan; ONE label-keyed shuffle carries the rollup.
    */
  private def q109(t: Tables): DataFrame = auditEmbeddings(vectors(t))

  /** The q109 kernel over any (label, v: array<float>) frame — public so
    * callers (and the spec) can audit arbitrary embedding relations,
    * including ones that actually contain NaN/Inf/zero rows.
    */
  def auditEmbeddings(in: DataFrame): DataFrame = {
    val e = in
      .withColumn(
        "norm2",
        expr("aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"))
      .withColumn("nonfinite", expr("exists(v, x -> isnan(CAST(x AS DOUBLE) - CAST(x AS DOUBLE)))"))
      .withColumn(
        "norm2_e6",
        when(col("nonfinite"), lit(null)).otherwise(
          round(col("norm2") * 1e6, 0).cast("long")))
    e.groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("nonfinite"), 1L).otherwise(0L)).as("n_nonfinite"),
        sum(when(!col("nonfinite") && col("norm2_e6") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min(col("norm2_e6")).as("min_norm2_e6"),
        max(col("norm2_e6")).as("max_norm2_e6"),
        round(avg(col("norm2_e6")), 2).as("avg_norm2_e6"))
      .orderBy(col("label"))
  }

  /** One distributed power-iteration step toward the corpus second
    * moment's leading direction: u = Σᵢ vᵢ (vᵢ·𝟙), the matvec (VᵀV)𝟙
    * with the fixed all-ones start vector (deterministic, seedless —
    * iterate by feeding u back as the next start, trainIvf's loop
    * pattern; one step is the verifiable kernel). The whitening/PCA
    * readout an embedding pipeline runs before deciding whether vectors
    * need centering or dimension pruning.
    *
    * Cross-row float accumulation is order-dependent and can never
    * hash-match an oracle, so each row's per-dimension contribution
    * quantizes to e6 fixed point FIRST (q109's norm2_e6 discipline) and
    * the cross-row sum is integer-exact. Per-row folds (the v·𝟙 sum and
    * the product) stay float — both engines fold the same 64 doubles
    * left-to-right, the q40-proven fragment.
    *
    * Scale shape: fold + posexplode are map-side next to the scan; ONE
    * |dims|-keyed shuffle carries the accumulator; the L1 total is a
    * 1-row broadcast joined back for the share column.
    */
  private def q124(t: Tables): DataFrame = {
    val c = vectors(t)
      .withColumn(
        "s", expr("aggregate(v, CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE))"))
      .select(posexplode(col("v")).as(Seq("d0", "x")), col("s"))
      .select(
        (col("d0") + 1).cast("long").as("dim"),
        expr("CAST(round(CAST(x AS DOUBLE) * s * 1000000) AS BIGINT)").as("c"))
    val agg = c.groupBy(col("dim")).agg(sum(col("c")).as("u_e6"))
    val tot = agg.agg(sum(abs(col("u_e6"))).as("tot"))
    agg.join(broadcast(tot))
      .withColumn("share", round(col("u_e6") / col("tot"), 6))
      .select(col("dim"), col("u_e6"), col("share"))
      .orderBy(col("dim"))
  }

  /** Mutual-kNN reciprocity audit — the graph-quality readout run before
    * any kNN-graph consumer trusts its edges (SemDeDup clustering, label
    * propagation, graph layout): per coarse cell (the IVF label, q43's
    * partition), each vector's k=5 nearest within-cell neighbors by
    * cosine, and the share of directed edges whose REVERSE edge also
    * exists. Low reciprocity is the hubness signature (Radovanović et al.
    * 2010) — a few vectors absorb everyone's edge lists and greedy kNN
    * graphs mislead. Ratio is an e4 half-up integer division.
    *
    * Scale shape: pair work blocks per cell (Σ|cell|², q101's bound —
    * never global n²); the rank window partitions by (label, src), a
    * cell-bounded partition; the mutuality check is a semi-join of the
    * EDGE table (k·n rows, narrow) against itself on the reversed key;
    * the rollup is |label| rows.
    */
  private def q154(t: Tables): DataFrame = {
    val e = vectors(t).select(col("label"), col("vec_id"))
    val edges = knnEdges(t)
    val mutual = edges.as("a")
      .join(
        edges.as("b"),
        col("a.src") === col("b.dst") && col("a.dst") === col("b.src"),
        "left_semi")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_mutual"))
    val edgeStats = edges.groupBy(col("label")).agg(count(lit(1)).as("n_edges"))
    e.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"))
      .join(broadcast(edgeStats), Seq("label"), "left")
      .join(broadcast(mutual), Seq("label"), "left")
      .select(
        col("label"), col("n_vecs"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"),
        coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
      .withColumn(
        "mutual_e4",
        expr("CASE WHEN n_edges = 0 THEN CAST(0 AS BIGINT) ELSE (2 * 10000 * n_mutual + n_edges) DIV (2 * n_edges) END"))
      .orderBy(col("label"))
  }

  /** kNN hubness census (Radovanović, Nanopoulos & Ivanović 2010, JMLR
    * "Hubs in space" — new r16): per IVF cell, the in-degree (k-occurrence
    * N_k) distribution of q154's k=5 within-cell kNN graph — max and
    * nearest-rank p95 in-degree, hub count (N_k ≥ 2k, the points that
    * absorb everyone's neighbor lists), antihub count (N_k = 0, the
    * points NO vector lists — unreachable through any greedy kNN
    * traversal), and `hub_mass_e4`, the share of all directed edges
    * landing on hubs. This is the VALUE distribution behind q154's
    * reciprocity ratio: high hub mass means kNN-graph consumers
    * (SemDeDup q101, label propagation, the q74 multiprobe's residual
    * ranking) see a few centers over and over — the high-intrinsic-
    * dimension pathology q174 estimates from the other end. Corpus-probed
    * non-degenerate at every SF (hubs 7/8/40, antihubs 1/0/10 at
    * sf0.001/0.01/0.1).
    *
    * All-integer: in-degrees are exact counts; p95 is q197's
    * nearest-rank rule rank = (95·n + 99) DIV 100 read off a
    * distribution-counting cumulative (the in-degree DOMAIN is ≤ ~3k
    * values — no per-vector sort anywhere); hub mass is one half-up e4
    * division.
    *
    * Scale shape: rides the session-cached [[knnEdges]] relation (the
    * Σ|cell|² pair scan is paid once with q154 under `graft.lsh.cache`,
    * priced in Bench prep); the in-degree agg collapses the k·n edge
    * list onto (label, dst) keys map-side; the zero-degree join is
    * |vecs|-row; the cumulative window runs on the ≤|cells|·|N_k domain|
    * distribution relation (q136's bounded-domain class); rollup is
    * |cells| rows.
    */
  private def q215(t: Tables): DataFrame = {
    val e = vectors(t).select(col("label"), col("vec_id"))
    val deg = knnEdges(t)
      .groupBy(col("label").as("dl"), col("dst"))
      .agg(count(lit(1)).as("nk"))
    val perVec = e
      .join(deg, col("label") === col("dl") && col("vec_id") === col("dst"), "left")
      .select(col("label"), col("vec_id"), coalesce(col("nk"), lit(0L)).as("nk"))
    val stats = perVec
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(col("nk")).as("n_edges"),
        max(col("nk")).as("max_nk"),
        sum(when(col("nk") >= 10, 1L).otherwise(0L)).as("hubs"),
        sum(when(col("nk") === 0, 1L).otherwise(0L)).as("antihubs"),
        sum(when(col("nk") >= 10, col("nk")).otherwise(0L)).as("hub_edges"))
    val cum = Window.partitionBy(col("label")).orderBy(col("nk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p95 = perVec
      .groupBy(col("label"), col("nk"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(cum))
      .join(broadcast(stats.select(col("label").as("sl"), col("n_vecs"))),
        col("label") === col("sl"))
      .filter(col("cum") >= expr("(95 * n_vecs + 99) DIV 100"))
      .groupBy(col("label"))
      .agg(min(col("nk")).as("p95_nk"))
    stats
      .join(broadcast(p95), Seq("label"))
      .withColumn(
        "hub_mass_e4",
        expr("CASE WHEN n_edges = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE (2 * 10000 * hub_edges + n_edges) DIV (2 * n_edges) END"))
      .select(
        col("label"), col("n_vecs"), col("n_edges"), col("max_nk"),
        col("p95_nk"), col("hubs"), col("antihubs"), col("hub_mass_e4"))
      .orderBy(col("label"))
  }

  /** Spectral-mass (anisotropy) audit of the embedding cloud (the top
    * Rayleigh-quotient share of the uncentered second-moment spectrum —
    * Mises & Pollaczek-Geiringer 1929's power iteration, 3 declared
    * steps from uniform; new r16): per dimension, its energy S_ii and
    * e6 trace share, the final iterate's eigenvector component, and the
    * constant `ray_share_e6` = wᵀSw/(wᵀw·tr S) — isotropic embeddings
    * sit at 1/d, a collapsed ("cone") embedding model far above; this is
    * the anisotropy readout next to q109's norms, q174's intrinsic
    * dimension and q215's hubness (anisotropy is WHY hubs form —
    * Radovanović 2010 §6). Probed 1.2–1.5× the uniform share at every
    * SF — present but mild, as a shell-like synthetic cloud should be.
    *
    * Numeric discipline: S = Σ q qᵀ over the shared e3-quantized grid —
    * exact longs (|q| ≤ 10³ ⇒ |S_ij| ≤ n·10⁶; the matrix itself is
    * int64-safe to n ~ 9·10¹²); everything DOWNSTREAM of the matrix runs
    * in BigInt/HUGEINT — |S_ij·w_j| passes 2⁶³ already at ~4.6M vectors
    * (r16 review), so the iteration, the trace shares, and the Rayleigh
    * quotient all take the same widening. Each iteration step is q209's
    * per-term half-up rule with the q212 signed split (sign · half-up on
    * |·|, since Spark/Scala truncate where DuckDB floors), renormalized
    * to L∞ = 10⁶; the Rayleigh quotient is ≥ 0 by PSD-ness, so its one
    * division is the plain half-up.
    *
    * Scale shape: ONE corpus-scale operation — the vec_id-keyed self-
    * join of the (n·d)-row quantized grid whose d²-per-vector pair rows
    * partial-aggregate map-side onto the d² matrix keys; the matrix is
    * then a bounded control-plane gather (q209's class: d² longs, never
    * corpus rows) and the iterations are driver integer arithmetic; the
    * output is d rows.
    */
  private def q221(t: Tables): DataFrame = {
    val ev = quantizedEv(t).select(col("vec_id"), col("dim"), col("q"))
    val sRel = ev.as("a")
      .join(ev.as("b"), col("a.vec_id") === col("b.vec_id"))
      .groupBy(col("a.dim").as("i"), col("b.dim").as("j"))
      .agg(sum(col("a.q") * col("b.q")).as("s"))
    val s = graft.Iterate
      .gatherBoundedMatrix(sRel, 65536, "q221 d² scatter matrix")
      .map(r => ((r.getAs[Number]("i").intValue, r.getAs[Number]("j").intValue), r.getLong(2)))
      .toMap
    val dims = s.keys.map(_._1).toSeq.distinct.sorted
    val trace = dims.map(i => s((i, i))).sum
    // iteration arithmetic is BigInt: |S_ij·w_j| passes 2⁶³ already at
    // ~4.6M vectors (r16 review), far inside the matrix's own int64
    // envelope — the oracle's HUGEINT promotion is the same widening
    def shdiv(a: BigInt, b: BigInt): BigInt = {
      val q = (2 * a.abs + b) / (2 * b); if (a < 0) -q else q
    }
    var w: Map[Int, BigInt] = dims.map(_ -> BigInt(1000000L)).toMap
    for (_ <- 1 to 3) {
      val u = dims.map(i => i -> dims.map(j => shdiv(BigInt(s((i, j))) * w(j), trace)).sum).toMap
      val m = u.values.map(_.abs).max
      w = dims.map(i => i -> shdiv(BigInt(1000000L) * u(i), m)).toMap
    }
    val rayNum = dims.flatMap(i => dims.map(j => w(i) * s((i, j)) * w(j))).sum
    val rayDen = dims.map(i => w(i) * w(i)).sum * trace
    val rayShare = ((2 * BigInt(1000000) * rayNum + rayDen) / (2 * rayDen)).toLong
    import t.spark.implicits._
    dims.map { i =>
      (i.toLong, s((i, i)), shdiv(BigInt(1000000L) * s((i, i)), trace).toLong,
        w(i).toLong, rayShare)
    }.toDF("dim", "energy", "energy_share_e6", "w_e6", "ray_share_e6")
      .orderBy(col("dim"))
  }

  /** Simplified (centroid) silhouette audit — Rousseeuw 1987's cluster-
    * validity score in the IVF family's shared integer-quantized metric:
    * per vector, a = distance to its OWN cell centroid, b = distance to
    * the nearest FOREIGN centroid, s = (b − a)/max(a, b) ∈ [−1, 1]
    * (floored to e4); per cell, the population, mean/min silhouette, and
    * the count of misassigned vectors (s < 0 — strictly closer to a
    * foreign centroid, exactly what one more q71 Lloyd round would move).
    * This is the quantizer-quality gate read BEFORE q43/q74 trust the
    * cells and before q101/q104 block on them.
    *
    * Numeric discipline: distances are the q71/q74 cross-multiplied
    * integer metric (num = Σ(q·cnt − sq)², dist = num/cnt² — one exact
    * double division of longs); the per-cell mean shifts s by +1 so both
    * engines' integer divisions agree (Spark's DIV truncates toward zero,
    * DuckDB's // floors — equal only on non-negative operands).
    *
    * Scale shape: q71's exactly — the |corpus|·|dims|×|cells| scoring
    * fan-out partial-aggregates map-side under the broadcast centroid
    * table, the per-vector a/b fold rides the same (vec_id, label,
    * clabel) aggregate, and the rollup is |cells| rows.
    */
  private def q158(t: Tables): DataFrame = {
    val ev = quantizedEv(t)
    val cent = centroidsOf(ev)
    val diff = col("q") * col("cnt") - col("sq")
    val scored = ev
      .join(broadcast(cent), col("dim") === col("cdim"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum(diff * diff).as("num"), max(col("cnt")).as("cnt"))
      .withColumn("dist", col("num").cast("double") / (col("cnt") * col("cnt")).cast("double"))
    scored
      .groupBy(col("vec_id"), col("label"))
      .agg(
        min(when(col("clabel") === col("label"), col("dist"))).as("a"),
        min(when(col("clabel") =!= col("label"), col("dist"))).as("b"))
      .withColumn(
        "sil_e4",
        expr("CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE CAST(floor((b - a) / greatest(a, b) * 10000) AS BIGINT) END"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        expr("(2 * sum(sil_e4 + 10000) + count(1)) DIV (2 * count(1)) - 10000")
          .as("mean_sil_e4"),
        min(col("sil_e4")).as("min_sil_e4"),
        sum(when(col("sil_e4") < 0, 1L).otherwise(0L)).as("n_misassigned"))
      .orderBy(col("label"))
  }

  /** Per-cell distance-outlier census (r16 — q158's inputs re-rolled
    * onto the ownership axis; closes the cluster-validity family next to
    * q158's silhouette and q174's intrinsic dimension): for each IVF
    * cell, the mean and max own-centroid distance in q71's integer
    * metric, the max-to-mean spread, and how many vectors sit beyond
    * 102% and 105% of the cell's mean — the tail census that says
    * whether a cell is one tight cluster or a centroid parked between
    * two (a silhouette can look fine while the tail band holds the
    * vectors PQ (q132) will quantize worst and SemDeDup (q101) will
    * threshold arbitrarily). Band placement is corpus-probed: on these
    * embeddings the per-cell max/mean spread is only 1.04–1.12 at every
    * SF (vectors are near-uniform shells around their centroids), so
    * classic 2×/4× bands are identically zero — 102/105 are the
    * percentiles that actually separate tight cells from fat-tailed
    * ones here; `spread_e4` carries the raw ratio so any other cut can
    * be judged from the output.
    *
    * All-integer: within a cell every vector shares cnt, so
    * dist_i > (p/100)·mean ⇔ 100·num_i·n_cell > p·Σnum — exact long
    * products, no division until the final e4 half-up ratios. Past
    * ~10¹⁸ the products overflow 2⁶³ (num grows as cnt²·dim·q²), so
    * diff² and the comparisons run in DECIMAL(38,0) (q163's guard
    * pattern).
    *
    * With `graft.ivf.index` set, the centroid table reads from the
    * stored [[graft.sources.IvfIndex]] (q74's seam — the store persists
    * exactly [[centroidsOf]]'s relation) instead of re-deriving it.
    * Scale shape: the per-vector fold partial-aggregates map-side under
    * the broadcast centroid table (own-cell join only — no q158-style
    * all-centroid fan-out); the outlier window and rollup run on the
    * |vecs|-row per-vector relation, never the exploded view.
    */
  // --- shared by the q191/q193 cluster-validity pair (r16 review fix:
  // the fold was duplicated verbatim; a guard fix applied to one would
  // have silently diverged the other) ---
  // The overflow guard casts to DECIMAL(38,0) — NOT (19,0): the guarded
  // values re-enter products and window sums (q191's 100·num·n vs
  // p·Σnum comparisons, q193's dd² sums), and a 19-digit re-cast of an
  // already-aggregated decimal overflows to NULL under non-ANSI Spark
  // exactly in the regime the guard exists for.
  private val cellBig: Column => Column = _.cast("decimal(38,0)")
  private def cellCentroids(t: Tables, ev: DataFrame): DataFrame = {
    val idx = t.spark.conf.get("graft.ivf.index", "")
    if (idx.isEmpty) centroidsOf(ev)
    else graft.sources.IvfIndex.centroids(t.spark, idx)
  }
  /** (vec_id, label, num, cnt) — per-vector own-centroid distance
    * numerator in q71's integer metric, guard applied to the diff
    * operands (q·cnt and the diff² product both pass 2⁶³ before the sum
    * does at cnt²·dim·q² ~ 10¹⁸).
    */
  private def ownCellFold(t: Tables, ev: DataFrame): DataFrame = {
    val big = cellBig
    val diff = big(col("q")) * col("cnt") - col("sq")
    ev.join(
      broadcast(cellCentroids(t, ev)),
      col("label") === col("clabel") && col("dim") === col("cdim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(big(diff) * big(diff)).as("num"), max(col("cnt")).as("cnt"))
  }

  private def q191(t: Tables): DataFrame = {
    val big = cellBig
    val ev = quantizedEv(t)
    val perVec = ownCellFold(t, ev)
    val w = Window.partitionBy(col("label"))
    perVec
      .withColumn("cell_n", count(lit(1)).over(w))
      .withColumn("cell_sum", sum(col("num")).over(w))
      .withColumn(
        "t102",
        (big(col("num")) * col("cell_n") * 100 > big(col("cell_sum")) * 102).cast("long"))
      .withColumn(
        "t105",
        (big(col("num")) * col("cell_n") * 100 > big(col("cell_sum")) * 105).cast("long"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        expr("CAST((2 * 10000 * max(cell_sum) + max(cell_n) * max(cnt) * max(cnt)) " +
          "DIV (2 * max(cell_n) * max(cnt) * max(cnt)) AS BIGINT)").as("mean_dist_e4"),
        expr("CAST((2 * 10000 * max(num) + max(cnt) * max(cnt)) " +
          "DIV (2 * max(cnt) * max(cnt)) AS BIGINT)").as("max_dist_e4"),
        expr("CAST((2 * 10000 * max(num) * max(cell_n) + max(cell_sum)) " +
          "DIV (2 * max(cell_sum)) AS BIGINT)").as("spread_e4"),
        sum(col("t102")).as("n_tail102"),
        sum(col("t105")).as("n_tail105"))
      .orderBy(col("label"))
  }

  /** Davies–Bouldin cluster-separation audit (Davies & Bouldin 1979,
    * r16 — the BETWEEN-cell readout that completes the validity triad:
    * q158's silhouette scores assignments vector-by-vector, q191
    * censuses each cell's own tail, this one asks whether the CELLS
    * themselves are separated): per cell, its scatter (mean own-centroid
    * distance, q71's integer metric), the worst-confused partner cell
    * (argmax of R_ij = (s_i + s_j)/d_ij over centroid distances), and
    * that worst ratio — R >> 1 means the pair's scatters dwarf their
    * centroid gap, i.e. the IVF routing (q43/q74) leaks between exactly
    * those two cells and a probe list that misses the partner loses
    * recall (q115's sweep says how much).
    *
    * Exactness: scatter and centroid-gap first quantize half-up to e0
    * integers (their natural scale is ~10⁶ in q-units², so e0 keeps six
    * significant digits; 10⁴-scaling them first would overflow 2⁶³ at
    * Σnum ~ 10¹³), then the single R division rounds to e4 — identical
    * integer inputs in both engines, deterministic argmax via the
    * zero-padded max-string pick (q110's). With `graft.ivf.index` set
    * the centroid table reads from the store (q191's seam).
    *
    * Scale shape: the per-vector fold is q191's; the pair grid is
    * |cells|²·dims centroid rows — metadata-scale here, and the known
    * inherent k² of the DB index at any scale (broadcast-joinable; at
    * 10⁴ cells it is 10⁸ arithmetic rows with no corpus involvement).
    */
  private def q193(t: Tables): DataFrame = {
    // q191's DECIMAL(38,0) guard and fold (one conf for the cell
    // family); the centroid-gap operands below get the guard applied
    // BEFORE the a.sq·b.cnt products — an sq ≈ cnt·q̄ cross-product
    // wraps int64 in exactly the guarded regime (r16 review fix)
    val big = cellBig
    val ev = quantizedEv(t)
    val cent = cellCentroids(t, ev)
    val scatter = ownCellFold(t, ev)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("num")).as("s_sum"), max(col("cnt")).as("cnt"))
      .withColumn(
        "scatter_e0",
        expr("(2 * s_sum + n_vecs * cnt * cnt) DIV (2 * n_vecs * cnt * cnt)"))
      .select(col("label"), col("n_vecs"), col("scatter_e0"))
    val gaps = cent.as("a")
      .join(cent.as("b"),
        col("a.cdim") === col("b.cdim") && col("a.clabel") =!= col("b.clabel"))
      .select(
        col("a.clabel").as("la"), col("b.clabel").as("lb"),
        (big(col("a.sq")) * col("b.cnt") - big(col("b.sq")) * col("a.cnt")).as("dd"),
        col("a.cnt").as("ca"), col("b.cnt").as("cb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum(big(col("dd")) * big(col("dd"))).as("d_sum"), max(col("ca") * col("cb")).as("cc"))
      .withColumn("gap_e0", expr("(2 * d_sum + cc * cc) DIV (2 * cc * cc)"))
      .select(col("la"), col("lb"), col("gap_e0"))
    gaps
      .join(broadcast(scatter.select(col("label").as("la"), col("scatter_e0").as("sa"))), Seq("la"))
      .join(broadcast(scatter.select(col("label").as("lb"), col("scatter_e0").as("sb"))), Seq("lb"))
      .withColumn("r_e4", expr("(2 * 10000 * (sa + sb) + gap_e0) DIV (2 * gap_e0)"))
      .groupBy(col("la"))
      .agg(max(concat(
        lpad(col("r_e4").cast("string"), 19, "0"), lit(":"),
        lpad(col("lb").cast("string"), 6, "0"))).as("pick"))
      .withColumn("r_max_e4", expr("CAST(substr(pick, 1, 19) AS BIGINT)"))
      .withColumn("worst_label", expr("CAST(substr(pick, 21) AS BIGINT)"))
      .join(broadcast(scatter.withColumnRenamed("label", "la")), Seq("la"))
      .select(
        col("la").as("label"), col("n_vecs"), col("scatter_e0"),
        col("worst_label"), col("r_max_e4"))
      .orderBy(col("label"))
  }

  /** Calinski–Harabasz variance-ratio audit (Calinski & Harabasz 1974 —
    * new r16 wave 32, the third classic validity index beside q158's
    * silhouette and q193's Davies–Bouldin; the three disagree exactly
    * when a clustering is marginal, which is why sklearn ships all
    * three): per cell, its within-dispersion (Σ own-centroid dist², e0)
    * and between-dispersion contribution (n_k·‖c_k − c̄‖², e0 — distance
    * of the cell centroid to the GLOBAL centroid, the one relation the
    * silhouette/DB pair never touches), plus the global CH =
    * (B/(k−1))/(W/(n−k)) at e4 repeated per row (q221's ray_share
    * convention).
    *
    * Exactness: the per-dim centroid gap half-up-quantizes to e0 in
    * q-units BEFORE squaring (q193's rule — dd_num² products would brush
    * 2⁶³ first); the gap numerator sq·n − gsq·cnt is SIGNED, and Spark's
    * DIV truncates toward zero where DuckDB's // floors, so the divide
    * shifts by +10⁵·cnt·n into the non-negative regime and shifts back
    * (q158's +10⁴ shift, scaled to the centroid domain |q| ≤ ~10³). The
    * final CH ratio's 2·10⁴·B·(n−k) product passes 2⁶³ at corpus scale,
    * so the single-row fold runs in DECIMAL(38,0) unconditionally — it
    * is k rows collapsing to one, never a corpus relation, so the guard
    * costs nothing and needs no conf (q233's guard, always on).
    *
    * Scale shape: within rides [[ownCellFold]] (one map-side-partial
    * corpus fold under the broadcast centroid table — q191's pass);
    * between runs entirely on the |cells|·|dims| centroid relation;
    * the global fold is one row, broadcast back onto the |cells|-row
    * output (the q232-class declared 1-row scalar cross). With
    * `graft.ivf.index` set the centroid table reads from the store
    * (q191's seam).
    */
  private def q244(t: Tables): DataFrame = {
    val ev = quantizedEv(t)
    val cent = cellCentroids(t, ev)
    val glob = cent
      .groupBy(col("cdim"))
      .agg(sum(col("sq")).as("gsq"), sum(col("cnt")).as("n"))
    val between = cent
      .join(broadcast(glob), Seq("cdim"))
      .withColumn(
        "dd",
        expr("(2 * (sq * n - gsq * cnt + cnt * n * CAST(100000 AS BIGINT)) + cnt * n) " +
          "DIV (2 * cnt * n) - CAST(100000 AS BIGINT)"))
      .groupBy(col("clabel"))
      .agg(
        sum(col("dd") * col("dd")).as("dd2"),
        max(col("cnt")).as("n_vecs"),
        max(col("n")).as("n_tot"))
      .withColumn("between_e0", col("n_vecs") * col("dd2"))
    val within = ownCellFold(t, ev)
      .groupBy(col("label"))
      .agg(sum(col("num")).as("s_sum"), max(col("cnt")).as("cnt"))
      .withColumn("within_e0", expr("(2 * s_sum + cnt * cnt) DIV (2 * cnt * cnt)"))
      .select(col("label"), col("within_e0"))
    val cells = between.join(within, col("clabel") === col("label"))
    val tot = cells
      .agg(
        sum(col("between_e0")).as("bsum"),
        sum(col("within_e0")).as("wsum"),
        count(lit(1)).as("k"),
        max(col("n_tot")).as("n"))
      .withColumn(
        "ch_e4",
        expr("CAST((2 * 10000 * CAST(bsum AS DECIMAL(38,0)) * (n - k) " +
          "+ CAST(wsum AS DECIMAL(38,0)) * greatest(k - 1, 1)) " +
          "DIV (2 * CAST(wsum AS DECIMAL(38,0)) * greatest(k - 1, 1)) AS BIGINT)"))
      .select(col("ch_e4"))
    cells
      .join(broadcast(tot))
      .select(
        col("clabel").as("label"), col("n_vecs"),
        col("within_e0"), col("between_e0"), col("ch_e4"))
      .orderBy(col("label"))
  }

  /** Reciprocal-rank-fusion retrieval audit (Cormack, Clarke & Büttcher
    * 2009 — new r16 wave 34: the rank-FUSION layer a production retrieval
    * stack puts over its cheap rankers, and the first entry that COMPOSES
    * two of the suite's ANN surrogates instead of grading them alone):
    * per q115-sample query, fuse the sign-sketch HAMMING ranking (q226's
    * 16-bit sketch — angle-cheap, no floats) and the PQ ADC ranking
    * (q211's LUT distances — magnitude-cheap, no full vectors) with
    * RRF(d) = Σ_r 1/(60 + rank_r(d)) over each ranker's top-50, then
    * score recall@10 of each ranker alone and of the fusion against the
    * exact integer-L2 truth. The two rankers err DIFFERENTLY (angle
    * quantization vs subspace quantization), which is exactly when
    * Cormack's fusion beats both — the output table shows it per query.
    *
    * Numerics: each RRF term half-up-quantizes to e6 BEFORE the sum
    * ((2·10⁶ + (60+r)) DIV (2·(60+r)) — integer, both engines identical;
    * a double 1/(60+r) sum would be add-order-dependent); absent-from-
    * list contributes 0 (standard RRF over retrieved lists); all ranks
    * carry the family's (value, vec_id) tie-break.
    *
    * Scale shape: the Hamming pass is the q226-class broadcast sample
    * cross (|Q|·n slim sketch rows, no vectors through the shuffle); the
    * ADC side reads the SAME codebook/assignment/LUT relations as
    * q211/q228 via [[adcTruthPairs]] (declared q115-class sample bound);
    * per-query top-50 lists and the full-outer fusion are |Q|·50-scale.
    */
  private def q247(t: Tables): DataFrame = {
    val K = 10
    val L = 50
    val bits = DefaultSignBits
    val projs = DefaultSignProjections
    val sketch = (0 until projs)
      .map(p => s"(${signBucket(i => s"element_at(v, $i)", bits, p)}) * ${1L << ((projs - 1 - p) * bits)}")
      .mkString(" + ")
    val e = vectors(t).select(col("vec_id"), col("v")).withColumn("sk", expr(sketch))
    val qset = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("sk").as("qsk"))
    val listA = e.join(broadcast(qset), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), expr("bit_count(sk ^ qsk)").cast("long").as("h"))
      .withColumn(
        "rka",
        row_number().over(Window.partitionBy(col("qid")).orderBy(col("h"), col("vec_id"))))
      .filter(col("rka") <= L)
      .select(col("qid"), col("vec_id"), col("rka"))
    val (adc, truthAll) = adcTruthPairs(t)
    val listB = adc
      .withColumn(
        "rkb",
        row_number().over(Window.partitionBy(col("qid")).orderBy(col("adc"), col("vec_id"))))
      .filter(col("rkb") <= L)
      .select(col("qid"), col("vec_id"), col("rkb"))
    val truth = truthAll
      .withColumn(
        "trk",
        row_number().over(Window.partitionBy(col("qid")).orderBy(col("tdist"), col("vec_id"))))
      .filter(col("trk") <= K)
      .select(col("qid"), col("vec_id"), lit(true).as("in_truth"))
    // single-pass assembly: every readout is a conditional sum over the
    // one |Q|·≤100 fused relation, so each ranker chain and the truth
    // branch execute exactly once (the first draft rolled up union stats
    // and the three hit counts as four separate joins — the ADC chain
    // re-ran per consumer and the solo min was 5.8 s, 4.8 s with
    // localCheckpoint band-aids; fused single-pass: 2.4 s, and the
    // checkpoints became unnecessary because every list has ONE consumer)
    listA
      .join(listB, Seq("qid", "vec_id"), "full_outer")
      .withColumn(
        "score_e6",
        expr("CASE WHEN rka IS NULL THEN CAST(0 AS BIGINT) " +
          "ELSE (2 * 1000000 + (60 + rka)) DIV (2 * (60 + rka)) END " +
          "+ CASE WHEN rkb IS NULL THEN CAST(0 AS BIGINT) " +
          "ELSE (2 * 1000000 + (60 + rkb)) DIV (2 * (60 + rkb)) END"))
      .withColumn(
        "rrf_rank",
        row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score_e6").desc, col("vec_id"))))
      .join(truth, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(
        count(lit(1)).as("n_union"),
        sum(when(col("rka").isNotNull && col("rkb").isNotNull, 1L).otherwise(0L))
          .as("n_overlap"),
        sum(when(col("rka") <= K && col("in_truth"), 1L).otherwise(0L)).as("hits_ham"),
        sum(when(col("rkb") <= K && col("in_truth"), 1L).otherwise(0L)).as("hits_adc"),
        sum(when(col("rrf_rank") <= K && col("in_truth"), 1L).otherwise(0L)).as("hits_rrf"))
      .orderBy(col("qid"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q247_rrf_fusion" -> ((s, d) => q247(Tables(s, d))),
    "q244_calinski_harabasz" -> ((s, d) => q244(Tables(s, d))),
    "q193_davies_bouldin" -> ((s, d) => q193(Tables(s, d))),
    "q191_cell_outliers" -> ((s, d) => q191(Tables(s, d))),
    "q158_centroid_silhouette" -> ((s, d) => q158(Tables(s, d))),
    "q154_knn_reciprocity" -> ((s, d) => q154(Tables(s, d))),
    "q215_knn_hubness" -> ((s, d) => q215(Tables(s, d))),
    "q221_spectral_mass" -> ((s, d) => q221(Tables(s, d))),
    "q226_signlsh_calibration" -> ((s, d) => q226(Tables(s, d))),
    "q228_adc_calibration" -> ((s, d) => q228(Tables(s, d))),
    "q124_power_iter" -> ((s, d) => q124(Tables(s, d))),
    "q132_pq_quantize" -> ((s, d) => q132(Tables(s, d))),
    "q211_pq_recall" -> ((s, d) => q211(Tables(s, d))),
    "q137_semantic_decon" -> ((s, d) => q137(Tables(s, d))),
    "q145_embedding_drift" -> ((s, d) => q145(Tables(s, d))),
    "q150_source_diversity" -> ((s, d) => q150(Tables(s, d))),
    "q115_ivf_recall" -> ((s, d) => q115(Tables(s, d))),
    "q101_semdedup" -> ((s, d) => q101(Tables(s, d))),
    "q104_cluster_sample" -> ((s, d) => q104(Tables(s, d))),
    "q109_embedding_audit" -> ((s, d) => q109(Tables(s, d))),
    "q71_kmeans_step" -> ((s, d) => q71(Tables(s, d))),
    "q74_ivf_multiprobe" -> ((s, d) => q74(Tables(s, d))),
    "q78_embedding_quantize" -> ((s, d) => q78(Tables(s, d))),
    "q40_cosine_topk" -> ((s, d) => q40(Tables(s, d))),
    "q41_embedding_neardup" -> ((s, d) => q41(Tables(s, d))),
    "q42_ann_sign_lsh" -> ((s, d) => q42(Tables(s, d))),
    "q43_ivf_search" -> ((s, d) => q43(Tables(s, d))),
    "q170_ann_margin" -> ((s, d) => q170(Tables(s, d))),
    "q174_intrinsic_dim" -> ((s, d) => q174(Tables(s, d))),
    "q256_retrieval_quality" -> ((s, d) => q256(Tables(s, d))),
    "q269_mrl_fidelity" -> ((s, d) => q269(Tables(s, d))),
    "q281_jl_distortion" -> ((s, d) => q281(Tables(s, d))),
    "q282_kcenter_greedy" -> ((s, d) => q282(Tables(s, d))),
    "q272_mmr_rerank" -> ((s, d) => q272(Tables(s, d)))
  )

  // q272's oracle: the same four greedy MMR rounds unrolled as CTEs
  // (q263's unrolled-iteration precedent); cosE6 is the family cosine
  // quantized half-up to e6 as ONE expression.
  private def mmrOracle: String = {
    def cosE6(a: String, b: String): String =
      s"CAST(floor(list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))" +
        s" / (sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $a[i])))" +
        s" * sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> $b[i] * $b[i]))))" +
        " * 1000000 + 0.5) AS BIGINT)"
    val rounds = (2 to 4).map { k =>
      s"""m$k AS (
         | SELECT s.qid, s.cid, max(s.sim_e6) AS maxsim FROM sims s
         | JOIN sel${k - 1} z ON z.qid = s.qid AND z.vec_id = s.sid GROUP BY 1, 2),
         | s$k AS (
         | SELECT qid, vec_id, CAST($k AS BIGINT) AS pick, rel_e6, score_x10_e6 FROM (
         |  SELECT p.qid, p.vec_id, p.rel_e6,
         |   p.rel_e6 * 7 - m$k.maxsim * 3 AS score_x10_e6,
         |   row_number() OVER (PARTITION BY p.qid
         |     ORDER BY (p.rel_e6 * 7 - m$k.maxsim * 3) DESC, p.vec_id) AS pk
         |  FROM p JOIN m$k ON m$k.qid = p.qid AND m$k.cid = p.vec_id
         |  WHERE NOT EXISTS (
         |   SELECT 1 FROM sel${k - 1} z WHERE z.qid = p.qid AND z.vec_id = p.vec_id))
         | WHERE pk = 1),
         | sel$k AS (SELECT qid, vec_id FROM sel${k - 1}
         |  UNION ALL SELECT qid, vec_id FROM s$k)""".stripMargin
    }.mkString(",\n ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       | q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 16),
       | cand AS (
       | SELECT qid, vec_id, v, ${cosE6("qv", "v")} AS rel_e6
       | FROM q, e WHERE vec_id <> qid),
       | p AS (SELECT qid, vec_id, v, rel_e6 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel_e6 DESC, vec_id) AS rk
       |  FROM cand) WHERE rk <= 20),
       | sims AS (
       | SELECT a.qid, a.vec_id AS cid, b.vec_id AS sid, ${cosE6("a.v", "b.v")} AS sim_e6
       | FROM p a JOIN p b ON a.qid = b.qid AND a.vec_id <> b.vec_id),
       | s1 AS (
       | SELECT qid, vec_id, CAST(1 AS BIGINT) AS pick, rel_e6, rel_e6 * 7 AS score_x10_e6
       | FROM (SELECT qid, vec_id, rel_e6,
       |   row_number() OVER (PARTITION BY qid ORDER BY rel_e6 DESC, vec_id) AS pk FROM p)
       | WHERE pk = 1),
       | sel1 AS (SELECT qid, vec_id FROM s1),
       | $rounds
       |SELECT qid, vec_id, pick, rel_e6, score_x10_e6 FROM (
       | SELECT * FROM s1 UNION ALL SELECT * FROM s2
       | UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4)
       |ORDER BY qid, pick""".stripMargin
  }

  // shared DuckDB fragments
  private val duckVectors =
    s"""e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       | n AS (SELECT vec_id, label, v,
       |   sqrt(list_sum(list_transform(range(1, ${Dim + 1}), i -> v[i] * v[i]))) AS nrm FROM e)""".stripMargin
  private def duckDot(a: String, b: String) =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> $a[i] * $b[i]))"
  // oracle renders the conf-default projection family; a non-default conf
  // changes candidate recall at runtime without a recompile (spec-covered)
  private val duckBuckets = (0 until DefaultSignProjections)
    .map(p => s"SELECT vec_id, $p AS proj, ${signBucket(i => s"v[$i]", DefaultSignBits, p)} AS bucket FROM n")
    .mkString("\n  UNION ALL\n  ")

  // shared integer-quantized (vec_id, label, dim, q) CTE for q71/q74/q78
  private val duckEv =
    s"""ev AS (
       | SELECT vec_id, label,
       |  unnest(list_transform(range(1, ${Dim + 1}), i -> CAST(i - 1 AS INTEGER))) AS dim,
       |  unnest(list_transform(range(1, ${Dim + 1}),
       |    i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT))) AS q
       | FROM embeddings)""".stripMargin

  /** q221's oracle: the 3-step signed-half-up power iteration unrolled
    * as CTE triples (u_k, m_k, w_k) — each step is q209's per-term rule
    * with the q212 signed split, character-parallel to the Scala driver
    * arithmetic in [[q221]].
    */
  private def duckSpectral: String = {
    def step(k: Int): String = {
      val prev = if (k == 1) "w0" else s"w${k - 1}"
      s""" u$k AS MATERIALIZED (
         | SELECT s.i AS d,
         |  sum(CASE WHEN s.s * $prev.w < 0
         |   THEN -((2 * (-(s.s * $prev.w)) + (SELECT t FROM tr)) // (2 * (SELECT t FROM tr)))
         |   ELSE (2 * (s.s * $prev.w) + (SELECT t FROM tr)) // (2 * (SELECT t FROM tr)) END) AS u
         | FROM s JOIN $prev ON $prev.d = s.j GROUP BY 1),
         | m$k AS MATERIALIZED (SELECT max(abs(u)) AS m FROM u$k),
         | w$k AS MATERIALIZED (
         | SELECT d, CASE WHEN u < 0
         |  THEN -((2 * (1000000 * (-u)) + (SELECT m FROM m$k)) // (2 * (SELECT m FROM m$k)))
         |  ELSE (2 * (1000000 * u) + (SELECT m FROM m$k)) // (2 * (SELECT m FROM m$k)) END AS w
         | FROM u$k)"""
    }
    s"""WITH $duckEv,
       | s AS MATERIALIZED (
       | SELECT a.dim AS i, b.dim AS j, CAST(sum(a.q * b.q) AS BIGINT) AS s
       | FROM ev a JOIN ev b ON a.vec_id = b.vec_id GROUP BY 1, 2),
       | tr AS MATERIALIZED (
       | SELECT CAST(sum(CASE WHEN i = j THEN s ELSE 0 END) AS BIGINT) AS t FROM s),
       | w0 AS (SELECT DISTINCT i AS d, CAST(1000000 AS HUGEINT) AS w FROM s),
       |${step(1)},
       |${step(2)},
       |${step(3)},
       | ray AS (
       | SELECT sum(CAST(wa.w AS HUGEINT) * s.s * wb.w) AS rn
       | FROM s JOIN w3 wa ON wa.d = s.i JOIN w3 wb ON wb.d = s.j),
       | rd AS (
       | SELECT sum(CAST(w AS HUGEINT) * w) * (SELECT t FROM tr) AS rd FROM w3),
       | dg AS (SELECT i, s FROM s WHERE i = j)
       |SELECT CAST(dg.i AS BIGINT) AS dim, dg.s AS energy,
       | CAST((2 * CAST(1000000 AS HUGEINT) * dg.s + (SELECT t FROM tr))
       |  // (2 * (SELECT t FROM tr)) AS BIGINT) AS energy_share_e6,
       | CAST(w3.w AS BIGINT) AS w_e6,
       | CAST((2 * 1000000 * (SELECT rn FROM ray) + (SELECT rd FROM rd))
       |  // (2 * (SELECT rd FROM rd)) AS BIGINT) AS ray_share_e6
       |FROM dg JOIN w3 ON w3.d = dg.i ORDER BY dim""".stripMargin
  }

  /** Shared DuckDB CTE prefix for the PQ family (q211/q228): codebook,
    * assignments, LUT, ADC pair distances, and exact pair distances.
    */
  private val duckPq: String =
    s"""WITH e AS (
         | SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |   x -> CAST(round(x * 1000000) AS BIGINT)) AS ve6
         | FROM embeddings),
         | sel AS (
         | SELECT vec_id AS cw, ve6
         | FROM (SELECT vec_id, ve6,
         |        ((vec_id % 2147483647) * 2654435761) % 4294967296 AS h FROM e)
         | ORDER BY h, vec_id LIMIT 8),
         | cb AS (
         | SELECT cw, m, array_slice(ve6, m * 16 + 1, (m + 1) * 16) AS csub
         | FROM sel CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
         | vs AS (
         | SELECT vec_id, m, array_slice(ve6, m * 16 + 1, (m + 1) * 16) AS vsub
         | FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
         | d AS (
         | SELECT vec_id, vs.m AS m, cw,
         |  CAST(list_sum(list_transform(range(1, 17),
         |   i -> (vsub[i] - csub[i]) * (vsub[i] - csub[i]))) AS BIGINT) AS dist
         | FROM vs JOIN cb ON vs.m = cb.m),
         | a AS (
         | SELECT vec_id, m, cw,
         |  row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cw) AS rn
         | FROM d),
         | q AS (SELECT vec_id AS qid, ve6 AS qv FROM e WHERE vec_id < 10),
         | qs AS (
         | SELECT qid, m, array_slice(qv, m * 16 + 1, (m + 1) * 16) AS qsub
         | FROM q CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
         | lut AS (
         | SELECT qid, qs.m AS m, cw,
         |  CAST(list_sum(list_transform(range(1, 17),
         |   i -> (qsub[i] - csub[i]) * (qsub[i] - csub[i]))) AS BIGINT) AS ld
         | FROM qs JOIN cb ON qs.m = cb.m),
         | adc AS (
         | SELECT lut.qid, a.vec_id, sum(ld) AS adc
         | FROM (SELECT * FROM a WHERE rn = 1) a
         | JOIN lut ON lut.m = a.m AND lut.cw = a.cw
         | WHERE a.vec_id <> lut.qid
         | GROUP BY lut.qid, a.vec_id),
         | pq AS (
         | SELECT qid, vec_id,
         |  row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS prk
         | FROM adc),
         | td AS (
         | SELECT q.qid, e.vec_id,
         |  CAST(list_sum(list_transform(range(1, 65),
         |   i -> (ve6[i] - qv[i]) * (ve6[i] - qv[i]))) AS BIGINT) AS tdist
         | FROM e CROSS JOIN q WHERE e.vec_id <> q.qid),
         | truth AS (
         | SELECT qid, vec_id,
         |  row_number() OVER (PARTITION BY qid ORDER BY tdist, vec_id) AS trk
         | FROM td)""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q247_rrf_fusion" ->
      s"""$duckPq,
         | hv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         | hs AS (
         | SELECT vec_id,
         |  ${(0 until DefaultSignProjections)
               .map(p => s"(${signBucket(i => s"v[$i]", DefaultSignBits, p)}) * ${1L << ((DefaultSignProjections - 1 - p) * DefaultSignBits)}")
               .mkString(" + ")} AS sk
         | FROM hv),
         | hq AS (SELECT vec_id AS qid, sk AS qsk FROM hs WHERE vec_id < 10),
         | hr AS (
         | SELECT qid, s.vec_id,
         |  row_number() OVER (PARTITION BY qid
         |   ORDER BY bit_count(xor(s.sk, qsk)), s.vec_id) AS rka
         | FROM hs s JOIN hq ON s.vec_id <> qid),
         | la AS (SELECT qid, vec_id, rka FROM hr WHERE rka <= 50),
         | lb AS (SELECT qid, vec_id, prk AS rkb FROM pq WHERE prk <= 50),
         | tk AS (SELECT qid, vec_id FROM truth WHERE trk <= 10),
         | fu AS (
         | SELECT coalesce(la.qid, lb.qid) AS qid,
         |  coalesce(la.vec_id, lb.vec_id) AS vec_id, rka, rkb,
         |  (CASE WHEN rka IS NULL THEN 0
         |    ELSE (2 * 1000000 + (60 + rka)) // (2 * (60 + rka)) END
         |   + CASE WHEN rkb IS NULL THEN 0
         |    ELSE (2 * 1000000 + (60 + rkb)) // (2 * (60 + rkb)) END) AS score
         | FROM la FULL OUTER JOIN lb ON la.qid = lb.qid AND la.vec_id = lb.vec_id),
         | us AS (
         | SELECT qid, count(*) AS n_union,
         |  CAST(sum(CASE WHEN rka IS NOT NULL AND rkb IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS n_overlap
         | FROM fu GROUP BY 1),
         | ha AS (
         | SELECT la.qid, CAST(sum(CASE WHEN tk.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS hits_ham
         | FROM la LEFT JOIN tk ON la.qid = tk.qid AND la.vec_id = tk.vec_id
         | WHERE rka <= 10 GROUP BY 1),
         | hb AS (
         | SELECT lb.qid, CAST(sum(CASE WHEN tk.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS hits_adc
         | FROM lb LEFT JOIN tk ON lb.qid = tk.qid AND lb.vec_id = tk.vec_id
         | WHERE rkb <= 10 GROUP BY 1),
         | fr AS (
         | SELECT qid, vec_id,
         |  row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rrf_rank
         | FROM fu),
         | hf AS (
         | SELECT fr.qid, CAST(sum(CASE WHEN tk.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |   AS BIGINT) AS hits_rrf
         | FROM fr LEFT JOIN tk ON fr.qid = tk.qid AND fr.vec_id = tk.vec_id
         | WHERE rrf_rank <= 10 GROUP BY 1)
         |SELECT us.qid, n_union, n_overlap, hits_ham, hits_adc, hits_rrf
         |FROM us JOIN ha ON ha.qid = us.qid JOIN hb ON hb.qid = us.qid
         |JOIN hf ON hf.qid = us.qid
         |ORDER BY us.qid""".stripMargin,
    "q221_spectral_mass" -> duckSpectral,
    "q228_adc_calibration" ->
      s"""$duckPq,
         | j AS (
         | SELECT adc.qid, adc.vec_id, adc.adc, td.tdist
         | FROM adc JOIN td ON td.qid = adc.qid AND td.vec_id = adc.vec_id),
         | r AS (
         | SELECT qid, adc, tdist,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY adc, vec_id) AS BIGINT) AS prk,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY tdist, vec_id) AS BIGINT) AS trk
         | FROM j),
         | g AS (
         | SELECT qid, count(*) AS n_pairs,
         |  CAST(sum(abs(prk - trk)) AS BIGINT) AS footrule,
         |  CAST(sum(adc) AS HUGEINT) AS s_adc, CAST(sum(tdist) AS HUGEINT) AS s_true
         | FROM r GROUP BY 1)
         |SELECT qid, n_pairs,
         | CAST((2 * 10000 * footrule + greatest((n_pairs * n_pairs) // 2, 1))
         |  // (2 * greatest((n_pairs * n_pairs) // 2, 1)) AS BIGINT) AS footrule_e4,
         | CASE WHEN s_adc - s_true < 0
         |  THEN -CAST((2 * 10000 * (s_true - s_adc) + s_true) // (2 * s_true) AS BIGINT)
         |  ELSE CAST((2 * 10000 * (s_adc - s_true) + s_true) // (2 * s_true) AS BIGINT)
         | END AS bias_e4
         |FROM g ORDER BY qid""".stripMargin,
    "q226_signlsh_calibration" ->
      s"""WITH $duckVectors,
         | sk AS (
         | SELECT vec_id, v, nrm,
         |  ${(0 until DefaultSignProjections)
             .map(p => s"(${signBucket(i => s"v[$i]", DefaultSignBits, p)}) * ${1L << ((DefaultSignProjections - 1 - p) * DefaultSignBits)}")
             .mkString(" + ")} AS sk
         | FROM n),
         | q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, sk AS qsk FROM sk WHERE vec_id < 10),
         | pr AS (
         | SELECT CAST(bit_count(xor(s.sk, q.qsk)) AS BIGINT) AS h,
         |  CAST(floor(round(${duckDot("s.v", "q.qv")} / (s.nrm * q.qnrm), 6) * 1000000 + 0.5)
         |   AS BIGINT) AS c_e6
         | FROM sk s JOIN q ON s.vec_id <> q.qid)
         |SELECT h, count(*) AS n_pairs,
         | CAST((2 * sum(c_e6 + 1000000) + count(*)) // (2 * count(*)) - 1000000 AS BIGINT)
         |  AS mean_cos_e6,
         | CAST(floor(cos(CAST(h AS DOUBLE) * pi() / ${DefaultSignBits * DefaultSignProjections})
         |  * 1000000 + 0.5) AS BIGINT) AS theory_cos_e6
         |FROM pr GROUP BY h ORDER BY h""".stripMargin,
    "q244_calinski_harabasz" ->
      s"""WITH $duckEv,
         | cent AS (
         | SELECT label AS clabel, dim AS cdim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
         | FROM ev GROUP BY 1, 2),
         | gtot AS (
         | SELECT cdim, CAST(sum(sq) AS BIGINT) AS gsq, CAST(sum(cnt) AS BIGINT) AS n
         | FROM cent GROUP BY 1),
         | bt AS (
         | SELECT clabel, CAST(sum(dd * dd) AS BIGINT) AS dd2,
         |  max(cnt) AS n_vecs, max(n) AS n_tot
         | FROM (
         |  SELECT clabel, cnt, n,
         |   (2 * (sq * n - gsq * cnt + cnt * n * 100000) + cnt * n)
         |    // (2 * cnt * n) - 100000 AS dd
         |  FROM cent JOIN gtot USING (cdim)) GROUP BY 1),
         | pv AS (
         | SELECT vec_id, ev.label AS label,
         |  CAST(sum((q * cnt - sq) * (q * cnt - sq)) AS BIGINT) AS num, max(cnt) AS cnt
         | FROM ev JOIN cent ON ev.label = clabel AND dim = cdim GROUP BY 1, 2),
         | wt AS (
         | SELECT label,
         |  CAST((2 * sum(num) + max(cnt) * max(cnt))
         |   // (2 * max(cnt) * max(cnt)) AS BIGINT) AS within_e0
         | FROM pv GROUP BY 1),
         | cells AS (
         | SELECT clabel AS label, n_vecs, within_e0,
         |  CAST(n_vecs * dd2 AS BIGINT) AS between_e0, n_tot
         | FROM bt JOIN wt ON clabel = label),
         | tot AS (
         | SELECT CAST((2 * 10000 * sum(between_e0) * (max(n_tot) - count(*))
         |   + sum(within_e0) * greatest(count(*) - 1, 1))
         |  // (2 * sum(within_e0) * greatest(count(*) - 1, 1)) AS BIGINT) AS ch_e4
         | FROM cells)
         |SELECT label, n_vecs, within_e0, between_e0, ch_e4
         |FROM cells CROSS JOIN tot ORDER BY label""".stripMargin,
    "q193_davies_bouldin" ->
      s"""WITH $duckEv,
         | cent AS (
         | SELECT label AS clabel, dim AS cdim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
         | FROM ev GROUP BY 1, 2),
         | pv AS (
         | SELECT vec_id, ev.label AS label,
         |  CAST(sum((q * cnt - sq) * (q * cnt - sq)) AS BIGINT) AS num, max(cnt) AS cnt
         | FROM ev JOIN cent ON ev.label = clabel AND dim = cdim GROUP BY 1, 2),
         | sc AS (
         | SELECT label, count(*) AS n_vecs,
         |  CAST((2 * sum(num) + count(*) * max(cnt) * max(cnt))
         |   // (2 * count(*) * max(cnt) * max(cnt)) AS BIGINT) AS scatter_e0
         | FROM pv GROUP BY label),
         | gp AS (
         | SELECT a.clabel AS la, b.clabel AS lb,
         |  CAST(sum((a.sq * b.cnt - b.sq * a.cnt) * (a.sq * b.cnt - b.sq * a.cnt))
         |   AS BIGINT) AS d_sum,
         |  max(a.cnt * b.cnt) AS cc
         | FROM cent a JOIN cent b ON a.cdim = b.cdim AND a.clabel <> b.clabel
         | GROUP BY 1, 2),
         | g AS (
         | SELECT la, lb, CAST((2 * d_sum + cc * cc) // (2 * cc * cc) AS BIGINT) AS gap_e0
         | FROM gp),
         | r AS (
         | SELECT la, lb,
         |  CAST((2 * 10000 * (sa.scatter_e0 + sb.scatter_e0) + gap_e0)
         |   // (2 * gap_e0) AS BIGINT) AS r_e4
         | FROM g JOIN sc sa ON sa.label = la JOIN sc sb ON sb.label = lb),
         | pick AS (
         | SELECT la, max(lpad(CAST(r_e4 AS VARCHAR), 19, '0') || ':'
         |   || lpad(CAST(lb AS VARCHAR), 6, '0')) AS p
         | FROM r GROUP BY la)
         |SELECT la AS label, n_vecs, scatter_e0,
         | CAST(substr(p, 21) AS BIGINT) AS worst_label,
         | CAST(substr(p, 1, 19) AS BIGINT) AS r_max_e4
         |FROM pick JOIN sc ON sc.label = la
         |ORDER BY label""".stripMargin,
    "q191_cell_outliers" ->
      s"""WITH $duckEv,
         | cent AS (
         | SELECT label AS clabel, dim AS cdim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
         | FROM ev GROUP BY 1, 2),
         | pv AS (
         | SELECT vec_id, ev.label AS label,
         |  CAST(sum((q * cnt - sq) * (q * cnt - sq)) AS BIGINT) AS num, max(cnt) AS cnt
         | FROM ev JOIN cent ON ev.label = clabel AND dim = cdim GROUP BY 1, 2),
         | cs AS (
         | SELECT label, count(*) AS cell_n, CAST(sum(num) AS BIGINT) AS cell_sum,
         |  CAST(max(num) AS BIGINT) AS max_num, max(cnt) AS cnt
         | FROM pv GROUP BY label),
         | o AS (
         | SELECT pv.label AS label,
         |  CASE WHEN 100 * num * cell_n > 102 * cell_sum THEN 1 ELSE 0 END AS t102,
         |  CASE WHEN 100 * num * cell_n > 105 * cell_sum THEN 1 ELSE 0 END AS t105
         | FROM pv JOIN cs USING (label)),
         | oc AS (
         | SELECT label, CAST(sum(t102) AS BIGINT) AS n_tail102,
         |  CAST(sum(t105) AS BIGINT) AS n_tail105
         | FROM o GROUP BY label)
         |SELECT label, cell_n AS n_vecs,
         | CAST((2 * 10000 * cell_sum + cell_n * cnt * cnt)
         |  // (2 * cell_n * cnt * cnt) AS BIGINT) AS mean_dist_e4,
         | CAST((2 * 10000 * max_num + cnt * cnt)
         |  // (2 * cnt * cnt) AS BIGINT) AS max_dist_e4,
         | CAST((2 * 10000 * max_num * cell_n + cell_sum)
         |  // (2 * cell_sum) AS BIGINT) AS spread_e4,
         | n_tail102, n_tail105
         |FROM cs JOIN oc USING (label)
         |ORDER BY label""".stripMargin,
    "q158_centroid_silhouette" ->
      s"""WITH $duckEv,
         | cent AS (
         | SELECT label AS clabel, dim AS cdim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
         | FROM ev GROUP BY 1, 2),
         | scored AS (
         | SELECT vec_id, label, clabel,
         |  CAST(sum((q * cnt - sq) * (q * cnt - sq)) AS BIGINT) AS num, max(cnt) AS cnt2
         | FROM ev JOIN cent ON dim = cdim GROUP BY 1, 2, 3),
         | d AS (
         | SELECT vec_id, label, clabel,
         |  CAST(num AS DOUBLE) / (cnt2 * cnt2) AS dist FROM scored),
         | pv AS (
         | SELECT vec_id, label,
         |  min(CASE WHEN clabel = label THEN dist END) AS a,
         |  min(CASE WHEN clabel <> label THEN dist END) AS b
         | FROM d GROUP BY 1, 2),
         | s AS (
         | SELECT label,
         |  CASE WHEN greatest(a, b) = 0 THEN CAST(0 AS BIGINT)
         |   ELSE CAST(floor((b - a) / greatest(a, b) * 10000) AS BIGINT) END AS sil
         | FROM pv)
         |SELECT label, count(*) AS n_vecs,
         | CAST((2 * sum(sil + 10000) + count(*)) // (2 * count(*)) - 10000 AS BIGINT) AS mean_sil_e4,
         | min(sil) AS min_sil_e4,
         | CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misassigned
         |FROM s GROUP BY label ORDER BY label""".stripMargin,
    "q215_knn_hubness" ->
      s"""WITH $duckVectors,
         | p AS (
         | SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         |  round(${duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos_sim
         | FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
         | r AS (
         | SELECT label, src, dst,
         |  row_number() OVER (PARTITION BY label, src ORDER BY cos_sim DESC, dst) AS rk
         | FROM p),
         | ed AS (SELECT label, src, dst FROM r WHERE rk <= 5),
         | deg AS (SELECT label AS dl, dst, count(*) AS nk FROM ed GROUP BY 1, 2),
         | pv AS (
         | SELECT n.label, n.vec_id, CAST(COALESCE(deg.nk, 0) AS BIGINT) AS nk
         | FROM n LEFT JOIN deg ON deg.dl = n.label AND deg.dst = n.vec_id),
         | st AS (
         | SELECT label, count(*) AS n_vecs,
         |  CAST(sum(nk) AS BIGINT) AS n_edges, max(nk) AS max_nk,
         |  CAST(sum(CASE WHEN nk >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hubs,
         |  CAST(sum(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT) AS antihubs,
         |  CAST(sum(CASE WHEN nk >= 10 THEN nk ELSE 0 END) AS BIGINT) AS hub_edges
         | FROM pv GROUP BY label),
         | dist AS (SELECT label, nk, count(*) AS c FROM pv GROUP BY 1, 2),
         | cm AS (
         | SELECT label, nk,
         |  sum(c) OVER (PARTITION BY label ORDER BY nk
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         | FROM dist),
         | p95 AS (
         | SELECT cm.label, min(nk) AS p95_nk
         | FROM cm JOIN st ON st.label = cm.label
         | WHERE cum >= (95 * n_vecs + 99) // 100 GROUP BY 1)
         |SELECT st.label, n_vecs, n_edges, max_nk, p95_nk, hubs, antihubs,
         | CASE WHEN n_edges = 0 THEN CAST(0 AS BIGINT)
         |  ELSE CAST((2 * 10000 * hub_edges + n_edges) // (2 * n_edges) AS BIGINT)
         | END AS hub_mass_e4
         |FROM st JOIN p95 ON p95.label = st.label
         |ORDER BY st.label""".stripMargin,
    "q154_knn_reciprocity" ->
      s"""WITH $duckVectors,
         | p AS (
         | SELECT a.label AS label, a.vec_id AS src, b.vec_id AS dst,
         |  round(${duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos_sim
         | FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
         | r AS (
         | SELECT label, src, dst,
         |  row_number() OVER (PARTITION BY label, src ORDER BY cos_sim DESC, dst) AS rk
         | FROM p),
         | ed AS (SELECT label, src, dst FROM r WHERE rk <= 5),
         | m AS (
         | SELECT a.label AS label, count(*) AS n_mutual
         | FROM ed a JOIN ed b ON a.src = b.dst AND a.dst = b.src GROUP BY 1),
         | es AS (SELECT label, count(*) AS n_edges FROM ed GROUP BY label),
         | nv AS (SELECT label, count(*) AS n_vecs FROM n GROUP BY label)
         |SELECT nv.label, n_vecs,
         | CAST(COALESCE(n_edges, 0) AS BIGINT) AS n_edges,
         | CAST(COALESCE(n_mutual, 0) AS BIGINT) AS n_mutual,
         | CASE WHEN COALESCE(n_edges, 0) = 0 THEN CAST(0 AS BIGINT)
         |  ELSE (2 * 10000 * COALESCE(n_mutual, 0) + n_edges) // (2 * n_edges) END AS mutual_e4
         |FROM nv LEFT JOIN es ON nv.label = es.label LEFT JOIN m ON nv.label = m.label
         |ORDER BY nv.label""".stripMargin,
    "q115_ivf_recall" ->
      s"""WITH $duckEv,
         | cent AS (
         | SELECT label AS clabel, dim AS cdim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
         | FROM ev GROUP BY label, dim),
         | scored AS (
         | SELECT vec_id AS qid, clabel,
         |  CAST(sum((q * cnt - sq) * (q * cnt - sq)) AS BIGINT) AS num, max(cnt) AS cnt
         | FROM ev JOIN cent ON dim = cdim WHERE vec_id < 10 GROUP BY vec_id, clabel),
         | pr AS (
         | SELECT qid, clabel,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY CAST(num AS DOUBLE) / CAST(cnt * cnt AS DOUBLE), clabel) AS INTEGER) AS probe_rank
         | FROM scored),
         | probes AS (SELECT * FROM pr WHERE probe_rank <= 4),
         | $duckVectors,
         | qset AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 10),
         | tr AS (
         | SELECT q.qid, n.vec_id,
         |  round(${duckDot("qv", "v")} / (qnrm * nrm), 6) AS cos_sim
         | FROM n CROSS JOIN qset q WHERE n.vec_id <> q.qid),
         | tt AS (
         | SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id,
         |   row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS rk
         |  FROM tr) WHERE rk <= 10),
         | cd AS (
         | SELECT p.qid, n.vec_id,
         |  round(${duckDot("qv", "v")} / (qnrm * nrm), 6) AS cos_sim, p.probe_rank
         | FROM probes p
         | JOIN n ON n.label = p.clabel
         | JOIN qset q ON q.qid = p.qid
         | WHERE n.vec_id <> p.qid),
         | cfg AS (SELECT unnest([1, 2, 4]) AS nprobe),
         | sw AS (
         | SELECT nprobe, qid, vec_id, cos_sim, probe_rank
         | FROM cd CROSS JOIN cfg WHERE probe_rank <= nprobe),
         | rkd AS (
         | SELECT *, row_number() OVER (PARTITION BY qid, nprobe
         |   ORDER BY cos_sim DESC, vec_id) AS rk FROM sw),
         | pq AS (
         | SELECT nprobe, rkd.qid AS qid,
         |  CAST(sum(CASE WHEN rk <= 10 AND tt.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |  count(*) AS n_cand
         | FROM rkd LEFT JOIN tt ON tt.qid = rkd.qid AND tt.vec_id = rkd.vec_id
         | GROUP BY nprobe, rkd.qid),
         | nc AS (SELECT count(*) AS n_corpus FROM embeddings)
         |SELECT nprobe, count(*) AS n_queries,
         | round(sum(hits) / (count(*) * 10), 4) AS avg_recall,
         | round(min(hits) / 10, 4) AS min_recall,
         | round(sum(n_cand) / (count(*) * max(n_corpus)), 4) AS cand_frac
         |FROM pq CROSS JOIN nc GROUP BY nprobe ORDER BY nprobe""".stripMargin,
    "q109_embedding_audit" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | n AS (
        | SELECT label,
        |  list_sum(list_transform(v, x -> x * x)) AS norm2,
        |  len(list_filter(v, x -> isnan(x - x))) > 0 AS nonfinite
        | FROM e),
        | q AS (
        | SELECT label, nonfinite,
        |  CASE WHEN nonfinite THEN NULL
        |       ELSE CAST(round(norm2 * 1e6, 0) AS BIGINT) END AS norm2_e6
        | FROM n)
        |SELECT label, count(*) AS n_vecs,
        | CAST(sum(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        | CAST(sum(CASE WHEN NOT nonfinite AND norm2_e6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        | min(norm2_e6) AS min_norm2_e6,
        | max(norm2_e6) AS max_norm2_e6,
        | round(avg(norm2_e6), 2) AS avg_norm2_e6
        |FROM q GROUP BY label ORDER BY label""".stripMargin,
    "q104_cluster_sample" ->
      """WITH h AS (
        | SELECT vec_id, label, ((vec_id % 2147483647) * 2654435761) % 4294967296 AS h
        | FROM embeddings),
        | r AS (
        | SELECT label, vec_id,
        |  row_number() OVER (PARTITION BY label ORDER BY h, vec_id) <= 8 AS kept
        | FROM h)
        |SELECT label, count(*) AS n_vecs,
        | CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN kept THEN vec_id ELSE 0 END) AS BIGINT) AS kept_id_sum,
        | round(sum(CASE WHEN kept THEN 1 ELSE 0 END) / count(*), 4) AS sample_rate
        |FROM r GROUP BY label ORDER BY label""".stripMargin,
    "q150_source_diversity" ->
      """WITH l AS (
        | SELECT e.vec_id AS doc_id, e.label, d.source
        | FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id),
        | c AS (SELECT source, label, count(*) AS n FROM l GROUP BY 1, 2),
        | x AS (
        | SELECT source, label, n,
        |  CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS total
        | FROM c),
        | tm AS (
        | SELECT source, n, total,
        |  CAST(round(-(CAST(n AS DOUBLE) / total)
        |    * ln(CAST(n AS DOUBLE) / total) * 1000000, 0) AS BIGINT) AS term_e6
        | FROM x)
        |SELECT source, CAST(max(total) AS BIGINT) AS n_docs, count(*) AS n_labels,
        | CAST(sum(term_e6) AS BIGINT) AS entropy_e6,
        | round(CAST(max(n) AS DOUBLE) / max(total), 4) AS top_label_share
        |FROM tm GROUP BY source ORDER BY source""".stripMargin,
    "q145_embedding_drift" ->
      s"""WITH e AS (
         | SELECT vec_id, label,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |   x -> CAST(round(x * 1000000) AS BIGINT)) AS q
         | FROM embeddings),
         | x AS (
         | SELECT label, vec_id % 2 = 0 AS is_a, d AS dim, q[d] AS v
         | FROM e CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS d)),
         | s AS (
         | SELECT label, is_a, dim, CAST(sum(v) AS BIGINT) AS s, count(*) AS n
         | FROM x GROUP BY 1, 2, 3),
         | a AS (SELECT label, dim, s AS sa, n AS na FROM s WHERE is_a),
         | b AS (SELECT label, dim, s AS sb, n AS nb FROM s WHERE NOT is_a),
         | j AS (
         | SELECT a.label, a.dim,
         |  CAST(sa * nb - sb * na AS DOUBLE) / CAST(na * nb AS DOUBLE) AS d, na, nb
         | FROM a JOIN b ON a.label = b.label AND a.dim = b.dim)
         |SELECT label, CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
         | CAST(sum(CAST(round(d * d, 0) AS BIGINT)) AS BIGINT) AS drift_e12,
         | CAST(max(CAST(round(abs(d), 0) AS BIGINT)) AS BIGINT) AS max_dim_gap_e6
         |FROM j GROUP BY label ORDER BY label""".stripMargin,
    "q137_semantic_decon" ->
      s"""WITH $duckVectors,
         | ev AS (SELECT label, vec_id AS eval_id, v, nrm FROM n WHERE vec_id % 97 = 0),
         | tr AS (SELECT label, vec_id AS train_id, v, nrm FROM n WHERE vec_id % 97 <> 0),
         | h AS (
         | SELECT tr.label, train_id,
         |  round(${duckDot("tr.v", "ev.v")} / (tr.nrm * ev.nrm), 6) AS cos_sim
         | FROM tr JOIN ev ON tr.label = ev.label),
         | f AS (SELECT * FROM h WHERE cos_sim >= 0.25),
         | g AS (
         | SELECT label, count(DISTINCT train_id) AS n_contaminated,
         |  count(*) AS n_hit_pairs, max(cos_sim) AS max_sim
         | FROM f GROUP BY label),
         | s AS (
         | SELECT label,
         |  CAST(sum(CASE WHEN vec_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_eval,
         |  CAST(sum(CASE WHEN vec_id % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_train
         | FROM e GROUP BY label)
         |SELECT s.label, n_eval, n_train,
         | CAST(coalesce(n_contaminated, 0) AS BIGINT) AS n_contaminated,
         | CAST(coalesce(n_hit_pairs, 0) AS BIGINT) AS n_hit_pairs,
         | coalesce(max_sim, 0.0) AS max_sim
         |FROM s LEFT JOIN g ON g.label = s.label ORDER BY s.label""".stripMargin,
    "q101_semdedup" ->
      s"""WITH $duckVectors,
         | p AS (
         | SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(${duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos_sim
         | FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id),
         | f AS (SELECT * FROM p WHERE cos_sim >= 0.25),
         | d AS (SELECT label, count(DISTINCT id_b) AS n_dropped FROM f GROUP BY label),
         | g AS (SELECT label, count(*) AS n_dup_pairs, max(cos_sim) AS max_sim
         |   FROM f GROUP BY label),
         | s AS (SELECT label, count(*) AS n_vecs FROM e GROUP BY label)
         |SELECT s.label, CAST(n_vecs AS BIGINT) AS n_vecs,
         | CAST(coalesce(n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
         | CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_dropped,
         | CAST(n_vecs - coalesce(d.n_dropped, 0) AS BIGINT) AS n_kept,
         | coalesce(max_sim, 0.0) AS max_sim
         |FROM s LEFT JOIN g ON g.label = s.label LEFT JOIN d ON d.label = s.label
         |ORDER BY s.label""".stripMargin,
    "q74_ivf_multiprobe" ->
      s"""WITH $duckEv,
         | cent AS (
         | SELECT label AS clabel, dim AS cdim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
         | FROM ev GROUP BY label, dim),
         | scored AS (
         | SELECT vec_id AS qid, clabel,
         |  CAST(sum((q * cnt - sq) * (q * cnt - sq)) AS BIGINT) AS num, max(cnt) AS cnt
         | FROM ev JOIN cent ON dim = cdim WHERE vec_id < 10 GROUP BY vec_id, clabel),
         | pr AS (
         | SELECT qid, clabel,
         |  CAST(row_number() OVER (PARTITION BY qid
         |    ORDER BY CAST(num AS DOUBLE) / CAST(cnt * cnt AS DOUBLE), clabel) AS INTEGER) AS probe_rank
         | FROM scored),
         | probes AS (SELECT * FROM pr WHERE probe_rank <= 2),
         | $duckVectors,
         | qset AS (SELECT vec_id AS qid2, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 10),
         | c AS (
         | SELECT p.qid, n.label, p.probe_rank, n.vec_id AS neighbor_id,
         |  round(${duckDot("qv", "v")} / (qnrm * nrm), 6) AS cos_sim
         | FROM probes p
         | JOIN n ON n.label = p.clabel
         | JOIN qset ON qid2 = p.qid
         | WHERE n.vec_id <> p.qid),
         | r AS (
         | SELECT qid AS query_id, label, probe_rank, neighbor_id, cos_sim,
         |  CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS nn_rank
         | FROM c)
         |SELECT query_id, label, probe_rank, neighbor_id, cos_sim, nn_rank
         |FROM r WHERE nn_rank <= 5 ORDER BY query_id, nn_rank""".stripMargin,
    "q78_embedding_quantize" ->
      s"""WITH $duckEv,
         | stats AS (SELECT dim, min(q) AS mn, max(q) AS mx FROM ev GROUP BY dim),
         | qq AS (
         | SELECT e.dim, e.q, s.mn, s.mx,
         |  CASE WHEN s.mx > s.mn THEN ((e.q - s.mn) * 255) // (s.mx - s.mn) ELSE 0 END AS q8
         | FROM ev e JOIN stats s ON e.dim = s.dim),
         | rec AS (SELECT dim, q, mn, mx, mn + (q8 * (mx - mn)) // 255 AS dq FROM qq)
         |SELECT dim, max(mn) AS mn, max(mx) AS mx,
         | CAST(sum(abs(dq - q)) AS BIGINT) AS total_abs_err, count(*) AS n
         |FROM rec GROUP BY dim ORDER BY dim""".stripMargin,
    "q71_kmeans_step" ->
      s"""WITH $duckEv,
         | cent AS (
         | SELECT label AS clabel, dim AS cdim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS cnt
         | FROM ev GROUP BY label, dim),
         | scored AS (
         | SELECT vec_id, label, clabel,
         |  CAST(sum((q * cnt - sq) * (q * cnt - sq)) AS BIGINT) AS num, max(cnt) AS cnt
         | FROM ev JOIN cent ON dim = cdim GROUP BY vec_id, label, clabel),
         | ranked AS (
         | SELECT vec_id, label, clabel,
         |  CAST(num AS DOUBLE) / CAST(cnt * cnt AS DOUBLE) AS dist,
         |  CAST(row_number() OVER (PARTITION BY vec_id
         |    ORDER BY CAST(num AS DOUBLE) / CAST(cnt * cnt AS DOUBLE), clabel) AS INTEGER) AS rn
         | FROM scored)
         |SELECT vec_id, label AS old_label, clabel AS new_label,
         | CAST(floor(dist * 10000) AS BIGINT) AS dist_e4
         |FROM ranked WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    "q40_cosine_topk" ->
      s"""WITH $duckVectors,
         | q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 10),
         | c AS (SELECT qid, vec_id AS neighbor_id,
         |   round(${duckDot("qv", "v")} / (qnrm * nrm), 6) AS cos_sim
         |  FROM q, n WHERE vec_id <> qid),
         | r AS (SELECT qid AS query_id, neighbor_id, cos_sim,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS nn_rank
         |  FROM c)
         |SELECT query_id, neighbor_id, cos_sim, nn_rank FROM r WHERE nn_rank <= 5
         |ORDER BY query_id, nn_rank""".stripMargin,
    "q41_embedding_neardup" ->
      s"""WITH $duckVectors,
         | p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |   round(${duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos_sim
         |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cos_sim FROM p WHERE cos_sim >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,
    "q272_mmr_rerank" -> mmrOracle,
    "q282_kcenter_greedy" ->
      s"""WITH e AS (
         | SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS vq
         | FROM embeddings),
         | c1 AS (SELECT vec_id AS cid, vq AS cv FROM e ORDER BY vec_id LIMIT 1),
         | d1 AS (
         |  SELECT vec_id, vq, CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |    i -> (vq[i] - cv[i]) * (vq[i] - cv[i]))) AS BIGINT) AS dmin
         |  FROM e, c1),
         | r1 AS (
         |  SELECT 1 AS k, cid AS center_id, CAST(max(dmin) AS BIGINT) AS radius2
         |  FROM d1, c1 GROUP BY cid),
         | c2 AS (SELECT vec_id AS cid, vq AS cv FROM d1 ORDER BY dmin DESC, vec_id LIMIT 1),
         | d2 AS (
         |  SELECT d1.vec_id, d1.vq, least(dmin,
         |   CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |    i -> (d1.vq[i] - cv[i]) * (d1.vq[i] - cv[i]))) AS BIGINT)) AS dmin
         |  FROM d1, c2),
         | r2 AS (
         |  SELECT 2 AS k, cid AS center_id, CAST(max(dmin) AS BIGINT) AS radius2
         |  FROM d2, c2 GROUP BY cid),
         | c3 AS (SELECT vec_id AS cid, vq AS cv FROM d2 ORDER BY dmin DESC, vec_id LIMIT 1),
         | d3 AS (
         |  SELECT d2.vec_id, d2.vq, least(dmin,
         |   CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |    i -> (d2.vq[i] - cv[i]) * (d2.vq[i] - cv[i]))) AS BIGINT)) AS dmin
         |  FROM d2, c3),
         | r3 AS (
         |  SELECT 3 AS k, cid AS center_id, CAST(max(dmin) AS BIGINT) AS radius2
         |  FROM d3, c3 GROUP BY cid),
         | c4 AS (SELECT vec_id AS cid, vq AS cv FROM d3 ORDER BY dmin DESC, vec_id LIMIT 1),
         | d4 AS (
         |  SELECT d3.vec_id, d3.vq, least(dmin,
         |   CAST(list_sum(list_transform(range(1, ${Dim + 1}),
         |    i -> (d3.vq[i] - cv[i]) * (d3.vq[i] - cv[i]))) AS BIGINT)) AS dmin
         |  FROM d3, c4),
         | r4 AS (
         |  SELECT 4 AS k, cid AS center_id, CAST(max(dmin) AS BIGINT) AS radius2
         |  FROM d4, c4 GROUP BY cid)
         |SELECT k, center_id, radius2 FROM (
         | SELECT * FROM r1 UNION ALL SELECT * FROM r2
         | UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4)
         |ORDER BY k""".stripMargin,
    "q281_jl_distortion" ->
      s"""WITH signs AS (
         | SELECT j, i,
         |  CASE WHEN (CASE WHEN ascii(substr(md5(i || '_' || j), 1, 1)) >= 97
         |     THEN ascii(substr(md5(i || '_' || j), 1, 1)) - 87
         |     ELSE ascii(substr(md5(i || '_' || j), 1, 1)) - 48 END) % 2 = 0
         |   THEN 1 ELSE -1 END AS s
         | FROM (SELECT unnest(range(0, 32)) AS j) js,
         |  (SELECT unnest(range(0, $Dim)) AS i) isq),
         | smp AS (
         | SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |    x -> CAST(floor(x * 10000 + 0.5) AS BIGINT)) AS vq
         | FROM embeddings WHERE vec_id < 48),
         | pr AS (
         |  SELECT a.vec_id AS ida, b.vec_id AS idb,
         |   list_transform(range(1, ${Dim + 1}), i -> a.vq[i] - b.vq[i]) AS d
         |  FROM smp a JOIN smp b ON a.vec_id < b.vec_id),
         | pd AS (
         |  SELECT ida, idb, d,
         |   CAST(list_sum(list_transform(d, x -> x * x)) AS BIGINT) AS dist2
         |  FROM pr),
         | dim AS (
         |  SELECT ida, idb, dist2, CAST(di.i - 1 AS INTEGER) AS i, d[di.i] AS dv
         |  FROM pd, (SELECT unnest(range(1, ${Dim + 1})) AS i) di
         |  WHERE dist2 > 0),
         | proj AS (
         |  SELECT ida, idb, dist2, j, CAST(sum(s * dv) AS BIGINT) AS pj
         |  FROM dim JOIN signs ON signs.i = dim.i
         |  GROUP BY 1, 2, 3, 4),
         | arms AS (
         |  SELECT ida, idb, k, dist2, CAST(sum(pj * pj) AS BIGINT) AS pd2
         |  FROM proj, (SELECT unnest([4, 8, 16, 32]) AS k) ks
         |  WHERE j < k GROUP BY 1, 2, 3, 4),
         | r AS (
         |  SELECT k,
         |   CAST((2 * 1000000 * pd2 + k * dist2) // (2 * k * dist2) AS BIGINT)
         |    AS ratio_e6
         |  FROM arms)
         |SELECT k, count(*) AS n_pairs,
         | CAST((2 * sum(ratio_e6) + count(*)) // (2 * count(*)) AS BIGINT) AS mean_ratio_e6,
         | CAST(min(ratio_e6) AS BIGINT) AS min_ratio_e6,
         | CAST(max(ratio_e6) AS BIGINT) AS max_ratio_e6,
         | CAST((2 * 1000000 * sum(CASE WHEN ratio_e6 BETWEEN 500000 AND 1500000
         |    THEN 1 ELSE 0 END) + count(*)) // (2 * count(*)) AS BIGINT) AS within_band_e6
         |FROM r GROUP BY k ORDER BY k""".stripMargin,
    "q269_mrl_fidelity" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        | q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 16),
        | pair AS (SELECT qid, vec_id, qv, v FROM q, e WHERE vec_id <> qid),
        | c AS (
        | SELECT qid, vec_id, d,
        |  round(list_sum(list_transform(range(1, d + 1), i -> qv[i] * v[i]))
        |   / (sqrt(list_sum(list_transform(range(1, d + 1), i -> qv[i] * qv[i])))
        |      * sqrt(list_sum(list_transform(range(1, d + 1), i -> v[i] * v[i])))), 6) AS cosd
        | FROM pair CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS d) dims),
        | f AS (
        | SELECT qid, vec_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cosd DESC, vec_id) AS rk_full
        | FROM c WHERE d = 64),
        | r AS (
        | SELECT c.qid, c.vec_id, c.d, c.cosd, f.rk_full,
        |  row_number() OVER (PARTITION BY c.qid, c.d ORDER BY cosd DESC, c.vec_id) AS rk_d
        | FROM c JOIN f ON f.qid = c.qid AND f.vec_id = c.vec_id),
        | hits AS (
        | SELECT d, CAST(count(DISTINCT qid) AS BIGINT) AS n_queries,
        |  CAST(sum(CASE WHEN rk_full <= 10 AND rk_d <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits
        | FROM r GROUP BY 1),
        | top AS (
        | SELECT qid, d, rk_full,
        |  row_number() OVER (PARTITION BY qid, d ORDER BY cosd DESC, vec_id) AS rr
        | FROM r WHERE rk_full <= 10),
        | cd AS (
        | SELECT a.d, CAST(sum(CASE WHEN b.rr > a.rr THEN 1 ELSE -1 END) AS BIGINT) AS sum_cd
        | FROM top a JOIN top b
        |  ON a.qid = b.qid AND a.d = b.d AND a.rk_full < b.rk_full
        | GROUP BY 1)
        |SELECT hits.d, n_queries,
        | (2 * 10000 * hits + 10 * n_queries) // (2 * 10 * n_queries) AS mean_recall_e4,
        | CAST(floor(sum_cd * 10000.0 / (45.0 * n_queries) + 0.5) AS BIGINT) AS mean_tau_e4
        |FROM hits JOIN cd ON cd.d = hits.d ORDER BY hits.d""".stripMargin,
    "q256_retrieval_quality" ->
      s"""WITH $duckVectors,
         | q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 32),
         | eb AS (
         |  $duckBuckets),
         | cand AS (
         |  SELECT DISTINCT a.vec_id AS qid, b.vec_id
         |  FROM eb a JOIN eb b ON a.proj = b.proj AND a.bucket = b.bucket
         |   AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 32),
         | rsc AS (
         |  SELECT cand.qid, cand.vec_id,
         |   round(${duckDot("nv.v", "qn.qv")} / (nv.nrm * qn.qnrm), 6) AS cos_sim
         |  FROM cand JOIN n nv ON nv.vec_id = cand.vec_id JOIN q qn ON qn.qid = cand.qid),
         | rr AS (
         |  SELECT qid, vec_id,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id)
         |    AS INTEGER) AS ret_rank
         |  FROM rsc),
         | tsc AS (
         |  SELECT q.qid, n.vec_id,
         |   round(${duckDot("n.v", "q.qv")} / (n.nrm * q.qnrm), 6) AS cos_sim
         |  FROM q, n WHERE n.vec_id <> q.qid),
         | tr0 AS (
         |  SELECT qid, vec_id, row_number() OVER
         |   (PARTITION BY qid ORDER BY cos_sim DESC, vec_id) AS truth_rank
         |  FROM tsc),
         | tr AS (SELECT qid, vec_id, truth_rank FROM tr0 WHERE truth_rank <= 10),
         | nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_cand FROM rr GROUP BY 1),
         | hits AS (
         |  SELECT rr.qid, rr.ret_rank, 11 - tr.truth_rank AS gain
         |  FROM rr JOIN tr ON tr.qid = rr.qid AND tr.vec_id = rr.vec_id
         |  WHERE rr.ret_rank <= 10),
         | pq AS (
         |  SELECT qid, CAST(count(*) AS BIGINT) AS n_rel_top10, min(ret_rank) AS first_hit,
         |   CAST(sum(CAST(floor(gain * 1000000 / log2(CAST(ret_rank + 1 AS DOUBLE)) + 0.5)
         |    AS BIGINT)) AS BIGINT) AS dcg
         |  FROM hits GROUP BY 1),
         | idcg AS (
         |  SELECT CAST(list_sum(list_transform(range(1, 11), r ->
         |   CAST(floor((11 - r) * 1000000 / log2(CAST(r + 1 AS DOUBLE)) + 0.5) AS BIGINT)))
         |   AS BIGINT) AS idcg_e6)
         |SELECT q.qid AS query_id,
         | coalesce(n_cand, 0) AS n_cand,
         | coalesce(n_rel_top10, 0) AS n_rel_top10,
         | CAST(coalesce(first_hit, 0) AS INTEGER) AS first_hit_rank,
         | coalesce(CAST(floor(1000000.0 / first_hit + 0.5) AS BIGINT), 0) AS rr_e6,
         | coalesce(dcg, 0) AS dcg_e6,
         | (2 * 1000000 * coalesce(dcg, 0) + idcg_e6) // (2 * idcg_e6) AS ndcg_e6
         |FROM q LEFT JOIN nc ON nc.qid = q.qid LEFT JOIN pq ON pq.qid = q.qid
         | CROSS JOIN idcg
         |ORDER BY query_id""".stripMargin,
    "q42_ann_sign_lsh" ->
      s"""WITH $duckVectors,
         | eb AS (
         |  $duckBuckets),
         | cand AS (
         |  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nid
         |  FROM eb a JOIN eb b ON a.proj = b.proj AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         | c AS (SELECT cand.qid, cand.nid AS neighbor_id,
         |   round(${duckDot("q.v", "x.v")} / (q.nrm * x.nrm), 6) AS cos_sim
         |  FROM cand JOIN n q ON q.vec_id = cand.qid JOIN n x ON x.vec_id = cand.nid),
         | r AS (SELECT qid AS query_id, neighbor_id, cos_sim,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS nn_rank
         |  FROM c)
         |SELECT query_id, neighbor_id, cos_sim, nn_rank FROM r WHERE nn_rank <= 3
         |ORDER BY query_id, nn_rank""".stripMargin,
    "q43_ivf_search" ->
      s"""WITH $duckVectors,
         | q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv, nrm AS qnrm FROM n WHERE vec_id < 10),
         | c AS (SELECT qid, n.label, vec_id AS neighbor_id,
         |   round(${duckDot("qv", "v")} / (qnrm * nrm), 6) AS cos_sim
         |  FROM q JOIN n ON n.label = qlabel AND n.vec_id <> qid),
         | r AS (SELECT qid AS query_id, label, neighbor_id, cos_sim,
         |   CAST(row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, neighbor_id) AS INTEGER) AS nn_rank
         |  FROM c)
         |SELECT query_id, label, neighbor_id, cos_sim, nn_rank FROM r WHERE nn_rank <= 5
         |ORDER BY query_id, nn_rank""".stripMargin,
    "q170_ann_margin" ->
      s"""WITH $duckVectors,
         | p AS (
         | SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(${duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos_sim
         | FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
         | r AS (
         | SELECT label, a_id, cos_sim,
         |  row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id) AS rk
         | FROM p),
         | t2 AS (
         | SELECT label, a_id,
         |  max(CASE WHEN rk = 1 THEN cos_sim END) AS s1,
         |  max(CASE WHEN rk = 2 THEN cos_sim END) AS s2
         | FROM r WHERE rk <= 2 GROUP BY label, a_id),
         | m AS (
         | SELECT label, CAST(floor((s1 - s2) * 1000000 + 0.5) AS BIGINT) AS margin_e6
         | FROM t2 WHERE s2 IS NOT NULL)
         |SELECT label, count(*) AS n_vecs,
         | (2 * CAST(sum(margin_e6) AS BIGINT) + count(*)) // (2 * count(*)) AS mean_margin_e6,
         | CAST(sum(CASE WHEN margin_e6 < 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_ambiguous,
         | max(margin_e6) AS max_margin_e6
         |FROM m GROUP BY label ORDER BY label""".stripMargin,
    "q174_intrinsic_dim" ->
      s"""WITH $duckVectors,
         | p AS (
         | SELECT a.label AS label, a.vec_id AS a_id, b.vec_id AS b_id,
         |  round(${duckDot("a.v", "b.v")} / (a.nrm * b.nrm), 6) AS cos_sim
         | FROM n a JOIN n b ON a.label = b.label AND a.vec_id <> b.vec_id),
         | r AS (
         | SELECT label, a_id, cos_sim,
         |  row_number() OVER (PARTITION BY a_id ORDER BY cos_sim DESC, b_id) AS rk
         | FROM p),
         | t2 AS (
         | SELECT label, a_id,
         |  max(CASE WHEN rk = 1 THEN cos_sim END) AS s1,
         |  max(CASE WHEN rk = 2 THEN cos_sim END) AS s2
         | FROM r WHERE rk <= 2 GROUP BY label, a_id),
         | m AS (
         | SELECT label, s1 >= 1.0 AS degenerate,
         |  CASE WHEN s1 >= 1.0 THEN CAST(0 AS BIGINT)
         |   ELSE CAST(floor(ln((1.0 - s2) / (1.0 - s1)) * 1000000 + 0.5) AS BIGINT)
         |  END AS ln_mu_e6
         | FROM t2 WHERE s2 IS NOT NULL),
         | s AS (
         | SELECT label,
         |  CAST(sum(CASE WHEN degenerate THEN 0 ELSE 1 END) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN degenerate THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate,
         |  CAST(sum(CASE WHEN degenerate THEN 0 ELSE ln_mu_e6 END) AS BIGINT) AS sum_ln_e6
         | FROM m GROUP BY label)
         |SELECT label, n_vecs, n_degenerate, sum_ln_e6,
         | CASE WHEN sum_ln_e6 = 0 THEN CAST(0 AS BIGINT)
         |  ELSE (2 * 1000 * 1000000 * n_vecs + sum_ln_e6) // (2 * sum_ln_e6) END AS id_e3
         |FROM s ORDER BY label""".stripMargin,
    "q211_pq_recall" ->
      s"""$duckPq
         |SELECT pq.qid, CAST(sum(CASE WHEN trk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS hits_at_10,
         | CAST((2 * 10000 * sum(CASE WHEN trk IS NOT NULL THEN 1 ELSE 0 END) + 10)
         |  // (2 * 10) AS BIGINT) AS recall_e4,
         | CAST(max(CASE WHEN trk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nn_hit
         |FROM (SELECT * FROM pq WHERE prk <= 10) pq
         |LEFT JOIN (SELECT * FROM truth WHERE trk <= 10) truth
         | ON truth.qid = pq.qid AND truth.vec_id = pq.vec_id
         |GROUP BY pq.qid ORDER BY pq.qid""".stripMargin,
    "q132_pq_quantize" ->
      s"""WITH e AS (
         | SELECT vec_id,
         |  list_transform(CAST(embedding AS DOUBLE[]),
         |   x -> CAST(round(x * 1000000) AS BIGINT)) AS ve6
         | FROM embeddings),
         | sel AS (
         | SELECT vec_id AS cw, ve6
         | FROM (SELECT vec_id, ve6,
         |        ((vec_id % 2147483647) * 2654435761) % 4294967296 AS h FROM e)
         | ORDER BY h, vec_id LIMIT 8),
         | cb AS (
         | SELECT cw, m, array_slice(ve6, m * 16 + 1, (m + 1) * 16) AS csub
         | FROM sel CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
         | vs AS (
         | SELECT vec_id, m, array_slice(ve6, m * 16 + 1, (m + 1) * 16) AS vsub
         | FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS m)),
         | d AS (
         | SELECT vec_id, vs.m AS m, cw,
         |  CAST(list_sum(list_transform(range(1, 17),
         |   i -> (vsub[i] - csub[i]) * (vsub[i] - csub[i]))) AS BIGINT) AS dist
         | FROM vs JOIN cb ON vs.m = cb.m),
         | a AS (
         | SELECT m, cw, dist,
         |  row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, cw) AS rn
         | FROM d)
         |SELECT m AS subspace, cw AS codeword, count(*) AS n_assigned,
         | round(CAST(sum(dist) AS DOUBLE) / count(*) / 1000000000000.0, 6) AS avg_sq_err
         |FROM a WHERE rn = 1 GROUP BY m, cw ORDER BY subspace, codeword""".stripMargin,
    "q124_power_iter" ->
      s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         | r AS (SELECT v, list_sum(v) AS s FROM e),
         | c AS (
         | SELECT dim, CAST(round(v[dim] * s * 1000000) AS BIGINT) AS c
         | FROM r CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS dim) d),
         | a AS (SELECT dim, CAST(sum(c) AS BIGINT) AS u_e6 FROM c GROUP BY dim),
         | t AS (SELECT CAST(sum(abs(u_e6)) AS BIGINT) AS tot FROM a)
         |SELECT CAST(dim AS BIGINT) AS dim, u_e6, round(u_e6 / tot, 6) AS share
         |FROM a, t ORDER BY dim""".stripMargin
  )
}
