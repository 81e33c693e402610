package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.F — multimodal column plumbing.
  *
  * Media payloads are opaque `binary` columns with typed metadata beside
  * them. The Spark-side plumbing — schema, batch shape, partitioning —
  * is real, and so is the image path of the codec: payloads that ARE
  * images (PNG/JPEG/GIF/BMP) decode through JDK `javax.imageio` to their
  * true pixel dimensions (see `Codec`). Non-image payloads (this corpus's
  * text-as-bytes stand-ins, plus audio/video which have no JDK decoder)
  * keep a deterministic metadata derivation so every query stays
  * reproducible without shipping media libs.
  */
object Multimodal extends QueryModule {

  /** Typed record for the mapPartitions decode path. */
  final case class MediaRow(doc_id: Long, media_type: String, byte_len: Long, width: Long, height: Long)

  /** The codec: one function per payload. Image formats the JDK reads
    * natively (sniffed by magic bytes first, so the non-image hot path
    * never touches ImageIO's reader registry) return REAL decoded
    * width/height; everything else falls back to the deterministic
    * derivation. Real systems widen the image branch with libjpeg-turbo /
    * ffmpeg (or a Pandas UDF via mapInPandas on the PySpark side); the
    * seam and the per-partition batch shape don't change.
    */
  object Codec {
    /** PNG / JPEG / GIF / BMP magic-byte sniff — the formats JDK ImageIO
      * decodes out of the box.
      */
    private[graft] def looksLikeImage(p: Array[Byte]): Boolean =
      p.length >= 8 && {
        (p(0) == 0x89.toByte && p(1) == 'P' && p(2) == 'N' && p(3) == 'G') ||
        (p(0) == 0xFF.toByte && p(1) == 0xD8.toByte) ||
        (p(0) == 'G' && p(1) == 'I' && p(2) == 'F' && p(3) == '8') ||
        (p(0) == 'B' && p(1) == 'M')
      }

    // ImageIO's default InputStream path spools through a temp-FILE cache —
    // one disk round-trip per decode in the mapPartitions hot path; decode
    // from memory instead (process-wide, idempotent)
    javax.imageio.ImageIO.setUseCache(false)

    /** Header-only dimension read: an ImageReader's getWidth/getHeight
      * parse just the header, never the pixel data — the difference
      * between O(header) and O(W·H·channels) per blob in the
      * mapPartitions hot path. Returns null on any failure.
      *
      * NonFatal, not just IOException: ImageIO readers throw
      * RuntimeExceptions (CMMException, ArrayIndexOutOfBounds,
      * IllegalArgument) on payloads that pass the magic sniff but are
      * corrupt past the header — one bad blob in 100 TB must fall back,
      * not fail the job.
      */
    private def readDims(payload: Array[Byte]): (Long, Long) =
      try {
        val iis = javax.imageio.ImageIO
          .createImageInputStream(new java.io.ByteArrayInputStream(payload))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) null
          else {
            val r = readers.next()
            try { r.setInput(iis, true, true); (r.getWidth(0).toLong, r.getHeight(0).toLong) }
            finally r.dispose()
          }
        } finally iis.close()
      } catch { case scala.util.control.NonFatal(_) => null }

    def decode(docId: Long, payload: Array[Byte], mediaType: String): MediaRow = {
      val dims = if (!looksLikeImage(payload)) null else readDims(payload)
      if (dims != null)
        MediaRow(docId, mediaType, payload.length.toLong, dims._1, dims._2)
      else {
        val w = 16L + (docId % 16) * 8
        val h = 16L + ((docId / 16) % 16) * 8
        MediaRow(docId, mediaType, payload.length.toLong, w, h)
      }
    }
  }

  /** Typed decode pipeline over any (doc_id, payload, media_type) blob
    * frame — partition-parallel, no shuffle; the operator a training
    * pipeline runs before feature extraction.
    */
  def decodeBlobs(df: DataFrame): Dataset[MediaRow] = {
    import df.sparkSession.implicits._
    df.select(col("doc_id"), col("payload"), col("media_type"))
      .as[(Long, Array[Byte], String)]
      .mapPartitions(_.map { case (id, bytes, mt) => Codec.decode(id, bytes, mt) })
  }

  /** `decodeBlobs` over the corpus's stand-in blob table. */
  def decodeAll(spark: SparkSession, dir: String): Dataset[MediaRow] =
    decodeBlobs(blobs(Tables(spark, dir)))

  final case class ResizePlanRow(
      doc_id: Long, media_type: String, src_w: Long, src_h: Long,
      dst_w: Long, dst_h: Long, scale_e6: Long, resample: Boolean)

  /** Aspect-preserving fit-within resize PLANNING — the geometry half of
    * the resize stage a multimodal ingest runs before feature extraction.
    * Target dims, integer-e6 scale factor, and whether a resample is
    * needed at all are computed distributed (map-only, composing with
    * decodeBlobs' partition-parallel shape, no shuffle); the pixel
    * RESAMPLE itself is the declared stub seam — this container ships no
    * media libs, and a real deployment drops libjpeg-turbo/ffmpeg (or a
    * Pandas UDF via mapInPandas on the PySpark side) into the row map
    * without changing the schema, batch shape, or partitioning. Never
    * upscales (scale capped at 1.0); target dims floor at 1 px.
    */
  def resizePlan(df: DataFrame, maxW: Long, maxH: Long): Dataset[ResizePlanRow] = {
    require(maxW >= 1 && maxH >= 1, s"target box out of range: ${maxW}x$maxH")
    import df.sparkSession.implicits._
    decodeBlobs(df).map { r =>
      val scale = math.min(1.0, math.min(maxW.toDouble / r.width, maxH.toDouble / r.height))
      ResizePlanRow(
        r.doc_id, r.media_type, r.width, r.height,
        math.max(1L, math.round(r.width * scale)),
        math.max(1L, math.round(r.height * scale)),
        math.round(scale * 1e6), scale < 1.0)
    }
  }

  // payload plumbing: utf-8 bytes of text stand in for media bytes; the
  // media_type "magic sniff" is a deterministic function of the first byte.
  private def blobs(t: Tables): DataFrame =
    t.documents
      .withColumn("payload", col("text").cast("binary"))
      .withColumn(
        "media_type",
        expr("""CASE ascii(substr(text, 1, 1)) % 3
               |  WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END""".stripMargin))

  /** Binary payload + typed metadata row — the multimodal table schema.
    * The payload itself stays binary in `blobs`/`decodeAll` (MultimodalSpec);
    * the oracle-compared output carries md5(payload) because the driver's
    * pandas comparator cannot hash raw byte columns.
    */
  private def q44(t: Tables): DataFrame =
    blobs(t)
      .select(
        col("doc_id"),
        md5(col("payload")).as("payload_md5"),
        col("media_type"),
        length(col("payload")).cast("long").as("byte_len"),
        expr("16 + (doc_id % 16) * 8").as("width"),
        expr("16 + ((doc_id div 16) % 16) * 8").as("height"))
      .orderBy(col("doc_id"))

  /** Frame sampling plumbing: one row per 50-byte frame offset with an
    * 8-byte preview — explode is linear in payload bytes and stays
    * map-side (the shape video frame-extraction has at scale).
    */
  private def q45(t: Tables): DataFrame =
    t.documents
      .withColumn("n_frames", expr("CAST(n_chars div 50 AS BIGINT) + 1"))
      .select(
        col("doc_id"),
        col("text"),
        explode(expr("sequence(CAST(0 AS BIGINT), n_frames - 1)")).as("frame_id"))
      .select(
        col("doc_id"),
        col("frame_id"),
        expr("substr(text, CAST(frame_id * 50 + 1 AS INT), 8)").as("sample"))
      .orderBy(col("doc_id"), col("frame_id"))

  /** Feature extraction over payload bytes: 16-bin byte histogram per
    * dataset — the shape of real per-asset featurization (explode is
    * linear in payload bytes, aggregates map-side, shuffles only
    * |datasets|·16 rows). The codec-specific features would slot into the
    * same plan where the ascii bucket expression sits.
    */
  private def q61(t: Tables): DataFrame =
    Tables.localSplit(t.documents, col("doc_id"))
      .select(
        col("source"),
        posexplode(graft.functions.GraftFunctions.byte_histogram(col("text"))).as(Seq("bin", "cnt")))
      .filter(col("cnt") > 0) // oracle's unnest-per-char form never emits empty bins
      .groupBy(col("source"), col("bin").cast("long").as("bucket"))
      .agg(sum(col("cnt")).as("n_bytes"))
      .orderBy(col("source"), col("bucket"))

  /** Modality triage: split the asset stream by sniffed media type and
    * price the decode work per (dataset, modality) — bytes for audio,
    * pixel area for images, frames×area for video. This is the planning
    * query a decode fleet runs to size per-modality worker pools; the cost
    * model slots in where real codec profiles would. Pure map-side
    * expressions over one scan + a |sources|·|modalities| rollup.
    */
  private def q82(t: Tables): DataFrame =
    blobs(t)
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .withColumn("width", expr("16 + (doc_id % 16) * 8"))
      .withColumn("height", expr("16 + ((doc_id div 16) % 16) * 8"))
      .withColumn("n_frames", expr("CAST(byte_len div 50 AS BIGINT) + 1"))
      .withColumn(
        "decode_cost",
        expr("""CASE media_type
               |  WHEN 'audio' THEN byte_len
               |  WHEN 'image' THEN width * height
               |  ELSE n_frames * width * height END""".stripMargin))
      .groupBy(col("source"), col("media_type"))
      .agg(
        count(lit(1)).as("n_assets"),
        sum(col("byte_len")).as("total_bytes"),
        sum(col("decode_cost")).as("total_cost"))
      .orderBy(col("source"), col("media_type"))

  /** Payload byte-entropy QA gate (new r12 — q100's entropy signal moved
    * to the binary side: a blob whose byte distribution is degenerate is
    * zero-padding, a truncated transfer, or a stuck encoder, and the
    * entropy of the byte-class histogram flags it WITHOUT decoding — the
    * pre-decode triage a 100 TB multimodal lake runs before paying codec
    * cost): per (dataset, media type), Shannon entropy (nats) of each
    * blob's 16-bin byte histogram — mean/min/max envelope plus the
    * low-entropy count (< 1.0, degenerate byte mix).
    *
    * Float discipline is q100's fold plus q111's aggregation rule: the
    * per-blob entropy fold runs left-to-right over the FIXED 16-bin
    * array (both engines fold the same doubles in the same order), then
    * quantizes to integer 1e-4 units BEFORE the rollup — so the mean is
    * one division of an order-independent long sum, never an
    * order-dependent double accumulation (which flipped a round-4
    * boundary cell between engines on the first cut of this operator).
    * Histogram is the q61 native kernel — map-side, zero pre-rollup
    * shuffle.
    */
  private def q141(t: Tables): DataFrame =
    Tables.localSplit(blobs(t), col("doc_id"))
      .select(
        col("source"), col("media_type"),
        graft.functions.GraftFunctions.byte_histogram(col("text")).as("cnts"))
      .withColumn("total", expr("aggregate(cnts, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn(
        "e4",
        expr(
          """CAST(round(aggregate(cnts, CAST(0.0 AS DOUBLE),
            |  (acc, c) -> acc + IF(c > 0,
            |    -((CAST(c AS DOUBLE) / total) * ln(CAST(c AS DOUBLE) / total)),
            |    CAST(0.0 AS DOUBLE))) * 10000, 0) AS BIGINT)""".stripMargin))
      .groupBy(col("source"), col("media_type"))
      .agg(
        count(lit(1)).as("n_blobs"),
        // half-up integer division keeps even the MEAN out of double
        // rounding (Spark's round() decimalizes the shortest string,
        // DuckDB rounds the binary double — 1.01005 splits them)
        (expr("(2 * sum(e4) + count(1)) DIV (2 * count(1))") / 10000.0).as("avg_entropy"),
        (min(col("e4")) / 10000.0).as("min_entropy"),
        (max(col("e4")) / 10000.0).as("max_entropy"),
        sum(when(col("e4") < 10000L, 1L).otherwise(0L)).as("n_low"))
      .orderBy(col("source"), col("media_type"))

  /** Declared-vs-sniffed media-type reconciliation (r16 wave 10 — the
    * content-validation step the reference's check suite implies for
    * assets: a manifest CLAIMS a type, the bytes SAY one; reference
    * `check_stac_metadata`/`check_files_checksums` validate structure
    * and digests, this closes the remaining content-claim gap): per
    * source, assets, claim/content disagreements, the e4 mismatch
    * share, and the commonest confusion pair declared→sniffed (the row
    * an ingest triager reads first). Declared type synthesizes from the
    * asset id (the manifest side), sniffed is [[blobs]]' first-byte
    * dispatch (the content side) — deterministic in both engines.
    *
    * Scale shape: both classifications are map-side expressions next to
    * the scan; the (source, declared, sniffed) census collapses onto
    * ≤ |sources|·9 keys; the per-source rollup with the zero-padded
    * argmax is census-scale. Nothing shuffles at corpus width.
    */
  private def q213(t: Tables): DataFrame =
    blobs(t)
      .withColumn(
        "declared",
        expr("""CASE doc_id % 3
               |  WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END""".stripMargin))
      .groupBy(col("source"), col("declared"), col("media_type").as("sniffed"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(
        sum(col("c")).as("n_assets"),
        sum(when(col("declared") =!= col("sniffed"), col("c")).otherwise(0L)).as("n_mismatch"),
        max(when(
          col("declared") =!= col("sniffed"),
          concat(
            lpad(col("c").cast("string"), 19, "0"), lit(":"),
            col("declared"), lit("->"), col("sniffed")))).as("worst"))
      .withColumn(
        "mismatch_e4",
        expr("(2 * 10000 * n_mismatch + n_assets) DIV (2 * n_assets)"))
      .withColumn("top_confusion", expr("substr(worst, 21)"))
      .withColumn("top_confusion_n", expr("CAST(substr(worst, 1, 19) AS BIGINT)"))
      .select(
        col("source"), col("n_assets"), col("n_mismatch"), col("mismatch_e4"),
        col("top_confusion"), col("top_confusion_n"))
      .orderBy(col("source"))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q213_type_mismatch" -> ((s, d) => q213(Tables(s, d))),
    "q141_payload_entropy" -> ((s, d) => q141(Tables(s, d))),
    "q44_blob_meta" -> ((s, d) => q44(Tables(s, d))),
    "q45_frame_sample" -> ((s, d) => q45(Tables(s, d))),
    "q61_byte_histogram" -> ((s, d) => q61(Tables(s, d))),
    "q82_modality_split" -> ((s, d) => q82(Tables(s, d))),
    "q108_blob_neardup" -> ((s, d) => q108(Tables(s, d))),
    "q290_compress_probe" -> ((s, d) => q290(Tables(s, d)))
  )

  /** Near-duplicate blob detection — the perceptual-hash-shaped dedup the
    * multimodal side of a pipeline runs (re-encoded/trivially-edited
    * copies of the same asset share byte statistics even when exact
    * hashes differ). Signature = the q61 byte histogram; BLOCKING key =
    * the histogram's shape quantized to eighths of the payload
    * ((bin·8) div len — all-integer, engine-exact), so only blobs with
    * near-identical byte-class profiles ever pair; VERIFY = exact L1
    * distance between raw histograms, near iff l1/(la+lb) ≤
    * 5% (integer cross-multiplication, no floats).
    *
    * Scale shape: the kernel histogram and the block key are map-side
    * next to the scan; the self-join is keyed (media_type, profile) —
    * pair work is Σ|block|², bounded by the quantization dial, never
    * corpus²; the L1 verify is 16 fixed codegen'd terms per pair. The
    * same blocking-then-verify discipline as q37/q38, applied to binary
    * payloads. Quantization boundary misses are the standard LSH recall
    * trade — tighten tauPct/coarsen the profile to rebalance.
    */
  /** Sequential-compressibility probe — the store-cost advisor q141's
    * byte-DISTRIBUTION entropy cannot answer (a payload can have flat
    * entropy yet long runs, or rich bytes yet poor bigram variety): per
    * (source, media type), adjacent-equal pairs and run counts (the RLE
    * gain axis — estimated RLE size is ~2 bytes/run), the longest run,
    * and mean bigram richness (distinct bigrams / positions — the
    * order-1 modeling gain axis). Together with q141 this is the table
    * a lake's compression-codec chooser reads per column family.
    *
    * All four per-blob statistics come from ONE pass of the
    * [[graft.functions.ByteRuns]] native kernel (the list-expression
    * form hides an O(n²) substring rescan — ByteHistogram's lesson,
    * kernel-ized the same way); everything after is exact longs with
    * two half-up e6 quantizations. One (source, media_type)
    * partial-aggregable rollup; nothing else shuffles.
    *
    * (A frame-energy VAD segmentation twin was probed and ruled out:
    * synthetic payload frame variance is a tight unimodal band —
    * p5 781 / p95 982 — a silence threshold would segment noise.)
    */
  private def q290(t: Tables): DataFrame =
    Tables.localSplit(blobs(t), col("doc_id"))
      .filter(length(col("text")) >= 2)
      .select(col("source"), col("media_type"),
        length(col("text")).cast("long").as("len"),
        graft.functions.GraftFunctions.byte_runs(col("text")).as("st"))
      .select(col("source"), col("media_type"), col("len"),
        expr("st[0]").as("adj"), expr("st[1]").as("runs"),
        expr("st[2]").as("mr"), expr("st[3]").as("bigrams"))
      .withColumn("rich_e6",
        expr("(2 * 1000000 * bigrams + (len - 1)) DIV (2 * (len - 1))"))
      .groupBy(col("source"), col("media_type"))
      .agg(count(lit(1)).as("n_blobs"), sum(col("len")).as("bytes_total"),
        sum(col("adj")).as("adj_total"), sum(col("runs")).as("runs_total"),
        max(col("mr")).as("max_run"),
        expr("(2 * sum(rich_e6) + count(1)) DIV (2 * count(1))")
          .as("mean_bigram_rich_e6"))
      .withColumn("rle_ratio_e6",
        expr("(2 * 1000000 * 2 * runs_total + bytes_total) DIV (2 * bytes_total)"))
      .select(col("source"), col("media_type"), col("n_blobs"), col("bytes_total"),
        col("adj_total"), col("runs_total"), col("max_run"), col("rle_ratio_e6"),
        col("mean_bigram_rich_e6"))
      .orderBy(col("source"), col("media_type"))

  private def q108(t: Tables): DataFrame = {
    val tauPct = 5
    val h = Tables.localSplit(blobs(t), col("doc_id"))
      .select(
        col("doc_id"), col("media_type"), col("n_chars").as("byte_len"),
        graft.functions.GraftFunctions.byte_histogram(col("text")).as("hist"))
      .withColumn(
        "pkey",
        concat_ws("_", expr("transform(hist, c -> CAST((c * 8) DIV byte_len AS STRING))")))
    val a = h.select(
      col("media_type"), col("pkey"), col("doc_id").as("id_a"),
      col("hist").as("ha"), col("byte_len").as("la"))
    val b = h.select(
      col("media_type").as("mt_b"), col("pkey").as("pk_b"), col("doc_id").as("id_b"),
      col("hist").as("hb"), col("byte_len").as("lb"))
    val pairs = a
      .join(
        b,
        col("media_type") === col("mt_b") && col("pkey") === col("pk_b") &&
          col("id_a") < col("id_b"))
      .withColumn(
        "l1",
        expr("aggregate(zip_with(ha, hb, (x, y) -> abs(x - y)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("near", col("l1") * 100 <= (col("la") + col("lb")) * tauPct)
    val pairStats = pairs
      .groupBy(col("media_type"))
      .agg(
        count(lit(1)).as("n_cand_pairs"),
        sum(when(col("near"), 1L).otherwise(0L)).as("n_near_pairs"))
    h.groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_blobs"), countDistinct(col("pkey")).as("n_blocks"))
      .join(pairStats, Seq("media_type"), "left")
      .select(
        col("media_type"), col("n_blobs"), col("n_blocks"),
        coalesce(col("n_cand_pairs"), lit(0L)).as("n_cand_pairs"),
        coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"))
      .orderBy(col("media_type"))
  }

  override def oracleSql: Map[String, String] = Map(
    "q213_type_mismatch" ->
      """WITH b AS (
        | SELECT source,
        |  CASE doc_id % 3
        |   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS declared,
        |  CASE ascii(substr(text, 1, 1)) % 3
        |   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS sniffed
        | FROM documents),
        | cs AS (
        | SELECT source, declared, sniffed, count(*) AS c
        | FROM b GROUP BY 1, 2, 3)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_assets,
        | CAST(sum(CASE WHEN declared <> sniffed THEN c ELSE 0 END) AS BIGINT)
        |  AS n_mismatch,
        | CAST((2 * 10000 * sum(CASE WHEN declared <> sniffed THEN c ELSE 0 END)
        |  + sum(c)) // (2 * sum(c)) AS BIGINT) AS mismatch_e4,
        | substr(max(CASE WHEN declared <> sniffed THEN
        |  concat(lpad(CAST(c AS VARCHAR), 19, '0'), ':', declared, '->', sniffed)
        |  END), 21) AS top_confusion,
        | CAST(substr(max(CASE WHEN declared <> sniffed THEN
        |  concat(lpad(CAST(c AS VARCHAR), 19, '0'), ':', declared, '->', sniffed)
        |  END), 1, 19) AS BIGINT) AS top_confusion_n
        |FROM cs GROUP BY source ORDER BY source""".stripMargin,
    "q108_blob_neardup" ->
      """WITH d AS (
        | SELECT doc_id, n_chars AS byte_len,
        |  CASE ascii(substr(text, 1, 1)) % 3
        |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  list_transform(range(0, 16), b -> CAST(len(list_filter(range(1, n_chars + 1),
        |    i -> ascii(substr(text, CAST(i AS INTEGER), 1)) // 16 = b)) AS BIGINT)) AS hist
        | FROM documents),
        | p AS (
        | SELECT doc_id, media_type, byte_len, hist,
        |  array_to_string(list_transform(hist, c -> CAST((c * 8) // byte_len AS VARCHAR)), '_') AS pkey
        | FROM d),
        | pr AS (
        | SELECT a.media_type, a.doc_id AS id_a, b.doc_id AS id_b,
        |  list_sum(list_transform(range(1, 17), i -> abs(a.hist[i] - b.hist[i]))) AS l1,
        |  a.byte_len + b.byte_len AS lsum
        | FROM p a JOIN p b
        |  ON a.media_type = b.media_type AND a.pkey = b.pkey AND a.doc_id < b.doc_id),
        | ps AS (
        | SELECT media_type, count(*) AS n_cand_pairs,
        |  CAST(sum(CASE WHEN l1 * 100 <= lsum * 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_near_pairs
        | FROM pr GROUP BY media_type),
        | bs AS (
        | SELECT media_type, count(*) AS n_blobs, count(DISTINCT pkey) AS n_blocks
        | FROM p GROUP BY media_type)
        |SELECT bs.media_type, n_blobs, n_blocks,
        | CAST(coalesce(n_cand_pairs, 0) AS BIGINT) AS n_cand_pairs,
        | CAST(coalesce(n_near_pairs, 0) AS BIGINT) AS n_near_pairs
        |FROM bs LEFT JOIN ps ON ps.media_type = bs.media_type
        |ORDER BY bs.media_type""".stripMargin,
    "q44_blob_meta" ->
      """SELECT doc_id,
        | md5(text) AS payload_md5,
        | CASE ascii(substr(text, 1, 1)) % 3
        |   WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        | 16 + (doc_id % 16) * 8 AS width,
        | 16 + ((doc_id // 16) % 16) * 8 AS height
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q45_frame_sample" ->
      """SELECT doc_id,
        | unnest(range(0, (n_chars // 50) + 1)) AS frame_id,
        | unnest(list_transform(range(0, (n_chars // 50) + 1),
        |   f -> substr(text, CAST(f * 50 + 1 AS INTEGER), 8))) AS sample
        |FROM documents ORDER BY doc_id, frame_id""".stripMargin,
    "q61_byte_histogram" ->
      """SELECT source, bucket, count(*) AS n_bytes FROM (
        | SELECT source,
        |  unnest(list_transform(range(1, n_chars + 1),
        |    i -> CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) // 16 AS BIGINT))) AS bucket
        | FROM documents)
        |GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,
    "q290_compress_probe" ->
      """WITH b AS (
        | SELECT source,
        |  CASE ascii(substr(text, 1, 1)) % 3
        |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  text, length(text) AS len
        | FROM documents WHERE length(text) >= 2),
        | stats AS (
        | SELECT source, media_type, len, adj, len - adj AS runs, bigrams,
        |  CAST(list_max(list_transform(range(1, len(starts2)),
        |    j -> starts2[j + 1] - starts2[j])) AS BIGINT) AS max_run,
        |  CAST((2 * 1000000 * bigrams + (len - 1)) // (2 * (len - 1)) AS BIGINT)
        |   AS rich_e6
        | FROM (
        |  SELECT source, media_type, len,
        |   CAST(list_sum(list_transform(range(2, len + 1),
        |     i -> CASE WHEN text[i] = text[i - 1] THEN 1 ELSE 0 END)) AS BIGINT) AS adj,
        |   CAST(len(list_distinct(list_transform(range(2, len + 1),
        |     i -> text[i - 1] || text[i]))) AS BIGINT) AS bigrams,
        |   list_concat(list_filter(range(1, len + 1),
        |     i -> i = 1 OR text[i] <> text[i - 1]), [len + 1]) AS starts2
        |  FROM b))
        |SELECT source, media_type, count(*) AS n_blobs,
        | CAST(sum(len) AS BIGINT) AS bytes_total,
        | CAST(sum(adj) AS BIGINT) AS adj_total,
        | CAST(sum(runs) AS BIGINT) AS runs_total,
        | CAST(max(max_run) AS BIGINT) AS max_run,
        | CAST((2 * 1000000 * 2 * sum(runs) + sum(len)) // (2 * sum(len)) AS BIGINT)
        |  AS rle_ratio_e6,
        | CAST((2 * sum(rich_e6) + count(*)) // (2 * count(*)) AS BIGINT)
        |  AS mean_bigram_rich_e6
        |FROM stats GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q141_payload_entropy" ->
      """WITH h AS (
        | SELECT source,
        |  CASE ascii(substr(text, 1, 1)) % 3
        |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  list_transform(range(0, 16), b -> CAST(len(list_filter(
        |    list_transform(range(1, n_chars + 1),
        |      i -> ascii(substr(text, CAST(i AS INTEGER), 1)) // 16),
        |    x -> x = b)) AS BIGINT)) AS cnts
        | FROM documents),
        | tot AS (
        | SELECT source, media_type, cnts,
        |  list_reduce([CAST(0 AS BIGINT)] || cnts, (a, x) -> a + x) AS total
        | FROM h),
        | e AS (
        | SELECT source, media_type, CAST(round(list_reduce(
        |   [0.0] || list_transform(cnts,
        |     c -> CASE WHEN c > 0
        |       THEN -((CAST(c AS DOUBLE) / total) * ln(CAST(c AS DOUBLE) / total))
        |       ELSE 0.0 END),
        |   (acc, x) -> acc + x) * 10000, 0) AS BIGINT) AS e4
        | FROM tot)
        |SELECT source, media_type, count(*) AS n_blobs,
        | ((2 * CAST(sum(e4) AS BIGINT) + count(*)) // (2 * count(*))) / 10000.0 AS avg_entropy,
        | min(e4) / 10000.0 AS min_entropy,
        | max(e4) / 10000.0 AS max_entropy,
        | CAST(sum(CASE WHEN e4 < 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_low
        |FROM e GROUP BY source, media_type ORDER BY source, media_type""".stripMargin,
    "q82_modality_split" ->
      """WITH m AS (
        | SELECT source,
        |  CASE ascii(substr(text, 1, 1)) % 3
        |    WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
        |  16 + (doc_id % 16) * 8 AS width,
        |  16 + ((doc_id // 16) % 16) * 8 AS height,
        |  CAST(octet_length(CAST(text AS BLOB)) // 50 AS BIGINT) + 1 AS n_frames
        | FROM documents),
        | c AS (
        | SELECT source, media_type, byte_len,
        |  CASE media_type
        |    WHEN 'audio' THEN byte_len
        |    WHEN 'image' THEN width * height
        |    ELSE n_frames * width * height END AS decode_cost
        | FROM m)
        |SELECT source, media_type, count(*) AS n_assets,
        | CAST(sum(byte_len) AS BIGINT) AS total_bytes,
        | CAST(sum(decode_cost) AS BIGINT) AS total_cost
        |FROM c GROUP BY source, media_type ORDER BY source, media_type""".stripMargin
  )
}
