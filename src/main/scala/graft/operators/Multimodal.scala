package graft.operators

import graft.{QueryDef, QueryPack, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Multimodal-column pack: media as opaque `binary` columns with typed
  * struct metadata, plus the documents ⋈ embeddings "text + vector"
  * multimodal join.
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * clearly-marked deterministic stub ([[fakeDecodeMeta]]) — but all the
  * Spark-side plumbing is real: binary columns, metadata structs,
  * offset-based frame sampling via sequence+transform+posexplode, and
  * everything stays in native expressions (no UDF), so the pipeline is
  * whole-stage-codegen'd and scales like any other columnar scan.
  *
  * Real-codec swap-in point: replace [[fakeDecodeMeta]] with a
  * `mapPartitions` over an Arrow batch (or a Pandas UDF in PySpark) that
  * calls the codec — partitioning, schema and batch shape stay identical.
  */
object Multimodal extends QueryPack {

  /** STUB decode: derives deterministic fake (width, height, format) from
    * the first BYTES of the blob — stands in for a real image header
    * parse. Byte semantics, not character semantics: `substring` on the
    * binary column slices bytes, and decoding the 1-byte slice as
    * ISO-8859-1 maps byte value → codepoint exactly (0 for an empty
    * slice, matching the imperative kernel's missing-byte default), so
    * this path and [[decodeMetaBatched]] agree on ANY input, ASCII or
    * not. Expects a binary `blob` column. */
  private[graft] def fakeDecodeMeta(df: DataFrame): DataFrame = {
    def byteAt(pos: Int) = ascii(decode(substring(col("blob"), pos, 1), "ISO-8859-1"))
    df.withColumn("media_meta", struct(
      (byteAt(1) * 4 + 64).cast(IntegerType).as("width"),
      (byteAt(2) * 3 + 48).cast(IntegerType).as("height"),
      when(length(col("blob")) % 2 === 0, "png").otherwise("jpg").as("format")))
  }

  /** Output row of the imperative decode path — the encoder IS the
    * schema contract a real codec's output must keep. */
  final case class DecodedMedia(doc_id: Long, width: Int, height: Int,
      format: String)

  /** The imperative decode path a real codec plugs into: `mapPartitions`
    * over the binary column — batch = partition, one JVM kernel call per
    * row, byte-level header reads (exactly what a real image/audio
    * header parser does), zero driver involvement. Parses the same fake
    * header as [[fakeDecodeMeta]], so the spec can pin the two paths to
    * identical output (`MultimodalSpec`): swapping in a real codec is
    * replacing the body of the lambda, with partitioning, schema
    * (the [[DecodedMedia]] encoder) and batch shape already proven.
    * Kept out of the registered q47 plan deliberately — the native
    * expression form is whole-stage-codegen'd and stays the production
    * path until a real codec exists. Expects `doc_id` and a binary
    * `blob` column. */
  private[graft] def decodeMetaBatched(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // fake "header parse": byte 0 → width, byte 1 → height, length
          // parity → container format (matches fakeDecodeMeta's
          // ISO-8859-1 byte reads on ANY input, ASCII or not)
          val b0 = if (bytes.length > 0) bytes(0) & 0xff else 0
          val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
          DecodedMedia(id, b0 * 4 + 64, b1 * 3 + 48,
            if (bytes.length % 2 == 0) "png" else "jpg")
        }
      }.toDF()
  }

  // ---------------------------------------------------------------- q46
  /** Multimodal join: text ⋈ embedding by id into one typed row — the
    * (text, vector, label) shape a training pipeline consumes. */
  val q46 = QueryDef(
    "q46_multimodal_join",
    (spark, dir) => {
      val t = Tables(spark, dir)
      t.documents.join(t.embeddings, col("doc_id") === col("vec_id"))
        .select(
          col("doc_id"), col("lang"), col("label"),
          col("n_chars"),
          size(split(col("text"), " ")).as("n_tokens"),
          size(col("embedding")).as("dim"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id, lang, label, n_chars,
      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      CAST(len(embedding) AS INT) AS dim
    FROM documents JOIN embeddings ON doc_id = vec_id
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q47
  /** Binary-column plumbing: blob ingestion (text → utf-8 bytes stands in
    * for media bytes), content hash, byte length, stub-decoded metadata. */
  val q47 = QueryDef(
    "q47_binary_meta",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
        .withColumn("blob", col("text").cast("binary"))
      fakeDecodeMeta(d)
        .select(
          col("doc_id"),
          md5(col("blob")).as("content_hash"),
          length(col("blob")).as("n_bytes"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.format").as("format"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH b AS (
      SELECT doc_id, text, hex(encode(text)) AS hx,
        octet_length(encode(text)) AS nb
      FROM documents)
    SELECT doc_id,
      md5(text) AS content_hash,
      CAST(nb AS INT) AS n_bytes,
      CAST((CASE WHEN nb >= 1 THEN CAST(('0x' || substr(hx, 1, 2)) AS INTEGER)
            ELSE 0 END) * 4 + 64 AS INT) AS width,
      CAST((CASE WHEN nb >= 2 THEN CAST(('0x' || substr(hx, 3, 2)) AS INTEGER)
            ELSE 0 END) * 3 + 48 AS INT) AS height,
      CASE WHEN nb % 2 = 0 THEN 'png' ELSE 'jpg' END AS format
    FROM b
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q48
  /** Frame sampling: every "video" (blob) yields one frame per 32-byte
    * stride — offsets generated with sequence(), frames sliced from the
    * blob with substring(), exploded to one row per frame. The shape
    * (explode of per-row generated arrays) is exactly how real
    * frame-extraction parallelizes: rows × frames, no driver loop. */
  val q48 = QueryDef(
    "q48_frame_sample",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
        .withColumn("blob", col("text").cast("binary"))
      val stride = 32
      d.withColumn("offs",
          sequence(lit(0), greatest(length(col("blob")) - 1, lit(0)), lit(stride)))
        .select(col("doc_id"),
          posexplode(col("offs")).as(Seq("frame_idx", "off")))
        .withColumn("frame_idx", col("frame_idx").cast(IntegerType))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_frames"), max(col("off")).as("last_off"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(1 + (octet_length(encode(text)) - 1) // 32 AS BIGINT) AS n_frames,
      CAST(((octet_length(encode(text)) - 1) // 32) * 32 AS INT) AS last_off
    FROM documents
    ORDER BY doc_id"""))

  // --------------------------------------------------------------- q172
  /** Media quality gate + modality-mix report — the image-side analogue
    * of q61's text quality gate and q69's curation report, over q47's
    * decoded metadata: per container format, how many assets fail each
    * gate and how many survive all of them. The three gates are the
    * standard media-curation screens, each an EXACT integer predicate
    * (determinism rule 8 — never a rounded-ratio compare):
    *
    *  - resolution floor: width ≥ 480 AND height ≥ 360 (thumbnails and
    *    icons out);
    *  - aspect sanity: max(w,h) ≤ 3·min(w,h) (banner/sliver crops out);
    *  - payload sanity: n_bytes ≥ 32 AND w·h ≤ n_bytes·1024 (a pixel
    *    count wildly above the payload is a corrupt or truncated blob —
    *    the bits-per-pixel floor).
    *
    * At the fixture the gates drop ~60% / ~3% / ~24% respectively with
    * ~25% surviving — every branch live at every SF (spec-asserted).
    * A row can fail several gates; the per-gate columns count failures
    * independently (the triage view a curation run reads), keep counts
    * rows passing ALL gates, keep_ppm is one integral divide.
    *
    * Shape: map-only decode (native expressions, q47's stub swap-in
    * point) into ONE |formats|-bounded hash aggregate — the q01
    * scan-agg class at 100 TB. */
  val q172 = QueryDef(
    "q172_media_gate",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
        .withColumn("blob", col("text").cast("binary"))
      val m = fakeDecodeMeta(d).select(
        col("media_meta.width").as("w"),
        col("media_meta.height").as("h"),
        length(col("blob")).cast("long").as("nb"),
        col("media_meta.format").as("format"))
      val resOk = col("w") >= 480 && col("h") >= 360
      val aspectOk = greatest(col("w"), col("h")) <= least(col("w"), col("h")) * 3
      val payloadOk = col("nb") >= 32 &&
        col("w").cast("long") * col("h") <= col("nb") * lit(1024L)
      m.groupBy(col("format"))
        .agg(count(lit(1)).as("n_assets"),
          sum(when(resOk, 0L).otherwise(1L)).as("fail_resolution"),
          sum(when(aspectOk, 0L).otherwise(1L)).as("fail_aspect"),
          sum(when(payloadOk, 0L).otherwise(1L)).as("fail_payload"),
          sum(when(resOk && aspectOk && payloadOk, 1L).otherwise(0L)).as("n_keep"))
        .withColumn("keep_ppm",
          expr("CAST(n_keep AS DECIMAL(28,0)) * 1000000 div n_assets"))
        .orderBy(col("format").asc_nulls_first)
    },
    Some("""WITH b AS (
      SELECT hex(encode(text)) AS hx, octet_length(encode(text)) AS nbo
      FROM documents),
    m AS (
      SELECT (CASE WHEN nbo >= 1 THEN CAST(('0x' || substr(hx, 1, 2)) AS INTEGER)
          ELSE 0 END) * 4 + 64 AS w,
        (CASE WHEN nbo >= 2 THEN CAST(('0x' || substr(hx, 3, 2)) AS INTEGER)
          ELSE 0 END) * 3 + 48 AS h,
        CAST(nbo AS BIGINT) AS nb,
        CASE WHEN nbo % 2 = 0 THEN 'png' ELSE 'jpg' END AS format
      FROM b)
    SELECT format,
      COUNT(*) AS n_assets,
      CAST(SUM(CASE WHEN w >= 480 AND h >= 360 THEN 0 ELSE 1 END) AS BIGINT)
        AS fail_resolution,
      CAST(SUM(CASE WHEN greatest(w, h) <= least(w, h) * 3 THEN 0 ELSE 1 END) AS BIGINT)
        AS fail_aspect,
      CAST(SUM(CASE WHEN nb >= 32 AND w * h <= nb * 1024 THEN 0 ELSE 1 END) AS BIGINT)
        AS fail_payload,
      CAST(SUM(CASE WHEN w >= 480 AND h >= 360
        AND greatest(w, h) <= least(w, h) * 3
        AND nb >= 32 AND w * h <= nb * 1024 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
      CAST(SUM(CASE WHEN w >= 480 AND h >= 360
        AND greatest(w, h) <= least(w, h) * 3
        AND nb >= 32 AND w * h <= nb * 1024 THEN 1 ELSE 0 END) * 1000000
        // COUNT(*) AS BIGINT) AS keep_ppm
    FROM m
    GROUP BY format
    ORDER BY format ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q179
  /** Per-asset feature row from [[byteFeaturesBatched]]'s schema
    * contract — what a real feature extractor's output must keep. */
  final case class BlobFeatures(doc_id: Long, n_bytes: Long,
      hist: Array[Long], top_bin: Int)

  /** The imperative feature-extract path a real kernel plugs into
    * (the [[decodeMetaBatched]] pattern applied to the feature slot):
    * `mapPartitions` over the binary column, one JVM byte loop per blob,
    * zero driver involvement. Computes the SAME 16-bin histogram as the
    * native `graft_byte_histogram`, so MultimodalSpec pins the two paths
    * to identical output — swapping in a real extractor is replacing the
    * loop body with partitioning, schema and batch shape already proven. */
  private[graft] def byteFeaturesBatched(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("blob")).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val counts = new Array[Long](16)
          var i = 0
          while (i < bytes.length) { counts((bytes(i) & 0xFF) >> 4) += 1L; i += 1 }
          var top = 0
          var j = 1
          while (j < 16) { if (counts(j) > counts(top)) top = j; j += 1 }
          BlobFeatures(id, bytes.length.toLong, counts, top)
        }
      }.toDF()
  }

  /** Feature extraction — the third multimodal batch-kernel slot next to
    * decode (q47) and frame sampling (q48): every asset reduced to a
    * fixed-width numeric feature row (here the 16-bin coarse byte
    * histogram — a real extractor emits embeddings/moments through the
    * identical shape). Registered path is the native
    * [[graft.functions.expressions.ByteHistogram]] (one JIT byte loop
    * per row inside whole-stage codegen — never a per-byte
    * explode+substring walk); the imperative twin
    * [[byteFeaturesBatched]] is the real-kernel swap-in point,
    * spec-pinned to identical output. Histogram ships comma-joined per
    * the q35 scalar-output protocol; `top_bin` is the argmax with the
    * tie-to-lowest rule both engines share (`array_position` finds the
    * FIRST maximal bin). Map-only + total sort: the q01 scan class at
    * 100 TB. */
  val q179 = QueryDef(
    "q179_byte_features",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
        .withColumn("blob", col("text").cast("binary"))
      d.select(col("doc_id"),
          length(col("blob")).cast("long").as("n_bytes"),
          call_function("graft_byte_histogram", col("blob")).as("h"))
        .select(col("doc_id"), col("n_bytes"),
          array_join(transform(col("h"), c => c.cast("string")), ",").as("hist_csv"),
          (array_position(col("h"), array_max(col("h"))) - 1)
            .cast(IntegerType).as("top_bin"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx,
        octet_length(encode(text)) AS nb
      FROM documents),
    bt AS (
      SELECT doc_id,
        CAST(('0x' || substr(hx, 2 * i - 1, 2)) AS INTEGER) // 16 AS bin
      FROM b, UNNEST(range(1, CAST(nb AS BIGINT) + 1)) AS r(i)),
    hist AS (
      SELECT doc_id, bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM bt GROUP BY doc_id, bin),
    fl AS (
      SELECT d.doc_id, g.bin, COALESCE(h.c, 0) AS c
      FROM (SELECT DISTINCT doc_id FROM b) d
      CROSS JOIN range(0, 16) AS g(bin)
      LEFT JOIN hist h ON h.doc_id = d.doc_id AND h.bin = g.bin),
    ranked AS (
      SELECT doc_id, bin, c,
        row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bin ASC) AS rn
      FROM fl)
    SELECT f.doc_id,
      CAST(b.nb AS BIGINT) AS n_bytes,
      string_agg(CAST(f.c AS VARCHAR), ',' ORDER BY f.bin) AS hist_csv,
      CAST(MIN(CASE WHEN r.rn = 1 THEN r.bin END) AS INTEGER) AS top_bin
    FROM fl f
    JOIN b ON b.doc_id = f.doc_id
    JOIN ranked r ON r.doc_id = f.doc_id AND r.bin = f.bin
    GROUP BY f.doc_id, b.nb
    ORDER BY f.doc_id"""))

  // --------------------------------------------------------------- q209
  /** Perceptual-hash (aHash) media near-dup pairs — the IMAGE cell of
    * the dedup modality matrix (text: q32/q33/q34; embeddings: q44;
    * media bytes: THIS): a 60-bit average-hash per blob (bit i set iff
    * byte i exceeds the blob's 60-byte-prefix mean — the classic aHash
    * with the prefix standing in for the decoded 8×8 luma grid), then
    * hamming ≤ 8 pairs through q34's chunk-key candidate machinery
    * (4 × 15-bit chunks equi-join — recall guaranteed for hamming ≤ 3,
    * wider radii kept when a clean chunk survives, the documented
    * SimHash recall cut). Near-identical byte streams differ in a few
    * positions, so their bit patterns collide on most chunks — exactly
    * the pHash/aHash dedup a multimodal corpus runs on thumbnails.
    *
    * 60 bits (not 64) so the hash stays a positive BIGINT in both
    * engines (q131's 60-bit convention — no sign games in the xor).
    * Everything is exact integer arithmetic: unsigned byte values via
    * ISO-8859-1 decode + ascii (q47's byteAt idiom), the floor mean
    * `s div 60`, bit_count(xor) hamming — the oracle rebuilds the
    * identical hash from hex(encode(text)).
    *
    * Shape: one 60-row-per-blob posexplode (the q151/q152 explode
    * class) + ONE doc-keyed window for the byte mean + one doc
    * aggregate packing the bits; candidates are a chunk equi-join,
    * never all-pairs (PlanSpec discipline). At 100 TB the hash pass
    * swaps into the decode kernel itself (the q179
    * `byteFeaturesBatched` slot — one JVM loop per blob instead of the
    * explode); the candidate/verify stages are unchanged. */

  /** The q209 pipeline over any (doc_id, blob) frame — factored so the
    * spec drives it on hand-built corpora with known duplicates. */
  private[graft] def ahashPairs(docs: DataFrame): DataFrame = {
      val d = docs.filter(length(col("blob")) >= 60)
      val bytes = d
        .select(col("doc_id"),
          posexplode(sequence(lit(1), lit(60))).as(Seq("i0", "i")),
          col("blob"))
        .select(col("doc_id"), col("i"),
          expr("ascii(decode(substring(blob, i, 1), 'ISO-8859-1'))").as("v"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      val hashes = bytes
        .withColumn("s", sum(col("v")).over(w))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("v") > expr("s div 60"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(60 - i AS INT))"))
          .otherwise(0L)).as("ahash"))
      val chunks = hashes.select(col("doc_id"), col("ahash"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("ahash"), c * 15).bitwiseAND(lit(0x7FFFL))): _*))
          .as(Seq("chunk_idx", "chunk")))
      val cands = chunks.as("x").join(chunks.as("y"),
          col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.ahash").as("h1"), col("y.ahash").as("h2"))
        .distinct()
      cands
        .withColumn("hamming",
          bit_count(col("h1").bitwiseXOR(col("h2"))).cast(IntegerType))
        .filter(col("hamming") <= 8)
        .select(col("d1"), col("d2"), col("hamming"))
        .orderBy(col("d1").asc_nulls_first, col("d2").asc_nulls_first)
  }

  private val ahashOracle = Some("""WITH b AS (
      SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS nb
      FROM documents),
    eligible AS (SELECT doc_id, hx FROM b WHERE nb >= 60),
    bytes AS (
      SELECT doc_id, CAST(i AS INT) AS i,
        CAST(('0x' || substr(hx, CAST(2 * i - 1 AS INT), 2)) AS INTEGER) AS v
      FROM eligible, UNNEST(range(1, 61)) AS t(i)),
    st AS (
      SELECT doc_id, i, v, SUM(v) OVER (PARTITION BY doc_id) AS s
      FROM bytes),
    hs AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN v > s // 60
          THEN (CAST(1 AS BIGINT) << CAST(60 - i AS INTEGER))
          ELSE 0 END) AS BIGINT) AS ahash
      FROM st GROUP BY doc_id),
    chunks AS (
      SELECT doc_id, ahash, c AS chunk_idx,
        (ahash >> CAST(c * 15 AS INTEGER)) & 32767 AS chunk
      FROM hs, UNNEST([0, 1, 2, 3]) AS t(c)),
    cand AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
        x.ahash AS h1, y.ahash AS h2
      FROM chunks x JOIN chunks y
        ON x.chunk_idx = y.chunk_idx AND x.chunk = y.chunk
       AND x.doc_id < y.doc_id)
    SELECT d1, d2, CAST(bit_count(xor(h1, h2)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(h1, h2)) <= 8
    ORDER BY d1 ASC NULLS FIRST, d2 ASC NULLS FIRST""")

  val q209 = QueryDef(
    "q209_ahash_neardup",
    (spark, dir) => ahashPairs(
      Tables(spark, dir).documents
        .withColumn("blob", col("text").cast("binary"))),
    ahashOracle)

  override def queries: Seq[QueryDef] = Seq(q46, q47, q48, q172, q179, q209)
}
