package graft.operators

import graft.{Det, Materialize, QueryDef, QueryPack, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation pack: the cross-document hygiene passes a pretraining
  * pipeline runs after per-doc quality scoring (TextOps) and near-dedup
  * (Dedup) — benchmark decontamination, repetition-based quality gating,
  * and span-level (chunk) deduplication.
  *
  * Reference semantics: the reference orchestrates external data-curation
  * jobs over HTTP (`/root/reference/dags/update_tr_from_ex_dag.py:93-105`
  * triggers a scraper whose output lands downstream); these queries are
  * the in-engine versions of the curation steps such a pipeline runs.
  *
  * Scale shapes: never a pair cross-product. Decontamination probes a
  * broadcast index of its small, fixed eval side in map-only tasks;
  * the repetition gate is row-local and map-only too (q67); chunk
  * dedup shuffles by chunk hash exactly like exact-dedup shuffles by
  * text.
  */
object Curation extends QueryPack {

  // ---------------------------------------------------------------- q66
  /** Benchmark decontamination: which training documents contain a large
    * fraction of some eval document's 3-gram shingles? Eval set =
    * `doc_id % 50 == 0` (a held-out benchmark slice, ~2% of the corpus);
    * containment(train, eval) = |sh(train) ∩ sh(eval)| / |sh(eval)| — the
    * asymmetric overlap used for decontamination (a short benchmark item
    * fully quoted inside a long page must flag, which symmetric Jaccard
    * misses). Output: flagged (train, eval) pairs at containment ≥ 1/4,
    * with the exact integer predicate `inter·4 ≥ esz` (determinism rule
    * 8), not a rounded-double compare.
    *
    * Scale: shingles are hashed per doc in one native pass
    * ([[Dedup.hashedShingleArray]]). The eval side models a FIXED
    * benchmark suite, constant in size however the corpus grows (the
    * fixture's doc_id slice stands in for it), so it is always
    * broadcast: its arrays are collected once, at most
    * [[Dedup.BroadcastShingleMaxDocs]] documents (an eval side over that
    * fails the query, naming this precondition), and indexed on the
    * driver ([[Dedup.ContainmentIndex]]) — REPOSE's local index (Rong et
    * al., ICDE'21): the index yields the candidates, exact counting runs
    * on those only. Map-only tasks probe the broadcast index with the
    * train rows and emit each flagged pair already counted and filtered;
    * the train side is never exploded, joined or shuffled, and the only
    * exchange is the output sort. */
  val q66 = QueryDef(
    "q66_decontamination",
    (spark, dir) =>
      decontamination(Dedup.docShingleArrays(spark, dir), Dedup.BroadcastShingleMaxDocs),
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
             ELSE ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS s
      FROM tok, UNNEST(CASE WHEN len(ts) < 3 THEN [1]
                            ELSE range(1, len(ts) - 1) END) AS t(i)),
    ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % 50 = 0),
    esz AS (SELECT eval_id, COUNT(*) AS esz FROM ev GROUP BY 1),
    tr AS (SELECT doc_id, s FROM sh WHERE doc_id % 50 <> 0),
    inter AS (
      SELECT tr.doc_id, ev.eval_id, COUNT(*) AS inter
      FROM tr JOIN ev ON tr.s = ev.s
      GROUP BY 1, 2)
    SELECT i.doc_id, i.eval_id, i.inter,
      ROUND(i.inter * 1.0 / z.esz, 6) AS containment
    FROM inter i JOIN esz z USING (eval_id)
    WHERE i.inter * 4 >= z.esz
    ORDER BY doc_id, eval_id"""))

  /** q66 over a `(doc_id, shs)` hashed-shingle-array frame whose eval
    * side holds at most `evalCap` documents. */
  private[graft] def decontamination(hsh: DataFrame, evalCap: Long): DataFrame = {
    val (ids, off, hs) = Dedup.collectShingleArrays(hsh.filter(col("doc_id") % 50 === 0),
        evalCap).getOrElse(throw new IllegalArgumentException(
      s"q66: the eval side (doc_id % 50 = 0) is a fixed benchmark suite, broadcast " +
        s"whole, and must hold at most $evalCap documents; this corpus has more"))
    val spark = hsh.sparkSession
    val index = spark.sparkContext.broadcast(Dedup.ContainmentIndex(ids, off, hs))
    val hits = hsh.filter(col("doc_id") % 50 =!= 0).select(col("doc_id"), col("shs"))
      .queryExecution.toRdd.mapPartitions(rows => index.value.probe(rows))
    spark.createDataFrame(hits, Dedup.ContainmentIndex.hitSchema)
      .select(col("doc_id"), col("eval_id"), col("inter"),
        round(col("inter").cast("double") / col("esz"), 6).as("containment"))
      .orderBy(col("doc_id"), col("eval_id"))
  }

  // ---------------------------------------------------------------- q67
  /** Repetition-based quality gate (the Gopher repetition rules' shape):
    * per-doc duplicate-bigram fraction and top-bigram fraction, with a
    * keep verdict at dup_frac ≤ 1/5 AND top_frac ≤ 1/10 — both as exact
    * integer predicates. Degenerate "word soup that loops" documents show
    * high duplicate-bigram mass long before exact/near dedup fires.
    *
    * Scale: the three statistics are ROW-LOCAL properties of the per-doc
    * bigram array, so the scan is map-only end to end: bigrams are hashed
    * in one native pass ([[graft.functions.expressions.BigramHashes]])
    * and their multiplicity profile computed in a second
    * ([[graft.functions.expressions.ArrayStats]]) — no explode, no
    * exchange anywhere but the final output sort. The composed
    * explode → groupBy(doc, bigram) → groupBy(doc) form pays two full
    * shuffles of the exploded bigram table for the same numbers. */
  val q67 = QueryDef(
    "q67_repetition_gate",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val st = call_function("graft_array_stats",
        call_function("graft_bigram_hashes", split(col("text"), " "))
          .getField("hb"))
      d.filter(size(split(col("text"), " ")) >= 2)
        .select(col("doc_id"), st.getField("n").as("n_bigrams"),
          st.getField("n_distinct").as("n_distinct"),
          st.getField("top_count").as("top_count"))
        .select(
          col("doc_id"), col("n_bigrams"), col("n_distinct"), col("top_count"),
          round((col("n_bigrams") - col("n_distinct")).cast("double")
            / col("n_bigrams"), 6).as("dup_frac"),
          round(col("top_count").cast("double") / col("n_bigrams"), 6)
            .as("top_frac"),
          ((col("n_bigrams") - col("n_distinct")) * 5 <= col("n_bigrams") &&
            col("top_count") * 10 <= col("n_bigrams")).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bi AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)),
    grp AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY 1, 2)
    SELECT doc_id,
      CAST(SUM(c) AS BIGINT) AS n_bigrams,
      COUNT(*) AS n_distinct,
      CAST(MAX(c) AS BIGINT) AS top_count,
      ROUND((SUM(c) - COUNT(*)) * 1.0 / SUM(c), 6) AS dup_frac,
      ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_frac,
      ((SUM(c) - COUNT(*)) * 5 <= SUM(c) AND MAX(c) * 10 <= SUM(c)) AS keep
    FROM grp GROUP BY doc_id
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q68
  /** Span-level (chunk) deduplication — the C4-style pass that removes
    * repeated spans ACROSS documents even when whole documents are not
    * duplicates (boilerplate headers, quoted passages). Documents split
    * into non-overlapping 8-token chunks; a chunk occurrence survives iff
    * it is the globally first occurrence of that chunk text in
    * (doc_id, position) order. Output: per-doc chunk counts, removed
    * count, and removed fraction.
    *
    * Scale: explode to (doc, pos, chunk hash) — linear, ~n_tokens/8 rows
    * per doc, the chunks hashed per doc in one native pass
    * ([[graft.functions.expressions.ChunkHashes]]; the composed
    * transform/slice/concat_ws form pays an interpreted lambda per chunk
    * AND shuffles variable-length chunk strings where this shuffles
    * 8-byte longs) — then ONE shuffle by chunk hash (the same shape as
    * exact dedup's group-by) for the first-occurrence ranking, and a
    * per-doc re-aggregation. No pairs, no cross product; skew on a viral
    * chunk is the usual AQE-split group-by skew, not a join blow-up. A
    * 64-bit chunk-hash collision (~1e-11 at sf0.1 volumes) would merge
    * two distinct chunks; the string-keyed oracle hash-compare would
    * catch it. */
  /** The q68 pipeline over an arbitrary `(doc_id, text)` frame — also
    * driven by [[graft.tools.ScaleProbe]]'s curation mode. */
  private[graft] def chunkDedupOn(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // no narrow-input guard here, deliberately: chunk hashing is one
    // xxhash64 pass per token — too cheap to amortize an extra exchange
    // at small inputs (measured 0.33 → 0.76 s warm at sf0.1), and the
    // window's own exchange parallelizes everything downstream. The
    // guard belongs where per-row map work is heavy (shingle/LSH
    // hashing — see graft.Parallelism.ensure call sites).
    val chunks = docs.select(col("doc_id"),
      posexplode(call_function("graft_chunk_hashes",
        split(col("text"), " "), lit(8))).as(Seq("pos", "chunk")))
    val ranked = chunks.withColumn("rn", row_number().over(
      Window.partitionBy(col("chunk")).orderBy(col("doc_id"), col("pos"))))
    ranked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("removed"))
      .select(col("doc_id"), col("n_chunks"), col("removed"),
        round(col("removed").cast("double") / col("n_chunks"), 6)
          .as("removed_frac"))
      .orderBy(col("doc_id"))
  }

  val q68 = QueryDef(
    "q68_chunk_dedup",
    (spark, dir) => chunkDedupOn(Tables(spark, dir).documents),
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    ch AS (
      SELECT doc_id, CAST(i AS INT) AS pos,
        array_to_string(ts[(i*8+1):(i*8+8)], ' ') AS chunk
      FROM tok, UNNEST(range(0, CAST(ceil(len(ts) / 8.0) AS BIGINT))) AS t(i)),
    rk AS (
      SELECT doc_id,
        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
      FROM ch)
    SELECT doc_id, COUNT(*) AS n_chunks,
      CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS removed,
      ROUND(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
        AS removed_frac
    FROM rk GROUP BY doc_id
    ORDER BY doc_id"""))

  /** q67's repetition-keep predicate over a `text` column — one
    * expression, shared by q67, the per-source report (q69) and the
    * streaming gate ([[graft.streaming.StreamOps.curationGate]]). */
  private[graft] def repetitionKeep: org.apache.spark.sql.Column = {
    val st = call_function("graft_array_stats",
      call_function("graft_bigram_hashes", split(col("text"), " "))
        .getField("hb"))
    val n = st.getField("n")
    (n - st.getField("n_distinct")) * 5 <= n &&
      st.getField("top_count") * 10 <= n
  }

  /** Per-document stateless gate verdicts (quality + repetition) — the
    * map-only core both q69 and the streaming gate are built on. */
  private[graft] def gateVerdicts(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"),
      TextOps.qualityKeep.as("q_keep"),
      repetitionKeep.as("rep_keep"))

  // ---------------------------------------------------------------- q69
  /** Per-source curation report — the summary table a curation run ends
    * with: for every `source`, how many documents each gate would drop
    * (exact duplicate / q61 quality rules / q67 repetition rules) and how
    * many survive all three. Reuses the exact verdict expressions of the
    * underlying queries ([[TextOps.qualityKeep]], the q67 predicate over
    * [[graft.functions.expressions.ArrayStats]]) so the report can never
    * drift from the gates it summarizes.
    *
    * Scale: the two per-doc gates are map-only native expressions; the
    * only data-sized shuffles are the exact-dup window (by text — the
    * exact-dedup shape) and the tiny per-source aggregate. */
  val q69 = QueryDef(
    "q69_curation_report",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val kept = !col("is_dup") && col("q_keep") && col("rep_keep")
      d.withColumn("is_dup", row_number().over(
          Window.partitionBy(col("text")).orderBy(col("doc_id"))) > 1)
        .withColumn("q_keep", TextOps.qualityKeep)
        .withColumn("rep_keep", repetitionKeep)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_exact_dup"),
          sum(when(!col("q_keep"), 1L).otherwise(0L)).as("n_quality_drop"),
          sum(when(!col("rep_keep"), 1L).otherwise(0L)).as("n_rep_drop"),
          sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
          round(sum(when(kept, 1L).otherwise(0L)).cast("double")
            / count(lit(1)), 6).as("kept_frac"))
        .orderBy(col("source"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, source, text, string_split(text, ' ') AS ts
      FROM documents),
    x AS (
      SELECT doc_id, source, text,
        len(ts) AS n,
        len(list_distinct(ts)) * 1.0 / len(ts) AS ttr,
        len(list_filter(ts, t -> t IN ('the','a','of','and','to')))
          * 1.0 / len(ts) AS sr
      FROM tok),
    dup AS (
      SELECT doc_id,
        row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents),
    bi AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)),
    grp AS (SELECT doc_id, b, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
        ((SUM(c) - COUNT(*)) * 5 <= SUM(c) AND MAX(c) * 10 <= SUM(c))
          AS rep_keep
      FROM grp GROUP BY doc_id),
    f AS (
      SELECT x.source,
        d.rn > 1 AS is_dup,
        (x.n >= 20 AND x.ttr >= 0.35 AND x.sr >= 0.02) AS q_keep,
        COALESCE(r.rep_keep, TRUE) AS rep_keep
      FROM x JOIN dup d USING (doc_id) LEFT JOIN rep r USING (doc_id))
    SELECT source,
      COUNT(*) AS n_docs,
      CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
      CAST(SUM(CASE WHEN NOT q_keep THEN 1 ELSE 0 END) AS BIGINT)
        AS n_quality_drop,
      CAST(SUM(CASE WHEN NOT rep_keep THEN 1 ELSE 0 END) AS BIGINT)
        AS n_rep_drop,
      CAST(SUM(CASE WHEN NOT is_dup AND q_keep AND rep_keep THEN 1 ELSE 0 END)
        AS BIGINT) AS n_kept,
      ROUND(SUM(CASE WHEN NOT is_dup AND q_keep AND rep_keep THEN 1 ELSE 0 END)
        * 1.0 / COUNT(*), 6) AS kept_frac
    FROM f GROUP BY source
    ORDER BY source"""))

  // ---------------------------------------------------------------- q74
  /** Sequence packing: assign documents to fixed token-budget packs — the
    * step between a curated corpus and a trainer, which consumes
    * fixed-length token sequences. Greedy contiguous fill in doc_id order
    * within a shard: a document joins the pack its running token count
    * STARTS in, so pack membership depends only on earlier docs of the
    * same shard — deterministic, and embarrassingly parallel because the
    * window never spans shards (one task per shard at any corpus size;
    * no single-partition WindowExec). Shard = md5-prefix bucket of doc_id
    * (the library's cross-engine hash idiom, per the determinism
    * contract — never xxhash64 across engines); the budget divide is
    * exact integer arithmetic. Output is the per-pack doc/token manifest
    * a loader consumes. */
  val q74 = QueryDef(
    "q74_sequence_pack",
    (spark, dir) => {
      val budget = 512
      val nShards = 8
      val d = Tables(spark, dir).documents
      val bucket = Det.md5Bucket(col("doc_id"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.select(col("doc_id"),
          pmod(bucket, lit(nShards)).as("shard"),
          size(split(col("text"), " ")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack", expr(s"(cum - n_tokens) div $budget"))
        .groupBy(col("shard"), col("pack"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"))
        .orderBy(col("shard"), col("pack"))
    },
    Some("""WITH toks AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 8 AS shard,
        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      FROM documents),
    cum AS (
      SELECT shard, n_tokens,
        CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      FROM toks)
    SELECT shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS pack,
      COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM cum
    GROUP BY shard, pack
    ORDER BY shard, pack"""))

  // ---------------------------------------------------------------- q78
  /** Source-mix reweighting — the sampling-weight table a training run
    * consumes to rebalance a skewed corpus toward a target mixture
    * (uniform-by-source here, the simplest instance of the
    * Gopher/Pile-style mixture step): per source, its token share and the
    * sampling weight that equalizes expected tokens across sources, with
    * the single-epoch sampling fraction capped at 1 (upsampling beyond
    * one epoch is the trainer's job; the cap keeps the column a valid
    * per-doc Bernoulli rate).
    *
    * Determinism: token counts are exact integers; the only float ops are
    * one double division of exact integers per output cell (bit-identical
    * across engines) and the shared `round(…, 6)`.
    *
    * Scale: one map-side-combined aggregate over the corpus to
    * #sources rows; the global window then runs on that aggregate — a
    * BOUNDED, dimension-sized frame (source catalogs are tens-to-
    * hundreds of rows at any corpus size), which is the one shape where
    * an unpartitioned window is the right plan (same reasoning as q23's
    * documented global ntile). */
  val q78 = QueryDef(
    "q78_mix_weights",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val src = d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
      val w = Window.partitionBy()
      val weight = round(
        sum(col("n_tokens")).over(w).cast("double")
          / (count(lit(1)).over(w) * col("n_tokens")), 6)
      src.select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("n_tokens").cast("double")
            / sum(col("n_tokens")).over(w), 6).as("share"),
          weight.as("uniform_weight"),
          least(lit(1.0), weight).as("sample_frac"))
        .orderBy(col("source"))
    },
    Some("""WITH s AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source)
    SELECT source, n_docs, n_tokens,
      ROUND(CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE), 6)
        AS share,
      ROUND(CAST(SUM(n_tokens) OVER () AS DOUBLE)
        / (COUNT(*) OVER () * n_tokens), 6) AS uniform_weight,
      LEAST(CAST(1.0 AS DOUBLE),
        ROUND(CAST(SUM(n_tokens) OVER () AS DOUBLE)
          / (COUNT(*) OVER () * n_tokens), 6)) AS sample_frac
    FROM s
    ORDER BY source"""))

  // ---------------------------------------------------------------- q85
  /** The q85 pipeline over an arbitrary `(doc_id, text, lang, source)`
    * frame with an injectable sketch capacity — the spec drives this with
    * a deliberately undersized estimate to prove bloom false positives
    * cannot change the output (the exact verify join removes them). */
  /** The assembled interior of [[bloomPurgeOn]] — exposed so
    * [[graft.tools.ScaleProbe]] can count the prefilter's survivors with
    * the same construction the production purge uses (the probe's timed
    * purge still runs the full [[bloomPurgeOn]], sketch build included —
    * the recorded t_purge is the production cost, and the count-only
    * parts here run outside the timed region). */
  private[graft] final case class BloomPurgeParts(
      evalChunks: org.apache.spark.sql.DataFrame,
      trainChunks: org.apache.spark.sql.DataFrame,
      maybe: org.apache.spark.sql.DataFrame)

  private[graft] def bloomParts(
      docs: org.apache.spark.sql.DataFrame,
      estimatedItems: Option[Long] = None): BloomPurgeParts = {
    import graft.Materialize.CutSyntax
    val chunks = docs.select(col("doc_id"),
      explode(call_function("graft_chunk_hashes",
        split(col("text"), " "), lit(8))).as("c"))
    // the benchmark side: fixed-size at any corpus scale (same broadcast
    // justification as q66) — materialized once, reused by the sketch
    // build and the exact verify join
    val evalChunks = chunks.filter(col("doc_id") % 50 === 0)
      .select(col("c")).distinct().cut()
    val est = estimatedItems.getOrElse(math.max(1024L, evalChunks.count()))
    val bloomBytes = evalChunks
      .agg(call_function("graft_bloom_agg", col("c"), lit(est)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val train = chunks.filter(col("doc_id") % 50 =!= 0)
    // map-side prefilter: at 100 TB this is the entire point — the
    // overwhelming non-contaminated majority of chunk rows dies HERE,
    // before any exchange, against a driver-built sketch whose size is
    // bounded by the fixed benchmark suite (model state, like the IVF
    // centroids), never by the corpus
    val maybe =
      if (bloomBytes == null) train.filter(lit(false))
      else train.filter(call_function("graft_bloom_might_contain",
        lit(bloomBytes), col("c")))
    BloomPurgeParts(evalChunks, train, maybe)
  }

  private[graft] def bloomPurgeOn(
      docs: org.apache.spark.sql.DataFrame,
      estimatedItems: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val parts = bloomParts(docs, estimatedItems)
    // exact verify: bloom has no false negatives, so the semi join over
    // the surviving sliver reproduces the exact contaminated-doc set and
    // the final anti join equals the plain (bloom-free) anti join
    val purged = parts.maybe.join(broadcast(parts.evalChunks), Seq("c"), "leftsemi")
      .select(col("doc_id")).distinct()
    docs.filter(col("doc_id") % 50 =!= 0)
      .join(purged, Seq("doc_id"), "leftanti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered benchmark purge — the decontamination DELETE pass
    * (q66 reports flagged pairs; this one removes). A train document is
    * purged iff it shares any non-overlapping 8-token chunk
    * ([[graft.functions.expressions.ChunkHashes]], the q68 chunking) with
    * the eval slice (`doc_id % 50 == 0`, q66's benchmark convention).
    *
    * Spark shape: Spark's own `BloomFilterAggregate` builds the sketch
    * over the eval side's chunk hashes (driver-held, benchmark-bounded —
    * ~1.2 MB per million chunks at the default 3% FPP);
    * `BloomFilterMightContain` then prefilters the train chunk stream
    * map-side, and only the maybes reach the broadcast semi join that
    * removes false positives. Output is EXACTLY the anti join the oracle
    * states — the sketch is invisible in the result, so this is fully
    * oracle-checked, unlike sketch ops whose estimates leak into the
    * output (q50). Same 64-bit chunk-hash collision caveat as q68
    * (~1e-11; the string-keyed oracle would catch one). */
  val q85 = QueryDef(
    "q85_bloom_purge",
    (spark, dir) => bloomPurgeOn(Tables(spark, dir).documents),
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    ch AS (
      SELECT doc_id, array_to_string(ts[(i*8+1):(i*8+8)], ' ') AS chunk
      FROM tok, UNNEST(range(0, CAST(ceil(len(ts) / 8.0) AS BIGINT))) AS t(i)),
    ev AS (SELECT DISTINCT chunk FROM ch WHERE doc_id % 50 = 0),
    purged AS (
      SELECT DISTINCT doc_id FROM ch JOIN ev USING (chunk)
      WHERE doc_id % 50 <> 0)
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE d.doc_id % 50 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM purged)
    ORDER BY doc_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q117
  /** RAG/embedding chunking: split each document into overlapping
    * token windows (32 tokens, stride 24 → 8-token overlap) as rows —
    * the retrieval-side counterpart of q74's training-side sequence
    * packing, and the unit the Similarity pack would embed and index.
    *
    * Pure narrow pipeline: tokenize → posexplode the stride-grid start
    * offsets → one `slice` per chunk; zero shuffles besides the output
    * sort, so chunking parallelizes embarrassingly and composes with
    * any upstream filter pushdown. Chunk identity is (doc_id,
    * chunk_idx) with chunk_idx = start/stride — deterministic, no
    * monotonically_increasing_id. The tail chunk keeps its natural
    * short length (n_tokens ≤ 32) rather than padding: padding policy
    * belongs to the embedder, truncation loses corpus. */
  val q117 = QueryDef(
    "q117_rag_chunks",
    (spark, dir) => {
      val W = 32
      val S = 24
      Tables(spark, dir).documents
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(col("doc_id"), col("ts"),
          posexplode(sequence(lit(0), size(col("ts")) - 1, lit(S)))
            .as(Seq("chunk_idx", "start")))
        .select(col("doc_id"), col("chunk_idx"),
          slice(col("ts"), col("start") + 1, lit(W)).as("ct"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("ct")).as("n_tokens"),
          array_join(col("ct"), " ").as("chunk"))
        .orderBy(col("doc_id").asc_nulls_first, col("chunk_idx").asc_nulls_first)
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    st AS (
      SELECT doc_id, ts, UNNEST(range(0, len(ts), 24)) AS start FROM tok),
    ch AS (
      SELECT doc_id, CAST(start // 24 AS INT) AS chunk_idx,
        list_slice(ts, start + 1, least(start + 32, len(ts))) AS ct
      FROM st)
    SELECT doc_id, chunk_idx,
      CAST(len(ct) AS INT) AS n_tokens,
      array_to_string(ct, ' ') AS chunk
    FROM ch
    ORDER BY doc_id ASC NULLS FIRST, chunk_idx ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q137
  /** Token-budget apportionment across sources — largest-remainder
    * (Hamilton) method: given a training budget B, each source gets
    * `⌊B·t_s/T⌋` tokens and the `B − Σ⌊·⌋` leftovers go to the largest
    * remainders. The mix-PLANNING step downstream of q78's weights:
    * what a curriculum builder actually emits is an integer allocation
    * that sums EXACTLY to the budget — proportional rounding that
    * neither over- nor under-commits, which naive per-source rounding
    * cannot guarantee.
    *
    * Everything is exact integer arithmetic (`div`/`%` on longs — at a
    * scale where B·t overflows int64, pre-divide t and T by a common
    * factor; the proportions are scale-free). The windows here are
    * GLOBAL but run AFTER the per-source aggregate — they move the
    * |sources|-row dimension frame, not data (q78's whitelisted
    * pattern, and the same argument). One corpus-sized token-count
    * aggregate is the only row-scale work. */
  val q137 = QueryDef(
    "q137_token_apportion",
    (spark, dir) => {
      val B = 1000000L
      val src = Tables(spark, dir).documents
        .groupBy(col("source"))
        .agg(sum(size(split(col("text"), " "))).as("t"))
      val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val byRem = Window.orderBy(col("rem").desc, col("source").asc)
      src
        .withColumn("tot", sum(col("t")).over(all))
        .withColumn("base", expr(s"(${B}L * t) div tot"))
        .withColumn("rem", expr(s"(${B}L * t) % tot"))
        .withColumn("rr", row_number().over(byRem))
        .withColumn("leftover", lit(B) - sum(col("base")).over(all))
        .select(col("source"), col("t").as("n_tokens"),
          col("base").as("base_quota"),
          (col("rr") <= col("leftover")).cast("int").as("extra"),
          (col("base") + (col("rr") <= col("leftover")).cast("long")).as("alloc"))
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""WITH src AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t
      FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(t) AS BIGINT) AS t_all FROM src),
    base AS (
      SELECT source, t,
        (1000000 * t) // t_all AS base, (1000000 * t) % t_all AS rem
      FROM src CROSS JOIN tot),
    ranked AS (
      SELECT source, t, base, rem,
        row_number() OVER (ORDER BY rem DESC, source ASC) AS rr
      FROM base),
    lo AS (SELECT 1000000 - CAST(SUM(base) AS BIGINT) AS leftover FROM base)
    SELECT source, t AS n_tokens,
      CAST(base AS BIGINT) AS base_quota,
      CAST(CASE WHEN rr <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END AS INT)
        AS extra,
      CAST(base + CASE WHEN rr <= (SELECT leftover FROM lo) THEN 1 ELSE 0 END
        AS BIGINT) AS alloc
    FROM ranked
    ORDER BY source ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q139
  /** Cross-source overlap matrix — "who copies whom": for every source
    * pair, the size of the intersection of their 3-gram shingle SETS
    * and the containment in both directions. The corpus-provenance
    * artifact next to q66's doc-level decontamination: a source whose
    * shingles are largely contained in another is a mirror/scrape, and
    * the matrix says so at a glance.
    *
    * Shape: per-source shingle sets from the native
    * [[Dedup.hashedShingleArray]] pass (explode + distinct — ONE
    * shuffle on the 8-byte hash), cut once (sizes and both self-join
    * sides consume it), then an EQUI self-join on the shingle hash with
    * per-shingle fan-out bounded by sources-per-shingle ≤ |sources|
    * (at a deployment with thousands of sources, add q103's df-cap on
    * universal boilerplate shingles). Counts on hashes equal counts on
    * strings absent collisions — q66's documented envelope, and the
    * oracle recomputes from the strings. */
  val q139 = QueryDef(
    "q139_source_overlap",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val ssh = Materialize.cut(Dedup.docShingleArrays(spark, dir)
        .join(d.select(col("doc_id"), col("source")), "doc_id")
        .select(col("source"), explode(col("shs")).as("s"))
        .distinct())
      val sizes = ssh.groupBy(col("source")).agg(count(lit(1)).as("sz"))
      val inter = ssh.select(col("source").as("src_a"), col("s"))
        .join(ssh.select(col("source").as("src_b"), col("s")), "s")
        .filter(col("src_a") < col("src_b"))
        .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("inter"))
      inter
        .join(broadcast(sizes.select(col("source").as("src_a"), col("sz").as("sz_a"))),
          "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"), col("sz").as("sz_b"))),
          "src_b")
        .select(col("src_a"), col("src_b"), col("inter"), col("sz_a"), col("sz_b"),
          round(col("inter").cast("double") / col("sz_a"), 6).as("contain_a"),
          round(col("inter").cast("double") / col("sz_b"), 6).as("contain_b"))
        .orderBy(col("src_a").asc_nulls_first, col("src_b").asc_nulls_first)
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
             ELSE ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS s
      FROM tok, UNNEST(CASE WHEN len(ts) < 3 THEN [1]
                            ELSE range(1, len(ts) - 1) END) AS t(i)),
    ssh AS (
      SELECT DISTINCT d.source, sh.s
      FROM sh JOIN documents d USING (doc_id)),
    sizes AS (SELECT source, COUNT(*) AS sz FROM ssh GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
      FROM ssh a JOIN ssh b ON a.s = b.s AND a.source < b.source
      GROUP BY 1, 2)
    SELECT i.src_a, i.src_b, i.inter, za.sz AS sz_a, zb.sz AS sz_b,
      ROUND(i.inter * 1.0 / za.sz, 6) AS contain_a,
      ROUND(i.inter * 1.0 / zb.sz, 6) AS contain_b
    FROM inter i
    JOIN sizes za ON za.source = i.src_a
    JOIN sizes zb ON zb.source = i.src_b
    ORDER BY src_a ASC NULLS FIRST, src_b ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q148
  /** Duplicate-span SCRUB — the REMOVAL stage downstream of q68's
    * detection (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", at tumbling-chunk granularity): rewrite every
    * document with its globally-duplicated 8-token chunks removed,
    * keeping only each chunk's FIRST occurrence in (doc_id, pos) order.
    * q68 reports what WOULD be removed; this emits the cleaned corpus a
    * curation run actually publishes — per doc: chunk count, removed
    * count, and the reassembled `clean_text`.
    *
    * Scale shape: two corpus-sized shuffles, both inherent — the global
    * first-occurrence decision keys by chunk, the reassembly keys by
    * doc. First-occurrence is a map-side-combinable `min(struct(doc_id,
    * pos))` AGGREGATE joined back on the chunk key, deliberately NOT a
    * `row_number` window: a ubiquitous boilerplate chunk is a hot key,
    * and AQE skew-split applies to the join while a sort window would
    * buffer the whole hot partition on one task. Reassembly collects
    * each doc's kept chunks (bounded by the doc's own token count) and
    * sorts them by position inside the row — no extra exchange beyond
    * the doc-key aggregate. Chunk identity is the chunk TEXT, so both
    * engines group identically with no hash function in the contract. */
  /** The q148 pipeline over an arbitrary `(doc_id, text)` frame — also
    * driven by [[graft.tools.ScaleProbe]]'s `scrub` mode on replicated
    * corpora (where every chunk key is ~f-hot, the skew case the
    * min-struct + equi-join shape exists for). */
  private[graft] def spanScrubOn(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val C = 8
    // the chunk frame sits on BOTH sides of the first-occurrence join
    // and Spark does not dedupe identical subplans — cut it once so
    // the scan + tokenize + chunk pass runs once, not twice
    val chunks = Materialize.cut(docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), col("ts"),
        posexplode(sequence(lit(0), size(col("ts")) - 1, lit(C)))
          .as(Seq("pos", "start")))
      .select(col("doc_id"), col("pos"),
        array_join(slice(col("ts"), col("start") + 1, lit(C)), " ").as("chunk")))
    val firsts = chunks.groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    chunks.join(firsts, "chunk")
      .withColumn("kept", col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("kept"), struct(col("pos"), col("chunk"))))),
          s => s.getField("chunk")), " ").as("clean_text"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  val q148 = QueryDef(
    "q148_span_scrub",
    (spark, dir) => spanScrubOn(Tables(spark, dir).documents),
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    ch AS (
      SELECT doc_id, CAST(start // 8 AS INT) AS pos,
        array_to_string(list_slice(ts, start + 1, least(start + 8, len(ts))), ' ') AS chunk
      FROM (SELECT doc_id, ts, UNNEST(range(0, len(ts), 8)) AS start FROM tok)),
    firsts AS (
      SELECT chunk, MIN({'doc_id': doc_id, 'pos': pos}) AS first
      FROM ch GROUP BY chunk),
    flagged AS (
      SELECT c.doc_id, c.pos, c.chunk,
        (c.doc_id = f.first.doc_id AND c.pos = f.first.pos) AS kept
      FROM ch c JOIN firsts f USING (chunk))
    SELECT doc_id, COUNT(*) AS n_chunks,
      CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
      COALESCE(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE kept), '')
        AS clean_text
    FROM flagged GROUP BY doc_id
    ORDER BY doc_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q234
  /** Winnow-ANCHORED duplicate-span scrub — closes q148's alignment
    * hole: q148's tumbling 8-token chunks only match when the duplicate
    * passages agree on the chunk grid, so a passage copied at an offset
    * of <8 tokens produces different chunk keys in every document and
    * escapes the scrub entirely (the recall gap Lee et al. close with
    * suffix arrays). Winnowing fingerprints (q103, Schleimer/Wilkerson/
    * Aiken 2003) are alignment-ROBUST: any shared run of ≥ w+k−1 = 6
    * tokens yields at least one shared window-min fingerprint regardless
    * of offset. This pass anchors removal on those fingerprints: per
    * fingerprint the earliest doc_id is the keeper; in every OTHER
    * document, each window carrying that fingerprint marks its covered
    * token span `[pos, pos+5]` for removal; a document's removal set is
    * the union of its marked spans, and `clean_text` reassembles the
    * surviving tokens in order. Interior windows of an exactly-copied
    * passage are identical in both documents, so a long duplicated
    * passage is scrubbed near-completely at ANY offset (spec: an
    * offset-by-3 duplicate q148 misses, this pass scrubs). The
    * winnow-granularity trade is stated honestly: any re-occurring
    * ≥6-token window is treated as duplication, so common long phrases
    * scrub more aggressively than chunk-grain q148.
    *
    * Scale shape (the q148 skew discipline): the window frame is
    * map-side ([[graft.functions.expressions.WinnowWindowMins]] emits
    * each doc's window-min array in one JIT pass — no position explode,
    * no per-doc window exchange) and is cut once because it sits on both
    * sides of the keeper decision; the keeper is a map-side-combinable
    * `min(doc_id)` AGGREGATE joined back on the fingerprint (never a
    * window over the hot key — ubiquitous boilerplate fingerprints are
    * exactly the AQE-skew-join case); removal positions distinct at
    * (doc, pos) grain; reassembly is one doc-keyed aggregate. Everything
    * is an equi-join — nothing pair-shaped, nothing O(n²). */
  private[graft] def winnowScrubPipeline(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val (k, w) = (3, 4)
    def toks(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id"), split(col("text"), " ").as("ts"))
    // narrow-input guard (the q103 rule): the fused window-min pass is
    // the dominant un-shuffled map cost and a fixture-sized scan plans
    // 1–2 partitions
    val wins = Materialize.cut(toks(
      graft.Parallelism.ensure(docs, col("doc_id")))
      .select(col("doc_id"),
        posexplode(call_function("graft_winnow_window_mins",
          col("ts"), lit(k), lit(w))).as(Seq("pos", "fp"))))
    val keepers = wins.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
    val rem = wins.join(keepers, "fp")
      .filter(col("doc_id") =!= col("keeper"))
      // 0-based window pos covers 1-based tokens [pos+1, pos+k+w−1]
      .select(col("doc_id"),
        explode(sequence(col("pos") + 1, col("pos") + (k + w - 1))).as("tp"))
      .distinct()
    val tokens = toks(docs)
      .select(col("doc_id"),
        size(col("ts")).cast(org.apache.spark.sql.types.LongType).as("n_tokens"),
        posexplode(col("ts")).as(Seq("tp0", "tok")))
      .select(col("doc_id"), col("n_tokens"), (col("tp0") + 1).as("tp"), col("tok"))
    tokens.join(rem.withColumn("rm", lit(true)), Seq("doc_id", "tp"), "left")
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(array_sort(collect_list(
            when(col("rm").isNull, struct(col("tp"), col("tok"))))),
          s => s.getField("tok")), " ").as("clean_text"))
      .orderBy(col("doc_id").asc_nulls_first)
  }

  val q234 = QueryDef(
    "q234_winnow_scrub",
    (spark, dir) => winnowScrubPipeline(Tables(spark, dir).documents),
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    g AS (
      SELECT doc_id, len(ts) - 2 AS ng, i AS pos,
        CAST('0x' || substr(md5(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 8) AS BIGINT) AS h
      FROM tok, UNNEST(range(1, len(ts) - 1)) AS u(i)
      WHERE len(ts) - 2 >= 4),
    w AS (
      SELECT doc_id, ng, pos,
        min(h) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM g),
    wins AS (SELECT doc_id, pos, fp FROM w WHERE pos <= ng - 3),
    keepers AS (SELECT fp, MIN(doc_id) AS keeper FROM wins GROUP BY fp),
    rem AS (
      SELECT DISTINCT wins.doc_id, u.tp
      FROM wins JOIN keepers USING (fp), UNNEST(range(wins.pos, wins.pos + 6)) AS u(tp)
      WHERE wins.doc_id <> keepers.keeper),
    tkn AS (
      SELECT doc_id, len(ts) AS n_tokens, i AS tp, ts[i] AS tok
      FROM tok, UNNEST(range(1, len(ts) + 1)) AS u(i))
    SELECT t.doc_id,
      CAST(MAX(t.n_tokens) AS BIGINT) AS n_tokens,
      CAST(SUM(CASE WHEN r.tp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      COALESCE(string_agg(t.tok, ' ' ORDER BY t.tp) FILTER (WHERE r.tp IS NULL), '')
        AS clean_text
    FROM tkn t LEFT JOIN rem r ON r.doc_id = t.doc_id AND r.tp = t.tp
    GROUP BY t.doc_id
    ORDER BY t.doc_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q154
  /** Context-window fit report — the planning table between q74's
    * packing and q137's budget apportionment: per source, how the
    * corpus maps onto a 2048-token training context. `n_shards` is the
    * shard count naive per-doc splitting produces (Σ ⌈tokens/2048⌉),
    * `fill_ppm` the resulting context utilization (total tokens over
    * shard capacity, exact integral ppm through DECIMAL — the number
    * that says how much compute padding wastes BEFORE packing, i.e.
    * what q74's cross-doc packing buys), `n_over_ctx` the docs that
    * must split at all. One map-side-combinable aggregate; all
    * integers. */
  val q154 = QueryDef(
    "q154_context_fit",
    (spark, dir) => {
      val t = Tables(spark, dir).documents
        .select(col("source"),
          size(split(col("text"), " ")).cast(org.apache.spark.sql.types.LongType).as("toks"))
      t.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          max(col("toks")).as("max_tokens"),
          sum(when(col("toks") > 2048, 1L).otherwise(0L)).as("n_over_ctx"),
          sum(expr("(toks + 2047) div 2048")).as("n_shards"))
        .withColumn("fill_ppm",
          expr("CAST(total_tokens AS DECIMAL(28,0)) * 1000000 div (n_shards * 2048)"))
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""WITH t AS (
      SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents)
    SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(toks) AS BIGINT) AS total_tokens,
      CAST(MAX(toks) AS BIGINT) AS max_tokens,
      CAST(SUM(CASE WHEN toks > 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_ctx,
      CAST(SUM((toks + 2047) // 2048) AS BIGINT) AS n_shards,
      CAST(SUM(toks) * 1000000 // (SUM((toks + 2047) // 2048) * 2048) AS BIGINT)
        AS fill_ppm
    FROM t GROUP BY source
    ORDER BY source ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q167
  /** Max-min fair (water-filling) token allocation across LANGUAGES —
    * q137's sibling for the CAPPED regime: apportionment splits a
    * budget ∝ group size, but a multilingual curriculum that wants
    * BALANCE wants the opposite — every language raised to a common
    * water level L, capped at what it actually has:
    * alloc_g = min(avail_g, L), with L the largest level the budget
    * funds. Low-resource languages get everything they have; the
    * high-resource head is clipped equally — the lexicographically
    * max-min allocation (and the standard fair-queueing rule). The key
    * is `lang` rather than `source` because the corpus' languages are
    * the skewed dimension (en ≈ 2.5× the others at every fixture) —
    * exactly the regime water-filling exists for.
    *
    * Exact integer algorithm, identical in both engines: sort groups
    * by (avail ASC, lang ASC); feasibility of fully funding the first
    * i groups is f(i) = P_i + avail_i·(n−i) ≤ B, which is monotone in
    * i (f(i+1)−f(i) = (n−i)(avail_{i+1}−avail_i) ≥ 0), so the funded
    * set is the prefix up to k = max feasible i. The rest each get
    * L = (B − P_k) div (n−k), with the division remainder handed +1 to
    * the first r unfunded groups by name (q137's largest-remainder
    * determinism class) — so Σalloc == B EXACTLY whenever B ≤ Σavail.
    * k's maximality guarantees L < avail_{k+1} ≤ every unfunded cap, so
    * no allocation exceeds its group. B is pinned to ⌊4·Σavail/5⌋ —
    * scale-free, and non-degenerate at every fixture (a real funded
    * prefix AND a real clipped tail, spec-asserted).
    *
    * Shape: ONE corpus-sized token-count aggregate; every window after
    * it moves the |langs|-row dimension frame (q78/q137's whitelisted
    * global-window argument). Overflow envelope: avail·(n−idx) needs
    * avail·n < 2^63 — at 10^13 tokens per language and 10^3 languages
    * that is 10^16, three decimal orders inside the bound. */
  /** The water-filling core over an arbitrary (lang, avail) frame —
    * budget fixed at ⌊4·Σavail/5⌋. Factored so AlgebraProps can state
    * the max-min laws over generated frames against THIS code path. */
  private[graft] def waterFill(src: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byAvail = Window.orderBy(col("avail").asc, col("lang").asc)
    val byAvailRows = byAvail.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byPart = Window.partitionBy(col("feas")).orderBy(col("lang").asc)
    src
      .withColumn("idx", row_number().over(byAvail))
      .withColumn("p", sum(col("avail")).over(byAvailRows))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("tot", sum(col("avail")).over(all))
      .withColumn("b", expr("(tot * 4) div 5"))
      .withColumn("feas",
        (col("p") + col("avail") * (col("n") - col("idx")) <= col("b")).cast("int"))
      .withColumn("k", max(when(col("feas") === 1, col("idx")).otherwise(lit(0))).over(all))
      .withColumn("pk", max(when(col("feas") === 1, col("p")).otherwise(lit(0L))).over(all))
      .withColumn("m", col("n") - col("k"))
      .withColumn("level", when(col("m") > 0, expr("(b - pk) div m")))
      .withColumn("r", when(col("m") > 0, expr("(b - pk) % m")))
      .withColumn("ur", row_number().over(byPart))
      .select(col("lang"), col("avail").as("n_tokens"),
        when(col("feas") === 1, col("avail"))
          .otherwise(col("level") + (col("ur") <= col("r")).cast("long"))
          .as("alloc"),
        col("feas").as("fully_funded"))
      .orderBy(col("lang").asc_nulls_first)
  }

  val q167 = QueryDef(
    "q167_water_fill",
    (spark, dir) => waterFill(
      Tables(spark, dir).documents
        .groupBy(col("lang"))
        .agg(sum(size(split(col("text"), " "))).cast("long").as("avail"))),
    Some("""WITH src AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS avail
      FROM documents GROUP BY lang),
    st AS (
      SELECT lang, avail,
        row_number() OVER (ORDER BY avail ASC, lang ASC) AS idx,
        SUM(avail) OVER (ORDER BY avail ASC, lang ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        COUNT(*) OVER () AS n,
        SUM(avail) OVER () AS tot
      FROM src),
    f AS (
      SELECT *, (tot * 4) // 5 AS b,
        CASE WHEN p + avail * (n - idx) <= (tot * 4) // 5 THEN 1 ELSE 0 END AS feas
      FROM st),
    agg AS (
      SELECT MAX(CASE WHEN feas = 1 THEN idx ELSE 0 END) AS k,
        MAX(CASE WHEN feas = 1 THEN p ELSE 0 END) AS pk
      FROM f),
    lv AS (
      SELECT f.*, f.n - a.k AS m,
        CASE WHEN f.n - a.k > 0 THEN (f.b - a.pk) // (f.n - a.k) END AS level,
        CASE WHEN f.n - a.k > 0 THEN (f.b - a.pk) % (f.n - a.k) END AS r
      FROM f CROSS JOIN agg a),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY feas ORDER BY lang ASC) AS ur
      FROM lv)
    SELECT lang, avail AS n_tokens,
      CAST(CASE WHEN feas = 1 THEN avail
        ELSE level + CASE WHEN ur <= r THEN 1 ELSE 0 END END AS BIGINT) AS alloc,
      CAST(feas AS INT) AS fully_funded
    FROM rk
    ORDER BY lang ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q173
  /** Per-user contribution bounding — the privacy-pipeline preprocessing
    * behind every user-level differential-privacy guarantee (and the
    * robustness cap behind per-user influence limits in training-data
    * aggregation): each user may contribute at most C = 12 events per
    * event type to a published aggregate; the report states, per type,
    * the raw mass, the capped mass that survives, how many (user, type)
    * cells were clipped, and the retained ppm. DP adds noise AFTER this
    * step — the bounding itself is exact and engine-identical, which is
    * what makes the sensitivity (≤ C per user per type) a provable
    * constant.
    *
    * Shape: one (user, type) hash aggregate (high-cardinality key,
    * map-side combinable) then one |types|-bounded re-aggregate of
    * `least(n, C)` — two shuffles, the second dimension-sized. Cap 12
    * clips ~60% of (user, type) cells while retaining ~84% of the event
    * mass at every shipped SF (both live, spec-asserted) — the classic
    * bounding trade: most users barely feel it, heavy tails stop
    * dominating the sensitivity. */
  private[graft] val ContribCap = 12L

  val q173 = QueryDef(
    "q173_contribution_bound",
    (spark, dir) => {
      val cells = Tables(spark, dir).events
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      cells.groupBy(col("event_type"))
        .agg(sum(col("n")).as("raw_events"),
          sum(least(col("n"), lit(ContribCap))).as("capped_events"),
          count(lit(1)).as("n_cells"),
          sum(when(col("n") > ContribCap, 1L).otherwise(0L)).as("clipped_cells"))
        .withColumn("retained_ppm",
          expr("CAST(capped_events AS DECIMAL(28,0)) * 1000000 div raw_events"))
        .orderBy(col("event_type").asc_nulls_first)
    },
    Some(s"""WITH cells AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type)
    SELECT event_type,
      CAST(SUM(n) AS BIGINT) AS raw_events,
      CAST(SUM(LEAST(n, $ContribCap)) AS BIGINT) AS capped_events,
      COUNT(*) AS n_cells,
      CAST(SUM(CASE WHEN n > $ContribCap THEN 1 ELSE 0 END) AS BIGINT)
        AS clipped_cells,
      CAST(SUM(LEAST(n, $ContribCap)) * 1000000 // SUM(n) AS BIGINT)
        AS retained_ppm
    FROM cells
    GROUP BY event_type
    ORDER BY event_type ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q174
  /** k-anonymity generalization ladder — the re-identification risk
    * table a privacy review reads before publishing a quasi-identified
    * extract: for each nesting of the candidate quasi-identifier
    * (segment, nation, $1000-balance band) → (segment, nation) →
    * (segment) → (), how many equivalence groups exist, the smallest
    * group, and how many rows sit in groups below k = 8 (re-identifiable
    * at that generalization). Publishing picks the FINEST ladder rung
    * with zero rows at risk; suppression/coarsening applies to the rest.
    *
    * ONE pass via ROLLUP — the nested ladder IS rollup's grouping-set
    * structure, and `grouping_id()` (Spark) / `GROUPING(...)` (DuckDB)
    * name the rung with the same MSB-first bitmask (0 = finest, 7 = no
    * quasi-id) — then a |rungs|-bounded re-aggregate. Risk is monotone
    * down the ladder (coarser rungs merge groups, sizes only grow —
    * spec-asserted), and the fixture spans the whole range: the finest
    * rung is fully risky, (segment, nation) partially, (segment) and
    * the total safely anonymous at every SF's oracle gate. */
  val q174 = QueryDef(
    "q174_kanon_ladder",
    (spark, dir) => {
      val bands = Tables(spark, dir).customer
        .select(col("c_mktsegment"), col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
      val groups = bands
        .rollup(col("c_mktsegment"), col("c_nationkey"), col("bal_band"))
        .agg(count(lit(1)).as("n"), grouping_id().as("ladder"))
      groups.groupBy(col("ladder"))
        .agg(count(lit(1)).as("n_groups"),
          min(col("n")).as("min_size"),
          sum(when(col("n") < 8, 1L).otherwise(0L)).as("risky_groups"),
          sum(when(col("n") < 8, col("n")).otherwise(lit(0L))).as("rows_at_risk"))
        .orderBy(col("ladder").asc_nulls_first)
    },
    Some("""WITH g AS (
      SELECT GROUPING(c_mktsegment, c_nationkey,
          CAST(FLOOR(c_acctbal / 1000) AS BIGINT)) AS ladder,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM customer
      GROUP BY ROLLUP(c_mktsegment, c_nationkey,
        CAST(FLOOR(c_acctbal / 1000) AS BIGINT)))
    SELECT ladder, COUNT(*) AS n_groups,
      CAST(MIN(n) AS BIGINT) AS min_size,
      CAST(SUM(CASE WHEN n < 8 THEN 1 ELSE 0 END) AS BIGINT) AS risky_groups,
      CAST(SUM(CASE WHEN n < 8 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk
    FROM g
    GROUP BY ladder
    ORDER BY ladder ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q185
  /** Cross-source quantile normalization — map every document's
    * per-source score rank onto the GLOBAL score distribution, the
    * calibration step that makes heterogeneous per-source quality
    * scores comparable before a corpus-wide threshold (q71) or mix
    * (q78) uses them: source A's p90 document gets the corpus-wide p90
    * score, regardless of how compressed A's raw scale is. Score here
    * is `n_chars` (the fixture's per-doc magnitude column); the
    * transform is the classic quantile-matching one — per-source rank
    * r of n_s maps to global position 1 + ⌊(r−1)(N−1)/(n_s−1)⌋, all
    * exact integer arithmetic (no interpolated percentiles — contract
    * rule: a float boundary can land knife-edge on a data value).
    *
    * Scale: the global total order goes through [[GlobalRank]]'s
    * range-partitioned two-pass rank (never a SinglePartition window —
    * the workload PlanSpec guard); the per-source ranks are an
    * ordinary high-cardinality-key window; the value lookup is a
    * row-scale equi-join on the target position. At 100 TB: one range
    * shuffle + one source-keyed window + one position join — the same
    * three moves regardless of corpus size. */
  val q185 = QueryDef(
    "q185_quantile_normalize",
    (spark, dir) => {
      val base = Tables(spark, dir).documents
        .select(col("doc_id"), col("source"), col("n_chars"))
      val (ranked, n) = GlobalRank.withRowNumber(
        base, Seq(col("n_chars").asc, col("doc_id").asc), "g")
      val ws = Window.partitionBy(col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      val wc = Window.partitionBy(col("source"))
      val withPos = ranked
        .withColumn("rs", row_number().over(ws).cast(org.apache.spark.sql.types.LongType))
        .withColumn("ns", count(lit(1)).over(wc))
        .withColumn("p", expr(
          s"CAST(CASE WHEN ns > 1 THEN 1 + ((rs - 1) * ${n - 1}L) DIV (ns - 1) " +
            s"ELSE ${(n + 1) / 2}L END AS BIGINT)"))
      val lookup = ranked.select(col("g").as("p"), col("n_chars").as("norm_chars"))
      withPos.join(lookup, Seq("p"))
        .select(col("doc_id"), col("source"), col("n_chars"), col("norm_chars"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH base AS (
      SELECT doc_id, source, n_chars FROM documents),
    t AS (SELECT COUNT(*) AS n FROM base),
    g AS (
      SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS g
      FROM base),
    rs AS (
      SELECT doc_id, source, n_chars,
        row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rs,
        COUNT(*) OVER (PARTITION BY source) AS ns
      FROM base),
    pos AS (
      SELECT doc_id, source, n_chars,
        CASE WHEN ns > 1 THEN 1 + ((rs - 1) * (n - 1)) // (ns - 1)
             ELSE (n + 1) // 2 END AS p
      FROM rs, t)
    SELECT pos.doc_id, pos.source, pos.n_chars, g.n_chars AS norm_chars
    FROM pos JOIN g ON g.g = pos.p
    ORDER BY pos.doc_id"""))

  // --------------------------------------------------------------- q188
  /** Pseudonymization with referential integrity — the PII-safe export
    * next to q76's redaction and q173/q174's aggregate-side privacy
    * rows: customer keys replaced by a deterministic 64-bit md5-prefix
    * token (the contract's cross-engine hash, never an engine-local
    * xxhash) IDENTICALLY on the dim and the fact, so joins and
    * aggregates survive tokenization — the property that lets a
    * de-identified extract feed the same downstream pipelines as the
    * clear data. Output: per-token order count and exact-decimal spend,
    * zero-order customers kept by the left join (their absence would
    * leak "who never ordered" by omission).
    *
    * Determinism: the token is a pure function of the key, identical
    * in both engines and under task retry; tokenization is injective
    * on any realistic key space (64-bit prefix — a fixture-wide
    * bijectivity check runs in the spec, and a production deployment
    * monitors it the same way).
    *
    * Scale: tokenization is map-only; the join keys change name, not
    * shape — one equi-join on uniformly-distributed tokens (md5
    * incidentally removes key skew), one hash aggregate. */
  val q188 = QueryDef(
    "q188_pseudonymize",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val cust = t.customer.select(
        substring(md5(col("c_custkey").cast("string").cast("binary")), 1, 16)
          .as("token"),
        col("c_mktsegment"))
      val ords = t.orders.select(
        substring(md5(col("o_custkey").cast("string").cast("binary")), 1, 16)
          .as("token"),
        col("o_totalprice"))
      cust.join(ords, Seq("token"), "left")
        .groupBy(col("token"), col("c_mktsegment"))
        .agg(count(col("o_totalprice")).as("n_orders"),
          Det.dsum(coalesce(col("o_totalprice"), lit(0.0))).as("sum_spend"))
        .orderBy(col("token"))
    },
    Some(s"""WITH cust AS (
      SELECT substr(md5(CAST(c_custkey AS VARCHAR)), 1, 16) AS token,
        c_mktsegment
      FROM customer),
    ords AS (
      SELECT substr(md5(CAST(o_custkey AS VARCHAR)), 1, 16) AS token,
        o_totalprice
      FROM orders)
    SELECT cust.token, c_mktsegment,
      COUNT(o_totalprice) AS n_orders,
      ${Det.sqlDsum("COALESCE(o_totalprice, 0)")} AS sum_spend
    FROM cust LEFT JOIN ords ON ords.token = cust.token
    GROUP BY 1, 2
    ORDER BY cust.token"""))

  // --------------------------------------------------------------- q194
  /** Temperature-scaled mixture weights (α = 0.5) — the multilingual /
    * multi-source sampling standard (mT5, the Pile, XLM-R all sample
    * sources ∝ n^α with α < 1 to upweight small sources without letting
    * them dominate): per-source sampled share ∝ √(token mass),
    * alongside the natural share so the upsampling factor each source
    * receives is visible. Sits beside q78's uniform mix (α = 0) and
    * natural mix (α = 1) as the tunable midpoint, and beside q137/q167
    * which apportion a fixed budget rather than reweight.
    *
    * Determinism: n^0.5 is irrational, so the contract's "exact
    * integers only" rule is met through ⌊√n⌋ — and floor(sqrt(n))
    * IS engine-stable here, by margin proof (the rule-13 pattern): for
    * non-square n ≤ 2⁴⁰, √n's distance to the nearest integer k is
    * |n − k²| / (√n + k) ≥ 1/(2√n + 1) > 2⁻²¹, while the correctly-
    * rounded double √n errs by ≤ ulp(2²⁰)/2 = 2⁻³³ — five thousand
    * times less, so both engines' FLOOR agree for every possible
    * input (perfect squares are exact outright); the scaladoc bound
    * n ≤ 2⁴⁰ ≈ 10¹² tokens per source is the operator's documented
    * domain (count kilotokens past it — shares are scale-free).
    * Shares are exact integer ppm (x·10⁶ div Σ), never float ratios.
    *
    * Scale: one corpus aggregate to the |sources|-row dimension frame;
    * the total runs as a window over THAT frame (q78's whitelisted
    * global-window-over-dimension pattern). */
  val q194 = QueryDef(
    "q194_temperature_mix",
    (spark, dir) => {
      val src = Tables(spark, dir).documents
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
        .withColumn("isq", floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      src.select(col("source"), col("n_docs"), col("n_tokens"),
          expr("n_tokens * 1000000 div (SUM(n_tokens) OVER ())").as("natural_ppm"),
          expr("isq * 1000000 div (SUM(isq) OVER ())").as("sampled_ppm"),
          expr("(isq * 1000000 div (SUM(isq) OVER ())) * 1000000 div " +
            "(n_tokens * 1000000 div (SUM(n_tokens) OVER ()))").as("upsample_ppm"))
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""WITH s AS (
      SELECT source, COUNT(*) AS n_docs,
        CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    i AS (
      SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS isq
      FROM s)
    SELECT source, n_docs, n_tokens,
      CAST(n_tokens * 1000000 // (SUM(n_tokens) OVER ()) AS BIGINT) AS natural_ppm,
      CAST(isq * 1000000 // (SUM(isq) OVER ()) AS BIGINT) AS sampled_ppm,
      CAST((isq * 1000000 // (SUM(isq) OVER ())) * 1000000
        // (n_tokens * 1000000 // (SUM(n_tokens) OVER ())) AS BIGINT) AS upsample_ppm
    FROM i
    ORDER BY source ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q220
  /** Inter-gate agreement (Cohen's κ) — "do my two quality raters agree
    * beyond chance?", the calibration table a curation pipeline reads
    * before composing gates (two gates that agree by chance alone add
    * no information; two that anti-correlate deserve a look): per
    * source, the 2×2 contingency of the q61 quality gate against the
    * q67 repetition gate plus κ in exact ppm.
    *
    * κ = (p_o − p_e)/(1 − p_e) is a RATIONAL of integer counts:
    * κ·den = N·(n11 + n00) − (a1·b1 + a0·b0) over
    * den = N² − (a1·b1 + a0·b0) — DECIMAL-widened products (rule 11),
    * SIGN-SPLIT integral divide (rule 10 — κ can be negative), den = 0
    * (both marginals degenerate) surfaces as NULL via nullif. The gate
    * predicates are the SHARED `TextOps.qualityKeep` /
    * [[repetitionKeep]] expressions, so this table can never drift
    * from what q61/q67/q69 mean by "keep".
    *
    * Shape: one map-only verdict pass (both gates are per-row
    * expressions) into ONE source-keyed aggregate — the q01
    * scan-aggregate class at any corpus size. */
  val q220 = QueryDef(
    "q220_gate_kappa",
    (spark, dir) => {
      val v = Tables(spark, dir).documents
        .select(col("source"),
          TextOps.qualityKeep.as("a"), repetitionKeep.as("b"))
      v.groupBy(col("source"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("n11"),
          sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("n10"),
          sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("n01"),
          sum(when(!col("a") && !col("b"), 1L).otherwise(0L)).as("n00"))
        .withColumn("pe2",
          expr("""CAST(n11 + n10 AS DECIMAL(38,0)) * (n11 + n01)
            + CAST(n01 + n00 AS DECIMAL(38,0)) * (n10 + n00)"""))
        .withColumn("num",
          expr("CAST(n AS DECIMAL(38,0)) * (n11 + n00) - pe2"))
        .withColumn("den",
          expr("nullif(CAST(n AS DECIMAL(38,0)) * n - pe2, CAST(0 AS DECIMAL(38,0)))"))
        .withColumn("kappa_ppm",
          expr("""CASE WHEN num < 0
            THEN -CAST((-num) * 1000000 div den AS BIGINT)
            ELSE CAST(num * 1000000 div den AS BIGINT) END"""))
        .select(col("source"), col("n"), col("n11"), col("n10"),
          col("n01"), col("n00"), col("kappa_ppm"))
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""WITH x AS (
      SELECT doc_id, source,
        len(string_split(text, ' ')) AS n,
        len(list_distinct(string_split(text, ' '))) * 1.0
          / len(string_split(text, ' ')) AS ttr,
        len(list_filter(string_split(text, ' '),
            t -> t IN ('the','a','of','and','to'))) * 1.0
          / len(string_split(text, ' ')) AS sr
      FROM documents),
    qa AS (
      SELECT doc_id, source,
        (n >= 20 AND ttr >= 0.35 AND sr >= 0.02) AS a
      FROM x),
    tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bi AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] AS bg
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)),
    grp AS (SELECT doc_id, bg, COUNT(*) AS c FROM bi GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
        ((SUM(c) - COUNT(*)) * 5 <= SUM(c) AND MAX(c) * 10 <= SUM(c)) AS b
      FROM grp GROUP BY doc_id),
    v AS (
      SELECT qa.source, qa.a, COALESCE(rep.b, TRUE) AS b
      FROM qa LEFT JOIN rep ON rep.doc_id = qa.doc_id),
    cells AS (
      SELECT source, COUNT(*) AS n,
        CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n11,
        CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n10,
        CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n01,
        CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM v GROUP BY source),
    k AS (
      SELECT source, n, n11, n10, n01, n00,
        CAST(n AS HUGEINT) * (n11 + n00)
          - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
             + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)) AS num,
        NULLIF(CAST(n AS HUGEINT) * n
          - (CAST(n11 + n10 AS HUGEINT) * (n11 + n01)
             + CAST(n01 + n00 AS HUGEINT) * (n10 + n00)), 0) AS den
      FROM cells)
    SELECT source, n, n11, n10, n01, n00,
      CASE WHEN num < 0 THEN -CAST((-num) * 1000000 // den AS BIGINT)
           ELSE CAST(num * 1000000 // den AS BIGINT) END AS kappa_ppm
    FROM k
    ORDER BY source ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q225
  /** Per-source Pareto frontier (2-D skyline): the documents for which no
    * same-source document has BOTH fewer-or-equal tokens AND
    * greater-or-equal repetition-quality, strict in one — the
    * multi-objective pick list of a token-budget-constrained curation
    * pass (maximize distinct-bigram quality, minimize token cost), where
    * any single blended score (q61's thresholds, q71's rank cut) must
    * pick a weighting first. Quality = distinct-bigram ratio in exact
    * integer ppm from the q67 ArrayStats pass (higher = less
    * repetitive).
    *
    * Skyline without pair generation: sort each source by token count —
    * a point is on the frontier iff its quality strictly beats the best
    * quality among strictly-fewer-token docs (a RANGE frame: max over
    * `RANGE UNBOUNDED PRECEDING .. 1 PRECEDING` on the token axis) and
    * ties the best at its own token count — two source-keyed windows,
    * O(n log n), never the O(n²) dominance join. Equal (tokens, quality)
    * duplicates are all kept (equal vectors don't dominate).
    *
    * Scale: stats are map-only native expressions; the only shuffle is
    * the source-keyed window sort. Determinism: pure integer predicates,
    * ppm via integral div, total output order. */
  val q225 = QueryDef(
    "q225_pareto_frontier",
    (spark, dir) => {
      val toks = split(col("text"), " ")
      val st = call_function("graft_array_stats",
        call_function("graft_bigram_hashes", toks).getField("hb"))
      val base = Tables(spark, dir).documents
        .filter(size(toks) >= 2)
        .select(col("source"), col("doc_id"),
          size(toks).cast("long").as("n_tokens"),
          st.getField("n").as("nb"), st.getField("n_distinct").as("nd"))
        .select(col("source"), col("doc_id"), col("n_tokens"),
          expr("CAST(nd * 1000000 div nb AS BIGINT)").as("q_ppm"))
      val wPrev = Window.partitionBy(col("source"))
        .orderBy(col("n_tokens").asc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wSame = Window.partitionBy(col("source"), col("n_tokens"))
      base
        .withColumn("m_prev", max(col("q_ppm")).over(wPrev))
        .withColumn("m_same", max(col("q_ppm")).over(wSame))
        .filter((col("m_prev").isNull || col("q_ppm") > col("m_prev")) &&
          col("q_ppm") === col("m_same"))
        .select(col("source"), col("doc_id"), col("n_tokens"), col("q_ppm"))
        .orderBy(col("source").asc_nulls_first, col("n_tokens").asc_nulls_first,
          col("doc_id").asc_nulls_first)
    },
    Some("""WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
    grp AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b, COUNT(*) AS c
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)
      WHERE len(ts) >= 2
      GROUP BY 1, 2),
    st AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nb, COUNT(*) AS nd
      FROM grp GROUP BY 1),
    base AS (
      SELECT t.source, t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
        CAST(s.nd * 1000000 // s.nb AS BIGINT) AS q_ppm
      FROM tok t JOIN st s USING (doc_id)),
    m AS (
      SELECT source, doc_id, n_tokens, q_ppm,
        MAX(q_ppm) OVER (PARTITION BY source ORDER BY n_tokens
          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_prev,
        MAX(q_ppm) OVER (PARTITION BY source, n_tokens) AS m_same
      FROM base)
    SELECT source, doc_id, n_tokens, q_ppm
    FROM m
    WHERE (m_prev IS NULL OR q_ppm > m_prev) AND q_ppm = m_same
    ORDER BY source ASC NULLS FIRST, n_tokens ASC NULLS FIRST,
      doc_id ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q230
  /** Coordinated cross-table sampling — sample KEYS, not rows: keep the
    * customers whose md5 bucket lands in the first 1/8 of the bucket
    * space and let every fact table ride the same key set, so the sample
    * stays referentially intact across tables (every sampled order's
    * customer is in the sampled dim BY CONSTRUCTION — a per-table
    * `TABLESAMPLE` breaks exactly this, orphaning most fact rows). The
    * standard way to build a 100 TB estate's consistent dev slice: the
    * predicate is a pure function of the key (Det rule 9 — md5-prefix
    * bucket, never engine-private hashes or RNG), so any table, today's
    * or next year's, joins consistently without coordination state.
    *
    * Shape: the dim filter is map-only; the fact side reaches the join
    * ALREADY filtered by the same predicate on its foreign key (no dim
    * lookup needed to decide membership — that is what coordination
    * buys), so the join moves only sampled rows; left join keeps
    * zero-order customers in the slice. Per-segment report: sampled
    * customers, their orders, exact spend cents. */
  val q230 = QueryDef(
    "q230_coordinated_sample",
    (spark, dir) => {
      val t = Tables(spark, dir)
      def inSample(key: org.apache.spark.sql.Column) =
        Det.md5Bucket(key) % 8 === 0
      val cust = t.customer
        .filter(inSample(col("c_custkey")))
        .select(col("c_custkey"), col("c_mktsegment"))
      val ords = t.orders
        .filter(inSample(col("o_custkey")))
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      cust.join(ords, col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(countDistinct(col("c_custkey")).as("n_cust"),
          count(col("o_custkey")).as("n_orders"),
          coalesce(sum(col("cents")), lit(0L)).as("spend_cents"))
        .orderBy(col("segment").asc_nulls_first)
    },
    Some("""WITH sc AS (
      SELECT c_custkey, c_mktsegment FROM customer
      WHERE CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4) AS INTEGER) % 8 = 0),
    so AS (
      SELECT o_custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 4) AS INTEGER) % 8 = 0)
    SELECT sc.c_mktsegment AS segment,
      CAST(COUNT(DISTINCT sc.c_custkey) AS BIGINT) AS n_cust,
      CAST(COUNT(so.o_custkey) AS BIGINT) AS n_orders,
      CAST(COALESCE(SUM(so.cents), 0) AS BIGINT) AS spend_cents
    FROM sc LEFT JOIN so ON sc.c_custkey = so.o_custkey
    GROUP BY sc.c_mktsegment
    ORDER BY segment ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q232
  /** Distribution-matching resample (deterministic importance
    * resampling): bring every source's length profile to the CORPUS
    * length profile by per-(source, bin) downsampling — the "stop one
    * feed from skewing the mixture" knob between q63 (flatten strata to
    * the minimum) and q194 (reweight whole sources by √tokens). For
    * source s and length bin b the acceptance ratio is
    * `min(1, share_corpus(b) / share_s(b)) = min(1, n_b·N_s / (N·n_sb))`
    * — over-represented bins thin toward the target, under-represented
    * ones keep everything (never upsampled: acceptance caps at 1).
    *
    * Determinism (contract rule 9): acceptance is the exact integer
    * predicate `bucket·(N·n_sb) < 65536·(n_b·N_s)` on the md5-prefix
    * bucket of doc_id — a pure function of (key, corpus histogram),
    * reproducible on any engine/cluster, no RNG; the products route
    * through DECIMAL(38,0) (1e12-doc corpora square past int64). The
    * reported `accept_ppm` is the same rational floored to ppm and
    * capped at 10⁶.
    *
    * Shape: one (source, bin) count aggregate feeds the bin/source/total
    * margins (all dimension-sized; the 1-row total is a whitelisted
    * tiny broadcast); the threshold frame (≤ sources×bins rows)
    * broadcasts back onto a second map-only doc scan for the kept
    * count. The corpus never self-joins and never sorts. */
  val q232 = QueryDef(
    "q232_distribution_match",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
        .select(col("doc_id"), col("source"),
          expr("least(9, n_chars DIV 100)").as("bin"),
          graft.Det.md5Bucket(col("doc_id")).as("bucket"))
      val sb = d.groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_sb"))
      val byBin = sb.groupBy(col("bin")).agg(sum(col("n_sb")).as("n_b"))
      val bySrc = sb.groupBy(col("source")).agg(sum(col("n_sb")).as("n_s"))
      val total = sb.agg(sum(col("n_sb")).as("n"))
      val thr = sb.join(byBin, Seq("bin")).join(bySrc, Seq("source"))
        .crossJoin(broadcast(total))
        .select(col("source"), col("bin"), col("n_sb"),
          expr("CAST(n_b AS DECIMAL(38,0)) * n_s").as("num"),
          expr("CAST(n AS DECIMAL(38,0)) * n_sb").as("den"),
          least(lit(1000000L),
            expr("CAST(CAST(n_b AS DECIMAL(38,0)) * n_s * 1000000 DIV (CAST(n AS DECIMAL(38,0)) * n_sb) AS BIGINT)"))
            .as("accept_ppm"))
      val kept = d.join(broadcast(thr), Seq("source", "bin"))
        .filter(expr("CAST(bucket AS DECIMAL(38,0)) * den < CAST(65536 AS DECIMAL(38,0)) * num"))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_kept"))
      thr.join(kept, Seq("source", "bin"), "left")
        .select(col("source"), col("bin"), col("n_sb").as("n_in"),
          col("accept_ppm"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source").asc_nulls_first, col("bin").asc_nulls_first)
    },
    Some("""WITH d AS (
      SELECT doc_id, source, least(9, n_chars // 100) AS bin,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) AS bucket
      FROM documents),
    sb AS (SELECT source, bin, CAST(COUNT(*) AS BIGINT) AS n_sb FROM d GROUP BY 1, 2),
    b AS (SELECT bin, CAST(SUM(n_sb) AS BIGINT) AS n_b FROM sb GROUP BY 1),
    s AS (SELECT source, CAST(SUM(n_sb) AS BIGINT) AS n_s FROM sb GROUP BY 1),
    nt AS (SELECT CAST(SUM(n_sb) AS BIGINT) AS n FROM sb),
    thr AS (
      SELECT sb.source, sb.bin, sb.n_sb,
        CAST(b.n_b AS HUGEINT) * s.n_s AS num,
        CAST(nt.n AS HUGEINT) * sb.n_sb AS den,
        least(1000000, CAST(CAST(b.n_b AS HUGEINT) * s.n_s * 1000000
          // (CAST(nt.n AS HUGEINT) * sb.n_sb) AS BIGINT)) AS accept_ppm
      FROM sb JOIN b USING (bin) JOIN s USING (source) CROSS JOIN nt),
    kept AS (
      SELECT d.source, d.bin, CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM d JOIN thr ON d.source = thr.source AND d.bin = thr.bin
      WHERE CAST(d.bucket AS HUGEINT) * thr.den < 65536 * thr.num
      GROUP BY 1, 2)
    SELECT thr.source, thr.bin, thr.n_sb AS n_in,
      CAST(thr.accept_ppm AS BIGINT) AS accept_ppm,
      CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM thr LEFT JOIN kept k ON thr.source = k.source AND thr.bin = k.bin
    ORDER BY thr.source ASC NULLS FIRST, thr.bin ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q241
  /** Context-window packing audit — the training-layout readout of the
    * curation stack: documents laid end-to-end in the deterministic
    * md5-shuffle training order (the q62/q74 contract-rule-9 key family:
    * order = (md5(doc_id), doc_id), reproducible across engines and
    * runs, no RNG) and cut into fixed 512-token context windows, then
    * per (source, windows-spanned): how many docs and tokens land
    * intact in one window vs straddle k window boundaries. Boundary
    * fragmentation is the quantity sequence-packing policies minimize —
    * a source whose docs routinely span 3+ windows is feeding truncated
    * or split documents to every epoch — and the deterministic order
    * makes the number a property of the corpus, not of a shuffle seed.
    *
    * Scale shape: the global token offset is an exact prefix sum over a
    * total order — [[GlobalCdf.withRunningTotals]]'s range-partitioned
    * two-pass (in-partition running sums + driver offsets ≤ shuffle
    * partitions — NEVER an empty-partitionBy window, the workload
    * guard's banned shape); everything after is row-local integer
    * arithmetic folding to a (sources × spans)-bounded table. */
  val q241 = QueryDef(
    "q241_packing_audit",
    (spark, dir) => {
      val C = 512
      val d = graft.Parallelism.ensure(Tables(spark, dir).documents, col("doc_id"))
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast(org.apache.spark.sql.types.LongType)
            .as("n_toks"),
          md5(col("doc_id").cast("string").cast("binary")).as("skey"))
      val (run, _) = GlobalCdf.withRunningTotals(
        d, Seq(col("skey"), col("doc_id")), Seq("cum" -> col("n_toks")))
      run
        .select(col("source"), col("n_toks"),
          expr(s"((cum - 1) div $C) - ((cum - n_toks) div $C) + 1")
            .as("windows_spanned"))
        .groupBy(col("source"), col("windows_spanned"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(sum(CAST(n_toks AS DECIMAL(38,0))) AS BIGINT)").as("n_tokens"))
        .orderBy(col("source").asc_nulls_first,
          col("windows_spanned").asc_nulls_first)
    },
    Some("""WITH d AS (
      SELECT doc_id, source,
        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
        md5(CAST(doc_id AS VARCHAR)) AS skey
      FROM documents),
    c AS (
      SELECT source, n_toks,
        SUM(n_toks) OVER (ORDER BY skey, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM d),
    s AS (
      SELECT source, n_toks,
        CAST(((cum - 1) // 512) - ((cum - n_toks) // 512) + 1 AS BIGINT)
          AS windows_spanned
      FROM c)
    SELECT source, windows_spanned, COUNT(*) AS n_docs,
      CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM s
    GROUP BY source, windows_spanned
    ORDER BY source ASC NULLS FIRST, windows_spanned ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q242
  /** Training-order mixing audit — the QA readout for the md5-shuffle
    * order q241 lays out (and any epoch reader consumes): slice the
    * order into 20 equal position buckets and report each bucket's
    * source-mix total-variation distance from the corpus mix, in exact
    * ppm. A well-mixed order holds every bucket near the corpus
    * distribution; a bad shuffle key (ingest order, source-correlated
    * ids) clusters sources into contiguous training stretches — the
    * silent curriculum nobody ordered. TVD over KL for q212's reason:
    * a pure rational of integer counts, no ln(), oracle-exact.
    *
    * Scale shape: position = [[GlobalCdf.withRunningTotals]] prefix
    * COUNT over the (md5, doc_id) total order (range-partitioned
    * two-pass, never a single-partition window); then one (bucket,
    * source) aggregate, margins joined on dimension-sized frames,
    * |sources|-per-bucket fold to 20 rows. Products route through
    * DECIMAL(38,0) (n_bs·N at 100 TB overflows int64). */
  val q242 = QueryDef(
    "q242_mixing_audit",
    (spark, dir) => {
      val B = 20
      val d = graft.Parallelism.ensure(Tables(spark, dir).documents, col("doc_id"))
        .select(col("doc_id"), col("source"),
          md5(col("doc_id").cast("string").cast("binary")).as("skey"))
      val (run, grand) = GlobalCdf.withRunningTotals(
        d, Seq(col("skey"), col("doc_id")), Seq("pos" -> lit(1L)))
      val n = grand("pos")
      val cell = run
        .select(col("source"), expr(s"(pos - 1) * $B div ${n}L").as("bucket"))
        .groupBy(col("bucket"), col("source"))
        .agg(count(lit(1)).as("n_bs"))
      val srcTot = cell.groupBy(col("source")).agg(sum(col("n_bs")).as("n_s"))
      val bktTot = cell.groupBy(col("bucket")).agg(sum(col("n_bs")).as("n_b"))
      // the full bucket × source grid (missing cells carry n_bs = 0 —
      // their |0·N − n_s·n_b| mass is real); both frames are
      // dimension-sized, so the grid cross join is the q215 class
      bktTot.crossJoin(srcTot)
        .join(cell, Seq("bucket", "source"), "left")
        .select(col("bucket"), col("n_b"),
          expr(s"""abs(CAST(coalesce(n_bs, 0) AS DECIMAL(38,0)) * ${n}L
            - CAST(n_s AS DECIMAL(38,0)) * n_b)""").as("dev"))
        .groupBy(col("bucket"), col("n_b"))
        .agg(expr(s"""CAST(sum(dev) * 1000000
          div (2 * CAST(${n}L AS DECIMAL(38,0)) * first(n_b)) AS BIGINT)""")
          .as("tvd_ppm"))
        .select(col("bucket"), col("n_b").as("n_docs"), col("tvd_ppm"))
        .orderBy(col("bucket").asc_nulls_first)
    },
    Some("""WITH d AS (
      SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS skey
      FROM documents),
    p AS (
      SELECT source,
        (row_number() OVER (ORDER BY skey, doc_id) - 1) * 20
          // (SELECT COUNT(*) FROM documents) AS bucket
      FROM d),
    cell AS (SELECT bucket, source, COUNT(*) AS n_bs FROM p GROUP BY 1, 2),
    st AS (SELECT source, CAST(SUM(n_bs) AS BIGINT) AS n_s FROM cell GROUP BY source),
    bt AS (SELECT bucket, CAST(SUM(n_bs) AS BIGINT) AS n_b FROM cell GROUP BY bucket),
    grid AS (
      SELECT bt.bucket, bt.n_b,
        abs(CAST(COALESCE(cell.n_bs, 0) AS HUGEINT)
            * (SELECT COUNT(*) FROM documents)
          - CAST(st.n_s AS HUGEINT) * bt.n_b) AS dev
      FROM bt CROSS JOIN st
      LEFT JOIN cell ON cell.bucket = bt.bucket AND cell.source = st.source)
    SELECT bucket, n_b AS n_docs,
      CAST(SUM(dev) * 1000000
        // (2 * CAST((SELECT COUNT(*) FROM documents) AS HUGEINT) * n_b)
        AS BIGINT) AS tvd_ppm
    FROM grid
    GROUP BY bucket, n_b
    ORDER BY bucket ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q243
  /** Length-bucketed batching padding-waste audit — the OTHER training
    * layout (q241 packs into fixed windows; variable-length training
    * instead buckets similar-length sequences and pads each to the
    * bucket capacity): every document goes to the next-power-of-two
    * token bucket, `cap = 2^len(bin(n_toks − 1))` (rule-14 bit-length
    * idiom — pure integers, both engines identical; n_toks = 1 → cap
    * 1), and per (source, capacity): docs, real tokens, and the padding
    * share `(n_docs·cap − n_tokens) / (n_docs·cap)` in exact ppm — the
    * compute a trainer burns on pad tokens, THE number that decides
    * between bucketed batching and q241's packing. Map-only scan into
    * one (source, cap)-bounded aggregate (≤ sources × log(max len)
    * rows); products routed through DECIMAL(38,0). */
  val q243 = QueryDef(
    "q243_padding_waste",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
        .select(col("source"),
          size(split(col("text"), " ")).cast(org.apache.spark.sql.types.LongType)
            .as("n_toks"))
        .withColumn("cap",
          expr("""CAST(CASE WHEN n_toks <= 1 THEN 1
            ELSE shiftleft(CAST(1 AS BIGINT), length(bin(n_toks - 1))) END
            AS BIGINT)"""))
      d.groupBy(col("source"), col("cap"))
        .agg(count(lit(1)).as("n_docs"),
          expr("CAST(sum(CAST(n_toks AS DECIMAL(38,0))) AS BIGINT)").as("n_tokens"))
        .select(col("source"), col("cap"), col("n_docs"), col("n_tokens"),
          expr("""CAST((CAST(n_docs AS DECIMAL(38,0)) * cap - n_tokens) * 1000000
            div (CAST(n_docs AS DECIMAL(38,0)) * cap) AS BIGINT)""").as("pad_ppm"))
        .orderBy(col("source").asc_nulls_first, col("cap").asc_nulls_first)
    },
    Some("""WITH d AS (
      SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents),
    b AS (
      SELECT source, n_toks,
        CASE WHEN n_toks <= 1 THEN 1
          ELSE (CAST(1 AS BIGINT) << length(bin(n_toks - 1))) END AS cap
      FROM d),
    g AS (
      SELECT source, cap, COUNT(*) AS n_docs,
        CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM b GROUP BY source, cap)
    SELECT source, cap, n_docs, n_tokens,
      CAST((CAST(n_docs AS HUGEINT) * cap - n_tokens) * 1000000
        // (CAST(n_docs AS HUGEINT) * cap) AS BIGINT) AS pad_ppm
    FROM g
    ORDER BY source ASC NULLS FIRST, cap ASC NULLS FIRST"""))

  override def queries: Seq[QueryDef] =
    Seq(q66, q67, q68, q69, q74, q78, q85, q117, q137, q139, q148, q154, q167,
      q173, q174, q185, q188, q194, q220, q225, q230, q232, q234, q241, q242,
      q243)
}
