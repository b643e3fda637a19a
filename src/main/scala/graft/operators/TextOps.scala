package graft.operators

import graft.{Det, QueryDef, QueryPack, Tables}
import graft.Materialize.CutSyntax
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Text-analysis pack over `documents`: per-doc statistics and quality
  * scoring, corpus language profile, a deterministic n-gram language-ID
  * heuristic, TF-IDF term ranking, regex token counting and a rolling-hash
  * document fingerprint.
  *
  * Everything is built from codegen'd built-ins (split/transform/filter/
  * aggregate higher-order functions, regexp_count) — no UDFs, so the whole
  * pack stays inside whole-stage codegen and scales linearly with the
  * corpus; the only shuffles are the final group-bys (df counts, language
  * histogram), which aggregate map-side first.
  */
object TextOps extends QueryPack {
  import Det._

  // ---------------------------------------------------------------- q36
  /** Per-document stats + quality score: token/char counts, type-token
    * ratio, stopword ratio — the standard pretraining quality signals. */
  val q36 = QueryDef(
    "q36_text_stats",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val toks = split(col("text"), " ")
      val stopwords = Seq("the", "a", "of", "and", "to")
      d.select(
          col("doc_id"),
          size(toks).as("n_tokens"),
          length(col("text")).as("n_chars_m"),
          size(array_distinct(toks)).as("n_distinct"),
          round(size(array_distinct(toks)).cast("double") / size(toks), 6).as("ttr"),
          round(size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))
            .cast("double") / size(toks), 6).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
      CAST(length(text) AS INT) AS n_chars_m,
      CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
      ROUND(len(list_distinct(string_split(text, ' '))) * 1.0
        / len(string_split(text, ' ')), 6) AS ttr,
      ROUND(len(list_filter(string_split(text, ' '),
          t -> t IN ('the','a','of','and','to'))) * 1.0
        / len(string_split(text, ' ')), 6) AS stopword_ratio
    FROM documents
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q37
  /** Corpus language/source profile. */
  val q37 = QueryDef(
    "q37_lang_profile",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      d.groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          davg(col("n_chars")).as("avg_chars"),
          davg(size(split(col("text"), " "))).as("avg_tokens"))
        .orderBy(col("lang"))
    },
    Some(s"""SELECT lang, COUNT(*) AS n_docs,
      COUNT(DISTINCT source) AS n_sources,
      ${sqlDavg("n_chars")} AS avg_chars,
      ${sqlDavg("len(string_split(text, ' '))")} AS avg_tokens
    FROM documents
    GROUP BY lang
    ORDER BY lang"""))

  // ---------------------------------------------------------------- q38
  /** Language-ID heuristic: weighted character-bigram/stopword marker
    * scores per candidate language, argmax with deterministic tie-break
    * (earliest language wins score ties). Marker occurrences are counted
    * by literal replace-and-measure — `(len(text) − len(replace(text, m,
    * ''))) div len(m)` — the same left-to-right non-overlapping scan in
    * both engines, all-integer arithmetic, which is what makes the
    * heuristic EXACTLY oracle-checkable (the earlier regexp_count form
    * was equivalent but left the oracle unwritten). Both the engine
    * columns and the oracle SQL are generated from the one marker table,
    * so they cannot drift. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "ing", " the ", " and "),
    "es" -> Seq("ll", "os ", "as ", " el ", " de "),
    "de" -> Seq("ch", "ei", "sch", " der ", " und "),
    "fr" -> Seq("ou", "es ", "ent", " le ", " la "),
    "zh" -> Seq("zh", "xi", "ng ", " shi ", " de "))

  val q38 = QueryDef(
    "q38_langid",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val scored = langMarkers.foldLeft(d) { case (df, (lang, ms)) =>
        val score = ms.zipWithIndex.map { case (m, i) =>
          expr(s"(length(text) - length(replace(text, '$m', ''))) div ${m.length}") * (i + 1)
        }.reduce(_ + _)
        df.withColumn(s"s_$lang", score.cast(LongType))
      }
      val langs = langMarkers.map(_._1)
      val best = langs.map(l => struct(col(s"s_$l").as("score"), lit(l).as("lang")))
        .reduce((a, b) => when(b.getField("score") > a.getField("score"), b).otherwise(a))
      scored
        .withColumn("guess", best.getField("lang"))
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("guess"))
    },
    Some {
      val scoreCols = langMarkers.map { case (lang, ms) =>
        val e = ms.zipWithIndex.map { case (m, i) =>
          s"((len(text) - len(replace(text, '$m', ''))) // ${m.length}) * ${i + 1}"
        }.mkString(" + ")
        s"CAST($e AS BIGINT) AS s_$lang"
      }.mkString(",\n        ")
      val caseScore = langMarkers.map(_._1)
        .map(l => s"WHEN '$l' THEN s_$l").mkString(" ")
      val prios = langMarkers.map(_._1).zipWithIndex
        .map { case (l, i) => s"(${i + 1}, '$l')" }.mkString(", ")
      s"""WITH sc AS (
      SELECT doc_id, lang,
        $scoreCols
      FROM documents),
    g AS (
      SELECT sc.lang, m.guess,
        ROW_NUMBER() OVER (PARTITION BY sc.doc_id
          ORDER BY (CASE m.guess $caseScore END) DESC, m.pri) AS rk
      FROM sc CROSS JOIN (VALUES $prios) AS m(pri, guess))
    SELECT lang, guess, COUNT(*) AS n
    FROM g WHERE rk = 1
    GROUP BY lang, guess
    ORDER BY lang, guess"""
    })

  // ---------------------------------------------------------------- q39
  /** TF-IDF: top-3 terms per document. Scores are kept integral
    * (micro-scaled idf) so ranking and output are exactly reproducible
    * across engines — no float ordering anywhere. The corpus size N is a
    * 1-row count aggregate broadcast into the plan (q17's scalar-subquery
    * pattern) — never a hardcoded literal, so IDF stays correct at every
    * scale factor. */
  val q39 = QueryDef(
    "q39_tfidf",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val nDocs = d.agg(count(lit(1)).as("n_corpus"))
      val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score_micro").desc, col("term"))
      tf.join(df_, "term")
        .crossJoin(broadcast(nDocs))
        .withColumn("idf_micro",
          round(log(col("n_corpus").cast("double") / col("df")) * 1000000).cast(LongType))
        .withColumn("score_micro", (col("tf") * col("idf_micro")).cast(LongType))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("score_micro"))
        .orderBy(col("doc_id"), col("rk"))
    },
    Some("""WITH tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term,
        CAST(tf.tf * CAST(ROUND(ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / df.df) * 1000000) AS BIGINT) AS BIGINT) AS score_micro
      FROM tf JOIN df ON tf.term = df.term),
    ranked AS (
      SELECT doc_id, term, score_micro,
        CAST(row_number() OVER (PARTITION BY doc_id
          ORDER BY score_micro DESC, term) AS INT) AS rk
      FROM scored)
    SELECT doc_id, rk, term, score_micro FROM ranked WHERE rk <= 3
    ORDER BY doc_id, rk"""))

  // ---------------------------------------------------------------- q40
  /** Regex token counting (BPE-ish pre-tokenizer classes): word, numeric
    * and non-alnum token counts per source. */
  val q40 = QueryDef(
    "q40_token_regex",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      d.select(
          col("source"),
          regexp_count(col("text"), lit("[a-z]+")).cast(LongType).as("n_word"),
          regexp_count(col("text"), lit("[0-9]+")).cast(LongType).as("n_num"),
          regexp_count(col("text"), lit("[^a-z0-9 ]")).cast(LongType).as("n_other"))
        .groupBy(col("source"))
        .agg(
          sum(col("n_word")).as("words"),
          sum(col("n_num")).as("nums"),
          sum(col("n_other")).as("others"))
        .orderBy(col("source"))
    },
    Some("""SELECT source,
      CAST(SUM(len(regexp_extract_all(text, '[a-z]+'))) AS BIGINT) AS words,
      CAST(SUM(len(regexp_extract_all(text, '[0-9]+'))) AS BIGINT) AS nums,
      CAST(SUM(len(regexp_extract_all(text, '[^a-z0-9 ]'))) AS BIGINT) AS others
    FROM documents
    GROUP BY source
    ORDER BY source"""))

  // ---------------------------------------------------------------- q45
  /** Rolling-hash document fingerprint (polynomial over token codes, mod
    * 2^31-1): groups byte-identical and near-boilerplate docs cheaply.
    *
    * Oracle-checked: the fold is pure integer arithmetic over per-token
    * codes (length·31 + ascii), so DuckDB replays it exactly with
    * `list_reduce` over the seed-prepended code list — acc stays below
    * 2³¹·131 + c < 2³⁸, inside int64 on both engines, and `pmod` ≡ `%`
    * because every operand is non-negative. No engine-local constant is
    * involved (that was a mischaracterization until round 12; the seed
    * and multiplier are part of the operator's public definition, like
    * MOSS's winnowing parameters in q103). */
  val q45 = QueryDef(
    "q45_fingerprint",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val fp = expr(
        """aggregate(
             split(text, ' '),
             CAST(7 AS BIGINT),
             (acc, t) -> pmod(acc * 131 + length(t) * 31 + ascii(t), 2147483647))""")
      d.select(col("doc_id"), fp.as("fingerprint"))
        .groupBy(col("fingerprint"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("fingerprint"))
    },
    Some("""WITH codes AS (
      SELECT doc_id,
        list_prepend(CAST(7 AS BIGINT),
          list_transform(string_split(text, ' '),
            t -> CAST(length(t) * 31 + ascii(t) AS BIGINT))) AS cs
      FROM documents),
    fp AS (
      SELECT doc_id,
        list_reduce(cs, (acc, c) -> (acc * 131 + c) % 2147483647) AS fingerprint
      FROM codes)
    SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs,
      MIN(doc_id) AS first_doc
    FROM fp GROUP BY fingerprint ORDER BY fingerprint"""))

  // ---------------------------------------------------------------- q61
  /** Quality-filter verdict per document — the canonical pretraining
    * data-curation operator: combine the q36 signals into keep/drop with
    * a deterministic first-failing-rule reason. Thresholds sit inside the
    * fixture's signal distributions (n_tokens 10–99, TTR 0.28–1.0,
    * stopword ratio 0.01–0.11) so every rule actually fires on some
    * documents. Pure per-row expression arithmetic: map-only, codegen'd,
    * linear at any corpus size. */
  /** The q61 quality signals over the `text` column — shared with the
    * per-source curation report (q69) so the two queries can never drift
    * apart on what "quality keep" means. */
  private[graft] def qualitySignals: (org.apache.spark.sql.Column,
      org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val stopwords = Seq("the", "a", "of", "and", "to")
    val toks = split(col("text"), " ")
    val n = size(toks)
    val ttr = size(array_distinct(toks)).cast("double") / n
    val stopR = size(filter(toks, t => t.isin(stopwords.map(x => x: Any): _*)))
      .cast("double") / n
    (n, ttr, stopR)
  }

  /** keep ⟺ none of q61's drop rules fire. */
  private[graft] def qualityKeep: org.apache.spark.sql.Column = {
    val (n, ttr, stopR) = qualitySignals
    n >= 20 && ttr >= 0.35 && stopR >= 0.02
  }

  val q61 = QueryDef(
    "q61_quality_filter",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val (n, ttr, stopR) = qualitySignals
      val reason = when(n < 20, "too_short")
        .when(ttr < 0.35, "low_diversity")
        .when(stopR < 0.02, "low_stopword")
        .otherwise("ok")
      d.select(
          col("doc_id"),
          (reason === "ok").as("keep"),
          reason.as("reason"),
          n.cast(IntegerType).as("n_tokens"),
          round(ttr, 6).as("ttr"),
          round(stopR, 6).as("stopword_ratio"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH x AS (
      SELECT doc_id,
        len(string_split(text, ' ')) AS n,
        len(list_distinct(string_split(text, ' '))) * 1.0
          / len(string_split(text, ' ')) AS ttr,
        len(list_filter(string_split(text, ' '),
            t -> t IN ('the','a','of','and','to'))) * 1.0
          / len(string_split(text, ' ')) AS sr
      FROM documents),
    v AS (
      SELECT doc_id, n, ttr, sr,
        CASE WHEN n < 20 THEN 'too_short'
             WHEN ttr < 0.35 THEN 'low_diversity'
             WHEN sr < 0.02 THEN 'low_stopword'
             ELSE 'ok' END AS reason
      FROM x)
    SELECT doc_id, reason = 'ok' AS keep, reason,
      CAST(n AS INT) AS n_tokens,
      ROUND(ttr, 6) AS ttr, ROUND(sr, 6) AS stopword_ratio
    FROM v
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q62
  /** Deterministic train/val/test split (80/10/10) by hashing the
    * document key — the standard leakage-free splitting operator for a
    * training corpus: assignment is a pure per-row function of the key
    * (map-only, no shuffle, no sampling state), so it is stable across
    * runs, engines and cluster sizes, and any derived table splits
    * consistently by joining on doc_id. Bucket = first 16 bits of
    * md5(doc_id) — md5 is the hash both engines compute identically.
    * (To make near-duplicate leakage impossible, key by q55's cluster
    * keeper instead of doc_id — same shape, one extra join.) */
  val q62 = QueryDef(
    "q62_train_split",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val bucket = Det.md5Bucket(col("doc_id"))
      val split = when(bucket < 52429, "train") // 0.8 * 65536
        .when(bucket < 58982, "val")            // 0.9 * 65536
        .otherwise("test")
      d.select(col("doc_id"), bucket.as("bucket"), split.as("split"))
        .orderBy(col("doc_id"))
    },
    Some("""SELECT doc_id,
      CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) AS INT) AS bucket,
      CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) < 52429 THEN 'train'
           WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) < 58982 THEN 'val'
           ELSE 'test' END AS split
    FROM documents
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q63
  /** Deterministic stratified downsampling: rebalance the corpus so every
    * language keeps (approximately) the smallest language's document
    * count. Per-stratum keep-thresholds are exact integers
    * (`min_n·65536 div n_lang`) compared against the same md5-prefix
    * bucket as q62 — so the sample is a pure function of (key, corpus
    * histogram): reproducible on any engine or cluster size, no RNG, no
    * `sample()` nondeterminism. Shape: one tiny aggregate broadcast back
    * onto a map-only scan — the histogram is K rows (languages), the
    * corpus is never shuffled. */
  val q63 = QueryDef(
    "q63_stratified_sample",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val bucket = Det.md5Bucket(col("doc_id"))
      val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val minN = counts.agg(min(col("n_lang")).as("min_n"))
      val thresholds = counts.crossJoin(broadcast(minN))
        .select(col("lang"),
          expr("CAST(min_n * 65536 DIV n_lang AS INT)").as("thr"))
      d.withColumn("bucket", bucket)
        .join(broadcast(thresholds), "lang")
        .filter(col("bucket") < col("thr"))
        .select(col("doc_id"), col("lang"), col("bucket"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH b AS (
      SELECT doc_id, lang,
        CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) AS INT) AS bucket
      FROM documents),
    c AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang),
    m AS (SELECT MIN(n_lang) AS min_n FROM c),
    t AS (SELECT lang, CAST(min_n * 65536 // n_lang AS INT) AS thr FROM c, m)
    SELECT b.doc_id, b.lang, b.bucket
    FROM b JOIN t ON b.lang = t.lang
    WHERE b.bucket < t.thr
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q65
  /** Bigram language-model quality score — the LM-filtering signal of a
    * pretraining pipeline (CCNet-style): each document's total
    * log-likelihood under the corpus's own add-one-smoothed bigram model,
    * `lp(doc) = Σ ln((C(w1,w2)+1)/(C(w1)+V))`. Unusual word sequences
    * score low → drop/downweight candidates. Determinism: each bigram's
    * log-prob is micro-scaled to an integer BEFORE the per-doc sum, so the
    * output is exact integers (no float reduction order, no cross-engine
    * division drift); the oracle replays the identical arithmetic.
    *
    * Scale: two corpus count aggregations (bigram, prefix) + a scalar
    * vocab count — all partial-aggregated; per-doc scoring is an
    * equi-join of the doc's bigram stream with the (heavily reused)
    * count tables. No driver-side model state at all: the LM lives in
    * DataFrames, so a trillion-bigram corpus shards like any other
    * aggregate. */
  val q65 = QueryDef(
    "q65_lm_score",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val toks = split(col("text"), " ")
      // bigrams carried as xxhash64 keys from the start: the count
      // group-bys and the score join shuffle fixed-width longs, never
      // string pairs (same counts — a 64-bit collision among ~10⁶ corpus
      // bigrams is negligible and the oracle hash-check would catch it)
      val bi = d.filter(size(toks) >= 2)
        .select(col("doc_id"),
          explode(call_function("graft_bigram_hashes", toks)).as("b"))
        .select(col("doc_id"), col("b.hb").as("hb"), col("b.h1").as("h1"))
        .cut()
      val c12 = bi.groupBy(col("hb")).agg(count(lit(1)).as("c12"))
      val c1 = bi.groupBy(col("h1")).agg(count(lit(1)).as("c1"))
      val vocab = d.select(explode(toks).as("tk"))
        .agg(countDistinct(col("tk")).as("v"))
      val lp = bi.join(c12, Seq("hb")).join(c1, Seq("h1"))
        .crossJoin(broadcast(vocab))
        .withColumn("lp_micro",
          round(log((col("c12") + lit(1.0)) / (col("c1") + col("v"))) * 1000000)
            .cast(LongType))
      lp.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("sum_lp_micro"))
        // materialize the per-doc result before the total sort — range
        // partitioning samples its child, which would re-execute the
        // count-join chain
        .cut()
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bi AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)
      WHERE len(ts) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT tk) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents)),
    lp AS (
      SELECT bi.doc_id,
        CAST(ROUND(ln((c12.c12 + 1.0) / (c1.c1 + v.v)) * 1000000) AS BIGINT) AS lp_micro
      FROM bi
      JOIN c12 ON bi.w1 = c12.w1 AND bi.w2 = c12.w2
      JOIN c1 ON bi.w1 = c1.w1
      CROSS JOIN v)
    SELECT doc_id, COUNT(*) AS n_bigrams,
      CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro
    FROM lp
    GROUP BY doc_id
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q71
  /** Dynamic score thresholding — "drop the bottom 20% of the corpus by
    * LM score", the relative-quality cut practitioners apply when an
    * absolute threshold would over- or under-prune a shifting corpus.
    * Defined by RANK, not by an interpolated percentile: keep ⟺
    * `rank·5 > N` over the total order (mean score, doc_id) — pure
    * integer logic, so both engines agree exactly, where a
    * `quantile_cont`-style threshold would hinge on last-ulp float
    * interpolation parity (determinism rules 7/8). Mean score per doc is
    * the micro-scaled integral `floor(sum_lp/n)`.
    *
    * Scale: per-doc scores come from q65's sharded LM pipeline; the rank
    * goes through [[GlobalRank.withRowNumber]] — range-partitioned
    * two-pass ranking (per-partition local ranks + broadcast prefix-sum
    * offsets), never a single-partition global window: at billions of
    * docs an empty-partitionBy `row_number` would funnel every (doc,
    * score) row through ONE task. The corpus count needed for the
    * bottom-20% cut comes free from the offset pass. */
  val q71 = QueryDef(
    "q71_score_threshold",
    (spark, dir) => {
      val scored = q65.fn(spark, dir)
        .withColumn("mean_lp_micro",
          floor(col("sum_lp_micro") * 1.0 / col("n_bigrams")).cast(LongType))
      val (ranked, n) = GlobalRank.withRowNumber(scored,
        Seq(col("mean_lp_micro"), col("doc_id")), "rk0")
      // rk stays LongType: GlobalRank is billion-row-ready and an INT
      // rank would silently overflow past ~2.1B docs (the cast was the
      // one non-scalable step left in this pipeline)
      ranked
        .select(col("doc_id"), col("mean_lp_micro"),
          col("rk0").as("rk"),
          (col("rk0") * 5 > lit(n)).as("kept"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bi AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)
      WHERE len(ts) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT tk) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents)),
    lp AS (
      SELECT bi.doc_id,
        CAST(ROUND(ln((c12.c12 + 1.0) / (c1.c1 + v.v)) * 1000000) AS BIGINT) AS lp_micro
      FROM bi
      JOIN c12 ON bi.w1 = c12.w1 AND bi.w2 = c12.w2
      JOIN c1 ON bi.w1 = c1.w1
      CROSS JOIN v),
    per AS (
      SELECT doc_id, COUNT(*) AS n_bigrams,
        CAST(SUM(lp_micro) AS BIGINT) AS sum_lp
      FROM lp GROUP BY doc_id),
    m AS (
      SELECT doc_id,
        CAST(FLOOR(sum_lp * 1.0 / n_bigrams) AS BIGINT) AS mean_lp_micro
      FROM per),
    r AS (
      SELECT doc_id, mean_lp_micro,
        CAST(row_number() OVER (ORDER BY mean_lp_micro, doc_id) AS BIGINT) AS rk,
        COUNT(*) OVER () AS n
      FROM m)
    SELECT doc_id, mean_lp_micro, rk, rk * 5 > n AS kept
    FROM r
    ORDER BY doc_id"""))

  // --------------------------------------------------------------- q224
  /** Gate-vs-score operating characteristic — the threshold-SWEEP table
    * read before committing to q71's one fixed rank cut: for every
    * observed LM-score bin edge b, "keep docs scoring ≥ b" evaluated
    * against the stateless curation gates (q61 quality ∧ q67 repetition,
    * the SHARED verdict expressions via [[Curation.gateVerdicts]], so the
    * sweep can never drift from what the gates mean by keep):
    * precision (gate-keepers among the retained), recall (retained among
    * all gate-keepers) and F1, each in exact integer ppm — the
    * PR-vs-threshold curve that turns "where should the score cut sit"
    * from a guess into a table. Complements q220 (agreement BETWEEN two
    * gates) with agreement between a continuous score and the gate
    * composite.
    *
    * Determinism: bins are value-based (a twentieth of an ln unit:
    * floor(mean_lp/50000) — FLOOR, not integer div: mean scores are
    * negative; the lp range is corpus-statistics-bounded, so the bin
    * frame stays ≤ a few hundred rows at any corpus size), counts exact,
    * every ratio a DECIMAL-routed integral ppm with zero-denominator
    * guards (rule 10). Scale: per-doc scores from q65's sharded LM
    * pipeline, verdicts map-only native expressions; the sweep itself is
    * two cumulative windows over the bounded bin frame — a
    * dimension-frame global window (PlanSpec-whitelisted like q78/q138),
    * never row data. */
  val q224 = QueryDef(
    "q224_gate_pr_sweep",
    (spark, dir) => {
      val scored = q65.fn(spark, dir)
        .withColumn("mean_lp_micro",
          floor(col("sum_lp_micro") * 1.0 / col("n_bigrams")).cast(LongType))
        .select(col("doc_id"), col("mean_lp_micro"))
      val verdicts = Curation.gateVerdicts(Tables(spark, dir).documents)
        .select(col("doc_id"), (col("q_keep") && col("rep_keep")).as("keep"))
      val bins = scored.join(verdicts, "doc_id")
        .select(floor(col("mean_lp_micro") * 1.0 / 50000).cast(LongType)
          .as("bin"), col("keep"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_b"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("pos_b"))
      val desc = Window.orderBy(col("bin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      bins
        .withColumn("n_ge", sum(col("n_b")).over(desc))
        .withColumn("tp", sum(col("pos_b")).over(desc))
        .withColumn("n_pos", sum(col("pos_b")).over(all))
        .select(
          (col("bin") * 50000).as("threshold_micro"),
          col("n_ge"), col("tp"), col("n_pos"),
          expr("""CAST(CAST(tp AS DECIMAL(38,0)) * 1000000
            div n_ge AS BIGINT)""").as("precision_ppm"),
          expr("""CASE WHEN n_pos = 0 THEN NULL ELSE
            CAST(CAST(tp AS DECIMAL(38,0)) * 1000000 div n_pos AS BIGINT)
            END""").as("recall_ppm"),
          expr("""CAST(CAST(tp AS DECIMAL(38,0)) * 2000000
            div (n_ge + n_pos) AS BIGINT)""").as("f1_ppm"))
        .orderBy(col("threshold_micro").desc_nulls_last)
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    bi AS (
      SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)
      WHERE len(ts) >= 2),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY w1),
    v AS (SELECT COUNT(DISTINCT tk) AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS tk FROM documents)),
    lp AS (
      SELECT bi.doc_id,
        CAST(ROUND(ln((c12.c12 + 1.0) / (c1.c1 + v.v)) * 1000000) AS BIGINT) AS lp_micro
      FROM bi
      JOIN c12 ON bi.w1 = c12.w1 AND bi.w2 = c12.w2
      JOIN c1 ON bi.w1 = c1.w1
      CROSS JOIN v),
    per AS (
      SELECT doc_id,
        CAST(FLOOR(SUM(lp_micro) * 1.0 / COUNT(*)) AS BIGINT) AS mean_lp_micro
      FROM lp GROUP BY doc_id),
    x AS (
      SELECT doc_id,
        len(ts) AS n,
        len(list_distinct(ts)) * 1.0 / len(ts) AS ttr,
        len(list_filter(ts, t -> t IN ('the','a','of','and','to')))
          * 1.0 / len(ts) AS sr
      FROM tok),
    grp AS (
      SELECT doc_id, ts[i] || ' ' || ts[i+1] AS b, COUNT(*) AS c
      FROM tok, UNNEST(range(1, len(ts))) AS t(i)
      GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
        ((SUM(c) - COUNT(*)) * 5 <= SUM(c) AND MAX(c) * 10 <= SUM(c))
          AS rep_keep
      FROM grp GROUP BY doc_id),
    keepers AS (
      SELECT p.doc_id, p.mean_lp_micro,
        ((x.n >= 20 AND x.ttr >= 0.35 AND x.sr >= 0.02)
          AND COALESCE(r.rep_keep, TRUE)) AS keep
      FROM per p JOIN x USING (doc_id) LEFT JOIN rep r USING (doc_id)),
    bins AS (
      SELECT CAST(FLOOR(mean_lp_micro * 1.0 / 50000) AS BIGINT) AS bin,
        COUNT(*) AS n_b,
        SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS pos_b
      FROM keepers GROUP BY 1),
    sweep AS (
      SELECT bin,
        CAST(SUM(n_b) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_ge,
        CAST(SUM(pos_b) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
        CAST(SUM(pos_b) OVER () AS BIGINT) AS n_pos
      FROM bins)
    SELECT bin * 50000 AS threshold_micro, n_ge, tp, n_pos,
      CAST(CAST(tp AS HUGEINT) * 1000000 // n_ge AS BIGINT) AS precision_ppm,
      CASE WHEN n_pos = 0 THEN NULL ELSE
        CAST(CAST(tp AS HUGEINT) * 1000000 // n_pos AS BIGINT) END AS recall_ppm,
      CAST(CAST(tp AS HUGEINT) * 2000000 // (n_ge + n_pos) AS BIGINT) AS f1_ppm
    FROM sweep
    ORDER BY threshold_micro DESC NULLS LAST"""))

  // ---------------------------------------------------------------- q76
  /** The PII regexes and the redaction Column — shared by q76, its spec,
    * and any write path that must scrub before persisting. Patterns are
    * deliberately written in the common subset of Java regex (Spark) and
    * RE2 (DuckDB oracle): character classes, bounded repetition,
    * non-capturing groups, `\b` — no lookaround, no backreferences. */
  private[graft] val emailPat = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private[graft] val phonePat = """\b555-[0-9]{4}\b"""
  private[graft] val ipPat = """\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"""

  /** The q77 canonicalization chain over any string Column: NFC compose
    * (native [[graft.functions.expressions.NfcNormalize]]), collapse
    * space/tab runs, trim, lowercase. Shared by q77 and the streaming
    * scrub-gate ([[graft.streaming.StreamOps.scrubGate]]) so the two can
    * never drift. */
  private[graft] def canonicalText(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lower(trim(regexp_replace(call_function("graft_nfc", c), "[\\t ]+", " ")))

  /** Redact emails, then IPs, then phones — fixed order, so the output is
    * deterministic even where patterns could overlap. */
  private[graft] def redactPii(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, emailPat, "<EMAIL>"),
        ipPat, "<IP>"),
      phonePat, "<PHONE>")

  /** PII redaction — the scrubbing pass a corpus runs before anything is
    * retained for training: emails / phone numbers / IPv4 addresses
    * replaced by typed placeholder tokens, with per-doc match counts and
    * a verified `clean` verdict (no pattern matches the redacted text).
    *
    * The fixture text is synthetic word soup with no natural PII, so the
    * query first builds a deterministic "dirty" twin of each document —
    * arithmetic on `doc_id` injects an email every 5th doc, a phone every
    * 7th, an IP every 11th — IDENTICALLY in Spark and the DuckDB oracle,
    * making the oracle check real redaction behavior rather than a
    * no-op pass-through. (Injection is plan-side construction, not input
    * synthesis: both engines read only the fixture table.)
    *
    * Scale: map-only — three regex passes per row, no shuffle but the
    * output sort. Regex cost is linear in text bytes; at 100 TB this is
    * the classic scan-shaped pass that parallelizes per-split. */
  val q76 = QueryDef(
    "q76_pii_redaction",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val dirty = concat(
        col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") * 37 % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 10."), (col("doc_id") % 256).cast("string"),
            lit("."), (col("doc_id") * 7 % 256).cast("string"),
            lit("."), (col("doc_id") * 13 % 256).cast("string")))
          .otherwise(lit("")))
      d.select(col("doc_id"), dirty.as("dirty"))
        .select(
          col("doc_id"),
          regexp_count(col("dirty"), lit(emailPat)).as("n_emails"),
          regexp_count(col("dirty"), lit(phonePat)).as("n_phones"),
          regexp_count(col("dirty"), lit(ipPat)).as("n_ips"),
          redactPii(col("dirty")).as("redacted"))
        .withColumn("clean",
          !(regexp_like(col("redacted"), lit(emailPat)) ||
            regexp_like(col("redacted"), lit(phonePat)) ||
            regexp_like(col("redacted"), lit(ipPat))))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH dirty AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 5 = 0
             THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com'
             ELSE '' END
        || CASE WHEN doc_id % 7 = 0
             THEN ' call 555-' || lpad(CAST(doc_id * 37 % 10000 AS VARCHAR), 4, '0')
             ELSE '' END
        || CASE WHEN doc_id % 11 = 0
             THEN ' host 10.' || CAST(doc_id % 256 AS VARCHAR)
               || '.' || CAST(doc_id * 7 % 256 AS VARCHAR)
               || '.' || CAST(doc_id * 13 % 256 AS VARCHAR)
             ELSE '' END AS dirty
      FROM documents),
    red AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(dirty, '$emailPat', 0)) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(dirty, '$phonePat', 0)) AS INT) AS n_phones,
        CAST(len(regexp_extract_all(dirty, '$ipPat', 0)) AS INT) AS n_ips,
        regexp_replace(regexp_replace(regexp_replace(dirty,
          '$emailPat', '<EMAIL>', 'g'),
          '$ipPat', '<IP>', 'g'),
          '$phonePat', '<PHONE>', 'g') AS redacted
      FROM dirty)
    SELECT doc_id, n_emails, n_phones, n_ips,
      NOT (regexp_matches(redacted, '$emailPat')
        OR regexp_matches(redacted, '$phonePat')
        OR regexp_matches(redacted, '$ipPat')) AS clean,
      redacted
    FROM red
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q77
  /** Unicode/whitespace canonicalization — the normalization pass that
    * runs before any text-keyed operation (exact dedup, shingling,
    * fingerprinting), so visually identical strings with different
    * codepoint sequences collapse: NFC composition (combining accents →
    * precomposed, compatibility singletons like KELVIN SIGN / OHM SIGN →
    * their canonical letters) via the native
    * [[graft.functions.expressions.NfcNormalize]] expression (Spark has
    * no built-in), then whitespace collapse, trim, lowercase.
    *
    * The fixture text is pure ASCII (NFC-invariant), so — like q76 — the
    * query builds a deterministic non-NFC "dirty" twin in BOTH engines
    * (combining acute, KELVIN, OHM, tab runs injected by `doc_id`
    * arithmetic) so the oracle exercises real normalization: DuckDB's
    * `nfc_normalize` must agree byte-for-byte with the JDK normalizer.
    *
    * Scale: map-only scan; `NfcNormalize` short-circuits on
    * already-normalized text (the overwhelming majority — ASCII is NFC by
    * construction), so the pass costs one verification scan per string
    * plus regex time. */
  val q77 = QueryDef(
    "q77_normalize",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val dirty = concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          // "cafe"+combining-acute, KELVIN SIGN, OHM SIGN - all non-NFC;
          // NFC composes/maps them to cafe-acute, K, GREEK OMEGA
          lit(" cafe\u0301 \u212AELVIN \u2126hm")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("\t tabbed\t\tend ")).otherwise(lit("")))
      val norm = canonicalText(dirty)
      d.select(col("doc_id"),
          length(dirty).as("n_raw"),
          norm.as("norm"))
        .withColumn("n_norm", length(col("norm")))
        .orderBy(col("doc_id"))
    },
    Some("""WITH dirty AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 3 = 0
             THEN ' cafe' || chr(769) || ' ' || chr(8490) || 'ELVIN ' || chr(8486) || 'hm'
             ELSE '' END
        || CASE WHEN doc_id % 4 = 0
             THEN chr(9) || ' tabbed' || chr(9) || chr(9) || 'end '
             ELSE '' END AS dirty
      FROM documents),
    n AS (
      SELECT doc_id, dirty,
        lower(trim(regexp_replace(nfc_normalize(dirty), '[\t ]+', ' ', 'g'))) AS norm
      FROM dirty)
    SELECT doc_id,
      CAST(length(dirty) AS INT) AS n_raw,
      norm,
      CAST(length(norm) AS INT) AS n_norm
    FROM n
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q86
  /** MG summary width. Any token with true frequency > n/64 of the corpus
    * is guaranteed in the candidate set (see [[graft.functions.FrequentItems]]);
    * the exact recount then makes the output the TRUE heavy-hitter set. */
  private[graft] val HeavyHitterCapacity = 64

  /** The q86 pipeline over an arbitrary `(text)` frame — the spec drives
    * it with skewed synthetic corpora that force real MG evictions.
    *
    * The frame is scanned TWICE (candidate sketch, then exact recount)
    * with no materialization between — the exactness guarantee therefore
    * requires a DETERMINISTIC input: a file-backed scan (q86's case) or a
    * [[graft.Materialize.cut]] result. A non-deterministic derived frame
    * (sampling, rand(), a changing view) could show the two passes
    * different data; callers with such inputs must `.cut()` first. */
  private[graft] def heavyHittersOn(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val mg = udaf(new graft.functions.FrequentItems(HeavyHitterCapacity),
      ExpressionEncoder[Seq[String]]())
    // pass 1 — ONE corpus scan producing both the candidate sketch and
    // the exact token total: the shuffle carries #partitions × capacity
    // summary entries plus one long, never the token stream
    val head = docs.select(split(col("text"), " ").as("ts"))
      .agg(mg(col("ts")).as("cands"),
        coalesce(sum(size(col("ts")).cast("long")), lit(0L)).as("n"))
      .head()
    val cands = head.getSeq[String](0)
    val n = head.getLong(1)
    // pass 2 — exact recount of the ≤ capacity candidates: the isin
    // literal filter kills every other token map-side, so this shuffle
    // is capacity-bounded too; the threshold predicate is exact integer
    // arithmetic on the TRUE counts (determinism rule 8), which also
    // erases the sketch's merge-order dependence from the output
    docs.select(explode(split(col("text"), " ")).as("token"))
      .filter(if (cands.isEmpty) lit(false) else col("token").isin(cands: _*))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * HeavyHitterCapacity > lit(n))
      .orderBy(col("cnt").desc_nulls_last, col("token").asc_nulls_first)
  }

  /** Corpus heavy hitters — the tokens above a 1/64 frequency share
    * (vocabulary skew / boilerplate-token detection; also the candidate
    * step of one BPE-merge round). Sketch-plus-verify shape: a mergeable
    * Misra–Gries `Aggregator` ([[graft.functions.FrequentItems]], the
    * same typed-UDAF slot as q59) nominates a guaranteed-superset
    * candidate set in one pass, and an exact recount of just those
    * candidates yields true counts — so unlike a pure sketch the output
    * is exact and fully oracle-checked. The naive single-query form
    * (`groupBy(token) HAVING`) shuffles the ENTIRE corpus vocabulary;
    * this one shuffles two capacity-bounded aggregates. */
  val q86 = QueryDef(
    "q86_heavy_hitters",
    (spark, dir) => heavyHittersOn(Tables(spark, dir).documents),
    Some("""WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT token, COUNT(*) AS cnt
    FROM tok GROUP BY token
    HAVING COUNT(*) * 64 > (SELECT n FROM tot)
    ORDER BY cnt DESC NULLS LAST, token ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q104
  /** BM25 relevance scoring (Robertson/Spärck Jones; k1=1.2, b=0.75) of
    * every document against a fixed query term set — the retrieval
    * primitive a training-data pipeline uses for quality-targeted
    * selection and decontamination triage, one step past q39's TF-IDF.
    *
    * Scale shape: corpus-sized work is one tokenize+filter map pass and
    * one (doc_id, tok) partial-agg shuffle; everything term-global is
    * tiny and broadcast — `df` is |terms| rows, the corpus stats frame is
    * ONE row (the cross join is a 1-row broadcast, whitelisted in the
    * PlanSpec cross-product guard next to q39's scalar subquery). Top-20
    * is TakeOrderedAndProject (per-partition heads + driver merge), not a
    * global sort.
    *
    * Determinism: per-doc score sums its ≤3 term contributions in FIXED
    * pivot order (hash, join, scan) — never SUM over an unordered term
    * group, whose float fold order differs between engines. `avgdl` is
    * exact-integer SUM / COUNT (never engine-native AVG, whose
    * accumulation order is unspecified), and both engines evaluate the
    * identical double expression tree, so `round(.., 6)` agrees
    * bit-for-bit. Ties at the top-20 boundary break by doc_id. */
  /** BM25 top-20 for the fixed (hash, join, scan) query — see q104
    * scaladoc for the shape and determinism rules. */
  private[graft] def bm25Top20(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val lens = d.select(col("doc_id"), size(split(col("text"), " ")).as("dl"))
      val stats = lens.agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val tf = d.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok").isin("hash", "join", "scan"))
        .groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val parts = tf
        .join(broadcast(df), "tok")
        .join(lens, "doc_id")
        .crossJoin(broadcast(stats))
        .select(col("doc_id"), col("tok"),
          (log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
            * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
            .as("wt"))
      parts.groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_terms"),
          round(
            coalesce(max(when(col("tok") === "hash", col("wt"))), lit(0.0)) +
            coalesce(max(when(col("tok") === "join", col("wt"))), lit(0.0)) +
            coalesce(max(when(col("tok") === "scan", col("wt"))), lit(0.0)), 6)
            .as("score_r"))
        .orderBy(col("score_r").desc_nulls_last, col("doc_id").asc_nulls_first)
        .limit(20)
  }

  val q104 = QueryDef(
    "q104_bm25",
    (spark, dir) => bm25Top20(Tables(spark, dir).documents),
    Some("""WITH lens AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM lens),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM (
        SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok IN ('hash', 'join', 'scan')
      GROUP BY doc_id, tok),
    df AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok),
    parts AS (
      SELECT t.doc_id, t.tok,
        ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
          * (t.tf * 2.2)
          / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS wt
      FROM tf t JOIN df d USING (tok) JOIN lens l USING (doc_id)
      CROSS JOIN stats s)
    SELECT doc_id, COUNT(*) AS n_terms,
      round(COALESCE(MAX(CASE WHEN tok = 'hash' THEN wt END), 0) +
            COALESCE(MAX(CASE WHEN tok = 'join' THEN wt END), 0) +
            COALESCE(MAX(CASE WHEN tok = 'scan' THEN wt END), 0), 6) AS score_r
    FROM parts
    GROUP BY doc_id
    ORDER BY score_r DESC NULLS LAST, doc_id ASC NULLS FIRST
    LIMIT 20"""))

  // --------------------------------------------------------------- q118
  /** Blocked fuzzy dictionary resolution (entity resolution): map each
    * DIRTY name variant back to its canonical dictionary entry by
    * blocking + bounded edit distance — the join a pipeline runs when a
    * feed arrives with typo'd categorical values.
    *
    * The dirty side is a deterministic twin of the distinct part-name
    * dictionary (q76's dirty-twin idiom: the corruption is a pure
    * md5-bucket function of the name, so the DuckDB oracle rebuilds the
    * identical corruption): names in even md5 buckets lose the character
    * at position `3 + bucket mod (len−3)` — past the first two chars, so
    * the 2-char blocking prefix survives; odd buckets pass through
    * clean (exact matches must resolve too).
    *
    * Scale shape, stated honestly: candidate pairs are quadratic WITHIN
    * a block, so blocking quality is the whole game — here the
    * dictionary (64 distinct names) resolves against itself per 2-char
    * prefix block, then corpus rows would broadcast-join the resolved
    * dictionary (dictionary-sized work, never corpus-sized — the same
    * dictionary-vs-corpus split as q86's candidate recount). Levenshtein
    * is evaluated only inside blocks, and the winner per dirty name is
    * the (distance, name)-lexicographic minimum via a window PARTITIONED
    * by dirty name. */
  val q118 = QueryDef(
    "q118_fuzzy_resolve",
    (spark, dir) => {
      val names = Tables(spark, dir).part.select(col("p_name")).distinct()
      val p = col("p_name")
      val bkt = Det.md5Bucket(p)
      // delete position ≥ 3 so the 2-char blocking prefix survives the
      // corruption (a deletion at position 2 would change the block key
      // and the blocked join would legitimately miss it)
      val pos = lit(3) + pmod(bkt, length(p) - 3)
      val corrupted = concat(p.substr(lit(1), pos - 1), p.substr(pos + 1, length(p)))
      val dirtyNames = names.select(
          when(pmod(bkt, lit(2)) === 0, corrupted).otherwise(p).as("dirty"))
        .distinct()
      val blockedDirty = dirtyNames
        .withColumn("blk", substring(col("dirty"), 1, 2))
      val blockedClean = names
        .withColumn("blk", substring(col("p_name"), 1, 2))
      val cands = blockedDirty.join(blockedClean, "blk")
        .withColumn("dist", levenshtein(col("dirty"), col("p_name")))
        .filter(col("dist") <= 2)
      val w = Window.partitionBy(col("dirty"))
        .orderBy(col("dist"), col("p_name"))
      cands.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("dirty"), col("p_name").as("resolved"), col("dist"))
        .orderBy(col("dirty").asc_nulls_first)
    },
    Some("""WITH names AS (SELECT DISTINCT p_name FROM part),
    keyed AS (
      SELECT p_name,
        CAST('0x' || substr(md5(CAST(p_name AS VARCHAR)), 1, 4) AS INTEGER) AS bkt
      FROM names),
    dirty AS (
      SELECT DISTINCT
        CASE WHEN bkt % 2 = 0 THEN
          substring(p_name, 1, 3 + (bkt % (length(p_name) - 3)) - 1) ||
          substring(p_name, 3 + (bkt % (length(p_name) - 3)) + 1)
        ELSE p_name END AS dirty
      FROM keyed),
    cands AS (
      SELECT d.dirty, n.p_name, levenshtein(d.dirty, n.p_name) AS dist
      FROM dirty d JOIN names n
        ON substring(d.dirty, 1, 2) = substring(n.p_name, 1, 2)
      WHERE levenshtein(d.dirty, n.p_name) <= 2),
    best AS (
      SELECT dirty, p_name AS resolved, dist,
        row_number() OVER (PARTITION BY dirty ORDER BY dist, p_name) AS rn
      FROM cands)
    SELECT dirty, resolved, CAST(dist AS INTEGER) AS dist
    FROM best WHERE rn = 1
    ORDER BY dirty ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q161
  /** Inverted-index construction — the retrieval ARTIFACT that q104's
    * BM25 scoring presupposes: one row per searchable term carrying its
    * document frequency, collection frequency and the full posting list
    * (doc ids ascending, with per-doc term frequencies in lockstep).
    * Postings ship as two comma-joined STRING columns per the q35
    * scalar-output protocol (ARCHITECTURE.md "scalar outputs only"):
    * the driver's compare sorts rows and hashes cell values, so array
    * cells are unhashable — the lockstep order is still fully
    * deterministic because both strings are rendered from the same
    * doc_id-sorted struct list.
    *
    * Shape: ONE explode feeding two map-side-combinable hash aggregates
    * — per-(term, doc) tf first (bounding the second shuffle to df
    * entries per term, not cf), then per-term assembly where
    * `array_sort(collect_list(struct(doc_id, tf)))` fixes the posting
    * order by leading field regardless of aggregation order. The
    * per-term groupBy IS the index shard: at 100 TB each term's
    * postings build on one reducer exactly as a term-sharded indexer
    * would lay them out.
    *
    * The df band keeps rows bounded: terms in fewer than 5 docs are
    * below the retrieval floor (typo-grade), terms in more than 80% of
    * docs are stopword-grade — both integer predicates (`df*5 ≤
    * n_docs*4`, never a float ratio), with the corpus size a 1-row
    * broadcast (q39's scalar-subquery pattern). A stopword-grade term's
    * postings would otherwise grow Θ(corpus) — the band is what makes
    * every emitted array df-bounded. */
  val q161 = QueryDef(
    "q161_inverted_index",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val td = d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      td.groupBy(col("term"))
        .agg(
          count(lit(1)).as("df"),
          sum(col("tf")).as("cf"),
          array_sort(collect_list(struct(col("doc_id"), col("tf")))).as("post"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") >= 5 && col("df") * lit(5L) <= col("n_docs") * lit(4L))
        .select(col("term"), col("df"), col("cf"),
          array_join(transform(col("post"),
            s => s.getField("doc_id").cast("string")), ",").as("postings_docs"),
          array_join(transform(col("post"),
            s => s.getField("tf").cast("string")), ",").as("postings_tfs"))
        .orderBy(col("term").asc_nulls_first)
    },
    Some("""WITH td AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term, doc_id),
    idx AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df, CAST(SUM(tf) AS BIGINT) AS cf,
        string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id ASC) AS postings_docs,
        string_agg(CAST(tf AS VARCHAR), ',' ORDER BY doc_id ASC) AS postings_tfs
      FROM td GROUP BY term)
    SELECT term, df, cf, postings_docs, postings_tfs
    FROM idx
    WHERE df >= 5 AND df * 5 <= (SELECT COUNT(*) FROM documents) * 4
    ORDER BY term ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q165
  /** Vocabulary size for the q165 coverage report: the corpus has ~900
    * distinct bigrams at every shipped SF, so 512 leaves a real OOV
    * tail (~35%) — the report discriminates instead of saturating. */
  private[graft] val OovVocabSize = 512

  /** Vocabulary-coverage / OOV report — the tokenizer-planning table: a
    * candidate vocabulary is the top-V corpus units by collection
    * frequency (here BIGRAMS — the unit of BPE's first merge round;
    * the corpus' word unigrams number only 31, so bigrams are where
    * coverage becomes a real decision), and each source is scored by
    * how much of its token mass that vocabulary covers. High per-source
    * OOV ppm = the source's phrasing is unlike the corpus mainstream —
    * exactly the signal used to re-balance a tokenizer's training mix
    * or flag a source for vocab extension.
    *
    * Shape: bigram explode is map-only (array HOF over the ~50-token
    * split, the q36 class); ONE (source, term) hash aggregate bounds
    * everything after it to |sources| × |bigram universe| rows — at
    * 100 TB the only corpus-sized pass is that first map+combine. The
    * vocabulary is a TakeOrderedAndProject (never a full sort) with the
    * total (cf DESC, term ASC) tie order, broadcast back as a V-row
    * dimension; the per-source rollup re-aggregates the cut term frame
    * (cut-per-consumer: st feeds both the vocab top-V and the
    * coverage join). OOV ppm is an exact integral divide (q154's
    * DECIMAL-routed `div`). */
  private[graft] def oovReport(d: org.apache.spark.sql.DataFrame,
      vocabSize: Int): org.apache.spark.sql.DataFrame = {
    val bi = d.select(col("source"), split(col("text"), " ").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("source"),
        explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => concat_ws(" ", element_at(col("ts"), i),
            element_at(col("ts"), i + 1)))).as("term"))
    val st = graft.Materialize.cut(
      bi.groupBy(col("source"), col("term")).agg(count(lit(1)).as("n")))
    val vocab = st.groupBy(col("term")).agg(sum(col("n")).as("cf"))
      .orderBy(col("cf").desc, col("term").asc_nulls_first)
      .limit(vocabSize)
      .select(col("term"), lit(1).as("in_vocab"))
    st.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("source"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(lit(0L)))
          .as("oov_bigrams"),
        count(lit(1)).as("n_terms"),
        sum(when(col("in_vocab").isNull, lit(1L)).otherwise(lit(0L)))
          .as("oov_terms"))
      .withColumn("oov_ppm",
        expr("CAST(oov_bigrams AS DECIMAL(28,0)) * 1000000 div n_bigrams"))
      .orderBy(col("source").asc_nulls_first)
  }

  val q165 = QueryDef(
    "q165_oov_rate",
    (spark, dir) => oovReport(Tables(spark, dir).documents, OovVocabSize),
    Some(s"""WITH toks AS (
      SELECT source, string_split(text, ' ') AS ts FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bi AS (
      SELECT source, ts[u.i] || ' ' || ts[u.i + 1] AS term
      FROM toks, UNNEST(generate_series(1, len(ts) - 1)) u(i)),
    st AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS n
      FROM bi GROUP BY source, term),
    vocab AS (
      SELECT term FROM (SELECT term, SUM(n) AS cf FROM st GROUP BY term)
      ORDER BY cf DESC, term ASC LIMIT $OovVocabSize)
    SELECT source,
      CAST(SUM(n) AS BIGINT) AS n_bigrams,
      CAST(SUM(CASE WHEN v.term IS NULL THEN n ELSE 0 END) AS BIGINT) AS oov_bigrams,
      CAST(COUNT(*) AS BIGINT) AS n_terms,
      CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_terms,
      CAST(SUM(CASE WHEN v.term IS NULL THEN n ELSE 0 END) * 1000000 // SUM(n) AS BIGINT) AS oov_ppm
    FROM st LEFT JOIN vocab v USING (term)
    GROUP BY source
    ORDER BY source ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q186
  /** Per-document n-gram NOVELTY — the inverse of q66's contamination
    * lens: what fraction of a document's distinct word-3-grams appears
    * in NO other document (corpus df = 1)? High-novelty docs carry
    * information the rest of the corpus lacks (keep/upsample
    * candidates); near-zero novelty marks boilerplate and template
    * families that survive exact dedup but add nothing — the per-doc
    * selection signal between q67's WITHIN-doc repetition gate and the
    * pair-building near-dup pipelines (this needs no pairs at all).
    *
    * Shape: one explode to (doc, shingle-hash), one map-side-combinable
    * df aggregate, one equi-join back, one per-doc aggregate — exact
    * integer ppm output. Shingles ride [[Dedup.hashedShingleArray]]'s
    * fused native pass, so the join and df keys are fixed-width longs
    * (the q33 precedent: set semantics survive hashing; a 64-bit
    * collision among ~10⁵ corpus shingles is ~1e-9-improbable, and the
    * oracle's string-shingle replay would surface one as a hash
    * mismatch). The shingle frame is cut — df pass and join both
    * consume it.
    *
    * Scale: df-style shuffles on hashed shingles, identical to the
    * dedup pipelines' candidate stages — never a pair product; 100 TB
    * cost is two shuffles of the shingle stream. */
  val q186 = QueryDef(
    "q186_ngram_novelty",
    (spark, dir) => {
      val sh = Dedup.docShingleArrays(spark, dir)
        .select(col("doc_id"), explode(col("shs")).as("h")).cut()
      val dfc = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
      sh.join(dfc, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("df") === 1, 1L).otherwise(0L)).as("novel_shingles"))
        .withColumn("novel_ppm",
          expr("CAST((novel_shingles * 1000000) DIV n_shingles AS BIGINT)"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
             ELSE ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS s
      FROM tok, UNNEST(CASE WHEN len(ts) < 3 THEN [1]
                            ELSE range(1, len(ts) - 1) END) AS t(i)),
    dfc AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s)
    SELECT sh.doc_id,
      COUNT(*) AS n_shingles,
      CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_shingles,
      CAST((SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000) // COUNT(*) AS BIGINT)
        AS novel_ppm
    FROM sh JOIN dfc USING (s)
    GROUP BY sh.doc_id
    ORDER BY doc_id"""))

  // --------------------------------------------------------------- q211
  /** Feature hashing (the "hashing trick", Weinberger et al. ICML '09) —
    * the fixed-dimension featurization a linear probe/classifier runs on
    * text without a vocabulary pass: every token maps to one of K = 256
    * buckets by a hash, and a document/source becomes the K-dim count
    * vector of its buckets. No dictionary to build, ship or version —
    * the property that makes it the standard first featurizer at corpus
    * scale. Output: per (source, bucket) token mass + distinct-term
    * count (the collision-rate column a deployment monitors — hashing
    * trades dictionary state for visible collisions).
    *
    * Determinism: the bucket is the md5-prefix hash mod K (contract
    * rule 9 — never xxhash64 in cross-engine output), counts are exact
    * integers.
    *
    * Shape: one map-only tokenize+explode into ONE (source, bucket)
    * aggregate carrying count + distinct-term count — at 100 TB a pure
    * scan-aggregate (the q36 class); the output frame is
    * |sources| × K rows no matter the corpus. */
  private[graft] val HashDim = 256

  val q211 = QueryDef(
    "q211_feature_hashing",
    (spark, dir) => {
      val tok = Tables(spark, dir).documents
        .select(col("source"), explode(split(col("text"), " ")).as("t"))
        .withColumn("bucket", pmod(Det.md5Bucket(col("t")), lit(HashDim)))
      tok.groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_tokens"),
          countDistinct(col("t")).as("n_terms"))
        .orderBy(col("source").asc_nulls_first, col("bucket").asc_nulls_first)
    },
    Some(s"""WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
    b AS (
      SELECT source, t,
        CAST(('0x' || substr(md5(t), 1, 4)) AS INTEGER) % $HashDim AS bucket
      FROM tok)
    SELECT source, bucket,
      CAST(COUNT(*) AS BIGINT) AS n_tokens,
      CAST(COUNT(DISTINCT t) AS BIGINT) AS n_terms
    FROM b
    GROUP BY source, bucket
    ORDER BY source ASC NULLS FIRST, bucket ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q212
  /** Per-source bigram total-variation drift — "which source's phrasing
    * diverges from the corpus mainstream", the distribution-distance
    * sibling of q165's coverage ppm and q122's value-PSI, on the
    * LANGUAGE-MODEL unit (bigrams): TVD(source, corpus) =
    * ½ Σ_g |p_s(g) − p(g)| in exact ppm. TVD over KL deliberately —
    * a rational of integer counts needs no ln (q146's Simpson-over-
    * Shannon argument), so the whole table is exact integer arithmetic:
    * per-gram |n_sg·N − n_g·N_s| summed in DECIMAL, ONE integral divide
    * by 2·N_s·N at the end.
    *
    * Shape: the q165 bigram explode (map-only), ONE (source, gram) hash
    * aggregate (cut — feeds the gram margins and the per-source fold),
    * gram totals re-aggregated FROM that frame and equi-joined back on
    * the gram key. The full-universe sum needs NO source × gram grid:
    * grams a source lacks contribute n_g·N_s each, which telescopes to
    * N_s·(N − Σ_covered n_g) — one extra column on the per-source fold.
    * At 100 TB everything after the first aggregate is bounded by the
    * OBSERVED (source, gram) support. */
  val q212 = QueryDef(
    "q212_tvd_drift",
    (spark, dir) => {
      val bi = Tables(spark, dir).documents
        .select(col("source"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("source"),
          explode(transform(sequence(lit(1), size(col("ts")) - 1),
            i => concat(element_at(col("ts"), i), lit(" "),
              element_at(col("ts"), i + 1)))).as("g"))
      val sg = bi.groupBy(col("source"), col("g"))
        .agg(count(lit(1)).as("nsg")).cut()
      val gTot = sg.groupBy(col("g")).agg(sum(col("nsg")).as("ng"))
      val sTot = sg.groupBy(col("source")).agg(sum(col("nsg")).as("ns"))
      val nTot = sg.agg(sum(col("nsg")).as("n"))
      val folded = sg.join(gTot, Seq("g"))
        .join(sTot, Seq("source"))
        .crossJoin(broadcast(nTot))
        .groupBy(col("source"))
        .agg(max(col("ns")).as("n_src"),
          max(col("n")).as("n_corpus"),
          sum(abs(expr("CAST(nsg AS DECIMAL(38,0)) * n - CAST(ng AS DECIMAL(38,0)) * ns")))
            .as("t1"),
          sum(col("ng").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("covered"))
      folded
        .withColumn("num",
          col("t1") + expr("CAST(n_src AS DECIMAL(38,0)) * (n_corpus - covered)"))
        .select(col("source"), col("n_src"), col("n_corpus"),
          expr("""CAST(num * 1000000
            div (CAST(2 AS DECIMAL(38,0)) * n_src * n_corpus) AS BIGINT)""")
            .as("tvd_ppm"))
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""WITH toks AS (
      SELECT source, string_split(text, ' ') AS ts FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bi AS (
      SELECT source, ts[u.i] || ' ' || ts[u.i + 1] AS g
      FROM toks, UNNEST(generate_series(1, len(ts) - 1)) u(i)),
    sg AS (
      SELECT source, g, CAST(COUNT(*) AS BIGINT) AS nsg
      FROM bi GROUP BY source, g),
    gt AS (SELECT g, CAST(SUM(nsg) AS BIGINT) AS ng FROM sg GROUP BY g),
    st AS (SELECT source, CAST(SUM(nsg) AS BIGINT) AS ns FROM sg GROUP BY source),
    nt AS (SELECT CAST(SUM(nsg) AS BIGINT) AS n FROM sg),
    folded AS (
      SELECT sg.source,
        CAST(MAX(st.ns) AS BIGINT) AS n_src,
        CAST(MAX(nt.n) AS BIGINT) AS n_corpus,
        SUM(abs(CAST(sg.nsg AS HUGEINT) * nt.n - CAST(gt.ng AS HUGEINT) * st.ns)) AS t1,
        CAST(SUM(gt.ng) AS HUGEINT) AS covered
      FROM sg
      JOIN gt ON gt.g = sg.g
      JOIN st ON st.source = sg.source
      CROSS JOIN nt
      GROUP BY sg.source)
    SELECT source, n_src, n_corpus,
      CAST((t1 + CAST(n_src AS HUGEINT) * (n_corpus - covered)) * 1000000
        // (CAST(2 AS HUGEINT) * n_src * n_corpus) AS BIGINT) AS tvd_ppm
    FROM folded
    ORDER BY source ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q221
  /** Collocation mining — the phrase-detection primitive (word2vec's
    * phrase pass, tokenizer multi-word-unit selection) beside q165's
    * frequency-ranked vocab: the top adjacent word pairs by PMI LIFT,
    * lift(x,y) = P(xy) / (P(x)·P(y)) = n_xy·T² / (B·n_x·n_y), with a
    * support floor (n_xy ≥ 5) killing the rare-pair noise PMI is
    * notorious for. High lift = the pair co-occurs far beyond chance —
    * a phrase, not two frequent words colliding.
    *
    * Determinism: PMI's log is monotone, so ranking by the RATIO in
    * exact integer ppm (DECIMAL-widened, rule 11) gives the identical
    * order with no transcendental (rule 13); ties break on the pair
    * text. Shape: one unigram aggregate (cut — two margin attaches +
    * the token total read it), one bigram aggregate with the support
    * filter BEFORE the margin joins (q162's discipline), 1-row totals
    * broadcast, top-20 via TakeOrderedAndProject. At 100 TB both
    * aggregates are map-side-combinable and the joins are
    * vocabulary-keyed. */
  val q221 = QueryDef(
    "q221_collocations",
    (spark, dir) => {
      val toks = Tables(spark, dir).documents
        .select(split(col("text"), " ").as("ts"))
      val uni = graft.Materialize.cut(
        toks.select(explode(col("ts")).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("nt")))
      val totals = toks.agg(
        sum(size(col("ts"))).cast(LongType).as("tt"),
        sum(greatest(size(col("ts")) - 1, lit(0))).cast(LongType).as("bb"))
      val bi = toks.filter(size(col("ts")) >= 2)
        .select(explode(transform(sequence(lit(1), size(col("ts")) - 1),
          i => struct(element_at(col("ts"), i).as("ta"),
            element_at(col("ts"), i + 1).as("tb")))).as("p"))
        .select(col("p.ta"), col("p.tb"))
        .groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= 5)
      bi
        .join(uni.select(col("t").as("ta"), col("nt").as("na")), Seq("ta"))
        .join(uni.select(col("t").as("tb"), col("nt").as("nb")), Seq("tb"))
        .crossJoin(broadcast(totals))
        .withColumn("lift_ppm",
          expr("""CAST(n_xy AS DECIMAL(38,0)) * tt * tt * 1000000
            div (CAST(bb AS DECIMAL(38,0)) * na * nb)"""))
        .select(col("ta").as("term_a"), col("tb").as("term_b"),
          col("n_xy"), col("lift_ppm"))
        .orderBy(col("lift_ppm").desc_nulls_last,
          col("term_a").asc_nulls_first, col("term_b").asc_nulls_first)
        .limit(20)
    },
    Some("""WITH toks AS (
      SELECT string_split(text, ' ') AS ts FROM documents),
    uni AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS nt
      FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY t),
    totals AS (
      SELECT CAST(SUM(len(ts)) AS BIGINT) AS tt,
        CAST(SUM(GREATEST(len(ts) - 1, 0)) AS BIGINT) AS bb
      FROM toks),
    bi AS (
      SELECT ts[i] AS ta, ts[i + 1] AS tb
      FROM toks, UNNEST(range(1, len(ts))) AS u(i)
      WHERE len(ts) >= 2),
    bc AS (
      SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n_xy
      FROM bi GROUP BY 1, 2
      HAVING COUNT(*) >= 5)
    SELECT bc.ta AS term_a, bc.tb AS term_b, bc.n_xy,
      CAST(CAST(bc.n_xy AS HUGEINT) * tt * tt * 1000000
        // (CAST(bb AS HUGEINT) * a.nt * b.nt) AS BIGINT) AS lift_ppm
    FROM bc
    JOIN uni a ON a.t = bc.ta
    JOIN uni b ON b.t = bc.tb
    CROSS JOIN totals
    ORDER BY lift_ppm DESC, term_a ASC, term_b ASC
    LIMIT 20"""))

  // ---------------------------------------------------------------- q228
  /** Bigram-vocabulary growth curve (Heaps' law lens): distinct bigrams
    * first seen in each ingest-order decile of the corpus, with the
    * cumulative vocabulary beside the per-decile novelty. The corpus
    * planner's "is more data still adding new language?" readout — a
    * flattening curve says additional ingestion buys repetition, not
    * coverage (the df=1 novelty q186 scores per DOC; this is the
    * corpus-level integral of the same signal). Ingest order is the
    * monotone doc_id the landing pipeline assigns; deciles are exact
    * integer arithmetic `first_doc·10 div (max_id+1)` — no rank pass.
    *
    * Shape: one token-explode into a (bigram → min doc_id) hash
    * aggregate — map-side combinable, state = |bigram vocabulary|, the
    * same bound every bigram operator here carries (q212/q221) — then
    * TWO dimension-sized frames: novelty counts per decile (≤10 rows)
    * left-joined onto doc counts per decile, and one cumsum window over
    * that ≤10-row frame (the q78 dimension-window class, whitelisted).
    * The max-id anchor is a 1-row broadcast (q166's scalar pattern). */
  val q228 = QueryDef(
    "q228_vocab_growth",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val anchor = d.agg((max(col("doc_id")) + 1).as("n"))
      val bigrams = d
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("ts")) - 1),
            i => concat(element_at(col("ts"), i), lit(" "),
              element_at(col("ts"), i + 1)))).as("g"))
      val firstSeen = bigrams.groupBy(col("g"))
        .agg(min(col("doc_id")).as("first_doc"))
      val newTerms = firstSeen.crossJoin(broadcast(anchor))
        .select(expr("CAST(first_doc * 10 DIV n AS BIGINT)").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_grams"))
      val nDocs = d.crossJoin(broadcast(anchor))
        .select(expr("CAST(doc_id * 10 DIV n AS BIGINT)").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      nDocs.join(newTerms, Seq("bucket"), "left")
        .select(col("bucket"), col("n_docs"),
          coalesce(col("new_grams"), lit(0L)).as("new_grams"))
        .withColumn("cum_vocab",
          sum(col("new_grams")).over(Window.orderBy(col("bucket"))))
        .orderBy(col("bucket").asc_nulls_first)
    },
    Some("""WITH mx AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    toks AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
      WHERE len(string_split(text, ' ')) >= 2),
    bi AS (
      SELECT doc_id, ts[u.i] || ' ' || ts[u.i + 1] AS g
      FROM toks, UNNEST(generate_series(1, len(ts) - 1)) u(i)),
    ft AS (SELECT g, MIN(doc_id) AS first_doc FROM bi GROUP BY g),
    nt AS (
      SELECT first_doc * 10 // n AS bucket, CAST(COUNT(*) AS BIGINT) AS new_grams
      FROM ft, mx GROUP BY 1),
    nd AS (
      SELECT doc_id * 10 // n AS bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents, mx GROUP BY 1)
    SELECT nd.bucket, nd.n_docs,
      CAST(COALESCE(nt.new_grams, 0) AS BIGINT) AS new_grams,
      CAST(SUM(COALESCE(nt.new_grams, 0)) OVER (ORDER BY nd.bucket) AS BIGINT)
        AS cum_vocab
    FROM nd LEFT JOIN nt ON nd.bucket = nt.bucket
    ORDER BY nd.bucket ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q229
  /** Exact-term blocklist gate — the curation cell q61 (statistical
    * quality) / q76 (PII regex) / q172 (media policy) don't cover:
    * membership of any token in a maintained banned-term list, the
    * standard first-pass safety/brand filter of a training corpus. Per
    * flagged doc: total hits, distinct blocklisted terms, and the
    * lexicographically-least offending term as the audit sample (an
    * aggregate MIN — deterministic cross-engine, no "first" semantics).
    *
    * Shape: map-only token explode filtered by an `isin` literal set
    * (compiles to a codegen'd membership test — K literals never
    * shuffle; a production list of thousands becomes a broadcast
    * equi-join on the token, same plan class as q63's threshold dim),
    * then ONE per-doc hash aggregate. Docs without hits never leave the
    * filter — output is hit-sized, not corpus-sized. */
  val q229 = QueryDef(
    "q229_blocklist_gate",
    (spark, dir) => {
      val blocklist = Seq("dup", "slow", "legacy")
      val hits = Tables(spark, dir).documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .filter(col("token").isin(blocklist: _*))
      hits.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          countDistinct(col("token")).as("n_terms"),
          min(col("token")).as("sample_term"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some("""WITH hits AS (
      SELECT doc_id, t AS token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE t IN ('dup', 'slow', 'legacy'))
    SELECT doc_id, COUNT(*) AS n_hits,
      CAST(COUNT(DISTINCT token) AS BIGINT) AS n_terms,
      MIN(token) AS sample_term
    FROM hits
    GROUP BY doc_id
    ORDER BY doc_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q235
  /** Boilerplate phrase miner — the AUDIT view feeding every df-capped
    * stage in the dedup matrix (q32/q103/q116 drop fingerprints seen in
    * > 50 docs; q229 gates on a maintained term list): the top-20 word
    * 5-grams by DOCUMENT frequency, with total occurrence counts beside
    * them. The head of this table is what a curation reviewer actually
    * reads to decide what IS boilerplate — navigation chrome, license
    * headers, template sentences — before promoting terms to the
    * blocklist or tightening the df caps.
    *
    * Determinism: gram identity is the gram TEXT (the q148 rule — both
    * engines group identically with no hash in the contract); the
    * top-20 cut is a total order (n_docs DESC, n_occurrences DESC,
    * gram ASC) so ties at the boundary are deterministic.
    *
    * Scale shape: one position-explode map pass (the q148 slice idiom —
    * ordinary codegen'd expressions, no interpreted lambda), a
    * (gram, doc) pre-aggregate that is map-side combinable BEFORE the
    * gram-keyed shuffle (within-doc repeats collapse early — the hot
    * boilerplate gram is exactly the skewed key the pre-aggregate
    * tames), then a gram-keyed fold and a TakeOrderedAndProject top-20
    * (never a global sort of the gram table). At 100 TB the gram frame
    * is corpus-token-sized — the same volume every shingle stage in the
    * engine already moves. */
  val q235 = QueryDef(
    "q235_boilerplate_ngrams",
    (spark, dir) => {
      val g = 5
      val grams = graft.Parallelism.ensure(
          Tables(spark, dir).documents, col("doc_id"))
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .filter(size(col("ts")) >= g)
        .select(col("doc_id"),
          explode(sequence(lit(1), size(col("ts")) - (g - 1))).as("pos"),
          col("ts"))
        .select(col("doc_id"),
          array_join(slice(col("ts"), col("pos"), lit(g)), " ").as("gram"))
      grams.groupBy(col("gram"), col("doc_id"))
        .agg(count(lit(1)).as("occ"))
        .groupBy(col("gram"))
        .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occurrences"))
        .orderBy(col("n_docs").desc_nulls_last,
          col("n_occurrences").desc_nulls_last, col("gram").asc_nulls_first)
        .limit(20)
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    g AS (
      SELECT doc_id, array_to_string(list_slice(ts, i, i + 4), ' ') AS gram
      FROM tok, UNNEST(range(1, len(ts) - 3)) AS u(i)
      WHERE len(ts) >= 5),
    pd AS (SELECT gram, doc_id, COUNT(*) AS occ FROM g GROUP BY 1, 2)
    SELECT gram, COUNT(*) AS n_docs, CAST(SUM(occ) AS BIGINT) AS n_occurrences
    FROM pd GROUP BY gram
    ORDER BY n_docs DESC NULLS LAST, n_occurrences DESC NULLS LAST,
      gram ASC NULLS FIRST
    LIMIT 20"""))

  // --------------------------------------------------------------- q239
  /** Token-surprisal quality histogram — the perplexity-proxy filter of
    * CCNet-style corpus curation (Wenzek et al., LREC 2020: score docs by
    * language-model perplexity, drop the tail), re-expressed in the
    * engine's exact-integer convention so the oracle can check it: each
    * token's surprisal is the floor-log2 bit gap between the corpus token
    * total N and the token's own unigram count n_t —
    * `len(bin(N)) − len(bin(n_t))` = ⌊log2 N⌋ − ⌊log2 n_t⌋, a pure
    * integer both engines compute identically (no ln(), rule 13's
    * argument; the same reason q212 chose TVD over KL). A doc's score is
    * its mean token surprisal in ppm (exact integer division); the
    * output is the per-(source, deci-bit) histogram a curation reviewer
    * reads to place the keep threshold — common-token spam scores low,
    * natural text mid, gibberish/rare-token noise high. Deci-bit
    * buckets (`doc_ppm div 100000`) because tenth-of-a-bit resolution
    * is where a homogeneous corpus still separates (whole-bit buckets
    * collapse the fixture to one row) while the output stays bounded at
    * ~10·bit-width rows per source.
    *
    * The floor-log2 quantization buys an exact invariance: replicating
    * the corpus k-fold (n_t→k·n_t, N→k·N with k a power of two) shifts
    * every bin length equally and leaves every score IDENTICAL —
    * spec-pinned, and the property that makes scores comparable across
    * snapshot sizes.
    *
    * Scale shape: one token explode into the unigram (term → n_t) hash
    * aggregate — map-side combinable, state = |vocabulary| (q212/q221's
    * bound), cut once so the corpus total and the scoring join share it;
    * the 1-row total broadcasts (q166's scalar class); scoring is a
    * second token explode equi-joined to the vocab on the term (vocab
    * outgrows broadcast at 100 TB — a term-keyed shuffle join with AQE,
    * never a cross product), folded per doc then per (source, bits):
    * output is dimension × ~40-bits-sized. Sums route through
    * DECIMAL(38,0) (Det convention) — ~10¹² token-bits at 100 TB sits
    * far below the decimal ceiling but above comfortable int64 margin
    * discipline. */
  /** The unigram index of a corpus: term → n_t. THE stored artifact of
    * the surprisal lens (the incremental and streaming cells read it,
    * never the corpus text). */
  private[graft] def unigramIndex(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n_t"))

  /** Per-token surprisal rows `(source, doc_id, s_bits)` of `docs`
    * scored against a unigram index `uni` and its 1-row total `tot` —
    * the shared scoring kernel of q239/q240 and the streaming gate.
    * LEFT join: a token ABSENT from the index (possible only when the
    * index comes from a different corpus than `docs`, the incremental/
    * streaming cells) takes the OOV cap `len(bin(N))` — one bit above
    * the rarest in-vocabulary token, so unseen-language novelty scores
    * max. Row-local after the term equi-join; stateless on a stream. */
  private[graft] def scoredTokens(docs: org.apache.spark.sql.DataFrame,
      uni: org.apache.spark.sql.DataFrame,
      tot: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("source"), col("doc_id"),
        explode(split(col("text"), " ")).as("term"))
      .join(uni, Seq("term"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("doc_id"),
        when(col("n_t").isNull, length(bin(col("n_corpus"))))
          .otherwise(length(bin(col("n_corpus"))) - length(bin(col("n_t"))))
          .cast(LongType).as("s_bits"))

  /** Fold per-token surprisal rows to the per-(source, deci-bit)
    * histogram: doc mean surprisal in exact ppm, then the bounded
    * bucket table. */
  private[graft] def surprisalFold(
      scored: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    scored
      .groupBy(col("source"), col("doc_id"))
      .agg(
        expr("CAST(sum(CAST(s_bits AS DECIMAL(38,0))) * 1000000 div count(1) AS BIGINT)")
          .as("doc_ppm"),
        count(lit(1)).as("n_toks"))
      .select(col("source"), expr("doc_ppm div 100000").as("decibits"),
        col("n_toks"))
      .groupBy(col("source"), col("decibits"))
      .agg(count(lit(1)).as("n_docs"),
        expr("CAST(sum(CAST(n_toks AS DECIMAL(38,0))) AS BIGINT)").as("n_tokens"))
      .orderBy(col("source").asc_nulls_first, col("decibits").asc_nulls_first)

  private[graft] def surprisalHistogram(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val uni = unigramIndex(docs).cut()
    val tot = uni.agg(sum(col("n_t")).as("n_corpus"))
    surprisalFold(scoredTokens(docs, uni, tot))
  }

  val q239 = QueryDef(
    "q239_surprisal_score",
    (spark, dir) => surprisalHistogram(
      graft.Parallelism.ensure(Tables(spark, dir).documents, col("doc_id"))),
    Some("""WITH toks AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents),
    uni AS (SELECT term, COUNT(*) AS n_t FROM toks GROUP BY term),
    tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_corpus FROM uni),
    doc AS (
      SELECT t.source, t.doc_id,
        CAST(SUM(length(bin(n_corpus)) - length(bin(u.n_t))) * 1000000
          // COUNT(*) AS BIGINT) AS doc_ppm,
        COUNT(*) AS n_toks
      FROM toks t JOIN uni u ON t.term = u.term, tot
      GROUP BY t.source, t.doc_id)
    SELECT source, CAST(doc_ppm // 100000 AS BIGINT) AS decibits,
      COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM doc
    GROUP BY source, decibits
    ORDER BY source ASC NULLS FIRST, decibits ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q240
  /** Incremental token-surprisal scoring — the delta cell of the q239
    * lens, completing its matrix row the way q236 completed winnowing's:
    * today's landing (md5-bucket ≥ [[Dedup.DeltaBucketThreshold]]) is
    * scored against the CORPUS' stored unigram index — the standing
    * artifact [[unigramIndex]] persists nightly — and the corpus text
    * is never re-read (the incremental contract; at 100 TB the index is
    * vocabulary-sized, the delta day-sized, and nothing corpus-sized
    * moves). Tokens the corpus has never seen take the OOV cap
    * `len(bin(N))` — the novelty-sensitive branch self-scoring q239
    * can never exercise, and exactly what makes the incremental cell
    * the right shape for a drift gate: a landing whose histogram mass
    * shifts to the OOV-capped tail is new language, not noise.
    *
    * Scale shape: one delta-token explode, term-keyed LEFT equi-join
    * against the vocab index (q239's argument), 1-row total broadcast,
    * two bounded folds. The index build here derives from the same
    * `documents` table so the oracle can replay it; a deployment reads
    * the persisted index instead (same schema, the q236 pattern). */
  val q240 = QueryDef(
    "q240_incremental_surprisal",
    (spark, dir) => {
      val docs = graft.Parallelism.ensure(
        Tables(spark, dir).documents, col("doc_id"))
      val bucket = Det.md5Bucket(col("doc_id"))
      val corpus = docs.filter(bucket < Dedup.DeltaBucketThreshold)
      val delta = docs.filter(bucket >= Dedup.DeltaBucketThreshold)
      val uni = unigramIndex(corpus).cut()
      val tot = uni.agg(sum(col("n_t")).as("n_corpus"))
      surprisalFold(scoredTokens(delta, uni, tot))
    },
    Some("""WITH split AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) >= 52429 AS is_delta
      FROM documents),
    ctoks AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
      WHERE doc_id IN (SELECT doc_id FROM split WHERE NOT is_delta)),
    uni AS (SELECT term, COUNT(*) AS n_t FROM ctoks GROUP BY term),
    tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n_corpus FROM uni),
    dtoks AS (
      SELECT source, doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
      WHERE doc_id IN (SELECT doc_id FROM split WHERE is_delta)),
    doc AS (
      SELECT d.source, d.doc_id,
        CAST(SUM(CASE WHEN u.n_t IS NULL THEN length(bin(n_corpus))
              ELSE length(bin(n_corpus)) - length(bin(u.n_t)) END) * 1000000
          // COUNT(*) AS BIGINT) AS doc_ppm,
        COUNT(*) AS n_toks
      FROM dtoks d LEFT JOIN uni u ON d.term = u.term, tot
      GROUP BY d.source, d.doc_id)
    SELECT source, CAST(doc_ppm // 100000 AS BIGINT) AS decibits,
      COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
    FROM doc
    GROUP BY source, decibits
    ORDER BY source ASC NULLS FIRST, decibits ASC NULLS FIRST"""))

  override def queries: Seq[QueryDef] =
    Seq(q36, q37, q38, q39, q40, q45, q61, q62, q63, q65, q71, q76, q77, q86,
      q104, q118, q161, q165, q186, q211, q212, q221, q224, q228, q229, q235,
      q239, q240)
}
