package graft.operators

import graft.{Det, QueryDef, QueryPack, Tables}
import graft.Materialize.CutSyntax
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField, StructType}

/** Deduplication pack over `documents`: exact (hash group-by), MinHash+LSH
  * near-dup, exact n-gram Jaccard, and SimHash/hamming near-dup.
  *
  * Scale design: nothing here ever materializes the O(n²) document-pair
  * space. Candidates come from equi-join keys — full-text hash, LSH band
  * hash, simhash chunk — so every self-join is a shuffle on a key with
  * bounded bucket sizes (skew handled by AQE), which is the only shape
  * that survives a 100 TB corpus. Exact Jaccard verification runs only on
  * candidate pairs.
  */
object Dedup extends QueryPack {

  /** Word 3-gram shingle set as one array per document (the input shape
    * for the one-pass native signature expressions). */
  private[graft] def shingleArray(d: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val sh = when(size(toks) < 3, array(col("text")))
      .otherwise(transform(sequence(lit(0), size(toks) - 3),
        i => concat_ws(" ", slice(toks, i + 1, lit(3)))))
    d.select(col("doc_id"), array_distinct(sh).as("shs"))
  }

  /** Word 3-gram shingle set, one row per (doc_id, shingle). */
  private[graft] def shingles(d: DataFrame): DataFrame =
    shingleArray(d).select(col("doc_id"), explode(col("shs")).as("s"))

  /** [[shingleArray]] with every shingle replaced by its xxhash64 — the
    * working representation for the whole pair pipeline. Set semantics
    * are preserved (shingles are distinct per doc; a 64-bit collision
    * among ~10⁵ corpus shingles is ~1e-9-improbable), and every
    * downstream sort, join and intersect runs on fixed-width longs
    * instead of variable-length strings — which is most of the pair
    * pipeline's CPU at any scale. Fused into one native pass per document
    * ([[graft.functions.expressions.HashedShingles]]; parity with the
    * composed transform/array_distinct/xxhash64 form is spec-asserted) —
    * the composed form pays three interpreted lambdas per doc. */
  private[graft] def hashedShingleArray(d: DataFrame): DataFrame =
    // narrow-input guard: shingle hashing is the pair pipelines' biggest
    // un-shuffled map cost, and a fixture-sized (or small-file-ingest)
    // scan plans 1–2 partitions — see graft.Parallelism.ensure. A
    // no-op on wide inputs and on streams (the streaming gate shares
    // this head).
    graft.Parallelism.ensure(d, col("doc_id"))
      .select(col("doc_id"),
        call_function("graft_hashed_shingles",
          split(col("text"), " "), lit(3)).as("shs"))

  /** Prefix-filtered candidate pairs for Jaccard ≥ tau (= tauNum/tauDen) —
    * the scale-safe exact-candidate generator. Shingles get a global total
    * order (ascending document frequency, shingle string as tie-break);
    * each document keeps only its first `|A| − ⌈tau·|A|⌉ + 1` shingles,
    * and candidates are pairs sharing a *prefix* shingle. Provably
    * lossless: J(A,B) ≥ tau ⇒ |A∩B| ≥ ⌈tau·max(|A|,|B|)⌉, and two sets
    * with overlap ≥ α sorted by one total order must collide within their
    * (size − α + 1)-prefixes (Chaudhuri et al., ICDE'06; Bayardo et al.,
    * WWW'07). Rarest-first ordering pushes high-frequency shingles out of
    * prefixes, so the per-shingle join fan-out stays bounded — this is
    * what keeps exact all-pairs Jaccard from going quadratic in corpus
    * size.
    *
    * On top of the prefix collision the join applies PPJoin's positional
    * filter (Xiao et al., WWW'08): a collision at prefix positions
    * (rkA, rkB) can contribute at most `min(szA−rkA, szB−rkB) + 1` to the
    * overlap, which must reach `⌈tau/(1+tau)·(szA+szB)⌉` for J ≥ tau.
    * Evaluated in exact integer arithmetic (tau as a fraction —
    * `(bound)·(den+num) ≥ (szA+szB)·num` — so no float-ceil boundary can
    * over-prune). Lossless because a qualifying pair's FIRST shared
    * shingle in the global order always satisfies the bound. Measured at
    * sf0.1: 1.27 M co-shingle pairs → 409 k prefix candidates → 125 k
    * positional candidates, against 256 true pairs.
    *
    * Takes the hashed per-doc shingle arrays ([[hashedShingleArray]]): the
    * ordering/join keys are longs, and the per-doc set size is free
    * (`size(shs)` — no group-by, no extra join). The hash order is as
    * valid a global total order as any other — the choice does not affect
    * losslessness, only which (equally valid) prefix is kept.
    *
    * This is the shuffled candidate generator of [[exactPairsShuffled]],
    * the path above [[BroadcastShingleMaxDocs]]; below it
    * [[PrefixIndex]] runs the same filters over one broadcast index. */
  private[graft] def prefixCandidates(
      hshArr: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val sh = hshArr.select(col("doc_id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("s"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("dfreq"))
    val ordered = Window.partitionBy(col("doc_id"))
      .orderBy(col("dfreq"), col("s"))
    // Materialized: the prefix table sits on BOTH sides of the self-join
    // below — without a checkpoint Spark recomputes the whole
    // explode → dfreq → window pipeline twice.
    // Prefix keep bound rk <= sz - ceil(sz*tau) + 1, in exact integer
    // arithmetic (ceilDiv(a,b) <= c  ⟺  a <= b*c): double rounding of
    // sz*tau can shrink the prefix by one (e.g. 100*0.1 = 10.0000…02,
    // ceil = 11) and silently break losslessness for non-dyadic taus.
    val prefix = sh.join(dfreq, "s")
      .withColumn("rk", row_number().over(ordered))
      .filter(col("sz") * tauNum <= (col("sz") - col("rk") + 1) * tauDen)
      .select(col("doc_id"), col("s"), col("rk"), col("sz"))
      .cut()
    val maxContrib =
      least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk")) + 1
    prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
        maxContrib * (tauDen + tauNum) >= (col("a.sz") + col("b.sz")) * tauNum)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Exact Jaccard similarity for every doc pair sharing ≥1 shingle.
    * |A∩B| via shingle equi-join, |A|,|B| via per-doc counts.
    * O(Σ_shingle df²) — quadratic in corpus growth, so this is the
    * spec-only ground truth; registered queries go through
    * [[prefixCandidates]] + [[jaccardForCandidates]]. */
  private[graft] def jaccardPairs(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    withJaccard(inter, sizes)
  }

  /** Exact Jaccard for a *pre-selected* candidate pair set only — the
    * scalable verification shape: each candidate pair joins the two
    * per-document shingle ARRAYS (equi-joins on doc id) and |A∩B| is one
    * codegen'd `array_intersect` per pair — never an explode back to
    * (pair × shingle) rows, which multiplies the candidate set by
    * average document size before aggregating it away again.
    *
    * `broadcastArrays` is the same dedup/verify order flip as the
    * embedding side (Similarity.verifyPairs, stage-profiled round 6):
    * when the shingle-array table is known small, both attach joins
    * broadcast it and verification is MAP-ONLY over the candidate
    * stream — so callers pass the RAW (duplicated) candidate stream and
    * dedup after their threshold filter, when only true pairs remain,
    * instead of shuffling every raw candidate through a distinct first.
    * Duplicates verify to identical rows (the jaccard is a pure function
    * of the pair), so the orders are output-equal — DedupSpec pins both
    * against the naive all-pairs form. At 100 TB the array table is not
    * broadcastable: callers dedup first and this joins shuffled. */
  private[graft] def jaccardForCandidates(
      cands: DataFrame /*d1, d2*/, hshArr: DataFrame /*doc_id, shs: array<long>*/,
      broadcastArrays: Boolean = false): DataFrame = {
    def side(df: DataFrame) = if (broadcastArrays) broadcast(df) else df
    val a = side(hshArr.select(col("doc_id").as("d1"), col("shs").as("hs1")))
    val b = side(hshArr.select(col("doc_id").as("d2"), col("shs").as("hs2")))
    cands.join(a, "d1").join(b, "d2")
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("sz1", size(col("hs1")))
      .withColumn("sz2", size(col("hs2")))
      .withColumn("jac", jaccardOfCounts)
      .select(col("d1"), col("d2"), col("jac"),
        col("inter"), col("sz1"), col("sz2"))
  }

  /** `round(inter / (sz1 + sz2 − inter), 6)`: the Jaccard column of
    * every pair path, written once so they all round the same quotient
    * the oracle SQL rounds. */
  private def jaccardOfCounts: Column =
    round(col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")), 6)

  /** Broadcast gate for the hashed-shingle table: corpora up to this
    * many documents (~100 MB of shingle hashes at the fixture's ~120
    * shingles/doc — well inside driver memory and Spark's broadcast
    * ceiling) ship it whole. The exact pairs ([[exactPairsOnArrays]])
    * then collect it once and probe a broadcast [[PrefixIndex]]; q32's
    * verify ([[jaccardForCandidates]]) broadcasts it into both attach
    * joins. Larger corpora keep the shuffled paths. */
  private[graft] val BroadcastShingleMaxDocs = 131072L

  /** Exact-threshold predicate J ≥ tauNum/tauDen in integer arithmetic:
    * inter/(sz1+sz2−inter) ≥ n/d ⇔ inter·(d+n) ≥ n·(sz1+sz2). Output
    * filters MUST use this, never `round(jac, 6) >= tau`: the rounded
    * form admits pairs with true J marginally below tau, which
    * [[prefixCandidates]] legitimately prunes — the two thresholds have
    * to be the same exact predicate (the oracle SQL uses the identical
    * integer inequality). */
  private[graft] def atLeastJaccard(tauNum: Int, tauDen: Int): Column =
    col("inter") * (tauDen + tauNum) >= (col("sz1") + col("sz2")) * tauNum

  private def withJaccard(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .withColumn("jac", jaccardOfCounts)

  // ---------------------------------------------------------------- q30
  /** Exact dedup by full text: keeper = min doc_id per distinct text. */
  val q30 = QueryDef(
    "q30_exact_dedup",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      d.groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .select(col("keeper"), col("n_copies"))
        .orderBy(col("keeper"))
    },
    Some("""SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies
    FROM documents
    GROUP BY text
    ORDER BY keeper"""))

  // ---------------------------------------------------------------- q31
  /** Prefix-hash duplicate groups (boilerplate detection): documents
    * sharing their first 5 tokens, keyed by md5 — the hash-group-by dedup
    * shape on a normalized key. (The fixtures contain no byte-identical
    * texts — q30 covers that degenerate case — so this groups on the
    * header prefix, a standard boilerplate signal.) */
  val q31 = QueryDef(
    "q31_dup_groups",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val prefixHash =
        md5(concat_ws(" ", slice(split(col("text"), " "), 1, 5)).cast("binary"))
      d.groupBy(prefixHash.as("prefix_hash"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_id"),
          max(col("doc_id")).as("last_id"))
        .filter(col("n") > 1)
        .orderBy(col("prefix_hash"))
    },
    Some("""SELECT md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS prefix_hash,
      COUNT(*) AS n, MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    ORDER BY prefix_hash"""))

  // ---------------------------------------------------------------- q32
  /** MinHash (64 hashes) + LSH (16 bands × 4 rows) near-dup pairs,
    * verified by exact Jaccard ≥ 0.5 on candidates only.
    *
    * VERIFIED-SF ENVELOPE (q44/q42 precedent, round 12): the banding
    * keys are xxhash64-specific, but the OUTPUT is the exact-Jaccard
    * pair set whenever banding recovers every qualifying pair — and
    * DedupSpec asserts full output equality with q33 at ALL shipped
    * fixtures. Margin, MEASURED not assumed (round 12): the minimum
    * Jaccard among qualifying pairs is 0.89 / 0.90 / 0.80 at
    * sf0.001/0.01/0.1, so the worst-pair 16×4 miss probability
    * (1−J⁴)¹⁶ is ≤ 2.2·10⁻⁴ — the fixture generator's near-identical
    * replicas sit far above the J = 0.5 boundary where banding could
    * not promise recall (a J = 0.5 pair would miss with p ≈ 0.36; that
    * regime stays rows-only territory). The oracle is therefore q33's
    * exact SQL ([[exactJaccardSql]]), demote-on-miss rule applies: a
    * regenerated fixture with boundary pairs fails the spec with a
    * precise message, and this query drops back to rows-only. */
  /** q32 up to (but not including) the result materialization + total
    * sort — the plan PlanSpec inspects (the registered query checkpoints
    * the tiny result before sorting, which truncates lineage to a Scan
    * and would make plan-shape assertions vacuous). */
  private[graft] def q32Pipeline(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    minhashPairsOnArrays(docShingleArrays(spark, dir))

  /** The q32 pipeline over an arbitrary `(doc_id, text)` frame — also
    * driven directly by [[graft.tools.ScaleProbe]] on replicated corpora
    * so scaling measurements exercise the exact production code. */
  private[graft] def minhashPairs(docs: DataFrame): DataFrame =
    minhashPairsOnArrays(graft.Materialize.cut(hashedShingleArray(docs)))

  /** [[minhashPairs]] from an already-materialized shingle-array frame
    * (the registered q32 reads the memoized [[docShingleArrays]]). */
  private[graft] def minhashPairsOnArrays(hshArr: DataFrame): DataFrame = {
      // The hashed shingle arrays feed BOTH the signature (MinHash64's
      // array<long> path — re-mixing pre-hashed shingles per seed is an
      // equally valid MinHash family) and the verification joins: the
      // whole pipeline is one native pass per doc + long-keyed joins.
      val nHashes = 64
      val bandsN = 16
      val rowsPerBand = nHashes / bandsN

      // One-pass native signature per document row — no explode, no
      // shuffle, no 64-column aggregate (see MinHash64 scaladoc).
      val sigs = hshArr.select(col("doc_id"),
        call_function("graft_minhash64", col("shs"), lit(nHashes)).as("sig"))

      val bandStructs = (0 until bandsN).map { b =>
        val hs: Seq[Column] = (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1))
        struct(lit(b).as("band"), xxhash64(hs: _*).as("bh"))
      }
      val bands = sigs
        .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))

      val cands = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))

      // dedup/verify order per the broadcast gate (see jaccardForCandidates)
      val bcast = hshArr.count() <= BroadcastShingleMaxDocs
      val in = if (bcast) cands else cands.distinct()
      val out = jaccardForCandidates(in, hshArr, bcast)
        .filter(atLeastJaccard(1, 2))
        .select(col("d1"), col("d2"), col("jac"))
      if (bcast) out.distinct() else out
  }

  /** q33's exact-Jaccard SQL — also q32's oracle under the verified-SF
    * envelope (see q32's scaladoc). */
  private val exactJaccardSql: String = """WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
             ELSE ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS s
      FROM tok, UNNEST(CASE WHEN len(ts) < 3 THEN [1]
                            ELSE range(1, len(ts) - 1) END) AS t(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT d1, d2,
      ROUND(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jac
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE i * 3 >= s1.sz + s2.sz
    ORDER BY d1, d2"""

  val q32 = QueryDef(
    "q32_minhash_lsh",
    (spark, dir) =>
      // materialize the (tiny) result before the total sort: range
      // partitioning samples its child, which would otherwise
      // re-execute the whole candidate+verify chain a second time
      q32Pipeline(spark, dir).cut().orderBy(col("d1"), col("d2")),
    Some(exactJaccardSql))

  // ---------------------------------------------------------------- q33
  /** Exact n-gram Jaccard near-dup pairs (the oracle-checked ground truth
    * for q32's LSH candidates). Candidates come from lossless prefix
    * filtering (see [[prefixCandidates]]) — same exact output as the
    * all-co-shingle-pairs join, without its quadratic candidate space.
    * DedupSpec asserts equality with the naive [[jaccardPairs]] form. */
  /** The exact Jaccard ≥ 1/2 pair set via prefix+positional filtering —
    * shared by q33 (sorted output) and q55 (cluster edges); also the plan
    * PlanSpec inspects. Materializes the per-doc HASHED shingle arrays
    * once: they feed the prefix ranking (exploded) AND both verification
    * joins, and everything downstream sorts/joins/intersects longs,
    * never strings. */
  private[graft] def exactPairsPipeline(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    exactPairsOnArrays(docShingleArrays(spark, dir))

  /** The per-document hashed 3-gram shingle arrays of the `documents`
    * table as a MEMOIZED materialized view (round-17 optimization): SIX
    * registered queries tokenize + hash the identical corpus — q32
    * (MinHash), the exact-pair view (q33/q196/q237/labels), q116
    * (containment), q66 (decontamination), q139 (source overlap), q186
    * (n-gram novelty) — and previously each redid the scan+tokenize+hash
    * pass. This is precisely the persisted shingle index a production
    * dedup stack maintains. The bench times the build as the
    * `view_shingles` line item; per-frame entries ([[exactPairs]],
    * [[minhashPairs]], [[containmentPairs]]) stay for spec/ScaleProbe
    * callers. */
  private[graft] val docShingleArrays = graft.View("shingles") { (spark, dir) =>
    graft.Materialize.cut(hashedShingleArray(Tables(spark, dir).documents))
  }

  /** The exact near-dup pair set as a MEMOIZED materialized view
    * (round-17 optimization; the [[clusterLabels]] convention): FOUR
    * session consumers run the identical corpus-priced pipeline — q33
    * (the sorted pair report), q196 (edit-distance verification), q237
    * (split-leakage audit) and [[clusterLabels]] (the q55/q64/q136/q155
    * label view) — and previously each recomputed shingling, prefix
    * filtering and verification from scratch. A production dedup
    * pipeline materializes its verified pair table once and runs every
    * downstream decision off it. The bench times the pair build itself
    * as the `view_exact_pairs` line item (invalidate + recompute), so
    * the pipeline stays inside the baseline contract; the per-frame
    * [[exactPairs]] entry stays for spec/ScaleProbe callers. Under
    * [[BroadcastShingleMaxDocs]] the build is the [[exactPairsIndexed]]
    * path: about four Spark jobs with the shingles warm (DedupSpec). */
  private[graft] val exactPairsView = graft.View("exact_pairs", Seq(docShingleArrays)) {
    (spark, dir) => graft.Materialize.cut(exactPairsPipeline(spark, dir))
  }

  /** The q33 pipeline over an arbitrary `(doc_id, text)` frame — also
    * driven directly by [[graft.tools.ScaleProbe]]. */
  private[graft] def exactPairs(docs: DataFrame): DataFrame =
    exactPairsOnArrays(graft.Materialize.cut(hashedShingleArray(docs)))

  /** [[exactPairs]] from an already-materialized hashed-shingle-array
    * frame — the registered consumers feed it the memoized
    * [[docShingleArrays]] view. Two paths, one answer (DedupSpec asserts
    * equal pair sets on random, boundary and fixture inputs):
    *  - up to [[BroadcastShingleMaxDocs]] documents, [[exactPairsIndexed]]
    *    probes one broadcast [[PrefixIndex]] in map-only tasks;
    *  - above it, [[exactPairsShuffled]]. */
  private[graft] def exactPairsOnArrays(hshArr: DataFrame): DataFrame =
    exactPairsIndexed(hshArr).getOrElse(exactPairsShuffled(hshArr))

  /** The exact pairs above the gate: shuffled [[prefixCandidates]], then
    * one `array_intersect` per candidate ([[jaccardForCandidates]]) —
    * equi-joins only, which PlanSpec asserts on this plan. */
  private[graft] def exactPairsShuffled(hshArr: DataFrame): DataFrame =
    jaccardForCandidates(prefixCandidates(hshArr, tauNum = 1, tauDen = 2), hshArr)
      .filter(atLeastJaccard(1, 2))
      .select(col("d1"), col("d2"), col("jac"))

  /** The exact pairs below the gate, or None when `hshArr` holds more
    * than [[BroadcastShingleMaxDocs]] documents. The arrays are collected
    * once ([[collectShingleArrays]]) and indexed on the driver
    * ([[PrefixIndex]]); map-only tasks, one per slice of document
    * indexes, probe the broadcast index and emit each verified pair
    * with its exact overlap; the shared Jaccard column and
    * [[atLeastJaccard]] finish as on the shuffled path, and one exchange
    * leaves the result in one partition. With the arrays already cut,
    * the collect, the probe and the caller's cut are at most four Spark
    * jobs, against ten for the shuffled path, whose cost at fixture
    * scale is job count, not work. */
  private[graft] def exactPairsIndexed(hshArr: DataFrame): Option[DataFrame] =
    collectShingleArrays(hshArr, BroadcastShingleMaxDocs).map { case (ids, off, hs) =>
      val spark = hshArr.sparkSession
      val sc = spark.sparkContext
      val index = sc.broadcast(PrefixIndex(ids, off, hs, tauNum = 1, tauDen = 2))
      val slices = math.max(1, math.min(sc.defaultParallelism, ids.length))
      val pairs = sc.parallelize(0 until slices, slices)
        .flatMap(s => index.value.probe(s, slices))
      spark.createDataFrame(pairs, PrefixIndex.pairSchema)
        .withColumn("jac", jaccardOfCounts)
        .filter(atLeastJaccard(1, 2))
        .select(col("d1"), col("d2"), col("jac"))
        .repartition(1)
    }

  val q33 = QueryDef(
    "q33_jaccard_pairs",
    (spark, dir) =>
      // reads the memoized pair view (already a materialized cut, so
      // the total sort's range sampling cannot re-execute the chain)
      exactPairsView(spark, dir)
        .orderBy(col("d1"), col("d2")),
    Some(exactJaccardSql))

  // ---------------------------------------------------------------- q93
  /** Incremental (delta-vs-corpus) near-dedup — the daily-BATCH analogue
    * of the streaming gate (`StreamOps.nearDedupGate`): dedup today's
    * landing against the accumulated corpus WITHOUT recomputing any
    * corpus-internal pair. This is the reference's `catchup=False` daily
    * rerun semantic (`dags/update_tr_from_ex_dag.py:84`) applied to the
    * LLM pipeline: each midnight only the new partition needs near-dup
    * screening, and corpus×corpus work — the part that grows
    * quadratically as the corpus accumulates — is exactly the part a
    * daily pipeline must never repeat.
    *
    * Same lossless prefix + positional filtering as [[exactPairs]], but
    * CROSS-SET: both sides rank their shingles in one shared total order
    * (corpus document frequency, shingle hash as tie-break — the
    * corpus-side (shingle → df) table and corpus prefix table are
    * precisely the reusable index a production pipeline persists between
    * daily runs), and the candidate join is delta-prefix ⋈ corpus-prefix
    * only. Delta-only shingles take df 0: the order stays consistent on
    * both sides — losslessness needs only SOME shared total order — and
    * rare-first keeps the per-shingle fan-out bounded. Verification
    * attaches delta arrays to one side and corpus arrays to the other;
    * no corpus pair ever meets another corpus pair anywhere in the plan
    * (spec-asserted on the candidate set, which is provably
    * ⊆ delta × corpus by construction of the join). */
  private[graft] def incrementalPairs(corpus: DataFrame, delta: DataFrame,
      tauNum: Int = 1, tauDen: Int = 2): DataFrame = {
    val (cArr, dArr, cands) = incrementalPlan(corpus, delta, tauNum, tauDen)
    incrementalVerify(cArr, dArr, cands, tauNum, tauDen)
  }

  /** [[incrementalPairs]] from pre-shingled array slices (see
    * [[incrementalPlanOnArrays]]). */
  private[graft] def incrementalPairsOnArrays(cArr: DataFrame, dArr: DataFrame,
      tauNum: Int = 1, tauDen: Int = 2): DataFrame = {
    val (_, _, cands) = incrementalPlanOnArrays(cArr, dArr, tauNum, tauDen)
    incrementalVerify(cArr, dArr, cands, tauNum, tauDen)
  }

  private def incrementalVerify(cArr: DataFrame, dArr: DataFrame,
      cands: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    // verify each candidate with one array_intersect, delta arrays on
    // d1, corpus arrays on d2 (same shape as jaccardForCandidates)
    cands
      .join(dArr.select(col("doc_id").as("d1"), col("shs").as("hs1")), "d1")
      .join(cArr.select(col("doc_id").as("d2"), col("shs").as("hs2")), "d2")
      .withColumn("inter", size(array_intersect(col("hs1"), col("hs2"))))
      .withColumn("sz1", size(col("hs1")))
      .withColumn("sz2", size(col("hs2")))
      .withColumn("jac", jaccardOfCounts)
      .filter(atLeastJaccard(tauNum, tauDen))
      .select(col("d1").as("delta_id"), col("d2").as("corpus_id"), col("jac"))
  }

  /** The q93 pipeline up to its candidate set: returns the two hashed
    * shingle-array frames and the candidate pairs. Exposed so the spec
    * can assert the candidates are ⊆ delta × corpus on the REAL plan. */
  private[graft] def incrementalPlan(corpus: DataFrame, delta: DataFrame,
      tauNum: Int, tauDen: Int): (DataFrame, DataFrame, DataFrame) = {
    // arrays feed prefix ranking AND verification — materialize once
    incrementalPlanOnArrays(hashedShingleArray(corpus).cut(),
      hashedShingleArray(delta).cut(), tauNum, tauDen)
  }

  /** [[incrementalPlan]] from pre-shingled array frames: the registered
    * q93 slices both sides out of the memoized [[docShingleArrays]] view
    * (shingling is per-row, so shingle(filter(docs)) ≡
    * filter(shingle(docs)) — round 17), skipping both tokenize passes. */
  private[graft] def incrementalPlanOnArrays(cArr: DataFrame, dArr: DataFrame,
      tauNum: Int, tauDen: Int): (DataFrame, DataFrame, DataFrame) = {
    val cSh = cArr.select(col("doc_id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("s"))
    val dSh = dArr.select(col("doc_id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("s"))
    // the persisted-index analogue: df over the CORPUS only — the delta
    // never changes the order the corpus side was indexed under
    val dfreq = cSh.groupBy(col("s")).agg(count(lit(1)).as("dfreq"))
    def prefixOf(sh: DataFrame): DataFrame = {
      val ordered = Window.partitionBy(col("doc_id"))
        .orderBy(col("dfreq"), col("s"))
      sh.join(dfreq, Seq("s"), "left")
        .withColumn("dfreq", coalesce(col("dfreq"), lit(0L)))
        .withColumn("rk", row_number().over(ordered))
        // same exact-integer prefix bound as prefixCandidates
        .filter(col("sz") * tauNum <= (col("sz") - col("rk") + 1) * tauDen)
        .select(col("doc_id"), col("s"), col("rk"), col("sz"))
    }
    (cArr, dArr, incrementalCandidates(prefixOf(dSh), prefixOf(cSh), tauNum, tauDen))
  }

  /** The q93 candidate join in isolation (delta prefix ⋈ corpus prefix
    * with the positional filter) — factored out so the spec can assert
    * its output is ⊆ delta × corpus on arbitrary prefix frames. */
  private[graft] def incrementalCandidates(dPre: DataFrame, cPre: DataFrame,
      tauNum: Int, tauDen: Int): DataFrame = {
    val maxContrib = least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk")) + 1
    dPre.as("a").join(cPre.as("b"),
        col("a.s") === col("b.s") &&
        maxContrib * (tauDen + tauNum) >= (col("a.sz") + col("b.sz")) * tauNum)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** The deterministic corpus/delta boundary for q93: md5-bucket of the
    * doc id (contract rule — cross-engine-stable, never xxhash64), delta
    * = top ~20% of the bucket space. Matches q62's 80% boundary, so the
    * "corpus" is exactly q62's train set and the "delta" its val+test. */
  private[graft] val DeltaBucketThreshold = 52429

  val q93 = QueryDef(
    "q93_incremental_dedup",
    (spark, dir) => {
      // slice both sides out of the memoized shingle view (shingling is
      // per-row, so the slices equal shingling the filtered docs)
      val arr = docShingleArrays(spark, dir)
      val bucket = Det.md5Bucket(col("doc_id"))
      val cArr = arr.filter(bucket < DeltaBucketThreshold)
      val dArr = arr.filter(bucket >= DeltaBucketThreshold)
      // materialize the (tiny) result before the total sort — same
      // range-sampling re-execution guard as q32/q33
      incrementalPairsOnArrays(cArr, dArr).cut()
        .orderBy(col("delta_id"), col("corpus_id"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
             ELSE ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS s
      FROM tok, UNNEST(CASE WHEN len(ts) < 3 THEN [1]
                            ELSE range(1, len(ts) - 1) END) AS t(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    split AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) >= 52429 AS is_delta
      FROM tok),
    inter AS (
      SELECT a.doc_id AS delta_id, b.doc_id AS corpus_id, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.doc_id IN (SELECT doc_id FROM split WHERE is_delta)
        AND b.doc_id IN (SELECT doc_id FROM split WHERE NOT is_delta)
      GROUP BY 1, 2)
    SELECT delta_id, corpus_id,
      ROUND(i * 1.0 / (s1.sz + s2.sz - i), 6) AS jac
    FROM inter
    JOIN sizes s1 ON s1.doc_id = delta_id
    JOIN sizes s2 ON s2.doc_id = corpus_id
    WHERE i * 3 >= s1.sz + s2.sz
    ORDER BY delta_id, corpus_id"""))

  // ---------------------------------------------------------------- q34
  /** SimHash (64-bit, token-level) + hamming ≤ 6 near-dup pairs.
    * Candidates via 4 × 16-bit chunk keys (a pair within hamming ≤ 6 in
    * 64 bits... chunking to 4 guarantees recall for hamming ≤ 3; wider
    * radii would use more/narrower chunks — same equi-join shape).
    *
    * Oracle-checked: the per-token hash is the md5-prefix-64 (see
    * `SimHash64` scaladoc), so DuckDB reconstructs the identical
    * signature bit-by-bit (±1 vote per (doc, bit) over a 64-row range
    * cross join), re-derives the same 4 chunk keys, the same candidate
    * equi-join, and the same exact-integer hamming — including the
    * candidate-recall cut for hamming 4..6 pairs with no clean chunk. */
  val q34 = QueryDef(
    "q34_simhash",
    (spark, dir) => {
      val d = Tables(spark, dir).documents
      val sigs = d.select(col("doc_id"),
        call_function("graft_simhash64", split(col("text"), " ")).as("sig"))
      val chunks = sigs.select(col("doc_id"), col("sig"),
          posexplode(array((0 until 4).map(c =>
            shiftright(col("sig"), c * 16).bitwiseAND(lit(0xFFFFL))): _*))
            .as(Seq("chunk_idx", "chunk")))
      val cands = chunks.as("x").join(chunks.as("y"),
          col("x.chunk_idx") === col("y.chunk_idx") &&
          col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          col("x.sig").as("s1"), col("y.sig").as("s2"))
        .distinct()
      cands
        .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast(IntegerType))
        .filter(col("hamming") <= 6)
        .select(col("d1"), col("d2"), col("hamming"))
        .orderBy(col("d1"), col("d2"))
    },
    Some("""WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
    th AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h
      FROM tok),
    bits AS (
      SELECT doc_id, j,
        CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
             THEN 1 ELSE 0 END AS b
      FROM th CROSS JOIN range(0, 64) AS r(j)
      GROUP BY doc_id, j),
    chunks AS (
      SELECT doc_id, j // 16 AS chunk_idx, SUM(b << (j % 16)) AS chunk
      FROM bits GROUP BY doc_id, j // 16),
    cand AS (
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      FROM chunks x JOIN chunks y
        ON x.chunk_idx = y.chunk_idx AND x.chunk = y.chunk
       AND x.doc_id < y.doc_id),
    ham AS (
      SELECT c.d1, c.d2, COUNT(*) FILTER (WHERE b1.b <> b2.b) AS hamming
      FROM cand c
      JOIN bits b1 ON b1.doc_id = c.d1
      JOIN bits b2 ON b2.doc_id = c.d2 AND b2.j = b1.j
      GROUP BY c.d1, c.d2)
    SELECT d1, d2, CAST(hamming AS INTEGER) AS hamming
    FROM ham WHERE hamming <= 6
    ORDER BY d1, d2"""))

  // ---------------------------------------------------------------- q55
  /** Dedup keeper stage: near-dup pairs → connected components → one
    * surviving document per cluster (the min doc_id). The components come
    * from [[propagateMinLabels]]: a near-dup pair set small enough for the
    * vertex-broadcast gate is collected once and closed on the driver by
    * union-find; a larger one runs iterative min-label propagation (each
    * round every node takes the minimum of its own label and its
    * neighbors' labels — an equi-join + group-by per round, the Pregel
    * shape, never a cartesian; checkpoint-truncated lineage, label-sum
    * convergence). Both paths emit the same labels (property-asserted).
    *
    * Output: every document with its cluster keeper (`keeper = doc_id`
    * for singletons) and the survivor flag — the "which rows do I keep"
    * answer a 100 TB dedup pipeline actually needs. Oracle: the same
    * reachability computed by a recursive CTE. */
  /** (doc_id, keeper) labels from connected components over the exact
    * near-dup pair set — the engine of q55 and the key source for the
    * leakage-free split (q64). See q55 scaladoc for the algorithm.
    *
    * Memoized per (session, dir): the result is already an eagerly
    * materialized checkpoint, and both q55 and q64 (and any future
    * dedup-composed operator) consume the identical label set — exactly a
    * materialized view. The cache holds only checkpoint handles, not
    * data copies. */
  private[graft] val clusterLabels =
    graft.View("cluster_labels", Seq(exactPairsView))(computeClusterLabels)

  private def computeClusterLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
      val docs = Tables(spark, dir).documents
      val pairs = exactPairsView(spark, dir).select(col("d1"), col("d2"))
      propagateMinLabels(docs.select(col("doc_id").as("id")), pairs)
        .select(col("id").as("doc_id"), col("lbl").as("keeper"))
  }

  /** Connected components over an undirected pair set — the generic
    * engine behind the text keeper (q55) and the embedding keeper (q70).
    * `ids` carries one `id` per node; `pairs` carries one row per
    * undirected edge (two long columns, any names). Returns `(id, lbl)`
    * with `lbl` = min id reachable over pairs whose endpoints are both in
    * `ids` (a pair naming a non-node is ignored, as the rounds loop's
    * joins ignore it).
    *
    * Two paths, one answer (property-asserted in DedupSpec):
    *  - while `2·|pairs|` fits [[Analytic.VertexBroadcastMaxRows]] — the
    *    budget the graph loops already spend every round broadcasting
    *    their vertex state through the driver — the pairs are collected
    *    ONCE (a `limit(cap + 1)` collect, so no separate count job) and
    *    closed on the driver by [[unionFindLabels]]; `ids` is then
    *    left-joined to the broadcast non-trivial `(endpoint, label)`
    *    map under one cut. About four Spark jobs in all, against ~20 for
    *    the rounds loop on the sf0.1 near-dup set, whose cost is job
    *    count, not work;
    *  - above the gate, [[propagationRounds]]. */
  private[graft] def propagateMinLabels(ids: DataFrame, pairs0: DataFrame): DataFrame = {
    val pairs = asPairs(pairs0)
    val cap = Analytic.VertexBroadcastMaxRows / 2
    val inIds = pairs
      .join(ids.select(col("id").as("ia")), col("pa") === col("ia"), "left_semi")
      .join(ids.select(col("id").as("ib")), col("pb") === col("ib"), "left_semi")
    collectPairs(inIds, cap) match {
      case None => propagationRounds(ids, pairs)
      case Some(flat) =>
        val (ep, el) = unionFindLabels(flat)
        val spark = ids.sparkSession
        val labels = spark.createDataFrame(
          spark.sparkContext.parallelize(Seq((ep, el)), 1).flatMap { case (e, l) =>
            e.indices.iterator.map(i => org.apache.spark.sql.Row(e(i), l(i)))
          },
          StructType(Seq(StructField("ep", LongType, nullable = false),
            StructField("el", LongType, nullable = false))))
        val out = ids.join(broadcast(labels), col("id") === col("ep"), "left")
          .select(col("id"), coalesce(col("el"), col("id")).as("lbl"))
          .cut()
        lastPropagationRounds.set(0)
        out
    }
  }

  /** `pairs0`'s two columns as `(pa, pb)`. */
  private def asPairs(pairs0: DataFrame): DataFrame = {
    val pc = pairs0.columns
    pairs0.select(col(pc(0)).as("pa"), col(pc(1)).as("pb"))
  }

  /** The `(pa, pb)` long pairs flattened `[pa0, pb0, pa1, pb1, …]` into
    * one primitive array, or `None` when there are more than `cap` of
    * them. One collect of a `limit(cap + 1)`: the limit leaves one
    * partition, which ships one packed `long[]`, so the driver never
    * holds a `Row` per edge. */
  private def collectPairs(pairs: DataFrame, cap: Long): Option[Array[Long]] = {
    require(pairs.schema.forall(_.dataType == LongType),
      s"pair endpoints must be longs, got ${pairs.schema.simpleString}")
    val parts = pairs.limit((cap + 1).toInt).queryExecution.toRdd.mapPartitions { it =>
      val b = Array.newBuilder[Long]
      it.foreach { r => b += r.getLong(0); b += r.getLong(1) }
      Iterator(b.result())
    }.collect()
    val flat = if (parts.length == 1) parts(0) else Array.concat(parts.toIndexedSeq: _*)
    if (flat.length / 2 > cap) None else Some(flat)
  }

  /** Union-find over the flattened pairs: endpoints sorted and deduped
    * into int indexes, union by min id (the smaller index is the smaller
    * id, so every root is its component's min id), path halving. Returns
    * the endpoints whose label is not themselves, ascending, with their
    * labels — every other node labels itself. Primitive arrays only: at
    * the 2 M-pair gate about 112 MB (pairs, sorted endpoints, parents,
    * result). */
  private[graft] def unionFindLabels(flat: Array[Long]): (Array[Long], Array[Long]) = {
    val ep = flat.clone()
    java.util.Arrays.sort(ep)
    var n = 0
    ep.indices.foreach { i =>
      if (n == 0 || ep(i) != ep(n - 1)) { ep(n) = ep(i); n += 1 }
    }
    def index(id: Long): Int = java.util.Arrays.binarySearch(ep, 0, n, id)
    val parent = new Array[Int](n)
    (0 until n).foreach(j => parent(j) = j)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    (0 until flat.length by 2).foreach { i =>
      val ra = find(index(flat(i)))
      val rb = find(index(flat(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    var k = 0
    (0 until n).foreach(j => if (find(j) != j) k += 1)
    val (es, ls) = (new Array[Long](k), new Array[Long](k))
    k = 0
    (0 until n).foreach { j =>
      val r = find(j)
      if (r != j) { es(k) = ep(j); ls(k) = ep(r); k += 1 }
    }
    (es, ls)
  }

  /** Up to [[BroadcastShingleMaxDocs]] hashed-shingle sets as one
    * primitive-array prefix index: [[prefixCandidates]]' filters without
    * its shuffles — REPOSE's local index (Rong et al., ICDE'21): the
    * index yields candidates, exact verification runs on them only.
    *
    * Every distinct shingle gets an int rank in ascending (document
    * frequency, hash) order — one sort of all shingle hashes yields the
    * distinct hashes with their frequencies, and a counting sort by
    * frequency, stable over the hash order, ranks them. Document i is
    * its ascending rank array `ranks(off(i) until off(i + 1))`: rarest
    * shingle first, so its first `sz − ⌈tau·sz⌉ + 1` ranks are its
    * prefix. Ranks are a bijection with the hashes, so every overlap is
    * the hash sets' overlap. `pOff`/`pDoc`/`pPos` are the prefix
    * postings: for rank r, the (document, prefix position) of every
    * prefix holding r, in ascending document order. The index keeps
    * about 8 bytes per shingle occurrence (its rank, and a posting for
    * each prefix member); building it holds about three times the
    * collected 8-byte hashes. */
  private[graft] final class PrefixIndex private (ids: Array[Long],
      off: Array[Int], ranks: Array[Int], pOff: Array[Int],
      pDoc: Array[Int], pPos: Array[Int], tauNum: Int, tauDen: Int)
      extends Serializable {

    /** The verified pairs (d1 < d2, inter, sz1, sz2) of documents
      * `slice, slice + slices, …`, each paired only with lower-indexed
      * documents, so over all slices every pair appears once. Document i
      * probes the postings of its prefix ranks; a collision at prefix
      * positions (k, kj) admits j when PPJoin's positional bound
      * `min(szi − k, szj − kj)` reaches the overlap J ≥ tau needs, and
      * each admitted j is verified once by a merge of rank arrays that
      * stops as soon as that overlap is out of reach. */
    def probe(slice: Int, slices: Int): Iterator[Row] = {
      val n = ids.length
      val seen = Array.fill(n)(-1)
      val out = scala.collection.mutable.ArrayBuffer.empty[Row]
      var i = slice
      while (i < n) {
        val szi = off(i + 1) - off(i)
        val p = PrefixIndex.prefixLength(szi, tauNum, tauDen)
        var k = 0
        while (k < p) {
          val r = ranks(off(i) + k)
          var e = pOff(r)
          while (e < pOff(r + 1) && pDoc(e) < i) {
            val j = pDoc(e)
            val szj = off(j + 1) - off(j)
            val need = PrefixIndex.minOverlap(szi + szj, tauNum, tauDen)
            if (seen(j) != i && ids(j) != ids(i) && math.min(szi - k, szj - pPos(e)) >= need) {
              seen(j) = i
              val inter = overlap(i, j, need)
              if (inter >= need) out += (if (ids(j) < ids(i)) Row(ids(j), ids(i), inter, szj, szi)
                else Row(ids(i), ids(j), inter, szi, szj))
            }
            e += 1
          }
          k += 1
        }
        i += slices
      }
      out.iterator
    }

    /** |A∩B| of documents a and b by a merge of their ascending ranks —
      * or less, once what is left of either side cannot lift it to
      * `need` (PPJoin's verify). */
    private def overlap(a: Int, b: Int, need: Int): Int = {
      var x = off(a)
      var y = off(b)
      var m = 0
      while (x < off(a + 1) && y < off(b + 1) &&
          m + math.min(off(a + 1) - x, off(b + 1) - y) >= need) {
        val ra = ranks(x)
        val rb = ranks(y)
        if (ra <= rb) x += 1
        if (rb <= ra) y += 1
        if (ra == rb) m += 1
      }
      m
    }
  }

  private[graft] object PrefixIndex {
    /** The rows [[PrefixIndex.probe]] emits. */
    val pairSchema: StructType = StructType(
      Seq("d1", "d2").map(StructField(_, LongType, nullable = false)) ++
      Seq("inter", "sz1", "sz2").map(StructField(_, IntegerType, nullable = false)))

    /** `sz − ⌈sz·tauNum/tauDen⌉ + 1`, the rarest-first prefix a set of
      * `sz` keeps (the bound [[prefixCandidates]] filters on), at most sz. */
    def prefixLength(sz: Int, tauNum: Int, tauDen: Int): Int =
      math.min(sz, sz - ceilDiv(sz.toLong * tauNum, tauDen) + 1)

    /** `⌈tau/(1+tau)·(szA+szB)⌉`, the least |A∩B| with J ≥ tau: the
      * overlap bound of [[atLeastJaccard]] and the positional filter. */
    def minOverlap(szSum: Int, tauNum: Int, tauDen: Int): Int =
      ceilDiv(szSum.toLong * tauNum, tauDen + tauNum)

    private def ceilDiv(a: Long, b: Long): Int = ((a + b - 1) / b).toInt

    /** The index of the sets `hs(off(i) until off(i + 1))` of documents
      * `ids` (see [[collectShingleArrays]]); each set must hold distinct
      * hashes, as [[hashedShingleArray]] emits them. */
    def apply(ids: Array[Long], off: Array[Int], hs: Array[Long],
        tauNum: Int, tauDen: Int): PrefixIndex = {
      val n = ids.length
      // distinct hashes, ascending, with their document frequencies
      val (uniq, df) = {
        val sorted = hs.clone()
        java.util.Arrays.sort(sorted)
        val (u, d) = (new Array[Long](sorted.length), new Array[Int](sorted.length))
        var m = 0
        sorted.foreach { h =>
          if (m == 0 || h != u(m - 1)) { u(m) = h; m += 1 }
          d(m - 1) += 1
        }
        (java.util.Arrays.copyOf(u, m), java.util.Arrays.copyOf(d, m))
      }
      // rank: position in (df, hash) order — counting sort by df,
      // stable over the ascending hashes
      val next = new Array[Int](df.foldLeft(0)(math.max) + 2)
      df.foreach(d => next(d + 1) += 1)
      (1 until next.length).foreach(d => next(d) += next(d - 1))
      val rankOf = new Array[Int](df.length)
      df.indices.foreach { u => rankOf(u) = next(df(u)); next(df(u)) += 1 }
      val ranks = new Array[Int](hs.length)
      hs.indices.foreach(k => ranks(k) = rankOf(java.util.Arrays.binarySearch(uniq, hs(k))))
      (0 until n).foreach { i =>
        java.util.Arrays.sort(ranks, off(i), off(i + 1))
        (off(i) + 1 until off(i + 1)).foreach(k => require(ranks(k) != ranks(k - 1),
          s"document ${ids(i)}: shingle arrays must hold distinct hashes"))
      }
      // prefix postings, CSR by rank, documents ascending within a rank
      def prefix(i: Int) = off(i) until off(i) + prefixLength(off(i + 1) - off(i), tauNum, tauDen)
      val pOff = new Array[Int](uniq.length + 1)
      (0 until n).foreach(i => prefix(i).foreach(k => pOff(ranks(k) + 1) += 1))
      (1 to uniq.length).foreach(r => pOff(r) += pOff(r - 1))
      val fill = pOff.clone()
      val (pDoc, pPos) = (new Array[Int](pOff(uniq.length)), new Array[Int](pOff(uniq.length)))
      (0 until n).foreach(i => prefix(i).foreach { k =>
        val e = fill(ranks(k))
        pDoc(e) = i; pPos(e) = k - off(i); fill(ranks(k)) += 1
      })
      new PrefixIndex(ids, off, ranks, pOff, pDoc, pPos, tauNum, tauDen)
    }
  }

  /** A small, fixed collection of hashed-shingle sets (q66's eval side)
    * as one primitive-array containment index, in [[PrefixIndex]]'s CSR
    * layout: `uniq` holds the distinct hashes ascending, and the
    * postings `post(pOff(u) until pOff(u + 1))` are the indexes of the
    * sets holding `uniq(u)`, one per occurrence; `ids(j)` and `sz(j)`
    * are set j's document id and array size. */
  private[graft] final class ContainmentIndex private (ids: Array[Long],
      sz: Array[Int], uniq: Array[Long], pOff: Array[Int], post: Array[Int])
      extends Serializable {

    /** `(doc_id, eval_id, inter, esz)` for each probed `(doc_id, shs)`
      * internal row and each indexed set it overlaps with `inter·4 ≥
      * esz`, `inter` counting the row's hash occurrences found in the
      * set (its overlap, as both sides hold distinct hashes). One hit
      * counter per indexed set serves every row of the task; the sets a
      * row touched are reset after it, so a row costs its own hashes,
      * never the index size. A null or empty row hits nothing. */
    def probe(rows: Iterator[InternalRow]): Iterator[Row] = {
      val hits = new Array[Int](ids.length)
      val touched = new Array[Int](ids.length)
      rows.flatMap { r =>
        var nt = 0
        if (!r.isNullAt(1)) r.getArray(1).toLongArray().foreach { h =>
          val u = java.util.Arrays.binarySearch(uniq, h)
          if (u >= 0) (pOff(u) until pOff(u + 1)).foreach { e =>
            val j = post(e)
            if (hits(j) == 0) { touched(nt) = j; nt += 1 }
            hits(j) += 1
          }
        }
        val docId = r.getLong(0)
        (0 until nt).flatMap { t =>
          val j = touched(t)
          val inter = hits(j)
          hits(j) = 0
          if (inter.toLong * 4 >= sz(j)) Some(Row(docId, ids(j), inter.toLong, sz(j)))
          else None
        }
      }
    }
  }

  private[graft] object ContainmentIndex {
    /** The rows [[ContainmentIndex.probe]] emits. */
    val hitSchema: StructType = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("eval_id", LongType, nullable = false),
      StructField("inter", LongType, nullable = false),
      StructField("esz", IntegerType, nullable = false)))

    /** The index of the sets `hs(off(j) until off(j + 1))` of documents
      * `ids`, as [[collectShingleArrays]] returns them. */
    def apply(ids: Array[Long], off: Array[Int], hs: Array[Long]): ContainmentIndex = {
      val uniq = {
        val sorted = hs.clone()
        java.util.Arrays.sort(sorted)
        sorted.distinct
      }
      val slot = hs.map(java.util.Arrays.binarySearch(uniq, _))
      val pOff = new Array[Int](uniq.length + 1)
      slot.foreach(u => pOff(u + 1) += 1)
      (1 to uniq.length).foreach(u => pOff(u) += pOff(u - 1))
      val fill = pOff.clone()
      val post = new Array[Int](hs.length)
      ids.indices.foreach(j => (off(j) until off(j + 1)).foreach { k =>
        post(fill(slot(k))) = j; fill(slot(k)) += 1
      })
      new ContainmentIndex(ids, ids.indices.map(j => off(j + 1) - off(j)).toArray,
        uniq, pOff, post)
    }
  }

  /** The `(doc_id, shs)` rows of a hashed-shingle-array frame as
    * primitive arrays — ids, offsets (`shs` of row i is
    * `hs(off(i) until off(i + 1))`, null taken as empty) and the
    * concatenated hashes — or None when there are more than `cap` rows.
    * One collect of a `limit(cap + 1)` read as internal rows, like
    * [[collectPairs]]: the limit stays the plan's root, so the collect is
    * one job, and each array arrives as one `long[]` copy, never a boxed
    * element per shingle. */
  private[graft] def collectShingleArrays(hshArr: DataFrame, cap: Long)
      : Option[(Array[Long], Array[Int], Array[Long])] = {
    val arr = hshArr.select(col("doc_id"), col("shs"))
    require(arr.schema.map(_.dataType) match {
        case Seq(LongType, ArrayType(LongType, _)) => true
        case _ => false
      }, s"shingle arrays must be (long, array<long>), got ${arr.schema.simpleString}")
    val parts = arr.limit((cap + 1).toInt).queryExecution.toRdd.mapPartitions { it =>
      val (ids, lens, hs) = (Array.newBuilder[Long], Array.newBuilder[Int], Array.newBuilder[Long])
      it.foreach { r =>
        ids += r.getLong(0)
        if (r.isNullAt(1)) lens += 0
        else { val a = r.getArray(1); lens += a.numElements(); hs ++= a.toLongArray() }
      }
      Iterator((ids.result(), lens.result(), hs.result()))
    }.collect()
    val ids = Array.concat(parts.toIndexedSeq.map(_._1): _*)
    if (ids.length > cap) None
    else Some((ids, Array.concat(parts.toIndexedSeq.map(_._2): _*).scanLeft(0)(_ + _),
      Array.concat(parts.toIndexedSeq.map(_._3): _*)))
  }

  /** Min-label propagation in rounds — the [[propagateMinLabels]] path
    * above the vertex-broadcast gate (the pair set is never collected).
    * Equi-join + group-by per round (the Pregel shape, never a
    * cartesian), lineage truncated per round; fails loudly instead of
    * emitting partially-propagated labels. Same contract as
    * [[propagateMinLabels]].
    *
    * Round complexity is adaptive: the default neighbor-min round
    * converges in O(component diameter) — the right choice for near-dup
    * clusters, which are shallow dup sets (2-3 rounds measured), at one
    * equi-join per round — and if convergence drags past
    * [[EscalateAfterRounds]] plain rounds the loop escalates to a
    * [[shortcutRound]] per round (`lbl(x) ← lbl(lbl(x))`, the
    * pointer-jumping step of classic log-diameter MapReduce connected
    * components, cf. Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — O(log diameter) from there, so adversarial
    * chain topologies finish inside the 30-round budget without taxing
    * the shallow common case with an extra self-join job per round.
    * `pointerDoubling = true` forces the shortcut from round 1. All
    * variants emit identical labels (property-asserted — the shortcut
    * preserves the min-label fixpoint). */
  private[graft] def propagationRounds(ids: DataFrame, pairs0: DataFrame,
      pointerDoubling: Boolean = false): DataFrame = {
      val pairs = asPairs(pairs0)
      val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
        .union(pairs.select(col("pb").as("src"), col("pa").as("dst")))
        .cut()
      var lbl = ids.select(col("id"), col("id").as("lbl"))
        .cut()
      val sumRow = lbl.agg(sum(col("lbl"))).head
      // empty node set → SUM is NULL; the components of nothing are nothing
      if (sumRow.isNullAt(0)) return lbl
      var prevSum = sumRow.getLong(0)
      var converged = false
      var round = 0
      while (!converged && round < 30) {
        // with doubling, the neighbor-round result feeds BOTH sides of
        // the shortcut self-join — cut it first or the join+aggregate
        // subtree executes twice per iteration.
        // Adaptive escalation: even without pointerDoubling, the
        // shortcut kicks in once convergence drags past
        // [[EscalateAfterRounds]] plain rounds — shallow components
        // (the near-dup common case, 2-3 rounds measured) never pay the
        // extra self-join job, while an adversarial chain topology still
        // finishes in O(log diameter) instead of blowing the 30-round
        // budget. Labels are unchanged either way (shortcut preserves
        // the min-label fixpoint; property-asserted in DedupSpec).
        val doubleNow = pointerDoubling || round >= EscalateAfterRounds
        val next =
          if (doubleNow) shortcutRound(propagationRound(edges, lbl).cut()).cut()
          else propagationRound(edges, lbl).cut()
        val nextSum = next.agg(sum(col("lbl"))).head.getLong(0)
        converged = nextSum == prevSum
        prevSum = nextSum
        lbl = next
        round += 1
      }
      // a silent non-converged exit would emit partially-propagated
      // labels as if they were clusters — fail loudly instead (the
      // 30-round budget covers diameter ~2^26 once escalation kicks in
      // after EscalateAfterRounds plain rounds — unreachable for any
      // physical corpus)
      require(converged,
        s"connected components did not converge within $round rounds")
      lastPropagationRounds.set(round)
      lbl
  }

  /** Plain neighbor-min rounds before [[propagationRounds]] escalates
    * to pointer doubling (see the loop comment). 4 covers every observed
    * fixture/corpus topology (2-3 rounds) with margin. */
  private[graft] val EscalateAfterRounds = 4

  /** Round count of the most recent [[propagateMinLabels]] on this JVM,
    * 0 = finished on the driver (the pair set fit the vertex-broadcast
    * gate, no rounds ran) — observability for the bench: above the gate
    * view_cluster_labels is a convergence loop whose wall time is
    * round-count-dominated, so the bench emits this next to the timing
    * to make drift attributable (round-count change vs per-round
    * slowdown). */
  private[graft] val lastPropagationRounds =
    new java.util.concurrent.atomic.AtomicInteger(-1)

  /** One pointer-jumping step: every node's label becomes its label's
    * label (`lbl(x) ← lbl(lbl(x))`) — min labels are fixpoints, so this
    * only ever lowers toward the same fixpoint the neighbor rounds reach,
    * while halving the pointer-chain depth (the log-diameter trick).
    * Equi-join on the label — the same Pregel shape as
    * [[propagationRound]] (PlanSpec-asserted); labels always reference
    * existing node ids, so the left join's coalesce is belt-and-braces. */
  private[graft] def shortcutRound(lbl: DataFrame): DataFrame = {
    val parent = lbl.select(col("id").as("pid"), col("lbl").as("plbl"))
    lbl.as("c").join(parent, col("c.lbl") === col("pid"), "left")
      .select(col("c.id").as("id"),
        coalesce(col("plbl"), col("c.lbl")).as("lbl"))
  }

  /** One min-label propagation round, pre-checkpoint — factored out so
    * PlanSpec can assert the Pregel shape (equi-joins only) on the plan
    * that actually runs: every round is checkpointed inside the loop, so
    * the executed plans of q55/q70 are truncated checkpoint scans and a
    * guard on the query output would be vacuous. */
  private[graft] def propagationRound(edges: DataFrame, lbl: DataFrame): DataFrame = {
    val nbr = edges.join(lbl, edges("src") === lbl("id"))
      .groupBy(col("dst")).agg(min(col("lbl")).as("nl"))
    lbl.as("o").join(nbr, col("o.id") === nbr("dst"), "left")
      .select(col("o.id").as("id"),
        least(col("o.lbl"), coalesce(col("nl"), col("o.lbl"))).as("lbl"))
  }

  /** The recursive-CTE rebuild of near-dup cluster reachability — the
    * DuckDB-side ground truth for the [[clusterLabels]] view, shared by
    * EVERY oracle that validates it (q55, q64, q136, q155). One copy by
    * design: a shingling or threshold change that touched only some of
    * four embedded copies would silently diverge an oracle from the
    * view it validates (the exactJaccardSql rule, applied here). Ends
    * with the `reach` CTE; each oracle appends its own CTEs/SELECT. */
  private val clusterReachCte: String = """WITH RECURSIVE tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
             ELSE ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS s
      FROM tok, UNNEST(CASE WHEN len(ts) < 3 THEN [1]
                            ELSE range(1, len(ts) - 1) END) AS t(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    pairs AS (
      SELECT d1, d2
      FROM inter
      JOIN sizes s1 ON s1.doc_id = d1
      JOIN sizes s2 ON s2.doc_id = d2
      WHERE i * 3 >= s1.sz + s2.sz),
    edges AS (
      SELECT d1 AS src, d2 AS dst FROM pairs
      UNION ALL SELECT d2, d1 FROM pairs),
    reach AS (
      SELECT doc_id AS id, doc_id AS r FROM documents
      UNION
      SELECT e.dst AS id, reach.r AS r
      FROM reach JOIN edges e ON e.src = reach.id)"""

  val q55 = QueryDef(
    "q55_dedup_clusters",
    (spark, dir) =>
      clusterLabels(spark, dir)
        .withColumn("kept", col("doc_id") === col("keeper"))
        .orderBy(col("doc_id")),
    Some(clusterReachCte + """
    SELECT id AS doc_id, MIN(r) AS keeper, MIN(r) = id AS kept
    FROM reach
    GROUP BY id
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q64
  /** Leakage-free train/val/test split: the composition a real corpus
    * pipeline needs — hash the CLUSTER KEEPER (from [[clusterLabels]]),
    * not the document id, so every member of a near-duplicate cluster
    * lands in the same split and no near-copy of a training document can
    * leak into eval. Same 80/10/10 md5-prefix bucketing as q62; the only
    * extra cost over q62 is the dedup-cluster computation itself. */
  val q64 = QueryDef(
    "q64_leakage_free_split",
    (spark, dir) => {
      val bucket = Det.md5Bucket(col("keeper"))
      val split = when(bucket < 52429, "train")
        .when(bucket < 58982, "val")
        .otherwise("test")
      clusterLabels(spark, dir)
        .select(col("doc_id"), col("keeper"), split.as("split"))
        .orderBy(col("doc_id"))
    },
    Some(clusterReachCte + """,
    k AS (SELECT id AS doc_id, MIN(r) AS keeper FROM reach GROUP BY id)
    SELECT doc_id, keeper,
      CASE WHEN CAST('0x' || substr(md5(CAST(keeper AS VARCHAR)), 1, 4) AS INTEGER) < 52429 THEN 'train'
           WHEN CAST('0x' || substr(md5(CAST(keeper AS VARCHAR)), 1, 4) AS INTEGER) < 58982 THEN 'val'
           ELSE 'test' END AS split
    FROM k
    ORDER BY doc_id"""))

  // ---------------------------------------------------------------- q103
  /** Winnowing fingerprint near-dedup (Schleimer/Wilkerson/Aiken 2003,
    * the MOSS algorithm): per document, hash every word 3-gram in
    * position order, slide a window of 4 consecutive gram hashes and
    * keep each window's MINIMUM as a fingerprint — winnowing's guarantee
    * is that any shared run of ≥ w+k−1 tokens between two documents
    * yields at least one shared fingerprint, with a 2/(w+1) expected
    * sampling density, so it catches contiguous-overlap plagiarism/
    * boilerplate that set-based MinHash (q32) dilutes. Pairs are then
    * documents sharing ≥ 3 distinct fingerprints.
    *
    * Scale shape: the gram hash + window-min runs entirely MAP-SIDE —
    * [[graft.functions.expressions.WinnowFingerprints]] computes each
    * document's distinct fingerprint set in one JIT pass over the token
    * array (no position explode, no per-doc window exchange), so the
    * query's only shuffle is pair generation: the same capped equi-join
    * as the LSH family — fingerprints seen in > 50 documents are dropped
    * before the self-join (ubiquitous boilerplate carries no pair
    * signal, and the cap bounds every join bucket at 50² — the
    * workload-wide PlanSpec cross-product guard sees this query like any
    * other).
    *
    * Determinism: grams are hashed by md5 prefix — the one hash both
    * engines compute identically (contract: never xxhash64 across
    * engines) — and window minima compare those integer hashes, so the
    * fingerprint sets match DuckDB's bit-for-bit (the expression's hash
    * equals `conv(substring(md5(gram), 1, 8), 16, 10)::long` exactly;
    * property-asserted against the composed column form in
    * WinnowFingerprintsSpec). */
  /** Distinct winnowing fingerprints per document: (doc_id, fp). k=3
    * word grams, window w=4, md5-prefix hashes (see q103 scaladoc).
    * Documents with < 4 full grams yield an empty array and vanish in
    * the explode — the same gate as the old `filter(ng >= 4)`. */
  private[graft] def winnowFingerprints(d: DataFrame): DataFrame = {
    // narrow-input guard (see hashedShingleArray): the fused expression
    // makes gram hashing this query's dominant un-shuffled map cost, and
    // a fixture-sized scan plans 1–2 partitions
    graft.Parallelism.ensure(d, col("doc_id"))
      .select(col("doc_id"),
        explode(call_function("graft_winnow_fps",
          split(col("text"), " "), lit(3), lit(4))).as("fp"))
  }

  /** Pairs of documents sharing ≥ minShared winnowing fingerprints, with
    * fingerprints seen in > dfCap documents dropped before the self-join. */
  private[graft] def winnowPairs(d: DataFrame, minShared: Int, dfCap: Int): DataFrame = {
    val capped = winnowFingerprints(d)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= dfCap)
      .select(col("doc_id"), col("fp"))
    capped.as("a")
      .join(capped.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
  }

  val q103 = QueryDef(
    "q103_winnow_dedup",
    (spark, dir) => winnowPairs(Tables(spark, dir).documents, 3, 50),
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, len(t) - 2 AS ng, i AS pos,
        CAST('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 8) AS BIGINT) AS h
      FROM tok, UNNEST(range(1, len(t) - 1)) AS u(i)
      WHERE len(t) - 2 >= 4),
    w AS (
      SELECT doc_id, ng, pos,
        min(h) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM g),
    fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= ng - 3),
    capped AS (
      SELECT doc_id, fp FROM (
        SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fps)
      WHERE df <= 50)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
    FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING count(*) >= 3
    ORDER BY doc_a ASC NULLS FIRST, doc_b ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q236
  /** Incremental delta-vs-corpus WINNOW dedup — completes the winnow
    * lens's incremental column (the dedup-matrix rule: every lens gets
    * batch + incremental; exact Jaccard has q33/q93, embeddings have
    * q44/q147, winnowing had only batch q103): today's landing checked
    * for contiguous-run overlap against the accumulated corpus through
    * the corpus' PERSISTED fingerprint index. The df cap (> 50 docs)
    * is evaluated on the CORPUS STORE ALONE — the stored statistic the
    * nightly job maintains — so a delta fingerprint landing in a
    * boilerplate bucket is dropped by the stored df, never by a
    * delta-dependent stat, and the decision is reproducible from the
    * index without the delta. Same q93 split convention
    * (md5-bucket ≥ [[DeltaBucketThreshold]] = today's landing).
    *
    * Scale shape: the corpus is NEVER self-joined — the join is
    * delta-fingerprints × corpus-index on the fingerprint key, so cost
    * tracks delta size × fingerprint df (capped), not corpus² (the q93
    * property, spec-asserted there; the `ScaleProbe delta` growth
    * argument transfers shape-for-shape). Both fingerprint passes are
    * map-side ([[graft.functions.expressions.WinnowFingerprints]]). */
  private[graft] def incrementalWinnowPairs(corpus: DataFrame,
      delta: DataFrame): DataFrame = {
    val corpusFps = winnowFingerprints(corpus)
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .filter(col("df") <= 50)
      .select(col("doc_id").as("corpus_id"), col("fp"))
    val deltaFps = winnowFingerprints(delta)
      .select(col("doc_id").as("delta_id"), col("fp"))
    deltaFps.join(corpusFps, "fp")
      .groupBy(col("delta_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  val q236 = QueryDef(
    "q236_incremental_winnow",
    (spark, dir) => {
      val docs = Tables(spark, dir).documents
      val bucket = Det.md5Bucket(col("doc_id"))
      val corpus = docs.filter(bucket < DeltaBucketThreshold)
      val delta = docs.filter(bucket >= DeltaBucketThreshold)
      // materialize the (tiny) result before the total sort — the q93
      // range-sampling re-execution guard
      incrementalWinnowPairs(corpus, delta).cut()
        .orderBy(col("delta_id"), col("corpus_id"))
    },
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
    fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE pos <= ng - 3),
    split AS (
      SELECT doc_id,
        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) >= 52429 AS is_delta
      FROM tok),
    corpus_fps AS (
      SELECT doc_id AS corpus_id, fp FROM (
        SELECT doc_id, fp, COUNT(*) OVER (PARTITION BY fp) AS df
        FROM fps WHERE doc_id IN (SELECT doc_id FROM split WHERE NOT is_delta))
      WHERE df <= 50),
    delta_fps AS (
      SELECT doc_id AS delta_id, fp FROM fps
      WHERE doc_id IN (SELECT doc_id FROM split WHERE is_delta))
    SELECT d.delta_id, c.corpus_id, COUNT(*) AS n_shared
    FROM delta_fps d JOIN corpus_fps c USING (fp)
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    ORDER BY delta_id, corpus_id"""))

  // --------------------------------------------------------------- q116
  /** Asymmetric containment dedup: ordered pairs (A, B) with
    * `C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ 3/4` —
    * the excerpt/quotation detector Jaccard structurally misses (a
    * 30-token passage quoted inside a 500-token page has J ≈ 0.06 but
    * C ≈ 1).
    *
    * Candidate generation stays equi-join shaped, the [[prefixCandidates]]
    * argument specialized to containment: `C(A→B) ≥ τ ⇒ |A∩B| ≥ ⌈τ|A|⌉`,
    * so A must collide with B inside A's `|A| − ⌈τ|A|⌉ + 1`-prefix under
    * any shared total shingle order — the SAME exact integer prefix
    * bound as Jaccard's. The container side joins its FULL shingle list
    * (containment puts no lower bound on |A∩B|/|B|, so B cannot be
    * prefix-reduced) — the honest scale statement: per-shingle fan-out
    * is `df(s) × |prefixes holding s|`, and rarest-first ordering keeps
    * prefixes out of the high-df buckets, the same mechanism that keeps
    * q33 sub-quadratic, minus B-side prefix reduction. The feasibility
    * cut `|B| ≥ ⌈τ|A|⌉` (|A∩B| ≤ |B|) is applied inside the join in the
    * same exact integer arithmetic. Verification is one
    * `array_intersect` per candidate ([[jaccardForCandidates]]) and the
    * output filter is the exact integer predicate
    * `inter·tauDen ≥ szA·tauNum` — never a rounded-float compare
    * (Jaccard-rule 9 applies verbatim: containment ratios concentrate
    * on small rationals). */
  private[graft] def containmentPairs(
      docs: DataFrame, tauNum: Int, tauDen: Int): DataFrame =
    containmentPairsOnArrays(graft.Materialize.cut(hashedShingleArray(docs)),
      tauNum, tauDen)

  /** [[containmentPairs]] from an already-materialized shingle-array
    * frame (the registered q116 reads the memoized [[docShingleArrays]]). */
  private[graft] def containmentPairsOnArrays(
      arr: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val cands = containmentCandidates(arr, tauNum, tauDen)
    jaccardForCandidates(cands, arr)
      .filter(col("inter") * tauDen >= col("sz1") * tauNum)
      .select(col("d1").as("d_a"), col("d2").as("d_b"),
        round(col("inter").cast("double") / col("sz1"), 6).as("cont"))
  }

  /** Candidate stage of [[containmentPairs]] over an already-shingled
    * frame — exposed so ScaleProbe's `contain` mode can measure the
    * prefix filter's candidate volume separately from verification. */
  private[graft] def containmentCandidates(
      arr: DataFrame, tauNum: Int, tauDen: Int): DataFrame = {
    val sh = arr.select(col("doc_id"), size(col("shs")).as("sz"),
      explode(col("shs")).as("s"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("dfreq"))
    val ordered = Window.partitionBy(col("doc_id"))
      .orderBy(col("dfreq"), col("s"))
    // same materialization rule as prefixCandidates: the prefix/full
    // tables share the explode → dfreq pipeline on both join sides
    val ranked = sh.join(dfreq, "s")
      .withColumn("rk", row_number().over(ordered))
      .cut()
    val prefixA = ranked
      .filter(col("sz") * tauNum <= (col("sz") - col("rk") + 1) * tauDen)
      .select(col("doc_id").as("d_a"), col("s"), col("sz").as("sz_a"))
    val fullB = ranked.select(col("doc_id").as("d_b"), col("s"), col("sz").as("sz_b"))
    prefixA.join(fullB,
        Seq("s").map(c => prefixA(c) === fullB(c)).reduce(_ && _) &&
          col("d_a") =!= col("d_b") &&
          col("sz_b") * tauDen >= col("sz_a") * tauNum)
      .select(col("d_a").as("d1"), col("d_b").as("d2"))
      .distinct()
  }

  val q116 = QueryDef(
    "q116_containment_dedup",
    (spark, dir) =>
      containmentPairsOnArrays(docShingleArrays(spark, dir), 3, 4).cut()
        .orderBy(col("d_a").asc_nulls_first, col("d_b").asc_nulls_first),
    Some("""WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
        CASE WHEN len(ts) < 3 THEN array_to_string(ts, ' ')
             ELSE ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] END AS s
      FROM tok, UNNEST(CASE WHEN len(ts) < 3 THEN [1]
                            ELSE range(1, len(ts) - 1) END) AS t(i)),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS d_a, b.doc_id AS d_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id != b.doc_id
      GROUP BY 1, 2)
    SELECT d_a, d_b, ROUND(i * 1.0 / s1.sz, 6) AS cont
    FROM inter
    JOIN sizes s1 ON s1.doc_id = d_a
    WHERE i * 4 >= s1.sz * 3
    ORDER BY d_a ASC NULLS FIRST, d_b ASC NULLS FIRST"""))

  // ---------------------------------------------------------------- q136
  /** Cluster survivorship under a QUALITY policy: q55 keeps each
    * near-dup cluster's minimum id (a label, not a judgment); real
    * curation keeps the BEST member — here the longest document
    * (n_chars, ties by doc_id), the "most complete copy" rule a corpus
    * pipeline applies when near-dups differ by truncation. Same
    * clusters ([[clusterLabels]], the memoized view), different keeper.
    *
    * Shape: one doc-keyed equi-join attaches the quality signal, and one
    * window PARTITIONED by cluster (cluster-keyed — never global) hands
    * every member its cluster's first row in (n_chars desc, doc_id asc)
    * order over an unbounded frame. That equals the oracle's rank-1
    * survivor joined back to the labels because the label ids ARE the
    * `documents` ids ([[clusterLabels]] labels every document), so the
    * join drops no label row and no second pass over the labels is
    * needed. The policy column is an exact integer, so the argmax is
    * tie-safe cross-engine. Oracle rebuilds the clusters with q55's
    * recursive CTE. */
  val q136 = QueryDef(
    "q136_survivorship",
    (spark, dir) => {
      val w = Window.partitionBy(col("keeper"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      clusterLabels(spark, dir)
        .join(Tables(spark, dir).documents.select(col("doc_id"), col("n_chars")), "doc_id")
        .select(col("doc_id"), col("keeper"), first(col("doc_id")).over(w).as("survivor"))
        .select(col("doc_id"), col("keeper"), col("survivor"),
          (col("doc_id") === col("survivor")).as("keep"))
        .orderBy(col("doc_id").asc_nulls_first)
    },
    Some(clusterReachCte + """,
    labels AS (SELECT id AS doc_id, MIN(r) AS keeper FROM reach GROUP BY id),
    sized AS (
      SELECT l.doc_id, l.keeper, d.n_chars
      FROM labels l JOIN documents d USING (doc_id)),
    survivors AS (
      SELECT keeper, doc_id AS survivor FROM (
        SELECT keeper, doc_id,
          row_number() OVER (PARTITION BY keeper
            ORDER BY n_chars DESC, doc_id ASC) AS rn
        FROM sized)
      WHERE rn = 1)
    SELECT l.doc_id, l.keeper, s.survivor, l.doc_id = s.survivor AS keep
    FROM labels l JOIN survivors s USING (keeper)
    ORDER BY l.doc_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q237
  /** Split-leakage audit — the QA readout that justifies cluster-keyed
    * splitting (q64/q136): how many verified near-duplicate pairs (the
    * exact-Jaccard ≥ 1/2 set, q33) STRADDLE the naive id-hash
    * train/val/test boundaries (q62's buckets)? Every off-diagonal row
    * of this table is train→eval contamination a per-document split
    * admits and the keeper-keyed split provably eliminates (q64 routes
    * whole clusters to one side). Output is the ≤ 6-row (split_a,
    * split_b) pair-count matrix, pair orientation normalized
    * lexicographically so both engines fold identically.
    *
    * Scale shape: the split is `Det.md5Bucket(doc_id)`, a pure function
    * of the id, so each endpoint's split is computed from the pair
    * table's own `d1`/`d2` (near-dup-sized, not corpus-sized) and folded
    * to ≤ 6 rows — no join at all. That equals the oracle's two
    * `documents` joins because every endpoint is a `documents` row: the
    * pairs come from [[docShingleArrays]], which holds one row per
    * document. Nothing heavier than q33 itself, whose memoized pair view
    * is reused. */
  val q237 = QueryDef(
    "q237_split_leakage",
    (spark, dir) => {
      def split(id: Column): Column = {
        val bucket = Det.md5Bucket(id)
        when(bucket < 52429, "train").when(bucket < 58982, "val").otherwise("test")
      }
      exactPairsView(spark, dir)
        .select(split(col("d1")).as("s1"), split(col("d2")).as("s2"))
        .select(least(col("s1"), col("s2")).as("split_a"),
          greatest(col("s1"), col("s2")).as("split_b"))
        .groupBy(col("split_a"), col("split_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("split_a").asc_nulls_first, col("split_b").asc_nulls_first)
    },
    Some(s"""WITH pairs AS ($exactJaccardSql),
    sp AS (
      SELECT doc_id,
        CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) < 52429 THEN 'train'
             WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) < 58982 THEN 'val'
             ELSE 'test' END AS split
      FROM documents)
    SELECT LEAST(a.split, b.split) AS split_a,
      GREATEST(a.split, b.split) AS split_b,
      COUNT(*) AS n_pairs
    FROM pairs
    JOIN sp a ON a.doc_id = pairs.d1
    JOIN sp b ON b.doc_id = pairs.d2
    GROUP BY 1, 2
    ORDER BY split_a ASC NULLS FIRST, split_b ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q155
  /** Dedup ROI report — "what did dedup buy": per near-dup cluster SIZE,
    * how many clusters exist, how many documents a keep-one policy
    * removes, and how many TOKENS that saves (the number a training-
    * compute budget actually feels; singleton rows quantify the
    * untouched mass). Reads the memoized q55 label view — the cluster
    * computation is shared, not recomputed — joins each member's token
    * count, folds to per-cluster totals, then to the size distribution:
    * two keeper-keyed aggregates over cluster-sized frames after one
    * corpus-sized tokenize+join. All exact integers. */
  val q155 = QueryDef(
    "q155_dedup_roi",
    (spark, dir) => {
      val labels = clusterLabels(spark, dir)
      val toks = Tables(spark, dir).documents
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast(org.apache.spark.sql.types.LongType).as("toks"))
      labels.join(toks, "doc_id")
        .groupBy(col("keeper"))
        .agg(count(lit(1)).as("csize"),
          sum(col("toks")).as("t_total"),
          sum(when(col("doc_id") === col("keeper"), col("toks"))
            .otherwise(0L)).as("t_kept"))
        .groupBy(col("csize").cast(IntegerType).as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("csize") - 1).as("docs_removed"),
          sum(col("t_total") - col("t_kept")).as("tokens_removed"))
        .orderBy(col("cluster_size").asc_nulls_first)
    },
    Some(clusterReachCte + """,
    labels AS (SELECT id AS doc_id, MIN(r) AS keeper FROM reach GROUP BY id),
    tk AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      FROM documents),
    pc AS (
      SELECT l.keeper, COUNT(*) AS csize, SUM(t.toks) AS t_total,
        SUM(CASE WHEN l.doc_id = l.keeper THEN t.toks ELSE 0 END) AS t_kept
      FROM labels l JOIN tk t USING (doc_id) GROUP BY l.keeper)
    SELECT CAST(csize AS INT) AS cluster_size, COUNT(*) AS n_clusters,
      CAST(SUM(csize - 1) AS BIGINT) AS docs_removed,
      CAST(SUM(t_total - t_kept) AS BIGINT) AS tokens_removed
    FROM pc GROUP BY csize
    ORDER BY cluster_size ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q196
  /** Character-level edit-distance verification of the near-dup pairs —
    * the SECOND verification lens beside q33's token-set Jaccard: for
    * every exact-Jaccard ≥ 1/2 pair, the Levenshtein similarity of the
    * two documents' 256-char prefixes. Token-set similarity is order-
    * blind (two documents with the same shingle BAG but shuffled
    * passages score high); character-order similarity catches exactly
    * that, so the pair table with both columns is the triage view a
    * dedup reviewer ranks — high-jac/low-edit rows are the reorderings
    * and template collisions worth human eyes.
    *
    * Determinism: Levenshtein distance is exact integer DP, identical
    * in both engines (Spark `levenshtein`, DuckDB `levenshtein`);
    * similarity is exact integer ppm `(maxlen − lev)·10⁶ div maxlen`.
    * Prefix window: edit distance is O(L²) per pair — the fixed
    * 256-char prefix bounds per-pair cost at scale (the standard
    * verify-window trade; the candidates were already full-text
    * token-verified by the q33 stage upstream).
    *
    * Scale: pair generation is q33's lossless prefix-filtered
    * equi-join (never all-pairs); the two text attaches are doc-keyed
    * equi-joins; the DP runs once per surviving pair. */
  /** The q196 verification stage over an already-materialized pair
    * frame — the registered query feeds it the memoized
    * [[exactPairsView]] (round-17: the pair build ran once per session
    * here, in q33 and in q237; now it is the shared view), and
    * [[graft.tools.ScaleProbe]]'s `edit` mode times it on replicated
    * corpora. */
  private[graft] def editVerifyOnPairs(pairs: DataFrame, docs: DataFrame): DataFrame = {
      val pfx = docs
        .select(col("doc_id"), substring(col("text"), 1, 256).as("p"))
      pairs
        .join(pfx.select(col("doc_id").as("d1"), col("p").as("p1")), Seq("d1"))
        .join(pfx.select(col("doc_id").as("d2"), col("p").as("p2")), Seq("d2"))
        .withColumn("lev", levenshtein(col("p1"), col("p2")).cast("long"))
        .withColumn("maxlen",
          greatest(length(col("p1")), length(col("p2"))).cast("long"))
        .select(col("d1"), col("d2"), col("jac"), col("lev"),
          expr("(maxlen - lev) * 1000000 div maxlen").as("edit_sim_ppm"))
        .orderBy(col("d1"), col("d2"))
  }

  val q196 = QueryDef(
    "q196_edit_verify",
    (spark, dir) => editVerifyOnPairs(exactPairsView(spark, dir),
      Tables(spark, dir).documents),
    Some(s"""WITH pairs AS ($exactJaccardSql),
    pfx AS (SELECT doc_id, substr(text, 1, 256) AS p FROM documents),
    j AS (
      SELECT pairs.d1, pairs.d2, pairs.jac,
        CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev,
        CAST(GREATEST(length(a.p), length(b.p)) AS BIGINT) AS maxlen
      FROM pairs
      JOIN pfx a ON a.doc_id = pairs.d1
      JOIN pfx b ON b.doc_id = pairs.d2)
    SELECT d1, d2, jac, lev,
      CAST((maxlen - lev) * 1000000 // maxlen AS BIGINT) AS edit_sim_ppm
    FROM j
    ORDER BY d1, d2"""))

  override def queries: Seq[QueryDef] =
    Seq(q30, q31, q32, q33, q34, q55, q64, q93, q103, q116, q136, q155, q196,
      q236, q237)
}
