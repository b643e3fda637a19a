package graft.operators

import graft.functions.VectorOps
import graft.{Det, QueryDef, QueryPack, Tables}
import graft.Materialize.CutSyntax
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType}

/** Similarity search over the `embeddings` table (`ArrayType(FloatType)`,
  * dim 64): brute-force cosine top-k as the exact baseline, an LSH-bucketed
  * approximate variant as the scale path, per-label centroids, and
  * embedding-cosine near-duplicate pairs.
  *
  * Scale design: the brute-force form broadcasts the (small) query set so
  * the corpus scan never shuffles — O(|corpus| × |queries|) compute but
  * embarrassingly parallel and shuffle-free. When |queries| ≈ |corpus|
  * (near-dup mining at 100 TB) that is infeasible; the LSH form buckets
  * both sides on a sign-hash key first, turning the cross join into an
  * equi-join shuffle on bucket id — standard IVF-style pruning.
  */
object Similarity extends QueryPack {
  import Det._
  import VectorOps._

  /** DuckDB mirror of VectorOps.dot — verified bit-identical to the
    * sequential double fold on the fixture vectors. */
  private def sqlDot(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
  private def sqlCos(a: String, b: String): String =
    s"(${sqlDot(a, b)} / (sqrt(${sqlDot(a, a)}) * sqrt(${sqlDot(b, b)})))"

  // ---------------------------------------------------------------- q41
  /** Exact brute-force cosine top-5 per query vector (queries = vec_id<10,
    * self excluded). Cosine rounded to 6 dp in BOTH engines to absorb any
    * last-ulp library drift; ranking ties broken by vec_id. */
  val q41 = QueryDef(
    "q41_cosine_topk",
    (spark, dir) => {
      // norms once per row (not per pair) — bit-identical to computing
      // cosine from scratch per pair, 3× fewer dot products in the loop.
      val em = Tables(spark, dir).embeddings
        .withColumn("enorm", sqrt(dotNative(col("embedding"), col("embedding"))))
      val queries = em.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("enorm").as("qnorm"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      em.crossJoin(broadcast(queries))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", round(
          dotNative(col("qvec"), col("embedding")) / (col("qnorm") * col("enorm")), 6))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("qid"), col("rk"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec
      FROM embeddings WHERE vec_id < 10),
    pairs AS (
      SELECT q.qid, e.vec_id,
        ROUND(${sqlCos("q.qvec", "e.embedding")}, 6) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.qid),
    ranked AS (
      SELECT qid, vec_id, cos,
        CAST(row_number() OVER (PARTITION BY qid
          ORDER BY cos DESC, vec_id) AS INT) AS rk
      FROM pairs)
    SELECT qid, rk, vec_id, cos FROM ranked WHERE rk <= 5
    ORDER BY qid, rk"""))

  /** The exact top-5 SQL — q41's oracle verbatim. It is ALSO the oracle
    * for the two ANN queries (q42, q84) under the q44 VERIFIED-SF
    * ENVELOPE precedent: their geometries are sized so the candidate set
    * provably (spec: SimilarityQualitySpec "ANN … equals the exact
    * top-5 at every fixture SF") contains the full true top-5 at EVERY
    * shipped fixture, and a superset of the top-5 re-ranked by the same
    * (cos DESC, vec_id) comparator IS the top-5. A new fixture or SF
    * must extend that assertion; on a genuine miss, demote the missing
    * query back to rows-only (oracle = None) like the historical q32. */
  private val exactTopKSql: String = q41.oracle.get

  // ---------------------------------------------------------------- q42
  /** ANN via multi-table sign-LSH (32 tables × 3 planes): both sides
    * exploded to (table, bucket) keys; candidate pairs collide in ANY
    * table (equi-join shuffle, no cross product), deduped, then
    * exact-cosine re-ranked.
    *
    * VERIFIED-SF ENVELOPE (q44 precedent): 32×3 holds the per-neighbor
    * miss probability ≈ (1 − c³)³² < 5·10⁻⁴ even for the weakest true
    * top-5 cosines in the fixtures (c = 1 − θ/π ≈ 0.6 at cos ≈ 0.3), and
    * SimilarityQualitySpec asserts output equality with exact q41 at ALL
    * shipped fixtures — so the oracle is q41's exact SQL
    * ([[exactTopKSql]]). The former 16×4 geometry measured recall
    * 0.88–0.98 across fixtures and was rows-only; 3 planes × 32 tables
    * buys exactness at the fixture envelope for the same 96-plane hash
    * budget class. At 100 TB, planes deepen ~log₂(n) to hold bucket
    * occupancy and tables grow to hold the miss bound (see
    * [[neardupPairsOn]] geometry notes) — and the envelope rule demotes
    * this oracle to rows-only if a new fixture ever misses. */
  val q42 = QueryDef(
    "q42_ann_lsh",
    (spark, dir) => {
      annTopKLsh(Tables(spark, dir).embeddings, tables = 32, planesPerTable = 3)
    },
    Some(exactTopKSql))

  /** The q42 pipeline over an arbitrary `(vec_id, embedding)` frame with
    * explicit multi-table sign-LSH geometry (also the geometry probe used
    * to size the verified-SF envelope). */
  private[graft] def annTopKLsh(embeddings: org.apache.spark.sql.DataFrame,
      tables: Int, planesPerTable: Int, k: Int = 5): org.apache.spark.sql.DataFrame = {
      val em = embeddings
      val bucketed = em.select(col("vec_id"),
          posexplode(lshBucketTables(col("embedding"), tables = tables,
            planesPerTable = planesPerTable)).as(Seq("tbl", "bkt")))
      val queries = bucketed.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("tbl"), col("bkt"))
      val candIds = bucketed.join(queries, Seq("tbl", "bkt"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"))
        .distinct()
      val qVecs = em.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      candIds
        .join(broadcast(qVecs), "qid")
        .join(em, "vec_id")
        .withColumn("cos", round(cosineNative(col("qvec"), col("embedding")), 6))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .filter(col("rk") <= k)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("qid"), col("rk"))
  }

  /** The q42 ANN operator under multi-probe geometry — the regime where
    * multi-probe actually WINS wall-clock (unlike pair mining, see
    * [[neardupPairsMultiProbe]]): the INDEX side stores one exact packed
    * key per table (t tables — the memory/shuffle cost that dominates a
    * big corpus), while only the QUERY side (a handful of rows) fans out
    * to t·probes keys. Holding recall while cutting tables ~Q× shrinks
    * index hashing, index shuffle volume and state by the same factor —
    * Lv et al.'s original motivation (VLDB'07: "several times fewer
    * tables at the same recall"). Candidates collide on the packed key
    * (equi-join, never a cross product), then exact-cosine re-rank, same
    * as q42. Approximate → spec-checked (recall floor vs exact q41 in
    * SimilarityQualitySpec), not oracle-checked, like q42 itself. */
  private[graft] def annTopKMultiProbe(embeddings: org.apache.spark.sql.DataFrame,
      tables: Int, planesPerTable: Int, probes: Int, k: Int = 5): org.apache.spark.sql.DataFrame = {
      val em = embeddings
      val index = em.select(col("vec_id"),
        explode(lshProbeKeys(col("embedding"), tables, planesPerTable, 1)).as("key"))
      val queries = em.filter(col("vec_id") < 10)
      val probed = queries.select(col("vec_id").as("qid"),
        explode(lshProbeKeys(col("embedding"), tables, planesPerTable, probes)).as("key"))
      val candIds = index.join(broadcast(probed), "key")
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"))
        .distinct()
      val qVecs = queries.select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      candIds
        .join(broadcast(qVecs), "qid")
        .join(em, "vec_id")
        .withColumn("cos", round(cosineNative(col("qvec"), col("embedding")), 6))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .filter(col("rk") <= k)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
        .orderBy(col("qid"), col("rk"))
  }

  // ---------------------------------------------------------------- q84
  /** The multi-probe ANN as a driver-visible query: the end-to-end path
    * through `graft_lsh_probe_keys`
    * ([[graft.functions.expressions.LshProbeKeys]]) exercised by every
    * round's correctness artifact, not just specs. Geometry is the
    * fixture-depth policy: planesFor(n ≤ 2048) = 4 planes →
    * [[probesFor]](4) = 11 probes, and 4 index tables — the ~4× table
    * reduction over q42's 16 exact tables that multi-probe exists to
    * buy (index hashing, shuffle volume and state all shrink with it).
    *
    * VERIFIED-SF ENVELOPE (q44 precedent): at this geometry the probe
    * set covers every bucket within Hamming distance 1 plus the exact
    * bucket per table, and SimilarityQualitySpec asserts output equality
    * with exact q41 at ALL shipped fixtures — so the oracle is q41's
    * exact SQL ([[exactTopKSql]]), demote-on-miss rule applies. */
  val q84 = QueryDef(
    "q84_ann_multiprobe",
    (spark, dir) =>
      annTopKMultiProbe(
        Tables(spark, dir).embeddings.select(col("vec_id"), col("embedding")),
        tables = 4, planesPerTable = 4, probes = 11),
    Some(exactTopKSql))

  // ---------------------------------------------------------------- q43
  /** Per-label centroid, exploded to (label, dim) — a typed vector
    * aggregate done with posexplode + exact-decimal mean so the oracle
    * can replay it. */
  val q43 = QueryDef(
    "q43_label_centroid",
    (spark, dir) => {
      val em = Tables(spark, dir).embeddings
      em.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("dim", (col("dim") + 1).cast(IntegerType))
        .groupBy(col("label"), col("dim"))
        // micro-scaled integer sum: float→decimal casts disagree between
        // engines (Spark goes via the float's shortest string repr), so
        // keep the reduction integral instead.
        .agg((sum(round(col("v").cast(DoubleType) * 1000000).cast(LongType))
          .cast(DoubleType) / (count(lit(1)) * lit(1000000.0))).as("centroid"))
        .orderBy(col("label"), col("dim"))
    },
    Some("""SELECT label, CAST(i AS INT) AS dim,
      CAST(CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS DOUBLE)
        / (COUNT(*) * 1000000.0) AS centroid
    FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    GROUP BY label, i
    ORDER BY label, dim"""))

  /** Brute-force all-pairs cosine ≥ threshold — an O(n²) cross join, so
    * it is NEVER registered as a query: it exists only as the spec-side
    * ground truth (SimilarityQualitySpec asserts the registered LSH form
    * of q44 reproduces it exactly at fixture scale). */
  private[operators] def bruteForceNearDup(spark: org.apache.spark.sql.SparkSession,
      dir: String, threshold: Double): org.apache.spark.sql.DataFrame = {
    val em = Tables(spark, dir).embeddings
      .withColumn("n1", sqrt(dotNative(col("embedding"), col("embedding"))))
    val right = em.select(col("vec_id").as("vid2"),
      col("embedding").as("e2"), col("n1").as("n2"))
    em.crossJoin(right)
      .filter(col("vec_id") < col("vid2"))
      .withColumn("cos", round(
        dotNative(col("embedding"), col("e2")) / (col("n1") * col("n2")), 6))
      .filter(col("cos") >= threshold)
      .select(col("vec_id").as("vid1"), col("vid2"), col("cos"))
      .orderBy(col("vid1"), col("vid2"))
  }

  // ---------------------------------------------------------------- q44
  /** Embedding-cosine near-duplicate pairs (cos ≥ 0.45) — the scale path:
    * multi-table sign-LSH candidates (32 tables × 4 planes, equi-join on
    * (table, bucket) — no cross product anywhere, PlanSpec-asserted),
    * then exact-cosine verification on candidates only. 32×4 keeps the
    * per-pair miss probability at the 0.45 threshold ≈ (1−0.65⁴)³² < 0.3%,
    * and the fixture's qualifying pairs all collide, so the DuckDB oracle
    * remains the plain all-pairs SQL. VERIFIED-SF ENVELOPE: the oracle is
    * exact only where LSH provably loses nothing —
    * SimilarityQualitySpec asserts brute-force output equality at ALL
    * shipped fixtures (sf0.001/sf0.01/sf0.1); a new fixture or SF must
    * extend that assertion (and on a genuine miss, demote this query to
    * rows-only like q32/q42) before trusting the oracle row. */
  private[graft] def neardupPairsPipeline(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    neardupPairsOn(Tables(spark, dir).embeddings, tables = 32, planesPerTable = 4)

  /** The q44 pipeline over an arbitrary `(vec_id, embedding)` frame with
    * explicit LSH geometry — also driven by [[graft.tools.ScaleProbe]] on
    * replicated corpora. `planesPerTable` is THE corpus-size knob: each
    * table has 2^planes buckets, and candidate volume per table is
    * Σ_bucket |bucket|², so planes must grow ~log2(n) to keep bucket
    * occupancy (and therefore candidate workload) proportional to the
    * TRUE near-dup density rather than n²/2^planes. The registered q44
    * uses 32×4 — sized for the fixture envelope where the spec proves
    * exact recall; a 100 TB deployment holds recall by adding tables
    * while deepening planes (miss probability (1−cosᵖ)ᵗ). */
  /** Narrow-input guard for the pair pipelines' heavy un-shuffled map
    * work (per-row LSH hashing, candidate generation, the distinct's
    * partial aggregate) — see [[graft.Parallelism.ensure]]; measured
    * 658 s → 152 s on the f=16 ScaleProbe row. */
  private def ensureParallelism(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.Parallelism.ensure(df, col("vec_id"))

  private[graft] def neardupPairsOn(embeddings: org.apache.spark.sql.DataFrame,
      tables: Int, planesPerTable: Int,
      broadcastVerify: Boolean = false): org.apache.spark.sql.DataFrame = {
      val em = ensureParallelism(embeddings)
        .withColumn("n1", sqrt(dotNative(col("embedding"), col("embedding"))))
      // the bucket table sits on BOTH sides of the candidate self-join
      // and Spark does not dedupe identical subplans — materialize it
      // once instead of running scan + 32-table LSH hashing twice
      val bucketed = em.select(col("vec_id"),
        posexplode(lshBucketTables(col("embedding"), tables = tables,
          planesPerTable = planesPerTable)).as(Seq("tbl", "bkt")))
        .cut()
      val cands = bucketed.as("x").join(bucketed.as("y"),
          col("x.tbl") === col("y.tbl") && col("x.bkt") === col("y.bkt") &&
          col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("vid1"), col("y.vec_id").as("vid2"))
      verifyPairs(cands, em, broadcastVerify)
  }

  /** Exact-cosine verification of a RAW candidate pair stream (may
    * contain duplicates — a pair collides once per shared table/band):
    * attach both vectors, compute the rounded cosine, keep pairs at or
    * over the 0.45 threshold, dedup. The ORDER of dedup vs verify is
    * the whole game, and it flips with the join strategy:
    *
    *  - `broadcastVerify` (corpus known small — the auto policy gates on
    *    estimated broadcast bytes, n·dim·4): both attach joins broadcast, so verification is a
    *    MAP-ONLY pass over the raw candidate stream — codegen'd dot
    *    products at memory bandwidth — and only the qualifying pairs
    *    (true near-dups × band multiplicity, tiny) reach the distinct.
    *    Deduping first would instead shuffle the full raw stream — at
    *    the f=16 probe that shuffle WAS the pipeline: 278 M rows, 54 of
    *    62 s (stage-profiled round 6; this ordering removes it).
    *  - shuffled verify (the 100 TB plan — the corpus is not
    *    broadcastable): dedup FIRST, because each attach join shuffles
    *    the candidate stream and duplicates would ride through both
    *    exchanges with vectors on their backs.
    *
    * Identical output by construction: duplicates carry identical
    * (vid1, vid2) and the cosine is a pure function of the pair.
    * Stats don't pick the strategy automatically — the corpus side is
    * usually a checkpoint (LogicalRDD), whose size Catalyst treats as
    * unknown. */
  private def verifyPairs(cands: org.apache.spark.sql.DataFrame,
      em: org.apache.spark.sql.DataFrame,
      broadcastVerify: Boolean): org.apache.spark.sql.DataFrame = {
      def side(df: org.apache.spark.sql.DataFrame) =
        if (broadcastVerify) broadcast(df) else df
      val left = side(em.select(col("vec_id").as("vid1"),
        col("embedding").as("e1"), col("n1")))
      val right = side(em.select(col("vec_id").as("vid2"),
        col("embedding").as("e2"), col("n1").as("n2")))
      val in = if (broadcastVerify) cands else cands.distinct()
      val verified = in.join(left, "vid1").join(right, "vid2")
        .withColumn("cos", round(
          dotNative(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
        .filter(col("cos") >= 0.45)
        .select(col("vid1"), col("vid2"), col("cos"))
      if (broadcastVerify) verified.distinct() else verified
  }

  /** Near-dup pairs via multi-probe sign-LSH (Lv et al. VLDB'07):
    * probe keys on the query side equi-joined to exact-bucket keys on
    * the index side — never a cross product. One hashing pass computes
    * the full probe-key array per row ([[graft.functions.expressions.LshProbeKeys]]
    * — table-major, exact bucket first per table); the index side
    * extracts each table's exact key from that same materialized array,
    * so the corpus is hashed once, not twice.
    *
    * A pair (a, b) is emitted when a's probe set hits b's exact bucket
    * in ANY table (or vice versa — both directions are joined by
    * construction since every row appears on both sides). Multi-probe's
    * trade, stated honestly for PAIR MINING: probing Q buckets per table
    * multiplies random-collision candidates by ~Q at fixed (t, p) while
    * raising the per-table hit rate, so its win over exact buckets is
    * NOT candidate volume — it is table count: the miss bound is held
    * with ~Q× fewer tables, cutting per-row hashing cost (t·p·dim) and
    * index size by the same factor. That is what lets the depth policy
    * keep growing past [[MaxTables]] (see [[tablesForMultiProbe]]),
    * where exact-bucket compensation would need tens of thousands of
    * tables. */
  private[graft] def neardupPairsMultiProbe(embeddings: org.apache.spark.sql.DataFrame,
      tables: Int, planesPerTable: Int, probes: Int,
      broadcastVerify: Boolean = false): org.apache.spark.sql.DataFrame = {
      val em = ensureParallelism(embeddings)
        .withColumn("n1", sqrt(dotNative(col("embedding"), col("embedding"))))
      val e = math.min(probes, 1 << math.min(30, planesPerTable))
      // one hashing pass: the probe-key array feeds BOTH join sides
      val keyed = em.select(col("vec_id"),
        lshProbeKeys(col("embedding"), tables, planesPerTable, probes).as("keys"))
        .cut()
      // index side: each table's exact bucket = entry t·e of the array
      // (1-based element_at), already packed with the table id
      val exact = keyed.select(col("vec_id"),
        explode(transform(sequence(lit(0), lit(tables - 1)),
          t => element_at(col("keys"), t * e + 1))).as("key"))
      val probed = keyed.select(col("vec_id").as("pid"),
        explode(col("keys")).as("key"))
      val cands = probed.join(exact, "key")
        .filter(col("pid") =!= col("vec_id"))
        .select(least(col("pid"), col("vec_id")).as("vid1"),
          greatest(col("pid"), col("vec_id")).as("vid2"))
      verifyPairs(cands, em, broadcastVerify)
  }

  /** Sign-LSH collision probability of a pair at exactly the 0.45
    * cosine threshold: 1 − θ/π with θ = arccos(0.45) (Goemans–Williamson
    * / Charikar random-hyperplane bound) ≈ 0.6486 per plane. */
  private[graft] val collisionAtThreshold: Double =
    1.0 - math.acos(0.45) / math.Pi

  /** THE corpus-size knob, as a policy instead of a hand pick: planes
    * per table ≈ log2(n / 128), clamped to [4, 20] — each table has
    * 2^planes buckets, so this holds expected bucket occupancy near 128
    * vectors and candidate volume per table (Σ_bucket |bucket|²) tracks
    * ~128·n instead of degrading toward n²/2^planes as the corpus
    * grows. BASELINE.md's ann section measures exactly this: fixed
    * depth goes quadratic at 16× corpus, occupancy-held depth stays
    * ~linear. */
  private[graft] def planesFor(n: Long): Int =
    math.min(20, math.max(4,
      math.ceil(math.log(n / 128.0) / math.log(2)).toInt))

  /** Table-count compensation: deeper planes lower per-table recall
    * (a qualifying pair collides in one table w.p. r^p, r =
    * [[collisionAtThreshold]]), so tables grow to hold the per-pair
    * miss probability (1 − r^p)^t at or under `missProb`:
    * t = ⌈ln(missProb) / ln(1 − r^p)⌉. At the fixture depth p = 4 this
    * yields exactly the registered q44 geometry (32 tables — the
    * configuration whose output equality against brute force is
    * spec-proven), anchoring the policy to the verified envelope.
    *
    * Growth is the honest LSH trade, not linear: t ≈ ln(1/ε)·r^−p, and
    * with p = log2(n/128) that is t ∝ (n/128)^log2(1/r) ≈ (n/128)^0.63
    * at this threshold — total candidate volume ≈ t·128·n ∝ n^1.63, the
    * classic sub-quadratic random-hyperplane exponent (vs n² for exact
    * all-pairs; cf. Indyk–Motwani's ρ trade-off). `missProb` is the
    * cost lever: a run that tolerates 2% misses instead of 0.2% cuts
    * tables ~1.6×. The exact-bucket compensation is capped at
    * [[MaxTables]]: past the depth where it would need more (p ≥ 15 at
    * the default missProb), callers must either loosen `missProb`, hold
    * planes, or switch to the multi-probe form
    * ([[tablesForMultiProbe]]/[[probesFor]]) — which is exactly what
    * [[neardupPairsAuto]] does. The ScaleProbe envelope (up to 32k
    * vectors ×196 tables) is where the policy is measured. */
  private[graft] def tablesFor(planes: Int, missProb: Double = 0.002): Int = {
    require(missProb > 0 && missProb < 1, s"missProb must be in (0,1): $missProb")
    val t = math.ceil(math.log(missProb) /
      math.log1p(-math.pow(collisionAtThreshold, planes))).toInt
    require(t <= MaxTables,
      s"tablesFor(planes=$planes, missProb=$missProb) = $t exceeds MaxTables=$MaxTables: " +
        "use the multi-probe geometry (tablesForMultiProbe/probesFor), a larger " +
        "missProb, or hold planes")
    t
  }

  /** Hard ceiling on hash-table count for any geometry the policies
    * emit: past it, per-row hashing cost (tables·planes·dim) and index
    * size stop being rounding errors next to the candidate workload —
    * the multi-probe path exists precisely to keep the miss bound
    * without crossing it. */
  private[graft] val MaxTables = 4096

  /** Per-table hit probability for a threshold pair under `probes`
    * query-directed probes at depth `planes` — the multi-probe analogue
    * of r^p. Model: each plane of the pair's bucket difference flips
    * independently w.p. 1 − r (r = [[collisionAtThreshold]]); the probe
    * sequence covers the `probes` most-likely flip patterns, so coverage
    * is the cumulative probability of the `probes` highest-probability
    * patterns (sizes ascending — fewer flips are always likelier since
    * r > ½). This is the static size-ordered bound; the expression's
    * margin-directed ordering (Lv VLDB'07) probes the patterns most
    * likely FOR THAT ROW first, so measured recall sits at or above it
    * (asserted at fixture scale in SimilarityQualitySpec). With
    * probes = 1 this is exactly r^p, anchoring the multi-probe policy to
    * [[tablesFor]]'s. */
  private[graft] def perTableHit(planes: Int, probes: Int): Double = {
    val stay = collisionAtThreshold
    val flip = 1.0 - stay
    var cover = 0.0
    var remaining = probes.toDouble
    var choose = 1.0 // C(planes, s)
    var s = 0
    while (s <= planes && remaining > 0) {
      val take = math.min(choose, remaining)
      cover += take * math.pow(flip, s) * math.pow(stay, planes - s)
      remaining -= take
      choose = choose * (planes - s) / (s + 1)
      s += 1
    }
    math.min(cover, 1.0)
  }

  /** Probe-count policy: the exact bucket plus every 1-flip and 2-flip
    * perturbation — 1 + p + C(p,2) probes. Two flips is where the
    * coverage-per-probe curve knees at this threshold's flip rate
    * (~0.35): ≤2-flip patterns carry the bulk of the miss mass at every
    * depth the policy can emit, while 3-flip sets add ~p³/6 probes for a
    * few points of per-table hit. */
  private[graft] def probesFor(planes: Int): Int =
    1 + planes + planes * (planes - 1) / 2

  /** Table-count compensation for the multi-probe geometry: smallest t
    * with (1 − [[perTableHit]])^t ≤ missProb. At p = 20 (the depth
    * clamp, corpus ≈ 10⁸ vectors at 128-occupancy) this is ~533 tables
    * where exact buckets would need ~36k — the ~Q× table reduction that
    * is multi-probe's actual win (hashing and index size, not candidate
    * volume; see [[neardupPairsMultiProbe]]). */
  private[graft] def tablesForMultiProbe(planes: Int, probes: Int,
      missProb: Double = 0.002): Int = {
    require(missProb > 0 && missProb < 1, s"missProb must be in (0,1): $missProb")
    val t = math.ceil(math.log(missProb) /
      math.log1p(-perTableHit(planes, probes))).toInt
    require(t <= MaxTables,
      s"tablesForMultiProbe(planes=$planes, probes=$probes) = $t exceeds MaxTables")
    t
  }

  /** Deepest plane count where the exact-bucket compensation stays
    * under [[MaxTables]] at the default miss bound; beyond it the auto
    * policy switches to multi-probe. */
  private[graft] val ExactDepthLimit: Int =
    (4 to 20).takeWhile(p => math.ceil(math.log(0.002) /
      math.log1p(-math.pow(collisionAtThreshold, p))) <= MaxTables).last

  /** Byte budget for broadcasting the corpus in the verify joins: the
    * attach relation is ~n·dim·4 bytes of float payload (per-row id +
    * array overhead absorbed by the margin to executor memory). Gating
    * on BYTES, with the dimension probed from one corpus row, keeps the
    * gate honest for arbitrary embedding widths — at 64-dim (256 B/row)
    * the cutoff is 64 MiB / 256 B = 262,144 rows, a hair above the
    * former 250,000-row gate (the 64 MiB budget is the round number;
    * the old row count was its approximation), while a 1024-dim corpus
    * just under 250k rows (a ~1 GB relation that would have been
    * broadcast on BOTH attach joins) now takes the shuffled path. */
  private[graft] val BroadcastVerifyMaxBytes = 64L << 20

  /** The byte-gate as a row predicate: n rows of `dim`-wide float
    * embeddings fit the broadcast-verify budget. */
  private[graft] def broadcastVerifyFits(n: Long, dim: Int): Boolean =
    dim > 0 && n * dim.toLong * 4L <= BroadcastVerifyMaxBytes

  /** Embedding width probed from one row — 0 on an empty frame OR when
    * the sampled row's embedding is null (size(null) is SQL NULL): both
    * fall through to the shuffled path, never an NPE. */
  private[graft] def probeDim(em: org.apache.spark.sql.DataFrame): Int =
    em.select(size(col("embedding"))).limit(1).collect()
      .headOption.collect { case r if !r.isNullAt(0) => r.getInt(0) }
      .getOrElse(0)

  /** The documented default entry point for arbitrary corpora: q44's
    * pipeline under the occupancy-held geometry. The input is
    * materialized ONCE ([[graft.Materialize.cut]]) and that cut feeds
    * both the row count and the pipeline — the corpus is never scanned
    * twice (SimilarityQualitySpec pins the returned plan to the cut:
    * zero file scans). Geometry: planes from [[planesFor]]; tables from
    * [[tablesFor]] while the exact-bucket compensation fits
    * [[MaxTables]] (p ≤ [[ExactDepthLimit]]), else the multi-probe
    * geometry ([[probesFor]] × [[tablesForMultiProbe]]) — same miss
    * bound, ~Q× fewer tables. The registered q44 keeps its explicit
    * proven-exact 32×4 (which this policy reproduces at fixture scale,
    * since planesFor(n ≤ 2048) = 4); a new deployment at a new corpus
    * size starts here instead of hand-picking. */
  def neardupPairsAuto(embeddings: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    neardupPairsAutoImpl(embeddings, ExactDepthLimit)

  /** [[neardupPairsAuto]] with an injectable depth wall — a SPEC HOOK,
    * never a tuning knob: the production wall ([[ExactDepthLimit]], p ≥ 15)
    * engages only at corpora ≳2M vectors, unreachable by any fixture, so
    * the switched multi-probe branch is executed end-to-end by shrinking
    * the wall below the fixture depth instead (SimilarityQualitySpec
    * asserts the switched branch reproduces the exact-bucket pair set
    * and brute force at planesFor(fixture) = 4). */
  private[graft] def neardupPairsAutoImpl(embeddings: org.apache.spark.sql.DataFrame,
      exactDepthLimit: Int): org.apache.spark.sql.DataFrame = {
    val em = graft.Materialize.cut(embeddings)
    val n = em.count()
    val p = planesFor(n)
    val bcast = broadcastVerifyFits(n, probeDim(em))
    if (p <= exactDepthLimit)
      neardupPairsOn(em, tables = tablesFor(p), planesPerTable = p,
        broadcastVerify = bcast)
    else
      neardupPairsMultiProbe(em, tables = tablesForMultiProbe(p, probesFor(p)),
        planesPerTable = p, probes = probesFor(p), broadcastVerify = bcast)
  }

  /** Memoized materialized view of the near-dup pair set per
    * (session, dir): q44 (the pair output) and q70 (the cluster keeper)
    * consume the identical set, so it is computed once and checkpointed —
    * the same materialized-view pattern as [[Dedup.clusterLabels]], with
    * the same stopped-session eviction. Plan guards must inspect
    * [[neardupPairsPipeline]] (pre-checkpoint): the checkpoint truncates
    * executed plans. */
  private[graft] val neardupPairs =
    graft.View("neardup_pairs")((spark, dir) => neardupPairsPipeline(spark, dir).cut())

  /** The embedding CLUSTER LABELS as their own memoized view (round-17
    * optimization; the [[Dedup.clusterLabels]] convention): q70 (keeper
    * table), q187 (SemDeDup prune) and q130 (c-TF-IDF labeling) all run
    * connected components over the identical memoized pair set — a
    * driver union-find under the vertex-broadcast gate, a convergence
    * loop of per-round jobs above it — built once, not per consumer. The bench times the propagation itself as the
    * `view_embed_labels` line item (invalidate + recompute). Returns
    * `(id, lbl)`, the raw [[Dedup.propagateMinLabels]] surface —
    * consumers rename. */
  private[graft] val embedClusterLabels =
    graft.View("embed_labels", Seq(neardupPairs)) { (spark, dir) =>
      val em = graft.Tables(spark, dir).embeddings
      Dedup.propagateMinLabels(em.select(col("vec_id").as("id")),
        neardupPairs(spark, dir).select(col("vid1"), col("vid2")))
    }

  val q44 = QueryDef(
    "q44_embedding_neardup",
    (spark, dir) =>
      neardupPairs(spark, dir).orderBy(col("vid1"), col("vid2")),
    Some(s"""SELECT a.vec_id AS vid1, b.vec_id AS vid2,
      ROUND(${sqlCos("a.embedding", "b.embedding")}, 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(${sqlCos("a.embedding", "b.embedding")}, 6) >= 0.45
    ORDER BY vid1, vid2"""))

  // --------------------------------------------------------------- q147
  /** The accumulated corpus SIGNATURE STORE: one (tbl, bkt) LSH key per
    * table per corpus vector. In the daily deployment this is a LANDED
    * table the increment job appends to — built once per corpus state,
    * never rebuilt per query (ScaleProbe's `edelta` mode measures
    * exactly that reuse); at 100 TB it is bucketed by (tbl, bkt) so the
    * delta probe prunes to its own buckets. */
  private[graft] def embedSignatureStore(corpus: org.apache.spark.sql.DataFrame,
      tables: Int, planesPerTable: Int): org.apache.spark.sql.DataFrame = {
    corpus.select(col("vec_id"),
      posexplode(lshBucketTables(col("embedding"), tables = tables,
        planesPerTable = planesPerTable)).as(Seq("tbl", "bkt")))
  }

  /** Incremental delta-vs-corpus embedding near-dedup — q93's
    * daily-increment discipline applied to q44's vector pairs: today's
    * NEW vectors are LSH-equi-joined against the corpus signature
    * store; the corpus is NEVER self-joined and never re-verified
    * against itself (its internal pairs were settled when each past
    * increment landed). Candidates = delta keys ⋈ store keys on
    * (tbl, bkt) — an equi-join, no cross product (PlanSpec-guarded) —
    * then id-dedup and exact-cosine verify on candidates only, exactly
    * q44's shuffled-verify ordering. The delta side is a daily
    * increment (≪ corpus) so its hashing cost is the run's fixed cost;
    * the verify attach joins a candidate stream to the two vector
    * tables by id — AQE broadcasts the (small) candidate/delta sides,
    * so the corpus contributes one map-side lookup scan, not a
    * shuffle. */
  private[graft] def incrementalEmbedPairs(corpus: org.apache.spark.sql.DataFrame,
      store: org.apache.spark.sql.DataFrame,
      delta: org.apache.spark.sql.DataFrame,
      tables: Int, planesPerTable: Int): org.apache.spark.sql.DataFrame = {
    val deltaKeys = delta.select(col("vec_id").as("delta_id"),
      posexplode(lshBucketTables(col("embedding"), tables = tables,
        planesPerTable = planesPerTable)).as(Seq("tbl", "bkt")))
    val cands = deltaKeys.join(store, Seq("tbl", "bkt"))
      .select(col("delta_id"), col("vec_id").as("corpus_id"))
      .distinct()
    val d = delta.select(col("vec_id").as("delta_id"), col("embedding").as("de"),
      sqrt(dotNative(col("embedding"), col("embedding"))).as("dn"))
    val c = corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("ce"),
      sqrt(dotNative(col("embedding"), col("embedding"))).as("cn"))
    cands.join(d, "delta_id").join(c, "corpus_id")
      .withColumn("cos", round(
        dotNative(col("de"), col("ce")) / (col("dn") * col("cn")), 6))
      .filter(col("cos") >= 0.45)
      .select(col("delta_id"), col("corpus_id"), col("cos"))
  }

  /** q147 registered form: the q93/q62 md5-bucket boundary splits the
    * fixture into corpus (~80%) and delta (~20%); geometry is q44's
    * proven-exact 32×4.
    *
    * VERIFIED-SF ENVELOPE (q44 precedent, inherited by construction):
    * the q44 envelope spec asserts that at every shipped fixture EVERY
    * pair with cos ≥ 0.45 collides under 32×4 — the delta-corpus pairs
    * are a subset of those pairs, so the exact all-pairs SQL below is
    * a valid oracle wherever q44's is; the demote-on-miss rule rides
    * the same spec. SimilarityQualitySpec additionally asserts q147 ≡
    * the brute-force delta×corpus pair set at every fixture. */
  val q147 = QueryDef(
    "q147_incremental_embed_dedup",
    (spark, dir) => {
      val em = Tables(spark, dir).embeddings
      val bucket = Det.md5Bucket(col("vec_id"))
      val corpus = em.filter(bucket < Dedup.DeltaBucketThreshold)
      val delta = em.filter(bucket >= Dedup.DeltaBucketThreshold)
      // materialize the (tiny) result before the total sort — q93's
      // range-sampling re-execution guard
      incrementalEmbedPairs(corpus, embedSignatureStore(corpus, 32, 4),
          delta, 32, 4)
        .cut()
        .orderBy(col("delta_id"), col("corpus_id"))
    },
    Some(s"""SELECT a.vec_id AS delta_id, b.vec_id AS corpus_id,
      ROUND(${sqlCos("a.embedding", "b.embedding")}, 6) AS cos
    FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    WHERE CAST('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 4) AS INTEGER) >= 52429
      AND CAST('0x' || substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 4) AS INTEGER) < 52429
      AND ROUND(${sqlCos("a.embedding", "b.embedding")}, 6) >= 0.45
    ORDER BY delta_id, corpus_id"""))

  // ---------------------------------------------------------------- q60
  /** IVF-style ANN — the second scale path next to q42's sign-LSH, per
    * SURVEY §2.2 ("an IVF or LSH-bucketed variant"). A coarse k-means
    * quantizer (K=16, 2 deterministic Lloyd rounds) partitions the corpus
    * into cells; each query probes its `nprobe`=4 nearest cells and
    * exact-cosine re-ranks only those candidates.
    *
    * Scale design: centroids are MODEL STATE, not data — 16×64 floats
    * collected to the driver per round and re-broadcast as literals
    * (exactly how distributed k-means works; the corpus itself is only
    * ever scanned map-only with codegen'd `graft_dot` distances). Cell
    * assignment is shuffle-free; the only shuffles are the per-cell mean
    * (partial-aggregated, K·dim groups) and the probe equi-join on cell
    * id, whose fan-in is bounded by nprobe/K of the corpus per query.
    * At 100 TB, K grows to thousands and the same plan holds.
    *
    * Determinism: seeds are the K lowest vec_ids; means use the
    * micro-scaled integer sum (no float reduction order); distance ties
    * break to the lowest cell index. Approximate → rows-only check;
    * recall vs exact q41 is asserted in SimilarityQualitySpec. */
  /** The n nearest cells of a row's embedding, with the K×dim centroid
    * model baked in as ONE nested literal — the native
    * `graft_nearest_cells` replaces the composed
    * array_sort(array(struct(||c||²−2⟨v,c⟩, i), …K…)) column, whose
    * K·dim-leaf tree forced a fresh multi-thousand-node Janino compile
    * every Lloyd round (the measured dominant cost of this query);
    * distances fold identically (spec-asserted parity), so assignments
    * are bit-for-bit unchanged. */
  private def cellsOf(cs: Array[Array[Float]], n: Int): org.apache.spark.sql.Column =
    call_function("graft_nearest_cells", col("embedding"),
      typedLit(cs.map(_.toSeq).toSeq), lit(n))
  private def assignCol(cs: Array[Array[Float]]): org.apache.spark.sql.Column =
    element_at(cellsOf(cs, 1), 1)

  /** Coarse k-means quantizer (deterministic 2-round Lloyd), trained on
    * a BOUNDED deterministic sample — never a materialization of the
    * full corpus: a coarse quantizer needs a representative sample, not
    * every row, so the training frame is capped at ~`maxTrain` rows via
    * an md5-bucket filter on vec_id (determinism contract rule 9; no
    * `rand()`, stable under task retry). Corpora at or under the cap
    * train on everything — which keeps the registered q60's output
    * bit-identical at every shipped SF — while a 100 TB corpus trains on
    * a fixed-size sample whose cost does NOT grow with the corpus
    * (measured flat by ScaleProbe's ann section). Only the sample is
    * materialized ([[graft.Materialize.cut]] — bounded blocks); the full
    * corpus is scanned exactly once afterwards, by the assignment pass.
    *
    * Seeds are the k lowest vec_ids of the training sample; means use
    * the micro-scaled integer sum (no float reduction order). Returns
    * the K×dim centroid model — driver-side MODEL STATE (k·dim floats),
    * exactly how distributed k-means works. */
  /** The bounded training frame (materialized) + whether sampling
    * engaged: at or under the cap the WHOLE corpus is the training frame
    * (so fixture outputs stay bit-identical to full-corpus training, and
    * [[ivfTopK]] reuses the materialization for the assignment pass
    * instead of re-scanning the source); over the cap, a deterministic
    * md5-bucket filter keeps ~`maxTrain` rows and only THAT bounded
    * sample is ever materialized. */
  private def trainingFrame(emAll: org.apache.spark.sql.DataFrame,
      maxTrain: Long): (org.apache.spark.sql.DataFrame, Boolean, Long) = {
    val n = emAll.count()
    if (n <= maxTrain) (graft.Materialize.cut(emAll), false, n)
    else (graft.Materialize.cut(
      emAll.filter(Det.md5Bucket(col("vec_id")) < lit(65536L * maxTrain / n))), true, n)
  }

  /** IVF cell-count policy: K ≈ √n (clamped to [16, 65536]) — the
    * standard square-root rule. Per-query probe work scans ~nprobe/K of
    * the corpus (falls as K grows) while per-row assignment costs K·dim
    * multiplies (grows with K); the two balance at K ∝ √n, and the
    * centroid model stays driver-sized (K·dim floats — ~8 MB at the
    * clamp, broadcast like any dimension table). The registered q60
    * keeps its fixture-pinned K=16 (its recall spec is calibrated
    * there); [[ivfTopKAuto]] is the corpus-size entry point, measured in
    * ScaleProbe's ivf section — probe cost flat-or-falling as K scales
    * with the corpus is the recorded claim (BASELINE.md). */
  private[graft] def cellsFor(n: Long): Int =
    math.min(65536, math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))

  /** One Lloyd round's per-cell means as ONE ROW PER CELL: the exact
    * integer-scaled per-(cell, dim) mean (bit-identical to the original
    * exploded form — the repack below never touches the values), then a
    * second aggregation that packs each cell's (dim, mean) pairs into a
    * dim-sorted array. The driver therefore collects ≤ K rows of arrays —
    * K·dim FLOATS of model state, never K·dim Row objects: at the
    * [[cellsFor]] clamp (K = 65536, dim 64) that is the difference
    * between ~16 MB of payload and 4.2M driver-side Rows per round.
    * `array_sort` on `struct(dimm, c)` orders by the leading field, so
    * the packed array is deterministic regardless of aggregation order. */
  private[graft] def cellDimMeans(train: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Float]]): org.apache.spark.sql.DataFrame =
    train.select(assignCol(centroids).as("cell"),
        posexplode(col("embedding")).as(Seq("dimm", "v")))
      .groupBy(col("cell"), col("dimm"))
      .agg((sum(round(col("v").cast(DoubleType) * 1000000).cast(LongType))
        .cast(DoubleType) / (count(lit(1)) * lit(1000000.0))).as("c"))

  private[graft] def cellMeansFrame(train: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Float]]): org.apache.spark.sql.DataFrame =
    cellDimMeans(train, centroids)
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dimm"), col("c")))).as("ms"))

  /** Deterministic 2-round Lloyd over a (materialized) training frame.
    * Seeds are its k lowest vec_ids; an md5-bucket sample is binomial,
    * so a tight cap can land under k — the quantizer then simply has
    * fewer cells (loud failure only on an empty frame), and
    * [[graft.functions.expressions.NearestCells]] probes min(n, cells). */
  private def lloyd(train: org.apache.spark.sql.DataFrame,
      k: Int): Array[Array[Float]] = {
      var centroids: Array[Array[Float]] = train
        .orderBy(col("vec_id")).limit(k).collect()
        .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      require(centroids.nonEmpty, "ivf quantizer: empty training frame")
      val kEff = centroids.length
      val dim = centroids(0).length
      // 2 Lloyd rounds: map-only assign, exact-integer per-cell mean,
      // collected as one packed array row per non-empty cell
      for (_ <- 0 until 2) {
        val means = cellMeansFrame(train, centroids)
          .collect()
          .map { r =>
            val arr = new Array[Float](dim)
            r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("ms")
              .foreach(s => arr(s.getInt(0)) = s.getDouble(1).toFloat)
            r.getInt(0) -> arr
          }.toMap
        centroids = Array.tabulate(kEff)(i => means.getOrElse(i, centroids(i)))
      }
      centroids
  }

  private[graft] def trainQuantizer(emAll: org.apache.spark.sql.DataFrame,
      k: Int, maxTrain: Long): Array[Array[Float]] = {
      lloyd(trainingFrame(emAll, maxTrain)._1, k)
  }

  /** [[ivfTopK]] under the K ≈ √n policy ([[cellsFor]]): one count
    * decides the cell count, then the standard sample-train → assign →
    * probe pipeline runs with it. */
  private[graft] def ivfTopKAuto(emAll: org.apache.spark.sql.DataFrame,
      nprobe: Int = 4, maxTrain: Long = 65536L): org.apache.spark.sql.DataFrame = {
      val (train, sampled, n) = trainingFrame(emAll, maxTrain)
      val centroids = lloyd(train, cellsFor(n))
      ivfProbe(if (sampled) emAll else train, centroids, nprobe)
  }

  /** Assignment + probe over a trained centroid model: map-only cell
    * assignment of `base`, each query joined to its `nprobe` nearest
    * cells on cell id (the equi-join PlanSpec asserts), exact-cosine
    * re-rank of the probed candidates only. Querying the full corpus
    * here costs two scans of `base` (index side + the pushdown-pruned
    * query side) — deliberately NOT a full-corpus materialization, which
    * is exactly what the sample-trained design exists to avoid. */
  /** The probe equi-join before re-ranking: corpus assigned to cells
    * map-only, each query joined to its `nprobe` nearest cells — one
    * candidate row per (query, corpus vector in a probed cell). Exposed
    * so ScaleProbe can measure candidate volume (∝ nprobe/K of the
    * corpus per query) separately from assignment cost (∝ K·dim per
    * corpus row) — the two sides of the K trade. */
  private[graft] def ivfCandidates(base: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Float]], nprobe: Int): org.apache.spark.sql.DataFrame = {
      val index = base.select(col("vec_id"), col("embedding"),
        assignCol(centroids).as("cell"))
      val qs = base.filter(col("vec_id") < 10)
      val probes = qs.select(col("vec_id").as("qid"),
          col("embedding").as("qvec"),
          explode(cellsOf(centroids, nprobe)).as("cell"))
      index.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("qid"))
  }

  private[graft] def ivfProbe(base: org.apache.spark.sql.DataFrame,
      centroids: Array[Array[Float]], nprobe: Int): org.apache.spark.sql.DataFrame = {
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      ivfCandidates(base, centroids, nprobe)
        .withColumn("cos", round(cosineNative(col("qvec"), col("embedding")), 6))
        .withColumn("rk", row_number().over(w).cast(IntegerType))
        .filter(col("rk") <= 5)
        .select(col("qid"), col("rk"), col("vec_id"), col("cos"))
  }

  /** IVF ANN over an arbitrary `(vec_id, embedding)` frame: sample-train
    * the coarse quantizer, assign the full corpus to cells map-only,
    * probe each query's `nprobe` nearest cells via the equi-join on cell
    * id. When the corpus fits the training cap, the training
    * materialization IS the corpus and feeds the probe directly (one
    * source scan total); above the cap the raw frame feeds the probe and
    * only the bounded sample is materialized. Also driven by
    * [[graft.tools.ScaleProbe]] on replicated corpora. */
  /** Below this corpus size an IVF index is counterproductive: with K=16
    * cells the average cell holds < 64 vectors, so a 4-cell probe covers
    * only ~a quarter of a corpus that an exhaustive re-rank would scan in
    * the same stage anyway — the standard ANN-library guidance (brute
    * force under ~10⁴ vectors). Under the floor the probe widens to ALL
    * cells, which is an exact exhaustive re-rank through the identical
    * plan; above it the genuine `nprobe` engages (sf0.1's 2000-vector
    * corpus runs real 4-of-16 IVF and still matches exact top-5 —
    * measured by `ScaleProbe <dir> ivfenvelope`, asserted in
    * SimilarityQualitySpec). */
  private[graft] val IvfFullProbeFloor = 1024L

  private[graft] def ivfTopK(emAll: org.apache.spark.sql.DataFrame,
      k: Int, nprobe: Int, maxTrain: Long): org.apache.spark.sql.DataFrame = {
      val (train, sampled, n) = trainingFrame(emAll, maxTrain)
      val centroids = lloyd(train, k)
      val np = if (n < IvfFullProbeFloor) k else nprobe
      ivfProbe(if (sampled) emAll else train, centroids, np)
  }

  /** q60 up to (but not including) the result materialization + total
    * sort — the plan PlanSpec inspects (the checkpoint in the registered
    * query truncates lineage, which would make plan assertions vacuous).
    * The 65536-row training cap sits far above every shipped fixture, so
    * fixture corpora train on all rows (bit-identical to full-corpus
    * training) while the cap is what a 100 TB run would rely on. */
  private[graft] def q60Pipeline(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    ivfTopK(Tables(spark, dir).embeddings, k = 16, nprobe = 4, maxTrain = 65536L)

  /** VERIFIED-SF ENVELOPE (q42/q84 protocol): under the
    * [[IvfFullProbeFloor]] the probe is exhaustive (exact by
    * construction — sf0.001/sf0.01); above it the genuine 4-of-16 probe
    * is MEASURED exact at sf0.1 (`ScaleProbe <dir> ivfenvelope`) and
    * spec-asserted at all shipped fixtures in SimilarityQualitySpec — so
    * the oracle is q41's exact top-5 SQL, demote-on-miss rule applies. */
  val q60 = QueryDef(
    "q60_ivf_ann",
    (spark, dir) =>
      // materialize the 50-row result before the total sort — range
      // partitioning samples its child, which would re-execute the
      // assignment + probe chain
      q60Pipeline(spark, dir).cut().orderBy(col("qid"), col("rk")),
    Some(exactTopKSql))

  // ---------------------------------------------------------------- q59
  /** Typed custom aggregate ([[graft.functions.VectorCentroid]], the
    * `Aggregator` slot from SURVEY §2.2) reachable through the driver
    * contract: per-label centroid as a single vector-typed agg buffer
    * (map-side combined like any built-in agg). The buffer accumulates
    * micro-scaled integers (the determinism contract's rule applied
    * inside the Aggregator), so the result is merge-order-free and
    * bit-identical to q43's exploded integer-scaled form — the output is
    * posexploded to the same (label, dim, centroid) scalar shape and
    * oracle-checked against q43's exact SQL. What q59 verifies beyond
    * q43 is the MACHINERY: the typed KeyValueGroupedDataset.agg path
    * with a custom buffer encoder, not posexplode + built-in sum. */
  val q59 = QueryDef(
    "q59_vector_centroid",
    (spark, dir) => {
      import spark.implicits._
      val em = Tables(spark, dir).embeddings
      val dim = 64
      val cent = em.select(col("label"), col("embedding"))
        .as[(Int, Seq[Float])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(new graft.functions.VectorCentroid(dim).toColumn.name("centroid"))
        .toDF("label", "centroid")
      cent.select(col("label"), posexplode(col("centroid")).as(Seq("dim", "centroid")))
        .withColumn("dim", (col("dim") + 1).cast(IntegerType))
        .orderBy(col("label"), col("dim"))
    },
    Some(q43.oracle.get))

  // ---------------------------------------------------------------- q79
  /** L2 unit-normalization of the embedding corpus — the standard
    * preprocessing step before any cosine-metric index (after it, cosine
    * = dot, which is what production ANN systems actually compute).
    * Output per vector: its norm and the normalized vector, both in the
    * determinism contract's integer micro-scale (rule 2: never
    * float→decimal; rule on array outputs: scalar columns only, so the
    * unit vector is emitted comma-joined like q59's centroid).
    *
    * Parity: each element folds as round((double(x) / sqrt(⟨v,v⟩)) · 1e6)
    * with the [[graft.functions.VectorOps.dotNative]] sequential double
    * fold on the Spark side and DuckDB's bit-identical
    * `list_dot_product` on the oracle side.
    *
    * Scale: map-only scan (the per-element lambda is interpreted but
    * cold — 64 evals/row outside any join or agg); one output sort. */
  val q79 = QueryDef(
    "q79_unit_norm",
    (spark, dir) => {
      val em = Tables(spark, dir).embeddings
      val norm = sqrt(dotNative(col("embedding"), col("embedding")))
      em.select(col("vec_id"),
          round(norm * 1000000).cast(LongType).as("norm_micro"),
          concat_ws(",", transform(col("embedding"),
            x => round(x.cast(DoubleType) / norm * 1000000)
              .cast(LongType).cast("string"))).as("unit_micro"))
        .orderBy(col("vec_id"))
    },
    Some(s"""SELECT vec_id,
      CAST(ROUND(sqrt(${sqlDot("embedding", "embedding")}) * 1000000) AS BIGINT)
        AS norm_micro,
      array_to_string(list_transform(embedding,
        x -> CAST(ROUND(CAST(x AS DOUBLE)
          / sqrt(${sqlDot("embedding", "embedding")}) * 1000000) AS BIGINT)), ',')
        AS unit_micro
    FROM embeddings
    ORDER BY vec_id"""))

  // ---------------------------------------------------------------- q70
  /** Embedding dedup ENDPOINT: near-dup pairs (q44's LSH + exact-verify
    * pipeline) → connected components → one keeper per cluster — the
    * same pair→cluster→keep-one closure q55 provides for text, for the
    * embedding modality. Reuses [[Dedup.propagateMinLabels]] (driver
    * union-find under the vertex-broadcast gate; above it equi-join
    * Pregel rounds, never a cartesian — asserted by PlanSpec on the
    * pre-checkpoint [[Dedup.propagationRound]] and
    * [[neardupPairsPipeline]] plans; this query's own executed plan is a
    * truncated checkpoint scan). Oracle: min reachable id over the exact all-pairs
    * cos ≥ 0.45 graph via a recursive CTE; exactness inherits q44's
    * verified-SF envelope (its LSH pipeline loses no qualifying pair at
    * the shipped fixtures — SimilarityQualitySpec). */
  val q70 = QueryDef(
    "q70_embedding_clusters",
    (spark, dir) =>
      embedClusterLabels(spark, dir)
        .select(col("id").as("vec_id"), col("lbl").as("keeper"),
          (col("id") === col("lbl")).as("kept"))
        .orderBy(col("vec_id")),
    Some(s"""WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(${sqlCos("a.embedding", "b.embedding")}, 6) >= 0.45),
    edges AS (
      SELECT v1 AS src, v2 AS dst FROM pairs
      UNION ALL SELECT v2, v1 FROM pairs),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM embeddings
      UNION
      SELECT e.dst AS id, reach.r AS r
      FROM reach JOIN edges e ON e.src = reach.id)
    SELECT id AS vec_id, MIN(r) AS keeper, MIN(r) = id AS kept
    FROM reach
    GROUP BY id
    ORDER BY vec_id"""))

  // --------------------------------------------------------------- q187
  /** SemDeDup-style semantic prune (Abbas et al. 2023, arXiv:2303.09540):
    * within each embedding near-dup cluster, KEEP the member least
    * similar to the cluster centroid and prune the rest — the
    * diversity-maximizing keep rule the paper found beats random/keep-
    * first at fixed token budgets. q70 labels the clusters; this is the
    * downstream decision an actual curation run publishes (which
    * members survive, with their centroid similarity as the audit
    * column).
    *
    * Determinism: the centroid is never a float mean — members'
    * micro-scaled integer components (q43's protocol) sum exactly, and
    * cosine(v, centroid) is computed on exact integer dot/norm state
    * (Σ vm·sm as DECIMAL(38,0); Σ sm² likewise — sm² alone can pass
    * int64 at ~500-member clusters), floats appearing only in the final
    * fixed-shape `dot/(√nv·√nc)` both engines evaluate on identical
    * integers. Ranking ties (equal 6-dp cosine) break on vec_id.
    *
    * Scale: cluster labels ride the memoized pair view ([[neardupPairs]]
    * + [[Dedup.propagateMinLabels]]); the
    * centroid pass and the dot join are (cluster, dim)-keyed aggregates/
    * equi-joins over the ×dim exploded frame (q43's class, corpus-linear);
    * the keep decision is one cluster-keyed rank window. No pair
    * products anywhere — the pairs were already bucketed upstream. */
  val q187 = QueryDef(
    "q187_semdedup",
    (spark, dir) => {
      val em = Tables(spark, dir).embeddings
      val labels = embedClusterLabels(spark, dir)
        .select(col("id").as("vec_id"), col("lbl").as("cluster"))
      val vm = em.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .withColumn("vm", round(col("v").cast(DoubleType) * 1000000).cast(LongType))
        .select(col("vec_id"), col("dim"), col("vm"))
      val mv = labels.join(vm, Seq("vec_id")).cut() // centroid agg + dot join both read it
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      val cent = mv.groupBy(col("cluster"), col("dim")).agg(sum(col("vm")).as("sm"))
      val stats = mv.join(cent, Seq("cluster", "dim"))
        .groupBy(col("vec_id"), col("cluster"))
        .agg(
          sum((col("vm") * col("sm")).cast(dec)).as("dot_i"),
          sum(col("vm") * col("vm")).as("nv_i"),
          sum(col("sm").cast(dec) * col("sm")).as("nc_i"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("cos_centroid").asc, col("vec_id").asc)
      stats
        .withColumn("cos_centroid",
          round(col("dot_i").cast(DoubleType) /
            (sqrt(col("nv_i").cast(DoubleType)) * sqrt(col("nc_i").cast(DoubleType))), 6))
        .withColumn("kept", row_number().over(w) === 1)
        .select(col("vec_id"), col("cluster"), col("cos_centroid"), col("kept"))
        .orderBy(col("vec_id"))
    },
    Some(s"""WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(${sqlCos("a.embedding", "b.embedding")}, 6) >= 0.45),
    edges AS (
      SELECT v1 AS src, v2 AS dst FROM pairs
      UNION ALL SELECT v2, v1 FROM pairs),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM embeddings
      UNION
      SELECT e.dst AS id, reach.r AS r
      FROM reach JOIN edges e ON e.src = reach.id),
    lab AS (SELECT id AS vec_id, MIN(r) AS cluster FROM reach GROUP BY id),
    vm AS (
      SELECT vec_id, i AS dim,
        CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vm
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    mv AS (SELECT l.cluster, v.vec_id, v.dim, v.vm FROM vm v JOIN lab l USING (vec_id)),
    cent AS (SELECT cluster, dim, SUM(vm) AS sm FROM mv GROUP BY cluster, dim),
    stats AS (
      SELECT m.vec_id, m.cluster,
        SUM(CAST(m.vm AS HUGEINT) * c.sm) AS dot_i,
        SUM(CAST(m.vm AS HUGEINT) * m.vm) AS nv_i,
        SUM(CAST(c.sm AS HUGEINT) * c.sm) AS nc_i
      FROM mv m JOIN cent c ON c.cluster = m.cluster AND c.dim = m.dim
      GROUP BY m.vec_id, m.cluster),
    scored AS (
      SELECT vec_id, cluster,
        ROUND(CAST(dot_i AS DOUBLE)
          / (sqrt(CAST(nv_i AS DOUBLE)) * sqrt(CAST(nc_i AS DOUBLE))), 6)
          AS cos_centroid
      FROM stats),
    rk AS (
      SELECT vec_id, cluster, cos_centroid,
        row_number() OVER (PARTITION BY cluster
          ORDER BY cos_centroid, vec_id) AS rk
      FROM scored)
    SELECT vec_id, cluster, cos_centroid, rk = 1 AS kept
    FROM rk
    ORDER BY vec_id"""))

  // ---------------------------------------------------------------- q130
  /** Cluster labeling (the BERTopic c-TF-IDF step): each multi-member
    * near-dup cluster gets its top-3 distinctive terms — "what IS this
    * cluster?", the corpus-understanding artifact a curation run ships
    * next to q70's keeper table. Score is class-based TF-IDF with a
    * LINEAR idf, `tf_c / (1 + df_clusters)`: rankings are identical to
    * the ln form inside each cluster (idf is a per-term monotone
    * factor), and exact integer rationals compare bit-identically in
    * both engines — no libm `ln` in the ranking path, and the OUTPUT is
    * the integer pair (tf_c, df_c), so no float leaves the query at
    * all.
    *
    * Shape: cluster labels reuse [[Dedup.propagateMinLabels]] over the
    * memoized [[neardupPairs]] view (driver union-find under the gate,
    * PlanSpec-guarded equi-join rounds above it); then one token explode over the labeled
    * docs, a (cluster, token) hash aggregate (cut — the df re-aggregate
    * and the score join both consume it), a token-keyed df join and a
    * per-CLUSTER window (partitioned — never global). Oracle rebuilds
    * the clusters with q70's recursive CTE. */
  val q130 = QueryDef(
    "q130_cluster_ctfidf",
    (spark, dir) => {
      val labels = embedClusterLabels(spark, dir)
        .select(col("id").as("vec_id"), col("lbl").as("keeper"))
      val multi = labels.groupBy(col("keeper")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).select(col("keeper"))
      val toks = Tables(spark, dir).documents
        .join(labels, col("doc_id") === col("vec_id"))
        .join(broadcast(multi), "keeper")
        .select(col("keeper"), explode(split(col("text"), " ")).as("token"))
      val tf =
        toks.groupBy(col("keeper"), col("token")).agg(count(lit(1)).as("tf_c")).cut()
      val dfC = tf.groupBy(col("token")).agg(count(lit(1)).as("df_c"))
      val w = Window.partitionBy(col("keeper"))
        .orderBy((col("tf_c").cast(DoubleType) / (lit(1.0) + col("df_c"))).desc,
          col("token").asc)
      tf.join(dfC, "token")
        .withColumn("rnk", row_number().over(w).cast(IntegerType))
        .filter(col("rnk") <= 3)
        .select(col("keeper"), col("rnk"), col("token"), col("tf_c"), col("df_c"))
        .orderBy(col("keeper").asc_nulls_first, col("rnk").asc_nulls_first)
    },
    Some(s"""WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE ROUND(${sqlCos("a.embedding", "b.embedding")}, 6) >= 0.45),
    edges AS (
      SELECT v1 AS src, v2 AS dst FROM pairs
      UNION ALL SELECT v2, v1 FROM pairs),
    reach AS (
      SELECT vec_id AS id, vec_id AS r FROM embeddings
      UNION
      SELECT e.dst AS id, reach.r AS r
      FROM reach JOIN edges e ON e.src = reach.id),
    labels AS (SELECT id AS vec_id, MIN(r) AS keeper FROM reach GROUP BY id),
    multi AS (SELECT keeper FROM labels GROUP BY keeper HAVING COUNT(*) >= 2),
    toks AS (
      SELECT l.keeper, UNNEST(string_split(d.text, ' ')) AS token
      FROM documents d
      JOIN labels l ON d.doc_id = l.vec_id
      JOIN multi m ON l.keeper = m.keeper),
    tf AS (SELECT keeper, token, COUNT(*) AS tf_c FROM toks GROUP BY 1, 2),
    df AS (SELECT token, COUNT(*) AS df_c FROM tf GROUP BY token),
    ranked AS (
      SELECT t.keeper, t.token,
        CAST(t.tf_c AS BIGINT) AS tf_c, CAST(d.df_c AS BIGINT) AS df_c,
        CAST(row_number() OVER (PARTITION BY t.keeper
          ORDER BY CAST(t.tf_c AS DOUBLE) / (1.0 + d.df_c) DESC, t.token ASC)
          AS INT) AS rnk
      FROM tf t JOIN df d USING (token))
    SELECT keeper, rnk, token, tf_c, df_c
    FROM ranked
    WHERE rnk <= 3
    ORDER BY keeper ASC NULLS FIRST, rnk ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q151
  /** Symmetric int8 scalar quantization of the embedding column — the
    * storage/serving compression step of a vector pipeline (4× smaller
    * index memory than float32; ANN pre-ranking then runs on int8 dot
    * products): per vector, scale = max |component| and
    * `q_d = sign(v_d) · ⌊|v_d|·127 / scale⌋` ∈ [−127, 127], plus the
    * per-vector max dequantization error. Output per vector: the scale,
    * two exact integer digests of the quantized array (Σ dim·q and
    * Σ|q| — a drift in ANY component moves a digest) and the max error.
    *
    * Determinism: components enter as micro-scaled integers (the
    * q43/q79 pattern — float→decimal casts disagree between engines),
    * and everything after is 64-bit integer arithmetic: the quantize
    * and dequantize divides are `div` on MAGNITUDES (sign applied
    * outside), because Spark's `div` truncates toward zero while
    * DuckDB's `//` floors — identical only on non-negatives. Zero
    * vectors quantize cleanly via the `greatest(scale, 1)` guard.
    *
    * Scale shape: one explode + ONE vec_id-keyed window (64-row
    * partitions) + one vec_id hash aggregate — no joins, fully
    * map-side combinable after the explode's shuffle. */
  val q151 = QueryDef(
    "q151_embed_quantize",
    (spark, dir) => {
      val ex = Tables(spark, dir).embeddings
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), (col("dim") + 1).cast(IntegerType).as("dim"),
          round(col("v").cast(DoubleType) * 1000000).cast(LongType).as("vi"))
      val w = Window.partitionBy(col("vec_id"))
      val sgn = when(col("vi") < 0, -1L).otherwise(when(col("vi") > 0, 1L).otherwise(0L))
      val qsgn = when(col("qv") < 0, -1L).otherwise(when(col("qv") > 0, 1L).otherwise(0L))
      ex.withColumn("maxabs", greatest(max(abs(col("vi"))).over(w), lit(1L)))
        .withColumn("qv", sgn * expr("abs(vi) * 127 div maxabs"))
        .withColumn("err", abs(col("vi") - qsgn * expr("abs(qv) * maxabs div 127")))
        .groupBy(col("vec_id"))
        .agg(max(col("maxabs")).as("scale_micro"),
          sum(col("dim") * col("qv")).as("q_digest"),
          sum(abs(col("qv"))).as("q_l1"),
          max(col("err")).as("max_err_micro"))
        .orderBy(col("vec_id").asc_nulls_first)
    },
    Some("""WITH ex AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
        CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vi
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    mx AS (
      SELECT vec_id, GREATEST(MAX(ABS(vi)), 1) AS maxabs
      FROM ex GROUP BY vec_id),
    q AS (
      SELECT e.vec_id, e.dim, e.vi, m.maxabs,
        (CASE WHEN e.vi < 0 THEN -1 WHEN e.vi > 0 THEN 1 ELSE 0 END)
          * (ABS(e.vi) * 127 // m.maxabs) AS qv
      FROM ex e JOIN mx m USING (vec_id)),
    r AS (
      SELECT vec_id, maxabs, dim, qv,
        ABS(vi - (CASE WHEN qv < 0 THEN -1 WHEN qv > 0 THEN 1 ELSE 0 END)
          * (ABS(qv) * maxabs // 127)) AS err
      FROM q)
    SELECT vec_id, CAST(MAX(maxabs) AS BIGINT) AS scale_micro,
      CAST(SUM(dim * qv) AS BIGINT) AS q_digest,
      CAST(SUM(ABS(qv)) AS BIGINT) AS q_l1,
      CAST(MAX(err) AS BIGINT) AS max_err_micro
    FROM r GROUP BY vec_id
    ORDER BY vec_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q152
  /** Exact Gram-matrix sufficient statistics of the embedding corpus —
    * `G[i][j] = Σ_vectors v_i·v_j` for i ≤ j (the upper triangle,
    * d(d+1)/2 rows): the one distributed pass that whitening, PCA and
    * covariance-based outlier screens all fit FROM. The eigen-solve is
    * driver-side model fitting over a d×d matrix (model state, like
    * q60's centroids) — the QUERY is the corpus-scale part, and it is
    * exact: components enter as micro-scaled integers (q43/q151's
    * pattern), every product is formed in DECIMAL — one side cast to
    * DECIMAL(14,0) BEFORE the multiply, so the pairwise product is
    * exact for any |component| up to 10⁸ with no int64 wrap anywhere
    * (an int64 multiply would sit 2.4% under Long.MaxValue already at
    * |component| = 3000 and wrap SILENTLY with ANSI off — the loud-
    * envelope rule from the round-12 advice applies here too; DuckDB
    * mirrors with a HUGEINT cast), the per-cell sums accumulate in
    * DECIMAL(38,0) (10⁹ vectors × 10¹⁸ ≈ 10²⁷ still exact —
    * DuckDB's HUGEINT matches), and the output lands back in
    * int64 micro units via a SIGN-SPLIT integral divide (Spark `div`
    * truncates, DuckDB `//` floors; they agree only on magnitudes —
    * cross terms can be negative).
    *
    * Scale shape: one exploded cut of the corpus, an equi self-join on
    * `vec_id` (fan-out d²/2 per vector — the standard outer-product
    * stream), then a (i, j) hash aggregate whose map-side combine
    * collapses every partition to ≤ d(d+1)/2 rows before ITS exchange.
    * The join's vec_id co-partition shuffle moves the exploded (8-byte)
    * component stream — d longs per vector — and that is the right
    * trade: a round-12 experiment replaced the join with a map-only
    * static-pair-grid explode ("zero shuffle"), and it benched 80×
    * WORSE (1.5 s → 122 s at sf0.1) because the explode duplicates the
    * row's full component array into each of the 2080 grid rows
    * (~1 MB of row state per vector through the aggregate), while the
    * wide-per-pair array() alternative is a 2080-term expression tree —
    * the codegen-blowup class the round-1 LSH history documents. The
    * lesson is recorded here so it is not retried. */
  val q152 = QueryDef(
    "q152_embedding_gram",
    (spark, dir) => {
      val ex = graft.Materialize.cut(Tables(spark, dir).embeddings
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("vec_id"), (col("dim") + 1).cast(IntegerType).as("dim"),
          round(col("v").cast(DoubleType) * 1000000).cast(LongType).as("vi")))
      ex.as("a").join(ex.as("b"),
          col("a.vec_id") === col("b.vec_id") && col("a.dim") <= col("b.dim"))
        .select(col("a.dim").as("i"), col("b.dim").as("j"),
          (col("a.vi").cast(org.apache.spark.sql.types.DecimalType(14, 0)) *
            col("b.vi")).as("p"))
        .groupBy(col("i"), col("j"))
        .agg(sum(col("p")).as("s"))
        .select(col("i"), col("j"),
          expr("CAST(CASE WHEN s < 0 THEN -((-s) div 1000000) ELSE s div 1000000 END AS BIGINT)")
            .as("gram_micro"))
        .orderBy(col("i").asc_nulls_first, col("j").asc_nulls_first)
    },
    Some("""WITH ex AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
        CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vi
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    p AS (
      SELECT a.dim AS i, b.dim AS j, CAST(a.vi AS HUGEINT) * b.vi AS pr
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.dim <= b.dim),
    s AS (SELECT i, j, SUM(pr) AS s FROM p GROUP BY i, j)
    SELECT i, j,
      CAST(CASE WHEN s < 0 THEN -((-s) // 1000000) ELSE s // 1000000 END AS BIGINT)
        AS gram_micro
    FROM s ORDER BY i ASC NULLS FIRST, j ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q153
  /** Embedding-distribution drift monitor — the vector-side sibling of
    * q122's PSI: per label, the squared L2 distance between the
    * centroids of two deterministic corpus halves (md5-parity of
    * vec_id — the stand-in for "yesterday's shard vs today's"; a real
    * deployment splits on the landing date). A centroid that moves is
    * an upstream change (new encoder checkpoint, domain shift) caught
    * before it poisons ANN indexes and dedup thresholds.
    *
    * Exactness: per-dim means are micro-scaled integers via a
    * SIGN-SPLIT round-half-up divide (`sign·((2|s| + n) div 2n)` —
    * Spark `div` truncates, DuckDB `//` floors, so magnitudes only),
    * the diff-of-means and its square stay in int64 (diff ≤ 8·10⁶ →
    * Σ over 64 dims ≤ 4·10¹⁵), and the output is the exact integer
    * Σ diff² in micro² units. No float ever forms, so no reduction
    * order exists to drift.
    *
    * Scale shape: ONE (label, dim) hash aggregate over the exploded
    * corpus (map-side combinable), then label-sized frames end-to-end.
    * At 100 TB the explode is the only corpus-scale stage.
    *
    * A label present in only ONE half is deliberately absent from the
    * output (inner join): centroid drift is defined only where both
    * halves have mass — a label that vanished from a half is a VOLUME
    * anomaly, the q145-freshness/q111-histogram class of signal, not a
    * centroid statement this monitor could quantify. */
  val q153 = QueryDef(
    "q153_embed_drift",
    (spark, dir) => {
      val half = (Det.md5Bucket(col("vec_id")) % 2 === 0)
      val ex = Tables(spark, dir).embeddings
        .select(col("label"), half.as("h"),
          posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("label"), col("h"), (col("dim") + 1).cast(IntegerType).as("dim"),
          round(col("v").cast(DoubleType) * 1000000).cast(LongType).as("vi"))
      val sums = ex.groupBy(col("label"), col("h"), col("dim"))
        .agg(sum(col("vi")).as("s"), count(lit(1)).as("n"))
      val sgnMean = expr(
        "CASE WHEN s < 0 THEN -((2 * (-s) + n) div (2 * n)) " +
          "ELSE (2 * s + n) div (2 * n) END")
      val means = sums.select(col("label"), col("h"), col("dim"),
        sgnMean.as("m"), col("n"))
      val a = means.filter(col("h")).select(col("label"), col("dim"),
        col("m").as("m1"), col("n").as("n1"))
      val b = means.filter(!col("h")).select(col("label"), col("dim"),
        col("m").as("m2"), col("n").as("n2"))
      a.join(b, Seq("label", "dim"))
        .groupBy(col("label"))
        .agg(max(col("n1")).as("n_a"), max(col("n2")).as("n_b"),
          sum((col("m1") - col("m2")) * (col("m1") - col("m2"))).as("l2sq_micro2"))
        .orderBy(col("label").asc_nulls_first)
    },
    Some("""WITH ex AS (
      SELECT label,
        CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4) AS INTEGER) % 2 = 0 AS h,
        CAST(i AS INT) AS dim,
        CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vi
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    sums AS (
      SELECT label, h, dim, CAST(SUM(vi) AS BIGINT) AS s, COUNT(*) AS n
      FROM ex GROUP BY 1, 2, 3),
    means AS (
      SELECT label, h, dim,
        CASE WHEN s < 0 THEN -((2 * (-s) + n) // (2 * n))
             ELSE (2 * s + n) // (2 * n) END AS m, n
      FROM sums),
    j AS (
      SELECT a.label, a.dim, a.m AS m1, a.n AS n1, b.m AS m2, b.n AS n2
      FROM means a JOIN means b
        ON a.label = b.label AND a.dim = b.dim AND a.h AND NOT b.h)
    SELECT label, CAST(MAX(n1) AS BIGINT) AS n_a, CAST(MAX(n2) AS BIGINT) AS n_b,
      CAST(SUM((m1 - m2) * (m1 - m2)) AS BIGINT) AS l2sq_micro2
    FROM j GROUP BY label
    ORDER BY label ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q160
  /** Per-source embedding diversity — mean squared distance to the
    * source centroid, computed WITHOUT forming any pair or any
    * centroid: n·Σ‖x‖² − ‖Σx‖² = n·Σ‖x−μ‖²·n/n = n²·E‖x−μ‖², so one
    * pass collecting per-dim sums and the global square-norm sum
    * yields the exact mean squared spread. This is the corpus-mix
    * diagnostic next to q78's token-mass reweighting: a source whose
    * embeddings collapse to a point is boilerplate (near-dup mining
    * will eat it); a source with huge spread is a mixed bag that
    * deserves its own split. The pairwise identity
    * E‖x−y‖² = 2·E‖x−μ‖² means this is also the average pairwise
    * distance, at map-aggregate cost instead of O(n²) — the PlanSpec
    * no-pairs discipline applied to a statistic that textbooks write
    * as a double sum.
    *
    * Exactness (q152's integer protocol): components are micro-scaled
    * longs; squares form with one side cast to DECIMAL(14,0); per-dim
    * sums and Σ‖x‖² accumulate in DECIMAL(38,0); the final
    * (n·s2 − Σ sd²) div n² is non-negative by Cauchy–Schwarz, so the
    * truncating integral divide agrees across engines with no
    * sign-split needed. Output in micro² units.
    *
    * Scale: explode → ONE (source, dim) map-side-combinable aggregate
    * (d rows per source), then source-sized frames; the docs ⋈
    * embeddings id join is the q46 multimodal attach. No window, no
    * pair join, no driver state. */
  val q160 = QueryDef(
    "q160_source_diversity",
    (spark, dir) => {
      val t = Tables(spark, dir)
      val joined = t.embeddings.join(
        t.documents.select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      val ex = joined
        .select(col("source"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .select(col("source"), col("dim"),
          round(col("v").cast(DoubleType) * 1000000).cast(LongType).as("vi"))
      val perDim = ex.groupBy(col("source"), col("dim"))
        .agg(sum(col("vi").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .as("sd"),
          sum(col("vi").cast(org.apache.spark.sql.types.DecimalType(14, 0))
            * col("vi")).as("q2"),
          count(lit(1)).as("n"))
      perDim.groupBy(col("source"))
        .agg(max(col("n")).as("n_vecs"),
          sum(col("q2")).as("s2"),
          sum(col("sd") * col("sd")).as("ssq"))
        .select(col("source"), col("n_vecs"),
          expr("""CAST((CAST(n_vecs AS DECIMAL(38,0)) * s2 - ssq)
            div (CAST(n_vecs AS DECIMAL(38,0)) * n_vecs) AS BIGINT)""")
            .as("msd_micro2"))
        .orderBy(col("source").asc_nulls_first)
    },
    Some("""WITH ex AS (
      SELECT d.source, CAST(i AS INT) AS dim,
        CAST(ROUND(CAST(e.embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vi
      FROM embeddings e
      JOIN documents d ON e.vec_id = d.doc_id,
      UNNEST(range(1, len(e.embedding) + 1)) AS t(i)),
    per_dim AS (
      SELECT source, dim, CAST(SUM(vi) AS HUGEINT) AS sd,
        SUM(CAST(vi AS HUGEINT) * vi) AS q2, COUNT(*) AS n
      FROM ex GROUP BY 1, 2),
    per_src AS (
      SELECT source, MAX(n) AS n_vecs, SUM(q2) AS s2, SUM(sd * sd) AS ssq
      FROM per_dim GROUP BY source)
    SELECT source, CAST(n_vecs AS BIGINT) AS n_vecs,
      CAST((CAST(n_vecs AS HUGEINT) * s2 - ssq)
        // (CAST(n_vecs AS HUGEINT) * n_vecs) AS BIGINT) AS msd_micro2
    FROM per_src
    ORDER BY source ASC NULLS FIRST"""))

  // ----------------------------------------------------- PCA / whitening
  /** Deterministic cyclic-Jacobi eigendecomposition of a symmetric d×d
    * matrix — the driver-side MODEL FIT over q152's Gram/covariance
    * sufficient statistics (d×d doubles = model state, the q60-centroid
    * class; the corpus never participates). Fixed row-major sweep order
    * and fixed sweep count make the rotation sequence — and therefore
    * the result — deterministic; eigenpairs are returned value-desc with
    * each vector sign-normalized (first component of largest magnitude
    * made positive), so downstream projections are reproducible.
    * Returns (eigenvalues, eigenvectors as ROWS). */
  private[graft] def symEig(a0: Array[Array[Double]],
      sweeps: Int = 30): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    for (_ <- 0 until sweeps; p <- 0 until d - 1; q <- p + 1 until d) {
      val apq = a(p)(q)
      if (math.abs(apq) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2 * apq)
        val t =
          if (theta == 0) 1.0
          else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1))
        val c = 1 / math.sqrt(t * t + 1)
        val s = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
    }
    val pairs = (0 until d).map { j =>
      val vec = Array.tabulate(d)(i => v(i)(j))
      val pivot = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      val sgn = if (vec(pivot) < 0) -1.0 else 1.0
      (a(j)(j), vec.map(_ * sgn))
    }.sortBy(-_._1)
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  /** Fits the top-k PCA components from q152's Gram rows plus the
    * component means (q43's global-centroid statistic): covariance =
    * G/n − μμᵀ, eigendecomposed on the driver. `gramMicro` holds the
    * upper triangle in q152's micro² units; `meanMicro` in micro
    * units. */
  private[graft] def fitPcaFromGram(gramMicro: Seq[(Int, Int, Long)],
      meanMicro: Array[Double], n: Long, k: Int): (Array[Double], Array[Array[Double]]) = {
    val d = meanMicro.length
    val cov = Array.ofDim[Double](d, d)
    gramMicro.foreach { case (i, j, g) =>
      // q152 emitted Σ v_i·v_j in micro units (micro² div 10⁶); back to
      // full-scale: /1e6 then /n, minus the mean outer product
      val c = g.toDouble / 1e6 / n -
        (meanMicro(i - 1) / 1e6) * (meanMicro(j - 1) / 1e6)
      cov(i - 1)(j - 1) = c
      cov(j - 1)(i - 1) = c
    }
    val (vals, vecs) = symEig(cov)
    (vals.take(k), vecs.take(k))
  }

  /** Map-only projection of the embedding column onto fitted components
    * (each component a literal, exactly how q60 bakes centroids in):
    * output (vec_id, pc_1..pc_k). Shuffle-free — the model travels to
    * the data. */
  private[graft] def projectEmbeddings(em: org.apache.spark.sql.DataFrame,
      components: Array[Array[Double]]): org.apache.spark.sql.DataFrame = {
    val cols = components.zipWithIndex.map { case (comp, i) =>
      dotNative(col("embedding"), typedLit(comp.map(_.toFloat).toSeq))
        .as(s"pc_${i + 1}")
    }
    em.select((col("vec_id") +: cols.toSeq): _*)
  }

  // --------------------------------------------------------------- q195
  /** Product-quantization encoding (Jégou et al., TPAMI '11) — the
    * vector-COMPRESSION step beyond q151's scalar int8: each 64-dim
    * embedding splits into 4 sub-vectors of 16 dims, each assigned to
    * its nearest of K = 16 codebook entries, so a vector stores as 4
    * nibbles (2 bytes) + the codebook — a 128× store shrink, and the
    * asymmetric-distance tables ANN serving scans instead of floats.
    * Output per vector: the 4 codes and the exact total squared
    * reconstruction distance (micro²), the quality column a PQ
    * deployment monitors.
    *
    * Codebook: the K entries per subspace are the sub-vectors of the 16
    * md5-least vec_ids — the deterministic seeding stand-in for sampled
    * k-means (a production codebook trains Lloyd rounds on a sample via
    * q70's machinery and lands as a table; the ENCODE pass graded here
    * is identical either way). Seed rank breaks argmin ties.
    *
    * Determinism: components enter as micro-scaled integers (the
    * q43/q151 pattern), distances are exact integer sums of squares,
    * and the argmin is integer arithmetic end-to-end —
    * `combined = dist·16 + rank`, `min(combined)`, then `% 16` /
    * `div 16` recover the code and distance with the tie broken by
    * rank, no struct-ordering or float compare anywhere.
    *
    * Scale: the codebook is 16 × 64 micro-ints — BROADCAST state; the
    * encode pass is one explode + one (sub, dim) broadcast equi-join
    * with fan-out K per component row (never corpus×corpus), one
    * (vec, sub) hash aggregate and one vec-keyed pivot aggregate. At
    * 100 TB this is the standard PQ-encode map pass; the md5 seed
    * selection is a TakeOrdered over the corpus (the q110 class). */
  /** Micro-integer exploded corpus — (vec_id, dim 1-based, sub 0..3, vi):
    * q195's encode input, shared by the k-means round (q204) and the ADC
    * search (q205). Map-only (scan + posexplode); deliberately NOT cut —
    * recomputing it is one columnar scan, cheaper than materializing
    * corpus×64 rows. */
  private[graft] def pqExploded(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = pqExplodedOf(Tables(spark, dir).embeddings)

  private[graft] def pqExplodedOf(em: DataFrame): DataFrame =
    em
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d0", "v")))
      .select(col("vec_id"), (col("d0") + 1).cast(IntegerType).as("dim"),
        expr("(d0 div 16)").cast(IntegerType).as("sub"),
        round(col("v").cast(DoubleType) * 1000000).cast(LongType).as("vi"))

  /** 16 md5-least vec_ids, ranked 0..15 (rank breaks argmin ties) — the
    * deterministic codebook/centroid seeding shared by q195/q204/q205.
    * The 16-row frame makes the global row_number a dimension window. */
  private[graft] def pqSeeds(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = pqSeedsOf(Tables(spark, dir).embeddings)

  private[graft] def pqSeedsOf(em: DataFrame): DataFrame =
    em
      .select(col("vec_id").as("seed_id"),
        Det.md5Bucket(col("vec_id")).as("pfx"))
      .orderBy(col("pfx").asc, col("seed_id").asc)
      .limit(16)
      .withColumn("rank",
        (row_number().over(Window.orderBy(col("pfx").asc, col("seed_id").asc))
          - 1).cast(LongType))

  /** Broadcast micro-integer codebook (rank, sub, dim, si) from the 16
    * seed vectors. Seeds join BEFORE the explode: only 16 vectors unfold
    * into the codebook (a corpus-side explode would be a second full
    * pass). */
  private[graft] def pqBook(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = pqBookOf(Tables(spark, dir).embeddings)

  private[graft] def pqBookOf(em: DataFrame): DataFrame =
    broadcast(
      em
        .join(broadcast(pqSeedsOf(em)), col("vec_id") === col("seed_id"))
        .select(col("rank"), posexplode(col("embedding")).as(Seq("d0", "v")))
        .select(col("rank"),
          expr("(d0 div 16)").cast(IntegerType).as("sub"),
          (col("d0") + 1).cast(IntegerType).as("dim"),
          round(col("v").cast(DoubleType) * 1000000).cast(LongType).as("si")))

  /** Per-(vector, subspace) PQ assignments (vec_id, sub, code, dist) —
    * q195's encode pass, factored so the ADC search (q205) reads the
    * same codes the encode query emits. Integer argmin end-to-end (see
    * q195 scaladoc). */
  private[graft] def pqAssignments(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = pqAssignmentsOf(Tables(spark, dir).embeddings)

  private[graft] def pqAssignmentsOf(em: DataFrame): DataFrame = {
    val dists = pqExplodedOf(em).join(pqBookOf(em), Seq("sub", "dim"))
      .groupBy(col("vec_id"), col("sub"), col("rank"))
      .agg(sum((col("vi") - col("si")) * (col("vi") - col("si"))).as("dist"))
    dists
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("dist") * 16 + col("rank")).as("combined"))
      .select(col("vec_id"), col("sub"),
        (col("combined") % 16).as("code"),
        expr("combined div 16").as("dist"))
  }

  val q195 = QueryDef(
    "q195_pq_codes",
    (spark, dir) => {
      val assigned = pqAssignments(spark, dir)
      assigned.groupBy(col("vec_id"))
        .agg(
          max(when(col("sub") === 0, col("code"))).as("c0"),
          max(when(col("sub") === 1, col("code"))).as("c1"),
          max(when(col("sub") === 2, col("code"))).as("c2"),
          max(when(col("sub") === 3, col("code"))).as("c3"),
          sum(col("dist")).as("recon_micro2"))
        .orderBy(col("vec_id").asc_nulls_first)
    },
    Some("""WITH ex AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
        CAST((i - 1) // 16 AS INT) AS sub,
        CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vi
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    seeds AS (
      SELECT vec_id AS seed_id,
        ROW_NUMBER() OVER (ORDER BY
          CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) ASC,
          vec_id ASC) - 1 AS rank
      FROM embeddings
      ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) ASC,
        vec_id ASC
      LIMIT 16),
    book AS (
      SELECT s.rank, e.sub, e.dim, e.vi AS si
      FROM seeds s JOIN ex e ON e.vec_id = s.seed_id),
    dists AS (
      SELECT e.vec_id, e.sub, b.rank,
        SUM((e.vi - b.si) * (e.vi - b.si)) AS dist
      FROM ex e JOIN book b ON b.sub = e.sub AND b.dim = e.dim
      GROUP BY 1, 2, 3),
    assigned AS (
      SELECT vec_id, sub,
        CAST(MIN(dist * 16 + rank) % 16 AS BIGINT) AS code,
        CAST(MIN(dist * 16 + rank) // 16 AS BIGINT) AS dist
      FROM dists GROUP BY 1, 2)
    SELECT vec_id,
      MAX(CASE WHEN sub = 0 THEN code END) AS c0,
      MAX(CASE WHEN sub = 1 THEN code END) AS c1,
      MAX(CASE WHEN sub = 2 THEN code END) AS c2,
      MAX(CASE WHEN sub = 3 THEN code END) AS c3,
      CAST(SUM(dist) AS BIGINT) AS recon_micro2
    FROM assigned
    GROUP BY vec_id
    ORDER BY vec_id ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q204
  /** One Lloyd k-means round, fully oracle-checked — the TRAINING step
    * the IVF quantizer (q60) and a production PQ codebook (q195) both
    * iterate, graded once in exact cross-engine arithmetic: assign every
    * vector to its nearest of the 16 deterministic seed centroids
    * ([[pqSeeds]] — md5-least vec_ids, the sampled-init stand-in), then
    * emit the UPDATED per-(cluster, dim) centroid, the cluster sizes and
    * the round's objective (total within-cluster squared distance). The
    * engine-private Lloyd loop (`Similarity.lloyd`) is spec-verified;
    * this query pins one full round's math to the DuckDB oracle.
    *
    * Determinism: micro-integer components, exact integer squared
    * distances, q195's integer argmin (`dist·16 + rank`, min, %/div —
    * seed rank breaks ties), and the new centroids through q153's
    * SIGN-SPLIT round-half-up integer mean — no float forms anywhere.
    *
    * Scale: the assignment is one explode + broadcast codebook equi-join
    * with fan-out K (the q195 encode shape — at production K the native
    * `graft_nearest_cells` replaces the join, same integer fold); the
    * update is ONE map-side-combinable (cluster, dim) aggregate — K·d
    * rows of shuffle per mapper, the classic distributed-k-means round.
    * Assignments are cut once and feed both the size/SSE aggregate and
    * the centroid update. */
  val q204 = QueryDef(
    "q204_kmeans_round",
    (spark, dir) => {
      val ex = pqExploded(spark, dir)
      val dists = ex.join(pqBook(spark, dir), Seq("sub", "dim"))
        .groupBy(col("vec_id"), col("rank"))
        .agg(sum((col("vi") - col("si")) * (col("vi") - col("si"))).as("dist"))
      val assign = dists.groupBy(col("vec_id"))
        .agg(min(col("dist") * 16 + col("rank")).as("combined"))
        .select(col("vec_id"), (col("combined") % 16).as("cluster"),
          expr("combined div 16").as("dist"))
        .cut()
      val stats = assign.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"), sum(col("dist")).as("sse_micro2"))
      val means = assign.select(col("vec_id"), col("cluster"))
        .join(ex, Seq("vec_id"))
        .groupBy(col("cluster"), col("dim"))
        .agg(sum(col("vi")).as("s"), count(lit(1)).as("n"))
        .select(col("cluster"), col("dim"),
          expr("""CASE WHEN s < 0 THEN -((2 * (-s) + n) div (2 * n))
            ELSE (2 * s + n) div (2 * n) END""").as("c_micro"))
      means.join(broadcast(stats), Seq("cluster"))
        .select(col("cluster"), col("dim"), col("c_micro"),
          col("n_members"), col("sse_micro2"))
        .orderBy(col("cluster").asc_nulls_first, col("dim").asc_nulls_first)
    },
    Some("""WITH ex AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
        CAST((i - 1) // 16 AS INT) AS sub,
        CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vi
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    seeds AS (
      SELECT vec_id AS seed_id,
        ROW_NUMBER() OVER (ORDER BY
          CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) ASC,
          vec_id ASC) - 1 AS rank
      FROM embeddings
      ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) ASC,
        vec_id ASC
      LIMIT 16),
    book AS (
      SELECT s.rank, e.sub, e.dim, e.vi AS si
      FROM seeds s JOIN ex e ON e.vec_id = s.seed_id),
    dists AS (
      SELECT e.vec_id, b.rank,
        SUM((e.vi - b.si) * (e.vi - b.si)) AS dist
      FROM ex e JOIN book b ON b.sub = e.sub AND b.dim = e.dim
      GROUP BY 1, 2),
    assign AS (
      SELECT vec_id,
        CAST(MIN(dist * 16 + rank) % 16 AS BIGINT) AS cluster,
        CAST(MIN(dist * 16 + rank) // 16 AS BIGINT) AS dist
      FROM dists GROUP BY 1),
    stats AS (
      SELECT cluster, COUNT(*) AS n_members,
        CAST(SUM(dist) AS BIGINT) AS sse_micro2
      FROM assign GROUP BY 1),
    mem AS (
      SELECT a.cluster, e.dim,
        CAST(SUM(e.vi) AS BIGINT) AS s, COUNT(*) AS n
      FROM assign a JOIN ex e ON e.vec_id = a.vec_id
      GROUP BY 1, 2)
    SELECT m.cluster, m.dim,
      CASE WHEN s < 0 THEN -((2 * (-s) + n) // (2 * n))
           ELSE (2 * s + n) // (2 * n) END AS c_micro,
      st.n_members, st.sse_micro2
    FROM mem m JOIN stats st ON st.cluster = m.cluster
    ORDER BY m.cluster ASC NULLS FIRST, m.dim ASC NULLS FIRST"""))

  // --------------------------------------------------------------- q205
  /** PQ asymmetric-distance (ADC) top-k search — the SERVING half of
    * q195's encode (Jégou et al. §IV): five deterministic query vectors
    * (md5-GREATEST vec_ids — disjoint from the md5-least codebook seeds)
    * scan the 2-byte PQ codes instead of the float corpus. Per query, a
    * 4×16 lookup table of exact integer subspace distances is built once
    * against the codebook; a corpus vector's ADC distance is then FOUR
    * table lookups and three adds — the scan the 100 TB ANN serving
    * path actually runs, 128× less state than the float corpus. The
    * exact distance of each returned pair sits beside the ADC estimate
    * (the q184/q190 error-visible convention).
    *
    * Shape: codes ⋈ broadcast LUT on (sub, code) — fan-out 1, map-only —
    * into one (query, vector) sum, then `graft_top_k` (q75's bounded
    * heap: shuffle volume k·queries·tasks, never a corpus sort); exact
    * re-distance only for the ≤ k·queries survivors. Integer
    * end-to-end; the −adc top-k score is an exactly-representable
    * double (< 2⁵³).
    *
    * The ADC invariant `adc = Σ_sub lut[code_sub]` plus q195's argmin
    * means adc ≥ the true all-codebook lower bound per subspace; recall
    * vs exact top-k is the quality column a deployment monitors via the
    * exact_micro2 twin. */
  /** The 5 deterministic query ids (md5-GREATEST vec_ids — disjoint
    * from the md5-least codebook seeds). */
  private[graft] def adcQueriesOf(em: DataFrame): DataFrame =
    em.select(col("vec_id").as("q_id"), Det.md5Bucket(col("vec_id")).as("pfx"))
      .orderBy(col("pfx").desc, col("q_id").desc)
      .limit(5)
      .select(col("q_id"))

  /** q205's ADC serving scan over any embeddings frame, factored so
    * ScaleProbe drives the identical code on replicated corpora:
    * codes ⋈ broadcast LUT, `graft_top_k` heap. Returns the top-k frame
    * (q_id, rk, vec_id, adc_micro2), already cut. */
  private[graft] def adcTopKOf(em: DataFrame, k: Int): (DataFrame, DataFrame, DataFrame) =
    adcProbeOf(em,
      pqAssignmentsOf(em).select(col("vec_id"), col("sub"), col("code")), k)

  /** The probe HALF alone, over an already-encoded code table — the
    * serving-time shape (codes are stored state; ScaleProbe times this
    * separately from the encode). */
  private[graft] def adcProbeOf(em: DataFrame, codes: DataFrame,
      k: Int): (DataFrame, DataFrame, DataFrame) = {
    val ex = pqExplodedOf(em)
    val qs = adcQueriesOf(em)
    val exq = ex.join(broadcast(qs), col("vec_id") === col("q_id"))
      .select(col("q_id"), col("sub"), col("dim"), col("vi").as("qi"))
    val lut = exq.join(pqBookOf(em), Seq("sub", "dim"))
      .groupBy(col("q_id"), col("sub"), col("rank"))
      .agg(sum((col("qi") - col("si")) * (col("qi") - col("si"))).as("lut"))
      .select(col("q_id"), col("sub").as("lsub"), col("rank"), col("lut"))
    val adc = codes.join(broadcast(lut),
        col("sub") === col("lsub") && col("code") === col("rank"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("lut")).as("adc"))
    val top = adc.groupBy(col("q_id"))
      .agg(call_function("graft_top_k",
        (-col("adc")).cast(DoubleType), col("vec_id"), lit(0L), lit(k))
        .as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("rk0", "t")))
      .select(col("q_id"), (col("rk0") + 1).cast(IntegerType).as("rk"),
        col("t.id1").as("vec_id"),
        (-col("t.score")).cast(LongType).as("adc_micro2"))
      .cut()
    (top, ex, exq)
  }

  val q205 = QueryDef(
    "q205_pq_adc",
    (spark, dir) => {
      val (top, ex, exq) = adcTopKOf(Tables(spark, dir).embeddings, 10)
      val exact = top.select(col("q_id"), col("vec_id"))
        .join(ex, Seq("vec_id"))
        .join(exq.select(col("q_id"), col("dim"), col("qi")), Seq("q_id", "dim"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum((col("vi") - col("qi")) * (col("vi") - col("qi")))
          .as("exact_micro2"))
      top.join(exact, Seq("q_id", "vec_id"))
        .select(col("q_id"), col("rk"), col("vec_id"),
          col("adc_micro2"), col("exact_micro2"))
        .orderBy(col("q_id").asc_nulls_first, col("rk").asc_nulls_first)
    },
    Some("""WITH ex AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
        CAST((i - 1) // 16 AS INT) AS sub,
        CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vi
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)),
    seeds AS (
      SELECT vec_id AS seed_id,
        ROW_NUMBER() OVER (ORDER BY
          CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) ASC,
          vec_id ASC) - 1 AS rank
      FROM embeddings
      ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) ASC,
        vec_id ASC
      LIMIT 16),
    book AS (
      SELECT s.rank, e.sub, e.dim, e.vi AS si
      FROM seeds s JOIN ex e ON e.vec_id = s.seed_id),
    dists AS (
      SELECT e.vec_id, e.sub, b.rank,
        SUM((e.vi - b.si) * (e.vi - b.si)) AS dist
      FROM ex e JOIN book b ON b.sub = e.sub AND b.dim = e.dim
      GROUP BY 1, 2, 3),
    codes AS (
      SELECT vec_id, sub,
        CAST(MIN(dist * 16 + rank) % 16 AS BIGINT) AS code
      FROM dists GROUP BY vec_id, sub),
    qs AS (
      SELECT vec_id AS q_id FROM embeddings
      ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4)) AS INTEGER) DESC,
        vec_id DESC
      LIMIT 5),
    exq AS (
      SELECT q.q_id, e.sub, e.dim, e.vi AS qi
      FROM ex e JOIN qs q ON e.vec_id = q.q_id),
    lut AS (
      SELECT x.q_id, x.sub, b.rank,
        SUM((x.qi - b.si) * (x.qi - b.si)) AS lut
      FROM exq x JOIN book b ON b.sub = x.sub AND b.dim = x.dim
      GROUP BY 1, 2, 3),
    adc AS (
      SELECT l.q_id, c.vec_id, CAST(SUM(l.lut) AS BIGINT) AS adc
      FROM codes c JOIN lut l ON l.sub = c.sub AND l.rank = c.code
      WHERE c.vec_id <> l.q_id
      GROUP BY 1, 2),
    top AS (
      SELECT q_id, vec_id, adc,
        row_number() OVER (PARTITION BY q_id
          ORDER BY adc ASC, vec_id ASC) AS rk
      FROM adc),
    p AS (SELECT q_id, vec_id, adc, rk FROM top WHERE rk <= 10),
    exact AS (
      SELECT p.q_id, p.vec_id,
        CAST(SUM((e.vi - q.qi) * (e.vi - q.qi)) AS BIGINT) AS exact_micro2
      FROM p
      JOIN ex e ON e.vec_id = p.vec_id
      JOIN exq q ON q.q_id = p.q_id AND q.dim = e.dim
      GROUP BY 1, 2)
    SELECT p.q_id, CAST(p.rk AS INTEGER) AS rk, p.vec_id,
      p.adc AS adc_micro2, x.exact_micro2
    FROM p JOIN exact x ON x.q_id = p.q_id AND x.vec_id = p.vec_id
    ORDER BY p.q_id ASC NULLS FIRST, p.rk ASC NULLS FIRST"""))

  override def queries: Seq[QueryDef] =
    Seq(q41, q42, q43, q44, q59, q60, q70, q79, q84, q130, q147, q151, q152,
      q153, q160, q187, q195, q204, q205)
}
