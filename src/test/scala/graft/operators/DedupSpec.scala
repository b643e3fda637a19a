package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  test("shingles produces distinct word 3-grams, degenerate short docs kept whole") {
    val d = Seq((1L, "a b c d"), (2L, "x y")).toDF("doc_id", "text")
    val sh = Dedup.shingles(d).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(sh == Set((1L, "a b c"), (1L, "b c d"), (2L, "x y")))
  }

  test("jaccardPairs computes exact overlap ratio") {
    // doc1 shingles {a b c, b c d}; doc2 {b c d, c d e} → jac = 1/3
    val d = Seq((1L, "a b c d"), (2L, "b c d e")).toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(Dedup.shingles(d))
      .select("d1", "d2", "jac").collect()
    assert(out.length == 1)
    assert(out(0).getLong(0) == 1L && out(0).getLong(1) == 2L)
    assert(math.abs(out(0).getDouble(2) - 1.0 / 3.0) < 1e-6)
  }

  test("q155 dedup ROI: distribution telescopes to the corpus and agrees with q55") {
    val rows = Dedup.q155.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nDocs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    // every document sits in exactly one cluster of exactly one size
    assert(rows.map { case (sz, n, _, _) => sz * n }.sum == nDocs)
    // singleton rows remove nothing; multi rows remove size-1 per cluster
    rows.foreach { case (sz, n, removed, tokRemoved) =>
      assert(removed == (sz - 1).toLong * n, s"size $sz removal count")
      if (sz == 1) assert(tokRemoved == 0L)
      else assert(tokRemoved > 0L, s"size-$sz clusters must save tokens")
    }
    // total removals agree with q55's kept=false count
    val q55Removed = Dedup.q55.fn(spark, sf0001).collect()
      .count(r => !r.getBoolean(2)).toLong
    assert(rows.map(_._3).sum == q55Removed)
  }

  test("q32 MinHash-LSH output equals exact q33 at every fixture SF (oracle envelope)") {
    // This IS q32's oracle envelope (q44/q42 precedent): its DuckDB
    // oracle is q33's exact-Jaccard SQL, valid only while 16×4 banding
    // recovers every qualifying pair. Assert FULL row equality (ids and
    // jac, ordered) at ALL shipped fixtures — on a genuine banding miss,
    // demote q32 back to rows-only (oracle = None).
    Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val lsh = Dedup.q32.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val exact = Dedup.q33.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(exact.nonEmpty, s"fixture at $dir should contain near-duplicates")
      assert(lsh == exact,
        s"q32 banding drifted from exact q33 at $dir — demote q32 to rows-only")
    }
  }

  test("prefix+positional-filtered q33 path equals the naive all-pairs Jaccard") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val hshArr = Dedup.hashedShingleArray(docs)
    def toSet(df: org.apache.spark.sql.DataFrame) = df
      .select("d1", "d2", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // both sides filter on the EXACT integer threshold (3·inter ≥ sz1+sz2
    // ⇔ J ≥ 1/2), the same predicate the candidate generator prunes on
    val naive = toSet(Dedup.jaccardPairs(Dedup.shingles(docs))
      .filter(col("inter") * 3 >= col("sz1") + col("sz2")))
    val fast = toSet(
      Dedup.jaccardForCandidates(Dedup.prefixCandidates(hshArr, 1, 2), hshArr)
        .filter(Dedup.atLeastJaccard(1, 2)))
    assert(naive.nonEmpty, "fixture should contain near-duplicates")
    assert(fast == naive,
      s"prefix filtering lost ${(naive -- fast).size}, invented ${(fast -- naive).size}")
  }

  test("native graft_hashed_shingles equals the composed shingle+hash form") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val composed = Dedup.shingleArray(docs)
      .select(col("doc_id"), transform(col("shs"), s => xxhash64(s)).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val native = Dedup.hashedShingleArray(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(native == composed)
    // degenerate short doc: single whole-text hash
    import spark.implicits._
    val short = Seq((9L, "x y")).toDF("doc_id", "text")
    val h = Dedup.hashedShingleArray(short).collect()(0).getSeq[Long](1)
    assert(h.length == 1)
  }

  test("native graft_minhash64 equals the min(xxhash64(i, s)) aggregate formulation") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(col("doc_id") < 50)
    val shArr = Dedup.shingleArray(docs)
    val sh = Dedup.shingles(docs)
    val aggs = (0 until 64).map(i => min(xxhash64(lit(i), col("s"))).as(s"h$i"))
    val expected = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 64).map(r.getLong).toSeq).toMap
    val native = shArr.select(col("doc_id"),
        call_function("graft_minhash64", col("shs"), lit(64)).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(native.keySet == expected.keySet)
    native.foreach { case (id, sig) => assert(sig == expected(id), s"doc $id") }
  }

  test("q93 incremental path equals the naive cross-set Jaccard (nothing lost or invented)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val bucket = graft.Det.md5Bucket(col("doc_id"))
    val corpus = docs.filter(bucket < Dedup.DeltaBucketThreshold)
    val delta = docs.filter(bucket >= Dedup.DeltaBucketThreshold)
    val deltaIds = delta.select("doc_id").collect().map(_.getLong(0)).toSet
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    // ground truth: naive all-pairs over the union, crossing pairs only,
    // reoriented delta-first (jaccardPairs orders by d1 < d2)
    val naive = Dedup.jaccardPairs(Dedup.shingles(docs))
      .filter(col("inter") * 3 >= col("sz1") + col("sz2"))
      .select("d1", "d2", "jac").collect()
      .flatMap { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        if (deltaIds(a) && corpusIds(b)) Some((a, b, j))
        else if (deltaIds(b) && corpusIds(a)) Some((b, a, j))
        else None
      }.toSet
    val inc = Dedup.incrementalPairs(corpus, delta).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(naive.nonEmpty, "fixture split should contain crossing near-duplicates")
    assert(inc == naive,
      s"incremental lost ${(naive -- inc).size}, invented ${(inc -- naive).size}")
  }

  test("q93 candidates are strictly delta × corpus — the corpus never meets itself") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val bucket = graft.Det.md5Bucket(col("doc_id"))
    val corpus = docs.filter(bucket < Dedup.DeltaBucketThreshold)
    val delta = docs.filter(bucket >= Dedup.DeltaBucketThreshold)
    val deltaIds = delta.select("doc_id").collect().map(_.getLong(0)).toSet
    val corpusIds = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    val (_, _, cands) = Dedup.incrementalPlan(corpus, delta, 1, 2)
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (d1, d2) =>
      assert(deltaIds(d1), s"candidate left side $d1 is not a delta doc")
      assert(corpusIds(d2), s"candidate right side $d2 is not a corpus doc")
    }
  }

  test("q93 with an empty delta finds nothing (and doesn't fail)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(Dedup.incrementalPairs(docs, docs.limit(0)).count() == 0)
  }

  test("q236 incremental winnow equals a naive delta-vs-corpus sweep with the corpus-df cap") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def fpHash(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    def fps(t: String): Set[Long] = {
      val ts = t.split(" ", -1)
      val ng = ts.length - 2
      if (ng < 4) Set.empty
      else {
        val g = Array.tabulate(ng)(i => fpHash(ts.slice(i, i + 3).mkString(" ")))
        (0 to ng - 4).map(i => g.slice(i, i + 4).min).toSet
      }
    }
    def isDelta(id: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      (((d(0) & 0xff) << 8) | (d(1) & 0xff)) >= 52429
    }
    val sets = docs.map { case (id, t) => (id, fps(t)) }
    val (delta, corpus) = sets.partition(d => isDelta(d._1))
    // the df cap is a statistic of the CORPUS INDEX alone
    val corpusDf = corpus.flatMap(_._2).groupBy(identity).view
      .mapValues(_.length).toMap
    val allowed = corpusDf.filter(_._2 <= 50).keySet
    val expected = (for {
      (did, dfp) <- delta
      (cid, cfp) <- corpus
      shared = (dfp & cfp & allowed).size if shared >= 3
    } yield (did, cid, shared.toLong)).toSet
    val got = Dedup.q236.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"incremental winnow lost ${(expected -- got).size}, invented ${(got -- expected).size}")
    assert(expected.nonEmpty, "fixture split has no crossing winnow pairs")
  }

  test("q236 with an empty delta finds nothing (and doesn't fail)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    assert(Dedup.incrementalWinnowPairs(docs, docs.limit(0)).count() == 0)
  }

  test("q237 split leakage equals a fold of the q33 pairs over the q62 split rule") {
    def split(id: Long): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      val b = ((d(0) & 0xff) << 8) | (d(1) & 0xff)
      if (b < 52429) "train" else if (b < 58982) "val" else "test"
    }
    val pairs = Dedup.q33.fn(spark, sf0001).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = pairs
      .map { case (a, b) =>
        val (sa, sb) = (split(a), split(b))
        (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
      }
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val got = Dedup.q237.fn(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected, s"leakage matrix diverged: got=$got want=$expected")
    // the number this audit exists for: the naive id-hash split DOES
    // leak near-dup pairs across boundaries on the fixture
    assert(expected.keys.exists { case (a, b) => a != b },
      "fixture has no cross-split near-dup pair; audit unexercised")
  }

  test("q55 keeper assignment equals driver-side union-find over the exact pairs") {
    val pairs = Dedup.q33.fn(spark, sf0001).select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val out = Dedup.q55.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.nonEmpty && pairs.nonEmpty)
    out.foreach { case (id, keeper, kept) =>
      assert(keeper == find(id), s"doc $id: keeper $keeper vs union-find ${find(id)}")
      assert(kept == (keeper == id))
    }
  }

  test("pointer-doubling converges a 500-node chain (adversarial diameter) to one component") {
    // a path graph is the worst case for neighbor-min propagation
    // (O(diameter) = 500 rounds, far past the 30-round budget); the
    // pointer-jumping variant must close it in O(log 500) ≈ 9 rounds
    val n = 500
    val ids = (0L until n.toLong).toDF("id")
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val lbl = Dedup.propagationRounds(ids, chain, pointerDoubling = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lbl.size == n)
    assert(lbl.values.forall(_ == 0L), "every chain node must label to the min id 0")
  }

  test("default variant escalates to doubling and converges the 500-node chain") {
    // without escalation the default neighbor-min loop would need 500
    // rounds (> the 30-round budget) and fail loudly; the adaptive
    // escalation after EscalateAfterRounds plain rounds must close it
    // within ~4 + log2(500) rounds and label every node to the min id
    val n = 500
    val ids = (0L until n.toLong).toDF("id")
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val lbl = Dedup.propagationRounds(ids, chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(lbl.size == n && lbl.values.forall(_ == 0L))
    assert(Dedup.lastPropagationRounds.get() <= 15,
      s"escalation should close a 500-chain in ~13 rounds, took ${Dedup.lastPropagationRounds.get()}")
  }

  test("pointer-doubling emits identical labels to the plain variant") {
    // two shallow components + a singleton — the near-dup shape the
    // plain variant is tuned for; both variants must agree exactly
    val ids = (0L to 8L).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 2L), (0L, 2L), (4L, 5L), (5L, 6L), (7L, 8L))
      .toDF("a", "b")
    def run(doubling: Boolean) =
      Dedup.propagationRounds(ids, pairs, pointerDoubling = doubling)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run(true) == run(false))
    assert(run(false) == Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L),
      (4L, 4L), (5L, 4L), (6L, 4L), (7L, 7L), (8L, 7L)))
  }

  test("driver finish and rounds loop emit identical labels on random graphs") {
    // propagateMinLabels closes every graph below the vertex-broadcast
    // gate on the driver; the rounds loop is the path above it. Sparse
    // ids, singletons, duplicate/reversed/self pairs, a 500-node chain
    // and pair endpoints outside `ids` (which neither path may use to
    // connect two nodes) must all label identically.
    def labels(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rnd = new scala.util.Random(55)
    val chain = (0L until 500L) -> (0L until 499L).map(i => (i, i + 1))
    val outside = Seq(1L, 2L, 3L) -> Seq((1L, 99L), (2L, 99L), (3L, 3L))
    val empty = Seq.empty[Long] -> Seq((1L, 2L))
    val random = (1 to 8).map { _ =>
      val ids = (0 until rnd.between(1, 80)).map(i => 10L + 3L * i)
      def node() =
        if (rnd.nextInt(10) == 0) 1000000L + rnd.nextInt(5) // not in ids
        else ids(rnd.nextInt(ids.size))
      val base = Seq.fill(rnd.nextInt(ids.size + 1))((node(), node()))
      val extra = base.take(3).flatMap { case (a, b) => Seq((a, b), (b, a), (a, a)) }
      ids -> rnd.shuffle(base ++ extra)
    }
    (Seq(chain, outside, empty) ++ random).foreach { case (ids, pairs) =>
      val (idf, pdf) = (ids.toDF("id"), pairs.toDF("a", "b"))
      val driver = labels(Dedup.propagateMinLabels(idf, pdf))
      assert(Dedup.lastPropagationRounds.get() == 0,
        "a pair set under the gate must finish on the driver")
      assert(driver == labels(Dedup.propagationRounds(idf, pdf)),
        s"paths disagree on ${ids.size} ids, pairs $pairs")
      assert(driver.map(_._1) == ids.toSet)
    }
    assert(labels(Dedup.propagateMinLabels(outside._1.toDF("id"), outside._2.toDF("a", "b")))
      == Set((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("view_cluster_labels builds in at most 5 Spark jobs with its deps warm") {
    // under the vertex-broadcast gate the build is the ids broadcast of
    // the pair filter, one pair collect, one label broadcast and one cut;
    // the rounds loop would spend ~20 jobs on the same handful of pairs
    Dedup.exactPairsView(spark, sf0001).count()
    graft.Tables(spark, sf0001).documents
    Dedup.clusterLabels.invalidate(spark, sf0001)
    // eager: the view is a checkpoint
    val jobs = jobsDuring(Dedup.clusterLabels(spark, sf0001))
    assert(Dedup.clusterLabels(spark, sf0001).count() > 0)
    assert(jobs <= 5, s"the labels build ran $jobs Spark jobs, expected at most 5")
  }

  test("view_exact_pairs builds in at most 4 Spark jobs with shingles warm") {
    // under the shingle-broadcast gate the build is one array collect,
    // the map-only probe with the one-partition exchange, and one cut;
    // the shuffled prefix join spends ten on the same fixture
    Dedup.docShingleArrays(spark, sf0001).count()
    Dedup.exactPairsView.invalidate(spark, sf0001)
    val jobs = jobsDuring(Dedup.exactPairsView(spark, sf0001))
    val pairs = Dedup.exactPairsView(spark, sf0001)
    assert(pairs.count() > 0)
    assert(pairs.rdd.getNumPartitions == 1)
    assert(jobs <= 4, s"the pairs build ran $jobs Spark jobs, expected at most 4")
  }

  test("indexed and shuffled exact-pair paths emit identical (d1, d2, jac) sets") {
    // the gated path probes one broadcast prefix index; the shuffled
    // path joins prefixes and intersects arrays. Random sets over a
    // small vocabulary (with near copies, so pairs exist), singletons,
    // identical sets, empty sets, pairs at exactly J = 1/2, an empty
    // input and two fixtures must all give the same pair set.
    def arrays(docs: Seq[(Long, Seq[Long])]) = docs.toDF("doc_id", "shs")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def same(arr: org.apache.spark.sql.DataFrame, what: String): Set[(Long, Long, Double)] = {
      val indexed = Dedup.exactPairsIndexed(arr)
      assert(indexed.isDefined, s"$what: input under the gate must take the indexed path")
      val (a, b) = (pairs(indexed.get), pairs(Dedup.exactPairsShuffled(arr)))
      assert(a == b, s"$what: indexed lost ${b -- a}, invented ${a -- b}")
      a
    }
    val rnd = new scala.util.Random(33)
    (1 to 6).foreach { round =>
      val base = (0 until 40).map { i =>
        val sz = rnd.between(0, 14)
        (100L + 7L * i) -> Seq.fill(sz)(rnd.nextInt(60).toLong * 1000003L).distinct
      }
      val copies = base.take(15).map { case (id, shs) =>
        (id + 1) -> (shs.drop(rnd.nextInt(3)) ++ Seq.fill(rnd.nextInt(3))(-rnd.nextInt(50).toLong)).distinct
      }
      same(arrays(rnd.shuffle(base ++ copies)), s"random round $round")
    }
    val boundary = same(arrays(Seq(
      1L -> Seq(5L), 2L -> Seq(5L), 3L -> Seq(6L),   // singletons
      4L -> Seq(1L, 2L, 3L), 5L -> Seq(1L, 2L, 3L),  // identical sets
      6L -> Seq(11L, 12L), 7L -> Seq(11L, 12L, 13L, 14L),   // J = 2/4
      8L -> Seq(21L, 22L, 23L), 9L -> Seq(22L, 23L, 24L),   // J = 2/4
      10L -> Seq(31L, 32L, 33L), 11L -> Seq(32L, 33L, 34L, 35L), // J = 2/5
      12L -> Seq.empty[Long], 13L -> Seq.empty[Long])), "boundary")
    assert(boundary.map(p => (p._1, p._2)) == Set((1L, 2L), (4L, 5L), (6L, 7L), (8L, 9L)))
    assert(boundary.filter(_._1 >= 6L).forall(_._3 == 0.5))
    assert(same(arrays(Seq.empty), "empty input").isEmpty)
    Seq(sf0001, "/root/testdata/sf0.01").foreach { dir =>
      assert(same(Dedup.docShingleArrays(spark, dir), dir).nonEmpty,
        s"fixture at $dir should contain near-duplicates")
    }
  }

  test("winnowing: a shared run of >= w+k-1 tokens guarantees a shared fingerprint") {
    import spark.implicits._
    // Winnowing's coverage guarantee (Schleimer et al. §4): any match of
    // length >= w+k-1 (= 6 tokens at k=3, w=4) is caught by at least one
    // common fingerprint. Two docs share a 12-token run amid distinct text.
    val run = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val d = Seq(
      (1L, s"one two three four five $run six seven eight nine ten eleven"),
      (2L, s"red green blue cyan violet $run amber teal navy olive maroon pink"),
      (3L, "wholly unrelated content with no overlap at all in any window of text here")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty, "shared run missed")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty, "false fingerprint overlap")
    // density: fingerprints are a strict subsample of the gram stream
    val nGrams1 = d.filter($"doc_id" === 1L).select(
      size(split($"text", " ")) - 2).as[Int].head()
    assert(byDoc(1L).size <= nGrams1 - 3)
  }

  test("winnowing: identical docs yield identical fingerprint sets; q103 pairs them") {
    import spark.implicits._
    val text = "the quick brown fox jumps over the lazy dog near the river bank today"
    val d = Seq((1L, text), (2L, text),
      (3L, "completely different words entirely unrelated content in every single position"))
      .toDF("doc_id", "text")
    val byDoc = Dedup.winnowFingerprints(d)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L) == byDoc(2L))
    val pairs = Dedup.winnowPairs(d, minShared = 3, dfCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("q103 on fixtures: ordered a<b pairs, capped fingerprints, non-empty") {
    val rows = Dedup.q103.fn(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty, "fixture near-duplicates should share fingerprints")
    assert(rows.forall { case (a, b, n) => a < b && n >= 3 })
  }

  test("simhash: identical docs at hamming 0, near-identical within 6") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy dog again and again today"),
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val tmp = java.nio.file.Files.createTempDirectory("simhash").toString
    d.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val pairs = Dedup.q34.fn(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    assert(!pairs.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("q116 containment pairs equal the naive all-ordered-pairs form (prefix filter lossless)") {
    val docs = graft.Tables(spark, sf0001).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shset(t: String): Set[String] = {
      val ts = t.split(" ")
      if (ts.length < 3) Set(t)
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (id, t) => id -> shset(t) }.toMap
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a != b
      inter = (sa & sb).size if inter * 4 >= sa.size * 3
    } yield (a, b) -> math.rint(inter * 1e6 / sa.size) / 1e6).toMap
    val got = Dedup.containmentPairs(
        graft.Tables(spark, sf0001).documents, 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    got.foreach { case (k, c) => assert(math.abs(c - expected(k)) < 1e-6, s"$k: $c vs ${expected(k)}") }
    // the fixture's near-dups are length-symmetric (every sf0.001 pair
    // qualifies both ways) — directionality is pinned on a synthetic
    // excerpt below, where only quote ⊆ page must fire
    assert(got.nonEmpty, "fixture yields no containment pairs")
  }

  test("q116 containment is DIRECTIONAL: an excerpt maps into its page, never the reverse") {
    import spark.implicits._
    val quote = (1 to 30).map(i => s"w$i").mkString(" ")
    val page = quote + " " + (100 to 200).map(i => s"w$i").mkString(" ")
    val other = (300 to 340).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, page), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, 3, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((1L, 2L)), s"got ${got.keySet}")
    assert(got((1L, 2L)) > 0.99, "full excerpt should have containment ~1")
  }

  test("q116 candidate join is equi-shaped (no cartesian/BNLJ after the shingle prep cut)") {
    val p = Dedup.containmentPairs(graft.Tables(spark, sf0001).documents, 3, 4)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"containment pair generation went quadratic:\n$p")
  }

  test("q136: the survivor is each cluster's longest member; policy visibly differs from q55's min-id") {
    val labels = Dedup.q55.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nchars = graft.Tables(spark, sf0001).documents
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val expected = labels.groupBy(_._2).toSeq.flatMap { case (k, members) =>
      val surv = members.map(_._1).maxBy(id => (nchars(id), -id))
      members.toSeq.map { case (id, _) => id -> ((k, surv, id == surv)) }
    }.toMap
    val got = Dedup.q136.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(got == expected)
    // the policy must be visible: some cluster's longest member is not
    // its min-id keeper
    assert(got.values.exists { case (k, surv, _) => surv != k },
      "every survivor equals the min-id keeper; quality policy unexercised")
  }

  test("q196 edit verify: levenshtein column equals a driver DP replay over the q33 pair set") {
    val texts = graft.Tables(spark, sf0001).documents
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).take(256)).toMap
    def lev(a: String, b: String): Long = {
      val prev = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var diag = prev(0); prev(0) = i
        for (j <- 1 to b.length) {
          val cur = math.min(math.min(prev(j) + 1, prev(j - 1) + 1),
            diag + (if (a(i - 1) == b(j - 1)) 0 else 1))
          diag = prev(j); prev(j) = cur
        }
      }
      prev(b.length).toLong
    }
    val q33pairs = Dedup.q33.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val expected = q33pairs.map { case (d1, d2, jac) =>
      val (p1, p2) = (texts(d1), texts(d2))
      val l = lev(p1, p2)
      val m = math.max(p1.length, p2.length).toLong
      (d1, d2, jac, l, (m - l) * 1000000L / m)
    }
    val got = Dedup.q196.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    // ppm sanity band
    got.foreach { case (d1, d2, _, _, ppm) =>
      assert(ppm >= 0L && ppm <= 1000000L, s"($d1,$d2): edit_sim_ppm $ppm")
    }
  }
}
