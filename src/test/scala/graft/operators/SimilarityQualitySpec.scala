package graft.operators

import graft.SparkTestBase

/** Quality bounds for the approximate (rows-only-checked) operators:
  * they have no SQL oracle, so their accuracy contract lives here. */
class SimilarityQualitySpec extends SparkTestBase {

  test("graft_nearest_cells is bit-identical to the composed argmin/probe column") {
    import org.apache.spark.sql.functions._
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val cs: Array[Array[Float]] = em.filter(col("vec_id") < 16)
      .orderBy(col("vec_id")).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    // the pre-NearestCells q60 column, verbatim: ||c||²−2⟨v,c⟩ distances,
    // array_sort over (d, cell) structs, slice to the probe set
    def distTo(c: Array[Float]) = {
      val n2 = c.map(x => x.toDouble * x.toDouble).sum
      lit(n2) - call_function("graft_dot", col("embedding"), lit(c)) * 2.0
    }
    val probeStructs = cs.zipWithIndex.map { case (c, i) =>
      struct(distTo(c).as("d"), lit(i).as("cell"))
    }
    val composed = em.select(col("vec_id"),
        transform(slice(array_sort(array(probeStructs: _*)), 1, 4),
          s => s.getField("cell")).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val native = em.select(col("vec_id"),
        call_function("graft_nearest_cells", col("embedding"),
          typedLit(cs.map(_.toSeq).toSeq), lit(4)).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(native == composed)
    // n = 1 (assignment) agrees with the head of the probe set
    val one = em.select(col("vec_id"),
        element_at(call_function("graft_nearest_cells", col("embedding"),
          typedLit(cs.map(_.toSeq).toSeq), lit(1)), 1).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(one == composed.view.mapValues(_.head).toMap)
    // NaN parity: a NaN component makes every distance NaN; the composed
    // array_sort (Spark doubles order NaN last) returns DISTINCT cells
    // in index order — the native expression must too
    val nanVec = Array.fill(64)(Float.NaN).toSeq
    val nan = spark.sql(
      s"SELECT graft_nearest_cells(array(${nanVec.map(_ => "CAST('NaN' AS FLOAT)").mkString(",")}), " +
        s"${csSql(cs)}, 4) AS c")
      .collect()(0).getSeq[Int](0).toSeq
    assert(nan == Seq(0, 1, 2, 3), s"NaN distances must keep distinct cells, got $nan")
  }

  private def csSql(cs: Array[Array[Float]]): String =
    "array(" + cs.map(c =>
      "array(" + c.map(x => s"CAST($x AS FLOAT)").mkString(",") + ")").mkString(",") + ")"

  test("q79 unit vectors have unit norm within micro-scale rounding") {
    val rows = Similarity.q79.fn(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getLong(1) > 0, s"vec ${r.getLong(0)} norm must be positive")
      val u = r.getString(2).split(",").map(_.toLong / 1e6)
      assert(u.length == 64)
      val n2 = u.map(x => x * x).sum
      assert(math.abs(n2 - 1.0) < 1e-3,
        s"vec ${r.getLong(0)}: ||unit||² = $n2")
    }
  }

  test("approx_count_distinct and percentile_approx land within 10% of exact (q50)") {
    RelationalExt.q50.fn(spark, sf0001).collect().foreach { r =>
      val approx = r.getLong(1).toDouble
      val exact = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.10,
        s"${r.getString(0)}: approx $approx vs exact $exact")
      val approxMed = r.getDouble(3)
      val exactMed = r.getDouble(4)
      assert(math.abs(approxMed - exactMed) / exactMed <= 0.10,
        s"${r.getString(0)}: approx median $approxMed vs exact $exactMed")
    }
  }

  test("schema_of_json infers the props payload shape") {
    val s = spark.sql("""SELECT schema_of_json('{"k": 87}') AS sch""")
      .collect()(0).getString(0)
    assert(s.contains("k") && s.toUpperCase.contains("BIGINT"), s)
  }

  test("ANN results report the same cosine as the exact ranking (q42 ⊆ truth)") {
    val exact = Similarity.q41.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val annRows = Similarity.q42.fn(spark, sf0001).collect()
    assert(annRows.nonEmpty, "ANN should return neighbors")
    // every ANN (qid, vec) pair that also appears in the exact top-5 must
    // carry an identical cosine; pairs outside the exact top-5 must not
    // beat the exact 5th-best (or they'd belong in it).
    val exactByQ = exact.groupBy(_._1._1).map { case (q, m) => q -> m.values.min }
    annRows.foreach { r =>
      val (qid, vid, cos) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      exact.get((qid, vid)) match {
        case Some(c) => assert(c == cos, s"cos mismatch for ($qid,$vid)")
        case None => assert(cos <= exactByQ(qid) + 1e-9,
          s"ANN found ($qid,$vid,$cos) better than exact 5th ${exactByQ(qid)}")
      }
    }
  }

  test("q44 LSH near-dup output equals the brute-force ground truth at every fixture SF") {
    // This IS q44's oracle envelope: the DuckDB oracle is the exact
    // all-pairs SQL, and the registered query is LSH-candidates +
    // exact-verify, so the oracle can only stay green while every
    // qualifying pair collides in some LSH table. Assert brute-force
    // equality at ALL shipped fixture scales (sf0.1 = the largest, 2,000
    // vectors — brute force is fine in a spec) so a new fixture/SF that
    // breaks the envelope fails HERE with a precise message, not as an
    // opaque driver hash mismatch.
    def toSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val lsh = toSet(Similarity.q44.fn(spark, dir).collect())
      val bf = toSet(Similarity.bruteForceNearDup(spark, dir, 0.45).collect())
      assert(bf.nonEmpty, s"$dir should contain near-dup embeddings")
      assert(lsh == bf,
        s"$dir: LSH missed ${(bf -- lsh).size} pairs, invented ${(lsh -- bf).size}")
    }
  }

  test("auto LSH geometry policy: anchored to the proven 32×4, occupancy-held, recall-bounded") {
    // the policy reproduces the registered (spec-proven-exact) geometry
    // across the whole fixture envelope: planes stay 4 up to n = 2048,
    // and tablesFor(4) is exactly the registered 32 tables
    assert(Similarity.planesFor(500) == 4)
    assert(Similarity.planesFor(2048) == 4)
    assert(Similarity.planesFor(4096) == 5)
    assert(Similarity.tablesFor(4) == 32)
    // occupancy-held: each doubling of the corpus adds one plane (2×
    // the buckets), clamped at 20
    assert(Similarity.planesFor(1L << 20) == 13)
    assert(Similarity.planesFor(1L << 40) == 20)
    // the compensation rule holds the per-pair miss bound at every depth
    // the EXACT-BUCKET policy can emit ((1 − r^p)^tables ≤ 0.002 at the
    // 0.45 threshold), staying under the table ceiling up to
    // ExactDepthLimit...
    val r = Similarity.collisionAtThreshold
    (4 to Similarity.ExactDepthLimit).foreach { p =>
      val t = Similarity.tablesFor(p)
      val miss = math.pow(1.0 - math.pow(r, p), t)
      assert(miss <= 0.002, f"p=$p t=$t miss=$miss%.5f")
      assert(t >= 1 && t <= Similarity.MaxTables)
    }
    // ...and refuses loudly past it (the multi-probe path takes over)
    intercept[IllegalArgumentException](
      Similarity.tablesFor(Similarity.ExactDepthLimit + 1))
    // the MULTI-PROBE compensation holds the same bound at every deeper
    // depth with far fewer tables: (1 − perTableHit)^t ≤ 0.002
    (Similarity.ExactDepthLimit + 1 to 20).foreach { p =>
      val q = Similarity.probesFor(p)
      val t = Similarity.tablesForMultiProbe(p, q)
      val miss = math.pow(1.0 - Similarity.perTableHit(p, q), t)
      assert(miss <= 0.002, f"p=$p q=$q t=$t miss=$miss%.5f")
      assert(t >= 1 && t <= Similarity.MaxTables)
    }
    // probes=1 anchors the multi-probe model to the exact-bucket one:
    // perTableHit(p, 1) = r^p, so the two compensations agree exactly
    (4 to 14).foreach { p =>
      assert(math.abs(Similarity.perTableHit(p, 1) - math.pow(r, p)) < 1e-12)
      assert(Similarity.tablesForMultiProbe(p, 1) == Similarity.tablesFor(p))
    }
  }

  test("neardupPairsAuto reproduces the registered q44 output at fixture scale") {
    import org.apache.spark.sql.functions.col
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val auto = Similarity.neardupPairsAuto(em).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val registered = Similarity.q44.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(auto == registered)
  }

  test("neardupPairsAuto scans the corpus exactly once (count + pipeline share one cut)") {
    import org.apache.spark.sql.functions.col
    // the auto path materializes its input ONCE and derives everything —
    // the row count for the geometry AND every pipeline read — from that
    // cut. Proof: the returned plan contains zero file scans (all leaves
    // are the materialized RDD), so the parquet source was read exactly
    // once, by the cut itself. The explicit-geometry path reads its
    // input frame directly — the auto path must never read it MORE.
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val plan = Similarity.neardupPairsAuto(em).queryExecution.executedPlan.toString
    assert(!plan.contains("FileScan"),
      s"auto pipeline must read only its one materialized input, not re-scan the source:\n$plan")
  }

  test("multi-probe near-dup pipeline equals brute force at fixture scale (deep geometry)") {
    import org.apache.spark.sql.functions.col
    // exercise REAL probing: depth 6 on the 500-vector fixture (buckets
    // smaller than the near-dup cliques) with the policy's probe count
    // and table compensation — recall must survive on probes where the
    // 7-table exact-bucket form alone would miss pairs
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val p = 6
    val q = Similarity.probesFor(p)
    val t = Similarity.tablesForMultiProbe(p, q)
    def toSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val mp = toSet(Similarity.neardupPairsMultiProbe(em, t, p, q).collect())
    val bf = toSet(Similarity.bruteForceNearDup(spark, sf0001, 0.45).collect())
    assert(bf.nonEmpty)
    val missed = bf -- mp
    assert(missed.isEmpty,
      s"multi-probe (t=$t, p=$p, q=$q) missed ${missed.size} of ${bf.size} pairs: $missed")
    assert(mp == bf, s"multi-probe invented ${(mp -- bf).size} pairs")
    // broadcast-verify is a plan-only switch: identical output
    val mpB = toSet(Similarity.neardupPairsMultiProbe(em, t, p, q,
      broadcastVerify = true).collect())
    assert(mpB == bf)
  }

  test("sample-trained quantizer: bounded training set still indexes the FULL corpus") {
    // force sampling (cap 200 < the 500-vector fixture): training reads
    // a bounded md5-bucket sample, the assignment/probe pass still
    // covers every vector — 50 output rows, sane recall, exact cosines
    val rows = Similarity.ivfTopK(
      spark.read.parquet(s"$sf0001/embeddings.parquet"), 16, 4, maxTrain = 200L)
      .collect()
    assert(rows.length == 50, s"probe must still rank 5 per query, got ${rows.length}")
    val exact = Similarity.q41.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"IVF recall@5 with 200-row training sample = $recall%.2f")
    assert(recall >= 0.4, s"sampled-quantizer recall collapsed: $recall")
  }

  test("quantizer degrades to fewer cells when the training frame has under k rows") {
    // an md5-bucket sample is binomial — a tight cap can land under k;
    // the quantizer must emit a smaller model, not crash, and the probe
    // must clamp nprobe to the cells that exist
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val tiny = (0L until 5L).map(i =>
      (i, Array.tabulate(8)(d => (i * 8 + d).toFloat / 40f).toSeq)).toDF("vec_id", "embedding")
    val cents = Similarity.trainQuantizer(tiny, k = 16, maxTrain = 1000L)
    assert(cents.length == 5, s"expected one cell per row, got ${cents.length}")
    val probed = Similarity.ivfProbe(tiny, cents, nprobe = 16).collect()
    assert(probed.nonEmpty)
    val empty = tiny.filter(col("vec_id") < 0)
    val e = intercept[IllegalArgumentException](
      Similarity.trainQuantizer(empty, k = 16, maxTrain = 1000L))
    assert(e.getMessage.contains("empty training frame"))
  }

  test("Lloyd's driver collect is one packed row per cell, values exactly the flat means") {
    // the training aggregate reaches the driver as ≤ K array rows (K·dim
    // FLOATS of model state), never K·dim scalar Rows — at the cellsFor
    // clamp (K=65536, dim 64) that is ~16 MB of payload vs 4.2M Row
    // objects per Lloyd round
    import org.apache.spark.sql.functions.col
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val k = 16
    val seeds: Array[Array[Float]] = em.orderBy(col("vec_id")).limit(k).collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val dim = seeds(0).length
    val flat = Similarity.cellDimMeans(em, seeds).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val packed = Similarity.cellMeansFrame(em, seeds).collect()
    // collected-row count == number of non-empty cells (all K here), not K·dim
    assert(packed.length == flat.keySet.map(_._1).size)
    assert(packed.length == k, s"expected all $k cells populated, got ${packed.length}")
    assert(flat.size == k * dim)
    packed.foreach { r =>
      val cell = r.getInt(0)
      val ms = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("ms")
      assert(ms.length == dim, s"cell $cell packed ${ms.length} dims, expected $dim")
      // dim-sorted and bit-identical to the flat per-(cell, dim) means
      assert(ms.map(_.getInt(0)) == (0 until dim),
        s"cell $cell array not dim-ordered")
      ms.foreach(s => assert(s.getDouble(1) == flat((cell, s.getInt(0))),
        s"cell $cell dim ${s.getInt(0)} mean drifted"))
    }
  }

  test("IVF K policy: K ≈ √n, anchored at the fixture floor, recall survives the auto K") {
    // the policy floor reproduces the registered q60 geometry at fixture
    // sizes where √n < 16 would under-partition
    assert(Similarity.cellsFor(256) == 16)
    assert(Similarity.cellsFor(500) == 23)
    assert(Similarity.cellsFor(32000) == 179)
    assert(Similarity.cellsFor(1L << 40) == 65536)
    // monotone: a bigger corpus never gets fewer cells
    val ns = Seq(16L, 256L, 1000L, 32000L, 1L << 20, 1L << 40)
    ns.sliding(2).foreach { case Seq(a, b) =>
      assert(Similarity.cellsFor(a) <= Similarity.cellsFor(b))
    }
    // the auto-K probe still ranks 5 per query with sane recall at
    // fixture scale (K = 23, nprobe = 4 → ~17% of the corpus probed)
    val rows = Similarity.ivfTopKAuto(
      spark.read.parquet(s"$sf0001/embeddings.parquet")).collect()
    assert(rows.length == 50, s"auto-K probe must rank 5 per query, got ${rows.length}")
    val exact = Similarity.q41.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(f"IVF recall@5 at auto K=23 = $recall%.2f")
    assert(recall >= 0.4, s"auto-K recall collapsed: $recall")
  }

  test("IVF q60 equals the exact top-5 at every fixture SF (oracle envelope)") {
    // q60's oracle envelope (q42/q84 protocol): under the full-probe
    // floor the probe is exhaustive (exact by construction); at sf0.1
    // the genuine 4-of-16 probe runs and must still reproduce the exact
    // top-5. A new fixture/SF that breaks either branch fails HERE — on
    // a genuine miss, demote q60 to rows-only (oracle = None).
    Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val exact = Similarity.q41.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      val got = Similarity.q60.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(got == exact,
        s"q60 (IVF) missed the exact top-5 at $dir — demote q60 to rows-only")
    }
    // the genuine-IVF branch must actually engage somewhere: sf0.1 sits
    // above the full-probe floor
    val n01 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").count()
    assert(n01 >= Similarity.IvfFullProbeFloor,
      "sf0.1 no longer exercises the genuine nprobe<K branch — re-measure the envelope")
  }

  test("ANN q42/q84 equal the exact top-5 at every fixture SF (oracle envelope)") {
    // This IS the oracle envelope for the two ANN queries: their DuckDB
    // oracle is q41's exact all-pairs SQL, valid only where the LSH
    // candidate set provably contains the full true top-5. Assert full
    // output equality (ranks and cosines, not just id recall) at ALL
    // shipped fixture scales so a new fixture/SF that breaks the
    // envelope fails HERE with a precise message — on a genuine miss,
    // demote the missing query to rows-only (oracle = None).
    import org.apache.spark.sql.functions.col
    Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val exact = Similarity.q41.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      val q42rows = Similarity.q42.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(q42rows == exact,
        s"q42 (32×3 sign-LSH) missed the exact top-5 at $dir — demote q42 to rows-only")
      val q84rows = Similarity.q84.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(q84rows == exact,
        s"q84 (4×4×11 multi-probe) missed the exact top-5 at $dir — demote q84 to rows-only")
    }
  }

  test("q151 quantization matches a naive integer recompute; error bounded by scale/127") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    val expected = vecs.toSeq.sortBy(_._1).map { case (id, v) =>
      val vi = v.map(x => math.round(x.toDouble * 1000000))
      val scale = math.max(vi.map(math.abs).max, 1L)
      val qv = vi.map(x => math.signum(x) * (math.abs(x) * 127 / scale))
      val err = vi.zip(qv).map { case (x, q) =>
        math.abs(x - math.signum(q) * (math.abs(q) * scale / 127)) }.max
      (id, scale, qv.zipWithIndex.map { case (q, i) => (i + 1) * q }.sum,
        qv.map(math.abs).sum, err)
    }
    val got = Similarity.q151.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == expected, {
      val bad = got.zip(expected).find { case (g, e) => g != e }
      s"first divergence: got=${bad.map(_._1)} want=${bad.map(_._2)}"
    })
    // the int8 invariants: every |q| ≤ 127 (digest L1 bounds it) and the
    // dequantization error is within one quantization step
    got.foreach { case (id, scale, _, l1, err) =>
      assert(l1 <= 127L * 64, s"vec $id L1 $l1 exceeds the int8 envelope")
      assert(err <= scale / 127 + 1, s"vec $id err $err exceeds scale/127")
    }
  }

  test("q152 Gram matrix matches a naive integer recompute (full upper triangle)") {
    val vecs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .collect().map(r =>
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray
          .map(x => math.round(x.toDouble * 1000000)))
    val d = vecs.head.length
    val expected = (for {
      i <- 1 to d; j <- i to d
    } yield {
      val s = vecs.map(v => BigInt(v(i - 1)) * BigInt(v(j - 1))).sum
      val g = (s.abs / 1000000) * (if (s < 0) -1 else 1)
      (i, j, g.toLong)
    }).toSeq
    val got = Similarity.q152.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got == expected, {
      val bad = got.zip(expected).find { case (g, e) => g != e }
      s"first divergence: got=${bad.map(_._1)} want=${bad.map(_._2)}"
    })
    assert(got.length == d * (d + 1) / 2)
    // the diagonal is a sum of squares — strictly positive on real data
    got.filter(t => t._1 == t._2).foreach { case (i, _, g) =>
      assert(g > 0, s"G[$i][$i] must be positive")
    }
  }

  test("symEig + PCA fit: eigenpairs verify A·v = λ·v and projected covariance is diagonal") {
    // unit check on a known matrix: [[2,1],[1,2]] → λ = 3, 1 with
    // eigenvectors (1,1)/√2 and (1,−1)/√2
    val (vals2, vecs2) = Similarity.symEig(Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(math.abs(vals2(0) - 3.0) < 1e-12 && math.abs(vals2(1) - 1.0) < 1e-12)
    assert(math.abs(math.abs(vecs2(0)(0)) - 1 / math.sqrt(2)) < 1e-12)
    // end-to-end: q152's Gram rows + the mean → top-4 components →
    // map-only projection; the projected coordinates must be
    // decorrelated with variances = the eigenvalues
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val raw = em.collect().map(r =>
      r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val n = raw.length.toLong
    val d = raw.head.length
    val meanMicro = Array.tabulate(d)(i =>
      raw.map(v => math.round(v(i).toDouble * 1000000).toDouble).sum / n)
    val gram = Similarity.q152.fn(spark, sf0001).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val (vals, comps) = Similarity.fitPcaFromGram(gram, meanMicro, n, k = 4)
    assert(vals(0) >= vals(1) && vals(1) >= vals(2) && vals(2) >= vals(3))
    assert(vals.forall(_ > 0), "fixture covariance must be positive on the top-4")
    // residual check A·v = λ·v on the assembled covariance
    val cov = Array.ofDim[Double](d, d)
    gram.foreach { case (i, j, g) =>
      val c = g.toDouble / 1e6 / n - (meanMicro(i - 1) / 1e6) * (meanMicro(j - 1) / 1e6)
      cov(i - 1)(j - 1) = c; cov(j - 1)(i - 1) = c
    }
    comps.zip(vals).foreach { case (v, l) =>
      val av = cov.map(row => row.zip(v).map { case (a, x) => a * x }.sum)
      val resid = av.zip(v).map { case (a, x) => math.abs(a - l * x) }.max
      assert(resid < 1e-9, s"eigen residual $resid")
    }
    // projected sample covariance ≈ diag(λ): compute from the map-only
    // projection (centered with the projected mean)
    val proj = Similarity.projectEmbeddings(
        em.select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")), comps)
      .collect().map(r => Array.tabulate(4)(i => r.getDouble(i + 1)))
    val pMean = Array.tabulate(4)(i => proj.map(_(i)).sum / n)
    for (i <- 0 until 4; j <- i until 4) {
      val c = proj.map(p => (p(i) - pMean(i)) * (p(j) - pMean(j))).sum / n
      if (i == j)
        assert(math.abs(c - vals(i)) < 3e-3 * math.max(1.0, vals(i)),
          s"projected var($i)=$c vs λ=${vals(i)}")
      else assert(math.abs(c) < 3e-3, s"projected cov($i,$j)=$c not ~0")
    }
  }

  test("q153 embedding drift matches a naive half-centroid recompute") {
    def mdBucket2(id: Long): Int = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(2)
        .map("%02x".format(_)).mkString, 16) % 2
    val rows = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .collect().map(r => (r.getLong(0), r.getInt(2),
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray
          .map(x => math.round(x.toDouble * 1000000))))
    def roundDiv(s: Long, n: Long): Long =
      if (s < 0) -((2 * -s + n) / (2 * n)) else (2 * s + n) / (2 * n)
    val expected = rows.groupBy(_._2).map { case (label, vs) =>
      val (a, b) = vs.partition(v => mdBucket2(v._1) == 0)
      val d = vs.head._3.length
      val l2 = (0 until d).map { i =>
        val m1 = roundDiv(a.map(_._3(i)).sum, a.length)
        val m2 = roundDiv(b.map(_._3(i)).sum, b.length)
        (m1 - m2) * (m1 - m2)
      }.sum
      label -> ((a.length.toLong, b.length.toLong, l2))
    }
    val got = Similarity.q153.fn(spark, sf0001).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected, {
      val ks = (got.keySet ++ expected.keySet).filter(k => got.get(k) != expected.get(k))
      ks.map(k => s"$k: got=${got.get(k)} want=${expected.get(k)}").mkString("; ")
    })
    // random split of an i.i.d. fixture: the drift must be SMALL next to
    // the centroid scale, or the monitor would false-alarm constantly
    got.values.foreach { case (na, nb, l2) =>
      assert(na > 0 && nb > 0)
      assert(l2 < 64L * 1000000L * 1000000L, s"implausible drift $l2")
    }
  }

  test("q147 incremental pairs equal brute-force delta×corpus at every fixture SF") {
    // q147's oracle is the exact delta-vs-corpus SQL, valid because the
    // q44 envelope proves every cos ≥ 0.45 pair collides under 32×4 at
    // all shipped fixtures — assert the registered output against an
    // independent brute-force recompute anyway, so a geometry edit that
    // breaks the subset argument fails HERE with a precise message.
    def mdBucket(id: Long): Int = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(2)
        .map("%02x".format(_)).mkString, 16)
    Seq(sf0001, "/root/testdata/sf0.01", "/root/testdata/sf0.1").foreach { dir =>
      val expected = Similarity.bruteForceNearDup(spark, dir, 0.45).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .flatMap { case (v1, v2, cos) =>
          (mdBucket(v1) >= 52429, mdBucket(v2) >= 52429) match {
            case (true, false) => Some((v1, v2, cos))
            case (false, true) => Some((v2, v1, cos))
            case _             => None // both delta or both corpus
          }
        }.sortBy(t => (t._1, t._2)).toSeq
      val got = Similarity.q147.fn(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(got == expected,
        s"q147 drifted from brute-force delta×corpus at $dir — demote to rows-only")
      assert(expected.nonEmpty, s"fixture at $dir exercises no delta-corpus pairs")
    }
  }

  test("multi-probe ANN holds q42's recall with 8× fewer index tables") {
    import org.apache.spark.sql.functions.col
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val exact = Similarity.q41.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // q42's geometry is 32 exact tables; the multi-probe form indexes
    // only 4 and recovers the recall by probing 11 buckets per table on
    // the (tiny) query side — the index-size regime multi-probe is FOR
    val mp = Similarity.annTopKMultiProbe(em, tables = 4,
        planesPerTable = 4, probes = 11).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & mp).size.toDouble / exact.size
    info(f"multi-probe ANN recall@5 = $recall%.2f (4 tables × 4 planes × 11 probes)")
    assert(recall >= 0.6, s"multi-probe recall collapsed: $recall")
    // cosines of true-positive results must match the exact ranking's
    val exactCos = Similarity.q41.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    Similarity.annTopKMultiProbe(em, 4, 4, 11).collect().foreach { r =>
      exactCos.get((r.getLong(0), r.getLong(2)))
        .foreach(c => assert(c == r.getDouble(3)))
    }
    // the registered q84 IS this operator at this geometry — the recall
    // floor above therefore covers the driver-visible query
    val viaQ84 = Similarity.q84.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(viaQ84 == mp, "q84 drifted from annTopKMultiProbe(4, 4, 11)")
  }

  test("broadcast-verify gate is byte-based: wide embeddings lower the row cutoff") {
    import org.apache.spark.sql.functions.col
    // at 64-dim the 64 MiB budget admits up to 262,144 rows (256 B/row)
    // — the former 250k-row gate was the round-number approximation of
    // this same budget, so the old regime stays inside the new cutoff...
    assert(Similarity.broadcastVerifyFits(250000L, 64))
    assert(Similarity.broadcastVerifyFits(262144L, 64)) // 64 MiB / 256 B
    assert(!Similarity.broadcastVerifyFits(262145L, 64)) // one row past it
    // ...while the ADVICE scenario — 1024-dim just under 250k rows, a
    // ~1 GB relation that the old row gate would have broadcast on BOTH
    // attach joins — now takes the shuffled path
    assert(!Similarity.broadcastVerifyFits(249999L, 1024))
    assert(Similarity.broadcastVerifyFits(16384L, 1024)) // 64 MB exactly
    // degenerate inputs shuffle vacuously
    assert(!Similarity.broadcastVerifyFits(1000L, 0))
    // dim probing: real frame -> its width; empty frame -> 0
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    assert(Similarity.probeDim(em) == 64)
    assert(Similarity.probeDim(em.filter(col("vec_id") < 0)) == 0)
    // a sampled NULL embedding (size -> SQL NULL) must also fall through
    // to the shuffled path, never NPE
    val nullEm = em.limit(3).select(col("vec_id"),
      org.apache.spark.sql.functions.lit(null)
        .cast("array<float>").as("embedding"))
    assert(Similarity.probeDim(nullEm) == 0)
  }

  test("depth-wall switch: the auto policy's multi-probe branch reproduces the exact pair set") {
    import org.apache.spark.sql.functions.col
    // the production wall (ExactDepthLimit, p ≥ 15) engages at corpora
    // ≳2M vectors — unreachable by fixtures — so inject a wall of 3:
    // planesFor(fixture) = 4 crosses it and the SWITCHED branch of
    // neardupPairsAuto executes end-to-end at a verifiable depth
    val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    def toSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(Similarity.planesFor(em.count()) == 4)
    val exactBranch = toSet(Similarity.neardupPairsAuto(em).collect())
    val switched = toSet(
      Similarity.neardupPairsAutoImpl(em, exactDepthLimit = 3).collect())
    val bf = toSet(Similarity.bruteForceNearDup(spark, sf0001, 0.45).collect())
    assert(bf.nonEmpty)
    assert(exactBranch == bf, "exact-bucket branch drifted from brute force")
    assert(switched == bf,
      s"switched multi-probe branch missed ${(bf -- switched).size} / invented ${(switched -- bf).size} pairs")
  }

  test("wide-embedding corpus flips the auto verify path to shuffled at the byte cutoff, end-to-end") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Join
    // The ADVICE scenario driven through the REAL policy entry point:
    // a 4096-dim corpus (16 KiB/row) whose row count straddles the byte
    // budget. The cutoff row count is derived from the PROBED dimension
    // of the synthetic frame — not hand-coded — so a budget or probe
    // regression moves both sides of the assertion together.
    val dim = 4096
    def corpus(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dim)),
        j => sin(col("id") * j.cast("double")).cast("float")).as("embedding"))
    val probedDim = Similarity.probeDim(corpus(4))
    assert(probedDim == dim, s"probe read $probedDim, corpus is $dim-wide")
    val cutoffRows = Similarity.BroadcastVerifyMaxBytes / (probedDim * 4L)
    // both attach joins in verifyPairs carry an explicit broadcast hint
    // on the broadcast path and none on the shuffled path; the hint
    // survives optimization as Join.hint, so the decision is visible
    // without executing the pair join
    def hintedJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: Join if j.hint.leftHint.exists(_.strategy.isDefined) ||
            j.hint.rightHint.exists(_.strategy.isDefined) => j
      }.size
    def allJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val atCutoff = Similarity.neardupPairsAuto(corpus(cutoffRows))
    val onePast = Similarity.neardupPairsAuto(corpus(cutoffRows + 1))
    // sanity: both plans have the candidate self-join + two attach joins
    assert(allJoins(atCutoff) >= 3 && allJoins(onePast) >= 3)
    assert(hintedJoins(atCutoff) == 2,
      s"corpus AT the byte cutoff ($cutoffRows x $dim-dim) must broadcast both attach joins")
    assert(hintedJoins(onePast) == 0,
      s"corpus ONE ROW past the byte cutoff must take the shuffled verify path")
  }

  test("q130: labels exactly the multi-member clusters; top-3 matches a naive c-TF-IDF from q70's labels") {
    val labels = Similarity.q70.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val multi = labels.groupBy(_._2).filter(_._2.length >= 2).keySet
    assert(multi.nonEmpty, "fixture has no multi-member cluster; q130 untestable")
    val texts = graft.Tables(spark, sf0001).documents
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    val keeperOf = labels.toMap
    val tf = scala.collection.mutable.Map.empty[(Long, String), Long]
    for ((vid, k) <- labels if multi(k); tok <- texts(vid).split(" "))
      tf((k, tok)) = tf.getOrElse((k, tok), 0L) + 1L
    val df = tf.keys.groupBy(_._2).view.mapValues(_.map(_._1).toSet.size.toLong).toMap
    val expected = tf.keys.groupBy(_._1).toSeq.flatMap { case (k, keys) =>
      keys.toSeq.map { case (_, tok) => (tok, tf((k, tok)), df(tok)) }
        .sortBy { case (tok, t, d) => (-(t.toDouble / (1.0 + d)), tok) }
        .take(3).zipWithIndex
        .map { case ((tok, t, d), i) => (k, i + 1, tok, t, d) }
    }.sortBy(r => (r._1, r._2))
    val got = Similarity.q130.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got.map(_._1).toSet == multi, "labeled cluster set differs from q70 multi-member keepers")
    assert(got == expected, {
      val d1 = got.filterNot(expected.contains); val d2 = expected.filterNot(got.contains)
      s"only-got=${d1.take(5).mkString(";")} only-expected=${d2.take(5).mkString(";")}"
    })
  }

  test("q160: diversity equals the naive mean squared distance to the centroid, and the pairwise identity holds") {
    import org.apache.spark.sql.functions._
    val t = graft.Tables(spark, sf0001)
    val rows = t.embeddings
      .join(t.documents.select(col("doc_id"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("source"), col("embedding")).collect()
      .map(r => (r.getString(0),
        r.getSeq[Float](1).map(v => math.round(v.toDouble * 1000000)).toArray))
    val expected = rows.groupBy(_._1).map { case (src, vs) =>
      val n = vs.length
      val dims = vs.head._2.length
      val sd = Array.tabulate(dims)(d => vs.map(v => BigInt(v._2(d))).sum)
      val s2 = vs.map(v => v._2.map(x => BigInt(x) * x).sum).sum
      src -> ((n.toLong, ((BigInt(n) * s2 - sd.map(x => x * x).sum) / (BigInt(n) * n)).toLong))
    }
    val got = Similarity.q160.fn(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (src, e) =>
      assert(got(src) == e, s"$src: got ${got(src)}, naive $e")
    }
    // textbook identity, exactly in integers: Σ_{i≠j}‖xᵢ−xⱼ‖² =
    // 2·(n·Σ‖x‖² − ‖Σx‖²) — the double sum the operator never forms,
    // replayed brute-force on the smallest source
    val (src, vs) = rows.groupBy(_._1).minBy(_._2.length)
    val n = vs.length
    if (n >= 2) {
      val dims = vs.head._2.length
      val sd = Array.tabulate(dims)(d => vs.map(v => BigInt(v._2(d))).sum)
      val s2 = vs.map(v => v._2.map(x => BigInt(x) * x).sum).sum
      val pairSum = (for (i <- vs.indices; j <- vs.indices if i != j) yield
        vs(i)._2.zip(vs(j)._2).map { case (a, b) =>
          BigInt(a - b) * (a - b) }.sum).sum
      assert(pairSum == 2 * (BigInt(n) * s2 - sd.map(x => x * x).sum),
        s"pairwise identity broken on $src")
    }
  }

  test("q187 semdedup: clusters = q70's, one keeper per cluster, cosine = exact integer replay") {
    val rows = Similarity.q187.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    // cluster labels must be exactly q70's keeper assignment
    val q70lbl = Similarity.q70.fn(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == q70lbl,
      "q187 cluster labels diverge from q70")
    // exactly one kept member per cluster, and it is the (cos, id) argmin
    rows.groupBy(_._2).foreach { case (c, ms) =>
      assert(ms.count(_._4) == 1, s"cluster $c kept ${ms.count(_._4)} members")
      val keeper = ms.minBy(m => (m._3, m._1))
      assert(keeper._4, s"cluster $c kept a member that is not the (cos, id) argmin")
    }
    // centroid cosine: exact integer replay from the raw vectors
    val em = graft.Tables(spark, sf0001).embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val micro: Map[Long, Array[Long]] = em.view.mapValues(
      _.map(v => BigDecimal(v.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toMap
    rows.groupBy(_._2).foreach { case (c, ms) =>
      val dims = micro(ms.head._1).length
      val sm = Array.tabulate(dims)(d => ms.map(m => BigInt(micro(m._1)(d))).sum)
      ms.foreach { m =>
        val vm = micro(m._1)
        val dot = (0 until dims).map(d => BigInt(vm(d)) * sm(d)).sum
        val nv = (0 until dims).map(d => BigInt(vm(d)) * BigInt(vm(d))).sum
        val nc = (0 until dims).map(d => sm(d) * sm(d)).sum
        val cos = BigDecimal(dot.toDouble / (math.sqrt(nv.toDouble) * math.sqrt(nc.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(m._3 == cos, s"vec ${m._1}: cos ${m._3} != replay $cos")
      }
    }
    // the prune must bite: some cluster has >1 member, so kept < total
    assert(rows.count(_._4) < rows.length, "no multi-member clusters pruned")
  }

  test("q195 PQ codes equal an exact integer driver replay; seeds reconstruct exactly") {
    val em = graft.Tables(spark, sf0001).embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val micro: Map[Long, Array[Long]] = em.toMap.view.mapValues(
      _.map(v => BigDecimal(v.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toMap
    // seed selection: 16 md5-least (16-bit-prefix, id) vec_ids, ranked
    val md = java.security.MessageDigest.getInstance("MD5")
    def pfx(id: Long): Int = Integer.parseInt(
      md.digest(id.toString.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16)
    val seeds = em.map(_._1).sortBy(id => (pfx(id), id)).take(16)
    val expected = em.map(_._1).sorted.map { id =>
      val v = micro(id)
      val perSub = (0 until 4).map { sub =>
        val range = (sub * 16) until ((sub + 1) * 16)
        val best = seeds.zipWithIndex.map { case (sid, rank) =>
          val s = micro(sid)
          val dist = range.map(d => { val df = v(d) - s(d); df * df }).sum
          (dist, rank.toLong)
        }.min
        best
      }
      (id, perSub(0)._2, perSub(1)._2, perSub(2)._2, perSub(3)._2,
        perSub.map(_._1).sum)
    }.toSeq
    val got = Similarity.q195.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // every seed encodes to ITSELF in every subspace: zero recon error
    val bySeed = got.map(g => g._1 -> g).toMap
    seeds.foreach { sid =>
      assert(bySeed(sid)._6 == 0L, s"seed $sid has nonzero recon error")
    }
    // non-seed vectors should not all reconstruct exactly (the codes compress)
    assert(got.exists(_._6 > 0L), "every vector reconstructed exactly — codebook too big?")
  }

  test("q204 k-means round equals an exact integer driver replay; objective <= seed-assignment scatter") {
    val em = graft.Tables(spark, sf0001).embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val micro: Map[Long, Array[Long]] = em.toMap.view.mapValues(
      _.map(v => BigDecimal(v.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def pfx(id: Long): Int = Integer.parseInt(
      md.digest(id.toString.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16)
    val seeds = em.map(_._1).sortBy(id => (pfx(id), id)).take(16)
    // full-dim nearest seed, tie to the lower rank
    val assign: Map[Long, (Long, Long)] = em.map(_._1).map { id =>
      val v = micro(id)
      val best = seeds.zipWithIndex.map { case (sid, rank) =>
        val s = micro(sid)
        ((0 until 64).map(d => { val df = v(d) - s(d); df * df }).sum, rank.toLong)
      }.min
      id -> (best._2, best._1)
    }.toMap
    val byCluster = assign.groupBy(_._2._1)
    def sgnMean(s: Long, n: Long): Long =
      if (s < 0) -((2 * (-s) + n) / (2 * n)) else (2 * s + n) / (2 * n)
    val expected = byCluster.toSeq.flatMap { case (c, members) =>
      val ids = members.keys.toSeq
      val nM = ids.length.toLong
      val sse = members.values.map(_._2).sum
      (0 until 64).map { d =>
        val s = ids.map(micro(_)(d)).sum
        (c, d + 1, sgnMean(s, nM), nM, sse)
      }
    }.sortBy { case (c, d, _, _, _) => (c, d) }
    val got = Similarity.q204.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    // Lloyd sanity: sizes total the corpus; every seed lands in its own cluster
    assert(got.map(g => (g._1, g._4)).distinct.map(_._2).sum == em.length.toLong)
    seeds.zipWithIndex.foreach { case (sid, rank) =>
      assert(assign(sid)._1 == rank.toLong, s"seed $sid not in its own cluster")
    }
  }

  test("q205 ADC search equals a driver replay; ADC of an exactly-encoded vector is exact") {
    val em = graft.Tables(spark, sf0001).embeddings.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val micro: Map[Long, Array[Long]] = em.toMap.view.mapValues(
      _.map(v => BigDecimal(v.toDouble * 1e6)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def pfx(id: Long): Int = Integer.parseInt(
      md.digest(id.toString.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString, 16)
    val ids = em.map(_._1)
    val seeds = ids.sortBy(id => (pfx(id), id)).take(16)
    val queries = ids.sortBy(id => (-pfx(id), -id)).take(5)
    def subDist(v: Array[Long], s: Array[Long], sub: Int): Long =
      ((sub * 16) until ((sub + 1) * 16)).map(d => { val df = v(d) - s(d); df * df }).sum
    val codes: Map[Long, Array[Int]] = ids.map { id =>
      id -> (0 until 4).map { sub =>
        seeds.zipWithIndex.map { case (sid, rank) =>
          (subDist(micro(id), micro(sid), sub), rank)
        }.min._2
      }.toArray
    }.toMap
    val expected = queries.sorted.flatMap { q =>
      val lut: Array[Array[Long]] = (0 until 4).map(sub =>
        seeds.map(sid => subDist(micro(q), micro(sid), sub)).toArray).toArray
      val ranked = ids.filter(_ != q).map { v =>
        (codes(v).zipWithIndex.map { case (c, sub) => lut(sub)(c) }.sum, v)
      }.sortBy(p => p)
      ranked.take(10).zipWithIndex.map { case ((adc, v), i) =>
        val exact = (0 until 4).map(subDist(micro(q), micro(v), _)).sum
        (q, i + 1, v, adc, exact)
      }
    }.toSeq
    val got = Similarity.q205.fn(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    // shape: exactly top-10 per query, ADC non-decreasing within a query
    assert(got.length == queries.length * 10)
    got.groupBy(_._1).values.foreach { rs =>
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank == byRank.sorted, "ADC not monotone in rank")
    }
    // the ADC identity: a vector whose PQ encode is lossless (any
    // codebook seed — its own sub-vectors ARE codebook entries) has
    // ADC == exact distance for EVERY query, asserted over the full
    // query × seed grid in the replay domain
    for (q <- queries; s <- seeds if s != q) {
      val adc = codes(s).zipWithIndex.map { case (c, sub) =>
        subDist(micro(q), micro(seeds(c)), sub)
      }.sum
      val exact = (0 until 4).map(subDist(micro(q), micro(s), _)).sum
      assert(adc == exact, s"seed $s, query $q: lossless encode but ADC $adc != exact $exact")
    }
  }

  test("view_neardup_pairs builds in at most 7 Spark jobs with its deps warm") {
    // a first build warms the embeddings load; the view reads no other
    // view. On sf0.001 the build runs 7 jobs (its AQE query stages,
    // then the checkpoint); a stage or a collect added to the pipeline
    // shows here
    Similarity.neardupPairs(spark, sf0001).count()
    Similarity.neardupPairs.invalidate(spark, sf0001)
    // eager: the view is a checkpoint
    val jobs = jobsDuring(Similarity.neardupPairs(spark, sf0001))
    assert(Similarity.neardupPairs(spark, sf0001).count() > 0)
    assert(jobs <= 7, s"the near-dup pairs build ran $jobs Spark jobs, expected at most 7")
  }
}
