package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Contract of the multi-probe key expression
  * ([[expressions.LshProbeKeys]]): anchored to [[expressions.LshBuckets]]
  * at probes = 1, deterministic probe sequence, exact bucket leading each
  * table's probes, table id in the high bits (the packed-key equi-join
  * invariant the multi-probe pair pipeline relies on). */
class LshProbeKeysSpec extends SparkTestBase {

  private lazy val em = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  test("probes=1 keys are exactly LshBuckets' buckets in packed form, corpus-wide") {
    val mismatches = em.select(
        VectorOps.lshBucketTables(col("embedding"), 16, 4).as("buckets"),
        VectorOps.lshProbeKeys(col("embedding"), 16, 4, 1).as("keys"))
      .collect().count { r =>
        val buckets = r.getSeq[Long](0)
        val keys = r.getSeq[Long](1)
        keys != buckets.zipWithIndex.map { case (b, t) => (t.toLong << 4) | b }
      }
    assert(mismatches == 0, s"$mismatches vectors break the probes=1 anchor identity")
  }

  test("probe sequence is deterministic, exact-first, table-tagged and duplicate-free") {
    val (t, p, q) = (8, 6, 22)
    def keysOf() = em.select(col("vec_id"),
        VectorOps.lshProbeKeys(col("embedding"), t, p, q).as("keys"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val k1 = keysOf()
    assert(k1 == keysOf(), "probe sequence must be rerun-stable")
    val exact = em.select(col("vec_id"),
        VectorOps.lshProbeKeys(col("embedding"), t, p, 1).as("keys"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    k1.foreach { case (vid, keys) =>
      assert(keys.length == t * q, s"vec $vid: ${keys.length} keys")
      (0 until t).foreach { tbl =>
        val tk = keys.slice(tbl * q, (tbl + 1) * q)
        assert(tk.head == exact(vid)(tbl),
          s"vec $vid table $tbl: exact bucket must lead the probe sequence")
        assert(tk.forall(k => (k >> p) == tbl),
          s"vec $vid table $tbl: every key must carry the table id in its high bits")
        // q = 22 ≤ 2^6 buckets → no padding, so probes are distinct buckets
        assert(tk.distinct.length == q,
          s"vec $vid table $tbl: duplicate probe buckets")
      }
    }
  }

  test("probes capped at the table's 2^planes buckets: padding repeats the exact bucket") {
    // p = 2 → 4 distinct buckets; asking for 9 probes pads entries 5..9
    val keys = em.limit(3).select(
        VectorOps.lshProbeKeys(col("embedding"), 2, 2, 9).as("keys"))
      .collect().map(_.getSeq[Long](0).toSeq)
    keys.foreach { ks =>
      assert(ks.length == 2 * 4, s"probes must cap at 2^p per table: ${ks.length}")
      (0 until 2).foreach { tbl =>
        val tk = ks.slice(tbl * 4, (tbl + 1) * 4)
        assert(tk.distinct.length == 4, "capped probes must enumerate all buckets")
      }
    }
  }

  test("probe order follows ascending perturbation score: 1-flip probes precede their supersets") {
    // within a table, any probed bucket that flips plane set S must come
    // after every probed bucket flipping a subset of S (score is a sum of
    // non-negative squared margins over the flipped planes)
    val (t, p, q) = (4, 5, 16)
    val rows = em.limit(50).select(col("vec_id"),
        VectorOps.lshProbeKeys(col("embedding"), t, p, q).as("keys"))
      .collect()
    rows.foreach { r =>
      val keys = r.getSeq[Long](1)
      (0 until t).foreach { tbl =>
        val tk = keys.slice(tbl * q, (tbl + 1) * q)
        val exactB = tk.head
        val flips = tk.map(k => java.lang.Long.bitCount(k ^ exactB))
        flips.zipWithIndex.foreach { case (f, i) =>
          // a probe flipping planes S scores ≥ any earlier probe flipping
          // S' ⊂ S; in particular the FIRST probe after exact is 1 flip
          if (i == 1) assert(f == 1,
            s"vec ${r.getLong(0)} table $tbl: first perturbation must flip one plane, flipped $f")
        }
        // supersets never precede subsets within the sequence
        (1 until tk.length).foreach { i =>
          (i + 1 until tk.length).foreach { j =>
            val si = tk(i) ^ exactB
            val sj = tk(j) ^ exactB
            assert((si & sj) != sj || si == sj,
              s"vec ${r.getLong(0)} table $tbl: probe $j (mask $sj) is a strict subset " +
                s"of earlier probe $i (mask $si) — subset must score lower and come first")
          }
        }
      }
    }
  }
}
