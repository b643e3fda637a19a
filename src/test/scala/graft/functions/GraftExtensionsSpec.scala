package graft.functions

import graft.{SparkEntry, SparkTestBase}
import graft.pipeline.{CurationPipeline, Pipeline}
import graft.streaming.{DocRow, StreamNearDedup}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Add, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The native-function table and its two install paths: the
  * `spark.sql.extensions` class and the [[GraftFunctions.register]]
  * guard. */
class GraftExtensionsSpec extends SparkTestBase {
  import GraftFunctions.table

  /** Runs `body` on a new session of the shared context, built with or
    * without the extension; the shared session is the default again
    * afterwards. */
  private def freshSession[T](withExtension: Boolean)(body: SparkSession => T): T = {
    spark // force base session (and its SparkContext) up first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      body((if (withExtension) b.withExtensions(new GraftExtensions) else b).getOrCreate())
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  /** Every row's registry entry on `s`, by name. */
  private def entries(s: SparkSession): Map[String, Option[ExpressionInfo]] =
    table.map(f => f.name -> s.sessionState.functionRegistry.lookupFunction(f.id)).toMap

  private def unchanged(before: Map[String, Option[ExpressionInfo]],
      after: Map[String, Option[ExpressionInfo]]): Boolean =
    before.forall { case (n, b) => b.isDefined && after(n).exists(_ eq b.get) }

  /** Int literals in every slot; a long-literal slot (graft_bloom_agg)
    * rejects them, so such a row gets long literals. */
  private def sampleArgs(f: NativeFn): Seq[Expression] = {
    val ints = Seq.fill(f.arity)(Literal(2))
    try { f.builder(ints); ints }
    catch { case _: IllegalArgumentException => Seq.fill(f.arity)(Literal(2L)) }
  }

  /** The exception text of building `f` from `args` on `s`. */
  private def errorOf(s: SparkSession, f: NativeFn, args: Seq[Expression]): String =
    intercept[IllegalArgumentException](
      s.sessionState.functionRegistry.lookupFunction(f.id, args)).getMessage

  test("extensions-injected functions are callable from plain SQL") {
    freshSession(withExtension = true) { s2 =>
      val dot = s2.sql(
        "SELECT graft_dot(array(CAST(1 AS FLOAT), CAST(2 AS FLOAT)), " +
          "array(CAST(3 AS FLOAT), CAST(4 AS FLOAT))) AS d")
        .collect()(0).getDouble(0)
      assert(dot == 11.0)
      val sig = s2.sql(
        "SELECT graft_simhash64(array('a', 'b', 'a')) AS s")
        .collect()(0).getLong(0)
      val sig2 = s2.sql(
        "SELECT graft_simhash64(array('a', 'b', 'a')) AS s")
        .collect()(0).getLong(0)
      assert(sig == sig2)
      // graft_minhash64: per-seed minima must equal the composed
      // min(xxhash64(i, t)) over the same tokens
      val mh = s2.sql("SELECT graft_minhash64(array('a', 'b', 'c'), 8) AS m")
        .collect()(0).getSeq[Long](0).toSeq
      val expected = (0 until 8).map { i =>
        s2.sql(s"SELECT LEAST(xxhash64($i, 'a'), xxhash64($i, 'b'), xxhash64($i, 'c'))")
          .collect()(0).getLong(0)
      }
      assert(mh == expected)
      // graft_lsh_buckets: one packed bucket per table, deterministic
      val lb = s2.sql(
        "SELECT graft_lsh_buckets(array(CAST(0.5 AS FLOAT), CAST(-1.5 AS FLOAT)), 4, 2) AS b")
        .collect()(0).getSeq[Long](0).toSeq
      assert(lb.length == 4 && lb.forall(b => b >= 0L && b < 4L))
      // graft_hashed_shingles: distinct 3-gram hashes of the token list
      val hs = s2.sql(
        "SELECT graft_hashed_shingles(array('a','b','c','d'), 3) AS h")
        .collect()(0).getSeq[Long](0).toSeq
      assert(hs.length == 2 && hs.distinct == hs) // "a b c", "b c d"
      // graft_bigram_hashes: (n-1) bigram structs, hb chained like xxhash64(w1,w2)
      val bg = s2.sql(
        "SELECT graft_bigram_hashes(array('a','b','c')) AS b").collect()(0)
        .getSeq[org.apache.spark.sql.Row](0)
      assert(bg.length == 2)
      val expectedHb = s2.sql("SELECT xxhash64('a', 'b'), xxhash64('a')")
        .collect()(0)
      assert(bg.head.getLong(0) == expectedHb.getLong(0))
      assert(bg.head.getLong(1) == expectedHb.getLong(1))
      // graft_chunk_hashes: element j == built-in xxhash64 over the
      // j-th width-token slice (chained, seed 42), tail chunk included
      val ch = s2.sql(
        "SELECT graft_chunk_hashes(array('a','b','c','d','e'), 2) AS c")
        .collect()(0).getSeq[Long](0).toSeq
      val chExpected = s2.sql(
        "SELECT xxhash64('a','b'), xxhash64('c','d'), xxhash64('e')").collect()(0)
      assert(ch == Seq(chExpected.getLong(0), chExpected.getLong(1), chExpected.getLong(2)))
      // graft_sorted_intersect(_count): merge intersect over sorted arrays
      val si = s2.sql(
        "SELECT graft_sorted_intersect(array(1L,3L,5L,7L), array(3L,4L,7L)) AS a, " +
          "graft_sorted_intersect_count(array(1L,3L,5L,7L), array(3L,4L,7L)) AS n")
        .collect()(0)
      assert(si.getSeq[Long](0) == Seq(3L, 7L) && si.getLong(1) == 2L)
      // nullable-element arrays are REJECTED at analysis (getLong over a
      // null slot would read garbage — the enforced no-nulls contract)
      Seq(
        "SELECT graft_sorted_intersect(array(1L, CAST(NULL AS BIGINT)), array(1L))",
        "SELECT graft_sorted_intersect_count(array(1L), array(CAST(NULL AS BIGINT)))")
        .foreach { q =>
          val e = intercept[org.apache.spark.sql.AnalysisException](s2.sql(q).collect())
          assert(e.getMessage.contains("non-nullable"), s"$q: ${e.getMessage}")
        }
      // graft_array_stats: one-pass multiplicity profile of a long array
      val as = s2.sql(
        "SELECT graft_array_stats(array(1L, 2L, 1L, 1L, 3L)) AS s").collect()(0)
        .getStruct(0)
      assert(as.getLong(0) == 5L && as.getLong(1) == 3L && as.getLong(2) == 3L)
      // graft_top_k: bounded top-k aggregate, best-first, ties broken by
      // id1 then id2
      val tk = s2.sql(
        "SELECT graft_top_k(s, a, b, 2) AS t FROM VALUES " +
          "(CAST(1.0 AS DOUBLE), 1L, 1L), (2.0D, 2L, 1L), " +
          "(2.0D, 1L, 5L), (0.5D, 9L, 9L) AS v(s, a, b)")
        .collect()(0).getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2))).toList
      assert(tk == List((2.0, 1L, 5L), (2.0, 2L, 1L)))
      // graft_nearest_cells: nearest centroid of (1,0) is cell 1
      val nc = s2.sql(
        "SELECT graft_nearest_cells(array(CAST(1 AS FLOAT), CAST(0 AS FLOAT)), " +
          "array(array(CAST(0 AS FLOAT), CAST(1 AS FLOAT)), " +
          "array(CAST(1 AS FLOAT), CAST(0 AS FLOAT))), 2) AS c")
        .collect()(0).getSeq[Int](0).toSeq
      assert(nc == Seq(1, 0))
      // graft_nfc: NFC composition via the extensions path
      val nfc = s2.sql("SELECT graft_nfc('café')").collect()(0).getString(0)
      assert(nfc == "café")
      // graft_lsh_probe_keys: probes=1 equals graft_lsh_buckets packed
      // as (table << planes) | bucket — the multi-probe anchor identity
      val pk = s2.sql(
        "SELECT graft_lsh_probe_keys(array(CAST(0.5 AS FLOAT), CAST(-1.5 AS FLOAT)), 4, 2, 1) AS k")
        .collect()(0).getSeq[Long](0).toSeq
      assert(pk == lb.zipWithIndex.map { case (b, t) => (t.toLong << 2) | b })
      // graft_bloom_agg / graft_bloom_might_contain: a sketch built over
      // range(0,50) reports every member (no false negatives, ever)
      import org.apache.spark.sql.functions.{call_function, col, lit, xxhash64}
      val bf = s2.sql(
        "SELECT graft_bloom_agg(xxhash64(id), 64L) AS b FROM range(0, 50)")
        .collect()(0).getAs[Array[Byte]](0)
      val members = s2.range(0, 50).filter(
        call_function("graft_bloom_might_contain", lit(bf), xxhash64(col("id"))))
      assert(members.count() == 50, "bloom must have no false negatives")
    }
  }

  test("the table builds every expression class of the package exactly once") {
    val pkg = "graft/functions/expressions"
    val dir = new java.io.File(getClass.getClassLoader.getResource(pkg).toURI)
    val exprClasses = dir.listFiles().map(_.getName).filter(_.endsWith(".class"))
      .map(n => Class.forName(s"${pkg.replace('/', '.')}.${n.stripSuffix(".class")}",
        false, getClass.getClassLoader))
      .filter(c => classOf[Expression].isAssignableFrom(c) &&
        !java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .toSet
    assert(exprClasses.size == 17, exprClasses.map(_.getSimpleName).toSeq.sorted.mkString(", "))
    exprClasses.foreach { c =>
      assert(table.count(_.exprClass == c) == 1, s"${c.getSimpleName}: not exactly one row")
    }
    assert(table.map(_.exprClass).toSet -- exprClasses ==
      Set(classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate],
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]))
    assert(table.map(_.name).distinct.size == 19 && table.size == 19)
  }

  test("both install paths resolve every name to the row's expression class") {
    freshSession(withExtension = true) { ext =>
      freshSession(withExtension = false) { plain =>
        GraftFunctions.register(plain)
        table.foreach { f =>
          val built = Seq(ext, plain).map(s =>
            s.sessionState.functionRegistry.lookupFunction(f.id, sampleArgs(f)).getClass)
          assert(built == Seq(f.exprClass, f.exprClass), f.name)
          Seq(ext, plain).foreach(s => assert(
            s.sessionState.functionRegistry.lookupFunction(f.id).get.getClassName ==
              f.exprClass.getName, f.name))
        }
      }
    }
  }

  test("a wrong arity or a non-literal argument fails with one message on both paths") {
    freshSession(withExtension = true) { ext =>
      freshSession(withExtension = false) { plain =>
        GraftFunctions.register(plain)
        val nonLiteral = Add(Literal(1), Literal(1))
        val cases = table.flatMap { f =>
          val ok = sampleArgs(f)
          val literalSlots = ok.indices.filter(i =>
            scala.util.Try(f.builder(ok.updated(i, nonLiteral))).isFailure)
          (f, ok :+ Literal(2), s"${f.name} takes ${f.arity} arguments") +:
            literalSlots.map(i => (f, ok.updated(i, nonLiteral),
              s"${f.name}: argument ${i + 1} must be a literal"))
        }
        // 19 arity cases plus the 15 literal-only slots of the table
        assert(cases.size == 19 + 15)
        cases.foreach { case (f, args, expected) =>
          val (e, p) = (errorOf(ext, f, args), errorOf(plain, f, args))
          assert(e == p && e.contains(expected), s"${f.name}: '$e' vs '$p'")
        }
      }
    }
  }

  test("register installs every missing row and never replaces an entry") {
    freshSession(withExtension = false) { plain =>
      val registry = plain.sessionState.functionRegistry
      assert(table.forall(f => !registry.functionExists(f.id)))
      GraftFunctions.register(plain)
      val first = entries(plain)
      assert(first.values.forall(_.isDefined))
      GraftFunctions.register(plain)
      assert(unchanged(first, entries(plain)))
    }
  }

  test("queries, a streaming twin and a pipeline never re-register a function") {
    val before = entries(spark)
    Seq("q41_cosine_topk", "q32_minhash_lsh").foreach(q =>
      SparkEntry.queries(q)(spark, sf0001).collect())
    val out = java.nio.file.Files.createTempDirectory("graft-install").toString
    assert(CurationPipeline.run(spark, sf0001, out, () => Pipeline.Done, _ => (),
      nShards = 2).isSuccess)
    assert(unchanged(before, entries(spark)))

    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    val before2 = entries(s2)
    val in = MemoryStream[DocRow](newProductEncoder[DocRow], s2.sqlContext)
    val q = StreamNearDedup.pairs(in.toDF())
      .writeStream.outputMode("append").format("memory").queryName("install_ndg").start()
    in.addData(DocRow(1L, "a b c d e f"), DocRow(2L, "a b c d e g"))
    q.processAllAvailable()
    q.stop()
    assert(unchanged(before2, entries(s2)))
  }
}
