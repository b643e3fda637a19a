package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{BenchViews, SparkEntry}
import graft.perfbench.Harness.{Ctx, describe, noop}

/** `warehouse` and `llm_shared_views`: `clients` threads share one
  * session and pull the pass's ops (`ops.<pass>`, the plan's query set in
  * a seeded order) from one queue: a closed loop. Each op runs one
  * registered query into the `noop` sink, or builds one memoized view
  * (an op named after its `BenchViews` entry). `llm_shared_views`
  * invalidates every memoized view at the start of each pass, so each
  * pass builds them cold again. */
final class QueryWorkload(ctx: Ctx) extends Workload {
  import ctx._

  private val packOf: Map[String, String] = SparkEntry.packs.flatMap { p =>
    p.queries.map(_.name -> p.getClass.getSimpleName.stripSuffix("$"))
  }.toMap
  private val sharedViews = plan.workload == "llm_shared_views"
  private lazy val views = BenchViews.entries(spark, dir)
  private lazy val viewByName = views.toMap
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  def pass(p: Int, traced: Boolean): Unit = {
    if (sharedViews) rec.span("views.invalidate")(views.foreach(_._2.invalidate()))
    val queue = new ConcurrentLinkedQueue[(String, Int)]()
    plan.raw(s"ops.$p").zipWithIndex.foreach(queue.add)
    val clients = (0 until plan.clients).map { c =>
      new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          runOp(p, c, next._2, next._1, traced)
          next = queue.poll()
        }
      }, s"perfbench-client-$c")
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
  }

  private def runOp(p: Int, client: Int, idx: Int, name: String, traced: Boolean): Unit = {
    val op = s"p$p.$idx.$name"
    val tid = Thread.currentThread().getId
    val blocked0 = if (traced) threads.getThreadInfo(tid).getBlockedTime else 0L
    val t0 = rec.nowUs
    val err = TaskListener.label(sc, op) {
      try {
        viewByName.get(name) match {
          case Some(v) => rec.span("views.pass_build", op)(v.compute())
          case None => rec.span(s"operators.${packOf.getOrElse(name, "unknown")}", op) {
            val df = SparkEntry.queries(name)(spark, dir)
            // the warm pass leaves the outputs `run.py` checks
            if (p == 0 && plan.checks.contains(name)) dump(df, name) else noop(df)
          }
        }
        ""
      } catch { case NonFatal(e) => describe(e) }
    }
    val t1 = rec.nowUs
    val extra: Seq[(String, Any)] =
      if (!traced) Nil
      else Seq("blocked_ms" -> (threads.getThreadInfo(tid).getBlockedTime - blocked0),
        "storage_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    rec.emit("op", (Seq("pass" -> p, "client" -> client, "op" -> op, "name" -> name,
      "pack" -> packOf.getOrElse(name, "views"), "start_us" -> t0, "end_us" -> t1,
      "ok" -> err.isEmpty, "err" -> err) ++ extra): _*)
  }

  /** Traced-only phases: each view built cold (its dependencies warm)
    * and then hit; then the fixpoint-loop queries. */
  override def probes(): Unit = {
    if (sharedViews) {
      views.foreach { case (name, v) =>
        v.invalidate()
        TaskListener.label(sc, s"view.$name") {
          rec.span(s"views.$name.build", s"view.$name")(v.compute())
        }
        TaskListener.label(sc, s"hit.$name") {
          rec.span(s"views.$name.hit", s"hit.$name")(v.compute())
        }
        if (name == "view_cluster_labels")
          rec.emit("cc_rounds", "rounds" -> graft.operators.Dedup.lastPropagationRounds.get())
      }
      plan.raw("analytic").foreach { q =>
        TaskListener.label(sc, s"analytic.$q") {
          rec.span(s"analytic.$q", s"analytic.$q")(noop(SparkEntry.queries(q)(spark, dir)))
        }
      }
    }
  }

  /** One parquet file per checked query, the layout `run.py` compares
    * with the DuckDB oracle. */
  private def dump(df: DataFrame, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"${plan.work}/check/$name")

  /** Dumps the checked queries the warm pass did not run (the twins of
    * oracle-less queries), then reports which dumps exist. */
  def check(): Unit = plan.checks.foreach { name =>
    val err =
      if (plan.ops.contains(name)) ""
      else TaskListener.label(sc, s"check.$name") {
        try { dump(SparkEntry.queries(name)(spark, dir), name); "" }
        catch { case NonFatal(e) => describe(e) }
      }
    rec.emit("dump", "name" -> name, "ok" -> err.isEmpty, "err" -> err)
  }
}

/** Times each native expression by a `select` over a fixed sf0.1 column
  * (documents text, tokens and shingles; embeddings vectors), minus the
  * same `select` without the expression. Its input does not depend on the
  * workload; it runs in the traced `dag_daily` run, whose passes leave
  * time for it. */
object FunctionProbe {
  private val Reps = 2

  /** expression class → (input frame, SQL call); TopKRows is an aggregate. */
  private val calls: Seq[(String, String, String)] = Seq(
    ("ArrayStats", "docs", "graft_array_stats(shs)"),
    ("BigramHashes", "docs", "graft_bigram_hashes(tokens)"),
    ("ByteHistogram", "docs", "graft_byte_histogram(blob)"),
    ("ChunkHashes", "docs", "graft_chunk_hashes(tokens, 8)"),
    ("DotProduct", "emb", "graft_dot(embedding, embedding)"),
    ("HashedShingles", "docs", "graft_hashed_shingles(tokens, 3)"),
    ("LshBuckets", "emb", "graft_lsh_buckets(embedding, 4, 8)"),
    ("LshProbeKeys", "emb", "graft_lsh_probe_keys(embedding, 4, 8, 2)"),
    ("MinHash64", "docs", "graft_minhash64(tokens, 64)"),
    ("NearestCells", "emb", "graft_nearest_cells(embedding, {centroids}, 2)"),
    ("NfcNormalize", "docs", "graft_nfc(text)"),
    ("SimHash64", "docs", "graft_simhash64(tokens)"),
    ("SortedIntersect", "docs", "graft_sorted_intersect(shs, shs2)"),
    ("SortedIntersectCount", "docs", "graft_sorted_intersect_count(shs, shs2)"),
    ("TopKRows", "docs", "graft_top_k(cast(n_chars as double), doc_id, doc_id, 10)"),
    ("WinnowFingerprints", "docs", "graft_winnow_fps(tokens, 5, 4)"))

  def run(ctx: Ctx): Unit = {
    import ctx._
    def replicate(df: DataFrame, n: Int): DataFrame = (1 until n).foldLeft(df)((a, _) => a.union(df))
    val docs = replicate(spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("n_chars")), 4)
      .withColumn("tokens", split(col("text"), " "))
      .withColumn("shs", expr("array_sort(graft_hashed_shingles(tokens, 3))"))
      .withColumn("shs2", expr("array_sort(graft_hashed_shingles(tokens, 2))"))
      .withColumn("blob", encode(col("text"), "UTF-8"))
      .cache()
    val embRaw = spark.read.parquet(s"$dir/embeddings.parquet").select(col("vec_id"), col("embedding"))
    val emb = replicate(embRaw, 10).cache()
    // the centroids argument must be a literal: the first 8 vectors
    val centroids = embRaw.orderBy(col("vec_id")).limit(8).collect()
      .map(_.getSeq[Float](1).map(x => s"CAST(${x.toDouble} AS FLOAT)").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val frames = Map("docs" -> docs, "emb" -> emb)
    val rows = frames.map { case (k, f) => k -> f.count() }
    def time(body: => Unit): Long = { val t0 = System.nanoTime(); body; System.nanoTime() - t0 }
    calls.foreach { case (name, frame, template) =>
      val call = template.replace("{centroids}", centroids)
      val f = frames(frame)
      val key = col(if (frame == "emb") "vec_id" else "doc_id")
      val (withExpr, base): (() => Unit, () => Unit) =
        if (name == "TopKRows")
          (() => noop(f.groupBy(col("lang")).agg(expr(call))),
            () => noop(f.groupBy(col("lang")).agg(count(lit(1)))))
        else (() => noop(f.select(key, expr(call))), () => noop(f.select(key)))
      TaskListener.label(sc, s"fn.$name") {
        rec.span(s"functions.$name", s"fn.$name") {
          withExpr() // compile
          val samples = (0 until Reps).map(_ => (time(withExpr()), time(base())))
          rec.emit("fn", "name" -> name, "rows" -> rows(frame),
            "expr_ns" -> samples.map(_._1), "base_ns" -> samples.map(_._2))
        }
      }
    }
    docs.unpersist()
    emb.unpersist()
  }
}
