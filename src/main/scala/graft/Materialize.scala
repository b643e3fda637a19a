package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.concurrent.TrieMap

/** Deploy-mode switch for pipeline materializations.
  *
  * Operator pipelines cut lineage wherever a subtree feeds multiple
  * consumers or a self-join (Spark does not dedupe identical subplans),
  * before the total sort of a tiny result (range partitioning samples its
  * child), and per iteration of the label-propagation loop. HOW the cut
  * is realized is a deployment decision, not an operator decision:
  *
  *  - `local` (default): `localCheckpoint()` — eager, stores blocks on
  *    executors. The right local-mode idiom (no DFS round-trip), but
  *    executor-pinned blocks are LOST on executor death, which on a
  *    long-running 1000-executor job turns one preempted container into
  *    recompute-from-nothing.
  *  - `reliable`: `checkpoint()` to the SparkContext checkpoint
  *    directory (HDFS/S3 in a real deployment) — survives executor loss;
  *    the setting a 100 TB run should use.
  *
  * Both are eager, truncate lineage identically, and leave plan shape
  * guards untouched (those inspect the pre-checkpoint `*Pipeline`
  * methods). Selected once per session via the runtime conf key
  * [[Materialize.ModeKey]] ("spark.graft.materialize"), so the same query
  * code serves both deployments — MaterializeSpec asserts result
  * equality across modes.
  *
  * Checkpoint GC (reliable mode): Spark never deletes reliable
  * checkpoint files on its own, so a long-lived session that recomputes
  * materialized views would accumulate DFS space forever. Every reliable
  * cut is therefore registered per SparkContext and freed
  * deterministically at three points — (1) [[scopedAll]] deletes a
  * computation's INTERIOR checkpoints once its final cut has
  * materialized (a reliable checkpoint is a complete copy; upstream
  * files are dead weight the moment the downstream one exists), (2)
  * [[release]] deletes a view's final checkpoint when its cache entry is
  * invalidated ([[View]]), (3) a listener deletes everything
  * still registered at application end. Local mode needs none of this —
  * localCheckpoint blocks live in executor storage and die with it.
  */
object Materialize {
  /** Runtime conf key: "local" (default) or "reliable". */
  val ModeKey = "spark.graft.materialize"

  /** Reliable-checkpoint dirs this object created, per context, with the
    * Hadoop conf captured at creation (deletion must work during/after
    * context stop). */
  private val tracked =
    TrieMap.empty[SparkContext, TrieMap[String, org.apache.hadoop.conf.Configuration]]

  /** Thread-local interior-checkpoint scope (see [[scopedAll]]). */
  private val scope = new ThreadLocal[scala.collection.mutable.ArrayBuffer[String]]

  /** The reliable-checkpoint dir backing `df`, when `df` is the direct
    * result of a reliable [[cut]] (local cuts and ordinary frames have
    * no file-backed checkpoint → None). */
  private[graft] def checkpointPathOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.getCheckpointFile
      case _ => None
    }

  /** Every reliable-checkpoint dir reachable from `df`'s plan — a view's
    * frame often wraps its final cut (e.g. a trailing `select` renaming
    * columns), so liveness checks must look at ALL LogicalRDD leaves, not
    * just a bare top-level one. */
  private[graft] def checkpointPathsOf(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case lr: LogicalRDD => lr.rdd.getCheckpointFile
    }.flatten

  private def delete(path: String, conf: org.apache.hadoop.conf.Configuration): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(conf).delete(p, true)
  }

  private def register(sc: SparkContext, path: String): Unit = {
    val fresh = TrieMap.empty[String, org.apache.hadoop.conf.Configuration]
    val forCtx = tracked.putIfAbsent(sc, fresh) match {
      case Some(existing) => existing
      case None =>
        // this thread won the first-cut race: arm end-of-application GC
        // exactly once per context (getOrElseUpdate's by-name default can
        // evaluate twice under concurrent first cuts)
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
            releaseAll(sc)
        })
        fresh
    }
    forCtx.put(path, sc.hadoopConfiguration)
    Option(scope.get()).foreach(_ += path)
  }

  /** Deletes `df`'s reliable checkpoint files (no-op for local cuts) —
    * called when a memoized view is invalidated. */
  private[graft] def release(df: DataFrame): Unit =
    checkpointPathsOf(df).foreach(free)

  /** Deletes one tracked checkpoint dir and stops tracking it. */
  private def free(path: String): Unit =
    tracked.values.foreach(m => m.remove(path).foreach(delete(path, _)))

  /** Deletes every reliable checkpoint still registered for `sc` — the
    * application-end sweep (also the test hook: suites share one
    * JVM-wide context and cannot stop it). */
  private[graft] def releaseAll(sc: SparkContext): Unit =
    tracked.remove(sc).foreach(_.foreach { case (path, conf) => delete(path, conf) })

  /** Runs `body` (a view build ending in its final [[cut]]s) and then
    * deletes the reliable checkpoints created on this thread DURING it,
    * except those the returned frames still read — iterative pipelines
    * (label propagation, Lloyd rounds) cut per step, and those interior
    * files are unreachable dead weight once the final checkpoints hold
    * the result. Every returned frame survives (e.g. the degree +
    * adjacency pair of one graph build). If `body` throws, every
    * checkpoint it created is deleted before the exception propagates.
    *
    * Scopes are ISOLATED, never nested: the kept final checkpoint is NOT
    * propagated to an enclosing scope. Memoized views build lazily
    * inside other views' builds (exact pairs inside cluster labels,
    * support inside edges, …), and the inner [[View]]'s entry owns its
    * checkpoint — if the outer scope adopted it as "interior", the outer
    * view's GC would delete files the inner view still hands out,
    * failing every later consumer in reliable mode. View-owned
    * checkpoints are released only by [[release]] (invalidate) or the
    * application-end sweep. */
  private[graft] def scopedAll(body: => Seq[DataFrame]): Seq[DataFrame] = {
    val outer = scope.get()
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    scope.set(buf)
    try {
      // a failed build frees everything it cut: nothing will read it
      val out = try body catch { case t: Throwable => buf.foreach(free); throw t }
      // the returned frames may wrap their final cut(s) in projections —
      // anything their plans still read is live, everything else interior
      val keep = out.flatMap(checkpointPathsOf).toSet
      buf.filterNot(keep.contains).foreach(free)
      out
    } finally {
      if (outer == null) scope.remove() else scope.set(outer)
    }
  }

  /** Eagerly materialize `df` and truncate its lineage, per the
    * session's configured mode. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.get(ModeKey, "local") match {
      case "local" => df.localCheckpoint()
      case "reliable" =>
        require(spark.sparkContext.getCheckpointDir.isDefined,
          s"$ModeKey=reliable requires SparkContext.setCheckpointDir " +
            "(an HDFS/S3 path in a real deployment)")
        val out = df.checkpoint()
        checkpointPathOf(out).foreach(register(spark.sparkContext, _))
        out
      case other => throw new IllegalArgumentException(
        s"$ModeKey must be 'local' or 'reliable', got '$other'")
    }
  }

  /** Postfix syntax for pipeline chains: `df.cut()` ≡ `Materialize.cut(df)`. */
  implicit final class CutSyntax(private val df: DataFrame) extends AnyVal {
    def cut(): DataFrame = Materialize.cut(df)
  }
}
