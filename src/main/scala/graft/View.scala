package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.concurrent.TrieMap

/** A memoized materialized view keyed by (session, fixture dir): one
  * build per key, whose frames (eager checkpoints, so the view holds
  * handles, not data copies) every later call returns.
  *
  * `deps` declares the views the build reads. They must already exist
  * when this view is constructed, so a forward reference — the only way
  * to write a cycle — fails here as a null dep, and a build that fetches
  * a view outside its deps fails at the fetch. Each key has its own
  * entry whose monitor is held across the build: concurrent first calls
  * run one build, a call on another key never waits, and a nested build
  * only takes the locks of its deps, which keeps lock order acyclic.
  *
  * The build runs in an isolated [[Materialize.scopedAll]] scope: its
  * interior checkpoints are freed once the final cuts land, or all of
  * them when it throws, and a failed build stores nothing. Entries of
  * stopped sessions are evicted at lookup — a cached handle would
  * otherwise pin its session and checkpoint blocks for the JVM lifetime.
  * A multi-frame build ([[View.frames]]) is one compute and one
  * invalidation unit; its first frame is what [[apply]] returns. */
final class View private (val name: String, val deps: Seq[View],
    build: (SparkSession, String) => Seq[DataFrame]) {
  require(!deps.contains(null),
    s"view $name: a null dependency (a forward reference to a view not yet constructed)")

  private final class Entry { @volatile var frames: Seq[DataFrame] = null }
  private val entries = TrieMap.empty[(SparkSession, String), Entry]

  def apply(spark: SparkSession, dir: String): DataFrame = frames(spark, dir).head

  /** Every frame of the key's build, building it on first use. */
  def frames(spark: SparkSession, dir: String): Seq[DataFrame] = {
    View.building.get.headOption.foreach { outer =>
      if (!outer.deps.contains(this)) throw new IllegalStateException(
        s"view ${outer.name} read view $name, which is not among its deps " +
          outer.deps.map(_.name).mkString("(", ", ", ")"))
    }
    entries.keys.foreach(k => if (k._1.sparkContext.isStopped) entries.remove(k))
    val key = (spark, dir)
    val e = entries.getOrElseUpdate(key, new Entry)
    val out = e.synchronized {
      // e no longer mapped (its build failed on another thread, or it
      // was invalidated before building): return null and retry
      if (e.frames == null && entries.get(key).contains(e)) {
        View.building.set(this :: View.building.get)
        try e.frames = Materialize.scopedAll(build(spark, dir))
        catch { case t: Throwable => entries.remove(key, e); throw t }
        finally View.building.set(View.building.get.tail)
      }
      e.frames
    }
    if (out == null) frames(spark, dir) else out
  }

  /** Drops the key's entry and frees its checkpoint files, so the next
    * call rebuilds — the bench times a view's build this way. Views
    * that read this one keep their own, already-built frames, so there
    * is no cascade. A build still running when its entry is dropped
    * serves the callers already waiting on it; its files are then freed
    * only at application end. */
  def invalidate(spark: SparkSession, dir: String): Unit =
    entries.remove((spark, dir)).foreach(e =>
      Option(e.frames).foreach(_.foreach(Materialize.release)))

  private[graft] def isCached(spark: SparkSession, dir: String): Boolean =
    entries.contains((spark, dir))
}

object View {
  /** The views whose builds are running on this thread, innermost first. */
  private val building = ThreadLocal.withInitial[List[View]](() => Nil)

  def apply(name: String, deps: Seq[View] = Nil)(
      build: (SparkSession, String) => DataFrame): View =
    new View(name, deps, (spark, dir) => Seq(build(spark, dir)))

  /** A view whose one build yields several frames that are cached,
    * kept and invalidated together (e.g. the degree + adjacency pair of
    * one graph build). */
  def frames(name: String, deps: Seq[View] = Nil)(
      build: (SparkSession, String) => Seq[DataFrame]): View =
    new View(name, deps, build)

  /** `leaves` and everything they depend on, each after its deps (DFS
    * post-order): rebuilding in this order times each view's own build
    * with its deps already warm. */
  def inBuildOrder(leaves: Seq[View]): Seq[View] = {
    def visit(seen: Vector[View], v: View): Vector[View] =
      if (seen.contains(v)) seen else v.deps.foldLeft(seen)(visit) :+ v
    leaves.foldLeft(Vector.empty[View])(visit)
  }
}
