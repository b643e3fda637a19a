package graft

import org.apache.spark.sql.functions._

/** The deploy-mode materialization switch ([[Materialize]]): `local`
  * (localCheckpoint — executor blocks, the local-mode idiom) vs
  * `reliable` (SparkContext checkpoint dir — survives executor loss, the
  * cluster setting). Same results, same eager truncation, selected per
  * session via runtime conf. Uses `newSession()` so the conf flip cannot
  * leak into suites sharing the JVM-wide session. */
class MaterializeSpec extends SparkTestBase {

  test("local and reliable modes produce identical results; reliable writes the checkpoint dir") {
    val s2 = spark.newSession()
    import s2.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    s2.sparkContext.setCheckpointDir(ckptDir)
    val df = (1 to 100).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")

    val localCut = Materialize.cut(df.groupBy(col("v")).count())
    s2.conf.set(Materialize.ModeKey, "reliable")
    try {
      val reliableCut = Materialize.cut(df.groupBy(col("v")).count())
      assert(reliableCut.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        localCut.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(new java.io.File(ckptDir).listFiles.nonEmpty,
        "reliable mode must write RDD checkpoint files to the checkpoint dir")
    } finally s2.conf.set(Materialize.ModeKey, "local")
  }

  test("Explain flags a plan scanning a local or reliable cut, not an RDD mapped over one") {
    val s2 = spark.newSession()
    import s2.implicits._
    s2.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt-explain").toString)
    val df = (1 to 100).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "v")
    def flagged(d: org.apache.spark.sql.DataFrame) = Explain.readsCheckpoint(d.queryExecution.analyzed)
    val localCut = Materialize.cut(df.groupBy(col("v")).count())
    s2.conf.set(Materialize.ModeKey, "reliable")
    val reliableCut = try Materialize.cut(df) finally s2.conf.set(Materialize.ModeKey, "local")
    assert(flagged(localCut) && flagged(reliableCut.select(col("id") + 1)))
    // q66's shape: a frame over the rows an RDD mapped from a cut emits
    val probed = s2.createDataFrame(localCut.rdd.map(identity), localCut.schema)
    assert(!flagged(df) && !flagged(probed))
  }

  test("an operator pipeline runs unchanged under reliable mode") {
    val s2 = spark.newSession()
    import s2.implicits._
    s2.sparkContext.setCheckpointDir(
      java.nio.file.Files.createTempDirectory("graft-ckpt2").toString)
    // a 0-1-2-3-4 chain + an isolated node, through both connected-
    // components paths: the driver finish (one cut) and the rounds loop
    // (which cuts per round)
    val ids = (0L to 5L).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    def labels(): Set[(Long, Long)] = {
      val Seq(driver, rounds) = Seq(
        operators.Dedup.propagateMinLabels(ids, pairs),
        operators.Dedup.propagationRounds(ids, pairs))
        .map(_.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(driver == rounds)
      driver
    }
    val local = labels()
    s2.conf.set(Materialize.ModeKey, "reliable")
    try assert(labels() == local)
    finally s2.conf.set(Materialize.ModeKey, "local")
    assert(local == Set((0L, 0L), (1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 5L)))
  }

  test("reliable checkpoints are GC'd: interior after view compute, final on invalidate, rest on app-end sweep") {
    val s2 = spark.newSession()
    import s2.implicits._
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft-ckpt-gc")
    s2.sparkContext.setCheckpointDir(ckptRoot.toString)
    def rddDirs: Seq[java.nio.file.Path] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      java.nio.file.Files.walkFileTree(ckptRoot, new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
        override def preVisitDirectory(d: java.nio.file.Path,
            a: java.nio.file.attribute.BasicFileAttributes): java.nio.file.FileVisitResult = {
          if (d.getFileName.toString.startsWith("rdd-")) {
            out += d; java.nio.file.FileVisitResult.SKIP_SUBTREE
          } else java.nio.file.FileVisitResult.CONTINUE
        }
      })
      out.toSeq
    }
    s2.conf.set(Materialize.ModeKey, "reliable")
    try {
      // a view computation with one interior cut + the final cut —
      // the View build scope must free the interior file the moment
      // the final checkpoint has materialized
      val cache = View("gc-test") { (_, _) =>
        val interior = Materialize.cut(Seq(1L, 2L, 3L).toDF("x"))
        Materialize.cut(interior.withColumn("y", col("x") * 2))
      }
      val view = cache(s2, "gc-test")
      assert(view.count() == 3)
      assert(rddDirs.size == 1,
        s"interior checkpoint should be GC'd after the final cut, saw $rddDirs")
      // invalidate drops the view AND its checkpoint files — repeated
      // invalidate+recompute cycles must not accumulate DFS space
      cache.invalidate(s2, "gc-test")
      assert(rddDirs.isEmpty,
        s"invalidate must delete the view's checkpoint, saw $rddDirs")
      // an orphan cut outside any view scope is swept at application
      // end; suites share the one JVM-wide context and cannot stop it,
      // so exercise the listener's body (releaseAll) directly
      Materialize.cut(Seq(1L).toDF("x"))
      assert(rddDirs.size == 1)
      Materialize.releaseAll(s2.sparkContext)
      assert(rddDirs.isEmpty,
        s"app-end sweep must empty the checkpoint dir, saw $rddDirs")
    } finally s2.conf.set(Materialize.ModeKey, "local")
  }

  test("a reliable view ending in a projection over its final cut stays readable (labels-view shape)") {
    // Regression: the cluster-labels view returns a select() OVER its final
    // checkpoint. The interior-GC sweep must recognize checkpoints under
    // projections as live (all LogicalRDD leaves, not only a bare top-level
    // one) — otherwise every re-read of the memoized view dies on missing
    // checkpoint files in reliable mode.
    val s2 = spark.newSession()
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft-ckpt-proj")
    s2.sparkContext.setCheckpointDir(ckptRoot.toString)
    def rddDirs: Seq[java.io.File] =
      Option(ckptRoot.toFile.listFiles).getOrElse(Array.empty).toSeq
        .flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
        .filter(_.getName.startsWith("rdd-"))
    s2.conf.set(Materialize.ModeKey, "reliable")
    try {
      val labels = operators.Dedup.clusterLabels(s2, sf0001)
      val n = labels.count()
      assert(n > 0)
      assert(rddDirs.nonEmpty,
        "the view's final checkpoint must survive the interior sweep")
      // a second pass through the cache re-reads the SAME checkpoint files
      assert(operators.Dedup.clusterLabels(s2, sf0001).count() == n)
      // invalidate must find the checkpoint under the projection and free
      // it; the exact-pairs and shingles views it was built from keep
      // their own files (scopes are isolated, there is no cascade)
      val labelPaths = Materialize.checkpointPathsOf(labels)
      assert(labelPaths.nonEmpty)
      val pairs = operators.Dedup.exactPairsView(s2, sf0001).count()
      operators.Dedup.clusterLabels.invalidate(s2, sf0001)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(labelPaths.head), s2.sparkContext.hadoopConfiguration)
      assert(!labelPaths.exists(p => fs.exists(new org.apache.hadoop.fs.Path(p))),
        s"invalidate must delete the projected view's checkpoint, saw $rddDirs")
      assert(operators.Dedup.exactPairsView(s2, sf0001).count() == pairs)
      operators.Dedup.exactPairsView.invalidate(s2, sf0001)
      operators.Dedup.docShingleArrays.invalidate(s2, sf0001)
      assert(rddDirs.isEmpty,
        s"invalidating every view of the chain must free all its checkpoints, saw $rddDirs")
    } finally s2.conf.set(Materialize.ModeKey, "local")
  }

  test("reliable mode: a view computed INSIDE another view's compute keeps its own checkpoint") {
    // Round-18 ADVICE regression: view scopes used to donate their kept
    // final checkpoint to an ENCLOSING scope, so a view computed lazily
    // inside another view's compute (a nested view fetch — the
    // exactPairsView-inside-clusterLabels shape) had its files deleted
    // as the outer view's "interior" the moment the outer cut landed;
    // every later consumer of the inner view then read deleted files.
    // Local mode never registers paths, so only this reliable-mode test
    // can catch it.
    val s2 = spark.newSession()
    import s2.implicits._
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft-ckpt-nest")
    s2.sparkContext.setCheckpointDir(ckptRoot.toString)
    s2.conf.set(Materialize.ModeKey, "reliable")
    try {
      val inner = View("inner") { (_, _) =>
        Materialize.cut(Seq(1L, 2L, 3L).toDF("x"))
      }
      def innerView = inner(s2, "nest")
      val outer = View("outer", Seq(inner)) { (_, _) =>
        // cold-cache inner compute triggered inside the outer's scope
        Materialize.cut(innerView.withColumn("y", col("x") * 2))
      }
      val outerView = outer(s2, "nest")
      assert(outerView.count() == 3)
      // the inner view's cached handle must still read ITS OWN files
      assert(innerView.count() == 3)
      inner.invalidate(s2, "nest")
      outer.invalidate(s2, "nest")
    } finally s2.conf.set(Materialize.ModeKey, "local")
  }

  test("reliable mode: a two-frame view build keeps BOTH checkpoints (deg+adj shape)") {
    // Round-18 ADVICE regression: copurchaseAdj builds deg as an
    // interior cut of the adj compute but both frames are consumed —
    // the single-frame scope deleted deg's files at scope close, so
    // q157/q168 failed on their FIRST reliable-mode run. The build now
    // returns both frames through View.frames, whose scope keeps
    // every returned frame's checkpoint.
    val s2 = spark.newSession()
    import s2.implicits._
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft-ckpt-pair")
    s2.sparkContext.setCheckpointDir(ckptRoot.toString)
    def rddDirs: Seq[java.io.File] =
      Option(ckptRoot.toFile.listFiles).getOrElse(Array.empty).toSeq
        .flatMap(d => Option(d.listFiles).getOrElse(Array.empty))
        .filter(_.getName.startsWith("rdd-"))
    s2.conf.set(Materialize.ModeKey, "reliable")
    try {
      val cache = View.frames("pair") { (_, _) =>
        val d = Materialize.cut(Seq((1L, 2L), (2L, 1L)).toDF("node", "d"))
        val interior = Materialize.cut(d.select(col("node"), (col("d") * 2).as("dd")))
        val a = Materialize.cut(interior.select(col("node").as("src"), col("dd")))
        Seq(d, a)
      }
      val Seq(deg, adj) = cache.frames(s2, "pair")
      assert(deg.count() == 2 && adj.count() == 2)
      assert(rddDirs.size == 2,
        s"both returned frames' checkpoints must survive (interior GC'd), saw $rddDirs")
      cache.invalidate(s2, "pair")
      assert(rddDirs.isEmpty,
        s"invalidate must free every frame of the entry, saw $rddDirs")
      // the REAL surface end to end: first reliable-mode run of the
      // memoized graph views (support → edges → deg+adj, nested computes)
      val (rdeg, radj) = operators.Analytic.copurchaseAdj(s2, sf0001)
      assert(rdeg.count() > 0 && radj.count() > 0)
      // second read through the caches re-reads the same checkpoints
      val (rdeg2, radj2) = operators.Analytic.copurchaseAdj(s2, sf0001)
      assert(rdeg2.count() == rdeg.count() && radj2.count() == radj.count())
      operators.Analytic.adjView.invalidate(s2, sf0001)
      operators.Analytic.coPurchaseEdges.invalidate(s2, sf0001)
      operators.Analytic.coPurchaseSupport.invalidate(s2, sf0001)
    } finally s2.conf.set(Materialize.ModeKey, "local")
  }

  test("unknown mode fails loudly") {
    val s2 = spark.newSession()
    import s2.implicits._
    s2.conf.set(Materialize.ModeKey, "bogus")
    try {
      val e = intercept[IllegalArgumentException] {
        Materialize.cut(Seq(1L).toDF("x"))
      }
      assert(e.getMessage.contains(Materialize.ModeKey))
    } finally s2.conf.set(Materialize.ModeKey, "local")
  }
}
