package graft.tools

import java.io.ByteArrayOutputStream

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** [[ScaleProbe]]: every registered mode runs end to end on the shared
  * session, the f× replication keeps replica 0 and distinct ids, and an
  * unknown mode is refused with the registered names. */
class ScaleProbeSpec extends SparkTestBase {

  private def stdoutOf(body: => Unit): Seq[String] = {
    val buf = new ByteArrayOutputStream
    Console.withOut(buf)(body)
    buf.toString("UTF-8").linesIterator.toSeq
  }

  /** A result line with its timing fields (`t…=`, `refresh=`, `full=`,
    * `replay_one_day=`, `full_rebuild=`, `incremental_refresh=`) and
    * shuffle volumes blanked — what must not depend on the machine. */
  private def untimed(line: String): String =
    line.replaceAll(
      """\b(t\w*|refresh|full|replay_one_day|full_rebuild|incremental_refresh|shuffleMB)=[0-9.]+""",
      "$1=_")

  test("every registered mode runs at factor 1 on sf0.001 and prints its result lines") {
    val out = ScaleProbe.modes.keys.toSeq.map { m =>
      m -> stdoutOf(ScaleProbe.run(spark, sf0001, m, Seq(1)))
        .filter(l => l.startsWith("SCALE") || l.startsWith("IVF-ENVELOPE"))
    }.toMap
    out.foreach { case (m, lines) => assert(lines.nonEmpty, s"mode $m printed no result line") }
    assert(out("ivfenvelope").size == 6)
    assert(out("all").map(_.takeWhile(_ != ' ')) == Seq("SCALE", "SCALE-CUR", "SCALE-ANN"))
    assert(out("docs").map(untimed) ==
      Seq("SCALE f=1 docs=500 pairs_exact=28 pairs_minhash=28 t_exact=_ t_minhash=_ t_labels=_"))
    assert(out("lpa").map(untimed) == Seq("SCALE-LPA f=1 edges=8899 t_edges=_ t_lpa_linear=_"))
    assert(out("edit").map(untimed) == Seq("SCALE-EDIT f=1 docs=500 pairs=28 t_pairs=_ t_dp=_"))
  }

  test("replicate(df, 4) gives 4x the rows, distinct ids, and replica 0 equals the input") {
    val s = spark
    import s.implicits._
    val in = Seq((1L, "a b c"), (2L, "d e f"), (7L, "g h")).toDF("doc_id", "text")
    val rep = ScaleProbe.replicateDocs(in, 4)
    assert(rep.count() == 4 * in.count())
    assert(rep.select(col("doc_id")).distinct().count() == rep.count())
    val replica0 = rep.filter(col("doc_id") % 4 === 0)
      .select((col("doc_id") / 4).cast("long").as("doc_id"), col("text"))
    assert(replica0.exceptAll(in).isEmpty && in.exceptAll(replica0).isEmpty)
    assert(rep.filter(col("doc_id") % 4 === 3).as[(Long, String)].collect().toSet ==
      Set((7L, "a b c v3"), (11L, "d e f v3"), (31L, "g h v3")))
    // f = 1 keeps the input as it is
    assert(ScaleProbe.replicate(in, 1)(_ => Seq(lit(0))).columns.toSeq == Seq("doc_id", "text"))
  }

  test("an unknown mode fails and the message names every registered mode") {
    val e = intercept[IllegalArgumentException](
      ScaleProbe.run(spark, sf0001, "no-such-mode", Seq(1)))
    assert(e.getMessage.contains("unknown mode 'no-such-mode'"))
    assert(e.getMessage.split("modes: ").last.split('|').toSeq == ScaleProbe.modes.keys.toSeq)
  }
}
