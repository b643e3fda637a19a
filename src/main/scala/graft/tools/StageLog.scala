package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** The dev mains' stage printer, switched on by `GRAFT_STAGE_LOG`: one
  * `STAGE <id> tasks= wall= in= sRead= sWrite= <name>` line per completed
  * stage over 0.5 s — task count, input and shuffle record counts say
  * WHERE a pipeline's time goes (a stage running far fewer tasks than
  * cores is a parallelism collapse). */
object StageLog {
  def install(spark: SparkSession): Unit =
    if (sys.env.contains("GRAFT_STAGE_LOG")) spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val secs = (for {a <- i.completionTime; b <- i.submissionTime}
          yield (a - b) / 1000.0).getOrElse(-1.0)
        if (secs > 0.5) println(
          f"STAGE ${i.stageId}%5d tasks=${i.numTasks}%3d wall=$secs%7.2f " +
            f"in=${i.taskMetrics.inputMetrics.recordsRead}%11d " +
            f"sRead=${i.taskMetrics.shuffleReadMetrics.recordsRead}%11d " +
            f"sWrite=${i.taskMetrics.shuffleWriteMetrics.recordsWritten}%11d  " +
            i.name.take(70))
      }
    })
}
