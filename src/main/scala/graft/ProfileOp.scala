package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev instrument (round 13): per-JOB wall-clock and task-time breakdown of
  * one declared op, so "where do this op's seconds go" is measured, not
  * guessed — the guide §1 empirical loop without the (disabled) UI. Prints
  * one line per Spark job: wall ms, summed task ms, max single-task ms, task
  * count — the max/sum ratio exposes single-task serial stages (the
  * one-row-group fixture bottleneck) and the wall−task gap exposes
  * driver/planning latency.
  * Usage: runMain graft.ProfileOp <sfDir> <opKey>[,<opKey>...] [cpus]
  */
object ProfileOp {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val keys = args(1).split(",")
    val cpus = if (args.length > 2) args(2).toInt else 32
    val spark = GraftSession.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    // jobId -> (submitted ns, description)
    val jobStart = new mutable.HashMap[Int, (Long, String)]
    val jobLines = new mutable.ArrayBuffer[String]
    val taskSum = new mutable.HashMap[Int, Long]   // jobId -> summed task ms
    val taskMax = new mutable.HashMap[Int, Long]   // jobId -> max task ms
    val taskCnt = new mutable.HashMap[Int, Int]
    val stageToJob = new mutable.HashMap[Int, Int]
    // One shared monitor for listener callbacks AND main's drain/clear —
    // `synchronized` alone would lock the listener instance on one side and
    // the enclosing object on the other (r13 advice: racy drain).
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobLines.synchronized {
        jobStart(e.jobId) = (System.nanoTime(), Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobLines.synchronized {
        stageToJob.get(e.stageId).foreach { j =>
          val ms = Option(e.taskInfo).map(_.duration).getOrElse(0L)
          taskSum(j) = taskSum.getOrElse(j, 0L) + ms
          taskMax(j) = math.max(taskMax.getOrElse(j, 0L), ms)
          taskCnt(j) = taskCnt.getOrElse(j, 0) + 1
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobLines.synchronized {
        jobStart.remove(e.jobId).foreach { case (t0, _) =>
          val wall = (System.nanoTime() - t0) / 1e6
          jobLines += f"[profileop]   job ${e.jobId}%3d wall=$wall%8.1f ms " +
            f"taskSum=${taskSum.getOrElse(e.jobId, 0L)}%6d ms " +
            f"taskMax=${taskMax.getOrElse(e.jobId, 0L)}%6d ms " +
            f"tasks=${taskCnt.getOrElse(e.jobId, 0)}%4d"
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // warmup (JIT/codegen/fixtures) — not printed
    spark.read.parquet(s"$sfDir/region.parquet").groupBy("r_name").count().count()
    keys.foreach { k =>
      SparkEntry.queries(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    jobLines.synchronized { jobLines.clear() }
    keys.foreach { k =>
      println(s"==== $k ====")
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async; give the bus a beat to drain
      Thread.sleep(400)
      jobLines.synchronized { jobLines.foreach(println); jobLines.clear() }
      println(f"[profileop] $k total wall=$wall%.3f s")
    }
    spark.stop()
  }
}
