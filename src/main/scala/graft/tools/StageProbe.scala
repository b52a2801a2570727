package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev probe: per-stage wall times for a registered query (variance hunt). */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 4
    val spark = graft.LocalSession()
    val stages = mutable.ArrayBuffer[(Int, String, Long, Int)]()
    val tasks = mutable.HashMap[Int, mutable.ArrayBuffer[Long]]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L))
        stages += ((si.stageId, si.name.split("\n")(0).take(60), ms, si.numTasks))
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        tasks.getOrElseUpdate(te.stageId, mutable.ArrayBuffer()) +=
          te.taskInfo.duration
      }
    })
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to runs) {
      stages.clear(); tasks.clear()
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val tExec = System.nanoTime()
      println(f"[stageprobe] run $i total=${(tExec - t0) / 1e9}%.3f s")
      Thread.sleep(300)
      stages.sortBy(-_._3).take(8).foreach { case (id, n, ms, nt) =>
        val ds = tasks.getOrElse(id, mutable.ArrayBuffer()).sorted
        val med = if (ds.nonEmpty) ds(ds.size / 2) else 0L
        val mx = if (ds.nonEmpty) ds.last else 0L
        println(f"  stage $id%5d ${ms / 1000.0}%7.3f s tasks=$nt%3d " +
          f"med=${med}ms max=${mx}ms  $n")
      }
      tasks.clear()
    }
    spark.stop()
  }
}
