package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Dev profiling harness (not part of the driver contract): runs
  * selected SparkEntry queries under a stage listener and prints, per
  * stage, the task count, summed task time, max task time and wall
  * span — the direct way to spot single-task stages (a scan of a
  * one-row-group parquet file, a width-1 aggregate) that serialize a
  * 32-core box.
  *
  * Usage: SPARK_GRAFT_BENCH_FILTER=q31 sbt "runMain graft.tools.StageProfile"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.GraftSession.local(cpus, "graft-stage-profile")
    spark.sparkContext.setLogLevel("WARN")

    case class St(name: String, var nTasks: Int = 0, var taskMs: Long = 0,
      var maxTaskMs: Long = 0, var submitted: Long = 0, var completed: Long = 0)
    val stages = mutable.LinkedHashMap.empty[Int, St]
    var collecting = false
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (collecting) stages.synchronized {
          stages(e.stageInfo.stageId) =
            St(e.stageInfo.name.takeWhile(_ != '\n').take(80),
              submitted = System.currentTimeMillis())
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (collecting) stages.synchronized {
          stages.get(e.stageId).foreach { s =>
            s.nTasks += 1
            val ms = Option(e.taskInfo).map(_.duration).getOrElse(0L)
            s.taskMs += ms
            if (ms > s.maxTaskMs) s.maxTaskMs = ms
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (collecting) stages.synchronized {
          stages.get(e.stageInfo.stageId)
            .foreach(_.completed = System.currentTimeMillis())
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def exec(name: String): Unit =
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    try { exec("q14_multiway_join"); exec("q15_strings") }
    catch { case _: Throwable => () }

    val filters = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val selected = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filters.isEmpty || filters.exists(n.contains))

    selected.foreach { name =>
      spark.catalog.clearCache()
      // one cold pass to warm codegen, then the measured pass
      try exec(name) catch { case t: Throwable =>
        println(s"[stageprof] $name FAILED: ${t.getMessage.take(200)}") }
      spark.catalog.clearCache()
      stages.synchronized(stages.clear())
      collecting = true
      val t0 = System.nanoTime()
      // a failure in the MEASURED pass must be visible and must not
      // print a stage table as if the run succeeded (a query failing
      // only on its second run would otherwise profile as healthy)
      val measuredOk =
        try { exec(name); true }
        catch { case t: Throwable =>
          println(s"[stageprof] $name MEASURED PASS FAILED: " +
            s"${String.valueOf(t.getMessage).take(200)}")
          false
        }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(800) // listener drain (dev harness only)
      collecting = false
      if (!measuredOk) {
        println(f"[stageprof] ===== $name FAILED after $wall%.3f s " +
          "(no stage table) =====")
      } else {
      println(f"[stageprof] ===== $name wall=$wall%.3f s =====")
      val snap = stages.synchronized(stages.toSeq)
      val totalTask = snap.map(_._2.taskMs).sum.max(1)
      snap.sortBy { case (_, s) => -s.taskMs }.take(25).foreach { case (id, s) =>
        val span = (s.completed - s.submitted).max(0)
        println(f"[stageprof]  stage $id%4d tasks=${s.nTasks}%3d " +
          f"taskSum=${s.taskMs}%6d ms max=${s.maxTaskMs}%6d ms " +
          f"span=$span%6d ms  ${s.name}")
      }
      println(f"[stageprof]  total task ms: $totalTask, stages: ${snap.size}")
      }
    }
    spark.stop()
  }
}
