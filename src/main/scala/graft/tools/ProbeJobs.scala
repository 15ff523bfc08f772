package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Per-job wall-time attribution for one or more declared queries —
  * the measure-first loop (optimization guide §1): is a gate's time
  * executor compute, or the job/stage scheduling floor of many small
  * eager actions? Runs each named query once cold and once warm,
  * printing every Spark job's wall ms, stage count, task count and
  * summed executor task time, so "N eager materializations × job
  * floor" is readable straight from the output.
  */
object ProbeJobs {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.drop(1).toSet
    val spark = graft.GraftSession.local()
    final case class Job(id: Int, t0: Long, var t1: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, var taskMs: Long = 0L,
      val stageDesc: scala.collection.mutable.ArrayBuffer[String] =
        scala.collection.mutable.ArrayBuffer.empty)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, Job(e.jobId, e.time)); order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        // attribute the stage to the most recent unfinished job — good
        // enough for the sequential actions a gate runs
        val j = jobs.values().toArray(Array.empty[Job])
          .filter(x => x.t1 < 0 || x.t1 >= info.completionTime.getOrElse(0L))
          .sortBy(-_.t0).headOption
        j.foreach { x =>
          x.stages += 1
          x.tasks += info.numTasks
          x.taskMs += info.taskMetrics.executorRunTime
          x.stageDesc += f"      stage ${info.stageId}%3d tasks=${info.numTasks}%4d " +
            f"run=${info.taskMetrics.executorRunTime}%6d ms " +
            f"in=${info.taskMetrics.inputMetrics.recordsRead}%8d rows " +
            f"shRead=${info.taskMetrics.shuffleReadMetrics.recordsRead}%8d " +
            f"shWrite=${info.taskMetrics.shuffleWriteMetrics.recordsWritten}%8d  " +
            info.name.take(90)
        }
      }
    })
    graft.SparkEntry.gates.sortBy(_.name)
      .filter(g => names.isEmpty || names.contains(g.name))
      .foreach { case graft.gates.Gate(name, fn, _) =>
        (1 to 2).foreach { run =>
          jobs.clear(); order.clear()
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          // Bench convention: cleanup inside the timed region
          graft.CachePool.releaseAll()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener bus is async; give it a beat to drain
          Thread.sleep(300)
          val js = order.toArray(Array.empty[Integer]).map(i => jobs.get(i.intValue))
          println(f"\n===== $name run$run wall=$wall%.2f s jobs=${js.length} " +
            f"jobWallSum=${js.map(j => (j.t1 - j.t0).max(0L)).sum / 1000.0}%.2f s =====")
          js.foreach { j =>
            println(f"  job ${j.id}%3d wall=${(j.t1 - j.t0).max(0L)}%6d ms " +
              f"stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.taskMs}%6d ms")
            if (run == 2) j.stageDesc.foreach(println)
          }
        }
      }
    spark.stop()
    sys.exit(0)
  }
}
