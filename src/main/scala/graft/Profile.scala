package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-loop profiler (guide §1): decompose ONE query/fixture's wall time
  * into Spark job time vs driver-side gaps (planning, commit metadata,
  * footer passes). Not part of the bench contract — a measurement tool.
  *
  *   SPARK_GRAFT_PROFILE="mv5_star_navigation" sbt "runMain graft.Profile"
  *
  * Prints, per query: total wall, job count, sum of job wall, stage count,
  * task count, and the slowest jobs with their call sites. The driver gap
  * (wall - sum(jobs), minus overlap) is where commit metadata and planning
  * live.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = sys.env.getOrElse("SPARK_GRAFT_PROFILE", "mv5_star_navigation")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = Session.local()

    case class Job(id: Int, desc: String, start: Long, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0)
    val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
    val stageToJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobs(js.jobId) = Job(js.jobId, desc, js.time)
        js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.get(je.jobId).foreach(_.end = je.time)
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageToJob.get(sc.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1; j.tasks += sc.stageInfo.numTasks
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // warm the common codegen/scan paths once so the profile reflects the
    // bench's steady state (Bench does the same)
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()
    } catch { case _: Throwable => () }

    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"== $name: NOT FOUND")
        case Some(fn) =>
          // warm rep first (plan-cache fills, JIT), then measured reps —
          // the bench itself takes min-of-3, so the min is the comparable
          val walls = (1 to 3).map { _ =>
            jobs.clear(); stageToJob.clear(); graft.ops.Prof.reset()
            val t0 = System.nanoTime()
            fn(spark, sfDir).queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e6
          }
          val wallMs = walls.min
          Thread.sleep(300) // let the listener bus drain
          val done = jobs.values.toSeq.filter(_.end > 0).sortBy(_.start)
          val jobMs = done.map(j => j.end - j.start).sum
          // merged-busy: union of job intervals, so concurrent jobs are not
          // double counted and the remainder is genuinely driver-only time
          val busy = done.map(j => (j.start, j.end)).sortBy(_._1)
            .foldLeft(List.empty[(Long, Long)]) {
              case (acc @ ((s0, e0) :: rest), (s, e)) =>
                if (s <= e0) (s0, math.max(e0, e)) :: rest else (s, e) :: acc
              case (Nil, iv) => iv :: Nil
            }.map { case (s, e) => e - s }.sum
          println(f"== $name: walls ${walls.map(w => f"${w / 1000}%.2f").mkString("/")}s  jobs ${done.size}  " +
            f"jobSum ${jobMs / 1000.0}%.2fs  jobBusy ${busy / 1000.0}%.2fs  " +
            f"driverGap ${(wallMs - busy) / 1000}%.2fs  " +
            f"stages ${done.map(_.stages).sum}  tasks ${done.map(_.tasks).sum}")
          done.sortBy(j => -(j.end - j.start)).take(10).foreach { j =>
            println(f"   ${j.end - j.start}%6dms  stages=${j.stages}%-3d tasks=${j.tasks}%-5d ${j.desc.take(110)}")
          }
          println(" phases:")
          println(graft.ops.Prof.report())
      }
    }
    spark.stop()
  }
}
