package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Ad-hoc per-JOB profile of a single registered query (dev tool, not
  * part of the contract). For a lifecycle query that runs dozens of
  * sequential actions, the bench median alone cannot say whether the
  * time went to a few big jobs, many tiny ones, or the DRIVER-side
  * gaps between them (commits, listings, planning). This runs one
  * query through the noop sink with a job listener and prints each
  * job's wall, stage/task counts and description plus the gap since
  * the previous job ended — the measurement §1 of the optimization
  * guide asks for before touching anything.
  *
  * Usage: sbt "runMain graft.JobProfile <queryName> [sfDir] [reps]"
  */
object JobProfile {

  private final case class J(id: Int, t0: Long, var t1: Long = 0L,
    var tasks: Int = 0, desc: String)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("query name required"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(js.jobId, J(js.jobId, System.nanoTime(),
          tasks = js.stageInfos.map(_.numTasks).sum, desc = desc))
        order.add(js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val j = jobs.get(je.jobId)
        if (j != null) j.t1 = System.nanoTime()
      }
    }
    val fn = SparkEntry.queries(name)
    // warmup rep(s) then the measured rep — mirrors the bench's
    // staged/warm regime so JIT and one-time staging don't pollute; each
    // rep first runs the bench's untimed per-sweep staging (Bench.stage)
    // so the profiled walls match bench timings instead of folding
    // clone / model / state staging into the measured rep
    for (r <- 1 to reps) {
      Bench.stage(spark, sfDir, Seq(name), s"rep $r")
      jobs.clear(); order.clear()
      if (r == reps) spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.streaming.Replay.releaseOutputs()
      println(f"[jobprofile] $name rep $r wall ${wall}%.2f s")
      if (r == reps) {
        Thread.sleep(300) // let late job-end events land
        import scala.jdk.CollectionConverters._
        val js = order.asScala.toSeq.distinct.flatMap(id => Option(jobs.get(id)))
        var prevEnd = t0
        var jobSum = 0.0; var gapSum = 0.0
        for (j <- js) {
          val gap = math.max(0.0, (j.t0 - prevEnd) / 1e9)
          val dur = if (j.t1 == 0) 0.0 else (j.t1 - j.t0) / 1e9
          jobSum += dur; gapSum += gap
          val d = if (j.desc.length > 90) j.desc.take(90) + "…" else j.desc
          println(f"[jobprofile]   gap ${gap}%6.3f | job ${j.id}%4d ${dur}%7.3f s tasks=${j.tasks}%-4d $d")
          if (j.t1 != 0) prevEnd = math.max(prevEnd, j.t1)
        }
        println(f"[jobprofile] $name: ${js.size} jobs, job time ${jobSum}%.2f s, driver gaps ${gapSum}%.2f s, wall ${wall}%.2f s")
      }
    }
    spark.stop()
  }
}
