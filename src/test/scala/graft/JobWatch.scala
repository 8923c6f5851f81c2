package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Every Spark job a block launches: its description, stage names and
  * result-stage task count. A marker job runs after the block and is
  * waited for — the listener bus delivers in order, so once the
  * marker's start arrives every earlier job start has too (no sleep,
  * no race). */
object JobWatch {
  final case class JobSeen(desc: String, stages: Seq[String], resultTasks: Int)

  def jobsOf[T](s: SparkSession)(body: => T): (T, Seq[JobSeen]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[JobSeen]()
    val marker = s"marker-${java.util.UUID.randomUUID()}"
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        seen.add(JobSeen(desc, js.stageInfos.map(_.name),
          js.stageInfos.maxBy(_.stageId).numTasks))
      }
    }
    s.sparkContext.addSparkListener(l)
    try {
      val out = body
      Jobs.labeled(s, marker)(s.sparkContext.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      import scala.jdk.CollectionConverters._
      while (!seen.asScala.exists(_.desc == marker) &&
        System.nanoTime() < deadline) Thread.sleep(20)
      val all = seen.asScala.toSeq
      require(all.exists(_.desc == marker), "listener never saw the marker job")
      (out, all.filterNot(_.desc == marker))
    } finally s.sparkContext.removeSparkListener(l)
  }
}
