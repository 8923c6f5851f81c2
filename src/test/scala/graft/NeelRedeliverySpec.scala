package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}

/** The NEEL stream keeps no state: every delivered tweet yields its own
  * `AnalysisResultProducedEvent`, built from that delivery's text alone
  * (the reference's `TwitterStreamJob` emits one event per delivery),
  * and the micro-batch plan has no state operator and no shuffle. */
class NeelRedeliverySpec extends SparkSpec {

  private def tweet(id: Long, text: String): String =
    s"""{"id": $id, "text": "$text", "retweeted": false, """ +
      s""""user": {"id": 1, "name": "n", "screen_name": "sn", "location": null}}"""

  private def event(id: Long, entities: String*): String =
    s"""{"analysisId":"a1","processDate":"p","payload":{"statusId":$id,""" +
      s""""entities":[${entities.mkString(",")}]}}"""

  test("a re-delivered tweet yields one event per delivery, each with " +
      "its own entities; the stream keeps no state and never shuffles") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[String]
    val out = new ConcurrentLinkedQueue[(Long, Long, String)]()
    val q = operators.NeelPipeline.run(s, mem.toDS().toDF("value"), "a1", "p")
      .writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, bid: Long) =>
        df.collect().foreach(r => out.add((bid, r.getLong(0), r.getString(1))))
      }
      .start()
    try {
      // tweet 42 twice in one micro-batch, beside a tweet with no entity
      mem.addData(tweet(42, "spark stream"), tweet(43, "nothing here"),
        tweet(42, "join a hash"))
      q.processAllAvailable()
      // and a third time in a later one
      mem.addData(tweet(42, "a vector"))
      q.processAllAvailable()

      // confidence = ((42 * 7 + start) % 90) / 100
      val first = event(42,
        """{"start":0,"end":5,"uri":"http://kb/r/spark","confidence":0.24,"category":"ORG"}""",
        """{"start":6,"end":12,"uri":"http://kb/r/stream","confidence":0.3,"category":"CONCEPT"}""")
      val second = event(42,
        """{"start":0,"end":4,"uri":"nil-join","confidence":0.24,"category":"ACTION"}""",
        """{"start":7,"end":11,"uri":"nil-hash","confidence":0.31,"category":"MATH"}""")
      val third = event(42,
        """{"start":2,"end":8,"uri":"http://kb/r/vector","confidence":0.26,"category":"MATH"}""")
      val got = out.asScala.toSeq
      assert(got.map(_._1).distinct.sorted === Seq(0L, 1L))
      assert(got.filter(_._1 == 0L).map(e => (e._2, e._3)).sortBy(_._2) ===
        Seq((42L, first), (42L, second)).sortBy(_._2))
      assert(got.filter(_._1 == 1L).map(e => (e._2, e._3)) === Seq((42L, third)))

      assert(q.recentProgress.nonEmpty)
      assert(q.recentProgress.forall(_.stateOperators.isEmpty),
        "the NEEL stream must not run a state operator")
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      assert(plan.collect { case e: Exchange => e }.isEmpty,
        s"the NEEL stream must not shuffle:\n$plan")
    } finally q.stop()
  }
}
