package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** The Spark jobs started while a block runs: job group and outcome
  * per job. Job counts are the deterministic counter the wall-time
  * noise of a shared box cannot hide a regression in. */
object JobLog {
  final case class Job(id: Int, group: Option[String], succeeded: Option[Boolean])

  def during[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val groups = new ConcurrentHashMap[Int, Option[String]]
    val ends = new ConcurrentHashMap[Int, java.lang.Boolean]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(e.jobId,
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ends.put(e.jobId, e.jobResult == JobSucceeded)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      // listener delivery is asynchronous, and work the block handed to
      // another thread may still be launching jobs: wait until every
      // started job has ended and nothing new arrived for 500 ms
      def snapshot = (groups.size, ends.size)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var last = snapshot
      var quiet = false
      while (!quiet && System.nanoTime() < deadline) {
        Thread.sleep(500)
        val now = snapshot
        quiet = now == last && now._1 == now._2
        last = now
      }
      val jobs = groups.asScala.toSeq.sortBy(_._1).map { case (id, g) =>
        Job(id, g, Option(ends.get(id)).map(_.booleanValue))
      }
      (out, jobs)
    } finally sc.removeSparkListener(listener)
  }
}
