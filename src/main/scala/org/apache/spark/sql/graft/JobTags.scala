package org.apache.spark.sql.graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.SparkContext

/** Tag a thread's Spark jobs, and cancel by tag waiting for the scheduler
  * (the public `cancelJobsWithTag` only posts the request). */
object JobTags {

  def tagged[T](tag: String)(body: => T): T = SparkContext.getActive match {
    case Some(sc) => sc.addJobTag(tag); try body finally sc.removeJobTag(tag)
    case None => body
  }

  def cancel(tag: String, reason: String): Unit =
    SparkContext.getActive.foreach { sc =>
      try Await.ready(sc.cancelJobsWithTagWithFuture(tag, reason), 60.seconds)
      catch { case _: java.util.concurrent.TimeoutException => () }
    }
}
