package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.graft.bridge
import scala.concurrent.{ExecutionContext, Future}

/** Futures that run Spark jobs on pooled threads. A pool thread inherits
  * the Spark local properties (job group, job tags, scheduler pool,
  * description) of whichever thread happened to create it, and keeps them
  * for every later task: a job submitted for one caller would carry another
  * caller's job group, so `cancelJobGroup` would miss it — or cancel it on
  * the other caller's behalf. [[apply]] copies the SUBMITTING thread's
  * properties when the future is created, installs the copy for the body,
  * and restores the pool thread's own properties afterwards. The copy is
  * private to the future, so a description the body sets never leaks back
  * into the submitter. */
object SparkFuture {
  def apply[A](sc: SparkContext)(body: => A)(implicit ec: ExecutionContext): Future[A] = {
    val submitter = bridge.copyLocalProperties(sc)
    Future {
      val own = bridge.localProperties(sc)
      bridge.setLocalProperties(sc, submitter)
      try body finally bridge.setLocalProperties(sc, own)
    }
  }
}
