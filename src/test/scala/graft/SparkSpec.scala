package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM-wide session — specs
  * run in a single forked JVM under `Test / fork := true`). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = {
    val s = TestSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs `body`, then a marker job, and returns the (description, job
    * group, SQL execution id) of every job the listener saw start
    * meanwhile — the marker's start arriving proves every earlier job start
    * was delivered. `onStart` sees each start as it is delivered. */
  protected def jobsDuring(body: => Unit,
      onStart: ((String, String, String)) => Unit = _ => ()): Seq[(String, String, String)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        def prop(k: String) = props.map(_.getProperty(k)).orNull
        val job = (prop("spark.job.description"), prop("spark.jobGroup.id"),
          prop("spark.sql.execution.id"))
        seen.add(job)
        onStart(job)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      val marker = s"listener-marker-${System.nanoTime()}"
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_._1 == marker) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }

  /** Runs `body`, then a marker job, and returns the (description, start,
    * end) of every job that started meanwhile, in the scheduler's epoch
    * milliseconds (end is Long.MaxValue for a job that never ended) — the
    * marker's end arriving proves every earlier event was delivered.
    * `onStart` sees each description as its job starts. */
  protected def jobSpans(body: => Unit,
      onStart: String => Unit = _ => ()): Seq[(String, Long, Long)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]
    val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties).map(_.getProperty("spark.job.description")).orNull
        starts.put(js.jobId, (desc, js.time))
        onStart(desc)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = ends.put(je.jobId, je.time)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      val marker = s"listener-marker-${System.nanoTime()}"
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      def markerEnded = starts.asScala.exists { case (id, (d, _)) => d == marker && ends.containsKey(id) }
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!markerEnded && System.nanoTime() < deadline) Thread.sleep(50)
    } finally sc.removeSparkListener(listener)
    starts.asScala.toSeq.map { case (id, (d, t)) =>
      (d, t, if (ends.containsKey(id)) ends.get(id) else Long.MaxValue)
    }
  }
}
