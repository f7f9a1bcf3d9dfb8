package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Local Spark sessions and the process-level measurements every workload
  * shares: thread counts, working directories, heap watermarks. */
object Env {

  /** Logical cores the JVM may use; every session runs at this or lower. */
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  /** The two thread counts each workload alternates between. */
  val hi: Int = nproc
  val lo: Int = math.max(1, nproc / 4)

  /** A fresh local session at `threads` threads: any running context is
    * stopped first, so no cached plan, broadcast or block survives from
    * the previous operation. */
  def freshSession(threads: Int, work: Path): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$threads")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stopAll(): Unit = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def now(): Double = System.nanoTime() / 1e9

  /** Runs a set-up step and reports its duration on stderr. */
  def phase[A](name: String)(f: => A): A = {
    val (a, sec) = timed(f)
    System.err.println(f"[perfbench] $name%s: $sec%.2f s")
    a
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Bytes of every regular file under `p` (0 when absent). */
  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def treeFiles(p: Path, pred: Path => Boolean): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) && pred(f)).toList
      finally s.close()
    }

  def path(s: String): Path = Paths.get(s)
}

/** Heap watermarks from the JVM's own GC notifications: the largest heap
  * in use before any collection (the peak the process actually reached)
  * and the heap left after the most recent collection (the live set). */
object Heap {
  @volatile private var peakBytes = 0L
  @volatile private var afterGcBytes = 0L

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private val listener: NotificationListener = (n, _) =>
    if (n.getType == "com.sun.management.gc.notification") {
      val info = n.getUserData.asInstanceOf[CompositeData]
      val gc = info.get("gcInfo").asInstanceOf[CompositeData]
      def total(key: String): Long =
        gc.get(key).asInstanceOf[javax.management.openmbean.TabularData]
          .values().asScala.map(_.asInstanceOf[CompositeData])
          .filter(r => heapPools(r.get("key").asInstanceOf[String]))
          .map(r => r.get("value").asInstanceOf[CompositeData].get("used").asInstanceOf[Long])
          .sum
      val before = total("memoryUsageBeforeGc")
      val after = total("memoryUsageAfterGc")
      Heap.synchronized {
        peakBytes = math.max(peakBytes, before)
        afterGcBytes = after
      }
    }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }

  private def usedNow: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def peakMb: Double = math.max(peakBytes, usedNow) / 1048576.0
  def afterGcMb: Double = afterGcBytes / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, q in (0, 1]. */
  def pct(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  /** The highest of the usual reporting percentiles that still has at least
    * ten samples beyond it, or None when there are too few samples. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5).find(q => n * (1 - q) >= 10 - 1e-9)

  /** Ratio of the mean of the last third to the mean of the first third. */
  def thirdsRatio(xs: Seq[Double]): Double = {
    val k = xs.size / 3
    if (k == 0) 1.0
    else (xs.takeRight(k).sum / k) / math.max(xs.take(k).sum / k, 1e-12)
  }
}
