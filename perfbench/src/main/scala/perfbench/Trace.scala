package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** One timed operation: wall and process-CPU seconds, peak heap. */
final case class OpSample(wall: Double, cpu: Double, heapMb: Double)

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Process CPU time (all JVM threads) and peak heap after collection.
  *
  * Heap is read from GC notifications: the heap in use right after each
  * collection, i.e. the live set plus whatever the collector kept. Its
  * maximum over an operation is the operation's peak heap; an operation
  * that saw no collection reports the heap in use at its end.
  */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memory = ManagementFactory.getMemoryMXBean
  private val peakAfterGc = new AtomicLong(0L)

  def cpuSeconds: Double = os.getProcessCpuTime / 1e9
  def heapUsed: Long = memory.getHeapMemoryUsage.getUsed

  locally {
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(after, math.max(_, _))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  private val t0 = System.nanoTime()

  /** Progress line with seconds since start (goes to the JVM log). */
  def log(msg: String): Unit = println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  /** Time `f` as one operation, from a collected heap: every operation
    * starts without the previous one's garbage.
    */
  def op[A](f: => A): (A, OpSample) = {
    System.gc()
    peakAfterGc.set(0L)
    val c0 = cpuSeconds
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = cpuSeconds - c0
    val peak = math.max(peakAfterGc.get, if (peakAfterGc.get == 0L) heapUsed else 0L)
    (r, OpSample(wall, cpu, peak / 1048576.0))
  }

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** The traced run's recorder: spans around the benchmark's calls into each
  * layer, named values, and the Spark listener below. Held in memory and
  * written out once the run ends.
  */
final class Trace {
  val values = TrieMap.empty[String, Double]
  private val spans = TrieMap.empty[String, ArrayBuffer[Double]]

  /** Time `f` under `name`; a call that throws is timed up to the throw. */
  def span[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      spans.getOrElseUpdate(name, ArrayBuffer.empty).synchronized(spans(name) += s)
    }
  }

  def set(name: String, v: Double): Unit = values(name) = v

  /** Median span per name plus the named values. */
  def metrics: Map[String, Double] =
    spans.map { case (k, v) => k -> Stats.median(v.toSeq) }.toMap ++ values
}

/** Assigns every Spark job to the layer whose source file submitted it (the
  * job's call site, e.g. `SnapshotStore.scala` → `tables`) and keeps
  * per-layer job time plus listener totals. Stage task durations are kept
  * for task-skew readings.
  */
final class LayerListener(layerOf: String => String) extends SparkListener {
  private val starts = TrieMap.empty[Int, (Long, String)]
  val jobSeconds = TrieMap.empty[String, Double]
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  val executorCpuNs = new AtomicLong
  val inputRecords = new AtomicLong
  private val stageTasks = TrieMap.empty[Int, ArrayBuffer[Long]]
  private val lastStage = new java.util.concurrent.atomic.AtomicInteger(-1)
  /** Jobs per call site, for reading the layer attribution. */
  val sites = TrieMap.empty[String, Int]

  private def siteFile(site: String): String = {
    val at = site.lastIndexOf(" at ")
    val loc = if (at >= 0) site.substring(at + 4) else site
    loc.takeWhile(_ != ':')
  }

  /** SQL execution id → the call site of the action that started it. Jobs
    * an execution submits from Spark's own threads (adaptive stages,
    * broadcasts) carry no user frame of their own, so they take this one.
    */
  private val executionSites = TrieMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSites(s.executionId) = s.description
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      executionSites.remove(s.executionId)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionSites.get(id.toLong))
      .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    starts(e.jobId) = (e.time, layerOf(siteFile(site)))
    sites(site) = sites.getOrElse(site, 0) + 1
    e.stageIds.foreach(s => lastStage.accumulateAndGet(s, math.max(_, _)))
    jobs.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    starts.remove(e.jobId).foreach { case (t0, layer) =>
      jobSeconds.synchronized {
        jobSeconds(layer) = jobSeconds.getOrElse(layer, 0.0) + (e.time - t0) / 1e3
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      executorCpuNs.addAndGet(m.executorCpuTime)
      inputRecords.addAndGet(m.inputMetrics.recordsRead)
    }
    stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty).synchronized {
      stageTasks(e.stageId) += e.taskInfo.duration
    }
  }

  /** Slowest over median task time of the stage with the most tasks among
    * the stages that ran after `fromStage`.
    */
  def taskSkew(fromStage: Int): Double = {
    val cands = stageTasks.filter(_._1 >= fromStage).values.map(_.toSeq).filter(_.nonEmpty)
    if (cands.isEmpty) 1.0
    else {
      val ts = cands.maxBy(_.size).map(_.toDouble)
      ts.max / math.max(1.0, Stats.median(ts))
    }
  }

  def maxStageId: Int = lastStage.get
}

object LayerListener {

  /** File name → layer: the directory a program source file sits in under
    * `graft/` (files directly in `graft/` are the `entry` layer; anything
    * else, the benchmark's own files included, is `bench`).
    */
  def layerMap(srcRoot: String): String => String = {
    val root = java.nio.file.Paths.get(srcRoot, "graft")
    val s = java.nio.file.Files.walk(root)
    val m = try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".scala")).map { f =>
        val rel = root.relativize(f)
        f.getFileName.toString -> (if (rel.getNameCount > 1) rel.getName(0).toString else "entry")
      }.toMap
    } finally s.close()
    (file: String) => m.getOrElse(file, "bench")
  }
}
