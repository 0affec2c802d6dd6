package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** Spark work attributed to one job group (an op type, or a span id
  * in the traced run).
  */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var taskCpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L

  def add(o: SparkWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; taskCpuNs += o.taskCpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
  }

  def metrics(prefix: String): Seq[(String, Double, String)] = Seq(
    (s"$prefix.jobs", jobs.toDouble, "count"),
    (s"$prefix.tasks", tasks.toDouble, "count"),
    (s"$prefix.task_s", taskMs / 1e3, "s"),
    (s"$prefix.task_cpu_s", taskCpuNs / 1e9, "s"),
    (s"$prefix.shuffle_read_bytes", shuffleReadBytes.toDouble, "bytes"),
    (s"$prefix.shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    (s"$prefix.spill_bytes", spillBytes.toDouble, "bytes"),
    (s"$prefix.peak_exec_mem_bytes", peakExecMemBytes.toDouble, "bytes"))
}

/** SparkListener that sums task metrics by the job group the jobs ran
  * under. Reads go through [[drained]], which waits for the listener
  * bus to deliver every event posted so far.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, SparkWork]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def work(g: String): SparkWork = byGroup.computeIfAbsent(g, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    val w = work(g)
    w.synchronized(w.jobs += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val w = work(stageGroup.getOrDefault(e.stageId, "none"))
    w.synchronized {
      w.tasks += 1
      w.taskMs += m.executorRunTime
      w.taskCpuNs += m.executorCpuTime
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.peakExecMemBytes = math.max(w.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  sc.addSparkListener(this)

  def drained: Map[String, SparkWork] = {
    org.apache.spark.BenchAccess.drainListeners(sc)
    byGroup.asScala.toMap
  }

  def reset(): Unit = { org.apache.spark.BenchAccess.drainListeners(sc); byGroup.clear() }
}

/** Janino compile count and time. The count comes from Spark's
  * CodegenMetrics; the time from CodeGenerator's "Code generated in N
  * ms" log line, captured by an appender that keeps it off the console.
  */
object Codegen {
  @volatile private var millis = 0.0

  def install(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
    val pattern = """Code generated in ([0-9.]+) ms""".r.unanchored
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbenchCodegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        e.getMessage.getFormattedMessage match {
          case pattern(ms) => Codegen.synchronized(millis += ms.toDouble)
          case _ =>
        }
    }
    app.start()
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    val cfg = new LoggerConfig(name, Level.INFO, false)
    cfg.addAppender(app, Level.INFO, null)
    ctx.getConfiguration.addLogger(name, cfg)
    ctx.updateLoggers()
  }

  /** (classes compiled, compile seconds) since JVM start. */
  def totals: (Long, Double) = Codegen.synchronized(
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      millis / 1e3))
}

/** JVM memory and GC: the highest old-generation occupancy after any
  * GC while armed, and GC pause time.
  */
object Jvm {
  @volatile private var armed = false
  @volatile private var oldPeak = 0L

  private def isOld(pool: String) = pool.contains("Old") || pool.contains("Tenured")

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case em: NotificationEmitter =>
        em.addNotificationListener(new NotificationListener {
          override def handleNotification(n: Notification, h: Any): Unit =
            if (armed && n.getType == "com.sun.management.gc.notification") {
              val info = com.sun.management.GarbageCollectionNotificationInfo
                .from(n.getUserData.asInstanceOf[CompositeData])
              val old = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (k, u) if isOld(k) => u.getUsed }.sum
              Jvm.synchronized { oldPeak = math.max(oldPeak, old) }
            }
        }, null, null)
      case _ =>
    }

  private def oldUsed: Long = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => isOld(p.getName)).map(_.getUsage.getUsed).sum

  /** CPU time of the calling thread, ns: unlike wall time, it does not
    * grow when the machine's other tenants take the CPU.
    */
  def threadCpuNs: Long = ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def arm(): Unit = Jvm.synchronized { oldPeak = 0L; armed = true }

  /** Stop watching; MB of the peak (the current old-generation use if
    * no GC ran while armed).
    */
  def disarm(): Double = Jvm.synchronized {
    armed = false
    (if (oldPeak > 0) oldPeak else oldUsed) / 1048576.0
  }

  /** MB of old generation in use right after a full collection: the
    * heap the run still holds.
    */
  def liveMb(): Double = {
    System.gc()
    oldUsed / 1048576.0
  }

  def environment: Map[String, Any] = {
    val rt = ManagementFactory.getRuntimeMXBean
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jvm_args" -> rt.getInputArguments.asScala.filterNot(_.startsWith("--add-opens")).toSeq,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> org.apache.spark.SPARK_VERSION)
  }
}
