package perfbench

import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** What the benchmark reads off the JVM and the machine it runs on. */
object Box {

  /** nproc, max heap, CPU model, JDK and Spark versions. */
  def fingerprint(spark: SparkSession): Map[String, Any] = Json.obj(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "cpu_model" -> procField("/proc/cpuinfo", "model name").getOrElse(System.getProperty("os.arch")),
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version)

  /** Same-window readings of the engine's box probes, as readings only.
    * The Spark-shaped probe takes about 15 s on a 4-vCPU box, so only the
    * traced runs take it. */
  def probes(spark: SparkSession, withSparkProbe: Boolean): Map[String, Any] = Json.obj(
    "calib_s" -> graft.Bench.calibOnce(),
    "calib_par_s" -> graft.Bench.calibParOnce(),
    "spark_probe_s" -> (if (withSparkProbe) Some(graft.Bench.sparkProbeOnce(spark)) else None))

  /** Peak resident set of this process so far (VmHWM), in MB. */
  def peakRssMb(): Double =
    procField("/proc/self/status", "VmHWM").map(_.trim.split("\\s+")(0).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  private def procField(path: String, key: String): Option[String] = {
    val p = Paths.get(path)
    if (!Files.isReadable(p)) None
    else Files.readAllLines(p).asScala.find(_.startsWith(key)).map(_.split(":", 2)(1).trim)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1 << 20).toDouble

  def chainThreads(): Int =
    Thread.getAllStackTraces.keySet.asScala.count(t => t.isAlive && t.getName == "graft-driver-chain")

  /** Counts WARN and ERROR events reaching the root logger. Install after
    * the first SparkContext has configured logging. */
  object LogCounter {
    val errors = new AtomicLong
    val warnings = new AtomicLong

    def install(): Unit = {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val appender = new AbstractAppender("perfbench-log-counter", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getLevel.isMoreSpecificThan(Level.ERROR)) errors.incrementAndGet()
          else if (e.getLevel == Level.WARN) warnings.incrementAndGet()
      }
      appender.start()
      ctx.getConfiguration.getRootLogger.addAppender(appender, Level.WARN, null)
      ctx.updateLoggers()
    }
  }
}
