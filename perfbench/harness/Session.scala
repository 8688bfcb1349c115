package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Session {
  /** The session `graft.Bench` builds, minus two things. Its move of the
    * temp dir to /dev/shm: the benchmark keeps `java.io.tmpdir` where its
    * launcher put it, so every file the engine writes stays inside the run
    * directory. And its synthetic warm-up jobs: the benchmark's warm pass
    * runs every op once instead. */
  def build(cpus: Int, warehouse: Path): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new org.apache.spark.sql.graft.GraftExtensions)
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  /** Heap still live after a full GC, in MB, measured once the session has
    * stopped: what the engine's memos and caches keep past a session. Each
    * heap pool's occupancy as that collection left it, so allocations
    * racing the call do not count. */
  def retainedHeapMb(): Double = {
    // two collections apart, so what the first leaves to reference
    // handlers and cleaner threads is gone by the second
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  /** Wait (at most `maxMs`) until the JIT compiler has been idle for half a
    * second, so compiles queued by the warm pass do not compete with the
    * timed passes for cores. */
  def awaitJit(maxMs: Long = 5000L): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (jit.getTotalCompilationTime != last && System.currentTimeMillis() < deadline) {
      last = jit.getTotalCompilationTime
      Thread.sleep(500)
    }
  }

  /** Whole-stage and expression classes Spark's code generator has
    * compiled with Janino in this JVM (its code cache's misses). */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Cumulative (GC seconds, JIT seconds) of this JVM. */
  def jvmTimes(): (Double, Double) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
    (gc / 1000.0, ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0)
  }
}
