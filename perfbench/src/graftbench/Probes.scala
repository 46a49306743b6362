package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{OpenOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Host-window probes, process counters and session-hygiene reads.
  *
  * The three host probes have the shape of `graft.Bench`'s: a CPU
  * speed-up ratio (aggregate throughput of `threads` copies of an
  * integer kernel over one copy; host CPU steal collapses it toward
  * 1), fsync'd sequential write bandwidth, and sequential read
  * bandwidth of the largest input file. They are smaller than
  * Bench's so that a pair of them costs well under a second.
  */
object Probes {

  final case class Host(cpuParX: Double, ioMbps: Double, scanMbps: Double)

  private val sink = new java.util.concurrent.atomic.AtomicLong(0)

  private def kernel(iters: Long): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < iters) {
      h = java.lang.Long.rotateLeft(h * 0xC2B2AE3D27D4EB4FL, 31) ^ i
      i += 1
    }
    h
  }

  def cpuParX(threads: Int, iters: Long = 40000000L): Double = {
    sink.addAndGet(kernel(1000000L)): Unit
    val t1 = System.nanoTime()
    sink.addAndGet(kernel(iters)): Unit
    val single = (System.nanoTime() - t1).toDouble
    val tn = System.nanoTime()
    val ts = (1 to threads).map { _ =>
      val t = new Thread(() => { sink.addAndGet(kernel(iters)): Unit })
      t.start(); t
    }
    ts.foreach(_.join())
    threads * single / (System.nanoTime() - tn)
  }

  def ioMbps(dir: File, totalMb: Int = 16): Double = {
    val f = File.createTempFile("probe", ".bin", dir)
    try {
      val ch = FileChannel.open(f.toPath, StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.allocate(1 << 20)
        val t0 = System.nanoTime()
        for (_ <- 1 to totalMb) {
          buf.rewind()
          while (buf.hasRemaining) ch.write(buf)
        }
        ch.force(true)
        totalMb / ((System.nanoTime() - t0) / 1e9)
      } finally ch.close()
    } finally { f.delete(): Unit }
  }

  /** O_DIRECT read of the largest file under `dataDir` (page cache
    * bypassed); falls back to a buffered read where O_DIRECT is not
    * supported.
    */
  def scanMbps(dataDir: File, totalMb: Int = 32): Double = {
    val file = dataDir.listFiles().filter(_.isFile).maxBy(_.length)
    val chunk = 1 << 16
    val whole = (file.length() / chunk).toInt
    if (whole == 0) return 0.0
    def read(opts: Seq[OpenOption]): Double = {
      val buf = ByteBuffer.allocateDirect(chunk + 4096).alignedSlice(4096)
      val passes = math.max(1, (totalMb.toLong << 20) / (whole.toLong * chunk))
      val t0 = System.nanoTime()
      var bytes = 0L
      for (_ <- 1L to passes) {
        val ch = FileChannel.open(file.toPath, opts: _*)
        try {
          for (i <- 0 until whole) {
            buf.clear(); buf.limit(chunk)
            ch.position(i.toLong * chunk)
            while (buf.hasRemaining && ch.read(buf) >= 0) {}
            bytes += chunk
          }
        } finally ch.close()
      }
      (bytes >> 20).toDouble / ((System.nanoTime() - t0) / 1e9)
    }
    try read(Seq(StandardOpenOption.READ,
      com.sun.nio.file.ExtendedOpenOption.DIRECT))
    catch { case _: Exception => read(Seq(StandardOpenOption.READ)) }
  }

  def host(threads: Int, scratch: File, dataDir: File): Host =
    Host(cpuParX(threads), ioMbps(scratch), scanMbps(dataDir))

  // ---- process counters ----

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  def jitSeconds(): Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set size of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  // ---- session hygiene, read from outside the query ----

  final case class Hygiene(leakedViews: Int, confDrift: Int,
      cachedRelations: Int)

  def tempViews(spark: SparkSession): Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet

  def hygiene(spark: SparkSession, baseConf: Map[String, String],
      baseViews: Set[String]): Hygiene = {
    val views = (tempViews(spark) -- baseViews).size
    val now = spark.conf.getAll
    val drift = (baseConf.keySet ++ now.keySet)
      .count(k => baseConf.get(k) != now.get(k))
    Hygiene(views, drift, spark.sparkContext.getPersistentRDDs.size)
  }
}
