package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Process and box counters read from /proc, plus the calibration loop.
  * Every reader returns -1 where the proc interface is unreadable.
  */
object Host {
  private def read(p: String): Option[String] =
    try Some(Files.readString(Paths.get(p))) catch { case _: Throwable => None }

  /** This process's user + system CPU, with that of the child processes
    * it has waited for (Hadoop's local file system forks `chmod` and
    * `readlink` without its native library), in seconds (USER_HZ = 100).
    */
  def selfCpuS: Double = read("/proc/self/stat").map { s =>
    val f = fields(s) // utime, stime, cutime, cstime: fields 14 to 17
    (f(11).toLong + f(12).toLong + f(13).toLong + f(14).toLong) / 100.0
  }.getOrElse(-1.0)

  /** The fields of a stat line after its comm; field(0) is stat field 3. */
  private def fields(stat: String): Array[String] =
    stat.substring(stat.lastIndexOf(')') + 2).split(" ")

  /** user + system CPU seconds of a stat line (fields 14 and 15). */
  private def cpuOf(stat: String): Double = {
    val f = fields(stat)
    (f(11).toLong + f(12).toLong) / 100.0
  }

  /** Thread-name prefixes (stat comm, cut at 15 characters) of the JIT
    * compiler and G1 garbage collector threads; the VM thread runs the
    * collector's pauses.
    */
  private val jvmService = Seq("C1 CompilerThre", "C2 CompilerThre",
    "Sweeper thread", "GC Thread#", "G1 ", "VM Thread")

  /** CPU seconds of the work itself: the process total (threads that
    * have exited included) minus the live JIT compiler and GC threads.
    * The runner keeps compiler threads from exiting, so their CPU is
    * always subtracted.
    */
  def workCpuS: Double = {
    val self = selfCpuS
    val tasks = Paths.get("/proc/self/task")
    val service = try {
      val s = Files.list(tasks)
      try s.iterator().asScala.flatMap(t => read(s"$t/stat")).filter { st =>
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        jvmService.exists(comm.startsWith)
      }.map(cpuOf).sum
      finally s.close()
    } catch { case _: Throwable => 0.0 }
    if (self < 0) -1.0 else self - service
  }

  /** Busy CPU seconds of the whole box, steal included. */
  def boxBusyS: Double = read("/proc/stat").map { s =>
    val f = s.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal
    (f(0) + f(1) + f(2) + f(5) + f(6) + f.lift(7).getOrElse(0L)) / 100.0
  }.getOrElse(-1.0)

  private def field(p: String, key: String): Long = read(p).flatMap { s =>
    s.linesIterator.find(_.startsWith(key))
      .map(_.substring(key.length).trim.split("\\s+")(0).toLong)
  }.getOrElse(-1L)

  /** Bytes this process has passed to write(2). */
  def writtenBytes: Long = field("/proc/self/io", "wchar:")

  /** Peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = field("/proc/self/status", "VmHWM:") / 1024.0

  @volatile private var sink = 0L

  /** Seconds for a fixed single-threaded integer loop. It does the same
    * work on every run, so a slow reading means a slow or stolen CPU,
    * not slow code.
    */
  def calibS(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6

  /** Total bytes of regular files under `dir` (0 when absent). */
  def treeBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
