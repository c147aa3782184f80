package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Command-line arguments of one benchmark run. `work` is a scratch
  * directory inside the checkout; `cache` holds inputs generated once per
  * (workload, seed); `home` is the benchmark's own directory.
  */
final case class Ctx(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, cache: Path, home: Path)

final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: its operation counts, the metrics of the
  * requested kind, and extra human-readable lines.
  */
final class Report(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val problems = ArrayBuffer.empty[String]
  val metrics = ArrayBuffer.empty[Metric]
  val info = ArrayBuffer.empty[Metric]

  def add(name: String, value: Double, unit: String): Unit =
    metrics += Metric(name, value, unit)
  def note(name: String, value: Double, unit: String): Unit =
    info += Metric(name, value, unit)
  def problem(msg: String): Unit = problems += msg

  /** The end-to-end memory figures every workload reports; the process's
    * whole VmHWM is printed alongside.
    */
  def memory(retainedHeapMb: Double): Unit = {
    note("peak_rss_mb", Proc.peakRssMb(), "MB")
    add("offheap_peak_mb", Proc.offHeapPeakMb(), "MB")
    add("heap_retained_mb", retainedHeapMb, "MB")
  }
  def correct: Boolean = problems.isEmpty && failed == 0 && attempted > 0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json: String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def printHuman(): Unit = {
    val rate = if (attempted > 0) failed.toDouble / attempted else 1.0
    println(f"[perfbench] $workload%s fail_rate = $rate%.6f ratio ($failed%d of $attempted%d)")
    (info ++ metrics).foreach(m =>
      println(s"[perfbench] $workload ${m.name} = ${num(m.value)} ${m.unit}"))
    problems.foreach(p => println(s"[perfbench] $workload CHECK FAILED: $p"))
  }
}

/** Progress lines on standard error, stamped with seconds since the first. */
object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")
}

object Clock {
  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def timed[A](f: => A): (A, Double) = { val t0 = now(); val a = f; (a, secs(t0)) }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (value, percentile). Falls back to the maximum below 11 samples.
    */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.length
    if (n < 11) (s.last, 100.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }
}

object Session {
  val Cores = 4

  /** A `local[4]` session whose scratch space stays under `work`. */
  def start(work: Path, shufflePartitions: Int,
      splitBytes: Option[Long] = None,
      codegenCacheEntries: Option[Int] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    splitBytes.foreach(n =>
      b.config("spark.sql.files.maxPartitionBytes", n.toString))
    codegenCacheEntries.foreach(n =>
      b.config("spark.sql.codegen.cache.maxEntries", n.toString))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Free every cached table and persisted RDD through the public API. */
  def freeStorage(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Megabytes still held by persisted RDDs (memory plus disk). */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6
}

object Proc {
  private val MB = 1024.0 * 1024.0

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** Peak resident memory outside the heap, in MB: VmHWM minus the
    * committed heap. run.py fixes the heap's size and pre-touches it, so
    * the heap is resident in full and the rest is the program's native
    * memory (metaspace, compiled code, thread stacks, direct buffers).
    */
  def offHeapPeakMb(): Double =
    peakRssMb() - ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / MB

  /** Heap in use after a full collection, in MB: what the program still
    * holds, cached storage included. The first collection finds the
    * shuffles and broadcasts nothing references any more; Spark's
    * ContextCleaner then frees their blocks on its own thread, and the
    * second collection runs after it has had time to.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB
  }
}

object Dirs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  def fresh(p: Path): Path = { delete(p); Files.createDirectories(p) }

  /** Recursive copy; file times are not preserved. */
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }
}
