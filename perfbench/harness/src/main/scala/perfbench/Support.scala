package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.commons.math3.special.Beta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** One closed-loop operation: a medallion batch or one query. */
final case class OpResult(name: String, wallS: Double, cpuS: Double, ok: Boolean)

/** One timed pass over a workload's op list. */
final case class Pass(index: Int, traced: Boolean, ops: Seq[OpResult]) {
  def wallS: Double = ops.map(_.wallS).sum
  def cpuS: Double = ops.map(_.cpuS).sum
  def ok: Boolean = ops.forall(_.ok)
}

/** Helpers shared by the workloads: the op wrapper, result hashing,
  * table-directory accounting and host readings.
  */
final class Ctx(val spark: SparkSession, val probe: Probe, val work: String,
    val seed: Long) {
  /** One line per failed op or failed check; any entry fails the run. */
  val failures: collection.mutable.ArrayBuffer[String] = collection.mutable.ArrayBuffer.empty

  def fail(msg: String): Unit = {
    System.err.println(s"perfbench: FAIL $msg")
    failures += msg
  }

  /** Time `body` as one op. An exception fails the op (and the run): the
    * op is reported as failed and its time is never used as a latency.
    */
  def op(kind: String, name: String, pass: Int)(body: => Unit): OpResult = {
    val cpu0 = Host.processCpuNs
    val t0 = System.nanoTime()
    val ok =
      try { probe.span(kind, name)(body); true }
      catch {
        case NonFatal(e) =>
          e.printStackTrace()
          fail(s"op $name (pass $pass): $e")
          false
      }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (Host.processCpuNs - cpu0) / 1e9
    OpResult(name, wall, cpu, ok)
  }
}

object Parallel {
  /** Run `tasks` on `threads` threads and wait for all of them; a
    * failure is rethrown with its own exception.
    */
  def run[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] {
        def call(): T = t()
      }))
      futures.map { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
    }
  }
}

object Hashing {
  /** Order-insensitive content hash: row count plus the wrapping sum of
    * each row's xxhash64 over all columns in name order. Running it is
    * the op's terminal action (the rows' hashes are collected).
    */
  def of(df: DataFrame): String = {
    val names = df.columns
    val positional = df.toDF(names.indices.map(i => s"c$i"): _*)
    val ordered = names.indices.sortBy(i => (names(i), i)).map(i => col(s"c$i"))
    val hs = positional.select(xxhash64(ordered: _*)).collect()
    var sum = 0L
    hs.foreach(r => sum += r.getLong(0))
    s"${hs.length}:${java.lang.Long.toHexString(sum)}"
  }
}

/** Parquet data files under a directory (checksums and markers are not
  * counted).
  */
object TableFiles {
  def list(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  def bytes(root: String): Long = list(root).values.sum

  def deleteTree(root: String): Unit = {
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.delete(f))
      finally s.close()
    }
  }
}

object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def processCpuNs: Long = os.getProcessCpuTime

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Heap bytes allocated so far by all threads, live and ended. */
  def allocatedBytes: Long = threads.getTotalThreadAllocatedBytes

  /** Total time the JIT compilers have spent so far, in milliseconds. */
  def jitCompileMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toLong / 1024.0
  }

  @volatile private var sink = 0L

  /** Fixed single-thread CPU loop: median of five timed repetitions
    * after two untimed ones, in milliseconds.
    */
  def calibrateMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      sink += x
      (System.nanoTime() - t0) / 1e6
    }
    once(); once()
    val reps = Seq.fill(5)(once()).sorted
    reps(2)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis quantile: a mean of all order statistics weighted by
    * a Beta(q(n+1), (1-q)(n+1)) density. Over a few dozen distinct op
    * times it moves smoothly, where one order statistic jumps from one
    * op to its neighbour when their times swap places.
    */
  def hdQuantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no values")
    val s = xs.sorted
    val n = s.size
    def cdf(x: Double) = Beta.regularizedBeta(x, q * (n + 1), (1 - q) * (n + 1))
    s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
  }
}
