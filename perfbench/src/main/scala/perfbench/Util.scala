package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.commons.math3.special.Beta

import org.apache.spark.sql.Row

/** A correctness check that did not hold; the op that raised it counts
  * as failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

object Util {
  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new CheckFailed(msg)

  def ms(ns: Long): Double = ns / 1e6

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell–Davis estimate of the q-quantile: a mean of every order
    * statistic, weighted by a Beta((n+1)q, (n+1)(1-q)) distribution.
    * A run's op latencies fall in a few clusters, one per op kind, and
    * the interpolated quantile jumps between clusters when two ops swap
    * places; this estimate moves smoothly. */
  def hdQuantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
      val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
      s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
    }

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else quantile(xs, 0.9)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Order-insensitive digest of a result: every value rendered to text
    * (floating point at 9 significant digits, so summation order cannot
    * flip it), rows sorted, SHA-256 over the lot. */
  def digest(rows: Seq[Row]): String = {
    def render(v: Any): String = v match {
      case null => "NULL"
      case d: Double => f"$d%.9g"
      case f: Float => f"${f.toDouble}%.9g"
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case a: Array[_] => a.map(render).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }
          .sorted.mkString("<", ",", ">")
      case other => other.toString
    }
    val lines = rows.map(r => r.toSeq.map(render).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().take(12).map(b => f"$b%02x").mkString + s"/${rows.size}"
  }

  /** A flat `{"name": "digest", ...}` file; empty when absent. */
  def readDigests(file: String): Map[String, String] =
    if (!Files.exists(Paths.get(file))) Map.empty
    else """"([A-Za-z_0-9]+)"\s*:\s*"([^"]+)"""".r
      .findAllMatchIn(Files.readString(Paths.get(file)))
      .map(m => m.group(1) -> m.group(2)).toMap

  def writeDigests(file: String, d: scala.collection.Map[String, String]): Unit = {
    Files.createDirectories(Paths.get(file).toAbsolutePath.getParent)
    Files.writeString(Paths.get(file), d.toSeq.map { case (k, v) => s"""  "$k": "$v"""" }
      .mkString("{\n", ",\n", "\n}\n"))
  }

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }
  }

  def dirBytes(dir: String): Long = walk(dir).map(Files.size).sum

  /** (files, bytes) under the table's log/metadata directories. */
  def metaFiles(dir: String): (Int, Long) = {
    val fs = walk(dir).filter(p => p.iterator().asScala
      .exists(_.toString.startsWith("_graft")))
    (fs.size, fs.map(Files.size).sum)
  }

  def dataFileBytes(dir: String): Long =
    walk(dir).filter(_.getFileName.toString.endsWith(".arrow"))
      .map(Files.size).sum

  def rmrf(dir: String): Unit = walk(dir).headOption.foreach { _ =>
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  /** CPU time of the calling thread. */
  def threadCpuNs: Long =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** Heap in use after forced full collections, with pauses between
    * them so reference-queue cleaners (Spark's ContextCleaner) can drop
    * what the previous collection freed. */
  def heapLiveMb: Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) / 1048576.0
  }
}

/** Machine weather over a run: load average at the end, and the
  * iowait and steal shares of all CPU time in between, from /proc. */
final class Weather {
  private def jiffies: Array[Long] = try {
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim
      .split("\\s+").drop(1).map(_.toLong)
  } catch { case _: Exception => Array.empty }
  private val start = jiffies

  def json: String = {
    val end = jiffies
    val d = end.indices.map(i => end(i) - (if (i < start.length) start(i) else 0L))
    val tot = math.max(d.sum, 1L).toDouble
    def share(i: Int) = if (i < d.size) d(i) / tot else 0.0
    val load = try {
      new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
        .split(" ").take(3).mkString(",")
    } catch { case _: Exception => "" }
    f"""{"loadavg":"$load","iowait_share":${share(4)}%.4f,""" +
      f""""steal_share":${share(7)}%.4f,"cpus":${Runtime.getRuntime.availableProcessors}}"""
  }
}
