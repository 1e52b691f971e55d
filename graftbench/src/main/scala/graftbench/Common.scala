package graftbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

/** Command-line arguments of one benchmark JVM (see run.py). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    root: String, // this run's private temp root; deleted by run.py
    data: String, // directory holding the corpus_ops tables
    out: String, // where the run record (JSON) is written
    cores: Int,
    tiny: Boolean, // self-test sizes
    corruptExpected: Boolean) // self-test: a wrong expected fingerprint

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", req("root"), req("data"), req("out"),
      m.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      m.getOrElse("tiny", "0") == "1", m.getOrElse("corrupt-expected", "0") == "1")
  }
}

/** One workload op (a crawl epoch or a corpus query) of a measured rep. */
final case class OpRecord(name: String, rep: Int, seconds: Double,
    ok: Boolean, error: Option[String], output: Option[String] = None) {
  def toJson: Map[String, Any] = Map("name" -> name, "rep" -> rep,
    "seconds" -> seconds, "ok" -> ok, "error" -> error, "output" -> output)
}

/** What a workload hands back to Main. */
final case class Outcome(ops: Seq[OpRecord], endToEnd: Map[String, Double],
    layers: Map[String, Double], details: Map[String, Any])

object Util {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The median, or NaN (rendered as null) when every op failed. */
  def medianOrNaN(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else median(xs)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  private def walk(p: String): Seq[Path] = {
    val root = Paths.get(p)
    if (!Files.exists(root)) Nil
    else scala.util.Using.resource(Files.walk(root))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).toList)
  }

  def files(p: String): Seq[Path] = walk(p)

  /** Bytes of the data files under `p` (Hadoop .crc side files excluded). */
  def dirBytes(p: String): Long =
    walk(p).filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(f => Files.size(f)).sum

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    walk(from).foreach { f =>
      val dst = Paths.get(to).resolve(src.relativize(f).toString)
      Files.createDirectories(dst.getParent)
      Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  def deleteTree(p: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(p))
  }

  /** Hypervisor steal jiffies: field 8 of /proc/stat's aggregate cpu line. */
  def stealJiffies(): Long =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+")
      if (f.length > 8) f(8).toLong else 0L
    } catch { case _: Exception => 0L }

  /** This JVM's peak resident set (VmHWM), MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def describe(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}" +
      (if (root ne t) s" (cause ${root.getClass.getSimpleName}: ${root.getMessage})" else "")
  }
}
