package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one run measured: the contract's top-level fields, the metrics
  * by name (value, unit) and a free-form artifact for the report. */
case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)], artifact: Map[String, Any])

/** Run parameters shared by the workloads. */
case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: Path, work: Path, cores: Int, sfDir: String, triggerMs: Long) {
  /** Generator output (`expected.json`) as a flat-ish map. */
  lazy val expected: Map[String, Any] = Json.parse(Files.readString(data.resolve("expected.json")))
    .asInstanceOf[Map[String, Any]]
  def exp(path: String*): Long =
    path.foldLeft(expected: Any)((m, k) => m.asInstanceOf[Map[String, Any]](k))
      .asInstanceOf[Double].toLong
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile that leaves at least ten samples
    * above it, and its value. Below twenty samples that percentile would
    * not be above the median, so the maximum stands in (percentile 100). */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.size
    if (n < 20) (100, xs.max)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      (p, quantile(xs, p / 100.0))
    }
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

object Sys {
  def now(): Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = now(); val r = f; (r, now() - t0)
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** JVM-wide garbage-collection time so far, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }

  /** (file count, bytes) of the regular files under `p` that Spark
    * reads back (hidden and `_`-prefixed files excluded). */
  def dataFiles(p: Path, newerThanMs: Long = 0L): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_") &&
          Files.getLastModifiedTime(f).toMillis >= newerThanMs)
        .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
      finally s.close()
    }

  /** Build a session, warm it up, and do that `times` times; returns the
    * last (live) session and every set-up wall. Earlier sessions are
    * stopped, so each set-up starts a fresh SparkContext. */
  def setUp(times: Int)(build: => SparkSession)(warm: SparkSession => Unit): (SparkSession, Seq[Double]) = {
    var spark: SparkSession = null
    val walls = (1 to times).map { i =>
      val (s, dt) = timed { val s = build; warm(s); s }
      if (i < times) {
        s.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      } else spark = s
      dt
    }
    (spark, walls)
  }

  /** The session the `Cli` ETL commands build: local[nproc], shuffle
    * partitions = nproc, AQE on, UTC. */
  def etlSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Minimal JSON reader/writer for the benchmark's own files. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  /** Parses objects to Map, arrays to Seq, numbers to Double. */
  def parse(s: String): Any = {
    var i = 0
    def ws(): Unit = while (i < s.length && s(i).isWhitespace) i += 1
    def value(): Any = {
      ws()
      s(i) match {
        case '{' =>
          i += 1; ws()
          val b = scala.collection.mutable.LinkedHashMap.empty[String, Any]
          if (s(i) == '}') { i += 1; return b.toMap }
          while (true) {
            ws(); val k = value().asInstanceOf[String]; ws(); i += 1 // ':'
            b(k) = value(); ws()
            if (s(i) == ',') i += 1 else { i += 1; return b.toMap }
          }
        case '[' =>
          i += 1; ws()
          val b = scala.collection.mutable.ArrayBuffer.empty[Any]
          if (s(i) == ']') { i += 1; return b.toSeq }
          while (true) {
            b += value(); ws()
            if (s(i) == ',') i += 1 else { i += 1; return b.toSeq }
          }
        case '"' =>
          val sb = new StringBuilder; i += 1
          while (s(i) != '"') {
            if (s(i) == '\\') {
              i += 1
              s(i) match {
                case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
                case 'b' => sb += '\b'; case 'f' => sb += '\f'
                case 'u' => sb += Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar; i += 4
                case c => sb += c
              }
            } else sb += s(i)
            i += 1
          }
          i += 1; sb.toString
        case 't' => i += 4; true
        case 'f' => i += 5; false
        case 'n' => i += 4; null
        case _ =>
          val st = i
          while (i < s.length && "+-0123456789.eE".indexOf(s(i)) >= 0) i += 1
          s.substring(st, i).toDouble
      }
    }
    value()
  }
}
