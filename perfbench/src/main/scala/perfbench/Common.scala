package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Clocks, statistics and the result record shared by the workloads. */
object Common {

  def now(): Double = System.nanoTime() / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = now(); val r = f; (r, now() - t0)
  }

  /** Process CPU seconds (all threads, including GC and JIT). */
  def processCpu(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Old-generation occupancy in MB right after a full collection. The
    * second collection runs after Spark's context cleaner has released
    * what the first one made unreachable (broadcasts, shuffle state).
    */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.toArray
      .collect { case p: java.lang.management.MemoryPoolMXBean => p }
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
      .sum / 1048576.0
  }

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p99/p90/p75/p50 that still has at least ten samples
    * beyond it, as (label, value); p50 when the sample is smaller.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq(0.99 -> "p99", 0.90 -> "p90", 0.75 -> "p75")
      .find { case (q, _) => xs.size * (1 - q) >= 10 }
      .map { case (q, l) => (l, quantile(xs, q)) }
      .getOrElse(("p50", median(xs)))

  def dirBytes(f: java.io.File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def dataFiles(f: java.io.File): Seq[java.io.File] =
    if (!f.exists()) Nil
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) Seq(f) else Nil)
    else Option(f.listFiles()).map(_.toSeq.flatMap(dataFiles)).getOrElse(Nil)
}

/** What a workload hands back to `Main`: end-to-end metrics (name →
  * (value, unit)), per-layer metrics, the check verdicts, op counts and
  * the human-readable lines that print each named pipeline metric.
  */
final class Result(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  val notes = mutable.ArrayBuffer.empty[String]
  val structure = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks(name) = ok
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name $detail")
  }

  /** Prints `name = value unit (detail)` for the report and keeps it. */
  def note(name: String, value: Double, unit: String, detail: String = ""): Unit =
    notes += f"$name%-28s = $value%.6g $unit ${if (detail.isEmpty) "" else s"($detail)"}"
}

/** Minimal JSON writer for the result file (numbers, strings, booleans,
  * maps and sequences).
  */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case (a, b) => apply(Seq(a, b))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Session factory for every workload: the library's `GraftSession`
  * sized to the host, with Spark's scratch space inside the run's work
  * directory.
  */
object Session {
  def create(cores: Int, work: String): SparkSession = {
    val spark = graft.GraftSession.local(cores.toString)
      .appName("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
