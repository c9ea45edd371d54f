package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** Deterministic hashing: every generated value is a pure function of the
  * run seed and a few coordinates, so the same seed gives the same inputs
  * on any machine and in any task order.
  */
object Rng {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, xs: Long*): Long = xs.foldLeft(mix(seed))((acc, x) => mix(acc ^ x))
  /** Uniform in [0, 1). */
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))
  def below(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt
}

object Clock {
  def now: Double = System.nanoTime() / 1e9
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  }
  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no values")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Session {
  /** The one session shape every workload runs on: `cores` task slots and
    * as many shuffle partitions (graft.Bench's session), Spark's defaults
    * otherwise, scratch space inside the work dir.
    */
  def build(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftExtensions.register(spark)
    graft.Tables.ensureConfs(spark)
    spark
  }
}

object Fs {
  def path(first: Path, more: String*): String = Paths.get(first.toString, more: _*).toString
  /** Force every file under `dir` to disk, so that write-back of freshly
    * generated inputs does not compete with the timed pass.
    */
  def sync(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
      val ch = java.nio.channels.FileChannel.open(f, java.nio.file.StandardOpenOption.WRITE)
      try ch.force(true) finally ch.close()
    } finally w.close()
  }
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
