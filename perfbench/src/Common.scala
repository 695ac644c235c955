package perfbench

import java.io.File

import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result and trace records. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

object Dirs {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    else f.length()

  /** Parquet data files under `root`, by path relative to it. */
  def dataFiles(root: File): Map[String, Long] = {
    val base = root.toPath
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    if (!root.exists()) Map.empty
    else walk(root).filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      .map(f => base.relativize(f.toPath).toString -> f.length()).toMap
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The Harrell-Davis estimate of the median, which the `*_p50`
    * figures report: the mean of all samples in ascending order, each
    * weighted by the Beta((n+1)/2, (n+1)/2) probability of its rank
    * interval. It moves smoothly when one sample crosses a gap between
    * samples, where the sample median jumps. With one or two samples it
    * equals the sample median.
    */
  def p50(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    val a = (n + 1) / 2.0
    def cdf(x: Double) = if (x <= 0) 0.0 else if (x >= 1) 1.0 else Beta.regularizedBeta(x, a, a)
    if (s.isEmpty) Double.NaN
    else s.indices.map(i => (cdf((i + 1.0) / n) - cdf(i.toDouble / n)) * s(i)).sum
  }

  /** The mean of the samples at or above the highest percentile with
    * at least ten samples above it: the sample at rank n-10 of n in
    * ascending order and the ten above it; with fewer than 20 samples,
    * the upper half. A mean over the tail does not jump when a single
    * sample crosses a gap between samples, as one order statistic does.
    * Returns (value, percentile, sample count).
    */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val s = xs.sorted
    val n = s.size
    val (from, pct) = if (n < 20) (n / 2, 50) else (n - 11, math.floor(100.0 * (n - 10) / n).toInt)
    val top = s.drop(from)
    (top.sum / top.size, pct, n)
  }
}

/** The benchmark's Spark session: `local[cores]` with shuffle width equal
  * to the core count, otherwise `graft.Bench`'s session conf. Spark's
  * local, warehouse and checkpoint dirs live under the run root.
  */
object Session {
  def create(root: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(s"$root/checkpoints")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** One timed operation: a Chill cycle, a reload step or a suite query. */
final case class OpResult(
    label: String,
    wallS: Double,
    rawRows: Long,
    failure: Option[String],
    traced: Boolean)

/** A workload: set-up in a fresh session, then a closed loop of
  * operations, each started when the previous one ended.
  */
trait Workload {
  def name: String

  /** Set up in a fresh session; runs three times per run. The `first`
    * set-up, in a cold JVM, also makes the inputs that last the whole
    * run; the `last` one warms up with untimed, checked work, so the
    * measured operations run in the session that warmed up.
    */
  def setup(spark: SparkSession, trace: Option[Trace], first: Boolean, last: Boolean): Unit

  /** Drop the state of the current set-up (before the session stops). */
  def teardown(): Unit

  /** Whether to start another operation, `done` having finished after
    * `elapsedS` of the `seconds` budget.
    */
  def more(elapsedS: Double, seconds: Double, done: Int): Boolean = elapsedS < seconds

  /** Run operation `i`, timed, and check its output. In a traced run
    * every `i` runs twice, once with a trace and once without.
    */
  def op(i: Int, trace: Option[Trace]): OpResult

  /** Checks over the final state; returns the failures found. */
  def finalCheck(): Seq[String] = Nil

  /** Inject a fault into one expected output and re-run the check:
    * returns a failure message if the check did NOT catch it.
    */
  def selfTest(): Option[String]

  /** The samples `op_s_p50`, `op_s_tail` and `op_s_mean` are taken
    * over: by default the wall of each untraced operation.
    */
  def samples(ops: Seq[OpResult]): Seq[Double] = ops.map(_.wallS)

  /** The workload's own end-to-end figures, printed by name and unit
    * but not compared across runs: (name, value, unit).
    */
  def named(ops: Seq[OpResult]): Seq[(String, Double, String)]

  /** Per-layer metrics from the traced operations. */
  def layers(trace: Trace, traced: Seq[OpResult]): Map[String, Double]

  /** Extra context for the run record. */
  def context: Map[String, Any] = Map.empty
}
