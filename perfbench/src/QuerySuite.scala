package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.chaining._

import org.apache.spark.sql.SparkSession

/** `query_suite`: read-only queries of `graft.SparkEntry.queries` over
  * the tables of [[SuiteData]], each timed as one action that computes
  * every output column and returns the row count plus an
  * order-insensitive fingerprint ([[Fingerprint]]), which must match
  * `perfbench/ref/suite_reference.tsv` (row counts only for the
  * rows-only queries, those without an oracle).
  *
  * A run measures [[QuerySuite.subset]], a fixed stratified sample of
  * the read-only queries, in complete passes; the seed sets the query
  * order. The last set-up warms up with one untimed, checked pass, so
  * the measured passes run warm; a query's sample is its median wall
  * over the measured passes. The five write rigs are excluded:
  * `chill_cycle` covers their paths.
  */
final class QuerySuite(root: String, home: String, seed: Long) extends Workload {
  val name = "query_suite"

  private val sections = QuerySuite.sections(home)
  private val reference = QuerySuite.reference(home)
  private val queries = graft.SparkEntry.queries
  private val rowsOnly = queries.keySet -- graft.SparkEntry.oracleSql.keySet
  private val order: IndexedSeq[String] =
    new scala.util.Random(seed).shuffle(QuerySuite.subset(sections)).toIndexedSeq

  private var spark: SparkSession = _
  private val dir = s"$root/suite"
  private var lastPrint: Option[(String, Print)] = None

  /** per traced query: build s, planning s, action start/end ms */
  private final case class Timing(build: Double, plan: Double, a0: Long, a1: Long)
  private val timings = mutable.ArrayBuffer[Timing]()

  def setup(session: SparkSession, trace: Option[Trace], first: Boolean, last: Boolean): Unit = {
    spark = session
    if (first) SuiteData.write(spark, dir)
    graft.Tables.validate(spark, dir)
    if (last) order.foreach { q =>
      op(-1, q, None).failure.foreach(f =>
        throw new IllegalStateException(s"warm-up query $q failed: $f"))
    }
  }

  /** The tables last the whole run; the run root is removed after it. */
  def teardown(): Unit = ()

  /** Complete passes only: another pass starts while the budget lasts. */
  override def more(elapsedS: Double, seconds: Double, done: Int): Boolean =
    done % order.size != 0 || elapsedS < seconds

  def op(i: Int, trace: Option[Trace]): OpResult = op(i, order(i % order.size), trace)

  private def op(i: Int, q: String, trace: Option[Trace]): OpResult = {
    val t0 = System.nanoTime()
    val df = Trace.span(trace, "suite", s"build $q")(queries(q)(spark, dir))
    val t1 = System.nanoTime()
    val a0 = System.currentTimeMillis()
    val frame = Fingerprint.frame(df)
    val got = Trace.span(trace, "suite", s"action $q")(Fingerprint.read(frame))
    val a1 = System.currentTimeMillis()
    val wall = (System.nanoTime() - t0) / 1e9
    if (trace.nonEmpty) {
      val plan = frame.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
      timings += Timing((t1 - t0) / 1e9, plan, a0, a1)
    }
    lastPrint = Some(q -> got)
    OpResult(q + (if (trace.nonEmpty) " traced" else ""), wall, 0L, compare(q, got),
      trace.nonEmpty)
  }

  private def compare(q: String, got: Print, ref: Map[String, Print] = reference): Option[String] =
    ref.get(q) match {
      case None => Some(s"$q has no reference fingerprint")
      case Some(want) if rowsOnly(q) =>
        if (got.rows == want.rows) None else Some(s"$q returned ${got.rows} rows, reference ${want.rows}")
      case Some(want) =>
        if (got == want) None else Some(s"$q fingerprint $got, reference $want")
    }

  /** Perturb the reference fingerprint of the last query run: the
    * comparison must now fail.
    */
  def selfTest(): Option[String] = lastPrint match {
    case Some((q, got)) =>
      val want = reference(q)
      val bad = if (rowsOnly(q)) want.copy(rows = want.rows + 1) else want.copy(lo = want.lo + 1)
      compare(q, got, reference.updated(q, bad)) match {
        case Some(_) => None
        case None => Some(s"a perturbed reference for $q passed the check")
      }
    case None => Some("no query ran")
  }

  /** One sample per query, its median wall over the measured passes:
    * the statistics do not depend on how many passes fit the budget.
    */
  override def samples(ops: Seq[OpResult]): Seq[Double] =
    ops.groupBy(_.label).values.map(os => Stats.median(os.map(_.wallS))).toSeq

  def named(ops: Seq[OpResult]): Seq[(String, Double, String)] = {
    val walls = samples(ops)
    val (tail, _, _) = Stats.tail(walls)
    Seq(("suite_s", walls.sum, "s"), ("query_s_p50", Stats.p50(walls), "s"),
      ("query_s_tail", tail, "s"))
  }

  def layers(tr: Trace, traced: Seq[OpResult]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    val passes = math.max(1.0, traced.size.toDouble / order.size)
    val jobS = timings.map(t => tr.jobCoverMs(t.a0, t.a1) / 1e3).sum
    val actionS = timings.map(t => (t.a1 - t.a0) / 1e3).sum
    val bySection = traced.groupBy(o => sections(o.label.stripSuffix(" traced")))
      .map { case (s, os) => s -> os.map(_.wallS).sum / passes }
    Map(
      "suite.build_s" -> timings.map(_.build).sum / n,
      "suite.plan_s" -> timings.map(_.plan).sum / n,
      "suite.job_s" -> jobS / n,
      "suite.driver_gap_s" -> (actionS - jobS) / n) ++
      QuerySuite.SectionLayers.map { case (s, m) => m -> bySection.getOrElse(s, 0.0) }
  }

  override def context: Map[String, Any] =
    Map("queries" -> order.size, "query_order" -> order)
}

object QuerySuite {
  /** Write rigs: their paths are `chill_cycle` and `reload_rollup`. */
  val Rigs = Set("q_library_cycle", "q_config_run", "q_reload_readback",
    "q_rollup_maintenance", "q_stream_ingest")

  /** Every `Stride`-th read-only query of each section, by name. */
  val Stride = 12

  /** SURVEY §2 sections and the per-layer metric of each. */
  val SectionLayers = Seq("A" -> "suite.etl_s", "B" -> "suite.maintenance_s",
    "C" -> "suite.reconcile_s", "D" -> "suite.llm_data_s", "E" -> "suite.analytics_s")

  private def tsv(path: String): Seq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.startsWith("#") || l.isBlank).map(_.split('\t'))

  def sections(home: String): Map[String, String] =
    tsv(s"$home/ref/sections.tsv").map(a => a(0) -> a(1)).toMap

  def reference(home: String): Map[String, Print] =
    tsv(s"$home/ref/suite_reference.tsv").map(a => a(0) -> Fingerprint.parse(a(1))).toMap

  def readOnly(sections: Map[String, String]): Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.filterNot(Rigs).sorted.tap { qs =>
      val unmapped = qs.filterNot(sections.contains)
      require(unmapped.isEmpty, s"queries without a section in ref/sections.tsv: $unmapped")
    }

  def subset(sections: Map[String, String]): Seq[String] =
    readOnly(sections).groupBy(sections).toSeq.sortBy(_._1).flatMap { case (_, qs) =>
      qs.sorted.zipWithIndex.collect { case (q, i) if i % Stride == 0 => q }
    }

  /** Evaluate every read-only query once over freshly generated tables
    * in `dataDir` (kept, for an oracle cross-check) and write the
    * reference file.
    */
  def writeReference(dataDir: String, home: String, cores: Int, out: String): Unit = {
    val sparkDir = new File(dataDir).getParent + "/reference-spark"
    val spark = Session.create(sparkDir, cores)
    Dirs.delete(new File(dataDir))
    SuiteData.write(spark, dataDir)
    graft.Tables.validate(spark, dataDir)
    val lines = readOnly(sections(home)).map { q =>
      val t0 = System.nanoTime()
      val p = Fingerprint.of(graft.SparkEntry.queries(q)(spark, dataDir))
      println(f"$q%-32s ${(System.nanoTime() - t0) / 1e9}%7.3f s  $p")
      s"$q\t$p"
    }
    Files.write(Paths.get(out), (("# query\trows:lo:hi (Fingerprint over SuiteData)" +: lines)
      .mkString("\n") + "\n").getBytes("UTF-8"))
    Session.stop(spark)
    Dirs.delete(new File(sparkDir))
  }
}
