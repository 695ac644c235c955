package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A workload whose operation runs one operation of each part, in
  * order; its wall is the sum of the parts' timed walls. Each part's
  * own figures are printed under `<part>.<name>`.
  */
final class Sequence(val name: String, parts: Seq[Workload]) extends Workload {
  private val results = parts.map(_ => mutable.ArrayBuffer[OpResult]())

  def setup(spark: SparkSession, trace: Option[Trace], first: Boolean, last: Boolean): Unit =
    parts.foreach(_.setup(spark, trace, first, last))

  def teardown(): Unit = parts.foreach(_.teardown())

  def op(i: Int, trace: Option[Trace]): OpResult = {
    val rs = parts.map(_.op(i, trace))
    rs.zip(results).foreach { case (r, buf) => buf += r }
    OpResult(rs.map(_.label).mkString(" + "), rs.map(_.wallS).sum, rs.map(_.rawRows).sum,
      rs.flatMap(_.failure).headOption, trace.nonEmpty)
  }

  override def finalCheck(): Seq[String] = parts.flatMap(_.finalCheck())

  def selfTest(): Option[String] = parts.flatMap(_.selfTest()).headOption

  def named(ops: Seq[OpResult]): Seq[(String, Double, String)] = {
    val walls = ops.map(_.wallS)
    val (tail, _, _) = Stats.tail(walls)
    Seq(("cycle_s_p50", Stats.p50(walls), "s"), ("cycle_s_tail", tail, "s"),
      ("ingest_rows_per_s", ops.map(_.rawRows).sum / walls.sum, "1/s")) ++
      parts.zip(results).flatMap { case (p, rs) =>
        p.named(rs.filterNot(_.traced).toSeq).map { case (k, v, u) => (s"${p.name}.$k", v, u) }
      }
  }

  def layers(trace: Trace, traced: Seq[OpResult]): Map[String, Double] =
    parts.zip(results).map { case (p, rs) => p.layers(trace, rs.filter(_.traced).toSeq) }
      .reduce(_ ++ _)

  override def context: Map[String, Any] = parts.map(_.context).reduce(_ ++ _)
}
