package perfbench

import java.io.File
import java.time.{Instant, LocalDate, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{Maintenance, Rollups}

/** `reload_rollup`, the second half of `chill_cycle`: a long-lived warehouse of 5-minute counter rows,
  * partitioned by day. Set-up loads `InitialDays` days. Each step
  * delivers one new day plus a corrected re-delivery of an earlier day
  * through `Maintenance.overwritePartitions`, reads the two days back
  * and rolls them through `Rollups.cascade` (5M, 15M, HH, DY) into
  * day-partitioned rollup tables, and applies
  * `Maintenance.retentionSweep` (counting the rows each table retains).
  *
  * Checks: after every step the delivered days of every table equal
  * the cascade of the generated rows, computed here without graft;
  * the retained row counts match the retention rules; at the end every
  * day of every table, delivered in this step or not, holds what its
  * latest delivery says.
  */
final class ReloadRollup(root: String, seed: Long) extends Workload {
  val name = "reload_rollup"

  private val InitialDays = 4
  private val Cells = 2
  private val Types = Seq("drop", "err", "rx", "tx")
  private val Slots = 288
  private val RowsPerDay = Slots * Cells * Types.size
  private val Grains = Seq("5M" -> 300, "15M" -> 900, "HH" -> 3600, "DY" -> 86400)
  private val Retention = Map("RAW" -> 3, "5M" -> 3, "15M" -> 4, "HH" -> 5, "DY" -> 3650)
  private val Day0 = LocalDate.of(2024, 3, 1)

  private val RawSchema =
    StructType.fromDDL("ts TIMESTAMP, cell INT, event_type STRING, value DOUBLE, day DATE")
  private val RollupSchema = StructType.fromDDL(
    "bucket_start BIGINT, event_type STRING, n_events BIGINT, sum_value DOUBLE, day DATE")

  private var spark: SparkSession = _
  private var wh: String = _
  private def rawPath = s"$wh/counters_RAW"
  private def rollupPath(grain: String) = s"$wh/rollup_$grain"
  private def tables: Seq[(String, String, StructType)] =
    ("counters_RAW", rawPath, RawSchema) +: Grains.map { case (g, _) =>
      (s"rollup_$g", rollupPath(g), RollupSchema)
    }

  /** current delivery version of every loaded day */
  private val versions = mutable.Map[Int, Int]()
  private var nextDay = 0
  private var rawBytes = 0L
  private var setups = 0

  private def date(d: Int) = java.sql.Date.valueOf(Day0.plusDays(d.toLong))

  /** The generated raw rows of day `d` in delivery version `v`. */
  private def rawRows(d: Int, v: Int): Seq[Row] = {
    val r = new SplittableRandom(seed * 1000003L + d * 1009L + v)
    val start = Day0.plusDays(d.toLong).atStartOfDay(ZoneOffset.UTC).toInstant
    val day = date(d)
    for (slot <- 0 until Slots; cell <- 0 until Cells; t <- Types) yield
      Row(java.sql.Timestamp.from(start.plusSeconds(slot * 300L + r.nextInt(300))), cell, t,
        r.nextInt(100000) / 100.0, day)
  }

  private def textBytes(rows: Seq[Row]): Long =
    rows.iterator.map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}|${r.get(3)}\n".length.toLong).sum

  /** The cascade of `rows` at `seconds` granularity, computed on the
    * driver with exact decimals.
    */
  private def rollup(rows: Seq[Row], seconds: Int): Seq[Row] =
    rows.groupBy { r =>
      val epoch = r.getAs[java.sql.Timestamp](0).getTime / 1000L
      (Math.floorDiv(epoch, seconds.toLong) * seconds, r.getString(2))
    }.toSeq.map { case ((bucket, t), rs) =>
      val sum = rs.map(r => BigDecimal(r.getDouble(3)).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      Row(bucket, t, rs.size.toLong, sum.toDouble,
        java.sql.Date.valueOf(Instant.ofEpochSecond(bucket).atZone(ZoneOffset.UTC).toLocalDate))
    }

  private def expectedRows(days: Seq[Int], perturb: Boolean = false): Map[String, Seq[Row]] = {
    val raw0 = days.flatMap(d => rawRows(d, versions(d)))
    val raw = if (perturb) Row.fromSeq(raw0.head.toSeq.updated(3, raw0.head.getDouble(3) + 0.01)) +: raw0.tail
              else raw0
    Map("counters_RAW" -> raw) ++ Grains.map { case (g, s) => s"rollup_$g" -> rollup(raw, s) }
  }

  private def df(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def read(path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Deliver `days` (each at its current version) and roll them up. */
  private def deliver(days: Seq[Int], trace: Option[Trace]): Unit = {
    val rows = days.flatMap(d => rawRows(d, versions(d)))
    rawBytes += textBytes(rows)
    Trace.overwrite(trace, df(rows, RawSchema), rawPath, "day")
    val back = Trace.span(trace, "tables", "read counters_RAW")(read(rawPath, RawSchema))
      .filter(col("day").isin(days.map(date): _*))
    Trace.span(trace, "rollups", "cascade") {
      Rollups.cascade(back.select("ts", "event_type", "value")).foreach { case (g, r) =>
        Trace.overwrite(trace,
          r.withColumn("day", to_date(timestamp_seconds(col("bucket_start")))),
          rollupPath(g), "day")
      }
    }
  }

  /** Rows each table retains as of the end of day `last`. */
  private def sweep(last: Int, trace: Option[Trace]): Map[String, Long] =
    Trace.span(trace, "maintenance", "retention sweep") {
      val asOf = Day0.plusDays(last + 1L).atStartOfDay(ZoneOffset.UTC).toInstant
      val swept = Maintenance.retentionSweep(
        tables.map { case (n, p, s) => n -> read(p, s) }.toMap, "day", Retention, asOf)
      swept.toSeq.map { case (n, d) => d.select(lit(n).as("t")) }.reduce(_ unionByName _)
        .groupBy("t").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  private def retainedExpected(last: Int): Map[String, Long] = {
    val perDay = Map("counters_RAW" -> RowsPerDay.toLong) ++ Grains.map { case (g, s) =>
      s"rollup_$g" -> (86400L / s * Types.size)
    }
    perDay.map { case (n, rows) =>
      val keep = Retention(n.substring(n.lastIndexOf('_') + 1))
      n -> rows * versions.keys.count(d => d > last - keep)
    }
  }

  def setup(session: SparkSession, trace: Option[Trace], first: Boolean,
            last: Boolean): Unit = {
    spark = session
    setups += 1
    wh = s"$root/rollup-$setups"
    versions.clear()
    (0 until InitialDays).foreach(versions(_) = 0)
    nextDay = InitialDays
    rawBytes = 0L
    // the initial load runs the delivery path: it is the warm-up
    deliver(0 until InitialDays, None)
  }

  def teardown(): Unit = Dirs.delete(new File(wh))

  def op(i: Int, trace: Option[Trace]): OpResult = {
    val day = nextDay
    nextDay += 1
    val r = new SplittableRandom(seed * 7919L + day)
    val corrected = math.max(0, day - 1 - r.nextInt(6))
    versions(day) = 0
    versions(corrected) += 1
    val delivered = Seq(corrected, day)
    val t0 = System.nanoTime()
    deliver(delivered, trace)
    val retained = sweep(day, trace)
    val wall = (System.nanoTime() - t0) / 1e9
    val failure = check(delivered).orElse {
      val want = retainedExpected(day)
      if (retained == want) None else Some(s"retention sweep kept $retained, expected $want")
    }
    OpResult(s"step $i (day $day, corrected $corrected)${if (trace.nonEmpty) " traced" else ""}",
      wall, 2L * RowsPerDay, failure, trace.nonEmpty)
  }

  /** Compare the warehouse's `days` (all when empty) with the generated rows. */
  private def check(days: Seq[Int], perturb: Boolean = false): Option[String] = {
    val all = if (days.isEmpty) versions.keys.toSeq.sorted else days
    val want = expectedRows(all, perturb)
    val keep = col("day").isin(all.map(date): _*)
    val got = Fingerprint.all(tables.map { case (n, p, s) => n -> read(p, s).filter(keep) })
    val exp = Fingerprint.all(tables.map { case (n, _, s) => n -> df(want(n), s) })
    tables.map(_._1).collectFirst { case n if got(n) != exp(n) =>
      s"$n days ${all.mkString(",")} hold ${got(n)}, the generated rows give ${exp(n)}"
    }
  }

  override def finalCheck(): Seq[String] = check(Nil).toSeq

  /** Perturb one generated row: the final-state check must now fail. */
  def selfTest(): Option[String] =
    check(Nil, perturb = true) match {
      case Some(_) => None
      case None => Some("a perturbed generated row passed the warehouse check")
    }

  def named(ops: Seq[OpResult]): Seq[(String, Double, String)] = {
    val walls = ops.map(_.wallS)
    val (tail, _, _) = Stats.tail(walls)
    Seq(("cycle_s_p50", Stats.p50(walls), "s"), ("cycle_s_tail", tail, "s"),
      ("ingest_rows_per_s", ops.map(_.rawRows).sum / walls.sum, "1/s"),
      ("warehouse_bytes_per_raw_byte", Dirs.bytes(new File(wh)).toDouble / rawBytes, "ratio"))
  }

  def layers(tr: Trace, traced: Seq[OpResult]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    Map(
      "rollups.s" -> tr.seconds("rollups") / n,
      "rollups.shuffle_mb" -> tr.layerCounters("rollups").shuffleWrite / Trace.MB / n,
      "maintenance.retention_s" -> tr.seconds("maintenance", "retention") / n)
  }

  override def context: Map[String, Any] = Map("days_loaded" -> versions.size)
}
