package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.etl.{ChillPipeline, ConfigFile, FieldRule, LibraryRun, Lookup}
import graft.operators.{Reconcile, Report}

/** `library_cycle`, the first half of `chill_cycle`: the reference's
  * whole library test cycle, once per new delivery, each into a fresh
  * warehouse. A delivery is a set of
  * `F_yyyymmdd.csv` files (junk header, `#REGION` tag line, `JUNK`
  * ignore-lines, trailer) parsed by the config in
  * `perfbench/conf/chill_config.json`; the cycle is
  * `LibraryRun.runCompiled`. Each cycle's junit report must have no
  * failed case, and each routed table must hold exactly the generated
  * rows of its group.
  */
final class LibraryCycle(root: String, home: String, seed: Long) extends Workload {
  val name = "library_cycle"

  private val FilesPerDelivery = 6
  private val RowsPerFile = 2000
  private val KeyCols = Seq("day", "idn")
  private val Regions = Seq("EAST", "WEST", "NORTH", "SOUTH")

  private val work = s"$root/chill"
  private val rawDir = s"$work/raw"
  private val whDir = s"$work/wh"

  private var spark: SparkSession = _
  private var compiled: ConfigFile.Compiled = _

  private var rawBytes = 0L
  private var whBytes = 0L
  /** junit (suite -> (tests, failures)) per delivery, to compare the
    * traced and untraced cycles of one delivery
    */
  private val junitByDelivery = mutable.Map[Int, Map[String, (Long, Long)]]()
  private var lastExpected: Map[String, Seq[Row]] = Map.empty
  private var parseRows = 0L

  /** One generated raw row: id, counter group, counter value. */
  private final case class RawRow(id: Long, grp: String, cnt: Long)
  private final case class RawFile(day: LocalDate, region: String, rows: Seq[RawRow]) {
    def fileName: String = f"F_${day.getYear}%04d${day.getMonthValue}%02d${day.getDayOfMonth}%02d.csv"
    def dayInt: Int = fileName.substring(2, 10).toInt
    def text: String = {
      val sb = new StringBuilder(s"HDR|PM export|$fileName\n#REGION=$region\n")
      rows.zipWithIndex.foreach { case (r, j) =>
        sb.append(s"${r.id}|${r.grp}|${r.cnt}\n")
        if (j % 97 == 50) sb.append("JUNK\n")
      }
      sb.append(s"TRAILER|${rows.size}\n").toString
    }
  }

  private def delivery(k: Int): Seq[RawFile] = {
    val r = new SplittableRandom(seed * 1000003L + k)
    val first = LocalDate.of(2024, 1, 1).plusDays(r.nextInt(300).toLong)
    (0 until FilesPerDelivery).map { f =>
      RawFile(first.plusDays(f.toLong), Regions(r.nextInt(Regions.size)),
        (0 until RowsPerFile).map { j =>
          val g = r.nextInt(10)
          RawRow(1L + 3L * j + r.nextInt(3), if (g < 5) "A" else if (g < 9) "B" else "C",
            r.nextInt(100000).toLong)
        })
    }
  }

  private val TableSchema = StructType.fromDDL(
    "day INT, idn BIGINT, grp_name STRING, cnt10 BIGINT, lib STRING, region STRING")

  /** The rows each routed table must hold after loading `files`. */
  private def expected(files: Seq[RawFile]): Map[String, Seq[Row]] = {
    def rows(grp: String, name: String, kpi: Boolean) = for {
      f <- files; r <- f.rows if r.grp == grp
    } yield {
      val cnt10 = r.cnt * 10 + r.id
      val base = Seq(f.dayInt, r.id, name, cnt10, "PM_LIB", f.region)
      Row.fromSeq(if (kpi) base :+ (cnt10.toDouble / r.id) else base)
    }
    Map("TBL_A_5M" -> rows("A", "Alpha", kpi = true), "TBL_B_5M" -> rows("B", "UNKNOWN", kpi = false))
  }

  private def schemaOf(table: String): StructType =
    if (table == "TBL_A_5M") TableSchema.add("cnt_per_id", "double") else TableSchema

  def setup(session: SparkSession, trace: Option[Trace], first: Boolean,
            last: Boolean): Unit = {
    spark = session
    Dirs.delete(new File(work))
    import session.implicits._
    Seq(("A", "Alpha"), ("C", "Gamma")).toDF("g_code", "g_name").createOrReplaceTempView("grp_dim")
    compiled = Trace.span(trace, "etl", "compile") {
      val cfg = ConfigFile.load(spark, s"$home/conf/chill_config.json")
      ConfigFile.compile(spark, cfg.copy(input_path = s"$rawDir/*.csv"), whDir)
    }
    if (last) op(-1, None).failure.foreach(f =>
      throw new IllegalStateException(s"warm-up cycle failed: $f"))
    rawBytes = 0L; whBytes = 0L; junitByDelivery.clear()
  }

  def teardown(): Unit = Dirs.delete(new File(work))

  def op(i: Int, trace: Option[Trace]): OpResult = {
    val files = delivery(i)
    Dirs.delete(new File(work))
    new File(rawDir).mkdirs()
    val bytes = files.map { f =>
      val b = f.text.getBytes(UTF_8)
      Files.write(Paths.get(rawDir, f.fileName), b)
      b.length.toLong
    }.sum
    val t0 = System.nanoTime()
    trace match {
      case None => LibraryRun.runCompiled(spark, compiled, KeyCols)
      case Some(tr) => tracedCycle(tr)
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val exp = expected(files)
    lastExpected = exp
    val failure = checkJunit(i, trace.nonEmpty).orElse(checkTables(exp))
    if (i >= 0) { rawBytes += bytes; whBytes += Dirs.bytes(new File(whDir)) }
    OpResult(s"cycle $i${if (trace.nonEmpty) " traced" else ""}", wall,
      files.map(_.rows.size.toLong).sum, failure, trace.nonEmpty)
  }

  private def junitTotals(): Map[String, (Long, Long)] = {
    val xml = Files.readString(Paths.get(whDir, compiled.reportFileName))
    """<testsuite name="([^"]*)" tests="(\d+)" failures="(\d+)">""".r
      .findAllMatchIn(xml).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }

  private def checkJunit(i: Int, traced: Boolean): Option[String] = {
    val totals = junitTotals()
    val failures = totals.values.map(_._2).sum
    if (totals.isEmpty) Some("junit report has no suites")
    else if (failures > 0) Some(s"junit report has $failures failed cases: $totals")
    else junitByDelivery.put(i, totals) match {
      case Some(other) if other != totals =>
        Some(s"traced and untraced cycles disagree on junit cases: $other vs $totals")
      case _ => None
    }
  }

  private def checkTables(exp: Map[String, Seq[Row]]): Option[String] = {
    val tables = exp.keys.toSeq.sorted
    val got = Fingerprint.all(tables.map { t =>
      t -> spark.read.parquet(s"$whDir/$t").select(schemaOf(t).fieldNames.toIndexedSeq.map(col): _*)
    })
    val want = Fingerprint.all(tables.map { t =>
      t -> spark.createDataFrame(java.util.Arrays.asList(exp(t): _*), schemaOf(t))
    })
    tables.collectFirst { case t if got(t) != want(t) =>
      s"$t holds ${got(t)}, the generated rows give ${want(t)}"
    }
  }

  /** Perturb one expected row of the last delivery: the table check
    * must now fail.
    */
  def selfTest(): Option[String] = {
    val (table, rows) = lastExpected.head
    val bad = Row.fromSeq(rows.head.toSeq.updated(3, rows.head.getLong(3) + 1))
    checkTables(Map(table -> (bad +: rows.tail))) match {
      case Some(_) => None
      case None => Some(s"a perturbed row of $table passed the table check")
    }
  }

  /** `LibraryRun.run` + `runCompiled`'s report write, call for call,
    * with a span around each layer. So that each layer's time lands on
    * the layer that defines the work, the persisted parse is counted
    * inside `etl/parse` and the merged report is cached and counted
    * inside `reconcile/suites`; those two extra jobs are part of
    * `trace.overhead_frac`.
    */
  private def tracedCycle(tr: Trace): Unit = {
    val cfg = compiled.lib
    val transformed = tr.span("etl", "parse") {
      val raw = ChillPipeline.rawCsv(spark, cfg.rawPath, cfg.delimiter, cfg.rawColumns,
        cfg.skipHeader, cfg.skipFooter, cfg.ignoreLines)
      val tagged = ChillPipeline.withTagColumns(spark, cfg.rawPath, raw, cfg.tagRules)
      val t = FieldRule.applyAll(tagged, cfg.rules).persist(StorageLevel.MEMORY_AND_DISK)
      parseRows += t.count()
      t
    }
    try {
      val routed = tr.span("etl", "route")(ChillPipeline.route(transformed, cfg.routes))
      routed.foreach { case (table, df) =>
        Trace.overwrite(Some(tr), df, s"${cfg.warehouseDir}/$table", cfg.partitionCol)
      }
      val loaded = routed.keys.map { table =>
        table -> tr.span("tables", s"read $table")(spark.read.parquet(s"${cfg.warehouseDir}/$table"))
      }.toMap
      val report = tr.span("reconcile", "suites") {
        val r = Report.merge(suites(cfg, routed, loaded): _*).persist(StorageLevel.MEMORY_AND_DISK)
        r.count()
        r
      }
      try tr.span("report", "junit") {
        val xml = Report.toJunitXml(report)
        val path = new org.apache.hadoop.fs.Path(cfg.warehouseDir, compiled.reportFileName)
        val out = path.getFileSystem(spark.sparkContext.hadoopConfiguration).create(path, true)
        try out.write(xml.getBytes(UTF_8)) finally out.close()
      } finally report.unpersist()
    } finally transformed.unpersist()
  }

  /** The compare_data suites of `LibraryRun.run`, built the same way. */
  private def suites(cfg: graft.etl.LibraryConfig, routed: Map[String, DataFrame],
                     loaded: Map[String, DataFrame]): Seq[DataFrame] = {
    val lookups = cfg.rules.collect { case l: Lookup => l }
    routed.keys.toSeq.sorted.flatMap { table =>
      val spec = cfg.routes.find(_.table == table).get
      val counters = spec.columns.filterNot(c => KeyCols.contains(c) || c == cfg.partitionCol)
      val expected = routed(table).withColumn("_key", concat_ws("", KeyCols.map(col): _*))
      val actual = loaded(table).withColumn("_key", concat_ws("", KeyCols.map(col): _*))
      val missing = Reconcile.missingKeys(expected, actual, "_key")
      val diffs =
        if (counters.isEmpty) None
        else Some(Reconcile.counterDiffs(expected, actual, "_key", counters))
      val (missingInData, extraInData) = Reconcile.missingColumns(
        spec.columns ++ spec.postRules.map(_.name), loaded(table))
      val refSuites = lookups
        .filter(_.keys.forall { case (f, _) => loaded(table).columns.contains(f) })
        .map { l =>
          val factKey = l.keys.map(_._1)
          val dimKey = l.keys.map(_._2)
          val (fact, fk) =
            if (factKey.sizeIs == 1) (loaded(table), factKey.head)
            else (loaded(table).withColumn("_fk", concat_ws("", factKey.map(col): _*)), "_fk")
          val (dim, dk) =
            if (dimKey.sizeIs == 1) (l.view, dimKey.head)
            else (l.view.select(concat_ws("", dimKey.map(col): _*).as("_dk")), "_dk")
          Report.referentialSuite(Reconcile.referentialSummary(fact, dim, fk, dk), table, l.name)
        }
      Seq(
        Report.countSuite(Reconcile.countCompare(expected, actual, "_key"), "_key"),
        Report.missingSuite(missing, "_key"),
        Report.summaryRow("missing_records", table, missing),
        Report.missingColumnsSuite(spark, table, missingInData, extraInData)) ++
        diffs.toSeq.flatMap(d => Seq(
          Report.counterDiffSuite(d, "_key"),
          Report.summaryRow("value_diffs", table, d))) ++
        refSuites
    }
  }

  def named(ops: Seq[OpResult]): Seq[(String, Double, String)] = {
    val walls = ops.map(_.wallS)
    val (tail, _, _) = Stats.tail(walls)
    Seq(("cycle_s_p50", Stats.p50(walls), "s"), ("cycle_s_tail", tail, "s"),
      ("ingest_rows_per_s", ops.map(_.rawRows).sum / walls.sum, "1/s"),
      ("warehouse_bytes_per_raw_byte", whBytes.toDouble / rawBytes, "ratio"))
  }

  def layers(tr: Trace, traced: Seq[OpResult]): Map[String, Double] = {
    val n = math.max(1, traced.size).toDouble
    Map(
      "etl.compile_s" -> tr.seconds("etl", "compile") / math.max(1, tr.count("etl", "compile")),
      "etl.parse_s" -> tr.seconds("etl", "parse") / n,
      "etl.parse_rows" -> parseRows / n,
      "reconcile.s" -> tr.seconds("reconcile") / n,
      "report.s" -> tr.seconds("report") / n)
  }
}
