package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Generates the ten tables `graft.Tables` reads (the TPC-H-ish star
  * schema, `events`, `documents`, `embeddings`) at about the 0.001
  * scale factor, one parquet file per table, from a fixed seed.
  *
  * Column types follow the `Tables.validate` contract; date-like and
  * event timestamps are written as TIMESTAMP_NTZ (INT64 micros), the
  * encoding DuckDB and `Tables.normalizeEventTs` both read. Value
  * ranges and vocabularies mirror the generated test data the query
  * suite was written against, so every query has work to do: planted
  * near-duplicate documents for the dedup family, labelled embedding
  * clusters for ANN, a month of events for the window family.
  */
object SuiteData {

  /** The seed of the suite's tables. The reference fingerprints in
    * `perfbench/ref/suite_reference.tsv` are computed over the tables
    * this seed yields, so it is fixed; a run's `--seed` only orders
    * the queries.
    */
  val Seed = 42L

  private val words = Array("the", "a", "fast", "slow", "big", "small",
    "key", "value", "row", "column", "table", "scan", "merge", "sort",
    "join", "group", "agg", "filter", "window", "hash", "order", "line",
    "part", "customer", "data", "query", "spark", "stream", "batch", "vector")

  def write(spark: SparkSession, dir: String): Unit = {
    def rng(table: Int) = new SplittableRandom(Seed * 1000003L + table)
    def money(r: SplittableRandom, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100.0) / 100.0
    def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
    val day0 = LocalDate.of(1995, 1, 1).atStartOfDay()

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    Writer.table(spark, dir, "region",
      StructType.fromDDL("r_regionkey INT, r_name STRING"),
      regions.indices.map(i => Row(i, regions(i))))

    Writer.table(spark, dir, "nation",
      StructType.fromDDL("n_nationkey INT, n_name STRING, n_regionkey INT"),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = 150
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rc = rng(3)
    Writer.table(spark, dir, "customer",
      StructType.fromDDL("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
        "c_acctbal DOUBLE, c_mktsegment STRING"),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), pick(rc, segments))))

    val nSupp = 10
    val rs = rng(4)
    Writer.table(spark, dir, "supplier",
      StructType.fromDDL("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, 500.0, 6100.0))))

    val nPart = 200
    val adjs = Seq("small", "large", "blue", "red", "cold", "hot", "old", "new")
    val nouns = Seq("widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val rp = rng(5)
    Writer.table(spark, dir, "part",
      StructType.fromDDL("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
        "p_type STRING, p_size INT, p_retailprice DOUBLE"),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(rp, adjs)} ${pick(rp, nouns)}",
        s"Brand#${1 + rp.nextInt(25)}", pick(rp, types), 1 + rp.nextInt(50),
        math.round(9000.0 + i % 200) / 10.0)))

    val nOrders = 1500
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(6)
    val orderDays = Array.fill(nOrders)(ro.nextInt(2404)) // 1995-01-01 .. 2001-08-01
    Writer.table(spark, dir, "orders",
      StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
      (0 until nOrders).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        pick(ro, Seq("F", "O", "P")), money(ro, 1000.0, 500000.0),
        day0.plusDays(orderDays(i).toLong), pick(ro, priorities))))

    val rl = rng(7)
    val lines = Iterator.from(0).flatMap { o =>
      val n = 1 + rl.nextInt(7)
      (1 to n).map(ln => (o % nOrders, ln))
    }.take(6000).toIndexedSeq
    Writer.table(spark, dir, "lineitem",
      StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
        "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
        "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
      lines.map { case (o, ln) =>
        val qty = (1 + rl.nextInt(50)).toDouble
        Row(o.toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong, ln, qty,
          money(rl, 900.0 * qty, 4000.0 * qty), rl.nextInt(11) / 100.0,
          rl.nextInt(9) / 100.0, pick(rl, Seq("A", "N", "R")), pick(rl, Seq("F", "O")),
          day0.plusDays((orderDays(o) + 1 + rl.nextInt(121)).toLong))
      })

    val re = rng(8)
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    val monthMicros = 30L * 86400L * 1000000L
    val evTimes = Array.fill(1000)(re.nextLong(monthMicros)).sorted
    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    Writer.table(spark, dir, "events",
      StructType.fromDDL("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
        "event_type STRING, value DOUBLE, props STRING"),
      evTimes.indices.map(i => Row(i.toLong, ev0.plusNanos(evTimes(i) * 1000L),
        re.nextInt(15).toLong, pick(re, evTypes), money(re, 0.01, 330.0),
        s"""{"k": ${re.nextInt(100)}}""")))

    // one doc in ten is a near-copy (one or two words changed) of an
    // earlier doc, so the dedup family finds pairs above its 0.8
    // Jaccard thresholds
    val rd = rng(9)
    val langs = Seq("en", "en", "de", "es", "fr", "zh")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    (0 until 500).foreach { i =>
      val text =
        if (i > 20 && rd.nextInt(10) == 0) {
          val src = texts(rd.nextInt(i)).split(' ')
          (0 until 1 + rd.nextInt(2)).foreach(_ => src(rd.nextInt(src.length)) = "dup")
          src.mkString(" ")
        } else Seq.fill(8 + rd.nextInt(90))(pick(rd, words.toSeq)).mkString(" ")
      texts += text
    }
    Writer.table(spark, dir, "documents",
      StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"),
      texts.indices.map(i => Row(i.toLong, texts(i), pick(rd, langs), s"src${i % 20}",
        texts(i).length.toLong)))

    val rv = rng(10)
    val dim = 64
    val centers = Array.fill(10, dim)(rv.nextDouble() * 2 - 1)
    Writer.table(spark, dir, "embeddings",
      StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"),
      (0 until 500).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(dim)(d => centers(label)(d) + (rv.nextDouble() - 0.5))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}

/** Writes driver-side rows as one parquet file named `<table>.parquet`
  * (a plain file, not a directory, so DuckDB's `read_parquet` reads it
  * the same way Spark does).
  */
object Writer {
  def table(spark: SparkSession, dir: String, name: String, schema: StructType,
            rows: Seq[Row]): Unit = {
    val tmp = s"$dir/_$name"
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no parquet part written for $name"))
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"))
    Dirs.delete(new java.io.File(tmp))
  }
}
