package graft

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** The one place graft builds a `SparkSession`: every main and the
  * test session take their conf, width and scratch space from here, so
  * a bench, a soak, a verify dump and a spec run the same engine.
  */
object GraftSession {

  /** A local session with `cores` task threads: `SPARK_GRAFT_CPUS`,
    * else every core of the host. Shuffle width is
    * `SPARK_GRAFT_SHUFFLE`, else `cores` (right at graded scales; 100×
    * soaks raise it so per-partition sorts stay spill-friendly — the
    * local-mode analogue of sizing partitions to executor memory).
    */
  def apply(cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors)(_.toInt)): SparkSession = {
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").fold(cores)(_.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // non-ANSI: fingerprint/rolling-hash arithmetic relies on wrap-around
      .config("spark.sql.ansi.enabled", "false")
      // typed-aggregate scale guard: ObjectHashAggregate falls back to
      // SORT-based aggregation after only 128 in-memory keys (the
      // Spark default) — for small-state aggregates like the top-k
      // heaps that is a catastrophic cliff (the 100x soak measured the
      // kNN-graph top-k stage sorting ~300M scored rows instead of
      // heap-folding them). 16k keys covers every per-task key density
      // in the suite while bounding the map even for the BIG-state
      // aggregates (HyperBall's 4KB HLL registers: 16k x 4KB = 64MB
      // per task — a 256k threshold OOM'd exactly there; states
      // beyond the threshold degrade gracefully to the sort path)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "16384")
      // µs parquet timestamps so DuckDB reads the same instants back
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val roots = new ConcurrentHashMap[SparkContext, Path]()
  private val made = new AtomicLong()

  /** A fresh directory, named after `name`, under the session's scratch
    * root. The root is created on the first call and deleted with
    * everything under it when the session stops — a DataFrame reading
    * from scratch stays valid for the session's whole life, and no
    * write rig leaves a warehouse behind.
    */
  def scratch(spark: SparkSession, name: String): Path =
    Files.createDirectory(roots.computeIfAbsent(spark.sparkContext, sc => newRoot(sc))
      .resolve(s"$name-${made.incrementAndGet()}"))

  private def newRoot(sc: SparkContext): Path = {
    val root = Files.createDirectory(Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft-scratch-${UUID.randomUUID}"))
    sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        deleteScratch(sc)
    })
    root
  }

  /** Delete `sc`'s scratch root and everything under it; a no-op when
    * it has none. Runs when the session stops.
    */
  def deleteScratch(sc: SparkContext): Unit =
    Option(roots.remove(sc))
      .foreach(root => scala.reflect.io.Directory(root.toFile).deleteRecursively())

  // backstop for a JVM that exits without stopping its session
  sys.addShutdownHook(roots.keySet.forEach(sc => deleteScratch(sc)))
}
