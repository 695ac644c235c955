package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work done inside one span, summed over its tasks and stages. */
final class Counters {
  var jobs, stages, tasks, emptyTasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, deserMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    emptyTasks += o.emptyTasks; taskFailures += o.taskFailures
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; deserMs += o.deserMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; output += o.output
  }

  def json: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "empty_tasks" -> emptyTasks,
    "task_failures" -> taskFailures, "task_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9,
    "gc_s" -> gcMs / 1e3, "deser_s" -> deserMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / Trace.MB, "shuffle_read_mb" -> shuffleRead / Trace.MB,
    "spill_mb" -> spill / Trace.MB, "input_mb" -> input / Trace.MB, "output_mb" -> output / Trace.MB)
}

/** One timed call into a layer. `parent` is the enclosing span (-1 at
  * the top); `op` numbers the operation (cycle, step or query) the
  * span belongs to.
  */
final class Span(val id: Int, val parent: Int, val op: Int, val layer: String,
                 val name: String, val startNs: Long) {
  var endNs = 0L
  val spark = new Counters
  def seconds: Double = (endNs - startNs) / 1e9
}

/** The traced run's recorder: spans kept in memory around the
  * benchmark's calls into each layer, and one SparkListener that files
  * every task under the span whose thread submitted its job (through
  * the `perfbench.span` local property, which Spark copies into each
  * job's properties). Spans are written out once, at the end of the
  * run, by [[json]].
  */
final class Trace {
  private var sc: SparkContext = null
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  private var op = -1
  /** tasks of jobs submitted outside any span */
  private val unattributed = new Counters

  private val stageSpan = mutable.Map[Int, Counters]()
  private val jobStart = mutable.Map[Int, Long]()
  /** (start ms, end ms) of every finished job, for gap accounting */
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val blockSizes = mutable.Map[String, Long]()
  private var storageNow = 0L
  var storagePeak = 0L

  /** Files discovered by Spark's file-index listings so far. */
  def filesListed: Long =
    org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount

  /** Use `context` for the spans that follow (a run re-creates its
    * session once per set-up).
    */
  def bind(context: SparkContext): Unit = sc = context

  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private var listedAtAttach, compilesAtAttach = 0L
  /** files discovered by listings during traced operations */
  var filesListedInOps = 0L
  /** whole-stage and expression classes compiled during traced operations */
  var codegenInOps = 0L

  /** Listen to Spark for the duration of one traced operation. */
  def attach(i: Int): Unit = {
    op = i
    listedAtAttach = filesListed
    compilesAtAttach = codegenCompiles
    sc.addSparkListener(listener)
  }

  def detach(): Unit = {
    org.apache.spark.GraftListenerGlue.drain(sc)
    sc.removeSparkListener(listener)
    filesListedInOps += filesListed - listedAtAttach
    codegenInOps += codegenCompiles - compilesAtAttach
    op = -1
  }

  var filesWritten, bytesWritten, partitionsWritten = 0L

  /** A `maintenance` span around one write into the table at `path`,
    * counting the data files, bytes and partition directories it adds.
    * The directory walks fall outside the span.
    */
  def write(path: String)(body: => Unit): Unit = {
    val before = Dirs.dataFiles(new java.io.File(path))
    span("maintenance", s"write ${new java.io.File(path).getName}")(body)
    val added = Dirs.dataFiles(new java.io.File(path)) -- before.keySet
    filesWritten += added.size
    bytesWritten += added.values.sum
    partitionsWritten += added.keys.map(k => Option(new java.io.File(k).getParent)).toSet.size
  }

  def span[T](layer: String, name: String)(body: => T): T = {
    val s = new Span(spans.size, open.headOption.map(_.id).getOrElse(-1), op, layer, name,
      System.nanoTime())
    synchronized(spans += s)
    open = s :: open
    if (sc != null) sc.setLocalProperty(Trace.SpanKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      if (sc != null)
        sc.setLocalProperty(Trace.SpanKey, open.headOption.map(_.id.toString).orNull)
    }
  }

  private def countersOf(props: java.util.Properties): Counters =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(id => spans(id.toInt).spark).getOrElse(unattributed)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val c = countersOf(e.properties)
      c.jobs += 1
      e.stageIds.foreach(stageSpan(_) = c)
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        stageSpan.getOrElse(e.stageInfo.stageId, unattributed).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val c = stageSpan.getOrElse(e.stageId, unattributed)
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime; c.deserMs += m.executorDeserializeTime
        val sw = m.shuffleWriteMetrics; val sr = m.shuffleReadMetrics
        c.shuffleWrite += sw.bytesWritten
        c.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        val read = m.inputMetrics.recordsRead + sr.recordsRead
        val written = m.outputMetrics.recordsWritten + sw.recordsWritten
        if (read == 0 && written == 0) c.emptyTasks += 1
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val prev = (if (size == 0L) blockSizes.remove(key) else blockSizes.put(key, size))
          .getOrElse(0L)
        storageNow += size - prev
        storagePeak = math.max(storagePeak, storageNow)
      }
    }
  }

  /** Milliseconds of [from, to] covered by at least one finished job. */
  def jobCoverMs(from: Long, to: Long): Long = synchronized {
    val clipped = jobIntervals.iterator
      .map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    covered
  }

  /** Inclusive seconds of the spans of `layer` whose name starts with
    * `prefix`, counting spans nested in a same-layer span once.
    */
  def seconds(layer: String, prefix: String = ""): Double =
    spans.iterator.filter(s => s.layer == layer && s.name.startsWith(prefix) &&
      !ancestorIn(s, layer)).map(_.seconds).sum

  /** Number of spans of `layer` named `name`. */
  def count(layer: String, name: String): Int =
    spans.count(s => s.layer == layer && s.name == name)

  private def ancestorIn(s: Span, layer: String): Boolean =
    s.parent >= 0 && (spans(s.parent).layer == layer || ancestorIn(spans(s.parent), layer))

  /** Counters of the spans of `layer` and everything nested in them. */
  def layerCounters(layer: String): Counters = {
    val c = new Counters
    spans.foreach(s => if (s.layer == layer || ancestorIn(s, layer)) c.add(s.spark))
    c
  }

  def total: Counters = {
    val c = new Counters
    spans.foreach(s => c.add(s.spark))
    c.add(unattributed)
    c
  }

  /** Self time: a span's wall minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def json: String = spans.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
      "name" -> s.name, "start_s" -> (s.startNs - spans.head.startNs) / 1e9,
      "dur_s" -> s.seconds, "self_s" -> selfSeconds(s), "spark" -> Json.Raw(s.spark.json))
  }.mkString("[\n", ",\n", "\n]")
}

object Trace {
  val SpanKey = "perfbench.span"
  val MB = 1024.0 * 1024.0

  /** `body`, inside a span when the operation is traced. */
  def span[T](trace: Option[Trace], layer: String, name: String)(body: => T): T =
    trace match {
      case Some(t) => t.span(layer, name)(body)
      case None => body
    }

  /** `Maintenance.overwritePartitions`, counted when traced. */
  def overwrite(trace: Option[Trace], df: org.apache.spark.sql.DataFrame, path: String,
                partitionCol: String): Unit = {
    def run(): Unit = graft.operators.Maintenance.overwritePartitions(df, path, partitionCol)
    trace match {
      case Some(t) => t.write(path)(run())
      case None => run()
    }
  }
}
