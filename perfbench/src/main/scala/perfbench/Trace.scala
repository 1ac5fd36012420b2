package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark task metrics summed per label. */
final class LabelStats {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L
  var shuffleReadRecords = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var shuffleMapStages = 0L
  /** Task durations (ms) per stage, for skew. */
  val taskMsByStage = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def cpuS: Double = cpuNs / 1e9

  /** max / median task duration over the stage with the longest task. */
  def taskSkew: Double = {
    val worst = taskMsByStage.values.filter(_.nonEmpty).maxByOption(_.max)
    worst.map { ds =>
      val med = Stats.median(ds.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else ds.max / med
    }.getOrElse(0.0)
  }
}

/** Benchmark-local trace recorder. The benchmark tags each call it makes
  * into a layer with a label (a thread-local Spark property, inherited by
  * threads the layer creates); this listener sums the task metrics of every
  * job under its label. Spans record the benchmark's own calls. Nothing here
  * reaches inside the program. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private val byLabel = mutable.Map.empty[String, LabelStats]
  private val stageLabel = mutable.Map.empty[Int, String]

  private def stats(label: String): LabelStats = byLabel.getOrElseUpdate(label, new LabelStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(LabelKey))).getOrElse(Unlabeled)
    e.stageInfos.foreach(s => stageLabel(s.stageId) = label)
    stats(label).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val label = stageLabel.getOrElse(e.stageInfo.stageId, Unlabeled)
    // a stage that wrote shuffle output is a shuffle-map stage (an exchange)
    val m = e.stageInfo.taskMetrics
    if (m != null && m.shuffleWriteMetrics.recordsWritten > 0) stats(label).shuffleMapStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stageLabel.getOrElse(e.stageId, Unlabeled))
      s.tasks += 1
      s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleReadRecords += m.shuffleReadMetrics.recordsRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  /** Stats of one label; a fresh zero record when the label never ran. */
  def label(l: String): LabelStats = synchronized(byLabel.getOrElse(l, new LabelStats))

  /** Sum over every label whose name starts with `prefix`. */
  def prefixSum(prefix: String): LabelStats = synchronized {
    val out = new LabelStats
    byLabel.filter(_._1.startsWith(prefix)).values.foreach { s =>
      out.jobs += s.jobs; out.tasks += s.tasks; out.cpuNs += s.cpuNs; out.runMs += s.runMs
      out.gcMs += s.gcMs; out.shuffleWriteBytes += s.shuffleWriteBytes
      out.shuffleWriteRecords += s.shuffleWriteRecords; out.shuffleReadBytes += s.shuffleReadBytes
      out.shuffleReadRecords += s.shuffleReadRecords; out.spillBytes += s.spillBytes
      out.peakExecMem = math.max(out.peakExecMem, s.peakExecMem)
      out.inputBytes += s.inputBytes; out.inputRecords += s.inputRecords
      out.outputBytes += s.outputBytes; out.shuffleMapStages += s.shuffleMapStages
      out.taskMsByStage ++= s.taskMsByStage
    }
    out
  }

  // ---- spans -------------------------------------------------------------
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  private val current = new ThreadLocal[Option[Span]] { override def initialValue() = None }

  /** Run `f` as a span named `name` under the calling thread's open span
    * (if any), with Spark jobs it starts tagged `label`. */
  def span[T](name: String, label: String, requestId: Long = 0L)(f: => T): T = {
    val parent = current.get()
    val s = Span(nextId.getAndIncrement(), parent.map(_.id).getOrElse(0L),
      if (requestId != 0L) requestId else parent.map(_.requestId).getOrElse(0L),
      name, System.nanoTime())
    val prevLabel = sc.getLocalProperty(LabelKey)
    sc.setLocalProperty(LabelKey, label)
    current.set(Some(s))
    try f
    finally {
      s.endNs = System.nanoTime()
      current.set(parent)
      sc.setLocalProperty(LabelKey, prevLabel)
      synchronized(spans += s)
    }
  }

  /** Written once at the end of the run, into `dir`: the spans as JSON
    * lines (`<name>.spans.jsonl`) and the task metrics per label
    * (`<name>.labels.jsonl`). */
  def write(dir: java.nio.file.Path, name: String): Unit = {
    val spanLines = synchronized(spans.toList).sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"request":${s.requestId},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    val labelLines = synchronized(byLabel.toList).sortBy(_._1).map { case (l, s) =>
      s"""{"label":"$l","jobs":${s.jobs},"tasks":${s.tasks},"cpu_ns":${s.cpuNs},""" +
        s""""run_ms":${s.runMs},"gc_ms":${s.gcMs},"shuffle_write_bytes":${s.shuffleWriteBytes},""" +
        s""""shuffle_write_records":${s.shuffleWriteRecords},"shuffle_read_bytes":${s.shuffleReadBytes},""" +
        s""""shuffle_read_records":${s.shuffleReadRecords},"spill_bytes":${s.spillBytes},""" +
        s""""peak_execution_memory":${s.peakExecMem},"input_bytes":${s.inputBytes},""" +
        s""""input_records":${s.inputRecords},"output_bytes":${s.outputBytes},""" +
        s""""shuffle_map_stages":${s.shuffleMapStages}}"""
    }
    java.nio.file.Files.createDirectories(dir)
    def put(file: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(file), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    put(s"$name.spans.jsonl", spanLines)
    put(s"$name.labels.jsonl", labelLines)
  }

  def spanCount: Int = synchronized(spans.size)
}

object Trace {
  val LabelKey = "perfbench.label"
  val Unlabeled = "unlabeled"

  final case class Span(id: Long, parent: Long, requestId: Long, name: String, startNs: Long) {
    var endNs: Long = 0L
  }
}
