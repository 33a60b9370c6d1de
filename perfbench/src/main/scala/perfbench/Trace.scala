package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the benchmark's own code. `req` groups the
  * spans of one workload pass; Spark jobs are attributed to the
  * innermost span through the job group set while it is open. */
final case class Span(id: Long, parent: Long, name: String, req: Long, startNs: Long,
    var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-metric totals for one job group (or for the whole run). */
final class TaskTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var outputBytes = 0L; var scanRunMs = 0L
  def add(o: TaskTotals): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; outputBytes += o.outputBytes
    scanRunMs += o.scanRunMs
  }
}

/** Streaming progress of one micro-batch, as the listener reports it. */
final case class BatchProgress(batchId: Long, startBlock: Long, endBlock: Long, rows: Long,
    commitMs: Long, durations: Map[String, Long])

/** Spans and listener readings for one run. With `traced` off only the
  * streaming progress listener (the tail's clock) is installed; spans
  * are still kept — they cost a few objects per call — but no Spark
  * listener work is done. */
final class Trace(val traced: Boolean) {
  private val nextId = new AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private var spark: SparkSession = _

  // job group -> totals; stage -> group; scan stages
  private val groups = new ConcurrentHashMap[String, TaskTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()
  val scanRows = new AtomicLong
  // per named output root: write-command wall time and files written
  val writeNs = new ConcurrentHashMap[String, AtomicLong]()
  val filesWritten = new ConcurrentHashMap[String, AtomicLong]()
  val planningNs = new AtomicLong
  val executions = new AtomicLong
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[BatchProgress]()
  val streamGroups = ConcurrentHashMap.newKeySet[String]()

  def span[T](name: String, req: Long = 0L)(body: => T): T = {
    val s = Span(nextId.getAndIncrement(), stack.headOption.fold(0L)(_.id), name,
      if (req != 0L) req else stack.headOption.fold(0L)(_.req), System.nanoTime())
    spans.synchronized(spans += s)
    stack = s :: stack
    if (spark != null) spark.sparkContext.setJobGroup(s.id.toString, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (spark != null) stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(p.id.toString, p.name, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Totals over the spans named, including their descendants. */
  def totalsUnder(root: Span): TaskTotals = {
    val ids = mutable.Set(root.id)
    spans.synchronized(spans.sortBy(_.id).foreach(s => if (ids(s.parent)) ids += s.id))
    val t = new TaskTotals
    ids.foreach(i => Option(groups.get(i.toString)).foreach(t.add))
    t
  }

  /** Totals of the jobs streaming queries ran. */
  def streamTotals: TaskTotals = {
    val t = new TaskTotals
    streamGroups.asScala.foreach(g => Option(groups.get(g)).foreach(t.add))
    t
  }

  def totals: TaskTotals = {
    val t = new TaskTotals
    groups.values.asScala.foreach(t.add)
    t
  }

  /** `writeRoots` names the output directories (name -> path) whose
    * write time and files the traced run attributes. */
  def install(session: SparkSession, writeRoots: Map[String, String] = Map.empty): Unit = {
    spark = session
    session.streams.addListener(new StreamingQueryListener {
      // micro-batch jobs run under the stream's own job group (its run id)
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        streamGroups.add(e.runId.toString)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val src = p.sources.headOption
        def block(s: String): Long = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(-1L)
        val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
        val commit = java.time.Instant.parse(p.timestamp).toEpochMilli +
          durations.getOrElse("triggerExecution", 0L)
        if (src.exists(s => p.numInputRows > 0 || block(s.startOffset) != block(s.endOffset)))
          batches.add(BatchProgress(p.batchId, block(src.get.startOffset),
            block(src.get.endOffset), p.numInputRows, commit, durations))
      }
    })
    if (!traced) return
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("none")
        val t = groups.computeIfAbsent(g, _ => new TaskTotals)
        t.synchronized { t.jobs += 1; t.stages += e.stageInfos.size }
        e.stageInfos.foreach { si =>
          stageGroup.put(si.stageId, g)
          if (si.rddInfos.exists(_.scope.exists(_.name.startsWith("BatchScan"))))
            scanStages.add(si.stageId)
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m == null) return
        val t = groups.computeIfAbsent(stageGroup.getOrDefault(e.stageId, "none"), _ => new TaskTotals)
        t.synchronized {
          t.tasks += 1; t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
          t.outputBytes += m.outputMetrics.bytesWritten
          if (scanStages.contains(e.stageId)) t.scanRunMs += m.executorRunTime
        }
      }
    })
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        executions.incrementAndGet()
        planningNs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L)
        qe.executedPlan.foreach {
          case s: BatchScanExec if s.scan.getClass.getName.startsWith("graft.sources") =>
            s.metrics.get("numOutputRows").foreach(m => scanRows.addAndGet(m.value))
          case _ =>
        }
        qe.executedPlan.foreach {
          case w: DataWritingCommandExec =>
            w.cmd match {
              case i: InsertIntoHadoopFsRelationCommand =>
                val path = i.outputPath.toString
                writeRoots.find { case (_, dir) => path.contains(dir) }.foreach { case (root, _) =>
                  writeNs.computeIfAbsent(root, _ => new AtomicLong).addAndGet(durationNs)
                  w.cmd.metrics.get("numFiles").foreach(m =>
                    filesWritten.computeIfAbsent(root, _ => new AtomicLong).addAndGet(m.value))
                }
              case _ =>
            }
          case _ =>
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
  }

  def writeS(root: String): Double = Option(writeNs.get(root)).fold(0.0)(_.get() / 1e9)
  def files(root: String): Long = Option(filesWritten.get(root)).fold(0L)(_.get())

  def writeJsonl(path: String): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      val t = Option(groups.get(s.id.toString))
      s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"jobs":${t.fold(0L)(_.jobs)},""" +
        s""""tasks":${t.fold(0L)(_.tasks)},"task_ms":${t.fold(0L)(_.runMs)}}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Highest heap occupancy that survives a full collection, sampled at
  * the workload's phase boundaries (outside every timed span) in traced
  * runs. A
  * retained-set reading — cached blocks, broadcast state, driver-side
  * buffers — without the allocation-rate noise of raw peak usage. */
final class HeapMonitor(enabled: Boolean) {
  private var peak = 0L
  def sample(): Unit = if (enabled) {
    // twice, so Spark's context cleaner can drop what the first
    // collection found unreachable (broadcasts, shuffle state)
    System.gc(); Thread.sleep(100); System.gc()
    peak = math.max(peak, java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
