package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's recorder. Spans (name, start, end, parent, one run
  * id) are kept in memory and written out once at the end: one span per
  * benchmark call into an entry point, with the Spark jobs, stages and
  * tasks it ran as children (from a `SparkListener`) and the micro-batches
  * of a streaming call (from a `StreamingQueryListener`). Each job is
  * named after the layer its physical plan belongs to
  * ([[Workload.layerOf]]); per-layer times are wall (union of the
  * layer's job spans) and task CPU. */
final class Tracer(spark: SparkSession, w: Workload) {
  private val runId = java.util.UUID.randomUUID().toString

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startMs: Long, endMs: Long, site: String = "")

  private final class Job(val id: Int, val startMs: Long, val exec: Long,
      val stageIds: Seq[Int], val site: String, val stack: String,
      val streaming: Boolean) {
    var endMs: Long = -1L
  }

  private final class Stage(val id: Int, val job: Int) {
    var startMs, endMs = -1L
    var cpuNs, bytesRead, bytesWritten, shuffleWrite, spill, tasks = 0L
    val taskSpans = ArrayBuffer.empty[(Long, Long)]
  }

  private val jobsById = mutable.LinkedHashMap.empty[Int, Job]
  private val stagesById = mutable.HashMap.empty[Int, Stage]
  private val plans = mutable.HashMap.empty[Long, StringBuilder]
  private val stacks = mutable.HashMap.empty[Long, String]
  private val partitionMetrics = mutable.Set.empty[Long]
  private var partitionsRead, partitionScans = 0L
  private val batches = ArrayBuffer.empty[(Long, Long, Long)]
  private val callSpans = ArrayBuffer.empty[(Int, Long, Long)]
  private val gcS = ArrayBuffer.empty[Double]
  @volatile private var heapAfterGcPeak = 0L
  private var gc0 = 0L

  val jobs: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      // the result stage carries the job's call site: short form as its
      // name, the driver stack as its details
      val result = e.stageInfos.maxByOption(_.stageId)
      val streaming = props.exists(_.getProperty("sql.streaming.queryId") != null)
      jobsById(e.jobId) = new Job(e.jobId, e.time, exec, e.stageIds,
        result.map(_.name).getOrElse(""), result.map(_.details).getOrElse(""),
        streaming)
      e.stageIds.foreach(s => stagesById.getOrElseUpdate(s, new Stage(s, e.jobId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobsById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val i = e.stageInfo
        stagesById.get(i.stageId).foreach { s =>
          s.startMs = i.submissionTime.getOrElse(-1L)
          s.endMs = i.completionTime.getOrElse(-1L)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stagesById.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.cpuNs += m.executorCpuTime
        s.bytesRead += m.inputMetrics.bytesRead
        s.bytesWritten += m.outputMetrics.bytesWritten
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.tasks += 1
        s.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          plans(s.executionId) = new StringBuilder(s.physicalPlanDescription)
          stacks(s.executionId) = s.details
          notePartitionMetrics(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans.getOrElseUpdate(u.executionId, new StringBuilder)
            .append('\n').append(u.physicalPlanDescription)
          notePartitionMetrics(u.sparkPlanInfo)
        case d: SparkListenerDriverAccumUpdates =>
          d.accumUpdates.foreach { case (id, v) =>
            if (partitionMetrics.contains(id)) {
              partitionsRead += v; partitionScans += 1
            }
          }
        case _ =>
      }
    }
  }

  /** Remembers the "number of partitions read" metric of every scan of a
    * signature-store table, so the driver's updates give the prefixes a
    * probe read. */
  private def notePartitionMetrics(p: SparkPlanInfo): Unit = {
    if (p.nodeName.startsWith("Scan") && (p.simpleString.contains("/bands") ||
        p.simpleString.contains("/shingles")))
      p.metrics.filter(_.name == "number of partitions read")
        .foreach(m => partitionMetrics += m.accumulatorId)
    p.children.foreach(notePartitionMetrics)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) Tracer.this.synchronized {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        batches += ((start, start + p.durationMs.get("triggerExecution"),
          p.batchId))
      }
    }
  }

  private val gcListener: NotificationListener = (n: Notification, _: AnyRef) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values().asScala
        .map(_.getUsed).sum
      if (used > heapAfterGcPeak) heapAfterGcPeak = used
    }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(gcListener, null, null)
    case _ =>
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def beginCall(): Unit = gc0 = gcMs

  def endCall(c: Call): Unit = {
    gcS += (gcMs - gc0) / 1e3
    synchronized(callSpans += ((callSpans.size, c.startMs, c.endMs)))
  }

  /** Per-layer metrics: medians over the traced calls. */
  def layerMetrics(calls: Seq[Call]): Map[String, Double] = {
    org.apache.spark.perfbench.Bus.drain(spark)
    synchronized {
      val perCall = calls.zipWithIndex.map { case (c, i) => callMetrics(c, gcS(i)) }
      perCall.flatMap(_.keys).distinct.map { n =>
        n -> Stats.median(perCall.map(_.getOrElse(n, 0.0)))
      }.toMap ++ Map(
        "jvm.heap_after_gc_peak_mb" -> heapAfterGcPeak / 1048576.0,
        "sigstore.prefixes_read_frac" -> (
          if (partitionScans == 0) 0.0
          else partitionsRead.toDouble / partitionScans / StoreLayout.Prefixes))
    }
  }

  private def jobsOf(c: Call): Seq[Job] =
    jobsById.values.filter(j => j.startMs >= c.startMs && j.startMs <= c.endMs)
      .toSeq.sortBy(_.startMs)

  private def planOf(j: Job): String =
    plans.get(j.exec).map(_.toString).getOrElse("")

  /** Layer of each job; a job whose plan names no layer belongs to the
    * next job of the same query kind (batch or streaming) whose layer the
    * workload marks as a forward target. */
  private def layers(js: Seq[Job]): Seq[(Job, String)] = {
    val next = mutable.Map(true -> "other", false -> "other")
    js.map(j => j -> w.layerOf(planOf(j), stacks.getOrElse(j.exec, j.stack),
        j.streaming)).reverse.map {
      case (j, l) =>
        if (w.forwardTarget(l)) next(j.streaming) = l
        j -> (if (l == "other") next(j.streaming) else l)
    }.reverse
  }

  /** Total length of the union of intervals. */
  private def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS, curE = Long.MinValue
    iv.filter(_._2 >= 0).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += (curE - curS).max(0L); curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total += (curE - curS).max(0L)
    total / 1e3
  }

  private def callMetrics(c: Call, gc: Double): Map[String, Double] = {
    val js = layers(jobsOf(c))
    val stagesOf = js.map { case (j, l) =>
      (j, l, j.stageIds.flatMap(stagesById.get).filter(_.job == j.id))
    }
    def inLayer(l: String) = stagesOf.filter(_._2 == l)
    def wall(l: String) = union(inLayer(l).map(x => (x._1.startMs, x._1.endMs)))
    def sumStages(l: String)(f: Stage => Long) =
      inLayer(l).flatMap(_._3).map(f).sum.toDouble
    val allStages = stagesOf.flatMap(_._3)
    val callWall = (c.endMs - c.startMs) / 1e3
    val jobWall = union(js.map(x => (x._1.startMs, x._1.endMs)))
    val perLayer = Metrics.layers.flatMap { l =>
      Seq(s"${l}_s" -> wall(l),
        s"${l}_cpu_s" -> sumStages(l)(_.cpuNs) / 1e9,
        s"${l}_jobs" -> inLayer(l).size.toDouble)
    }.toMap
    // bytes the scans of the input corpus read, whichever layer ran them
    val scanBytes = stagesOf.filter(x => planOf(x._1).contains("/corpus"))
      .flatMap(_._3).map(_.bytesRead).sum.toDouble
    perLayer ++ Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> allStages.count(_.endMs >= 0).toDouble,
      "spark.tasks" -> allStages.map(_.tasks).sum.toDouble,
      "spark.shuffle_write_bytes" -> allStages.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> allStages.map(_.spill).sum.toDouble,
      "spark.gc_s" -> gc,
      "pipeline.driver_gap_s" -> (callWall - jobWall),
      // per commit unit (bucket, chain stage or micro-batch)
      "pipeline.jobs_per_bucket" ->
        (js.size - inLayer("pipeline.staging").size).toDouble / c.ops,
      "pipeline.bucket_fixed_s" -> (callWall - wall("pipeline.staging") -
        wall("ner.task") - wall("graph.triples")) / c.ops,
      "trace.unattributed_frac" -> wall("other") / callWall,
      "sources.scan_bytes" -> scanBytes,
      "pipeline.staging_bytes" -> sumStages("pipeline.staging")(_.bytesWritten),
      "pipeline.write_bytes" -> (sumStages("pipeline.write")(_.bytesWritten) +
        sumStages("graph.triples")(_.bytesWritten)),
      "graph.shuffle_bytes" -> sumStages("graph.triples")(_.shuffleWrite),
      "sigstore.probe_bytes_read" -> sumStages("sigstore.probe")(_.bytesRead)
    ) ++ c.extra
  }

  /** Writes every span as one JSON object per line. */
  def writeSpans(file: Path): Unit = synchronized {
    Files.createDirectories(file.getParent)
    var next = 0L
    def id(): Long = { next += 1; next }
    val out = ArrayBuffer.empty[Span]
    callSpans.foreach { case (i, s, e) =>
      val callId = id()
      out += Span(callId, 0L, "call", s"call-$i", s, e)
      layers(jobsById.values.filter(j => j.startMs >= s && j.startMs <= e)
          .toSeq.sortBy(_.startMs)).foreach { case (j, layer) =>
        val jobId = id()
        out += Span(jobId, callId, "job", layer, j.startMs, j.endMs, j.site)
        j.stageIds.flatMap(stagesById.get).filter(_.job == j.id).foreach { st =>
          val stageId = id()
          out += Span(stageId, jobId, "stage", s"stage-${st.id}", st.startMs, st.endMs)
          st.taskSpans.foreach { case (ts, te) =>
            out += Span(id(), stageId, "task", "task", ts, te)
          }
        }
      }
      batches.filter(b => b._1 >= s && b._1 <= e).foreach { case (bs, be, b) =>
        out += Span(id(), callId, "batch", s"batch-$b", bs, be)
      }
    }
    val writer = Files.newBufferedWriter(file)
    try out.foreach { s =>
      writer.write(s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},""" +
        s""""kind":${Json.str(s.kind)},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""site":${Json.str(s.site)}}""")
      writer.newLine()
    } finally writer.close()
  }
}
