package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One timed region the benchmark opened: a pass, a call into the program,
  * or a sweep. Wall times are epoch ms so they line up with Spark's task
  * launch/finish stamps. The harness fills the phase fields; the listener
  * fills the counters of traced spans. */
final class Span(val id: Long, val name: String, val kind: String,
                 val parent: Long, val queryId: Long, val thread: String,
                 val traced: Boolean) {
  val start: Long = System.currentTimeMillis()
  @volatile var end: Long = 0L

  // harness-measured (ms / MB)
  var callMs, planMs, resultMs, heldMb = 0.0
  var aqeOff: Option[Boolean] = None

  // listener-attributed; `cutWidthMin` only over the stages that
  // materialize a `Blocks.pinnedCut` (the width Blocks chose, not AQE),
  // `widthMax` over every stage
  var jobs, stages, tasks, emptyTasks = 0L
  var cutWidthMin = Int.MaxValue
  var widthMax = 0
  var runMs, cpuMs, gcMs, taskWaitMs, taskMs = 0.0
  var shuffleReadMb, shuffleWriteMb, shuffleRecordsWritten, spillMb = 0.0
  var inputMb, inputRecords, scanMs = 0.0
  var putCount = 0L
  var putMb = 0.0
  val intervals = ArrayBuffer.empty[(Long, Long)]

  /** Span time with no task of this span running. */
  def idleMs: Double = {
    val sorted = intervals.map { case (a, b) =>
      (math.max(a, start), math.min(b, end)) }.filter(x => x._2 > x._1).sortBy(_._1)
    var covered, curA, curB = 0L
    var open = false
    sorted.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) covered += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) covered += curB - curA
    (end - start - covered).toDouble
  }
}

/** Outside-in cost census. The benchmark opens a [[Span]] around each call
  * into the program and sets the span id as the calling thread's job group;
  * this listener attributes every job, stage, task and RDD block update to
  * the span whose job group submitted it. Spans live in memory until the
  * run ends. Only spans opened while `enabled` collect counts, so traced
  * and untraced passes can alternate in one session. */
final class Census(sc: SparkContext) extends SparkListener {
  @volatile var enabled = false

  private val ids = new AtomicLong(0)
  private val byGroup = new ConcurrentHashMap[String, Span]
  private val byStage = new ConcurrentHashMap[Int, Span]
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]
  private val scanStages = ConcurrentHashMap.newKeySet[Int]()
  private val aqeOffStages = ConcurrentHashMap.newKeySet[Int]()
  private val byRdd = new ConcurrentHashMap[Int, Span]
  private val spans = ArrayBuffer.empty[Span]

  private def group(s: Span) = s"perfbench-${s.id}"

  /** Open a span. A call span becomes the current thread's job group. */
  def open(name: String, kind: String, parent: Option[Span],
           queryId: Long = -1L): Span = {
    val s = new Span(ids.incrementAndGet(), name, kind, parent.fold(0L)(_.id),
      queryId, Thread.currentThread.getName, enabled)
    spans.synchronized(spans += s)
    if (kind == "call") {
      if (s.traced) byGroup.put(group(s), s)
      sc.setJobGroup(group(s), name)
    }
    s
  }

  def close(s: Span): Unit = {
    s.end = System.currentTimeMillis()
    if (s.kind == "call") sc.clearJobGroup()
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g))).foreach { s =>
        s.synchronized(s.jobs += 1)
        e.stageInfos.foreach(i => byStage.put(i.stageId, s))
        // SQL jobs carry the session confs they ran under; pinnedCut runs
        // its checkpoint job with AQE off
        if (props.exists(_.getProperty("spark.sql.adaptive.enabled") == "false"))
          e.stageInfos.foreach(i => aqeOffStages.add(i.stageId))
      }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    Option(byStage.get(i.stageId)).foreach { s =>
      s.synchronized {
        s.stages += 1
        if (aqeOffStages.contains(i.stageId) && i.rddInfos.exists(_.storageLevel.isValid))
          s.cutWidthMin = math.min(s.cutWidthMin, i.numTasks)
        s.widthMax = math.max(s.widthMax, i.numTasks)
      }
      stageSubmit.put(i.stageId, Long.box(i.submissionTime.getOrElse(System.currentTimeMillis())))
      if (i.rddInfos.exists(_.name == "FileScanRDD")) scanStages.add(i.stageId)
      i.rddInfos.foreach(r => byRdd.putIfAbsent(r.id, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { s =>
      val t = e.taskInfo
      val m = Option(e.taskMetrics)
      val mb = 1024.0 * 1024.0
      s.synchronized {
        s.tasks += 1
        s.taskMs += t.finishTime - t.launchTime
        s.intervals += ((t.launchTime, t.finishTime))
        Option(stageSubmit.get(e.stageId))
          .foreach(sub => s.taskWaitMs += math.max(0L, t.launchTime - sub))
        m.foreach { m =>
          s.runMs += m.executorRunTime
          s.cpuMs += m.executorCpuTime / 1e6
          s.gcMs += m.jvmGCTime
          s.shuffleReadMb += m.shuffleReadMetrics.totalBytesRead / mb
          s.shuffleWriteMb += m.shuffleWriteMetrics.bytesWritten / mb
          s.shuffleRecordsWritten += m.shuffleWriteMetrics.recordsWritten
          s.spillMb += (m.memoryBytesSpilled + m.diskBytesSpilled) / mb
          if (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
            s.emptyTasks += 1
          if (scanStages.contains(e.stageId)) {
            s.inputMb += m.inputMetrics.bytesRead / mb
            s.inputRecords += m.inputMetrics.recordsRead
            s.scanMs += m.executorRunTime
          }
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, _) if b.storageLevel.isValid =>
        Option(byRdd.get(rdd)).foreach { s =>
          s.synchronized {
            s.putCount += 1
            s.putMb += (b.memSize + b.diskSize) / (1024.0 * 1024.0)
          }
        }
      case _ => ()
    }
  }
}
