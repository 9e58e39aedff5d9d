package etlbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** Engine-layer counters, taken from outside the program through a
  * SparkListener. Events are kept as small records with their own
  * timestamps, so a pass or a span is measured over its wall-clock
  * window without waiting for the asynchronous bus inside the timing.
  */
final class Meter extends SparkListener {
  import Meter.Task
  private val jobs = ArrayBuffer.empty[Long]
  private val stages = ArrayBuffer.empty[Long]
  private val tasks = ArrayBuffer.empty[Task]
  private var blockBytes = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += e.time }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.diskBytesSpilled)
  }

  // RDD blocks stored by persist / localCheckpoint; a removal arrives as
  // an update with an invalid storage level and is not counted
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid) blockBytes += b.memSize + b.diskSize
  }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); tasks.clear(); blockBytes = 0L
  }

  def jobsIn(a: Long, b: Long): Int = synchronized { jobs.count(t => t >= a && t <= b) }

  /** Engine counters for the window [a, b] (epoch ms). `materialized_mb`
    * covers everything since the last [[clear]], since block updates
    * carry no timestamp.
    */
  def window(a: Long, b: Long): Map[String, Double] = synchronized {
    val ts = tasks.filter(t => t.launch >= a && t.launch <= b)
    val mb = 1024.0 * 1024.0
    // wall time inside the window with no task running
    var busy = 0L
    var until = a
    for (t <- ts.sortBy(_.launch)) {
      val s = math.max(t.launch, until)
      val f = math.min(t.finish, b)
      if (f > s) { busy += f - s; until = f }
    }
    val byStage = ts.groupBy(_.stage).values
    Map(
      "spark.jobs" -> jobs.count(t => t >= a && t <= b).toDouble,
      "spark.stages" -> stages.count(t => t >= a && t <= b).toDouble,
      "spark.tasks" -> ts.size.toDouble,
      "spark.idle_s" -> ((b - a) - busy) / 1000.0,
      "spark.critical_task_s" -> byStage.map(g => g.map(t => t.finish - t.launch).max).sum / 1000.0,
      // stages that ran as one task, such as the sink's coalesce(1)
      "spark.single_task_stage_s" ->
        byStage.filter(_.size == 1).map(g => g.head.finish - g.head.launch).sum / 1000.0,
      "spark.task_s" -> ts.map(_.runMs).sum / 1000.0,
      "spark.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0,
      "spark.shuffle_write_mb" -> ts.map(_.shufW).sum / mb,
      "spark.shuffle_read_mb" -> ts.map(_.shufR).sum / mb,
      "spark.spill_mb" -> ts.map(_.spill).sum / mb,
      "spark.materialized_mb" -> blockBytes / mb)
  }
}

object Meter {
  private final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
                                cpuNs: Long, gcMs: Long, shufW: Long, shufR: Long, spill: Long)
}

final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long,
                      counters: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around each timed call and pass: name, start, end, parent.
  * Kept in memory and written out when the run ends. Disabled, a span
  * is just its body.
  */
final class Tracer(val enabled: Boolean, probe: () => Map[String, Double]) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var pass = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = probe()
      val ms0 = System.currentTimeMillis()
      val ns0 = System.nanoTime()
      try body
      finally {
        val ns1 = System.nanoTime()
        val ms1 = System.currentTimeMillis()
        val after = probe()
        stack = stack.tail
        spans += Span(id, name, parent, pass, ns0, ns1, ms0, ms1,
          after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
      }
    }
}
