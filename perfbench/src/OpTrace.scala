package org.apache.spark.graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-operation Spark counters for the traced benchmark run.
  *
  * Every job the benchmark starts inside an operation carries the local property
  * [[OpTrace.OpKey]]; the listener files the job's stages and tasks under that
  * operation. Lives in an `org.apache.spark` package only to drain the listener
  * bus before the counters are read. */
final class OpTrace(sc: SparkContext) extends SparkListener {
  import OpTrace._

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var skew = 1.0
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  private val byOp = mutable.HashMap.empty[String, Counters]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val stageDurations = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  private def counters(op: String) = byOp.getOrElseUpdate(op, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      counters(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageOp.get(id).foreach { op =>
      val c = counters(op)
      c.stages += 1
      stageDurations.remove(id).filter(_.size >= 2).foreach { d =>
        val s = d.sorted
        val median = math.max(1L, s(s.size / 2))
        c.skew = math.max(c.skew, s.last.toDouble / median)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counters(op)
      val info = e.taskInfo
      c.tasks += 1
      c.intervals += ((info.launchTime, info.finishTime))
      stageDurations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        (info.finishTime - info.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
      }
    }
  }

  /** Run `body` as operation `op`; returns its result and the counters filed under
    * `op` during the call, `idle_s` measured against the call's wall span. */
  def measure[T](op: String)(body: => T): (T, Map[String, Double]) = {
    synchronized { byOp.remove(op) }
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    val t0 = System.currentTimeMillis()
    val r = try body finally sc.setLocalProperty(OpKey, prev)
    val t1 = System.currentTimeMillis()
    sc.listenerBus.waitUntilEmpty()
    val c = synchronized { byOp.remove(op).getOrElse(new Counters) }
    (r, Map(
      "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble, "tasks" -> c.tasks.toDouble,
      "task_s" -> c.taskMs / 1e3, "cpu_s" -> c.cpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
      "idle_s" -> idleSeconds(t0, t1, c.intervals.toSeq),
      "shuffle_write_mb" -> c.shuffleWrite / MB, "shuffle_read_mb" -> c.shuffleRead / MB,
      "spill_mb" -> c.spill / MB, "skew" -> c.skew))
  }
}

object OpTrace {
  val OpKey = "graftbench.op"
  val MB = 1024.0 * 1024.0

  /** Wall time in [t0, t1] not covered by any task interval. */
  def idleSeconds(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Double = {
    var covered = 0L
    var end = t0
    for ((s, f) <- intervals.sortBy(_._1)) {
      val a = math.max(s, end)
      val b = math.min(f, t1)
      if (b > a) covered += b - a
      end = math.max(end, math.min(f, t1))
    }
    math.max(0L, t1 - t0 - covered) / 1e3
  }

  def register(sc: SparkContext): OpTrace = {
    val t = new OpTrace(sc)
    sc.addSparkListener(t)
    t
  }
}
