package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** The traced run's observer of the Spark runtime. It reads only Spark's
  * public listener events: jobs are tied to the benchmark attempt (and
  * its build / plan / exec phase) through local properties the benchmark
  * sets on its thread, stages and tasks through their job. Block updates
  * are kept in arrival order and attributed to an attempt afterwards,
  * through the pinned RDD ids that attempt created.
  *
  * A store the block manager refuses because the block id is already
  * stored ("Block rdd_N_P already exists") posts no event; those are
  * read from the block manager's log instead.
  *
  * Listener callbacks run on Spark's listener-bus thread; every access is
  * synchronized on this object, and [[sync]] waits until the bus has
  * delivered everything posted before it. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleWriteB, shuffleReadB, fetchWaitMs = 0L
    var spillMemB, spillDiskB, peakExecB = 0L
    var inputB, inputRows = 0L
    var execRunMs = 0L
  }

  private val accs = mutable.Map.empty[Int, Acc]
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stagePhase = mutable.Map.empty[Int, String]
  // (rdd id, partition, stored?) in arrival order
  private val blockEvents = mutable.ArrayBuffer.empty[(Int, Int, Boolean)]
  private val markers = mutable.Set.empty[String]
  // (rdd id, partition) of each refused re-store, in log order
  private val refused = mutable.ArrayBuffer.empty[(Int, Int)]

  private val blockLog = new AbstractAppender("perfbench-block-stores",
      null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit =
      e.getMessage.getFormattedMessage match {
        case AlreadyStored(rdd, split) =>
          Tracer.this.synchronized(refused += ((rdd.toInt, split.toInt)))
        case _ =>
      }
  }
  blockLog.start()
  LogManager.getLogger("org.apache.spark.storage.BlockManager")
    .asInstanceOf[Logger].addAppender(blockLog)

  private def acc(a: Int): Acc = accs.getOrElseUpdate(a, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    prop(MarkerKey) match {
      case Some(m) =>
        jobs(e.jobId) = Job(e.jobId, -1, "", e.time, stages = Nil,
          marker = Some(m))
      case None =>
        val attempt = prop(AttemptKey).map(_.toInt).getOrElse(-1)
        val phase = prop(PhaseKey).getOrElse("")
        jobs(e.jobId) = Job(e.jobId, attempt, phase, e.time,
          stages = e.stageIds)
        acc(attempt).jobs += 1
        e.stageIds.foreach { s =>
          if (!stages.contains(s)) {
            stages(s) = Stage(s, attempt)
            stagePhase(s) = phase
          }
        }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time
      j.marker.foreach(markers += _)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.submitted = e.stageInfo.submissionTime.getOrElse(-1L)
        acc(s.attempt).stages += 1
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.completed = e.stageInfo.completionTime.getOrElse(-1L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.get(e.stageId)
    val a = acc(s.map(_.attempt).getOrElse(-1))
    a.tasks += 1
    s.foreach(_.durations += e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spillMemB += m.memoryBytesSpilled
      a.spillDiskB += m.diskBytesSpilled
      a.peakExecB = math.max(a.peakExecB, m.peakExecutionMemory)
      a.inputB += m.inputMetrics.bytesRead
      a.inputRows += m.inputMetrics.recordsRead
      if (stagePhase.get(e.stageId).contains("exec"))
        a.execRunMs += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      e.blockUpdatedInfo.blockId match {
        case RDDBlockId(rdd, split) =>
          blockEvents += ((rdd, split, e.blockUpdatedInfo.storageLevel.isValid))
        case _ =>
      }
    }

  /** Runs a one-task marker job and waits until the listener has seen it
    * end: the bus delivers in order, so every earlier event is in. */
  def sync(): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val prevA = sc.getLocalProperty(AttemptKey)
    sc.setLocalProperty(AttemptKey, null)
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    sc.setLocalProperty(AttemptKey, prevA)
    val deadline = System.currentTimeMillis() + 60000
    while (!synchronized(markers.contains(token))) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener bus did not drain in 60 s")
      Thread.sleep(5)
    }
  }

  /** Per-attempt measures. `pinOwner` maps each pinned RDD id to the
    * attempt that created it; `execWindow` gives each attempt's exec
    * phase as (start ms, end ms). */
  def measures(pinOwner: Map[Int, Int],
      execWindow: Map[Int, (Long, Long)]): Map[Int, Map[String, Double]] =
    synchronized {
      // block stores: a store of an id already stored (and not removed
      // since) is a duplicated store, and so is every refused re-store
      val stored = mutable.Set.empty[(Int, Int)]
      val storeEv = mutable.Map.empty[Int, Long].withDefaultValue(0L)
      val dupEv = mutable.Map.empty[Int, Long].withDefaultValue(0L)
      val distinct = mutable.Map.empty[Int, mutable.Set[(Int, Int)]]
      blockEvents.foreach { case (rdd, split, valid) =>
        val owner = pinOwner.getOrElse(rdd, -1)
        if (valid) {
          storeEv(owner) += 1
          distinct.getOrElseUpdate(owner, mutable.Set.empty) += ((rdd, split))
          if (!stored.add((rdd, split))) dupEv(owner) += 1
        } else stored -= ((rdd, split))
      }
      refused.foreach { case (rdd, _) =>
        val owner = pinOwner.getOrElse(rdd, -1)
        storeEv(owner) += 1
        dupEv(owner) += 1
      }
      val byAttempt = jobs.values.groupBy(_.attempt)
      val stagesByAttempt = stages.values.groupBy(_.attempt)
      (accs.keySet ++ execWindow.keySet).filter(_ >= 0).map { a =>
        val x = accs.getOrElse(a, new Acc)
        val (es, ee) = execWindow.getOrElse(a, (0L, 0L))
        val execJobs = byAttempt.getOrElse(a, Nil)
          .filter(j => j.phase == "exec" && j.end >= 0)
          .map(j => (math.max(j.start, es), math.min(j.end, ee)))
          .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
        var covered = 0L
        var reach = es
        execJobs.foreach { case (s, e) =>
          val from = math.max(s, reach)
          if (e > from) covered += e - from
          reach = math.max(reach, e)
        }
        val skew = stagesByAttempt.getOrElse(a, Nil)
          .filter(_.durations.size >= 2).map { s =>
            val d = s.durations.sorted
            d.last.toDouble / math.max(d(d.size / 2), 1L)
          }.maxOption.getOrElse(1.0)
        val stores = storeEv(a)
        a -> Map(
          "jobs" -> x.jobs.toDouble, "stages" -> x.stages.toDouble,
          "tasks" -> x.tasks.toDouble,
          "run_ms" -> x.runMs.toDouble, "cpu_ms" -> x.cpuNs / 1e6,
          "gc_ms" -> x.gcMs.toDouble,
          "exec_run_ms" -> x.execRunMs.toDouble,
          "shuffle_write_b" -> x.shuffleWriteB.toDouble,
          "shuffle_read_b" -> x.shuffleReadB.toDouble,
          "fetch_wait_ms" -> x.fetchWaitMs.toDouble,
          "spill_mem_b" -> x.spillMemB.toDouble,
          "spill_disk_b" -> x.spillDiskB.toDouble,
          "peak_exec_b" -> x.peakExecB.toDouble,
          "input_b" -> x.inputB.toDouble,
          "input_rows" -> x.inputRows.toDouble,
          "job_gap_ms" -> math.max(0L, (ee - es) - covered).toDouble,
          "task_skew" -> skew,
          "block_stores" -> stores.toDouble,
          "dup_stores" -> dupEv(a).toDouble,
          "distinct_blocks" ->
            distinct.get(a).map(_.size.toDouble).getOrElse(0.0))
      }.toMap
    }

  /** Job and stage spans, each with the attempt that caused it. */
  def spans(): Seq[Map[String, Any]] = synchronized {
    val js = jobs.values.filter(_.attempt >= 0).map { j =>
      Map("name" -> s"job ${j.id}", "kind" -> "job", "id" -> s"j${j.id}",
        "parent" -> s"a${j.attempt}.${j.phase}", "start_ms" -> j.start,
        "end_ms" -> j.end)
    }
    val owner = jobs.values.filter(_.attempt >= 0)
      .flatMap(j => j.stages.map(_ -> j.id)).toMap
    val ss = stages.values.filter(s => s.attempt >= 0 && s.submitted >= 0)
      .map { s =>
        Map("name" -> s"stage ${s.id}", "kind" -> "stage",
          "id" -> s"s${s.id}", "parent" -> s"j${owner.getOrElse(s.id, -1)}",
          "start_ms" -> s.submitted, "end_ms" -> s.completed,
          "tasks" -> s.durations.size)
      }
    (js ++ ss).toSeq
  }
}

object Tracer {
  final case class Job(id: Int, attempt: Int, phase: String, start: Long,
      var end: Long = -1L, stages: Seq[Int], marker: Option[String] = None)
  final case class Stage(id: Int, attempt: Int, var submitted: Long = -1L,
      var completed: Long = -1L, durations: mutable.ArrayBuffer[Long] =
        mutable.ArrayBuffer.empty)

  private val AlreadyStored =
    "Block rdd_(\\d+)_(\\d+) already exists".r.unanchored

  val AttemptKey = "perfbench.attempt"
  val PhaseKey = "perfbench.phase"
  val MarkerKey = "perfbench.marker"

  /** Generated-code compilations so far: (count, total ms). The
    * compile-time histogram keeps every sample while fewer than its
    * reservoir size (1028) have been taken; past that the total is
    * estimated from the reservoir mean. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val vs = h.getSnapshot.getValues
    val total =
      if (vs.length >= n) vs.sum.toDouble
      else if (vs.isEmpty) 0.0
      else vs.sum.toDouble / vs.length * n
    (n, total)
  }
}
