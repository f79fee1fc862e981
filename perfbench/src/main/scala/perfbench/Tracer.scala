package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._

/** Spark-side counters of the traced run. Jobs are attributed to the
  * operation (and phase) whose time window contains their submission:
  * operations never overlap in a one-client loop, and jobs the engine
  * submits from its own thread pools carry no local property we could
  * key on.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }
  final class StageAcc {
    var tasks, failures = 0L
    var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite, spill = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageAcc = new ConcurrentHashMap[Int, StageAcc]()
  private val stagesDone = ConcurrentHashMap.newKeySet[Int]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, new Job(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageAcc.computeIfAbsent(e.stageId, _ => new StageAcc)
    a.synchronized {
      a.tasks += 1
      if (e.reason != Success) a.failures += 1
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Attaches `spark.*` and `driver.gap_ms` to every operation and
    * returns the job spans (parented to the operation's phase).
    */
  def attribute(ops: Seq[Op]): Seq[Map[String, Any]] = {
    ListenerBusDrain(sc)
    val all = jobs.values.asScala.toSeq.sortBy(_.id)
    val spans = ArrayBuffer.empty[Map[String, Any]]
    ops.zipWithIndex.foreach { case (op, oi) =>
      val lo = Clock.epochMs(op.startNs) - 1
      val hi = Clock.epochMs(op.endNs) + 1
      val mine = all.filter(j => j.startMs >= lo && j.startMs <= hi)
      val accs = mine.flatMap(_.stages).flatMap(s => Option(stageAcc.get(s)))
      def sum(f: StageAcc => Long): Long = accs.map(a => a.synchronized(f(a))).sum
      // union of job intervals, clipped to the operation: concurrent
      // jobs (the engine's commit pool) must not count twice
      val ivs = mine.map(j => (math.max(j.startMs.toDouble, lo + 1),
        math.min(j.endMs.toDouble, hi - 1))).filter(i => i._2 > i._1).sortBy(_._1)
      var busy = 0.0
      var cur: Option[(Double, Double)] = None
      ivs.foreach { case (s, e) => cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => busy += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      } }
      cur.foreach { case (cs, ce) => busy += ce - cs }
      val run = sum(_.runMs)
      op.layer ++= Seq(
        "spark.jobs" -> mine.size,
        "spark.stages" -> mine.flatMap(_.stages).count(stagesDone.contains),
        "spark.tasks" -> sum(_.tasks),
        "spark.task_failures" -> sum(_.failures),
        "spark.exec_run_ms" -> run,
        "spark.exec_cpu_ms" -> sum(_.cpuNs) / 1e6,
        "spark.gc_ms" -> sum(_.gcMs),
        "spark.input_bytes" -> sum(_.inputBytes),
        "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
        "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
        "spark.spill_bytes" -> sum(_.spill),
        "spark.job_busy_ms" -> busy,
        "driver.gap_ms" -> math.max(0.0, op.ms - busy))
      if (op.pass > 0) mine.foreach { j =>
        val t = j.startMs - Clock.jvmStartMs
        val ph = op.phases.indexWhere { case (_, s, e) =>
          j.startMs >= Clock.epochMs(s) - 1 && j.startMs <= Clock.epochMs(e) + 1 }
        spans += Map("id" -> s"job$oi.${j.id}", "parent" ->
          (if (ph >= 0) s"op$oi.${op.phases(ph)._1}" else s"op$oi"),
          "kind" -> "job", "name" -> s"job ${j.id}",
          "start_ms" -> t.toDouble, "end_ms" -> (j.endMs - Clock.jvmStartMs).toDouble,
          "stages" -> j.stages.size)
      }
    }
    val attributed = ops.map(_.layer.getOrElse("spark.jobs", 0).asInstanceOf[Int]).sum
    unattributed = all.size - attributed
    spans.toSeq
  }

  /** Jobs that started between operations (set-up, checks, cleanup). */
  var unattributed = 0
}

object Tracer {
  /** Span tree workload → pass → operation → phase; job spans come
    * from [[Tracer.attribute]].
    */
  def spans(workload: String, ops: Seq[Op]): Seq[Map[String, Any]] = {
    val out = ArrayBuffer.empty[Map[String, Any]]
    val timed = ops.filter(_.pass > 0)
    if (timed.isEmpty) return Nil
    out += Map("id" -> "w", "parent" -> null, "kind" -> "workload", "name" -> workload,
      "start_ms" -> Clock.relMs(timed.head.startNs), "end_ms" -> Clock.relMs(timed.last.endNs))
    timed.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (p, pops) =>
      out += Map("id" -> s"p$p", "parent" -> "w", "kind" -> "pass", "name" -> s"pass $p",
        "start_ms" -> Clock.relMs(pops.head.startNs), "end_ms" -> Clock.relMs(pops.last.endNs))
    }
    ops.zipWithIndex.filter(_._1.pass > 0).foreach { case (op, i) =>
      out += Map("id" -> s"op$i", "parent" -> s"p${op.pass}", "kind" -> "op", "name" -> op.name,
        "start_ms" -> Clock.relMs(op.startNs), "end_ms" -> Clock.relMs(op.endNs), "ok" -> op.ok)
      op.phases.foreach { case (n, s, e) =>
        out += Map("id" -> s"op$i.$n", "parent" -> s"op$i", "kind" -> "phase", "name" -> n,
          "start_ms" -> Clock.relMs(s), "end_ms" -> Clock.relMs(e))
      }
    }
    out.toSeq
  }
}
