package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/**
 * The benchmark's SparkListener. While attached it keeps spans in memory
 * (op → phase → job → stage) and derives the per-layer metrics from
 * them. Jobs are assigned to the phase named by the [[Harness.PhaseKey]]
 * local property at job start (threads a builder starts inherit it);
 * stages and tasks follow their job.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  @volatile private var attached = false

  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) { drain(); sc.removeSparkListener(this); attached = false }

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Starts the record of one op execution (only traced ones are kept). */
  def beginOp(pass: Int, opId: String, tracing: Boolean): Unit =
    current = if (tracing) { val r = OpRec(pass, opId); ops += r; r } else null

  def phaseStart(name: String): Unit = if (current != null)
    current.phases += PhaseRec(name, System.currentTimeMillis(), System.nanoTime())

  def phaseEnd(): Unit = if (current != null) {
    val p = current.phases.last
    p.endMs = System.currentTimeMillis()
    p.wallMs = (System.nanoTime() - p.startNs) / 1e6
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = Option(e.properties).map(_.getProperty(Harness.PhaseKey)).orNull
    jobs.put(e.jobId, JobRec(e.jobId, k, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val r = stage(i.stageId, i.attemptNumber())
    r.numTasks = i.numTasks
    r.submitMs = i.submissionTime.getOrElse(-1L)
    r.completeMs = i.completionTime.getOrElse(-1L)
    r.completed = true
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val r = stage(e.stageId, e.stageAttemptId)
    r.synchronized {
      r.tasks += 1
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.cpuMs += m.executorCpuTime / 1e6
        r.gcMs += m.jvmGCTime
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.input += m.inputMetrics.bytesRead
        r.output += m.outputMetrics.bytesWritten
      }
    }
  }

  private def stage(id: Int, attempt: Int): StageRec =
    stages.computeIfAbsent((id, attempt), _ => StageRec(id, attempt))

  private var current: OpRec = null

  /** Jobs of one op execution, grouped by phase name. */
  private def jobsByPhase: Map[String, Seq[JobRec]] =
    jobs.values().asScala.toSeq.filter(_.key != null).groupBy(_.key)

  private def stagesOf(job: JobRec): Seq[StageRec] =
    stages.values().asScala.toSeq.filter(s => s.completed && stageJob.getOrDefault(s.id, -1) == job.id)

  /**
   * Per-layer metrics: each a total over one pass of the workload's ops,
   * averaged over the traced passes.
   */
  def layerMetrics(kernel: Kernels.Result, cores: Int): Seq[(String, (Double, String))] = {
    val byPhase = jobsByPhase
    val stagesByJob = stages.values().asScala.toSeq.filter(_.completed)
      .groupBy(s => stageJob.getOrDefault(s.id, -1))
    val passes = math.max(ops.map(_.pass).distinct.size, 1).toDouble
    var buildWall, buildJobMs, planMs, execWall, execJobMs, execTaskMs = 0.0
    var buildJobs, nJobs, nStages, nTasks = 0L
    var taskMs, cpuMs, gcMs, serialMs = 0.0
    var shW, shR, inB, outB = 0L
    ops.foreach { op =>
      op.phases.foreach { p =>
        val js = byPhase.getOrElse(s"${op.pass}:${op.opId}/${p.name}", Nil)
        val covered = coveredMs(js, p.startMs, p.endMs)
        val ss = js.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
        nJobs += js.size
        nStages += ss.size
        ss.foreach { s =>
          nTasks += s.tasks; taskMs += s.taskMs; cpuMs += s.cpuMs; gcMs += s.gcMs
          shW += s.shuffleWrite; shR += s.shuffleRead; inB += s.input; outB += s.output
          if (s.numTasks == 1) serialMs += s.wallMs
        }
        p.name match {
          case "build" => buildWall += p.wallMs; buildJobs += js.size; buildJobMs += covered
          case "plan" => planMs += p.wallMs
          case "exec" => execWall += p.wallMs; execJobMs += covered; execTaskMs += ss.map(_.taskMs).sum
          case _ =>
        }
      }
    }
    Seq(
      "SparkEntry.build_driver_ms" -> ((buildWall - buildJobMs) / passes, "ms"),
      "SparkEntry.build_jobs" -> (buildJobs / passes, "count"),
      "SparkEntry.build_job_ms" -> (buildJobMs / passes, "ms"),
      "catalyst.plan_ms" -> (planMs / passes, "ms"),
      "scheduler.jobs" -> (nJobs / passes, "count"),
      "scheduler.stages" -> (nStages / passes, "count"),
      "scheduler.tasks" -> (nTasks / passes, "count"),
      "scheduler.task_ms" -> (taskMs / passes, "ms"),
      "scheduler.cpu_ms" -> (cpuMs / passes, "ms"),
      "scheduler.gc_ms" -> (gcMs / passes, "ms"),
      "scheduler.serial_stage_ms" -> (serialMs / passes, "ms"),
      "scheduler.core_util" -> (if (execWall > 0) execTaskMs / (execWall * cores) else 0.0, "ratio"),
      "scheduler.job_gap_ms" -> (math.max(execWall - execJobMs, 0.0) / passes, "ms"),
      "exchange.shuffle_write_bytes" -> (shW / passes, "bytes"),
      "exchange.shuffle_read_bytes" -> (shR / passes, "bytes"),
      "io.input_bytes" -> (inB / passes, "bytes"),
      "io.output_bytes" -> (outB / passes, "bytes"),
      "torch.forward_rows_per_s" -> (kernel.forwardRowsPerS, "rows/s"),
      "torch.decode_tokens_per_s" -> (kernel.decodeTokensPerS, "tokens/s"))
  }

  /** Writes every kept span as one JSON document. */
  def writeSpans(path: Path, kernel: Kernels.Result): Unit = {
    val byPhase = jobsByPhase
    val sb = new StringBuilder("{\"ops\": [\n")
    ops.zipWithIndex.foreach { case (op, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"pass": ${op.pass}, "op": ${Json.str(op.opId)}, "phases": ["""
      op.phases.zipWithIndex.foreach { case (p, j) =>
        if (j > 0) sb ++= ", "
        val js = byPhase.getOrElse(s"${op.pass}:${op.opId}/${p.name}", Nil).sortBy(_.id)
        sb ++= s"""{"name": "${p.name}", "start_ms": ${p.startMs}, "wall_ms": ${Json.num(p.wallMs)}, """
        sb ++= s""""job_ms": ${Json.num(coveredMs(js, p.startMs, p.endMs))}, "jobs": ["""
        sb ++= js.map { jb =>
          val ss = stagesOf(jb).sortBy(_.id).map(s =>
            s"""{"id": ${s.id}, "tasks": ${s.tasks}, "wall_ms": ${s.wallMs}, "task_ms": ${Json.num(s.taskMs)}, """ +
            s""""cpu_ms": ${Json.num(s.cpuMs)}, "gc_ms": ${Json.num(s.gcMs)}, "shuffle_write": ${s.shuffleWrite}, """ +
            s""""shuffle_read": ${s.shuffleRead}, "input": ${s.input}, "output": ${s.output}}""")
          s"""{"id": ${jb.id}, "start_ms": ${jb.startMs}, "end_ms": ${jb.endMs}, "stages": [${ss.mkString(", ")}]}"""
        }.mkString(", ")
        sb ++= "]}"
      }
      sb ++= "]}"
    }
    sb ++= "\n], \"kernels\": ["
    sb ++= kernel.calls.map(c =>
      s"""{"name": ${Json.str(c.name)}, "rows": ${c.rows}, "wall_ms": ${Json.num(c.wallMs)}}""").mkString(", ")
    sb ++= "]}\n"
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Tracer {
  final case class OpRec(pass: Int, opId: String) {
    val phases = mutable.ArrayBuffer.empty[PhaseRec]
  }
  final case class PhaseRec(name: String, startMs: Long, startNs: Long) {
    var endMs: Long = startMs
    var wallMs: Double = 0.0
  }
  final case class JobRec(id: Int, key: String, startMs: Long) {
    @volatile var endMs: Long = -1L
  }
  final case class StageRec(id: Int, attempt: Int) {
    @volatile var completed = false
    var numTasks = 0
    var submitMs, completeMs = -1L
    var tasks = 0L
    var taskMs, cpuMs, gcMs = 0.0
    var shuffleWrite, shuffleRead, input, output = 0L
    def wallMs: Long = if (submitMs < 0 || completeMs < 0) 0L else completeMs - submitMs
  }

  /** Milliseconds of [from, to] covered by at least one job. */
  def coveredMs(js: Seq[JobRec], from: Long, to: Long): Double = {
    val iv = js.map(j => (math.max(j.startMs, from), math.min(if (j.endMs < 0) to else j.endMs, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA, curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
