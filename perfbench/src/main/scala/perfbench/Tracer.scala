package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark jobs, stages and query planning phases from outside the
  * engine (a `SparkListener` plus a `QueryExecutionListener`), and turns
  * them into spans — pass → engine call → job → stage — and per-layer
  * metrics. Everything stays in memory until the run ends. */
final class Tracer(cores: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val open = TrieMap.empty[Int, (Long, String, Seq[Int], String)]
  /** Engine frame of each SQL execution's action: stages that adaptive
    * execution submits from its own threads carry no engine frame, and
    * fall back to the one of the query they belong to. */
  private val execFrame = TrieMap.empty[Long, String]
  private val jobQ = new ConcurrentLinkedQueue[Job]()
  private val stageQ = new ConcurrentLinkedQueue[Stage]()
  private val planQ = new ConcurrentLinkedQueue[Plan]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).flatMap(execFrame.get).getOrElse("other")
    open(e.jobId) = (e.time, desc, e.stageIds, exec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    open.remove(e.jobId).foreach { case (t0, desc, stageIds, exec) =>
      jobQ.add(Job(e.jobId, t0, e.time, desc, stageIds, exec)) }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SparkListenerSQLExecutionStart => execFrame(x.executionId) = frame(x.details)
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stageQ.add(Stage(i.stageId, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), i.numTasks, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, frame(i.details)))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
    val at = if (phases.isEmpty) System.currentTimeMillis()
      else phases.values.map(_.startTimeMs).min
    planQ.add(Plan(at, ms("analysis") + ms("optimization") + ms("planning")))
  }

  private def jobs = jobQ.asScala.toSeq.sortBy(_.startMs)
  private def stages = stageQ.asScala.toSeq

  /** The completed stages of `js`, each attributed to its own engine
    * frame or else to its query's. */
  private def stagesOf(js: Seq[Job]): Seq[Stage] = {
    val owner = js.flatMap(j => j.stageIds.map(_ -> j.execFrame)).toMap
    stages.filter(s => owner.contains(s.id)).map(s =>
      if (s.frame != "other") s else s.copy(frame = owner(s.id)))
  }

  /** Per-layer metrics of one traced pass. */
  def passMetrics(p: Pass): Map[String, Double] = {
    val js = within(jobs, p.startMs, p.endMs)
    val ss = stagesOf(js)
    val wall = p.seconds
    val run = ss.map(_.runMs).sum / 1e3
    val tasks = ss.map(_.tasks).sum.toDouble
    val busy = union(js.map(j => (j.startMs max p.startMs, j.endMs min p.endMs))) / 1e3
    val base = Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.tasks" -> tasks,
      "spark.tasks_per_job" -> (if (js.isEmpty) 0.0 else tasks / js.size),
      "spark.exec_run_s" -> run,
      "spark.exec_cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ss.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> ss.map(_.shuffleRead).sum / 1e6,
      "spark.shuffle_write_mb" -> ss.map(_.shuffleWrite).sum / 1e6,
      "spark.spill_mb" -> ss.map(_.spill).sum / 1e6,
      "spark.driver_gap_s" -> math.max(0.0, wall - busy),
      "spark.core_util" -> run / (wall * cores),
      "plan.planning_ms" -> planQ.asScala.filter(x => x.atMs >= p.startMs &&
        x.atMs <= p.endMs).map(_.ms).sum.toDouble,
      "codec.decode_s" -> js.filter(j => DecodeJob.findFirstIn(j.desc).isDefined)
        .map(j => j.endMs - j.startMs).sum / 1e3)
    val ops = ss.groupBy(_.frame).map { case (f, xs) =>
      s"op.${f}_exec_s" -> xs.map(_.runMs).sum / 1e3 }
    val ingestWaves = p.calls.filter(c => c.kind == "wave" && c.name.startsWith("ingest."))
    val waveJobs =
      if (ingestWaves.isEmpty) Map.empty[String, Double]
      else Map("ingest.wave_jobs" -> Stats.median(ingestWaves.map(c =>
        within(js, c.startMs, c.endMs).size.toDouble).toSeq))
    base ++ ops ++ waveJobs
  }

  /** Spans of the traced passes: pass → call → job → stage, each with its
    * self time (its duration minus what its children cover). */
  def spans(passes: Seq[Pass]): Seq[Map[String, Any]] = {
    val allJobs = jobs
    passes.flatMap { p =>
      val pid = s"pass${p.index}"
      val callSpans = p.calls.zipWithIndex.flatMap { case (c, ci) =>
        val cid = s"$pid.c$ci"
        val cj = within(allJobs, c.startMs, c.endMs)
        val jobSpans = cj.flatMap { j =>
          val jid = s"job${j.id}"
          val js = stagesOf(Seq(j))
          span(jid, cid, "job", if (j.desc.nonEmpty) j.desc else s"job ${j.id}",
            j.startMs, j.endMs, js.map(s => (s.startMs, s.endMs))) +:
            js.map(s => span(s"stage${s.id}", jid, "stage", s.frame, s.startMs,
              s.endMs, Nil) ++ Map("tasks" -> s.tasks, "exec_run_ms" -> s.runMs))
        }
        span(cid, pid, "call", c.name, c.startMs, c.endMs,
          cj.map(j => (j.startMs, j.endMs))) +: jobSpans
      }
      span(pid, "", "pass", s"${p.phase} pass ${p.index}", p.startMs, p.endMs,
        p.calls.map(c => (c.startMs, c.endMs)).toSeq) +: callSpans
    }
  }

  private def span(id: String, parent: String, kind: String, name: String,
      start: Long, end: Long, children: Seq[(Long, Long)]): Map[String, Any] =
    Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "start_ms" -> start, "end_ms" -> end,
      "self_ms" -> ((end - start) - union(children.map { case (a, b) =>
        (a max start, b min end) })))

  /** Write the spans (one JSON object per line) and the per-layer table:
    * per engine call and per engine frame, the time per pass, self time,
    * jobs and executor time. */
  def write(dir: File, name: String, passes: Seq[Pass]): Unit = {
    dir.mkdirs()
    val all = spans(passes)
    val w = new PrintWriter(new File(dir, s"$name.spans.jsonl"), "UTF-8")
    try all.foreach(s => w.println(Json.line(s))) finally w.close()
    val n = passes.size.max(1).toDouble
    val calls = all.filter(_("kind") == "call").groupBy(_("name").toString)
    val jobsOf = all.filter(_("kind") == "job").groupBy(_("parent").toString)
    val t = new PrintWriter(new File(dir, s"$name.layers.md"), "UTF-8")
    try {
      t.println(s"# $name: per-layer table (means over ${passes.size} traced passes)\n")
      t.println("| engine call | calls/pass | wall s/pass | self s/pass | jobs/pass |")
      t.println("|---|---|---|---|---|")
      calls.toSeq.sortBy(_._1).foreach { case (c, xs) =>
        def sum(k: String) = xs.map(x => x(k).asInstanceOf[Long]).sum / n / 1e3
        val wall = xs.map(x => x("end_ms").asInstanceOf[Long] - x("start_ms").asInstanceOf[Long]).sum / n / 1e3
        val nj = xs.map(x => jobsOf.getOrElse(x("id").toString, Nil).size).sum / n
        t.println(f"| $c | ${xs.size / n}%.1f | $wall%.3f | ${sum("self_ms")}%.3f | $nj%.1f |")
      }
      t.println("\n| engine frame (stage call site) | executor s/pass | stages/pass |")
      t.println("|---|---|---|")
      all.filter(_("kind") == "stage").groupBy(_("name").toString).toSeq.sortBy(_._1).foreach { case (f, xs) =>
        val ex = xs.map(_("exec_run_ms").asInstanceOf[Long]).sum / n / 1e3
        t.println(f"| $f | $ex%.3f | ${xs.size / n}%.1f |")
      }
    } finally t.close()
  }
}

object Tracer {
  final case class Job(id: Int, startMs: Long, endMs: Long, desc: String,
      stageIds: Seq[Int], execFrame: String)
  final case class Stage(id: Int, startMs: Long, endMs: Long, tasks: Int,
      runMs: Long, cpuNs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, frame: String)
  final case class Plan(atMs: Long, ms: Long)

  private val DecodeJob = "media wave \\d+: decode".r

  /** The engine object of the first `graft.` frame in a stage's call
    * site (`graft.operators.Dedup$.minhashDedup(...)` → `Dedup`). */
  def frame(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.tools."))
      .map { l =>
        val parts = l.takeWhile(_ != '(').split('.')
        parts(parts.length - 2).takeWhile(_ != '$')
      }.getOrElse("other")

  def within(js: Seq[Job], from: Long, to: Long): Seq[Job] =
    js.filter(j => j.startMs >= from && j.startMs <= to)

  /** Total length of the union of [start, end] intervals. */
  def union(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = curE max b
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
