package graft.tools

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{GraftSession, SparkEntry}

/** Optimization-round diagnostic: run one [[SparkEntry.queries]] entry
  * (plus the noop force, i.e. exactly what `graft.Bench` times) and
  * print the chronological JOB timeline — per-job wall duration, the
  * DRIVER-SIDE GAP since the previous job ended (planning, catalog
  * DDL, commit protocol, file listing — everything that is not a
  * job), and the job's call site — so the expensive segment of a
  * composed pipeline is attributable instead of guessed. Guide §1:
  * measure first, empirically, at the job level.
  *
  * {{{
  * sbt "runMain graft.tools.JobProbe q146_media_wave_ingest /root/testdata/sf0.1 [runs]"
  * }}}
  *
  * Pure diagnostic: never touches BENCH.json, runs whatever core count
  * SPARK_GRAFT_CPUS says (default all), warms the query once when
  * `runs` > 1 so steady-state jobs are what gets printed (the bench's
  * best-of-2 stance).
  *
  * Precision caveat: SparkListener events arrive asynchronously on the
  * listener bus, so flipping `capture` right around the measured run
  * can record straggler warm-up jobs or drop tail events. The short
  * sleeps around the toggles drain the bus in practice; treat the
  * job-ms sum and stage table as diagnostic-grade (±a few events),
  * not artifact-grade.
  */
object JobProbe {

  final case class JobRow(jobId: Int, start: Long, end: Long, site: String)
  final case class StageRow(stageId: Int, name: String, tasks: Int, ms: Long,
      runMs: Long, inMB: Double, srMB: Double, swMB: Double)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProbe <queryName> <sfDir> [runs]")
    val name = args(0); val sfDir = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.get(s"local[$cpus]", cpus.toInt)

    val jobStart = TrieMap.empty[Int, (Long, String)]
    val stageJob = TrieMap.empty[Int, Int]
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[JobRow]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    @volatile var capture = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (capture) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
        val site = desc
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .orElse(e.stageInfos.lastOption.map(_.details.linesIterator
            .find(l => l.contains("graft.") && !l.contains("graft.tools"))
            .getOrElse("").trim))
          .getOrElse("")
        jobStart(e.jobId) = (e.time, site)
        e.stageInfos.foreach(si => stageJob(si.stageId) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (capture) {
        jobStart.remove(e.jobId).foreach { case (t0, site) =>
          rows.add(JobRow(e.jobId, t0, e.time, site))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (capture) {
        val i = e.stageInfo; val m = i.taskMetrics
        val ms = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
        val where = i.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("graft.tools"))
          .getOrElse(i.name.takeWhile(_ != '\n')).trim
        stages.add(StageRow(i.stageId, where, i.numTasks, ms,
          m.executorRunTime, m.inputMetrics.bytesRead / 1e6,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6))
      }
    })

    def runOnce(): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    // warm-up pass (codegen/JIT) unless runs == 1
    if (runs > 1) runOnce()
    Thread.sleep(500) // drain straggler warm-up events off the bus
    rows.clear(); jobStart.clear(); stages.clear()
    capture = true
    val wall = runOnce()
    Thread.sleep(500) // let tail job/stage-completed events land
    capture = false

    val all = rows.toArray(Array.empty[JobRow]).sortBy(_.start)
    val sumMs = all.map(r => r.end - r.start).sum
    println(f"== $name wall=$wall%.2f s, jobs=${all.length}, job-ms-sum=$sumMs")
    var prevEnd = all.headOption.map(_.start).getOrElse(0L)
    all.foreach { r =>
      val gap = r.start - prevEnd
      prevEnd = math.max(prevEnd, r.end)
      val mark = if (gap > 100) f"  <<< gap=$gap%d ms" else ""
      println(f"job=${r.jobId}%-4d ${r.end - r.start}%6d ms  ${r.site.take(90)}%-90s$mark")
    }
    println("-- top stages by wall --")
    stages.toArray(Array.empty[StageRow]).sortBy(-_.ms).take(25).foreach { s =>
      val j = stageJob.getOrElse(s.stageId, -1)
      println(f"stage=${s.stageId}%-5d job=$j%-4d ${s.ms}%6d ms tasks=${s.tasks}%-4d execSum=${s.runMs}%7d ms in=${s.inMB}%8.1f MB sr=${s.srMB}%8.1f MB sw=${s.swMB}%8.1f MB  ${s.name.take(70)}")
    }
    spark.stop()
  }
}
