package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark harness: one JVM, one session built the way
  * the engine builds it, one thread issuing engine calls back to back
  * (a closed loop with one client).
  *
  * Set-up stages the inputs and runs a fixed number of warm-up passes
  * (chosen per workload from measured pass-time curves); the timed
  * passes then run untraced for `--seconds`; with `--trace 1` they
  * alternate with passes under the tracer, at least two of each.
  * Every pass is checked and cleaned up off the clock. The result is one
  * JSON file; `run.py` turns it into the benchmark's output line. */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Ms = a("t0-ms").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val in = a("input")
    val out = s"$work/out"
    val wl: Workload = a("workload") match {
      case "medallion_batch" => new MedallionBatch(spark, in, out, new File(a("truth")))
      case "ingest_waves" => new IngestWaves(spark, in, out, new File(a("truth")),
        a("variants-per-scene").toInt, a("corrupt-every").toInt)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    HeapPeak.install()

    val setup = new Pass(0, "setup")
    setup.call("stage inputs", "setup")(wl.stage())
    setup.calls.foreach(c => System.err.println(f"[perfbench] session up at " +
      f"${(c.startMs - t0Ms) / 1e3}%.1f s, staged in ${c.seconds}%.1f s"))
    val warm = (1 to a("warmup").toInt).map(i => onePass(spark, wl, i, "warmup"))
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3

    // with --trace 1 untraced and traced passes alternate in pairs whose
    // order flips from one pair to the next (u t, t u, ...), so the JVM's
    // remaining warm-up drift cancels out of the tracing overhead
    val tracer = if (trace) Some(new Tracer(cores)) else None
    val minPasses = if (trace) a("min-passes").toInt.max(2) else a("min-passes").toInt
    val (timed, traced) = {
      val ts, tr = mutable.ArrayBuffer.empty[Pass]
      while (ts.size < minPasses || ts.map(_.seconds).sum < seconds) {
        val i = ts.size + 1
        tracer match {
          case None => ts += onePass(spark, wl, i, "timed")
          case Some(t) if i % 2 == 1 =>
            ts += onePass(spark, wl, i, "timed"); tr += tracedPass(spark, wl, t, i)
          case Some(t) =>
            tr += tracedPass(spark, wl, t, i); ts += onePass(spark, wl, i, "timed")
        }
      }
      (ts.toSeq, tr.toSeq)
    }
    val perLayer = tracer.fold(Map.empty[String, Double]) { t =>
      t.write(new File(a("traces")), a("workload"), traced)
      layerMetrics(traced, timed, t)
    }

    val all = Seq(setup) ++ warm ++ timed ++ traced
    val slowest = all.map(_.seconds).max
    // a pass with a failure counts at no less than the slowest pass seen
    def runS(p: Pass) = if (p.failures.isEmpty) p.seconds else math.max(p.seconds, slowest)
    val units = timed.flatMap(wl.units)
    val result = Map(
      "workload" -> a("workload"), "seed" -> a("seed").toLong, "cores" -> cores,
      "setup_s" -> setupS,
      "run_s" -> Stats.median(timed.map(runS)),
      "call_p50_s" -> Stats.median(units),
      "heap_peak_mb" -> timed.map(_.counters("heap_peak_mb")).max,
      "stored_bytes_per_input_byte" ->
        Stats.median(timed.map(_.counters("stored_bytes"))) / wl.inputBytes,
      "samples" -> Map("run_s" -> timed.size, "call_p50_s" -> units.size,
        "warmup_passes" -> warm.size, "traced_passes" -> traced.size),
      "input_bytes" -> wl.inputBytes,
      "pass_seconds" -> Map("warmup" -> warm.map(_.seconds),
        "timed" -> timed.map(_.seconds), "traced" -> traced.map(_.seconds)),
      "per_layer" -> perLayer,
      "attempted" -> all.map(_.attempted).sum,
      "failed" -> all.map(_.failures.size).sum,
      "failures" -> all.flatMap(_.failures).take(50))
    Json.write(new File(a("result")), result)
    spark.stop()
  }

  /** One pass: the timed engine calls, then off the clock the stored-size
    * reading, the output checks, the heap reading and the cleanup. */
  private def onePass(spark: SparkSession, wl: Workload, i: Int,
      phase: String): Pass = {
    val p = new Pass(i, phase)
    val heap = HeapPeak.start()
    p.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    wl.run(p)
    p.seconds = (System.nanoTime() - t0) / 1e9
    p.endMs = System.currentTimeMillis()
    val heapEnd = HeapPeak.uptimeMs()
    p.counters("stored_bytes") = wl.storedDirs.map(d => Workloads.du(new File(d))).sum.toDouble
    wl.verify(p)
    // read after the checks, by when the collectors have delivered the
    // notifications of every collection in the pass
    p.counters("heap_peak_mb") = heap.peak(heapEnd) / 1e6
    wl.cleanup(spark)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
    System.err.println(f"[perfbench] $phase pass $i: ${p.seconds}%.3f s, " +
      s"${p.failures.size} failures")
    p.calls.foreach(c => System.err.println(f"[perfbench]   ${c.name} ${c.seconds}%.3f s"))
    p.failures.foreach(f => System.err.println(s"[perfbench]   $f"))
    p
  }

  /** One pass with the tracer's listeners registered from outside the
    * engine, removed again once every event of the pass is delivered. */
  private def tracedPass(spark: SparkSession, wl: Workload, tracer: Tracer,
      i: Int): Pass = {
    // the default call-site depth (20 frames) ends inside Spark SQL,
    // before the engine frame a stage is attributed to
    System.setProperty("spark.callstack.depth", "400")
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    try onePass(spark, wl, i, "traced")
    finally {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(tracer)
      spark.sparkContext.removeSparkListener(tracer)
      System.clearProperty("spark.callstack.depth")
    }
  }

  /** Per-layer metrics: medians over the traced passes. */
  private def layerMetrics(traced: Seq[Pass], untraced: Seq[Pass],
      tracer: Tracer): Map[String, Double] = {
    def med(f: Pass => Double) = Stats.median(traced.map(f))
    def callS(p: Pass, pred: Pass.Call => Boolean) = p.calls.filter(pred).map(_.seconds).sum
    def ratio(p: Pass, num: String, den: String) =
      p.counters.getOrElse(num, 0.0) / math.max(1.0, p.counters.getOrElse(den, 0.0))
    val perPass = traced.map(tracer.passMetrics)
    val keys = perPass.flatMap(_.keys).distinct
    val spark = keys.map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))).toMap
    val calls = traced.flatMap(_.calls.map(_.name)).distinct
      .filter(_.startsWith("medallion."))
      .map(n => s"${n}_s" -> med(callS(_, _.name == n))).toMap
    spark ++ calls ++ Map(
      "dedup.keep_ratio" -> med(_.counters.getOrElse("dedup.keep_ratio", 0.0)),
      "ingest.accept_ratio" -> med(ratio(_, "ingest.accepted", "ingest.incoming")),
      "ingest.takedown_s" -> med(callS(_, _.kind == "takedown")),
      "codec.decoded_ratio" -> med(ratio(_, "codec.decoded", "codec.incoming")),
      "trace.overhead_s" -> Stats.median(traced.zip(untraced).map { case (t, u) =>
        t.seconds - u.seconds }))
  }
}

/** Driver heap peak: the old generation's occupancy after each garbage
  * collection, as the collectors report it in their notifications. */
object HeapPeak {
  /** (JVM uptime at the collection's end in ms, old-generation bytes). */
  private val seen = new ConcurrentLinkedQueue[(Long, Long)]()
  private def oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(m => m.getType == MemoryType.HEAP && m.getName.contains("Old"))

  def uptimeMs(): Long = ManagementFactory.getRuntimeMXBean.getUptime

  def install(): Unit = {
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val old = gc.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if pool.contains("Old") => u.getUsed }.sum
        seen.add((gc.getEndTime, old))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Starts a window at the current old-generation occupancy. */
  def start(): Window = new Window(uptimeMs(), oldPools.map(_.getUsage.getUsed).sum)

  final class Window(fromMs: Long, atStart: Long) {
    /** The largest occupancy after a collection that ended in the window,
      * or at its start. */
    def peak(toMs: Long): Long =
      (atStart +: seen.asScala.toSeq.collect {
        case (end, used) if end >= fromMs && end <= toMs => used }).max
  }
}
