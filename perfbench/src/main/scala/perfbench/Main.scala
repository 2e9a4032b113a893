package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** JVM side of one benchmark run; `perfbench/run.py` generates the
  * inputs, launches this and turns its result line into metrics.
  *
  * Args: workload seed seconds trace(0|1) dataDir workDir cores.
  *
  * A run is: session start and one untimed warm-up pass (the set-up),
  * an untimed verification pass over the warm-up's inputs and outputs,
  * then timed passes until `seconds` have elapsed (at least one). With
  * trace 1 the timed passes alternate untraced and traced,
  * at least three, so the traced run also measures its own overhead;
  * spans go to
  * `workDir/spans.jsonl`. The last stdout line is
  * `PERFBENCH_RESULT <json>`.
  */
object Main {
  final case class OpRun(name: String, ms: Double, ok: Boolean)
  final case class PassRun(traced: Boolean, wallS: Double, ops: Seq[OpRun])

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, data, work, cores) = args
    val (seed, seconds, trace) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Memory.install()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftConf.tune(spark)
    val w = new Workloads(spark, data, work)
    val tracer = new Tracer(spark)
    System.err.println(s"[perfbench] session up ${(System.currentTimeMillis() - jvmStart) / 1000.0} s after JVM start")

    // The class-data-sharing training run of the build: the warm-up and
    // verification passes of every workload over tiny inputs, so the
    // archive holds the classes all workloads load.
    if (workload == "train") {
      for (wl <- Workloads.names) {
        w.warm(w.pass(wl, seed, 0))
        w.verify(wl, w.pass(wl, seed, 0))
      }
      spark.stop()
      return
    }

    // ---- set-up: the warm-up pass ----
    val warmFailed = w.warm(w.pass(workload, seed, 0))
    val readyMs = System.currentTimeMillis()
    System.err.println(s"[perfbench] warm-up done ${(readyMs - jvmStart) / 1000.0} s after JVM start")

    // ---- verification, untimed: outside set-up and the timed passes. It
    // reruns the ops with an oracle twin, so it also warms their code a
    // second time before the timed passes ----
    val (verifyFailed, checks, oracle) = w.verify(workload, w.pass(workload, seed, 0))
    System.err.println(s"[perfbench] verification done ${(System.currentTimeMillis() - jvmStart) / 1000.0} s after JVM start")

    // ---- timed passes ----
    val passes = mutable.ArrayBuffer.empty[PassRun]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // A traced run times at least untraced, traced, untraced: JIT is still
    // speeding passes up, and the untraced passes on both sides of the
    // traced one cancel that trend out of the overhead ratio.
    def need = passes.isEmpty || elapsed < seconds || (trace && passes.size < 3)
    var runId = 0
    if (trace) runId = tracer.open(0, "", "run")
    while (need) {
      val i = passes.size + 1
      val traced = trace && i % 2 == 0
      spark.catalog.clearCache()
      val ops = w.pass(workload, seed, i)
      if (traced) tracer.attach()
      val passId = if (traced) tracer.open(runId, "", "pass") else 0
      val p0 = System.nanoTime()
      val runs = ops.zipWithIndex.map { case (op, k) =>
        val id = s"p$i.$k.${op.name}"
        if (traced) spark.sparkContext.setJobGroup(id, op.name)
        val opSpan = if (traced) tracer.open(passId, id, "op") else 0
        val s = System.nanoTime()
        var buildSpan, actSpan = 0
        val ok = try {
          if (traced) buildSpan = tracer.open(opSpan, id, "build")
          val df = op.build()
          if (traced) { tracer.close(buildSpan); actSpan = tracer.open(opSpan, id, op.kind) }
          op.act(df)
          true
        } catch { case t: Throwable =>
          System.err.println(s"[perfbench] op ${op.name} failed: $t"); false
        }
        val ms = (System.nanoTime() - s) / 1e6
        if (traced) {
          val end = tracer.now()
          if (buildSpan != 0 && actSpan == 0) tracer.close(buildSpan, at = end)
          if (actSpan != 0) tracer.close(actSpan, at = end)
          if (actSpan != 0) tracer.collectOp(id, buildSpan, actSpan)
          tracer.close(opSpan, Map("name" -> op.name, "kind" -> op.kind, "ok" -> ok,
            "out" -> op.out), at = end)
          spark.sparkContext.clearJobGroup()
        }
        OpRun(op.name, ms, ok)
      }
      val wall = (System.nanoTime() - p0) / 1e9
      if (traced) { tracer.close(passId, Map("index" -> i)); tracer.detach() }
      passes += PassRun(traced, wall, runs)
      System.err.println(s"[perfbench] pass $i traced=$traced $wall s")
    }

    // memory up to the end of the timed passes
    val (peakRss, peakHeap) = (Memory.peakRssMb(), Memory.peakHeapMb)
    val extra = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      tracer.close(runId, Map("workload" -> workload, "seed" -> seed))
      if (workload == "text_curation") extra("q13b_candidate_pairs") = w.q13bCandidatePairs()
      val lines = tracer.spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end,
        "attrs" -> s.attrs)))
      Files.writeString(Paths.get(s"$work/spans.jsonl"), lines.mkString("", "\n", "\n"))
    }
    Files.createDirectories(Paths.get(s"$work/verify"))
    Files.writeString(Paths.get(s"$work/verify/oracle_sql.json"), Json(oracle))
    spark.stop()

    val result = Map(
      "ready_ms" -> readyMs,
      "cores" -> cores.toInt,
      "op_failed" -> (warmFailed ++ verifyFailed),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "passes" -> passes.map(p => Map("traced" -> p.traced, "wall_s" -> p.wallS,
        "ops" -> p.ops.map(o => Map("name" -> o.name, "ms" -> o.ms, "ok" -> o.ok)))),
      "peak_rss_mb" -> peakRss,
      "peak_heap_mb" -> peakHeap,
      "extra" -> extra.toMap)
    println("PERFBENCH_RESULT " + Json(result))
  }
}

/** Minimal JSON encoder for the result line and the span file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case i: Iterable[_] => i.map(apply).mkString("[", ",", "]")
    case o => apply(o.toString)
  }
}

/** The JVM's peak memory. `peakRssMb` is VmHWM, the resident pages of
  * heap, metaspace, code and off-heap buffers. `peakHeapMb` is the
  * largest heap occupancy right after a garbage collection: the data
  * the program keeps alive, which the fixed heap size does not set.
  */
object Memory {
  private val maxAfterGc = new AtomicLong

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, handback: AnyRef): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            maxAfterGc.accumulateAndGet(used, math.max(_, _))
          }
      }, null, null)
      case _ =>
    }

  def peakHeapMb: Double = maxAfterGc.get / 1048576.0

  def peakRssMb(): Double = {
    val l = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    l.split("\\s+")(1).toDouble / 1024.0
  }
}
