package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed span inside an op: which layer it called into, how long
  * it took, and (traced runs only) the Spark work it caused. */
final case class Span(layer: String, seconds: Double, stats: Option[PhaseStats])

/** One op execution. `phase` groups ops inside a pass ("op", or "cold",
  * "warm" and "check" for index_lifecycle; cold ops stay out of the op
  * percentiles); `cpu` is the CPU time the JVM used for it (see
  * [[Ctx.cpuNow]]). */
final case class OpRun(name: String, phase: String, wall: Double,
    cpu: Double, spans: Seq[Span], ok: Boolean)

/** What a check pass leaves for the DuckDB comparison in run.py. */
final case class Check(op: String, kind: String, fields: Map[String, String])

/** Per-op context the workloads call into: spans around each layer
  * call, and release of storage between ops. */
final class Ctx(val spark: SparkSession, val trace: Option[Trace]) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var untimedNs = 0L

  /** Run `body` inside a pass but outside its timing: work only a
    * check needs. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  def untimedSeconds: Double = untimedNs / 1e9

  def span[T](layer: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    val secs = (System.nanoTime() - t0) / 1e9
    spans += Span(layer, secs, trace.map(_.take()))
    out
  }

  /** Run one op: its spans, wall time and whether it threw. */
  def op(name: String, phase: String)(body: => Unit): OpRun = {
    releaseStorage()
    trace.foreach(_.take())
    spans.clear()
    val c0 = Ctx.cpuNow()
    val t0 = System.nanoTime()
    val ok = try { body; true } catch { case e: Throwable =>
      System.err.println(s"[perfbench] $name failed: $e")
      false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    OpRun(name, phase, wall, Ctx.cpuSince(c0), spans.toList, ok)
  }

  /** Drop cached plans and persisted / localCheckpoint blocks the
    * previous op left, outside any op's timing (graft.Bench does the
    * same before each timed query). */
  def releaseStorage(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }
}

/** A point to measure CPU time from: CPU nanoseconds per live Java
  * thread, and milliseconds the collectors have spent. */
final case class CpuMark(threads: Map[Long, Long], gcMs: Long)

object Ctx {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val collectors =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  /** CPU nanoseconds of every live Java thread (the driver, the local
    * executors' task threads and Spark's service threads), and the
    * collectors' summed collection time. JIT compiler threads are not
    * Java threads, so their work — which in a short-lived JVM varies
    * from run to run — is left out; so is time a busy host's
    * hypervisor steals from the vCPUs. */
  def cpuNow(): CpuMark = {
    val ids = threads.getAllThreadIds
    CpuMark(ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap,
      collectors.iterator.asScala.map(_.getCollectionTime.max(0L)).sum)
  }

  /** Seconds since `before`: CPU of the Java threads alive now
    * (threads started since count from zero) plus garbage-collection
    * time. A thread that ended in between is not counted. */
  def cpuSince(before: CpuMark): Double = {
    val now = cpuNow()
    now.threads.iterator.map { case (id, t) =>
      t - before.threads.getOrElse(id, 0L) }.sum / 1e9 +
      (now.gcMs - before.gcMs) / 1e3
  }
}

/** A workload: fresh inputs per pass, and the ops of one pass. */
trait Workload {
  /** Prepare one pass's inputs under `dir` (timed as set-up). */
  def setup(dir: File): Unit
  /** Run one pass over the inputs in `dir`. With `check` set (the
    * first timed pass), also leave under it what the DuckDB comparison
    * needs, doing any work only the check needs in [[Ctx.untimed]]. */
  def pass(ctx: Ctx, dir: File, passNo: Int, check: Option[File]): PassOut
  /** Checks the checked pass left. */
  def checks: Seq[Check]
  /** Timed passes a run makes at least, whatever `--seconds` says. */
  def minPasses: Int = 1
  /** Untimed passes before the timed ones, so the JIT has compiled the
    * hot paths before timing starts. */
  def warmupPasses: Int = 0
}

object Main {
  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val data = new File(arg(args, "--data"))
    val work = new File(arg(args, "--work"))
    val out = Paths.get(arg(args, "--out"))

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val trace = if (traced) Some(Trace.attach(spark)) else None
      val wl: Workload = workload match {
        case "index_lifecycle" => new IndexLifecycle(spark, data, seed)
        case "node_chain" => new NodeChain(spark, data, seed)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val result = run(new Ctx(spark, trace), wl, work, seconds, cores)
      val probe = if (traced) KernelProbe.run(spark, data) else Map.empty[String, Double]
      Files.writeString(out, Json.obj(result ++ Seq(
        "probe" -> Json.num(probe),
        "checks" -> Json.arr(wl.checks.map(c => Json.obj(Seq(
          "op" -> Json.str(c.op), "kind" -> Json.str(c.kind)) ++
          c.fields.toSeq.sorted.map { case (k, v) => k -> Json.str(v) })))
      )))
    } finally spark.stop()
  }

  /** The measured run: untimed warm-up passes, then whole timed passes
    * until they add up to `seconds` (and at least `minPasses`), each on
    * fresh inputs whose preparation is timed as set-up. The first timed
    * pass is also the checked one. */
  def run(ctx: Ctx, wl: Workload, work: File, seconds: Double,
      cores: Int): Seq[(String, String)] = {
    val setupTimes = mutable.ArrayBuffer.empty[(Double, Double)]
    def fresh(n: Int): File = {
      val dir = new File(work, s"pass-$n")
      val (t0, c0) = (System.nanoTime(), Ctx.cpuNow())
      wl.setup(dir)
      setupTimes += (((System.nanoTime() - t0) / 1e9, Ctx.cpuSince(c0)))
      dir
    }
    def drop(dir: File): Unit = Inputs.delete(dir.toPath)

    def log(msg: String): Unit = println(f"[perfbench] t=${java.lang.management
      .ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $msg")
    log("session ready")
    val checkDir = new File(work, "check")
    // untimed ops: they count as attempted, and as failed if they fail
    val untimed = mutable.ArrayBuffer.empty[OpRun]
    var failures = 0
    for (i <- 1 to wl.warmupPasses) {
      val dir = fresh(-i)
      val out = wl.pass(ctx, dir, -i, None)
      untimed ++= out.runs
      failures += out.failures
      drop(dir)
    }
    log("warm-up done")

    val passes = mutable.ArrayBuffer.empty[Pass]
    var n = 1
    var more = true
    while (more) {
      val dir = fresh(n)
      val check = if (n == 1) Some(checkDir) else None
      val (p0, u0) = (System.nanoTime(), ctx.untimedSeconds)
      val out = wl.pass(ctx, dir, n, check)
      val wall = (System.nanoTime() - p0) / 1e9 - (ctx.untimedSeconds - u0)
      passes += Pass(out.runs, wall, out.runs.map(_.cpu).sum, out.metrics, out.layers)
      untimed ++= out.checkRuns
      failures += out.failures
      more = passes.length < wl.minPasses || passes.map(_.wall).sum < seconds
      if (check.isEmpty) drop(dir)  // the checked pass's files are compared later
      log(f"pass $n done in $wall%.2fs")
      n += 1
    }
    // set-up is reported as a median: prepare (and discard) extra
    // inputs until there are at least three samples
    while (setupTimes.length < 3) { drop(fresh(n)); n += 1 }

    log("set-up samples done")
    // a second collection after the asynchronous unpersists settle
    ctx.releaseStorage()
    System.gc()
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0

    val timed = passes.flatMap(_.runs)
    val sampled = timed.filter(r => r.ok && r.phase != "cold")
    val samples = sampled.map(_.wall).sorted
    val np = passes.length.toDouble
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    metrics("setup_s") = (Stats.median(setupTimes.map(_._2).toSeq), "s", setupTimes.length)
    metrics("setup_wall_s") = (Stats.median(setupTimes.map(_._1).toSeq), "s", setupTimes.length)
    metrics("wall_s") = (Stats.median(passes.map(_.wall).toSeq), "s", passes.length)
    metrics("op_s.p50") = (Stats.quantile(samples.toSeq, 0.5), "s", samples.length)
    val (tailQ, tail) = Stats.tail(samples.toSeq)
    metrics("op_s.tail") = (tail, "s", samples.length)
    metrics("heap_retained_mb") = (heapMb, "MB", 1)
    metrics("cpu_s") = (Stats.median(passes.map(_.cpu).toSeq), "s", passes.length)
    metrics("op_cpu_s.p50") = (Stats.median(sampled.map(_.cpu).toSeq), "s", sampled.length)
    val extra = passes.flatMap(_.metrics.keys).distinct
    extra.foreach { k =>
      val unit = if (k.endsWith("_s")) "s" else "ratio"
      metrics(k) = (Stats.median(passes.flatMap(_.metrics.get(k)).toSeq), unit, passes.length)
    }

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (ctx.trace.isDefined) {
      def sumSpans(f: Span => Boolean)(g: Span => Double): Double =
        timed.flatMap(_.spans).filter(f).map(g).sum / np
      def st(s: Span) = s.stats.getOrElse(new PhaseStats)
      val all = (_: Span) => true
      val isBuild = (s: Span) => s.layer == "driver.build"
      layers("driver.build_s") = sumSpans(isBuild)(_.seconds)
      layers("driver.jobs") = sumSpans(isBuild)(st(_).jobs.toDouble)
      layers("driver.plan_s") = sumSpans(all)(st(_).planMs / 1000.0)
      // seconds of each op during which at least one stage ran
      val busy = timed.map { r =>
        val merged = new PhaseStats
        r.spans.foreach(s => merged.add(st(s)))
        merged.busySeconds
      }
      layers("driver.gap_s") = timed.map(_.wall).zip(busy)
        .map { case (w, b) => w - b }.sum / np
      val taskS = sumSpans(all)(st(_).taskMs / 1000.0)
      val busyS = busy.sum / np
      layers("exec.task_s") = taskS
      layers("exec.cpu_s") = sumSpans(all)(st(_).cpuNs / 1e9)
      layers("exec.gc_s") = sumSpans(all)(st(_).gcMs / 1000.0)
      layers("exec.tasks") = sumSpans(all)(st(_).tasks.toDouble)
      layers("exec.par_eff") = if (busyS > 0) taskS / (busyS * cores) else 0.0
      layers("exec.shuffle_mb") = sumSpans(all)(st(_).shuffleBytes / 1048576.0)
      layers("exec.spill_mb") = sumSpans(all)(st(_).spillBytes / 1048576.0)
      layers("exec.input_rows") = sumSpans(all)(st(_).inputRows.toDouble)
      Seq("catalog.load", "io.store.write", "udf.pmml").foreach { l =>
        layers(s"$l" + "_s") = sumSpans(_.layer == l)(_.seconds)
      }
      passes.flatMap(_.layers.keys).distinct.foreach { k =>
        layers(k) = Stats.median(passes.flatMap(_.layers.get(k)).toSeq)
      }
      val wallSum = passes.map(_.wall).sum
      layers("trace.wall_s") = Stats.median(passes.map(_.wall).toSeq)
      layers("trace.overhead_pct") =
        100.0 * ctx.trace.get.overheadNs.get / 1e9 / (wallSum + 1e-9)
    }

    val all = (untimed ++ timed).toSeq
    Seq(
      "attempted" -> all.length.toString,
      "failed" -> (all.count(!_.ok) + failures).toString,
      "passes" -> passes.length.toString,
      "tail_q" -> Json.num(tailQ),
      "ops" -> Json.arr(all.map(r => Json.obj(Seq(
        "name" -> Json.str(r.name), "phase" -> Json.str(r.phase),
        "wall" -> Json.num(r.wall), "cpu" -> Json.num(r.cpu),
        "ok" -> r.ok.toString)))),
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u, c)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u),
          "n" -> c.toString))
      }),
      "layers" -> Json.num(layers.toMap))
  }
}

/** What a workload's pass returns: its timed ops, the workload's own
  * end-to-end and per-layer figures for the pass, the untimed ops
  * only the check needed, and how many of the workload's own
  * invariants the pass broke. */
final case class PassOut(runs: Seq[OpRun],
    metrics: Map[String, Double] = Map.empty,
    layers: Map[String, Double] = Map.empty,
    checkRuns: Seq[OpRun] = Seq.empty,
    failures: Int = 0)

/** One timed pass: its ops, wall and CPU time, and the workload's own
  * end-to-end and per-layer figures for it. */
final case class Pass(runs: Seq[OpRun], wall: Double, cpu: Double,
    metrics: Map[String, Double], layers: Map[String, Double])

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  /** The highest of p99/p95/p90/p75/p50 with at least ten samples
    * beyond it (p50 when there are too few samples for any). */
  def tail(sorted: Seq[Double]): (Double, Double) = {
    val q = Seq(0.99, 0.95, 0.9, 0.75)
      .find(q => sorted.length * (1 - q) >= 10).getOrElse(0.5)
    (q, quantile(sorted, q))
  }
}

/** Minimal JSON rendering for the result file run.py reads. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def num(m: Map[String, Double]): String =
    obj(m.toSeq.sorted.map { case (k, v) => k -> num(v) })
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
