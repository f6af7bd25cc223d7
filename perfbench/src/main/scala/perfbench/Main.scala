package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Observation, SparkSession}

/** Closed-loop benchmark driver: one client thread runs a workload's ops
  * one at a time against a `local[nproc]` session, so every Spark job
  * that starts inside an op's window belongs to that op.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <testdata dir> --work <scratch dir> --digests <file>
  *      --spans <file the traced run writes its spans to>
  * }}}
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics. Traced, it
  * alternates untraced and traced cycles: the traced ones attach a
  * SparkListener, a QueryExecutionListener and a codegen-fallback log
  * counter and yield the per-layer metrics; the ratio of the two cycle
  * walls is `trace.overhead`. The last stdout line is the result JSON.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, digests: String,
      spans: String)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad argument ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace $t")
      }, get("data"), get("work"), get("digests"), get("spans"))
  }

  /** One timed op: its two phase walls and whether it passed. */
  final case class OpRun(buildS: Double, actionS: Double, ok: Boolean,
      quality: Seq[(String, Double)])

  /** One pass over the op list. */
  final case class CycleRun(wallS: Double, ops: Seq[OpRun],
      layers: Option[Map[String, Double]]) {
    def ok: Boolean = ops.forall(_.ok)
  }

  def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val ok = new Bench(a).run()
    sys.exit(if (ok) 0 else 1)
  }

  def readDigests(path: String): Map[String, String] =
    scala.io.Source.fromFile(path).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap
}

final class Bench(a: Main.Args) {
  import Main._

  private val cores = Runtime.getRuntime.availableProcessors
  private val spans = new Spans
  private val listener = new LayerListener(spans)
  private var attempted = 0
  private var failed = 0
  /** First digest seen per op: later cycles of the run must repeat it. */
  private val firstDigest = scala.collection.mutable.Map.empty[String, String]

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ms2s(t0: Double, t1: Double) = (t1 - t0) / 1000.0

  /** Run one phase, timed; traced, its events land in `acc`. */
  private def phase[T](spark: SparkSession, acc: Option[PhaseAcc])(
      body: => T): T = {
    acc.foreach { p =>
      p.codegenFallbacks = -CodegenFallbacks.value
      p.start = spans.now
      listener.current = p
    }
    try body finally {
      val t1 = spans.now
      acc.foreach { p =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        listener.current = null
        p.end = t1
        p.codegenFallbacks += CodegenFallbacks.value
        spans.close(p.spanId, t1)
      }
    }
  }

  private def runOp(spark: SparkSession, wl: Workload, op: Op, cycleSpan: Int,
      traced: Boolean, accs: ArrayBuffer[PhaseAcc]): OpRun = {
    attempted += 1
    val opSpan =
      if (traced) spans.open(cycleSpan, "op", op.name, spans.now) else -1
    def acc(kind: String): Option[PhaseAcc] =
      if (!traced) None
      else {
        val p = new PhaseAcc(kind,
          spans.open(opSpan, kind, s"${op.name}.$kind", spans.now))
        accs += p
        Some(p)
      }
    try {
      val b0 = spans.now
      val thunk = phase(spark, acc(wl.phases._1))(op.build(spark))
      val b1 = spans.now
      val obs = Observation(s"perfbench_${op.name}_$attempted")
      phase(spark, acc(wl.phases._2)) {
        val df = thunk()
        val cols = Digest.columns(df) ++ op.observed
        df.observe(obs, cols.head, cols.tail: _*)
          .write.format("noop").mode("overwrite").save()
      }
      val a1 = spans.now
      val row = Obs(obs.get)
      val digest = Digest.of(row)
      val repeat = firstDigest.getOrElseUpdate(op.name, digest)
      val problems = op.check(row) ++
        (if (repeat == digest) Nil
         else Seq(s"${op.name} digest $digest differs from this run's " +
           s"first cycle ($repeat)"))
      problems.foreach(p => System.err.println(s"[perfbench] FAILED $p"))
      if (problems.nonEmpty) failed += 1
      OpRun(ms2s(b0, b1), ms2s(b1, a1), problems.isEmpty, op.quality(row))
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] FAILED ${op.name} threw: $e")
        failed += 1
        OpRun(0, 0, ok = false, Nil)
    } finally {
      // the same per-op state hygiene as graft.Bench.timeOnce: drop what
      // the op left pinned so the next op does not pay for its blocks
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      if (traced) spans.close(opSpan, spans.now)
    }
  }

  private def runCycle(spark: SparkSession, wl: Workload, k: Int,
      traced: Boolean): CycleRun = {
    val start = spans.now
    val cycleSpan =
      if (traced) spans.open(1, "cycle", s"cycle$k", start) else -1
    val accs = ArrayBuffer.empty[PhaseAcc]
    val ops = wl.ops.map(op => runOp(spark, wl, op, cycleSpan, traced, accs))
    val end = spans.now
    if (traced) spans.close(cycleSpan, end)
    val wall = ms2s(start, end)
    val layers = if (!traced) None else Some(LayerMetrics.of(accs.toSeq,
      wall, start, end, cores, wl.ops.map(_.trees).sum, wl.predictRows,
      ops.flatMap(_.quality).toMap))
    CycleRun(wall, ops, layers)
  }

  /** Resident-set high-water mark of this JVM, in MB. */
  private def peakRssMb: Double = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024.0)
    .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  def run(): Boolean = {
    val load0 = loadAvg
    spans.open(-1, "run", a.workload, spans.now) // span 0
    val expected = readDigests(a.digests)
    val wl = Workloads(a.workload, a.seed, a.data, a.work, expected)

    // set-up: a fresh session and the workload's inputs, three times
    // (median), then two untimed warm-up cycles: the first pass over an
    // op list runs 1.5-3x slow (JIT, codegen, stream staging) and the
    // second still 15-25% slow
    spans.open(0, "workload", a.workload, spans.now) // span 1
    var spark: SparkSession = null
    val setups = (1 to 3).map { _ =>
      val t0 = spans.now
      if (spark != null) spark.stop()
      spark = newSession()
      wl.prepare(spark)
      ms2s(t0, spans.now)
    }
    if (a.trace) CodegenFallbacks.install()
    val warm = (1 to 2).map(i => runCycle(spark, wl, -i, traced = false))
    val setupS = Stats.median(setups) + warm.map(_.wallS).sum

    // measured cycles: closed loop until --seconds have passed, and at
    // least two. Traced runs alternate untraced and traced cycles, at
    // least three, so the traced one sits between two untraced ones and
    // the overhead ratio does not read the warm-up drift as tracing cost.
    val cycles = ArrayBuffer.empty[CycleRun]
    val minCycles = if (a.trace) 3 else 2
    val m0 = spans.now
    var k = 1
    while (ms2s(m0, spans.now) < a.seconds || cycles.size < minCycles) {
      val traced = a.trace && k % 2 == 0
      if (traced) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      }
      cycles += runCycle(spark, wl, k, traced)
      if (traced) {
        spark.listenerManager.unregister(listener)
        spark.sparkContext.removeSparkListener(listener)
      }
      k += 1
    }
    spans.close(1, spans.now)
    spans.close(0, spans.now)
    val rss = peakRssMb
    spark.stop()

    val good = cycles.filter(_.ok).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (good.isEmpty) Nil
      else if (!a.trace) {
        def med(f: CycleRun => Double) = Stats.median(good.map(f))
        Seq(("setup_s", setupS, "s"),
          ("cycle_s", med(_.wallS), "s"),
          ("build_s", med(_.ops.map(_.buildS).sum), "s"),
          ("peak_rss_mb", rss, "MB"))
      } else {
        val traced = good.filter(_.layers.isDefined)
        val plain = good.filter(_.layers.isEmpty)
        if (traced.isEmpty || plain.isEmpty) Nil
        else {
          val overhead = Stats.median(traced.map(_.wallS)) /
            Stats.median(plain.map(_.wallS))
          LayerMetrics.units.map { case (name, unit) =>
            val v =
              if (name == "trace.overhead") overhead
              else Stats.median(traced.map(_.layers.get(name)))
            (name, v, unit)
          }
        }
      }

    // run stamp and human-readable report
    val nTraced = cycles.count(_.layers.isDefined)
    println(f"[perfbench] workload=${a.workload} seed=${a.seed} " +
      f"trace=${if (a.trace) 1 else 0} nproc=$cores " +
      f"load_start=$load0%.2f load_end=$loadAvg%.2f " +
      f"cycles=${cycles.size} traced_cycles=$nTraced " +
      f"setups=${setups.map(s => f"$s%.3f").mkString(",")} " +
      f"warmup_s=${warm.map(w => f"${w.wallS}%.3f").mkString(",")}")
    cycles.zipWithIndex.foreach { case (c, i) =>
      println(f"[perfbench] cycle ${i + 1} wall_s=${c.wallS}%.3f " +
        s"traced=${c.layers.isDefined} ok=${c.ok} ops=" +
        c.ops.map(o => f"${o.buildS}%.3f+${o.actionS}%.3f").mkString(" "))
    }
    metrics.foreach { case (n, v, u) =>
      println(f"[perfbench] metric $n%-28s $v%.6g $u")
    }
    if (a.trace) {
      spans.selfTimeByKind.foreach { case (kind, s, n) =>
        println(f"[perfbench] self_time $kind%-8s $s%.3f s over $n spans")
      }
      Files.createDirectories(Paths.get(a.spans).getParent)
      Files.writeString(Paths.get(a.spans), spans.toJsonLines)
    }

    val correct = failed == 0 && metrics.nonEmpty &&
      metrics.forall { case (_, v, _) => java.lang.Double.isFinite(v) }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": $v, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $json}""")
    correct
  }
}
