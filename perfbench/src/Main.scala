package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Outcome of one correctness check. */
final case class Check(name: String, ok: Boolean, detail: String = "")

/** One op kind of a workload. `cls` is "read", "write" or "op". Only
  * `run` is timed; it returns the verifier, which reads the op's outputs
  * afterwards and yields the records handled and the output checks.
  * `prepare` (fresh paths, copies of start state) is not timed either. */
final case class Op(kind: String, cls: String, run: () => Op.Verify,
                    prepare: () => Unit = () => ())
object Op { type Verify = () => (Long, Seq[Check]) }

final case class Sample(kind: String, cls: String, ms: Double, cpuMs: Double, records: Long,
                        failed: Boolean, leftovers: Int)

/** A closed-loop workload: set-up builds inputs and stores, `round` lists
  * the op kinds of one round in seeded order, `finish` runs end-of-run
  * checks. */
trait Workload {
  def setup(): Unit
  def round(r: Int): Seq[Op]
  /** Nominal time of one round on four cores. A run times as many whole
    * rounds as fit `--seconds` at this pace, so every run of a workload
    * times the same ops: a timed stop would let machine noise change the
    * op count, and with it the tail percentile. */
  def roundSeconds: Double
  /** The untimed warm-up: one op of every kind. */
  def warmup: Seq[Op] = round(-1)
  def finish(): Seq[Check] = Nil
  /** Extra report-only figures (never part of the JSON result). */
  def extras(samples: Seq[Sample]): Seq[(String, Double, String)] = Nil
}

final class Ctx(val spark: SparkSession, val root: Path, val seed: Long, val small: Boolean,
                val tracer: Tracer) {
  val gen = new Gen(spark, seed)
  def plugin(n: String): String = if (tracer.enabled) Wrappers.Prefix + n else n
  def write(p: Path, s: String): Path = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}

object Main {
  /** Per-layer metrics reported in the result line of a traced run: the
    * Spark engine counts of the timed ops, per op. Every workload loads
    * the engine, so each is measured on all four; the module-level table
    * (agent, sources, processors, sinks, operators, SparkEntry) goes to
    * the trace file and the report lines. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.planning_ms" -> "ms", "spark.sched_delay_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.input_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.shuffle_write_bytes" -> "bytes", "trace.op_p50_ms" -> "ms", "trace.spans" -> "count")

  /** The highest of these percentiles with at least ten ops beyond it. */
  private val TailLadder = Seq(99.0, 95.0, 90.0, 80.0, 75.0, 70.0, 60.0, 50.0)

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, small: Boolean, breakCheck: Option[String],
                        traceOut: Option[Path])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, m.get("scale").contains("small"),
      m.get("break-check"), m.get("trace-out").map(Paths.get(_).toAbsolutePath))
  }

  def quantile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val x = p / 100.0 * (sorted.size - 1)
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (x - lo)
    }

  /** (percentile, value) of the tail: the highest ladder percentile with
    * at least ten samples beyond it, else the maximum. */
  def tail(sorted: IndexedSeq[Double]): (Double, Double) =
    TailLadder.find(p => sorted.size * (1 - p / 100.0) >= 10.0)
      .map(p => p -> quantile(sorted, p)).getOrElse(100.0 -> sorted.last)

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def cpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def jsonMetrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors()
    val local = args.work.resolve("spark-local")
    Files.createDirectories(local)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "64")
      .config("spark.ui.retainedStages", "64")
      .config("spark.ui.retainedTasks", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val exit =
      try run(spark, args)
      finally spark.stop()
    sys.exit(exit)
  }

  private def run(spark: SparkSession, args: Args): Int = {
    val tracer = new Tracer(spark, args.trace)
    val meter = new Meter
    if (args.trace) meter.install(spark)
    val ctx = new Ctx(spark, args.work.resolve(args.workload), args.seed, args.small, tracer)
    val workload: Workload = args.workload match {
      case "catalog" => new Catalog(ctx)
      case "curation" => new Curation(ctx)
      case "search" => new Search(ctx)
      case "graded" => new Graded(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    args.breakCheck.foreach(b => Checks.broken = n => b == "all" || b.split(",").contains(n))

    val sessionMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val s0 = System.nanoTime()
    workload.setup()
    val setupMs = (System.nanoTime() - s0) / 1e6
    val failures = mutable.ArrayBuffer.empty[String]
    val failedChecks = mutable.SortedSet.empty[String]
    val samples = mutable.ArrayBuffer.empty[Sample]
    val warmOps = mutable.ArrayBuffer.empty[(String, Double)]
    var busyMs = 0.0
    var verifyMs = 0.0
    /** Run one op: time `run`, then verify its outputs untimed. */
    def runOp(op: Op, timed: Boolean): Unit = {
      op.prepare()
      val id = samples.size
      tracer.op = if (timed) id else -1
      val c0 = cpuMs()
      val t = System.nanoTime()
      val verify =
        try Right(tracer(s"op:${op.kind}", "bench")(op.run()))
        catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t) / 1e6
      val cpu = cpuMs() - c0
      tracer.op = -1
      val v0 = System.nanoTime()
      val (records, bad) =
        try verify match {
          case Right(v) =>
            val (n, checks) = v()
            failedChecks ++= checks.filterNot(_.ok).map(_.name)
            n -> checks.filterNot(_.ok).map(c => s"${c.name}: ${c.detail}")
          case Left(e) => 0L -> Seq(s"exception: ${e.getClass.getName}: ${e.getMessage}")
        } catch { case e: Exception => 0L -> Seq(s"verify exception: ${e.getClass.getName}: ${e.getMessage}") }
      if (args.trace) meter.drain(spark)
      val leftovers = dropLeftovers(spark)
      verifyMs += (System.nanoTime() - v0) / 1e6
      val where = if (timed) s"op $id" else "warm-up"
      bad.foreach(b => failures += s"$where ${op.kind}: $b")
      if (timed) {
        samples += Sample(op.kind, op.cls, ms, cpu, records, bad.nonEmpty, leftovers)
        busyMs += ms
      } else warmOps += op.kind -> ms
    }

    // the untimed warm-up; its outputs are checked like those of timed ops
    val t0 = System.nanoTime()
    workload.warmup.foreach(runOp(_, timed = false))
    val warmMs = (System.nanoTime() - t0) / 1e6
    val setupS = (sessionMs + setupMs + warmMs) / 1000.0
    tracer.spans.clear()
    tracer.counters.clear()
    meter.bySpan.clear()

    val rounds = math.max(1, math.ceil(args.seconds / workload.roundSeconds).toInt)
    (0 until rounds).foreach(r => workload.round(r).foreach(runOp(_, timed = true)))
    val f0 = System.nanoTime()
    val endChecks = workload.finish()
    val finishMs = (System.nanoTime() - f0) / 1e6
    endChecks.filterNot(_.ok).foreach { c =>
      failures += s"end: ${c.name}: ${c.detail}"
      failedChecks += c.name
    }

    val n = samples.size
    val failed = samples.count(_.failed) + (if (endChecks.forall(_.ok)) 0 else 1)
    val lat = samples.map(_.ms).sorted.toIndexedSeq
    val (tailP, tailMs) = tail(lat)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", n / (busyMs / 1000.0), "1/s"),
      ("op_p50_ms", quantile(lat, 50), "ms"),
      ("records_per_s", samples.map(_.records).sum / (busyMs / 1000.0), "1/s"),
      ("cpu_ms_per_op", samples.map(_.cpuMs).sum / n, "ms"),
      ("peak_rss_mb", peakRssMb(), "MB"))

    val out = new StringBuilder
    def line(s: String): Unit = out ++= s ++= "\n"
    line(s"# workload=${args.workload} seed=${args.seed} trace=${if (args.trace) 1 else 0} " +
      s"cpus=${Runtime.getRuntime.availableProcessors()} rounds=$rounds ops=$n busy_s=${fmt(busyMs / 1000)} " +
      s"verify_s=${fmt(verifyMs / 1000)} finish_s=${fmt(finishMs / 1000)}")
    line(s"# setup: session_s=${fmt(sessionMs / 1000)} inputs_s=${fmt(setupMs / 1000)} " +
      s"warm_s=${fmt(warmMs / 1000)}")
    // a report line, not a result metric: a run of about twenty ops has
    // too few ops beyond any percentile above the median for a steady tail
    line(s"# op_tail_ms ${fmt(tailMs)} ms is p${tailP.toInt} over n=$n ops")
    line(s"# op_ms in run order ${samples.map(x => f"${x.ms}%.0f").mkString(",")}")
    line(s"# warm-up op_ms ${warmOps.map { case (k, ms) => f"$k=$ms%.0f" }.mkString(",")}")
    line(s"# error_rate=${fmt(failed.toDouble / math.max(1, n))} (failed $failed of $n)")
    e2e.foreach { case (k, v, u) => line(f"# e2e $k%-16s ${fmt(v)} $u") }
    workload.extras(samples.toSeq).foreach { case (k, v, u) => line(f"# e2e $k%-16s ${fmt(v)} $u") }
    samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      val l = ss.map(_.ms).sorted.toIndexedSeq
      line(f"# op $k%-28s n=${ss.size}%3d p50_ms=${fmt(quantile(l, 50))}")
    }
    line(s"# checks ${Checks.seen.mkString(",")}")
    line(s"# failed_checks ${failedChecks.mkString(",")}")
    failures.take(20).foreach(f => line(s"# FAILED $f"))

    val metrics =
      if (!args.trace) e2e
      else {
        val report = TraceReport(tracer, meter, samples.toSeq, args.workload)
        report.lines.foreach(line)
        args.traceOut.foreach { p =>
          Files.createDirectories(p.toAbsolutePath.getParent)
          Files.write(p, report.json(e2e).getBytes(StandardCharsets.UTF_8))
        }
        val m = report.perLayer
        PerLayer.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
      }
    val correct = failures.isEmpty
    print(out)
    println(s"""{"correct": $correct, "attempted": ${math.max(1, n)}, "failed": $failed, """ +
      s""""metrics": ${jsonMetrics(metrics)}}""")
    0
  }

  /** Drop the blocks an op left cached (checkpoints, persisted frames),
    * outside its timing, so they do not tax later ops; returns how many. */
  private def dropLeftovers(spark: SparkSession): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs
    rdds.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    rdds.size
  }
}
