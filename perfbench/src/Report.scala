package perfbench

import scala.collection.mutable

/** Output checks. `broken` selects checks whose expected value the
  * self-test perturbs, to show that each check can fail. */
object Checks {
  var broken: String => Boolean = _ => false

  private def perturb(v: Any): Any = v match {
    case l: Long => l + 1
    case i: Int => i + 1
    case d: Double => d + 1.0
    case s: String => s + "#"
    case s: Set[_] => s + "perturbed"
    case s: Seq[_] => s :+ "perturbed"
    case m: Map[_, _] => m.asInstanceOf[Map[Any, Any]] + ("perturbed" -> 0)
    case b: Boolean => !b
    case other => (other, "perturbed")
  }

  def expected[T](name: String, v: T): Any = if (broken(name)) perturb(v) else v

  def equal[T](name: String, got: T, want: T): Check = {
    seen += name
    val w = expected(name, want)
    Check(name, got == w, s"got $got, expected $w")
  }

  /** Relative-tolerance comparison for floating-point aggregates. */
  def close(name: String, got: Double, want: Double, rel: Double = 1e-9): Check = {
    seen += name
    val w = expected(name, want).asInstanceOf[Double]
    Check(name, math.abs(got - w) <= rel * math.max(1.0, math.abs(w)), s"got $got, expected $w")
  }

  /** Names of the checks evaluated so far in this run. */
  val seen = mutable.SortedSet.empty[String]
}

/** Per-layer view of a traced run: self time per layer (span duration
  * minus the part covered by child spans), Spark counts attributed to the
  * innermost span, and the module metrics built from both. */
final case class TraceReport(tracer: Tracer, meter: Meter, samples: Seq[Sample], workload: String) {
  private val spans = tracer.spans.filter(s => s.op >= 0 && s.end > 0).toIndexedSeq
  private val n = math.max(1, samples.size).toDouble
  private val children = spans.groupBy(_.parent)
  private def durMs(s: Span): Double = (s.end - s.start) / 1e6
  private def selfMs(s: Span): Double =
    durMs(s) - children.getOrElse(s.id, Nil).map(durMs).sum

  private val layers: Seq[String] = spans.map(_.layer).distinct.sorted
  private def inLayer(p: String => Boolean) = spans.filter(s => p(s.layer))
  private def counts(ss: Seq[Span]): Counts = {
    val c = new Counts
    ss.foreach(s => meter.bySpan.get(s.id).foreach(c.add))
    c
  }
  private def self(ss: Seq[Span]): Double = ss.map(selfMs).sum / n
  private def total(ss: Seq[Span]): Double = ss.map(durMs).sum / n
  private def field(c: Counts, f: String): Double = c.fields.find(_._1 == f).map(_._2).get / n

  private val opWall = spans.filter(_.parent == -1).map(durMs)
  private val lat = samples.map(_.ms).sorted.toIndexedSeq

  /** Module metrics, per op, named `<module>.<metric>`. */
  val modules: Seq[(String, Double, String)] = {
    val m = mutable.ArrayBuffer.empty[(String, Double, String)]
    def add(k: String, v: Double, u: String): Unit = m += ((k, v, u))
    val recipe = inLayer(_ == "recipe")
    if (recipe.nonEmpty) add("recipe.read_ms", self(recipe), "ms")
    val agent = inLayer(_ == "agent")
    if (agent.nonEmpty) {
      add("agent.run_ms", total(agent), "ms")
      add("agent.self_ms", self(agent), "ms")
      add("agent.self_jobs", field(counts(agent), "jobs"), "count")
      val sinkSpans = spans.filter(_.name.startsWith("sink:"))
      add("agent.sink_attempts", sinkSpans.size / n, "count")
      add("agent.sinks", tracer.counters.getOrElse("agent.sinks", 0.0) / n, "count")
    }
    val extract = inLayer(_ == "sources.extract")
    if (extract.nonEmpty) {
      add("sources.extract_ms", self(extract), "ms")
      add("sources.extract_jobs", field(counts(extract), "jobs"), "count")
      add("sources.executor_run_ms", field(counts(extract), "executor_run_ms"), "ms")
    }
    val procs = inLayer(_.startsWith("processors."))
    if (procs.nonEmpty) {
      procs.map(_.layer).distinct.sorted.foreach(l => add(s"$l.ms", self(inLayer(_ == l)), "ms"))
      add("processors.eager_jobs", field(counts(procs), "jobs"), "count")
      add("processors.executor_cpu_ms", field(counts(procs), "executor_cpu_ms"), "ms")
    }
    val sinks = inLayer(_.startsWith("sinks."))
    if (sinks.nonEmpty) {
      sinks.map(_.layer).distinct.sorted.foreach(l => add(s"$l.ms", self(inLayer(_ == l)), "ms"))
      add("sinks.jobs", field(counts(sinks), "jobs"), "count")
    }
    val reads = inLayer(_ == "operators.store_read")
    val writes = inLayer(_ == "operators.mutation")
    if (reads.nonEmpty) add("operators.store_read_ms", self(reads), "ms")
    if (writes.nonEmpty) add("operators.mutation_ms", self(writes), "ms")
    if (reads.nonEmpty || writes.nonEmpty)
      add("operators.exec_ms", field(counts(reads ++ writes), "executor_run_ms"), "ms")
    val build = inLayer(_ == "SparkEntry.build")
    val exec = inLayer(_ == "SparkEntry.exec")
    if (build.nonEmpty) {
      add("SparkEntry.build_ms", self(build), "ms")
      add("SparkEntry.build_jobs", field(counts(build), "jobs"), "count")
      add("SparkEntry.exec_ms", self(exec), "ms")
      add("SparkEntry.leftover_rdds", samples.map(_.leftovers).sum / n, "count")
      // families by row-name prefix: q (queries), d (data), s (similarity), m (multimodal)
      samples.groupBy(_.kind.take(1)).toSeq.sortBy(_._1).foreach { case (fam, ss) =>
        add(s"SparkEntry.$fam.p50_ms", Main.quantile(ss.map(_.ms).sorted.toIndexedSeq, 50), "ms")
      }
    }
    tracer.counters.toSeq.sortBy(_._1).filterNot(_._1 == "agent.sinks").foreach { case (k, v) =>
      add(k, if (k.endsWith("_ratio") || k.startsWith("store.")) v else v / n,
        if (k.endsWith("bytes")) "bytes" else if (k.endsWith("_ratio")) "ratio" else "count")
    }
    m.toSeq
  }

  /** Engine totals of the timed ops, per op, plus the traced op latency. */
  val perLayer: Map[String, Double] = {
    val all = counts(spans)
    all.fields.map { case (f, v, _) => s"spark.$f" -> v / n }.toMap ++ Map(
      "trace.op_p50_ms" -> Main.quantile(lat, 50),
      "trace.spans" -> spans.size / n)
  }

  private def row(l: String): (Double, Double, Counts) = {
    val ss = inLayer(_ == l)
    (ss.size / n, self(ss), counts(ss))
  }

  def lines: Seq[String] = {
    val wall = opWall.sum / n
    val header = "# layer %-26s %8s %10s %6s %7s %8s %10s %11s".format(
      "", "calls/op", "self_ms/op", "share", "jobs/op", "tasks/op", "run_ms/op", "plan_ms/op")
    val rows = layers.map { l =>
      val (calls, s, c) = row(l)
      f"# layer $l%-26s $calls%8.2f $s%10.2f ${s / wall}%6.3f ${c.jobs / n}%7.2f ${c.tasks / n}%8.1f " +
        f"${c.runMs / n}%10.1f ${c.planningMs / n}%11.2f"
    }
    (header +: rows) ++ Seq(f"# layer self-time sum ${layers.map(row(_)._2).sum}%.2f ms/op = traced op wall $wall%.2f ms/op") ++
      modules.map { case (k, v, u) => f"# module $k%-34s $v%.4f $u" }
  }

  def json(e2e: Seq[(String, Double, String)]): String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else f"$v%.6f"
    def str(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val layerJson = layers.map { l =>
      val (calls, s, c) = row(l)
      str(l) + ": {" + (Seq(s""""calls_per_op": ${num(calls)}""", s""""self_ms_per_op": ${num(s)}""") ++
        c.fields.map { case (f, v, _) => s""""spark.$f": ${num(v / n)}""" }).mkString(", ") + "}"
    }.mkString("{", ", ", "}")
    val spanJson = spans.map(s =>
      s"[${s.id}, ${s.parent}, ${s.op}, ${str(s.name)}, ${str(s.layer)}, " +
        s"${num((s.start - t0) / 1e3)}, ${num((s.end - t0) / 1e3)}]").mkString("[\n", ",\n", "\n]")
    s"""{"workload": ${str(workload)}, "ops": ${samples.size},
       |"traced_op_wall_ms_per_op": ${num(opWall.sum / n)},
       |"self_ms_sum_per_op": ${num(layers.map(row(_)._2).sum)},
       |"traced_e2e": ${Main.jsonMetrics(e2e)},
       |"per_layer": ${Main.jsonMetrics(perLayer.toSeq.sortBy(_._1).map { case (k, v) => (k, v, "") })},
       |"modules": ${Main.jsonMetrics(modules)},
       |"layers": $layerJson,
       |"span_columns": ["id", "parent", "op", "name", "layer", "start_us", "end_us"],
       |"spans": $spanJson}
       |""".stripMargin
  }
}
