package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.plugins._

/** One timed call into a layer. `op` groups the spans of one benchmark op;
  * `parent` is -1 for an op's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String, layer: String,
                      start: Long, var end: Long = 0L)

/** Spark work attributed to one span. */
final class Counts {
  var jobs, stages, tasks = 0L
  var planningMs, schedDelayMs, runMs, cpuMs, gcMs = 0.0
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    planningMs += o.planningMs; schedDelayMs += o.schedDelayMs; runMs += o.runMs
    cpuMs += o.cpuMs; gcMs += o.gcMs; inputBytes += o.inputBytes
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }

  def fields: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs.toDouble, "count"), ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"), ("planning_ms", planningMs, "ms"),
    ("sched_delay_ms", schedDelayMs, "ms"), ("executor_run_ms", runMs, "ms"),
    ("executor_cpu_ms", cpuMs, "ms"), ("gc_ms", gcMs, "ms"),
    ("input_bytes", inputBytes.toDouble, "bytes"),
    ("shuffle_read_bytes", shuffleReadBytes.toDouble, "bytes"),
    ("shuffle_write_bytes", shuffleWriteBytes.toDouble, "bytes"),
    ("spill_bytes", spillBytes.toDouble, "bytes"))
}

/** Span recorder for the single client thread. Spans stay in memory until
  * the run ends. Each span adds a Spark job tag while it is open, so the
  * [[Meter]] can attribute jobs, tasks and query planning to the innermost
  * open span. A disabled tracer only runs the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var op: Int = -1
  /** Per-run counters the workloads feed (sink totals, keep ratios, store
    * sizes); summed unless set with [[gauge]]. */
  val counters = mutable.HashMap.empty[String, Double]

  def count(k: String, v: Double): Unit =
    if (enabled) counters(k) = counters.getOrElse(k, 0.0) + v
  def gauge(k: String, v: Double): Unit = if (enabled) counters(k) = v

  def apply[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), op, name, layer, System.nanoTime())
      spans += s
      stack = s.id :: stack
      val sc = spark.sparkContext
      sc.addJobTag(Tracer.tag(s.id))
      try body
      finally {
        sc.removeJobTag(Tracer.tag(s.id))
        s.end = System.nanoTime()
        stack = stack.tail
      }
    }
}

object Tracer {
  val TagPrefix = "perfbench-span-"
  def tag(id: Int): String = TagPrefix + id

  /** Innermost span among a job's tags: spans open in id order. */
  def spanOf(tags: Iterable[String]): Int =
    tags.filter(_.startsWith(TagPrefix)).map(_.stripPrefix(TagPrefix).toInt)
      .foldLeft(-1)(math.max)
}

/** Listener-side counters, keyed by span id. Register with [[install]];
  * call [[drain]] before reading so every event of the finished calls has
  * been delivered. Planning time is the sum of the analysis, optimization
  * and planning phases of each SQL execution's QueryExecution (the object
  * a QueryExecutionListener receives), taken from the execution-end event
  * because only that event carries the execution id linking it to a span. */
final class Meter extends SparkListener {
  val bySpan = mutable.HashMap.empty[Int, Counts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val execSpan = mutable.HashMap.empty[Long, Int]
  private val planning = mutable.ArrayBuffer.empty[(Long, Double)]

  private def counts(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val span = Tracer.spanOf(tags)
    counts(span).jobs += 1
    e.stageIds.foreach(stageSpan(_) = span)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageSpan.getOrElse(e.stageId, -1))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuMs += m.executorCpuTime / 1e6
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      val i = e.taskInfo
      c.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - i.gettingResultTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSpan(s.executionId) = Tracer.spanOf(s.jobTags)
    }
    case end: SparkListenerSQLExecutionEnd =>
      // `qe` is sql-private; read through its public bytecode accessor
      val qe = end.getClass.getMethod("qe").invoke(end).asInstanceOf[QueryExecution]
      if (qe != null) synchronized {
        planning += end.executionId -> qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      }
    case _ =>
  }

  /** Wait for the listener bus, then fold planning times into their spans. */
  def drain(spark: SparkSession): Unit = {
    org.apache.spark.graft.ListenerDrain.drain(spark.sparkContext)
    synchronized {
      planning.foreach { case (exec, ms) => counts(execSpan.getOrElse(exec, -1)).planningMs += ms }
      planning.clear()
    }
  }

  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(this)
}

/** Delegating plugins registered under `perfbench-<name>`, so a traced
  * recipe records one span per extract, process and sink call made inside
  * `Agent.run`. Store-backed plugins (search sources, index sinks) are the
  * `operators` layer's recipe surface and are attributed to it. */
object Wrappers {
  val Prefix = "perfbench-"
  private val storeReads = Set("bm25-search", "ann-search", "hybrid-search")
  private val storeWrites = Set("bm25-index", "ivf-index")

  private def renamed(i: PluginInfo): PluginInfo = i.copy(name = Prefix + i.name)

  def register(tracer: Tracer, names: Seq[String]): Unit = {
    Registries.populate()
    names.foreach { n =>
      if (Registries.extractors.contains(n) && !Registries.extractors.contains(Prefix + n)) {
        val p = Registries.extractors.get(n)
        val layer = if (storeReads(n)) "operators.store_read" else "sources.extract"
        Registries.extractors.register(new Extractor {
          val info: PluginInfo = renamed(p.info)
          override def validate(c: Map[String, Any]) = p.validate(c)
          def extract(s: SparkSession, c: Map[String, Any]): DataFrame =
            tracer(s"extract:$n", layer)(p.extract(s, c))
        })
      }
      if (Registries.processors.contains(n) && !Registries.processors.contains(Prefix + n)) {
        val p = Registries.processors.get(n)
        Registries.processors.register(new Processor {
          val info: PluginInfo = renamed(p.info)
          override def validate(c: Map[String, Any]) = p.validate(c)
          def process(df: DataFrame, c: Map[String, Any]): DataFrame =
            tracer(s"process:$n", s"processors.$n")(p.process(df, c))
        })
      }
      if (Registries.sinks.contains(n) && !Registries.sinks.contains(Prefix + n)) {
        val p = Registries.sinks.get(n)
        val layer = if (storeWrites(n)) "operators.mutation" else s"sinks.$n"
        Registries.sinks.register(new SinkPlugin {
          val info: PluginInfo = renamed(p.info)
          override def validate(c: Map[String, Any]) = p.validate(c)
          def sink(df: DataFrame, c: Map[String, Any]): Long = tracer(s"sink:$n", layer)(p.sink(df, c))
          override def close(): Unit = p.close()
        })
      }
    }
  }
}
