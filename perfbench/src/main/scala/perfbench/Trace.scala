package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one timed interval at a layer boundary. Times are epoch µs.
  * `parent` is the span that caused this one (-1 for an op). */
final case class Span(id: Int, parent: Int, kind: String, startUs: Long,
    endUs: Long, label: String)

/** Epoch microseconds from the monotonic clock, so harness spans and the
  * epoch-millisecond times Spark stamps on its events share one axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** Which layer a span's self time belongs to. The benchmark's own spans are
  * around calls into public entry points; the rest come from Spark's
  * listeners. */
object Layer {
  def of(kind: String, label: String): String = kind match {
    case "op"      => "bench"
    case "build"   => if (label.startsWith("stream_")) "streaming" else "operators"
    case "execute" => "sql"
    case "action"  => "driver"
    case "trigger" => "streaming"
    case "job"     => "scheduler"
    case "stage"   => "executor"
    case _         => "catalyst"
  }
  val all: Seq[String] = Seq("bench", "operators", "sql", "driver", "catalyst",
    "streaming", "scheduler", "executor")
}

/** Counters and spans of the traced run, fed by Spark's public listeners.
  * Listener callbacks arrive on the bus thread; the harness reads only
  * after `Bus.drain`, under the same lock. */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val counts: mutable.Map[String, Double] =
    mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counts(k) = counts(k) + v

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  // Spark-side spans, attached to harness spans by time after the run
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long)]
  private val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val triggers = mutable.ArrayBuffer.empty[(Long, Long, String)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      add("scheduler.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobs += ((e.jobId, s * 1000, e.time * 1000)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      add("scheduler.stages", 1)
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += ((i.stageId, stageJob.getOrElse(i.stageId, -1), s * 1000, c * 1000))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      add("scheduler.tasks", 1)
      val ti = e.taskInfo
      if (ti.attemptNumber > 0 || ti.failed || ti.killed) add("scheduler.task_retries", 1)
      val m = e.taskMetrics
      if (m != null) {
        val wall = ti.finishTime - ti.launchTime
        add("scheduler.delay_ms", math.max(0L, wall - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime))
        add("executor.cpu_s", m.executorCpuTime / 1e9)
        add("executor.run_s", m.executorRunTime / 1e3)
        add("executor.gc_ms", m.jvmGCTime.toDouble)
        add("executor.deserialize_ms", m.executorDeserializeTime.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      add("catalyst.queries", 1)
      qe.tracker.phases.foreach { case (name, p) =>
        if (name != "parsing") {
          add(s"catalyst.${name}_ms", (p.endTimeMs - p.startTimeMs).toDouble)
          phases += ((name, p.startTimeMs * 1000, p.endTimeMs * 1000))
        }
      }
      val plan = qe.executedPlan
      add("plans.exchanges", Plans.collect(plan) { case x: ShuffleExchangeLike => x }.size)
      add("plans.broadcast_exchanges",
        Plans.collect(plan) { case x: BroadcastExchangeLike => x }.size)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = lock.synchronized {
      add("streaming.queries", 1)
    }
    override def onQueryProgress(e: QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      add("streaming.triggers", 1)
      if (p.numInputRows == 0) add("streaming.empty_triggers", 1)
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      Seq("addBatch", "latestOffset", "walCommit", "commitOffsets", "queryPlanning")
        .foreach(k => add(s"streaming.${k}_ms", ms(k)))
      val exec = ms("triggerExecution")
      add("streaming.trigger_ms", exec)
      p.stateOperators.foreach { so =>
        add("streaming.state_rows", so.numRowsUpdated.toDouble)
        add("streaming.state_commit_ms", so.commitTimeMs.toDouble)
      }
      val t0 = java.time.Instant.parse(p.timestamp)
      val startUs = t0.getEpochSecond * 1000000L + t0.getNano / 1000L
      triggers += ((startUs, startUs + (exec * 1000).toLong, Option(p.name).getOrElse(p.id.toString)))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Counter snapshot, including the process-wide codegen and GC totals. */
  def snapshot(): Map[String, Double] = lock.synchronized {
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum
    counts.toMap ++ Map(
      "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
      "jvm.gc_ms" -> gcMs.toDouble)
  }

  /** Record a harness span around `body`. */
  def span[T](kind: String, parent: Int, label: String)(body: Int => T): T = {
    val id = lock.synchronized { nextId += 1; nextId }
    val s = Clock.nowUs()
    try body(id)
    finally {
      val e = Clock.nowUs()
      lock.synchronized { spans += Span(id, parent, kind, s, e, label) }
    }
  }

  /** Every span of the run: the harness's own plus the Spark-side ones,
    * each attached to the innermost span that contains its start. */
  def allSpans(): Seq[Span] = lock.synchronized {
    val own = spans.toVector
    val out = mutable.ArrayBuffer.empty[Span] ++= own
    def innermost(tUs: Long, among: Iterable[Span]): Int = {
      val c = among.filter(s => s.startUs <= tUs && tUs <= s.endUs)
      if (c.isEmpty) -1 else c.maxBy(s => (s.startUs, -s.endUs)).id
    }
    def fresh(): Int = { nextId += 1; nextId }
    // triggers run inside the build of their stream op
    val trig = triggers.toVector.map { case (s, e, q) =>
      Span(fresh(), innermost(s, own), "trigger", s, e, q) }
    out ++= trig
    val phaseSpans = phases.toVector.map { case (n, s, e) =>
      Span(fresh(), innermost(s, own ++ trig), n, s, e, n) }
    out ++= phaseSpans
    val jobSpans = jobs.toVector.map { case (j, s, e) =>
      j -> Span(fresh(), innermost(s, own ++ trig), "job", s, e, s"job$j") }
    out ++= jobSpans.map(_._2)
    val jobIds = jobSpans.toMap
    out ++= stages.toVector.map { case (st, j, s, e) =>
      Span(fresh(), jobIds.get(j).map(_.id).getOrElse(-1), "stage", s, e, s"stage$st") }
    out.toVector
  }
}

/** Self time: each instant of an op's wall goes to the deepest span that
  * covers it, so the layer self times of an op add up to its wall time. */
object SelfTime {
  /** Per-layer self µs of one op span, plus the children's time that sticks
    * out of their parent (a nesting error, expected near zero). */
  def ofOp(op: Span, children: Map[Int, Seq[Span]]): (Map[String, Long], Long) = {
    val tree = mutable.ArrayBuffer.empty[(Span, Int)]
    var overhang = 0L
    def walk(s: Span, depth: Int, lo: Long, hi: Long): Unit = {
      val cs = math.max(s.startUs, lo); val ce = math.min(s.endUs, hi)
      overhang += (s.endUs - s.startUs) - math.max(0L, ce - cs)
      if (ce > cs) {
        tree += ((s.copy(startUs = cs, endUs = ce), depth))
        children.getOrElse(s.id, Nil).foreach(c => walk(c, depth + 1, cs, ce))
      }
    }
    walk(op, 0, op.startUs, op.endUs)
    val cuts = tree.flatMap { case (s, _) => Seq(s.startUs, s.endUs) }.distinct.sorted
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val covering = tree.filter { case (s, _) => s.startUs <= a && b <= s.endUs }
      val (s, _) = covering.maxBy { case (sp, d) => (d, -sp.startUs) }
      self(Layer.of(s.kind, s.label)) += b - a
    }
    (self.toMap, overhang)
  }
}
