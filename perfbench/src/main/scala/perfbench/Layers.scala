package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, per timed pass (doris_dml has one
  * pass: its whole statement stream). */
object Layers {
  /** Total µs of the union of `ivs`, clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var end = lo
    var total = 0L
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > end) { total += e - math.max(s, end); end = e }
      }
    total
  }

  def metrics(records: Seq[OpRecord], spans: Seq[Span], delta: Map[String, Double],
      rcHits: Long, rcMisses: Long, passes: Int, passS: Double, nproc: Int,
      spark: SparkSession,
      info: mutable.Map[String, Any]): Seq[(String, Double, String)] = {
    val children = spans.groupBy(_.parent)
    def descendants(s: Span): Seq[Span] =
      children.getOrElse(s.id, Nil).flatMap(c => c +: descendants(c))
    def jobsUnder(s: Span): Seq[Span] = descendants(s).filter(_.kind == "job")
    def outsideJobsUs(s: Span): Long =
      (s.endUs - s.startUs) - covered(jobsUnder(s).map(j => (j.startUs, j.endUs)), s.startUs, s.endUs)
    def dur(s: Span): Long = s.endUs - s.startUs
    val opOf = records.map(r => r.spanId -> r).toMap
    val ops = spans.filter(s => s.kind == "op" && opOf.contains(s.id))
    def phase(kind: String): Seq[(Span, OpRecord)] = spans.filter(_.kind == kind)
      .flatMap(s => opOf.get(s.parent).map(s -> _))

    // layer self times: each instant of an op goes to its deepest span
    val self = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var overhangUs = 0L
    var sumErrorUs = 0L
    ops.foreach { op =>
      val (s, o) = SelfTime.ofOp(op, children)
      s.foreach { case (l, us) => self(l) += us }
      overhangUs += o
      sumErrorUs += math.abs(s.values.sum - dur(op))
    }

    val p = passes.toDouble
    def perPass(v: Double): Double = v / p
    def ms(us: Double): Double = us / 1e3 / p
    val builds = phase("build")
    val executes = phase("execute")
    val streamOutside = builds.filter(_._2.cls.startsWith("stream_")).map { case (b, _) =>
      dur(b) - descendants(b).filter(_.kind == "trigger").map(dur).sum
    }.sum
    val payload = records.filter(_.write).map(_.text.getBytes("UTF-8").length.toLong).sum
    val tempViews = spark.catalog.listTables().collect().count(_.isTemporary)
    val firstPassExtra = info.get("first_pass_extra_ms") match {
      case Some(d: Double) => d
      case _ => 0.0
    }
    info("self_time_overhang_ms") = overhangUs / 1e3

    val counters = Seq(
      "plans.exchanges" -> "count", "plans.broadcast_exchanges" -> "count",
      "catalyst.queries" -> "count", "catalyst.analysis_ms" -> "ms",
      "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
      "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
      "scheduler.jobs" -> "count", "scheduler.stages" -> "count",
      "scheduler.tasks" -> "count", "scheduler.task_retries" -> "count",
      "scheduler.delay_ms" -> "ms",
      "executor.cpu_s" -> "s", "executor.run_s" -> "s", "executor.gc_ms" -> "ms",
      "executor.deserialize_ms" -> "ms",
      "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
      "shuffle.fetch_wait_ms" -> "ms", "shuffle.spill_bytes" -> "bytes",
      "io.input_bytes" -> "bytes", "io.output_bytes" -> "bytes",
      "streaming.queries" -> "count", "streaming.triggers" -> "count",
      "streaming.empty_triggers" -> "count", "streaming.trigger_ms" -> "ms",
      "streaming.addBatch_ms" -> "ms", "streaming.latestOffset_ms" -> "ms",
      "streaming.walCommit_ms" -> "ms", "streaming.commitOffsets_ms" -> "ms",
      "streaming.queryPlanning_ms" -> "ms", "streaming.state_rows" -> "count",
      "streaming.state_commit_ms" -> "ms"
    ).map { case (k, u) => (k, perPass(delta(k)), u) }

    Seq(
      ("operators.build_ms", ms(builds.map(b => dur(b._1)).sum), "ms"),
      ("operators.build_jobs", perPass(builds.map(b => jobsUnder(b._1).size).sum), "count"),
      ("operators.first_pass_extra_ms", firstPassExtra, "ms"),
      ("sql.execute_read_ms", ms(executes.filterNot(_._2.write).map(e => dur(e._1)).sum), "ms"),
      ("sql.execute_write_ms", ms(executes.filter(_._2.write).map(e => dur(e._1)).sum), "ms"),
      ("sql.execute_jobs", perPass(executes.map(e => jobsUnder(e._1).size).sum), "count"),
      ("sql.frontend_ms", ms(executes.map(e => outsideJobsUs(e._1)).sum), "ms"),
      ("sql.temp_views", tempViews.toDouble, "count"),
      ("plans.result_cache_hits", perPass(rcHits), "count"),
      ("plans.result_cache_misses", perPass(rcMisses), "count"),
      ("driver.outside_jobs_ms", ms(ops.map(outsideJobsUs).sum), "ms"),
      ("driver.gc_ms", perPass(delta("jvm.gc_ms")), "ms"),
      ("streaming.outside_trigger_ms", ms(streamOutside), "ms"),
      ("io.write_amplification",
        if (payload == 0) 0.0 else delta("io.output_bytes") / payload, "ratio"),
      ("executor.share", delta("executor.cpu_s") / p / (passS * nproc), "ratio"),
      ("trace.pass_s", passS, "s"),
      ("trace.self_sum_error_ms", sumErrorUs / 1e3, "ms")
    ) ++ counters ++ Layer.all.map(l => (s"self.${l}_ms", ms(self(l)), "ms"))
  }
}
