package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Records harness spans in the traced run; a no-op otherwise. */
final class Spans(tracer: Option[Tracer]) {
  var op: Int = -1
  def apply[T](kind: String, label: String)(body: => T): T = tracer match {
    case None    => body
    case Some(t) => t.span(kind, op, label)(_ => body)
  }
}

/** One timed op of a run, as executed. */
final case class OpRecord(pass: Int, cls: String, text: String, query: Boolean,
    write: Boolean, ms: Double, ok: Boolean, spanId: Int)

/** The benchmark: one workload, one seed, one process. Prints a JSON info
  * line and, last, the result line with the metrics. See README.md. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, expected: Path, out: Path, nproc: Int, launchUs: Long)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), Paths.get(m("expected")), Paths.get(m("out")), m("nproc").toInt,
      m("launch-us").toLong)
  }

  /** (steal, total) jiffies of all CPUs from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1)
      .map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }

  def loadAvg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble

  def peakRssMb(): Double = Files.readAllLines(Paths.get("/proc/self/status")).toArray
    .map(_.toString).find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** The same session settings as the repository's bench main. */
  def session(nproc: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run ops one at a time (a closed loop with one client): time each,
    * then check its result outside the timed interval. A failed op or a
    * wrong result is recorded with `ok = false`. */
  def runOps(ops: Iterator[Op], tracer: Option[Tracer]): Vector[OpRecord] = {
    val spans = new Spans(tracer)
    ops.map { op =>
      var check: () => Boolean = () => false
      def attempt(): Boolean =
        try { check = op.run(spans); true }
        catch { case e: Throwable => System.err.println(s"[perfbench] ${op.cls} failed: $e"); false }
      val t0 = System.nanoTime()
      val (ran, id) = tracer match {
        case Some(t) => t.span("op", -1, op.cls) { id => spans.op = id; (attempt(), id) }
        case None    => (attempt(), -1)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      val ok = ran && (try check() catch { case e: Throwable =>
        System.err.println(s"[perfbench] check of ${op.cls} failed: $e"); false })
      if (!ok) System.err.println(s"[perfbench] wrong or failed: ${op.text.take(200)}")
      tracer.foreach(_.drain())
      OpRecord(op.pass, op.cls, op.text, op.query, op.write, ms, ok, id)
    }.toVector
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val loadStart = loadAvg()
    val cpuStart = cpuJiffies()
    val mainS = (Clock.nowUs() - a.launchUs) / 1e6
    val spark = session(a.nproc)
    val sessionS = (Clock.nowUs() - a.launchUs) / 1e6
    val w = Workload(a.workload, spark, a.data, a.expected)
    val workloadS = (Clock.nowUs() - a.launchUs) / 1e6
    w.setup()
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.drain())
    val before = tracer.map(_.snapshot())
    val rcBefore = graft.plans.ResultCache.stats
    val setupS = (Clock.nowUs() - a.launchUs) / 1e6

    val records = runOps(w.ops(a.seed, a.seconds), tracer)
    val rcAfter = graft.plans.ResultCache.stats
    val loadEnd = loadAvg()
    val cpuEnd = cpuJiffies()
    val stealFrac = (cpuEnd._1 - cpuStart._1).toDouble / math.max(1L, cpuEnd._2 - cpuStart._2)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(records.map(_.text).mkString("\n").getBytes(UTF_8))
      .map("%02x".format(_)).mkString

    val passes = records.map(_.pass).distinct.size
    val passS = Stats.median(records.groupBy(_.pass).values.map(_.map(_.ms).sum / 1e3).toSeq)
    val queryMs = records.filter(_.query).map(_.ms).toSeq
    val failed = records.count(!_.ok)
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "nproc" -> a.nproc, "load_start" -> loadStart,
      "load_end" -> loadEnd, "cpu_steal_frac" -> stealFrac,
      "main_entered_s" -> mainS, "session_ready_s" -> sessionS,
      "workload_ready_s" -> workloadS, "op_sequence_sha256" -> digest,
      "passes" -> passes, "ops" -> records.size, "query_samples" -> queryMs.size
    ) ++ w.info(records)

    Files.createDirectories(a.out)
    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("pass_s", passS, "s"),
        ("query_p50_ms", Stats.median(queryMs), "ms"),
        ("peak_rss_mb", peakRssMb(), "MB"))
      case Some(t) =>
        t.drain()
        val delta = {
          val b = before.get; val e = t.snapshot()
          e.map { case (k, v) => k -> (v - b.getOrElse(k, 0.0)) }.withDefaultValue(0.0)
        }
        t.close()
        val all = t.allSpans()
        val traceFile = a.out.resolve(s"trace_${a.workload}_s${a.seed}.jsonl")
        Files.write(traceFile, all.map(s =>
          s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
            s""""start_us":${s.startUs},"end_us":${s.endUs},"label":"${Json.esc(s.label)}"}""")
          .mkString("", "\n", "\n").getBytes(UTF_8))
        info("trace_file") = traceFile.toString
        Layers.metrics(records, all, delta, rcAfter._1 - rcBefore._1,
          rcAfter._2 - rcBefore._2, passes, passS, a.nproc, spark, info)
    }
    Files.write(a.out.resolve(s"ops_${a.workload}_s${a.seed}_t${if (a.trace) 1 else 0}.jsonl"),
      records.map(r => Json.obj(Seq("pass" -> r.pass, "cls" -> r.cls, "ms" -> r.ms,
        "ok" -> r.ok, "text" -> r.text))).mkString("", "\n", "\n").getBytes(UTF_8))
    println(Json.obj(info.toSeq))
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${Json.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":${records.size},"failed":$failed,""" +
      s""""metrics":${ms.mkString("{", ",", "}")}}""")
    System.out.flush()
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def value(v: Any): String = v match {
    case s: String  => "\"" + esc(s) + "\""
    case d: Double  => num(d)
    case b: Boolean => b.toString
    case n: Number  => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => "\"" + esc(other.toString) + "\""
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }.mkString("{", ",", "}")
}
