package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One timed op. `run` does the timed work and returns the untimed check of
  * its result. `query` ops return a result and count in `query_p50_ms`. */
final case class Op(pass: Int, cls: String, text: String, query: Boolean,
    write: Boolean, run: Spans => (() => Boolean))

trait Workload {
  /** Untimed set-up; its wall time is part of `setup_s`. */
  def setup(): Unit
  /** The timed ops, generated lazily from the seed. `seconds` sets how much
    * work is done: a fixed number of ops per second of run time. */
  def ops(seed: Long, seconds: Int): Iterator[Op]
  /** Workload-specific facts for the info line. */
  def info(records: Seq[OpRecord]): Seq[(String, Any)]
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String, expected: Path): Workload =
    name match {
      case "doris_dml" => new DmlWorkload(spark, data)
      case _ => new KeyWorkload(Keys.of(name), spark, data, Keys.readExpected(expected))
    }
}

/** The key-catalog workloads. Each runs a fixed sample of one family of
  * `graft.SparkEntry` keys: a whole family takes 30 s to 90 s per warm pass
  * once every row is materialized, and a fresh JVM pays several seconds of
  * first-use cost per key, too much for the many runs per workload a
  * comparison needs. The sample is every n-th key, in name order, of the
  * family's keys whose warm latency was at most a cap when the benchmark
  * was defined: olap every 20th under 600 ms from the 3rd on (the offset
  * that includes `cache_result`, the key the result cache serves); stream
  * every 7th under 1.8 s from the 6th on. The lists are fixed here so that
  * a key that later slows down stays in. */
object Keys {
  private val lists = Map(
    "olap_queries" -> Vector("agg_boolean", "cache_result", "fn_url", "model_unique_key",
      "sink_csv_export"),
    "stream_lifecycle" -> Vector("stream_ingest", "stream_tws"))

  def of(workload: String): Vector[String] = {
    val keys = lists.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val defs = graft.SparkEntry.defs
    keys.foreach(k => require(defs.contains(k), s"no SparkEntry key $k"))
    keys
  }

  /** Timed passes per second of `--seconds`: 3 passes at 10 s. */
  val PassesPerSecond = 0.3

  def readExpected(p: Path): Map[String, Signature] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filter(_.nonEmpty).map { l =>
      val Array(k, rest) = l.split("\t", 2)
      k -> Signature.parse(rest)
    }.toMap
}

final class KeyWorkload(keys: Vector[String], spark: SparkSession, data: String,
    expected: Map[String, Signature]) extends Workload {
  private val defs = graft.SparkEntry.defs
  private val warmMs = mutable.LinkedHashMap.empty[String, Double]

  /** One warm pass of every op, so codegen, JIT and the engine's own
    * artifact caches are filled before timing. */
  def setup(): Unit = keys.foreach { k =>
    val t0 = System.nanoTime()
    try Signature.of(defs(k).build(spark, data))
    catch { case e: Throwable => System.err.println(s"[perfbench] warm $k failed: $e") }
    warmMs(k) = (System.nanoTime() - t0) / 1e6
  }

  def ops(seed: Long, seconds: Int): Iterator[Op] = {
    val passes = math.max(2, math.round(seconds * Keys.PassesPerSecond).toInt)
    (0 until passes).iterator.flatMap { p =>
      new Random(seed * 1000003L + p).shuffle(keys).map { k =>
        Op(p, k, k, query = true, write = false, run = spans => {
          val df = spans("build", k)(defs(k).build(spark, data))
          val sig = spans("action", k)(Signature.of(df))
          () => expected.get(k).contains(sig)
        })
      }
    }
  }

  def info(records: Seq[OpRecord]): Seq[(String, Any)] = {
    val timed = records.groupBy(_.cls).map { case (k, rs) => k -> Stats.median(rs.map(_.ms)) }
    Seq("keys" -> keys.size, "warm_pass_ms" -> warmMs.values.sum, "warm_ms" -> warmMs,
      "first_pass_extra_ms" -> warmMs.map { case (k, w) => w - timed.getOrElse(k, w) }.sum,
      "failed_ops" -> records.filterNot(_.ok).map(_.cls).distinct.sorted)
  }
}

final class DmlWorkload(spark: SparkSession, data: String) extends Workload {
  val dml = new DorisDml(spark, data)

  def setup(): Unit = dml.setup()

  /** Blocks of statements per second of `--seconds` (2 blocks at 10 s). Within a block,
    * writes and reads alternate, each read following one write, so that
    * every read pays for seeing the latest write whatever the seed; the
    * seed orders the write classes and the read classes and draws every
    * key and value. */
  def ops(seed: Long, seconds: Int): Iterator[Op] = {
    val rnd = new Random(seed)
    val blocks = math.max(1, math.round(seconds * DmlWorkload.BlocksPerSecond).toInt)
    val (writes, reads) = DorisDml.Block.flatMap { case (c, n) => Seq.fill(n)(c) }
      .partition(DorisDml.Writes)
    (0 until blocks).iterator.flatMap { _ =>
      rnd.shuffle(writes).zip(rnd.shuffle(reads)).flatMap { case (w, r) => Seq(w, r) }
    }.map { c =>
      val s = dml.next(c, rnd)
      Op(0, c, s.sql, query = s.read, write = !s.read, run = spans => {
        val rows = dml.execute(s, spans)
        () => if (s.read) dml.check(s, rows) else { s.apply(); true }
      })
    }
  }

  def info(records: Seq[OpRecord]): Seq[(String, Any)] = Seq(
    "statements" -> records.size,
    "reads" -> records.count(_.query), "writes" -> records.count(_.write),
    "rowsets_end" -> dml.rowsetCount,
    "write_p50_ms" -> Stats.median(records.filter(_.write).map(_.ms)),
    "failed_ops" -> records.filterNot(_.ok).map(_.text.take(120)))
}

object DmlWorkload {
  val BlocksPerSecond = 0.2
}
