package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

/** The doris_dml workload: a seeded Doris statement stream through
  * `DorisDdl.execute` over one table per key model, with its own model of
  * what was written (key-model merge plus versioned-delete visibility) that
  * every read is checked against.
  *
  * The stream is built from blocks of 16 statements, each holding exactly
  * the class counts in [[DorisDml.Block]] (8 reads, 8 writes) in seeded
  * order, so the read/write shares and the rowset count at the end are the
  * same for every seed. */
final class DorisDml(spark: SparkSession, dataDir: String) {
  import DorisDml._

  private val ddl = new graft.sql.DorisDdl(spark)

  // ---- the model ----------------------------------------------------------
  // ord: UNIQUE KEY(o_orderkey, o_orderdate), range-partitioned by year
  private val ord = mutable.Map.empty[(Long, String), (Long, String, Long)]
  // cust: AGGREGATE KEY(c_custkey, c_nation), SUM / MAX / REPLACE values
  private val cust = mutable.Map.empty[(Long, Int), (Long, Long, String)]
  // li: DUPLICATE KEY(l_orderkey)
  private val li = mutable.Map.empty[Long, Vector[(Long, Long)]]
  // source rows for the bounded INSERT ... SELECT statements
  private val srcOrders = mutable.Map.empty[Long, (String, Long, String, Long)]
  private val srcLines = mutable.Map.empty[Long, Vector[(Long, Long)]]
  private var years: Vector[Int] = (FirstYear to LastYear).toVector
  private var nextYear = LastYear + 1
  private var nextOrderKey = 0L
  private var nextCustKey = 0L
  private var rowsets = 0
  private var corrupt = false

  /** Rowsets (loads: INSERT or UPDATE) applied so far, setup included. */
  def rowsetCount: Int = rowsets

  /** Test hook: perturb every expectation the model produces from now on. */
  def corruptExpectations(): Unit = corrupt = true

  private val ordCols = "o_orderkey, o_orderdate, o_custkey, o_status, o_cents"
  private val ordSrc = "o_orderkey, CAST(o_orderdate AS DATE), o_custkey, " +
    "o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT)"
  private val liSrc = "l_orderkey, l_partkey, CAST(l_quantity AS BIGINT)"

  /** Create the database and the three tables and bulk-load them. */
  def setup(): Unit = {
    graft.Tables.orders(spark, dataDir).where(s"o_orderkey >= $BaseKey")
      .createOrReplaceTempView("src_orders")
    graft.Tables.lineitem(spark, dataDir).where(s"l_orderkey >= $BaseKey")
      .createOrReplaceTempView("src_lineitem")
    graft.Tables.customer(spark, dataDir).createOrReplaceTempView("src_customer")
    ddl.execute("CREATE DATABASE bench")
    ddl.execute("USE bench")
    val parts = (FirstYear to LastYear).map(y =>
      s"PARTITION p$y VALUES LESS THAN ('${y + 1}-01-01')").mkString(",\n  ")
    ddl.execute(
      s"""CREATE TABLE ord (o_orderkey BIGINT, o_orderdate DATE,
         |  o_custkey BIGINT, o_status VARCHAR(1), o_cents BIGINT)
         |UNIQUE KEY(o_orderkey, o_orderdate)
         |PARTITION BY RANGE(o_orderdate) (
         |  $parts)
         |DISTRIBUTED BY HASH(o_orderkey) BUCKETS 4""".stripMargin)
    ddl.execute(
      """CREATE TABLE cust (c_custkey BIGINT, c_nation INT,
        |  total_cents BIGINT SUM, max_cents BIGINT MAX, last_status VARCHAR(1) REPLACE)
        |AGGREGATE KEY(c_custkey, c_nation)
        |DISTRIBUTED BY HASH(c_custkey) BUCKETS 4""".stripMargin)
    ddl.execute(
      """CREATE TABLE li (l_orderkey BIGINT, l_partkey BIGINT, l_qty BIGINT)
        |DUPLICATE KEY(l_orderkey)
        |DISTRIBUTED BY HASH(l_orderkey) BUCKETS 4""".stripMargin)
    ddl.execute(s"INSERT INTO ord SELECT $ordSrc FROM src_orders")
    ddl.execute(
      """INSERT INTO cust SELECT o_custkey, c_nationkey,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)),
        |  max(CAST(round(o_totalprice * 100) AS BIGINT)), max(o_orderstatus)
        |FROM src_orders JOIN src_customer ON o_custkey = c_custkey
        |GROUP BY o_custkey, c_nationkey""".stripMargin)
    ddl.execute(s"INSERT INTO li SELECT $liSrc FROM src_lineitem WHERE l_orderkey % 2 = 0")
    rowsets += 3

    // The model starts from the same source rows, read by plain Spark
    // rather than through the statement front end.
    spark.sql(s"SELECT $ordSrc FROM src_orders").collect().foreach { r =>
      val k = r.getLong(0)
      srcOrders(k) = (r.getDate(1).toString, r.getLong(2), r.getString(3), r.getLong(4))
      ord((k, r.getDate(1).toString)) = (r.getLong(2), r.getString(3), r.getLong(4))
    }
    spark.sql(
      """SELECT o_custkey, c_nationkey, CAST(round(o_totalprice * 100) AS BIGINT),
        |  o_orderstatus FROM src_orders JOIN src_customer ON o_custkey = c_custkey"""
        .stripMargin).collect().foreach { r =>
      val k = (r.getLong(0), r.getInt(1))
      val c = r.getLong(2)
      val (s, m, st) = cust.getOrElse(k, (0L, Long.MinValue, ""))
      cust(k) = (s + c, math.max(m, c), if (r.getString(3) > st) r.getString(3) else st)
    }
    spark.sql(s"SELECT $liSrc FROM src_lineitem").collect().foreach { r =>
      val k = r.getLong(0)
      srcLines(k) = srcLines.getOrElse(k, Vector.empty) :+ ((r.getLong(1), r.getLong(2)))
    }
    srcLines.foreach { case (k, v) => if (k % 2 == 0) li(k) = v }
    nextOrderKey = srcOrders.keys.max + 1
    nextCustKey = cust.keys.map(_._1).max + 1
  }

  // ---- statement generation -----------------------------------------------

  /** A generated statement; `apply` updates the model after a write,
    * `expect` gives the rows a read must return. */
  final case class Stmt(cls: String, sql: String, read: Boolean,
      apply: () => Unit, expect: () => Seq[String])

  private def ordKeys = ord.keys
  /** A key skewed toward the most recent ones: new keys are appended at the
    * top, and the draw favours the top of the range. */
  private def recent(rnd: Random, top: Long, span: Long): Long =
    math.max(0L, top - 1 - (span * math.pow(rnd.nextDouble(), 3)).toLong)

  private def fmtOrd(k: (Long, String), v: (Long, String, Long)): String =
    s"${k._1}|${k._2}|${v._1}|${v._2}|${v._3}"

  private def nullable(n: Long, v: Long): String = if (n == 0) "null" else v.toString

  /** The next statement of class `cls`, drawn against the current model. */
  def next(cls: String, rnd: Random): Stmt = cls match {
    case "insert_values_ord" =>
      val n = 1 + rnd.nextInt(4)
      val rows = (0 until n).map { _ =>
        if (rnd.nextBoolean()) {
          val k = nextOrderKey; nextOrderKey += 1
          val y = years(rnd.nextInt(years.size))
          val d = f"$y-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
          ((k, d), (rnd.nextInt(15000).toLong, "N", 100L + rnd.nextInt(1000000)))
        } else {
          val k = recent(rnd, nextOrderKey, 20000)
          val d = ordKeys.find(_._1 == k).map(_._2)
            .orElse(srcOrders.get(k).map(_._1)).getOrElse(s"$FirstYear-06-01")
          ((k, d), (rnd.nextInt(15000).toLong, "U", 100L + rnd.nextInt(1000000)))
        }
      }.toMap.toSeq.sortBy(_._1)
        .filter { case ((_, d), _) => years.contains(d.take(4).toInt) }
      val values = rows.map { case ((k, d), (c, s, v)) => s"($k, '$d', $c, '$s', $v)" }
      Stmt(cls, s"INSERT INTO ord ($ordCols) VALUES ${values.mkString(", ")}", read = false,
        () => { rows.foreach { case (k, v) => ord(k) = v }; rowsets += 1 }, () => Nil)
    case "insert_values_cust" =>
      val n = 1 + rnd.nextInt(3)
      val existing = cust.keys.toVector.sortBy(_._1)
      val rows = (0 until n).map { _ =>
        val key =
          if (rnd.nextInt(4) == 0) { val k = nextCustKey; nextCustKey += 1; (k, rnd.nextInt(25)) }
          else existing((existing.size - 1 -
            (existing.size * math.pow(rnd.nextDouble(), 3)).toInt).max(0))
        key -> ((100L + rnd.nextInt(100000)).toLong, ('A' + rnd.nextInt(26)).toChar.toString)
      }.toMap.toSeq.sortBy(_._1)
      val values = rows.map { case ((k, nat), (c, s)) => s"($k, $nat, $c, $c, '$s')" }
      Stmt(cls, s"INSERT INTO cust VALUES ${values.mkString(", ")}", read = false, () => {
        rows.foreach { case (k, (c, s)) =>
          val (sum, mx, _) = cust.getOrElse(k, (0L, Long.MinValue, ""))
          cust(k) = (sum + c, math.max(mx, c), s)
        }
        rowsets += 1
      }, () => Nil)
    case "insert_values_li" =>
      val k = recent(rnd, nextOrderKey, 20000)
      val rows = (0 until 1 + rnd.nextInt(3)).map(_ =>
        (rnd.nextInt(20000).toLong, 1L + rnd.nextInt(50)))
      val values = rows.map { case (p, q) => s"($k, $p, $q)" }
      Stmt(cls, s"INSERT INTO li VALUES ${values.mkString(", ")}", read = false,
        () => { li(k) = li.getOrElse(k, Vector.empty) ++ rows; rowsets += 1 }, () => Nil)
    case "insert_select_ord" =>
      val a = recent(rnd, srcOrders.keys.max - 9, 20000)
      val b = a + 9
      Stmt(cls, s"INSERT INTO ord SELECT o_orderkey, CAST(o_orderdate AS DATE), " +
        s"o_custkey, o_orderstatus, CAST(round(o_totalprice * 100) AS BIGINT) + 1 " +
        s"FROM src_orders WHERE o_orderkey BETWEEN $a AND $b", read = false, () => {
        (a to b).foreach(k => srcOrders.get(k).foreach { case (d, c, s, v) =>
          ord((k, d)) = (c, s, v + 1) })
        rowsets += 1
      }, () => Nil)
    case "insert_select_li" =>
      val a = recent(rnd, srcOrders.keys.max - 19, 20000)
      val b = a + 19
      Stmt(cls, s"INSERT INTO li SELECT $liSrc FROM src_lineitem " +
        s"WHERE l_orderkey BETWEEN $a AND $b", read = false, () => {
        (a to b).foreach(k => srcLines.get(k).foreach(v =>
          li(k) = li.getOrElse(k, Vector.empty) ++ v))
        rowsets += 1
      }, () => Nil)
    case "update" =>
      val a = recent(rnd, nextOrderKey, 20000)
      val b = a + rnd.nextInt(20)
      val d = 1 + rnd.nextInt(500)
      Stmt(cls, s"UPDATE ord SET o_cents = o_cents + $d WHERE o_orderkey BETWEEN $a AND $b",
        read = false, () => {
          ord.keys.filter(k => k._1 >= a && k._1 <= b).toVector.foreach { k =>
            val (c, s, v) = ord(k); ord(k) = (c, s, v + d) }
          rowsets += 1
        }, () => Nil)
    case "delete" =>
      val a = recent(rnd, nextOrderKey, 20000)
      val b = a + rnd.nextInt(10)
      Stmt(cls, s"DELETE FROM ord WHERE o_orderkey BETWEEN $a AND $b", read = false,
        () => ord.keys.filter(k => k._1 >= a && k._1 <= b).toVector.foreach(ord.remove),
        () => Nil)
    case "alter_partition" =>
      // Declared range partitions cannot be re-added once dropped (the
      // dropped range stays a rejecting hole), so each cycle adds the next
      // year above the last bound and later drops it again.
      if (years.last > LastYear) {
        val y = years.last
        Stmt(cls, s"ALTER TABLE ord DROP PARTITION p$y", read = false, () => {
          years = years.init
          ord.keys.filter(_._2.startsWith(y.toString)).toVector.foreach(ord.remove)
        }, () => Nil)
      } else {
        val y = nextYear
        Stmt(cls, s"ALTER TABLE ord ADD PARTITION p$y VALUES LESS THAN ('${y + 1}-01-01')",
          read = false, () => { years = years :+ y; nextYear += 1 }, () => Nil)
      }
    case "point_select" =>
      val k = recent(rnd, nextOrderKey, 20000)
      Stmt(cls, s"SELECT $ordCols FROM ord WHERE o_orderkey = $k", read = true, () => (),
        () => ord.collect { case (key, v) if key._1 == k => fmtOrd(key, v) }.toSeq)
    case "agg_group_by" =>
      val lo = recent(rnd, nextCustKey, 15000)
      Stmt(cls, "SELECT c_nation, count(*) AS n, sum(total_cents) AS s, " +
        s"max(max_cents) AS m, max(last_status) AS l FROM cust WHERE c_custkey >= $lo " +
        "GROUP BY c_nation", read = true, () => (), () =>
        cust.toSeq.filter(_._1._1 >= lo).groupBy(_._1._2).toSeq.map { case (nat, rs) =>
          s"$nat|${rs.size}|${rs.map(_._2._1).sum}|${rs.map(_._2._2).max}|" +
            rs.map(_._2._3).max
        })
    case "partition_scan" =>
      val y = years(rnd.nextInt(years.size))
      Stmt(cls, s"SELECT count(*) AS n, sum(o_cents) AS s FROM ord PARTITION (p$y)",
        read = true, () => (), () => {
          val rs = ord.toSeq.filter(_._1._2.startsWith(y.toString))
          Seq(s"${rs.size}|${nullable(rs.size, rs.map(_._2._3).sum)}")
        })
    case "join" =>
      val a = recent(rnd, nextOrderKey, 20000)
      val b = a + 999
      Stmt(cls, "SELECT count(*) AS n, sum(l.l_qty) AS q, sum(o.o_cents) AS c " +
        "FROM li l JOIN ord o ON l.l_orderkey = o.o_orderkey " +
        s"WHERE o.o_orderkey BETWEEN $a AND $b", read = true, () => (), () => {
          val pairs = ord.toSeq.filter(k => k._1._1 >= a && k._1._1 <= b).flatMap {
            case ((k, _), (_, _, cents)) => li.getOrElse(k, Vector.empty).map(l => (l._2, cents))
          }
          Seq(s"${pairs.size}|${nullable(pairs.size, pairs.map(_._1).sum)}|" +
            nullable(pairs.size, pairs.map(_._2).sum))
        })
    case "show_partitions" =>
      Stmt(cls, "SHOW PARTITIONS FROM ord", read = true, () => (), () =>
        years.map(y => s"p$y|${ord.keys.count(_._2.startsWith(y.toString))}"))
  }

  /** Render a result row the way the model renders its expectation. */
  def render(cls: String, r: Row): String =
    if (cls == "show_partitions") s"${r.get(0)}|${r.get(2)}"
    else r.toSeq.map(v => if (v == null) "null" else v.toString).mkString("|")

  /** Compare a read's rows with the model, as sorted multisets. */
  def check(s: Stmt, rows: Seq[Row]): Boolean = {
    val want = (if (corrupt) s.expect() :+ "corrupted" else s.expect()).sorted
    rows.map(render(s.cls, _)).sorted == want
  }

  /** Run one statement: returns the materialized rows of a read. */
  def execute(s: Stmt, span: Spans): Seq[Row] = {
    val r = span("execute", s.cls)(ddl.execute(s.sql))
    if (s.read) span("action", s.cls)(r.get.collect().toSeq) else Nil
  }
}

object DorisDml {
  /** The tables hold the orders from this key up (a sixth of sf0.1's). */
  val BaseKey = 125000L
  val FirstYear = 1995
  val LastYear = 2001
  /** Class counts of one 16-statement block: 8 reads, 8 writes. Every
    * class has one fixed shape, so that the seed changes keys and values
    * but not how much work a block does. */
  val Block: Seq[(String, Int)] = Seq(
    "insert_values_ord" -> 1, "insert_values_cust" -> 1, "insert_values_li" -> 1,
    "insert_select_ord" -> 1, "insert_select_li" -> 1, "update" -> 1, "delete" -> 1,
    "alter_partition" -> 1,
    "point_select" -> 2, "agg_group_by" -> 2, "partition_scan" -> 1, "join" -> 2,
    "show_partitions" -> 1)
  val Writes: Set[String] = Set("insert_values_ord", "insert_values_cust",
    "insert_values_li", "insert_select_ord", "insert_select_li", "update", "delete",
    "alter_partition")
}
