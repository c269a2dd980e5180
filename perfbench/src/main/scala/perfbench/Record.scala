package perfbench

import java.nio.file.{Files, Paths}

/** Writes the expected result signature of every key the key-catalog
  * workloads run: `Record <data dir> <signatures.tsv> <nproc>`. Each key
  * runs twice; a key whose two signatures differ is reported and left out,
  * since no expectation can be recorded for it. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, out, nproc) = args
    val spark = Main.session(nproc.toInt)
    val defs = graft.SparkEntry.defs
    val keys = Seq("olap_queries", "stream_lifecycle").flatMap(Keys.of)
    val lines = keys.flatMap { k =>
      val a = Signature.of(defs(k).build(spark, data))
      val b = Signature.of(defs(k).build(spark, data))
      if (a == b) Some(s"$k\t$a")
      else { System.err.println(s"[record] $k is not deterministic: $a vs $b"); None }
    }
    Files.writeString(Paths.get(out), lines.mkString("", "\n", "\n"))
    println(s"recorded ${lines.size} of ${keys.size} keys")
    spark.stop()
  }
}
