package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The doris_dml result check must count a wrong expectation as a failed
  * op, through the same loop the benchmark times ops with. */
class DorisDmlSpec extends AnyFunSuite {
  test("reads pass against the model, and fail once its expectations are corrupted") {
    val spark = Main.session(2)
    try {
      val w = new DmlWorkload(spark, sys.props("perfbench.data"))
      w.setup()
      val clean = Main.runOps(w.ops(seed = 7, seconds = 10), None)
      assert(clean.nonEmpty && clean.forall(_.ok), clean.filterNot(_.ok).map(_.text))

      w.dml.corruptExpectations()
      val corrupted = Main.runOps(w.ops(seed = 8, seconds = 10), None)
      val (reads, writes) = corrupted.partition(_.query)
      assert(reads.nonEmpty && reads.forall(!_.ok))
      assert(writes.nonEmpty && writes.forall(_.ok))
    } finally spark.stop()
  }
}
