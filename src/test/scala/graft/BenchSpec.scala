package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench record's engine keys are a contract: existing keys keep their
  * names, new measurements arrive as new keys only.
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("engineBench returns exactly its 18 keys, finite and non-negative") {
    val m = Bench.engineBench(spark, 2000)
    assert(m.keySet == Set(
      "ix_build_sec", "ix_build_docs_per_sec",
      "ix_query_p50_ms", "ix_query_max_ms", "ix_query_p50_ms_warm", "ix_query_p50_ms_fq",
      "ix_spin_sentinel_ms", "ix_spin_sentinel_mt_ms",
      "ix_query_p50_ms_distributed", "ix_query_max_ms_distributed",
      "ix_multisearch_p50_ms",
      "ix_batch_qps", "ix_batch_qps_cold", "ix_batch_qps_warm", "ix_batch_qps_distributed",
      "ix_spin_sentinel_end_ms", "ix_spin_sentinel_end_mt_ms",
      "ix_load_contaminated"))
    m.foreach { case (k, v) =>
      assert(!v.isNaN && !v.isInfinite && v >= 0, s"$k = $v")
    }
    assert(Set(0.0, 1.0).contains(m("ix_load_contaminated")))
  }
}
