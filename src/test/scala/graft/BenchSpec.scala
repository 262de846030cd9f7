package graft

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("SPARK_GRAFT_BENCH_ONLY: known names pass, unknown names fail listed") {
    assert(Bench.onlyQueries("q_knn, q_extract") == Set("q_knn", "q_extract"))
    val e = intercept[IllegalArgumentException] {
      Bench.onlyQueries("q_knn,q_nope,q_typo ")
    }
    assert(e.getMessage.contains("q_nope, q_typo"), e.getMessage)
  }
}
