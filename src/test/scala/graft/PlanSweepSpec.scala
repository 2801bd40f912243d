package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanSweep]]'s plan gate in the test suite: on sf0.01 every contract
  * entry plans without a cartesian product, an exchange storm or an
  * all-pairs NLJ in the dedup family, no entry gains an exchange over
  * `plan_exchanges.snapshot`, and the snapshot covers exactly the
  * contract's entries. A fresh `newSession` keeps confs and temp views
  * other suites leave on the shared session out of the plans. */
class PlanSweepSpec extends AnyFunSuite {

  test("every contract entry passes the plan sweep and the exchange ratchet at sf0.01") {
    val spark = Engine.wireSession(Engine.session("local[4]").newSession())
    val bad = PlanSweep.sweep(spark, PlanSweep.defaultSf)
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
  }
}
