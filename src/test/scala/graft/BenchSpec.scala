package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `partial` flag of the Bench record. */
class BenchSpec extends AnyFunSuite {

  test("a record past its budget is partial; at or under the budget it is not") {
    assert(!Bench.isPartial(requested = false, unpriced = false, elapsedSec = 1499.9, budgetSec = 1500.0))
    assert(!Bench.isPartial(requested = false, unpriced = false, elapsedSec = 1500.0, budgetSec = 1500.0))
    assert(Bench.isPartial(requested = false, unpriced = false, elapsedSec = 1501.5, budgetSec = 1500.0))
  }

  test("a requested record or an unpriced row is partial within the budget") {
    assert(Bench.isPartial(requested = true, unpriced = false, elapsedSec = 10.0, budgetSec = 1500.0))
    assert(Bench.isPartial(requested = false, unpriced = true, elapsedSec = 10.0, budgetSec = 1500.0))
  }
}
