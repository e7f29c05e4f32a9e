package graft.core

import org.scalatest.funsuite.AnyFunSuite

class FanOutSpec extends AnyFunSuite {

  private val MB = BigInt(1L << 20)

  test("fan target: bytes-derived, floor 4, never above parallelism") {
    // par = 2: the floor of 4 would exceed the session, so it caps at 2
    assert(FanOut.targetFor(2, 1) == 2)
    assert(FanOut.targetFor(2, 100 * MB) == 2)
    // par = 4: floor and cap coincide
    assert(FanOut.targetFor(4, 1) == 4)
    assert(FanOut.targetFor(4, 100 * MB) == 4)
    // par = 32: floor 4, then one task per started 8 MB, capped at 32
    assert(FanOut.targetFor(32, 1) == 4)
    assert(FanOut.targetFor(32, 40 * MB + 1) == 6)
    assert(FanOut.targetFor(32, 1000 * MB) == 32)
  }

  test("fan target: unknown or empty size fans to full parallelism") {
    for (par <- Seq(2, 4, 32)) {
      assert(FanOut.targetFor(par, 0) == par)
      assert(FanOut.targetFor(par, BigInt(Long.MaxValue)) == par)
    }
  }
}
