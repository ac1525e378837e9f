package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("span self times partition the root's wall, concurrent children included") {
    import SpanTree.S
    val root = S(1, 0, "root", 0, 100)
    val seq = S(2, 1, "a", 10, 30) // 20, sequential
    val c1 = S(3, 1, "b", 40, 80) // 40, overlaps c2
    val c2 = S(4, 1, "c", 40, 60) // 20
    val leaf = S(5, 3, "d", 50, 70) // inside b
    val all = Seq(root, seq, c1, c2, leaf)
    val self = SpanTree.selfTimes(all, Seq(root))
    assert(math.abs(self.values.sum - 100.0) < 1e-9)
    // root covers [10,30] and [40,80]: 60 of its 100 are its children's
    assert(math.abs(self("root") - 40.0) < 1e-9)
    assert(math.abs(self("a") - 20.0) < 1e-9)
    // b and c split [40,60]; b alone holds [60,80]
    assert(math.abs(self("c") - 10.0) < 1e-9)
    // b's 30 cover its 40 at 3/4; d holds 20 of b's 40
    assert(math.abs(self("d") - 15.0) < 1e-9)
    assert(math.abs(self("b") - 15.0) < 1e-9)
  }
}
