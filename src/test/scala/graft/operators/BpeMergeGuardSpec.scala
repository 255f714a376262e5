package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side BPE merge loop states why it stops: a round with no
  * adjacent token pair left fails with a named domain error.
  */
class BpeMergeGuardSpec extends AnyFunSuite {
  test("a merge round over word types collapsed to one token fails loudly") {
    // round 1 merges (a, b); round 2 finds every word a single token
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeDriverMerges(Array(("ab", 3L), ("ab", 1L)), rounds = 2)
    }
    assert(e.getMessage.contains("BPE merge round found no adjacent pairs"))
  }
}
