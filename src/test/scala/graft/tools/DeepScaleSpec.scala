package graft.tools

import graft.BenchLegs
import org.scalatest.funsuite.AnyFunSuite

/** The deep-scale fixture's correctness rests on its cipher family:
  * every replica permutation must be a bijection (or Jaccard structure
  * is not preserved) and distinct across replicas (or replicas alias
  * into manufactured exact duplicates — the 26-rotation failure mode
  * this family exists to avoid). */
class DeepScaleSpec extends AnyFunSuite {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Digits = "0123456789"

  test("perm is a bijection of its alphabet at every replica") {
    (0 until 200).foreach { r =>
      val p = BenchLegs.perm(Lower, r)
      assert(p.length == Lower.length && p.toSet == Lower.toSet,
        s"rep $r not a permutation: $p")
      assert(BenchLegs.perm(Digits, r).toSet == Digits.toSet)
    }
  }

  test("perm is identity at replica 0 and reproducible") {
    assert(BenchLegs.perm(Lower, 0) == Lower)
    assert(BenchLegs.perm(Lower, 7) == BenchLegs.perm(Lower, 7))
  }

  test("permutations are pairwise distinct far past the rotation cycle") {
    val ps = (0 until 200).map(r =>
      BenchLegs.perm(Lower, r) + BenchLegs.perm(Digits, r))
    assert(ps.distinct.length == ps.length,
      "replica ciphers collide — fixture would manufacture exact dups")
  }
}
