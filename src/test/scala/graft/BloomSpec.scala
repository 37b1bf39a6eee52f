package graft

import graft.frontier.Bloom
import org.scalatest.funsuite.AnyFunSuite

class BloomSpec extends AnyFunSuite {

  test("no false negatives; serialization round-trips") {
    val b = Bloom(1 << 16, 5)
    val xs = (1L to 5000L).map(i => i * 0x9e3779b97f4a7c15L)
    xs.foreach(b.put)
    assert(xs.forall(b.mightContain))
    val b2 = Bloom.deserialize(b.serialize)
    assert(xs.forall(b2.mightContain))
  }

  test("false-positive rate bounded at design load") {
    // 2^20 bits, 5 hashes, 100k inserts → theoretical FPR ≈ 0.6%
    val b = Bloom(1 << 20, 5)
    (1L to 100000L).foreach(i => b.put(i * 31L + 7L))
    val probes = (1L to 20000L).map(i => -i * 131L - 3L)
    val fp = probes.count(b.mightContain)
    assert(fp.toDouble / probes.size < 0.02, s"FPR too high: $fp/20000")
  }
}
