package graft

import graft.frontier.{Cuckoo, SeenFilter}
import org.scalatest.funsuite.AnyFunSuite

/** Cuckoo-filter semantics: the no-false-negative contract (the one the
  * seen-set depends on), deletion, load behavior, serialization. */
class CuckooSpec extends AnyFunSuite {

  private def keys(n: Int, seed: Long = 7L): Seq[Long] =
    (0 until n).map(i => seed * 0x9e3779b97f4a7c15L + i * 0x6a09e667f3bcc909L)

  test("no false negatives across inserts, incl. past nominal capacity (stash)") {
    val f = Cuckoo(capacity = 1000)
    val ks = keys(2000) // 2x capacity → forced evac failures → stash
    ks.foreach(f.put)
    assert(ks.forall(f.mightContain), "false negative!")
  }

  test("false positive rate is small at design load") {
    val f = Cuckoo(capacity = 10000)
    val ins = keys(9000)
    ins.foreach(f.put)
    val probe = keys(20000, seed = 99L).filterNot(ins.toSet)
    val fp = probe.count(f.mightContain).toDouble / probe.size
    assert(fp < 0.01, s"fp=$fp")
  }

  test("delete removes membership; unrelated keys unaffected") {
    val f = Cuckoo(capacity = 1000)
    val ks = keys(500)
    ks.foreach(f.put)
    val victim = ks(123)
    assert(f.mightContain(victim))
    assert(f.delete(victim))
    // deleting may leave a same-fingerprint twin; at 500 distinct keys
    // and 16-bit fps a collision in victim's two buckets is ~never
    assert(!f.mightContain(victim))
    assert(ks.filterNot(_ == victim).forall(f.mightContain))
  }

  test("delete of one (fp, bucket-pair)-colliding key never false-negatives the other") {
    // force a collision: tiny table (few buckets) so two keys sharing a
    // fingerprint... instead simulate directly: insert the SAME key twice
    // (duplicate copies allowed per Fan et al.), delete once — membership
    // must survive, exactly the colliding-twin scenario at fp level
    val f = Cuckoo(capacity = 64)
    f.put(42L); f.put(42L)
    assert(f.delete(42L))
    assert(f.mightContain(42L), "remaining duplicate copy must keep membership")
    assert(f.delete(42L) && !f.mightContain(42L))
  }

  test("blob kind header: resuming bloom blobs as cuckoo fails fast (and vice versa)") {
    val c = SeenFilter.fresh("cuckoo", 0, 0, 100); c.put(5L)
    val b = SeenFilter.fresh("bloom", 1 << 12, 5, 0); b.put(6L)
    intercept[IllegalArgumentException](SeenFilter.deserialize("bloom", c.serialize))
    intercept[IllegalArgumentException](SeenFilter.deserialize("cuckoo", b.serialize))
  }

  test("serialization roundtrip preserves membership and stash") {
    val f = Cuckoo(capacity = 100)
    val ks = keys(300) // overload → nonempty stash
    ks.foreach(f.put)
    val g = Cuckoo.deserialize(f.serialize)
    assert(ks.forall(g.mightContain))
    assert(g.stash == f.stash)
    assert(g.table.sameElements(f.table))
  }

  test("copyOf isolates mutation (broadcast safety)") {
    val f = Cuckoo(capacity = 100)
    f.put(42L)
    val g = f.copyOf
    g.put(4242L)
    assert(!f.mightContain(4242L) && g.mightContain(4242L))
  }

  test("SeenFilter factory dispatch") {
    val c = SeenFilter.fresh("cuckoo", 0, 0, 100)
    c.put(5L)
    assert(SeenFilter.deserialize("cuckoo", c.serialize).mightContain(5L))
    val b = SeenFilter.fresh("bloom", 1 << 12, 5, 0)
    b.put(6L)
    assert(SeenFilter.deserialize("bloom", b.serialize).mightContain(6L))
  }

  test("saturated tiny filters: no false negatives even when eviction walks fail") {
    // tiny tables make walk failures (→ stash + fp sentinel) the common
    // path and maximize fingerprint-collision chances among co-located
    // keys — the regime where a missing sentinel for a displaced twin
    // fingerprint would surface as a false negative
    val rnd = new scala.util.Random(777)
    for (trial <- 0 until 200) {
      val f = Cuckoo(capacity = 4 + rnd.nextInt(12))
      val xs = List.fill(50 + rnd.nextInt(450))(rnd.nextLong())
      xs.foreach(f.put)
      assert(xs.forall(f.mightContain), s"trial=$trial")
    }
  }

  test("one mark per put: deleting once per put empties even saturated filters") {
    // put adds exactly one mark (table copy OR fp sentinel); delete
    // removes exactly one matching mark. Through heavy walk-failure
    // territory the books must balance: nothing left after deleting
    // every key once. (The old failed-walk path stashed the raw key
    // AND a sentinel — two marks — leaving keys permanently seen.)
    val rnd = new scala.util.Random(991)
    for (trial <- 0 until 100) {
      val f = Cuckoo(capacity = 4 + rnd.nextInt(12))
      val xs = List.fill(50 + rnd.nextInt(200))(rnd.nextLong())
      xs.foreach(f.put)
      xs.foreach(k => assert(f.delete(k), s"trial=$trial: delete found no mark"))
      assert(f.load == 0.0, s"trial=$trial: table copies left")
      assert(f.stash.isEmpty, s"trial=$trial: sentinels left")
    }
  }

  test("property sweep: membership holds for many key-set shapes and sizes") {
    val rnd = new scala.util.Random(12345)
    for (trial <- 0 until 50) {
      val n = 1 + rnd.nextInt(800)
      val xs = List.fill(n)(rnd.nextLong())
      val f = Cuckoo(capacity = math.max(16, xs.size))
      xs.foreach(f.put)
      assert(xs.forall(f.mightContain), s"trial=$trial n=$n")
    }
  }

  test("tableBytes is the table size Cuckoo(capacity) allocates") {
    // an empty filter's blob = 2 header bytes + 3 ints + the table +
    // an empty stash's length int
    for (c <- Seq(1, 4, 1000, 100000))
      assert(Cuckoo.tableBytes(c) == Cuckoo(c).serialize.length - 18, s"capacity=$c")
  }
}
