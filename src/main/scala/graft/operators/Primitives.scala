package graft.operators

/** Open-addressing map from `long` keys to dense ids 0, 1, 2, … in
  * first-seen order: the node, shingle and pair dictionary of the
  * driver steps, and their `long` set (a key is new iff [[add]] says
  * so). Slots hold id + 1 (0 = empty) under linear probing at load
  * ≤ 1/2; each key is stored once, in id order, so nothing is boxed. */
final class LongIds(expected: Int = 16) {
  private var keys = new Array[Long](math.max(expected, 4))
  private var n = 0
  private var slots = new Array[Int](LongIds.tableFor(expected))
  private var mask = slots.length - 1

  def size: Int = n

  /** The key of id `i`. */
  def key(i: Int): Long = keys(i)

  /** Every key, in id order. */
  def toArray: Array[Long] = java.util.Arrays.copyOf(keys, n)

  /** The id of `k`, or -1 when absent. */
  def find(k: Long): Int = {
    var s = LongIds.mix(k) & mask
    var e = slots(s)
    while (e != 0 && keys(e - 1) != k) { s = (s + 1) & mask; e = slots(s) }
    e - 1
  }

  /** The id of `k`, added as the next id when absent. */
  def id(k: Long): Int = {
    var s = LongIds.mix(k) & mask
    var e = slots(s)
    while (e != 0 && keys(e - 1) != k) { s = (s + 1) & mask; e = slots(s) }
    if (e != 0) e - 1
    else {
      if (n == keys.length) keys = java.util.Arrays.copyOf(keys, n * 2)
      keys(n) = k
      n += 1
      slots(s) = n
      if (2L * n > slots.length) grow()
      n - 1
    }
  }

  /** Adds `k`; true iff it was absent. */
  def add(k: Long): Boolean = { val before = n; id(k); n > before }

  private def grow(): Unit = {
    slots = new Array[Int](slots.length * 2)
    mask = slots.length - 1
    var i = 0
    while (i < n) {
      var s = LongIds.mix(keys(i)) & mask
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
      i += 1
    }
  }
}

private object LongIds {
  /** Power-of-two slot count holding `n` keys at load ≤ 1/2. */
  def tableFor(n: Int): Int =
    Integer.highestOneBit(math.max(2 * math.max(n, 4) - 1, 1)) << 1

  /** MurmurHash3's 64-bit finalizer, folded to the low int bits. */
  def mix(k0: Long): Int = {
    var k = k0
    k ^= k >>> 33
    k *= 0xff51afd7ed558ccdL
    k ^= k >>> 33
    k *= 0xc4ceb9fe1a85ec53L
    k ^= k >>> 33
    k.toInt
  }
}

/** Compressed sparse rows: `values` grouped by an int key in
  * [0, start.length − 1), key `k`'s group at `start(k) until
  * start(k + 1)` — postings lists and adjacency lists as two flat
  * `int` arrays. */
final class Csr private (val start: Array[Int], val values: Array[Int])

object Csr {
  /** The first `n` (key(e), value(e)) entries grouped by key in
    * [0, keys), each group in entry order: one counting sort. */
  def apply(keys: Int, key: Array[Int], value: Array[Int], n: Int): Csr = {
    val start = new Array[Int](keys + 1)
    var e = 0
    while (e < n) { start(key(e) + 1) += 1; e += 1 }
    var k = 0
    while (k < keys) { start(k + 1) += start(k); k += 1 }
    val next = java.util.Arrays.copyOf(start, keys)
    val values = new Array[Int](n)
    e = 0
    while (e < n) {
      val g = key(e)
      values(next(g)) = value(e)
      next(g) += 1
      e += 1
    }
    new Csr(start, values)
  }
}
