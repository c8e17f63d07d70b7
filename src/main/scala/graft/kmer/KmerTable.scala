package graft.kmer

import java.util.Arrays
import org.apache.spark.unsafe.types.UTF8String

/** Counts k-mers keyed by their UTF-8 bytes: the one counting kernel of
  * the read k-mer counts ([[graft.quantify.Quantify.countKmers]], through
  * [[KmerTable.counts]]) and of the per-transcript index rows
  * ([[KmerClasses]]).
  *
  * An open-addressing table with linear probing. [[add]] walks a
  * sequence's [[KmerSlices]] and hashes each k-mer's bytes where they lie
  * (a rolling hash on ASCII text), so a k-mer position allocates nothing; a
  * key is copied into the byte arena only the first time it is seen.
  * Entries are numbered in first-seen order, which is the order they are
  * read back in.
  *
  * The table grows by doubling up to `maxEntries` keys and `maxBytes` arena
  * bytes, and is then full: [[add]] stops at the first new key that does
  * not fit, so its owner can read the entries out, [[clear]] and go on.
  *
  * @param expected   keys to size the table for at first
  */
final class KmerTable(expected: Int, maxEntries: Int, maxBytes: Int) {
  import KmerTable._

  private var slots = new Array[Int](slotsFor(math.min(expected, maxEntries)))
  private var mask = slots.length - 1
  /** 32-bit hash, arena start and count of each entry; entry e's key is
    * arena(offsets(e) until offsets(e + 1)). */
  private var hashes = new Array[Int](slots.length / 2)
  private var offsets = new Array[Int](slots.length / 2 + 1)
  private var counts = new Array[Long](slots.length / 2)
  private var arena = new Array[Byte](math.max(16, math.min(maxBytes.toLong,
    slots.length / 2 * 32L).toInt))
  private var n = 0

  /** The number of distinct keys. */
  def size: Int = n
  def count(e: Int): Long = counts(e)
  /** A copy of entry e's key. */
  def key(e: Int): Array[Byte] = Arrays.copyOfRange(arena, offsets(e), offsets(e + 1))
  /** Entry e's key as a view of the arena: valid until the next [[clear]]. */
  def keyView(e: Int): UTF8String =
    UTF8String.fromBytes(arena, offsets(e), offsets(e + 1) - offsets(e))

  def clear(): Unit = { Arrays.fill(slots, 0); n = 0 }

  /** Counts the k-mers of `sl` from k-mer `from` on. Returns the index of
    * the first one not counted: `sl.count`, or less when the table filled. */
  def add(sl: KmerSlices, from: Int): Int = {
    val b = sl.bytes
    var i = from
    if (sl.ascii && i < sl.count) {
      val k = sl.k
      var top = 1L // P^(k-1): the weight of a k-mer's first byte
      for (_ <- 1 until k) top *= P
      var h = hash(b, i, i + k)
      while (i < sl.count && put(b, i, i + k, h)) {
        if (i + 1 < sl.count) h = (h - (b(i) & 0xff) * top) * P + (b(i + k) & 0xff)
        i += 1
      }
    } else
      while (i < sl.count && put(b, sl.from(i), sl.until(i), hash(b, sl.from(i), sl.until(i))))
        i += 1
    i
  }

  /** Counts the key `b(from until until)`, whose [[hash]] is `h`; false
    * when it is new and does not fit. */
  private def put(b: Array[Byte], from: Int, until: Int, h: Long): Boolean = {
    val h32 = mix(h)
    var s = h32 & mask
    while (true) {
      val e = slots(s) - 1
      if (e < 0) {
        val len = until - from
        if (n == maxEntries || offsets(n).toLong + len > maxBytes) return false
        if (n == hashes.length) { growEntries(); s = probe(h32) }
        if (offsets(n) + len > arena.length) growArena(offsets(n).toLong + len)
        System.arraycopy(b, from, arena, offsets(n), len)
        offsets(n + 1) = offsets(n) + len
        hashes(n) = h32
        counts(n) = 1
        n += 1
        slots(s) = n
        return true
      }
      if (hashes(e) == h32 &&
          Arrays.equals(arena, offsets(e), offsets(e + 1), b, from, until)) {
        counts(e) += 1
        return true
      }
      s = (s + 1) & mask
    }
    false // unreachable: a table is at most half full
  }

  /** The first free slot on `h32`'s probe path. */
  private def probe(h32: Int): Int = {
    var s = h32 & mask
    while (slots(s) != 0) s = (s + 1) & mask
    s
  }

  /** Doubles the entry arrays and the slots (at most half of them in use),
    * and re-slots every entry. */
  private def growEntries(): Unit = {
    val cap = hashes.length * 2
    hashes = Arrays.copyOf(hashes, cap)
    offsets = Arrays.copyOf(offsets, cap + 1)
    counts = Arrays.copyOf(counts, cap)
    slots = new Array[Int](cap * 2)
    mask = slots.length - 1
    for (e <- 0 until n) slots(probe(hashes(e))) = e + 1
  }

  private def growArena(need: Long): Unit = {
    var cap = arena.length.toLong
    while (cap < need) cap *= 2
    arena = Arrays.copyOf(arena, math.min(cap, maxBytes.toLong).toInt)
  }
}

object KmerTable {
  /** The most keys and arena bytes a [[counts]] table holds before it
    * emits and clears: at most 56 MiB of a task's heap at k = 20. */
  val MaxEntries: Int = 1 << 20
  val MaxBytes: Int = 1 << 25

  /** The multiplier of the polynomial byte hash. */
  private val P = 0x100000001b3L

  /** The polynomial hash of `b(from until until)`, Σ b(j)·P^(until−1−j);
    * [[KmerTable.add]] rolls it along ASCII text. */
  private def hash(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0L
    var j = from
    while (j < until) { h = h * P + (b(j) & 0xff); j += 1 }
    h
  }

  /** Murmur3's 64-bit finalizer, folded to 32 bits. */
  private def mix(h: Long): Int = {
    var x = h
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x.toInt
  }

  /** A power-of-two slot count that holds `keys` at most half full. */
  private def slotsFor(keys: Int): Int =
    math.max(16, Integer.highestOneBit(math.max(keys, 1) * 2 - 1) * 2)

  /** `(k-mer bytes, count)` for the distinct k-mers of `seqs` (null
    * sequences have none), counted a table at a time: when the table is
    * full its entries are emitted, in first-seen order, and it clears. A
    * k-mer can so appear in several batches; the caller's sum merges
    * them. */
  def counts(seqs: Iterator[Array[Byte]], k: Int, maxEntries: Int = MaxEntries,
      maxBytes: Int = MaxBytes): Iterator[(Array[Byte], Long)] =
    new Iterator[(Array[Byte], Long)] {
      private val table = new KmerTable(1 << 12, maxEntries, maxBytes)
      private var cur: KmerSlices = null // the sequence being counted
      private var pos = 0 // its first k-mer not yet counted
      private var emitted = 0

      /** Clears the table and counts k-mers until it is full or `seqs`
        * is done. */
      private def fill(): Unit = {
        table.clear()
        emitted = 0
        var full = false
        while (!full && (cur != null || seqs.hasNext)) {
          if (cur == null) {
            val s = seqs.next()
            if (s != null) { cur = new KmerSlices(s, k); pos = 0 }
          }
          if (cur != null) {
            val stop = table.add(cur, pos)
            if (stop < cur.count) {
              require(table.size > 0,
                s"a $k-mer of ${cur.until(stop) - cur.from(stop)} bytes exceeds $maxBytes")
              pos = stop; full = true
            } else cur = null
          }
        }
      }

      override def hasNext: Boolean = {
        if (emitted == table.size && (cur != null || seqs.hasNext)) fill()
        emitted < table.size
      }

      override def next(): (Array[Byte], Long) = {
        if (!hasNext) throw new NoSuchElementException
        emitted += 1
        (table.key(emitted - 1), table.count(emitted - 1))
      }
    }
}
