package graft.enrich

import java.nio.charset.StandardCharsets.ISO_8859_1

/** An immutable String→String table on two primitive arrays: one byte arena
  * holding every (key, value) pair and one `Int` open-addressing index over
  * it (after CAMEL, EDBT'26, and "Analyzing Vectorized Hash Tables Across
  * CPU Architectures", VLDB'23). A String map entry costs a hash-trie slot
  * plus two `String` objects, 150–200 B; here an entry costs its bytes plus
  * about 11 B of index.
  *
  * Arena entry: key field, value field. A field is a varint header
  * `(byteLength << 1) | nonAscii` and the chars, each encoded on its own
  * (1–3 bytes, UTF-8 for every char outside the surrogate range; a
  * surrogate takes 3 bytes of its own), so any Java String, unpaired
  * surrogates included, round-trips exactly.
  *
  * Index: `capacity` slots of two ints each, the key's `String.hashCode` and
  * the entry's arena offset + 1 (0 = empty), linear probing from a
  * multiply-shift reduction of the mixed hash; load ≤ 0.7. A probe compares
  * the stored hash first and then the key's chars against the stored key
  * bytes, so a hash match alone is never a hit. A miss allocates nothing; a
  * hit on an ASCII value allocates only the returned String.
  *
  * Only the arena goes over the wire; `readObject` rebuilds the index. */
final class FlatDict private (private val arena: Array[Byte]) extends Serializable {
  @transient private var index: Array[Int] = _
  @transient private var capacity: Int = _
  @transient private var count: Int = _
  buildIndex()

  def size: Int = count

  /** The value stored under `key`, or null. */
  def get(key: String): String = {
    val ref = index(2 * slotOf(key, key.hashCode) + 1)
    if (ref == 0) null else str(skip(ref - 1))
  }

  def getOrElse(key: String, default: String): String = {
    val v = get(key)
    if (v == null) default else v
  }

  /** Every (key, value) pair, in arena order. */
  def iterator: Iterator[(String, String)] = new Iterator[(String, String)] {
    private var off = 0
    def hasNext: Boolean = off < arena.length
    def next(): (String, String) = {
      val vOff = skip(off)
      val kv = (str(off), str(vOff))
      off = skip(vOff)
      kv
    }
  }

  override def equals(o: Any): Boolean = o match {
    case d: FlatDict => (d eq this) || (d.size == size && iterator.forall { case (k, v) => v == d.get(k) })
    case _ => false
  }
  override def hashCode: Int = iterator.map(_._1.hashCode).sum
  override def toString: String = s"FlatDict($size entries)"

  private def varint(p: Int): Int = {
    var v = 0
    var shift = 0
    var q = p
    var b = 0x80
    while ((b & 0x80) != 0) {
      b = arena(q) & 0xff
      v |= (b & 0x7f) << shift
      shift += 7
      q += 1
    }
    v
  }

  /** Offset just past the field at `p`. */
  private def skip(p: Int): Int = {
    val hdr = varint(p)
    p + FlatDict.varintSize(hdr) + (hdr >>> 1)
  }

  /** The field at `p` as a String. */
  private def str(p: Int): String = {
    val hdr = varint(p)
    val start = p + FlatDict.varintSize(hdr)
    val len = hdr >>> 1
    if ((hdr & 1) == 0) new String(arena, start, len, ISO_8859_1)
    else {
      val sb = new java.lang.StringBuilder(len)
      var q = start
      val end = start + len
      while (q < end) {
        val b = arena(q) & 0xff
        if (b < 0x80) { sb.append(b.toChar); q += 1 }
        else if (b < 0xe0) { sb.append(((b & 0x1f) << 6 | arena(q + 1) & 0x3f).toChar); q += 2 }
        else {
          sb.append(((b & 0x0f) << 12 | (arena(q + 1) & 0x3f) << 6 | arena(q + 2) & 0x3f).toChar)
          q += 3
        }
      }
      sb.toString
    }
  }

  /** Does the key field at `p` hold exactly `key`'s chars? */
  private def keyEquals(p: Int, key: String): Boolean = {
    val hdr = varint(p)
    var q = p + FlatDict.varintSize(hdr)
    val end = q + (hdr >>> 1)
    var j = 0
    val n = key.length
    while (j < n) {
      val c = key.charAt(j)
      if (c < 0x80) {
        if (q >= end || arena(q) != c.toByte) return false
        q += 1
      } else if (c < 0x800) {
        if (q + 2 > end || arena(q) != (0xc0 | c >> 6).toByte ||
          arena(q + 1) != (0x80 | c & 0x3f).toByte) return false
        q += 2
      } else {
        if (q + 3 > end || arena(q) != (0xe0 | c >> 12).toByte ||
          arena(q + 1) != (0x80 | (c >> 6) & 0x3f).toByte ||
          arena(q + 2) != (0x80 | c & 0x3f).toByte) return false
        q += 3
      }
      j += 1
    }
    q == end
  }

  /** The slot holding `key` (hash `h`), or the empty slot it would take. */
  private def slotOf(key: String, h: Int): Int = {
    var i = FlatDict.home(h, capacity)
    while (index(2 * i + 1) != 0 && !(index(2 * i) == h && keyEquals(index(2 * i + 1) - 1, key))) {
      i += 1
      if (i == capacity) i = 0
    }
    i
  }

  /** Index every arena entry; a later entry with an equal key replaces an
    * earlier one (the builder writes each key once). */
  private def buildIndex(): Unit = {
    var n = 0
    var off = 0
    while (off < arena.length) { n += 1; off = skip(skip(off)) }
    capacity = math.max(2, (n / FlatDict.MaxLoad).toInt + 1)
    index = new Array[Int](2 * capacity)
    count = 0
    off = 0
    while (off < arena.length) {
      val key = str(off)
      val i = slotOf(key, key.hashCode)
      if (index(2 * i + 1) == 0) count += 1
      index(2 * i) = key.hashCode
      index(2 * i + 1) = off + 1
      off = skip(skip(off))
    }
  }

  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    buildIndex()
  }
}

object FlatDict {
  private val MaxLoad = 0.7

  /** Home slot of hash `h`: murmur3's finalizer, then multiply-shift onto
    * [0, capacity). */
  private def home(h: Int, capacity: Int): Int = {
    var x = h
    x ^= x >>> 16; x *= 0x85ebca6b
    x ^= x >>> 13; x *= 0xc2b2ae35
    x ^= x >>> 16
    (((x & 0xffffffffL) * capacity) >>> 32).toInt
  }

  private def varintSize(v: Int): Int =
    if (v < (1 << 7)) 1 else if (v < (1 << 14)) 2 else if (v < (1 << 21)) 3
    else if (v < (1 << 28)) 4 else 5

  /** The table of `pairs`; for a key given twice the later value wins, as
    * in a Map builder. */
  def apply(pairs: IterableOnce[(String, String)]): FlatDict = {
    val last = new java.util.LinkedHashMap[String, String]()
    pairs.iterator.foreach { case (k, v) => last.put(k, v) }
    var buf = new Array[Byte](1024)
    var used = 0
    def put(b: Int): Unit = {
      if (used == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
      buf(used) = b.toByte
      used += 1
    }
    def field(s: String): Unit = {
      var len = 0
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        len += (if (c < 0x80) 1 else if (c < 0x800) 2 else 3)
        j += 1
      }
      var hdr = len << 1 | (if (len == s.length) 0 else 1)
      while (hdr >= 0x80) { put(hdr & 0x7f | 0x80); hdr >>>= 7 }
      put(hdr)
      j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        if (c < 0x80) put(c)
        else if (c < 0x800) { put(0xc0 | c >> 6); put(0x80 | c & 0x3f) }
        else { put(0xe0 | c >> 12); put(0x80 | (c >> 6) & 0x3f); put(0x80 | c & 0x3f) }
        j += 1
      }
    }
    last.forEach((k, v) => { field(k); field(v) })
    new FlatDict(java.util.Arrays.copyOf(buf, used))
  }
}
