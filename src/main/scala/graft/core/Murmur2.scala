package graft.core

/** MurmurHash2 (32-bit), bit-compatible with the reference engine's hash
  * (see /root/reference/src/MPI/utils.c:5-41 — constants m=0x5bd1e995, r=24;
  * the doc comment there claims MurmurHash3 but the body is MurmurHash2).
  *
  * Implemented from the public-domain MurmurHash2 algorithm (Austin Appleby):
  * little-endian 4-byte words, 1..3-byte tail mixed per byte, final avalanche.
  * All arithmetic is wrapping 32-bit; Scala `Int` multiplication and XOR wrap
  * identically to C `uint32_t`, and `>>>` gives the logical (unsigned) shift.
  *
  * Golden vectors (FIXTURES.md §2) pin this implementation, e.g.
  * murmur2("the quick brown", seed=13) == 3138408474 (as unsigned).
  *
  * The string variants read `char & 0xFF` per position — for the ASCII-only
  * strings produced by [[Tokenizer]] this equals the C byte stream and avoids
  * allocating a byte array per shingle. The steps are exposed one by one
  * (`mixWord`, `step`, `tail`, `avalanche`) so the multi-seed signature
  * kernel runs the same arithmetic, written once here.
  */
object Murmur2 {
  private final val M = 0x5bd1e995
  private final val R = 24

  /** The mix of one little-endian 4-byte word. It takes no input from the
    * seed, so a caller hashing one input under many seeds mixes each word
    * once ([[SignatureKernel.compute]]).
    */
  @inline def mixWord(k: Int): Int = {
    val a = k * M
    (a ^ (a >>> R)) * M
  }

  /** Fold one mixed word into the running hash `h`. */
  @inline def step(h: Int, mixed: Int): Int = h * M ^ mixed

  /** Fold the 1..3 tail bytes, packed by [[tailAt]], into `h`. */
  @inline def tail(h: Int, packed: Int): Int = (h ^ packed) * M

  /** The final avalanche. */
  @inline def avalanche(h: Int): Int = {
    val a = (h ^ (h >>> 13)) * M
    a ^ (a >>> 15)
  }

  /** Tail (when `rem` > 0) plus avalanche: the end of every hash. */
  @inline def finish(h: Int, packed: Int, rem: Int): Int =
    avalanche(if (rem > 0) tail(h, packed) else h)

  /** The little-endian word of chars [i, i + 4), each read as `& 0xFF`. */
  @inline def wordAt(s: String, i: Int): Int =
    (s.charAt(i) & 0xff) |
      ((s.charAt(i + 1) & 0xff) << 8) |
      ((s.charAt(i + 2) & 0xff) << 16) |
      ((s.charAt(i + 3) & 0xff) << 24)

  @inline def wordAt(data: Array[Byte], i: Int): Int =
    (data(i) & 0xff) |
      ((data(i + 1) & 0xff) << 8) |
      ((data(i + 2) & 0xff) << 16) |
      ((data(i + 3) & 0xff) << 24)

  /** The `rem` (0..3) tail chars from `i`, packed little-endian into one
    * int. The reference XORs them into the hash one by one; the bytes do
    * not overlap, so one XOR of the packed int is the same.
    */
  @inline def tailAt(s: String, i: Int, rem: Int): Int = {
    var t = 0
    if (rem >= 3) t |= (s.charAt(i + 2) & 0xff) << 16
    if (rem >= 2) t |= (s.charAt(i + 1) & 0xff) << 8
    if (rem >= 1) t |= s.charAt(i) & 0xff
    t
  }

  @inline def tailAt(data: Array[Byte], i: Int, rem: Int): Int = {
    var t = 0
    if (rem >= 3) t |= (data(i + 2) & 0xff) << 16
    if (rem >= 2) t |= (data(i + 1) & 0xff) << 8
    if (rem >= 1) t |= data(i) & 0xff
    t
  }

  /** Hash `len` bytes of `data` with `seed`. Result is the u32 bit pattern
    * in an Int (compare with java.lang.Integer.compareUnsigned).
    */
  def hashBytes(data: Array[Byte], len: Int, seed: Int): Int = {
    var h = seed ^ len
    val n4 = len - (len & 3)
    var i = 0
    while (i < n4) { h = step(h, mixWord(wordAt(data, i))); i += 4 }
    finish(h, tailAt(data, n4, len & 3), len & 3)
  }

  def hashBytes(data: Array[Byte], seed: Int): Int =
    hashBytes(data, data.length, seed)

  /** Hash the char range [from, until) of `s`, treating each char as one
    * byte (`& 0xFF`). Exact for ASCII content (the tokenizer guarantees
    * [a-z0-9 ] only). Zero-allocation: the shingle is a substring view of
    * the joined token string.
    */
  def hashRange(s: String, from: Int, until: Int, seed: Int): Int = {
    val len = until - from
    var h = seed ^ len
    val n4 = from + (len - (len & 3))
    var i = from
    while (i < n4) { h = step(h, mixWord(wordAt(s, i))); i += 4 }
    finish(h, tailAt(s, n4, len & 3), len & 3)
  }

  def hashString(s: String, seed: Int): Int = hashRange(s, 0, s.length, seed)

  /** Unsigned value as Long, for tests/debug printing. */
  def asUnsigned(h: Int): Long = h & 0xffffffffL
}
