package graft.core

/** FxHash64 (rustc-hash 1.1.0), the hash the reference uses everywhere:
  * state starts at 0; each written word does
  * `h = rotl64(h, 5) ^ w; h *= 0x517cc1b727220a95` (mod 2^64).
  * See /root/reference/src/minhash/shingleset.rs:37-47 and
  * /root/reference/src/minhash/minhasher.rs:22-45 for usage.
  *
  * Rust `Hash` framing rules we must reproduce (SURVEY.md §2.4.2):
  *  - hashing a slice writes a usize length prefix, then the elements;
  *  - `char` writes its Unicode scalar value as u32 (one word);
  *  - `u64`/`usize` write one 64-bit word each;
  *  - manual `Hasher` loops (the band-minima hash) write raw words, no prefix.
  * All "words" are zero-extended to 64 bits before the round.
  */
object FxHash {
  final val K: Long = 0x517cc1b727220a95L

  @inline def add(h: Long, w: Long): Long =
    (java.lang.Long.rotateLeft(h, 5) ^ w) * K

  /** Hash one 64-bit word from the empty state. */
  @inline def hash1(w: Long): Long = add(0L, w)

  /** FxHash64 of a char-slice per Rust `&[char]: Hash` (length prefix, then
    * each code point zero-extended), truncated to u32 (returned 0-extended in
    * an Int's bit pattern). Mirrors shingleset.rs:37-47. */
  def hashCodePoints(cps: Array[Int], len: Int): Int =
    hashCodePointsSalted(0L, cps, len)

  /** Same as [[hashCodePoints]] but resuming from a pre-salted hasher state
    * (shingleset.rs:40-42 hashes the salt before the window slice). */
  def hashCodePointsSalted(state: Long, cps: Array[Int], len: Int): Int = {
    var h = add(state, len.toLong)
    var i = 0
    while (i < len) {
      h = add(h, cps(i).toLong & 0xffffffffL)
      i += 1
    }
    h.toInt
  }

  /** `FxHasher::write(bytes)` (rustc-hash 1.1.0): consume little-endian
    * 8-byte words, then 4/2/1-byte remainders, each zero-extended into one
    * round. (Rust `from_ne_bytes` — native-endian — is little-endian on
    * every platform the reference ships for.) */
  private def writeBytes(state: Long, bytes: Array[Byte]): Long = {
    var h = state
    var i = 0
    val n = bytes.length
    while (n - i >= 8) {
      var w = 0L
      var j = 7
      while (j >= 0) { w = (w << 8) | (bytes(i + j) & 0xffL); j -= 1 }
      h = add(h, w)
      i += 8
    }
    if (n - i >= 4) {
      var w = 0L
      var j = 3
      while (j >= 0) { w = (w << 8) | (bytes(i + j) & 0xffL); j -= 1 }
      h = add(h, w)
      i += 4
    }
    if (n - i >= 2) {
      h = add(h, ((bytes(i) & 0xffL)) | ((bytes(i + 1) & 0xffL) << 8))
      i += 2
    }
    if (n - i >= 1) h = add(h, bytes(i) & 0xffL)
    h
  }

  /** Hasher state after the optional shingle salt (shingleset.rs:12,40-42):
    * Rust `&str: Hash` writes the UTF-8 bytes then a 0xff terminator byte;
    * `None` leaves the hasher untouched. The SQL surface always passes None
    * (minhash.rs:71,136) — this is API parity for library callers. */
  def saltState(salt: Option[String]): Long = salt match {
    case None => 0L
    case Some(s) => add(writeBytes(0L, s.getBytes(java.nio.charset.StandardCharsets.UTF_8)), 0xffL)
  }
}
