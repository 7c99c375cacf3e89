package graft.plans

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Pieces the md5-based token kernels share. */
private[plans] object TokenBytes {
  private val mdLocal = ThreadLocal.withInitial[MessageDigest](
    () => MessageDigest.getInstance("MD5"))

  /** This thread's md5 digest; callers reset it before each use. */
  def md5: MessageDigest = mdLocal.get()

  /** The non-empty tokens of `arr` as raw UTF-8 bytes: empties (and
    * nulls) from the upstream split are dropped, like the original
    * `filter(length > 0)`, and the bytes are those `concat_ws` joins.
    */
  def nonEmpty(arr: ArrayData): java.util.ArrayList[Array[Byte]] = {
    val n = arr.numElements()
    val toks = new java.util.ArrayList[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null && t.numBytes() > 0) toks.add(t.getBytes)
      i += 1
    }
    toks
  }

  /** md5 of tokens [from, until) joined by one 0x20 byte. */
  def digestJoined(m: MessageDigest, toks: java.util.ArrayList[Array[Byte]],
                   from: Int, until: Int): Array[Byte] = {
    m.reset()
    var j = from
    while (j < until) {
      if (j > from) m.update(' '.toByte)
      m.update(toks.get(j))
      j += 1
    }
    m.digest()
  }

  /** Bytes 4w..4w+3 of a digest as an unsigned 32-bit value; w = 0 is
    * portableHash, `conv(substring(md5(s), 1, 8), 16, 10)`.
    */
  def word(d: Array[Byte], w: Int): Long =
    ((d(4 * w) & 0xffL) << 24) | ((d(4 * w + 1) & 0xffL) << 16) |
      ((d(4 * w + 2) & 0xffL) << 8) | (d(4 * w + 3) & 0xffL)

  private val HexChars = "0123456789abcdef".toCharArray

  /** Lowercase hex of a digest, as `md5(...)` prints it. */
  def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = HexChars((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexChars(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }
}
