package graft.jq

import java.lang.invoke.{MethodHandles, VarHandle}
import java.nio.ByteOrder

/** Strict UTF-8 (RFC 3629) validation: `isStrict` is true exactly when
  * `new String(bytes, off, len, UTF_8)` decodes every byte without a
  * replacement character, i.e. when the bytes round-trip through a Java
  * String. Rejects overlong forms (C0, C1, E0 80..9F, F0 80..8F),
  * surrogates (ED A0..BF), code points above U+10FFFF (F4 90.., F5..FF),
  * and stray or truncated continuation bytes. */
private[jq] object Utf8 {
  // eight bytes per read across ASCII runs
  private val Longs: VarHandle =
    MethodHandles.byteArrayViewVarHandle(classOf[Array[Long]], ByteOrder.LITTLE_ENDIAN)

  def isStrict(b: Array[Byte], off: Int, len: Int): Boolean = {
    val end = off + len
    var i = off
    while (i < end) {
      val c = b(i)
      if (c >= 0) {
        i += 1
        while (i + 8 <= end && ((Longs.get(b, i): Long) & 0x8080808080808080L) == 0) i += 8
      } else {
        val u = c & 0xff
        // continuation bytes after the lead, and the legal range of the first
        val n = if (u < 0xc2) return false else if (u < 0xe0) 1 else if (u < 0xf0) 2 else if (u < 0xf5) 3 else return false
        if (i + n >= end) return false
        val lo = if (u == 0xe0) 0xa0 else if (u == 0xf0) 0x90 else 0x80
        val hi = if (u == 0xed) 0x9f else if (u == 0xf4) 0x8f else 0xbf
        val c1 = b(i + 1) & 0xff
        if (c1 < lo || c1 > hi) return false
        if (n >= 2 && (b(i + 2) & 0xc0) != 0x80) return false
        if (n == 3 && (b(i + 3) & 0xc0) != 0x80) return false
        i += n + 1
      }
    }
    true
  }
}
