package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Codepoint decode over a `UTF8String`'s bytes, shared by the kernels
  * that walk a string once by codepoint (`StringDHash64`,
  * `FrameFeatures`). Widths come from Spark's own first-byte table, so
  * a walk counts exactly what `numChars()` counts (degenerate byte
  * sequences included).
  */
private[plans] object Utf8Cursor {

  /** Byte width of the codepoint that starts at byte `off`. */
  def width(s: UTF8String, off: Int): Int =
    UTF8String.numBytesForFirstByte(s.getByte(off))

  /** The codepoint of width `len` that starts at byte `off`. A sequence
    * truncated by the end of the string decodes as its first byte, so
    * the walk never reads past `numBytes` (valid UTF-8 never hits this).
    */
  def codePoint(s: UTF8String, off: Int, len: Int): Int = {
    val b0 = s.getByte(off) & 0xff
    (if (off + len > s.numBytes()) 1 else len) match {
      case 1 => b0
      case 2 =>
        ((b0 & 0x1f) << 6) | (s.getByte(off + 1) & 0x3f)
      case 3 =>
        ((b0 & 0x0f) << 12) |
          ((s.getByte(off + 1) & 0x3f) << 6) |
          (s.getByte(off + 2) & 0x3f)
      case _ =>
        ((b0 & 0x07) << 18) |
          ((s.getByte(off + 1) & 0x3f) << 12) |
          ((s.getByte(off + 2) & 0x3f) << 6) |
          (s.getByte(off + 3) & 0x3f)
    }
  }
}
