package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Cursor over the k-char shingle windows of a UTF-8 string, as byte
  * ranges into the string's own memory — the one walker both text kernels
  * ([[MinHashImpl]], [[ShingleSetImpl]]) read their windows from.
  *
  * Window w covers chars [w, w + k): two byte cursors, one at the start of
  * char w and one just past char w + k - 1, each step by the width of the
  * char they stand on (its lead byte's UTF-8 length, the rule
  * `UTF8String.substring` uses), so a whole string costs two linear passes
  * over its bytes and no copy. A string shorter than k (the empty string
  * included) has one window: the whole string.
  *
  * Both cursors are clamped at `numBytes`: a lead byte whose claimed width
  * runs past the end of the string (a truncated multi-byte tail) ends its
  * window at the last byte of the string, never beyond it.
  *
  * {{{
  * val w = new ShingleWindows(s, k)
  * while (w.next()) use(w.start, w.end)
  * }}}
  */
final class ShingleWindows(s: UTF8String, k: Int) {
  private val numBytes = s.numBytes

  /** Byte offset (into `s`) of the current window's first byte. */
  var start: Int = 0
  /** Byte offset (into `s`) just past the current window's last byte. */
  var end: Int = -1

  /** Advance to the next window; false once every window was visited. */
  def next(): Boolean =
    if (end < 0) {
      end = 0
      var c = 0
      while (c < k && end < numBytes) { end = step(end); c += 1 }
      true
    } else if (end >= numBytes) false
    else {
      start = step(start)
      end = step(end)
      true
    }

  private def step(i: Int): Int =
    math.min(i + UTF8String.numBytesForFirstByte(s.getByte(i)), numBytes)

  /** XXH64 of the current window's bytes, hashed in place. */
  def hash(seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset + start,
      end - start, seed)

  /** Whether the current window's bytes equal `u`'s, compared in place. */
  def sameBytes(u: UTF8String): Boolean =
    u.numBytes == end - start &&
      ByteArrayMethods.arrayEquals(s.getBaseObject, s.getBaseOffset + start,
        u.getBaseObject, u.getBaseOffset, end - start)

  /** The current window as a view over the string's memory: valid only
    * while `s`'s bytes are (copy it to keep it past the current row).
    */
  def view(): UTF8String =
    UTF8String.fromAddress(s.getBaseObject, s.getBaseOffset + start,
      end - start)
}
