package graft.core

import java.security.MessageDigest

/** The hash kernels the engine shares: SHA-256 for canonical labels
  * (`BnodeCanon`, `Canonicalize`'s scope graphs) and splitmix64 for seeded
  * generators and hash families.
  */
object Hashing {

  /** One SHA-256 digest per thread; callers `reset()` it before use.
    * MessageDigest.getInstance does provider lookups with shared locks — at
    * 32 executor threads × one call per bnode per round it serializes the
    * whole stage.
    */
  val sha256: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("SHA-256"))

  private val hexChars = "0123456789abcdef".toCharArray

  /** Lowercase hex of `bytes`. */
  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(i * 2) = hexChars((bytes(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexChars(bytes(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** splitmix64 — stable across JVMs, cheap, seedable. */
  def splitmix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
}
