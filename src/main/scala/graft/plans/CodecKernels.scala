package graft.plans

import graft.functions.{Codec, XcmLocation}
import org.apache.spark.unsafe.types.UTF8String

/** Null-guarded scalar kernels behind the codegen'd SQL function
  * surface: [[graft.functions.Udfs.functions]] exposes these through
  * Catalyst `StaticInvoke` expressions instead of Scala UDFs, so the
  * per-row conversions Dump's six projections run on EVERY exported
  * row (address render, decimal scaling, asset canonicalization)
  * participate in whole-stage codegen — same motivation as
  * [[CompactDecode]], applied to the §2.8 scalar surface.
  *
  * Contract (unchanged from the UDF era): null in → null out
  * (StaticInvoke propagateNull), malformed input → null (guards
  * here), never an exception — one bad row must not kill an export
  * stage. */
object CodecKernels {

  private def guard[T >: Null](f: => T): T =
    try f catch {
      case _: IllegalArgumentException | _: NumberFormatException |
           _: IndexOutOfBoundsException => null
    }

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  def ss58Encode(pubkeyHex: UTF8String, network: Int): UTF8String =
    utf8(guard(
      Codec.ss58Encode(Codec.hexToBytes(pubkeyHex.toString), network)))

  def ss58Pubkey(address: UTF8String): UTF8String =
    utf8(guard(
      Codec.bytesToHex(Codec.ss58Decode(address.toString)._2)))

  /** Module-account name decode (pubKey_hex2ascii) — runs as the
    * named-holder keep gate over full holder scans, so it rides
    * StaticInvoke inside whole-stage codegen like the other address
    * kernels (a Scala UDF here would fence the gate's stage). The
    * kernel itself never throws on malformed input (Codec guard). */
  def pubkeyAscii(pubkey: UTF8String): UTF8String =
    utf8(Codec.pubkeyAscii(pubkey.toString))

  def twox128Hex(s: UTF8String): UTF8String =
    utf8(Codec.bytesToHex(
      Codec.twox128(s.toString.getBytes("UTF-8")), prefix = false))

  def blake2b256Hex(hex: UTF8String): UTF8String =
    utf8(guard(Codec.bytesToHex(
      Codec.blake2b256(Codec.hexToBytes(hex.toString)), prefix = false)))

  /** Banded Levenshtein with early exit: exact distance when ≤ k, else
    * k+1. A full DP fills n·m cells; a candidate-verify that only asks
    * "within k?" (the SymSpell x22 shape, fuzzy joins) needs just the
    * 2k+1 diagonal band, O(k·min(n,m)) — with an early return the
    * moment a whole band row exceeds k. */
  def levenshteinLe(au: UTF8String, bu: UTF8String,
      k: Int): java.lang.Integer = {
    // CODE POINTS, not UTF-16 units: Spark's built-in levenshtein (and
    // DuckDB's) measure code points, and an astral-plane char must cost
    // one edit, not two surrogate edits — x22's oracle parity depends
    // on agreeing with the built-in
    val a = au.toString.codePoints().toArray
    val b = bu.toString.codePoints().toArray
    val n = a.length; val m = b.length
    if (math.abs(n - m) > k) return Int.box(k + 1)
    val inf = k + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j0 = 0
    while (j0 <= math.min(m, k)) { prev(j0) = j0; j0 += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      val lo = math.max(1, i - k); val hi = math.min(m, i + k)
      if (lo == 1 && i <= k) cur(0) = i
      var rowMin = cur(0)
      var j = lo
      while (j <= hi) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (cur(j - 1) + 1 < v) v = cur(j - 1) + 1
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > k) return Int.box(inf)
      val t = prev; prev = cur; cur = t
      i += 1
    }
    Int.box(math.min(prev(m), inf))
  }

  def toBaseUnit(rawHex: UTF8String, decimals: Int): java.lang.Double =
    guard(java.lang.Double.valueOf(Codec.toBaseUnit(
      BigInt(1, Codec.hexToBytes(rawHex.toString)), decimals)))

  def assetChain(asset: UTF8String, chainId: Int): UTF8String =
    utf8(graft.decode.ChainParser.forChain(chainId)
      .assetKey(asset.toString))

  def pubkeyToH160(pubkeyHex: UTF8String): UTF8String =
    utf8(guard(Codec.bytesToHex(
      Codec.pubkeyToH160(Codec.hexToBytes(pubkeyHex.toString)))))

  def h160ToPubkey(h160Hex: UTF8String): UTF8String =
    utf8(guard(Codec.bytesToHex(
      Codec.h160ToPubkey(Codec.hexToBytes(h160Hex.toString)))))

  def xcmLocBytes(key: UTF8String): UTF8String =
    utf8(XcmLocation.interiorKeyToBytesHex(key.toString))
}
