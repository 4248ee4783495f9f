package graft.functions

/**
 * IDN (internationalized domain name) wire-form conversion for URL hosts:
 * unicode labels become their RFC 3490/3492 `xn--` punycode ASCII form via
 * the JDK's `java.net.IDN` (public platform API — no new dependency), so
 * `пример.example` and its punycode spelling `xn--e1afmkfd.example` key the
 * SAME host for normalization, dedup, domain stats, and the public-suffix
 * lookup (the PSL's own wire format is the ASCII form).
 */
object Idn {

  /** `java.net.IDN.toASCII` with a pure-ASCII fast path (one char scan —
    * the overwhelmingly common case pays no conversion) and a pass-through
    * fallback on malformed labels (a crawl pipeline must not die on one
    * garbage host; the byte-wise-compare convention then applies to the
    * raw spelling, exactly the pre-IDN behavior). Expects an
    * already-lowercased host; the encoded output is lowercased defensively
    * (punycode is case-insensitive on the wire). */
  def toAscii(host: String): String = {
    var i = 0
    while (i < host.length) {
      if (host.charAt(i) >= 0x80) {
        return try java.net.IDN.toASCII(host)
            .toLowerCase(java.util.Locale.ROOT)
          catch { case _: IllegalArgumentException => host }
      }
      i += 1
    }
    host
  }
}
