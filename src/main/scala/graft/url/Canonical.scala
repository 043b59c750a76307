package graft.url

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** URL canonicalization + 128-bit MurmurHash3, the identity layer of the
  * URL-seen set.
  *
  * Reference semantics: the crawler strips fragments before dedup
  * (/root/reference/apify.js:38-42 — `u.hash = ''`) and dedups on the raw
  * string otherwise (apify.js:32,145-153). The rebuild canonicalizes harder
  * (lowercase scheme/host, drop default ports, normalize empty path) so the
  * 10^10-scale seen set is keyed on a stable identity, then hashes with
  * murmur3 x64-128 (Spark's built-in `hash()` is murmur3-32 — too collision-
  * prone at 10^10 keys: expected collisions ~ n^2/2^33. With a 64-bit half of
  * the 128-bit hash, expected collisions at 10^10 keys are ~0.003).
  *
  * All functions are pure and deterministic — they run inside codegen'd
  * stages via UDFs and inside Dataset.map closures.
  */
object Canonical extends Serializable {

  /** Lowercase scheme+host, strip fragment, strip default port, default
    * path "/" for empty, keep query. Never throws: unparsable input is
    * returned trimmed (the reference enqueues only parsable hrefs; we keep
    * the total function so bad rows flow to the dead-letter side). */
  def canonicalize(raw: String): String = {
    if (raw == null) return ""
    val trimmed = raw.trim
    val noFrag = {
      val i = trimmed.indexOf('#')
      if (i >= 0) trimmed.substring(0, i) else trimmed
    }
    val schemeEnd = noFrag.indexOf("://")
    if (schemeEnd <= 0) return noFrag
    val scheme = noFrag.substring(0, schemeEnd).toLowerCase
    val rest = noFrag.substring(schemeEnd + 3)
    val slash = rest.indexOf('/')
    val qmark = rest.indexOf('?')
    val authEnd =
      if (slash < 0 && qmark < 0) rest.length
      else if (slash < 0) qmark
      else if (qmark < 0) slash
      else math.min(slash, qmark)
    var authority = rest.substring(0, authEnd).toLowerCase
    // strip default ports
    if ((scheme == "http" && authority.endsWith(":80")) ||
        (scheme == "https" && authority.endsWith(":443")))
      authority = authority.substring(0, authority.lastIndexOf(':'))
    var tail = rest.substring(authEnd)
    if (tail.isEmpty) tail = "/"
    else if (tail.startsWith("?")) tail = "/" + tail
    s"$scheme://$authority$tail"
  }

  /** Hostname of a URL ("" when unparsable). Mirrors
    * `new URL(u).hostname` (apify.js:156-163) / `urlparse(url).netloc`
    * minus port (test_pipeline.py:95-114). */
  def host(url: String): String = {
    if (url == null) return ""
    val i = url.indexOf("://")
    if (i <= 0) return ""
    val rest = url.substring(i + 3)
    var end = rest.length
    var j = 0
    var done = false
    while (j < rest.length && !done) {
      val c = rest.charAt(j)
      if (c == '/' || c == '?' || c == '#') { end = j; done = true }
      j += 1
    }
    val auth = rest.substring(0, end)
    val colon = auth.lastIndexOf(':')
    val hostPart = if (colon >= 0 && auth.drop(colon + 1).forall(_.isDigit))
      auth.substring(0, colon) else auth
    hostPart.toLowerCase
  }

  /** Resolve a possibly-relative href against a base URL (subset of
    * RFC 3986 sufficient for the corpus grammar; mirrors the browser's
    * absolute-URL resolution in apify.js:133). */
  def resolve(base: String, href: String): String = {
    if (href == null || href.isEmpty) return ""
    val h = href.trim
    if (h.startsWith("http://") || h.startsWith("https://")) return h
    if (h.startsWith("//")) {
      val i = base.indexOf("://")
      return (if (i > 0) base.substring(0, i) else "https") + ":" + h
    }
    val i = base.indexOf("://")
    if (i <= 0) return h
    val schemeAndHostEnd = {
      val p = base.indexOf('/', i + 3)
      if (p < 0) base.length else p
    }
    val origin = base.substring(0, schemeAndHostEnd)
    if (h.startsWith("/")) return origin + h
    if (h.startsWith("#") || h.startsWith("javascript:") ||
        h.startsWith("mailto:") || h.startsWith("tel:")) return ""
    // relative path: resolve against base's directory
    val basePath = if (schemeAndHostEnd == base.length) "/"
      else base.substring(schemeAndHostEnd)
    val dir = basePath.substring(0, basePath.lastIndexOf('/') + 1)
    origin + dir + h
  }

  /** MurmurHash3 x64-128, first 64-bit half, over the canonical URL's
    * UTF-8 bytes. Public-domain algorithm (Austin Appleby's MurmurHash3,
    * x64_128 variant).
    *
    * ASCII fast path: for pure-ASCII input (every URL and nearly every
    * token this engine hashes) the UTF-8 bytes ARE the low bytes of the
    * chars, so the hash is computed straight off the String with zero
    * allocation — the former unconditional `getBytes` + tuple return
    * allocated 2 objects per call × ~4k calls per page in the signature
    * path (round-3 GC diagnosis). Values are identical on both paths
    * (CanonicalSpec pins them against Guava). */
  def hash64(canonicalUrl: String): Long = {
    val s = canonicalUrl
    val len = s.length
    var i = 0
    var ascii = true
    while (ascii && i < len) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) murmur128AsciiH1(s, 0L)
    else murmur128(s.getBytes("UTF-8"), 0L)._1
  }

  /** h1 of murmur3 x64-128 over an ASCII string, allocation-free.
    * Byte-for-byte identical to `murmur128(s.getBytes("UTF-8"), seed)._1`
    * when every char < 0x80. */
  def murmur128AsciiH1(s: CharSequence, seed: Long): Long = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    val len = s.length
    var h1 = seed
    var h2 = seed
    val nblocks = len / 16

    @inline def getLong(i: Int): Long = {
      var v = 0L
      var j = 7
      while (j >= 0) { v = (v << 8) | (s.charAt(i + j) & 0xffL); j -= 1 }
      v
    }
    @inline def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))

    var b = 0
    while (b < nblocks) {
      var k1 = getLong(b * 16)
      var k2 = getLong(b * 16 + 8)
      k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1
      h1 = rotl(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2
      h2 = rotl(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      b += 1
    }

    var k1 = 0L
    var k2 = 0L
    val tail = nblocks * 16
    val rem = len & 15
    if (rem >= 9) {
      var j = rem - 1
      while (j >= 8) { k2 ^= (s.charAt(tail + j) & 0xffL) << ((j - 8) * 8); j -= 1 }
      k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2
    }
    if (rem > 0) {
      var j = math.min(rem, 8) - 1
      while (j >= 0) { k1 ^= (s.charAt(tail + j) & 0xffL) << (j * 8); j -= 1 }
      k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1
    }

    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2
    h1
  }

  /** Full 128-bit murmur3 (h1, h2) with the given seed. */
  def murmur128(data: Array[Byte], seed: Long): (Long, Long) = {
    val c1 = 0x87c37b91114253d5L
    val c2 = 0x4cf5ad432745937fL
    val len = data.length
    var h1 = seed
    var h2 = seed
    val nblocks = len / 16

    @inline def getLong(i: Int): Long = {
      var v = 0L
      var j = 7
      while (j >= 0) { v = (v << 8) | (data(i + j) & 0xffL); j -= 1 }
      v
    }
    @inline def rotl(x: Long, r: Int): Long = (x << r) | (x >>> (64 - r))

    var b = 0
    while (b < nblocks) {
      var k1 = getLong(b * 16)
      var k2 = getLong(b * 16 + 8)
      k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1
      h1 = rotl(h1, 27); h1 += h2; h1 = h1 * 5 + 0x52dce729L
      k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2
      h2 = rotl(h2, 31); h2 += h1; h2 = h2 * 5 + 0x38495ab5L
      b += 1
    }

    var k1 = 0L
    var k2 = 0L
    val tail = nblocks * 16
    val rem = len & 15
    if (rem >= 9) {
      var j = rem - 1
      while (j >= 8) { k2 ^= (data(tail + j) & 0xffL) << ((j - 8) * 8); j -= 1 }
      k2 *= c2; k2 = rotl(k2, 33); k2 *= c1; h2 ^= k2
    }
    if (rem > 0) {
      var j = math.min(rem, 8) - 1
      while (j >= 0) { k1 ^= (data(tail + j) & 0xffL) << (j * 8); j -= 1 }
      k1 *= c1; k1 = rotl(k1, 31); k1 *= c2; h1 ^= k1
    }

    h1 ^= len.toLong; h2 ^= len.toLong
    h1 += h2; h2 += h1
    h1 = fmix64(h1); h2 = fmix64(h2)
    h1 += h2; h2 += h1
    (h1, h2)
  }

  @inline private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  // ---- Column-level UDFs (registered for codegen-friendly pipelines) ----
  val canonicalizeUdf = udf((s: String) => canonicalize(s))
  val hostUdf = udf((s: String) => host(s))
  val hash64Udf = udf((s: String) => hash64(s))
  val resolveUdf = udf((base: String, href: String) => resolve(base, href))

  def canonical(c: Column): Column = canonicalizeUdf(c)
  def urlHost(c: Column): Column = hostUdf(c)
  def urlHash(c: Column): Column = hash64Udf(c)
}
