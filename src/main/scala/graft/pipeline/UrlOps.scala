package graft.pipeline

import java.util.Locale

/** URL canonicalization for web-crawl pipelines — the normalization a
  * crawler/dedup stage applies before using a URL as a key (frontier
  * dedup, crawl-index join, per-site aggregation). Everything here is
  * from the public specs and long-published crawler conventions:
  *
  *  - RFC 3986 §6 syntax-based normalization: case normalization of
  *    scheme and host (§6.2.2.1), percent-encoding normalization —
  *    decode unreserved octets, uppercase the hex of the rest
  *    (§6.2.2.2), dot-segment removal (§5.2.4 applied per §6.2.2.3),
  *    default-port elision and empty-path → "/" (§6.2.3);
  *  - crawl conventions (Nutch/Heritrix lineage): fragment dropped,
  *    query parameters sorted for key stability, known tracking
  *    parameters (`utm_*`, `gclid`, `fbclid`) removed;
  *  - SURT-style reversed host (`org.example.www`) — the classic
  *    web-table row key: range-partitioning a 10^12-URL corpus on the
  *    reversed host co-locates each site's pages in one partition range,
  *    so per-site operators (politeness buckets, site-level stats,
  *    intra-site dedup) become partition-local instead of a shuffle.
  *
  * All functions are pure, total (never throw on untrusted input — a
  * string that doesn't parse as a hierarchical URL passes through
  * unchanged), and exposed to relational plans as codegen'd native
  * expressions in [[graft.plans.UrlExprs]] so canonicalization runs
  * inside whole-stage codegen, not behind a lambda boundary.
  */
object UrlOps {

  /** RFC 3986 §2.3 unreserved: ALPHA / DIGIT / "-" / "." / "_" / "~". */
  private def isUnreserved(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Percent-encoding normalization (RFC 3986 §6.2.2.2): decode sequences
    * that encode unreserved characters, uppercase the hex digits of those
    * that stay encoded, and pass malformed sequences (non-hex or
    * truncated) through literally — untrusted crawl data must never
    * throw. Reserved characters are NOT decoded (an encoded "/" is not a
    * path separator). */
  def pctNormalize(s: String): String = {
    var i = 0
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    while (i < n) {
      val c = s.charAt(i)
      if (c == '%') {
        val h1 = if (i + 1 < n) hexVal(s.charAt(i + 1)) else -1
        val h2 = if (i + 2 < n) hexVal(s.charAt(i + 2)) else -1
        if (h1 >= 0 && h2 >= 0) {
          val v = (h1 << 4) | h2
          if (isUnreserved(v)) out.append(v.toChar)
          else out.append('%')
            .append(Character.toUpperCase(s.charAt(i + 1)))
            .append(Character.toUpperCase(s.charAt(i + 2)))
          i += 3
        } else { out.append('%'); i += 1 } // malformed: literal
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Dot-segment removal, RFC 3986 §5.2.4 verbatim. */
  def removeDotSegments(path: String): String = {
    var in = path
    val out = new java.lang.StringBuilder(path.length)
    def popSegment(): Unit = {
      val i = out.lastIndexOf("/")
      out.setLength(if (i < 0) 0 else i)
    }
    while (in.nonEmpty) {
      if (in.startsWith("../")) in = in.substring(3)
      else if (in.startsWith("./")) in = in.substring(2)
      else if (in.startsWith("/./")) in = "/" + in.substring(3)
      else if (in == "/.") in = "/"
      else if (in.startsWith("/../")) { popSegment(); in = "/" + in.substring(4) }
      else if (in == "/..") { popSegment(); in = "/" }
      else if (in == "." || in == "..") in = ""
      else {
        var j = if (in.charAt(0) == '/') 1 else 0
        while (j < in.length && in.charAt(j) != '/') j += 1
        out.append(in, 0, j)
        in = in.substring(j)
      }
    }
    out.toString
  }

  /** Split a URI reference into (scheme, authority, path, query) per
    * RFC 3986 appendix B's component grammar, manually (no regex —
    * untrusted crawl input). The fragment is parsed past and dropped.
    * `scheme`/`authority`/`query` are null when absent; an empty
    * authority (`scheme:///p`) is the empty string, which RFC 3986 §3.2
    * permits and distinguishes from "no authority". */
  private def splitRef(s: String): (String, String, String, String) = {
    val n = s.length
    var p = 0
    // scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) ":"
    var scheme: String = null
    if (n > 0 && Character.isLetter(s.charAt(0))) {
      var i = 1
      while (i < n && {
        val c = s.charAt(i)
        Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.'
      }) i += 1
      if (i < n && s.charAt(i) == ':') { scheme = s.substring(0, i).toLowerCase(Locale.ROOT); p = i + 1 }
    }
    var authority: String = null
    if (p + 1 < n && s.charAt(p) == '/' && s.charAt(p + 1) == '/') {
      var e = p + 2
      while (e < n && { val c = s.charAt(e); c != '/' && c != '?' && c != '#' }) e += 1
      authority = s.substring(p + 2, e)
      p = e
    }
    var pathEnd = p
    while (pathEnd < n && { val c = s.charAt(pathEnd); c != '?' && c != '#' }) pathEnd += 1
    val path = s.substring(p, pathEnd)
    p = pathEnd
    var query: String = null
    if (p < n && s.charAt(p) == '?') {
      var qEnd = p + 1
      while (qEnd < n && s.charAt(qEnd) != '#') qEnd += 1
      query = s.substring(p + 1, qEnd)
    }
    (scheme, authority, path, query)
  }

  /** RFC 3986 §5.2.3 path merge. */
  private def mergePaths(baseAuthority: String, basePath: String, refPath: String): String =
    if (baseAuthority != null && basePath.isEmpty) "/" + refPath
    else {
      val cut = basePath.lastIndexOf('/')
      if (cut < 0) refPath else basePath.substring(0, cut + 1) + refPath
    }

  /** Resolve a URI reference against a base URI — RFC 3986 §5.2.2's
    * strict transform-references algorithm, recomposed per §5.3 with the
    * fragment dropped (crawl keys never carry fragments). Total on
    * untrusted input:
    *
    *  - a `ref` that carries its own scheme is returned on its own terms
    *    (so `mailto:`/`javascript:` pass through for the CALLER's scheme
    *    filter to drop);
    *  - a relative `ref` against a base that is not a hierarchical URI
    *    (no scheme or no authority) resolves to null — "no link";
    *  - never throws.
    *
    * The result is NOT canonicalized beyond the dot-segment removal the
    * algorithm itself mandates; feed it to [[canonicalize]] for key use. */
  def resolve(base: String, ref: String): String = {
    if (ref == null) return null
    val r = ref.trim
    val (rScheme, rAuth, rPath, rQuery) = splitRef(r)
    if (rScheme != null && rAuth != null) {
      // ref is itself absolute-with-authority: recompose (drops fragment)
      return recompose(rScheme, rAuth, removeDotSegments(rPath), rQuery)
    }
    if (rScheme != null) return r // opaque (mailto:, data:, javascript:)
    if (base == null) return null
    val b = base.trim
    val (bScheme, bAuth, bPath, bQuery) = splitRef(b)
    if (bScheme == null || bAuth == null) return null // base not hierarchical
    if (rAuth != null)
      return recompose(bScheme, rAuth, removeDotSegments(rPath), rQuery)
    if (rPath.isEmpty) {
      val q = if (rQuery != null) rQuery else bQuery
      return recompose(bScheme, bAuth, bPath, q)
    }
    val merged =
      if (rPath.charAt(0) == '/') rPath
      else mergePaths(bAuth, bPath, rPath)
    recompose(bScheme, bAuth, removeDotSegments(merged), rQuery)
  }

  /** RFC 3986 §5.3 component recomposition (authority form, no fragment). */
  private def recompose(scheme: String, authority: String, path: String,
      query: String): String = {
    val out = new java.lang.StringBuilder(
      scheme.length + authority.length + path.length + 8)
    out.append(scheme).append("://").append(authority).append(path)
    if (query != null) out.append('?').append(query)
    out.toString
  }

  /** Host of a hierarchical `scheme://` URL (userinfo and port stripped,
    * lowercased; bracket form kept for IPv6 literals); null when the
    * string is not a hierarchical URL. */
  def hostOf(url: String): String = {
    if (url == null) return null
    val (scheme, auth, _, _) = splitRef(url.trim)
    if (scheme == null || auth == null || auth.isEmpty) return null
    val hostPort = auth.substring(auth.lastIndexOf('@') + 1)
    val host =
      if (hostPort.startsWith("[")) {
        val rb = hostPort.indexOf(']')
        if (rb >= 0) hostPort.substring(0, rb + 1) else hostPort
      } else {
        val colon = hostPort.lastIndexOf(':')
        if (colon >= 0) hostPort.substring(0, colon) else hostPort
      }
    host.toLowerCase(Locale.ROOT)
  }

  /** Query-parameter names a crawl key should not depend on. */
  private def isTrackingParam(name: String): Boolean = {
    val n = name.toLowerCase(Locale.ROOT)
    n.startsWith("utm_") || n == "gclid" || n == "fbclid"
  }

  /** Canonical form of `url` per the rules in the object doc. Null maps
    * to null; a string with no `scheme://` prefix is returned trimmed but
    * otherwise untouched (not a hierarchical web URL — mailto:, data:,
    * relative references — normalizing those is out of scope and
    * passthrough keeps the function total and idempotent). */
  def canonicalize(url: String): String = {
    if (url == null) return null
    val s = url.trim
    // scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) "://"
    var i = 0
    val n = s.length
    if (n == 0 || !Character.isLetter(s.charAt(0))) return s
    i = 1
    while (i < n && {
      val c = s.charAt(i)
      Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.'
    }) i += 1
    if (i + 2 >= n || s.charAt(i) != ':' || s.charAt(i + 1) != '/' || s.charAt(i + 2) != '/')
      return s
    val scheme = s.substring(0, i).toLowerCase(Locale.ROOT)
    var p = i + 3
    // authority runs to the first '/', '?' or '#'
    var authEnd = p
    while (authEnd < n && { val c = s.charAt(authEnd); c != '/' && c != '?' && c != '#' })
      authEnd += 1
    val authority = s.substring(p, authEnd)
    p = authEnd
    // path to '?' or '#'
    var pathEnd = p
    while (pathEnd < n && { val c = s.charAt(pathEnd); c != '?' && c != '#' }) pathEnd += 1
    val rawPath = s.substring(p, pathEnd)
    p = pathEnd
    // query to '#'
    var rawQuery: String = null
    if (p < n && s.charAt(p) == '?') {
      var qEnd = p + 1
      while (qEnd < n && s.charAt(qEnd) != '#') qEnd += 1
      rawQuery = s.substring(p + 1, qEnd)
    }
    // fragment dropped

    // --- authority: [userinfo@]host[:port]
    val at = authority.lastIndexOf('@')
    val userinfo = if (at >= 0) pctNormalize(authority.substring(0, at)) else null
    val hostPort = authority.substring(at + 1)
    var host: String = hostPort
    var port: String = null
    if (hostPort.startsWith("[")) { // IPv6 literal: port only after "]"
      val rb = hostPort.indexOf(']')
      if (rb >= 0 && rb + 1 < hostPort.length && hostPort.charAt(rb + 1) == ':') {
        host = hostPort.substring(0, rb + 1)
        port = hostPort.substring(rb + 2)
      }
    } else {
      val colon = hostPort.lastIndexOf(':')
      if (colon >= 0) {
        host = hostPort.substring(0, colon)
        port = hostPort.substring(colon + 1)
      }
    }
    host = pctNormalize(host).toLowerCase(Locale.ROOT)
    val defaultPort = scheme match {
      case "http" | "ws"   => "80"
      case "https" | "wss" => "443"
      case "ftp"           => "21"
      case _               => null
    }
    val keepPort = port != null && port.nonEmpty && port != defaultPort

    // --- path
    val path0 = removeDotSegments(pctNormalize(rawPath))
    val path = if (path0.isEmpty) "/" else path0

    // --- query: normalize, drop trackers and empties, stable-sort
    val query: String =
      if (rawQuery == null) null
      else {
        val params = rawQuery.split("&", -1).iterator
          .filter(_.nonEmpty)
          .map(pctNormalize)
          .filterNot { kv =>
            val eq = kv.indexOf('=')
            isTrackingParam(if (eq < 0) kv else kv.substring(0, eq))
          }
          .toArray
        if (params.isEmpty) null
        else { java.util.Arrays.sort(params.asInstanceOf[Array[AnyRef]]); params.mkString("&") }
      }

    val out = new java.lang.StringBuilder(n)
    out.append(scheme).append("://")
    if (userinfo != null) out.append(userinfo).append('@')
    out.append(host)
    if (keepPort) out.append(':').append(port)
    out.append(path)
    if (query != null) out.append('?').append(query)
    out.toString
  }

  /** Multi-part public suffixes a two-label cut would get wrong. A builtin
    * subset of the (public) suffix list covering the common ccTLD
    * second-level registries; a deployment that needs the full list loads
    * it as a broadcast table and joins — this heuristic is the
    * zero-dependency default. */
  private val MultiPartSuffixes: Set[String] = Set(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "com.hk", "org.hk", "edu.hk", "gov.hk", "net.hk", "idv.hk",
    "com.tw", "org.tw", "edu.tw", "gov.tw",
    "com.sg", "edu.sg", "gov.sg", "org.sg",
    "com.br", "org.br", "net.br", "gov.br",
    "co.in", "net.in", "org.in", "gov.in", "ac.in",
    "co.kr", "or.kr", "ac.kr", "go.kr",
    "co.nz", "org.nz", "net.nz", "govt.nz", "ac.nz",
    "com.mx", "org.mx", "gob.mx",
    "co.za", "org.za", "gov.za", "ac.za")

  private def isIpv4(host: String): Boolean = {
    val labels = host.split("\\.", -1)
    labels.length == 4 && labels.forall(l =>
      l.nonEmpty && l.length <= 3 && l.forall(c => c >= '0' && c <= '9'))
  }

  /** Registrable domain (eTLD+1) of a canonical host — the site-level
    * grouping key. IP literals (v4 dotted-quad, bracketed v6) group as
    * themselves; hosts with ≤ 2 labels are already registrable. */
  def registrableDomain(host: String): String = {
    if (host == null) return null
    if (host.startsWith("[") || isIpv4(host)) return host
    val labels = host.split("\\.", -1)
    if (labels.length <= 2) return host
    val lastTwo = labels(labels.length - 2) + "." + labels(labels.length - 1)
    if (MultiPartSuffixes.contains(lastTwo) && labels.length >= 3)
      labels(labels.length - 3) + "." + lastTwo
    else lastTwo
  }

  /** SURT-style reversed host: `www.example.org` → `org.example.www`.
    * IP literals are returned unreversed (reversing a dotted quad would
    * scatter, not cluster, a subnet's hosts). */
  def reverseHost(host: String): String = {
    if (host == null) return null
    if (host.startsWith("[") || isIpv4(host)) return host
    val labels = host.split("\\.", -1)
    var i = labels.length - 1
    val out = new java.lang.StringBuilder(host.length)
    while (i >= 0) {
      out.append(labels(i))
      if (i > 0) out.append('.')
      i -= 1
    }
    out.toString
  }
}
