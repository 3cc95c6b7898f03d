package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Byte-scan kernels for the [[graft.operators.UrlOps]] canonicalization
  * family — one whole-stage-codegen static call per URL instead of the
  * 15–25 regex executions the Column-program formulation runs per row
  * (guide "expressions and codegen"; the CleanValue/PhraseCount
  * discipline applied to the crawl stack's hottest per-row program).
  *
  * The regex formulation REMAINS the executable spec
  * ([[graft.operators.UrlOps.canonicalizeUrlSpec]] et al.) — it is what
  * the DuckDB oracle replays — and UrlKernelsSpec cross-checks kernel
  * vs regex on adversarial + fuzzed inputs on every test run. Each
  * method documents its equivalence argument against the exact regex
  * it replaces; the arguments all reduce to two facts about these
  * patterns:
  *  - every character class is ASCII-disjoint from its successors, so
  *    java.util.regex's leftmost-first global replace degenerates to a
  *    single left-to-right scan with no backtracking that can change
  *    the outcome;
  *  - `regexp_replace` continues scanning AFTER each match in the
  *    input (replacements are never rescanned within a pass), exactly
  *    what an output-builder scan with an input cursor implements.
  */
object UrlCanonUtil {

  @inline private def isAlpha(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')

  @inline private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'

  @inline private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** End index (exclusive) of the scheme NAME when the string starts
    * with `[A-Za-z][A-Za-z0-9+.-]*:`, else -1. The class excludes ':',
    * so the maximal run is the only candidate the regex can accept —
    * backtracking cannot move the ':' onto a class character.
    */
  private def schemeNameEnd(s: String): Int = {
    if (s.isEmpty || !isAlpha(s.charAt(0))) return -1
    var i = 1
    val n = s.length
    while (i < n && isSchemeChar(s.charAt(i))) i += 1
    if (i < n && s.charAt(i) == ':') i else -1
  }

  /** 0 = no `scheme:` prefix, 1 = `scheme:` without `//`, 2 = full
    * `scheme://` — the two `rlike` tests of resolvedHref in one scan.
    */
  def schemeKind(u: UTF8String): Int = {
    val s = u.toString
    val e = schemeNameEnd(s)
    if (e < 0) 0
    else if (e + 2 < s.length && s.charAt(e + 1) == '/' && s.charAt(e + 2) == '/') 2
    else 1
  }

  /** `lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))` —
    * "" when the pattern does not match (regexp_extract's no-match
    * contract). Scheme characters are ASCII, so ASCII lowering is the
    * whole of `lower` here.
    */
  def scheme(u: UTF8String): UTF8String = {
    val s = u.toString
    val e = schemeNameEnd(s)
    if (e < 0 || e + 2 >= s.length || s.charAt(e + 1) != '/' || s.charAt(e + 2) != '/')
      UTF8String.EMPTY_UTF8
    else UTF8String.fromString(lowerAscii(s.substring(0, e)))
  }

  private def lowerAscii(s: String): String = {
    var i = 0
    val n = s.length
    var needs = false
    while (i < n && !needs) { val c = s.charAt(i); if (c >= 'A' && c <= 'Z') needs = true else i += 1 }
    if (!needs) return s
    val b = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = s.charAt(i)
      b.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      i += 1
    }
    b.toString
  }

  /** hostPort bounds within `s`: start after "://", end at the first
    * `/`, `?` or `#` — `regexp_extract(u, "^[A-Za-z]...://([^/?#]*)", 1)`.
    * Returns -1 start when the scheme pattern does not match.
    */
  private def hostPortStart(s: String): Int = {
    val e = schemeNameEnd(s)
    if (e < 0 || e + 2 >= s.length || s.charAt(e + 1) != '/' || s.charAt(e + 2) != '/') -1
    else e + 3
  }

  private def scanTo(s: String, from: Int, a: Char, b: Char, c: Char): Int = {
    var i = from
    val n = s.length
    while (i < n) {
      val ch = s.charAt(i)
      if (ch == a || ch == b || ch == c) return i
      i += 1
    }
    n
  }

  /** Split a hostPort into (hostRaw, portDigits): the regex pair
    * `regexp_replace(hp, ":[0-9]*$", "")` / `regexp_extract(hp,
    * ":([0-9]+)$", 1)`. The leftmost position where `:[0-9]*$` can
    * match is necessarily the LAST ':' (an earlier ':' would put a
    * non-digit ':' inside the digit run), so: if everything after the
    * last ':' is digits (possibly zero of them), strip from there.
    */
  private def splitPort(hp: String): (String, String) = {
    val k = hp.lastIndexOf(':')
    if (k < 0) return (hp, "")
    var i = k + 1
    val n = hp.length
    while (i < n && isDigit(hp.charAt(i))) i += 1
    if (i == n) (hp.substring(0, k), hp.substring(k + 1)) else (hp, "")
  }

  /** `lower(regexp_replace(hostPort(u), ":[0-9]*$", ""))` — "" (never
    * null) when `u` has no `scheme://` prefix, matching the chained
    * regexp_extract no-match contract. Lowercasing delegates to
    * [[UTF8String.toLowerCase]], the exact method Spark's `lower` runs
    * for the default collation (non-ASCII hosts lower identically).
    */
  def host(u: UTF8String): UTF8String = {
    val s = u.toString
    val a = hostPortStart(s)
    if (a < 0) return UTF8String.EMPTY_UTF8
    val hp = s.substring(a, scanTo(s, a, '/', '?', '#'))
    UTF8String.fromString(splitPort(hp)._1).toLowerCase
  }

  /** `regexp_extract(host, "([^.]+\\.[^.]+)$", 1)`, `host` when that is
    * "" — the last two dot-labels when both are nonempty, else the host
    * itself. The `$`-anchored match must align its '.' with the LAST
    * dot; leftmost-first then extends the first label back to the
    * previous dot (or the start).
    */
  def registeredDomain(host: UTF8String): UTF8String = {
    val s = host.toString
    val j = s.lastIndexOf('.')
    if (j < 1 || j == s.length - 1 || s.charAt(j - 1) == '.') return host
    val i = s.lastIndexOf('.', j - 1)
    if (i < 0) host else UTF8String.fromString(s.substring(i + 1))
  }

  /** One leftmost-first global-replace pass of `/\./` → `/`. */
  private def passDotSlash(s: String): String = {
    var i = s.indexOf("/./")
    if (i < 0) return s
    val n = s.length
    val b = new java.lang.StringBuilder(n)
    b.append(s, 0, i)
    while (i < n) {
      if (i + 2 < n && s.charAt(i) == '/' && s.charAt(i + 1) == '.' &&
          s.charAt(i + 2) == '/') { b.append('/'); i += 3 }
      else { b.append(s.charAt(i)); i += 1 }
    }
    b.toString
  }

  @inline private def isSeg(s: String, from: Int, to: Int): Boolean = {
    // Seg = ([^/.][^/]*|\.[^/.][^/]*|\.\.[^/]+): exactly the segments
    // that are nonempty and neither "." nor ".." (alternative 1 takes
    // non-dot-initial, 2 takes ".x…", 3 takes "..x…"; "" / "." / ".."
    // fit none). Segments never contain '/' by construction.
    val len = to - from
    if (len <= 0) return false
    if (s.charAt(from) != '.') return true
    if (len == 1) return false
    if (s.charAt(from + 1) != '.') return true
    len > 2
  }

  /** One global-replace pass of `/Seg/\.\./` → `/`. A match can only
    * start at '/', Seg must span exactly to the next '/' (the pattern's
    * following '/' cannot match a mid-segment character), and scanning
    * resumes after the consumed `/seg/../` (the emitted '/' is output,
    * never rescanned — java.util.regex appendReplacement semantics).
    */
  private def passSegDotDotSlash(s: String): String = {
    val n = s.length
    var b: java.lang.StringBuilder = null
    var i = 0
    var copiedTo = 0
    while (i < n) {
      if (s.charAt(i) == '/') {
        var j = i + 1
        while (j < n && s.charAt(j) != '/') j += 1
        if (j + 3 < n && isSeg(s, i + 1, j) && s.charAt(j + 1) == '.' &&
            s.charAt(j + 2) == '.' && s.charAt(j + 3) == '/') {
          if (b == null) b = new java.lang.StringBuilder(n)
          b.append(s, copiedTo, i).append('/')
          i = j + 4
          copiedTo = i
        } else i += 1
      } else i += 1
    }
    if (b == null) s else { b.append(s, copiedTo, n); b.toString }
  }

  /** `/Seg/\.\.$` → `/` (anchored at $: at most one match). */
  private def passSegDotDotEnd(s: String): String = {
    val n = s.length
    if (n < 3 || !s.endsWith("/..")) return s
    val j = n - 3
    val i = s.lastIndexOf('/', j - 1)
    if (i < 0 || !isSeg(s, i + 1, j)) s else s.substring(0, i) + "/"
  }

  /** `normalizePath` of [[graft.operators.UrlOps]]: "" → "/", collapse
    * `/+`, then — only when the collapsed path contains "/." (the spec's
    * instr gate) — the fixed dot-segment passes in spec order: 4×
    * `/\./`, 1× `/\.$`, 8× `/Seg/\.\./`, 2× `/Seg/\.\.$`, 4× `^/\.\./`,
    * 1× `^/\.\.$`. Each repeat loop exits early at its own fixpoint
    * (a pass is deterministic: pass(t) == t implies every further
    * application is t, so the remaining repeats are identity).
    */
  def normalizePath(p: String): String = {
    val base = if (p.isEmpty) "/" else p
    // collapse "/+" → "/"
    val collapsed = {
      var i = base.indexOf("//")
      if (i < 0) base
      else {
        val n = base.length
        val b = new java.lang.StringBuilder(n)
        b.append(base, 0, i)
        while (i < n) {
          val c = base.charAt(i)
          b.append(c)
          i += 1
          if (c == '/') while (i < n && base.charAt(i) == '/') i += 1
        }
        b.toString
      }
    }
    if (!collapsed.contains("/.")) return collapsed
    var t = collapsed
    var k = 0
    while (k < 4) { val u = passDotSlash(t); if (u eq t) k = 4 else { t = u; k += 1 } }
    if (t.endsWith("/.")) t = t.substring(0, t.length - 1) // "/\.$" → "/"
    k = 0
    while (k < 8) { val u = passSegDotDotSlash(t); if (u eq t) k = 8 else { t = u; k += 1 } }
    k = 0
    while (k < 2) { val u = passSegDotDotEnd(t); if (u eq t) k = 2 else { t = u; k += 1 } }
    k = 0
    while (k < 4 && t.startsWith("/../")) { t = t.substring(3); k += 1 } // "^/\.\./" → "/"
    if (t == "/..") t = "/"
    t
  }

  /** Strip-tracking over the raw query: `split(q, "&")` keeps empty
    * tokens, the filter drops "" and `^(utm_[^=&]*|gclid|fbclid|ref)(=|$)`
    * matches, `array_join(..., "&")` rejoins. Inside an '&'-delimited
    * token the `[^=&]*` run can always reach the first '=' or the end,
    * so the utm_ alternative accepts every token starting with "utm_";
    * the literal alternatives accept exactly the bare name or name=….
    */
  private def stripTracking(q: String): String = {
    if (q.isEmpty) return ""
    val b = new java.lang.StringBuilder(q.length)
    var start = 0
    val n = q.length
    var first = true
    while (start <= n) {
      var end = q.indexOf('&', start)
      if (end < 0) end = n
      if (end > start && !isTracking(q, start, end)) {
        if (!first) b.append('&')
        b.append(q, start, end)
        first = false
      }
      start = end + 1
    }
    b.toString
  }

  @inline private def isTracking(q: String, from: Int, to: Int): Boolean = {
    @inline def word(w: String): Boolean = {
      val wl = w.length
      (to - from == wl || (to - from > wl && q.charAt(from + wl) == '=')) &&
        q.regionMatches(from, w, 0, wl)
    }
    (to - from >= 4 && q.regionMatches(from, "utm_", 0, 4)) ||
      word("gclid") || word("fbclid") || word("ref")
  }

  /** The whole of [[graft.operators.UrlOps.canonicalizeUrlSpec]] as one
    * scan: null unless lower(scheme) ∈ {http, https} and the (port-
    * stripped, lowercased) host is nonempty; else
    * scheme://host[:port]normalizedPath[?strippedQuery] with default
    * ports (http 80 / https 443, after leading-zero strip) dropped and
    * the fragment gone (no component ever reads past '#').
    */
  def canonicalize(u: UTF8String): UTF8String = {
    val s = u.toString
    val a = hostPortStart(s)
    if (a < 0) return null
    val sch = lowerAscii(s.substring(0, a - 3))
    val isHttp = sch == "http"
    if (!isHttp && sch != "https") return null
    val hpEnd = scanTo(s, a, '/', '?', '#')
    val (hostRaw, portDigits) = splitPort(s.substring(a, hpEnd))
    if (hostRaw.isEmpty) return null
    val hostLc = UTF8String.fromString(hostRaw).toLowerCase.toString
    if (hostLc.isEmpty) return null
    // regexp_replace(p, "^0+([0-9])", "$1"): drop leading zeros, keep
    // at least one digit ("0…0" → "0"; bare "0" has no match and stays)
    val port = {
      var i = 0
      while (i < portDigits.length && portDigits.charAt(i) == '0') i += 1
      if (portDigits.isEmpty) "" else if (i == portDigits.length) "0"
      else portDigits.substring(i)
    }
    val dropPort = port.isEmpty || (isHttp && port == "80") || (!isHttp && port == "443")
    val pEnd = {
      var i = hpEnd
      val n = s.length
      while (i < n && s.charAt(i) != '?' && s.charAt(i) != '#') i += 1
      i
    }
    val path = normalizePath(s.substring(hpEnd, pEnd))
    val query =
      if (pEnd < s.length && s.charAt(pEnd) == '?') {
        var qEnd = s.indexOf('#', pEnd + 1)
        if (qEnd < 0) qEnd = s.length
        stripTracking(s.substring(pEnd + 1, qEnd))
      } else ""
    val b = new java.lang.StringBuilder(s.length + 8)
    b.append(sch).append("://").append(hostLc)
    if (!dropPort) b.append(':').append(port)
    b.append(path)
    if (!query.isEmpty) b.append('?').append(query)
    UTF8String.fromString(b.toString)
  }
}
