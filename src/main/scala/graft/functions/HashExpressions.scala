package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.graftbridge.TypeBridge.AbstractDataType
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** JVM-side hash kernels, written so generated Java can call them as static
  * methods (`graft.functions.HashUtil.fnv64(...)`) from whole-stage codegen.
  */
object HashUtil {

  /** Merge-walk |a ∩ b| for SORTED ascending long arrays; no allocation. */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    var i = 0; var j = 0; var c = 0L
    val (na, nb) = (a.numElements(), b.numElements())
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** FNV-1a 64-bit over UTF-8 bytes — deterministic across JVMs/partitions. */
  def fnv64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** dHash-64 perceptual image hash (difference hash: 9×8 luma grid, bit
    * r*8+c set iff luma[r][c] < luma[r][c+1] — krawetz's public dHash
    * formulation). REAL images (PNG/JPEG/GIF/BMP via javax.imageio)
    * decode → 9×8 bilinear downscale → integer BT.601 luma per cell.
    * Non-decodable payloads fall back to a DETERMINISTIC byte-plane stub
    * (the q44 convention): the payload's UTF-8 codepoints sampled at
    * floor(i·n/72) give the 72 "lumas" (codepoint & 0xff) — exactly
    * replayable in oracle SQL via ord(substr(text, (i*n)//72 + 1, 1)) % 256.
    * Returns null for empty payloads (no plane to hash).
    */
  def dhash64(bytes: Array[Byte]): java.lang.Long = {
    if (bytes == null || bytes.isEmpty) return null
    val lumas = decodeLuma9x8(bytes).getOrElse {
      val cps = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        .codePoints().toArray
      val n = cps.length
      if (n == 0) return null
      Array.tabulate(72)(i => cps((i.toLong * n / 72).toInt) & 0xff)
    }
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (lumas(r * 9 + c) < lumas(r * 9 + c + 1)) h |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  /** Decode + bilinear-downscale to a 9×8 luma plane (row-major, 72
    * ints in [0,255]); None when the bytes are not a decodable image.
    */
  // JVM-global, set once per executor: ImageIO's default file-backed
  // stream cache creates+deletes a TEMP FILE per read — per-ROW disk
  // I/O in this codegen'd hot path (and in every Multimodal decode).
  // The inputs are in-memory byte arrays; cache to heap instead.
  private lazy val imageIoNoFileCache: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  private def decodeLuma9x8(bytes: Array[Byte]): Option[Array[Int]] =
    try {
      imageIoNoFileCache
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        .map { img =>
          val dst = new java.awt.image.BufferedImage(
            9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = dst.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, 9, 8, null)
          } finally g.dispose()
          val out = new Array[Int](72)
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 9) {
              val rgb = dst.getRGB(x, y)
              out(y * 9 + x) = (((rgb >> 16) & 0xff) * 299 +
                ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114) / 1000
              x += 1
            }
            y += 1
          }
          out
        }
    } catch {
      // same stance as JdkImageCodec: any decode failure (including
      // RuntimeExceptions from corrupt-but-magic-matching payloads)
      // means "not an image", never a task failure
      case scala.util.control.NonFatal(_) => None
    }

  /** SimHash (Charikar 2002) of a token/shingle array: per-bit majority vote
    * of the 64-bit feature hashes. Near-duplicate texts land within a small
    * hamming distance. Null elements are skipped.
    */
  def simhash64(arr: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = fnv64(arr.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var res = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) res |= (1L << j)
      j += 1
    }
    res
  }

  /** i-th member of an independent-ish hash family: golden-ratio step
    * then the ONE shared splitmix64 finalizer ([[CmsUtil.mix64]] —
    * bit-identical to the former inline copy, since mix64 itself adds
    * one golden-ratio step). Keeping a single finalizer means a hash-
    * family fix lands everywhere at once.
    */
  private def mix(base: Long, i: Int): Long =
    CmsUtil.mix64(base + 0x9e3779b97f4a7c15L * i)

  /** MinHash signature in ONE pass over the element array: each element is
    * FNV-hashed once, then k mixer applications update k running minima.
    * Replaces k interpreted `transform`+`array_min` passes (and their
    * per-element string concats) — the difference between O(k·n) cheap long
    * ops and O(k·n) string allocations per row.
    */
  def minhash64(arr: ArrayData, k: Int, stringElems: Boolean): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base = if (stringElems) fnv64(arr.getUTF8String(i)) else arr.getLong(i)
        var j = 0
        while (j < k) {
          val h = mix(base, j)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Element accessor codes for the numeric-array kernels. */
  final val ElemDouble = 0
  final val ElemFloat = 1
  final val ElemLong = 2
  final val ElemInt = 3

  private def elemAsDouble(a: ArrayData, i: Int, code: Int): Double = code match {
    case ElemDouble => a.getDouble(i)
    case ElemFloat  => a.getFloat(i).toDouble
    case ElemLong   => a.getLong(i).toDouble
    case _          => a.getInt(i).toDouble
  }

  /** Sequential in-order dot product over two numeric ArrayData, each
    * element widened to double — identical arithmetic to the higher-order
    * `aggregate(zip_with(cast,cast))` formulation for well-formed input.
    * Ragged lengths or null elements fail fast with a clear error (the
    * zip_with form silently yielded null; for fixed-dim embeddings a loud
    * failure beats a silently-dropped pair).
    */
  def dot(a: ArrayData, b: ArrayData, aCode: Int, bCode: Int): Double = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"dot: vector length mismatch (${a.numElements()} vs ${b.numElements()})")
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i))
        throw new IllegalArgumentException(s"dot: null element at index $i")
      s += elemAsDouble(a, i, aCode) * elemAsDouble(b, i, bCode)
      i += 1
    }
    s
  }

  /** Sequential in-order squared L2 distance — Σᵢ (aᵢ - bᵢ)² with each
    * element widened to double first, accumulated in index order:
    * identical arithmetic AND identical null semantics to the
    * interpreted `aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0,
    * +)` it replaces (r12: that HOF chain was the innermost loop of
    * every k-means assignment/training pass — IVF cells × dims per row
    * — and higher-order functions are CodegenFallback, so the ANN lanes
    * were interpreting their hottest arithmetic). Ragged lengths or
    * null elements yield NULL, exactly like the zip_with form (callers
    * such as bruteForceTopKL2 filter dim-mismatched pairs by that
    * null).
    */
  def sqDist(a: ArrayData, b: ArrayData, aCode: Int, bCode: Int): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = elemAsDouble(a, i, aCode) - elemAsDouble(b, i, bCode)
      s += d * d
      i += 1
    }
    s
  }

  /** Count of start positions where `toks` matches `phrase` exactly,
    * element for element (overlapping occurrences counted, the
    * filter(sequence(...)) semantics of the in-row phrase scan): the
    * codegen'd kernel behind [[graft.operators.TextAnalysis.phraseSearch]]
    * — the HOF form evaluated m interpreted element_at comparisons per
    * start position per row.
    */
  def phraseCount(toks: ArrayData, phrase: Array[UTF8String]): Long = {
    val n = toks.numElements()
    val m = phrase.length
    if (n < m) return 0L
    var cnt = 0L
    var i = 0
    while (i <= n - m) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        if (toks.isNullAt(i + j) || !phrase(j).equals(toks.getUTF8String(i + j)))
          ok = false
        j += 1
      }
      if (ok) cnt += 1L
      i += 1
    }
    cnt
  }

  /** Rolling k-gram FNV hashes of a byte array (shared winnowing core). */
  private def gramHashes(bytes: Array[Byte], k: Int): Array[Long] = {
    val n = bytes.length - k + 1
    val hashes = new Array[Long](math.max(n, 0))
    var i = 0
    while (i < n) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < k) {
        h ^= (bytes(i + j) & 0xffL)
        h *= 0x100000001b3L
        j += 1
      }
      hashes(i) = h
      i += 1
    }
    hashes
  }

  /** Winnowing window-minimum selections as (hash, pos) pairs, deduped on
    * CONSECUTIVE identical selections (the standard winnowing rule) — a
    * k-gram repeated at several sites keeps one selection per site, which
    * is exactly what position-based overlap localization needs.
    */
  private def winnowSelections(bytes: Array[Byte], k: Int, window: Int)
      : scala.collection.mutable.ArrayBuffer[(Long, Int)] = {
    val hashes = gramHashes(bytes, k)
    val n = hashes.length
    val out = new scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    if (n == 0) return out
    var prevPos = -1
    val wins = math.max(1, n - window + 1)
    var w = 0
    while (w < wins) {
      var m = hashes(w)
      var mPos = w
      var j = 1
      while (j < math.min(window, n - w)) {
        if (hashes(w + j) < m) { m = hashes(w + j); mPos = w + j }
        j += 1
      }
      if (mPos != prevPos) { // new selection site
        out += ((m, mPos))
        prevPos = mPos
      }
      w += 1
    }
    out
  }

  /** Winnowing with positions — array<struct<hash,pos>>; see
    * [[winnowSelections]] for the selection/dedup rule.
    */
  def winnowPositions(s: UTF8String, k: Int, window: Int): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      winnowSelections(s.getBytes, k, window)
        .map { case (h, p) => org.apache.spark.sql.catalyst.InternalRow(h, p) }
        .toArray[Any])

  /** Polynomial rolling hash (base 31, mod 1e9+7) over UTF-8 bytes — the
    * classic Rabin-Karp document fingerprint.
    */
  def polyHash(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) {
      h = (h * 31L + (bytes(i) & 0xffL)) % 1000000007L
      i += 1
    }
    h
  }

  /** Lowercased whitespace tokens in ONE pass — exact semantics of
    * `filter(split(lower(s), "\\s+"), t => t != "")`: Unicode lowercase
    * (UTF8String.toLowerCase), splits on runs of ASCII whitespace (Java
    * regex `\s` = [ \t\n\x0B\f\r] — ASCII-only by default), empties
    * dropped. Splitting on ASCII bytes is UTF-8-safe: multi-byte chars
    * never contain ASCII bytes.
    */
  def tokenize(s: UTF8String): ArrayData = {
    val bytes = s.toLowerCase.getBytes
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String]()
    var i = 0
    val n = bytes.length
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) out += UTF8String.fromBytes(bytes, start, i - start)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
  }

  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** Distinct FNV hashes of all n-byte grams of a string, in one pass —
    * the hashed-feature form of char-ngram shingling (byte-level, which
    * for fingerprinting is equivalent-in-distribution to char-level and
    * avoids decoding).
    */
  def ngramHashes(s: UTF8String, n: Int): ArrayData = {
    val bytes = s.getBytes
    val cnt = bytes.length - n + 1
    if (cnt <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val seen = new scala.collection.mutable.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](math.min(cnt, 1024))
    var i = 0
    while (i < cnt) {
      var h = 0xcbf29ce484222325L
      var j = 0
      while (j < n) {
        h ^= (bytes(i + j) & 0xffL)
        h *= 0x100000001b3L
        j += 1
      }
      if (seen.add(h)) out += h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Squared L2 distance of the TRUNCATED slice v[off, off+len) (the
    * 0-based form of `slice(v, off+1, len)`) against a literal centroid:
    * null when the effective slice length differs from the centroid's or
    * a slice element is null — exactly sqDist-after-slice. Same in-order
    * Σ(xᵢ-cᵢ)² double accumulation as [[sqDist]].
    */
  private def sqDistTo(v: ArrayData, code: Int, off: Int, len: Int,
      c: Array[Double]): java.lang.Double = {
    val n = v.numElements()
    val effLen = math.max(0, math.min(len, n - off))
    if (effLen != c.length) return null
    var s = 0.0
    var i = 0
    while (i < effLen) {
      if (v.isNullAt(off + i)) return null
      val d = elemAsDouble(v, off + i, code) - c(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Argmin over literal centroids by (sqDist, index) — replicates
    * `array_min(transform(cents, (c,i) => struct(sqDist(v,c), i)))
    * .getField(i)` exactly: struct ordering is null-FIRST on the
    * distance field, so the first null distance (slice/dim mismatch or
    * null element) wins outright; NaN sorts above every number
    * (Double.compare); ties keep the smaller index (strict less-than).
    * `off`/`len` select the 0-based slice (pass 0 / v.length for the
    * whole vector). -0.0 is unreachable (sums of squares).
    */
  def nearestIndex(v: ArrayData, code: Int, off: Int, len: Int,
      cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = 0.0
    var first = true
    var i = 0
    while (i < cents.length) {
      val d = sqDistTo(v, code, off, len, cents(i))
      if (d == null) return i // null-first struct ordering, ascending index
      val dv = d.doubleValue()
      if (first || java.lang.Double.compare(dv, bestD) < 0) {
        best = i; bestD = dv; first = false
      }
      i += 1
    }
    best
  }

  /** PQ code array: per subspace s, the argmin code of slice
    * v[s·dsub, (s+1)·dsub) within codebook cbs(s) — one kernel call for
    * the whole `transform(sequence(0, m-1), s => nearestCode(slice(...),
    * s, cb))` program.
    */
  def pqEncode(v: ArrayData, code: Int, dsub: Int,
      cbs: Array[Array[Array[Double]]]): ArrayData = {
    val m = cbs.length
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      out(s) = nearestIndex(v, code, s * dsub, dsub, cbs(s))
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** ADC distance: Σ_s dt[s][codes[s]] folded in subspace order — the
    * kernel form of `aggregate(sequence(0, m-1), 0.0, (acc, s) =>
    * acc + element_at(element_at(dt, s+1), element_at(codes, s+1)+1))`.
    * Any null/missing lookup nulls the whole fold (x + null = null),
    * replicating non-ANSI element_at's null-on-out-of-range. Codes are
    * argmin outputs (>= 0 by construction); negative codes are treated
    * as out-of-range rather than element_at's from-the-end indexing.
    */
  def adcDist(dt: ArrayData, codes: ArrayData, m: Int): java.lang.Double = {
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (s >= codes.numElements() || codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      if (s >= dt.numElements() || dt.isNullAt(s)) return null
      val row = dt.getArray(s)
      if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
      acc += row.getDouble(c)
      s += 1
    }
    acc
  }

  /** Residual v − cents(cell) — the kernel form of
    * `zip_with(v, element_at(ca, cell+1), (x, c) => x - c)`: null for an
    * out-of-range cell (element_at's null poisons zip_with); element i
    * is null when either side is missing/null (zip_with pads the shorter
    * array), else v(i) − c(i) with v's element widened to double.
    */
  def residualAt(v: ArrayData, code: Int, cell: Int,
      cents: Array[Array[Double]]): ArrayData = {
    if (cell < 0 || cell >= cents.length) return null
    val c = cents(cell)
    val n = v.numElements()
    val len = math.max(n, c.length)
    val out = new Array[Any](len)
    var i = 0
    while (i < len) {
      out(i) =
        if (i >= n || v.isNullAt(i) || i >= c.length) null
        else java.lang.Double.valueOf(elemAsDouble(v, i, code) - c(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val EmptyStringArray =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])

  /** Distinct word k-shingles in first-occurrence order — the kernel form
    * of `array_distinct(transform(sequence(...), i => array_join(slice(
    * toks, i, k), " ")))`: windows joined with " " (array_join skips null
    * elements, though the [[tokenize]] kernel never yields them),
    * distinctness by string equality keeping first occurrences,
    * fewer-than-k tokens yield the empty array. NEVER null: a null token
    * array yields the empty array too, replicating `array_distinct(when(
    * size(toks) >= k, ...).otherwise(array()))` where the null-size
    * condition falls through to the empty-array branch.
    */
  def wordShingles(toks: ArrayData, k: Int): ArrayData = {
    if (toks == null) return EmptyStringArray
    val T = toks.numElements()
    val cnt = T - k + 1
    if (cnt <= 0) return EmptyStringArray
    val space = UTF8String.fromString(" ")
    val tokArr = new Array[UTF8String](T)
    var t = 0
    while (t < T) { tokArr(t) = toks.getUTF8String(t); t += 1 }
    val seen = new java.util.HashSet[UTF8String]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](math.min(cnt, 1024))
    val win = new Array[UTF8String](k)
    var i = 0
    while (i < cnt) {
      System.arraycopy(tokArr, i, win, 0, k)
      val sh = UTF8String.concatWs(space, win: _*)
      if (seen.add(sh)) out += sh
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** [[minhash64]] that returns null when the array holds no non-null
    * element — the fused form of `when(size(filter(elems, isNotNull)) > 0,
    * minhash64(elems, k))`, which interpreted a filter() pass per row just
    * to decide the guard.
    */
  def minhash64OrNull(arr: ArrayData, k: Int, stringElems: Boolean): ArrayData = {
    val n = arr.numElements()
    var i = 0
    var any = false
    while (!any && i < n) { any = !arr.isNullAt(i); i += 1 }
    if (!any) null else minhash64(arr, k, stringElems)
  }

  /** LSH band keys of a minhash signature — the kernel form of
    * `array((0 until numBands).map(b => struct(b, xxhash64(array_join(
    * transform(slice(sig, b·r+1, r), cast-to-string), ",")))))`: per band
    * the signature slice (truncated at the end; empty past it) renders as
    * comma-joined decimal longs (null elements skipped, like array_join)
    * and hashes with Spark's XXH64 at the default seed 42. A NULL
    * signature replays xxhash64(null) = seed per band — the documented
    * featureless-doc sentinel — so the result is NEVER null, exactly like
    * the `array(struct(b, xxhash64(...slice(NULL sig)...)))` program.
    */
  def lshBandKeys(sig: ArrayData, numBands: Int, rowsPerBand: Int): ArrayData = {
    val out = new Array[Any](numBands)
    val n = if (sig == null) 0 else sig.numElements()
    var b = 0
    while (b < numBands) {
      val bucket: Long =
        if (sig == null) 42L // xxhash64(null) = seed
        else {
          val from = b * rowsPerBand
          val to = math.min(from + rowsPerBand, n)
          val sb = new java.lang.StringBuilder(rowsPerBand * 20)
          var i = from
          var firstOut = true
          while (i < to) {
            if (!sig.isNullAt(i)) {
              if (!firstOut) sb.append(',')
              sb.append(sig.getLong(i))
              firstOut = false
            }
            i += 1
          }
          val u = UTF8String.fromString(sb.toString)
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
        }
      out(b) = org.apache.spark.sql.catalyst.InternalRow(b, bucket)
      b += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Positional n-gram XXH64 hashes: element i = xxhash64 (seed 42) of
    * the space-joined token window starting at i — the kernel form of
    * `transform(sequence(1, T-n+1), i => array_join(slice(toks, i, n),
    * " ")))` followed by `xxhash64(gram)`, without materializing the
    * gram strings in the plan. concat_ws skips null tokens like
    * array_join; T < n yields the empty array (callers filter on it).
    */
  def posGramHashes(toks: ArrayData, n: Int): ArrayData = {
    val T = toks.numElements()
    val cnt = T - n + 1
    if (cnt <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.emptyLongArray)
    val space = UTF8String.fromString(" ")
    val tokArr = new Array[UTF8String](T)
    var t = 0
    while (t < T) { tokArr(t) = toks.getUTF8String(t); t += 1 }
    val out = new Array[Long](cnt)
    val win = new Array[UTF8String](n)
    var i = 0
    while (i < cnt) {
      System.arraycopy(tokArr, i, win, 0, n)
      val g = UTF8String.concatWs(space, win: _*)
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        g.getBaseObject, g.getBaseOffset, g.numBytes(), 42L)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-document term frequencies in first-occurrence order — the
    * in-row equivalent of `explode(toks) groupBy(term) count`: one
    * (term, tf) struct per distinct token. Null tokens are skipped
    * (a null explode row would groupBy into a null term key — the
    * tokenize kernel never produces one, but the contract matches).
    */
  def termCounts(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, Int]()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i)
        counts.merge(t, 1, (a, b) => a + b)
      }
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(e.getKey, e.getValue)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Per-document hashed-bucket frequencies in first-occurrence order —
    * the in-row equivalent of `explode(toks) → pmod(fnv64(tk), m) →
    * groupBy(id, bucket) count` (a doc's tokens never span rows, so
    * that aggregation was per-row anyway): one (bucket, cnt) struct per
    * distinct bucket. Null tokens are skipped (fnv64(null) is null →
    * pmod null → the row would have grouped under a null bucket the
    * tokenize kernel never produces; matching termCounts' contract).
    * pmod(h, m) for negative h is ((h % m) + m) % m.
    */
  def bucketCounts(toks: ArrayData, m: Int): ArrayData = {
    val n = toks.numElements()
    val counts = new java.util.LinkedHashMap[java.lang.Long, Long]()
    val mm = m.toLong
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val h = fnv64(toks.getUTF8String(i))
        val b = java.lang.Long.valueOf(((h % mm) + mm) % mm)
        counts.merge(b, 1L, (a, x) => a + x)
      }
      i += 1
    }
    val out = new Array[Any](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = org.apache.spark.sql.catalyst.InternalRow(
        e.getKey.longValue(), e.getValue)
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Content-defined chunk stats in ONE pass over the token array — the
    * in-row equivalent of the q266 window program: a token `w` with
    * `pmod(fnv64(w), modulus) == 0` ENDS its chunk; element k of the
    * result is (c_tokens, ch) of the k-th chunk, where c_tokens counts
    * every token slot in the chunk and ch = fnv64 of the chunk's
    * non-null tokens joined by a single space (array_join semantics —
    * null elements skipped; the tokenize kernel never yields one). A
    * trailing chunk with no boundary token still emits; an empty token
    * array yields the empty array (posexplode emitted no rows there).
    * pmod(h, m) == 0 ⟺ h % m == 0 in two's complement, so the kernel
    * tests the cheap remainder.
    */
  def cdcChunkStats(toks: ArrayData, modulus: Int): ArrayData = {
    val T = toks.numElements()
    if (T == 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
    val space = UTF8String.fromString(" ")
    val out = new java.util.ArrayList[Any]()
    val m = modulus.toLong
    def emit(from: Int, until: Int): Unit = {
      val win = new Array[UTF8String](until - from)
      var j = from
      while (j < until) {
        win(j - from) = if (toks.isNullAt(j)) null else toks.getUTF8String(j)
        j += 1
      }
      val joined = UTF8String.concatWs(space, win: _*)
      out.add(org.apache.spark.sql.catalyst.InternalRow(
        (until - from).toLong, fnv64(joined))): Unit
    }
    var start = 0
    var i = 0
    while (i < T) {
      val boundary = !toks.isNullAt(i) && fnv64(toks.getUTF8String(i)) % m == 0
      if (boundary) { emit(start, i + 1); start = i + 1 }
      i += 1
    }
    if (start < T) emit(start, T)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Sorted n-gram run-length stats (top = best-run count × that gram's
    * char length, dup = Σ_{runs>1} run × gram char length) — the kernel
    * form of the Gopher-repetition `aggregate(array_sort(gramArr(n)),
    * ...)` program: grams are the space-joined n-token windows
    * (concat_ws semantics — null tokens skipped, though the tokenize
    * kernel never yields them), sorted in UTF8String's natural order
    * (unsigned bytewise, shorter-prefix-first — exactly array_sort on
    * strings), runs scanned with string equality, "best" decided by
    * strict count comparison so ties keep the earlier (sorted-first)
    * gram, char lengths counted as codepoints (Spark length()). T < n
    * yields (0, 0) like the empty gram array.
    */
  def gramRunStats(toks: ArrayData, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val T = toks.numElements()
    val cnt = T - n + 1
    if (cnt <= 0) return org.apache.spark.sql.catalyst.InternalRow(0L, 0L)
    val space = UTF8String.fromString(" ")
    val tokArr = new Array[UTF8String](T)
    var t = 0
    while (t < T) { tokArr(t) = toks.getUTF8String(t); t += 1 }
    val grams = new Array[UTF8String](cnt)
    val win = new Array[UTF8String](n)
    var i = 0
    while (i < cnt) {
      System.arraycopy(tokArr, i, win, 0, n)
      grams(i) = UTF8String.concatWs(space, win: _*)
      i += 1
    }
    java.util.Arrays.sort(grams, java.util.Comparator.naturalOrder[UTF8String]())
    var prev: UTF8String = null
    var plen = 0L; var run = 0L
    var bestC = 0L; var bestL = 0L; var dup = 0L
    var j = 0
    while (j < cnt) {
      val x = grams(j)
      if (prev != null && x.equals(prev)) run += 1
      else {
        if (run > bestC) { bestC = run; bestL = plen }
        if (run > 1) dup += run * plen
        prev = x; plen = x.numChars().toLong; run = 1
      }
      j += 1
    }
    val top = if (run > bestC) run * plen else bestC * bestL
    if (run > 1) dup += run * plen
    org.apache.spark.sql.catalyst.InternalRow(top, dup)
  }

  /** Synthetic-line duplication census — the kernel form of
    * `syntheticLines(toks, lineLen)` + size/array_distinct/Σlength over
    * it: lines are lineLen-token chunks joined with " " (last chunk
    * truncated), distinctness is string equality keeping first
    * occurrences, lengths are codepoint counts. Returns
    * (n_lines, n_distinct, sum_len, distinct_sum_len); empty token
    * arrays yield (0, 0, 0, 0) like the empty line array.
    */
  def lineDupStats(toks: ArrayData, lineLen: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val T = toks.numElements()
    if (T == 0) return org.apache.spark.sql.catalyst.InternalRow(0, 0, 0L, 0L)
    val space = UTF8String.fromString(" ")
    val nLines = (T - 1) / lineLen + 1
    val seen = new java.util.HashSet[UTF8String]()
    var sumLen = 0L; var dSum = 0L; var d = 0
    var i = 0
    while (i < nLines) {
      val from = i * lineLen
      val len = math.min(lineLen, T - from)
      val chunk = new Array[UTF8String](len)
      var t = 0
      while (t < len) { chunk(t) = toks.getUTF8String(from + t); t += 1 }
      val line = UTF8String.concatWs(space, chunk: _*)
      val L = line.numChars().toLong
      sumLen += L
      if (seen.add(line)) { d += 1; dSum += L }
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(nLines, d, sumLen, dSum)
  }

  /** Winnowing fingerprint SET (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * the distinct hashes of [[winnowSelections]] in first-seen order.
    * Any shared substring of length ≥ window+k-1 guarantees a shared
    * fingerprint.
    */
  def winnow(s: UTF8String, k: Int, window: Int): ArrayData = {
    val seen = new scala.collection.mutable.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    winnowSelections(s.getBytes, k, window).foreach { case (h, _) =>
      if (seen.add(h)) out += h
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}

/** One-pass MinHash signature of an array<string> or array<long> of
  * (pre-hashed) features.
  */
case class MinHash64(child: Expression, numHashes: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // The type dispatch is already computed here — surface a wrong-typed call
  // (e.g. graft_minhash64(42)) as an analysis-time error, not a mid-job
  // ClassCastException/codegen failure.
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash64 requires array<string> or array<bigint>, got ${other.sql}")
  }
  private def stringElems: Boolean = child.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.minhash64(input.asInstanceOf[ArrayData], numHashes, stringElems)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashUtil.minhash64($c, $numHashes, $stringElems)")
  override protected def withNewChildInternal(newChild: Expression): MinHash64 = copy(child = newChild)
}

/** Dot product of two numeric arrays, summed in element order (matches
  * the sequential semantics of `aggregate(zip_with(...))` and of DuckDB's
  * list kernels, so oracle results stay bit-identical) — but as ONE
  * codegen'd kernel call instead of interpreted higher-order functions.
  */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType

  // Type dispatch doubles as the analysis-time check: reject non-numeric
  // arrays before execution instead of throwing from eval/codegen.
  override def checkInputDataTypes(): TypeCheckResult =
    Seq("left" -> left, "right" -> right).collectFirst {
      case (side, e) if elemCodeOpt(e).isEmpty => TypeCheckResult.TypeCheckFailure(
        s"graft_dot $side argument must be an array of double/float/long/int, got ${e.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  private def elemCodeOpt(e: Expression): Option[Int] = e.dataType match {
    case ArrayType(DoubleType, _) => Some(HashUtil.ElemDouble)
    case ArrayType(FloatType, _) => Some(HashUtil.ElemFloat)
    case ArrayType(LongType, _) => Some(HashUtil.ElemLong)
    case ArrayType(IntegerType, _) => Some(HashUtil.ElemInt)
    case _ => None
  }

  private def elemCode(e: Expression, side: String): Int =
    elemCodeOpt(e).getOrElse(throw new IllegalStateException(
      s"graft_dot: unchecked $side input type ${e.dataType.sql}"))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemCode(left, "left"), elemCode(right, "right"))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val (lc, rc) = (elemCode(left, "left"), elemCode(right, "right"))
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashUtil.dot($a, $b, $lc, $rc)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Occurrence count of a literal token phrase inside an array<string>
  * of tokens — overlapping starts counted, null-element starts excluded,
  * exactly the `size(filter(sequence(1, nStarts), i => AND_j
  * element_at(toks, i+j) === phrase_j))` HOF program it replaces, as one
  * codegen'd kernel call (that form interpreted m element_at compares
  * per start per row).
  */
case class PhraseCount(child: Expression, phrase: Seq[String])
    extends UnaryExpression with ExpectsInputTypes {
  require(phrase.nonEmpty, "phraseCount needs a non-empty phrase")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  @transient private lazy val phraseU: Array[UTF8String] =
    phrase.map(UTF8String.fromString).toArray
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.phraseCount(input.asInstanceOf[ArrayData], phraseU)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("phraseArr", phraseU,
      "org.apache.spark.unsafe.types.UTF8String[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.phraseCount($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): PhraseCount =
    copy(child = newChild)
}

/** Squared L2 distance of two numeric arrays, Σ(aᵢ-bᵢ)² accumulated in
  * element order (bit-identical to the `aggregate(zip_with(...))` form
  * and to a DuckDB list kernel replaying the same order) — one codegen'd
  * call instead of interpreted higher-order functions. This is the
  * innermost loop of the k-means / IVF / PQ family (kCells or kCodes
  * distance evaluations per row per pass), so keeping it inside
  * whole-stage codegen is what makes those lanes CPU-shaped rather than
  * interpreter-shaped (guide: eliminate non-codegen expressions in the
  * hot path).
  */
case class SquaredL2Distance(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    Seq("left" -> left, "right" -> right).collectFirst {
      case (side, e) if elemCodeOpt(e).isEmpty => TypeCheckResult.TypeCheckFailure(
        s"graft_sqdist $side argument must be an array of double/float/long/int, got ${e.dataType.sql}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  private def elemCodeOpt(e: Expression): Option[Int] = e.dataType match {
    case ArrayType(DoubleType, _) => Some(HashUtil.ElemDouble)
    case ArrayType(FloatType, _) => Some(HashUtil.ElemFloat)
    case ArrayType(LongType, _) => Some(HashUtil.ElemLong)
    case ArrayType(IntegerType, _) => Some(HashUtil.ElemInt)
    case _ => None
  }

  private def elemCode(e: Expression, side: String): Int =
    elemCodeOpt(e).getOrElse(throw new IllegalStateException(
      s"graft_sqdist: unchecked $side input type ${e.dataType.sql}"))

  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.sqDist(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemCode(left, "left"), elemCode(right, "right"))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val (lc, rc) = (elemCode(left, "left"), elemCode(right, "right"))
    val boxed = ctx.freshName("sqDistBoxed")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double $boxed = graft.functions.HashUtil.sqDist($a, $b, $lc, $rc);
      ${ev.isNull} = $boxed == null;
      ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();
    """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SquaredL2Distance =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED long arrays — a zero-allocation merge
  * walk. `array_intersect` builds a hash set per row; at millions of
  * pair rows that allocation storm dominates (measured: the dense winnow
  * join went 134 s → seconds in a GC-pressured session). Inputs MUST be
  * sorted ascending (e.g. `sort_array(collect_set(..))`) — unsorted
  * input silently undercounts; callers
  * ([[graft.operators.Dedup.winnowNearDupsDense]]-style) own that
  * guarantee. Null ELEMENTS are rejected at analysis (containsNull must
  * be false): the unsafe getLong would silently read a null slot as 0.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else (left.dataType, right.dataType) match {
      case (ArrayType(_, false), ArrayType(_, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "sortedIntersectCount requires arrays with containsNull=false " +
          "(null elements would be misread as 0)")
    }
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashUtil.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashUtil.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** MinHash signature or null when no non-null feature exists — the fused
  * guard+signature; see [[HashUtil.minhash64OrNull]]. Same type dispatch
  * as [[MinHash64]].
  */
case class MinHash64OrNull(child: Expression, numHashes: Int) extends UnaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) | ArrayType(LongType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash64_or_null requires array<string> or array<bigint>, got ${other.sql}")
  }
  private def stringElems: Boolean = child.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.minhash64OrNull(input.asInstanceOf[ArrayData], numHashes, stringElems)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val res = ctx.freshName("mhSig")
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.util.ArrayData $res =
        graft.functions.HashUtil.minhash64OrNull($c, $numHashes, $stringElems);
      ${ev.isNull} = $res == null;
      ${ev.value} = $res;
    """)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHash64OrNull =
    copy(child = newChild)
}

/** Shared element-code dispatch for the numeric-array kernels. */
private[functions] object ArrayElemCode {
  def of(dt: DataType): Option[Int] = dt match {
    case ArrayType(DoubleType, _) => Some(HashUtil.ElemDouble)
    case ArrayType(FloatType, _) => Some(HashUtil.ElemFloat)
    case ArrayType(LongType, _) => Some(HashUtil.ElemLong)
    case ArrayType(IntegerType, _) => Some(HashUtil.ElemInt)
    case _ => None
  }
  def check(e: Expression, what: String): TypeCheckResult =
    if (of(e.dataType).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$what requires an array of double/float/long/int, got ${e.dataType.sql}")
  def code(e: Expression, what: String): Int =
    of(e.dataType).getOrElse(throw new IllegalStateException(
      s"$what: unchecked input type ${e.dataType.sql}"))
}

/** Argmin cell id over literal centroids — the kernel form of
  * `array_min(transform(cents, (c,i) => struct(sqDist(v,c), i))).cell`
  * (see [[HashUtil.nearestIndex]] for the exact ordering semantics).
  * The k-means assignment inner loop of the IVF/PQ family: the HOF form
  * is CodegenFallback and allocated k structs + an array per row.
  */
case class NearestCentroid(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression {
  require(cents.nonEmpty, "nearestCentroid needs >= 1 centroid")
  override def checkInputDataTypes(): TypeCheckResult =
    ArrayElemCode.check(child, "graft_nearest_centroid")
  override def dataType: DataType = IntegerType
  private def code: Int = ArrayElemCode.code(child, "graft_nearest_centroid")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.nearestIndex(input.asInstanceOf[ArrayData], code,
      0, Int.MaxValue, cents)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashUtil.nearestIndex($c, $code, 0, Integer.MAX_VALUE, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Per-subspace argmin code: codebooks(sub) selected by the (int) sub
  * column, argmin over the whole subvector — the kernel form of
  * `nearestCode(sv, sub, codebookCol)`; null for an out-of-range sub
  * (element_at's null propagated through transform/array_min).
  */
case class NearestCodeBySub(left: Expression, right: Expression,
    cbs: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = ArrayElemCode.check(left, "graft_nearest_code")
    if (base.isFailure) base
    else if (right.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nearest_code sub argument must be int, got ${right.dataType.sql}")
  }
  private def code: Int = ArrayElemCode.code(left, "graft_nearest_code")
  override protected def nullSafeEval(sv: Any, sub: Any): Any = {
    val s = sub.asInstanceOf[Int]
    if (s < 0 || s >= cbs.length) null
    else HashUtil.nearestIndex(sv.asInstanceOf[ArrayData], code,
      0, Int.MaxValue, cbs(s))
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("cbs", cbs, "double[][][]")
    nullSafeCodeGen(ctx, ev, (sv, sub) => s"""
      if ($sub < 0 || $sub >= $ref.length) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = graft.functions.HashUtil.nearestIndex(
          $sv, $code, 0, Integer.MAX_VALUE, $ref[$sub]);
      }
    """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCodeBySub =
    copy(left = newLeft, right = newRight)
}

/** Whole-vector PQ encoding (array<int> of m codes) — the kernel form of
  * `transform(sequence(0, m-1), s => nearestCode(slice(v, s·dsub+1,
  * dsub), s, cb))`; see [[HashUtil.pqEncode]].
  */
case class PqEncodeCodes(child: Expression, dsub: Int,
    cbs: Array[Array[Array[Double]]]) extends UnaryExpression {
  require(dsub >= 1 && cbs.nonEmpty && cbs.forall(_.nonEmpty),
    "pqEncode needs dsub >= 1 and non-empty codebooks")
  override def checkInputDataTypes(): TypeCheckResult =
    ArrayElemCode.check(child, "graft_pq_encode")
  // containsNull matches the transform form's declared type (element
  // values are never null in practice — argmin over a non-empty
  // codebook) so the persisted index schema is unchanged
  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  private def code: Int = ArrayElemCode.code(child, "graft_pq_encode")
  override protected def nullSafeEval(input: Any): Any =
    HashUtil.pqEncode(input.asInstanceOf[ArrayData], code, dsub, cbs)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("cbs", cbs, "double[][][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashUtil.pqEncode($c, $code, $dsub, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): PqEncodeCodes =
    copy(child = newChild)
}

/** Subspace-ordered ADC fold Σ_s dt[s][codes[s]] — the kernel form of the
  * `aggregate(sequence(...))` lookup program; see [[HashUtil.adcDist]].
  */
case class AdcDistance(left: Expression, right: Expression, m: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(ArrayType(DoubleType)), ArrayType(IntegerType))
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(dt: Any, codes: Any): Any =
    HashUtil.adcDist(dt.asInstanceOf[ArrayData], codes.asInstanceOf[ArrayData], m)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val boxed = ctx.freshName("adcBoxed")
    nullSafeCodeGen(ctx, ev, (dt, codes) => s"""
      java.lang.Double $boxed = graft.functions.HashUtil.adcDist($dt, $codes, $m);
      ${ev.isNull} = $boxed == null;
      ${ev.value} = ${ev.isNull} ? 0.0 : $boxed.doubleValue();
    """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDistance =
    copy(left = newLeft, right = newRight)
}

/** Residual v − cents(cell) against literal centroids — the kernel form
  * of `zip_with(v, element_at(ca, cell+1), (x, c) => x - c)`; see
  * [[HashUtil.residualAt]].
  */
case class ResidualAt(left: Expression, right: Expression,
    cents: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def checkInputDataTypes(): TypeCheckResult = {
    val base = ArrayElemCode.check(left, "graft_residual_at")
    if (base.isFailure) base
    else if (right.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_residual_at cell argument must be int, got ${right.dataType.sql}")
  }
  private def code: Int = ArrayElemCode.code(left, "graft_residual_at")
  override protected def nullSafeEval(v: Any, cell: Any): Any =
    HashUtil.residualAt(v.asInstanceOf[ArrayData], code,
      cell.asInstanceOf[Int], cents)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode) = {
    val ref = ctx.addReferenceObj("cents", cents, "double[][]")
    val res = ctx.freshName("residual")
    nullSafeCodeGen(ctx, ev, (v, cell) => s"""
      org.apache.spark.sql.catalyst.util.ArrayData $res =
        graft.functions.HashUtil.residualAt($v, $code, $cell, $ref);
      ${ev.isNull} = $res == null;
      ${ev.value} = $res;
    """)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ResidualAt =
    copy(left = newLeft, right = newRight)
}


/** One static-method call of a JVM kernel object (`HashUtil`,
  * `CleanNumUtil`, `UrlCanonUtil`, the `*Meta` probes) as one Catalyst
  * node. Spark's `StaticInvoke` emits `Kernel.method(args)` straight into
  * whole-stage codegen (the interpreted fallback calls it by reflection),
  * casts castable arguments to their input types like the built-in
  * functions and fails analysis on the rest. `propagateNull`: a null
  * argument yields null without calling the kernel. `returnNullable`: the
  * kernel itself may return null (a boxed or object result).
  */
private[graft] object KernelCall {
  def apply(kernel: AnyRef, method: String, dataType: DataType,
      propagateNull: Boolean = true, returnNullable: Boolean = false)(
      args: (Expression, AbstractDataType)*): Expression =
    org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
      kernel.getClass, dataType, method, args.map(_._1), args.map(_._2),
      propagateNull, returnNullable)
}

/** Column-API entry points for the custom expressions and the kernels. */
object HashFunctions {
  private def lift(e: Expression): Column = ColumnBridge.column(e)
  private def expr(c: Column): Expression = ColumnBridge.expression(c)
  /** An Int kernel parameter, passed as a literal argument. */
  private def int(v: Int): (Expression, AbstractDataType) =
    org.apache.spark.sql.catalyst.expressions.Literal(v) -> IntegerType
  /** A null-in/null-out [[HashUtil]] kernel with a never-null result. */
  private def hash(method: String, dataType: DataType)(
      args: (Expression, AbstractDataType)*): Expression =
    KernelCall(HashUtil, method, dataType)(args: _*)
  private def probe(meta: AnyRef, dataType: DataType, content: Column): Column =
    lift(KernelCall(meta, "probeRow", dataType, returnNullable = true)(
      expr(content) -> BinaryType))

  private val Tokens = ArrayType(StringType)
  private val Longs = ArrayType(LongType, containsNull = false)
  /** A struct of nullable fields. */
  private def struct(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  /** A struct of non-null fields, and a never-null-element array of them. */
  private def row(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private def rows(fields: (String, DataType)*): ArrayType =
    ArrayType(row(fields: _*), containsNull = false)

  // Expression forms, shared with the SQL registry (GraftExtensions)
  private[graft] def fnv64(s: Expression): Expression =
    hash("fnv64", LongType)(s -> StringType)
  private[graft] def simhash64(features: Expression): Expression =
    hash("simhash64", LongType)(features -> Tokens)
  private[graft] def polyHash(s: Expression): Expression =
    hash("polyHash", LongType)(s -> StringType)
  private[graft] def winnow(s: Expression, k: Int, window: Int): Expression =
    hash("winnow", Longs)(s -> StringType, int(k), int(window))
  private[graft] def ngramHashes(s: Expression, n: Int): Expression =
    hash("ngramHashes", Longs)(s -> StringType, int(n))

  /** 64-bit FNV-1a of a string column. */
  def fnv64(c: Column): Column = lift(fnv64(expr(c)))
  /** 64-bit SimHash of an array<string> of features (tokens or shingles). */
  def simhash64(features: Column): Column = lift(simhash64(expr(features)))
  /** Polynomial rolling-hash fingerprint of a string column. */
  def polyFingerprint(c: Column): Column = lift(polyHash(expr(c)))
  def minhash64(features: Column, numHashes: Int): Column =
    lift(MinHash64(expr(features), numHashes))
  def dotProduct(a: Column, b: Column): Column =
    lift(DotProduct(expr(a), expr(b)))
  def squaredL2Distance(a: Column, b: Column): Column =
    lift(SquaredL2Distance(expr(a), expr(b)))
  def phraseCount(toks: Column, phrase: Seq[String]): Column =
    lift(PhraseCount(expr(toks), phrase))
  def sortedIntersectCount(a: Column, b: Column): Column =
    lift(SortedIntersectCount(expr(a), expr(b)))
  /** Winnowing fingerprint set of a string column (array<bigint>). */
  def winnowFingerprint(c: Column, k: Int = 5, window: Int = 4): Column =
    lift(winnow(expr(c), k, window))
  /** Distinct hashed n-byte grams of a string column (array<bigint>). */
  def ngramHashes(c: Column, n: Int): Column = lift(ngramHashes(expr(c), n))
  /** One-pass lowercase-whitespace tokenizer of a string column. */
  def tokenize(c: Column): Column =
    lift(hash("tokenize", ArrayType(StringType, containsNull = false))(expr(c) -> StringType))
  /** Winnowing fingerprints with byte positions: array<struct<hash,pos>>. */
  def winnowPositions(c: Column, k: Int = 5, window: Int = 4): Column =
    lift(hash("winnowPositions", rows("hash" -> LongType, "pos" -> IntegerType))(
      expr(c) -> StringType, int(k), int(window)))

  /** Video container metadata from byte parsing (MP4 `mvhd`/`tkhd`, MKV
    * EBML) — see [[ContainerMeta]]. Null for payloads that are neither;
    * null fields for headers that carry only some of the metadata.
    */
  def videoProbe(content: Column): Column = probe(ContainerMeta, struct(
    "container" -> StringType, "width" -> IntegerType,
    "height" -> IntegerType, "duration_ms" -> LongType), content)

  /** EXIF metadata from byte parsing of a JPEG payload (APP1 TIFF walk,
    * both byte orders) — see [[ExifMeta]]. Null for payloads without a
    * parseable Exif segment; null fields for absent tags.
    */
  def exifProbe(content: Column): Column = probe(ExifMeta, struct(
    "byte_order" -> StringType, "orientation" -> IntegerType,
    "width" -> IntegerType, "height" -> IntegerType,
    "make" -> StringType, "datetime" -> StringType), content)

  /** WAV container metadata from byte parsing (RIFF chunk walk, `fmt `/
    * `data` headers) — see [[AudioMeta]]. Null for non-WAVE payloads.
    */
  def wavProbe(content: Column): Column = probe(AudioMeta, struct(
    "channels" -> IntegerType, "sample_rate" -> IntegerType,
    "bits_per_sample" -> IntegerType, "data_bytes" -> LongType,
    "duration_ms" -> LongType), content)

  /** PNG metadata from byte parsing of the chunk stream (IHDR fields,
    * first tEXt, chunk census; IHDR CRC verified) — see [[PngMeta]].
    * Null for payloads that aren't spec-valid PNG.
    */
  def pngProbe(content: Column): Column = probe(PngMeta, struct(
    "width" -> IntegerType, "height" -> IntegerType,
    "bit_depth" -> IntegerType, "color_type" -> IntegerType,
    "interlace" -> IntegerType, "n_chunks" -> IntegerType,
    "text_keyword" -> StringType, "text_value" -> StringType), content)

  /** MP3 metadata from byte parsing (ID3v2 envelope + first MPEG-1
    * Layer III frame header) — see [[Mp3Meta]]. Null for payloads
    * without a parseable frame.
    */
  def mp3Probe(content: Column): Column = probe(Mp3Meta, struct(
    "id3_version" -> StringType, "id3_size" -> LongType,
    "bitrate_kbps" -> IntegerType, "sample_rate" -> IntegerType,
    "channel_mode" -> StringType, "frame_bytes" -> IntegerType), content)

  /** 64-bit perceptual difference-hash of a binary image payload — see
    * [[HashUtil.dhash64]]; null for empty payloads.
    */
  def dhash64(content: Column): Column =
    lift(KernelCall(HashUtil, "dhash64", LongType, returnNullable = true)(
      expr(content) -> BinaryType))

  /** Hamming distance between two 64-bit hashes (built-in bit_count). */
  def hammingDistance64(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.bit_count(a.bitwiseXOR(b))

  def nearestCentroid(v: Column, cents: Array[Array[Double]]): Column =
    lift(NearestCentroid(expr(v), cents))
  def nearestCodeBySub(sv: Column, sub: Column,
      cbs: Array[Array[Array[Double]]]): Column =
    lift(NearestCodeBySub(expr(sv), expr(sub), cbs))
  def pqEncodeCodes(v: Column, dsub: Int,
      cbs: Array[Array[Array[Double]]]): Column =
    lift(PqEncodeCodes(expr(v), dsub, cbs))
  def adcDistance(dt: Column, codes: Column, m: Int): Column =
    lift(AdcDistance(expr(dt), expr(codes), m))
  def residualAt(v: Column, cell: Column, cents: Array[Array[Double]]): Column =
    lift(ResidualAt(expr(v), expr(cell), cents))

  /** Sorted n-gram run-length stats struct<top,dup> of an array<string>
    * of tokens — see [[HashUtil.gramRunStats]].
    */
  def gramRunStats(toks: Column, n: Int): Column = {
    require(n >= 1, "gramRunStats needs n >= 1")
    lift(hash("gramRunStats", row("top" -> LongType, "dup" -> LongType))(
      expr(toks) -> Tokens, int(n)))
  }

  /** Synthetic-line duplication census struct<n_lines,n_distinct,
    * sum_len,distinct_sum_len> — see [[HashUtil.lineDupStats]].
    */
  def lineDupStats(toks: Column, lineLen: Int): Column = {
    require(lineLen >= 1, "lineDupStats needs lineLen >= 1")
    lift(hash("lineDupStats", row("n_lines" -> IntegerType,
      "n_distinct" -> IntegerType, "sum_len" -> LongType,
      "distinct_sum_len" -> LongType))(expr(toks) -> Tokens, int(lineLen)))
  }

  /** Distinct word k-shingles of an array<string> of tokens; never null
    * (see [[HashUtil.wordShingles]]).
    */
  def distinctWordShingles(toks: Column, k: Int): Column = {
    require(k >= 1, "wordShingles needs k >= 1")
    lift(KernelCall(HashUtil, "wordShingles", ArrayType(StringType),
      propagateNull = false)(expr(toks) -> Tokens, int(k)))
  }
  def minhash64OrNull(features: Column, numHashes: Int): Column =
    lift(MinHash64OrNull(expr(features), numHashes))

  /** LSH band keys array<struct<band,bucket>> of a minhash signature;
    * never null (see [[HashUtil.lshBandKeys]]).
    */
  def lshBandKeys(sig: Column, numBands: Int, rowsPerBand: Int): Column = {
    require(numBands >= 1 && rowsPerBand >= 1, "lshBandKeys needs positive banding")
    lift(KernelCall(HashUtil, "lshBandKeys",
      rows("band" -> IntegerType, "bucket" -> LongType), propagateNull = false)(
      expr(sig) -> ArrayType(LongType), int(numBands), int(rowsPerBand)))
  }

  /** Per-document term frequencies array<struct<term,tf>> — see
    * [[HashUtil.termCounts]].
    */
  def termCounts(toks: Column): Column =
    lift(hash("termCounts", rows("term" -> StringType, "tf" -> IntegerType))(
      expr(toks) -> Tokens))

  /** Content-defined chunk stats array<struct<c_tokens,ch>> — see
    * [[HashUtil.cdcChunkStats]].
    */
  def cdcChunkStats(toks: Column, modulus: Int): Column = {
    require(modulus >= 2, "cdcChunkStats needs modulus >= 2")
    lift(hash("cdcChunkStats", rows("c_tokens" -> LongType, "ch" -> LongType))(
      expr(toks) -> Tokens, int(modulus)))
  }

  /** Per-document hashed-bucket frequencies array<struct<bucket,cnt>> —
    * see [[HashUtil.bucketCounts]].
    */
  def bucketCounts(toks: Column, buckets: Int): Column = {
    require(buckets >= 1, "bucketCounts needs buckets >= 1")
    lift(hash("bucketCounts", rows("bucket" -> LongType, "cnt" -> LongType))(
      expr(toks) -> Tokens, int(buckets)))
  }

  /** Positional n-gram XXH64 hashes array<bigint> of an array<string> of
    * tokens — see [[HashUtil.posGramHashes]].
    */
  def posGramHashes(toks: Column, n: Int): Column = {
    require(n >= 1, "posGramHashes needs n >= 1")
    lift(hash("posGramHashes", Longs)(expr(toks) -> Tokens, int(n)))
  }
}
