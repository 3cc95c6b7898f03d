package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Numeric cleaning + unit-conversion expressions for the weather ETL.
  *
  * Re-expresses the reference's per-cell Python lambdas
  * (`/root/reference/etl_meteo.py:41-46,53-59,92-105`) as native Column
  * expressions so they run inside whole-stage codegen — no UDFs. All
  * functions are null-preserving (null in → null out) to match the
  * reference's `pd.isna` gates and `errors='coerce'` semantics.
  *
  * r12: the clean+validate+parse pipeline is one codegen'd kernel call
  * ([[CleanNumUtil]]) instead of 3 regex executions per cell (the ETL
  * transform ran 15+ regex matches per CSV row — measured as the
  * dominant cost of the fleet scan). The regex formulation stays in
  * [[graft.GraftExtensions]]' SQL registry as the executable spec;
  * GraftExtensionsSpec cross-checks kernel vs regex on every run.
  */
object CleanValue {

  /** Parse a unit-suffixed, decimal-comma numeric string to double; null on
    * failure. Replicates `clean_value` (`etl_meteo.py:41-46`): the ","→"."
    * replacement runs BEFORE suffix stripping, and unparseable values
    * (including "NaN" / "") become null rather than erroring. The numeric
    * validation guard makes the parse conf-independent (same result whether
    * or not ANSI mode is on). One kernel call per cell — see
    * [[CleanNumUtil.cleanValue]] for the regex-equivalence argument.
    */
  def cleanValue(c: Column): Column = parse("cleanValue", c)

  /** Parse an already-clean numeric string; ''/null → null; junk → null.
    * Replicates the JSON-path falsy gate `float(x) if x else None`
    * (`etl_meteo.py:98-100`) — note `"0"` is truthy in Python so zero
    * survives, which the numeric guard also preserves ("" and junk fail
    * the pattern → null; no stripping happens on this path).
    */
  def numOrNull(c: Column): Column = parse("numOrNull", c)

  /** One [[CleanNumUtil]] kernel call: null in → null out, and null when
    * the kernel rejects the cell.
    */
  private def parse(kernel: String, c: Column): Column =
    ColumnBridge.column(KernelCall(CleanNumUtil, kernel, DoubleType,
      returnNullable = true)(ColumnBridge.expression(c.cast("string")) -> StringType))

  /** `float(x or 0)` semantics (`etl_meteo.py:92`): null/''/absent → 0.0.
    * A non-empty UNPARSEABLE string coerces to NULL, not 0 — the
    * reference's float() RAISES there, and per-row raising isn't an
    * option in a distributed scan; recording junk as a legitimate 0
    * measurement would fabricate data the audits can never see, while
    * null keeps the bad cell visible (null-count report, F6).
    */
  def numOrZero(c: Column): Column = {
    val s = c.cast("string")
    when(s.isNull || s === "", lit(0.0)).otherwise(numOrNull(c))
  }

  // Unit conversions (etl_meteo.py:53-57,92) — plain arithmetic; Catalyst
  // constant-folds the factors and propagates nulls natively.
  def fahrenheitToCelsius(c: Column): Column = (c - lit(32.0)) * lit(5.0) / lit(9.0)
  def inHgToHpa(c: Column): Column          = c * lit(33.8638)
  def mphToMs(c: Column): Column            = c * lit(0.44704)
  def inchesToMm(c: Column): Column         = c * lit(25.4)
  def kmhToMs(c: Column): Column            = c / lit(3.6)
}

/** Byte-level kernels for the clean_value pipeline, written so generated
  * Java can call them as static methods from whole-stage codegen.
  */
object CleanNumUtil {

  /** One-pass equivalent of
    * `regexp_replace(regexp_replace(s, ",", "."), "\\s|°F|mph|in|w/m²|%", "")`
    * followed by the `^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$` guard and a
    * string→double cast; null when the guard fails.
    *
    * Equivalence to the regex formulation (kept executable in
    * GraftExtensions' `graft_clean_value`, cross-checked by spec):
    * - The strip alternation's branches start with DISJOINT characters
    *   (whitespace, '°', 'm', 'i', 'w', '%'), so java.util.regex's
    *   leftmost-first global replace degenerates to "at each position,
    *   consume the one branch that matches, else keep the char" — exactly
    *   this scanner. Java `\s` is ASCII-only: [ \t\n\x0B\f\r].
    * - The ","→"." pre-pass folds into the same scan because no strip
    *   branch contains ',' or '.', so the replacement can neither create
    *   nor destroy a strip match.
    * - Scanning UTF-8 bytes instead of UTF-16 chars is safe: ASCII bytes
    *   never occur inside a multi-byte sequence, and '°'/'²' are matched
    *   as their full 2-byte sequences (C2 B0 / C2 B2).
    * - For guard-passing strings (plain ASCII numerics), Spark's
    *   non-ANSI string→double cast is Double.parseDouble.
    */
  def cleanValue(s: UTF8String): java.lang.Double = {
    val b = s.getBytes
    val n = b.length
    val out = new Array[Byte](n) // cleaning never lengthens the string
    var i = 0
    var o = 0
    while (i < n) {
      val c = b(i)
      if (c == ',') { out(o) = '.'; o += 1; i += 1 }
      else if (c == 0x20 || (c >= 0x09 && c <= 0x0D)) i += 1 // \s
      else if (c == 0xC2.toByte && i + 2 < n && b(i + 1) == 0xB0.toByte
          && b(i + 2) == 'F') i += 3 // °F
      else if (c == 'm' && i + 2 < n && b(i + 1) == 'p' && b(i + 2) == 'h') i += 3 // mph
      else if (c == 'i' && i + 1 < n && b(i + 1) == 'n') i += 2 // in
      else if (c == 'w' && i + 4 < n && b(i + 1) == '/' && b(i + 2) == 'm'
          && b(i + 3) == 0xC2.toByte && b(i + 4) == 0xB2.toByte) i += 5 // w/m²
      else if (c == '%') i += 1
      else { out(o) = c; o += 1; i += 1 }
    }
    parseNumeric(out, o)
  }

  /** `numOrNull`: parse without any stripping — ''/junk → null, exactly
    * the `s <> '' AND s RLIKE numeric` + cast formulation (the empty
    * string fails the pattern anyway, so one guard serves both).
    */
  def numOrNull(s: UTF8String): java.lang.Double = {
    val b = s.getBytes
    parseNumeric(b, b.length)
  }

  /** Validate `^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$` over ASCII bytes
    * (regex `\d` is ASCII-only by default), then Double.parseDouble —
    * bit-identical to Spark's non-ANSI string→double cast on the
    * guard-passing subset.
    */
  private def parseNumeric(b: Array[Byte], n: Int): java.lang.Double = {
    if (n == 0) return null
    var i = 0
    if (b(0) == '+' || b(0) == '-') i = 1
    var intDigits = 0
    while (i < n && b(i) >= '0' && b(i) <= '9') { i += 1; intDigits += 1 }
    var fracDigits = 0
    if (i < n && b(i) == '.') {
      i += 1
      while (i < n && b(i) >= '0' && b(i) <= '9') { i += 1; fracDigits += 1 }
    }
    // branch 1 (\d+\.?\d*) needs >=1 int digit; branch 2 (\.\d+) needs
    // >=1 frac digit — "", ".", "+", "-." all fail here
    if (intDigits == 0 && fracDigits == 0) return null
    if (i < n && (b(i) == 'e' || b(i) == 'E')) {
      i += 1
      if (i < n && (b(i) == '+' || b(i) == '-')) i += 1
      var expDigits = 0
      while (i < n && b(i) >= '0' && b(i) <= '9') { i += 1; expDigits += 1 }
      if (expDigits == 0) return null
    }
    if (i != n) return null
    java.lang.Double.valueOf(java.lang.Double.parseDouble(
      new String(b, 0, n, java.nio.charset.StandardCharsets.US_ASCII)))
  }
}
