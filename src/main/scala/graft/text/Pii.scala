package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.functions.{PiiCount, PiiRedact, TextKernels}

/** PII detection and redaction — the scrubbing stage every training-data
  * pipeline runs before a corpus ships: count and mask emails, phone
  * numbers, and IPv4 addresses with typed placeholder tokens.
  *
  * An extension past the reference (no text pipeline there); the shape
  * follows the public corpus-cleaning recipes (C4/Gopher-style regex
  * scrubbing). The column functions are one Catalyst kernel each
  * ([[graft.functions.PiiRedact]], [[graft.functions.PiiCount]]; no UDF),
  * so the scan stays in whole-stage codegen and the operator is a pure
  * per-row map (no shuffle at any scale).
  *
  * Guards: a pass runs its precompiled pattern only if the text holds a
  * byte that every match of the pattern contains — `@` for emails, `+`
  * for phone numbers, `.` for IPv4 addresses. UTF-8 continuation bytes
  * are never ASCII, so the byte scan is exact; a text no pass changes
  * comes back as the same string, with no decode and no re-encode.
  *
  * The patterns are restricted to syntax with identical semantics under
  * Java regex (Spark) and RE2 (DuckDB): character classes, bounded
  * repetition, no backrefs. The one exception is the word boundary. RE2's
  * `\b` is ASCII (word chars are [A-Za-z0-9_]); Java's, on JDK 17, counts
  * every Unicode letter, so `\b` before `1.2.3.4` in `é1.2.3.4` holds in
  * DuckDB and fails on the JVM. The JVM IPv4 pattern ([[Ipv4JvmRe]])
  * therefore spells the boundary as ASCII lookarounds, which is exactly
  * RE2's `\b` next to a digit, and the DuckDB mirrors keep [[Ipv4Re]]:
  * the two strings differ on purpose and match the same spans
  * (TextStatsSpec pins them on non-ASCII neighbours). That is what keeps
  * the operator hash-gated against the oracle.
  *
  * Redaction order is pinned (email → phone → ipv4) on both sides:
  * placeholder tokens contain no digits or dots, so an earlier pass never
  * manufactures a later pass's match, but a fixed order makes the
  * composition deterministic by construction rather than by argument.
  */
object Pii {

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+\\d{1,3}-\\d{2,4}-\\d{3,4}-\\d{4}"
  /** The RE2 (DuckDB) IPv4 pattern; `\b` is ASCII there. */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** [[Ipv4Re]] for `java.util.regex`: RE2's ASCII `\b` next to a digit
    * spelled as lookarounds, since Java's `\b` treats non-ASCII letters
    * as word chars. */
  val Ipv4JvmRe =
    "(?<![A-Za-z0-9_])\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}(?![A-Za-z0-9_])"

  private def count(text: Column, pass: Int): Column =
    ColumnBridge.column(PiiCount(ColumnBridge.expression(text), pass))

  /** Non-overlapping match counts, BIGINT (the oracle's len() type). */
  def emailCount(text: Column): Column = count(text, TextKernels.EmailPass)
  def phoneCount(text: Column): Column = count(text, TextKernels.PhonePass)
  def ipv4Count(text: Column): Column = count(text, TextKernels.Ipv4Pass)

  /** Masked text: every PII span replaced by its typed placeholder, in the
    * pinned pass order. */
  def redact(text: Column): Column =
    ColumnBridge.column(PiiRedact(ColumnBridge.expression(text)))

  /** The same three passes as DuckDB SQL over a text expression. */
  def redactSql(text: String): String =
    s"regexp_replace(regexp_replace(regexp_replace($text, " +
      s"'$EmailRe', '<EMAIL>', 'g'), " +
      s"'$PhoneRe', '<PHONE>', 'g'), " +
      s"'$Ipv4Re', '<IP>', 'g')"

  /** DuckDB match count over a text expression. */
  def countSql(text: String, re: String): String =
    s"CAST(len(regexp_extract_all($text, '$re')) AS BIGINT)"
}
