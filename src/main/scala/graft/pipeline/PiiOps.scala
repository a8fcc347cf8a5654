package graft.pipeline

import java.util.regex.Pattern

/** PII detection and redaction over document text — a standard stage of
  * published training-data pipelines (Dolma's PII tagger, BigScience
  * ROOTS's PII filtering, CCNet derivatives): find personally
  * identifying spans and rewrite them to typed placeholders before the
  * corpus ships. Reference behavior surface: the reference extracts
  * party/lawyer NAMES on purpose (that is its product); this operator
  * covers the machine-readable identifier classes a web corpus must
  * scrub — emails, phone numbers, IPv4 addresses, payment-card numbers.
  *
  * The patterns are fixed, documented, and deliberately RE2-compatible
  * (no lookaround, no backreferences) so the SAME pattern text runs in
  * Spark (java.util.regex), in the DuckDB oracle (RE2), and in any
  * downstream audit tooling:
  *
  *  - email: `local@domain.tld` with the conventional local charset;
  *  - phone: NANP-style `NNN sep NNN sep NNNN` with separators required
  *    (a contiguous 10-digit run is NOT claimed — that avoids eating
  *    the inside of longer identifiers and keeps `\b` semantics exact);
  *  - ipv4: dotted quad with per-octet 0-255 range enforcement;
  *  - card: 13-19 contiguous digits, or the conventional 4-4-4-4
  *    grouping with a space/dash separator. Redaction replaces ALL
  *    card-shaped runs (privacy over-approximation, the Dolma policy);
  *    DETECTION additionally reports how many pass the ISO/IEC 7812
  *    Luhn check (`luhn_check`, a Spark builtin) — the audit column an
  *    operator uses to tell real card leaks from random digit runs.
  *
  * Redaction semantics (pinned so a SQL replay is exact): the four
  * patterns are applied SEQUENTIALLY — email, card, ipv4, phone — each
  * as a global leftmost replace over the previous result, placeholders
  * `<EMAIL> <CARD> <IP> <PHONE>`. Identical to a chain of four
  * `regexp_replace(..., 'g')` calls.
  *
  * Shape at 100 TB: pure per-row kernels — predicate-pushable,
  * shuffle-free, surfaced as a codegen'd expression
  * ([[graft.plans.PiiExprs]]) so the scrub rides the scan stage.
  */
object PiiOps {

  val EmailRe: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe: String = "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b"
  val Ipv4Re: String =
    "\\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])" +
      "(?:\\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b"
  val CardRe: String =
    "\\b(?:[0-9]{4}[- ]){3}[0-9]{4}\\b|\\b[0-9]{13,19}\\b"

  // compiled once per JVM; exposed so the fused pii_stats kernel
  // (graft.plans.PiiExprs.statsU) counts with the EXACT same pattern objects
  val emailPattern: Pattern = Pattern.compile(EmailRe)
  val phonePattern: Pattern = Pattern.compile(PhoneRe)
  val ipv4Pattern: Pattern = Pattern.compile(Ipv4Re)
  val cardPattern: Pattern = Pattern.compile(CardRe)
  private def email = emailPattern
  private def phone = phonePattern
  private def ipv4 = ipv4Pattern
  private def card = cardPattern

  /** Typed-placeholder redaction; see the object doc for the exact
    * (SQL-replayable) sequential semantics. Total: null → null. */
  def redact(s: String): String = {
    if (s == null) return null
    var cur = email.matcher(s).replaceAll("<EMAIL>")
    cur = card.matcher(cur).replaceAll("<CARD>")
    cur = ipv4.matcher(cur).replaceAll("<IP>")
    phone.matcher(cur).replaceAll("<PHONE>")
  }

  /** ISO/IEC 7812 Luhn checksum over a digits-only string (used by
    * tests; the distributed path uses Spark's builtin `luhn_check`). */
  def luhn(digits: String): Boolean = {
    if (digits == null || digits.isEmpty) return false
    var sum = 0
    var alt = false
    var i = digits.length - 1
    while (i >= 0) {
      val c = digits.charAt(i)
      if (c < '0' || c > '9') return false
      var n = c - '0'
      if (alt) { n *= 2; if (n > 9) n -= 9 }
      sum += n
      alt = !alt
      i -= 1
    }
    sum % 10 == 0
  }
}
