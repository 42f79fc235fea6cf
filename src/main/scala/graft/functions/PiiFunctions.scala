package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** PII scanning and redaction for training-corpus hygiene: detect and
  * mask email addresses, IPv4 addresses and phone numbers before text
  * reaches a training mix (the C4/CCNet-style scrub step).
  *
  * Pure `Column` algebra over codegen'd built-ins (`regexp_count`,
  * `regexp_replace`) with DuckDB-SQL twins — patterns are kept to the
  * common subset of Java regex and RE2 (no lookaround, no backrefs) so
  * one pattern string drives both engines identically.
  *
  * Scale shape: a per-row map-only projection — no shuffle, survives any
  * corpus size by partition parallelism alone.
  */
object PiiFunctions {

  /** (name, pattern, replacement tag) in redaction order. Order matters
    * for overlapping matches: ipv4 runs before phone, so a dotted IP is
    * already `<IP>` when the phone pass sees the text (a dotted local
    * phone `555.123.4567` and a dotted IP overlap syntactically; the
    * per-class raw counts count each class independently).
    *
    * Phone covers the shapes a real scrubber meets, not just the
    * `+CC-NNN-N…` fixture: international with optional `-`/`.`/space
    * separators and an optional parenthesized area code
    * (`+31 (0)20 123 4567`, `+1.555.0100`), and local forms with a
    * parenthesized area code or at least two separator-joined digit
    * groups (`(020) 1234 5678`, `555-123-4567`) — the two-separator
    * floor keeps bare digit runs (ids, years, zips) unredacted. */
  val patterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<IP>"),
    ("phone",
     "(\\+[0-9]{1,3}[-. ]?(\\([0-9]{1,4}\\)[-. ]?)?[0-9]{2,4}[-. ]?[0-9]{1,10}" +
       "|(\\([0-9]{2,4}\\)[-. ]?|[0-9]{2,4}[-. ])[0-9]{3,4}[-. ][0-9]{2,6})",
     "<PHONE>"))

  /** Required literal per class: a row without it cannot match, so the
    * expensive regex pass is skipped behind a codegen'd `contains`.
    * Semantics-preserving by construction (the email pattern demands a
    * literal '@') and mirrored in the SQL twin. This is a measured fix,
    * not hygiene: on the salted sf1 corpus every token matches the
    * email local-part class end-to-end before failing at '@', and Java's
    * backtracking turns that into ~11 s of the 16 s q104 sweep leg
    * (DiagPii A/B; docs/SCALING.md r11) — '@'-free rows skip it all. */
  private val requiredLiteral: Map[String, String] = Map("email" -> "@")

  /** Per-class match count columns, aliased `n_<name>`. */
  def counts(text: Column): Seq[Column] =
    patterns.map { case (name, re, _) =>
      val c = regexp_count(text, lit(re))
      requiredLiteral.get(name)
        .map(g => when(contains(text, lit(g)), c).otherwise(lit(0)))
        .getOrElse(c)
        .as(s"n_$name")
    }

  def countsSql(e: String): Seq[(String, String)] =
    patterns.map { case (name, re, _) =>
      val raw = s"len(regexp_extract_all($e, '$re'))"
      s"n_$name" -> requiredLiteral.get(name)
        .map(g => s"(CASE WHEN strpos($e, '$g') > 0 THEN $raw ELSE 0 END)")
        .getOrElse(raw)
    }

  /** One-call native scan: `struct<n_email, n_ipv4, n_phone, redacted>`
    * with exactly the [[counts]]+[[redact]] semantics, computed by
    * [[graft.plans.PiiScan]]'s linear byte scanners instead of six
    * backtracking-regex passes (r11 verdict item 1: Java's regex engine
    * left q104 5.9× DuckDB's RE2 at sf1; the native scan is engine-bound
    * no more). Match-set equality with the regex chain is pinned by
    * `PiiScanSpec`'s differential fuzz against java.util.regex itself;
    * the SQL twins ([[countsSql]]/[[redactSql]]) are unchanged, so the
    * DuckDB oracle still states the declarative regex definition.
    * [[graft.plans.GraftExtensions]] injects the function into every
    * session. */
  def scan(text: Column): Column = call_function("pii_scan", text)

  /** Text with every PII match replaced by its class tag. */
  def redact(text: Column): Column =
    patterns.foldLeft(text) { case (c, (name, re, tag)) =>
      val r = regexp_replace(c, lit(re), lit(tag))
      requiredLiteral.get(name)
        .map(g => when(contains(c, lit(g)), r).otherwise(c))
        .getOrElse(r)
    }

  def redactSql(e: String): String =
    patterns.foldLeft(e) { case (s, (name, re, tag)) =>
      val r = s"regexp_replace($s, '$re', '$tag', 'g')"
      requiredLiteral.get(name)
        .map(g => s"(CASE WHEN strpos($s, '$g') > 0 THEN $r ELSE $s END)")
        .getOrElse(r)
    }
}
