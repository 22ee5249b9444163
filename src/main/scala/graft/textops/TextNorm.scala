package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unicode text normalization — the first transform of any web-text
  * ingestion pipeline (before hashing, dedup keys, or LM scoring): crawl
  * text arrives with decomposed accents, NBSP from HTML entities, zero-width
  * junk, CR line endings and run-on spaces, and every downstream exact-match
  * op (dedup_exact, line_dedup, decontaminate) silently fragments unless the
  * bytes are canonical first.
  *
  * Contract (mirrored exactly by the DuckDB oracle's
  * `nfc_normalize` + replace/regexp chain):
  *   1. Unicode NFC (canonical composition — e + U+0301 becomes U+00E9);
  *   2. U+00A0 (NBSP) to ASCII space;
  *   3. drop U+200B (ZWSP), U+FEFF (BOM/ZWNBSP), and CR;
  *   4. collapse runs of ASCII spaces to one;
  *   5. trim leading/trailing ASCII space.
  * Total (never throws), idempotent, null-safe at the Expression layer.
  *
  * Scale shape: pure map-side scalar work — no shuffle, no state; the
  * `text_normalize` kernel ([[graft.expr.Kernel.TextNormalize]]) keeps it inside
  * whole-stage codegen. NFC uses the JDK's `java.text.Normalizer` (the
  * Unicode canonical composition pairs are stable for practical web text);
  * the cleanup pass is a single StringBuilder walk with an isNormalized
  * fast path, so the common already-clean ASCII document costs one scan
  * and zero allocation beyond the builder.
  */
object TextNorm {

  def normalize(s: String): String = {
    if (s == null) return null
    val nfc =
      if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) s
      else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
    val sb = new java.lang.StringBuilder(nfc.length)
    var i = 0
    var pendingSpace = false
    var emitted = false
    while (i < nfc.length) {
      val c0 = nfc.charAt(i)
      val c = if (c0 == '\u00A0') ' ' else c0
      if (c == '\u200B' || c == '\uFEFF' || c == '\r') {
        // dropped
      } else if (c == ' ') {
        pendingSpace = true // collapse runs; defer so trailing spaces trim away
      } else {
        if (pendingSpace && emitted) sb.append(' ')
        pendingSpace = false
        emitted = true
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** Deterministic messy-text fixture over `documents` (FIXTURES.md family):
    * doc_id%4==0 decomposes every 'e' to e+U+0301; ==1 turns spaces into
    * NBSP; ==2 adds a leading CR, doubles spaces, and appends two trailing
    * spaces; ==3 wraps the text in ZWSP...BOM. Same arithmetic (and the
    * same DECOMPOSED accent form, 'e'||chr(769)) as the oracle's CTE.
    */
  def plantMessy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 4 === 0, regexp_replace(col("text"), "e", "e\u0301"))
        .when(col("doc_id") % 4 === 1, regexp_replace(col("text"), " ", "\u00A0"))
        .when(col("doc_id") % 4 === 2,
          concat(lit("\r"), regexp_replace(col("text"), " ", "  "), lit("  ")))
        .otherwise(concat(lit("\u200B"), col("text"), lit("\uFEFF"))).as("raw"))
}
