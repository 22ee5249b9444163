package graft.webtext

import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mojibake repair — undo the single most common real-crawl encoding fault:
  * UTF-8 bytes decoded as Latin-1 somewhere upstream ("cafÃ©" for "café"),
  * the core case of ftfy's fix_encoding. Charset sniffing at the ingestion
  * edge ([[Charset]]) catches mislabeled DOCUMENTS; this catches text that
  * was already damaged before we ever saw it (double-encoded feeds, legacy
  * databases) and would otherwise poison dedup keys and LM training alike.
  *
  * Detection is the round-trip itself, not a heuristic: if every char is
  * <= U+00FF (so the text IS a Latin-1 byte image) and those bytes form
  * STRICTLY valid UTF-8 that differs from the input, the only plausible
  * origin is the double-decode — genuine Latin-1 prose ("café" itself) has
  * bare 0xE9-type bytes that strict UTF-8 rejects, so it passes through
  * untouched. Pure ASCII short-circuits on the first scan, making the
  * overwhelmingly common crawl row a single pass with zero allocation.
  * Total: never throws, unrepairable input returns unchanged.
  */
object Mojibake {

  /** Static repair kernel — the `mojibake_repair` codegen kernel
    * ([[graft.expr.Kernel.MojibakeRepair]]) calls it, so the two surfaces
    * cannot drift. */
  def repair(s: String): String = {
    if (s == null) return null
    var i = 0
    var ascii = true
    while (i < s.length) {
      val c = s.charAt(i)
      if (c > 0xFF) return s // not a Latin-1 byte image: leave it alone
      if (c >= 0x80) ascii = false
      i += 1
    }
    if (ascii) return s
    val bytes = new Array[Byte](s.length)
    i = 0
    while (i < s.length) { bytes(i) = s.charAt(i).toByte; i += 1 }
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      val out = dec.decode(ByteBuffer.wrap(bytes)).toString
      if (out == s) s else out
    } catch {
      case _: CharacterCodingException => s // real Latin-1 text, not mojibake
    }
  }

  private val CleanPrefix = "café naïve résumé "

  /** The planted prefix after the upstream damage being repaired: UTF-8
    * bytes of [[CleanPrefix]] mis-decoded as Latin-1. */
  private val MangledPrefix = new String(
    CleanPrefix.getBytes(StandardCharsets.UTF_8), StandardCharsets.ISO_8859_1)

  /** Deterministic fixture over the pure-ASCII documents corpus: doc_id%10==0
    * gets the MANGLED non-ASCII prefix (must repair), doc_id%10==5 gets the
    * CLEAN non-ASCII prefix (real accents — must pass through), the rest stay
    * ASCII (fast path). */
  def plantMojibake(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, concat(lit(MangledPrefix), col("text")))
        .when(col("doc_id") % 10 === 5, concat(lit(CleanPrefix), col("text")))
        .otherwise(col("text")).as("text"))
}
