package graft.webtext

import org.apache.spark.sql.{DataFrame, Dataset}
import java.nio.charset.StandardCharsets.UTF_8

/** WARC/1.0 ingestion — the record format Common-Crawl ships its raw crawl
  * in, and therefore the format the north-rule `pages` table is loaded FROM
  * at 10^12-document scale. Two halves:
  *
  *   - synthesis ([[segmentsFromDocuments]]): the sandbox stand-in for a
  *     crawl's segment files — deterministic WARC response records around
  *     the [[HtmlGen]] pages, concatenated `RecordsPerSegment` to a blob
  *     (real segments are ~1 GB `warc.gz` files; the blob row is this
  *     engine's file-split unit).
  *   - parsing ([[parse]]): a single forward walk over each blob — version
  *     magic, header block to the blank line, `Content-Length` payload
  *     slice, record separator. Never throws: a corrupt header, bad length,
  *     or truncated payload drops the record and STOPS the walk (crawl
  *     tails are routinely cut mid-record), emitting everything parsed
  *     before the damage — same degrade contract as the PNG frame walk.
  *
  * Scale shape: parsing is mapPartitions at segment grain, O(bytes) per
  * segment with memory bounded by the largest single record (the payload
  * slice), zero shuffle. Payload bytes are never scanned for the magic —
  * `Content-Length` skips them — so hostile page content cannot desync the
  * walk. `WARC-Date` is carried as its ISO-8601 STRING form end-to-end
  * (TZ-free; CLAUDE.md forbids NTZ casts on oracle-checked paths).
  */
object Warc {

  val RecordsPerSegment = 16

  private val DateFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)

  /** ISO-8601 UTC second-grain render of an epoch-millis instant. */
  def warcDate(epochMs: Long): String =
    DateFmt.format(java.time.Instant.ofEpochMilli(epochMs))

  /** One WARC/1.0 record with explicit type + ISO date: version line, named
    * headers, blank line, payload, CRLF CRLF separator. */
  private def recordBytes(warcType: String, url: String, dateIso: String,
                          payload: Array[Byte]): Array[Byte] = {
    val header =
      "WARC/1.0\r\n" +
        s"WARC-Type: $warcType\r\n" +
        s"WARC-Target-URI: $url\r\n" +
        s"WARC-Date: $dateIso\r\n" +
        s"Content-Length: ${payload.length}\r\n" +
        "\r\n"
    val hb = header.getBytes(UTF_8)
    val out = new Array[Byte](hb.length + payload.length + 4)
    System.arraycopy(hb, 0, out, 0, hb.length)
    System.arraycopy(payload, 0, out, hb.length, payload.length)
    out(out.length - 4) = '\r'; out(out.length - 3) = '\n'
    out(out.length - 2) = '\r'; out(out.length - 1) = '\n'
    out
  }

  /** One WARC/1.0 response record. */
  def record(url: String, epochMs: Long, payload: Array[Byte]): Array[Byte] =
    recordBytes("response", url, warcDate(epochMs), payload)

  /** documents -> (segment_id, warc): `perSegment` records per blob in
    * doc_id order (doc_id / perSegment buckets). The groupByKey shuffle is
    * the synthesis side only — the parse path is shuffle-free. */
  def segmentsFromDocuments(docs: DataFrame, perSegment: Int = RecordsPerSegment): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        (id / perSegment, id,
          record(pageplus.data.PagesFromDocuments.url(id), id * 3600 * 1000L,
            HtmlGen.page(id, t).getBytes(UTF_8)))
      }
      .groupByKey(_._1)
      .mapGroups { (seg, it) =>
        val recs = it.toArray.sortBy(_._2)
        val buf = new Array[Byte](recs.iterator.map(_._3.length).sum)
        var off = 0
        recs.foreach { r => System.arraycopy(r._3, 0, buf, off, r._3.length); off += r._3.length }
        (seg, buf)
      }
      .toDF("segment_id", "warc")
  }

  final case class WarcRecord(segment_id: Long, url: String, warc_date: String,
                              content_length: Long, html: Array[Byte])

  private val Magic = "WARC/1.0\r\n".getBytes(UTF_8)

  private def startsWith(b: Array[Byte], at: Int, pat: Array[Byte]): Boolean = {
    if (at + pat.length > b.length) return false
    var i = 0
    while (i < pat.length) { if (b(at + i) != pat(i)) return false; i += 1 }
    true
  }

  /** Index of CRLF CRLF at-or-after `from`, or -1. */
  private def headerEnd(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n') return i
      i += 1
    }
    -1
  }

  /** One well-formed record found by [[walk]]: it starts at byte `start`,
    * its payload is `clen` bytes from `payloadStart`, and it ends (separator
    * included) at `end`. */
  private final case class Frame(start: Int, payloadStart: Int, end: Int,
                                 url: String, date: String, clen: Long)

  /** The one record walker: frames of `blob` in order, until damage stops it
    * (bad magic, no header end, a missing header, a length past the blob or
    * a missing CRLF CRLF separator drops that record and everything after). */
  private def walk(blob: Array[Byte]): Vector[Frame] = {
    val out = Vector.newBuilder[Frame]
    var i = 0
    var ok = true
    while (ok && i < blob.length) {
      if (!startsWith(blob, i, Magic)) ok = false
      else {
        val he = headerEnd(blob, i + Magic.length)
        if (he < 0) ok = false
        else {
          var url: String = null; var date: String = null; var clen = -1L
          new String(blob, i + Magic.length, he - i - Magic.length, UTF_8)
            .split("\r\n", -1).foreach { line =>
              val c = line.indexOf(':')
              if (c > 0) {
                val k = line.substring(0, c).trim.toLowerCase
                val v = line.substring(c + 1).trim
                k match {
                  case "warc-target-uri" => url = v
                  case "warc-date"       => date = v
                  case "content-length" =>
                    clen = try v.toLong catch { case _: NumberFormatException => -1L }
                  case _ => ()
                }
              }
            }
          val payloadStart = he + 4
          if (url == null || date == null || clen < 0 ||
              payloadStart + clen + 4 > blob.length) ok = false // truncated/corrupt: drop + stop
          else {
            val sep = payloadStart + clen.toInt
            if (blob(sep) == '\r' && blob(sep + 1) == '\n' &&
                blob(sep + 2) == '\r' && blob(sep + 3) == '\n') {
              out += Frame(i, payloadStart, sep + 4, url, date, clen)
              i = sep + 4
            } else ok = false
          }
        }
      }
    }
    out.result()
  }

  /** Walk one segment blob; emits parsed records until damage stops it. */
  def parseSegment(segmentId: Long, blob: Array[Byte]): Vector[WarcRecord] =
    walk(blob).map(f => WarcRecord(segmentId, f.url, f.date, f.clen,
      java.util.Arrays.copyOfRange(blob, f.payloadStart, f.payloadStart + f.clen.toInt)))

  /** (segment_id, warc) -> exploded records. Map-side; no shuffle. */
  def parse(segments: DataFrame): Dataset[WarcRecord] = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.select("segment_id", "warc").as[(Long, Array[Byte])]
      .flatMap { case (seg, blob) => parseSegment(seg, blob) }
  }

  final case class WarcExtracted(url: String, extracted_text: String)

  /** The full ingestion edge: segment blobs -> records -> boilerplate-strip
    * -> (url, extracted_text), byte-identical to reading the pages table
    * directly (the html_main_content oracle checks exactly that). */
  def extractFromSegments(segments: DataFrame): Dataset[WarcExtracted] = {
    val spark = segments.sparkSession
    import spark.implicits._
    parse(segments.toDF()).map(r =>
      WarcExtracted(r.url, MainContent.extract(new String(r.html, UTF_8))))
  }

  /** WARC response segments -> WET conversion segments — the Common-Crawl
    * derived artifact (`.warc.wet`) every text pipeline actually consumes:
    * one `WARC-Type: conversion` record per response, payload = the
    * boilerplate-stripped main-content text, `WARC-Date` copied verbatim
    * from the source record (string-carried, never parsed into a zoned
    * type). Framing is identical to the response form, so ONE walker
    * ([[parseSegment]]) reads both formats and inherits the damage-stops
    * degrade contract.
    *
    * Scale shape: mapPartitions at segment grain — parse, extract, and
    * re-emit fuse into one pass per blob with no shuffle anywhere; output
    * segments are text-sized (≪ input), which is exactly why crawls ship
    * WET next to WARC. */
  def wetSegments(segments: DataFrame): DataFrame = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.select("segment_id", "warc").as[(Long, Array[Byte])]
      .map { case (seg, blob) =>
        val recs = parseSegment(seg, blob)
        val parts = recs.map { r =>
          val text = MainContent.extract(new String(r.html, UTF_8))
          recordBytes("conversion", r.url, r.warc_date, text.getBytes(UTF_8))
        }
        val buf = new Array[Byte](parts.iterator.map(_.length).sum)
        var off = 0
        parts.foreach { p => System.arraycopy(p, 0, buf, off, p.length); off += p.length }
        (seg, buf)
      }
      .toDF("segment_id", "wet")
  }

  final case class WetRecord(url: String, warc_date: String,
                             content_length: Long, extracted_text: String)

  /** Read WET segments back: same walker, payload decoded as UTF-8 text. */
  def wetParse(wets: DataFrame): Dataset[WetRecord] = {
    val spark = wets.sparkSession
    import spark.implicits._
    wets.select("segment_id", "wet").as[(Long, Array[Byte])]
      .flatMap { case (seg, blob) => parseSegment(seg, blob) }
      .map(r => WetRecord(r.url, r.warc_date, r.content_length,
        new String(r.html, UTF_8)))
  }

  final case class CdxRow(url: String, segment_id: Long, rec_ord: Long,
                          rec_offset: Long, rec_length: Long,
                          content_length: Long, warc_date: String)

  /** CDX-style capture index for one segment blob — the Common-Crawl index
    * artifact: each record's BYTE ADDRESS (offset + total record length)
    * inside its segment, so a fetcher can range-read one record without
    * scanning the blob. Same walk as [[parseSegment]] (same damage-stops
    * semantics), reading only the frame bounds — indexing never
    * materializes the page bytes. */
  def indexSegment(segmentId: Long, blob: Array[Byte]): Vector[CdxRow] =
    walk(blob).zipWithIndex.map { case (f, ord) =>
      CdxRow(f.url, segmentId, ord.toLong, f.start.toLong, (f.end - f.start).toLong, f.clen, f.date)
    }

  /** (segment_id, warc) -> CDX rows. Map-side; no shuffle — the index job is
    * one linear pass per segment at ingestion parallelism, and the output is
    * records-sized metadata, never page bytes. */
  def cdxIndex(segments: DataFrame): Dataset[CdxRow] = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.select("segment_id", "warc").as[(Long, Array[Byte])]
      .flatMap { case (seg, blob) => indexSegment(seg, blob) }
  }
}
