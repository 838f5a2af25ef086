package graft.functions

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

/**
 * CSV dialect sniffing — the ingest-audit pass a delimited-text lake
 * gets BEFORE anyone calls `spark.read.csv` with guessed options:
 * detect the delimiter, quote usage, header presence and shape
 * consistency per document, so a loader can be configured (or a shard
 * quarantined) from a census instead of a failed job.
 *
 * The sniff is DETERMINISTIC and fully specified (unlike heuristic
 * sniffers whose answers drift between versions):
 *   - candidate delimiters `, ; \t |` are scored on the first
 *     [[SniffLines]] RECORDS (quote-aware — a quoted embedded newline
 *     keeps a record together, so the sampled window is records, not
 *     physical lines): a candidate qualifies iff EVERY sampled
 *     record splits into the SAME field count ≥ 2; the
 *     qualifying candidate with the HIGHEST field count wins (a tie
 *     on count resolves in the candidate order above);
 *   - if none qualifies the document is single-column: delimiter
 *     `none`, one field per line;
 *   - quoting is RFC 4180: fields may be wrapped in `"`, a doubled
 *     `""` escapes one quote, delimiters/newlines inside quotes are
 *     literal (newlines in quoted fields make a RECORD span lines);
 *     `quoted` reports whether any field in the sample was quoted;
 *   - `has_header` = 1 iff the first record has no numeric field AND
 *     some later record has at least one numeric field (numeric =
 *     optional sign, digits, optional decimal part — integers and
 *     plain decimals, the ingest-relevant shapes);
 *   - `consistent` = 1 iff every record in the WHOLE document (not
 *     just the sample) has the winner's field count;
 *   - `newline` reports the record-separator convention the winning
 *     parse actually consumed OUTSIDE quotes (`crlf`/`lf`/`cr`, or
 *     `mixed` when more than one form appears, `none` for a single
 *     unterminated record) — a loader needs the CRLF/LF convention as
 *     much as the delimiter;
 *   - the BYTE-level sniff ([[csvSniffBytes]]) first detects the
 *     charset: a UTF-8 / UTF-16LE / UTF-16BE BOM decides, BOM-less
 *     bytes must decode as STRICT UTF-8 (`ascii` when no byte
 *     exceeds 0x7f) — undecodable payloads refuse (None), they are
 *     exactly the shards a loader must quarantine.
 *
 * Strict posture: an unterminated quoted field, or a quote opening
 * mid-field (`ab"c`), → None — the two forms that make delimited
 * text unrecoverable without human eyes.
 *
 * Narrow mapPartitions — zero exchanges.
 */
object Csv {

  /** Records sampled for dialect scoring (kept under its historical
   * name; the sample unit is RECORDS — see the object scaladoc). */
  val SniffLines = 16

  private val Candidates: IndexedSeq[Char] = IndexedSeq(',', ';', '\t', '|')

  private final class Malformed extends RuntimeException

  /** Split a document into records of fields for one delimiter,
   * quote-aware (RFC 4180). Returns (records, sawQuote). */
  private[graft] def parseRecords(text: String, delim: Char):
      (IndexedSeq[IndexedSeq[String]], Boolean) = {
    val full = parseRecordsFull(text, delim)
    (full._1, full._2)
  }

  /** [[parseRecords]] plus the terminator census: counts of CRLF /
   * bare-LF / bare-CR record separators consumed OUTSIDE quotes. */
  private def parseRecordsFull(text: String, delim: Char):
      (IndexedSeq[IndexedSeq[String]], Boolean, Int, Int, Int) = {
    val records = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    var fields = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuotes = false
    var fieldStarted = false
    var fieldWasQuoted = false
    var sawQuote = false
    var nCrlf = 0
    var nLf = 0
    var nCr = 0
    var i = 0
    def endField(): Unit = {
      fields += cur.toString
      cur.clear(); fieldStarted = false; fieldWasQuoted = false
    }
    def endRecord(): Unit = {
      endField()
      records += fields.toIndexedSeq
      fields = scala.collection.mutable.ArrayBuffer.empty[String]
    }
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') {
            cur += '"'; i += 1
          } else inQuotes = false
        } else cur += c
      } else c match {
        case '"' =>
          if (fieldStarted && !fieldWasQuoted) throw new Malformed // ab"c
          inQuotes = true; sawQuote = true
          fieldStarted = true; fieldWasQuoted = true
        case d if d == delim => endField()
        case '\r' if i + 1 < text.length && text.charAt(i + 1) == '\n' =>
          endRecord(); nCrlf += 1; i += 1
        case '\n' => endRecord(); nLf += 1
        case '\r' => endRecord(); nCr += 1
        case other =>
          if (fieldWasQuoted) throw new Malformed // junk after close quote
          cur += other; fieldStarted = true
      }
      i += 1
    }
    if (inQuotes) throw new Malformed // unterminated quote
    if (fieldStarted || cur.nonEmpty || fields.nonEmpty) endRecord()
    (records.toIndexedSeq, sawQuote, nCrlf, nLf, nCr)
  }

  private val Numeric = "^[+-]?[0-9]+(\\.[0-9]+)?$".r

  private def isNumeric(s: String): Boolean =
    Numeric.findFirstIn(s.trim).isDefined

  /** One document's sniffed dialect. */
  final case class Dialect(delimiter: String, quoted: Boolean,
      hasHeader: Boolean, nCols: Int, nRecords: Long, consistent: Boolean,
      newline: String)

  /** Sniff one document. None on the unrecoverable quote forms. */
  def sniff(text: String): Option[Dialect] = {
    if (text == null) return None
    try {
      // score candidates on the first SniffLines RECORDS — the
      // quote-aware parse keeps a quoted embedded newline from
      // splitting a record, so a record may span physical lines
      var winner: Option[(Char, Int)] = None
      Candidates.foreach { d =>
        // a candidate whose quote-aware parse refuses simply does not
        // qualify — under the WRONG delimiter a closing quote followed
        // by the true delimiter reads as junk-after-quote, which must
        // not poison the sniff (only the WINNER's parse is a verdict)
        try {
          val (recs, _) = parseRecords(text, d)
          val sample = recs.take(SniffLines)
          if (sample.nonEmpty) {
            val n = sample.head.size
            if (n >= 2 && sample.forall(_.size == n) &&
              winner.forall(_._2 < n)) winner = Some((d, n))
          }
        } catch { case _: Malformed => () }
      }
      val (delim, delimName) = winner match {
        case Some((d, _)) =>
          (d, if (d == '\t') "tab" else d.toString)
        case None => ('\u0000', "none")
      }
      val (recs, sawQuote, nCrlf, nLf, nCr) =
        if (delimName == "none") parseRecordsFull(text, '\u0000')
        else parseRecordsFull(text, delim)
      val kinds = Seq(nCrlf, nLf, nCr).count(_ > 0)
      val newline =
        if (kinds > 1) "mixed"
        else if (nCrlf > 0) "crlf"
        else if (nLf > 0) "lf"
        else if (nCr > 0) "cr"
        else "none"
      if (recs.isEmpty) return Some(Dialect(delimName, sawQuote,
        hasHeader = false, 0, 0L, consistent = true, newline))
      val nCols = recs.head.size
      val consistent = recs.forall(_.size == nCols)
      val hasHeader = recs.head.forall(f => !isNumeric(f)) &&
        recs.drop(1).exists(_.exists(isNumeric))
      Some(Dialect(delimName, sawQuote, hasHeader, nCols,
        recs.size.toLong, consistent, newline))
    } catch {
      case _: Malformed => None
    }
  }

  /** Strict decode via the named charset; None on any malformed or
   * unmappable sequence. */
  private def decodeStrict(b: Array[Byte], off: Int,
      cs: String): Option[String] = {
    try {
      val dec = java.nio.charset.Charset.forName(cs).newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      Some(dec.decode(java.nio.ByteBuffer.wrap(b, off, b.length - off))
        .toString)
    } catch {
      case _: java.nio.charset.CharacterCodingException => None
    }
  }

  /** Detect the byte-level charset and decode: a UTF-8 / UTF-16LE /
   * UTF-16BE BOM decides; BOM-less bytes must be strictly valid UTF-8
   * (`ascii` when no byte exceeds 0x7f). None when undecodable. */
  private[graft] def detectCharset(b: Array[Byte]): Option[(String, String)] = {
    if (b == null) return None
    if (b.length >= 3 && (b(0) & 0xff) == 0xef && (b(1) & 0xff) == 0xbb &&
      (b(2) & 0xff) == 0xbf)
      decodeStrict(b, 3, "UTF-8").map(("utf-8-bom", _))
    else if (b.length >= 2 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xfe)
      decodeStrict(b, 2, "UTF-16LE").map(("utf-16le", _))
    else if (b.length >= 2 && (b(0) & 0xff) == 0xfe && (b(1) & 0xff) == 0xff)
      decodeStrict(b, 2, "UTF-16BE").map(("utf-16be", _))
    else decodeStrict(b, 0, "UTF-8").map { s =>
      (if (b.forall(x => (x & 0xff) < 0x80)) "ascii" else "utf-8", s)
    }
  }

  /** Byte-level sniff: charset first ([[detectCharset]]), then the
   * dialect walk over the decoded text. */
  def sniffBytes(payload: Array[Byte]): Option[(String, Dialect)] =
    detectCharset(payload).flatMap { case (cs, text) =>
      sniff(text).map((cs, _))
    }

  /** Output schema of [[csvSniff]]. */
  val sniffSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("delimiter", StringType),
    StructField("quoted", IntegerType),
    StructField("has_header", IntegerType),
    StructField("n_cols", IntegerType),
    StructField("n_records", LongType),
    StructField("consistent", IntegerType),
    StructField("newline", StringType)))

  /** Output schema of [[csvSniffBytes]]: [[sniffSchema]] plus the
   * detected charset. */
  val bytesSniffSchema: StructType = StructType(
    sniffSchema.fields.toSeq :+ StructField("charset", StringType))

  /** One row per sniffable document; the unrecoverable quote forms
   * contribute nothing. Narrow mapPartitions. */
  def csvSniff(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val tIdx = df.schema.fieldIndex(textCol)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        val doc = if (r.isNullAt(tIdx)) null else r.getString(tIdx)
        sniff(doc).map { d =>
          Row(id, d.delimiter, if (d.quoted) 1 else 0,
            if (d.hasHeader) 1 else 0, d.nCols, d.nRecords,
            if (d.consistent) 1 else 0, d.newline)
        }.iterator
      }
    }(Encoders.row(sniffSchema))
  }

  /** One row per sniffable BINARY document — charset detected from the
   * bytes (BOM or strict UTF-8), then the dialect walk; undecodable
   * payloads and the unrecoverable quote forms contribute nothing.
   * Narrow mapPartitions. */
  def csvSniffBytes(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val pIdx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(idIdx)
        sniffBytes(r.getAs[Array[Byte]](pIdx)).map { case (cs, d) =>
          Row(id, d.delimiter, if (d.quoted) 1 else 0,
            if (d.hasHeader) 1 else 0, d.nCols, d.nRecords,
            if (d.consistent) 1 else 0, d.newline, cs)
        }.iterator
      }
    }(Encoders.row(bytesSniffSchema))
  }

  /** Deterministic delimited-text fixture shared by the writer, the
   * t47 oracle and the spec. Delimiter rotates `, ; TAB |` by id%4;
   * `2 + id%4` columns and `3 + id%6` data records. A header record
   * (`col_0..col_{n-1}`) leads unless `id%5 == 1`. Data cell (r, c)
   * is numeric `(id + r*7 + c) % 1000` for the LAST column, text
   * `v<id%10>_<r>_<c>` otherwise. When `id%3 == 0`, cell (0, 0) is
   * QUOTED and embeds the delimiter and a doubled quote
   * (`"x<delim>y""z"` → field `x<delim>y"z`). When `id%7 == 2`, the
   * document stretches to `SniffLines + 3` data records and the LAST
   * one gains an extra field — the dialect sample never sees it (the
   * sniff still resolves), but `consistent` flips to 0: exactly the
   * sample-vs-whole distinction the census exists for. `id%11 == 10`
   * documents have no delimiter at all (single-column, `2 + id%3`
   * lines). `id%13 == 11` documents carry an unterminated quote →
   * None, zero rows. CRLF on even ids, LF on odd. */
  def syntheticCsv(id: Long): String = {
    val nl = if (id % 2 == 0) "\r\n" else "\n"
    if (id % 13 == 11) return s"a,b${nl}\"unterminated${nl}c,d"
    if (id % 11 == 10)
      return (0 until (2 + id % 3).toInt)
        .map(r => s"line_${id % 10}_$r").mkString(nl)
    val d = Seq(',', ';', '\t', '|')((id % 4).toInt)
    val nCols = (2 + id % 4).toInt
    val nRows = if (id % 7 == 2) SniffLines + 3 else (3 + id % 6).toInt
    val sb = new StringBuilder
    if (id % 5 != 1)
      sb ++= (0 until nCols).map(c => s"col_$c").mkString(d.toString) ++= nl
    (0 until nRows).foreach { r =>
      val cells = (0 until nCols).map { c =>
        if (c == nCols - 1) s"${(id + r * 7 + c) % 1000}"
        else if (r == 0 && c == 0 && id % 3 == 0) s""""x${d}y""z""""
        else s"v${id % 10}_${r}_$c"
      }
      sb ++= cells.mkString(d.toString)
      if (r == nRows - 1 && id % 7 == 2) sb ++= s"${d}extra"
      if (r < nRows - 1) sb ++= nl
    }
    sb.toString
  }

  /** Deterministic BYTE-level fixture: [[syntheticCsv]]'s text encoded
   * with a charset rotating by `id%4` — plain UTF-8 (pure-ASCII text →
   * reported `ascii`), UTF-8 with BOM, UTF-16LE with BOM, UTF-16BE
   * with BOM. The dialect under every charset is the same closed form,
   * so the t47 oracle's only delta is the charset column. */
  def syntheticCsvBytes(id: Long): Array[Byte] = {
    val text = syntheticCsv(id)
    (id % 4) match {
      case 0 => text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case 1 => Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
        text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case 2 => Array[Byte](0xff.toByte, 0xfe.toByte) ++
        text.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
      case _ => Array[Byte](0xfe.toByte, 0xff.toByte) ++
        text.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
    }
  }

  /** Executor-side byte-level fixtures — the t47 oracle adds the
   * charset closed form. */
  def syntheticCsvPayloads(df: DataFrame, idCol: String): DataFrame =
    Fixtures.syntheticPayloads(df, idCol)(syntheticCsvBytes)
}
