package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WARC crawl-container ingestion — the format Common Crawl actually
  * ships (ISO 28500): a WARC file is a concatenation of records, each
  * `WARC/1.0` version line + header lines + blank line + a payload of
  * exactly `Content-Length` units, records separated by two CRLFs; a
  * `response` record's payload is itself an HTTP response (status line +
  * headers + blank line + body — the crawled HTML). This module is the
  * "crawl in" entry point ahead of [[Html]]: file → records → typed
  * fields (url, status, content type, html), malformed records
  * quarantined AS DATA (null fields + a `malformed` flag — the
  * [[Multimodal]] corrupt-payload convention, never a dropped row or a
  * thrown task).
  *
  * Framing is exact offset arithmetic ([[graft.functions.NativeKernels
  * .warcSplitRecords]]) — Content-Length-driven, never marker-scanning,
  * so a payload containing the literal text `WARC/1.0` cannot desync
  * the stream. The char-form entry points ([[records]]/[[parseFields]])
  * run the arithmetic over CHARS of a string column — exact on the
  * ASCII fixture corpus and the oracle-expressible witness; the
  * BYTE-TRUE production path ([[recordsGz]]/[[parseFieldsBinary]]/
  * [[withWarcRecordBytes]]/[[withWarcFilesGz]]) runs the same
  * arithmetic over OCTETS of a binary column with per-record gzip
  * members and charset-aware payload decode — the actual `.warc.gz`
  * encoding Common Crawl ships. Field parsing requires the framing to
  * CHECK OUT — a record
  * whose actual length disagrees with its declared Content-Length (the
  * malformed tail a broken file yields) quarantines even when its
  * prefix looks parseable.
  *
  * Reference: this is the reference's "adapt any InputFormat as a root
  * input" story (tez-mapreduce/src/main/java/org/apache/tez/mapreduce/
  * input/MRInput.java:84 — bring-your-own record reader under the
  * engine's splits) applied to the crawl container; the Spark-native
  * form keeps record splitting and field extraction as expressions so
  * the whole ingest is scan → one generator → narrow projections, and
  * at 100 TB the per-file record split parallelizes by file exactly as
  * WARC is designed to (files are the split unit; records never span
  * files).
  *
  * 100 TB design: zero joins, zero shuffles downstream of the file
  * scan — `explode(warc_records(file))` is the only generator, field
  * parsing is codegen'd string expressions, and quarantine keeps
  * per-record failures from poisoning the file's remaining records
  * (everything before the first framing break parses normally).
  */
object Warc {

  /** The fixture's WARC version marker corruption rule: when
    * `malformEvery` > 0, every doc_id divisible by it gets version
    * `WARC/9.9` — length-preserving, so the framing arithmetic (and
    * every OTHER record in the file) is unaffected; only the
    * quarantine rule fires. The oracle replays the same modulus.
    */
  def versionFor(docId: Column, malformEvery: Int): Column =
    if (malformEvery > 0)
      when(docId % malformEvery === 0, lit("WARC/9.9"))
        .otherwise(lit("WARC/1.0"))
    else lit("WARC/1.0")

  /** Deterministic WARC RECORD synthesis from (doc_id, source, html) —
    * the [[Html.withHtmlColumn]] discipline one container out: a
    * `response` record whose payload is an HTTP 200 response carrying
    * the page, every Content-Length computed from the actual payload,
    * identity carried ONLY inside the record (the target URI), exactly
    * like a real crawl. Appended as column `out`.
    */
  def withWarcRecord(df: DataFrame, docId: Column, source: Column,
      html: Column, out: String, malformEvery: Int = 0): DataFrame = {
    val http = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        "Content-Length: "),
      length(html).cast("string"), lit("\r\n\r\n"), html)
    df.withColumn(out, concat(
      versionFor(docId, malformEvery),
      lit("\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:"),
      docId.cast("string"),
      lit(">\r\nWARC-Target-URI: http://example.com/"),
      source, lit("/"), docId.cast("string"),
      lit("\r\nContent-Type: application/http; msgtype=response\r\n" +
        "Content-Length: "),
      length(http).cast("string"), lit("\r\n\r\n"), http))
  }

  /** Pack records into multi-record FILES — ⌊doc_id/docsPerFile⌋ is the
    * file key, records concatenated in ascending doc_id order with the
    * mandatory two-CRLF separator after EVERY record (the spec's
    * record terminator, so a file ends `\r\n\r\n`). The shuffle is the
    * fixture's, not the operator's — real WARC files arrive as files.
    * Output: (file_id, warc).
    */
  def withWarcFiles(df: DataFrame, docId: Column, rec: Column,
      docsPerFile: Int = 16): DataFrame =
    df.select(floor(docId / docsPerFile).cast("long").as("file_id"),
        struct(docId.as("doc_id"), rec.as("rec")).as("r"))
      .groupBy(col("file_id"))
      .agg(concat(concat_ws("\r\n\r\n",
        transform(array_sort(collect_list(col("r"))), x => x.getField("rec"))),
        lit("\r\n\r\n")).as("warc"))

  /** File → one row per record (split by exact Content-Length
    * framing). Preserves every OTHER input column (identity columns a
    * caller carries ride along) and drops the bulky file column itself
    * — carrying the whole container string on each of its N record
    * rows would multiply the scan bytes by records-per-file. The raw
    * record lands as `rec`.
    */
  def records(df: DataFrame, fileCol: String): DataFrame =
    df.select(df.columns.filterNot(_ == fileCol).map(col) :+
      explode(graft.functions.warc_records(col(fileCol))).as("rec"): _*)

  /** Byte-true twin of [[records]] over a BINARY file column holding
    * concatenated gzip members (`.warc.gz` — one member per record, the
    * layout Common Crawl ships): decompress members up to the first
    * failure ([[graft.functions.NativeKernels.gunzipMembers]] — a
    * corrupt member yields the prior records intact, a truncated
    * deflate stream yields a partial remainder the framing kernel
    * quarantines), then split by exact Content-Length OCTET framing.
    */
  def recordsGz(df: DataFrame, fileCol: String): DataFrame =
    df.select(df.columns.filterNot(_ == fileCol).map(col) :+
      explode(graft.functions.warc_records_bin(
        graft.functions.warc_gunzip(col(fileCol)))).as("rec"): _*)

  /** Record → typed fields: (warc_version, url, record_id, status,
    * content_type, html, malformed). A record quarantines (all-null fields,
    * malformed = true, version kept as evidence) when ANY of the
    * contract checks fail: version ≠ WARC/1.0, framing arithmetic
    * disagrees with the declared Content-Length (a malformed tail), no
    * target URI, unparseable HTTP status line, or HTTP body length
    * disagreeing with the HTTP Content-Length. Every check is an
    * expression over the record string — no UDF, no exceptions.
    */
  def parseFields(df: DataFrame, rec: Column): DataFrame =
    parseCommon(df, rec)
      .withColumn("html",
        when(col("malformed"), lit(null)).otherwise(col("__body")))
      .drop(parseTemps: _*)

  /** Container files → the typed field table (id, warc_version, url,
    * status, content_type, html, malformed), one row per record
    * ([[records]] + [[parseFields]] with the raw record dropped) — the
    * crawl front door ahead of [[Html.blockTable]]. Quarantined records
    * keep their rows (null fields + flag), so a malformed-rate monitor
    * reads the same table the extractor consumes.
    */
  def fieldTable(files: DataFrame, id: Column, fileCol: String): DataFrame =
    parseFields(records(files.select(id, col(fileCol)), fileCol), col("rec"))
      .select(id, col("warc_version"), col("url"), col("status"),
        col("content_type"), col("html"), col("malformed"))

  /** Byte-true twin of [[parseFields]] over a BINARY record column,
    * with CHARSET-AWARE payload decode: the record is viewed through
    * ISO-8859-1 (byte-transparent — every byte maps to exactly one
    * char, so char offsets/lengths EQUAL byte offsets/lengths and the
    * whole header-parse + framing chain is shared verbatim with the
    * char form), then the HTTP body alone is re-encoded back to its
    * original bytes and decoded under the `charset=` parameter the
    * HTTP Content-Type header declares (default UTF-8; unknown names →
    * UTF-8; malformed sequences → U+FFFD — quarantine-is-data, never a
    * thrown task). Output adds a `charset` column (the applied charset,
    * null when quarantined) alongside [[parseFields]]'s fields.
    *
    * This closes the char-form's documented teaching simplification:
    * declared Content-Lengths count OCTETS here, so multibyte UTF-8
    * payloads and latin-1 bodies with bytes ≥ 0x80 frame and decode
    * exactly.
    */
  def parseFieldsBinary(df: DataFrame, rec: Column): DataFrame =
    parseCommon(df, decode(rec, "ISO-8859-1"))
      .withColumn("charset",
        when(col("malformed"), lit(null)).otherwise(
          lower(coalesce(nullif(regexp_extract(col("__ctype"),
            "charset=([^;\\s]+)", 1), lit("")), lit("utf-8")))))
      .withColumn("html",
        when(col("malformed"), lit(null)).otherwise(
          graft.functions.decode_charset(
            encode(col("__body"), "ISO-8859-1"), col("charset"))))
      .drop(parseTemps: _*)

  private val parseTemps = Seq("__rec", "__header", "__version", "__cl",
    "__uri", "__rid", "__dg", "__http", "__status", "__hh", "__ctype",
    "__hcl", "__body")

  /** The shared header-parse + framing-check chain over a STRING view
    * of the record (the raw record for the char form; the
    * byte-transparent ISO-8859-1 view for the byte form — under which
    * chars ≡ octets, so one chain serves both). Leaves the `__`-prefixed
    * working columns in place for the public wrappers to finish and
    * drop.
    */
  private def parseCommon(df: DataFrame, rec: Column): DataFrame = {
    // the payload = everything after the header terminator; framing is
    // valid iff its length equals the declared Content-Length exactly
    df.withColumn("__rec", rec)
      .withColumn("__header", substring_index(col("__rec"), "\r\n\r\n", 1))
      .withColumn("__version",
        regexp_extract(col("__rec"), "^(WARC/[0-9.]+)\r\n", 1))
      .withColumn("__cl",
        nullif(regexp_extract(col("__header"),
          "\r\nContent-Length: ([0-9]{1,9})(?:\r|$)", 1), lit("")).cast("long"))
      .withColumn("__uri",
        regexp_extract(col("__header"), "\r\nWARC-Target-URI: ([^\r\n]+)", 1))
      .withColumn("__rid",
        regexp_extract(col("__header"), "\r\nWARC-Record-ID: <([^>\r\n]+)>", 1))
      .withColumn("__dg",
        regexp_extract(col("__header"), "\r\nWARC-Payload-Digest: ([^\r\n]+)", 1))
      .withColumn("__http",
        col("__rec").substr(length(col("__header")) + 5, length(col("__rec"))))
      .withColumn("__status",
        nullif(regexp_extract(col("__http"), "^HTTP/1\\.1 ([0-9]{3}) ", 1),
          lit("")).cast("int"))
      .withColumn("__hh", substring_index(col("__http"), "\r\n\r\n", 1))
      .withColumn("__ctype",
        regexp_extract(col("__hh"), "\r\nContent-Type: ([^\r\n]+)", 1))
      .withColumn("__hcl",
        nullif(regexp_extract(col("__hh"),
          "\r\nContent-Length: ([0-9]{1,9})(?:\r|$)", 1), lit("")).cast("long"))
      .withColumn("__body",
        col("__http").substr(length(col("__hh")) + 5, length(col("__http"))))
      .withColumn("malformed",
        col("__version") =!= "WARC/1.0" ||
          col("__cl").isNull ||
          length(col("__rec")) =!= length(col("__header")) + 4 + col("__cl") ||
          col("__uri") === "" ||
          col("__status").isNull ||
          col("__hcl").isNull ||
          length(col("__body")) =!= col("__hcl"))
      .withColumn("warc_version",
        when(col("__version") === "", lit(null)).otherwise(col("__version")))
      .withColumn("url", when(col("malformed"), lit(null)).otherwise(col("__uri")))
      // WARC-Record-ID — the record's OWN identity (a urn:uuid in real
      // crawls); carried so identity survives even when the target URI
      // is the thing under test (URL canonicalization/dedup). Lenient:
      // a missing id is null, not a quarantine (the framing and status
      // checks above are the integrity gate).
      .withColumn("record_id",
        when(col("malformed") || col("__rid") === "", lit(null))
          .otherwise(col("__rid")))
      // WARC-Payload-Digest — the crawl index's content claim (CDX's
      // dedup key half). Lenient like record_id: absent → null; verify
      // is a separate, explicit step ([[verifyPayloadDigest]]).
      .withColumn("payload_digest",
        when(col("malformed") || col("__dg") === "", lit(null))
          .otherwise(col("__dg")))
      .withColumn("status", when(col("malformed"), lit(null)).otherwise(col("__status")))
      .withColumn("content_type", when(col("malformed"), lit(null)).otherwise(col("__ctype")))
  }

  /** Byte-true synthesis twin of [[withWarcRecord]]: the record as
    * BYTES, with the page encoded under a per-doc `charset` column
    * (the HTTP Content-Type advertises it) and every Content-Length
    * counting OCTETS of the encoded payload — so a multibyte page
    * makes chars ≠ bytes and only octet-true framing round-trips. The
    * target URI is an explicit column (a messy-URL fixture passes
    * variants; [[withWarcRecord]]'s `http://example.com/source/id`
    * shape is `defaultUri`). Headers are ASCII by construction and
    * encode through byte-transparent ISO-8859-1.
    */
  def withWarcRecordBytes(df: DataFrame, docId: Column, uri: Column,
      html: Column, charset: Column, out: String,
      malformEvery: Int = 0, digest: Boolean = false,
      corruptDigestEvery: Int = 0): DataFrame = {
    val body = graft.functions.encode_charset(html, charset)
    val httpHead = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="), charset,
      lit("\r\nContent-Length: "), length(body).cast("string"),
      lit("\r\n\r\n"))
    val http = concat(encode(httpHead, "ISO-8859-1"), body)
    // WARC-Payload-Digest over the HTTP BODY octets (the spec's payload
    // = the entity the record carries). sha256-hex stands in for
    // production's sha1:base32 — same plumbing, both engines emit it.
    // The corruption trap mangles the STORED digest's first hex char
    // (length-preserving): content fine, index lying — the case digest
    // verification exists to catch.
    val dgTrue = concat(lit("sha256:"), sha2(body, 256))
    val dg =
      if (corruptDigestEvery > 0)
        when(docId % corruptDigestEvery === 0,
          concat(lit("sha256:x"), substring(sha2(body, 256), 2, 63)))
          .otherwise(dgTrue)
      else dgTrue
    val digestLine =
      if (digest) concat(lit("\r\nWARC-Payload-Digest: "), dg)
      else lit("")
    val warcHead = concat(
      versionFor(docId, malformEvery),
      lit("\r\nWARC-Type: response\r\nWARC-Record-ID: <urn:graft:"),
      docId.cast("string"),
      lit(">"), digestLine,
      lit("\r\nWARC-Target-URI: "), uri,
      lit("\r\nContent-Type: application/http; msgtype=response\r\n" +
        "Content-Length: "),
      length(http).cast("string"), lit("\r\n\r\n"))
    df.withColumn(out, concat(encode(warcHead, "ISO-8859-1"), http))
  }

  /** Payload-digest VERIFICATION over a parsed record table
    * ([[parseFieldsBinary]] output): `digest_ok` = does the record's
    * STORED `WARC-Payload-Digest` match the digest recomputed from the
    * payload it actually carries (re-encoded under its declared
    * charset). Null when the record is quarantined or ships no digest
    * header; false = the crawl index is lying about this record's
    * content — the CDX-consistency check every Common-Crawl-style
    * pipeline runs before trusting (URL, digest) as a dedup key.
    */
  def verifyPayloadDigest(df: DataFrame): DataFrame =
    df.withColumn("digest_ok",
      when(col("malformed") || col("payload_digest").isNull, lit(null))
        .otherwise(col("payload_digest") === concat(lit("sha256:"),
          sha2(graft.functions.encode_charset(col("html"),
            coalesce(col("charset"), lit("utf-8"))), 256))))

  /** The [[withWarcRecord]] target-URI shape as a reusable column. */
  def defaultUri(docId: Column, source: Column): Column =
    concat(lit("http://example.com/"), source, lit("/"),
      docId.cast("string"))

  /** Pack BINARY records into `.warc.gz` FILES — each record compressed
    * as its OWN gzip member (the Common Crawl layout: members are
    * independently decompressible, so record-level random access
    * survives compression), members concatenated in ascending doc_id
    * order. When `corruptEveryFile` > 0, the fixture's gzip trap fires:
    * in every matching file (file_id % corruptEveryFile == 0) the LAST
    * slot's member (doc_id % docsPerFile == docsPerFile-1, when
    * present) gets its two magic bytes zeroed — a length-preserving
    * header corruption, so [[graft.functions.NativeKernels
    * .gunzipMembers]] stops exactly there and every prior record in
    * the file survives intact. Output: (file_id, warc: binary).
    */
  def withWarcFilesGz(df: DataFrame, docId: Column, rec: Column,
      docsPerFile: Int = 16, corruptEveryFile: Int = 0): DataFrame = {
    val corrupt =
      if (corruptEveryFile > 0)
        (docId % docsPerFile === docsPerFile - 1) &&
          (floor(docId / docsPerFile) % corruptEveryFile === 0)
      else lit(false)
    // each member compresses record + the mandatory two-CRLF record
    // terminator, so the decompressed stream is a valid record sequence
    df.select(floor(docId / docsPerFile).cast("long").as("file_id"),
        docId.as("__did"),
        graft.functions.gzip_member(
          concat(rec, lit(Array[Byte]('\r', '\n', '\r', '\n')))).as("__gz"),
        corrupt.as("__corrupt"))
      .withColumn("__gz2",
        when(col("__corrupt"),
          concat(lit(Array[Byte](0, 0)),
            expr("substring(__gz, 3, length(__gz) - 2)")))
          .otherwise(col("__gz")))
      .select(col("file_id"),
        struct(col("__did").as("doc_id"), col("__gz2").as("gz")).as("r"))
      .groupBy(col("file_id"))
      .agg(graft.functions.concat_binary(
        expr("transform(array_sort(collect_list(r)), x -> x.gz)"))
        .as("warc"))
  }
}
