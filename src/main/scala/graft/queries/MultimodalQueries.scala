package graft
package queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Shared._

/** Multimodal metadata ([[graft.operators.Multimodal]]): image, audio, video,
  * archive, WARC and PDF codecs over synthesized media bytes.
  */
object MultimodalQueries {

  val all: Seq[Query] = Seq(
    // Multimodal: batched binary feature extraction (stub codec; no oracle)
    Query("q44_multimodal_features", (s, d) =>
      graft.operators.Multimodal.imageFeatures(
        graft.operators.Multimodal.mediaFromDocuments(s, t(s, d, "documents")), dim = 32)
        .select(col("media_id"), col("n_bytes"),
          round(aggregate(col("features"), lit(0.0d), (a, x) => a + x), 4).as("feat_sum")),
      // The stub codec's byte-histogram features are normalized counts, so
      // their sum is exactly 1.0 (0.0 for empty payloads) — with n_bytes
      // that fully pins q44's output (text-bytes media never decode as
      // images, so the JDK-codec fallback path is the stub by construction).
      """SELECT doc_id AS media_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | CASE WHEN octet_length(encode(text)) > 0 THEN 1.0 ELSE 0.0 END AS feat_sum
        |FROM documents""".stripMargin),

    // Multimodal: codec-provenance census — the r11-verdict-#7 `decoded`
    // flag as a first-class query: per modality, how much of the corpus
    // got REAL codec features vs the deterministic stub. The driver's
    // text-bytes media never decodes as image or audio, so the oracle is
    // closed-form (all rows stub-flagged); on a real mixed corpus this
    // is the table that says what fraction of "image features" actually
    // saw pixels.
    Query("q396_decoded_census", (s, d) => {
      val media = graft.operators.Multimodal.mediaFromDocuments(
        s, t(s, d, "documents"))
      graft.operators.Multimodal.imageFeatures(media, dim = 16)
        .select(lit("image").as("modality"), col("decoded"))
        .unionByName(
          graft.operators.Multimodal.audioFeatures(media, windows = 8)
            .select(lit("audio").as("modality"), col("decoded")))
        .groupBy(col("modality"), col("decoded"))
        .agg(count(lit(1)).as("n"))
    },
      // Text-bytes media decode as neither image nor audio, so every row
      // is stub-flagged: one (modality, false, |documents|) row each.
      """SELECT m.modality, FALSE AS decoded,
        | (SELECT count(*) FROM documents) AS n
        |FROM (SELECT 'image' AS modality UNION ALL SELECT 'audio') m""".stripMargin),

    // Multimodal: frame-timestamp sampling (metadata explode; oracle-checked)
    Query("q45_frame_sample", (s, d) =>
      graft.operators.Multimodal.sampleFrameTimestamps(
        graft.operators.Multimodal.mediaFromDocuments(s, t(s, d, "documents")),
        everyMs = 500),
      """SELECT doc_id AS media_id,
        | unnest(generate_series(0, n_chars * 10 - 1, 500)) AS frame_ms
        |FROM documents WHERE n_chars > 0""".stripMargin),

    // REAL PNG header extraction end to end: decoder-valid PNGs built
    // from doc ids (spec chunk CRCs, real zlib IDAT), parsed back by
    // the codegen PngProbe expression — signature, IHDR (CRC-verified),
    // tEXt, chunk census. Oracle replays the closed-form fields; any
    // offset or CRC bug nulls the row and hash-fails.
    Query("q326_png_meta", (s, d) =>
      graft.operators.Multimodal.pngMeta(
        graft.operators.Multimodal.syntheticPngFromDocs(
          t(s, d, "documents"))),
      // PNG replay: the closed-form header fields the engine must recover
      // by actually parsing (and CRC-checking) the chunk bytes it built
      """SELECT doc_id AS media_id,
        |  (16 + doc_id % 8)::INT AS width,
        |  (8 + doc_id % 5)::INT AS height,
        |  8::INT AS bit_depth,
        |  (CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 2 END)::INT AS color_type,
        |  0::INT AS interlace,
        |  4::INT AS n_chunks,
        |  'Source' AS text_keyword,
        |  'doc-' || doc_id::VARCHAR AS text_value
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // REAL MP3 header extraction end to end: single-frame MP3s with
    // ID3v2.3 envelopes built from doc ids, parsed back by the codegen
    // Mp3Probe expression — syncsafe tag size, frame sync, the public
    // MPEG-1 Layer III bitrate/sample-rate tables, padding arithmetic
    Query("q327_mp3_meta", (s, d) =>
      graft.operators.Multimodal.mp3Meta(
        graft.operators.Multimodal.syntheticMp3FromDocs(
          t(s, d, "documents"))),
      // MP3 replay: the closed-form tag/frame fields over the public
      // MPEG-1 Layer III tables; frame_bytes = 144·kbps·1000 // rate + pad
      """WITH t AS (SELECT doc_id,
        |    [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
        |     320][(doc_id % 14 + 1)::INT] AS kbps,
        |    [44100, 48000, 32000][(doc_id % 3 + 1)::INT] AS rate,
        |    ['stereo', 'joint_stereo', 'dual_channel',
        |     'mono'][(doc_id % 4 + 1)::INT] AS mode,
        |    (doc_id % 2)::INT AS pad
        |  FROM documents WHERE doc_id >= 0)
        |SELECT doc_id AS media_id, '2.3.0' AS id3_version,
        |  (10 + doc_id % 100)::BIGINT AS id3_size,
        |  kbps::INT AS bitrate_kbps, rate::INT AS sample_rate,
        |  mode AS channel_mode,
        |  (144 * kbps * 1000 // rate + pad)::INT AS frame_bytes
        |FROM t""".stripMargin),

    // ZIP central-directory probe: real STORED archives (local headers
    // + central directory + EOCD per PKWARE APPNOTE) built closed-form
    // from doc ids, walked back for the pre-extraction planning row —
    // member count, expansion totals, method census, first name
    Query("q365_zip_meta", (s, d) =>
      graft.operators.Multimodal.zipMeta(
        graft.operators.Multimodal.syntheticZipFromDocs(
          t(s, d, "documents"))),
      // ZIP replay: synthesis arithmetic — n = d%3+1 stored members,
      // member i carries (d%7)+i+1 bytes → totals in closed form
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 3 + 1 AS INT) AS n_entries,
        |  CAST((doc_id % 3 + 1) * (doc_id % 7 + 1)
        |    + (doc_id % 3 + 1) * (doc_id % 3) // 2 AS BIGINT)
        |    AS total_uncompressed,
        |  CAST((doc_id % 3 + 1) * (doc_id % 7 + 1)
        |    + (doc_id % 3 + 1) * (doc_id % 3) // 2 AS BIGINT)
        |    AS total_compressed,
        |  CAST(doc_id % 3 + 1 AS INT) AS n_stored,
        |  0 AS n_deflated,
        |  'f' || doc_id || '_0.txt' AS first_name
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // Per-source archive EXPANSION rollup: the four probe families
    // (zip/gzip/tar/warc) joined back to sources — total members and
    // expanded bytes per source, the schedule-the-extraction number;
    // all exact integer sums over the narrow meta frames
    Query("q369_archive_expansion", (s, d) => {
      val docs = t(s, d, "documents")
      val src = docs.select(col("doc_id").as("media_id"), col("source"))
      def agg(meta: org.apache.spark.sql.DataFrame, bytesCol: String,
          membersCol: org.apache.spark.sql.Column, tag: String) =
        meta.join(src, Seq("media_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as(s"n_$tag"),
            sum(membersCol).as(s"${tag}_members"),
            sum(col(bytesCol)).as(s"${tag}_bytes"))
      val m = graft.operators.Multimodal
      val z = agg(m.zipMeta(m.syntheticZipFromDocs(docs)),
        "total_uncompressed", col("n_entries").cast("long"), "zip")
      val g = agg(m.gzipMeta(m.syntheticGzipFromDocs(docs)),
        "isize", lit(1L), "gz")
      val tr = agg(m.tarMeta(m.syntheticTarFromDocs(docs)),
        "total_size", col("n_files").cast("long"), "tar")
      val w = agg(m.warcMeta(m.syntheticWarcFromDocs(docs)),
        "total_payload", col("n_records").cast("long"), "warc")
      z.join(g, Seq("source")).join(tr, Seq("source")).join(w, Seq("source"))
        .select(col("source"), col("zip_members"), col("zip_bytes"),
          col("gz_bytes"), col("tar_bytes"), col("warc_bytes"),
          (col("zip_bytes") + col("gz_bytes") + col("tar_bytes") +
            col("warc_bytes")).as("total_expanded_bytes"))
    },
      // Expansion replay: the per-family closed forms summed per source
      """WITH d AS (SELECT doc_id, source FROM documents
        |  WHERE doc_id >= 0),
        |per AS (SELECT source,
        |    doc_id % 3 + 1 AS zm,
        |    (doc_id % 3 + 1) * (doc_id % 7 + 1)
        |      + (doc_id % 3 + 1) * (doc_id % 3) // 2 AS zb,
        |    doc_id % 9 + 1 AS gb,
        |    (doc_id % 3 + 1) * (doc_id % 5 + 1)
        |      + (doc_id % 3 + 1) * (doc_id % 3) // 2 AS tb,
        |    (doc_id % 3 + 1) * (doc_id % 6 + 1)
        |      + (doc_id % 3 + 1) * (doc_id % 3) // 2 AS wb
        |  FROM d)
        |SELECT source,
        |  sum(zm)::BIGINT AS zip_members, sum(zb)::BIGINT AS zip_bytes,
        |  sum(gb)::BIGINT AS gz_bytes, sum(tb)::BIGINT AS tar_bytes,
        |  sum(wb)::BIGINT AS warc_bytes,
        |  (sum(zb) + sum(gb) + sum(tb) + sum(wb))::BIGINT
        |    AS total_expanded_bytes
        |FROM per GROUP BY source""".stripMargin),

    // HTTP response head inside WARC records: status / content-type /
    // body-bytes census per fetched page — the fetch-outcome layer
    // between container framing and content extraction
    Query("q370_warc_http", (s, d) =>
      graft.operators.Multimodal.warcHttpMeta(
        graft.operators.Multimodal.syntheticWarcHttpFromDocs(
          t(s, d, "documents"))),
      // HTTP-in-WARC replay: one response per doc, closed-form status /
      // content-type / body length
      """SELECT doc_id AS media_id, 0 AS record_idx,
        |  CASE WHEN doc_id % 5 = 0 THEN 404 ELSE 200 END AS status,
        |  CASE WHEN doc_id % 2 = 0 THEN 'text/html'
        |    ELSE 'application/json' END AS content_type,
        |  CAST(doc_id % 4 + 1 AS BIGINT) AS body_len
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // The crawl stack CLOSED end to end: raw WARC bytes → HTTP head →
    // Content-Type charset → byte decode (utf-8 / iso-8859-1 /
    // windows-1252, incl. the no-charset legacy default) → htmlExtract
    // — one composed query from container bytes to extracted text,
    // with charset-revealing marker chars (€ π é) so a wrong decode
    // changes the hash
    Query("q372_warc_to_text", (s, d) => {
      val pages = graft.operators.Multimodal.warcHtmlText(
        graft.operators.Multimodal.syntheticWarcHtmlFromDocs(
          t(s, d, "documents")))
      graft.operators.TextAnalysis.htmlExtract(
        pages.withColumnRenamed("media_id", "doc_id"), "doc_id",
        col("html"), keep = Seq("status", "charset"))
    },
      // Crawl-stack replay: rebuild the per-doc html STRING (what a
      // correct charset decode of the synthesized body bytes must yield
      // — encode∘decode is lossless for every (marker, charset) pair by
      // construction) and run the identical extraction regexes; charset
      // replays the resolution rule incl. the windows-1252 default leg
      """WITH base AS (SELECT doc_id, substr(text, 1, 40) AS a,
        |    CASE WHEN doc_id % 7 = 0 THEN 'windows-1252'
        |         WHEN doc_id % 3 = 0 THEN 'utf-8'
        |         WHEN doc_id % 3 = 1 THEN 'iso-8859-1'
        |         ELSE 'windows-1252' END AS charset,
        |    CASE WHEN doc_id % 7 = 0 THEN '€'
        |         WHEN doc_id % 3 = 0 THEN 'π'
        |         WHEN doc_id % 3 = 1 THEN 'é'
        |         ELSE '€' END AS marker
        |  FROM documents WHERE doc_id >= 0 AND text IS NOT NULL),
        |h AS (SELECT doc_id, charset,
        |    '<html><head><title>Doc ' || doc_id || ' ' || marker ||
        |    '</title></head><body><p>' || a || ' café ' || marker ||
        |    '</p>' || repeat('<a href="http://ex.org/x/' || doc_id ||
        |    '">x</a>', CAST(doc_id % 4 AS INT)) || '</body></html>'
        |      AS html
        |  FROM base)
        |SELECT doc_id, 200 AS status, charset,
        |  CASE WHEN length(regexp_extract(html,
        |      '<title>([^<]*)</title>', 1)) > 0
        |    THEN regexp_extract(html, '<title>([^<]*)</title>', 1)
        |  END AS title,
        |  CAST(len(regexp_extract_all(html, '<a href=')) AS BIGINT)
        |    AS n_links,
        |  CAST(length(regexp_replace(html, '<[^>]*>', '', 'g'))
        |    AS BIGINT) AS text_chars
        |FROM h""".stripMargin),

    // magic-byte MIME sniff vs declared Content-Type over real codec
    // bytes from all eight byte-probe families (every 5th payload
    // deliberately mis-declared) — the "is it what the server said"
    // routing audit
    Query("q381_mime_sniff", (s, d) => {
      val m = graft.operators.Multimodal
      val docs = t(s, d, "documents").filter(col("doc_id") >= 0)
      def fam(i: Int): DataFrame = {
        val slice = docs.filter(col("doc_id") % 8 === i)
        i match {
          case 0 => m.syntheticPngFromDocs(slice)
          case 1 => m.syntheticMp3FromDocs(slice)
          case 2 => m.syntheticZipFromDocs(slice)
          case 3 => m.syntheticGzipFromDocs(slice)
          case 4 => m.syntheticTarFromDocs(slice)
          case 5 => m.syntheticWarcFromDocs(slice)
          case 6 => m.syntheticMp4FromDocs(slice)
          case 7 => m.syntheticWavFromDocs(slice)
        }
      }
      val media = (0 to 7).map(fam).reduce(_ unionAll _)
      val mimes = Seq("image/png", "audio/mpeg", "application/zip",
        "application/gzip", "application/x-tar", "application/warc",
        "video/mp4", "audio/wav")
      def mimeOfFam(famIdx: Column): Column =
        mimes.zipWithIndex.foldLeft(lit(null).cast("string")) {
          case (acc, (mm, i)) => when(famIdx === i, mm).otherwise(acc)
        }
      val labelToMime = Seq("png" -> "image/png", "mp3" -> "audio/mpeg",
        "zip" -> "application/zip", "gzip" -> "application/gzip",
        "tar" -> "application/x-tar", "warc" -> "application/warc",
        "mp4" -> "video/mp4", "wav" -> "audio/wav")
      val sniffed = m.sniffMime(col("content"))
      val sniffedMime = labelToMime.foldLeft(lit(null).cast("string")) {
        case (acc, (l, mm)) => when(sniffed === l, mm).otherwise(acc)
      }
      val famIdx = col("media_id") % 8
      val declared = when(col("media_id") % 5 === 0,
        mimeOfFam((famIdx + 1) % 8)).otherwise(mimeOfFam(famIdx))
      media.select(col("media_id"), declared.as("declared_mime"),
        sniffed.as("sniffed"),
        (declared =!= coalesce(sniffedMime, lit("?"))).as("mismatch"))
    },
      // sniff replay: families and mis-declarations are closed forms of
      // the id — hash equality requires the sniffer to label every real
      // codec payload correctly
      """SELECT doc_id AS media_id,
        |  CASE (CASE WHEN doc_id % 5 = 0 THEN (doc_id % 8 + 1) % 8
        |        ELSE doc_id % 8 END)
        |    WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/mpeg'
        |    WHEN 2 THEN 'application/zip' WHEN 3 THEN 'application/gzip'
        |    WHEN 4 THEN 'application/x-tar' WHEN 5 THEN 'application/warc'
        |    WHEN 6 THEN 'video/mp4' ELSE 'audio/wav' END AS declared_mime,
        |  CASE doc_id % 8 WHEN 0 THEN 'png' WHEN 1 THEN 'mp3'
        |    WHEN 2 THEN 'zip' WHEN 3 THEN 'gzip' WHEN 4 THEN 'tar'
        |    WHEN 5 THEN 'warc' WHEN 6 THEN 'mp4' ELSE 'wav' END AS sniffed,
        |  (doc_id % 5 = 0) AS mismatch
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // PDF framing probe — the document sibling of the archive trio:
    // real minimal documents (catalog, page tree, byte-exact xref,
    // trailer) walked back for version / object count / page count /
    // xref-intact; every 9th payload is not a PDF (no row), every
    // 11th carries a corrupted startxref (xref_ok = false)
    Query("q387_pdf_meta", (s, d) =>
      graft.operators.Multimodal.pdfMeta(
        graft.operators.Multimodal.syntheticPdfFromDocs(
          t(s, d, "documents"))),
      // PDF replay: synthesis arithmetic — (d%4)+1 pages → (d%4)+4
      // trailer objects; every 9th payload is not a PDF (absent row),
      // every 11th has a corrupted startxref
      """SELECT doc_id AS media_id, '1.4' AS version,
        |  CAST(doc_id % 4 + 4 AS INT) AS n_objs,
        |  CAST(doc_id % 4 + 1 AS INT) AS n_pages,
        |  (doc_id % 11 <> 0) AS xref_ok
        |FROM documents WHERE doc_id >= 0 AND doc_id % 9 <> 0""".stripMargin),

    // Crawl-to-corpus composed end to end: raw WARC bytes → HTTP head
    // → charset decode (q372's layer) → block-level main-content
    // extraction (q388's layer) — container bytes in, density-gated
    // prose out, one lane
    Query("q394_crawl_to_corpus", (s, d) => {
      val pages = graft.operators.Multimodal.warcHtmlText(
        graft.operators.Multimodal.syntheticWarcHtmlFromDocs(
          t(s, d, "documents")))
      graft.operators.TextAnalysis.mainContent(
        pages.withColumnRenamed("media_id", "doc_id"), "doc_id",
        col("html"), keep = Seq("status", "charset"))
    },
      // Crawl-to-corpus replay: q372's page/charset synthesis feeding
      // q388's block/density chain — the composed end-to-end pin
      """WITH base AS (SELECT doc_id, substr(text, 1, 40) AS a,
        |    CASE WHEN doc_id % 7 = 0 THEN 'windows-1252'
        |         WHEN doc_id % 3 = 0 THEN 'utf-8'
        |         WHEN doc_id % 3 = 1 THEN 'iso-8859-1'
        |         ELSE 'windows-1252' END AS charset,
        |    CASE WHEN doc_id % 7 = 0 THEN '€'
        |         WHEN doc_id % 3 = 0 THEN 'π'
        |         WHEN doc_id % 3 = 1 THEN 'é'
        |         ELSE '€' END AS marker
        |  FROM documents WHERE doc_id >= 0 AND text IS NOT NULL),
        |h AS (SELECT doc_id, charset,
        |    '<html><head><title>Doc ' || doc_id || ' ' || marker ||
        |    '</title></head><body><p>' || a || ' café ' || marker ||
        |    '</p>' || repeat('<a href="http://ex.org/x/' || doc_id ||
        |    '">x</a>', CAST(doc_id % 4 AS INT)) || '</body></html>'
        |      AS html
        |  FROM base),
        |l AS (SELECT doc_id, charset,
        |    list_transform(string_split_regex(html,
        |      '</p>|</div>|</li>|</h1>|</h2>|</h3>'), b ->
        |      regexp_replace(regexp_replace(regexp_replace(b,
        |        '<[^>]*>', '', 'g'), '\s+', ' ', 'g'), '^ | $', '', 'g'))
        |      AS txts,
        |    list_transform(string_split_regex(html,
        |      '</p>|</div>|</li>|</h1>|</h2>|</h3>'), b ->
        |      COALESCE(length(regexp_replace(regexp_replace(
        |        array_to_string(regexp_extract_all(b,
        |          '<a[^>]*>([^<]*)</a>', 1), ' '),
        |        '\s+', ' ', 'g'), '^ | $', '', 'g')), 0)) AS acs
        |  FROM h),
        |k AS (SELECT doc_id, charset, len(txts) AS nb,
        |    list_filter(txts, (t, i) ->
        |      length(t) >= 20 AND acs[i] * 100 <= length(t) * 30) AS kept,
        |    list_sum(list_transform(txts, t -> length(t))) AS tot
        |  FROM l)
        |SELECT doc_id, 200 AS status, charset,
        |  CAST(nb AS BIGINT) AS n_blocks,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  COALESCE(CAST(list_sum(list_transform(kept, t -> length(t)))
        |    AS BIGINT), 0)::BIGINT AS main_chars,
        |  CAST(tot - COALESCE(list_sum(list_transform(kept,
        |    t -> length(t))), 0) AS BIGINT) AS boiler_chars,
        |  array_to_string(kept, chr(10)) AS main_text
        |FROM k""".stripMargin),

    // WARC census probe: real ISO-28500 crawl-container records
    // (Content-Length-framed — payload bytes never inspected) — the
    // crawl-ingest planning row: record/type counts, payload bytes,
    // first target URI
    Query("q368_warc_meta", (s, d) =>
      graft.operators.Multimodal.warcMeta(
        graft.operators.Multimodal.syntheticWarcFromDocs(
          t(s, d, "documents"))),
      // WARC replay: synthesis arithmetic — n = d%3+1 alternating
      // records, payload i carries (d%6)+i+1 bytes
      warcCensusOracleSql),

    // gzip framing probe: real RFC-1952 members (FNAME header,
    // stored-deflate payload, CRC32+ISIZE trailer) — the no-decompress
    // "what's inside this .gz" row; every column closed-form
    Query("q366_gzip_meta", (s, d) =>
      graft.operators.Multimodal.gzipMeta(
        graft.operators.Multimodal.syntheticGzipFromDocs(
          t(s, d, "documents"))),
      // gzip replay: framing arithmetic — 10-byte header + (5+len(id))+1
      // name + 5-byte stored-block framing + n payload + 8 trailer
      """SELECT doc_id AS media_id, 8 AS method,
        |  CAST(doc_id AS BIGINT) AS mtime,
        |  'd' || doc_id || '.txt' AS fname,
        |  CAST(doc_id % 9 + 1 AS BIGINT) AS isize,
        |  CAST(30 + length(CAST(doc_id AS VARCHAR)) + doc_id % 9 AS INT)
        |    AS compressed_len
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // tar walk probe: checksum-validated ustar headers (octal sizes,
    // 512-block padding, dir-vs-file typeflags) — entry census without
    // reading member contents
    Query("q367_tar_meta", (s, d) =>
      graft.operators.Multimodal.tarMeta(
        graft.operators.Multimodal.syntheticTarFromDocs(
          t(s, d, "documents"))),
      // tar replay: synthesis arithmetic — one dir on even ids,
      // (d%3)+1 files of (d%5)+i+1 bytes
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 3 + 1 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0
        |    END AS INT) AS n_entries,
        |  CAST((doc_id % 3 + 1) * (doc_id % 5 + 1)
        |    + (doc_id % 3 + 1) * (doc_id % 3) // 2 AS BIGINT)
        |    AS total_size,
        |  CAST(doc_id % 3 + 1 AS INT) AS n_files,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS INT)
        |    AS n_dirs,
        |  CASE WHEN doc_id % 2 = 0 THEN 'dir' || doc_id || '/'
        |    ELSE 't' || doc_id || '_0.dat' END AS first_name
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // ISO-BMFF (MP4) container metadata: deterministic MP4s (real
    // ftyp brand dispatch over isom/mp41/mp42, avc1/mp4v sample
    // descriptions, 64-bit co64 chunk offsets on even ids, multi-
    // sample stsc runs) probed back by the widened QtCodec byte walk
    // — every output column closed-form in doc_id for the oracle
    Query("q352_mp4_meta", (s, d) =>
      graft.operators.Multimodal.containerMeta(
        graft.operators.Multimodal.syntheticMp4FromDocs(
          t(s, d, "documents"))),
      // MP4 sample-table replay: every layout knob (brand, codec, co64,
      // samples/chunk, sample count) is closed-form doc_id arithmetic —
      // the parser must recover exactly what the synthesis swept
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp41'
        |    ELSE 'mp42' END AS brand,
        |  CASE WHEN doc_id % 5 = 0 THEN 'mp4v' ELSE 'avc1' END AS codec,
        |  320 AS width, 240 AS height,
        |  CAST(doc_id % 4 + 1 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 4 + 1) * 40 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // REAL WAV header extraction end to end: deterministic PCM WAVs
    // built from doc ids (real RIFF/fmt/data bytes), parsed back by
    // the codegen WavProbe expression; whole-ms durations make the
    // byte-rate arithmetic exact. Completes the metadata trio
    // (video q45-meta / image q300 / audio here).
    Query("q301_wav_meta", (s, d) =>
      graft.operators.Multimodal.audioMeta(
        graft.operators.Multimodal.syntheticWavFromDocs(
          t(s, d, "documents"))),
      // WAV replay: the closed-form header fields the engine must recover
      // by actually parsing the RIFF bytes it built
      """SELECT doc_id AS media_id,
        |  CAST(doc_id % 2 + 1 AS INT) AS channels,
        |  CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
        |  16 AS bits_per_sample,
        |  CAST(((doc_id % 50) + 1) * (8000 + (doc_id % 4) * 4000) // 1000
        |    * (doc_id % 2 + 1) * 2 AS BIGINT) AS data_bytes,
        |  CAST((doc_id % 50) + 1 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // REAL EXIF extraction end to end: deterministic EXIF JPEGs built
    // from doc ids (real APP1/TIFF bytes, byte order alternating II/MM
    // by parity), parsed back by the codegen ExifProbe expression —
    // segment walk, IFD entry decode, inline vs offset values. Oracle
    // replays the closed-form tag arithmetic; any endianness or offset
    // bug shifts a field and hash-fails.
    Query("q300_exif_meta", (s, d) =>
      graft.operators.Multimodal.exifMeta(
        graft.operators.Multimodal.syntheticExifFromDocs(
          t(s, d, "documents"))),
      // EXIF replay: the closed-form tag values the engine must recover
      // by actually parsing the JPEG/TIFF bytes it built
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(doc_id % 8 + 1 AS INT) AS orientation,
        |  CAST(640 + (doc_id % 7) * 16 AS INT) AS width,
        |  CAST(480 + (doc_id % 5) * 16 AS INT) AS height,
        |  'CAM-' || (doc_id % 10) AS make,
        |  '2024:01:0' || (doc_id % 9 + 1) || ' 12:00:00' AS datetime
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // REAL video frame decode, end to end: deterministic RGB-AVIs are
    // assembled from doc ids (real RIFF container bytes, 17×6
    // checkerboard DIB frames), then parsed + pixel-decoded by
    // videoFrameStats — container walk, bottom-up padded-BGR rows,
    // integer BT.601 luma. The oracle replays the closed-form pixel
    // arithmetic; any container/row-padding/pixel-order bug shifts the
    // stats and hash-fails. (MJPEG frames decode through the same path
    // via javax.imageio — spec-covered, JPEG loss keeps it off the
    // exact oracle.)
    Query("q293_video_frames", (s, d) =>
      graft.operators.Multimodal.videoFrameStats(
        graft.operators.Multimodal.syntheticAviFromDocs(
          t(s, d, "documents"))),
      // Video-frame replay: the closed-form per-frame pixel arithmetic the
      // engine must reproduce by actually decoding the AVI bytes
      """WITH f AS (
        |  SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS fi
        |  FROM documents WHERE doc_id >= 0)
        |SELECT doc_id AS media_id, CAST(fi AS INT) AS frame_idx,
        |  17 AS width, 6 AS height, CAST(102 AS BIGINT) AS n_pixels,
        |  CAST(299*((doc_id*5+fi*7)%200) + 587*((doc_id*11+fi*3)%200)
        |    + 114*((doc_id*17+fi*13)%200) AS BIGINT) AS min_luma_milli,
        |  CAST(299*((doc_id*5+fi*7)%200) + 587*((doc_id*11+fi*3)%200)
        |    + 114*((doc_id*17+fi*13)%200) + 55000 AS BIGINT)
        |    AS max_luma_milli,
        |  CAST(51 AS BIGINT) AS n_min_pixels
        |FROM f""".stripMargin),

    // QuickTime/MOV sample-table metadata: deterministic photo-JPEG
    // MOVs (real ftyp/mdat/moov + stsd/stts/stsc/stsz/stco tables)
    // probed back by the QtCodec byte walk — n_frames from stsz,
    // duration from mdhd timescale math, all closed-form for the
    // oracle; frame PIXELS stay spec-covered (lossy-codec convention)
    Query("q310_mov_meta", (s, d) =>
      graft.operators.Multimodal.movMeta(
        graft.operators.Multimodal.syntheticMovFromDocs(
          t(s, d, "documents"))),
      // MOV sample-table replay: closed-form synthesis arithmetic —
      // (d % 3) + 1 frames at 25 fps, one tick per frame → 40 ms/frame
      """SELECT doc_id AS media_id, 'jpeg' AS codec, 16 AS width,
        |  8 AS height, CAST(doc_id % 3 + 1 AS BIGINT) AS n_frames,
        |  CAST((doc_id % 3 + 1) * 40 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id >= 0""".stripMargin),

    // Image perceptual hashes (dHash64): the oracle replays the
    // deterministic codepoint-plane stub bit-for-bit (the q28
    // fingerprint pattern — text-bytes media never decode as images, so
    // the stub path runs by construction). The banded near-dup join on
    // these signatures ([[Multimodal.dHashNearDups]]) is spec-covered
    // with real near-identical PNGs; this corpus has no duplicate
    // payloads, so its pair set here is empty by construction.
    Query("q253_image_dhash", (s, d) =>
      graft.operators.Multimodal.mediaFromDocuments(s, t(s, d, "documents"))
        .select(col("media_id"),
          graft.functions.HashFunctions.dhash64(col("content")).as("dhash"))
        .filter(col("dhash").isNotNull),
      // dHash stub replay, bit-for-bit: the codepoint "luma plane" (72
      // samples at floor(i·n/72), codepoint % 256), adjacent-luma
      // difference bits, HUGEINT bit assembly → signed 64.
      s"""WITH docs AS (SELECT doc_id, text, length(text) AS n
         |    FROM documents WHERE length(text) > 0),
         |idx AS (SELECT unnest(generate_series(0, 71)) AS i),
         |lum AS (SELECT d.doc_id, x.i,
         |    ord(substr(d.text, CAST((x.i * d.n) // 72 AS INT) + 1, 1)) % 256 AS luma
         |  FROM docs d CROSS JOIN idx x),
         |bitpos AS (SELECT r.r * 8 + c.c AS b, r.r * 9 + c.c AS li,
         |    r.r * 9 + c.c + 1 AS ri
         |  FROM (SELECT unnest(generate_series(0, 7)) AS r) r
         |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS c) c),
         |bits AS (SELECT l1.doc_id, p.b FROM bitpos p
         |  JOIN lum l1 ON l1.i = p.li
         |  JOIN lum l2 ON l2.doc_id = l1.doc_id AND l2.i = p.ri
         |  WHERE l1.luma < l2.luma)
         |SELECT d.doc_id AS media_id,
         |  ${toI64Sql("coalesce(s.h, 0::HUGEINT)")} AS dhash
         |FROM docs d LEFT JOIN (SELECT doc_id,
         |    sum((2::HUGEINT ^ b)::HUGEINT) AS h FROM bits GROUP BY doc_id) s
         |  USING (doc_id)""".stripMargin))
}
