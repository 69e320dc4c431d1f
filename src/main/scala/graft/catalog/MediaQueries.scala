package graft
package catalog

import org.apache.spark.sql.functions._

import graft.SparkEntry._
import graft.catalog.OracleSql._
import graft.ops.Multimodal

/** Multimodal: container header decode, resize, features and frame
  * sampling.
  */
object MediaQueries {

  /** Little-endian u32 of an int expression as 8 hex chars (byte-swapped
    * big-endian hex) — the DuckDB mirror of Multimodal's `le32` byte
    * builder, emitted as hex text to be `unhex`ed into the header blob.
    */
  private def oracleLe32Hex(e: String): String =
    s"substr(lpad(hex($e),8,'0'),7,2)||substr(lpad(hex($e),8,'0'),5,2)||" +
      s"substr(lpad(hex($e),8,'0'),3,2)||substr(lpad(hex($e),8,'0'),1,2)"

  /** Parse a big-endian unsigned int out of the header blob's hex dump
    * `hh` at 1-based BYTE offset `byteOff`, `nBytes` wide.
    */
  private def oracleBeParse(byteOff: Int, nBytes: Int): String =
    s"CAST('0x'||substr(hh,${2 * byteOff - 1},${2 * nBytes}) AS BIGINT)"

  /** Parse a little-endian u32 out of the header hex dump `hh` at 1-based
    * BYTE offset `byteOff` (swap the four byte pairs, then read as hex).
    */
  private def oracleLeParse(byteOff: Int): String = {
    val c = 2 * byteOff - 1
    s"CAST('0x'||substr(hh,${c + 6},2)||substr(hh,${c + 4},2)||" +
      s"substr(hh,${c + 2},2)||substr(hh,$c,2) AS BIGINT)"
  }

  /** The decode-meta oracle core: rebuild the SAME container header bytes
    * the Spark encoder writes (PNG sig+IHDR / JPEG SOI+APP0+SOF0 / WAV
    * RIFF+fmt / AVI RIFF+hdrl+avih, as one unhex'ed blob), then detect
    * the format from the magic bytes and parse the dimensions back OUT of
    * the bytes at the container offsets — the oracle reads the numbers
    * from the blob exactly like the media_meta expression does, it does
    * not shortcut to the generator formulas. Yields (media_id, modality,
    * format, width, height, sample_rate, n_frames).
    */
  private lazy val oracleDecodeMeta: String = {
    // header hex layouts; text bytes ride after these prefixes and are
    // irrelevant to the parse (all parsed fields sit inside the prefix)
    val pngHex = "'89504E470D0A1A0A'||'0000000D'||'49484452'" + // sig, len 13, IHDR
      "||lpad(hex(w),8,'0')||lpad(hex(h),8,'0')"
    val jpegHex = "'FFD8'||'FFE00010'||'4A464946'||'00010100000100010000'" + // SOI, APP0 len 16, JFIF\0...
      "||'FFC0000B08'||lpad(hex(h),4,'0')||lpad(hex(w),4,'0')" // SOF0 len 11, prec 8, H, W
    val wavHex = s"'52494646'||${oracleLe32Hex("36+len")}||'57415645'" + // RIFF, size, WAVE
      s"||'666D7420'||'10000000'||'01000100'||${oracleLe32Hex("rate")}" + // fmt , 16, PCM mono, rate
      s"||${oracleLe32Hex("rate*2")}||'02001000'" + // byte rate, block align 2, 16-bit
      s"||'64617461'||${oracleLe32Hex("len")}" // data, len
    val aviHex = s"'52494646'||${oracleLe32Hex("88+len")}||'41564920'" + // RIFF, size, AVI_
      s"||'4C495354'||'44000000'||'6864726C'||'61766968'||'38000000'" + // LIST, 68, hdrl, avih, 56
      s"||${oracleLe32Hex("33333")}||'000000000000000000000000'" + // µs/frame, 3 zero dwords
      s"||${oracleLe32Hex("fr")}||'00000000'||'01000000'||'00000000'" + // frames, initial, streams, bufsize
      s"||${oracleLe32Hex("w")}||${oracleLe32Hex("h")}" // dwWidth, dwHeight
    // FLAC: magic, last-flag STREAMINFO (34), block sizes, unknown frame
    // sizes, bit-packed rate (20)/mono/16-bit (8)/samples (36), zero md5
    val flacHex = "'664C6143'||'80000022'||'10001000'||'000000000000'" +
      "||lpad(hex(rate//16),4,'0')||lpad(hex((rate%16)*16),2,'0')||'F0'" +
      "||lpad(hex(smp),8,'0')||repeat('0',32)"
    // MP3: MPEG-1 Layer III frame header, bitrate idx 9 (128k), srIdx<<2
    val mp3Frame = "'FFFB'||lpad(hex(144 + (len%3)*4),2,'0')||'00'"
    // ID3v2.3 tag: header (10 B, syncsafe size 10) + 10 padding bytes
    val mp3Id3 = s"'494433'||'0300'||'00'||'0000000A'||repeat('00',10)||$mp3Frame"
    // identity transform matrix of mvhd/tkhd (1.0, 1.0, 16.30-coded 1.0)
    val mtx = "'000100000000000000000000'||'000000000001000000000000'||" +
      "'000000000000000040000000'"
    val mp4Hex = "'00000010'||'66747970'||'69736F6D'||'00000200'" + // ftyp isom
      "||'000000D8'||'6D6F6F76'" + // moov (216)
      "||'0000006C'||'6D766864'||'00000000'||'00000000'||'00000000'" + // mvhd (108) v0, ctime, mtime
      s"||'000003E8'||lpad(hex(dur),8,'0')" + // timescale 1000, duration (ms)
      s"||'00010000'||'01000000'||'00000000'||'00000000'||$mtx" + // rate, volume+rsvd, rsvd×2, matrix
      "||'000000000000000000000000'||'000000000000000000000000'" + // pre_defined ×6
      "||'00000002'" + // next_track_ID
      "||'00000064'||'7472616B'" + // trak (100)
      "||'0000005C'||'746B6864'||'00000007'||'00000000'||'00000000'" + // tkhd (92) v0+flags, ctime, mtime
      s"||'00000001'||'00000000'||lpad(hex(dur),8,'0')" + // track_ID, rsvd, duration
      s"||'00000000'||'00000000'||'0000000000000000'||$mtx" + // rsvd×2, layer/group/vol/rsvd, matrix
      "||lpad(hex(w*65536),8,'0')||lpad(hex(h*65536),8,'0')" + // width, height as 16.16
      s"||${"lpad(hex(len+8),8,'0')"}||'6D646174'" // mdat header
    // parsed-field fragments shared between the sample_rate and
    // duration columns (FLAC packs rate into 20 bits at body+10; MP3's
    // header byte sits at offset 2, or 22 past the ID3 tag)
    val flacRate = s"(${oracleBeParse(19, 2)} * 16 + CAST('0x' || substr(hh,41,1) AS BIGINT))"
    val flacSamples =
      s"(CAST('0x' || substr(hh,44,1) AS BIGINT) * 4294967296 + ${oracleBeParse(23, 4)})"
    val mp3Rates = "[44100,48000,32000]"
    val mp3Bitrates = "[0,32,40,48,56,64,80,96,112,128,160,192,224,256,320]"
    def mp3Hdr(byteOff: Int) = s"CAST('0x' || substr(hh,${2 * byteOff - 1},2) AS BIGINT)"
    s"""SELECT doc_id AS media_id, modality,
       |  CASE WHEN substr(hh,1,16) = '89504E470D0A1A0A' THEN 'png'
       |       WHEN substr(hh,1,4) = 'FFD8' THEN 'jpeg'
       |       WHEN substr(hh,1,8) = '52494646' AND substr(hh,17,8) = '57415645' THEN 'wav'
       |       WHEN substr(hh,1,8) = '52494646' AND substr(hh,17,8) = '41564920' THEN 'avi'
       |       WHEN substr(hh,9,8) = '66747970' THEN 'mp4'
       |       WHEN substr(hh,1,8) = '664C6143' THEN 'flac'
       |       WHEN substr(hh,1,4) = 'FFFB' OR substr(hh,1,6) = '494433' THEN 'mp3'
       |  END AS format,
       |  CAST(CASE WHEN substr(hh,1,16) = '89504E470D0A1A0A' THEN ${oracleBeParse(17, 4)}
       |            WHEN substr(hh,1,4) = 'FFD8' THEN ${oracleBeParse(28, 2)}
       |            WHEN substr(hh,17,8) = '41564920' THEN ${oracleLeParse(65)}
       |            WHEN substr(hh,9,8) = '66747970' THEN ${oracleBeParse(225, 2)}
       |  END AS INTEGER) AS width,
       |  CAST(CASE WHEN substr(hh,1,16) = '89504E470D0A1A0A' THEN ${oracleBeParse(21, 4)}
       |            WHEN substr(hh,1,4) = 'FFD8' THEN ${oracleBeParse(26, 2)}
       |            WHEN substr(hh,17,8) = '41564920' THEN ${oracleLeParse(69)}
       |            WHEN substr(hh,9,8) = '66747970' THEN ${oracleBeParse(229, 2)}
       |  END AS INTEGER) AS height,
       |  CAST(CASE WHEN substr(hh,17,8) = '57415645' THEN ${oracleLeParse(25)}
       |            WHEN substr(hh,1,8) = '664C6143' THEN $flacRate
       |            WHEN substr(hh,1,4) = 'FFFB' THEN $mp3Rates[(${mp3Hdr(3)} // 4) % 4 + 1]
       |            WHEN substr(hh,1,6) = '494433' THEN $mp3Rates[(${mp3Hdr(23)} // 4) % 4 + 1]
       |  END AS INTEGER) AS sample_rate,
       |  CAST(CASE WHEN substr(hh,17,8) = '41564920' THEN ${oracleLeParse(49)}
       |  END AS INTEGER) AS n_frames,
       |  CAST(CASE WHEN substr(hh,17,8) = '57415645' THEN (${oracleLeParse(41)} * 1000) // ${oracleLeParse(29)}
       |            WHEN substr(hh,17,8) = '41564920' THEN (${oracleLeParse(33)} * ${oracleLeParse(49)}) // 1000
       |            WHEN substr(hh,9,8) = '66747970' THEN (${oracleBeParse(49, 4)} * 1000) // ${oracleBeParse(45, 4)}
       |            WHEN substr(hh,1,8) = '664C6143' THEN ($flacSamples * 1000) // $flacRate
       |            WHEN substr(hh,1,4) = 'FFFB' THEN ((len + 4) * 8 * 1000) // ($mp3Bitrates[(${mp3Hdr(3)} // 16) + 1] * 1000)
       |            WHEN substr(hh,1,6) = '494433' THEN ((len + 4) * 8 * 1000) // ($mp3Bitrates[(${mp3Hdr(23)} // 16) + 1] * 1000)
       |  END AS INTEGER) AS duration_ms
       |FROM (
       |  SELECT doc_id, modality, len, hex(unhex(CASE c
       |    WHEN 'png' THEN $pngHex
       |    WHEN 'jpeg' THEN $jpegHex
       |    WHEN 'wav' THEN $wavHex
       |    WHEN 'avi' THEN $aviHex
       |    WHEN 'flac' THEN $flacHex
       |    WHEN 'mp3' THEN $mp3Frame
       |    WHEN 'mp3id3' THEN $mp3Id3
       |    ELSE $mp4Hex END)) AS hh
       |  FROM (
       |    SELECT doc_id, len,
       |      CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       |      CASE WHEN doc_id % 3 = 0 AND doc_id % 2 = 0 THEN 'png'
       |           WHEN doc_id % 3 = 0 THEN 'jpeg'
       |           WHEN doc_id % 3 = 1 AND doc_id % 4 < 2 THEN 'wav'
       |           WHEN doc_id % 3 = 1 AND doc_id % 4 = 2 THEN 'flac'
       |           WHEN doc_id % 3 = 1 AND doc_id % 8 = 3 THEN 'mp3'
       |           WHEN doc_id % 3 = 1 THEN 'mp3id3'
       |           WHEN doc_id % 2 = 0 THEN 'avi' ELSE 'mp4' END AS c,
       |      len % 1280 + 640 AS w, len % 720 + 360 AS h, len % 240 + 24 AS fr,
       |      len % 590000 + 1000 AS dur,
       |      len % 900000 + 44100 AS smp,
       |      [8000,16000,22050,44100,48000][(len % 5) + 1] AS rate
       |    FROM (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
       |  )
       |)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // REAL header parse (round 7): payloads carry genuine container
    // structure (PNG/JPEG/WAV/AVI, built declaratively from the
    // documents table), decodeMeta walks the actual bytes (media_meta
    // native expression), and the oracle rebuilds the same header bytes
    // in DuckDB blob SQL and parses the dimensions back out of them at
    // the container offsets — both engines read the numbers out of the
    // bytes, neither copies the generator formulas.
    QuerySpec("q_mm_decode_meta", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val media = Multimodal.encodedMediaTable(t(s, dir, "documents"))
      media.select(col("media_id"), col("modality"),
        Multimodal.decodeMeta(col("payload")).as("m"))
        .select(col("media_id"), col("modality"), col("m.format").as("format"),
          col("m.width"), col("m.height"), col("m.sample_rate"), col("m.n_frames"),
          col("m.duration_ms"))
    },
      // REAL header parse both sides: Spark's media_meta walks the
      // container bytes; the oracle rebuilds the identical header blob in
      // DuckDB (unhex of the same byte layout) and parses format + fields
      // back OUT of the blob at the container offsets — see
      // oracleDecodeMeta for the byte maps
      Oracle(oracleDecodeMeta)),

    // parse → resize composition over the REAL parsed metadata: the
    // round-6 resize row kept its synthetic-metadata oracle; this one
    // proves resizeMeta composes on decodeMeta's output unchanged
    QuerySpec("q_mm_decode_resize", (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val media = Multimodal.encodedMediaTable(t(s, dir, "documents"))
      media.select(col("media_id"), Multimodal.decodeMeta(col("payload")).as("m"))
        .filter(col("m.width").isNotNull)
        .select(col("media_id"),
          col("m.width").as("width"), col("m.height").as("height"),
          Multimodal.resizeMeta(col("m"), 256).getField("width").as("r_width"),
          Multimodal.resizeMeta(col("m"), 256).getField("height").as("r_height"))
    },
      // decodeMeta → resizeMeta composition: the resize arithmetic applied
      // to the dimensions parsed out of the header bytes
      Oracle(s"""SELECT media_id, width, height,
                |  CAST(floor(width * scale) AS INTEGER) AS r_width,
                |  CAST(floor(height * scale) AS INTEGER) AS r_height
                |FROM (
                |  SELECT media_id, width, height,
                |    least(1.0, 256.0 / greatest(width, height)) AS scale
                |  FROM ($oracleDecodeMeta)
                |  WHERE width IS NOT NULL
                |)""".stripMargin)),

    // features are array<float>; canonicalized to a fixed-format joined
    // string so the driver's compare layer can hash the column
    QuerySpec("q_mm_features", (s, dir) =>
      Multimodal.syntheticMediaTable(t(s, dir, "documents"))
        .select(col("media_id"),
          array_join(transform(Multimodal.featurize(col("payload"), 16),
            f => format_string("%.6f", f)), ",").as("features")),
      Oracle(s"""SELECT doc_id AS media_id,
                |  array_to_string(list_transform(range(0, 16), j ->
                |    printf('%.6f', CAST(CAST(${oracleMd5Long("text || '#' || CAST(j AS VARCHAR)")} % 1000000 AS DOUBLE)
                |                        / 1000000.0 - 0.5 AS FLOAT))), ',') AS features
                |FROM documents""".stripMargin)),

    QuerySpec("q_mm_frame_sample", (s, dir) =>
      Multimodal.frameSample(Multimodal.syntheticMediaTable(t(s, dir, "documents")), 4)
        .withColumn("frame_len", length(col("frame_bytes")))
        .drop("frame_bytes"),
      // frame sampling emits evenly spaced byte ranges; the oracle mirrors
      // the range arithmetic (Spark's int cast truncates, so trunc() here)
      // and the substring clamp at the payload tail, over byte lengths
      Oracle("""SELECT media_id, frame_idx, least(flen, greatest(len - s_pos + 1, 0)) AS frame_len
               |FROM (
               |  SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
               |    CAST(octet_length(encode(text)) AS INTEGER) AS len,
               |    greatest(CAST(trunc(octet_length(encode(text)) / 4.0) AS INTEGER), 1) AS flen,
               |    CAST(trunc(i * (octet_length(encode(text)) / 4.0) + 1) AS INTEGER) AS s_pos
               |  FROM documents, range(0, 4) t(i)
               |  WHERE doc_id % 3 = 2
               |)""".stripMargin)),

    // resizeMeta over SQL-expressible synthetic metadata (text-length
    // derived, not the xxhash64 stub), so the resize arithmetic itself
    // gets a true DuckDB oracle
    QuerySpec("q_mm_resize", (s, dir) => {
      val media = t(s, dir, "documents").select(
        col("doc_id").as("media_id"),
        struct(
          (pmod(length(col("text")), lit(1280)) + 640).cast("int").as("width"),
          (pmod(length(col("text")), lit(720)) + 360).cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          lit(null).cast("int").as("n_frames"),
        ).as("meta"))
      media.select(
        col("media_id"),
        col("meta.width").as("width"),
        col("meta.height").as("height"),
        Multimodal.resizeMeta(col("meta"), 256).getField("width").as("r_width"),
        Multimodal.resizeMeta(col("meta"), 256).getField("height").as("r_height"))
    },
      Oracle("""SELECT media_id, width, height,
               |  CAST(floor(width * scale) AS INTEGER) AS r_width,
               |  CAST(floor(height * scale) AS INTEGER) AS r_height
               |FROM (
               |  SELECT media_id, width, height,
               |    least(1.0, 256.0 / greatest(width, height)) AS scale
               |  FROM (
               |    SELECT doc_id AS media_id,
               |      CAST((length(text) % 1280) + 640 AS INTEGER) AS width,
               |      CAST((length(text) % 720) + 360 AS INTEGER) AS height
               |    FROM documents
               |  )
               |)""".stripMargin)),

    QuerySpec("q_mm_batched_decode", (s, dir) =>
      Multimodal.decodeBatched(Multimodal.syntheticMediaTable(t(s, dir, "documents")))
        .select(col("media_id"), col("modality"), col("decoded_bytes")),
      Oracle("""SELECT doc_id AS media_id,
               |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
               |  CAST(octet_length(encode(text)) AS INTEGER) AS decoded_bytes
               |FROM documents""".stripMargin)),
  )
}
