package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Tables._

/** Multimodal-column plumbing: image/audio/video handled as opaque
  * binary columns with typed metadata. The actual codec step is STUBBED
  * (no image/audio libraries in this container) with a deterministic
  * fake derived from the content hash — but the Spark-side plumbing is
  * real: binary payload column, typed Dataset, partition-wise batch
  * iteration (mapPartitions with a per-partition digest instance — the
  * Scala analogue of a Pandas-UDF batch loop), and a generator-style
  * frame explode. At scale this is exactly the shape a decode/resize
  * pass has: narrow, no shuffle, per-partition library initialization.
  */
object Multimodal extends KeyModule {

  /** Decoded-media metadata record (the stub "decoder" output). */
  case class MediaMeta(doc_id: Long, n_bytes: Long, content_hash: String,
                       width: Int, height: Int, channels: Int)

  /** mm-decode-stub — binary payload → typed metadata via
    * mapPartitions. STUB: width/height are derived deterministically
    * from the md5 of the payload where a real decoder would parse the
    * container header; everything around it (binary column, encoders,
    * per-partition batching) is the production shape. */
  val mmDecodeStub: Q = (s, d) => {
    import s.implicits._
    val payloads = documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    val decoded = payloads.mapPartitions { iter =>
      // one digest instance per partition — the "library init once per
      // batch" pattern a real decoder needs
      val digest = java.security.MessageDigest.getInstance("MD5")
      iter.map { case (id, bytes) =>
        digest.reset()
        val hash = digest.digest(bytes).map("%02x".format(_)).mkString
        val d1 = Character.digit(hash.charAt(0), 16)
        val d2 = Character.digit(hash.charAt(1), 16)
        MediaMeta(id, bytes.length.toLong, hash,
          320 + (d1 % 8) * 80, 240 + (d2 % 8) * 60, 3)
      }
    }
    decoded.toDF().orderBy("doc_id")
  }

  val mmDecodeStubSql: String =
    """SELECT doc_id,
      |       CAST(strlen(text) AS BIGINT) AS n_bytes,
      |       md5(text) AS content_hash,
      |       CAST(320 + ((strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 8) * 80 AS INT) AS width,
      |       CAST(240 + ((strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) % 8) * 60 AS INT) AS height,
      |       CAST(3 AS INT) AS channels
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** mm-frame-sample — video-style frame sampling: the payload is
    * chunked into fixed-size "frames" and every 4th frame is kept and
    * fingerprinted (a real pipeline decodes + embeds the sampled frame;
    * the chunk/sample/fingerprint dataflow is identical). Generator
    * shape: posexplode of a computed array, narrow, no shuffle. */
  val mmFrameSample: Q = (s, d) =>
    documents(s, d)
      .select(col("doc_id"), col("text"))
      // zero-length payload has no frames. Load-bearing guard, mirrored
      // in the oracle: for empty text Spark's sequence(0, -1) defaults to
      // step -1 and yields [0, -1] (a phantom frame row) while DuckDB's
      // generate_series(0, -1) yields nothing — the engines diverge
      // exactly on empty documents without this filter.
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, CAST(floor((length(text) - 1) / 32.0) AS INT)), i -> substring(text, i * 32 + 1, 32))"))
          .as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") % 4 === 0)
      .select(col("doc_id"), col("frame_idx").cast(LongType).as("frame_idx"),
        md5(col("frame")).as("frame_hash"),
        length(col("frame")).cast(LongType).as("frame_len"))
      .orderBy("doc_id", "frame_idx")

  val mmFrameSampleSql: String =
    """SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
      |       md5(substring(text, i * 32 + 1, 32)) AS frame_hash,
      |       CAST(length(substring(text, i * 32 + 1, 32)) AS BIGINT) AS frame_len
      |FROM documents,
      |     LATERAL (SELECT unnest(generate_series(0, CAST(floor((length(text) - 1) / 32.0) AS INT))) AS i) t
      |WHERE length(text) > 0 AND i % 4 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** mm-resize-stub — resize planning: given decoded (width, height)
    * (the deterministic decode fake), compute the fit-within-224×224
    * output dims preserving aspect ratio. A real pipeline hands these to
    * the codec; the arithmetic (scale factor, floor) is the production
    * logic and is pure double math identical in both engines. */
  val mmResizeStub: Q = (s, d) =>
    documents(s, d).select(
      col("doc_id"),
      expr("320 + ((instr('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 8) * 80").as("width"),
      expr("240 + ((instr('0123456789abcdef', substring(md5(text), 2, 1)) - 1) % 8) * 60").as("height"))
      .withColumn("scale", lit(224.0) / greatest(col("width"), col("height")))
      .select(col("doc_id"),
        col("width").cast(IntegerType).as("width"),
        col("height").cast(IntegerType).as("height"),
        floor(col("width") * col("scale")).cast(IntegerType).as("out_width"),
        floor(col("height") * col("scale")).cast(IntegerType).as("out_height"))
      .orderBy("doc_id")

  val mmResizeStubSql: String =
    """SELECT doc_id,
      |       CAST(width AS INT) AS width, CAST(height AS INT) AS height,
      |       CAST(floor(width * (224.0 / greatest(width, height))) AS INT) AS out_width,
      |       CAST(floor(height * (224.0 / greatest(width, height))) AS INT) AS out_height
      |FROM (
      |  SELECT doc_id,
      |         320 + ((strpos('0123456789abcdef', substring(md5(text), 1, 1)) - 1) % 8) * 80 AS width,
      |         240 + ((strpos('0123456789abcdef', substring(md5(text), 2, 1)) - 1) % 8) * 60 AS height
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Extracted feature record (the stub "feature extractor" output). */
  case class MediaFeatures(doc_id: Long, f_len: Long, f_a: Long, f_e: Long, f_space: Long)

  /** mm-feature-extract — per-payload feature extraction through the
    * typed batch-iteration path (mapPartitions, one "model" instance per
    * partition — the Scala analogue of a batched inference UDF). STUB
    * features are simple byte statistics; the plumbing (binary in, fixed
    * feature schema out, partition-wise batching) is the real shape. */
  val mmFeatureExtract: Q = (s, d) => {
    import s.implicits._
    val payloads = documents(s, d)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
    payloads.mapPartitions { iter =>
      // per-partition "model" init (a counter table here; a real
      // extractor would load weights once per partition)
      iter.map { case (id, bytes) =>
        var a = 0L; var e = 0L; var sp = 0L; var i = 0
        while (i < bytes.length) {
          bytes(i) match {
            case 'a' => a += 1
            case 'e' => e += 1
            case ' ' => sp += 1
            case _ =>
          }
          i += 1
        }
        MediaFeatures(id, bytes.length.toLong, a, e, sp)
      }
    }.toDF().orderBy("doc_id")
  }

  val mmFeatureExtractSql: String =
    """SELECT doc_id,
      |       CAST(strlen(text) AS BIGINT) AS f_len,
      |       CAST(length(text) - length(replace(text, 'a', '')) AS BIGINT) AS f_a,
      |       CAST(length(text) - length(replace(text, 'e', '')) AS BIGINT) AS f_e,
      |       CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT) AS f_space
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Real PNG / JPEG container bytes for doc `id` — the mm-decode-header
    * fixture writer. These are genuine, spec-conformant headers (PNG
    * signature + IHDR with a correct CRC32 + IEND; JPEG SOI + JFIF APP0
    * + SOF0 component table + EOI), not hash-derived fakes: the decode
    * op must find width/height at the offsets the container formats
    * define. Dimensions derive from doc_id so the oracle can state the
    * expected values independently of the parser under test. */
  private[ops] def headerWidth(id: Long): Int = 320 + (id % 13).toInt * 8
  private[ops] def headerHeight(id: Long): Int = 240 + (id % 7).toInt * 16
  private[ops] def mediaBytes(id: Long): Array[Byte] = {
    val w = headerWidth(id)
    val h = headerHeight(id)
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    if ((id / 25) % 2 == 0) {
      // PNG: 8-byte signature, IHDR chunk (13-byte payload, real CRC32
      // over type+payload), empty IEND chunk — 45 bytes total
      out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      def chunk(ctype: String, payload: Array[Byte]): Unit = {
        out.write(be32(payload.length.toLong))
        val body = ctype.getBytes("US-ASCII") ++ payload
        out.write(body)
        val crc = new java.util.zip.CRC32()
        crc.update(body)
        out.write(be32(crc.getValue))
      }
      chunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++
        Array[Byte](8, 2, 0, 0, 0)) // bit depth 8, truecolor, no interlace
      chunk("IEND", Array.emptyByteArray)
    } else {
      // JPEG: SOI, JFIF APP0 (16-byte segment), SOF0 (baseline, 3
      // components), EOI — 41 bytes total
      out.write(Array(0xff, 0xd8).map(_.toByte))
      out.write(Array(0xff, 0xe0).map(_.toByte))
      out.write(be16(16))
      out.write("JFIF".getBytes("US-ASCII")); out.write(0)
      out.write(Array[Byte](1, 2, 0)) // version 1.2, aspect-ratio units
      out.write(be16(1)); out.write(be16(1)) // density 1x1
      out.write(Array[Byte](0, 0)) // no thumbnail
      out.write(Array(0xff, 0xc0).map(_.toByte))
      out.write(be16(17)) // segment length: 2 + 1 + 2 + 2 + 1 + 3*3
      out.write(8) // precision
      out.write(be16(h)); out.write(be16(w)) // SOF stores HEIGHT first
      out.write(3) // components: Y (2x2 subsampled), Cb, Cr
      out.write(Array[Byte](1, 0x22, 0)); out.write(Array[Byte](2, 0x11, 1))
      out.write(Array[Byte](3, 0x11, 1))
      out.write(Array(0xff, 0xd9).map(_.toByte))
    }
    out.toByteArray
  }

  /** mm-decode-header — image header decode from REAL bytes (r10
    * verdict item 6, the stub upgrade): every 25th document is staged
    * as a genuine PNG or JPEG file (spec-conformant signatures, IHDR
    * with valid CRC, JFIF APP0 + SOF0), read back through the
    * binaryFile source, and width/height/format are parsed FROM THE
    * CONTAINER BYTES with pure built-ins — lower(hex(content)) then
    * fixed-offset slices for PNG's IHDR (bytes 17-24) and a marker
    * SCAN for JPEG's SOF0 (instr for 'ffc0', which moves with the APP0
    * segment), hex_slice_long turning each field into an INT. Format
    * is detected from the magic bytes, never from the filename. The
    * oracle states the expected dimensions from the generator formula,
    * so a parser that misreads any offset fails the compare. The
    * mm-decode-stub key stays: it models the synthetic-corpus path
    * where payloads are not containers. Scale shape: one row per file
    * from binaryFile (small-file pressure documented at
    * src-binaryfile), decode is a narrow per-row projection — no
    * shuffle until the final order. */
  val mmDecodeHeader: Q = (s, d) => {
    val dir = new java.io.File(tmp("mm-decode-header", d))
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    val dirPath = dir.getAbsolutePath
    // executor-side staging, one genuine container file per sampled doc
    documents(s, d).filter(col("doc_id") % 25 === 0).select(col("doc_id"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          val id = r.getLong(0)
          java.nio.file.Files.write(
            new java.io.File(dirPath, f"img_$id%06d.img").toPath, mediaBytes(id))
        }
      }
    s.read.format("binaryFile").option("pathGlobFilter", "*.img")
      .load(dirPath)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.img$", 1).cast(LongType).as("doc_id"),
        col("length").as("n_bytes"),
        lower(hex(col("content"))).as("hx"))
      .withColumn("format",
        when(substring(col("hx"), 1, 16) === "89504e470d0a1a0a", "png")
          .when(substring(col("hx"), 1, 4) === "ffd8", "jpeg")
          .otherwise("unknown"))
      .withColumn("sof", expr("instr(hx, 'ffc0')"))
      .select(col("doc_id"), col("format"), col("n_bytes"),
        when(col("format") === "png",
          expr("hex_slice_long(hx, 33, 8)")) // IHDR width: bytes 17-20
          .when(col("format") === "jpeg",
            expr("hex_slice_long(hx, sof + 14, 4)")) // SOF0: len,prec,H, then W
          .cast(IntegerType).as("width"),
        when(col("format") === "png",
          expr("hex_slice_long(hx, 41, 8)")) // IHDR height: bytes 21-24
          .when(col("format") === "jpeg",
            expr("hex_slice_long(hx, sof + 10, 4)"))
          .cast(IntegerType).as("height"))
      .orderBy("doc_id")
  }

  val mmDecodeHeaderSql: String =
    """SELECT doc_id,
      |       CASE WHEN (doc_id // 25) % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
      |       CAST(CASE WHEN (doc_id // 25) % 2 = 0 THEN 45 ELSE 41 END AS BIGINT) AS n_bytes,
      |       CAST(320 + (doc_id % 13) * 8 AS INT) AS width,
      |       CAST(240 + (doc_id % 7) * 16 AS INT) AS height
      |FROM documents
      |WHERE doc_id % 25 = 0
      |ORDER BY doc_id""".stripMargin

  val keys: Seq[Key] = Seq(
    Key("mm-decode-header", mmDecodeHeader, mmDecodeHeaderSql),
    Key("mm-decode-stub", mmDecodeStub, mmDecodeStubSql),
    Key("mm-frame-sample", mmFrameSample, mmFrameSampleSql),
    Key("mm-resize-stub", mmResizeStub, mmResizeStubSql),
    Key("mm-feature-extract", mmFeatureExtract, mmFeatureExtractSql))
}
