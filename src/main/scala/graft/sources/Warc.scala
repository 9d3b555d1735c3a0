package graft.sources

import java.io.ByteArrayOutputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** WARC (Web ARChive, ISO 28500) shard source — the raw-crawl front
  * door: every 100 TB LLM corpus starts as WARC files (Common Crawl
  * ships ~100k `.warc.gz` shards per snapshot), and the SHARD is the
  * unit of parallelism exactly as for tar/TFRecord shards — a reader
  * streams whole files sequentially, never seeking, so throughput is
  * pure sequential I/O and work distributes by handing different
  * shards to different executors.
  *
  * Dependency-free, both halves (the [[TarShards]]/[[TfRecords]]
  * discipline):
  *
  *   - [[writeShards]] packs (shard, doc_id, url, html) page rows into
  *     `shard-NNNNN.warc` / `.warc.gz` files, assembled executor-side:
  *     one `warcinfo` record then one `response` record per page, each
  *     response wrapping a full HTTP/1.1 response (status line +
  *     headers + body) under `Content-Type: application/http;
  *     msgtype=response` — the layout real crawlers emit. Odd shards
  *     are gzipped ONE MEMBER PER RECORD (the real `.warc.gz`
  *     convention: per-record members keep records independently
  *     seekable), even shards stay plain, so one fixture corpus
  *     exercises both codec paths like a real mixed crawl bucket.
  *   - [[readRecords]] streams one shard per task through the Hadoop
  *     FS API, detects gzip by magic bytes (GZIPInputStream consumes
  *     concatenated members transparently), and walks the record
  *     structure INCREMENTALLY off the open stream: WARC header block
  *     → `Content-Length` → payload → record separator;
  *     `application/http` payloads are further parsed into status /
  *     headers / body. Per-task memory is bounded by one record, so a
  *     multi-GB decompressed shard reads in constant space.
  *
  * A record whose framing is corrupt fails loudly (`require`) rather
  * than resynchronizing silently — at ingest scale a quarantine pass
  * belongs upstream, and a reader that invents record boundaries
  * poisons every downstream count.
  */
object Warc {

  /** Pages per shard (the real knob is ~1 GB of shard bytes; a page
    * count keeps the fixture deterministic). */
  val PagesPerShard = 100

  private val Crlf = "\r\n"

  /** One parsed record: `http_status` is 0 and `content_type`/`body`
    * empty for non-http records (warcinfo); `target_uri` empty when
    * the header is absent. `http_x_robots` is the `X-Robots-Tag`
    * response header ("" when absent) — the server-side robots
    * directive a compliant pipeline must honor before any content
    * processing (the in-page `<meta name=robots>` counterpart is
    * parsed from the body by [[graft.operators.HtmlText.metaRobots]]). */
  case class WarcRecord(file: String, record_id: String, warc_type: String,
                        target_uri: String, http_status: Long,
                        http_content_type: String, http_x_robots: String,
                        body: Array[Byte])

  /** Serialize one WARC record: named headers + Content-Length +
    * blank line + payload + the two-CRLF record separator. */
  private def record(headers: Seq[(String, String)],
                     payload: Array[Byte]): Array[Byte] = {
    val head = (Seq("WARC/1.0") ++
      headers.map { case (k, v) => s"$k: $v" } ++
      Seq(s"Content-Length: ${payload.length}", "", ""))
      .mkString(Crlf).getBytes("UTF-8")
    head ++ payload ++ (Crlf + Crlf).getBytes("UTF-8")
  }

  /** The file-level `warcinfo` record every conformant WARC opens
    * with. Deterministic date: fixture files must be byte-stable. */
  private[graft] def warcinfoRecord(filename: String): Array[Byte] = {
    val info = s"software: graft$Crlf" + s"format: WARC File Format 1.0$Crlf"
    record(Seq(
      "WARC-Type" -> "warcinfo",
      "WARC-Record-ID" -> s"<urn:graft:warcinfo:$filename>",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "WARC-Filename" -> filename,
      "Content-Type" -> "application/warc-fields"),
      info.getBytes("UTF-8"))
  }

  private val StatusReason = Map(200 -> "OK", 301 -> "Moved Permanently",
    302 -> "Found", 304 -> "Not Modified", 404 -> "Not Found",
    500 -> "Internal Server Error", 503 -> "Service Unavailable")

  /** One `response` record wrapping a full HTTP/1.1 response.
    * `extraHttp` is raw pre-joined header lines (`K: V` CRLF-joined,
    * "" = none) — how a fixture plants e.g. `X-Robots-Tag`. */
  private[graft] def responseRecord(docId: Long, uri: String, html: Array[Byte],
                                    contentType: String = "text/html; charset=utf-8",
                                    extraHttp: String = "",
                                    status: Int = 200)
      : Array[Byte] = {
    val extra = if (extraHttp.isEmpty) "" else extraHttp + Crlf
    val reason = StatusReason.getOrElse(status, "Status")
    val http = (s"HTTP/1.1 $status $reason$Crlf" +
      s"Content-Type: $contentType$Crlf" + extra +
      s"Content-Length: ${html.length}$Crlf" + Crlf).getBytes("UTF-8") ++ html
    record(Seq(
      "WARC-Type" -> "response",
      "WARC-Record-ID" -> s"<urn:graft:doc-$docId>",
      "WARC-Date" -> "2026-01-01T00:00:00Z",
      "WARC-Target-URI" -> uri,
      "Content-Type" -> "application/http; msgtype=response"),
      http)
  }

  /** One gzip member (own header+trailer) — concatenated members are
    * the `.warc.gz` convention and what GZIPInputStream reads back
    * transparently. Java's gzip header is byte-deterministic (MTIME
    * 0), so fixture shards are stable across builds. */
  private def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(bytes.length / 2 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  /** Pack page rows (`shard` long, `doc_id` long, `url` string,
    * `html` string) into `shard-NNNNN.warc[.gz]` files, one file per
    * shard group, assembled and written executor-side through the
    * Hadoop FS API (distributed exactly like a real crawler's shard
    * writers). Records are laid out in doc_id order within a shard.
    * Odd shards gzip per-record; even shards are plain. */
  def writeShards(spark: SparkSession, pages: DataFrame, outDir: String): Unit =
    writeShardsEncoded(spark,
      pages.select(col("shard"), col("doc_id"), col("url"),
        lit("text/html; charset=utf-8").as("content_type"),
        encode(col("html").cast("string"), "UTF-8").as("body"),
        lit("").as("x_headers"), lit(200).as("status")), outDir)

  /** As [[writeShards]] but with caller-ENCODED bodies: (`shard` long,
    * `doc_id` long, `url` string, `content_type` string, `body`
    * binary, `x_headers` string — extra raw HTTP header lines,
    * CRLF-joined, "" = none, `status` int — the HTTP status line) rows
    * — the shape a real crawler writes, where each page carries its
    * own Content-Type (charset included), arbitrary response headers
    * (`X-Robots-Tag`, caching, …), its fetch status (real crawls are
    * full of 3xx/4xx/5xx responses a pipeline must filter, not just
    * 200s) and the body bytes are whatever the origin served (a
    * charset zoo, not UTF-8). */
  def writeShardsEncoded(spark: SparkSession, pages: DataFrame, outDir: String): Unit = {
    import spark.implicits._
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    pages.select(col("shard").cast("long"), col("doc_id").cast("long"),
        col("url").cast("string"), col("content_type").cast("string"),
        col("body").cast("binary"), col("x_headers").cast("string"),
        col("status").cast("int"))
      .as[(Long, Long, String, String, Array[Byte], String, Int)]
      .groupByKey(_._1)
      .mapGroups { (shard: Long, it: Iterator[(Long, Long, String, String, Array[Byte], String, Int)]) =>
        val gz = shard % 2 == 1
        val name = f"shard-$shard%05d.warc" + (if (gz) ".gz" else "")
        val records = warcinfoRecord(name) +:
          it.toSeq.sortBy(_._2).map { case (_, id, url, ctype, body, xh, st) =>
            responseRecord(id, url, body, ctype, xh, st) }
        val bytes =
          if (gz) records.flatMap(gzipMember(_)).toArray
          else records.flatten.toArray
        val p = new Path(outDir, name)
        val fs = p.getFileSystem(confBc.value.value)
        val os = fs.create(p, true)
        try os.write(bytes) finally os.close()
        shard
      }
      .count()
    ()
  }

  /** Bytes of body head sniffed for an HTML `<meta charset>`. */
  val MetaSniffBytes = 1024

  private val CharsetParamRe = "(?i)charset\\s*=\\s*[\"']?([A-Za-z0-9_.:\\-]+)".r
  private val MetaCharsetRe = "(?i)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_.:\\-]+)".r

  private def charsetNamed(name: String): Option[java.nio.charset.Charset] =
    try Some(java.nio.charset.Charset.forName(name))
    catch { case _: IllegalArgumentException => None }

  /** Charset of an HTTP response body: the Content-Type `charset=`
    * parameter when present, else an HTML `<meta ... charset=...>`
    * sniffed from the first [[MetaSniffBytes]] body bytes (viewed
    * latin-1 — the byte-transparent decoding, the HTML5 sniffing
    * convention), else UTF-8. Unknown/garbage charset labels fall back
    * to UTF-8 rather than killing the task: real crawls carry both. */
  def charsetOf(contentType: String, body: Array[Byte]): java.nio.charset.Charset =
    CharsetParamRe.findFirstMatchIn(contentType)
      .flatMap(m => charsetNamed(m.group(1)))
      .orElse {
        val head = new String(body, 0, math.min(body.length, MetaSniffBytes), "ISO-8859-1")
        MetaCharsetRe.findFirstMatchIn(head).flatMap(m => charsetNamed(m.group(1)))
      }
      .getOrElse(java.nio.charset.StandardCharsets.UTF_8)

  /** Decode an HTTP body with its declared charset ([[charsetOf]]):
    * (lowercase canonical charset name, decoded text). Decoding
    * non-UTF-8 crawl pages as UTF-8 silently destroys every non-ASCII
    * character (each high byte becomes U+FFFD), which poisons dedup
    * signatures, n-gram language ID, and the extracted corpus itself
    * — this is the front door's charset gate (q265). */
  def decodeBody(contentType: String, body: Array[Byte]): (String, String) = {
    val cs = charsetOf(contentType, body)
    (cs.name.toLowerCase(java.util.Locale.ROOT), new String(body, cs))
  }

  /** Find the index of the first CRLFCRLF at/after `from`; -1 if none. */
  private def blankLine(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** Incremental record iterator over one (already-decompressed) WARC
    * byte stream. Per-record memory is ONE header block + ONE payload
    * — never the decompressed shard: a real Common Crawl shard is
    * ~1 GB gzipped / several GB raw, which no per-task byte array can
    * hold (and which the JVM's 2 GB array limit caps outright), so the
    * reader consumes the stream record by record. Framing failures
    * stay loud (`require`), same contract as the whole-buffer parser
    * this replaces. Closes `in0` at EOF. */
  private[graft] def recordIterator(file: String,
                                    in0: java.io.InputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private val in = new java.io.BufferedInputStream(in0, 65536)
      private var nextRec: WarcRecord = _
      private var eof = false

      /** Read up to and including the CRLFCRLF header terminator
        * (first byte already consumed as `first`); returns the header
        * bytes without the terminator. */
      private def readHeaderBlock(first: Int): Array[Byte] = {
        val bos = new ByteArrayOutputStream(512)
        var b = first
        var state = 0 // matched prefix length of \r\n\r\n
        while (state < 4) {
          require(b >= 0, s"$file: unterminated WARC header block (EOF inside headers)")
          bos.write(b)
          state = b match {
            case '\r' => if (state == 2) 3 else 1
            case '\n' => if (state == 1) 2 else if (state == 3) 4 else 0
            case _ => 0
          }
          if (state < 4) b = in.read()
        }
        val arr = bos.toByteArray
        java.util.Arrays.copyOf(arr, arr.length - 4)
      }

      private def readFully(len: Int): Array[Byte] = {
        val buf = new Array[Byte](len)
        var off = 0
        while (off < len) {
          val n = in.read(buf, off, len - off)
          require(n >= 0, s"$file: record truncated (wants $len payload bytes, got $off)")
          off += n
        }
        buf
      }

      private def advance(): Unit = {
        // skip inter-record CRLFs
        var b = in.read()
        while (b == '\r' || b == '\n') b = in.read()
        if (b < 0) { eof = true; in.close(); return }
        val headLines = new String(readHeaderBlock(b), "UTF-8").split(Crlf)
        require(headLines.headOption.exists(_.startsWith("WARC/")),
          s"$file: record does not start with a WARC version line")
        val headers = headLines.tail.flatMap { l =>
          val i = l.indexOf(':')
          if (i < 0) None else Some(l.take(i).trim -> l.drop(i + 1).trim)
        }.toMap
        val len = headers.getOrElse("Content-Length",
          sys.error(s"$file: record has no Content-Length")).toInt
        val payload = readFully(len)
        val wtype = headers.getOrElse("WARC-Type", "")
        val (status, ctype, xRobots, body) =
          if (headers.get("Content-Type").exists(_.startsWith("application/http")))
            parseHttp(file, payload)
          else (0L, "", "", Array.empty[Byte])
        nextRec = WarcRecord(file, headers.getOrElse("WARC-Record-ID", ""), wtype,
          headers.getOrElse("WARC-Target-URI", ""), status, ctype, xRobots, body)
      }

      override def hasNext: Boolean = {
        if (nextRec == null && !eof) advance()
        nextRec != null
      }
      override def next(): WarcRecord = {
        if (!hasNext) throw new NoSuchElementException(s"$file: past last WARC record")
        val r = nextRec; nextRec = null; r
      }
    }

  /** Split an HTTP response payload into (status, content-type,
    * x-robots-tag, body). */
  private def parseHttp(file: String,
                        payload: Array[Byte]): (Long, String, String, Array[Byte]) = {
    val hdrEnd = blankLine(payload, 0)
    require(hdrEnd >= 0, s"$file: http payload has no header terminator")
    val lines = new String(payload, 0, hdrEnd, "UTF-8").split(Crlf)
    val statusLine = lines.head.split(" ")
    require(statusLine.length >= 2 && statusLine(0).startsWith("HTTP/"),
      s"$file: malformed http status line '${lines.head}'")
    val ctype = lines.tail.collectFirst {
      case l if l.toLowerCase.startsWith("content-type:") => l.drop(13).trim
    }.getOrElse("")
    val xRobots = lines.tail.collectFirst {
      case l if l.toLowerCase.startsWith("x-robots-tag:") => l.drop(13).trim
    }.getOrElse("")
    (statusLine(1).toLong, ctype, xRobots,
      java.util.Arrays.copyOfRange(payload, hdrEnd + 4, payload.length))
  }

  /** Record rows from every `*.warc` / `*.warc.gz` under `dir`; one
    * task streams one shard through the Hadoop FS API (sequential
    * reads, no seeks), records parsed INCREMENTALLY off the open
    * stream — per-task memory is one record, not one decompressed
    * shard (binaryFile would materialize the whole file and caps
    * content at 2 GB; real crawl shards decompress to several GB).
    * Gzip is detected by magic bytes on the stream head, so mixed
    * plain/gzip buckets and misnamed files both read correctly;
    * GZIPInputStream consumes concatenated per-record members
    * transparently. */
  def readRecords(spark: SparkSession, dir: String): Dataset[WarcRecord] = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))
    val fs = new Path(dir).getFileSystem(hconf)
    val paths = Option(fs.globStatus(new Path(dir, "*.warc*")))
      .getOrElse(Array.empty)
      .map(_.getPath.toString).sorted.toSeq
    spark.createDataset(
      spark.sparkContext.parallelize(paths, math.max(1, paths.length)))
      .flatMap { pathStr =>
        val p = new Path(pathStr)
        val file = p.getName
        val raw = new java.io.BufferedInputStream(
          p.getFileSystem(confBc.value.value).open(p), 65536)
        // gzip magic (1f 8b) on the stream head, without consuming it
        raw.mark(2)
        val b0 = raw.read(); val b1 = raw.read()
        raw.reset()
        val in: java.io.InputStream =
          if (b0 == 0x1f && b1 == 0x8b) new GZIPInputStream(raw, 65536) else raw
        recordIterator(file, in)
      }
  }
}
