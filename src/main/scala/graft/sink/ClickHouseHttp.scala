package graft.sink

import java.io.IOException
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}

import graft.types.CHType
import graft.types.NativeEncoder.{BlockBuilder, encodeSingleRow}

/** ClickHouse HTTP-interface INSERT leg — the sink's wire protocol
  * (the reference reaches ClickHouse through clickhouse-go's native
  * protocol, internal/client/clickhouse.go; the HTTP interface is the
  * public, documented equivalent: POST `INSERT INTO db.table (cols)
  * FORMAT Native` — the same columnar blocks, see
  * [[graft.types.NativeEncoder]] — with the query and per-insert settings
  * in URL parameters, credentials in `X-ClickHouse-User`/`X-ClickHouse-Key`
  * headers, and server faults surfaced as an `X-ClickHouse-Exception-Code`
  * header plus a `Code: NNN. DB::Exception: ...` body that
  * [[ErrorClassifier]] consumes unchanged).
  *
  * Scale shape: the INSERT fans out PER SPARK PARTITION — every executor
  * task POSTs its own rows directly (chunked at [[Config.maxRowsPerPost]]
  * to bound both task memory and server-side block size), so ingest
  * bandwidth scales with the cluster and no row ever funnels through the
  * driver. A task failure rethrows the server's own error code, which
  * reaches [[ClickHouseSink.foreachBatchHandler]] wrapped in Spark's task
  * exception — exactly the chain the classifier's cause-walk handles.
  */
object ClickHouseHttp {

  /** A ClickHouse server fault, message formatted exactly as the server
    * formats it so [[ErrorClassifier.classify]] needs no special case. */
  final case class CHServerException(code: Int, serverMessage: String)
    extends RuntimeException(s"Code: $code. DB::Exception: $serverMessage")

  final case class Config(
    endpoint: String,                          // http://host:8123
    database: String,
    table: String,
    username: String = "default",
    password: String = "",
    /** Per-insert settings passed as URL params (async_insert,
      * wait_for_async_insert, insert_deduplicate, ...). */
    settings: Map[String, String] = Map.empty,
    /** column → ClickHouse type each Native block column declares; a
      * column missing here is declared String. */
    columnTypes: Map[String, String] = Map.empty,
    /** gzip the INSERT body (`Content-Encoding: gzip`, which the server
      * decompresses natively) — trades client CPU for network bytes. */
    compress: Boolean = false,
    maxRowsPerPost: Int = 100000,
    /** Byte budget per POST — flushes at whichever of rows/bytes trips
      * first, so wide rows cannot balloon task memory (100k × 1.5 KB rows
      * is already 150 MB; a row-count bound alone does not bound memory). */
    maxBytesPerPost: Long = 32L << 20,
    connectTimeoutMs: Int = 10000,
    readTimeoutMs: Int = 120000) extends Serializable

  /** Backquote-quote an identifier (reference quote.go — its sink quotes
    * every database/table/column identifier in the INSERT). */
  def quoteId(id: String): String =
    "`" + id.replace("\\", "\\\\").replace("`", "\\`") + "`"

  def insertQuery(c: Config, columns: Seq[String]): String =
    s"INSERT INTO ${quoteId(c.database)}.${quoteId(c.table)} " +
      s"(${columns.map(quoteId).mkString(", ")}) FORMAT Native"

  private def enc(s: String) = URLEncoder.encode(s, "UTF-8")

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length / 4 + 64)
    val gz = new java.util.zip.GZIPOutputStream(out)
    try gz.write(b) finally gz.close()
    out.toByteArray
  }

  /** POST one encoded INSERT body. Server-side faults are NOT
    * retried here — that retry policy belongs to the batch handler, which
    * knows the budget. CONNECTION-level faults (refused/reset/timeout/
    * premature EOF) get ONE bounded in-place retry first: a Spark task
    * under local[*] runs with maxFailures=1, so without it a single
    * transient socket hiccup aborts the whole job. The retry is
    * PHASE-AWARE: it is unconditional only while the fault provably
    * precedes body completion (connect refused, no route, timeout during
    * connect, reset/EOF during the request write — the body has a declared
    * Content-Length, so a server that never received all of it discards
    * the INSERT). A fault AFTER the body was fully written (a read timeout
    * or reset while awaiting/reading the response) leaves the server state
    * unknown — it may already have committed — so the resend runs only
    * when the insert carries `insert_deduplicate=1`, which absorbs an
    * exact duplicate block on Replicated engines (and on non-replicated
    * MergeTree only when `non_replicated_deduplication_window` > 0 — its
    * default 0 makes the setting inert there, which is exactly why the
    * setting's PRESENCE is the opt-in signal: a user who sets it has a
    * table where block dedup is live). Without it the response-phase
    * fault rethrows and the at-least-once engine loop owns the decision. */
  def post(c: Config, query: String, body0: Array[Byte]): Unit = {
    val bodySent = new java.util.concurrent.atomic.AtomicBoolean(false)
    try postOnce(c, query, body0, bodySent)
    catch {
      case e: Exception if isConnectionLevel(e) &&
          (!bodySent.get || dedupAbsorbsResend(c)) =>
        Thread.sleep(100) // let the hiccup pass; bounded, once
        postOnce(c, query, body0,
          new java.util.concurrent.atomic.AtomicBoolean(false))
    }
  }

  /** True when this insert's settings make an exact-duplicate resend a
    * no-op on the server (ClickHouse block-hash dedup, keyed on the insert
    * body + target — the resend reuses the identical byte slab). */
  private[sink] def dedupAbsorbsResend(c: Config): Boolean =
    c.settings.get("insert_deduplicate")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** A transport fault below the HTTP/CH protocol layer — the class of
    * error a retry can address without re-interpreting server state. A
    * parsed server error ([[CHServerException]]) is never connection-level. */
  private[sink] def isConnectionLevel(e: Throwable): Boolean = e match {
    case _: CHServerException => false
    case _: java.net.ConnectException | _: java.net.NoRouteToHostException |
         _: java.net.SocketTimeoutException | _: java.net.SocketException |
         _: java.io.EOFException => true
    case e: IOException =>
      val m = Option(e.getMessage).getOrElse("")
      m.contains("Connection reset") || m.contains("unexpected end of stream") ||
        m.contains("Premature EOF") || m.contains("Error writing to server")
    case _ => false
  }

  /** Write the full request body and flip `bodySent` the moment
    * write+flush succeed — BEFORE close(): close() can itself surface a
    * dead connection, and at that point the full Content-Length body may
    * already sit in the server's socket buffer, i.e. the insert could
    * have committed. Treating a close() fault as pre-body would resend
    * unconditionally and reopen the duplicate-insert hole the
    * phase-aware retry closes. */
  private[sink] def writeBody(os: java.io.OutputStream, body: Array[Byte],
      bodySent: java.util.concurrent.atomic.AtomicBoolean): Unit =
    try { os.write(body); os.flush(); bodySent.set(true) } finally os.close()

  /** One POST attempt. Flips `bodySent` the moment the request body is
    * fully written and flushed to the connection — from that point a
    * fault no longer proves the server didn't commit (see [[post]]). */
  private def postOnce(c: Config, query: String, body0: Array[Byte],
                       bodySent: java.util.concurrent.atomic.AtomicBoolean): Unit = {
    val params = c.settings + ("query" -> query)
    val qs = params.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString("&")
    val url = URI.create(c.endpoint.stripSuffix("/") + "/?" + qs).toURL
    val body = if (c.compress) gzip(body0) else body0
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(c.connectTimeoutMs)
      conn.setReadTimeout(c.readTimeoutMs)
      conn.setRequestProperty("X-ClickHouse-User", c.username)
      if (c.password.nonEmpty) conn.setRequestProperty("X-ClickHouse-Key", c.password)
      conn.setRequestProperty("Content-Type", "application/octet-stream")
      if (c.compress) conn.setRequestProperty("Content-Encoding", "gzip")
      conn.setDoOutput(true)
      conn.setFixedLengthStreamingMode(body.length.toLong)
      writeBody(conn.getOutputStream, body, bodySent)
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val respBody =
        if (stream == null) ""
        else try new String(stream.readAllBytes(), UTF_8) finally stream.close()
      if (status != 200) {
        val code = Option(conn.getHeaderField("X-ClickHouse-Exception-Code"))
          .flatMap(_.trim.toIntOption)
          .orElse("Code:\\s*(\\d+)".r.findFirstMatchIn(respBody).map(_.group(1).toInt))
        code match {
          case Some(n) =>
            // strip the server's own "Code: N. DB::Exception:" prefix so the
            // rethrown message carries it exactly once
            val msg = respBody.linesIterator.nextOption().getOrElse("")
              .replaceFirst("^Code:\\s*\\d+\\.\\s*DB::Exception:\\s*", "")
            throw CHServerException(n, if (msg.nonEmpty) msg else s"HTTP $status")
          case None =>
            throw new IOException(
              s"ClickHouse HTTP insert failed with status $status: " +
                respBody.linesIterator.nextOption().getOrElse(""))
        }
      }
    } finally conn.disconnect()
  }

  /** Spark's default JSON timestamp format is millisecond-precision (SSS)
    * — a dead-lettered DateTime64(6) row's original_message would lose
    * its microseconds. Emit full micros. */
  private val jsonOpts: java.util.Map[String, String] =
    java.util.Map.of("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")

  /** Run a partition-wise poison-row isolation over `df` and return its
    * failures as (jsonRow, error) pairs. `isolate` hands back each failed
    * Row itself; the JSON text — the DLQ's original_message — is encoded
    * only over those rows, never over the rows that landed. */
  private[sink] def failuresAsJson(df: DataFrame)(
      isolate: Iterator[Row] => Iterator[(Row, String)]): Dataset[(String, String)] = {
    import org.apache.spark.sql.functions.{col, to_json}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val failures = StructType(Seq(
      StructField("row", df.schema), StructField("error", StringType)))
    df.mapPartitions(it => isolate(it).map { case (r, e) => Row(r, e) })(
        Encoders.row(failures))
      .select(to_json(col("row"), jsonOpts), col("error"))
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING))
  }

  private def blockTypes(c: Config, names: Seq[String]): Seq[CHType] =
    names.map(n => CHType.parse(c.columnTypes.getOrElse(n, "String")))

  /** The DataFrame write leg: the frame is already in sink shape (mapped
    * columns, target names). Each partition POSTs COLUMNAR blocks — one
    * type dispatch per column per block instead of per value, the layout
    * the server stores without per-row reassembly — slabbed at
    * maxRowsPerPost rows / maxBytesPerPost bytes, whichever trips first.
    * A client-side encode fault rethrows (this path has no isolation —
    * use [[writeIsolating]] for that). */
  def write(c: Config)(df: DataFrame): Unit = {
    val names = df.columns.toSeq
    val types = blockTypes(c, names)
    val query = insertQuery(c, names)
    val conf = c
    df.foreachPartition { (it: Iterator[Row]) =>
      var b = new BlockBuilder(names, types)
      def flush(): Unit = if (b.rowCount > 0) {
        post(conf, query, b.build())
        b = new BlockBuilder(names, types)
      }
      it.foreach { row =>
        b.tryAppend(row).foreach(err => throw new IllegalArgumentException(err))
        if (b.rowCount >= conf.maxRowsPerPost || b.byteSize >= conf.maxBytesPerPost)
          flush()
      }
      flush()
    }
  }

  /** Insert with poison-row isolation — the reference's append-error path
    * (internal/sink/clickhouse.go:536-718: a row the server rejects is
    * dead-lettered ALONE; the rest of the batch replays and lands).
    *
    * Each executor task slabs its own rows into blocks as [[write]] does.
    * A client-side value fault (FixedString overflow, unknown enum value,
    * out-of-range Date) rolls just that row out of the block
    * (BlockBuilder.tryAppend is row-atomic across columns). When a block
    * is rejected with a ROW-DATA fault (parse/convert/range — see
    * [[ErrorClassifier.rowDataFaultCodes]]), the task replays THAT block's
    * rows as single-row blocks: poison rows come back as (jsonRow,
    * serverError) for the caller to dead-letter, every other row lands.
    * Isolation is strictly task-local, so blocks that already landed — in
    * this task or any other — are never re-posted and can't duplicate.
    * Non-data faults (table/auth/overload) rethrow so the batch handler's
    * classify/retry policy governs them — dead-lettering good rows on a
    * dropped table or rotated credential would be unrecoverable; a
    * retryable fault mid-replay likewise rethrows (at-least-once, the
    * reference's NACK-redeliver semantics — pair with
    * insert_deduplicate/idempotency for exactly-once).
    *
    * Returns the failed rows as a DISTRIBUTED Dataset[(jsonRow, serverError)]
    * — never a driver collection: the failure-set size is bounded only by
    * the batch (a mapping edit can poison EVERY row), and the reference
    * dead-letters worker-side for the same reason
    * (internal/processor/dlq_processor.go:35-69). LAZY: the INSERTs execute
    * when the returned Dataset is acted on — act on it exactly once, or
    * persist it first, or blocks will re-POST (at-least-once).
    * [[ClickHouseSink.writeBatchHttp]] does persist + count + distributed
    * DLQ write, returning only counts to the driver. */
  def writeIsolating(c: Config)(df: DataFrame): Dataset[(String, String)] = {
    val names = df.columns.toSeq
    val types = blockTypes(c, names)
    val query = insertQuery(c, names)
    val conf = c
    failuresAsJson(df) { it =>
      val failed = scala.collection.mutable.ArrayBuffer[(Row, String)]()
      var builder = new BlockBuilder(names, types)
      val chunk = scala.collection.mutable.ArrayBuffer[Row]()
      def replayRowwise(): Unit = chunk.foreach { r =>
        try post(conf, query, encodeSingleRow(names, types, r))
        catch {
          case CHServerException(code, msg) if ErrorClassifier.isRowDataFault(code) =>
            failed += ((r, s"Code: $code. DB::Exception: $msg"))
        }
      }
      def flush(): Unit = {
        if (builder.rowCount > 0) {
          try post(conf, query, builder.build())
          catch {
            case CHServerException(code, _) if ErrorClassifier.isRowDataFault(code) =>
              replayRowwise()
          }
        }
        builder = new BlockBuilder(names, types)
        chunk.clear()
      }
      it.foreach { r =>
        builder.tryAppend(r) match {
          case Some(err) => failed += ((r, err))
          case None =>
            chunk += r
            if (builder.rowCount >= conf.maxRowsPerPost ||
              builder.byteSize >= conf.maxBytesPerPost) flush()
        }
      }
      flush()
      failed.iterator
    }
  }

  /** Introspect the target table's schema — `DESCRIBE TABLE db.t FORMAT
    * JSONEachRow` (the query the reference's UI issues,
    * ui/src/app/ui-api/clickhouse/clickhouse-utils.ts:170). Returns
    * (column, declared CH type) pairs; used by the control plane to
    * validate a sink mapping against the REAL table before starting. */
  def describeTable(c: Config): Seq[(String, String)] = {
    val q = s"DESCRIBE TABLE ${quoteId(c.database)}.${quoteId(c.table)} FORMAT JSONEachRow"
    val body = get(c, q)
    // a REAL JSON parse, not a regex: a column type containing an escaped
    // quote (Enum8('a\'b' = 1) is legal CH) splits a regex match and
    // silently drops the column, turning start-time validation into a
    // false "column does not exist"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val it = mapper.readerFor(classOf[com.fasterxml.jackson.databind.JsonNode])
      .readValues[com.fasterxml.jackson.databind.JsonNode](body)
    try {
      val out = Seq.newBuilder[(String, String)]
      while (it.hasNext) {
        val n = it.next()
        if (n.hasNonNull("name") && n.hasNonNull("type"))
          out += (n.get("name").asText() -> n.get("type").asText())
      }
      out.result()
    } finally it.close()
  }

  /** POST a read-only query and return the response body. */
  private def get(c: Config, query: String): String = {
    val url = URI.create(c.endpoint.stripSuffix("/") + "/?query=" + enc(query)).toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(c.connectTimeoutMs)
      conn.setReadTimeout(c.readTimeoutMs)
      conn.setRequestProperty("X-ClickHouse-User", c.username)
      if (c.password.nonEmpty) conn.setRequestProperty("X-ClickHouse-Key", c.password)
      conn.setDoOutput(true)
      conn.getOutputStream.close()
      val status = conn.getResponseCode
      val stream = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val body = if (stream == null) ""
        else try new String(stream.readAllBytes(), UTF_8) finally stream.close()
      if (status != 200) {
        val code = Option(conn.getHeaderField("X-ClickHouse-Exception-Code"))
          .flatMap(_.trim.toIntOption).getOrElse(1000)
        throw CHServerException(code,
          body.linesIterator.nextOption().getOrElse(s"HTTP $status")
            .replaceFirst("^Code:\\s*\\d+\\.\\s*DB::Exception:\\s*", ""))
      }
      body
    } finally conn.disconnect()
  }

  /** Server liveness + auth probe (`SELECT 1`): the control plane checks
    * the connection before activating a pipeline. */
  def ping(c: Config): Unit = { get(c, "SELECT 1"); () }

  /** POST a read query and return the response body as a LIVE stream —
    * the scan leg decodes `FORMAT Native` blocks off it one at a time, so
    * a partition covering gigabytes of table never materializes its
    * response (peak memory = one block). The request advertises
    * `Accept-Encoding: gzip` and carries `enable_http_compression=1`, the
    * public pair that makes the server gzip the response; a gzipped body
    * is transparently inflated here (still streaming — GZIPInputStream is
    * a filter). Closing the returned stream releases the connection; a
    * non-200 answer throws before anything is returned ([[CHServerException]]
    * when the server sent a code). */
  def queryStream(c: Config, query: String): java.io.InputStream = {
    // the QUERY travels as the POST body, not a URL parameter: a runtime
    // filter can compile into an IN list over thousands of join keys, and
    // URLs have practical length ceilings that a request body does not
    // (the server reads the query from the body up to max_query_size) —
    // settings stay URL params as on every other request
    // server-side gzip is the DEFAULT (the response body is the heavy
    // half of a scan) but user settings WIN: settings.enable_http_compression=0
    // must actually opt out of the server's compression CPU — and then
    // the request must not advertise Accept-Encoding either, or the
    // server may compress anyway
    val params = Map("enable_http_compression" -> "1") ++ c.settings
    val gzipOn = params.get("enable_http_compression").exists(v => v == "1" || v == "true")
    val qs = params.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}=${enc(v)}" }
      .mkString("&")
    val url = URI.create(c.endpoint.stripSuffix("/") + "/?" + qs).toURL
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    var ok = false
    try {
      conn.setRequestMethod("POST")
      conn.setConnectTimeout(c.connectTimeoutMs)
      conn.setReadTimeout(c.readTimeoutMs)
      conn.setRequestProperty("X-ClickHouse-User", c.username)
      if (c.password.nonEmpty) conn.setRequestProperty("X-ClickHouse-Key", c.password)
      if (gzipOn) conn.setRequestProperty("Accept-Encoding", "gzip")
      conn.setDoOutput(true)
      val qb = query.getBytes(UTF_8)
      conn.setFixedLengthStreamingMode(qb.length.toLong)
      val os = conn.getOutputStream
      try { os.write(qb); os.flush() } finally os.close()
      val status = conn.getResponseCode
      if (status != 200) {
        val es = conn.getErrorStream
        val text = if (es == null) ""
          else try new String(es.readAllBytes(), UTF_8) finally es.close()
        val code = Option(conn.getHeaderField("X-ClickHouse-Exception-Code"))
          .flatMap(_.trim.toIntOption).getOrElse(1000)
        throw CHServerException(code,
          text.linesIterator.nextOption().getOrElse(s"HTTP $status")
            .replaceFirst("^Code:\\s*\\d+\\.\\s*DB::Exception:\\s*", ""))
      }
      val raw = conn.getInputStream
      val body =
        if (Option(conn.getHeaderField("Content-Encoding")).exists(_.contains("gzip")))
          new java.util.zip.GZIPInputStream(raw, 1 << 16)
        else raw
      ok = true
      // closing must also release the underlying connection
      new java.io.FilterInputStream(body) {
        override def close(): Unit =
          try super.close() finally conn.disconnect()
      }
    } finally if (!ok) conn.disconnect()
  }

}
