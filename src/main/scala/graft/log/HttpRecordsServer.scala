package graft.log

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model._
import graft.streaming.ReadSession

/** HTTP v1 **records serving** — the reference's day-one client
  * surface (lite/src/handlers/v1/records.rs:30-36; paths.rs
  * `/streams/{stream}/records[...]`) at lite fidelity over the JDK
  * HttpServer, the same zero-dependency harness as
  * [[HttpObjectServer]] (which serves the storage BACKEND protocol;
  * this server serves the CLIENT records API in front of a
  * [[StreamStore]]):
  *
  *  - `GET /v1/streams/{stream}/records/tail` → TailResponse JSON
  *    (records.rs:117-127).
  *  - `POST /v1/streams/{stream}/records` → unary append: JSON
  *    AppendInput (`records: [{timestamp?, headers: [[n,v]...],
  *    body}]`, `match_seq_num?`, `fencing_token?`) → 200 AppendAck
  *    `{start, end, tail}`; 412 + AppendConditionFailed
  *    (`{"seq_num_mismatch": n}` / `{"fencing_token_mismatch": t}`,
  *    records.rs:356, api AppendConditionFailed) on a failed
  *    condition; 404/409/400 per error class.
  *  - `GET /v1/streams/{stream}/records` → unary read (JSON ReadBatch
  *    `{records, tail}`; long-poll via `wait`, clamped to 60 s like
  *    MAX_UNARY_READ_WAIT, handlers/v1/mod.rs:14) — or, with
  *    `Accept: text/event-stream`, an SSE session: `batch` events
  *    whose `id:` carries `seq_num,count,bytes` (sse.rs LastEventId),
  *    `ping` heartbeats with the tail, a terminal `data: [DONE]`, and
  *    `Last-Event-ID` reconnect resume — start := seq+1, count/bytes
  *    budgets decremented (records.rs:49-65 apply_last_event_id).
  *    Query params: one of `seq_num`/`timestamp`/`tail_offset`, plus
  *    `clamp`, `count`, `bytes`, `until`, `wait` (seconds).
  *
  * Basin is addressed by the `s2-basin` header (common basin.rs:13);
  * record body/header encoding by `s2-format`: `raw` (UTF-8, default)
  * or `base64` (api data::Format). An encryption key may be supplied
  * via `s2-encryption-key` (base64, 32 bytes) exactly where the
  * reference takes S2_ENCRYPTION_KEY_HEADER.
  *
  * The S2S framed session mode is served too (round 18): a request
  * whose content type has the `s2s` prefix selects it, exactly like the
  * reference extractor (extract.rs:54-95) — POST becomes a framed
  * APPEND SESSION (each input frame = one AppendInput, pipelined
  * through [[AppendSession]], one ack frame per input in submission
  * order, terminal frame on failure; records.rs:405-455), GET a
  * framed READ SESSION (one frame per batch, heartbeats as empty
  * ReadBatch frames, clean close on limit exhaustion;
  * records.rs:266-293). Framing is byte-exact to the reference
  * (3-byte length + flag byte, per-frame gzip >= 1 KiB negotiated by
  * Accept-Encoding); `s2s/proto` payloads are real protobuf
  * ([[ProtoCodec]], the prost wire shapes), `s2s/json` a retained
  * JSON-payload extension. The UNARY record routes likewise
  * negotiate protobuf bodies via `application/protobuf` /
  * `application/x-protobuf` Content-Type (request) and Accept
  * (response), defaulting to JSON (extract.rs:95-121, mime.rs:41-46);
  * error bodies stay JSON ErrorInfo in every encoding.
  *
  * The same server also carries the v1 CATALOG surface — the other
  * two non-stub handler files in the reference's lite router
  * (handlers/v1/mod.rs:24-30; access-tokens, metrics and locations
  * handlers are NotImplemented there):
  *
  *  - `/v1/basins`: GET list (prefix/start_after/limit →
  *    ListBasinsResponse), POST create (CreateBasinRequest; 201 +
  *    `s2-provision-result: created|noop`, idempotent retry via the
  *    `s2-request-token` header, basins.rs:60-120).
  *  - `/v1/basins/{basin}`: GET config, PUT ensure (201 created /
  *    200 updated|noop + provision header), DELETE (202 Accepted),
  *    PATCH reconfigure (tri-state `Maybe` fields — absent keeps,
  *    null resets, value sets; basins.rs:122-274).
  *  - `/v1/streams` (basin via `s2-basin`): GET list →
  *    ListStreamsResponse, POST create → 201 StreamInfo
  *    (streams.rs:18-150).
  *  - `/v1/streams/{stream}`: GET merged config / PUT ensure /
  *    DELETE / PATCH reconfigure (streams.rs:152-340).
  *
  * Serving is read-session-driven: the SSE loop runs the repo's
  * [[ReadSession]] wait-budget machine (R8), so heartbeat cadence,
  * wait expiry and limit accounting are the single implementation the
  * rest of the engine already proves.
  */
object HttpRecordsServer {

  private val BasinHeader = "S2-basin"
  private val FormatHeader = "S2-format"
  private val KeyHeader = "S2-encryption-key"
  private val RequestTokenHeader = "S2-request-token"
  private val ProvisionHeader = "S2-provision-result"

  // -------------------------------------------------------------------
  // JSON encoding (api/src/v1/stream/json.rs shapes)
  // -------------------------------------------------------------------

  private def jsonEsc(s: String): String = {
    val b = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.toString
  }

  private def encodeBytes(base64: Boolean, bytes: Array[Byte]): String =
    if (base64) Base64.getEncoder.encodeToString(bytes)
    else new String(bytes, UTF_8)

  private def decodeBytes(base64: Boolean, s: String): Array[Byte] =
    if (base64) Base64.getDecoder.decode(s) else s.getBytes(UTF_8)

  private def posJson(p: StreamPosition): String =
    s"""{"seq_num":${p.seqNum},"timestamp":${p.timestamp}}"""

  private def recordJson(base64: Boolean, r: SequencedRecord): String = {
    val hs =
      if (r.headers.isEmpty) ""
      else r.headers.map(h =>
        s"""["${jsonEsc(encodeBytes(base64, h.name))}","${jsonEsc(encodeBytes(base64, h.value))}"]""")
        .mkString(""","headers":[""", ",", "]")
    val body =
      if (r.body.isEmpty) ""
      else s""","body":"${jsonEsc(encodeBytes(base64, r.body))}""""
    s"""{"seq_num":${r.seqNum},"timestamp":${r.timestamp}$hs$body}"""
  }

  private def batchJson(base64: Boolean, records: Seq[SequencedRecord],
                        tail: Option[StreamPosition]): String = {
    val t = tail.fold("")(p => s""","tail":${posJson(p)}""")
    s"""{"records":[${records.map(recordJson(base64, _)).mkString(",")}]$t}"""
  }

  private def errJson(code: String, message: String): String =
    s"""{"code":"$code","message":"${jsonEsc(message)}"}"""

  /** True iff the failure is an AEAD auth failure (wrong key / corrupt
    * record) anywhere in the cause/suppressed graph — serving reads
    * (StreamStore.readBatch, on the driver) throw it bare, while
    * plan-level decryption (StreamStore.read) surfaces it wrapped in
    * Spark's task-failure exceptions, which preserve causes (and park
    * secondary failures in suppressed). The check is by exception TYPE, never message
    * text — an unrelated error merely mentioning the class name must
    * not read as a key failure. Maps to the reference's
    * `decryption_failed` error (records.rs wrong-key test: 400 +
    * "record decryption failed"). */
  private def decryptionFailure(t: Throwable): Boolean = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
    def walk(c: Throwable, depth: Int): Boolean =
      c != null && depth < 16 && seen.add(c) && (
        c.isInstanceOf[javax.crypto.AEADBadTagException] ||
          // narrowly-scoped message fallback for Spark's task-failure
          // wrapper ONLY: a serialized executor exception re-thrown
          // message-only severs the cause chain, and the wrapper's
          // message then carries the original class name. Any other
          // exception type merely mentioning the class must still NOT
          // read as a key failure.
          (c.isInstanceOf[org.apache.spark.SparkException] &&
            Option(c.getMessage).exists(
              _.contains("AEADBadTagException"))) ||
          walk(c.getCause, depth + 1) ||
          c.getSuppressed.exists(walk(_, depth + 1)))
    walk(t, 0)
  }

  private val DecryptionFailedBody: String =
    errJson("decryption_failed", "record decryption failed")

  // -------------------------------------------------------------------
  // Request parsing
  // -------------------------------------------------------------------

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.contains('=')).map { kv =>
        val i = kv.indexOf('=')
        kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
      }.toMap

  private final case class BadRequest(msg: String) extends RuntimeException(msg)

  /** Semantic validation failure (well-formed request, invalid
    * values): the reference's ErrorCode::Invalid / JSON DataError
    * class, answered 422 UNPROCESSABLE_ENTITY (api/src/v1/error.rs:76,
    * data.rs classify_sonic_error TypeUnmatched/NotFound→422) — as
    * opposed to BadRequest's 400 for malformed syntax, queries and
    * headers (BadJson-syntax/BadQuery/BadHeader). */
  private final case class Invalid(msg: String) extends RuntimeException(msg)

  /** Authorization failure: 401 (no/unknown/expired bearer) or 403
    * (live token, operation or resource out of scope). */
  private final case class Denied(code: Int, msg: String)
    extends RuntimeException(msg)

  /** JSON SYNTAX errors are 400 (the reference's SyntaxError class,
    * data.rs classify_sonic_error default arm); shape/type errors on a
    * parsed document are the 422 Invalid class. */
  private def parseJson(s: String): JValue =
    try JsonMethods.parse(s)
    catch { case e: Exception => throw BadRequest(s"malformed json: ${e.getMessage}") }

  private def parseStart(q: Map[String, String]): ReadStart = {
    val picks = Seq("seq_num", "timestamp", "tail_offset").filter(q.contains)
    if (picks.size > 1) throw Invalid(
      "only one of seq_num, timestamp, or tail_offset can be provided")
    val from = picks.headOption match {
      case Some("timestamp") => ReadFrom.Timestamp(q("timestamp").toLong)
      case Some("tail_offset") => ReadFrom.TailOffset(q("tail_offset").toLong)
      case _ => ReadFrom.SeqNum(q.getOrElse("seq_num", "0").toLong)
    }
    ReadStart(from, clamp = q.get("clamp").contains("true"))
  }

  private def parseAppendInput(json: String, base64: Boolean): AppendInput = {
    val root = parseJson(json)
    val recs = root \ "records" match {
      case JArray(rs) => rs
      case _ => throw Invalid("records array required")
    }
    val parsed = recs.map { r =>
      val headers = r \ "headers" match {
        case JArray(hs) => hs.map {
          case JArray(List(JString(n), JString(v))) =>
            Header(decodeBytes(base64, n), decodeBytes(base64, v))
          case other => throw Invalid(s"malformed header: $other")
        }
        case JNothing => Nil
        case other => throw Invalid(s"malformed headers: $other")
      }
      val body = r \ "body" match {
        case JString(s) => decodeBytes(base64, s)
        case JNothing => Array.emptyByteArray
        case other => throw Invalid(s"malformed body: $other")
      }
      val ts = r \ "timestamp" match {
        case JInt(t) => Some(t.toLong)
        case JLong(t) => Some(t)
        case JNothing => None
        case other => throw Invalid(s"malformed timestamp: $other")
      }
      (EnvelopeRecord(headers, body), ts)
    }
    AppendInput(
      records = parsed.map(_._1),
      matchSeqNum = root \ "match_seq_num" match {
        case JInt(n) => Some(n.toLong)
        case JLong(n) => Some(n)
        case _ => None
      },
      fencingToken = root \ "fencing_token" match {
        case JString(t) => Some(t)
        case _ => None
      },
      clientTimestamps = parsed.map(_._2))
  }

  /** Last-Event-ID: `seq_num,count,bytes` (sse.rs:32-74). */
  private def parseLastEventId(s: String): (Long, Long, Long) =
    s.split(',') match {
      case Array(a, b, c) => (a.trim.toLong, b.trim.toLong, c.trim.toLong)
      case _ => throw BadRequest(s"invalid Last-Event-ID: $s")
    }

  // -------------------------------------------------------------------
  // Shared response plumbing
  // -------------------------------------------------------------------

  /** Accept-Encoding across ALL header values — the reference's
    * from_accept_encoding iterates get_all (s2s.rs:69); the JDK
    * server may split repeated headers into separate entries. */
  private def acceptEncodingOf(ex: HttpExchange): Option[String] = {
    val vs = ex.getRequestHeaders.get("Accept-Encoding")
    if (vs == null || vs.isEmpty) None
    else Some(String.join(",", vs))
  }

  /** Unary response write, with the reference's router-wide
    * compression layer (handlers/v1/mod.rs:17-29): compressed when
    * the client's Accept-Encoding negotiates an algorithm AND the
    * body reaches 1 KiB (SizeAbove(1024)) — zstd preferred over gzip,
    * the reference's own negotiation order (compression-zstd in
    * lite/Cargo.toml:56; s2s.rs from_accept_encoding). SSE and S2S
    * responses never pass through here — they stream their own bodies
    * — which realizes the NotForContentType(SSE)/NotForContentType
    * (s2s) predicate structurally (S2S does its own per-frame
    * compression instead). */
  private def respond(ex: HttpExchange, code: Int,
                      body: Array[Byte] = Array.emptyByteArray,
                      contentType: String = "application/json"): Unit = {
    val algo =
      if (body.length >= S2sCodec.CompressionThreshold)
        S2sCodec.negotiated(acceptEncodingOf(ex))
      else S2sCodec.CompNone
    val out = algo match {
      case S2sCodec.CompZstd =>
        ex.getResponseHeaders.set("Content-Encoding", "zstd")
        S2sCodec.zstd(body)
      case S2sCodec.CompGzip =>
        ex.getResponseHeaders.set("Content-Encoding", "gzip")
        val bos = new java.io.ByteArrayOutputStream(body.length / 2 + 64)
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(body); g.close()
        bos.toByteArray
      case _ => body
    }
    if (out.nonEmpty)
      ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (out.isEmpty) -1 else out.length.toLong)
    if (out.nonEmpty) ex.getResponseBody.write(out)
    ex.close()
  }

  /** Unary request body, with the reference's request-decompression
    * layer (handlers/v1/mod.rs:30-33): a `Content-Encoding: gzip` or
    * `zstd` body is inflated (bounded — a batch is ≤ 1 MiB metered,
    * so 16 MiB of JSON+base64 expansion is generous; zstd is what the
    * reference SDK sends when compression is on, sdk/src/client.rs:
    * 674); an encoding the layer doesn't support answers 415,
    * matching tower-http's RequestDecompressionLayer. */
  private def requestBytes(ex: HttpExchange): Array[Byte] = {
    val raw = ex.getRequestBody.readAllBytes()
    Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
      .map(_.trim.toLowerCase) match {
      case None | Some("identity") | Some("") => raw
      case Some("gzip") =>
        try S2sCodec.gunzip(raw, 16 * 1024 * 1024)
        catch {
          case _: java.io.IOException =>
            throw BadRequest("malformed or oversized gzip request body")
        }
      case Some("zstd") =>
        try S2sCodec.unzstd(raw, 16 * 1024 * 1024)
        catch {
          case _: java.io.IOException =>
            throw BadRequest("malformed or oversized zstd request body")
        }
      case Some(other) =>
        throw Denied(415, s"unsupported content-encoding: $other")
    }
  }

  private def safely(f: HttpExchange => Unit): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) => try f(ex) catch {
      case BadRequest(m) =>
        try respond(ex, 400, errJson("invalid", m).getBytes(UTF_8))
        catch { case _: Throwable => ex.close() }
      case Invalid(m) =>
        try respond(ex, 422, errJson("invalid", m).getBytes(UTF_8))
        catch { case _: Throwable => ex.close() }
      // a wrong key found before a session's stream opens (a
      // timestamp start decrypts its probe record)
      case t: Throwable if decryptionFailure(t) =>
        try respond(ex, 400, DecryptionFailedBody.getBytes(UTF_8))
        catch { case _: Throwable => ex.close() }
      case Denied(code, m) =>
        try respond(ex, code,
          errJson(code match {
            case 400 => "bad_header" // key-vs-config rejections
            case 401 => "unauthenticated"
            case 415 => "unsupported"
            case _ => "forbidden"
          }, m).getBytes(UTF_8))
        catch { case _: Throwable => ex.close() }
      case t: Throwable =>
        try respond(ex, 500,
          errJson("internal", s"${t.getClass.getSimpleName}: ${t.getMessage}")
            .getBytes(UTF_8))
        catch { case _: Throwable => ex.close() }
    }

  private def basinOf(ex: HttpExchange): String =
    Option(ex.getRequestHeaders.getFirst(BasinHeader))
      .getOrElse(throw BadRequest("missing s2-basin header"))

  /** Bearer enforcement against the C7 token registry. With
    * `requireAuth` off (the default, lite's open posture) every check
    * is a no-op; with it on, each route resolves `Authorization:
    * Bearer <id>` and authorizes its mapped Operation against the
    * token's scope — 401 for missing/unknown/expired bearers, 403 for
    * a live token whose scope excludes the op or resource. Stream
    * names are namespaced through `auto_prefix_streams` BEFORE scope
    * checks, so a tenant token authorizes (and operates on) the
    * prefixed effective name (api access.rs:355-357).
    */
  private[log] final class AuthCtx(requireAuth: Boolean, cat: Catalog,
                                   nowClock: () => Long) {
    def bearer(ex: HttpExchange): Option[AccessToken] =
      if (!requireAuth) None
      else {
        val hdr = Option(ex.getRequestHeaders.getFirst("Authorization"))
          .getOrElse(throw Denied(401, "missing Authorization header"))
        if (!hdr.startsWith("Bearer "))
          throw Denied(401, "expected a bearer token")
        val tok = cat.getToken(hdr.drop(7).trim)
          .getOrElse(throw Denied(401, "unknown access token"))
        if (tok.expiresAtMs.exists(nowClock() >= _))
          throw Denied(401, "access token expired")
        Some(tok)
      }

    def check(tok: Option[AccessToken], op: Op.Value,
              basin: String = "", stream: String = ""): Unit =
      tok.foreach { t =>
        if (!t.authorize(op, basin, stream, nowClock()))
          throw Denied(403, s"${opWire(op)} not permitted by token scope")
      }

    /** Token-management resource gate: the bearer's access_tokens set
      * must contain the target id. */
    def checkTokenResource(tok: Option[AccessToken], id: String): Unit =
      tok.foreach { t =>
        if (!t.scope.accessTokens.matches(id))
          throw Denied(403, s"token id out of scope: $id")
      }

    def effectiveStream(tok: Option[AccessToken], requested: String): String =
      tok.map(_.effectiveStreamName(requested)).getOrElse(requested)
  }

  private def bodyString(ex: HttpExchange): String =
    new String(requestBytes(ex), UTF_8)

  /** is_json (api/src/mime.rs:37-39): `application/json` or an
    * an application-typed +json suffix; parameters ignored, first
    * comma-separated mime only (mime.rs parse). */
  private def isJsonMime(h: String): Boolean = {
    val m = h.split(',')(0).split(';')(0).trim.toLowerCase
    m == "application/json" ||
      (m.startsWith("application/") && m.endsWith("+json"))
  }

  private val MissingCtMsg =
    "Expected request with `Content-Type: application/json`"

  /** The strict Json extractor's content-type gate (api/src/data.rs:
    * 210-218): a JSON request body REQUIRES a json Content-Type —
    * missing or non-json answers 415, exactly the reference's
    * MissingContentType rejection. */
  private def jsonBody(ex: HttpExchange): String = {
    if (!Option(ex.getRequestHeaders.getFirst("Content-Type"))
          .exists(isJsonMime))
      throw Denied(415, MissingCtMsg)
    bodyString(ex)
  }

  /** The JsonOpt extractor (api/src/data.rs:240-262 OptionalFromRequest):
    * NO Content-Type means no body (None — the ensure routes' default-
    * config form), a non-json Content-Type is 415, a json Content-Type
    * with an EMPTY body is None. Only truly empty: a whitespace-only
    * body falls through to the parser and gets the reference's 400
    * JSON-syntax-error class, exactly like OptionalFromRequest. */
  private def jsonBodyOpt(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Content-Type")) match {
      case scala.None => scala.None
      case Some(ct) if !isJsonMime(ct) => throw Denied(415, MissingCtMsg)
      case Some(_) =>
        val b = bodyString(ex)
        if (b.isEmpty) scala.None else Some(b)
    }

  /** Path guard for the JDK HttpServer's RAW-prefix context matching:
    * a context registered at "/v1/basins" also receives
    * "/v1/basinsjunk", which must be an unknown route (404), not a
    * basin named "junk". Returns the remainder after the context ("" =
    * the collection path) or None for a non-boundary match. */
  private def pathUnder(ex: HttpExchange, ctx: String): Option[String] = {
    val p = ex.getRequestURI.getPath
    if (p == ctx) Some("")
    else if (p.startsWith(ctx + "/")) Some(p.drop(ctx.length + 1))
    else None
  }

  private def listParams(q: Map[String, String]): (String, String, Int) = (
    q.getOrElse("prefix", ""),
    q.getOrElse("start_after", ""),
    q.get("limit").map { s =>
      val n = try s.toInt catch {
        case _: NumberFormatException => throw BadRequest(s"malformed limit: $s")
      }
      if (n < 0) throw BadRequest("limit must be >= 0")
      n
    }.getOrElse(Caps.MaxListItems))

  private def longParam(q: Map[String, String], name: String): Option[Long] =
    q.get(name).map { s =>
      try s.toLong catch {
        case _: NumberFormatException => throw BadRequest(s"malformed $name: $s")
      }
    }

  /** Scope-aware listing: the resource-set scope is pushed INTO the
    * catalog listing (narrowed prefix / point lookup) so pagination
    * and has_more are computed over exactly the visible rows —
    * post-filtering a fetched page breaks the cursor contract (an
    * empty page with has_more=true and no name to advance past). */
  private def scopedPage[T](rs: Option[graft.model.ResourceSet],
                            prefix: String, startAfter: String, limit: Int,
                            list: (String, String, Int) => Page[T],
                            exact: String => Option[T]): Page[T] = rs match {
    case scala.None => list(prefix, startAfter, limit)
    case Some(graft.model.ResourceSet.Prefix(p)) =>
      if (p.startsWith(prefix)) list(p, startAfter, limit)
      else if (prefix.startsWith(p)) list(prefix, startAfter, limit)
      else Page(Nil, hasMore = false)
    case Some(graft.model.ResourceSet.Exact(v)) =>
      if (v.startsWith(prefix) && v > startAfter && limit > 0)
        Page(exact(v).toSeq, hasMore = false)
      else Page(Nil, hasMore = false)
    case Some(graft.model.ResourceSet.None) => Page(Nil, hasMore = false)
  }

  // -------------------------------------------------------------------
  // v1 catalog JSON — the api/src/v1/{basin.rs,stream/mod.rs,config.rs}
  // wire shapes: kebab-case enum names, externally-tagged retention
  // (`{"age":N}` / `{"infinite":{}}`), RFC-3339 info timestamps, and
  // tri-state reconfiguration fields (serde `Maybe<Option<T>>`:
  // absent = keep, null = reset-to-default, value = set — the repo's
  // Patch Keep/Clear/Set).
  // -------------------------------------------------------------------

  private def rfc3339(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  private def storageClassName(sc: StorageClass): String = sc match {
    case StorageClass.Standard => "standard"
    case StorageClass.Express => "express"
  }

  private def tsModeName(m: TimestampingMode): String = m match {
    case TimestampingMode.ClientPrefer => "client-prefer"
    case TimestampingMode.ClientRequire => "client-require"
    case TimestampingMode.Arrival => "arrival"
  }

  private def retentionJson(r: RetentionPolicy): String = r match {
    case RetentionPolicy.Age(s) => s"""{"age":$s}"""
    case RetentionPolicy.Infinite => """{"infinite":{}}"""
  }

  private def timestampingJson(t: Timestamping): String =
    s"""{"mode":"${tsModeName(t.mode)}","uncapped":${t.uncapped}}"""

  /** Resolved full form — `From<common StreamConfig>` (config.rs:
    * every field present). Used for GET responses, which return the
    * effective (default-resolved) configuration. */
  private def streamConfigJson(c: StreamConfig): String =
    s"""{"storage_class":"${storageClassName(c.storageClassOrDefault)}",""" +
      s""""retention_policy":${retentionJson(c.retentionOrDefault)},""" +
      s""""timestamping":${timestampingJson(c.timestampingOrDefault)},""" +
      s""""delete_on_empty":{"min_age_secs":${c.deleteOnEmptyOrDefault.minAgeSeconds}}}"""

  /** Optional form — `StreamConfig::to_opt`: only explicitly-set
    * fields, absent entirely when all-default (config.rs to_opt). */
  private def streamConfigOptJson(c: StreamConfig): Option[String] = {
    val fields = Seq(
      c.storageClass.map(sc => s""""storage_class":"${storageClassName(sc)}""""),
      c.retentionPolicy.map(r => s""""retention_policy":${retentionJson(r)}"""),
      c.timestamping.map(t => s""""timestamping":${timestampingJson(t)}"""),
      c.deleteOnEmpty.map(d =>
        s""""delete_on_empty":{"min_age_secs":${d.minAgeSeconds}}""")).flatten
    if (fields.isEmpty) None else Some(fields.mkString("{", ",", "}"))
  }

  private def basinConfigJson(c: BasinConfig): String = {
    val dsc = streamConfigOptJson(c.defaultStreamConfig)
      .fold(""""default_stream_config":null""")(j => s""""default_stream_config":$j""")
    val cipher = c.streamCipher
      .fold(""""stream_cipher":null""")(a => s""""stream_cipher":"${a.wireName}"""")
    s"""{$dsc,$cipher,"create_stream_on_append":${c.createStreamOnAppend},""" +
      s""""create_stream_on_read":${c.createStreamOnRead}}"""
  }

  private def basinInfoJson(e: BasinEntry, location: Option[String]): String = {
    val loc = location.fold(""""location":null""")(l => s""""location":"${jsonEsc(l)}"""")
    val del = e.deletedAt.fold(""""deleted_at":null""")(t => s""""deleted_at":"${rfc3339(t)}"""")
    val state = if (e.deletedAt.isDefined) "deleting" else "active"
    s"""{"name":"${jsonEsc(e.name)}",$loc,"created_at":"${rfc3339(e.createdAt)}",""" +
      s"""$del,"state":"$state"}"""
  }

  private def streamInfoJson(e: StreamEntry, cipher: Option[CipherAlgo]): String = {
    val del = e.deletedAt.fold(""""deleted_at":null""")(t => s""""deleted_at":"${rfc3339(t)}"""")
    val ci = cipher.fold(""""cipher":null""")(a => s""""cipher":"${a.wireName}"""")
    s"""{"name":"${jsonEsc(e.name)}","created_at":"${rfc3339(e.createdAt)}",$del,$ci}"""
  }

  // ---- config parsing --------------------------------------------------

  private def jOpt[T](j: JValue)(f: JValue => T): Option[T] = j match {
    case JNothing | JNull => None
    case v => Some(f(v))
  }

  private def jLong(j: JValue, what: String): Long = j match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case other => throw Invalid(s"malformed $what: $other")
  }

  private def jBool(j: JValue, what: String): Boolean = j match {
    case JBool(b) => b
    case other => throw Invalid(s"malformed $what: $other")
  }

  private def parseStorageClass(j: JValue): StorageClass = j match {
    case JString("standard") => StorageClass.Standard
    case JString("express") => StorageClass.Express
    case other => throw Invalid(s"invalid storage_class: $other")
  }

  private def parseTsMode(j: JValue): TimestampingMode = j match {
    case JString("client-prefer") => TimestampingMode.ClientPrefer
    case JString("client-require") => TimestampingMode.ClientRequire
    case JString("arrival") => TimestampingMode.Arrival
    case other => throw Invalid(s"invalid timestamping mode: $other")
  }

  private def parseRetention(j: JValue): RetentionPolicy = j match {
    case o: JObject => (o \ "age", o \ "infinite") match {
      case (JNothing, JNothing) =>
        throw Invalid("retention_policy needs `age` or `infinite`")
      case (age, JNothing) =>
        val secs = jLong(age, "retention age")
        if (secs <= 0) throw Invalid("retention age must be > 0 seconds")
        RetentionPolicy.Age(secs)
      case (JNothing, _) => RetentionPolicy.Infinite
      case _ => throw Invalid("retention_policy is age XOR infinite")
    }
    case other => throw Invalid(s"malformed retention_policy: $other")
  }

  /** Full-config timestamping: optional leaves default (api
    * TimestampingConfig { mode: Option, uncapped: Option }). */
  private def parseTimestamping(j: JValue): Timestamping = j match {
    case o: JObject => Timestamping(
      mode = jOpt(o \ "mode")(parseTsMode).getOrElse(TimestampingMode.ClientPrefer),
      uncapped = jOpt(o \ "uncapped")(jBool(_, "uncapped")).getOrElse(false))
    case other => throw Invalid(s"malformed timestamping: $other")
  }

  private def parseDeleteOnEmpty(j: JValue): DeleteOnEmpty = j match {
    case o: JObject =>
      DeleteOnEmpty(jOpt(o \ "min_age_secs")(jLong(_, "min_age_secs")).getOrElse(0L))
    case other => throw Invalid(s"malformed delete_on_empty: $other")
  }

  private def parseStreamConfig(j: JValue): StreamConfig = j match {
    case JNothing | JNull => StreamConfig()
    case o: JObject => StreamConfig(
      storageClass = jOpt(o \ "storage_class")(parseStorageClass),
      retentionPolicy = jOpt(o \ "retention_policy")(parseRetention),
      timestamping = jOpt(o \ "timestamping")(parseTimestamping),
      deleteOnEmpty = jOpt(o \ "delete_on_empty")(parseDeleteOnEmpty))
    case other => throw Invalid(s"malformed config: $other")
  }

  private def parseCipher(j: JValue): CipherAlgo = j match {
    case JString(s) => CipherAlgo.fromWire(s)
      .getOrElse(throw Invalid(s"unknown stream_cipher: $s"))
    case other => throw Invalid(s"malformed stream_cipher: $other")
  }

  private def parseBasinConfig(j: JValue): BasinConfig = j match {
    case JNothing | JNull => BasinConfig()
    case o: JObject => BasinConfig(
      defaultStreamConfig = parseStreamConfig(o \ "default_stream_config"),
      createStreamOnAppend =
        jOpt(o \ "create_stream_on_append")(jBool(_, "create_stream_on_append"))
          .getOrElse(false),
      createStreamOnRead =
        jOpt(o \ "create_stream_on_read")(jBool(_, "create_stream_on_read"))
          .getOrElse(false),
      streamCipher = jOpt(o \ "stream_cipher")(parseCipher))
    case other => throw Invalid(s"malformed config: $other")
  }

  /** serde `Maybe<Option<T>>` → Patch: absent = Keep, null = Clear. */
  private def patchOf[T](j: JValue)(f: JValue => T): Patch[T] = j match {
    case JNothing => Patch.Keep
    case JNull => Patch.Clear
    case v => Patch.Set(f(v))
  }

  /** StreamReconfiguration (config.rs:601-640). The nested
    * timestamping reconfiguration is itself tri-state per leaf; the
    * repo patches timestamping as a whole, so unspecified leaves are
    * resolved against `current` before the Set. */
  private def parseStreamPatch(j: JValue, current: StreamConfig): StreamConfigPatch =
    j match {
      case o: JObject => StreamConfigPatch(
        storageClass = patchOf(o \ "storage_class")(parseStorageClass),
        retentionPolicy = patchOf(o \ "retention_policy")(parseRetention),
        timestamping = patchOf(o \ "timestamping") { tj =>
          val cur = current.timestampingOrDefault
          Timestamping(
            mode = tj \ "mode" match {
              case JNothing => cur.mode
              case JNull => TimestampingMode.ClientPrefer
              case v => parseTsMode(v)
            },
            uncapped = tj \ "uncapped" match {
              case JNothing => cur.uncapped
              case JNull => false
              case v => jBool(v, "uncapped")
            })
        },
        deleteOnEmpty = patchOf(o \ "delete_on_empty") { dj =>
          val cur = current.deleteOnEmptyOrDefault
          DeleteOnEmpty(dj \ "min_age_secs" match {
            case JNothing => cur.minAgeSeconds
            case JNull => 0L
            case v => jLong(v, "min_age_secs")
          })
        })
      case other => throw Invalid(s"malformed reconfiguration: $other")
    }

  /** BasinReconfiguration (config.rs:503-525). */
  private def parseBasinPatch(j: JValue, current: BasinConfig): BasinConfigPatch =
    j match {
      case o: JObject => BasinConfigPatch(
        defaultStreamConfig = o \ "default_stream_config" match {
          case JNothing => StreamConfigPatch()
          case JNull => StreamConfigPatch(
            Patch.Clear, Patch.Clear, Patch.Clear, Patch.Clear)
          case v => parseStreamPatch(v, current.defaultStreamConfig)
        },
        createStreamOnAppend = patchOf(o \ "create_stream_on_append")(
          jBool(_, "create_stream_on_append")),
        createStreamOnRead = patchOf(o \ "create_stream_on_read")(
          jBool(_, "create_stream_on_read")),
        streamCipher = patchOf(o \ "stream_cipher")(parseCipher))
      case other => throw Invalid(s"malformed reconfiguration: $other")
    }

  // -------------------------------------------------------------------
  // v1 catalog serving (basins.rs / streams.rs — the two non-stub
  // handler files in the reference's lite server; access-tokens,
  // metrics and locations are NotImplemented there,
  // access_tokens.rs:44/73/101)
  // -------------------------------------------------------------------

  /** `CorsLayer::very_permissive()` parity (lite/src/server.rs:222-223
    * wraps the WHOLE router unless --no-cors; tower-http): every
    * response mirrors the request's Origin with credentials allowed,
    * and an OPTIONS preflight short-circuits 200, mirroring the
    * requested method and headers (AllowOrigin/AllowMethods/
    * AllowHeaders::mirror_request). Expose-headers is NOT set —
    * very_permissive doesn't set it either. */
  private def withCors(h: com.sun.net.httpserver.HttpHandler)
      : com.sun.net.httpserver.HttpHandler = (ex: HttpExchange) => {
    Option(ex.getRequestHeaders.getFirst("Origin")).foreach { o =>
      val rh = ex.getResponseHeaders
      rh.set("Access-Control-Allow-Origin", o)
      rh.set("Access-Control-Allow-Credentials", "true")
      rh.set("Vary",
        "origin, access-control-request-method, access-control-request-headers")
    }
    val acrm = Option(
      ex.getRequestHeaders.getFirst("Access-Control-Request-Method"))
    if (ex.getRequestMethod == "OPTIONS" && acrm.isDefined) {
      val rh = ex.getResponseHeaders
      acrm.foreach(m => rh.set("Access-Control-Allow-Methods", m))
      Option(ex.getRequestHeaders.getFirst("Access-Control-Request-Headers"))
        .foreach(v => rh.set("Access-Control-Allow-Headers", v))
      ex.sendResponseHeaders(200, -1)
      ex.close()
    } else h.handle(ex)
  }

  private def installCatalogRoutes(
      mount: (String, com.sun.net.httpserver.HttpHandler) => Unit,
      store: StreamStore, meter: UsageMeter, nowClock: () => Long,
      authx: AuthCtx): Unit = {
    val cat = store.catalog

    def provisioned(ex: HttpExchange, outcome: String, code: Int,
                    body: String): Unit = {
      ex.getResponseHeaders.set(ProvisionHeader, outcome)
      respond(ex, code, body.getBytes(UTF_8))
    }

    // ---- /v1/basins + /v1/basins/{basin} (basins.rs:16-25) ----------
    mount("/v1/basins", safely { ex =>
      pathUnder(ex, "/v1/basins") match {
        case scala.None =>
          respond(ex, 404, errJson("not_found",
            ex.getRequestURI.getPath).getBytes(UTF_8))
        case Some(name) => handleBasinRoute(ex, name)
      }
    })

    def handleBasinRoute(ex: HttpExchange, name: String): Unit = {
      val tok = authx.bearer(ex)
      if (name.nonEmpty) {
        authx.check(tok, ex.getRequestMethod match {
          case "GET" => Op.GetBasinConfig
          case "PUT" => Op.CreateBasin
          case "DELETE" => Op.DeleteBasin
          case "PATCH" => Op.ReconfigureBasin
          case _ => Op.GetBasinConfig
        }, name)
        // basin-addressed control-plane RPC → the BasinOps metric set
        // (AFTER auth: anonymous or out-of-scope probes must not
        // inject label values or inflate usage accounting)
        meter.record("basin", name, "", nowClock())
      }
      (ex.getRequestMethod, name.isEmpty) match {
        case ("GET", true) => // list_basins
          authx.check(tok, Op.ListBasins)
          val (p, sa, lim) = listParams(query(ex))
          // the basin scope narrows the LISTING itself (see scopedPage)
          val page = scopedPage(tok.map(_.scope.basins), p, sa, lim,
            cat.listBasins, cat.getBasin)
          val loc = cat.defaultLocation().map(_.name)
          respond(ex, 200,
            (s"""{"basins":[${page.items.map(basinInfoJson(_, loc)).mkString(",")}],""" +
              s""""has_more":${page.hasMore}}""").getBytes(UTF_8))

        case ("POST", true) => // create_basin: 201 + s2-provision-result
          val root = parseJson(jsonBody(ex))
          val bn = root \ "basin" match {
            case JString(s) => s
            case _ => throw BadRequest("basin name required")
          }
          authx.check(tok, Op.CreateBasin, bn)
          val config = parseBasinConfig(root \ "config")
          val token = Option(ex.getRequestHeaders.getFirst(RequestTokenHeader))
          val existed = cat.getBasin(bn).isDefined
          cat.createBasin(bn, config, token) match {
            case Right(e) =>
              provisioned(ex, if (existed) "noop" else "created", 201,
                basinInfoJson(e, cat.defaultLocation().map(_.name)))
            case Left("BasinAlreadyExists") =>
              respond(ex, 409, errJson("conflict", "basin already exists").getBytes(UTF_8))
            case Left(err) =>
              respond(ex, 422, errJson("invalid", err).getBytes(UTF_8))
          }

        case ("GET", false) => // get_basin_config
          cat.getBasin(name) match {
            case None =>
              respond(ex, 404, errJson("not_found", name).getBytes(UTF_8))
            case Some(e) =>
              respond(ex, 200,
                basinConfigJson(ConfigCodec.decodeBasin(e.config)).getBytes(UTF_8))
          }

        case ("PUT", false) => // ensure_basin: optional {config} body (JsonOpt)
          val config = jsonBodyOpt(ex) match {
            case scala.None => BasinConfig()
            case Some(body) => parseBasinConfig(parseJson(body) \ "config")
          }
          cat.ensureBasin(name, config) match {
            case Right(outcome) =>
              val e = cat.getBasin(name).get
              val (code, tag) = outcome match {
                case EnsureOutcome.Created => (201, "created")
                case EnsureOutcome.Updated => (200, "updated")
                case EnsureOutcome.Noop => (200, "noop")
              }
              provisioned(ex, tag, code,
                basinInfoJson(e, cat.defaultLocation().map(_.name)))
            case Left(err) =>
              respond(ex, 422, errJson("invalid", err).getBytes(UTF_8))
          }

        case ("DELETE", false) => // delete_basin: 202 Accepted
          if (cat.getBasin(name).isEmpty)
            respond(ex, 404, errJson("not_found", name).getBytes(UTF_8))
          else { store.deleteBasin(name); respond(ex, 202) }

        case ("PATCH", false) => // reconfigure_basin
          cat.getBasin(name) match {
            case None =>
              respond(ex, 404, errJson("not_found", name).getBytes(UTF_8))
            case Some(e) =>
              val patch = parseBasinPatch(
                parseJson(jsonBody(ex)), ConfigCodec.decodeBasin(e.config))
              cat.reconfigureBasin(name, patch) match {
                case Right(cfg) =>
                  respond(ex, 200, basinConfigJson(cfg).getBytes(UTF_8))
                case Left(err) =>
                  respond(ex, 404, errJson("not_found", err).getBytes(UTF_8))
              }
          }

        case _ => respond(ex, 405)
      }
    }

    // ---- /v1/streams exact: list_streams / create_stream ------------
    // (longest-prefix routing sends /v1/streams/... to the records
    // context; this one only sees the collection path — and, because
    // JDK context matching is raw-prefix, the boundary guard here
    // rejects /v1/streamsjunk)
    mount("/v1/streams", safely { ex =>
      if (pathUnder(ex, "/v1/streams").contains("")) handleStreamsCollection(ex)
      else respond(ex, 404, errJson("not_found",
        ex.getRequestURI.getPath).getBytes(UTF_8))
    })

    def handleStreamsCollection(ex: HttpExchange): Unit = {
      val basin = basinOf(ex)
      val tok = authx.bearer(ex)
      // auto_prefix_streams: list under the forced prefix and strip it
      // from results ("the prefix will be stripped when listing
      // streams", api access.rs:355-357)
      val autoPrefix = tok.collect {
        case t if t.autoPrefixStreams => t.scope.streams match {
          case graft.model.ResourceSet.Prefix(p) => p
          case _ => ""
        }
      }.filter(_.nonEmpty)
      ex.getRequestMethod match {
        case "GET" =>
          authx.check(tok, Op.ListStreams, basin)
          meter.record("basin", basin, "", nowClock())
          if (cat.getBasin(basin).isEmpty)
            respond(ex, 404, errJson("not_found", basin).getBytes(UTF_8))
          else {
            val (p0, sa0, lim) = listParams(query(ex))
            val p = autoPrefix.fold(p0)(_ + p0)
            val sa = autoPrefix.filter(_ => sa0.nonEmpty).fold(sa0)(_ + sa0)
            // stream scope pushed into the listing (pagination over
            // exactly the visible rows); auto-prefix strips after
            val page = scopedPage(tok.map(_.scope.streams), p, sa, lim,
              cat.listStreams(basin, _, _, _), cat.getStream(basin, _))
            val items = page.items.map(s => autoPrefix.fold(s)(ap =>
              s.copy(name = s.name.stripPrefix(ap))))
            val cipher = cat.basinConfig(basin).streamCipher
            respond(ex, 200,
              (s"""{"streams":[${items.map(streamInfoJson(_, cipher)).mkString(",")}],""" +
                s""""has_more":${page.hasMore}}""").getBytes(UTF_8))
          }
        case "POST" =>
          val root = parseJson(jsonBody(ex))
          val sn0 = root \ "stream" match {
            case JString(s) => s
            case _ => throw BadRequest("stream name required")
          }
          val sn = authx.effectiveStream(tok, sn0)
          authx.check(tok, Op.CreateStream, basin, sn)
          meter.record("basin", basin, "", nowClock())
          val config = parseStreamConfig(root \ "config")
          val token = Option(ex.getRequestHeaders.getFirst(RequestTokenHeader))
          val existed = cat.getStream(basin, sn).isDefined
          cat.createStream(basin, sn, config, token) match {
            case Right(e) =>
              provisioned(ex, if (existed) "noop" else "created", 201,
                streamInfoJson(e, cat.basinConfig(basin).streamCipher))
            case Left("StreamAlreadyExists") =>
              respond(ex, 409, errJson("conflict", "stream already exists").getBytes(UTF_8))
            case Left("BasinNotFound") =>
              respond(ex, 404, errJson("not_found", basin).getBytes(UTF_8))
            case Left(err) =>
              respond(ex, 422, errJson("invalid", err).getBytes(UTF_8))
          }
        case _ => respond(ex, 405)
      }
    }
  }

  // -------------------------------------------------------------------
  // v1 account serving: access tokens, locations, metrics
  // (lite/src/handlers/v1/{access_tokens,locations,metrics}.rs declare
  // these routes but return NotImplemented — the cloud implements
  // them; here they are served for REAL against the repo's C7 token
  // registry, C8 location registry, and an RPC-level usage meter, at
  // the documented api/src/v1 wire shapes)
  // -------------------------------------------------------------------

  /** Op wire names are kebab-case serde (api access.rs Operation). */
  private def kebab(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1-$2").toLowerCase
  private def opWire(v: Op.Value): String = v match {
    case Op.GetLocation => "get-default-location"
    case o => kebab(o.toString)
  }
  private val opFromWire: Map[String, Op.Value] =
    Op.values.toSeq.map(v => opWire(v) -> v).toMap

  private def rwJson(read: Boolean, write: Boolean): String =
    s"""{"read":$read,"write":$write}"""

  private def scopeJson(e: TokenEntry): String = {
    def rs(kind: String, value: String): Option[String] = kind match {
      case "exact" => Some(s"""{"exact":"${jsonEsc(value)}"}""")
      case "prefix" => Some(s"""{"prefix":"${jsonEsc(value)}"}""")
      case _ => None
    }
    val fields = Seq(
      rs(e.basinsKind, e.basinsValue).map(j => s""""basins":$j"""),
      rs(e.streamsKind, e.streamsValue).map(j => s""""streams":$j"""),
      rs(e.tokensKind, e.tokensValue).map(j => s""""access_tokens":$j"""),
      Some(s""""op_groups":{"account":${rwJson(e.accountRead, e.accountWrite)},""" +
        s""""basin":${rwJson(e.basinRead, e.basinWrite)},""" +
        s""""stream":${rwJson(e.streamRead, e.streamWrite)}}"""),
      if (e.ops.isEmpty) None
      else Some(e.ops.map(o => s""""${opWire(Op.withName(o))}"""")
        .mkString(""""ops":[""", ",", "]"))).flatten
    fields.mkString("{", ",", "}")
  }

  private def tokenInfoJson(e: TokenEntry): String = {
    val exp = e.expiresAtMs.fold("")(t => s""""expires_at":"${rfc3339(t)}",""")
    s"""{"id":"${jsonEsc(e.id)}",$exp"auto_prefix_streams":${e.autoPrefixStreams},""" +
      s""""scope":${scopeJson(e)}}"""
  }

  private def parseResourceSet(j: JValue): graft.model.ResourceSet = j match {
    case JNothing | JNull => graft.model.ResourceSet.None
    case o: JObject => (o \ "exact", o \ "prefix") match {
      // MaybeEmpty: an empty exact string means "match nothing"
      // (api access.rs:450-462 empty_exact_converts_to_resource_set_none)
      case (JString(""), JNothing) => graft.model.ResourceSet.None
      case (JString(v), JNothing) => graft.model.ResourceSet.Exact(v)
      case (JNothing, JString(p)) => graft.model.ResourceSet.Prefix(p)
      case _ => throw BadRequest("resource set is exact XOR prefix")
    }
    case other => throw BadRequest(s"malformed resource set: $other")
  }

  private def parseScope(j: JValue): AccessTokenScope = j match {
    case JNothing | JNull => AccessTokenScope()
    case o: JObject =>
      def rw(g: JValue): (Boolean, Boolean) = g match {
        case JNothing | JNull => (false, false)
        case go: JObject => (
          jOpt(go \ "read")(jBool(_, "read")).getOrElse(false),
          jOpt(go \ "write")(jBool(_, "write")).getOrElse(false))
        case other => throw BadRequest(s"malformed op group row: $other")
      }
      val (ar, aw) = rw(o \ "op_groups" \ "account")
      val (br, bw) = rw(o \ "op_groups" \ "basin")
      val (sr, sw) = rw(o \ "op_groups" \ "stream")
      val ops = o \ "ops" match {
        case JNothing | JNull => Set.empty[Op.Value]
        case JArray(vs) => vs.map {
          case JString(s) => opFromWire.getOrElse(s,
            throw BadRequest(s"unknown operation: $s"))
          case other => throw BadRequest(s"malformed op: $other")
        }.toSet
        case other => throw BadRequest(s"malformed ops: $other")
      }
      AccessTokenScope(
        basins = parseResourceSet(o \ "basins"),
        streams = parseResourceSet(o \ "streams"),
        accessTokens = parseResourceSet(o \ "access_tokens"),
        opGroups = PermittedOperationGroups(ar, aw, br, bw, sr, sw),
        ops = ops)
    case other => throw BadRequest(s"malformed scope: $other")
  }

  private def locationJson(l: LocationInfo): String =
    s"""{"name":"${jsonEsc(l.name)}","is_private":${l.isPrivate}}"""

  private def metricJson(shape: String, name: String, unit: String,
                         interval: Option[String],
                         values: Seq[(Long, Double)]): String = {
    val iv = interval.fold("")(i => s""""interval":"$i",""")
    val vs = values.map { case (t, v) => s"[$t,$v]" }.mkString(",")
    s"""{"$shape":{"name":"$name","unit":"$unit",$iv"values":[$vs]}}"""
  }

  private def installAccountRoutes(
      mount: (String, com.sun.net.httpserver.HttpHandler) => Unit,
      store: StreamStore, meter: UsageMeter, nowClock: () => Long,
      authx: AuthCtx): Unit = {
    val cat = store.catalog

    // ---- /v1/access-tokens (paths access_tokens LIST/ISSUE/REVOKE) --
    mount("/v1/access-tokens", safely { ex =>
      pathUnder(ex, "/v1/access-tokens") match {
        case scala.None =>
          respond(ex, 404, errJson("not_found",
            ex.getRequestURI.getPath).getBytes(UTF_8))
        case Some(id) => handleTokenRoute(ex, id)
      }
    })

    def handleTokenRoute(ex: HttpExchange, id: String): Unit = {
      val tok = authx.bearer(ex)
      (ex.getRequestMethod, id.isEmpty) match {
        case ("GET", true) =>
          authx.check(tok, Op.ListAccessTokens)
          val (p, sa, lim) = listParams(query(ex))
          val page = scopedPage(tok.map(_.scope.accessTokens), p, sa, lim,
            cat.listTokens, cat.getTokenEntry)
          respond(ex, 200,
            (s"""{"access_tokens":[${page.items.map(tokenInfoJson).mkString(",")}],""" +
              s""""has_more":${page.hasMore}}""").getBytes(UTF_8))
        case ("POST", true) =>
          val root = parseJson(jsonBody(ex))
          val tid = root \ "id" match {
            case JString(s) => s
            case _ => throw BadRequest("token id required")
          }
          authx.check(tok, Op.IssueAccessToken)
          authx.checkTokenResource(tok, tid)
          val expires = root \ "expires_at" match {
            case JString(s) =>
              try Some(java.time.Instant.parse(s).toEpochMilli)
              catch { case _: java.time.format.DateTimeParseException =>
                throw BadRequest(s"malformed expires_at: $s") }
            case JNothing | JNull => None
            case other => throw BadRequest(s"malformed expires_at: $other")
          }
          val auto = jOpt(root \ "auto_prefix_streams")(
            jBool(_, "auto_prefix_streams")).getOrElse(false)
          val token = try AccessToken(tid, parseScope(root \ "scope"),
            expires, auto)
          catch { case e: IllegalArgumentException =>
            // id caps / scope-shape rules: the Validation class → 422
            throw Invalid(e.getMessage) }
          // scope subsetting: a bearer may only mint tokens within
          // its own grant — without this, IssueAccessToken alone is
          // indirect full account access. Expiry defaults to, and may
          // not exceed, the issuer's ("If not set, the expiration
          // will be set to that of the requestor's token",
          // api access.rs:351-352).
          val issued = tok match {
            case Some(issuer) =>
              if (!token.scope.within(issuer.scope))
                throw Denied(403, "issued scope exceeds issuer scope")
              (token.expiresAtMs, issuer.expiresAtMs) match {
                case (scala.None, e) => token.copy(expiresAtMs = e)
                case (Some(t), Some(e)) if t > e =>
                  throw Denied(403, "issued expiry exceeds issuer expiry")
                case _ => token
              }
            case scala.None => token
          }
          cat.issueToken(issued) match {
            case Right(_) =>
              // the bearer string: lite-analog tokens ARE their id
              // (the cloud mints an opaque secret; there is no secret
              // store here and the registry is the account boundary)
              respond(ex, 201,
                s"""{"access_token":"${jsonEsc(tid)}"}""".getBytes(UTF_8))
            case Left("AccessTokenExists") =>
              respond(ex, 409, errJson("conflict", "token id exists").getBytes(UTF_8))
            case Left(err) =>
              respond(ex, 422, errJson("invalid", err).getBytes(UTF_8))
          }
        case ("DELETE", false) =>
          authx.check(tok, Op.RevokeAccessToken)
          authx.checkTokenResource(tok, id)
          if (cat.revokeToken(id)) respond(ex, 204)
          else respond(ex, 404, errJson("not_found", id).getBytes(UTF_8))
        case _ => respond(ex, 405)
      }
    }

    // ---- /v1/locations (LIST / DEFAULT get+put) ----------------------
    mount("/v1/locations", safely { ex =>
      pathUnder(ex, "/v1/locations") match {
        case scala.None =>
          respond(ex, 404, errJson("not_found",
            ex.getRequestURI.getPath).getBytes(UTF_8))
        case Some(rest) => handleLocationRoute(ex, rest)
      }
    })

    def handleLocationRoute(ex: HttpExchange, rest: String): Unit = {
      val tok = authx.bearer(ex)
      (ex.getRequestMethod, rest) match {
        case ("GET", "") => authx.check(tok, Op.ListLocations)
        case ("GET", "default") => authx.check(tok, Op.GetLocation)
        case ("PUT", "default") => authx.check(tok, Op.SetDefaultLocation)
        case _ => ()
      }
      (ex.getRequestMethod, rest) match {
        case ("GET", "") =>
          respond(ex, 200,
            cat.listLocations().map(locationJson)
              .mkString("[", ",", "]").getBytes(UTF_8))
        case ("GET", "default") =>
          cat.defaultLocation() match {
            case Some(l) => respond(ex, 200, locationJson(l).getBytes(UTF_8))
            case None =>
              respond(ex, 404, errJson("not_found", "no default location")
                .getBytes(UTF_8))
          }
        case ("PUT", "default") =>
          // SetDefaultLocationRequest = LocationName: a bare JSON string
          val name = parseJson(jsonBody(ex)) match {
            case JString(s) => s
            case other => throw BadRequest(s"malformed location name: $other")
          }
          cat.setDefaultLocation(name) match {
            case Right(l) => respond(ex, 200, locationJson(l).getBytes(UTF_8))
            case Left("LocationNotFound") =>
              respond(ex, 404, errJson("not_found", name).getBytes(UTF_8))
            case Left(err) =>
              respond(ex, 422, errJson("invalid", err).getBytes(UTF_8))
          }
        case _ => respond(ex, 405)
      }
    }

    // ---- /v1/metrics[/{basin}[/{stream}]] ---------------------------
    def handleMetrics(ex: HttpExchange, rest0: String): Unit = {
      val tok = authx.bearer(ex)
      // tenant namespacing applies here like every other stream route:
      // the metrics path carries the UNPREFIXED name for an
      // auto-prefix token
      val rest = {
        val slash0 = rest0.indexOf('/')
        if (slash0 < 0) rest0
        else rest0.take(slash0 + 1) +
          authx.effectiveStream(tok, rest0.drop(slash0 + 1))
      }
      locally {
        val slash0 = rest.indexOf('/')
        if (rest.isEmpty) authx.check(tok, Op.AccountMetrics)
        else if (slash0 < 0) authx.check(tok, Op.BasinMetrics, rest)
        else authx.check(tok, Op.StreamMetrics,
          rest.take(slash0), rest.drop(slash0 + 1))
      }
      val q = query(ex)
      val set = q.getOrElse("set", throw BadRequest("set required"))
      val nowSec = nowClock() / 1000L
      val endSec = longParam(q, "end").getOrElse(nowSec + 60L)
      val startSec = longParam(q, "start").getOrElse(endSec - 3600L)
      val (ivName, ivSec) = q.getOrElse("interval", "minute") match {
        case "minute" => ("minute", 60L)
        case "hour" => ("hour", 3600L)
        case "day" => ("day", 86400L)
        case other => throw BadRequest(s"unknown interval: $other")
      }
      def accum(name: String, unit: String, kind: String,
                basin: Option[String], stream: Option[String],
                bytes: Boolean): String =
        metricJson("accumulation", name, unit, Some(ivName),
          meter.series(kind, basin, stream, startSec, endSec, ivSec, bytes))
      def storageGauge(name: String, bytes: Long): String =
        // exact metered stored bytes, served from the FileIndex footer
        // caches — NO Spark job on the RPC path (a per-scrape data
        // scan grows with corpus size; MetricsGaugeSpec pins this
        // value equal to the full Spark scan)
        metricJson("gauge", name, "bytes", None, Seq((nowSec, bytes.toDouble)))
      def ok(metrics: String*): Unit =
        respond(ex, 200,
          metrics.mkString("""{"values":[""", ",", "]}").getBytes(UTF_8))

      val slash = rest.indexOf('/')
      (rest, slash) match {
        case ("", _) => set match { // account level (metrics.rs ACCOUNT)
          case "active-basins" =>
            val basins = meter.activeBasins(startSec, endSec)
              .map(b => s""""${jsonEsc(b)}"""").mkString(",")
            ok(s"""{"label":{"name":"active_basins","values":[$basins]}}""")
          case "account-ops" => // append RPC count, per interval
            ok(accum("account_ops", "operations", "append", None, None,
              bytes = false))
          case other => throw BadRequest(s"unknown account metric set: $other")
        }
        case (basin, -1) => // basin level
          if (cat.getBasin(basin).isEmpty)
            respond(ex, 404, errJson("not_found", basin).getBytes(UTF_8))
          else set match {
            case "append-ops" =>
              ok(accum("append_ops", "operations", "append", Some(basin), None, bytes = false))
            case "read-ops" =>
              ok(accum("read_ops", "operations", "read", Some(basin), None, bytes = false))
            case "append-throughput" =>
              ok(accum("append_throughput", "bytes", "append", Some(basin), None, bytes = true))
            case "read-throughput" =>
              ok(accum("read_throughput", "bytes", "read", Some(basin), None, bytes = true))
            case "basin-ops" =>
              ok(accum("basin_ops", "operations", "basin", Some(basin), None, bytes = false))
            case "storage" =>
              ok(storageGauge("storage", store.basinStorageBytesFast(basin)))
            case other => throw BadRequest(s"unknown basin metric set: $other")
          }
        case (bs, i) => // stream level: {basin}/{stream...}
          val (basin, stream) = (bs.take(i), bs.drop(i + 1))
          if (cat.getStream(basin, stream).isEmpty)
            respond(ex, 404, errJson("not_found", s"$basin/$stream").getBytes(UTF_8))
          else set match {
            case "storage" =>
              ok(storageGauge("storage", store.storageBytesFast(basin, stream)))
            case other => throw BadRequest(s"unknown stream metric set: $other")
          }
      }
    }
    mount("/v1/metrics", safely { ex =>
      (pathUnder(ex, "/v1/metrics"), ex.getRequestMethod) match {
        case (scala.None, _) =>
          respond(ex, 404, errJson("not_found",
            ex.getRequestURI.getPath).getBytes(UTF_8))
        case (_, m) if m != "GET" => respond(ex, 405)
        case (Some(rest), _) => handleMetrics(ex, rest)
      }
    })

    // ---- /metrics (root): the Prometheus text exposition lite serves
    // (handlers/mod.rs:15 route + metrics.rs gather) — M5's histogram
    // registry at the conventional scrape path, distinct from the
    // /v1/metrics usage API above. Unauthenticated like the reference
    // (a scrape endpoint, not account data).
    mount("/metrics", safely { ex =>
      if (ex.getRequestURI.getPath != "/metrics")
        respond(ex, 404, errJson("not_found",
          ex.getRequestURI.getPath).getBytes(UTF_8))
      else if (ex.getRequestMethod != "GET") respond(ex, 405)
      else respond(ex, 200, ServerMetrics.gather().getBytes(UTF_8),
        contentType = "text/plain; version=0.0.4")
    })

    // ---- /ping + /health (root): the reference serves BOTH at the
    // root router, /ping kept for backwards compat, each a backend
    // liveness probe (handlers/mod.rs:13-24 health → db_status) —
    // 200 "OK" when the backend answers, 503 + the error otherwise.
    // Unauthenticated: the orchestrator's health check cannot carry
    // account credentials.
    def healthHandler(path: String): com.sun.net.httpserver.HttpHandler =
      safely { ex =>
        if (ex.getRequestURI.getPath != path)
          respond(ex, 404, errJson("not_found",
            ex.getRequestURI.getPath).getBytes(UTF_8))
        else if (ex.getRequestMethod != "GET") respond(ex, 405)
        else store.dbStatus() match {
          case Right(_) => respond(ex, 200, "OK".getBytes(UTF_8),
            contentType = "text/plain; charset=utf-8")
          case Left(err) => respond(ex, 503, err.getBytes(UTF_8),
            contentType = "text/plain; charset=utf-8")
        }
      }
    mount("/ping", healthHandler("/ping"))
    mount("/health", healthHandler("/health"))
  }

  /** /v1/streams/{stream} config routes (streams.rs GET_CONFIG /
    * ENSURE / DELETE / RECONFIGURE — stream addressed by path, basin
    * by the s2-basin header). */
  private def handleStreamConfig(store: StreamStore, ex: HttpExchange,
                                 basin: String, stream: String,
                                 authx: AuthCtx,
                                 tok: Option[AccessToken],
                                 meterRpc: () => Unit): Unit = {
    val cat = store.catalog
    ex.getRequestMethod match {
      case "GET" => authx.check(tok, Op.GetStreamConfig, basin, stream)
      case "PUT" => authx.check(tok, Op.CreateStream, basin, stream)
      case "DELETE" => authx.check(tok, Op.DeleteStream, basin, stream)
      case "PATCH" => authx.check(tok, Op.ReconfigureStream, basin, stream)
      case _ => ()
    }
    meterRpc() // after auth: denied probes must not pollute usage
    ex.getRequestMethod match {
      case "GET" => // merged effective config (C5)
        cat.streamConfig(basin, stream) match {
          case None =>
            respond(ex, 404, errJson("not_found", s"$basin/$stream").getBytes(UTF_8))
          case Some(c) =>
            respond(ex, 200, streamConfigJson(c).getBytes(UTF_8))
        }
      case "PUT" => // ensure_stream: body IS the (optional) StreamConfig (JsonOpt)
        val config = jsonBodyOpt(ex) match {
          case scala.None => StreamConfig()
          case Some(body) => parseStreamConfig(parseJson(body))
        }
        cat.ensureStream(basin, stream, config) match {
          case Right(outcome) =>
            val e = cat.getStream(basin, stream).get
            val (code, tag) = outcome match {
              case EnsureOutcome.Created => (201, "created")
              case EnsureOutcome.Updated => (200, "updated")
              case EnsureOutcome.Noop => (200, "noop")
            }
            ex.getResponseHeaders.set(ProvisionHeader, tag)
            respond(ex, code,
              streamInfoJson(e, cat.basinConfig(basin).streamCipher).getBytes(UTF_8))
          case Left("BasinNotFound") =>
            respond(ex, 404, errJson("not_found", basin).getBytes(UTF_8))
          case Left(err) =>
            respond(ex, 422, errJson("invalid", err).getBytes(UTF_8))
        }
      case "DELETE" => // 202; deletion is T4's pending + reclaim path
        if (cat.getStream(basin, stream).isEmpty)
          respond(ex, 404, errJson("not_found", s"$basin/$stream").getBytes(UTF_8))
        else { store.deleteStream(basin, stream); respond(ex, 202) }
      case "PATCH" =>
        cat.getStream(basin, stream) match {
          case None =>
            respond(ex, 404, errJson("not_found", s"$basin/$stream").getBytes(UTF_8))
          case Some(e) =>
            val patch = parseStreamPatch(
              parseJson(jsonBody(ex)), ConfigCodec.decode(e.config))
            cat.reconfigureStream(basin, stream, patch) match {
              case Right(_) =>
                // reference returns the resolved post-patch config;
                // resolve through the C5 merge (stream > basin >
                // system) exactly like GET, so a field the patch left
                // unset still reads as the basin default
                respond(ex, 200,
                  streamConfigJson(cat.streamConfig(basin, stream)
                    .getOrElse(StreamConfig())).getBytes(UTF_8))
              case Left(err) =>
                respond(ex, 404, errJson("not_found", err).getBytes(UTF_8))
            }
        }
      case _ => respond(ex, 405)
    }
  }

  // -------------------------------------------------------------------
  // Server
  // -------------------------------------------------------------------

  /** Start a records server over `store` on an ephemeral localhost
    * port; returns (server, endpoint). `nowMs` pins the append clock
    * for deterministic demos (None = wall clock, like production).
    * `noCors` disables the router-wide permissive CORS layer, like
    * the reference's --no-cors flag (server.rs:222-223). `tls` serves
    * the same router over HTTPS — the `--tls-self` / `--tls-cert` +
    * `--tls-key` arms of server.rs:230-266 (build the material with
    * [[Tls.selfSigned]] or [[Tls.fromPemFiles]]); None = plain HTTP,
    * exactly the reference's default. */
  def start(store: StreamStore, nowMs: Option[Long] = None,
            requireAuth: Boolean = false,
            noCors: Boolean = false,
            tls: Option[Tls.Server] = None): (HttpServer, String) = {
    System.setProperty("sun.net.httpserver.nodelay", "true")

    // RPC-level usage accounting for /v1/metrics; the pinned demo
    // clock also pins the metric buckets (deterministic oracles)
    val meter = new UsageMeter
    def nowClock(): Long = nowMs.getOrElse(System.currentTimeMillis())
    val authx = new AuthCtx(requireAuth, store.catalog, () => nowClock())

    def base64Of(ex: HttpExchange): Boolean =
      Option(ex.getRequestHeaders.getFirst(FormatHeader)) match {
        case None | Some("raw") => false
        case Some("base64") => true
        case Some(other) => throw BadRequest(s"unknown s2-format: $other")
      }
    def keyOf(ex: HttpExchange): Option[Array[Byte]] =
      Option(ex.getRequestHeaders.getFirst(KeyHeader)).map { s =>
        try Base64.getDecoder.decode(s)
        catch { case _: IllegalArgumentException =>
          throw BadRequest("malformed s2-encryption-key") }
      }

    // ---- POST append (records.rs:376-404, Unary arm) ----------------
    def appendConditionFailed(e: AppendError): Option[String] = e match {
      // the reference returns the EXPECTED value for a retry: the next
      // seq num / the current token (api AppendConditionFailed)
      case AppendError.SeqNumMismatch(_, actual) =>
        Some(s"""{"seq_num_mismatch":$actual}""")
      case AppendError.FencingTokenMismatch(current) =>
        Some(s"""{"fencing_token_mismatch":"${jsonEsc(current)}"}""")
      case _ => None
    }
    // shared by the unary route and the S2S session: one (status,
    // body) mapping per AppendError class
    def appendErrorParts(basin: String, stream: String,
                         e: AppendError): (Int, String) =
      appendConditionFailed(e) match {
        case Some(body) => (412, body)
        case None => e match {
          case AppendError.StreamNotFound =>
            (404, errJson("not_found", s"$basin/$stream"))
          case AppendError.StreamDeletionPending =>
            (409, errJson("conflict", "stream deletion pending"))
          case AppendError.InvalidBatch(r) => (422, errJson("invalid", r))
          case AppendError.TimestampMissing =>
            (422, errJson("invalid", "timestamp required"))
          case AppendError.EncryptionError(r) => (400, errJson("bad_header", r))
          case other => (500, errJson("internal", other.toString))
        }
      }

    // in-band commands ride the append route but are distinct
    // operations in the scope model (access.rs Trim / Fence): a
    // token holding only Append must not trim or fence through a
    // command record
    def checkCommandScopes(input: AppendInput, basin: String, stream: String,
                           tok: Option[AccessToken]): Unit =
      input.records.iterator
        .collect { case e: EnvelopeRecord => e }
        .flatMap(CommandRecord.fromEnvelopeForm).foreach {
          case _: TrimCommand => authx.check(tok, Op.Trim, basin, stream)
          case _: FenceCommand => authx.check(tok, Op.Fence, basin, stream)
        }

    def ackJson(ack: AppendAck): String =
      s"""{"start":${posJson(ack.start)},""" +
        s""""end":${posJson(ack.end)},"tail":${posJson(ack.tail)}}"""

    def handleAppend(ex: HttpExchange, basin: String, stream: String,
                     tok: Option[AccessToken]): Unit = {
      // request encoding from Content-Type, response encoding from
      // Accept, each defaulting to JSON (extract.rs:95-121
      // JsonOrProto). Proto bodies carry raw bytes, so the s2-format
      // header only applies to the JSON arm.
      val input =
        if (ProtoCodec.isProtoMime(
              Option(ex.getRequestHeaders.getFirst("Content-Type")))) {
          try ProtoCodec.decodeAppendInput(requestBytes(ex))
          catch { case ProtoCodec.MalformedProto(m) =>
            throw BadRequest(s"malformed protobuf AppendInput: $m") }
        } else
          // the JSON arm is the strict Json extractor: a json
          // Content-Type is REQUIRED (missing/other answers 415), the
          // reference's AppendRequest default arm (extract.rs:95-121)
          parseAppendInput(jsonBody(ex), base64Of(ex))
      checkCommandScopes(input, basin, stream, tok)
      val protoResp = ProtoCodec.isProtoMime(
        Option(ex.getRequestHeaders.getFirst("Accept")))
      store.append(basin, stream, input, nowMs, keyOf(ex)) match {
        case Right(ack) =>
          meter.record("append", basin, stream, nowClock(),
            bytes = input.records.iterator.map(_.meteredSize).sum)
          if (protoResp)
            respond(ex, 200, ProtoCodec.encodeAppendAck(ack),
              ProtoCodec.ContentType)
          else respond(ex, 200, ackJson(ack).getBytes(UTF_8))
        case Left(e) =>
          // error bodies stay JSON ErrorInfo in every encoding
          // (records.rs response declarations)
          val (code, body) = appendErrorParts(basin, stream, e)
          respond(ex, code, body.getBytes(UTF_8))
      }
    }

    // ---- S2S framed session mode (records.rs:199-294, 405-455) ------
    // The same engine machinery as the JSON/SSE routes — AppendSession
    // (A8 pipelining) behind the append arm, ReadSession (R8 wait
    // budgets) behind the read arm — behind the reference's binary
    // frame codec. Payloads are the repo's canonical v1 JSON shapes
    // (see S2sCodec doc for the prost divergence); per-frame gzip
    // >= 1 KiB when the client's Accept-Encoding negotiates it.
    // per-frame compression algorithm from Accept-Encoding — zstd
    // preferred over gzip (from_accept_encoding, s2s.rs:67-83; the
    // reference's own from_accept_encoding_prefers_zstd test)
    def s2sAlgo(ex: HttpExchange): Int =
      S2sCodec.negotiated(acceptEncodingOf(ex))

    def s2sOpen(ex: HttpExchange, contentType: String): java.io.OutputStream = {
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.getResponseHeaders.set("Cache-Control", "no-cache, no-transform")
      ex.getResponseHeaders.set("x-accel-buffering", "no")
      ex.sendResponseHeaders(200, 0) // chunked; outcome rides in frames
      ex.getResponseBody
    }

    // `s2s/proto` selects prost-shaped protobuf payloads exactly like
    // the reference (is_s2s_proto, mime.rs:48-51); `s2s/json` is the
    // retained JSON-payload extension. Terminal frames carry
    // status+JSON in BOTH modes (s2s.rs TERMINAL layout).
    def s2sProtoMode(ex: HttpExchange): Boolean =
      Option(ex.getRequestHeaders.getFirst("Content-Type"))
        .map(_.split(';')(0).trim.toLowerCase).contains(S2sCodec.ProtoContentType)

    // Framed-mode dispatch gate: ONLY the two known content types
    // open a session. The reference recognizes exactly `s2s/proto`
    // (is_s2s_proto) and answers anything else via the strict Json
    // extractor's 415; an unknown `s2s/*` subtype silently falling
    // back to JSON payload decoding would mis-frame the session.
    def isS2sMime(ctype: String): Boolean = {
      val mime = ctype.split(',')(0).split(';')(0).trim.toLowerCase
      if (!mime.startsWith("s2s/")) false
      else if (mime == S2sCodec.ContentType ||
               mime == S2sCodec.ProtoContentType) true
      else throw Denied(415, MissingCtMsg)
    }

    def handleS2sAppend(ex: HttpExchange, basin: String, stream: String,
                        tok: Option[AccessToken]): Unit = {
      val base64 = base64Of(ex)
      val proto = s2sProtoMode(ex)
      val algo = s2sAlgo(ex)
      val os = s2sOpen(ex,
        if (proto) S2sCodec.ProtoContentType else S2sCodec.ContentType)
      val session = new AppendSession(store, basin, stream, nowMs, keyOf(ex))
      try {
        // reader: decode input frames and submit while acks for
        // earlier batches are already streaming back — the pipelining
        // the reference gets from FuturesOrdered (append.rs:137-202).
        // Futures complete in submission order, so draining the queue
        // in order writes acks in order.
        val pending = new java.util.concurrent.LinkedBlockingQueue[
          Option[scala.concurrent.Future[Either[session.SessionError, AppendAck]]]]()
        val readerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val reader = new Thread(() => {
          try {
            val in = ex.getRequestBody
            var next = S2sCodec.readFrame(in)
            while (next.isDefined) {
              val f = next.get
              if (f.terminal)
                throw new java.io.IOException("unexpected terminal frame as input")
              val input =
                if (proto) {
                  try ProtoCodec.decodeAppendInput(f.payload)
                  catch { case ProtoCodec.MalformedProto(m) =>
                    throw BadRequest(s"malformed protobuf AppendInput: $m") }
                } else parseAppendInput(f.payloadUtf8, base64)
              checkCommandScopes(input, basin, stream, tok)
              pending.put(Some(session.submit(input)))
              next = S2sCodec.readFrame(in)
            }
          } catch { case t: Throwable => readerErr.set(t) }
          finally pending.put(None) // end-of-inputs sentinel
        }, s"s2s-append-reader-$stream")
        reader.setDaemon(true)
        reader.start()
        var open = true
        while (open) pending.take() match {
          case None =>
            open = false
            Option(readerErr.get()).foreach { t =>
              val reason = t match {
                case BadRequest(m) => m
                case other => Option(other.getMessage).getOrElse(other.toString)
              }
              S2sCodec.writeTerminal(os, 400, errJson("invalid", reason))
            }
          case Some(fut) =>
            scala.concurrent.Await.result(
              fut, scala.concurrent.duration.Duration.Inf) match {
              case Right(ack) =>
                meter.record("append", basin, stream, nowClock())
                S2sCodec.writeFrame(os,
                  if (proto) ProtoCodec.encodeAppendAck(ack)
                  else ackJson(ack).getBytes(UTF_8), algo)
              case Left(session.SessionError.Append(e)) =>
                val (code, body) = appendErrorParts(basin, stream, e)
                S2sCodec.writeTerminal(os, code, body)
                open = false // poisoned: later futures all fail too
              case Left(_) => // poisoned/closed follow-on: already terminal
                open = false
            }
        }
        reader.join(5000)
      } catch {
        case _: java.io.IOException => () // client went away mid-session
      } finally { session.close(); ex.close() }
    }

    // Key-vs-config mismatch on a SESSION read rejects BEFORE the
    // stream opens (records.rs:838-866: 400 bad_header "missing
    // encryption key"), since once the 200 + stream starts the only
    // error channel left is in-band.
    def checkReadCipher(basin: String, cipher: Option[Array[Byte]]): Unit =
      RecordCipher.resolve(
        store.catalog.basinConfig(basin).streamCipher, cipher) match {
        case Left(e) => throw Denied(400, e)
        case Right(_) => ()
      }

    // R2 start resolution — ONE definition shared by the S2S and SSE
    // session handlers (they must never drift on 416/resume
    // semantics): seq is literal, tail_offset is tail-relative
    // (clamped at 0), timestamp probes the engine for the first
    // visible record at/after ts (a count=1 readBatch, served on the
    // driver like every other serving read), falling back to the tail
    // when nothing is at/after it yet.
    def resolveStartSeq(basin: String, stream: String, from: ReadFrom,
                        cipher: Option[Array[Byte]]): Long = from match {
      case ReadFrom.SeqNum(n) => n
      case ReadFrom.TailOffset(k) =>
        math.max(store.checkTail(basin, stream).seqNum - k, 0L)
      case ReadFrom.Timestamp(ts) =>
        store.readBatch(basin, stream,
          ReadSpec(ReadStart(ReadFrom.Timestamp(ts), clamp = true),
            ReadEnd(ReadLimit(count = Some(1)))), cipher = cipher)
          .toOption
          .flatMap(_.headOption.map(_.seqNum))
          .getOrElse(store.checkTail(basin, stream).seqNum)
    }

    def handleS2sRead(ex: HttpExchange, basin: String, stream: String): Unit = {
      val q = query(ex)
      val base64 = base64Of(ex)
      val cipher = keyOf(ex)
      checkReadCipher(basin, cipher)
      val proto = s2sProtoMode(ex)
      val algo = s2sAlgo(ex)
      def batchFrame(records: Seq[SequencedRecord],
                     tail: StreamPosition): Array[Byte] =
        if (proto) ProtoCodec.encodeReadBatch(records, Some(tail))
        else batchJson(base64, records, Some(tail)).getBytes(UTF_8)
      val start = parseStart(q)
      val count = q.get("count").map(_.toLong)
      val bytes = q.get("bytes").map(_.toLong)
      val until = q.get("until").map(_.toLong)
      (start.from, until) match {
        case (ReadFrom.Timestamp(ts), Some(u)) if ts >= u =>
          throw Invalid("start `timestamp` exceeds or equal to `until`")
        case _ => ()
      }
      val bounded = count.isDefined || bytes.isDefined || until.isDefined
      val waitMs = q.get("wait").map(_.toLong * 1000L)
        .orElse(if (bounded) Some(0L) else None)
      val startSeq = resolveStartSeq(basin, stream, start.from, cipher)
      val tail0 = store.checkTail(basin, stream)
      if (!start.clamp && startSeq > tail0.seqNum) {
        respond(ex, 416, s"""{"tail":${posJson(tail0)}}""".getBytes(UTF_8))
        return
      }
      val os = s2sOpen(ex,
        if (proto) S2sCodec.ProtoContentType else S2sCodec.ContentType)
      val session = new ReadSession(store, basin, stream,
        math.min(startSeq, tail0.seqNum),
        ReadLimit(count, bytes), until, waitMs, cipher = cipher)
      var open = true
      try {
        while (open) {
          session.poll() match {
            case session.Event.Batch(records, tail) if records.nonEmpty =>
              meter.record("read", basin, stream, nowClock(),
                bytes = records.iterator
                  .map(r => EnvelopeRecord(r.headers, r.body).meteredSize).sum)
              S2sCodec.writeFrame(os, batchFrame(records, tail), algo)
            case session.Event.Batch(_, _) => ()
            case session.Event.Heartbeat(tail) =>
              // heartbeat = an EMPTY ReadBatch carrying the tail —
              // exactly the reference's S2s heartbeat mapping
              // (records.rs:276-281)
              S2sCodec.writeFrame(os, batchFrame(Nil, tail), algo)
            case session.Event.Idle => Thread.sleep(5)
            case session.Event.Closed(reason) =>
              open = false
              if (reason != "limit_exhausted" && reason != "wait_expired" &&
                  reason != "until_or_limit")
                S2sCodec.writeTerminal(os, 400, errJson("invalid", reason))
              // clean exhaustion = clean stream end, no done frame
              // (FramedMessageStream yields None, s2s.rs:340-343)
          }
        }
      } catch {
        case t: Throwable if decryptionFailure(t) =>
          // wrong key mid-session: the only error channel after the
          // 200 is in-band — terminal decryption_failed frame
          try S2sCodec.writeTerminal(os, 400, DecryptionFailedBody)
          catch { case _: java.io.IOException => () }
        case _: java.io.IOException => ()
      } finally ex.close()
    }

    // ---- GET unary read (records.rs:186-209 + merge_read_session) ---
    def handleUnaryRead(ex: HttpExchange, basin: String, stream: String): Unit = {
      val q = query(ex)
      val base64 = base64Of(ex)
      val cipher = keyOf(ex)
      checkReadCipher(basin, cipher)
      val start = parseStart(q)
      val until = q.get("until").map(_.toLong)
      // MAX_UNARY_READ_WAIT = 60 s (handlers/v1/mod.rs:14)
      val waitMs = math.min(q.get("wait").map(_.toLong).getOrElse(0L), 60L) * 1000L
      val limit = ReadLimit(q.get("count").map(_.toLong), q.get("bytes").map(_.toLong))
      // the start timestamp must not defeat the until bound (records.rs:38-47)
      (start.from, until) match {
        case (ReadFrom.Timestamp(ts), Some(u)) if ts >= u =>
          throw Invalid("start `timestamp` exceeds or equal to `until`")
        case _ => ()
      }
      val spec = ReadSpec(start, ReadEnd(limit, until))
      val deadline = System.currentTimeMillis() + waitMs
      var out: Either[String, Seq[SequencedRecord]] = null
      var looping = true
      try while (looping) {
        out = store.readUnary(basin, stream, spec, cipher = cipher)
        looping = out.exists(_.isEmpty) && System.currentTimeMillis() < deadline
        if (looping) Thread.sleep(10)
      } catch {
        // wrong key (right length, wrong bytes): AEAD auth failure
        // in the record decrypt → 400 decryption_failed
        case t: Throwable if decryptionFailure(t) =>
          respond(ex, 400, DecryptionFailedBody.getBytes(UTF_8))
          return
      }
      out match {
        case Right(records) =>
          meter.record("read", basin, stream, nowClock(),
            bytes = records.iterator
              .map(r => EnvelopeRecord(r.headers, r.body).meteredSize).sum)
          val tail = store.checkTail(basin, stream)
          // Accept negotiates the response encoding (extract.rs:158-166);
          // proto carries raw bytes so s2-format only shapes the JSON arm
          if (ProtoCodec.isProtoMime(
                Option(ex.getRequestHeaders.getFirst("Accept"))))
            respond(ex, 200, ProtoCodec.encodeReadBatch(records, Some(tail)),
              ProtoCodec.ContentType)
          else
            respond(ex, 200,
              batchJson(base64, records, Some(tail)).getBytes(UTF_8))
        case Left(err) if err.startsWith("RANGE_NOT_SATISFIABLE") =>
          // 416 carries the tail so the client can re-aim (records.rs:153)
          val tail = store.checkTail(basin, stream)
          respond(ex, 416, s"""{"tail":${posJson(tail)}}""".getBytes(UTF_8))
        case Left(err) if err.startsWith("StreamNotFound") =>
          respond(ex, 404, errJson("not_found", err).getBytes(UTF_8))
        case Left(err) =>
          respond(ex, 400, errJson("invalid", err).getBytes(UTF_8))
      }
    }

    // ---- GET SSE read (records.rs:210-265) ---------------------------
    def handleSseRead(ex: HttpExchange, basin: String, stream: String): Unit = {
      val q = query(ex)
      val base64 = base64Of(ex)
      val cipher = keyOf(ex)
      checkReadCipher(basin, cipher)
      val lastEventId = Option(ex.getRequestHeaders.getFirst("Last-Event-ID"))
        .map(parseLastEventId)
      // apply_last_event_id (records.rs:49-65): resume after seq, with
      // the already-delivered count/bytes subtracted from the budgets
      var start = parseStart(q)
      var count = q.get("count").map(_.toLong)
      var bytes = q.get("bytes").map(_.toLong)
      lastEventId.foreach { case (seq, c, b) =>
        start = ReadStart(ReadFrom.SeqNum(seq + 1), start.clamp)
        count = count.map(v => math.max(0L, v - c))
        bytes = bytes.map(v => math.max(0L, v - b))
      }
      val until = q.get("until").map(_.toLong)
      (start.from, until) match {
        case (ReadFrom.Timestamp(ts), Some(u)) if ts >= u =>
          throw Invalid("start `timestamp` exceeds or equal to `until`")
        case _ => ()
      }
      // wait default: infinite when unbounded, 0 when bounded (api
      // ReadEnd doc) — a bounded SSE session ends with [DONE]
      val bounded = count.isDefined || bytes.isDefined || until.isDefined
      val waitMs = q.get("wait").map(_.toLong * 1000L)
        .orElse(if (bounded) Some(0L) else None)

      // resolve the start to a concrete seq for the session machine
      // (the shared resolveStartSeq — one definition with the S2S arm)
      val startSeq = resolveStartSeq(basin, stream, start.from, cipher)
      // unsatisfiable start without clamp: 416 BEFORE the stream opens
      val tail0 = store.checkTail(basin, stream)
      if (!start.clamp && startSeq > tail0.seqNum) {
        respond(ex, 416, s"""{"tail":${posJson(tail0)}}""".getBytes(UTF_8))
        return
      }

      ex.getResponseHeaders.set("Content-Type", "text/event-stream")
      ex.getResponseHeaders.set("Cache-Control", "no-cache, no-transform")
      ex.getResponseHeaders.set("x-accel-buffering", "no")
      ex.sendResponseHeaders(200, 0) // chunked
      val os = ex.getResponseBody
      def emit(s: String): Unit = { os.write(s.getBytes(UTF_8)); os.flush() }

      val session = new ReadSession(store, basin, stream,
        math.min(startSeq, tail0.seqNum),
        ReadLimit(count, bytes), until, waitMs, cipher = cipher)
      var processedCount = 0L
      var processedBytes = 0L
      var open = true
      try {
        while (open) {
          session.poll() match {
            case session.Event.Batch(records, tail) if records.nonEmpty =>
              processedCount += records.size
              val batchBytes = records.iterator
                .map(r => EnvelopeRecord(r.headers, r.body).meteredSize).sum
              processedBytes += batchBytes
              meter.record("read", basin, stream, nowClock(), bytes = batchBytes)
              val id = s"${records.last.seqNum},$processedCount,$processedBytes"
              emit(s"event: batch\nid: $id\ndata: " +
                batchJson(base64, records, Some(tail)) + "\n\n")
            case session.Event.Batch(_, _) => () // empty: skip
            case session.Event.Heartbeat(tail) =>
              emit("event: ping\ndata: " +
                s"""{"timestamp":${System.currentTimeMillis()},"tail":${posJson(tail)}}""" +
                "\n\n")
            case session.Event.Idle => Thread.sleep(5)
            case session.Event.Closed(reason) =>
              open = false
              if (reason == "limit_exhausted" || reason == "wait_expired" ||
                  reason == "until_or_limit")
                emit("data: [DONE]\n\n") // done_event (records.rs:251-253)
              else
                emit(s"event: error\ndata: ${jsonEsc(reason)}\n\n")
          }
        }
      } catch {
        case t: Throwable if decryptionFailure(t) =>
          // wrong key mid-session: in-band SSE error event
          try emit(s"event: error\ndata: $DecryptionFailedBody\n\n")
          catch { case _: java.io.IOException => () }
        // client went away mid-stream (the reconnect path): just drop
        case _: java.io.IOException => ()
      } finally ex.close()
    }

    val server = tls match {
      case Some(t) =>
        val s = com.sun.net.httpserver.HttpsServer.create(
          new InetSocketAddress("127.0.0.1", 0), 0)
        s.setHttpsConfigurator(
          new com.sun.net.httpserver.HttpsConfigurator(t.context))
        s
      case None => HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    }
    // every route mounts through the CORS layer (unless noCors) —
    // server.rs wraps the WHOLE router, ping/health/metrics included
    def mount(path: String,
              h: com.sun.net.httpserver.HttpHandler): Unit =
      server.createContext(path, if (noCors) h else withCors(h))
    mount("/v1/streams/", safely { ex =>
      val path = ex.getRequestURI.getPath.stripPrefix("/v1/streams/")
      val (streamRaw, kind) =
        if (path.endsWith("/records/tail"))
          (path.stripSuffix("/records/tail"), "tail")
        else if (path.endsWith("/records"))
          (path.stripSuffix("/records"), "records")
        else (path, "")
      val basin = basinOf(ex)
      val tok = authx.bearer(ex)
      // tenant namespacing happens BEFORE scope checks and dispatch:
      // the effective (prefixed) name is what gets authorized and
      // operated on (access.rs auto_prefix_streams)
      val stream = authx.effectiveStream(tok, streamRaw)
      (ex.getRequestMethod, kind) match {
        case ("GET", "tail") =>
          authx.check(tok, Op.CheckTail, basin, stream)
          val t = store.checkTail(basin, stream)
          respond(ex, 200, s"""{"tail":${posJson(t)}}""".getBytes(UTF_8))
        case ("POST", "records") =>
          authx.check(tok, Op.Append, basin, stream)
          // mode dispatch mirrors the reference extractor
          // (extract.rs:54-95): a KNOWN s2s content type selects the
          // framed session (unknown s2s/* answers 415, see isS2sMime);
          // anything else is the unary JSON arm
          val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
          if (isS2sMime(ctype)) handleS2sAppend(ex, basin, stream, tok)
          else handleAppend(ex, basin, stream, tok)
        case ("GET", "records") =>
          authx.check(tok, Op.Read, basin, stream)
          val ctype = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
          val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
          if (isS2sMime(ctype)) handleS2sRead(ex, basin, stream)
          else if (accept.contains("text/event-stream")) handleSseRead(ex, basin, stream)
          else handleUnaryRead(ex, basin, stream)
        case (_, "") if path.nonEmpty =>
          // /v1/streams/{stream} without a records suffix: the stream
          // CONFIG routes (streams.rs GET_CONFIG/ENSURE/DELETE/
          // RECONFIGURE share the path, split by method)
          handleStreamConfig(store, ex, basin, stream, authx, tok,
            () => meter.record("basin", basin, "", nowClock()))
        case _ => respond(ex, 405)
      }
    })
    installCatalogRoutes(mount, store, meter, nowClock, authx)
    installAccountRoutes(mount, store, meter, nowClock, authx)
    // daemon threads: HttpServer.stop() does not shut the executor
    // down (see HttpObjectServer); SSE sessions hold threads for their
    // lifetime, so give the pool headroom
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(16,
      r => { val t = new Thread(r, "http-records-server"); t.setDaemon(true); t }))
    server.start()
    val scheme = if (tls.isDefined) "https" else "http"
    (server, s"$scheme://127.0.0.1:${server.getAddress.getPort}")
  }
}

/** Minimal client for [[HttpRecordsServer]] — what a day-one user's
  * SDK does over these routes: unary request/response plus an SSE
  * consumer that can stop mid-stream (dropping the connection) and
  * resume with `Last-Event-ID`, the reference SDK's reconnect
  * discipline. Shared by the e2e demo and the spec; not a public API.
  */
private[graft] object HttpRecordsClient {

  final case class SseEvent(event: Option[String], id: Option[String], data: String)

  /** Client-side TLS trust for https endpoints: a context from
    * [[Tls.clientContext]] (pinned cert) or
    * [[Tls.insecureClientContext]] (the `--insecure` analog for
    * self-signed servers). None = JDK default trust (public CAs). */
  @volatile private var ssl: Option[javax.net.ssl.SSLContext] = None

  def clientTls(ctx: Option[javax.net.ssl.SSLContext]): Unit = {
    ssl = ctx
    tlsHttpClient = null
  }

  private lazy val httpClient = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(5)).build()

  @volatile private var tlsHttpClient: java.net.http.HttpClient = null

  private def clientFor: java.net.http.HttpClient = ssl match {
    case None => httpClient
    case Some(c) =>
      var cl = tlsHttpClient
      if (cl == null) {
        cl = java.net.http.HttpClient.newBuilder()
          .connectTimeout(java.time.Duration.ofSeconds(5))
          .sslContext(c).build()
        tlsHttpClient = cl
      }
      cl
  }

  /** Open a URL connection with the client TLS trust applied. */
  private def open(url: String): java.net.HttpURLConnection = {
    val c = new java.net.URL(url).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    (c, ssl) match {
      case (h: javax.net.ssl.HttpsURLConnection, Some(ctx)) =>
        h.setSSLSocketFactory(ctx.getSocketFactory)
        // pinned/insecure contexts are used against loopback servers
        // whose self-signed cert carries a 127.0.0.1 SAN; default
        // verification applies
      case _ => ()
    }
    c
  }

  /** Like [[request]] but over java.net.http — HttpURLConnection
    * refuses the PATCH method the reconfigure routes use. Returns
    * (status, body, response headers). */
  /** JSON bodies require `Content-Type: application/json` server-side
    * (the strict Json extractor); the SDK-shaped helpers default it
    * when the caller sends a body without naming an encoding. */
  private def withDefaultJsonCt(headers: Seq[(String, String)],
                                body: Array[Byte]): Seq[(String, String)] =
    if (body != null && !headers.exists(_._1.equalsIgnoreCase("Content-Type")))
      headers :+ ("Content-Type" -> "application/json")
    else headers

  def requestAny(method: String, url: String,
                 headers0: Seq[(String, String)] = Nil,
                 body: Array[Byte] = null): (Int, String, java.net.http.HttpHeaders) = {
    val headers = withDefaultJsonCt(headers0, body)
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
      .timeout(java.time.Duration.ofSeconds(65))
      .method(method, if (body == null)
        java.net.http.HttpRequest.BodyPublishers.noBody()
      else java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val resp = clientFor.send(b.build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body(), resp.headers())
  }

  /** Like [[request]] but returns the RAW response bytes plus the
    * Content-Encoding header — the unary compression layer's test
    * surface (HttpURLConnection does not transparently inflate). */
  def requestRaw(method: String, url: String,
                 headers: Seq[(String, String)] = Nil,
                 body: Array[Byte] = null): (Int, Array[Byte], Option[String]) = {
    val c = open(url)
    c.setRequestMethod(method)
    c.setConnectTimeout(5000)
    c.setReadTimeout(65000)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    if (body != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      val os = c.getOutputStream
      try os.write(body) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    val out = if (is == null) Array.emptyByteArray
              else try is.readAllBytes() finally is.close()
    (code, out, Option(c.getHeaderField("Content-Encoding")))
  }

  /** Binary request/response for the protobuf unary routes: returns
    * (status, raw body bytes, response Content-Type). */
  def requestBinary(method: String, url: String,
                    headers: Seq[(String, String)] = Nil,
                    body: Array[Byte] = null): (Int, Array[Byte], String) = {
    val c = open(url)
    c.setRequestMethod(method)
    c.setConnectTimeout(5000)
    c.setReadTimeout(65000)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    if (body != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      val os = c.getOutputStream
      try os.write(body) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    val out = if (is == null) Array.emptyByteArray
              else try is.readAllBytes() finally is.close()
    (code, out, Option(c.getHeaderField("Content-Type")).getOrElse(""))
  }

  def request(method: String, url: String,
              headers0: Seq[(String, String)] = Nil,
              body: Array[Byte] = null): (Int, String) = {
    val headers = withDefaultJsonCt(headers0, body)
    val c = open(url)
    c.setRequestMethod(method)
    c.setConnectTimeout(5000)
    c.setReadTimeout(65000)
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    if (body != null) {
      c.setDoOutput(true)
      c.setFixedLengthStreamingMode(body.length)
      val os = c.getOutputStream
      try os.write(body) finally os.close()
    }
    val code = c.getResponseCode
    val is = if (code >= 400) c.getErrorStream else c.getInputStream
    val out = if (is == null) "" else
      try new String(is.readAllBytes(), UTF_8) finally is.close()
    (code, out)
  }

  /** Consume an SSE response: parse events until `[DONE]`, an `error`
    * event, EOF, or — when `stopAfter` is hit — CLOSE the connection
    * mid-stream (the reconnect scenario). Returns the events seen. */
  def readSse(url: String, headers: Seq[(String, String)] = Nil,
              stopAfter: Int = Int.MaxValue): Seq[SseEvent] = {
    val c = open(url)
    c.setRequestMethod("GET")
    c.setConnectTimeout(5000)
    c.setReadTimeout(65000)
    c.setRequestProperty("Accept", "text/event-stream")
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    require(c.getResponseCode == 200,
      s"SSE open failed: HTTP ${c.getResponseCode}")
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(c.getInputStream, UTF_8))
    val out = scala.collection.mutable.ArrayBuffer.empty[SseEvent]
    try {
      var event: Option[String] = None
      var id: Option[String] = None
      val data = new StringBuilder
      var open = true
      while (open) {
        val line = in.readLine()
        if (line == null) open = false
        else if (line.isEmpty) {
          if (data.nonEmpty || event.isDefined) {
            out += SseEvent(event, id, data.toString)
            if (data.toString == "[DONE]" || event.contains("error") ||
                out.size >= stopAfter)
              open = false // stopAfter: hang up mid-stream
          }
          event = None; id = None; data.clear()
        }
        else if (line.startsWith("event: ")) event = Some(line.drop(7))
        else if (line.startsWith("id: ")) id = Some(line.drop(4))
        else if (line.startsWith("data: ")) {
          if (data.nonEmpty) data.append('\n')
          data.append(line.drop(6))
        }
      }
    } finally { in.close(); c.disconnect() }
    out.toSeq
  }

  /** S2S framed APPEND session: streams each input (an AppendInput
    * JSON body) as one frame over a single chunked POST, then drains
    * the response frames (one ack per input, or a terminal). `gzip` =
    * offer Accept-Encoding gzip AND compress >=1 KiB input frames,
    * the client half of the negotiation. */
  def s2sAppendSession(url: String, headers: Seq[(String, String)],
                       inputs: Seq[String],
                       gzip: Boolean = false): Seq[S2sCodec.Frame] =
    s2sAppendSessionRaw(url, headers, inputs.map(_.getBytes(UTF_8)), gzip,
      S2sCodec.ContentType)

  /** Encoding-agnostic framed append session: `frames` are the raw
    * payload bytes (proto AppendInput under `s2s/proto`, JSON under
    * `s2s/json`). */
  def s2sAppendSessionRaw(url: String, headers: Seq[(String, String)],
                          frames: Seq[Array[Byte]], gzip: Boolean,
                          contentType: String): Seq[S2sCodec.Frame] = {
    val c = open(url)
    c.setRequestMethod("POST")
    c.setConnectTimeout(5000)
    c.setReadTimeout(65000)
    c.setRequestProperty("Content-Type", contentType)
    if (gzip) c.setRequestProperty("Accept-Encoding", "gzip")
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    c.setDoOutput(true)
    c.setChunkedStreamingMode(0)
    val os = c.getOutputStream
    try {
      frames.foreach(i => S2sCodec.writeFrame(os, i, gzip))
    } finally os.close()
    require(c.getResponseCode == 200,
      s"s2s append session open failed: HTTP ${c.getResponseCode}")
    drainFrames(c)
  }

  /** S2S framed READ session: GET with the s2s content type selecting
    * the framed mode; returns every frame until the server closes
    * (clean exhaustion) or a terminal arrives. */
  def s2sReadSession(url: String, headers: Seq[(String, String)],
                     gzip: Boolean = false,
                     contentType: String = S2sCodec.ContentType)
      : Seq[S2sCodec.Frame] = {
    val c = open(url)
    c.setRequestMethod("GET")
    c.setConnectTimeout(5000)
    c.setReadTimeout(65000)
    c.setRequestProperty("Content-Type", contentType)
    if (gzip) c.setRequestProperty("Accept-Encoding", "gzip")
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    require(c.getResponseCode == 200,
      s"s2s read session open failed: HTTP ${c.getResponseCode}")
    drainFrames(c)
  }

  /** Streaming SSE consumer for long-lived follows (the CLI's
    * `tail -f`): invokes `onEvent` per event as it arrives instead of
    * buffering the session like [[readSse]]. Ends on `[DONE]`, an
    * `error` event, EOF, or `onEvent` returning false (hang up). */
  def streamSse(url: String, headers: Seq[(String, String)] = Nil)
               (onEvent: SseEvent => Boolean): Unit = {
    val c = open(url)
    c.setRequestMethod("GET")
    c.setConnectTimeout(5000)
    c.setReadTimeout(65000)
    c.setRequestProperty("Accept", "text/event-stream")
    headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
    require(c.getResponseCode == 200,
      s"SSE open failed: HTTP ${c.getResponseCode}")
    val in = new java.io.BufferedReader(
      new java.io.InputStreamReader(c.getInputStream, UTF_8))
    try {
      var event: Option[String] = None
      var id: Option[String] = None
      val data = new StringBuilder
      var open0 = true
      while (open0) {
        val line = in.readLine()
        if (line == null) open0 = false
        else if (line.isEmpty) {
          if (data.nonEmpty || event.isDefined) {
            val ev = SseEvent(event, id, data.toString)
            val continue = onEvent(ev) // terminal events still delivered
            if (ev.data == "[DONE]" || ev.event.contains("error") || !continue)
              open0 = false
          }
          event = None; id = None; data.clear()
        }
        else if (line.startsWith("event: ")) event = Some(line.drop(7))
        else if (line.startsWith("id: ")) id = Some(line.drop(4))
        else if (line.startsWith("data: ")) {
          if (data.nonEmpty) data.append('\n')
          data.append(line.drop(6))
        }
      }
    } finally { in.close(); c.disconnect() }
  }

  private def drainFrames(c: java.net.HttpURLConnection): Seq[S2sCodec.Frame] = {
    val in = c.getInputStream
    val out = scala.collection.mutable.ArrayBuffer.empty[S2sCodec.Frame]
    try {
      var next = S2sCodec.readFrame(in)
      while (next.isDefined) {
        out += next.get
        if (next.get.terminal) next = None else next = S2sCodec.readFrame(in)
      }
    } finally { in.close(); c.disconnect() }
    out.toSeq
  }
}
