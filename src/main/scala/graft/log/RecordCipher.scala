package graft.log

import java.security.SecureRandom
import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}

import org.apache.spark.sql.Column

/** Cipher algorithm selector — the reference's per-basin
  * `stream_cipher` knob (common/src/config.rs:323, wire names
  * common/src/encryption.rs:36-47).
  */
sealed abstract class CipherAlgo(
    val wireName: String, val formatId: Byte, val nonceLen: Int)
object CipherAlgo {
  /** AEGIS-256 — the reference's FIRST cipher (format 0x01). */
  case object Aegis256 extends CipherAlgo("aegis-256", 0x01, 32)
  /** AES-256-GCM (format 0x02). */
  case object Aes256Gcm extends CipherAlgo("aes-256-gcm", 0x02, 12)

  val All: Seq[CipherAlgo] = Seq(Aegis256, Aes256Gcm)
  def fromWire(s: String): Option[CipherAlgo] = All.find(_.wireName == s)
  def fromFormatId(id: Byte): Option[CipherAlgo] = All.find(_.formatId == id)
}

/** A resolved (algorithm, key) pair — the non-Plain arm of the
  * reference's `EncryptionSpec` (common/src/encryption.rs:106-111).
  */
final case class CipherSpec(algo: CipherAlgo, key: Array[Byte]) {
  require(key.length == RecordCipher.KeyLen,
    s"${algo.wireName} key must be ${RecordCipher.KeyLen} bytes, got ${key.length}")
}

/** A13 — per-record envelope encryption.
  *
  * Wire format follows the reference exactly
  * (storage/src/record/encryption.rs:1-29):
  *
  *   `[format_id: 1 byte] [nonce] [ciphertext] [tag(16)]`
  *
  *   format 0x01 = AEGIS-256 v1 (32-byte nonce)
  *   format 0x02 = AES-256-GCM v1 (12-byte nonce)
  *
  * The PLAINTEXT is the byte-for-byte EnvelopeRecord encoding —
  * headers INCLUDED ([[EnvelopeCodec]]; encryption.rs:243-272
  * encrypt_envelope_record) — so header names/values are never stored
  * in clear on an encrypted basin. Command records stay plaintext,
  * exactly like the reference (encryption.rs:211-213: Record::Command
  * is always StoredRecord::Plaintext), which keeps command detection
  * (R10 filters, trim/fence replay, read-limit planning) working on
  * the stored form without key material. Stored shape on an encrypted
  * basin: data rows have `headers = NULL` and `body = formatId ||
  * nonce || ct(envelope encoding) || tag`; command rows keep the
  * plaintext envelope form (one empty-name header).
  *
  * The leading format byte identifies the full framing, so decrypt
  * dispatches per record and never needs out-of-band algorithm info —
  * only the 32-byte key. AAD = "basin\0stream" (the stream-id analog;
  * caller-supplied, not stored). Metered size is always the PLAINTEXT
  * logical size (metering happens before encryption,
  * encryption.rs:27-29).
  *
  * Cipher selection is per-basin config (`streamCipher`,
  * config.rs:323) combined with per-call key material via
  * [[RecordCipher.resolve]] — key without a configured cipher means
  * plaintext, cipher without key is an error
  * (encryption.rs EncryptionSpec::resolve, common/src/encryption.rs:113-131).
  *
  * Read-side decryption has one per-record function
  * ([[EnvelopeCodec.decryptRecord]]) behind two executors: a codegen'd
  * plan column ([[graft.functions.RecordDecryptExpr]]) for DataFrame
  * reads, and the driver-side record scan of StreamStore.readBatch for
  * serving reads.
  */
object RecordCipher {

  // per-thread: SecureRandom is internally locked, and a 32-thread
  // executor encrypting a record-per-call nonce convoys on that one
  // lock (32-byte AEGIS nonces, one per record, from every task)
  private val rnd = new ThreadLocal[SecureRandom] {
    override def initialValue(): SecureRandom = new SecureRandom()
  }
  val KeyLen = 32
  val TagLen = 16

  def aad(basin: String, stream: String): Array[Byte] =
    s"$basin\u0000$stream".getBytes("UTF-8")

  /** Reference `EncryptionSpec::resolve`: (None, _) → plaintext;
    * (Some, Some) → encrypt; (Some, None) → missing-key error.
    */
  def resolve(cipher: Option[CipherAlgo],
              key: Option[Array[Byte]]): Either[String, Option[CipherSpec]] =
    (cipher, key) match {
      case (None, _) => Right(None)
      case (Some(a), Some(k)) if k.length == KeyLen => Right(Some(CipherSpec(a, k)))
      case (Some(a), Some(k)) =>
        Left(s"invalid encryption key length for stream cipher '${a.wireName}': ${k.length}")
      case (Some(a), None) =>
        Left(s"missing encryption key for stream cipher '${a.wireName}'")
    }

  // JCE Cipher instances are not thread-safe; executor tasks decrypt
  // concurrently, so cache one per thread (AES-GCM is HotSpot-intrinsified
  // through this path).
  private val gcm = new ThreadLocal[Cipher] {
    override def initialValue(): Cipher = Cipher.getInstance("AES/GCM/NoPadding")
  }

  /** Encrypt one body: `formatId || nonce || ct || tag`. */
  def encrypt(spec: CipherSpec, aadBytes: Array[Byte],
              plain: Array[Byte]): Array[Byte] = {
    val nonce = new Array[Byte](spec.algo.nonceLen)
    rnd.get().nextBytes(nonce)
    spec.algo match {
      case CipherAlgo.Aes256Gcm =>
        val c = gcm.get()
        c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(spec.key, "AES"),
          new GCMParameterSpec(TagLen * 8, nonce))
        c.updateAAD(aadBytes)
        val ctTag = c.doFinal(plain) // JCE emits ct||tag
        val out = new Array[Byte](1 + nonce.length + ctTag.length)
        out(0) = spec.algo.formatId
        System.arraycopy(nonce, 0, out, 1, nonce.length)
        System.arraycopy(ctTag, 0, out, 1 + nonce.length, ctTag.length)
        out
      case CipherAlgo.Aegis256 =>
        val (ct, tag) = Aegis256.encryptDetached(spec.key, nonce, aadBytes, plain)
        val out = new Array[Byte](1 + nonce.length + ct.length + TagLen)
        out(0) = spec.algo.formatId
        System.arraycopy(nonce, 0, out, 1, nonce.length)
        System.arraycopy(ct, 0, out, 1 + nonce.length, ct.length)
        System.arraycopy(tag, 0, out, 1 + nonce.length + ct.length, TagLen)
        out
    }
  }

  /** Encrypt one data envelope: the plaintext is the full wire-form
    * EnvelopeRecord encoding (headers + body), never the body alone —
    * encryption.rs:243-272. Null body encodes as empty (the
    * reference's body is `Bytes`, never null).
    */
  def encryptEnvelope(spec: CipherSpec, aadBytes: Array[Byte],
                      headers: Seq[(Array[Byte], Array[Byte])],
                      body: Array[Byte]): Array[Byte] =
    encrypt(spec, aadBytes, EnvelopeCodec.encode(headers, body))

  /** Whether a stored row is the plaintext COMMAND envelope form (one
    * empty-name header) — commands are never encrypted
    * (encryption.rs:211-213), so this decides encrypt-vs-plaintext on
    * write and decrypt-vs-passthrough on read.
    */
  def isCommandForm(headers: Seq[(Array[Byte], Array[Byte])]): Boolean =
    headers != null && headers.size == 1 &&
      (headers.head._1 == null || headers.head._1.isEmpty)

  /** Wire-shape validation for the BULK ingest path (the unary path
    * validates via Caps.validateBatch on typed records): an empty
    * header name is the command marker, so it is only legal as a
    * well-formed command — single empty-name header whose op id is
    * known and whose payload parses (record/mod.rs:89-103
    * UnknownCommand; envelope.rs:128-129 NameEmpty). Accepting any
    * other empty-name shape would let isCommandForm misclassify a
    * user record: stored cleartext on an encrypted basin and dropped
    * by ignoreCommands reads. Returns an error message, or None if
    * the record is well-formed. Executor-side: a throw fails the job
    * before anything commits.
    */
  def validateWireShape(headers: Seq[(Array[Byte], Array[Byte])],
                        body: Array[Byte]): Option[String] = {
    if (headers == null) return None
    if (isCommandForm(headers)) {
      val op = new String(headers.head._2, "UTF-8")
      val b = if (body == null) Array.emptyByteArray else body
      op match {
        case "fence" =>
          if (b.length <= graft.model.Caps.MaxFencingTokenBytes) None
          else Some(s"fence token exceeds ${graft.model.Caps.MaxFencingTokenBytes} bytes")
        case "trim" =>
          if (b.length == 8) None else Some("trim payload must be 8 bytes")
        case other => Some(s"unknown command op: $other")
      }
    } else if (headers.exists(h => h._1 == null || h._1.isEmpty))
      Some("empty header name (reserved for command records)")
    else None
  }

  /** Decrypt one record, dispatching on the leading format byte.
    * Throws on unknown format, short input, or tag mismatch — exactly
    * like the JCE AEADBadTagException path, so auth failure surfaces as
    * an error (a task error in a plan), never silent garbage.
    * Static-shaped so generated code can call it directly.
    */
  def decrypt(key: Array[Byte], aadBytes: Array[Byte],
              enc: Array[Byte]): Array[Byte] = {
    if (enc.length < 1)
      throw new javax.crypto.AEADBadTagException("empty encrypted record")
    val algo = CipherAlgo.fromFormatId(enc(0)).getOrElse(
      throw new javax.crypto.AEADBadTagException(
        s"invalid encrypted record format id ${enc(0)}"))
    val nLen = algo.nonceLen
    if (enc.length < 1 + nLen + TagLen)
      throw new javax.crypto.AEADBadTagException("truncated encrypted record")
    algo match {
      case CipherAlgo.Aes256Gcm =>
        val c = gcm.get()
        c.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"),
          new GCMParameterSpec(TagLen * 8, enc, 1, nLen))
        c.updateAAD(aadBytes)
        c.doFinal(enc, 1 + nLen, enc.length - 1 - nLen)
      case CipherAlgo.Aegis256 =>
        val nonce = java.util.Arrays.copyOfRange(enc, 1, 1 + nLen)
        val ct = java.util.Arrays.copyOfRange(enc, 1 + nLen, enc.length - TagLen)
        val tag = java.util.Arrays.copyOfRange(enc, enc.length - TagLen, enc.length)
        Aegis256.decryptDetached(key, nonce, aadBytes, ct, tag).getOrElse(
          throw new javax.crypto.AEADBadTagException("AEGIS-256 tag mismatch"))
    }
  }

  /** Codegen'd read-side decryption for scans — restores the logical
    * (headers, body) columns from the stored form: encrypted data rows
    * (stored `headers IS NULL`) decrypt + envelope-decode in-plan;
    * plaintext command rows pass through untouched. Per-record
    * format-byte dispatch, both ciphers, inside whole-stage codegen.
    */
  def decryptRecords(df: org.apache.spark.sql.DataFrame, key: Array[Byte],
                     basin: String, stream: String): org.apache.spark.sql.DataFrame =
    decryptWithAad(df,
      org.apache.spark.sql.functions.lit(aad(basin, stream)), key)

  /** Basin-wide decrypting scan: derives each record's AAD from its
    * `stream` column, so decrypting an N-stream basin is ONE plan
    * (scan → single decrypt project) — never N unioned per-stream
    * branches. At 10k streams the union shape is a driver-side plan
    * explosion; this one is the same plan at any stream count. The
    * input df must carry the unescaped `stream` column
    * (StreamStore.visibleBasin provides it).
    */
  def decryptBasin(df: org.apache.spark.sql.DataFrame, key: Array[Byte],
                   basin: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    // aad(basin, stream) = UTF-8(basin) ++ 0x00 ++ UTF-8(stream):
    // binary concat of the constant prefix with the UTF-8 cast of the
    // per-row stream name reproduces it exactly.
    val aadCol = concat(lit(aad(basin, "")), col("stream").cast("binary"))
    decryptWithAad(df, aadCol, key)
  }

  private def decryptWithAad(df: org.apache.spark.sql.DataFrame,
                             aadCol: org.apache.spark.sql.Column,
                             key: Array[Byte]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, when}
    val dec = graft.functions.GraftFunctions.record_decrypt(
      col("body"), key, aadCol)
    df.withColumn("_dec", when(col("headers").isNull, dec))
      .withColumn("headers",
        when(col("_dec").isNull, col("headers")).otherwise(col("_dec")("headers")))
      .withColumn("body",
        when(col("_dec").isNull, col("body")).otherwise(col("_dec")("body")))
      .drop("_dec")
  }
}
