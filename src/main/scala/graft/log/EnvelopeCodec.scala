package graft.log

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, StructField, StructType}

/** Byte-for-byte wire codec for the plaintext `EnvelopeRecord`
  * encoding — the exact bytes the reference encrypts when a basin has
  * a stream cipher (storage/src/record/encryption.rs:243-272
  * encrypt_envelope_record encodes the envelope into the payload
  * region and encrypts it in place).
  *
  * Layout (storage/src/record/codec.rs:139-289):
  *
  * ```text
  * [flag: 1 byte] [num_headers: 0-3 bytes] repeat(
  *   [name_len: 1-4 bytes] [name] [value_len: 1-4 bytes] [value]
  * ) [body...]
  * ```
  *
  * The flag byte packs three widths (codec.rs:150-172):
  * bits 5..4 = num_headers width in bytes (0 = no headers and no count
  * field), bits 3..2 = name-length width − 1, bits 1..0 = value-length
  * width − 1; bits 7..6 are reserved zero. All integers big-endian.
  * Widths are the minimum bytes for the largest length in the record,
  * so the encoding is canonical: encode(decode(x)) == x.
  */
object EnvelopeCodec {

  /** Spark-side shape of one decoded envelope: the decrypt expression
    * returns this struct so read plans can restore the logical
    * (headers, body) columns in one pass. */
  val structType: StructType = StructType(Seq(
    StructField("headers", ArrayType(StructType(Seq(
      StructField("name", BinaryType), StructField("value", BinaryType)))),
      nullable = true),
    StructField("body", BinaryType, nullable = true)))

  /** Minimum big-endian width (1..4) for a length field. */
  private def width(maxLen: Long): Int =
    if (maxLen <= 0xFFL) 1
    else if (maxLen <= 0xFFFFL) 2
    else if (maxLen <= 0xFFFFFFL) 3
    else 4

  private def putUint(out: Array[Byte], at: Int, v: Long, w: Int): Unit = {
    var i = 0
    while (i < w) { out(at + i) = ((v >>> (8 * (w - 1 - i))) & 0xFF).toByte; i += 1 }
  }

  private def getUint(in: Array[Byte], at: Int, w: Int): Long = {
    var v = 0L; var i = 0
    while (i < w) { v = (v << 8) | (in(at + i) & 0xFFL); i += 1 }
    v
  }

  /** Encode (headers, body) to the reference's envelope wire form.
    * `body == null` encodes as empty — the reference's body is `Bytes`
    * (never null), so on encrypted basins the null/empty distinction
    * collapses by design (pinned in RecordCipherSpec).
    */
  def encode(headers: Seq[(Array[Byte], Array[Byte])],
             body: Array[Byte]): Array[Byte] = {
    val b = if (body == null) Array.emptyByteArray else body
    if (headers == null || headers.isEmpty) {
      // flag with zero num_headers width; name/value widths encode as
      // 1 (codec.rs:139-143 EMPTY_HEADER_FLAG)
      val out = new Array[Byte](1 + b.length)
      out(0) = 0x00
      System.arraycopy(b, 0, out, 1, b.length)
      return out
    }
    require(headers.size <= 0xFFFFFF, s"too many headers: ${headers.size}")
    val nW = width(headers.iterator.map(h =>
      (if (h._1 == null) 0 else h._1.length).toLong).max)
    val vW = width(headers.iterator.map(h =>
      (if (h._2 == null) 0 else h._2.length).toLong).max)
    val cW = width(headers.size.toLong) // 1..3 given the require above
    val headerBytes = headers.iterator.map(h =>
      (if (h._1 == null) 0 else h._1.length) +
        (if (h._2 == null) 0 else h._2.length)).sum
    val total = 1 + cW + headers.size * (nW + vW) + headerBytes + b.length
    val out = new Array[Byte](total)
    out(0) = ((cW << 4) | ((nW - 1) << 2) | (vW - 1)).toByte
    var at = 1
    putUint(out, at, headers.size.toLong, cW); at += cW
    headers.foreach { case (n0, v0) =>
      val n = if (n0 == null) Array.emptyByteArray else n0
      val v = if (v0 == null) Array.emptyByteArray else v0
      putUint(out, at, n.length.toLong, nW); at += nW
      System.arraycopy(n, 0, out, at, n.length); at += n.length
      putUint(out, at, v.length.toLong, vW); at += vW
      System.arraycopy(v, 0, out, at, v.length); at += v.length
    }
    System.arraycopy(b, 0, out, at, b.length)
    out
  }

  private def truncated(what: String): Nothing =
    throw new IllegalArgumentException(s"truncated envelope encoding: $what")

  /** Decode the envelope wire form back to (headers, body).
    * Tolerates empty header names (the repo's command envelope form;
    * the reference rejects them at VALIDATION, codec.rs:320-322, but
    * commands are stored plaintext so they never round-trip here).
    */
  def decode(enc: Array[Byte]): (Seq[(Array[Byte], Array[Byte])], Array[Byte]) = {
    if (enc.length < 1) truncated("HeaderFlag")
    val flag = enc(0) & 0xFF
    if ((flag & 0xC0) != 0)
      throw new IllegalArgumentException("envelope flag reserved bit set")
    val cW = (flag >> 4) & 0x3
    var at = 1
    if (cW == 0) {
      return (Nil, java.util.Arrays.copyOfRange(enc, at, enc.length))
    }
    val nW = ((flag >> 2) & 0x3) + 1
    val vW = (flag & 0x3) + 1
    if (at + cW > enc.length) truncated("NumHeaders")
    val count = getUint(enc, at, cW).toInt; at += cW
    val headers = new Array[(Array[Byte], Array[Byte])](count)
    var i = 0
    while (i < count) {
      if (at + nW > enc.length) truncated("HeaderNameLen")
      val nLen = getUint(enc, at, nW).toInt; at += nW
      if (at + nLen > enc.length) truncated("HeaderName")
      val name = java.util.Arrays.copyOfRange(enc, at, at + nLen); at += nLen
      if (at + vW > enc.length) truncated("HeaderValueLen")
      val vLen = getUint(enc, at, vW).toInt; at += vW
      if (at + vLen > enc.length) truncated("HeaderValue")
      val value = java.util.Arrays.copyOfRange(enc, at, at + vLen); at += vLen
      headers(i) = (name, value)
      i += 1
    }
    (headers.toSeq, java.util.Arrays.copyOfRange(enc, at, enc.length))
  }

  /** Decrypt invocation counter (LongAdder: uncontended executor-side
    * increments) — lets specs and probes pin "ONE decrypt per record":
    * a plan that inlines the decrypt struct into both the headers and
    * body projections would silently double cipher cost at 100 TB.
    */
  val decryptCalls = new java.util.concurrent.atomic.LongAdder

  /** Decrypt one stored encrypted-envelope record and decode it to
    * (headers, body) — the one decrypt both read executors call: the
    * record_decrypt plan expression (through [[decryptToRow]]) and
    * the driver-side scan behind StreamStore.readBatch. Counted in
    * [[decryptCalls]].
    */
  def decryptRecord(key: Array[Byte], aad: Array[Byte], enc: Array[Byte])
      : (Seq[(Array[Byte], Array[Byte])], Array[Byte]) = {
    decryptCalls.increment()
    decode(RecordCipher.decrypt(key, aad, enc))
  }

  /** [[decryptRecord]] as the Spark struct row (headers, body) —
    * static-shaped so the codegen'd read-plan expression calls it
    * directly (one decrypt + decode per record, executor-side).
    */
  def decryptToRow(key: Array[Byte], aad: Array[Byte],
                   enc: Array[Byte]): InternalRow = {
    val (headers, body) = decryptRecord(key, aad, enc)
    val arr = new Array[Any](headers.size)
    var i = 0
    headers.foreach { case (n, v) =>
      arr(i) = new GenericInternalRow(Array[Any](n, v)); i += 1
    }
    new GenericInternalRow(Array[Any](new GenericArrayData(arr), body))
  }
}
