package graft.log

import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.parquet.schema.MessageTypeParser

/** Driver-direct parquet writing for the unary append path.
  *
  * A ≤1000-record append is a row write, not an analytics job — running
  * a Spark job (createDataFrame -> task -> commit protocol) per append
  * put ~200 ms of scheduler latency on every ack, and going through
  * parquet-mr's Hadoop filesystem layer (path resolution + checksum
  * sidecar files) cost another ~20 ms. Writing through a plain NIO
  * `OutputFile` keeps the ack path pure I/O — ~5 ms p50 — while staying
  * 100% readable by Spark scans: standard 3-level LIST schema, snappy,
  * min/max stats for seq/timestamp file pruning. `close()` fsyncs the
  * channel, so the file is durable before the manifest commit makes it
  * visible (the WriteBatch-submit analog, streamer.rs:1010-1070).
  *
  * Bulk ingest (StreamStore.ingest) still goes through Spark — that is
  * the distributed path; this is the low-latency one.
  *
  * The read side mirrors this: FileIndex opens every data file through
  * NIO (`LocalInputFile`) with read options built on one shared
  * Configuration, so a serving read (StreamStore.readBatch) is pure
  * I/O on the driver too, with no Spark job and no Hadoop filesystem.
  */
object DirectParquet {

  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required int64 seq_num;
      |  required int64 timestamp;
      |  optional group headers (LIST) {
      |    repeated group list {
      |      optional group element {
      |        optional binary name;
      |        optional binary value;
      |      }
      |    }
      |  }
      |  optional binary body;
      |  required int64 metered_size;
      |}""".stripMargin)

  // shared conf: Configuration construction costs ~5 ms per instance
  private val conf = {
    val c = new Configuration()
    GroupWriteSupport.setSchema(schema, c)
    c
  }

  /** parquet-mr OutputFile over NIO — skips Hadoop FS resolution and
    * .crc sidecars; close() = flush + fsync.
    */
  private final class NioOutputFile(path: String, sync: Boolean)
      extends OutputFile {
    override def create(blockSizeHint: Long): PositionOutputStream = {
      val ch = FileChannel.open(Paths.get(path),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      val buffered = new java.io.BufferedOutputStream(
        java.nio.channels.Channels.newOutputStream(ch), 64 * 1024)
      new PositionOutputStream {
        private var pos = 0L
        override def getPos: Long = pos
        override def write(b: Int): Unit = { buffered.write(b); pos += 1 }
        override def write(b: Array[Byte], off: Int, len: Int): Unit = {
          buffered.write(b, off, len); pos += len
        }
        override def flush(): Unit = buffered.flush()
        override def close(): Unit = {
          buffered.flush()
          if (sync) ch.force(true) // durability barrier: data before manifest
          buffered.close()
        }
      }
    }
    override def createOrOverwrite(bs: Long): PositionOutputStream = create(bs)
    override def supportsBlockSize(): Boolean = false
    override def defaultBlockSize(): Long = 0L
  }

  final case class Rec(seqNum: Long, timestamp: Long,
                       headers: Seq[(Array[Byte], Array[Byte])],
                       body: Array[Byte], meteredSize: Long)

  /** Write one sorted batch file into `dir`; returns the file path. */
  def writeBatch(dir: String, recs: Seq[Rec]): String =
    writeIter(dir, recs.iterator)

  /** Streaming variant (executor-side staged ingest writes): same
    * file format, rows consumed from an iterator so one huge stream's
    * partition slice never has to buffer in memory.
    *
    * `sync = false` skips the close-time fsync. Correct ONLY for
    * STAGED bulk-ingest files: the POSIX adapter's durability class is
    * process-crash (manifest renames are not fsynced either), where
    * the page cache survives and no fsync is needed; a staged file
    * that a kernel crash tears is caught by the commit gate's
    * tail-magic check (selectStagedFiles) on the re-driven ingest.
    * On deployment adapters the durability barrier is the object PUT
    * itself (putData), not this local temp write. The unary append
    * path keeps sync = true — its file IS the live object.
    * Measured: 10k one-stream staged files on a journaled /tmp spent
    * ~2 s of the cp10k ingest in close-time fsyncs alone.
    */
  def writeIter(dir: String, recs: Iterator[Rec],
                sync: Boolean = true): String = {
    Files.createDirectories(Paths.get(dir))
    val file = s"$dir/part-${java.util.UUID.randomUUID()}.snappy.parquet"
    val factory = new SimpleGroupFactory(schema)
    val writer = ExampleParquetWriter.builder(new NioOutputFile(file, sync))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try {
      recs.foreach { r =>
        val g = factory.newGroup()
        g.add("seq_num", r.seqNum)
        g.add("timestamp", r.timestamp)
        // headers == null (vs empty) marks an encrypted envelope whose
        // headers are sealed inside the body (RecordCipher doc): skip
        // the optional group so the stored column is NULL
        if (r.headers != null) {
          val headers = g.addGroup("headers")
          r.headers.foreach { case (n, v) =>
            val el = headers.addGroup("list").addGroup("element")
            el.add("name", Binary.fromConstantByteArray(n))
            el.add("value", Binary.fromConstantByteArray(v))
          }
        }
        if (r.body != null) g.add("body", Binary.fromConstantByteArray(r.body))
        g.add("metered_size", r.meteredSize)
        writer.write(g)
      }
    } finally writer.close()
    file
  }
}
