package graft.log

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model._
import graft.streaming.ReadSession

/** Serving reads run on the driver: `readBatch` and everything built on
  * it (readUnary, readChunked, ReadSession, the HTTP read routes) must
  * launch no Spark job, must stay correct when many threads scan the
  * same files while an appender commits (each parquet open gets its own
  * codec factory; a shared one corrupted concurrent reads), and must
  * pay the cipher exactly once per returned record.
  */
class DriverReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val key = Array.fill(32)(0x33.toByte)
  private val Plain = "dr-plain-basin"
  private val Aegis = "dr-aegis-basin"
  private val Gcm = "dr-gcm-basin"

  private def freshStore(): StreamStore = {
    val st = new StreamStore(spark, Files.createTempDirectory("graft-driver-read").toString)
    st.catalog.createBasin(Plain, BasinConfig(defaultStreamConfig =
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      .fold(e => fail(e), identity)
    Seq(Aegis -> CipherAlgo.Aegis256, Gcm -> CipherAlgo.Aes256Gcm).foreach {
      case (b, algo) =>
        st.catalog.createBasin(b, BasinConfig(
          defaultStreamConfig =
            StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)),
          streamCipher = Some(algo))).fold(e => fail(e), identity)
    }
    st
  }

  /** `files` appends of `perFile` ~1 KiB records (compressible, so the
    * snappy path does real work), each with one header. */
  private def fill(st: StreamStore, basin: String, stream: String,
                   files: Int, perFile: Int): Unit = {
    st.catalog.createStream(basin, stream)
    val k = if (basin == Plain) None else Some(key)
    (0 until files).foreach { f =>
      st.append(basin, stream, AppendInput(Seq.tabulate(perFile) { i =>
        EnvelopeRecord(Seq(Header.utf8("file", f.toString)),
          (s"record-$f-$i-" * 64).take(1024).getBytes("UTF-8"))
      }), Some(1000L), k).fold(e => fail(e.toString), identity)
    }
  }

  private def served(rs: Seq[SequencedRecord]): Seq[(Long, Seq[Header], String)] =
    rs.map(r => (r.seqNum, r.headers, new String(r.body, "UTF-8")))

  /** Jobs started while `f` runs, from any thread. A sentinel job in
    * its own group marks the end: the listener bus delivers events in
    * order, so once the sentinel's start is seen, every earlier start
    * has been counted. */
  private def jobsDuring(f: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      val sentinel = s"sentinel-${java.util.UUID.randomUUID()}"
      sc.setJobGroup(sentinel, "end marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(sentinel) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(sentinel), "listener never saw the sentinel job")
      groups.toArray.count(_ != sentinel)
    } finally sc.removeSparkListener(listener)
  }

  test("readBatch, readUnary, readChunked, a ReadSession catch-up and the " +
    "HTTP read routes launch no Spark job") {
    val st = freshStore()
    fill(st, Plain, "s", files = 5, perFile = 20)
    fill(st, Gcm, "s", files = 3, perFile = 10)
    val from0 = ReadSpec(ReadStart(ReadFrom.SeqNum(0)))
    // the counter has teeth: the DataFrame executor is a Spark job
    assert(jobsDuring(st.read(Plain, "s", from0).fold(e => fail(e), identity)
      .collect()) > 0)
    val (server, ep) = HttpRecordsServer.start(st, Some(1000L))
    try {
      val jobs = jobsDuring {
        assert(st.readBatch(Plain, "s", from0).toOption.get.size == 100)
        assert(st.readBatch(Gcm, "s", from0, cipher = Some(key)).toOption.get.size == 30)
        assert(st.readUnary(Plain, "s", ReadSpec(ReadStart(ReadFrom.Timestamp(0)),
          ReadEnd(ReadLimit(count = Some(10))))).toOption.get.size == 10)
        assert(st.readChunked(Plain, "s", from0).toOption.get.map(_.size).sum == 100)
        val session = new ReadSession(st, Plain, "s", 0L, waitMs = Some(0L))
        var delivered = 0
        var open = true
        while (open) session.poll() match {
          case session.Event.Batch(rs, _) => delivered += rs.size
          case session.Event.Closed(_) => open = false
          case _ => ()
        }
        assert(delivered == 100)
        // a timestamp start resolves through readBatch too
        val evs = HttpRecordsClient.readSse(
          s"$ep/v1/streams/s/records?timestamp=0&count=5", Seq("s2-basin" -> Plain))
        assert(evs.exists(_.event.contains("batch")), evs.map(_.data).mkString("|"))
      }
      assert(jobs == 0, s"$jobs Spark job(s) launched by serving reads")
    } finally server.stop(0)
  }

  test("8 threads reading one stream while an appender commits all see the " +
    "single-threaded result") {
    val st = freshStore()
    fill(st, Plain, "s", files = 20, perFile = 10)
    fill(st, Gcm, "s", files = 5, perFile = 10)
    // bounded specs inside the committed prefix: concurrent appends
    // only add records past it, so the answer cannot change
    def spec(from: Long, count: Long, bytes: Option[Long] = None) =
      ReadSpec(ReadStart(ReadFrom.SeqNum(from)), ReadEnd(ReadLimit(Some(count), bytes)))
    val specs = Seq(
      (Plain, spec(0, 200)), (Plain, spec(37, 50)), (Plain, spec(95, 10)),
      (Plain, spec(120, 80, Some(20000))), (Gcm, spec(0, 50)), (Gcm, spec(13, 7)))
    def run(basin: String, s: ReadSpec) =
      served(st.readBatch(basin, "s", s,
        cipher = if (basin == Plain) None else Some(key)).fold(e => fail(e), identity))
    val expected = specs.map { case (b, s) => run(b, s) }
    assert(expected.head.size == 200 && expected(3).nonEmpty)

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new ConcurrentLinkedQueue[String]()
    val appender = new Thread(() => {
      var i = 0
      while (!stop.get()) {
        st.append(Plain, "s", AppendInput(Seq.tabulate(10)(j =>
          EnvelopeRecord(Nil, s"late-$i-$j".getBytes("UTF-8")))), Some(1000L))
          .left.foreach(e => failures.add(s"append: $e"))
        i += 1
      }
    })
    val readers = (0 until 8).map { t =>
      new Thread(() => {
        try (0 until 25).foreach { n =>
          val i = (t + n) % specs.size
          val (b, s) = specs(i)
          if (run(b, s) != expected(i)) failures.add(s"thread $t: spec $i diverged")
        } catch { case e: Throwable => failures.add(s"thread $t: $e") }
      })
    }
    appender.start()
    readers.foreach(_.start())
    readers.foreach(_.join())
    stop.set(true)
    appender.join()
    assert(failures.isEmpty, failures.toArray.take(5).mkString("\n"))
    assert(st.checkTail(Plain, "s").seqNum > 200, "the appender never committed")
  }

  test("an encrypted count-limited readBatch decrypts exactly the records " +
    "it returns, on both ciphers") {
    val st = freshStore()
    Seq(Aegis, Gcm).foreach { b =>
      fill(st, b, "s", files = 4, perFile = 10)
      Seq((0L, 1L), (5L, 7L), (12L, 25L), (38L, 10L)).foreach { case (from, count) =>
        val before = EnvelopeCodec.decryptCalls.sum()
        val got = st.readBatch(b, "s", ReadSpec(ReadStart(ReadFrom.SeqNum(from)),
          ReadEnd(ReadLimit(count = Some(count)))), cipher = Some(key))
          .fold(e => fail(e), identity)
        val calls = EnvelopeCodec.decryptCalls.sum() - before
        assert(got.size == math.min(count, 40 - from))
        assert(calls == got.size, s"$b from=$from count=$count: $calls decrypts " +
          s"for ${got.size} records")
        assert(got.head.headers == Seq(Header.utf8("file", (from / 10).toString)))
      }
      // a wrong key fails authentication on the driver, bare
      intercept[javax.crypto.AEADBadTagException] {
        st.readBatch(b, "s", ReadSpec(ReadStart(ReadFrom.SeqNum(0))),
          cipher = Some(Array.fill(32)(0x44.toByte)))
      }
    }
  }
}
