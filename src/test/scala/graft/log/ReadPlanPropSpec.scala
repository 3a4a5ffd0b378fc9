package graft.log

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.model._

/** The two read executors over the one read planner must agree:
  * `readBatch` (the driver-side record scan every serving read uses)
  * returns exactly what `read(...).collect()` (the Spark plan over the
  * same file list and masks) returns, record for record — seq,
  * timestamp, headers and body, in order. Random specs cover every
  * start form (seq, tail offset, timestamp, with and without clamp),
  * count and bytes limits, `until`, `ignoreCommands`, a trim point
  * inside a file, Age retention at a pinned `nowMs`, both ciphers, and
  * a stream read after a `compact()` generation flip (whose files
  * Spark's parquet writer produced, not DirectParquet). Modelled on
  * MetricsGaugeSpec, which pins the storage gauge's fast path against
  * the Spark scan the same way.
  */
class ReadPlanPropSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val key = Array.fill(32)(0x5a.toByte)
  private val basins: Seq[(String, Option[CipherAlgo])] = Seq(
    "readplan-plain" -> None,
    "readplan-aegis" -> Some(CipherAlgo.Aegis256),
    "readplan-gcm" -> Some(CipherAlgo.Aes256Gcm))
  private val streams = Seq("trim", "age", "gen")

  /** Nine streams (three per basin), each ~60 records over ~10 files
    * with client timestamps 1000 apart: "trim" carries two trim
    * commands (one mid-file), "age" has a 30 s Age retention, "gen" is
    * "trim"'s content compacted into a new generation plus two more
    * appends. */
  private lazy val store: StreamStore = {
    val st = new StreamStore(spark, Files.createTempDirectory("graft-readplan").toString)
    val rnd = new scala.util.Random(7)
    def env(i: Int): EnvelopeRecord = EnvelopeRecord(
      Seq.tabulate(rnd.nextInt(3))(h => Header.utf8(s"h$h", s"v$i-$h")),
      Array.fill(rnd.nextInt(120))(rnd.nextInt(256).toByte))
    basins.foreach { case (basin, cipher) =>
      st.catalog.createBasin(basin, BasinConfig(
        defaultStreamConfig = StreamConfig(
          retentionPolicy = Some(RetentionPolicy.Infinite),
          timestamping = Some(Timestamping(TimestampingMode.ClientRequire,
            uncapped = true))),
        streamCipher = cipher)).fold(e => fail(e), identity)
      val k = cipher.map(_ => key)
      streams.foreach { s =>
        val cfg = if (s == "age") StreamConfig(
          retentionPolicy = Some(RetentionPolicy.Age(30)),
          timestamping = Some(Timestamping(TimestampingMode.ClientRequire,
            uncapped = true)))
        else StreamConfig()
        st.catalog.createStream(basin, s, cfg).fold(e => fail(e), identity)
        var ts = 0L
        def append(recs: Seq[Record]): Unit = {
          val tss = recs.map { _ => ts += 1000; Some(ts) }
          st.append(basin, s, AppendInput(recs, clientTimestamps = tss),
            Some(1000L), k).fold(e => fail(e.toString), identity)
        }
        (0 until 8).foreach { f =>
          val recs: Seq[Record] = Seq.tabulate(3 + rnd.nextInt(6))(env)
          append(if (s != "age" && f == 3) recs.patch(2, Seq(TrimCommand(6)), 0)
                 else recs)
          if (s != "age" && f == 5) append(Seq(TrimCommand(9)))
        }
        if (s == "gen") {
          st.compact(basin, s)
          (0 until 2).foreach(_ => append(Seq.tabulate(4)(env)))
        }
      }
    }
    st
  }

  private def hex(b: Array[Byte]): String =
    if (b == null) "null" else b.map("%02x".format(_)).mkString

  private type Rec = (Long, Long, Seq[(String, String)], String)

  private def ofRecord(r: SequencedRecord): Rec =
    (r.seqNum, r.timestamp, r.headers.map(h => (hex(h.name), hex(h.value))), hex(r.body))

  /** A collected row in the served form: a SequencedRecord has no NULL
    * headers, so NULL reads as no headers. */
  private def ofRow(r: Row): Rec =
    (r.getLong(0), r.getLong(1),
      Option(r.getSeq[Row](2)).getOrElse(Nil)
        .map(h => (hex(h.getAs[Array[Byte]](0)), hex(h.getAs[Array[Byte]](1)))),
      hex(r.getAs[Array[Byte]](3)))

  /** None half the time (Gen.option picks None only 1 in 10, which
    * would leave unlimited reads, where only the row masks bound the
    * result, almost untested). */
  private def half[T](g: Gen[T]): Gen[Option[T]] =
    Gen.oneOf(Gen.const(None), g.map(Some(_)))

  private val specGen: Gen[ReadSpec] = for {
    from <- Gen.oneOf(
      Gen.choose(0L, 75L).map(ReadFrom.SeqNum(_)),
      Gen.choose(0L, 75L).map(ReadFrom.TailOffset(_)),
      Gen.choose(0L, 80000L).map(ReadFrom.Timestamp(_)))
    clamp <- Gen.oneOf(true, false)
    count <- half(Gen.choose(0L, 30L))
    bytes <- half(Gen.choose(0L, 3000L))
    until <- half(Gen.choose(0L, 80000L))
  } yield ReadSpec(ReadStart(from, clamp), ReadEnd(ReadLimit(count, bytes), until))

  private def check(p: Prop, cases: Int): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(cases), p)
    assert(res.passed, res.status.toString)
  }

  basins.foreach { case (basin, cipher) =>
    test(s"readBatch == read().collect() on random specs ($basin)") {
      val k = cipher.map(_ => key)
      var nonEmpty = 0
      var cases = 0
      check(Prop.forAllNoShrink(specGen, Gen.oneOf(streams), Gen.oneOf(true, false),
          Gen.oneOf(20000L, 45000L, 70000L, 100000L)) { (spec, stream, ignoreCmds, now) =>
        val nowMs = Some(now)
        val batch = store.readBatch(basin, stream, spec, ignoreCmds, k, nowMs)
          .map(_.map(ofRecord))
        val plan = store.read(basin, stream, spec, ignoreCmds, nowMs, k)
          .map(_.collect().toSeq.map(ofRow))
        cases += 1
        if (batch.exists(_.nonEmpty)) nonEmpty += 1
        Prop(batch == plan) :| s"$basin/$stream $spec ignoreCommands=$ignoreCmds " +
          s"now=$now\n  readBatch: $batch\n  read:      $plan"
      }, cases = 60)
      // non-vacuous: most random specs select records
      assert(nonEmpty * 3 >= cases, s"only $nonEmpty of $cases cases read anything")
    }
  }

  test("the fixture hits every mask: trim point, Age cutoff, commands, compaction") {
    val all = ReadSpec(ReadStart(ReadFrom.SeqNum(0)))
    basins.foreach { case (basin, cipher) =>
      val k = cipher.map(_ => key)
      def seqs(stream: String, ignore: Boolean = false, now: Long = 0L) =
        store.readBatch(basin, stream, all, ignore, k, Some(now))
          .fold(e => fail(e), identity).map(_.seqNum)
      // the second trim (to 9) wins; seq 9 onward is visible, and both
      // trim commands sit above it (the first is mid-file)
      assert(seqs("trim").head == 9L)
      assert(seqs("trim", ignore = true).size == seqs("trim").size - 2)
      assert(seqs("gen").head == 9L && store.manifest(basin, "gen").generation > 0)
      // Age(30 s) at now = 45 s keeps timestamps >= 15 s only
      assert(seqs("age", now = 45000L).head == 14L)
      assert(seqs("age", now = 100000L).isEmpty)
      // an encrypted basin refuses a read without its key
      if (cipher.isDefined)
        assert(store.read(basin, "trim", all).isLeft,
          "reading an encrypted basin without the key must fail")
    }
  }
}
