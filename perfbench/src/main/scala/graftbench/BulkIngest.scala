package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.log.StreamStore
import graft.model._

/** Bulk ingest on a POSIX store. Fan-out: create N streams, one
  * `ingest` call with one record per stream, list every stream, check
  * every tail. Deep: a few `ingest` rounds into the same 8 streams,
  * then digest-verified catch-ups of all 8 through the `graft-stream`
  * batch read. Record bodies come from files the generator wrote
  * (fixed-size records, back to back).
  */
object BulkIngest {
  val Basin = "bench-bulk"

  final case class Sizes(fanStreams: Int, fanBody: Int, fanReps: Int, deepStreams: Int,
                         deepPerRound: Int, deepBody: Int, rounds: Int, scanReps: Int)

  def run(spark: SparkSession, trace: Trace, workDir: String,
          opts: Map[String, String]): Map[String, Any] = {
    val in = opts("input")
    val main = Sizes(opts("fan_streams").toInt, opts("fan_body").toInt,
      opts("fan_reps").toInt, opts("deep_streams").toInt, opts("deep_per_round").toInt,
      opts("deep_body").toInt, opts("rounds").toInt, opts("scan_reps").toInt)
    // the warm-up ingests and scans on a throwaway store (a third of a
    // fan-out, a tenth of a deep round), so JIT, codegen and the
    // first-touch costs of the catalog, the staged write and the scan
    // are mostly paid before the timed store; the medians over fan-outs,
    // rounds and scans absorb the rest
    val warm = main.copy(fanStreams = main.fanStreams / 3, fanReps = 1,
      deepPerRound = main.deepPerRound / 10, rounds = 1, scanReps = 1)
    trace.span("setup.warmup") {
      workload(spark, new Trace(false, "warm"), s"$workDir/warm-store", in, warm)
    }
    trace.span("timed") {
      workload(spark, trace, s"$workDir/store", in, main)
    }
  }

  private def workload(spark: SparkSession, trace: Trace, root: String,
                       in: String, z: Sizes): Map[String, Any] = {
    val store = new StreamStore(spark, root)
    val config = BasinConfig(defaultStreamConfig =
      StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite)))
    store.catalog.createBasin(Basin, config)
    var failed = 0L
    // an exception fails the op, not the run: every metric still prints
    def attempt[A](f: => A): Option[A] =
      try Some(f)
      catch { case e: Exception =>
        System.err.println(s"bulk_ingest op failed: $e")
        failed += 1
        None
      }
    // the fan-out runs once per basin, fanReps times, so a run reports
    // the median of several
    val names = (0 until z.fanStreams).map(i => f"fo-$i%05d")
    val tailMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    (0 until z.fanReps).foreach { r =>
      val basin = s"$Basin-fan-$r"
      store.catalog.createBasin(basin, config)
      val fanDf = materialize(frame(spark, basin, s"$in/fanout.bin", z.fanBody, 0L,
        z.fanStreams.toLong, "fo-", 5, 1))
      trace.span("fanout") {
        trace.span("catalog.create_streams") {
          store.catalog.createStreams(basin, names) match {
            case Left(e) => throw new IllegalStateException(s"createStreams: $e")
            case Right(_) => ()
          }
        }
        attempt(trace.span("ingest.fanout")(store.ingest(fanDf)))
        val listed = trace.span("catalog.list_all") {
          var after = ""; var listed = 0; var more = true
          while (more) {
            val p = store.catalog.listStreams(basin, startAfter = after, limit = 1000)
            listed += p.items.size
            if (p.items.nonEmpty) after = p.items.last.name
            more = p.hasMore && p.items.nonEmpty
          }
          listed
        }
        if (listed != names.size) failed += math.abs(names.size - listed)
        trace.span("store.checktail_all") {
          names.foreach { n =>
            val t0 = System.nanoTime()
            val t = store.checkTail(basin, n)
            if (trace.enabled) tailMs += (System.nanoTime() - t0) / 1e6
            if (t.seqNum != 1L) failed += 1
          }
        }
      }
      fanDf.unpersist()
    }

    val deepStreams = (0 until z.deepStreams).map(i => s"deep-$i")
    store.catalog.createStreams(Basin, deepStreams)
    val perRound = z.deepPerRound.toLong
    (0 until z.rounds).foreach { r =>
      val df = materialize(frame(spark, Basin, s"$in/deep.bin", z.deepBody, r * perRound,
        perRound, "deep-", 0, z.deepStreams))
      attempt(trace.span("ingest.deep")(store.ingest(df)))
      df.unpersist()
    }
    trace.span("store.stage_gc")(store.awaitStageGc())
    trace.snapshot("after_ingest", root)
    val files = Trace.listFiles(root)
    val diskBytes = files.map(_._2).sum
    val deepDataBytes = files.collect {
      case (p, n) if p.contains("/stream=deep-") && p.endsWith(".parquet") => n
    }.sum

    val scans = (0 until z.scanReps).map { _ =>
      attempt(trace.span("connector.scan")(scanDigests(spark, root, deepStreams)))
        .getOrElse(Map.empty)
    }
    // traced runs also time the bare read (no digest) so the share of
    // connector.scan that is the connector's own shows
    val bareReads = if (trace.enabled) 1 else 0
    if (bareReads > 0) {
      attempt(trace.span("connector.read")(
        readAll(spark, root, deepStreams).write.format("noop").mode("overwrite").save()))
    }
    Map("failed" -> failed,
      "attempted" -> (z.fanReps * (3L + names.size) + z.rounds + z.scanReps + bareReads),
      "disk_bytes" -> diskBytes, "deep_data_bytes" -> deepDataBytes,
      "checktail_ms" -> tailMs.toSeq, "scans" -> scans,
      "retained_mb" -> Main.retainedMb())
  }

  /** `n` records of `len` bytes from `path`, starting at record
    * `first`, for `basin`. Fan-out rows go to stream `fo-<i>`; deep rows
    * round-robin over `deep-0..deep-(k-1)`. `arrival` fixes the order
    * inside each stream, so seq_num order is file order. */
  private def frame(spark: SparkSession, basin: String, path: String, len: Int, first: Long,
                    n: Long, prefix: String, width: Int,
                    streams: Int): DataFrame = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism
    val rows = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      val lo = n * p / parts
      val hi = n * (p + 1) / parts
      val raf = new java.io.RandomAccessFile(path, "r")
      try {
        raf.seek((first + lo) * len)
        (lo until hi).map { i =>
          val b = new Array[Byte](len)
          raf.readFully(b)
          (first + i, b)
        }
      } finally raf.close()
    }.toDF("arrival", "body")
    val stream =
      if (width > 0) concat(lit(prefix), format_string(s"%0${width}d", col("arrival")))
      else concat(lit(prefix), (col("arrival") % streams).cast("string"))
    rows.select(lit(basin).as("basin"), stream.as("stream"),
      (lit(1700000000000L) + col("arrival")).as("ts_client"),
      expr("CAST(NULL AS ARRAY<STRUCT<name: BINARY, value: BINARY>>)").as("headers"),
      col("body"), col("arrival"))
  }

  private def materialize(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  private def readAll(spark: SparkSession, root: String, streams: Seq[String]): DataFrame =
    streams.map { s =>
      spark.read.format("graft-stream").option("root", root)
        .option("basin", Basin).option("stream", s).load()
        .select(lit(s).as("s"), col("seq_num"), col("body"))
    }.reduce(_ union _)

  /** Per stream: record count, min and max seq_num, and the sum and
    * xor of crc32(seq_num as 8 big-endian bytes || body) over its
    * records. A dropped, duplicated or re-sequenced record changes the
    * count, the seq_num range or the sums. The aggregate is partial
    * per task, so only a few rows per task are shuffled, not the
    * bodies. */
  def scanDigests(spark: SparkSession, root: String,
                  streams: Seq[String]): Map[String, Map[String, Any]] = {
    val h = crc32(concat(unhex(lpad(hex(col("seq_num")), 16, "0")), col("body")))
    readAll(spark, root, streams).groupBy("s")
      .agg(count(lit(1)), min("seq_num"), max("seq_num"), sum(h), bit_xor(h))
      .collect().map { r =>
        r.getString(0) -> Map("records" -> r.getLong(1), "min_seq" -> r.getLong(2),
          "max_seq" -> r.getLong(3), "sum" -> r.getLong(4), "xor" -> r.getLong(5))
      }.toMap
  }
}
