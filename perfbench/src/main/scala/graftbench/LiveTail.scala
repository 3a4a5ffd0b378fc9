package graftbench

import org.apache.spark.sql.SparkSession
import graft.log.{HttpRecordsServer, StreamStore}
import graft.model._

/** Serves one stream over HTTP for the Python load generator. Prints
  * `READY <url>` once serving, then obeys stdin: `snap <label>` lists
  * the store root (traced runs) and answers `OK`; end of input ends
  * the run.
  */
object LiveTail {
  val Basin = "bench-live"
  val Stream = "live"

  def run(spark: SparkSession, trace: Trace, workDir: String,
          opts: Map[String, String]): Map[String, Any] = {
    val root = s"$workDir/store"
    val (store, server, url) = trace.span("setup.fixture") {
      val store = new StreamStore(spark, root)
      store.catalog.createBasin(Basin, BasinConfig(defaultStreamConfig =
        StreamConfig(retentionPolicy = Some(RetentionPolicy.Infinite))))
      store.catalog.createStream(Basin, Stream)
      val (server, url) = HttpRecordsServer.start(store)
      (store, server, url)
    }
    println(s"READY $url")
    Console.flush()
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null) {
      if (line.startsWith("snap ")) {
        trace.drain(spark)
        trace.snapshot(line.stripPrefix("snap "), root)
      }
      println("OK")
      Console.flush()
      line = in.readLine()
    }
    server.stop(0)
    val files = Trace.listFiles(root)
    val tail = store.checkTail(Basin, Stream)
    Map("retained_mb" -> Main.retainedMb(), "disk_bytes" -> files.map(_._2).sum,
      "data_files" -> files.count(_._1.endsWith(".parquet")),
      "meta_files" -> files.count(!_._1.endsWith(".parquet")),
      "tail_seq" -> tail.seqNum)
  }
}
