package graftbench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs, launches
  * this with `<workload> <workDir> <trace 0|1> [key=value ...]`, and
  * reads `<workDir>/jvm_out.json` afterwards; every metric, percentile
  * and integrity verdict is computed there, not here.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, workDir, traceFlag) = args.take(3)
    val opts = args.drop(3).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val trace = new Trace(traceFlag == "1", opts.getOrElse("run_id", workload))
    val jvmStartUs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = trace.span("setup.session")(session(workDir, opts("cpus")))
    trace.install(spark)
    val result = workload match {
      case "live_tail" => LiveTail.run(spark, trace, workDir, opts)
      case "bulk_ingest" => BulkIngest.run(spark, trace, workDir, opts)
      case "analytics" => Analytics.run(spark, trace, workDir, opts)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    trace.drain(spark)
    Json.write(s"$workDir/jvm_out.json", result ++ Map(
      "jvm_start_us" -> jvmStartUs,
      "rss_peak_mb" -> rssPeakMb(),
      "trace" -> trace.toMap))
    spark.stop()
    System.exit(0)
  }

  def session(workDir: String, cpus: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Heap and non-heap memory in use after a full collection, MiB: what
    * the workload keeps reachable (stores, caches, catalogs). Unlike the
    * peak resident set it does not follow the collector's heap sizing.
    * Each workload calls it at its end, while its store is still live. */
  def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(path: String, m: Map[String, Any]): Unit =
    mapper.writeValue(new java.io.File(path), m)
}
