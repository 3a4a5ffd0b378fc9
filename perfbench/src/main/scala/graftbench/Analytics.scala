package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Named registry queries of two families over the generated corpus. The
  * warm pass writes each result to parquet (the integrity dump that
  * run.py compares with the DuckDB oracles); the timed pass only
  * `count()`s each, and its row count must match the dump's.
  */
object Analytics {
  def run(spark: SparkSession, trace: Trace, workDir: String,
          opts: Map[String, String]): Map[String, Any] = {
    val corpus = opts("input")
    val out = new java.io.File(s"$workDir/out").getAbsolutePath
    val registry = SparkEntry.queries
    val names = opts("queries").split(',').toSeq
    val oracles = SparkEntry.oracleSql.collect {
      case (k, v) if names.contains(k) => k -> v.replace("__VERIFY_OUT__", out)
    }
    var failed = 0L
    val rows = mutable.Map.empty[String, Long]
    def fail(n: String, e: Throwable): Unit = {
      System.err.println(s"analytics query $n failed: $e")
      failed += 1
    }
    trace.span("setup.warmup") {
      names.foreach { n =>
        val t0 = System.nanoTime()
        try {
          registry(n)(spark, corpus).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/$n")
          rows(n) = spark.read.parquet(s"$out/$n").count()
        } catch { case e: Exception => fail(n, e) }
        System.err.println(f"[analytics] warm $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    names.foreach { n =>
      // collect the previous query's garbage outside the timed span
      System.gc()
      try {
        val c = trace.span(s"query.$n")(registry(n)(spark, corpus).count())
        if (!rows.get(n).contains(c)) {
          System.err.println(s"analytics query $n: $c rows, dump had ${rows.get(n)}")
          failed += 1
        }
      } catch { case e: Exception => fail(n, e) }
    }
    Map("queries" -> names, "oracles" -> oracles, "rows" -> rows.toMap,
      "failed" -> failed, "attempted" -> names.size.toLong * 2,
      "retained_mb" -> Main.retainedMb())
  }
}
