package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans around the benchmark's calls into each layer, plus
  * (when tracing) Spark job/stage spans from a listener and streaming
  * progress durations. Nothing is written until [[Json.write]] at exit.
  *
  * Times are epoch microseconds on one clock: wall time at start plus
  * `nanoTime` deltas, so the Python side can line spans up with its
  * own `time.time()` stamps.
  */
final class Trace(val enabled: Boolean, val runId: String) {
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  private val baseNano = System.nanoTime()
  def nowUs(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L

  import Trace.Span
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }

  /** Times `f` as a span named `name`; the innermost open span on this
    * thread is its parent. Jobs `f` submits carry the span id as a
    * Spark local property, so the listener can parent them. */
  def span[A](name: String)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.get.headOption.getOrElse(0)
    val sc = org.apache.spark.graftbench.SparkInternals.active
    val prevProp = sc.map(_.getLocalProperty(Trace.SpanProp))
    sc.foreach(_.setLocalProperty(Trace.SpanProp, id.toString))
    stack.set(id :: stack.get)
    val t0 = nowUs()
    try f
    finally {
      val t1 = nowUs()
      stack.set(stack.get.tail)
      sc.foreach(_.setLocalProperty(Trace.SpanProp, prevProp.flatMap(Option(_)).orNull))
      synchronized { spans += Span(id, name, t0, t1, parent) }
    }
  }

  val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  val snapshots = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val jobStart = mutable.Map.empty[Int, (Long, Int, Seq[Int])]

  // Spark reports job/stage times in epoch millis; keep them in micros
  private def msToUs(ms: Long): Long = ms * 1000L

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProp)))
        .map(_.toInt).getOrElse(0)
      jobStart(e.jobId) = (msToUs(e.time), parent, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent, stageIds) =>
        jobs += Map("id" -> e.jobId, "start" -> t0, "end" -> msToUs(e.time),
          "parent" -> parent, "stages" -> stageIds,
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages += Map("id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start" -> msToUs(i.submissionTime.getOrElse(0L)),
        "end" -> msToUs(i.completionTime.getOrElse(0L)),
        "tasks" -> i.numTasks,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        progress += Map("at" -> nowUs(), "batch" -> p.batchId,
          "rows" -> p.numInputRows) ++
          Seq("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets",
            "latestOffset", "triggerExecution").map(k =>
            k -> (if (d.containsKey(k)) d.get(k).longValue() else 0L))
      }
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
  }

  /** Everything the listeners saw before this call is recorded after it. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    if (enabled) org.apache.spark.graftbench.SparkInternals.drain(spark.sparkContext)

  /** A listing of every file under `root` (traced runs only). */
  def snapshot(label: String, root: String): Unit = if (enabled) {
    val files = Trace.listFiles(root)
    synchronized {
      snapshots += Map("label" -> label, "at" -> nowUs(),
        "data_files" -> files.count(_._1.endsWith(".parquet")),
        "meta_files" -> files.count(!_._1.endsWith(".parquet")),
        "bytes" -> files.map(_._2).sum)
    }
  }

  def toMap: Map[String, Any] = synchronized {
    Map("run_id" -> runId, "traced" -> enabled,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "parent" -> s.parent)).toList,
      "jobs" -> jobs.toList, "stages" -> stages.toList,
      "progress" -> progress.toList, "snapshots" -> snapshots.toList)
  }
}

object Trace {
  val SpanProp = "graftbench.span"

  final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int)

  /** (path, size) of every regular file under `root`. */
  def listFiles(root: String): Seq[(String, Long)] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) Nil
    else {
      val s = java.nio.file.Files.walk(p)
      try {
        val out = mutable.ArrayBuffer.empty[(String, Long)]
        s.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f))
            out += ((f.toString, java.nio.file.Files.size(f)))
        }
        out.toSeq
      } finally s.close()
    }
  }

}
