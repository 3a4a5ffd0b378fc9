package graft.log

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._

/** The data plane: a durable, append-only, totally-ordered record log
  * per (basin, stream), stored as Parquet partitions + atomic per-stream
  * manifests, with the reference's append/read semantics (SURVEY §2.1,
  * §2.2) re-expressed Spark-first.
  *
  * Scale design (local[32] here, 1000 executors at 100 TB):
  * - data is hash-partitioned BY STREAM on disk (`basin=/stream=`
  *   directories), so every read prunes to one partition and every
  *   multi-stream ingest parallelizes across streams with exactly one
  *   shuffle (the per-stream sequencing sort — inherent to the total
  *   order, same as the reference's one-writer-per-stream actor);
  * - files within a stream are written sorted by seq_num with
  *   min/max parquet stats, so seq/timestamp range reads prune files
  *   (the analog of the SRD prefix scan + SRT index seek,
  *   lite/src/backend/read.rs:112-131,287-317);
  * - the manifest commit (atomic rename) is the durability barrier:
  *   visible ⇔ durable, replacing the reference's flush watermark
  *   (lite/src/backend/durability_notifier.rs);
  * - trim/retention are logical masks at read time, made physical by
  *   compaction (T1/T2) — "trimming is eventually consistent"
  *   (cli/src/cli.rs:143-146).
  */
/** A manifest commit lost its version CAS to a competing out-of-band
  * writer. Typed so retry policies can distinguish this — the one
  * failure a session may legitimately re-drive against the new tail —
  * from deterministic IO failures (disk-full, permissions) that would
  * fail identically on every attempt (the reference SDK's
  * retryable-status split, sdk/src/retry.rs). Extends
  * ConcurrentModificationException so pre-existing catch sites keep
  * working.
  */
final class ManifestCasConflict(msg: String)
  extends java.util.ConcurrentModificationException(msg)

object StreamStore {

  /** One planned read (StreamStore.planRead): the chosen data files
    * (disjoint, each seq-sorted, in `minSeq` order) and the row masks
    * both executors apply — seq in [lo, hi), timestamp ≥ `retCutoff`
    * (Age retention) and < `until`, commands dropped when
    * `ignoreCommands` — plus the `count` cut and the resolved cipher.
    */
  private[log] final case class ReadPlan(
      files: Seq[FileIndex.FileStats], lo: Long, hi: Long,
      retCutoff: Option[Long], until: Option[Long], ignoreCommands: Boolean,
      count: Option[Long], cipher: Option[CipherSpec])

  /** Columns the driver-side record scan reads (metered_size is not
    * part of a served record). */
  private val RecordColumns = Set("seq_num", "timestamp", "headers", "body")

  /** One staged file written by a SUCCESSFUL task attempt, reported
    * back to the driver through the job's own result channel — the
    * committer-free equivalent of a task-commit message. The
    * per-stream commit trusts these stats without re-opening the file
    * (no per-file footer or tail-magic IO at 10k streams), and treats
    * any staged file NOT in the report as a failed/speculated
    * attempt's leavings to validate via [[StreamStore.stagedStats]].
    * `name` is the file name (not path): the report must match
    * whatever directory the commit lists, and executor/driver path
    * prefixes are only guaranteed to agree on the shared-root part.
    */
  final case class StagedFile(basin: String, stream: String, name: String,
                              minSeq: Long, maxSeq: Long, rows: Long)

  /** JVM-wide stage-GC worker (see the instance-side `stageGc` doc). */
  private[log] val stageGcExecutor =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-stage-gc"); t.setDaemon(true); t
    })

  /** Executor-side staged-file writer for bulk ingest: streams one
    * task's (basin, stream, seq)-sorted rows and cuts a DirectParquet
    * file at every stream boundary, at the final staged path — no
    * Hadoop committer (see the call site in ingest for why). Static
    * (companion) so the closure ships without capturing the store.
    * Row layout: basin(0), stream(1), seq_num(2), timestamp(3),
    * headers(4), body(5), metered_size(6). Returns one [[StagedFile]]
    * report per file written, collected by the driver.
    */
  private[log] def writeStagedPartition(
      stagePath: String, basinCiphers: Map[String, CipherSpec])
      (rows: Iterator[org.apache.spark.sql.Row]): Iterator[StagedFile] = {
    import org.apache.spark.sql.Row
    val it = rows.buffered
    def toRec(r: Row, spec: Option[CipherSpec],
              aad: Array[Byte]): DirectParquet.Rec = {
      val headers: Seq[(Array[Byte], Array[Byte])] =
        if (r.isNullAt(4)) Nil
        else r.getSeq[Row](4).map { h =>
          val n = if (h == null || h.isNullAt(0)) Array.emptyByteArray
                  else h.getAs[Array[Byte]](0)
          val v = if (h == null || h.isNullAt(1)) Array.emptyByteArray
                  else h.getAs[Array[Byte]](1)
          (n, v)
        }
      val plain = if (r.isNullAt(5)) null else r.getAs[Array[Byte]](5)
      // reject malformed command-marker shapes BEFORE the shape-based
      // encrypt dispatch below can misclassify them (see
      // RecordCipher.validateWireShape) — fails the job, nothing commits
      RecordCipher.validateWireShape(headers, plain).foreach(e =>
        throw new IllegalArgumentException(s"invalid record: $e"))
      // A13: encrypt AFTER metering — metered_size (column 6) was
      // computed on the plaintext body upstream, same contract as the
      // unary path (encryption.rs:27-29). Commands stay plaintext;
      // data envelopes seal their full wire encoding (headers
      // included) under headers=NULL — identical stored shape to the
      // unary path.
      spec match {
        case Some(sp) if !RecordCipher.isCommandForm(headers) =>
          DirectParquet.Rec(r.getLong(2), r.getLong(3), null,
            RecordCipher.encryptEnvelope(sp, aad, headers, plain),
            r.getLong(6))
        case _ =>
          DirectParquet.Rec(r.getLong(2), r.getLong(3), headers, plain,
            r.getLong(6))
      }
    }
    val reports = scala.collection.mutable.ListBuffer.empty[StagedFile]
    while (it.hasNext) {
      val b = it.head.getString(0)
      val st = it.head.getString(1)
      val dir = Layout.stageDir(stagePath, b, st)
      val spec = basinCiphers.get(b)
      val aad = RecordCipher.aad(b, st)
      var minSeq = Long.MaxValue; var maxSeq = Long.MinValue; var rows = 0L
      // sync=false: staged temp write, not the live object — see
      // DirectParquet.writeIter's doc for the durability argument
      val file = DirectParquet.writeIter(dir, new Iterator[DirectParquet.Rec] {
        def hasNext: Boolean = it.hasNext &&
          it.head.getString(0) == b && it.head.getString(1) == st
        def next(): DirectParquet.Rec = {
          val r = toRec(it.next(), spec, aad)
          if (r.seqNum < minSeq) minSeq = r.seqNum
          if (r.seqNum > maxSeq) maxSeq = r.seqNum
          rows += 1
          r
        }
      }, sync = false)
      // embed the file's (minSeq, maxSeq, rows) in its name: files of
      // attempts that died AFTER finishing a file but BEFORE reporting
      // (task killed between files) can still be validated from the
      // name plus one 4-byte tail-magic read instead of a parquet
      // footer open (whose Hadoop FileSystem-cache lock serialized the
      // 10k-stream commit). The rename is local to the staged dir.
      val from = java.nio.file.Paths.get(file)
      val named = from.resolveSibling(
        StreamStore.stagedName(from.getFileName.toString, minSeq, maxSeq, rows))
      java.nio.file.Files.move(from, named)
      reports += StagedFile(b, st, named.getFileName.toString,
        minSeq, maxSeq, rows)
    }
    reports.iterator
  }

  /** Staged-file naming with embedded stats (see writeStagedPartition):
    * `part-<uuid>.s<min>.e<max>.r<rows>.snappy.parquet`. */
  private[log] def stagedName(base: String, minSeq: Long, maxSeq: Long,
                              rows: Long): String =
    base.stripSuffix(".snappy.parquet") +
      s".s$minSeq.e$maxSeq.r$rows.snappy.parquet"

  private val StagedNameStats =
    """.*\.s(\d+)\.e(\d+)\.r(\d+)\.snappy\.parquet$""".r

  /** minSeq from a stats-embedded file name; None for plain names.
    * Every COMMIT path publishes stats-named objects (appendGroup,
    * staged ingest, compaction), so the object-mode per-commit sweep
    * can decide candidacy from the listing alone. */
  private[log] def nameMinSeq(name: String): Option[Long] = name match {
    case StagedNameStats(s, _, _) => Some(s.toLong)
    case _ => None
  }

  /** Stats of one staged file for the commit gate: from the embedded
    * name when present (plus the cheap tail-magic check — a torn dead
    * attempt still gets dropped), else the authoritative footer read.
    * None = provably torn. */
  private[log] def stagedStats(path: String): Option[FileIndex.FileStats] =
    path match {
      case StagedNameStats(s, e, r) =>
        FileIndex.tailIntact(path) match {
          case Some(true) =>
            Some(FileIndex.FileStats(path, s.toLong, e.toLong, 0L, 0L, r.toLong))
          case Some(false) => None // torn attempt leavings
          case None => FileIndex.tryStats(path) // undetermined: be loud
        }
      case _ => FileIndex.tryStats(path)
    }

  /** Task-retry/speculation gate for the committer-free staged ingest.
    * Executor tasks write DirectParquet files at the final staged path
    * with no Hadoop committer, so a retried or speculated task attempt
    * can leave (a) a TORN file (died mid-write, no parquet footer) or
    * (b) a complete DUPLICATE twin (same records, different UUID name)
    * beside the winning attempt's output. Spark reports job success as
    * soon as each partition has one successful attempt — it never
    * cleans the losers' direct-path files. This selector re-derives,
    * from the successful attempts' reports (with footer/tail-magic
    * fallback for unreported extras), exactly the file set a committer
    * would have promoted:
    *
    *  - torn files (FileIndex.tryStats = None: tail magic missing) are
    *    dropped — by the durability order they were never part of a
    *    successful attempt;
    *  - a file whose [minSeq,maxSeq] exactly duplicates an accepted
    *    range is a retry/speculation twin of the same deterministic
    *    partition output — dropped;
    *  - the accepted files must tile [plannedTail, newTail) exactly
    *    (each internally dense: rows == max-min+1) — any gap, partial
    *    overlap, or short coverage aborts the stream's commit with its
    *    files still staged, so nothing torn or duplicated can ever
    *    enter the live generation under an acked tail.
    *
    * Reference analog: the storage submit is one atomic WriteBatch
    * (lite/src/backend/streamer.rs:1010-1070) — this check makes the
    * staged-file move equivalently idempotent under attempt-level
    * duplication.
    */
  private[log] def selectStagedFiles(
      paths: Seq[String], plannedTail: Long, newTail: Long,
      basin: String, stream: String,
      reported: Map[String, StagedFile] = Map.empty)
      : Seq[FileIndex.FileStats] = {
    // Stats resolution, cheapest first: a file the job's successful
    // attempts REPORTED (keyed by file name) is trusted without any
    // IO — the listing already proved it exists, and the report came
    // from the attempt Spark acked. Unreported extras (torn leavings,
    // speculated twins, planted fixtures) fall back to stagedStats:
    // None = provably torn (skip); transient I/O errors still throw,
    // failing the ingest loudly rather than silently dropping a
    // complete file.
    val sorted = paths.flatMap { p =>
      val name = Paths.get(p).getFileName.toString
      reported.get(name) match {
        case Some(r) =>
          // the report carries the stats (no footer open), but the
          // promoted bytes still get the 4-byte tail-magic probe
          // (ADVICE r16: staged writes are sync=false — one pread per
          // file buys back the torn-file detection the footer read
          // used to provide). A torn REPORTED file is not a skippable
          // twin — the acked attempt's output is damaged — so fail
          // the ingest loudly with its files still staged.
          if (FileIndex.tailIntact(p).contains(false))
            throw new IllegalStateException(
              s"staged file $p was reported complete by its task but " +
                "lacks the parquet tail magic — torn staged write")
          Some((FileIndex.FileStats(p, r.minSeq, r.maxSeq, 0L, 0L, r.rows), true))
        case None => stagedStats(p).map((_, false))
      }
    }.sortBy { case (s, rep) => (s.minSeq, !rep, s.path) }
    // reported-first at equal minSeq: when a completed loser twin sits
    // beside the winner, the published copy is the attempt Spark
    // reported as successful — committer semantics even when a
    // nondeterministic upstream made the twins differ in content.
    val accepted = scala.collection.mutable.ArrayBuffer.empty[FileIndex.FileStats]
    var cursor = plannedTail
    sorted.foreach { case (st, _) =>
      if (st.maxSeq < cursor) {
        // entirely behind the cursor: legal ONLY as an exact twin of an
        // already-accepted range (a duplicated task attempt)
        val twin = accepted.exists(a =>
          a.minSeq == st.minSeq && a.maxSeq == st.maxSeq && a.rows == st.rows)
        if (!twin) throw new IllegalStateException(
          s"staged ingest invariant violated for $basin/$stream: " +
            s"${st.path} covers [${st.minSeq},${st.maxSeq}] which partially " +
            s"overlaps already-accepted coverage ending at ${cursor - 1}")
      } else if (st.minSeq == cursor && st.rows == st.maxSeq - st.minSeq + 1) {
        accepted += st
        cursor = st.maxSeq + 1
      } else throw new IllegalStateException(
        s"staged ingest invariant violated for $basin/$stream: " +
          s"${st.path} covers [${st.minSeq},${st.maxSeq}] rows=${st.rows}, " +
          s"expected a dense file starting at seq $cursor")
    }
    if (cursor != newTail) throw new IllegalStateException(
      s"staged ingest coverage gap for $basin/$stream: staged files tile " +
        s"[$plannedTail,$cursor) but the planned commit needs " +
        s"[$plannedTail,$newTail)")
    accepted.toSeq
  }

  /** JVM-global lock registry keyed by (canonical root, basin, stream):
    * two StreamStore instances over one root in one process serialize
    * here (and share one lock object, so same-JVM FileChannel locks
    * in withStreamLock never overlap).
    */
  private val jvmLocks = new ConcurrentHashMap[String, Object]()
  private[log] def jvmLock(key: String): Object =
    jvmLocks.computeIfAbsent(key, _ => new Object)
}

final class StreamStore(val spark: SparkSession, val root: String) {

  /** The physical-IO adapter: POSIX by default; tests (and future
    * deployments) install an object-semantics backend per root via
    * [[ObjectStoreBackend.install]] before constructing stores. Every
    * instance over one root — however many "drivers" a test simulates
    * — resolves to the same backend, like processes sharing a bucket. */
  val backend: StorageBackend = StorageBackend.forRoot(root)

  /** Budget for the reader-side overlap guard's re-listing before the
    * loud OverlappingDataObjects refusal. Time-based, not a try
    * count: the loser's eager delete runs on the LOSING WRITER's
    * thread, so under heavy CPU contention (a full test suite, a
    * saturated executor) it can take seconds — a 1 s budget misread
    * that as the persisting-overlap bug state and refused a read one
    * more listing would have served. A REAL persisting overlap still
    * fails, just later. Tests pinning the refusal itself lower this. */
  @volatile private[log] var overlapRefusalMs: Long = 10000L

  val catalog = new Catalog(root)

  // Catalog.canonicalRoot, not lexical normalize: symlink-aliased
  // roots must share the data-plane commit monitors too, or two
  // in-JVM stores over one physical stream would race to the same
  // OS lock file and the loser's FileChannel.lock() would throw
  // OverlappingFileLockException instead of waiting
  private val rootKey = Catalog.canonicalRoot(root)

  /** Test seam (object-backend linearizability): when set, this
    * instance's commit sections use INSTANCE-scoped monitors instead
    * of the JVM-global registry, so two simulated drivers in one JVM
    * genuinely interleave and ONLY the manifest conditional-put
    * carries safety — the exact situation of two real processes on
    * one bucket. Honored only when the backend has no real writer
    * mutex: isolated POSIX instances would hit the same OS file lock,
    * and JVM file-locking throws on intra-process overlap.
    */
  private[log] var isolateJvmLocks: Boolean = false
  private val instanceLocks = new ConcurrentHashMap[String, Object]()

  private def lockFor(basin: String, stream: String): Object = {
    val key = rootKey + "\u0000" + basin + "\u0000" + stream
    if (isolateJvmLocks && !backend.hasWriterMutex)
      instanceLocks.computeIfAbsent(key, _ => new Object)
    else StreamStore.jvmLock(key)
  }

  /** Cross-process critical section for one stream's commit path: the
    * JVM-global lock serializes writers in this process; the backend's
    * writer mutex (an OS file lock on POSIX; NOTHING on an object
    * store, which has no locks) serializes across processes where the
    * medium can. The protocol does NOT rely on the mutex for safety —
    * the manifest conditional-put in saveManifestCas is what makes two
    * drivers on one root unable to lose appends (exactly the
    * reference's position: SlateDB fences writers with S3 conditional
    * puts, not locks); the mutex only cuts wasted staged work.
    */
  private def withStreamLock[A](basin: String, stream: String)(f: => A): A =
    withStreamLockTimed(basin, stream, null)(f)

  /** [[withStreamLock]] with optional sub-step timing (`tick(step,
    * nanos)`), so the bulk-ingest profiling loop can attribute the
    * lock wrapper's own cost (JVM monitor vs OS flock acquisition)
    * separately from the commit body. null = no timing. */
  private def withStreamLockTimed[A](basin: String, stream: String,
      tick: (String, Long) => Unit)(f: => A): A = {
    val t0 = if (tick == null) 0L else System.nanoTime()
    lockFor(basin, stream).synchronized {
      val t1 = if (tick == null) 0L else { val t = System.nanoTime()
        tick("jvmLock", t - t0); t }
      val lockPath = Layout.statePath(root, basin, stream)
        .resolveSibling(Layout.escape(stream) + ".lock")
      backend.withWriterMutex(lockPath) {
        if (tick != null) tick("flock", System.nanoTime() - t1)
        f
      }
    }
  }

  val recordSchema: StructType = StructType(Seq(
    StructField("seq_num", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("name", BinaryType), StructField("value", BinaryType)))),
      nullable = true),
    StructField("body", BinaryType, nullable = true),
    StructField("metered_size", LongType, nullable = false)))

  /** Test seam: runs between the unary append's data-file write and its
    * manifest commit, so specs can inject the commit-time failures
    * (CAS race, IO error) that the orphan-cleanup contract is about.
    */
  private[log] var beforeManifestCommit: () => Unit = () => ()

  /** Test hook: runs after bulk ingest's staged write completes and
    * before any per-stream commit, receiving the stage root — lets
    * specs plant the files a retried/speculated task attempt would
    * leave (a torn part, a duplicate twin) and prove the commit gate
    * rejects them (see StreamStore.selectStagedFiles). */
  private[log] var beforeStagedCommit: String => Unit = _ => ()

  /** Crash recovery, run under the stream lock before this store
    * instance's FIRST commit to a stream: a writer that DIED between
    * its data-file write and its manifest commit (the exception path
    * deletes the file, a process death cannot) leaves a file starting
    * exactly at the committed tail. It is invisible to reads (they
    * clamp at tail), but the moment a new commit assigns those
    * seq_nums again, reads would return duplicates.
    *
    * Once per stream per instance, not per commit: within a process
    * the exception path cleans up synchronously, so an orphan can only
    * predate this process (a crashed predecessor) — and a per-append
    * listing + footer read measured +20 ms on the ack p50. The
    * remaining window (a FOREIGN process crashing mid-commit while
    * this one keeps writing) is caught by compaction's
    * dropDuplicates repair pass.
    */
  private val sweptStreams =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Pre-generation layouts (round <= 8) wrote parquet directly under
    * the stream dir. Read paths fall back to that legacy dir when the
    * manifest still says generation 0 and no gen=0 dir exists; write
    * paths migrate the loose files into gen=0 under the stream lock
    * the first time they commit (migrateLegacyLocked), after which the
    * layout is uniform. The one-time migration MOVE invalidates a plan
    * captured over the legacy paths — an upgrade-time event, unlike
    * steady-state compaction which never moves live paths.
    */
  private def hasLooseParquet(dir: java.nio.file.Path): Boolean =
    backend.supportsLegacyLayout && {
      if (!Files.exists(dir)) return false
      val s = Files.list(dir)
      try s.iterator().asScala.exists(p =>
        p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      finally s.close()
    }

  /** All dirs a read must union (two only in the interrupted-migration
    * state — see Layout.resolveDataDirs).
    */
  private def dataDirsFor(basin: String, stream: String,
                          m: StreamManifest): Seq[String] =
    if (!backend.supportsLegacyLayout)
      Seq(Layout.genDir(root, basin, stream, m.generation))
    else Layout.resolveDataDirs(root, basin, stream, m.generation)

  /** Manifest + file listing via FileIndex.consistentListing (see its
    * doc for the flip-races-listing scenario): first read may serve
    * the mtime-keyed cache (hot path), rechecks bypass it so a foreign
    * flip in the same mtime granule can't be missed.
    */
  private def manifestAndFiles(basin: String, stream: String)
      : (StreamManifest, Seq[FileIndex.FileStats]) =
    FileIndex.consistentListing(
      () => manifest(basin, stream),
      () => manifestFresh(basin, stream),
      m => dataDirsFor(basin, stream, m),
      dir => backend.listData(Paths.get(dir)).map(_.toString))

  /** Caller must hold the stream lock. POSIX-era mechanics: object
    * roots are born on the gen= layout, so this never runs there. */
  private def migrateLegacyLocked(basin: String, stream: String,
                                  m: StreamManifest): Unit = {
    if (!backend.supportsLegacyLayout) return
    if (m.generation != 0L) return
    val legacy = Paths.get(Layout.dataDir(root, basin, stream))
    if (!hasLooseParquet(legacy)) return
    val gen0 = Paths.get(Layout.genDir(root, basin, stream, 0L))
    Files.createDirectories(gen0)
    val s = Files.list(legacy)
    try s.iterator().asScala.toSeq
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .foreach(p => Files.move(p, gen0.resolve(p.getFileName)))
    finally s.close()
  }

  /** Sweep a dead writer's leavings from the current generation, once
    * per stream per store instance. Returns the (manifest, tag) the
    * caller's commit must build on — identical to what was passed in
    * unless the object-mode fence (below) moved the manifest.
    *
    * Deletion safety differs by adapter:
    *
    *  - POSIX (`hasWriterMutex`): the OS writer mutex we hold excludes
    *    every live writer process, so any listed object with
    *    `minSeq >= tail` (or an unreadable footer — a writer that died
    *    MID data-file write; POSIX-only physics, an object PUT is
    *    atomic) is a dead writer's — delete directly.
    *  - Object store: NO mutex exists, so a listed object above the
    *    tail may be a LIVE foreign driver's in-flight put whose
    *    manifest CAS has not landed yet. Deleting it would not fail
    *    that CAS (the sweep never touches the manifest) — the acked
    *    tail would point at deleted data. So FENCE first: CAS-bump the
    *    manifest version under our tag. If the bump lands, every
    *    in-flight commit holding the old tag must fail its conditional
    *    put, delete its own object (the commit failure path does) and
    *    retry with a FRESH put — deleting the listed candidates
    *    afterwards can never strand a committable object. If the bump
    *    loses the race, a commit landed meanwhile: skip this sweep and
    *    let a later commit re-evaluate against the new tail. (The
    *    fence must CHANGE the manifest bytes — etags are content
    *    hashes, so a byte-identical rewrite would not invalidate the
    *    foreign tag; the version bump guarantees new bytes.)
    */
  private def sweepOrphans(basin: String, stream: String, m: StreamManifest,
                           tag: Option[String]): (StreamManifest, Option[String]) = {
    // The once-per-instance memo is sound only where a LIVE instance
    // can never create an orphan of its own: on POSIX every failed
    // commit deletes its object (local IO is never indeterminate), so
    // orphans come only from dead processes and one sweep per stream
    // suffices. On object adapters a lost-response commit may KEEP its
    // object (IndeterminateCommit, see appendGroup) while OTHER
    // writers keep committing -- every commit must re-sweep, or a
    // competing writer re-assigns the kept object's seq range beside
    // it (NetFaultSpec's ghost row; caught live by the flaky-http
    // linearizability run). The re-sweep is one listData round trip --
    // footer stats are cached per path.
    if (backend.hasWriterMutex && !sweptStreams.add(basin + "\u0000" + stream))
      return (m, tag)
    // legacy loose files join gen=0 before anything else commits here
    migrateLegacyLocked(basin, stream, m)
    // orphans can only live in the CURRENT generation: writers commit
    // into manifest.generation, and a generation flip is itself CAS'd
    val dir = Paths.get(Layout.genDir(root, basin, stream, m.generation))
    val candidates = backend.listData(dir).filter { p =>
      // name-embedded stats first: zero IO for the overwhelmingly
      // common committed-below-tail file (every commit path publishes
      // stats-named objects; atomic publish means a stats-named file
      // is never torn). Nameless files (legacy layout, fabricated
      // leavings) fall back to the footer/tail probe.
      StreamStore.nameMinSeq(p.getFileName.toString) match {
        case Some(minSeq) => minSeq >= m.tailSeq
        case None => FileIndex.tryStats(p.toString) match {
          // whole-object orphan: a writer died between its data put and
          // its manifest commit, leaving a complete object starting at
          // the committed tail
          case Some(st) => st.minSeq >= m.tailSeq
          // torn file (no parquet footer): dead mid-write on POSIX
          case None => true
        }
      }
    }
    if (candidates.isEmpty) return (m, tag)
    if (backend.hasWriterMutex) {
      candidates.foreach(backend.deleteData)
      (m, tag)
    } else {
      val fenced = m.copy(version = m.version + 1)
      backend.casMeta(stateKey(basin, stream),
        Layout.toJsonString(fenced), tag) match {
        case Right(newTag) =>
          candidates.foreach(backend.deleteData)
          (fenced, Some(newTag))
        case Left(_) =>
          sweptStreams.remove(basin + "\u0000" + stream) // retry later
          manifestTagged(basin, stream)
      }
    }
  }

  private def stateKey(basin: String, stream: String): String =
    Layout.statePath(root, basin, stream).toString

  /** getMeta with the pre-shard fallback: a miss at the sharded path
    * on a POSIX root probes the legacy flat location and adopts it
    * (Layout.adoptLegacyState), so an old root's committed tails are
    * never read as absent. The extra probe only runs on the
    * manifest-absent path (brand-new streams), never on hot reads. */
  private def getMetaAdopting(key: String, basin: String, stream: String,
                              fresh: Boolean): Option[(String, String)] =
    backend.getMeta(key, fresh = fresh).orElse {
      if (backend.supportsLegacyLayout &&
          Layout.adoptLegacyState(root, basin, stream))
        backend.getMeta(key, fresh = true)
      else None
    }

  def manifest(basin: String, stream: String): StreamManifest = {
    val key = stateKey(basin, stream)
    ManifestCache.parse(key, getMetaAdopting(key, basin, stream, fresh = false))
  }

  /** Authoritative manifest read for commit paths: bypasses any
    * adapter cache so a foreign process's write can never be served
    * stale inside a critical section (the cache serves read/metrics
    * paths).
    */
  private def manifestFresh(basin: String, stream: String): StreamManifest =
    manifestTagged(basin, stream)._1

  /** Fresh manifest + its CAS tag (None = manifest absent) — what a
    * commit reads before its conditional put. */
  private def manifestTagged(basin: String,
                             stream: String): (StreamManifest, Option[String]) = {
    val key = stateKey(basin, stream)
    getMetaAdopting(key, basin, stream, fresh = true) match {
      case None => (StreamManifest(), None)
      case some @ Some((_, etag)) => (ManifestCache.parse(key, some), Some(etag))
    }
  }

  /** Conditional-put commit of the manifest — the analog of the
    * reference's trim-point CAS (stream_trim.rs:120-152) and of
    * SlateDB's If-Match manifest updates over S3 (the semantics the
    * reference's own simulation enforces, sim/src/s3.rs:120-134).
    * `ifMatch` is the tag from manifestTagged (None = create). On the
    * POSIX adapter the put is atomic under the stream lock every
    * caller holds; on the object adapter it is atomic on its own. A
    * precondition failure aborts the commit loudly rather than losing
    * the competing writer's update.
    */
  private def saveManifestCas(basin: String, stream: String,
                              next: StreamManifest,
                              ifMatch: Option[String]): Unit =
    backend.casMeta(stateKey(basin, stream), Layout.toJsonString(next), ifMatch)
      match {
        case Left(reason) => throw new ManifestCasConflict(
          s"manifest CAS failed for $basin/$stream: $reason")
        case Right(_) => ()
      }

  /** C6 (core.rs:326-391): resolve the stream's merged config for a
    * write/read, auto-provisioning with defaults when the basin opts in
    * (`StreamAlreadyExists` races are swallowed by re-reading).
    */
  private def resolveStream(basin: String, stream: String,
                            autoCreate: Boolean): Option[StreamConfig] =
    catalog.streamConfig(basin, stream).orElse {
      if (!autoCreate) None
      else catalog.createStream(basin, stream) match {
        case Right(_) =>
          catalog.streamConfig(basin, stream)
            .orElse(Some(StreamConfig.SystemDefault))
        case Left("StreamAlreadyExists") =>
          // lost the provisioning race: the winner's entry serves
          catalog.streamConfig(basin, stream)
        case Left(_) =>
          // REAL failure (invalid name, basin gone): the write must
          // NOT be admitted — an acked append nobody can read back
          // is data loss
          None
      }
    }

  /** R1: tail = position of the next record; survives full trim. */
  def checkTail(basin: String, stream: String): StreamPosition = {
    val m = manifest(basin, stream)
    StreamPosition(m.tailSeq, m.tailTs)
  }

  /** Backend liveness probe behind /health — the analog of the
    * reference's `db_status` (lite/src/backend/store.rs:11, served by
    * handlers/mod.rs:19-24): one FRESH meta GET of the catalog's basin
    * list, so the probe exercises the same storage path every control-
    * plane RPC depends on. Cheap (a stat on POSIX, one conditional GET
    * on an object endpoint), never a Spark job — a load balancer hits
    * this more often than any other route. Right(()) = serving;
    * Left(diag) = backend unreachable (the /health 503 arm). */
  def dbStatus(): Either[String, Unit] =
    try {
      backend.getMeta(Layout.basinsPath(rootKey).toString, fresh = true)
      Right(())
    } catch {
      case t: Throwable => Left(
        s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}")
    }

  // -------------------------------------------------------------------------
  // Append path (A1-A7)
  // -------------------------------------------------------------------------

  /** A1 unary append. Validates caps, enforces fencing (A5) and CAS
    * (A4), assigns positions (A2) and timestamps (A3, exact
    * streamer.rs:964-1008 semantics), applies in-band fence/trim
    * commands (A6/A7), commits one sorted parquet file + the manifest.
    * The single-batch case of [[appendGroup]].
    */
  def append(basin: String, stream: String, input: AppendInput,
             nowMs: Option[Long] = None,
             cipher: Option[Array[Byte]] = None): Either[AppendError, AppendAck] =
    appendGroup(basin, stream, Seq(input), nowMs, cipher) match {
      case (Seq(ack), None) => Right(ack)
      case (_, Some((_, e))) => Left(e)
      case other => throw new IllegalStateException(
        s"appendGroup contract violation for one input: $other")
    }

  /** A8 pipelining — GROUP COMMIT of submission-ordered batches with
    * ONE manifest CAS, the store-side analog of the reference's
    * durability watermark: appends are sequenced and staged eagerly
    * and their acks release together when the shared durability
    * barrier (the manifest commit) lands, so per-batch cost against a
    * high-RTT object endpoint amortizes to ~(1 data PUT + 1/G CAS)
    * instead of (read + PUT + CAS) per batch ("Appends are pipelined
    * to improve performance against object storage latency",
    * reference README:176; FuturesOrdered + PendingAppends.on_stable,
    * lite/src/backend/append.rs:57,137-202; the storage submit is one
    * atomic WriteBatch, lite/src/backend/streamer.rs:1010-1070).
    *
    * Semantics are EXACTLY the serial loop's: batch k validates
    * against the state batches 0..k-1 left behind (rolled tail /
    * fencing token / trim point), and on the first invalid batch the
    * valid prefix still commits — returns (acks for 0..k-1,
    * Some((k, error))). All-or-nothing within the prefix: the group's
    * single data object and manifest CAS land together or not at all
    * (a failed CAS deletes the object before rethrowing, so a
    * re-driven group can never duplicate seq_nums).
    */
  def appendGroup(basin: String, stream: String, inputs: Seq[AppendInput],
                  nowMs: Option[Long] = None,
                  cipher: Option[Array[Byte]] = None)
      : (Seq[AppendAck], Option[(Int, AppendError)]) = {
    require(inputs.nonEmpty, "appendGroup needs at least one batch")
    val ackT0 = System.nanoTime()
    def failAll(e: AppendError): (Seq[AppendAck], Option[(Int, AppendError)]) =
      (Nil, Some((0, e)))
    // Validation-first error precedence (ADVICE r16): the reference
    // validates record shape at request PARSE, before streamer
    // dispatch, so statically invalid input fails InvalidBatch even on
    // a missing/deletion-pending stream — and never takes the stream
    // lock when nothing ahead of it could commit. Later batches keep
    // their per-index verdict for the roll loop below (prefix-commit
    // semantics unchanged).
    val staticErr: IndexedSeq[Option[AppendError]] = inputs.iterator.map(in =>
      Caps.validateBatch(in.records).left.toOption
        .map(AppendError.InvalidBatch(_))).toIndexedSeq
    staticErr.head.foreach(e => return failAll(e))
    val basinCfg = catalog.basinConfig(basin)
    val config = resolveStream(basin, stream,
      autoCreate = basinCfg.createStreamOnAppend) match {
      case Some(c) => c
      case None =>
        // deletion-pending outranks not-found (streamer.rs:402-404):
        // the soft-deleted stream's streamer still answers until the
        // terminal trim is reclaimed
        return failAll(
          if (manifest(basin, stream).deletionPending)
            AppendError.StreamDeletionPending
          else AppendError.StreamNotFound)
    }
    // A13: per-basin cipher selection × per-call key material
    // (encryption.rs EncryptionSpec::resolve — key without configured
    // cipher → plaintext; cipher without key → error)
    val cipherSpec: Option[CipherSpec] =
      RecordCipher.resolve(basinCfg.streamCipher, cipher) match {
        case Right(s) => s
        case Left(e) => return failAll(AppendError.EncryptionError(e))
      }
    val ts = config.timestampingOrDefault

    withStreamLock(basin, stream) {
      val (m0, tag0) = manifestTagged(basin, stream)
      if (m0.deletionPending)
        return failAll(AppendError.StreamDeletionPending)
      // the sweep may fence-bump (object mode) or refresh (lost race);
      // the commit below MUST build on what it returns
      val (m, tag) = sweepOrphans(basin, stream, m0, tag0)
      if (m.deletionPending)
        return failAll(AppendError.StreamDeletionPending)
      val now = nowMs.getOrElse(System.currentTimeMillis())

      // Roll the manifest state batch by batch, stopping at the first
      // invalid one — exactly the state a serial commit-per-batch loop
      // would have validated each batch against.
      var tail = m.tailSeq
      var maxTs = m.tailTs
      var fence = m.fencingToken
      var trim = m.trimPoint
      val recs = scala.collection.mutable.ArrayBuffer.empty[DirectParquet.Rec]
      val acks = scala.collection.mutable.ArrayBuffer.empty[AppendAck]
      var failure: Option[(Int, AppendError)] = None
      var bi = 0
      while (bi < inputs.length && failure.isEmpty) {
        val input = inputs(bi)
        def fail(e: AppendError): Unit = failure = Some((bi, e))
        staticErr(bi) match {
          case Some(e) => fail(e)
          case None =>
            // A5: fencing enforced only when a token is provided —
            // against the ROLLED token (an earlier in-group fence
            // command is visible to later batches, like serial)
            input.fencingToken match {
              case Some(t) if t != fence =>
                fail(AppendError.FencingTokenMismatch(fence))
              case _ =>
                // A4: CAS against the first seq this batch would take
                input.matchSeqNum match {
                  case Some(n) if n != tail =>
                    fail(AppendError.SeqNumMismatch(n, tail))
                  case _ =>
                }
            }
        }
        if (failure.isEmpty) {
          val clientTs: Seq[Option[Long]] =
            if (input.clientTimestamps.nonEmpty) input.clientTimestamps
            else Seq.fill(input.records.size)(None)
          // A3: per-record mode -> cap -> monotone clamp. The clamp
          // cursor is batch-LOCAL until the batch is accepted: a batch
          // that fails mid-validation (TimestampMissing) must leave no
          // trace in the committed prefix's tail timestamp.
          val assigned = new scala.collection.mutable.ArrayBuffer[(Long, Long)]
          var btMax = maxTs
          for ((ct, i) <- clientTs.zipWithIndex if failure.isEmpty) {
            val t0 = ts.mode match {
              case TimestampingMode.ClientPrefer => Some(ct.getOrElse(now))
              case TimestampingMode.ClientRequire => ct
              case TimestampingMode.Arrival => Some(now)
            }
            t0 match {
              case None => fail(AppendError.TimestampMissing)
              case Some(raw) =>
                var t = raw
                if (!ts.uncapped && t > now) t = now
                if (t < btMax) t = btMax else btMax = t
                assigned += ((tail + i, t))
            }
          }
          if (failure.isEmpty) {
            maxTs = btMax
            // A6/A7: apply commands in order
            for ((rec, i) <- input.records.zipWithIndex) rec match {
              case FenceCommand(token) => fence = token
              case TrimCommand(p) =>
                val candidate = math.min(p, assigned(i)._1 + 1)
                if (candidate > trim) trim = candidate
              case e: EnvelopeRecord =>
                CommandRecord.fromEnvelopeForm(e).foreach {
                  case FenceCommand(token) => fence = token
                  case TrimCommand(p) =>
                    val candidate = math.min(p, assigned(i)._1 + 1)
                    if (candidate > trim) trim = candidate
                }
            }
            recs ++= input.records.zip(assigned).map { case (rec, (seq, t)) =>
              val env = rec match {
                case e: EnvelopeRecord => e
                case c: CommandRecord => c.toEnvelopeForm
              }
              val hs = env.headers.map(h => (h.name, h.value))
              // A13: encrypt AFTER metering (metered size = plaintext
              // size). Commands stay plaintext (encryption.rs:211-213);
              // data envelopes encrypt their FULL wire encoding,
              // headers included (encryption.rs:243-272), stored as
              // headers=NULL + sealed body.
              cipherSpec match {
                case Some(spec) if !RecordCipher.isCommandForm(hs) =>
                  DirectParquet.Rec(seq, t, null,
                    RecordCipher.encryptEnvelope(spec,
                      RecordCipher.aad(basin, stream), hs, env.body),
                    rec.meteredSize)
                case _ =>
                  DirectParquet.Rec(seq, t, hs, env.body, rec.meteredSize)
              }
            }
            val first = assigned.head
            val last = assigned.last
            tail = last._1 + 1
            acks += AppendAck(
              StreamPosition(first._1, first._2),
              StreamPosition(last._1 + 1, last._2),
              StreamPosition(tail, maxTs)) // group-final tail patched below
            bi += 1
          }
        }
      }
      if (acks.isEmpty) return (Nil, failure)

      // ONE data object + ONE manifest CAS for the whole accepted
      // prefix. Driver-direct write to LOCAL staging, then one atomic
      // whole-object publish into the generation dir: on POSIX a
      // same-volume move, on an object store the PUT itself — either
      // way a lister never observes a partial data object.
      val stagedDir = s"$root/_tmp"
      val staged = Paths.get(DirectParquet.writeBatch(stagedDir, recs.toSeq))
      // stats-embedded COMMITTED name: object-mode sweeps run on every
      // commit (see sweepOrphans) and must decide candidacy from the
      // LISTING alone — a per-file footer read per commit is an O(n)
      // tax on the serial append path
      val dataFile = Paths.get(Layout.genDir(root, basin, stream, m.generation))
        .resolve(StreamStore.stagedName(staged.getFileName.toString,
          recs.head.seqNum, recs.last.seqNum, recs.size.toLong))
      backend.putData(staged, dataFile)

      val newM = m.copy(tailSeq = tail, tailTs = maxTs,
        fencingToken = fence, trimPoint = trim, version = m.version + 1)
      // the group must be ATOMIC: the data object precedes the
      // manifest commit (durability order), so a failed commit has to
      // take the object with it — an orphan above the committed tail
      // is invisible today (reads clamp at tail) but becomes duplicate
      // seq_nums the moment a retry or competing writer re-commits
      // that range. EXCEPTION: an INDETERMINATE commit (lost response
      // on a real wire) may have LANDED — deleting the object then
      // would strand committed records under an advanced tail. Keep
      // it: if the commit in fact lost, the object sits above the
      // committed tail (invisible) and sweepOrphans fences + reclaims
      // it before any writer re-assigns the range; if it landed, the
      // records are live and correct. Either way the caller sees the
      // append as indefinite, like the reference's lost-response
      // writes.
      try {
        beforeManifestCommit()
        saveManifestCas(basin, stream, newM, tag)
      } catch {
        case ind: IndeterminateCommit =>
          // the kept object invalidates sweepOrphans' once-per-stream
          // memo: if this commit in fact lost, the next append on THIS
          // instance must re-sweep or it would re-assign the orphan's
          // seq range beside it (NetFaultSpec pins this with a ghost
          // row that must not survive)
          sweptStreams.remove(basin + "\u0000" + stream)
          throw ind
        case t: Throwable =>
          backend.deleteData(dataFile)
          throw t
      }
      // acks carry the DURABLE tail (the group's committed end), like
      // the reference's on_stable watermark completing every pending
      // ack with the stable position (append.rs:180-191)
      val sealed0 = acks.toSeq.map(a =>
        a.copy(tail = StreamPosition(newM.tailSeq, newM.tailTs)))
      // M5: the reference's server histograms (lite/src/metrics.rs).
      // Ack latency observes once per GROUP — the shared durability
      // barrier IS every batch's ack wait, so per-batch observation
      // would count one wait N times and inflate the histogram under
      // pipelining (ADVICE r16). Batch-shape histograms stay
      // per-accepted-batch; the group fan-in gets its own histogram so
      // pipelining depth is visible.
      ServerMetrics.appendAckLatency.observe((System.nanoTime() - ackT0) / 1e9)
      ServerMetrics.appendGroupBatches.observe(sealed0.size.toDouble)
      inputs.take(sealed0.size).foreach { input =>
        ServerMetrics.appendBatchRecords.observe(input.records.size.toDouble)
        ServerMetrics.appendBatchBytes.observe(
          input.records.iterator.map(_.meteredSize).sum.toDouble)
      }
      (sealed0, failure)
    }
  }

  /** Bulk ingest — the 100 TB path. Takes a DataFrame with columns
    * (basin STRING, stream STRING, ts_client LONG nullable, headers,
    * body BINARY, arrival LONG) and appends every stream in one job:
    * one shuffle (partition by stream for the sequencing sort), writes
    * via dynamic partitions, then commits all manifests. One logical
    * writer per stream is still required — callers serialize per store.
    */
  def ingest(df0: DataFrame, nowMs: Option[Long] = None,
             epochId: Option[Long] = None,
             cipher: Option[Array[Byte]] = None): Map[(String, String), AppendAck] = {
    import spark.implicits._
    val now = nowMs.getOrElse(System.currentTimeMillis())
    // Phase timing for the profiling loop (GRAFT_INGEST_TIMING=1):
    // the 10k-stream commit fan-out has regressed twice on costs that
    // per-phase walls would have localized in one run.
    val tLog = sys.env.contains("GRAFT_INGEST_TIMING") ||
      sys.props.contains("graft.ingest.timing")
    var tPhase = System.nanoTime()
    def phase(name: String): Unit = if (tLog) {
      val t = System.nanoTime()
      System.err.println(f"[ingest-phase] $name ${(t - tPhase) / 1e9}%.3f s")
      tPhase = t
    }
    val allKeys = df0.select("basin", "stream").distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    phase("distinct-keys")
    // A13 on the BULK path: resolve each basin's stream_cipher against
    // the per-call key EXACTLY like unary append (encryption.rs
    // resolve — key without cipher = plaintext, cipher without key =
    // error, which must reject the batch BEFORE any data moves).
    // Encryption itself happens executor-side in the staged write —
    // at 100 TB the driver never touches record bodies.
    val basinCiphers: Map[String, CipherSpec] =
      allKeys.map(_._1).distinct.flatMap { b =>
        RecordCipher.resolve(catalog.basinConfig(b).streamCipher, cipher) match {
          case Right(specOpt) => specOpt.map(b -> _)
          case Left(e) => throw new IllegalStateException(s"EncryptionError: $e")
        }
      }.toMap
    // epoch dedup: a stream whose manifest already committed this epoch
    // is a replayed micro-batch -> skip it (exactly-once manifests)
    val keys = epochId match {
      case Some(e) => allKeys.filter { case (b, s) => manifest(b, s).lastEpoch != e }
      case None => allKeys
    }
    if (keys.isEmpty) return Map.empty
    // C6: bulk ingest enforces the same auto-create contract as unary
    // append (core.rs:326-391); missing streams of an opted-in basin
    // are provisioned in ONE catalog commit per basin (an auto-create
    // storm of 10k new streams must not rewrite the catalog 10k times).
    // Deletion-pending streams reject the whole batch up front — like
    // unary append's StreamDeletionPending (streamer.rs:402-404) —
    // instead of resurrecting a soft-deleted stream and acking data
    // the trim executor is about to reclaim.
    // ONE parallel manifest sweep, reused by the deletion gate and as
    // the planned tails: at 10k streams the planning phase was 3
    // serial per-stream metadata passes -- ~1 ms each over an HTTP
    // endpoint makes the driver's serial loop the whole ingest
    // (auto-create does not write manifests, so the values cannot
    // change between the gate and the plan).
    val planPar = math.min(48, keys.length)
    val tails: Map[(String, String), StreamManifest] =
      parallelMap(keys.toSeq, planPar) { case k @ (b, s) =>
        k -> manifest(b, s)
      }.toMap
    // One shard sweep per basin answers BOTH planning questions
    // (existence for auto-create, raw config for timestamping) — the
    // per-stream point lookups this replaces were 2 x 10k metadata
    // round trips over an HTTP endpoint (~4 s of the 10k ingest).
    val liveCfg: Map[String, Map[String, StreamConfig]] =
      keys.map(_._1).distinct.map(b => b -> catalog.liveStreamConfigs(b)).toMap
    val basinDefault: Map[String, StreamConfig] =
      keys.map(_._1).distinct.map(b =>
        b -> catalog.basinConfig(b).defaultStreamConfig).toMap
    keys.groupBy(_._1).foreach { case (b, ks) =>
      ks.find { k => tails(k).deletionPending }.foreach {
        case (_, s) => throw new IllegalStateException(
          s"StreamDeletionPending: $b/$s")
      }
      val missing = ks.collect {
        case (_, s) if !liveCfg(b).contains(s) => s
      }
      if (missing.nonEmpty) {
        if (!catalog.basinConfig(b).createStreamOnAppend)
          throw new IllegalArgumentException(
            s"StreamNotFound: $b/${missing.head} (create_stream_on_append not set)")
        catalog.createStreams(b, missing.toSeq).left.foreach(e =>
          throw new IllegalArgumentException(s"auto-create failed: $e"))
      }
    }
    val df = if (keys.length == allKeys.length) df0 else {
      val keep = keys.map { case (b, s) => s"$b\u0000$s" }.toSet
      df0.where(concat_ws("\u0000", col("basin"), col("stream"))
        .isin(keep.toSeq: _*))
    }


    // A3 on the bulk path: resolve each stream's MERGED timestamping
    // config (mode -> cap; the monotone clamp runs in pass 2) exactly
    // like unary append does (streamer.rs:964-1008). The per-stream
    // configs ride a broadcast join; ClientRequire rejects the batch
    // when a client timestamp is missing (codegen'd raise_error — the
    // job fails, nothing commits, mirroring the unary TimestampMissing).
    // Configs come from the per-basin shard sweep above (streams auto-
    // created moments ago carry the empty default config, the same
    // bytes createStreams just wrote) — pure in-memory merge, zero
    // per-stream metadata reads.
    val tsConfig = keys.toSeq.map { case (b, s) =>
      val t = liveCfg(b).getOrElse(s, StreamConfig())
        .mergedOver(basinDefault(b))
        .mergedOver(StreamConfig.SystemDefault)
        .timestampingOrDefault
      (b, s, t.mode match {
        case TimestampingMode.ClientPrefer => "client-prefer"
        case TimestampingMode.ClientRequire => "client-require"
        case TimestampingMode.Arrival => "arrival"
      }, t.uncapped)
    }
    phase("plan-metadata")
    val tsConfigDf = spark.createDataFrame(tsConfig)
      .toDF("basin", "stream", "ts_mode", "ts_uncapped")
    val tsPicked = when(col("ts_mode") === "arrival", lit(now))
      .when(col("ts_mode") === "client-require",
        when(col("ts_client").isNull, raise_error(concat(
          lit("TimestampMissing: "), col("basin"), lit("/"), col("stream")))
          .cast(LongType))
          .otherwise(col("ts_client")))
      .otherwise(coalesce(col("ts_client"), lit(now)))

    // Distributed per-stream sequencing WITHOUT a one-reducer-per-stream
    // window: range-partition each stream's rows by arrival so one huge
    // stream spreads over many partitions in arrival order, then
    //   pass 1: per (partition, stream) -> row count + running-ts info
    //   driver: prefix sums -> each partition's starting seq + ts floor
    //   pass 2: partition-local assignment (no shuffle).
    // This is the scalable zipWithIndex-per-key pattern; the reference's
    // one-actor-per-stream bound does not apply because assignment is
    // deterministic given (arrival order, tail state).
    val prepared = df
      .join(broadcast(tsConfigDf), Seq("basin", "stream"))
      .withColumn("ts_raw",
        when(col("ts_uncapped"), tsPicked).otherwise(least(tsPicked, lit(now))))
      .repartitionByRange(col("basin"), col("stream"), col("arrival"))
      .sortWithinPartitions("basin", "stream", "arrival")
      .select("basin", "stream", "arrival", "ts_raw", "headers", "body")
      .cache()

    // pass 1: per-partition per-stream stats, in partition order
    val partStats = prepared.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val stats = scala.collection.mutable.LinkedHashMap
        .empty[(String, String), (Long, Long)] // (count, maxTsRaw)
      it.foreach { r =>
        val k = (r.getString(0), r.getString(1))
        val (c, mx) = stats.getOrElse(k, (0L, Long.MinValue))
        stats(k) = (c + 1, math.max(mx, r.getLong(3)))
      }
      stats.iterator.map { case ((b, s), (c, mx)) => (pid, b, s, c, mx) }
    }.collect()
    phase("part-stats")

    // driver: prefix sums per stream across partitions
    val seqOffset = scala.collection.mutable.Map.empty[(Int, String, String), (Long, Long)]
    val runSeq = scala.collection.mutable.Map.empty[(String, String), Long]
    val runTs = scala.collection.mutable.Map.empty[(String, String), Long]
    partStats.sortBy(_._1).foreach { case (pid, b, s, c, mx) =>
      val k = (b, s)
      val startSeq = runSeq.getOrElse(k, tails(k).tailSeq)
      val tsFloor = runTs.getOrElse(k, tails(k).tailTs)
      seqOffset((pid, b, s)) = (startSeq, tsFloor)
      runSeq(k) = startSeq + c
      runTs(k) = math.max(tsFloor, mx)
    }
    val offsets = spark.sparkContext.broadcast(seqOffset.toMap)

    // pass 2: partition-local seq + monotone-ts assignment
    val outSchema = StructType(Seq(
      StructField("basin", StringType),
      StructField("stream", StringType),
      StructField("seq_num", LongType),
      StructField("timestamp", LongType))
      ++ prepared.schema.filter(f => f.name == "headers" || f.name == "body"))
    val assigned = prepared.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val seqCursor = scala.collection.mutable.Map.empty[(String, String), Long]
      val tsCursor = scala.collection.mutable.Map.empty[(String, String), Long]
      it.map { r =>
        val k = (r.getString(0), r.getString(1))
        val (s0, t0) = offsets.value((pid, k._1, k._2))
        val seq = seqCursor.getOrElse(k, s0)
        val ts = math.max(r.getLong(3), tsCursor.getOrElse(k, t0))
        seqCursor(k) = seq + 1
        tsCursor(k) = ts
        Row(k._1, k._2, seq, ts, r.get(4), r.get(5))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
      .withColumn("metered_size",
        // custom codegen'd expression: one fused loop per row
        graft.functions.GraftFunctions.metered_size(col("headers"), col("body")))

    // partition values go through Layout.escape so dynamic-partition
    // dirs coincide with the unary append path for ALL legal names.
    // The job writes to a STAGING directory; files only enter the live
    // data dir inside each stream's locked commit below — a losing
    // concurrent ingest (CAS conflict) leaves nothing behind that a
    // read could see as duplicate seq_nums.
    val stage = s"$root/_stage/ingest-${java.util.UUID.randomUUID()}"
    // Staged files are written EXECUTOR-DIRECT (DirectParquet), not
    // through the Hadoop-committer dynamic-partition writer: at 10k
    // one-record streams per batch the committer pays a task-temp
    // rename per file plus a SERIAL driver-side job-commit rename
    // sweep — measured 30+ s of a 44 s ingest against ~2 s of actual
    // parquet bytes. Each task streams its (basin, stream, seq)-sorted
    // run and cuts a new file at every stream boundary, writing at the
    // final staged path directly; the staged dir is private to this
    // ingest, so no committer atomicity is needed (the finally below
    // removes it wholesale on any failure, and only the per-stream
    // locked commit publishes files into the live prefix).
    val stagePath = stage
    // The job's result channel carries one StagedFile report per file
    // a SUCCESSFUL attempt wrote (Spark returns exactly one attempt's
    // result per partition) — the commit loop below validates tiling
    // from these reports with ZERO per-file IO, probing only
    // unexpected extras. O(#files) driver memory, same order as the
    // partition-stats collect above.
    val stagedReports: Map[(String, String), Map[String, StreamStore.StagedFile]] =
      assigned
        .sortWithinPartitions("basin", "stream", "seq_num")
        .rdd
        .mapPartitions(StreamStore.writeStagedPartition(stagePath, basinCiphers))
        .collect()
        .groupBy(r => (r.basin, r.stream))
        .map { case (k, rs) => k -> rs.map(r => r.name -> r).toMap }
    prepared.unpersist()
    phase("staged-write")
    beforeStagedCommit(stage)

    // per-stream commit (no extra job): under the stream lock, verify
    // the CAS precondition, move the staged files into the live dir,
    // then commit the manifest — so a concurrent writer on another
    // driver aborts this stream's commit with its files still staged.
    // Streams are independent (each under its own lock), so commits
    // run on a bounded pool: serial driver IO of ~1-3 ms per manifest
    // is fine at 8 streams but becomes the whole ingest at 10k+
    // streams per batch. The work is driver-side filesystem IO
    // (manifest read + data move + manifest CAS), not CPU, so the
    // pool oversubscribes cores deliberately; 48 measured ~1.6x
    // faster than 16 on the 10k-stream bench phase (cap matches that
    // measurement).
    val commitPar = math.min(48, runSeq.size)
    // sub-step thread-time accounting for the profiling loop (tLog):
    // aggregate nanos across the pool, printed once after the loop
    val subNs = if (tLog) Map(
      "lock" -> new java.util.concurrent.atomic.LongAdder,
      "jvmLock" -> new java.util.concurrent.atomic.LongAdder,
      "flock" -> new java.util.concurrent.atomic.LongAdder,
      "manifest" -> new java.util.concurrent.atomic.LongAdder,
      "sweep" -> new java.util.concurrent.atomic.LongAdder,
      "stagedList" -> new java.util.concurrent.atomic.LongAdder,
      "stagedStats" -> new java.util.concurrent.atomic.LongAdder,
      "putData" -> new java.util.concurrent.atomic.LongAdder,
      "delete" -> new java.util.concurrent.atomic.LongAdder,
      "cas" -> new java.util.concurrent.atomic.LongAdder) else Map.empty[String, java.util.concurrent.atomic.LongAdder]
    @inline def sub[A](name: String)(f: => A): A =
      if (!tLog) f else {
        val t0 = System.nanoTime()
        try f finally subNs(name).add(System.nanoTime() - t0)
      }
    try {
      val acked = parallelMap(runSeq.keys.toSeq, commitPar) { case k @ (b, s) =>
      val m = tails(k)
      val committed = sub("lock")(withStreamLockTimed(b, s,
        if (tLog) (n, ns) => subNs(n).add(ns) else null) {
        val (cur0, tag0) = sub("manifest")(manifestTagged(b, s))
        // sweep first (it may fence-bump or refresh the manifest) so
        // the precondition checks and the commit see one state
        val (cur, tag) = sub("sweep")(sweepOrphans(b, s, cur0, tag0))
        // The staged files' seq_nums were assigned from the PLANNED
        // tail (m.tailSeq), so the CAS precondition is the TAIL, not
        // the raw version: a concurrent append/trim/fence command
        // moved the tail and the staged numbering is wrong — abort
        // with the files still staged (clean retry re-plans). A
        // version bump that left the tail in place (a compact()
        // generation flip, a maintenance rewrite) is benign: REBASE
        // the commit on the fresh manifest and land in ITS generation
        // — the three-way GenerationSpec race pins this (an abort
        // here would fail a bulk ingest whose rows are still exactly
        // at the tail; committing against the stale manifest would
        // resurrect the pre-flip generation).
        if (cur.tailSeq != m.tailSeq)
          throw new ManifestCasConflict(
            s"ingest lost the commit race for $b/$s: tail moved " +
              s"${m.tailSeq} -> ${cur.tailSeq} (v${m.version} -> v${cur.version})")
        if (cur.fencingToken != m.fencingToken)
          throw new ManifestCasConflict(
            s"ingest lost the commit race for $b/$s: fencing token changed")
        if (cur.deletionPending)
          throw new IllegalStateException(s"StreamDeletionPending: $b/$s")
        val newM = cur.copy(tailSeq = runSeq(k),
          tailTs = math.max(cur.tailTs, runTs(k)),
          lastEpoch = epochId.getOrElse(cur.lastEpoch),
          version = cur.version + 1)
        val src = Paths.get(Layout.stageDir(stage, b, s))
        val dst = Paths.get(Layout.genDir(root, b, s, cur.generation))
        val stagedPaths: Seq[String] = sub("stagedList") {
          if (!Files.exists(src)) Nil
          else {
            val parts = Files.list(src)
            try parts.iterator().asScala.map(_.toString)
              .filter(_.endsWith(".parquet")).toSeq
            finally parts.close()
          }
        }
        // Task-retry/speculation gate: promote only the file set that
        // densely tiles [plannedTail, newTail) — torn attempt leavings
        // and retried/speculated duplicate twins stay staged and die
        // with the stage dir (see selectStagedFiles).
        val acceptedFiles = sub("stagedStats")(StreamStore.selectStagedFiles(
          stagedPaths, m.tailSeq, runSeq(k), b, s,
          stagedReports.getOrElse(k, Map.empty)))
        val moved = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        sub("putData")(acceptedFiles.foreach { st =>
          val f = Paths.get(st.path)
          val d = dst.resolve(f.getFileName)
          backend.putData(f, d); moved += d
        })
        // same atomicity contract as unary append: a commit that fails
        // after the objects entered the live prefix must take them back
        // out, or a re-driven ingest duplicates their seq_nums (the
        // beforeManifestCommit hook lets LinearizabilitySpec inject
        // exactly that failure here too)
        try {
          beforeManifestCommit()
          sub("cas")(saveManifestCas(b, s, newM, tag))
        } catch {
          // indeterminate commit: may have landed — keep the moved
          // objects and force a re-sweep (see appendGroup)
          case ind: IndeterminateCommit =>
            sweptStreams.remove(b + "\u0000" + s)
            throw ind
          case t: Throwable =>
            moved.foreach(backend.deleteData)
            throw t
        }
        // committed: this stream's staged dir is spent (accepted
        // files moved out; only torn/twin leavings remain). Deleting
        // it HERE was the commit loop's hidden serializer at 50k
        // streams: 48 threads rmdir-ing siblings of ONE stage parent
        // convoy on the parent directory's kernel mutex (measured
        // 3 847 of 3 995 thread-s — ~77 ms/stream of lock wait for a
        // ~100 µs rmdir). All staged dirs die together in the finally
        // sweep below, where deletion parallelism is chosen for the
        // filesystem instead of inherited from the commit pool.
        newM
      })
      k -> AppendAck(
        StreamPosition(m.tailSeq, 0),
        StreamPosition(committed.tailSeq, committed.tailTs),
        StreamPosition(committed.tailSeq, committed.tailTs))
      }.toMap
      phase("commit-loop")
      if (tLog) System.err.println("[ingest-commit-sub] " + subNs.toSeq
        .map { case (n, a) => f"$n=${a.sum / 1e9}%.3f" }.mkString(" ") +
        " thread-s")
      acked
    } finally {
      // ONE stage sweep for committed and uncommitted streams alike:
      // committed dirs are empty (files moved into the live prefix),
      // failed/aborted dirs still hold their staged files — all of it
      // is this ingest's private, uniquely-named tree that no read
      // or retry ever looks at (a retry re-plans into a FRESH stage).
      // So the sweep is garbage collection, not part of the commit:
      // it runs on the background GC worker, serially (rmdir of 50k
      // sibling dirs cannot be parallelized — every rmdir takes the
      // one parent directory's kernel mutex, and even the commit
      // loop's 48 threads convoyed on it at ~77 ms/stream; a single
      // walker does the same tree at ~180 µs/dir), and the acked
      // ingest never waits on it. awaitStageGc() joins it where a
      // test or bench phase needs the root quiescent.
      val stageRoot = Paths.get(stage)
      if (Files.exists(stageRoot))
        stageGc.submit(new Runnable {
          def run(): Unit =
            try {
              // the stage tree is shard-layered (Layout.stageDir), so
              // the stream-dir rmdirs split across 64 distinct shard
              // parents — a small pool over SHARD subtrees gets real
              // parallelism (each worker owns its parent's mutex),
              // unlike rmdir-ing 50k siblings of one parent
              def ls(p: java.nio.file.Path): Seq[java.nio.file.Path] =
                try {
                  val s = Files.list(p)
                  try s.iterator().asScala.toSeq finally s.close()
                } catch { case _: java.io.IOException => Nil }
              val shardDirs = ls(stageRoot).filter(Files.isDirectory(_))
                .flatMap(ls).filter(Files.isDirectory(_))
              parallelMap(shardDirs, math.min(8, shardDirs.size))(
                deleteRecursively)
              deleteRecursively(stageRoot)
            } catch {
              // GC is best effort, but must stay diagnosable: anything
              // non-fatal (IO, pool failures surfaced by parallelMap)
              // is logged, never silently dropped into an unobserved
              // Future on the shared executor
              case scala.util.control.NonFatal(t) =>
                System.err.println(
                  s"[stage-gc] sweep of $stage failed: $t")
            }
        })
      phase("stage-cleanup")
    }
  }

  /** Single-threaded background worker for stage-tree garbage
    * collection (see the ingest finally). Daemon: an exiting JVM may
    * leave a swept-later tree behind, exactly like a crash always
    * could — stage trees are invisible to every read path. Shared
    * across all store instances (companion-level): tests and benches
    * construct many StreamStores, and a per-instance executor leaks
    * one idle thread per store for the JVM's lifetime. */
  private def stageGc = StreamStore.stageGcExecutor

  /** Join all queued stage GC work — benches and specs that measure
    * or assert on the filesystem call this to make cleanup
    * deterministic. */
  def awaitStageGc(): Unit =
    stageGc.submit(new Runnable { def run(): Unit = () }).get()

  /** Map `f` over `items` on a bounded worker pool, preserving failure
    * semantics: the first thrown exception propagates (after all
    * workers settle), like the sequential loop it replaces.
    */
  private def parallelMap[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] = {
    if (items.size <= 1 || parallelism <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      val futures = items.map(a => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(a)
      }))
      futures.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    } finally pool.shutdown()
  }

  // -------------------------------------------------------------------------
  // Read path (R2-R7, R10)
  // -------------------------------------------------------------------------

  /** All durable rows of one stream (no visibility masks) — unions the
    * manifest's CURRENT generation with any interrupted-migration
    * leftovers (Layout.resolveDataDirs), so a compaction's new files
    * become visible exactly when its manifest flip commits and a crash
    * mid-legacy-migration never hides the unmoved remainder.
    */
  private def rawData(basin: String, stream: String): DataFrame = {
    // per-file plan (not a directory scan) so the interrupted-migration
    // union never depends on partition discovery over mixed layouts
    val files = manifestAndFiles(basin, stream)._2.map(_.path)
    if (files.nonEmpty)
      spark.read.schema(recordSchema).parquet(files: _*)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], recordSchema)
  }

  /** Visible rows: below tail, above trim point, within retention. */
  def visible(basin: String, stream: String,
              nowMs: Option[Long] = None): DataFrame = {
    val m = manifest(basin, stream)
    val config = catalog.streamConfig(basin, stream)
      .getOrElse(StreamConfig.SystemDefault)
    var df = rawData(basin, stream)
      .where(col("seq_num") < m.tailSeq && col("seq_num") >= m.trimPoint)
    config.retentionOrDefault match {
      case RetentionPolicy.Age(secs) =>
        val cutoff = nowMs.getOrElse(System.currentTimeMillis()) - secs * 1000
        df = df.where(col("timestamp") >= cutoff)
      case RetentionPolicy.Infinite =>
    }
    df
  }

  /** R2 Timestamp start resolution: first visible seq with
    * timestamp >= t, else tail — the SRT index-seek analog
    * (read.rs:287-317). Timestamps are monotone per stream (A3), so
    * only the boundary file needs a row scan; every other file is
    * decided by its footer stats. No Spark job on the resolution path.
    */
  private def resolveTimestampStart(files: Seq[FileIndex.FileStats], t: Long,
                                    m: StreamManifest,
                                    retCutoff: Option[Long]): Long = {
    var res = -1L
    val it = files.iterator.filter(st =>
      st.maxTs >= t && st.maxSeq >= m.trimPoint && st.minSeq < m.tailSeq)
    while (res < 0 && it.hasNext) {
      FileIndex.scanRows(it.next().path) { r =>
        val ok = r.ts >= t && r.seq >= m.trimPoint && r.seq < m.tailSeq &&
          retCutoff.forall(r.ts >= _)
        if (ok) { res = r.seq; false } else true
      }
    }
    if (res < 0) m.tailSeq else res
  }

  /** R4 read limits: last admitted seq under count and metered-bytes
    * budgets with exact record-by-record admission — a record is
    * included only if it fits BOTH remaining budgets (ref
    * read_extent.rs:88-136, applied read.rs:139-173) — evaluated on
    * the driver over a budget-bounded walk of the stream's files in
    * seq order. Interior files are consumed via cached per-file sums
    * (one projected scan per immutable file, ever); only boundary and
    * budget-crossing files are row-scanned. Total driver work is
    * O(budget), not O(stream) — this replaces the old unpartitioned
    * WindowExec (bytes) and scan-everything top-N (count) shapes: a
    * count- or bytes-limited read from seq 0 of a 10 TB stream plans
    * only budget-overlapping files. Returns -1 when nothing is
    * admitted.
    */
  private def limitCutoff(files: Seq[FileIndex.FileStats], lo: Long, hi: Long,
                          retCutoff: Option[Long], until: Option[Long],
                          ignoreCommands: Boolean,
                          countBudget: Long, bytesBudget: Long): Long = {
    var cumBytes = 0L
    var cumRows = 0L
    var last = -1L
    var done = false
    val it = files.iterator
    while (!done && it.hasNext) {
      val st = it.next()
      if (st.minSeq >= hi || until.exists(u => st.minTs >= u)) {
        done = true // beyond tail / past the until cut (ts monotone)
      } else if (st.maxSeq < lo || retCutoff.exists(rc => st.maxTs < rc)) {
        // fully before the start or fully expired: contributes nothing
      } else {
        val wholeFile = st.minSeq >= lo && st.maxSeq < hi &&
          retCutoff.forall(rc => st.minTs >= rc) && until.forall(u => st.maxTs < u)
        val (fileRows, fileBytes) = if (wholeFile) {
          val s = FileIndex.sums(st.path)
          if (ignoreCommands) (st.rows - s.cmdRows, s.metered - s.cmdMetered)
          else (st.rows, s.metered)
        } else (-1L, -1L)
        if (wholeFile && cumRows + fileRows <= countBudget &&
            cumBytes + fileBytes <= bytesBudget) {
          cumRows += fileRows
          cumBytes += fileBytes
          last = st.maxSeq
        } else {
          // boundary or budget-crossing file: exact row walk
          FileIndex.scanRows(st.path) { r =>
            val vis = r.seq >= lo && r.seq < hi &&
              retCutoff.forall(r.ts >= _) && until.forall(r.ts < _) &&
              !(ignoreCommands && r.isCommand)
            if (!vis) true
            else if (cumRows < countBudget && cumBytes + r.metered <= bytesBudget) {
              cumRows += 1; cumBytes += r.metered; last = r.seq; true
            } else { done = true; false }
          }
        }
      }
    }
    last
  }

  /** R2-R5 + R10 (+ A13 read-side): the ONE read planner behind both
    * read executors — [[read]] (a DataFrame) and [[readBatch]] (a
    * driver-side scan). Returns Left on an unsatisfiable start position
    * (start beyond tail without clamp), mirroring RANGE_NOT_SATISFIABLE
    * (read.rs:246-285).
    *
    * Scale shape: start/limits/until are resolved to a [lo, hi) seq
    * interval on the driver from parquet footer stats (+ cached sums),
    * then ONLY budget-overlapping files are chosen — a bytes-limited
    * read from seq 0 of a 10 TB stream scans ~budget bytes, not 10 TB.
    * The chosen files are disjoint and each is sorted by seq_num, so in
    * `minSeq` order they yield the result already in seq order.
    */
  private def planRead(basin: String, stream: String, spec: ReadSpec,
                       ignoreCommands: Boolean, nowMs: Option[Long],
                       cipher: Option[Array[Byte]]): Either[String, StreamStore.ReadPlan] = {
    // C6 (core.rs:326-391): reading a missing stream fails unless the
    // basin opts into create_stream_on_read
    val basinCfg = catalog.basinConfig(basin)
    val config = resolveStream(basin, stream,
      autoCreate = basinCfg.createStreamOnRead) match {
      case Some(c) => c
      case None => return Left(s"StreamNotFound: $basin/$stream")
    }
    // A13: same resolution as the append path — the basin's cipher knob
    // decides whether supplied key material decrypts or is ignored
    val cipherSpec: Option[CipherSpec] =
      RecordCipher.resolve(basinCfg.streamCipher, cipher) match {
        case Right(s) => s
        case Left(e) => return Left(s"EncryptionError: $e")
      }
    val retCutoff: Option[Long] = config.retentionOrDefault match {
      case RetentionPolicy.Age(secs) =>
        Some(nowMs.getOrElse(System.currentTimeMillis()) - secs * 1000)
      case RetentionPolicy.Infinite => None
    }
    var (m, files) = manifestAndFiles(basin, stream)
    // Transient listed-loser window: between a winner's manifest
    // commit and a definite loser's eager self-delete (object
    // adapters, milliseconds), a listing can show BOTH objects
    // covering one sub-tail seq range — serving them would duplicate
    // seq_nums. The committed set always tiles disjointly, so overlap
    // below the tail is provably not a committed state: re-list
    // briefly (the loser's delete or the next writer's sweep resolves
    // it), and fail LOUDLY if it persists rather than guess which
    // object is real. (Same-range overlap above the tail is the
    // normal in-flight-commit state and stays invisible via the tail
    // clamp below.)
    locally {
      def overlapBelowTail(fs: Seq[FileIndex.FileStats], tail: Long): Boolean = {
        val below = fs.filter(_.minSeq < tail).sortBy(f => (f.minSeq, f.path))
        below.nonEmpty && below.zip(below.tail).exists {
          case (a, b) => b.minSeq <= a.maxSeq
        }
      }
      val overlapDeadline = System.nanoTime() + overlapRefusalMs * 1000000L
      while (overlapBelowTail(files, m.tailSeq) &&
             System.nanoTime() < overlapDeadline) {
        Thread.sleep(25)
        val fresh = manifestAndFiles(basin, stream)
        m = fresh._1; files = fresh._2
      }
      if (overlapBelowTail(files, m.tailSeq))
        return Left(s"OverlappingDataObjects: $basin/$stream lists data " +
          "objects with overlapping seq ranges below the committed tail " +
          "that did not resolve — refusing to serve duplicate seq_nums")
    }

    val start: Long = spec.start.from match {
      case ReadFrom.SeqNum(n) => n
      case ReadFrom.TailOffset(k) => math.max(m.tailSeq - k, 0L)
      case ReadFrom.Timestamp(t) => resolveTimestampStart(files, t, m, retCutoff)
    }
    val effStart = if (start > m.tailSeq) {
      if (spec.start.clamp) m.tailSeq
      else return Left(s"RANGE_NOT_SATISFIABLE: start=$start tail=${m.tailSeq}")
    } else start
    val lo = math.max(effStart, m.trimPoint)

    val cut: Option[Long] =
      if (spec.end.limit.count.isEmpty && spec.end.limit.bytes.isEmpty) None
      else Some(limitCutoff(files, lo, m.tailSeq, retCutoff, spec.end.until,
        ignoreCommands,
        spec.end.limit.count.getOrElse(Long.MaxValue),
        spec.end.limit.bytes.getOrElse(Long.MaxValue)))
    val hiCut = cut.fold(m.tailSeq)(c => math.min(m.tailSeq, c + 1)) // exclusive

    val chosen = files.filter(st =>
      st.maxSeq >= lo && st.minSeq < hiCut &&
        spec.end.until.forall(u => st.minTs < u) &&
        retCutoff.forall(rc => st.maxTs >= rc))
    Right(StreamStore.ReadPlan(chosen, lo, hiCut, retCutoff,
      spec.end.until, ignoreCommands, spec.end.limit.count, cipherSpec))
  }

  /** A planned read as a DataFrame over the plan's file list, for
    * DataFrame callers (queries and demos). Serving reads use
    * [[readBatch]], which runs the same plan without a Spark job.
    *
    * The final orderBy is a sort of the BOUNDED result (limited reads
    * are ≤ budget by construction). For an unbounded ordered catch-up
    * of a huge range, use the streaming source (Follow /
    * GraftStreamSource): it delivers seq-ordered batches from the
    * sorted, disjoint files directly — no sort, no shuffle.
    */
  def read(basin: String, stream: String, spec: ReadSpec,
           ignoreCommands: Boolean = false,
           nowMs: Option[Long] = None,
           cipher: Option[Array[Byte]] = None): Either[String, DataFrame] =
    planRead(basin, stream, spec, ignoreCommands, nowMs, cipher).map { p =>
      var df =
        if (p.files.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], recordSchema)
        else spark.read.schema(recordSchema).parquet(p.files.map(_.path): _*)
      df = df.where(col("seq_num") >= p.lo && col("seq_num") < p.hi)
      p.retCutoff.foreach(rc => df = df.where(col("timestamp") >= rc))
      p.until.foreach(u => df = df.where(col("timestamp") < u))
      if (p.ignoreCommands)
        // NULL headers = an encrypted data envelope (never a command —
        // commands are stored plaintext, encryption.rs:211-213); the
        // null-safe guard keeps those rows
        df = df.where(col("headers").isNull || !(size(col("headers")) === 1 &&
          octet_length(col("headers")(0)("name")) === 0))
      var out = df.orderBy("seq_num")
      // the budget walk above already bounds rows; clamp so a count above
      // 2^31 can't overflow into a negative limit
      p.count.foreach(c =>
        out = out.limit(math.min(c, Int.MaxValue.toLong).toInt))
      // A13 read-side decryption as a codegen'd plan expression
      // (record_decrypt — per-record format-byte dispatch across both
      // ciphers; the reference decrypts in the session loop,
      // read.rs:74-91): restores the logical (headers, body) from the
      // sealed envelope encoding. Applied ABOVE the sort + count limit
      // deliberately: the sort's range exchange SAMPLES its child to
      // pick partition bounds, so a decrypt below it would run the
      // cipher twice per record (pinned in RecordDecryptPlanSpec), and
      // a count-limited read should only pay the cipher for rows that
      // survive the limit.
      p.cipher.foreach { s =>
        out = RecordCipher.decryptRecords(out, s.key, basin, stream)
      }
      out
    }

  /** Serve a planned read as model objects, scanned on the driver — no
    * Spark job. Every serving read (unary, SSE, S2S, ReadSession,
    * readChunked) lands here: a 10-record point read is a few file
    * opens, not a scheduled job. The plan is [[read]]'s, and so are the
    * row masks, the order (the chosen files in `minSeq` order — they
    * are disjoint and seq-sorted, so nothing is sorted) and the count
    * cut. Encrypted data rows are decrypted here, one record at a time,
    * by the same function the record_decrypt plan expression calls
    * (EnvelopeCodec.decryptRecord), and only for rows that are
    * returned. A wrong key throws AEADBadTagException.
    */
  def readBatch(basin: String, stream: String, spec: ReadSpec,
                ignoreCommands: Boolean = false,
                cipher: Option[Array[Byte]] = None,
                nowMs: Option[Long] = None): Either[String, Seq[SequencedRecord]] =
    planRead(basin, stream, spec, ignoreCommands, nowMs, cipher).map { p =>
      val out = Vector.newBuilder[SequencedRecord]
      var left = p.count.getOrElse(Long.MaxValue)
      val key = p.cipher.map(_.key).orNull
      val aad = if (key == null) null else RecordCipher.aad(basin, stream)
      val files = p.files.iterator
      while (left > 0 && files.hasNext) {
        FileIndex.scanGroups(files.next().path, StreamStore.RecordColumns) { g =>
          val seq = g.getLong("seq_num", 0)
          // seq-sorted file: past the cut, nothing later is in range
          seq < p.hi && {
            val ts = g.getLong("timestamp", 0)
            if (seq >= p.lo && p.retCutoff.forall(ts >= _) &&
                p.until.forall(ts < _) &&
                !(p.ignoreCommands && FileIndex.isCommand(g))) {
              val stored = FileIndex.headers(g)
              val body = FileIndex.body(g)
              val (headers, plain) =
                // stored NULL headers = a sealed data envelope
                if (key != null && stored == null && body != null)
                  EnvelopeCodec.decryptRecord(key, aad, body)
                else (if (stored == null) Nil else stored.toSeq, body)
              out += SequencedRecord(StreamPosition(seq, ts),
                headers.map { case (n, v) => Header(n, v) }, plain)
              left -= 1
            }
            left > 0
          }
        }
      }
      out.result()
    }

  /** R7 — unary read: like readBatch but with the one-batch caps
    * applied (count ≤ 1000, bytes ≤ 1 MiB — the unary handler clamps
    * limits to a single batch, handlers/v1/records.rs:72-84).
    */
  def readUnary(basin: String, stream: String, spec: ReadSpec,
                ignoreCommands: Boolean = false,
                cipher: Option[Array[Byte]] = None): Either[String, Seq[SequencedRecord]] = {
    val l = spec.end.limit
    val clamped = spec.copy(end = spec.end.copy(limit = ReadLimit(
      count = Some(math.min(l.count.getOrElse(Long.MaxValue), Caps.MaxBatchRecords.toLong)),
      bytes = Some(math.min(l.bytes.getOrElse(Long.MaxValue), Caps.MaxBatchMeteredBytes)))))
    readBatch(basin, stream, clamped, ignoreCommands, cipher)
  }

  /** M2-style throughput metrics: per-stream ops + bytes per interval
    * bucket over live records (metrics.rs:60-92; interval in millis).
    * Single basin-wide scan.
    */
  def throughputMetrics(basin: String, intervalMs: Long,
                        startMs: Option[Long] = None,
                        endMs: Option[Long] = None): DataFrame = {
    var df = visibleBasin(basin)
    startMs.foreach(t => df = df.where(col("timestamp") >= t))
    endMs.foreach(t => df = df.where(col("timestamp") < t))
    df.groupBy(col("stream"), expr(s"timestamp div $intervalMs").as("bucket"))
      .agg(count(lit(1)).as("n_ops"), sum("metered_size").as("bytes"))
      .select("stream", "bucket", "n_ops", "bytes")
  }

  /** R6 — batch re-chunking: emit output in chunks of ≤1000 records and
    * ≤1 MiB metered; a record that does not fit the remaining byte
    * budget starts the next chunk (storage/src/record/batcher.rs:32-169).
    */
  def readChunked(basin: String, stream: String, spec: ReadSpec,
                  ignoreCommands: Boolean = false,
                  cipher: Option[Array[Byte]] = None)
      : Either[String, Iterator[Seq[SequencedRecord]]] =
    readBatch(basin, stream, spec, ignoreCommands, cipher).map { all =>
      new Iterator[Seq[SequencedRecord]] {
        private var rest = all
        def hasNext: Boolean = rest.nonEmpty
        def next(): Seq[SequencedRecord] = {
          val buf = Seq.newBuilder[SequencedRecord]
          var n = 0
          var bytes = 0L
          var open = true
          while (open && rest.nonEmpty && n < Caps.MaxBatchRecords) {
            val r = rest.head
            val sz = EnvelopeRecord(r.headers, r.body).meteredSize
            if (n > 0 && bytes + sz > Caps.MaxBatchMeteredBytes) open = false
            else { buf += r; bytes += sz; n += 1; rest = rest.tail }
          }
          buf.result()
        }
      }
    }

  // -------------------------------------------------------------------------
  // Deletion & maintenance (T1-T5)
  // -------------------------------------------------------------------------

  /** T4: terminal trim — in-band Trim(Long.MaxValue), then deletion
    * pending; physical reclaim happens in compact().
    */
  def deleteStream(basin: String, stream: String): Unit = {
    withStreamLock(basin, stream) {
      val (m, tag) = manifestTagged(basin, stream)
      saveManifestCas(basin, stream,
        m.copy(trimPoint = Long.MaxValue, deletionPending = true,
          version = m.version + 1), tag)
    }
    catalog.markStreamDeleted(basin, stream)
  }

  /** T5: basin deletion — terminal-trim every stream (paged, resumable
    * by virtue of idempotence), then mark the basin deleted.
    */
  def deleteBasin(basin: String): Unit = {
    var after = ""
    var more = true
    while (more) {
      val page = catalog.listStreams(basin, startAfter = after, limit = 32)
      page.items.foreach(s => deleteStream(basin, s.name))
      more = page.hasMore
      page.items.lastOption.foreach(s => after = s.name)
    }
    catalog.markBasinDeleted(basin)
  }

  /** T1+T2 physical reclaim + small-file compaction: rewrite the
    * stream's partition keeping only visible rows (trim mask +
    * retention mask), sorted by seq_num. Terminal trim deletes the
    * partition + state + catalog entry entirely.
    *
    * Output is range-partitioned on seq_num into ~512 MiB files — at
    * 100 TB a stream's rewrite is a parallel job producing many
    * disjoint sorted files (footer stats stay prunable), never a
    * single-task `coalesce(1)` funnel. `reclaimedTo` records the trim
    * point made physical so the maintenance tick can skip streams with
    * nothing left to reclaim.
    *
    * The commit is a GENERATION FLIP, not a directory swap: the
    * rewrite lands beside the live files as `gen=N+1`, and the
    * manifest CAS that bumps `generation` is the single commit point.
    * No live path is ever moved or deleted here, so a reader plan
    * created before the flip (a follower's in-flight microbatch, a
    * long batch scan) keeps reading its old-generation files — they
    * survive in place until sweepOldGens' grace expires, with the
    * grace clock starting at the flip (the old dir's mtime is touched)
    * rather than at the stream's last write. New plans read the
    * manifest and list only `gen=N+1`. Crash matrix: die before the
    * CAS ⇒ manifest still points at gen N, the orphan gen N+1 dir is
    * invisible and swept past grace; die after ⇒ gen N+1 is committed
    * and gen N ages out. Either way nothing a reader can see is ever
    * torn ("trimming is eventually consistent", cli/src/cli.rs:143-146).
    */
  def compact(basin: String, stream: String, nowMs: Option[Long] = None): Unit =
    withStreamLock(basin, stream) {
      val (m, tag) = manifestTagged(basin, stream)
      val streamDir = Paths.get(Layout.dataDir(root, basin, stream))
      migrateLegacyLocked(basin, stream, m) // uniform layout from here on
      val curDir = Paths.get(Layout.genDir(root, basin, stream, m.generation))
      if (m.deletionPending || m.trimPoint == Long.MaxValue) {
        backend.deletePrefix(streamDir)
        backend.deleteMeta(stateKey(basin, stream))
        // a stale pre-shard flat manifest must die with the stream, or
        // the lazy adoption would resurrect it on the next lookup
        if (backend.supportsLegacyLayout)
          Files.deleteIfExists(Layout.legacyStatePath(root, basin, stream))
        catalog.hardDeleteStream(basin, stream)
      } else if (backend.dataExists(curDir)) {
        val tmp = Paths.get(s"$root/_tmp/compact-${System.nanoTime()}")
        val curFiles = backend.listData(curDir)
        val diskBytes = curFiles.map(p =>
          try Files.size(p) catch { case _: java.io.IOException => 0L }).sum
        val targetFileBytes = 512L << 20
        val nParts = math.max(1,
          math.ceil(diskBytes.toDouble / targetFileBytes).toInt)
        // dropDuplicates repairs orphan re-writes (a crash between the
        // data write and the manifest commit replays the same seq range)
        visible(basin, stream, nowMs)
          .dropDuplicates("seq_num")
          .repartitionByRange(nParts, col("seq_num"))
          .sortWithinPartitions("seq_num")
          .write.parquet(tmp.toString)
        // next generation number skips past any crashed predecessor's
        // uncommitted gen dirs so the publish below never collides
        val nextGen = math.max(m.generation, maxGenOnDisk(basin, stream)) + 1
        val dst = Paths.get(Layout.genDir(root, basin, stream, nextGen))
        // per-object publish out of the local scratch dir (object
        // stores have no directory rename; on POSIX each move is
        // atomic). A crash mid-loop leaves a PARTIAL uncommitted
        // generation — invisible (the manifest still points at gen N)
        // and swept past grace, the same crash cell as before.
        val parts = Files.list(tmp)
        try parts.iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq
          .foreach { f =>
            // stats-embedded names like every other commit path (one
            // footer read here keeps post-flip sweeps listing-only)
            val st = FileIndex.stats(f.toString)
            backend.putData(f, dst.resolve(StreamStore.stagedName(
              f.getFileName.toString, st.minSeq, st.maxSeq, st.rows)))
          }
        finally parts.close()
        deleteRecursively(tmp) // local scratch remainder (_SUCCESS etc.)
        // grace counts from the FLIP — an idle stream's old gen would
        // otherwise age out instantly and break the racing plans the
        // generation design exists to keep alive. Touched BEFORE the
        // manifest CAS: a foreign sweeper (Maintenance runs
        // sweepOldGens without this stream's lock) that reads the new
        // manifest in the window after the CAS must already see a
        // fresh clock, or an idle stream's old gen would be deleted
        // inside the grace. Harmless if the CAS below then fails.
        backend.touch(curDir, nowMs.getOrElse(System.currentTimeMillis()))
        try saveManifestCas(basin, stream,
          m.copy(reclaimedTo = m.trimPoint, generation = nextGen,
            version = m.version + 1), tag)
        catch { case t: Throwable =>
          // manifest never pointed at the new generation: take it out
          // whole, same contract as the unary append's failed commit
          backend.deletePrefix(dst)
          throw t
        }
        sweepOldGens(basin, stream, nowMs = nowMs)
        sweepTrash()
      }
    }

  private def maxGenOnDisk(basin: String, stream: String): Long =
    backend.listSubdirs(Paths.get(Layout.dataDir(root, basin, stream)))
      .filter(n => n.startsWith("gen=") && n.drop(4).nonEmpty &&
        n.drop(4).forall(_.isDigit))
      .map(_.drop(4).toLong)
      .foldLeft(0L)(math.max)

  /** Delete non-current generation dirs older than the grace window:
    * committed predecessors a racing reader plan may still be
    * consuming, and uncommitted leftovers of crashed compactions. The
    * grace mirrors sweepTrash's; an in-flight foreign compaction's
    * not-yet-committed gen dir is always younger than the grace.
    */
  def sweepOldGens(basin: String, stream: String,
                   graceMs: Long = 10 * 60 * 1000L,
                   nowMs: Option[Long] = None): Unit = {
    val cutoff = nowMs.getOrElse(System.currentTimeMillis()) - graceMs
    val cur = manifest(basin, stream).generation
    val dir = Paths.get(Layout.dataDir(root, basin, stream))
    backend.listSubdirs(dir).foreach { n =>
      val p = dir.resolve(n)
      if (n.startsWith("gen=") && n.drop(4).nonEmpty &&
          n.drop(4).forall(_.isDigit) && n.drop(4).toLong != cur &&
          backend.timeOf(p).exists(_ < cutoff))
        backend.deletePrefix(p)
    }
  }

  /** T3: delete-on-empty sweep — streams with DoE configured, no
    * visible records, and no write within min_age get terminally
    * trimmed (streamer.rs:448-511).
    */
  def deleteOnEmptySweep(basin: String, nowMs: Option[Long] = None): Seq[String] = {
    val now = nowMs.getOrElse(System.currentTimeMillis())
    // paged like the reference's DoE background task (bgtasks/
    // stream_doe.rs) — a basin past MaxListItems streams sweeps fully
    val swept = Seq.newBuilder[String]
    var after = ""
    var more = true
    while (more) {
      val page = catalog.listStreams(basin, startAfter = after)
      page.items.foreach { s =>
        val doe = catalog.streamConfig(basin, s.name)
          .getOrElse(StreamConfig.SystemDefault).deleteOnEmptyOrDefault
        if (doe.minAgeSeconds > 0) {
          val m = manifest(basin, s.name)
          val idle = now - m.tailTs >= doe.minAgeSeconds * 1000
          // fully-trimmed or never-written streams are empty without a
          // Spark job — a 10k-stream sweep mostly stays on the driver
          lazy val empty = m.tailSeq <= m.trimPoint ||
            !backend.dataExists(Paths.get(Layout.dataDir(root, basin, s.name))) ||
            visible(basin, s.name, Some(now)).isEmpty
          if (idle && empty) { deleteStream(basin, s.name); swept += s.name }
        }
      }
      more = page.hasMore
      page.items.lastOption.foreach(s => after = s.name)
    }
    swept.result()
  }

  /** All live records of a basin in ONE scan: partition-discovered
    * `stream` column joined against a broadcast manifest table carrying
    * each stream's visibility mask (tail, trim, retention cutoff).
    * This is the metrics/scan path that survives 10k+ streams — one
    * job, partition pruning intact, no per-stream plan explosion.
    */
  def visibleBasin(basin: String, nowMs: Option[Long] = None): DataFrame = {
    val now = nowMs.getOrElse(System.currentTimeMillis())
    val streams = catalog.listStreams(basin).items.map(_.name)
    val dir = Paths.get(s"$root/data/basin=$basin")
    if (streams.isEmpty || !backend.dataExists(dir))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        recordSchema.add("stream", StringType))
    // Partition discovery requires a UNIFORM directory depth: after a
    // legacy-root upgrade where one stream has migrated to gen=
    // subdirectories while another still holds loose parquet, the
    // mixed depths fail the scan ("Conflicting directory structures").
    // Only in that MIXED state does this scan write: it eagerly
    // finishes the per-stream migration (idempotent, under each
    // stream's lock) during the upgrade window. A uniformly-legacy
    // root (no gen= dirs anywhere) partition-discovers fine in the
    // degraded no-`gen`-column form and stays strictly read-only —
    // read-only deployments and concurrent readers holding plans over
    // legacy paths never see files move under a metrics/scan call.
    val looseStreams =
      if (!backend.supportsLegacyLayout) Nil
      else streams.filter(s =>
        manifest(basin, s).generation == 0L &&
          hasLooseParquet(Paths.get(Layout.dataDir(root, basin, s))))
    val anyGenDir = backend.supportsLegacyLayout && streams.exists { s =>
      backend.listSubdirs(Paths.get(Layout.dataDir(root, basin, s)))
        .exists(_.startsWith("gen="))
    }
    if (anyGenDir && looseStreams.nonEmpty)
      looseStreams.foreach { s =>
        withStreamLock(basin, s) {
          migrateLegacyLocked(basin, s, manifestFresh(basin, s))
        }
      }
    val masks = streams.map { s =>
      val m = manifest(basin, s)
      val cutoff = catalog.streamConfig(basin, s)
        .getOrElse(StreamConfig.SystemDefault).retentionOrDefault match {
        case RetentionPolicy.Age(secs) => now - secs * 1000
        case RetentionPolicy.Infinite => Long.MinValue
      }
      (Layout.escape(s), s, m.tailSeq, m.trimPoint, cutoff, m.generation)
    }
    val maskDf = spark.createDataFrame(masks)
      .toDF("stream", "stream_name", "tail", "trim", "cutoff", "cur_gen")
    // `gen` arrives via partition discovery like `stream`; the mask
    // join keeps only each stream's CURRENT generation, so a rewrite's
    // predecessor files (alive within the grace window) never surface
    // as duplicates in a basin-wide scan. A root written before the
    // generation upgrade (loose files, no gen= dirs anywhere) yields
    // no `gen` partition column — every stream is implicitly at
    // generation 0, so the mask degrades to the pre-upgrade form.
    val raw = spark.read.schema(recordSchema).parquet(dir.toString)
    val genMask =
      if (raw.columns.contains("gen"))
        col("gen").cast(LongType) === col("cur_gen")
      else lit(0L) === col("cur_gen")
    raw.join(broadcast(maskDf), Seq("stream"))
      .where(genMask &&
             col("seq_num") < col("tail") && col("seq_num") >= col("trim") &&
             col("timestamp") >= col("cutoff"))
      .drop("stream", "gen", "tail", "trim", "cutoff", "cur_gen")
      .withColumnRenamed("stream_name", "stream")
  }

  /** Exact visible metered bytes of one stream, computed DRIVER-SIDE
    * from the FileIndex caches — no Spark job (VERDICT r17 #5: the
    * /v1/metrics storage gauge ran a column-pruned data scan per RPC,
    * the one serving-edge cost that grew with data volume; at 100 TB
    * an account scrape must not launch a corpus scan). Interior files
    * are decided by footer stats + cached per-file sums (one
    * projected scan per immutable file, EVER); only files straddling
    * the trim/tail/retention boundary are row-scanned, O(1) files per
    * stream. The mask is exactly [[visible]]'s: seq in
    * [trimPoint, tailSeq), timestamp >= the Age-retention cutoff —
    * MetricsGaugeSpec pins equality against the Spark scan. */
  def storageBytesFast(basin: String, stream: String,
                       nowMs: Option[Long] = None): Long = {
    val (m, files) = manifestAndFiles(basin, stream)
    val cutoff = catalog.streamConfig(basin, stream)
      .getOrElse(StreamConfig.SystemDefault).retentionOrDefault match {
      case RetentionPolicy.Age(secs) =>
        nowMs.getOrElse(System.currentTimeMillis()) - secs * 1000
      case RetentionPolicy.Infinite => Long.MinValue
    }
    val lo = m.trimPoint
    val hi = m.tailSeq
    var total = 0L
    files.foreach { st =>
      val invisible = st.maxSeq < lo || st.minSeq >= hi || st.maxTs < cutoff
      val whole = !invisible &&
        st.minSeq >= lo && st.maxSeq < hi && st.minTs >= cutoff
      if (whole) total += FileIndex.sums(st.path).metered
      else if (!invisible)
        FileIndex.scanRows(st.path) { r =>
          if (r.seq >= lo && r.seq < hi && r.ts >= cutoff) total += r.metered
          r.seq < hi // rows are seq-sorted: past tail, nothing more counts
        }
    }
    total
  }

  /** Basin-level storage gauge, driver-side: Σ [[storageBytesFast]]
    * over the catalog's streams. Manifest and footer caches make this
    * O(#streams) metadata work per call — no data scan. */
  def basinStorageBytesFast(basin: String, nowMs: Option[Long] = None): Long =
    catalog.listStreams(basin).items
      .map(s => storageBytesFast(basin, s.name, nowMs)).sum

  /** M2/M3-style usage metrics over live records — single-scan;
    * streams with no live records report zero.
    */
  def storageMetrics(basin: String): DataFrame = {
    val streams = catalog.listStreams(basin).items.map(_.name)
    if (streams.isEmpty) return spark.emptyDataFrame
    val names = spark.createDataFrame(streams.map(Tuple1(_))).toDF("stream")
    val counts = visibleBasin(basin)
      .groupBy("stream")
      .agg(sum("metered_size").as("sb"), count(lit(1)).as("nr"))
    names.join(counts, Seq("stream"), "left")
      .select(col("stream"),
        coalesce(col("sb"), lit(0L)).as("storage_bytes"),
        coalesce(col("nr"), lit(0L)).as("n_records"))
  }

  /** Delete trashed compaction generations older than the grace
    * window, plus staging/temp dirs orphaned by crashed drivers
    * (also called by the Maintenance tick).
    */
  def sweepTrash(graceMs: Long = 10 * 60 * 1000L,
                 nowMs: Option[Long] = None): Unit = {
    val cutoff = nowMs.getOrElse(System.currentTimeMillis()) - graceMs
    val trash = Paths.get(s"$root/_trash")
    if (Files.exists(trash)) {
      val s = Files.list(trash)
      try s.iterator().asScala.foreach { p =>
        val name = p.getFileName.toString
        val ts = name.substring(name.lastIndexOf('-') + 1)
        if (ts.nonEmpty && ts.forall(_.isDigit) && ts.toLong < cutoff)
          deleteRecursively(p)
      } finally s.close()
    }
    // _stage (ingest staging) and _tmp (compact scratch) entries are
    // deleted by their owners on success or abort; anything still
    // here past the grace window belongs to a crashed driver
    Seq(s"$root/_stage", s"$root/_tmp").map(Paths.get(_))
      .filter(Files.exists(_)).foreach { d =>
        val s = Files.list(d)
        try s.iterator().asScala.foreach { p =>
          val mtime = Files.getLastModifiedTime(p).toMillis
          if (mtime < cutoff) deleteRecursively(p)
        } finally s.close()
      }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
}
