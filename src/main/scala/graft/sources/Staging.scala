package graft.sources

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption
import java.util.concurrent.ConcurrentHashMap

/** Shared staging mechanics: the cross-process lock, the rebuild
  * ledger, and the spec/stamp helpers every build-once artifact keys on.
  * Artifacts publish through [[ManifestStore.ensureSnapshot]] (immutable
  * snapshots behind an atomically swapped pointer); the in-place clean
  * tables of [[graft.operators.CleanStore]] are the one exception.
  *
  * The lock is an OS advisory file lock, DOUBLE-CHECKED by its callers:
  * the winner builds, and the loser re-runs its staleness check under the
  * lock and skips its own write. `FileChannel.lock` is process-scoped, so
  * a JVM-wide monitor per canonical path serializes same-process callers
  * first (overlapping lock requests from one JVM would otherwise throw
  * OverlappingFileLockException). Advisory locks are a LOCAL-filesystem
  * mechanism — the local twin of what a 1000-executor deployment gets
  * from a transactional table format; staging writes all run on the
  * driver-side build path, never on executors.
  */
object Staging {

  private val monitors = new ConcurrentHashMap[String, Object]()

  // Staged-artifact REBUILD ledger: every build-once artifact re-lays
  // data ONCE per spec and serves the copy on every later run, so a
  // "cold" bench take that follows a staging run never pays the layout
  // cost. The publish branch of ManifestStore.ensureSnapshot (and
  // CleanStore's in-place refresh) runs inside [[timedRebuild]]; Bench
  // drains the ledger around its timed region and stamps
  // `staging_sec`/`staging_rebuilds` into the record. Only the OUTERMOST
  // block on a thread counts: a publish whose write body publishes its
  // own inputs (the compacted index over the learned base index) is one
  // rebuild, timed once.
  private val rebuildNanosAcc = new java.util.concurrent.atomic.AtomicLong(0L)
  private val rebuildCountAcc = new java.util.concurrent.atomic.AtomicInteger(0)
  private val rebuildDepth = ThreadLocal.withInitial[Integer](() => 0)

  def timedRebuild[T](body: => T): T = {
    val depth: Int = rebuildDepth.get
    rebuildDepth.set(depth + 1)
    val t0 = System.nanoTime()
    try body finally {
      rebuildDepth.set(depth)
      if (depth == 0) {
        rebuildNanosAcc.addAndGet(System.nanoTime() - t0)
        rebuildCountAcc.incrementAndGet(); ()
      }
    }
  }

  /** (seconds spent in rebuild blocks, number of rebuilds) since the last
    * drain; resets the ledger. JVM-global — callers bracket their own
    * measurement window.
    */
  def drainRebuildLedger(): (Double, Int) = {
    val ns = rebuildNanosAcc.getAndSet(0L)
    val n = rebuildCountAcc.getAndSet(0)
    (ns / 1e9, n)
  }

  /** Build-logic fingerprint of a LAZY frame: schema + every Filter
    * predicate, Project list, Generate generator and Aggregate list in
    * the analyzed plan. A value-changing logic edit (a derive formula,
    * the tokenizer inside a shingle generator, a new cleaning rule)
    * alters at least one of these, so an artifact staged under old logic
    * is invalidated instead of silently served — the CleanStore staging,
    * the IVF cell index and the dedup cluster labels all carry it in
    * their spec. `Expression.sql` is stable across sessions (no
    * exprIds), unlike the full plan string; computing the spec analyzes
    * the plan but runs no job. (A logic change strictly downstream of
    * the fingerprinted frame — e.g. inside an eager iterative consumer —
    * is not captured; keep the fingerprinted frame as close to the
    * artifact's full lineage as laziness allows.)
    */
  def planSpec(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, Project}
    df.schema.catalogString + "\n" +
      df.queryExecution.analyzed.collect {
        case f: Filter => "F:" + f.condition.sql
        case p: Project => "P:" + p.projectList.map(_.sql).mkString(", ")
        case g: Generate => "G:" + g.generator.sql
        case a: Aggregate => "A:" + a.aggregateExpressions.map(_.sql).mkString(", ")
      }.mkString("\n")
  }

  /** Freshness token for an artifact's SOURCE files: (path, mtime,
    * length) per file. Carried in the artifact's spec and
    * string-compared on the next serve — unlike
    * the `marker.lastModified() >= source.lastModified()` scheme it
    * replaces, a source rewritten in the same filesystem-timestamp second
    * as the artifact build (coarse 1 s mtime granularity) still changes
    * the recorded tuple and invalidates the artifact.
    */
  def sourceStamp(files: Seq[File]): String =
    files.map(f => s"${f.getPath}@${f.lastModified()}#${f.length()}")
      .mkString("src[", ";", "]")

  /** [[sourceStamp]] for a source that may be a DIRECTORY table (the
    * production multi-file layout): a directory's own (mtime, length) is
    * a weak token — its length is the ~4 KB directory entry and its
    * mtime only moves on entry add/remove — so stamp the sorted DATA
    * FILE listing instead (r19 advisor, medium). Regular files keep the
    * exact [[sourceStamp]] format, so existing staged artifacts are not
    * spuriously invalidated.
    */
  def sourceStampDeep(src: File): String =
    if (src.isDirectory)
      sourceStamp(dataFiles(src).sortBy(_.getName).toSeq)
    else sourceStamp(Seq(src))

  /** The data files of a directory table: regular files, minus markers
    * and hidden/metadata entries (`_SUCCESS`, `.crc`, stamps).
    */
  def dataFiles(dir: File): Array[File] =
    Option(dir.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))

  /** Restage one table of `sfDir` as a MULTI-FILE directory (a
    * `<table>.parquet` DIRECTORY — both the batch and streaming readers
    * accept it) inside a snapshot of `target/<area>/<sfName>/<table>`:
    * the streaming file source's admission control (maxFilesPerTrigger)
    * can then split the backlog into real micro-batches, which a
    * single-file source (one all-or-nothing batch) cannot give the
    * restart drill or the rate drill. Keyed on the source's data-file
    * listing + file count. Returns a fake sfDir (named like the real one)
    * holding the staged table.
    */
  def stageMultiFile(
      spark: org.apache.spark.sql.SparkSession, sfDir: String,
      table: String, files: Int, area: String): String = {
    val sfName = new File(sfDir).getName
    val src = new File(Tables.path(sfDir, table))
    val spec = sourceStampDeep(src) + s" files=$files"
    val snap = ManifestStore.ensureSnapshot(
        new File(s"${sys.props("user.dir")}/target/$area/$sfName/$table"), spec) { p =>
      spark.read.parquet(src.getAbsolutePath)
        .repartition(files)
        .write.parquet(Tables.path(s"$p/$sfName", table))
    }
    new File(snap, sfName).getAbsolutePath
  }

  /** Recursive delete, null-race safe (listFiles is null when another
    * process sweeps the same dir concurrently) — the ONE copy every
    * staging caller shares.
    */
  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(); ()
  }

  /** Run `body` holding an exclusive lock on `root/.graft_lock` (creating
    * `root` if needed). Reentrant across nested calls is NOT supported —
    * keep critical sections flat.
    */
  def withExclusiveLock[T](root: File)(body: => T): T = {
    root.mkdirs()
    val lockFile = new File(root, ".graft_lock")
    val monitor =
      monitors.computeIfAbsent(root.getCanonicalPath, _ => new Object)
    monitor.synchronized {
      val ch = FileChannel.open(
        lockFile.toPath, StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try body
        finally lock.release()
      } finally ch.close()
    }
  }
}
