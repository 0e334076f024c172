package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pointer-swap snapshot staging — the transactional-table posture
  * ARTIFACTS.md rules 5–6 name as the 100 TB replacement for in-place
  * overwrite, implemented at local-staging scale. [[graft.operators.CleanStore]]
  * rewrites its directory in place, which leaves ONE documented residual
  * (ServeUnderRefreshSpec): a refresh landing between a reader's file
  * listing and its scan aborts the scan loudly. This store removes that
  * window the way Iceberg/Delta do, with a manifest pointer:
  *
  * ```
  * root/_manifest            one line: "<snapId>\t<spec>" — swapped via
  *                           ATOMIC_MOVE, so it reads old or new, never torn
  * root/snap=<id>/…          immutable snapshot directories
  * ```
  *
  *  - READERS never lock and never abort: read the pointer, scan an
  *    immutable directory. A publish during the scan is invisible — the
  *    previous snapshot's files outlive their pointer until GC, and GC
  *    keeps {current, previous}, so any read that began under the old
  *    pointer completes against intact files.
  *  - PUBLISHERS build the new snapshot FULLY (new directory, never
  *    touching a served one), then swap the pointer atomically, then GC
  *    everything but the last two snapshots — all under the staging
  *    lock, double-checked, so concurrent publishers build once.
  *  - CRASH WINDOWS (proved in ManifestStoreSpec): a publisher killed
  *    before the swap leaves an orphan `snap=` dir the pointer never
  *    references — readers keep serving the old snapshot and the next
  *    publisher sweeps the orphan; killed during the swap is impossible
  *    by ATOMIC_MOVE; killed after the swap but before GC leaves extra
  *    snapshots the next publish sweeps.
  *
  * Every build-once artifact except CleanStore's in-place clean tables
  * publishes here. `spec` is the caller's build-logic fingerprint +
  * source stamp; a pointer whose spec matches is served as-is, anything
  * else publishes a new snapshot. Snapshot ids
  * are maxExisting+1 (no clocks — deterministic and monotonic under the
  * lock).
  */
object ManifestStore {

  /** Snapshots retained after a publish: the current one plus the
    * previous (the in-flight-reader horizon). At 100 TB this becomes a
    * time- or reader-lease-based horizon; the two-slot rule is its
    * minimal local twin — and `graceMs` below IS the time-based half,
    * for stores whose readers outlive a publish cycle.
    */
  val KeepSnapshots = 2

  /** Reader grace for the INDEX artifacts (adm/IVF/PQ/buckets/z-store):
    * their probes run retrain-length queries, so a burst of publishes
    * can lap the two-slot horizon while a probe is still scanning
    * generation N (caught by the r16 index soak: adm snap=3 was GC'd
    * under a live sim5 probe two publishes later). A snapshot beyond the
    * keep-2 window is deleted only once it has been SUPERSEDED for at
    * least this long — the supersession instant is recorded in a
    * `.superseded_<id>` tombstone at the publish that outdated it
    * (crash-safe: a missing tombstone is re-stamped at the next publish,
    * which can only DELAY deletion, never cause an early one).
    */
  val IndexReaderGraceMs: Long = 10 * 60 * 1000L

  private def manifestFile(root: File) = new File(root, "_manifest")

  /** The current (snapId, spec), if a valid pointer exists. */
  def currentPointer(root: File): Option[(Long, String)] = {
    val f = manifestFile(root)
    if (!f.exists()) None
    else new String(Files.readAllBytes(f.toPath)).split("\t", 2) match {
      case Array(id, spec) if id.nonEmpty && id.forall(_.isDigit) =>
        Some((id.toLong, spec))
      case _ => None // unreadable pointer = no pointer (rebuild, fail loud never torn)
    }
  }

  def snapDir(root: File, id: Long) = new File(root, s"snap=$id")

  private def snapIds(root: File): Seq[Long] =
    Option(root.listFiles).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("snap="))
      .flatMap(d => scala.util.Try(d.getName.stripPrefix("snap=").toLong).toOption)
      .toSeq.sorted

  /** Root-level files of the flat layout a root held before it published
    * snapshots: a parquet write's `part-*` and `_SUCCESS`, the old
    * `_graft_*` markers and stamps, and their Hadoop `.<name>.crc` twins.
    * No reader looks at them (readers scan `snap=<n>` only).
    */
  private def isFlatLayoutDebris(name: String): Boolean = {
    val base =
      if (name.startsWith(".") && name.endsWith(".crc")) name.drop(1).dropRight(4) else name
    base.startsWith("part-") || base == "_SUCCESS" || base.startsWith("_graft_")
  }

  /** Delete the flat-layout debris at the root — regular files only, never
    * a directory, `_manifest`, `.graft_lock`, a `.superseded_*` tombstone
    * or a `.manifest_tmp_*` pointer. Runs under the staging lock.
    */
  private def sweepFlatLayout(root: File): Unit =
    Option(root.listFiles).getOrElse(Array.empty)
      .filter(f => f.isFile && isFlatLayoutDebris(f.getName))
      .foreach(_.delete())

  /** Resolve (publishing if needed) the snapshot directory for `spec` —
    * the pointer/publish/GC core shared by [[serve]] (plain parquet
    * stores) and the artifact stagings whose read path is not a flat
    * parquet dir (bucketed catalog tables, multi-subdir index artifacts:
    * centroids/cells, codebooks/enc). `write(path)` must materialize the
    * FULL snapshot at `path` (it runs only on publish). The returned
    * directory is immutable — concurrent publishes cannot disturb a
    * reader pinned to it (GC keeps {current, previous}). A publish is
    * timed into the [[Staging.timedRebuild]] ledger.
    */
  def ensureSnapshot(root: File, spec: String,
      graceMs: Long = 0L)(write: String => Unit): File = {
    // lock-free fast path: a valid pointer with the right spec serves
    // immediately (the whole point — readers don't serialize on writers)
    val fast = currentPointer(root)
    fast match {
      case Some((id, s)) if s == spec => snapDir(root, id)
      case _ =>
        Staging.withExclusiveLock(root) {
          currentPointer(root) match {
            case Some((id, s)) if s == spec => snapDir(root, id) // lost race, winner built
            case stale => Staging.timedRebuild {
              // the new id is claimed from the PRE-sweep state (max of
              // everything on disk or pointed), so a generation number is
              // NEVER reused even when a lost pointer forces a total
              // sweep — id reuse would let a consumer keyed on the id
              // (BucketStore's per-snapshot catalog tables) collide a
              // fresh generation with a stale cached one (caught in r16:
              // the rebuilt snap=1 served a dead file listing)
              val pointed = stale.map(_._1)
              val id = (snapIds(root) ++ pointed).maxOption.getOrElse(0L) + 1
              // sweep orphans: snapshots newer than the pointer are the
              // debris of publishers killed before their swap
              snapIds(root).filter(i => pointed.forall(_ < i))
                .foreach(i => Staging.deleteRecursively(snapDir(root, i)))
              sweepFlatLayout(root)
              val dest = snapDir(root, id)
              write(dest.getAbsolutePath)
              // atomic pointer swap: old or new, never torn
              val tmp = new File(root, s".manifest_tmp_${ProcessHandle.current().pid()}")
              Files.write(tmp.toPath, s"$id\t$spec".getBytes)
              Files.move(tmp.toPath, manifestFile(root).toPath,
                StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
              // tombstone every snapshot this publish superseded — the
              // supersession instant anchors the time-based horizon
              val now = System.currentTimeMillis()
              snapIds(root).filter(_ != id).foreach { old =>
                val t = new File(root, s".superseded_$old")
                if (!t.exists()) Files.write(t.toPath, now.toString.getBytes)
              }
              // GC: keep {current, previous}; anything older is past the
              // slot horizon AND (for grace-bearing stores) must have
              // been superseded for at least graceMs — an in-flight
              // reader pinned generations back keeps intact files
              val keep = snapIds(root).takeRight(KeepSnapshots).toSet
              snapIds(root).filterNot(keep).foreach { old =>
                val t = new File(root, s".superseded_$old")
                val supersededAt =
                  if (t.exists())
                    scala.util.Try(new String(Files.readAllBytes(t.toPath)).trim.toLong)
                      .getOrElse(now)
                  else now
                if (now - supersededAt >= graceMs) {
                  Staging.deleteRecursively(snapDir(root, old))
                  t.delete(); ()
                }
              }
              dest
            }
          }
        }
    }
  }

  /** Serve the store under `spec` as a parquet read of the resolved
    * snapshot — see [[ensureSnapshot]] for the pointer semantics.
    */
  def serve(spark: SparkSession, root: File, spec: String,
      graceMs: Long = 0L)(write: String => Unit): DataFrame =
    spark.read.parquet(
      ensureSnapshot(root, spec, graceMs)(write).getAbsolutePath)
}
