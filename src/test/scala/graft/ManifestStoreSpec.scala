package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ManifestStore

/** The pointer-swap staging contract: immutable snapshots + an
  * atomically swapped manifest pointer give readers lock-free,
  * abort-free serving under refresh — the property the in-place
  * CleanStore cannot offer (ServeUnderRefreshSpec documents its loud
  * abort window; here the soak asserts ZERO aborts).
  */
class ManifestStoreSpec extends AnyFunSuite with SparkFixture {

  private def rm(f: File): Unit = {
    Option(f.listFiles).getOrElse(Array.empty).foreach(rm); f.delete(); ()
  }

  private def snapIdsOf(root: File): Seq[Long] =
    Option(root.listFiles).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.startsWith("snap="))
      .map(_.getName.stripPrefix("snap=").toLong).toSeq.sorted

  private def writeN(n: Long)(path: String): Unit =
    spark.range(n).withColumn("v", col("id") * 2)
      .coalesce(1).write.parquet(path)

  test("publish once per spec; spec change republishes monotonically; GC keeps {current, previous}") {
    val root = Files.createTempDirectory("graft_ms").toFile
    try {
      val a = ManifestStore.serve(spark, root, "spec-A")(writeN(10))
      assert(a.count() === 10)
      assert(snapIdsOf(root) === Seq(1L))
      // same spec: serve, never republish
      val sig = snapIdsOf(root)
      ManifestStore.serve(spark, root, "spec-A")(_ =>
        fail("republished under an unchanged spec")).count()
      assert(snapIdsOf(root) === sig)
      // spec changes: new snapshots, ids monotonic, GC horizon of 2
      ManifestStore.serve(spark, root, "spec-B")(writeN(20)).count()
      assert(snapIdsOf(root) === Seq(1L, 2L))
      ManifestStore.serve(spark, root, "spec-C")(writeN(30)).count()
      assert(snapIdsOf(root) === Seq(2L, 3L),
        "grandparent snapshot must be GC'd, previous retained")
      assert(ManifestStore.currentPointer(root).map(_._1) === Some(3L))
    } finally rm(root)
  }

  test("a reader pinned pre-publish completes against the retained previous snapshot") {
    val root = Files.createTempDirectory("graft_ms_pin").toFile
    try {
      val pinned = ManifestStore.serve(spark, root, "v1")(writeN(100))
      // publish a NEW snapshot while `pinned` has not been scanned yet
      ManifestStore.serve(spark, root, "v2")(writeN(5)).count()
      // the in-place store would have deleted v1's files under the
      // reader; here the previous snapshot is retained, so the pinned
      // frame completes with v1's content
      assert(pinned.count() === 100, "pinned reader lost its snapshot")
      assert(ManifestStore.serve(spark, root, "v2")(_ =>
        fail("republish")).count() === 5)
    } finally rm(root)
  }

  test("crash windows: orphan snapshots are swept, a garbage pointer rebuilds, tmp pointers are inert") {
    val root = Files.createTempDirectory("graft_ms_crash").toFile
    try {
      ManifestStore.serve(spark, root, "v1")(writeN(7)).count()
      // publisher killed AFTER writing its snapshot dir, BEFORE the swap:
      // an orphan newer than the pointer
      val orphan = ManifestStore.snapDir(root, 9)
      orphan.mkdirs()
      Files.write(new File(orphan, "part-garbage.parquet").toPath,
        Array.fill[Byte](32)(0x55))
      // readers keep serving the pointed snapshot, untouched by the orphan
      assert(ManifestStore.serve(spark, root, "v1")(_ =>
        fail("orphan must not satisfy a serve")).count() === 7)
      // the next PUBLISH sweeps the orphan before allocating its own id
      ManifestStore.serve(spark, root, "v2")(writeN(8)).count()
      assert(!orphan.exists(), "orphan snapshot survived the next publish")
      // publisher killed mid-pointer-write: the tmp file is inert debris
      Files.write(new File(root, ".manifest_tmp_99999").toPath, "junk".getBytes)
      assert(ManifestStore.serve(spark, root, "v2")(_ =>
        fail("tmp pointer must not invalidate")).count() === 8)
      // a corrupted pointer (unreadable bytes) rebuilds — never a torn serve
      Files.write(new File(root, "_manifest").toPath, "not\u0000a pointer".getBytes)
      assert(ManifestStore.serve(spark, root, "v2")(writeN(8)).count() === 8)
      assert(ManifestStore.currentPointer(root).isDefined, "pointer not restored")
    } finally rm(root)
  }

  test("publish sweeps the pre-snapshot flat layout's files, and only those") {
    val root = Files.createTempDirectory("graft_ms_flat").toFile
    try {
      // a root that held a flat parquet write + markers before it moved
      // to snapshots
      val legacy = Seq("part-00000-abc.snappy.parquet", ".part-00000-abc.snappy.parquet.crc",
        "_SUCCESS", "._SUCCESS.crc", "_graft_source", "_graft_spec", "._graft_spec.crc")
      legacy.foreach(n => Files.write(new File(root, n).toPath, "x".getBytes))
      // never swept: a directory named like debris, the lock, tombstones,
      // a tmp pointer, an unrelated file
      val keptDir = new File(root, "part-dir"); keptDir.mkdirs()
      Files.write(new File(keptDir, "part-0.parquet").toPath, "x".getBytes)
      val kept = Seq(".graft_lock", ".superseded_7", ".manifest_tmp_1", "notes.txt")
      kept.foreach(n => Files.write(new File(root, n).toPath, "x".getBytes))

      val df = ManifestStore.serve(spark, root, "v1")(writeN(10))
      legacy.foreach(n => assert(!new File(root, n).exists(), s"$n not swept"))
      (kept :+ "part-dir" :+ "part-dir/part-0.parquet" :+ "_manifest")
        .foreach(n => assert(new File(root, n).exists(), s"$n swept"))
      assert(df.count() === 10)
      assert(df.agg(sum("v")).head.getLong(0) === 90L)
      assert(snapIdsOf(root) === Seq(1L))
    } finally rm(root)
  }

  test("soak: lock-free readers under publish flips — zero aborts, only legal snapshots") {
    val root = Files.createTempDirectory("graft_ms_soak").toFile
    try {
      ManifestStore.serve(spark, root, "n=40")(writeN(40)).count()
      val stop = new AtomicBoolean(false)
      val bad = new ConcurrentLinkedQueue[String]()
      val errs = new ConcurrentLinkedQueue[Throwable]()
      var reads = 0L
      val reader = new Thread(() => {
        while (!stop.get()) {
          try {
            // lock-free read of whatever snapshot the pointer names;
            // counts 40/41/…/44 are the only legal outcomes
            val n = ManifestStore.currentPointer(root) match {
              case Some((id, _)) => spark.read
                .parquet(ManifestStore.snapDir(root, id).getAbsolutePath).count()
              case None => -1L
            }
            reads += 1
            if (n < 40 || n > 44) { bad.add(s"count=$n"); () }
          } catch { case t: Throwable => errs.add(t); () }
        }
      })
      reader.start()
      try (41 to 44).foreach { n =>
        ManifestStore.serve(spark, root, s"n=$n")(writeN(n.toLong)).count()
        Thread.sleep(100)
      } finally { stop.set(true); reader.join(120000) }
      assert(errs.isEmpty,
        s"ABORT under publish — the window this store exists to remove: ${Option(errs.peek())}")
      assert(bad.isEmpty, s"torn/illegal read: ${bad.toArray.mkString(", ")}")
      assert(reads >= 4, s"soak too thin: $reads reads")
    } finally rm(root)
  }
}
