package graft

import java.io.File
import java.nio.file.{Files, StandardOpenOption}
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ManifestStore, Staging}

/** The cross-process staging guard: concurrent check-and-write sections on
  * the same staging root must serialize (the VERDICT-named hazard was a
  * bench run and the test suite interleaving `write(built, dir)` on shared
  * `target/` paths and serving a half-written table).
  */
class StagingSpec extends AnyFunSuite {

  test("withExclusiveLock: a second writer waits out the first — no interleaving") {
    val root = java.nio.file.Files.createTempDirectory("stg").toFile
    val inCritical = new AtomicBoolean(false)
    val overlapped = new AtomicBoolean(false)
    val firstEntered = new CountDownLatch(1)
    def enter(holdMs: Long): Unit = Staging.withExclusiveLock(root) {
      if (!inCritical.compareAndSet(false, true)) overlapped.set(true)
      firstEntered.countDown()
      Thread.sleep(holdMs)
      inCritical.set(false)
    }
    val t1 = new Thread(() => enter(300))
    t1.start()
    assert(firstEntered.await(5, TimeUnit.SECONDS), "first writer never entered")
    val t2 = new Thread(() => enter(0))
    t2.start()
    t1.join(5000); t2.join(5000)
    assert(!t1.isAlive && !t2.isAlive, "a writer deadlocked on the staging lock")
    assert(!overlapped.get, "two writers were inside the critical section at once")
  }

  test("withExclusiveLock: sequential reacquisition works (lock is released)") {
    val root = java.nio.file.Files.createTempDirectory("stg2").toFile
    val seen = Staging.withExclusiveLock(root)(1) + Staging.withExclusiveLock(root)(2)
    assert(seen === 3)
  }

  test("rebuild ledger: a publish is one timed rebuild, nested publishes included; a fresh spec drains nothing") {
    val root = Files.createTempDirectory("stg_ledger").toFile
    try {
      Staging.drainRebuildLedger()
      ManifestStore.ensureSnapshot(new File(root, "outer"), "v1") { p =>
        // a write body that publishes its own input is ONE rebuild
        val inner = ManifestStore.ensureSnapshot(new File(root, "inner"), "v1") { q =>
          new File(q).mkdirs(); Files.write(new File(q, "x").toPath, Array[Byte](1)); ()
        }
        new File(p).mkdirs()
        Files.copy(new File(inner, "x").toPath, new File(p, "x").toPath); ()
      }
      val (sec, n) = Staging.drainRebuildLedger()
      assert(n === 1, "nested publish must count once, as the outermost")
      assert(sec > 0.0)
      ManifestStore.ensureSnapshot(new File(root, "outer"), "v1")(_ =>
        fail("republished under a fresh spec"))
      assert(Staging.drainRebuildLedger() === ((0.0, 0)))
    } finally Staging.deleteRecursively(root)
  }

  test("ensureSnapshot: two JVMs racing one root publish once and both read a complete snapshot") {
    val root = Files.createTempDirectory("stg_race").toFile
    try {
      val java = new File(sys.props("java.home"), "bin/java").getPath
      // both children wait for the same start instant, so their
      // freshness checks overlap inside the writer's sleep
      val startAt = (System.currentTimeMillis() + 3000).toString
      val children = (1 to 2).map { _ =>
        new ProcessBuilder(java, "-Xmx64m", "-cp", sys.props("java.class.path"),
          "graft.EnsureSnapshotRaceChild", root.getPath, startAt)
          .redirectErrorStream(true).start()
      }
      val outs = children.map { c =>
        val out = new String(c.getInputStream.readAllBytes())
        assert(c.waitFor(120, TimeUnit.SECONDS), "child JVM hung")
        assert(c.exitValue() === 0, out)
        out.trim
      }
      val publishes = Files.readAllLines(new File(root, "publishes.log").toPath)
      assert(publishes.size === 1, s"expected one publish, saw $publishes")
      val snap = ManifestStore.snapDir(root, ManifestStore.currentPointer(root).get._1)
      assert(outs.forall(_ == s"complete ${snap.getPath}"), outs.mkString(" | "))
    } finally Staging.deleteRecursively(root)
  }
}

/** One side of the two-JVM race: publish `root` under a fixed spec with a
  * slow plain-file write body, then check the returned snapshot holds
  * every file the writer produces.
  */
object EnsureSnapshotRaceChild {
  val Parts = 20

  def main(args: Array[String]): Unit = {
    val root = new File(args(0))
    Thread.sleep(math.max(0L, args(1).toLong - System.currentTimeMillis()))
    val snap = ManifestStore.ensureSnapshot(root, "race-v1") { p =>
      Files.write(new File(root, "publishes.log").toPath,
        s"${ProcessHandle.current().pid()}\n".getBytes,
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      new File(p).mkdirs()
      (0 until Parts).foreach { i =>
        Files.write(new File(p, s"part-$i").toPath, s"$i".getBytes)
        Thread.sleep(25)
      }
    }
    val complete = (0 until Parts).forall { i =>
      val f = new File(snap, s"part-$i")
      f.isFile && new String(Files.readAllBytes(f.toPath)) == s"$i"
    }
    println(if (complete) s"complete ${snap.getPath}" else s"TORN ${snap.getPath}")
    System.exit(if (complete) 0 else 1)
  }
}
