package graft.table

import graft.TestDirs

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Mutual-exclusion stress for the O_EXCL commit-lock pattern: 8 threads ×
  * 500 critical sections incrementing an unprotected counter — any
  * double-entry shows up as a lost update. */
class LockStressSpec extends AnyFunSuite {
  test("O_EXCL lock file pattern is mutually exclusive under contention") {
    val dir = TestDirs.create("graft_lockstress")
    val lock = dir.resolve("COMMIT.lock")
    val staleMs = 60000L
    val inside = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInside = new java.util.concurrent.atomic.AtomicInteger(0)
    var counter = 0L // deliberately unprotected: the lock must protect it
    val threads = (0 until 8).map { _ =>
      new Thread(() => {
        (0 until 500).foreach { _ =>
          var held = false
          while (!held) {
            try { Files.createFile(lock); held = true }
            catch {
              case _: java.nio.file.FileAlreadyExistsException =>
                try {
                  val age = System.currentTimeMillis() -
                    Files.getLastModifiedTime(lock).toMillis
                  if (age > staleMs) Files.deleteIfExists(lock)
                  else Thread.sleep(0, 200000)
                } catch { case _: java.nio.file.NoSuchFileException => () }
            }
          }
          val n = inside.incrementAndGet()
          maxInside.updateAndGet(m => math.max(m, n))
          counter += 1
          inside.decrementAndGet()
          Files.deleteIfExists(lock)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(maxInside.get == 1, s"double entry: maxInside=${maxInside.get}")
    assert(counter == 4000L, s"lost updates: $counter")
  }

  test("lock heartbeat: a live holder outlasting staleMs still excludes a contender") {
    val lock = TestDirs.create("graft_lockbeat").resolve("COMMIT.lock")
    val staleMs = 400L
    val held = new java.util.concurrent.CountDownLatch(1)
    @volatile var releasedAt = 0L
    @volatile var contenderAt = 0L
    val holder = new Thread(() => IcebergLite.withLockFile(lock, staleMs) {
      held.countDown()
      Thread.sleep(4 * staleMs) // ≥ 3× staleMs: only the heartbeat keeps the lock fresh
      releasedAt = System.nanoTime()
    })
    holder.start()
    held.await()
    IcebergLite.withLockFile(lock, staleMs) { contenderAt = System.nanoTime() }
    holder.join()
    assert(contenderAt > releasedAt, "contender broke a live holder's lock")

    // a dead holder's lock (no heartbeat) is still broken once stale
    Files.createFile(lock)
    Files.setLastModifiedTime(lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10 * staleMs))
    assert(IcebergLite.withLockFile(lock, staleMs)(42) == 42)
    assert(!Files.exists(lock))
  }
}
