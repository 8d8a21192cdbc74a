package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.streaming.Streams

class FsSpec extends AnyFunSuite {

  private def names(dir: Path): Set[String] = {
    val st = Files.list(dir)
    try st.iterator().asScala.map(_.getFileName.toString).toSet finally st.close()
  }

  test("publishOnce: a write that throws leaves neither target nor sibling") {
    val dir = TestDirs.create("graft_fs_throw")
    for ((target, write) <- Seq[(Path, Path => Unit)](
        dir.resolve("f") -> (p => Files.writeString(p, "half")),
        dir.resolve("d") -> { p => Files.createDirectories(p); Files.writeString(p.resolve("x"), "half") })) {
      val e = intercept[RuntimeException] {
        Fs.publishOnce(target) { p => write(p); throw new RuntimeException("crash mid-write") }
      }
      assert(e.getMessage == "crash mid-write")
      assert(names(dir).isEmpty, s"left behind: ${names(dir)}")
    }
    // an existing target is returned untouched; `write` never runs
    val f = Fs.publishOnce(dir.resolve("f"))(Files.writeString(_, "first"))
    assert(Fs.publishOnce(f)(_ => fail("write ran over a published target")) == f)
    assert(Files.readString(f) == "first")
  }

  test("publishOnce: 4 racing writers of one file and of one directory all see one winner") {
    def race(target: Path, write: (Path, Int) => Unit, read: Path => String): Unit = {
      val n = 4
      // every writer finishes its sibling before any of them publishes, so
      // all four moves really race for the one target
      val barrier = new CyclicBarrier(n)
      val pool = Executors.newFixedThreadPool(n)
      try {
        val seen = (0 until n).map { i =>
          pool.submit(() => {
            val p = Fs.publishOnce(target) { st => write(st, i); barrier.await(30, TimeUnit.SECONDS) }
            read(p)
          })
        }.map(_.get(60, TimeUnit.SECONDS))
        assert(seen.distinct.size == 1, s"callers saw different contents: $seen")
        assert((0 until n).map(i => s"writer $i").contains(seen.head))
        assert(read(target) == seen.head)
        assert(names(target.getParent) == Set(target.getFileName.toString),
          s"siblings left: ${names(target.getParent)}")
      } finally pool.shutdownNow()
    }
    race(TestDirs.create("graft_fs_race_f").resolve("marker"),
      (p, i) => Files.writeString(p, s"writer $i"), p => Files.readString(p))
    race(TestDirs.create("graft_fs_race_d").resolve("fixture"),
      { (p, i) =>
        Files.createDirectories(p)
        Files.writeString(p.resolve("part-0"), s"writer $i")
        Files.writeString(p.resolve("part-1"), s"writer $i")
      },
      { p =>
        val parts = names(p).toSeq.sorted.map(n => Files.readString(p.resolve(n)))
        assert(parts.size == 2 && parts.distinct.size == 1, s"torn directory: $parts")
        parts.head
      })
  }

  test("a crash-orphaned staging sibling: not reaped as a stale cache, never listed by Spark") {
    val spark = SparkTestSession.spark
    // a single-file parquet table to stage
    val gen = TestDirs.create("graft_fs_gen").resolve("t")
    spark.range(100).coalesce(1).write.parquet(gen.toString)
    val src = names(gen).find(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .map(gen.resolve).get
    // a crash after `write` but before the publish leaves the sibling with
    // its contents: recreate exactly that at the name publishOnce chose
    def orphanOf(target: Path)(write: Path => Unit): Path = {
      var stage: Path = null
      intercept[RuntimeException] {
        Fs.publishOnce(target) { p => stage = p; write(p); throw new RuntimeException("crash") }
      }
      write(stage)
      stage
    }

    // fixture roots: a stale fingerprint is reaped, an orphaned (or live)
    // staging sibling of a root is not
    val tmp = TestDirs.create("graft_fs_reap")
    val prefix = "graft_fs_key_"
    val stale = Fs.publishOnce(tmp.resolve(prefix + "1234"))(Files.createDirectories(_))
    val orphanRoot = orphanOf(tmp.resolve(prefix + "5678"))(Files.createDirectories(_))
    Fs.reapStaleSiblings(tmp.resolve(prefix + "abcd"), prefix)
    assert(!Files.exists(stale), "stale fingerprint root not reaped")
    assert(Files.exists(orphanRoot), "staging sibling reaped as a stale cache")

    // a source directory: batch and streaming file sources list only the
    // published file, not the orphaned copy next to it
    val dir = TestDirs.create("graft_fs_src")
    Fs.publishOnce(dir.resolve("events.parquet"))(Files.copy(src, _))
    val orphan = orphanOf(dir.resolve("more.parquet"))(Files.copy(src, _))
    assert(Files.size(orphan) == Files.size(src))
    val batch = spark.read.parquet(dir.toString)
    assert(batch.count() == 100)
    Streams.drainToMemory(Streams.parquetStream(spark, dir.toString, batch.schema),
      "graft_fs_orphan_stream", OutputMode.Append())
    assert(spark.table("graft_fs_orphan_stream").count() == 100)
    spark.catalog.dropTempView("graft_fs_orphan_stream")
  }

  test("lint: only Fs.scala moves files with ATOMIC_MOVE") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(main)
    val offenders = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "Fs.scala")
      .filter(p => Files.readString(p).contains("ATOMIC_MOVE"))
      .map(_.toString).toSeq.sorted
    finally walk.close()
    assert(offenders.isEmpty,
      s"ATOMIC_MOVE outside Fs.scala (rename(2) replaces an existing file; use Fs.publishOnce): $offenders")
  }
}
