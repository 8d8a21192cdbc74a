package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The one source of spec temp dirs. Every dir [[create]] makes is deleted
  * when the test JVM exits, together with every fixture root keyed on it:
  * [[Fs.fixtureRoot]] names a root `graft_<kind>_<sanitized key>_<fp>`, so a
  * query run over a temp data dir leaves its caches beside that dir. */
object TestDirs {
  private val created = new ConcurrentLinkedQueue[Path]()

  sys.addShutdownHook(deleteAll())

  def create(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    created.add(d)
    d
  }

  private def deleteAll(): Unit = {
    val dirs = created.asScala.toSeq
    val keys = dirs.map(d => "_" + d.toString.replaceAll("[^a-zA-Z0-9]", "_") + "_")
    val ls = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    val keyed = try ls.iterator().asScala
      .filter(p => keys.exists(p.getFileName.toString.contains)).toSeq
    finally ls.close()
    (keyed ++ dirs).foreach(p => try Fs.deleteRecursively(p) catch { case _: java.io.IOException => () })
  }
}
