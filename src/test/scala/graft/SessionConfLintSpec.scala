package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session config mutated while a query is being built leaks into every
  * later query of that session. Two sites still do it (the object-aggregate
  * threshold in `GraftSession` and the optimizer-rule exclusions in
  * `GraftExtensions.register`); this lint keeps the count from growing. */
class SessionConfLintSpec extends AnyFunSuite {

  private val allowed = Set(
    Paths.get("src/main/scala/graft/GraftSession.scala"),
    Paths.get("src/main/scala/graft/plans/GraftExtensions.scala"))

  test("lint: only GraftSession and GraftExtensions mutate session config") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(main)
    val offenders = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !allowed.contains(p))
      .filter { p =>
        val src = Files.readString(p)
        src.contains("conf.set(") || src.contains("conf.unset(")
      }
      .map(_.toString).toSeq.sorted
    finally walk.close()
    assert(offenders.isEmpty,
      s"session config mutated outside GraftSession/GraftExtensions (it leaks into later queries): $offenders")
  }
}
