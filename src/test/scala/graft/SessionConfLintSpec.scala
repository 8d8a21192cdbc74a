package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Session state written while a query is being built leaks into every
  * later query of that session. `GraftExtensions.register` is the one place
  * the engine writes it (config, optimizer rules, functions), and
  * `SparkEntry.queries` applies it before every query; this lint keeps any
  * other `src/main` file from writing session state. */
class SessionConfLintSpec extends AnyFunSuite {

  private val allowed = Set(Paths.get("src/main/scala/graft/plans/GraftExtensions.scala"))

  private val writes = Seq("conf.set(", "conf.unset(", "extraOptimizations =", "registerFunction(")

  test("lint: only GraftExtensions writes session state") {
    val main = Paths.get("src/main")
    assert(Files.isDirectory(main), s"run from the repository root (cwd ${Paths.get("").toAbsolutePath})")
    val walk = Files.walk(main)
    val offenders = try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && !allowed.contains(p))
      .filter { p =>
        val src = Files.readString(p)
        writes.exists(src.contains)
      }
      .map(_.toString).toSeq.sorted
    finally walk.close()
    assert(offenders.isEmpty,
      s"session state written outside GraftExtensions (it leaks into later queries): $offenders")
  }
}
