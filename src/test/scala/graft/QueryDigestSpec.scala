package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Every `SparkEntry.queries` entry on sf0.001, pinned by row count, schema
  * (nullability included) and order-independent row hash against
  * `src/test/resources/query_digest_sf0.001.tsv` (one `query⇥rows⇥schema⇥hash`
  * line per query). Queries run in name order, as `graft.Bench` runs them.
  * The digest this run computed is written to
  * `target/query_digest_sf0.001.tsv`; a change that alters a query's output
  * on purpose copies that file over the pinned one and names the query in
  * CHANGES.md. */
class QueryDigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"
  private val file = "query_digest_sf0.001.tsv"

  private val pinned = QueryDigest.pinned(file)

  private val computed = scala.collection.mutable.Map.empty[String, String]

  private val names = SparkEntry.queries.keys.toSeq.sorted

  test(s"the digest pins exactly the ${names.size} SparkEntry queries") {
    assert(pinned.keySet == names.toSet,
      s"unpinned: ${names.filterNot(pinned.contains)}; stale: ${pinned.keySet -- names}")
  }

  for (q <- names)
    test(s"$q on sf0.001: row count, schema and row hash match the digest") {
      val got = QueryDigest.line(q, SparkEntry.queries(q)(spark, sf))
      computed(q) = got
      assert(pinned.get(q).contains(got), s"\n got    $got\n pinned ${pinned.getOrElse(q, "-")}")
    }

  override def afterAll(): Unit = {
    val out = Paths.get("target", file)
    Files.createDirectories(out.getParent)
    Files.write(out, names.flatMap(computed.get).asJava)
  }
}
