package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlansSpec extends AnyFunSuite {

  test("stable: two runs of one plan print the same; a plan change still shows") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def run(a: Int, b: Int, pid: Int, hash: String, size: String, dir: String, uuid: String,
            lambda: String = "7022/0x00007f61918cdaf8") =
      s"""(1) Scan parquet
         |Output [2]: [id#${a}L, sig#$b]
         |Location: InMemoryFileIndex [file:$tmp/graft_plans_wkb$dir/t/data/c1/part-00000-$uuid-c000.snappy.parquet]
         |Arguments: explode(org.apache.spark.sql.catalyst.expressions.UnsafeArrayData@$hash), [id#${a}L], false
         |+- BroadcastQueryStage (8), Statistics(sizeInBytes=$size, rowCount=2.70E+3)
         |Arguments: graft.streaming.Streams$$$$$$Lambda$$$lambda@$hash, [value#$b]
         |Arguments: HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=$pid]
         |""".stripMargin
    val first = Plans.stable(run(967, 971, 53, "7a50b5f7", "16.1 MiB", "1336073442",
      "12208ef2-d3e8-400a-b23a-d5b5e866458a"))
    val second = Plans.stable(run(12, 40, 7, "2acc5a39", "32.1 MiB", "9911",
      "0b1e9c7d-0000-4a2f-9d7e-0123456789ab", lambda = "6989/0x00007fe5a18e9a78"))
    assert(first == second)
    assert(first.contains("[id#1L, sig#2]") && first.contains("[plan_id=1]"))
    assert(first.contains("rowCount=2.70E+3") && !first.contains("MiB"))
    assert(!first.contains(tmp.toString) && !first.contains("7a50b5f7"))
    assert(first.contains("Streams$$$Lambda@<hash>, [value#2]"))
    // the same expression id keeps one ordinal; a different shape differs
    assert(first.contains("[id#1L], false"))
    assert(Plans.stable(run(967, 967, 53, "7a50b5f7", "1 KiB", "1", "x")) != first)
  }
}
