package graft.ann

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkTestSession, TestDirs}

class AnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("brute-force cosine top-k matches a scalar implementation") {
    val data = embs.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    val probes = embs.where($"vec_id" < 10)
    val got = Ann.bruteForceTopK(probes, embs, k = 5)
      .select($"probe_id", $"rank", $"neighbor_id")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap

    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val byId = data.toMap
    (0L until 10L).foreach { p =>
      val expected = data.filter(_._1 != p)
        .map { case (id, e) => (id, cos(byId(p), e)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
      assert(got(p) == expected, s"probe $p")
    }
  }

  test("native lsh_bucket_keys expression ≡ reference UDF, bit for bit") {
    val bu = Ann.lshBucketUdf(dim = 64, tables = 8, bits = 10, seed = 42L)
    val both = embs.select($"vec_id",
      bu($"embedding").as("udf_keys"),
      Ann.lshKeysColumn(dim = 64, tables = 8, bits = 10, seed = 42L)($"embedding").as("expr_keys"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, u, e) => assert(u == e, s"vec $id: $u vs $e") }
  }

  test("native cosine_sim / quantized_dot ≡ Column-algebra folds, bit for bit") {
    val pairs = embs.select($"vec_id", $"embedding".as("a"))
      .join(embs.select(($"vec_id" + 7).as("vec_id"), $"embedding".as("b")), "vec_id")
    val rows = pairs.select(
      Ann.cosine($"a", $"b").as("nc"), Ann.cosineCols($"a", $"b").as("cc"),
      Ann.quantizedDot($"a", $"b").as("nq"),
      Ann.quantizedDotCols($"a", $"b").cast("double").as("cq"))
      .as[(Double, Double, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nc, cc, nq, cq) =>
      assert(java.lang.Double.doubleToLongBits(nc) == java.lang.Double.doubleToLongBits(cc))
      assert(nq == cq)
    }
  }

  test("native i8_dot ≡ Column-algebra fold, every pair") {
    val pairs = embs.select($"vec_id", Ann.quantizeI8($"embedding").as("a"))
      .join(embs.select(($"vec_id" + 7).as("vec_id"),
        Ann.quantizeI8($"embedding").as("b")), "vec_id")
    val rows = pairs.select(
      Ann.i8Dot($"a", $"b").as("n"), Ann.i8DotCols($"a", $"b").as("c"))
      .as[(Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (n, c) => assert(n == c) }
  }

  test("native ivf_cell expression ≡ reference UDF, every corpus row") {
    val centers = IvfIndex.trainQuantizer(embs, nlist = 16, seed = 42L, maxTrain = 1000)
    val both = embs.select($"vec_id",
      IvfIndex.assignUdf(centers)($"embedding").as("u"),
      IvfIndex.assignColumn(centers)($"embedding").as("e"))
      .as[(Long, Int, Int)].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, u, e) => assert(u == e, s"vec $id: $u vs $e") }
  }

  test("int8 stored quantization: range-clamped, and i8TopK ≡ a scalar twin") {
    val data = embs.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
    def q8(e: Seq[Float]): Seq[Int] =
      e.map(x => math.max(-127.0, math.min(127.0, math.floor(x.toDouble * 127 + 0.5))).toInt)
    // quantized column is in int8 range and matches the scalar rule
    val qCol = embs.select($"vec_id", Ann.quantizeI8($"embedding").as("q"))
      .as[(Long, Seq[Byte])].collect().toMap
    data.foreach { case (id, e) =>
      assert(qCol(id).map(_.toInt) == q8(e), s"vec $id quantization")
      assert(qCol(id).forall(b => b >= -127 && b <= 127))
    }
    val got = Ann.i8TopK(embs.where($"vec_id" < 10), embs, k = 3)
      .select($"probe_id", $"rank", $"neighbor_id", $"dot")
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(t => (t._3, t._4)).toSeq).toMap
    val byId = data.toMap
    (0L until 10L).foreach { p =>
      val expected = data.filter(_._1 != p)
        .map { case (id, e) => (id, q8(byId(p)).zip(q8(e)).map { case (a, b) => a.toLong * b }.sum) }
        .sortBy { case (id, s) => (-s, id) }.take(3).toSeq
      assert(got(p) == expected, s"probe $p")
    }
  }

  test("native top_k_rows ≡ udaf(TopKAgg) — values, order, ties and schema") {
    // adversarial shapes: many tied scores across ids (total order must
    // break ties by id asc), groups larger and smaller than k, and enough
    // partitions that the partial/merge path actually runs
    val k = 5
    val rows = (0 until 2000).map { i =>
      val grp = i % 37
      val score = ((i * 2654435761L) % 13).toDouble / 7.0 // heavy ties
      (grp.toLong, score, i.toLong)
    }
    val df = rows.toDF("probe_id", "sim", "neighbor_id").repartition(8)
    val ref = df.groupBy("probe_id")
      .agg(udaf(new TopKAgg(k)).apply($"sim", $"neighbor_id").as("top"))
    val nat = df.groupBy("probe_id")
      .agg(TopKRows.topK(k, $"sim", $"neighbor_id").as("top"))
    assert(nat.schema == ref.schema,
      s"schema drift: ${nat.schema.catalogString} vs ${ref.schema.catalogString}")
    def flat(d: org.apache.spark.sql.DataFrame) =
      d.select($"probe_id", posexplode($"top").as(Seq("i", "t")))
        .select($"probe_id", $"i", $"t._1".as("s"), $"t._2".as("id"))
        .as[(Long, Int, Double, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(flat(nat) == flat(ref))
  }

  test("native top_k_rows ≡ udaf(TopKAgg) with NaN, ±0.0 and zero-norm scores; NaN ranks worst") {
    // a zero-norm embedding's cosine is 0/0 = NaN. Under IEEE `>`/`==` such
    // a NaN could enter a non-full buffer and never be displaced; both sides
    // order scores by Double.compare, so NaN ranks worst and 0.0 beats -0.0
    val k = 3
    val rows = (0 until 1200).map { i =>
      val (emb, raw) = i % 6 match {
        case 0 => (Seq(0f, 0f), 0.0)                         // zero norm → NaN
        case 1 => (Seq.empty[Float], Double.NaN)
        case 2 => (Seq.empty[Float], -0.0)
        case 3 => (Seq.empty[Float], 0.0)
        case _ => (Seq((i % 7).toFloat - 3f, 1f), 0.0)       // ordinary cosines, tied
      }
      ((i % 29).toLong, i.toLong, emb, raw)
    } ++ Seq( // groups with fewer than k ordinary scores: NaN must sort last
      (100L, 1L, Seq.empty[Float], Double.NaN), (100L, 2L, Seq.empty[Float], -0.0),
      (100L, 3L, Seq.empty[Float], 0.0), (100L, 4L, Seq(0f, 0f), 0.0),
      (101L, 5L, Seq(0f, 0f), 0.0), (101L, 6L, Seq.empty[Float], 0.5))
    val df = rows.toDF("probe_id", "neighbor_id", "emb", "raw").repartition(8)
      .withColumn("sim",
        when(size($"emb") > 0, Ann.cosine($"emb", typedLit(Seq(1f, 0f)))).otherwise($"raw"))
    val ref = df.groupBy("probe_id")
      .agg(udaf(new TopKAgg(k)).apply($"sim", $"neighbor_id").as("top"))
    val nat = df.groupBy("probe_id")
      .agg(TopKRows.topK(k, $"sim", $"neighbor_id").as("top"))
    assert(nat.schema == ref.schema)
    // compare raw bits: `==` on doubles would equate ±0.0 and reject NaN
    def flat(d: org.apache.spark.sql.DataFrame) =
      d.select($"probe_id", posexplode($"top").as(Seq("i", "t")))
        .select($"probe_id", $"i", $"t._1".as("s"), $"t._2".as("id"))
        .as[(Long, Int, Double, Long)].collect()
        .map(r => (r._1, r._2, java.lang.Double.doubleToLongBits(r._3), r._4))
        .sortBy(r => (r._1, r._2)).toSeq
    val got = flat(nat)
    assert(got == flat(ref))
    def group(g: Long) = got.filter(_._1 == g).map(r => (r._3, r._4))
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    assert(group(100L) == Seq((bits(0.0), 3L), (bits(-0.0), 2L), (bits(Double.NaN), 1L)))
    assert(group(101L) == Seq((bits(0.5), 6L), (bits(Double.NaN), 5L)))
    // no group with k ordinary scores keeps a NaN in its top k
    assert(!got.exists(r => r._1 < 29 && r._3 == bits(Double.NaN)))
  }

  test("native kernels reject non-float arrays at analysis (no silent memory misread)") {
    // array<double> through getFloat would silently read garbage — the type
    // check must fail the query at analysis time instead
    val dbl = Seq((1L, Seq(0.5, 0.25))).toDF("vec_id", "embedding")
    intercept[org.apache.spark.sql.AnalysisException] {
      dbl.select(Ann.lshKeysColumn(dim = 2, tables = 1, bits = 4, seed = 1)($"embedding"))
        .collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      dbl.select(IvfIndex.assignColumn(Array(Array(0.0, 0.0), Array(1.0, 1.0)))($"embedding"))
        .collect()
    }
  }

  test("LSH top-k recall@3 ≥ 0.7 vs brute force; candidates only from shared buckets") {
    val probes = embs.where($"vec_id" < 50)
    val truth = Ann.bruteForceTopK(probes, embs, k = 3)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ann.lshTopK(probes, embs, k = 3, dim = 64, tables = 16, bits = 4)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = truth.intersect(approx).size.toDouble / truth.size
    assert(recall >= 0.7, s"recall@3=$recall")
  }

  test("IVF top-k recall@3 ≥ 0.7 vs brute force; deterministic across runs") {
    val probes = embs.where($"vec_id" < 50)
    val truth = Ann.bruteForceTopK(probes, embs, k = 3)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    def run() = Ann.ivfTopK(probes, embs, k = 3, dim = 64, nlist = 16, nprobe = 6)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val approx = run()
    val recall = truth.intersect(approx).size.toDouble / truth.size
    assert(recall >= 0.7, s"IVF recall@3=$recall")
    assert(run() == approx, "IVF not deterministic under fixed seed")
  }

  test("stored IVF layout: pruned probe ≡ inline ivfTopK; scan is partition-pruned") {
    val path = TestDirs.create("graft_ivf").toString
    val probes = embs.where($"vec_id" < 50)
    IvfIndex.write(embs, path, nlist = 16, seed = 42L)
    // posting lists physically partitioned by cell
    val cellDirs = new java.io.File(s"$path/posts").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.nonEmpty && cellDirs.forall(_.matches("cell=\\d+")))

    val stored = IvfIndex.probe(spark, path, probes, k = 3, nprobe = 6)
    val inline = Ann.ivfTopK(probes, embs, k = 3, dim = 64, nlist = 16, nprobe = 6)
    assert(stored.select($"probe_id", $"rank", $"neighbor_id")
      .as[(Long, Long, Long)].collect().toSet ==
      inline.select($"probe_id", $"rank", $"neighbor_id")
        .as[(Long, Long, Long)].collect().toSet,
      "stored-layout probe must return exactly the inline-assignment results")

    // the probe's scan must carry a partition filter on cell (pruned read);
    // sparkPlan, not executedPlan: AQE wraps the latter in an opaque node
    val scans = stored.queryExecution.sparkPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("posts")) => s }
    assert(scans.nonEmpty)
    scans.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "cell")),
        s"posting-list scan is not partition-pruned: ${s.partitionFilters}")
    }
  }

  test("cosineNearDups finds exact duplicates with sim≈1") {
    val e = embs.select($"vec_id", $"embedding").limit(100)
    val dup = e.select(($"vec_id" + 1000).as("vec_id"), $"embedding")
    val nd = Ann.cosineNearDups(e.unionByName(dup), dim = 64, threshold = 0.999)
    val pairs = nd.select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // every (i, i+1000) twin must be found: identical vectors always share all buckets
    (0L until 100L).foreach { i => assert(pairs.contains((i, i + 1000)), s"missing twin $i") }

    // bucket/pair-keyed exchanges must never carry an embedding column
    nd.queryExecution.executedPlan.collect {
      case ex: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        (ex.outputPartitioning.toString, ex.output.map(_.name))
    }.foreach { case (part, out) =>
      if (part.contains("bk") || (part.contains("id_a") && part.contains("id_b")))
        assert(!out.exists(n => n == "ea" || n == "eb" || n == "embedding"),
          s"embedding rides a candidate exchange: $part -> $out")
    }
  }

  test("quantized dot ranking ≈ cosine ranking on real embeddings (top-1 agreement)") {
    val probes = embs.where($"vec_id" < 20)
    val qd = Ann.quantizedDotTopK(probes, embs, k = 1)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    val bf = Ann.bruteForceTopK(probes, embs, k = 1)
      .select($"probe_id", $"neighbor_id").as[(Long, Long)].collect().toMap
    // dot vs cosine can disagree (norms differ) but should mostly align on
    // this corpus; require ≥60% agreement as a sanity bound
    val agree = qd.count { case (p, n) => bf(p) == n }
    assert(agree >= 12, s"only $agree/20 top-1 agreements")
  }
}
