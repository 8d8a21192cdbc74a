package graft.ml

import graft.{SparkTestSession, TestDirs}
import org.apache.spark.ml.attribute.{Attribute, AttributeGroup, NominalAttribute}
import org.apache.spark.ml.classification.{RandomForestClassificationModel, RandomForestClassifier}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[RfForest.fromModel]]'s in-memory tree walk against the forest as
  * spark.ml's own persisted format gives it ([[RfForestSpec.exported]]), on
  * the forests `ml_water` trains, and its refusal of split kinds that
  * `feature <= threshold` cannot express. */
class RfForestSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bits(a: Array[Array[Double]]) =
    a.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq
  private def ints(a: Array[Array[Int]]) = a.map(_.toSeq).toSeq

  for (sf <- Seq("sf0.001", "sf0.01"))
    test(s"walk ≡ export on the ml_water forest of $sf: every array equal, doubles bit-equal") {
      val model = graft.MLQueries.waterModel(spark, s"/root/testdata/$sf")
      val walk = RfForest.fromModel(model)
      val ref = RfForestSpec.exported(spark, model)
      assert(walk.feature.length == model.getNumTrees)
      assert(ints(walk.feature) == ints(ref.feature))
      assert(bits(walk.threshold) == bits(ref.threshold))
      assert(ints(walk.left) == ints(ref.left))
      assert(ints(walk.right) == ints(ref.right))
      assert(bits(walk.p0) == bits(ref.p0))
      assert(bits(walk.p1) == bits(ref.p1))
    }

  test("a categorical split throws, naming the tree, the node and the split kind") {
    // one nominal feature with 4 categories; label = category is 0 or 2, so
    // every split the forest can make is a CategoricalSplit
    val cat = NominalAttribute.defaultAttr.withName("cat").withNumValues(4)
    val meta = new AttributeGroup("features", Array[Attribute](cat)).toMetadata()
    val df = (0 until 400).map { i =>
      val c = (i % 4).toDouble
      (if (c == 0.0 || c == 2.0) 1.0 else 0.0, Vectors.dense(c))
    }.toDF("label", "features").withColumn("features", col("features").as("features", meta))
    val model = new RandomForestClassifier().setNumTrees(2).setMaxDepth(3)
      .setFeatureSubsetStrategy("all").setSeed(1L).fit(df)
    val e = intercept[IllegalArgumentException](RfForest.fromModel(model))
    assert(e.getMessage.contains("tree 0 node 0") && e.getMessage.contains("CategoricalSplit"),
      e.getMessage)
  }
}

object RfForestSpec {
  /** The reference: `model.write` into a temp dir, `data/` (one row per
    * (treeID, nodeData)) read back and encoded into [[RfForest]]'s arrays,
    * with leaf contributions `c / ((0.0 + c0) + c1)` (0/0 → 0.0). Reads
    * continuous splits only: a categorical split's first category would
    * come back as its threshold. */
  def exported(spark: SparkSession, model: RandomForestClassificationModel): RfForest = {
    val tmp = TestDirs.create("graft_rf_export")
    try {
      model.write.overwrite().save(tmp.toString)
      val rows = spark.read.parquet(s"$tmp/data")
        .select(col("treeID"), col("nodeData.id"), col("nodeData.impurityStats"),
          col("nodeData.leftChild"), col("nodeData.rightChild"),
          col("nodeData.split.featureIndex"),
          col("nodeData.split.leftCategoriesOrThreshold"))
        .collect()
      val enc = rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, ns) =>
        val n = ns.map(_.getInt(1)).max + 1
        val fe = new Array[Int](n); val th = new Array[Double](n)
        val lf = Array.fill(n)(-1); val rt = Array.fill(n)(-1)
        val a0 = new Array[Double](n); val a1 = new Array[Double](n)
        ns.foreach { r =>
          val id = r.getInt(1)
          val stats = r.getAs[scala.collection.Seq[Double]](2)
          val thr = r.getAs[scala.collection.Seq[Double]](6)
          fe(id) = r.getInt(5); th(id) = if (thr.nonEmpty) thr.head else 0.0
          lf(id) = r.getInt(3); rt(id) = r.getInt(4)
          val total = (0.0 + stats(0)) + stats(1)
          a0(id) = if (total == 0.0) 0.0 else stats(0) / total
          a1(id) = if (total == 0.0) 0.0 else stats(1) / total
        }
        (fe, th, lf, rt, a0, a1)
      }.toArray
      new RfForest(enc.map(_._1), enc.map(_._2), enc.map(_._3),
        enc.map(_._4), enc.map(_._5), enc.map(_._6))
    } finally graft.Fs.deleteRecursively(tmp)
  }
}
