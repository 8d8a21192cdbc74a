package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stored IVF (inverted-file) index — the 100 TB ANN scale path: the corpus
 * is written ONCE partitioned by its coarse-quantizer cell
 * (`partitionBy(cell)`, the posting-list layout), and a probe reads only its
 * `nprobe` nearest cells' partitions — nprobe/nlist of the data — via static
 * partition pruning (the probe cell set is at most `nlist` values, so the
 * isin pushdown is exact and tiny).
 *
 * The quantizer trains on a BOUNDED deterministic sample (hash-ordered
 * `limit(maxTrain)`, one pass over the corpus) — never on the full corpus at
 * query time: at scale the k-means iterations over 100 TB would dominate
 * every query (this was round-1's scale defect). The trained centers are
 * persisted with the posting lists, so probes never retrain.
 *
 * Same layout discipline as the `cell[r]`-partitioned doc table read by
 * [[graft.table.IcebergLite.readAoi]] (write-once partitioned table +
 * pruned probe read).
 */
object IvfIndex {

  /** Deterministic bounded training sample → k-means centers.
    * ONE pass over the corpus (hash-ordered take of ≤ maxTrain rows), then
    * Lloyd iterations run driver-local over the collected sample — the
    * FAISS posture: quantizer training is an in-memory problem once the
    * sample is bounded (100k × 64 dims ≈ 50 MB), and a local loop avoids
    * per-iteration distributed job overhead entirely. */
  def trainQuantizer(corpus: DataFrame, nlist: Int, seed: Long,
                     maxTrain: Int = 100000): Array[Array[Double]] = {
    val sample = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000)), col("vec_id"))
      .limit(maxTrain)
      .select(col("embedding").cast("array<double>"))
      .collect()
      .map(_.getAs[Seq[Double]](0).toArray)
    kmeansLocal(sample, nlist, iters = 10, seed = seed)
  }

  /** Seeded Lloyd k-means: distinct-sample-point init, fixed iterations,
    * nearest-center ties to the lower index, empty clusters keep their old
    * center — fully deterministic for a given sample order. */
  private[ann] def kmeansLocal(samples: Array[Array[Double]], k: Int,
                               iters: Int, seed: Long): Array[Array[Double]] = {
    require(samples.nonEmpty, "empty training sample")
    val dim = samples(0).length
    val rnd = new java.util.Random(seed)
    val init = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (init.size < math.min(k, samples.length)) init += rnd.nextInt(samples.length)
    var centers = init.toArray.map(samples(_).clone())

    def nearest(s: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < centers.length) {
        var d = 0.0; var i = 0
        val ctr = centers(c)
        while (i < dim) { val t = s(i) - ctr(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    var it = 0
    while (it < iters) {
      val sums = Array.ofDim[Double](centers.length, dim)
      val counts = new Array[Long](centers.length)
      samples.foreach { s =>
        val c = nearest(s)
        var i = 0
        while (i < dim) { sums(c)(i) += s(i); i += 1 }
        counts(c) += 1
      }
      centers = Array.tabulate(centers.length) { c =>
        if (counts(c) == 0) centers(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
      it += 1
    }
    centers
  }

  /** [[assignUdf]] as a native codegen'd Column ([[IvfCellAssign]] — no Seq
    * boxing on the full-corpus assignment path; AnnSpec proves ≡ UDF). */
  def assignColumn(centers: Array[Array[Double]])(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(IvfCellAssign(new IvfCenters(centers), GraftShims.expression(e)))
  }

  /** Nearest-center cell id of an embedding (squared-L2, ties to the lower
    * cell index — deterministic). */
  def assignUdf(centers: Array[Array[Double]]) = udf { (e: Seq[Float]) =>
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centers.length) {
      var d = 0.0; var i = 0
      val ctr = centers(c)
      while (i < e.length) { val t = e(i) - ctr(i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `nprobe` nearest cells of a probe embedding (distance, then cell id
    * — deterministic order). */
  def probeCellsUdf(centers: Array[Array[Double]], nprobe: Int) = udf { (e: Seq[Float]) =>
    centers.indices.map { c =>
      var d = 0.0; var i = 0
      val ctr = centers(c)
      while (i < e.length) { val t = e(i) - ctr(i); d += t * t; i += 1 }
      (d, c)
    }.sortBy(identity).take(nprobe).map(_._2)
  }

  /** Build + persist the index: train on a sample, assign every corpus row
    * to its cell, write posting lists `partitionBy(cell)` plus the centers
    * table. Returns the centers. */
  def write(corpus: DataFrame, path: String, nlist: Int = 16,
            seed: Long = 42L, maxTrain: Int = 100000): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    val centers = trainQuantizer(corpus, nlist, seed, maxTrain)
    postings(corpus, centers).write.mode("overwrite").partitionBy("cell").parquet(s"$path/posts")
    import spark.implicits._
    centers.zipWithIndex.map { case (ctr, c) => (c, ctr.toSeq) }.toSeq
      .toDF("cell", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
    centers
  }

  def readCenters(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centers")
      .orderBy("cell")
      .collect()
      .map(_.getAs[Seq[Double]]("center").toArray)

  /** Corpus rows as posting-list entries (neighbor_id, ce, cell). */
  private[ann] def postings(corpus: DataFrame, centers: Array[Array[Double]]): DataFrame =
    Ann.corpusSide(corpus).withColumn("cell", assignColumn(centers)(col("ce")))

  /** The one IVF probe, stored or inline: each probe fans out to its
    * `nprobe` nearest cells and joins the posting lists on cell, then exact
    * cosine re-rank and top-k. `posts` gets the broadcast probe cells and
    * yields (neighbor_id, ce, cell) rows. Every corpus row sits in exactly
    * ONE cell, so the cell join yields a (probe, neighbor) pair at most
    * once: no dedup exchange, and [[TopKRows]] combines map-side straight
    * off the join. */
  private[ann] def probeTopK(probes: DataFrame, centers: Array[Array[Double]], k: Int,
                             nprobe: Int)(posts: DataFrame => DataFrame): DataFrame = {
    val p = broadcast(Ann.probeSide(probes)
      .withColumn("cell", explode(probeCellsUdf(centers, nprobe)(col("pe")))))
    Ann.topKPerProbe(Ann.cosineCandidates(posts(p).join(p, Seq("cell"))), "sim", k)
  }

  /**
   * Probe the stored index: [[probeTopK]] over a posting-list read pruned
   * to exactly the probed cells (`cell` is the physical partition column
   * and the filter is a ≤ nlist literal isin — provably static pruning, no
   * full scan).
   */
  def probe(spark: SparkSession, path: String, probes: DataFrame, k: Int,
            nprobe: Int = 4): DataFrame =
    probeTopK(probes, readCenters(spark, path), k, nprobe) { p =>
      // the probe cell set is bounded by nlist — collect it and push a
      // literal partition filter (static pruning; DPP not required)
      val cells = p.select("cell").distinct().collect().map(_.getInt(0)).sorted
      spark.read.parquet(s"$path/posts").where(col("cell").isin(cells.map(Integer.valueOf): _*))
    }
}
