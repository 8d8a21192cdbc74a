package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`Array[Float]`).
 *
 *  - [[bruteForceTopK]]: exact top-k, probes broadcast against the corpus —
 *    the baseline. Dot/cosine is pure `zip_with`/`aggregate` Column algebra
 *    (codegen, no UDF).
 *  - [[quantizedDotTopK]]: rank by ⌊1024·e⌋ integer dot product — exact
 *    integer arithmetic, order-independent, hence DuckDB-oracle-checkable.
 *  - [[lshTopK]]: random-hyperplane LSH — sign-bit bucket key, candidates
 *    from same bucket (multi-probe over `tables` independent hash tables),
 *    exact re-rank among candidates. The 100 TB scale path: candidate
 *    generation is an equi-join on (table, bucket), no cross join.
 */
object Ann {

  /** Σ aᵢ·bᵢ in double (codegen'd fold — no UDF). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double")))

  /** Column-algebra cosine — the reference form [[cosine]] is parity-locked
    * against (AnnSpec); kept for that check and for non-float arrays. */
  private[ann] def cosineCols(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact cosine over float embeddings — the native [[CosineSim]] kernel
    * (no per-pair intermediate array; see SimExpr scaladoc). */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(CosineSim(GraftShims.expression(a), GraftShims.expression(b)))
  }

  /** Column-algebra quantized dot (parity reference for [[quantizedDot]]). */
  private[ann] def quantizedDotCols(a: Column, b: Column): Column =
    aggregate(zip_with(a, b,
      (x, y) => floor(x.cast("double") * 1024) * floor(y.cast("double") * 1024)),
      lit(0L), (acc, v) => acc + v)

  /** Quantized integer dot: Σ ⌊1024·aᵢ⌋·⌊1024·bᵢ⌋ — native [[QuantizedDot]]. */
  def quantizedDot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(QuantizedDot(GraftShims.expression(a), GraftShims.expression(b)))
  }

  /** Symmetric int8 quantization: clamp(⌊127·x + 0.5⌋, −127, 127) — the
    * STORED embedding form that shrinks a float32 corpus 4× (the lever
    * that turns a 100 TB embedding store into 25 TB and quadruples
    * cache-resident corpus per executor). ⌊·+0.5⌋ instead of round():
    * identical IEEE double ops on both engines, so the oracle is bit-exact
    * without depending on a half-even-vs-half-up rounding convention. */
  def quantizeI8(e: Column): Column =
    transform(e, x =>
      greatest(lit(-127.0), least(lit(127.0), floor(x.cast("double") * 127 + 0.5)))
        .cast("tinyint"))

  /** Column-algebra int8 dot (parity reference for [[i8Dot]]). */
  private[ann] def i8DotCols(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("int") * y.cast("int")),
      lit(0), (acc, v) => acc + v)

  /** Exact integer dot over stored-int8 embeddings (widen per element —
    * 127²·dim fits int32 far beyond any real dim) — native [[I8Dot]]
    * kernel: no dim-sized intermediate array per candidate pair. */
  def i8Dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(I8Dot(GraftShims.expression(a), GraftShims.expression(b)))
  }

  /** Top-k by stored-int8 dot: the corpus is quantized ONCE (in production:
    * written as the array<tinyint> storage column), probes broadcast, and
    * candidates reduced map-side by [[TopKRows]] like every ANN path. */
  def i8TopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("probe_id"),
      quantizeI8(col("embedding")).as("pq")))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      quantizeI8(col("embedding")).as("cq"))
    explodeTopK(
      c.join(p, col("probe_id") =!= col("neighbor_id"))
        .withColumn("dot", i8Dot(col("pq"), col("cq")).cast("double"))
        .groupBy("probe_id").agg(TopKRows.topK(k, col("dot"), col("neighbor_id")).as("top")),
      "dot")
      .withColumn("dot", col("dot").cast("long"))
  }

  /** Unpack a [[TopKRows]] result column into (rank, neighbor_id, score) rows. */
  private[ann] def explodeTopKPairs(df: DataFrame, scoreName: String): DataFrame =
    explodeTopK(df, scoreName)

  private def explodeTopK(df: DataFrame, scoreName: String): DataFrame =
    df.select(col("probe_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("probe_id"), (col("i") + 1).cast("long").as("rank"),
        col("t._2").as("neighbor_id"), col("t._1").as(scoreName))

  /** Exact cosine top-k of each probe against the corpus. Probes must be
    * small (broadcast); the corpus side is reduced MAP-SIDE to k candidates
    * per probe per partition by [[TopKRows]], so the only shuffle carries
    * k·|probes| rows per partition — not |corpus|·|probes|. */
  def bruteForceTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    explodeTopK(
      c.join(p, col("probe_id") =!= col("neighbor_id")) // all pairs except self
        .withColumn("sim", cosine(col("pe"), col("ce")))
        .groupBy("probe_id").agg(TopKRows.topK(k, col("sim"), col("neighbor_id")).as("top")),
      "sim")
  }

  /** Exact quantized-dot top-k (the oracle-checked variant). Quantized dots
    * are ≤ 64·1024² in magnitude — exactly representable as Double in the
    * aggregator's score slot. */
  def quantizedDotTopK(probes: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val p = broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe")))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    explodeTopK(
      c.join(p, col("probe_id") =!= col("neighbor_id"))
        .withColumn("dot", quantizedDot(col("pe"), col("ce")))
        .groupBy("probe_id").agg(TopKRows.topK(k, col("dot"), col("neighbor_id")).as("top")),
      "dot")
      .withColumn("dot", col("dot").cast("long"))
  }

  /** Deterministic random hyperplanes: `tables` × `bitsPerTable` planes of
    * dimension `dim`, seeded — broadcast as a literal. */
  private def hyperplanes(dim: Int, tables: Int, bits: Int, seed: Long): Array[Array[Array[Double]]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(tables, bits, dim)(rnd.nextGaussian())
  }

  /** Bucket keys as a Column — the native [[LshBucketKeys]] expression
    * (no Seq boxing; see its scaladoc). [[lshBucketUdf]] is the reference
    * implementation AnnSpec cross-checks against. */
  def lshKeysColumn(dim: Int, tables: Int, bits: Int, seed: Long)(e: Column): Column = {
    import org.apache.spark.sql.GraftShims
    GraftShims.column(LshBucketKeys(new LshPlanes(hyperplanes(dim, tables, bits, seed)),
      GraftShims.expression(e)))
  }

  def lshBucketUdf(dim: Int, tables: Int, bits: Int, seed: Long) = {
    val planes = hyperplanes(dim, tables, bits, seed)
    udf((emb: Seq[Float]) => {
      (0 until tables).map { t =>
        var key = 0L
        var b = 0
        while (b < bits) {
          var s = 0.0
          var i = 0
          val pl = planes(t)(b)
          while (i < dim) { s += pl(i) * emb(i); i += 1 }
          if (s >= 0) key |= (1L << b)
          b += 1
        }
        key
      }.toArray
    })
  }

  // ---------------- DuckDB oracle renderings ----------------
  //
  // The LSH family is deterministic given the seed: hyperplanes come from a
  // seeded Gaussian stream, bucket keys are sign bits of plane·embedding
  // dots, and the re-rank is plain float arithmetic. Emitting the plane
  // constants as literals and folding every dot LEFT-ASSOCIATIVELY (the
  // exact accumulation order of the Scala loops and of Spark's `aggregate`)
  // makes the whole operator — candidate generation AND ranking — bit-exact
  // in DuckDB.

  /** Left-assoc SQL fold matching `s = 0.0; s += term(i)` — identical op
    * order ⇒ identical IEEE doubles. */
  private def foldSql(terms: Seq[String]): String =
    terms.foldLeft("0.0")((acc, t) => s"($acc + $t)")

  /** SQL for [[cosine]] of two float-array columns: ordered dot fold over
    * per-element double casts, divided by the product of ordered-norm sqrts
    * — op-for-op the Column form. */
  def cosineSql(a: String, b: String, dim: Int): String = {
    val dot = foldSql((1 to dim).map(i => s"cast($a[$i] AS double) * cast($b[$i] AS double)"))
    val na = s"sqrt(${foldSql((1 to dim).map(i => s"cast($a[$i] AS double) * cast($a[$i] AS double)"))})"
    val nb = s"sqrt(${foldSql((1 to dim).map(i => s"cast($b[$i] AS double) * cast($b[$i] AS double)"))})"
    s"($dot / ($na * $nb))"
  }

  /** Per-table LSH bucket-key SQL over embedding column `e` — the seeded
    * hyperplanes of [[lshBucketUdf]] emitted as literals; sign rule `>= 0`
    * and bit weights identical. */
  def lshKeySqls(dim: Int, tables: Int, bits: Int, seed: Long, e: String): Seq[String] = {
    val planes = hyperplanes(dim, tables, bits, seed)
    (0 until tables).map { t =>
      (0 until bits).map { b =>
        val dot = foldSql((0 until dim).map(i =>
          s"(${planes(t)(b)(i)}) * cast($e[${i + 1}] AS double)"))
        s"CASE WHEN $dot >= 0 THEN ${1L << b} ELSE 0 END"
      }.mkString("(", " + ", ")")
    }
  }

  /** DuckDB twin of [[lshTopK]]: `corpusSql` yields (vec_id, embedding);
    * probes are the rows satisfying `probePred`. */
  def lshOracleSql(corpusSql: String, probePred: String, k: Int, dim: Int,
                   tables: Int, bits: Int, seed: Long = 42L): String = {
    val keys = lshKeySqls(dim, tables, bits, seed, "embedding")
      .zipWithIndex.map { case (kk, t) => s"$kk AS k$t" }.mkString(",\n       ")
    val ks = (0 until tables).map(t => s"k$t").mkString("[", ", ", "]")
    s"""WITH e AS MATERIALIZED ($corpusSql),
       |keys AS MATERIALIZED (SELECT vec_id,
       |       $keys
       |       FROM e),
       |kt AS (SELECT vec_id, t, $ks[cast(t AS int) + 1] AS bk
       |       FROM keys CROSS JOIN range(0, $tables) AS u(t)),
       |cand AS (SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS neighbor_id
       |         FROM kt p JOIN kt c ON p.t = c.t AND p.bk = c.bk
       |         WHERE ${probePred.replace("vec_id", "p.vec_id")} AND p.vec_id <> c.vec_id),
       |sims AS (SELECT cd.probe_id, cd.neighbor_id,
       |                ${cosineSql("pe.embedding", "ce.embedding", dim)} AS sim
       |         FROM cand cd JOIN e pe ON pe.vec_id = cd.probe_id
       |                      JOIN e ce ON ce.vec_id = cd.neighbor_id)
       |SELECT probe_id, cast(rank AS bigint) AS rank, neighbor_id, sim FROM (
       |  SELECT probe_id, neighbor_id, sim,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM sims) WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of [[cosineNearDups]]. */
  def nearDupOracleSql(corpusSql: String, dim: Int, threshold: Double,
                       tables: Int, bits: Int, seed: Long = 42L): String = {
    val keys = lshKeySqls(dim, tables, bits, seed, "embedding")
      .zipWithIndex.map { case (kk, t) => s"$kk AS k$t" }.mkString(",\n       ")
    val ks = (0 until tables).map(t => s"k$t").mkString("[", ", ", "]")
    s"""WITH e AS MATERIALIZED ($corpusSql),
       |keys AS MATERIALIZED (SELECT vec_id,
       |       $keys
       |       FROM e),
       |kt AS (SELECT vec_id, t, $ks[cast(t AS int) + 1] AS bk
       |       FROM keys CROSS JOIN range(0, $tables) AS u(t)),
       |cand AS (SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
       |         FROM kt l JOIN kt r ON l.t = r.t AND l.bk = r.bk AND l.vec_id < r.vec_id),
       |sims AS (SELECT c.id_a, c.id_b,
       |                ${cosineSql("a.embedding", "b.embedding", dim)} AS sim
       |         FROM cand c JOIN e a ON a.vec_id = c.id_a JOIN e b ON b.vec_id = c.id_b)
       |SELECT id_a, id_b, sim FROM sims WHERE sim >= $threshold""".stripMargin
  }

  /** DuckDB twin of [[ivfTopK]]: the trained quantizer centers (themselves
    * deterministic — hash-ordered bounded sample + seeded driver-local
    * Lloyd) emitted as literals; cell assignment = argmin over the
    * left-assoc squared-L2 folds (ties → lower cell, exactly
    * [[IvfIndex.assignUdf]]); probe cells = the `nprobe` nearest
    * (ties → lower cell, exactly [[IvfIndex.probeCellsUdf]]); candidates
    * from the pruned cells; exact [[cosineSql]] re-rank. */
  def ivfOracleSql(corpusSql: String, probePred: String, k: Int, dim: Int,
                   centers: Array[Array[Double]], nprobe: Int): String = {
    val n = centers.length
    val dists = centers.zipWithIndex.map { case (ctr, c) =>
      val fold = foldSql((0 until dim).map { i =>
        val t = s"(cast(embedding[${i + 1}] AS double) - (${ctr(i)}))"
        s"($t * $t)"
      })
      s"$fold AS d$c"
    }.mkString(",\n       ")
    val dcase = (0 until n).map(c => s"WHEN $c THEN d$c").mkString("CASE cell ", " ", " END")
    s"""WITH e AS MATERIALIZED ($corpusSql),
       |dist0 AS MATERIALIZED (SELECT vec_id,
       |       $dists
       |       FROM e),
       |dist AS (SELECT vec_id, cell, $dcase AS d
       |         FROM dist0 CROSS JOIN range(0, $n) AS u(cell)),
       |rk AS (SELECT vec_id, cell,
       |              row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
       |       FROM dist),
       |assign AS (SELECT vec_id, cell FROM rk WHERE rn = 1),
       |pcells AS (SELECT vec_id, cell FROM rk WHERE rn <= $nprobe AND ($probePred)),
       |cand AS (SELECT p.vec_id AS probe_id, a.vec_id AS neighbor_id
       |         FROM pcells p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.vec_id),
       |sims AS (SELECT cd.probe_id, cd.neighbor_id,
       |                ${cosineSql("pe.embedding", "ce.embedding", dim)} AS sim
       |         FROM cand cd JOIN e pe ON pe.vec_id = cd.probe_id
       |                      JOIN e ce ON ce.vec_id = cd.neighbor_id)
       |SELECT probe_id, cast(rank AS bigint) AS rank, neighbor_id, sim FROM (
       |  SELECT probe_id, neighbor_id, sim,
       |         row_number() OVER (PARTITION BY probe_id
       |                            ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM sims) WHERE rank <= $k""".stripMargin
  }

  /**
   * Approximate top-k: candidates share an LSH bucket in ≥1 of `tables`
   * hash tables; exact cosine re-rank on candidates. Recall measured in
   * AnnSpec against [[bruteForceTopK]].
   */
  def lshTopK(probes: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              tables: Int = 8, bits: Int = 8, seed: Long = 42L): DataFrame = {
    val bu = lshKeysColumn(dim, tables, bits, seed) _
    val p = broadcast(probes
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .withColumn("bks", bu(col("pe")))
      .select(col("probe_id"), col("pe"), posexplode(col("bks")).as(Seq("t", "bk"))))
    val c = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .withColumn("bks", bu(col("ce")))
      .select(col("neighbor_id"), col("ce"), posexplode(col("bks")).as(Seq("t", "bk")))
    explodeTopK(
      c.join(p, Seq("t", "bk"))
        .where(col("probe_id") =!= col("neighbor_id"))
        // sim computed MAP-SIDE (before the dedup shuffle): a multi-table hit
        // recomputes a 64-dim cosine (~100 ns) instead of shipping two
        // 256-byte embeddings through the exchange — the shuffle payload is
        // (probe_id, neighbor_id, sim) only.
        .withColumn("sim", cosine(col("pe"), col("ce")))
        .groupBy(col("probe_id"), col("neighbor_id")) // dedup multi-table hits
        .agg(first(col("sim")).as("sim"))
        .groupBy("probe_id").agg(TopKRows.topK(k, col("sim"), col("neighbor_id")).as("top")),
      "sim")
  }

  /**
   * IVF (inverted-file) ANN, inline form: a k-means coarse quantizer trained
   * on a BOUNDED deterministic sample ([[IvfIndex.trainQuantizer]] — never
   * the full corpus at query time) partitions the corpus into `nlist` cells;
   * each probe searches only its `nprobe` nearest cells' posting lists
   * (equi-join on cell id), exact cosine re-rank via [[TopKRows]].
   *
   * At 100 TB use the STORED form ([[IvfIndex.write]] / [[IvfIndex.probe]]):
   * posting lists written once `partitionBy(cell)` with the centers, probes
   * read only the pruned partitions. This inline form assigns cells on the
   * fly (one corpus pass) for corpora that are not indexed yet; the two
   * agree exactly (AnnSpec).
   */
  def ivfTopK(probes: DataFrame, corpus: DataFrame, k: Int, dim: Int,
              nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
              maxTrain: Int = 100000): DataFrame = {
    val centers = IvfIndex.trainQuantizer(corpus, nlist, seed, maxTrain)
    val posts = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .withColumn("cell", IvfIndex.assignColumn(centers)(col("ce")))
    val p = broadcast(probes.select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      .withColumn("cell", explode(IvfIndex.probeCellsUdf(centers, nprobe)(col("pe")))))
    // no per-pair dedup stage: every corpus row is assigned to exactly ONE
    // cell, so the cell equi-join can produce a given (probe, neighbor)
    // pair at most once — the former groupBy(probe_id, neighbor_id) was a
    // full exchange of the candidate set for nothing. TopKRows now combines
    // map-side straight off the join (k rows per probe cross the shuffle).
    explodeTopK(
      posts.join(p, Seq("cell"))
        .where(col("probe_id") =!= col("neighbor_id"))
        .withColumn("sim", cosine(col("pe"), col("ce")))
        .groupBy("probe_id").agg(TopKRows.topK(k, col("sim"), col("neighbor_id")).as("top")),
      "sim")
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets + threshold.
    * Same shuffle discipline as the MinHash candidate join: the bucket
    * self-join carries (t, bk, id) ONLY — never the embeddings (which would
    * otherwise cross the exchange ×tables on both sides); candidate pairs
    * dedup ids-only, then embeddings hash-join back BY ID (once per side)
    * for the exact-cosine verify. At a high threshold the surviving
    * candidate set is dup-sized, so the ids-only exchange is tiny. */
  def cosineNearDups(df: DataFrame, dim: Int, threshold: Double,
                     tables: Int = 8, bits: Int = 10, seed: Long = 42L): DataFrame = {
    val e = df.select(col("vec_id"), col("embedding"))
    val bu = lshKeysColumn(dim, tables, bits, seed) _
    val bucketed = e.withColumn("bks", bu(col("embedding")))
      .select(col("vec_id"), posexplode(col("bks")).as(Seq("t", "bk")))
    val l = bucketed.select(col("t"), col("bk"), col("vec_id").as("id_a"))
    val r = bucketed.select(col("t"), col("bk"), col("vec_id").as("id_b"))
    val cand = l.join(r, Seq("t", "bk"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__nt")).drop("__nt")
    cand
      .join(e.select(col("vec_id").as("id_a"), col("embedding").as("ea")), Seq("id_a"))
      .join(e.select(col("vec_id").as("id_b"), col("embedding").as("eb")), Seq("id_b"))
      .withColumn("sim", cosine(col("ea"), col("eb")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }
}
