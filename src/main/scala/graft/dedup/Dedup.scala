package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for the training-data pipeline, each designed for
 * the 10^12-doc posture:
 *
 *  - exact / normalized dedup: ONE shuffle on a fixed-width md5 key (never
 *    on the raw text — shuffle volume is 16 bytes/doc + ids)
 *  - MinHash + LSH banding: signatures map-side; candidate generation is a
 *    self-equi-join on (band_id, band_hash) buckets; exact Jaccard verify
 *    only on candidates — the classic shingle→minhash→band→bucket-join
 *  - SimHash: 64-bit signature, near-dup = hamming distance ≤ r via
 *    probe-table of bit-chunk keys
 *  - embedding cosine near-dup via random-hyperplane LSH (see graft.ann.Ann)
 */
object Dedup {

  /** Exact dedup: canonical doc per identical text. Returns
    * (key, keeper_id, n_copies). */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("key"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Word-order-insensitive (normalized token multiset) dedup key. */
  def normalizedKey(text: Column): Column =
    md5(concat_ws(",", array_sort(split(text, " "))).cast("binary"))

  def normalized(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(normalizedKey(col(textCol)).as("key"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  // ---------------- MinHash + LSH ----------------

  /** Character shingles of length q as 64-bit FNV hashes. */
  def shingles(text: String, q: Int): Array[Long] = {
    if (text == null || text.length < q) return Array.empty
    val out = new Array[Long](text.length - q + 1)
    var i = 0
    while (i + q <= text.length) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + q) { h ^= text.charAt(j); h *= 0x100000001b3L; j += 1 }
      out(i) = h
      i += 1
    }
    out.distinct
  }

  /** The k universal-hash permutation constants (a_i odd, b_i), drawn from
    * one seeded stream — the SAME stream [[minhashOracleSql]] renders as
    * SQL literals. */
  def minhashPerms(k: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new java.util.Random(seed)
    Array.fill(k)((rnd.nextLong() | 1L, rnd.nextLong()))
  }

  /** MinHash signature with k universal-hash permutations h_i(x)=a_i*x+b_i. */
  def minhash(text: String, q: Int, k: Int, seed: Long): Array[Long] =
    minhashWithPerms(text, q, minhashPerms(k, seed))

  private def minhashWithPerms(text: String, q: Int, perms: Array[(Long, Long)]): Array[Long] = {
    val sh = shingles(text, q)
    val sig = Array.fill(perms.length)(Long.MaxValue)
    if (sh.isEmpty) return sig
    var i = 0
    while (i < perms.length) {
      val (a, b) = perms(i)
      var m = Long.MaxValue
      var j = 0
      while (j < sh.length) {
        val v = a * sh(j) + b
        if (v < m) m = v
        j += 1
      }
      sig(i) = m
      i += 1
    }
    sig
  }

  /** Permutation constants hoisted into the closure — built once per task
    * deserialization, not per row. */
  def minhashUdf(q: Int, k: Int, seed: Long) = {
    val perms = minhashPerms(k, seed)
    udf((text: String) => minhashWithPerms(text, q, perms))
  }

  /** Exact q-gram Jaccard (verify stage; also a standalone near-dup op). */
  def jaccard(a: String, b: String, q: Int): Double = {
    val sa = shingles(a, q).toSet
    val sb = shingles(b, q).toSet
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      val inter = sa.intersect(sb).size
      inter.toDouble / (sa.size + sb.size - inter)
    }
  }
  def jaccardUdf(q: Int) = udf((a: String, b: String) => jaccard(a, b, q))

  /**
   * MinHash-LSH near-duplicate pairs with exact-Jaccard verification.
   * bands×rowsPerBand = signature length. Emits (id_a, id_b, jaccard) with
   * id_a < id_b, jaccard ≥ threshold.
   *
   * 100 TB shuffle discipline (this is the scale-critical part):
   *  - the banded self-join carries ONLY (id, band, 4-long band slice) —
   *    44 bytes/row — never the document text; joining on the slice values
   *    themselves (not a hash of them) keeps candidate generation exact,
   *    hence DuckDB-oracle-checkable;
   *  - cross-band dedup is a groupBy on (id_a, id_b) — ids only;
   *  - texts are hash-joined back BY ID for the exact-Jaccard verify, so
   *    each text crosses an exchange at most once, keyed by id, instead of
   *    once per band through the candidate join.
   */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      q: Int = 5, bands: Int = 8, rowsPerBand: Int = 4,
                      threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    val ids = df.select(col(idCol).as("id"), col(textCol).as("text"))
    val cand = minhashCandidates(ids, q, bands, rowsPerBand, seed)
    cand
      .join(ids.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(ids.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .withColumn("jaccard", jaccardUdf(q)(col("text_a"), col("text_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Candidate (id_a, id_b) pairs sharing ≥1 identical signature band —
    * text-free by construction.
    *
    * Docs with NO q-shingles (null text or length < q) are excluded up
    * front: they would all share the identical all-MaxValue signature and
    * the band self-join would form an O(m²) clique of every short doc —
    * quadratic on real corpora, where empty docs are common. Semantics
    * (shared with [[minhashOracleSql]], which drops shingle-less docs by
    * construction, and with [[bruteForceNearDups]]): a doc with no shingles
    * has no defined q-gram similarity and is never a near-dup candidate. */
  private[dedup] def minhashCandidates(ids: DataFrame, q: Int, bands: Int,
                                       rowsPerBand: Int, seed: Long): DataFrame = {
    val k = bands * rowsPerBand
    val banded = ids
      .where(col("text").isNotNull && length(col("text")) >= q) // ⇔ shingles non-empty
      .select(col("id"), minhashUdf(q, k, seed)(col("text")).as("sig"))
      .select(col("id"), explode(sequence(lit(0), lit(bands - 1))).as("band"), col("sig"))
      .select(col("id"), col("band"),
        slice(col("sig"), col("band") * rowsPerBand + 1, lit(rowsPerBand)).as("bslice"))
    bucketPairs(banded, "id", Seq("band", "bslice"))
  }

  /** Candidate (id_a, id_b) pairs, id_a < id_b, of rows sharing ≥1 bucket:
    * the bucket self-join of the MinHash and embedding-LSH near-dup paths.
    * Both sides carry only the bucket `keys` and `idCol`, and pairs hit in
    * several buckets dedup ids-only. */
  private[graft] def bucketPairs(bucketed: DataFrame, idCol: String, keys: Seq[String]): DataFrame = {
    val l = bucketed.select(keys.map(col) :+ col(idCol).as("id_a"): _*)
    val r = bucketed.select(keys.map(col) :+ col(idCol).as("id_b"): _*)
    l.join(r, keys)
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b") // dedup multi-bucket hits: ids-only shuffle
      .agg(count(lit(1)).as("__n"))
      .drop("__n")
  }

  // ---------------- DuckDB oracle renderings ----------------
  //
  // The sketches are deterministic integer arithmetic (FNV-1a shingles,
  // seeded universal-hash permutations, SimHash bit votes), so the ENTIRE
  // operator — signature, banding, candidate join, exact verify — has an
  // ANSI-SQL twin. 64-bit wraparound is emulated in hugeint (128-bit) with
  // an explicit mod-2^64 fold back to signed; comparisons then agree with
  // JVM signed-long semantics bit for bit.

  /** SQL for 64-bit wraparound of a hugeint expression, folded to signed. */
  private def wrapSql(e: String): String = {
    val M = "18446744073709551616::hugeint"
    val m = s"((($e) % $M) + $M) % $M"
    s"cast((CASE WHEN $m >= 9223372036854775808::hugeint THEN $m - $M ELSE $m END) AS bigint)"
  }

  private val FnvInit = "(-3750763034362895579)::bigint" // 0xcbf29ce484222325
  private val FnvPrime = "1099511628211::hugeint"        // 0x100000001b3

  /** DuckDB twin of [[minhashNearDups]] over `corpusSql` (a SELECT yielding
    * (doc_id, text)). Permutation constants are drawn from the SAME seeded
    * stream as [[minhash]] and emitted as literals. */
  def minhashOracleSql(corpusSql: String, q: Int = 5, bands: Int = 8,
                       rowsPerBand: Int = 4, threshold: Double = 0.5,
                       seed: Long = 42L): String = {
    val k = bands * rowsPerBand
    val permValues = minhashPerms(k, seed).zipWithIndex.map { case ((a, b), i) =>
      s"($i, ($a)::hugeint, ($b)::hugeint)"
    }.mkString(",\n    ")
    // FNV-1a over the q characters of each shingle, one CTE per step
    val fnvSteps = (1 to q).map { j =>
      val prev = if (j == 1) "g0" else s"g${j - 1}"
      s"g$j AS (SELECT doc_id, g, ${wrapSql(s"(xor(h, ascii(substring(g, $j, 1))))::hugeint * $FnvPrime")} AS h FROM $prev)"
    }.mkString(",\n")
    s"""WITH d2 AS ($corpusSql),
       |gr AS (SELECT doc_id, text, unnest(generate_series(1, length(text) - ${q - 1})) AS i FROM d2),
       |g0 AS (SELECT doc_id, substring(text, i, $q) AS g, $FnvInit AS h FROM gr),
       |$fnvSteps,
       |hashed AS (SELECT DISTINCT doc_id, h AS x FROM g$q),
       |perms(pi, pa, pb) AS (VALUES
       |    $permValues),
       |pv AS (SELECT h.doc_id, p.pi, min(${wrapSql("p.pa * (h.x)::hugeint + p.pb")}) AS s
       |       FROM hashed h CROSS JOIN perms p GROUP BY h.doc_id, p.pi),
       |bk AS (SELECT doc_id, cast(pi // $rowsPerBand AS int) AS band, list(s ORDER BY pi) AS slice
       |       FROM pv GROUP BY doc_id, cast(pi // $rowsPerBand AS int)),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |         FROM bk l JOIN bk r ON l.band = r.band AND l.slice = r.slice
       |                            AND l.doc_id < r.doc_id),
       |sets AS (SELECT doc_id, list(x) AS xs FROM hashed GROUP BY doc_id),
       |pairs AS (SELECT c.id_a, c.id_b,
       |                 len(list_intersect(a.xs, b.xs)) AS ni,
       |                 len(a.xs) + len(b.xs) - len(list_intersect(a.xs, b.xs)) AS nu
       |          FROM cand c JOIN sets a ON a.doc_id = c.id_a
       |                      JOIN sets b ON b.doc_id = c.id_b)
       |SELECT id_a, id_b, cast(ni AS double) / nu AS jaccard
       |FROM pairs WHERE cast(ni AS double) / nu >= $threshold""".stripMargin
  }

  /** DuckDB twin of [[simhashNearDups]] + [[graft.text.TextOps.simhash64]]
    * over `corpusSql` — FNV-1a token hashes via list_reduce, bit votes,
    * pigeonhole chunk join, exact hamming verify. */
  def simhashOracleSql(corpusSql: String, chunks: Int = 4, maxHamming: Int = 3): String = {
    val bits = 64 / chunks
    val mask = (1L << bits) - 1
    s"""WITH d2 AS ($corpusSql),
       |toks0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM d2),
       |toks AS (SELECT doc_id, list_reduce(
       |    list_prepend($FnvInit,
       |      list_transform(generate_series(1, length(tok)), j -> ascii(substring(tok, j, 1))::bigint)),
       |    (acc, c) -> ${wrapSql(s"(xor(acc, c))::hugeint * $FnvPrime")}) AS th
       |  FROM toks0),
       |bits AS (SELECT doc_id, th, unnest(generate_series(0, 63)) AS b FROM toks),
       |votes AS (SELECT doc_id, b, sum(CASE WHEN ((th >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
       |          FROM bits GROUP BY doc_id, b),
       |sig AS (SELECT doc_id, cast(sum(CASE WHEN v > 0 THEN
       |            (CASE WHEN b = 63 THEN (-9223372036854775808)::hugeint
       |                  ELSE ((1::bigint << b))::hugeint END)
       |          ELSE 0::hugeint END) AS bigint) AS sh
       |        FROM votes GROUP BY doc_id),
       |chv AS (SELECT doc_id, sh, ci, (sh >> (ci * $bits)) & $mask AS cv
       |        FROM (SELECT doc_id, sh, unnest(generate_series(0, ${chunks - 1})) AS ci FROM sig)),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b, l.sh AS sh_a, r.sh AS sh_b
       |         FROM chv l JOIN chv r ON l.ci = r.ci AND l.cv = r.cv AND l.doc_id < r.doc_id)
       |SELECT id_a, id_b, cast(bit_count(xor(sh_a, sh_b)) AS int) AS hamming
       |FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= $maxHamming""".stripMargin
  }

  /** Word-set Jaccard as pure Column algebra (codegen'd, SQL-oracle-exact):
    * returns (|A∩B|, |A∪B|) over distinct whitespace tokens — integer
    * outputs so cross-engine comparison is exact. */
  def wordJaccardParts(a: Column, b: Column): (Column, Column) = {
    val wa = array_distinct(split(a, " "))
    val wb = array_distinct(split(b, " "))
    (size(array_intersect(wa, wb)), size(array_union(wa, wb)))
  }

  /** Brute-force q-gram Jaccard near-dups — O(N²) oracle for tests. Same
    * shingle-less-doc exclusion as [[minhashCandidates]]. */
  def bruteForceNearDups(df: DataFrame, idCol: String, textCol: String,
                         q: Int = 5, threshold: Double = 0.5): DataFrame = {
    val eligible = df.where(col(textCol).isNotNull && length(col(textCol)) >= q)
    val a = eligible.select(col(idCol).as("id_a"), col(textCol).as("text_a"))
    val b = eligible.select(col(idCol).as("id_b"), col(textCol).as("text_b"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("jaccard", jaccardUdf(q)(col("text_a"), col("text_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  // ---------------- near-dup clustering ----------------

  /**
   * Connected components over a near-duplicate pair set — the
   * canonicalization step of a dedup pipeline: every doc gets the MIN doc id
   * reachable through dup edges as its component id; keep one doc per
   * component, drop the rest.
   *
   * Hash-min label propagation: each round, every vertex takes the min of
   * its own label and its neighbors' labels (one join + one groupBy per
   * round). Rounds needed = component diameter — near-dup clusters are
   * star-like (diameter ≤ ~3), so this converges in a handful of rounds at
   * any corpus size; convergence is CHECKED (changed-count == 0), not
   * assumed, and the label table is labels-only (two longs) through every
   * exchange.
   *
   * Returns (id, component).
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the PAIR computation once: `fwd` appears on both legs of
    // the symmetric union, so without this the (potentially expensive)
    // upstream plan — e.g. the whole minhash shingle/band/verify pipeline —
    // runs twice just to build the edge list, and cache() would only catch
    // the duplication after paying it once
    val fwd = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(true)
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst"))).cache()
    // localCheckpoint per round CUTS LINEAGE — without it the iterated plan
    // doubles every round (labels referenced twice) and explodes
    // exponentially; with it each round plans against materialized blocks.
    // (At production scale, swap for a reliable checkpoint dir.)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint(true)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      // neighbor-min candidate per vertex, then min with own label
      val nbr = edges.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("nbr_min"))
      // the changed-count rides the propagation job itself via Observation —
      // ONE Spark job per round (the eager localCheckpoint is the action),
      // not propagate + a separate join-and-count scan
      val obs = new org.apache.spark.sql.Observation(s"graft_cc_$it")
      val next = labels.join(nbr, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"))
        .observe(obs, sum(when(col("component") =!= col("__old"), 1L).otherwise(0L)).as("changed"))
        .select(col("id"), col("component"))
        .localCheckpoint(true)
      labels = next
      converged = obs.get("changed").asInstanceOf[Long] == 0
      it += 1
    }
    edges.unpersist()
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** DuckDB twin of [[connectedComponents]]: transitive min-label closure
    * via a recursive CTE over `pairsSql` (a SELECT yielding id_a, id_b). */
  def componentsOracleSql(pairsSql: String): String =
    s"""WITH RECURSIVE pairs AS ($pairsSql),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION SELECT id_b, id_a FROM pairs),
       |walk(id, lbl) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.lbl FROM walk w JOIN edges e ON e.src = w.id)
       |SELECT id, min(lbl) AS component FROM walk GROUP BY id""".stripMargin

  // ---------------- SimHash ----------------

  /** SimHash near-dup candidates: split the 64-bit signature into `chunks`
    * pieces; hamming distance ≤ chunks−1 guarantees ≥1 identical chunk
    * (pigeonhole) ⇒ equi-join on (chunk_idx, chunk_value). */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      chunks: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    val bits = 64 / chunks
    val sh = df.select(col(idCol).as("id"),
      graft.text.TextOps.simhashUdf(col(textCol)).as("sh"))
    val chunked = sh.select(col("id"), col("sh"),
      explode(sequence(lit(0), lit(chunks - 1))).as("ci"))
      .withColumn("cv", expr(s"shiftrightunsigned(sh, ci * $bits)")
        .bitwiseAND(lit((1L << bits) - 1)))
    val l = chunked.select(col("ci"), col("cv"), col("id").as("id_a"), col("sh").as("sh_a"))
    val r = chunked.select(col("ci"), col("cv"), col("id").as("id_b"), col("sh").as("sh_b"))
    val ham = bit_count(col("sh_a").bitwiseXOR(col("sh_b")))
    l.join(r, Seq("ci", "cv"))
      // hamming computed + thresholded MAP-SIDE; cross-chunk dedup is a
      // groupBy carrying (id_a, id_b, hamming) only — partial-aggregated
      // before the exchange, unlike a window which ships every dup row
      .where(col("id_a") < col("id_b") && ham <= maxHamming)
      .select(col("id_a"), col("id_b"), ham.as("hamming"))
      .groupBy("id_a", "id_b")
      .agg(min(col("hamming")).as("hamming")) // identical per pair; min = deterministic pick
  }
}
