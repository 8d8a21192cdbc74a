package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for the large-scale training-data pipeline:
 * token counting, quality metrics, language-ID (stopword n-gram heuristic),
 * document fingerprinting. Everything is pure `Column` expressions (inside
 * whole-stage codegen — no UDFs) and each op has an equivalent ANSI-SQL
 * rendering for the DuckDB oracle, generated from the same spec.
 *
 * The doc_id/text shape mirrors the reference's per-scene textual metadata
 * plane (scene YAML text fields, `utils/prepS2.py:326-394`) generalized to a
 * documents corpus.
 */
object TextOps {

  /** Whitespace token count on single-space-joined text: exact and
    * engine-agnostic (length arithmetic, not split semantics). */
  def tokenCount(text: Column): Column =
    (length(text) - length(regexp_replace(text, " ", "")) + 1).cast("long")
  def tokenCountSql(c: String): String =
    s"cast(length($c) - length(replace($c, ' ', '')) + 1 AS bigint)"

  /** Exact occurrences of word `w` as a whole token. */
  def wordHits(text: Column, w: String): Column =
    size(filter(split(text, " "), t => t === w)).cast("long")
  def wordHitsSql(c: String, w: String): String =
    s"cast(len(list_filter(string_split($c, ' '), t -> t = '$w')) AS bigint)"

  /** BPE-style pre-tokenizer pattern (GPT-2 family), RE2-safe subset:
    * contractions, optionally-space-prefixed letter runs / digit runs /
    * punctuation runs. No lookahead, ASCII classes only — Java regex and
    * DuckDB's RE2 produce identical leftmost-first matches, so the count is
    * cross-engine exact. */
  val BpePattern: String =
    "('s|'t|'re|'ve|'m|'ll|'d)|( ?[a-zA-Z]+)|( ?[0-9]+)|( ?[^a-zA-Z0-9 ]+)"

  /** Subword-ish token count: number of BPE pre-tokenizer matches — the
    * training-data "token budget" estimator (whitespace tokens undercount
    * punctuation-heavy and numeric text). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpePattern)).cast("long")
  def bpeTokenCountSql(c: String): String =
    s"cast(len(regexp_extract_all($c, '${BpePattern.replace("'", "''")}')) AS bigint)"

  /** Per-language stopword lists for the language-ID heuristic. */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "les", "des", "et", "une")
  )

  /** Σ wordHits over the language's stopword list, computed in ONE pass:
    * a token equals at most one stopword, so `count(t ∈ words)` ≡ the sum
    * of per-word counts — 1 split + 1 filter traversal instead of 5 of
    * each. This matters doubly because filter pushdown SUBSTITUTES langId
    * through projections (the lang filter in pipe_corpus carries 2-3
    * copies of every score) and lambda-bearing expressions are excluded
    * from codegen subexpression elimination — each copy re-evaluates.
    * TextOpsSpec pins equality with the per-word sum form (the shape
    * [[langScoreSql]] keeps for the oracle). */
  def langScore(text: Column, lang: String): Column = {
    val words = stopwords.toMap.apply(lang)
    size(filter(split(text, " "), t => t.isInCollection(words))).cast("long")
  }
  def langScoreSql(c: String, lang: String): String =
    stopwords.toMap.apply(lang).map(w => wordHitsSql(c, w)).mkString("(", " + ", ")")

  /**
   * Language-ID: argmax stopword score, ties broken by list order
   * (en > es > de > fr); all-zero → 'und'. Rendered as a comparison chain so
   * the Column and SQL forms are structurally identical.
   */
  def langId(text: Column): Column = {
    val scored = stopwords.map { case (l, _) => (l, langScore(text, l)) }
    val maxScore = scored.map(_._2).reduce((a, b) => greatest(a, b))
    // first-match-wins when chain ⇒ earliest lang in list order wins ties
    scored.foldRight(lit("und")) { case ((l, s), acc) =>
      when(s === maxScore && maxScore > 0, lit(l)).otherwise(acc)
    }
  }

  def langIdSql(c: String): String = {
    val scores = stopwords.map { case (l, _) => (l, langScoreSql(c, l)) }
    val maxExpr = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    scores.foldRight("'und'") { case ((l, s), acc) =>
      s"CASE WHEN $s = ($maxExpr) AND ($maxExpr) > 0 THEN '$l' ELSE $acc END"
    }
  }

  /** Quality metrics: tokens, chars, mean token length, stopword ratio. */
  def qualityColumns(text: Column): Seq[(String, Column)] = {
    val nTok = tokenCount(text)
    val nCh = length(text).cast("long")
    val stops = langScore(text, "en")
    Seq(
      "n_tokens" -> nTok,
      "n_chars2" -> nCh,
      "mean_token_len" -> (nCh - (nTok - 1)).cast("double") / nTok, // chars sans separators
      "stopword_ratio" -> stops.cast("double") / nTok
    )
  }
  def qualitySqls(c: String): Seq[(String, String)] = {
    val nTok = tokenCountSql(c)
    val stops = langScoreSql(c, "en")
    Seq(
      "n_tokens" -> nTok,
      "n_chars2" -> s"cast(length($c) AS bigint)",
      "mean_token_len" -> s"cast(cast(length($c) AS bigint) - ($nTok - 1) AS double) / $nTok",
      "stopword_ratio" -> s"cast($stops AS double) / $nTok"
    )
  }

  /** Content fingerprint: md5 (engine- and oracle-identical). */
  def fingerprint(text: Column): Column = md5(text.cast("binary"))

  /** 64-bit SimHash over whitespace tokens (engine-side; FNV-1a token hash,
    * majority vote per bit). Used by near-dup detection. */
  def simhash64(text: String): Long = {
    if (text == null || text.isEmpty) return 0L
    val counts = new Array[Int](64)
    text.split(' ').foreach { tok =>
      var h = 0xcbf29ce484222325L // FNV-1a
      var i = 0
      while (i < tok.length) { h ^= tok.charAt(i); h *= 0x100000001b3L; i += 1 }
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
  val simhashUdf = udf(simhash64 _)
}
