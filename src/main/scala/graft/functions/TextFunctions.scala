package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis Column builders for large-scale training-data pipelines.
  * All pure Catalyst expressions (codegen'd, no UDFs) so they stay inside
  * whole-stage codegen and push down/prune like built-ins.
  */
object TextFunctions {

  /** Whitespace-canonicalized lowercase text (dedup normalization). */
  def normText(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** Document fingerprint = md5 of normalized text (exact-dup key). */
  def fingerprint(c: Column): Column = md5(normText(c))

  /** Whitespace token array of normalized text. */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Token count via a BPE-ish word/number regex (alnum runs). */
  def tokenCount(c: Column): Column = regexp_count(c, lit("[A-Za-z0-9]+"))

  /** Token-window chunks — the sequence-prep step every training-data
    * pipeline runs before packing: greedy fixed-stride windows of
    * `maxTok` whitespace tokens, consecutive chunks sharing
    * `maxTok - stride` tokens of overlap, the final window short. Emits
    * (chunk_idx, n_tok, chunk) rows, at most ceil(tokens/stride) per
    * text — a JIT kernel for typed mapPartitions (r06: the generator-side
    * HOF form is interpreted per chunk and its expression tree dominated
    * small-stage time). Evaluation chain: UTF8String.trim, java regex
    * "\\s+" split with limit -1 (leading/trailing empties kept, exactly
    * like StringSplit), ceil over double for the window count, " "-joined
    * slices; TextChunkSpec pins it row-for-row against the Catalyst
    * generator formulation. `withText = false` skips building the chunk
    * strings (null third element) for grid-only consumers (c2/c3).
    * Callers filter null text upstream.
    */
  def tokenChunksKernel(text: String, maxTok: Int, stride: Int,
      withText: Boolean = true): Iterator[(Int, Int, String)] = {
    require(maxTok >= 1 && stride >= 1 && stride <= maxTok,
      "need 1 <= stride <= maxTok")
    val trimmed =
      org.apache.spark.unsafe.types.UTF8String.fromString(text).trim().toString
    val toks = WsRe.split(trimmed, -1)
    val t = toks.length
    val n =
      if (t <= maxTok) 1
      else math.ceil((t - maxTok).toDouble / stride).toInt + 1
    (0 until n).iterator.map { i =>
      val start = i * stride
      val len = math.min(maxTok, t - start)
      val chunk =
        if (!withText) null
        else {
          val sb = new java.lang.StringBuilder
          var j = 0
          while (j < len) {
            if (j > 0) sb.append(' ')
            sb.append(toks(start + j))
            j += 1
          }
          sb.toString
        }
      (i, len, chunk)
    }
  }

  /** Character-class counts (quality-scoring inputs). */
  def alphaChars(c: Column): Column =
    length(c) - length(regexp_replace(c, "[A-Za-z]", ""))
  def digitChars(c: Column): Column =
    length(c) - length(regexp_replace(c, "[0-9]", ""))
  def punctChars(c: Column): Column =
    length(c) - length(regexp_replace(c, """[!-/:-@\[-`{-~]""", ""))

  /** Deterministic quality score in [0,1]:
    * alpha_ratio * (1 - digit_ratio) * min(tokens/20, 1), rounded.
    * (length/punct/stopword-ratio family — reference-free heuristic.)
    */
  def qualityScore(c: Column): Column = {
    val len = length(c) + lit(1)
    val alphaRatio = alphaChars(c).cast("double") / len
    val digitRatio = digitChars(c).cast("double") / len
    val tokFactor = least(tokenCount(c).cast("double") / lit(20.0), lit(1.0))
    round(alphaRatio * (lit(1.0) - digitRatio) * tokFactor, 4)
  }

  /** Stopword-indicator score for one language: number of marker words
    * present (substring match on the padded, normalized text).
    */
  def langScore(c: Column, markers: Seq[String]): Column = {
    val padded = concat(lit(" "), normText(c), lit(" "))
    markers.map(m => when(padded.contains(s" $m "), 1).otherwise(0))
      .reduce(_ + _)
  }

  val EnMarkers = Seq("the", "a", "of", "and", "is")
  val DeMarkers = Seq("der", "die", "das", "und", "ist")
  val FrMarkers = Seq("le", "la", "et", "est", "les")
  val EsMarkers = Seq("el", "los", "y", "es", "una")

  /** N-gram heuristic language guess (deterministic argmax with fixed
    * preference order en > de > fr > es > unknown on ties).
    */
  def langGuess(c: Column): Column = {
    val en = langScore(c, EnMarkers)
    val de = langScore(c, DeMarkers)
    val fr = langScore(c, FrMarkers)
    val es = langScore(c, EsMarkers)
    when(en === 0 && de === 0 && fr === 0 && es === 0, lit("unknown"))
      .when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Word n-grams IN DOCUMENT ORDER from an already-bound token-array
    * column (a lambda variable — see orderedGrams for why binding
    * matters). Guard: sequence(0, -1) would COUNT DOWN in Spark, not be
    * empty. Shared by wordShingles / orderedGrams (and the Column-form
    * repetition reference in RepetitionPiiSpec) so the subtle
    * construction lives in exactly one place.
    */
  private[graft] def gramsFrom(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Word n-gram shingle set (distinct), the unit of Jaccard similarity.
    * Pure HOFs: sequence + transform + slice + array_join.
    */
  def wordShingles(c: Column, n: Int): Column =
    array_distinct(orderedGrams(c, n))

  /** Word n-gram array IN DOCUMENT ORDER (not deduplicated — the
    * repetition counters need multiplicities, unlike `wordShingles`).
    * Let-binding via a 1-element array + transform: interpreted HOFs
    * re-evaluate any non-attribute subexpression referenced inside a
    * lambda body ONCE PER ELEMENT — binding the token array to a lambda
    * variable makes the per-shingle slice O(n) instead of re-splitting
    * the whole text per shingle (measured ~100x on sf0.1 documents).
    */
  private[graft] def orderedGrams(c: Column, n: Int): Column =
    flatten(transform(array(tokens(c)), toks => gramsFrom(toks, n)))

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    * duplicate-line / top-n-gram / duplicate-n-gram family, re-expressed
    * over whitespace tokens since this corpus has no line structure):
    * (n_tok, dup_tok_frac = 1 - distinct/total tokens, top2_frac =
    * share of 2-gram positions covered by the most frequent 2-gram,
    * dup3_frac = share of 3-gram positions whose gram occurs more than
    * once), each fraction rounded to 6 decimals. A JIT kernel for the
    * hot scan path (house rule: per-row counting kernels run in typed
    * mapPartitions — a Column form's aggregate() HOFs are interpreted
    * per element), bit-identical to the sorted-run Catalyst
    * formulation, step by step:
    * tokens = split(lower(regexp_replace(trim(text), "\\s+", " ")), " ")
    * via the SAME UTF8String trim/lower and java.util.regex calls
    * Catalyst makes; run statistics over sorted gram arrays are
    * multiplicity statistics, so a count map reproduces maxrun/singles
    * independent of sort order; round(_, 6) is HALF_UP over the
    * shortest decimal representation. Null text returns
    * (null, 0.0, 0.0, 0.0) exactly like the null-propagated expression.
    * RepetitionPiiSpec pins kernel == expression on the real corpus
    * plus the degenerate shapes.
    */
  def repetitionStatsKernel(text: String): (Option[Int], Double, Double, Double) = {
    if (text == null) return (None, 0.0, 0.0, 0.0)
    val toks = normTokensKernel(text)
    val n = toks.length
    // dup_tok_frac = 1 - distinct/total
    val seen = new java.util.HashSet[String]()
    var i = 0
    while (i < n) { seen.add(toks(i)); i += 1 }
    val dupTok = if (n > 0) (n - seen.size).toDouble / n.toDouble else 0.0
    // gram multiplicity stats per order (2 and 3)
    def gramStats(g: Int): (Int, Int) = { // (maxrun, singles)
      if (n < g) (0, 0)
      else {
        val counts = new java.util.HashMap[String, Int]()
        var j = 0
        while (j + g <= n) {
          val sb = new java.lang.StringBuilder
          var k2 = 0
          while (k2 < g) {
            if (k2 > 0) sb.append(' ')
            sb.append(toks(j + k2))
            k2 += 1
          }
          counts.merge(sb.toString, 1, Integer.sum)
          j += 1
        }
        var maxrun = 0; var singles = 0
        val it = counts.values().iterator()
        while (it.hasNext) {
          val c = it.next()
          if (c > maxrun) maxrun = c
          if (c == 1) singles += 1
        }
        (maxrun, singles)
      }
    }
    val (max2, _) = gramStats(2)
    val n2 = n - 1
    val top2 = if (n2 > 0) max2.toDouble / n2.toDouble else 0.0
    val (_, singles3) = gramStats(3)
    val n3 = n - 2
    val dup3 = if (n3 > 0) (n3 - singles3).toDouble / n3.toDouble else 0.0
    (Some(n), round6(dupTok), round6(top2), round6(dup3))
  }

  private val WsRe = java.util.regex.Pattern.compile("\\s+")
  private val SpaceRe = java.util.regex.Pattern.compile(" ")

  /** tokens(c) as a Scala kernel — the exact Catalyst evaluation chain:
    * UTF8String.trim (spaces only, NOT Java's control-char trim), java
    * regex "\\s+" -> " ", UTF8String.toLowerCase (ASCII fast path /
    * locale slow path, as the Lower expression), split on " " with
    * limit -1 (trailing empties kept, like StringSplit).
    */
  private[graft] def normTokensKernel(text: String): Array[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    val trimmed = UTF8String.fromString(text).trim().toString
    val collapsed = WsRe.matcher(trimmed).replaceAll(" ")
    val lowered = UTF8String.fromString(collapsed).toLowerCase.toString
    SpaceRe.split(lowered, -1)
  }

  /** round(x, 6) with Spark round() semantics (HALF_UP over the
    * shortest decimal representation; non-finite passes through).
    */
  private def round6(v: Double): Double =
    if (java.lang.Double.isFinite(v))
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    else v

  /** PII redaction patterns — deliberately simple (RFC-ish email, a
    * 555-prefixed phone shape) so the SAME pattern string runs under
    * both Java regex (Spark) and RE2 (DuckDB oracle): no lookaround,
    * no backrefs, character classes and bounded repetition only.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b555[- ][0-9]{4}[- ][0-9]+\\b"

  /** Mask emails then phone numbers (training corpora redact PII before
    * anything else sees the text). Pure regexp_replace — codegen'd,
    * replaces ALL occurrences, narrow per row.
    */
  def piiRedact(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** X6 prompt templating (reference core/models/reasoning_engine.py's
    * f-string prompt assembly over a field list): fill {key}
    * placeholders from columns; null values render as "". Pure nested
    * replace() — codegen'd, and trivially mirrored in any SQL engine.
    */
  def template(tpl: Column, vars: Seq[(String, Column)]): Column =
    vars.foldLeft(tpl) { case (acc, (k, v)) =>
      replace(acc, lit("{" + k + "}"), coalesce(v.cast("string"), lit("")))
    }

  /** X4 response cleaning (reference test_ai_models/model_evaluator.py:
    * 374-384): strip <think>...</think> chain-of-thought blocks
    * (DOTALL, non-greedy — multiple blocks all go), then trim.
    */
  def cleanResponse(c: Column): Column =
    trim(regexp_replace(c, "(?s)<think>.*?</think>", ""))

  /** Context-budget truncation (reference reasoning_engine.py:234-252
    * `_truncate_text`): cut to maxChars; if a newline exists past 80% of
    * the budget, cut at that newline instead (never mid-line when a
    * clean break is close enough). Pure Scala — applied at the edge.
    */
  def smartTruncate(text: String, maxChars: Int): String = {
    if (text == null || text.length <= maxChars) return text
    val hard = text.substring(0, maxChars)
    val nl = hard.lastIndexOf('\n')
    if (nl >= (maxChars * 0.8).toInt) hard.substring(0, nl)
    else hard
  }
}
