package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** t7/t8/f1 operators: repetition counters vs a plain-Scala oracle,
  * PII redaction edge semantics (boundaries, pass order), and the
  * quality-funnel's closed-form stage counts on a hand-built corpus.
  */
class RepetitionPiiSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** Sorted-run statistics over a string array: (maxrun, singles) =
    * (largest multiplicity of any value, number of values occurring
    * exactly once). One aggregate() pass over the SORTED array — per-row
    * narrow Catalyst, no shuffle, so repetition scoring stays
    * embarrassingly parallel at any corpus size (the oracle recomputes
    * the same counts via unnest + GROUP BY, which is fine at gate scale
    * but is exactly the per-gram shuffle this formulation avoids).
    */
  private def runStats(sorted: Column): Column =
    aggregate(sorted,
      struct(lit("").as("prev"), lit(0).as("run"),
        lit(0).as("maxrun"), lit(0).as("singles")),
      (st, g) => {
        // run > 0 guards the first element against a legitimate "" gram
        val same = st.getField("prev") === g && st.getField("run") > 0
        val run = when(same, st.getField("run") + 1).otherwise(lit(1))
        val singles = when(!same && st.getField("run") === 1,
          st.getField("singles") + 1).otherwise(st.getField("singles"))
        struct(g.as("prev"), run.as("run"),
          greatest(st.getField("maxrun"), run).as("maxrun"),
          singles.as("singles"))
      },
      st => struct(st.getField("maxrun").as("maxrun"),
        (st.getField("singles") +
          when(st.getField("run") === 1, 1).otherwise(0)).as("singles")))

  /** Reference form of TextFunctions.repetitionStatsKernel as one
    * Catalyst projection — Gopher-style repetition signals (Rae et al.
    * 2021 §A1.1) over whitespace tokens:
    *   n_tok         token count,
    *   dup_tok_frac  fraction of token positions that repeat an earlier
    *                 token value = 1 - distinct/total,
    *   top2_frac     fraction of 2-gram positions covered by the single
    *                 most frequent 2-gram,
    *   dup3_frac     fraction of 3-gram positions whose gram occurs
    *                 more than once.
    * All four are one narrow projection per row (sort_array + one
    * aggregate pass per gram order) — zero shuffle, codegen-friendly,
    * so the filter runs at scan speed over any corpus size.
    */
  private def repetitionStats(c: Column): Column = {
    // ONE normalization+split per row: the token array is bound to a
    // lambda variable and every counter (token stats + both gram
    // orders) derives from the bound value — the naive form re-ran the
    // regex normalization once per gram order (review finding).
    val bound = transform(array(TextFunctions.tokens(c)), toks => {
      val nTok = size(toks)
      val dupTok = when(nTok > 0,
        (nTok - size(array_distinct(toks))).cast("double") /
          nTok.cast("double")).otherwise(lit(0.0))
      val r2 = runStats(sort_array(TextFunctions.gramsFrom(toks, 2)))
      val n2 = nTok - 1
      val top2 = when(n2 > 0,
        r2.getField("maxrun").cast("double") / n2.cast("double"))
        .otherwise(lit(0.0))
      val r3 = runStats(sort_array(TextFunctions.gramsFrom(toks, 3)))
      val n3 = nTok - 2
      val dup3 = when(n3 > 0,
        (n3 - r3.getField("singles")).cast("double") / n3.cast("double"))
        .otherwise(lit(0.0))
      struct(nTok.as("n_tok"),
        round(dupTok, 6).as("dup_tok_frac"),
        round(top2, 6).as("top2_frac"),
        round(dup3, 6).as("dup3_frac"))
    })
    element_at(bound, 1)
  }

  // ---- plain-Scala oracle for repetitionStats (same normalization:
  // trim, \s+ -> single space, lowercase, split on single space with
  // trailing empties kept — Spark's split default)
  private def normToks(s: String): Seq[String] =
    s.trim.toLowerCase.replaceAll("\\s+", " ").split(" ", -1).toSeq

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def oracle(text: String): (Int, Double, Double, Double) = {
    val t = normToks(text)
    val n = t.size
    val dup = if (n > 0) (n - t.distinct.size).toDouble / n else 0.0
    val g2 = if (n >= 2) t.sliding(2).map(_.mkString(" ")).toSeq else Nil
    val top2 =
      if (n >= 2) g2.groupBy(identity).values.map(_.size).max.toDouble / (n - 1)
      else 0.0
    val g3 = if (n >= 3) t.sliding(3).map(_.mkString(" ")).toSeq else Nil
    val dup3 =
      if (n >= 3) {
        val singles = g3.groupBy(identity).values.count(_.size == 1)
        (n - 2 - singles).toDouble / (n - 2)
      } else 0.0
    (n, r6(dup), r6(top2), r6(dup3))
  }

  private def sparkStats(texts: Seq[String]): Seq[(Int, Double, Double, Double)] = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text")
      .select($"id", repetitionStats($"text").as("r"))
      .orderBy("id")
      .collect()
      .map { row =>
        val r = row.getStruct(1)
        (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
      }.toSeq
  }

  test("repetitionStats matches the Scala oracle on edge shapes") {
    val texts = Seq(
      "",                          // single empty token after split
      "solo",                      // one token: all gram orders empty
      "a a a a a",                 // total repetition: every frac 1.0
      "p q r s t u",               // no repetition at all
      "a b a b a b a",             // alternating: top2 covers half
      "x y x z x y x",             // mixed multiplicities
      "  The   THE the\tz  ",      // normalization folds case + spaces
      "w1 w2 w1 w2 w3 w1 w2 w1 w2 w3")
    assert(sparkStats(texts) == texts.map(oracle))
  }

  test("repetitionStats extremes are exact") {
    val Seq(allDup, noDup) = sparkStats(Seq("a a a a a", "p q r s t u"))
    assert(allDup == ((5, 0.8, 1.0, 1.0))) // 4 of 5 positions repeat
    assert(noDup._2 == 0.0 && noDup._3 == r6(1.0 / 5) && noDup._4 == 0.0)
  }

  test("repetitionStatsKernel is bit-identical to the Column expression") {
    import spark.implicits._
    // the r06 optimization runs t7 through the JIT kernel; pin it
    // against the original expression on the edge shapes (null text,
    // empty, whitespace mess, non-ASCII case fold) AND the real corpus
    val edges: Seq[String] = Seq(
      null, "", " ", "solo", "a a a a a", "p q r s t u",
      "a b a b a b a", "  The   THE the\tz  ", "ÉCOLE école Straße",
      "w1 w2 w1 w2 w3 w1 w2 w1 w2 w3", "x y x y") // nbsp is not \s
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").as[String].collect().toSeq
    val texts = edges ++ corpus
    val viaExpr = texts.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("id", "text")
      .select($"id", repetitionStats($"text").as("r"))
      .orderBy("id").collect()
      .map { row =>
        val r = row.getStruct(1)
        (if (r.isNullAt(0)) None else Some(r.getInt(0)),
          r.getDouble(1), r.getDouble(2), r.getDouble(3))
      }.toSeq
    val viaKernel = texts.map(TextFunctions.repetitionStatsKernel)
    assert(viaKernel == viaExpr)
  }

  test("piiRedact masks all emails and phones, leaves clean text alone") {
    import spark.implicits._
    val got = Seq(
      "reach john.doe+x@sub.domain.org or a@b.co now",
      "call 555-1234-9 now",
      "no pii here at all",
      "digits 1555-1234-9 are not a 555 number", // \b: digit before 555
      "user555-0000-9@x.co"                      // email pass runs first
    ).toDF("t").select(TextFunctions.piiRedact($"t")).as[String].collect()
    assert(got(0) == "reach <EMAIL> or <EMAIL> now")
    assert(got(1) == "call <PHONE> now")
    assert(got(2) == "no pii here at all")
    assert(got(3) == "digits 1555-1234-9 are not a 555 number")
    assert(got(4) == "<EMAIL>")
  }

  test("f1 funnel: closed-form stage counts on a hand-built corpus") {
    import spark.implicits._
    // 10 docs: all unique long-alpha passing texts except —
    //   doc 9 empty          (fails nonempty)
    //   doc 5 no lang markers (fails lang_ok)
    //   doc 7 five tokens     (fails quality: token factor 0.25)
    //   doc 3 PLANTED by f1 itself as a copy of doc 2 (fails unique)
    val pass = (d: Long) =>
      "the " + Seq.fill(20)("abcdefghij").mkString(" ") + " " + ("k" * (d.toInt + 3))
    val docs = (0L until 10L).map { d =>
      val text = d match {
        case 9 => ""
        case 5 => "zzz yyy " + Seq.fill(20)("qqqqqqqqqq").mkString(" ")
        case 7 => "the a of and is"
        case _ => pass(d)
      }
      (d, text)
    }.toDF("doc_id", "text")
    val dirPath = java.nio.file.Files.createTempDirectory("f1spec")
    try {
      val dir = dirPath.toString
      docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = graft.SparkEntry.queries("f1_quality_funnel")(spark, dir)
        .collect().map(r =>
          (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq(
        (1, "nonempty", 10L, 9L),
        (2, "lang_ok", 9L, 8L),
        (3, "quality", 8L, 7L),
        (4, "unique", 7L, 6L)))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dirPath).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
