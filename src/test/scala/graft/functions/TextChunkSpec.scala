package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Token-window chunking (c1-c3): closed-form window arithmetic,
  * overlap, and the ragged edge cases the real-corpus oracle may not
  * sample, over the Catalyst reference form; the JIT kernel the queries
  * run is pinned row-for-row against that reference.
  */
class TextChunkSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  /** Reference form of TextFunctions.tokenChunksKernel as a pure
    * generator-side Catalyst expression (split → sequence → transform →
    * slice): an array of (chunk_idx, n_tok, chunk) structs the caller
    * explodes. The window arithmetic below is the specification the
    * kernel is pinned against.
    */
  private def tokenChunks(c: Column, maxTok: Int, stride: Int,
      withText: Boolean = true): Column = {
    require(maxTok >= 1 && stride >= 1 && stride <= maxTok,
      "need 1 <= stride <= maxTok")
    val toks = split(trim(c), "\\s+")
    val t = size(toks)
    val n = when(t <= maxTok, lit(1))
      .otherwise(ceil((t - maxTok).cast("double") / stride).cast("int")
        + lit(1))
    // consumers that only need the window grid (e.g. packing) skip the
    // chunk strings entirely: the field is built inside this lambda, so
    // generator pruning cannot remove it after the fact
    transform(sequence(lit(0), n - 1), i => {
      val idx = i.as("chunk_idx")
      val nt = least(lit(maxTok), t - i * stride).as("n_tok")
      if (withText)
        struct(idx, nt,
          array_join(slice(toks, i * stride + 1, lit(maxTok)), " ")
            .as("chunk"))
      else struct(idx, nt)
    })
  }

  private def chunksOf(text: String, maxTok: Int = 32, stride: Int = 24) = {
    import spark.implicits._
    Seq(Tuple1(text)).toDF("text")
      .select(explode(tokenChunks($"text", maxTok, stride))
        .as("c"))
      .select($"c.chunk_idx", $"c.n_tok", $"c.chunk")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)))
  }

  test("window count, sizes, and overlap are the closed form") {
    val words = (1 to 100).map(i => s"w$i")
    val got = chunksOf(words.mkString(" "))
    // ceil((100-32)/24)+1 = 4 windows; sizes 32,32,32, 100-3*24=28
    assert(got.map(c => (c._1, c._2)).toSeq ==
      Seq((0, 32), (1, 32), (2, 32), (3, 28)))
    // chunk i covers tokens [i*24, i*24+32) — verify text exactly
    got.foreach { case (i, n, chunk) =>
      assert(chunk == words.slice(i * 24, i * 24 + 32).mkString(" "))
      assert(chunk.split(" ").length == n)
    }
    // consecutive chunks share exactly maxTok-stride = 8 tokens
    val c0 = got(0)._3.split(" ")
    val c1 = got(1)._3.split(" ")
    assert(c0.takeRight(8).toSeq == c1.take(8).toSeq)
  }

  test("boundary cases: exact fit, one over, single short doc") {
    assert(chunksOf((1 to 32).map("t" + _).mkString(" "))
      .map(c => (c._1, c._2)).toSeq == Seq((0, 32)))
    assert(chunksOf((1 to 33).map("t" + _).mkString(" "))
      .map(c => (c._1, c._2)).toSeq == Seq((0, 32), (1, 9)))
    assert(chunksOf("only three words").toSeq == Seq((0, 3, "only three words")))
  }

  test("degenerate text still yields exactly one bounded chunk") {
    // trim strips SPACES only (both engines), split keeps empty
    // fields: "" gives one empty token, a surviving interior tab gives
    // two — DuckDB's trim + string_split_regex produce the identical
    // arrays, so the oracle replays both shapes bit-for-bit
    assert(chunksOf("").toSeq == Seq((0, 1, "")))
    assert(chunksOf("   \t  ").toSeq == Seq((0, 2, " ")))
    // vertical tab: Java's \s includes U+000B but RE2's does not — the
    // oracle spells out the Java class explicitly, so both engines
    // must split this into two tokens
    assert(chunksOf("a\u000Bb").toSeq == Seq((0, 2, "a b")))
  }

  test("c2 packing: running offsets, budget rollover, shard reset") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("c2pack").toString
    // token counts chosen to roll past the 256 budget inside shard 0
    // and to prove the counter resets at the 4096-doc shard boundary
    val docs = Seq(0L -> 50, 1L -> 10, 2L -> 300, 4096L -> 40)
    docs.map { case (id, n) =>
      (id, (1 to n).map(i => s"d${id}t$i").mkString(" "))
    }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = graft.SparkEntry.queries("c2_sequence_pack")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    // reference packer: chunk sizes from the window arithmetic, then a
    // per-shard running total
    val want = scala.collection.mutable.Set.empty[(Long, Int, Int, Long, Long, Long)]
    docs.groupBy(_._1 / 4096).foreach { case (shard, ds) =>
      var cum = 0L
      ds.sortBy(_._1).foreach { case (id, t) =>
        val nc = if (t <= 32) 1 else ((t - 32 + 23) / 24) + 1
        (0 until nc).foreach { ci =>
          val nTok = math.min(32, t - ci * 24)
          want += ((id, ci, nTok, shard, cum / 256, cum % 256))
          cum += nTok
        }
      }
    }
    assert(got == want.toSet)
    assert(got.exists(_._5 > 0), "budget rollover not exercised")
    assert(got.filter(_._4 == 1L).forall(r => r._6 < 50),
      "shard 1 must restart its running count")
  }

  test("c3 split-packing: sequences are budget-exact, parts rebuild chunks") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("c3pack").toString
    // same fixture as the c2 test: rollover inside shard 0 (doc 2's 300
    // tokens straddle several 256-token sequences) + a shard reset
    val docs = Seq(0L -> 50, 1L -> 10, 2L -> 300, 3L -> 77, 4096L -> 40)
    docs.map { case (id, n) =>
      (id, (1 to n).map(i => s"d${id}t$i").mkString(" "))
    }.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.SparkEntry.queries("c3_pack_sequences")(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // every part fits its sequence
    rows.foreach { case (_, _, _, _, _, off, take) =>
      assert(take >= 1 && off >= 0 && off + take <= 256,
        s"part out of budget: off=$off take=$take")
    }
    // every sequence's parts sum to EXACTLY the budget, except each
    // shard's final (ragged) sequence
    val perSeq = rows.groupBy(r => (r._4, r._5))
      .view.mapValues(_.map(_._7).sum).toMap
    val lastSeq = rows.groupBy(_._4).view.mapValues(_.map(_._5).max).toMap
    perSeq.foreach { case ((shard, seq), tot) =>
      if (seq < lastSeq(shard)) assert(tot == 256,
        s"sequence ($shard,$seq) not budget-exact: $tot")
      else assert(tot <= 256, s"final sequence ($shard,$seq) overflows: $tot")
    }
    // parts of one chunk are contiguous and rebuild its token count
    val c2 = graft.SparkEntry.queries("c2_sequence_pack")(spark, tmp)
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getInt(2))).toMap
    rows.groupBy(r => (r._1, r._2)).foreach { case (key, parts) =>
      assert(parts.map(_._7).sum == c2(key),
        s"chunk $key parts do not sum to its n_tok")
      assert(parts.map(_._3).sorted.toSeq == (0 until parts.length).toSeq,
        s"chunk $key part indices not dense")
    }
    // the straddle case is actually exercised
    assert(rows.exists(_._3 > 0), "no chunk straddled a boundary")
  }

  test("null text propagates to a null array (caller filters)") {
    import spark.implicits._
    val n = Seq(Tuple1(null: String)).toDF("text")
      .select(explode(tokenChunks($"text", 32, 24)).as("c"))
      .count()
    assert(n == 0L) // explode of null emits no rows
  }

  test("tokenChunksKernel is row-identical to the generator expression") {
    import spark.implicits._
    // r06 runs c1/c2/c3 through the JIT kernel; pin it against the
    // tokenChunks expression on edge shapes and the real corpus
    // (leading/trailing-empty split fields, tabs, exact-fit windows)
    val edges = Seq(
      "", " ", "a", "\ta b", "a b ", "  a   b  c\t\nd ",
      (1 to 32).map("w" + _).mkString(" "),
      (1 to 33).map("w" + _).mkString(" "),
      (1 to 100).map("w" + _).mkString(" "))
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text").as[String].collect().toSeq.filter(_ != null)
    val texts = edges ++ corpus
    for ((maxTok, stride) <- Seq((32, 24), (4, 2), (1, 1), (5, 5))) {
      val viaExpr = texts.zipWithIndex.map { case (t, i) => (i, t) }
        .toDF("id", "text")
        .select($"id",
          explode(tokenChunks($"text", maxTok, stride))
            .as("c"))
        .select($"id", $"c.chunk_idx", $"c.n_tok", $"c.chunk")
        .as[(Int, Int, Int, String)].collect().toSeq.sorted
      val viaKernel = texts.zipWithIndex.flatMap { case (t, i) =>
        TextFunctions.tokenChunksKernel(t, maxTok, stride)
          .map { case (idx, nt, ch) => (i, idx, nt, ch) }
      }.sorted
      assert(viaKernel == viaExpr, s"maxTok=$maxTok stride=$stride")
      // the grid-only rendition agrees with the full one minus text
      val gridOnly = texts.zipWithIndex.flatMap { case (t, i) =>
        TextFunctions.tokenChunksKernel(t, maxTok, stride, withText = false)
          .map { case (idx, nt, ch) => assert(ch == null); (i, idx, nt) }
      }.sorted
      assert(gridOnly == viaKernel.map { case (i, idx, nt, _) => (i, idx, nt) })
    }
  }
}
