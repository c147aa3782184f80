package graft.operators

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def corpus() = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the old river bank today"
    val nearDup = base.replace("today", "tonight") // high jaccard
    val exactDup = base
    val unrelated1 = "spark catalyst optimizer rewrites logical plans into physical stages efficiently always"
    val unrelated2 = "completely different words about cooking pasta with garlic butter and fresh basil leaves"
    Seq(
      (1L, base), (2L, exactDup), (3L, nearDup),
      (4L, unrelated1), (5L, unrelated2),
      (6L, unrelated1 + " extra tail words appended here")
    ).toDF("doc_id", "text")
  }

  /** Reference clustering for Dedup.dupClustersLargeStar: connected
    * components of a pair table (id_a, id_b) by min-label propagation —
    * every doc appearing in a pair gets cluster_id = the smallest doc id
    * reachable through dup edges.
    *
    * Each round propagates labels across edges and keeps the min; the
    * label sequence is monotone non-increasing and bounded, so it
    * converges in O(log diameter) rounds: each round propagates over
    * edges AND pointer-jumps through the label table
    * (label := label(label)), halving chain depth — so even a
    * 10^6-long revision chain converges within the iteration bound.
    * localCheckpoint truncates the iterative lineage (the standard
    * Spark pattern for loops).
    */
  private def dupClusters(pairs: DataFrame, maxIters: Int = 64): DataFrame = {
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("v")).distinct()
      .withColumn("label", col("v"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val prop = edges.join(labels, edges("src") === labels("v"))
        .select(col("dst").as("v"), col("label"))
        .union(labels.select(col("v"), col("label")))
        .groupBy("v").agg(min("label").as("label"))
        .localCheckpoint(true) // also de-ambiguates the self-join below
      // pointer jumping: follow one more hop through the label table so
      // convergence is O(log diameter), not O(diameter)
      val parent = prop.select(col("v").as("pv"), col("label").as("plabel"))
      val next = prop.join(parent, col("label") === col("pv"), "left")
        .select(col("v"),
          least(col("label"), coalesce(col("plabel"), col("label")))
            .as("label"))
        .localCheckpoint(true)
      changed = next.as("n").join(labels.as("o"), col("n.v") === col("o.v"))
        .filter(col("n.label") =!= col("o.label")).count()
      labels = next
      iter += 1
    }
    require(changed == 0, s"dupClusters did not converge in $maxIters rounds")
    labels.select(col("v").as("doc_id"), col("label").as("cluster_id"))
  }

  test("exact dedup groups identical normalized text") {
    val g = Dedup.exactDupGroups(corpus(), "text", "doc_id")
    val dupGroups = g.filter(col("n") > 1).collect()
    assert(dupGroups.length == 1)
    assert(dupGroups.head.getAs[Long]("keep_id") == 1L)
    assert(dupGroups.head.getAs[Long]("n") == 2L)
  }

  test("jaccard pairs find near + exact dups with correct scores") {
    val pairs = Dedup.jaccardPairs(corpus(), "text", "doc_id", n = 3, minJ = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap((1L, 2L)) == 1.0)         // exact dup
    assert(asMap.contains((1L, 3L)) && asMap((1L, 3L)) > 0.7) // near dup
    assert(asMap.contains((2L, 3L)))
    assert(asMap.contains((4L, 6L)))       // prefix-contained pair
    assert(!asMap.keys.exists(k => k._1 == 5L || k._2 == 5L))
  }

  test("minhash LSH recovers the jaccard pairs (recall on fixture)") {
    val truth = Dedup.jaccardPairs(corpus(), "text", "doc_id", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashNearDups(corpus(), "text", "doc_id",
        n = 3, perms = 64, bands = 16, minJ = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(truth)) // verification step guarantees precision
    assert(found.contains((1L, 2L))) // exact dups always collide
    val recall = found.size.toDouble / truth.size
    assert(recall >= 0.75, s"recall $recall, found=$found truth=$truth")
  }

  test("minhash pair order follows the native id type (2 < 10)") {
    import spark.implicits._
    val txt = "the quick brown fox jumps over the lazy dog near the river"
    val docs = Seq((10L, txt), (2L, txt)).toDF("doc_id", "text")
    val rows = Dedup.minhashNearDups(docs, "text", "doc_id", 3, 64, 16, 0.5)
      .collect()
    assert(rows.length == 1)
    assert((rows.head.getLong(0), rows.head.getLong(1)) == (2L, 10L))
  }

  test("fnv1a64 matches the published FNV-1a test vectors") {
    // public reference values (offset 0xCBF29CE484222325, prime 0x100000001B3)
    assert(Dedup.fnv1a64("") == 0xCBF29CE484222325L)
    assert(Dedup.fnv1a64("a") == 0xAF63DC4C8601EC8CL)
    assert(Dedup.fnv1a64("foobar") == 0x85944171F73967E8L)
  }

  test("dupClusters: transitive closure with min-id representative") {
    import spark.implicits._
    // chain 1-2-3 plus isolated pair 10-7 (order-insensitive)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 7L)).toDF("id_a", "id_b")
    val got = dupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 10L -> 7L))
  }

  test("simhash: identical texts at distance 0, near texts close") {
    val a = Dedup.simhash64("the quick brown fox".split(" "))
    val b = Dedup.simhash64("the quick brown fox".split(" "))
    assert(Dedup.hamming64(a, b) == 0)
    val pairs = Dedup.simhashNearDups(corpus(), "text", "doc_id", maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup at hamming 0
  }

  test("simhash segments cover all 64 bits, maxHamming+1 of them") {
    for (h <- Seq(0, 3, 12, 31)) {
      val segs = Dedup.simhashSegments(h)
      assert(segs.length == h + 1)
      val bits = segs.flatMap { case (lo, m) =>
        (0 until 64).filter(b => b >= lo && ((m >>> (b - lo)) & 1L) == 1L
          && b - lo < 64)
      }
      assert(bits.sorted == (0 until 64), s"h=$h segments=$segs")
    }
  }

  test("simhash blocking is EXACT vs brute-force hamming (incl. sign bit)") {
    import spark.implicits._
    // corpus engineered for negative + positive signatures and a range
    // of distances (pigeonhole guarantee must not depend on bit 63)
    val docs = (0L until 40L).map { i =>
      val base = s"alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        s"lambda mu nu xi omicron pi rho sigma tau upsilon"
      val mut = base.split(" ").zipWithIndex.map { case (w, j) =>
        if (j < i % 7) s"w${i}x$j" else w
      }.mkString(" ")
      (i, mut)
    }.toDF("doc_id", "text")
    val maxH = 12
    val got = Dedup.simhashNearDups(docs, "text", "doc_id", maxH)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // brute force over collected signatures
    val sigs = docs.collect().map { r =>
      val toks = r.getString(1).toLowerCase.trim.split("\\s+")
      (r.getLong(0), Dedup.simhash64(toks))
    }
    assert(sigs.exists(_._2 < 0) && sigs.exists(_._2 > 0),
      "fixture must exercise both signature signs")
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = Dedup.hamming64(sa, sb) if h <= maxH
    } yield (ia, ib, h)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    // and byte-identical with the skew re-split FORCED on (maxBucket=3
    // splits nearly every bucket on this corpus, through all depths)
    val capped = Dedup.simhashNearDups(docs, "text", "doc_id", maxH,
        maxBucket = 3, maxDepth = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == want,
      s"maxBucket re-split changed output: missing=${want -- capped} " +
        s"extra=${capped -- want}")
  }

  test("simhash re-split stays exact at narrow segments (maxHamming 16)") {
    import spark.implicits._
    // 17 segments of w=3 leave only two distinct non-zero boundary
    // offsets — the re-split must cap its depth rather than reuse the
    // canonical segmentation (a reused offset leaves a child bucket
    // reproducing its whole parent, amplifying instead of splitting)
    val docs = (0L until 30L).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta iota " +
        "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
      val mut = base.split(" ").zipWithIndex.map { case (w, j) =>
        if (j < i % 9) s"n${i}y$j" else w
      }.mkString(" ")
      (i, mut)
    }.toDF("doc_id", "text")
    val maxH = 16
    val sigs = docs.collect().map { r =>
      val toks = r.getString(1).toLowerCase.trim.split("\\s+")
      (r.getLong(0), Dedup.simhash64(toks))
    }
    val want = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
      h = Dedup.hamming64(sa, sb) if h <= maxH
    } yield (ia, ib, h)).toSet
    assert(want.nonEmpty, "fixture must have close pairs")
    val capped = Dedup.simhashNearDups(docs, "text", "doc_id", maxH,
        maxBucket = 3, maxDepth = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == want,
      s"missing=${want -- capped} extra=${capped -- want}")
  }

  /** Deterministic synthetic signature corpus: 100k fully random
    * background docs plus a planted dense hub of `hub` EXTRA docs that
    * share segment 0 (bits 0-15) exactly but are random in the other
    * 48 bits (pairwise hamming ~24 >> maxHamming, so they are NOT
    * near-dups — the pure blocking-collision hub the re-split exists
    * for). The hub is additive so the background candidate set is
    * byte-identical across hub sizes and subtracts out cleanly.
    */
  private def hubSigCorpus(hub: Int) = {
    import spark.implicits._
    spark.range(100000L + hub).toDF("doc_id")
      .select(col("doc_id"), when(col("doc_id") >= 100000L,
          // fixed low 16 bits, hash-randomized high 48
          expr("xxhash64('hub', doc_id)").bitwiseAND(lit(0xFFFFFFFFFFFF0000L))
            .bitwiseOR(lit(0xABCDL)))
        .otherwise(expr("xxhash64('bg', doc_id)")).as("sig"))
  }

  test("simhash re-split makes hub candidate volume sub-quadratic") {
    val maxH = 3
    def cands(hub: Int, maxBucket: Int): Long =
      Dedup.simhashCandidates(hubSigCorpus(hub), maxH,
        maxBucket = maxBucket).count()
    val uncappedBig = cands(4000, 0)
    val capped = cands(4000, 500)
    // uncapped: the hub alone contributes hub*(hub-1)/2 all-pairs
    assert(uncappedBig >= 4000L * 3999 / 2, s"uncapped=$uncappedBig")
    // production cap: one straddled re-split shatters the hub bucket
    // into ~2^(w/2) children — volume collapses by >= 8x
    assert(capped * 8 <= uncappedBig,
      s"capped=$capped uncapped=$uncappedBig")
    // growth law: with a cap tight enough that the recursion engages at
    // both hub sizes, the hub's candidate contribution must grow
    // SUB-QUADRATICALLY in hub size (all-pairs would grow 16x across a
    // 4x hub; the additive-background construction isolates the hub)
    val bg = cands(0, 10)
    val hubSmall = cands(1000, 10) - bg
    val hubBig = cands(4000, 10) - bg
    assert(hubSmall > 0, s"hubSmall=$hubSmall (fixture must collide)")
    assert(hubBig <= 8L * hubSmall,
      s"hubSmall=$hubSmall hubBig=$hubBig (16x would be quadratic)")
  }

  test("large-star/small-star CC matches label propagation on every shape") {
    import spark.implicits._
    def clustersOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_id", "cluster_id").as[(Long, Long)].collect().toSet
    def check(pairs: Seq[(Long, Long)], hint: String): Unit = {
      val df = pairs.toDF("id_a", "id_b")
      val prop = clustersOf(dupClusters(df))
      val star = clustersOf(Dedup.dupClustersLargeStar(df))
      assert(star == prop, s"$hint: star=$star prop=$prop")
    }
    // long chain: forces multiple alternating rounds (diameter 40)
    check((0L until 40L).map(i => (i, i + 1)), "chain")
    // chain given in DESCENDING id order (worst case for min hanging)
    check((0L until 40L).map(i => (40L - i, 39L - i)), "reverse chain")
    // hub star + separate triangle + isolated pair
    check(Seq((5L, 1L), (5L, 2L), (5L, 9L), (5L, 7L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)), "star+triangle+pair")
    // deterministic random graph, multiple mid-size components
    val rnd = new scala.util.Random(42)
    check(Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2), "random-120")
    // the golden dedup corpus end to end
    val pairs = Dedup.jaccardPairs(corpus(), "text", "doc_id", 3, 0.5)
    val prop = clustersOf(dupClusters(pairs))
    val star = clustersOf(Dedup.dupClustersLargeStar(pairs))
    assert(star == prop && star.nonEmpty)
    // empty pair table → empty clustering, no crash
    assert(clustersOf(Dedup.dupClustersLargeStar(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"))).isEmpty)
  }

  test("dedupCorpus keeps cluster canonicals and untouched docs") {
    import spark.implicits._
    val kept = Dedup.dedupCorpus(corpus(), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // cluster {1,2,3} keeps 1; cluster {4,6} keeps 4; 5 is untouched
    assert(kept == Set(1L, 4L, 5L))
  }

  test("PPJoin jaccardPairs is EXACT vs brute force on random corpora") {
    // the prefix filter + positional filter + two-stage verify must be
    // lossless at every threshold; random corpora over a small shared
    // vocabulary produce dense mid-similarity structure that a recall
    // bug (e.g. an off-by-one in the prefix length) would hit
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Array.tabulate(30)(i => s"w$i")
    for (trial <- 0 until 3; t <- Seq(0.3, 0.5, 0.8)) {
      val docs = (0L until 40L).map { i =>
        val len = 5 + rnd.nextInt(20)
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val n = 3
      val got = Dedup.jaccardPairs(docs.toDF("doc_id", "text"),
          "text", "doc_id", n, t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      // brute force with the same normalization + HALF_UP rounding
      val sets = docs.map { case (id, text) =>
        id -> Dedup.shingleSet(
          text.toLowerCase.trim.split("\\s+").toSeq, n).toSet
      }.filter(_._2.nonEmpty)
      val want = (for {
        (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
        common = (sa & sb).size
        j = BigDecimal(common.toDouble / (sa.size + sb.size - common))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if j >= t
      } yield (ia, ib) -> j).toMap
      assert(got == want,
        s"trial=$trial t=$t missing=${want.keySet -- got.keySet} " +
          s"extra=${got.keySet -- want.keySet}")
    }
  }

  test("large-star CC agrees with a third independent oracle (union-find)") {
    import spark.implicits._
    val rnd = new scala.util.Random(99)
    val pairs = Seq.fill(400)(
      (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2)
    // driver-side union-find with path compression
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.map(v => (v, find(v))).toSet
    val got = Dedup.dupClustersLargeStar(pairs.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("d3 oracle precondition: gate corpora have no mid-similarity pairs") {
    // d3's driver gate hash-compares LSH output to the EXACT jaccard
    // oracle at minJ=0.2, which is sound only while every true pair in
    // the gate corpora sits in the saturated-recall regime: with
    // (b=16, r=4), per-pair miss probability is (1-j^4)^16 — ~4e-8 at
    // j=0.9 but ~37% at j=0.5. This test asserts the PRECONDITION on
    // the actual driver testdata via the gate's total expected misses,
    // so new testdata with a mid-similarity pair fails HERE with a
    // clear message instead of flaking the gate.
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val docs = spark.read.parquet(s"/root/testdata/$sf/documents.parquet")
      val js = Dedup.jaccardPairs(docs, "text", "doc_id", n = 3, minJ = 0.2)
        .select("jaccard").collect().map(_.getDouble(0))
      assert(js.nonEmpty, s"$sf: gate fixture has no pairs at all")
      val expectedMisses =
        js.map(j => math.pow(1.0 - math.pow(j, 4), 16)).sum
      info(f"$sf%s: ${js.length}%d pairs, minJ=${js.min}%.4f, " +
        f"E[missed]=$expectedMisses%.2e")
      assert(expectedMisses < 1e-3,
        f"$sf%s: E[missed pairs]=$expectedMisses%.2e (minJ=${js.min}%.4f) — " +
          "a pair sits in the LSH recall gap; d3's hash-equality oracle " +
          "no longer holds for this testdata, switch the gate to a " +
          "recall-tolerance compare")
    }
  }

  test("minhash banding recall tracks 1-(1-j^r)^b at 50k docs") {
    // Scale evidence for the saturation argument behind d3's oracle:
    // 25k doc pairs planted at nine CONSTRUCTED jaccard levels (token
    // namespacing makes cross-pair jaccard 0 and per-pair jaccard
    // exactly s/(80-s) for s shared shingles), run through the real
    // minhash banding path, measured recall per level vs the standard
    // curve. Murmur family quality, band hashing, and the candidate
    // join are all under test — a correlated hash family would bend
    // the curve exactly like the LCG-lattice hyperplane bug did.
    import spark.implicits._
    val (perms, bands) = (64, 16)
    val r = perms / bands
    val mTokens = 42 // 40 trigram shingles per doc
    val levels = Seq(7, 13, 18, 23, 27, 30, 33, 36, 38) // shared shingles
    val pairsPerLevel = 2778 // ~50k docs total
    val docs = spark.range(0, levels.size.toLong * pairsPerLevel, 1, 32)
      .mapPartitions(_.flatMap { p =>
        val lvl = (p % levels.size).toInt
        val s = levels(lvl)
        val a = Array.tabulate(mTokens)(t => s"p${p}a$t")
        val b = Array.tabulate(mTokens)(t =>
          if (t < s + 2) a(t) else s"p${p}b$t")
        Iterator((2 * p, a.mkString(" ")), (2 * p + 1, b.mkString(" ")))
      }).toDF("doc_id", "text")
    val found = Dedup.minhashNearDups(docs, "text", "doc_id",
        n = 3, perms = perms, bands = bands, minJ = 0.05)
      .select("id_a", "id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => b == a + 1 && a % 2 == 0 }
      .map(_._1 / 2).groupBy(p => (p % levels.size).toInt)
      .map { case (lvl, ps) => lvl -> ps.length }
    levels.zipWithIndex.foreach { case (s, lvl) =>
      val j = s.toDouble / (2 * (mTokens - 2) - s)
      val theory = 1.0 - math.pow(1.0 - math.pow(j, r), bands)
      val measured = found.getOrElse(lvl, 0).toDouble / pairsPerLevel
      info(f"j=$j%.3f theory=$theory%.3f measured=$measured%.3f")
      assert(math.abs(measured - theory) <= 0.05,
        f"banding recall off-curve at j=$j%.3f: " +
          f"measured=$measured%.3f theory=$theory%.3f")
    }
  }
}
