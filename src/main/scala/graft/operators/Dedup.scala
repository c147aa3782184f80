package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora.
  *
  * Scale notes (designed for 10^9+ docs):
  *   - exact dedup: one shuffle on the md5 fingerprint — the grouping
  *     key is 16 bytes regardless of document size.
  *   - MinHash+LSH: signatures + band hashes are computed scan-side in a
  *     JIT-compiled Scala kernel inside typed mapPartitions (Spark array
  *     HOFs are interpreted, not codegen'd — measured 10x+ slower here);
  *     only (doc_id, band, bandHash) rows are shuffled — never the text.
  *     Candidate verification joins shingles back only for the (tiny)
  *     deduplicated candidate set.
  *   - SimHash: 64-bit signature per doc; pairs via (maxHamming+1)-
  *     segment blocking (pigeonhole: <= maxHamming differing bits leave
  *     at least one segment identical), so the self-join key is
  *     (segment index, segment value) and recall is guaranteed.
  *   - n-gram Jaccard: exact pairwise scores via shingle explode +
  *     shingle-key join; intended for candidate verification or small
  *     corpora — the LSH paths are the 100TB route.
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct normalized text.
    * (keep = min doc id, n = group size).
    */
  def exactDupGroups(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))

  /** Exact n-gram Jaccard pairs (id_a < id_b, jaccard >= minJ) via the
    * AllPairs/PPJoin prefix filter (Bayardo et al., WWW 2007; Chaudhuri
    * et al., ICDE 2006 — public algorithms):
    *
    *   1. global shingle document frequency (one map-side-combinable agg);
    *   2. each doc's shingles are ordered by (df asc, shingle) and only
    *      the first |d| - ceil(minJ*|d|) + 1 — the PREFIX — enter the
    *      candidate join. THEOREM: J(A,B) >= minJ implies the prefixes
    *      intersect, so recall is exact, while the high-df shingles that
    *      make a naive shingle self-join quadratic (df^2 pairs per hub
    *      shingle) sort to the ends of documents and stay OUT of the
    *      join keys;
    *   3. PPJoin positional filter at pair emission: a match at prefix
    *      ranks (pa, pb) bounds the total overlap by
    *      1 + min(|A|-pa, |B|-pb); pairs whose bound cannot reach the
    *      required overlap ceil(t/(1+t)(|A|+|B|)) are dropped before
    *      they ever carry payload (keeping a pair if ANY of its prefix
    *      matches passes preserves exactness — the earliest common
    *      token gives the loosest bound);
    *   4. two-stage verification: candidates first intersect SORTED
    *      64-BIT SHINGLE HASHES (8 bytes/shingle shipped instead of
    *      whole trigram strings; two-pointer merge). Hashing is a
    *      surjection, so the hash-level Jaccard only ever OVERSTATES
    *      the true one (colliding shingles merge: intersections grow,
    *      unions shrink) — filtering on it with a rounding margin can
    *      admit false positives but never drop a true pair;
    *   5. the (tiny) survivor set is re-verified against the full
    *      string shingle sets with the exact kernel, so the output is
    *      bit-exact regardless of hash collisions.
    *
    * Materializes a corpus-sized shingle table through
    * [[CacheRegistry]]: run the consuming action inside
    * [[CacheRegistry.scoped]], or repeated calls accumulate cached
    * blocks.
    */
  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minJ: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.schema(idCol).dataType
    // shingling via the JIT Scala kernel (same values as wordShingles —
    // verified by the DuckDB oracle on this exact operator); ids pass
    // through as strings and are cast back to their original type below.
    // Materialized ONCE under the recoverability contract (persist +
    // eager count, see CacheRegistry): five consumers read this table
    // (prefix explode, two hash-screen joins, two exact-verify joins) —
    // without it each one re-runs the tokenize+shingle+hash kernel over
    // the whole corpus, five scans instead of one at 10^9 docs
    val sh = CacheRegistry.materialize(docs
      .select(col(idCol).cast("string").as("doc_id"),
        tokens(col(textCol)).as("t"))
      .as[(String, Seq[String])]
      .mapPartitions(_.map { case (id, ts) =>
        val ss = shingleSet(ts, n)
        (id, ss.toSeq, ss.map(fnv1a64).sorted.toSeq)
      })
      .toDF("doc_id", "sh", "hs")
      .filter(size(col("sh")) > 0))
    val cand = candidateStage(sh, idType, minJ,
      prefixFilter = true, positionalFilter = true)
    // stage 4: hash-level screen (j_hash >= j_true always; the 1e-3
    // margin covers the 4-decimal rounding of the final comparison)
    val hashA = sh.select(col("doc_id").as("id_a"), col("hs").as("ha"))
    val hashB = sh.select(col("doc_id").as("id_b"), col("hs").as("hb"))
    val screened = cand.join(hashA, "id_a").join(hashB, "id_b")
      .select("id_a", "id_b", "ha", "hb")
      .as[(String, String, Seq[Long], Seq[Long])]
      .mapPartitions(_.flatMap { case (idA, idB, ha, hb) =>
        val common = sortedIntersectCount(ha.toArray, hb.toArray)
        val j = common.toDouble / (ha.length + hb.length - common)
        if (j >= minJ - 1e-3) Iterator((idA, idB)) else Iterator.empty
      })
      .toDF("id_a", "id_b")
    // stage 5: exact string verification of the survivors
    val setsA = sh.select(col("doc_id").as("id_a"), col("sh").as("sa"))
    val setsB = sh.select(col("doc_id").as("id_b"), col("sh").as("sb"))
    screened.join(setsA, "id_a").join(setsB, "id_b")
      .select("id_a", "id_b", "sa", "sb") // using-joins reorder columns
      .as[(String, String, Seq[String], Seq[String])]
      .mapPartitions(_.flatMap { case (idA, idB, sa, sb) =>
        val setB = sb.toSet
        val common = sa.count(setB.contains)
        // HALF_UP to match Spark round() / the DuckDB oracle exactly
        val j = BigDecimal(common.toDouble /
          (sa.length + sb.length - common))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        if (j >= minJ) Iterator((idA, idB, j)) else Iterator.empty
      })
      .toDF("id_a", "id_b", "jaccard")
      .withColumn("id_a", col("id_a").cast(idType))
      .withColumn("id_b", col("id_b").cast(idType))
  }

  /** The PPJoin candidate stage over a (doc_id, sh) shingle table, with
    * each cut individually switchable so its effect is measurable:
    * df-ordered prefix filter (step 2 of jaccardPairs' scaladoc) and
    * positional filter (step 3). Both ON is the production path.
    */
  private def candidateStage(sh: DataFrame,
      idType: org.apache.spark.sql.types.DataType, minJ: Double,
      prefixFilter: Boolean, positionalFilter: Boolean): DataFrame = {
    val ex = sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("g"))
    val df = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("g"))
    val ranked = ex.join(df, "g")
      .withColumn("rn", row_number().over(w))
    // materialized (persist + eager count, the file-wide multi-consumer
    // contract): the prefix table feeds BOTH sides of the candidate
    // self-join below, and that join is broadcast-shaped at small scale
    // — without the cache each side re-runs the whole df-aggregate +
    // window subtree (measured: two Exchange(g) + two Window(doc_id)
    // pairs in the r06 before-plan, i.e. the candidate stage computed
    // twice; at 10^9 docs that is two extra corpus-wide shuffles)
    val prefix = CacheRegistry.materialize((if (prefixFilter)
      // the 1e-9 guard keeps IEEE noise (0.07*100 = 7.000000000000001)
      // from rounding the ceiling UP past the true integer product and
      // shortening the prefix below what the recall theorem requires;
      // under-rounding merely lengthens the prefix (still exact)
      ranked.filter(col("rn") <=
        col("n_sh") - ceil(lit(minJ) * col("n_sh") - lit(1e-9)) + 1)
    else ranked)
      .select(col("doc_id"), col("g"), col("rn"), col("n_sh")))
    // required overlap for J >= t, with the same safe-direction epsilon
    val alpha = ceil(lit(minJ / (1 + minJ)) *
      (col("a.n_sh") + col("b.n_sh")) - lit(1e-9))
    val ubound = lit(1) +
      least(col("a.n_sh") - col("a.rn"), col("b.n_sh") - col("b.rn"))
    val joined = prefix.as("a").join(prefix.as("b"),
      col("a.g") === col("b.g") &&
        col("a.doc_id").cast(idType) < col("b.doc_id").cast(idType))
    (if (positionalFilter) joined.filter(ubound >= alpha) else joined)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Distinct PPJoin candidate id pairs BEFORE verification, with the
    * prefix / positional cuts switchable — exposed so tests and the
    * bench's skew sideline can measure each filter's candidate-volume
    * cut on hub corpora (the d2 analog of simhashCandidates). Both
    * flags on = exactly the candidate set jaccardPairs verifies.
    */
  def jaccardCandidates(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minJ: Double = 0.5, prefixFilter: Boolean = true,
      positionalFilter: Boolean = true): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.schema(idCol).dataType
    val sh = CacheRegistry.materialize(docs
      .select(col(idCol).cast("string").as("doc_id"),
        tokens(col(textCol)).as("t"))
      .as[(String, Seq[String])]
      .mapPartitions(_.map { case (id, ts) => (id, shingleSet(ts, n).toSeq) })
      .toDF("doc_id", "sh")
      .filter(size(col("sh")) > 0))
    candidateStage(sh, idType, minJ, prefixFilter, positionalFilter)
  }

  /** Two-pointer intersection size of two SORTED long arrays (multiset
    * semantics on the rare collision-duplicated entries — still an
    * upper bound on the string-set intersection).
    */
  def sortedIntersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var c = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Word n-gram shingle set — plain Scala kernel (JIT-compiled; Spark's
    * array HOFs are interpreted, not codegen'd, so per-row kernels belong
    * in typed mapPartitions).
    */
  def shingleSet(toks: Seq[String], n: Int): Array[String] = {
    if (toks.lengthCompare(n) < 0) return Array.empty
    val arr = toks.toArray
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= arr.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(arr(i + j))
        j += 1
      }
      out.add(sb.toString)
      i += 1
    }
    out.toArray(Array.empty[String])
  }

  /** MinHash signature: permutation i's hash family = murmur3(g, i). */
  def minhashSig(shingles: Array[String], perms: Int): Array[Int] = {
    val sig = Array.fill(perms)(Int.MaxValue)
    var s = 0
    while (s < shingles.length) {
      val g = shingles(s)
      var i = 0
      while (i < perms) {
        val h = scala.util.hashing.MurmurHash3.stringHash(g, i)
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      s += 1
    }
    sig
  }

  /** MinHash+LSH near-duplicate candidate pairs, verified by exact
    * shingle Jaccard. bands*rowsPerBand must equal perms. Pair order
    * (id_a < id_b) and returned id types follow the ORIGINAL id column
    * type (same contract as jaccardPairs, so d2/d3 outputs join cleanly).
    *
    * Materializes a corpus-sized token table through [[CacheRegistry]]
    * (released by the caller's [[CacheRegistry.scoped]] block).
    */
  def minhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, perms: Int = 64, bands: Int = 16,
      minJ: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.schema(idCol).dataType
    // materialized once (three consumers: banding scan + the two
    // candidate verify joins) under the same recoverability contract as
    // jaccardPairs' shingle table — see CacheRegistry
    val tokenized = CacheRegistry.materialize(docs
      .select(col(idCol).cast("string").as("doc_id"),
        tokens(col(textCol)).as("t"))
      .as[(String, Seq[String])]
      .toDF("doc_id", "t"))
      .as[(String, Seq[String])]
    // one (band, bandHash) row per band — ids only; shingling + minhash
    // run exactly ONCE over the corpus, and the band self-join never
    // shuffles document content.
    // Materialized (r06): the banding scan runs the minhash kernel
    // (perms x shingles hashes per doc) — without the cache BOTH
    // self-join sides recomputed it. No join-key repartition here: the
    // band table is rows-per-doc-bounded and its candidate volume is
    // small by design, so the join's own exchanges are cheaper than an
    // extra materialized shuffle (measured on sf0.1).
    val banded =
      CacheRegistry.materialize(minhashBandRows(tokenized, n, perms, bands))
    // pair ordering on the NATIVE id type — string compare would order
    // ("10" < "2") and silently disagree with jaccardPairs on numeric ids
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id").cast(idType) < col("b.doc_id").cast(idType))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // verification: join raw tokens back and re-shingle ONLY the (tiny)
    // candidate set post-join — the corpus-wide scans stay cheap column
    // reads, no full-corpus shingle recomputation
    val toksDf = tokenized.toDF("doc_id", "t")
    cand
      .join(toksDf.select(col("doc_id").as("id_a"), col("t").as("ta")), "id_a")
      .join(toksDf.select(col("doc_id").as("id_b"), col("t").as("tb")), "id_b")
      .select("id_a", "id_b", "ta", "tb") // using-joins reorder columns
      .as[(String, String, Seq[String], Seq[String])]
      .mapPartitions(_.flatMap { case (idA, idB, ta, tb) =>
        val sa = shingleSet(ta, n)
        val sb = shingleSet(tb, n)
        if (sa.isEmpty || sb.isEmpty) Iterator.empty
        else {
          val setB = sb.toSet
          val common = sa.count(setB.contains)
          // HALF_UP to match jaccardPairs' Spark round() exactly
          val j = BigDecimal(common.toDouble /
            (sa.length + sb.length - common))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (j >= minJ) Iterator((idA, idB, j)) else Iterator.empty
        }
      })
      .toDF("id_a", "id_b", "jaccard")
      .withColumn("id_a", col("id_a").cast(idType))
      .withColumn("id_b", col("id_b").cast(idType))
  }

  /** (doc_id, band, bh) minhash-LSH banding rows from a tokenized
    * (id, tokens) dataset — the scan stage of minhashNearDups, exposed
    * so CROSS-corpus probes (streaming arrivals vs a committed corpus,
    * StreamExtract.dedupAgainstSnapshot) band both sides with identical
    * hashing. Empty-shingle docs emit no rows.
    */
  def minhashBandRows(tokenized: org.apache.spark.sql.Dataset[(String, Seq[String])],
      n: Int, perms: Int, bands: Int): DataFrame = {
    val spark = tokenized.sparkSession
    import spark.implicits._
    val rowsPerBand = perms / bands
    require(bands * rowsPerBand == perms, "bands must divide perms")
    tokenized
      .mapPartitions(_.flatMap { case (id, ts) =>
        val shingles = shingleSet(ts, n)
        if (shingles.isEmpty) Iterator.empty
        else {
          val sig = minhashSig(shingles, perms)
          (0 until bands).iterator.map { b =>
            var bh = b
            var r = 0
            while (r < rowsPerBand) {
              bh = scala.util.hashing.MurmurHash3.mix(bh, sig(b * rowsPerBand + r))
              r += 1
            }
            (id, b, scala.util.hashing.MurmurHash3.finalizeHash(bh, rowsPerBand))
          }
        }
      })
      .toDF("doc_id", "band", "bh")
  }

  /** FNV-1a 64-bit hash over code points. Chosen over murmur because it
    * is a 6-op fold that an external SQL engine can replicate exactly
    * (the DuckDB oracle for d4 re-implements this fold with HUGEINT
    * arithmetic via list_reduce), making SimHash signatures — and hence
    * exact hamming distances — independently verifiable end to end.
    */
  def fnv1a64(s: String): Long = {
    var h = 0xCBF29CE484222325L // offset basis 14695981039346656037
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h ^ cp) * 0x100000001B3L // prime 1099511628211
      i += Character.charCount(cp)
    }
    h
  }

  /** 64-bit SimHash of the token multiset (pure Scala kernel — exposed
    * for the typed path, tests, and the DuckDB oracle contract).
    */
  def simhash64(tokens: Iterable[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      val h = fnv1a64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Bit segments for pigeonhole blocking: (maxHamming + 1) contiguous
    * segments covering all 64 bits. Any pair at hamming <= maxHamming
    * differs in at most maxHamming segments, so at least one of the
    * (maxHamming + 1) segments is bit-identical — candidate recall is
    * GUARANTEED, not heuristic. Returns (shift, mask) per segment.
    *
    * Scale note: wide thresholds mean narrow segments (h=12 -> 13
    * segments of ~5 bits -> only 32 distinct values per position), so
    * candidate volume grows; at 10^9 docs keep maxHamming <= 3 (4
    * segments x 16 bits) AND set maxBucket so hub buckets re-split
    * recursively (see simhashBuckets) instead of going all-pairs.
    */
  def simhashSegments(maxHamming: Int): Seq[(Int, Long)] = {
    require(maxHamming >= 0 && maxHamming <= 31,
      "maxHamming must be in [0, 31] (segments need >= 2 bits)")
    val s = maxHamming + 1
    val widths = Seq.tabulate(s)(i => 64 / s + (if (i < 64 % s) 1 else 0))
    val los = widths.scanLeft(0)(_ + _).init
    los.zip(widths).map { case (lo, w) =>
      (lo, if (w == 64) -1L else (1L << w) - 1L)
    }
  }

  /** (doc_id, sig) signature table — the scan stage of simhashNearDups,
    * exposed so tests and capacity probes can drive the blocking from
    * synthetic signatures without a tokenize pass.
    */
  def simhashSigs(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val idType = docs.schema(idCol).dataType
    docs.select(col(idCol).cast("string").as("doc_id"),
        tokens(col(textCol)).as("t"))
      .as[(String, Seq[String])]
      .mapPartitions(_.map { case (id, ts) => (id, simhash64(ts)) })
      .toDF("doc_id", "sig")
      .withColumn("doc_id", col("doc_id").cast(idType))
  }

  /** Pigeonhole bucket assignment (doc_id, sig, bkey) for SimHash
    * blocking, with recursive skew re-split (the Dedup analog of
    * Similarity.bandedBuckets' maxBucket defense, but RECALL-EXACT):
    *
    * Level 0 explodes each signature into (maxHamming + 1) segment
    * keys. When maxBucket > 0, any bucket holding more than maxBucket
    * members — docs that share one segment but mostly differ elsewhere,
    * the n^2-candidate hub case — is re-exploded on the (maxHamming+1)
    * segments of a ROTATED copy of the signature (rotation varying by
    * depth), up to maxDepth times. Soundness of the recursion: rotation preserves
    * hamming distance, so a true pair (<= maxHamming differing bits)
    * still shares >= 1 rotated segment at every level, and the split
    * decision is per-bucket — both members of a co-bucketed pair split
    * together — so some leaf bucket always holds both. ANY rotation is
    * sound; the bit-reversal offset sequence (w/2, w/4, 3w/4, ...)
    * keeps every depth's segment boundaries far from all previous
    * depths', so each child segment straddles previously-shared
    * segments and keeps informative bits — child buckets shrink
    * ~2^(w/4)+ per level for non-duplicate hubs.
    * Candidate volume is thus bounded by ~n * maxBucket * fanout at
    * every cap crossing instead of n^2. Genuinely duplicate hubs
    * (pairwise hamming <= maxHamming) stop splitting at maxDepth and
    * pay their inherent quadratic output.
    *
    * Bucket keys are hash-chained (xxhash64 over parent key + depth +
    * segment + value) — a hash collision merges two buckets, which only
    * ADDS candidates; the exact hamming filter downstream keeps the
    * final output bit-identical to brute force either way.
    */
  def simhashBuckets(sigs: DataFrame, maxHamming: Int,
      maxBucket: Int = 0, maxDepth: Int = 3): DataFrame = {
    val segs = simhashSegments(maxHamming)

    // mask, never mod: % keeps the dividend's sign in Spark, so a
    // negative signature's segment 0 would come out negative and never
    // match its positive-signature twin (bit 63 must not leak into the
    // low segment's join key)
    val w = math.max(2, 64 / segs.length)

    // depth-d segmentation offset: binary van der Corput (bit-reversal)
    // fractions mapped onto the NON-ZERO residues 1..w-1 — every depth's
    // boundaries sit maximally far from all previous depths' (a plain
    // d*w/2 stride collapses to two alternating families mod w), and no
    // depth may reuse offset 0 or an earlier depth's offset: a repeated
    // segmentation leaves one child segment bit-identical to a segment
    // an ancestor bucket already agreed on, so that child reproduces
    // the ENTIRE parent bucket and the re-split amplifies frontier rows
    // instead of cutting them. For non-power-of-two w the residue map
    // is not injective (w=6 sends depths 3 and 5 both to offset 4), so
    // the vdC walk SKIPS already-used residues (round-5 ADVICE) — the
    // first hits of each residue keep their original order, and with
    // only w-1 distinct non-zero residues available, the loop depth is
    // capped at offsets.length-1 below (narrow segments — large
    // maxHamming — simply stop re-splitting sooner; recall is
    // unaffected, oversize buckets just pay their quadratic output).
    val offsets: Array[Int] = {
      def vdc(k0: Int): Double = {
        var frac = 0.0; var k = k0; var denom = 2.0
        while (k > 0) { frac += (k % 2) / denom; denom *= 2; k /= 2 }
        frac
      }
      val out = scala.collection.mutable.ArrayBuffer(0) // depth 0 IS canonical
      val used = scala.collection.mutable.Set(0)
      var k = 1
      // 4w dyadic fractions land >= 2 per residue interval, so every
      // residue 1..w-1 is reached before the walk cap
      while (out.size < w && k <= 4 * w) {
        val cand = 1 + (vdc(k) * (w - 1)).toInt
        if (!used(cand)) { used += cand; out += cand }
        k += 1
      }
      out.toArray
    }
    def rotOf(depth: Int): Int = offsets(depth)

    def explodeLevel(df: DataFrame, depth: Int): DataFrame = {
      val rot = rotOf(depth)
      val rsig =
        if (rot == 0) col("sig")
        else shiftleft(col("sig"), rot)
          .bitwiseOR(shiftrightunsigned(col("sig"), 64 - rot))
      df.select(col("doc_id"), col("sig"), col("bkey"),
          posexplode(array(segs.map { case (lo, m) =>
            shiftrightunsigned(rsig, lo).bitwiseAND(lit(m))
          }: _*)).as(Seq("seg", "sv")))
        .select(col("doc_id"), col("sig"),
          xxhash64(col("bkey"), lit(depth), col("seg"), col("sv"))
            .as("bkey"))
    }

    var frontier = explodeLevel(sigs.withColumn("bkey", lit(0L)), 0)
    if (maxBucket <= 0) frontier
    else {
      // MEMORY_AND_DISK persist, not localCheckpoint: each frontier is
      // read by up to three consumers (oversize agg, anti join, next
      // level) and the per-level over.count() below materializes the
      // cache eagerly before any of them can race — but unlike
      // checkpoint blocks, a persisted partition lost with its executor
      // recomputes from lineage (depth-bounded here) instead of killing
      // the job. Same reasoning as CacheRegistry / M2PayloadStorage.
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      // every per-level persist is collected here and dropped before
      // returning (round-5 ADVICE: repeated d4/skew runs in one session
      // were accumulating never-unpersisted frontier/oversize blocks)
      val perLevel = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      frontier = frontier.persist(lvl)
      perLevel += frontier
      var done = List.empty[DataFrame]
      var depth = 1
      // only offsets.length-1 distinct non-zero segmentation offsets
      // exist (see the vdC walk above; w-1 when the walk covers all)
      val depthCap = math.min(maxDepth, offsets.length - 1)
      var growing = true
      while (growing && depth <= depthCap) {
        // the oversize list is bounded by n/maxBucket keys — broadcast
        // it back instead of shuffling the frontier twice. coalesce(1)
        // before the persist (r06): the table is about to be BROADCAST,
        // so it fits one partition by construction — materializing it
        // at the shuffle-partition count just multiplies task overhead
        // for every fill/read of the cache (cached plans keep their
        // partitioning; AQE does not coalesce them)
        val over = frontier.groupBy("bkey").agg(count(lit(1)).as("n"))
          .filter(col("n") > maxBucket).select("bkey")
          .coalesce(1)
          .persist(lvl)
        perLevel += over
        if (over.count() == 0) growing = false
        else {
          // using-column joins move the key FIRST in column order, and
          // union is positional — re-select before collecting parts
          done ::= frontier.join(broadcast(over), Seq("bkey"), "left_anti")
            .select("doc_id", "sig", "bkey")
          frontier =
            explodeLevel(frontier.join(broadcast(over), Seq("bkey"), "left_semi")
                .select("doc_id", "sig", "bkey"), depth)
              .persist(lvl)
          perLevel += frontier
          depth += 1
        }
      }
      if (done.isEmpty) {
        // no oversize bucket: the level-0 frontier IS the result and is
        // already fully cached by the over.count() scan — keep only it
        // alive (tracked in the caller's scope) and drop the empty-over
        // helper persists
        CacheRegistry.track(frontier)
        perLevel.filter(_ ne frontier).foreach(_.unpersist())
        frontier
      } else {
        // return the LAZY union over the per-level caches (r06): every
        // input is already persisted and the union itself is narrow, so
        // materializing a third copy just costs an extra fill pass and
        // cache write at any scale — consumers' reads hit the level
        // caches directly (the anti-join parts re-derive per read, but
        // both their inputs — frontier and the oversize list — are
        // cached, so no kernel or shuffle recomputes). The level caches
        // are tracked in the caller's scope instead of being dropped
        // here, since the returned plan reads them lazily.
        perLevel.foreach(CacheRegistry.track)
        done.foldLeft(frontier)(_ union _)
      }
    }
  }

  /** Distinct SimHash candidate id pairs (id_a < id_b, with both sigs)
    * before the hamming filter — exposed so tests and capacity planning
    * can measure candidate volume under a maxBucket cap.
    */
  def simhashCandidates(sigs: DataFrame, maxHamming: Int,
      maxBucket: Int = 0, maxDepth: Int = 3): DataFrame = {
    val keyed = simhashBuckets(sigs, maxHamming, maxBucket, maxDepth)
    keyed.as("a").join(keyed.as("b"),
        col("a.bkey") === col("b.bkey") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming —
    * EXACT output (recall guaranteed by pigeonhole blocking — recursive
    * under maxBucket, see simhashBuckets — precision by the explicit
    * hamming filter).
    *
    * With maxBucket > 0, simhashBuckets persists its re-split
    * frontiers, tracked in the caller's [[CacheRegistry.scoped]] block.
    */
  def simhashNearDups(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, maxBucket: Int = 0, maxDepth: Int = 3): DataFrame =
    simhashCandidates(simhashSigs(docs, textCol, idCol), maxHamming,
        maxBucket, maxDepth)
      .select(col("id_a"), col("id_b"),
        udfFreeHamming(col("sig_a"), col("sig_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** bit_count(a XOR b) as a Catalyst expression (no UDF). */
  private def udfFreeHamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Connected components via the ALTERNATING large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014 — public): near-duplicate CLUSTERS of a pair
    * table (id_a, id_b). Every doc in a pair gets cluster_id = the
    * smallest doc id reachable through dup edges (the canonical
    * representative a dedup pipeline keeps); minima map to themselves.
    * Each round's output is BOUNDED — large-star emits one edge per
    * (node, larger-neighbor) and small-star one per (node,
    * smaller-neighbor), so per-round edge volume never exceeds the
    * current edge count, where min-label propagation's join can fan a
    * high-degree node's label into every neighbor list each round.
    * Converges in O(log n) rounds, also on 10^9+ pair tables.
    *
    * Invariant: edges stay canonically oriented u > v. Large-star hangs
    * every larger neighbor v of u under m = min(N(u) ∪ {u}); small-star
    * re-hangs u and its smaller neighbors under m = min(N_<(u)).
    * Convergence = round fixpoint (edge set unchanged), detected with
    * one bag-union distinct count per round.
    */
  def dupClustersLargeStar(pairs: DataFrame, maxIters: Int = 64): DataFrame = {
    var edges = pairs.select(
        greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var iter = 0
    var changed = if (edges.isEmpty) 0L else 1L
    while (changed > 0 && iter < maxIters) {
      // large-star: neighbors over both orientations; attach v > u to m
      val nbrs = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val lmins = nbrs.groupBy("u")
        .agg(least(min(col("v")), col("u")).as("m"))
      // ls is NOT checkpointed (r06): its three consumers (smins, the
      // re-hang join, the union) sit inside the single ss plan below,
      // where ls ends in a distinct whose Exchange is reused across
      // consumers — a per-iteration eager checkpoint job bought nothing
      // (lineage growth stays bounded because ss IS checkpointed each
      // round, so ls's plan is always one round deep)
      val ls = nbrs.filter(col("v") > col("u"))
        .join(lmins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: all neighbors are < u (canonical orientation);
      // re-hang u and each smaller neighbor under the smallest one
      val smins = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(smins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .union(smins.select(col("u"), col("m").as("v")))
        .distinct()
        .localCheckpoint(true)
      // fixpoint check: every edge present on both sides appears twice
      // in the bag union (each side is distinct). isEmpty, not count():
      // the convergence decision needs one witness row, not the tally
      changed = if (ss.union(edges).groupBy("u", "v").count()
          .filter(col("count") =!= 2).isEmpty) 0L else 1L
      edges = ss
      iter += 1
    }
    require(changed == 0,
      s"dupClustersLargeStar did not converge in $maxIters rounds")
    edges.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
  }

  /** End-to-end near-dup removal — the operation a training-data
    * pipeline actually runs over the building blocks above: exact
    * n-gram Jaccard pairs → connected components → keep each cluster's
    * canonical (minimum id) document, anti-join the rest away.
    * Documents in no pair pass through untouched. For 10^9+ corpora
    * swap jaccardPairs for minhashNearDups (same pair contract) — the
    * clustering and anti-join stages are shared.
    *
    * Via jaccardPairs this materializes tracked corpus-sized tables:
    * the returned kept-docs frame is itself lazy, so run or persist it
    * INSIDE the caller's [[CacheRegistry.scoped]] block.
    */
  def dedupCorpus(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minJ: Double = 0.5,
      precomputedPairs: Option[DataFrame] = None,
      precomputedClusters: Option[DataFrame] = None): DataFrame = {
    // callers that already materialized the pair table (a pipeline that
    // also reports pairs) or the cluster table (one that also reports
    // clusters) pass them in instead of re-running the PPJoin /
    // large-star stages
    val clusters = precomputedClusters.getOrElse {
      val pairs = precomputedPairs.getOrElse(
        jaccardPairs(docs, textCol, idCol, n, minJ))
      dupClustersLargeStar(pairs)
    }
    val drop = clusters
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("__drop_id"))
    docs.join(drop, docs(idCol) === col("__drop_id"), "left_anti")
  }

  /** Exact-substring duplication stats (the n-gram-granularity form of
    * Lee et al. 2022's ExactSubstr dedup, "Deduplicating Training Data
    * Makes Language Models Better"): a token position is DUPLICATED if
    * any word n-gram covering it occurs >= 2 times in the whole corpus
    * (across or within docs). Returns one row per doc:
    * (doc_id, n_tok, dup_tok = covered positions, dup_frac) — the
    * per-document signal pipelines threshold on (drop the doc) or feed
    * to a span-cutter (rewrite the doc without the duplicated spans).
    *
    * 100-TB shape: gram rows carry (id, start) only; the df >= 2 set
    * comes from one map-side-combinable count (at petabyte scale the
    * grouping key would be xxhash64/md5 of the gram — identical counts,
    * collision-negligible — keeping shuffle keys at 8-16 bytes; kept as
    * strings here for oracle-exactness). Coverage expands ONLY the
    * duplicated starts (bounded n-times amplification of the dup set,
    * not the corpus) into positions and distinct-counts them per doc.
    * No corpus self-join anywhere — the quadratic trap of
    * substring-dedup formulations that join docs against docs.
    */
  def duplicatedSpanStats(docs: DataFrame, textCol: String, idCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "need n >= 1")
    // the gram table feeds two consumers (the dup-count aggregate and
    // the coverage join) — tracked materialization per the file's
    // recoverability contract, so the corpus is tokenized+exploded ONCE
    val g = CacheRegistry.materialize(docs.select(col(idCol).as("doc_id"),
      posexplode(graft.functions.TextFunctions.orderedGrams(col(textCol), n))
        .as(Seq("s", "gram"))))
    val dup = g.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select("gram")
    // covered-position count as an interval-union sweep (r06): each
    // duplicated start s covers [s, s+n); per doc the starts are
    // distinct, so over the ASCENDING start list the union size is
    // sum(min(n, s_i - s_{i-1})) with s_{-1} = -n. One groupBy(doc_id)
    // of the duplicated starts replaces the old explode(sequence) →
    // distinct → groupBy chain — no n-fold row amplification and two
    // fewer corpus-scaled exchanges; the per-doc sweep runs over a
    // bounded array (<= the doc's own token count). Bit-equal to the
    // distinct-position count by construction (DedupSpec pins it).
    val covered = g.join(dup, "gram")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("s"))).as("ss"))
      .select(col("doc_id"),
        aggregate(col("ss"),
          struct(lit(-n.toLong).as("prev"), lit(0L).as("cov")),
          (st, s0) => struct(s0.cast("long").as("prev"),
            (st.getField("cov") +
              least(lit(n.toLong), s0 - st.getField("prev"))).as("cov")),
          st => st.getField("cov")).as("dup_tok"))
    docs
      .select(col(idCol).as("doc_id"),
        size(tokens(col(textCol))).as("n_tok"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("dup_tok"), lit(0L)).as("dup_tok"))
      .withColumn("dup_frac",
        round(col("dup_tok") / col("n_tok"), 6))
  }
}
