package perfbench

import graft.Pipeline
import graft.data.CorpusGen
import graft.extract.{HtmlExtractor, Normalizer, PdfExtractor}
import graft.model.{Doc, ExtractConfig, ExtractedDoc}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import scala.util.control.NonFatal

/** `extract`: the batch job `graft.Main` runs without `--buckets`. One
  * caller runs it over a parquet corpus of `CorpusGen` docs (plain
  * format, no mega-docs) again and again, each pass writing the data and
  * audit tables to a fresh directory (closed loop). Every pass's output
  * is then checked doc by doc against the generator's goldens, outside
  * the timed region.
  */
object ExtractWorkload {

  val Docs = 40000L
  /** Passes continue until --seconds have passed and at least this many ran. */
  val MinPasses = 4
  /** Untimed passes first: the JIT keeps speeding a pass up over the
    * first few, and timing them would make the median drift.
    */
  private val WarmupPasses = 3
  private val InputFiles = 8

  /** The input corpus and the digest of its goldens, generated once
    * per seed into the input cache.
    */
  private def corpus(ctx: Ctx, spark: SparkSession,
      report: Report): (String, (Long, Long)) = {
    import spark.implicits._
    val dir = ctx.cache.resolve(s"extract-seed${ctx.seed}-docs$Docs")
    val digestFile = dir.resolve("golden-digest.txt")
    val seed = ctx.seed
    if (!Files.exists(digestFile)) {
      val (_, s) = Clock.timed {
        val count = spark.sparkContext.longAccumulator
        val sum = spark.sparkContext.longAccumulator
        spark.range(0, Docs, 1, InputFiles)
          .map { i =>
            val g = CorpusGen.genDoc(seed, i)
            count.add(1)
            sum.add(Golden.docHash(g.expected))
            g.input
          }
          .write.mode(SaveMode.Overwrite).parquet(dir.resolve("docs").toString)
        require(count.value == Docs, s"generated ${count.value} of $Docs docs")
        Files.writeString(digestFile, s"${count.value} ${sum.value}")
      }
      report.note("input_generation_s", s, "s")
    }
    val Array(n, sum) = Files.readString(digestFile).trim.split(" ")
    (dir.resolve("docs").toString, (n.toLong, sum.toLong))
  }

  /** One run of the job: scan, extract, write data, write audit. */
  private def job(spark: SparkSession, in: String, out: Path,
      stages: Int = 4): Unit = {
    import spark.implicits._
    val docs = spark.read.parquet(in).as[Doc]
    if (stages == 1) {
      docs.mapPartitions(it => Iterator.single(it.size)).write.format("noop")
        .mode(SaveMode.Overwrite).save()
      return
    }
    val acc = Pipeline.auditAccumulator(spark)
    val extracted = Pipeline.extract(docs, ExtractConfig(), snapshotId = 1L, audit = acc)
    if (stages == 2) {
      extracted.write.format("noop").mode(SaveMode.Overwrite).save()
      return
    }
    extracted.write.mode(SaveMode.ErrorIfExists).parquet(out.resolve("extracted").toString)
    if (stages == 3) return
    val audit = Pipeline.auditRows(acc)
    spark.createDataset(audit).coalesce(1)
      .write.mode(SaveMode.ErrorIfExists).parquet(out.resolve("audit").toString)
  }

  /** Docs of one pass's output that are missing, repeated or differ
    * from their golden in (kind, text, media_ref, order) or success. The
    * output's digest is compared with the goldens' first; only on a
    * mismatch is every doc compared with its golden.
    */
  private def wrongDocs(spark: SparkSession, seed: Long, out: Path,
      golden: (Long, Long)): Long = {
    import spark.implicits._
    val got = spark.read.parquet(out.resolve("extracted").toString).as[ExtractedDoc]
    val digest = got.mapPartitions(it => Iterator.single(Golden.digest(it)))
      .collect().foldLeft((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    if (digest == golden) return 0L
    val differing = got.filter(d =>
      d != CorpusGen.genDoc(seed, d.doc_id.stripPrefix("doc-").toLong).expected).count()
    val distinct = got.select("doc_id").distinct().count()
    (differing + (Docs - distinct) + (digest._1 - distinct)).max(1L)
  }

  def run(ctx: Ctx, report: Report): Unit = {
    val (spark, sessionS) = Clock.timed(Session.start(ctx.work, Session.Cores))
    val (in, golden) = corpus(ctx, spark, report)
    val outRoot = ctx.work.resolve("out")
    var k = 0

    /* One pass over the first `stages` steps of the job, traced when a
     * listener is given; the listener is sampled before the check. A pass
     * that throws or whose Spark jobs fail fails all its docs; a full pass
     * also fails each doc that differs from its golden. A failed pass
     * reads NaN, so it is never taken as a timing.
     */
    def checkedPass(stages: Int = 4,
        trace: Option[Trace] = None): (Double, Option[Sample]) = {
      k += 1
      val out = outRoot.resolve(s"pass-$k")
      report.attempted += Docs
      trace.foreach(_.start())
      val wall =
        try Clock.timed(job(spark, in, out, stages))._2
        catch { case NonFatal(e) =>
          report.problem(s"pass $k failed: ${e.getMessage}"); Double.NaN }
      val sample = trace.map { t => val s = t.sample(); t.stop(); s }
      val wrong =
        if (wall.isNaN) Docs
        else if (sample.exists(_.failedJobs > 0)) {
          report.problem(s"pass $k: ${sample.get.failedJobs} Spark jobs failed"); Docs
        } else if (stages < 4) 0L
        else {
          val n = wrongDocs(spark, ctx.seed, out, golden)
          if (n > 0) report.problem(s"pass $k: $n docs differ from their goldens")
          n
        }
      report.failed += wrong
      Dirs.delete(out)
      (if (wrong > 0) Double.NaN else wall, sample)
    }

    val warmS = (1 to WarmupPasses).map(_ => checkedPass()._1).sum
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var retainedMb = 0.0
    val t0 = Clock.now()
    while (passWalls.size < MinPasses || Clock.secs(t0) < ctx.seconds) {
      passWalls += checkedPass()._1
      retainedMb = retainedMb max Proc.retainedHeapMb()
    }
    val walls = passWalls.filterNot(_.isNaN).toSeq
    Log(s"extract: pass walls ${walls.mkString(" ")}")
    report.note("session_start_s", sessionS, "s")
    report.note("warmup_passes_s", warmS, "s")
    report.note("passes", walls.size, "count")
    report.note("docs_per_s", Docs * walls.size / walls.sum, "docs/s")
    val (tailS, tailPct) = Stats.tail(walls)
    report.note("pass_tail_s", tailS, "s")
    report.note("pass_tail_percentile", tailPct, "%")

    if (!ctx.trace) {
      report.add("setup_s", sessionS + warmS, "s")
      report.add("op_p50_s", Stats.median(walls), "s")
      report.add("round_s", Stats.median(walls), "s")
      report.memory(retainedMb)
    } else {
      val trace = new Trace(spark)
      // staged prefixes: scan+decode, +extract, +data write, +audit write
      val prefix = (1 to 4).map(st =>
        Stats.median((1 to 2).map(_ => checkedPass(st, Some(trace))._1)))
      // the full job, untraced and traced in alternation
      val (plain, traced) = Trace.alternate(4)(on =>
        checkedPass(trace = if (on) Some(trace) else None))
      report.add("trace_overhead_frac",
        Trace.overhead(plain.map(_._1), traced.map(_._1)), "ratio")
      report.add("pipeline.scan_decode_s", prefix(0), "s")
      report.add("pipeline.extract_s", prefix(1) - prefix(0), "s")
      report.add("pipeline.write_s", prefix(2) - prefix(1), "s")
      report.add("pipeline.audit_s", prefix(3) - prefix(2), "s")
      report.note("pipeline.traced_full_s", prefix(3), "s")
      val samples = traced.flatMap(_._2)
      report.add("pipeline.gc_frac",
        samples.map(_.gcMs).sum.toDouble / samples.map(_.runMs).sum.max(1L), "ratio")
      report.add("pipeline.task_skew", Stats.median(samples.map(_.skew)), "ratio")
      report.add("pipeline.shuffle_mb", Stats.median(samples.map(_.shuffleMb)), "MB")
      kernels(ctx.seed).foreach { case (kind, ns) =>
        report.add(s"extract.${kind}_ns_per_span", ns, "ns") }
    }
    spark.stop()
  }

  /** Single-thread ns per span of each per-kind kernel, over spans
    * replayed from the corpus: the median of five timed rounds, each at
    * least 200 ms, after one untimed round.
    */
  def kernels(seed: Long): Seq[(String, Double)] = {
    val spans = (0L until 4000L).flatMap(i => CorpusGen.genDoc(seed, i).input.spans)
      .filter(s => s.text != null && s.text.trim.nonEmpty)
    val kernel: Map[String, String => String] = Map(
      "html" -> (t => HtmlExtractor.extract(t, false)),
      "pdf" -> (t => PdfExtractor.extract(t)),
      "image" -> (t => Normalizer.normalize(t)))
    Seq("html", "pdf", "image").map { kind =>
      val texts = spans.filter(_.kind == kind).map(_.text).toArray
      val f = kernel(kind)
      var sink = 0L
      def round(): Double = {
        val t0 = Clock.now()
        var n = 0L
        while (Clock.secs(t0) < 0.2) {
          var i = 0
          while (i < texts.length) { sink += f(texts(i)).length; i += 1 }
          n += texts.length
        }
        (Clock.now() - t0).toDouble / n
      }
      round()
      val ns = Stats.median((1 to 5).map(_ => round()))
      if (sink == 42) println("") // keeps the kernel results live
      kind -> ns
    }
  }
}
