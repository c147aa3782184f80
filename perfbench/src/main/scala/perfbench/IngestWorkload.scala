package perfbench

import graft.{Job, Pipeline}
import graft.data.CorpusGen
import graft.model.{Doc, ExtractConfig, ExtractedDoc}
import graft.snapshot.SnapshotStore
import graft.streaming.StreamExtract
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.{array_join, col, size, transform}
import org.apache.spark.sql.streaming.Trigger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** `ingest`: incremental ingest into a `SnapshotStore`. Set-up copies a
  * committed store (built once per checkout by `extractStream` itself,
  * so its checkpoint continues) and runs one warm-up batch on that copy,
  * which is then thrown away. The timed region then hands `extractStream(AvailableNow,
  * dedupCommitted = true)` one arrival file per call and awaits it, one
  * micro-batch per call, one caller (closed loop). Each arrival file
  * holds fresh docs, one mega-doc above `saltThreshold`, and planted
  * docs repeating the content of committed docs under new ids.
  *
  * The run ingests a fixed number of files rather than running for a
  * fixed time: every batch rescans the committed store, so the batch
  * walls depend on how many batches ran before.
  */
object IngestWorkload {

  val StoreDocs = 20000L
  val ArrivalFiles = 6
  val FileDocs = 300
  val DupsPerFile = 30
  val MegaSpans = 20000
  /** Untimed batches on a throwaway store copy before the timed ones. */
  private val WarmupFiles = 1

  /** Arrival file f holds the doc indices [base + f * Block, base +
    * (f + 1) * Block); the first of them is a mega-doc.
    */
  private val Block = FileDocs.toLong + 1
  private val Base = Block * (StoreDocs / Block + 1)
  private val Gen = CorpusGen.GenConfig(megaEvery = Block, megaSpans = MegaSpans)

  private def fileOf(docId: String): Int =
    if (docId.startsWith("dup-")) docId.split("-")(1).toInt
    else ((docId.stripPrefix("doc-").toLong - Base) / Block).toInt

  /** The committed store does not depend on the seed, so it is built
    * once per checkout; the arrival files do.
    */
  private val StoreSeed = CorpusGen.DefaultSeed

  /** Planted duplicate k of file f: a committed doc's spans, new id. */
  private def dup(seed: Long, f: Int, k: Int): Doc = {
    val r = new scala.util.Random(seed * 31 + f * 1009 + k)
    val src = Iterator.continually(r.nextLong(StoreDocs)).map(CorpusGen.genDoc(StoreSeed, _))
      .find(g => g.expected.spans.nonEmpty).get
    Doc(s"dup-$f-$k", src.input.spans)
  }

  private def arrivalDocs(seed: Long, f: Int): Iterator[Doc] =
    (Base + f * Block until Base + (f + 1) * Block).iterator
      .map(CorpusGen.genDoc(seed, _, Gen).input) ++
      (0 until DupsPerFile).iterator.map(dup(seed, f, _))

  /** Inputs: the pristine live directory (store, checkpoint, stream
    * input), the arrival files, the warm-up file, and the ids the dedup
    * must keep.
    */
  private final case class Inputs(pristine: Path, arrivals: IndexedSeq[Path],
      warmup: Seq[Path], survivors: Set[String])

  private def live(ctx: Ctx): Path = ctx.work.resolve("live")

  private def inputs(ctx: Ctx, spark: SparkSession, report: Report): Inputs = {
    import spark.implicits._
    val pristine = ctx.cache.resolve(s"ingest-store$StoreDocs")
    if (!Files.exists(pristine.resolve("store"))) {
      val (_, s) = Clock.timed {
        Log("ingest: building the committed store")
        val l = Dirs.fresh(live(ctx))
        spark.range(0, StoreDocs, 1, 4).map(i => CorpusGen.genDoc(StoreSeed, i).input)
          .write.parquet(l.resolve("input").toString)
        require(runBatch(spark, l, dedup = false).ok, "building the committed store failed")
        Dirs.copy(l, pristine.resolveSibling(pristine.getFileName.toString + ".tmp"))
        Files.move(pristine.resolveSibling(pristine.getFileName.toString + ".tmp"), pristine)
      }
      report.note("store_generation_s", s, "s")
    }
    val seed = ctx.seed
    val dir = ctx.cache.resolve(s"ingest-seed$seed-files${ArrivalFiles}+${WarmupFiles}x$FileDocs")
    val arrivalDir = dir.resolve("arrivals")
    val expectFile = dir.resolve("survivors.txt")
    val arrivals = (0 until ArrivalFiles + WarmupFiles).map(f =>
      arrivalDir.resolve(f"arrival-$f%03d.parquet"))
    if (!Files.exists(expectFile)) {
      val (_, s) = Clock.timed {
        Dirs.fresh(dir)
        Log("ingest: writing the arrival files")
        // arrival files; the last ones are the warm-up files
        val raw = dir.resolve("arrivals-raw")
        spark.range(0, arrivals.size, 1, arrivals.size)
          .flatMap(f => arrivalDocs(seed, f.toInt))
          .write.parquet(raw.toString)
        Files.createDirectories(arrivalDir)
        val parts = Files.list(raw).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.toString)
        require(parts.size == arrivals.size, s"expected ${arrivals.size} arrival files")
        parts.zip(arrivals).foreach { case (p, a) => Files.move(p, a) }
        Dirs.delete(raw)
        Log("ingest: deriving the expected survivors")
        // the survivors the committed-store dedup must keep, batch by batch
        val committed = mutable.HashSet.empty[String]
        committed ++= spark.range(0, StoreDocs, 1, 4)
          .map(i => Golden.content(CorpusGen.genDoc(StoreSeed, i).expected)).collect()
        val keep = (0 until ArrivalFiles).map { f =>
          val fresh = (Base + f * Block until Base + (f + 1) * Block)
            .map(i => CorpusGen.genDoc(seed, i, Gen).expected)
          val kept = fresh.filterNot(d => committed.contains(Golden.content(d)))
          kept.foreach(d => committed += Golden.content(d))
          kept.map(_.doc_id)
        }
        Files.write(expectFile, keep.map(_.mkString(" ")).asJava)
      }
      report.note("input_generation_s", s, "s")
    }
    val keep = Files.readAllLines(expectFile).asScala.map(_.split(" ").filter(_.nonEmpty).toSeq)
    Inputs(pristine, arrivals.take(ArrivalFiles), arrivals.drop(ArrivalFiles),
      keep.flatten.toSet)
  }

  /** One `extractStream` call over whatever is new in `l/input`. */
  private final case class Batch(wall: Double, ok: Boolean, batches: Int,
      addBatchMs: Double, triggerMs: Double)

  private def runBatch(spark: SparkSession, l: Path, dedup: Boolean): Batch = {
    val t0 = Clock.now()
    val q = StreamExtract.extractStream(spark, l.resolve("input").toString,
      l.resolve("store").toString, l.resolve("checkpoint").toString,
      ExtractConfig(), Trigger.AvailableNow(), dedupCommitted = dedup)
    val ok =
      try { q.awaitTermination(); q.exception.isEmpty }
      catch { case NonFatal(_) => false }
    val wall = Clock.secs(t0)
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    def ms(key: String) = progress.map(p =>
      Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum
    Batch(wall, ok, progress.length, ms("addBatch"), ms("triggerExecution"))
  }

  /** Copy a fresh live directory from the pristine one and ingest the
    * given arrival files one call each. `trace(i)` is the listener that
    * traces the call for file i, if any; `after` runs after each call,
    * outside its wall.
    */
  private def ingest(spark: SparkSession, ctx: Ctx, in: Inputs, files: Seq[Path],
      dedup: Boolean, trace: Int => Option[Trace] = _ => None,
      after: Batch => Unit = _ => ()): Seq[(Batch, Option[Sample])] = {
    val l = live(ctx)
    Dirs.delete(l)
    Dirs.copy(in.pristine, l)
    files.zipWithIndex.map { case (f, i) =>
      Log(s"ingest: batch ${f.getFileName} dedup=$dedup")
      Files.copy(f, l.resolve("input").resolve(f.getFileName))
      val t = trace(i)
      t.foreach(_.start())
      val b = runBatch(spark, l, dedup)
      val sample = t.map { x => val s = x.sample(); x.stop(); s }
      after(b)
      (b, sample)
    }
  }

  /** Counts a batch as an operation; true when it did not fail. One that
    * threw, ran as more than one micro-batch, or whose Spark jobs failed
    * is a failed operation.
    */
  private def tally(report: Report, what: String, b: Batch, s: Option[Sample]): Boolean = {
    report.attempted += 1
    val why =
      if (!b.ok) Some("failed")
      else if (b.batches != 1) Some(s"ran as ${b.batches} micro-batches, not 1")
      else s.filter(_.failedJobs > 0).map(x => s"had ${x.failedJobs} failed Spark jobs")
    why.foreach { w => report.failed += 1; report.problem(s"$what $w") }
    why.isEmpty
  }

  def run(ctx: Ctx, report: Report): Unit = {
    val t0 = Clock.now()
    val spark = Session.start(ctx.work, Session.Cores)
    val sessionS = Clock.secs(t0)
    val in = inputs(ctx, spark, report)

    // set-up: store copy plus warm-up batches on a throwaway copy
    val tw = Clock.now()
    val warm = ingest(spark, ctx, in, in.warmup, dedup = true)
    if (!warm.forall(_._1.ok)) report.problem("a warm-up batch failed")
    val setupS = sessionS + Clock.secs(tw)

    Log("ingest: timed batches")
    // a traced run traces the even files' batches of this series and the
    // odd files' of a second one, so each file runs once of each kind
    val trace = if (ctx.trace) Some(new Trace(spark)) else None
    var retainedMb = 0.0
    val first = ingest(spark, ctx, in, in.arrivals, dedup = true,
      trace = f => trace.filter(_ => f % 2 == 0),
      after = _ => if (!ctx.trace) retainedMb = retainedMb max Proc.retainedHeapMb())
    val checkS = Clock.timed(check(spark, ctx, in, first, report))._2
    report.note("session_start_s", sessionS, "s")
    report.note("check_s", checkS, "s")

    trace match {
      case None =>
        val walls = first.map(_._1).filter(_.ok).map(_.wall)
        Log(s"ingest: warm-up walls ${warm.map(_._1.wall).mkString(" ")}, timed walls ${walls.mkString(" ")}")
        val (tailS, tailPct) = Stats.tail(walls)
        report.note("docs_per_s", ArrivalFiles * (Block + DupsPerFile) / walls.sum, "docs/s")
        report.note("batch_p50_s", Stats.median(walls), "s")
        report.note("batch_tail_s", tailS, "s")
        report.note("batch_tail_percentile", tailPct, "%")
        report.add("setup_s", setupS, "s")
        report.add("op_p50_s", Stats.median(walls), "s")
        report.add("round_s", walls.sum, "s")
        report.memory(retainedMb)
      case Some(t) => traced(spark, ctx, in, t, first, report)
    }
    spark.stop()
  }

  /** Committed rows must be the store's docs plus exactly the expected
    * survivors, each equal to its golden; every planted duplicate must be
    * gone. A batch fails as `tally` says, or if any of its docs is wrong.
    */
  private def check(spark: SparkSession, ctx: Ctx, in: Inputs,
      batches: Seq[(Batch, Option[Sample])], report: Report): Unit = {
    import spark.implicits._
    val store = new SnapshotStore(live(ctx).resolve("store").toString)
    val data = Job.readExtracted(spark, store)
    val seed = ctx.seed
    val arrived = data.filter(d => !d.doc_id.startsWith("doc-") ||
      d.doc_id.stripPrefix("doc-").toLong >= Base)
    val rows = arrived.mapPartitions(_.map { d =>
      val ok = !d.doc_id.startsWith("dup-") &&
        d == CorpusGen.genDoc(seed, d.doc_id.stripPrefix("doc-").toLong, Gen).expected
      (d.doc_id, ok)
    }).collect()
    val ids = rows.map(_._1)
    val wrong = rows.filterNot(_._2).map(_._1).toSet ++
      (in.survivors -- ids) ++ ids.diff(ids.distinct) ++ ids.filterNot(in.survivors)
    val storeRows = data.count() - ids.length
    if (storeRows != StoreDocs)
      report.problem(s"the store holds $storeRows of its $StoreDocs committed docs")
    if (wrong.nonEmpty)
      report.problem(s"${wrong.size} committed docs differ from the expected survivors, " +
        s"e.g. ${wrong.take(3).mkString(", ")}")
    val planted = ArrivalFiles * DupsPerFile
    val dupsLeft = ids.count(_.startsWith("dup-"))
    report.note("streaming.dups_dropped_ratio", (planted - dupsLeft).toDouble / planted, "ratio")
    val manifestDocs = store.latest.map(_.buckets.map(_.docs).sum).getOrElse(0L)
    report.note("snapshot.manifest_doc_drift",
      (manifestDocs - (storeRows + ids.length)).toDouble, "count")
    val failedFiles = batches.zipWithIndex.filterNot { case ((b, s), f) =>
      tally(report, s"arrival file $f", b, s) }.map(_._2).toSet
    report.failed += (wrong.map(fileOf) -- failedFiles).size
  }

  /** Batch wall against committed-store size: the same warm-up file is
    * ingested into the store as built and into a copy whose committed
    * data is tripled (two more buckets holding copies of its data files);
    * the slope is the change in batch wall per 1000 committed docs.
    */
  private def latencySlope(spark: SparkSession, ctx: Ctx, in: Inputs,
      report: Report): Double = {
    val copies = 3
    def batchAt(n: Int): Double = {
      val l = live(ctx)
      Dirs.delete(l)
      Dirs.copy(in.pristine, l)
      val store = new SnapshotStore(l.resolve("store").toString)
      val first = store.latest.get.buckets.head
      (1 until n).foreach { k =>
        val d = java.nio.file.Paths.get(first.dataDir).resolveSibling(s"copy-$k")
        Dirs.copy(java.nio.file.Paths.get(first.dataDir), d)
        store.commit(100000 + k, d.toString, first.auditDir, first.docs)
      }
      Files.copy(in.warmup.head, l.resolve("input").resolve(in.warmup.head.getFileName))
      val b = runBatch(spark, l, dedup = true)
      tally(report, s"the latency-slope batch at ${n}x the store", b, None)
      b.wall
    }
    val small = batchAt(1)
    val big = batchAt(copies)
    (big - small) * 1000 / ((copies - 1) * StoreDocs / 1000.0)
  }

  /** Per-layer figures. `first` is the checked series, whose even files'
    * batches were traced; a second series over the same files traces the
    * odd files' batches, so each file is ingested once traced and once
    * untraced at the same committed-store size.
    */
  private def traced(spark: SparkSession, ctx: Ctx, in: Inputs, trace: Trace,
      first: Seq[(Batch, Option[Sample])], report: Report): Unit = {
    import spark.implicits._
    val second = ingest(spark, ctx, in, in.arrivals, dedup = true,
      trace = f => if (f % 2 == 1) Some(trace) else None)
    second.zipWithIndex.foreach { case ((b, s), f) =>
      tally(report, s"second-series batch of file $f", b, s) }
    val (on, off) = (first ++ second).partition(_._2.isDefined)
    val tr = on.map(_._1)
    val offWalls = off.map(_._1.wall)
    report.add("trace_overhead_frac", tr.map(_.wall).sum / offWalls.sum - 1, "ratio")
    report.add("streaming.add_batch_p50_ms", Stats.median(tr.map(_.addBatchMs)), "ms")
    report.add("streaming.overhead_p50_ms",
      Stats.median(tr.map(b => b.triggerMs - b.addBatchMs)), "ms")
    val samples = on.flatMap(_._2)
    report.add("pipeline.gc_frac",
      samples.map(_.gcMs).sum.toDouble / samples.map(_.runMs).sum.max(1L), "ratio")
    report.add("pipeline.task_skew", Stats.median(samples.map(_.skew)), "ratio")
    report.add("pipeline.shuffle_mb", Stats.median(samples.map(_.shuffleMb)), "MB")
    val checked = report.info.filter(m => m.name.startsWith("streaming.") ||
      m.name.startsWith("snapshot."))
    report.info --= checked
    report.metrics ++= checked

    // layer probes on a copy of the final store
    val copy = ctx.work.resolve("store-copy")
    Dirs.copy(live(ctx).resolve("store"), copy)
    val store = new SnapshotStore(copy.toString)
    val latestMs = Stats.median((1 to 20).map(_ => Clock.timed(store.latest)._2 * 1000))
    report.add("snapshot.latest_ms", latestMs, "ms")
    val readS = Stats.median((1 to 3).map { _ =>
      Clock.timed {
        val d = Job.readData(spark, store)
        d.select(array_join(transform(col("spans"), s => s.getField("text")), "\n"))
          .write.format("noop").mode(SaveMode.Overwrite).save()
      }._2
    })
    report.add("snapshot.read_s", readS, "s")
    val last = store.latest.get.buckets.last
    val commitMs = Stats.median((1 to 20).map { k =>
      Clock.timed(store.commit(100000 + k, last.dataDir, last.auditDir, last.docs))._2 * 1000
    })
    report.add("snapshot.commit_ms", commitMs, "ms")

    // Pipeline.extract over the mega-docs alone
    val mega = spark.read.parquet(in.arrivals.map(_.toString): _*).as[Doc]
      .filter(size(col("spans")) > ExtractConfig().saltThreshold).cache()
    val megaSpans = mega.map(_.spans.size.toLong).collect().sum
    val megaS = Stats.median((1 to 3).map(_ => Clock.timed(
      Pipeline.extract(mega).write.format("noop").mode(SaveMode.Overwrite).save())._2))
    mega.unpersist()
    report.add("pipeline.mega_spans_per_s", megaSpans / megaS, "spans/s")

    // the same files without the committed-store dedup
    val plain = ingest(spark, ctx, in, in.arrivals, dedup = false).zipWithIndex.map {
      case ((b, _), f) => tally(report, s"the no-dedup batch of file $f", b, None); b.wall }
    report.add("streaming.dedup_share", 1 - Stats.median(plain) / Stats.median(offWalls), "ratio")
    report.add("streaming.latency_slope_ms_per_kdoc", latencySlope(spark, ctx, in, report), "ms/kdoc")
  }
}
