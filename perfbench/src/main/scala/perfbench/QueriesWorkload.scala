package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

/** `queries`: `SparkEntry.queries`, each called as a user calls it and
  * written to a `noop` sink, one after the other (closed loop, one
  * caller). Set-up runs each query once, collects its result and checks
  * row count and canonical hash against the recorded reference, then
  * runs `WarmPasses` more untimed passes to the sink, which also read
  * the heap each query retains; all of them are the warm-up.
  * Timed passes over the `Timed` queries follow, each in an order drawn
  * from the seed, until --seconds have passed and at least `MinPasses`
  * ran. Cached storage is freed between queries, outside the timed
  * region. A traced run has no timed passes:
  * it checks and times every query, then runs the timed set untraced and
  * traced in alternation to measure the tracing overhead.
  */
object QueriesWorkload {

  val DataSet = "sf0.01"

  /** Queries whose shuffle volume and task skew are reported per layer. */
  val Detailed: Seq[(String, String)] = Seq(
    "s3" -> "s3_cosine_neardups", "d2" -> "d2_ngram_jaccard",
    "d3" -> "d3_minhash_neardups", "d4" -> "d4_simhash_neardups",
    "d8" -> "d8_dup_spans", "t9" -> "t9_unigram_logppl",
    "b1" -> "b1_bloom_dedup", "q3" -> "q3_revenue_by_nation",
    "q4" -> "q4_topk_orders", "x3" -> "x3_tolerant_compare")

  /** The queries of the timed passes: an LSH self-join, a dedup self-join
    * over cached intermediates and a join chain. The run budget allows no
    * more; the traced run times all of the queries.
    */
  val Timed: Seq[String] = Seq("s3_cosine_neardups", "d2_ngram_jaccard",
    "q3_revenue_by_nation")

  /** Untimed passes to the sink after the checked pass. The first one
    * still compiles the sink's plans; after it a query's wall falls
    * steeply for a pass or two, as the JIT catches up, and slowly after.
    */
  val WarmPasses = 2

  /** Timed passes continue until --seconds have passed and at least this
    * many ran, so each query's wall is a median of five or more samples.
    */
  val MinPasses = 5

  /** Size of Spark's cache of compiled generated classes. At its default
    * (100) the three timed queries, which generate about 120 classes,
    * evict each other's, and a call recompiles between 0 and 57 classes
    * depending on which queries ran before it. A cache that holds every
    * class of the run keeps code generation in set-up, where each plan
    * is compiled once, and out of the timed walls.
    */
  val CodegenCacheEntries = 10000

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private def referencePath(ctx: Ctx): Path =
    ctx.home.resolve("reference").resolve(s"queries_$DataSet.json")

  private def runNoop(spark: SparkSession, dir: String, name: String): Unit =
    SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()

  def run(ctx: Ctx, report: Report): Unit = {
    val dir = ctx.home.resolve("data").resolve(DataSet).toString
    val all = SparkEntry.queries.keys.toSeq.sorted
    val timedSet = Timed.sorted
    val (spark, sessionS) = Clock.timed(
      Session.start(ctx.work, shufflePartitions = 8, splitBytes = Some(8L << 20),
        codegenCacheEntries = Some(CodegenCacheEntries)))

    // set-up: a warm-up pass that also checks every result it produces
    val checked = if (ctx.trace) all else timedSet
    val (results, warmS) = Clock.timed(checked.map { n =>
      val r =
        try Right(Canon.hash(SparkEntry.queries(n)(spark, dir)))
        catch { case NonFatal(e) => Left(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      Session.freeStorage(spark)
      n -> r
    })
    val ref = mapper.readValue(referencePath(ctx).toFile, classOf[Map[String, Map[String, Any]]])
    val wrong = results.flatMap {
      case (n, Left(err)) => Some(n -> err)
      case (n, Right((rows, h))) => ref.get(n) match {
        case None => Some(n -> s"$n: no reference recorded")
        case Some(m) if m("rows").toString.toLong != rows || m("hash") != h =>
          Some(n -> s"$n: rows=$rows hash=$h, reference rows=${m("rows")} hash=${m("hash")}")
        case _ => None
      }
    }.toMap
    wrong.values.foreach(report.problem)
    if (ref.size != all.size)
      report.problem(s"reference lists ${ref.size} queries, the program has ${all.size}")
    val failedOps = mutable.LinkedHashSet.empty[String] ++= wrong.keys

    /* One call of query n, closed loop, traced when a listener is given.
     * A call that throws or whose Spark jobs fail is failed and its wall
     * is not used. With `heap`, the heap the query still holds is taken
     * after its wall. Cached storage is freed afterwards.
     */
    def once(n: String, trace: Option[Trace], heap: Boolean = false): Run = {
      trace.foreach(_.start())
      val t0 = Clock.now()
      val threw =
        try { runNoop(spark, dir, n); false }
        catch { case NonFatal(e) => report.problem(s"$n failed: ${e.getMessage}"); true }
      val wall = Clock.secs(t0)
      val sample = trace.map { t => val s = t.sample(); t.stop(); s }
      sample.filter(_.failedJobs > 0).foreach(s =>
        report.problem(s"$n: ${s.failedJobs} Spark jobs failed"))
      val ok = !threw && !sample.exists(_.failedJobs > 0)
      if (!ok) failedOps += n
      val retained = if (heap) Proc.retainedHeapMb() else 0.0
      val left = Session.cachedMb(spark)
      Session.freeStorage(spark)
      if (heap) Log(f"queries: $n wall $wall%.3f s, heap retained $retained%.1f MB, cached $left%.1f MB")
      else if (trace.isEmpty) Log(f"queries: $n wall $wall%.3f s")
      Run(n, ok, wall, sample, left, retained)
    }

    val rng = new Random(ctx.seed)
    report.note("session_start_s", sessionS, "s")
    report.note("warmup_check_s", warmS, "s")
    if (!ctx.trace) {
      // set-up, continued: untimed passes to the sink, as timed, which
      // also read the heap each query retains
      val warm = (1 to WarmPasses).flatMap(_ =>
        rng.shuffle(timedSet).map(once(_, None, heap = true)))
      val setupS = sessionS + warmS + warm.map(_.wall).sum
      // timed passes over the timed set, each in the seed's order
      val t0 = Clock.now()
      val runs = mutable.ArrayBuffer.empty[Run]
      while (runs.size < MinPasses * timedSet.size || Clock.secs(t0) < ctx.seconds)
        runs ++= rng.shuffle(timedSet).map(once(_, None))
      val perQuery = runs.filter(_.ok).groupBy(_.name).view
        .mapValues(r => Stats.median(r.map(_.wall).toSeq)).toMap
      val suiteS = perQuery.values.sum
      report.note("passes", runs.size / timedSet.size, "count")
      report.note("suite_s", suiteS, "s")
      perQuery.toSeq.sorted.foreach { case (n, w) => report.note(s"${n}_s", w, "s") }
      report.add("setup_s", setupS, "s")
      report.add("op_p50_s", Stats.median(perQuery.values.toSeq), "s")
      report.add("round_s", suiteS, "s")
      report.memory(warm.map(_.retainedMb).max)
    } else {
      val trace = new Trace(spark)
      val traced = rng.shuffle(all).map(once(_, Some(trace)))
      // the timed set, untraced and traced in alternation
      val (plainS, tracedS) = Trace.alternate(2)(on =>
        timedSet.map(once(_, if (on) Some(trace) else None).wall).sum)
      report.add("trace_overhead_frac", Trace.overhead(plainS, tracedS), "ratio")
      val byName = traced.map(t => t.name -> t).toMap
      traced.filter(_.ok).foreach(t => report.add(s"queries.${t.name}_s", t.wall, "s"))
      Detailed.foreach { case (short, n) =>
        val s = byName(n).sample.get
        report.add(s"queries.$short.shuffle_mb", s.shuffleMb, "MB")
        report.add(s"queries.$short.skew", s.skew, "ratio")
      }
      val samples = traced.flatMap(_.sample)
      report.add("queries.jobs", samples.map(_.jobs).sum, "count")
      report.add("queries.stages", samples.map(_.stages).sum, "count")
      report.add("queries.spill_mb", samples.map(_.spillMb).sum, "MB")
      report.add("queries.cached_mb_left", traced.map(_.cachedMbLeft).sum, "MB")
    }
    report.attempted = (timedSet ++ checked).distinct.size
    report.failed = failedOps.size
    spark.stop()
  }

  private final case class Run(name: String, ok: Boolean, wall: Double,
      sample: Option[Sample], cachedMbLeft: Double, retainedMb: Double)
}
