package perfbench

import graft.SparkEntry
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Entry point of the benchmark JVM (started by perfbench/run.py):
  *
  *   --workload extract|ingest|queries --seed N --seconds S --trace 0|1
  *   --work DIR --cache DIR --home DIR
  *
  * Prints every metric by name with its unit, then, as the last line of
  * standard output, one JSON object: correct, attempted, failed and the
  * metrics of the requested kind (end-to-end with --trace 0, per layer
  * with --trace 1). Exits 1 when any output is wrong or any operation
  * failed.
  */
object Main {

  /** Every per-layer metric, in report order. A traced run reports all
    * of them; a layer the workload does not exercise reads 0.
    */
  lazy val layers: Seq[(String, String)] = Seq(
    "trace_overhead_frac" -> "ratio",
    "extract.html_ns_per_span" -> "ns",
    "extract.pdf_ns_per_span" -> "ns",
    "extract.image_ns_per_span" -> "ns",
    "pipeline.scan_decode_s" -> "s",
    "pipeline.extract_s" -> "s",
    "pipeline.write_s" -> "s",
    "pipeline.audit_s" -> "s",
    "pipeline.gc_frac" -> "ratio",
    "pipeline.task_skew" -> "ratio",
    "pipeline.shuffle_mb" -> "MB",
    "pipeline.mega_spans_per_s" -> "spans/s",
    "snapshot.commit_ms" -> "ms",
    "snapshot.latest_ms" -> "ms",
    "snapshot.read_s" -> "s",
    "snapshot.manifest_doc_drift" -> "count",
    "streaming.add_batch_p50_ms" -> "ms",
    "streaming.overhead_p50_ms" -> "ms",
    "streaming.latency_slope_ms_per_kdoc" -> "ms/kdoc",
    "streaming.dedup_share" -> "ratio",
    "streaming.dups_dropped_ratio" -> "ratio",
  ) ++ SparkEntry.queries.keys.toSeq.sorted.map(n => s"queries.${n}_s" -> "s") ++
    QueriesWorkload.Detailed.flatMap { case (q, _) =>
      Seq(s"queries.$q.shuffle_mb" -> "MB", s"queries.$q.skew" -> "ratio") } ++
    Seq("queries.jobs" -> "count", "queries.stages" -> "count",
      "queries.spill_mb" -> "MB", "queries.cached_mb_left" -> "MB")

  /** `--key value` pairs. */
  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val ctx = Ctx(o("workload"), o("seed").toLong, o("seconds").toInt,
      o.get("trace").contains("1"), Paths.get(o("work")).toAbsolutePath,
      Paths.get(o("cache")).toAbsolutePath, Paths.get(o("home")).toAbsolutePath)
    Dirs.fresh(ctx.work)
    Files.createDirectories(ctx.cache)
    val report = new Report(ctx.workload)
    try ctx.workload match {
      case "extract" => ExtractWorkload.run(ctx, report)
      case "ingest"  => IngestWorkload.run(ctx, report)
      case "queries" => QueriesWorkload.run(ctx, report)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        report.problem(s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (ctx.trace) {
      val have = report.metrics.map(m => m.name -> m).toMap
      report.metrics.clear()
      report.metrics ++= layers.map { case (n, u) => have.getOrElse(n, Metric(n, 0.0, u)) }
    }
    report.printHuman()
    println(report.json)
    System.out.flush()
    sys.exit(if (report.correct) 0 else 1)
  }
}
