package graft.streaming

import graft.{Job, TestSpark}
import graft.data.CorpusGen
import graft.model._
import graft.operators.CacheRegistry
import graft.snapshot.SnapshotStore
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamExtractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("streaming extraction: file source -> per-batch snapshot commits") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-stream-in").toString
    val storeRoot = Files.createTempDirectory("graft-stream-store").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString

    val goldens = CorpusGen.goldens(80)
    goldens.take(40).map(_.input).toDS()
      .coalesce(1).write.mode("append").parquet(in)

    val q1 = StreamExtract.extractStream(spark, in, storeRoot, ckpt,
      ExtractConfig(partitions = 4))
    q1.awaitTermination() // AvailableNow: drains then stops

    val store = new SnapshotStore(storeRoot)
    assert(store.committedBuckets.nonEmpty)
    assert(Job.readExtracted(spark, store).count() == 40L)

    // more files arrive; restart stream from the same checkpoint
    goldens.drop(40).map(_.input).toDS()
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamExtract.extractStream(spark, in, storeRoot, ckpt,
      ExtractConfig(partitions = 4))
    q2.awaitTermination()

    val table = Job.readExtracted(spark, new SnapshotStore(storeRoot))
    assert(table.count() == 80L)
    assert(table.groupBy($"doc_id").count().filter($"count" =!= 1).count() == 0)
    // span-sequence equality vs goldens (same gate as batch)
    val a = table.select($"doc_id", explode($"spans").as("s"))
    val e = goldens.map(_.expected).toDS()
      .select($"doc_id", explode($"spans").as("s"))
    assert(a.exceptAll(e).count() == 0 && e.exceptAll(a).count() == 0)
  }

  test("restarted stream drops duplicates of PREVIOUSLY committed docs") {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-incdedup-in").toString
    val storeRoot = Files.createTempDirectory("graft-incdedup-store").toString
    val ckpt = Files.createTempDirectory("graft-incdedup-ckpt").toString
    val goldens = CorpusGen.goldens(11)
    goldens.take(10).map(_.input).toDS()
      .coalesce(1).write.mode("append").parquet(in)
    val q1 = StreamExtract.extractStream(spark, in, storeRoot, ckpt,
      ExtractConfig(partitions = 4), dedupCommitted = true)
    q1.awaitTermination()
    assert(Job.readExtracted(spark, new SnapshotStore(storeRoot))
      .count() == 10L)

    // batch 2 after restart: one genuinely new doc + an exact content
    // duplicate of committed doc 0 under a FRESH doc_id — a watermark-
    // window dedup cannot see it (different batch, different id); the
    // committed-corpus probe must
    val dup = goldens.head.input.copy(doc_id = "dup-of-0")
    (goldens.drop(10).map(_.input) :+ dup).toDS()
      .coalesce(1).write.mode("append").parquet(in)
    val q2 = StreamExtract.extractStream(spark, in, storeRoot, ckpt,
      ExtractConfig(partitions = 4), dedupCommitted = true)
    q2.awaitTermination()
    val table = Job.readExtracted(spark, new SnapshotStore(storeRoot))
    val ids = table.select($"doc_id").as[String].collect().toSet
    assert(table.count() == 11L, ids.toSeq.sorted.mkString(","))
    assert(!ids.contains("dup-of-0"))
    assert(ids.contains(goldens(10).input.doc_id))

    // the batch API outside a stream: one cache scope releases the
    // probes' materialized committed-corpus tables
    CacheRegistry.scoped {
      // near-dup probe layer (batch API over the same store): a row one
      // appended token away from a committed doc's content is caught by
      // the band probe + exact-Jaccard verify; an unrelated row survives
      val base = table.as[ExtractedDoc].collect()
        .maxBy(_.spans.map(s => Option(s.text).map(_.length).getOrElse(0)).sum)
      val nearSpans = base.spans.zipWithIndex.map { case (sp, i) =>
        if (i == 0) sp.copy(text = sp.text + " zzz") else sp
      }
      val batch = Seq(
        ExtractedDoc("near-dup", nearSpans, nearSpans.size, true, null),
        ExtractedDoc("fresh",
          Seq(OutSpan("html", "completely different words entirely", null, 0)),
          1, true, null)).toDS()
      val out = StreamExtract.dedupAgainstSnapshot(batch,
          new SnapshotStore(storeRoot), nearDup = true, minJ = 0.5)
        .select($"doc_id").as[String].collect().toSet
      assert(out == Set("fresh"), out.mkString(","))

      // Bloom pre-filter parity: with the bitset probe routing arrivals
      // around the anti-join, survivors must be IDENTICAL — a replayed
      // exact duplicate of committed content is still dropped (it hits
      // the filter and loses the exact join) and a fresh doc still
      // survives (whether it missed the filter or won the join)
      val exactDup = table.as[ExtractedDoc].collect().head
        .copy(doc_id = "bloom-dup")
      val bloomBatch = Seq(exactDup,
        ExtractedDoc("bloom-fresh",
          Seq(OutSpan("html", "unseen bloom probe content", null, 0)),
          1, true, null)).toDS()
      val plain = StreamExtract.dedupAgainstSnapshot(bloomBatch,
          new SnapshotStore(storeRoot))
        .select($"doc_id").as[String].collect().toSet
      val bloomed = StreamExtract.dedupAgainstSnapshot(bloomBatch,
          new SnapshotStore(storeRoot), bloomPrefilter = true)
        .select($"doc_id").as[String].collect().toSet
      assert(plain == Set("bloom-fresh"), plain.mkString(","))
      assert(bloomed == plain, bloomed.mkString(","))
    }
  }

  /** A store written only by extractStream(dedupCommitted): batch 0
    * commits 6 docs, batch 1 brings 2 new docs plus an exact duplicate
    * of a committed doc, which the dedup drops before the write.
    */
  private lazy val streamOnlyStore: SnapshotStore = {
    import spark.implicits._
    val in = Files.createTempDirectory("graft-manifest-in").toString
    val root = Files.createTempDirectory("graft-manifest-store").toString
    val ckpt = Files.createTempDirectory("graft-manifest-ckpt").toString
    val goldens = CorpusGen.goldens(8).map(_.input)
    def drain(docs: Seq[Doc]): Unit = {
      docs.toDS().coalesce(1).write.mode("append").parquet(in)
      StreamExtract.extractStream(spark, in, root, ckpt,
        ExtractConfig(partitions = 4), dedupCommitted = true)
        .awaitTermination()
    }
    drain(goldens.take(6))
    drain(goldens.drop(6) :+ goldens.head.copy(doc_id = "dup-of-0"))
    new SnapshotStore(root)
  }

  test("a stream-only store tracks the schema of the rows it wrote") {
    val store = streamOnlyStore
    assert(store.committedBuckets.size == 2)
    val tracked = store.schemaAt()
    assert(tracked.nonEmpty, "the stream's commits recorded no schema")
    val data = spark.read.parquet(store.dataPaths(): _*)
    assert(org.apache.spark.sql.types.DataType.fromJson(tracked.get)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == data.columns.toSeq)
  }

  test("the manifest doc count is the rows written after dedup") {
    val store = streamOnlyStore
    val rows = Job.readData(spark, store).count()
    assert(rows == 8L) // 6 + 2 new; the duplicate never reached the table
    assert(store.latest.get.buckets.map(_.docs).sum == rows,
      store.latest.get.buckets.mkString(", "))
  }

  test("watermarked sliding-window aggregation over events") {
    val events = spark.read
      .parquet("/root/testdata/sf0.001/events.parquet")
    // batch DataFrame through the same transformation (semantics check)
    val out = StreamExtract.windowedEventCounts(events,
      "1 hour", "30 minutes", "2 hours")
    assert(out.count() > 0)
    val row = out.orderBy(col("window"), col("event_type")).head()
    assert(row.getAs[Long]("n") > 0)

    // and genuinely as a stream (memory sink)
    val streamIn = spark.readStream
      .schema(events.schema)
      .parquet("/root/testdata/sf0.001")
    val q = StreamExtract.windowedEventCounts(
        streamIn.filter(col("event_id").isNotNull),
        "1 hour", "30 minutes", "2 hours")
      .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("win_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only watermark-closed windows; table exists
    assert(spark.table("win_out").columns.contains("event_type"))
  }

  test("stateful sessionization emits per-user state") {
    import spark.implicits._
    val t0 = 1700000000000L
    val events = Seq(
      (1L, new java.sql.Timestamp(t0), 1.0),
      (1L, new java.sql.Timestamp(t0 + 1000), 2.0),
      (2L, new java.sql.Timestamp(t0 + 500), 5.0)).toDS()
    val sessions = StreamExtract.sessionize(events, gapMs = 60000)
      .collect().map(s => s.user_id -> s).toMap
    assert(sessions(1L).n_events == 2 && sessions(1L).total_value == 3.0)
    assert(sessions(2L).n_events == 1)
    assert(sessions(1L).first_ts.getTime == t0)
    assert(sessions(1L).last_ts.getTime == t0 + 1000)
  }

  test("streaming dedup suppresses duplicate fingerprints across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, String)]
    val q = StreamExtract.dedupStream(
        mem.toDS().toDF("ts", "text"), "ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t = new java.sql.Timestamp(1000L)
      mem.addData((t, "same doc"), (t, "Same   DOC"), (t, "other"))
      q.processAllAvailable()
      mem.addData((new java.sql.Timestamp(2000L), "same doc")) // later batch
      q.processAllAvailable()
      val texts = spark.table("dedup_out").collect().map(_.getAs[String]("text"))
      // normalization folds case/whitespace: one survivor per fingerprint
      assert(texts.length == 2, texts.mkString("|"))
      assert(texts.count(_.toLowerCase.startsWith("same")) == 1)
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits ONLY closed sessions (gap timeout)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    // NOTE: processAllAvailable() is unusable here — pending
    // processing-time timeouts keep scheduling batches, so it never
    // settles; the sink is polled instead.
    val q = StreamExtract.sessionizeClosed(mem.toDS(), gapMs = 500)
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger
        .ProcessingTime("100 milliseconds"))
      .start()
    def await(cond: => Boolean): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (!cond && System.currentTimeMillis < deadline) Thread.sleep(100)
      assert(cond, "condition not met within 60s")
    }
    try {
      mem.addData((1L, new java.sql.Timestamp(1000L), 2.0))
      Thread.sleep(200) // usually a separate micro-batch
      mem.addData((1L, new java.sql.Timestamp(2000L), 3.0))
      // the gap timeout closes the session WITHOUT any further input
      await(spark.table("closed_sessions").count() >= 1)
      val rows = spark.table("closed_sessions")
        .as[StreamExtract.Session].collect()
      // exactly ONE row for the whole session — no running snapshots
      // across the (usually two) micro-batches, unlike sessionize()
      assert(rows.length == 1, rows.mkString("; "))
      val s = rows.head
      assert(s.user_id == 1L && s.n_events == 2 && s.total_value == 5.0)
      assert(s.first_ts.getTime == 1000L && s.last_ts.getTime == 2000L)
    } finally q.stop()
  }
}
