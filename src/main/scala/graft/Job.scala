package graft

import graft.model._
import graft.snapshot.SnapshotStore
import org.apache.spark.sql.{Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.util.CollectionAccumulator

/** Resumable bucketed extraction job: the unit of checkpointing is a
  * bucket of the document space; each completed bucket is committed as a
  * snapshot (graft.snapshot.SnapshotStore). A killed run restarts at the
  * last committed bucket set — re-running is idempotent because commits
  * of an already-committed bucket are rejected and data dirs are
  * uuid-fresh per attempt (orphan dirs from a kill are never referenced
  * by any snapshot).
  *
  * At 10^12-doc scale the input table is partitioned by
  * bucket(hash(doc_id)) so each bucket run scans only its own input
  * partitions (partition pruning); in this sandbox the generated corpus
  * achieves the same via index-range bucket inputs.
  */
object Job {

  /** Run all not-yet-committed buckets, in order.
    *
    * @param bucketInput  bucket id → its input docs (caller guarantees
    *                     the union over buckets is the full corpus and
    *                     buckets are disjoint)
    * @param maxBuckets   stop after committing this many buckets in THIS
    *                     run (-1 = all) — used by kill/resume tests and
    *                     incremental production runs
    * @return (bucketsCommittedThisRun, docsWrittenThisRun)
    */
  def runResumable(spark: SparkSession, store: SnapshotStore,
      numBuckets: Int, bucketInput: Int => Dataset[Doc],
      cfg: ExtractConfig, maxBuckets: Int = -1): (Int, Long) = {
    var ran = 0
    var docsWritten = 0L
    val done = store.committedBuckets
    (0 until numBuckets).iterator
      .filterNot(done.contains)
      .takeWhile(_ => maxBuckets < 0 || ran < maxBuckets)
      .foreach { b =>
        val optimisticSnapId =
          store.latest.map(_.snapshot_id + 1).getOrElse(1L)
        val acc = Pipeline.auditAccumulator(spark)
        val out = Pipeline.extract(bucketInput(b), cfg,
          snapshotId = optimisticSnapId, audit = acc)
        docsWritten += commitBucket(store, b, out, acc)
        ran += 1
      }
    (ran, docsWritten)
  }

  /** Write one bucket's extracted rows and its audit rows into fresh
    * dirs and commit both as a snapshot — the one write-and-commit path
    * of the batch job and the streaming ingest. The manifest records the
    * written table's schema and the rows actually written (after any
    * dedup between extraction and write), counted by an observed metric
    * on the write itself, so no second pass over the data. The metric
    * rides the write's result stage, where Spark applies each
    * partition's update once, so task retries do not inflate it.
    * @return rows written
    */
  def commitBucket(store: SnapshotStore, bucket: Int,
      out: Dataset[ExtractedDoc],
      audit: CollectionAccumulator[AuditRow]): Long = {
    val spark = out.sparkSession
    import spark.implicits._
    val (dataDir, auditDir) = store.newWriteDirs(bucket)
    val written = Observation()
    out.observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.ErrorIfExists).parquet(dataDir)
    val rows = written.get("rows").asInstanceOf[Long]
    spark.createDataset(Pipeline.auditRows(audit)).coalesce(1)
      .write.mode(SaveMode.ErrorIfExists).parquet(auditDir)
    store.commit(bucket, dataDir, auditDir, rows, out.schema.json)
    rows
  }

  /** Read the committed table at a snapshot with schema evolution:
    * parquet footers are merged across buckets, then the rows are
    * reconciled to the snapshot's tracked schema — columns added by
    * later writers surface as typed nulls on older buckets, and a
    * time-travel read at an old snapshot sees that snapshot's schema,
    * not the latest one.
    */
  def readData(spark: SparkSession, store: SnapshotStore,
      snapshotId: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DataType, StructType}
    val paths = store.dataPaths(snapshotId)
    require(paths.nonEmpty, s"no committed snapshot under ${store.root}")
    val df = spark.read.option("mergeSchema", "true").parquet(paths: _*)
    store.schemaAt(snapshotId) match {
      case Some(json) =>
        val target = DataType.fromJson(json).asInstanceOf[StructType]
        // existing columns are cast to the TRACKED type, not left at the
        // parquet-merged one, so reads always conform to the snapshot's
        // schema even when a later writer widened a type (note parquet
        // mergeSchema itself rejects conflicting physical types across
        // buckets — cross-bucket type evolution requires rewriting old
        // buckets, as in real Iceberg; the cast covers same-bucket and
        // time-travel reads). Nullability is normalized before the
        // compare/cast: encoder-derived tracked schemas mark primitives
        // NOT NULL while parquet reads back nullable, and the analyzer
        // rejects casting to a NOT NULL nested field.
        df.select(target.fields.toSeq.map { f =>
          val want = nullify(f.dataType)
          if (!df.columns.contains(f.name)) lit(null).cast(want).as(f.name)
          else if (nullify(df.schema(f.name).dataType) == want) col(f.name)
          else col(f.name).cast(want).as(f.name)
        }: _*)
      case None => df
    }
  }

  /** Recursively mark every field/element nullable (the public-API
    * equivalent of Spark's private DataType.asNullable).
    */
  private def nullify(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = nullify(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(nullify(a.elementType), true)
      case m: MapType => MapType(nullify(m.keyType), nullify(m.valueType), true)
      case other => other
    }
  }

  /** Read the committed table at the latest snapshot. */
  def readExtracted(spark: SparkSession,
      store: SnapshotStore): Dataset[ExtractedDoc] = {
    import spark.implicits._
    readData(spark, store).as[ExtractedDoc]
  }

  def readAudit(spark: SparkSession, store: SnapshotStore): Dataset[AuditRow] = {
    import spark.implicits._
    val paths = store.auditPaths()
    require(paths.nonEmpty, s"no committed snapshot under ${store.root}")
    spark.read.parquet(paths: _*).as[AuditRow]
  }
}
