package graft.operators

import graft.Tables
import graft.functions.{Headers, JsonSerde, Times}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** M1 — the reference's entire hot path (`process()`,
  * `/root/reference/.../HiveBatchedSink.scala:297-358`) as one declarative
  * Spark pipeline:
  *
  *   channel.take batch        → parquet scan of `events`
  *   serde deserialize (P1)    → `from_json(props)` struct
  *   header defaulting (P7)    → `coalesce(event_type, 'no_category')`
  *   path/partition render(P2) → `logdate` column (5-min floor, P3/P4)
  *   per-partition ORC router  → `write.partitionBy("logdate").orc(...)`
  *   (S3/S4)                     — Spark's FileFormatWriter does the
  *                                 open/route/close the reference hand-rolls
  *                                 with an LRU + idle-scan threads (T3/T4)
  *
  * Scale notes: the enrichment is a pure map stage fused with the scan
  * (no shuffle); `partitionBy` plans a local sort by partition value per
  * task, so each task holds O(1) open writers — the 100 TB-safe version of
  * the reference's `maxOpenFiles=5000` LRU. Exactly-once comes from the
  * file-commit protocol, fixing the reference's ack-before-flush data-loss
  * window (`HiveBatchedSink.scala:335` FIXME).
  */
object Ingest {

  /** `events.props` is JSON like {"k": 87} (FIXTURES.md). */
  val propsSerde: JsonSerde = JsonSerde(StructType(Seq(StructField("k", LongType))))

  /** The enrichment stage: the typed, partition-ready event stream. */
  def enriched(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .withColumn("category", Headers.categoryOrDefault(col("event_type")))
      .withColumn("logdate", Times.logdate(col("ts")))
      .withColumn("body", propsSerde.parse(col("props")))
      .select(col("event_id"), col("ts"), col("user_id"), col("category"),
        col("logdate"), col("value"), col("body.k").as("k"))

  /** Land the enriched stream as a Hive-layout partitioned table
    * (`logdate=yyyyMMddHHmm/` dirs, ORC) — S3/S4/S6 in one write.
    * Idempotent: dynamic partition overwrite, so re-running a batch
    * replaces exactly the partitions it owns. */
  def land(spark: SparkSession, sfDir: String, outPath: String): Unit =
    enriched(spark, sfDir)
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("logdate")
      .orc(outPath)

  /** Flagship: ingest → land → read back → per-partition counts.
    * Proves partition pruning-ready layout and that landed rows equal
    * source rows (the invariant the reference's bookkeeping table tracks). */
  def flagship(spark: SparkSession, sfDir: String): DataFrame = {
    // Unique per-invocation dir: a fixed path + dynamic-overwrite would let
    // stale partitions from a previous run (different data) pollute the
    // read-back accounting.
    val out = graft.Tables.scratchDir("graft_landing_").toString
    land(spark, sfDir, out)
    spark.read.orc(out)
      .groupBy(col("logdate"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("category")).as("n_categories"),
        max(Times.epochSeconds(col("ts"))).as("max_epoch"))
      .orderBy(col("logdate"))
  }

  /** Q — land fragmented (8 files per partition, the many-small-files
    * state a micro-batch sink accumulates), compact with
    * [[graft.sources.Landing.compactPartitions]], then re-read and produce
    * per-partition accounting. Partitioned by DAY (`logday`), not the
    * 5-minute logdate: file maintenance is a partition-count game — at
    * sf0.1 the 5-min key already means ~60k partitions whose per-partition
    * swap renames alone take minutes, exactly the over-partitioning a
    * real deployment's compaction policy exists to avoid (days ~O(100s)
    * of partitions; the 5-min template stays a column, pruned fine). The
    * oracle checks the data survived the rewrite; IngestSpec separately
    * asserts the file counts collapsed and the staging/trash dirs are
    * gone. */
  def compactRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val out = graft.Tables.scratchDir("graft_compact_").toString
    enriched(spark, sfDir)
      .withColumn("logday", substring(col("logdate"), 1, 8))
      .repartition(8)
      .write.mode("overwrite").partitionBy("logday").orc(out)
    graft.sources.Landing.compactPartitions(spark, out, "logday")
    spark.read.orc(out)
      // partition-type inference reads the logday path value as a long;
      // the accounting (and its oracle) treat it as the string key
      .withColumn("logday", col("logday").cast("string"))
      .groupBy(col("logday"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("category")).as("n_categories"),
        max(Times.epochSeconds(col("ts"))).as("max_epoch"))
      .orderBy(col("logday"))
  }

  /** X75 — delete propagation (right-to-be-forgotten) over a partitioned
    * corpus: a tombstone list is applied to the landed table by rewriting
    * ONLY the partitions that contain a tombstoned row — the untouched
    * partitions keep their exact files (spec-pinned by mtime+path
    * identity), which is the whole economics of a delete pass at 100 TB:
    * cost scales with the partitions the delete list touches, never with
    * the corpus. The reference has no delete story at all (append-only
    * sink); this is the maintenance operator its landed tables would need
    * the day a deletion obligation arrives.
    *
    * Mechanics: land `documents` partitioned by `source`; the tombstone
    * predicate (`polyHash(doc_id) % 40 == 0` — a stand-in for the real
    * request list, chosen so the fixture has both dirty and clean
    * partitions); collect the DIRTY partition keys (bounded: ≤ the
    * partition count, the same O(metadata) class as j11's skew-key
    * fetch); stage the dirty partitions' survivors, then swap them in
    * with dynamic partition overwrite. A partition whose rows ALL die
    * produces no staged rows — dynamic overwrite would silently leave its
    * old files, so fully-emptied partitions are dropped explicitly.
    * Output is the per-partition delete accounting (the audit artifact a
    * deletion obligation requires); the oracle restates it data-only. */
  def deletePropagation(spark: SparkSession, sfDir: String): DataFrame = {
    val out = Tables.scratchDir("graft_delprop_").toString
    val docs = Tables.documents(spark, sfDir)
    docs.write.mode("overwrite").partitionBy("source").parquet(out)
    deletePropagationOn(spark, out,
      graft.functions.TextFns.polyHash(col("doc_id").cast("string")) % 40 === 0,
      docs.groupBy(col("source")).agg(count(lit(1)).as("rows_before")))
  }

  /** [[deletePropagation]]'s rewrite applied to an existing
    * `source=`-partitioned parquet table — the spec entry point (hand
    * fixtures pin the untouched-files and emptied-partition invariants). */
  private[graft] def deletePropagationOn(spark: SparkSession, out: String,
      tomb: org.apache.spark.sql.Column, before: DataFrame,
      gate: Int = Maintenance.keyGateDefault): DataFrame = {
    val landed = spark.read.parquet(out)
    // the dirty keys are needed driver-side regardless (the per-partition
    // fs swap/drop below is inherently a driver loop, O(dirty partitions)
    // — the operator's own cost model); what must NOT scale with them is
    // the compiled PREDICATE, so the staging restriction goes through the
    // gated isin/broadcast-semi-join helper (VERDICT r12 #5)
    val dirtyDf = landed.where(tomb).select(col("source")).distinct()
    val dirty = dirtyDf.collect().map(_.getString(0)).toSeq.sorted
    if (dirty.nonEmpty) {
      val stage = Tables.scratchDir("graft_delprop_stage_").toString
      Maintenance.restrictToKeys(landed, "source", dirtyDf, dirty, gate)
        .where(!tomb)
        .write.mode("overwrite").partitionBy("source").parquet(stage)
      spark.read.parquet(stage)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("source").parquet(out)
      // fully-emptied partitions: nothing staged, so nothing overwrote
      // them — drop the partition dir (bounded: ⊆ the dirty keys)
      val staged = spark.read.parquet(stage).select(col("source")).distinct()
        .collect().map(_.getString(0)).toSet
      val fs = graft.fs.ForkFreeLocalFs.of(spark, new org.apache.hadoop.fs.Path(out))
      val emptied = dirty.filterNot(staged)
      emptied.foreach { s =>
        fs.delete(new org.apache.hadoop.fs.Path(out, s"source=$s"), true); ()
      }
      // the dynamic overwrite refreshes Spark's file-listing cache itself
      // (InsertIntoHadoopFsRelationCommand), but the manual partition
      // drops bypass Spark — without an explicit refresh the read-back
      // below serves the STALE listing and fails on the deleted files
      if (emptied.nonEmpty) spark.catalog.refreshByPath(out)
    }
    val after = spark.read.parquet(out)
      .groupBy(col("source")).agg(count(lit(1)).as("rows_after"))
    before.join(after, Seq("source"), "left")
      .select(col("source"), col("rows_before"),
        (col("rows_before") - coalesce(col("rows_after"), lit(0L))).as("rows_deleted"),
        coalesce(col("rows_after"), lit(0L)).as("rows_after"),
        when(coalesce(col("rows_after"), lit(0L)) < col("rows_before"), lit(1L))
          .otherwise(lit(0L)).as("rewritten"))
      .orderBy(col("source"))
  }

  /** The same per-partition accounting computed directly on the source —
    * what the DuckDB oracle can express (no file side effects). */
  def partitionCounts(spark: SparkSession, sfDir: String): DataFrame =
    enriched(spark, sfDir)
      .groupBy(col("logdate"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("category")).as("n_categories"),
        max(Times.epochSeconds(col("ts"))).as("max_epoch"))
      .orderBy(col("logdate"))
}
