package graft.streaming

import graft.functions.{Headers, Times}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** M4 — the continuous mode: the reference's micro-batch loop
  * (`process()`, `/root/reference/.../HiveBatchedSink.scala:297-358`) as
  * Structured Streaming.
  *
  *  - T1 micro-batch loop   → trigger-driven `StreamExecution`
  *  - S2 txn commit         → checkpointed exactly-once sink commit
  *    (fixes the ack-before-flush FIXME at HiveBatchedSink.scala:335)
  *  - T2/T5 idle-close      → watermark finalization (`withWatermark`)
  *  - A2/A3 counters        → streaming windowed aggregation
  *  - T6 completeness       → watermark crossing window end (single
  *    coordinator; the ZK/JDBC fleet protocol collapses into the driver)
  */
object StreamingIngest {

  /** The streaming source over the fixture events (file source; schema
    * pinned from a batch read, as streams need explicit schemas).
    *
    * The source directory is derived deterministically from `sfDir` and
    * created once (create-if-absent): the checkpoint offset log records the
    * source path, so a resumed query must see the *same* directory — a fresh
    * temp dir per call breaks restart with "Wrong basePath". This is the S2
    * exactly-once-on-resume contract the reference provably lacks
    * (`HiveBatchedSink.scala:335` ack-before-flush FIXME). */
  // The fixture schema never changes within a process; re-reading the
  // parquet footer per source() call cost ~0.2 s of fixed overhead on
  // every streaming query (t1/t1b/t2b/t3 each pay it once otherwise).
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.sql.types.StructType]

  /** Stable identity of a streaming RUN, durable in its checkpoint dir: a
    * `graft_run_id` marker file created once with a random id. Batch ids
    * restart at 0 for every fresh checkpoint, and a checkpoint PATH can be
    * wiped and recreated (the common start-from-scratch restart), so
    * anything keyed across runs — batch_commits rows, cross-run dedup index
    * partitions — must carry this marker, not the path: resuming the same
    * checkpoint reuses the id; recreating the dir mints a new one. */
  private[graft] def runId(checkpoint: String,
                           hconf: org.apache.hadoop.conf.Configuration): String = {
    import org.apache.hadoop.fs.Path
    val legacyMarker = new Path(checkpoint, "graft_run_id")
    val markerDir = new Path(checkpoint, "graft_run_id.d")
    val content = new Path(markerDir, "id")
    val fs = markerDir.getFileSystem(hconf)
    def readFile(p: Path): String = {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }
    // checkpoints from before the directory protocol carry a plain file
    if (fs.exists(legacyMarker)) {
      val id = readFile(legacyMarker)
      require(id.nonEmpty, s"empty run-id marker at $legacyMarker — delete it and restart")
      return id
    }
    if (!fs.exists(content)) {
      fs.mkdirs(markerDir.getParent)
      val id = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      // Publish by renaming a fully-written DIRECTORY into place. A bare
      // file can't be both atomic and complete everywhere: content is
      // only visible after close on HDFS-likes (a racing reader of a
      // half-written marker gets a truncated id), and POSIX rename onto
      // an existing file silently overwrites (a losing starter would
      // replace the winner's id after the winner already used it). A
      // directory rename has neither failure: the content file is closed
      // before publication, and renaming onto an existing non-empty dir
      // either fails (POSIX) or moves the source INSIDE it as ignored
      // debris (HDFS semantics) — the first `id` file wins on every
      // filesystem.
      val tmpDir = new Path(checkpoint, s"graft_run_id.tmp.$id")
      fs.mkdirs(tmpDir)
      val out = fs.create(new Path(tmpDir, "id"), true)
      try out.write(id.getBytes("UTF-8")) finally out.close()
      try { if (!fs.rename(tmpDir, markerDir)) fs.delete(tmpDir, true) }
      catch { case _: java.io.IOException => fs.delete(tmpDir, true) }
      // HDFS moved-inside case: the loser's tmp dir is debris under the
      // marker dir; remove it so the layout stays clean
      val strayTmp = new Path(markerDir, tmpDir.getName)
      if (fs.exists(strayTmp) && fs.exists(content)) fs.delete(strayTmp, true)
    }
    val id = readFile(content)
    // belt-and-braces: never hand out an empty identity
    require(id.nonEmpty, s"empty run-id marker at $content — delete it and restart")
    id
  }

  /** Run `body` (a synchronous streaming execution) with a reduced shuffle
    * partition count, restoring the session's setting after. Stateful
    * streaming cost has a per-partition floor independent of data volume:
    * every micro-batch opens, commits, and snapshots one state store PER
    * shuffle partition (×4 stores for a stream-stream join), so a
    * 32-partition local session pays 32× that machinery even when a
    * partition holds a few thousand rows. The partition count is fixed at
    * the FIRST micro-batch and recorded in the checkpoint
    * (`offsets/.../conf`), so it must be chosen before `start()` — and on a
    * real cluster it is sized so each partition's state fits an executor
    * (the same knob, bigger value). The declared queries here are
    * single-box demos over ~1M events; 8 partitions keeps 8-way compute
    * parallelism while quartering the state-store floor. Resuming a
    * checkpoint overrides this with the recorded value, so restarts are
    * unaffected. */
  private[graft] def withStatePartitions[A](spark: SparkSession, n: Int = 8)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Run `body` with a FRESH scratch checkpoint dir on the fastest local
    * medium — tmpfs (`/dev/shm`) when present, `java.io.tmpdir` otherwise —
    * deleted afterwards. For the self-contained AvailableNow memory-sink
    * demos ONLY: their checkpoint + state-store files are pure scratch,
    * and profiling showed fsync-to-disk of offset logs / state commits
    * dominating each demo's ~2-3 s fixed floor. Durable pipelines
    * (landStream, dedupIndexStream) take an explicit checkpointLocation
    * from the caller and never come through here. */
  private def withScratchCheckpoint[A](body: String => A): A = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val dir = graft.Tables.ownScratch(
      java.nio.file.Files.createTempDirectory(base, "graft_ck_"))
    try body(dir.toString)
    finally graft.Tables.rmScratch(dir.toFile)
  }

  /** Project the finished memory-sink table, pin its rows locally, and DROP
    * the temp view: the sink's rows already live on the driver (that is
    * what a memory sink is), so the LocalRelation changes nothing at scale,
    * while repeated runs (SPARK_GRAFT_REPEAT, spec suites) stop
    * accumulating UUID-named views and their retained complete-mode rows
    * in the driver catalog. */
  private def drainMemorySink(spark: SparkSession, qn: String)
                             (project: DataFrame => DataFrame): DataFrame = {
    val out = project(spark.table(qn))
    val rows = out.collect()
    spark.catalog.dropTempView(qn)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Per-sfDir symlink dir exposing the read-only `documents.parquet`
    * fixture to the file stream source. Keyed by a hash of the RAW sfDir
    * (a sanitized name could collide across distinct fixture paths), and
    * the symlink target is re-validated on every call so a moved/
    * regenerated fixture can't be silently served from a stale link.
    * Reaper-owned only when this process created it — a concurrent graft
    * JVM sharing the dir keeps it. */
  private def docStreamDir(sfDir: String): java.nio.file.Path = {
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sfDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_stream_doc_" + dirKey)
    val target = java.nio.file.Paths.get(sfDir, "documents.parquet")
    val link = dir.resolve("documents.parquet")
    if (!java.nio.file.Files.exists(dir)) {
      java.nio.file.Files.createDirectories(dir)
      graft.Tables.ownScratch(dir)
    }
    val linkStale = java.nio.file.Files.isSymbolicLink(link) &&
      (java.nio.file.Files.readSymbolicLink(link) != target ||
        !java.nio.file.Files.exists(target))
    if (linkStale) java.nio.file.Files.delete(link)
    if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      java.nio.file.Files.createSymbolicLink(link, target)
    dir
  }

  def source(spark: SparkSession, sfDir: String): DataFrame = {
    graft.Tables.ensureParquetConf(spark)
    // The file stream source wants a directory; expose the single fixture
    // file through a per-sfDir symlink dir (testdata itself is read-only).
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_stream_src_" + sfDir.replaceAll("[^0-9a-zA-Z]", "_"))
    if (!java.nio.file.Files.exists(dir)) {
      java.nio.file.Files.createDirectories(dir)
      graft.Tables.ownScratch(dir)
      java.nio.file.Files.createSymbolicLink(
        dir.resolve("events.parquet"), java.nio.file.Paths.get(sfDir, "events.parquet"))
    }
    val schema = schemaCache.getOrElseUpdate(sfDir,
      spark.read.parquet(s"$sfDir/events.parquet").schema)
    // Same ts normalization as the batch loader: long nanos → µs TIMESTAMP,
    // NTZ → TIMESTAMP (session TZ pinned UTC), so `withWatermark("ts", …)`
    // always sees an event-time-capable type regardless of writer dialect.
    graft.Tables.normalizeTs(spark.readStream.schema(schema).parquet(dir.toString))
  }

  /** T1+A2/A3 — run the 5-min × category counter as a complete-mode
    * streaming aggregation into a memory sink, synchronously, and return
    * the final table. Batch-equivalent by construction, so the DuckDB
    * oracle can check a real streaming execution. */
  def streamCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val qn = "graft_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val agg = source(spark, sfDir)
      .groupBy(window(col("ts"), "5 minutes"),
        Headers.categoryOrDefault(col("event_type")).as("category"))
      .count()
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = agg.writeStream
          .format("memory").queryName(qn)
          .outputMode("complete")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(
      _.select(unix_timestamp(col("window.start")).as("bucket_epoch"),
        col("category"), col("count").as("cnt"))
        .orderBy(col("bucket_epoch"), col("category")))
  }

  /** T1b/A4 — the scale-correct streaming counter: watermarked, APPEND
    * mode. Unlike [[streamCounts]] (complete mode — unbounded state, kept
    * as the everything-emitted oracle demo), this emits a window exactly
    * once, when the event-time watermark (max event ts − 10 min) passes
    * its end, and the state store evicts it — bounded state at any scale,
    * the reference's 500-bucket LRU (`TimedUtils.scala:114-124`) done by
    * the engine. Deterministic on static input: the terminal no-data
    * micro-batch flushes every window the final watermark passed, so the
    * result is the batch aggregation restricted to finalized windows —
    * which is what the DuckDB oracle expresses. */
  def streamCountsAppend(spark: SparkSession, sfDir: String): DataFrame = {
    val qn = "graft_stream_app_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val agg = source(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"),
        Headers.categoryOrDefault(col("event_type")).as("category"))
      .count()
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = agg.writeStream
          .format("memory").queryName(qn)
          .outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(
      _.select(unix_timestamp(col("window.start")).as("bucket_epoch"),
        col("category"), col("count").as("cnt"))
        .orderBy(col("bucket_epoch"), col("category")))
  }

  /** T16 — a2e's throughput-anomaly monitor ON the stream: the
    * watermarked append-mode 5-min category counts (t1b's scale-correct
    * bounded-state form — the reference's 500-bucket LRU done by
    * watermark eviction) land as the timeline, and
    * [[graft.operators.Counters.anomalyFlagsOf]] flags each bucket
    * against its trailing window with the integer cross-multiplied
    * z-test. The flag pass runs on the LANDED timeline — O(categories ×
    * time-range) rows of three longs, bounded monitor metadata at any
    * corpus size — so the streaming stage carries only the aggregation
    * state. The timeline holds exactly the windows the final watermark
    * passed (t1b's flush rule — the last ~2 buckets stay in state, as
    * any live monitor's must), and because the trailing test looks
    * strictly BACKWARD, every emitted flag equals the batch a2e's flag
    * verbatim: the oracle is a2e's chain + t1b's HAVING rule, and the
    * differential spec pins stream == flushed-batch row-for-row. The
    * category is the raw `event_type` (a2e's definition), not the t1b
    * header-default form. */
  def streamAnomalyFlags(spark: SparkSession, sfDir: String): DataFrame = {
    val qn = "graft_stream_anom_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val agg = source(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type").as("category"))
      .count()
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = agg.writeStream
          .format("memory").queryName(qn)
          .outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    val counts = drainMemorySink(spark, qn)(
      _.select(col("category"),
        unix_timestamp(col("window.start")).as("bucket_epoch"),
        col("count").as("cnt")))
    graft.operators.Counters.anomalyFlagsOf(counts,
      trail = graft.operators.Counters.AnomalyTrail,
      minN = graft.operators.Counters.AnomalyMinN,
      k = graft.operators.Counters.AnomalyK)
  }

  /** T11 — the NATIVE custom aggregate ([[graft.expressions.CountMax]],
    * a11's fused (count, max) `DeclarativeAggregate`) running INSIDE a
    * streaming aggregation: the state store holds the two-expression
    * buffer and the partial/merge path runs across micro-batch boundaries
    * — proving the custom-UDAF extension point composes with Structured
    * Streaming exactly like builtin `count`/`max` (the reference's
    * lock-guarded cross-batch map merge, `util/TimedUtils.scala:126-133`,
    * done by the engine's state machinery). Complete mode on a finite
    * source ⇒ batch-equivalent, so a11's oracle shape applies. */
  def streamCountMax(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.graft.bridge
    val qn = "graft_stream_cm_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val cm = bridge.column(
      graft.expressions.CountMax(bridge.expression(col("ts")))
        .toAggregateExpression()).as("cm")
    val agg = source(spark, sfDir)
      .groupBy(Headers.categoryOrDefault(col("event_type")).as("category"))
      .agg(cm)
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = agg.writeStream
          .format("memory").queryName(qn)
          .outputMode("complete")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(
      _.select(col("category"), col("cm.cnt").as("n_events"),
        unix_timestamp(col("cm.max_ts")).as("max_epoch"))
        .orderBy(col("category")))
  }

  /** T3b/U — streaming first-seen dedup with explicit keyed state
    * (`flatMapGroupsWithState`): per user, emit each category the first
    * time it is ever seen and keep the seen-set in managed state — the
    * streaming form of the incremental-dedup idea (x16): state is the
    * persisted "what we already kept" index, each micro-batch probes it
    * and appends only novelty. State per key is bounded by category
    * cardinality; unbounded-key deployments add a state timeout
    * (`GroupStateTimeout.ProcessingTimeTimeout`) exactly like the
    * reference's 500-bucket counter LRU (`TimedUtils.scala:114-124`).
    * The emitted set over a finite input is exactly the distinct
    * (user, category) pairs, so a DuckDB oracle checks this real
    * stateful streaming execution. */
  def streamDedupFirstSeen(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val qn = "graft_dedup_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val pairs = source(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        Headers.categoryOrDefault(col("event_type")).as("category"))
      .as[(Long, String)]
    val firstSeen = pairs.groupByKey(_._1).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (user: Long, events: Iterator[(Long, String)], state: GroupState[Set[String]]) =>
        val seen = state.getOption.getOrElse(Set.empty[String])
        val fresh = events.map(_._2).toSeq.distinct.filterNot(seen)
        if (fresh.nonEmpty) state.update(seen ++ fresh)
        fresh.iterator.map(c => (user, c))
    }.toDF("user_id", "category")
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = firstSeen.writeStream
          .format("memory").queryName(qn)
          .outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(_.orderBy(col("user_id"), col("category")))
  }

  /** T5b — native streaming dedup with BOUNDED state:
    * `dropDuplicatesWithinWatermark` keeps a key's state only until the
    * watermark passes its event time + delay, then evicts — the built-in
    * operator form of the first-seen guarantee [[streamDedupFirstSeen]]
    * implements with explicit keyed state (whose seen-sets never shrink).
    * Dedup key is the (user, category) pair; on the fixture input every
    * duplicate arrives within the watermark delay of its first
    * occurrence's watermark-expiry, so the emitted set equals the batch
    * DISTINCT and the DuckDB oracle can check a real native-operator
    * streaming execution. At scale this is the dedup you run on
    * unbounded streams: state is O(keys within the watermark horizon),
    * not O(all keys ever). */
  def streamDedupWithinWatermark(spark: SparkSession, sfDir: String): DataFrame = {
    val qn = "graft_ddww_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val dedup = source(spark, sfDir)
      .select(col("user_id"),
        Headers.categoryOrDefault(col("event_type")).as("category"),
        col("ts"))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "category")
      .select(col("user_id"), col("category"))
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = dedup.writeStream
          .format("memory").queryName(qn)
          .outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(_.orderBy(col("user_id"), col("category")))
  }

  /** The per-key state of [[transformWithStateCounts]]: the reference's
    * `TimestampCount` pair (`util/TimedUtils.scala:126-133` — `count += n`,
    * `timestamp = max`) held in a typed `ValueState`. A named top-level
    * class (not a lambda capture) so the serialized processor carries no
    * enclosing references. */
  private[graft] class CountMaxProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var state: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[(Long, Long)]("countMax",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      var (n, mx) = if (state.exists()) state.get() else (0L, 0L)
      rows.foreach { case (_, epoch) => n += 1; mx = math.max(mx, epoch) }
      state.update((n, mx))
      // one row per key per micro-batch: the RUNNING totals (monotone, so
      // the caller's max-rollup is micro-batch-partitioning invariant)
      Iterator.single((key, n, mx))
    }
  }

  /** T10 — the Spark 4 arbitrary-state operator (`transformWithState`):
    * [[CountMaxProcessor]] driven through a real streaming execution. This
    * is the engine's custom-UDAF-shaped state showcase — where
    * `flatMapGroupsWithState` (t3) threads one opaque state value through a
    * function, the StatefulProcessor API composes named typed state
    * (Value/List/Map) with per-state TTL and timers, and requires the
    * RocksDB state store (scoped conf here): changelog-checkpointed,
    * spillable state — the form that holds 100 M keys per executor where
    * the default HDFS-backed map store would OOM. Emissions are running
    * per-key totals once per micro-batch; the final `max` rollup keeps the
    * declared result invariant to micro-batch packing, which is what lets
    * one batch GROUP BY oracle-check a genuinely incremental execution. */
  /** T12 — media decode INSIDE a streaming micro-batch: documents stream
    * in as a file source, each micro-batch synthesizes and decodes PNG
    * payloads through the SAME pluggable codec the batch path uses
    * ([[graft.functions.PngPixelCodec]] — `mapPartitions` is a stateless
    * narrow transform, so the codec drops into Structured Streaming
    * unchanged; this is the property that lets one codec implementation
    * serve both the backfill and the live ingest), then a per-language
    * aggregate lands in the memory sink. Batch-equivalent by
    * construction, so the closed-form DuckDB oracle checks a real
    * streaming decode execution end-to-end. */
  def streamMediaDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    graft.Tables.ensureParquetConf(spark)
    val dir = docStreamDir(sfDir)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val docs = spark.readStream.schema(schema).parquet(dir.toString)
      .select(col("doc_id").as("media_id"), col("lang"))
    val payloadEnc = Encoders.row(StructType(Seq(
      StructField("media_id", LongType), StructField("lang", StringType),
      StructField("payload", BinaryType))))
    val withPayload = docs.mapPartitions { it =>
      it.map(r => Row(r.getLong(0), r.getString(1),
        graft.functions.PngSynth.render(r.getLong(0))))
    }(payloadEnc)
    val agg = graft.functions.PngPixelCodec().decode(withPayload, "payload", "f")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_imgs"),
        sum(col("f.n_pixels")).as("total_pixels"),
        sum(col("f.sum_r")).as("total_sum_r"))
    val qn = "graft_stream_png_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = agg.writeStream
          .format("memory").queryName(qn)
          .outputMode("complete")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(_.orderBy(col("lang")))
  }

  /** T13 — streaming substring decontamination: a live stream of new
    * documents is fingerprinted with the PER-ROW winnowing expression
    * ([[graft.functions.TextFns.winnowSpansLocal]] via
    * `TextAnalysis.localSpanRows` — spec-pinned
    * identical to the batch span index), probed span-by-span against
    * the PERSISTED prior-corpus span set via a stream-static hash join,
    * and per-doc hit counts land in the sink. This is the x58 batch
    * probe running as the gate a live ingest pipeline actually deploys
    * (quarantine quoted benchmark text before it lands); the stream
    * restricted to the same new-batch bucket is batch-equivalent by
    * construction, so x58's DuckDB oracle checks the streaming
    * execution end-to-end. */
  def streamSubstringContamination(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis
    graft.Tables.ensureParquetConf(spark)
    val bucket = pmod(graft.functions.TextFns.polyHash(
      col("doc_id").cast("string")), lit(10L))
    // static side: the prior corpus's distinct span hashes, derived from
    // the disk-memoized span index (8 bytes per unique span)
    val priorH = TextAnalysis.spanIndex(spark, sfDir)
      .join(graft.Tables.documents(spark, sfDir)
        .select(col("doc_id"), bucket.as("b"))
        .where(col("b") <= 7).select(col("doc_id")), "doc_id")
      .select(col("h")).distinct()
    // stream side: same symlink-dir pattern as t12
    val dir = docStreamDir(sfDir)
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    val agg = TextAnalysis.localSpanRows(
        spark.readStream.schema(schema).parquet(dir.toString)
          .where(bucket >= 8))
      .select(col("doc_id"), col("h"))
      .join(priorH.withColumn("hit", lit(1L)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit_spans"))
    val qn = "graft_stream_sub_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = agg.writeStream
          .format("memory").queryName(qn)
          .outputMode("complete")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(
      _.select(col("doc_id"), col("n_spans"), col("n_hit_spans"),
        expr("n_hit_spans * 1000000L div n_spans").as("hit_ppm"))
        .orderBy(col("doc_id")))
  }

  def transformWithStateCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val qn = "graft_tws_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val pairs = source(spark, sfDir)
      .select(col("user_id").cast("long").as("user_id"),
        Times.epochSeconds(col("ts")).as("epoch"))
      .as[(Long, Long)]
    val counted = pairs.groupByKey(_._1)
      .transformWithState(new CountMaxProcessor, TimeMode.None(), OutputMode.Append())
      .toDF("user_id", "n_events", "max_epoch")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // 2 partitions, not 8: per-user counters are a few bytes each, and the
    // RocksDB provider cost is per store INSTANCE (native column families,
    // WAL, snapshot) — sizing the partition count to the state volume is
    // the same knob a cluster run turns, in the other direction
    try withStatePartitions(spark, 2) {
      withScratchCheckpoint { ck =>
        val q = counted.writeStream
          .format("memory").queryName(qn)
          .outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    drainMemorySink(spark, qn)(
      _.groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"), max(col("max_epoch")).as("max_epoch"))
        .orderBy(col("user_id")))
  }

  /** Pure sessionizer shared by [[IdleSessionProcessor]] and the
    * property suite: sort `(epoch, category)` events and split where the
    * epoch gap strictly exceeds `gapSec` OR the round window
    * (`epoch / roundSec`, epochs non-negative) changes. The window split
    * is the reference's dynamic-partition ROUTER (`HiveBatchedSink
    * .scala:311-312` rounds each event's timestamp into its partition
    * path, so every round window gets its OWN writer): a session can
    * never span a window boundary, which is what bounds a never-idle
    * key's open-session state. Always returns at least one (possibly
    * empty) chunk. This is the REFERENCE semantics the specs pin;
    * [[IdleSessionProcessor]] executes the equivalent
    * [[mergeSessionAggs]] sweep over aggregates (property-pinned equal
    * for every admissible split) so it never has to store events. */
  private[graft] def sessionChunks(events: Seq[(Long, String)], gapSec: Long,
                                   roundSec: Long): Seq[Seq[(Long, String)]] = {
    val chunks = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[(Long, String)])
    events.sortBy(identity).foreach { e =>
      if (chunks.last.nonEmpty && (e._1 - chunks.last.last._1 > gapSec ||
          e._1 / roundSec != chunks.last.last._1 / roundSec))
        chunks += scala.collection.mutable.ArrayBuffer.empty
      chunks.last += e
    }
    chunks.map(_.toSeq).toSeq
  }

  /** [[sessionChunks]] restated over mergeable session AGGREGATES
    * `(start, last, n, categories)` — min/max/sum/union — which is what
    * lets [[IdleSessionProcessor]] hold O(open sessions) state instead
    * of O(events): adding events can never SPLIT an existing session
    * (a gap only shrinks when events are added, and no session spans a
    * round window), only bridge adjacent ones or land inside one, and
    * both outcomes are decided by interval endpoints alone. Items are
    * open sessions and/or single events (`(es, es, 1, Set(cat))`);
    * sweep in start order, merging `next` into the accumulator iff
    * `next.start − acc.last ≤ gap` and both sit in one round window
    * (the adjacent-event pair across the boundary is exactly
    * `(acc.last, next.start)`; an item overlapping the accumulator has
    * non-positive distance and is inside its window, so it always
    * merges). The seeded property pins this equal to [[sessionChunks]]
    * aggregates for every time-split of the event set. */
  private[graft] def mergeSessionAggs(
      items: Seq[(Long, Long, Long, Set[String])], gapSec: Long,
      roundSec: Long): Seq[(Long, Long, Long, Set[String])] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Set[String])]
    items.sortBy(it => (it._1, it._2)).foreach { it =>
      if (out.nonEmpty && it._1 - out.last._2 <= gapSec &&
          it._1 / roundSec == out.last._2 / roundSec) {
        val a = out.last
        out(out.size - 1) =
          (a._1, math.max(a._2, it._2), a._3 + it._3, a._4 ++ it._4)
      } else out += it
    }
    out.toSeq
  }

  /** The per-key state machine of [[idleCloseSessions]] — the reference's
    * idle-close done the way the reference actually does it: ONLY a timer
    * fires a close. The reference's idle scan (`IdleWriterRemoveThread`,
    * `HiveBatchedSink.scala:115-141`, feeding `IdleWriterCloseThread`
    * at 156) is the sole path that ever closes a writer — an
    * arriving event never closes anything, it only lands in (or opens)
    * its window's writer — so this processor emits NOTHING on arrival;
    * every session waits for the watermark to pass its close deadline.
    * Per key it composes the full typed-state surface:
    *
    *  - a session is a MERGEABLE AGGREGATE `(start, last, n,
    *    categories)` — min/max/sum/union ([[mergeSessionAggs]]) — and
    *    NOTHING ELSE is stored: arriving events can only land inside a
    *    session or bridge adjacent ones, never split one, so no event
    *    needs to be kept. This matches the reference exactly: an open
    *    `HiveBatchedWriter` holds only its `TimestampCount` + counters
    *    while the events themselves stream to ORC — the writer state IS
    *    an aggregate. (Two earlier cuts stored the open events in a
    *    ListState and re-sessionized them per arrival: eager per-fire
    *    list rewrites cost 6× at sf0.1, a lazy compaction floor still
    *    3.5× — per-key state O(events) loses to O(sessions) at every
    *    scale. The category set rides in state as a `U+0001`-joined
    *    sorted string — category names are external header values that
    *    never contain control chars, and an arrival carrying the
    *    separator is REFUSED loudly rather than silently corrupting
    *    `n_types`.);
    *  - `ValueState[frontier]` — the LATEST open session, the only one
    *    an in-order stream can ever touch: an arrival whose events all
    *    sit at or above `frontier.start` cannot reach any earlier
    *    session (merging or bridging below it would need an older
    *    event), so the common append-shaped batch costs O(1) state
    *    reads and never scans the map;
    *  - `MapState[start → (last, n, categories)]` — PARKED sessions:
    *    closed-but-unfired predecessors of the frontier (the reference's
    *    idle-candidate writers awaiting the scan). Each session is
    *    written here exactly once, when the frontier rolls past it, and
    *    scanned only by the timer path (or by the rare
    *    below-the-frontier arrival, which falls back to a full sweep);
    *  - ONE event-time timer per key, armed at the MINIMUM open
    *    deadline `max(windowEnd, lastEvent + gap)·1000 + 1` (deadlines
    *    are monotone in session start order, so the earliest session
    *    always expires first — the armed deadline is the oldest PARKED
    *    session's, or the frontier's when nothing is parked) — re-armed
    *    when an arrival changes the minimum (an append-shaped batch with
    *    parked sessions never does: parked deadlines only drain, new
    *    ones are larger), fired by the engine when the WATERMARK passes it
    *    ([[TimerStateImpl]] expires `ts <= watermarkForEviction`; the
    *    `+ 1` makes the fire rule STRICT — `deadline·1000 < watermark` —
    *    which is what makes the order-invariance theorem below airtight
    *    at the `es = last + gap` boundary). One fire drains EVERY
    *    session whose deadline the eviction watermark passed
    *    (`TimerValues.getCurrentWatermarkInMs` carries exactly the
    *    watermark that expired the timer — verified in
    *    `TransformWithStateExec.handleTimerRows` bytecode) and re-arms
    *    at the next minimum, so timer invocations scale with keys ×
    *    batches, not with sessions. The `max` is the reference's
    *    FULL close predicate (`HiveBatchedWriter.scala:62`: `now >
    *    minFinishedTimestamp && now - lastWrite >= idleTimeout`, with
    *    `minFinishedTimestamp` = the partition window's start + the
    *    round duration, `HiveBatchedSink.scala:380-381`): a writer needs
    *    `gap` of silence AND its round window to have elapsed before it
    *    may close.
    *
    * The round window bounds state even so: the reference routes each
    * event into its WINDOW's writer (`HiveBatchedSink.scala:311-312`),
    * so sessions split at window boundaries, and a session older than
    * `round + gap + watermark delay` behind the stream's max event time
    * has necessarily fired its timer — open sessions span at most ~two
    * round windows per key even for one that never goes idle
    * (heartbeats at under `gap` spacing), and each costs ~40 bytes of
    * aggregate, not its events.
    *
    * Arrival path: if every batch event sits at or above the frontier's
    * start (the append shape), sweep just the frontier + the batch
    * through [[mergeSessionAggs]], park all but the last result, move
    * the timer only when the armed minimum moved; otherwise fall back
    * to the full sweep over parked ∪ frontier ∪ batch with a diff
    * rewrite. Emit nothing either way. Timer path: emit EVERY session
    * whose deadline the eviction watermark passed — the due prefix of
    * the parked queue, plus the frontier once nothing is parked —
    * re-arm at the next minimum; each parked entry is scanned O(1)
    * times across its lifetime. Emission is invariant across ALL
    * watermark-admissible arrival orders — not just closure-ordered
    * ones: an event that could merge into a session has
    * `es ≤ last + gap` and `es < windowEnd`, so `es·1000 <
    * deadline`, and the session fires only once the watermark exceeds
    * its deadline — by which time that event would be LATE (the
    * monotone watermark already passed it). Hence emitted set =
    * sessions of the batch gap-and-window rule whose deadline precedes
    * the final watermark — the flush rule the t17 oracle states
    * uniformly, with no per-arrival special case.
    *
    * TTL is deliberately NOT configured here: Spark 4.1 permits state TTL
    * only in `TimeMode.ProcessingTime` (`validateTTLConfig` throws for
    * any other mode), and the idle-close contract needs EVENT-time timers
    * — the TTL surface is exercised by [[TtlCacheProcessor]] on the
    * processing-time path instead. */
  private[graft] class IdleSessionProcessor(gapSec: Long, roundSec: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, String), (Long, Long, Long, Long, Long)] {
    // a non-positive round window would surface as an ArithmeticException
    // (or nonsense negative-window sessions) deep inside the deadline
    // arithmetic — refuse at construction, where the config typo is visible
    require(roundSec > 0, s"roundSec must be positive, got $roundSec")
    require(gapSec >= 0, s"gapSec must be non-negative, got $gapSec")
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
      OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var frontier: ValueState[(Long, Long, Long, String)] = _
    @transient private var parked: MapState[Long, (Long, Long, String)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      frontier = getHandle.getValueState[(Long, Long, Long, String)]("frontier",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long, String)],
        TTLConfig.NONE)
      parked = getHandle.getMapState[Long, (Long, Long, String)]("parked",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.product[(Long, Long, String)],
        TTLConfig.NONE)
    }
    /** The close deadline of an open session whose last event is `last`:
      * idle for `gap` AND the session's round window elapsed — the
      * reference's two-condition predicate in event-time ms, `+ 1` so
      * the engine's `ts <= watermark` fire becomes strictly-past. */
    private def deadlineMs(last: Long): Long =
      math.max((last / roundSec + 1) * roundSec, last + gapSec) * 1000 + 1
    private val Sep = "\u0001"
    private def toAgg(s: Long, l: Long, n: Long, t: String) =
      (s, l, n, t.split(Sep, -1).toSet)
    /** Park every merged session but the last, set the last as the
      * frontier. Parked starts only ever grow, so each session is
      * written to the map exactly once (the rare full-sweep fallback
      * rewrites idempotently). */
    private def publish(merged: Seq[(Long, Long, Long, Set[String])]): Unit = {
      merged.dropRight(1).foreach { case (s, l, n, t) =>
        parked.updateValue(s, (l, n, t.toSeq.sorted.mkString(Sep))) }
      val f = merged.last
      frontier.update((f._1, f._2, f._3, f._4.toSeq.sorted.mkString(Sep)))
    }
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long, String)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
      val batch = rows.map { r =>
        // the state encoding joins the category set on U+0001 — a category
        // carrying the separator would silently corrupt n_types, so refuse
        // it loudly (the quoteValue discipline), not document-and-hope
        require(!r._3.contains(Sep),
          s"category contains the U+0001 state separator: ${r._3.take(64)}")
        (r._2, r._2, 1L, Set(r._3))
      }.toList
      val fr = if (frontier.exists()) Some(frontier.get()) else None
      fr match {
        case None =>
          // fresh key (nothing parked, by the frontier invariant): sweep
          // the batch, arm the minimum — the first merged session
          val merged = StreamingIngest.mergeSessionAggs(batch, gapSec, roundSec)
          publish(merged)
          getHandle.registerTimer(deadlineMs(merged.head._2))
        case Some((fs, fl, fn, ft)) if batch.forall(_._1 >= fs) =>
          // append shape — the overwhelmingly common arrival: no event
          // can reach below the frontier's start, so parked sessions are
          // untouchable and the sweep is frontier + batch only, O(1)
          // state reads, no map scan. The armed timer is the oldest
          // PARKED deadline (untouched here) unless nothing is parked,
          // in which case it tracks the possibly-moved minimum.
          val parkedBefore = parked.exists()
          val merged = StreamingIngest.mergeSessionAggs(
            toAgg(fs, fl, fn, ft) +: batch, gapSec, roundSec)
          publish(merged)
          if (!parkedBefore) {
            val newMin = deadlineMs(merged.head._2)
            if (newMin != deadlineMs(fl)) {
              getHandle.deleteTimer(deadlineMs(fl))
              getHandle.registerTimer(newMin)
            }
          }
        case Some((fs, fl, fn, ft)) =>
          // out-of-order below the frontier (rare): full sweep over
          // parked ++ frontier ++ batch with a diff of the parked keys
          val entries = parked.iterator().toList
          val items = entries.map { case (s, (l, n, t)) => toAgg(s, l, n, t) } ++
            (toAgg(fs, fl, fn, ft) +: batch)
          val merged = StreamingIngest.mergeSessionAggs(items, gapSec, roundSec)
          val oldMin = entries.iterator.map(e => deadlineMs(e._2._1)).minOption
            .getOrElse(deadlineMs(fl))
          val newStarts = merged.iterator.map(_._1).toSet
          entries.iterator.map(_._1).filterNot(newStarts)
            .foreach(parked.removeKey)
          publish(merged)
          val newMin = deadlineMs(merged.head._2)
          if (newMin != oldMin) {
            getHandle.deleteTimer(oldMin)
            getHandle.registerTimer(newMin)
          }
      }
      Iterator.empty
    }
    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long, Long)] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val entries = parked.iterator().toList
      val dueP = entries.filter(e => deadlineMs(e._2._1) <= wm)
      val restP = entries.length - dueP.length
      val fr = if (frontier.exists()) Some(frontier.get()) else None
      // the frontier may close only after every parked predecessor has
      // (deadlines are monotone in session order)
      val frDue = restP == 0 &&
        fr.exists { case (_, fl, _, _) => deadlineMs(fl) <= wm }
      if (dueP.isEmpty && !frDue) {
        // nothing expired under this watermark — defensive (the armed
        // timer is always the minimum open deadline, which the expiring
        // watermark passed); re-arm the true minimum so the open
        // sessions still close and their state drains even after an
        // engine-level surprise (e.g. a timer surviving recovery) — in
        // event-time mode no TTL could otherwise reclaim it
        (entries.iterator.map(e => deadlineMs(e._2._1)) ++
          fr.iterator.map { case (_, fl, _, _) => deadlineMs(fl) })
          .minOption.foreach(getHandle.registerTimer)
        Iterator.empty
      } else {
        // emit straight off the aggregates — O(due) writes; each parked
        // entry is scanned O(1) times across its lifetime. The engine
        // already deleted the fired timer; arm the next minimum if any
        // session remains.
        dueP.foreach(d => parked.removeKey(d._1))
        if (frDue) frontier.clear()
        val nextMin =
          if (restP > 0)
            entries.iterator.map(e => deadlineMs(e._2._1)).filter(_ > wm).minOption
          else if (!frDue) fr.map { case (_, fl, _, _) => deadlineMs(fl) }
          else None
        nextMin.foreach(getHandle.registerTimer)
        val dueRows = dueP.map { case (s, (l, n, t)) => (s, l, n, t) } ++
          (if (frDue) fr.toList else Nil)
        dueRows.sortBy(_._1).iterator.map { case (s, l, n, t) =>
          (user, s, l, n, t.split(Sep, -1).length.toLong) }
      }
    }
  }

  /** The processing-time half of the T10 state surface: a ValueState
    * running count AND a ListState per-batch history, both under a real
    * TTL (Spark 4.1 allows TTL only in `TimeMode.ProcessingTime`, so
    * this processor is where the Value+List TTL API lives — the
    * event-time [[IdleSessionProcessor]] may not configure it). Emits
    * `(key, countSinceExpiry, historyLen)` per batch — after the TTL
    * elapses with no re-write, the value reads as absent and the count
    * restarts, and the history's expired entries stop counting (ListState
    * TTL expires each appended entry on its own clock), which is what
    * the TTL spec asserts across two runs of one checkpoint separated by
    * a sleep. Spec-only: wall-clock-dependent by nature, so it never
    * carries a hash oracle. */
  private[graft] class TtlCacheProcessor(ttl: java.time.Duration)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var count: ValueState[Long] = _
    @transient private var hist: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      count = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig(ttl))
      hist = getHandle.getListState[Long]("hist",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig(ttl))
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
      val batchN = rows.size.toLong
      val n = (if (count.exists()) count.get() else 0L) + batchN
      count.update(n)
      hist.appendValue(batchN)
      Iterator.single((key, n, hist.get().size.toLong))
    }
  }

  /** T17 — the reference's idle-close driven by EVENT-TIME TIMERS
    * ([[IdleSessionProcessor]]): per-user 30-min-gap sessions over the
    * event stream, confined to 1-hour round windows (the reference's
    * dynamic-partition router, `HiveBatchedSink.scala:311-312`: each
    * event lands in its round window's writer, so no session spans a
    * window boundary and a never-idle key's state stays bounded), where
    * EVERY session is closed by its re-armed `max(windowEnd,
    * lastEvent + gap)` timer the moment the watermark strictly passes
    * the deadline — the reference's full two-condition writer close
    * (`HiveBatchedWriter.scala:62`: round window elapsed AND
    * `idleTimeout` of silence) stated in event time, and the ONLY close
    * path, exactly as in the reference (its idle scan is the sole
    * closer; arrivals never close writers). The fixture arrives as
    * three arrival files time-split on floored-second terciles with
    * ordered mtimes and `maxFilesPerTrigger = 1`, so sessions genuinely
    * span micro-batches and mid-stream watermark advances fire timers
    * mid-run (not only at shutdown). Emitted set = every session whose
    * deadline strictly precedes the final watermark —
    * `max((end/round + 1)·round, end + gap)·1000 < max_event_ms −
    * 600000`, the t1b flush rule at timer granularity
    * ([[TimerStateImpl]] fires `ts <= watermark` and the armed timer
    * carries `deadline·1000 + 1`; both sides exact integer ms) — which
    * is exactly what the DuckDB oracle restates (gaps-and-islands
    * splitting on gap OR window change, one uniform WHERE), so a
    * genuinely timer-driven multi-batch execution carries a full hash
    * oracle, and the emitted set is provably invariant across every
    * watermark-admissible arrival order (see [[IdleSessionProcessor]]).
    * RocksDB state store, t10's conf scope. */
  def idleCloseSessions(spark: SparkSession, sfDir: String,
                        gapSec: Long = 1800L,
                        roundSec: Long = 3600L): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    graft.Tables.ensureParquetConf(spark)
    // GRAFT_T17_PROFILE=1: per-phase wall times + per-micro-batch engine
    // durations to stderr — profiling hooks only, zero work when unset
    val profile = sys.env.get("GRAFT_T17_PROFILE").exists(_.trim.nonEmpty)
    var tMark = System.nanoTime()
    def lap(tag: String): Unit = if (profile) {
      val now = System.nanoTime()
      System.err.println(f"[t17] $tag%-10s ${(now - tMark) / 1e9}%.3f s")
      tMark = now
    }
    val qn = "graft_t17_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ev = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"),
        coalesce(col("event_type"), lit("no_category")).as("cat"),
        Times.epochSeconds(col("ts")).as("es"))
    val root = graft.Tables.scratchDir("graft_t17")
    val srcDir = root.resolve("src")
    java.nio.file.Files.createDirectories(srcDir)
    locally {
      val bounds = ev.agg(min(col("es")), max(col("es"))).head()
      val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
      val (cut1, cut2) = (mn + (mx - mn) / 3, mn + 2 * ((mx - mn) / 3))
      // ONE dynamic-partition write lands all three tercile files (the
      // previous three filtered coalesce(1) writes paid three job
      // round-trips over the same 2 MB scan — profiled at ~0.6 s of pure
      // scheduling); the single task writes the three arrival dirs in
      // order and the files are moved into place with ordered mtimes
      val tmp = root.resolve("land_tmp")
      ev.select(col("user_id"), col("ts"), col("cat"),
          when(col("es") <= cut1, "a_first").when(col("es") <= cut2, "b_second")
            .otherwise("c_third").as("arrival"))
        .coalesce(1).write.mode("overwrite")
        .partitionBy("arrival").parquet(tmp.toString)
      Seq("a_first" -> 1000000000000L, "b_second" -> 1000000060000L,
          "c_third" -> 1000000120000L).foreach { case (tag, mtimeMs) =>
        moveLandedPart(tmp.resolve(s"arrival=$tag"),
          srcDir.resolve(s"$tag.parquet"), mtimeMs)
      }
    }
    lap("land")
    val schema = spark.read.parquet(srcDir.toString).schema
    val sessions = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), Times.epochSeconds(col("ts")).as("es"), col("cat"))
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new IdleSessionProcessor(gapSec, roundSec),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "session_start", "session_end", "n_events", "n_types")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // 8 state partitions, not t10's 2: this operator writes ~one state row
    // per EVENT (nearly every event is its own window-split session at the
    // fixture's spacing), so per-key RocksDB work dominates addBatch and
    // parallelism wins until the per-store instance floor bites (profiled
    // at sf0.1: 2→8 partitions cuts the stream phase ~25%; 16 regresses —
    // the same partitions-sized-to-state-volume knob a cluster run turns)
    try withStatePartitions(spark, 8) {
      withScratchCheckpoint { ck =>
        val q = sessions.writeStream
          .format("memory").queryName(qn)
          .outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
        if (profile) q.recentProgress.foreach { p =>
          System.err.println(s"[t17] batch ${p.batchId}: ${p.durationMs} " +
            s"rows=${p.numInputRows} " +
            p.stateOperators.map(s => s"state(rowsUpd=${s.numRowsUpdated}," +
              s"rowsRemoved=${s.numRowsRemoved},commitMs=${s.commitTimeMs})")
              .mkString(" "))
        }
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    lap("stream")
    val out = drainMemorySink(spark, qn)(_.orderBy(col("user_id"), col("session_start")))
    lap("drain")
    out
  }

  /** T2 — sessionization: the idle-close semantics (a writer closes after
    * `idleTimeout` with no writes, HiveBatchedWriter.scala:60-63) as
    * session windows per user. Batch form here (same gap semantics the
    * streaming `session_window` applies); count sessions + total events. */
  def sessionize(spark: SparkSession, sfDir: String, gapSeconds: Long = 1800L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val marked = graft.Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"),
        Times.epochSeconds(col("ts")).as("epoch"))
      .withColumn("prev_epoch", lag(col("epoch"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_epoch").isNull || col("epoch") - col("prev_epoch") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** T2b — the streaming form of [[sessionize]]: native `session_window`
    * state (merge-on-overlap) driven through a real streaming execution,
    * then sessions-per-user. Declared + oracle-checked: session_window
    * starts a NEW session at exactly `gap` (strict overlap), so the oracle
    * is gaps-and-islands with `>= gap` in exact microseconds — one place
    * the streaming operator's semantics differ from the batch `> gap`
    * rule, pinned by the oracle rather than papered over. */
  def sessionWindowStream(spark: SparkSession, sfDir: String, gapSeconds: Long = 1800L): DataFrame = {
    val qn = "graft_sess_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val agg = source(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), s"$gapSeconds seconds"), col("user_id"))
      .count()
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        val q = agg.writeStream
          .format("memory").queryName(qn)
          .outputMode("complete")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(
      _.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"), sum(col("count")).as("n_events"))
        .orderBy(col("user_id")))
  }

  /** T4 — stream-stream event-time interval join: every `click` joined to
    * the `error`s of the same user within the next `windowSec` seconds.
    * This is the streaming correlation primitive the reference's
    * single-stream sink cannot express at all: two independently
    * watermarked streams, matched on key + a two-sided event-time range.
    * The range bound on BOTH join columns is what lets the state store
    * evict — each side keeps only `windowSec + watermark` of history, so
    * state is bounded regardless of stream length (the 100 TB property);
    * without the time bound Spark would buffer both streams forever.
    * Inner join: every match emits exactly once, so on a finite input the
    * result equals the batch interval join — which is what the DuckDB
    * oracle states. */
  def streamStreamJoin(spark: SparkSession, sfDir: String,
                       windowSec: Long = 1800L): DataFrame = {
    // one physical source, two logical branches: offsets/listing are
    // tracked once and both sides stay in lockstep per micro-batch
    val src = source(spark, sfDir)
    val clicks = src
      .where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val errors = src
      .where(col("event_type") === "error")
      .select(col("event_id").as("error_id"),
        col("user_id").as("err_user_id"), col("ts").as("error_ts"))
      .withWatermark("error_ts", "10 minutes")
    val joined = clicks.join(errors,
      col("user_id") === col("err_user_id") &&
        col("error_ts") >= col("click_ts") &&
        col("error_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec seconds"))
      .select(col("user_id"), col("click_id"), col("error_id"),
        (unix_timestamp(col("error_ts")) - unix_timestamp(col("click_ts")))
          .as("lag_sec"))
    val qn = "graft_ssj_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // a stream-stream join keeps FOUR state stores per partition (two
    // sides x keyed/value buffers) and AvailableNow runs a second
    // watermark-advance batch — 8 partitions would open/commit 64 store
    // instances for ~200k tiny rows; 4 halves that floor
    withStatePartitions(spark, 4) {
      withScratchCheckpoint { ck =>
        val q = joined.writeStream
          .format("memory").queryName(qn)
          .outputMode("append")
          .option("checkpointLocation", ck)
          .trigger(Trigger.AvailableNow())
          .start()
        try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
      }
    }
    drainMemorySink(spark, qn)(
      _.orderBy(col("user_id"), col("click_id"), col("error_id")))
  }

  /** Replay-idempotent per-batch ORC landing: write the batch to a
    * batchId-scoped staging dir (overwrite — a replay clobbers its own
    * partial attempt), then move each staged file into its logdate
    * partition under a deterministic `<run>-batch-<id>-part-<i>` name. Batch
    * content and partitioning are deterministic on replay (checkpointed
    * offsets), so the rename targets are identical and a re-run overwrites
    * its own files — never appends duplicates. `run` is the landing run's
    * identity ([[runId]]): batchIds restart at 0 for every fresh
    * checkpoint, so two runs landing into one out path would otherwise
    * name — and, through the stale-file sweep, delete — each other's
    * files. Rename-based one-file-at-a-
    * time moves are metadata ops on HDFS-likes; on object stores swap this
    * for a manifest commit (same contract, different primitive). */
  private[graft] def landBatchIdempotent(batch: DataFrame, run: String, batchId: Long,
                                         outPath: String, checkpoint: String,
                                         fs: org.apache.hadoop.fs.FileSystem): Unit = {
    import org.apache.hadoop.fs.Path
    val staging = new Path(checkpoint, s"graft_staging/batch-$batchId")
    batch.write.mode("overwrite").partitionBy("logdate").orc(staging.toString)
    val partDirs = fs.listStatus(staging)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("logdate="))
    partDirs.foreach { d =>
      val target = new Path(outPath, d.getPath.getName)
      fs.mkdirs(target)
      // A replay must fully SUPERSEDE the prior attempt, not just overwrite
      // name-collisions: staged file count depends on input-split packing
      // (parallelism at write time), so a restart on a resized cluster can
      // stage FEWER files than the crashed attempt already moved — the
      // leftover higher-indexed batch files would duplicate rows. Bounded
      // glob: one batch's files in one partition dir.
      val stale = fs.globStatus(new Path(target, s"$run-batch-$batchId-part-*"))
      if (stale != null) stale.foreach(s => fs.delete(s.getPath, false))
      val files = fs.listStatus(d.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .sortBy(_.getPath.getName)
      files.zipWithIndex.foreach { case (f, i) =>
        val dst = new Path(target, f"$run-batch-$batchId-part-$i%05d.orc")
        // Hadoop FileSystem.rename reports most failures as `false`, not an
        // exception — failing the batch here (→ retry) beats the silent
        // data loss of deleting staging below with the file unmoved.
        if (!fs.rename(f.getPath, dst))
          throw new java.io.IOException(
            s"rename ${f.getPath} -> $dst failed; batch $batchId will be retried")
      }
    }
    fs.delete(staging, true)
  }

  /** The rows batch `batchId` of landing run `run` put under `outPath`,
    * read back from the files [[landBatchIdempotent]] named, as `schema`
    * (the batch's, `logdate` included). Empty when nothing landed. */
  private[graft] def landedBatch(spark: SparkSession,
                                 schema: org.apache.spark.sql.types.StructType,
                                 run: String, batchId: Long, outPath: String,
                                 fs: org.apache.hadoop.fs.FileSystem): DataFrame = {
    import org.apache.hadoop.fs.Path
    val files = Option(fs.globStatus(
      new Path(outPath, s"logdate=*/$run-batch-$batchId-part-*"))).toSeq.flatten
    if (files.isEmpty)
      spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    else spark.read.schema(schema).option("basePath", outPath)
      .orc(files.map(_.getPath.toString): _*)
  }

  /** One micro-batch of the streaming delete-propagation loop (T18 —
    * x75 as an operational stream): apply a batch of tombstone keys
    * `(doc_id, source)` to a `source=`-partitioned corpus by rewriting
    * ONLY the partitions the batch touches. Replay-idempotent and
    * crash-safe under `foreachBatch`'s at-least-once contract:
    *  - staging is TAG-scoped (`batch=<runId>-<batchId>`), so a replayed
    *    attempt clobbers its own half-done staging, never another batch's;
    *  - the anti-join itself is idempotent (re-deleting absent keys is a
    *    no-op), so a replay over an already-swapped corpus stages
    *    byte-identical survivors and the re-swap converges;
    *  - the swap is [[graft.sources.Landing.compactPartitions]]'s
    *    retire-to-trash / publish-from-staging rename pair, with crash
    *    recovery FIRST: a partition stranded in trash with no live dir
    *    (death between the two renames) is restored before anything else
    *    touches the tree, so the corpus is READABLE at every instant;
    *  - a fully-emptied partition publishes an EMPTY staged dir rather
    *    than skipping the publish — live always exists after a publish,
    *    which is what keeps the restore rule unambiguous (it can never
    *    mistake an intentional drop for a crashed swap); fileless dirs
    *    are swept only after the batch's trash is gone.
    * Cost is O(batch keys + dirty partitions' rows), never O(corpus) —
    * x75's economics, held per micro-batch. Reference anchor: the
    * late-arrival partition re-open (`HiveBatchedSink.scala:318-322`) —
    * the same rewrite-a-landed-partition-after-the-fact shape. */
  private[graft] def deleteBatch(batch: DataFrame, batchTag: String,
                                 corpusDir: String,
                                 keyCol: String = "doc_id",
                                 partCol: String = "source",
                                 knownDirty: Option[Seq[Any]] = None): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val spark = batch.sparkSession
    val root = new Path(corpusDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagingRoot = new Path(root.getParent, "." + root.getName + "_delprop_staging")
    val staging = new Path(stagingRoot, s"batch=$batchTag")
    val trash = new Path(root.getParent, "." + root.getName + "_delprop_trash")
    // crash recovery FIRST (the compaction discipline): restore any trash
    // partition whose live dir is missing — death between the two renames
    // left the only copy there; deleting trash up-front would destroy it
    if (fs.exists(trash)) {
      var restored = false
      fs.listStatus(trash).foreach { d =>
        val live = new Path(root, d.getPath.getName)
        if (d.isDirectory && !fs.exists(live)) {
          require(fs.rename(d.getPath, live),
            s"could not restore ${d.getPath.getName} from interrupted delete swap")
          restored = true
        }
      }
      // invalidate any CACHED relation over the corpus BEFORE the survivor
      // read below: a read cached while the partition sat in trash (e.g. a
      // monitoring query between restart and first batch) would be
      // substituted by the cache manager into the survivor plan, and a
      // batch whose dirty set includes the restored partition would then
      // stage zero survivors and publish it EMPTY — silent data loss
      if (restored) spark.catalog.refreshByPath(corpusDir)
    }
    fs.delete(trash, true)
    val keys = batch.select(col(keyCol), col(partCol)).distinct().persist()
    try {
      val dirtyDf = keys.select(col(partCol)).distinct()
      // a caller that already collected the batch's partition set (t19's
      // one-round-trip discipline) passes it in; the anti-join still runs
      // against the full key table either way
      val dirty = knownDirty.getOrElse(
        dirtyDf.collect().map(_.get(0)).toSeq.sortBy(_.toString))
      if (dirty.nonEmpty) {
        def dirName(v: Any): String =
          partCol + "=" + ExternalCatalogUtils.escapePathName(v.toString)
        // survivors of the dirty partitions only: partition-pruned read
        // (gated isin/semi-join — Maintenance.restrictToKeys), one anti
        // hash-join against the batch's key set
        graft.operators.Maintenance
          .restrictToKeys(spark.read.parquet(corpusDir), partCol, dirtyDf,
            dirty, graft.operators.Maintenance.keyGateDefault)
          .join(broadcast(keys.select(col(keyCol)).distinct()),
            Seq(keyCol), "left_anti")
          .write.mode("overwrite").partitionBy(partCol).parquet(staging.toString)
        fs.mkdirs(trash)
        dirty.foreach { s =>
          val live = new Path(root, dirName(s))
          val staged = new Path(staging, dirName(s))
          // an all-rows-dead partition staged nothing: publish an EMPTY
          // dir so live keeps existing (see contract above)
          if (!fs.exists(staged)) fs.mkdirs(staged)
          if (fs.exists(live))
            require(fs.rename(live, new Path(trash, dirName(s))),
              s"delete propagation could not retire ${dirName(s)}")
          require(fs.rename(staged, live),
            s"delete propagation could not publish ${dirName(s)} (old data in $trash)")
        }
        fs.delete(trash, true)
        // sweep the WHOLE staging root, not just this batch's tag: a
        // wiped-checkpoint restart mints a new runId, so a crashed batch's
        // `batch=<old-tag>` staging would otherwise accumulate forever
        // (this batch is fully published, and deleteBatch is single-writer
        // per corpus — foreachBatch runs batches serially)
        fs.delete(stagingRoot, true)
        // only after the batch is fully published: sweep the fileless dirs
        // the empty-publish rule left behind (bounded: ⊆ dirty keys), then
        // drop the stale file listing the manual renames bypassed
        dirty.foreach { s =>
          val live = new Path(root, dirName(s))
          if (fs.exists(live) && fs.listStatus(live).isEmpty) {
            fs.delete(live, true); ()
          }
        }
        spark.catalog.refreshByPath(corpusDir)
      }
    } finally { keys.unpersist(); () }
  }

  /** Drive a tombstone-key stream into [[deleteBatch]] — the continuous
    * right-to-be-forgotten loop over a landed corpus. */
  def deleteStream(tombs: DataFrame, corpusDir: String, checkpoint: String): Unit = {
    val run = runId(checkpoint, tombs.sparkSession.sessionState.newHadoopConf())
    val q = tombs.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        deleteBatch(b, s"$run-$id", corpusDir); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
  }

  /** T18 — [[deleteStream]] under the driver's oracle gate: land
    * `documents` partitioned by source, stream x75's tombstone set at it
    * as TWO genuinely separate micro-batches (t14's ordered-mtime arrival
    * files, `maxFilesPerTrigger = 1`), then restate x75's per-partition
    * delete accounting over the FINAL corpus state — the oracle is x75's
    * verbatim, so the green hash states that the streaming loop converges
    * to exactly the one-shot pass's corpus. */
  def streamDeletePropagation(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    graft.Tables.ensureParquetConf(spark)
    val docs = graft.Tables.documents(spark, sfDir)
    val root = graft.Tables.scratchDir("graft_t18")
    // the stream deletes from its corpus in place — take a PRIVATE copy of
    // the durable source-partitioned landing (metadata-speed fs copy, not
    // a per-run dynamic-partition re-encode)
    val corpus = root.resolve("corpus").toString
    copyDir(spark, graft.operators.Maintenance.landedDocsDir(spark, sfDir), corpus)
    val tomb = docs
      .where(graft.functions.TextFns.polyHash(col("doc_id").cast("string")) % 40 === 0)
      .select(col("doc_id"), col("source"))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    val half = pmod(graft.functions.TextFns.polyHash(col("doc_id").cast("string")), lit(2L))
    landArrivalSplits(tomb, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      deleteStream(
        spark.readStream.schema(tomb.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
        corpus, ck)
    }
    val after = spark.read.parquet(corpus)
      .groupBy(col("source")).agg(count(lit(1)).as("rows_after"))
    docs.groupBy(col("source")).agg(count(lit(1)).as("rows_before"))
      .join(after, Seq("source"), "left")
      .select(col("source"), col("rows_before"),
        (col("rows_before") - coalesce(col("rows_after"), lit(0L))).as("rows_deleted"),
        coalesce(col("rows_after"), lit(0L)).as("rows_after"),
        when(coalesce(col("rows_after"), lit(0L)) < col("rows_before"), lit(1L))
          .otherwise(lit(0L)).as("rewritten"))
      .orderBy(col("source"))
  }

  /** Recursive filesystem copy of a published artifact dir — fixture
    * setup for the mutating stream loops (t18/t19 need private corpus /
    * view copies per run; copying bytes is metadata-speed next to
    * re-encoding a partition tree through a Spark write). */
  private def copyDir(spark: SparkSession, src: String, dst: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val s = new Path(src); val d = new Path(dst)
    val fs = s.getFileSystem(conf)
    val dfs = d.getFileSystem(conf)
    if (dfs.exists(d)) dfs.delete(d, true)
    require(FileUtil.copy(fs, s, dfs, d, false, true, conf),
      s"could not copy $src to $dst")
  }

  /** [[copyDir]]'s COPY-ON-WRITE form for a partitioned artifact whose
    * mutable partitions are known up front: child dirs matching `mutable`
    * are deep-copied (the stream will rewrite them in place), every other
    * child is SYMLINKED read-only to the shared artifact — the clean
    * majority of a day-partitioned corpus costs one link each instead of
    * a byte copy. Sound because the t18/t19 swap machinery only ever
    * renames/rewrites the dirty partitions (and the scratch reaper,
    * [[graft.Tables.rmScratch]], never follows links). Local-fs fixture
    * helper — production corpora are not copied at all. */
  private def copyDirCow(spark: SparkSession, src: String, dst: String)
                        (mutable: String => Boolean): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = spark.sparkContext.hadoopConfiguration
    val s = new Path(src); val d = new Path(dst)
    val fs = s.getFileSystem(conf)
    val dfs = d.getFileSystem(conf)
    if (dfs.exists(d)) dfs.delete(d, true)
    dfs.mkdirs(d)
    val srcLocal = src.stripPrefix("file:")
    val dstLocal = dst.stripPrefix("file:")
    fs.listStatus(s).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && !mutable(name))
        java.nio.file.Files.createSymbolicLink(
          java.nio.file.Paths.get(dstLocal, name),
          java.nio.file.Paths.get(srcLocal, name))
      else
        require(FileUtil.copy(fs, st.getPath, dfs, new Path(d, name),
          false, true, conf), s"could not copy $src/$name to $dst")
    }
  }

  /** The `_LATEST` pointer of a maintained-view directory: names the
    * current snapshot dir ("base" or "batch=<tag>"). A torn pointer (death
    * mid-write) is always repaired before any read: the only reader is the
    * NEXT batch's fold, which cannot run until this batch commits, and a
    * replay of THIS batch rewrites the pointer without reading it (its
    * fold is skipped on the publish marker). */
  private[graft] def readViewPointer(fs: org.apache.hadoop.fs.FileSystem,
                              viewRoot: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(new org.apache.hadoop.fs.Path(viewRoot, "_LATEST"))
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }

  private[graft] def writeViewPointer(fs: org.apache.hadoop.fs.FileSystem,
                               viewRoot: org.apache.hadoop.fs.Path,
                               snapName: String): Unit = {
    import org.apache.hadoop.fs.Path
    // write-then-RENAME, not create-truncate: every versioned-layer
    // probe resolves this pointer, and a racing reader of a truncate-
    // then-write could see a half-written name. Rename is atomic on
    // POSIX/HDFS; where rename-over-existing is refused the fallback is
    // delete+rename (the lease-heartbeat pattern — a far narrower
    // window than truncate+write, and single-writer anyway).
    val latest = new Path(viewRoot, "_LATEST")
    // fixed name: single-writer (leased), and a crash leftover is
    // clobbered by the next pointer move's own create-overwrite
    val tmp = new Path(viewRoot, ".latest_tmp")
    val out = fs.create(tmp, true)
    try out.write(snapName.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, latest)) {
      fs.delete(latest, false)
      require(fs.rename(tmp, latest), s"could not move pointer at $viewRoot")
    }
  }

  /** Initialize a maintained aggregate view over a day-partitioned events
    * corpus: the "base" snapshot is the full aggregate, and `_LATEST`
    * points at it. */
  private[graft] def initRetractView(spark: SparkSession, corpusDir: String,
                                     viewDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val viewRoot = new Path(viewDir)
    val fs = viewRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.operators.Maintenance.partial(spark.read.parquet(corpusDir))
      .write.mode("overwrite").parquet(new Path(viewRoot, "base").toString)
    writeViewPointer(fs, viewRoot, "base")
  }

  /** The view's current contents (via the `_LATEST` pointer). */
  private[graft] def readRetractView(spark: SparkSession, viewDir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val viewRoot = new Path(viewDir)
    val fs = viewRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(new Path(viewRoot, readViewPointer(fs, viewRoot)).toString)
  }

  /** One micro-batch of the streaming retraction-view loop (T19 = t18 ∘
    * x77): a batch of tombstone keys `(event_id, logday)` is folded OUT of
    * the stored aggregate view AND deleted from the day-partitioned
    * corpus, in that order. Exactly-once for the VIEW comes from
    * snapshot-per-batch publish markers: the fold's output lands as
    * `batch=<tag>` next to its predecessor and is published by atomic
    * rename (marker inside), so a replay whose snapshot already published
    * SKIPS the fold — this matters because the fold is only correct
    * against the PRE-delete corpus (the max repair rescans surviving
    * rows), and a replay arrives after the corpus delete may have run.
    * The corpus delete itself is [[deleteBatch]] (idempotent, crash-safe
    * swaps). Order of operations per batch: fold+publish → move `_LATEST`
    * → delete corpus partitions; every prefix of that sequence replays to
    * the same end state, and the view is never behind the corpus (it
    * leads it within a batch, by at most the batch). Each snapshot is
    * O(groups) — the x76/x77 stored-aggregate envelope — so the per-batch
    * cost is O(batch keys + touched groups + dirty buckets' rows). */
  private[graft] def retractViewBatch(batch: DataFrame, batchTag: String,
                                      corpusDir: String, viewDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val spark = batch.sparkSession
    val viewRoot = new Path(viewDir)
    val fs = viewRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = new Path(viewRoot, s"batch=$batchTag")
    val keys = batch.select(col("event_id"), col("logday")).distinct().persist()
    try {
      t19Lap(s"b:$batchTag keys")
      // ONE driver round-trip serves as the emptiness gate, the fold's
      // partition-prune list, and the corpus delete's dirty set
      val dayVals = keys.select(col("logday")).distinct()
        .collect().map(_.get(0)).toSeq.sortBy(_.toString)
      if (dayVals.nonEmpty) {
        t19Lap(s"b:$batchTag nonempty")
        if (!fs.exists(new Path(snap, "_SUCCESS"))) {
          val base = readRetractView(spark, viewDir)
          val folded = graft.operators.Maintenance.aggRetractMergeKeys(
            spark, spark.read.parquet(corpusDir), base, keys, dayVals)
          t19Lap(s"b:$batchTag foldplan")
          publishSnapshot(fs, viewRoot, snap) { tmp =>
            // one file: a snapshot is O(groups) — single-task write, and
            // the next batch's fold reads the whole thing anyway
            folded.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            t19Lap(s"b:$batchTag foldwrite")
          }
        }
        writeViewPointer(fs, viewRoot, s"batch=$batchTag")
        t19Lap(s"b:$batchTag publish")
        gcSnapshots(fs, viewRoot, batchTag)
        t19Lap(s"b:$batchTag gc")
        deleteBatch(batch, batchTag, corpusDir,
          keyCol = "event_id", partCol = "logday",
          knownDirty = Some(dayVals))
        t19Lap(s"b:$batchTag delete")
      }
    } finally { keys.unpersist(); () }
  }

  /** Race-safe snapshot publish under a maintained-artifact root: `write`
    * fills a fresh `.tmp_*` dir, a `_SUCCESS` marker seals it (Spark's
    * parquet commit usually wrote one already), and ONE rename publishes
    * it as `snap`. A refused rename means either a concurrent publisher
    * won (marker present — ours is discarded) or a markerless partial
    * attempt occupies the slot (replaced rather than stranding the
    * batch). Shared by the t19 view fold and the t21 stats fold. */
  private[graft] def publishSnapshot(fs: org.apache.hadoop.fs.FileSystem,
                              root: org.apache.hadoop.fs.Path,
                              snap: org.apache.hadoop.fs.Path)
                             (write: org.apache.hadoop.fs.Path => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(root, s".tmp_${java.util.UUID.randomUUID()}")
    write(tmp)
    val marker = new Path(tmp, "_SUCCESS")
    if (!fs.exists(marker)) fs.create(marker, true).close()
    if (!fs.rename(tmp, snap)) {
      if (fs.exists(new Path(snap, "_SUCCESS"))) fs.delete(tmp, true)
      else {
        fs.delete(snap, true)
        require(fs.rename(tmp, snap), s"could not publish snapshot $snap")
      }
    }
  }

  /** GC a maintained-artifact root after the `_LATEST` pointer moved to
    * `batch=<batchTag>`: THIS RUN's earlier snapshots can never be read
    * again (foreachBatch replays only the last uncommitted batch, and
    * cross-run readers resolve through the pointer) — without this sweep
    * the root grows by one snapshot per micro-batch forever. Orphaned
    * `.tmp_*` dirs (a crash between write and rename) go the same way;
    * other runs' snapshots, `base`, and the pointer target are never
    * touched. Shared by the t19 view loop and the t21 stats loop. */
  private[graft] def gcSnapshots(fs: org.apache.hadoop.fs.FileSystem,
                          root: org.apache.hadoop.fs.Path,
                          batchTag: String): Unit = {
    val cut = batchTag.lastIndexOf('-')
    val parsed = cut > 0 && batchTag.substring(cut + 1).nonEmpty &&
      batchTag.substring(cut + 1).forall(_.isDigit)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      val superseded = parsed && {
        val runPrefix = s"batch=${batchTag.substring(0, cut + 1)}"
        val rest = n.stripPrefix(runPrefix)
        n.startsWith(runPrefix) && rest.nonEmpty && rest.forall(_.isDigit) &&
          rest.toLong < batchTag.substring(cut + 1).toLong
      }
      if (n.startsWith(".tmp_") || superseded) { fs.delete(st.getPath, true); () }
    }
  }

  /** Drive a tombstone-key stream into [[retractViewBatch]] — the
    * continuous form of x77: corpus AND stored aggregate maintained
    * together under deletes. */
  def retractViewStream(tombs: DataFrame, corpusDir: String, viewDir: String,
                        checkpoint: String): Unit = {
    val run = runId(checkpoint, tombs.sparkSession.sessionState.newHadoopConf())
    val q = tombs.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        retractViewBatch(b, s"$run-$id", corpusDir, viewDir); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
  }

  /** T19 — [[retractViewStream]] under the driver's oracle gate: copy the
    * day-partitioned landing and the stored aggregate (filesystem copies
    * of the durable artifacts), stream the t19 tombstone set at it as TWO
    * micro-batches (ordered-mtime arrival files), and return the FINAL
    * view. Tombstones are the retention cut plus a DAY-BANDED scatter
    * ([[graft.operators.Maintenance.t19Tombstones]]) — the operational
    * delete-batch shape, under which most day partitions stay clean and
    * the per-batch swap/repair economics are observable instead of
    * degenerate. The oracle is the monolithic recompute after these
    * deletes, so the green hash states that the incremental streaming
    * loop — two folds, two partition-pruned max repairs, two corpus
    * swaps — converges to the one-shot retraction. */
  // GRAFT_T19_PROFILE=1: per-phase wall times to stderr — profiling hook
  // only, zero work when unset (the t17 discipline)
  private val t19Profile = sys.env.get("GRAFT_T19_PROFILE").exists(_.trim.nonEmpty)
  private val t19Mark = new ThreadLocal[java.lang.Long] {
    override def initialValue() = java.lang.Long.valueOf(System.nanoTime())
  }
  private def t19Lap(tag: String): Unit = if (t19Profile) {
    val now = System.nanoTime()
    System.err.println(f"[t19] $tag%-14s ${(now - t19Mark.get) / 1e9}%.3f s")
    t19Mark.set(now)
  }

  def streamRetractView(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    graft.Tables.ensureParquetConf(spark)
    t19Lap("start")
    val landed = graft.operators.Maintenance.landedEvents(spark, sfDir)
    val root = graft.Tables.scratchDir("graft_t19")
    val (mn, d) = graft.operators.Maintenance.historyBoundsLanded(spark,
      graft.operators.Maintenance.landedEventsDir(spark, sfDir))
    // the tombstone set's DAY envelope, analytically from the bounds (no
    // extra scan): es < mn+d lives in days ≤ day(mn+d); the banded
    // scatter lives in day(mn+4d)..day(mn+6d) — day() is monotone in es,
    // so every tombstone's logday falls inside the envelope
    val cutDay = graft.operators.Maintenance.dayLitOfEpoch(mn + d)
    val bandLo = graft.operators.Maintenance.dayLitOfEpoch(mn + 4L * d)
    val bandHi = graft.operators.Maintenance.dayLitOfEpoch(mn + 6L * d)
    def mutableDay(day: Long): Boolean =
      day <= cutDay || (day >= bandLo && day <= bandHi)
    // a PRIVATE copy of the landing AND of the stored aggregate: the
    // stream mutates both, and the durable-cache artifacts are shared by
    // x76/x77 — filesystem copies, not per-run Spark re-encodes. The
    // landing copy is COPY-ON-WRITE (VERDICT r13 #4): only the day
    // partitions the stream can ever rewrite are deep-copied; the clean
    // majority symlink to the shared artifact read-only
    val corpus = root.resolve("corpus").toString
    copyDirCow(spark,
      graft.operators.Maintenance.landedEventsDir(spark, sfDir), corpus) {
      name => !name.startsWith("logday=") ||
        mutableDay(name.stripPrefix("logday=").toLong)
    }
    val view = root.resolve("view").toString
    copyDir(spark, graft.operators.Maintenance.storedAggDir(spark, sfDir),
      new org.apache.hadoop.fs.Path(view, "base").toString)
    writeViewPointer(
      new org.apache.hadoop.fs.Path(view)
        .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new org.apache.hadoop.fs.Path(view), "base")
    t19Lap("copy")
    val tomb = landed
      // redundant day conjunct (x76's discipline: changes no row, only
      // prunes partitions) — the tombstone SCAN reads only the envelope
      .where(col("logday") <= cutDay ||
        (col("logday") >= bandLo && col("logday") <= bandHi))
      .where(graft.operators.Maintenance.t19Tombstones(mn, d))
      .select(col("event_id"), col("logday"))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    // PARTITION-COHERENT arrival batches (the operational delete-stream
    // shape, and the r13 hash-split's hidden cost): the retention cut
    // arrives first, the banded GDPR scatter second, so each batch's
    // dirty-day set is (near-)disjoint and a day partition is fetched and
    // rewritten ONCE across the stream — a key-hash split instead spreads
    // every dirty day across every batch, doubling the doomed fetch, max
    // repair, and swap I/O for the same final state. Same-day-re-dirtied
    // batches (replay, overlapping requests) stay spec-pinned on the hand
    // fixture (its b1/b2 both touch day 19700101).
    landArrivalSplits(tomb, root, srcDir,
      Seq("a_first.parquet" -> (col("logday") <= cutDay),
        "b_second.parquet" -> (col("logday") > cutDay)))
    t19Lap("land")
    withScratchCheckpoint { ck =>
      retractViewStream(
        spark.readStream.schema(tomb.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
        corpus, view, ck)
    }
    t19Lap("stream")
    readRetractView(spark, view).orderBy(col("category"), col("bucket"))
  }

  /** T20 — the x80 dirty-cell index rewrite as an OPERATIONAL LOOP: a
    * stream of vec_id tombstones applied to the cell-partitioned ANN
    * index in `foreachBatch`, one `ivfCellDeleteKeys` swap per
    * micro-batch. Unlike t19's fold, no publish marker is needed —
    * deleting keys from an index is idempotent by construction (a
    * replayed batch's keys are already absent, so the dirty set is empty
    * and no file is touched), which is the t18 corpus-delete discipline
    * with an even simpler replay argument. The final probe is x6b's over
    * the maintained index; the oracle is x80's verbatim — the green hash
    * states that N micro-batch swaps converge to the one-shot dirty-cell
    * rewrite, i.e. streaming ≡ batch for index maintenance. With t18
    * (corpus) and t19 (stored view), every maintained artifact class
    * with a delete path now also has its streaming form. */
  def streamIndexDelete(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    import graft.operators.Similarity
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t20")
    val idxDir = root.resolve("idx").toString
    Similarity.ivfAssignment(spark, sfDir)
      .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    val tombs = Similarity.ivfAssignment(spark, sfDir)
      .where(Similarity.x80Tombstone).select(col("vec_id"))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    landArrivalSplits(tombs, root, srcDir,
      Seq("a_first.parquet" -> (pmod(col("vec_id"), lit(2L)) === 0L),
        "b_second.parquet" -> (pmod(col("vec_id"), lit(2L)) === 1L)))
    withScratchCheckpoint { ck =>
      val q = spark.readStream.schema(tombs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          Similarity.ivfCellDeleteKeys(spark, idxDir, b); ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    Similarity.ivfProbe(spark, sfDir, spark.read.parquet(idxDir),
      queryId = 0L, k = 10, nprobe = 4)
  }

  /** T22 — x84's layered-index UPSERT as an OPERATIONAL LOOP: a stream of
    * ops rows (op `I` with the raw embedding, op `D` keys) maintains the
    * batch-layered IVF-PQ index in `foreachBatch` — per micro-batch, the
    * insert leg (net of same-batch tombstone cancels, x84's pre-cancel)
    * lands as a new FROZEN-quantizer-encoded `batch=<runId-batchId>`
    * layer, then the tombstones propagate through every existing layer's
    * dirty (batch, cell) leaves. Markerless replay idempotence, t20's
    * argument extended to the upsert: the append overwrites its own
    * tag-scoped layer byte-for-byte (x16's rule — batch content is
    * deterministic from checkpointed offsets), and a replayed delete's
    * keys are already absent, so the dirty set is empty; a crash BETWEEN
    * append and delete replays both and converges. The final probe is
    * x6g's over the maintained index; the oracle is x83/x84's verbatim —
    * the green hash states that N micro-batch upserts converge to the
    * one-shot upsert pass, i.e. streaming ≡ batch for layered-index
    * maintenance, closing the streaming leg for the last artifact
    * class. */
  def streamIndexUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    import graft.operators.Similarity
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t22")
    val idxDir = root.resolve("idx").toString
    val vecs = graft.Tables.embeddings(spark, sfDir)
    // stored history: the even half, landed as the base layer
    Similarity.ivfPqAppend(spark, sfDir,
      vecs.where(pmod(col("vec_id"), lit(2L)) === 0L), idxDir, "base")
    // ops: the odd half arrives as inserts, x80's tombstone set as
    // deletes — a doomed ODD vector's I and D rows share its arrival
    // hash, so the same-batch cancel leg is genuinely exercised, while
    // doomed EVEN vectors exercise the cross-layer delete
    val ops = vecs.where(pmod(col("vec_id"), lit(2L)) === 1L)
      .select(col("vec_id"), lit("I").as("op"), col("embedding"))
      .unionByName(vecs.where(Similarity.x80Tombstone)
        .select(col("vec_id"), lit("D").as("op"),
          lit(null).cast("array<float>").as("embedding")))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    val half = pmod(graft.functions.TextFns.polyHash(col("vec_id").cast("string")), lit(2L))
    landArrivalSplits(ops, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      val run = runId(ck, spark.sessionState.newHadoopConf())
      val q = spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val tombs = b.where(col("op") === "D").select(col("vec_id"))
          // one staged write + one publish per micro-batch (VERDICT r17
          // #1): insert layer and delete-survivors land together — same
          // final state as append-then-delete (inserts are net of their
          // own tombstones, so the fresh layer is never dirty)
          Similarity.ivfPqUpsertEncodedKeys(spark, idxDir, tombs,
            s"$run-$id", Similarity.encodeVectorBatch(spark, sfDir,
              b.where(col("op") === "I").select(col("vec_id"), col("embedding"))
                .join(broadcast(tombs.distinct()), Seq("vec_id"), "leftanti")))
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    Similarity.ivfPqProbe(spark, sfDir, spark.read.parquet(idxDir),
      queryId = 0L, k = 10, nprobe = 4)
  }

  /** T23 — the dedup-index UPSERT as an OPERATIONAL LOOP: a stream of ops
    * rows (op `I` with the document text, op `D` keys) maintains the
    * persisted `(fp, doc_id)` fingerprint index in `foreachBatch` — per
    * micro-batch, `Dedup.dedupIndexUpsertKeys`'s delete-first discipline:
    * the keys fold through the stored layers' dirty `batch=` partitions,
    * then the insert leg (net of same-batch cancels) is admitted against
    * the post-delete index and lands as a new `batch=<runId-batchId>`
    * layer. Markerless replay idempotence (t22's argument): a replayed
    * delete's keys are already absent so the dirty set is empty, the
    * append's probe excludes its own tag and its overwrite clobbers any
    * partial attempt, and a crash between the legs replays both and
    * converges.
    *
    * UNLIKE every prior streaming-maintenance form, the fold is
    * ORDER-SENSITIVE: admission depends on what the index held when a
    * batch arrived. An insert rejected against a keeper that a LATER
    * batch deletes stays dropped (incremental-dedup drops are permanent —
    * `dedupIndexBatch`'s contract), so N micro-batches are NOT equivalent
    * to one monolithic upsert, and the oracle restates the per-batch fold
    * over the same deterministic arrival split instead of carrying x87's
    * verbatim. The spec pins the divergence on a hand fixture — the
    * honest contract, where a hash-match against the one-shot oracle
    * would only certify that the fixture dodged the collision. */
  def streamDedupIndexUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    import graft.operators.Dedup
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t23")
    val idxDir = root.resolve("idx").toString
    val docs = graft.Tables.documents(spark, sfDir)
    // stored history: x87's two layers (buckets ≤5, 6–7)
    Dedup.dedupAgainstIndex(spark, docs.where(Dedup.idxBucket <= 5),
      idxDir, "prior")
    Dedup.dedupAgainstIndex(spark,
      docs.where(Dedup.idxBucket === 6 || Dedup.idxBucket === 7),
      idxDir, "mid")
    // ops: buckets ≥8 arrive as inserts, the idxDoomed residue set as
    // deletes — doomed inserts share their arrival hash with their D row
    // (both hash the same doc_id), so the same-batch cancel leg is
    // genuinely exercised, while doomed stored keepers exercise the
    // cross-layer delete
    val ops = docs.where(Dedup.idxBucket >= 8)
      .select(col("doc_id"), lit("I").as("op"), col("text"))
      .unionByName(docs.where(Dedup.idxDoomed)
        .select(col("doc_id"), lit("D").as("op"),
          lit(null).cast("string").as("text")))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    // arrival split: a decorrelated second residue of the id hash
    // (Dedup.idxArrival — see idxDoomed's note on why a SALT is not
    // independent here)
    val half = Dedup.idxArrival
    landArrivalSplits(ops, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      val run = runId(ck, spark.sessionState.newHadoopConf())
      val q = spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          Dedup.dedupIndexUpsertKeys(spark, idxDir,
            b.where(col("op") === "I").select(col("doc_id"), col("text")),
            b.where(col("op") === "D").select(col("doc_id")),
            s"$run-$id")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    spark.read.parquet(idxDir).select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** T24 — the NEAR-dup triple index's upsert as an OPERATIONAL LOOP:
    * t23's shape with the near legs. Per micro-batch of ops rows, the
    * delete keys fold through all three sub-indexes
    * (`Dedup.nearDedupIndexDeleteKeys` — fp, prefix postings, shingle
    * arrays), then the insert leg (net of same-batch cancels) runs
    * [[nearDedupIndexBatch]] against the post-delete index: exact dups
    * of surviving keepers drop, near-dups (J ≥ 0.8) of surviving
    * keepers drop, and near-dups of keepers deleted in THIS OR ANY
    * EARLIER batch are admitted. Replay is markerless: a replayed
    * delete's keys are already absent, and the insert leg's four writes
    * (survivors + three sub-index layers) are all tag-scoped overwrites,
    * so a crash anywhere between or inside the legs replays both and
    * converges (spec drill). Order-sensitive like t23 — admission probes
    * the index as-of arrival — so the oracle restates the per-batch fold
    * over the idxArrival residue split; the streaming spec additionally pins
    * the streamed result against a JVM replica of the two-batch fold. */
  def streamNearDedupIndexUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    import graft.operators.Dedup
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t24")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val docs = graft.Tables.documents(spark, sfDir)
    nearDedupIndexBatch(
      docs.where(Dedup.idxBucket <= 7).select(col("doc_id"), col("text")),
      "prior", idxDir, outDir)
    val ops = docs.where(Dedup.idxBucket >= 8)
      .select(col("doc_id"), lit("I").as("op"), col("text"))
      .unionByName(docs.where(Dedup.idxDoomed)
        .select(col("doc_id"), lit("D").as("op"),
          lit(null).cast("string").as("text")))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    val half = Dedup.idxArrival
    landArrivalSplits(ops, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      val run = runId(ck, spark.sessionState.newHadoopConf())
      val q = spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val keys = b.where(col("op") === "D").select(col("doc_id"))
          // delete fold + admitted batch in ONE publish per sub-index
          // (VERDICT r17 #1): both probes see the post-delete view via
          // the keys anti-join inside
          nearDedupIndexBatch(
            b.where(col("op") === "I").select(col("doc_id"), col("text"))
              .join(broadcast(keys.distinct()), Seq("doc_id"), "leftanti"),
            s"$run-$id", idxDir, outDir, deleteKeys = Some(keys))
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    spark.read.parquet(s"$idxDir/fp").select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** T25 — the winnowing span index's upsert as an OPERATIONAL LOOP:
    * per micro-batch of ops rows, the delete keys fold through the
    * shared flat swap (`Dedup.dedupIndexDeleteKeys` — span rows carry
    * `doc_id`) and the insert leg (net of same-batch cancels) lands its
    * spans as a new `batch=<runId-batchId>` layer
    * (`TextAnalysis.spanIndexAppend`). UNLIKE the dedup-admission folds
    * (t23/t24), this fold is ORDER-INSENSITIVE: a document's span rows
    * are a pure function of its text — landing never probes the index —
    * and a delete is a set subtraction, so N micro-batches ≡ the
    * one-shot upsert regardless of arrival (a doomed insert's I and D
    * share a batch, so cancels stay same-batch; a cross-batch delete of
    * a landed insert cannot arise). The final x91 probe therefore
    * carries x91's oracle VERBATIM — the green hash states streaming ≡
    * batch for this artifact, the same theorem t20/t22 state for the
    * row-independent ANN folds. Replay is markerless: delete keys
    * already absent, the append overwrites its own tag. */
  def streamSpanIndexUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    import graft.operators.{Dedup, TextAnalysis}
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t25")
    val idxDir = root.resolve("idx").toString
    val docs = graft.Tables.documents(spark, sfDir)
    TextAnalysis.spanIndexAppend(spark,
      docs.where(Dedup.idxBucket <= 7).select(col("doc_id"), col("text")),
      idxDir, "prior")
    val ops = docs.where(Dedup.idxBucket >= 8)
      .select(col("doc_id"), lit("I").as("op"), col("text"))
      .unionByName(docs.where(Dedup.idxDoomed)
        .select(col("doc_id"), lit("D").as("op"),
          lit(null).cast("string").as("text")))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    val half = Dedup.idxArrival
    landArrivalSplits(ops, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      val run = runId(ck, spark.sessionState.newHadoopConf())
      val q = spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val keys = b.where(col("op") === "D").select(col("doc_id"))
          // delete survivors + new span layer in ONE staged write and
          // ONE publish (VERDICT r17 #1) — order-free, landing never
          // probes the index
          TextAnalysis.spanIndexUpsertKeys(spark, idxDir,
            b.where(col("op") === "I").select(col("doc_id"), col("text"))
              .join(broadcast(keys.distinct()), Seq("doc_id"), "leftanti"),
            keys, s"$run-$id")
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    // the x91 probe over the streamed state: every non-prior layer is
    // the novel side, whatever its runId tag
    TextAnalysis.spanHitProbe(spark.read.parquet(idxDir)
      .withColumn("batch",
        when(col("batch") === "prior", "prior").otherwise("novel")))
  }

  /** T27 — the SemDeDup cell index's upsert as an OPERATIONAL LOOP (the
    * x92 fold in `foreachBatch` — the streaming-matrix cell VERDICT r14
    * #4 names): a stream of ops rows (op `I` with the embedding, op `D`
    * vec_id keys) maintains the persisted `(vec_id, embedding, cell,
    * nrm)` index under the FROZEN disk-memoized quantizer. Per
    * micro-batch, delete-first through the shared flat swap
    * (`Dedup.dedupIndexDeleteKeys`, keyed `vec_id`), then the insert leg
    * (net of same-batch cancels) admits via [[semanticDedupBatch]]
    * against the post-delete keeps — so a fresh vector inside a
    * just-deleted keep's ε-ball is readmitted, and one inside a
    * batch-A ADMIT's ε-ball is dropped in batch B. ORDER-SENSITIVE like
    * t23/t24 (admission probes the index as-of arrival), so the oracle
    * restates the per-batch fold over the arrival split of the vec_id
    * hash; markerless replay is t23's argument verbatim (keys already
    * absent; tag-scoped overwrites clobber themselves). */
  def streamSemanticIndexUpsert(spark: SparkSession, sfDir: String,
                                threshold: Double = 0.4): DataFrame = {
    import java.nio.file.Files
    import graft.operators.Dedup
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t27")
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val hash = graft.functions.TextFns.polyHash(col("vec_id").cast("string"))
    val bucket = pmod(hash, lit(10L))
    val doomed = pmod(hash, lit(7L)) === 3L
    // the decorrelated second-residue arrival split, on the vec_id hash
    // (Dedup.idxArrival's construction — see idxDoomed on why not a salt)
    val half = pmod((hash / lit(10.0)).cast("long"), lit(2L))
    val cents = graft.operators.Similarity.ivfCentroids(spark, sfDir)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    semanticDedupBatch(vecs.where(bucket <= 7), "prior", cents, idxDir,
      outDir, threshold)
    val ops = vecs.where(bucket >= 8)
      .select(col("vec_id"), lit("I").as("op"), col("embedding"))
      .unionByName(vecs.where(doomed)
        .select(col("vec_id"), lit("D").as("op"),
          lit(null).cast("array<float>").as("embedding")))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    landArrivalSplits(ops, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      val run = runId(ck, spark.sessionState.newHadoopConf())
      val q = spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          val keys = b.where(col("op") === "D").select(col("vec_id"))
          // delete fold + admitted-batch append in ONE publish per
          // artifact (VERDICT r17 #1) — the admit probes the post-delete
          // view via the keys anti-join inside
          semanticDedupBatch(
            b.where(col("op") === "I").select(col("vec_id"), col("embedding"))
              .join(broadcast(keys.distinct()), Seq("vec_id"), "leftanti"),
            s"$run-$id", cents, idxDir, outDir, threshold,
            deleteKeys = Some(keys))
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    spark.read.parquet(idxDir)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .orderBy(col("vec_id"))
  }

  /** T28 — the Bloom decontamination index's streaming fold (the other
    * streaming-matrix cell of VERDICT r14 #4, and the trivial one by
    * design): benchmark batches arrive as a stream and each micro-batch
    * lands its shingle-hash Bloom filter as a `batch=<runId-batchId>`
    * layer ([[graft.operators.Dedup.bloomIndexAppend]] — tag-scoped
    * overwrite, so replay is the x16 rule with NO delete leg to
    * interleave: deletes are structurally impossible in a mergeable
    * sketch). Bloom union is exact, order- and split-free, so the merged
    * filter — and therefore the decontamination decision — is identical
    * to x93's one-shot appends and to the monolithic x17: the oracle
    * carries x17's VERBATIM, the t25-class theorem for the
    * mergeable-sketch artifact. */
  def streamBloomDecontam(spark: SparkSession, sfDir: String,
                          minShared: Int = 5, maxDf: Int = 50): DataFrame = {
    import java.nio.file.Files
    import graft.operators.Dedup
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t28")
    val idxDir = root.resolve("idx").toString
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val bucket = pmod(graft.functions.TextFns.polyHash(
      col("doc_id").cast("string")), lit(10L))
    val bench = docs.where(bucket === 9)
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    // id parity, not a salted rehash — x93's layer-split note
    val half = pmod(col("doc_id"), lit(2L))
    landArrivalSplits(bench, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      val run = runId(ck, spark.sessionState.newHadoopConf())
      val q = spark.readStream.schema(bench.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          Dedup.bloomIndexAppend(spark, b, idxDir, s"$run-$id")
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    Dedup.bloomDecontamProbe(spark, sfDir, idxDir, minShared, maxDf)
  }

  /** T26 — the x94 multi-artifact orchestrator as the engine's TRUE
    * END-STATE loop: one ops stream `(doc_id, op ∈ {I,D}, source, text)`
    * maintains EVERY persisted artifact — landed corpus, exact-dup
    * fingerprint index, near-dup triple index, winnowing span index,
    * BM25-stats store, per-source aggregate view — one
    * `Maintenance.multiArtifactUpsert` invocation per micro-batch. This
    * is the reference's actual job description re-expressed whole: a
    * continuous loop that lands data and updates every derived
    * bookkeeping artifact per batch (`HiveBatchedSink.scala:297-373`).
    *
    * Exactly-once is the orchestrator's phase argument, per batch: the
    * stats folds are snapshot-marker gated (t21), the delete swaps
    * markerless-idempotent (t20), the appends tag-scoped overwrites
    * (x16) — so a replay of any prefix converges (x94's spec drills the
    * full-batch replay). The exact and near legs probe the index as-of
    * arrival, so like t23/t24 the oracle restates the per-batch fold
    * over the idxArrival split; corpus, span, BM25 and aggregate legs
    * are order-free and carry x94's oracle legs verbatim. */
  def streamMultiArtifactUpsert(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Maintenance.multiArtifactProbe(spark, sfDir,
      t26Dirs(spark, sfDir))

  /** The t26 fixture's streamed pipeline state (shared with t29, which
    * runs the maintenance window on top): init from the cached stored
    * tree, stream the arrival-split ops through the orchestrator, return
    * the artifact dirs. */
  private def t26Dirs(spark: SparkSession,
                      sfDir: String): graft.operators.Maintenance.MultiArtifactDirs = {
    import java.nio.file.Files
    import graft.operators.{Dedup, Maintenance}
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t26")
    val dirs = Maintenance.MultiArtifactDirs(root.resolve("art").toString)
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    Maintenance.multiArtifactInitCopied(spark, sfDir, dirs)
    // warm both frozen quantizers BEFORE the stream: the per-batch encode
    // reads them as driver metadata, and the first touch builds them into
    // the durable index cache — an index-build cost, not a per-batch one
    graft.operators.Similarity.ivfCentroids(spark, sfDir).count()
    graft.operators.Similarity.pqCodebooks(spark, sfDir)
    val ops = docs.where(Dedup.idxBucket >= 8)
      .select(col("doc_id"), lit("I").as("op"), col("source"), col("text"))
      .unionByName(docs.where(Dedup.idxDoomed)
        .select(col("doc_id"), lit("D").as("op"),
          lit(null).cast("string").as("source"),
          lit(null).cast("string").as("text")))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    val half = Dedup.idxArrival
    landArrivalSplits(ops, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      val run = runId(ck, spark.sessionState.newHadoopConf())
      val q = spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          Maintenance.multiArtifactUpsert(spark, sfDir, dirs,
            b.where(col("op") === "I")
              .select(col("doc_id"), col("source"), col("text")),
            b.where(col("op") === "D").select(col("doc_id")),
            s"$run-$id")
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    dirs
  }

  /** T29 — the FULL production loop: t26's multi-artifact stream, then
    * the x95/x96 threshold-policy maintenance window once the stream
    * drains. Per micro-batch every artifact absorbs the ops; after
    * termination `Maintenance.multiArtifactCompactIfNeeded` consults the
    * policy pipeline-wide and folds each swept artifact's per-batch
    * layers to one — the reference's complete lifecycle (land every
    * batch, update every bookkeeping artifact, let the idle scan close
    * and compact: `HiveBatchedSink.scala:98-154,297-373`) in one
    * declared query. The sweep deliberately runs AFTER the stream, not
    * inside `foreachBatch`: compaction folds a batch's tag-scoped layer
    * away, so a crash after an in-loop sweep but before the checkpoint
    * commit would let the batch's replayed append land a SECOND copy of
    * rows the sweep already folded into the compacted layer — the
    * tag-overwrite replay rule only protects layers that still exist
    * per-tag. Post-stream (or any quiesced maintenance window — the
    * shared single-writer contract) there is no uncommitted batch to
    * replay, so the sweep is safe and pure re-layout: the probe reads no
    * layer tags on the swept artifacts, the span index keeps its epoch
    * layers (excluded by design), and t26's per-batch oracle carries
    * VERBATIM. */
  def streamMultiArtifactMaintain(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Maintenance
    val dirs = t26Dirs(spark, sfDir)
    val fired = Maintenance.multiArtifactCompactIfNeeded(spark, dirs,
      maxLayers = 1)
    // the span index consults its OWN policy with the epoch tag: the probe
    // below reads this epoch's layer tags (prior vs the streamed batches),
    // so mid-epoch the consult must stay under its layer bar — the full
    // epoch fold (everything into batch=prior, next epoch = novel) runs
    // BETWEEN probe epochs and sits under the gate as x97. Both consult
    // outcomes ride in the RESULT frame as `policy` rows, hash-checked
    // against constant oracle rows (the x96 discipline) — a sweep that
    // fails to fire (or a span consult that fires mid-epoch) breaks the
    // hash, not merely an assertion.
    val spanConsult = Maintenance.compactIfNeeded(spark, dirs.spanDir,
      "prior", Seq.empty, "graft_t29_span_", maxLayers = 16)
    Maintenance.multiArtifactProbe(spark, sfDir, dirs)
      .unionByName(Maintenance.policyRows(spark, fired.keys.toSeq,
        _ => None, n => Some(fired(n)), spanConsult))
      .orderBy(col("artifact"), col("k1"))
  }

  /** T30 — the maintained dup-cluster assignment (x98) as an operational
    * stream, plus its maintenance window: each micro-batch's ops fold
    * through `Dedup.clusterIndexUpsert` (edge swap, edge append, ONE
    * label delta layer), and once the stream drains the x95 policy
    * compacts both cluster artifacts — the edge table by pure re-layout,
    * the label store by the last-writer-wins SEMANTIC fold
    * (`Dedup.clusterLabelsCompactContent`), both through the shared
    * crash-safe core. Final labels are CC over the live graph whatever
    * the batch split (deletes remove a doc's edges everywhere; an
    * insert's edge to a later-deleted doc leaves with that delete;
    * cancels stay same-batch), and both compactions are view-invariant —
    * so t30 carries x98's one-shot oracle VERBATIM, the t25-class
    * order-free contrast to t23/t24. */
  def streamClusterIndexUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import java.nio.file.Files
    import graft.operators.{Dedup, Maintenance}
    graft.Tables.ensureParquetConf(spark)
    val root = graft.Tables.scratchDir("graft_t30")
    val dirs = Dedup.ClusterDirs(root.resolve("art").toString)
    val docs = graft.Tables.documents(spark, sfDir).select(col("doc_id"))
    val pairs = Dedup.verifiedPairs(spark, sfDir, 0.8)
    Dedup.clusterIndexInit(spark, dirs, docs.where(Dedup.idxBucket <= 7), pairs)
    val ops = docs.where(Dedup.idxBucket >= 8)
      .select(col("doc_id"), lit("I").as("op"))
      .unionByName(docs.where(Dedup.idxDoomed)
        .select(col("doc_id"), lit("D").as("op")))
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    val half = Dedup.idxArrival
    landArrivalSplits(ops, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      val run = runId(ck, spark.sessionState.newHadoopConf())
      val q = spark.readStream.schema(ops.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString)
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          Dedup.clusterIndexUpsert(spark, dirs,
            b.where(col("op") === "I").select(col("doc_id")),
            b.where(col("op") === "D").select(col("doc_id")),
            pairs, s"$run-$id")
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    // the maintenance window: both cluster artifacts through the policy
    // (three layers each after two batches — the count bar fires; both
    // folds are view-invariant, so the oracle carries through them)
    val edgesFired = Maintenance.compactIfNeeded(spark, dirs.edgesDir,
      "compacted", Seq.empty, "graft_t30_edges_", maxLayers = 1)
    val labelsFired = Maintenance.compactIfNeededWith(spark, dirs.labelsDir,
      "compacted", Seq.empty, "graft_t30_labels_", maxLayers = 1)(
      Dedup.clusterLabelsCompactContent)
    require(edgesFired && labelsFired,
      s"t30: the cluster sweep did not fire (edges=$edgesFired, labels=$labelsFired)")
    Dedup.readClusterLabels(spark, dirs.labelsDir).orderBy(col("doc_id"))
  }

  /** Initialize the maintained BM25-stats artifacts (per-term df table +
    * scalar n_docs/total_len row — `Search.bm25TermDf`/`bm25Scalars` as
    * a VERSIONED store): the "base" snapshot holds both, `_LATEST` points
    * at it. Snapshot layout: `<root>/<snap>/{df,scalars}/` parquet. */
  private[graft] def initBm25Stats(spark: SparkSession, docs: DataFrame,
                                   statsDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new Path(root, "base")
    writeBm25TermDf(graft.operators.Search.bm25TermDfOf(docs),
      new Path(base, "df").toString)
    graft.operators.Search.bm25ScalarsOf(docs).coalesce(1)
      .write.mode("overwrite").parquet(new Path(base, "scalars").toString)
    writeViewPointer(fs, root, "base")
  }

  /** Vocabulary-size gate past which a term-df snapshot sheds the
    * single-file layout (sys-prop `graft.bm25.shardRowGate`; the
    * `unionFindGate` shape — small vocabularies take the cheap one-file
    * path, large ones the sharded one, a differential spec pins the two
    * layouts row-identical). Default 2^20 terms: below it one task
    * rewriting the snapshot is noise; a 100 TB web corpus's term-df table
    * is 10⁸–10⁹ rows, where one funnel task per fold becomes the
    * pipeline's serial bottleneck (VERDICT r15 #3). */
  private[graft] def bm25ShardRowGate: Long =
    java.lang.Long.getLong("graft.bm25.shardRowGate", 1L << 20)

  /** Shard fan-out for a gated term-df snapshot (sys-prop
    * `graft.bm25.shardCount`): hash-bucketed `partitionBy` directories,
    * so the snapshot write runs wide while every reader still gets one
    * logical table. */
  private[graft] def bm25ShardCount: Int =
    Integer.getInteger("graft.bm25.shardCount", 32)

  /** Write a term-df snapshot in whichever layout its size earns: one
    * file below [[bm25ShardRowGate]] rows (the x78 O(vocab) ledger
    * shape), hash-bucketed `shard=` partitions above it — the fold stops
    * funneling the whole vocabulary through one task exactly when that
    * task stops being noise. The df is SNAPSHOTTED first (lineage
    * truncation) so the row-count consult and the write run one plan, not
    * two recomputes of the fold — and the count itself rides the
    * snapshot's OWN materialization job as an `observe` metric, so the
    * layout gate costs zero extra driver actions (VERDICT r16 #5: the
    * explicit `count()` here was one more round-trip per fold in the hot
    * maintenance loop). The observed value is exact (a global count over
    * the materialized rows); if the metric hasn't surfaced through the
    * async listener bus within the bound, the gate falls back to the old
    * cached-block count rather than guessing. Both layouts are
    * row-identical (spec-pinned) and [[readBm25Stats]] reads either —
    * the shard column is layout, not data. */
  private[graft] def writeBm25TermDf(termDf: DataFrame, dest: String): Unit = {
    val spark = termDf.sparkSession
    val obs = org.apache.spark.sql.Observation()
    val snap = graft.operators.Dedup.snapshot(spark,
      termDf.observe(obs, count(lit(1)).as("rows")))
    val nRows = graft.operators.Maintenance.observedOr[Long](obs, "rows")(snap.count())
    if (nRows > bm25ShardRowGate)
      snap.withColumn("shard",
          pmod(graft.functions.TextFns.polyHash(col("term")),
            lit(bm25ShardCount.toLong)))
        .write.mode("overwrite").partitionBy("shard").parquet(dest)
    else snap.coalesce(1).write.mode("overwrite").parquet(dest)
  }

  /** The current stats artifacts `(termDf, scalars)` via `_LATEST`.
    * Layout-blind: a sharded snapshot's `shard=` partition column is
    * dropped on read, so folds and probes see the same logical table
    * whichever layout [[writeBm25TermDf]] chose. */
  private[graft] def readBm25Stats(spark: SparkSession,
                                   statsDir: String): (DataFrame, DataFrame) = {
    import org.apache.hadoop.fs.Path
    val root = new Path(statsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = new Path(root, readViewPointer(fs, root))
    val df = spark.read.parquet(new Path(snap, "df").toString)
    (if (df.columns.contains("shard")) df.drop("shard") else df,
      spark.read.parquet(new Path(snap, "scalars").toString))
  }

  /** One micro-batch of the streaming BM25-stats maintenance loop (T21 —
    * x82's upsert fold as an operational stream, closing the last
    * maintained-artifact class without one: corpus has t18, stored
    * aggregates t19, the ANN index t20). A batch carries ops rows
    * `(doc_id, op ∈ {I,D}, text)`: inserts arrive with their text, delete
    * requests as keys whose doomed rows are fetched from the landed corpus
    * by one broadcast semi-join (x75's keyed-delete model). The fold is
    * pure state arithmetic — df' = df − df(doomed) + df(inserts), likewise
    * the scalar counts/sums — O(vocabulary + batch), never a corpus
    * rescan; zero-df terms leave the vocabulary.
    *
    * Exactly-once via t19's snapshot-marker discipline, and for the same
    * reason: the fold READS PRIOR STATE (the `_LATEST` target), so a
    * replayed batch that re-ran the fold would fold its own output into
    * itself and double-count — the `_SUCCESS` marker makes the replay
    * skip straight to the (idempotent) pointer move and GC.
    *
    * PRECONDITIONS (the x82 batch contract): ops are unique per batch (a
    * doc appears at most once as I and once as D), and `corpusDocs` must
    * cover every doc a tombstone names — in deployment that is the
    * MAINTAINED landing (t18's loop keeps it current through the same
    * stream), so a delete aimed at a stream-inserted doc finds its row
    * there; handing a stale corpus snapshot instead would silently
    * no-op that delete's stats retraction. Reference anchor: the
    * per-close counter upsert loop
    * (`callback/UpdateSinkDetailCallback.scala:29-58`) — continuously
    * folding statistics into a stored table IS its job. */
  private[graft] def bm25StatsBatch(batch: DataFrame, batchTag: String,
                                    corpusDocs: DataFrame,
                                    statsDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    import graft.operators.Search
    val spark = batch.sparkSession
    val root = new Path(statsDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snap = new Path(root, s"batch=$batchTag")
    if (batch.isEmpty) return
    if (!fs.exists(new Path(snap, "_SUCCESS"))) {
      val (baseDf, baseSc) = readBm25Stats(spark, statsDir)
      val inserts = batch.where(col("op") === "I")
        .select(col("doc_id"), col("text"))
      val doomed = corpusDocs.join(
        broadcast(batch.where(col("op") === "D").select(col("doc_id")).distinct()),
        Seq("doc_id"), "leftsemi")
      val newDf = Search.bm25FoldTermDf(
        Search.bm25RetractTermDf(baseDf, Search.bm25TermDfOf(doomed)),
        Search.bm25TermDfOf(inserts))
      val newSc = Search.bm25FoldScalars(
        Search.bm25RetractScalars(spark, baseSc, Search.bm25ScalarsOf(doomed)),
        Search.bm25ScalarsOf(inserts))
      publishSnapshot(fs, root, snap) { tmp =>
        // O(vocabulary) rows — gated layout (one file until the vocab
        // earns sharding, VERDICT r15 #3); scalars are ONE row, always
        writeBm25TermDf(newDf, new Path(tmp, "df").toString)
        newSc.coalesce(1).write.mode("overwrite")
          .parquet(new Path(tmp, "scalars").toString)
        // the sub-artifact writes each leave their own parquet _SUCCESS;
        // the SNAPSHOT-level marker below is the one the replay skip keys
        // on, so it must only appear once both sub-artifacts are complete
      }
    }
    writeViewPointer(fs, root, s"batch=$batchTag")
    gcSnapshots(fs, root, batchTag)
  }

  /** Drive an ops stream `(doc_id, op, text)` into [[bm25StatsBatch]] —
    * the continuous form of x82: retrieval statistics maintained under
    * both inserts and deletes, one fold per micro-batch. */
  def bm25StatsStream(ops: DataFrame, corpusDocs: DataFrame, statsDir: String,
                      checkpoint: String): Unit = {
    val run = runId(checkpoint, ops.sparkSession.sessionState.newHadoopConf())
    val q = ops.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        bm25StatsBatch(b, s"$run-$id", corpusDocs, statsDir); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
  }

  /** T21 — [[bm25StatsStream]] under the driver's oracle gate: the stats
    * artifacts initialize over x82's stored two-thirds split, then ONE ops
    * stream delivering x82's insert third and x81's tombstones arrives as
    * TWO micro-batches (ordered-mtime arrival files, each batch a genuine
    * I+D mix), and the final query scores the final corpus against the
    * STREAMED artifacts. The oracle is x20's monolithic query over
    * (stored survivors ∪ inserts) — x82's verbatim — so the green hash
    * states that N micro-batch folds converge to the one-shot upsert
    * fold: streaming ≡ batch for retrieval-stats maintenance. */
  /** t21's stored-split stats as DURABLE artifacts — built once per
    * corpus version (the x78 discipline; the fixture copies the tiny
    * O(vocab)+O(1) outputs into its private versioned store per run
    * instead of re-scanning the stored corpus twice per run). */
  private[graft] def t21StoredStatsDirs(spark: SparkSession,
                                        sfDir: String): (String, String) = {
    import graft.operators.{DfCache, Search}
    val df = DfCache.materializedDir(spark, s"t21df:$sfDir",
      Seq(s"$sfDir/documents.parquet")) {
      Search.bm25TermDfOf(
        graft.Tables.documents(spark, sfDir).where(!Search.x82IsInsert))
        .coalesce(1)
    }
    val sc = DfCache.materializedDir(spark, s"t21sc:$sfDir",
      Seq(s"$sfDir/documents.parquet")) {
      Search.bm25ScalarsOf(
        graft.Tables.documents(spark, sfDir).where(!Search.x82IsInsert))
        .coalesce(1)
    }
    (df, sc)
  }

  def streamBm25Stats(spark: SparkSession, sfDir: String,
                      terms: Seq[String] = Seq("spark", "join", "window"),
                      k: Int = 10): DataFrame = {
    import java.nio.file.Files
    import org.apache.hadoop.fs.Path
    import graft.operators.Search
    graft.Tables.ensureParquetConf(spark)
    val docs = graft.Tables.documents(spark, sfDir)
    val stored = docs.where(!Search.x82IsInsert)
    val root = graft.Tables.scratchDir("graft_t21")
    val statsDir = root.resolve("stats").toString
    // base snapshot = filesystem copies of the durable stored-split stats
    val (dfDir, scDir) = t21StoredStatsDirs(spark, sfDir)
    copyDir(spark, dfDir, new Path(statsDir, "base/df").toString)
    copyDir(spark, scDir, new Path(statsDir, "base/scalars").toString)
    writeViewPointer(new Path(statsDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(statsDir), "base")
    // ONE scan emits both op legs: inserts carry their text, stored-split
    // tombstones arrive as keys
    val ops = docs.select(col("doc_id"),
        when(Search.x82IsInsert, lit("I"))
          .when(Search.x81Tombstone, lit("D")).as("op"),
        when(Search.x82IsInsert, col("text"))
          .otherwise(lit(null).cast("string")).as("text"))
      .where(col("op").isNotNull)
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    val half = pmod(graft.functions.TextFns.polyHash(col("doc_id").cast("string")), lit(2L))
    landArrivalSplits(ops, root, srcDir,
      Seq("a_first.parquet" -> (half === 0), "b_second.parquet" -> (half === 1)))
    withScratchCheckpoint { ck =>
      bm25StatsStream(
        spark.readStream.schema(ops.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
        stored, statsDir, ck)
    }
    val (termDf, scalars) = readBm25Stats(spark, statsDir)
    Search.bm25ScoredAgainst(
        Search.tfPass(docs.where(Search.x82IsInsert || !Search.x81Tombstone),
          terms), terms, termDf, scalars)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** One micro-batch of the streaming cross-run dedup loop (the streaming
    * form of `Dedup.dedupAgainstIndex` — x16's operational mode fed by a
    * continuously-arriving crawl). Replay-idempotent under `foreachBatch`'s
    * at-least-once contract, by construction rather than by marker files:
    *  - the fingerprint index is parquet partitioned by `batch=<tag>` where
    *    the tag is `<runId>-<batchId>` ([[runId]] — durable in the
    *    checkpoint dir): the probe EXCLUDES the current tag, so a replayed
    *    batch is never poisoned by its own earlier partial attempt (which
    *    would silently drop every doc of the batch). Carrying the RUN
    *    identity matters because batchIds restart at 0 for a fresh
    *    checkpoint: a new run pointed at an existing indexDir (the
    *    advertised cross-run mode) must treat the old run's batch 0 as
    *    prior corpus, not as its own attempt — a bare batchId key would
    *    both exclude it from the probe and overwrite it;
    *  - survivors and their index entries are written `overwrite` to
    *    tag-scoped paths, so a replay clobbers itself byte-for-byte
    *    (batch content is deterministic from checkpointed offsets).
    * The index holds one `(hash, keeper doc_id)` row per kept doc —
    * O(corpus) metadata, a few GB at 100 TB — and the probe is one anti
    * hash-join; prior text is never rescanned. Within a batch, x1's
    * min-doc_id keeper rule applies.
    * `batch` must not pre-exist as an input column: it is the index/output
    * partition key (tag-scoped paths are what make replays overwrite). */
  private[graft] def dedupIndexBatch(batch: DataFrame, batchTag: String,
                                     indexDir: String, outDir: String): Unit = {
    val withFp = batch.withColumn("fp", graft.functions.TextFns.polyHash(col("text")))
    // shared probe/keeper contract (and its missing-vs-malformed index
    // distinction) lives in Dedup.probeIndexKeepFirst
    val survivors = graft.operators.Dedup.probeIndexKeepFirst(withFp, indexDir, batchTag)
    survivors.persist()
    try {
      graft.operators.VersionedLayers.writeTagged(survivors.sparkSession,
        outDir, batchTag, survivors.drop("fp"))
      // (fp, doc_id) — the keeper id is what lets the delete fold (x86/t23)
      // address index rows by key without a corpus scan
      graft.operators.VersionedLayers.writeTagged(survivors.sparkSession,
        indexDir, batchTag, survivors.select(col("fp"), col("doc_id")))
    } finally survivors.unpersist()
  }

  /** The near-dup extension of [[dedupIndexBatch]]: each micro-batch drops
    * docs whose n-gram Jaccard against ANY prior kept doc reaches
    * `threshold`, probing a persisted shingle index instead of rescanning
    * prior text. Three batch-partitioned parquet indexes under `indexDir`
    * (all replay-idempotent and cross-run-safe the same way as
    * [[dedupIndexBatch]] — probes exclude own `<runId>-<batchId>` tag,
    * writes are tag-scoped overwrites):
    *  - `fp/`  one (polyhash, keeper doc_id) row per kept doc (the
    *           exact-dup probe; the id is the delete fold's address),
    *  - `pfx/` exploded prefix postings (doc_id, s, n) — the candidate join,
    *  - `sh/`  full shingle-hash arrays — fetched per candidate for verify.
    *
    * The prefix is the `n − ⌈t·n⌉ + 1` SMALLEST shingle hashes by value —
    * not x4's rarest-by-document-frequency order. Prefix filtering is
    * lossless under any one fixed total order shared by both sides; df
    * order (the tightest) changes as the corpus grows, so an incremental
    * index would need prefix rebuilds, while hash-value order is stable
    * forever at the cost of more candidates. Within a batch only exact
    * dups collapse (x1's keeper rule); near-dup pairs that arrive in the
    * SAME micro-batch both enter the index, as in production crawls where
    * the periodic full x4/x13 pass sweeps residue.
    *
    * Docs with fewer than n tokens have no shingles, are never near
    * anything, and always survive the near probe. */
  private[graft] def nearDedupIndexBatch(batch: DataFrame, batchTag: String,
                                         indexDir: String, outDir: String,
                                         threshold: Double = 0.8,
                                         deleteKeys: Option[DataFrame] = None): Unit = {
    import graft.functions.TextFns
    nearDedupIndexBatchEnriched(batch
      .withColumn("fp", TextFns.polyHash(col("text")))
      .withColumn("sh", TextFns.shingleHashes(TextFns.tokens(col("text")), 3))
      .withColumn("n", size(col("sh"))),
      batchTag, indexDir, outDir, threshold, deleteKeys = deleteKeys)
  }

  /** [[nearDedupIndexBatch]] over a batch whose (fp, sh, n) derivation is
    * already attached — the shared-derivation entry the x94/t26
    * orchestrator uses so one Exchange computes the batch's shingle
    * hashes for every consumer. The derivation is SNAPSHOT once here
    * (lineage-truncated): the probe DAG references it from three
    * branches (prefix postings, shingle fetch, survivor set) and Spark
    * would otherwise re-tokenize the batch per branch (the t24
    * orchestration-cost cut, VERDICT r14 #3). A caller that ALREADY
    * materialized the derivation (the orchestrator snapshots `enriched`
    * for every leg) passes `alreadyMaterialized = true` to skip a second
    * full checkpoint of the same rows per micro-batch. */
  /** With `deleteKeys`, the pass is the near triple's full UPSERT with
    * ONE staged write + ONE publish per sub-index (VERDICT r17 #1): the
    * dirty layers' delete-survivors ride the same write as the admitted
    * batch layer (`Dedup.indexUpsertFold`), and every probe — the exact
    * fp admit and the prefix/shingle near probe — anti-joins the keys
    * onto its prior read, i.e. sees exactly the post-delete state a
    * separate delete publish exposed. Three publishes per micro-batch
    * where the delete-then-append pair paid six. */
  private[graft] def nearDedupIndexBatchEnriched(enriched: DataFrame,
                                                 batchTag: String,
                                                 indexDir: String, outDir: String,
                                                 threshold: Double = 0.8,
                                                 alreadyMaterialized: Boolean = false,
                                                 probedPairs: Option[DataFrame] = None,
                                                 deleteKeys: Option[DataFrame] = None,
                                                 knownDirtyBySub: Option[Map[String, Seq[String]]] = None): Unit = {
    val spark = enriched.sparkSession
    val withSh =
      if (alreadyMaterialized) enriched
      else graft.operators.Dedup.snapshot(spark, enriched)
    // the combined upsert's key set, snapshot ONCE (the ops-batch scan
    // behind it must not re-run per consumer — the old delete leg's
    // "near: key snapshot"); `alreadyMaterialized` promises the keys are
    // distinct+materialized too (the orchestrator's kdf), skipping a
    // redundant localCheckpoint per micro-batch
    val kOpt = deleteKeys.map(ks =>
      if (alreadyMaterialized) ks
      else graft.operators.Maintenance.labeled(spark, "near: key snapshot") {
        graft.operators.Dedup.snapshot(spark,
          ks.select(col("doc_id")).distinct()) })
    val dirtyBySub = knownDirtyBySub.getOrElse(kOpt.map(k =>
        graft.operators.Dedup.nearDirtyBySub(spark, indexDir, broadcast(k),
          "doc_id"))
      .getOrElse(Map.empty[String, Seq[String]]))
    // existence probe, not exception catch: a malformed index propagates
    // instead of silently reading as "first batch" (Dedup.readBatchIndex)
    val priorFpAll = graft.operators.Dedup.readBatchIndex(
      spark, s"$indexDir/fp", batchTag) {
      spark.range(0).select(col("id").as("fp"), col("id").as("doc_id")) }
    val priorFp = kOpt.fold(priorFpAll)(k => priorFpAll
      .join(broadcast(k), Seq("doc_id"), "leftanti"))
    def prefixPostings(df: DataFrame): DataFrame =
      nearPrefixPostings(df, threshold)
    val nearIds = probedPairs
      .getOrElse(nearIndexProbePairs(withSh, batchTag, indexDir, threshold,
        deleteKeys = kOpt))
      .select(col("new_id").as("doc_id")).distinct()
    val survivors = withSh
      .join(priorFp.select(col("fp").as("seen_fp")),
        col("fp") === col("seen_fp"), "left_anti")
      .join(nearIds, Seq("doc_id"), "left_anti")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .where(col("rk") === 1).drop("rk")
    survivors.persist()
    try {
      // materialize the probe ONCE before fanning out — four concurrent
      // writes against an unmaterialized cache would each race to compute
      // the same partitions; after the count they all read cached rows,
      // and the independent tag-scoped legs overlap their job overhead
      // (the t24 cut — these were four sequential Spark jobs per
      // micro-batch)
      graft.operators.Maintenance.labeled(spark, "near: survivor probe") {
        survivors.count() }
      val vl = graft.operators.VersionedLayers
      val dd = graft.operators.Dedup
      def fold(sub: String, rows: DataFrame): Unit = kOpt match {
        case Some(k) =>
          dd.indexUpsertFold(spark, s"$indexDir/$sub", k, batchTag, rows,
            knownDirty = Some(dirtyBySub.getOrElse(sub, Seq.empty)))
          ()
        case None => vl.writeTagged(spark, s"$indexDir/$sub", batchTag, rows)
      }
      graft.operators.Maintenance.inParallel(Seq(
        () => graft.operators.Maintenance.labeled(spark, "near: out write") {
          vl.writeTagged(spark, outDir, batchTag,
            survivors.drop("fp", "sh", "n")) },
        // (fp, doc_id) — the keeper id lets the delete fold (x89) address
        // all three sub-indexes by one key column without a corpus scan
        () => graft.operators.Maintenance.labeled(spark, "near: fp fold") {
          fold("fp", survivors.select(col("fp"), col("doc_id"))) },
        () => graft.operators.Maintenance.labeled(spark, "near: pfx fold") {
          fold("pfx",
            prefixPostings(survivors).select(col("doc_id"), col("s"), col("n"))) },
        () => graft.operators.Maintenance.labeled(spark, "near: sh fold") {
          fold("sh", survivors.select(col("doc_id"), col("sh"), col("n"))) }))
      ()
    } finally survivors.unpersist()
  }

  /** One batch's prefix postings under the maintained near index's
    * HASH-VALUE prefix order (stable as the corpus grows — see
    * [[nearDedupIndexBatch]]): the `n − ⌈t·n⌉ + 1` smallest shingle
    * hashes per doc, exploded to (doc_id, n, s) rows. The ceil FP guard
    * may only lengthen the prefix — same as `Dedup.prefixIndex`. */
  private[graft] def nearPrefixPostings(df: DataFrame,
                                        threshold: Double): DataFrame = df
    .select(col("doc_id"), col("n"), explode(slice(array_sort(col("sh")),
      lit(1), (col("n") - ceil(lit(threshold) * col("n") - 1e-9) + 1).cast("int"))).as("s"))

  /** The batch-vs-stored verified near-pair PROBE, factored out of
    * [[nearDedupIndexBatchEnriched]] so ONE invocation per micro-batch
    * feeds BOTH consumers (VERDICT r16 #1): the near-dedup admit (drop
    * batch docs near ANY prior keeper — it only reads `new_id`) and the
    * cluster pipeline's new-edge derivation (it reads the pairs
    * themselves). Batch shingles against the maintained `pfx`/`sh`
    * sub-indexes with the batch's own tag excluded (the replay rule);
    * candidates prefix-filtered and length-gated, then exact-Jaccard
    * verified at `threshold` — O(batch · candidates) work against
    * O(corpus) index metadata, never a corpus-sized pair artifact.
    * Returns verified `(new_id, prior_id)` rows. Population note: the
    * prior side is the maintained index's KEEPER set — a batch edge to a
    * live doc that was itself near-dropped on arrival is not derived
    * (its keeper, which blocked it at J ≥ t, is the probe's witness for
    * the same neighborhood; the periodic full x4/x13 pass is the sweep
    * for residue, and the x94/t26 equivalence spec pins probe-derived ≡
    * corpus-pair-derived cluster edges on the gate fixtures). */
  private[graft] def nearIndexProbePairs(withSh: DataFrame, batchTag: String,
                                         indexDir: String,
                                         threshold: Double,
                                         deleteKeys: Option[DataFrame] = None): DataFrame = {
    val spark = withSh.sparkSession
    // with `deleteKeys`, the prior side is the POST-DELETE view derived
    // by anti-join (row-identical to probing after a separate delete
    // publish — the one-publish upsert's rule); keys must be materialized
    def postDelete(df: DataFrame): DataFrame =
      deleteKeys.fold(df)(k => df.join(broadcast(k), Seq("doc_id"), "leftanti"))
    val priorPfx = postDelete(graft.operators.Dedup.readBatchIndex(
      spark, s"$indexDir/pfx", batchTag) {
      spark.range(0).select(col("id").as("doc_id"), col("id").as("s"),
        col("id").cast("int").as("n")) })
    val priorSh = postDelete(graft.operators.Dedup.readBatchIndex(
      spark, s"$indexDir/sh", batchTag) {
      spark.range(0).select(col("id").as("doc_id"),
        array().cast("array<bigint>").as("sh"), col("id").cast("int").as("n")) })
    val cand = nearPrefixPostings(withSh, threshold).as("a")
      .join(priorPfx.as("b"), col("a.s") === col("b.s") &&
        graft.operators.Dedup.lengthCompatible(col("a.n"), col("b.n"), threshold))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("prior_id"))
      .distinct()
    cand
      .join(withSh.select(col("doc_id").as("new_id"), col("sh").as("sh1")), "new_id")
      .join(priorSh.select(col("doc_id").as("prior_id"), col("sh").as("sh2")), "prior_id")
      .select(col("new_id"), col("prior_id"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("double").as("i"),
        size(col("sh1")).as("n1"), size(col("sh2")).as("n2"))
      // round-to-6 before the threshold: Dedup.verifyJaccard's convention,
      // so the cross-engine oracle's rounded restatement is defined-identical
      .where(round(col("i") / (col("n1") + col("n2") - col("i")), 6) >= threshold)
      .select(col("new_id"), col("prior_id"))
  }

  /** The batch's WITHIN-batch verified near pairs — the half of the
    * cluster pipeline's new-edge set that [[nearIndexProbePairs]] cannot
    * see (the probe excludes the batch's own tag): a prefix-filtered
    * self-join of the batch's postings under the same hash-value order,
    * length-gated, exact-Jaccard verified at `threshold`. O(batch²
    * candidate-bounded) — bounded by the micro-batch, never the corpus.
    * Returns `(id1 < id2)` rows, [[Dedup.verifiedPairs]]' orientation. */
  private[graft] def batchInternalPairs(withSh: DataFrame,
                                        threshold: Double): DataFrame = {
    val post = nearPrefixPostings(withSh, threshold)
    val cand = post.as("a")
      .join(post.as("b"), col("a.s") === col("b.s") &&
        col("a.doc_id") < col("b.doc_id") &&
        graft.operators.Dedup.lengthCompatible(col("a.n"), col("b.n"), threshold))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    cand
      .join(withSh.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(withSh.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("double").as("i"),
        size(col("sh1")).as("n1"), size(col("sh2")).as("n2"))
      .where(round(col("i") / (col("n1") + col("n2") - col("i")), 6) >= threshold)
      .select(col("id1"), col("id2"))
  }

  /** Drive [[dedupIndexBatch]] (or, with `nearThreshold`,
    * [[nearDedupIndexBatch]]) over a streaming document source: each
    * micro-batch keeps only content never seen in any prior batch (or run —
    * the index directory outlives the query, so tomorrow's stream resumes
    * against everything kept today). `docs` needs `doc_id` and `text`
    * columns; survivors land under `outDir/batch=<id>/`. */
  def dedupStream(docs: DataFrame, indexDir: String, outDir: String,
                  checkpoint: String, nearThreshold: Option[Double] = None): Unit = {
    val run = runId(checkpoint,
      docs.sparkSession.sessionState.newHadoopConf())
    val q = docs.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val tag = s"$run-$id"
        nearThreshold match {
          case Some(t) => nearDedupIndexBatch(b, tag, indexDir, outDir, t)
          case None => dedupIndexBatch(b, tag, indexDir, outDir)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
  }

  /** T14 — [[dedupStream]]'s near-dup mode under the driver's oracle gate:
    * the corpus arrives as two genuinely separate micro-batches (x16's
    * deterministic hash split, materialized as two arrival files with
    * ordered mtimes and `maxFilesPerTrigger = 1`), each batch exact-dedups
    * within itself (x1's min-doc_id keeper), and the second batch
    * additionally drops docs whose fingerprint OR ≥ `threshold` n-gram
    * Jaccard matches a doc KEPT by the first — both probes served from the
    * persisted batch-partitioned indexes, never by rescanning prior text.
    * The result is every survivor across both batches. Near-dup pairs
    * arriving in the SAME batch both survive by design (the periodic full
    * x4/x13 pass sweeps residue), which is what makes the result
    * deterministic and SQL-restatable: the oracle recomputes prior keepers,
    * fresh-vs-prior-keeper Jaccard, and the fingerprint anti-join directly.
    * Reference anchor: the incremental landing loop
    * `HiveBatchedSink.scala:297-358` (each roll = one batch against the
    * accumulated corpus). */
  def streamDedupIndex(spark: SparkSession, sfDir: String,
                       threshold: Double = 0.8): DataFrame = {
    import java.nio.file.{Files, StandardCopyOption}
    graft.Tables.ensureParquetConf(spark)
    // only the columns the dedup probes read — the arrival files are
    // derived scratch, not the corpus, so don't ship the full doc schema
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val bucket = pmod(graft.functions.TextFns.polyHash(
      col("doc_id").cast("string")), lit(10L))
    val root = graft.Tables.scratchDir("graft_t14")
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    landArrivalFile(docs.where(bucket <= 7), root, srcDir, "a_prior.parquet",
      1000000000000L)
    landArrivalFile(docs.where(bucket >= 8), root, srcDir, "b_fresh.parquet",
      1000000060000L)
    val idxDir = root.resolve("idx").toString
    val outDir = root.resolve("out").toString
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        dedupStream(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
          idxDir, outDir, ck, Some(threshold))
      }
    }
    spark.read.parquet(outDir)
      .select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
      .orderBy(col("doc_id"))
  }

  /** Land `df` as ONE real parquet file with an explicit mtime: the file
    * stream source admits files oldest-first, so distinct ordered mtimes
    * pin the arrival order (batch 0 = prior, batch 1 = fresh) on every
    * run. Shared by the t14/t15 arrival fixtures. */
  private def landArrivalFile(df: DataFrame, root: java.nio.file.Path,
                              srcDir: java.nio.file.Path, name: String,
                              mtimeMs: Long): Unit = {
    val tmp = root.resolve(name + "_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    moveLandedPart(tmp, srcDir.resolve(name), mtimeMs)
  }

  /** Land a two-way split of `df` as two ordered-mtime arrival files with
    * ONE dynamic-partition write (the t17 profiling lesson: two filtered
    * `coalesce(1)` writes pay two job round-trips over the same scan —
    * ~0.6 s of pure scheduling at bench scale). `splits` maps each
    * arrival-file name to its predicate; mtimes ascend in `splits` order.
    * A split that matched no rows (degenerate tiny-SF fixtures) lands an
    * empty file so the arrival contract — one file per split — holds. */
  private def landArrivalSplits(df: DataFrame, root: java.nio.file.Path,
                                srcDir: java.nio.file.Path,
                                splits: Seq[(String, Column)]): Unit = {
    val tmp = root.resolve("land_tmp")
    df.withColumn("arrival",
        splits.tail.foldLeft(when(splits.head._2, splits.head._1)) {
          case (acc, (name, pred)) => acc.when(pred, name)
        })
      .where(col("arrival").isNotNull)
      .coalesce(1).write.mode("overwrite")
      .partitionBy("arrival").parquet(tmp.toString)
    splits.zipWithIndex.foreach { case ((name, _), i) =>
      val mtimeMs = 1000000000000L + 60000L * i
      val dir = tmp.resolve(s"arrival=$name")
      if (java.nio.file.Files.isDirectory(dir))
        moveLandedPart(dir, srcDir.resolve(name), mtimeMs)
      else // empty split: land a schema-only file the slow way
        landArrivalFile(df.where(lit(false)), root, srcDir, name, mtimeMs)
    }
  }

  /** Move the single part file out of a written dir to `dest` and stamp
    * its mtime — the arrival-order contract the file stream source reads. */
  private def moveLandedPart(writtenDir: java.nio.file.Path,
                             dest: java.nio.file.Path, mtimeMs: Long): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    // Files.list holds a directory handle until closed — leak one per
    // landed arrival file otherwise
    val listing = Files.list(writtenDir)
    val part =
      try listing.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally listing.close()
    Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
    Files.setLastModifiedTime(dest,
      java.nio.file.attribute.FileTime.fromMillis(mtimeMs))
  }

  /** One micro-batch of the streaming SemDeDup loop ([[semanticDedupStream]]):
    * assign each arriving vector to its frozen-quantizer cell, apply x69's
    * within-batch ε-ball rule (drop on any lower-id same-cell neighbor at
    * cosine ≥ `threshold`), then drop batch survivors whose cell holds a
    * prior KEPT vector within the threshold — probed from the persisted
    * cell index, never by rescanning prior batches. Kept vectors append to
    * the index under a tag-scoped `batch=` partition (replay-idempotent:
    * a retry overwrites its own half-done attempt and the probe excludes
    * the batch's own tag — [[dedupIndexBatch]]'s contract). The index
    * carries vec_id + embedding + cell + norm: O(kept) rows, the same
    * few-GB-at-100-TB envelope as the fingerprint index, and the probe
    * joins only within matching cells. */
  private[graft] def semanticDedupBatch(batch: DataFrame, batchTag: String,
                                        cents: Seq[Seq[Double]],
                                        indexDir: String, outDir: String,
                                        threshold: Double,
                                        deleteKeys: Option[DataFrame] = None): Unit = {
    import graft.functions.VectorFns
    semanticDedupBatchAssigned(batch
        .withColumn("cell", graft.operators.Similarity.assignCell(cents))
        .withColumn("nrm", VectorFns.norm(col("embedding"))),
      batchTag, indexDir, outDir, threshold, deleteKeys = deleteKeys)
  }

  /** [[semanticDedupBatch]] over rows that already CARRY their frozen
    * cell assignment and norm (`vec_id, embedding, cell, nrm`) — the
    * shared-derivation entry the multi-artifact orchestrator uses
    * (`Similarity.encodeVectorBatch` assigns once for both embedding
    * artifacts). Cell assignment is a pure function of the frozen
    * quantizer, so the two entries are row-identical by construction. */
  /** x5's IEEE-pinned 6-dp rounded cosine — the x69 pair test verbatim. */
  private def semCos(a: String, b: String) = round(
    graft.functions.VectorFns.dot(col(s"$a.embedding"), col(s"$b.embedding"))
      / (col(s"$a.nrm") * col(s"$b.nrm")), 6)

  /** The WITHIN-batch half of the SemDeDup admit — x69's greedy rule
    * applied inside the batch (lower vec_id survives its ε-ball), a pure
    * self-join of the batch that reads NO index. Factored out so the
    * orchestrator can derive it concurrently with the Phase-0 stats folds
    * (its prior-probe half must wait for the Phase-1 deletes; this half
    * must not). */
  private[graft] def semanticBatchSelfKept(asg: DataFrame,
                                           threshold: Double): DataFrame = {
    val dropInBatch = asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") > col("b.vec_id"))
      .where(semCos("a", "b") >= threshold)
      .select(col("a.vec_id").as("vec_id")).distinct()
    asg.join(dropInBatch, Seq("vec_id"), "left_anti")
  }

  /** With `deleteKeys`, the pass is the full UPSERT in one publish per
    * artifact (VERDICT r17 #1): the prior probe anti-joins the keys (the
    * post-delete view, row-identical to probing after a separate delete
    * publish) and the index write rides `Dedup.indexUpsertFold` — the
    * delete-survivors and the admitted batch stage in ONE write. */
  private[graft] def semanticDedupBatchAssigned(asg: DataFrame,
                                                batchTag: String,
                                                indexDir: String,
                                                outDir: String,
                                                threshold: Double,
                                                selfKept: Boolean = false,
                                                deleteKeys: Option[DataFrame] = None,
                                                knownDirty: Option[Seq[String]] = None): Unit = {
    val spark = asg.sparkSession
    def cos(a: String, b: String) = semCos(a, b)
    val keptBatch =
      if (selfKept) asg else semanticBatchSelfKept(asg, threshold)
    val priorAll = graft.operators.Dedup.readBatchIndex(spark, indexDir, batchTag)(
      spark.range(0).select(col("id").as("vec_id"),
        array().cast("array<float>").as("embedding"),
        col("id").cast("int").as("cell"), col("id").cast("double").as("nrm")))
    val prior = deleteKeys.fold(priorAll)(ks => priorAll
      .join(broadcast(ks.select(col("vec_id")).distinct()),
        Seq("vec_id"), "leftanti"))
    val dropVsPrior = keptBatch.as("a")
      .join(prior.as("b"), col("a.cell") === col("b.cell"))
      .where(cos("a", "b") >= threshold)
      .select(col("a.vec_id").as("vec_id")).distinct()
    val kept = keptBatch.join(dropVsPrior, Seq("vec_id"), "left_anti")
    kept.persist()
    try {
      // The two tag-scoped writes run SEQUENTIALLY — r17 ran them
      // concurrently and the driver's numbers showed the opposite of a
      // win (x92 0.74× vs r16, and 2.4× FASTER at 8 cores than 32: two
      // KB-scale AQE writes in flight double the stage storms for no
      // overlap; at data scale they would only split the cluster).
      // Serialization also retires the explicit materialization action
      // the parallel form needed (concurrent writes raced to compute the
      // same cached partitions): the FIRST write populates the persist
      // cache as its own scan runs, and the second reads cached rows —
      // one whole probe-plan execution fewer per micro-batch.
      deleteKeys match {
        case Some(ks) =>
          graft.operators.Maintenance.labeled(spark, "sem: index fold") {
            graft.operators.Dedup.indexUpsertFold(spark, indexDir, ks, batchTag,
              kept.select(col("vec_id"), col("embedding"), col("cell"),
                col("nrm")), keyCol = "vec_id", knownDirty = knownDirty) }
        case None =>
          graft.operators.Maintenance.labeled(spark, "sem: index write") {
            graft.operators.VersionedLayers.writeTagged(spark, indexDir,
              batchTag,
              kept.select(col("vec_id"), col("embedding"), col("cell"),
                col("nrm"))) }
      }
      graft.operators.Maintenance.labeled(spark, "sem: out write") {
        graft.operators.VersionedLayers.writeTagged(spark, outDir, batchTag,
          kept.select(col("vec_id"), col("cell").cast("long").as("cell"))) }
      ()
    } finally kept.unpersist()
  }

  /** Drive [[semanticDedupBatch]] over a streaming embedding source —
    * [[dedupStream]]'s loop with the semantic probe: each micro-batch
    * keeps only vectors with no near-duplicate (cosine ≥ threshold, same
    * frozen-quantizer cell) in any prior batch or run. `vecs` needs
    * `vec_id` and `embedding` columns; the quantizer is trained OFFLINE
    * and frozen before the stream starts (the x6h/ivfPqAppend contract:
    * growth never retrains, so assignment is stable forever and the
    * periodic full x69 pass decides re-clustering). */
  def semanticDedupStream(vecs: DataFrame, cents: Seq[Seq[Double]],
                          indexDir: String, outDir: String, checkpoint: String,
                          threshold: Double = 0.4): Unit = {
    val run = runId(checkpoint, vecs.sparkSession.sessionState.newHadoopConf())
    val q = vecs.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        semanticDedupBatch(b, s"$run-$id", cents, indexDir, outDir, threshold)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
  }

  /** T15 — [[semanticDedupStream]] under the driver's oracle gate: the
    * embedding corpus arrives as two genuinely separate micro-batches
    * (t14's deterministic polyhash split and ordered-mtime arrival files),
    * the quantizer is the disk-memoized x6b coarse quantizer trained
    * before the stream, and the result is every surviving vector with its
    * cell. Same-batch near-dup pairs: the lower id survives (x69's greedy
    * rule applied within the batch); cross-batch: fresh vectors drop
    * against prior KEPT vectors only. Deterministic end to end — the
    * oracle retrains the quantizer (x6b chain) and restates both rules as
    * NOT EXISTS predicates. Reference anchor: the incremental landing
    * loop `HiveBatchedSink.scala:297-358`. */
  def streamSemanticDedup(spark: SparkSession, sfDir: String,
                          threshold: Double = 0.4): DataFrame = {
    import java.nio.file.Files
    graft.Tables.ensureParquetConf(spark)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val bucket = pmod(graft.functions.TextFns.polyHash(
      col("vec_id").cast("string")), lit(10L))
    val root = graft.Tables.scratchDir("graft_t15")
    val srcDir = root.resolve("src")
    Files.createDirectories(srcDir)
    landArrivalFile(vecs.where(bucket <= 7), root, srcDir, "a_prior.parquet",
      1000000000000L)
    landArrivalFile(vecs.where(bucket >= 8), root, srcDir, "b_fresh.parquet",
      1000000060000L)
    val cents = graft.operators.Similarity.ivfCentroids(spark, sfDir)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    val outDir = root.resolve("out").toString
    withStatePartitions(spark) {
      withScratchCheckpoint { ck =>
        semanticDedupStream(
          spark.readStream.schema(vecs.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
          cents, root.resolve("idx").toString, outDir, ck, threshold)
      }
    }
    spark.read.parquet(outDir)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .orderBy(col("vec_id"))
  }

  /** T9 epilogue targets: the reference's ordered close-callback chain
    * (`HiveBatchedSink.scala:366-373` — AddPartitionCallback then
    * UpdateSinkDetailCallback, plus the leader's HTTP notify). Each is
    * optional; all fire per micro-batch on the driver. */
  final case class LandingCallbacks(
      catalogTable: Option[String] = None, // S6: ALTER TABLE ADD PARTITION
      jdbcUrl: Option[String] = None,      // S7/T7: bookkeeping upsert
      notifyUrl: Option[String] = None,    // S8: HTTP POST per logdate
      completeness: Option[CompletenessListener] = None) // T6 watermark watcher

  /** What a landing run observed (S9/A1 — the reference's JMX counters,
    * `counter/TimedSinkCounter.scala:42-55`, surfaced through Spark's
    * `observe` metrics instead of MBeans). */
  final case class LandingReport(nEvents: Long, maxEventEpoch: Long,
                                 logdates: Seq[String])

  /** The enrichment stage of the landing stream (exposed so callers can
    * derive the landing schema without executing anything). */
  def enriched(spark: SparkSession, sfDir: String): DataFrame =
    source(spark, sfDir)
      .withColumn("category", Headers.categoryOrDefault(col("event_type")))
      .withColumn("logdate", Times.logdate(col("ts")))

  /** The landing stream: enrichment → `observe` metrics (S9) → partitioned
    * file sink via `foreachBatch`, checkpointed, with the post-commit T9
    * epilogue: register partitions on the catalog table, upsert
    * per-partition bookkeeping over JDBC, HTTP-notify per logdate. Every
    * epilogue step works on the batch's per-logdate `(count, max event
    * epoch)` rows — a metadata-sized set (5-min buckets per micro-batch),
    * never row data. A fresh batch counts while it writes, as the
    * reference's per-close `TimestampCount` fold does: the rows ride the
    * staged ORC write as an `observe` metric ([[graft.expressions.KeyedCountMax]]),
    * so the micro-batch is ONE Spark job with no persisted copy of the
    * batch. If the metric does not surface in the bounded wait of
    * [[graft.operators.Maintenance.observedOr]], the rows are aggregated
    * from the batch's landed files ([[landedBatch]]) — one more job, never
    * wrong data. A replay that finds its commit marker lands nothing and
    * aggregates the batch directly.
    *
    * S2 exactly-once under `foreachBatch`'s at-least-once replay contract
    * (a crash between side effects and the checkpoint commit re-runs the
    * batch with the same batchId + deterministic content):
    *  - ORC data: each batch writes to a batchId-scoped staging dir
    *    (overwrite mode — replay-idempotent), then moves files into the
    *    logdate partitions under *deterministic batch-scoped names*, so a
    *    replayed move overwrites its own files instead of appending dupes.
    *  - JDBC counters: [[graft.sources.Bookkeeping.upsertCommitted]] makes
    *    the accumulate + a (run, batchId) commit record one transaction —
    *    a replay rolls back and reports already-committed.
    *  - A batchId marker file under the checkpoint dir short-circuits fully
    *    committed replays; catalog ADD PARTITION is IF NOT EXISTS
    *    (idempotent); the HTTP notify alone stays at-least-once in the
    *    crash window, as any external call without receiver dedup must. */
  def landStream(spark: SparkSession, sfDir: String, outPath: String,
                 checkpoint: String,
                 callbacks: LandingCallbacks = LandingCallbacks()): LandingReport = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.graft.bridge
    callbacks.jdbcUrl.foreach(graft.sources.Bookkeeping.ensureTable(_))
    val hostname = "driver" // single coordinator; the reference's per-host fleet collapses
    // batch_commits identity: batchIds restart at 0 for every fresh
    // checkpoint, so the commit key must carry the RUN's identity — the
    // durable marker in the checkpoint dir ([[runId]]: stable across resume
    // of the same run, distinct across runs sharing one bookkeeping DB).
    // A path hash is NOT enough: wiping and recreating the checkpoint at
    // the same path (the normal start-from-scratch restart) would reuse the
    // old identity, and the new run's batches 0..N would read as the old
    // run's replays — their counter accumulations silently dropped.
    val runName = "sink-" + runId(checkpoint, spark.sessionState.newHadoopConf())
    // The watermark feeds T6 completeness tracking (and the progress log);
    // with no stateful operator downstream it never drops rows — foreachBatch
    // still receives every event (T5: the batch path loses nothing).
    val stream = enriched(spark, sfDir)
      .withWatermark("ts", "10 minutes")
      .observe("sink", count(lit(1)).as("n_events"),
        max(Times.epochSeconds(col("ts"))).as("max_event_epoch"))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    // logdate → (cnt, max event epoch)
    def logdateCountMax = bridge.column(graft.expressions.KeyedCountMax(
      bridge.expression(col("logdate")), bridge.expression(Times.epochSeconds(col("ts"))))
      .toAggregateExpression()).as("parts")
    def perLogdate(df: DataFrame): scala.collection.Map[String, Row] =
      df.agg(logdateCountMax).head().getMap[String, Row](0)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val hconf = batch.sparkSession.sessionState.newHadoopConf()
        val marker = new org.apache.hadoop.fs.Path(checkpoint, s"graft_commits/$batchId")
        val fs = marker.getFileSystem(hconf)
        val fresh = !fs.exists(marker)
        val parts = (if (!fresh) perLogdate(batch) else {
          val obs = org.apache.spark.sql.Observation()
          landBatchIdempotent(batch.observe(obs, logdateCountMax),
            runName, batchId, outPath, checkpoint, fs)
          // The fallback counts what landed. A second pass over `batch`
          // would count it twice in the stream's `sink` metrics: nothing
          // is persisted, and each pass feeds the same accumulator.
          graft.operators.Maintenance.observedOr[scala.collection.Map[String, Row]](
            obs, "parts")(perLogdate(
              landedBatch(spark, batch.schema, runName, batchId, outPath, fs)))
        }).toSeq.sortBy(_._1).map { case (ld, r) => (ld, r.getLong(0), r.getLong(1)) }
        // Driver-state bookkeeping runs on EVERY delivery, including a
        // marker-short-circuited replay: after a crash between marker
        // create and checkpoint commit, the restarted run's listener and
        // report must still learn these logdates landed (the data is on
        // disk). Both are idempotent set-inserts.
        parts.foreach { p => seen += p._1 }
        callbacks.completeness.foreach { l => parts.foreach(p => l.registerLanded(p._1)) }
        if (fresh) {
          callbacks.catalogTable.foreach { t =>
            graft.sources.Landing.registerPartitions(spark, t,
              parts.map { p => Map("logdate" -> p._1) -> s"$outPath/logdate=${p._1}" })
          }
          callbacks.jdbcUrl.foreach { url =>
            graft.sources.Bookkeeping.upsertCommitted(url, runName, batchId,
              parts.map { case (ld, n, maxe) =>
                graft.sources.Bookkeeping.Detail("sink", ld, hostname, n, n, maxe, "NEW")
              })
          }
          // notify runs on every replay that reaches here (at-least-once,
          // as any external call without receiver dedup must be) — gating
          // it on the JDBC commit would make it at-MOST-once: a crash
          // after the JDBC commit but before notify would lose it forever
          callbacks.notifyUrl.foreach { u =>
            parts.foreach(p => graft.sources.Notify.post(u, "sink", p._1))
          }
          fs.mkdirs(marker.getParent)
          fs.create(marker, true).close()
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try { q.awaitTermination() } finally { if (q.isActive) q.stop() }
    // S9: fold the per-batch observed metrics (empty when resume had no new data)
    val observed = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("sink")))
    val n = observed.map(_.getAs[Long]("n_events")).sum
    val maxE = observed.flatMap(r => Option(r.getAs[Any]("max_event_epoch")))
      .map(_.asInstanceOf[Long]).foldLeft(0L)(math.max)
    LandingReport(n, maxE, seen.toSeq)
  }
}
