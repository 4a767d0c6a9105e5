package graft

import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._

/** M4 — streaming semantics tests (SURVEY.md §5.5): streaming results equal
  * batch results; the landing stream is checkpointed/exactly-once. */
class StreamingSpec extends SparkSpec {

  test("streaming 5-min×category counts equal the batch aggregation") {
    val stream = StreamingIngest.streamCounts(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(graft.functions.Times.bucketEpoch(col("ts"), 300L).as("bucket_epoch"),
        col("event_type").as("category"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("bucket_epoch"), col("category"))
      .collect()
    assert(stream.toSeq == batch.toSeq)
  }

  test("session_window stream matches batch gaps-and-islands session counts") {
    val streamed = StreamingIngest.sessionWindowStream(spark, sf, 1800L)
      .select(col("user_id"), col("n_sessions")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = StreamingIngest.sessionize(spark, sf, 1800L)
      .select(col("user_id"), col("n_sessions")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("streaming IVF assignment equals the batch cell index (one quantizer, backfill + live)") {
    // the trained centroids are bounded driver metadata — a live vector
    // ingest assigns cells with the SAME literal-scored argmax the batch
    // index used, so streamed assignments must equal the persisted index
    // bit-for-bit (the t12 one-codec-serves-both property, for vectors)
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Similarity
    val batch = Similarity.ivfAssignment(spark, sf)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = Similarity.ivfCentroids(spark, sf)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    val srcDir = graft.Tables.scratchDir("graft_ivf_stream_")
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("embeddings.parquet"),
      java.nio.file.Paths.get(sf, "embeddings.parquet"))
    val schema = spark.read.parquet(s"$sf/embeddings.parquet").schema
    val qn = "graft_ivf_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckDir = graft.Tables.scratchDir("graft_ivf_ck_")
    val q = spark.readStream.schema(schema).parquet(srcDir.toString)
      .select(col("vec_id"), Similarity.assignCell(cents).as("cell"))
      .writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .option("checkpointLocation", ckDir.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally { if (q.isActive) q.stop() }
    val streamed = spark.table(qn).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    spark.catalog.dropTempView(qn)
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed cell assignment diverged from the batch index " +
        s"(${streamed.size} streamed vs ${batch.size} batch rows)")
  }

  test("streaming PQ encode equals the stored codes index (one codebook, backfill + live)") {
    // same property one rung down the ladder: the trained PQ codebooks are
    // bounded driver metadata, so a live ingest encodes with the same
    // integer argmin literals the stored index was built with — streamed
    // codes must equal the disk-memoized pqIndex bit-for-bit, or a fresh
    // vector would be shortlisted under a different quantizer than the
    // corpus it is compared against
    import org.apache.spark.sql.streaming.Trigger
    import graft.operators.Similarity
    val stored = Similarity.pqIndex(spark, sf)
      .select(col("vec_id"), col("codes")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val srcDir = graft.Tables.scratchDir("graft_pq_stream_")
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("embeddings.parquet"),
      java.nio.file.Paths.get(sf, "embeddings.parquet"))
    val schema = spark.read.parquet(s"$sf/embeddings.parquet").schema
    val qn = "graft_pq_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckDir = graft.Tables.scratchDir("graft_pq_ck_")
    val q = spark.readStream.schema(schema).parquet(srcDir.toString)
      .select(col("vec_id"), Similarity.streamEncodeCodes(spark, sf).as("codes"))
      .writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .option("checkpointLocation", ckDir.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally { if (q.isActive) q.stop() }
    val streamed = spark.table(qn).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    spark.catalog.dropTempView(qn)
    assert(streamed.nonEmpty && streamed == stored,
      s"streamed PQ codes diverged from the stored index " +
        s"(${streamed.size} streamed vs ${stored.size} stored rows)")
  }

  test("A4: watermark evicts window state; finalized windows emit append-mode") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(java.sql.Timestamp, String)]
    val counts = ms.toDF().toDF("ts", "category")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "5 minutes"), col("category"))
      .count()
    val qn = "a4_state_sink"
    val q = counts.writeStream.format("memory").queryName(qn).outputMode("append").start()
    def t(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      ms.addData((t(0), "a"), (t(1), "a"), (t(6), "b"))
      q.processAllAvailable() // watermark advances to 5min after this batch
      ms.addData((t(20), "c"))
      q.processAllAvailable() // [0,5) finalized+emitted; watermark → 19min
      ms.addData((t(21), "c"))
      q.processAllAvailable() // [5,10) finalized+emitted
      val emitted = spark.table(qn).select(col("category"), col("count"))
        .as[(String, Long)].collect().toMap
      assert(emitted == Map("a" -> 2L, "b" -> 1L)) // open window [20,25) NOT emitted
      // the bounded-state guarantee (reference's 500-bucket LRU,
      // TimedUtils.scala:114-124): evicted windows leave the state store
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 2, s"state not bounded: $stateRows rows retained")
    } finally q.stop()
  }

  test("T10: transformWithState keeps running per-key totals across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val counted = ms.toDS().groupByKey(_._1)
      .transformWithState(new graft.streaming.StreamingIngest.CountMaxProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "n_events", "max_epoch")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val qn = "t10_tws_sink"
    val q = counted.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      ms.addData((7L, 100L), (7L, 50L), (9L, 10L))
      q.processAllAvailable()
      ms.addData((7L, 200L))
      q.processAllAvailable()
      val rows = spark.table(qn).as[(Long, Long, Long)].collect().toSet
      // batch 1 emits running (2, 100) for key 7; batch 2 emits (3, 200) —
      // the RUNNING-state contract (state survived the batch boundary);
      // key 9 is untouched in batch 2 and must NOT re-emit
      assert(rows == Set((7L, 2L, 100L), (7L, 3L, 200L), (9L, 1L, 10L)), s"got $rows")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("T4: stream-stream interval join matches boundaries exactly and bounds state") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicksMs = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val errsMs = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, java.sql.Timestamp)]
    val clicks = clicksMs.toDF().toDF("click_id", "user_id", "click_ts")
      .withWatermark("click_ts", "1 minute")
    val errs = errsMs.toDF().toDF("error_id", "err_user_id", "error_ts")
      .withWatermark("error_ts", "1 minute")
    val joined = clicks.join(errs,
      col("user_id") === col("err_user_id") &&
        col("error_ts") >= col("click_ts") &&
        col("error_ts") <= col("click_ts") + expr("INTERVAL 120 seconds"))
      .select(col("click_id"), col("error_id"))
    val qn = "t4_boundary_sink"
    val q = joined.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    try {
      // errors at +0s, +120s (inclusive edge), +121s (just outside)
      clicksMs.addData((1L, 7L, t(100)))
      errsMs.addData((10L, 7L, t(100)), (11L, 7L, t(220)), (12L, 7L, t(221)))
      q.processAllAvailable()
      // advance both watermarks far past the interval so old state evicts
      clicksMs.addData((2L, 7L, t(10000)))
      errsMs.addData((20L, 7L, t(10000)))
      q.processAllAvailable()
      val pairs = spark.table(qn).as[(Long, Long)].collect().toSet
      // [click_ts, click_ts+120s] is closed on both ends; 221s is out
      assert(pairs == Set((1L, 10L), (1L, 11L), (2L, 20L)), s"got $pairs")
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // only the rows the final watermark cannot yet prove unmatchable
      // survive - the bounded-state property that makes the join 100TB-safe
      assert(stateRows <= 4, s"join state not bounded: $stateRows rows")
    } finally q.stop()
  }

  test("T5b: dropDuplicatesWithinWatermark dedups in-horizon, evicts, re-admits after") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, java.sql.Timestamp)]
    val dedup = ms.toDF().toDF("k", "ts")
      .withWatermark("ts", "1 minute")
      .dropDuplicatesWithinWatermark("k")
      .select(col("k"))
    val qn = "t5b_sink"
    val q = dedup.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    try {
      ms.addData((1L, t(0)), (1L, t(10)))   // duplicate within horizon
      q.processAllAvailable()
      ms.addData((2L, t(1000)))             // watermark → 940s; k=1 evicted
      q.processAllAvailable()
      val stateAfterEvict = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      ms.addData((1L, t(1050)))             // k=1 again, AFTER eviction
      q.processAllAvailable()
      val emitted = spark.table(qn).as[Long].collect().toSeq.sorted
      // in-horizon duplicate suppressed; post-eviction duplicate re-emitted
      // (the documented bounded-state trade-off: state is O(horizon keys),
      // exactly-once dedup only within the watermark delay)
      assert(emitted == Seq(1L, 1L, 2L), s"got $emitted")
      assert(stateAfterEvict <= 1, s"evicted state not bounded: $stateAfterEvict")
    } finally q.stop()
  }

  test("T6/T5: completeness listener fires per logdate once the watermark passes it") {
    import graft.streaming.CompletenessListener
    // private copy of the fixture so the shared per-sfDir stream source
    // isn't polluted by the late batch this test appends
    val sfCopy = graft.Tables.scratchDir("graft_t6_sf")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "events.parquet"),
      sfCopy.resolve("events.parquet"))
    val mySf = sfCopy.toString
    val out = graft.Tables.scratchDir("graft_t6_land").toString
    val ckpt = graft.Tables.scratchDir("graft_t6_ckpt").toString
    val notified = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new CompletenessListener(300L)(ld => notified.add(ld))
    spark.streams.addListener(listener)
    try {
      // run 1: lands + registers every logdate; the watermark during the
      // first batch is unset, so nothing completes yet (the reference's
      // poll loop has the same one-cycle lag)
      val r1 = StreamingIngest.landStream(spark, mySf, out, ckpt,
        StreamingIngest.LandingCallbacks(completeness = Some(listener)))
      assert(notified.isEmpty || notified.size() < r1.logdates.size)
      // T5: a late batch arrives — drop 10 more events into the stream's
      // source dir, then resume from the checkpoint
      val srcDir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
        "graft_stream_src_" + mySf.replaceAll("[^0-9a-zA-Z]", "_"))
      spark.read.parquet(s"$mySf/events.parquet").limit(10)
        .write.mode("append").parquet(srcDir.toString)
      StreamingIngest.landStream(spark, mySf, out, ckpt,
        StreamingIngest.LandingCallbacks(completeness = Some(listener)))
      // run 2 executes with the persisted watermark = max event ts − 10 min:
      // exactly the logdates whose window end it passed must complete
      val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmm")
      val expected = r1.logdates.filter { ld =>
        java.time.LocalDateTime.parse(ld, fmt).toEpochSecond(java.time.ZoneOffset.UTC) + 300L <=
          r1.maxEventEpoch - 600L
      }.toSet
      assert(expected.nonEmpty)
      // listener events arrive async on the listener bus — poll briefly
      val deadline = System.currentTimeMillis() + 20000
      while (listener.completed != expected && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(listener.completed == expected)
      assert(notified.size == expected.size) // fired exactly once each
    } finally spark.streams.removeListener(listener)
  }

  test("T6 durable: a restarted coordinator never re-notifies CHECKED logdates") {
    import graft.sources.Bookkeeping
    import graft.streaming.{CompletenessListener, JdbcCompletenessStore}
    val url = Bookkeeping.derbyUrl(
      graft.Tables.scratchDir("graft_t6d").toString + "/bk")
    Bookkeeping.ensureTable(url)
    // the logdates exist as bookkeeping rows (the landing epilogue upserts
    // them before the watermark ever completes them)
    Bookkeeping.upsert(url, Seq(
      Bookkeeping.Detail("sink", "202001010000", "driver", 10, 10, 0, "NEW"),
      Bookkeeping.Detail("sink", "202001010005", "driver", 10, 10, 0, "NEW")))
    val store = new JdbcCompletenessStore(url, "sink")
    val notified = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l1 = new CompletenessListener(300L, Some(store))(ld => notified.add(ld))
    l1.registerLanded("202001010000")
    l1.registerLanded("202001010005")
    // watermark passes only the first window end → one notify, one CHECKED
    l1.advanceWatermark(
      java.time.LocalDateTime.parse("202001010000",
        java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmm"))
        .toEpochSecond(java.time.ZoneOffset.UTC) + 300L)
    assert(notified.size == 1)
    assert(Bookkeeping.checkedLogdates(url, "sink") == Set("202001010000"))
    // crash: l1's driver memory is gone. The restarted coordinator builds a
    // fresh listener over the same store, re-registers everything it lands
    // (replays do that), and the watermark passes BOTH window ends — only
    // the un-notified logdate may fire.
    val l2 = new CompletenessListener(300L, Some(store))(ld => notified.add(ld))
    l2.registerLanded("202001010000")
    l2.registerLanded("202001010005")
    l2.advanceWatermark(Long.MaxValue)
    assert(notified.size == 2) // 202001010000 NOT re-notified
    assert(l2.completed.contains("202001010005"))
    assert(Bookkeeping.checkedLogdates(url, "sink") ==
      Set("202001010000", "202001010005"))
  }

  test("T6 durable: a late batch's upsert cannot clobber CHECKED back to NEW") {
    import graft.sources.Bookkeeping
    val url = Bookkeeping.derbyUrl(
      graft.Tables.scratchDir("graft_t6c").toString + "/bk")
    Bookkeeping.ensureTable(url)
    Bookkeeping.upsert(url, Seq(
      Bookkeeping.Detail("sink", "202001010000", "host0", 10, 10, 0, "NEW")))
    Bookkeeping.markChecked(url, "sink", "202001010000")
    assert(Bookkeeping.checkedLogdates(url, "sink") == Set("202001010000"))
    // a straggler micro-batch lands more rows for the already-notified
    // logdate: counters must accumulate but the CHECKED transition must
    // survive, or a restarted coordinator re-notifies
    Bookkeeping.upsert(url, Seq(
      Bookkeeping.Detail("sink", "202001010000", "host0", 3, 3, 1, "NEW")))
    assert(Bookkeeping.checkedLogdates(url, "sink") == Set("202001010000"))
    // and marking a logdate with no detail rows still records durably
    Bookkeeping.markChecked(url, "sink", "209912312355")
    assert(Bookkeeping.checkedLogdates(url, "sink").contains("209912312355"))
  }

  test("runId: resume reuses the marker; wiping the checkpoint mints a new identity") {
    val hconf = spark.sessionState.newHadoopConf()
    val ckpt = graft.Tables.scratchDir("graft_runid").toString
    val id1 = StreamingIngest.runId(ckpt, hconf)
    assert(StreamingIngest.runId(ckpt, hconf) == id1) // resume: stable
    // start-from-scratch restart: wipe + recreate the checkpoint path
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt))
    val id2 = StreamingIngest.runId(ckpt, hconf)
    assert(id2 != id1) // fresh identity → batch_commits rows don't collide
  }

  test("landStream lands every event exactly once (checkpointed)") {
    val out = graft.Tables.scratchDir("graft_stream_land").toString
    val ckpt = graft.Tables.scratchDir("graft_stream_ckpt").toString
    StreamingIngest.landStream(spark, sf, out, ckpt)
    val landed = spark.read.orc(out).count()
    assert(landed == Tables.events(spark, sf).count())
    // second run with same checkpoint: no new data → no duplicates
    StreamingIngest.landStream(spark, sf, out, ckpt)
    assert(spark.read.orc(out).count() == landed)
  }

  test("dedupStream keeps first-seen content across runs; batch replay is idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val srcDir = graft.Tables.scratchDir("graft_ddsrc").toString
    val idxDir = graft.Tables.scratchDir("graft_ddidx").toString + "/index"
    val outDir = graft.Tables.scratchDir("graft_ddout").toString + "/out"
    val ckpt = graft.Tables.scratchDir("graft_ddck").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def writeDocs(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1).write.mode("append").parquet(srcDir)
    def stream = spark.readStream.schema(schema).parquet(srcDir)
    def keptIds = graft.operators.VersionedLayers.readAny(spark, outDir)
      .select("doc_id").as[Long].collect().toSet

    // run 1: within-batch dup (docs 0/2 share text) → min-id keeper only
    writeDocs(Seq(0L -> "alpha beta", 1L -> "gamma delta", 2L -> "alpha beta"))
    StreamingIngest.dedupStream(stream, idxDir, outDir, ckpt)
    assert(keptIds == Set(0L, 1L))

    // run 2 (same checkpoint = tomorrow's crawl): doc 3 duplicates run 1's
    // content and is dropped by the persisted index; 4/5 are new dups → 4
    writeDocs(Seq(3L -> "alpha beta", 4L -> "epsilon zeta", 5L -> "epsilon zeta"))
    StreamingIngest.dedupStream(stream, idxDir, outDir, ckpt)
    assert(keptIds == Set(0L, 1L, 4L))

    // at-least-once replay of run 2's batch (same batch tag, same content):
    // the probe excludes the batch's own index entries, so the replay
    // reproduces — not drops — its survivors, and overwrites its own output
    val run = StreamingIngest.runId(ckpt, spark.sessionState.newHadoopConf())
    val replay = Seq(3L -> "alpha beta", 4L -> "epsilon zeta", 5L -> "epsilon zeta")
      .toDF("doc_id", "text")
    StreamingIngest.dedupIndexBatch(replay, s"$run-1", idxDir, outDir)
    assert(keptIds == Set(0L, 1L, 4L))

    // a NEW query (fresh checkpoint → batchIds restart at 0) against the
    // SAME index dir: its batch 0 must treat the old run's batch 0 as prior
    // corpus — dropping its duplicates, preserving its index partition —
    // not claim it as its own attempt and clobber it
    val srcDir2 = graft.Tables.scratchDir("graft_ddsrc2").toString
    val ckpt2 = graft.Tables.scratchDir("graft_ddck2").toString
    Seq(6L -> "alpha beta", 7L -> "eta theta").toDF("doc_id", "text")
      .repartition(1).write.mode("append").parquet(srcDir2)
    StreamingIngest.dedupStream(
      spark.readStream.schema(schema).parquet(srcDir2), idxDir, outDir, ckpt2)
    assert(keptIds == Set(0L, 1L, 4L, 7L)) // 6 dropped: dup of run 1's batch 0
  }

  test("t14: streamDedupIndex equals the batch restatement (prior keepers + fresh minus exact/near dups)") {
    import spark.implicits._
    val got = StreamingIngest.streamDedupIndex(spark, sf)
      .select(col("doc_id")).as[Long].collect().toSet
    // batch restatement of the two-micro-batch semantics
    val bucket = pmod(graft.functions.TextFns.polyHash($"doc_id".cast("string")), lit(10L))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text", bucket.as("bk"))
      .as[(Long, String, Long)].collect()
    val prior = docs.filter(_._3 <= 7)
    val fresh = docs.filter(_._3 >= 8)
    val priorKept = prior.groupBy(_._2).map(_._2.map(_._1).min).toSet
    val priorTexts = prior.map(_._2).toSet
    // fresh docs near (Jaccard >= 0.8) ANY prior keeper — from the x4
    // verified pair set, which the near probe provably reproduces
    val pairs = graft.operators.Dedup.ngramJaccard(spark, sf, 0.8)
      .select($"id1", $"id2").as[(Long, Long)].collect()
    val freshIds = fresh.map(_._1).toSet
    val nearFresh = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .collect { case (f, p) if freshIds.contains(f) && priorKept.contains(p) => f }
      .toSet
    val freshKept = fresh.filterNot(d => priorTexts.contains(d._2))
      .groupBy(_._2).map(_._2.map(_._1).min)
      .filterNot(nearFresh.contains).toSet
    assert(got == priorKept ++ freshKept)
    // the near probe actually fired across batches: at least one fresh doc
    // was dropped for near-similarity alone (not an exact dup)
    assert(nearFresh.exists(f => !priorTexts.contains(fresh.find(_._1 == f).get._2)))
  }

  test("t15: streamSemanticDedup equals the batch restatement; batch replay is idempotent") {
    import spark.implicits._
    val got = StreamingIngest.streamSemanticDedup(spark, sf)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    // batch restatement from independently-verified primitives: the exact
    // all-pairs cosine set (x5's verified form) restricted to same-cell,
    // split by the arrival buckets, with both NOT-EXISTS rules replayed
    val asg = graft.operators.Similarity.ivfAssignment(spark, sf)
      .select($"vec_id", $"cell".cast("long")).as[(Long, Long)].collect().toMap
    val near = graft.operators.Dedup.embedCosineAllPairs(spark, sf, 0.4)
      .select($"id1", $"id2").as[(Long, Long)].collect()
      .filter { case (a, b) => asg(a) == asg(b) }
    val nbrs = near.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def bucket(id: Long): Long = {
      var h = 0L
      for (c <- id.toString) h = (h * 31 + c.toLong) % 1000000007L
      h % 10
    }
    val ids = asg.keySet
    val prior = ids.filter(bucket(_) <= 7)
    val fresh = ids.filter(bucket(_) >= 8)
    val priorKept = prior.filter(i =>
      !nbrs.getOrElse(i, Set.empty).exists(j => prior.contains(j) && j < i))
    val freshKept = fresh.filter(i =>
      !nbrs.getOrElse(i, Set.empty).exists(j => fresh.contains(j) && j < i) &&
      !nbrs.getOrElse(i, Set.empty).exists(priorKept.contains))
    assert(got.keySet == priorKept ++ freshKept)
    got.foreach { case (id, cell) => assert(cell == asg(id)) }
    // the cross-batch probe actually fired
    assert(fresh.exists(i => nbrs.getOrElse(i, Set.empty).exists(priorKept.contains)))

    // two-run loop (tomorrow's crawl) over explicit dirs must equal the
    // declared single-stream query, and an at-least-once replay of the
    // fresh batch (same tag, same content) must reproduce — not drop —
    // its survivors, because the probe excludes the batch's own partition
    val srcDir = graft.Tables.scratchDir("graft_sdsrc").toString
    val idxDir = graft.Tables.scratchDir("graft_sdidx").toString + "/index"
    val outDir = graft.Tables.scratchDir("graft_sdout").toString + "/out"
    val ckpt = graft.Tables.scratchDir("graft_sdck").toString
    val vecs = Tables.embeddings(spark, sf).select($"vec_id", $"embedding")
    val bkt = pmod(graft.functions.TextFns.polyHash($"vec_id".cast("string")), lit(10L))
    val cents = graft.operators.Similarity.ivfCentroids(spark, sf)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    def stream = spark.readStream.schema(
      org.apache.spark.sql.types.StructType(vecs.schema)).parquet(srcDir)
    def kept = graft.operators.VersionedLayers.readAny(spark, outDir)
      .select($"vec_id", $"cell").as[(Long, Long)].collect().toMap
    vecs.where(bkt <= 7).repartition(1).write.mode("append").parquet(srcDir)
    StreamingIngest.semanticDedupStream(stream, cents, idxDir, outDir, ckpt, 0.4)
    vecs.where(bkt >= 8).repartition(1).write.mode("append").parquet(srcDir)
    StreamingIngest.semanticDedupStream(stream, cents, idxDir, outDir, ckpt, 0.4)
    assert(kept == got, "cross-run loop must equal the single-stream result")
    val run = StreamingIngest.runId(ckpt, spark.sessionState.newHadoopConf())
    StreamingIngest.semanticDedupBatch(vecs.where(bkt >= 8), s"$run-1", cents,
      idxDir, outDir, 0.4)
    assert(kept == got, "replay must overwrite itself byte-for-byte")
  }

  test("t16: streaming anomaly flags equal the batch a2e row-for-row") {
    val stream = StreamingIngest.streamAnomalyFlags(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // the stream emits exactly the buckets the final watermark passed
    // (t1b's flush rule); trailing windows look strictly backward, so the
    // flushed rows must equal the batch monitor's rows verbatim
    val maxE = Tables.events(spark, sf)
      .agg(max(graft.functions.Times.epochSeconds(col("ts")))).head().getLong(0)
    val batch = operators.Counters.anomalyFlags(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      .filter { case ((_, b), _) => b + 300 <= maxE - 600 }
    assert(stream == batch,
      "the watermark-flushed timeline must reproduce the batch monitor exactly")
    assert(batch.valuesIterator.exists(_._3 == 1L), "the fixture must exercise a flag")
  }

  test("nearDedupIndexBatch: streaming near-dup dedup against the persisted shingle index") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val srcDir = graft.Tables.scratchDir("graft_ndsrc").toString
    val idxDir = graft.Tables.scratchDir("graft_ndidx").toString + "/index"
    val outDir = graft.Tables.scratchDir("graft_ndout").toString + "/out"
    val ckpt = graft.Tables.scratchDir("graft_ndck").toString
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    def writeDocs(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").repartition(1).write.mode("append").parquet(srcDir)
    def stream = spark.readStream.schema(schema).parquet(srcDir)
    def keptIds = graft.operators.VersionedLayers.readAny(spark, outDir)
      .select("doc_id").as[Long].collect().toSet

    // 30 distinct tokens → 28 distinct 3-shingles; editing one middle token
    // changes exactly 3 of them → J = 25/31 ≈ 0.806 ≥ 0.8
    val toks = (1 to 30).map(i => f"tok$i%02d")
    val base = toks.mkString(" ")
    val near = toks.updated(14, "edited").mkString(" ")
    val far = (1 to 30).map(i => f"other$i%02d").mkString(" ")

    writeDocs(Seq(0L -> base))
    StreamingIngest.dedupStream(stream, idxDir, outDir, ckpt, nearThreshold = Some(0.8))
    assert(keptIds == Set(0L))

    // run 2: near-dup of run 1's doc dropped via the shingle index, exact
    // dup dropped via the fingerprint index, unrelated doc kept
    writeDocs(Seq(1L -> near, 2L -> base, 3L -> far))
    StreamingIngest.dedupStream(stream, idxDir, outDir, ckpt, nearThreshold = Some(0.8))
    assert(keptIds == Set(0L, 3L))

    // at-least-once replay of run 2's batch reproduces its survivors
    val run = StreamingIngest.runId(ckpt, spark.sessionState.newHadoopConf())
    val replay = Seq(1L -> near, 2L -> base, 3L -> far).toDF("doc_id", "text")
    StreamingIngest.nearDedupIndexBatch(replay, s"$run-1", idxDir, outDir, 0.8)
    assert(keptIds == Set(0L, 3L))
  }

  /** Shared harness for the T17 MemoryStream tests: ONE pipeline shape
    * (30-min gap, 1-h round window, 10-min watermark, RocksDB provider
    * scoped and restored), so the scenario tests cannot drift onto
    * different pipelines. `body` receives the stream handle, a blocking
    * add-then-drain step, and the sink-set reader. */
  private def withT17Stream(qn: String)(
      body: (Seq[(Long, java.sql.Timestamp, String)] => Unit,
             () => Set[(Long, Long, Long, Long, Long)]) => Unit): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, String)]
    val sessions = ms.toDF().toDF("user_id", "ts", "cat")
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"),
        graft.functions.Times.epochSeconds(col("ts")).as("es"), col("cat"))
      .as[(Long, Long, String)].groupByKey(_._1)
      .transformWithState(new StreamingIngest.IdleSessionProcessor(1800L, 3600L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .toDF("user_id", "session_start", "session_end", "n_events", "n_types")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = sessions.writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try body(
      evs => { ms.addData(evs); q.processAllAvailable() },
      () => spark.table(qn).as[(Long, Long, Long, Long, Long)].collect().toSet)
    finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      spark.catalog.dropTempView(qn)
    }
  }

  test("T17: timers are the ONLY close path; each session fires when the watermark passes its deadline") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    withT17Stream("t17_tws_sink") { (feed, rowsF) =>
      def rows = rowsF()
      // batch 1 — user 5: THREE sessions land in one batch; NONE closes
      // on arrival (the reference's idle scan is the sole closer) —
      // deadlines [100]→max(3600, 1900)=3600, [2000]→max(3600,
      // 3800)=3800, [4300]→max(7200, 6100)=7200, the key's single
      // timer arming at the 3600 minimum. User 7: one open
      // two-category session (deadline
      // max(3600, 3800)=3800); user 9: one open single-event session
      // (deadline max(3600, 2800)=3600 — the round-window floor binds).
      // The post-batch watermark is 4300-600=3700, so the no-data
      // finalization batch fires EXACTLY the 3600-deadline timers: user
      // 5's first session and user 9 (3600 < 3700 ≤ 3800 ≤ 7200) —
      // user 5's SECOND session stays open even though a later session
      // proves it closed, because only its timer may emit it.
      feed(Seq((7L, t(1000), "a"), (7L, t(2000), "b"), (9L, t(1000), "a"),
        (5L, t(100), "a"), (5L, t(2000), "a"), (5L, t(4300), "a")))
      assert(rows == Set(
        (5L, 100L, 100L, 1L, 1L),
        (9L, 1000L, 1000L, 1L, 1L)),
        s"expected exactly the two expired-deadline timer closes; got $rows")
      // batch 2 — user 7 returns far beyond the gap: the arrival only
      // RE-SESSIONIZES (old [1000,2000] keeps its 3800 timer; the new
      // open [100000] arms max(100800, 101800)=101800). The advanced
      // watermark (99400) then fires every pending deadline ≤ it: user
      // 5's 3800 and 7200, user 7's 3800. User 7's open session must
      // NOT emit (101800 > 99400).
      feed(Seq((7L, t(100000), "a")))
      assert(rows == Set(
        (5L, 100L, 100L, 1L, 1L), (5L, 2000L, 2000L, 1L, 1L),
        (5L, 4300L, 4300L, 1L, 1L),
        (7L, 1000L, 2000L, 2L, 2L),
        (9L, 1000L, 1000L, 1L, 1L)), s"got $rows")
    }
  }

  test("T17: the round-window minimum lifetime holds an idle session open until its window elapses") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    withT17Stream("t17d_tws_sink") { (feed, rowsF) =>
      def rows = rowsF()
      // user 9's lone event at 1000 has idle deadline 2800 but window
      // deadline 3600 (window [0, 3600) must elapse before a writer may
      // close — HiveBatchedWriter.isIdle's `now > minFinishedTimestamp`).
      // Batch 1's watermark is 4100-600=3500: past the idle deadline,
      // NOT past the window one — nothing may close.
      feed(Seq((9L, t(1000), "a"), (8L, t(4100), "a")))
      assert(rows.isEmpty,
        s"idle-but-window-unelapsed session must stay open; got $rows")
      // batch 2 pushes the watermark to 4300-600=3700 ≥ 3600: the timer
      // fires. User 8's continuing session ([4100,4300], deadline
      // max(7200, 6100)=7200) stays open.
      feed(Seq((8L, t(4300), "a")))
      assert(rows == Set((9L, 1000L, 1000L, 1L, 1L)),
        s"the window-floored timer must close user 9 exactly once; got $rows")
    }
  }

  test("T17: a never-idle key is force-split at round-window boundaries with bounded open state") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    withT17Stream("t17e_tws_sink") { (feed, rowsF) =>
      def rows = rowsF()
      // heartbeats every 600 s (always under the 1800-s gap) from 1000
      // to 8200: without the round-window router this key NEVER goes
      // idle and its ListState grows without bound. The window rule
      // splits at 3600 and 7200 into [1000..3400] (deadline max(3600,
      // 3400+1800)=5200), [4000..7000] (deadline max(7200, 8800)=8800)
      // and the open tail [7600..8200] (deadline max(10800,
      // 10000)=10800). The post-batch watermark 8200-600=7600 fires
      // only the 5200 timer: the first elapsed window closes, the later
      // two sessions (≤ two windows of events — the bounded-state
      // guarantee) wait for THEIR timers.
      feed((1000L to 8200L by 600L).map(s => (3L, t(s), "a")))
      assert(rows == Set((3L, 1000L, 3400L, 5L, 1L)),
        s"only the watermark-passed window may close; got $rows")
      // one more heartbeat far ahead pushes the watermark to 19400:
      // both pending timers (8800, 10800) fire and the retained state
      // drains to the single new open session.
      feed(Seq((3L, t(20000), "a")))
      assert(rows == Set(
        (3L, 1000L, 3400L, 5L, 1L), (3L, 4000L, 7000L, 6L, 1L),
        (3L, 7600L, 8200L, 2L, 1L)),
        s"advancing the watermark must drain every expired window; got $rows")
    }
  }

  test("T17 soak: a never-idle key's state stays within the two-window bound across many rounds") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // The Scaladoc's boundedness argument (StreamingIngest.scala: open
    // sessions span at most ~two round windows per key, even for a key
    // that NEVER goes idle), pinned as an invariant: heartbeats at 600-s
    // spacing (far under the 1800-s gap) stream across ten 3600-s round
    // windows in six sequential AvailableNow runs over one checkpoint,
    // and after EVERY run the checkpoint's own state (read back through
    // the statestore data source — the same bytes RocksDB committed, not
    // a processor-side counter) must hold exactly the replica's open
    // sessions: those whose `max(windowEnd, last+gap)` deadline the final
    // watermark has not strictly passed. With watermark delay 600 s a
    // window's session fires once the stream is ~2400 s past its end, so
    // the open set can never exceed two windows (parked ≤ 2 with the
    // frontier, regardless of how many windows have streamed by).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val srcDir = graft.Tables.scratchDir("graft_t17soak_src").toString
    val ck = graft.Tables.scratchDir("graft_t17soak_ck").toString
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("cat", StringType)))
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def run(): Unit = {
      val sessions = spark.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "10 minutes")
        .select(col("user_id"),
          graft.functions.Times.epochSeconds(col("ts")).as("es"), col("cat"))
        .as[(Long, Long, String)].groupByKey(_._1)
        .transformWithState(new StreamingIngest.IdleSessionProcessor(1800L, 3600L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF("user_id", "session_start", "session_end", "n_events", "n_types")
      val q = sessions.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    def stateCount(name: String): Long =
      spark.read.format("statestore").option("path", ck)
        .option("stateVarName", name).load().count()
    val all = (0L to 36000L by 600L).map(es => (7L, es, "a"))
    try {
      all.grouped(11).zipWithIndex.foreach { case (chunk, i) =>
        chunk.map { case (u, es, c) => (u, t(es), c) }
          .toDF("user_id", "ts", "cat")
          .repartition(1).write.mode("append").parquet(srcDir)
        run()
        // replica of the flush rule over everything fed so far: open =
        // sessions whose deadline the final watermark has NOT passed
        val fed = all.take((i + 1) * 11)
        val maxMs = fed.map(_._2).max * 1000L
        val open = fed.groupBy(e => e._2 / 3600).values.map(_.map(_._2))
          .count(w => math.max((w.max / 3600 + 1) * 3600, w.max + 1800) * 1000 >=
            maxMs - 600000L)
        val parked = stateCount("parked")
        val frontier = stateCount("frontier")
        assert(parked + frontier == open.toLong,
          s"run $i: checkpoint holds ${parked}+${frontier} open sessions, replica says $open")
        assert(parked <= 2 && frontier <= 1,
          s"run $i: never-idle state outgrew the two-window bound ($parked parked)")
      }
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("T4 soak: stream-stream join state evicts beyond the interval+watermark horizon") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // The Scaladoc's boundedness claim (each side retains only
    // ~interval+watermark of history, so state is bounded regardless of
    // stream length — the 100 TB property), pinned by reading the join's
    // own buffered state back through the statestore source: six
    // one-hour chunks of a steady two-user click/error stream arrive in
    // six sequential AvailableNow runs over one checkpoint; by the end
    // the stream has fed 6 h of events, but the buffered rows must
    // plateau at the ~40-min horizon (1800 s interval + 600 s watermark),
    // not grow with the feed.
    val srcDir = graft.Tables.scratchDir("graft_t4soak_src").toString
    val ck = graft.Tables.scratchDir("graft_t4soak_ck").toString
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("ts", TimestampType)))
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def run(): Unit = {
      val src = spark.readStream.schema(schema).parquet(srcDir)
      val clicks = src.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
        .withWatermark("click_ts", "10 minutes")
      val errors = src.where(col("event_type") === "error")
        .select(col("event_id").as("error_id"),
          col("user_id").as("err_user_id"), col("ts").as("error_ts"))
        .withWatermark("error_ts", "10 minutes")
      val joined = clicks.join(errors,
        col("user_id") === col("err_user_id") &&
          col("error_ts") >= col("click_ts") &&
          col("error_ts") <= col("click_ts") + expr("INTERVAL 1800 seconds"))
      val q = joined.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    def buffered: Long = Seq("left", "right").map(side =>
      spark.read.format("statestore").option("path", ck)
        .option("joinSide", side).load().count()).sum
    val counts = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0 until 6).foreach { k =>
      // one event per 10 s per user, clicks/errors alternating per slot
      val evs = ((k * 3600L) until ((k + 1) * 3600L) by 10L).flatMap(s =>
        Seq(1L, 2L).map(u =>
          (s * 10 + u, u, if ((s / 10) % 2 == 0) "click" else "error", t(s))))
      evs.toDF("event_id", "user_id", "event_type", "ts")
        .repartition(1).write.mode("append").parquet(srcDir)
      run()
      counts += buffered
    }
    // the horizon fills during chunk 1; every later chunk must stay at
    // that plateau (generous 1.5x for batch-boundary eviction lag), far
    // below the 6 h of rows the stream has fed by the end
    val plateau = counts(1)
    assert(counts.drop(2).forall(c => c <= plateau * 3 / 2),
      s"join state grew past the interval+watermark horizon: $counts")
    assert(counts.last < 6 * 720 / 3,
      s"retained rows track the feed, not the horizon: $counts")
  }

  test("T17: sessions spanning micro-batches extend instead of closing; deadline re-arms") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    withT17Stream("t17b_tws_sink") { (feed, rowsF) =>
      def rows = rowsF()
      // user 7's session continues 1500 s later in batch 2 (within gap,
      // same window): the old deadline max(3600, 2800)=3600 is RE-ARMED
      // to max(3600, 4300)=4300, so although the batch-2 watermark
      // (2500-600=1900) stays below both, no session may close; batch 3
      // pushes the watermark past 4300 and the timer closes the MERGED
      // session.
      feed(Seq((7L, t(1000), "a")))
      feed(Seq((7L, t(2500), "b")))
      assert(rows.isEmpty, s"within-gap continuation must not close; got $rows")
      feed(Seq((8L, t(10000), "a")))
      assert(rows == Set((7L, 1000L, 2500L, 2L, 2L)),
        s"the re-armed timer must close the merged session exactly once; got $rows")
    }
  }

  test("T17: an out-of-order arrival inside the watermark merges into the open session") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    withT17Stream("t17c_tws_sink") { (feed, rowsF) =>
      def rows = rowsF()
      // batch 1 pushes the watermark to 1400 (2000 - 600); batch 2's
      // event at 1600 is OLDER than the open session's last event but
      // above the late-event watermark, so it must be admitted and
      // merged (the re-sessionization sorts prior ∪ batch). The merged
      // deadline stays max(3600, 2000+1800)=3800; batch 3 pushes the
      // watermark to 9400 and the timer closes [1600, 2000] as ONE
      // session.
      feed(Seq((7L, t(2000), "a")))
      feed(Seq((7L, t(1600), "b")))
      assert(rows.isEmpty, s"nothing may close while the deadline is unexpired; got $rows")
      feed(Seq((8L, t(10000), "a")))
      assert(rows == Set((7L, 1600L, 2000L, 2L, 2L)),
        s"the out-of-order event must merge, not fork a session; got $rows")
    }
  }

  test("T17: checkpoint recovery resumes open sessions, re-arms timers, and merges cross-run arrivals") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // Two AvailableNow runs over ONE checkpoint — the recovery path the
    // stale-timer guard only defends against: run 1 leaves two open
    // sessions (nothing emitted; their events, bounds, tallies, armed
    // timers and the 2400-s watermark live only in the checkpoint), run
    // 2 must (a) merge an admissible out-of-order arrival into the
    // RECOVERED u1 session — deleting the recovered 3800 timer and
    // re-arming 4300 — and (b) fire the recovered u2 timer untouched.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val srcDir = graft.Tables.scratchDir("graft_t17rec_src").toString
    val ck = graft.Tables.scratchDir("graft_t17rec_ck").toString
    val outDir = graft.Tables.scratchDir("graft_t17rec_out").toString + "/out"
    val schema = StructType(Seq(StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("cat", StringType)))
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    def run(): Unit = {
      val sessions = spark.readStream.schema(schema).parquet(srcDir)
        .withWatermark("ts", "10 minutes")
        .select(col("user_id"),
          graft.functions.Times.epochSeconds(col("ts")).as("es"), col("cat"))
        .as[(Long, Long, String)].groupByKey(_._1)
        .transformWithState(new StreamingIngest.IdleSessionProcessor(1800L, 3600L),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          org.apache.spark.sql.streaming.OutputMode.Append())
        .toDF("user_id", "session_start", "session_end", "n_events", "n_types")
      // foreachBatch→parquet because the memory sink refuses checkpoint
      // recovery, and run 2 must resume run 1's checkpoint
      val q = sessions.writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(outDir); () }
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      try q.awaitTermination() finally { if (q.isActive) q.stop() }
    }
    try {
      // u1 [1000a, 2000b] deadline max(3600, 3800)=3800; u2 [3000a]
      // deadline max(3600, 4800)=4800; run-1 watermark 3000-600=2400 —
      // below both, so run 1 emits NOTHING.
      Seq((1L, t(1000), "a"), (1L, t(2000), "b"), (2L, t(3000), "a"))
        .toDF("user_id", "ts", "cat")
        .repartition(1).write.mode("append").parquet(srcDir)
      run()
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(outDir)) ||
        spark.read.parquet(outDir).isEmpty,
        "run 1 must close nothing — both deadlines exceed its watermark")
      // u1's 2500 is admissible (≥ the recovered 2400 watermark) and
      // merges to [1000,2500] (n=3, types {a,b}); u3's 20000 pushes the
      // watermark to 19400, firing the re-armed 4300 and recovered 4800
      // timers; u3 stays open (deadline 21800).
      Seq((1L, t(2500), "a"), (3L, t(20000), "a"))
        .toDF("user_id", "ts", "cat")
        .repartition(1).write.mode("append").parquet(srcDir)
      run()
      val out = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(out == Set((1L, 1000L, 2500L, 3L, 2L), (2L, 3000L, 3000L, 1L, 1L)),
        s"recovered state must merge and fire across the restart; got $out")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("T17: state TTL expires an idle key's value on the processing-time path") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("v", LongType)))
    // Two SEPARATE single-batch runs of one checkpoint: ProcessingTime
    // time-mode keeps scheduling batches to advance its clock (TTL/timer
    // deadlines can fire at any future tick), so neither
    // processAllAvailable nor even AvailableNow ever settles — only
    // Trigger.Once bounds the run. The memory sink is per-run, so each
    // run's emissions read in isolation.
    def scenario(ttl: java.time.Duration, tag: String,
                 sleepMs: Long): Set[(Long, Long, Long, Long)] = {
      val srcDir = graft.Tables.scratchDir(s"graft_ttl_${tag}_src").toString
      val ck = graft.Tables.scratchDir(s"graft_ttl_${tag}_ck").toString
      val outDir = graft.Tables.scratchDir(s"graft_ttl_${tag}_out").toString + "/out"
      def run(): Unit = {
        val counted = spark.readStream.schema(schema).parquet(srcDir)
          .as[(Long, Long)].groupByKey(_._1)
          .transformWithState(new StreamingIngest.TtlCacheProcessor(ttl),
            org.apache.spark.sql.streaming.TimeMode.ProcessingTime(),
            org.apache.spark.sql.streaming.OutputMode.Append())
          .toDF("user_id", "n", "hist_len")
        @annotation.nowarn("cat=deprecation") // Once is the only bounded
        // trigger under ProcessingTime time-mode (see scenario comment);
        // foreachBatch→parquet because the memory sink refuses
        // checkpoint recovery, and run 2 must resume run 1's checkpoint
        val q = counted.writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            b.withColumn("batch_id", lit(id))
              .write.mode("append").parquet(outDir)
            ()
          }
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
        try q.awaitTermination() finally { if (q.isActive) q.stop() }
      }
      Seq((1L, 0L), (1L, 0L)).toDF("user_id", "v")
        .repartition(1).write.mode("append").parquet(srcDir)
      run()
      Thread.sleep(sleepMs)
      Seq((1L, 0L)).toDF("user_id", "v")
        .repartition(1).write.mode("append").parquet(srcDir)
      run()
      spark.read.parquet(outDir).as[(Long, Long, Long, Long)].collect().toSet
    }
    try {
      // 1-s TTL + 2.5-s idle: run 2 reads EXPIRED state — the count
      // restarts AND the run-1 history entry stops counting (ListState
      // TTL expires per appended entry), so both runs see history len 1
      assert(scenario(java.time.Duration.ofSeconds(1), "short", 2500L) ==
        Set((1L, 2L, 1L, 0L), (1L, 1L, 1L, 1L)))
      // 1-h TTL control on the same shape: value continues (2→3) and the
      // history keeps both batches' entries
      assert(scenario(java.time.Duration.ofHours(1), "long", 0L) ==
        Set((1L, 2L, 1L, 0L), (1L, 3L, 2L, 1L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Batch replica of the t17 semantics, shared by the fixture-equality
    * and arrival-shuffle tests: per-user gaps-and-islands over floored
    * epoch seconds splitting on gap OR round-window change; emitted =
    * every session whose close deadline — `max(windowEnd, end + gap)`
    * (idle AND window elapsed) — STRICTLY precedes the final watermark
    * (exact ms; the armed timer carries `deadline·1000 + 1`). One
    * uniform rule, no per-arrival case: timers are the only close path. */
  private def t17BatchReplica(ev: Seq[(Long, Long, String)], maxMs: Long,
      gap: Long = 1800L, round: Long = 3600L): Set[(Long, Long, Long, Long, Long)] =
    ev.groupBy(_._1).toSeq.flatMap { case (u, es0) =>
      val es = es0.sortBy(e => (e._2, e._3))
      val chunks = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.ArrayBuffer.empty[(Long, Long, String)])
      es.foreach { e =>
        if (chunks.last.nonEmpty && (e._2 - chunks.last.last._2 > gap ||
            e._2 / round != chunks.last.last._2 / round))
          chunks += scala.collection.mutable.ArrayBuffer.empty
        chunks.last += e
      }
      chunks.map(c => (u, c.map(_._2).min, c.map(_._2).max,
          c.size.toLong, c.map(_._3).distinct.size.toLong))
        .filter(s =>
          math.max((s._3 / round + 1) * round, s._3 + gap) * 1000 < maxMs - 600000L)
    }.toSet

  test("t17: the declared idle-close stream equals batch sessionization + the flush rule") {
    val stream = StreamingIngest.idleCloseSessions(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    val ev = Tables.events(spark, sf).select(col("user_id"),
        graft.functions.Times.epochSeconds(col("ts")).as("es"),
        coalesce(col("event_type"), lit("no_category")).as("cat"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val maxMs = Tables.events(spark, sf)
      .agg(max(unix_millis(col("ts")))).head().getLong(0)
    val batch = t17BatchReplica(ev, maxMs)
    assert(stream == batch, "timer-driven streaming sessions must equal the batch form")
    assert(stream.nonEmpty && batch.exists(_._4 > 1),
      "the fixture must exercise multi-event sessions")
  }

  test("T17 property: ANY watermark-admissible arrival order emits the same session set") {
    def t(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // The class of bug hand-built fixtures can't enumerate: out-of-order
    // arrivals inside the watermark exercising the merge/re-arm path in
    // arbitrary interleavings. Jittered-sort shuffles (sort by
    // `ts + jitter`, jitter < 500 s) keep every event admissible: any
    // event fed after another is at most 500 s older — inside the 600-s
    // delay — so nothing is dropped as late. That is the ONLY
    // precondition the pure-timer design needs: an event that could
    // merge into a session satisfies `es·1000 < deadline` (it is inside
    // the session's window and within gap of its last event, and the
    // armed timer carries `deadline·1000 + 1`), so by the time the
    // monotone watermark passes the deadline and fires the close, such
    // an event would already be late — an admissible order can never
    // reopen a fired session. In particular inversions may cross gap
    // AND round-window session boundaries freely (epochs are uniform
    // over three windows, no edge bands), which the previous
    // arrival-emitting design could not survive.
    var sawWindowCrossingInversion = false
    (1 to 3).foreach { seed =>
      val rnd = new scala.util.Random(9100L + seed)
      val events = (0 until 4).flatMap { u =>
        // 14 uniform epochs + 6 within ±250 s of a window edge: edge-
        // hugging pairs are the ones a 500-s jitter can invert ACROSS
        // the boundary, which uniform draws almost never produce
        val epochs = (0 until 14).map(_ => rnd.nextInt(3 * 3600).toLong) ++
          Seq(3600L, 7200L).flatMap(e =>
            (0 until 3).map(_ => e - 250L + rnd.nextInt(500)))
        epochs.map(es => (u.toLong, es, Seq("a", "b", "c")(rnd.nextInt(3))))
      }
      // precomputed keys: sortBy would re-invoke an inline rnd per
      // comparison, voiding both determinism and the 500-s bound
      val shuffled = events.map(e => (e, e._2 + rnd.nextInt(500)))
        .sortBy(_._2).map(_._1)
      assert(shuffled.map(_._2) != shuffled.map(_._2).sorted,
        s"seed $seed produced no inversions — jitter too weak")
      // the window rule must be load-bearing in this fixture: some user
      // has adjacent-window events within the idle gap, so their session
      // split can only come from the round-window boundary
      assert(events.groupBy(_._1).values.exists { es =>
        val s = es.map(_._2).sorted
        s.zip(s.tail).exists(p => p._2 - p._1 <= 1800L &&
          p._1 / 3600 != p._2 / 3600)
      }, s"seed $seed exercises no window-boundary split")
      // does the shuffle invert a SAME-USER pair across a window
      // boundary? — the case the old band-hack generator had to exclude
      // because arrival-path emission could not survive it; asserted
      // across the seeds after the loop (not every seed draws one)
      sawWindowCrossingInversion ||= shuffled.combinations(2).exists {
        case Seq(a, b) =>
          a._1 == b._1 && a._2 > b._2 && a._2 / 3600 != b._2 / 3600
        case _ => false
      }
      val expected = t17BatchReplica(events, events.map(_._2).max * 1000L)
      withT17Stream(s"t17p${seed}_tws_sink") { (feed, rowsF) =>
        shuffled.grouped(10).foreach(b =>
          feed(b.map { case (u, es, c) => (u, t(es), c) }))
        assert(rowsF() == expected,
          s"shuffled arrival order (seed $seed) changed the emitted session set")
      }
    }
    assert(sawWindowCrossingInversion,
      "no seed produced a same-user window-crossing inversion — the " +
        "property no longer exercises the case the band-hack excluded")
  }

  test("t18 deleteBatch: replay clobbers itself, a crashed swap restores, emptied partitions drop") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val root = Tables.scratchDir("graft_t18_spec")
    val corpus = root.resolve("corpus").toString
    Seq((1L, "keep1", "A"), (2L, "dead1", "A"), (3L, "keep2", "B"),
        (4L, "dead2", "C"), (5L, "dead3", "C"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").partitionBy("source").parquet(corpus)
    val fs = new Path(corpus).getFileSystem(spark.sessionState.newHadoopConf())
    def state(): Set[(Long, String)] = spark.read.parquet(corpus)
      .select(col("doc_id"), col("source")).as[(Long, String)].collect().toSet
    val tombs = Seq((2L, "A"), (4L, "C"), (5L, "C")).toDF("doc_id", "source")
    StreamingIngest.deleteBatch(tombs, "run-0", corpus)
    val expected = Set((1L, "A"), (3L, "B"))
    assert(state() == expected)
    // the fully-emptied partition's dir is gone, the untouched one intact
    assert(!fs.exists(new Path(corpus, "source=C")))
    assert(fs.exists(new Path(corpus, "source=B")))
    // replay (foreachBatch's at-least-once): same tag, same keys, over the
    // already-swapped corpus — must converge to the identical state
    StreamingIngest.deleteBatch(tombs, "run-0", corpus)
    assert(state() == expected)
    // crash simulation: a death between retire and publish leaves the
    // partition's only copy in the trash dir and nothing live — the next
    // batch must restore it BEFORE touching the tree
    val trash = new Path(new Path(corpus).getParent, ".corpus_delprop_trash")
    fs.mkdirs(trash)
    require(fs.rename(new Path(corpus, "source=B"), new Path(trash, "source=B")))
    // an abandoned staging tree from a crashed run whose runId will never
    // recur (wiped checkpoint) — the next successful batch must sweep it
    val stagingRoot = new Path(new Path(corpus).getParent, ".corpus_delprop_staging")
    fs.mkdirs(new Path(stagingRoot, "batch=dead-run-7"))
    // poison the relation cache while B sits in trash (a monitoring read
    // cached between restart and first batch): the cache manager will
    // substitute this stale relation into any later plan over the same
    // path, so the restore must refreshByPath BEFORE the survivor read, or
    // the batch below — whose dirty set includes B — would stage zero
    // B-survivors and publish an empty B
    val monitor = spark.read.parquet(corpus).cache()
    try {
      monitor.count()
      StreamingIngest.deleteBatch(
        Seq((1L, "A"), (99L, "B")).toDF("doc_id", "source"), "run-1", corpus)
      // B restored from the stranded trash AND its survivor kept despite
      // the stale cached relation; A's last row deleted → A dropped
      assert(state() == Set((3L, "B")))
      assert(!fs.exists(new Path(corpus, "source=A")))
      assert(!fs.exists(stagingRoot), "abandoned staging trees must be swept")
    } finally { monitor.unpersist(); () }
  }

  test("t19 retractViewBatch: fold+publish+swap per batch; replay converges; a partial snapshot is rebuilt") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val root = Tables.scratchDir("graft_t19_spec")
    val corpus = root.resolve("corpus").toString
    val view = root.resolve("view").toString
    // MaintenanceSpec's fixture shape: A carrier-death, B carrier-survival,
    // C bucket-death, D on its own day
    Seq((1L, "a", 10L, 1L, 19700101L), (2L, "a", 20L, 2L, 19700101L),
        (3L, "a", 290L, 3L, 19700101L),
        (4L, "a", 310L, 5L, 19700101L), (5L, "a", 350L, 6L, 19700101L),
        (6L, "b", 100L, 7L, 19700101L), (7L, "b", 150L, 8L, 19700101L),
        (8L, "b", 172830L, 9L, 19700103L))
      .toDF("event_id", "category", "es", "v_micro", "logday")
      .write.mode("overwrite").partitionBy("logday").parquet(corpus)
    StreamingIngest.initRetractView(spark, corpus, view)
    val fs = new Path(view).getFileSystem(spark.sessionState.newHadoopConf())
    def viewMap(): Map[(String, Long), (Long, Long, Long)] =
      StreamingIngest.readRetractView(spark, view).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def corpusIds(): Set[Long] = spark.read.parquet(corpus)
      .select(col("event_id")).as[Long].collect().toSet
    // batch 1: A's carrier dies, B's non-carrier dies
    def fileIdents(day: String): Set[(String, Long, Long)] =
      fs.listStatus(new Path(corpus, day)).map(s =>
        (s.getPath.toString, s.getLen, s.getModificationTime)).toSet
    val cleanDayBefore = fileIdents("logday=19700103")
    val b1 = Seq((3L, 19700101L), (4L, 19700101L)).toDF("event_id", "logday")
    val afterB1 = Map(
      ("a", 0L) -> ((2L, 20L, 3L)), ("a", 300L) -> ((1L, 350L, 6L)),
      ("b", 0L) -> ((2L, 150L, 15L)), ("b", 172800L) -> ((1L, 172830L, 9L)))
    // crash after the pointer move, before the corpus delete: the crashed
    // attempt deletes from a private copy of the corpus, so the real one
    // still holds the batch's rows. The replay must SKIP the fold — a
    // re-fold against the pre-delete corpus would retract the batch from
    // the view a second time — and then run the delete
    val preDelete = root.resolve("corpus_pre_delete").toString
    spark.read.parquet(corpus).write.partitionBy("logday").parquet(preDelete)
    StreamingIngest.retractViewBatch(b1, "r-0", preDelete, view)
    assert(viewMap() == afterB1)
    assert(corpusIds() == (1L to 8L).toSet)
    StreamingIngest.retractViewBatch(b1, "r-0", corpus, view)
    assert(viewMap() == afterB1)
    assert(corpusIds() == Set(1L, 2L, 5L, 6L, 7L, 8L))
    // the clean day's partition kept its exact files (path+len+mtime):
    // the swap rewrote only the keyed day
    assert(fileIdents("logday=19700103") == cleanDayBefore)
    // batch 2: bucket C dies entirely
    val b2 = Seq((6L, 19700101L), (7L, 19700101L)).toDF("event_id", "logday")
    StreamingIngest.retractViewBatch(b2, "r-1", corpus, view)
    val afterB2 = Map(
      ("a", 0L) -> ((2L, 20L, 3L)), ("a", 300L) -> ((1L, 350L, 6L)),
      ("b", 172800L) -> ((1L, 172830L, 9L)))
    assert(viewMap() == afterB2)
    assert(corpusIds() == Set(1L, 2L, 5L, 8L))
    // replay of batch 2 (at-least-once) after its corpus delete: the live
    // manifest already holds the batch's tag, so the fold is skipped (a
    // re-fold would find none of the batch's rows left to retract and
    // publish the same view again), and the re-delete is a no-op
    StreamingIngest.retractViewBatch(b2, "r-1", corpus, view)
    assert(viewMap() == afterB2)
    assert(corpusIds() == Set(1L, 2L, 5L, 8L))
    // crash before the pointer move: the crashed attempt of batch 3 wrote
    // its store dir and manifest, and never reached the corpus delete.
    // The drill runs the batch against a private copy of the corpus, so
    // the real corpus keeps the pre-delete state that crash leaves
    val b3 = Seq((8L, 19700103L)).toDF("event_id", "logday")
    val crashedCorpus = root.resolve("corpus_crashed").toString
    spark.read.parquet(corpus).write.partitionBy("logday").parquet(crashedCorpus)
    crashBeforePointerMove(view)(
      StreamingIngest.retractViewBatch(b3, "r-2", crashedCorpus, view))
    assert(viewMap() == afterB2, "a crashed publish is visible")
    assert(corpusIds() == Set(1L, 2L, 5L, 8L))
    // the replay folds against the prior view again and converges to the
    // crash-free result; with no GC grace, its publish drops every store
    // dir that neither it nor its predecessor references
    withSysProp("graft.versioned.gcGraceMs", "0") {
      StreamingIngest.retractViewBatch(b3, "r-2", corpus, view)
    }
    assert(viewMap() == Map(
      ("a", 0L) -> ((2L, 20L, 3L)), ("a", 300L) -> ((1L, 350L, 6L))))
    assert(corpusIds() == Set(1L, 2L, 5L))
    // D's day partition dropped with its last row
    assert(!fs.exists(new Path(corpus, "logday=19700103")))
    val stored = fs.listStatus(new Path(view, "store")).map(_.getPath.getName).toSet
    assert(stored == Set("r-1-g3", "r-2-g4"), s"view store not GC'd to the live set: $stored")
  }

  test("t21 bm25StatsBatch: fold per batch; replay skips the fold; a partial snapshot is rebuilt") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    import graft.operators.Search
    val root = Tables.scratchDir("graft_t21_spec")
    val statsDir = root.resolve("stats").toString
    val corpus = Seq(
      (1L, "spark join window"), (2L, "spark spark filter"),
      (3L, "window scan"), (4L, "join join join window"))
      .toDF("doc_id", "text")
    StreamingIngest.initBm25Stats(spark, corpus, statsDir)
    val fs = new Path(statsDir).getFileSystem(spark.sessionState.newHadoopConf())
    def dfMap(): Map[String, Long] = {
      val (d, _) = StreamingIngest.readBm25Stats(spark, statsDir)
      d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def scRow(): (Long, Long) = {
      val (_, s) = StreamingIngest.readBm25Stats(spark, statsDir)
      val r = s.head(); (r.getLong(0), r.getLong(1))
    }
    assert(dfMap() == Map("spark" -> 2L, "join" -> 2L, "window" -> 3L,
      "filter" -> 1L, "scan" -> 1L))
    assert(scRow() == ((4L, 12L)))
    // batch 1: insert doc 5, delete doc 2 ("filter" must leave the vocab;
    // "spark"'s df must NOT change — lost from 2, gained by 5)
    val b1 = Seq((5L, "I", "spark rerank"), (2L, "D", null))
      .toDF("doc_id", "op", "text")
    StreamingIngest.bm25StatsBatch(b1, "r-0", corpus, statsDir)
    val afterB1 = Map("spark" -> 2L, "join" -> 2L, "window" -> 3L,
      "scan" -> 1L, "rerank" -> 1L)
    assert(dfMap() == afterB1)
    assert(scRow() == ((4L, 11L))) // 12 − 3 (doc 2) + 2 (doc 5)
    // replay (at-least-once): the gate must SKIP the fold — a re-run
    // would fold the batch into its own output and double-count
    StreamingIngest.bm25StatsBatch(b1, "r-0", corpus, statsDir)
    assert(dfMap() == afterB1)
    assert(scRow() == ((4L, 11L)))
    // crash before the pointer move: the crashed attempt's df and scalars
    // layers and manifest are unreachable, and its replay folds against
    // the prior snapshot again and converges
    val b2 = Seq((1L, "D", null), (4L, "D", null)).toDF("doc_id", "op", "text")
    crashBeforePointerMove(statsDir)(
      StreamingIngest.bm25StatsBatch(b2, "r-1", corpus, statsDir))
    assert(dfMap() == afterB1, "a crashed publish is visible")
    assert(scRow() == ((4L, 11L)))
    StreamingIngest.bm25StatsBatch(b2, "r-1", corpus, statsDir)
    assert(dfMap() == Map("spark" -> 1L, "window" -> 1L, "scan" -> 1L,
      "rerank" -> 1L)) // "join" df hit zero and left the vocabulary
    assert(scRow() == ((2L, 4L)))
    // a crashed attempt of a batch that never replays (its run's
    // checkpoint was wiped) leaves orphan store dirs; with no GC grace the
    // next publish drops them, with every dir neither it nor its
    // predecessor references
    def stored(): Set[String] = fs.listStatus(new Path(statsDir, "store"))
      .map(_.getPath.getName).toSet
    val b3 = Seq((6L, "I", "scan filter")).toDF("doc_id", "op", "text")
    crashBeforePointerMove(statsDir)(
      StreamingIngest.bm25StatsBatch(b3, "dead-0", corpus, statsDir))
    assert(stored().contains("df.dead-0-g4"))
    withSysProp("graft.versioned.gcGraceMs", "0") {
      StreamingIngest.bm25StatsBatch(b3, "r-2", corpus, statsDir)
    }
    assert(stored() == Set("df.r-1-g3", "scalars.r-1-g3", "df.r-2-g4",
      "scalars.r-2-g4"), s"stats store not GC'd to the live set: ${stored()}")
    // the folded artifacts equal the monolithic rebuild over the final
    // corpus — the t21 convergence statement, here as a unit check
    val finalCorpus = Seq((3L, "window scan"), (5L, "spark rerank"),
      (6L, "scan filter")).toDF("doc_id", "text")
    assert(dfMap() == Search.bm25TermDfOf(finalCorpus).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    assert(scRow() == ((3L, 6L)))
  }

  test("bm25 term-df publishes size their write: several files ≡ the one-file default") {
    import spark.implicits._
    val root = Tables.scratchDir("graft_bm25sized")
    val corpus = Seq(
      (1L, "spark join window"), (2L, "spark spark filter"),
      (3L, "window scan"), (4L, "join join join window"))
      .toDF("doc_id", "text")
    val ops = Seq((5L, "I", "spark rerank"), (2L, "D", null))
      .toDF("doc_id", "op", "text")
    def stats(dir: String): (Map[String, Long], (Long, Long)) = {
      val (d, s) = StreamingIngest.readBm25Stats(spark, dir)
      val r = s.head()
      (d.collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
        (r.getLong(0), r.getLong(1)))
    }
    // parquet files of the live term-df layer
    def dfFiles(dir: String): Int = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      graft.operators.VersionedLayers.layerPaths(spark, dir)
        .filter(_.getName.startsWith("df."))
        .map(p => fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet")))
        .sum
    }
    def initAndFold(dir: String): Unit = {
      StreamingIngest.initBm25Stats(spark, corpus, dir)
      StreamingIngest.bm25StatsBatch(ops, "r-0", corpus, dir)
    }
    val single = root.resolve("single").toString
    initAndFold(single)
    // AQE sizes the REBALANCE before the write: a 1-byte advisory and
    // minimum partition size keep every shuffle partition its own file
    val sized = root.resolve("sized").toString
    val confs = Seq("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val prior = confs.map(k => k -> spark.conf.getOption(k))
    confs.foreach(spark.conf.set(_, "1b"))
    try initAndFold(sized)
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(dfFiles(single) == 1, "a small vocabulary did not land as one file")
    assert(dfFiles(sized) > 1, "the small partition size did not widen the write")
    assert(stats(sized) == stats(single),
      "the multi-file term-df diverged from the one-file publish")
    // a fold whose base is the multi-file publish
    val ops2 = Seq((1L, "D", null)).toDF("doc_id", "op", "text")
    StreamingIngest.bm25StatsBatch(ops2, "r-1", corpus, single)
    StreamingIngest.bm25StatsBatch(ops2, "r-1", corpus, sized)
    assert(stats(sized) == stats(single),
      "a fold over the multi-file base diverged from the one-file lineage")
  }

  test("t20 streaming index delete equals the one-shot dirty-cell rewrite") {
    import graft.operators.Similarity
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // two micro-batch swaps must converge to x80's one-shot rewrite —
    // which is itself spec-pinned equal to the survivor rebuild
    assert(rows(StreamingIngest.streamIndexDelete(spark, sf)) ==
      rows(Similarity.ivfDeleteTopK(spark, sf)),
      "streaming index maintenance diverged from the one-shot rewrite")
  }

  test("t19 streaming view equals the one-shot retraction over the same tombstones") {
    import graft.operators.Maintenance
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val src = Maintenance.landedEvents(spark, sf)
    val (mn, d) = Maintenance.historyBounds(src)
    val oneShot = Maintenance.aggRetractMergeOn(spark, src,
      spark.read.parquet(Maintenance.storedAggDir(spark, sf)),
      Maintenance.t19Tombstones(mn, d))
    assert(m(StreamingIngest.streamRetractView(spark, sf)) == m(oneShot))
  }

  test("t22 streaming index upsert equals the one-shot pass; a crash between append " +
      "and delete replays to convergence") {
    import graft.operators.Similarity
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val oneShot = rows(Similarity.ivfPqUpsertTopK(spark, sf))
    // N micro-batch upserts (each an I+D mix, with genuine same-batch
    // cancels and cross-layer deletes) converge to x84's one-shot pass
    assert(rows(StreamingIngest.streamIndexUpsert(spark, sf)) == oneShot,
      "streaming index upsert diverged from the one-shot pass")
    // crash drill: the batch's append lands, death BEFORE the delete; the
    // replay re-runs BOTH legs — the append overwrites its own tag layer,
    // the delete then applies once — and converges to the same state
    val idx = Tables.scratchDir("graft_t22_crash").toString + "/idx"
    val vecs = Tables.embeddings(spark, sf)
    Similarity.ivfPqAppend(spark, sf,
      vecs.where(pmod(col("vec_id"), lit(2L)) === 0L), idx, "base")
    val tombs = vecs.where(Similarity.x80Tombstone).select(col("vec_id"))
    val ins = vecs.where(pmod(col("vec_id"), lit(2L)) === 1L)
      .join(broadcast(tombs), Seq("vec_id"), "leftanti")
    Similarity.ivfPqAppend(spark, sf, ins, idx, "b0") // attempt 1: crash after append
    Similarity.ivfPqAppend(spark, sf, ins, idx, "b0") // replay: both legs
    Similarity.ivfPqLayerDeleteKeys(spark, idx, tombs)
    assert(rows(Similarity.ivfPqProbe(spark, sf,
      graft.operators.VersionedLayers.readAny(spark, idx),
      queryId = 0L, k = 10, nprobe = 4)) == oneShot,
      "crash-replay of an upsert batch diverged")
  }

  test("t23 streaming dedup-index upsert equals its per-batch batch restatement; a crash " +
      "between delete and append replays to convergence") {
    import graft.operators.Dedup
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def state(idx: String) = rows(graft.operators.VersionedLayers.readAny(spark, idx)
      .select(col("doc_id"), col("fp")).orderBy(col("doc_id")))
    // the fold is ORDER-SENSITIVE (admission probes the state as-of
    // arrival), so the streamed result is pinned against a manual replica
    // of the same two arrival batches — NOT the one-shot x87 pass (the
    // divergence itself is pinned in DedupSimilaritySpec). This is the
    // JVM twin of what t23's oracle restates in SQL.
    val docs = Tables.documents(spark, sf)
    val half = Dedup.idxArrival
    def fold(idx: String, arrivals: Seq[org.apache.spark.sql.Column]): Unit = {
      Dedup.dedupAgainstIndex(spark, docs.where(Dedup.idxBucket <= 5), idx, "prior")
      Dedup.dedupAgainstIndex(spark,
        docs.where(Dedup.idxBucket === 6 || Dedup.idxBucket === 7), idx, "mid")
      arrivals.zipWithIndex.foreach { case (arr, i) =>
        Dedup.dedupIndexUpsertKeys(spark, idx,
          docs.where(Dedup.idxBucket >= 8 && arr).select(col("doc_id"), col("text")),
          docs.where(Dedup.idxDoomed && arr).select(col("doc_id")), s"b$i")
      }
    }
    val manual = Tables.scratchDir("graft_t23_manual").toString + "/idx"
    fold(manual, Seq(half === 0, half === 1))
    assert(rows(StreamingIngest.streamDedupIndexUpsert(spark, sf)) == state(manual),
      "streamed dedup-index upsert diverged from its per-batch restatement")
    // crash drill: batch A's delete leg lands, death BEFORE the append;
    // the replay re-runs BOTH legs (delete finds its keys absent, the
    // append overwrites its own tag) and the stream converges
    val crash = Tables.scratchDir("graft_t23_crash").toString + "/idx"
    Dedup.dedupAgainstIndex(spark, docs.where(Dedup.idxBucket <= 5), crash, "prior")
    Dedup.dedupAgainstIndex(spark,
      docs.where(Dedup.idxBucket === 6 || Dedup.idxBucket === 7), crash, "mid")
    Dedup.dedupIndexDeleteKeys(spark, crash,
      docs.where(Dedup.idxDoomed && half === 0).select(col("doc_id"))) // attempt 1 dies here
    Seq(half === 0, half === 1).zipWithIndex.foreach { case (arr, i) =>
      Dedup.dedupIndexUpsertKeys(spark, crash,
        docs.where(Dedup.idxBucket >= 8 && arr).select(col("doc_id"), col("text")),
        docs.where(Dedup.idxDoomed && arr).select(col("doc_id")), s"b$i")
    }
    assert(state(crash) == state(manual),
      "crash-replay of a dedup-index upsert batch diverged")
  }

  test("t24 streaming near-dup index upsert equals its per-batch restatement; a crashed " +
      "batch replays both legs (and the full batch) to convergence") {
    import graft.operators.Dedup
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = Tables.documents(spark, sf)
    val half = Dedup.idxArrival
    // manual JVM replica of the two-batch fold — the twin of what t24's
    // oracle restates in SQL. `replayA` additionally replays batch A in
    // full after it completed (crash before the checkpoint commit): the
    // delete finds its keys absent, the insert leg's probe EXCLUDES its
    // own tag (so its own prior layer cannot suppress its rows) and its
    // four writes overwrite themselves.
    def fold(tag: String, replayA: Boolean): String = {
      val root = Tables.scratchDir(s"graft_t24_$tag").toString
      val idx = root + "/idx"
      val out = root + "/out"
      StreamingIngest.nearDedupIndexBatch(
        docs.where(Dedup.idxBucket <= 7).select(col("doc_id"), col("text")),
        "prior", idx, out)
      Seq(half === 0, half === 1).zipWithIndex.foreach { case (arr, i) =>
        val keys = docs.where(Dedup.idxDoomed && arr).select(col("doc_id"))
        val ins = docs.where(Dedup.idxBucket >= 8 && arr)
          .select(col("doc_id"), col("text"))
          .join(broadcast(keys.distinct()), Seq("doc_id"), "leftanti")
        def leg(): Unit = {
          Dedup.nearDedupIndexDeleteKeys(spark, idx, keys)
          StreamingIngest.nearDedupIndexBatch(ins, s"b$i", idx, out)
        }
        leg()
        if (replayA && i == 0) leg() // full-batch replay
      }
      idx
    }
    def state(idx: String) = rows(graft.operators.VersionedLayers.readAny(spark, s"$idx/fp")
      .select(col("doc_id"), col("fp")).orderBy(col("doc_id")))
    val manual = state(fold("manual", replayA = false))
    assert(rows(StreamingIngest.streamNearDedupIndexUpsert(spark, sf)) == manual,
      "streamed near-dup index upsert diverged from its per-batch restatement")
    assert(state(fold("replay", replayA = true)) == manual,
      "full-batch replay of a near-dup upsert diverged")
  }

  test("t25 streaming span-index upsert equals the ONE-SHOT pass — the order-insensitive " +
      "contrast to t23/t24") {
    import graft.operators.TextAnalysis
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // span rows are a pure per-doc function and landing never probes the
    // index, so N micro-batches ≡ the one-shot upsert — the row-level
    // JVM twin of t25 carrying x91's oracle verbatim
    assert(rows(StreamingIngest.streamSpanIndexUpsert(spark, sf)) ==
      rows(TextAnalysis.spanIndexUpsertProbe(spark, sf)),
      "streamed span-index upsert diverged from the one-shot pass")
  }

  test("x97 span-index epoch compaction is probe-invariant: the post-fold next-epoch " +
      "probe equals an UNCOMPACTED twin's, and equals x91's one-shot upsert " +
      "(VERDICT r15 #2)") {
    import graft.operators.{Dedup, TextAnalysis}
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // the uncompacted twin: identical epoch history (stored ≤5, e1 {6,7},
    // deletes, then the ≥8 novel batch) with NO fold between epochs — the
    // probe maps every non-novel tag to prior, which is what the fold
    // makes literal
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), Dedup.idxBucket.as("b"))
    val idx = Tables.scratchDir("graft_x97_twin").toString + "/idx"
    TextAnalysis.spanIndexAppend(spark,
      docs.where(col("b") <= 5).select(col("doc_id"), col("text")), idx, "stored")
    TextAnalysis.spanIndexAppend(spark,
      docs.where(col("b") === 6 || col("b") === 7)
        .select(col("doc_id"), col("text")), idx, "e1")
    val keys = docs.where(Dedup.idxDoomed).select(col("doc_id"))
    Dedup.dedupIndexDeleteKeys(spark, idx, keys)
    val grown = TextAnalysis.spanIndexAppend(spark,
      docs.where(col("b") >= 8).select(col("doc_id"), col("text"))
        .join(broadcast(keys.distinct()), Seq("doc_id"), "leftanti"),
      idx, "novel")
    val twin = rows(TextAnalysis.spanHitProbe(grown.withColumn("batch",
      when(col("batch") === "novel", "novel").otherwise("prior"))))
    val folded = rows(TextAnalysis.spanEpochProbe(spark, sf))
    assert(folded == twin,
      "the epoch fold changed the next epoch's probe")
    // and both equal x91's one-shot upsert — the oracle x97 carries
    assert(folded == rows(TextAnalysis.spanIndexUpsertProbe(spark, sf)),
      "the epoch-compacted probe diverged from x91's one-shot pass")
  }

  test("t27 streaming semantic-index upsert equals its per-batch JVM replica; " +
      "t28 streaming Bloom fold equals the one-shot index AND the monolithic pass") {
    import graft.operators.{Dedup, Similarity}
    // --- t27: manual replica — the same delete-first fold invoked once
    // per vec_id-hash arrival half (the twin of the per-batch SQL chain)
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val hash = graft.functions.TextFns.polyHash(col("vec_id").cast("string"))
    val bucket = pmod(hash, lit(10L))
    val doomed = pmod(hash, lit(7L)) === 3L
    val half = pmod((hash / lit(10.0)).cast("long"), lit(2L))
    val cents = Similarity.ivfCentroids(spark, sf)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    val root = Tables.scratchDir("graft_t27_manual").toString
    StreamingIngest.semanticDedupBatch(vecs.where(bucket <= 7), "prior",
      cents, s"$root/idx", s"$root/out", 0.4)
    Seq(0, 1).foreach { h =>
      val keys = vecs.where(doomed && half === h).select(col("vec_id"))
      Dedup.dedupIndexDeleteKeys(spark, s"$root/idx", keys, keyCol = "vec_id")
      StreamingIngest.semanticDedupBatch(
        vecs.where(bucket >= 8 && half === h)
          .join(broadcast(keys.distinct()), Seq("vec_id"), "leftanti"),
        s"b$h", cents, s"$root/idx", s"$root/out", 0.4)
    }
    val manual = graft.operators.VersionedLayers.readAny(spark, s"$root/idx")
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .orderBy(col("vec_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val streamed = StreamingIngest.streamSemanticIndexUpsert(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed == manual,
      "streamed semantic-index upsert diverged from its per-batch replica")
    // --- t28: union is order- and split-free, so the STREAMED layer fold
    // must reach the one-shot x93 decision, itself ≡ the monolithic x17b
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val t28 = rows(StreamingIngest.streamBloomDecontam(spark, sf))
    assert(t28 == rows(Dedup.bloomIndexDecontam(spark, sf)),
      "streamed Bloom fold diverged from the one-shot index")
    assert(t28 == rows(Dedup.contaminationBloom(spark, sf)),
      "streamed Bloom fold diverged from the monolithic pass")
  }

  test("t26 streaming multi-artifact orchestrator equals its per-batch JVM replica " +
      "across every artifact") {
    import graft.operators.{Dedup, Maintenance}
    // manual replica: the same orchestrator invoked once per arrival half
    // — the streamed form must reach exactly this state (the oracle
    // restates the same fold in SQL; this replica removes the remaining
    // shared-engine doubt). The orchestrator-level replay drill lives in
    // the x94 spec; t24's drills cover the in-loop crash windows of the
    // shared legs.
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
    val dirs = Maintenance.MultiArtifactDirs(
      Tables.scratchDir("graft_t26_manual").toString)
    Maintenance.multiArtifactInit(spark, sf, dirs,
      docs.where(Dedup.idxBucket <= 7))
    Seq(0, 1).foreach { h =>
      val arr = Dedup.idxArrival === h
      Maintenance.multiArtifactUpsert(spark, sf, dirs,
        docs.where(Dedup.idxBucket >= 8 && arr),
        docs.where(Dedup.idxDoomed && arr).select(col("doc_id")), s"b$h")
    }
    val manual = Maintenance.multiArtifactProbe(spark, sf, dirs)
      .collect().map(_.toString).toSeq
    val streamed = StreamingIngest.streamMultiArtifactUpsert(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed == manual,
      "streamed multi-artifact orchestrator diverged from its per-batch replica")
  }
}
