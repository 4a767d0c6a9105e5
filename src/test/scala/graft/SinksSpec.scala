package graft

import graft.operators.Counters
import graft.sources.{Bookkeeping, Landing}
import graft.streaming.StreamingIngest
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S5/S6/S7/S8/S9 + T9 — the side-effecting sink surface: JDBC bookkeeping
  * (embedded Derby), catalog partition registration, HTTP notification, and
  * observe-metrics, wired through the landing stream's epilogue exactly as
  * the reference fires its close-callback chain
  * (`HiveBatchedSink.scala:366-373`). */
class SinksSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    graft.Tables.scratchDir(prefix).toString

  test("S6: catalog identifiers are quoted and malformed ones rejected") {
    assert(Landing.quoteIdent("events_landed") == "`events_landed`")
    assert(Landing.quoteIdent("db1.events") == "`db1`.`events`")
    for (bad <- Seq("x; DROP TABLE y", "a-b", "", "db..t", "t`", "1abc"))
      intercept[IllegalArgumentException](Landing.quoteIdent(bad))
  }

  test("S6: partition values/locations survive Spark's lexer for every metacharacter") {
    // round-trip each hostile value through the ACTUAL parser: quotes must
    // not end the literal, and a trailing backslash must not swallow the
    // closing quote (Spark treats \ as an escape inside string literals —
    // '…\' would shift the literal boundary into the following DDL text).
    // Then again under the LEGACY escapedStringLiterals lexer, where NO
    // escape processing happens (doubling quotes or backslashes corrupts
    // the value) — quoteValue must switch to delimiter-choice/raw-literal
    // rendering, and must REFUSE the one shape that lexer cannot express
    // rather than emit shifted DDL.
    val vs = Seq("plain", "it's", "a\\'b", "\\\\'", "", "x\\nny",
      "he said \"hi\"")
    // expressible under the default lexer only: a trailing backslash (the
    // legacy token cannot terminate after one) and both quote delimiters
    // at once (no third delimiter exists without escape processing)
    val defaultOnly = Seq("trailing\\", "both'\"quotes")
    def roundTrip(lexer: String, extra: Seq[String] = Nil): Unit =
      for (v <- vs ++ extra)
        assert(spark.sql(s"SELECT ${Landing.quoteValue(v)} AS v").head().getString(0) == v,
          s"round trip broke for <$v> ($lexer lexer)")
    roundTrip("default", defaultOnly)
    val key = "spark.sql.parser.escapedStringLiterals"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      roundTrip("legacy")
      // the legacy lexer has no escapes at all — refuse LOUDLY instead of
      // emitting shifted DDL for the shapes it cannot express
      defaultOnly.foreach(v =>
        intercept[IllegalArgumentException](Landing.quoteValue(v)))
    } finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  test("S6: retention re-issues the catalog DROP for partitions stranded in trash") {
    import org.apache.hadoop.fs.Path
    val out = tmp("graft_ret_repair")
    val tbl = "graft_ret_repair_t"
    import spark.implicits._
    val df = Seq(("a", "20240101"), ("b", "20240102"))
      .toDF("payload", "logdate")
    df.write.mode("overwrite").partitionBy("logdate").parquet(out)
    try {
      Landing.createPartitionedTable(spark, tbl, df.schema, Seq("logdate"),
        out, format = "parquet")
      spark.sql(s"MSCK REPAIR TABLE $tbl")
      assert(spark.sql(s"SHOW PARTITIONS $tbl").count() == 2)
      // simulate the crash window: the FS rename retired 20240101 into
      // trash, but the process died before the catalog DROP ran — the
      // live listing can no longer re-derive that spec
      val root = new Path(out)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val trash = new Path(root.getParent, "." + root.getName + "_retention_trash")
      fs.mkdirs(trash)
      require(fs.rename(new Path(root, "logdate=20240101"),
        new Path(trash, "logdate=20240101")))
      // the next invocation (nothing else is expired) must repair the
      // catalog from the trash listing before purging it
      val dropped = Landing.dropPartitionsBefore(spark, out, "logdate",
        cutoff = "20240102", catalogTable = Some(tbl))
      assert(dropped.isEmpty, "no live partition is expired")
      assert(!fs.exists(trash))
      val left = spark.sql(s"SHOW PARTITIONS $tbl").collect().map(_.getString(0))
      assert(left.toSeq == Seq("logdate=20240102"),
        s"the stranded partition's catalog entry must be dropped; got ${left.toSeq}")
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  test("S7: JDBC round trip — detail written, read back, completeness equals in-engine") {
    val url = Bookkeeping.derbyUrl(s"${tmp("graft_derby_rt")}/bk")
    Bookkeeping.write(Counters.sinkDetail(spark, sf), url)
    val viaJdbc = Counters.completenessOf(Bookkeeping.read(spark, url), 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = Counters.completeness(spark, sf, 5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(direct.nonEmpty || viaJdbc.isEmpty) // both paths agree even when empty
    assert(viaJdbc == direct)
  }

  test("S7/T7: PreparedStatement upsert — second upsert updates, not duplicates") {
    val url = Bookkeeping.derbyUrl(s"${tmp("graft_derby_up")}/bk")
    Bookkeeping.ensureTable(url)
    val row = Bookkeeping.Detail("sink", "202401010000", "hostA", 10L, 10L, 111L, "NEW")
    Bookkeeping.upsert(url, Seq(row))
    Bookkeeping.upsert(url, Seq(row.copy(receivecount = 5L, sinkcount = 5L, updatetime = 222L)))
    // selectExpr resolves case-insensitively (Derby uppercases identifiers)
    val got = Bookkeeping.read(spark, url)
      .selectExpr("sinkcount", "updatetime").collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 15L)  // increments accumulate
    assert(got(0).getLong(1) == 222L) // latest update time wins
  }

  test("S2: upsertCommitted is transactional per batchId — a replay cannot double-count") {
    val url = Bookkeeping.derbyUrl(s"${tmp("graft_derby_txn")}/bk")
    Bookkeeping.ensureTable(url)
    val rows = Seq(Bookkeeping.Detail("sink", "202401010000", "driver", 10L, 10L, 1L, "NEW"))
    assert(Bookkeeping.upsertCommitted(url, "sink", 0L, rows))
    // at-least-once replay of the same batch: rolled back, reported stale
    assert(!Bookkeeping.upsertCommitted(url, "sink", 0L, rows))
    // a genuinely new batch still accumulates
    assert(Bookkeeping.upsertCommitted(url, "sink", 1L, rows))
    val got = Bookkeeping.read(spark, url)
      .selectExpr("sinkcount").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(20L), s"expected one row with 2 batches accumulated, got $got")
  }

  test("S2: landBatchIdempotent replay overwrites its own files, never appends dupes") {
    val out = tmp("graft_idem_land")
    val ckpt = tmp("graft_idem_ckpt")
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val batch = Tables.events(spark, sf)
      .withColumn("logdate", graft.functions.Times.logdate(col("ts")))
      .where(col("event_id") < 500) // deterministic subset, same rows every call
    StreamingIngest.landBatchIdempotent(batch, "run-a", 7L, out, ckpt, fs)
    val first = spark.read.orc(out).count()
    // crash-replay of the same batchId: deterministic names overwrite
    StreamingIngest.landBatchIdempotent(batch, "run-a", 7L, out, ckpt, fs)
    assert(spark.read.orc(out).count() == first)
    // a different batch appends alongside, not over
    StreamingIngest.landBatchIdempotent(batch, "run-a", 8L, out, ckpt, fs)
    assert(spark.read.orc(out).count() == 2 * first)
    // read back by its own names: exactly one landing of one batch of one run
    def perLogdate(df: DataFrame) = df.groupBy(col("logdate"))
      .agg(count(lit(1)), max(graft.functions.Times.epochSeconds(col("ts")))).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(perLogdate(StreamingIngest.landedBatch(spark, batch.schema, "run-a", 7L, out, fs))
      == perLogdate(batch))
    assert(StreamingIngest.landedBatch(spark, batch.schema, "run-b", 7L, out, fs).count() == 0)
  }

  /** A private sfDir whose `events.parquet` is `df` as one file (the
    * landing stream reads each sfDir through its own source dir). */
  private def eventsSf(prefix: String, df: DataFrame): String = {
    import scala.jdk.CollectionConverters._
    val staged = tmp(prefix + "_w")
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(staged)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    val dir = graft.Tables.scratchDir(prefix)
    java.nio.file.Files.copy(part, dir.resolve("events.parquet"))
    dir.toString
  }

  /** The fixture events plus the batch shapes the epilogue must count:
    * `no_category` events (null event_type) and late events, landing 40
    * days behind the rest in partitions of their own. */
  private def lateAndUncategorized: DataFrame = {
    val ev = Tables.events(spark, sf)
      .withColumn("event_type", when(col("event_id") % 10 === 3, lit(null).cast("string"))
        .otherwise(col("event_type")))
      .withColumn("ts", when(col("event_id") % 10 === 7, col("ts") - expr("INTERVAL 40 DAYS"))
        .otherwise(col("ts")))
    assert(ev.where(col("event_type").isNull).count() > 0)
    ev
  }

  /** logdate → (count, max event epoch) of an sfDir's events, by groupBy. */
  private def perLogdateTruth(sfDir: String): Map[String, (Long, Long)] =
    Tables.normalizeTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .groupBy(graft.functions.Times.logdate(col("ts")))
      .agg(count(lit(1)), max(graft.functions.Times.epochSeconds(col("ts"))))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("S9: a fresh micro-batch lands in ONE Spark job; its bookkeeping equals the groupBy truth") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val mySf = eventsSf("graft_onejob_sf", lateAndUncategorized)
    val out = tmp("graft_onejob_out")
    val url = Bookkeeping.derbyUrl(s"${tmp("graft_derby_onejob")}/bk")
    val fenceDesc = "graft spec fence"
    val batchJobs = new java.util.concurrent.atomic.AtomicInteger
    val fence = new java.util.concurrent.CountDownLatch(1)
    // streaming batch jobs carry "…\nbatch = <id>" as their description
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))) match {
          case Some(d) if d.contains("\nbatch = ") => batchJobs.incrementAndGet(); ()
          case Some(`fenceDesc`) => fence.countDown()
          case _ => ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val report =
      try {
        val r = StreamingIngest.landStream(spark, mySf, out, tmp("graft_onejob_ckpt"),
          StreamingIngest.LandingCallbacks(jdbcUrl = Some(url)))
        graft.operators.Maintenance.labeled(spark, fenceDesc)(
          spark.sparkContext.parallelize(Seq(1), 1).count())
        assert(fence.await(20, java.util.concurrent.TimeUnit.SECONDS))
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(batchJobs.get == 1, s"${batchJobs.get} jobs for one micro-batch")
    val truth = perLogdateTruth(mySf)
    val onTime = Tables.events(spark, sf)
      .agg(min(graft.functions.Times.logdate(col("ts")))).collect().head.getString(0)
    assert(truth.keySet.exists(_ < onTime), "the fixture must carry late logdates")
    assert(report.logdates.toSet == truth.keySet)
    assert(spark.read.orc(out).count() == truth.values.map(_._1).sum)
    val bk = Bookkeeping.read(spark, url)
      .select(col("logdate"), col("receivecount"), col("sinkcount"), col("updatetime"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(bk == truth.map { case (ld, (n, maxe)) => ld -> (n, n, maxe) })
  }

  test("S2: a batch whose commit marker exists lands nothing and still reports its logdates") {
    import org.apache.hadoop.fs.Path
    val mySf = eventsSf("graft_marker_sf", lateAndUncategorized)
    val out = tmp("graft_marker_out")
    val ckpt = tmp("graft_marker_ckpt")
    val marker = new Path(ckpt, "graft_commits/0")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(marker.getParent)
    fs.create(marker, true).close()
    val listener = new graft.streaming.CompletenessListener(300L)(_ => ())
    val report = StreamingIngest.landStream(spark, mySf, out, ckpt,
      StreamingIngest.LandingCallbacks(completeness = Some(listener)))
    val truth = perLogdateTruth(mySf).keySet
    assert(report.logdates.toSet == truth)
    listener.advanceWatermark(Long.MaxValue) // fires every registered logdate
    assert(listener.completed == truth)
    val landed = java.nio.file.Files.walk(java.nio.file.Paths.get(out))
    try assert(landed.filter(_.toString.endsWith(".orc")).count() == 0)
    finally landed.close()
  }

  test("S2: two landing runs sharing one out path keep both runs' rows") {
    val ev = Tables.events(spark, sf).orderBy(col("event_id"))
    val out = tmp("graft_shared_out")
    // B's events are a prefix of A's, so B's batch 0 lands in A's partitions
    val a = StreamingIngest.landStream(spark, eventsSf("graft_shared_a", ev.limit(100)),
      out, tmp("graft_shared_ckpt_a"))
    val b = StreamingIngest.landStream(spark, eventsSf("graft_shared_b", ev.limit(50)),
      out, tmp("graft_shared_ckpt_b"))
    assert(a.nEvents == 100 && b.nEvents == 50)
    assert(b.logdates.toSet.subsetOf(a.logdates.toSet))
    assert(spark.read.orc(out).count() == 150)
  }

  test("T9 epilogue: catalog partitions + JDBC bookkeeping + HTTP notify + observed metrics") {
    val out = tmp("graft_land_t9")
    val ckpt = tmp("graft_ckpt_t9")
    val url = Bookkeeping.derbyUrl(s"${tmp("graft_derby_t9")}/bk")
    val received = new java.util.concurrent.atomic.AtomicInteger
    val server = com.sun.net.httpserver.HttpServer.create(new java.net.InetSocketAddress(0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.incrementAndGet(); ex.sendResponseHeaders(200, -1); ex.close()
    })
    server.start()
    val tbl = "graft_landed_t9"
    try {
      Landing.createPartitionedTable(spark, tbl,
        StreamingIngest.enriched(spark, sf).schema, Seq("logdate"), out)
      val report = StreamingIngest.landStream(spark, sf, out, ckpt,
        StreamingIngest.LandingCallbacks(
          catalogTable = Some(tbl), jdbcUrl = Some(url),
          notifyUrl = Some(s"http://localhost:${server.getAddress.getPort}")))
      val nEvents = Tables.events(spark, sf).count()
      assert(report.nEvents == nEvents)                        // S9 observe (A1 lifetime count)
      assert(report.logdates.nonEmpty)
      val nParts = spark.sql(s"SHOW PARTITIONS $tbl").count()
      assert(nParts == report.logdates.size)                   // S6 add-partition DDL
      assert(spark.table(tbl).count() == nEvents)              // S5 catalog-resolved read
      val bk = Bookkeeping.read(spark, url)
      assert(bk.count() == report.logdates.size)               // T7 one row per (logdate, host)
      assert(bk.agg(sum(col("sinkcount"))).collect()(0).getLong(0) == nEvents)
      assert(received.get() == report.logdates.size)           // S8 one POST per partition
      // retention with the catalog leg: expired partitions leave BOTH the
      // filesystem and the metastore in one pass
      val cutoff = report.logdates.toSeq.sorted.apply(1)
      val dropped = Landing.dropPartitionsBefore(spark, out, "logdate", cutoff,
        catalogTable = Some(tbl))
      assert(dropped.size == 1)
      assert(spark.sql(s"SHOW PARTITIONS $tbl").count() == report.logdates.size - 1)
      assert(spark.table(tbl).where(col("logdate") < cutoff).count() == 0)
    } finally {
      server.stop(0)
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
    }
  }

  test("bench artifacts: a subset run can never clobber the full-run record; provenance stamps resolve") {
    // the r11 slip: a SPARK_GRAFT_ONLY profiling run overwrote the
    // certified 175-query BENCH_LOCAL.json — the artifact router makes
    // that structurally impossible
    assert(Bench.artifactFileName(subset = true) == "BENCH_SUBSET.json")
    assert(Bench.artifactFileName(subset = false) == "BENCH_LOCAL.json")
    // the r12 slip: a full run on a dirty tree (driver round artifacts
    // untracked, loaded host) landed in BENCH_LOCAL.json and was then
    // committed over the certified clean cold record — dirty full runs
    // now route to a side artifact, only clean+full touches the record
    assert(Bench.artifactFileName(subset = false, dirty = true) == "BENCH_DIRTY.json")
    assert(Bench.artifactFileName(subset = true, dirty = true) == "BENCH_SUBSET.json")
    // the git stamp must resolve inside this checkout (40-hex sha) and
    // never throw; a record is thereby pinned to the code it measured
    val (sha, _) = Bench.gitStamp()
    assert(sha == "unknown" || sha.matches("[0-9a-f]{40}"),
      s"git stamp must be a full sha or an honest unknown, got $sha")
    // the dirty flag tracks dirt that could have influenced the BUILD:
    // the bench's own record files are excluded (a re-run must not read
    // its predecessor's output as tree dirt), source modifications count
    assert(!Bench.dirtyLines(Seq(" M BENCH_LOCAL.json", "?? BENCH_SUBSET.json")))
    assert(Bench.dirtyLines(Seq(" M BENCH_LOCAL.json", " M src/main/scala/graft/Bench.scala")))
    assert(Bench.dirtyLines(Seq("?? src/main/scala/graft/New.scala")))
    assert(!Bench.dirtyLines(Nil))
    // gitStamp trims the WHOLE porcelain output before splitting lines,
    // so the first line arrives with its leading status-column space
    // eaten (` M FILE` → `M FILE`). Round 12 found this stamping a tree
    // dirty whose only dirt was the excluded record file — the exclusion
    // must hold for the trimmed shape too, for every status column width
    assert(!Bench.dirtyLines(Seq("M BENCH_LOCAL.json")))
    assert(!Bench.dirtyLines(Seq("?? BENCH_SUBSET.json".trim)))
    assert(Bench.dirtyLines(Seq("M src/main/scala/graft/Bench.scala")))
    // and the diagnostic names exactly the offending lines
    assert(Bench.dirtLines(Seq("M BENCH_LOCAL.json", " M build.sbt")) == Seq(" M build.sbt"))
  }
}
