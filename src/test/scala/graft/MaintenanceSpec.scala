package graft

import graft.operators.Maintenance
import org.apache.spark.sql.functions._

/** X77 retraction folding — the IVM-under-deletes semantics, pinned on
  * hand fixtures where every edge is constructed, plus an independent JVM
  * replica of the declared query (the DuckDB oracle is the monolithic
  * recompute; this replica removes the remaining shared-engine doubt). */
class MaintenanceSpec extends SparkSpec {

  /** Fixture: four buckets exercising every fold edge.
    *   A ("a", bucket 0, day 19700101): 3 rows, the MAX row dies → carrier
    *     death with survivors (max must be re-derived, not folded);
    *   B ("a", bucket 300, same day): 2 rows, a non-max row dies → carrier
    *     survives (folded max must be kept WITHOUT any rescan);
    *   C ("b", bucket 0, same day): every row dies → the bucket leaves the
    *     aggregate entirely;
    *   D ("b", bucket 172800, day 19700103): untouched — its DAY must not
    *     be rescanned. */
  private val rows = Seq(
    (1L, "a", 10L, 1L), (2L, "a", 20L, 2L), (3L, "a", 290L, 3L),
    (4L, "a", 310L, 5L), (5L, "a", 350L, 6L),
    (6L, "b", 100L, 7L), (7L, "b", 150L, 8L),
    (8L, "b", 172830L, 9L))
  private val doomedIds = Seq(3L, 4L, 6L, 7L)

  private def landFixture(): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val out = Tables.scratchDir("graft_retract_spec").toString
    rows.toDF("event_id", "category", "es", "v_micro")
      .withColumn("logday", Maintenance.dayOfEpoch(col("es")))
      .write.mode("overwrite").partitionBy("logday").parquet(out)
    spark.read.parquet(out)
  }

  private def foldedMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  test("x77 fold: carrier-death re-derives, carrier-survival folds, bucket-death drops") {
    val src = landFixture()
    val tomb = col("event_id").isin(doomedIds: _*)
    val result = Maintenance.aggRetractMergeOn(spark, src,
      Maintenance.partial(src), tomb)
    assert(foldedMap(result) == Map(
      ("a", 0L) -> ((2L, 20L, 3L)),      // A: max re-derived 290→20, sums folded
      ("a", 300L) -> ((1L, 350L, 6L)),   // B: stored max kept, count/sum folded
      ("b", 172800L) -> ((1L, 172830L, 9L)))) // D: untouched; C: gone
  }

  test("x77 rescan is partition-pruned to the dirty buckets' days only") {
    val src = landFixture()
    val tomb = col("event_id").isin(doomedIds: _*)
    val plan = Maintenance.aggRetractMergeOn(spark, src,
      Maintenance.partial(src), tomb)
      .queryExecution.executedPlan.toString
    val segs = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    // only bucket A is max-dirty → the re-derivation scan prunes to A's
    // day; D's clean day must appear in NO partition filter (i.e. the only
    // day-literal-carrying scan is the dirty-day one)
    assert(segs.exists(_.contains("19700101")),
      s"dirty day not pushed into the rescan's partition filters:\n$plan")
    assert(!segs.exists(_.contains("19700103")),
      s"clean day appears in a partition filter — rescan is not dirty-only:\n$plan")
  }

  test("x77 gated bucket-day restriction: literal-isin and semi-join sides fold identically") {
    val src = landFixture()
    val tomb = col("event_id").isin(doomedIds: _*)
    val base = Maintenance.partial(src)
    val viaIsin = foldedMap(Maintenance.aggRetractMergeOn(spark, src, base, tomb, gate = 1024))
    val viaSemi = foldedMap(Maintenance.aggRetractMergeOn(spark, src, base, tomb, gate = 0))
    assert(viaIsin == viaSemi)
  }

  test("keyed fold equals predicate fold; its doomed fetch prunes to the keys' days") {
    import spark.implicits._
    val src = landFixture()
    val keys = doomedIds.map(id => (id, 19700101L)).toDF("event_id", "logday")
    val viaKeys = Maintenance.aggRetractMergeKeys(spark, src,
      Maintenance.partial(src), keys, Seq(19700101L))
    assert(foldedMap(viaKeys) == foldedMap(Maintenance.aggRetractMergeOn(
      spark, src, Maintenance.partial(src), col("event_id").isin(doomedIds: _*))))
    // the doomed-row fetch must partition-prune to the keyed day; D's
    // clean day may appear in no partition filter anywhere in the plan
    val plan = viaKeys.queryExecution.executedPlan.toString
    val segs = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    assert(segs.exists(_.contains("19700101")),
      s"keyed day not pushed into the doomed fetch's partition filters:\n$plan")
    assert(!segs.exists(_.contains("19700103")),
      s"clean day appears in a partition filter — doomed fetch is not key-day-pruned:\n$plan")
  }

  test("layout-pruned history bounds equal the full-scan form (day() monotone in es)") {
    import spark.implicits._
    val out = Tables.scratchDir("graft_bounds_spec").toString
    // min es NOT the first row written; negative es exercises the
    // pre-1970 day ordering (day keys still sort with es)
    Seq((1L, "a", 172830L, 1L), (2L, "a", -50L, 2L), (3L, "b", 10L, 3L),
        (4L, "b", 90000L, 4L))
      .toDF("event_id", "category", "es", "v_micro")
      .withColumn("logday", Maintenance.dayOfEpoch(col("es")))
      .write.mode("overwrite").partitionBy("logday").parquet(out)
    val scanned = Maintenance.historyBounds(spark.read.parquet(out))
    assert(Maintenance.historyBoundsLanded(spark, out) == scanned)
    assert(Maintenance.minMaxEsLanded(spark, out) == ((-50L, 172830L)))
  }

  test("keyed fold validateKeyDays: a key with a wrong logday is caught, a correct one passes") {
    import spark.implicits._
    val src = landFixture()
    sys.props("graft.maintenance.validateKeyDays") = "true"
    try {
      // correct claims pass (same result as the unvalidated path)
      val good = doomedIds.map(id => (id, 19700101L)).toDF("event_id", "logday")
      val ok = Maintenance.aggRetractMergeKeys(spark, src,
        Maintenance.partial(src), good, Seq(19700101L))
      assert(foldedMap(ok) == foldedMap(Maintenance.aggRetractMergeOn(
        spark, src, Maintenance.partial(src), col("event_id").isin(doomedIds: _*))))
      // key 8 (D's row, day 19700103) claims day 19700101: its real day is
      // outside the claimed set, so the pruned doomed fetch misses the row
      // — without the check, count/sum would silently keep it in the view
      // while the day-pruned corpus delete misses it
      val bad = Seq((8L, 19700101L)).toDF("event_id", "logday")
      val ex = intercept[IllegalArgumentException] {
        Maintenance.aggRetractMergeKeys(spark, src,
          Maintenance.partial(src), bad, Seq(19700101L)).collect()
      }
      assert(ex.getMessage.contains("logday"))
    } finally { sys.props -= "graft.maintenance.validateKeyDays"; () }
  }

  test("x79 upsert fold: every insert×delete edge — revive, new group, repair-by-insert, rescan") {
    import spark.implicits._
    val src = landFixture()
    val tomb = col("event_id").isin(doomedIds: _*)
    // inserts: A gets es=15 (below A's stored max — carrier died, insert
    // does NOT dominate → rescan gives max(20,15)=20); B gets es=320
    // (carrier survived → pure fold, max stays 350); C was fully
    // retracted, es=120 revives it insert-only; (a,600) is a NEW group
    val inserts = Seq((101L, "a", 15L, 10L), (102L, "a", 320L, 11L),
        (103L, "b", 120L, 12L), (104L, "a", 610L, 13L))
      .toDF("event_id", "category", "es", "v_micro")
    val result = Maintenance.upsertFold(spark, Maintenance.partial(src),
      Maintenance.partial(inserts),
      src.where(tomb), src.where(!tomb), gate = 1024)
    assert(foldedMap(result) == Map(
      ("a", 0L) -> ((3L, 20L, 13L)),       // A: rescan, +insert fold
      ("a", 300L) -> ((2L, 350L, 17L)),    // B: carrier survived
      ("a", 600L) -> ((1L, 610L, 13L)),    // new group from insert
      ("b", 0L) -> ((1L, 120L, 12L)),      // C revived insert-only
      ("b", 172800L) -> ((1L, 172830L, 9L)))) // D untouched
  }

  test("x79 an insert at/above the dead carrier's max repairs the bucket WITHOUT rescan") {
    import spark.implicits._
    val out = Tables.scratchDir("graft_upsert_spec").toString
    // one bucket, on its own day: carrier (es=60) dies, insert es=299
    // dominates the stored max — the dirty set must be EMPTY, so no
    // partition filter may name the day
    Seq((1L, "c", 50L, 1L), (2L, "c", 60L, 2L))
      .toDF("event_id", "category", "es", "v_micro")
      .withColumn("logday", Maintenance.dayOfEpoch(col("es")))
      .write.mode("overwrite").partitionBy("logday").parquet(out)
    val src = spark.read.parquet(out)
    val inserts = Seq((10L, "c", 299L, 5L))
      .toDF("event_id", "category", "es", "v_micro")
    val tomb = col("event_id") === 2L
    val result = Maintenance.upsertFold(spark, Maintenance.partial(src),
      Maintenance.partial(inserts), src.where(tomb), src.where(!tomb),
      gate = 1024)
    assert(foldedMap(result) == Map(("c", 0L) -> ((2L, 299L, 6L))))
    val plan = result.queryExecution.executedPlan.toString
    val segs = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    assert(!segs.exists(_.contains("19700101")),
      s"insert-dominated carrier death still triggered a rescan:\n$plan")
  }

  test("x79 declared query matches an independent JVM replica") {
    val merged = foldedMap(Maintenance.aggUpsertMerge(spark, sf))
    val ev = Tables.events(spark, sf)
      .select(graft.functions.Headers.categoryOrDefault(col("event_type")).as("category"),
        graft.functions.Times.epochSeconds(col("ts")).as("es"),
        floor(col("value") * 1000000L + lit(0.5)).cast("long").as("v_micro"),
        col("event_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val mn = ev.map(_._2).min
    val mx = ev.map(_._2).max
    val cut = mn + 2L * ((mx - mn) / 3L)
    val cutLo = mn + (mx - mn) / 10L
    def deleted(es: Long, id: Long): Boolean =
      es < cut && (es < cutLo ||
        graft.functions.TextFns.polyHashLocal(id.toString) % 23 == 0)
    val keep = ev.filterNot { case (_, es, _, id) => deleted(es, id) }
    val expected = keep.groupBy { case (c, es, _, _) => (c, es - es % 300L) }
      .map { case (k, g) =>
        k -> ((g.length.toLong, g.map(_._2).max, g.map(_._3).sum)) }
    assert(merged == expected)
    // the fixture must exercise genuine inserts and genuine deletes
    assert(ev.exists { case (_, es, _, _) => es >= cut }, "insert leg empty")
    assert(ev.exists { case (_, es, _, id) => deleted(es, id) }, "delete leg empty")
  }

  test("x78 fold: append-folded BM25 stats equal the monolithic rebuild exactly") {
    import graft.operators.Search
    val docs = Tables.documents(spark, sf)
    val a = docs.where(pmod(col("doc_id"), lit(2L)) === 0L)
    val b = docs.where(pmod(col("doc_id"), lit(2L)) =!= 0L)
    // the fold touches only the two stats tables — append ≡ rebuild is
    // what licenses never rescanning already-counted documents
    val folded = Search.bm25FoldTermDf(Search.bm25TermDfOf(a), Search.bm25TermDfOf(b))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mono = Search.bm25TermDfOf(docs)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == mono)
    val fs = Search.bm25FoldScalars(Search.bm25ScalarsOf(a), Search.bm25ScalarsOf(b)).head()
    val ms = Search.bm25ScalarsOf(docs).head()
    assert((fs.getLong(0), fs.getLong(1)) == ((ms.getLong(0), ms.getLong(1))))
    assert(a.limit(1).count() > 0 && b.limit(1).count() > 0,
      "a degenerate batch split exercises no fold")
  }

  test("pre-1970 midnight-straddling bucket: the max repair reads BOTH days (truncated-% day band)") {
    import spark.implicits._
    // under truncated `%`, bucket 0 holds es ∈ (−300, 300): the kept row
    // es=−10 lives in day 19691231 while the doomed carrier es=10 lives in
    // 19700101 — a repair pruned to the bucket's OWN day only would find
    // no survivor and silently drop the bucket from the view
    val src = Seq((1L, "neg", -10L, 5L), (2L, "neg", 10L, 7L))
      .toDF("event_id", "category", "es", "v_micro")
      .withColumn("logday", Maintenance.dayOfEpoch(col("es")))
    val tomb = col("event_id") === 2L
    val noInserts = Maintenance.partial(src.where(lit(false)))
    val result = Maintenance.upsertFold(spark, Maintenance.partial(src),
      noInserts, src.where(tomb), src.where(!tomb), gate = 1024)
    assert(foldedMap(result) == Map(("neg", 0L) -> ((1L, -10L, 5L))),
      "the day-pruned rescan missed the pre-midnight survivor")
  }

  test("x81 retract fold: subtracted BM25 stats equal the survivor rebuild; dead terms leave the vocabulary") {
    import graft.operators.Search
    val docs = Tables.documents(spark, sf)
    val doomed = docs.where(Search.x81Tombstone)
    val kept = docs.where(!Search.x81Tombstone)
    val folded = Search.bm25RetractTermDf(Search.bm25TermDfOf(docs),
        Search.bm25TermDfOf(doomed))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mono = Search.bm25TermDfOf(kept)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == mono)
    val fs = Search.bm25RetractScalars(spark, Search.bm25ScalarsOf(docs),
      Search.bm25ScalarsOf(doomed)).head()
    val ms = Search.bm25ScalarsOf(kept).head()
    assert((fs.getLong(0), fs.getLong(1)) == ((ms.getLong(0), ms.getLong(1))))
    assert(doomed.limit(1).count() > 0, "empty tombstone set exercises no retraction")
    // zero-df hygiene on a hand fixture: the only doc carrying a term dies
    import spark.implicits._
    val hand = Seq((1L, "zebra apple"), (2L, "apple pear"))
      .toDF("doc_id", "text")
    val retr = Search.bm25RetractTermDf(Search.bm25TermDfOf(hand),
        Search.bm25TermDfOf(hand.where(col("doc_id") === 1L)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(retr == Map("apple" -> 1L, "pear" -> 1L),
      s"dead term lingered or survivor miscounted: $retr")
  }

  test("x82 upsert fold: retract-then-append composition equals the monolithic survivor-plus-insert rebuild") {
    import graft.operators.Search
    val docs = Tables.documents(spark, sf)
    val stored = docs.where(!Search.x82IsInsert)
    val inserts = docs.where(Search.x82IsInsert)
    val doomed = stored.where(Search.x81Tombstone)
    val target = docs.where(Search.x82IsInsert || !Search.x81Tombstone)
    val folded = Search.bm25FoldTermDf(
        Search.bm25RetractTermDf(Search.bm25TermDfOf(stored), Search.bm25TermDfOf(doomed)),
        Search.bm25TermDfOf(inserts))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val mono = Search.bm25TermDfOf(target)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(folded == mono)
    val fs = Search.bm25FoldScalars(
      Search.bm25RetractScalars(spark, Search.bm25ScalarsOf(stored),
        Search.bm25ScalarsOf(doomed)),
      Search.bm25ScalarsOf(inserts)).head()
    val ms = Search.bm25ScalarsOf(target).head()
    assert((fs.getLong(0), fs.getLong(1)) == ((ms.getLong(0), ms.getLong(1))))
    // all three legs must be genuinely exercised
    assert(doomed.limit(1).count() > 0, "delete leg empty")
    assert(inserts.limit(1).count() > 0, "insert leg empty")
  }

  test("x77 declared query matches an independent JVM replica; fixture exercises both tombstone legs") {
    val merged = foldedMap(Maintenance.aggRetractMerge(spark, sf))
    val ev = Tables.events(spark, sf)
      .select(graft.functions.Headers.categoryOrDefault(col("event_type")).as("category"),
        graft.functions.Times.epochSeconds(col("ts")).as("es"),
        floor(col("value") * 1000000L + lit(0.5)).cast("long").as("v_micro"),
        col("event_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val mn = ev.map(_._2).min
    val mx = ev.map(_._2).max
    val cutLo = mn + (mx - mn) / 10L
    def doomed(es: Long, id: Long): Boolean =
      es < cutLo || graft.functions.TextFns.polyHashLocal(id.toString) % 23 == 0
    val keep = ev.filterNot { case (_, es, _, id) => doomed(es, id) }
    val expected = keep.groupBy { case (c, es, _, _) => (c, es - es % 300L) }
      .map { case (k, g) =>
        k -> ((g.length.toLong, g.map(_._2).max, g.map(_._3).sum)) }
    assert(merged == expected)
    // both tombstone legs and both carrier outcomes must actually occur,
    // or the fixture proves nothing
    assert(ev.exists { case (_, es, _, _) => es < cutLo }, "retention leg empty")
    assert(ev.exists { case (_, es, _, id) =>
      es >= cutLo && graft.functions.TextFns.polyHashLocal(id.toString) % 23 == 0 },
      "scattered leg empty")
    val deadGroups = ev.groupBy { case (c, es, _, _) => (c, es - es % 300L) }
      .filter { case (_, g) => g.exists { case (_, es, _, id) => doomed(es, id) } }
    assert(deadGroups.exists { case (k, _) => !expected.contains(k) },
      "no fully-retracted bucket in fixture")
    assert(deadGroups.exists { case (k, _) => expected.contains(k) },
      "no partially-retracted bucket in fixture")
  }

  test("inParallel: results keep task order, a failing leg propagates its own " +
      "exception after every leg completes (ADVICE r15: not fail-fast), singletons run inline") {
    import graft.operators.Maintenance
    assert(Maintenance.inParallel(Seq(() => 1, () => 2, () => 3)) == Seq(1, 2, 3))
    assert(Maintenance.inParallel(Seq(() => 42)) == Seq(42))
    assert(Maintenance.inParallel[Int](Seq.empty) == Seq.empty)
    val boom = intercept[IllegalStateException] {
      Maintenance.inParallel[Int](Seq(
        () => 1, () => throw new IllegalStateException("leg failed"), () => 3))
    }
    assert(boom.getMessage == "leg failed",
      "the leg's own exception must propagate, not a wrapper")
  }

  /** An Observation on a Dataset that is never run: its metric never surfaces. */
  private def neverObserved() = {
    val obs = org.apache.spark.sql.Observation()
    spark.range(3).observe(obs, count(lit(1)).as("n"))
    obs
  }

  test("observedOr: a surfaced metric is returned; one that never surfaces takes the " +
      "fallback, and concurrent callers each wait on their own deadline") {
    val ran = org.apache.spark.sql.Observation()
    spark.range(3).observe(ran, count(lit(1)).as("n")).collect()
    assert(Maintenance.observedOr[Long](ran, "n")(-1L) == 3L)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val t0 = System.nanoTime()
      val waits = Seq.fill(2)(pool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = Maintenance.observedOr[Long](neverObserved(), "n")(-1L)
      }))
      assert(waits.map(_.get) == Seq(-1L, -1L))
      val s = (System.nanoTime() - t0) / 1e9
      // one 10 s bound each, side by side; a wait queued behind the other
      // would have taken 20 s
      assert(s < 16.0, f"two concurrent waits took $s%.1f s")
    } finally pool.shutdownNow()
  }

  test("observedOr: an interrupted caller takes the fallback and keeps its interrupt flag") {
    val result = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var flagKept = false
    val caller = new Thread(() => {
      result.set(Maintenance.observedOr[Long](neverObserved(), "n")(-1L))
      flagKept = Thread.currentThread().isInterrupted
    })
    val t0 = System.nanoTime()
    caller.start()
    Thread.sleep(300)
    caller.interrupt()
    caller.join(20000)
    assert(!caller.isAlive)
    assert((System.nanoTime() - t0) / 1e9 < 5.0, "the interrupt must end the wait")
    assert(result.get == -1L && flagKept)
  }

  test("x94 orchestrator: one pass with shared derivations equals the per-artifact " +
      "sequential composition; a full replay converges; the enriched batch is " +
      "lineage-truncated (tokenized/shingled once)") {
    import graft.operators.{Dedup, Maintenance, Similarity, TextAnalysis}
    import graft.streaming.StreamingIngest
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
    val stored = docs.where(Dedup.idxBucket <= 7)
    val inserts = docs.where(Dedup.idxBucket >= 8)
    val keys = docs.where(Dedup.idxDoomed).select(col("doc_id"))
    def probeRows(dirs: Maintenance.MultiArtifactDirs): Seq[String] =
      Maintenance.multiArtifactProbe(spark, sf, dirs)
        .collect().map(_.toString).sorted.toSeq

    // orchestrated: ONE invocation
    val orch = Maintenance.MultiArtifactDirs(
      Tables.scratchDir("graft_x94_spec_orch").toString)
    Maintenance.multiArtifactInit(spark, sf, orch, stored)
    val enriched = Maintenance.multiArtifactUpsert(spark, sf, orch, inserts,
      keys, "ops")
    val orchRows = probeRows(orch)

    // shared-derivation pin: the returned batch is MATERIALIZED (its plan
    // is a lineage-truncated RDD scan, not a recomputation chain), carries
    // every derived column, and its plan re-derives nothing — so every
    // consumer leg reads the one computed Exchange instead of
    // re-tokenizing/re-shingling per artifact
    assert(enriched.columns.toSet ==
      Set("doc_id", "source", "text", "fp", "tk", "sh", "n"))
    val plan = enriched.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("Scan ExistingRDD"),
      s"enriched is not lineage-truncated:\n$plan")
    assert(!plan.toLowerCase.contains("shinglehashes") &&
      !plan.toLowerCase.contains("split("),
      "enriched still re-derives its text analysis")

    // sequential twin: the same init, then each artifact maintained by its
    // OWN standalone operator, one after another
    val twin = Maintenance.MultiArtifactDirs(
      Tables.scratchDir("graft_x94_spec_twin").toString)
    Maintenance.multiArtifactInit(spark, sf, twin, stored)
    val kdf = keys.distinct()
    val netI = inserts.join(broadcast(kdf), Seq("doc_id"), "leftanti")
    // stats folds read the PRE-delete corpus (phase-0 order), so fold the
    // twin's stats before its corpus swap, exactly like the orchestrator
    val ops = netI.select(col("doc_id"), lit("I").as("op"), col("text"))
      .unionByName(kdf.select(col("doc_id"), lit("D").as("op"),
        lit(null).cast("string").as("text")))
    StreamingIngest.bm25StatsBatch(ops, "ops",
      graft.operators.VersionedLayers.readAny(spark, twin.corpusDir)
        .select(col("doc_id"), col("text")),
      twin.bm25Dir)
    val doomedTk = graft.operators.VersionedLayers.readAny(spark, twin.corpusDir)
      .join(broadcast(kdf), Seq("doc_id"), "leftsemi")
      .withColumn("tk", graft.functions.TextFns.tokens(col("text")))
    val negAgg = Maintenance.docAggOfTk(doomedTk).select(col("source"),
      (-col("n_docs")).as("n_docs"), (-col("n_tokens")).as("n_tokens"))
    val aggFolded = Maintenance.readDocAggView(spark, twin.aggDir)
      .unionByName(Maintenance.docAggOfTk(netI.withColumn("tk",
        graft.functions.TextFns.tokens(col("text")))))
      .unionByName(negAgg)
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .where(col("n_docs") > 0)
    graft.operators.VersionedLayers.publishLayer(spark, twin.aggDir, "ops",
      aggFolded, replaceAll = true)
    // swaps + appends, artifact by artifact
    Dedup.dedupIndexDeleteKeys(spark, twin.corpusDir, kdf)
    graft.operators.VersionedLayers.publishLayer(spark, twin.corpusDir, "ops", netI)
    Dedup.dedupIndexUpsertKeys(spark, twin.exactDir,
      inserts.select(col("doc_id"), col("text")), kdf, "ops")
    Dedup.nearDedupIndexDeleteKeys(spark, twin.nearDir, kdf)
    StreamingIngest.nearDedupIndexBatch(
      netI.select(col("doc_id"), col("text")), "ops", twin.nearDir,
      twin.nearOutDir)
    Dedup.dedupIndexDeleteKeys(spark, twin.spanDir, kdf)
    TextAnalysis.spanIndexAppend(spark,
      netI.select(col("doc_id"), col("text")), twin.spanDir, "ops")
    // the embedding artifacts, by their own standalone operators (the
    // x92 fold; the x83/x6h layered delete + append), same phase order
    val kdfVec = kdf.select(col("doc_id").as("vec_id"))
    val netIVecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .join(broadcast(netI.select(col("doc_id").as("vec_id"))),
        Seq("vec_id"), "leftsemi")
    val cents = Similarity.ivfCentroids(spark, sf)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    Dedup.dedupIndexDeleteKeys(spark, twin.semDir, kdfVec, keyCol = "vec_id")
    StreamingIngest.semanticDedupBatch(netIVecs, "ops", cents, twin.semDir,
      twin.semOutDir, Maintenance.SemDedupThreshold)
    Similarity.ivfPqLayerDeleteKeys(spark, twin.annDir, kdfVec)
    Similarity.ivfPqAppend(spark, sf, netIVecs, twin.annDir, "ops")
    Dedup.clusterIndexUpsert(spark, twin.cluster, netI.select(col("doc_id")),
      kdf, Dedup.verifiedPairs(spark, sf, Maintenance.ClusterThreshold), "ops")
    assert(orchRows == probeRows(twin),
      "one orchestrated pass diverged from the per-artifact composition")
    // VERDICT r16 #1: the orchestrator's cluster edges are PROBE-derived
    // (ONE maintained-near-index probe + the batch's internal self-pairs)
    // while the twin's come from the corpus-global verified-pair index —
    // pin the two derivations to the same EDGE SET, not merely the same
    // merged label view (labels could agree across different graphs)
    def edgeSet(dirs: Maintenance.MultiArtifactDirs): Set[(Long, Long)] =
      graft.operators.VersionedLayers.readAny(spark, dirs.cluster.edgesDir)
        .select(col("id1"), col("id2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeSet(orch) == edgeSet(twin),
      "probe-derived cluster edges diverged from pair-index-derived edges")

    // exactly-once drill: a FULL replay of the same batch (crash after
    // everything but the checkpoint commit) converges — marker-gated
    // stats folds skip, markerless swaps no-op, tag overwrites clobber
    // themselves
    Maintenance.multiArtifactUpsert(spark, sf, orch, inserts, keys, "ops")
    assert(probeRows(orch) == orchRows, "a full replay changed the artifacts")

    // x96: the pipeline-wide compaction sweep folds every swept artifact
    // to ONE layer and changes no probe row (the span index is excluded
    // by design — its probe reads the layer tags; its own epoch fold is
    // x97's, drilled in StreamingSpec)
    val below = Maintenance.multiArtifactCompactIfNeeded(spark, orch, maxLayers = 16)
    assert(below.values.forall(!_), s"below-threshold sweep fired: $below")
    assert(probeRows(orch) == orchRows)
    val fired = Maintenance.multiArtifactCompactIfNeeded(spark, orch, maxLayers = 1)
    assert(fired == Map("corpus" -> true, "exact" -> true, "near_fp" -> true,
      "near_pfx" -> true, "near_sh" -> true, "sem" -> true, "ann" -> true,
      "near_out" -> true, "sem_out" -> true,
      "cluster_edges" -> true, "cluster_labels" -> true),
      s"sweep outcome: $fired")
    def layers(dir: String): Seq[String] =
      graft.operators.VersionedLayers.layers(spark, dir)
        .map(l => s"batch=${l.tag}").distinct.sorted
    Seq(orch.corpusDir, orch.exactDir, s"${orch.nearDir}/fp",
        s"${orch.nearDir}/pfx", s"${orch.nearDir}/sh", orch.semDir,
        orch.annDir, orch.nearOutDir, orch.semOutDir,
        orch.cluster.edgesDir, orch.cluster.labelsDir).foreach { d =>
      assert(layers(d) == Seq("batch=compacted"), s"$d: ${layers(d)}")
    }
    assert(layers(orch.spanDir).toSet == Set("batch=stored", "batch=ops"),
      "the span index must keep its epoch layers")
    assert(probeRows(orch) == orchRows,
      "the compaction sweep changed an artifact's contents")
  }

  test("x96 sweep job budget: over the two-layer x94 state each flat swept " +
      "artifact folds in at most 2 Spark jobs (its shuffle and its write, no " +
      "footer-inference job); the probe is unchanged") {
    import graft.operators.{Dedup, Maintenance}
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
    val dirs = Maintenance.MultiArtifactDirs(
      Tables.scratchDir("graft_x96_jobs_spec").toString)
    Maintenance.multiArtifactInit(spark, sf, dirs, docs.where(Dedup.idxBucket <= 7))
    Maintenance.multiArtifactUpsert(spark, sf, dirs,
      docs.where(Dedup.idxBucket >= 8),
      docs.where(Dedup.idxDoomed).select(col("doc_id")), "ops")
    def probeRows(): Seq[String] = Maintenance.multiArtifactProbe(spark, sf, dirs)
      .collect().map(_.toString).sorted.toSeq
    val before = probeRows()
    val (fired, jobs) = jobsByLabel(
      Maintenance.multiArtifactCompactIfNeeded(spark, dirs, maxLayers = 1))
    assert(fired.size == 11 && fired.values.forall(identity),
      s"sweep outcome: $fired")
    val perArt = fired.keys.map(a => a -> jobs.getOrElse(s"x96 sweep: $a", 0)).toMap
    val flat = fired.keySet - "ann" - "cluster_labels"
    flat.foreach(a => assert(perArt(a) <= 2, s"$a swept in ${perArt(a)} jobs: $perArt"))
    // the cell-granular index folds like a flat one; the label store's
    // last-writer-wins fold pays one more shuffle (its window)
    assert(perArt("ann") == 2 && perArt("cluster_labels") == 3, s"$perArt")
    assert(probeRows() == before, "the compaction sweep changed an artifact's contents")
  }

  test("writer lease: a second concurrent writer refuses loudly naming the holder; " +
      "a crashed holder's stale lease is taken over; release is nonce-scoped " +
      "(VERDICT r15 #4)") {
    import org.apache.hadoop.fs.Path
    import graft.operators.Maintenance
    val root = Tables.scratchDir("graft_lease_spec").toString
    val lease = new Path(root, Maintenance.WriterLeaseFile)
    val fs = lease.getFileSystem(spark.sessionState.newHadoopConf())
    // concurrent refusal: while writer A holds the lease, writer B fails
    // fast and the message names A
    Maintenance.withWriterLease(spark, root, "writer-A") {
      val e = intercept[IllegalStateException] {
        Maintenance.withWriterLease(spark, root, "writer-B") {
          fail("writer B must not run")
        }
      }
      assert(e.getMessage.contains("writer-A"), e.getMessage)
      assert(fs.exists(lease))
    }
    assert(!fs.exists(lease), "lease not released after the body")
    // crashed-holder takeover: a lease older than the stale bound is
    // presumed dead — the next writer takes over and runs
    val stale = fs.create(lease, true)
    try stale.write(("holder=crashed-writer nonce=dead ts=" +
      (System.currentTimeMillis() - Maintenance.staleLeaseMs - 1000L))
      .getBytes("UTF-8")) finally stale.close()
    var ran = false
    Maintenance.withWriterLease(spark, root, "writer-C") { ran = true }
    assert(ran && !fs.exists(lease))
    // an unparseable lease must not fence the pipeline forever — treated
    // as stale
    val junk = fs.create(lease, true)
    try junk.write("garbage".getBytes("UTF-8")) finally junk.close()
    Maintenance.withWriterLease(spark, root, "writer-D") {}
    assert(!fs.exists(lease))
    // nonce-scoped release: if a takeover replaced OUR lease mid-body
    // (we outlived the stale bound), release must NOT delete the new
    // writer's lease
    Maintenance.withWriterLease(spark, root, "writer-E") {
      val thief = fs.create(lease, true)
      try thief.write(("holder=thief nonce=stolen ts=" +
        System.currentTimeMillis()).getBytes("UTF-8")) finally thief.close()
    }
    assert(fs.exists(lease), "release deleted a lease it no longer owned")
    fs.delete(lease, false)
    // integration: the orchestrator itself refuses a held pipeline
    val dirs = Maintenance.MultiArtifactDirs(
      Tables.scratchDir("graft_lease_orch").toString)
    Maintenance.withWriterLease(spark, dirs.root, "someone-else") {
      val e = intercept[IllegalStateException] {
        Maintenance.multiArtifactCompactIfNeeded(spark, dirs, maxLayers = 16)
      }
      assert(e.getMessage.contains("someone-else"))
    }
  }

  test("writer lease renewal: a holder that outlives the stale bound keeps its " +
      "lease via the heartbeat — a queued second writer still refuses instead " +
      "of taking over mid-write (VERDICT r16 #3 / ADVICE r16)") {
    import org.apache.hadoop.fs.Path
    import graft.operators.Maintenance
    val root = Tables.scratchDir("graft_lease_hb_spec").toString
    val lease = new Path(root, Maintenance.WriterLeaseFile)
    val fs = lease.getFileSystem(spark.sessionState.newHadoopConf())
    val prev = System.setProperty("graft.maintenance.staleLeaseMs", "1200")
    try {
      // without renewal this body outlives the stale bound 3× over, and
      // writer-B's acquisition would be a legal takeover; the heartbeat
      // (stale/3 = 400 ms) must keep the lease fresh throughout. The
      // bound leaves ~800 ms of heartbeat slip before the test turns
      // false-negative — a 400 ms bound flaked under a loaded host (one
      // delayed beat made the takeover legal).
      Maintenance.withWriterLease(spark, root, "slow-writer") {
        Thread.sleep(3600L)
        val e = intercept[IllegalStateException] {
          Maintenance.withWriterLease(spark, root, "queued-writer") {
            fail("the queued writer must not run while the holder is alive")
          }
        }
        assert(e.getMessage.contains("slow-writer"), e.getMessage)
      }
      assert(!fs.exists(lease), "lease not released after the slow body")
      // a genuinely DEAD holder (no heartbeat) is still taken over under
      // the same lowered bound — renewal must not break crash recovery
      val stale = fs.create(lease, true)
      try stale.write(("holder=dead nonce=dead ts=" +
        (System.currentTimeMillis() - 3000L)).getBytes("UTF-8"))
      finally stale.close()
      var ran = false
      Maintenance.withWriterLease(spark, root, "taker") { ran = true }
      assert(ran && !fs.exists(lease))
    } finally {
      if (prev == null) System.clearProperty("graft.maintenance.staleLeaseMs")
      else System.setProperty("graft.maintenance.staleLeaseMs", prev)
    }
  }
}
