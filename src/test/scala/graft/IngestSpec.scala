package graft

import graft.operators.Ingest
import org.apache.spark.sql.functions._

/** End-to-end pipeline test (SURVEY.md §5.4): land → read back → counts
  * equal source; re-run idempotent (the exactly-once property the reference
  * lacks, HiveBatchedSink.scala:335 FIXME). */
class IngestSpec extends SparkSpec {

  test("flagship lands partitioned ORC and accounts for every event") {
    val result = Ingest.flagship(spark, sf)
    val landedTotal = result.agg(sum("n_events")).head.getLong(0)
    val srcTotal = Tables.events(spark, sf).count()
    assert(landedTotal == srcTotal)
    assert(result.count() > 0)
  }

  test("re-landing is idempotent (dynamic partition overwrite)") {
    val out = graft.Tables.scratchDir("graft_idem").toString
    Ingest.land(spark, sf, out)
    val first = spark.read.orc(out).count()
    Ingest.land(spark, sf, out)
    val second = spark.read.orc(out).count()
    assert(first == second)
  }

  test("compaction collapses small files, preserves rows, cleans up") {
    import graft.sources.Landing
    val out = graft.Tables.scratchDir("graft_compact_spec").toString
    Ingest.enriched(spark, sf).repartition(8)
      .write.mode("overwrite").partitionBy("logdate").orc(out)
    val before = Landing.partitionFileStats(spark, out)
    val fragmented = before.count(_._2 > 1)
    assert(fragmented > 0, s"fixture should land some fragmentation, got $before")
    val rowsBefore = spark.read.orc(out).count()
    val report = Landing.compactPartitions(spark, out, "logdate")
    assert(report.size == fragmented)
    assert(report.forall(_._3 == 1),
      s"every compacted partition should hold one file: $report")
    val after = Landing.partitionFileStats(spark, out)
    assert(after.forall(_._2 == 1))
    assert(spark.read.orc(out).count() == rowsBefore)
    // staging/trash must be gone — the swap completed and cleaned up
    val root = new org.apache.hadoop.fs.Path(out)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root.getParent,
      "." + root.getName + "_compact_staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root.getParent,
      "." + root.getName + "_compact_trash")))
    // idempotent: nothing left to compact
    assert(Landing.compactPartitions(spark, out, "logdate").isEmpty)
  }

  test("compaction restores a partition stranded in trash by a crashed swap") {
    import graft.sources.Landing
    import org.apache.hadoop.fs.Path
    val out = graft.Tables.scratchDir("graft_crash_spec").toString
    Ingest.enriched(spark, sf).repartition(4)
      .write.mode("overwrite").partitionBy("logdate").orc(out)
    val rowsBefore = spark.read.orc(out).count()
    val root = new Path(out)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate a crash between the two swap renames: one partition's only
    // copy sits in the trash dir, gone from the live tree
    val victim = Landing.partitionFileStats(spark, out).head._1
    val trash = new Path(root.getParent, "." + root.getName + "_compact_trash")
    fs.mkdirs(trash)
    require(fs.rename(new Path(root, victim), new Path(trash, victim)))
    assert(spark.read.orc(out).count() < rowsBefore) // partition really gone
    // re-running compaction must restore the stranded copy BEFORE cleaning,
    // then proceed; no rows may be lost
    Landing.compactPartitions(spark, out, "logdate")
    assert(spark.read.orc(out).count() == rowsBefore)
    assert(!fs.exists(trash))
  }

  test("compaction is single-flight: a held lock refuses the run; a finished run releases it") {
    import graft.sources.Landing
    import org.apache.hadoop.fs.Path
    val out = graft.Tables.scratchDir("graft_lock_spec").toString
    Ingest.enriched(spark, sf).repartition(4)
      .write.mode("overwrite").partitionBy("logdate").orc(out)
    val root = new Path(out)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val lock = new Path(root.getParent, "." + root.getName + "_compact_lock")
    // a concurrent (or hard-crashed) run holds the lock: refuse LOUDLY —
    // two compactions sharing staging/trash could destroy a mid-swap
    // partition's only copy
    fs.create(lock, false).close()
    val e = intercept[IllegalArgumentException](
      Landing.compactPartitions(spark, out, "logdate"))
    assert(e.getMessage.contains("lock"), s"unexpected message: ${e.getMessage}")
    fs.delete(lock, false)
    // with the lock clear the run proceeds and releases it afterwards
    val report = Landing.compactPartitions(spark, out, "logdate")
    assert(report.nonEmpty)
    assert(!fs.exists(lock), "a completed run must release the lock")
  }

  test("retention drops expired partitions transactionally and is idempotent") {
    import graft.sources.Landing
    import org.apache.hadoop.fs.Path
    val out = graft.Tables.scratchDir("graft_retain_spec").toString
    Ingest.enriched(spark, sf)
      .withColumn("logday", substring(col("logdate"), 1, 8))
      .write.mode("overwrite").partitionBy("logday").orc(out)
    val days = Landing.partitionFileStats(spark, out).map(_._1.split("=")(1)).sorted
    assert(days.size >= 3, s"fixture spans $days")
    val cutoff = days(1) // keep from the second day on
    val expectKept = spark.read.orc(out)
      .where(col("logday").cast("string") >= cutoff).count()
    val dropped = Landing.dropPartitionsBefore(spark, out, "logday", cutoff)
    assert(dropped == Seq(s"logday=${days.head}"))
    assert(spark.read.orc(out).count() == expectKept)
    // idempotent: nothing else expires
    assert(Landing.dropPartitionsBefore(spark, out, "logday", cutoff).isEmpty)
    // crash recovery: a partition stranded in retention trash by a crash
    // is purged (NOT restored) by the next run
    val root = new Path(out)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val trash = new Path(root.getParent, "." + root.getName + "_retention_trash")
    fs.mkdirs(trash)
    require(fs.rename(new Path(root, s"logday=${days(1)}"), new Path(trash, s"logday=${days(1)}")))
    Landing.dropPartitionsBefore(spark, out, "logday", cutoff)
    assert(!fs.exists(trash))
    assert(spark.read.orc(out).select("logday").distinct().count() == days.size - 2)
  }

  test("x75: delete propagation rewrites only dirty partitions, drops emptied ones") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val out = graft.Tables.scratchDir("graft_delprop_spec").toString
    // A: tombstones + survivors; B: clean; C: every row tombstoned
    Seq(
      (2L, "keep a1", "A"), (4L, "kill a2", "A"), (5L, "keep a3", "A"),
      (7L, "keep b1", "B"), (9L, "keep b2", "B"),
      (6L, "kill c1", "C"), (8L, "kill c2", "C"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").partitionBy("source").parquet(out)
    val fs = new Path(out).getFileSystem(spark.sessionState.newHadoopConf())
    def files(src: String): Seq[(String, Long, Long)] =
      fs.listStatus(new Path(out, s"source=$src")).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => (st.getPath.toString, st.getModificationTime, st.getLen))
        .sortBy(_._1)
    val cleanBefore = files("B")
    assert(cleanBefore.nonEmpty)
    val tomb = col("text").startsWith("kill")
    // independent of the landed files — a lazy scan of `out` here would
    // execute AFTER the rewrite and read a listing that no longer exists
    // (the declared query's `before` comes from the source table)
    val before = Seq(("A", 3L), ("B", 2L), ("C", 2L))
      .toDF("source", "rows_before")
    val acct = Ingest.deletePropagationOn(spark, out, tomb, before)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(acct("A") == ((3L, 1L, 2L, 1L)))
    assert(acct("B") == ((2L, 0L, 2L, 0L)))
    assert(acct("C") == ((2L, 2L, 0L, 1L)))
    // the clean partition kept its EXACT files — path, mtime, length
    assert(files("B") == cleanBefore,
      "clean partition was rewritten: the delete pass must not touch it")
    // the fully-emptied partition directory is gone
    assert(!fs.exists(new Path(out, "source=C")))
    // the dirty partition holds exactly its survivors
    val left = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(left.toSeq == Seq(2L, 5L, 7L, 9L))
  }

  test("x75: declared-query accounting matches an independent JVM replica") {
    val acct = Ingest.deletePropagation(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).map { case (src, rows) =>
      val dead = rows.count { case (id, _) =>
        graft.functions.TextFns.polyHashLocal(id.toString) % 40 == 0 }
      src -> ((rows.size.toLong, dead.toLong, (rows.size - dead).toLong,
        if (dead > 0) 1L else 0L))
    }
    assert(acct == expected)
    // the fixture must exercise BOTH branches or the spec proves nothing
    assert(expected.values.exists(_._4 == 1L), "no dirty partition in fixture")
    assert(expected.values.exists(_._4 == 0L), "no clean partition in fixture")
  }

  test("x75: gated dirty-key restriction — literal-isin and semi-join sides rewrite identically") {
    import spark.implicits._
    // VERDICT r12 #5: past the gate the dirty-partition restriction runs
    // as a broadcast semi-join, never a key-list-sized predicate; both
    // representations must produce byte-identical delete passes
    def run(gate: Int): (Map[String, (Long, Long, Long, Long)], Seq[Long]) = {
      val out = graft.Tables.scratchDir("graft_delprop_gate").toString
      Seq(
        (2L, "keep a1", "A"), (4L, "kill a2", "A"), (5L, "keep a3", "A"),
        (7L, "keep b1", "B"), (9L, "keep b2", "B"),
        (6L, "kill c1", "C"), (8L, "kill c2", "C"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").partitionBy("source").parquet(out)
      val before = Seq(("A", 3L), ("B", 2L), ("C", 2L)).toDF("source", "rows_before")
      val acct = Ingest.deletePropagationOn(spark, out,
        col("text").startsWith("kill"), before, gate = gate)
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
      (acct, spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq)
    }
    assert(run(0) == run(1024))
  }

  test("landing layout is partition-pruned on read") {
    val out = graft.Tables.scratchDir("graft_prune").toString
    Ingest.land(spark, sf, out)
    val one = spark.read.orc(out).where(col("logdate") === "202401010000")
    val scan = one.queryExecution.executedPlan.toString
    // The partition predicate must reach the scan as a PartitionFilter
    // carrying the logdate literal — a post-scan Filter means every
    // partition was read and the test must fail.
    assert(scan.contains("PartitionFilters"), s"no PartitionFilters in plan:\n$scan")
    assert(raw"PartitionFilters: \[[^\]]*202401010000".r.findFirstIn(scan).isDefined,
      s"logdate literal not pushed into PartitionFilters:\n$scan")
    val direct = Tables.events(spark, sf)
      .where(graft.functions.Times.logdate(col("ts")) === "202401010000").count()
    assert(one.count() == direct)
  }
}
