package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Maintenance, VersionedLayers}

/** The reader-isolation contract of the versioned layer store
  * (VERDICT r16 #2): probes running CONCURRENTLY with folds observe
  * exactly a published snapshot — never a torn one — and the crash
  * discipline (orphan store dirs, crash-before-pointer, replay, GC)
  * holds without markers. */
class VersionedLayersSpec extends SparkSpec {
  import spark.implicits._

  private def rows(ids: Range, stamp: Int): DataFrame =
    ids.map(i => (i.toLong, stamp)).toDF("doc_id", "stamp")

  private def observed(dir: String): Set[(Long, Int)] =
    VersionedLayers.readAny(spark, dir)
      .select(col("doc_id"), col("stamp")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet

  test("concurrent probes during delete/append/compact folds observe only " +
      "published snapshots, never partial state (VERDICT r16 #2)") {
    val dir = Tables.scratchDir("graft_vl_concurrent").toString

    def set(ids: Range, stamp: Int): Set[(Long, Int)] =
      ids.map(i => (i.toLong, stamp)).toSet

    // the scripted fold sequence and its legal snapshot states: every op
    // is one publish, so a reader at ANY point sees exactly one of these
    val l1 = set(1 to 100, 1)
    val l2 = set(51 to 100, 1)
    val l3 = l2 ++ set(1 to 50, 3)
    val l4 = set(1 to 50, 3)
    val l5 = l4 ++ set(51 to 100, 6)
    val legal = Set(l1, l2, l3, l4, l5)

    VersionedLayers.publishLayer(spark, dir, "a", rows(1 to 100, 1))
    assert(observed(dir) == l1)

    // readers hammer the artifact from other threads while the writer
    // folds; each observation must be a member of the legal set — a torn
    // read (half-rewritten layer, missing layer mid-compact, doubled
    // rows) is not a member
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[Set[(Long, Int)]]()
    val nObs = new java.util.concurrent.atomic.AtomicInteger(0)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readers = (1 to 2).map { _ =>
      new Thread(() => {
        while (!done.get()) {
          val o = observed(dir)
          nObs.incrementAndGet()
          if (!legal.contains(o)) bad.add(o)
        }
      })
    }
    readers.foreach { t => t.setDaemon(true); t.start() }
    try {
      Dedup.dedupIndexDeleteKeys(spark, dir, (1 to 50).map(_.toLong).toDF("doc_id"))
      VersionedLayers.publishLayer(spark, dir, "b", rows(1 to 50, 3))
      VersionedLayers.compactVersioned(spark, dir, "compacted", Seq.empty)(identity)
      Dedup.dedupIndexDeleteKeys(spark, dir,
        (51 to 100).map(_.toLong).toDF("doc_id"))
      VersionedLayers.publishLayer(spark, dir, "c", rows(51 to 100, 6))
      VersionedLayers.compactVersioned(spark, dir, "compacted", Seq.empty)(identity)
    } finally {
      done.set(true)
      readers.foreach(_.join(30000L))
    }
    assert(nObs.get() > 0, "the reader threads never completed a probe")
    assert(bad.isEmpty,
      s"concurrent probes observed ${bad.size} non-snapshot states, e.g. " +
        s"${Option(bad.peek()).map(_.toSeq.sortBy(_._1).take(10)).orNull}")
    assert(observed(dir) == l5)
    assert(VersionedLayers.layers(spark, dir).map(_.tag) == Seq("compacted"))
  }

  test("crash discipline: orphan store dirs are invisible and GC'd; a crash " +
      "before the pointer move leaves the prior version intact; a replayed " +
      "publish converges; empty layers drop their tag") {
    import org.apache.hadoop.fs.Path
    val dir = Tables.scratchDir("graft_vl_crash").toString
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val prevGrace = System.setProperty("graft.versioned.gcGraceMs", "0")
    try {
      VersionedLayers.publishLayer(spark, dir, "a", rows(1 to 10, 1))

      // crash mid-write: an orphan store dir no manifest references —
      // readers never see it
      rows(900 to 999, 9).write.parquet(new Path(root, "store/junk-g99").toString)
      assert(observed(dir) == (1 to 10).map(i => (i.toLong, 1)).toSet)

      // crash before the pointer move: a manifest file exists beyond the
      // pointer — the artifact still reads at the prior version, and the
      // (leased) writer's retry clobbers the orphan manifest
      val orphan = fs.create(new Path(root, "manifests/m-2"), true)
      try orphan.write("ghost\tghost-g2\n".getBytes("UTF-8")) finally orphan.close()
      assert(observed(dir) == (1 to 10).map(i => (i.toLong, 1)).toSet)

      // replayed publish of the same tag: ONE manifest entry, fresh
      // content, convergent
      VersionedLayers.publishLayer(spark, dir, "b", rows(11 to 20, 2))
      VersionedLayers.publishLayer(spark, dir, "b", rows(11 to 20, 3))
      assert(VersionedLayers.layers(spark, dir).count(_.tag == "b") == 1)
      assert(observed(dir) ==
        ((1 to 10).map(i => (i.toLong, 1)) ++ (11 to 20).map(i => (i.toLong, 3))).toSet)

      // GC (grace 0): after two more publishes the junk store dir and
      // stale manifests are gone; the live layers' dirs survive
      VersionedLayers.publishLayer(spark, dir, "gc1", rows(21 to 21, 4))
      VersionedLayers.publishLayer(spark, dir, "gc2", rows(22 to 22, 5))
      assert(!fs.exists(new Path(root, "store/junk-g99")),
        "unreferenced store dir survived GC")
      val live = VersionedLayers.layers(spark, dir).map(_.rel).toSet
      val onDisk = fs.listStatus(new Path(root, "store")).map(_.getPath.getName).toSet
      assert(live.subsetOf(onDisk), s"live layers missing from store: $live vs $onDisk")

      // an empty publish stays harmless: the footer-only layer reads as
      // 0 rows (schema preserved), the artifact's contents are unchanged,
      // and a delete fold that empties a tag still drops it (the
      // differential spec's rewrite path)
      val before = observed(dir)
      VersionedLayers.publishLayer(spark, dir, "empty1",
        rows(1 to 10, 1).where(lit(false)))
      assert(observed(dir) == before)
      // a tag emptied BY THE DELETE FOLD is dropped from the manifest
      Dedup.dedupIndexDeleteKeys(spark, dir, Seq(22L).toDF("doc_id"))
      assert(!VersionedLayers.layers(spark, dir).exists(_.tag == "gc2"),
        "a fold-emptied tag must leave the manifest")
    } finally {
      if (prevGrace == null) System.clearProperty("graft.versioned.gcGraceMs")
      else System.setProperty("graft.versioned.gcGraceMs", prevGrace)
    }
  }

  test("delete fold equals the recompute from survivors row-for-row and " +
      "prunes untouched layers (the dirty-layer economics)") {
    val dir = Tables.scratchDir("graft_vl_diff").toString
    VersionedLayers.publishLayer(spark, dir, "t1", rows(1 to 40, 1))
    VersionedLayers.publishLayer(spark, dir, "t2", rows(41 to 80, 2))
    VersionedLayers.publishLayer(spark, dir, "t3", rows(81 to 120, 3))
    val keys = Seq(5L, 45L).toDF("doc_id")
    val dirty = Dedup.dedupIndexDeleteKeys(spark, dir, keys)
    assert(dirty == Seq("t1", "t2"), s"dirty tags: $dirty")
    val got = VersionedLayers.readAny(spark, dir)
      .select(col("doc_id"), col("stamp"), col("batch")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    // the monolithic recompute: every stored row whose key survives
    val want = Seq((1 to 40, 1, "t1"), (41 to 80, 2, "t2"), (81 to 120, 3, "t3"))
      .flatMap { case (ids, st, t) => ids.map(i => (i.toLong, st, t)) }
      .filterNot(r => Set(5L, 45L).contains(r._1)).toSet
    assert(got == want, "delete fold diverged from the recompute from survivors")
    // the untouched layer kept its exact store dir (no rewrite)
    val t3 = VersionedLayers.layers(spark, dir).find(_.tag == "t3").get
    assert(t3.rel == "t3-g3", s"untouched layer was rewritten: ${t3.rel}")
  }

  test("cell-granular artifact: a delete swaps only the dirty (tag, cell) " +
      "leaves — clean cells of the SAME tag keep their immutable dirs, and " +
      "the fold equals the recompute from survivors row-for-row") {
    import graft.operators.Similarity
    def vecs(ids: Range): Seq[(Long, Int, Long)] =
      ids.map(i => (i.toLong, i % 4, i * 10L))
    val dir = Tables.scratchDir("graft_vl_cell").toString
    VersionedLayers.publishLayer(spark, dir, "b0",
      vecs(1 to 40).toDF("vec_id", "cell", "u"), Seq("cell"))
    VersionedLayers.publishLayer(spark, dir, "b1",
      vecs(41 to 80).toDF("vec_id", "cell", "u"), Seq("cell"))
    val before = VersionedLayers.layers(spark, dir)
    assert(before.map(_.tag).distinct.sorted == Seq("b0", "b1") &&
      before.forall(_.cell.isDefined) && before.size == 8,
      s"expected 2 tags x 4 cell leaves: $before")
    // vec 5 lives in (b0, cell 1); vec 44 in (b1, cell 0)
    val dirty = Similarity.ivfPqLayerDeleteKeys(spark, dir,
      Seq(5L, 44L).toDF("vec_id"))
    assert(dirty == Seq(("b0", 1), ("b1", 0)), s"dirty: $dirty")
    val got = VersionedLayers.readAny(spark, dir)
      .select(col("vec_id"), col("cell"), col("u"), col("batch")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3))).toSet
    val want = (vecs(1 to 40).map(v => (v._1, v._2, v._3, "b0")) ++
      vecs(41 to 80).map(v => (v._1, v._2, v._3, "b1")))
      .filterNot(r => Set(5L, 44L).contains(r._1)).toSet
    assert(got == want, "cell delete fold diverged from the recompute from survivors")
    // clean leaves (including clean cells of the DIRTY tags' siblings)
    // kept their exact store dirs; only the two dirty leaves re-genned
    val after = VersionedLayers.layers(spark, dir)
    val changed = after.toSet -- before.toSet
    assert(changed.map(l => (l.tag, l.cell.get)) == Set("b0" -> 1, "b1" -> 0),
      s"rewrote more than the dirty leaves: $changed")
  }

  test("layout rules: a root holding batch= dirs without a pointer is refused " +
      "naming the dir; a first publish onto an absent root gives a readable " +
      "artifact") {
    val refused = Tables.scratchDir("graft_vl_inplace").toString
    rows(1 to 3, 1).write.parquet(s"$refused/batch=prior")
    Seq[() => Any](
      () => VersionedLayers.layers(spark, refused),
      () => Dedup.readBatchIndex(spark, refused, "t")(spark.range(0).toDF()),
      () => VersionedLayers.publishLayer(spark, refused, "next", rows(4 to 4, 2))
    ).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains(refused) && e.getMessage.contains("batch="),
        e.getMessage)
    }
    // so are a flat root and a cell=-only root: any visible data without
    // a pointer, so a first publish never hides it
    val flat = Tables.scratchDir("graft_vl_flat").toString + "/idx"
    rows(1 to 3, 1).write.parquet(flat)
    val cells = Tables.scratchDir("graft_vl_cells").toString + "/idx"
    rows(1 to 3, 1).write.partitionBy("stamp").parquet(cells)
    Seq(flat, cells).foreach { d =>
      val e = intercept[IllegalArgumentException](
        VersionedLayers.publishLayer(spark, d, "next", rows(4 to 4, 2)))
      assert(e.getMessage.contains(d), e.getMessage)
    }
    val absent = Tables.scratchDir("graft_vl_first").toString + "/not/yet"
    assert(VersionedLayers.layers(spark, absent).isEmpty)
    VersionedLayers.publishLayer(spark, absent, "a", rows(1 to 5, 1))
    assert(observed(absent) == (1 to 5).map(i => (i.toLong, 1)).toSet)
    assert(VersionedLayers.layers(spark, absent).map(_.rel) == Seq("a-g1"))
    // the same for a first upsert fold (stage + rename into a new store)
    val absentFold = Tables.scratchDir("graft_vl_first_fold").toString + "/idx"
    Dedup.indexUpsertFold(spark, absentFold, Seq(9L).toDF("doc_id"), "a",
      rows(1 to 5, 1))
    assert(observed(absentFold) == (1 to 5).map(i => (i.toLong, 1)).toSet)
  }

  private def pointerSeq(dir: String): Long = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    VersionedLayers.readPointer(fs, root).stripPrefix("m-").toLong
  }

  test("one-publish upsert folds (r18): indexUpsertFold equals the delete-then-" +
      "append composition in EXACTLY ONE manifest publish, drops emptied layers, " +
      "keeps clean layers' dirs, and a full replay converges") {
    val fDir = Tables.scratchDir("graft_vl_upfold").toString
    val tDir = Tables.scratchDir("graft_vl_uptwin").toString
    Seq(fDir, tDir).foreach { d =>
      VersionedLayers.publishLayer(spark, d, "t1", rows(1 to 40, 1))
      VersionedLayers.publishLayer(spark, d, "t2", rows(41 to 80, 2))
      VersionedLayers.publishLayer(spark, d, "t3", rows(81 to 120, 3))
    }
    // keys dirty t1 (one row) and EMPTY t2 entirely; t3 stays clean
    val keys = (Seq(5L) ++ (41L to 80L)).toDF("doc_id")
    val fresh = rows(200 to 210, 9)
    // twin: the sequential two-step composition (two publishes)
    Dedup.dedupIndexDeleteKeys(spark, tDir, keys)
    VersionedLayers.publishLayer(spark, tDir, "b9", fresh)
    // fold: one publish — the pointer advances by EXACTLY one generation
    val seq0 = pointerSeq(fDir)
    val dirty = Dedup.indexUpsertFold(spark, fDir, keys, "b9", fresh)
    assert(pointerSeq(fDir) == seq0 + 1L,
      "the combined fold published more than once")
    assert(dirty == Seq("t1", "t2"), s"dirty tags: $dirty")
    assert(observed(fDir) == observed(tDir),
      "one-publish fold diverged from the delete-then-append composition")
    val tags = VersionedLayers.layers(spark, fDir)
    assert(tags.map(_.tag).sorted == Seq("b9", "t1", "t3"),
      s"emptied layer survived or append missing: ${tags.map(_.tag)}")
    assert(tags.find(_.tag == "t3").get.rel == "t3-g3",
      "clean layer was rewritten by the fold")
    // full-batch replay (keys already folded, own tag live): converges and
    // still publishes exactly once
    val seq1 = pointerSeq(fDir)
    assert(Dedup.indexUpsertFold(spark, fDir, keys, "b9", fresh).isEmpty)
    assert(pointerSeq(fDir) == seq1 + 1L)
    assert(observed(fDir) == observed(tDir), "fold replay diverged")
  }

  test("one-publish cell upsert (r18): ivfPqUpsertEncodedKeys equals the append-" +
      "then-delete composition in one publish; replay replaces its own tag's " +
      "leaves wholesale") {
    import graft.operators.Similarity
    def enc(ids: Range): DataFrame = ids.map(i => (i.toLong,
      Seq(i.toLong), Seq(i % 16), i % 4)).toDF("vec_id", "u", "codes", "cell")
    val fDir = Tables.scratchDir("graft_vl_cellup_f").toString
    val tDir = Tables.scratchDir("graft_vl_cellup_t").toString
    Seq(fDir, tDir).foreach { d =>
      VersionedLayers.publishLayer(spark, d, "base",
        enc(1 to 40).select(col("vec_id"), col("u"), col("codes"), col("cell")),
        Seq("cell"))
    }
    val keys = Seq(5L, 6L).toDF("vec_id") // cells 1 and 2 of base go dirty
    val fresh = enc(41 to 60)
    // twin: append then delete (two publishes)
    VersionedLayers.publishLayer(spark, tDir, "grow",
      fresh.select(col("vec_id"), col("u"), col("codes"), col("cell")),
      Seq("cell"))
    Similarity.ivfPqLayerDeleteKeys(spark, tDir, keys)
    def contents(d: String): Set[(Long, Int, String)] =
      VersionedLayers.readAny(spark, d)
        .select(col("vec_id"), col("cell"), col("batch")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val seq0 = pointerSeq(fDir)
    val dirty = Similarity.ivfPqUpsertEncodedKeys(spark, fDir, keys, "grow", fresh)
    assert(pointerSeq(fDir) == seq0 + 1L,
      "the combined cell fold published more than once")
    assert(dirty == Seq(("base", 1), ("base", 2)), s"dirty pairs: $dirty")
    assert(contents(fDir) == contents(tDir),
      "one-publish cell fold diverged from append-then-delete")
    // clean leaves of base keep their dirs; replay replaces grow's leaves
    val cleanBefore = VersionedLayers.layers(spark, fDir)
      .filter(l => l.tag == "base" && !Seq(1, 2).contains(l.cell.get)).toSet
    assert(Similarity.ivfPqUpsertEncodedKeys(spark, fDir, keys, "grow", fresh)
      .isEmpty)
    assert(contents(fDir) == contents(tDir), "cell fold replay diverged")
    val cleanAfter = VersionedLayers.layers(spark, fDir)
      .filter(l => l.tag == "base" && !Seq(1, 2).contains(l.cell.get)).toSet
    assert(cleanBefore == cleanAfter,
      "replay rewrote clean leaves of an untouched tag")
  }

  // Reads plan from the manifest alone: every publish records each
  // staged tag's schema (`#schema` lines), so `read`, `readTags` and
  // `readCells` run no Spark job to plan, and return exactly what footer
  // inference over the same store dirs returns.

  private def docs(ids: Range, stamp: Int): DataFrame =
    ids.map(i => (i.toLong, stamp, s"t$i", Seq(i * 0.5, -i.toDouble)))
      .toDF("doc_id", "stamp", "text", "v")

  private def enc(ids: Range): DataFrame = ids.map(i => (i.toLong,
    Seq(i.toLong), Seq(i % 16), i % 4)).toDF("vec_id", "u", "codes", "cell")

  /** The inferred read of `live`: footer inference over each entry's
    * store dir (partition discovery recovering `cell` for a leaf), plus
    * its `batch` tag. */
  private def inferred(dir: String, live: Seq[VersionedLayers.Layer]): DataFrame =
    live.map { l =>
      val path = new org.apache.hadoop.fs.Path(s"$dir/store", l.rel).toString
      val df = l.cell match {
        case None => spark.read.parquet(path)
        case Some(_) => spark.read
          .option("basePath", s"$dir/store/${l.rel.takeWhile(_ != '/')}")
          .parquet(path).withColumn("cell", col("cell").cast("int"))
      }
      df.withColumn("batch", lit(l.tag))
    }.reduce(_.unionByName(_))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** `read(df)` planned with `expectJobs` Spark jobs and returns the
    * inferred read's schema (names, types, order) and rows. */
  private def assertRead(what: String, dir: String,
                         live: Seq[VersionedLayers.Layer], expectJobs: Int)
                        (read: => DataFrame): Unit = {
    val (df, byLabel) = jobsByLabel { val d = read; d.schema; d }
    val jobs = byLabel.values.sum
    assert(jobs == expectJobs, s"$what planned with $jobs Spark jobs")
    val ref = inferred(dir, live)
    assert(df.schema == ref.schema,
      s"$what schema ${df.schema.simpleString} vs inferred ${ref.schema.simpleString}")
    assert(rowsOf(df) == rowsOf(ref), s"$what rows differ from the inferred read")
  }

  private def assertFlatReads(dir: String, expectJobs: Int = 0): Unit = {
    val live = VersionedLayers.layers(spark, dir)
    assertRead("read", dir, live, expectJobs)(
      VersionedLayers.read(spark, dir)(fail("no live layers")))
    val one = live.head.tag
    assertRead(s"readTags($one)", dir, live.filter(_.tag == one), expectJobs)(
      VersionedLayers.readTags(spark, dir, Set(one)))
  }

  private def manifestPath(dir: String): org.apache.hadoop.fs.Path = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    new org.apache.hadoop.fs.Path(root, s"manifests/${
      VersionedLayers.readPointer(fs, root)}")
  }

  private def manifestLines(dir: String): Seq[String] = {
    val p = manifestPath(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8").split("\n").toSeq.filter(_.nonEmpty)
    finally in.close()
  }

  private def schemaTags(dir: String): Set[String] =
    manifestLines(dir).filter(_.startsWith("#schema\t"))
      .map(_.split("\t")(1)).toSet

  test("flat reads plan with 0 Spark jobs after publishLayer, a delete fold " +
      "with a new tag, and compaction — and equal the inferred read") {
    val dir = Tables.scratchDir("graft_vl_schema_flat").toString
    VersionedLayers.publishLayer(spark, dir, "a", docs(1 to 30, 1))
    VersionedLayers.publishLayer(spark, dir, "b", docs(31 to 60, 2))
    assert(schemaTags(dir) == Set("a", "b"))
    assertFlatReads(dir)

    // rewriteLayers: `a` is dirtied, `c` is a fresh tag, `b` is untouched
    // and carries its schema forward
    Dedup.indexUpsertFold(spark, dir, Seq(5L, 6L).toDF("doc_id"), "c",
      docs(61 to 70, 3))
    assert(VersionedLayers.layers(spark, dir).map(_.tag).sorted ==
      Seq("a", "b", "c"))
    assert(schemaTags(dir) == Set("a", "b", "c"))
    assertFlatReads(dir)

    VersionedLayers.compactVersioned(spark, dir, "compacted", Seq.empty)(identity)
    assert(VersionedLayers.layers(spark, dir).map(_.tag) == Seq("compacted"))
    assert(schemaTags(dir) == Set("compacted"))
    assertFlatReads(dir)
  }

  test("cell reads plan with 0 Spark jobs after a cell upsert with appendTag " +
      "and equal the inferred read") {
    val dir = Tables.scratchDir("graft_vl_schema_cell").toString
    VersionedLayers.publishLayer(spark, dir, "base", enc(1 to 40), Seq("cell"))
    graft.operators.Similarity.ivfPqUpsertEncodedKeys(spark, dir,
      Seq(5L, 6L).toDF("vec_id"),
      "grow", enc(41 to 60))
    val live = VersionedLayers.layers(spark, dir)
    assert(live.map(_.tag).distinct.sorted == Seq("base", "grow"))
    assert(schemaTags(dir) == Set("base", "grow"))
    assertRead("read", dir, live, 0)(
      VersionedLayers.read(spark, dir)(fail("no live layers")))
    assertRead("readTags(grow)", dir, live.filter(_.tag == "grow"), 0)(
      VersionedLayers.readTags(spark, dir, Set("grow")))
    // one rewritten leaf (base, 1) and one untouched leaf (base, 0)
    val pairs = Set(("base", 0), ("base", 1))
    assertRead("readCells", dir,
      live.filter(l => pairs.contains((l.tag, l.cell.get))), 0)(
      VersionedLayers.readCells(spark, dir, pairs))
  }

  test("a manifest without schema lines, as written before schemas were " +
      "recorded, still reads correctly; the next publish records only the " +
      "tags it stages") {
    val dir = Tables.scratchDir("graft_vl_schema_old").toString
    VersionedLayers.publishLayer(spark, dir, "a", docs(1 to 30, 1))
    VersionedLayers.publishLayer(spark, dir, "b", docs(31 to 60, 2))
    val m = manifestPath(dir)
    val fs = m.getFileSystem(spark.sessionState.newHadoopConf())
    val kept = manifestLines(dir).filterNot(_.startsWith("#schema"))
    val out = fs.create(m, true)
    try out.write(kept.map(_ + "\n").mkString.getBytes("UTF-8")) finally out.close()
    assert(schemaTags(dir).isEmpty)
    // footer inference, one job per tag
    val live = VersionedLayers.layers(spark, dir)
    assertRead("read (old manifest)", dir, live, 2)(
      VersionedLayers.read(spark, dir)(fail("no live layers")))

    // a new tag records its schema; the old tags still infer theirs
    VersionedLayers.publishLayer(spark, dir, "c", docs(61 to 70, 3))
    assert(schemaTags(dir) == Set("c"))
    assertRead("read (mixed manifest)", dir,
      VersionedLayers.layers(spark, dir), 2)(
      VersionedLayers.read(spark, dir)(fail("no live layers")))
    assertRead("readTags(c)", dir,
      VersionedLayers.layers(spark, dir).filter(_.tag == "c"), 0)(
      VersionedLayers.readTags(spark, dir, Set("c")))
  }
}
