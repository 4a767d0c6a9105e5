package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: runs every declared query against SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Uses the `noop` sink so the entire plan executes
  * (a bare `count()` would let Catalyst prune every computed column). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    val subset = sys.env.get("SPARK_GRAFT_ONLY").exists(_.trim.nonEmpty)
    // Force-cold index cache for the artifact of record: a full bench run
    // evicts any pre-existing durable index cache BEFORE anything touches
    // it, so `index_cache: "cold"` holds for the driver-run artifact and
    // the committed one alike, and every `index_build` second below is a
    // genuine from-scratch build. Relocate-then-delete: the atomic rename
    // guarantees no later lookup can read a half-deleted entry even if
    // the recursive delete is interrupted. The root is resolved through
    // the SAME Hadoop FileSystem DfCache serves entries from — a
    // non-local GRAFT_INDEX_CACHE (hdfs://, s3a://) previously made the
    // java.io.File eviction a silent no-op while the stamp said "cold".
    // Opt out for local warm-cache profiling with
    // SPARK_GRAFT_WARM_INDEX_CACHE=1 (the artifact then honestly stamps
    // "warm"); SPARK_GRAFT_ONLY subsets never evict — profiling one
    // query should not destroy the shared cache.
    val cacheRoot = new org.apache.hadoop.fs.Path(graft.operators.DfCache.indexCacheRoot)
    val cacheFs = graft.fs.ForkFreeLocalFs.of(spark, cacheRoot)
    locally {
      val keepWarm = sys.env.get("SPARK_GRAFT_WARM_INDEX_CACHE").exists(_.trim.nonEmpty)
      if (!subset && !keepWarm && cacheFs.exists(cacheRoot) &&
          cacheFs.listStatus(cacheRoot).nonEmpty) {
        val stale = new org.apache.hadoop.fs.Path(cacheRoot.getParent,
          cacheRoot.getName + "_stale_" + ProcessHandle.current().pid())
        if (cacheFs.rename(cacheRoot, stale)) { cacheFs.delete(stale, true); () }
        else cacheFs.listStatus(cacheRoot).foreach { entry =>
          // non-atomic fallback: unpublish each entry FIRST (DfCache's
          // visibility marker is _SUCCESS), so a kill mid-delete can
          // never leave a published-looking entry with missing files
          cacheFs.delete(new org.apache.hadoop.fs.Path(entry.getPath, "_SUCCESS"), false)
          cacheFs.delete(entry.getPath, true)
        }
      }
    }
    // Untimed warm-up: session/codegen/JIT startup otherwise lands entirely
    // on whichever query sorts first (~5 s of pure infrastructure). The
    // second pass warms the shuffle/aggregate machinery too, not just scan.
    try {
      // every fixture table: footer decode, page cache, and scan codegen
      // should not land on whichever timed query reaches a table first
      Tables.all.foreach(t =>
        Tables.load(spark, sfDir, t).write.format("noop").mode("overwrite").save())
      Tables.events(spark, sfDir)
        .groupBy(org.apache.spark.sql.functions.col("event_type")).count()
        .write.format("noop").mode("overwrite").save()
      // Custom-expression codegen warm-up over 32 rows: the shingle/hash
      // chain, posting explode→join→sort_array shape, and the vector ops
      // compile seconds of generated code on FIRST use — profiled at ~7 s
      // landing entirely on whichever index-family query sorts first
      // (x13). Compile it against 32 rows instead, so timed numbers
      // measure data flow, not javac. The memoized indexes are NOT
      // pre-built: DfCache is untouched and x13 still pays its real
      // index build in-band.
      locally {
        import org.apache.spark.sql.functions._
        import graft.functions.{TextFns, VectorFns}
        val d32 = Tables.documents(spark, sfDir).limit(32)
          .select(col("doc_id"),
            TextFns.shingleHashes(TextFns.tokens(col("text")), 3).as("sh"))
          .where(size(col("sh")) > 0)
        val p = d32.select(col("doc_id"), explode(col("sh")).as("s"))
        val dfq = p.groupBy(col("s")).agg(count(lit(1)).as("df"))
        val pre = p.join(dfq, "s").groupBy(col("doc_id"))
          .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("arr"))
          .select(col("doc_id"), size(col("arr")).as("n"),
            explode(slice(col("arr"), lit(1),
              (size(col("arr")) - ceil(lit(0.8) * size(col("arr")) - 1e-9) + 1)
                .cast("int"))).as("e"))
          .select(col("doc_id"), col("e.s").as("s"), col("n"))
        pre.as("a")
          .join(pre.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
          .distinct()
          .join(d32.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
          .join(d32.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
          .select(size(array_intersect(col("sh1"), col("sh2"))).as("i"))
          .write.format("noop").mode("overwrite").save()
        d32.select(TextFns.minhashSig(col("sh"), 16).as("sig"),
            TextFns.simhash32(col("sh")).as("sh32"),
            TextFns.polyHash(col("doc_id").cast("string")).as("fp"))
          .write.format("noop").mode("overwrite").save()
        Tables.embeddings(spark, sfDir).limit(32)
          .select(VectorFns.dot(col("embedding"), col("embedding")).as("d"),
            VectorFns.norm(col("embedding")).as("nr"),
            VectorFns.signBucket(col("embedding"), 64, 12).as("b"))
          .write.format("noop").mode("overwrite").save()
      }
      // Streaming-machinery warm-up over 32 rows: the FIRST use of each
      // stateful streaming operator in a JVM pays one-time costs no later
      // micro-batch repays — StreamExecution/offset-log class init, the
      // state-store provider registry, per-operator codegen, Avro state
      // encoders, and (largest) extraction+dlopen of the RocksDB native
      // library. Profiled at ~1-1.5 s PER OPERATOR TYPE, landing on
      // whichever t-query reaches that operator first (t1 3.3→1.9 s,
      // t2b 3.8→1.9 s, t10 3.2→1.6 s cold vs warmed). Same JMH discipline
      // as the codegen warm-up above — a real pipeline executor pays
      // these once per process lifetime, then runs micro-batches for
      // days; the timed numbers should measure steady-state data flow.
      // One tiny AvailableNow execution per distinct stateful operator:
      locally {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
        import spark.implicits._
        val pkey = "spark.sql.streaming.stateStore.providerClass"
        val skey = "spark.sql.shuffle.partitions"
        val prevP = spark.conf.getOption(pkey)
        val prevS = spark.conf.getOption(skey)
        spark.conf.set(skey, "2")
        val dir = graft.Tables.scratchDir("graft_warm_stream_")
        try {
          Tables.events(spark, sfDir).limit(32)
            .select(col("user_id"), col("ts"), col("event_type"))
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/src")
          val schema = spark.read.parquet(s"$dir/src").schema
          def src() = spark.readStream.schema(schema).parquet(s"$dir/src")
          def run(tag: String, mode: String)(df: DataFrame): Unit = {
            val q = df.writeStream.format("noop").outputMode(mode)
              .option("checkpointLocation", s"$dir/ck_$tag")
              .trigger(Trigger.AvailableNow()).start()
            try q.awaitTermination() finally { if (q.isActive) q.stop() }
          }
          // windowed agg (t1/t11/t12 shape) + complete-mode state save
          run("agg", "complete")(
            src().groupBy(window(col("ts"), "5 minutes")).count())
          // watermark + append finalization (t1b/t5 shape)
          run("wm", "append")(src().withWatermark("ts", "10 minutes")
            .groupBy(window(col("ts"), "5 minutes")).count())
          // streaming dropDuplicates (t5's operator)
          run("dd", "append")(src().withWatermark("ts", "10 minutes")
            .dropDuplicates("user_id", "ts"))
          // session window (t2b's operator)
          run("sw", "append")(src().withWatermark("ts", "10 minutes")
            .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
            .count())
          // flatMapGroupsWithState (t3's operator)
          run("fmg", "append")(src()
            .select(col("user_id").cast("long").as("u"), col("event_type").as("c"))
            .as[(Long, String)].groupByKey(_._1)
            .flatMapGroupsWithState(OutputMode.Append,
              org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
              (u: Long, it: Iterator[(Long, String)],
               st: org.apache.spark.sql.streaming.GroupState[Set[String]]) =>
                val seen = st.getOption.getOrElse(Set.empty[String])
                val fresh = it.map(_._2).toSeq.distinct.filterNot(seen)
                if (fresh.nonEmpty) st.update(seen ++ fresh)
                fresh.iterator.map(c => (u, c))
            }.toDF("u", "c"))
          // stream-stream interval join (t4's operator pair)
          locally {
            val a = src().select(col("user_id"), col("ts").as("a_ts"))
              .withWatermark("a_ts", "10 minutes")
            val b = src().select(col("user_id").as("u2"), col("ts").as("b_ts"))
              .withWatermark("b_ts", "10 minutes")
            run("ssj", "append")(a.join(b,
              col("user_id") === col("u2") && col("b_ts") >= col("a_ts") &&
                col("b_ts") <= col("a_ts") + expr("INTERVAL 600 seconds")))
          }
          // transformWithState on RocksDB (t10/t11's operator + native lib)
          spark.conf.set(pkey,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          run("tws", "append")(src()
            .select(col("user_id").cast("long").as("u"),
              graft.functions.Times.epochSeconds(col("ts")).as("e"))
            .as[(Long, Long)].groupByKey(_._1)
            .transformWithState(new graft.streaming.StreamingIngest.CountMaxProcessor,
              TimeMode.None(), OutputMode.Append())
            .toDF("u", "n", "m"))
        } finally {
          prevP.fold(spark.conf.unset(pkey))(spark.conf.set(pkey, _))
          prevS.fold(spark.conf.unset(skey))(spark.conf.set(skey, _))
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
          }
          rm(dir.toFile)
        }
      }
    } catch { case _: Throwable => () }
    // Index prebuild phase: every disk-memoized index is built (or read
    // back, if the environment already has it) HERE, and the per-index
    // build seconds are reported as their own `index_build` line — build
    // cost stays visible to the driver instead of folding into whichever
    // timed query touches an index first (round 7's 300 s x6f tail). This
    // is the production posture too: indexes are maintained artifacts
    // next to the corpus, built once per corpus version, not per query.
    // (skipped under a SPARK_GRAFT_ONLY subset — local profiling of one
    // query should see its real in-band build cost when it wants to)
    // Cache state of record, stamped into the JSON: "cold" = the durable
    // cross-process index cache has NO entries at prebuild time — the
    // default for every full run since the force-cold eviction above
    // (every index_build second below is a genuine from-scratch build —
    // the round-snapshot posture, and the driver's); "warm" = entries
    // existed (only possible under SPARK_GRAFT_WARM_INDEX_CACHE=1
    // profiling; the per-index lines then list only what was missing);
    // "in-band" = SPARK_GRAFT_ONLY profiling, no prebuild at all.
    val indexCacheState =
      if (subset) "in-band"
      else if (cacheFs.exists(cacheRoot) && cacheFs.listStatus(cacheRoot).nonEmpty) "warm"
      else "cold"
    val indexBuild: Map[String, Double] = if (subset) Map.empty else {
      import graft.operators.{Dedup, Relational, Similarity, TextAnalysis}
      // builders without a DfCache ledger entry report their own wall time
      val manual = scala.collection.mutable.Map.empty[String, Double]
      def timed(name: String)(f: => Unit): Unit = {
        val t0 = System.nanoTime()
        f
        manual(name) = (System.nanoTime() - t0) / 1e9
      }
      val builders: Seq[(String, () => Unit)] = Seq(
        // j12's bucketed-table ingest: the pay-the-shuffle-once layout —
        // maintained artifact, so its CTAS cost belongs on this line
        "bucket_tables" -> (() =>
          timed("bucket_tables") { Relational.ensureBucketTables(spark, sfDir); () }),
        "ivf_centroids" -> (() => { Similarity.ivfCentroids(spark, sfDir); () }),
        "ivf_assignment" -> (() => { Similarity.ivfAssignment(spark, sfDir); () }),
        "pq_codebooks" -> (() => { Similarity.pqCodebooks(spark, sfDir); () }),
        "pq_codes" -> (() => { Similarity.pqIndex(spark, sfDir); () }),
        "ivfpq_index" -> (() => { Similarity.ivfPqIndex(spark, sfDir); () }),
        // x5b's 32-cell blocking quantizer (distinct from x6b's 16-cell)
        "ivf_centroids_32" -> (() => { Similarity.ivfCentroids(spark, sfDir, 32); () }),
        // x13 chain: shingle → prefix → verified pairs → clusters
        "dedup_clusters" -> (() => { Dedup.dupClusters(spark, sfDir); () }),
        // x43/x48's shared co-occurrence pair table
        "cooc_pairs" -> (() => { TextAnalysis.cooccurrenceLift(spark, sfDir); () }),
        // x54/x56's winnowing span-fingerprint table
        "subdup_spans" -> (() => { TextAnalysis.spanIndex(spark, sfDir); () }),
        // x20/x29's maintained BM25 corpus stats (vocab df + scalars)
        "bm25_stats" -> (() => {
          graft.operators.Search.bm25TermDf(spark, sfDir)
          graft.operators.Search.bm25Scalars(spark, sfDir); () }),
        // x76/x77's day-partitioned landing of the maintained view source
        "event_landing" -> (() => {
          graft.operators.Maintenance.landedEvents(spark, sfDir); () }),
        // x77/t19's stored aggregate and t18's day-partitioned doc
        // landing — without these here, the first timed query touching
        // them pays the from-scratch artifact build in-band
        "stored_agg" -> (() => {
          graft.operators.Maintenance.storedAggDir(spark, sfDir); () }),
        "doc_landing" -> (() => {
          graft.operators.Maintenance.landedDocsDir(spark, sfDir); () }),
        // t21's stored-split BM25 stats (the fixture copies these tiny
        // artifacts per run; the build is two stored-corpus scans)
        "t21_stored_stats" -> (() => {
          graft.streaming.StreamingIngest.t21StoredStatsDirs(spark, sfDir); () }),
        // x94/x96/t26's stored pipeline state (six artifacts, built once
        // per corpus version; each query run takes a filesystem copy)
        "x94_stored_tree" -> (() => {
          graft.operators.Maintenance.multiArtifactStoredTree(spark, sfDir); () }))
      builders.foreach { case (name, f) =>
        try f() catch { case e: Throwable =>
          System.err.println(s"[bench] index prebuild $name failed: ${e.getMessage}")
        }
      }
      // ledger keys carry the sfDir — strip it so the report is stable
      // across scale factors
      graft.operators.DfCache.drainBuildLog()
        .map { case (k, v) => k.replace(sfDir, "") -> v } ++ manual
    }
    // SPARK_GRAFT_ONLY subset (shared semantics with Verify) — for
    // isolating one query's cost from its neighbors (JIT, GC, cache
    // residue are order-coupled).
    val selected = SparkEntry.selectedQueries.toSeq.sortBy(_._1)
    // SPARK_GRAFT_REPS=N (default 3) runs each query N times and reports
    // the per-query MEDIAN (plus min, in the file artifact). Identical
    // unchanged queries drifted 20-35% between single-shot cold runs on
    // this host (q_compact 2.88→3.72 s with zero code change), which made
    // round-over-round deltas unattributable; the median of 3 absorbs
    // one bad draw per query while the recorded min bounds the query's
    // intrinsic cost from below. N is stamped into both JSON outputs as
    // "reps" so every artifact states its own protocol. Floor at 1:
    // REPS=0 would skip execution yet report a passing time.
    // SPARK_GRAFT_REPEAT keeps its ORIGINAL semantics — run N times,
    // report the LAST run (pure steady-state, cold first run excluded) —
    // so profiling numbers stay comparable with earlier rounds; REPS
    // wins when both are set.
    val repsEnv = sys.env.get("SPARK_GRAFT_REPS").map(_.toInt)
    val repeatEnv = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt)
    val lastOnly = repsEnv.isEmpty && repeatEnv.isDefined
    val reps = math.max(1, repsEnv.orElse(repeatEnv).getOrElse(3))
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def summarize(xs: Seq[Double]): Double = if (lastOnly) xs.last else median(xs)
    val protocol = if (lastOnly) "last" else "median"
    val results = selected.map { case (name, fn) =>
      var ok = true
      val times = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to reps if ok) {
        val t0 = System.nanoTime()
        ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        times += (System.nanoTime() - t0) / 1e9
        // Untimed inter-rep/inter-query housekeeping (the JMH
        // between-iterations discipline): collect the garbage the run
        // just created so the NEXT number is its own cost, not this
        // one's GC debt — without it, whichever run happens to trip the
        // full collection ~70 queries in reads 5× slower run-to-run.
        System.gc()
      }
      // failures are marked -1 so a broken query can't read as a fast pass
      (name, if (ok) summarize(times.toSeq) else -1.0,
        if (ok) times.min else -1.0, if (ok) times.head else -1.0, ok)
    }
    val failed = results.collect { case (k, _, _, _, false) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, _, true) => v }.sum
    // protocol continuity (r10 advisory): the sum of FIRST reps is the
    // single-shot cold-process total every pre-median-protocol artifact
    // reported — kept alongside the median total so round-over-round
    // comparisons can always be made like-for-like
    val totalFirst = results.collect { case (_, _, _, f, true) => f }.sum
    def r3(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    // Full-precision per-query JSON goes to a FILE, not stdout: the
    // harness that captures this main keeps only a bounded tail of the
    // output, and ~90 queries of full-precision doubles overflow it —
    // which truncates the line mid-object and breaks its JSON parse.
    // Failed queries are named ONLY in `failed` — no -1.0 sentinels in the
    // maps, so naive sums/averages over `queries` stay meaningful.
    val allQs = results.collect { case (k, v, _, _, true) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val allMins = results.collect { case (k, _, mn, _, true) => "\"" + k + "\":" + mn }
      .mkString("{", ",", "}")
    val ib = indexBuild.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val ibTotal = r3(indexBuild.values.sum)
    // Provenance stamp: the git SHA (+ dirty flag) of the tree this
    // binary was built from, so a committed record is mechanically
    // checkable against the code it measured — a record taken on a
    // dirty tree can never masquerade as HEAD's.
    val (gitSha, gitDirty) = gitStamp()
    val prov = s""""git":"$gitSha","git_dirty":$gitDirty,"subset":$subset"""
    val fullJson =
      s"""{"bench_total_sec":${r3(total)},"single_shot_total_sec":${r3(totalFirst)},"unit":"sec","reps":$reps,"protocol":"$protocol",$prov,"queries":$allQs,"queries_min":$allMins,"index_build":$ib,"index_build_total_sec":$ibTotal,"index_cache":"$indexCacheState","failed":$failed,"sf":"$sfDir"}"""
    val artifact = artifactFileName(subset, gitDirty)
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      (fullJson + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] $artifact write failed: $e") }
    // The ONE stdout JSON line stays well under ~1,600 chars so a
    // 2,000-char tail always holds it whole (the r16 capture truncated
    // mid-line and nulled the driver's whole round-over-round comparison
    // — VERDICT r17 #3): the 40 costliest queries (3 dp, alphabetical
    // for round-over-round diffing) plus an explicit omitted-summary —
    // never a silent drop — and the headline total. The per-index
    // `index_build` DETAIL lives only in the file artifact now
    // (BENCH_LOCAL.json keeps the full dict); the stdout line carries
    // the total and the cache state — the ~650-char dict was the one
    // part of the line that grew with the index inventory.
    val passed = results.collect { case (k, v, _, _, true) => (k, v) }
    val top = passed.sortBy(-_._2).take(40).sortBy(_._1)
    val omitted = passed.sortBy(-_._2).drop(40)
    val qs = top.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val om = s"""{"n":${omitted.size},"sec":${r3(omitted.map(_._2).sum)}}"""
    println(s"""{"metric":"total","value":${r3(total)},"single_shot_total_sec":${r3(totalFirst)},"unit":"sec","reps":$reps,"protocol":"$protocol",$prov,"queries":$qs,"omitted":$om,"index_build_total_sec":$ibTotal,"index_cache":"$indexCacheState","failed":$failed,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Which file a run's full-precision JSON lands in. A SPARK_GRAFT_ONLY
    * subset run writes `BENCH_SUBSET.json`, NEVER the full-run artifact
    * of record — round 11's end-of-round snapshot clobbered a certified
    * 175-query `BENCH_LOCAL.json` with a one-query profiling run, and
    * this split makes that slip structurally impossible. Likewise a
    * full run on a DIRTY tree writes `BENCH_DIRTY.json`: round 12's
    * driver run (dirty by its own untracked round artifacts, on a
    * loaded host) landed in `BENCH_LOCAL.json` and was then committed
    * over the certified clean cold record. Only a clean-tree full run
    * may touch the artifact of record. Pure so the spec can pin all
    * three branches. */
  private[graft] def artifactFileName(subset: Boolean, dirty: Boolean = false): String =
    if (subset) "BENCH_SUBSET.json"
    else if (dirty) "BENCH_DIRTY.json"
    else "BENCH_LOCAL.json"

  /** `(sha, dirty)` of the working tree the benched classes were built
    * from — `("unknown", false)` outside a git checkout (e.g. a deployed
    * jar), never a throw: provenance must not fail the bench. */
  private[graft] def gitStamp(): (String, Boolean) = {
    def run(cmd: String*): Option[String] =
      try {
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
        if (p.waitFor() == 0) Some(out) else None
      } catch { case _: Throwable => None }
    val sha = run("git", "rev-parse", "HEAD").getOrElse("unknown")
    val dirty = sha != "unknown" && run("git", "status", "--porcelain")
      .exists { out =>
        val dirt = dirtLines(out.linesIterator.toSeq)
        // self-diagnosing: a dirty stamp names its dirt, so a "why is my
        // clean tree dirty?" hunt reads the bench log, not the source
        if (dirt.nonEmpty)
          System.err.println(s"[bench] git_dirty because of: ${dirt.mkString(", ")}")
        dirt.nonEmpty
      }
    (sha, dirty)
  }

  /** The porcelain status lines that are REAL dirt — anything that could
    * have influenced the built classes. The bench's own output artifacts
    * are excluded: a back-to-back re-run would otherwise read its
    * predecessor's record as tree dirt and stamp itself dirty forever.
    * Tolerates lines whose leading status column was eaten by an
    * upstream `.trim` (the whole-output trim in [[gitStamp]] strips the
    * first line's leading space, so ` M FILE` arrives as `M FILE`):
    * the path is everything after the first whitespace run of the
    * trimmed line, not a fixed 3-char offset. */
  private[graft] def dirtLines(statusLines: Seq[String]): Seq[String] =
    statusLines.filter { l =>
      val path = l.trim.dropWhile(!_.isWhitespace).trim
      l.trim.nonEmpty &&
        path != "BENCH_LOCAL.json" && path != "BENCH_SUBSET.json" &&
        path != "BENCH_DIRTY.json"
    }

  private[graft] def dirtyLines(statusLines: Seq[String]): Boolean =
    dirtLines(statusLines).nonEmpty
}
