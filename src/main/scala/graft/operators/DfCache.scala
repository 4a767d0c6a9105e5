package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped registry of memoized persisted DataFrames (the shared
  * shingle/prefix/pair indexes, ntile's pinned range partitioning). One
  * registry instead of a cache map per operator so (a) `putIfAbsent` makes
  * concurrent first access race-safe and (b) a single [[evict]] releases
  * everything a session pinned. Entries otherwise live for the session;
  * long-lived processes that cycle sessions call [[evict]] (exposed as
  * `Dedup.evictCaches`). */
private[graft] object DfCache {
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** Drop entries whose session's SparkContext has stopped — their blocks
    * died with the executors, and the strong (session, DataFrame) refs
    * would otherwise pin dead sessions for the JVM's life in long-lived
    * processes that cycle sessions. Runs on every [[memoize]] (bounded:
    * one isStopped flag read per entry), so leaks self-heal on the next
    * access by any live session; unpersist is skipped — there is nothing
    * left to unpersist on a stopped context, and calling it would throw. */
  private def purgeStopped(): Unit =
    cache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }

  def memoize(spark: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    purgeStopped()
    cache.get((spark, key)) match {
      case Some(df) => df
      case None =>
        val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cache.putIfAbsent((spark, key), df) match {
          // A concurrent first access builds the same deterministic plan, and
          // CacheManager dedupes persist() by plan equality — both DataFrames
          // share ONE cache entry. The loser must NOT unpersist: uncaching is
          // also plan-keyed, so that would evict the winner's entry too and
          // silently un-memoize the index for the rest of the session.
          case Some(winner) => winner
          case None => df
        }
    }
  }

  def evict(spark: SparkSession): Unit =
    cache.filterInPlace { case ((s, _), df) =>
      if (s eq spark) { df.unpersist(); false } else true }

  /** Disk-backed memoization for the shared dedup indexes (shingle /
    * prefix / verified-pair / cluster tables): the in-session [[memoize]]
    * layer on top of a parquet materialization keyed by the *content
    * fingerprint* of the source tables, so a fresh PROCESS (the driver's
    * per-round bench, a new pipeline run) reads the index back instead of
    * re-deriving it — the 100 TB posture, where the shingle/pair index is
    * a first-class persisted artifact next to the corpus, not a per-job
    * temp. Staleness is structural: the cache dir name embeds a hash of
    * every source file's (name, length, mtime), so a regenerated fixture
    * can never be served a stale index — it just misses and rebuilds
    * (stale siblings for the same logical key are deleted on rebuild).
    * Publication is atomic (write to a temp dir, rename into place); a
    * concurrent builder that loses the rename race discards its copy and
    * reads the winner's, and a crashed build leaves only an invisible
    * temp dir, never a half-index. */
  /** `sessionCache = false` skips the in-memory persist layer and always
    * returns the plain parquet read — for partition-laid-out indexes (IVF
    * cells) where the VALUE of the disk copy is that a partition-column
    * filter prunes directories at the scan; a session-level
    * InMemoryRelation would cache every cell and filter in memory
    * instead. */
  def memoizeDisk(spark: SparkSession, key: String, sources: Seq[String],
                  partitionBy: Seq[String] = Nil, sessionCache: Boolean = true)
                 (build: => DataFrame): DataFrame =
    if (sessionCache)
      memoize(spark, key) {
        spark.read.parquet(ensureDir(spark, key, sources, partitionBy)(build))
      }
    else spark.read.parquet(ensureDir(spark, key, sources, partitionBy)(build))

  /** The published artifact DIRECTORY for `key` (building it first if
    * absent) — for fixtures that need a private MUTABLE copy of a durable
    * artifact (t18/t19 stream loops rewrite their corpus in place): a
    * filesystem copy of the published dir is one metadata-speed pass,
    * where re-encoding through a dynamic-partition Spark write would pay
    * a full shuffle+write per call. */
  private[graft] def materializedDir(spark: SparkSession, key: String,
                                     sources: Seq[String],
                                     partitionBy: Seq[String] = Nil)
                                    (build: => DataFrame): String =
    ensureDir(spark, key, sources, partitionBy)(build)

  private def sha(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString

  /** Content fingerprint of the source paths: every file's path RELATIVE
    * to its listed root (not just the base name — in a hive-partitioned
    * source, moving a file between `logdate=` dirs changes its rows'
    * partition-column values while name/size/mtime stay identical, and
    * the fingerprint must change with it), plus size and mtime,
    * directories walked in sorted order. Driver-side metadata ops only —
    * no data is read. */
  private def fingerprint(spark: SparkSession, paths: Seq[String]): String = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val conf = spark.sessionState.newHadoopConf()
    sha(paths.sorted.map { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      if (!fs.exists(hp)) s"$p:absent"
      else {
        val rootStr = fs.getFileStatus(hp).getPath.toString
        def walk(st: FileStatus): Seq[String] =
          if (st.isDirectory)
            fs.listStatus(st.getPath).sortBy(_.getPath.getName).toSeq.flatMap(walk)
          else {
            val rel = st.getPath.toString.stripPrefix(rootStr)
            Seq(s"$rel:${st.getLen}:${st.getModificationTime}")
          }
        walk(fs.getFileStatus(hp)).mkString(s"$p[", ",", "]")
      }
    }.mkString("|"))
  }

  /** (key → EXCLUSIVE seconds) ledger of disk-index builds performed by
    * THIS process — reads of an already-published index record nothing,
    * and a build that triggers nested builds (clusters → pairs → prefix
    * → shingled) records only its own time, so the entries sum to the
    * true total. Bench drains it to report index-build cost as its own
    * line, keeping build vs query cost separable in the round
    * artifacts. */
  private val buildLog =
    scala.collection.concurrent.TrieMap.empty[String, Double]
  // per-thread nesting stack: each frame accumulates child build wall time
  private val buildStack = new ThreadLocal[scala.collection.mutable.Stack[Double]] {
    override def initialValue() = scala.collection.mutable.Stack.empty[Double]
  }
  private[graft] def drainBuildLog(): Map[String, Double] = {
    val m = buildLog.toMap; buildLog.clear(); m
  }

  /** The durable index-cache root. Resolution order: JVM property (test
    * isolation) > env (deployment override) > tmpdir default. The ONE
    * definition — Bench's force-cold eviction and cache-state stamp must
    * read the same root this cache writes, or a drifted copy would evict
    * one directory while entries are served from another and the
    * `index_cache: "cold"` stamp would lie. */
  private[graft] def indexCacheRoot: String =
    sys.props.getOrElse("graft.index.cache",
      sys.env.getOrElse("GRAFT_INDEX_CACHE",
        sys.props("java.io.tmpdir") + "/graft_index_cache"))

  /** One-DataFrame artifact publication — a projection of
    * [[materializedTree]] (the ONE copy of the fingerprint/sweep/
    * rename-race/ledger protocol) whose tree is a single parquet write,
    * hive-laid-out when `partitionBy` is set so a partition-column
    * filter prunes directories at the scan (the IVF cell index reads
    * only the probed cells). */
  private def ensureDir(spark: SparkSession, key: String, sources: Seq[String],
                        partitionBy: Seq[String])
                       (build: => DataFrame): String =
    materializedTree(spark, key, sources) { tmp =>
      val w = build.write.mode("overwrite")
      (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
        .parquet(tmp)
    }

  /** The published artifact TREE for `key` (building it first if absent)
    * — [[materializedDir]] generalized from one DataFrame write to a
    * whole directory tree the `build` callback fills under the path it
    * is given (the x94/t26 pipeline's STORED STATE: six artifacts under
    * one root, built once per corpus version; each query run then takes
    * a private filesystem COPY to mutate). Same fingerprint-keyed
    * staleness, stale-sibling sweep, atomic rename publication, lost-
    * race discard, and build-ledger accounting as [[materializedDir]];
    * nested [[memoizeDisk]] builds inside `build` keep their own ledger
    * entries and are excluded from this key's exclusive seconds — with
    * one known limitation (accounting only, r15 advisory): the build
    * stack is a plain ThreadLocal, so nested builds that `build` fans
    * out to POOL threads (`Maintenance.inParallel`) run on fresh stacks
    * — their wall time is not subtracted from this key's exclusive
    * seconds (overstating it) and their own parent attribution is
    * dropped. The ledger is a diagnostic, not a correctness surface, so
    * the cross-thread frame propagation is deliberately not built. */
  private[graft] def materializedTree(spark: SparkSession, key: String,
                                      sources: Seq[String])
                                     (build: String => Unit): String = {
    import org.apache.hadoop.fs.Path
    val root = new Path(indexCacheRoot)
    val fs = graft.fs.ForkFreeLocalFs.of(spark, root)
    val slug = sha(key)
    val dir = new Path(root, s"${slug}_${fingerprint(spark, sources)}")
    // _SUCCESS is the visibility marker: a crashed writer never produced
    // one (rename publishes the whole dir including the marker atomically)
    if (fs.exists(new Path(dir, "_SUCCESS"))) return dir.toString
    if (fs.exists(root))
      fs.listStatus(root)
        // NEVER the current fingerprint's dir: a concurrent builder may
        // publish it between our marker check and this sweep, and deleting
        // it would yank a just-published index out from under its readers
        // — only genuinely stale source versions go
        .filter(s => s.getPath.getName.startsWith(slug + "_") &&
          s.getPath.getName != dir.getName)
        .foreach(s => fs.delete(s.getPath, true)) // stale source version
    val tmp = new Path(root, s".tmp_${slug}_${java.util.UUID.randomUUID()}")
    val stack = buildStack.get
    stack.push(0.0) // collector frame for nested builds
    val t0 = System.nanoTime()
    try {
      build(tmp.toString)
      // the visibility marker is written into the TEMP dir so the rename
      // publishes it atomically even on deployments that disable
      // mapreduce.fileoutputcommitter.marksuccessfuljobs
      val tmpMarker = new Path(tmp, "_SUCCESS")
      if (!fs.exists(tmpMarker)) fs.create(tmpMarker, true).close()
      if (!fs.rename(tmp, dir)) {
        // rename refused (POSIX onto an existing dir): either a concurrent
        // winner published (marker present — discard ours) or a markerless
        // partial/legacy dir occupies the slot — replace it with the fresh
        // build instead of reading garbage
        if (fs.exists(new Path(dir, "_SUCCESS"))) fs.delete(tmp, true)
        else {
          fs.delete(dir, true)
          if (!fs.rename(tmp, dir)) fs.delete(tmp, true)
        }
      } else {
        // HDFS rename semantics: renaming onto an EXISTING dir moves tmp
        // INSIDE it as debris (hidden from parquet reads by the dot
        // prefix, but a full leaked copy) — the loser removes its bytes
        val nested = new Path(dir, tmp.getName)
        if (fs.exists(nested)) fs.delete(nested, true)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val childSum = stack.pop()
      if (stack.nonEmpty) stack.push(stack.pop() + wall)
      buildLog.put(key, wall - childSum)
    } catch { case e: Throwable => stack.pop(); throw e }
    dir.toString
  }
}
