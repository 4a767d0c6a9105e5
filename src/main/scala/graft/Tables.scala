package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Fixture-table loader. All operators take `(SparkSession, sfDir)` and load
  * their inputs here, so the same code runs at every scale factor — and, on a
  * real cluster, against any parquet root (s3://…, hdfs://…).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The session confs every entry point applies once (Bench, Verify,
    * SparkSpec, SparkEntry and the benchmark) rather than as a hidden
    * side effect of every table load.
    *
    * The local filesystem: `file:` resolves to [[graft.fs.ForkFreeLocalFs]]
    * in every `sessionState.newHadoopConf()` — the conf Spark's writers,
    * readers, listings and streaming checkpoints use, and the one the
    * engine's own filesystem calls take ([[graft.fs.ForkFreeLocalFs.of]]).
    * Stock Hadoop without `libhadoop.so` forks `chmod` per created file and
    * dir and `readlink` per checkpoint-log rename.
    *
    * Parquet timestamp compatibility. Two writer dialects arrive in practice:
    *   - TIMESTAMP(NANOS): Spark has no native nanos type — read as long
    *     (SPARK-40819) and truncate to µs in [[load]].
    *   - TIMESTAMP(MICROS, isAdjustedToUTC=false): pandas/Arrow's default.
    *     Spark 4 infers TIMESTAMP_NTZ for it, which `withWatermark` rejects
    *     (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Session TZ is pinned UTC at
    *     every entry point, so NTZ wall-clock == the UTC instant and reading
    *     it as a plain TIMESTAMP is lossless — disable the inference. */
  def ensureParquetConf(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    graft.fs.ForkFreeLocalFs.sessionConfs.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  /** Scratch root for `spark.local.dir` (shuffle/spill/state-store working
    * files): tmpfs when the machine has one (`/dev/shm`), the JVM tmpdir
    * otherwise. Context-creation-time conf, so the entry points pass it to
    * their builders; cluster deployments set their own fast local dirs
    * (NVMe) the same way. */
  def scratchLocalDir(): String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite) shm.toPath
      else java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    ownScratch(java.nio.file.Files.createTempDirectory(base, "graft_local_")).toString
  }

  private val reaperRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val reaperKeep =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val reaperOwned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Exempt a path (e.g. Verify's output dir, which the caller chose and
    * may well live under /tmp with a graft_ prefix) from the scratch
    * reaper. */
  def keepScratch(path: String): Unit =
    reaperKeep.add(new java.io.File(path).getAbsolutePath): Unit

  /** Claim a scratch path for this process's end-of-run reaper. Ownership
    * is explicit — the reaper deletes ONLY registered paths, never the
    * result of scanning /tmp, so a second graft JVM running concurrently
    * (sbt test alongside Verify/Bench) can't lose its live scratch to this
    * one's exit. */
  def ownScratch(path: java.nio.file.Path): java.nio.file.Path = {
    reaperOwned.add(path.toAbsolutePath.toString)
    path
  }

  /** Create a reaper-owned scratch directory under the JVM tmpdir. The
    * single entry point for ad-hoc scratch in operators and specs. */
  def scratchDir(prefix: String): java.nio.file.Path =
    ownScratch(java.nio.file.Files.createTempDirectory(prefix))

  /** [[scratchDir]]'s single-file sibling. */
  def scratchFile(prefix: String, suffix: String): java.nio.file.Path =
    ownScratch(java.nio.file.Files.createTempFile(prefix, suffix))

  /** Recursive best-effort delete that never follows symlinks: a link is
    * removed as a link (stream-source dirs link to the read-only fixture
    * parquet — recursing through the link would delete fixture data the
    * moment a fixture is directory-shaped). */
  def rmScratch(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(rmScratch)
    f.delete(); ()
  }

  /** Best-effort end-of-process reaper for scratch dirs this process
    * CREATED (stream-source symlink dirs, spec checkpoint/landing/
    * batch-index dirs, local-dir wrappers) — the suites were leaving ~60
    * of them per run. Deletes only [[ownScratch]]-registered paths: no
    * name+mtime heuristics, so concurrent graft JVMs never reap each
    * other, and the durable cross-process index cache is untouched
    * because nothing registers it. Registered once, by the entry points
    * (test base, Verify, Bench). */
  def registerScratchReaper(): Unit =
    if (reaperRegistered.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        reaperOwned.forEach { p =>
          val keep = reaperKeep.stream().anyMatch(k =>
            k == p || k.startsWith(p + java.io.File.separator))
          if (!keep) try rmScratch(new java.io.File(p)) catch { case _: Throwable => () }
        }
      }, "graft-scratch-reaper"))
    }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Normalize every writer dialect of `ts` to a µs TIMESTAMP:
    //   - long nanos (see ensureParquetConf): integer `div` truncation to µs
    //     — exactly what µs engines (DuckDB included) do on read. `div`,
    //     not `/`: nano epochs exceed double's 2^53 exact range.
    //   - TIMESTAMP_NTZ (a session that skipped ensureParquetConf, or a
    //     table handed to us already-read): cast via the session TZ, which
    //     every entry point pins to UTC — the identity on the µs value.
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeTs(df) else df
  }

  /** The `ts`-normalization rule of [[load]] exposed for any DataFrame with
    * an event-time column (the streaming source applies it too). */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol, timestamp_micros(expr(s"$tsCol div 1000")))
      case TimestampNTZType =>
        df.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => df
    }

  def events(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "events")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame    = load(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
