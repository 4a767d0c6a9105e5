package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sources.{Bookkeeping, Landing, Notify}
import graft.streaming.{CompletenessListener, JdbcCompletenessStore, StreamingIngest}

/** One landing pipeline as a sink deployment runs it: a checkpoint, a
  * partitioned catalog table over the out path, a Derby bookkeeping DB,
  * a [[CompletenessListener]] over a [[JdbcCompletenessStore]] that POSTs
  * each completed logdate to the notify stub, and the stub itself.
  *
  * `landStream` reads the stream source dir
  * `<java.io.tmpdir>/graft_stream_src_<sfDir with non-alphanumerics as _>`
  * (the benchmark creates it, so `landStream` does not link the fixture
  * file into it) and takes the schema from `<sfDir>/events.parquet`, a
  * copy of the input's empty schema file. The source dir starts empty;
  * [[arrive]] moves arrival files into it. */
final class Pipeline private (spark: SparkSession, root: Path, id: Int) {
  val sfDir: Path = root.resolve("sf")
  val srcDir: Path = Paths.get(sys.props("java.io.tmpdir"),
    "graft_stream_src_" + sfDir.toString.replaceAll("[^0-9a-zA-Z]", "_"))
  val outPath: String = root.resolve("out").toString
  val checkpoint: String = root.resolve("ckpt").toString
  val table: String = s"perfbench_landed_$id"
  val jdbcUrl: String = Bookkeeping.derbyUrl(root.resolve("bk").toString)
  val stub = new NotifyStub
  private var listener: CompletenessListener = _
  // registered after `listener`: the bus calls listeners in order, so once
  // this one has counted a progress event the completeness listener has
  // acted on it
  private val progress = new ProgressCount
  private var callbacks: StreamingIngest.LandingCallbacks = _

  private def open(schema: Path): Unit = {
    Files.createDirectories(sfDir)
    Files.createDirectories(srcDir)
    Files.copy(schema, sfDir.resolve("events.parquet"))
    Landing.createPartitionedTable(spark, table,
      StreamingIngest.enriched(spark, sfDir.toString).schema, Seq("logdate"), outPath)
    Bookkeeping.ensureTable(jdbcUrl)
    listener = new CompletenessListener(300L,
      Some(new JdbcCompletenessStore(jdbcUrl, "sink")))(
      ld => { Notify.post(stub.url, "complete", ld); () })
    spark.streams.addListener(listener)
    spark.streams.addListener(progress)
    callbacks = StreamingIngest.LandingCallbacks(catalogTable = Some(table),
      jdbcUrl = Some(jdbcUrl), notifyUrl = Some(stub.url),
      completeness = Some(listener))
  }

  /** Move an arrival file into the stream source dir (an atomic rename, as
    * a producer publishing a finished file would). Returns the move time. */
  def arrive(file: Path): Double = {
    Files.move(file, srcDir.resolve(file.getFileName))
    Clock.nowMs
  }

  def land(): StreamingIngest.LandingReport =
    StreamingIngest.landStream(spark, sfDir.toString, outPath, checkpoint, callbacks)

  /** Wait until `n` micro-batches' progress events have been delivered. */
  def awaitProgress(n: Int): Boolean = progress.await(n)

  /** Partition dir → landed file count under the out path. */
  def fileCensus(): Map[String, Int] =
    Landing.partitionFileStats(spark, outPath).map(p => p._1 -> p._2).toMap

  /** What the correctness gate compares against the generator's truth:
    * rows and `no_category` rows per logdate read through the catalog
    * table, the bookkeeping `sinkcount` sum per logdate, and every request
    * the stub received. */
  def observe(): Map[String, Any] = {
    spark.catalog.refreshTable(table)
    val landed = spark.table(table).groupBy(col("logdate"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("category") === "no_category", 1).otherwise(0)).as("nc"))
      .collect()
    val sinkcount = Bookkeeping.read(spark, jdbcUrl)
      .where(col("name") === "sink")
      .groupBy(col("logdate")).agg(sum(col("sinkcount")).as("s"))
      .collect()
    Map(
      "landed" -> landed.map(r => r.getString(0) -> r.getLong(1)).toMap,
      "no_category" -> landed.map(r => r.getString(0) -> r.getLong(2)).toMap,
      "sinkcount" -> sinkcount.map(r => r.getString(0) -> r.getLong(1)).toMap,
      "posts" -> stub.posts.map { case (p, t) => Seq(p, t) })
  }

  def close(): Unit = {
    if (listener != null) spark.streams.removeListener(listener)
    spark.streams.removeListener(progress)
    stub.stop()
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try java.sql.DriverManager.getConnection(
      jdbcUrl.replace(";create=true", ";shutdown=true"))
    catch { case _: java.sql.SQLException => () } // Derby reports shutdown as an exception
  }
}

/** Counts streaming progress events: before the gate, a run waits until
  * every micro-batch's progress has been delivered, so the completeness
  * listener has seen the final watermark. */
final class ProgressCount extends StreamingQueryListener {
  val seen = new AtomicInteger
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    seen.incrementAndGet(); ()
  }

  def await(n: Int, timeoutMs: Long = 20000L): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (seen.get < n && System.currentTimeMillis() < deadline) Thread.sleep(20)
    seen.get >= n
  }
}

object Pipeline {
  private var next = 0

  /** Set up a fresh pipeline under `root`; returns it with its set-up
    * time in seconds. */
  def setUp(spark: SparkSession, root: Path, schema: Path): (Pipeline, Double) = {
    val t0 = Clock.nowMs
    next += 1
    val p = new Pipeline(spark, root, next)
    p.open(schema)
    (p, (Clock.nowMs - t0) / 1000.0)
  }
}
