package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.Counters

/** The benchmark's JVM side. Drives the program's own layer
  * functions in a closed loop with one caller over inputs `gen.py` made,
  * and writes every raw sample, observation and (traced) listener record
  * to one JSON file for `run.py`, which derives the metrics and the
  * correctness verdict.
  *
  * {{{
  * Main <workload> <input dir> <scratch dir> <seconds> <trace 0|1> <out json>
  * }}} */
object Main {
  /** sink_microbatch: pipelines set up (and closed) at the start of the
    * run, before any landing; `setup_s` is their median. The first is
    * cold. */
  val SetUps = 5
  /** sink_microbatch: unmeasured batches before the measured ones. */
  val WarmupBatches = 3

  /** A run measures a fixed amount of work that `--seconds` sizes, not a
    * time window: the JVM is still warming while it measures, so a
    * time-bound loop would give a faster host more, and faster, batches.
    * sink_microbatch: 0.6 batch per second, at least 12. */
  def measuredBatches(seconds: Int): Int = math.max(12, seconds * 3 / 5)
  /** Measured counters runs per run (after one warm-up run); the read
    * metric is their mean. */
  val CounterReps = 5

  final case class Ctx(spark: SparkSession, input: Path, scratch: Path,
                       seconds: Int, tracer: Option[Tracer]) {
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val setups = ArrayBuffer.empty[Double]
    // sink_microbatch: what each landing pipeline holds at the end
    val pipelines = ArrayBuffer.empty[Map[String, Any]]
    // index_maintain: the state each probe saw, each window's firings, the
    // index builds of each set-up, and (traced) admissions and layer census
    val probes = ArrayBuffer.empty[Map[String, Any]]
    val compactions = ArrayBuffer.empty[Map[String, Boolean]]
    val dfcacheBuilds = ArrayBuffer.empty[Map[String, Double]]
    val admits = ArrayBuffer.empty[Map[String, Any]]
    val census = ArrayBuffer.empty[Map[String, Any]]

    def span[A](kind: String, attrs: Map[String, Any] = Map.empty)(f: => A): A =
      tracer.fold(f)(_.span(kind, attrs)(f))

    /** Run one operation; it fails if it throws or `check` rejects it. */
    def op[A](kind: String, extra: Map[String, Any] = Map.empty)(f: => A)(
        check: A => Boolean): Option[A] = {
      val t0 = Clock.nowMs
      val r = Try(span(kind, Map("op" -> ops.size))(f))
      val t1 = Clock.nowMs
      val ok = r.map(check).getOrElse(false)
      val err = r match {
        case Failure(e) => s"${e.getClass.getName}: ${e.getMessage}"
        case Success(_) if !ok => "check failed"
        case _ => null
      }
      ops += (extra ++ Map("kind" -> kind, "start" -> t0, "end" -> t1,
        "ok" -> ok, "error" -> err))
      r.toOption
    }

    /** Partitions and files `f` added under the pipeline's out path —
      * listed outside the span, and only when tracing. */
    def withCensus[A](p: Pipeline)(f: => A): A = tracer match {
      case None => f
      case Some(t) =>
        val before = p.fileCensus()
        val r = f
        val after = p.fileCensus()
        t.annotate(Map(
          "partitions" -> after.count { case (k, n) => before.getOrElse(k, 0) != n },
          "files" -> (after.values.sum - before.values.sum)))
        r
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, input, scratch, seconds, trace, out) = args
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, Paths.get(scratch))
    val ctx = Ctx(spark, Paths.get(input), Paths.get(scratch), seconds.toInt,
      if (trace == "1") Some(new Tracer(spark)) else None)
    val controlBefore = HostControl.ms()
    workload match {
      case "sink_microbatch" => sinkMicrobatch(ctx)
      case "index_maintain" => IndexMaintain.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val control = Seq(controlBefore, HostControl.ms())
    val result = Map(
      "workload" -> workload, "cpus" -> cpus, "host_control_ms" -> control,
      "ops" -> ctx.ops.toSeq, "setups" -> ctx.setups.toSeq,
      "pipelines" -> ctx.pipelines.toSeq, "probes" -> ctx.probes.toSeq,
      "compactions" -> ctx.compactions.toSeq, "dfcache_builds" -> ctx.dfcacheBuilds.toSeq,
      "admits" -> ctx.admits.toSeq, "census" -> ctx.census.toSeq,
      "live_heap_mb" -> Heap.liveMb(),
      "trace" -> ctx.tracer.map(_.dump()))
    Files.writeString(Paths.get(out), Json(result))
    spark.stop()
  }

  /** The session `graft.Bench` builds, with every scratch location inside
    * the run's own directory. */
  def session(cpus: Int, scratch: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", Files.createDirectories(scratch.resolve("local")).toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tables.ensureParquetConf(spark)
    spark
  }

  /** The input's arrival files or upsert passes, with their rows, as
    * `gen.py` lists them in `files.tsv`. */
  def inputFiles(input: Path): Seq[(String, Long)] =
    Files.readAllLines(input.resolve("files.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map { l => val Array(n, r) = l.split("\t"); n -> r.toLong }

  private def countersOp(ctx: Ctx, sfDir: Path, rows: Long,
                         measured: Boolean): Option[Array[Row]] =
    ctx.op("counters", Map("measured" -> measured)) {
      Counters.categoryWindowCounts(ctx.spark, sfDir.toString).collect()
    }(rs => rs.map(_.getLong(2)).sum == rows)

  private def countersRows(rs: Option[Array[Row]]): Seq[Seq[Any]] =
    rs.toSeq.flatten.map(r => Seq(r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))

  /** One long-running landing pipeline: each operation moves the next
    * arrival file into the stream source dir and calls `landStream` to
    * drain it — one micro-batch per call. */
  def sinkMicrobatch(ctx: Ctx): Unit = {
    val files = inputFiles(ctx.input)
    val schema = ctx.input.resolve("schema.parquet")
    for (i <- 0 until SetUps) {
      val (p, s) = Pipeline.setUp(ctx.spark, ctx.scratch.resolve(s"setup-$i"), schema)
      ctx.setups += s
      p.close()
    }
    val (pipe, _) = Pipeline.setUp(ctx.spark, ctx.scratch.resolve("sink"), schema)
    val n = math.min(files.size, WarmupBatches + measuredBatches(ctx.seconds))
    for (k <- 0 until n) {
      val (name, rows) = files(k)
      val moved = pipe.arrive(ctx.input.resolve("arrivals").resolve(name))
      ctx.withCensus(pipe) {
        ctx.op("land", Map("file" -> name, "moved" -> moved,
          "events" -> rows, "measured" -> (k >= WarmupBatches)))(pipe.land())(_.nEvents == rows)
      }
    }
    val delivered = pipe.awaitProgress(n)
    // the counters read the same events the pipeline consumed
    val consumed = files.take(n)
    val csf = Files.createDirectories(ctx.scratch.resolve("counters_sf/events.parquet"))
    consumed.foreach { case (f, _) => Files.createLink(csf.resolve(f), pipe.srcDir.resolve(f)) }
    val rows = consumed.map(_._2).sum
    var counted: Option[Array[Row]] = None
    (0 to CounterReps).foreach(i => counted = countersOp(ctx, csf.getParent, rows, i > 0))
    ctx.pipelines += (pipe.observe() ++ Map("files" -> consumed.map(_._1),
      "progress_delivered" -> delivered, "counters" -> countersRows(counted),
      "counter_files" -> consumed.map(_._1)))
    pipe.close()
  }
}
