package graft.perfbench

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.{DfCache, Maintenance, VersionedLayers}
import graft.streaming.StreamingIngest

/** `index_maintain`: the maintained LLM pipeline, reads beside writes.
  * Set-up builds the stored state (`Maintenance.multiArtifactInit`); the
  * loop then runs [[PassesPerCycle]] `multiArtifactUpsert` passes, one
  * `multiArtifactProbe`, and the `multiArtifactCompactIfNeeded` window,
  * repeated. Inputs are `gen.py`'s corpus and per-pass ops. */
object IndexMaintain {
  /** Stored-state builds per run, each into fresh artifact dirs over a
    * fresh index cache and a fresh corpus path (so neither the disk nor
    * the in-session index cache is warm); `setup_s` is their median. The
    * first is JVM-cold. The loop maintains the last one. */
  val SetUps = 3
  /** Upsert passes between two compaction windows. The window folds an
    * artifact back to one layer once it holds more than this many, so
    * each window fires on every swept artifact. One pass per cycle keeps
    * a run near a minute: the three set-ups take about 30 s. */
  val PassesPerCycle = 1
  def cycles(seconds: Int): Int = math.max(1, seconds / 25)

  /** The pipeline's artifact dirs `VersionedLayers` manages (the BM25 and
    * aggregate stores keep their own snapshots). */
  def layered(d: Maintenance.MultiArtifactDirs): Seq[(String, String)] = Seq(
    "corpus" -> d.corpusDir, "exact" -> d.exactDir, "near_fp" -> s"${d.nearDir}/fp",
    "near_pfx" -> s"${d.nearDir}/pfx", "near_sh" -> s"${d.nearDir}/sh",
    "near_out" -> d.nearOutDir, "span" -> d.spanDir, "sem" -> d.semDir,
    "sem_out" -> d.semOutDir, "ann" -> d.annDir,
    "cluster_edges" -> d.cluster.edgesDir, "cluster_labels" -> d.cluster.labelsDir)

  def run(ctx: Main.Ctx): Unit = {
    val spark = ctx.spark
    val steps = Main.inputFiles(ctx.input)
    val stored = spark.read.parquet(ctx.input.resolve("stored.parquet").toString)
    var last: Option[(String, Maintenance.MultiArtifactDirs)] = None
    for (i <- 0 until SetUps) {
      val root = Files.createDirectories(ctx.scratch.resolve(s"setup-$i"))
      val sfDir = Files.createDirectories(root.resolve("sf"))
      Seq("documents.parquet", "embeddings.parquet").foreach { f =>
        Files.createLink(sfDir.resolve(f), ctx.input.resolve("sf").resolve(f)); ()
      }
      System.setProperty("graft.index.cache", root.resolve("index_cache").toString)
      val d = Maintenance.MultiArtifactDirs(root.resolve("art").toString)
      val t0 = Clock.nowMs
      ctx.op("init", Map("setup" -> i, "events" -> steps.head._2)) {
        Maintenance.multiArtifactInit(spark, sfDir.toString, d, stored)
      }(_ => true)
      ctx.setups += (Clock.nowMs - t0) / 1000.0
      ctx.dfcacheBuilds += DfCache.drainBuildLog()
      last = Some(sfDir.toString -> d)
    }
    val (sfDir, d) = last.get
    ctx.tracer.foreach(_ => census(ctx, d, "init"))
    val passes = steps.tail
    val n = math.min(passes.size, PassesPerCycle * cycles(ctx.seconds))
    for (k <- 0 until n) {
      val (name, rows) = passes(k)
      val ops = ctx.input.resolve("ops")
      val ins = spark.read.parquet(ops.resolve(s"$name-inserts.parquet").toString)
      val del = spark.read.parquet(ops.resolve(s"$name-deletes.parquet").toString)
      ctx.op("upsert", Map("file" -> name, "events" -> rows, "measured" -> true)) {
        Maintenance.multiArtifactUpsert(spark, sfDir, d, ins, del, name)
      }(_ => true)
      ctx.tracer.foreach { _ => admits(ctx, d, name); census(ctx, d, "upsert") }
      if ((k + 1) % PassesPerCycle == 0 || k == n - 1) {
        ctx.op("probe", Map("file" -> name, "measured" -> true)) {
          Maintenance.multiArtifactProbe(spark, sfDir, d).collect()
        }(_.nonEmpty).foreach(rows => ctx.probes += observe(ctx, d, name, rows))
        ctx.tracer.foreach(_ => census(ctx, d, "probe"))
        ctx.op("compact", Map("file" -> name, "measured" -> true)) {
          Maintenance.multiArtifactCompactIfNeeded(spark, d, PassesPerCycle)
        }(_ => true).foreach(fired => ctx.compactions += fired)
        ctx.tracer.foreach(_ => census(ctx, d, "compact"))
      }
    }
  }

  /** What the gate compares with the generator's truth after a probe:
    * the live corpus per source (the probe's aggregate rows), the exact
    * index's keeper count, the BM25 store's document count, and a digest
    * of every probe row. */
  private def observe(ctx: Main.Ctx, d: Maintenance.MultiArtifactDirs, after: String,
                      rows: Array[Row]): Map[String, Any] = {
    val (_, scalars) = StreamingIngest.readBm25Stats(ctx.spark, d.bm25Dir)
    val s = scalars.first()
    Map(
      "after" -> after,
      "sources" -> rows.filter(_.getString(0) == "agg")
        .map(r => r.getString(1) -> Seq(r.getLong(2), r.getLong(3))).toMap,
      "exact_keepers" -> rows.count(_.getString(0) == "exact"),
      "bm25_n_docs" -> s.getAs[Number]("n_docs").longValue,
      "digest" -> digest(rows))
  }

  /** SHA-256 over the probe's rows in order, doubles at 12 significant
    * digits so the last-bit order of a floating-point sum cannot move it. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach { r =>
      val line = r.toSeq.map {
        case x: Double => f"$x%.12g"
        case x => String.valueOf(x)
      }.mkString("\t") + "\n"
      md.update(line.getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Traced only: rows each dedup leg admitted from pass `tag`. */
  private def admits(ctx: Main.Ctx, d: Maintenance.MultiArtifactDirs, tag: String): Unit = {
    def admitted(dir: String): Long =
      VersionedLayers.readAny(ctx.spark, dir).where(col("batch") === tag).count()
    ctx.admits += Map("file" -> tag, "exact" -> admitted(d.exactDir),
      "near" -> admitted(d.nearOutDir), "sem" -> admitted(d.semOutDir))
  }

  /** Traced only: the layered state's size after an operation, from
    * `VersionedLayers.layers` and a listing of each live layer. */
  private def census(ctx: Main.Ctx, d: Maintenance.MultiArtifactDirs, after: String): Unit = {
    val per = ctx.span("layers") {
      layered(d).map { case (name, dir) => name -> VersionedLayers.layers(ctx.spark, dir) }
    }
    val fs = new HPath(d.root).getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    var files, bytes = 0L
    for ((_, dir) <- layered(d); p <- VersionedLayers.layerPaths(ctx.spark, dir)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        if (!st.getPath.getName.startsWith(".") && !st.getPath.getName.startsWith("_")) {
          files += 1; bytes += st.getLen
        }
      }
    }
    ctx.census += Map("after" -> after,
      "layers" -> per.map { case (name, ls) => name -> ls.map(_.tag).distinct.size }.toMap,
      "leaves" -> per.map(_._2.size).sum, "files" -> files, "live_bytes" -> bytes)
  }
}
