package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** Copy-free snapshot isolation for `batch=`-layered swap artifacts
  * (VERDICT r16 #2 — "readers have no isolation during swaps").
  *
  * A production pipeline serves probes WHILE maintaining, so no fold may
  * mutate the only copy of a layer. Every maintained artifact publishes
  * through ONE atomic manifest commit that readers resolve once — a
  * versioned MANIFEST rewrites O(delta) per fold, where a versioned ROOT
  * would rewrite the whole artifact (100 TB) per batch:
  *
  * {{{
  *   <root>/_LATEST            pointer file → "m-<seq>"
  *   <root>/manifests/m-<seq>  one "<tag>\t<storeDirName>" line per layer,
  *                             plus one "#schema\t<tag>\t<StructType json>"
  *                             line per tag
  *   <root>/store/<tag>-g<seq>/  immutable layer data (parquet, optional
  *                               sub-partitioning, e.g. cell=)
  * }}}
  *
  * The `#schema` line is the schema a reader of the tag sees, minus the
  * `batch` column every read re-attaches (a sub-partition column such as
  * `cell` is kept, last, as partition discovery yields it). Every
  * publish writes it for the tags it staged and carries it forward for
  * the rest, so a read plans from the manifest alone: no footer is
  * sampled and no Spark job runs, the way a Hive reader takes the schema
  * the metastore published with the partition list. A tag without the
  * line (a manifest written before schemas were recorded) falls back to
  * parquet footer inference for that tag only.
  *
  * Writers (single-writer, under the pipeline lease) never touch a
  * published store dir: every mutation writes NEW store dirs, then
  * publishes manifest `m-<seq+1>` and moves the pointer. A reader that
  * resolved the pointer before the move keeps reading the PREVIOUS
  * manifest's store dirs, which survive GC for one manifest generation
  * plus [[gcGraceMs]] — so a probe concurrent with any fold observes
  * exactly the pre-fold or the post-fold artifact, never a torn one.
  * (Isolation is per-PUBLISH: a pass that deletes then appends publishes
  * twice, and a reader between the two sees the consistent
  * deletes-applied version.)
  *
  * Crash discipline — no step destroys the only copy:
  *  - crash mid-store-write → an orphan store dir no manifest references:
  *    invisible to every reader, deleted by a later publish's GC;
  *  - crash before the pointer move → the artifact is bit-for-bit at the
  *    prior version (the half-written manifest file is unreferenced);
  *  - a replayed fold re-derives the same layer content into a fresh gen
  *    dir and re-publishes — convergent without markers (the x16 rule:
  *    the manifest REPLACES the tag's entry, it never appends a second).
  *
  * Pointer atomicity rides on the filesystem's rename/create semantics —
  * exact on HDFS-likes and local filesystems, advisory on object stores
  * without conditional writes.
  *
  * This is the only layout a `batch=`-layered artifact has, standalone
  * one-shot fixtures included. The first publish to a root creates it; a
  * root no publish has reached reads as the empty manifest. A root that
  * holds any other visible entry but no pointer — `batch=` dirs of an
  * in-place layered artifact from before every artifact was versioned,
  * or the files of a flat or `cell=`-only artifact — is refused, naming
  * the dir, because reading it as empty would silently re-admit every
  * duplicate it holds, and a publish would hide its data.
  *
  * Two kinds of artifact share the layout. A LAYERED artifact (dedup
  * indexes, the corpus, the IVF-PQ index) keeps one layer per landed
  * batch and folds deletes into the dirty ones. A SNAPSHOT store (the
  * t19 retraction view, the BM25 stats, the x94 doc-aggregate view)
  * holds only the layers of the batch that last published: each fold
  * reads the live snapshot and publishes the next with `replaceAll`, and
  * [[foldOnce]] skips a replayed batch whose publish already landed.
  *
  * Reference anchor: the reference swaps bookkeeping under a ZK writer
  * lock and lets readers hit Hive's last-published partition list
  * (`dao/HiveSinkDetailDao.scala:73-98`) — the pointer generalizes that
  * published-version read to every maintained artifact. */
object VersionedLayers {

  /** One manifest entry. Flat artifacts publish one entry per layer tag
    * (`rel = <tag>-g<seq>`); cell-granular artifacts (the layered IVF-PQ
    * index — `subPartition = Seq("cell")`) publish one entry per
    * (tag, cell) LEAF (`rel = <tag>-g<seq>/cell=<c>` — a hive-style leaf
    * INSIDE its generation dir), so the delete fold can swap a single
    * dirty cell of a layer while every clean cell of the SAME tag keeps
    * its immutable dir — the x83 dirty-leaf economics, copy-free. The
    * hive-style leaf layout is what lets a reader batch every leaf of one
    * generation into ONE `spark.read` (partition discovery recovers
    * `cell`), instead of one read call per leaf — the r17 read-grouping
    * fix: per-leaf reads made every versioned ANN probe/fold pay ~16
    * extra planning+footer round-trips per tag. */
  final case class Layer(tag: String, rel: String, cell: Option[Int] = None)

  /** A resolved manifest: its entries and each tag's recorded schema
    * (absent for tags published before schemas were recorded). */
  private final case class Manifest(layers: Seq[Layer],
                                    schemas: Map[String, StructType])

  private val SchemaLine = "#schema"

  private def pointerPath(root: Path) = new Path(root, "_LATEST")
  private def manifestsPath(root: Path) = new Path(root, "manifests")
  private def storePath(root: Path) = new Path(root, "store")

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val root = new Path(dir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Grace age before an unreferenced store dir / stale manifest may be
    * GC'd (sys-prop `graft.versioned.gcGraceMs`, default 10 min): an
    * in-flight reader holds paths it resolved from a manifest that was
    * current when it planned; one generation of manifests plus this age
    * bounds how stale that plan may be and still scan successfully. */
  private[graft] def gcGraceMs: Long =
    java.lang.Long.getLong("graft.versioned.gcGraceMs", 10L * 60L * 1000L)

  /** Scale-adaptive write sizing (guide §6): REBALANCE before a layer
    * write lets AQE pick the output partition count from the data's
    * actual bytes (advisoryPartitionSizeInBytes) — a KB-sized micro-batch
    * layer lands as ONE file instead of one near-empty file per shuffle
    * partition, and every later scan of the layer runs one task instead
    * of 32; a 100 TB layer still fans out wide. Keyed by the write's
    * partition columns when present, so a partitionBy write stops
    * emitting (tasks x dirs) files. No-op when AQE is off (REBALANCE
    * falls back to a fixed-width shuffle that would help nothing). */
  private[graft] def sizedForWrite(df: DataFrame, keys: Seq[String]): DataFrame =
    if (df.sparkSession.conf.get("spark.sql.adaptive.enabled", "true") != "true") df
    else if (keys.isEmpty) df.hint("REBALANCE")
    else df.hint("REBALANCE", keys.map(col): _*)

  /** The pointer's content: the live manifest's name, "m-<seq>". */
  private[graft] def readPointer(fs: FileSystem, root: Path): String = {
    val in = fs.open(pointerPath(root))
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }

  /** Move the pointer to manifest `name`. Write-then-RENAME, not
    * create-truncate: every read resolves this pointer, and a racing
    * reader of a truncate-then-write could see a half-written name.
    * Rename is atomic on POSIX/HDFS; where rename-over-existing is refused
    * the fallback is delete+rename (the lease-heartbeat pattern — a far
    * narrower window than truncate+write, and single-writer anyway). The
    * temp name is fixed: the writer is single (leased), and a crash
    * leftover is clobbered by the next move's create-overwrite. */
  private[graft] def writePointer(fs: FileSystem, root: Path, name: String): Unit = {
    val tmp = new Path(root, ".latest_tmp")
    val out = fs.create(tmp, true)
    try out.write(name.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, pointerPath(root))) {
      fs.delete(pointerPath(root), false)
      require(fs.rename(tmp, pointerPath(root)), s"could not move pointer at $root")
    }
  }

  private def currentSeq(fs: FileSystem, root: Path): Long = {
    val name = readPointer(fs, root)
    require(name.startsWith("m-") && name.drop(2).forall(_.isDigit),
      s"$root: malformed versioned-layer pointer '$name'")
    name.drop(2).toLong
  }

  /** The live manifest's sequence number and content, through the
    * pointer. A root without a pointer is the empty manifest at sequence
    * 0 only while it holds nothing but a crashed first publish's
    * `store`/`manifests` dirs and hidden debris; any other visible entry
    * (`batch=` dirs, flat parquet files, `cell=` dirs) is data this
    * layout did not write, and the root is refused (see the object doc). */
  private def current(fs: FileSystem, root: Path): (Long, Manifest) =
    if (fs.exists(pointerPath(root))) {
      val seq = currentSeq(fs, root)
      (seq, readManifest(fs, root, seq))
    } else {
      val foreign = if (!fs.exists(root)) Seq.empty
        else fs.listStatus(root).toSeq.map(_.getPath.getName).filterNot(n =>
          n.startsWith("_") || n.startsWith(".") || n == "store" || n == "manifests")
      require(foreign.isEmpty, s"$root holds ${foreign.sorted.mkString(", ")} " +
        "but no _LATEST pointer: data not written through VersionedLayers " +
        "(an in-place or flat artifact), which is not read; rebuild it " +
        "through VersionedLayers")
      (0L, Manifest(Seq.empty, Map.empty))
    }

  private def writeManifest(fs: FileSystem, root: Path, seq: Long,
                            m: Manifest): Unit = {
    // overwrite=true: a crash-before-pointer-move leaves an orphan
    // m-<seq> that the (leased, single) writer's retry may clobber
    val out = fs.create(new Path(manifestsPath(root), s"m-$seq"), true)
    try out.write((m.layers.map { l =>
      l.cell match {
        case Some(c) => s"${l.tag}\t$c\t${l.rel}\n"
        case None => s"${l.tag}\t${l.rel}\n"
      }
    } ++ m.schemas.toSeq.sortBy(_._1).map { case (tag, s) =>
      s"$SchemaLine\t$tag\t${s.json}\n"
    }).mkString.getBytes("UTF-8"))
    finally out.close()
  }

  private def readManifest(fs: FileSystem, root: Path, seq: Long): Manifest = {
    val in = fs.open(new Path(manifestsPath(root), s"m-$seq"))
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val (layers, schemas) = text.split("\n").toSeq.filter(_.nonEmpty)
      .partitionMap { line =>
        line.split("\t", -1).toSeq match {
          case Seq(SchemaLine, tag, json) =>
            Right(tag -> DataType.fromJson(json).asInstanceOf[StructType])
          case Seq(tag, rel) => Left(Layer(tag, rel))
          case Seq(tag, cell, rel) => Left(Layer(tag, rel, Some(cell.toInt)))
          case _ => throw new IllegalStateException(
            s"$root: malformed manifest line '$line'")
        }
      }
    Manifest(layers, schemas.toMap)
  }

  /** The live manifest (resolved through the pointer). */
  private def resolve(spark: SparkSession, dir: String): (Path, Manifest) = {
    val (fs, root) = fsOf(spark, dir)
    (root, current(fs, root)._2)
  }

  /** The live layer list (resolved through the pointer). */
  private[graft] def layers(spark: SparkSession, dir: String): Seq[Layer] =
    resolve(spark, dir)._2.layers

  /** The schema a reader of a layer staged from `staged` sees, the one
    * its `#schema` line records: the staged columns minus `batch`, and a
    * sub-partition column moved last and typed `int`, as partition
    * discovery plus [[readEntries]]' cast yield it. */
  private def layerSchema(staged: DataFrame,
                          subPartition: Option[String]): StructType =
    StructType(staged.schema.filterNot(f =>
      f.name == "batch" || subPartition.contains(f.name)) ++
      subPartition.map(StructField(_, IntegerType)))

  /** Snapshot-isolated read of the artifact's live layers, ONE frame per
    * tag (sorted by tag), each the union of its store dirs with its
    * `batch` tag attached (string, last column). Own-tag exclusion is
    * MANIFEST pruning (the excluded layer is never even listed).
    *
    * Reads are BATCHED (guide §1.2 — fewer driver round-trips): flat
    * layers group into ONE `spark.read.parquet(dirs*)` per tag; cell
    * leaves group per (tag, generation dir) with hive partition discovery
    * recovering `cell` — so a 16-cell tag costs one read call, not 16.
    * The union width (and so planning cost) shrinks the same way. Each
    * read takes its tag's recorded schema, so planning runs no Spark job;
    * only a tag with no recorded schema infers it from a footer. */
  private def readEntries(spark: SparkSession, root: Path, m: Manifest,
                          live: Seq[Layer]): Seq[(String, DataFrame)] = {
    val store = storePath(root)
    live.groupBy(_.tag).toSeq.sortBy(_._1).map { case (tag, ls) =>
      def reader = m.schemas.get(tag).fold(spark.read)(spark.read.schema(_))
      val (flat, leaves) = ls.partition(_.cell.isEmpty)
      val flatDf =
        if (flat.isEmpty) Seq.empty
        else Seq(reader
          .parquet(flat.map(l => new Path(store, l.rel).toString): _*)
          .withColumn("batch", lit(tag)))
      // cell leaves: one read per generation dir (rel = "<gen>/cell=<c>");
      // basePath pins discovery so only the LISTED leaves are scanned
      // while `cell` still comes from the directory name
      val leafDfs = leaves.groupBy(_.rel.takeWhile(_ != '/')).toSeq
        .sortBy(_._1).map { case (gen, gls) =>
          reader
            .option("basePath", new Path(store, gen).toString)
            .parquet(gls.map(l => new Path(store, l.rel).toString): _*)
            .withColumn("cell", col("cell").cast("int"))
            .withColumn("batch", lit(tag))
        }
      tag -> (flatDf ++ leafDfs).reduce(_.unionByName(_))
    }
  }

  private def readUnion(spark: SparkSession, root: Path, m: Manifest,
                        live: Seq[Layer]): DataFrame =
    readEntries(spark, root, m, live).map(_._2).reduce(_.unionByName(_))

  private[graft] def read(spark: SparkSession, dir: String,
                          exclude: Option[String] = None)
                         (empty: => DataFrame): DataFrame = {
    val (root, m) = resolve(spark, dir)
    val live = m.layers.filterNot(l => exclude.contains(l.tag))
    if (live.isEmpty) empty else readUnion(spark, root, m, live)
  }

  /** The live layers as one frame per tag, every frame from ONE resolved
    * manifest: the layers one publish wrote together (the BM25 stats'
    * `df`/`scalars` pair) are read as that publish's pair, never one
    * beside its predecessor's partner. Empty when no publish reached the
    * root. */
  private[graft] def readEach(spark: SparkSession,
                              dir: String): Map[String, DataFrame] = {
    val (root, m) = resolve(spark, dir)
    readEntries(spark, root, m, m.layers).toMap
  }

  /** Read ONLY the named tags' layers (manifest pruning — the delete
    * folds read just the dirty layers). Caller guarantees a non-empty
    * intersection with the live manifest. */
  private[graft] def readTags(spark: SparkSession, dir: String,
                              tags: Set[String]): DataFrame = {
    val (root, m) = resolve(spark, dir)
    val live = m.layers.filter(l => tags.contains(l.tag))
    require(live.nonEmpty, s"$dir: none of $tags is a live layer")
    readUnion(spark, root, m, live)
  }

  /** Read ONLY the named (tag, cell) leaves of a cell-granular artifact
    * — the IVF-PQ delete fold's manifest-pruned dirty read. */
  private[graft] def readCells(spark: SparkSession, dir: String,
                               pairs: Set[(String, Int)]): DataFrame = {
    val (root, m) = resolve(spark, dir)
    val live = m.layers.filter(l =>
      l.cell.exists(c => pairs.contains((l.tag, c))))
    require(live.nonEmpty, s"$dir: none of $pairs is a live (tag, cell) leaf")
    readUnion(spark, root, m, live)
  }

  /** The live layers' store paths (the x95 policy's byte walk). */
  private[graft] def layerPaths(spark: SparkSession, dir: String): Seq[Path] = {
    val (_, root) = fsOf(spark, dir)
    layers(spark, dir).map(l => new Path(storePath(root), l.rel))
  }

  /** Whole-artifact read (probes, query results): [[read]] that refuses
    * an artifact with no layers instead of inventing an empty frame. */
  private[graft] def readAny(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir)(throw new IllegalStateException(
      s"$dir: layered artifact has no layers — probe before any publish"))

  /** Publish `next(current entries)` as the new manifest: write
    * m-<seq+1>, move the pointer, GC. The first publish to a root
    * creates it. `fresh` holds the schemas of the
    * tags this publish staged; every other live tag carries its recorded
    * schema forward. Single-writer (the pipeline lease). */
  private def publish(fs: FileSystem, root: Path,
                      fresh: Map[String, StructType])
                     (next: Seq[Layer] => Seq[Layer]): Unit = {
    val (seq, prev) = current(fs, root)
    if (seq == 0L) fs.mkdirs(storePath(root)) // first publish creates the root
    val layers = next(prev.layers)
    val tags = layers.map(_.tag).toSet
    writeManifest(fs, root, seq + 1L,
      Manifest(layers, (prev.schemas ++ fresh).filter(e => tags(e._1))))
    writePointer(fs, root, s"m-${seq + 1L}")
    gc(fs, root, seq + 1L, keep = (layers ++ prev.layers).map(_.rel).toSet)
  }

  /** Move a staged dir into the store as `rel` (replacing a crashed
    * attempt's debris of the same generation). */
  private def land(fs: FileSystem, root: Path, staged: Path, rel: String): Unit = {
    val dest = new Path(storePath(root), rel)
    if (fs.exists(dest)) fs.delete(dest, true)
    fs.mkdirs(storePath(root))
    require(fs.rename(staged, dest), s"$root: could not land layer dir $rel")
  }

  /** Whether `dir` holds a visible data file: a write that produced not
    * even a footer-only part file leaves only hidden debris. */
  private def hasVisibleData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") &&
        (s.isFile || hasVisibleData(fs, s.getPath))
    }

  /** GC after a pointer move: drop store dirs referenced by NEITHER the
    * new nor the previous manifest (one-generation reader grace), and
    * manifests older than the previous — both only once they are older
    * than [[gcGraceMs]]. Orphans from crashed writes age out the same
    * way. A cell-granular `rel` ("<gen>/cell=<c>") references its whole
    * generation dir; inside a PARTIALLY referenced generation, leaf dirs
    * no rel names are dropped individually once past the grace (a cell
    * swap re-gens only the dirty leaves — the clean siblings' old gen
    * copies would otherwise linger until compaction). */
  private def gc(fs: FileSystem, root: Path, seq: Long,
                 keep: Set[String]): Unit = {
    val cutoff = System.currentTimeMillis() - gcGraceMs
    val keptTop = keep.map(_.takeWhile(_ != '/'))
    fs.listStatus(storePath(root)).foreach { st =>
      val name = st.getPath.getName
      if (!keptTop.contains(name)) {
        if (st.getModificationTime < cutoff) { fs.delete(st.getPath, true); () }
      } else if (!keep.contains(name)) {
        // a generation dir referenced only through SOME of its leaves:
        // drop the unreferenced leaves, keep the dir
        fs.listStatus(st.getPath).foreach { leaf =>
          val rel = s"$name/${leaf.getPath.getName}"
          if (leaf.isDirectory && !keep.contains(rel) &&
              leaf.getModificationTime < cutoff) {
            fs.delete(leaf.getPath, true); ()
          }
        }
      }
    }
    fs.listStatus(manifestsPath(root)).foreach { st =>
      val n = st.getPath.getName
      val stale = n.startsWith("m-") && n.drop(2).forall(_.isDigit) &&
        n.drop(2).toLong < seq - 1L
      if (stale && st.getModificationTime < cutoff) {
        fs.delete(st.getPath, false); ()
      }
    }
  }

  /** The versioned form of the tag-scoped layer overwrite: write `df` to
    * a fresh store dir, then publish a manifest where `tag` maps to it
    * (replacing any prior entry — the x16 replay rule; with
    * `replaceAll`, the manifest holds ONLY this layer — compaction). A
    * result with NO visible files (a write that produced not even a
    * footer-only part file) drops the tag rather than publish an
    * unreadable dir; a 0-row write that kept its schema footer stays a
    * valid (and harmless) layer, and the delete fold's rewrite drops
    * genuinely emptied tags regardless (`partitionBy` stages no dir for
    * them). */
  private[graft] def publishLayer(spark: SparkSession, dir: String, tag: String,
                                  df: DataFrame,
                                  subPartition: Seq[String] = Seq.empty,
                                  replaceAll: Boolean = false): Unit =
    subPartition match {
      case Seq() => publishLayers(spark, dir, Seq(tag -> df), replaceAll)
      case Seq(cellCol) =>
        // cell-granular artifact: ONE partitionBy job stages the layer,
        // then ONE rename lands the whole generation dir; each cell leaf
        // inside it gets its own manifest entry, so a later delete can
        // swap one cell without touching its siblings (the x83 dirty-leaf
        // economics), while readers batch the generation into one scan
        val (fs, root) = fsOf(spark, dir)
        val seq = current(fs, root)._1 + 1L
        val stage = new Path(root, s".stage_g$seq")
        if (fs.exists(stage)) fs.delete(stage, true)
        sizedForWrite(df, Seq(cellCol)).write.mode("overwrite")
          .partitionBy(cellCol).parquet(stage.toString)
        val gen = s"$tag-g$seq"
        land(fs, root, stage, gen)
        val entries = fs.listStatus(new Path(storePath(root), gen)).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$cellCol="))
          .map { st =>
            val c = st.getPath.getName.stripPrefix(s"$cellCol=").toInt
            Layer(tag, s"$gen/${st.getPath.getName}", Some(c))
          }
        publish(fs, root, Map(tag -> layerSchema(df, Some(cellCol)))) {
          prior => if (replaceAll) entries else prior.filterNot(_.tag == tag) ++ entries
        }
      case other => throw new IllegalArgumentException(
        s"$dir: at most one sub-partition column is supported, got $other")
    }

  /** [[publishLayer]] of several flat layers at once: each `(tag, df)`
    * part is written to its own fresh store dir, and ONE manifest publish
    * maps every tag to its dir, so a reader sees all parts of the publish
    * or none. */
  private[graft] def publishLayers(spark: SparkSession, dir: String,
                                   parts: Seq[(String, DataFrame)],
                                   replaceAll: Boolean = false): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val seq = current(fs, root)._1 + 1L
    val entries = parts.flatMap { case (tag, df) =>
      val rel = s"$tag-g$seq"
      val dest = new Path(storePath(root), rel)
      if (fs.exists(dest)) fs.delete(dest, true) // replay debris
      sizedForWrite(df, Seq.empty).write.mode("overwrite").parquet(dest.toString)
      if (hasVisibleData(fs, dest)) Seq(Layer(tag, rel))
      else { fs.delete(dest, true); Seq.empty }
    }
    val tags = parts.map(_._1).toSet
    publish(fs, root, parts.map { case (t, df) => t -> layerSchema(df, None) }.toMap) {
      prior => if (replaceAll) entries else prior.filterNot(l => tags(l.tag)) ++ entries
    }
  }

  /** The replay gate of a snapshot store (see the object doc): unless the
    * live manifest already holds every tag in `tags`, run `fold` — which
    * reads the live snapshot and returns the next one's frames, one per
    * tag, in `tags` order — and publish them as the whole next manifest.
    * A replayed batch whose publish landed skips its fold, which would
    * otherwise fold the batch into its own output; a crash before the
    * pointer move leaves the prior snapshot live, so the replay folds
    * against it again and converges. Single-writer (the pipeline lease). */
  private[graft] def foldOnce(spark: SparkSession, dir: String, tags: Seq[String])
                             (fold: => Seq[DataFrame]): Unit =
    if (!tags.forall(layers(spark, dir).map(_.tag).toSet)) {
      val next = fold
      require(next.size == tags.size,
        s"$dir: fold returned ${next.size} frames for tags $tags")
      publishLayers(spark, dir, tags.zip(next), replaceAll = true)
    }

  /** The cell-granular dirty-leaf rewrite behind the IVF-PQ delete fold:
    * `survivors` (carrying `batch` and `cell`, restricted to
    * `dirtyPairs`) stages under ONE two-level `partitionBy` job, each
    * staged leaf renames into the store, and the manifest swaps all
    * dirty (tag, cell) entries at once — clean cells of the SAME tag
    * keep their immutable dirs. With `appendTag`, `survivors` ALSO
    * carries the batch's new `batch=<appendTag>` rows and the SAME
    * staged write + manifest publish lands them (any prior entry of
    * that tag is replaced wholesale — the x16 replay rule): the
    * delete-publish/append-publish pair of the layered-index upsert
    * becomes one write job and one pointer move (VERDICT r17 #1). */
  private[graft] def rewriteCellLayers(spark: SparkSession, dir: String,
                                       dirtyPairs: Seq[(String, Int)],
                                       survivors: DataFrame,
                                       appendTag: Option[String] = None): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val seq = current(fs, root)._1 + 1L
    val stage = new Path(root, s".stage_g$seq")
    if (fs.exists(stage)) fs.delete(stage, true)
    sizedForWrite(survivors, Seq("batch", "cell")).write.mode("overwrite")
      .partitionBy("batch", "cell").parquet(stage.toString)
    // land ONE generation dir per dirty tag (its rewritten cells inside),
    // then remap the dirty leaves to hive-style rels within it
    val remapped = fs.listStatus(stage).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .flatMap { bdir =>
        val t = bdir.getPath.getName.stripPrefix("batch=")
        val gen = s"$t-g$seq"
        land(fs, root, bdir.getPath, gen)
        fs.listStatus(new Path(storePath(root), gen)).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
          .map { cdir =>
            val c = cdir.getPath.getName.stripPrefix("cell=").toInt
            (t, c) -> s"$gen/${cdir.getPath.getName}"
          }
      }.toMap
    fs.delete(stage, true)
    val dirty = dirtyPairs.toSet
    val schema = layerSchema(survivors, Some("cell"))
    publish(fs, root, remapped.keys.map(_._1 -> schema).toMap)(_.flatMap { l =>
      // an appended tag's prior entries (a replayed batch's own earlier
      // attempt) are replaced wholesale by the staged generation
      if (appendTag.contains(l.tag)) None
      else l.cell match {
        case Some(c) if dirty.contains((l.tag, c)) =>
          remapped.get((l.tag, c)).map(rel => Layer(l.tag, rel, Some(c)))
        case _ => Some(l)
      }
    } ++ appendTag.toSeq.flatMap { t =>
      remapped.toSeq.collect { case ((tt, c), rel) if tt == t => (c, rel) }
        .sortBy(_._1).map { case (c, rel) => Layer(t, rel, Some(c)) }
    })
  }

  /** The dirty-layer rewrite behind the delete folds: `survivors`
    * (carrying the `batch` column, restricted to `dirtyTags`) stages
    * under ONE `partitionBy(batch)` job, then each staged layer renames
    * into the store and the manifest swaps all dirty tags at once
    * (staged ones remapped, emptied ones dropped). Readers of the
    * pre-delete manifest keep their store dirs. */
  private[graft] def rewriteLayers(spark: SparkSession, dir: String,
                                   dirtyTags: Seq[String],
                                   survivors: DataFrame): Unit = {
    val (fs, root) = fsOf(spark, dir)
    val seq = current(fs, root)._1
    val stage = new Path(root, s".stage_g${seq + 1L}")
    if (fs.exists(stage)) fs.delete(stage, true)
    sizedForWrite(survivors, Seq("batch")).write.mode("overwrite")
      .partitionBy("batch").parquet(stage.toString)
    val staged = fs.listStatus(stage)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=")).toSet
    val remapped = staged.toSeq.sorted.map { t =>
      val rel = s"$t-g${seq + 1L}"
      land(fs, root, new Path(stage, s"batch=$t"), rel)
      t -> rel
    }.toMap
    fs.delete(stage, true)
    val dirty = dirtyTags.toSet
    val schema = layerSchema(survivors, None)
    // staged tags the prior manifest never held are APPENDED (the cluster
    // fold stages its delete-survivors and its new batch layer in one
    // write — one publish, one reader-visible transition, instead of a
    // delete publish followed by an append publish); staged tags the
    // prior manifest held replace their entry, emptied dirty tags drop
    publish(fs, root, remapped.keys.map(_ -> schema).toMap) { prior =>
      val priorTags = prior.map(_.tag).toSet
      prior.flatMap { l =>
        if (!dirty.contains(l.tag)) Some(l)
        else remapped.get(l.tag).map(rel => Layer(l.tag, rel))
      } ++ remapped.toSeq.sortBy(_._1).collect {
        case (t, rel) if !priorTags.contains(t) => Layer(t, rel)
      }
    }
  }

  /** The compaction core: fold every live layer through `content` into
    * ONE `batch=<tag>` layer (manifest-atomic: a crash at any point
    * leaves either the old manifest or the new one, both complete, and a
    * concurrent reader keeps the one it resolved). Every append-maintained
    * artifact grows a layer per batch, and probes then list and read N
    * small files per leaf. With `content = identity` the fold is a pure
    * re-layout — the IVF-PQ index (x85, `Similarity.ivfPqCompactLayers`,
    * `subPartition = Seq("cell")`) and the dedup fingerprint indexes
    * (x88/x90, no sub-partition) — so readers are bit-equal before and
    * after; the label store's last-writer-wins collapse passes a semantic
    * fold. Cost is one full artifact read + write. Returns the pre-fold
    * layer count. Reference anchor: the partition compaction pass
    * (`HiveBatchedSink.scala:297-358`) — layer management after
    * incremental landing IS the reference's core job. */
  private[graft] def compactVersioned(spark: SparkSession, dir: String,
                                      tag: String, subPartition: Seq[String])
                                     (content: DataFrame => DataFrame): Int = {
    // the LAYER count is the distinct tag count — a cell-granular
    // artifact holds one entry per (tag, cell) leaf
    val (root, m) = resolve(spark, dir)
    val live = m.layers.map(_.tag).distinct
    if (live.size <= 1) return live.size
    val folded = content(readUnion(spark, root, m, m.layers)).drop("batch")
    // no snapshot needed: the fold READS the live store dirs and WRITES a
    // fresh one — source and destination never collide
    publishLayer(spark, dir, tag, folded, subPartition, replaceAll = true)
    live.size
  }
}
