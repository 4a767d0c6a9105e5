package graft.operators

import graft.Tables
import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M5 — similarity search over the `embeddings` table (engine extension).
  *
  * Scale design: the query vector (or centroid set) is tiny → broadcast;
  * the corpus side is scanned once with the dot product fused into the
  * scan stage, and top-k is `TakeOrderedAndProject` (per-partition heaps,
  * no global sort). IVF restricts the scan to the nearest partitions.
  */
object Similarity {

  /** The probe vector, fetched once per query (1 row — the query vector
    * every vector search system ships to workers). Callers inline it as a
    * literal, so the main scan needs no join at all: Scan → Project →
    * TakeOrderedAndProject. */
  private def queryVec(spark: SparkSession, sfDir: String,
                       queryId: Long): Seq[Float] =
    Tables.embeddings(spark, sfDir)
      .where(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0)

  /** X6 — exact brute-force cosine top-k: the correctness baseline every
    * ANN variant is judged against. One scan, the dot product fused into
    * it, one per-partition-heap top-k. */
  def bruteTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val q = typedLit(queryVec(spark, sfDir, queryId))
    Tables.embeddings(spark, sfDir)
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(VectorFns.cosine(col("embedding"), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  private val IvfDim = 64
  private val IvfK = 16
  private val IvfRounds = 4

  /** Cosine-argmax cell assignment against a driver-side centroid set:
    * `nprobe`-free scoring of each row against all K centroids as K static
    * codegen'd dot products (K is bounded — this is the coarse quantizer,
    * not the corpus). Norm of the row cancels in the argmax, so each score
    * is dot/‖centroid‖ with the centroid norm folded to a plain literal.
    * Tie-break: first maximum (`array_position`), deterministic. */
  private[graft] def assignCell(cents: Seq[Seq[Double]]): Column = {
    val scores = array(cents.map { c =>
      val nrm = math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)
      VectorFns.dot(col("embedding"), typedLit(c)) / lit(nrm)
    }: _*)
    (array_position(scores, array_max(scores)) - 1).cast("int")
  }

  /** Training-sample bound for the coarse quantizer — same rationale and
    * same SQL-expressible rule as [[PqTrainN]]: the whole fixture corpus
    * at any scale factor, a bounded driver sample (N×64 doubles) beyond. */
  private val IvfTrainN = 65536L

  /** Default target AVERAGE cell population for [[semanticDedup]]'s
    * cell-count policy (overridable via sys-prop
    * `graft.semdedup.cellpop`). 4096 keeps each cell's all-pairs term at
    * ≈ 8M cosine tests — seconds of one executor core — while total work
    * stays K·pop²/2 = N·pop/2, linear in the corpus. */
  private[graft] val SemanticCellPop = 4096L

  /** Ceiling on the cells the DRIVER-SIDE Lloyd trainer can honestly
    * produce: the training sample is bounded by [[IvfTrainN]] = 65536,
    * and K-means needs a healthy multiple of points per centroid (16
    * here), so K beyond 4096 would seed centroids the sample cannot
    * support — `sample.take(K)` would silently return fewer centroids
    * and the policy's population math would be fiction. The cap also
    * bounds the trainer's driver cost (K × sample × rounds dot
    * products). K above this routes to [[ivfCentroidsDistributed]] via
    * [[driverTrainGate]]. */
  private[graft] val MaxDriverTrainedCells = (IvfTrainN / 16).toInt // 4096

  /** Ceiling on the cells the DISTRIBUTED trainer will target: the
    * centroid matrix is broadcast whole to every executor (K × 64
    * doubles — 512 MB at 2^20) and scoring is O(K·dim) per vector, so
    * 2^20 is where broadcast size and per-vector cost stop being
    * sensible for a FLAT quantizer. At the 4096 target population that
    * covers a ~4.3e9-vector corpus; the next honest boundary beyond it
    * is a HIERARCHICAL (two-level) coarse quantizer, documented at the
    * README knob. */
  private[graft] val MaxDistributedCells = 1 << 20

  /** Training-sample size for a K-cell quantizer: the whole
    * [[IvfTrainN]] fixture-scale sample, or 16 points per centroid once
    * K grows past what that sample supports. */
  private[graft] def ivfTrainSize(kCells: Int): Long =
    math.max(IvfTrainN, 16L * kCells)

  /** Trainer-path gate (sys-prop `graft.ivf.driverTrainGate`, default
    * [[IvfTrainN]]): the largest training sample the driver-side Lloyd
    * trainer may collect. A K whose [[ivfTrainSize]] exceeds the gate —
    * K > [[MaxDriverTrainedCells]] at the default, i.e. the
    * beyond-16.8M-vector corpora — trains DISTRIBUTED instead
    * ([[ivfCentroidsDistributed]]: the same integer Lloyd rules as
    * per-round Spark jobs). Same shape as `graft.cc.unionFindGate`:
    * small problems take the cheap exact driver path, large ones the
    * distributed one, and a differential spec pins the two bit-equal. */
  private[graft] def driverTrainGate: Long =
    sys.props.get("graft.ivf.driverTrainGate").map(_.toLong).getOrElse(IvfTrainN)

  /** The corpus-size → cell-count policy behind [[semanticDedup]]:
    * `K = min(MaxDistributedCells, max(IvfK, ⌈n / targetCellPop⌉))`.
    * The floor keeps the fixture quantizer — and every existing oracle —
    * unchanged at small n; between the bounds the MEAN cell population
    * is capped at `targetCellPop` (max cell ≤ mean × the trained
    * quantizer's balance factor, spec-pinned on the fixture). Up to
    * K = [[MaxDriverTrainedCells]] (≈ 16.8M vectors) the driver-side
    * trainer runs; past it [[driverTrainGate]] routes to the
    * DISTRIBUTED trainer with the same rules and a 16-points-per-
    * centroid sample, so the policy no longer caps there. The upper cap
    * is [[MaxDistributedCells]] — the flat-quantizer broadcast/scoring
    * boundary (≈ 4.3e9 vectors at the default target) — which also
    * makes the arithmetic total (no Int wrap for any n or cellpop). */
  private[graft] def semanticCellCount(n: Long,
      targetCellPop: Long = sys.props.get("graft.semdedup.cellpop")
        .map(_.toLong).getOrElse(SemanticCellPop)): Int = {
    require(targetCellPop > 0, s"graft.semdedup.cellpop must be positive")
    math.min(MaxDistributedCells.toLong,
      math.max(IvfK.toLong, (n + targetCellPop - 1) / targetCellPop)).toInt
  }

  /** Driver-side replica of [[assignCell]]'s IEEE arithmetic, operation
    * for operation: sequential dot loop (DotProduct's codegen order),
    * the same driver-computed centroid-norm fold, division, and
    * first-maximum tie-break (`array_position` semantics). Used by the
    * driver-side Lloyd trainer, which must assign exactly like the
    * distributed expression so the trained centroids are bit-identical
    * to the distributed form they replace. */
  private[graft] def assignCellLocal(cents: Seq[Seq[Double]],
                                     v: Array[Double]): Int =
    assignCellLocal(cents.map(_.toArray).toArray, centNormsLocal(cents), v)

  /** The per-centroid norm fold of [[assignCell]]/[[assignCellLocal]],
    * hoisted: `math.sqrt` is IEEE-deterministic, so computing each norm
    * once and reusing it across vectors yields bit-identical scores to
    * recomputing per vector — which is what lets the trainers score at
    * O(K·dim) per vector without touching parity. */
  private[graft] def centNormsLocal(cents: Seq[Seq[Double]]): Array[Double] =
    cents.map(c => math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)).toArray

  private[graft] def assignCellLocal(cents: Array[Array[Double]],
                                     norms: Array[Double],
                                     v: Array[Double]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cents.length) {
      var s = 0.0
      var i = 0
      val cc = cents(c)
      while (i < v.length) { s += v(i) * cc(i); i += 1 }
      val score = s / norms(c)
      // first-maximum tie-break: array_position semantics, strictly >
      if (score > bestScore) { best = c; bestScore = score }
      c += 1
    }
    best
  }

  /** Spark's `round(double)` (HALF_UP via BigDecimal.valueOf) followed by
    * the long cast — replicated exactly for the fixed-point micro sums. */
  private def roundMicrosLocal(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong

  /** The trained coarse quantizer behind x6b: `IvfRounds` Lloyd
    * iterations of K-means over the [[ivfTrainSize]]-bounded sample.
    * While the sample fits [[driverTrainGate]] it is collected once and
    * trained driver-side (the per-round inputs were always bounded
    * metadata — K cells × 64 dims of fixed-point sums; a per-round
    * Catalyst job would pay replan + codegen for a 2,000-row scan);
    * past the gate the SAME rules run as distributed per-round jobs
    * ([[ivfCentroidsDistributed]], differential-spec-pinned bit-equal).
    * Arithmetic is replicated operation-for-operation from the
    * distributed expressions ([[assignCellLocal]], [[roundMicrosLocal]]),
    * and centroid updates keep the x31 discipline — element sums
    * accumulate as micro-scaled longs (exact, order-independent) and
    * divide by floor division — so the trained centroids are bit-stable
    * across runs AND bit-identical across both trainer paths.
    * Seeding is deterministic: the K lowest vec_ids. Empty cells keep
    * their previous centroid. The K×64 centroid table is bounded driver
    * metadata; it is persisted via [[DfCache.memoizeDisk]] so the
    * training cost is paid once per corpus version, not per process. */
  private[graft] def ivfCentroids(spark: SparkSession, sfDir: String,
                                  kCells: Int = IvfK,
                                  rounds: Int = IvfRounds): DataFrame =
    DfCache.memoizeDisk(spark, s"ivf_cent:$sfDir:$kCells:$rounds",
        Seq(s"$sfDir/embeddings.parquet")) {
      val trainN = ivfTrainSize(kCells)
      if (trainN > driverTrainGate)
        ivfCentroidsDistributed(spark, sfDir, kCells, rounds, trainN)
      else {
        val sample: Array[Array[Double]] = Tables.embeddings(spark, sfDir)
          .where(col("vec_id") < trainN)
          .select(col("vec_id"), col("embedding"))
          .orderBy(col("vec_id"))
          .collect().map(_.getSeq[Float](1).map(_.toDouble).toArray)
        var cents: Seq[Seq[Double]] = sample.take(kCells).map(_.toSeq).toSeq
        for (_ <- 0 until rounds) {
          val cs = cents.map(_.toArray).toArray
          val norms = centNormsLocal(cents)
          val n = Array.ofDim[Long](kCells)
          val sums = Array.ofDim[Long](kCells, IvfDim)
          for (v <- sample) {
            val cell = assignCellLocal(cs, norms, v)
            n(cell) += 1
            var i = 0
            while (i < IvfDim) { sums(cell)(i) += roundMicrosLocal(v(i)); i += 1 }
          }
          cents = cents.indices.map(c =>
            if (n(c) == 0L) cents(c)
            else (0 until IvfDim).map(i =>
              math.floorDiv(sums(c)(i), n(c)).toDouble / 1e6))
        }
        import spark.implicits._
        cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
      }
    }

  /** The DISTRIBUTED coarse-quantizer trainer — the scale path past
    * [[driverTrainGate]], where the training sample (16 points per
    * centroid, [[ivfTrainSize]]) no longer fits a driver collect. Each
    * Lloyd round is one Spark job: broadcast the K×64 centroid matrix,
    * score every training vector per partition with the SAME JVM
    * arithmetic as the driver trainer ([[assignCellLocal]] with hoisted
    * IEEE-deterministic norms, [[roundMicrosLocal]] fixed-point
    * accumulation), combine map-side into one packed `[n, sums…]` long
    * array per TOUCHED cell per partition, and reduce with an exact
    * order-independent element-wise long-sum `reduceByKey(cell)` — one
    * packed row per cell, streamed to the driver partition-at-a-time
    * (`toLocalIterator`), so per-round driver memory is the K×65-long
    * aggregate itself (the same order as the centroid matrix the driver
    * must hold anyway) with no boxed-Row transient, honest at the
    * 2^20-cell policy ceiling. The new centroids, computed with the
    * same `floorDiv / 1e6` rule, are BIT-IDENTICAL to the driver
    * trainer on the same sample (differential-spec-pinned). Seeding is
    * the driver rule verbatim: the K lowest vec_ids, fetched with a
    * bounded `orderBy(vec_id).limit(K)`. No round-over-round lineage:
    * each job reads the source scan afresh with centroids as local
    * values, so there is nothing to checkpoint (the x31 fixpoint
    * discipline degenerates to its snapshot-free case). */
  private[graft] def ivfCentroidsDistributed(spark: SparkSession, sfDir: String,
                                             kCells: Int, rounds: Int,
                                             trainN: Long): DataFrame = {
    import spark.implicits._
    val train = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < trainN)
      .select(col("embedding")).as[Array[Float]]
    var cents: Seq[Seq[Double]] = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < trainN)
      .select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(kCells)
      .collect().map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq
    require(cents.size == kCells,
      s"training set has only ${cents.size} vectors for $kCells centroids")
    val dim = IvfDim
    for (_ <- 0 until rounds) {
      val bc = spark.sparkContext.broadcast(
        (cents.map(_.toArray).toArray, centNormsLocal(cents)))
      // per-task accumulation is keyed by TOUCHED cell (LongMap of
      // primitive-long slots at cell·(dim+1)+…), so task memory scales
      // with min(K, partition rows), not with K — at the 2^20-cell
      // ceiling a dense Array[Long](K·dim) would cost 512 MB per task on
      // top of the 512 MB broadcast. Emission likewise covers only
      // touched cells, so the shuffle is bounded by rows, and the
      // exact long sums stay order-independent.
      val partial = train.mapPartitions { it =>
        val (cs, norms) = bc.value
        val acc = scala.collection.mutable.LongMap.empty[Array[Long]]
        val v = Array.ofDim[Double](dim)
        it.foreach { vf =>
          var i = 0
          while (i < dim) { v(i) = vf(i).toDouble; i += 1 }
          val c = assignCellLocal(cs, norms, v)
          val slot = acc.getOrElseUpdate(c.toLong, Array.ofDim[Long](dim + 1))
          slot(0) += 1
          i = 0
          while (i < dim) { slot(i + 1) += roundMicrosLocal(v(i)); i += 1 }
        }
        acc.iterator.map { case (c, slot) => (c.toInt, slot) }
      }
      // ONE packed row per touched cell — `cell → [n, sum_0 … sum_63]` —
      // reduced with an element-wise exact long-sum (commutative +
      // associative, so order-independent like the previous per-scalar
      // groupBy), then streamed to the driver partition-at-a-time with
      // toLocalIterator. Per-round driver transport is therefore K packed
      // primitive arrays (~520 B each, one partition in flight), not the
      // K×65 boxed three-field Rows a collect() materialized at once —
      // at the 2^20-cell policy ceiling that is ~550 MB of steady LongMap
      // (the same order as the K×64 centroid matrix the driver must hold
      // anyway) instead of multi-GB of transient Row debris.
      val reduced = partial.rdd.reduceByKey { (a, b) =>
        val out = Array.ofDim[Long](dim + 1)
        var i = 0
        while (i < dim + 1) { out(i) = a(i) + b(i); i += 1 }
        out
      }
      val agg = scala.collection.mutable.LongMap.empty[Array[Long]]
      reduced.toLocalIterator.foreach { case (c, slot) => agg(c.toLong) = slot }
      bc.destroy()
      cents = cents.indices.map { c =>
        agg.get(c.toLong) match {
          case None | Some(Array(0L, _*)) => cents(c) // empty cell keeps its centroid
          case Some(slot) =>
            (0 until dim).map(i =>
              math.floorDiv(slot(i + 1), slot(0)).toDouble / 1e6)
        }
      }
    }
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "centroid")
  }

  /** The cell-partitioned posting table: every vector tagged with its
    * trained cell, written hive-partitioned by `cell` — at 100 TB this IS
    * the IVF layout (the corpus partitioned by cell on disk), and a probe
    * restricted to `nprobe` cells prunes the other partitions at the scan
    * (PartitionFilters, asserted in PlanSpec). */
  /** Largest K scored as [[assignCell]]'s K static codegen'd dot-product
    * expressions; beyond it the generated code outgrows JIT-friendly
    * method sizes and the per-partition JVM scorer (the trainers'
    * [[assignCellLocal]], bit-identical by the same replica argument)
    * takes over in [[ivfAssignment]]. */
  private[graft] val AssignExprMaxK = 64

  private[graft] def ivfAssignment(spark: SparkSession, sfDir: String,
                                   kCells: Int = IvfK,
                                   rounds: Int = IvfRounds): DataFrame =
    DfCache.memoizeDisk(spark, s"ivf_assign:$sfDir:$kCells:$rounds",
        Seq(s"$sfDir/embeddings.parquet"), partitionBy = Seq("cell"),
        sessionCache = false) {
      val cents = ivfCentroids(spark, sfDir, kCells, rounds)
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
      val base = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("label"), col("embedding"))
      if (cents.size <= AssignExprMaxK)
        base.withColumn("cell", assignCell(cents))
      else assignCellsPartitioned(spark, base, cents)
    }

  /** The large-K cell assigner: per-partition JVM scoring with broadcast
    * centroids + hoisted norms — same arithmetic as [[assignCell]]
    * (spec-pinned equal), O(K·dim) per vector with no codegen blowup.
    * `base` must be `(vec_id, label, embedding)`. */
  private[graft] def assignCellsPartitioned(spark: SparkSession,
      base: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    val dim = IvfDim
    val bc = spark.sparkContext.broadcast(
      (cents.map(_.toArray).toArray, centNormsLocal(cents)))
    base.as[(Long, Int, Array[Float])].mapPartitions { it =>
      val (cs, norms) = bc.value
      val v = Array.ofDim[Double](dim)
      it.map { case (id, lb, emb) =>
        var i = 0
        while (i < dim) { v(i) = emb(i).toDouble; i += 1 }
        (id, lb, emb, assignCellLocal(cs, norms, v))
      }
    }.toDF("vec_id", "label", "embedding", "cell")
  }

  /** X6b — IVF ANN with a REAL trained coarse quantizer ([[ivfCentroids]]:
    * K-means, not the label stand-in it replaced): probe the `nprobe`
    * nearest cells by centroid cosine (K-row driver-side argsort — bounded
    * metadata, the probe-vector pattern), then exact-rank only the vectors
    * in those cells, read partition-pruned from the cell-partitioned
    * index. Measured overlap@10 vs the exact brute force: 0.9 at sf0.01,
    * 1.0 at sf0.1, scanning ~25% of the corpus (APPROX_QUALITY floors it
    * at 0.85). */
  def ivfTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
              k: Int = 10, nprobe: Int = 4): DataFrame =
    ivfProbe(spark, sfDir, ivfAssignment(spark, sfDir), queryId, k, nprobe)

  /** The x6b probe over ANY cell-partitioned IVF assignment index
    * DataFrame (the monolithic [[ivfAssignment]] memo or an
    * [[ivfCellDelete]]-maintained copy): nprobe cells by frozen-centroid
    * cosine, exact cosine rank over the pruned cells' vectors. */
  private[graft] def ivfProbe(spark: SparkSession, sfDir: String,
      index: DataFrame, queryId: Long, k: Int, nprobe: Int): DataFrame = {
    val q = typedLit(queryVec(spark, sfDir, queryId))
    val probed = ivfCentroids(spark, sfDir)
      .select(col("cell"), VectorFns.cosine(col("centroid"), q).as("csim"))
      .orderBy(col("csim").desc, col("cell"))
      .limit(nprobe)
      .select(col("cell")).collect().map(_.getInt(0)).toSeq
    index
      .where(col("cell").isin(probed: _*)) // partition pruning at the scan
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label").cast("long").as("label"),
        round(VectorFns.cosine(col("embedding"), q), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** X80's tombstone set: a ~9% id-hash sample (modulus chosen so the fixture deletion reaches the probed top-k at both gate SFs), never the probe vector —
    * a stand-in for the real deletion-request list (x75's discipline). */
  private[graft] def x80Tombstone: Column =
    graft.functions.TextFns.polyHash(col("vec_id").cast("string")) % 11 === 0 &&
      col("vec_id") =!= 0L

  /** Apply a tombstone predicate to a cell-partitioned ANN index dir by
    * rewriting ONLY the cells that contain a doomed vector — x75's
    * dirty-partition economics applied to the index artifact. Clean cells
    * keep their exact files (spec-pinned); a cell whose vectors ALL die is
    * dropped explicitly (dynamic overwrite would leave its stale files)
    * and the listing cache refreshed. The staging restriction goes through
    * the gated isin/semi-join helper, so the compiled predicate never
    * scales with the dirty-cell count. Returns the dirty cell ids
    * (bounded by K — the same O(metadata) class as x75's partition keys).
    * Replay-idempotent: a second application finds no doomed rows, so the
    * dirty set is empty and no file is touched. */
  private[graft] def ivfCellDelete(spark: SparkSession, idxDir: String,
      tomb: Column, gate: Int = Maintenance.keyGateDefault): Seq[Int] = {
    val idx = spark.read.parquet(idxDir)
    cellSwapCore(spark, idxDir, idx.where(tomb).select(col("cell")).distinct(),
      (dirtyDf, dirty) =>
        Maintenance.restrictToKeys(idx, "cell", dirtyDf, dirty, gate)
          .where(!tomb))
  }

  /** [[ivfCellDelete]] driven by an explicit tombstone KEY table instead
    * of a predicate — the streaming micro-batch form (t20): the dirty
    * cells come from a broadcast semi-join of the batch's keys against
    * the index, survivors from the anti-join. Idempotent WITHOUT markers
    * (unlike t19's fold): a replayed batch's keys are already absent, so
    * the dirty set is empty and no file is touched. */
  private[graft] def ivfCellDeleteKeys(spark: SparkSession, idxDir: String,
      keys: DataFrame, gate: Int = Maintenance.keyGateDefault): Seq[Int] = {
    val idx = spark.read.parquet(idxDir)
    val k = broadcast(keys.select(col("vec_id")).distinct())
    cellSwapCore(spark, idxDir,
      idx.join(k, Seq("vec_id"), "leftsemi").select(col("cell")).distinct(),
      (dirtyDf, dirty) =>
        Maintenance.restrictToKeys(idx, "cell", dirtyDf, dirty, gate)
          .join(k, Seq("vec_id"), "leftanti"))
  }

  /** The shared dirty-cell partition swap: collect the dirty cell ids
    * (bounded by K), stage those cells' survivors, dynamic-overwrite them
    * in, drop fully-emptied cell dirs, refresh the listing cache.
    *
    * SINGLE-WRITER, NO-CONCURRENT-READER contract: the swap is not atomic
    * for readers — between the dynamic overwrite of staged cells and the
    * manual deletion of fully-emptied cell dirs, a concurrent probe would
    * see doomed vectors in the emptied cells, and a crash in that window
    * leaves those stale files until a later batch re-dirties the same
    * cells. The maintenance loop (t20) runs batches serially and probes
    * between batches, which satisfies the contract; serving probes
    * CONCURRENTLY with maintenance would need t18's retire-to-trash /
    * publish-from-staging rename pair per cell dir instead. */
  private def cellSwapCore(spark: SparkSession, idxDir: String,
      dirtyCells: DataFrame,
      stageRows: (DataFrame, Seq[Int]) => DataFrame): Seq[Int] = {
    val dirty = dirtyCells.collect().map(_.getInt(0)).toSeq.sorted
    if (dirty.nonEmpty) {
      val stage = Tables.scratchDir("graft_x80_stage_").toString
      stageRows(dirtyCells, dirty)
        .write.mode("overwrite").partitionBy("cell").parquet(stage)
      // the staged-cell set is the staging dir's partition listing — free
      // metadata, no second scan of the survivor rows
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath.getName).collect {
          case n if n.startsWith("cell=") => n.stripPrefix("cell=").toInt
        }.toSet
      // every dirty cell emptied → nothing to overwrite (and a zero-file
      // staging dir has no schema to read); the drop loop below handles it
      if (staged.nonEmpty)
        spark.read.parquet(stage)
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy("cell").parquet(idxDir)
      // fully-emptied cells: nothing staged, nothing overwrote them
      val emptied = dirty.filterNot(staged)
      emptied.foreach { c =>
        fs.delete(new org.apache.hadoop.fs.Path(idxDir, s"cell=$c"), true); ()
      }
      // the manual drops bypass Spark's file-listing cache (x75's lesson)
      if (emptied.nonEmpty) spark.catalog.refreshByPath(idxDir)
    }
    dirty
  }

  /** X80 — the x6b probe served from an IVF index maintained under
    * DELETES: the delete twin of [[ivfPqAppend]]/x6h, closing the index
    * leg of the corpus-maintenance story (corpus x75/t18, aggregates
    * x77/x79/t19, retrieval stats x78 — and now the ANN index). The
    * corpus assignment lands as a cell-partitioned index copy, the
    * tombstones rewrite ONLY their cells ([[ivfCellDelete]]), the
    * quantizer stays FROZEN (production discipline: deletes never
    * retrain — so the surviving vectors' cells cannot move, which is
    * what makes the dirty-cell rewrite sound), and the probe reads the
    * maintained index with the same nprobe partition pruning. The oracle
    * is x6b's full retraining chain with the tombstones filtered from the
    * final rank: hash equality states that the dirty-cell rewrite ≡ a
    * rebuild from survivors under the frozen quantizer. Reference anchor:
    * the partition-rewrite-after-the-fact shape of
    * `HiveBatchedSink.scala:318-322` (re-opened partitions), applied to
    * an index artifact. */
  def ivfDeleteTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                    k: Int = 10, nprobe: Int = 4): DataFrame = {
    val idxDir = Tables.scratchDir("graft_x80_idx").toString + "/idx"
    ivfAssignment(spark, sfDir)
      .write.mode("overwrite").partitionBy("cell").parquet(idxDir)
    ivfCellDelete(spark, idxDir, x80Tombstone)
    ivfProbe(spark, sfDir, spark.read.parquet(idxDir), queryId, k, nprobe)
  }

  /** X6e — SQ8 quantized top-k: corpus-global per-DIMENSION affine int8
    * quantization (x35 quantizes per vector for storage; comparisons need
    * one shared codebook — FAISS's `SQ8` trained on the corpus), then
    * rank by integer L1 distance over the 64 codes. This is the
    * memory-bandwidth-lean rerank path of a production vector stack: 64
    * bytes per vector instead of 256, integer SAD instead of float dot.
    * The codebook is 64 (min, max) pairs — bounded metadata, collected
    * once and inlined as literals, so the plan is the x6 shape: one scan,
    * quantize + distance fused, TakeOrderedAndProject. Every step is
    * exact integer or IEEE-pinned double (min/max are order-independent
    * aggregates, the affine map is written with identical association on
    * both engines), so unlike cosine ANN this approximate representation
    * carries a FULL hash oracle. */
  def sq8TopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
              k: Int = 10): DataFrame = {
    val vd = VectorFns.asDouble(col("embedding"))
    val e = Tables.embeddings(spark, sfDir)
    val stats = e.select(posexplode(vd).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val mn = (0 until IvfDim).map(i => stats(i)._1)
    val span = (0 until IvfDim).map { i =>
      val s = stats(i)._2 - stats(i)._1
      if (s == 0.0) 1.0 else s // constant dims all map to code 0
    }
    // per-dimension code, inlined (no intermediate array, no higher-order
    // lambda): quantize + SAD stay one fused whole-stage-codegen span
    def code(i: Int): Column =
      floor((element_at(col("embedding"), i + 1).cast("double") - lit(mn(i)))
        / lit(span(i)) * 255 + 0.5).cast("long")
    // the probe's codes via the SAME IEEE ops, driver-side
    val probe = e.where(col("vec_id") === queryId)
      .select(col("embedding")).head().getSeq[Float](0)
    val probeCodes = (0 until IvfDim).map(i =>
      math.floor((probe(i).toDouble - mn(i)) / span(i) * 255 + 0.5).toLong)
    // SAD as 64 static |code − probeCode| terms: integer addition is
    // order-independent, so the oracle's SUM-over-rows form still matches
    e.where(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        (0 until IvfDim).map(i => abs(code(i) - lit(probeCodes(i))))
          .reduce(_ + _).as("l1_dist"))
      .orderBy(col("l1_dist"), col("vec_id"))
      .limit(k)
  }

  private val PqSub = 32    // subspaces (PqSub * PqSubDim = IvfDim)
  private val PqSubDim = 2
  private val PqK = 16      // codewords per subspace → 32×4-bit codes = 16 B/vector
  private val PqRounds = 3
  private val PqShortlist = 50
  private val PqShift = 2000000L // lifts fixed-point values ≥ 0 so trunc == floor

  /** Fixed-point nonnegative integer view of the embedding: u_d =
    * floor(x_d·10⁶ + 0.5) + [[PqShift]]. Explicit half-up (never dialect
    * `round()`), and the shift keeps every later sum/div nonnegative so
    * integer division is floor division on BOTH engines. The shift cancels
    * in every distance. */
  private def pqFixed: Column =
    transform(VectorFns.asDouble(col("embedding")),
      x => floor(x * 1e6 + 0.5).cast("long") + lit(PqShift))

  /** All [[PqSub]] codeword assignments in ONE compact expression: the
    * codebook rides along as a 3-level array LITERAL (data, not code) and
    * the per-subspace integer argmin runs as nested higher-order
    * functions, so the generated code is constant-size regardless of
    * S×K — the unrolled 512-distance tree this replaces compiled 3-4 MiB
    * of Janino bytecode (~100 s per plan at ANY data size; the round-7
    * bench regression). Semantics unchanged and exact: integer squared-L2
    * on the [[pqFixed]] view, `array_position(array_min)` takes the FIRST
    * minimum so ties still break to the lowest cid — the rule the
    * oracle's `row_number() ORDER BY dist, cid` applies. */
  private def pqCodesExpr(u: Column, cents: Array[Array[Array[Long]]]): Column = {
    val cb = typedLit(cents.map(_.map(_.toSeq).toSeq).toSeq)
    transform(sequence(lit(0), lit(PqSub - 1)), s => {
      val scores = transform(element_at(cb, s + 1), cw =>
        (0 until PqSubDim).map { j =>
          val d = element_at(u, s * lit(PqSubDim) + lit(j + 1)) - element_at(cw, j + 1)
          d * d
        }.reduce(_ + _))
      (array_position(scores, array_min(scores)) - 1).cast("int")
    })
  }

  /** Training-sample bound: every vector with `vec_id < PqTrainN` — one
    * deterministic SQL-expressible predicate, so the sample is identical
    * on both engines: the oracle's `pqt` training CTE carries the same
    * `vec_id < 65536` (a no-op at fixture scale, where the corpus is ≤
    * 2,000 rows, but defined-identical at every SF). Past the bound it
    * caps driver memory at N×64 longs (~32 MB) — FAISS trains PQ on a
    * bounded sample for exactly this reason. */
  private val PqTrainN = 65536L

  /** The trained product-quantization codebooks behind x6f (Jégou,
    * Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011 — the PQ/ADC formulation): [[PqRounds]] Lloyd iterations
    * over the [[PqTrainN]]-bounded sample, collected ONCE (one scan) and
    * trained driver-side — the per-round inputs were always bounded
    * metadata, and the round-7 profile showed the distributed form spent
    * ~100× its data cost on Catalyst/Janino replanning per round. Rules
    * unchanged and exact: assign = integer argmin with first-min
    * tie-break (ties to the lowest cid), update = per-(subspace,
    * codeword) integer mean with floor division over order-independent
    * integer sums, empty codewords keep their previous value, seeds = the
    * K lowest vec_ids. ALL arithmetic is exact integer on the [[pqFixed]]
    * view, so the trained codebooks — and everything downstream — are
    * bit-identical to the distributed form they replace, across runs,
    * partitionings, and engines: the DuckDB oracle replays the same
    * training as unrolled materialized CTEs and hash-matches.
    * S×K×[[PqSubDim]] longs of bounded driver metadata, disk-memoized. */
  private[graft] def pqCodebooks(spark: SparkSession,
                                 sfDir: String): Array[Array[Array[Long]]] = {
    val df = DfCache.memoizeDisk(spark, s"pq_cent:$sfDir:$PqSub:$PqK:$PqRounds",
        Seq(s"$sfDir/embeddings.parquet")) {
      val sample: Array[Array[Long]] = Tables.embeddings(spark, sfDir)
        .where(col("vec_id") < PqTrainN)
        .select(col("vec_id"), pqFixed.as("u"))
        .orderBy(col("vec_id"))
        .collect().map(_.getSeq[Long](1).toArray)
      var cents: Array[Array[Array[Long]]] = Array.tabulate(PqSub, PqK) {
        (s, c) => sample(c).slice(s * PqSubDim, (s + 1) * PqSubDim)
      }
      for (_ <- 0 until PqRounds) {
        val n = Array.ofDim[Long](PqSub, PqK)
        val sums = Array.ofDim[Long](PqSub, PqK, PqSubDim)
        for (u <- sample; s <- 0 until PqSub) {
          var best = 0
          var bestD = Long.MaxValue
          var c = 0
          while (c < PqK) {
            var d = 0L
            var j = 0
            while (j < PqSubDim) {
              val t = u(s * PqSubDim + j) - cents(s)(c)(j); d += t * t; j += 1
            }
            if (d < bestD) { bestD = d; best = c } // strict <: first minimum wins
            c += 1
          }
          n(s)(best) += 1
          var j = 0
          while (j < PqSubDim) { sums(s)(best)(j) += u(s * PqSubDim + j); j += 1 }
        }
        val prev = cents
        cents = Array.tabulate(PqSub, PqK)((s, c) =>
          if (n(s)(c) == 0L) prev(s)(c)
          else Array.tabulate(PqSubDim)(j => math.floorDiv(sums(s)(c)(j), n(s)(c))))
      }
      import spark.implicits._
      cents.zipWithIndex.flatMap { case (ks, s) =>
        ks.zipWithIndex.map { case (cv, c) => (s, c, cv.toSeq) }
      }.toSeq.toDF("s", "cid", "cv")
    }
    val loaded = df.collect().map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getSeq[Long](2).toArray).toMap
    Array.tabulate(PqSub, PqK)((s, c) => loaded((s, c)))
  }

  /** The PQ index table: every vector's [[PqSub]] codeword ids plus its
    * fixed-point view `u` (kept for the exact-rerank stage — FAISS's
    * "refine" index stores full-precision vectors next to the codes the
    * same way). Encoding runs ONCE per corpus version — the 512-distance
    * argmin expression is paid at index-build time, disk-memoized — and
    * every query reads the codes; at 100 TB this is the difference
    * between an index and re-encoding the corpus per query. */
  private[graft] def pqIndex(spark: SparkSession, sfDir: String): DataFrame =
    DfCache.memoizeDisk(spark, s"pq_codes:$sfDir:$PqSub:$PqK:$PqRounds",
        Seq(s"$sfDir/embeddings.parquet")) {
      val cents = pqCodebooks(spark, sfDir)
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), pqFixed.as("u"))
        .select(col("vec_id"), col("u"), pqCodesExpr(col("u"), cents).as("codes"))
    }

  /** A fetched probe vector in the [[pqFixed]] fixed-point domain,
    * computed driver-side with the same IEEE ops (exact integers
    * thereafter). */
  private def fixedProbe(v: Seq[Float]): Seq[Long] =
    v.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong + PqShift)

  /** Exact integer-L2 brute-force top-k over the fixed-point view — the
    * ground truth the PQ/IVF-PQ quality metrics compare against. */
  private[graft] def bruteL2TopK(spark: SparkSession, sfDir: String,
                                 queryId: Long = 0L, k: Int = 10): DataFrame = {
    val u0 = fixedProbe(queryVec(spark, sfDir, queryId))
    Tables.embeddings(spark, sfDir)
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), pqFixed.as("u"))
      .select(col("vec_id"),
        aggregate(zip_with(col("u"), typedLit(u0), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("l2_dist"))
      .orderBy(col("l2_dist"), col("vec_id"))
      .limit(k)
  }

  /** The PQ encode expression over a RAW `embedding` column — the same
    * integer argmin against the trained codebook literals the stored
    * [[pqIndex]] was built with, usable on any DataFrame with that column
    * (in particular a live STREAM of new vectors: the codebooks are
    * bounded driver metadata, so a fresh vector is encoded identically to
    * the backfilled corpus — spec-pinned in StreamingSpec). */
  private[graft] def streamEncodeCodes(spark: SparkSession, sfDir: String): Column = {
    val cents = pqCodebooks(spark, sfDir)
    pqCodesExpr(pqFixed, cents)
  }

  /** The composed IVF-PQ index (FAISS `IVFxx,PQyy` with refine): every
    * vector's trained coarse cell ([[ivfCentroids]]), its PQ codes, and
    * its fixed-point view, written hive-partitioned by `cell` — ONE scan
    * builds it, and a probe prunes to `nprobe` cell directories at the
    * file level while ADC reads 16 B of codes per candidate. This is the
    * 100 TB layout: the corpus lives partitioned by cell, codes answer
    * the shortlist, stored vectors answer the rerank. */
  private[graft] def ivfPqIndex(spark: SparkSession, sfDir: String): DataFrame =
    DfCache.memoizeDisk(spark, s"ivfpq_idx:$sfDir:$PqSub:$PqK:$PqRounds",
        Seq(s"$sfDir/embeddings.parquet"), partitionBy = Seq("cell"),
        sessionCache = false) {
      val cents = ivfCentroids(spark, sfDir)
        .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
      val pq = pqCodebooks(spark, sfDir)
      Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"), pqFixed.as("u"))
        .select(col("vec_id"), col("u"), pqCodesExpr(col("u"), pq).as("codes"),
          assignCell(cents).as("cell"))
    }

  /** Incremental IVF-PQ index maintenance: encode a NEW batch of vectors
    * with the FROZEN trained quantizers (coarse cells + PQ codebooks are
    * bounded driver metadata — the corpus index must never shift under a
    * live query) and publish it as the tag-scoped layer
    * `batch=<tag>/cell=<c>` of `indexDir`. Properties, both spec-pinned:
    * a RETRY replaces its own layer instead of appending a second copy
    * (the x16 idempotence rule), and because the
    * quantizers are frozen, incrementally-built batches are bit-identical
    * to a full rebuild — growing the corpus never re-encodes it. `cell`
    * stays a partition column through the batch layer, so a probe's
    * nprobe filter still prunes directories across every batch. */
  def ivfPqAppend(spark: SparkSession, sfDir: String, newVecs: DataFrame,
                  indexDir: String, batchTag: String): DataFrame = {
    ivfPqAppendEncoded(encodeVectorBatch(spark, sfDir, newVecs), indexDir,
      batchTag)
    VersionedLayers.readAny(spark, indexDir)
  }

  /** Encode a batch of raw `(vec_id, embedding)` rows ONCE for EVERY
    * embedding artifact the pipeline maintains — the shared-derivation
    * twin of the orchestrator's `enriched` text batch (x94's discipline
    * applied to vectors): the frozen coarse cell (`assignCell`), the PQ
    * codes, the fixed-point view and the row norm all attach in one
    * map-only pass, so the IVF-PQ append reads `(u, codes, cell)`, the
    * SemDeDup admit reads `(embedding, cell, nrm)`, and nothing assigns
    * or quantizes twice. Both quantizers are bounded driver metadata
    * (disk-memoized), so the expression is pure codegen over the scan. */
  private[graft] def encodeVectorBatch(spark: SparkSession, sfDir: String,
                                       vecs: DataFrame): DataFrame = {
    val cents = ivfCentroids(spark, sfDir)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    val pq = pqCodebooks(spark, sfDir)
    vecs
      .select(col("vec_id"), col("embedding"), pqFixed.as("u"))
      .select(col("vec_id"), col("embedding"), col("u"),
        pqCodesExpr(col("u"), pq).as("codes"),
        assignCell(cents).as("cell"),
        VectorFns.norm(col("embedding")).as("nrm"))
  }

  /** Land an [[encodeVectorBatch]] batch as the tag-scoped
    * `batch=<tag>/cell=<c>/` layer of an IVF-PQ index — [[ivfPqAppend]]'s
    * write with the encoding already done (the orchestrator encodes once
    * for two artifacts). Same columns, same layout, same x16 retry rule. */
  private[graft] def ivfPqAppendEncoded(encoded: DataFrame, indexDir: String,
                                        batchTag: String): Unit =
    VersionedLayers.publishLayer(encoded.sparkSession,
      indexDir, batchTag,
      encoded.select(col("vec_id"), col("u"), col("codes"), col("cell")),
      subPartition = Seq("cell"))

  /** X6g — IVF-PQ with exact refine, the ladder composed into the index
    * every production vector store actually ships: the probe picks
    * `nprobe` trained cells by centroid similarity (bounded driver
    * metadata), the scan reads ONLY those cell partitions
    * (PartitionFilters), ADC ranks candidates by 32 integer table
    * lookups against the stored codes, and the 50-deep shortlist is
    * exact-reranked from the stored vectors. Approximation comes from
    * two sources — cell pruning and code quantization — so unlike x6f
    * this carries no cross-engine oracle; quality is regenerated per
    * round into APPROX_QUALITY.json (overlap@10 vs the exact scan) and
    * spec-floored. */
  def ivfPqTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                k: Int = 10, nprobe: Int = 4): DataFrame =
    ivfPqProbe(spark, sfDir, ivfPqIndex(spark, sfDir), queryId, k, nprobe)

  /** The x6g probe over ANY cell-partitioned IVF-PQ index DataFrame
    * (the monolithic [[ivfPqIndex]] or a [[ivfPqAppend]]-grown one):
    * nprobe cells by centroid cosine, ADC shortlist against the stored
    * codes, exact integer-L2 rerank. */
  private[graft] def ivfPqProbe(spark: SparkSession, sfDir: String, index: DataFrame,
                         queryId: Long, k: Int, nprobe: Int): DataFrame = {
    val v = queryVec(spark, sfDir, queryId)
    val probed = ivfCentroids(spark, sfDir)
      .select(col("cell"), VectorFns.cosine(col("centroid"), typedLit(v)).as("csim"))
      .orderBy(col("csim").desc, col("cell"))
      .limit(nprobe)
      .select(col("cell")).collect().map(_.getInt(0)).toSeq
    val cents = pqCodebooks(spark, sfDir)
    val u0 = fixedProbe(v)
    def sub0(s: Int) = u0.slice(s * PqSubDim, (s + 1) * PqSubDim)
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val pdist = (0 until PqSub).map(s =>
      (0 until PqK).map(c => d2(sub0(s), cents(s)(c).toSeq)))
    index
      .where(col("cell").isin(probed: _*)) // partition pruning at the scan
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("u"),
        (0 until PqSub).map(s =>
          element_at(typedLit(pdist(s)), element_at(col("codes"), s + 1) + 1))
          .reduce(_ + _).as("adc"))
      .orderBy(col("adc"), col("vec_id")).limit(PqShortlist)
      .select(col("vec_id"),
        aggregate(zip_with(col("u"), typedLit(u0), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("l2_dist"))
      .orderBy(col("l2_dist"), col("vec_id"))
      .limit(k)
  }

  /** X6h — the x6g probe served from an INCREMENTALLY maintained IVF-PQ
    * index: the corpus lands as two [[ivfPqAppend]] batches (even/odd
    * vec_id — any split; the quantizers are frozen so batch membership
    * can't change a row) of a scratch index, and the probe reads the
    * grown index's `batch=<tag>/cell=<c>` partitions with the same
    * nprobe pruning. Bit-identical to the monolithic rebuild (spec-pinned), so
    * x6h carries x6g's full retraining oracle verbatim — the append
    * path itself sits under the cross-engine correctness gate (the
    * 100 TB operational mode; reference anchor: the incremental landing
    * loop `HiveBatchedSink.scala:297-358`). */
  def ivfPqAppendTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                      k: Int = 10, nprobe: Int = 4): DataFrame = {
    val idx = Tables.scratchDir("graft_x6h_idx").toString + "/idx"
    val vecs = Tables.embeddings(spark, sfDir)
    ivfPqAppend(spark, sfDir, vecs.where(pmod(col("vec_id"), lit(2L)) === 0L),
      idx, "base")
    val grown = ivfPqAppend(spark, sfDir,
      vecs.where(pmod(col("vec_id"), lit(2L)) === 1L), idx, "grow")
    ivfPqProbe(spark, sfDir, grown, queryId, k, nprobe)
  }

  /** Apply a tombstone KEY table to a BATCH-LAYERED index
    * (`batch=<tag>/cell=<c>` — the [[ivfPqAppend]] artifact) by
    * rewriting ONLY the (batch, cell) leaves that hold a doomed vector —
    * x80's dirty-cell economics addressed one level deeper. The dirty set
    * comes from one broadcast semi-join of the keys against the index;
    * the dirty leaves' survivors (a manifest-pruned read) stage in one
    * two-level `partitionBy` write and swap in one manifest publish
    * ([[VersionedLayers.rewriteCellLayers]]). Clean leaves — every
    * (batch, cell) the batch doesn't touch, including clean cells of a
    * dirty tag — keep their immutable store dirs (spec-pinned), so a
    * delete against a grown index never re-encodes or rewrites history
    * it didn't touch, and concurrent probes keep the pre-delete
    * snapshot. Replay-idempotent without markers (t20's argument): a
    * replayed batch's keys are already absent, the dirty set is empty,
    * nothing is published. A delete before any publish is a structural
    * no-op. Returns the dirty (batch, cell) pairs — bounded by layers ×
    * K, the same O(metadata) class as x75's partition keys. */
  private[graft] def ivfPqLayerDeleteKeys(spark: SparkSession, idxDir: String,
      keys: DataFrame): Seq[(String, Int)] = {
    val live = VersionedLayers.layers(spark, idxDir)
    if (live.isEmpty) return Seq.empty
    val idx = VersionedLayers.readTags(spark, idxDir, live.map(_.tag).toSet)
    val k = broadcast(keys.select(col("vec_id")).distinct())
    val dirty = idx.join(k, Seq("vec_id"), "leftsemi")
      .select(col("batch"), col("cell")).distinct()
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted
    if (dirty.nonEmpty) {
      val surv = VersionedLayers.readCells(spark, idxDir, dirty.toSet)
        .join(k, Seq("vec_id"), "leftanti")
      VersionedLayers.rewriteCellLayers(spark, idxDir, dirty, surv)
    }
    dirty
  }

  /** ONE-publish upsert over a batch-layered IVF-PQ index (VERDICT r17
    * #1, the cell-granular twin of `Dedup.indexUpsertFold`): the dirty
    * (batch, cell) leaves' delete-survivors AND the encoded insert
    * batch's new `batch=<tag>` layer stage in ONE two-level
    * `partitionBy(batch, cell)` write and land in ONE manifest publish,
    * where the append-then-delete pair paid two write jobs and two
    * publishes. Equivalence with the pair is order-free: `encoded` is
    * net of same-batch cancels, so its rows never match `keys` and the
    * dirty set is identical whether the fresh layer exists yet or not;
    * final state ≡ (stored \ keys) ∪ fresh either way (x84's oracle
    * argument). Replay converges by the same rules (keys already absent
    * ⇒ dirty = ∅; the re-derived tag layer replaces its own prior
    * entry). Returns the dirty pairs. */
  private[graft] def ivfPqUpsertEncodedKeys(spark: SparkSession, idxDir: String,
      keys: DataFrame, tag: String, encoded: DataFrame,
      knownDirty: Option[Seq[(String, Int)]] = None): Seq[(String, Int)] = {
    val k = broadcast(keys.select(col("vec_id")).distinct())
    val fresh = encoded.select(col("vec_id"), col("u"), col("codes"), col("cell"))
      .withColumn("batch", lit(tag))
    val live = VersionedLayers.layers(spark, idxDir).filterNot(_.tag == tag)
    val livePairs = live.flatMap(l => l.cell.map(c => (l.tag, c))).toSet
    val dirty = knownDirty
      .map(_.filter(livePairs).sorted)
      .getOrElse {
      if (live.isEmpty) Seq.empty[(String, Int)]
      else VersionedLayers.readTags(spark, idxDir, live.map(_.tag).toSet)
        .join(k, Seq("vec_id"), "leftsemi")
        .select(col("batch"), col("cell")).distinct()
        .collect().map(r => (r.getString(0), r.getInt(1))).toSeq.sorted }
    val staged =
      if (dirty.isEmpty) fresh
      else VersionedLayers.readCells(spark, idxDir, dirty.toSet)
        .join(k, Seq("vec_id"), "leftanti")
        .select(col("vec_id"), col("u"), col("codes"), col("cell"),
          col("batch"))
        .unionByName(fresh)
    VersionedLayers.rewriteCellLayers(spark, idxDir, dirty, staged,
      appendTag = Some(tag))
    dirty
  }

  /** X83 — the x6g probe served from an incrementally-grown index
    * maintained under DELETES: x6h's two [[ivfPqAppend]] batches land the
    * layered `batch=<tag>/cell=<c>` artifact, then a tombstone batch
    * leaves it through [[ivfPqLayerDeleteKeys]] — the composition the
    * flat-index delete (x80/t20) couldn't reach, closing the last open
    * maintenance symmetry: the APPEND-maintained index now also folds
    * deletes. Both quantizers stay FROZEN (they trained on the full
    * corpus — production discipline, and what makes the dirty-leaf
    * rewrite ≡ a survivor rebuild). The oracle is x6g's full retraining
    * chain with the tombstones excluded from the CANDIDATE set (not just
    * the final rank: dropping index rows changes which 50 survivors
    * reach the ADC shortlist), so hash equality states the layered
    * dirty-leaf rewrite converges to the survivor index end-to-end
    * through shortlist and rerank. Reference anchor: the late-arrival
    * partition re-open (`HiveBatchedSink.scala:318-322`) applied to a
    * layered index artifact. */
  def ivfPqDeleteTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                      k: Int = 10, nprobe: Int = 4): DataFrame = {
    val idx = Tables.scratchDir("graft_x83_idx").toString + "/idx"
    val vecs = Tables.embeddings(spark, sfDir)
    ivfPqAppend(spark, sfDir, vecs.where(pmod(col("vec_id"), lit(2L)) === 0L),
      idx, "base")
    ivfPqAppend(spark, sfDir, vecs.where(pmod(col("vec_id"), lit(2L)) === 1L),
      idx, "grow")
    ivfPqLayerDeleteKeys(spark, idx, vecs.where(x80Tombstone).select(col("vec_id")))
    ivfPqProbe(spark, sfDir, VersionedLayers.readAny(spark, idx), queryId, k, nprobe)
  }

  /** Compact a batch-layered index's `batch=<tag>` layers into ONE —
    * the small-layer management every append-maintained artifact needs
    * at scale (t22 grows a layer per micro-batch; probes then list and
    * read N small files per cell). Under the FROZEN quantizers a
    * compaction is a pure re-layout: no row changes, so the probe is
    * bit-equal before and after (spec-pinned; the declared query carries
    * x83's oracle through a compaction to state it cross-engine).
    * Manifest-atomic through the shared core,
    * [[VersionedLayers.compactVersioned]] (x88 compacts the dedup
    * fingerprint index through the same code). Cost is one full
    * index read + write — the operator you run in a maintenance window
    * precisely so that every PROBE afterwards reads one layer. Returns
    * the number of layers folded. Reference anchor: the partition
    * compaction pass (`HiveBatchedSink.scala:297-358` and
    * `compactPartitions`' retire/publish shape) — layer management after
    * incremental landing IS the reference's core job. */
  private[graft] def ivfPqCompactLayers(spark: SparkSession, idxDir: String,
                                        tag: String): Int =
    VersionedLayers.compactVersioned(spark, idxDir, tag, Seq("cell"))(identity)

  /** X85 — the x6g probe served through a LAYER COMPACTION: x83's full
    * maintenance history (two appends, a tombstone batch) runs first,
    * then the surviving layers fold into one and the probe reads the
    * compacted index. The oracle is x83's verbatim — the green hash
    * states compaction is probe-invariant, i.e. re-layout changes no
    * result — and the spec pins the stronger row-level statement. With append (x6h), delete (x83), upsert (x84),
    * streaming (t22), and now compaction, the layered index has the
    * complete operational lifecycle. */
  def ivfPqCompactTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                       k: Int = 10, nprobe: Int = 4): DataFrame = {
    val idx = Tables.scratchDir("graft_x85_idx").toString + "/idx"
    val vecs = Tables.embeddings(spark, sfDir)
    ivfPqAppend(spark, sfDir, vecs.where(pmod(col("vec_id"), lit(2L)) === 0L),
      idx, "base")
    ivfPqAppend(spark, sfDir, vecs.where(pmod(col("vec_id"), lit(2L)) === 1L),
      idx, "grow")
    ivfPqLayerDeleteKeys(spark, idx, vecs.where(x80Tombstone).select(col("vec_id")))
    ivfPqCompactLayers(spark, idx, "compacted")
    ivfPqProbe(spark, sfDir, VersionedLayers.readAny(spark, idx), queryId, k, nprobe)
  }

  /** X84 — the full index UPSERT: ONE maintenance pass carries an insert
    * batch (landed as a new `batch=<tag>` layer, x6h's append) and a
    * tombstone batch (propagated through the stored layers' dirty
    * (batch, cell) leaves, x83's delete) — x79's capstone shape for the
    * index artifact. Tombstones naming vectors of the INCOMING batch
    * cancel before landing (one broadcast anti-join — the analog of
    * x79's insert-repairs tightening: the row never lands, so no leaf is
    * dirtied on its account), then the remaining deletes address stored
    * history. Final state ≡ ((stored ∪ inserts) \ doomed) under the
    * frozen quantizers, which is x83's final state — so x83's oracle
    * carries over VERBATIM, and the two green hashes state that the
    * delete-after-append and upsert-in-one-pass operational paths
    * converge to the same survivor index. */
  def ivfPqUpsertTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                      k: Int = 10, nprobe: Int = 4): DataFrame = {
    val idx = Tables.scratchDir("graft_x84_idx").toString + "/idx"
    val vecs = Tables.embeddings(spark, sfDir)
    val tombs = vecs.where(x80Tombstone).select(col("vec_id"))
    // stored history: the even half, landed as the base layer
    ivfPqAppend(spark, sfDir, vecs.where(pmod(col("vec_id"), lit(2L)) === 0L),
      idx, "base")
    // ONE upsert pass, ONE staged write + publish (VERDICT r17 #1): the
    // insert batch (net of its own tombstones) and the stored layers'
    // delete-survivors land together — final state ≡ (stored \ doomed) ∪
    // inserts either way, so x83's oracle carries verbatim
    ivfPqUpsertEncodedKeys(spark, idx, tombs, "grow",
      encodeVectorBatch(spark, sfDir,
        vecs.where(pmod(col("vec_id"), lit(2L)) === 1L)
          .join(broadcast(tombs), Seq("vec_id"), "leftanti")))
    ivfPqProbe(spark, sfDir, VersionedLayers.readAny(spark, idx), queryId, k, nprobe)
  }

  /** X6f — product-quantization shortlist + exact rerank, the production
    * PQ query shape (FAISS's ADC): each vector is [[PqSub]] 4-bit codeword
    * ids (16 B — 16× narrower than the float vector), the probe stays
    * UNquantized, and its distance to every codeword is a precomputed
    * S×K integer table. Stage 1 scores the corpus by ADC — one
    * array-literal lookup per subspace, no float math — into a
    * [[PqShortlist]]-deep top heap that CARRIES the fixed-point vector
    * (50 rows × 64 longs, nothing); stage 2 exact-reranks those 50 by
    * integer squared-L2 to the final top-k. One corpus scan, assignment +
    * lookup fused into it, then two TakeOrderedAndProject steps. Training
    * ([[pqCodebooks]]) and both distances are exact integer, so x6f
    * carries a FULL hash oracle: DuckDB retrains the same codebooks and
    * replays both stages bit-for-bit. Measured: ADC-only overlap@10 vs
    * exact = 0.5–0.6 on the fixtures; after the 50-deep rerank = 1.0
    * (spec-floored at 0.9) — the shortlist absorbs the quantization
    * error, which is the entire point of the two-stage design. */
  def pqTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
             k: Int = 10): DataFrame = {
    val cents = pqCodebooks(spark, sfDir)
    val u0 = fixedProbe(queryVec(spark, sfDir, queryId))
    def sub0(s: Int) = u0.slice(s * PqSubDim, (s + 1) * PqSubDim)
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // ADC table: probe (raw, unquantized) vs every codeword — S×K longs
    val pdist = (0 until PqSub).map(s =>
      (0 until PqK).map(c => d2(sub0(s), cents(s)(c).toSeq)))
    // scan the stored codes ([[pqIndex]]): ADC is 32 literal-array lookups
    // per row, no distance arithmetic at query time at all
    pqIndex(spark, sfDir)
      .where(col("vec_id") =!= queryId)
      .select(col("vec_id"), col("u"),
        (0 until PqSub).map(s =>
          element_at(typedLit(pdist(s)), element_at(col("codes"), s + 1) + 1))
          .reduce(_ + _).as("adc"))
      .orderBy(col("adc"), col("vec_id")).limit(PqShortlist)
      .select(col("vec_id"),
        aggregate(zip_with(col("u"), typedLit(u0), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("l2_dist"))
      .orderBy(col("l2_dist"), col("vec_id"))
      .limit(k)
  }

  /** X6d — batched exact top-k: score the corpus against N probe vectors
    * in ONE scan (the eval-harness shape — a query batch, not a single
    * vector). The probe batch is bounded metadata (N rows), inlined as a
    * literal array and `explode`d against each corpus row — so the plan
    * is Scan → Generate → Window(per-probe heap-rank), with no join
    * operator at all: the same ship-the-queries-to-the-data shape as x6,
    * amortizing the corpus scan across the whole batch. Per-probe rank
    * partitions on probe_id — N-way parallel, never single-partition. */
  def batchTopK(spark: SparkSession, sfDir: String, nProbes: Int = 10,
                k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val probes: Seq[(Long, Seq[Float])] = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < nProbes)
      .select(col("vec_id"), col("embedding"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    Tables.embeddings(spark, sfDir)
      .where(col("vec_id") >= nProbes)
      .select(col("vec_id"), col("embedding"),
        explode(typedLit(probes)).as("p"))
      .select(col("p._1").as("probe_id"), col("vec_id"),
        round(VectorFns.cosine(col("embedding"), col("p._2")), 6).as("cosine"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("vec_id"), col("cosine"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** X35 — int8 scalar quantization of the embedding column: per-vector
    * min/max affine mapping to 0..255, the storage/shuffle-width lever for
    * vector search at scale (4× narrower than float32 — the difference
    * between shipping 256 B and 64 B per vector through every ANN
    * shuffle/broadcast; FAISS's `SQ8`). Emits the codebook params, an
    * integer checksum of the codes (exact oracle anchor), and the mean
    * absolute reconstruction error, which is bounded by
    * `(max−min)/255/2` per component — asserted by spec.
    *
    * Determinism: the code is `floor(t·255 + 0.5)` — explicit half-up in
    * exact double arithmetic, bit-identical across engines, instead of
    * `round()` whose tie-breaking is dialect-specific. Constant vectors
    * (max == min) map to code 0 with scale 1 (no div-by-zero). */
  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val v = VectorFns.asDouble(col("embedding"))
    val mn = array_min(v)
    val mx = array_max(v)
    val scale = when(col("mx") === col("mn"), lit(1.0))
      .otherwise(col("mx") - col("mn"))
    val code = transform(v, x =>
      floor((x - col("mn")) / col("sc") * 255.0 + 0.5).cast("long"))
    val dequant = (c: org.apache.spark.sql.Column) =>
      col("mn") + c.cast("double") / 255.0 * col("sc")
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), mn.as("mn"), mx.as("mx"))
      .withColumn("sc", scale)
      .withColumn("q", code)
      .select(col("vec_id"),
        round(col("mn"), 6).as("qmin"),
        round(col("mx"), 6).as("qmax"),
        aggregate(col("q"), lit(0L), (a, x) => a + x).as("code_sum"),
        round(
          aggregate(zip_with(VectorFns.asDouble(col("embedding")), col("q"),
            (x, c) => abs(x - dequant(c))), lit(0.0), (a, e) => a + e)
            / size(col("q")), 6).as("mean_abs_err"))
      .orderBy(col("vec_id"))
  }

  /** X6c — pairwise label-centroid similarity matrix: a tiny all-pairs on
    * an already-reduced aggregate (10×10), the legitimate use of cross
    * join.
    *
    * Oracle-exact by construction (the x31/x35 fixed-point discipline):
    * the float elements are micro-scaled to longs (`floor(x·1e6 + 0.5)` —
    * exact, a float's 24-bit mantissa times 1e6 fits double) and summed as
    * integers, which is order-independent where a float `avg` differs in
    * its low bits per partitioning. The count divisor is NOT applied at
    * all — cosine is scale-invariant, so the centroid (mean) cosine equals
    * the SUM-vector cosine exactly, and skipping the division avoids the
    * truncate-vs-floor integer-division dialect trap outright. The final
    * double ops (cast, sqrt, divide, explicit half-up via floor) are
    * IEEE-identical in any engine, so DuckDB reproduces the value
    * bit-for-bit and x6c carries a full hash-checked oracle.
    * Long-overflow headroom: |s_i| ≤ n·2^19-ish micros keeps Σs_i² under
    * 2^63 up to ~10⁵ rows per label per unit-scale dim; beyond that,
    * rescale the fixed point (the dial is the 1e6 literal). */
  def centroidMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = 64
    val v = VectorFns.asDouble(col("embedding"))
    val s = Tables.embeddings(spark, sfDir).groupBy(col("label"))
      .agg(array((0 until dim).map(i =>
        sum(floor(element_at(v, i + 1) * 1e6 + 0.5).cast("long"))): _*).as("s"))
      .select(col("label"), col("s"),
        aggregate(col("s"), lit(0L), (a, x) => a + x * x).as("sq"))
    s.as("a").join(s.as("b"), col("a.label") < col("b.label"))
      .select(col("a.label").cast("long").as("l1"),
        col("b.label").cast("long").as("l2"),
        (floor(
          aggregate(zip_with(col("a.s"), col("b.s"), (x, y) => x * y),
            lit(0L), (acc, p) => acc + p).cast("double")
            / (sqrt(col("a.sq").cast("double")) * sqrt(col("b.sq").cast("double")))
            * 1e6 + 0.5) / 1e6).as("cosine"))
      .orderBy(col("l1"), col("l2"))
  }

  /** X66 — embedding outlier detection: for each label, the `topN` vectors
    * farthest (squared L2) from their own label centroid — the embedding-QC
    * pass a curation pipeline runs before trusting labels or training on
    * the vectors (mis-embedded rows, label noise and near-empty inputs all
    * surface as centroid outliers).
    *
    * Oracle-exact by the x6c fixed-point discipline: elements are
    * micro-scaled longs, the per-label centroid divides the exact integer
    * SUM vector with the explicit IEEE half-up form (`floor(s/n + 0.5)` on
    * doubles — sums < 2⁵³ stay exact), and the squared distance expands to
    * three [[VectorFns.dot]] products over integer-valued doubles (every
    * product ≤ 1.5e12 and every partial sum ≤ 4e14 — exact, order-free), so
    * DuckDB's all-integer restatement matches bit-for-bit.
    *
    * Scale: one scan feeds the |labels|-row centroid aggregate (map-side
    * partial sums of 64 longs per label), the centroid table broadcasts
    * back, the distance projection stays in whole-stage codegen, and the
    * per-label rank filter compiles to WindowGroupLimit (≤ topN rows per
    * label survive each map partition — post-shuffle volume
    * O(labels·topN), never the corpus). */
  def embeddingOutliers(spark: SparkSession, sfDir: String, topN: Int = 5): DataFrame = {
    val dim = 64
    val v = VectorFns.asDouble(col("embedding"))
    val micro = array((0 until dim).map(i =>
      floor(element_at(v, i + 1) * 1e6 + 0.5).cast("long")): _*)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label").cast("long").as("label"), micro.as("e"))
    val cent = e.groupBy(col("label"))
      .agg(array((0 until dim).map(i => sum(element_at(col("e"), i + 1))): _*).as("s"),
           count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("s"),
          s => floor(s.cast("double") / col("n") + 0.5).cast("long")).as("c"))
    val ed = VectorFns.asDouble(col("e"))
    val cd = VectorFns.asDouble(col("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("dist").desc, col("vec_id"))
    e.join(broadcast(cent), "label")
      .select(col("label"), col("vec_id"),
        (VectorFns.dot(ed, ed) - lit(2.0) * VectorFns.dot(ed, cd)
          + VectorFns.dot(cd, cd)).cast("long").as("dist"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= topN)
      .orderBy(col("label"), col("rnk"))
  }

  /** X69 — SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with the trained IVF coarse
    * quantizer ([[ivfAssignment]] — the same K-means cells behind x6b),
    * then dedup ONLY within each cell: a vector is dropped when a
    * lower-id vector in its cell has cosine ≥ `threshold` (the paper's
    * ε-ball pruning with a deterministic min-id keeper instead of a
    * random one). Cross-cell near-dups are invisible by design — that is
    * the trade that makes the pass linear: all-pairs runs per cell, never
    * corpus-wide. The cell count is NOT fixed: it defaults to
    * [[semanticCellCount]]'s corpus-size policy `K = max(IvfK,
    * ⌈N / targetCellPop⌉)`, which caps the AVERAGE cell population at
    * `targetCellPop` (sys-prop `graft.semdedup.cellpop`, default
    * [[SemanticCellPop]]), so total within-cell pair work is ≤
    * K·(balance·target)²/2 — linear in N at fixed target, with the
    * quantizer's balance factor spec-pinned on the fixture
    * (DedupSimilaritySpec "x69: cell-count policy"). At the fixture SFs
    * the policy resolves to the floor `IvfK`, so the trained quantizer —
    * and every x69/x69b/t15 oracle — is unchanged; K then grows as
    * ⌈N/4096⌉ up to [[MaxDriverTrainedCells]], the honest ceiling of the
    * driver-side trainer — past ~16.8M vectors, swap in a distributed /
    * hierarchical coarse quantizer (the cell-partitioned layout, join
    * and rollups here are indifferent to where centroids come from).
    * x5b's multi-assignment blocking exists
    * for the recall-critical variant. Output is the per-cell curation
    * rollup a pipeline team reads after the pass: members, qualifying
    * pairs, dropped, kept — K rows of bounded metadata.
    *
    * Determinism: the cell assignment is the bit-stable trained quantizer
    * (x6b's oracle retrains it in DuckDB and hash-matches), the pair test
    * reuses x5's IEEE-pinned 6-dp rounded cosine, and every output column
    * is an integer count — so the rollup carries a full hash oracle.
    *
    * Plan shape: the self-join shuffles both sides on `cell` (reading the
    * cell-partitioned index, so co-location is the disk layout), the pair
    * filter runs inside codegen, and the three rollups are map-side
    * partial counts over ≤ K keys. No cartesian product: the join is an
    * equi-join on `cell` with the id inequality as a post-condition.
    *
    * Reference anchor: the reference dedups nothing — this is the [EXT]
    * LLM-curation surface; the micro-batch landing loop it extends is
    * `HiveBatchedSink.scala:297-358`. */
  def semanticDedup(spark: SparkSession, sfDir: String,
                    threshold: Double = 0.4, kCells: Int = 0): DataFrame = {
    val k = if (kCells > 0) kCells
      else semanticCellCount(Tables.embeddings(spark, sfDir).count())
    val asg = ivfAssignment(spark, sfDir, k)
      .select(col("cell"), col("vec_id"), col("embedding"),
        VectorFns.norm(col("embedding")).as("nrm"))
    val pairs = Dedup.snapshot(spark, asg.as("a").join(asg.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"),
        col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        round(VectorFns.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      .where(col("cosine") >= threshold))
    val dupPairs = pairs.groupBy(col("cell"))
      .agg(count(lit(1)).as("dup_pairs"))
    val dropped = pairs.select(col("cell"), col("id2")).distinct()
      .groupBy(col("cell")).agg(count(lit(1)).as("n_dropped"))
    val stats = asg.groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
    stats.join(dupPairs, Seq("cell"), "left")
      .join(dropped, Seq("cell"), "left")
      .select(col("cell").cast("long").as("cell"), col("n_vecs"),
        coalesce(col("dup_pairs"), lit(0L)).as("dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
      .orderBy(col("cell"))
  }

  /** X69b — the blocking-recall audit for [[semanticDedup]]: what fraction
    * of the EXACT near-dup pairs (corpus-wide cosine ≥ threshold, x5's
    * verified all-pairs form) land in the same quantizer cell and are
    * therefore visible to the within-cell pass. This is the number a
    * pipeline team reads before trusting x69's linear-time trade — if
    * recall is too low, raise nprobe-style multi-assignment (x5b) or K.
    * The exact all-pairs baseline is STRUCTURALLY bounded to the
    * `vec_id < `[[IvfTrainN]] audit sample (the whole fixture corpus at
    * any SF, a bounded sample beyond — the same rule the quantizer
    * trainers use, stated identically in the oracle so engine and
    * oracle stay defined-identical at every scale), exactly like the
    * x6b/x6g overlap floors; its quadratic BNLJ pair join and one-row
    * rollup exchange are therefore bounded by construction and carry
    * PlanSpec allowlist entries. Recall is exact ppm (`div` — both
    * engines floor on positive operands). */
  def semanticBlockingRecall(spark: SparkSession, sfDir: String,
                             threshold: Double = 0.4): DataFrame = {
    val asg = ivfAssignment(spark, sfDir).select(col("vec_id"), col("cell"))
    val pairs = Dedup.embedCosineAllPairs(spark, sfDir, threshold, IvfTrainN)
    pairs
      .join(asg.select(col("vec_id").as("id1"), col("cell").as("c1")), "id1")
      .join(asg.select(col("vec_id").as("id2"), col("cell").as("c2")), "id2")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("c1") === col("c2"), 1L).otherwise(0L)).as("n_same_cell"))
      .select(col("n_pairs"), col("n_same_cell"),
        expr("n_same_cell * 1000000L div n_pairs").as("recall_ppm"))
  }

  /** X92 — the SemDeDup cell index under one UPSERT pass: the last
    * index-shaped artifact to gain its delete leg. t15's
    * `semanticDedupBatch` persists kept vectors as a `batch=`-layered
    * `(vec_id, embedding, cell, nrm)` index; without delete propagation a
    * retracted kept vector keeps suppressing every future ε-ball
    * neighbor. The fold is the shared one-level layered swap
    * (`Dedup.dedupIndexDeleteKeys`, keyed `vec_id`) — same dirty-layer
    * economics, file-identity, and markerless replay as x86/x89/x91.
    * Fixture: stored layer = buckets ≤7 under the frozen disk-memoized
    * x6b quantizer (doomed vectors legitimately participate in the
    * within-batch greedy rule — they were live at build time), delete
    * keys = the `h % 7` residue doomed set, insert batch = buckets ≥8 net of
    * same-batch cancels, admitted against the SURVIVING keeps (a fresh
    * vector inside a deleted keep's ε-ball is readmitted). Output = the
    * final index (vec_id, cell); oracle = t15's retrained NOT-EXISTS
    * chain with the doomed set removed between the two phases. */
  def semanticIndexUpsert(spark: SparkSession, sfDir: String,
                          threshold: Double = 0.4): DataFrame = {
    import graft.streaming.StreamingIngest
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val bucket = pmod(graft.functions.TextFns.polyHash(
      col("vec_id").cast("string")), lit(10L))
    // second residue of the same hash, not a salt — Dedup.idxDoomed's
    // linearity note applies to short numeric vec_ids identically
    val doomed = pmod(graft.functions.TextFns.polyHash(
      col("vec_id").cast("string")), lit(7L)) === 3L
    val cents = ivfCentroids(spark, sfDir)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    val root = Tables.scratchDir("graft_x92_idx").toString
    val idx = root + "/idx"
    val out = root + "/out"
    StreamingIngest.semanticDedupBatch(vecs.where(bucket <= 7), "prior",
      cents, idx, out, threshold)
    val keys = vecs.where(doomed).select(col("vec_id"))
    // delete fold + admitted fresh batch in ONE publish (VERDICT r17 #1/#2)
    StreamingIngest.semanticDedupBatch(
      vecs.where(bucket >= 8)
        .join(broadcast(keys.distinct()), Seq("vec_id"), "leftanti"),
      "fresh", cents, idx, out, threshold, deleteKeys = Some(keys))
    VersionedLayers.readAny(spark, idx)
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .orderBy(col("vec_id"))
  }

  /** X72 — quantizer cell-drift audit: the when-to-retrain signal the
    * frozen-quantizer operating mode (x6h/t15) defers to. The corpus is
    * split into the standard prior/fresh arrival halves (t14/t15's
    * polyhash buckets) and each cell's POPULATION SHARE is compared
    * across the two — a frozen quantizer is healthy while fresh data
    * fills cells in the same proportions it was trained on; share drift
    * concentrating in few cells means the embedding distribution moved
    * and the periodic full re-cluster (x69's pass) is due. Shares and
    * drift are exact integer ppm against each half's own total (x20
    * one-row literals), so the K-row audit carries a full hash oracle. */
  def cellDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = pmod(graft.functions.TextFns.polyHash(
      col("vec_id").cast("string")), lit(10L))
    val tagged = ivfAssignment(spark, sfDir)
      .select(col("cell"), (bucket <= 7).as("is_prior"))
    val agg = tagged.groupBy(col("cell")).agg(
      sum(when(col("is_prior"), 1L).otherwise(0L)).as("n_prior"),
      sum(when(col("is_prior"), 0L).otherwise(1L)).as("n_fresh"))
    val totals = agg.agg(sum(col("n_prior")), sum(col("n_fresh"))).head()
    // an empty assignment yields NULL sums — read through to 0 so the
    // require below fires with its diagnostic instead of an NPE
    val tp = if (totals.isNullAt(0)) 0L else totals.getLong(0)
    val tf = if (totals.isNullAt(1)) 0L else totals.getLong(1)
    // Degenerate-half guard: an empty prior or fresh half would put 0
    // into the interpolated `div` literal, where Spark yields NULL ppm
    // while DuckDB `// 0` raises — engine and oracle failing DIFFERENTLY
    // instead of agreeing. The audit is meaningless on an empty half
    // anyway, so fail loudly (the x6c structural-bound discipline).
    require(tp > 0 && tf > 0,
      s"cellDrift needs both arrival halves non-empty (prior=$tp, fresh=$tf)")
    agg
      .select(col("cell").cast("long").as("cell"),
        col("n_prior"), col("n_fresh"),
        expr(s"n_prior * 1000000L div ${tp}L").as("prior_ppm"),
        expr(s"n_fresh * 1000000L div ${tf}L").as("fresh_ppm"))
      .withColumn("drift_ppm", abs(col("prior_ppm") - col("fresh_ppm")))
      .orderBy(col("cell"))
  }
}
