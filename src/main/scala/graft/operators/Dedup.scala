package graft.operators

import graft.Tables
import graft.functions.{TextFns, VectorFns}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M5 — deduplication family over `documents` / `embeddings` (engine
  * extension for LLM-data pipelines; the reference's nearest concept is
  * key-based upsert, `dao/HiveSinkDetailDao.scala:73-98`).
  *
  * Scale design: every variant is a groupBy/self-join on a *derived
  * bounded key* (text hash, LSH band, sign bucket) — never an all-pairs
  * cross join — so the shuffle volume is O(n·k), not O(n²), at 100 TB.
  */
object Dedup {

  /** X1 — exact dedup: keeper (min doc_id) per identical text. The hash
    * groupBy form of `dropDuplicates("text")`, made deterministic by
    * choosing the min-id row. Grouping by the full text shuffles the
    * text once; at scale group by a hash of the text instead and keep the
    * text only for collision verification. */
  def exactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("keeper_id"), col("n_copies"),
        length(col("text")).cast("long").as("text_len"))
      .orderBy(col("keeper_id"))

  /** Drop + unpersist every cached index built on `spark` (the [[DfCache]]
    * registry: shingle/prefix indexes, verified pair sets, ntile's pinned
    * partitioning). For long-lived processes that cycle sessions; a process
    * exiting anyway can skip it. */
  def evictCaches(spark: SparkSession): Unit = DfCache.evict(spark)

  /** Eagerly materialize a DataFrame and truncate its lineage: reliable
    * `checkpoint()` when the session has a checkpoint dir (cluster mode —
    * localCheckpoint blocks die with their executor), `localCheckpoint`
    * otherwise (single-JVM test/bench). Unlike `persist()`, the result is
    * severed from its logical plan, so (a) it can never be re-executed
    * against state the caller mutates afterwards, and (b) CacheManager's
    * plan-equality matching can never serve it to a LATER identical-looking
    * plan whose correct result differs (e.g. a re-read of a directory that
    * has since gained files). */
  private[graft] def snapshot(spark: SparkSession, df: DataFrame): DataFrame =
    if (spark.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** Distinct 3-token-shingle hashes per doc — the shared index behind
    * x2/x3/x4. Memoized + persisted per (session, sfDir): each query's DAG
    * references it from several branches (posting explode, signature
    * computation, pair verification), and Spark recomputes unpersisted
    * branches from the scan — profiling showed the shingling chain
    * re-running up to 4× per query and across all three queries. At 100 TB
    * this is exactly the materialized shingle index a curation pipeline
    * would build once and reuse; MEMORY_AND_DISK spills instead of OOMing. */
  private def shingled(spark: SparkSession, sfDir: String): DataFrame =
    DfCache.memoizeDisk(spark, s"shingled:$sfDir",
        Seq(s"$sfDir/documents.parquet")) {
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          TextFns.shingleHashes(TextFns.tokens(col("text")), 3).as("sh"))
        .where(size(col("sh")) > 0)
    }

  /** The shared index for sibling operator families (x37 novelty):
    * (doc_id, distinct shingle-hash array). */
  private[operators] def shingledIndex(spark: SparkSession, sfDir: String): DataFrame =
    shingled(spark, sfDir)

  /** X2 — MinHash+LSH near-dup candidate pairs (shingle→minhash→band→
    * bucket-join). k=16 hashes, 8 bands × 2 rows: catches J≳0.5 pairs with
    * high probability. Output: candidate pairs + estimated Jaccard
    * (matching signature fraction). Only pairs agreeing on some band are
    * ever joined — the LSH property that makes this O(n) at scale. Internal
    * hashing is xxhash64 (no oracle → portability buys nothing); the band
    * key is itself an 8-byte hash so the shuffle rows stay narrow. */
  def minhashLsh(spark: SparkSession, sfDir: String, k: Int = 16, rowsPerBand: Int = 2): DataFrame = {
    val sigs = shingled(spark, sfDir)
      .select(col("doc_id"), TextFns.minhashSig(col("sh"), k).as("sig"))
    val nBands = k / rowsPerBand
    // Band rows carry ONLY (band, key, doc_id) — 3 fixed-width values. The
    // previous form dragged the full k-long signature through the band
    // self-join on BOTH sides (2 · nBands · k longs of shuffle per doc);
    // est_jaccard needs the signatures only for the few pairs that SURVIVE
    // banding, so they are fetched post-join by two narrow hash joins
    // against the signature table instead (the pair set is deduped first —
    // a pair agreeing on several bands is verified once, not per band).
    val banded = sigs.select(col("doc_id"),
      explode(array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          xxhash64((0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("key"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.key"))
    val l = banded.select(col("band"), col("key"), col("doc_id").as("id1"))
    val r = banded.select(col("band"), col("key"), col("doc_id").as("id2"))
    val cand = l.join(r, Seq("band", "key")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
    cand
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("sig2")), "id2")
      .select(col("id1"), col("id2"),
        (size(filter(zip_with(col("sig1"), col("sig2"), (a, b) => a === b), x => x))
          .cast("double") / k).as("est_jaccard"))
      .where(col("est_jaccard") >= 0.5)
      .orderBy(col("id1"), col("id2"))
  }

  /** X3 — SimHash near-dup: 32-bit simhash over token hashes; pairs within
    * Hamming distance ≤ 3 found via 4-chunk banding (pigeonhole: any pair
    * with ≤3 differing bits agrees on ≥1 of 4 byte-chunks), so again a
    * bucket-join, not all-pairs. */
  def simhashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // 3-token shingles, not unigrams: fixture docs share one small vocab, so
    // unigram simhashes collapse onto a few values and the "near-dup" set
    // explodes; shingles keep the fingerprint discriminative.
    val hashed = shingled(spark, sfDir)
      .select(col("doc_id"), TextFns.simhash32(col("sh")).as("simhash"))
    val chunked = hashed.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 8).bitwiseAND(0xFFL).as("key"))
      }: _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.chunk"), col("ck.key"))
    val l = chunked.select(col("chunk"), col("key"), col("doc_id").as("id1"), col("simhash").as("h1"))
    val r = chunked.select(col("chunk"), col("key"), col("doc_id").as("id2"), col("simhash").as("h2"))
    l.join(r, Seq("chunk", "key")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), TextFns.hamming(col("h1"), col("h2")).as("hamming"))
      .groupBy(col("id1"), col("id2")).agg(min(col("hamming")).as("hamming"))
      .where(col("hamming") <= 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** X4 — exact n-gram Jaccard near-dup with ppjoin-style prefix filtering
    * (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection"). The naive inverted-index self-join explodes on hot
    * shingles — near-quadratic posting-list blowup, the classic skew cliff
    * at 100×. Instead each doc joins only on its *prefix*: its
    * `n - ⌈t·n⌉ + 1` globally-rarest shingles (rare-first canonical order =
    * ascending document frequency). Any pair with J ≥ t shares ≥ ⌈t·n⌉
    * elements, so by pigeonhole the prefixes must intersect — lossless —
    * while hot shingles land in suffixes and never seed the join. The exact
    * J is then verified per candidate pair via `array_intersect` on the
    * full shingle sets (hash-based, O(n1+n2) per pair). */
  def ngramJaccard(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame =
    verifiedPairs(spark, sfDir, threshold).orderBy(col("id1"), col("id2"))

  /** X70 — the cross-source duplication matrix: x4's verified near-dup
    * pair set rolled up by which (source, source) combination each pair
    * straddles — the accounting a curation team reads to decide which
    * corpus feeds mirror each other (heavy off-diagonal mass = one crawl
    * re-serving another's content; heavy diagonal = within-source
    * boilerplate, x57's territory). Pairs come from the memoized
    * [[verifiedPairs]] index (no re-join), each endpoint picks up its
    * source from one projection-pruned documents scan, and the pair is
    * canonicalized `least/greatest` so the matrix is upper-triangular —
    * |sources|² bounded output, partial-aggregable counts. */
  def sourceDupMatrix(spark: SparkSession, sfDir: String,
                      threshold: Double = 0.8): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    verifiedPairs(spark, sfDir, threshold).select(col("id1"), col("id2"))
      .join(src.select(col("doc_id").as("id1"), col("source").as("sa")), "id1")
      .join(src.select(col("doc_id").as("id2"), col("source").as("sb")), "id2")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** The verified (id1, id2, jaccard) near-dup pair set behind x4 *and* x13.
    * Memoized + persisted per (session, sfDir, threshold) — x13's connected
    * components consume exactly this edge set, and without the cache it
    * re-ran the whole prefix-filter join (the round-2 top cost). */
  /** Per-doc ppjoin prefix — the `n - ⌈t·n⌉ + 1` globally-rarest shingles
    * (rare-first canonical order = ascending document frequency), plus the
    * doc's shingle count `n`. Memoized: shared by the self-join (x4/x13)
    * and the cross-run incremental form (x16), which must agree on the
    * canonical order for the prefix-intersection guarantee to hold.
    * ceil(t*n - 1e-9): FP guard may only lengthen the prefix (more
    * candidates), never shorten it (missed pairs). */
  private def prefixIndex(spark: SparkSession, sfDir: String,
                          threshold: Double): DataFrame =
    DfCache.memoizeDisk(spark, s"prefix:$sfDir:$threshold",
        Seq(s"$sfDir/documents.parquet")) {
      val posting = shingled(spark, sfDir)
        .select(col("doc_id"), explode(col("sh")).as("s"))
      val dfreq = posting.groupBy(col("s")).agg(count(lit(1)).as("df"))
      // one groupBy per doc, rare-first order via sort_array over (df, s)
      // structs, prefix cut with a column-length slice. Row-identical to
      // the two-window form it replaced (verified by exceptAll both ways)
      // but ~30% faster: the sort is per-DOC small-array (bounded by one
      // document's shingle count — same bound at any corpus size), not a
      // per-partition window sort over all postings.
      posting.join(dfreq, "s")
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("arr"))
        .select(col("doc_id"), size(col("arr")).as("n"),
          explode(slice(col("arr"), lit(1),
            (size(col("arr")) - ceil(lit(threshold) * size(col("arr")) - 1e-9) + 1)
              .cast("int"))).as("e"))
        .select(col("doc_id"), col("e.s").as("s"), col("n"))
    }

  /** Length pre-filter for candidate joins: J ≥ t forces |A∩B| ≥ t·max(n1,n2)
    * and |A∩B| ≤ min(n1,n2), so any qualifying pair has min ≥ t·max. Cheap
    * integer check on the carried sizes — prunes candidates before the
    * array_intersect verify. */
  private[graft] def lengthCompatible(n1: Column, n2: Column, threshold: Double): Column =
    least(n1, n2).cast("double") >= lit(threshold) * greatest(n1, n2)

  /** Exact-Jaccard verification of candidate (id1, id2) pairs against the
    * full shingle sets — O(n1+n2) per pair via hash-based array_intersect. */
  private def verifyJaccard(spark: SparkSession, sfDir: String, cand: DataFrame,
                            threshold: Double): DataFrame = {
    val sh = shingled(spark, sfDir)
    cand
      .join(sh.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .select(col("id1"), col("id2"),
        size(array_intersect(col("sh1"), col("sh2"))).cast("double").as("i"),
        size(col("sh1")).as("n1"), size(col("sh2")).as("n2"))
      .select(col("id1"), col("id2"),
        round(col("i") / (col("n1") + col("n2") - col("i")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  private[graft] def verifiedPairs(spark: SparkSession, sfDir: String,
                                   threshold: Double): DataFrame =
    DfCache.memoizeDisk(spark, s"pairs:$sfDir:$threshold",
        Seq(s"$sfDir/documents.parquet")) {
      val prefix = prefixIndex(spark, sfDir, threshold)
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
            lengthCompatible(col("a.n"), col("b.n"), threshold))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
      verifyJaccard(spark, sfDir, cand, threshold)
    }

  /** X5 — exact embedding-cosine near-dup within label blocks. The
    * unrestricted exact form (`embedCosineAllPairs`) is an O(n²)
    * BroadcastNestedLoopJoin — 214 s at sf0.1 and 10⁴× the work at 100× —
    * so the *declared* exact operator audits near-dups within the
    * deterministic shards a curation pipeline already has (the `label`
    * column): an equi-join on label that Catalyst plans as a hash join,
    * O(Σ block²) with bounded blocks. Norms are precomputed per row (not
    * per pair), so each pair costs one fused dot product. Global
    * approximate near-dup across blocks is `embedCosineLsh` (X5b). */
  def embedCosine(spark: SparkSession, sfDir: String, threshold: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding"),
        VectorFns.norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        round(VectorFns.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  /** X55 — cosine-threshold calibration curve over the label-blocked
    * exact pair set (x5's blocks): for each candidate dedup threshold,
    * how many near-dup pairs fire and how many distinct documents are
    * touched — the table a pipeline team reads BEFORE picking the x5/x5b
    * operating point (too low: the dedup pass deletes the corpus; too
    * high: near-dups survive into training). One pair computation reused
    * across all thresholds (the 7-row threshold table is a literal —
    * broadcast by construction); comparisons run on integer micro-cosine
    * (`floor(round(c,6)·10⁶ + 0.5)` — exact on both engines since the
    * 6-dp round is already IEEE-pinned, the x5/x6c discipline), so the
    * curve carries a full hash oracle. Distinct-doc counting explodes
    * each qualifying pair to its two endpoints — bounded by 2·pairs×
    * thresholds rows of two longs, never the corpus. */
  def cosineThresholdCurve(spark: SparkSession, sfDir: String): DataFrame = {
    val thresholds = (3 to 9).map(_ * 100000L)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding"),
        VectorFns.norm(col("embedding")).as("nrm"))
    val pairs = snapshot(spark, e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        floor(round(VectorFns.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6) * 1e6 + 0.5).cast("long").as("cppm")))
    val m = pairs
      .select(col("id1"), col("id2"), col("cppm"),
        explode(typedLit(thresholds)).as("threshold_ppm"))
      .where(col("cppm") >= col("threshold_ppm"))
    val nPairs = m.groupBy(col("threshold_ppm")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = m.select(col("threshold_ppm"), col("id1").as("id"))
      .union(m.select(col("threshold_ppm"), col("id2").as("id")))
      .groupBy(col("threshold_ppm"))
      .agg(countDistinct(col("id")).as("n_docs_affected"))
    import spark.implicits._
    thresholds.toDF("threshold_ppm")
      .join(nPairs, Seq("threshold_ppm"), "left")
      .join(nDocs, Seq("threshold_ppm"), "left")
      .select(col("threshold_ppm"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_affected"), lit(0L)).as("n_docs_affected"))
      .orderBy(col("threshold_ppm"))
  }

  /** X36 — cross-split leakage audit: the near-dup pairs (x4's verified
    * J ≥ t set, memoized — zero recompute) whose two documents landed in
    * DIFFERENT x14 train/val/test splits. Exact-dup leakage is impossible
    * by construction (x14 splits on a content-stable doc_id hash, and
    * identical texts still differ in doc_id — so near-dups DO cross
    * splits), which is why real pipelines run precisely this audit before
    * trusting a validation number: a val doc with a J≥0.8 twin in train
    * inflates eval. Two narrow hash joins against the split labels; the
    * heavy lifting was already paid by the shared pair index. */
  def splitLeakage(spark: SparkSession, sfDir: String,
                   threshold: Double = 0.8): DataFrame = {
    val bucket = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))
    val splits = Tables.documents(spark, sfDir).select(col("doc_id"),
      when(bucket <= 7, lit("train")).when(bucket === 8, lit("val"))
        .otherwise(lit("test")).as("split"))
    verifiedPairs(spark, sfDir, threshold)
      .join(splits.select(col("doc_id").as("id1"), col("split").as("split1")), "id1")
      .join(splits.select(col("doc_id").as("id2"), col("split").as("split2")), "id2")
      .where(col("split1") =!= col("split2"))
      .select(col("id1"), col("id2"), col("split1"), col("split2"), col("jaccard"))
      .orderBy(col("id1"), col("id2"))
  }

  /** X13 — duplicate clusters: connected components over the near-dup
    * graph (x4's J ≥ 0.8 pairs), so a curation pipeline can keep one doc
    * per cluster instead of dropping only pairwise losers. The edge set is
    * the memoized [[verifiedPairs]] — shared with x4, never recomputed.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") instead of plain
    * min-label propagation — converges in O(log n) rounds regardless of
    * component diameter, so a chain-shaped dup cluster at 100× can't make
    * the round count (and each round's shuffle) unbounded. Each round is
    * two groupBy+join passes over the *edge set only* (the dup graph is a
    * small fraction of the corpus); per-round persist keeps lineage flat;
    * the fixpoint is a disjoint union of stars centered at each component's
    * minimum id. Docs outside any pair are their own singleton cluster.
    *
    * The label table is memoized alongside the pair index: x44 consumes
    * the same clusters, and the CC fixpoint is the one part of the x13
    * chain [[verifiedPairs]] doesn't already cover. */
  def dupClusters(spark: SparkSession, sfDir: String, threshold: Double = 0.8): DataFrame =
    DfCache.memoizeDisk(spark, s"clusters:$sfDir:$threshold",
        Seq(s"$sfDir/documents.parquet")) {
      computeClusters(spark, sfDir, threshold)
    }

  /** X52 — leakage-free split assignment: the fix for what x36 audits.
    * x14's split hashes `doc_id`, so two near-duplicate documents can land
    * in train AND test — the classic eval-contamination bug. Here the
    * split is a pure function of the [[dupClusters]] label (content-stable
    * hash of `cluster_id`, 8/1/1), so an entire near-dup cluster moves as
    * one unit and a cross-split near-dup pair is impossible *by
    * construction*, not by post-hoc filtering. Cost over x13 is one
    * narrow projection on the memoized label table — no new shuffle; at
    * 100 TB the split column is computed where the labels already live. */
  def leakFreeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val bucket = pmod(TextFns.polyHash(col("cluster_id").cast("string")), lit(10L))
    dupClusters(spark, sfDir)
      .select(col("doc_id"), col("cluster_id"),
        when(bucket <= 7, lit("train")).when(bucket === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy(col("doc_id"))
  }

  private def computeClusters(spark: SparkSession, sfDir: String,
                              threshold: Double): DataFrame =
    ccLabelsOf(spark, Tables.documents(spark, sfDir).select(col("doc_id")),
      verifiedPairs(spark, sfDir, threshold))

  /** The connected-components core behind [[dupClusters]] (x13), hoisted
    * over an explicit (nodes, pairs) input so the INCREMENTAL cluster
    * maintenance (x98) can run it over a dirty REGION instead of the
    * whole graph: every `doc_id` in `nodes` gets its component's minimum
    * id as `cluster_id` (nodes outside any pair are their own singleton
    * cluster). `pairs` carries (id1 < id2) rows — [[verifiedPairs]]'
    * convention. Same gated union-find fast path / Kiveris et al.
    * alternating-star distributed path as always (the x13 semantics are
    * bit-identical: this IS x13's body, parameterized). */
  private[graft] def ccLabelsOf(spark: SparkSession, nodes: DataFrame,
                                pairs: DataFrame): DataFrame = {
    val docs = nodes.select(col("doc_id"))
    // Canonical directed edges u > v (pairs come as id1 < id2).
    val base = pairs.select(col("id2").as("u"), col("id1").as("v"))
    // Small-graph fast path FIRST, in ONE action (r17 — the previous
    // order paid snapshot + signature + collect, three driver actions,
    // before union-find even started): fetch up to gate+1 edges; at or
    // under the gate that IS the whole edge set and union-find labels it
    // driver-side (identical result — both algorithms label every node
    // with its component's minimum id), past it the distributed path
    // below runs unchanged. The gate is a deployment knob
    // (`graft.cc.unionFindGate`), and the edges are two longs each
    // (≤ ~16 MB at the 1M gate), the same bounded-fetch class as before.
    val ufGate = sys.props.get("graft.cc.unionFindGate")
      .map(_.toLong).getOrElse(1000000L)
    val gated: Array[(Long, Long)] = {
      import spark.implicits._
      // limit+collect: CollectLimit stops scanning once gate+1 rows are
      // in hand, so an over-gate graph pays one bounded probe, not a
      // scan. Clamp BEFORE the +1 — a Long.MaxValue gate (the spec's
      // force-union-find setting) must not overflow to limit(0).
      val fetch = (math.min(math.max(ufGate, 0L),
        Int.MaxValue.toLong - 1L) + 1L).toInt
      base.as[(Long, Long)].limit(fetch).collect()
    }
    if (gated.isEmpty) {
      // zero near-dup pairs → every doc is its own singleton cluster
      return docs.select(col("doc_id"), col("doc_id").as("cluster_id"))
        .orderBy(col("doc_id"))
    }
    if (gated.length <= ufGate) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      gated.foreach { e =>
        val (ru, rv) = (find(e._1), find(e._2))
        if (ru != rv) { // union by min: the smaller id becomes the root
          if (ru < rv) parent(rv) = ru else parent(ru) = rv
        }
      }
      val labels = parent.keys.toSeq.map(x => (x, find(x))).filter(p => p._1 != p._2)
      import spark.implicits._
      return docs.join(labels.toDF("doc_id", "lbl"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
        .orderBy(col("doc_id"))
    }
    // Distributed path: eager [[snapshot]], and again each round: both
    // star operators reference their input several times, so without
    // truncation the logical plan (and the driver's re-analysis cost)
    // grows ~8× per round — profiled at 10 s/round on a 256-edge graph by
    // round 2. Checkpointing makes every round start from a leaf-level
    // cached relation.
    var cur = snapshot(spark, base)
    // Large-star: every node links its larger neighbors to the minimum of
    // its closed neighborhood. Small-star: every node links its smaller
    // neighbors (and itself) to that minimum. Both preserve connectivity;
    // alternating them halves star depth geometrically.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, "u").where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .distinct()
    }
    // Fixpoint detection: order-independent 64-bit content signature
    // (count + bit_xor of a per-edge hash) — one scalar aggregate per
    // round, no row data on the driver, no overflow under ANSI mode.
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var curSig = sig(cur)
    var converged = false
    while (!converged) {
      val next = snapshot(spark, smallStar(largeStar(cur)))
      val nextSig = sig(next)
      if (nextSig == curSig) converged = true
      else { cur = next; curSig = nextSig }
      // superseded localCheckpoint blocks are reclaimed by the
      // ContextCleaner; reliable checkpoint FILES are cleaned only under
      // spark.cleaner.referenceTracking.cleanCheckpoints=true — which the
      // engine's session builders (Bench/Verify/test base) set, and a spec
      // asserts the O(log n) per-run snapshots actually get reclaimed.
      // Cluster deployments must set it too (context-creation-time conf).
    }
    // At the fixpoint every non-center node carries exactly one edge to its
    // component's min id; min() is a no-op guard, not a correctness lever.
    val labels = cur.groupBy(col("u").as("doc_id")).agg(min(col("v")).as("lbl"))
    docs.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** X44 — canonical-doc selection: the keep/drop decision a dedup
    * pipeline actually ships — one keeper per x13 cluster under the
    * keep-longest policy (max `n_chars`, tie → min doc_id; the common
    * crawl-curation default, since near-dup members differ mostly by
    * truncation). Emits the full per-doc decision table rather than just
    * keepers so the drop set is auditable downstream.
    *
    * Scale shape: one equi-join of the memoized x13 label table against
    * doc metadata (never the text), then one window partitioned by
    * `cluster_id` — per-partition state is bounded by the largest dup
    * cluster, not the corpus, and the join/window share the hash on
    * `cluster_id` after the join's shuffle. */
  def clusterCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val byCluster = Window.partitionBy(col("cluster_id"))
    val pick = byCluster.orderBy(col("n_chars").desc, col("doc_id"))
    dupClusters(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("doc_id"), col("cluster_id"),
        count(lit(1)).over(byCluster).as("n_members"),
        (row_number().over(pick) === 1).as("keep"))
      .orderBy(col("doc_id"))
  }

  // ──────────────────────────────────────────────────────────────────────
  // X98/T30 — the dup-cluster assignment as a MAINTAINED artifact: the
  // one lifecycle-matrix row that was still one-shot (x13 recomputes CC
  // from scratch). State = the dup-graph EDGE table (batch=-layered
  // verified pairs) + the versioned LABEL table; one upsert pass folds a
  // tombstone-key batch (edges incident to doomed docs leave; their
  // clusters may SPLIT) and an insert batch (new edges may MERGE
  // clusters and open new ones) by recomputing connected components over
  // the touched REGION only — O(touched components + batch), never the
  // graph. Reference anchor: the per-(name, logdate) bookkeeping rows
  // maintained incrementally as batches land
  // (`dao/HiveSinkDetailDao.scala:73-98`) — here the maintained rows are
  // a graph partition function.
  // ──────────────────────────────────────────────────────────────────────

  /** The maintained cluster pipeline's layout: the edge artifact
    * (`batch=<tag>` layers of verified (id1 < id2) pairs) and the label
    * store, a delta-layered [[VersionedLayers]] artifact (each fold
    * publishes its batch's relabelled rows as a layer, and reads the
    * prior labels with its own tag excluded, so a replay converges). */
  final case class ClusterDirs(root: String) {
    val edgesDir: String = s"$root/edges"
    val labelsDir: String = s"$root/labels"
  }

  /** Initialize the maintained cluster pipeline from a stored doc-id set:
    * the edge artifact's `batch=stored` layer holds the verified pairs
    * with BOTH endpoints stored, and the label store's `batch=base`
    * layer is x13's CC over exactly that graph (every row an upsert at
    * sequence 0). `allPairs` is the corpus-wide verified pair set (the
    * shared memoized index — in deployment the batch probe against the
    * x89-class prefix index produces the same rows). */
  private[graft] def clusterIndexInit(spark: SparkSession, dirs: ClusterDirs,
      storedIds: DataFrame, allPairs: DataFrame): Unit = {
    val ids = storedIds.select(col("doc_id"))
    val storedEdges = allPairs
      .join(broadcast(ids.select(col("doc_id").as("id1"))), Seq("id1"), "leftsemi")
      .join(broadcast(ids.select(col("doc_id").as("id2"))), Seq("id2"), "leftsemi")
      .select(col("id1"), col("id2"))
    VersionedLayers.publishLayer(spark, dirs.edgesDir, "stored", storedEdges)
    VersionedLayers.publishLayer(spark, dirs.labelsDir, "base",
      ccLabelsOf(spark, ids,
          VersionedLayers.readAny(spark, dirs.edgesDir).drop("batch"))
        .select(col("doc_id"), col("cluster_id"), lit("U").as("op"),
          lit(0L).as("seq")))
  }

  /** The label store's CURRENT view: last-writer-wins merge of the delta
    * layers — per doc, the highest-sequence row wins, and a winning
    * tombstone (`op = 'D'`) removes the doc. The merge is one window over
    * the layered rows; the x95 policy compaction
    * ([[clusterLabelsCompactContent]]) keeps the layer count — and so
    * this read's row volume — bounded. */
  private[graft] def readClusterLabels(spark: SparkSession,
                                       labelsDir: String): DataFrame =
    mergeClusterLabels(VersionedLayers.readAny(spark, labelsDir))

  /** [[readClusterLabels]]'s merge over an explicit row set (shared with
    * the own-tag-excluded prior read inside the fold and the compaction
    * content hook). */
  private[graft] def mergeClusterLabels(rows: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("seq").desc)
    rows.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1 && col("op") === "U")
      .select(col("doc_id"), col("cluster_id"))
  }

  /** The label store's semantic compaction content: collapse the delta
    * layers to the surviving latest-upsert rows (tombstoned docs leave;
    * each kept row keeps its own `seq`, so the next fold's sequence
    * derivation is unchanged). The merged VIEW is identical before and
    * after by construction — [[mergeClusterLabels]] of the latest-U set
    * is itself — so this slots into the shared compaction core as a
    * content hook ([[Maintenance.compactIfNeededWith]]). */
  private[graft] def clusterLabelsCompactContent(layered: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("seq").desc)
    layered.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1 && col("op") === "U")
      .select(col("doc_id"), col("cluster_id"), col("op"), col("seq"))
  }

  /** ONE maintenance pass over the cluster pipeline: tombstone keys fold
    * through the edge artifact (edges incident to a doomed doc leave —
    * their cluster may SPLIT), the insert batch's verified pairs land as
    * a `batch=<tag>` layer (new edges may MERGE clusters and connect new
    * docs), and connected components are recomputed over the touched
    * REGION only:
    *  - dirty clusters = the labels of doomed members plus the labels of
    *    stored endpoints of new edges (both one broadcast semi-join,
    *    O(batch));
    *  - the region = surviving members of dirty clusters plus the net
    *    inserts; its edges = the post-swap artifact restricted to the
    *    region (a surviving stored edge's endpoints share an old cluster,
    *    so restricting id1 suffices; new edges' endpoints are in the
    *    region by construction);
    *  - untouched clusters carry their labels over verbatim — the fold
    *    never reads them.
    * The label store is an LSM-style DELTA artifact — the 100 TB answer
    * to "never rewrite the untouched corpus per fold": each batch
    * appends ONE `batch=<tag>` layer holding only the region's relabels
    * (op 'U') and the doomed docs' tombstones (op 'D') at the next
    * sequence number; reads merge last-writer-wins per doc
    * ([[mergeClusterLabels]]); the x95 policy compacts the layers
    * between windows ([[clusterLabelsCompactContent]]). Exactly-once
    * WITHOUT markers: the edge swap is markerless-idempotent, the edge
    * append and the label delta are tag-scoped overwrites, and every
    * derivation reads the artifact with the batch's OWN tag excluded
    * (the probeIndexKeepFirst rule) — so a replay recomputes the same
    * delta and its layer replaces itself. Final labels ≡ CC over the pairs
    * among LIVE docs whatever the batch split — deletes remove a doc's
    * edges everywhere, inserts net of cancels never land, and an
    * insert's edge to a later-deleted doc leaves with that doc's delete
    * — so the streamed form (t30) carries the one-shot oracle VERBATIM,
    * the t25-class order-free contrast to t23/t24.
    *
    * `newPairs` = the verified pairs with at least one endpoint in the
    * insert batch. The x94/t26 orchestrator derives them from the
    * MAINTAINED near-dup index (VERDICT r16 #1): ONE
    * `StreamingIngest.nearIndexProbePairs` probe (batch vs the stored
    * pfx/sh sub-indexes, shared verbatim with the near admit) plus the
    * batch's `batchInternalPairs` self-join — O(batch) per pass, no
    * corpus-sized pair table read. The standalone fixtures (x98/t30)
    * pass the shared memoized pair index restricted to the batch — the
    * MaintenanceSpec equivalence drill pins the two derivations to the
    * same edges on the gate fixtures. Returns the merged final label
    * table. */
  private[graft] def clusterIndexUpsert(spark: SparkSession,
      dirs: ClusterDirs, inserts: DataFrame, keys: DataFrame,
      newPairs: DataFrame, tag: String,
      prepared: Boolean = false,
      knownDirtyEdges: Option[Seq[String]] = None): DataFrame = {
    // `prepared`: the caller (the x94/t26 orchestrator) already holds
    // keys distinct+materialized and inserts distinct, net of same-batch
    // cancels, and materialized — re-snapshotting both here was two
    // redundant localCheckpoint jobs per micro-batch
    val kdf =
      if (prepared) keys
      else snapshot(spark, keys.select(col("doc_id")).distinct())
    val ins =
      if (prepared) inserts.select(col("doc_id"))
      else snapshot(spark, inserts.select(col("doc_id")).distinct()
        .join(broadcast(kdf), Seq("doc_id"), "leftanti"))
    // prior state with the batch's OWN layer excluded — the replay rule.
    // Plain read, not a snapshot: its only consumers are the merged-label
    // snapshot below and the one max(seq) aggregate, so materializing the
    // whole O(corpus) label store into executor blocks per micro-batch
    // bought nothing (r17 — two scans of the store beat one scan plus a
    // corpus-sized checkpoint write at every scale)
    val priorRows =
      readBatchIndex(spark, dirs.labelsDir, tag)(
        spark.range(0).select(col("id").as("doc_id"),
          col("id").as("cluster_id"), lit("U").as("op"), col("id").as("seq")))
    // max(seq) rides the merged-labels snapshot's own materialization
    // job as an observe metric (it observes the rows BELOW the window
    // filter, so the max is over every prior row):
    // one driver action where the fold paid two, with the old aggregate
    // as the honest fallback if the listener bus is slow
    val seqObs = org.apache.spark.sql.Observation()
    val priorLabels = Maintenance.labeled(spark, "cluster: prior labels") {
      snapshot(spark, mergeClusterLabels(
        priorRows.observe(seqObs, max(col("seq")).as("mx")))) }
    val nextSeq = Maintenance.observedOr[Long](seqObs, "mx") {
      val r = Maintenance.labeled(spark, "cluster: max seq") {
        priorRows.agg(max(col("seq"))).head() }
      if (r.isNullAt(0)) 0L else r.getLong(0)
    } + 1L
    // live docs after this batch: stored survivors ∪ net inserts
    val liveIds = priorLabels.select(col("doc_id"))
      .join(broadcast(kdf), Seq("doc_id"), "leftanti")
      .unionByName(ins).distinct()
    // new edges: at least one endpoint inserted, both endpoints live. In
    // `prepared` mode both properties hold by construction — the pairs
    // are the post-delete index probe (prior endpoints are live keepers)
    // plus the batch's internal self-pairs net of cancels (both
    // endpoints inserted) — so the batch-endpoint semi-joins and the
    // live-endpoint filters are skipped; the standalone path's pairs are
    // a corpus-global artifact restricted to nothing, so it keeps them.
    val newEdges = Maintenance.labeled(spark, "cluster: new edges") {
      if (prepared)
        snapshot(spark, newPairs.select(col("id1"), col("id2")).distinct())
      else snapshot(spark, newPairs.select(col("id1"), col("id2"))
      .join(broadcast(ins.select(col("doc_id").as("id1"))), Seq("id1"), "leftsemi")
      .unionByName(newPairs.select(col("id1"), col("id2"))
        .join(broadcast(ins.select(col("doc_id").as("id2"))), Seq("id2"), "leftsemi"))
      .distinct()
      .join(liveIds.select(col("doc_id").as("id1")), Seq("id1"), "leftsemi")
      .join(liveIds.select(col("doc_id").as("id2")), Seq("id2"), "leftsemi")) }
    // edge-artifact mutation first (idempotent), then the region
    // recompute reads the post-mutation graph deterministically. The
    // delete-survivor rewrite and the new batch layer stage in ONE
    // partitionBy(batch) write and swap in ONE manifest publish (r17):
    // readers see a single pre→post transition. Replay converges — the
    // dirty set never includes the batch's own tag (newEdges excludes
    // doomed endpoints), and the staged tag layer replaces a crashed
    // attempt's entry.
    val live = VersionedLayers.layers(spark, dirs.edgesDir)
    val k = broadcast(kdf)
    val dirty = knownDirtyEdges
      .map(_.filter(live.map(_.tag).toSet).filterNot(_ == tag).sorted)
      .getOrElse {
      if (live.isEmpty) Seq.empty[String]
      else {
        val idx = VersionedLayers.readTags(spark, dirs.edgesDir,
          live.map(_.tag).toSet)
        idx.join(k, col("id1") === col("doc_id"), "leftsemi")
          .unionByName(idx.join(k, col("id2") === col("doc_id"), "leftsemi"))
          .select(col("batch")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
      } }
    val fresh = newEdges.withColumn("batch", lit(tag))
    val staged =
      if (dirty.isEmpty) fresh
      else VersionedLayers.readTags(spark, dirs.edgesDir, dirty.toSet)
        .join(k, col("id1") === col("doc_id"), "leftanti")
        .join(k, col("id2") === col("doc_id"), "leftanti")
        .unionByName(fresh)
    Maintenance.labeled(spark, "cluster: edge fold") {
      VersionedLayers.rewriteLayers(spark, dirs.edgesDir, dirty :+ tag, staged) }
    // dirty clusters: every component a doomed doc or a new edge's
    // stored endpoint belongs to — O(batch) semi-joins, never the graph
    val dirtyLbls = broadcast(priorLabels
      .join(broadcast(kdf), Seq("doc_id"), "leftsemi")
      .select(col("cluster_id"))
      .unionByName(priorLabels.join(broadcast(
          newEdges.select(col("id1").as("doc_id"))
            .unionByName(newEdges.select(col("id2").as("doc_id")))
            .distinct()),
        Seq("doc_id"), "leftsemi").select(col("cluster_id")))
      .distinct())
    // the touched REGION: surviving members of dirty clusters + inserts;
    // its edges: post-swap artifact rows whose id1 is in the region (a
    // surviving stored edge's endpoints share an old cluster, so one
    // endpoint in ⇒ both in; a new edge's endpoints are in the region by
    // construction)
    val regionNodes = Maintenance.labeled(spark, "cluster: region nodes") {
      snapshot(spark, priorLabels
        .join(dirtyLbls, Seq("cluster_id"), "leftsemi")
        .select(col("doc_id"))
        .join(broadcast(kdf), Seq("doc_id"), "leftanti")
        .unionByName(ins).distinct()) }
    val regionEdges = VersionedLayers.readAny(spark, dirs.edgesDir).drop("batch")
      .join(broadcast(regionNodes.select(col("doc_id").as("id1"))),
        Seq("id1"), "leftsemi")
    val dirtyLabels = Maintenance.labeled(spark, "cluster: region cc") {
      ccLabelsOf(spark, regionNodes, regionEdges) }
    // ONE delta layer: the region's relabels + the doomed tombstones —
    // O(region + batch) rows, never the corpus
    Maintenance.labeled(spark, "cluster: label delta") {
      VersionedLayers.publishLayer(spark, dirs.labelsDir, tag,
        dirtyLabels.select(col("doc_id"), col("cluster_id"), lit("U").as("op"))
          .unionByName(priorLabels.join(broadcast(kdf), Seq("doc_id"), "leftsemi")
            .select(col("doc_id"), lit(null).cast("long").as("cluster_id"),
              lit("D").as("op")))
          .withColumn("seq", lit(nextSeq))) }
    readClusterLabels(spark, dirs.labelsDir).orderBy(col("doc_id"))
  }

  /** X98 — the maintained cluster assignment under the driver's oracle
    * gate: stored state initializes over buckets ≤7 (doomed docs live at
    * build time, per the index-fixture convention), then ONE
    * [[clusterIndexUpsert]] pass carries the insert batch (buckets ≥8)
    * and the doomed-residue delete keys through the edge artifact and
    * the label store. The fixture's doomed set hits real cluster
    * members, so the pass exercises splits, merges, readmissions and
    * fresh singletons together. The oracle is x13's recursive-CTE CC
    * restricted to the LIVE corpus — hash equality states the
    * touched-region recompute ≡ the from-scratch rebuild, i.e. the fold
    * maintains labels ≡ CC(live graph) exactly. */
  def clusterIndexUpsertQuery(spark: SparkSession, sfDir: String,
                              threshold: Double = 0.8): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val dirs = ClusterDirs(Tables.scratchDir("graft_x98").toString)
    val pairs = verifiedPairs(spark, sfDir, threshold)
    clusterIndexInit(spark, dirs, docs.where(idxBucket <= 7), pairs)
    clusterIndexUpsert(spark, dirs, docs.where(idxBucket >= 8),
      docs.where(idxDoomed).select(col("doc_id")), pairs, "ops")
  }

  /** X16 — incremental (cross-run) dedup: the operational 100 TB mode. A
    * real training-data pipeline does not re-dedup the whole corpus per
    * crawl; it dedups each *new batch* against the persisted index of
    * everything already kept — the only-new-work pattern that is the
    * reference's entire completeness protocol
    * (`dao/HiveSinkDetailDao.scala:42-61`). Here the corpus splits
    * deterministically by x14's content-stable hash (prior ≈ 80% stands in
    * for "all previous runs", new ≈ 20% for "this crawl"), and a new doc
    * survives iff
    *   1. exact: its x10 content fingerprint is absent from the prior
    *      fingerprint index (anti-join — one hash lookup per doc), and
    *   2. near: no prior doc reaches Jaccard ≥ t, found via the shared
    *      ppjoin prefix index restricted to new×prior (the prefix order is
    *      corpus-global, so the prefix-intersection guarantee still holds
    *      across the two sides; anti-join on the verified matches).
    * Both probes are index lookups against *prior-run artifacts* — at scale
    * the fingerprint set and shingle prefix index are exactly what x10's
    * doc promises gets persisted between runs; nothing rescans the prior
    * corpus text. */
  def incrementalDedup(spark: SparkSession, sfDir: String,
                       threshold: Double = 0.8): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val isNew = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L)) >= 8
    val newDocs = docs.where(isNew)
      .select(col("doc_id"), TextFns.polyHash(col("text")).as("fp"))
    val priorFp = docs.where(!isNew)
      .select(TextFns.polyHash(col("text")).as("pfp")).distinct()
    // batch membership is a pure function of doc_id (the x16 bucket
    // rule), so each leg filters the stored index directly — no document
    // re-scan, no id-set join on either side of the candidate join
    val bk = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))
    val prefix = prefixIndex(spark, sfDir, threshold)
    val cand = prefix.where(bk >= 8).as("a")
      .join(prefix.where(bk <= 7).as("b"),
        col("a.s") === col("b.s") &&
          lengthCompatible(col("a.n"), col("b.n"), threshold))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    val nearDupNew = verifyJaccard(spark, sfDir, cand, threshold)
      .select(col("id1").as("doc_id")).distinct()
    newDocs
      .join(priorFp, col("fp") === col("pfp"), "left_anti")
      .join(nearDupNew, Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** X17 — benchmark decontamination probe: for each doc in the held-out
    * "benchmark" split (x14's hash bucket 9), count train-split docs
    * sharing ≥ `minShared` 3-token shingles and the maximum overlap — the
    * n-gram-containment check every training pipeline runs so eval data
    * does not leak into training data (cf. GPT-3 §4 / PaLM app. contamination
    * analyses). Reuses the shared shingle index; ultra-common shingles
    * (document frequency > `maxDf`) are dropped first — they are
    * boilerplate, not leakage, and capping df also bounds the posting join
    * at Σ df² ≤ n·maxDf — the same hot-key cliff x4's prefixes avoid.
    * Benchmark docs with zero contamination are retained with zeros (the
    * all-clear is the result a release gate needs). */
  def contamination(spark: SparkSession, sfDir: String, minShared: Int = 5,
                    maxDf: Int = 50): DataFrame = {
    val bucket = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))
    val docs = Tables.documents(spark, sfDir)
    val benchIds = docs.where(bucket === 9).select(col("doc_id"))
    val trainIds = docs.where(bucket <= 7).select(col("doc_id"))
    val posting = shingled(spark, sfDir)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val rare = posting.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("s"))
    val filtered = posting.join(rare, "s")
    val shared = filtered.join(benchIds, "doc_id")
      .select(col("doc_id").as("bench_id"), col("s"))
      .join(filtered.join(trainIds, "doc_id")
        .select(col("doc_id").as("train_id"), col("s")), "s")
      .groupBy(col("bench_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val perBench = shared.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("n_shared")).as("max_shared"))
    benchIds.select(col("doc_id"))
      .join(perBench.withColumnRenamed("bench_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminating"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
      .orderBy(col("doc_id"))
  }

  /** X17b — [[contamination]] with a Bloom pre-filter on the train side:
    * the bench split's (df-capped) shingle hashes fold into one Bloom
    * filter (Spark's native `BloomFilterAggregate`, the engine's own
    * runtime-filter machinery driven explicitly), which then prunes train
    * postings BEFORE they reach the shuffle join. Blooms have no false
    * negatives, so the result is bit-identical to x17 (same oracle); false
    * positives only cost a few extra join probes. The 100 TB shape: the
    * bench set is tiny next to training data, so its ~MB filter rides
    * along as a literal/broadcast while the petabyte side drops
    * non-candidate postings at the scan — the semi-join reduction that
    * spares the whole train-posting shuffle. The one collected row is the
    * serialized filter itself — bounded metadata, never row data. */
  def contaminationBloom(spark: SparkSession, sfDir: String, minShared: Int = 5,
                         maxDf: Int = 50): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.bridge
    val bucket = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))
    val docs = Tables.documents(spark, sfDir)
    val benchIds = docs.where(bucket === 9).select(col("doc_id"))
    val trainIds = docs.where(bucket <= 7).select(col("doc_id"))
    val posting = shingled(spark, sfDir)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val rare = posting.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("s"))
    val filtered = posting.join(rare, "s")
    val benchPost = filtered.join(benchIds, "doc_id")
      .select(col("doc_id").as("bench_id"), col("s"))
    val bloomBytes = benchPost
      .select(bridge.column(
        new BloomFilterAggregate(bridge.expression(xxhash64(col("s"))))
          .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mightContain = bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes,
        org.apache.spark.sql.types.BinaryType),
      bridge.expression(xxhash64(col("s")))))
    val trainPost = filtered.join(trainIds, "doc_id")
      .select(col("doc_id").as("train_id"), col("s"))
      .where(mightContain)
    val shared = benchPost.join(trainPost, "s")
      .groupBy(col("bench_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val perBench = shared.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("n_shared")).as("max_shared"))
    benchIds.select(col("doc_id"))
      .join(perBench.withColumnRenamed("bench_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminating"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
      .orderBy(col("doc_id"))
  }

  /** The operational cross-run form of x16's exact leg: dedup `docs`
    * against a *persisted* fingerprint index directory, then append the
    * survivors' fingerprints back — so the next run (tomorrow's crawl)
    * sees everything kept today. The index is plain parquet of
    * `(fp, doc_id)` rows — the x10 fingerprint plus its KEEPER's id:
    * O(corpus) 16-byte rows, anti-joined (hash join on fp) — at 100 TB
    * the index stays a few GB and the probe never rescans prior text.
    * The keeper id is what lets a delete batch (doc_id keys, x75's
    * model) address index rows with ONE index scan
    * ([[dedupIndexDeleteKeys]]) instead of a corpus scan to re-derive
    * doomed fingerprints from text. The in-session x16 shows the same
    * semantics oracle-checked; this is the disk-backed loop a pipeline
    * actually schedules. Near-dup probing persists the shingle prefix
    * index the same way. */
  /** Read a `batch=`-layered index with this invocation's own tag
    * excluded, or `empty` when no publish has reached it yet. A root
    * holding data without a pointer (the old in-place layout, a flat
    * index) is refused by [[VersionedLayers]], never read
    * as "first run" — that would silently drop the entire prior corpus
    * from the probe and re-admit every duplicate. */
  private[graft] def readBatchIndex(spark: SparkSession, dir: String,
                                    batchTag: String)
                                   (empty: => DataFrame): DataFrame =
    VersionedLayers.read(spark, dir, Some(batchTag))(empty).drop("batch")

  /** The shared probe-and-keep-first step behind every disk-backed exact
    * dedup ([[dedupAgainstIndex]], the streaming
    * `StreamingIngest.dedupIndexBatch`, the upsert folds): anti-join
    * `withFp` against every OTHER batch's fingerprints (own tag excluded —
    * a retry re-probes everything except its half-done self), then keep
    * one doc per fingerprint within the batch (min doc_id, x1's rule).
    * With `deleteKeys` (distinct `doc_id`s) the probe runs against the
    * POST-DELETE view — the stored keepers the keys name are anti-joined
    * away first, row-identical to probing after a separate delete
    * publish. One copy of the replay-idempotence contract, one place to
    * fix it. */
  private[graft] def probeIndexKeepFirst(withFp: DataFrame, indexDir: String,
                                         batchTag: String,
                                         deleteKeys: Option[DataFrame] = None): DataFrame = {
    val spark = withFp.sparkSession
    val prior = readBatchIndex(spark, indexDir, batchTag)(
        spark.range(0).select(col("id").as("fp"), col("id").as("doc_id")))
    val existing = deleteKeys
      .fold(prior)(k => prior.join(broadcast(k), Seq("doc_id"), "leftanti"))
      .select(col("fp").as("seen_fp"))
    withFp
      .join(existing, col("fp") === col("seen_fp"), "left_anti")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
      .where(col("rk") === 1).drop("rk")
  }

  def dedupAgainstIndex(spark: SparkSession, docs: DataFrame,
                        indexDir: String, batchTag: String): DataFrame = {
    val withFp = docs.withColumn("fp", TextFns.polyHash(col("text")))
    // Snapshot BEFORE writing to the index: the survivors plan anti-joins
    // the index, so re-executing it after the write could race the write's
    // own output. checkpoint (not persist) on purpose: a plan-keyed cache
    // entry here would be served to the NEXT call's identical-looking plan,
    // whose correct result differs because the index grew — lineage
    // truncation makes both hazards structurally impossible and computes
    // the dedup exactly once.
    val survivors = snapshot(spark, probeIndexKeepFirst(withFp, indexDir, batchTag))
    // tag-scoped publish: a retry replaces its own prior attempt's layer
    // instead of appending a second copy
    VersionedLayers.publishLayer(spark, indexDir, batchTag,
      survivors.select(col("fp"), col("doc_id")))
    survivors
  }

  /** X61 — [[dedupAgainstIndex]] itself under the driver's oracle gate:
    * the corpus lands as two tag-scoped batches of a scratch fingerprint
    * index (prior = x16's hash buckets 0-7, fresh = 8-9, the same
    * deterministic split every incremental query uses), and the result is
    * the FRESH batch's survivors — docs whose text hash was never kept by
    * the prior batch, one keeper (min doc_id) per hash within the batch.
    * The index holds only survivor fingerprints, but a dedup keeps one doc
    * per distinct hash, so the probe set equals the prior batch's distinct
    * hashes — which is exactly what the cross-engine oracle restates. The
    * third incremental-maintenance path (after x60's spanIndexAppend and
    * x6h's ivfPqAppend) moved from spec-only onto the correctness gate;
    * reference anchor: the incremental landing loop
    * `HiveBatchedSink.scala:297-358`. */
  def dedupIndexProbe(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bucket = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))
    val idx = Tables.scratchDir("graft_x61_idx").toString + "/idx"
    dedupAgainstIndex(spark, docs.where(bucket <= 7), idx, "prior")
    dedupAgainstIndex(spark, docs.where(bucket >= 8), idx, "fresh")
      .select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Append one benchmark batch's shingle-hash Bloom filter as a
    * `batch=<tag>` layer of a PERSISTED decontamination index — the
    * MERGEABLE-SKETCH maintained-artifact class: layers fold by bitwise
    * OR (Bloom union is exact), so an append never rereads prior bench
    * batches, and the artifact is O(bits) metadata however large the
    * benchmark suite grows. Two deliberate contrasts with the row-keyed
    * indexes (x86–x92): (1) the layer filter is built over the batch's
    * UNCAPPED shingle hashes — the df-rarity cap is corpus-global and
    * changes as training data grows, so baking it into a persisted layer
    * would break `merge ≡ rebuild`; leaving it out only adds false
    * positives, which the exact verify join prunes (Blooms have no false
    * negatives, so the final x17 result is unchanged); (2) DELETES are
    * structurally impossible — a Bloom cannot unlearn — so retracting a
    * benchmark doc means rebuilding its layer (the honest `n/a` cell in
    * SURVEY's lifecycle matrix). Fixed (items, bits) on every layer keep
    * the sketches merge-compatible; the tag-scoped overwrite is the x16
    * replay rule. */
  private[graft] def bloomIndexAppend(spark: SparkSession, benchDocs: DataFrame,
                                      idxDir: String, tag: String,
                                      items: Long = 1000000L,
                                      bits: Long = 8000000L): Unit = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.bridge
    import spark.implicits._
    val post = benchDocs.select(explode(array_distinct(
      TextFns.shingleHashes(TextFns.tokens(col("text")), 3))).as("s"))
    val agg = post.select(bridge.column(
        new BloomFilterAggregate(bridge.expression(xxhash64(col("s"))),
          Literal(items), Literal(bits)).toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    // an aggregate over zero rows yields null — a batch with no shingles
    // must still land a VALID (empty) filter so the layer merges
    val bytes = Option(agg).getOrElse {
      val empty = org.apache.spark.util.sketch.BloomFilter.create(items, bits)
      val out = new java.io.ByteArrayOutputStream()
      empty.writeTo(out)
      out.toByteArray
    }
    // (items, bits) PERSIST with the layer (ADVICE r14): merge
    // compatibility is a property of the sizing pair, and without it in
    // the artifact a caller appending with different sizes only fails at
    // merge time with no hint of which layer drifted — so validate HERE,
    // against the stored params, before the incompatible layer can land
    // a retry re-validates against OTHER layers only
    val stored = VersionedLayers.read(spark, idxDir, Some(tag))(
        Seq.empty[(String, Long, Long)].toDF("batch", "items", "bits"))
      .select(col("batch"), col("items"), col("bits"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val drifted = stored.filter(s => s._2 != items || s._3 != bits)
    require(drifted.isEmpty,
      s"bloomIndexAppend(batch=$tag, items=$items, bits=$bits) is " +
        s"merge-incompatible with stored layer(s) " +
        drifted.map(s => s"batch=${s._1}(items=${s._2}, bits=${s._3})")
          .mkString(", "))
    VersionedLayers.publishLayer(spark, idxDir, tag,
      Seq((bytes, items, bits)).toDF("bf", "items", "bits").coalesce(1))
  }

  /** Read every layer of a [[bloomIndexAppend]] index and fold them into
    * one filter (Bloom union — exact, order-free, driver-side over
    * O(layers) MB-sized sketches). Validates the persisted (items, bits)
    * sizing params agree across layers BEFORE merging, naming the
    * offending batch tags — the merge-time IncompatibleMergeException
    * names nothing. */
  private[graft] def bloomIndexMerged(spark: SparkSession,
                                      idxDir: String): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    val rows = VersionedLayers.read(spark, idxDir)(
        throw new IllegalArgumentException(s"no Bloom layers under $idxDir"))
      .select(col("batch"), col("bf"), col("items"), col("bits"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1),
        r.getLong(2), r.getLong(3)))
    val combos = rows.map(r => (r._3, r._4)).distinct
    require(combos.size == 1,
      s"merge-incompatible Bloom layers under $idxDir: " +
        rows.sortBy(_._1)
          .map(r => s"batch=${r._1}(items=${r._3}, bits=${r._4})")
          .mkString(", "))
    val merged = rows.map(r =>
      BloomFilter.readFrom(new java.io.ByteArrayInputStream(r._2)))
      .reduce { (a, b) => a.mergeInPlace(b); a }
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    out.toByteArray
  }

  /** X93 — x17's decontamination served through the PERSISTED,
    * append-folded Bloom index: the benchmark split lands as two
    * [[bloomIndexAppend]] layers (id-parity halves), the layers merge by
    * Bloom union, and the merged filter prunes train postings before the
    * shuffle join exactly as in x17b. Result ≡ x17 bit-for-bit (the
    * prefilter admits supersets, the exact join decides), so x17's
    * oracle carries over verbatim — the green hash states that the
    * incrementally-grown sketch artifact reaches the same decision as
    * the monolithic pass. The 100 TB story: benchmark suites grow by
    * accretion (new evals added monthly); this is the artifact a
    * decontamination pipeline keeps instead of re-shingling every bench
    * set per run. */
  def bloomIndexDecontam(spark: SparkSession, sfDir: String,
                         minShared: Int = 5, maxDf: Int = 50): DataFrame = {
    val bucket = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))
    val docs = Tables.documents(spark, sfDir)
    val idx = Tables.scratchDir("graft_x93_idx").toString + "/idx"
    // split by id parity, NOT a polyhash salt: the bench bucket already
    // constrains polyhash(doc_id), and 'a'-salted rehashes of the SAME
    // polynomial turn out correlated with it (at sf0.001 every bench doc
    // landed in one salted half — an accidentally empty layer). Parity is
    // independent of the bucket hash; the layering never affects the
    // result anyway (union is order- and split-free).
    val half = pmod(col("doc_id"), lit(2L))
    bloomIndexAppend(spark, docs.where(bucket === 9 && half === 0), idx, "b0")
    bloomIndexAppend(spark, docs.where(bucket === 9 && half === 1), idx, "b1")
    bloomDecontamProbe(spark, sfDir, idx, minShared, maxDf)
  }

  /** The x93/t28 probe tail: prune train postings with the MERGED layer
    * filter of a [[bloomIndexAppend]] index, then decide with the exact
    * shuffle join — the part that is independent of HOW the layers got
    * there (one-shot appends or a micro-batch stream). */
  private[graft] def bloomDecontamProbe(spark: SparkSession, sfDir: String,
                                        idxDir: String, minShared: Int = 5,
                                        maxDf: Int = 50): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.bridge
    val bucket = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))
    val docs = Tables.documents(spark, sfDir)
    val benchIds = docs.where(bucket === 9).select(col("doc_id"))
    val trainIds = docs.where(bucket <= 7).select(col("doc_id"))
    val mightContain = bridge.column(BloomFilterMightContain(
      Literal.create(bloomIndexMerged(spark, idxDir),
        org.apache.spark.sql.types.BinaryType),
      bridge.expression(xxhash64(col("s")))))
    val posting = shingled(spark, sfDir)
      .select(col("doc_id"), explode(col("sh")).as("s"))
    val rare = posting.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf).select(col("s"))
    val filtered = posting.join(rare, "s")
    val benchPost = filtered.join(benchIds, "doc_id")
      .select(col("doc_id").as("bench_id"), col("s"))
    val trainPost = filtered.join(trainIds, "doc_id")
      .select(col("doc_id").as("train_id"), col("s"))
      .where(mightContain)
    val shared = benchPost.join(trainPost, "s")
      .groupBy(col("bench_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val perBench = shared.groupBy(col("bench_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("n_shared")).as("max_shared"))
    benchIds.select(col("doc_id"))
      .join(perBench.withColumnRenamed("bench_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminating"),
        coalesce(col("max_shared"), lit(0L)).as("max_shared"))
      .orderBy(col("doc_id"))
  }

  /** The x61/x16 batch split (`polyhash(doc_id) % 10`) — one definition so
    * the maintenance fixtures (x86/x87/x88/t23) and their oracles can
    * never drift from the append fixtures. */
  private[graft] def idxBucket: Column =
    pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))

  /** The maintenance fixtures' delete-request set, decorrelated from
    * [[idxBucket]] by a SECOND RESIDUE of the same hash (CRT: `h % 7`
    * spreads within every `h % 10` class), NOT by salting the input.
    * Salting is a trap here: the polynomial hash is computed without a
    * modular wrap for short numeric ids (a ≤4-digit id's rolling value
    * never exceeds p), so `polyhash(salt ‖ id) mod m` is a LINEAR
    * function of `polyhash(id) mod m` — a 'd'-prefixed %5 "independent"
    * doomed set turned out to be exactly buckets {0, 5}, and an
    * 'a'-prefixed %2 arrival split exactly bucket parity. Deliberately
    * drawn from ALL doc_ids, keepers or not — a key naming a doc the
    * index never kept (an ingest-time duplicate) must be a structural
    * no-op, and the fixtures should exercise that path. ~14% of ids;
    * verified to hit stored keepers in every layer AND insert batches
    * (same-batch cancels) at both gate SFs. */
  private[graft] def idxDoomed: Column =
    pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(7L)) === 3L

  /** The streaming fixtures' (t23/t24) two-way arrival split — the next
    * decimal digit of the same hash (`⌊h/10⌋ % 2`), independent of both
    * [[idxBucket]] (`h % 10`) and [[idxDoomed]] (`h % 7`) for the same
    * reason a salt is not (see [[idxDoomed]]). A doc's I and D ops share
    * its arrival batch by construction. */
  private[graft] def idxArrival: Column =
    pmod((TextFns.polyHash(col("doc_id").cast("string")) / lit(10.0))
      .cast("long"), lit(2L))

  /** Apply a tombstone KEY table (x75's delete-request model) to ANY
    * one-level `batch=`-layered index whose rows carry the key column —
    * the x83 dirty-leaf economics on the flat layout, shared by the
    * exact-dup fingerprint index (x86, `(fp, doc_id)`), each near-dup
    * sub-index (x89: fp/pfx/sh, all keyed `doc_id`), the winnowing span
    * index (x91, `(doc_id, p, h)`), and the semantic vector index (x92,
    * keyed `vec_id`). The dirty set is one broadcast semi-join of the
    * keys against the index itself — O(index), narrow columns, never the
    * corpus: keys naming rows the index never kept (ingest-time
    * duplicates, or keys replayed after their layer was already
    * rewritten) simply match nothing. The dirty layers' survivors (a
    * manifest-pruned read) stage in one write and swap in one manifest
    * publish ([[VersionedLayers.rewriteLayers]]); fully-emptied layers
    * leave the manifest, clean layers keep their exact store dirs, and
    * concurrent readers keep the pre-delete snapshot. Replay-idempotent
    * without markers (t20's argument): a replayed batch's keys are
    * already absent, the dirty set is empty, nothing is published. A
    * delete before any publish is a structural no-op. Returns the dirty
    * layer tags — bounded by the layer count, the same O(metadata) class
    * as x75's partition keys.
    *
    * Semantics note (the contract a caller must know): deleting a keeper
    * does NOT resurrect the duplicates it suppressed — they were dropped
    * at ingest and exist nowhere. The fingerprint leaves the index, so
    * the NEXT identical document to arrive is admitted fresh. That is
    * the invariant this fold maintains: index ≡ the fingerprint table of
    * the currently-live corpus ([[dedupIndexUpsert]]'s oracle states it
    * cross-engine). Reference anchor: the late-arrival partition re-open
    * (`/root/reference/src/main/scala/org/apache/flume/sink/hive/batched/HiveBatchedSink.scala:318-322`)
    * applied to the dedup index artifact. */
  private[graft] def dedupIndexDeleteKeys(spark: SparkSession, idxDir: String,
      keys: DataFrame, keyCol: String = "doc_id",
      knownDirty: Option[Seq[String]] = None): Seq[String] = {
    val live = VersionedLayers.layers(spark, idxDir)
    if (live.isEmpty) return Seq.empty
    val liveTags = live.map(_.tag).toSet
    val k = broadcast(keys.select(col(keyCol)).distinct())
    // `knownDirty` = the caller already ran the dirty-tag detection
    // (the near triple's three sub-indexes detect all at once — one
    // action instead of three); intersect with the live manifest so a
    // tag another sub-index holds but this one doesn't is skipped
    val dirty = knownDirty match {
      case Some(tags) => tags.filter(liveTags).sorted
      case None => VersionedLayers.readTags(spark, idxDir, liveTags)
        .join(k, Seq(keyCol), "leftsemi")
        .select(col("batch")).distinct()
        .collect().map(_.getString(0)).toSeq.sorted
    }
    if (dirty.nonEmpty) {
      val surv = VersionedLayers.readTags(spark, idxDir, dirty.toSet)
        .join(k, Seq(keyCol), "leftanti")
      VersionedLayers.rewriteLayers(spark, idxDir, dirty, surv)
    }
    dirty
  }

  /** ONE-publish delete+append fold over a flat `batch=`-layered keyed
    * index (VERDICT r17 #1 — the cluster edge fold's single-transition
    * form generalized to every upsert pair): stage the dirty layers'
    * delete-survivors AND the batch's new `batch=<tag>` layer in ONE
    * write, swap the manifest ONCE — readers observe a single pre→post
    * transition, and per micro-batch the artifact pays one write job and
    * one pointer move where a delete-publish/append-publish pair paid
    * two of each.
    *
    * `newRows` must be net of same-batch cancels and derived against the
    * POST-DELETE index view — the caller probes
    * `readBatchIndex(...).join(keys, "leftanti")` (or
    * [[probeIndexKeepFirst]] with its delete keys), row-identical to the
    * state the append leg saw after a separate delete publish (the
    * delete removes exactly the key-matching rows). Replay converges
    * (t20 + x16): a replayed batch's keys are already absent (dirty =
    * ∅), its own tag is excluded from dirty detection, the re-derived tag
    * layer replaces its prior entry, and a crash mid-write leaves an
    * unreferenced stage dir. Returns the dirty tags. */
  private[graft] def indexUpsertFold(spark: SparkSession, idxDir: String,
      keys: DataFrame, tag: String, newRows: DataFrame,
      keyCol: String = "doc_id",
      knownDirty: Option[Seq[String]] = None): Seq[String] = {
    val k = broadcast(keys.select(col(keyCol)).distinct())
    val fresh = newRows.withColumn("batch", lit(tag))
    val live = VersionedLayers.layers(spark, idxDir)
      .filterNot(_.tag == tag)
    val dirty = knownDirty
      .map(_.filter(live.map(_.tag).toSet).sorted)
      .getOrElse {
        if (live.isEmpty) Seq.empty
        else VersionedLayers.readTags(spark, idxDir, live.map(_.tag).toSet)
          .join(k, Seq(keyCol), "leftsemi")
          .select(col("batch")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
      }
    val staged =
      if (dirty.isEmpty) fresh
      else VersionedLayers.readTags(spark, idxDir, dirty.toSet)
        .join(k, Seq(keyCol), "leftanti")
        .unionByName(fresh)
    VersionedLayers.rewriteLayers(spark, idxDir, dirty :+ tag, staged)
    dirty
  }

  /** X86 — delete propagation through the persisted dedup index: x61's
    * two-batch index builds, then a delete-request batch (doc_id keys)
    * folds through [[dedupIndexDeleteKeys]] and the query returns the
    * maintained index itself. The keys deliberately include doc_ids the
    * index never kept (ingest-time duplicates — structural no-ops) and
    * doomed keepers in both layers. The oracle recomputes the index
    * monolithically from the surviving corpus — the green hash states
    * the dirty-layer rewrite ≡ a full rebuild, i.e. the fold maintains
    * `index ≡ fingerprints of live corpus` exactly. */
  def dedupIndexDelete(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val idx = Tables.scratchDir("graft_x86_idx").toString + "/idx"
    dedupAgainstIndex(spark, docs.where(idxBucket <= 7), idx, "prior")
    dedupAgainstIndex(spark, docs.where(idxBucket >= 8), idx, "fresh")
    dedupIndexDeleteKeys(spark, idx, docs.where(idxDoomed).select(col("doc_id")))
    VersionedLayers.readAny(spark, idx).select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** One upsert pass over the persisted dedup index: fold the delete
    * keys through the stored layers FIRST, then admit the insert batch
    * against the post-delete index — so an insert identical to a
    * just-deleted keeper is ADMITTED (the re-crawl case: yesterday's doc
    * was retracted, today's identical fetch must land). Delete-first is
    * load-bearing: the admission probe is order-sensitive, unlike the
    * ANN index's row-independent fold (x84), which is why the streaming
    * form's oracle (t23) restates arrival order instead of carrying this
    * one verbatim. Inserts named by a same-batch delete key cancel before
    * landing (x84's pre-cancel, one broadcast anti-join). */
  private[graft] def dedupIndexUpsertKeys(spark: SparkSession, idxDir: String,
      inserts: DataFrame, keys: DataFrame, batchTag: String): Unit = {
    // ONE staged write + ONE publish for the whole pass (VERDICT r17 #1):
    // the admit probes the post-delete view DERIVED (own tag excluded,
    // key-named rows anti-joined) instead of waiting for a separate
    // delete publish — row-identical state, half the write jobs
    val k = keys.select(col("doc_id")).distinct()
    val withFp = inserts
      .join(broadcast(k), Seq("doc_id"), "leftanti")
      .withColumn("fp", TextFns.polyHash(col("text")))
    val surv = probeIndexKeepFirst(withFp, idxDir, batchTag, Some(k))
    indexUpsertFold(spark, idxDir, keys, batchTag,
      surv.select(col("fp"), col("doc_id")))
    ()
  }

  /** X87 — the dedup-index UPSERT (x79/x84's capstone shape for this
    * artifact): stored history is two layers (buckets ≤5 and 6–7), then
    * ONE maintenance pass carries the insert batch (buckets ≥8) and the
    * delete keys through [[dedupIndexUpsertKeys]]. The fixture's doomed
    * set hits stored keepers (cross-layer delete), insert docs
    * (same-batch cancel), and never-kept duplicates (no-op) — and any
    * insert sharing a fingerprint with a deleted keeper exercises the
    * readmit-after-delete path. Oracle = the monolithic recompute of
    * `fingerprints of ((stored corpus \ deletes) ∪ admitted inserts)`,
    * so the hash states the one-pass fold converges to the
    * delete-then-append composition. */
  def dedupIndexUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val idx = Tables.scratchDir("graft_x87_idx").toString + "/idx"
    dedupAgainstIndex(spark, docs.where(idxBucket <= 5), idx, "prior")
    dedupAgainstIndex(spark, docs.where(idxBucket === 6 || idxBucket === 7),
      idx, "mid")
    dedupIndexUpsertKeys(spark, idx,
      docs.where(idxBucket >= 8).select(col("doc_id"), col("text")),
      docs.where(idxDoomed).select(col("doc_id")), "ins")
    VersionedLayers.readAny(spark, idx).select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** X88 — the dedup index through a LAYER COMPACTION: x86's full
    * maintenance history (two appends, a delete batch) runs first, then
    * the surviving layers fold into one through the shared
    * [[VersionedLayers.compactVersioned]] core (no sub-partitioning below the
    * layer key) and the query returns the compacted index. The oracle is
    * x86's verbatim — the green hash states compaction is a pure
    * re-layout. With append (x61/t14), delete (x86),
    * upsert (x87), streaming (t23), and compaction, the dedup index now
    * has the same complete operational lifecycle as the layered ANN
    * index. */
  def dedupIndexCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val idx = Tables.scratchDir("graft_x88_idx").toString + "/idx"
    dedupAgainstIndex(spark, docs.where(idxBucket <= 7), idx, "prior")
    dedupAgainstIndex(spark, docs.where(idxBucket >= 8), idx, "fresh")
    dedupIndexDeleteKeys(spark, idx, docs.where(idxDoomed).select(col("doc_id")))
    VersionedLayers.compactVersioned(spark, idx, "compacted", Seq.empty)(identity)
    VersionedLayers.readAny(spark, idx).select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** X95 — x88's compaction behind the THRESHOLD POLICY
    * ([[Maintenance.compactIfNeeded]]): the same x86 maintenance history
    * (two appends, a delete batch), then the policy is consulted twice —
    * once BELOW threshold (`maxLayers` above the live layer count, no
    * small-file pressure: must not fire, artifact untouched) and once
    * ABOVE (`maxLayers = 1`: must fire and fold through the shared
    * core). The query returns the maintained index; since a fired policy
    * ≡ unconditional compaction ≡ pure re-layout, x86's oracle carries
    * verbatim — the green hash states the policy path reaches the same
    * artifact as the operator-scheduled one. The fires-iff-threshold
    * contract (both triggers, the no-op byte-identity, and the
    * crash-debris override) is spec-pinned. */
  def dedupIndexCompactPolicy(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val idx = Tables.scratchDir("graft_x95_idx").toString + "/idx"
    dedupAgainstIndex(spark, docs.where(idxBucket <= 7), idx, "prior")
    dedupAgainstIndex(spark, docs.where(idxBucket >= 8), idx, "fresh")
    dedupIndexDeleteKeys(spark, idx, docs.where(idxDoomed).select(col("doc_id")))
    require(!Maintenance.compactIfNeeded(spark, idx, "compacted", Seq.empty,
      maxLayers = 16),
      "x95: policy fired below its thresholds")
    require(Maintenance.compactIfNeeded(spark, idx, "compacted", Seq.empty,
      maxLayers = 1),
      "x95: policy did not fire above the layer threshold")
    VersionedLayers.readAny(spark, idx).select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** Apply a tombstone KEY table to the NEAR-dup triple index
    * (`StreamingIngest.nearDedupIndexBatch`'s artifact: `fp/`, `pfx/`,
    * `sh/`, each `batch=`-layered): one [[dedupIndexDeleteKeys]] swap per
    * sub-index — every sub-index carries the keeper's `doc_id`, so the
    * same key column addresses all three and the swap core is shared
    * verbatim (clean-layer store-dir identity, emptied-layer drops,
    * markerless replay — all inherited). Removing the doomed keeper's prefix
    * postings and shingle array is what makes FUTURE near-dups of a
    * retracted document admissible again: the candidate join can no
    * longer reach it. Requires a built index (all three sub-dirs exist).
    * Returns the dirty layer tags per sub-index. */
  private[graft] val NearSubIndexes: Seq[String] = Seq("fp", "pfx", "sh")

  /** Dirty-tag detection for ALL THREE near sub-indexes in ONE action
    * (r17: three separate semi-join+collect rounds were pure job
    * overhead — every sub-index is keyed by the keeper's doc_id, so one
    * union scan answers all three EXACTLY; a doc too short to shingle
    * can make fp dirty while pfx/sh stay clean, which per-sub rows
    * preserve). `kb` must already be broadcast + distinct. */
  private[graft] def nearDirtyBySub(spark: SparkSession, indexDir: String,
      kb: DataFrame, keyCol: String): Map[String, Seq[String]] = {
    val subs = NearSubIndexes
    val perSub = subs.flatMap { sub =>
      val dir = s"$indexDir/$sub"
      val live = VersionedLayers.layers(spark, dir)
      val rows =
        if (live.isEmpty) None
        else Some(VersionedLayers.readTags(spark, dir, live.map(_.tag).toSet))
      rows.map(df => sub -> df.select(col(keyCol), col("batch"))
        .join(kb, Seq(keyCol), "leftsemi")
        .select(lit(sub).as("sub"), col("batch")).distinct())
    }
    if (perSub.isEmpty) Map.empty
    else Maintenance.labeled(spark, "near: dirty detect") {
      perSub.map(_._2).reduce(_.unionByName(_))
        .collect().toSeq
        .groupBy(_.getString(0))
        .map { case (s, rs) => s -> rs.map(_.getString(1)).sorted } }
  }

  private[graft] def nearDedupIndexDeleteKeys(spark: SparkSession,
      indexDir: String, keys: DataFrame): Map[String, Seq[String]] = {
    // derive the key set ONCE (lineage-truncated — the ops-batch scan
    // behind `keys` must not re-run per sub-index), then run the three
    // independent swaps concurrently: same final state as the sequential
    // fold (distinct target dirs), one round of job overhead instead of
    // three (the t24 cut)
    val keyCol = keys.columns.head
    val k = Maintenance.labeled(spark, "near: key snapshot") {
      snapshot(spark, keys.select(keyCol).distinct()) }
    val dirtyBySub = nearDirtyBySub(spark, indexDir, broadcast(k), keyCol)
    Maintenance.inParallel(NearSubIndexes.map(sub => () =>
      sub -> Maintenance.labeled(spark, s"near: $sub delete") {
        dedupIndexDeleteKeys(spark, s"$indexDir/$sub", k,
          keyCol = keyCol,
          knownDirty = Some(dirtyBySub.getOrElse(sub, Seq.empty))) })).toMap
  }

  /** X89 — the near-dup index UPSERT: stored history is one
    * `nearDedupIndexBatch` layer (buckets ≤7 — within a batch only exact
    * dups collapse, near-dup pairs both enter, the t14 contract), then
    * ONE maintenance pass folds the delete keys through all three
    * sub-indexes ([[nearDedupIndexDeleteKeys]], delete-first — x87's
    * order-is-semantics argument, doubled: BOTH probes are against
    * post-delete state) and admits the insert batch (buckets ≥8, net of
    * same-batch cancels) against the maintained index. The query returns
    * the final `fp/` sub-index — surviving stored keepers plus admitted
    * inserts — so the green hash witnesses the delete leg (doomed
    * keepers gone), the exact readmit (an insert sharing a deleted
    * keeper's fingerprint lands), and the NEAR readmit (an insert within
    * Jaccard 0.8 of a deleted keeper is admitted because its prefix
    * postings left the candidate join — the part x86/x87 cannot see).
    * Oracle = the monolithic recompute: surviving stored keepers ∪
    * inserts that are neither exact (fp) nor near (rounded J ≥ 0.8)
    * matches of a SURVIVING keeper. */
  def nearDedupIndexUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = nearDedupMaintained(spark, sfDir, "graft_x89_idx")
    VersionedLayers.readAny(spark, s"$idx/fp").select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** The x89/x90 shared fixture: one stored layer (buckets ≤7), one
    * upsert pass (delete keys folded through all three sub-indexes, then
    * the ≥8 insert batch — net of same-batch cancels — admitted against
    * the maintained index). Returns the triple index's root. */
  private def nearDedupMaintained(spark: SparkSession, sfDir: String,
                                  prefix: String): String = {
    import graft.streaming.StreamingIngest
    val docs = Tables.documents(spark, sfDir)
    val root = Tables.scratchDir(prefix).toString
    val idx = root + "/idx"
    val out = root + "/out"
    StreamingIngest.nearDedupIndexBatch(
      docs.where(idxBucket <= 7).select(col("doc_id"), col("text")),
      "prior", idx, out)
    val keys = docs.where(idxDoomed).select(col("doc_id"))
    // delete fold + admitted fresh batch in ONE publish per sub-index
    // (VERDICT r17 #1) — both probes see the post-delete view inside
    StreamingIngest.nearDedupIndexBatch(
      docs.where(idxBucket >= 8).select(col("doc_id"), col("text"))
        .join(broadcast(keys.distinct()), Seq("doc_id"), "leftanti"),
      "fresh", idx, out, deleteKeys = Some(keys))
    idx
  }

  /** X90 — x89's history through a LAYER COMPACTION of all three
    * sub-indexes (the flat-layout [[VersionedLayers.compactVersioned]], one call
    * per sub-index): t14-style streams grow one layer per micro-batch in
    * EACH sub-index, so the probe's three reads each union N small files
    * until this maintenance pass folds them. Pure re-layout — the oracle
    * is x89's verbatim, stating cross-engine that compaction changes no
    * admission decision and no stored row. */
  def nearDedupIndexCompact(spark: SparkSession, sfDir: String): DataFrame = {
    val idx = nearDedupMaintained(spark, sfDir, "graft_x90_idx")
    Seq("fp", "pfx", "sh").foreach(sub =>
      VersionedLayers.compactVersioned(spark, s"$idx/$sub", "compacted", Seq.empty)(identity))
    VersionedLayers.readAny(spark, s"$idx/fp").select(col("doc_id"), col("fp"))
      .orderBy(col("doc_id"))
  }

  /** The unrestricted exact all-pairs baseline — test-only ground truth for
    * the LSH recall check; deliberately not a declared query (quadratic). */
  def embedCosineAllPairs(spark: SparkSession, sfDir: String, threshold: Double = 0.4,
                          auditN: Long = Long.MaxValue): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < auditN)
      .select(col("vec_id"), col("embedding"), VectorFns.norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        round(VectorFns.dot(col("a.embedding"), col("b.embedding"))
          / (col("a.nrm") * col("b.nrm")), 6).as("cosine"))
      .where(col("cosine") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  /** X5b — the scale path: TRAINED multi-assignment blocking. Each vector
    * is assigned to its `nprobe` nearest cells of a K-means coarse
    * quantizer (the same trained, disk-persisted quantizer machinery as
    * x6b, at K=32), a pair is a candidate iff the two vectors share ANY
    * assigned cell, and candidates are deduped once then verified with the
    * exact cosine — precision 1 by construction, recall < 1 by design.
    *
    * This replaced 16-table random-hyperplane sign-LSH: at the operating
    * threshold (cosine ≥ 0.4, angle ≈ 66°) the per-bit collision
    * probability is only ~0.63, so random banding needed most of the
    * quadratic candidate space to reach even 0.61 recall — while the
    * trained cells follow the corpus geometry and reach 0.87–0.95 recall
    * across fixture scales from ~42% of the pair space (the multiprobe
    * idea, applied to data-dependent buckets; cf. FAISS IVF
    * multi-assignment). The candidate join stays an equi-join on a
    * bounded derived key — O(Σ bucket²), never all-pairs — and the
    * quantizer cost is amortized across runs by the fingerprint-keyed
    * disk cache. APPROX_QUALITY.json regenerates the achieved
    * recall/precision every verify run; the spec floors recall at 0.8. */
  def embedCosineLsh(spark: SparkSession, sfDir: String, threshold: Double = 0.4,
                     kCells: Int = 32, nprobe: Int = 4): DataFrame = {
    val cents = Similarity.ivfCentroids(spark, sfDir, kCells)
      .collect().sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        VectorFns.norm(col("embedding")).as("nrm"))
    // top-nprobe cells per vector: K static codegen'd dot products (row
    // norm cancels in the ranking), struct-sorted desc, sliced, exploded
    // to narrow (vec_id, cell) rows; snapshot so the scoring runs once,
    // not once per self-join leg
    val scored = array(cents.zipWithIndex.map { case (c, i) =>
      val nrm = math.max(math.sqrt(c.map(x => x * x).sum), 1e-12)
      struct((VectorFns.dot(col("embedding"), typedLit(c)) / lit(nrm)).as("s"),
        lit(i).as("cell"))
    }: _*)
    val bucketed = snapshot(spark, e.select(col("vec_id"),
      explode(slice(sort_array(scored, asc = false), 1, nprobe)).as("sc"))
      .select(col("vec_id"), col("sc.cell").as("cell")))
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("id1"), col("embedding").as("e1"),
        col("nrm").as("n1")), "id1")
      .join(e.select(col("vec_id").as("id2"), col("embedding").as("e2"),
        col("nrm").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(VectorFns.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 6)
          .as("cosine"))
      .where(col("cosine") >= threshold)
      .orderBy(col("id1"), col("id2"))
  }

  /** X51 — effective-token accounting after canonical dedup: per language,
    * how many documents/tokens the corpus REALLY contributes once each
    * dup cluster keeps only its canonical doc (x44's keep-longest rule) —
    * the number a training-budget plan is actually built on, and the
    * standard "dedup shrank the corpus by X%" report. One narrow join of
    * the memoized x44 decision table against per-doc token counts, then a
    * per-language rollup; the cluster work was already paid by the shared
    * index. All-integer arithmetic (ppm ratio via integer div on positive
    * values) — full hash oracle. */
  def effectiveTokens(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
    docs.join(clusterCanonical(spark, sfDir).select(col("doc_id"), col("keep")), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tokens_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L)).as("tokens_kept"))
      .select(col("lang"), col("n_docs"), col("n_docs_kept"),
        col("tokens_total"), col("tokens_kept"),
        expr("(tokens_total - tokens_kept) * 1000000 div tokens_total")
          .as("dup_token_ppm"))
      .orderBy(col("lang"))
  }

  /** X68 — corpus snapshot diff: the what-changed audit between two
    * crawls/exports of the same corpus, computed entirely on content
    * fingerprints (one full-outer hash join on `doc_id`; no text ever
    * crosses the shuffle), rolled up to `source × status` with the net
    * character delta — the table a pipeline operator reads before deciding
    * whether an incremental re-process (x16/x60's append paths) or a full
    * rebuild is warranted. Statuses: `added` (new doc_id), `removed`
    * (gone), `changed` (fingerprint moved), `same`.
    *
    * Scale: both snapshots scan with column pruning to
    * (doc_id, source, fp, len); the join is co-partitioned on `doc_id`;
    * the rollup key space is |sources| × 4. At 100 TB the snapshots would
    * already be fingerprint manifests (x10's declared output) — this
    * operator is then a manifest-only join, never touching text at all. */
  def snapshotDiffOf(a: DataFrame, b: DataFrame): DataFrame = {
    val fp = (d: DataFrame, fpc: String, lenc: String) => d.select(
      col("doc_id"), col("source"),
      TextFns.polyHash(col("text")).as(fpc),
      length(col("text")).cast("long").as(lenc))
    fp(a, "fp_a", "len_a").join(fp(b, "fp_b", "len_b")
        .withColumnRenamed("source", "source_b"),
        Seq("doc_id"), "full_outer")
      .select(coalesce(col("source"), col("source_b")).as("source"),
        when(col("fp_a").isNull, "added")
          .when(col("fp_b").isNull, "removed")
          .when(col("fp_a") === col("fp_b"), "same")
          .otherwise("changed").as("status"),
        (coalesce(col("len_b"), lit(0L)) - coalesce(col("len_a"), lit(0L)))
          .as("delta"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n_docs"), sum(col("delta")).as("delta_chars"))
      .orderBy(col("source"), col("status"))
  }

  /** The declared x68: two snapshots synthesized from the fixture by the
    * x16 content-stable bucket rule — prior = buckets 0–8, current =
    * buckets 0–7 ∪ 9 with buckets 0–1 textually revised — so every status
    * class is populated deterministically and the DuckDB oracle restates
    * the same construction. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), col("text"))
    val bucket = pmod(TextFns.polyHash(col("doc_id").cast("string")), lit(10L))
    val prior = docs.where(bucket <= 8)
    val current = docs.where(bucket <= 7 || bucket === 9)
      .withColumn("text",
        when(bucket <= 1, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")))
    snapshotDiffOf(prior, current)
  }
}
