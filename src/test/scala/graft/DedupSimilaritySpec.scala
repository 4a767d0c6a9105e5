package graft

import graft.operators.{Dedup, Similarity, VersionedLayers}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [EXT] operator tests: planted near-dups found, LSH candidates ⊆ exact,
  * ANN brute/IVF agreement on the fixture. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  /** Publish a hand-built table as layers: one publish per distinct
    * `batch` value, in tag order. */
  private def publishLayers(dir: String, df: DataFrame,
                            sub: Seq[String] = Seq.empty): Unit =
    df.select($"batch").distinct().as[String].collect().sorted.foreach { t =>
      VersionedLayers.publishLayer(spark, dir, t,
        df.where($"batch" === t).drop("batch"), sub)
    }

  private def tags(dir: String): Seq[String] =
    VersionedLayers.layers(spark, dir).map(_.tag).distinct.sorted

  test("minhash LSH finds the planted near-dup pairs (J≥0.8 per exact jaccard)") {
    val exact = Dedup.ngramJaccard(spark, sf, 0.8)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(spark, sf)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    // high-J pairs are exactly what LSH must recall
    val recall = exact.intersect(lsh).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH recall $recall too low; exact=${exact.size} lsh=${lsh.size}")
  }

  test("exact dedup keeps one keeper per distinct text") {
    val d = Dedup.exactDedup(spark, sf)
    assert(d.count() == Tables.documents(spark, sf).select($"text").distinct().count())
  }

  test("embedding LSH near-dup pairs are a subset of exact pairs") {
    val exact = Dedup.embedCosineAllPairs(spark, sf, 0.4)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embedCosineLsh(spark, sf, 0.4)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    // label-blocked exact (the declared X5) is the all-pairs set restricted
    // to same-label pairs — no pair invented, none dropped within a block
    val blocked = Dedup.embedCosine(spark, sf, 0.4)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(exact))
  }

  test("x69 SemDeDup: rollup tiles the corpus; within-cell pairs are a nonempty subset of exact pairs") {
    val roll = Similarity.semanticDedup(spark, sf).collect()
    assert(roll.nonEmpty, "at least one populated cell")
    roll.foreach { r =>
      val (n, dp, nd, nk) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nk + nd == n, s"kept+dropped must tile cell ${r.getLong(0)}")
      assert(nd <= dp, "each drop needs at least one qualifying pair")
      assert((dp == 0) == (nd == 0), "pairs and drops appear together")
    }
    assert(roll.map(_.getLong(1)).sum == Tables.embeddings(spark, sf).count(),
      "cell membership must tile the corpus exactly once (single-assignment)")
    // cell-restricted pairs are a subset of the corpus-wide exact pair set —
    // and nonempty on the fixture, which plants near-dups
    val exact = Dedup.embedCosineAllPairs(spark, sf, 0.4).count()
    val found = roll.map(_.getLong(2)).sum
    assert(found > 0 && found <= exact,
      s"within-cell pairs $found must be in (0, $exact]")
  }

  test("x69: cell-count policy bounds within-cell quadratic work at every corpus size") {
    // the policy, not prose: K = min(cap, max(IvfK, ceil(n/target)))
    // keeps the MEAN cell population <= target over the driver-trainable
    // range, stays at the fixture floor for small n (oracles unchanged),
    // is monotone, and never Int-wraps
    for (n <- Seq(0L, 1L, 500L, 4096L, 4097L, 65536L, 10000000L)) {
      val k = Similarity.semanticCellCount(n, 4096L)
      assert(k >= 16, s"n=$n must respect the IvfK floor")
      assert(n.toDouble / k <= 4096.0, s"n=$n: mean cell population exceeds the target")
    }
    assert(Similarity.semanticCellCount(500L, 4096L) == 16,
      "fixture corpus sizes must resolve to the trained 16-cell quantizer")
    assert(Similarity.semanticCellCount(10000000L, 4096L) == 2442,
      "inside the trainable range the policy takes ~N/4096 cells")
    // past the driver trainer's 4096-cell ceiling the DISTRIBUTED
    // trainer (gated by graft.ivf.driverTrainGate) keeps the mean
    // population at the target instead of letting it grow as n/4096
    assert(Similarity.semanticCellCount(1000000000L, 4096L) == 244141,
      "beyond the driver ceiling the distributed trainer keeps ~N/4096 cells")
    // the flat-quantizer boundary: broadcast size and O(K) scoring cap
    // K at 2^20 (a hierarchical quantizer is the next step beyond) —
    // and the cap also makes extreme n / tiny cellpop total (no wrap)
    assert(Similarity.semanticCellCount(Long.MaxValue / 2, 1L) == (1 << 20),
      "no Int wrap at any corpus size or cellpop")
    // on the fixture, the trained quantizer's balance bounds the MAX cell
    // by a small factor of the mean, and the rollup's per-cell pair count
    // respects the structural members²/2 ceiling — together these bound
    // total within-cell work by K·(balance·target)²/2
    val roll = Similarity.semanticDedup(spark, sf).collect()
    val members = roll.map(_.getLong(1))
    val mean = members.sum.toDouble / Similarity.semanticCellCount(members.sum, 4096L)
    assert(members.max <= 4.0 * mean,
      s"trained-quantizer balance: max cell ${members.max} vs mean $mean")
    roll.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) * (r.getLong(1) - 1) / 2,
        s"cell ${r.getLong(0)}: dup_pairs exceeds the members-choose-2 ceiling")
    }
  }

  test("x69b: blocking recall ties x69's within-cell pairs to the exact all-pairs baseline") {
    val r = Similarity.semanticBlockingRecall(spark, sf).collect()
    assert(r.length == 1)
    val (np, ns, ppm) = (r.head.getLong(0), r.head.getLong(1), r.head.getLong(2))
    assert(np == Dedup.embedCosineAllPairs(spark, sf, 0.4).count(),
      "denominator must be the exact corpus-wide pair count")
    val roll = Similarity.semanticDedup(spark, sf).collect()
    assert(ns == roll.map(_.getLong(2)).sum,
      "numerator must equal the pairs x69 actually sees")
    assert(ns <= np && ppm == ns * 1000000L / np)
  }

  test("x70: source dup matrix tiles x4's pair set and is canonically upper-triangular") {
    val m = Dedup.sourceDupMatrix(spark, sf).collect()
    assert(m.nonEmpty)
    assert(m.map(_.getLong(2)).sum == Dedup.ngramJaccard(spark, sf, 0.8).count(),
      "every verified pair must land in exactly one matrix cell")
    m.foreach(r => assert(r.getString(0) <= r.getString(1),
      "pairs must canonicalize least/greatest"))
  }

  test("x71: surprisal equals the JVM bit-length replica over the corpus unigram model") {
    import graft.functions.TextFns
    val toks = Tables.documents(spark, sf)
      .select($"doc_id", explode(TextFns.tokens($"text")).as("w"))
      .select($"doc_id", TextFns.polyHash($"w").as("h"))
      .as[(Long, Long)].collect()
    val cnt = toks.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val total = toks.length.toLong
    val expected = toks.groupBy(_._1).map { case (id, hs) =>
      val bits = hs.map { case (_, h) =>
        java.lang.Long.toBinaryString(total / cnt(h)).length.toLong }
      id -> ((hs.length.toLong, bits.sum, bits.sum * 1000L / hs.length))
    }
    val got = operators.TextAnalysis.unigramSurprisal(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // the score separates: not every doc has the same mean (the filter
    // would be vacuous on a corpus it cannot rank)
    assert(got.values.map(_._3).toSet.size > 1)
  }

  test("x71b: bigram surprisal equals the JVM replica and is properly conditional") {
    import graft.functions.TextFns
    val bg = Tables.documents(spark, sf)
      .select($"doc_id", TextFns.tokens($"text").as("tk"))
      .where(size($"tk") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(1, size(tk) - 1), i -> struct(tk[i-1] AS w1, tk[i] AS w2))")).as("b"))
      .select($"doc_id", TextFns.polyHash($"b.w1").as("h1"),
        TextFns.polyHash(concat($"b.w1", lit(" "), $"b.w2")).as("h12"))
      .as[(Long, Long, Long)].collect()
    val c1 = bg.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val c12 = bg.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val expected = bg.groupBy(_._1).map { case (id, rows) =>
      val bits = rows.map { case (_, h1, h12) =>
        java.lang.Long.toBinaryString(c1(h1) / c12(h12)).length.toLong }
      id -> ((rows.length.toLong, bits.sum, bits.sum * 1000L / rows.length))
    }
    val got = operators.TextAnalysis.bigramSurprisal(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected)
    // conditional normalization: per head, continuations tile the head count
    val tile = bg.groupBy(_._2).forall { case (h1, rows) =>
      rows.groupBy(_._3).values.map(_.length).sum == c1(h1) }
    assert(tile, "sum of c12 over continuations must equal c1")
  }

  test("x72: drift audit tiles the corpus and ties to x69's cell populations") {
    val d = Similarity.cellDrift(spark, sf).collect()
    val roll = Similarity.semanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    d.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == roll(r.getLong(0)),
        s"prior+fresh must tile cell ${r.getLong(0)}'s population")
      assert(r.getLong(5) == math.abs(r.getLong(3) - r.getLong(4)),
        "drift must be the absolute share difference")
    }
    assert(d.map(r => r.getLong(1) + r.getLong(2)).sum ==
      Tables.embeddings(spark, sf).count(), "halves must tile the corpus")
  }

  test("x73: manifest verdicts are the first-blocking composition of x1/x44/x8") {
    val man = operators.TextAnalysis.curationManifest(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val keepers = Dedup.exactDedup(spark, sf).select($"keeper_id").as[Long].collect().toSet
    val canon = Dedup.clusterCanonical(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val qual = operators.TextAnalysis.qualityScore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(5)).toMap
    man.foreach { case (id, v) =>
      val expected =
        if (!keepers.contains(id)) "exact_dup"
        else if (!canon(id)) "near_dup"
        else if (qual(id) < 0.5) "low_quality"
        else "keep"
      assert(v == expected, s"doc $id: got $v, component composition says $expected")
    }
    assert(man.size == Tables.documents(spark, sf).count(), "one verdict per doc")
    // the fixture plants near-dups and low-quality docs but no exact text
    // copies (x1's spec pins count == distinct), so those three fire here;
    // exact_dup is exercised by the composition check above
    assert(Set("keep", "near_dup", "low_quality").subsetOf(man.values.toSet),
      "fixture-exercised verdicts must all fire")
  }

  test("x74: TV divergence equals the JVM union-sum replica and stays in [0, 1e6]") {
    import graft.functions.TextFns
    val occ = Tables.documents(spark, sf)
      .select($"source", explode(TextFns.tokens($"text")).as("w"))
      .select($"source", TextFns.polyHash($"w").as("h"))
      .as[(String, Long)].collect()
    val bySrc = occ.groupBy(_._1).view.mapValues { rows =>
      val t = rows.length.toLong
      rows.groupBy(_._2).map { case (h, r) => h -> r.length.toLong * 1000000L / t }
    }.toMap
    val srcs = bySrc.keys.toSeq.sorted
    val expected = (for {
      a <- srcs; b <- srcs if a < b
      pa = bySrc(a); pb = bySrc(b)
      union = pa.keySet ++ pb.keySet
    } yield (a, b) -> union.toSeq
      .map(h => math.abs(pa.getOrElse(h, 0L) - pb.getOrElse(h, 0L))).sum / 2).toMap
    val got = operators.TextAnalysis.sourceDivergence(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == expected)
    got.values.foreach(v => assert(v >= 0L && v <= 1000000L))
  }

  test("x74: a fully disjoint source pair appears at maximal divergence, not silently absent") {
    import spark.implicits._
    // src_a/src_c share vocabulary; src_b shares NOTHING with either —
    // exactly the pair the metric exists to flag, and exactly the rows
    // an inner join on the token hash used to drop
    val synth = Seq(
      (1L, "alpha beta gamma alpha", "src_a"), // masses: 500000+250000+250000 = 1e6
      (2L, "delta epsilon zeta", "src_b"),     // 3 × 333333 = 999999 (floor loss)
      (3L, "alpha beta", "src_c"))             // 2 × 500000 = 1e6
      .toDF("doc_id", "text", "source")
    val dir = graft.Tables.scratchDir("graft_x74disj_").toString
    synth.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = operators.TextAnalysis.sourceDivergence(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keySet == Set(("src_a", "src_b"), ("src_a", "src_c"), ("src_b", "src_c")),
      "every unordered source pair must appear, shared vocabulary or not")
    // disjoint pairs: tv = (Sa + Sb) div 2 with the shared terms coalesced to 0
    assert(got(("src_a", "src_b")) == (1000000L + 999999L) / 2)
    assert(got(("src_b", "src_c")) == (999999L + 1000000L) / 2)
    // a vs c share alpha (|500000−500000| = 0) and beta (|250000−500000|):
    // tv = (250000 + (1e6−750000) + (1e6−1e6)) div 2 = 250000
    assert(got(("src_a", "src_c")) == 250000L)
  }

  test("X13: dup clusters are transitive and labeled by the component minimum") {
    val pairs = Dedup.ngramJaccard(spark, sf, 0.8)
      .select($"id1", $"id2").as[(Long, Long)].collect()
    val cl = Dedup.dupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(cl(a) == cl(b), s"pair ($a,$b) split across clusters") // transitive closure
    }
    cl.groupBy(_._2).foreach { case (label, members) =>
      assert(label == members.keys.min, s"cluster $label not labeled by its min member")
    }
  }

  test("X13: zero near-dup pairs degrade to all-singleton clusters (no NPE)") {
    // threshold > 1 is unsatisfiable, so the edge set is provably empty —
    // the agg-on-empty path that NPE'd in round 2
    val cl = Dedup.dupClusters(spark, sf, 1.01).as[(Long, Long)].collect()
    assert(cl.length == Tables.documents(spark, sf).count())
    cl.foreach { case (doc, label) => assert(doc == label) }
  }

  test("X44: exactly one keeper per cluster, and it is the longest member") {
    val rows = Dedup.clusterCanonical(spark, sf)
      .select($"doc_id", $"cluster_id", $"n_members", $"keep")
      .as[(Long, Long, Long, Boolean)].collect()
    val lens = Tables.documents(spark, sf)
      .select($"doc_id", $"n_chars").as[(Long, Long)].collect().toMap
    assert(rows.length == lens.size) // full decision table, one row per doc
    rows.groupBy(_._2).foreach { case (cl, members) =>
      assert(members.forall(_._3 == members.length),
        s"cluster $cl n_members inconsistent")
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, s"cluster $cl has ${keepers.length} keepers")
      // keep-longest policy, ties to the smallest id
      val best = members.map(m => (m._1, lens(m._1)))
        .minBy { case (id, n) => (-n, id) }._1
      assert(keepers.head._1 == best, s"cluster $cl kept ${keepers.head._1}, not $best")
    }
  }

  test("X16: incremental dedup survivors are new-batch docs clean against prior") {
    val bucket = pmod(graft.functions.TextFns.polyHash($"doc_id".cast("string")), lit(10L))
    val docs = Tables.documents(spark, sf)
    val newIds = docs.where(bucket >= 8).select($"doc_id").as[Long].collect().toSet
    val priorTexts = docs.where(bucket <= 7).select($"text").as[String].collect().toSet
    val newById = docs.where(bucket >= 8)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val survivors = Dedup.incrementalDedup(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(survivors.nonEmpty && survivors.subsetOf(newIds))
    // no survivor's text appears verbatim in the prior corpus
    survivors.foreach { id =>
      assert(!priorTexts.contains(newById(id)), s"doc $id is an exact dup of a prior doc")
    }
    // every dropped new doc is either an exact or a near dup against prior
    val exactPairs = Dedup.ngramJaccard(spark, sf, 0.8)
      .select($"id1", $"id2").as[(Long, Long)].collect()
    val nearPriorOfNew = exactPairs.flatMap { case (a, b) =>
      Seq(a -> b, b -> a).collect {
        case (n, p) if newIds.contains(n) && !newIds.contains(p) => n
      }
    }.toSet
    (newIds -- survivors).foreach { id =>
      assert(priorTexts.contains(newById(id)) || nearPriorOfNew.contains(id),
        s"doc $id dropped without an exact or near dup in prior")
    }
  }

  test("X16 operational loop: the persisted fingerprint index admits only novelty across runs") {
    val idxDir = graft.Tables.scratchDir("graft_fp_idx").toString + "/idx"
    val bucket = pmod(graft.functions.TextFns.polyHash($"doc_id".cast("string")), lit(10L))
    val docs = Tables.documents(spark, sf)
    val prior = docs.where(bucket <= 7)
    val fresh = docs.where(bucket >= 8)
    // run 1: prior corpus seeds the index (all its distinct texts survive)
    val kept1 = Dedup.dedupAgainstIndex(spark, prior, idxDir, "b0")
    assert(kept1.count() == prior.select($"text").distinct().count())
    // run 2: new batch — exact dups of prior (or within-batch) are dropped
    val kept2 = Dedup.dedupAgainstIndex(spark, fresh, idxDir, "b1")
    val priorTexts = prior.select($"text").as[String].collect().toSet
    val expected = fresh.select($"doc_id", $"text").as[(Long, String)].collect()
      .filterNot { case (_, t) => priorTexts.contains(t) }
      .groupBy(_._2).map(_._2.map(_._1).min).toSet
    assert(kept2.select($"doc_id").as[Long].collect().toSet == expected)
    // retry of run 2 (downstream commit failed → same tag): the probe
    // excludes the tag's own earlier index entries, so the retry REPRODUCES
    // its survivors instead of seeing them as already-seen and losing the
    // whole batch
    assert(Dedup.dedupAgainstIndex(spark, fresh, idxDir, "b1")
      .select($"doc_id").as[Long].collect().toSet == expected)
    // run 3 (new tag, same content — tomorrow's crawl re-sends everything):
    // admits nothing — the cross-run property
    assert(Dedup.dedupAgainstIndex(spark, fresh, idxDir, "b2").isEmpty)
  }

  test("x61: the declared dedup-index-probe query equals the two-batch expectation") {
    val got = Dedup.dedupIndexProbe(spark, sf)
      .select($"doc_id").as[Long].collect().toSeq
    val bucket = pmod(graft.functions.TextFns.polyHash($"doc_id".cast("string")), lit(10L))
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text", bucket.as("bk"))
      .as[(Long, String, Long)].collect()
    val priorTexts = docs.filter(_._3 <= 7).map(_._2).toSet
    val expected = docs.filter(d => d._3 >= 8 && !priorTexts.contains(d._2))
      .groupBy(_._2).map(_._2.map(_._1).min).toSeq.sorted
    assert(got == expected)
  }

  test("x13: union-find fast path labels exactly match the distributed CC") {
    def run(): Seq[(Long, Long)] = Dedup.dupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    Dedup.evictCaches(spark)
    sys.props("graft.index.cache") =
      graft.Tables.scratchDir("graft_ccuf").toString
    sys.props("graft.cc.unionFindGate") = "0" // force large/small-star
    try {
      val distributed = run()
      Dedup.evictCaches(spark)
      sys.props("graft.index.cache") =
        graft.Tables.scratchDir("graft_ccuf2").toString
      sys.props("graft.cc.unionFindGate") = Long.MaxValue.toString // force union-find
      val unionFind = run()
      assert(distributed.nonEmpty)
      assert(distributed == unionFind,
        "driver union-find diverged from the distributed fixpoint")
    } finally {
      sys.props.remove("graft.index.cache")
      sys.props.remove("graft.cc.unionFindGate")
      Dedup.evictCaches(spark)
    }
  }

  test("x6b: the distributed Lloyd trainer equals the driver trainer bit-for-bit") {
    // the theorem that makes the two trainer paths interchangeable:
    // same seed rule, same IEEE scoring (hoisted norms are the same
    // doubles), exact order-independent micro-long sums, same floorDiv
    // update — so centroid-by-centroid, dimension-by-dimension, the raw
    // double BITS must agree on the shared fixture sample
    val driver = Similarity.ivfCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    val dist = Similarity.ivfCentroidsDistributed(spark, sf, 16, 4, 65536L)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    assert(driver.map(_._1) == dist.map(_._1), "cell ids must tile 0..K-1")
    driver.zip(dist).foreach { case ((c, dv), (_, xv)) =>
      assert(dv.size == xv.size, s"cell $c dimensionality mismatch")
      dv.zip(xv).zipWithIndex.foreach { case ((a, b), i) =>
        assert(java.lang.Double.doubleToRawLongBits(a) ==
          java.lang.Double.doubleToRawLongBits(b),
          s"cell $c dim $i diverged: driver $a vs distributed $b")
      }
    }
  }

  test("x6b: driverTrainGate routes ivfCentroids through the distributed trainer, artifact unchanged") {
    val reference = Similarity.ivfCentroids(spark, sf).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq
    Dedup.evictCaches(spark)
    sys.props("graft.index.cache") =
      graft.Tables.scratchDir("graft_ivfgate").toString
    sys.props("graft.ivf.driverTrainGate") = "0" // force the scale path
    try {
      val gated = Similarity.ivfCentroids(spark, sf).collect()
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq)).sortBy(_._1).toSeq
      assert(gated == reference,
        "the gated distributed build must reproduce the driver-trained artifact")
    } finally {
      sys.props.remove("graft.index.cache")
      sys.props.remove("graft.ivf.driverTrainGate")
      Dedup.evictCaches(spark)
    }
  }

  test("ivfAssignment: the large-K partitioned assigner equals the codegen expression path") {
    val cents = Similarity.ivfCentroids(spark, sf).collect()
      .sortBy(_.getInt(0)).map(_.getSeq[Double](1).toSeq).toSeq
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label"), col("embedding"))
    val viaExpr = base.withColumn("cell", Similarity.assignCell(cents))
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val viaPart = Similarity.assignCellsPartitioned(spark, base, cents)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    assert(viaExpr.nonEmpty && viaPart == viaExpr,
      "per-partition JVM scoring must assign every vector to the same cell")
  }

  test("X13: reliable-checkpoint files are reclaimed across dupClusters runs") {
    // with a checkpoint dir set, every dupClusters round writes a reliable
    // rdd-* snapshot; cleanCheckpoints=true (set at session build) lets the
    // ContextCleaner delete them once unreachable, so repeated runs can't
    // accumulate O(runs · log n) files
    val ckDir = graft.Tables.scratchDir("graft_ck13").toString
    // the label table is memoized (x44 shares it) — evict so each run below
    // actually recomputes and snapshots, instead of reading the cache; the
    // index is ALSO disk-backed now, so point the disk layer at a scratch
    // root for the duration (otherwise the persisted parquet serves the
    // clusters and no checkpoint is ever written)
    Dedup.evictCaches(spark)
    val scratchIdx = graft.Tables.scratchDir("graft_idx13").toString
    sys.props("graft.index.cache") = scratchIdx
    // pin the DISTRIBUTED CC path: the union-find fast path writes only
    // the initial edge snapshot and leaves no lineage referencing it, so
    // "checkpoints were written" would race a suite-triggered GC
    sys.props("graft.cc.unionFindGate") = "0"
    spark.sparkContext.setCheckpointDir(ckDir)
    try {
      def rddDirs: Int = {
        val root = new java.io.File(ckDir)
        def walk(f: java.io.File): Int =
          if (f.isDirectory)
            (if (f.getName.startsWith("rdd-")) 1 else 0) +
              Option(f.listFiles()).toSeq.flatten.map(walk).sum
          else 0
        walk(root)
      }
      // Observe the checkpoint writes WHILE the CC loop runs: after the
      // disk layer publishes, nothing references the final snapshot, so
      // a suite-triggered GC can legitimately reclaim every rdd-* dir
      // before a post-run assert (observed under heap pressure). Each
      // round's snapshot lives at least as long as the next round, so
      // a 10 ms poll cannot miss them all.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val run1 = Future { Dedup.dupClusters(spark, sf).count() }
      var seen = false
      while (!run1.isCompleted) {
        if (rddDirs > 0) seen = true
        Thread.sleep(10)
      }
      Await.result(run1, scala.concurrent.duration.Duration(120, "s"))
      seen ||= rddDirs > 0
      assert(seen, "expected reliable checkpoints to have been written")
      Dedup.evictCaches(spark)
      // a SECOND scratch root so run 2 recomputes (the first root's parquet
      // would otherwise serve the clusters and write nothing new)
      sys.props("graft.index.cache") =
        graft.Tables.scratchDir("graft_idx13b").toString
      Dedup.dupClusters(spark, sf).count()
      // drop the last references (incl. the memoized label table, which
      // pins the final round's snapshot) and let the cleaner reclaim
      Dedup.evictCaches(spark)
      val deadline = System.currentTimeMillis() + 30000
      var n = rddDirs
      while (n > 0 && System.currentTimeMillis() < deadline) {
        System.gc(); Thread.sleep(500); n = rddDirs
      }
      assert(n == 0, s"$n rdd-* checkpoint dirs never reclaimed")
    } finally {
      spark.sparkContext.setCheckpointDir(null)
      sys.props.remove("graft.index.cache")
      sys.props.remove("graft.cc.unionFindGate")
      Dedup.evictCaches(spark) // entries built against the scratch root
    }
  }

  test("memoizeDisk: persisted index survives session eviction, invalidates on source change") {
    import graft.operators.DfCache
    val scratch = graft.Tables.scratchDir("graft_idxspec").toString
    sys.props("graft.index.cache") = scratch
    val src = graft.Tables.scratchFile("graft_idxsrc", ".bin")
    java.nio.file.Files.write(src, Array[Byte](1, 2, 3))
    try {
      var builds = 0
      def build: org.apache.spark.sql.DataFrame = { builds += 1; spark.range(5).toDF("v") }
      val key = "spec:diskidx"
      assert(DfCache.memoizeDisk(spark, key, Seq(src.toString))(build).count() == 5)
      assert(builds == 1)
      DfCache.memoizeDisk(spark, key, Seq(src.toString))(build).count()
      assert(builds == 1, "in-session second access must be memoized")
      // a fresh process = no session entry; the DISK copy must serve
      DfCache.evict(spark)
      assert(DfCache.memoizeDisk(spark, key, Seq(src.toString))(build).count() == 5)
      assert(builds == 1, "fresh session must read the persisted index, not rebuild")
      // source content change (mtime+len) → fingerprint miss → rebuild,
      // and the stale sibling dir is deleted rather than accumulated
      java.nio.file.Files.write(src, Array[Byte](1, 2, 3, 4))
      java.nio.file.Files.setLastModifiedTime(src,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 5000))
      DfCache.evict(spark)
      DfCache.memoizeDisk(spark, key, Seq(src.toString))(build).count()
      assert(builds == 2, "changed source must invalidate the disk entry")
      val dirs = new java.io.File(scratch).listFiles().filterNot(_.getName.startsWith("."))
      assert(dirs.length == 1, s"stale index dirs must be evicted, saw ${dirs.length}")
    } finally {
      sys.props.remove("graft.index.cache")
      DfCache.evict(spark)
    }
  }

  test("evictCaches releases the memoized indexes and queries rebuild cleanly") {
    // warm the caches, evict, then re-run — results identical, no dangling state
    val before = Dedup.ngramJaccard(spark, sf, 0.8).collect().toSeq
    Dedup.evictCaches(spark)
    val after = Dedup.ngramJaccard(spark, sf, 0.8).collect().toSeq
    assert(before == after)
  }

  test("readBatchIndex: write debris reads as empty; a malformed index propagates") {
    val dir = graft.Tables.scratchDir("graft_idx_probe").toString
    def empty = spark.range(0).select(col("id").as("fp"))
    // missing dir -> empty (first run)
    assert(Dedup.readBatchIndex(spark, s"$dir/missing", "t0")(empty).count() == 0)
    // crashed first publish: a store dir but no pointer -> still "no index
    // yet", so the retry self-heals instead of failing forever
    spark.range(3).select(col("id").as("fp")).write.parquet(s"$dir/idx/store/t0-g1")
    assert(Dedup.readBatchIndex(spark, s"$dir/idx", "t0")(empty).count() == 0)
    // an in-place layout (batch= dirs, no pointer) and a legacy flat
    // layout (parquet files, no batch= level) must THROW, not silently
    // read as first-run (that would re-admit the whole prior corpus)
    spark.range(3).select(col("id").as("fp")).write.parquet(s"$dir/inplace/batch=t1")
    spark.range(3).select(col("id").as("fp")).write.parquet(s"$dir/flat")
    Seq("inplace", "flat").foreach { d =>
      val e = intercept[IllegalArgumentException] {
        Dedup.readBatchIndex(spark, s"$dir/$d", "t0")(empty).count()
      }
      assert(e.getMessage.contains(s"$dir/$d"), e.getMessage)
    }
    // a published index: other batches visible, own tag excluded
    VersionedLayers.publishLayer(spark, s"$dir/idx", "t1",
      spark.range(5).select(col("id").as("fp")))
    assert(Dedup.readBatchIndex(spark, s"$dir/idx", "t1")(empty).count() == 0)
    assert(Dedup.readBatchIndex(spark, s"$dir/idx", "t0")(empty).count() == 5)
  }
  test("x37: novelty is 100% for the first doc and the novel counts tile the corpus vocab") {
    import graft.operators.TextAnalysis
    import graft.functions.TextFns
    val rows = TextAnalysis.ngramNovelty(spark, sf).collect()
    assert(rows.nonEmpty && rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq.sorted)
    val first = rows.find(_.getLong(1) > 0).get
    // the earliest doc with any shingles: every one of them is first-seen
    assert(first.getLong(2) == first.getLong(1) && first.getLong(3) == 1000000L,
      s"first doc ${first.getLong(0)} not fully novel")
    // each distinct corpus shingle is novel in exactly one doc
    val totalNovel = rows.map(_.getLong(2)).sum
    val distinctShingles = Tables.documents(spark, sf)
      .select(explode(array_distinct(
        TextFns.shingles(TextFns.tokens(col("text")), 3))).as("s"))
      .select(col("s")).distinct().count()
    assert(totalNovel == distinctShingles,
      s"novel counts $totalNovel do not tile the $distinctShingles distinct shingles")
    rows.foreach(r => assert(r.getLong(2) <= r.getLong(1) && r.getLong(3) <= 1000000L))
  }

  test("x38: shared+exclusive tile each source vocab, and exclusives tile the global vocab") {
    import graft.operators.TextAnalysis
    import graft.functions.TextFns
    val rows = TextAnalysis.sourceVocabOverlap(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) + r.getLong(3),
        s"source ${r.getString(0)}: vocab != shared + exclusive")
    }
    val tokensBySource = Tables.documents(spark, sf)
      .select(col("source"), explode(array_distinct(TextFns.tokens(col("text")))).as("t"))
      .distinct()
    val global = tokensBySource.select(col("t")).distinct().count()
    val sharedGlobal = tokensBySource.groupBy(col("t"))
      .agg(countDistinct(col("source")).as("n")).where(col("n") >= 2).count()
    assert(rows.map(_.getLong(3)).sum + sharedGlobal == global,
      "per-source exclusives + globally-shared tokens must tile the global vocab")
  }

  test("x42/x9 consistency: histogram tiles the corpus and agrees with token accounting") {
    import graft.operators.TextAnalysis
    val h = TextAnalysis.tokenHistogram(spark, sf).collect()
    // buckets tile the corpus: doc counts sum to |documents|
    assert(h.map(_.getLong(2)).sum == Tables.documents(spark, sf).count())
    // per-lang token totals equal x9's whitespace accounting
    val fromHist = h.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(3)).sum).toMap
    val fromX9 = TextAnalysis.tokenCounts(spark, sf)
      .select($"lang", $"total_ws_tokens").as[(String, Long)].collect().toMap
    assert(fromHist == fromX9, "histogram token totals diverge from x9")
    h.foreach { r =>
      val (b, mn, mx) = (r.getLong(1), r.getLong(4), r.getLong(5))
      assert(b * 64 <= mn && mn <= mx && mx < (b + 1) * 64, s"bucket $b bounds broken")
    }
  }

  test("x43: pair counts are bounded by their marginals; lift is the exact integer ratio") {
    import graft.operators.TextAnalysis
    val n = Tables.documents(spark, sf).count()
    val rows = TextAnalysis.cooccurrenceLift(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nab, na, nb, lift) = (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(nab <= math.min(na, nb) && na <= n && nb <= n,
        s"(${r.getString(0)},${r.getString(1)}) counts exceed marginals")
      assert(lift == nab * n * 1000000L / (na * nb), "lift not the exact integer ratio")
      assert(r.getString(0) < r.getString(1), "pair not in canonical order")
    }
  }

  test("x45: quality buckets tile the corpus; dup counts agree with the cluster table") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.qualityDupCalibration(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == Tables.documents(spark, sf).count())
    val expectedDups = Dedup.clusterCanonical(spark, sf)
      .where($"n_members" > 1).count()
    assert(rows.map(_.getLong(2)).sum == expectedDups,
      "per-bucket dup counts diverge from the cluster membership table")
    rows.foreach { r =>
      assert(r.getLong(2) * 1000000L / r.getLong(1) == r.getLong(3), "dup_ppm drifted")
    }
  }

  test("x48: triangle participation sums to 3x the triangle count, inside the edge set") {
    import graft.operators.TextAnalysis
    val rows = TextAnalysis.triangleCounts(spark, sf)
      .as[(String, Long)].collect()
    assert(rows.nonEmpty, "fixture co-occurrence graph should contain triangles")
    // every triangle contributes exactly one participation to each corner
    assert(rows.map(_._2).sum % 3 == 0, "total participation not divisible by 3")
    // participants must be endpoints of the x43/x48 edge set
    val (pairs, _) = TextAnalysis.cooccurrencePairs(spark, sf, 200, 5)
    val endpoints = pairs.select($"t1").union(pairs.select($"t2"))
      .distinct().as[String].collect().toSet
    rows.foreach { case (t, n) =>
      assert(n > 0 && endpoints.contains(t), s"token $t outside the edge set")
    }
  }

  test("x40: trim point is the first in-doc shingle repeat; the kept prefix is repeat-free") {
    import graft.operators.TextAnalysis
    import graft.functions.TextFns
    val rows = TextAnalysis.repetitionTrim(spark, sf).collect()
    assert(rows.nonEmpty)
    val docsById = Tables.documents(spark, sf)
      .select(col("doc_id"), TextFns.shingles(TextFns.tokens(col("text")), 3).as("sh"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .collect().map(r => r.getLong(0) -> ((r.getSeq[String](1), r.getLong(2)))).toMap
    rows.foreach { r =>
      val (id, n3, mult, frp, keep) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val (sh, nTok) = docsById(id)
      assert(n3 == sh.length, s"doc $id n_3grams")
      // independent recomputation of the first repeat position
      val seen = scala.collection.mutable.Set.empty[String]
      val expectedFrp = sh.indexWhere(s => !seen.add(s)) match {
        case -1 => n3
        case i  => i.toLong
      }
      assert(frp == expectedFrp, s"doc $id first_repeat_pos $frp != $expectedFrp")
      assert(mult == (if (sh.isEmpty) 0L else sh.groupBy(identity).values.map(_.size).max.toLong))
      // repeat found → cut just before it; none → keep the whole doc
      assert(keep == (if (expectedFrp < n3) expectedFrp + 2 else nTok), s"doc $id keep_tokens")
      assert((mult >= 2) == (frp < n3), s"doc $id repeat flag consistency")
    }
  }

  test("x41: deflate ratio is deterministic, bounded, and separates repetitive from distinct text") {
    import graft.operators.TextAnalysis
    val a = TextAnalysis.compressionRatio(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val b = TextAnalysis.compressionRatio(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    assert(a.nonEmpty && a.sameElements(b), "deflate output must be deterministic across runs")
    assert(a.length == Tables.documents(spark, sf).count())
    // sane bounds: compressed output is never empty, tiny docs may
    // inflate slightly past 1.0 but never past ~2x on text
    a.foreach { case (id, ppm) =>
      assert(ppm > 0 && ppm < 2000000L, s"doc $id ratio $ppm out of range")
    }
    // the separation the filter exists for: one token repeated 200x
    // compresses an order of magnitude better than 200 distinct tokens
    import spark.implicits._
    val synth = Seq(
      (1L, Seq.fill(200)("spark").mkString(" ")),
      (2L, (1 to 200).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val dir = graft.Tables.scratchDir("graft_zratio_").toString
    synth.coalesce(1).write.parquet(s"$dir/documents.parquet")
    val m = TextAnalysis.compressionRatio(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(m(1L) * 5 < m(2L),
      s"repetitive ${m(1L)} ppm should compress far below distinct ${m(2L)} ppm")
  }

  test("APPROX_QUALITY: every reported metric meets its floor (regression gate for the artifact)") {
    // the same numbers Verify writes to APPROX_QUALITY.json; the bounds
    // demand quality (x2 ≥0.95, x3 ≥0.85, x5b recall ≥0.8, x6b ≥0.7 —
    // observed: 1.0, 0.92, 0.92, 0.9 at sf0.001), so quality regressions
    // in the approximate family fail the build, not just dent a report
    // nobody diffs
    val m = ApproxQuality.metrics(spark, sf).toMap
    assert(m("x4_exact_pairs") > 0, "fixture must contain planted near-dups")
    // the bounds are defined ONCE, in ApproxQuality.bounds — the same
    // values written into APPROX_QUALITY.json — so this gate and the
    // artifact cannot drift apart
    ApproxQuality.bounds.foreach { case (name, op, b) =>
      assert(ApproxQuality.boundHolds(name, m(name)),
        s"$name = ${m(name)} violates the spec bound $op $b")
    }
    // structural, stronger than the published 0.95 floor: the candidate
    // verify recomputes the exact cosine, so no false positive can survive
    assert(m("x5b_embed_lsh_precision") == 1.0, "x5b verify cosine is exact — precision must be 1")
  }

  test("x52: no near-dup pair straddles splits, while the naive doc-hash split leaks") {
    val pairs = Dedup.ngramJaccard(spark, sf, 0.8)
      .select($"id1", $"id2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture should contain planted near-dups")
    val split = Dedup.leakFreeSplit(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b), s"near-dup pair ($a,$b) straddles ${split(a)}/${split(b)}")
    }
    // the property is not vacuous: x14's doc_id-hash split DOES break up
    // near-dup pairs on the same fixture (what x36 exists to audit)
    def polyHash(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % 1000000007L)
    def naive(id: Long) = polyHash(id.toString) % 10 match {
      case b if b <= 7 => "train"; case 8 => "val"; case _ => "test"
    }
    assert(pairs.exists { case (a, b) => naive(a) != naive(b) },
      "fixture no longer demonstrates doc-hash leakage; pick a fixture where x36 > 0")
    // every split is populated (8/1/1 over enough clusters should hit all 3)
    assert(split.values.toSet == Set("train", "val", "test"))
  }

  test("x6f: PQ rerank recovers the exact top-10; training beats the seed codebooks") {
    val got = Similarity.pqTopK(spark, sf).collect().map(_.getLong(0)).toSet
    val vecs = Tables.embeddings(spark, sf).select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong + 2000000L).toArray)
      .toMap
    def d2(a: Array[Long], b: Array[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact10 = vecs.collect { case (id, v) if id != 0L => (d2(v, vecs(0L)), id) }
      .toSeq.sorted.take(10).map(_._2).toSet
    val overlap = got.count(exact10).toDouble / 10.0
    assert(overlap >= 0.9, s"PQ shortlist+rerank overlap@10 = $overlap — shortlist too shallow")
    // Lloyd training must not be a no-op: corpus distortion under the
    // trained codebooks ≤ distortion under the raw vec_id<16 seeds
    val trained = Similarity.pqCodebooks(spark, sf)
    val seeds = vecs.toSeq.sortBy(_._1).take(16).map(_._2)
    val S = trained.length; val d = 64 / S
    def sub(v: Array[Long], s: Int) = v.slice(s * d, (s + 1) * d)
    def distortion(cb: (Int, Int) => Array[Long]) = vecs.values.map { v =>
      (0 until S).map(s => (0 until 16).map(c => d2(sub(v, s), cb(s, c))).min).sum
    }.sum
    val dTrained = distortion((s, c) => trained(s)(c))
    val dSeed = distortion((s, c) => sub(seeds(c), s))
    assert(dTrained <= dSeed, s"training increased distortion: $dTrained > $dSeed")
  }

  test("ivfPqAppend: incremental batches equal a full rebuild; replay is idempotent; cell still prunes") {
    val idx = graft.Tables.scratchDir("graft_ivfpq_inc_").toString
    val e = Tables.embeddings(spark, sf)
    val half = e.select(max(col("vec_id"))).head().getLong(0) / 2
    Similarity.ivfPqAppend(spark, sf, e.where(col("vec_id") <= half), idx, "b0")
    val combined = Similarity.ivfPqAppend(spark, sf, e.where(col("vec_id") > half), idx, "b1")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell"), col("codes"), col("u")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Int](2).toSeq, r.getSeq[Long](3).toSeq)))
      .toMap
    val full = rows(Similarity.ivfPqIndex(spark, sf))
    assert(rows(combined) == full,
      "frozen-quantizer incremental build diverged from the full rebuild")
    // replaying batch b1 (a retry) must clobber itself, not duplicate
    val replayed = Similarity.ivfPqAppend(spark, sf, e.where(col("vec_id") > half), idx, "b1")
    assert(rows(replayed) == full, "replayed batch duplicated or altered rows")
    // the nprobe filter still prunes at the directory level through the layers
    val plan = VersionedLayers.readAny(spark, idx).where(col("cell").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#"),
      s"cell filter did not reach PartitionFilters through the batch layer:\n$plan")
  }

  test("ivfCellDelete: clean cells keep their exact files, doomed rows leave dirty cells, " +
      "an all-doomed cell's dir is dropped, and a replay touches nothing") {
    val idxDir = graft.Tables.scratchDir("graft_x80_spec_").toString + "/idx"
    // cell 0 clean; cell 1 partially doomed; cell 2 fully doomed
    Seq((1L, 0, Seq(1f, 0f), 0), (2L, 0, Seq(0f, 1f), 0),
        (3L, 1, Seq(1f, 1f), 1), (4L, 1, Seq(1f, 2f), 1),
        (5L, 2, Seq(2f, 1f), 2))
      .toDF("vec_id", "label", "embedding", "cell")
      .write.partitionBy("cell").parquet(idxDir)
    def files(): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(idxDir), true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) { val s = it.next()
        if (s.getPath.getName.endsWith(".parquet"))
          b += s.getPath.toString -> ((s.getLen, s.getModificationTime)) }
      b.result()
    }
    val before = files()
    val tomb = col("vec_id").isin(4L, 5L)
    val dirty = Similarity.ivfCellDelete(spark, idxDir, tomb)
    assert(dirty == Seq(1, 2), s"dirty set: $dirty")
    val after = files()
    // the clean cell's files survive byte-identical (path+len+mtime)
    val cleanBefore = before.filter(_._1.contains("cell=0"))
    assert(cleanBefore.nonEmpty && cleanBefore.forall { case (p, m) => after.get(p).contains(m) },
      "clean cell 0's files were rewritten")
    // the all-doomed cell's directory is gone
    assert(!after.keys.exists(_.contains("cell=2")), "emptied cell 2 still has files")
    // surviving rows exactly
    val rows = spark.read.parquet(idxDir).select(col("vec_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rows == Set((1L, 0), (2L, 0), (3L, 1)))
    // replay: no doomed rows remain, so nothing may be touched
    assert(Similarity.ivfCellDelete(spark, idxDir, tomb).isEmpty)
    assert(files() == after, "a replayed delete with an empty dirty set rewrote files")
    // the key-table form (t20's micro-batch entry): deleting vec 3 by key
    // dirties only cell 1, and replaying the key batch touches nothing
    val keys = Seq(3L).toDF("vec_id")
    assert(Similarity.ivfCellDeleteKeys(spark, idxDir, keys) == Seq(1))
    assert(!spark.read.parquet(idxDir).select(col("vec_id"))
      .collect().map(_.getLong(0)).contains(3L))
    val afterKeys = files()
    assert(Similarity.ivfCellDeleteKeys(spark, idxDir, keys).isEmpty)
    assert(files() == afterKeys, "a replayed key batch rewrote files")
  }

  test("ivfPqLayerDeleteKeys: clean (batch, cell) leaves keep their exact files, an " +
      "all-doomed leaf drops, and a replay touches nothing") {
    val idxDir = graft.Tables.scratchDir("graft_x83_spec").toString + "/idx"
    // base layer: cell 0 clean, cell 1 partially doomed, cell 2 fully
    // doomed; grow layer: cell 0 partially doomed, cell 1 clean — the
    // same CELL is dirty in one layer and clean in the other, which is
    // exactly what the flat x80 swap cannot address
    publishLayers(idxDir,
      Seq(("base", 1L, 0), ("base", 2L, 0), ("base", 3L, 1), ("base", 4L, 1),
          ("base", 5L, 2), ("grow", 6L, 0), ("grow", 7L, 0), ("grow", 8L, 1))
        .toDF("batch", "vec_id", "cell"), Seq("cell"))
    def files(): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(idxDir), true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) { val s = it.next()
        if (s.getPath.getName.endsWith(".parquet"))
          b += s.getPath.toString -> ((s.getLen, s.getModificationTime)) }
      b.result()
    }
    def leaves(): Map[(String, Int), String] = VersionedLayers.layers(spark, idxDir)
      .map(l => (l.tag, l.cell.get) -> l.rel).toMap
    def rows(): Set[(String, Long, Int)] =
      VersionedLayers.readAny(spark, idxDir).select(col("batch"), col("vec_id"), col("cell"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val keys = Seq(4L, 5L, 6L).toDF("vec_id")
    val before = files()
    val leavesBefore = leaves()
    val dirty = Similarity.ivfPqLayerDeleteKeys(spark, idxDir, keys)
    assert(dirty == Seq(("base", 1), ("base", 2), ("grow", 0)), s"dirty: $dirty")
    val after = files()
    val leavesAfter = leaves()
    // clean leaves keep their store dirs and exact files — including cell
    // 0 of base and cell 1 of grow, the leaves sharing a CELL id with a
    // dirty leaf of the OTHER layer
    val cleanRels = Seq(("base", 0), ("grow", 1)).map(leavesBefore)
    assert(cleanRels == Seq(("base", 0), ("grow", 1)).map(leavesAfter),
      "a clean (batch, cell) leaf was re-genned")
    val clean = before.filter { case (p, _) => cleanRels.exists(r => p.contains(s"/$r/")) }
    assert(clean.nonEmpty && clean.forall { case (p, m) => after.get(p).contains(m) },
      "a clean (batch, cell) leaf was rewritten")
    // the all-doomed leaf leaves the manifest; its cell survives in the OTHER layer
    assert(!leavesAfter.contains(("base", 2)))
    assert(rows() == Set(("base", 1L, 0), ("base", 2L, 0), ("base", 3L, 1),
      ("grow", 7L, 0), ("grow", 8L, 1)))
    // replay: keys already absent → empty dirty set, nothing published
    assert(Similarity.ivfPqLayerDeleteKeys(spark, idxDir, keys).isEmpty)
    assert(files() == after && leaves() == leavesAfter,
      "a replayed layer delete rewrote files")
  }
  test("x83/x84: layered delete and one-pass upsert converge; no doomed id is retrievable; " +
      "the probe partition-prunes through the batch layer") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val deleted = rows(Similarity.ivfPqDeleteTopK(spark, sf))
    val upserted = rows(Similarity.ivfPqUpsertTopK(spark, sf))
    // two operational paths — delete-after-append vs upsert-in-one-pass —
    // must land on the same survivor index (the oracle then states both
    // equal the DuckDB retraining rebuild)
    assert(deleted == upserted, "x83 and x84 diverged on the same survivor set")
    val doomedIds = graft.Tables.embeddings(spark, sf)
      .where(Similarity.x80Tombstone).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(doomedIds.nonEmpty, "tombstone set empty — the delete leg is untested")
    assert(!deleted.exists(r => doomedIds(r._1)), "a deleted vector is still retrievable")
    // the maintained layered index still partition-prunes the probe's
    // nprobe cell restriction through the batch layer
    val plan = Similarity.ivfPqDeleteTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#"),
      s"x83 probe does not partition-prune the maintained index:\n$plan")
  }

  test("x85 compaction: probe-invariant re-layout; layers fold to one; crash drills restore or complete") {
    // row-level invariance at fixture scale: the compacted probe equals
    // x83's (same survivor set, one layer instead of two)
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(Similarity.ivfPqCompactTopK(spark, sf)) ==
      rows(Similarity.ivfPqDeleteTopK(spark, sf)),
      "compaction changed the probe result")
    // structural + crash drills on a hand-layered index
    def mk(): String = {
      val idx = graft.Tables.scratchDir("graft_x85_spec").toString + "/idx"
      publishLayers(idx,
        Seq(("base", 1L, 0), ("base", 2L, 1), ("grow", 3L, 0), ("grow", 4L, 2))
          .toDF("batch", "vec_id", "cell"), Seq("cell"))
      idx
    }
    def contents(idx: String): Set[(Long, Int)] =
      VersionedLayers.readAny(spark, idx).select(col("vec_id"), col("cell"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val all = Set((1L, 0), (2L, 1), (3L, 0), (4L, 2))
    val idx = mk()
    assert(Similarity.ivfPqCompactLayers(spark, idx, "c0") == 2)
    assert(tags(idx) == Seq("c0"), "layers did not fold to one")
    assert(contents(idx) == all, "compaction changed the row set")
    // idempotent re-entry: one layer → nothing to fold
    assert(Similarity.ivfPqCompactLayers(spark, idx, "c0") == 1)
    // drill 1 — death before the pointer move: the compacted store dir
    // and its manifest exist, but readers still see the prior version
    // intact; the re-run replaces the debris and completes
    val idx2 = mk()
    crashBeforePointerMove(idx2)(Similarity.ivfPqCompactLayers(spark, idx2, "c0"))
    assert(tags(idx2) == Seq("base", "grow") && contents(idx2) == all,
      "a crash before the pointer move did not leave the prior version")
    assert(Similarity.ivfPqCompactLayers(spark, idx2, "c0") == 2)
    assert(tags(idx2) == Seq("c0") && contents(idx2) == all,
      "the re-run after a pre-pointer crash did not complete")
    // drill 2 — death after the pointer move (before GC reclaimed the old
    // layers' dirs): re-entry folds nothing and doubles no vector
    assert(Similarity.ivfPqCompactLayers(spark, idx2, "c0") == 1)
    assert(contents(idx2) == all, "re-entry after a post-pointer crash changed rows")
  }
  test("x80: the maintained index's probe equals a rebuild from survivors under the frozen quantizer") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val maintained = rows(Similarity.ivfDeleteTopK(spark, sf))
    val rebuilt = rows(Similarity.ivfProbe(spark, sf,
      Similarity.ivfAssignment(spark, sf).where(!Similarity.x80Tombstone),
      queryId = 0L, k = 10, nprobe = 4))
    assert(maintained == rebuilt, "dirty-cell rewrite diverged from the survivor rebuild")
    // the fixture must exercise a genuine deletion: no tombstoned id in the
    // result, and the tombstone set is non-empty in the probed region
    val doomed = Similarity.ivfAssignment(spark, sf)
      .where(Similarity.x80Tombstone).count()
    assert(doomed > 0, "tombstone set empty — the delete leg is untested")
    val doomedIds = Similarity.ivfAssignment(spark, sf)
      .where(Similarity.x80Tombstone).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(!maintained.exists(r => doomedIds(r._1)), "a deleted vector is still retrievable")
    // the maintained copy is still a cell-partitioned index: the probe's
    // nprobe restriction must reach it as PartitionFilters, not a scan
    val plan = Similarity.ivfDeleteTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell#"),
      s"x80 probe does not partition-prune the maintained index:\n$plan")
  }

  test("x54 winnowing: a shared passage at MIS-ALIGNED offsets is found in both " +
    "docs, a unique doc reports zero, and the coverage invariants hold") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def s(alpha: String, n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    // 120-char passage ≥ spanLen + winnow + kGram − 2 = 86 (the detection
    // guarantee bound), embedded at offsets differing by 7 — NOT a
    // multiple of any stride, so fixed-position sampling would miss it;
    // content-defined anchors must not
    val passage = s("abcdefghij ", 120)
    val docs = Seq(
      (1L, s("klmnopqrst ", 40) + passage + s("klmnopqrst ", 30)),
      (2L, s("uvwxyz ", 47) + passage),
      (3L, s("0123456789 ", 200)))
    val dir = graft.Tables.scratchDir("graft_x54_").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.parquet(dir + "/documents.parquet")
    val r = operators.TextAnalysis.substringDup(spark, dir).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(4))).toMap
    assert(r(1L)._2 > 0, "doc 1 missed the mis-aligned shared passage")
    assert(r(2L)._2 > 0, "doc 2 missed the mis-aligned shared passage")
    assert(r(3L)._2 == 0, "unique doc reported shared spans")
    // covered chars cannot exceed the passage (plus nothing: the random
    // affixes share no 64-run) and must be positive on both carriers
    assert(r(1L)._3 > 0 && r(1L)._3 <= 120, s"doc 1 coverage ${r(1L)._3}")
    assert(r(2L)._3 > 0 && r(2L)._3 <= 120, s"doc 2 coverage ${r(2L)._3}")
    // both docs cover the SAME shared content length
    assert(r(1L)._3 == r(2L)._3, "asymmetric coverage of the same passage")
    // fixture-wide invariants: n_shared ≤ n_spans, covered ≤ doc length
    val fx = operators.TextAnalysis.substringDup(spark, sf).collect()
    assert(fx.forall(x => x.getLong(2) <= x.getLong(1)), "n_shared > n_spans")
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), org.apache.spark.sql.functions.length(col("text")))
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(fx.forall(x => x.getLong(4) <= lens(x.getLong(0))),
      "covered_chars exceeds doc length")
  }

  test("x56 substring clean: canonical doc keeps its copy, duplicates lose theirs, " +
    "untouched docs fingerprint identically to x10") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def s(alpha: String, n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val passage = s("abcdefghij ", 120)
    val docs = Seq(
      (1L, s("klmnopqrst ", 40) + passage + s("klmnopqrst ", 30)),
      (2L, s("uvwxyz ", 47) + passage),
      (3L, s("0123456789 ", 200)))
    val dir = graft.Tables.scratchDir("graft_x56_").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.parquet(dir + "/documents.parquet")
    val r = operators.TextAnalysis.substringClean(spark, dir).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // doc 1 holds every canonical (doc_id,p)-min span: it must keep its text
    assert(r(1L)._1 == r(1L)._2, s"canonical doc was cut: ${r(1L)}")
    // doc 2's copy of the passage is non-canonical: it must shrink
    assert(r(2L)._2 < r(2L)._1, "duplicate doc kept its repeated passage")
    // doc 3 shares nothing: untouched
    assert(r(3L)._1 == r(3L)._2, "unique doc was cut")
    // fixture-wide consistency: any doc x56 leaves untouched must carry
    // EXACTLY x10's full-text fingerprint (same rolling hash, same text)
    val fp = operators.TextAnalysis.fingerprint(spark, sf).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    val fx = operators.TextAnalysis.substringClean(spark, sf).collect()
    val untouched = fx.filter(x => x.getLong(1) == x.getLong(2))
    assert(untouched.nonEmpty)
    untouched.foreach(x =>
      assert(x.getLong(3) == fp(x.getLong(0)),
        s"untouched doc ${x.getLong(0)} clean_fp != x10 fp"))
    // and changed docs must NOT carry the original fingerprint
    fx.filter(x => x.getLong(1) != x.getLong(2)).foreach(x =>
      assert(x.getLong(3) != fp(x.getLong(0)),
        s"cut doc ${x.getLong(0)} kept the original fingerprint"))
  }

  test("analytic-window winnowing (differential oracle) == JVM spanIndex " +
    "on every fixture doc") {
    import org.apache.spark.sql.functions.col
    def byDoc(rows: Array[org.apache.spark.sql.Row]) = rows
      .groupBy(_.getLong(0))
      .map { case (d, rs) =>
        d -> rs.map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1).toSeq }
    // the shipped builder (JVM winnowing, disk-memoized)
    val batch = byDoc(operators.TextAnalysis.spanIndex(spark, sf).collect())
    // the independent declarative restatement: exploded k-gram positions +
    // struct-min analytic window
    val windowed = byDoc(operators.TextAnalysis.spanIndexWindowed(
      Tables.documents(spark, sf)).collect())
    // and the raw per-doc JVM function, driver-side
    val local = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        functions.TextFns.winnowSpansLocal(r.getString(1)).sortBy(_._1))
      .filter(_._2.nonEmpty).toMap
    assert(batch.nonEmpty)
    assert(batch.keySet == local.keySet && batch.keySet == windowed.keySet,
      "the three winnowing forms fingerprint different doc sets")
    batch.foreach { case (d, rows) =>
      assert(local(d) == rows, s"doc $d: JVM span rows diverge from the index")
      assert(windowed(d) == rows,
        s"doc $d: analytic-window oracle diverges from the shipped index")
    }
  }

  test("spanIndexAppend: incremental batches equal the full rebuild and a replay " +
    "clobbers itself") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val half = ids(ids.length / 2)
    val idx = graft.Tables.scratchDir("graft_subidx").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("p").cast("long"), col("h")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    operators.TextAnalysis.spanIndexAppend(spark, docs.where(col("doc_id") <= half), idx, "b1")
    val combined = operators.TextAnalysis.spanIndexAppend(
      spark, docs.where(col("doc_id") > half), idx, "b2")
    val full = rows(operators.TextAnalysis.spanIndex(spark, sf))
    assert(rows(combined) == full,
      "incremental span batches diverged from the full rebuild")
    val replayed = operators.TextAnalysis.spanIndexAppend(
      spark, docs.where(col("doc_id") <= half), idx, "b1")
    assert(rows(replayed) == full, "replayed batch duplicated or altered rows")
  }

  test("x58 substring contamination: a new doc quoting a prior doc is flagged, " +
    "a novel new doc is clean") {
    import spark.implicits._
    // the x16 bucket rule, replicated driver-side to choose doc ids
    def bucket(id: Long): Long =
      id.toString.foldLeft(0L)((a, c) => (a * 31 + c) % 1000000007L) % 10
    val priorId = (1L to 200L).find(bucket(_) <= 7).get
    val ids = (1L to 500L).filter(bucket(_) >= 8)
    val (quotingId, novelId) = (ids.head, ids(1))
    val rnd = new scala.util.Random(13)
    def s(alpha: String, n: Int) =
      (0 until n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val benchmark = s("abcdefghij ", 150) // the "benchmark answer" text
    val docs = Seq(
      (priorId, benchmark + s("klmnopqrst ", 50)),          // prior corpus
      (quotingId, s("uvwxyz ", 31) + benchmark),            // quotes it verbatim
      (novelId, s("0123456789 ", 200)))                     // genuinely novel
    val dir = graft.Tables.scratchDir("graft_x58_").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("t"))
      .withColumn("n_chars", org.apache.spark.sql.functions.length(col("text")))
      .write.parquet(dir + "/documents.parquet")
    val r = operators.TextAnalysis.substringContamination(spark, dir).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(!r.contains(priorId), "prior-bucket doc leaked into the new batch")
    assert(r(quotingId)._2 > 0, "verbatim quote of a prior doc went undetected")
    assert(r(novelId)._2 == 0, "novel doc reported contamination")
    assert(r.values.forall(v => v._2 <= v._1 && v._3 <= 1000000L))
  }

  test("x55 threshold curve: monotone in the threshold and consistent with x5 at 0.4") {
    val r = Dedup.cosineThresholdCurve(spark, sf).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.map(_._1).toSeq == (3 to 9).map(_ * 100000L), "threshold grid")
    // raising the threshold can only shrink the pair set and the doc set
    r.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._2 <= lo._2, s"n_pairs grew: $lo -> $hi")
      assert(hi._3 <= lo._3, s"n_docs grew: $lo -> $hi")
    }
    // the 0.4 row IS x5's pair count (same blocks, same rounded cosine)
    val x5Pairs = Dedup.embedCosine(spark, sf, 0.4).count()
    assert(r.find(_._1 == 400000L).get._2 == x5Pairs,
      "curve at 0.4 disagrees with x5_embed_neardup")
  }

  test("ANN: brute-force top-1 is the global max; IVF hits are ranked correctly") {
    val brute = Similarity.bruteTopK(spark, sf, 0L, 10).collect()
    assert(brute.length == 10)
    val cosines = brute.map(_.getDouble(2))
    assert(cosines.toSeq == cosines.sorted.reverse.toSeq)
    val ivf = Similarity.ivfTopK(spark, sf, 0L, 10, 4).collect()
    assert(ivf.length == 10)
    // IVF results must be a subset of the corpus ranked consistently
    val ivfCos = ivf.map(_.getDouble(2))
    assert(ivfCos.toSeq == ivfCos.sorted.reverse.toSeq)
  }

  test("x66 outliers: driver replica of the centroid distances confirms the top-5 per label") {
    val rows = Tables.embeddings(spark, sf).select($"vec_id", $"label", $"embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    def micro(a: Array[Float]): Array[Long] =
      a.map(x => math.floor(x.toDouble * 1e6 + 0.5).toLong)
    val expect = rows.groupBy(_._2).toSeq.flatMap { case (lab, vs) =>
      val ms = vs.map(v => (v._1, micro(v._3)))
      val n = ms.length
      val cent = Array.tabulate(64)(i =>
        math.floor(ms.map(_._2(i)).sum.toDouble / n + 0.5).toLong)
      ms.map { case (id, m) =>
        val dist = (0 until 64).map { i => val d = m(i) - cent(i); d * d }.sum
        (lab.toLong, id, dist)
      }.sortBy { case (_, id, dist) => (-dist, id) }.take(5).zipWithIndex
        .map { case ((l, id, dist), i) => (l, id, dist, i + 1L) }
    }.toSet
    val got = Similarity.embeddingOutliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect)
  }

  test("x68 snapshot diff: every status class on a hand-built snapshot pair") {
    val a = Seq((1L, "s0", "alpha"), (2L, "s0", "beta"), (3L, "s1", "gamma"))
      .toDF("doc_id", "source", "text")
    val b = Seq((1L, "s0", "alpha"),          // same
      (2L, "s0", "beta changed"),             // changed (+8 chars)
      (4L, "s1", "delta"))                    // added; doc 3 removed
      .toDF("doc_id", "source", "text")
    val got = Dedup.snapshotDiffOf(a, b).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      ("s0", "same") -> ((1L, 0L)), ("s0", "changed") -> ((1L, 8L)),
      ("s1", "added") -> ((1L, 5L)), ("s1", "removed") -> ((1L, -5L))))
    // the declared construction: statuses partition the bucket classes —
    // added+removed+changed+same counts must tile both snapshots exactly
    val fix = Dedup.snapshotDiff(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(2))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val n = Tables.documents(spark, sf).count()
    val bk = Tables.documents(spark, sf).select(
      pmod(graft.functions.TextFns.polyHash($"doc_id".cast("string")), lit(10L)).as("b"))
      .groupBy($"b").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fix.getOrElse("added", 0L) == bk.getOrElse(9L, 0L))
    assert(fix.getOrElse("removed", 0L) == bk.getOrElse(8L, 0L))
    assert(fix.getOrElse("changed", 0L) == bk.getOrElse(0L, 0L) + bk.getOrElse(1L, 0L))
    assert(fix.values.sum == n) // every doc appears in exactly one status
  }

  test("x67 token rarity: JVM replica over the hashed corpus-frequency table") {
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def toks(t: String): Array[String] =
      t.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    val occ = docs.flatMap { case (id, t) =>
      toks(t).map(w => (id, graft.functions.TextFns.polyHashLocal(w))) }
    val cf = occ.groupBy(_._2).map { case (h, o) => h -> o.length.toLong }
    val total = occ.length.toLong
    val expect = occ.groupBy(_._1).toSeq.map { case (id, os) =>
      val n = os.length.toLong
      val sumCf = os.map(o => cf(o._2)).sum
      val rare = os.count(o => cf(o._2) <= 2L).toLong
      (id, n, sumCf * 1000000L / (total * n), rare * 1000000L / n)
    }.toSet
    val got = graft.operators.TextAnalysis.tokenRarity(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == expect)
  }

  test("dedupIndexDeleteKeys: clean layers keep their exact files, never-kept keys are " +
      "no-ops, an all-doomed layer drops, and a replay touches nothing") {
    val idxDir = graft.Tables.scratchDir("graft_x86_spec").toString + "/idx"
    // prior layer: docs 1-3; fresh layer: docs 4-5 — fp values arbitrary
    // but distinct (the artifact invariant: one keeper per fp)
    publishLayers(idxDir,
      Seq(("prior", 10L, 1L), ("prior", 11L, 2L), ("prior", 12L, 3L),
          ("fresh", 13L, 4L), ("fresh", 14L, 5L))
        .toDF("batch", "fp", "doc_id"))
    def files(): Map[String, (Long, Long)] = {
      val fs = new org.apache.hadoop.fs.Path(idxDir)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(idxDir), true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) { val s = it.next()
        if (s.getPath.getName.endsWith(".parquet"))
          b += s.getPath.toString -> ((s.getLen, s.getModificationTime)) }
      b.result()
    }
    def rows(): Set[(String, Long, Long)] =
      VersionedLayers.readAny(spark, idxDir).select(col("batch"), col("fp"), col("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def rel(tag: String): Option[String] =
      VersionedLayers.layers(spark, idxDir).find(_.tag == tag).map(_.rel)
    // doc 2 dirties prior; 99 was never kept (ingest-time duplicate) — a
    // structural no-op that must not dirty anything
    val keys = Seq(2L, 99L).toDF("doc_id")
    val survivors = Set(("prior", 10L, 1L), ("prior", 12L, 3L),
      ("fresh", 13L, 4L), ("fresh", 14L, 5L))
    val before = files()
    val freshRel = rel("fresh").get
    assert(Dedup.dedupIndexDeleteKeys(spark, idxDir, keys) == Seq("prior"))
    val after = files()
    val clean = before.filter(_._1.contains(s"/$freshRel/"))
    assert(rel("fresh").contains(freshRel) && clean.nonEmpty &&
      clean.forall { case (p, m) => after.get(p).contains(m) },
      "the clean fresh layer was rewritten")
    assert(rows() == survivors)
    // replay: keys already absent → empty dirty set, no file touched
    assert(Dedup.dedupIndexDeleteKeys(spark, idxDir, keys).isEmpty)
    assert(files() == after, "a replayed delete rewrote files")
    // an all-doomed layer leaves the manifest entirely
    assert(Dedup.dedupIndexDeleteKeys(spark, idxDir, Seq(4L, 5L).toDF("doc_id"))
      == Seq("fresh"))
    assert(tags(idxDir) == Seq("prior"), "emptied fresh layer is still live")
    assert(rows() == survivors.filter(_._1 == "prior"))
  }
  test("dedup-index upsert: delete-first readmits an insert matching a deleted keeper; " +
      "same-batch cancels and in-batch keeper rule hold; batched folds legitimately " +
      "diverge from the one-shot where arrival order matters") {
    import spark.implicits._
    // an index every layer of which was emptied holds no layers at all
    def ids(idxDir: String): Set[Long] =
      VersionedLayers.read(spark, idxDir)(Seq.empty[Long].toDF("doc_id"))
        .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val idx = graft.Tables.scratchDir("graft_x87_spec").toString + "/idx"
    Dedup.dedupAgainstIndex(spark,
      Seq((1L, "aaa"), (2L, "bbb")).toDF("doc_id", "text"), idx, "s")
    // one pass: delete keeper 1 ("aaa") and cancel insert 6; inserts carry
    // a readmit of "aaa" (doc 3), a new text "ccc" kept by min-id (4 over
    // 5), and the cancelled doc 6
    Dedup.dedupIndexUpsertKeys(spark, idx,
      Seq((3L, "aaa"), (4L, "ccc"), (5L, "ccc"), (6L, "ddd"))
        .toDF("doc_id", "text"),
      Seq(1L, 6L).toDF("doc_id"), "b")
    assert(ids(idx) == Set(2L, 3L, 4L),
      s"upsert semantics broke: kept ${ids(idx)}")
    // ORDER SENSITIVITY (t23's contract): an insert rejected against a
    // keeper deleted only in a LATER batch stays dropped — N batched
    // folds are NOT the one-shot upsert, so t23's oracle restates the
    // per-batch fold instead of carrying x87's
    val twoStep = graft.Tables.scratchDir("graft_t23_div").toString + "/idx"
    Dedup.dedupAgainstIndex(spark, Seq((1L, "aaa")).toDF("doc_id", "text"),
      twoStep, "s")
    Dedup.dedupIndexUpsertKeys(spark, twoStep,
      Seq((10L, "aaa")).toDF("doc_id", "text"),
      spark.emptyDataset[Long].toDF("doc_id"), "b1") // rejected: 1 still holds "aaa"
    Dedup.dedupIndexUpsertKeys(spark, twoStep,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      Seq(1L).toDF("doc_id"), "b2")
    assert(ids(twoStep) == Set.empty[Long],
      "two-batch fold should have dropped 'aaa' entirely")
    val oneShot = graft.Tables.scratchDir("graft_t23_one").toString + "/idx"
    Dedup.dedupAgainstIndex(spark, Seq((1L, "aaa")).toDF("doc_id", "text"),
      oneShot, "s")
    Dedup.dedupIndexUpsertKeys(spark, oneShot,
      Seq((10L, "aaa")).toDF("doc_id", "text"), Seq(1L).toDF("doc_id"), "b")
    assert(ids(oneShot) == Set(10L), "one-shot upsert should readmit doc 10")
  }

  test("x89: deleting a keeper readmits its future NEAR-dups (pfx/sh legs), all three " +
      "sub-indexes dirty together, and x90's compaction changes nothing") {
    import spark.implicits._
    import graft.streaming.StreamingIngest
    val w = (1 to 12).map(i => s"w$i")
    val a = w.mkString(" ")               // 10 3-shingles
    val bTxt = (w :+ "w13").mkString(" ") // 11 shingles, J = 10/11 ≥ 0.8 vs a
    val c = (1 to 12).map(i => s"z$i").mkString(" ") // unrelated filler keeper
    def mk(tag: String): (String, String) = {
      val root = graft.Tables.scratchDir(s"graft_x89_spec_$tag").toString
      (root + "/idx", root + "/out")
    }
    def keptIds(idx: String): Set[Long] =
      VersionedLayers.readAny(spark, s"$idx/fp").select(col("doc_id"))
        .collect().map(_.getLong(0)).toSet
    // control: with keeper 1 alive, near-dup B is dropped
    val (idx1, out1) = mk("ctl")
    StreamingIngest.nearDedupIndexBatch(
      Seq((1L, a), (2L, c)).toDF("doc_id", "text"), "prior", idx1, out1)
    StreamingIngest.nearDedupIndexBatch(
      Seq((10L, bTxt)).toDF("doc_id", "text"), "fresh", idx1, out1)
    assert(keptIds(idx1) == Set(1L, 2L), "control: near-dup B should be dropped")
    // delete keeper 1 FIRST: B's candidate partner leaves pfx/sh, so the
    // same fresh batch now admits it — the leg x86/x87's fp-only fold
    // cannot witness
    val (idx2, out2) = mk("del")
    StreamingIngest.nearDedupIndexBatch(
      Seq((1L, a), (2L, c)).toDF("doc_id", "text"), "prior", idx2, out2)
    val dirty = Dedup.nearDedupIndexDeleteKeys(spark, idx2, Seq(1L).toDF("doc_id"))
    assert(dirty == Map("fp" -> Seq("prior"), "pfx" -> Seq("prior"),
      "sh" -> Seq("prior")), s"dirty: $dirty")
    Seq("fp", "pfx", "sh").foreach { sub =>
      assert(VersionedLayers.readAny(spark, s"$idx2/$sub")
        .where(col("doc_id") === 1L).count() == 0,
        s"$sub still holds the doomed keeper's rows")
    }
    StreamingIngest.nearDedupIndexBatch(
      Seq((10L, bTxt)).toDF("doc_id", "text"), "fresh", idx2, out2)
    assert(keptIds(idx2) == Set(2L, 10L),
      "B was not readmitted after its near-partner's deletion")
    // x90 == x89 at fixture scale: per-sub-index compaction is pure
    // re-layout (the oracle states the same cross-engine)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows(Dedup.nearDedupIndexCompact(spark, sf)) ==
      rows(Dedup.nearDedupIndexUpsert(spark, sf)),
      "near-dup index compaction changed the admission outcome")
  }

  test("x91: deleting a document's spans readmits future sharers of its passages; " +
      "x92: deleting a kept vector readmits its future ε-ball neighbors") {
    import spark.implicits._
    import graft.operators.{Similarity, TextAnalysis}
    import graft.streaming.StreamingIngest
    // --- x91: a 160-char passage shared ONLY between stored doc 1 and
    // fresh doc 10 (winnowing guarantees a common anchor well past
    // spanLen + winnow + kGram)
    val common = (1 to 40).map(i => f"p$i%02d").mkString // 160 chars
    val docA = common + " tail of the stored document, long enough"
    val docB = "fresh head text here " + common
    def spanFold(tag: String, deleteFirst: Boolean): Long = {
      val idx = graft.Tables.scratchDir(s"graft_x91_spec_$tag").toString + "/idx"
      TextAnalysis.spanIndexAppend(spark,
        Seq((1L, docA)).toDF("doc_id", "text"), idx, "prior")
      if (deleteFirst)
        Dedup.dedupIndexDeleteKeys(spark, idx, Seq(1L).toDF("doc_id"))
      val grown = TextAnalysis.spanIndexAppend(spark,
        Seq((10L, docB)).toDF("doc_id", "text"), idx, "novel")
      val prior = grown.where(col("batch") === "prior").select(col("h"))
      grown.where(col("batch") === "novel").select(col("h"))
        .join(prior, Seq("h"), "leftsemi").count()
    }
    assert(spanFold("ctl", deleteFirst = false) > 0,
      "control: the shared passage produced no shared span fingerprint")
    assert(spanFold("del", deleteFirst = true) == 0,
      "doc 1's spans still hit after its deletion")
    // --- x92: one-cell quantizer, stored keep v1; fresh v10 inside its
    // ε-ball (cosine ≈ 1 ≥ 0.4)
    val cents = Seq(Seq(1.0, 0.0))
    def vecs(rows: (Long, Seq[Float])*) = rows.toSeq
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    def semFold(tag: String, deleteFirst: Boolean): Set[Long] = {
      val root = graft.Tables.scratchDir(s"graft_x92_spec_$tag").toString
      val idx = root + "/idx"
      StreamingIngest.semanticDedupBatch(vecs(1L -> Seq(1f, 0f)),
        "prior", cents, idx, root + "/out", 0.4)
      if (deleteFirst)
        Dedup.dedupIndexDeleteKeys(spark, idx, Seq(1L).toDF("vec_id"),
          keyCol = "vec_id")
      StreamingIngest.semanticDedupBatch(vecs(10L -> Seq(0.99f, 0.01f)),
        "fresh", cents, idx, root + "/out", 0.4)
      VersionedLayers.readAny(spark, idx).select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
    }
    assert(semFold("ctl", deleteFirst = false) == Set(1L),
      "control: the ε-ball neighbor should have been dropped")
    assert(semFold("del", deleteFirst = true) == Set(10L),
      "v10 was not readmitted after its ε-ball partner's deletion")
  }

  test("x93: the append-folded Bloom index reaches x17's exact decision; merged layers " +
      "contain both halves' shingles") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graft.bridge
    // merged-union drill: a shingle present in only ONE layer must be
    // contained in the merged filter (no false negatives across layers)
    val idx = graft.Tables.scratchDir("graft_x93_spec").toString + "/idx"
    Dedup.bloomIndexAppend(spark,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"), idx, "b0")
    Dedup.bloomIndexAppend(spark,
      Seq((2L, "epsilon zeta eta theta")).toDF("doc_id", "text"), idx, "b1")
    val merged = Dedup.bloomIndexMerged(spark, idx)
    val probes = Seq((1L, "alpha beta gamma delta"),
      (2L, "epsilon zeta eta theta")).toDF("doc_id", "text")
      .select(col("doc_id"), explode(graft.functions.TextFns.shingleHashes(
        graft.functions.TextFns.tokens(col("text")), 3)).as("s"))
    val contained = probes.where(bridge.column(BloomFilterMightContain(
        Literal.create(merged, org.apache.spark.sql.types.BinaryType),
        bridge.expression(xxhash64(col("s"))))))
    assert(contained.count() == probes.count(),
      "a shingle from one layer is missing from the merged filter")
    // decision equality: the index-served pass equals the monolithic
    // Bloom pass (itself pinned ≡ x17 by the shared oracle)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(Dedup.bloomIndexDecontam(spark, sf)) ==
      rows(Dedup.contaminationBloom(spark, sf)),
      "the persisted Bloom index changed the decontamination decision")
  }

  test("x88: dedup-index compaction is content-invariant, folds layers to one on the " +
      "flat (no sub-partition) layout, and survives both crash windows") {
    import graft.operators.Maintenance
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // declared-query level: compaction after x86's history changes nothing
    assert(rows(Dedup.dedupIndexCompact(spark, sf)) ==
      rows(Dedup.dedupIndexDelete(spark, sf)),
      "compaction changed the index contents")
    // structural + crash drills on the FLAT layout (subPartition = empty —
    // the branch x85's cell-partitioned drills never exercise)
    def mk(): String = {
      val idx = graft.Tables.scratchDir("graft_x88_spec").toString + "/idx"
      publishLayers(idx, Seq(("prior", 10L, 1L), ("prior", 11L, 2L), ("fresh", 13L, 4L))
        .toDF("batch", "fp", "doc_id"))
      idx
    }
    def contents(idx: String): Set[(Long, Long)] =
      VersionedLayers.readAny(spark, idx).select(col("fp"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Set((10L, 1L), (11L, 2L), (13L, 4L))
    val idx = mk()
    assert(VersionedLayers.compactVersioned(spark, idx, "c0", Seq.empty)(identity) == 2)
    assert(tags(idx) == Seq("c0") && contents(idx) == all)
    assert(VersionedLayers.compactVersioned(spark, idx, "c0", Seq.empty)(identity) == 1)
    // drill 1 — death before the pointer move: the prior version reads
    // intact, then the re-run replaces the debris and completes
    val idx2 = mk()
    crashBeforePointerMove(idx2)(VersionedLayers.compactVersioned(spark, idx2, "c0", Seq.empty)(identity))
    assert(tags(idx2) == Seq("fresh", "prior") && contents(idx2) == all,
      "a crash before the pointer move did not leave the prior version")
    assert(VersionedLayers.compactVersioned(spark, idx2, "c0", Seq.empty)(identity) == 2)
    assert(tags(idx2) == Seq("c0") && contents(idx2) == all,
      "the re-run after a pre-pointer crash did not complete")
    // drill 2 — death after the pointer move: re-entry folds nothing and
    // doubles no fingerprint
    assert(VersionedLayers.compactVersioned(spark, idx2, "c0", Seq.empty)(identity) == 1)
    assert(contents(idx2) == all,
      "re-entry after a post-pointer crash changed rows")
  }
  test("x95 compactIfNeeded fires iff a threshold holds: layer-count and small-file " +
      "triggers, byte-identical no-op below, fired ≡ unconditional") {
    import org.apache.hadoop.fs.Path
    import graft.operators.Maintenance
    def mk(tag: String): String = {
      val idx = graft.Tables.scratchDir(s"graft_x95_spec_$tag").toString + "/idx"
      publishLayers(idx, Seq(("prior", 10L, 1L), ("prior", 11L, 2L), ("fresh", 13L, 4L))
        .toDF("batch", "fp", "doc_id"))
      idx
    }
    def files(idx: String): Map[String, (Long, Long)] = {
      val fs = new Path(idx).getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(new Path(idx), true)
      val b = Map.newBuilder[String, (Long, Long)]
      while (it.hasNext) { val s = it.next()
        if (!s.getPath.getName.startsWith("."))
          b += s.getPath.toString -> ((s.getLen, s.getModificationTime)) }
      b.result()
    }
    def rows(idx: String): Set[(Long, Long)] =
      VersionedLayers.readAny(spark, idx).select(col("fp"), col("doc_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = Set((10L, 1L), (11L, 2L), (13L, 4L))
    // BELOW both thresholds: no-op, artifact byte-identical (data files,
    // manifests and pointer)
    val idx1 = mk("below")
    val before = files(idx1)
    assert(!Maintenance.compactIfNeeded(spark, idx1, "c0", Seq.empty, maxLayers = 8))
    assert(files(idx1) == before, "a below-threshold policy touched the artifact")
    // layer-count trigger: fires, and the result equals the unconditional core
    assert(Maintenance.compactIfNeeded(spark, idx1, "c0", Seq.empty, maxLayers = 1))
    val idx2 = mk("uncond")
    VersionedLayers.compactVersioned(spark, idx2, "c0", Seq.empty)(identity)
    assert(rows(idx1) == rows(idx2) && rows(idx1) == all)
    assert(tags(idx1) == Seq("c0") && tags(idx2) == Seq("c0"))
    // one live layer NEVER fires, even under an absurd small-file bar
    assert(!Maintenance.compactIfNeeded(spark, idx1, "c1", Seq.empty,
      maxLayers = 1, minFileBytes = Long.MaxValue))
    // small-file trigger: 2 layers ≤ maxLayers, but KB-sized files under a
    // high byte bar → fires
    val idx3 = mk("small")
    assert(Maintenance.compactIfNeeded(spark, idx3, "c0", Seq.empty,
      maxLayers = 8, minFileBytes = 1L << 20))
    assert(rows(idx3) == all && tags(idx3) == Seq("c0"))
  }
  test("delete fold on an absent or fully-emptied index is a structural no-op, " +
      "never a schema-inference crash (ADVICE r14)") {
    val root = graft.Tables.scratchDir("graft_advfix1").toString
    // delete before ANY append: the dir does not exist yet
    assert(Dedup.dedupIndexDeleteKeys(spark, s"$root/idx",
      Seq(1L).toDF("doc_id")).isEmpty)
    // the layered (cell) fold, symmetrically
    assert(Similarity.ivfPqLayerDeleteKeys(spark, s"$root/never",
      Seq(1L).toDF("vec_id")).isEmpty)
    // a delete batch empties EVERY layer, then a second delete arrives —
    // the manifest now holds no layer; the next fold must no-op, not
    // crash (this is the t23/t24/t25 operational-loop path)
    VersionedLayers.publishLayer(spark, s"$root/idx", "only",
      Seq((10L, 1L)).toDF("fp", "doc_id"))
    assert(Dedup.dedupIndexDeleteKeys(spark, s"$root/idx",
      Seq(1L).toDF("doc_id")) == Seq("only"))
    assert(Dedup.dedupIndexDeleteKeys(spark, s"$root/idx",
      Seq(2L).toDF("doc_id")).isEmpty,
      "delete against an emptied index should be a no-op")
    // and a subsequent append + probe still works against the emptied index
    Dedup.dedupAgainstIndex(spark, Seq((7L, "zzz")).toDF("doc_id", "text"),
      s"$root/idx", "fresh")
    assert(VersionedLayers.readAny(spark, s"$root/idx").count() == 1)
  }
  test("x98 cluster-index upsert on a hand graph: splits, merges, fresh singletons, " +
      "readmission; the delta layer holds ONLY the touched region; a full replay " +
      "converges; the semantic compaction is view-invariant") {
    import graft.operators.Maintenance
    // stored graph: {1,2,3} via 1-2, 2-3 (label 1); {5,6} (label 5);
    // singletons 7, 8
    val dirs = Dedup.ClusterDirs(
      graft.Tables.scratchDir("graft_x98_spec").toString)
    val stored = Seq(1L, 2L, 3L, 5L, 6L, 7L, 8L).toDF("doc_id")
    val storedPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id1", "id2")
    Dedup.clusterIndexInit(spark, dirs, stored, storedPairs)
    def labels(): Map[Long, Long] = Dedup.readClusterLabels(spark, dirs.labelsDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels() == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      7L -> 7L, 8L -> 8L))
    // ONE upsert: delete 2 (splits {1,2,3} into {1} and {3}); insert
    // 10, 11, 12 with new pairs (3,10), (10,11) — 3's SPLIT remainder
    // merges with fresh docs — and (8,12) — a stored singleton merges;
    // cluster {5,6} and singleton 7 must be untouched
    val ins = Seq(10L, 11L, 12L).toDF("doc_id")
    val keys = Seq(2L).toDF("doc_id")
    val newPairs = Seq((3L, 10L), (10L, 11L), (8L, 12L)).toDF("id1", "id2")
    val out = Dedup.clusterIndexUpsert(spark, dirs, ins, keys, newPairs, "ops")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = Map(1L -> 1L, 3L -> 3L, 10L -> 3L, 11L -> 3L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 12L -> 8L)
    assert(out == expect, s"fold state: $out")
    // the delta layer is O(region): only the touched clusters' survivors,
    // the inserts, and the tombstone — never untouched docs 5/6/7
    val delta = VersionedLayers.readTags(spark, dirs.labelsDir, Set("ops"))
      .select(col("doc_id"), col("op")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(delta == Set((1L, "U"), (3L, "U"), (10L, "U"), (11L, "U"),
      (8L, "U"), (12L, "U"), (2L, "D")), s"delta layer: $delta")
    // edges incident to the doomed doc left the edge artifact
    val edges = VersionedLayers.readAny(spark, dirs.edgesDir)
      .select(col("id1"), col("id2")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges == Set((5L, 6L), (3L, 10L), (10L, 11L), (8L, 12L)))
    // full-batch replay (crash after everything but the checkpoint
    // commit): markerless convergence — same merged view, same delta
    Dedup.clusterIndexUpsert(spark, dirs, ins, keys, newPairs, "ops")
    assert(labels() == expect, "a full replay changed the labels")
    // the label store's SEMANTIC compaction: last-writer-wins collapse —
    // merged view invariant, tombstoned doc stays gone, one layer left
    assert(Maintenance.compactIfNeededWith(spark, dirs.labelsDir,
      "compacted", Seq.empty, maxLayers = 1)(
      Dedup.clusterLabelsCompactContent))
    assert(labels() == expect, "the label compaction changed the view")
    assert(tags(dirs.labelsDir) == Seq("compacted"))
    // and the NEXT fold works off the compacted store (sequence derivation
    // reads the kept rows' seq): delete 12 → 8 back to a singleton
    Dedup.clusterIndexUpsert(spark, dirs,
      spark.range(0).select(col("id").as("doc_id")),
      Seq(12L).toDF("doc_id"),
      spark.range(0).select(col("id").as("id1"), col("id").as("id2")), "ops2")
    assert(labels() == expect - 12L, "post-compaction fold diverged")
  }

  test("Bloom layer sizing params persist with the artifact and drift fails loudly, " +
      "naming the offending batch (ADVICE r14)") {
    import spark.implicits._
    val idx = graft.Tables.scratchDir("graft_advfix3").toString + "/idx"
    Dedup.bloomIndexAppend(spark,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"), idx, "b0")
    // params are IN the artifact
    val stored = VersionedLayers.readAny(spark, idx)
      .select(col("batch"), col("items"), col("bits")).collect()
    assert(stored.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq(("b0", 1000000L, 8000000L)))
    // an append with drifted sizing dies AT APPEND, naming the stored layer
    val eApp = intercept[IllegalArgumentException] {
      Dedup.bloomIndexAppend(spark,
        Seq((2L, "epsilon zeta eta theta")).toDF("doc_id", "text"), idx, "b1",
        items = 500L, bits = 4000L)
    }
    assert(eApp.getMessage.contains("batch=b0") &&
      eApp.getMessage.contains("merge-incompatible"), eApp.getMessage)
    // a same-tag RETRY with different params validates against OTHERS only
    Dedup.bloomIndexAppend(spark,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"), idx, "b0")
    // publish a drifted layer past the append check (simulating a
    // pre-validation writer): the merge names it instead of throwing a
    // blind IncompatibleMergeException
    val bf = org.apache.spark.util.sketch.BloomFilter.create(500L, 4000L)
    val bs = new java.io.ByteArrayOutputStream(); bf.writeTo(bs)
    VersionedLayers.publishLayer(spark, idx, "bad",
      Seq((bs.toByteArray, 500L, 4000L)).toDF("bf", "items", "bits"))
    val eMrg = intercept[IllegalArgumentException] {
      Dedup.bloomIndexMerged(spark, idx)
    }
    assert(eMrg.getMessage.contains("batch=bad") &&
      eMrg.getMessage.contains("batch=b0"), eMrg.getMessage)
  }
}
