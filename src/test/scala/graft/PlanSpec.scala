package graft

/** Physical-plan guardrails: the 100 TB design rules, enforced.
  *
  * Round 1's perf failures were all plan regressions (a BroadcastNestedLoop
  * join here, a single-partition Window there) that correctness tests can't
  * see. This spec walks every declared query's executed plan and rejects
  * the scale-killer operators outright, with a short allowlist for the
  * places they are provably bounded:
  *  - `x6c_centroid_matrix` is an all-pairs join *after* aggregation to
  *    ≤ n_clusters rows — quadratic in a constant, not in the data.
  * (`w4_ntile_rank` used to hold the one data-sized allowlist slot as the
  * exact-oracle global-window form; it now runs on the shared two-phase
  * row-number engine and plans clean — the retired form survives only as
  * `Relational.ntileRankGlobalWindow`, differentially pinned in spec.)
  */
class PlanSpec extends SparkSpec {

  // streaming queries execute on construction; exercise them anyway at sf0.001
  // x69b: the exact-audit denominator is DELIBERATELY all-pairs, but over
  // the vec_id < 65536 audit sample (structural bound, stated identically
  // in the oracle) — ≤ 64k² candidate pairs regardless of corpus size;
  // the production pass (x69) joins on cell and stays off this list.
  private val allowNestedLoop = Set("x6c_centroid_matrix", "x69b_semantic_blocking_recall")
  // x32: ungrouped global aggregate — the exchange carries ONE partial-agg
  // row per map partition (bounded metadata), never row data; the row
  // expansion happens before the partial agg, map-side.
  // a12: the ALL row unions per-category sketches — the exchange moves a
  // handful of KB-sized partial HLL sketches, the whole point of the op.
  // x29: the per-leg row_number windows and the full-outer RRF fusion run
  // AFTER each leg's corpus-scale TakeOrderedAndProject — the exchanges
  // carry ≤ 2×cand candidate rows of bounded metadata, never corpus data.
  // x64: the three per-step user counts are ungrouped aggregates over
  // already per-user-aggregated (shrinking) funnel tables — each exchange
  // carries one partial count row per partition, never event data.
  // x69b: ungrouped 3-integer rollup — the exchange carries one partial
  // count row per map partition over the bounded audit pair set.
  private val allowSinglePartition =
    Set("x32_column_profile", "a12_hll_sketch_union",
      "x29_hybrid_rrf", "x64_funnel_steps", "x69b_semantic_blocking_recall")

  test("no Cartesian product in any declared query") {
    // an allowlisted name no query declares would exempt nothing
    assert((allowNestedLoop ++ allowSinglePartition).subsetOf(SparkEntry.queries.keySet))
    for ((build, plans) <- PlanSpec.builds; (name, plan) <- plans)
      assert(!plan.contains("CartesianProduct"), s"$name ($build) plans a CartesianProduct")
  }

  test("no broadcast-nested-loop join outside the bounded allowlist") {
    for ((build, plans) <- PlanSpec.builds; (name, plan) <- plans)
      if (!allowNestedLoop.contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name ($build) plans a BroadcastNestedLoopJoin — quadratic at scale")
  }

  test("p8: predicates are pushed into the parquet scan") {
    PlanSpec.plansOf("p8_filter_project").foreach { plan =>
      assert(plan.contains("PushedFilters: ["), "no pushed filters on the scan")
      assert(plan.contains("LessThan(l_shipdate") || plan.contains("LessThan(l_discount")
        || plan.contains("GreaterThanOrEqual(l_discount"),
        "range predicates did not reach the scan")
    }
  }

  test("x6b: probe reads only the probed cells — PartitionFilters on the IVF index scan") {
    PlanSpec.plansOf("x6b_ann_ivf").foreach { plan =>
      // the cell-partitioned on-disk index is the point of IVF: the nprobe
      // cell filter must prune directories at the scan, not post-filter a
      // full read (or a session-cached InMemoryRelation of every cell)
      assert(plan.contains("PartitionFilters: [cell#"),
        s"cell probe did not reach the partition filters:\n$plan")
      assert(!plan.contains("InMemoryTableScan"),
        "IVF index must be read partition-pruned from disk, not via a full cached relation")
    }
  }

  test("x76/x77: maintenance cuts reach the landed scan as PARTITION filters") {
    // the maintained view's source is landed day-partitioned precisely so
    // the delta cut (x76) and the dirty-bucket max re-derivation (x77)
    // prune directories instead of reading history — the VERDICT r12 ask
    // (the raw fixture's nanos-as-long ts admits no pushdown at all)
    def partitionFilterSegs(plan: String): Seq[String] =
      "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq
    PlanSpec.plansOf("x76_agg_delta_merge").foreach { p76 =>
      assert(partitionFilterSegs(p76).exists(s => s.contains("logday") && s.contains(">=")),
        s"x76 delta cut did not reach the partition filters:\n$p76")
    }
    PlanSpec.plansOf("x77_agg_retract_merge").foreach { p77 =>
      assert(partitionFilterSegs(p77).exists(_.contains("logday")),
        s"x77 max re-derivation scan is not day-pruned:\n$p77")
    }
  }

  test("x6g: IVF-PQ probe is partition-pruned AND reads stored codes, not embeddings") {
    PlanSpec.plansOf("x6g_ivfpq_topk").foreach { plan =>
      assert(plan.contains("PartitionFilters: [cell#"),
        s"cell probe did not reach the partition filters:\n$plan")
      assert(!plan.contains("InMemoryTableScan"),
        "IVF-PQ index must be read partition-pruned from disk")
      // ADC must rank from the 16 B codes column of the index — if the scan
      // pulls `embedding`, the query is re-encoding instead of reading codes
      assert(!plan.contains("embedding#"),
        "x6g scan reads the raw embedding column — codes are stored precisely to avoid that")
    }
  }

  test("s8: correlated subqueries decorrelate into semi/anti/aggregate joins") {
    PlanSpec.plansOf("s8_subquery_filter").foreach { plan =>
      // EXISTS → left-semi, NOT IN → (null-aware) left-anti; the correlated
      // scalar pair arrives as pre-aggregated per-nation legs joined back —
      // no per-row subquery re-execution survives optimization
      assert(plan.contains("LeftSemi"), "EXISTS did not become a semi join")
      assert(plan.contains("LeftAnti"), "NOT IN did not become an anti join")
      assert(plan.contains("HashAggregate"),
        "scalar subqueries did not become aggregate join legs")
    }
  }

  test("s9: LATERAL LIMIT decorrelates to WindowGroupLimit, no per-group re-execution") {
    PlanSpec.plansOf("s9_lateral_topk").foreach { plan =>
      assert(plan.contains("WindowGroupLimit"),
        "lateral top-k did not rewrite to the group-limit pushdown")
    }
  }

  test("x53: domain cap prunes map-side — WindowGroupLimit below AND above the exchange") {
    PlanSpec.plansOf("x53_domain_cap").foreach { plan =>
      val partialThenFinal = plan.split("Exchange hashpartitioning", 2) match {
        case Array(after, before) =>
          after.contains("WindowGroupLimit") && before.contains("WindowGroupLimit")
        case _ => false
      }
      assert(partialThenFinal,
        "per-domain cap must group-limit on both sides of the shuffle " +
          "(post-shuffle volume O(domains*cap), not O(corpus))")
    }
  }

  test("x66: outlier rank prunes map-side and the centroid table broadcasts") {
    PlanSpec.plansOf("x66_embedding_outliers").foreach { plan =>
      assert(plan.contains("WindowGroupLimit") &&
        plan.indexOf("WindowGroupLimit") != plan.lastIndexOf("WindowGroupLimit"),
        "per-label top-N must group-limit on both sides of the shuffle")
      assert(plan.contains("BroadcastHashJoin"),
        "the |labels|-row centroid table must broadcast, not shuffle the corpus")
    }
  }

  test("x68: snapshot diff joins fingerprints, never text, across the exchange") {
    PlanSpec.plansOf("x68_snapshot_diff").foreach { plan =>
      assert(plan.contains("FullOuter"), "diff must be one full-outer join on doc_id")
      // the fingerprint projection must sit BELOW the join's exchanges: after
      // the first Exchange hashpartitioning(doc_id...) line, the scan-side
      // subtrees still contain graft_polyhash projections (fp computed
      // map-side), and the join itself compares fp columns, not text
      val joinIdx = plan.indexOf("FullOuter")
      assert(plan.indexOf("graft_polyhash", joinIdx) > 0,
        "fingerprints must be computed below the join, on the scan side")
    }
  }

  test("x69: the semantic-dedup pair join is an equi-join keyed on the quantizer cell") {
    PlanSpec.plansOf("x69_semantic_dedup").foreach { plan =>
      // the all-pairs term must be confined to a cell: the join prints its
      // equi keys first, and they must be the cell column (the id inequality
      // rides along as a post-condition, never as the join itself)
      assert("""(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)(\w*\s)*\[cell""".r
        .findFirstIn(plan).isDefined,
        s"pair join must be keyed on cell:\n$plan")
    }
  }

  test("top-k queries plan TakeOrderedAndProject, not a global sort") {
    Seq("s1_topk", "x6_ann_cosine_topk", "x20_bm25_topk").foreach { name =>
      PlanSpec.plansOf(name).foreach { plan =>
        assert(plan.contains("TakeOrderedAndProject"), s"$name lacks TakeOrderedAndProject")
      }
    }
  }

  test("star join broadcasts every dimension") {
    PlanSpec.plansOf("j6_star_join").foreach { plan =>
      val nBroadcasts = "BroadcastExchange".r.findAllIn(plan).length
      assert(nBroadcasts >= 3, s"expected >=3 broadcast dims, saw $nBroadcasts")
    }
  }

  test("j8b: purchase filter is pushed through the custom as-of node into the scan") {
    PlanSpec.plansOf("j8b_asof_native").foreach { plan =>
      assert(plan.contains("AsOfJoin"), "native as-of operator not planned")
      // the injected PushFilterThroughAsOf rule + builtin pushdown must land
      // the left predicate in the parquet scan, not above the join
      assert(plan.contains("EqualTo(event_type,purchase)"),
        "purchase filter did not reach the left scan through the custom node")
    }
  }

  test("j12: bucketed join runs with no shuffle below the join") {
    val df = SparkEntry.queries("j12_bucket_join")(spark, sf)
    // AQE wraps the plan in AdaptiveSparkPlanExec, whose collect() does not
    // descend into the wrapped plan — unwrap to the pre-adaptive physical
    // plan (bucketed-scan co-location is decided there; AQE never adds an
    // exchange where none was planned)
    val executed = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    // find the sort-merge join node; nothing under it may be an Exchange —
    // the bucketed scans feed it co-located (the whole point of j12)
    val smj = executed.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, "j12 did not plan a SortMergeJoin")
    smj.foreach { j =>
      val shuffles = j.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty,
        s"bucket join shuffles below the join:\n${j.toString.take(2000)}")
    }
  }

  test("landed partitioned table joined to a filtered dim plans dynamic partition pruning") {
    import org.apache.spark.sql.functions._
    // land at day grain (the compaction-policy grain — bounded partition
    // count), then join on the partition column with a selective dim:
    // Spark must inject a dynamicpruning subquery into the fact scan so
    // only the dim's surviving days are read — THE mechanism that turns a
    // 100 TB partitioned landing zone into a 3-partition read.
    val out = graft.Tables.scratchDir("graft_dpp_").toString
    graft.operators.Ingest.enriched(spark, sf)
      .withColumn("logday", substring(col("logdate"), 1, 8))
      .write.mode("overwrite").partitionBy("logday").orc(out)
    val fact = spark.read.orc(out)
    val dimPath = graft.Tables.scratchDir("graft_dpp_dim_").toString
    fact.select(col("logday")).distinct().orderBy(col("logday")).limit(3)
      .withColumn("keep", lit(1)).write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
    val q = fact.join(dim.where(col("keep") === 1), "logday")
      .groupBy(col("logday")).agg(count(lit(1)).as("n"))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no dynamic partition pruning on the fact scan:\n${plan.take(1500)}")
  }

  test("AQE splits a genuinely skewed SMJ partition at runtime (skew=true); result unchanged") {
    import org.apache.spark.sql.functions._
    // The engine-managed complement to j11's manual salting: on a cluster
    // the production default for skew is AQE's runtime skew-join split —
    // it measures shuffled partition sizes after the map stage and reads
    // an oversized partition as several parallel sub-joins (replicating
    // the matching build partition). The fixtures are deliberately
    // uniform, so this exhibit constructs real skew: one monster key
    // carrying 100k rows against 2k uniform keys of 25.
    val dir = graft.Tables.scratchDir("graft_skew_").toString
    // xxhash64 values keep the shuffle bytes incompressible, so the
    // monster partition's measured size reflects its row count
    spark.range(100000).select(lit(7L).as("k"), xxhash64(col("id")).as("v"))
      .union(spark.range(50000).select((col("id") % 2000 + 100L).as("k"), xxhash64(col("id")).as("v")))
      .write.parquet(s"$dir/fact")
    spark.range(2200).select(col("id").as("k"), (col("id") * 3).as("w"))
      .write.parquet(s"$dir/dim")
    val scoped = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.5",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "131072",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536",
      // force the SMJ path: a broadcast dim would bypass the machinery
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val prev = scoped.map { case (c, _) => c -> spark.conf.getOption(c) }
    // the downstream aggregate deliberately keys on v (NOT the join key):
    // grouping on k could reuse the join's hash partitioning, and AQE
    // declines a skew split that would force an extra exchange — grouping
    // on v needs its own shuffle either way, so the split is free
    def agg() = spark.read.parquet(s"$dir/fact")
      .join(spark.read.parquet(s"$dir/dim"), "k")
      .groupBy(pmod(col("v"), lit(17L)).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(pmod(col("v"), lit(1000003L)) + col("w")).as("s"))
    try {
      scoped.foreach { case (c, v) => spark.conf.set(c, v) }
      val q = agg()
      val withSkew = q.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not flag the skewed join:\n${plan.take(1500)}")
      // the skew machinery must be invisible in the answer
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val baseline = agg().collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(withSkew == baseline, "skew-split join changed the result")
    } finally prev.foreach {
      case (c, Some(v)) => spark.conf.set(c, v)
      case (c, None) => spark.conf.unset(c)
    }
  }

  test("no single-partition exchange outside the documented exact form") {
    for ((build, plans) <- PlanSpec.builds; (name, plan) <- plans)
      if (!allowSinglePartition.contains(name))
        assert(!plan.contains("Exchange SinglePartition"),
          s"$name ($build) moves all data to one partition")
  }
}

object PlanSpec {
  /** Every declared query's executed-plan string, each query built once
    * per map and shared by the all-query guardrails and the per-query
    * plan tests. Building runs a query's streaming queries and eager
    * folds, so rebuilding every query per guardrail cost a third of the
    * suite. */
  private def build(): Map[String, String] = SparkEntry.queries.map { case (name, fn) =>
    name -> fn(SparkSpec.spark, SparkSpec.sf).queryExecution.executedPlan.toString
  }

  /** The first build in this session, over whatever index caches the
    * specs before it left. */
  lazy val cold: Map[String, String] = build()

  /** A second build over the caches the cold build warmed. Its plan
    * strings differ from the cold ones for some queries (the order of
    * distinct-aggregate groups, lambda numbering, temp paths), so a plan
    * that changes with the cache state is checked in both states. */
  lazy val warm: Map[String, String] = { cold; build() }

  def builds: Seq[(String, Map[String, String])] = Seq("cold" -> cold, "warm" -> warm)

  /** Both builds' plans of one query. */
  def plansOf(name: String): Seq[String] = builds.map(_._2(name))
}
