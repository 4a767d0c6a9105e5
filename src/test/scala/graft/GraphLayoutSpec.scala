package graft

import graft.operators.{Counters, Graphs, Layout, Profile, Relational}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Round-5 operators: iterative PageRank (x31), native CountMax UDAF (a11),
  * SCD-2 intervals (j13), column profiling (x32), Z-order layout (x33). */
class GraphLayoutSpec extends SparkSpec {

  test("x31: pagerank conserves mass and is deterministic across runs") {
    val r = Graphs.pagerank(spark, sf, iters = 5).collect()
    val nodes = Tables.events(spark, sf).select(col("event_type")).distinct().count()
    assert(r.length == nodes, "one rank row per node")
    // fixed-point floor divisions only LOSE mass, bounded by a few units of
    // 1e-12 per node per round; total must stay within that of 1.0
    val total = r.map(_.getLong(1)).sum
    assert(total <= Graphs.Scale && total > Graphs.Scale - 1000L * nodes,
      s"rank mass $total strayed from ${Graphs.Scale}")
    val again = Graphs.pagerank(spark, sf, iters = 5).collect()
    assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq ==
      again.map(x => (x.getString(0), x.getLong(1))).toSeq, "non-deterministic ranks")
  }

  test("x31: more iterations move ranks toward the fixpoint (deltas shrink)") {
    def ranks(n: Int) = Graphs.pagerank(spark, sf, iters = n).collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    val (r4, r8, r12) = (ranks(4), ranks(8), ranks(12))
    def delta(a: Map[String, Long], b: Map[String, Long]) =
      a.map { case (k, v) => math.abs(v - b(k)) }.sum
    assert(delta(r8, r12) <= delta(r4, r8),
      "power iteration diverging: later rounds changed ranks more than earlier ones")
  }

  test("a11: fused CountMax equals separate count/max under partial merge (TimedUtils.scala:40-56)") {
    import org.apache.spark.sql.graft.bridge
    val e = Tables.events(spark, sf).repartition(7, col("event_id")) // force multi-partition merge
    val cm = bridge.column(
      expressions.CountMax(bridge.expression(col("ts"))).toAggregateExpression()).as("cm")
    // `r.get`, not `getTimestamp`: tolerant of the ts column surfacing as
    // TIMESTAMP or TIMESTAMP_NTZ (LocalDateTime) — both sides of the
    // comparison come from the same session, so equality is well-defined
    val fused = e.groupBy(col("event_type")).agg(cm)
      .select(col("event_type"), col("cm.cnt"), col("cm.max_ts")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet
    val sep = e.groupBy(col("event_type"))
      .agg(count(col("ts")).as("c"), max(col("ts")).as("m")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.get(2))).toSet
    assert(fused == sep)
  }

  test("a11: graft_count_max is callable from SQL via GraftExtensions") {
    Tables.events(spark, sf).createOrReplaceTempView("ev_cm")
    val r = spark.sql(
      "SELECT graft_count_max(user_id) AS cm FROM ev_cm").select(col("cm.cnt"), col("cm.max_ts"))
      .collect().head
    assert(r.getLong(0) == Tables.events(spark, sf).where(col("user_id").isNotNull).count())
  }

  test("a11: empty group evaluates to (0, null)") {
    import org.apache.spark.sql.graft.bridge
    val cm = bridge.column(
      expressions.CountMax(bridge.expression(col("x"))).toAggregateExpression()).as("cm")
    val r = spark.range(0).selectExpr("id AS x").agg(cm)
      .select(col("cm.cnt"), col("cm.max_ts")).collect().head
    assert(r.getLong(0) == 0L && r.isNullAt(1))
  }

  /** logdate → (cnt, max) from a `map<string, struct<cnt, max>>` value. */
  private def keyedCountMaxOf(m: scala.collection.Map[String, org.apache.spark.sql.Row]) =
    m.map { case (k, r) => k -> (r.getLong(0), Option(r.get(1))) }.toMap

  private def keyedCountMaxCol(key: Column, value: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(expressions.KeyedCountMax(bridge.expression(key), bridge.expression(value))
      .toAggregateExpression()).as("kcm")
  }

  /** Events keyed by logdate, with a null epoch on every 13th row; 7 input
    * partitions force partial buffers through serialize/merge. */
  private def keyedInput = Tables.events(spark, sf).repartition(7, col("event_id"))
    .select(graft.functions.Times.logdate(col("ts")).as("k"),
      when(col("event_id") % 13 === 0, lit(null).cast("long"))
        .otherwise(graft.functions.Times.epochSeconds(col("ts"))).as("v"))

  private def groupByTruth(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("k")).agg(count(lit(1)), max(col("v"))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), Option(r.get(2)))).toMap

  test("a11: keyed CountMax equals groupBy(key).agg(count, max) under partial merge") {
    val in = keyedInput
    assert(in.rdd.getNumPartitions >= 4)
    val got = keyedCountMaxOf(in.agg(keyedCountMaxCol(col("k"), col("v")))
      .collect().head.getMap[String, org.apache.spark.sql.Row](0))
    val truth = groupByTruth(in)
    assert(truth.size > 1 && got == truth)
  }

  test("a11: keyed CountMax holds as an observe metric on a file write; empty input is an empty map") {
    val in = keyedInput
    val obs = org.apache.spark.sql.Observation()
    in.observe(obs, keyedCountMaxCol(col("k"), col("v")))
      .write.mode("overwrite").orc(Tables.scratchDir("graft_kcm_obs").toString)
    val got = keyedCountMaxOf(
      obs.get("kcm").asInstanceOf[scala.collection.Map[String, org.apache.spark.sql.Row]])
    assert(got == groupByTruth(in))
    val empty = in.where(lit(false)).agg(keyedCountMaxCol(col("k"), col("v"))).collect().head
    assert(empty.getMap[String, org.apache.spark.sql.Row](0).isEmpty)
  }

  test("j13: SCD2 intervals tile each customer's history exactly once") {
    val iv = Relational.scd2Priority(spark, sf).collect()
    val byCust = iv.groupBy(_.getLong(0))
    byCust.foreach { case (cust, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      // versions are 1..k dense
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq, s"cust $cust versions not dense")
      // exactly one open (current) interval, and it is the last
      assert(sorted.count(_.isNullAt(4)) == 1 && sorted.last.isNullAt(4), s"cust $cust current-row violation")
      // each interval closes exactly where the next opens; starts are
      // non-decreasing (two changes on ONE date yield a zero-length
      // version — the standard SCD2 artifact at day-grain change logs)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getLong(4) == b.getLong(3), s"cust $cust gap/overlap between versions")
          assert(a.getLong(3) <= b.getLong(3), s"cust $cust starts decreasing")
        case _ => ()
      }
      // consecutive intervals carry different priorities (runs were collapsed)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getString(2) != b.getString(2), s"cust $cust uncollapsed run")
        case _ => ()
      }
    }
  }

  test("j14: every fact resolves to the dim version whose interval contains its ship time") {
    val dim = Relational.scd2Priority(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(3), if (r.isNullAt(4)) Long.MaxValue else r.getLong(4)))).toMap
    val rows = Relational.temporalDimJoin(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (cust, ship, ver) = (r.getLong(2), r.getLong(3), r.getLong(5))
      val (from, to) = dim((cust, ver))
      // zero-length versions (same-day changes) can never contain a ship
      // time; the join picks the LATEST version starting at that instant,
      // so from <= ship always, and ship < to except when a later
      // same-instant version supersedes (then to == from <= ship).
      assert(from <= ship, s"cust $cust v$ver: interval starts after ship")
      assert(ship < to || to == from, s"cust $cust v$ver: ship past interval end")
    }
  }

  test("x32: profile metrics agree with direct queries") {
    val p = Profile.columnProfile(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val n = Tables.documents(spark, sf).count()
    assert(p("doc_id").getLong(1) == n && p("doc_id").getLong(3) == n,
      "doc_id: n_rows / n_distinct must equal table count")
    val langs = Tables.documents(spark, sf).select(col("lang")).distinct().count()
    assert(p("lang").getLong(3) == langs)
    assert(p("n_chars").getString(4).toLong <= p("n_chars").getString(5).toLong)
  }

  test("x35: quantization error is bounded by half a code step per component") {
    import graft.operators.Similarity
    val rows = Similarity.embedQuantize(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mn, mx, err) = (r.getDouble(1), r.getDouble(2), r.getDouble(4))
      val step = (if (mx == mn) 1.0 else mx - mn) / 255.0
      // mean |x - dequant(x)| can never exceed the worst per-component
      // bound of half a step (+ rounding slack from the 6dp projections)
      assert(err <= step / 2 + 1e-5, s"vec ${r.getLong(0)}: err $err > ${step / 2}")
    }
  }

  test("x6e: SQ8 ranking matches a driver-side reimplementation and honors the quantization bound") {
    import graft.operators.Similarity
    val res = Similarity.sq8TopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val dim = vecs.values.head.length
    val mn = Array.tabulate(dim)(d => vecs.values.map(_(d)).min)
    val span = Array.tabulate(dim) { d =>
      val s = vecs.values.map(_(d)).max - mn(d); if (s == 0.0) 1.0 else s
    }
    def codes(v: Array[Double]) =
      Array.tabulate(dim)(d => math.floor((v(d) - mn(d)) / span(d) * 255 + 0.5).toLong)
    vecs.values.foreach(v => assert(codes(v).forall(c => c >= 0 && c <= 255),
      "a trained-range code escaped [0,255]"))
    val probe = codes(vecs(0L))
    val all = vecs.collect { case (id, v) if id != 0L =>
      id -> codes(v).zip(probe).map { case (a, b) => math.abs(a - b) }.sum
    }
    assert(res == all.toSeq.sortBy { case (id, d) => (d, id) }.take(10),
      "engine top-10 diverged from the independent SQ8 reimplementation")
    // analytic bound: two half-step quantization errors per dimension, so the
    // code distance mapped back to value units strays from the float L1 by
    // at most one step per dimension
    res.foreach { case (id, l1) =>
      val scaled = codes(vecs(id)).zip(probe).zipWithIndex
        .map { case ((a, b), d) => math.abs(a - b) * span(d) / 255.0 }.sum
      val floatL1 = vecs(id).zip(vecs(0L)).map { case (a, b) => math.abs(a - b) }.sum
      val bound = span.map(_ / 255.0).sum
      assert(math.abs(scaled - floatL1) <= bound + 1e-9,
        s"vec $id: |$scaled - $floatL1| exceeds the per-dim step budget $bound")
      assert(l1 == codes(vecs(id)).zip(probe).map { case (a, b) => math.abs(a - b) }.sum)
    }
  }

  test("x33: every z-file confines both dimensions to a 16-bucket range") {
    Layout.zorderLayout(spark, sf).collect().foreach { r =>
      assert(r.getLong(3) - r.getLong(2) <= 15, s"zfile ${r.getLong(0)} bx span too wide")
      assert(r.getLong(5) - r.getLong(4) <= 15, s"zfile ${r.getLong(0)} by span too wide")
    }
  }

  test("x31: dangling graph matches the integer update rule with no per-round driver action") {
    import java.sql.Timestamp
    import spark.implicits._
    // u1: A,B,C; u2: B,A,C; u3: A,<null>,D — C and D never appear as a
    // source (dangling), and the NULL event is skipped on both engine and
    // oracle (pinned isNotNull), so u3 contributes the single edge A→D
    val rows = Seq(
      (1L, 1L, "A"), (2L, 1L, "B"), (3L, 1L, "C"),
      (4L, 2L, "B"), (5L, 2L, "A"), (6L, 2L, "C"),
      (7L, 3L, "A"), (8L, 3L, null), (9L, 3L, "D"))
    val dir = graft.Tables.scratchDir("graft_dangling_").toString
    rows.map { case (id, u, t) =>
      (id, new Timestamp(1700000000000L + id * 1000L), u, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$dir/events.parquet")

    // independent simulation of the fixed-point update (Scaladoc rule);
    // Scala Long division == floor for the nonnegative values involved
    val edges = Map(("A", "B") -> 1L, ("B", "C") -> 1L, ("B", "A") -> 1L,
      ("A", "C") -> 1L, ("A", "D") -> 1L)
    val nodes = Seq("A", "B", "C", "D")
    def simulate(iters: Int): Map[String, Long] = {
      val outw = edges.groupBy(_._1._1).map { case (s, es) => s -> es.values.sum }
      val n = nodes.length
      val base = (15L * Graphs.Scale) / (100L * n)
      var rank = nodes.map(_ -> Graphs.Scale / n).toMap
      for (_ <- 1 to iters) {
        val dm = nodes.filterNot(outw.contains).map(rank).sum
        val contrib = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        for (((s, d), w) <- edges) contrib(d) += rank(s) * w / outw(s)
        rank = nodes.map(v => v -> (base + (85L * (contrib(v) + dm / n)) / 100L)).toMap
      }
      rank
    }
    // sanity: the fixture IS dangling
    val danglingNodes = nodes.filterNot(n => edges.keys.exists(_._1 == n))
    assert(danglingNodes == Seq("C", "D"), "fixture must contain dangling nodes")

    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        val r = Graphs.pagerank(spark, dir, iters = 6).collect()
          .map(x => (x.getString(0), x.getLong(1))).toMap
        Thread.sleep(500) // let the async listener bus drain
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(got == simulate(6), s"dangling ranks diverged: $got vs ${simulate(6)}")
    // no per-round driver action: jobs are the fixed setup reads plus the
    // every-2nd-round snapshots (each a multi-job AQE cascade of stage +
    // broadcast materializations — ~57 observed for 6 rounds). The old
    // per-round dm.head() forced one snapshot per round, roughly doubling
    // that; 80 trips on eager-evaluation regressions while absorbing AQE
    // job-count wobble
    assert(jobs <= 80, s"pagerank launched $jobs jobs for 6 rounds")
  }

  test("x31/x33: empty inputs yield empty results, not failures") {
    val dir = graft.Tables.scratchDir("graft_empty_").toString
    Tables.events(spark, sf).limit(0).write.parquet(s"$dir/events.parquet")
    Tables.lineitem(spark, sf).limit(0).write.parquet(s"$dir/lineitem.parquet")
    assert(Graphs.pagerank(spark, dir, 3).count() == 0)
    assert(Layout.zorderLayout(spark, dir).count() == 0)
  }

  test("a12: sketch union equals the direct whole-table sketch, within HLL error of exact") {
    val r = Counters.hllSketchUsers(spark, sf).collect()
      .map(x => (x.getString(0), x.getLong(1))).toMap
    // union-associativity: merging per-category sketches must give the SAME
    // estimate as sketching the whole table directly (bit-equal sketches)
    val direct = Tables.events(spark, sf)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("e"))
      .collect().head.getLong(0)
    assert(r("ALL") == direct, "sketch union diverged from the direct sketch")
    // error envelope: lgK=12 → ~1.6% rse; allow 5%
    val exact = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(math.abs(r("ALL") - exact).toDouble / exact < 0.05,
      s"HLL estimate ${r("ALL")} too far from exact $exact")
  }

  test("x34: native generator matches the builtin posexplode chain bit-for-bit") {
    import graft.operators.TextAnalysis
    import graft.functions.TextFns
    val native = TextAnalysis.shingleExplode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // reference form: materialize all windows with builtins, then explode
    val tk = TextFns.tokens(col("text"))
    val builtin = Tables.documents(spark, sf)
      .select(col("doc_id"), tk.as("tk"))
      .where(size(col("tk")) >= 3)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), size(col("tk")) - 3),
        i => concat_ws(" ", element_at(col("tk"), i + 1),
          element_at(col("tk"), i + 2), element_at(col("tk"), i + 3)))))
      .select(col("doc_id"), col("pos").cast("long"), col("col"))
      .orderBy(col("doc_id"), col("pos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(native.length == builtin.length && native.sameElements(builtin))
  }

  test("x34: graft_shingle_terms works as a SQL LATERAL VIEW generator") {
    Tables.documents(spark, sf).createOrReplaceTempView("docs_gen")
    val n = spark.sql(
      """SELECT doc_id, pos, shingle
         FROM (SELECT doc_id, split(trim(lower(text)), '\\s+') AS tk FROM docs_gen)
         LATERAL VIEW graft_shingle_terms(tk, 3) g AS pos, shingle""").count()
    assert(n == graft.operators.TextAnalysis.shingleExplode(spark, sf).count())
  }

  test("x33: physical z-order write clusters both dimensions (data skipping)") {
    // the write-side form: range-partition by the Morton code, sort within
    // partitions; then each output file's min/max footer stats are narrow
    // on BOTH dimensions. Partition spans can straddle one range boundary,
    // so allow 2x the per-file ideal; insertion order gives ~256-wide spans.
    val z = Layout.withZ(spark, sf)
      .repartitionByRange(16, col("z")).sortWithinPartitions(col("z"))
    val spans = z.groupBy(spark_partition_id().as("pid"))
      .agg((max(col("bx")) - min(col("bx"))).as("sx"),
        (max(col("by")) - min(col("by"))).as("sy"))
      .collect()
    assert(spans.nonEmpty)
    val avgSx = spans.map(_.getLong(1)).sum.toDouble / spans.length
    val avgSy = spans.map(_.getLong(2)).sum.toDouble / spans.length
    assert(avgSx <= 128 && avgSy <= 128,
      s"z-order write did not cluster: avg spans $avgSx × $avgSy (insertion order ≈ 255)")
  }
}
