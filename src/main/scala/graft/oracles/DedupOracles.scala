package graft.oracles

/** DuckDB oracle SQL — the dedup/similarity family: exact+near dedup, ANN ladder, substring/winnowing, contamination, clusters, SemDeDup.
  * Split from `SparkEntry` (round 11 housekeeping): the declaration table
  * there stays reviewable; each family object carries only its SQL. All
  * shared snippet builders live in [[OracleDefs]].
  */
object DedupOracles {
  import OracleDefs._

  /** x80/t20: the x6b chain with the tombstones filtered from the final
    * rank — the quantizer TRAINS ON THE FULL CORPUS (frozen at delete
    * time, so doomed vectors legitimately shaped it) and only the rank
    * leg excludes them; hash equality states the dirty-cell rewrite ≡
    * a rebuild from survivors under the frozen quantizer. */
  /** x83/x84: the x6g retraining chain with the x80 tombstone set
    * excluded from the candidate leg (quantizers train on the full
    * corpus — frozen at maintenance time). */
  private lazy val ivfPqDeleteOracleSql: String = ivfPqOracleSqlWhere(
    s"""
              AND NOT (${polyHashSql("CAST(c.vec_id AS VARCHAR)")} % 11 = 0)""")

  /** The dedup-index maintenance fixtures' shared derivations, kept
    * byte-equivalent to `Dedup.idxBucket` / `Dedup.idxDoomed` / t23's
    * salted arrival hash. */
  private def idxBk = s"""${polyHashSql("CAST(doc_id AS VARCHAR)")} % 10"""
  // second/third residues of the SAME hash, not salts — the polynomial
  // hash never wraps mod p for short numeric ids, so a salted rehash is
  // a linear function of the original mod any small modulus (a
  // 'd'-prefixed %5 doomed set was exactly buckets {0,5})
  private def idxDoomedSql =
    s"""${polyHashSql("CAST(doc_id AS VARCHAR)")} % 7 = 3"""
  private def idxArrivalSql =
    s"""(${polyHashSql("CAST(doc_id AS VARCHAR)")} // 10) % 2"""

  /** x86/x88: x61's two-batch keeper set minus the keepers the doomed
    * keys name (a key naming a never-kept duplicate matches no keeper —
    * the structural no-op both engines share). */
  private lazy val dedupIndexDeleteSql: String =
    s"""WITH b AS (SELECT doc_id, ${polyHashSql("text")} AS fp,
          $idxBk AS bk FROM documents),
        prior AS (SELECT min(doc_id) AS doc_id, fp FROM b
                  WHERE bk <= 7 GROUP BY fp),
        fresh AS (SELECT min(doc_id) AS doc_id, fp FROM b WHERE bk >= 8
                  AND fp NOT IN (SELECT fp FROM prior) GROUP BY fp),
        keep AS (SELECT doc_id, fp FROM prior
                 UNION ALL SELECT doc_id, fp FROM fresh)
        SELECT doc_id, fp FROM keep
        WHERE NOT ($idxDoomedSql)
        ORDER BY doc_id""".stripMargin

  /** x87: stored keepers (two layers, buckets ≤5 / 6–7) survive the
    * delete keys; inserts (≥8, net of same-batch cancels) are admitted
    * iff their fingerprint is absent from the POST-delete set. */
  private lazy val dedupIndexUpsertSql: String =
    s"""WITH b AS (SELECT doc_id, ${polyHashSql("text")} AS fp,
          $idxBk AS bk, $idxDoomedSql AS doomed FROM documents),
        prior AS (SELECT min(doc_id) AS doc_id, fp FROM b
                  WHERE bk <= 5 GROUP BY fp),
        mid AS (SELECT min(doc_id) AS doc_id, fp FROM b WHERE bk IN (6, 7)
                AND fp NOT IN (SELECT fp FROM prior) GROUP BY fp),
        stored AS (SELECT doc_id, fp FROM prior
                   UNION ALL SELECT doc_id, fp FROM mid),
        surv AS (SELECT doc_id, fp FROM stored
                 WHERE doc_id NOT IN (SELECT doc_id FROM b WHERE doomed)),
        insk AS (SELECT min(doc_id) AS doc_id, fp FROM b
                 WHERE bk >= 8 AND NOT doomed
                   AND fp NOT IN (SELECT fp FROM surv) GROUP BY fp)
        SELECT doc_id, fp FROM surv
        UNION ALL SELECT doc_id, fp FROM insk
        ORDER BY doc_id""".stripMargin

  /** x89/x90: the near-dup triple index's upsert, recomputed
    * monolithically. Stored keepers are the ≤7 batch's exact-collapse
    * keepers (within a batch near-dup pairs BOTH enter — the t14
    * contract) minus the doomed keys; an insert (≥8, not doomed) is
    * admitted iff its fingerprint is absent from the surviving keepers
    * AND it is not within rounded Jaccard 0.8 of any SURVIVING keeper —
    * near-ness to a deleted keeper no longer suppresses. The nf-filter
    * order vs keeper selection is immaterial: same fp ⇒ same text ⇒
    * same shingle set ⇒ same near verdict (t14's oracle shape). */
  private lazy val nearDedupUpsertSql: String =
    s"""WITH $jaccardPairsCte,
        b AS (SELECT doc_id, ${polyHashSql("text")} AS fp,
          $idxBk AS bk, $idxDoomedSql AS doomed FROM documents),
        pk AS (SELECT min(doc_id) AS doc_id, fp FROM b
               WHERE bk <= 7 GROUP BY fp),
        pks AS (SELECT doc_id, fp FROM pk
                WHERE NOT ($idxDoomedSql)),
        nf AS (SELECT DISTINCT x.doc_id
               FROM b x JOIN pairs p ON (p.id1 = x.doc_id OR p.id2 = x.doc_id)
               JOIN pks ON (CASE WHEN p.id1 = x.doc_id THEN p.id2
                                 ELSE p.id1 END) = pks.doc_id
               WHERE x.bk >= 8 AND NOT x.doomed),
        fk AS (SELECT min(doc_id) AS doc_id, fp FROM b
               WHERE bk >= 8 AND NOT doomed
                 AND fp NOT IN (SELECT fp FROM pks) GROUP BY fp)
        SELECT doc_id, fp FROM pks
        UNION ALL
        SELECT doc_id, fp FROM fk WHERE doc_id NOT IN (SELECT doc_id FROM nf)
        ORDER BY doc_id""".stripMargin

  /** x91/t25: x58's probe with both sides restricted to survivors of
    * the delete keys. */
  private lazy val spanUpsertSql: String =
    s"""WITH $winnowSpansSql,
        b AS (SELECT doc_id, $idxBk AS bk, $idxDoomedSql AS doomed
              FROM documents),
        priorh AS (SELECT DISTINCT sp.h FROM sp
                   JOIN b ON b.doc_id = sp.doc_id
                   WHERE b.bk <= 7 AND NOT b.doomed),
        newsp AS (SELECT sp.doc_id, sp.h FROM sp
                  JOIN b ON b.doc_id = sp.doc_id
                  WHERE b.bk >= 8 AND NOT b.doomed)
        SELECT n.doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_spans,
          CAST(SUM(CASE WHEN p.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_hit_spans,
          CAST(SUM(CASE WHEN p.h IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS hit_ppm
        FROM newsp n LEFT JOIN priorh p ON p.h = n.h
        GROUP BY n.doc_id ORDER BY n.doc_id""".stripMargin

  /** t24: x89's near-dup fold replayed batch-by-batch — the t23 state
    * chain with a near leg per batch. Batch A's inserts check exact-fp
    * and near-J against the post-delete stored keepers (s0d); batch B's
    * against s1d = stored survivors ∪ batch-A admits, minus batch-B
    * deletes — so a batch-B insert near a batch-A ADMIT is dropped,
    * while one near a keeper deleted in EITHER batch is admitted. */
  private lazy val nearDedupStreamSql: String =
    s"""WITH $jaccardPairsCte,
        b AS (SELECT doc_id, ${polyHashSql("text")} AS fp,
          $idxBk AS bk, $idxDoomedSql AS doomed,
          $idxArrivalSql AS h FROM documents),
        pk AS (SELECT min(doc_id) AS doc_id, fp FROM b
               WHERE bk <= 7 GROUP BY fp),
        s0d AS (SELECT doc_id, fp FROM pk WHERE doc_id NOT IN
                (SELECT doc_id FROM b WHERE doomed AND h = 0)),
        nfa AS (SELECT DISTINCT x.doc_id
                FROM b x JOIN pairs p ON (p.id1 = x.doc_id OR p.id2 = x.doc_id)
                JOIN s0d ON (CASE WHEN p.id1 = x.doc_id THEN p.id2
                                  ELSE p.id1 END) = s0d.doc_id
                WHERE x.bk >= 8 AND x.h = 0 AND NOT x.doomed),
        keepa AS (SELECT doc_id, fp FROM (
                  SELECT min(doc_id) AS doc_id, fp FROM b
                  WHERE bk >= 8 AND h = 0 AND NOT doomed
                    AND fp NOT IN (SELECT fp FROM s0d) GROUP BY fp)
                  WHERE doc_id NOT IN (SELECT doc_id FROM nfa)),
        s1d AS (SELECT doc_id, fp FROM (
                SELECT doc_id, fp FROM s0d
                UNION ALL SELECT doc_id, fp FROM keepa)
                WHERE doc_id NOT IN
                (SELECT doc_id FROM b WHERE doomed AND h = 1)),
        nfb AS (SELECT DISTINCT x.doc_id
                FROM b x JOIN pairs p ON (p.id1 = x.doc_id OR p.id2 = x.doc_id)
                JOIN s1d ON (CASE WHEN p.id1 = x.doc_id THEN p.id2
                                  ELSE p.id1 END) = s1d.doc_id
                WHERE x.bk >= 8 AND x.h = 1 AND NOT x.doomed),
        keepb AS (SELECT doc_id, fp FROM (
                  SELECT min(doc_id) AS doc_id, fp FROM b
                  WHERE bk >= 8 AND h = 1 AND NOT doomed
                    AND fp NOT IN (SELECT fp FROM s1d) GROUP BY fp)
                  WHERE doc_id NOT IN (SELECT doc_id FROM nfb))
        SELECT doc_id, fp FROM s1d
        UNION ALL SELECT doc_id, fp FROM keepb
        ORDER BY doc_id""".stripMargin

  /** t23: the x87 fold replayed batch-by-batch over the salted arrival
    * split — state s0 (stored layers) → delete/admit batch A (h=0) → s1
    * → delete/admit batch B (h=1). Admission probes the state AS OF the
    * batch, which is exactly where this diverges from the one-shot
    * upsert (an insert rejected against a keeper deleted only in the
    * LATER batch stays dropped). */
  private lazy val dedupIndexStreamSql: String =
    s"""WITH b AS (SELECT doc_id, ${polyHashSql("text")} AS fp,
          $idxBk AS bk, $idxDoomedSql AS doomed,
          $idxArrivalSql AS h FROM documents),
        prior AS (SELECT min(doc_id) AS doc_id, fp FROM b
                  WHERE bk <= 5 GROUP BY fp),
        mid AS (SELECT min(doc_id) AS doc_id, fp FROM b WHERE bk IN (6, 7)
                AND fp NOT IN (SELECT fp FROM prior) GROUP BY fp),
        s0 AS (SELECT doc_id, fp FROM prior
               UNION ALL SELECT doc_id, fp FROM mid),
        s0d AS (SELECT doc_id, fp FROM s0 WHERE doc_id NOT IN
                (SELECT doc_id FROM b WHERE doomed AND h = 0)),
        insa AS (SELECT min(doc_id) AS doc_id, fp FROM b
                 WHERE bk >= 8 AND h = 0 AND NOT doomed
                   AND fp NOT IN (SELECT fp FROM s0d) GROUP BY fp),
        s1 AS (SELECT doc_id, fp FROM s0d
               UNION ALL SELECT doc_id, fp FROM insa),
        s1d AS (SELECT doc_id, fp FROM s1 WHERE doc_id NOT IN
                (SELECT doc_id FROM b WHERE doomed AND h = 1)),
        insb AS (SELECT min(doc_id) AS doc_id, fp FROM b
                 WHERE bk >= 8 AND h = 1 AND NOT doomed
                   AND fp NOT IN (SELECT fp FROM s1d) GROUP BY fp)
        SELECT doc_id, fp FROM s1d
        UNION ALL SELECT doc_id, fp FROM insb
        ORDER BY doc_id""".stripMargin

  /** x94: the single-pass multi-artifact orchestrator's conjunction
    * oracle — each artifact's queryable form recomputed monolithically
    * over the same final corpus (live = NOT doomed: stored ≤7 survivors ∪
    * admitted ≥8 inserts net of same-batch cancels), unioned into the
    * normalized (artifact, k1, v1, v2, v3, d1) frame the engine emits.
    * The legs reuse the per-artifact oracle bodies: exact = the
    * single-layer x86/x87 fold, near_fp = x89's (pks ∪ fk∖nf — the
    * nf-vs-keeper order immateriality note there applies), span = x91's
    * probe, bm25 = x20's monolithic scoring over the live corpus
    * (x82's argument), agg = the direct per-source rollup. */
  /** The shared shell of the x94/t26 conjunction oracles: corpus, span,
    * bm25, agg and (round 16) the embedding legs' order-free parts are
    * identical between the one-shot and streamed forms (same-batch
    * cancels only — a doc's I and D share its arrival batch by
    * construction; stats arithmetic commutes; the layered ANN index's
    * final state is the survivor set whatever the batch count, x83/x84's
    * convergence); only the admission-probing exact, near and SemDeDup
    * legs differ, passed in per form. The `ann` leg replays the full x6g
    * retraining chain (both quantizers retrained in SQL) with the doomed
    * residue excluded from the CANDIDATE set — x83's oracle with this
    * fixture's tombstones; the `semantic` legs are x92's / t27's
    * NOT-EXISTS chains spliced in under `sem`-prefixed CTE names. */
  private def multiArtifactShellSql(extraCtes: String, exactBody: String,
                                    nearBody: String, semCtes: String,
                                    semBody: String,
                                    policyLeg: String = ""): String =
    s"""WITH RECURSIVE $jaccardPairsCte,
        $winnowSpansSql,
        $pqChainSql,
        $ivfChainSql,
        ${ivfPqCandExactCtes(s"""
              AND NOT (${polyHashSql("CAST(c.vec_id AS VARCHAR)")} % 7 = 3)""")},
        xb AS (SELECT doc_id, source, ${polyHashSql("text")} AS fp,
          CAST(length(text) AS BIGINT) AS len, $idxBk AS bk,
          $idxDoomedSql AS doomed, $idxArrivalSql AS h FROM documents),
        xpk AS (SELECT min(doc_id) AS doc_id, fp FROM xb WHERE bk <= 7
                GROUP BY fp),
        sprh AS (SELECT DISTINCT sp.h FROM sp JOIN xb ON xb.doc_id = sp.doc_id
                 WHERE xb.bk <= 7 AND NOT xb.doomed),
        spn AS (SELECT sp.doc_id, sp.h FROM sp JOIN xb ON xb.doc_id = sp.doc_id
                WHERE xb.bk >= 8 AND NOT xb.doomed),
        spleg AS (SELECT n.doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
            CAST(SUM(CASE WHEN p.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS n_hit,
            CAST(SUM(CASE WHEN p.h IS NOT NULL THEN 1 ELSE 0 END) * 1000000
              // COUNT(*) AS BIGINT) AS hit_ppm
          FROM spn n LEFT JOIN sprh p ON p.h = n.h GROUP BY n.doc_id),
        clpairs AS (SELECT p.id1, p.id2 FROM pairs p
          JOIN xb a ON a.doc_id = p.id1 JOIN xb b ON b.doc_id = p.id2
          WHERE NOT a.doomed AND NOT b.doomed),
        cledges AS (SELECT id1 AS src, id2 AS dst FROM clpairs
                    UNION ALL SELECT id2, id1 FROM clpairs),
        clreach(id, r) AS (
          SELECT doc_id, doc_id FROM xb WHERE NOT doomed
          UNION
          SELECT e.src, clreach.r FROM cledges e JOIN clreach ON e.dst = clreach.id),
        $semCtes,
        $extraCtes
        SELECT 'corpus' AS artifact, CAST(doc_id AS VARCHAR) AS k1,
          fp AS v1, len AS v2, CAST(NULL AS BIGINT) AS v3,
          CAST(NULL AS DOUBLE) AS d1
        FROM xb WHERE NOT doomed
        UNION ALL
        SELECT 'exact', CAST(doc_id AS VARCHAR), fp, NULL, NULL, NULL
        FROM ($exactBody)
        UNION ALL
        SELECT 'near_fp', CAST(doc_id AS VARCHAR), fp, NULL, NULL, NULL
        FROM ($nearBody)
        UNION ALL
        SELECT 'span', CAST(doc_id AS VARCHAR), n_spans, n_hit, hit_ppm, NULL
        FROM spleg
        UNION ALL
        SELECT 'bm25', CAST(doc_id AS VARCHAR), tf_spark, tf_join, tf_window,
          bm25
        FROM (${bm25TopKSqlOver(s" WHERE NOT ($idxDoomedSql)")})
        UNION ALL
        SELECT 'agg', source, CAST(count(*) AS BIGINT),
          CAST(coalesce(sum(len($toks)), 0) AS BIGINT), NULL, NULL
        FROM documents WHERE NOT ($idxDoomedSql) GROUP BY source
        UNION ALL
        SELECT 'semantic', CAST(vec_id AS VARCHAR), CAST(cell AS BIGINT),
          NULL, NULL, NULL
        FROM ($semBody)
        UNION ALL
        SELECT 'ann', CAST(vec_id AS VARCHAR), l2_dist, NULL, NULL, NULL
        FROM (SELECT vec_id, l2_dist FROM exact
              ORDER BY l2_dist, vec_id LIMIT 10)
        UNION ALL
        SELECT 'cluster', CAST(id AS VARCHAR), min(r), NULL, NULL, NULL
        FROM clreach GROUP BY id$policyLeg
        ORDER BY 1, 2""".stripMargin

  /** The x96/t29 sweep-outcome rows as oracle CONSTANTS: below-bar
    * consults fire nowhere, at-bar consults fire on all seven swept
    * artifacts, the span index's mid-epoch consult stays below its bar
    * (its epoch fold is x97's). An engine policy that deviates breaks
    * the hash. */
  private def policyLegSql(belowCol: String): String =
    s"""
        UNION ALL
        SELECT 'policy', name, CAST($belowCol AS BIGINT), CAST(f AS BIGINT),
          CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
        FROM (VALUES ('ann', 0, 1), ('cluster_edges', 0, 1),
          ('cluster_labels', 0, 1), ('corpus', 0, 1), ('exact', 0, 1),
          ('near_fp', 0, 1), ('near_out', 0, 1), ('near_pfx', 0, 1),
          ('near_sh', 0, 1), ('sem', 0, 1), ('sem_out', 0, 1))
          p(name, b, f)
        UNION ALL
        SELECT 'policy', 'span', CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
          CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)"""

  /** x94's one-shot SemDeDup leg — x92's oracle chain, `sem`-prefixed:
    * prior keeps select with doomed vectors as greedy blockers, doomed
    * keeps leave, fresh vectors (net of cancels) admit against SURVIVING
    * keeps only. */
  private def semOneShotCtes: String =
    s"""sav AS MATERIALIZED (
          SELECT a.cell, a.vec_id, e.embedding,
            ${polyHashSql("CAST(e.vec_id AS VARCHAR)")} % 10 AS bkt,
            ${polyHashSql("CAST(e.vec_id AS VARCHAR)")} % 7 = 3 AS doomed,
            (${polyHashSql("CAST(e.vec_id AS VARCHAR)")} // 10) % 2 AS sh2
          FROM asg a JOIN embeddings e USING (vec_id)),
        spr AS (SELECT * FROM sav WHERE bkt <= 7),
        spk AS MATERIALIZED (
          SELECT p.cell, p.vec_id, p.embedding, p.doomed, p.sh2 FROM spr p
          WHERE NOT EXISTS (
            SELECT 1 FROM spr q WHERE q.cell = p.cell AND q.vec_id < p.vec_id
              AND round(${cosineD("q.embedding", "p.embedding")}, 6) >= 0.4)),
        spks AS (SELECT cell, vec_id, embedding FROM spk WHERE NOT doomed),
        sfr AS (SELECT * FROM sav WHERE bkt >= 8 AND NOT doomed),
        sfk AS (
          SELECT f.cell, f.vec_id FROM sfr f
          WHERE NOT EXISTS (
            SELECT 1 FROM sfr g WHERE g.cell = f.cell AND g.vec_id < f.vec_id
              AND round(${cosineD("g.embedding", "f.embedding")}, 6) >= 0.4)
          AND NOT EXISTS (
            SELECT 1 FROM spks WHERE spks.cell = f.cell
              AND round(${cosineD("spks.embedding", "f.embedding")}, 6) >= 0.4))"""

  private def semOneShotBody: String =
    """SELECT vec_id, cell FROM spks
              UNION ALL SELECT vec_id, cell FROM sfk"""

  /** t26's streamed SemDeDup leg — t27's per-batch chain, `sem`-prefixed:
    * each arrival half deletes its doomed keys, then admits its fresh
    * vectors against the batch itself (lower-id greedy) and the CURRENT
    * kept set. */
  private def semStreamCtes: String =
    s"""$semOneShotCtes,
        ss0d AS (SELECT cell, vec_id, embedding FROM spk
                 WHERE NOT (doomed AND sh2 = 0)),
        sfra AS (SELECT * FROM sfr WHERE sh2 = 0),
        skeepa AS MATERIALIZED (
          SELECT f.cell, f.vec_id, f.embedding FROM sfra f
          WHERE NOT EXISTS (
            SELECT 1 FROM sfra g WHERE g.cell = f.cell AND g.vec_id < f.vec_id
              AND round(${cosineD("g.embedding", "f.embedding")}, 6) >= 0.4)
          AND NOT EXISTS (
            SELECT 1 FROM ss0d WHERE ss0d.cell = f.cell
              AND round(${cosineD("ss0d.embedding", "f.embedding")}, 6) >= 0.4)),
        ss1 AS (SELECT cell, vec_id, embedding FROM ss0d
                UNION ALL SELECT cell, vec_id, embedding FROM skeepa),
        ss1d AS (SELECT * FROM ss1 WHERE vec_id NOT IN
                 (SELECT vec_id FROM sav WHERE doomed AND sh2 = 1)),
        sfrb AS (SELECT * FROM sfr WHERE sh2 = 1),
        skeepb AS (
          SELECT f.cell, f.vec_id FROM sfrb f
          WHERE NOT EXISTS (
            SELECT 1 FROM sfrb g WHERE g.cell = f.cell AND g.vec_id < f.vec_id
              AND round(${cosineD("g.embedding", "f.embedding")}, 6) >= 0.4)
          AND NOT EXISTS (
            SELECT 1 FROM ss1d WHERE ss1d.cell = f.cell
              AND round(${cosineD("ss1d.embedding", "f.embedding")}, 6) >= 0.4))"""

  private def semStreamBody: String =
    """SELECT vec_id, cell FROM ss1d
              UNION ALL SELECT vec_id, cell FROM skeepb"""

  private lazy val multiArtifactSql: String = multiArtifactOneShotSql("")

  /** x96's oracle = x94's conjunction + the sweep-outcome constants
    * (below consults all 0, at-bar fires all 1). */
  private lazy val multiArtifactCompactSql: String =
    multiArtifactOneShotSql(policyLegSql("b"))

  private def multiArtifactOneShotSql(policyLeg: String): String =
    multiArtifactShellSql(
    extraCtes = s"""xpks AS (SELECT doc_id, fp FROM xpk WHERE doc_id NOT IN
                 (SELECT doc_id FROM xb WHERE doomed)),
        xins AS (SELECT min(doc_id) AS doc_id, fp FROM xb
                 WHERE bk >= 8 AND NOT doomed
                   AND fp NOT IN (SELECT fp FROM xpks) GROUP BY fp),
        nnf AS (SELECT DISTINCT x.doc_id
                FROM xb x JOIN pairs p ON (p.id1 = x.doc_id OR p.id2 = x.doc_id)
                JOIN xpks ON (CASE WHEN p.id1 = x.doc_id THEN p.id2
                                   ELSE p.id1 END) = xpks.doc_id
                WHERE x.bk >= 8 AND NOT x.doomed)""",
    exactBody = """SELECT doc_id, fp FROM xpks
              UNION ALL SELECT doc_id, fp FROM xins""",
    nearBody = """SELECT doc_id, fp FROM xpks
              UNION ALL
              SELECT doc_id, fp FROM xins
              WHERE doc_id NOT IN (SELECT doc_id FROM nnf)""",
    semCtes = semOneShotCtes,
    semBody = semOneShotBody,
    policyLeg = policyLeg)

  /** t26: the orchestrator's fold replayed batch-by-batch over the
    * idxArrival split — the exact leg is t23's state chain (single
    * stored layer), the near leg t24's, while corpus/span/bm25/agg carry
    * x94's legs verbatim (order-free, see [[multiArtifactShellSql]]). */
  private lazy val multiArtifactStreamSql: String = multiArtifactStreamedSql("")

  /** t29's oracle = t26's per-batch conjunction + the sweep-outcome
    * constants (no below phase → NULL, at-bar fires all 1). */
  private lazy val multiArtifactMaintainSql: String =
    multiArtifactStreamedSql(policyLegSql("NULL"))

  private def multiArtifactStreamedSql(policyLeg: String): String =
    multiArtifactShellSql(
    extraCtes = s"""es0d AS (SELECT doc_id, fp FROM xpk WHERE doc_id NOT IN
                 (SELECT doc_id FROM xb WHERE doomed AND h = 0)),
        insa AS (SELECT min(doc_id) AS doc_id, fp FROM xb
                 WHERE bk >= 8 AND h = 0 AND NOT doomed
                   AND fp NOT IN (SELECT fp FROM es0d) GROUP BY fp),
        es1 AS (SELECT doc_id, fp FROM es0d
                UNION ALL SELECT doc_id, fp FROM insa),
        es1d AS (SELECT doc_id, fp FROM es1 WHERE doc_id NOT IN
                 (SELECT doc_id FROM xb WHERE doomed AND h = 1)),
        insb AS (SELECT min(doc_id) AS doc_id, fp FROM xb
                 WHERE bk >= 8 AND h = 1 AND NOT doomed
                   AND fp NOT IN (SELECT fp FROM es1d) GROUP BY fp),
        ns0d AS (SELECT doc_id, fp FROM xpk WHERE doc_id NOT IN
                 (SELECT doc_id FROM xb WHERE doomed AND h = 0)),
        nfa AS (SELECT DISTINCT x.doc_id
                FROM xb x JOIN pairs p ON (p.id1 = x.doc_id OR p.id2 = x.doc_id)
                JOIN ns0d ON (CASE WHEN p.id1 = x.doc_id THEN p.id2
                                   ELSE p.id1 END) = ns0d.doc_id
                WHERE x.bk >= 8 AND x.h = 0 AND NOT x.doomed),
        keepa AS (SELECT doc_id, fp FROM (
                  SELECT min(doc_id) AS doc_id, fp FROM xb
                  WHERE bk >= 8 AND h = 0 AND NOT doomed
                    AND fp NOT IN (SELECT fp FROM ns0d) GROUP BY fp)
                  WHERE doc_id NOT IN (SELECT doc_id FROM nfa)),
        ns1d AS (SELECT doc_id, fp FROM (
                 SELECT doc_id, fp FROM ns0d
                 UNION ALL SELECT doc_id, fp FROM keepa)
                 WHERE doc_id NOT IN
                 (SELECT doc_id FROM xb WHERE doomed AND h = 1)),
        nfb AS (SELECT DISTINCT x.doc_id
                FROM xb x JOIN pairs p ON (p.id1 = x.doc_id OR p.id2 = x.doc_id)
                JOIN ns1d ON (CASE WHEN p.id1 = x.doc_id THEN p.id2
                                   ELSE p.id1 END) = ns1d.doc_id
                WHERE x.bk >= 8 AND x.h = 1 AND NOT x.doomed),
        keepb AS (SELECT doc_id, fp FROM (
                  SELECT min(doc_id) AS doc_id, fp FROM xb
                  WHERE bk >= 8 AND h = 1 AND NOT doomed
                    AND fp NOT IN (SELECT fp FROM ns1d) GROUP BY fp)
                  WHERE doc_id NOT IN (SELECT doc_id FROM nfb))""",
    exactBody = """SELECT doc_id, fp FROM es1d
              UNION ALL SELECT doc_id, fp FROM insb""",
    nearBody = """SELECT doc_id, fp FROM ns1d
              UNION ALL SELECT doc_id, fp FROM keepb""",
    semCtes = semStreamCtes,
    semBody = semStreamBody,
    policyLeg = policyLeg)

  /** t27: x92's fold replayed batch-by-batch over the vec_id-hash
    * arrival split — the SemDeDup twin of the t23/t24 state chains.
    * Prior keeps select with doomed vectors as greedy blockers (live at
    * build time); each batch deletes its doomed keys, then admits its
    * fresh vectors against BOTH the batch itself (lower-id greedy, any
    * batch member — `semanticDedupBatch.dropInBatch`'s rule) and the
    * CURRENT kept set — so batch B drops against batch A's admits, and a
    * vector inside a key deleted in EITHER batch is readmitted. */
  private lazy val semanticStreamSql: String =
    s"""WITH $ivfChainSql,
        av AS MATERIALIZED (
          SELECT a.cell, a.vec_id, e.embedding,
            ${polyHashSql("CAST(e.vec_id AS VARCHAR)")} % 10 AS bkt,
            ${polyHashSql("CAST(e.vec_id AS VARCHAR)")} % 7 = 3 AS doomed,
            (${polyHashSql("CAST(e.vec_id AS VARCHAR)")} // 10) % 2 AS h
          FROM asg a JOIN embeddings e USING (vec_id)),
        pr AS (SELECT * FROM av WHERE bkt <= 7),
        pk AS MATERIALIZED (
          SELECT p.cell, p.vec_id, p.embedding, p.doomed, p.h FROM pr p
          WHERE NOT EXISTS (
            SELECT 1 FROM pr q WHERE q.cell = p.cell AND q.vec_id < p.vec_id
              AND round(${cosineD("q.embedding", "p.embedding")}, 6) >= 0.4)),
        s0d AS (SELECT cell, vec_id, embedding FROM pk
                WHERE NOT (doomed AND h = 0)),
        fra AS (SELECT * FROM av WHERE bkt >= 8 AND NOT doomed AND h = 0),
        keepa AS MATERIALIZED (
          SELECT f.cell, f.vec_id, f.embedding FROM fra f
          WHERE NOT EXISTS (
            SELECT 1 FROM fra g WHERE g.cell = f.cell AND g.vec_id < f.vec_id
              AND round(${cosineD("g.embedding", "f.embedding")}, 6) >= 0.4)
          AND NOT EXISTS (
            SELECT 1 FROM s0d WHERE s0d.cell = f.cell
              AND round(${cosineD("s0d.embedding", "f.embedding")}, 6) >= 0.4)),
        s1 AS (SELECT cell, vec_id, embedding FROM s0d
               UNION ALL SELECT cell, vec_id, embedding FROM keepa),
        s1d AS (SELECT * FROM s1 WHERE vec_id NOT IN
                (SELECT vec_id FROM av WHERE doomed AND h = 1)),
        frb AS (SELECT * FROM av WHERE bkt >= 8 AND NOT doomed AND h = 1),
        keepb AS (
          SELECT f.cell, f.vec_id FROM frb f
          WHERE NOT EXISTS (
            SELECT 1 FROM frb g WHERE g.cell = f.cell AND g.vec_id < f.vec_id
              AND round(${cosineD("g.embedding", "f.embedding")}, 6) >= 0.4)
          AND NOT EXISTS (
            SELECT 1 FROM s1d WHERE s1d.cell = f.cell
              AND round(${cosineD("s1d.embedding", "f.embedding")}, 6) >= 0.4))
        SELECT vec_id, CAST(cell AS BIGINT) AS cell
        FROM (SELECT vec_id, cell FROM s1d
              UNION ALL SELECT vec_id, cell FROM keepb)
        ORDER BY vec_id""".stripMargin

  /** x98/t30: x13's CC chain over the LIVE docs only. */
  private lazy val clusterLiveCcSql: String =
    s"""WITH RECURSIVE
        docs AS (SELECT doc_id, $toks AS tk FROM documents
                 WHERE NOT ($idxDoomedSql)),
        sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
               FROM docs, unnest(generate_series(1, len(tk) - 2)) AS t(i)
               WHERE len(tk) >= 3),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
                  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
        pairs AS (SELECT id1, id2
                  FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
                  WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.8),
        edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                  UNION ALL SELECT id2, id1 FROM pairs),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM docs
          UNION
          SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
        ORDER BY doc_id""".stripMargin

  private lazy val annDeleteTopKSql: String =
    s"""WITH $ivfChainSql
        SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
          round(${cosineD("e.embedding", "qe")}, 6) AS cosine
        FROM embeddings e
        JOIN asg ON asg.vec_id = e.vec_id
        JOIN probed p ON p.cell = asg.cell, qv
        WHERE e.vec_id <> 0
          AND NOT (${polyHashSql("CAST(e.vec_id AS VARCHAR)")} % 11 = 0)
        ORDER BY cosine DESC, e.vec_id LIMIT 10"""

  private[graft] def sql: Map[String, String] = Map(
    "x1_dedup_exact" ->
      """SELECT min(doc_id) AS keeper_id, count(*) AS n_copies,
         CAST(length(text) AS BIGINT) AS text_len
         FROM documents GROUP BY text ORDER BY keeper_id""",
    "x4_ngram_jaccard" ->
      s"""WITH $jaccardPairsCte
          SELECT id1, id2, jaccard FROM pairs ORDER BY id1, id2""",
    // x70: x4's pair set rolled up by canonicalized source pair
    "x70_source_dup_matrix" ->
      s"""WITH $jaccardPairsCte
          SELECT least(d1.source, d2.source) AS source_a,
            greatest(d1.source, d2.source) AS source_b,
            count(*) AS n_pairs
          FROM pairs p JOIN documents d1 ON p.id1 = d1.doc_id
          JOIN documents d2 ON p.id2 = d2.doc_id
          GROUP BY 1, 2 ORDER BY 1, 2""",
    // shares x4's pair CTE: leakage = the near-dup pairs whose docs landed
    // in different x14 splits
    "x36_split_leakage" ->
      s"""WITH $jaccardPairsCte,
          spl AS (SELECT doc_id,
            CASE WHEN ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 <= 7 THEN 'train'
                 WHEN ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 = 8 THEN 'val'
                 ELSE 'test' END AS split FROM documents)
          SELECT p.id1, p.id2, s1.split AS split1, s2.split AS split2, p.jaccard
          FROM pairs p JOIN spl s1 ON p.id1 = s1.doc_id
          JOIN spl s2 ON p.id2 = s2.doc_id
          WHERE s1.split <> s2.split
          ORDER BY p.id1, p.id2""",
    "x5_embed_neardup" ->
      s"""SELECT a.vec_id AS id1, b.vec_id AS id2,
          round(${cosineD("a.embedding", "b.embedding")}, 6) AS cosine
          FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE round(${cosineD("a.embedding", "b.embedding")}, 6) >= 0.4
          ORDER BY id1, id2""",
    // x55: integer micro-cosine vs each candidate threshold; distinct
    // docs via endpoint union
    "x55_threshold_curve" ->
      s"""WITH p AS MATERIALIZED (
            SELECT a.vec_id AS id1, b.vec_id AS id2,
              CAST(floor(round(${cosineD("a.embedding", "b.embedding")}, 6)
                * 1000000 + 0.5) AS BIGINT) AS cppm
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id),
          t AS (SELECT unnest([300000, 400000, 500000, 600000, 700000,
                              800000, 900000]) AS threshold_ppm),
          m AS (SELECT threshold_ppm, id1, id2 FROM p, t
                WHERE cppm >= threshold_ppm),
          c AS (SELECT threshold_ppm, COUNT(*) AS n_pairs FROM m GROUP BY 1),
          d AS (SELECT threshold_ppm, COUNT(DISTINCT id) AS n_docs FROM
              (SELECT threshold_ppm, id1 AS id FROM m
               UNION ALL SELECT threshold_ppm, id2 FROM m) GROUP BY 1)
          SELECT CAST(t.threshold_ppm AS BIGINT) AS threshold_ppm,
            CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs,
            CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs_affected
          FROM t LEFT JOIN c USING (threshold_ppm)
          LEFT JOIN d USING (threshold_ppm)
          ORDER BY threshold_ppm""",
    "x6_ann_cosine_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
          SELECT vec_id, CAST(label AS BIGINT) AS label,
          round(${cosineD("embedding", "qe")}, 6) AS cosine
          FROM embeddings, q WHERE vec_id <> 0
          ORDER BY cosine DESC, vec_id LIMIT 10""",
    // x6c: the engine computes micro-scaled integer SUM vectors per label
    // (the count divisor cancels in cosine), so every value up to the
    // final IEEE double ops is exact integer math DuckDB reproduces
    // bit-for-bit; the half-up rounding is the explicit floor form on
    // both sides.
    "x6c_centroid_matrix" ->
      """WITH u AS (SELECT label, g.i AS i,
              CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS v
            FROM embeddings, range(1, 65) g(i)),
          s AS (SELECT label, i, CAST(sum(v) AS BIGINT) AS sv
                FROM u GROUP BY label, i),
          nrm AS (SELECT label, CAST(sum(sv * sv) AS BIGINT) AS sq
                  FROM s GROUP BY label),
          p AS (SELECT a.label AS l1, b.label AS l2,
                  CAST(sum(a.sv * b.sv) AS BIGINT) AS dot
                FROM s a JOIN s b ON a.i = b.i AND a.label < b.label
                GROUP BY 1, 2)
          SELECT CAST(p.l1 AS BIGINT) AS l1, CAST(p.l2 AS BIGINT) AS l2,
            floor(CAST(p.dot AS DOUBLE)
              / (sqrt(CAST(n1.sq AS DOUBLE)) * sqrt(CAST(n2.sq AS DOUBLE)))
              * 1000000 + 0.5) / 1000000 AS cosine
          FROM p JOIN nrm n1 ON p.l1 = n1.label JOIN nrm n2 ON p.l2 = n2.label
          ORDER BY l1, l2""",
    // x6e: per-dimension min/max are order-independent aggregates and the
    // affine map is written with identical association on both engines,
    // so the quantized codes — and the integer L1 ranking — hash-match
    "x6e_sq8_topk" ->
      """WITH s AS (SELECT g.i AS d,
              min(CAST(embedding[g.i] AS DOUBLE)) AS mn,
              max(CAST(embedding[g.i] AS DOUBLE)) AS mx
            FROM embeddings, range(1, 65) g(i) GROUP BY 1),
          c AS (SELECT e.vec_id, g.i AS d,
              CAST(floor((CAST(e.embedding[g.i] AS DOUBLE) - s.mn)
                / (CASE WHEN s.mx = s.mn THEN 1 ELSE s.mx - s.mn END)
                * 255 + 0.5) AS BIGINT) AS code
            FROM embeddings e, range(1, 65) g(i) JOIN s ON s.d = g.i),
          q AS (SELECT d, code AS qc FROM c WHERE vec_id = 0),
          dist AS (SELECT c.vec_id, SUM(ABS(c.code - q.qc)) AS l1
                   FROM c JOIN q USING (d) WHERE c.vec_id <> 0 GROUP BY 1)
          SELECT vec_id, CAST(l1 AS BIGINT) AS l1_dist
          FROM dist ORDER BY l1, vec_id LIMIT 10""",
    // x6f: the PQ training is ALL integer (fixed-point + nonnegative
    // shift, floor division, ties to the lowest cid), so the oracle
    // RETRAINS the same codebooks from the same seeds — three unrolled
    // Lloyd rounds — then replays both query stages: ADC shortlist-50
    // (probe raw vs codeword table), exact integer-L2 rerank to top-10.
    // The encode step (codes) runs against the post-round-3 codebooks,
    // exactly like the engine's.
    "x6f_pq_topk" ->
      s"""WITH $pqChainSql,
          short AS MATERIALIZED (
            SELECT c.vec_id FROM codes c
            JOIN cdq ON cdq.s = c.s AND cdq.cid = c.cid
            WHERE c.vec_id <> 0
            GROUP BY 1 ORDER BY SUM(cdq.d), c.vec_id LIMIT 50),
          exact AS (
            SELECT u.vec_id, CAST(SUM((u.v - q.v) * (u.v - q.v)) AS BIGINT) AS l2_dist
            FROM pqu u JOIN pqu q ON q.vec_id = 0 AND q.s = u.s AND q.j = u.j
            JOIN short ON short.vec_id = u.vec_id
            GROUP BY 1)
          SELECT vec_id, l2_dist FROM exact
          ORDER BY l2_dist, vec_id LIMIT 10""",
    // x6b: full retraining oracle — the IVF coarse quantizer is k-means
    // with IEEE-pinned assignment (sequential double dot) and exact
    // integer centroid updates, so DuckDB retrains it bit-for-bit (the
    // x6f discipline applied to the coarse level), then replays the
    // probe: nprobe=4 cells by centroid cosine, exact cosine rank over
    // the vectors assigned to those cells.
    "x6b_ann_ivf" ->
      s"""WITH $ivfChainSql
          SELECT e.vec_id, CAST(e.label AS BIGINT) AS label,
            round(${cosineD("e.embedding", "qe")}, 6) AS cosine
          FROM embeddings e
          JOIN asg ON asg.vec_id = e.vec_id
          JOIN probed p ON p.cell = asg.cell, qv
          WHERE e.vec_id <> 0
          ORDER BY cosine DESC, e.vec_id LIMIT 10""",
    "x80_ann_delete_topk" -> annDeleteTopKSql,
    // t20: the same rewrite applied as a two-micro-batch STREAM — the
    // oracle is x80's verbatim, so the green hash states streaming
    // micro-batch swaps converge to the one-shot dirty-cell rewrite
    "t20_stream_index_delete" -> annDeleteTopKSql,
    // x69: SemDeDup — the coarse quantizer retrains via the x6b chain
    // (bit-identical cells), then the within-cell pair test restates x5's
    // 6-dp rounded cosine; every output column is an integer count
    "x69_semantic_dedup" ->
      s"""WITH $ivfChainSql,
          av AS MATERIALIZED (
            SELECT a.cell, a.vec_id, e.embedding
            FROM asg a JOIN embeddings e USING (vec_id)),
          prs AS MATERIALIZED (
            SELECT a.cell, a.vec_id AS id1, b.vec_id AS id2
            FROM av a JOIN av b ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(${cosineD("a.embedding", "b.embedding")}, 6) >= 0.4),
          dp AS (SELECT cell, count(*) AS dup_pairs FROM prs GROUP BY 1),
          dr AS (SELECT cell, count(DISTINCT id2) AS n_dropped FROM prs GROUP BY 1),
          st AS (SELECT cell, count(*) AS n_vecs FROM asg GROUP BY 1)
          SELECT CAST(st.cell AS BIGINT) AS cell,
            CAST(st.n_vecs AS BIGINT) AS n_vecs,
            CAST(coalesce(dp.dup_pairs, 0) AS BIGINT) AS dup_pairs,
            CAST(coalesce(dr.n_dropped, 0) AS BIGINT) AS n_dropped,
            CAST(st.n_vecs - coalesce(dr.n_dropped, 0) AS BIGINT) AS n_kept
          FROM st LEFT JOIN dp ON dp.cell = st.cell
          LEFT JOIN dr ON dr.cell = st.cell
          ORDER BY cell""",
    // x69b: exact all-pairs baseline (x5's verified form) joined to the
    // retrained cell assignment; recall as exact integer ppm
    "x69b_semantic_blocking_recall" ->
      s"""WITH $ivfChainSql,
          np AS MATERIALIZED (
            SELECT a.vec_id AS id1, b.vec_id AS id2
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE a.vec_id < 65536 AND b.vec_id < 65536
              AND round(${cosineD("a.embedding", "b.embedding")}, 6) >= 0.4),
          j AS (SELECT n1.cell AS c1, n2.cell AS c2
                FROM np JOIN asg n1 ON n1.vec_id = np.id1
                JOIN asg n2 ON n2.vec_id = np.id2)
          SELECT CAST(count(*) AS BIGINT) AS n_pairs,
            CAST(sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) AS BIGINT) AS n_same_cell,
            CAST(sum(CASE WHEN c1 = c2 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS recall_ppm
          FROM j""",
    // x72: retrained assignment + t14's bucket split; shares and drift in
    // exact ppm against each half's own total
    "x72_cell_drift" ->
      s"""WITH $ivfChainSql,
          av AS (SELECT a.cell, a.vec_id,
              ${polyHashSql("CAST(a.vec_id AS VARCHAR)")} % 10 AS bkt
            FROM asg a),
          agg AS (SELECT cell,
              CAST(count(CASE WHEN bkt <= 7 THEN 1 END) AS BIGINT) AS n_prior,
              CAST(count(CASE WHEN bkt >= 8 THEN 1 END) AS BIGINT) AS n_fresh
            FROM av GROUP BY 1),
          tot AS (SELECT sum(n_prior) AS tp, sum(n_fresh) AS tf FROM agg)
          SELECT CAST(cell AS BIGINT) AS cell, n_prior, n_fresh,
            CAST(n_prior * 1000000 // tot.tp AS BIGINT) AS prior_ppm,
            CAST(n_fresh * 1000000 // tot.tf AS BIGINT) AS fresh_ppm,
            CAST(abs(n_prior * 1000000 // tot.tp - n_fresh * 1000000 // tot.tf) AS BIGINT) AS drift_ppm
          FROM agg, tot ORDER BY cell""",
    // x6g: both trained quantizers retrained in-oracle (coarse cells via
    // the IVF chain, PQ codebooks via the x6f chain), then the composed
    // replay: cell-pruned candidates, ADC shortlist-50 against the
    // stored codes, exact integer-L2 rerank to top-10.
    "x6g_ivfpq_topk" -> ivfPqOracleSql,
    // x6h: the same probe over an ivfPqAppend-grown index — the frozen
    // quantizers make the grown index bit-identical to the rebuild
    // (spec-pinned), so x6g's oracle carries over verbatim
    "x6h_ivfpq_append_topk" -> ivfPqOracleSql,
    // x83/x84: the grown index maintained under deletes (x83) / one
    // upsert pass (x84) — tombstones leave the CANDIDATE set before the
    // ADC shortlist (the index no longer holds them), quantizers stay
    // frozen on the full corpus; both paths converge to the same
    // survivor index, so one oracle serves both
    "x83_ivfpq_layer_delete" -> ivfPqDeleteOracleSql,
    "x84_ivfpq_upsert" -> ivfPqDeleteOracleSql,
    // t22: x84's upsert as a micro-batch STREAM — same final survivor
    // index, so the same oracle; the green hash states streaming
    // micro-batch upserts converge to the one-shot pass
    "t22_stream_index_upsert" -> ivfPqDeleteOracleSql,
    // x85: x83's history followed by a LAYER COMPACTION — still the same
    // survivor set (compaction is pure re-layout under frozen
    // quantizers), so the same oracle: the green hash states compaction
    // is probe-invariant
    "x85_ivfpq_compact" -> ivfPqDeleteOracleSql,
    // x86: the maintained (fp, keeper doc_id) index recomputed
    // monolithically from the surviving corpus — x61's two-batch keepers
    // minus the salted doomed set; keys naming never-kept duplicates are
    // no-ops in both engines. The hash states dirty-layer rewrite ≡ full
    // rebuild, i.e. the fold maintains index ≡ fingerprints(live corpus).
    "x86_dedup_index_delete" -> dedupIndexDeleteSql,
    // x88: x86's history followed by a layer compaction — same rows
    // (pure re-layout, VersionedLayers.compactVersioned), so x86's oracle
    // verbatim
    "x88_dedup_index_compact" -> dedupIndexDeleteSql,
    // x95: x88 through the threshold POLICY (compactIfNeeded) — a fired
    // policy runs the same shared core, so the same oracle again; the
    // fires-iff-threshold contract itself is spec-pinned
    "x95_compact_policy" -> dedupIndexDeleteSql,
    // x94: the single-pass multi-artifact orchestrator — the conjunction
    // of the per-artifact recomputes over the same final corpus, one
    // hash; round 16 the frame gains the SemDeDup leg (x92's chain) and
    // the layered-ANN leg (the x6g retraining chain with the doomed
    // residue out of the candidate set — x83's oracle on this fixture's
    // tombstones)
    "x94_multi_artifact_upsert" -> multiArtifactSql,
    // t26: the orchestrator inside foreachBatch — the admission-probing
    // exact/near legs restate the per-batch fold over the arrival split
    // (t23/t24's contracts); the order-free legs carry x94's verbatim
    "t26_stream_multi_artifact_upsert" -> multiArtifactStreamSql,
    // t29: t26 followed by the post-stream pipeline-wide policy sweep —
    // pure re-layout on the swept artifacts, span epochs untouched, so
    // t26's per-batch oracle carries verbatim, plus the sweep-outcome
    // constants (the policy sits under the hash, not just a require)
    "t29_stream_maintain_compact" -> multiArtifactMaintainSql,
    // x96: x94 through the pipeline-wide threshold-policy compaction
    // sweep — pure re-layout on every swept artifact, so x94's
    // conjunction oracle carries verbatim, plus the sweep-outcome
    // constants (below-bar consults 0, byte-pressure fires 1, span's
    // mid-epoch consult 0)
    "x96_multi_artifact_compact" -> multiArtifactCompactSql,
    // x87: one upsert pass, delete-first — stored keepers (buckets ≤7 in
    // two layers) minus doomed, then inserts (≥8, net of same-batch
    // cancels) admitted against the POST-delete fingerprint set, so an
    // insert matching a just-deleted keeper is readmitted
    "x87_dedup_index_upsert" -> dedupIndexUpsertSql,
    // t23: the upsert as TWO arrival-ordered micro-batches — the fold is
    // order-sensitive (admission probes the index as-of arrival; drops
    // are permanent), so unlike t20/t22 the oracle restates the
    // per-batch fold over the same deterministic split instead of
    // carrying x87's one-shot SQL
    "t23_stream_dedup_index_upsert" -> dedupIndexStreamSql,
    // x89: the near-dup TRIPLE index under one upsert pass — surviving
    // stored keepers plus inserts that are neither exact (fp) nor near
    // (rounded J ≥ 0.8) matches of a SURVIVING keeper; an insert near a
    // DELETED keeper is admitted, witnessing the pfx/sh delete legs
    "x89_neardup_index_upsert" -> nearDedupUpsertSql,
    // x90: x89 through a per-sub-index layer compaction — pure
    // re-layout, so x89's oracle verbatim
    "x90_neardup_index_compact" -> nearDedupUpsertSql,
    // t24: x89's fold as two arrival-ordered micro-batches — order-
    // sensitive like t23 (and doubly so: BOTH the fp probe and the near
    // candidate set evolve), so the oracle restates the per-batch fold;
    // batch B's near check runs against stored survivors PLUS batch A's
    // admits
    "t24_stream_neardup_index_upsert" -> nearDedupStreamSql,
    // x92: t15's retrained NOT-EXISTS chain with the doomed set removed
    // between the phases — prior keeps are selected WITH doomed vectors
    // as greedy blockers (they were live at build time), then doomed
    // keeps leave; fresh vectors (net of cancels) admit against
    // SURVIVING keeps only, so a fresh vector inside a deleted keep's
    // ε-ball is readmitted
    "x92_semantic_index_upsert" ->
      s"""WITH $ivfChainSql,
          av AS MATERIALIZED (
            SELECT a.cell, a.vec_id, e.embedding,
              ${polyHashSql("CAST(e.vec_id AS VARCHAR)")} % 10 AS bkt,
              ${polyHashSql("CAST(e.vec_id AS VARCHAR)")} % 7 = 3 AS doomed
            FROM asg a JOIN embeddings e USING (vec_id)),
          pr AS (SELECT * FROM av WHERE bkt <= 7),
          fr AS (SELECT * FROM av WHERE bkt >= 8 AND NOT doomed),
          pk AS MATERIALIZED (
            SELECT p.cell, p.vec_id, p.embedding, p.doomed FROM pr p
            WHERE NOT EXISTS (
              SELECT 1 FROM pr q WHERE q.cell = p.cell AND q.vec_id < p.vec_id
                AND round(${cosineD("q.embedding", "p.embedding")}, 6) >= 0.4)),
          pks AS (SELECT cell, vec_id, embedding FROM pk WHERE NOT doomed),
          fk AS (
            SELECT f.cell, f.vec_id FROM fr f
            WHERE NOT EXISTS (
              SELECT 1 FROM fr g WHERE g.cell = f.cell AND g.vec_id < f.vec_id
                AND round(${cosineD("g.embedding", "f.embedding")}, 6) >= 0.4)
            AND NOT EXISTS (
              SELECT 1 FROM pks WHERE pks.cell = f.cell
                AND round(${cosineD("pks.embedding", "f.embedding")}, 6) >= 0.4))
          SELECT vec_id, CAST(cell AS BIGINT) AS cell
          FROM (SELECT vec_id, cell FROM pks
                UNION ALL SELECT vec_id, cell FROM fk)
          ORDER BY vec_id""".stripMargin,
    "x6d_batch_topk" ->
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pe
            FROM embeddings WHERE vec_id < 10),
          s AS (SELECT p.probe_id, c.vec_id,
                  round(${cosineD("c.embedding", "p.pe")}, 6) AS cosine
                FROM embeddings c, p WHERE c.vec_id >= 10),
          r AS (SELECT probe_id, vec_id, cosine,
                  CAST(row_number() OVER (PARTITION BY probe_id
                    ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
                FROM s)
          SELECT probe_id, rnk, vec_id, cosine FROM r WHERE rnk <= 5
          ORDER BY probe_id, rnk""",
    "x13_dup_clusters" ->
      s"""WITH RECURSIVE
          docs AS (SELECT doc_id, $toks AS tk FROM documents),
          sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
                 FROM docs, unnest(generate_series(1, len(tk) - 2)) AS t(i)
                 WHERE len(tk) >= 3),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          pairs AS (SELECT id1, id2
                    FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
                    WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.8),
          edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                    UNION ALL SELECT id2, id1 FROM pairs),
          reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
          SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id ORDER BY doc_id""",
    // x98/t30: the maintained cluster assignment — x13's recursive-CTE
    // connected components restricted to the LIVE corpus (stored ≤7
    // survivors ∪ admitted inserts: NOT doomed is exactly that set, the
    // x94-corpus-leg argument). Hash equality states the touched-region
    // recompute (splits from the delete leg, merges/singletons from the
    // insert leg, delta-layer label store) ≡ the from-scratch rebuild.
    // t30 carries the same SQL VERBATIM: the final live graph — and so
    // its components — is batch-split-invariant, and both post-stream
    // compactions (edges re-layout, labels last-writer-wins fold) are
    // view-invariant.
    "x98_cluster_index_upsert" -> clusterLiveCcSql,
    "t30_stream_cluster_index_upsert" -> clusterLiveCcSql,
    "x44_cluster_canonical" ->
      s"""WITH RECURSIVE
          docs AS (SELECT doc_id, $toks AS tk FROM documents),
          sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
                 FROM docs, unnest(generate_series(1, len(tk) - 2)) AS t(i)
                 WHERE len(tk) >= 3),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          pairs AS (SELECT id1, id2
                    FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
                    WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.8),
          edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                    UNION ALL SELECT id2, id1 FROM pairs),
          reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
          labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
          m AS (SELECT l.doc_id, l.cluster_id, d.n_chars
                FROM labels l JOIN documents d USING (doc_id))
          SELECT doc_id, cluster_id,
                 count(*) OVER (PARTITION BY cluster_id) AS n_members,
                 (row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) = 1) AS keep
          FROM m ORDER BY doc_id""",
    // x52: x13's recursive-CTE labels, split assigned by hashing the
    // CLUSTER id — near-dup pairs cannot straddle splits by construction
    "x52_leakfree_split" ->
      s"""WITH RECURSIVE
          docs AS (SELECT doc_id, $toks AS tk FROM documents),
          sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
                 FROM docs, unnest(generate_series(1, len(tk) - 2)) AS t(i)
                 WHERE len(tk) >= 3),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
                    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
          pairs AS (SELECT id1, id2
                    FROM inter JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
                    WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.8),
          edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
                    UNION ALL SELECT id2, id1 FROM pairs),
          reach(id, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
          labels AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
          SELECT doc_id, cluster_id,
                 CASE WHEN ${polyHashSql("CAST(cluster_id AS VARCHAR)")} % 10 <= 7 THEN 'train'
                      WHEN ${polyHashSql("CAST(cluster_id AS VARCHAR)")} % 10 = 8 THEN 'val'
                      ELSE 'test' END AS split
          FROM labels ORDER BY doc_id""",
    // x54: winnowing anchors (min (kh,p) per 16-window of 8-gram
    // hashes — content-defined, alignment-invariant), 64-char span
    // hashes via the x10 portable rolling hash; "repeated across docs"
    // = min(doc)≠max(doc) per hash; per-doc shared-interval union via
    // gaps-and-islands ([[subdupPerDocSql]], shared with x57)
    "x54_substring_dup" ->
      s"""WITH $subdupPerDocSql
          SELECT doc_id, n_spans, n_shared_spans, first_shared_pos,
                 covered_chars, covered_ppm
          FROM perdoc ORDER BY doc_id""",
    // x57: the same per-doc coverage rolled up by source — the
    // which-feed-ships-boilerplate report
    "x57_boilerplate_by_source" ->
      s"""WITH $subdupPerDocSql
          SELECT d.source,
            COUNT(*) AS n_docs,
            CAST(SUM(CASE WHEN perdoc.n_shared_spans > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_docs_affected,
            CAST(SUM(length(d.text)) AS BIGINT) AS total_chars,
            CAST(SUM(perdoc.covered_chars) AS BIGINT) AS covered_chars,
            CAST(SUM(perdoc.covered_chars) * 1000000
              // SUM(length(d.text)) AS BIGINT) AS boilerplate_ppm
          FROM perdoc JOIN documents d ON d.doc_id = perdoc.doc_id
          GROUP BY d.source ORDER BY d.source""",
    // x58: new-batch docs (x16's bucket rule) probed span-by-span
    // against the prior corpus's distinct span-hash set
    "x58_substring_contamination" -> contaminationOracleSql,
    // x60: the same probe over an incrementally APPENDED span index —
    // per-doc winnowing is a pure function of the text, so the grown
    // index is row-identical to the rebuild (spec-pinned) and x58's
    // oracle carries over verbatim
    "x60_span_append_probe" -> contaminationOracleSql,
    // x91: x58's probe with BOTH sides restricted to survivors of the
    // delete keys — a retracted document's spans leave the index, so a
    // fresh doc sharing a 64-char passage only with it reports novel
    "x91_span_index_upsert" -> spanUpsertSql,
    // t25: x91's upsert as a micro-batch stream — the span fold is
    // ORDER-INSENSITIVE (span rows are a pure per-doc function; landing
    // never probes the index; cancels stay same-batch), so unlike
    // t23/t24 the streamed state ≡ the one-shot pass and x91's oracle
    // carries over verbatim
    "t25_stream_span_index_upsert" -> spanUpsertSql,
    // x97: x91's history with the stored side landed as TWO epochs and
    // the EPOCH FOLD (all layers → batch=prior, through the threshold
    // policy) run between them — the fold is a pure re-layout whose
    // prior side equals x91's by construction, so the next epoch's probe
    // carries x91's oracle verbatim: the green hash states epoch
    // compaction is probe-invariant for every future epoch
    "x97_span_epoch_compact" -> spanUpsertSql,
    // x56: x54's spans with keep-one-canonical semantics (the
    // (doc_id,p)-min per repeated span hash survives; every other
    // occurrence is cut), islands merged, the doc spliced back together
    // from the gap segments, and the CLEANED text fingerprinted with
    // the portable rolling hash — full string-surgery hash check
    "x56_substring_clean" ->
      s"""WITH $winnowSpansSql,
          keep AS (SELECT h, MIN(struct_pack(d := doc_id, p := p)) AS k
                   FROM sp GROUP BY h HAVING MIN(doc_id) <> MAX(doc_id)),
          sh AS (SELECT s.doc_id, s.p FROM sp s JOIN keep ON keep.h = s.h
                 WHERE NOT (s.doc_id = keep.k.d AND s.p = keep.k.p)),
          isl0 AS (SELECT doc_id, p,
              CASE WHEN p > coalesce(MAX(p + 63) OVER (PARTITION BY doc_id
                ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                -1) THEN 1 ELSE 0 END AS ni
            FROM sh),
          grp AS (SELECT doc_id, p,
              SUM(ni) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM isl0),
          isl AS (SELECT doc_id, MIN(p) AS mn, MAX(p) + 63 AS mx FROM grp
                  GROUP BY doc_id, g),
          seg AS (
            SELECT i.doc_id,
              coalesce(LAG(i.mx + 1) OVER (PARTITION BY i.doc_id ORDER BY i.mn), 1) AS s,
              i.mn - coalesce(LAG(i.mx + 1) OVER (PARTITION BY i.doc_id
                ORDER BY i.mn), 1) AS len
            FROM isl i),
          tails AS (SELECT doc_id, MAX(mx) + 1 AS s, 100000000 AS len
                    FROM isl GROUP BY 1),
          parts AS (SELECT doc_id, s, len FROM seg WHERE len > 0
                    UNION ALL SELECT doc_id, s, len FROM tails),
          clean AS (
            SELECT p.doc_id,
              string_agg(substring(d.text, CAST(p.s AS INT), CAST(p.len AS INT)),
                '' ORDER BY p.s) AS cleaned
            FROM parts p JOIN documents d ON d.doc_id = p.doc_id GROUP BY 1)
          SELECT d.doc_id,
            CAST(length(d.text) AS BIGINT) AS n_chars,
            CAST(length(coalesce(c.cleaned, d.text)) AS BIGINT) AS n_chars_clean,
            ${polyHashSql("coalesce(c.cleaned, d.text)")} AS clean_fp
          FROM documents d
          LEFT JOIN clean c ON c.doc_id = d.doc_id
          ORDER BY d.doc_id""",
    "x16_incremental_dedup" ->
      s"""WITH b AS (SELECT doc_id, text,
            ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 AS h FROM documents),
          newb AS (SELECT doc_id, text FROM b WHERE h >= 8),
          prior AS (SELECT doc_id, text FROM b WHERE h <= 7),
          docs AS (SELECT doc_id, $toks AS tk FROM documents),
          sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
                 FROM docs, unnest(generate_series(1, len(tk) - 2)) AS t(i)
                 WHERE len(tk) >= 3),
          sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS idn, p.doc_id AS idp, count(*) AS i
                    FROM sh a JOIN newb nb ON a.doc_id = nb.doc_id
                    JOIN sh p ON a.s = p.s
                    JOIN prior pr ON p.doc_id = pr.doc_id
                    GROUP BY 1, 2),
          neardup AS (SELECT DISTINCT idn FROM inter
                      JOIN sizes sa ON sa.doc_id = idn JOIN sizes sb ON sb.doc_id = idp
                      WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.8)
          SELECT doc_id, ${polyHashSql("text")} AS fp FROM newb
          WHERE ${polyHashSql("text")} NOT IN (SELECT ${polyHashSql("text")} FROM prior)
            AND doc_id NOT IN (SELECT idn FROM neardup)
          ORDER BY doc_id""",
    // x61: the tag-scoped batch-index dedup — prior batch keeps one doc
    // per text hash; the fresh batch's survivors are min-doc_id keepers of
    // hashes never seen in the prior split (the index stores survivor
    // fingerprints, but survivors cover every distinct prior hash, so the
    // probe set IS the prior split's distinct hashes)
    "x61_dedup_index_probe" ->
      s"""WITH b AS (SELECT doc_id, ${polyHashSql("text")} AS fp,
            ${polyHashSql("CAST(doc_id AS VARCHAR)")} % 10 AS bk FROM documents)
          SELECT min(doc_id) AS doc_id, fp
          FROM b WHERE bk >= 8
            AND fp NOT IN (SELECT fp FROM b WHERE bk <= 7)
          GROUP BY fp ORDER BY doc_id""",
    // x62: content-defined chunking — a boundary falls BEFORE every
    // position (p >= 2) whose 8-gram rolling hash is divisible by 64;
    // chunks are the segments between successive boundaries (whole doc if
    // none), hashed with the same portable polyhash, rolled up per source
    "x62_cdc_chunk_stats" ->
      s"""WITH pos AS MATERIALIZED (
            SELECT doc_id, text,
              unnest(generate_series(2, length(text) - 7)) AS p
            FROM documents WHERE length(text) >= 9),
          bnd AS (SELECT doc_id, p FROM pos
                  WHERE ${polyHashSql("substring(text, p, 8)")} % 64 = 0),
          alb AS (SELECT doc_id, 1 AS p FROM documents WHERE length(text) > 0
                  UNION ALL SELECT doc_id, p FROM bnd
                  UNION ALL SELECT doc_id, length(text) + 1 FROM documents
                  WHERE length(text) > 0),
          ch AS (SELECT doc_id, p AS a,
                   lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS b
                 FROM alb),
          chunks AS MATERIALIZED (
            SELECT c.doc_id, b - a AS len,
              ${polyHashSql("substring(d.text, a, b - a)")} AS h
            FROM ch c JOIN documents d ON d.doc_id = c.doc_id
            WHERE b IS NOT NULL)
          SELECT d.source, count(*) AS n_chunks,
            count(DISTINCT h) AS n_unique_chunks,
            CAST(sum(len) AS BIGINT) AS total_chars,
            (count(*) - count(DISTINCT h)) * 1000000 // count(*) AS dup_ppm
          FROM chunks c JOIN documents d ON d.doc_id = c.doc_id
          GROUP BY d.source ORDER BY d.source""",
    "x17_contamination" -> x17Oracle,
    // identical by construction: the Bloom pre-filter has no false
    // negatives, so x17b must reproduce x17's rows exactly
    "x17b_contamination_bloom" -> x17Oracle,
    // x93: the same decision served through the PERSISTED append-folded
    // Bloom index — the prefilter admits supersets (uncapped layer
    // blooms, merged by union) and the exact join decides, so x17's
    // oracle carries over verbatim
    "x93_bloom_index_decontam" -> x17Oracle,
    // t28: the Bloom index grown by a micro-batch STREAM — union is
    // order- and split-free and deletes are structurally impossible, so
    // x17's oracle STILL carries verbatim (the t25-class theorem for the
    // mergeable-sketch artifact)
    "t28_stream_bloom_decontam" -> x17Oracle,
    // t27: the SemDeDup index upsert as a stream — order-sensitive like
    // t23/t24 (admission probes keeps as-of arrival), so the oracle
    // restates the per-batch fold over the vec_id-hash arrival split
    "t27_stream_semantic_index_upsert" -> semanticStreamSql,
  )
}
